package graft.ops

import graft.core.{DuckD, Gates, Geo, Lit, Zones}
import graft.expr.PointInPolygon
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ClipRasterToPolygon (clip_raster_to_polygon.rs:126-300) over the res-6
  * density grid, cloning the reference's exact scan semantics:
  *
  *   - per polygon part, only the part-bbox scan window is tested, with
  *     EXCLUSIVE upper bounds (`for r in starting_row..ending_row`,
  *     :266-282 — cells on the bbox max row/col are never tested; the
  *     off-by-one is replicated faithfully, SURVEY §7.4 item 1);
  *   - the test point is the cell CENTRE (grid→world transform
  *     raster/mod.rs:495-516 adapted to our south-up grid);
  *   - hull parts add, hole parts erase (:231-300).
  *
  * Window bounds are computed once from the static zone data (same Scala
  * doubles feed the Spark plan and the generated oracle SQL).
  */
object RasterClip extends Gates {
  private val res = 6
  private val n = 1 << res
  private val rx = 360.0 / n
  private val ry = 180.0 / n
  private val west = -180.0
  private val south = -90.0

  private val cxExpr = s"${Lit.d(west)} + ${Lit.d(rx)} / 2.0e0 + ix * ${Lit.d(rx)}"
  private val cyExpr = s"${Lit.d(south)} + ${Lit.d(ry)} / 2.0e0 + iy * ${Lit.d(ry)}"

  /** exclusive scan window of a part bbox (clip_raster_to_polygon.rs:246-266) */
  private def window(r: graft.core.Ring): (Long, Long, Long, Long) = (
    math.floor((r.minX - west) / rx).toLong,
    math.floor((r.maxX - west) / rx).toLong, // exclusive
    math.floor((r.minY - south) / ry).toLong,
    math.floor((r.maxY - south) / ry).toLong) // exclusive

  private val clipFid = 3 // the zone with a hole

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clip_raster_to_polygon" -> ((s, dir) => {
      import s.implicits._
      val g = Raster.density(s, dir, res)
        .withColumn("cx", expr(cxExpr)).withColumn("cy", expr(cyExpr))
      val parts = Zones.worldZones.filter(_.fid == clipFid).map { r =>
        val (ix0, ix1, iy0, iy1) = window(r)
        (r.ringId, r.isHole, ix0, ix1, iy0, iy1, r.xs, r.ys)
      }.toDF("ring_id", "is_hole", "ix0", "ix1", "iy0", "iy1", "xs", "ys")
      g.join(broadcast(parts),
          col("ix") >= col("ix0") && col("ix") < col("ix1") &&
          col("iy") >= col("iy0") && col("iy") < col("iy1"))
        .filter(PointInPolygon.pip(col("cx"), col("cy"), col("xs"), col("ys")))
        .groupBy("ix", "iy", "v")
        .agg(max(when(!col("is_hole"), 1).otherwise(0)).as("in_hull"),
             max(when(col("is_hole"), 1).otherwise(0)).as("in_hole"))
        .filter(col("in_hull") === 1 && col("in_hole") === 0)
        .select("ix", "iy", "v")
        .orderBy("ix", "iy")
    })
  )

  def oracles: Map[String, String] = {
    val d = DuckD
    val g = Geo.densityCte(d, res)
    def partCond(r: graft.core.Ring): String = {
      val (ix0, ix1, iy0, iy1) = window(r)
      s"(ix >= $ix0 AND ix < $ix1 AND iy >= $iy0 AND iy < $iy1 AND " +
        s"${Zones.pipSql(r, s"($cxExpr)", s"($cyExpr)")})"
    }
    val rs = Zones.worldZones.filter(_.fid == clipFid)
    val hulls = rs.filter(!_.isHole).map(partCond).mkString("(", " OR ", ")")
    val holes = rs.filter(_.isHole).map(partCond) match {
      case Nil => "false"
      case hs  => hs.mkString("(", " OR ", ")")
    }
    Map("clip_raster_to_polygon" ->
      (s"${Geo.pagesWith(d)}, $g " +
        s"SELECT ix, iy, v FROM g WHERE $hulls AND NOT $holes ORDER BY ix, iy"))
  }
}
