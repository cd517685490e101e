package graft.ops

import graft.core.{DuckD, Gates, Geo, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The point-layer gates of the flagship path: PIP zonal count (broadcast
  * and shuffled), clip/erase against a zone, LidarTile tile assignment and
  * the Morton cell encoder. */
object Spatial extends Gates {

  /** 5°×5° LidarTile-style tile key (lidar_tile.rs:45-82): anchored floor
    * division; tiles with < 3 points dropped (min_points). Same string is
    * valid in both dialects. */
  private def tileX = "cast(floor((lon - -180.0e0) / 5.0e0) as bigint)"
  private def tileY = "cast(floor((lat - -90.0e0) / 5.0e0) as bigint)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // North-star #1: PIP join + zonal count over all fixture zones.
    "pip_zonal_count" -> ((s, dir) => {
      val m = PipJoin.zoneMembership(s, Tables.pages(s, dir))
      m.groupBy("fid")
        .agg(count(lit(1)).as("n_pages"),
             min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("fid")
    }),

    // Same result via the documented degraded path: shuffled salted cell
    // join (no broadcast) — proves the over-broadcast fallback is real.
    "pip_zonal_count_shuffled" -> ((s, dir) => {
      val m = PipJoin.zoneMembershipShuffled(s, Tables.pages(s, dir))
      m.groupBy("fid")
        .agg(count(lit(1)).as("n_pages"),
             min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("fid")
    }),

    // Clip (semi-join) to the zone with a hole — carries `text` through so
    // the hash compare certifies byte-identity (input_hint invariant).
    "clip_points_to_polygon" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
      val keep = PipJoin.zoneMembership(s, p).filter(col("fid") === 3)
        .select("doc_id")
      p.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "url", "text").orderBy("doc_id")
    }),

    // Erase (anti-join) — complement of clip (erase_polygon_from_raster.rs).
    "erase_polygon_from_points" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
      val keep = PipJoin.zoneMembership(s, p).filter(col("fid") === 3)
        .select("doc_id")
      p.join(keep, Seq("doc_id"), "left_anti")
        .select("doc_id", "url", "text").orderBy("doc_id")
    }),

    // LidarTile: tile assignment + min_points filter.
    "tile_assignment" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("tile_x", expr(tileX)).withColumn("tile_y", expr(tileY))
        .groupBy("tile_x", "tile_y").agg(count(lit(1)).as("n_points"))
        .filter(col("n_points") >= 3)
        .orderBy("tile_x", "tile_y")
    }),

    // Batched H3/S2-style Morton cell encoder (custom codegen expression);
    // oracle recomputes the interleave bit-by-bit in plain SQL.
    "cell_encode" -> ((s, dir) => {
      PipJoin.withCell(Tables.pages(s, dir), 10)
        .select(col("doc_id"), col("ix"), col("iy"), col("cell"))
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = {
    val d = DuckD
    val perZone = Zones.fids.map { f =>
      s"SELECT $f AS fid, count(*) AS n_pages, min(doc_id) AS min_doc, " +
        s"max(doc_id) AS max_doc FROM pages WHERE ${Zones.insideZoneSql(f, "lon", "lat")}"
    }.mkString(" UNION ALL ")
    val zonalCount = s"${Geo.pagesWith(d)} SELECT * FROM ($perZone) t WHERE n_pages > 0 ORDER BY fid"
    Map(
      "pip_zonal_count" -> zonalCount,
      "pip_zonal_count_shuffled" -> zonalCount,
      "clip_points_to_polygon" ->
        (s"${Geo.pagesWith(d)} SELECT doc_id, url, text FROM pages " +
          s"WHERE ${Zones.insideZoneSql(3, "lon", "lat")} ORDER BY doc_id"),
      "erase_polygon_from_points" ->
        (s"${Geo.pagesWith(d)} SELECT doc_id, url, text FROM pages " +
          s"WHERE NOT ${Zones.insideZoneSql(3, "lon", "lat")} ORDER BY doc_id"),
      "tile_assignment" ->
        (s"${Geo.pagesWith(d)} SELECT $tileX AS tile_x, $tileY AS tile_y, " +
          s"count(*) AS n_points FROM pages GROUP BY 1, 2 " +
          s"HAVING count(*) >= 3 ORDER BY tile_x, tile_y"),
      "cell_encode" -> {
        val ix = Geo.ix(d, "lon", 10); val iy = Geo.iy(d, "lat", 10)
        s"${Geo.pagesWith(d)} SELECT doc_id, $ix AS ix, $iy AS iy, " +
          s"${graft.expr.Morton.encodeSql(d, s"($ix)", s"($iy)", 10)} AS cell " +
          s"FROM pages ORDER BY doc_id"
      }
    )
  }
}
