package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Vector grid generators with POLYGON output (gis_analysis/
  * create_hexagonal_vector_grid.rs:270-330 horizontal orientation,
  * create_rectangular_vector_grid.rs) over the pages extent, width 10.
  *
  * Hex layout matches expr/HexBin exactly (same half-width/size/height
  * constants); rec_num (FID) reproduces the reference's row-major record
  * order via the closed form over alternating row widths. The 6 vertex
  * offsets centre + size·(cos θᵢ, sin θᵢ), θᵢ = 60°·(i+0.5), are
  * PRECOMPUTED LITERALS (both engines share the same doubles; the closing
  * 7th vertex is the first repeated, omitted from the flat output).
  *
  * Plan: one 1-row extent aggregate + a generator explode — no data
  * shuffle at any scale (output is the lattice, not the points).
  */
object Grids extends Gates {

  private val w = 10.0
  private val hw = graft.expr.HexBin.hw(w)
  private val size = graft.expr.HexBin.size(w)
  private val tqh = graft.expr.HexBin.tqh(w)
  private val qh = graft.expr.HexBin.quarterH(w)

  // vertex offsets in the reference's (reversed) emission order i = 6..0,
  // first 6 distinct: θ = 60°·(i+0.5)
  private val hexOffs: Seq[(Double, Double)] =
    (6 to 1 by -1).map { i =>
      val a = 2.0 * (math.Pi / 6.0) * (i + 0.5)
      (size * math.cos(a), size * math.sin(a))
    }

  private def gen(d: Dialect, lo: String, hiExcl: String, as: String): String = d match {
    case SparkD => s"explode(sequence($lo, ($hiExcl) - 1)) AS $as"
    case DuckD  => s"unnest(range($lo, $hiExcl)) AS $as"
  }

  private def hexSql(d: Dialect): String = {
    import Lit.{d => L}
    val ext = "ext AS (SELECT min(lon) AS minx, min(lat) AS miny, " +
      "max(lon) AS maxx, max(lat) AS maxy FROM pages)"
    val nrows = s"cast(ceil((maxy - miny) / ${L(tqh)}) as bigint)"
    val colsE = s"cast(ceil((maxx - minx) / ${L(w)}) as bigint)" // even rows
    val colsO = s"cast(ceil(((maxx - minx) + ${L(hw)}) / ${L(w)}) as bigint)" // odd rows
    val colsR = s"cast(ceil(((maxx - minx) + ${L(hw)} * cast(hex_row % 2 as double)) / ${L(w)}) as bigint)"
    val cx = s"(minx + ${L(hw)} - ${L(hw)} * cast(hex_row % 2 as double)) + cast(hex_col as double) * ${L(w)}"
    val cy = s"(maxy - ${L(qh)}) - cast(hex_row as double) * ${L(tqh)}"
    // row-major FID over alternating row widths
    val fid = s"${d.idiv("(hex_row + 1)", "2")} * ($colsE) + " +
      s"${d.idiv("hex_row", "2")} * ($colsO) + hex_col + 1"
    val verts = hexOffs.zipWithIndex.flatMap { case ((dx, dy), i) =>
      Seq(s"cx + ${L(dx)} AS v${i + 1}x", s"cy + ${L(dy)} AS v${i + 1}y")
    }.mkString(", ")
    s"${Geo.pagesWith(d)}, $ext, " +
      s"r AS (SELECT ${gen(d, "0", nrows, "hex_row")}, minx, maxx, maxy FROM ext), " +
      s"rc AS (SELECT hex_row, ${gen(d, "0", colsR, "hex_col")}, minx, maxx, maxy FROM r), " +
      s"cc AS (SELECT cast($fid as bigint) AS fid, hex_row, hex_col, $cx AS cx, $cy AS cy FROM rc) " +
      s"SELECT fid, hex_row, hex_col, cx, cy, $verts FROM cc ORDER BY fid"
  }

  private def rectSql(d: Dialect): String = {
    import Lit.{d => L}
    val ext = "ext AS (SELECT min(lon) AS minx, min(lat) AS miny, " +
      "max(lon) AS maxx, max(lat) AS maxy FROM pages)"
    val nrows = s"cast(ceil((maxy - miny) / ${L(w)}) as bigint)"
    val ncols = s"cast(ceil((maxx - minx) / ${L(w)}) as bigint)"
    val x0 = s"minx + cast(gcol as double) * ${L(w)}"
    val y0 = s"miny + cast(grow as double) * ${L(w)}"
    s"${Geo.pagesWith(d)}, $ext, " +
      s"r AS (SELECT ${gen(d, "0", nrows, "grow")}, minx, miny, maxx FROM ext), " +
      s"rc AS (SELECT grow, ${gen(d, "0", ncols, "gcol")}, minx, miny FROM r) " +
      s"SELECT grow * 100000 + gcol + 1 AS fid, grow, gcol, " +
      s"$x0 AS x0, $y0 AS y0, ($x0) + ${L(w)} AS x1, ($y0) + ${L(w)} AS y1 " +
      "FROM rc ORDER BY fid"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "create_hexagonal_vector_grid" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(hexSql(SparkD))
    }),
    "create_rectangular_vector_grid" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(rectSql(SparkD))
    })
  )

  def oracles: Map[String, String] = Map(
    "create_hexagonal_vector_grid" -> hexSql(DuckD),
    "create_rectangular_vector_grid" -> rectSql(DuckD)
  )
}
