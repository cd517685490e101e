package graft

import graft.core.Gates
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query derives the `pages` corpus from `documents`
  * through the SAME generated SQL on both engines (core/Dialect.scala), so
  * the DuckDB comparison is bit-exact by construction. */
object SparkEntry {

  /** Flagship: geocode → cell assign → point-in-polygon join → zonal agg,
    * on sf0.001. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pip_zonal_count")(spark, "/root/testdata/sf0.001")

  /** The gate registry: every gate module, each named once. A gate is
    * declared in exactly one module, query and oracle side by side. */
  private[graft] val gates: Seq[Gates] = Seq(
    Spatial, Zonal, Raster, Relational, Knn, Text, Dedup, Ann, Focal,
    VectorOps, RasterClip, Terrain, Stats, Distance, Extras, Extras2,
    FocalMore, Filters3, Stretch, ShapeMetrics, Hydro, Tin, KnnShellGate,
    Extras3, Terrain2, Extras4, Grids, Lidar, Hydro2, Color, Streams2,
    HydroFill, Cost, TerrainIdx, Lidar2, Extras5, Hydro3, Morph2, Extras6,
    Horizon, Hydro4, Hydro5, Dinf, Dinf2, Terrain3, Breach, Multiscale,
    Direction, Hydro6, Singles, Lidar3, Terrain4, Polygonize, Stochastic,
    CellMath, ParamSweeps, ParamSweeps2, ParamSweeps3, Sibson, Pipeline,
    HardOracles)

  /** Every gated query by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = gates.flatMap(_.queries.keys)
    val twice = names.diff(names.distinct).distinct.sorted
    require(twice.isEmpty, s"gates declared in more than one module: ${twice.mkString(", ")}")
    gates.flatMap(_.queries).toMap
  }

  /** DuckDB oracle SQL per gate, built on demand: about 2.5 M characters
    * that only the Verify dump reads. */
  def oracleSql: Map[String, String] = gates.flatMap(_.oracles).toMap

  /** The one row-order policy. A gate returns a relation, a multiset of
    * rows in no promised order; a sink whose order a person or a file
    * shows (Verify's parquet dump, the CLI's `show`) orders it here: one
    * partition, sorted within it by every column, so equal results come
    * out in the same row order. No range shuffle. */
  def ordered(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(
      df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
}
