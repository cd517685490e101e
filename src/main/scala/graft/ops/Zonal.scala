package graft.ops

import graft.core.{DuckD, Gates, Geo, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zonal statistics family (ExtractRasterStatistics, Centroid, Medoid,
  * LayerFootprint — /root/reference/src/tools/math_stat_analysis/
  * extract_statistics.rs:322-396 et al.), over PIP-zone membership.
  *
  * Exactness discipline: mean/stddev are computed from exact integer
  * partial sums (sum, sum-of-squares, count — order-independent), with one
  * final double expression written identically on both engines, so the
  * DuckDB oracle matches bit-for-bit with no tolerance. The reference's
  * stddev is sample (n−1) — extract_statistics.rs:388.
  */
object Zonal extends Gates {

  /** Final-select stats over pre-aggregated (s=sum, q=sumsq, n, mn, mx). */
  val statsSelect: Seq[String] = Seq(
    "cast(s as double) / cast(n as double) AS mean",
    "mn AS vmin",
    "mx AS vmax",
    "mx - mn AS vrange",
    "sqrt(greatest(0.0e0, (cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / (cast(n as double) - 1.0e0))) AS stddev",
    "s AS total",
    "n AS n_vals")

  private val statsAgg =
    "cast(sum(n_chars) as bigint) AS s, cast(sum(n_chars * n_chars) as bigint) AS q, " +
      "count(*) AS n, min(n_chars) AS mn, max(n_chars) AS mx"

  private def membershipWithVals(s: SparkSession, dir: String): DataFrame =
    // Carry the value columns THROUGH the membership broadcast join instead
    // of re-joining pages on doc_id afterwards (guide §2.4 "remove shuffles
    // outright" / avoid recomputed subtrees): the old shape scanned pages
    // twice and planned a second join whose only purpose was re-attaching
    // columns the first scan already had. Row multiset identical (the
    // doc_id join was 1:1); at fixture scale the rows also stream in the
    // same single-scan order, so even order-sensitive double sums
    // (centroid) are bit-identical.
    PipJoin.zoneMembership(s, Tables.pages(s, dir),
      keep = Seq("n_chars", "lon", "lat"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zonal_statistics" -> ((s, dir) => {
      membershipWithVals(s, dir)
        .groupBy("fid")
        .agg(expr("cast(sum(n_chars) as bigint)").as("s"),
             expr("cast(sum(n_chars * n_chars) as bigint)").as("q"),
             count(lit(1)).as("n"),
             min("n_chars").as("mn"), max("n_chars").as("mx"))
        .selectExpr("fid" +: statsSelect: _*)
    }),

    // Per-zone centroid (centroid_vector.rs): mean x/y, rounded to stabilise
    // the order-dependent double sum.
    "centroid_vector" -> ((s, dir) => {
      membershipWithVals(s, dir)
        .groupBy("fid")
        .agg(expr("round(sum(lon) / cast(count(*) as double), 6)").as("cx"),
             expr("round(sum(lat) / cast(count(*) as double), 6)").as("cy"))
    }),

    // Medoid (medoid.rs:245-260): the member nearest the zone centroid;
    // two-phase agg, ties broken by doc_id (reference scan order).
    "medoid" -> ((s, dir) => {
      val m = membershipWithVals(s, dir)
      val cent = m.groupBy("fid")
        .agg(expr("round(sum(lon) / cast(count(*) as double), 6)").as("cx"),
             expr("round(sum(lat) / cast(count(*) as double), 6)").as("cy"))
      import org.apache.spark.sql.expressions.Window
      val d2 = m.join(cent, "fid")
        .withColumn("d2", expr("(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)"))
      d2.withColumn("rn", row_number().over(
          Window.partitionBy("fid").orderBy(col("d2"), col("doc_id"))))
        .filter(col("rn") === 1)
        .select("fid", "doc_id", "d2")
    }),

    // LayerFootprint / MinimumBoundingEnvelope per zone.
    "zone_footprint" -> ((s, dir) => {
      membershipWithVals(s, dir)
        .groupBy("fid")
        .agg(min("lon").as("min_x"), max("lon").as("max_x"),
             min("lat").as("min_y"), max("lat").as("max_y"))
    })
  )

  /** Per-zone membership as an oracle-side FROM clause: union over fids of
    * winding-parity filtered pages. */
  private def zonePagesSql(cols: String): String =
    Zones.fids.map { f =>
      s"SELECT $f AS fid, $cols FROM pages WHERE ${Zones.insideZoneSql(f, "lon", "lat")}"
    }.mkString("(", " UNION ALL ", ")")

  def oracles: Map[String, String] = Map(
    "zonal_statistics" ->
      (s"${Geo.pagesWith(DuckD)} SELECT fid, ${statsSelect.mkString(", ")} FROM " +
        s"(SELECT fid, $statsAgg FROM ${zonePagesSql("doc_id, n_chars")} zp GROUP BY fid) t ORDER BY fid"),
    "centroid_vector" ->
      (s"${Geo.pagesWith(DuckD)} SELECT fid, round(sum(lon) / cast(count(*) as double), 6) AS cx, " +
        s"round(sum(lat) / cast(count(*) as double), 6) AS cy FROM " +
        s"${zonePagesSql("lon, lat")} zp GROUP BY fid ORDER BY fid"),
    "medoid" ->
      (s"${Geo.pagesWith(DuckD)}, zp AS (SELECT * FROM ${zonePagesSql("doc_id, lon, lat")} t), " +
        s"cent AS (SELECT fid, round(sum(lon) / cast(count(*) as double), 6) AS cx, " +
        s"round(sum(lat) / cast(count(*) as double), 6) AS cy FROM zp GROUP BY fid), " +
        s"d AS (SELECT zp.fid, doc_id, (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) AS d2 " +
        s"FROM zp JOIN cent ON zp.fid = cent.fid), " +
        s"r AS (SELECT fid, doc_id, d2, row_number() OVER (PARTITION BY fid ORDER BY d2, doc_id) AS rn FROM d) " +
        s"SELECT fid, doc_id, d2 FROM r WHERE rn = 1 ORDER BY fid"),
    "zone_footprint" ->
      (s"${Geo.pagesWith(DuckD)} SELECT fid, min(lon) AS min_x, max(lon) AS max_x, " +
        s"min(lat) AS min_y, max(lat) AS max_y FROM " +
        s"${zonePagesSql("lon, lat")} zp GROUP BY fid ORDER BY fid")
  )
}
