package graft.ops

import graft.core.{DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / attribute-table family: JoinTables (join_tables.rs:315-345 —
  * left outer, duplicate-fkey last-wins), MergeVectors (field intersection —
  * attributes.rs:132-166), Reclass (reclass.rs:57-67), Quantiles
  * (quantiles.rs), CrossTabulation, ListUniqueValues,
  * EliminateCoincidentPoints, ExtractRasterValuesAtPoints, plus an events
  * windowed aggregation (batch twin of the streaming pipeline).
  */
object Relational extends Gates {

  /** Quantiles (quantiles.rs:199-262) parameterized by --num_quantiles k:
    * the reference's 10,000-bin histogram CDF. Shared by the gated k=4
    * default and the ParamSweeps2 k=10 point. */
  private[ops] def quantilesK(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val p = Tables.pages(s, dir).select("doc_id", "n_chars")
    val Array((mn, mx, n)) = p
      .agg(expr("cast(min(n_chars) as bigint)"), expr("cast(max(n_chars) as bigint)"), count(lit(1)))
      .as[(Long, Long, Long)].collect()
    // degenerate range (all values equal) → binSize would be 0 and the
    // bin expression divides by zero under ANSI; clamp to ≥1 bin width
    // (everything lands in bin 0, quantile 1) — twin does the same.
    val binSize = math.max(math.ceil((mx - mn).toDouble), 1.0) / 10000.0
    val binExpr = "least(cast(floor(cast(n_chars - " + mn + " as double) / " +
      graft.core.Lit.d(binSize) + ") as bigint), 9999)"
    val hist = p.selectExpr(s"$binExpr AS bin")
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val lut = hist.map { case (b, c) =>
      cum += c
      val cdf = (100.0 * cum.toDouble) / n.toDouble
      var q = math.floor(cdf / (100.0 / k))
      if (q == k.toDouble) q = (k - 1).toDouble
      (b, q.toLong + 1L)
    }.toSeq.toDF("bin0", "bin")
    p.withColumn("bin0", expr(binExpr))
      .join(broadcast(lut), "bin0")
      .select("doc_id", "n_chars", "bin")
  }

  /** Reclass ranges over n_chars (reference assigns f64 class values). */
  private val reclassCase =
    "CASE WHEN n_chars < 100 THEN 1.0e0 WHEN n_chars < 200 THEN 2.0e0 " +
      "WHEN n_chars < 300 THEN 3.0e0 WHEN n_chars < 400 THEN 4.0e0 ELSE 5.0e0 END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JoinTables: left=customer, right=orders keyed by o_custkey (dups);
    // duplicate-fkey last-wins = attributes of the max-o_orderkey row;
    // misses → NULL (left outer). Broadcast-eligible build side.
    "join_tables" -> ((s, dir) => {
      val cust = Tables.table(s, dir, "customer").select("c_custkey", "c_name")
      val lastOrder = Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(expr("max_by(o_totalprice, o_orderkey)").as("last_total"),
             expr("max_by(o_orderdate, o_orderkey)").as("last_date"),
             count(lit(1)).as("n_orders"))
      cust.join(lastOrder, Seq("c_custkey"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
    }),

    // MergeVectors: two layers with different extra fields → union over the
    // schema intersection (fields present in both, matched by name+type).
    "merge_vectors" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val a = docs.filter(col("lang") === "en").select("doc_id", "text", "lang", "source")
      val b = docs.filter(col("lang") === "zh").select("doc_id", "text", "lang", "n_chars")
      mergeVectors(a, b)
    }),

    "reclass" -> ((s, dir) => {
      Tables.pages(s, dir)
        .select(col("doc_id"), expr(reclassCase).as("class"))
    }),

    // Quantiles (quantiles.rs:199-262): the reference's 10,000-bin
    // high-res histogram CDF, k=4 quantiles. Distributed shape: one tiny
    // extent agg, one distributed bin histogram, driver-side cumsum over
    // the ≤10k bins → broadcast (bin → quantile) LUT joined back. No
    // global-order window anywhere; every float op mirrors the reference
    // (bin_size = ceil(range)/10000, cdf = 100·cum/n, q = floor(cdf/25),
    // q==k → k−1, output = q+1).
    "quantiles" -> ((s, dir) => quantilesK(s, dir, 4)),

    "cross_tabulation" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    }),

    "list_unique_values" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
    }),

    // EliminateCoincidentPoints: snap to a res-10 cell, keep the first
    // record in scan order (= min doc_id — the reference keeps the first
    // inserted point, eliminate_coincident_points.rs:13-22).
    "eliminate_coincident_points" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 10)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 10)))
        .groupBy("ix", "iy")
        .agg(min("doc_id").as("kept_doc"), (count(lit(1)) - 1).as("n_dropped"))
    }),

    // ExtractRasterValuesAtPoints: sample the density raster at each page —
    // expressed as a window count over the page's own cell (no join).
    "extract_values_at_points" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 6)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 6)))
        .withColumn("value1", count(lit(1)).over(Window.partitionBy("ix", "iy")))
        .select("doc_id", "value1")
    }),

    // Gap sessionization, batch form (twin of the streaming
    // flatMapGroupsWithState op — EventStreamSpec cross-checks them).
    "sessionization" -> ((s, dir) => {
      graft.streaming.EventStream.sessionizeBatch(
          s, Tables.table(s, dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value"))
        .withColumn("v_sum", expr("round(v_sum, 6)"))
    }),

    // Events: tumbling 1-hour windowed aggregation (batch twin of the
    // streaming pipeline in graft.streaming).
    "events_hourly" -> ((s, dir) => {
      Tables.table(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), expr("round(sum(value), 6)").as("v_sum"))
    })
  )

  /** MergeVectors core: union over the by-name-and-type field intersection,
    * preserving left's column order (attributes.rs:132-166). */
  def mergeVectors(a: DataFrame, b: DataFrame): DataFrame = {
    val bTypes = b.schema.map(f => f.name -> f.dataType).toMap
    val common = a.schema.filter(f => bTypes.get(f.name).contains(f.dataType)).map(_.name)
    require(common.nonEmpty, "MergeVectors: no common fields")
    a.select(common.map(col): _*).unionByName(b.select(common.map(col): _*))
  }

  /** DuckDB twin of `quantilesK` — the reference 10k-bin histogram CDF,
    * same float op order, parameterized by k (100/k is exact in binary
    * for the gated k ∈ {4, 10}). */
  private[ops] def quantilesDuckK(k: Int): String = {
    val binE = "least(cast(floor(cast(n_chars - mn as double) / " +
      "(greatest(ceil(cast(mx - mn as double)), 1.0e0) / 10000.0e0)) as bigint), 9999)"
    val qE = s"floor(((100.0e0 * cum) / n) / ${graft.core.Lit.d(100.0 / k)})"
    s"${Geo.pagesWith(DuckD)}, ext AS (SELECT cast(min(n_chars) as bigint) AS mn, " +
      "cast(max(n_chars) as bigint) AS mx, count(*) AS n FROM pages), " +
      s"b AS (SELECT doc_id, n_chars, $binE AS bin FROM pages, ext), " +
      "h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin), " +
      "cm AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h), " +
      s"q AS (SELECT bin, cast(CASE WHEN $qE = ${graft.core.Lit.d(k.toDouble)} THEN ${graft.core.Lit.d(k - 1.0)} ELSE $qE END as bigint) + 1 AS qbin FROM cm, ext) " +
      "SELECT doc_id, n_chars, qbin AS bin FROM b JOIN q USING (bin) ORDER BY doc_id"
  }

  def oracles: Map[String, String] = Map(
    "join_tables" ->
      ("SELECT c.c_custkey, c.c_name, t.last_total, t.last_date, " +
        "coalesce(t.n_orders, 0) AS n_orders FROM customer c LEFT JOIN " +
        s"(SELECT o_custkey, ${DuckD.argMax("o_totalprice", "o_orderkey")} AS last_total, " +
        s"${DuckD.argMax("o_orderdate", "o_orderkey")} AS last_date, count(*) AS n_orders " +
        "FROM orders GROUP BY 1) t ON c.c_custkey = t.o_custkey ORDER BY c_custkey"),
    "merge_vectors" ->
      ("SELECT doc_id, text, lang FROM documents WHERE lang = 'en' " +
        "UNION ALL SELECT doc_id, text, lang FROM documents WHERE lang = 'zh' " +
        "ORDER BY doc_id"),
    "reclass" ->
      s"${Geo.pagesWith(DuckD)} SELECT doc_id, $reclassCase AS class FROM pages ORDER BY doc_id",
    "quantiles" -> quantilesDuckK(4),
    "cross_tabulation" ->
      "SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2 ORDER BY lang, source",
    "list_unique_values" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY lang",
    "eliminate_coincident_points" ->
      (s"${Geo.pagesWith(DuckD)} SELECT ${Geo.ix(DuckD, "lon", 10)} AS ix, ${Geo.iy(DuckD, "lat", 10)} AS iy, " +
        "min(doc_id) AS kept_doc, count(*) - 1 AS n_dropped FROM pages " +
        "GROUP BY 1, 2 ORDER BY ix, iy"),
    "extract_values_at_points" ->
      (s"${Geo.pagesWith(DuckD)} SELECT doc_id, count(*) OVER (PARTITION BY ${Geo.ix(DuckD, "lon", 6)}, " +
        s"${Geo.iy(DuckD, "lat", 6)}) AS value1 FROM pages ORDER BY doc_id"),
    "sessionization" ->
      ("WITH e AS (SELECT event_id, ts, user_id, value, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "m AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_sess FROM e), " +
        "sids AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM m) " +
        "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, " +
        "cast(count(*) as int) AS n_events, round(sum(value), 6) AS v_sum " +
        "FROM sids GROUP BY user_id, sess_id ORDER BY user_id, session_start"),
    "events_hourly" ->
      ("SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, " +
        "round(sum(value), 6) AS v_sum FROM events GROUP BY 1, 2 ORDER BY hour, event_type")
  )
}
