package graft.ops

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input-table access. All parquet tables of an sf dir are registered as
  * temp views; the `pages` view (BASELINE.json input_hint shape) is derived
  * deterministically from `documents` via the shared twin-SQL (Dialect.scala)
  * so that the Spark plan and the DuckDB oracle compute bit-identical
  * lat/lon/url. `text` is carried through untouched (byte-identity
  * invariant). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Metadata memoization (guide §1/§6 "measure the overhead too"): opening
  // a table lists its path and reads one footer on the driver
  // (graft.io.Parquet, no Spark job; `spark.read.parquet` runs a one-task
  // schema-inference job instead), and `register` opens all 10 tables on
  // EVERY Tables.pages call. The cache stores the lazy DataFrame (a logical
  // plan — NO data, NO results), keyed per session so a session never
  // reuses another's plans; dropStopped evicts the entries of stopped
  // sessions. Every action still scans the parquet files.
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  // current registered dir PER SESSION: registration must re-point the
  // views whenever the dir CHANGES (a memo keyed on (session, dir) alone
  // would silently leave views at the previous dir when a session
  // alternates fixtures — review r06), and must re-run when the session
  // changes.
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def register(spark: SparkSession, sfDir: String): Unit =
    if (registeredDir.put(spark, sfDir) != sfDir)
      names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    dropStopped(dfCache)(_._1)
    dropStopped(registeredDir)(identity)
    dfCache.computeIfAbsent((spark, s"$sfDir/$name.parquet"), k => Parquet.read(k._1, k._2))
  }

  /** The eviction rule of the session-keyed plan caches: drop the entries
    * of sessions whose SparkContext is stopped. Live sessions never evict
    * each other, and a stopped session's plans are never pinned. */
  private[ops] def dropStopped[K](cache: java.util.Map[K, _])(session: K => SparkSession): Unit =
    cache.keySet.removeIf(k => session(k).sparkContext.isStopped)

  /** Scale-adaptive parallelism rescue for expensive per-row work (guide
    * §2.2/§2.5 "input skew: one huge unsplittable file"): the fixture
    * tables are ONE parquet file each, so a scan is ONE split and any
    * per-row digest/geometry work downstream of it runs on a single core.
    * When (and only when) the file layout yields fewer splits than the
    * session's parallelism, hash-repartition by `key` — a tiny shuffle at
    * fixture scale. At corpus scale the scan already has >= cores splits
    * and this is the identity, so the heavy payload is never shuffled
    * (guide §8: move big rows once). */
  private[ops] def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // gate on SCAN SPLITS, not file count (review r06): a corpus stored as
    // a few huge parquet files still yields many maxPartitionBytes splits,
    // and shuffling its text payload would be exactly the corpus-scale
    // regression this helper must never cause. `df` is the memoized table
    // frame and `Dataset.rdd` is a lazy val, so the scan is planned for
    // this count once per session and table, not once per call.
    val splits = df.rdd.getNumPartitions
    // explicit numPartitions: an N-less repartition(col) is a coalescable
    // shuffle under AQE, which re-merges the tiny fixture exchange back to
    // ONE partition and defeats the parallelism rescue entirely.
    if (splits >= want) df else df.repartition(want, key)
  }

  /** pages(doc_id, url, text, lang, source, n_chars, lat, lon) — geocoded
    * page corpus. The Spark plan uses the single-digest GeocodeExpr
    * (expr/Geocode.scala — bit-identical to the twin SQL the oracle runs,
    * GeocodeSpec); the hex/conv twin form is kept for the DuckDB side only. */
  def pages(spark: SparkSession, sfDir: String): DataFrame = {
    register(spark, sfDir)
    import org.apache.spark.sql.functions._
    table(spark, sfDir, "documents") // memoized plan, not a fresh footer read
      .withColumn("url", expr(
        "'https://site-' || cast(doc_id % 997 as string) || '.example/p/' || cast(doc_id as string)"))
      .withColumn("__geo", graft.expr.Geocode.geocode(col("text")))
      .select(col("doc_id"), col("url"), col("text"), col("lang"),
        col("source"), col("n_chars"),
        col("__geo").getItem(0).as("lat"), col("__geo").getItem(1).as("lon"))
  }
}
