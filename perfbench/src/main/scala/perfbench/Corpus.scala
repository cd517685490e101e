package perfbench

import graft.core.Zones
import graft.expr.{Geocode, PointInPolygon}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}

/** Seeded page corpus with the PageGen schema (doc_id, url, warc_ts, html,
  * text, lang, n_chars), and the independent expected results of the two
  * corpus workloads.
  *
  * The text of a page is a pure function of (variant, id), so one seed
  * always gives the same corpus. A workload seed picks one of `variants`
  * corpora, so a checkout generates and recounts at most that many, and a
  * run's set-up seldom pays for generation. Geocoding happens in the
  * measured job, not here. */
object Corpus {
  val variants = 4
  def variant(seed: Long): Long = java.lang.Math.floorMod(seed, variants.toLong)

  private val words = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "index", "page",
    "query", "join", "shard", "block", "cache", "tile", "größe", "città",
    "東京", "данные")

  private def mix(z0: Long): Long = { // splitmix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("url", StringType),
    StructField("warc_ts", TimestampType), StructField("html", BinaryType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("n_chars", LongType)))

  /** One page; a pure function of (seed, id). */
  def page(seed: Long, id: Long): Row = {
    val sb = new java.lang.StringBuilder(200).append("doc ").append(id)
    var h = mix(seed * 0x9e3779b97f4a7c15L + id)
    var i = 0
    while (i < 24) {
      h = mix(h + i)
      sb.append(' ').append(words((java.lang.Long.remainderUnsigned(h, words.length)).toInt))
      i += 1
    }
    val text = sb.toString
    val ts = 1704067200L + java.lang.Long.remainderUnsigned(mix(h ^ seed), 31536000L) // 2024 + up to a year
    Row(id, s"https://site-${id % 997}.example/p/$id", new java.sql.Timestamp(ts * 1000),
      s"<html><body>$text</body></html>".getBytes("UTF-8"), text,
      langs((java.lang.Long.remainderUnsigned(h, langs.length)).toInt), text.length.toLong)
  }
  private val langs = Array("en", "de", "fr", "zh", "es")

  def generate(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0L, n, 1L, parts).map(page(seed, _)), schema)

  /** Row count of one parquet file, from its footer. */
  def footer(spark: SparkSession, file: Path): Long = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), spark.sessionState.newHadoopConf()))
    try rd.getRecordCount finally rd.close()
  }

  /** Row count of a parquet directory (footers only). */
  def footerRows(spark: SparkSession, dir: Path): Long =
    Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).map(footer(spark, _)).sum

  /** Generate the corpus under `root` unless a complete one with the right
    * row count is there. The path names the seed, the size and the layout.
    * Returns (path, whether it was generated now). */
  def ensure(spark: SparkSession, root: Path, seed: Long, n: Long, parts: Int): (Path, Boolean) = {
    val v = variant(seed)
    val path = root.resolve(s"corpus_v${v}_n${n}_p$parts")
    val ok = Files.exists(path.resolve("_SUCCESS")) && footerRows(spark, path) == n
    if (!ok) {
      generate(spark, v, n, parts)
        .write.mode("overwrite").option("compression", "zstd").parquet(path.toString)
      val got = footerRows(spark, path)
      require(got == n, s"generated corpus $path has $got rows, expected $n")
    }
    path -> !ok
  }

  /** Keep the `keep` corpus and the most recently used others, up to the
    * number of variants (a corpus of another size or layout ages out). */
  def evict(root: Path, keep: Path): Unit = {
    Files.setLastModifiedTime(keep, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
    Files.list(root).toArray.map(_.asInstanceOf[Path]).filter(_ != keep)
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis).drop(variants - 1).foreach(Ctx.delete)
  }

  /** Expected zonal counts, from an independent scalar recount: the scalar
    * geocoder and the scalar winding-number test over every ring of every
    * zone. None of PipJoin, Morton or PipAny is used. */
  final case class Expected(zoneCounts: Map[Int, Long])

  private def insideZones(lat: Double, lon: Double): Seq[Int] =
    Zones.fids.filter { fid =>
      val rs = Zones.worldZones.filter(_.fid == fid)
      rs.exists(r => !r.isHole && PointInPolygon.pointInPoly(lon, lat, r.xs, r.ys)) &&
        !rs.exists(r => r.isHole && PointInPolygon.pointInPoly(lon, lat, r.xs, r.ys))
    }

  def recount(spark: SparkSession, corpus: String): Expected = {
    val parts = spark.read.parquet(corpus).select("text").rdd
      .mapPartitions { it =>
        val counts = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
        it.foreach { r =>
          val Array(lat, lon) = Geocode.latLon(r.getString(0).getBytes("UTF-8"))
          insideZones(lat, lon).foreach(fid => counts(fid) += 1)
        }
        Iterator(counts.toMap)
      }.collect()
    Expected(parts.flatten.groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Expected counts, cached beside the corpus (keyed by its path). */
  def expected(spark: SparkSession, corpus: Path): (Expected, Boolean) = {
    val f = corpus.resolve("_expected.txt")
    if (Files.exists(f)) {
      val lines = Files.readAllLines(f).toArray.map(_.toString)
      val counts = lines.filter(_.startsWith("zone ")).map { l =>
        val Array(_, fid, n) = l.split(' '); fid.toInt -> n.toLong
      }.toMap
      Expected(counts) -> false
    } else {
      val e = recount(spark, corpus.toString)
      val body = e.zoneCounts.toSeq.sorted.map { case (k, v) => s"zone $k $v" }
      Files.writeString(f, body.mkString("", "\n", "\n"))
      e -> true
    }
  }
}
