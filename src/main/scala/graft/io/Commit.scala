package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Iceberg-style committed writes: staged data + a snapshot summary with
  * lineage and row-count metrics, and restart-safe resume.
  *
  * The reference's only lineage facility is the provenance strings every
  * tool appends to raster metadata (extract_statistics.rs:433-439); the
  * north rule upgrades this to snapshot metadata. Mapping:
  *
  *   - per-partition checkpoint: Spark's task-commit protocol — each task
  *     writes part-*.parquet via a staging attempt dir and commits
  *     atomically, so partial failures re-run only uncommitted partitions;
  *   - snapshot summary: _graft_snapshot.json carrying snapshot id, wall
  *     time, input lineage, total rows, and per-file (= per final
  *     partition) row counts;
  *   - resume: a job whose snapshot exists with the same lineage
  *     fingerprint is skipped entirely (restartable batch — SURVEY §1.6).
  */
object Commit {

  case class Snapshot(path: String, rows: Long, files: Int, resumed: Boolean)

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def fingerprint(inputs: Seq[String]): String =
    java.util.UUID.nameUUIDFromBytes(inputs.sorted.mkString("\u0000").getBytes("UTF-8")).toString

  /** Write df to `path` with a snapshot summary; skip if a snapshot with
    * the same lineage fingerprint is already committed. */
  def write(spark: SparkSession, df: => DataFrame, path: String,
            inputs: Seq[String]): Snapshot = {
    val snapFile = Paths.get(path, "_graft_snapshot.json")
    val fp = fingerprint(inputs)
    if (Files.exists(snapFile)) {
      val body = Files.readString(snapFile)
      if (body.contains(s""""lineage_fp": "$fp"""")) {
        val rows = """"total_rows": (\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(0L)
        val files = """"n_files": (\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(0)
        return Snapshot(path, rows, files, resumed = true)
      }
    }
    val dataPath = s"$path/data"
    df.write.mode("overwrite").parquet(dataPath)
    // per-file (= per committed partition) row-count metrics, from the
    // parquet FOOTERS only — O(n_files) metadata reads, never a second
    // scan of the committed data (at 100 TB a re-read would double the
    // job's I/O).
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(dataPath)
    val fs = dir.getFileSystem(hconf)
    // footer reads in parallel (Java parallelStream — the scala-parallel-
    // collections module is not on the classpath): serial per-file opens
    // are a fixed driver-side cost that lands inside the benchmark's
    // timed region
    val files = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    val perFile = java.util.Arrays.stream(files.toArray).parallel().map[(String, Long)] { st =>
      st.getPath.toString -> Parquet.footer(st, hconf).getBlocks.stream.mapToLong(_.getRowCount).sum
    }.collect(java.util.stream.Collectors.toList[(String, Long)])
      .toArray(Array.empty[(String, Long)]).toSeq.sortBy(_._1)
    val total = perFile.map(_._2).sum
    val json =
      s"""{
         |  "snapshot_id": "${java.util.UUID.randomUUID()}",
         |  "committed_at_epoch_ms": ${System.currentTimeMillis()},
         |  "lineage_fp": "$fp",
         |  "inputs": [${inputs.map(q).mkString(", ")}],
         |  "total_rows": $total,
         |  "n_files": ${perFile.length},
         |  "partitions": [${perFile.map { case (f, n) =>
             s"""{"file": ${q(f.split('/').last)}, "rows": $n}"""
           }.mkString(", ")}]
         |}""".stripMargin
    Files.createDirectories(Paths.get(path))
    Files.writeString(snapFile, json)
    Snapshot(path, total, perFile.length, resumed = false)
  }
}
