package graft.cli

import graft.SparkEntry
import graft.io.Commit
import org.apache.spark.sql.SparkSession

/** spark-submit entry mirroring the reference CLI surface
  * (main.rs:94-250: `whitebox_tools --run=ToolName --wd=<dir> …`):
  *
  *   spark-submit --class graft.cli.Main <jar> \
  *     --run=<operator> --wd=<sf dir> [--out=<dir>] [--listtools]
  *
  * One SparkSession, one operator per invocation, results to stdout
  * (show) or a committed parquet write with lineage when --out is given.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.flatMap { a =>
      a.split("=", 2) match {
        case Array(k, v) => Some(k.stripPrefix("--") -> v)
        case Array(k)    => Some(k.stripPrefix("--") -> "true")
      }
    }.toMap

    if (opts.contains("listtools")) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val run = opts.getOrElse("run",
      sys.error("usage: --run=<operator> --wd=<sf dir> [--out=<dir>] [--listtools]"))
    val wd = opts.getOrElse("wd", "/root/testdata/sf0.01")
    val fn = SparkEntry.queries.getOrElse(run,
      sys.error(s"unknown operator '$run'; use --listtools"))

    val builder = SparkSession.builder()
      .appName(s"graft-$run")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; standalone runs default to local
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = fn(spark, wd)
    opts.get("out") match {
      case Some(out) =>
        val snap = Commit.write(spark, df, out, Seq(wd, s"op:$run"))
        println(s"committed ${snap.rows} rows in ${snap.files} files to $out" +
          (if (snap.resumed) " (resumed from existing snapshot)" else ""))
      case None =>
        SparkEntry.ordered(df).show(50, truncate = false)
    }
    spark.stop()
  }
}
