package graft.io

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class CommitSpec extends SparkSpec {

  test("committed write: snapshot metadata + per-partition rows + resume") {
    val out = Files.createTempDirectory("graft_commit").toString
    val df = spark.range(1000).toDF("id").repartition(4)

    val s1 = Commit.write(spark, df, out, Seq("range:1000", "test"))
    assert(!s1.resumed)
    assert(s1.rows === 1000)
    assert(s1.files === 4)
    val snap = Files.readString(Paths.get(out, "_graft_snapshot.json"))
    assert(snap.contains("\"total_rows\": 1000"))
    assert(snap.contains("\"inputs\": [\"range:1000\", \"test\"]"))
    assert(snap.contains("\"partitions\""))

    // same lineage → resumed, no recompute (df is by-name and would throw)
    var evaluated = false
    val s2 = Commit.write(spark, { evaluated = true; df }, out, Seq("range:1000", "test"))
    assert(s2.resumed && !evaluated)
    assert(s2.rows === 1000)

    // different lineage → recommit
    val s3 = Commit.write(spark, df, out, Seq("range:1000", "test", "v2"))
    assert(!s3.resumed)
  }
}
