package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** The gate registry (SparkEntry.gates) declares each gate once, with its
  * query and its oracle in the same module, and the oracle SQL of every
  * gate is pinned by digest: `src/test/resources/oracle_sql.sha256` holds
  * `name<TAB>sha256(oracle SQL as UTF-8)`, one line per gate, sorted by
  * name. On a mismatch the actual digests go to
  * `target/oracle_sql.sha256.actual`; copy that file over the resource to
  * record an intended oracle change. */
class RegistrySpec extends AnyFunSuite {
  private def moduleName(g: AnyRef) = g.getClass.getSimpleName.stripSuffix("$")

  test("gate names are distinct across modules") {
    val clashes = SparkEntry.gates
      .flatMap(g => g.queries.keys.map(_ -> moduleName(g)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .collect { case (n, ms) if ms.size > 1 => s"$n in ${ms.map(_._2).mkString(", ")}" }
    assert(clashes.isEmpty)
  }

  test("each module declares an oracle for every query and nothing else") {
    val unpaired = SparkEntry.gates.flatMap { g =>
      val q = g.queries.keySet; val o = g.oracles.keySet
      (q -- o).map(n => s"${moduleName(g)}.$n has no oracle") ++
        (o -- q).map(n => s"${moduleName(g)}.$n has no query")
    }
    assert(unpaired.sorted.isEmpty)
  }

  test("the registry holds 365 gates, each with a query and an oracle") {
    assert(SparkEntry.queries.size == 365)
    assert(SparkEntry.oracleSql.size == 365)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("oracle SQL matches the recorded digests") {
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val actual = SparkEntry.oracleSql.map { case (n, sql) =>
      n -> hex(MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8)))
    }
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    val recorded =
      try src.getLines().map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      finally src.close()
    val differ = (actual.keySet ++ recorded.keySet).toSeq.sorted
      .filter(n => actual.get(n) != recorded.get(n))
    if (differ.nonEmpty) {
      val out = Paths.get("target", "oracle_sql.sha256.actual")
      Files.createDirectories(out.getParent)
      Files.writeString(out, actual.toSeq.sorted.map { case (n, h) => s"$n\t$h\n" }.mkString)
      fail(s"${differ.size} oracle digests differ (actual digests in $out): ${differ.mkString(", ")}")
    }
  }
}
