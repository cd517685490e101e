package graft.ops

import graft.core.{Dialect, DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for the training-data pipeline:
  *
  *   - MinHash + LSH: char-8-gram shingles → 16 md5-derived min-hashes →
  *     8 bands of 2 → candidate pairs where any band collides. This is the
  *     scale path: cost is linear in corpus size + band-bucket joins; no
  *     all-pairs product ever materialises.
  *   - n-gram Jaccard verify: exact Jaccard similarity computed ONLY on the
  *     LSH candidate pairs (classic candidate-then-verify architecture).
  *   - SimHash: 64-bit token-hash sign aggregate carried as two 32-bit
  *     halves (lo/hi — avoids the signed-bit-63 parity trap); near-dup
  *     pairs found by the 4×16-bit chunk pigeonhole join (hamming ≤ 3 over
  *     64 bits ⇒ ≥1 of the 4 chunks equal), verified with
  *     bit_count(xor(lo)) + bit_count(xor(hi)) ≤ 3. 16-bit chunks give
  *     65,536 buckets per chunk index (vs 256 at 8 bits), so bucket size
  *     is ~n/2^18 and the blocking join stays sub-quadratic at corpus
  *     scale; chunk buckets over `bucketCap` members are dropped in the
  *     Spark plan (the same skew bound as the minhash path — never
  *     triggered at fixture scale, so the brute-force oracle still proves
  *     the blocking lossless).
  *
  * All hashes are md5-hex-derived integers (core/Dialect.md5Bits) so the
  * DuckDB oracle is bit-exact.
  */
object Dedup extends Gates {

  private val nHashes = 16
  private val bands = 8 // of 2 rows each
  private[ops] val bucketCap = 1000 // max members per band bucket (skew bound)

  /** One md5 per shingle; the 16 family members derive arithmetically
    * (odd multiplier → bijection mod 2^32, plus an offset), so signature
    * cost is 1 digest + 16 integer ops per shingle. `h` names the
    * already-computed hash column/expression: the Spark side projects the
    * digest ONCE before the aggregate — inlining it into all 16 agg
    * expressions defeated whole-stage-codegen subexpression elimination
    * and evaluated 16 digests per shingle (the r3/r4 dedup_minhash_lsh
    * drift the round-4 verdict asked to attribute). */
  private def minhashAggs(d: Dialect, h: String): Seq[String] =
    (0 until nHashes).map { j =>
      s"min((($h) * ${2 * j + 1} + $j * 2654435761) % 4294967296) AS m$j"
    }
  private def minhashAggs(d: Dialect): Seq[String] = minhashAggs(d, d.md5Bits("sh", 1))

  /** Spark-side signature table: doc_id, m0..m15 — the single-pass
    * MinHashExpr (graft/expr/MinHash.scala): whole signature in one
    * document scan, no shingle explode, no shuffle (MinHashSpec pins
    * bit-equality against the exploded twin-SQL form, which remains the
    * DuckDB oracle). */
  private[ops] def signatures(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "dedup_sigs") { signaturesBuild(s, dir) }

  // memoized per session+dir (Dem.memo pattern, as density/dem/fa): the
  // signature table is an O(corpus-rows × 17 ints) bounded intermediate
  // recomputed by SIX gated queries per session (signatures, lsh, b16,
  // jaccard, clusters, and the corpus_clean trio via clusters).
  private def signaturesBuild(s: SparkSession, dir: String): DataFrame =
    // Tables.spread: the fixture `documents` is one parquet file = one scan
    // split, so the whole MinHash pass (one md5 per shingle ≈ 290
    // digests/doc — the dominant cost of this query family) ran on a
    // single core. Spreading by doc_id moves only (doc_id, text) — a few
    // hundred KB at fixture scale — and parallelizes the digest work; at
    // corpus scale the scan already has enough splits and spread is the
    // identity (no payload shuffle). Results unchanged: the minhash is a
    // per-row expression and every consumer aggregates/sorts on integer
    // keys (order-insensitive; CappedList overflow drops whole buckets
    // regardless of member order).
    Tables.spread(Tables.table(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), graft.expr.MinHash.minhash16(col("text")).as("mh"))
      .selectExpr(("doc_id" +: (0 until nHashes).map(j => s"mh[$j] AS m$j")): _*)

  private[ops] def duckSignatures: String =
    s"sigs AS (SELECT doc_id, ${minhashAggs(DuckD).mkString(", ")} FROM " +
      s"(SELECT doc_id, unnest(${DuckD.shingles("text")}) AS sh FROM documents) t GROUP BY doc_id)"

  // ---- SimHash (64-bit: two independent 32-bit md5 words per token) ----

  /** 64 sign sums: bits 0..31 from the token's first md5 word, 32..63 from
    * the second (independent digest slices). */
  private def simhashSums(d: Dialect): Seq[String] =
    (0 until 64).map { i =>
      val src = if (i < 32) "th" else "th2"
      s"sum(CASE WHEN (${d.shr(src, i % 32)} & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }

  private def simhashPack(off: Int): String =
    (0 until 32).map(i => s"(CASE WHEN s${off + i} > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  private def simhashTable(d: Dialect): String = d match {
    case DuckD =>
      s"toks AS (SELECT doc_id, ${d.md5Bits("tok", 1)} AS th, ${d.md5Bits("tok", 9)} AS th2 FROM " +
        s"(SELECT doc_id, unnest(${d.tokens("text")}) AS tok FROM documents) t), " +
        s"sums AS (SELECT doc_id, ${simhashSums(d).mkString(", ")} FROM toks GROUP BY doc_id), " +
        s"sh AS (SELECT doc_id, ${simhashPack(0)} AS simhash_lo, ${simhashPack(32)} AS simhash_hi FROM sums)"
    case SparkD => "" // Spark side built with the DataFrame API below
  }

  private def simhashes(s: SparkSession, dir: String): DataFrame =
    // memoized: recomputed by three gated queries per session
    Dem.memo(s, dir, "dedup_simhash") { simhashesBuild(s, dir) }

  private def simhashesBuild(s: SparkSession, dir: String): DataFrame = {
    // Tables.spread: parallelize the token explode + 2 md5/token off the
    // single-file scan split (same rationale as `signatures`); the sign
    // sums are integer aggregates — order-insensitive.
    val toks = Tables.spread(Tables.table(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), explode(expr(SparkD.tokens("text"))).as("tok"))
      .withColumn("th", expr(SparkD.md5Bits("tok", 1)))
      .withColumn("th2", expr(SparkD.md5Bits("tok", 9)))
    val sums = toks.groupBy("doc_id").agg(
      expr(simhashSums(SparkD).head).as("s0"),
      simhashSums(SparkD).tail.map(expr): _*)
    sums.select(col("doc_id"), expr(simhashPack(0)).as("simhash_lo"),
      expr(simhashPack(32)).as("simhash_hi"))
  }

  /** 4×16-bit chunks of the 64-bit simhash: ci 0/1 from lo, 2/3 from hi. */
  private val chunkExpr =
    "CASE WHEN ci < 2 THEN (simhash_lo >> (ci * 16)) & 65535 " +
      "ELSE (simhash_hi >> ((ci - 2) * 16)) & 65535 END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MinHash signatures (exact-int oracle twin).
    "dedup_minhash_signatures" -> ((s, dir) => {
      signatures(s, dir).orderBy("doc_id")
    }),

    // LSH candidate pairs: any of the 8 (h1,h2) bands collide. Buckets
    // larger than `bucketCap` members are DROPPED (both engines, so the
    // oracle stays bit-exact): a viral shingle's bucket would otherwise
    // contribute O(m²) pairs of near-zero signal — the standard web-dedup
    // skew bound. Plan: ONE hash aggregate collects each band bucket's
    // members (state bounded by the cap: oversized buckets are discarded,
    // so no self-join, no separate hot-list pass, one shuffle of the band
    // rows total); pairs explode in place from the ≤cap member lists.
    "dedup_minhash_lsh" -> ((s, dir) => {
      val sig = signatures(s, dir)
      val bandDf = sig.selectExpr("doc_id",
        s"stack($bands, ${(0 until bands).map(b => s"$b, m${2 * b}, m${2 * b + 1}").mkString(", ")}) AS (band, h1, h2)")
      bandDf.groupBy("band", "h1", "h2")
        .agg(graft.agg.CappedList.capped(bucketCap)(col("doc_id")).as("ms"))
        .filter(size(col("ms")) <= bucketCap)
        .select(explode(graft.expr.ArrayKernels.pairs(col("ms"))).as("p"))
        .select("p.a", "p.b").distinct()
        .orderBy("a", "b")
    }),

    // Exact n-gram Jaccard on the LSH candidates (verify stage).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val cand = queries("dedup_minhash_lsh")(s, dir)
      // Tables.spread: the shingle explode (~290 rows/doc) otherwise runs
      // on the single scan split; counts/joins downstream are
      // order-insensitive.
      val shs = Tables.spread(Tables.table(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), explode(expr(
          s"array_distinct(${SparkD.shingles("text")})")).as("sh"))
      val sizes = shs.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val common = cand
        .join(shs.toDF("a", "sh"), "a")
        .join(shs.toDF("b", "sh2"), "b")
        .filter(col("sh") === col("sh2"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
      cand.join(common, Seq("a", "b"), "left")
        .withColumn("common", coalesce(col("common"), lit(0L)))
        .join(sizes.toDF("a", "na"), "a")
        .join(sizes.toDF("b", "nb"), "b")
        .withColumn("jaccard", expr(
          "cast(common as double) / cast(na + nb - common as double)"))
        .select("a", "b", "na", "nb", "common", "jaccard")
        .orderBy("a", "b")
    }),

    // SimHash per document.
    "dedup_simhash" -> ((s, dir) => {
      simhashes(s, dir).orderBy("doc_id")
    }),

    // SimHash near-dup pairs via the 16-bit chunk-blocking join (with the
    // minhash-style hot-bucket cap before the self-join); oracle
    // brute-forces, proving the blocking lossless at fixture scale.
    "dedup_simhash_pairs" -> ((s, dir) => simhashPairs(s, dir, 3)),

    // --max_hamming sweep point: the 4×16-bit pigeonhole blocking is
    // lossless for any threshold ≤ 3, so the tighter gate runs the SAME
    // candidate join with only the verify constant changed.
    "dedup_simhash_pairs_h2" -> ((s, dir) => simhashPairs(s, dir, 2)),

    // Duplicate-cluster representatives: connected components over the
    // VERIFIED near-dup pairs (jaccard ≥ 0.5), each doc labelled with its
    // component minimum — the "keep one copy per duplicate cluster" stage
    // every web-dedup pipeline ends with. Min-label propagation with
    // POINTER JUMPING (rep := min(rep, neighbours' rep, rep-of-rep)): the
    // remaining distance to the component minimum at least halves each
    // round, so convergence is O(log diameter) rounds and the 16-round cap
    // covers components of diameter up to 2^16 — far beyond anything a
    // chain of near-dup pairs can build; the converge assert still fails
    // fast (never silently corrupts) if that bound is somehow exceeded.
    // Per round (Dem.converge, checked every round): the edge-list
    // equi-join + min aggregate, one label-table self-join for the jump,
    // and converge's one-job change check. Convergence asserted; twin
    // re-derives labels by full recursive transitive closure (round-free).
    "dedup_clusters" -> ((s, dir) => {
      val lab = clusterLabels(s, dir)
      val sz = lab.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
      lab.join(sz, "rep")
        .selectExpr("d AS doc_id", "rep", "cluster_size")
        .orderBy("doc_id")
    })
  )

  /** Near-dup cluster labels (d, rep) — the converged min-label frame.
    * Memoized per session+dir (Dem.memo pattern): the whole iterative
    * chain (LSH candidates → jaccard verify → label fixpoint) was
    * otherwise re-executed by FOUR gated queries per session
    * (dedup_clusters + the three corpus_clean gates). */
  private[ops] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "dedup_labels") {
      val jp = queries("dedup_ngram_jaccard")(s, dir)
        .filter("jaccard >= 0.5e0").select("a", "b")
      val e = jp.unionByName(jp.selectExpr("b AS a", "a AS b")).localCheckpoint()
      val init = e.selectExpr("a AS d").distinct().selectExpr("d", "d AS rep")
      Dem.converge(init, 16, 1, "dedup_clusters") { lab =>
        val nbrMin = e.toDF("d", "nb")
          .join(lab.selectExpr("d AS nb", "rep AS nrep"), "nb")
          .groupBy("d").agg(min("nrep").as("mn"))
        // every rep value is a vertex id (labels are propagated ids), so
        // the rep-of-rep lookup always finds a row; left+coalesce keeps
        // the plan null-safe anyway.
        lab.join(nbrMin, Seq("d"), "left")
          .selectExpr("d", "least(rep, coalesce(mn, rep)) AS rep1")
          .join(lab.selectExpr("d AS jd", "rep AS rep2"),
            col("rep1") === col("jd"), "left")
          .selectExpr("d", "least(rep1, coalesce(rep2, rep1)) AS rep")
      }
    }

  /** Chunk-blocked simhash near-dup pairs at hamming ≤ maxH (maxH ≤ 3
    * keeps the 4-chunk pigeonhole lossless: 4 equal-chunk misses need
    * ≥ 4 differing bits). */
  private def simhashPairs(s: SparkSession, dir: String, maxH: Int): DataFrame = {
    val sh = simhashes(s, dir)
    val chunks = sh.select(col("doc_id"), col("simhash_lo"), col("simhash_hi"),
      explode(expr("sequence(0, 3)")).as("ci"))
      .withColumn("chunk", expr(chunkExpr))
    val hot = chunks.groupBy("ci", "chunk")
      .agg(count(lit(1)).as("bc")).filter(col("bc") > bucketCap)
      .select("ci", "chunk")
    val pruned = chunks.join(broadcast(hot), Seq("ci", "chunk"), "left_anti")
    val l = pruned.toDF("ci", "chunk", "a", "lo_a", "hi_a")
    val r = pruned.toDF("ci", "chunk", "b", "lo_b", "hi_b")
    val hamming = s"bit_count(${SparkD.bitXor("lo_a", "lo_b")}) + " +
      s"bit_count(${SparkD.bitXor("hi_a", "hi_b")})"
    l.join(r, Seq("ci", "chunk"))
      .filter(col("a") < col("b"))
      .select("a", "b", "lo_a", "hi_a", "lo_b", "hi_b").distinct()
      .filter(expr(s"($hamming) <= $maxH"))
      .withColumn("hamming", expr(hamming))
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** Shared CTE chain ending at `lab(doc_id, rep)` — the near-dup
    * cluster labels (verified pairs → symmetric edges → recursive
    * transitive closure → component-min rep). Requires WITH RECURSIVE.
    * Reused by the dedup_clusters twin and the corpus_clean pipeline
    * twins (Pipeline.scala), so the two gates prove the SAME SQL. */
  private[ops] def duckClusterCtes: String =
    s"$duckSignatures, $duckCand, " +
      s"shs AS (SELECT doc_id, unnest(list_distinct(${DuckD.shingles("text")})) AS sh FROM documents), " +
      "cm AS (SELECT c.a, c.b, count(*) AS common FROM cand c " +
      "JOIN shs sa ON sa.doc_id = c.a JOIN shs sb ON sb.doc_id = c.b AND sb.sh = sa.sh " +
      "GROUP BY c.a, c.b), " +
      "sizes AS (SELECT doc_id, count(*) AS nsh FROM shs GROUP BY doc_id), " +
      "jp AS (SELECT c.a, c.b FROM cand c JOIN sizes za ON za.doc_id = c.a " +
      "JOIN sizes zb ON zb.doc_id = c.b JOIN cm ON cm.a = c.a AND cm.b = c.b " +
      "WHERE cast(cm.common as double) / cast(za.nsh + zb.nsh - cm.common as double) >= 0.5e0), " +
      "e AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp), " +
      "reach AS (SELECT a AS s, a AS t FROM e UNION SELECT r.s, e.b FROM reach r JOIN e ON e.a = r.t), " +
      "lab AS (SELECT s AS doc_id, min(t) AS rep FROM reach GROUP BY s)"

  private def duckBandRows: String =
    "bandrows AS (" + (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, m${2 * b} AS h1, m${2 * b + 1} AS h2 FROM sigs")
      .mkString(" UNION ALL ") + ")"

  private def duckCand: String =
    duckBandRows +
      s", keepb AS (SELECT band, h1, h2 FROM bandrows GROUP BY 1, 2, 3 HAVING count(*) <= $bucketCap)" +
      ", pruned AS (SELECT b.* FROM bandrows b JOIN keepb USING (band, h1, h2))" +
      ", cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b " +
      "FROM pruned l JOIN pruned r ON l.band = r.band AND l.h1 = r.h1 " +
      "AND l.h2 = r.h2 AND l.doc_id < r.doc_id)"

  def oracles: Map[String, String] = Map(
    "dedup_minhash_signatures" ->
      s"WITH $duckSignatures SELECT * FROM sigs ORDER BY doc_id",
    "dedup_minhash_lsh" ->
      s"WITH $duckSignatures, $duckCand SELECT a, b FROM cand ORDER BY a, b",
    "dedup_ngram_jaccard" ->
      (s"WITH $duckSignatures, $duckCand, " +
        s"shs AS (SELECT doc_id, unnest(list_distinct(${DuckD.shingles("text")})) AS sh FROM documents), " +
        "sizes AS (SELECT doc_id, count(*) AS nsh FROM shs GROUP BY doc_id), " +
        "cm AS (SELECT c.a, c.b, count(*) AS common FROM cand c " +
        "JOIN shs sa ON sa.doc_id = c.a JOIN shs sb ON sb.doc_id = c.b AND sb.sh = sa.sh " +
        "GROUP BY c.a, c.b) " +
        "SELECT c.a AS a, c.b AS b, za.nsh AS na, zb.nsh AS nb, coalesce(cm.common, 0) AS common, " +
        "cast(coalesce(cm.common, 0) as double) / cast(za.nsh + zb.nsh - coalesce(cm.common, 0) as double) AS jaccard " +
        "FROM cand c JOIN sizes za ON za.doc_id = c.a JOIN sizes zb ON zb.doc_id = c.b " +
        "LEFT JOIN cm ON cm.a = c.a AND cm.b = c.b ORDER BY c.a, c.b"),
    "dedup_simhash" ->
      (s"WITH ${simhashTable(DuckD)} SELECT doc_id, simhash_lo, simhash_hi FROM sh ORDER BY doc_id"),
    "dedup_simhash_pairs" -> simhashPairsDuck(3),
    "dedup_simhash_pairs_h2" -> simhashPairsDuck(2),
    "dedup_clusters" ->
      (s"WITH RECURSIVE $duckClusterCtes, " +
        "sz AS (SELECT rep, count(*) AS cluster_size FROM lab GROUP BY rep) " +
        "SELECT l.doc_id, l.rep, s2.cluster_size FROM lab l JOIN sz s2 ON s2.rep = l.rep ORDER BY l.doc_id")
  )

  /** brute-force all-pairs twin at hamming ≤ maxH (proves the chunk
    * blocking lossless at the gated thresholds). */
  private def simhashPairsDuck(maxH: Int): String = {
    val hamming = s"bit_count(${DuckD.bitXor("a.simhash_lo", "b.simhash_lo")}) + " +
      s"bit_count(${DuckD.bitXor("a.simhash_hi", "b.simhash_hi")})"
    s"WITH ${simhashTable(DuckD)} " +
      "SELECT a.doc_id AS a, b.doc_id AS b, " +
      s"($hamming) AS hamming " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      s"WHERE ($hamming) <= $maxH " +
      "ORDER BY a, b"
  }
}
