package graft.ops

import graft.core.{Dialect, DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: exact
  * deduplication, token counting, language-ID heuristic, quality scoring,
  * document fingerprinting, multimodal binary plumbing.
  *
  * Everything is per-row (no order-dependent float aggregation), so the
  * DuckDB oracle matches exactly. All string math is defined once per
  * dialect (core/Dialect.scala) — counts via the replace trick
  * (length(t) - length(replace(t, m, ''))) / length(m), which is identical
  * SQL on both engines.
  */
object Text extends Gates {

  /** occurrences of literal `m` in `t` via the replace trick; the double
    * division is exact (numerator is a multiple of length(m)) and `/` is
    * double division in both dialects */
  private[ops] def occ(t: String, m: String): String =
    s"cast((length($t) - length(replace($t, '$m', ''))) / ${m.length} as bigint)"

  // language marker words (heuristic; scored per language, argmax wins)
  private[ops] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "))

  private[ops] def langScore(ms: Seq[String]): String =
    ms.map(m => occ("text", m)).mkString("(", " + ", ")")

  /** argmax over language scores, first-wins ties, 'und' if all zero */
  private[ops] val langIdCase: String = {
    val scores = markers.map { case (l, ms) => l -> langScore(ms) }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val picks = scores.map { case (l, sc) =>
      s"WHEN $sc = __best AND __best > 0 THEN '$l'"
    }.mkString(" ")
    s"(CASE $picks ELSE 'und' END)"
  }

  private[ops] def tokenCount(d: Dialect): String = {
    val arr = d.tokens("text")
    d match {
      case SparkD => s"cast(size($arr) as bigint)"
      case DuckD  => s"len($arr)"
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: md5 fingerprint groups; representative = min doc_id.
    "dedup_exact" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("keep_doc", min("doc_id").over(Window.partitionBy("fp")))
        .withColumn("is_dup", col("doc_id") =!= col("keep_doc"))
        .select("doc_id", "fp", "keep_doc", "is_dup")
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + BPE-ish regex token count.
    "token_count" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .withColumn("n_ws_tokens", expr(tokenCount(SparkD)))
        .withColumn("n_re_tokens",
          expr("cast(regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') as bigint)"))
        .select("doc_id", "n_ws_tokens", "n_re_tokens")
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: stopword-marker scores, argmax.
    "lang_id" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .withColumn("__best", expr(
          markers.map(m => langScore(m._2)).mkString("greatest(", ", ", ")")))
        .withColumn("pred_lang", expr(langIdCase))
        .select("doc_id", "lang", "pred_lang")
        .orderBy("doc_id")
    }),

    // Quality scoring: length, punctuation density, stopword ratio →
    // composite score (pure per-row double math, exact twin).
    "text_quality" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .withColumn("n_tok", expr(tokenCount(SparkD)))
        .withColumn("n_punct", expr(
          Seq(".", ",", "!", "?").map(p => occ("text", p)).mkString("(", " + ", ")")))
        .withColumn("n_stop", expr(langScore(markers.head._2)))
        .withColumn("punct_ratio",
          expr("cast(n_punct as double) / cast(greatest(n_tok, 1) as double)"))
        .withColumn("stop_ratio",
          expr("cast(n_stop as double) / cast(greatest(n_tok, 1) as double)"))
        .withColumn("quality", expr(
          "0.4e0 * least(cast(n_tok as double) / 100.0e0, 1.0e0) + " +
            "0.3e0 * least(stop_ratio * 10.0e0, 1.0e0) + " +
            "0.3e0 * (1.0e0 - least(punct_ratio * 5.0e0, 1.0e0))"))
        .select("doc_id", "n_tok", "punct_ratio", "stop_ratio", "quality")
        .orderBy("doc_id")
    }),

    // Document fingerprint: 48-bit md5 prefix + min-shingle-hash (winnowing
    // seed) + distinct-shingle cardinality.
    "doc_fingerprint" -> ((s, dir) => {
      val sh = SparkD.shingles("text")
      // Tables.spread: ~2 md5 digests per shingle per row — the heaviest
      // per-row text expression; parallelized off the single-file scan
      // split (per-row outputs, so results are partitioning-independent).
      Tables.spread(Tables.table(s, dir, "documents"), col("doc_id"))
        .withColumn("fp48", expr(SparkD.md5Bits("text", 1)) * expr("65536") +
          expr(s"${SparkD.md5Bits("text", 9)} % 65536"))
        .withColumn("min_shingle_hash", expr(
          s"array_min(transform($sh, s -> ${SparkD.md5Bits("s", 1)}))"))
        .withColumn("n_shingles", expr(s"cast(size(array_distinct($sh)) as bigint)"))
        .select("doc_id", "fp48", "min_shingle_hash", "n_shingles")
        .orderBy("doc_id")
    }),

    // Multimodal plumbing: html carried as opaque binary with typed
    // metadata (byte length + content hash) — the decode itself is the
    // deterministic stub in ops/Multimodal.scala.
    "multimodal_binary_meta" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("html", expr(
          "encode('<html><body>' || text || '</body></html>', 'UTF-8')"))
        .select(col("doc_id"),
          expr("cast(octet_length(html) as bigint)").as("byte_len"),
          md5(col("html")).as("content_hash"))
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = {
    val d = DuckD
    Map(
      "dedup_exact" ->
        ("SELECT doc_id, md5(text) AS fp, " +
          "min(doc_id) OVER (PARTITION BY md5(text)) AS keep_doc, " +
          "doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup " +
          "FROM documents ORDER BY doc_id"),
      "token_count" ->
        (s"SELECT doc_id, ${tokenCount(d)} AS n_ws_tokens, " +
          "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_re_tokens " +
          "FROM documents ORDER BY doc_id"),
      "lang_id" -> {
        val best = markers.map(m => langScore(m._2)).mkString("greatest(", ", ", ")")
        s"SELECT doc_id, lang, ${langIdCase.replace("__best", s"($best)")} AS pred_lang " +
          "FROM documents ORDER BY doc_id"
      },
      "text_quality" -> {
        val nTok = tokenCount(d)
        val nPunct = Seq(".", ",", "!", "?").map(p => occ("text", p)).mkString("(", " + ", ")")
        val nStop = langScore(markers.head._2)
        s"WITH t AS (SELECT doc_id, $nTok AS n_tok, $nPunct AS n_punct, $nStop AS n_stop FROM documents), " +
          "r AS (SELECT doc_id, n_tok, " +
          "cast(n_punct as double) / cast(greatest(n_tok, 1) as double) AS punct_ratio, " +
          "cast(n_stop as double) / cast(greatest(n_tok, 1) as double) AS stop_ratio FROM t) " +
          "SELECT doc_id, n_tok, punct_ratio, stop_ratio, " +
          "0.4e0 * least(cast(n_tok as double) / 100.0e0, 1.0e0) + " +
          "0.3e0 * least(stop_ratio * 10.0e0, 1.0e0) + " +
          "0.3e0 * (1.0e0 - least(punct_ratio * 5.0e0, 1.0e0)) AS quality " +
          "FROM r ORDER BY doc_id"
      },
      "doc_fingerprint" -> {
        val sh = d.shingles("text")
        s"SELECT doc_id, ${d.md5Bits("text", 1)} * 65536 + ${d.md5Bits("text", 9)} % 65536 AS fp48, " +
          s"list_min(list_transform($sh, s -> ${d.md5Bits("s", 1)})) AS min_shingle_hash, " +
          s"len(list_distinct($sh)) AS n_shingles FROM documents ORDER BY doc_id"
      },
      // DuckDB md5 takes VARCHAR only; it hashes the UTF-8 bytes, which is
      // exactly what Spark's md5(binary-encoded string) hashes.
      "multimodal_binary_meta" ->
        (s"${graft.core.Geo.pagesWith(d)} " +
          "SELECT doc_id, octet_length(encode('<html><body>' || text || '</body></html>')) AS byte_len, " +
          "md5('<html><body>' || text || '</body></html>') AS content_hash " +
          "FROM pages ORDER BY doc_id")
    )
  }
}
