package graft.ops

import graft.core.{DuckD, Gates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-cleaning pipeline: the composition a web-scale
  * training-data run actually executes, built ENTIRELY from stages that
  * are each individually gated (lang_id, text_quality, dedup_exact,
  * dedup_clusters) so the pipeline gate proves the composition, not new
  * per-stage math.
  *
  * A document survives iff
  *   1. language-ID resolves (pred_lang <> 'und'),
  *   2. quality >= 0.55 (qualityMin below),
  *   3. it is not an exact duplicate (byte-identical md5 group min), and
  *   4. it is not a non-representative member of a verified near-dup
  *      cluster (keep-min rule over the Jaccard-verified LSH pairs).
  *
  * All four predicates are per-document over GLOBALLY computed
  * annotations (dedup decisions are made on the raw corpus, filters are
  * applied per doc), so filter order cannot change the result — the one
  * composition rule a twin hash-compare could not otherwise pin.
  *
  * Scale shape: the three text annotations are single-scan map-only
  * projections; the joins are all on doc_id (co-partitioned, AQE can
  * broadcast the cluster frame — it holds only near-dup MEMBERS, a tiny
  * fraction of the corpus); the funnel is one map-side-combinable
  * aggregate row. Nothing here adds a plan class beyond the audited
  * stage plans.
  *
  * Reference: whitebox has no corpus pipeline — this is part of the
  * training-data extension mandate (SURVEY §2.10).
  */
object Pipeline extends Gates {

  // 0.55 (not the text_quality gate's illustrative 0.5): the fixture's
  // sub-0.52 docs are exactly the language-unresolved ones, so a 0.5 cut
  // would drop zero rows AFTER the lang stage — 0.55 keeps every funnel
  // arm non-vacuous at both gate scales (62/76 quality drops among
  // lang-resolved docs at sf0.001/sf0.01).
  private val qualityMin = "0.55e0"

  /** One row per document with the four survival flags. */
  private def annotated(s: SparkSession, dir: String): DataFrame = {
    val lang = Text.queries("lang_id")(s, dir).select("doc_id", "pred_lang")
    val qual = Text.queries("text_quality")(s, dir).select("doc_id", "quality")
    val exact = Text.queries("dedup_exact")(s, dir).select("doc_id", "is_dup")
    // clusterLabels directly (same (doc_id, rep) content as the
    // dedup_clusters gate) — skips that gate's size-join + sort and shares
    // the session-memoized label fixpoint.
    val near = Dedup.clusterLabels(s, dir).selectExpr("d AS doc_id", "rep")
    lang.join(qual, "doc_id").join(exact, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .withColumn("lang_ok", expr("pred_lang <> 'und'"))
      .withColumn("q_ok", expr(s"quality >= $qualityMin"))
      .withColumn("x_ok", expr("NOT is_dup"))
      .withColumn("nd_ok", expr("rep IS NULL OR rep = doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The cleaned corpus: survivors only. Exact-duplicate drops are 0 on
    // the synthetic fixture (no byte-identical pair exists — dedup_exact's
    // own gate proves the flag values); the lang / quality / near-dup arms
    // each drop real rows at both scales.
    "corpus_clean" -> ((s, dir) => {
      annotated(s, dir)
        .filter("lang_ok AND q_ok AND x_ok AND nd_ok")
        .select("doc_id", "pred_lang", "quality")
    }),

    // Funnel accounting: survivor counts after each cumulative stage —
    // the number every pipeline report leads with, and an aggregate the
    // per-row clean gate cannot express. Single aggregate row, FILTER
    // clauses identical in both engines.
    "corpus_clean_funnel" -> ((s, dir) => {
      annotated(s, dir).agg(
        expr("count(*)").as("n_total"),
        expr("count(*) FILTER (WHERE lang_ok)").as("n_lang"),
        expr("count(*) FILTER (WHERE lang_ok AND q_ok)").as("n_quality"),
        expr("count(*) FILTER (WHERE lang_ok AND q_ok AND x_ok)").as("n_exact"),
        expr("count(*) FILTER (WHERE lang_ok AND q_ok AND x_ok AND nd_ok)").as("n_clean"))
    }),

    // Token-volume accounting: surviving docs AND surviving whitespace
    // tokens — the data-volume line a training-data run reports (docs
    // kept is not the number that matters downstream; tokens kept is).
    // Reuses token_count's gated per-doc counts; one aggregate row.
    "corpus_clean_tokens" -> ((s, dir) => {
      val toks = Text.queries("token_count")(s, dir).select("doc_id", "n_ws_tokens")
      annotated(s, dir).filter("lang_ok AND q_ok AND x_ok AND nd_ok")
        .join(toks, "doc_id")
        .agg(expr("count(*)").as("n_docs"),
          expr("cast(sum(n_ws_tokens) as bigint)").as("n_tokens"))
    })
  )

  /** Twin CTE chain: per-doc annotations + flags, built from the same
    * dialect constants as the per-stage twins (Text.occ/langScore/
    * langIdCase, Dedup.duckClusterCtes) so the pipeline twin and the
    * stage twins cannot drift apart. Ends at `ann`. */
  private def duckAnn: String = {
    val d = DuckD
    val nTok = Text.tokenCount(d)
    val nPunct = Seq(".", ",", "!", "?").map(p => Text.occ("text", p)).mkString("(", " + ", ")")
    val nStop = Text.langScore(Text.markers.head._2)
    val best = Text.markers.map(m => Text.langScore(m._2)).mkString("greatest(", ", ", ")")
    s"${Dedup.duckClusterCtes}, " +
      s"t AS (SELECT doc_id, $nTok AS n_tok, $nPunct AS n_punct, $nStop AS n_stop FROM documents), " +
      "r AS (SELECT doc_id, n_tok, " +
      "cast(n_punct as double) / cast(greatest(n_tok, 1) as double) AS punct_ratio, " +
      "cast(n_stop as double) / cast(greatest(n_tok, 1) as double) AS stop_ratio FROM t), " +
      "qy AS (SELECT doc_id, " +
      "0.4e0 * least(cast(n_tok as double) / 100.0e0, 1.0e0) + " +
      "0.3e0 * least(stop_ratio * 10.0e0, 1.0e0) + " +
      "0.3e0 * (1.0e0 - least(punct_ratio * 5.0e0, 1.0e0)) AS quality FROM r), " +
      s"lg AS (SELECT doc_id, ${Text.langIdCase.replace("__best", s"($best)")} AS pred_lang FROM documents), " +
      "x AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup FROM documents), " +
      "ann AS (SELECT d.doc_id, lg.pred_lang, qy.quality, " +
      "lg.pred_lang <> 'und' AS lang_ok, " +
      s"qy.quality >= $qualityMin AS q_ok, " +
      "NOT x.is_dup AS x_ok, " +
      "(lab.rep IS NULL OR lab.rep = d.doc_id) AS nd_ok " +
      "FROM documents d JOIN lg ON lg.doc_id = d.doc_id " +
      "JOIN qy ON qy.doc_id = d.doc_id JOIN x ON x.doc_id = d.doc_id " +
      "LEFT JOIN lab ON lab.doc_id = d.doc_id)"
  }

  def oracles: Map[String, String] = Map(
    "corpus_clean" ->
      (s"WITH RECURSIVE $duckAnn " +
        "SELECT doc_id, pred_lang, quality FROM ann " +
        "WHERE lang_ok AND q_ok AND x_ok AND nd_ok ORDER BY doc_id"),
    "corpus_clean_funnel" ->
      (s"WITH RECURSIVE $duckAnn " +
        "SELECT count(*) AS n_total, " +
        "count(*) FILTER (WHERE lang_ok) AS n_lang, " +
        "count(*) FILTER (WHERE lang_ok AND q_ok) AS n_quality, " +
        "count(*) FILTER (WHERE lang_ok AND q_ok AND x_ok) AS n_exact, " +
        "count(*) FILTER (WHERE lang_ok AND q_ok AND x_ok AND nd_ok) AS n_clean " +
        "FROM ann"),
    // t.n_tok IS the whitespace token count token_count gates as
    // n_ws_tokens (same Dialect.tokens constant), so the twin reuses the
    // quality CTE's t rather than re-deriving it.
    "corpus_clean_tokens" ->
      (s"WITH RECURSIVE $duckAnn " +
        "SELECT count(*) AS n_docs, cast(sum(t.n_tok) as bigint) AS n_tokens " +
        "FROM ann JOIN t ON t.doc_id = ann.doc_id " +
        "WHERE ann.lang_ok AND ann.q_ok AND ann.x_ok AND ann.nd_ok")
  )
}
