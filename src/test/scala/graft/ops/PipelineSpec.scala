package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Composition laws for the corpus-cleaning pipeline: the DuckDB twin
  * proves the values; these pin the cross-gate property the twin cannot
  * see — that the pipeline is EXACTLY the composition of its four
  * individually-gated stages, with a funnel that is monotone and
  * non-vacuous. All at sf0.001.
  */
class PipelineSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("survivors equal the independent composition of the four stage gates") {
    val lang = q("lang_id").filter("pred_lang <> 'und'").select("doc_id")
    val qual = q("text_quality").filter("quality >= 0.55e0").select("doc_id")
    val exact = q("dedup_exact").filter("NOT is_dup").select("doc_id")
    val ndDrop = q("dedup_clusters").filter("doc_id <> rep").select("doc_id")
    val expect = lang.intersect(qual).intersect(exact).exceptAll(ndDrop)
    val got = q("corpus_clean").select("doc_id")
    assert(got.count() > 0, "pipeline must keep a real survivor corpus")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "pipeline == stage-gate composition, no hidden coupling")
  }

  test("funnel is monotone and every filtering arm the fixture can exercise bites") {
    val f = q("corpus_clean_funnel").head()
    val Seq(nTotal, nLang, nQuality, nExact, nClean) =
      Seq("n_total", "n_lang", "n_quality", "n_exact", "n_clean")
        .map(c => f.getLong(f.fieldIndex(c)))
    assert(nTotal >= nLang && nLang >= nQuality && nQuality >= nExact && nExact >= nClean,
      "cumulative stages can only shrink the corpus")
    assert(nLang < nTotal, "lang stage must drop rows")
    assert(nQuality < nLang, "quality stage must drop rows")
    assert(nClean < nExact, "near-dup stage must drop rows")
    // exact-dup arm: fixture has no byte-identical pair (dedup_exact's own
    // gate proves the flags), so equality — not a silent vacuity — is the
    // expected fixture value.
    assert(nExact == nQuality, "fixture contract: no exact duplicates")
  }

  test("token accounting agrees with the token_count gate over the survivors") {
    val t = q("corpus_clean_tokens").head()
    val survivors = q("corpus_clean").select("doc_id")
    val expectTokens = q("token_count").join(survivors, "doc_id")
      .agg(sum("n_ws_tokens")).head().getLong(0)
    assert(t.getLong(t.fieldIndex("n_docs")) == survivors.count(),
      "token gate's doc count must match the survivor table")
    assert(t.getLong(t.fieldIndex("n_tokens")) == expectTokens,
      "surviving token volume must be the survivor-joined token_count sum")
  }

  test("funnel n_clean equals the clean-corpus row count") {
    val f = q("corpus_clean_funnel").head()
    assert(f.getLong(f.fieldIndex("n_clean")) == q("corpus_clean").count(),
      "the funnel's terminal count and the survivor table must agree")
  }
}
