package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** TF-IDF term scoring over a document corpus — the standard signal
  * for keyword extraction and quality weighting in training-data
  * pipelines.
  *
  * The idf is the LOG-FREE rational form `n_docs / df`: a product of
  * two exact IEEE quotients is bit-reproducible across engines
  * (`ln` implementations are not guaranteed to agree in the last ulp),
  * which is what lets the score itself sit under a cross-engine hash
  * gate. Monotone in the usual `ln`-idf, so top-k per doc is the same
  * ranking a log formulation gives when df ordering decides.
  *
  * Scale: one explode + (doc,term) shuffle for the term counts; the
  * document-frequency table is VOCABULARY-sized and joins back under
  * AQE's runtime size gate — broadcast while the distinct-term table
  * fits (it does at every test sf; PlansSpec pins it), a shuffle join
  * when it doesn't. The hint is deliberately NOT forced: a web-scale
  * corpus has a billions-row term table, and a forced broadcast
  * bypasses the size check to die at the broadcast limit instead of
  * degrading (the n_docs side stays hinted — one row by
  * construction). The
  * document length is `sum(cnt) OVER (PARTITION BY doc_id)`: this
  * window is NOT an extra exchange, because its doc_id partitioning
  * is exactly what the final rank window requires, so the one
  * doc-keyed exchange serves both (the executed plan shows the rank
  * window consuming the len window's sort order directly). Round 16
  * briefly "optimized" the len window away by carrying `size(toks)`
  * through a (doc, len, term) aggregate — a plan-reading argument
  * that MEASUREMENT reversed: the carried form re-introduces a
  * second doc-keyed exchange (plus a per-partition top-k pre-sort of
  * the whole tf table) for the rank window, and was 1.3×/2.0× slower
  * at sf0.1/sf1 with no sf10 win (PLANS.md "Round-17: q69
  * adjudicated" — the r16 sf10 "improvement" came from the
  * ObjectHashAggregate threshold fix landed the same round, not from
  * this rewrite).
  */
object TfIdf {

  /** Top-`k` terms per document by tf-idf (ties broken by term). */
  def topTerms(docs: DataFrame, id: Column, text: Column, k: Int,
               roundTo: Int = 9): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"), explode(tokens(text)).as("term"))
    // r21 note: tf feeds both the window branch and the df branch;
    // checkpointing tf to share it was tried and REVERTED — measured
    // solo med 0.82 -> 1.14 s at sf0.1: the materialization barrier +
    // erased size estimates cost more than the saved second explode,
    // the same verdict as r16's carried-length rewrite (PLANS.md
    // round 17, "q69 adjudicated").
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val tfLen = tf.withColumn("len",
      sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    // r22: count(when(cnt > 0, cnt)) instead of count(1) —
    // value-identical (every tf group has cnt >= 1 by construction,
    // so the branch is always taken and every group row is counted),
    // but the optimizer cannot prove it: a plain count(cnt) is
    // normalized back to count(1) (non-nullable child) and column
    // pruning then drops cnt out of this branch's copy of tf, making
    // the two (doc, term) exchange subtrees canonically DIFFERENT and
    // blocking reuse. With cnt pinned, both consumers' exchanges
    // canonicalize equal and ReuseExchange shares the tokenize+
    // explode+partial-count chain that previously ran twice (0 reused
    // stages in the r21 executed plan). This is the estimate-
    // preserving alternative to the twice-rejected checkpoint: no
    // LogicalRDD barrier, Catalyst stats intact, the df-side
    // broadcast decision unchanged.
    val dfTbl = tf.groupBy(col("term"))
      .agg(count(when(col("cnt") > 0, col("cnt"))).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tfLen
      .join(dfTbl, Seq("term"))
      .crossJoin(broadcast(nDocs))
      // (cnt/len) * (n/df) in exactly this association — mirrored in
      // the oracle so the doubles agree bit-for-bit; rounded before
      // ranking so a (hypothetical) ulp can't flip a rank
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("len").cast("double")) *
          (col("n_docs").cast("double") / col("df").cast("double")), roundTo))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }
}
