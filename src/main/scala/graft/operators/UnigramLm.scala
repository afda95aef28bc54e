package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-statistics language-model scoring: rate each document by
  * how "familiar" its tokens are under the corpus's own unigram
  * distribution — the classic cheap quality/outlier signal (a doc of
  * rare junk tokens scores low; boilerplate scores high) used to
  * stratify pre-training data before any neural scorer runs.
  *
  * The score is deliberately log-free: `ln` is not ulp-stable across
  * engines (see q69's TF-IDF note), so instead of mean log-prob we
  * surface the exact-rational mean token frequency — one IEEE double
  * division of exact integers, bit-identical everywhere — plus a
  * scale-invariant rare-token count (a token is rare when its count
  * is under 1/(RareFactor · n_vocab) of all tokens, i.e. RareFactor×
  * below the uniform share, so the flag survives data-size changes).
  *
  * Scale shape: one explode + groupBy(term) builds the vocab (token
  * skew is absorbed by map-side partial counts); the per-doc pass
  * joins tokens to the vocab — broadcast ONLY when the measured vocab
  * row count is under `broadcastMaxVocab` (a web-junk tokenizer at
  * 100 TB can emit 1e9+ distinct tokens, which would OOM the driver
  * and every executor); above the cap the hint is omitted and the
  * join shuffles on `term` (or AQE re-plans it). The vocab size comes
  * free: the corpus totals are a single-row aggregate we collect
  * anyway to fold `total`/`n_vocab` in as literals instead of the
  * previous crossJoin.
  */
object UnigramLm {

  /** How far below the uniform token share a token must fall to count
    * as rare.
    */
  private val RareFactor = 4

  def score(docs: DataFrame, id: String, text: String,
            broadcastMaxVocab: Long = 50L * 1000 * 1000): DataFrame = {
    val toks = docs.select(col(id),
      explode(TextFunctions.tokens(lower(col(text)))).as("term"))
    // lazily checkpointed: the vocab is consumed TWICE (the stats
    // collect below and the per-doc join) and the explode+groupBy
    // behind it is the most expensive pass in the operator — without
    // materializing it the whole corpus scan runs twice. LAZY, not
    // eager: the stats collect right below is the materializing
    // action, so the operator stays at two jobs total instead of
    // adding a third just to fill the cache
    val v = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    // one driver action on a 1-row aggregate: the scalar corpus stats
    // (the standard Spark pattern for query-shaping parameters)
    val statsRow = v.agg(sum(col("cnt")).as("total"),
                         count(lit(1)).as("n_vocab")).collect()(0)
    val total = // sum() is null on an empty corpus
      if (statsRow.isNullAt(0)) 0L else statsRow.getAs[Long]("total")
    val nVocab = statsRow.getAs[Long]("n_vocab")
    val v2 = v
      .withColumn("rare",
        col("cnt") * lit(nVocab) * lit(RareFactor) < lit(total))
      .select(col("term"), col("cnt"), col("rare"),
              lit(total).as("total"))
    val vocabSide = if (nVocab <= broadcastMaxVocab) broadcast(v2) else v2
    toks.join(vocabSide, Seq("term"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("cnt")).as("sum_cnt"),
           sum(when(col("rare"), 1L).otherwise(0L)).as("n_rare"),
           // constant across the corpus; carried per-group so the
           // final division needs no second scalar join
           first(col("total")).as("total"))
      .withColumn("avg_freq",
        round(col("sum_cnt").cast("double")
          / (col("total") * col("n_tokens")), 9))
      .drop("total")
  }
}
