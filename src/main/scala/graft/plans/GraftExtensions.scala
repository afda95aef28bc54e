package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.expressions.{ChunkMd5, DotProduct, MultiMinHash, ShingleMd5, SortedIntersectAtLeast, TokenFingerprint, TokenPairs, WindowMd5}

/** SQL-surface registration of the engine's custom expressions, so
  * `spark.sql("SELECT token_fingerprint(lower(text)) …")` works — and
  * of the whole-operator entry points as TABLE functions, so
  * `spark.sql("SELECT * FROM graft_lsh_pairs('docs', …)")` works: a
  * pure-SQL user (the population the reference serves) can drive
  * exact/LSH dedup, containment dedup, budget selection, sequence
  * packing and KMV sketches without touching the Scala API. Each
  * table function takes the SOURCE as a view/table name literal and
  * columns as name literals, and expands at analysis time into the
  * operator's own logical plan — the SQL path and the DataFrame path
  * share one implementation, one optimizer run, one physical plan
  * (pinned in `SqlSurfaceSpec`; q119 oracles it end-to-end).
  *
  * Two entry points:
  *  - `GraftExtensions` for session construction:
  *    `SparkSession.builder().withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.plans.GraftExtensions`;
  *  - `GraftExtensions.register(spark)` to add the functions to an
  *    already-running session (temp registries).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    tableFunctions.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {
  import org.apache.spark.sql.graftbridge
  import org.apache.spark.sql.types.IntegerType

  /** Resolve argument `idx` of `fn` as a literal Int, failing analysis
    * (with the function's name, via Spark's own error classes) on a
    * non-foldable / non-integral / null argument instead of leaking a
    * raw NPE or ClassCastException from `eval(null)`.
    */
  private def intLit(fn: String, param: String,
                     es: Seq[Expression], idx: Int): Int = {
    val e = es(idx)
    if (!e.foldable)
      throw graftbridge.nonFoldableArgumentError(fn, param, IntegerType)
    e.eval(null) match {
      case n: Number => n.intValue()
      case _ => // foldable but mistyped: name the expected type
        throw graftbridge.unexpectedInputTypeError(fn, idx + 1,
          IntegerType, e)
    }
  }

  /** Like [[intLit]] for a literal Double threshold argument. */
  private def doubleLit(fn: String, param: String,
                        es: Seq[Expression], idx: Int): Double = {
    val e = es(idx)
    if (!e.foldable)
      throw graftbridge.nonFoldableArgumentError(fn, param,
        org.apache.spark.sql.types.DoubleType)
    e.eval(null) match {
      case n: Number => n.doubleValue()
      // a bare SQL decimal literal (0.9 without the D suffix) folds to
      // Spark's Decimal, which is NOT a java.lang.Number — without this
      // arm a perfectly foldable literal would fail analysis with the
      // misleading non-foldable error
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case _ => // foldable but mistyped: name the expected type
        throw graftbridge.unexpectedInputTypeError(fn, idx + 1,
          org.apache.spark.sql.types.DoubleType, e)
    }
  }

  /** Wrap a builder with an exact-arity gate so `fn(wrong, number,
    * of, args)` fails analysis naming `fn`, not with an
    * IndexOutOfBounds from `es(i)`.
    */
  private def arity(fn: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n)
        throw graftbridge.wrongNumArgsError(fn, n, es.length)
      build(es)
    }

  /** (name, info, builder) for each custom expression. */
  val functions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("multi_min_hash",
      new ExpressionInfo(classOf[MultiMinHash].getName, "multi_min_hash"),
      arity("multi_min_hash", 3)(es => MultiMinHash(es.head,
        intLit("multi_min_hash", "numHashes", es, 1),
        intLit("multi_min_hash", "shingleLen", es, 2)))),
    ("sorted_intersect_at_least",
      new ExpressionInfo(classOf[SortedIntersectAtLeast].getName,
        "sorted_intersect_at_least"),
      arity("sorted_intersect_at_least", 4)(es =>
        SortedIntersectAtLeast(es.head, es(1),
          doubleLit("sorted_intersect_at_least", "fracLeft", es, 2),
          doubleLit("sorted_intersect_at_least", "fracRight", es, 3)))),
    ("token_fingerprint",
      new ExpressionInfo(classOf[TokenFingerprint].getName,
        "token_fingerprint"),
      arity("token_fingerprint", 1)(es => TokenFingerprint(es.head))),
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      arity("dot_product", 2)(es => DotProduct(es.head, es(1)))),
    ("shingle_md5",
      new ExpressionInfo(classOf[ShingleMd5].getName, "shingle_md5"),
      arity("shingle_md5", 2)(es => ShingleMd5(es.head,
        intLit("shingle_md5", "shingleLen", es, 1)))),
    ("chunk_md5",
      new ExpressionInfo(classOf[ChunkMd5].getName, "chunk_md5"),
      arity("chunk_md5", 2)(es => ChunkMd5(es.head,
        intLit("chunk_md5", "chunkLen", es, 1)))),
    ("window_md5",
      new ExpressionInfo(classOf[WindowMd5].getName, "window_md5"),
      arity("window_md5", 2)(es => WindowMd5(es.head,
        intLit("window_md5", "windowLen", es, 1)))),
    ("token_pairs",
      new ExpressionInfo(classOf[TokenPairs].getName, "token_pairs"),
      arity("token_pairs", 1)(es => TokenPairs(es.head))),
    // ---- size-derived blocking dials as SQL scalars ----------------
    // The auto-dial flow q45/q57 use is two steps: (1) one stats agg,
    // (2) the blocked operator with the derived dial. The table
    // functions can't run step (1) themselves (a function expansion
    // inside analysis must not launch a driver action), but the dial
    // ARITHMETIC is a pure scalar — exposing it lets a pure-SQL user
    // run the identical flow:
    //   SELECT graft_length_bucket_width(COUNT(*), MAX(n_chars)) ...
    // then pass the result as the literal dial of graft_jaccard_pairs.
    // Both expand to compositions of built-in expressions replicating
    // BlockDials' integer formulas exactly (cross-checked per value in
    // SqlSurfaceSpec), so they fold, codegen, and run on columns too.
    ("graft_length_bucket_width",
      tfInfo("graft_length_bucket_width"),
      arity("graft_length_bucket_width", 2)(es =>
        dialLengthBucketWidth(es.head, es(1)))),
    ("graft_sign_bits",
      tfInfo("graft_sign_bits"),
      arity("graft_sign_bits", 1)(es => dialSignBits(es.head))))

  /** [[graft.operators.BlockDials.lengthBucketWidth]] as a composed
    * built-in expression (docsPerBlock fixed at the dial's default
    * 1250): `n == 0 -> max(1, mx+1)`, else
    * `max(1, ceil((mx+1) / ceil(n/1250.0)))`. Both `ceil`s are the
    * same one-correctly-rounded-double-division-then-ceil the Scala
    * dial uses, so the values are bit-identical.
    */
  private def dialLengthBucketWidth(nE: Expression,
                                    mxE: Expression): Expression = {
    // raw Catalyst nodes, not Column arithmetic: a Column built inside
    // a function builder round-trips through ColumnNodeExpression,
    // which the analyzer never lowers (codegen INTERNAL_ERROR)
    import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Cast, Ceil, Divide, EqualTo, Greatest, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val n = Cast(nE, LongType)
    val mx = Cast(mxE, LongType)
    val k = Ceil(Divide(Cast(n, DoubleType), Literal(1250.0)))
    val w = Greatest(Seq(Literal(1L),
      Ceil(Divide(Cast(Add(mx, Literal(1L)), DoubleType),
        Cast(k, DoubleType)))))
    val zeroCase = Greatest(Seq(Literal(1L), Add(mx, Literal(1L))))
    Cast(CaseWhen(Seq((EqualTo(n, Literal(0L)), zeroCase)), Some(w)),
      IntegerType)
  }

  /** [[graft.operators.BlockDials.signBits]] as a composed built-in
    * expression (targetOccupancy 750, maxBits 16): the bit length of
    * `max(1, ceil(n/750.0)) - 1` via LENGTH(BIN(k-1)) — the same
    * no-floating-log2 form the DuckDB oracles use — clamped to
    * [1, 16].
    */
  private def dialSignBits(nE: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Bin, Cast, Ceil, Divide, Greatest, Least, Length, Literal, Subtract}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val n = Cast(nE, LongType)
    val k = Greatest(Seq(
      Ceil(Divide(Cast(n, DoubleType), Literal(750.0))), Literal(1L)))
    val bits = Length(Bin(Subtract(k, Literal(1L))))
    Least(Seq(Literal(16), Greatest(Seq(Literal(1), bits))))
  }

  // ---- whole-operator TABLE functions -------------------------------

  /** Resolve argument `idx` as a literal String (view or column
    * name), with the same loud analysis errors as [[intLit]].
    */
  private def strLit(fn: String, param: String,
                     es: Seq[Expression], idx: Int): String = {
    val e = es(idx)
    if (!e.foldable)
      throw graftbridge.nonFoldableArgumentError(fn, param,
        org.apache.spark.sql.types.StringType)
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case _ => // foldable but mistyped: name the expected type
        throw graftbridge.unexpectedInputTypeError(fn, idx + 1,
          org.apache.spark.sql.types.StringType, e)
    }
  }

  private def longLit(fn: String, param: String,
                      es: Seq[Expression], idx: Int): Long = {
    val e = es(idx)
    if (!e.foldable)
      throw graftbridge.nonFoldableArgumentError(fn, param,
        org.apache.spark.sql.types.LongType)
    e.eval(null) match {
      case n: Number => n.longValue()
      case d: org.apache.spark.sql.types.Decimal => d.toLong
      case _ => // foldable but mistyped: name the expected type
        throw graftbridge.unexpectedInputTypeError(fn, idx + 1,
          org.apache.spark.sql.types.LongType, e)
    }
  }

  /** The named view/table, resolved against the session running the
    * analysis (table functions expand at analysis time, when
    * `SparkSession.active` is the analyzing session).
    */
  private def activeTable(view: String) =
    SparkSession.active.table(view)

  private def arityT(fn: String, n: Int)(
      build: Seq[Expression] => LogicalPlan): Seq[Expression] => LogicalPlan =
    es => {
      if (es.length != n)
        throw graftbridge.wrongNumArgsError(fn, n, es.length)
      build(es)
    }

  private def tfInfo(name: String): ExpressionInfo =
    new ExpressionInfo("graft.plans.GraftExtensions", name)

  /** (name, info, builder) for each operator-level table function.
    * Contract: first argument is always the source VIEW NAME; column
    * arguments are column names in that view; the plan returned is
    * the operator's own DataFrame plan, so SQL and Scala callers get
    * the identical optimized shape. Only operators whose dials are
    * plain literals are exposed — the size-derived-dial variants
    * (BlockDials) run a driver action, which a function expansion
    * inside analysis must not do (one documented exception:
    * graft_near_dup_indexed, whose CC fixpoint is iterative by
    * nature — see its registration comment).
    */
  val tableFunctions: Seq[(String, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{BudgetSelect, Dedup, Kmv, Packing}
    def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
      df.queryExecution.logical
    Seq(
      ("graft_exact_dedup", tfInfo("graft_exact_dedup"),
        arityT("graft_exact_dedup", 3)(es => plan(Dedup.exact(
          activeTable(strLit("graft_exact_dedup", "view", es, 0)),
          col(strLit("graft_exact_dedup", "idCol", es, 1)),
          col(strLit("graft_exact_dedup", "keyCol", es, 2)))))),
      ("graft_minhash_signatures", tfInfo("graft_minhash_signatures"),
        arityT("graft_minhash_signatures", 4)(es =>
          plan(Dedup.minhashSignatures(
            activeTable(strLit("graft_minhash_signatures", "view", es, 0)),
            col(strLit("graft_minhash_signatures", "idCol", es, 1)),
            col(strLit("graft_minhash_signatures", "textCol", es, 2)),
            intLit("graft_minhash_signatures", "numHashes", es, 3))))),
      ("graft_lsh_pairs", tfInfo("graft_lsh_pairs"),
        arityT("graft_lsh_pairs", 5)(es => plan(Dedup.minhashCandidates(
          activeTable(strLit("graft_lsh_pairs", "view", es, 0)),
          col(strLit("graft_lsh_pairs", "idCol", es, 1)),
          col(strLit("graft_lsh_pairs", "textCol", es, 2)),
          intLit("graft_lsh_pairs", "numHashes", es, 3),
          intLit("graft_lsh_pairs", "bands", es, 4))))),
      ("graft_containment_pairs", tfInfo("graft_containment_pairs"),
        arityT("graft_containment_pairs", 4)(es =>
          plan(Dedup.containmentPairs(
            activeTable(strLit("graft_containment_pairs", "view", es, 0)),
            col(strLit("graft_containment_pairs", "idCol", es, 1)),
            col(strLit("graft_containment_pairs", "textCol", es, 2)),
            doubleLit("graft_containment_pairs", "threshold", es, 3))))),
      ("graft_budget_select", tfInfo("graft_budget_select"),
        arityT("graft_budget_select", 5)(es =>
          plan(BudgetSelect.selectByTokenBudget(
            activeTable(strLit("graft_budget_select", "view", es, 0)),
            col(strLit("graft_budget_select", "scoreCol", es, 1)),
            col(strLit("graft_budget_select", "nTokCol", es, 2)),
            col(strLit("graft_budget_select", "tieCol", es, 3)),
            longLit("graft_budget_select", "budget", es, 4))))),
      ("graft_pack_sequences", tfInfo("graft_pack_sequences"),
        arityT("graft_pack_sequences", 4)(es =>
          plan(Packing.packByTokenBudget(
            activeTable(strLit("graft_pack_sequences", "view", es, 0)),
            col(strLit("graft_pack_sequences", "idCol", es, 1)),
            col(strLit("graft_pack_sequences", "tokenCol", es, 2)),
            intLit("graft_pack_sequences", "budget", es, 3))))),
      ("graft_kmv_distinct", tfInfo("graft_kmv_distinct"),
        arityT("graft_kmv_distinct", 4)(es =>
          plan(Kmv.kSmallestDistinctByGroup(
            activeTable(strLit("graft_kmv_distinct", "view", es, 0)),
            col(strLit("graft_kmv_distinct", "groupCol", es, 1)),
            col(strLit("graft_kmv_distinct", "hvCol", es, 2)),
            intLit("graft_kmv_distinct", "k", es, 3))))),
      // The blocked pair miners with literal dials — the second step
      // of the pure-SQL auto-dial recipe (first step: the
      // graft_length_bucket_width / graft_sign_bits scalars over one
      // stats query). Block scheme of graft_jaccard_pairs is the q45
      // shape: (language-ish column, floor(length / width)).
      ("graft_jaccard_pairs", tfInfo("graft_jaccard_pairs"),
        arityT("graft_jaccard_pairs", 7)(es => {
          val w = intLit("graft_jaccard_pairs", "width", es, 5)
          plan(graft.operators.Dedup.jaccardPairs(
            activeTable(strLit("graft_jaccard_pairs", "view", es, 0)),
            col(strLit("graft_jaccard_pairs", "idCol", es, 1)),
            col(strLit("graft_jaccard_pairs", "textCol", es, 2)),
            blockKeys = Seq(
              col(strLit("graft_jaccard_pairs", "blockCol", es, 3)),
              org.apache.spark.sql.functions.floor(
                col(strLit("graft_jaccard_pairs", "lenCol", es, 4))
                  / w.toDouble).cast("int")),
            threshold =
              doubleLit("graft_jaccard_pairs", "threshold", es, 6)))
        })),
      ("graft_cosine_pairs", tfInfo("graft_cosine_pairs"),
        arityT("graft_cosine_pairs", 5)(es =>
          plan(graft.operators.Similarity.cosinePairsBlocked(
            activeTable(strLit("graft_cosine_pairs", "view", es, 0)),
            strLit("graft_cosine_pairs", "idCol", es, 1),
            strLit("graft_cosine_pairs", "vecCol", es, 2),
            doubleLit("graft_cosine_pairs", "threshold", es, 3),
            intLit("graft_cosine_pairs", "nbits", es, 4))))),
      ("graft_cosine_topk", tfInfo("graft_cosine_topk"),
        arityT("graft_cosine_topk", 6)(es =>
          plan(graft.operators.Similarity.cosineTopKBlocked(
            activeTable(strLit("graft_cosine_topk", "view", es, 0)),
            strLit("graft_cosine_topk", "idCol", es, 1),
            strLit("graft_cosine_topk", "vecCol", es, 2),
            intLit("graft_cosine_topk", "k", es, 3),
            doubleLit("graft_cosine_topk", "threshold", es, 4),
            intLit("graft_cosine_topk", "nbits", es, 5))))),
      // Span-level duplicate statistics (the q129 operator) for
      // pure-SQL users: fixed-window exact-substring dedup stats.
      ("graft_dup_spans", tfInfo("graft_dup_spans"),
        arityT("graft_dup_spans", 4)(es => plan(Dedup.dupSpanStats(
          activeTable(strLit("graft_dup_spans", "view", es, 0)),
          col(strLit("graft_dup_spans", "idCol", es, 1)),
          col(strLit("graft_dup_spans", "textCol", es, 2)),
          intLit("graft_dup_spans", "windowLen", es, 3))))),
      // Bloom decontamination (the q128 operator): corpus view + eval
      // view, gram length and the two filter dials as literals.
      ("graft_bloom_decontam", tfInfo("graft_bloom_decontam"),
        arityT("graft_bloom_decontam", 7)(es =>
          plan(graft.operators.Decontaminate.bloomOverlap(
            activeTable(strLit("graft_bloom_decontam", "corpusView", es, 0)),
            activeTable(strLit("graft_bloom_decontam", "evalView", es, 1)),
            strLit("graft_bloom_decontam", "idCol", es, 2),
            strLit("graft_bloom_decontam", "textCol", es, 3),
            intLit("graft_bloom_decontam", "n", es, 4),
            intLit("graft_bloom_decontam", "mBits", es, 5),
            intLit("graft_bloom_decontam", "numHashes", es, 6))))),
      // Count-min heavy hitters (the q130 operator): bounded d×w
      // count state, over-estimate-only, exact counts on the winners.
      ("graft_cm_heavy_hitters", tfInfo("graft_cm_heavy_hitters"),
        arityT("graft_cm_heavy_hitters", 5)(es =>
          plan(graft.operators.CountMin.heavyHitters(
            activeTable(strLit("graft_cm_heavy_hitters", "view", es, 0)),
            col(strLit("graft_cm_heavy_hitters", "keyCol", es, 1)),
            intLit("graft_cm_heavy_hitters", "width", es, 2),
            intLit("graft_cm_heavy_hitters", "depth", es, 3),
            intLit("graft_cm_heavy_hitters", "k", es, 4))))),
      // The IVF-INDEXED miners — the production decision path (q124/
      // q125: >= 0.95 planted recall where the sign-bucket miners
      // above measure 0.70-0.78 on clustered corpora, RecallSpec) for
      // pure-SQL users. Both take the MATERIALIZED index layout as
      // views (the writeIvfIndex parquet — `item_id, cv, cn, list_id`
      // — and its centroids `centroid_id, centroid`), reachable in
      // pure SQL via `CREATE TEMP VIEW idx AS SELECT * FROM
      // parquet.`/path``: probing a standing index is the production
      // shape (the in-query build is the one-off backfill, a Scala/
      // offline job), and it keeps these expansions action-free.
      ("graft_ivf_qualifying_pairs", tfInfo("graft_ivf_qualifying_pairs"),
        arityT("graft_ivf_qualifying_pairs", 4)(es =>
          plan(graft.operators.Similarity.indexedQualifyingPairs(
            activeTable(strLit("graft_ivf_qualifying_pairs",
              "indexView", es, 0)),
            activeTable(strLit("graft_ivf_qualifying_pairs",
              "centroidsView", es, 1)),
            doubleLit("graft_ivf_qualifying_pairs", "threshold", es, 2),
            intLit("graft_ivf_qualifying_pairs", "nprobe", es, 3))))),
      ("graft_cosine_topk_indexed", tfInfo("graft_cosine_topk_indexed"),
        arityT("graft_cosine_topk_indexed", 5)(es =>
          plan(graft.operators.Similarity.cosineTopKIndexed(
            activeTable(strLit("graft_cosine_topk_indexed",
              "indexView", es, 0)),
            activeTable(strLit("graft_cosine_topk_indexed",
              "centroidsView", es, 1)),
            intLit("graft_cosine_topk_indexed", "k", es, 2),
            doubleLit("graft_cosine_topk_indexed", "threshold", es, 3),
            intLit("graft_cosine_topk_indexed", "nprobe", es, 4))))),
      // The DOCUMENTED EXCEPTION to the action-free expansion
      // contract: star-contraction CC is a convergence-checked
      // fixpoint (rounds are data-dependent, so no pure plan can
      // express it), and near-dup COMPONENTS — not pairs — are what a
      // dedup decision needs. Expanding it runs the fixpoint eagerly
      // at analysis time and embeds the Θ(n) label result (over
      // checkpointed blocks) as the plan; re-analyzing the same SQL
      // recomputes it. A pure-plan alternative for SQL users who
      // refuse the eager form: graft_ivf_qualifying_pairs +
      // WITH RECURSIVE min-label propagation (the q125 oracle's
      // shape).
      ("graft_near_dup_indexed", tfInfo("graft_near_dup_indexed"),
        arityT("graft_near_dup_indexed", 4)(es =>
          plan(graft.operators.Similarity.nearDupComponentsIndexed(
            activeTable(strLit("graft_near_dup_indexed",
              "indexView", es, 0)),
            activeTable(strLit("graft_near_dup_indexed",
              "centroidsView", es, 1)),
            doubleLit("graft_near_dup_indexed", "threshold", es, 2),
            intLit("graft_near_dup_indexed", "nprobe", es, 3))))))
  }

  /** Register into an existing session's temp registries (scalar and
    * table functions).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    tableFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
