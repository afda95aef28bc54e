package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{ChunkMd5, DotProduct, MultiMinHash, ShingleMd5, SortedIntersectAtLeast, TokenFingerprint, TokenPairs, WindowMd5}
import graft.operators.{BudgetSelect, CountMin, Decontaminate, Dedup, Kmv, Packing, Similarity}

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
  * The functions are injected at session build: every session made by
  * `graft.GraftSession.builder` has them, as does any session built
  * with `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`, and
  * every `newSession()` of those.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.injection))
    GraftExtensions.tableFunctions.foreach(f =>
      ext.injectTableFunction(f.injection))
  }
}

object GraftExtensions {
  import org.apache.spark.sql.graftbridge

  /** One parameter of a SQL function. `tpe` None is a column
    * expression passed through as is; `Some(t)` is a literal of SQL
    * type `t` (STRING, INT, BIGINT or DOUBLE), read once at analysis,
    * and an integral one must lie in [`min`, `max`].
    */
  final case class Param(name: String, tpe: Option[DataType],
                         min: Long = Long.MinValue, max: Long = Long.MaxValue)

  private def expr(name: String) = Param(name, None)
  private def str(name: String) = Param(name, Some(StringType))
  private def int(name: String, min: Int, max: Int = Int.MaxValue) =
    Param(name, Some(IntegerType), min, max)
  private def long(name: String, min: Long) = Param(name, Some(LongType), min)
  private def double(name: String) = Param(name, Some(DoubleType))

  /** One SQL function: its name, its ordered parameters, and a builder
    * over the parsed argument values. The arity gate, the literal
    * reading and every analysis error derive from the parameters, and
    * each error names the call (`sqlExpr`) and the parameter.
    */
  final class SqlFunction[+R](val name: String, val params: Seq[Param],
                              build: Args => R) {
    /** `name(p1, p2, …)`: the ExpressionInfo usage, and the wrong-arity
      * error's function name, so that error lists the parameters too.
      */
    def signature: String = s"$name(${params.map(_.name).mkString(", ")})"

    def builder: Seq[Expression] => R = es => {
      if (es.length != params.length)
        throw graftbridge.wrongNumArgsError(signature, params.length, es.length)
      build(new Args(this, es, params.indices.map(read(es, _))))
    }

    def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => R) =
      (FunctionIdentifier(name), new ExpressionInfo(
        classOf[GraftExtensions].getName, null, name, signature,
        "", "", "", "", "", "", "built-in"), builder)

    /** Argument `i` as its parameter declares it: the expression itself,
      * or the literal's value (Long for INT and BIGINT).
      */
    private def read(es: Seq[Expression], i: Int): Any = {
      val (p, e) = (params(i), es(i))
      p.tpe.fold[Any](e) { t =>
        if (!e.foldable)
          throw mismatch(es, "NON_FOLDABLE_INPUT", "inputName" -> s"`${p.name}`",
            "inputType" -> s"\"${t.sql}\"", "inputExpr" -> s"\"${e.sql}\"")
        // a bare SQL decimal literal (0.9 without the D suffix) folds to
        // Spark's Decimal, which is not a java.lang.Number
        val v = e.eval(null) match {
          case d: Decimal => d.toJavaBigDecimal
          case x => x
        }
        (t, v) match {
          case (StringType, s: UTF8String) => s.toString
          case (DoubleType, n: Number) => n.doubleValue
          case (IntegerType | LongType, n: Number) =>
            if (n.longValue >= p.min && n.longValue <= p.max) n.longValue
            else throw mismatch(es, "VALUE_OUT_OF_RANGE",
              "exprName" -> s"`${p.name}`",
              "valueRange" -> s"[${p.min}, ${p.max}]",
              "currentValue" -> n.longValue.toString)
          case (_, null) =>
            throw mismatch(es, "UNEXPECTED_NULL", "exprName" -> s"`${p.name}`")
          case _ => // foldable but mistyped: name the expected type
            throw mismatch(es, "UNEXPECTED_INPUT_TYPE",
              "paramIndex" -> s"`${p.name}`", "requiredType" -> s"\"${t.sql}\"",
              "inputSql" -> s"\"${e.sql}\"",
              "inputType" -> s"\"${e.dataType.sql}\"")
        }
      }
    }

    /** Spark's `DATATYPE_MISMATCH.<sub>` analysis error for this call. */
    private[GraftExtensions] def mismatch(
        es: Seq[Expression], sub: String,
        fields: (String, String)*): AnalysisException =
      new AnalysisException(s"DATATYPE_MISMATCH.$sub", Map(
        "sqlExpr" -> s"\"$name(${es.map(_.sql).mkString(", ")})\"") ++ fields)
  }

  /** The parsed arguments of one call, by position. */
  final class Args private[GraftExtensions] (
      fn: SqlFunction[Any], es: Seq[Expression], values: Seq[Any]) {
    def expr(i: Int): Expression = values(i).asInstanceOf[Expression]
    def str(i: Int): String = values(i).asInstanceOf[String]
    def long(i: Int): Long = values(i).asInstanceOf[Long]
    def int(i: Int): Int = long(i).toInt
    def double(i: Int): Double = values(i).asInstanceOf[Double]
    def col(i: Int): Column = org.apache.spark.sql.functions.col(str(i))

    /** The view/table named by argument `i`, resolved against the
      * session running the analysis (table functions expand at
      * analysis time, when `SparkSession.active` is that session).
      */
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))

    /** Fails analysis unless `ok`, which states that argument `i` is
      * `constraint` argument `j`.
      */
    def check(ok: Boolean, i: Int, constraint: String, j: Int): Unit =
      if (!ok) throw fn.mismatch(es, "PARAMETER_CONSTRAINT_VIOLATION",
        "leftExprName" -> s"`${fn.params(i).name}`",
        "leftExprValue" -> values(i).toString, "constraint" -> constraint,
        "rightExprName" -> s"`${fn.params(j).name}`",
        "rightExprValue" -> values(j).toString)
  }

  private def scalar(name: String, params: Param*)(
      build: Args => Expression) =
    new SqlFunction[Expression](name, params, build)

  private def table(name: String, params: Param*)(build: Args => DataFrame) =
    new SqlFunction[LogicalPlan](name, params,
      build.andThen(_.queryExecution.logical))

  /** The custom expressions as SQL scalars. */
  val functions: Seq[SqlFunction[Expression]] = Seq(
    scalar("multi_min_hash", expr("tokens"), int("numHashes", 1),
      int("shingleLen", 1))(a => MultiMinHash(a.expr(0), a.int(1), a.int(2))),
    scalar("sorted_intersect_at_least", expr("left"), expr("right"),
      double("fracLeft"), double("fracRight"))(a =>
      SortedIntersectAtLeast(a.expr(0), a.expr(1), a.double(2), a.double(3))),
    scalar("token_fingerprint", expr("text"))(a => TokenFingerprint(a.expr(0))),
    scalar("dot_product", expr("left"), expr("right"))(a =>
      DotProduct(a.expr(0), a.expr(1))),
    scalar("shingle_md5", expr("tokens"), int("shingleLen", 1))(a =>
      ShingleMd5(a.expr(0), a.int(1))),
    scalar("chunk_md5", expr("tokens"), int("chunkLen", 1))(a =>
      ChunkMd5(a.expr(0), a.int(1))),
    scalar("window_md5", expr("tokens"), int("windowLen", 1))(a =>
      WindowMd5(a.expr(0), a.int(1))),
    scalar("token_pairs", expr("tokens"))(a => TokenPairs(a.expr(0))),
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
    scalar("graft_length_bucket_width", expr("n"), expr("maxLen"))(a =>
      dialLengthBucketWidth(a.expr(0), a.expr(1))),
    scalar("graft_sign_bits", expr("n"))(a => dialSignBits(a.expr(0))))

  /** [[graft.operators.BlockDials.lengthBucketWidth]] as a composed
    * built-in expression (1250 docs per block): `n == 0 -> max(1, mx+1)`, else
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
    * expression (750 vectors per bucket): the bit length of
    * `max(1, ceil(n/750.0)) - 1` via LENGTH(BIN(k-1)) — the same
    * no-floating-log2 form the DuckDB oracles use — clamped to
    * [1, 16].
    */
  private def dialSignBits(nE: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Bin, Cast, Ceil, Divide, Greatest, Least, Length, Literal, Subtract}
    val n = Cast(nE, LongType)
    val k = Greatest(Seq(
      Ceil(Divide(Cast(n, DoubleType), Literal(750.0))), Literal(1L)))
    val bits = Length(Bin(Subtract(k, Literal(1L))))
    Least(Seq(Literal(16), Greatest(Seq(Literal(1), bits))))
  }

  /** The operator-level table functions.
    * Contract: first argument is always the source VIEW NAME; column
    * arguments are column names in that view; the plan returned is
    * the operator's own DataFrame plan, so SQL and Scala callers get
    * the identical optimized shape. Only operators whose dials are
    * plain literals are exposed — the size-derived-dial variants
    * (BlockDials) run a driver action, which a function expansion
    * inside analysis must not do (one documented exception:
    * graft_near_dup_indexed, whose CC fixpoint is iterative by
    * nature — see its declaration comment).
    */
  val tableFunctions: Seq[SqlFunction[LogicalPlan]] = Seq(
    table("graft_exact_dedup", str("view"), str("idCol"), str("keyCol"))(a =>
      Dedup.exact(a.table(0), a.col(1), a.col(2))),
    table("graft_minhash_signatures", str("view"), str("idCol"),
      str("textCol"), int("numHashes", 1))(a =>
      Dedup.minhashSignatures(a.table(0), a.col(1), a.col(2), a.int(3))),
    table("graft_lsh_pairs", str("view"), str("idCol"), str("textCol"),
      int("numHashes", 1), int("bands", 1)) { a =>
      a.check(a.int(3) % a.int(4) == 0, 4, "a divisor of", 3)
      Dedup.minhashCandidates(a.table(0), a.col(1), a.col(2), a.int(3),
        a.int(4))
    },
    table("graft_containment_pairs", str("view"), str("idCol"),
      str("textCol"), double("threshold"))(a =>
      Dedup.containmentPairs(a.table(0), a.col(1), a.col(2), a.double(3))),
    table("graft_budget_select", str("view"), str("scoreCol"),
      str("nTokCol"), str("tieCol"), long("budget", 0))(a =>
      BudgetSelect.selectByTokenBudget(a.table(0), a.col(1), a.col(2),
        a.col(3), a.long(4))),
    table("graft_pack_sequences", str("view"), str("idCol"), str("tokenCol"),
      int("budget", 1))(a =>
      Packing.packByTokenBudget(a.table(0), a.col(1), a.col(2), a.int(3))),
    table("graft_kmv_distinct", str("view"), str("groupCol"), str("hvCol"),
      int("k", 1))(a =>
      Kmv.kSmallestDistinctByGroup(a.table(0), a.col(1), a.col(2), a.int(3))),
    // The blocked pair miners with literal dials — the second step
    // of the pure-SQL auto-dial recipe (first step: the
    // graft_length_bucket_width / graft_sign_bits scalars over one
    // stats query). Block scheme of graft_jaccard_pairs is the q45
    // shape: (language-ish column, floor(length / width)).
    table("graft_jaccard_pairs", str("view"), str("idCol"), str("textCol"),
      str("blockCol"), str("lenCol"), int("width", 1), double("threshold"))(a =>
      Dedup.jaccardPairs(a.table(0), a.col(1), a.col(2),
        blockKeys = Seq(a.col(3),
          org.apache.spark.sql.functions.floor(a.col(4) / a.int(5).toDouble)
            .cast("int")),
        threshold = a.double(6))),
    table("graft_cosine_pairs", str("view"), str("idCol"), str("vecCol"),
      double("threshold"), int("nbits", 1, 16))(a =>
      Similarity.cosinePairsBlocked(a.table(0), a.str(1), a.str(2),
        a.double(3), a.int(4))),
    table("graft_cosine_topk", str("view"), str("idCol"), str("vecCol"),
      int("k", 1), double("threshold"), int("nbits", 1, 16))(a =>
      Similarity.cosineTopKBlocked(a.table(0), a.str(1), a.str(2), a.int(3),
        a.double(4), a.int(5))),
    // Span-level duplicate statistics (the q129 operator) for
    // pure-SQL users: fixed-window exact-substring dedup stats.
    table("graft_dup_spans", str("view"), str("idCol"), str("textCol"),
      int("windowLen", 1))(a =>
      Dedup.dupSpanStats(a.table(0), a.col(1), a.col(2), a.int(3))),
    // Bloom decontamination (the q128 operator): corpus view + eval
    // view, gram length and the two filter dials as literals.
    table("graft_bloom_decontam", str("corpusView"), str("evalView"),
      str("idCol"), str("textCol"), int("n", 1), int("mBits", 2),
      int("numHashes", 1, 4))(a =>
      Decontaminate.bloomOverlap(a.table(0), a.table(1), a.str(2), a.str(3),
        a.int(4), a.int(5), a.int(6))),
    // Count-min heavy hitters (the q130 operator): bounded d×w
    // count state, over-estimate-only, exact counts on the winners.
    table("graft_cm_heavy_hitters", str("view"), str("keyCol"),
      int("width", 2), int("depth", 1, 4), int("k", 0))(a =>
      CountMin.heavyHitters(a.table(0), a.col(1), a.int(2), a.int(3),
        a.int(4))),
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
    table("graft_ivf_qualifying_pairs", str("indexView"),
      str("centroidsView"), double("threshold"), int("nprobe", 1))(a =>
      Similarity.indexedQualifyingPairs(a.table(0), a.table(1), a.double(2),
        a.int(3))),
    table("graft_cosine_topk_indexed", str("indexView"), str("centroidsView"),
      int("k", 1), double("threshold"), int("nprobe", 1))(a =>
      Similarity.cosineTopKIndexed(a.table(0), a.table(1), a.int(2),
        a.double(3), a.int(4))),
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
    table("graft_near_dup_indexed", str("indexView"), str("centroidsView"),
      double("threshold"), int("nprobe", 1))(a =>
      Similarity.nearDupComponentsIndexed(a.table(0), a.table(1),
        a.double(2), a.int(3))))
}
