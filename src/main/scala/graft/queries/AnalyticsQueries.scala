package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Round-5 analytics surface: multi-dimensional aggregation (cube),
  * pivot/unpivot reshaping, corpus vocabulary via explode, a
  * deterministic KMV distinct-count sketch, heavy hitters, fixed-window
  * chunk dedup, funnel analysis, and the SQL-text API end-to-end.
  *
  * The reference (`etl_cid10.py`) has none of these — they are the
  * engine-extension tier (SURVEY.md §7): the operations a training-data
  * pipeline needs at 100 TB, each expressed as declarative DataFrame
  * plans so Catalyst keeps pushdown/pruning, and each DuckDB-oracled.
  */
object AnalyticsQueries extends Catalog {

  private val ws = graft.functions.TextFunctions.wsClass
  private val duckToks = s"regexp_split_to_array(trim(text), '$ws+')"
  private val duckToksLower =
    s"regexp_split_to_array(trim(lower(text)), '$ws+')"

  /** KMV sketch size. */
  private val KmvK = 256

  /** Fixed token window for chunk-level dedup. */
  private val ChunkW = 20

  /** The shared SQL text for q80 — runs verbatim in both engines.
    * (Declared before `queries`, which captures it at object init.) */
  private val Q80Sql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  override val queries: Seq[Q] = Seq(

    // Multi-dimensional aggregation: CUBE with a grouping-id column.
    // Both engines pin NULLS FIRST (Spark's ASC default; DuckDB's is
    // NULLS LAST) so subtotal rows land in identical positions.
    Q("q73_cube",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (grouping(col("l_returnflag")) * 2
            + grouping(col("l_linestatus"))).cast("int").as("gid"),
          count(lit(1)).as("n_rows"),
          Catalog.dsumCol(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus)
              |       AS INTEGER) AS gid,
              |  COUNT(*) AS n_rows,
              |  ${Catalog.dsum("l_extendedprice")} AS sum_price
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag NULLS FIRST,
              |  l_linestatus NULLS FIRST""".stripMargin)),

    // Pivot: one row per user, one column per event type (fixed value
    // list — Spark never scans for pivot values, so the plan is a
    // single shuffle-agg; absent cells stay NULL on both sides).
    Q("q74_pivot",
      (s, dir) => Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
               Seq("view", "click", "purchase", "signup", "error"))
        .agg(Catalog.dsumCol(col("value")))
        .orderBy(col("user_id")),
      Some {
        val cells = Seq("view", "click", "purchase", "signup", "error")
          .map(t => s"""CAST(SUM(CAST(value AS DECIMAL(18,2)))
             | FILTER (WHERE event_type = '$t') AS DOUBLE) AS "$t""""
            .stripMargin.replace("\n", ""))
        s"""SELECT user_id, ${cells.mkString(", ")}
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      }),

    // Corpus vocabulary: explode tokens -> (term, document frequency,
    // collection frequency). The explode+groupBy shape is the canonical
    // one-shuffle corpus statistic at 100 TB (map-side partial counts).
    Q("q75_vocab",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
                explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"),
             count(lit(1)).as("cf"))
        .orderBy(col("term")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest($duckToksLower) AS term
              |  FROM documents)
              |SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
              |FROM t GROUP BY term ORDER BY term""".stripMargin)),

    // KMV (k-minimum-values) distinct-count sketch: hash every value to
    // 32 bits via md5, keep the K smallest distinct hashes, estimate
    // |D| = (K-1) * 2^32 / max(kept). Unlike HLL this is exactly
    // reproducible from SQL, so the sketch itself is oracle-gated; the
    // production path at 100 TB is approx_count_distinct (HLL), this is
    // its auditable stand-in. All arithmetic stays on exact-integer
    // doubles (255 * 2^32 < 2^53), so the floor() is engine-stable.
    Q("q76_kmv_distinct",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        // r21 note: a distinct-partkey-first rewrite (shared subtree
        // for sketch + exact, md5 per distinct key) was tried and
        // REVERTED: Catalyst's RemoveRedundantAggregates collapses
        // distinct(md5(pk))-over-distinct(pk) back to one aggregate
        // over the occurrences, so the branches share nothing and the
        // extra aggregate level only added a stage (measured 0.68 →
        // 0.83-0.96 s solo at sf0.1).
        val hv = li.select(
          conv(substring(md5(col("l_partkey").cast("string")), 1, 8),
               16, 10).cast("bigint").as("hv")).distinct()
        val sketch = hv.orderBy(col("hv")).limit(KmvK)
          .agg(count(lit(1)).cast("int").as("k_used"),
               max(col("hv")).as("rk"))
          .select(col("k_used"), col("rk"),
            // saturated sketch (fewer than K hashes exist) -> the count
            // is exact; otherwise the (K-1)/R_k ratio estimate
            when(col("k_used") < KmvK, col("k_used").cast("bigint"))
              .otherwise(floor(lit((KmvK - 1).toDouble)
                * lit(4294967296.0) / col("rk").cast("double"))
                .cast("bigint"))
              .as("est_distinct"))
        sketch.crossJoin(
          li.agg(countDistinct(col("l_partkey")).as("exact_distinct")))
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT CAST(concat('0x',
              |    substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
              |    AS BIGINT) AS hv
              |  FROM lineitem),
              |topk AS (SELECT hv FROM h ORDER BY hv LIMIT $KmvK),
              |sk AS (
              |  SELECT CAST(COUNT(*) AS INTEGER) AS k_used,
              |    MAX(hv) AS rk,
              |    CAST(CASE WHEN COUNT(*) < $KmvK THEN COUNT(*)
              |      ELSE FLOOR(${KmvK - 1}.0 * 4294967296.0
              |        / CAST(MAX(hv) AS DOUBLE)) END AS BIGINT)
              |      AS est_distinct
              |  FROM topk)
              |SELECT sk.*, e.exact_distinct
              |FROM sk CROSS JOIN (
              |  SELECT COUNT(DISTINCT l_partkey) AS exact_distinct
              |  FROM lineitem) e""".stripMargin)),

    // KMV sketch MERGE == RECOMPUTE: per-group sketches (the K
    // smallest distinct hashes per l_returnflag) merged by
    // union→distinct→K-smallest must equal the sketch computed over
    // the whole table in one pass — every global top-K hash is
    // necessarily inside its own group's top-K. This is the algebraic
    // property that lets a warehouse keep per-partition sketches and
    // combine them without rescanning history (the sketch counterpart
    // of q92's incremental-aggregate contract); both engines compute
    // BOTH paths, so the hash gate pins merge-exactness numerically.
    // At 100 TB the per-group top-K is a partial TakeOrdered (K rows
    // per task) and the merge handles K×groups rows — nothing
    // corpus-sized is re-shuffled.
    Q("q117_kmv_merge",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val hashed = li.select(col("l_returnflag"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 8),
               16, 10).cast("bigint").as("hv"))
        // both paths go through the bounded per-partition partial
        // sketch (operators/Kmv) — the 60M-row distinct exchange the
        // naive form pays is replaced by ≤K rows per group per
        // partition (8.8 s → see PLANS.md sf10 note). r21: the two
        // sketches come from ONE scan (dual-sketch mapPartitions) —
        // the global sketch is still its own independent recompute
        // from every row, so merge_exact stays a real comparison;
        // only the table scan + per-occurrence md5 are shared.
        val (perGroup, hv) = graft.operators.Kmv
          .kSmallestDistinctByGroupWithGlobal(hashed,
            col("l_returnflag"), col("hv"), KmvK)
        def sketch(h: org.apache.spark.sql.DataFrame, pre: String) =
          h.orderBy(col("hv")).limit(KmvK)
            .agg(count(lit(1)).cast("int").as(s"${pre}_k"),
                 max(col("hv")).as(s"${pre}_rk"))
            .select(col(s"${pre}_k"), col(s"${pre}_rk"),
              when(col(s"${pre}_k") < KmvK,
                  col(s"${pre}_k").cast("bigint"))
                .otherwise(floor(lit((KmvK - 1).toDouble)
                  * lit(4294967296.0) / col(s"${pre}_rk").cast("double"))
                  .cast("bigint")).as(s"${pre}_est"))
        val merged = sketch(perGroup.select(col("hv")).distinct(), "m")
        val direct = sketch(hv.select(col("hv")).distinct(), "d")
        merged.crossJoin(direct)
          .withColumn("merge_exact",
            col("m_k") === col("d_k") && col("m_rk") === col("d_rk") &&
              col("m_est") === col("d_est"))
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT l_returnflag, CAST(concat('0x',
              |    substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
              |    AS BIGINT) AS hv
              |  FROM lineitem),
              |pg AS (
              |  SELECT hv FROM (
              |    SELECT hv, row_number() OVER (
              |      PARTITION BY l_returnflag ORDER BY hv) AS rn
              |    FROM h) t WHERE rn <= $KmvK),
              |mk AS (SELECT DISTINCT hv FROM pg ORDER BY hv LIMIT $KmvK),
              |dk AS (SELECT DISTINCT hv FROM h ORDER BY hv LIMIT $KmvK),
              |m AS (
              |  SELECT CAST(COUNT(*) AS INTEGER) AS m_k,
              |    MAX(hv) AS m_rk,
              |    CAST(CASE WHEN COUNT(*) < $KmvK THEN COUNT(*)
              |      ELSE FLOOR(${KmvK - 1}.0 * 4294967296.0
              |        / CAST(MAX(hv) AS DOUBLE)) END AS BIGINT) AS m_est
              |  FROM mk),
              |d AS (
              |  SELECT CAST(COUNT(*) AS INTEGER) AS d_k,
              |    MAX(hv) AS d_rk,
              |    CAST(CASE WHEN COUNT(*) < $KmvK THEN COUNT(*)
              |      ELSE FLOOR(${KmvK - 1}.0 * 4294967296.0
              |        / CAST(MAX(hv) AS DOUBLE)) END AS BIGINT) AS d_est
              |  FROM dk)
              |SELECT m.*, d.*,
              |  (m_k = d_k AND m_rk = d_rk AND m_est = d_est)
              |    AS merge_exact
              |FROM m CROSS JOIN d""".stripMargin)),

    // The PRODUCTION approximate-distinct path, bounded-error-gated:
    // q76's KMV sketch is the deterministic cross-engine anchor, but
    // what actually runs at 100 TB is HLL (approx_count_distinct — a
    // fixed-size sketch with map-side partial merge, no distinct
    // shuffle). HLL registers differ by engine, so the sketch value
    // itself can't hash-match; instead BOTH engines compute sketch AND
    // exact per group and emit (exact, |est-exact|/exact <= eps). The
    // exact columns hash-match as usual and the boolean gates each
    // engine's own sketch inside the error bound. Spark runs at
    // rsd=0.02 against eps=0.10, a 5-sigma margin — the flag is
    // deterministic (HLL has no RNG), not flaky.
    Q("q104_approx_distinct_gate",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts"),
               approx_count_distinct(col("l_partkey"), 0.02).as("est"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("est") - col("exact_parts")).cast("double")
              / col("exact_parts").cast("double") <= 0.10)
              .as("within_eps"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS exact_parts,
             |  ABS(approx_count_distinct(l_partkey)
             |      - COUNT(DISTINCT l_partkey))
             |    / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) <= 0.10
             |    AS within_eps
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Heavy hitters: exact global top-20 terms. TakeOrderedAndProject
    // keeps the top-k partial per partition — only 20 rows per task
    // cross the final exchange.
    Q("q77_heavy_hitters",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(20),
      Some(s"""WITH t AS (
              |  SELECT unnest($duckToksLower) AS term FROM documents)
              |SELECT term, COUNT(*) AS cnt FROM t GROUP BY term
              |ORDER BY cnt DESC, term LIMIT 20""".stripMargin)),

    // Count-min heavy hitters: q77's bounded-state sibling — the
    // count state is a deterministic 2x1024 md5-bucketed grid
    // whatever the key cardinality, estimates can only OVER-count
    // (law in OperatorsSpec), and the exact count rides along for the
    // 20 winners so the over-count is visible. The oracle replays the
    // grid, the min-estimates, and the tie-broken top-k bit-for-bit.
    Q("q130_cm_heavy_hitters",
      (s, dir) => graft.operators.CountMin.heavyHitters(
        Tables.load(s, dir, "lineitem"),
        col("l_partkey"), width = 1024, depth = 2, k = 20),
      Some(s"""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS key
              |  FROM lineitem WHERE l_partkey IS NOT NULL),
              |b AS (SELECT key, j,
              |    CAST('0x' || substr(md5(key), 1 + 8*j, 8) AS BIGINT)
              |      % 1024 AS bucket
              |  FROM k CROSS JOIN (SELECT unnest([0, 1]) AS j)),
              |grid AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM b GROUP BY 1, 2),
              |est AS (SELECT key, MIN(cnt) AS est
              |  FROM (SELECT DISTINCT key, j, bucket FROM b) db
              |  JOIN grid USING (j, bucket)
              |  GROUP BY key ORDER BY est DESC, key LIMIT 20),
              |ex AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS exact
              |  FROM k WHERE key IN (SELECT key FROM est) GROUP BY key)
              |SELECT est.key, est.est AS est, ex.exact AS exact
              |FROM est JOIN ex USING (key)
              |ORDER BY est DESC, key""".stripMargin)),

    // Chunk-level dedup: split each doc into fixed 20-token windows,
    // hash each window, count per doc how many of its chunks appear in
    // at least one other doc. The explode -> groupBy(hash) -> join-back
    // shape is the standard boilerplate-detection pass at corpus scale:
    // two shuffles, both on the chunk hash, no all-pairs anything.
    // Chunk+hash runs through the one-pass ChunkMd5 expression (why:
    // see the TokenWindows kernel's docs).
    Q("q78_chunk_dedup",
      (s, dir) => {
        val chunks = Tables.load(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .where(size(col("toks")) > 0)
          .select(col("doc_id"),
            explode(graft.functions.expressions.ChunkMd5
              .chunkMd5(col("toks"), ChunkW)).as("ch"))
        val shared = chunks.groupBy(col("ch"))
          .agg(countDistinct(col("doc_id")).as("ndocs"))
        chunks.join(shared, "ch")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
               sum(when(col("ndocs") >= 2, 1).otherwise(0))
                 .as("n_shared"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, $duckToks AS toks FROM documents),
              |c AS (
              |  SELECT doc_id,
              |    md5(array_to_string(list_slice(toks,
              |      i*$ChunkW + 1, i*$ChunkW + $ChunkW), ' ')) AS ch
              |  FROM (SELECT doc_id, toks,
              |          unnest(range(0,
              |            (len(toks) - 1) // $ChunkW + 1)) AS i
              |        FROM d WHERE len(toks) > 0)),
              |sh AS (
              |  SELECT ch, COUNT(DISTINCT doc_id) AS ndocs
              |  FROM c GROUP BY ch)
              |SELECT c.doc_id, COUNT(*) AS n_chunks,
              |  CAST(SUM(CASE WHEN sh.ndocs >= 2 THEN 1 ELSE 0 END)
              |       AS BIGINT) AS n_shared
              |FROM c JOIN sh USING (ch)
              |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),

    // Funnel: per user, how far through view -> click -> purchase the
    // first-occurrence timestamps progress (strictly increasing). One
    // shuffle on user_id; conditional-min aggregation is map-combined.
    Q("q79_funnel",
      (s, dir) => Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("tp"))
        .select(
          when(col("tv").isNull, 0)
            .when(col("tc").isNull || col("tc") <= col("tv"), 1)
            .when(col("tp").isNull || col("tp") <= col("tc"), 2)
            .otherwise(3).cast("int").as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage")),
      Some("""WITH per AS (
             |  SELECT user_id,
             |    min(ts) FILTER (WHERE event_type = 'view') AS tv,
             |    min(ts) FILTER (WHERE event_type = 'click') AS tc,
             |    min(ts) FILTER (WHERE event_type = 'purchase') AS tp
             |  FROM events GROUP BY user_id),
             |st AS (
             |  SELECT CAST(CASE WHEN tv IS NULL THEN 0
             |    WHEN tc IS NULL OR tc <= tv THEN 1
             |    WHEN tp IS NULL OR tp <= tc THEN 2
             |    ELSE 3 END AS INTEGER) AS stage
             |  FROM per)
             |SELECT stage, COUNT(*) AS n_users
             |FROM st GROUP BY stage ORDER BY stage""".stripMargin)),

    // SQL-text API end-to-end: the identical ANSI text (TPC-H Q3
    // shape) runs through spark.sql over temp views AND through DuckDB
    // — same parser surface, same plan quality (join reorder +
    // pushdown are Catalyst's job, nothing hand-scheduled).
    Q("q80_sql_api",
      (s, dir) => {
        Seq("customer", "orders", "lineitem").foreach(t =>
          Tables.load(s, dir, t).createOrReplaceTempView(t))
        s.sql(Q80Sql)
      },
      Some(Q80Sql)),

    // Operator-level SQL surface end-to-end (r14 verdict task #6):
    // two whole-operator TABLE functions (exact dedup + grouped KMV
    // sketch) run purely through spark.sql and compose in one
    // statement. The table function expands into the operator's own
    // logical plan at analysis time (plans/GraftExtensions), so this
    // oracles the SQL path, not a parallel implementation. The KMV
    // hash is a portable integer mix (Knuth multiplicative, mod a
    // prime) both engines compute bit-identically in int64.
    Q("q119_sql_surface",
      (s, dir) => {
        Tables.load(s, dir, "documents").createOrReplaceTempView("docs_raw")
        s.sql("""CREATE OR REPLACE TEMP VIEW docs_keyed AS
                |SELECT doc_id, lang, md5(text) AS content_hash,
                |       (doc_id * 2654435761) % 1000000007 AS hv
                |FROM docs_raw""".stripMargin)
        s.sql(
          """WITH k AS (
            |  SELECT g AS lang, CAST(SUM(hv) AS BIGINT) AS k_sum,
            |         CAST(COUNT(*) AS BIGINT) AS k_n
            |  FROM graft_kmv_distinct('docs_keyed', 'lang', 'hv', 4)
            |  GROUP BY g),
            |e AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
            |         CAST(SUM(n_copies) AS BIGINT) AS n_docs
            |  FROM graft_exact_dedup('docs_keyed', 'doc_id', 'content_hash'))
            |SELECT k.lang, k.k_sum, k.k_n, e.n_groups, e.n_docs
            |FROM k CROSS JOIN e ORDER BY k.lang""".stripMargin)
      },
      Some("""WITH h AS (
             |  SELECT DISTINCT lang,
             |    (doc_id * 2654435761) % 1000000007 AS hv
             |  FROM documents),
             |r AS (
             |  SELECT lang, hv,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn
             |  FROM h),
             |k AS (
             |  SELECT lang, CAST(SUM(hv) AS BIGINT) AS k_sum,
             |         CAST(COUNT(*) AS BIGINT) AS k_n
             |  FROM r WHERE rn <= 4 GROUP BY lang),
             |e AS (
             |  SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_groups,
             |         CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents)
             |SELECT k.lang, k.k_sum, k.k_n, e.n_groups, e.n_docs
             |FROM k CROSS JOIN e ORDER BY k.lang""".stripMargin)),

    // Unpivot (melt): wide money columns -> long (measure, amount)
    // rows, re-aggregated. Spark's Expand node emits the 3 rows per
    // input without materializing a union of scans — one pass, one
    // shuffle on `measure`.
    Q("q81_unpivot",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          Catalog.m(col("l_extendedprice")).as("price"),
          Catalog.m(col("l_discount")).as("discount"),
          Catalog.m(col("l_tax")).as("tax"))
        .unpivot(Array(col("l_orderkey")),
                 Array(col("price"), col("discount"), col("tax")),
                 "measure", "amount")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"),
             sum(col("amount")).cast("double").as("total"))
        .orderBy(col("measure")),
      Some("""WITH u AS (
             |  SELECT 'price' AS measure,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS amount
             |  FROM lineitem
             |  UNION ALL SELECT 'discount',
             |    CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
             |  UNION ALL SELECT 'tax',
             |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
             |SELECT measure, COUNT(*) AS n,
             |  CAST(SUM(amount) AS DOUBLE) AS total
             |FROM u GROUP BY measure ORDER BY measure""".stripMargin)),

    // Nested-type aggregation surface: per group, a top-3 array (sort
    // imposed AFTER collect_list so the unordered shuffle arrival
    // order can't leak into the result) and a sorted distinct set.
    // Arrays are computed decimal-exact, then SERIALIZED to a single
    // comma-joined string on both engines: the correctness driver
    // sorts result rows with pandas, and list/ndarray cells are
    // unhashable there (r5 gate error) — a canonical string cell is
    // sortable, hashable, and still pins element values AND order.
    Q("q82_nested_agg",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // decimal->string keeps the exact "NN.NN" rendering on the
          // 2-decimal grid; DuckDB's DECIMAL(18,2)::VARCHAR agrees
          concat_ws(",", transform(
            slice(reverse(array_sort(
              collect_list(Catalog.m(col("l_quantity"))))), 1, 3),
            x => x.cast("string"))).as("top3_qty"),
          concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  array_to_string(list_transform(list_slice(
             |    list_reverse_sort(
             |      list(CAST(l_quantity AS DECIMAL(18,2)))), 1, 3),
             |    x -> CAST(x AS VARCHAR)), ',') AS top3_qty,
             |  array_to_string(list_sort(list(DISTINCT l_linestatus)),
             |    ',') AS statuses,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // GROUPING SETS with an explicit (non-rollup, non-cube) set list:
    // two independent one-dimension summaries + grand total in ONE
    // pass (Spark's Expand node), where separate GROUP BYs would scan
    // three times. The identical ANSI text runs on both engines
    // (q80-style): GROUPING() disambiguates real nulls from
    // summary-level nulls.
    Q("q87_grouping_sets",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql(Q87Sql)
      },
      Some(Q87Sql)),

    // MapType construction + access (see q98 helper below)
    Q("q98_map_agg", q98 _,
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT l_returnflag,
             |  CAST(COUNT(*) AS INTEGER) AS n_keys,
             |  array_to_string(list_sort(
             |    list(l_linestatus || '=' || CAST(n AS VARCHAR))), ',')
             |    AS entries
             |FROM c GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin))
  )

  private lazy val Q87Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) * 2
      |    + CAST(GROUPING(o_orderpriority) AS INTEGER) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
      |         o_orderpriority ASC NULLS FIRST""".stripMargin

  /** MapType surface: per returnflag, a linestatus→count map built
    * with map_from_entries, read back through map_keys/element_at,
    * and serialized to a sorted "k=v" string (q82's rule: the
    * driver's row compare needs scalar cells; the map itself is
    * exercised on the Spark side, the oracle mirrors the serialized
    * form). Registered below in `queries`.
    */
  private[queries] def q98(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val counts = graft.Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("l_returnflag"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("l_linestatus"), col("n"))))).as("m"))
      .select(col("l_returnflag"),
        size(col("m")).as("n_keys"),
        concat_ws(",", transform(map_keys(col("m")),
          k => concat(k, lit("="),
            element_at(col("m"), k).cast("string")))).as("entries"))
      .orderBy(col("l_returnflag"))
  }
}
