package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-6 catalog: the built-in session-window operator, a
  * deterministic-sample quantile estimator, and mergeable
  * partial-aggregate maintenance — the algebraic pieces an
  * incremental 100 TB pipeline leans on.
  */
object IncrementalQueries extends Catalog {

  override val queries: Seq[Q] = Seq(

    // Spark's BUILT-IN session_window (vs q61/q65's hand-rolled
    // lag-window islands): events merge while each starts within
    // `gap` of the session's rolling end, so a new session opens at
    // diff >= gap (the hand-rolled variants use strict >; boundary
    // semantics pinned here and mirrored in the oracle), and
    // session_end = last event + gap. In streaming the same plan
    // gets watermark-driven state eviction for free.
    Q("q90_session_window",
      (s, dir) => graft.streaming.EventStreams
        .sessionWindowStats(Tables.load(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start")),
      Some(s"""WITH m AS (
              |  SELECT user_id, event_id, ts, value,
              |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
              |         >= 1800000000
              |    THEN 1 ELSE 0 END AS new_sess
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |g AS (SELECT *, SUM(new_sess) OVER (
              |    PARTITION BY user_id ORDER BY ts, event_id
              |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
              |SELECT user_id, MIN(ts) AS session_start,
              |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
              |  COUNT(*) AS n_events, ${Catalog.dsum("value")} AS sum_value
              |FROM g GROUP BY user_id, sid
              |ORDER BY user_id, session_start""".stripMargin)),

    // Deterministic-sample quantile estimation: the md5-prefix sample
    // (q48's pattern — same rows on any engine/cluster) feeds an
    // exact percentile; the full-data percentile rides along so the
    // estimate's error is part of the gated result. At 100 TB the
    // sample is a map-side filter — the sort/percentile runs on ~10%
    // of the data, and the "exact" side is what you'd skip.
    Q("q91_approx_quantile",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val sampled = l.filter(
          substring(md5(concat_ws("-",
            col("l_orderkey"), col("l_linenumber"))), 1, 2) < "1a")
        val est = sampled.groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6)
                 .as("est_p50"),
               count(lit(1)).as("n_sample"))
        val exact = l.groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6)
                 .as("exact_p50"),
               count(lit(1)).as("n_total"))
        est.join(exact, Seq("l_returnflag"))
          .withColumn("abs_err",
            round(abs(col("est_p50") - col("exact_p50")), 6))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH s AS (
             |  SELECT l_returnflag,
             |    ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS est_p50,
             |    COUNT(*) AS n_sample
             |  FROM lineitem
             |  WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
             |    || CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'
             |  GROUP BY l_returnflag),
             |e AS (
             |  SELECT l_returnflag,
             |    ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
             |    COUNT(*) AS n_total
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, est_p50, n_sample, exact_p50, n_total,
             |  ROUND(ABS(est_p50 - exact_p50), 6) AS abs_err
             |FROM s JOIN e USING (l_returnflag)
             |ORDER BY l_returnflag""".stripMargin)),

    // Incremental aggregate maintenance: partial aggregates from a
    // base batch and a delta batch merge algebraically (counts and
    // decimal sums add, min/max fold) — the oracle aggregates the
    // union directly, proving merge == recompute. This is the
    // contract that lets a 100 TB rollup absorb a new partition
    // without rescanning history.
    Q("q92_incremental_agg",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        def part(df: DataFrame) = df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
               sum(Catalog.m(col("o_totalprice"))).as("s"),
               min(col("o_totalprice")).as("mn"),
               max(col("o_totalprice")).as("mx"))
        part(o.filter(col("o_orderkey") % 10 =!= 0))
          .unionByName(part(o.filter(col("o_orderkey") % 10 === 0)))
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("n")).as("n_orders"),
               sum(col("s")).cast("double").as("sum_price"),
               min(col("mn")).as("min_price"),
               max(col("mx")).as("max_price"))
          .withColumn("avg_price",
            round(col("sum_price") / col("n_orders"), 6))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
              |  ${Catalog.dsum("o_totalprice")} AS sum_price,
              |  MIN(o_totalprice) AS min_price,
              |  MAX(o_totalprice) AS max_price,
              |  ROUND(${Catalog.dsum("o_totalprice")} / COUNT(*), 6)
              |    AS avg_price
              |FROM orders GROUP BY o_orderstatus
              |ORDER BY o_orderstatus""".stripMargin)),

    // MERGE INTO (upsert) emulation: apply a deterministic changes
    // batch (updates %5, inserts %7, deletes %11 of o_orderkey) to a
    // base table. NOT a full-outer join: the scale-correct
    // decomposition is base LEFT JOIN broadcast(delta) (update/delete
    // in place, base never shuffles) UNION the insert rows — the
    // delta is the small side by construction in any incremental
    // pipeline. The oracle applies the same merge via full outer
    // join, so the decomposition is proven equivalent.
    Q("q93_merge_upsert",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  col("o_totalprice"))
        val base = o.filter(col("o_orderkey") % 7 =!= 0)
        val changes = o.filter(col("o_orderkey") % 7 === 0
            || col("o_orderkey") % 5 === 0
            || col("o_orderkey") % 11 === 0)
          .select(col("o_orderkey"),
            col("o_orderstatus").as("c_status"),
            when(col("o_orderkey") % 11 === 0, "D")
              .when(col("o_orderkey") % 7 === 0, "I")
              .otherwise("U").as("op"),
            (Catalog.m(col("o_totalprice")) + lit(1000))
              .as("new_price"))
        val upserted = base
          .join(broadcast(changes), Seq("o_orderkey"), "left")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("o_orderkey"),
            coalesce(col("c_status"), col("o_orderstatus"))
              .as("o_orderstatus"),
            when(col("op") === "U", col("new_price"))
              .otherwise(Catalog.m(col("o_totalprice")))
              .cast("double").as("price"))
        val inserts = changes.filter(col("op") === "I")
          .select(col("o_orderkey"), col("c_status").as("o_orderstatus"),
                  col("new_price").cast("double").as("price"))
        upserted.unionByName(inserts).orderBy(col("o_orderkey"))
      },
      Some("""WITH b AS (SELECT o_orderkey, o_orderstatus,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |  FROM orders WHERE o_orderkey % 7 <> 0),
             |c AS (SELECT o_orderkey, o_orderstatus AS c_status,
             |    CASE WHEN o_orderkey % 11 = 0 THEN 'D'
             |         WHEN o_orderkey % 7 = 0 THEN 'I'
             |         ELSE 'U' END AS op,
             |    CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS new_price
             |  FROM orders
             |  WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 = 0
             |     OR o_orderkey % 11 = 0)
             |SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             |  COALESCE(c.c_status, b.o_orderstatus) AS o_orderstatus,
             |  CAST(CASE WHEN c.op IN ('U', 'I') THEN c.new_price
             |       ELSE b.price END AS DOUBLE) AS price
             |FROM b FULL OUTER JOIN c ON b.o_orderkey = c.o_orderkey
             |WHERE c.op IS NULL OR c.op <> 'D'
             |ORDER BY o_orderkey""".stripMargin)),

    // Blocked fuzzy entity resolution: a deterministic "dirty feed"
    // (one char dropped from each part name's noun, q71's
    // augmentation pattern) resolved back to the clean catalog —
    // equi-join on the adjective block, Levenshtein within block,
    // best match per probe (see operators.FuzzyResolve for the scale
    // contract).
    Q("q94_fuzzy_match",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_name"),
            split(col("p_name"), " ").getItem(0).as("blk"),
            split(col("p_name"), " ").getItem(1).as("noun"))
        val pos = col("p_partkey") % length(col("noun"))
        val dirty = p.select(col("p_partkey").as("d_id"), col("blk"),
          concat(col("blk"), lit(" "),
            col("noun").substr(lit(1), pos),
            col("noun").substr(pos + 2, lit(100))).as("d_name"))
        graft.operators.FuzzyResolve.bestMatch(
            dirty, p.select(col("p_partkey"), col("p_name"), col("blk")),
            "blk", "d_id", "d_name", "p_partkey", "p_name", maxDist = 2)
          .withColumnRenamed("p_partkey", "match_id")
          .withColumnRenamed("p_name", "match_name")
          .orderBy(col("d_id"))
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, p_name,
             |    split_part(p_name, ' ', 1) AS blk,
             |    split_part(p_name, ' ', 2) AS noun
             |  FROM part),
             |d AS (
             |  SELECT p_partkey AS d_id, blk,
             |    blk || ' ' ||
             |      substr(noun, 1, (p_partkey % length(noun))) ||
             |      substr(noun, (p_partkey % length(noun)) + 2, 100)
             |      AS d_name
             |  FROM p),
             |cand AS (
             |  SELECT d.d_id, d.d_name, p.p_partkey AS match_id,
             |    p.p_name AS match_name,
             |    CAST(levenshtein(d.d_name, p.p_name) AS INTEGER) AS dist
             |  FROM d JOIN p USING (blk)
             |  WHERE levenshtein(d.d_name, p.p_name) <= 2),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY d_id
             |    ORDER BY dist, match_id) AS rn
             |  FROM cand)
             |SELECT d_id, d_name, match_id, match_name, dist
             |FROM ranked WHERE rn = 1 ORDER BY d_id""".stripMargin)),

    // Value-RANGE window frames (vs the ROWS frames of q08/q58): per
    // order, the customer's trailing-30-day order count and spend.
    // RANGE frames bound by the ORDER BY VALUE, so equal-day ties all
    // join the frame — deterministic without a tiebreak column.
    Q("q95_range_frame",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("days")).rangeBetween(-30, 0)
        Tables.load(s, dir, "orders")
          .withColumn("days",
            datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
              .cast("long"))
          .select(col("o_orderkey"), col("o_custkey"), col("days"),
            count(lit(1)).over(w).as("n_30d"),
            sum(Catalog.m(col("o_totalprice"))).over(w)
              .cast("double").as("spend_30d"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  date_diff('day', DATE '1970-01-01',
             |    CAST(o_orderdate AS DATE)) AS days,
             |  COUNT(*) OVER w AS n_30d,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
             |    AS DOUBLE) AS spend_30d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY date_diff('day', DATE '1970-01-01',
             |    CAST(o_orderdate AS DATE))
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // Batch gate of the stream-stream interval join (helper below;
    // streaming semantics spec'd in StreamingSpec)
    Q("q101_interval_join", q101 _,
      Some("""WITH c AS (SELECT user_id, ts AS c_ts, event_id AS c_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS p_ts, event_id AS p_id
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c.user_id, c_id, c_ts, p_id, p_ts
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND p_ts >= c_ts
             |  AND p_ts <= c_ts + INTERVAL 60 MINUTE
             |ORDER BY c.user_id, c_id, p_id""".stripMargin)),

    // LEFT OUTER variant of q101: every click emits, unmatched ones
    // null-padded — in streaming the outer row emits only after both
    // watermarks pass the click's join window (exactly-once, bounded
    // state; semantics spec'd in StreamingSpec). Null ordering pinned
    // explicitly: Spark ASC defaults nulls first, DuckDB nulls last.
    Q("q116_interval_join_outer", q116 _,
      Some("""WITH c AS (SELECT user_id, ts AS c_ts, event_id AS c_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS p_ts, event_id AS p_id
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c.user_id, c_id, c_ts, p_id, p_ts
             |FROM c LEFT JOIN p ON c.user_id = p.user_id
             |  AND p_ts >= c_ts
             |  AND p_ts <= c_ts + INTERVAL 60 MINUTE
             |ORDER BY c.user_id, c_id,
             |  p_id NULLS FIRST""".stripMargin)),

    // Bag-semantics set ops (vs q14/q15's distinct forms):
    // INTERSECT ALL keeps min(multiplicity), EXCEPT ALL subtracts
    // multiplicities. Both set-ops over the SAME table keyed the same
    // way are per-key multiplicity arithmetic, so the whole query
    // fuses into ONE map-combined aggregation: n_inter =
    // least(n_open, n_done), n_except = greatest(n_open - n_done, 0),
    // and a key appears in the result iff n_open > 0 (intersect hits
    // need both sides; except hits need open > done — either way open
    // rows must exist). The literal intersectAll/exceptAll plan pays
    // ~5 exchanges (each set-op shuffles both filtered branches, then
    // two groupBys and a full outer join); the fused form pays one
    // agg exchange + the presentation sort — measured 1.10 s → ~0.3 s
    // at sf1, and the only one of the two that scales: the shuffled
    // bytes drop from 4× the filtered rows to one combined row per
    // (key, partition). q14/q15 keep exercising Spark's raw
    // intersect/except operators; this entry pins the BAG semantics.
    Q("q102_bag_setops",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.filter(col("o_orderstatus").isin("O", "F"))
          .groupBy(col("o_custkey"))
          .agg(
            count(when(col("o_orderstatus") === "O", lit(1)))
              .as("n_open"),
            count(when(col("o_orderstatus") === "F", lit(1)))
              .as("n_done"))
          .filter(col("n_open") > 0)
          .select(col("o_custkey"),
            least(col("n_open"), col("n_done")).as("n_inter"),
            greatest(col("n_open") - col("n_done"), lit(0L))
              .as("n_except"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH i AS (
             |  SELECT o_custkey, COUNT(*) AS n_inter FROM (
             |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |    INTERSECT ALL
             |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |  GROUP BY o_custkey),
             |e AS (
             |  SELECT o_custkey, COUNT(*) AS n_except FROM (
             |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |    EXCEPT ALL
             |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |  GROUP BY o_custkey)
             |SELECT COALESCE(i.o_custkey, e.o_custkey) AS o_custkey,
             |  COALESCE(n_inter, 0) AS n_inter,
             |  COALESCE(n_except, 0) AS n_except
             |FROM i FULL OUTER JOIN e ON i.o_custkey = e.o_custkey
             |ORDER BY o_custkey""".stripMargin)),

    // Part-ancestry walk parent(k) = floor(k/2) — the BOM/org-chart
    // iteration shape. The oracle is the literal recursive CTE; the
    // Spark side resolves the same walk by POINTER DOUBLING
    // (operators/PointerDoubling.scala): ceil(log2 depth) self-join
    // rounds instead of one job per level. WITH RECURSIVE runs on
    // Spark 4 too (identical results), but depth-many UnionLoop
    // iterations inside one plan measured SLOWER than log2-many
    // self-join rounds: sf0.1 1.91 s vs 0.72 s, sf1 3.35 s vs 1.75 s
    // (PLANS.md "q96 floor", round-14 A/B) — the log-round rewrite
    // stays.
    Q("q96_recursive_cte",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
        // Halving hierarchy over LONG keys ⇒ depth(k) = bitLength(k),
        // so max depth = bitLength(max key). The data-free bound is
        // 63; the TIGHT bound comes from max(p_partkey) read off the
        // parquet FOOTER statistics driver-side (ParquetStats —
        // metadata only, zero Spark jobs; a full-scan agg job would
        // cost exactly the job-launch floor this query is bound by).
        // sf1's 2M keys give bitLength 21 ⇒ 5 compose rounds instead
        // of 6 — one fewer sequential self-join stage wave.
        val footers = graft.sources.ParquetStats.footers(
          s.sparkContext.hadoopConfiguration, s"$dir/part.parquet")
        val bound = graft.sources.ParquetStats.maxLong(footers, "p_partkey")
          .filter(_ > 0)
          .map(m => (64 - java.lang.Long.numberOfLeadingZeros(m)).toLong)
          .getOrElse(63L)
        graft.operators.PointerDoubling.depths(
            part.filter(col("p_partkey") > 0),
            col("p_partkey"),
            floor(col("p_partkey") / 2.0).cast("long"),
            rootKey = 0L,
            maxDepth = bound)
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("n"),
            min(col("key")).as("min_key"), max(col("key")).as("max_key"))
          .orderBy(col("depth"))
      },
      Some(Q96Sql))
  )

  private lazy val Q96Sql: String =
    """WITH RECURSIVE tree(key, depth) AS (
      |  SELECT CAST(0 AS BIGINT) AS key, 0 AS depth
      |  UNION ALL
      |  SELECT p.p_partkey, t.depth + 1
      |  FROM part p JOIN tree t
      |    ON CAST(FLOOR(p.p_partkey / 2.0) AS BIGINT) = t.key
      |  WHERE p.p_partkey > 0)
      |SELECT depth, COUNT(*) AS n,
      |  MIN(key) AS min_key, MAX(key) AS max_key
      |FROM tree GROUP BY depth ORDER BY depth""".stripMargin

  /** q101 batch form of the stream-stream interval join (see
    * EventStreams.intervalJoin): every (click, purchase) pair of the
    * same user with the purchase inside the click's 60-minute window.
    */
  private def q101(s: org.apache.spark.sql.SparkSession,
                   dir: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
              col("event_id").as("p_id"))
    graft.streaming.EventStreams
      .intervalJoin(clicks, purchases, "c_ts", "p_ts", "c_id", "p_id",
        withinMinutes = 60)
      .orderBy(col("user_id"), col("c_id"), col("p_id"))
  }

  private def q116(s: org.apache.spark.sql.SparkSession,
                   dir: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
              col("event_id").as("p_id"))
    graft.streaming.EventStreams
      .intervalJoinOuter(clicks, purchases, "c_ts", "p_ts", "c_id", "p_id",
        withinMinutes = 60)
      .orderBy(col("user_id"), col("c_id"), col("p_id").asc_nulls_first)
  }
}
