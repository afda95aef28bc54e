package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ancestry depth by pointer doubling (a.k.a. path doubling / pointer
  * jumping): each node tracks SOME ancestor plus the exact distance to
  * it; every round composes the table with itself, so the tracked
  * ancestor's distance doubles — depth D resolves in ceil(log2 D)
  * rounds instead of the D rounds a level-at-a-time recursive walk
  * (e.g. `WITH RECURSIVE`) needs.
  *
  * Scale posture: the per-round self-join shuffles only on the node /
  * ancestor key, rounds grow with log(depth) — not depth, not data —
  * and a `localCheckpoint` every second round keeps the
  * self-referencing plan tree bounded. For a BOM / org-chart /
  * part-ancestry walk on a 1000-executor cluster, depth-proportional
  * JOB LAUNCHES are the real cost this removes: a depth-60 hierarchy
  * costs 6 rounds, not 60.
  *
  * Why DataFrame rounds and not an RDD loop: both were built and
  * measured at sf1 (200k-edge walk, 6 rounds). The SQL formulation
  * pays per-round planning + AQE stage scheduling (~0.35 s/round
  * here); a hash-partitioned pair-RDD loop removes that but pays
  * Java-object tuple serialization in every shuffle instead of
  * Tungsten's UnsafeRow — measured 7.3 s vs 2.4 s for the identical
  * walk. The object-churn tax grows with DATA while the scheduling
  * tax is constant, so the Tungsten rounds are the right side at
  * scale, and the residual constant amortizes exactly where rounds
  * get expensive.
  *
  * Semantics match the recursive-CTE walk from the root: a node is
  * labeled iff its whole parent chain exists in `edges` and reaches
  * `rootKey`. Nodes with broken chains (a missing ancestor) DROP OUT
  * of the state inside the round join — unlabeled, exactly as the CTE
  * never reaches them. Only cycles (or a wrong `maxDepth` bound)
  * leave active rows at the end, and those the in-plan convergence
  * guard reports loudly rather than silently mislabeling.
  */
object PointerDoubling {

  /** Checkpoint the state every this many rounds (the final round
    * never checkpoints — its output flows straight into the caller's
    * action). Each unmaterialized round references the previous state
    * twice, so the read amplification of the last checkpointed state
    * is 2^k; 2 measured best across sf0.1/sf1 (job floor vs re-read,
    * PLANS.md "q96").
    */
  private val CheckpointInterval = 2

  /** Depth of every node reachable from `rootKey` through the
    * child→parent relation `edges` (one row per child; `rootKey`
    * itself need not appear as a child). Returns (key, depth) with
    * the root at depth 0.
    *
    * `maxDepth` bounds every node's depth, and the loop runs exactly
    * ceil(log2 maxDepth) rounds with no per-round convergence job. A
    * caller gets the bound without a data pass: for a halving
    * hierarchy over long keys (depth = bit length), 63, or the bit
    * length of the max key read off the parquet footer; for any
    * hierarchy, the edge count from the footers' row counts (a chain
    * cannot be deeper than the edges it uses). Since
    * 2^rounds >= maxDepth, every chain within the bound has provably
    * converged, so no post-loop emptiness job runs either: an in-plan
    * row-level guard (`assert_true` in the output filter) throws on
    * the caller's first action if a cycle or a wrong bound left an
    * unconverged row — loud failure at zero extra jobs.
    */
  def depths(edges: DataFrame, key: Column, parent: Column,
             rootKey: Long, maxDepth: Long): DataFrame = {
    val root = lit(rootKey)
    // state invariant: `anc` is an ancestor of `key` at exact distance
    // `d`; a row is DONE when anc == root (then d is the final depth)
    val rootRow = edges.sparkSession.range(1)
      .select(root.as("key"), root.as("anc"), lit(0L).as("d"))
    // deliberately NOT checkpointed: the distance-1 state is one cheap
    // scan; the first rounds read it through the plan, and the first
    // checkpoint materializes their composition in one job (an eager
    // base checkpoint was measured neutral-to-worse at sf1 — the extra
    // job costs what the saved re-scans buy back)
    var st = edges
      .select(key.cast("long").as("key"), parent.cast("long").as("anc"),
        lit(1L).as("d"))
      .filter(col("key") =!= root)
      .union(rootRow)
    // after r rounds every pointer has jumped 2^r deep (root-capped):
    // a depth bound D needs exactly ceil(log2 D) rounds
    val rounds =
      math.ceil(math.log(math.max(maxDepth, 2).toDouble) / math.log(2.0)).toInt
    for (i <- 1 to rounds) {
      // jump: replace each active row's ancestor with that ancestor's
      // OWN tracked ancestor, adding the distances. ONE left self-join
      // carries done rows through (join condition is false for them, so
      // they pass unmatched) and drops active rows whose chain leaves
      // the relation (unmatched-and-active ⇒ broken chain — CTE
      // parity). Compared to the textbook done ∪ (active ⨝ st) form
      // this references the prior state TWICE, not three times, so m
      // unmaterialized rounds expand the plan 2^m-fold instead of
      // 3^m-fold — cheaper rounds AND affordable sparse checkpointing.
      // Key uniqueness (one row per key, so the left join is 1:≤1 and
      // never duplicates) is the state invariant: it holds initially
      // (one row per child + the root) and each round maps keys 1:1.
      st = st.as("s")
        .join(st.as("a"),
          col("s.anc") === col("a.key") && col("s.anc") =!= root, "left")
        .filter(col("s.anc") === root || col("a.key").isNotNull)
        .select(col("s.key").as("key"),
          coalesce(col("a.anc"), col("s.anc")).as("anc"),
          (col("s.d") + coalesce(col("a.d"), lit(0L))).as("d"))
      // the final round's state is consumed exactly once, by the caller
      if (i % CheckpointInterval == 0 && i < rounds) st = st.localCheckpoint()
    }
    // zero-job convergence guard: 2^rounds >= bound, so any row still
    // pointing below the root means a cycle or a wrong bound.
    // assert_true throws with this message during the caller's action;
    // a Filter is never pruned, so the guard runs even under a bare
    // count(). The LAZY checkpoint below the filter is what keeps the
    // guard sound: Catalyst would otherwise push the deterministic
    // predicate through the final (uncheckpointed) self-join rounds,
    // where the raise_error fires on mid-round rows the join was about
    // to resolve. A LogicalRDD is a pushdown barrier, so the guard only
    // ever sees FINAL rows — and lazy means no extra job: the caller's
    // first action is what materializes the final state.
    st.localCheckpoint(eager = false)
      .filter(assert_true(col("anc") === root,
        lit(s"PointerDoubling.depths did not converge after $rounds " +
          "rounds — cycle in the parent relation, or depth exceeds " +
          "the maxDepth bound")).isNull)
      .select(col("key"), col("d").as("depth"))
  }
}
