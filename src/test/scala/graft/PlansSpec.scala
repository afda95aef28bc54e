package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression gate for the load-bearing properties in
  * PLANS.md. Each was previously verified by reading `.explain`
  * output by hand; a regression (filter no longer pushed, broadcast
  * degraded to a shuffle, an explode evaluated per consumer) now
  * fails CI instead of waiting for a judge to read the plan.
  *
  * Assertions run against the POST-EXECUTION plan string: with AQE
  * on, `AdaptiveSparkPlanExec` is a leaf until executed, so the final
  * join/exchange choices only exist after an action. String matching
  * mirrors exactly what a human checks in `.explain("formatted")`.
  */
class PlansSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  /** Execute (finalizes AQE) and return the full physical plan text. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def plan(name: String): String =
    finalPlan(SparkEntry.queries(name)(spark, dir))

  /** Node-count assertions must not double-count: the AQE plan string
    * prints the final plan AND the initial plan. Everything before
    * "== Initial Plan ==" is the executed one.
    */
  private def countNodes(p: String, node: String): Int =
    (node + " \\[").r.findAllIn(p.split("== Initial Plan ==")(0)).size

  test("q01: filter is pushed to the parquet scan and columns pruned") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,45.0)"),
      s"quantity filter not pushed:\n$p")
    // pruned scan: the 16-column lineitem schema must not be read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.exists(!_.contains("l_comment")) &&
      readSchema.exists(!_.contains("l_tax")),
      s"scan not pruned: $readSchema")
  }

  test("q21: rank limit computes partially below the exchange") {
    val p = plan("q21_priority_dedup")
    // Spark plans WindowGroupLimit twice — Partial before the window
    // key exchange (candidates, not the full table, cross the wire)
    // and Final after
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"partial WindowGroupLimit below the exchange is gone:\n$p")
  }

  test("q83: decontamination joins the corpus via broadcast, not shuffle") {
    val p = plan("q83_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"eval n-gram set no longer broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled on the n-gram key:\n$p")
  }

  test("q84: unigram-LM vocab joins via broadcast, not shuffle") {
    val p = plan("q84_unigram_lm")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab no longer broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled on the term key:\n$p")
  }

  test("q45: Jaccard threshold evaluates inside the join condition") {
    val df = SparkEntry.queries("q45_jaccard_pairs")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the size-ratio prefilter + sorted-hash intersect must be part
    // of the join itself so non-qualifying pairs die in the join
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("sorted_intersect_at_least(")),
      s"intersect threshold left the join condition:\n$p")
    // the adjacency bucket must be an EQUI key (left of the condition
    // list), not a filter — that's what skips non-adjacent candidates
    assert(joinLines.exists(l =>
      l.contains("__bkt") && l.contains("__probe")),
      s"adjacency bucket left the equi key:\n$p")
  }

  test("q45/q57: salted pair scan keeps its fixed-count task repartition") {
    // TrianglePairs pins the task count with a user repartition on
    // (block keys, __chunk, __cb) — REPARTITION_BY_NUM is the origin
    // AQE may not coalesce. If this degrades to ENSURE_REQUIREMENTS
    // (or the salt columns vanish), byte-based coalescing re-funnels
    // the biggest block's quadratic pair scan into one thread
    // (measured 211 s at sf1 for q45).
    for (q <- Seq("q45_jaccard_pairs", "q57_near_dup_blocked")) {
      val p = plan(q)
      val salted = p.linesIterator.filter(l =>
        l.contains("hashpartitioning") && l.contains("__cb")).toSeq
      assert(salted.nonEmpty, s"$q: salt columns left the exchange:\n$p")
      assert(salted.exists(_.contains("REPARTITION_BY_NUM")),
        s"$q: task repartition no longer user-pinned:\n$p")
    }
  }

  test("q114: one corpus-sized exchange; totals from a pruned map-combined agg") {
    val p = plan("q114_budget_select")
    // the selection branch shuffles the corpus ONCE, on the score
    // bucket; the offsets branch must be a partial->final aggregate
    // (tiny exchange), not a second corpus-sized Window
    val windows = countNodes(p, "Window")
    assert(p.contains("partial_sum"),
      s"bucket totals lost their map-side partial phase:\n$p")
    // exactly two Window nodes: the in-bucket cumsum and the
    // #buckets-row offset window — a third means the offsets branch
    // re-windowed the corpus (the pre-fix plan)
    assert(windows == 2,
      s"expected the cumsum + offset windows, got $windows:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"bucket offsets no longer broadcast back:\n$p")
  }

  test("q115: salted fixed-count repartition + skinny candidate join") {
    val p = plan("q115_containment_dedup")
    // the token join key is low-cardinality: the candidate join must
    // keep its user-pinned (tok, __salt) repartition or AQE byte-based
    // coalescing funnels the pair scan onto one thread
    val salted = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("__salt")).toSeq
    assert(salted.nonEmpty, s"salt columns left the exchange:\n$p")
    assert(salted.exists(_.contains("REPARTITION_BY_NUM")),
      s"task repartition no longer user-pinned:\n$p")
    // round 15: the candidate join is SKINNY — no token array rides
    // the salted exchanges (the r14 advisor measured the array-
    // carrying index explode as the largest shuffle in the pipeline,
    // O(chunks × Σ|doc|²) bytes). Arrays re-attach post-dedup.
    salted.foreach(l => assert(!l.contains("toks"),
      s"token arrays back in the salted candidate exchange:\n$l"))
    // the codegen'd containment merge scan still gates the output
    assert(p.contains("sorted_intersect_at_least("),
      s"codegen'd containment verify missing:\n$p")
    // r22: the 4-consumer recompute is cut structurally, not by a
    // materialization — the probe and index branches share the rarity
    // aggregation's exchange (ReuseExchange; requires the non-nullable
    // index salt, see Dedup.containmentPairs), and the verify-side
    // re-attaches are map-only. Executed plan: exactly 4 corpus scans
    // (shared rarity chain: docs + dfreq; small; big) and the reused
    // exchange present. The r21 checkpoint form (0 scans + an
    // in-region materialization) regressed 6.6× on the driver; the
    // pre-r21 form re-ran the chain per consumer (~20 scans).
    val scans = "Scan parquet".r
      .findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(scans == 4, s"expected 4 corpus scans, got $scans:\n$p")
    assert(p.contains("ReusedExchange"),
      s"rarity-agg exchange no longer shared by probes + index:\n$p")
  }

  test("q126: batch broadcasts into the postings scans; corpus side " +
    "never sort-merge-joined") {
    // the incremental-containment contract: per-batch cost linear in
    // the corpus because the batch side BROADCASTS into both probe
    // directions and the candidate/attach joins — the corpus postings
    // and docs tables stream map-only. A SortMergeJoin anywhere means
    // a corpus-sized sort+shuffle crept in (the Θ(n²/V) batch form's
    // cost model, exactly what this operator exists to avoid). The
    // vocab-sized dfreq attach is the one legitimately degradable
    // join (scaladoc'd); at this scale it must broadcast too.
    val p = plan("q126_containment_probe_incremental")
    assert(p.contains("BroadcastHashJoin"),
      s"batch side no longer broadcast into the postings scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side sort-merge-joined:\n$p")
    // the codegen'd containment merge scan still gates the output
    assert(p.contains("sorted_intersect_at_least("),
      s"codegen'd containment verify missing:\n$p")
  }

  test("q128: bloom membership tests are broadcast joins; the corpus " +
    "never shuffles before its own doc agg") {
    // the bloom contract: the joined side is the distinct set-bit
    // table (bounded by mBits), so BOTH membership tests must be
    // BroadcastHashJoins — a SortMergeJoin would mean the corpus gram
    // stream got sorted+shuffled on a bit value, the exact cost the
    // sketch exists to avoid. The only data-sized exchange allowed is
    // the final map-combined aggregation on the corpus's own doc key.
    val p = plan("q128_bloom_decontam")
    assert(countNodes(p, "BroadcastHashJoin") >= 2,
      s"bloom membership tests not both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus gram stream shuffled for a membership test:\n$p")
    // map-side partial count below the doc_id exchange
    assert(p.contains("partial_count"),
      s"per-doc agg lost its map-side combine:\n$p")
  }

  test("q129: window-hash count combines map-side and joins back " +
    "without re-shuffling the positional stream") {
    // the span-dedup contract: the occurrence count aggregates with a
    // map-side partial (the whash exchange carries distinct hashes
    // with counts, not positions), and at this scale AQE broadcasts
    // the count table back — the positional stream must not pay a
    // SortMergeJoin sort. (At corpus scale AQE degrades the join-back
    // to a hash shuffle — the documented path — but never a sort of
    // the count side below the broadcast threshold.)
    val p = plan("q129_dup_span_windows")
    assert(p.contains("partial_count"),
      s"whash count lost its map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"count table no longer broadcast back at sf0.01:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"positional stream paid a sort-merge join:\n$p")
  }

  test("q130: the count-min grid joins via broadcast; ONE occurrence " +
    "scan — the grid sums the collapsed key counts (r21)") {
    val p = plan("q130_cm_heavy_hitters")
    // the d x w grid is the ONLY build side — tiny, broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"grid join degraded to a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sketch-sized side got sort-merge-joined:\n$p")
    // r21: the grid is derived from the (key, exact) aggregate, whose
    // one exchange is REUSED by the candidate side — exactly one
    // parquet scan of the occurrences, never a second
    val scans = "Scan parquet".r
      .findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(scans == 1, s"expected 1 occurrence scan, got $scans:\n$p")
    assert(p.contains("ReusedExchange"),
      s"key-count exchange no longer shared by grid + candidates:\n$p")
  }

  test("q117: sketch paths carry no data-sized exchange") {
    val p = plan("q117_kmv_merge")
    // r21: both sketch paths now run off the ONE-pass dual-sketch
    // partials (Kmv.kSmallestDistinctByGroupWithGlobal), which are
    // localCheckpoint'ed at sketch size (≤ K rows per group per
    // partition) — the final plan reads that checkpointed RDD, so a
    // parquet scan (or any table-sized aggregate) in it would mean
    // the naive distinct shuffle crept back.
    assert(p.contains("ExistingRDD"),
      s"bounded checkpointed partial sketch gone:\n$p")
    assert(!p.split("== Initial Plan ==")(0).contains("Scan parquet"),
      s"final plan re-scans the table — partial sketch not shared:\n$p")
  }

  test("q120: ranking exchange bounded by the partial top-k heap") {
    val p = plan("q120_cosine_topk")
    // BoundedTopK's map-side partial caps the doc_id exchange at k
    // entries per group per partition. If the partial phase vanishes
    // (or the query regresses to a row_number window), the full
    // qualifying-pair volume crosses the wire — the exact output-
    // volume cost the capped variant exists to avoid.
    assert(p.contains("partial_bounded_top_k"),
      s"map-side partial top-k phase gone:\n$p")
    val windows = countNodes(p, "Window")
    assert(windows == 0, s"row_number window over the pair set is back:\n$p")
    // the candidate scan is the same salted pair join q57 uses — the
    // fixed-count task repartition must survive here too
    val salted = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("__cb")).toSeq
    assert(salted.exists(_.contains("REPARTITION_BY_NUM")),
      s"salted pair-scan repartition no longer user-pinned:\n$p")
  }

  test("q124: indexed miner ranks through the partial top-k heap, no " +
      "doc-keyed window, no sort-merge or cartesian join") {
    val p = plan("q124_cosine_topk_indexed")
    val executed = p.split("== Initial Plan ==")(0)
    // the per-doc ranking is BoundedTopK's map-side partial: the
    // doc_id exchange carries at most k entries per doc per partition
    assert(p.contains("partial_bounded_top_k"),
      s"map-side partial top-k phase gone:\n$p")
    // the only window allowed is the C×C centroid adjacency's; a
    // row_number over the directed pair set would shuffle every pair
    val docWindows = executed.linesIterator.filter(l =>
      l.contains("Window [") && l.contains("windowspecdefinition(doc_id")).toSeq
    assert(docWindows.isEmpty, s"row_number window over the pairs:\n$p")
    // candidates are equi-joins on the probed-list key, which AQE
    // broadcasts at this size; a cartesian product means the list
    // blocking was lost, a sort-merge join that the plan shape moved
    assert(!executed.contains("SortMergeJoin") &&
      !executed.contains("CartesianProduct"),
      s"pair join degraded to a sort-merge or cartesian product:\n$p")
  }

  test("q69: two windows share ONE doc-keyed exchange") {
    val p = plan("q69_tfidf_topterms")
    // Round 17 (reverting round 16): the len window is BACK, by
    // measurement — its doc_id exchange is exactly the partitioning
    // the rank window requires, so one doc-keyed shuffle serves both
    // (the r16 "carried-len" form that removed it re-introduced a
    // doc-keyed exchange + a WindowGroupLimit pre-sort over the whole
    // tf table and measured slower at sf0.1/sf1/sf10 — PLANS.md
    // "Round-17: q69 adjudicated"). The pin: both windows present, but NO
    // second doc_id hash exchange between them.
    val windows = countNodes(p, "Window")
    assert(windows == 2, s"expected len + rank windows, got $windows:\n$p")
    // doc_id-ONLY hash partitioning (the window requirement) — the
    // (doc_id, term) aggregate exchange is a different key and fine
    val docIdHashExchanges =
      """Exchange hashpartitioning\(doc_id#\d+L?, \d+\)""".r
        .findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(docIdHashExchanges == 1,
      s"the two windows must share one doc-keyed exchange, " +
        s"got $docIdHashExchanges:\n$p")
    // df table and n_docs enrich via broadcast — the corpus never
    // shuffles on the term key
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled on the term key:\n$p")
    // r22: the df branch derives from the SAME (doc_id, term)
    // exchange as the window branch (count(when(cnt > 0, cnt)) pins
    // cnt so pruning can't desync the subtrees) — the tokenize+
    // explode+partial-count chain runs ONCE: 2 scans (tf chain +
    // n_docs), ReusedExchange present
    val scans = "Scan parquet".r
      .findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(scans == 2, s"expected 2 scans (tf chain + n_docs), " +
      s"got $scans:\n$p")
    assert(p.contains("ReusedExchange"),
      s"(doc, term) exchange no longer shared by window + df:\n$p")
  }

  test("q69: vocab join is AQE-gated, not hint-forced — degrades to shuffle") {
    // the df table is VOCABULARY-sized; a forced broadcast() hint
    // bypasses AQE's size check and dies at the broadcast limit when
    // the term table is web-scale. The previous test pins that the
    // small-vocab case still broadcasts (no SortMergeJoin) — this one
    // proves the graceful path: with broadcasting disabled the SAME
    // operator degrades to a shuffle join and returns identical rows.
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val run = (s: org.apache.spark.sql.SparkSession) =>
      graft.operators.TfIdf.topTerms(
        Tables.load(s, dir, "documents"), col("doc_id"), col("text"), 3)
    val degraded = run(s2)
    val p = finalPlan(degraded)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"vocab join did not degrade to a shuffle join:\n$p")
    assert(degraded.collect().toSet == run(spark).collect().toSet,
      "degraded plan changed the result")
  }

  test("q122: probe scan is dynamically partition-pruned to the probed lists") {
    val p = plan("q122_ann_ivf_probe")
    // the materialized index is list_id-partitioned; the probe join's
    // tiny broadcast side must prune the scan to the nprobe lists the
    // batch touches — without DPP every probe reads the whole corpus
    // and the materialized layout buys nothing
    val scan = p.linesIterator.filter(l =>
      l.contains("graft_q122_ivf_index") && l.contains("PartitionFilters")).toSeq
    assert(scan.exists(_.contains("dynamicpruning")),
      s"index scan no longer dynamically pruned on list_id:\n$p")
    // and the probe side stays broadcast — a sort-merge join would
    // shuffle the corpus lists on list_id, defeating the layout
    assert(!p.contains("SortMergeJoin"),
      s"index join degraded to a shuffle:\n$p")
  }

  test("q99: in-expression pair generation — no doc_id self-join") {
    val p = plan("q99_cooccurrence")
    // TokenPairs generates the (t1, t2) pairs inside the scan
    // projection: the only joins left are the broadcast df/n_docs
    // enrichments — a SortMergeJoin (or any exchange keyed on doc_id)
    // means the per-doc self-join crept back in
    assert(!p.contains("SortMergeJoin"),
      s"doc_id self-join reappeared:\n$p")
    assert(p.contains("token_pairs"),
      s"TokenPairs expression missing from the plan:\n$p")
    // both aggregates keep their map-side partial phase
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"map-side partial aggregation missing:\n$p")
  }

  /** Each optimized `Project` of a query with the expressions it
    * holds of class `T`, lambda bodies included. */
  private def projectExprs[T: scala.reflect.ClassTag](name: String)
      : Seq[(String, Seq[T])] = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.optimizedPlan.collect { case p: Project =>
      p.toString -> p.projectList.flatMap(_.collect { case e: T => e })
    }
  }

  test("q44: simhash16 splits each document once and md5-hashes each " +
       "token once") {
    import org.apache.spark.sql.catalyst.expressions.{Md5, StringSplit}
    val splits = projectExprs[StringSplit]("q44_simhash").filter(_._2.nonEmpty)
    assert(splits.map(_._2.size) == Seq(1), s"text projections: $splits")
    val md5s = projectExprs[Md5]("q44_simhash").filter(_._2.nonEmpty)
    assert(md5s.map(_._2.size) == Seq(1), s"md5 projections: $md5s")
  }

  test("q33: shingles splits each document once") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    val splits = projectExprs[StringSplit]("q33_shingles").filter(_._2.nonEmpty)
    assert(splits.map(_._2.size) == Seq(1), s"text projections: $splits")
  }

  test("text kernels: no Project repeats a tokenizer over a " +
       "non-attribute input (q30-q33, q39, q44, q72)") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, StringSplit}
    val names = Seq("q30_text_tokens", "q31_text_quality", "q32_lang_id",
      "q33_shingles", "q39_quality_filter", "q44_simhash", "q72_repetition")
    val repeats = for {
      name <- names
      (project, splits) <- projectExprs[StringSplit](name)
      (split, n) <- splits.filterNot(_.str.isInstanceOf[Attribute])
        .groupBy(_.canonicalized).map { case (k, v) => k -> v.size }
      if n > 1
    } yield s"$name: $n x $split in\n$project"
    assert(repeats.isEmpty, repeats.mkString("\n"))
  }

  test("RangeJoin.firstMatchDisjoint: no probe exchange, no CASE chain, " +
       "generated methods stay JIT-sized over 300 ranges") {
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ranges = (0 until 300).map { i =>
      val lo = rnd.nextInt(2000)
      (f"K$lo%04d", f"K${lo + rnd.nextInt(200)}%04d", s"r$i", i.toLong)
    }.toDF("lo", "hi", "name", "ord")
    val probe = spark.range(0, 20000, 1, 4)
      .select(format_string("K%04d", $"id" % 2300).as("code"))
    val df = graft.operators.RangeJoin.firstMatchDisjoint(
      probe, ranges, $"code", "lo", "hi", "ord")
    assert(df.collect().length == 20000)
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(helper.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"probe side shuffled:\n$plan")
    assert(helper.find(plan)(_.expressions.exists(_.exists(_.isInstanceOf[CaseWhen]))).isEmpty,
      s"CASE chain in the plan:\n$plan")
    val methods = codegenStringSeq(plan).map(_._3.maxMethodCodeSize)
    assert(methods.nonEmpty && methods.forall(_ < 8000),
      s"generated method at or above the JIT's 8000-byte limit: $methods")
  }

  test("CID dir mode: the write plan scans each official file at most " +
       "once, caches nothing, and holds J3 x2 + J4 x2 as broadcast " +
       "nested-loop joins") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val out = java.nio.file.Files.createTempDirectory("cid_plan")
      .resolve("dir.csv").toString
    val (_, _, queries) = traced(graft.etl.CidEtl.runFromDatasusDir(spark,
      "src/test/resources/cid_official", out,
      java.time.LocalDate.parse("2026-01-15")))
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = queries.map(_.executedPlan)
      .filter(helper.find(_)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    assert(writes.size == 1, s"expected one write, got:\n${writes.mkString("\n")}")
    val plan = writes.head
    val scanned = helper.collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName) }.flatten
    // CAPITULOS and GRUPOS are read once, into the file-ordered range
    // dims every join below takes from the driver.
    assert(scanned.sorted ==
      Seq("CID-10-CATEGORIAS.csv", "CID-10-SUBCATEGORIAS.csv"),
      s"official files scanned: $scanned\n$plan")
    assert(helper.collect(plan) { case c: InMemoryTableScanExec => c }.isEmpty,
      s"cached relation in the write plan:\n$plan")
    val nlj = helper.collect(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(nlj.size == 4, s"${nlj.size} broadcast nested-loop joins:\n$plan")
  }
}
