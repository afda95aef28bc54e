package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val story = "the quick brown fox jumps over the lazy dog " +
    "while seven wizards brew strange potions under a pale moon"
  private val other = "entirely different words about ships and " +
    "harbors and the long voyage across a cold grey sea at dawn"

  private val base = Seq(
    (1L, story), (2L, other))
    .toDF("doc_id", "text")
  private val delta = Seq(
    (10L, story),          // dup of base doc 1
    (11L, "completely novel content nine red balloons drift over " +
      "silent rooftops carrying letters nobody will ever read today"),
    (12L, story),          // dup of base 1 AND of earlier delta 10
    (13L, "too short"))    // < 3 tokens: no shingles, never a candidate
    .toDF("doc_id", "text")

  test("delta docs match base, earlier delta, or are new") {
    val got = Dedup
      .incrementalDedup(base, delta, $"doc_id", $"text",
        numHashes = 8, bands = 4)
      .select($"doc_id", $"base_match", $"delta_match", $"is_new")
      .as[(Long, Option[Long], Option[Long], Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((Some(1L), None, false)))
    assert(got(11L) == ((None, None, true)))
    assert(got(12L) == ((Some(1L), Some(10L), false)))
    assert(got(13L) == ((None, None, true)))
    assert(got.size == 4) // exactly one verdict row per delta doc
  }

  test("first-wins is intra-batch only: base is never matched to itself") {
    val out = Dedup
      .incrementalDedup(base, delta, $"doc_id", $"text", 8, 4)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 11L, 12L, 13L)) // no base ids in the output
  }

  test("batch buckets broadcast into the corpus probe (no corpus shuffle join)") {
    val out = Dedup.incrementalDedup(base, delta, $"doc_id", $"text", 8, 4)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("materialized bucket index: probe-only path gives identical " +
      "verdicts to recompute-per-batch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bkidx").toString
    Dedup.bandedBuckets(base, $"doc_id", $"text", numHashes = 8, bands = 4)
      .write.mode("overwrite").parquet(dir)
    val idx = Tables.read(spark, dir)
    assert(idx.columns.sorted.toSeq == Seq("band", "doc_id", "sig"))
    val indexed = Dedup
      .incrementalDedupIndexed(idx, delta, $"doc_id", $"text", 8, 4)
      .select($"doc_id", $"base_match", $"delta_match", $"is_new")
      .as[(Long, Option[Long], Option[Long], Boolean)].collect().sortBy(_._1)
    val recomputed = Dedup
      .incrementalDedup(base, delta, $"doc_id", $"text", 8, 4)
      .select($"doc_id", $"base_match", $"delta_match", $"is_new")
      .as[(Long, Option[Long], Option[Long], Boolean)].collect().sortBy(_._1)
    assert(indexed.toSeq == recomputed.toSeq)
    // and the index path must not touch corpus TEXT at all: its scan
    // reads only the three index columns
    val out = Dedup.incrementalDedupIndexed(idx, delta, $"doc_id", $"text", 8, 4)
    out.collect()
    // (string inspection: AQE nests the final scans out of reach of a
    // plain TreeNode.collect)
    val scanLines = out.queryExecution.executedPlan.toString
      .linesIterator.filter(l =>
        l.contains("FileScan parquet") && l.contains("graft_bkidx")).toSeq
    assert(scanLines.nonEmpty, "no index scan in plan")
    assert(scanLines.forall(l => !l.contains("text")),
      s"index scan read corpus text:\n${scanLines.mkString("\n")}")
  }

  test("autoBroadcastJoinThreshold=-1 (broadcast disabled) degrades to " +
      "the shuffle path instead of crashing") {
    withBroadcastThreshold(Some("-1")) {
      val out = Dedup
        .incrementalDedup(base, delta, $"doc_id", $"text", 8, 4)
        .select($"doc_id", $"is_new")
      // same answers as the broadcast plan; and the probe must not be
      // a broadcast join when the user disabled broadcasting
      val rows = out.as[(Long, Boolean)].collect().toMap
      assert(rows(10L) == false && rows(11L) == true)
      assert(!out.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    }
  }
}
