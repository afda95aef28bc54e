package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults, so every entry point
  * (Bench, Verify, Sql, Plans, tests) builds an identically-configured
  * session:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` is set HERE, at session
  *    construction, not as a side effect of loading the `events` table:
  *    the flag changes how any TIMESTAMP(NANOS) parquet is read for the
  *    whole session, and a config with session-wide reach belongs in
  *    the builder, visible, not inside a loader.
  *  - UTC session time zone: the oracle (DuckDB) is zone-less; every
  *    timestamp comparison assumes wall-clock == UTC.
  *  - shuffle partitions sized to the local core count, not the 200
  *    default (on a real cluster this would be AQE + a per-job target).
  *  - `files.maxPartitionBytes` lowered from 128 MB to 16 MB: the test
  *    rig reads single-file tables (sf1 lineitem is one 115 MB file),
  *    and at the default every lineitem scan at sf1 collapses to ONE
  *    partition — a single-threaded scan feeding 32 idle cores
  *    (measured: q11's trivial distinct at 1.8 s vs 0.45 s). 16 MB
  *    keeps scan parallelism ≈ cores for the ~0.1–1 GB local inputs;
  *    on a real cluster this is tuned to the file/split layout, and
  *    100 TB inputs arrive as many files regardless.
  *  - `objectHashAggregate.sortBased.fallbackThreshold` raised from
  *    Spark's ultra-conservative 128 to 1M: at 128, ANY
  *    TypedImperativeAggregate grouped by a real key (BoundedTopK by
  *    doc_id — 200 k+ groups) abandons the hash map after the first
  *    128 groups and SORTS the entire partial-side stream by group
  *    key — for q120 at sf10 that is a ~10⁹-row sort whose cost
  *    scales with the candidate-pair volume, erasing the bound the
  *    partial heap exists to provide (measured: 61 s → see PLANS.md
  *    round 16). The raise is session-global and the threshold is
  *    count-based with no memory accounting, so it also governs the
  *    engine's UNbounded-state object aggregates — audited here so the
  *    weakened early-fallback guard is a decision, not an accident:
  *      - BoundedTopK / KMV / per-centroid dim lists: state bounded by
  *        construction (k-heap, ≤K sketch, k×dims) — 1M entries ≈
  *        150 MB per task worst case, the intended beneficiaries.
  *      - LSH bucket members (Dedup.minhashCandidates collect_list)
  *        and per-doc rarity arrays (Dedup.containmentPairs): state
  *        per GROUP is a real-dup bucket / one doc's tokens, but the
  *        partial phase can now buffer up to 1M groups, i.e. ≈ the
  *        task's whole input slice as object lists. That slice is
  *        itself bounded: scan partitions by files.maxPartitionBytes
  *        (16 MB here; split-sized on a cluster) and post-shuffle
  *        slices by the shuffle-partition dial, so worst case is
  *        ~4× slice bytes of heap — hundreds of MB, not unbounded,
  *        and partitions beyond 1M distinct groups still spill.
  *    If a future aggregate has per-group state NOT bounded by doc/
  *    bucket size, scope it: build that query on `newSession()` with
  *    the Spark default (128) restored.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
