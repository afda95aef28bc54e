package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in the graft.queries.* catalogs; this object only
  * flattens them into the driver's Map shape.
  */
object SparkEntry {

  /** Every query catalog in the engine. Order matters only for display. */
  val catalogs: Seq[Catalog] = Seq(
    CoreQueries, CoreQueries2, CoreQueries3, TextQueries, DedupQueries,
    SimilarityQueries, EventQueries, AnalyticsQueries,
    IncrementalQueries, TrainingQueries, MultimodalQueries,
    PipelineQueries)

  private lazy val allQueries: Seq[Q] = catalogs.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries.find(_.name == "q02_agg_pricing").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Names of headline queries for Bench (subset of queries). */
  def benchQueries: Seq[String] = allQueries.filter(_.bench).map(_.name)

  /** The standing sf1 re-verification family (tools/sf1_gate.sh →
    * CORRECTNESS_sf1_r{N}.json): every scale-sensitive operator whose
    * DuckDB oracle COMPLETES at sf1 in bounded time — dedup,
    * similarity/ANN, text-pipeline, sketch, and iterative families.
    * q45/q94 (DuckDB >620 s, killed), q47 (recursive-CTE
    * oracle, 365 s) and q115 (all-pairs containment: output itself is
    * ~quadratic on the 31-word synthetic vocab, like q45) are excluded
    * here and covered by the sf0.01 gate plus their PLANS.md plan
    * audits; Verify expands the name `@scale` in
    * SPARK_GRAFT_VERIFY_ONLY to this list.
    */
  val scaleFamily: Seq[String] = Seq(
    "q40_dedup_exact", "q41_dedup_fingerprint", "q42_minhash_signatures",
    "q43_minhash_lsh_pairs", "q44_simhash", "q46_range_join_bucketed",
    "q48_hash_sample", "q49_stratified_sample", "q50_ann_bruteforce",
    "q51_ann_lsh", "q52_embedding_near_dup", "q53_vector_stats",
    "q55_quantize", "q57_near_dup_blocked", "q68_ann_lsh_multiprobe",
    "q69_tfidf_topterms", "q71_pii_scrub", "q72_repetition", "q75_vocab",
    "q76_kmv_distinct", "q77_heavy_hitters", "q78_chunk_dedup",
    "q83_decontam", "q84_unigram_lm", "q86_scd2", "q89_gap_fill",
    "q90_session_window", "q96_recursive_cte", "q99_cooccurrence",
    "q104_approx_distinct_gate", "q105_seq_pack", "q106_det_shard",
    "q107_mixture_resample", "q108_source_pctl_filter",
    "q109_incremental_dedup", "q111_image_decode", "q112_audio_decode",
    "q113_video_decode", "q114_budget_select", "q117_kmv_merge",
    "q118_rolling_dedup", "q120_cosine_topk", "q122_ann_ivf_probe",
    "q128_bloom_decontam", "q129_dup_span_windows",
    "q130_cm_heavy_hitters")
}
