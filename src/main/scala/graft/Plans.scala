package graft

/** Plan auditor: runs each named catalog query to completion, then
  * prints its EXECUTED physical plan (`queryExecution.executedPlan`)
  * — the post-AQE plan PlansSpec asserts against, with AQE's final
  * join strategies, exchange reuse and coalescing decided. The static
  * `explain("formatted")` shows each subtree once however many times
  * it actually runs. Run:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Plans q01_scan_filter q03_star_join ..."
  * With no args, audits a representative set.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_scan_filter", "q03_star_join", "q21_priority_dedup",
      "q43_minhash_lsh_pairs", "q45_jaccard_pairs", "q50_ann_bruteforce",
      "q60_events_tumbling")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      println(s"\n======== $n (executed) ========")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
