package graft

import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, UnigramLm}

/** Semantic invariants for the round-6 training-data hygiene
  * operators on hand-built fixtures (cross-engine value equality is
  * the q83-q85 DuckDB oracle's job).
  */
class TrainingDataOpsSpec extends SparkSpec {

  import spark.implicits._

  test("decontaminate flags exactly the docs sharing an n-gram") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),   // shares "the quick brown"
      (2L, "totally unrelated words here"),
      (3L, "short doc")                    // < 3 tokens: 0 grams
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "the quick brown cat")
    ).toDF("doc_id", "text")
    val out = Decontaminate.overlap(corpus, eval_, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId(1L) == ((3L, 1L, true)))   // 3 trigrams, 1 hit
    assert(byId(2L)._2 == 0L && !byId(2L)._3)
    assert(byId(3L) == ((0L, 0L, false)))  // too short, kept visible
  }

  test("decontaminate hit counts are distinct-gram counts, not occurrences") {
    // the shared trigram repeats in the corpus doc; n_hits must be 1
    val corpus = Seq((1L, "a b c x a b c")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "a b c")).toDF("doc_id", "text")
    val r = Decontaminate.overlap(corpus, eval_, "doc_id", "text", 3).head()
    assert(r.getAs[Long]("n_hits") == 1L)
  }

  test("unigram LM: common-token docs score above rare-token docs") {
    // "common" appears 21x, the junk tokens once each (total 24,
    // vocab 4: rare iff cnt*4*4 < 24, so singletons qualify) -> doc 2
    // is the rare outlier: strictly lower score, higher n_rare
    val docs = Seq(
      (1L, ("common " * 10).trim),
      (2L, "zxqj wvkp common qqqz"),
      (3L, ("common " * 10).trim)
    ).toDF("doc_id", "text")
    val out = UnigramLm.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getAs[Double]("avg_freq")
      < byId(1L).getAs[Double]("avg_freq"))
    assert(byId(2L).getAs[Long]("n_rare") == 3L)
    assert(byId(1L).getAs[Long]("n_rare") == 0L)
  }

  test("scd2 collapses consecutive equal states into intervals") {
    val log = Seq(
      (1L, "A", 10L, 1L), (1L, "A", 20L, 2L), (1L, "B", 30L, 3L),
      (1L, "A", 40L, 4L), (2L, "C", 15L, 5L)
    ).toDF("user_id", "st", "ts", "event_id")
    val out = operators.Scd2
      .collapse(log, "user_id", "st", "ts", "event_id")
      .orderBy("user_id", "seg").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5))).toSeq
      == Seq((1L, "A", 10L, Some(30L), 2L),
             (1L, "B", 30L, Some(40L), 1L),
             (1L, "A", 40L, None, 1L),
             (2L, "C", 15L, None, 1L)))
  }

  test("scd2 intervals tile each key: valid_to equals next valid_from") {
    val df = operators.Scd2.collapse(
      Tables.load(spark, "/root/testdata/sf0.001", "events"),
      "user_id", "event_type", "ts", "event_id")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("seg"))
    val gaps = df
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .where("(valid_to IS NULL) <> (next_from IS NULL)" +
             " OR valid_to <> next_from").count()
    assert(gaps == 0)
  }

  test("fuzzy resolve picks lowest distance, breaks ties by min id") {
    val clean = Seq(
      (10L, "b", "acme corp"), (3L, "b", "acme gorp"),
      (7L, "b", "acme gorp"), (1L, "z", "zzz")
    ).toDF("cid", "blk", "cname")
    val dirty = Seq(
      (100L, "b", "acme gorp"),   // exact: ids 3/7 -> min 3
      (101L, "b", "acme corpse"), // dist 2 to corp only
      (102L, "b", "unrelated"),   // no candidate -> dropped
      (103L, "y", "acme corp")    // block mismatch -> dropped
    ).toDF("did", "blk", "dname")
    val out = operators.FuzzyResolve
      .bestMatch(dirty, clean, "blk", "did", "dname", "cid", "cname", 2)
      .orderBy("did").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(4)))
    assert(out.toSeq == Seq((100L, 3L, 0), (101L, 10L, 2)))
  }

  test("unigram LM: broadcast and shuffle vocab paths agree") {
    // broadcastMaxVocab=0 forbids the hint (the 1e9+-token web-junk
    // vocab case); results must be identical to the broadcast plan
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val hinted = UnigramLm.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val shuffled = UnigramLm.score(docs, "doc_id", "text",
        broadcastMaxVocab = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(hinted == shuffled && hinted.nonEmpty)
  }

  test("fuzzy resolve: name-domain match equals record-domain ranking") {
    val dirty = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_custkey").as("did"),
        substring(col("c_name"), 1, 1).as("blk"),
        lower(col("c_name")).as("dname"))
    val clean = dirty.where("did % 3 = 0")
      .select(col("did").as("cid"), col("blk"), col("dname").as("cname"))
    val got = operators.FuzzyResolve
      .bestMatch(dirty, clean, "blk", "did", "dname", "cid", "cname", 2)
      .orderBy("did", "cid").collect().toSeq
    // record domain: every (dirty, clean) pair of a block, ranked per
    // dirty record — the per-block quadratic join the operator avoids
    val w = org.apache.spark.sql.expressions.Window.partitionBy("did")
      .orderBy("dist", "cid")
    val want = dirty.join(clean, "blk")
      .withColumn("dist", levenshtein(col("dname"), col("cname")))
      .where(col("dist") <= 2)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("did", "dname", "cid", "cname", "dist")
      .orderBy("did", "cid").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("unigram LM: avg_freq is a probability-like mean in (0, 1]") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bad = UnigramLm.score(docs, "doc_id", "text")
      .where("avg_freq <= 0 OR avg_freq > 1").count()
    assert(bad == 0)
  }

  test("bloom decontamination never under-flags: hits >= exact per doc") {
    // the core bloom law — no false negatives — on real corpus data
    // with the production q128 dials
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val eval_ = docs.filter($"doc_id" % 50 === 0)
    val exact = Decontaminate.overlap(corpus, eval_, "doc_id", "text", 3)
      .select($"doc_id", $"n_grams".as("g_exact"), $"n_hits",
        $"contaminated")
    val bloom = Decontaminate
      .bloomOverlap(corpus, eval_, "doc_id", "text", 3, mBits = 65536)
      .select($"doc_id", $"n_grams".as("g_bloom"), $"n_bloom_hits",
        $"bloom_flagged")
    val j = exact.join(bloom, "doc_id").cache()
    try {
      assert(j.count() == corpus.count(), "every corpus doc surfaces")
      assert(j.filter($"g_exact" =!= $"g_bloom").count() == 0,
        "both passes must count the same distinct grams")
      assert(j.filter($"n_bloom_hits" < $"n_hits").count() == 0,
        "a bloom filter can only over-flag, never drop a true hit")
      assert(j.filter($"contaminated" && !$"bloom_flagged").count() == 0,
        "every exactly-contaminated doc must stay flagged")
    } finally j.unpersist()
  }

  test("bloom decontamination: probing the eval set against itself " +
      "saturates (every gram hits its own bits)") {
    // exact self-hit law for any mBits/numHashes: a gram's bits were
    // set by that very gram, so n_bloom_hits == n_grams on every doc
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(60)
    for (k <- Seq(1, 2, 4); m <- Seq(64, 65536)) {
      val out = Decontaminate
        .bloomOverlap(docs, docs, "doc_id", "text", 3,
          mBits = m, numHashes = k)
      assert(out.filter($"n_bloom_hits" =!= $"n_grams").count() == 0,
        s"self-probe must saturate at mBits=$m numHashes=$k")
    }
  }

  test("bloom decontamination flags a doc sharing an n-gram with eval") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"), // shares "the quick brown"
      (2L, "totally unrelated words here"),
      (3L, "short doc")                  // < 3 tokens: 0 grams
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown cat")).toDF("doc_id", "text")
    val out = Decontaminate
      .bloomOverlap(corpus, eval_, "doc_id", "text", 3, mBits = 65536)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(byId(1L)._1 == 3L && byId(1L)._2 >= 1L && byId(1L)._3,
      "the doc sharing a trigram must bloom-flag (no false negatives)")
    assert(byId(3L) == ((0L, 0L, false)), "a 0-gram doc never flags")
  }
}
