package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BudgetSelect, Dedup, Kmv, Packing}
import graft.plans.GraftExtensions

/** The operator-level SQL surface (r14 verdict task #6): every
  * registered table function must return EXACTLY what the Scala entry
  * point returns — same rows, same schema — because the function
  * expands into the operator's own logical plan. Seven operators run
  * purely through `spark.sql`; q119 oracles the path end-to-end
  * against DuckDB.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox jumps over a sleepy dog"),
    (4L, "pack my box with five dozen liquor jugs"),
    (5L, "pack my box with five dozen liquor jugs today"),
    (6L, "entirely different content lives here"))
    .toDF("doc_id", "text")
  docs.createOrReplaceTempView("sql_docs")

  // Derived views live in the suite body, not inside tests: each test
  // must be runnable alone (testOnly -z) and in any order, so no test
  // may depend on a view another test happened to create first.
  spark.sql("""CREATE OR REPLACE TEMP VIEW sql_keyed AS
               SELECT doc_id, md5(text) AS content_hash FROM sql_docs""")
  spark.sql("""CREATE OR REPLACE TEMP VIEW sql_scored AS
               SELECT doc_id,
                      size(split(trim(text), '\\s+')) AS n_tok,
                      1.0 / (1 + doc_id % 3) AS score
               FROM sql_docs""")
  spark.sql("""CREATE OR REPLACE TEMP VIEW sql_hv AS
               SELECT doc_id, doc_id % 2 AS grp,
                      (doc_id * 37) % 11 AS hv FROM sql_docs""")

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def sameAs(sql: String, direct: DataFrame): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.schema == direct.schema,
      s"schema drift: ${viaSql.schema} vs ${direct.schema}")
    assert(rows(viaSql) == rows(direct))
  }

  test("graft_exact_dedup == Dedup.exact") {
    sameAs(
      "SELECT * FROM graft_exact_dedup('sql_keyed', 'doc_id', 'content_hash')",
      Dedup.exact(spark.table("sql_keyed"), $"doc_id", $"content_hash"))
  }

  test("graft_minhash_signatures == Dedup.minhashSignatures") {
    sameAs(
      "SELECT * FROM graft_minhash_signatures('sql_docs', 'doc_id', 'text', 6)",
      Dedup.minhashSignatures(docs, $"doc_id", $"text", 6))
  }

  test("graft_lsh_pairs == Dedup.minhashCandidates") {
    sameAs(
      "SELECT * FROM graft_lsh_pairs('sql_docs', 'doc_id', 'text', 8, 4)",
      Dedup.minhashCandidates(docs, $"doc_id", $"text", 8, 4))
    // and the exact-duplicate pair must actually surface via pure SQL
    val hit = spark.sql(
      """SELECT n_shared_bands FROM
        |  graft_lsh_pairs('sql_docs', 'doc_id', 'text', 8, 4)
        |WHERE doc_a = 1 AND doc_b = 2""".stripMargin)
      .as[Long].collect()
    assert(hit.sameElements(Array(4L)))
  }

  test("graft_containment_pairs == Dedup.containmentPairs") {
    sameAs(
      "SELECT * FROM graft_containment_pairs('sql_docs', 'doc_id', 'text', 0.9D)",
      Dedup.containmentPairs(docs, $"doc_id", $"text", 0.9))
    // bare decimal literal works here too (doubleLit Decimal arm)
    sameAs(
      "SELECT * FROM graft_containment_pairs('sql_docs', 'doc_id', 'text', 0.9)",
      Dedup.containmentPairs(docs, $"doc_id", $"text", 0.9))
  }

  test("graft_dup_spans == Dedup.dupSpanStats") {
    sameAs(
      "SELECT * FROM graft_dup_spans('sql_docs', 'doc_id', 'text', 3)",
      Dedup.dupSpanStats(docs, $"doc_id", $"text", 3))
    // the exact-duplicate doc pair's windows must all read duplicated
    val dup = spark.sql(
      """SELECT dup_ratio FROM
        |  graft_dup_spans('sql_docs', 'doc_id', 'text', 3)
        |WHERE doc_id IN (1, 2)""".stripMargin)
      .as[Double].collect()
    assert(dup.length == 2 && dup.forall(_ == 1.0))
  }

  test("graft_bloom_decontam == Decontaminate.bloomOverlap") {
    spark.sql("""CREATE OR REPLACE TEMP VIEW sql_eval AS
                 SELECT * FROM sql_docs WHERE doc_id % 3 = 0""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW sql_corpus AS
                 SELECT * FROM sql_docs WHERE doc_id % 3 <> 0""")
    sameAs(
      """SELECT * FROM graft_bloom_decontam(
        |  'sql_corpus', 'sql_eval', 'doc_id', 'text', 3, 65536, 2)""".stripMargin,
      graft.operators.Decontaminate.bloomOverlap(
        spark.table("sql_corpus"), spark.table("sql_eval"),
        "doc_id", "text", 3, 65536, 2))
  }

  test("graft_cm_heavy_hitters == CountMin.heavyHitters") {
    sameAs(
      "SELECT * FROM graft_cm_heavy_hitters('sql_docs', 'text', 8, 2, 10)",
      graft.operators.CountMin.heavyHitters(
        docs, $"text", width = 8, depth = 2, k = 10))
  }

  test("graft_budget_select == BudgetSelect.selectByTokenBudget") {
    sameAs(
      """SELECT * FROM
        |  graft_budget_select('sql_scored', 'score', 'n_tok', 'doc_id', 20)""".stripMargin,
      BudgetSelect.selectByTokenBudget(
        spark.table("sql_scored"), $"score", $"n_tok", $"doc_id", 20L))
  }

  test("graft_pack_sequences == Packing.packByTokenBudget") {
    sameAs(
      """SELECT * FROM
        |  graft_pack_sequences('sql_scored', 'doc_id', 'n_tok', 16)""".stripMargin,
      Packing.packByTokenBudget(
        spark.table("sql_scored"), $"doc_id", $"n_tok", 16))
  }

  test("graft_kmv_distinct == Kmv.kSmallestDistinctByGroup") {
    sameAs(
      "SELECT * FROM graft_kmv_distinct('sql_hv', 'grp', 'hv', 2)",
      Kmv.kSmallestDistinctByGroup(spark.table("sql_hv"), $"grp", $"hv", 2))
  }

  test("table functions compose inside larger SQL (join, agg, CTE)") {
    val composed = spark.sql(
      """WITH pairs AS (
        |  SELECT * FROM graft_lsh_pairs('sql_docs', 'doc_id', 'text', 8, 4)),
        |dups AS (
        |  SELECT * FROM graft_exact_dedup('sql_keyed', 'doc_id', 'content_hash'))
        |SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
        |       (SELECT CAST(SUM(n_copies) AS BIGINT) FROM dups) AS n_docs""".stripMargin)
      .as[(Long, Long)].head()
    assert(composed._2 == 6L)
    assert(composed._1 >= 1L)
  }

  test("dial scalars replicate BlockDials bit-for-bit on a value grid") {
    import graft.operators.BlockDials
    val grid = Seq((0L, 0L), (1L, 10L), (500L, 999L), (1250L, 1000L),
      (1251L, 1000L), (100000L, 5000L), (10L, 0L), (750L, 1L),
      (751L, 1L), (100000000L, 123L))
    grid.foreach { case (n, mx) =>
      val row = spark.sql(
        s"SELECT graft_length_bucket_width(${n}L, ${mx}L) AS w, " +
          s"graft_sign_bits(${n}L) AS b").head()
      assert(row.getInt(0) == BlockDials.lengthBucketWidth(n, mx),
        s"width mismatch at ($n, $mx)")
      assert(row.getInt(1) == BlockDials.signBits(n),
        s"bits mismatch at n=$n")
    }
  }

  test("pure-SQL auto-dial flow runs q45's two steps end-to-end") {
    import graft.operators.{BlockDials, Dedup}
    spark.sql("""CREATE OR REPLACE TEMP VIEW sql_cdocs AS
                 SELECT doc_id, text, 'en' AS lang,
                        length(text) AS n_chars FROM sql_docs""")
    // step 1: the user's one stats query, dial derived IN SQL
    val w = spark.sql(
      """SELECT graft_length_bucket_width(COUNT(*), MAX(n_chars))
        |FROM sql_cdocs""".stripMargin).head().getInt(0)
    val (n, mx) = BlockDials.countAndMax(
      spark.table("sql_cdocs"), $"n_chars")
    assert(w == BlockDials.lengthBucketWidth(n, mx))
    // step 2: the blocked operator with the derived literal dial
    val direct = Dedup.jaccardPairs(spark.table("sql_cdocs"),
      $"doc_id", $"text",
      blockKeys = Seq($"lang", floor($"n_chars" / w.toDouble).cast("int")),
      threshold = 0.8)
    sameAs(
      s"""SELECT * FROM graft_jaccard_pairs(
         |  'sql_cdocs', 'doc_id', 'text', 'lang', 'n_chars', $w, 0.8D)"""
        .stripMargin,
      direct)
    // the exact-duplicate doc pair must actually surface via pure SQL
    val dup = spark.sql(
      s"""SELECT jaccard FROM graft_jaccard_pairs(
         |  'sql_cdocs', 'doc_id', 'text', 'lang', 'n_chars', $w, 0.8D)
         |WHERE doc_a = 1 AND doc_b = 2""".stripMargin)
      .as[Double].collect()
    assert(dup.sameElements(Array(1.0)))
  }

  test("pure-SQL auto-dial flow runs q57's two steps end-to-end") {
    import graft.operators.{BlockDials, Similarity}
    Seq(
      (1L, Array(0.5f, 0.1f, 0.2f)),
      (2L, Array(0.5f, 0.1f, 0.21f)), // near-dup of 1
      (3L, Array(-0.4f, 0.3f, 0.0f)),
      (4L, Array(-0.4f, 0.31f, 0.01f)), // near-dup of 3
      (5L, Array(0.0f, -0.9f, 0.5f)),
      (6L, Array(0.9f, 0.9f, -0.9f)))
      .toDF("vec_id", "vec").createOrReplaceTempView("sql_vecs")
    val nb = spark.sql("SELECT graft_sign_bits(COUNT(*)) FROM sql_vecs")
      .head().getInt(0)
    assert(nb == BlockDials.signBits(6L))
    sameAs(
      s"SELECT * FROM graft_cosine_pairs('sql_vecs', 'vec_id', 'vec', 0.9D, $nb)",
      Similarity.cosinePairsBlocked(
        spark.table("sql_vecs"), "vec_id", "vec", 0.9, nb))
    sameAs(
      s"SELECT * FROM graft_cosine_topk('sql_vecs', 'vec_id', 'vec', 2, 0.0D, $nb)",
      Similarity.cosineTopKBlocked(
        spark.table("sql_vecs"), "vec_id", "vec", 2, 0.0, nb))
    // the near-dup pair surfaces
    val hit = spark.sql(
      s"""SELECT COUNT(*) FROM graft_cosine_pairs(
         |  'sql_vecs', 'vec_id', 'vec', 0.9D, $nb)
         |WHERE id_a = 1 AND id_b = 2""".stripMargin)
      .as[Long].head()
    assert(hit == 1L)
  }

  test("IVF-indexed miners via SQL == Scala twins (pairs, topk, " +
    "components)") {
    import graft.operators.Similarity
    // clustered fixture: 3 tight cones, so the decision path has real
    // components and the probe adjacency has real off-list pairs
    val rnd = new scala.util.Random(11)
    val centers =
      Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
        Seq(0.0, 0.0, 1.0, 0.0))
    val vecs = (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => x + rnd.nextGaussian() * 0.08))
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.trainCentroids(
      vecs, "vec_id", "embedding", k = 3, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_sql_ivf_spec").toString
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", centroids,
      path, listCap = 40)
    val idx = Tables.readCached(spark, path)
    idx.createOrReplaceTempView("sql_ivf_index")
    centroids.createOrReplaceTempView("sql_ivf_centroids")
    sameAs(
      """SELECT * FROM graft_ivf_qualifying_pairs(
        |  'sql_ivf_index', 'sql_ivf_centroids', 0.8D, 2)""".stripMargin,
      Similarity.indexedQualifyingPairs(idx, centroids, 0.8, 2))
    sameAs(
      """SELECT * FROM graft_cosine_topk_indexed(
        |  'sql_ivf_index', 'sql_ivf_centroids', 5, 0.8D, 2)""".stripMargin,
      Similarity.cosineTopKIndexed(idx, centroids, 5, 0.8, 2))
    sameAs(
      """SELECT * FROM graft_near_dup_indexed(
        |  'sql_ivf_index', 'sql_ivf_centroids', 0.9D, 2)""".stripMargin,
      Similarity.nearDupComponentsIndexed(idx, centroids, 0.9, 2))
    // and the near-dup labels actually merge the planted cones
    val comps = spark.sql(
      """SELECT COUNT(DISTINCT component) FROM graft_near_dup_indexed(
        |  'sql_ivf_index', 'sql_ivf_centroids', 0.9D, 2)""".stripMargin)
      .as[Long].head()
    assert(comps <= 6L, s"expected ~3 cone components, got $comps")
  }

  test("bad arguments fail analysis loudly, naming the function") {
    val wrongArity = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_exact_dedup('sql_keyed')").collect()
    }
    assert(wrongArity.getMessage.contains("graft_exact_dedup"))
    val badView = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT * FROM graft_exact_dedup('no_such_view', 'a', 'b')").collect()
    }
    assert(badView.getMessage.toLowerCase.contains("no_such_view"))
    val nonLiteral = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT * FROM graft_kmv_distinct('sql_hv', 'grp', 'hv', rand())")
        .collect()
    }
    assert(nonLiteral.getMessage.contains("graft_kmv_distinct") ||
      nonLiteral.getMessage.toLowerCase.contains("foldable"))
    // a foldable literal of the WRONG type gets the type-mismatch
    // error (naming the expected type), not the misleading
    // "non-foldable" message
    val mistyped = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_exact_dedup(42, 'a', 'b')").collect()
    }
    val msg = mistyped.getMessage
    assert(msg.contains("graft_exact_dedup"))
    assert(msg.toUpperCase.contains("STRING") &&
      !msg.toLowerCase.contains("foldable"), msg)
    // a sign-bit count outside [1, 16] fails analysis naming the
    // function and the parameter: 0 bits has no bucket, and past 31
    // bits the Int shift wraps into a silently wrong candidate set
    Seq((1L, Array(0.5f, 0.1f)), (2L, Array(-0.5f, -0.1f)))
      .toDF("vec_id", "vec").createOrReplaceTempView("sql_bad_vecs")
    for (nb <- Seq(0, 17)) {
      val badBits = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT * FROM graft_cosine_pairs(" +
          s"'sql_bad_vecs', 'vec_id', 'vec', 0.9D, $nb)").collect()
      }
      assert(badBits.getMessage.contains("graft_cosine_pairs") &&
        badBits.getMessage.contains("nbits"), badBits.getMessage)
    }
  }
}
