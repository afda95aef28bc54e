package graft

import graft.plans.GraftExtensions

/** The custom expressions must be reachable from plain SQL text. */
class GraftExtensionsSpec extends SparkSpec {

  test("registered functions evaluate from spark.sql") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  token_fingerprint('b a b') AS fp,
        |  md5('a b') AS expected_fp,
        |  sorted_intersect_at_least(
        |    array_sort(transform(array('a','b','c'), t -> xxhash64(t))),
        |    array_sort(transform(array('b','c','d'), t -> xxhash64(t))),
        |    0D, 0D) AS n,
        |  element_at(multi_min_hash(array('x','y','z'), 2, 3), 1) AS m0,
        |  md5('0:x y z') AS expected_m0,
        |  dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dp,
        |  shingle_md5(array('a','b','c','b','c'), 2) AS sh,
        |  md5('a b') AS expected_sh0,
        |  chunk_md5(array('a','b','c'), 2) AS ch,
        |  md5('c') AS expected_ch1,
        |  window_md5(array('a','b','a','b'), 2) AS ws,
        |  md5('a b') AS expected_ws0
        |""".stripMargin).collect()(0)
    assert(row.getAs[String]("fp") == row.getAs[String]("expected_fp"))
    assert(row.getAs[Int]("n") == 2)
    assert(row.getAs[String]("m0") == row.getAs[String]("expected_m0"))
    assert(row.getAs[Double]("dp") == 11.0)
    // 3 distinct bigrams of (a b c b c) — "b c" repeats; first is "a b"
    assert(row.getSeq[String](row.fieldIndex("sh")).size == 3 &&
      row.getSeq[String](row.fieldIndex("sh")).head ==
        row.getAs[String]("expected_sh0"))
    // chunks of (a b c) at width 2: "a b", tail "c"
    assert(row.getSeq[String](row.fieldIndex("ch")).last ==
      row.getAs[String]("expected_ch1"))
    // positional windows of (a b a b) at width 2: "a b","b a","a b" —
    // repeats kept, first and third identical
    val ws = row.getSeq[String](row.fieldIndex("ws"))
    assert(ws.size == 3 && ws.head == row.getAs[String]("expected_ws0")
      && ws(0) == ws(2) && ws(0) != ws(1))
  }

  test("threshold merge-scan variants evaluate from spark.sql") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  sorted_intersect_at_least(array(1L,2L,3L,4L),
        |    array(2L,3L,4L,5L), 0.5D / 1.5D, 0.5D / 1.5D) AS j_pass,
        |  sorted_intersect_at_least(array(1L,2L,3L,4L),
        |    array(9L,10L,11L,12L), 0.5D / 1.5D, 0.5D / 1.5D) AS j_prune,
        |  sorted_intersect_at_least(
        |    array(2L,3L,4L), array(1L,2L,3L,4L,5L), 0.9D, 0D) AS c_pass,
        |  sorted_intersect_at_least(
        |    array(1L,2L,9L), array(3L,4L,5L,6L,7L), 0.9D, 0D) AS c_prune
        |""".stripMargin).collect()(0)
    assert(row.getAs[Int]("j_pass") == 3)   // jaccard 3/5 >= 0.5, exact
    assert(row.getAs[Int]("j_prune") == -1) // disjoint -> early exit
    assert(row.getAs[Int]("c_pass") == 3)   // containment 3/3 >= 0.9
    assert(row.getAs[Int]("c_prune") == -1) // can't reach 0.9*3
  }

  test("bare decimal threshold literal (no D suffix) folds to Double") {
    GraftExtensions.register(spark)
    // a plain SQL decimal literal evals to Spark's Decimal (not a
    // java.lang.Number) — the builder must accept it, not report the
    // misleading "non-foldable argument"
    val row = spark.sql(
      """SELECT
        |  sorted_intersect_at_least(array(1L,2L,3L,4L),
        |    array(2L,3L,4L,5L), 0.5 / 1.5, 0.5 / 1.5) AS j,
        |  sorted_intersect_at_least(
        |    array(2L,3L,4L), array(1L,2L,3L,4L,5L), 0.9, 0) AS c
        |""".stripMargin).collect()(0)
    assert(row.getAs[Int]("j") == 3)
    assert(row.getAs[Int]("c") == 3)
  }

  test("wrong arity / non-literal args fail analysis naming the function") {
    GraftExtensions.register(spark)
    // wrong number of arguments: AnalysisException, not IndexOutOfBounds
    val arity = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_md5(array('a','b'))").collect()
    }
    assert(arity.getMessage.contains("shingle_md5"))
    // non-foldable shingle length: AnalysisException, not NPE from eval(null)
    val fold = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT shingle_md5(array(c), length(c)) FROM VALUES ('ab') t(c)")
        .collect()
    }
    assert(fold.getMessage.contains("shingle_md5"))
    // NULL literal for an int parameter: analysis error, not NPE
    val nul = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT multi_min_hash(array('a'), CAST(NULL AS INT), 3)")
        .collect()
    }
    assert(nul.getMessage.contains("multi_min_hash"))
    // non-foldable shingle length: the message names that parameter
    val shingle = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT multi_min_hash(array(c), 2, length(c)) FROM VALUES ('ab') t(c)")
        .collect()
    }
    assert(shingle.getMessage.contains("multi_min_hash") &&
      shingle.getMessage.contains("shingleLen"), shingle.getMessage)
  }

  test("window widths and seed counts below 1 fail at construction, " +
      "naming the parameter") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // the IVF table functions reach nearestCentroids' nprobe check the
    // same way; they resolve their views first, so give them real ones
    Seq((1L, Seq(1.0, 0.0), 1.0, 10L)).toDF("item_id", "cv", "cn", "list_id")
      .createOrReplaceTempView("ext_ivf_index")
    Seq((10L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid")
      .createOrReplaceTempView("ext_ivf_centroids")
    val views = "'ext_ivf_index', 'ext_ivf_centroids'"
    def scalar(fn: String, args: String) =
      s"SELECT $fn($args) FROM VALUES (array('a', 'b')) AS v(t)"
    def table(fn: String, args: String) = s"SELECT * FROM $fn($views, $args)"
    val cases = Seq(
      ("chunk_md5", "chunkLen", scalar("chunk_md5", "t, 0")),
      ("chunk_md5", "chunkLen", scalar("chunk_md5", "t, -1")),
      ("shingle_md5", "shingleLen", scalar("shingle_md5", "t, 0")),
      ("window_md5", "windowLen", scalar("window_md5", "t, 0")),
      ("multi_min_hash", "numHashes", scalar("multi_min_hash", "t, 0, 2")),
      ("multi_min_hash", "shingleLen", scalar("multi_min_hash", "t, 2, 0")),
      ("graft_ivf_qualifying_pairs", "nprobe",
        table("graft_ivf_qualifying_pairs", "0.5D, 0")),
      ("graft_cosine_topk_indexed", "nprobe",
        table("graft_cosine_topk_indexed", "3, 0.5D, 0")),
      ("graft_near_dup_indexed", "nprobe",
        table("graft_near_dup_indexed", "0.5D, 0")))
    for ((fn, param, sql) <- cases) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getMessage.contains(fn) && e.getMessage.contains(param),
        s"$sql: ${e.getMessage}")
    }
  }

  test("extensions class injects the same functions at session build") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders wired
    assert(GraftExtensions.functions.map(_._1).toSet ==
      Set("multi_min_hash", "sorted_intersect_at_least",
          "token_fingerprint",
          "dot_product", "shingle_md5", "chunk_md5", "window_md5",
          "token_pairs",
          "graft_length_bucket_width", "graft_sign_bits"))
  }
}
