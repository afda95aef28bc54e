package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.CustomExpressions._
import graft.functions.expressions.SortedIntersectAtLeast.sortedIntersectAtLeast
import graft.functions.expressions.TokenFingerprint.tokenFingerprint

/** The custom Catalyst expressions must be value-identical to the
  * composed built-in pipelines they replace — checked on edge cases
  * (empty docs, short docs, repeated tokens, unicode) and on real
  * corpus data.
  */
class CustomExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b",                       // shorter than the shingle length
    "",                          // empty
    "  padded   whitespace  ",
    "dup dup dup dup",
    "zz aa mm aa zz",            // needs sorting + dedup
    "café naïve 中文 tokens")

  test("MultiMinHash == per-seed array_min(transform(md5)) composition") {
    val df = samples.toDF("text")
    val sh = TextFunctions.shingles($"text", 3)
    val composed = df.select(
      (0 until 4).map(s => TextFunctions.minhashHex(sh, s).as(s"m$s")): _*)
    val custom = df.select(
      multiMinHash(TextFunctions.tokens($"text"), 4, 3).as("sig"))
      .select((0 until 4).map(s => element_at($"sig", s + 1).as(s"m$s")): _*)
    assert(custom.collect().toSeq == composed.collect().toSeq)
  }

  test("TokenFingerprint == md5(concat_ws(sort(distinct(tokens)))) composition") {
    val df = samples.toDF("text")
    val composed = df.select(md5(concat_ws(" ",
      array_sort(array_distinct(TextFunctions.tokens(lower($"text")))))).as("fp"))
    val custom = df.select(tokenFingerprint(lower($"text")).as("fp"))
    assert(custom.collect().toSeq == composed.collect().toSeq)
  }

  /** Runs `body` under whole-stage codegen, then again with every
    * expression evaluated interpreted (`nullSafeEval`, not `doGenCode`).
    */
  private def codegenAndInterpreted(body: String => Unit): Unit = {
    body("codegen")
    val keys = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("interpreted")
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Tokens hashed to the sorted distinct long arrays the merge scan
    * expects. */
  private def hashedSorted(c: org.apache.spark.sql.Column) =
    array_sort(transform(array_distinct(c), t => xxhash64(t)))

  test("SortedIntersectCount == size(array_intersect) on sorted distinct arrays") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("x")),
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("中", "a"), Seq("中"))).toDF("x", "y")
      .select(hashedSorted($"x").as("x"), hashedSorted($"y").as("y"))
    codegenAndInterpreted { mode =>
      val composed = df.select(size(array_intersect($"x", $"y")).as("n"))
      val custom = df.select(
        sortedIntersectAtLeast($"x", $"y", 0.0, 0.0).as("n"))
      assert(custom.collect().toSeq == composed.collect().toSeq, mode)
    }
    // and on random arrays: at fractions (0, 0) the scan never aborts
    earlyExitPairs(5, Seq(Seq.empty[Long], Seq(1L, 2L, 3L)), 0.0, 0.0) {
      (mode, pairs) =>
        pairs.foreach(r =>
          assert(r.getInt(1) == r.getInt(0), s"$mode: count differs: $r"))
    }
  }

  /** Random sorted-distinct long arrays (plus `fixed` boundary cases),
    * all ordered pairs, with the exact count `full` (built-in
    * size(array_intersect)) beside the merge scan's `fast` at the given
    * fractions and the two sizes — collected once per evaluation path.
    */
  private def earlyExitPairs(seed: Int, fixed: Seq[Seq[Long]],
                             fracLeft: Double, fracRight: Double)(
      check: (String, Seq[org.apache.spark.sql.Row]) => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    val arrays = (fixed ++
      (1 to 40).map(_ =>
        (1 to (1 + rnd.nextInt(30))).map(_ => rnd.nextInt(40).toLong)
          .distinct.sorted.toSeq)).zipWithIndex
    val df = arrays.map { case (a, i) => (i.toLong, a) }.toDF("id", "toks")
    codegenAndInterpreted { mode =>
      val pairs = df.as("a").crossJoin(df.as("b"))
        .select(
          size(array_intersect(col("a.toks"), col("b.toks"))).as("full"),
          sortedIntersectAtLeast(col("a.toks"), col("b.toks"),
            fracLeft, fracRight).as("fast"),
          size(col("a.toks")).as("na"), size(col("b.toks")).as("nb"))
        .collect().toSeq
      check(mode, pairs)
    }
  }

  test("DotProduct == aggregate(zip_with(cast)) fold, incl. null/length edges") {
    import graft.functions.expressions.DotProduct.dotProduct
    // the composed built-in form DotProduct replaces (bit-for-bit)
    def composedDot(a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column) =
      aggregate(zip_with(transform(a, _.cast("double")),
          transform(b, _.cast("double")), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)

    val doubles = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0), Seq(1.0)), // length mismatch -> null
      (Seq(1e-300, 1e300), Seq(1e300, 1e-300))).toDF("x", "y")
    assert(doubles.select(dotProduct($"x", $"y")).collect().toSeq ==
      doubles.select(composedDot($"x", $"y")).collect().toSeq)

    val floats = Seq(
      (Seq(1.5f, -2.25f, 0.1f), Seq(0.3f, 4.0f, -1.1f)),
      (Seq(Float.MinPositiveValue), Seq(Float.MaxValue))).toDF("x", "y")
    assert(floats.select(dotProduct($"x", $"y")).collect().toSeq ==
      floats.select(composedDot($"x", $"y")).collect().toSeq)

    // null array and null element both null out, like the composition
    val withNulls = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0D, 2.0D), CAST(NULL AS ARRAY<DOUBLE>)),
        |  (array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D))
        |AS t(x, y)""".stripMargin)
    assert(withNulls.select(dotProduct($"x", $"y")).collect().toSeq ==
      withNulls.select(composedDot($"x", $"y")).collect().toSeq)

    // real corpus: every embedding dotted with itself and a neighbor
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding")
    val pairs = e.join(
      e.select($"vec_id".as("vid2"), $"embedding".as("e2")),
      $"vec_id" % 7 === $"vid2" % 7)
    assert(pairs.select(dotProduct($"embedding", $"e2")).collect().toSeq ==
      pairs.select(composedDot($"embedding", $"e2")).collect().toSeq)
  }

  test("expressions agree with composition on the real corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = TextFunctions.shingles($"text", 3)
    val a = docs.select($"doc_id",
      TextFunctions.minhashHex(sh, 0).as("m0"),
      md5(concat_ws(" ", array_sort(array_distinct(
        TextFunctions.tokens(lower($"text")))))).as("fp"))
      .orderBy($"doc_id").collect().toSeq
    val b = docs.select($"doc_id",
      element_at(multiMinHash(TextFunctions.tokens($"text"), 1, 3), 1).as("m0"),
      tokenFingerprint(lower($"text")).as("fp"))
      .orderBy($"doc_id").collect().toSeq
    assert(a == b)
  }

  test("ShingleMd5 == md5 over array_distinct(shingles) composition") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = TextFunctions.tokens($"text")
    val a = docs.select($"doc_id",
      transform(array_distinct(TextFunctions.shinglesOf(toks, 3)),
        g => md5(g)).as("hs")).orderBy($"doc_id").collect().toSeq
    val b = docs.select($"doc_id",
      graft.functions.expressions.ShingleMd5.shingleMd5(toks, 3).as("hs"))
      .orderBy($"doc_id").collect().toSeq
    assert(a == b)
    // short-doc edge: < n tokens -> empty array, null text -> null
    val edge = Seq((1L, "a b"), (2L, null)).toDF("doc_id", "text")
    val r = edge.select(graft.functions.expressions.ShingleMd5
        .shingleMd5(TextFunctions.tokens($"text"), 3).as("hs"))
      .orderBy($"doc_id").collect()
    assert(r(0).getSeq[String](0).isEmpty && r(1).isNullAt(0))
  }

  test("ShingleMd5/ChunkMd5 skip null elements like concat_ws") {
    // tokens() never emits nulls, but the SQL-registered functions
    // accept arbitrary arrays — null elements must follow concat_ws's
    // rule (skipped, no separator), so ["a", null, "b"] grams "a b".
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('a', CAST(NULL AS STRING), 'b', 'c')),
        |  (2L, array(CAST(NULL AS STRING), NULL, 'x')),
        |  (3L, array('', NULL, 'y', ''))
        |AS t(id, toks)""".stripMargin)
    val composedShingle = df.select($"id",
      transform(array_distinct(TextFunctions.shinglesOf($"toks", 2)),
        g => md5(g)).as("hs")).orderBy($"id").collect().toSeq
    val customShingle = df.select($"id",
      graft.functions.expressions.ShingleMd5.shingleMd5($"toks", 2).as("hs"))
      .orderBy($"id").collect().toSeq
    assert(customShingle == composedShingle)

    val W = 2
    val composedChunk = df.select($"id",
      transform(sequence(lit(0),
          floor((size($"toks") - 1) / lit(W)).cast("int")),
        i => md5(concat_ws(" ", slice($"toks", i * W + 1, lit(W)))))
        .as("hs")).orderBy($"id").collect().toSeq
    val customChunk = df.select($"id",
      graft.functions.expressions.ChunkMd5.chunkMd5($"toks", W).as("hs"))
      .orderBy($"id").collect().toSeq
    assert(customChunk == composedChunk)

    val sh = TextFunctions.shinglesOf($"toks", 2)
    val composedMinHash = df.select($"id",
      array((0 until 2).map(s => TextFunctions.minhashHex(sh, s)): _*)
        .as("sig")).orderBy($"id").collect().toSeq
    val customMinHash = df.select($"id", multiMinHash($"toks", 2, 2).as("sig"))
      .orderBy($"id").collect().toSeq
    assert(customMinHash == composedMinHash)
  }

  test("ChunkMd5 == md5 over stride-window transform composition") {
    val W = 20
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("toks", TextFunctions.tokens($"text"))
      .where(size($"toks") > 0)
    val a = docs.select($"doc_id",
      transform(sequence(lit(0),
          floor((size($"toks") - 1) / lit(W)).cast("int")),
        i => md5(concat_ws(" ", slice($"toks", i * W + 1, lit(W)))))
        .as("hs")).orderBy($"doc_id").collect().toSeq
    val b = docs.select($"doc_id",
      graft.functions.expressions.ChunkMd5.chunkMd5($"toks", W).as("hs"))
      .orderBy($"doc_id").collect().toSeq
    assert(a == b)
  }

  test("TokenPairs == exploded-table self-join pair counts, incl. edges") {
    import graft.functions.expressions.TokenPairs.tokenPairs
    // edge cases: null array, empty, 1 token, dups (deduped), null
    // elements (skipped), pre-sorted vs unsorted input
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, CAST(NULL AS ARRAY<STRING>)),
        |  (1L, array('b', 'a', 'c')),
        |  (2L, array('x')),
        |  (3L, array()),
        |  (4L, array('b', 'b', 'a', CAST(NULL AS STRING), 'a')),
        |  (5L, array('a', 'b', 'c'))
        |AS t(id, toks)""".stripMargin)
    val viaExpr = df.select($"id", explode(tokenPairs($"toks")).as("p"))
      .select($"id", $"p.t1", $"p.t2")
      .orderBy($"id", $"t1", $"t2").collect().toSeq
    val t = df.select($"id", explode(array_distinct($"toks")).as("t"))
      .where($"t".isNotNull)
    val viaJoin = t.as("a")
      .join(t.as("b"),
        col("a.id") === col("b.id") && col("a.t") < col("b.t"))
      .select(col("a.id"), col("a.t").as("t1"), col("b.t").as("t2"))
      .orderBy($"id", $"t1", $"t2").collect().toSeq
    assert(viaExpr == viaJoin)
    // null array propagates (explode drops the row — same as before)
    assert(df.select(tokenPairs($"toks").as("p")).where($"p".isNull)
      .count() == 1)

    // real corpus: pair multiset identical to the self-join form
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id",
        array_distinct(TextFunctions.tokens(lower($"text"))).as("toks"))
    val exprCounts = docs
      .select(explode(tokenPairs($"toks")).as("p"))
      .groupBy($"p.t1", $"p.t2").count()
      .orderBy($"t1", $"t2").collect().toSeq
    val tt = docs.select($"doc_id", explode($"toks").as("t"))
    val joinCounts = tt.as("a")
      .join(tt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2")).count()
      .orderBy($"t1", $"t2").collect().toSeq
    assert(exprCounts == joinCounts)
  }

  test("SortedIntersectAtLeastLong: codegen early exit never flips the threshold verdict") {
    // random sorted-distinct long arrays; for every pair the early-exit
    // expression at the Jaccard fractions t/(1+t) must (a) return the
    // exact count whenever the pair qualifies at t, and (b) return a
    // value that makes the computed jaccard < t whenever it doesn't —
    // i.e. pruning can never change the qualify set. Includes boundary
    // pairs at jaccard == t exactly (4-of-5 overlap at t = 0.8) and
    // empty arrays.
    val t = 0.8
    earlyExitPairs(7,
      Seq(Seq.empty[Long], Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L, 5L)),
      t / (1 + t), t / (1 + t)) { (mode, pairs) =>
      pairs.foreach { r =>
        val (full, fast) = (r.getInt(0), r.getInt(1))
        val (na, nb) = (r.getInt(2), r.getInt(3))
        def j(c: Int) =
          if (na + nb - c == 0) 1.0 else c.toDouble / (na + nb - c)
        if (j(full) >= t)
          assert(fast == full, s"$mode: qualifying pair lost: $r")
        else
          assert(fast == full || (fast == -1 && j(-1) < t),
            s"$mode: bad prune: $r")
      }
      assert(pairs.exists(_.getInt(1) == -1), s"$mode: early exit never fired")
    }
  }

  test("SortedIntersectAtLeastFracLeftLong: containment early exit never flips the verdict") {
    // same contract at the containment fractions (t, 0): the target is
    // inter >= t * |left| (asymmetric containment). Boundary pairs at
    // containment == t exactly (9-of-10 at t = 0.9) included.
    val t = 0.9
    earlyExitPairs(11,
      Seq(Seq.empty[Long], (1L to 10L).toSeq, (1L to 9L) :+ 42L),
      t, 0.0) { (mode, pairs) =>
      pairs.foreach { r =>
        val (full, fast, na) = (r.getInt(0), r.getInt(1), r.getInt(2))
        def c(x: Int) = if (na == 0) 1.0 else x.toDouble / na
        if (c(full) >= t)
          assert(fast == full, s"$mode: qualifying pair lost: $r")
        else
          assert(fast == full || (fast == -1 && c(-1) < t),
            s"$mode: bad prune: $r")
      }
      assert(pairs.exists(_.getInt(1) == -1), s"$mode: early exit never fired")
    }
  }

  test("BoundedTopK == row_number window prefix, incl. ties/short groups/nulls") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // groups of wildly different sizes, duplicate scores (tie-break by
    // id), one group smaller than k, and some null scores/ids to skip
    val rows = (0 until 500).map { i =>
      val g = rnd.nextInt(8).toLong
      val score: java.lang.Double =
        if (i % 97 == 0) null else rnd.nextInt(20) / 10.0
      val id: java.lang.Long = if (i % 101 == 0) null else i.toLong
      (g, score, id)
    } :+ ((9L, java.lang.Double.valueOf(1.0), java.lang.Long.valueOf(9999L)))
    val df = rows.toDF("g", "score", "id").repartition(13) // force merges
    val k = 5
    val viaAgg = df.groupBy($"g")
      .agg(boundedTopK($"score", $"id", k).as("tk"))
      .select($"g", posexplode($"tk").as(Seq("p", "e")))
      .select($"g", $"e.score".as("score"), $"e.id".as("id"),
        ($"p" + 1).cast("int").as("rank"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val viaWindow = df.filter($"score".isNotNull && $"id".isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"g", $"score", $"id", $"rank")
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
    // the one-row group surfaces with rank 1 (short groups keep all)
    assert(viaAgg.filter($"g" === 9L).count() == 1L)
  }

  test("WindowMd5 == md5 over positional shinglesOf composition") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = TextFunctions.tokens($"text")
    val W = 8
    // the positional form: NO array_distinct — every window position
    // keeps its own digest, repeats and all
    val composed = docs.select($"doc_id",
      transform(TextFunctions.shinglesOf(toks, W), g => md5(g)).as("ws"))
      .orderBy($"doc_id").collect().toSeq
    val custom = docs.select($"doc_id",
      graft.functions.expressions.WindowMd5.windowMd5(toks, W).as("ws"))
      .orderBy($"doc_id").collect().toSeq
    assert(custom == composed)
    // edges: < W tokens -> empty array, null text -> null, and
    // within-doc repeated windows are KEPT (unlike ShingleMd5)
    val edge = Seq((1L, "a b"), (2L, null), (3L, "x y x y x"))
      .toDF("doc_id", "text")
    val r = edge.select(graft.functions.expressions.WindowMd5
        .windowMd5(TextFunctions.tokens($"text"), 3).as("ws"))
      .orderBy($"doc_id").collect()
    assert(r(0).getSeq[String](0).isEmpty && r(1).isNullAt(0))
    val w3 = r(2).getSeq[String](0)
    assert(w3.length == 3 && w3(0) == w3(2) && w3(0) != w3(1),
      "positional windows must keep the repeated 'x y x' digest")
  }

  test("WindowMd5 skips null elements like concat_ws") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('a', CAST(NULL AS STRING), 'b', 'c')),
        |  (2L, array(CAST(NULL AS STRING), NULL, 'x')),
        |  (3L, array('', NULL, 'y', ''))
        |AS t(id, toks)""".stripMargin)
    val composed = df.select($"id",
      transform(TextFunctions.shinglesOf($"toks", 2), g => md5(g)).as("ws"))
      .orderBy($"id").collect().toSeq
    val custom = df.select($"id",
      graft.functions.expressions.WindowMd5.windowMd5($"toks", 2).as("ws"))
      .orderBy($"id").collect().toSeq
    assert(custom == composed)
  }
}
