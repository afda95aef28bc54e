package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PriorityDedup, RangeJoin, Sampling}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponentsStar labels chains, cliques, and singletons") {
    // checked against the driver union-find. Components: {1,2,3,4} via a
    // chain (diameter 3 — needs several propagation rounds), {10,11,12}
    // via a triangle, {20} singleton
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L)
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),            // chain, mixed direction
      (10L, 11L), (11L, 12L), (10L, 12L))
    val want = unionFindLabels(ids, edges)
    assert(want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
    val got = Dedup.connectedComponentsStar(ids.toDF("id"), $"id",
        edges.toDF("a", "b"), $"a", $"b")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  // The rounds run only when the driver finish is off: broadcast
  // disabled (-1) or non-long ids.
  private val distributed = Some("-1")

  test("connectedComponentsStar throws rather than return unconverged labels") {
    // one round turns the path into (2,1),(3,1),(4,2),(5,3),(6,4) —
    // not the input edge set, so a 1-round budget must fail loudly
    val vertices = (1L to 6L).toDF("id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b") // diameter 5
    withBroadcastThreshold(distributed) {
      intercept[IllegalArgumentException] {
        Dedup.connectedComponentsStar(vertices, $"id", pairs, $"a", $"b",
          maxIters = 1)
      }
    }
  }

  test("connectedComponentsStar labels a deep chain in log rounds") {
    // a 60-vertex path: diameter 59. Label propagation would need ~59
    // rounds; star contraction must label the whole chain with
    // component 1 well inside its default O(log n) bound (sf3's
    // regenerated corpus produced a real >25-diameter component, so
    // this is the scale-critical property).
    val ids = 1L to 60L
    val edges = (1L until 60L).map(i => (i, i + 1))
    val want = unionFindLabels(ids, edges)
    assert(want == ids.map(_ -> 1L).toMap)
    val got = withBroadcastThreshold(distributed) {
      Dedup.connectedComponentsStar(ids.toDF("id"), $"id",
          edges.toDF("a", "b"), $"a", $"b")
        .as[(Long, Long)].collect().toMap
    }
    assert(got == want)
  }

  test("connectedComponentsStar labels string ids through the rounds") {
    // the driver finish holds longs only, so string ids take the
    // distributed rounds under the default threshold; the label is
    // the lexicographic minimum of the component
    val ids = Seq("d", "b", "x", "a", "m", "q", "z")
    val pairs = Seq("d" -> "b", "x" -> "d", "a" -> "x", "m" -> "q",
      "q" -> "m", "z" -> "z").toDF("a", "b")
    val got = Dedup.connectedComponentsStar(ids.toDF("id"), $"id",
        pairs, $"a", $"b")
      .as[(String, String)].collect().toMap
    assert(got == Map("d" -> "a", "b" -> "a", "x" -> "a", "a" -> "a",
      "m" -> "m", "q" -> "m", "z" -> "z"))
  }

  test("connectedComponentsStar keeps at most its last round's " +
       "checkpoint, and none after the driver finish") {
    // each superseded round is released once its successor has
    // materialized; the distributed labels read the last checkpoint
    // lazily, so that one stays. Collecting the labels must not
    // checkpoint anything either.
    val ids = 1L to 60L
    val vertices = ids.toDF("id")
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    for (threshold <- Seq(distributed, None)) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val got = withBroadcastThreshold(threshold) {
        Dedup.connectedComponentsStar(vertices, $"id", pairs, $"a", $"b")
          .as[(Long, Long)].collect().toMap
      }
      assert(got == ids.map(_ -> 1L).toMap)
      val grown = spark.sparkContext.getPersistentRDDs.size - before
      assert(grown <= (if (threshold.isDefined) 1 else 0),
        s"threshold $threshold: $grown persisted RDDs left behind")
    }
  }

  test("forest contraction: dense clique scattered across partitions") {
    // A 40-vertex clique qualifies 780 pairs but needs only 39 for
    // connectivity — the per-partition union-find keeps a spanning
    // forest of each task's edges. Scatter the edges over 8 partitions
    // (deterministic hash order) so NO task sees the whole clique:
    // correctness then depends on cross-partition forest union, the
    // property that makes the contraction safe. Duplicate edges and
    // self-loops must die in the contraction; the disjoint chain keeps
    // a second component honest.
    val clique = for { i <- 1L to 40L; j <- (i + 1) to 40L } yield (i, j)
    val chain = (100L until 120L).map(i => (i, i + 1))
    val extra = Seq((1L, 2L), (1L, 2L), (7L, 7L))
    val scattered = (clique ++ chain ++ extra)
      .sortBy { case (a, b) => ((a * 31 + b * 17) % 97, a, b) }
    val pairs = spark.sparkContext.parallelize(scattered, 8).toDF("a", "b")
    val ids = (1L to 40L) ++ (100L to 120L)
    val vertices = ids.toDF("id")
    val want = ((1L to 40L).map(_ -> 1L) ++ (100L to 120L).map(_ -> 100L)).toMap
    assert(unionFindLabels(ids, scattered) == want)
    val star = Dedup.connectedComponentsStar(vertices, $"id", pairs, $"a", $"b")
      .as[(Long, Long)].collect().toMap
    assert(star == want)
  }

  test("flatLocalCheckpoint: 30 self-join rounds don't overflow plan stats") {
    // Spark's localCheckpoint copies the checkpointed plan's estimated
    // Statistics onto the LogicalRDD, so an iterative self-join SQUARES
    // the size estimate every round; at ~24 rounds the BigInt bit count
    // exceeds BigInteger's supported range and PLANNING throws
    // (ArithmeticException — q47's sf1 failure mode). The
    // stats-truncating variant must survive arbitrarily many rounds.
    import org.apache.spark.sql.graftbridge.flatLocalCheckpoint
    var df = Seq((1L, 1L), (2L, 1L)).toDF("v", "c")
    for (_ <- 1 to 30) {
      val (next, rows) = flatLocalCheckpoint(
        df.as("a").join(df.as("b"), $"a.c" === $"b.v")
          .select($"a.v", $"b.c".as("c")))
      assert(rows == 2)
      df = next
      // the estimate must stay put (defaultSizeInBytes), not compound
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes
        .bitLength < 64, "checkpoint stats compounding again")
    }
    assert(df.count() == 2)
  }

  test("connectedComponentsStar handles the edgeless graph") {
    val vertices = Seq(5L, 7L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Dedup.connectedComponentsStar(vertices, $"id", pairs, $"a", $"b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 7L -> 7L))
  }

  test("PointerDoubling.depths labels a deep chain in log rounds") {
    // path 1→2→…→50 rooted at 0 (parent(k)=k-1): depth 50 resolves
    // in ceil(log2 bound) rounds only because each round doubles the
    // jump — with the tight bound (6 rounds) and the data-free bound
    // of a long key (63, also 6 rounds)
    import graft.operators.PointerDoubling
    val edges = (1L to 50L).map(k => (k, k - 1)).toDF("k", "p")
    for (bound <- Seq(50L, 63L)) {
      val got = PointerDoubling.depths(edges, $"k", $"p", rootKey = 0L,
          maxDepth = bound)
        .as[(Long, Long)].collect().toMap
      assert(got == (0L to 50L).map(k => k -> k).toMap, s"bound $bound")
    }
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ messages(e.getCause))

  test("PointerDoubling.depths drops broken chains and rejects cycles") {
    import graft.operators.PointerDoubling
    // 5's parent 4 is missing from the relation: 5 and its child 6
    // are unreachable and must drop out (recursive-CTE parity); the
    // edge count bounds the depth
    val broken = Seq((1L, 0L), (2L, 1L), (5L, 4L), (6L, 5L)).toDF("k", "p")
    val got = PointerDoubling.depths(broken, $"k", $"p", rootKey = 0L,
        maxDepth = 4L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // a cycle never converges — the in-plan guard fails loudly rather
    // than silently mislabel, even under a bare count(), which prunes
    // columns but never prunes a Filter
    val cyc = Seq((1L, 0L), (2L, 3L), (3L, 2L)).toDF("k", "p")
    val thrown = intercept[Exception] {
      PointerDoubling.depths(cyc, $"k", $"p", rootKey = 0L,
        maxDepth = 3L).count()
    }
    assert(messages(thrown).exists(_.contains("did not converge")))
  }

  test("PointerDoubling.depths fails in-plan when a node lies deeper " +
    "than maxDepth") {
    import graft.operators.PointerDoubling
    // a WRONG bound must not silently mislabel: 4 allows 2 rounds,
    // which leave the chain's deeper rows unconverged
    val edges = (1L to 50L).map(k => (k, k - 1)).toDF("k", "p")
    val thrown = intercept[Exception] {
      PointerDoubling.depths(edges, $"k", $"p", rootKey = 0L,
          maxDepth = 4L).count()
    }
    assert(messages(thrown).exists(_.contains("did not converge")))
  }

  test("hash sampling is deterministic, monotone in rate, and stratifiable") {
    val df = (0L until 2000L).toDF("id").withColumn(
      "lang", when($"id" % 3 === 0, "en").otherwise("pt"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id").as[Long].collect().toSet
    val s26a = ids(Sampling.hashSample(df, $"id", 26))
    val s26b = ids(Sampling.hashSample(df, $"id", 26))
    val s64 = ids(Sampling.hashSample(df, $"id", 64))
    assert(s26a == s26b)                  // pure function of the id
    assert(s26a.subsetOf(s64))            // raising the rate only adds
    assert(s26a.nonEmpty && s64.size > s26a.size && s64.size < 2000)
    // stratified: en rows follow the en threshold, others the default
    val strat = Sampling.stratifiedHashSample(
      df, $"id", $"lang", Seq("en" -> 64), default256 = 26)
    val gotEn = ids(strat.filter($"lang" === "en"))
    val gotPt = ids(strat.filter($"lang" =!= "en"))
    assert(gotEn == s64.filter(_ % 3 == 0))
    assert(gotPt == s26a.filterNot(_ % 3 == 0))
  }

  test("weighted sampling clamps degenerate weights to never/always") {
    // weight <= 0 must keep NOTHING: unclamped, hex() of the negative
    // threshold renders 16 two's-complement digits whose 4-char prefix
    // is "ffff" (keep ~always). weight >= scale keeps (almost) all.
    val df = (0L until 500L).toDF("id")
    val neg = Sampling.weightedHashSample(
      df.withColumn("w", lit(-3)), $"id", $"w", weightScale = 10)
    assert(neg.count() == 0)
    val zero = Sampling.weightedHashSample(
      df.withColumn("w", lit(0)), $"id", $"w", weightScale = 10)
    assert(zero.count() == 0)
    val full = Sampling.weightedHashSample(
      df.withColumn("w", lit(10)), $"id", $"w", weightScale = 10)
    // 65535/65536 keep probability: an md5 prefix of "ffff" is the
    // only loss; with 500 ids expect all (P[any clash] ~ 0.8%)
    assert(full.count() >= 499)
  }

  test("RangeJoin.firstMatch keeps first range in order on overlap") {
    val items = Seq("A00", "A15", "A20", "Z99").toDF("code")
    val ranges = Seq(
      ("A00", "A09", "narrow", 0L),
      ("A00", "A99", "wide", 1L)).toDF("lo", "hi", "name", "ord")
    val got = RangeJoin.firstMatch(items, ranges, $"code", $"lo", $"hi",
        leftKey = Seq("code"), rangeOrder = $"ord")
      .select($"code", $"name").as[(String, Option[String])]
      .collect().toMap
    assert(got("A00").contains("narrow")) // both match, first wins
    assert(got("A15").contains("wide"))
    assert(got("A20").contains("wide"))
    assert(got("Z99").isEmpty) // unmatched survives with null
  }

  test("RangeJoin.bucketed equals broadcast firstMatch on disjoint ranges") {
    val items = (0 until 1000).map(i => (i.toLong, i * 7 % 500)).toDF("id", "v")
    val ranges = (0 until 10).map(i => (i * 50, i * 50 + 49, s"r$i"))
      .toDF("lo", "hi", "name")
    val viaBuckets = RangeJoin.bucketed(items, ranges, $"v", $"lo", $"hi",
        bucketOf = c => floor(c / 50),
        bucketsOf = (lo, hi) => sequence(floor(lo / 50), floor(hi / 50)))
      .select($"id", $"name").as[(Long, String)].collect().toSet
    val viaBroadcast = RangeJoin.firstMatch(items, ranges, $"v", $"lo", $"hi",
        leftKey = Seq("id"), rangeOrder = $"lo")
      .filter($"name".isNotNull)
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(viaBuckets == viaBroadcast)
  }

  test("PriorityDedup keeps exactly one max-priority row per key") {
    val df = Seq(
      ("A00", "DATASUS", 1), ("A00", "Estruturada", 2),
      ("B00", "DATASUS", 3),
      ("C00", "Estruturada", 4), ("C00", "Estruturada", 5))
      .toDF("code", "fonte", "id")
    val got = PriorityDedup(df, Seq("code"),
        Seq($"fonte".desc, $"id".asc))
      .as[(String, String, Int)].collect().toMap2
    assert(got == Map(
      "A00" -> ("Estruturada", 2),
      "B00" -> ("DATASUS", 3),
      "C00" -> ("Estruturada", 4))) // tie broken deterministically by id
  }

  test("selectByTokenBudget equals the single-window global prefix sum") {
    import graft.operators.BudgetSelect
    // scores engineered to straddle several buckets and include ties
    val rows = (0L until 200L).map { i =>
      (i, ((i * 37) % 100) / 100.0, 10 + (i % 7))
    }.toDF("id", "score", "n_tok")
    val reference = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"score".desc, $"id".asc)
        .rowsBetween(Long.MinValue, 0)
      rows.withColumn("cum", sum($"n_tok").over(w))
        .filter($"cum" <= 800)
        .select($"id", $"cum").as[(Long, Long)].collect().toMap
    }
    for (buckets <- Seq(1, 4, 16, 256)) {
      val got = BudgetSelect
        .selectByTokenBudget(rows, $"score", $"n_tok", $"id", 800L, buckets)
        .select($"id", $"cum_tokens").as[(Long, Long)].collect().toMap
      assert(got == reference, s"buckets=$buckets")
    }
  }

  test("selectByTokenBudget budget edges: zero keeps nothing, huge keeps all") {
    import graft.operators.BudgetSelect
    val rows = (0L until 50L).map(i => (i, (i % 10) / 10.0, 5))
      .toDF("id", "score", "n_tok")
    assert(BudgetSelect
      .selectByTokenBudget(rows, $"score", $"n_tok", $"id", 0L).count() == 0)
    val all = BudgetSelect
      .selectByTokenBudget(rows, $"score", $"n_tok", $"id", 1000000L)
    assert(all.count() == 50)
    assert(all.agg(max($"cum_tokens")).as[Long].head() == 250L)
  }

  test("selectByTokenBudget rejects null scores and reserved columns") {
    import graft.operators.BudgetSelect
    val withNull = Seq((1L, Some(0.9), 10), (2L, None, 10), (3L, Some(0.5), 10))
      .toDF("id", "score", "n_tok")
    val ex = intercept[Exception] {
      BudgetSelect
        .selectByTokenBudget(withNull, $"score", $"n_tok", $"id", 100L)
        .collect()
    }
    // raise_error surfaces wrapped in Spark's runtime error class;
    // the message must name the operator and the null-score cause
    assert(ex.getMessage.contains("BudgetSelect") ||
      Option(ex.getCause).exists(_.getMessage.contains("BudgetSelect")))
    val clash = Seq((1L, 0.9, 10, 5L)).toDF("id", "score", "n_tok", "cum_tokens")
    val bad = intercept[IllegalArgumentException] {
      BudgetSelect.selectByTokenBudget(clash, $"score", $"n_tok", $"id", 100L)
    }
    assert(bad.getMessage.contains("cum_tokens"))
  }

  test("Kmv maxGroups guard trips loudly on high-cardinality groups") {
    import graft.operators.Kmv
    // group = the row id itself: the mis-aimed call the guard exists
    // for; with maxGroups=8 one partition must exceed the cap
    val rows = (1L to 1000L).map(i => (i.toString, i))
      .toDF("g", "hv").repartition(2)
    val ex = intercept[org.apache.spark.SparkException] {
      Kmv.kSmallestDistinctByGroup(rows, $"g", $"hv", 4, maxGroups = 8)
        .collect()
    }
    assert(ex.getMessage.contains("maxGroups") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxGroups")))
    // and the default cap leaves legitimate dimensions untouched
    assert(Kmv.kSmallestDistinctByGroup(rows, lit("one"), $"hv", 4)
      .count() == 4)
  }

  test("Kmv partial sketches equal the literal distinct-sort-limit") {
    import graft.operators.Kmv
    // duplicate-heavy, skewed across groups and partitions: the trap
    // the partial must survive is duplicates crowding the K-th
    // distinct value out of a dup-keeping partial top-K
    val rnd = new scala.util.Random(5)
    val rows = (1 to 5000).map { _ =>
      val g = s"g${rnd.nextInt(3)}"
      (g, rnd.nextInt(40).toLong) // only 40 distinct values, many dups
    }.toDF("g", "hv").repartition(13)
    for (k <- Seq(1, 5, 64)) {
      val got = Kmv.kSmallestDistinctByGroup(rows, $"g", $"hv", k)
        .as[(String, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val expected = rows.as[(String, Long)].collect()
        .groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct.sorted.take(k).toSeq).toMap
      assert(got == expected, s"k=$k")
    }
    val flat = Kmv.kSmallestDistinctByGroup(rows, lit("all"), $"hv", 7)
      .select($"hv").as[Long].collect().sorted.toSeq
    val flatExp = rows.as[(String, Long)].collect()
      .map(_._2).distinct.sorted.take(7).toSeq
    assert(flat == flatExp)
  }

  test("Kmv one-pass dual sketch equals the two separate calls (r21)") {
    import graft.operators.Kmv
    val rnd = new scala.util.Random(9)
    val rows = (1 to 4000).map { _ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(60).toLong)
    }.toDF("g", "hv").repartition(11)
    for (k <- Seq(1, 8, 64)) {
      val (pg, gl) = Kmv
        .kSmallestDistinctByGroupWithGlobal(rows, $"g", $"hv", k)
      val pgExp = Kmv.kSmallestDistinctByGroup(rows, $"g", $"hv", k)
        .as[(String, Long)].collect().sorted.toSeq
      val glExp = Kmv.kSmallestDistinctByGroup(rows, lit("all"), $"hv", k)
        .select($"hv").as[Long].collect().sorted.toSeq
      assert(pg.as[(String, Long)].collect().sorted.toSeq == pgExp,
        s"perGroup k=$k")
      assert(gl.as[Long].collect().sorted.toSeq == glExp, s"global k=$k")
    }
    // the maxGroups guard carries over to the one-pass form
    val wide = (1 to 64).map(i => (s"g$i", i.toLong)).toDF("g", "hv")
      .coalesce(1)
    val ex = intercept[org.apache.spark.SparkException] {
      Kmv.kSmallestDistinctByGroupWithGlobal(
        wide, $"g", $"hv", 4, maxGroups = 8)._1.count()
    }
    assert(ex.getMessage.contains("distinct groups in one partition") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("distinct groups in one partition")))
  }

  test("containmentPairs equals brute force and catches what Jaccard misses") {
    // doc 1 is fully quoted inside doc 2 (jaccard 3/10 — far below any
    // dedup threshold); doc 3 is 2/3-contained in doc 2 (below 0.9);
    // docs 4 and 5 are same-size near-twins (containment through the
    // tie-break path); doc 6 shares nothing
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta nu"),
      (4L, "one two three four"),
      (5L, "one two three four"),
      (6L, "completely different words here")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, $"doc_id", $"text", 0.9)
      .select($"doc_small", $"doc_big").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (4L, 5L)))
    // brute-force cross-check over every ordered pair at threshold 0.5
    val loose = Dedup.containmentPairs(docs, $"doc_id", $"text", 0.5)
      .select($"doc_small", $"doc_big").as[(Long, Long)].collect().toSet
    val toks = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").toSet }
    val brute = (for {
      (ia, sa) <- toks; (ib, sb) <- toks
      if sa.size < sb.size || (sa.size == sb.size && ia < ib)
      if sa.intersect(sb).size.toDouble / sa.size >= 0.5
    } yield (ia, ib)).toSet
    assert(loose == brute)
  }

  test("containmentProbeIncremental equals containmentPairs restricted " +
    "to batch×corpus pairs") {
    // random corpus over a small vocab (many accidental containments at
    // the loose threshold), plus planted cases that pin every path at
    // the strict one: a batch doc quoted inside a corpus doc
    // (direction 1), a corpus doc quoted inside a batch doc
    // (direction 2), and a batch doc carrying tokens the corpus has
    // never seen (the frozen-df tdf-0 ordering path)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val base = (1L to 120L).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toMap
    val planted = base ++ Map(
      8L -> (base(3L) + " extra1 extra2 extra3 extra4 extra5"), // dir 2
      12L -> base(5L).split(" ").distinct.take(3).mkString(" "), // dir 1
      16L -> ("zzz yyy xxx " + base(7L))) // unseen batch tokens
    val all = planted.toSeq.toDF("doc_id", "text")
    val corpus = all.filter($"doc_id" % 4 =!= 0)
    val batch = all.filter($"doc_id" % 4 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_cidx_spec").toString
    Dedup.writeContainmentIndex(corpus, $"doc_id", $"text", path)
    val idx = Dedup.readContainmentIndex(spark, path)
    // both arms through the session threshold: the default broadcasts
    // the batch, -1 (broadcast disabled) takes the salted shuffle joins
    for (t <- Seq(0.5, 0.9); bc <- Seq(None, Some("-1"))) {
      val (got, salted) = withBroadcastThreshold(bc) {
        val probe = Dedup.containmentProbeIncremental(idx, batch,
          $"doc_id", $"text", t, chunks = 3)
        (probe.as[(Long, Long, Double)].collect().toSet,
          probe.queryExecution.executedPlan.toString.contains("__salt"))
      }
      assert(salted == bc.isDefined, s"t=$t threshold=$bc: wrong arm")
      val want = Dedup.containmentPairs(all, $"doc_id", $"text", t)
        .filter(($"doc_small" % 4 === 0) =!= ($"doc_big" % 4 === 0))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"t=$t threshold=$bc")
      if (t == 0.9) {
        val pairs = got.map(p => (p._1, p._2))
        assert(pairs.contains((12L, 5L)) || pairs.contains((5L, 12L)),
          "planted direction-1 pair missing")
        assert(pairs.contains((3L, 8L)), "planted direction-2 pair missing")
      }
    }
  }

  test("dupSpanStats: positional windows, within-doc repeats count, " +
      "short docs surface with null ratio") {
    val df = Seq(
      (1L, "a b c d"),    // w=2 windows: "a b","b c","c d"
      (2L, "a b a b"),    // windows: "a b","b a","a b"
      (3L, "x"),          // shorter than the window: 0 windows
      (4L, "p q p q p")   // windows: "p q","q p","p q","q p" (all
                          // duplicated WITHIN one doc — no partner doc)
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(df, $"doc_id", $"text", windowLen = 2)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) null else x.getDouble(3)))).toMap
    // doc 1: "a b" also occurs twice in doc 2 -> 1 of 3 positions dup
    assert(r(1L) == ((3L, 1L, 0.333333333)))
    // doc 2: both "a b" positions dup (1 in doc 1 + 2 here); "b a"
    // occurs once corpus-wide -> 2 of 3
    assert(r(2L) == ((3L, 2L, 0.666666667)))
    // doc 3: no windows, ratio is null (not 0 — "no evidence")
    assert(r(3L) == ((0L, 0L, null)))
    // doc 4: every position's hash occurs twice INSIDE the same doc —
    // within-doc repetition is duplication (Lee et al. semantics)
    assert(r(4L) == ((4L, 4L, 1.0)))
  }

  test("CountMin: est >= exact everywhere, est non-increasing in depth, " +
      "lone key is exact") {
    import graft.operators.CountMin
    // skewed keys over a tiny width so collisions are guaranteed
    val keys = (1 to 40).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val df = keys.toDF("k")
    def hh(depth: Int) = CountMin
      .heavyHitters(df, $"k", width = 4, depth = depth, k = 1000)
    // over-estimate-only law, on EVERY key (k covers the universe)
    val d2 = hh(2).cache()
    try {
      assert(d2.count() == 40)
      assert(d2.filter($"est" < $"exact").count() == 0,
        "count-min never under-counts")
      // depth monotone: min over more independent rows only shrinks
      val byKey = hh(1).select($"key", $"est".as("est1"))
        .join(d2.select($"key", $"est".as("est2")), "key")
      assert(byKey.filter($"est2" > $"est1").count() == 0)
    } finally d2.unpersist()
    // a single distinct key cannot collide: est == exact at any dial
    val lone = CountMin.heavyHitters(
      Seq.fill(17)("only").toDF("k"), $"k", width = 4, depth = 2, k = 5)
      .collect()
    assert(lone.length == 1 &&
      lone(0).getLong(1) == 17L && lone(0).getLong(2) == 17L)
    // the sketch grid never exceeds depth x width cells
    assert(CountMin.sketch(df.select($"k"), $"k", 4, 2).count() <= 8L)
  }

  implicit class Tuple3Ops(rows: Array[(String, String, Int)]) {
    def toMap2: Map[String, (String, Int)] =
      rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
