package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** IVF/ANN behavior that the DuckDB oracle can't check (iterative
  * training): recall against brute force, determinism across runs.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("IVF top-k is deterministic and recalls most brute-force neighbors") {
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    def run() = {
      val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", 8, 3)
      Similarity.ivfProbeIndexed(
          Similarity.ivfIndex(e, "vec_id", "embedding", centroids),
          queries, "vec_id", "embedding", 5, centroids, 2)
        .select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    }
    val r1 = run()
    val r2 = run()
    assert(r1 == r2) // deterministic training + search
    assert(r1.nonEmpty)

    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivfPairs = r1.map { case (q, n, _) => (q, n) }
    val recall = ivfPairs.intersect(brute).size.toDouble / brute.size
    // nprobe=2 of 8 centroids on random vectors: expect partial recall;
    // anything above chance shows the index actually routes
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("one-pass vector-mean Lloyd step == r21 exploded per-dim form") {
    // r22: trainCentroids' means now come from the VectorMeanParts
    // one-exchange aggregate. Pin bit-equality of the per-centroid
    // means against the r21 posexplode → (centroid, dim) decimal-sum
    // → collect_list form, on (a) the real fixture embeddings and
    // (b) adversarial doubles (denormals-ish magnitudes, negatives,
    // long-tail decimals, a null element, ragged lengths).
    import graft.functions.expressions.CustomExpressions.vectorMeanParts
    def oldForm(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"g", $"dim")
      .agg(round(sum($"x".cast(
          org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double") / count($"x"), 9).as("m"))
      .groupBy($"g")
      .agg(array_sort(collect_list(struct($"dim", $"m"))).as("dm"))
      .select($"g", transform($"dm", s => s.getField("m")).as("centroid"))
    def newForm(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"g")
      .agg(vectorMeanParts($"v").as("mp"))
      .select($"g", transform($"mp",
        p => round(p.getField("s") / p.getField("c"), 9)).as("centroid"))
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val o = oldForm(df).as[(Long, Seq[Option[Double]])].collect().toMap
      val n = newForm(df).as[(Long, Seq[Option[Double]])].collect().toMap
      assert(o == n, s"means diverged:\nold=$o\nnew=$n")
    }
    val e = Tables.load(spark, dir, "embeddings")
      .select((col("vec_id") % 7).as("g"),
        graft.functions.VectorFunctions.toDoubles($"embedding").as("v"))
    check(e)
    val adversarial = Seq(
      (0L, Seq(1.0e-300, -2.5, 0.1)),
      (0L, Seq(0.30000000000000004, 2.5, -0.1)),
      // decimal(38,18) holds < 1e20: values beyond that made the OLD
      // form throw under ANSI too (out of the operator's domain)
      (0L, Seq(9.876543210987654e15, 3.333333333333333, 0.0)),
      (1L, Seq(-0.0, 1e17, 123.456789012345678)),
      (1L, Seq(5e-18, -1e17, 0.1)),
      (2L, Seq(Math.PI, Math.E)) // ragged: shorter row
    ).toDF("g", "v")
    check(adversarial)
    // null element: contributes to neither sum nor count of its dim
    val withNull = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(cast(1.5 as double), cast(null as double), 2.0)),
        |  (0L, array(cast(2.5 as double), cast(4.0 as double), 1.0))
        |AS t(g, v)""".stripMargin)
    check(withNull)
    // a dim with no non-null value in its group: NULL mean, whether
    // interior (not a divide-by-zero) or trailing (not dropped)
    val interiorAllNull = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(cast(1.5 as double), cast(null as double), 2.0)),
        |  (0L, array(cast(2.5 as double), cast(null as double), 1.0))
        |AS t(g, v)""".stripMargin)
    check(interiorAllNull)
    val trailingAllNull = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(cast(1.5 as double), 2.0, cast(null as double))),
        |  (0L, array(cast(2.5 as double), 4.0)),
        |  (1L, array(cast(3.0 as double), cast(null as double)))
        |AS t(g, v)""".stripMargin)
    check(trailingAllNull)
  }

  test("multi-probe LSH recall dominates single-probe and clears 0.5") {
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(
      Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5))
    val single = pairs(
      Similarity.lshTopK(queries, e, "vec_id", "embedding", 5, 4))
    val multi = pairs(
      Similarity.lshTopK(queries, e, "vec_id", "embedding", 5, 4,
        maxHamming = 1))
    val rs = single.intersect(brute).size.toDouble / brute.size
    val rm = multi.intersect(brute).size.toDouble / brute.size
    info(s"recall@5 single-probe=$rs multi-probe=$rm")
    // Hamming-1 probing can only add candidate buckets, never drop one
    assert(multi.intersect(brute).size >= single.intersect(brute).size,
      s"single=$rs multi=$rm")
    assert(rm >= 0.5, s"multi-probe recall=$rm")
    // widening the probe radius is monotone in recall: H2 probes a
    // strict superset of H1's buckets
    val multi2 = pairs(Similarity.lshTopK(
      e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5, 4,
      maxHamming = 2))
    val rm2 = multi2.intersect(brute).size.toDouble / brute.size
    info(s"recall@5 H2-probe=$rm2")
    assert(multi2.intersect(brute).size >= multi.intersect(brute).size,
      s"H1=$rm H2=$rm2")
    assert(rm2 >= 0.7, s"H2 multi-probe recall=$rm2")
  }

  test("blocked near-dup emits exactly the same-bucket subset of exact pairs") {
    import graft.functions.VectorFunctions.signBucket
    val e = Tables.load(spark, dir, "embeddings")
    val blocked = Similarity.cosinePairsBlocked(
        e, "vec_id", "embedding", 0.3, 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val bucketOf = e.select($"vec_id", signBucket($"embedding", 4).as("b"))
      .as[(Long, Int)].collect().toMap
    val sameBucket = exact.filter { case (a, b) => bucketOf(a) == bucketOf(b) }
    assert(blocked == sameBucket) // no extras, no same-bucket misses
    assert(blocked.subsetOf(exact))
  }

  test("every IVF neighbor comes from a probed centroid list") {
    val e = Tables.load(spark, dir, "embeddings")
    val nprobe = 2
    val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", 8, 3)
    val queries = e.filter($"vec_id" < 5)
    val out = Similarity.ivfProbeIndexed(
        Similarity.ivfIndex(e, "vec_id", "embedding", centroids),
        queries, "vec_id", "embedding", 5, centroids, nprobe)
      .select($"query_id", $"neighbor_id", $"centroid_id", $"rank")
      .as[(Long, Long, Long, Int)].collect()
    assert(out.nonEmpty)
    // ranks are 1..k without gaps per query
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
    }
    // each query's probe set, recomputed on the driver: the `nprobe`
    // centroids of highest 9-decimal cosine (Spark's HALF_UP round of
    // the double), ties to the lower id
    def dotD(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def round9(d: Double) = BigDecimal(d)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = centroids.as[(Long, Seq[Double])].collect()
    val probed = queries.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().map { case (q, fv) =>
        val v = fv.map(_.toDouble)
        q -> cents.map { case (cid, c) =>
          (cid, round9(dotD(v, c) /
            (math.sqrt(dotD(v, v)) * math.sqrt(dotD(c, c)))))
        }.sortBy { case (cid, d) => (-d, cid) }.take(nprobe).map(_._1).toSet
      }.toMap
    val outside = out.filterNot { case (q, _, cid, _) => probed(q)(cid) }
    assert(outside.isEmpty,
      s"neighbors from unprobed lists: ${outside.take(3).toSeq}")
  }

  test("cosineTopKBlocked == per-doc window prefix of the blocked pair set") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
    val (k, t, nbits) = (3, 0.3, 2)
    val capped = Similarity.cosineTopKBlocked(
      e, "vec_id", "embedding", k, t, nbits)
    // reference form: full blocked pair set, symmetrized, ranked by a
    // window — the shape the aggregate replaces
    val pairs = Similarity.cosinePairsBlocked(e, "vec_id", "embedding",
      t, nbits)
    val directed = pairs
      .select($"id_a".as("doc_id"), $"id_b".as("neighbor_id"), $"cos")
      .union(pairs
        .select($"id_b".as("doc_id"), $"id_a".as("neighbor_id"), $"cos"))
    val w = Window.partitionBy($"doc_id").orderBy($"cos".desc, $"neighbor_id")
    val viaWindow = directed.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"doc_id", $"neighbor_id", $"cos", $"rank".cast("int"))
    assert(capped.collect().toSet == viaWindow.collect().toSet)
    assert(capped.count() > 0)
    // output is capped: never more than k rows per doc
    val overCap = capped.groupBy($"doc_id").count().filter($"count" > k)
    assert(overCap.isEmpty)
  }

  test("written index == unwritten ivfIndex frame") {
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.trainCentroids(
      e, "vec_id", "embedding", k = 4, iters = 2)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_spec_ivf_index").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val written = Tables.read(spark, path)
    val frame = Similarity.ivfIndex(e, "vec_id", "embedding", centroids)
    def rows(idx: org.apache.spark.sql.DataFrame) =
      idx.select($"item_id", $"cv", $"cn", $"list_id".cast("long"))
        .collect().toSet
    assert(rows(written) == rows(frame))
    val queries = e.filter($"vec_id" < 8)
    def probe(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbeIndexed(idx, queries,
        "vec_id", "embedding", k = 3, centroids = centroids, nprobe = 2)
    val probed = probe(written)
    assert(probed.collect().toSet == probe(frame).collect().toSet)
    assert(probed.count() > 0)
    // every centroid-probing entry point rejects an empty probe set
    // instead of silently returning no rows
    for (run <- Seq(
        () => Similarity.ivfProbeIndexed(written,
          queries, "vec_id", "embedding", 3, centroids, nprobe = 0),
        () => Similarity.cosineTopKIndexed(written, centroids, 3, 0.5, 0))) {
      val bad = intercept[IllegalArgumentException](run())
      assert(bad.getMessage.contains("nprobe"), bad.getMessage)
    }
  }

  test("map-only centroid assignment == row_number window argmax") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions._
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", 8, 2)
    // reference: the explicit crossJoin + (cos DESC, id ASC) window
    // argmax the map-only array form replaced — values must be
    // identical or every IVF oracle (q54/q122/q124) silently shifts
    val v = e.select($"vec_id".as("cid"), toDoubles($"embedding").as("v"))
    val joined = v.crossJoin(broadcast(centroids))
      .withColumn("d", round(cosine($"v", $"centroid"), 9))
    val w = Window.partitionBy($"cid").orderBy($"d".desc, $"centroid_id")
    val ref = joined.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select($"cid", $"centroid_id")
      .as[(Long, Long)].collect().toMap
    // the operator's assignment is observable through the index layout
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_assign_flat").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val got = spark.read.parquet(path)
      .select($"item_id", $"list_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == ref)
  }

  test("cosineTopKIndexed == window prefix of the probed-list pair set") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosine, dot}
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", 4, 2)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_topk_idx").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val index = Tables.read(spark, path)
    val (k, t, nprobe) = (3, 0.3, 2)
    val got = Similarity.cosineTopKIndexed(index, centroids, k, t, nprobe)
    // reference: adjacency via a window over centroid pairs,
    // symmetric-closure unordered list pairs, plain joins, explicit
    // UNION of both directions, row_number ranking — the shape the
    // broadcast pair table + 2-explode + BoundedTopK replace
    val cc = centroids.select($"centroid_id", $"centroid")
    val wa = Window.partitionBy($"a.centroid_id")
      .orderBy($"d".desc, $"b.centroid_id")
    val lp = cc.as("a").crossJoin(cc.as("b"))
      .withColumn("d", round(cosine($"a.centroid", $"b.centroid"), 9))
      .withColumn("rn", row_number().over(wa))
      .filter($"rn" <= nprobe)
      .select(least($"a.centroid_id", $"b.centroid_id").as("la"),
        greatest($"a.centroid_id", $"b.centroid_id").as("lb"))
      .distinct()
    val aSide = index.select($"item_id".as("aid"), $"cv".as("avec"),
      $"cn".as("an"), $"list_id".as("la"))
    val bSide = index.select($"item_id".as("bid"), $"cv".as("bvec"),
      $"cn".as("bn"), $"list_id".as("lb"))
    val qual = aSide.join(lp, Seq("la")).join(bSide, Seq("lb"))
      .filter($"la" =!= $"lb" || $"aid" < $"bid")
      .withColumn("cos", round(dot($"avec", $"bvec") / ($"an" * $"bn"), 9))
      .filter($"cos" >= t)
    val directed = qual
      .select($"aid".as("doc_id"), $"bid".as("neighbor_id"), $"cos")
      .union(qual
        .select($"bid".as("doc_id"), $"aid".as("neighbor_id"), $"cos"))
    val wr = Window.partitionBy($"doc_id").orderBy($"cos".desc, $"neighbor_id")
    val ref = directed.withColumn("rank", row_number().over(wr))
      .filter($"rank" <= k)
      .select($"doc_id", $"neighbor_id", $"cos", $"rank".cast("int"))
    assert(got.collect().toSet == ref.collect().toSet)
    assert(got.count() > 0)
    // capped: never more than k rows per doc
    val overCap = got.groupBy($"doc_id").count().filter($"count" > k)
    assert(overCap.isEmpty)
  }

  test("cosineTopKIndexed edges: nprobe=1 stays in-list; huge k caps at m") {
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", 4, 2)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_topk_idx_edge").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val index = Tables.read(spark, path)
    // nprobe=1: a list's nearest list is itself (cos=1 beats every
    // other rounded cosine; ties break to the lower id, and the self
    // pair is always present), so every neighbor must share the
    // doc's own list
    val got1 = Similarity.cosineTopKIndexed(index, centroids,
      k = 3, threshold = 0.0, nprobe = 1)
    val lists = index.select($"item_id", $"list_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    val crossList = got1.select($"doc_id", $"neighbor_id")
      .as[(Long, Long)].collect()
      .filter { case (d, n) => lists(d) != lists(n) }
    assert(crossList.isEmpty, s"nprobe=1 leaked across lists: ${crossList.take(3).toSeq}")
    // k far above the candidate count: output caps at the available
    // qualifying neighbors, ranks stay contiguous from 1
    val gotBig = Similarity.cosineTopKIndexed(index, centroids,
      k = 10000, threshold = 0.0, nprobe = 2)
    val perDoc = gotBig.groupBy($"doc_id")
      .agg(count(lit(1)).as("c"), max($"rank").as("mr"))
      .filter($"c" =!= $"mr").count()
    assert(perDoc == 0, "ranks not contiguous under oversized k")
    assert(gotBig.count() > 0)
  }

  test("zero-norm vectors keep a deterministic assignment (not a NULL drop)") {
    // Divide-by-zero in the assignment cosine yields NULL in Spark;
    // before the coalesce fix the NULL poisoned array_max/array_position
    // and the row silently VANISHED from the index (the oracle mirrored
    // the drop, so hash gates never saw it). Contract now: a zero-norm
    // row lands on the lowest-id centroid.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_zero_norm").getAbsolutePath
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", centroids, path)
    val idx = spark.read.parquet(path)
      .select($"item_id", $"list_id".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(idx.size == 3, s"zero-norm row dropped from the index: $idx")
    assert(idx(3L) == 10L, s"zero-norm row not on the lowest-id centroid: $idx")
    assert(idx(1L) == 10L && idx(2L) == 20L)
  }

  test("identical centroids still score their own list (self-probe kept)") {
    // Two rounded-identical centroids tie at cosine 1.0 and the
    // (d DESC, probe_list ASC) tiebreak ranks the TWIN above the self
    // pair; at nprobe=1 the self pair fell out of the adjacency and an
    // affected list's members were never scored against each other.
    // The unconditional self-union closes that hole. List 0 is left
    // EMPTY so the twin adjacency alone can produce no pairs.
    import graft.functions.VectorFunctions.l2Norm
    val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)))
      .toDF("centroid_id", "centroid")
    val index = Seq(
      (101L, Seq(1.0, 0.1), 1L), (102L, Seq(1.0, 0.2), 1L))
      .toDF("item_id", "cv", "list_id")
      .withColumn("cn", l2Norm($"cv"))
    val got = Similarity.cosineTopKIndexed(index, centroids,
      k = 3, threshold = 0.0, nprobe = 1)
    val pairs = got.select($"doc_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((101L, 102L), (102L, 101L)),
      s"self-probe lost on identical centroids: $pairs")
  }

  test("probeAdjacency on a hub topology: self probes plus the hub star") {
    // a deliberate hub topology: c0 is every other centroid's nearest
    // partner; c1..c5 are pairwise less similar than each is to c0
    val hub = Seq(1.0, 0.0, 0.0, 0.0)
    val dirs = Seq(
      Seq(0.9, 0.436, 0.0, 0.0), Seq(0.9, 0.0, 0.436, 0.0),
      Seq(0.9, 0.0, 0.0, 0.436), Seq(0.9, -0.436, 0.0, 0.0),
      Seq(0.9, 0.0, -0.436, 0.0))
    val cents = ((0L, hub) +: dirs.zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, v)
    }).toDF("centroid_id", "centroid")
    def pairs(): Set[(Long, Long)] =
      Similarity.probeAdjacency(cents, nprobe = 2)
        .as[(Long, Long)].collect().toSet
    val got = pairs()
    val selfPairs = (0L to 5L).map(i => (i, i)).toSet
    // every list always probes itself
    assert(selfPairs.subsetOf(got))
    // the non-self pairs are exactly the hub star: 5 pairs, all
    // touching the hub
    assert(got -- selfPairs == (1L to 5L).map(i => (0L, i)).toSet)
    // deterministic: identical on re-invocation
    assert(pairs() == got)
  }

  test("nearDupComponents == union-find components of the blocked pair set") {
    val e = Tables.load(spark, dir, "embeddings")
    val (t, nbits) = (0.3, 2)
    val viaCompose = Similarity.nearDupComponents(
      e, "vec_id", "embedding", t, nbits)
    val pairs = Similarity.cosinePairsBlocked(e, "vec_id", "embedding",
      t, nbits)
    val want = unionFindLabels(e.select($"vec_id").as[Long].collect(),
      pairs.select($"id_a", $"id_b").as[(Long, Long)].collect())
    assert(viaCompose.as[(Long, Long)].collect().toMap == want)
    // output is Θ(n): exactly one label per input doc
    assert(viaCompose.count() == e.count())
  }

  test("listCap overflow: farthest members move to their second-nearest list") {
    // hot list 10 holds 5 members; cap=3 must keep the 3 CLOSEST (by
    // assignment cosine desc, id) and move the 2 farthest to their
    // runner-up centroid 20 — deterministically. cap=0 keeps all 5.
    val corpus = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, 0.02)), (3L, Seq(1.0, 0.03)),
      (4L, Seq(1.0, 0.20)), (5L, Seq(1.0, 0.30)), (6L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    def build(cap: Int): Map[Long, Long] = {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_spec_listcap_$cap").getAbsolutePath
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", centroids,
        path, listCap = cap)
      spark.read.parquet(path)
        .select($"item_id", $"list_id".cast("long")).as[(Long, Long)]
        .collect().toMap
    }
    assert(build(0) ==
      Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L, 5L -> 10L, 6L -> 20L))
    assert(build(3) ==
      Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L),
      "overflow did not move the two farthest members to the runner-up")
  }

  test("nearDupComponentsIndexed == union-find components of the indexed " +
       "pair set") {
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.trainCentroids(
      e, "vec_id", "embedding", k = 4, iters = 2)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_nd_indexed").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val index = Tables.read(spark, path)
    val viaCompose = Similarity.nearDupComponentsIndexed(
      index, centroids, threshold = 0.3, nprobe = 2)
    val pairs = Similarity.indexedQualifyingPairs(
      index, centroids, threshold = 0.3, nprobe = 2)
    val want = unionFindLabels(index.select($"item_id").as[Long].collect(),
      pairs.select($"aid", $"bid").as[(Long, Long)].collect())
    assert(viaCompose.as[(Long, Long)].collect().toMap == want)
    // output is Θ(n): exactly one label per indexed item
    assert(viaCompose.count() == e.count())
  }
}
