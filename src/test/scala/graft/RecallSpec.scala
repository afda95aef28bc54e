package graft

import org.apache.spark.sql.functions._

import graft.operators.{BlockDials, Similarity}

/** THE STANDING RECALL LAW (round-17/18 verdict item: "a dial change
  * can regress recall with every hash gate green").
  *
  * The hash gates prove the engine computes what the oracle computes —
  * they say NOTHING about whether the blocking finds the pairs a user
  * cares about. This suite pins the recall floor on a deterministic
  * CLUSTERED corpus with planted near-duplicates (the in-process
  * mirror of tools/make_clustered_embeddings.py's shape: Zipf topic
  * mass, tight angular cones, ~5% clones at cos >= 0.99 — the
  * template/boilerplate duplicates a curation run exists to catch):
  *
  *  - the production dedup DECISION path (q125's
  *    [[Similarity.nearDupComponentsIndexed]] at the production dials)
  *    must merge >= 0.95 of planted (dup, orig) pairs;
  *  - the multi-probe ANN repair (q68's H<=1) must surface >= 0.95 of
  *    planted origs in the dup's top-k.
  *
  * Everything here is deterministic (seeded java.util.Random, rounded
  * cosines, deterministic k-means), so a failure is a real recall
  * regression — a dial or blocking change that silently under-merges —
  * never flake. The sign-bucket contrast number is recorded via info()
  * for the measurement trail (PLANS.md r17 measured 0.70–0.78 on this
  * shape) but not gated: sign buckets are the documented-weaker path.
  */
class RecallSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic clustered corpus: `n` unit vectors in `dims`-d, a
    * Zipf-weighted mixture of `clusters` directions, per-cluster
    * tangential spread, `dupRate` planted clones of earlier non-dup
    * rows at `dupNoise` (cos >= ~0.999). Returns (rows, planted
    * (dupId, origId) ground truth).
    */
  private def genClustered(n: Int, dims: Int, clusters: Int,
                           spread: Double, dupRate: Double,
                           dupNoise: Double, seed: Long)
      : (Seq[(Long, Array[Float])], Seq[(Long, Long)]) = {
    val rnd = new java.util.Random(seed)
    def gaussian(): Array[Double] = Array.fill(dims)(rnd.nextGaussian())
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    def jitter(c: Array[Double], s: Double): Array[Double] =
      unit(c.zip(gaussian()).map { case (a, g) => a + s * g })
    val centers = Array.fill(clusters)(unit(gaussian()))
    val w = (1 to clusters).map(i => 1.0 / math.pow(i, 1.05))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val base = Array.tabulate(n) { _ =>
      val u = rnd.nextDouble()
      jitter(centers(cum.indexWhere(u <= _)), spread)
    }
    val vecs = base.clone()
    val planted = Seq.newBuilder[(Long, Long)]
    val nonDup = scala.collection.mutable.ArrayBuffer[Int](0)
    var i = 1
    while (i < n) {
      if (rnd.nextDouble() < dupRate) {
        // clone an earlier NON-DUP row (its vector is never replaced,
        // so the planted (dup, orig) ground truth stays valid)
        val src = nonDup(rnd.nextInt(nonDup.size))
        vecs(i) = jitter(base(src), dupNoise)
        planted += ((i.toLong, src.toLong))
      } else nonDup += i
      i += 1
    }
    (vecs.toSeq.zipWithIndex.map { case (v, j) =>
      (j.toLong, v.map(_.toFloat))
    }, planted.result())
  }

  private lazy val (rows, planted) = genClustered(
    n = 6000, dims = 32, clusters = 12,
    spread = 0.21, dupRate = 0.05, dupNoise = 0.02, seed = 71L)
  private lazy val corpus = rows.toDF("vec_id", "embedding")

  test("RECALL LAW: indexed dedup decision merges >= 0.95 of planted pairs") {
    val e = corpus
    val n = e.count()
    assert(planted.size > 200, s"fixture degenerate: ${planted.size} dups")
    // the EXACT production dials of q125: size-derived list count,
    // 50·C lowest-id training sample, 2 Lloyd steps, nprobe=2, t=0.45
    val c = BlockDials.ivfLists(n)
    val smp = math.min(n, 50L * c).toInt
    val centroids = Similarity.trainCentroids(
      e.orderBy($"vec_id").limit(smp), "vec_id", "embedding",
      k = c, iters = 2)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_recall_indexed").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path,
      listCap = BlockDials.ivfListCap(n, c))
    val comp = Similarity.nearDupComponentsIndexed(
        Similarity.readIvfIndex(spark, path), centroids,
        threshold = 0.45, nprobe = 2)
      .as[(Long, Long)].collect().toMap
    val recIdx = planted.count { case (d, o) => comp(d) == comp(o) }
      .toDouble / planted.size
    // contrast (recorded, not gated): the sign-bucket decision path on
    // the identical fixture and production dial
    val nb = BlockDials.signBits(n)
    val compB = Similarity.nearDupComponents(
        e, "vec_id", "embedding", threshold = 0.45, nbits = nb)
      .as[(Long, Long)].collect().toMap
    val recBlk = planted.count { case (d, o) => compB(d) == compB(o) }
      .toDouble / planted.size
    info(f"planted=${planted.size} lists=$c nbits=$nb " +
      f"indexed_recall=$recIdx%.4f blocked_recall=$recBlk%.4f")
    assert(recIdx >= 0.95,
      f"indexed decision-path planted recall $recIdx%.4f < 0.95 — " +
        "a dial/blocking change silently under-merges near-duplicates")
  }

  test("RECALL LAW: indexed top-k mining surfaces >= 0.95 of planted " +
    "origs in the dup's top-k") {
    // q124's exact production dials (queries.SimilarityQueries
    // .topKDials + the size-derived IVF dials + occupancy cap) — the
    // gap the r19 verdict named: cosineTopKIndexed's recall lived only
    // in the A/B trail, so a dial change could regress it with every
    // gate green. A planted clone sits at cos >= ~0.999, so its orig
    // belongs in its top-k at any sane dial; misses measure BLOCKING
    // loss (dup and orig in non-adjacent lists), the quantity to gate.
    val e = corpus
    val n = e.count()
    val (k, t) = graft.queries.SimilarityQueries.topKDials
    val c = BlockDials.ivfLists(n)
    val smp = math.min(n, 50L * c).toInt
    val centroids = Similarity.trainCentroids(
      e.orderBy($"vec_id").limit(smp), "vec_id", "embedding",
      k = c, iters = 2)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_recall_topk").getAbsolutePath
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path,
      listCap = BlockDials.ivfListCap(n, c))
    val got = Similarity.cosineTopKIndexed(
        Similarity.readIvfIndex(spark, path), centroids,
        k = k, threshold = t, nprobe = 2)
      .select($"doc_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val rec = planted.count(got.contains).toDouble / planted.size
    info(f"planted=${planted.size} lists=$c k=$k topk_recall=$rec%.4f")
    assert(rec >= 0.95,
      f"indexed top-k planted recall $rec%.4f < 0.95 — a dial change " +
        "silently drops true near-duplicates from the mined top-k")
  }

  test("RECALL LAW: multi-probe H<=1 surfaces >= 0.95 of planted origs") {
    val e = corpus
    val n = e.count()
    val dupIds = planted.map(_._1).toSet
    val queries = e.filter($"vec_id".isInCollection(dupIds))
    val nb = BlockDials.signBits(n)
    val got = Similarity.lshTopK(
        queries, e, "vec_id", "embedding", k = 5, nbits = nb,
        maxHamming = 1)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val rec = planted.count(got.contains).toDouble / planted.size
    info(f"planted=${planted.size} nbits=$nb multiprobe_recall=$rec%.4f")
    assert(rec >= 0.95,
      f"multi-probe H<=1 planted recall $rec%.4f < 0.95")
  }
}
