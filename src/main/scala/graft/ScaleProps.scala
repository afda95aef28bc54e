package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BlockDials, Dedup, LongUnionFind, Similarity}
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.{dot, l2Norm, signBucket}

/** Property gate for the two pair operators whose sf10 result sets
  * are too large to hash against the DuckDB oracle (q45 ~44 M rows,
  * q57 ~500 M with the round-15 auto dials): verify, fully
  * distributed (no driver collect of the result), the laws a correct
  * pair miner must satisfy, plus an exact recompute of a ~2k-pair
  * random sample. The r14 verdict asked for exactly this
  * ("property gates at sf10: pair symmetry, threshold soundness on a
  * sampled verify").
  *
  * Checks per operator:
  *  - soundness: every reported score is within [threshold, 1];
  *  - orientation: doc_a < doc_b (canonical, so symmetry is vacuous);
  *  - uniqueness: no duplicate pair;
  *  - co-blocking: both endpoints share the derived block (the pair
  *    could legally be compared);
  *  - sampled exactness: a seeded ~2k-pair sample re-scored from raw
  *    text/embeddings matches the reported score.
  *
  * The connected-components decisions (q47, q121, q123, q125) are
  * checked against a driver-side union-find (`checkComponents`), and
  * q123/q124 against their budget and per-doc cap laws.
  *
  * Writes a driver-shaped JSON artifact and exits non-zero on any
  * failed law.
  *
  *   sbt "runMain graft.ScaleProps testdata/sf10 PROPS_sf10_r15.json"
  */
object ScaleProps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata/sf10")
    val outPath = args.lift(1).getOrElse("PROPS.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def checkBlock(name: String, pairs: DataFrame, scoreCol: String,
                   aCol: String, bCol: String, threshold: Double,
                   meta: DataFrame, // (id, block) one row per doc
                   exact: DataFrame => DataFrame // sample -> re-scored
                  ): (String, Seq[(String, Any)]) = {
      val p = pairs.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val agg = p.agg(
        count(lit(1)).as("n"),
        min(col(scoreCol)).as("mn"),
        max(col(scoreCol)).as("mx"),
        sum(when(col(aCol) >= col(bCol), 1L).otherwise(0L)).as("misordered"))
        .head()
      val n = agg.getLong(0)
      val sound = n == 0 ||
        (agg.getDouble(1) >= threshold && agg.getDouble(2) <= 1.0 + 1e-9)
      val oriented = n == 0 || agg.getLong(3) == 0L
      val dups = p.groupBy(col(aCol), col(bCol)).count()
        .filter(col("count") > 1).limit(1).count() == 0L
      val coblocked = p
        .join(meta.select(col("id").as(aCol), col("block").as("__ba")), aCol)
        .join(meta.select(col("id").as(bCol), col("block").as("__bb")), bCol)
        .filter(col("__ba") =!= col("__bb")).limit(1).count() == 0L
      // seeded sample, exact re-score from the raw inputs
      val frac = math.min(1.0, 2000.0 / math.max(1L, n))
      val sample = p.sample(withReplacement = false, frac, seed = 42L)
      val rescored = exact(sample)
      val sampleN = rescored.count()
      val exactOk = rescored
        .filter(abs(col(scoreCol) - col("__rescore")) > 1e-9)
        .limit(1).count() == 0L
      p.unpersist()
      // ordered Seq, not Map: >4-entry Scala HashMaps iterate in
      // unspecified order, which would make the committed JSON field
      // order (and artifact diffs) vary across runs/Scala versions
      val all = Seq[(String, Any)](
        "pairs" -> n, "sampled" -> sampleN,
        "soundness" -> sound, "orientation" -> oriented,
        "uniqueness" -> dups, "co_blocking" -> coblocked,
        "sampled_exact" -> exactOk)
      println(s"[props] $name: $all")
      (name, all)
    }

    // ---- q45: blocked token-set Jaccard, auto width ----
    val docs = Tables.load(spark, sfDir, "documents")
    val (nd, mx) = BlockDials.countAndMax(docs, col("n_chars"))
    val w = BlockDials.lengthBucketWidth(nd, mx)
    val q45Pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
      blockKeys = Seq(col("lang"),
        floor(col("n_chars") / w.toDouble).cast("int")),
      threshold = 0.8)
    val q45Meta = docs.select(col("doc_id").as("id"),
      concat_ws("|", col("lang"),
        floor(col("n_chars") / w.toDouble).cast("int")).as("block"))
    val docToks = docs.select(col("doc_id"),
      array_sort(transform(array_distinct(tokens(col("text"))),
        t => xxhash64(t))).as("__t"))
    val q45Exact = (s: DataFrame) => s
      .join(docToks.select(col("doc_id").as("doc_a"), col("__t").as("__ta")), "doc_a")
      .join(docToks.select(col("doc_id").as("doc_b"), col("__t").as("__tb")), "doc_b")
      .withColumn("__i",
        size(array_intersect(col("__ta"), col("__tb"))).cast("double"))
      .withColumn("__rescore",
        col("__i") / (size(col("__ta")) + size(col("__tb")) - col("__i")))
    val r45 = checkBlock("q45_jaccard_pairs", q45Pairs, "jaccard",
      "doc_a", "doc_b", 0.8, q45Meta, q45Exact)

    // ---- q57: sign-bucket cosine, auto bits ----
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nb = BlockDials.signBits(emb.count())
    val q57Pairs = Similarity.cosinePairsBlocked(
      emb, "vec_id", "embedding", 0.45, nb)
    val q57Meta = emb.select(col("vec_id").as("id"),
      signBucket(col("embedding"), nb).as("block"))
    val vecs = emb.select(col("vec_id"), col("embedding").as("__v"),
      l2Norm(col("embedding")).as("__nrm"))
    val q57Exact = (s: DataFrame) => s
      .join(vecs.select(col("vec_id").as("id_a"), col("__v").as("__va"),
        col("__nrm").as("__na")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), "id_b")
      .withColumn("__rescore",
        round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 9))
    val r57 = checkBlock("q57_near_dup_blocked", q57Pairs, "cos",
      "id_a", "id_b", 0.45, q57Meta, q57Exact)

    // ---- connected-components invariants (q47/q121/q123) ----
    // The recursive-CTE oracle can't finish at sf10, so these queries
    // were bare "spark_only" completion anchors; the laws below are
    // the real gate a correct min-reachable-id labeling must satisfy,
    // checked on the star-contraction labels:
    //  - cross_impl_equal: every label equals the driver-side
    //    LongUnionFind reference over the same edges. The edges reach
    //    the driver through the per-partition spanning forest (at most
    //    one edge per vertex per partition), so driver memory is O(|V|);
    //  - edge_consistent: every candidate edge's endpoints share a
    //    component (one more propagation round is a fixpoint);
    //  - anchored: component(v) <= v, and every label maps to itself
    //    (the representative is a real vertex labeling itself — which
    //    also proves label ⊆ id);
    //  - n_components: the number of distinct labels.
    def checkComponents(name: String, vertices: DataFrame, id: String,
                        pairs: DataFrame, a: String, b: String)
        : (String, Seq[(String, Any)]) = {
      import scala.jdk.CollectionConverters._
      val edges = pairs.select(col(a), col(b))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val labels = Dedup.connectedComponentsStar(
        vertices.select(col(id)), col(id), edges, col(a), col(b))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val uf = new LongUnionFind
      Dedup.localSpanningForest(edges).toLocalIterator.asScala
        .foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      var nV = 0L
      var crossEqual = true
      labels.toLocalIterator.asScala.foreach { r =>
        nV += 1
        crossEqual &&= uf.find(r.getLong(0)) == r.getLong(1)
      }
      val lbl = (side: String) => labels
        .select(col("v").as(side), col("component").as(s"__c$side"))
      val edgeConsistent = edges
        .join(lbl(a), a).join(lbl(b), b)
        .filter(col(s"__c$a") =!= col(s"__c$b"))
        .limit(1).count() == 0L
      val anchored =
        labels.filter(col("component") > col("v")).limit(1).count() == 0L &&
        labels.select(col("component").as("m")).distinct()
          .join(labels, col("m") === col("v"), "left")
          .filter(col("component").isNull || col("component") =!= col("m"))
          .limit(1).count() == 0L
      val nComp = labels.select(col("component")).distinct().count()
      labels.unpersist(); edges.unpersist()
      val all = Seq[(String, Any)](
        "vertices" -> nV, "n_components" -> nComp,
        "cross_impl_equal" -> crossEqual,
        "edge_consistent" -> edgeConsistent, "anchored" -> anchored)
      println(s"[props] $name: $all")
      (name, all)
    }

    val lshPairs = Dedup.minhashCandidates(
      docs, col("doc_id"), col("text"), numHashes = 8, bands = 4)
    // key kept from when a second catalog query shared q47's oracle,
    // so earlier PROPS_sf10_r* artifacts stay comparable
    val rCc = checkComponents("q47_q103_components",
      docs, "doc_id", lshPairs, "doc_a", "doc_b")
    val rNd = checkComponents("q121_near_dup_components",
      emb, "vec_id", q57Pairs.select(col("id_a"), col("id_b")),
      "id_a", "id_b")

    // ---- q123: the COMPOSED pipeline at scale ----
    // Stages are individually gated above/elsewhere; these laws gate
    // the composition itself: the CC decision re-checked on the SAME
    // pool+pairs the pipeline feeds it (cross-impl equality etc.),
    // and the composed output respecting the token budget.
    val (pool, pipePairs) = graft.queries.PipelineQueries
      .poolAndPairs(spark, sfDir)
    val rPipeCc = checkComponents("q123_pipeline_components",
      pool, "doc_id", pipePairs.select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
    val rPipe = {
      val budget = graft.queries.PipelineQueries.pipeBudget
      val out = SparkEntry.queries("q123_curation_pipeline")(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val row = out.agg(count(lit(1)), sum(col("n_docs")),
        sum(col("tokens")), max(col("max_cum"))).head()
      val nSrc = row.getLong(0)
      val nDocs = if (row.isNullAt(1)) 0L else row.getLong(1)
      val toks = if (row.isNullAt(2)) 0L else row.getLong(2)
      val maxCum = if (row.isNullAt(3)) 0L else row.getLong(3)
      out.unpersist()
      val all = Seq[(String, Any)](
        "sources" -> nSrc, "selected_docs" -> nDocs,
        "tokens_total" -> toks, "max_cum" -> maxCum,
        "budget" -> budget,
        "nonempty" -> (nSrc > 0 && nDocs > 0),
        "budget_respected" -> (toks <= budget && maxCum <= budget
          && toks <= maxCum))
      println(s"[props] q123_curation_pipeline: $all")
      ("q123_curation_pipeline", all)
    }

    // ---- q124: indexed capped mining (oracle times out at sf10 —
    // its DuckDB replay re-assigns the full corpus through a window;
    // these laws are the 100× gate instead) ----
    val r124 = {
      val (k, thr) = graft.queries.SimilarityQueries.topKDials
      val out = SparkEntry.queries("q124_cosine_topk_indexed")(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val agg = out.agg(count(lit(1)), min(col("cos")), max(col("cos")))
        .head()
      val n = agg.getLong(0)
      val sound = n == 0 ||
        (agg.getDouble(1) >= thr && agg.getDouble(2) <= 1.0 + 1e-9)
      // per-doc cap + rank contiguity: exactly m rows ranked 1..m<=k
      val perDoc = out.groupBy(col("doc_id")).agg(
        count(lit(1)).as("c"), max(col("rank")).as("mr"),
        countDistinct(col("rank")).as("dr"))
      val capped = perDoc.filter(col("c") > k || col("mr") =!= col("c")
        || col("dr") =!= col("c")).limit(1).count() == 0L
      // seeded sample re-scored exactly from the raw embeddings
      val frac = math.min(1.0, 2000.0 / math.max(1L, n))
      val sample = out.sample(withReplacement = false, frac, seed = 42L)
        .join(vecs.select(col("vec_id").as("doc_id"), col("__v").as("__va"),
          col("__nrm").as("__na")), "doc_id")
        .join(vecs.select(col("vec_id").as("neighbor_id"),
          col("__v").as("__vb"), col("__nrm").as("__nb")), "neighbor_id")
        .withColumn("__rescore",
          round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 9))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val sampleN = sample.count()
      val exactOk = sample
        .filter(abs(col("cos") - col("__rescore")) > 1e-9)
        .limit(1).count() == 0L
      sample.unpersist(); out.unpersist()
      val all = Seq[(String, Any)](
        "rows" -> n, "sampled" -> sampleN, "soundness" -> sound,
        "per_doc_capped_contiguous" -> capped, "sampled_exact" -> exactOk)
      println(s"[props] q124_cosine_topk_indexed: $all")
      ("q124_cosine_topk_indexed", all)
    }

    // ---- q125: INDEXED near-dup components — the dedup decision
    // path (its recursive-CTE oracle can't finish at sf10). Same CC
    // laws as q121, over the indexed qualifying pair set at the
    // exact production dials (size-derived lists, sampled training,
    // nprobe=2, t=0.45); the recall floor itself is RecallSpec's law.
    val rNdIdx = {
      val nE = emb.count()
      val c = BlockDials.ivfLists(nE)
      val smp = math.min(nE, 50L * c).toInt
      val centroids = Similarity.trainCentroids(
        emb.orderBy(col("vec_id")).limit(smp), "vec_id", "embedding",
        k = c, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_props_q125_idx").getAbsolutePath
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path,
        listCap = BlockDials.ivfListCap(nE, c))
      val index = Similarity.readIvfIndex(spark, path)
      val pairs = Similarity.indexedQualifyingPairs(
        index, centroids, threshold = 0.45, nprobe = 2)
      checkComponents("q125_near_dup_indexed", emb, "vec_id",
        pairs.select(col("aid"), col("bid")), "aid", "bid")
    }

    val results = Seq(r45, r57, rCc, rNd, rPipeCc, rPipe, r124, rNdIdx)
    val json = results.map { case (name, m) =>
      val fields = m.map {
        case (k, v: Boolean) => s""""$k": $v"""
        case (k, v) => s""""$k": $v"""
      }.mkString(", ")
      s""""$name": {$fields}"""
    }.mkString(",\n  ")
    val dials = s""""dials": {"q45_width": $w, "q57_nbits": $nb}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      s"""{"sf": "$sfDir", $dials,\n  $json\n}\n""".getBytes("UTF-8"))
    val ok = results.forall(_._2.collect { case (_, b: Boolean) => b }
      .forall(identity))
    println(s"[props] wrote $outPath ok=$ok")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
