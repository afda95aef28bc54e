package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.expressions.CustomExpressions.boundedTopK

/** Similarity search over an embedding column (`array<float>`).
  *
  * Each operator is a candidate generator feeding one shared ranking
  * step. Top-k search — brute force (exact: queries broadcast, the
  * corpus streams once, unshuffled), sign-bit LSH at Hamming radius
  * `maxHamming`, or IVF over learned centroid lists — ranks through
  * [[rankTopK]]; the capped pair miners rank through [[topKPerDoc]].
  */
object Similarity {

  /** Decimal places every cosine (and every centroid mean) is rounded
    * to before it is ranked, compared or thresholded, so an ULP of
    * cross-engine divergence cannot flip an outcome; the DuckDB
    * oracles replay the same `ROUND(…, 9)`.
    */
  private val Decimals = 9

  /** The pair score of every scorer here: cosine from precomputed
    * norms, rounded to [[Decimals]].
    */
  private def roundedCos(a: Column, b: Column, na: Column,
                         nb: Column): Column =
    round(dot(a, b) / (na * nb), Decimals)

  /** The shared top-k step: each `query_id`'s `k` best candidates by
    * (cos DESC, `tie` ASC), numbered from 1 in `rank`. Cosines are
    * rounded by the caller before they get here, so an ULP of
    * cross-engine divergence cannot flip a rank.
    */
  private def rankTopK(scored: DataFrame, k: Int,
                       tie: String = "neighbor_id"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(tie))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k neighbors per query by cosine similarity.
    * `queries`/`corpus` need (`id`, `vec`) columns named by the params.
    * Self-matches (same id) are excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     id: String, vec: String, k: Int): DataFrame = {
    // norms are precomputed per side (not per pair) — same arithmetic,
    // O(n) instead of O(n*q) sqrt work
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      l2Norm(col(vec)).as("qn"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      l2Norm(col(vec)).as("cn"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        roundedCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Approximate top-k by sign-bit LSH: both sides hash to an
    * `nbits`-bit sign bucket and each query scores only the corpus
    * rows in the buckets within Hamming distance `maxHamming` of its
    * own. At the default radius 0 that is the query's own bucket (the
    * probe mask set is {0}); recall is then tuned by `nbits` alone
    * (fewer bits → bigger buckets → higher recall and cost). A radius
    * h > 0 probes Σ C(nbits, i), i <= h, buckets per query, recovering
    * the neighbors a flipped sign bit hides without growing the
    * buckets; measured on the fixture (nbits=4, k=5): recall@5 0.14
    * at radius 0 -> 0.54 at 1 (5 probes) -> higher again at 2 (11
    * probes).
    *
    * Scale: the query side expands ×probes BEFORE the join — cheap,
    * queries are the broadcast-small side — while the corpus is
    * hashed once and never shuffled beyond the bucket equi-join. A
    * (query, neighbor) pair matches through at most one probe (a
    * corpus row lives in exactly one bucket), so no dedup pass is
    * needed. `bucket` in the output is the matched corpus bucket.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              id: String, vec: String, k: Int, nbits: Int,
              maxHamming: Int = 0): DataFrame = {
    // masks() terminates its popcount bound only at h == 0, so a
    // negative radius would silently enumerate ALL 2^nbits masks
    // (full cross-bucket probe) instead of failing
    require(maxHamming >= 0 && maxHamming <= nbits,
      s"maxHamming must be in [0, $nbits], got $maxHamming")
    // all XOR masks with popcount <= maxHamming, built combinatorially
    // (never enumerates 2^nbits)
    def masks(bits: List[Int], h: Int): Seq[Int] =
      if (h == 0) Seq(0)
      else bits match {
        case Nil       => Seq(0)
        case b :: rest =>
          masks(rest, h) ++ masks(rest, h - 1).map(_ | (1 << b))
      }
    val flips =
      array(masks((0 until nbits).toList, maxHamming).distinct.sorted
        .map(lit): _*)
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"),
        signBucket(col(vec), nbits).as("qbucket"), l2Norm(col(vec)).as("qn"))
      .withColumn("flip", explode(flips))
      .withColumn("bucket", col("qbucket").bitwiseXOR(col("flip")))
      .drop("qbucket", "flip")
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      signBucket(col(vec), nbits).as("bucket"), l2Norm(col(vec)).as("cn"))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        roundedCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
              col("cos"), col("rank"))
  }

  /** Mini k-means for IVF coarse quantization: deterministic init (the
    * k lowest-id vectors), fixed iteration count, and cross-engine
    * reproducible updates — assignment cosines are rounded to 9
    * decimals before the argmax and per-dimension means go through an
    * exact decimal sum and are rounded to 9 decimals, so the DuckDB
    * oracle replays the identical training trajectory (the q54 gate:
    * `SimilarityQueries.duckIvf` unrolls these steps as CTEs).
    * Returns (centroid_id, centroid: array<double>).
    *
    * Scale: each iteration is one broadcast (centroids) + one map
    * (assign) + one shuffle (groupBy centroid for the means) — the
    * textbook distributed Lloyd step. Each iteration ends in an eager
    * `localCheckpoint` so lineage (and thus plan size) stays flat no
    * matter how many Lloyd steps run; the prior iteration's checkpoint
    * is released as soon as the next materializes, so at most two
    * k-row tables are stored at once, and the returned one stays
    * stored for its lazy readers. Caveat: localCheckpoint is not
    * recoverable on executor loss — on a real cluster configure a
    * checkpoint dir and swap in reliable `checkpoint()` for long
    * training runs.
    */
  def trainCentroids(corpus: DataFrame, id: String, vec: String,
                     k: Int, iters: Int): DataFrame = {
    // r21 note: checkpointing this projection (the MLlib cache-your-
    // k-means-input pattern) was tried BOTH eagerly and lazily and
    // REVERTED: the LogicalRDD barrier erases Catalyst's size
    // estimates, so downstream joins that should broadcast plan as
    // sort-merge, costing more than the saved re-projection (measured
    // q124 solo 2.11 -> 2.26 s eager, 2.92 s lazy at sf0.1). The
    // per-iteration recompute is one column projection per Lloyd
    // step; the per-step centroid localCheckpoint below (which keeps
    // the PLAN flat, its actual job) stays.
    val v = corpus.select(col(id).as("cid"), toDoubles(col(vec)).as("v"))
    var centroids = v.orderBy(col("cid")).limit(k)
      .select(col("cid").as("centroid_id"), col("v").as("centroid"))
    for (_ <- 0 until iters) {
      val assigned = assignToCentroid(v, centroids, "v")
      val prev = centroids
      // r22 one-exchange Lloyd step: per-dim decimal-exact (sum, count)
      // via the VectorMeanParts partial aggregate — one groupBy on
      // centroid_id (ONE exchange of k sketch-sized rows) instead of
      // posexplode → (centroid, dim) agg → (centroid) agg (TWO
      // exchanges behind an n×dims row explosion). The division and
      // 9-decimal round stay in Catalyst on the same (double, bigint)
      // types, so the means are bit-identical to the exploded form
      // (decimal sums are order-independent; equality property-tested
      // in SimilaritySpec and oracled by q54/q122/q124/q125/q127).
      centroids = assigned
        .groupBy(col("centroid_id"))
        .agg(graft.functions.expressions.CustomExpressions
          .vectorMeanParts(col("v")).as("mp"))
        .select(col("centroid_id"),
          transform(col("mp"),
            p => round(p.getField("s") / p.getField("c"), Decimals))
            .as("centroid"))
        // truncate lineage: without this each Lloyd step re-plans the
        // whole preceding chain and the plan grows superlinearly
        .localCheckpoint()
      // eager checkpoint above has materialized the new centroids, so
      // the previous iteration's blocks can go (no-op on iteration 0,
      // whose `prev` is not a checkpoint)
      org.apache.spark.sql.graftbridge.releaseCheckpoint(prev)
    }
    centroids
  }

  /** Nearest centroid per row by cosine (broadcast centroids); the
    * cosine is rounded before the argmax so an ULP of cross-engine
    * divergence can't flip an assignment.
    *
    * MAP-ONLY: the centroid table is collapsed to ONE array row
    * (sorted by centroid_id) and broadcast, and the argmax runs inside
    * a projection over that array — no crossJoin row expansion and,
    * critically, no row_number window, whose required shuffle would
    * move n×C rows EACH CARRYING THE FULL VECTOR (at C ∝ n that is a
    * quadratic, vector-payload exchange — the scale wall this shape
    * avoids). Ties break to the lowest centroid_id (`array_position`
    * returns the FIRST max, and the array is id-sorted), identical to
    * the former window's (cos DESC, centroid_id ASC) order; cosines
    * round to [[Decimals]] first, so assignments — and every oracle that
    * replays them (q54/q122/q124) — are bit-stable across engines and
    * across this plan change (pinned in SimilaritySpec).
    */
  private def assignToCentroid(rows: DataFrame, centroids: DataFrame,
                               vecCol: String): DataFrame =
    centroidCosines(rows, centroids, vecCol)
      .withColumn("centroid_id",
        element_at(col("cs"),
          array_position(col("ds"), array_max(col("ds"))).cast("int"))
          .getField("centroid_id"))
      .drop("cs", "nv", "ds")

  /** The scoring prefix of [[assignToCentroid]] and
    * [[assignToCentroid2]]: `rows` plus `cs`, the centroids as ONE
    * id-sorted broadcast array of (centroid_id, centroid, cnrm), `nv`,
    * the row's norm, and `ds`, the row's rounded cosine to each `cs`
    * entry, in the same order. The callers argmax over `ds`.
    */
  private def centroidCosines(rows: DataFrame, centroids: DataFrame,
                              vecCol: String): DataFrame = {
    val cArr = centroids.agg(
      array_sort(collect_list(struct(col("centroid_id"), col("centroid"),
        l2Norm(col("centroid")).as("cnrm")))).as("cs"))
    rows.crossJoin(broadcast(cArr))
      .withColumn("nv", l2Norm(col(vecCol)))
      // a zero-norm row (or a degenerate all-zero centroid) makes the
      // divisor 0: under ANSI (Spark 4 default) a plain Divide KILLS
      // the whole assignment job, and under legacy mode it yields NULL,
      // poisoning the callers' array_max/array_position so the row
      // SILENTLY DROPS from the index (null centroid_id). try_divide +
      // coalesce to -1.0 — below any real cosine — lands such rows
      // deterministically on the lowest-id centroid instead.
      .withColumn("ds", transform(col("cs"), c =>
        coalesce(round(try_divide(dot(col(vecCol), c.getField("centroid")),
          col("nv") * c.getField("cnrm")), Decimals), lit(-1.0))))
  }

  /** Each row's `nprobe` nearest centroids by rounded cosine, ties to
    * the lower centroid_id: one output row per (row, probed centroid),
    * carrying `rows`' columns plus `centroid_id`. `key` must identify
    * a row of `rows`. The probe side of [[ivfProbeIndexed]] (rows =
    * queries) and of [[probeAdjacency]] (rows = the centroids
    * themselves).
    */
  private def nearestCentroids(rows: DataFrame, key: String, vec: String,
                               centroids: DataFrame,
                               nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val w = Window.partitionBy(col(key))
      .orderBy(col("d").desc, col("centroid_id"))
    rows.crossJoin(broadcast(centroids))
      .withColumn("d", round(cosine(col(vec), col("centroid")), Decimals))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .drop("centroid", "d", "rn")
  }

  /** All pairs above a cosine threshold (embedding near-dup detection).
    * Exact O(n²) within — use only on bounded corpora; kept exact here
    * as the correctness baseline. The production path at corpus scale
    * is [[cosinePairsBlocked]], which trades recall across buckets for
    * a bucket-local equi-join.
    */
  def cosinePairs(df: DataFrame, id: String, vec: String,
                  threshold: Double): DataFrame = {
    // the stream side of the nested-loop join gets an explicit round-
    // robin repartition: an embeddings table is small in BYTES (20k
    // rows ≈ 6 MB at sf1 — one scan split at any maxPartitionBytes)
    // while the pair scan is O(n²), so without it the whole cross
    // product runs on one thread (measured 13 min at sf1, ~40 s
    // repartitioned)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = df.select(col(id).as("id_a"), col(vec).as("va"),
      l2Norm(col(vec)).as("na")).repartition(parts)
    val b = df.select(col(id).as("id_b"), col(vec).as("vb"),
      l2Norm(col(vec)).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      // round before thresholding so borderline values can't split
      // between engines
      .withColumn("cos", roundedCos(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** LSH-blocked near-dup pairs — the scale path for [[cosinePairs]]:
    * both sides hash to a sign-bit bucket and the exact cosine is only
    * computed within a bucket, turning the O(n²) self-cross-join into
    * a bucket equi-join (shuffle on bucket, O(b²) per bucket). Same
    * output schema as [[cosinePairs]]; pairs split across buckets are
    * the (tunable via `nbits`) recall loss. At 100 TB this is the
    * near-dup shape that works: no row ever meets a row outside its
    * bucket, so cost scales with Σ bucket² not corpus².
    *
    * `chunks` is the [[TrianglePairs]] skew knob: 2^nbits buckets is a
    * low-cardinality join key (16 here), and clustered embeddings
    * concentrate in few sign buckets, so the hot bucket's quadratic
    * scan would otherwise run on one thread.
    */
  def cosinePairsBlocked(df: DataFrame, id: String, vec: String,
                         threshold: Double, nbits: Int,
                         chunks: Int = 16): DataFrame = {
    val rows = df.select(col(id).as("vid"), col(vec).as("v"),
      signBucket(col(vec), nbits).as("bucket"), l2Norm(col(vec)).as("nrm"))
    val (a, b, keyCond) =
      TrianglePairs.salted(rows, "vid", Seq("bucket"), chunks)
    a.join(b, keyCond &&
        TrianglePairs.orderedOnce(col("a.vid"), col("b.vid")))
      .withColumn("cos",
        roundedCos(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(least(col("a.vid"), col("b.vid")).as("id_a"),
              greatest(col("a.vid"), col("b.vid")).as("id_b"),
              col("cos"))
  }

  /** CAPPED-output near-neighbor mining: each doc's top-`k` neighbors
    * (by exact cosine, floor `threshold`) among its sign-bucket
    * co-residents — the variant of [[cosinePairsBlocked]] a corpus-
    * scale user actually runs. The full qualifying-pair set is
    * Θ(Σ bucket²·density) and grows superlinearly on a clustered
    * corpus (q57 at sf10: 498 M pairs — pure output volume); this
    * caps the OUTPUT at Θ(n·k) and, critically, caps the SHUFFLE too:
    * the per-doc ranking is the [[graft.functions.expressions.BoundedTopK]]
    * aggregate, whose map-side partial buffers bound the exchange at
    * k entries per doc per partition — a `row_number` window would
    * shuffle every qualifying directed pair instead.
    *
    * Each unordered in-bucket pair is scored ONCE (triangle-salted
    * i<j join, the [[TrianglePairs]] skew treatment), then both
    * directions enter the ranking. Docs with no qualifying neighbor
    * emit nothing. Deterministic: cosines round to [[Decimals]] before
    * ranking and ties break by neighbor id, so the kept set is a
    * total-order prefix any engine reproduces.
    */
  def cosineTopKBlocked(df: DataFrame, id: String, vec: String,
                        k: Int, threshold: Double, nbits: Int,
                        chunks: Int = 16): DataFrame =
    topKPerDoc(cosinePairsBlocked(df, id, vec, threshold, nbits, chunks),
      "id_a", "id_b", k)

  /** The shared tail of the capped pair miners: each unordered scored
    * pair (`a`, `b`, cos) enters the ranking in both directions, and
    * each doc keeps its top-`k` neighbors by (cos DESC, neighbor id)
    * through the [[graft.functions.expressions.BoundedTopK]] partial
    * heap. Returns (doc_id, neighbor_id, cos, rank).
    */
  private def topKPerDoc(pairs: DataFrame, a: String, b: String,
                         k: Int): DataFrame =
    // both directions in ONE pass: a union of two selects over `pairs`
    // would re-run the whole pair join per branch (two scans, two
    // joins — verified in the physical plan); a 2-element explode emits
    // (a→b, b→a) from the single scored row inside the same stage
    pairs
      .select(explode(array(
        struct(col(a).as("doc_id"), col(b).as("neighbor_id"), col("cos")),
        struct(col(b).as("doc_id"), col(a).as("neighbor_id"), col("cos"))))
        .as("d"))
      .select(col("d.doc_id").as("doc_id"),
        col("d.neighbor_id").as("neighbor_id"), col("d.cos").as("cos"))
      .groupBy(col("doc_id"))
      .agg(boundedTopK(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("doc_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("cos"), (col("p") + 1).cast("int").as("rank"))

  /** Like [[assignToCentroid]], but emits the runner-up too — and the
    * winning (rounded) cosine, so a capacity rebalance can rank a
    * list's members by closeness. Identical winner/tie semantics
    * (first max of the id-sorted array = lowest centroid_id); the
    * runner-up masks the winner's slot and re-argmaxes, so on a tied
    * max the runner-up is the second-lowest id — exactly DuckDB's
    * `row_number() ORDER BY d DESC, id` rn=2.
    */
  private def assignToCentroid2(rows: DataFrame, centroids: DataFrame,
                                vecCol: String): DataFrame =
    centroidCosines(rows, centroids, vecCol)
      .withColumn("bd", array_max(col("ds")))
      .withColumn("bp", array_position(col("ds"), col("bd")))
      .withColumn("centroid_id",
        element_at(col("cs"), col("bp").cast("int")).getField("centroid_id"))
      // mask the winner's slot (-2 is below any cosine and the -1
      // zero-norm fallback), then the same first-max argmax
      .withColumn("ds2", transform(col("ds"), (d, i) =>
        when(i === col("bp") - 1, lit(-2.0)).otherwise(d)))
      .withColumn("second_id",
        element_at(col("cs"),
          array_position(col("ds2"), array_max(col("ds2"))).cast("int"))
          .getField("centroid_id"))
      .drop("cs", "nv", "ds", "bp", "ds2")

  /** IVF index frame: the corpus assigned to its nearest centroid, as
    * (`item_id`, `cv` the vector as doubles, `cn` its norm, `list_id`
    * the centroid id). [[writeIvfIndex]] materializes it for the
    * probe-only queries; an ad-hoc search (q54) probes it unwritten
    * through the same [[ivfProbeIndexed]]. The per-item norm is
    * precomputed so probe-side scoring does no per-pair sqrt over the
    * corpus vector.
    *
    * `listCap > 0` enables ONE deterministic overflow round: each
    * list ranks its members by (assignment cosine DESC, id) and
    * members past the cap move to their second-nearest centroid. Why:
    * k-means lists are balanced in expectation only, and the indexed
    * miners' candidate volume Σ|la|×|lb| inherits a superlinear term
    * from hot lists (measured exponent 1.16 sf1→sf10 uncapped —
    * PLANS.md r17/r19); the cap restores Θ(n·nprobe·cap) by
    * construction. The round is single-pass (no cascade: a receiving
    * list may exceed the cap by what it receives — a bounded slack,
    * stated honestly rather than iterated away), costs one
    * list-keyed window exchange in the BUILD (the amortized offline
    * pass; probe reads stay untouched), and is deterministic —
    * farthest members overflow first, ties by id — so the DuckDB
    * oracle replays it (q124/q125). The recall effect is gated by
    * RecallSpec's ≥ 0.95 law: an overflowed boundary item lands in
    * its second-nearest list, whose probe set almost always contains
    * the original neighbor region.
    */
  def ivfIndex(corpus: DataFrame, id: String, vec: String,
               centroids: DataFrame, listCap: Int = 0): DataFrame = {
    val v = corpus.select(col(id).as("cid"), toDoubles(col(vec)).as("v"))
    val assigned =
      if (listCap <= 0) assignToCentroid(v, centroids, "v")
      else {
        val w = Window.partitionBy(col("centroid_id"))
          .orderBy(col("bd").desc, col("cid"))
        assignToCentroid2(v, centroids, "v")
          .withColumn("lr", row_number().over(w))
          .withColumn("centroid_id",
            when(col("lr") <= listCap, col("centroid_id"))
              .otherwise(col("second_id")))
          .drop("bd", "second_id", "lr")
      }
    assigned.select(col("cid").as("item_id"), col("v").as("cv"),
      l2Norm(col("v")).as("cn"), col("centroid_id").as("list_id"))
  }

  /** Materialized IVF index: [[ivfIndex]] written partitioned by
    * `list_id` — the embedding analog of the materialized dedup bucket
    * index that `Dedup.incrementalDedupIndexed` probes. The k-means
    * and the full-corpus assignment scan are paid ONCE, offline; every
    * later query batch probes the layout read-only.
    *
    * Scale: `partitionBy(list_id)` makes the list the unit of I/O.
    * A probe joining the (tiny, broadcast) query×nprobe-list frame
    * against this scan triggers dynamic partition pruning, so a
    * batch touching p of C lists READS p/C of the corpus bytes —
    * the index never rebuilds, never reshuffles, and the pruning is
    * visible in the plan (`PartitionFilters: dynamicpruning...`,
    * pinned in PlansSpec).
    */
  def writeIvfIndex(corpus: DataFrame, id: String, vec: String,
                    centroids: DataFrame, path: String,
                    listCap: Int = 0): Unit =
    ivfIndex(corpus, id, vec, centroids, listCap)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)

  /** The production sampled IVF index of the indexed miners (q124,
    * q125, q127): C = [[BlockDials.ivfLists]](n) centroids trained for
    * 2 Lloyd steps on the 50·C lowest-id rows, the whole corpus
    * written to `path` under the [[BlockDials.ivfListCap]] occupancy
    * cap, and read back. `n` is the corpus row count; callers pass a
    * parquet footer count so sizing runs no job. RecallSpec's laws run
    * this same recipe. Returns (index, centroids).
    */
  def sampledIvfIndex(corpus: DataFrame, id: String, vec: String,
                      n: Long, path: String): (DataFrame, DataFrame) = {
    val c = BlockDials.ivfLists(n)
    val sample = corpus.orderBy(col(id)).limit(math.min(n, 50L * c).toInt)
    val centroids = trainCentroids(sample, id, vec, k = c, iters = 2)
    writeIvfIndex(corpus, id, vec, centroids, path,
      listCap = BlockDials.ivfListCap(n, c))
    (graft.Tables.read(corpus.sparkSession, path), centroids)
  }

  /** ANN over an IVF index (an [[ivfIndex]] frame or its
    * [[writeIvfIndex]] layout): each query picks its `nprobe` closest
    * centroids (broadcast) and only those lists are scanned (dynamic
    * partition pruning on a written layout) and scored, ranked by
    * (cos DESC, neighbor id).
    */
  def ivfProbeIndexed(index: DataFrame, queries: DataFrame, id: String,
                      vec: String, k: Int, centroids: DataFrame,
                      nprobe: Int): DataFrame = {
    val q = nearestCentroids(
        queries.select(col(id).as("query_id"), toDoubles(col(vec)).as("qv")),
        "query_id", "qv", centroids, nprobe)
      .select(col("query_id"), col("qv"),
        l2Norm(col("qv")).as("qn"), col("centroid_id").as("list_id"))
    val scored = index.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos",
        roundedCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k, tie = "item_id")
      .select(col("query_id"), col("item_id").as("neighbor_id"),
        col("list_id").cast("long").as("centroid_id"),
        col("cos"), col("rank"))
  }

  /** The probed-list adjacency of the indexed miners, as UNORDERED
    * pairs (la <= lb, self pairs included): each list's `nprobe`
    * nearest lists by rounded centroid cosine (ties by list id), plus
    * the list itself, closed symmetrically. Deterministic, pure plan,
    * one broadcastable C×C table.
    */
  private[graft] def probeAdjacency(centroids: DataFrame,
                                    nprobe: Int): DataFrame = {
    val directed = nearestCentroids(
        centroids.select(col("centroid_id").as("list_id"),
          col("centroid").as("av")),
        "list_id", "av", centroids, nprobe)
      .select(col("list_id"), col("centroid_id").as("probe_list"))
    // a list must ALWAYS probe itself: if training produced two
    // (rounded-)identical centroids, the d-then-id tiebreak can rank
    // the twin ABOVE the self pair and, at nprobe=1, drop it — the
    // affected list's members would then never be scored against
    // each other (green gates, silent recall hole). The union is
    // id-deduped by the distinct below.
    // symmetric closure as UNORDERED list pairs: a pair of lists is
    // scored once if EITHER list probes the other. Halves the dot
    // products vs directed probing (each candidate pair scored once,
    // both directions emitted by a 2-element explode — the
    // cosineTopKBlocked trick) and is a recall superset of directed
    // probing (a finds b even when only b's list probes a's).
    directed
      .union(centroids.select(col("centroid_id").as("list_id"),
        col("centroid_id").as("probe_list")))
      .select(least(col("list_id"), col("probe_list")).as("la"),
        greatest(col("list_id"), col("probe_list")).as("lb"))
      .distinct()
  }

  /** Threshold-qualifying pairs of an IVF-indexed corpus — the shared
    * candidate stage of [[cosineTopKIndexed]] (top-k capped mining)
    * and [[nearDupComponentsIndexed]] (the dedup decision path).
    * Candidates are the symmetric closure of "the `nprobe` lists
    * nearest each list" over a broadcast C×C centroid adjacency (self
    * pair always included); each unordered candidate pair is scored
    * exactly once (same-list pairs oriented aid < bid, cross-list
    * pairs in adjacency orientation) and kept at `cos >= threshold`.
    * Returns (aid, bid, cos).
    */
  private[graft] def indexedQualifyingPairs(
      index: DataFrame, centroids: DataFrame, threshold: Double,
      nprobe: Int): DataFrame = {
    val lp = probeAdjacency(centroids, nprobe)
    val a = index.select(col("item_id").as("aid"), col("cv").as("av"),
      col("cn").as("an"), col("list_id").as("la"))
    val b = index.select(col("item_id").as("bid"), col("cv").as("bv"),
      col("cn").as("bn"), col("list_id").as("lb"))
    // the only exchange in the mining pass: both sides hash on the
    // probed-list key (a expanded ×|sym adjacency| by the broadcast
    // pair table first)
    a.join(broadcast(lp), Seq("la"))
      .join(b, Seq("lb"))
      // same-list pairs appear in both (a,b) and (b,a) order — keep
      // i<j once; cross-list pairs appear exactly once already
      .filter(col("la") =!= col("lb") || col("aid") < col("bid"))
      .withColumn("cos", roundedCos(col("av"), col("bv"), col("an"), col("bn")))
      .filter(col("cos") >= threshold)
      .select(col("aid"), col("bid"), col("cos"))
  }

  /** INDEXED capped pair mining — [[cosineTopKBlocked]]'s scale form,
    * blocking on a materialized IVF layout ([[writeIvfIndex]]) instead
    * of sign buckets. Candidates come from [[indexedQualifyingPairs]]
    * (symmetric-closure probed-list pairs, each scored once), then
    * [[topKPerDoc]] ranks both directions, as in the blocked variant
    * (top-`k` per doc, floor `threshold`).
    *
    * Why this beats sign buckets at scale: candidate volume here is
    * n × nprobe × listSize BY CONSTRUCTION — density-independent —
    * because every doc scores exactly its probed lists, however
    * clustered the corpus. Sign buckets concentrate a clustered
    * corpus into few hot buckets (axis-aligned projections can't
    * follow the data), so Σ bucket² grows superlinearly even with the
    * [[BlockDials.signBits]] resolution dial (measured exponent 1.27
    * at sf1→sf10, candidate exponent 1.70 — PLANS.md round 16/17).
    * With [[BlockDials.ivfLists]] scaling C ∝ n, listSize stays
    * ~constant and the mining pass is Θ(n). The recall trade: a true
    * neighbor outside the doc's `nprobe` adjacent lists is missed —
    * measured against exact ground truth in PLANS.md "Round-17:
    * capped-mining recall on the realistic clustered corpus".
    *
    * Skew: list sizes are k-means-balanced, not guaranteed-bounded; a
    * genuinely hot list splits under AQE skew-join handling (the probe
    * join is a plain shuffle join on list id, not a self-join needing
    * salting).
    *
    * Determinism: the adjacency ranks by rounded centroid-pair cosine
    * (ties by probe list id), pair scores round to [[Decimals]] before
    * ranking, ranking ties break by neighbor id — a total order any
    * engine replays (q124's oracle).
    */
  def cosineTopKIndexed(index: DataFrame, centroids: DataFrame,
                        k: Int, threshold: Double,
                        nprobe: Int): DataFrame =
    topKPerDoc(indexedQualifyingPairs(index, centroids, threshold, nprobe),
      "aid", "bid", k)

  /** Blocked near-dup pairs fed STRAIGHT into connected components:
    * the dedup-decision composition whose output is Θ(n) labels — the
    * other capped form of [[cosinePairsBlocked]] (a 100 TB curation
    * run wants "which docs are duplicates of what", not the 498 M-row
    * pair list). The scored pair table is never materialized: only
    * the skinny (id_a, id_b) long pairs flow into star-contraction CC
    * ([[Dedup.connectedComponentsStar]] — O(log n) rounds regardless
    * of component diameter), which canonicalizes + dedups them as its
    * own first step. Returns (v, component) per input doc; component
    * = min reachable id, the same canonical fixpoint q47 gates.
    *
    * Blocking caveat: sign buckets lose 22–30% of planted near-dup
    * pairs on clustered corpora (PLANS.md round 17) — prefer
    * [[nearDupComponentsIndexed]] (IVF-list blocking, recall ≥ 0.95)
    * when the corpus is a real text-embedding distribution.
    */
  def nearDupComponents(df: DataFrame, id: String, vec: String,
                        threshold: Double, nbits: Int,
                        chunks: Int = 16): DataFrame = {
    val pairs = cosinePairsBlocked(df, id, vec, threshold, nbits, chunks)
      .select(col("id_a"), col("id_b"))
    Dedup.connectedComponentsStar(df.select(col(id)), col(id),
      pairs, col("id_a"), col("id_b"))
  }

  /** [[nearDupComponents]] over IVF-list blocking — the PRODUCTION
    * dedup decision path for clustered (i.e. real text-embedding)
    * corpora. Sign buckets slice tight angular cones apart
    * (0.70–0.78 planted-pair recall on the clustered fixture —
    * PLANS.md round 17), silently under-merging; learned IVF lists
    * follow the data, and [[indexedQualifyingPairs]]' self-unioned
    * symmetric-closure probing holds planted-pair recall ≥ 0.95 at
    * nprobe ≥ 2 (RecallSpec pins the law on a committed fixture
    * generator). Candidate volume stays n·nprobe·listSize by
    * construction ([[BlockDials.ivfLists]]), so the decision pass is
    * Θ(n) however clustered the corpus.
    *
    * The qualifying-pair table is never materialized: the skinny
    * (aid, bid) pairs flow straight into star-contraction CC
    * ([[Dedup.connectedComponentsStar]], O(log n) rounds regardless
    * of component diameter). Returns (v, component) per indexed item;
    * component = min reachable id, the same canonical fixpoint the
    * q47/q121 oracles gate.
    */
  def nearDupComponentsIndexed(index: DataFrame, centroids: DataFrame,
                               threshold: Double,
                               nprobe: Int): DataFrame = {
    val pairs = indexedQualifyingPairs(index, centroids, threshold, nprobe)
      .select(col("aid"), col("bid"))
    Dedup.connectedComponentsStar(index.select(col("item_id")),
      col("item_id"), pairs, col("aid"), col("bid"))
  }
}
