package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.expressions.CustomExpressions._
import graft.functions.expressions.SortedIntersectAtLeast.sortedIntersectAtLeast

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale posture (100 TB): every variant reduces to
  * map (per-doc signatures, no shuffle) → one hash-partition shuffle on
  * the signature/bucket key → small candidate set. Nothing here does a
  * global cross join; pair generation only happens inside buckets or
  * blocks, which is the standard way these algorithms stay subquadratic
  * at corpus scale.
  */
object Dedup {

  /** Word-shingle length of every MinHash signature these operators
    * compute. The SQL surface exposes the length only on the token
    * expressions (`multi_min_hash`, `shingle_md5`).
    */
  private val ShingleLen = 3

  /** Exact dedup by content hash: one representative (min id) + count
    * per distinct key. A single hash aggregation — map-side partial
    * aggregation makes the shuffle carry only distinct hashes.
    */
  def exact(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature columns m0..m{k-1} (lowercase-hex
    * min-digests over word 3-grams). Pure map — higher-order
    * expressions, no explode, no shuffle.
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        numHashes: Int): DataFrame = {
    // custom MultiMinHash expression: one pass over the token array
    // (shingles built internally in a reused buffer) for all seeds —
    // same values as the per-seed array_min(transform(md5)) over
    // shingles() composition, an order of magnitude cheaper
    val withSig = df.select(id.as("doc_id"),
      multiMinHash(tokens(text), numHashes, ShingleLen).as("sig"))
    val sigCols = (0 until numHashes)
      .map(s => element_at(col("sig"), s + 1).as(s"m$s"))
    withSig.select((col("doc_id") +: sigCols): _*)
  }

  /** Banded LSH bucket table (doc_id, band, sig): the map-only
    * signature pipeline plus the per-band md5 — the "index rows" every
    * LSH variant (self-dedup, incremental dedup) shuffles or probes
    * on. Shingle-less docs null their band signatures and are dropped
    * (they can never be near-dup candidates).
    */
  def bandedBuckets(df: DataFrame, id: Column, text: Column,
                    numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, id, text, numHashes)
    // concat (not concat_ws): a null minhash (shingle-less doc) must
    // null the band signature, or every empty doc lands in one bucket.
    val bandSig = (b: Int) =>
      md5(concat((0 until rows).flatMap(r =>
        Seq(lit("|"), col(s"m${b * rows + r}"))).drop(1): _*))
    sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandSig(b).as("sig"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      // shingle-less docs have null band signatures — never candidates
      .filter(col("sig").isNotNull)
  }

  /** LSH candidate pairs: signatures are grouped into `bands` bands of
    * `numHashes / bands` rows each; docs sharing any band signature are
    * candidates. One explode(bands) → shuffle on (band, signature) →
    * within-bucket self-join. Bucket sizes are bounded in practice
    * (identical band-signature ⇒ near-identical docs), so the join
    * explodes only where real duplicates exist.
    */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
                        numHashes: Int, bands: Int): DataFrame = {
    val buckets = bandedBuckets(df, id, text, numHashes, bands)
    // Aggregate each bucket's members and generate the i<j pairs from
    // the sorted member array IN the expression layer. A bucket
    // self-join would recompute the whole signature pipeline for both
    // sides (measured ~2x the runtime); here signatures are computed
    // once and the shuffle carries one row per (band, sig).
    val pairs = buckets
      .groupBy(col("band"), col("sig"))
      .agg(array_sort(collect_list(col("doc_id"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + 2, size(col("members"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
    pairs.groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Incremental dedup: adjudicate a NEW batch (`delta`) against an
    * already-deduplicated corpus (`base`) without ever re-deduplicating
    * the corpus — the operation a standing pipeline runs per crawl.
    * Returns one row per delta doc: `base_match` (min base doc sharing
    * an LSH band, null if none), `delta_match` (min EARLIER delta doc
    * sharing a band — first-wins within the batch), and `is_new`.
    *
    * Scale posture: the corpus side is index-shaped — its banded
    * bucket rows are map-only to compute, and in production are
    * materialized ONCE (`bandedBuckets(...)` written as parquet) and
    * probed per batch via `incrementalDedupIndexed` (measured at sf1:
    * probe-only 2.1 s vs recompute-per-batch 10.4 s — the index scan
    * is ~100× cheaper than signature recompute, break-even after two
    * batches; PLANS.md "Round-14: q109 index materialized").
    * Recomputing here keeps the oracled query self-contained. The
    * day's batch buckets are the small side, so the planner broadcasts
    * them into the base probe whenever they fit the session's
    * `autoBroadcastJoinThreshold`: the 100 TB side is then a map-only
    * scan with zero shuffle, and only the hit set (bounded by
    * |delta| × bands) and the batch-internal self-join shuffle. An
    * oversized batch, or a disabled threshold (-1), degrades to a
    * shuffled join on (band, sig).
    */
  def incrementalDedup(base: DataFrame, delta: DataFrame,
                       id: Column, text: Column,
                       numHashes: Int, bands: Int): DataFrame =
    incrementalDedupIndexed(
      bandedBuckets(base, id, text, numHashes, bands),
      delta, id, text, numHashes, bands)

  /** `incrementalDedup` against an already-computed corpus bucket
    * index: any frame with (doc_id, band, sig) rows, typically
    * `bandedBuckets` of the corpus written once as plain parquet and
    * read back with `Tables.read` (schema from the footer, no
    * inference job). No layout helps: the index side is a map-only
    * scan that the batch broadcasts into. The batch's buckets are
    * computed fresh — the batch is the small, new side — and probe the
    * index.
    */
  def incrementalDedupIndexed(baseBk: DataFrame, delta: DataFrame,
                              id: Column, text: Column,
                              numHashes: Int, bands: Int): DataFrame = {
    // r21 note: checkpointing these batch bucket rows (three
    // consumers: the index probe + both sides of the batch-internal
    // self-join) was tried and REVERTED — the LogicalRDD barrier
    // erases the size estimates that let the final left joins
    // broadcast their agg sides, and the lost broadcasts cost more
    // than the saved signature recompute at every batch size measured
    // (q109 solo 0.26 -> 0.58 s eager / 0.64 s lazy at sf0.1). The
    // batch is the small side by contract, so its recompute is two
    // extra map-only passes.
    val deltaBk = bandedBuckets(delta, id, text, numHashes, bands)
    val baseHits = baseBk.as("b")
      .join(deltaBk.as("d"), Seq("band", "sig"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("base_match"))
    val deltaHits = deltaBk.as("d")
      .join(deltaBk.as("e"), col("d.band") === col("e.band")
        && col("d.sig") === col("e.sig")
        && col("e.doc_id") < col("d.doc_id"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("e.doc_id")).as("delta_match"))
    delta.select(id.cast("long").as("doc_id"))
      .join(baseHits, Seq("doc_id"), "left")
      .join(deltaHits, Seq("doc_id"), "left")
      .withColumn("is_new",
        col("base_match").isNull && col("delta_match").isNull)
  }

  /** Per-doc 16-bit SimHash fingerprint (map-only). Near-dups = docs at
    * small Hamming distance; exact-equal fingerprints give the
    * zero-distance tier with a plain groupBy.
    */
  def simhashFingerprints(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), simhash16(text).as("simhash"))

  /** Span-level duplicate statistics — the fixed-granularity
    * relational form of exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499): every sliding `windowLen`-token window of
    * every document is hashed POSITIONALLY (duplicates kept — a span
    * repeated within one document is still a duplicated span), a
    * window is duplicated when its hash occurs more than once in the
    * whole corpus, and each document reports how much of it is
    * made of duplicated spans. Downstream curation drops or trims
    * documents by `dup_ratio` instead of whole-doc near-dup equality —
    * the signal that catches boilerplate headers, licence blocks and
    * quoted reposts that document-level MinHash misses.
    *
    * Output: one row per doc — `n_windows`, `n_dup_windows`,
    * `dup_ratio` (null when the doc is shorter than the window).
    *
    * Scale shape (100 TB): map-only window hashing (one-pass
    * [[graft.functions.expressions.WindowMd5]]; hashes travel as
    * fixed 32-byte md5 hex, never raw text) → one map-side-combinable
    * hash aggregation on the window hash (the shuffle carries
    * distinct hashes with counts, not occurrences) → a join back on
    * the hash to re-attach per-position rows (AQE broadcasts the
    * count table when it is small and skew-splits the boilerplate
    * hot keys — a window shared by millions of docs skews the JOIN
    * key, not the aggregation, which combined map-side) → final
    * per-doc aggregation. No pair table is ever materialized: unlike
    * pairwise dedup this is linear in corpus size by construction.
    */
  def dupSpanStats(df: DataFrame, id: Column, text: Column,
                   windowLen: Int): DataFrame = {
    import graft.functions.expressions.WindowMd5.windowMd5
    val exploded = df
      .select(id.as("doc_id"),
        explode_outer(windowMd5(tokens(text), windowLen)).as("whash"))
    val counts = exploded
      .filter(col("whash").isNotNull)
      .groupBy(col("whash"))
      .agg(count(lit(1)).as("occ"))
    exploded
      .join(counts, Seq("whash"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("whash")).as("n_windows"),
        count(when(col("occ") > 1, lit(1))).as("n_dup_windows"))
      .withColumn("dup_ratio",
        when(col("n_windows") > 0,
          round(col("n_dup_windows").cast("double")
            / col("n_windows"), 9)))
  }

  /** Blocked n-gram (token-set) Jaccard pairs: docs are first bucketed
    * by `blockKeys` (cheap equality blocking — at scale this would be
    * the LSH candidates instead), pairs inside a block are scored by
    * distinct-token Jaccard, and pairs >= `threshold` survive.
    *
    * `chunks` is the skew knob, delegated to [[TrianglePairs]]: the
    * blocking keys are low cardinality (a language × length-bucket
    * scheme yields tens of blocks), so without salting the biggest
    * block's quadratic pair scan runs single-threaded — measured 211 s
    * at sf1 (~19k docs, ~176M candidate pairs in one block against 10
    * join-key values), 15 s salted.
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
                   blockKeys: Seq[Column], threshold: Double,
                   chunks: Int = 16): DataFrame = {
    // Block-equi join on the blocking keys, then one merge scan per
    // candidate pair over SORTED distinct token arrays (custom
    // SortedIntersectAtLeast expression). Compared at sf0.1: 30x faster
    // than per-pair array_contains scans, 2x faster than an
    // inverted-index token self-join (which shuffles |pairs| x |shared
    // tokens| rows); here the only shuffled rows are the docs
    // themselves, ~chunks/2 times per block.
    val keys = blockKeys.indices.map(i => s"bk$i")
    // tokens collapse to sorted 64-bit hashes: the join then moves
    // compact long arrays instead of fat string arrays, and the merge
    // scan compares integers (xxhash64 collisions at ~2^-64 per pair
    // are the standard trade in production dedup pipelines)
    val docs = df.select(
      (id.as("doc_id") +:
        array_sort(transform(array_distinct(tokens(text)),
          t => xxhash64(t))).as("toks") +:
        blockKeys.zipWithIndex.map { case (c, i) => c.as(s"bk$i") }): _*)
      .withColumn("n_toks", size(col("toks")))
    // Second blocking key: token-count log-bucket, width 1/threshold.
    // jaccard >= t forces min(na,nb)/max(na,nb) >= t, so qualifying
    // pairs sit in the same or adjacent buckets — saltedAdjacent makes
    // that part of the join's EQUI key, so the quadratic in-block
    // candidate enumeration (the one super-linear cost left at sf3)
    // skips non-adjacent-size pairs instead of generating them for the
    // ratio predicate to kill. Threshold edges: t >= 1 degenerates to
    // exact-size buckets; t <= 0 admits every ratio, so everything
    // lands in one bucket and the key is a no-op — both still exact.
    val bucket =
      if (threshold >= 1.0) greatest(col("n_toks"), lit(1))
      else if (threshold <= 0.0) lit(0L)
      else floor(
        log(greatest(col("n_toks"), lit(1)).cast("double")) /
          math.log(1.0 / threshold))
    val (a, b, keyCond) =
      TrianglePairs.saltedAdjacent(docs, "doc_id", keys, bucket, chunks)
    // size-ratio prefilter: jaccard <= min(na,nb)/max(na,nb), so pairs
    // whose token counts differ by more than the threshold ratio can
    // never qualify — pruning them in the join changes nothing in the
    // result but cuts the candidate volume.
    val joinCond = keyCond &&
      TrianglePairs.orderedOnce(col("a.doc_id"), col("b.doc_id")) &&
      (col("a.n_toks").cast("double") >= col("b.n_toks") * threshold) &&
      (col("b.n_toks").cast("double") >= col("a.n_toks") * threshold)
    a.join(b, joinCond)
      // threshold-aware intersect: codegen'd merge scan that aborts
      // (returning -1, hence a negative jaccard that self-filters)
      // once the remaining elements can't reach the threshold — the
      // per-candidate constant is the whole cost of the verify phase.
      // jaccard >= t  <=>  inter >= t/(1+t)·(na+nb)
      .withColumn("inter", sortedIntersectAtLeast(col("a.toks"),
        col("b.toks"), threshold / (1.0 + threshold),
        threshold / (1.0 + threshold)))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("a.n_toks") + col("b.n_toks") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
              col("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup: pairs where the smaller doc's
    * distinct-token set is >= `threshold` contained in the larger's
    * (`|A∩B| / |A|`, |A| <= |B|) — the quote/embedded-copy case that
    * Jaccard structurally misses (a 20-token doc fully quoted inside a
    * 500-token doc has jaccard 0.04 but containment 1.0). Because the
    * two sides may differ arbitrarily in size, q45's length-bucket
    * adjacency pruning does NOT apply; candidates come from SSJoin/
    * PPJoin-style PREFIX FILTERING instead (Chaudhuri et al. SSJoin
    * 2006; Xiao et al. PPJoin 2011): order each doc's tokens by global
    * rarity (document frequency, then hash — a total order both sides
    * agree on); if the smaller side shares >= t·|A| tokens, its first
    * `floor((1-t)·|A|) + 2` rarest tokens cannot ALL be unshared, so
    * probing only that prefix against the corpus inverted index finds
    * every qualifying pair (+2 absorbs the double-threshold rounding —
    * an over-long prefix only adds candidates, never drops pairs).
    *
    * Scale: per-doc work is map-only; the shuffles are the token-df
    * aggregation (map-side combined, Zipf skew absorbed by partial
    * aggregation), the inverted-index equi-join on the token key —
    * where rarity ordering is precisely what keeps hot tokens out of
    * the probe side's prefixes, so a stop-word's huge postings list
    * meets few probes — and the candidate-pair dedup. The verify phase
    * is the same codegen'd sorted-merge intersect as q45.
    *
    * Scale CEILING (measured, PLANS.md r19): exact all-pairs
    * containment is Θ(n²/V) candidates at fixed vocabulary V — probes
    * and every token's postings both grow ~n, so the prefix filter
    * buys the 1/V constant, never the exponent (candidate exponent
    * 1.99 on the realistic 30k-vocab fixtures, replayed exactly in
    * DuckDB incl. the positional bound; pair keys cut candidates 15×
    * but need an O(|b|²) index — rejected). Heaps' law softens real
    * corpora to ~n^1.5. At corpus scale run this operator
    * INCREMENTALLY (probe new batches against a corpus index, the
    * q109/q122 pattern — per-batch cost linear in corpus size) or
    * behind a first-stage near-dup blocking; as an all-pairs batch
    * it is a bounded-corpus / per-cluster operator.
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       threshold: Double, chunks: Int = 32): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(chunks >= 1, "chunks must be >= 1")
    // distinct token hashes per doc (compact longs, as in jaccardPairs)
    val toks = distinctTokenHashes(df, id, text)
    val expl = toks.select(col("doc_id"), explode(col("th")).as("tok"))
    val dfreq = expl.groupBy(col("tok")).agg(count(lit(1)).as("tdf"))
    // r22: the r21 repartition+localCheckpoint of the 4-consumer docs
    // table was REVERTED on the driver's ground truth (q115 3.5 ->
    // 23.1 s at 32 cores, core-scaling ratio 0.30 — the eager
    // materialization runs inside the timed region on every per-rep
    // reconstruction and its block-manager churn anti-scales with
    // cores; the host it was validated on had an expensive recompute,
    // the driver host a cheap one). The recompute is cut STRUCTURALLY
    // instead:
    //  - the verify-side small/big re-attaches derive from the
    //    map-only `toks` subtree (they only need hash-sorted arrays —
    //    the dfreq+rarity chain they used to ride through was pure
    //    recompute; rarity membership == size(th) > 0, so the rows
    //    are identical);
    //  - probes and index both consume `docs` with the IDENTICAL
    //    (doc_id, n, rtoks) projection — n is size(rtoks), not
    //    size(stoks) (same value: rtoks is a permutation of stoks) —
    //    so the rarity aggregation's exchange canonicalizes equal
    //    under both consumers and ReuseExchange shares the whole
    //    scan+tokenize+df-count subtree under it instead of a
    //    materialization barrier (the q130 pattern).
    val docs = rarityOrdered(expl.join(dfreq, "tok"))
      .withColumn("n", size(col("rtoks")))
    // Both join sides are SKINNY — (id, n, tok[, pos]) longs only; the
    // token arrays do NOT ride through the candidate join (round 15 —
    // the r14 advisor measured the array-carrying index explode as the
    // pipeline's largest shuffle, O(chunks × Σ|doc|²) bytes). They are
    // re-attached AFTER candidate dedup, so each doc's array is
    // shuffled once, not once per (position × salt).
    val candidates = candidateJoin(prefixProbes(docs, threshold),
        postings(docs), "b_id", threshold, chunks, broadcastSmall = false)
      // a candidate surfaces once per shared prefix token; dedup the
      // skinny (a,b) pairs BEFORE attaching arrays and verifying, so
      // the merge scan runs once per pair, not once per occurrence
      .distinct()
    // verify-side arrays from the map-only tokenize subtree (one scan
    // each, no shuffle): same rows as the old docs join — rarity
    // membership is exactly size(th) > 0
    verifyContainment(candidates, sortedTokens(toks), threshold)
  }

  /** Rarity order of each doc's tokens, from (doc_id, tok, tdf) rows:
    * (tdf ASC, tok ASC) — struct array_sort is field-lexicographic,
    * giving the identical total order everywhere. (doc_id, rtoks).
    */
  private def rarityOrdered(withTdf: DataFrame): DataFrame =
    withTdf
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("tdf"), col("tok"))))
        .as("rt"))
      .select(col("doc_id"),
        transform(col("rt"), s => s.getField("tok")).as("rtoks"))

  /** Hash-sorted token arrays of the docs with at least one token —
    * the verify side of both containment operators: (doc_id, stoks, n).
    */
  private def sortedTokens(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), array_sort(col("th")).as("stoks"))
      .withColumn("n", size(col("stoks")))
      .filter(col("n") > 0)

  /** Prefix length at containment threshold t: the floor((1-t)·n)+2
    * rarest tokens (+2 absorbs the double-threshold rounding — an
    * over-long prefix only adds candidates, never drops pairs).
    */
  private def prefixLen(threshold: Double, n: Column): Column =
    floor(lit(1.0 - threshold) * n) + lit(2)

  /** Probe rows of the candidate join: each doc's prefix
    * tokens, (a_id, a_n, tok), from (doc_id, n, rtoks) rows.
    */
  private def prefixProbes(docs: DataFrame, threshold: Double): DataFrame =
    docs.select(col("doc_id").as("a_id"), col("n").as("a_n"),
      explode(slice(col("rtoks"), lit(1),
        prefixLen(threshold, col("n")).cast("int"))).as("tok"))

  /** Posting rows of the candidate join: every token with its
    * rarity position, (b_id, b_n, pos_b, tok), from (doc_id, n, rtoks).
    */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("b_id"), col("n").as("b_n"),
      posexplode(col("rtoks")).as(Seq("pos_b", "tok")))

  /** The prefix-filter candidate join of both containment operators:
    * (a_id, b_id) pairs where a's prefix token meets b's posting, b's
    * posting passes the both-prefix bound and a is the smaller doc
    * (size, then id). One side carries the probe rows (a_id, a_n, tok)
    * and the other the postings (b_id, b_n, pos_b, tok), in either
    * order: `big` is the side that may be corpus sized, `bigId` its id
    * column for the salt.
    *
    * Broadcast form: `small` broadcasts into a map-only scan of `big`.
    * Shuffle form: the token key is LOW-CARDINALITY (a vocabulary,
    * Zipf-headed) and the shuffled rows are tiny in bytes while the
    * downstream pair enumeration is quadratic — exactly the shape
    * AQE's byte-based coalescing funnels onto one thread (the
    * round-10 q45/q57 lesson). So `big` is salted by its id hash,
    * `small` — the (1-t)-fraction prefix side in the batch form, the
    * small batch in the incremental one — is replicated across all
    * salts, and both pin a fixed-count repartition on (tok, salt) that
    * AQE may not coalesce.
    */
  private def candidateJoin(small: DataFrame, big: DataFrame,
                            bigId: String, threshold: Double, chunks: Int,
                            broadcastSmall: Boolean): DataFrame = {
    // Both-prefix lemma (Bayardo et al. WWW'07): the FIRST shared token
    // in the global rarity order sits inside BOTH sides' prefixes, so
    // the index side only needs positions <= n_b - ceil(t*n_a) + 1;
    // floor()+2 is the fp-safe slack, mirroring the probe side.
    val bothPrefix =
      col("pos_b") + 1 <=
        col("b_n") - floor(lit(threshold) * col("a_n")) + lit(2)
    val sizeOrder = col("a_n") < col("b_n") ||
      (col("a_n") === col("b_n") && col("a_id") < col("b_id"))
    val joined =
      if (broadcastSmall)
        big.join(broadcast(small),
          big("tok") === small("tok") && bothPrefix && sizeOrder)
      else {
        val nParts = big.sparkSession.sessionState.conf.numShufflePartitions
        val smallS = small
          .withColumn("__salt", explode(sequence(lit(0), lit(chunks - 1))))
          .repartition(nParts, col("tok"), col("__salt"))
        val bigS = big
          // the outer coalesce keeps this salt NON-NULLABLE (Pmod is
          // nullable by type whatever its inputs — div-by-zero
          // semantics — and a literal chunks >= 1 never trips it): same
          // value for every row, but without it the join's inferred
          // isnotnull(salt) pushes to the big-side SCAN only, making
          // containmentPairs' two rarity-agg exchange subtrees
          // canonically different — which is exactly what blocks the
          // ReuseExchange sharing its `docs` comment relies on.
          .withColumn("__salt",
            coalesce(pmod(xxhash64(col(bigId)), lit(chunks)), lit(0L))
              .cast("int"))
          .repartition(nParts, col("tok"), col("__salt"))
        smallS.join(bigS,
          smallS("tok") === bigS("tok") &&
            smallS("__salt") === bigS("__salt") && bothPrefix && sizeOrder)
      }
    joined.select(col("a_id"), col("b_id"))
  }

  /** The exact verify step of both containment operators: re-attach
    * the hash-sorted arrays from `docs` (doc_id, n, stoks) to the
    * deduplicated (a_id, b_id) candidates and keep the pairs with
    * |A∩B| / |A| >= threshold. The codegen'd merge scan's containment
    * early exit returns -1 once the target is out of reach, which makes
    * the computed containment negative: pruned pairs self-filter.
    */
  private def verifyContainment(candidates: DataFrame, docs: DataFrame,
                                threshold: Double): DataFrame = {
    val small = docs.select(col("doc_id").as("a_id"), col("n").as("a_n"),
      col("stoks").as("a_toks"))
    val big = docs.select(col("doc_id").as("b_id"),
      col("stoks").as("b_toks"))
    candidates
      .join(small, "a_id")
      .join(big, "b_id")
      .withColumn("inter",
        sortedIntersectAtLeast(col("a_toks"), col("b_toks"), threshold, 0.0))
      .withColumn("containment",
        col("inter").cast("double") / col("a_n").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a_id").as("doc_small"), col("b_id").as("doc_big"),
        col("containment"))
  }

  /** The three tables of a standing containment index (see
    * [[writeContainmentIndex]]): corpus document frequencies (the
    * frozen rarity order every batch agrees on), the rarity-ordered
    * positional postings both probe directions scan, and the
    * hash-sorted per-doc token arrays the exact verify phase needs.
    */
  final case class ContainmentIndex(dfreq: DataFrame, postings: DataFrame,
                                    docs: DataFrame)

  /** Distinct token hashes per doc — the shared map-only front of the
    * containment operators: (doc_id, th: array<long>).
    */
  private def distinctTokenHashes(df: DataFrame, id: Column,
                                  text: Column): DataFrame =
    df.select(id.as("doc_id"),
      array_distinct(transform(tokens(text), t => xxhash64(t))).as("th"))

  /** Materialize the standing-corpus side of INCREMENTAL containment
    * dedup once — the form [[containmentPairs]]'s own scale analysis
    * prescribes (exact all-pairs containment is Θ(n²/V) by problem
    * structure; the incremental form pays per-batch cost linear in the
    * corpus). Three parquet tables under `path`:
    *  - `dfreq`    (tok, tdf): corpus document frequencies — the
    *    FROZEN total rarity order (tdf ASC, tok ASC) every future
    *    batch orders by, so corpus postings never re-sort;
    *  - `postings` (doc_id, n, pos, tok): each corpus doc's distinct
    *    token hashes posexploded in rarity order — the inverted index;
    *    prefix rows are the `pos`-filtered subset, so one table serves
    *    both probe directions;
    *  - `docs`     (doc_id, n, stoks): hash-sorted token arrays for
    *    the exact-verify merge scan.
    * One-time offline build (three actions re-scan the corpus text —
    * a backfill cost, not a per-batch one); plain unpartitioned
    * parquet, same rationale as [[incrementalDedupIndexed]]'s bucket
    * index: the batch side broadcasts into the probe joins, so no
    * index layout could be exploited anyway.
    */
  def writeContainmentIndex(corpus: DataFrame, id: Column, text: Column,
                            path: String): Unit = {
    val toks = distinctTokenHashes(corpus, id, text)
    val expl = toks.select(col("doc_id"), explode(col("th")).as("tok"))
    expl.groupBy(col("tok")).agg(count(lit(1)).as("tdf"))
      .write.mode("overwrite").parquet(path + "/dfreq")
    // read the materialized df table back rather than recomputing the
    // vocabulary aggregation inside the postings plan
    val dfreq = graft.Tables.read(corpus.sparkSession, path + "/dfreq")
    val rarity = rarityOrdered(expl.join(dfreq, Seq("tok")))
    // r22: the r21 checkpoint-shared docs table is gone with the q115
    // revert (same driver-ground-truth rationale — see
    // containmentPairs). The two write ACTIONS never needed a shared
    // chain: the docs table only needs the map-only tokenize subtree
    // (rarity membership == size(th) > 0, so the rows are identical),
    // and the postings write is the only consumer of the rarity sort.
    // Build cost is the same two tokenize passes the checkpoint form
    // paid (dfreq's write is pass one), minus the checkpoint
    // materialization job and its non-fault-tolerant blocks — on a
    // real cluster each write is independently lineage-recoverable.
    rarity
      .withColumn("n", size(col("rtoks")))
      .select(col("doc_id"), col("n"),
        posexplode(col("rtoks")).as(Seq("pos", "tok")))
      .write.mode("overwrite").parquet(path + "/postings")
    sortedTokens(toks)
      .select(col("doc_id"), col("n"), col("stoks"))
      .write.mode("overwrite").parquet(path + "/docs")
  }

  /** Read a [[writeContainmentIndex]] layout back. */
  def readContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String): ContainmentIndex =
    ContainmentIndex(
      graft.Tables.read(spark, path + "/dfreq"),
      graft.Tables.read(spark, path + "/postings"),
      graft.Tables.read(spark, path + "/docs"))

  /** Incremental containment dedup: all pairs (doc_small, doc_big,
    * containment >= threshold) with one side in the NEW batch and the
    * other in the indexed corpus — [[containmentPairs]] restricted to
    * batch×corpus pairs (pinned equal in OperatorsSpec), without ever
    * re-enumerating corpus×corpus. Both orientations are found: a new
    * doc contained in corpus content AND corpus docs contained in the
    * new doc.
    *
    * Same SSJoin/PPJoin prefix-filter completeness as the batch form,
    * under the CORPUS's frozen rarity order (batch tokens the corpus
    * has never seen get tdf 0 — rarest; they can match nothing, and
    * the prefix lemma holds under ANY total order both sides share,
    * so freezing the statistic loses no pairs — the verify phase is
    * exact either way).
    *
    * Scale posture (the point of the operator): per-batch cost is
    * LINEAR in corpus size — direction 1 streams the postings scan
    * past the broadcast batch prefixes, direction 2 streams the
    * pos-filtered prefix subset of the same scan past the broadcast
    * batch postings; the corpus is never shuffled and never joined to
    * itself, which is where the batch form's Θ(n²/V) lives. The only
    * vocabulary-sized work is the tdf attach (one equi-join against
    * `dfreq` per batch). An oversized batch (someone replaying a month
    * as one "batch") degrades to the salted shuffle joins of
    * [[containmentPairs]] instead of failing on the broadcast limit:
    * the batch broadcasts exactly when its size estimate fits
    * `spark.sql.autoBroadcastJoinThreshold`. Candidate join and verify
    * are the batch form's own steps.
    *
    * Measured contract (PLANS.md "Round-20: incremental containment
    * dedup"): built for batches ≪ corpus — at a fixed 5 k-doc batch
    * the probe is 2.4× faster than the all-pairs form at realdocs_sf3
    * and grows sublinearly with the corpus; at batch = 10% of the
    * corpus the advantage is gone (the degrade path's replication
    * costs what the avoided corpus×corpus enumeration saved). A
    * corpus-sized replay belongs on [[containmentPairs]], per-cluster.
    */
  def containmentProbeIncremental(index: ContainmentIndex,
                                  batch: DataFrame, id: Column,
                                  text: Column, threshold: Double,
                                  chunks: Int = 32): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(chunks >= 1, "chunks must be >= 1")
    val toks = distinctTokenHashes(batch, id, text)
    val expl = toks.select(col("doc_id"), explode(col("th")).as("tok"))
    // rarity order under the corpus's frozen statistics; unseen
    // tokens coalesce to tdf 0 (sort first, match nothing)
    val rarity = rarityOrdered(expl.join(index.dfreq, Seq("tok"), "left")
      .withColumn("tdf", coalesce(col("tdf"), lit(0L))))
    val bdocs = toks
      .select(col("doc_id"), array_sort(col("th")).as("stoks"))
      .join(rarity, "doc_id")
      .withColumn("n", size(col("stoks")))
      .filter(col("n") > 0)
    // size-gate on the compact per-doc frame (the exploded probe and
    // postings forms below are the same magnitude in bytes — one long
    // per token either way). Read through sessionState.conf: the typed
    // accessor handles "-1" (broadcast disabled), which routes to the
    // shuffle path.
    val bcThreshold: Long =
      batch.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val doBroadcast = bcThreshold >= 0 &&
      bdocs.queryExecution.optimizedPlan.stats.sizeInBytes <= bcThreshold
    // ---- direction 1: batch doc is the SMALL side ----
    // batch prefixes probe the corpus postings; the index side's
    // positional bound is the both-prefix lemma, as in the batch form
    val cpost = index.postings.select(col("doc_id").as("b_id"),
      col("n").as("b_n"), col("pos").as("pos_b"), col("tok"))
    val cand1 = candidateJoin(prefixProbes(bdocs, threshold), cpost,
      "b_id", threshold, chunks, doBroadcast)
    // ---- direction 2: corpus doc is the SMALL side ----
    // the corpus probe prefixes are the pos-filtered subset of the
    // SAME postings scan (prefix length is the corpus doc's own
    // floor((1-t)·n)+2); the batch postings are the index side
    val cprobe = index.postings
      .filter(col("pos") + 1 <= prefixLen(threshold, col("n")))
      .select(col("doc_id").as("a_id"), col("n").as("a_n"), col("tok"))
    val cand2 = candidateJoin(postings(bdocs), cprobe,
      "a_id", threshold, chunks, doBroadcast)
    // the two directions are disjoint by the size order (an unordered
    // batch×corpus pair lands in exactly one), but each surfaces a
    // pair once per shared prefix token — dedup the skinny ids before
    // attaching arrays, as in the batch form
    val candidates = cand1.union(cand2).distinct()
    val lookup = bdocs.select(col("doc_id"), col("n"), col("stoks"))
      .unionByName(index.docs.select(col("doc_id"), col("n"),
        col("stoks")))
    verifyContainment(candidates, lookup, threshold)
  }

  /** Per-partition spanning-forest contraction — the edge-volume
    * reduction that lets the connected-components operator accept a
    * pair miner's raw output at scale. A dense near-dup block of m
    * docs qualifies Θ(m²) pairs (that density is WHY they are
    * near-dups), but connectivity needs only m−1 of them; at sf10
    * q121's blocked cosine pairs are ~5·10⁸ rows, and materializing
    * them through the first CC shuffle is what OOM'd a 24 g driver.
    * Each input partition (for the pair miners: one complete
    * bucket×chunk-pair subgraph per task, so the reduction is maximal)
    * streams through a [[LongUnionFind]] and emits an edge ONLY when it
    * merges two components — a spanning forest of that partition's
    * subgraph. Union over partitions preserves every global
    * connection, so the downstream fixpoint labeling is unchanged;
    * output is ≤ (#distinct vertices in the partition − 1) edges with
    * task memory bounded by the same count. Duplicate edges and
    * self-loops die here for free (they never merge anything).
    * Long-id graphs only — non-long vertex ids pass through untouched
    * (the generic path is correct, just not pre-contracted).
    */
  private[graft] def localSpanningForest(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val fields = edges.schema.fields
    if (fields.length != 2 ||
        fields(0).dataType != LongType || fields(1).dataType != LongType)
      return edges
    val Array(uName, vName) = fields.map(_.name)
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .filter(col(uName).isNotNull && col(vName).isNotNull)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new LongUnionFind
        it.filter { case (u, v) => uf.union(u, v) }
      }
      .toDF(uName, vName)
  }

  /** The edge set [[connectedComponentsStar]] starts from: candidate
    * pairs canonically oriented (u > v), self-loops dropped,
    * per-partition forest-contracted ([[localSpanningForest]]) BEFORE
    * the distinct shuffle — a pair miner's quadratic in-block output
    * reduces to ≤ one edge per vertex inside its own tasks; global
    * labels unchanged.
    */
  private[graft] def contractedEdges(pairs: DataFrame, src: Column,
                                     dst: Column): DataFrame =
    localSpanningForest(pairs
        .select(greatest(src, dst).as("u"), least(src, dst).as("v"))
        .filter(col("u") =!= col("v")))
      .distinct()

  /** Whether [[connectedComponentsStar]] finishes `rows` rows of
    * `edges` on the driver: long ids, and rows × 16 B (two longs) at
    * most the session's `spark.sql.autoBroadcastJoinThreshold`, which
    * must be > 0.
    */
  private[graft] def fitsDriverFinish(edges: DataFrame, rows: Long): Boolean = {
    val bcThreshold: Long =
      edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType) &&
      bcThreshold > 0 && rows * 16 <= bcThreshold
  }

  /** The dedup DECISION step: candidate pairs (from [[minhashCandidates]],
    * [[jaccardPairs]] or `Similarity.cosinePairsBlocked`) form an
    * undirected graph; each vertex is labeled with the MINIMUM id
    * reachable from it, and that representative survives. Star
    * contraction (large-star / small-star, Kiveris et al., SoCC 2014)
    * converges in O(log n) rounds REGARDLESS of component diameter, so
    * templated-spam chains at corpus scale cannot stall it.
    *
    * Both steps are expressed so the heavy relation only ever shuffles
    * on a vertex key, and the per-vertex min is a groupBy aggregate
    * (map-side partial combine → tiny shuffle) joined back — NOT a
    * window, which would force every edge of a mega-hub into one task.
    * AQE's skew-join split then handles hub vertices at scale.
    *
    * Invariant kept throughout: the edge set is canonically oriented
    * (u > v), deduplicated, self-loop-free — both steps provably emit
    * only such edges, so each round is exactly
    * groupBy-min → join → distinct. At the fixpoint the edges form
    * stars (v, root-of-component); labels read off with one left join
    * (isolated vertices label themselves).
    *
    * Driver finish: once the edge set fits a broadcast — its rows ×
    * 16 B (two longs) at most the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the rule
    * [[containmentProbeIncremental]] sizes its batch by — the rounds
    * stop. The edges are collected, a [[LongUnionFind]] labels them
    * on the driver (its smaller root wins, so `find` is the component
    * minimum) and the labels are broadcast back onto `vertices`. The
    * check runs on the contracted forest and after every round, on the
    * row count each checkpoint's materializing job returns, so it
    * costs no job; on a small or medium graph it removes every round
    * and its per-action job floor. A threshold ≤ 0 turns the finish
    * off, and so do non-`LongType` ids (the union-find holds longs
    * only): both keep the distributed rounds. At scale the edge count
    * never falls below the number of non-root vertices, so a large
    * graph keeps the O(log n) rounds to the end.
    *
    * Storage: each round's local checkpoint is released once the next
    * has materialized. On the distributed path the LAST checkpoint
    * stays alive, because the returned labels read it lazily; the
    * driver finish releases it after the collect.
    *
    * The labeling is canonical, so it is checkable: q47's recursive-CTE
    * oracle and the driver-side [[LongUnionFind]] reference reach the
    * same one. Throws if `maxIters` distributed rounds neither converge
    * nor shrink the edge set to the driver-finish size.
    */
  def connectedComponentsStar(vertices: DataFrame, id: Column,
                              pairs: DataFrame, src: Column, dst: Column,
                              maxIters: Int = 20): DataFrame = {
    // flatLocalCheckpoint keeps the size estimate from compounding
    // over rounds and returns the row count its materializing job
    // took: the only count a round takes
    import org.apache.spark.sql.graftbridge.{flatLocalCheckpoint,
      releaseCheckpoint}
    // large-star: every vertex hooks its LARGER neighbors to the min of
    // its neighborhood (m = min(N(u) ∪ {u})); needs both orientations
    // of each edge, so symmetrize per round (cheap union, no shuffle).
    def largeStar(canon: DataFrame): DataFrame = {
      val sym = canon.select(col("u"), col("v"))
        .union(canon.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      sym.join(mins, "u")
        .filter(col("v") > col("u")) // larger neighbors only
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .distinct() // output is (v, m) with m <= u < v: canonical
    }
    // small-star: every vertex hooks its SMALLER neighbors (and itself)
    // to the min of the smaller neighborhood; operates on the canonical
    // orientation directly.
    def smallStar(canon: DataFrame): DataFrame = {
      val mins = canon.groupBy(col("u")).agg(min(col("v")).as("mn"))
      canon.join(mins, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v")) // (v, m), v > m
        .union(mins.select(col("u"), col("mn").as("v"))) // (u, m), u > m
        .distinct()
    }
    var (edges, n) = flatLocalCheckpoint(contractedEdges(pairs, src, dst),
      Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    var converged = n == 0 // no edges: everything is isolated
    var i = 0
    while (!converged && !fitsDriverFinish(edges, n) && i < maxIters) {
      val (next, nextN) = flatLocalCheckpoint(smallStar(largeStar(edges)))
      // both sets are distinct + canonical, so equal counts plus empty
      // one-sided difference means set equality
      converged = nextN == n && next.except(edges).isEmpty
      releaseCheckpoint(edges)
      edges = next
      n = nextN
      i += 1
    }
    val roots =
      if (fitsDriverFinish(edges, n)) {
        val uf = new LongUnionFind
        edges.collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        releaseCheckpoint(edges)
        val spark = pairs.sparkSession
        import spark.implicits._
        broadcast(uf.nonRoots.toSeq.toDF("u", "root"))
      } else {
        require(converged,
          s"connectedComponentsStar did not converge in $maxIters rounds " +
            "(bound is O(log n) — raise maxIters)")
        edges.groupBy(col("u")).agg(min(col("v")).as("root"))
      }
    vertices.select(id.as("v"))
      .join(roots, col("v") === col("u"), "left")
      .select(col("v"), coalesce(col("root"), col("v")).as("component"))
  }
}

/** Union-find over long ids with path compression; the smaller root
  * wins, so `find(v)` is the minimum id in v's component. Backs
  * [[Dedup.localSpanningForest]] and the driver finish of
  * [[Dedup.connectedComponentsStar]], and is the tests' reference for
  * its labels.
  */
private[graft] final class LongUnionFind {
  private val parent = scala.collection.mutable.LongMap.empty[Long]

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Every vertex that is not its component's root, with its root. */
  def nonRoots: Array[(Long, Long)] =
    parent.keys.toArray.map(x => x -> find(x))

  /** Merges the components of `u` and `v`; true iff they were apart. */
  def union(u: Long, v: Long): Boolean = {
    val ru = find(u); val rv = find(v)
    if (ru == rv) false
    else { parent(math.max(ru, rv)) = math.min(ru, rv); true }
  }
}
