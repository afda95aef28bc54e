package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{BlockDials, Dedup, Sampling}

/** Deduplication surface over `documents`: exact, MinHash signatures,
  * MinHash-LSH candidate pairs, SimHash fingerprints, blocked n-gram
  * Jaccard. Oracle SQL is generated from the same constants (seed
  * count, band layout, shingle length) as the Spark operators.
  */
object DedupQueries extends Catalog {

  private val NumHashes = 8
  private val Bands = 4
  private val Rows = NumHashes / Bands

  private val duckToks = s"regexp_split_to_array(trim(text), " +
    s"'${graft.functions.TextFunctions.wsClass}+')"

  /** Shared DuckDB CTE body (no WITH, so q47 can prefix RECURSIVE):
    * doc_id + 3-gram shingles.
    */
  private val duckShingleBody =
    s"""d AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(0, len(toks)-2),
       |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
       |    ELSE [] END AS sh
       |  FROM d)""".stripMargin

  private val duckShingleCte = "WITH " + duckShingleBody

  private def duckMinhash(seed: Int): String =
    s"list_min(list_transform(sh, x -> md5('$seed:' || x)))"

  /** CTE chain (continues after the shingle body) through the LSH
    * candidate `pairs` — shared verbatim by q43 and q47 so the dedup
    * decision is gated over exactly the pair set q43 gates.
    */
  private val duckLshPairsBody: String = {
    val sigs = (0 until NumHashes)
      .map(i => s"  ${duckMinhash(i)} AS m$i").mkString(",\n")
    val bandCases = (0 until Bands).map { b =>
      val parts = (0 until Rows).map(r => s"m${b * Rows + r}")
        .mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts)"
    }.mkString(" ")
    s"""sig AS (SELECT doc_id,
       |$sigs
       |FROM s),
       |buckets AS (
       |  SELECT doc_id, b.band,
       |    CASE b.band $bandCases END AS bsig
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $Bands)) AS band) b),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
       |    COUNT(*) AS n_shared_bands
       |  FROM buckets a JOIN buckets bb
       |    ON a.band = bb.band AND a.bsig = bb.bsig
       |    AND a.doc_id < bb.doc_id
       |  WHERE a.bsig IS NOT NULL
       |  GROUP BY a.doc_id, bb.doc_id)""".stripMargin
  }

  override val queries: Seq[Q] = Seq(

    Q("q40_dedup_exact",
      (s, dir) => Dedup.exact(
          Tables.load(s, dir, "documents"), col("doc_id"), md5(col("text")))
        .orderBy(col("content_hash")),
      Some("""SELECT md5(text) AS content_hash,
             |  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
             |  COUNT(*) AS n_copies
             |FROM documents GROUP BY md5(text)
             |ORDER BY content_hash""".stripMargin)),

    // near-dup-robust exact dedup: fingerprint = sorted distinct tokens
    Q("q41_dedup_fingerprint",
      (s, dir) => Dedup.exact(
          Tables.load(s, dir, "documents"), col("doc_id"),
          fingerprint(col("text")))
        .filter(col("n_copies") > 1)
        .orderBy(col("content_hash")),
      Some(s"""SELECT fp AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
              |  COUNT(*) AS n_copies
              |FROM (SELECT doc_id,
              |  md5(array_to_string(list_sort(list_distinct(
              |    regexp_split_to_array(trim(lower(text)),
              |      '${graft.functions.TextFunctions.wsClass}+'))), ' ')) AS fp
              |  FROM documents) t
              |GROUP BY fp HAVING COUNT(*) > 1
              |ORDER BY content_hash""".stripMargin)),

    Q("q42_minhash_signatures",
      (s, dir) => Dedup.minhashSignatures(
          Tables.load(s, dir, "documents"),
          col("doc_id"), col("text"), NumHashes)
        .orderBy(col("doc_id")),
      Some {
        val sigs = (0 until NumHashes)
          .map(i => s"  ${duckMinhash(i)} AS m$i").mkString(",\n")
        s"""$duckShingleCte
           |SELECT doc_id,
           |$sigs
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    Q("q43_minhash_lsh_pairs",
      (s, dir) => Dedup.minhashCandidates(
          Tables.load(s, dir, "documents"),
          col("doc_id"), col("text"), NumHashes, Bands)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""$duckShingleCte,
              |$duckLshPairsBody
              |SELECT doc_a, doc_b, n_shared_bands FROM pairs
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // The dedup DECISION: LSH candidate pairs form a graph; each doc
    // labels itself with the min reachable doc_id (its component) and
    // the min itself survives. Spark converges by star contraction
    // (O(log n) rounds whatever the component diameter); the oracle
    // reaches the SAME canonical fixpoint via a recursive CTE —
    // convergence-order independence is what makes an iterative graph
    // algorithm hash-checkable across engines.
    Q("q47_dedup_components",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pairs = Dedup.minhashCandidates(
          d, col("doc_id"), col("text"), NumHashes, Bands)
        Dedup.connectedComponentsStar(
            d, col("doc_id"), pairs, col("doc_a"), col("doc_b"))
          .select(col("v").as("doc_id"), col("component"),
            (col("v") === col("component")).as("survivor"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $duckShingleBody,
              |$duckLshPairsBody,
              |edges AS (
              |  SELECT doc_a AS src, doc_b AS dst FROM pairs
              |  UNION
              |  SELECT doc_b, doc_a FROM pairs),
              |walk(v, l) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.dst, w.l FROM walk w JOIN edges e ON e.src = w.v)
              |SELECT v AS doc_id, MIN(l) AS component,
              |  (v = MIN(l)) AS survivor
              |FROM walk GROUP BY v ORDER BY doc_id""".stripMargin),
      bench = false), // iterative fixpoint: rounds x per-action floor
                      // is pure scheduling noise at bench scale — an
                      // offline index-build-style step, like q54

    // Incremental dedup: the day's batch (doc_id % 10 = 0) adjudicated
    // against the standing corpus WITHOUT re-deduplicating the corpus —
    // batch buckets broadcast into the index probe (corpus side is a
    // zero-shuffle map scan), first-wins ordering within the batch.
    // Oracle rebuilds the same verdicts from the shared bucket CTE.
    Q("q109_incremental_dedup",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Dedup.incrementalDedup(
            d.filter(col("doc_id") % 10 =!= 0),
            d.filter(col("doc_id") % 10 === 0),
            col("doc_id"), col("text"), NumHashes, Bands)
          .orderBy(col("doc_id"))
      },
      Some(s"""$duckShingleCte,
              |$duckLshPairsBody,
              |base_hits AS (
              |  SELECT d.doc_id, MIN(b.doc_id) AS base_match
              |  FROM buckets d JOIN buckets b
              |    ON d.band = b.band AND d.bsig = b.bsig
              |  WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
              |    AND d.bsig IS NOT NULL
              |  GROUP BY d.doc_id),
              |delta_hits AS (
              |  SELECT d.doc_id, MIN(e.doc_id) AS delta_match
              |  FROM buckets d JOIN buckets e
              |    ON d.band = e.band AND d.bsig = e.bsig
              |    AND e.doc_id < d.doc_id
              |  WHERE d.doc_id % 10 = 0 AND e.doc_id % 10 = 0
              |    AND d.bsig IS NOT NULL
              |  GROUP BY d.doc_id)
              |SELECT dd.doc_id, h.base_match, e.delta_match,
              |  (h.base_match IS NULL AND e.delta_match IS NULL) AS is_new
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) dd
              |LEFT JOIN base_hits h ON dd.doc_id = h.doc_id
              |LEFT JOIN delta_hits e ON dd.doc_id = e.doc_id
              |ORDER BY dd.doc_id""".stripMargin)),

    // Deterministic content-addressed sampling: a row's fate is a pure
    // function of md5(doc_id) — reproducible on any engine or cluster
    // size, and raising the rate only ADDS rows (never swaps them)
    Q("q48_hash_sample",
      (s, dir) => Sampling.hashSample(
          Tables.load(s, dir, "documents"), col("doc_id"), 26)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
             |ORDER BY doc_id""".stripMargin)),

    // Stratified curation: per-language sampling rates in one
    // map-side CASE (en downsampled to ~5%, the rest ~20%)
    Q("q49_stratified_sample",
      (s, dir) => Sampling.stratifiedHashSample(
          Tables.load(s, dir, "documents"), col("doc_id"), col("lang"),
          rates256 = Seq("en" -> 13), default256 = 52)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(*) AS n_sampled,
             |  CAST(MIN(doc_id) AS BIGINT) AS first_id
             |FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
             |  < (CASE WHEN lang = 'en' THEN '0d' ELSE '34' END)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Deterministic WEIGHTED Bernoulli sample: keep probability
    // proportional to l_quantity (the quality-score-proportional
    // curation sampler) — avg kept quantity lands well above the
    // corpus average, which the gated result shows. Map-side only.
    Q("q100_weighted_sample",
      (s, dir) => Sampling.weightedHashSample(
          Tables.load(s, dir, "lineitem"),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          col("l_quantity"), weightScale = 500)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
             round(Catalog.davgCol(col("l_quantity")), 6)
               .as("avg_kept_qty"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_kept,
              |  ROUND(${Catalog.davg("l_quantity")}, 6) AS avg_kept_qty
              |FROM lineitem
              |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
              |    || CAST(l_linenumber AS VARCHAR)), 1, 4)
              |  < lpad(lower(hex(LEAST(
              |      CAST(FLOOR(l_quantity * 65536 / 500) AS BIGINT),
              |      65535))), 4, '0')
              |GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    Q("q44_simhash",
      (s, dir) => Dedup.simhashFingerprints(
          Tables.load(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
      Some {
        val nib = (i: Int) =>
          s"(instr('0123456789abcdef', substr(md5(t), $i, 1)) - 1)"
        val h16 = s"((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}))"
        val bits = (0 until 16).map { j =>
          val pow = 1 << j
          s"CASE WHEN 2 * len(list_filter(hs, h -> CAST(FLOOR(h / $pow.0) AS INT) % 2 = 1)) > len(hs) THEN ${1 << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH d AS (SELECT doc_id,
           |  list_transform($duckToks, t -> $h16) AS hs
           |  FROM documents)
           |SELECT doc_id, CAST($bits AS INTEGER) AS simhash
           |FROM d ORDER BY doc_id""".stripMargin
      }),

    // Size-DERIVED length-band width (BlockDials.lengthBucketWidth):
    // with the round-14 fixed width 500 the in-block candidate volume
    // grew quadratically (sf10: 186 s, 4.6 B result rows). The dial —
    // ceil(n/1250) equal-width n_chars bands over [0, max] — is part
    // of the declared semantics: the oracle derives the identical
    // width from the identical stats in its params CTE, so the hash
    // gate still applies at every sf where DuckDB completes.
    Q("q45_jaccard_pairs",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // r21: dial stats off the parquet footers (zero Spark jobs)
        // instead of a count+max agg job — same values by format
        // contract, same oracle params CTE
        val (n, mx) = Tables.statsCountMax(s, dir, "documents", "n_chars")
        val w = BlockDials.lengthBucketWidth(n, mx)
        Dedup.jaccardPairs(d, col("doc_id"), col("text"),
            blockKeys = Seq(col("lang"),
              floor(col("n_chars") / w.toDouble).cast("int")),
            threshold = 0.8)
          .withColumn("jaccard", round(col("jaccard"), 6))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH stats AS (
              |  SELECT COUNT(*) AS n, MAX(n_chars) AS mx FROM documents),
              |params AS (
              |  SELECT GREATEST(1, CAST(CEIL((mx + 1) /
              |    CEIL(n / 1250.0)) AS BIGINT)) AS w FROM stats),
              |d AS (SELECT doc_id, lang,
              |  CAST(FLOOR(n_chars / w) AS INT) AS bk,
              |  list_distinct($duckToks) AS toks
              |  FROM documents CROSS JOIN params),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
              |      / CAST(len(a.toks) + len(b.toks)
              |        - len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
              |      AS jaccard
              |  FROM d a JOIN d b
              |    ON a.lang = b.lang AND a.bk = b.bk AND a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
              |FROM pairs WHERE jaccard >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // Asymmetric containment dedup (the quote/embedded-copy case
    // Jaccard misses): smaller doc >= 90% token-contained in a larger
    // one. Spark candidates come from SSJoin/PPJoin prefix filtering
    // on rarity-ordered tokens (no length blocking — the sides differ
    // in size BY DESIGN); the oracle brute-forces all ordered pairs,
    // so the hash-match proves the prefix filter loses nothing.
    // Aggregated per contained doc: pair volume is the intermediate,
    // the operator's answer is "which docs are somebody's substring".
    Q("q115_containment_dedup",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Dedup.containmentPairs(d, col("doc_id"), col("text"),
            threshold = 0.9)
          .groupBy(col("doc_small"))
          .agg(count(lit(1)).as("n_containers"),
            round(max(col("containment")), 6).as("best_containment"),
            min(col("doc_big")).as("first_container"))
          .orderBy(col("doc_small"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |    list_distinct($duckToks) AS toks FROM documents),
              |nz AS (SELECT doc_id, toks, len(toks) AS n
              |  FROM d WHERE len(toks) > 0),
              |pairs AS (
              |  SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
              |    CAST(len(list_filter(a.toks,
              |        t -> list_contains(b.toks, t))) AS DOUBLE)
              |      / a.n AS containment
              |  FROM nz a JOIN nz b
              |    ON a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
              |SELECT doc_small,
              |  CAST(COUNT(*) AS BIGINT) AS n_containers,
              |  ROUND(MAX(containment), 6) AS best_containment,
              |  MIN(doc_big) AS first_container
              |FROM pairs WHERE containment >= 0.9
              |GROUP BY doc_small
              |ORDER BY doc_small""".stripMargin)),

    // INCREMENTAL containment dedup — the form q115's own Θ(n²/V)
    // root-cause prescribes at corpus scale: the day's batch
    // (doc_id % 10 = 0) probes a standing rarity-prefix postings
    // index of the corpus, both orientations, without ever
    // re-enumerating corpus×corpus. The oracle brute-forces every
    // batch×corpus ordered pair, so the hash-match proves the frozen
    // corpus-df prefix filter loses nothing.
    Q("q126_containment_probe_incremental",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // index path keyed by the input dir so concurrent gates never
        // race on one directory (same contract as q122's IVF index)
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_))
          .mkString.take(12)
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_q126_containment_index_$tag").getAbsolutePath
        Dedup.writeContainmentIndex(
          d.filter(col("doc_id") % 10 =!= 0), col("doc_id"),
          col("text"), path)
        Dedup.containmentProbeIncremental(
            Dedup.readContainmentIndex(s, path),
            d.filter(col("doc_id") % 10 === 0),
            col("doc_id"), col("text"), threshold = 0.9)
          .select(col("doc_small"), col("doc_big"),
            round(col("containment"), 6).as("containment"))
          .orderBy(col("doc_small"), col("doc_big"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |    list_distinct($duckToks) AS toks FROM documents),
              |nz AS (SELECT doc_id, toks, len(toks) AS n
              |  FROM d WHERE len(toks) > 0),
              |pairs AS (
              |  SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
              |    CAST(len(list_filter(a.toks,
              |        t -> list_contains(b.toks, t))) AS DOUBLE)
              |      / a.n AS containment
              |  FROM nz a JOIN nz b
              |    ON (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
              |   AND ((a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0)))
              |SELECT doc_small, doc_big,
              |  ROUND(containment, 6) AS containment
              |FROM pairs WHERE containment >= 0.9
              |ORDER BY doc_small, doc_big""".stripMargin),
      bench = false), // dominated by the one-time index build; the
                      // probe-vs-batch speedup is measured in PLANS.md

    // Span-level duplicate statistics: exact-substring dedup at fixed
    // window granularity (Lee et al. 2022) — every sliding 8-token
    // window is hashed POSITIONALLY (within-doc repeats count), a
    // window is duplicated when its hash occurs more than once
    // corpus-wide, and each doc reports its duplicated-span share.
    // Linear in corpus size by construction (no pair table): one
    // map-side-combinable count on the window hash + a join back.
    Q("q129_dup_span_windows",
      (s, dir) => Dedup.dupSpanStats(
          Tables.load(s, dir, "documents"),
          col("doc_id"), col("text"), windowLen = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |w AS (SELECT doc_id,
              |  CASE WHEN len(toks) >= 8
              |    THEN list_transform(range(0, len(toks)-7),
              |           i -> md5(array_to_string(
              |             list_slice(toks, i+1, i+8), ' ')))
              |    ELSE [] END AS ws
              |  FROM d),
              |e AS (SELECT doc_id,
              |  unnest(CASE WHEN len(ws) = 0
              |    THEN [CAST(NULL AS VARCHAR)] ELSE ws END) AS whash
              |  FROM w),
              |c AS (SELECT whash, COUNT(*) AS occ FROM e
              |  WHERE whash IS NOT NULL GROUP BY 1)
              |SELECT e.doc_id,
              |  CAST(COUNT(whash) AS BIGINT) AS n_windows,
              |  CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS BIGINT)
              |    AS n_dup_windows,
              |  CASE WHEN COUNT(whash) > 0 THEN
              |    ROUND(CAST(COUNT(CASE WHEN occ > 1 THEN 1 END)
              |      AS DOUBLE) / COUNT(whash), 9) END AS dup_ratio
              |FROM e LEFT JOIN c USING (whash)
              |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin))
  )
}
