package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis surface over the `documents` table: tokenization,
  * quality ratios, language ID, fingerprinting, shingling. All pure
  * map-side column expressions — at 100 TB these are a single scan.
  *
  * Oracle mirrors are generated from the same Scala constants (stopword
  * sets, regexes) so the two engines cannot drift.
  */
object TextQueries extends Catalog {

  /** DuckDB token array for `text` (mirror of TextFunctions.tokens,
    * same explicit whitespace class). */
  private val ws = graft.functions.TextFunctions.wsClass
  private val duckToks = s"regexp_split_to_array(trim(text), '$ws+')"
  private val duckToksLower =
    s"regexp_split_to_array(trim(lower(text)), '$ws+')"

  private def duckHits(set: Seq[String]): String = {
    val in = set.map(s => s"'$s'").mkString(", ")
    s"len(list_filter($duckToksLower, t -> t IN ($in)))"
  }

  override val queries: Seq[Q] = Seq(

    Q("q30_text_tokens",
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          round(avgTokenLenOf(col("toks")), 6).as("avg_token_len"),
          fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(len($duckToks) AS INTEGER) AS n_tokens,
              |  CAST(len(list_distinct($duckToks)) AS INTEGER) AS n_distinct,
              |  ROUND(CAST(len(array_to_string($duckToks, '')) AS DOUBLE)
              |        / len($duckToks), 6) AS avg_token_len,
              |  md5(array_to_string(list_sort(list_distinct($duckToksLower)), ' ')) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q31_text_quality",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
          (col("n_chars") >= 100 && tokenCount(col("text")) >= 20)
            .as("len_ok"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS DOUBLE)
              |        / length(text), 6) AS punct_ratio,
              |  ROUND(CAST(${duckHits(stopwords("en"))} AS DOUBLE)
              |        / len($duckToks), 6) AS stopword_ratio,
              |  (n_chars >= 100 AND len($duckToks) >= 20) AS len_ok
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q32_lang_id",
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("ltoks", tokens(lower(col("text"))))
        .select(
          col("doc_id"),
          langIdOf(col("ltoks")).as("lang_pred"),
          stopwordHitsOf(col("ltoks"), stopwords("en")).as("score_en"),
          stopwordHitsOf(col("ltoks"), stopwords("es")).as("score_es"))
        .orderBy(col("doc_id")),
      Some {
        val order = Seq("en", "es", "fr", "de", "pt")
        val scores = order.map(l => s"${duckHits(stopwords(l))}")
        val best = s"greatest(${scores.mkString(", ")})"
        val cases = order.zip(scores).map { case (l, sc) =>
          s"WHEN $sc = $best AND $best > 0 THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id,
           |  CASE $cases ELSE 'und' END AS lang_pred,
           |  CAST(${duckHits(stopwords("en"))} AS INTEGER) AS score_en,
           |  CAST(${duckHits(stopwords("es"))} AS INTEGER) AS score_es
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    Q("q33_shingles",
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("sh", shingles(col("text"), 3))
        .select(
          col("doc_id"),
          size(col("sh")).as("n_shingles"),
          size(array_distinct(col("sh"))).as("n_distinct_shingles"),
          array_min(col("sh")).as("min_shingle"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |s AS (SELECT doc_id,
              |  CASE WHEN len(toks) >= 3
              |    THEN list_transform(range(0, len(toks)-2),
              |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
              |    ELSE [] END AS sh
              |  FROM d)
              |SELECT doc_id,
              |  CAST(len(sh) AS INTEGER) AS n_shingles,
              |  CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct_shingles,
              |  list_min(sh) AS min_shingle
              |FROM s ORDER BY doc_id""".stripMargin)),

    // Gopher-style quality filter: keep flag + violated-rule bitmask
    Q("q39_quality_filter",
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("reason_mask", qualityMask(col("text")))
        .select(col("doc_id"), col("reason_mask"),
                (col("reason_mask") === 0).as("keep"))
        .orderBy(col("doc_id")),
      Some {
        val n = s"len($duckToks)"
        val avgLen = s"(CASE WHEN $n > 0 THEN CAST(len(array_to_string($duckToks, '')) AS DOUBLE) / $n ELSE 0.0 END)"
        val symRatio = s"""(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END)"""
        val distinctRatio = s"(CASE WHEN $n > 0 THEN CAST(len(list_distinct($duckToks)) AS DOUBLE) / $n ELSE 0.0 END)"
        val hits = duckHits(stopwords("en"))
        s"""WITH m AS (SELECT doc_id,
           |  CAST((CASE WHEN $n < 50 OR $n > 100000 THEN 1 ELSE 0 END)
           |   + (CASE WHEN $avgLen < 3.0 OR $avgLen > 10.0 THEN 2 ELSE 0 END)
           |   + (CASE WHEN $symRatio > 0.1 THEN 4 ELSE 0 END)
           |   + (CASE WHEN $hits = 0 THEN 8 ELSE 0 END)
           |   + (CASE WHEN $distinctRatio < 0.2 THEN 16 ELSE 0 END)
           |   AS INTEGER) AS reason_mask
           |  FROM documents)
           |SELECT doc_id, reason_mask, reason_mask = 0 AS keep
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // subword-ish token counting (LLM token budgeting proxy)
    Q("q36_bpe_tokens",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          bpeTokenCount(col("text")).as("n_bpe_tokens"),
          tokenCount(col("text")).as("n_ws_tokens"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(len(regexp_extract_all(text,
              |    '${bpeTokenPattern.replace("'", "''")}')) AS INTEGER)
              |    AS n_bpe_tokens,
              |  CAST(len($duckToks) AS INTEGER) AS n_ws_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // multimodal plumbing tier-0: opaque binary payload + typed metadata
    Q("q70_binary_meta",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text").cast("binary")).as("n_bytes"),
          md5(col("text")).as("content_md5"),
          substring(col("text"), 1, 8).as("head8"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
             |  md5(text) AS content_md5,
             |  substring(text, 1, 8) AS head8
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII scrubbing over a deterministically PII-augmented text: the
    // synthetic docs contain no PII, so both engines append the SAME
    // doc_id-derived email/IP/phone before scrubbing — the redaction
    // regexes are genuinely exercised and the scrubbed md5 must match
    Q("q71_pii_scrub",
      (s, dir) => {
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"),
          lit(" call +1 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199"))
        Tables.load(s, dir, "documents")
          .withColumn("aug", aug)
          .select(
            col("doc_id"),
            patternCount(col("aug"), emailPattern).as("n_emails"),
            patternCount(col("aug"), ipv4Pattern).as("n_ips"),
            patternCount(col("aug"), phonePattern).as("n_phones"),
            md5(scrubPii(col("aug"))).as("scrubbed_md5"))
          .orderBy(col("doc_id"))
      },
      Some {
        val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
          " || '@mail.example.com from 10.'" +
          " || CAST(doc_id % 256 AS VARCHAR) || '.0.'" +
          " || CAST(doc_id % 100 AS VARCHAR)" +
          " || ' call +1 555-'" +
          " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'"
        s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(aug, '$emailPattern')) AS INTEGER) AS n_emails,
           |  CAST(len(regexp_extract_all(aug, '$ipv4Pattern')) AS INTEGER) AS n_ips,
           |  CAST(len(regexp_extract_all(aug, '$phonePattern')) AS INTEGER) AS n_phones,
           |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
           |    '$emailPattern', '<EMAIL>', 'g'),
           |    '$ipv4Pattern', '<IP>', 'g'),
           |    '$phonePattern', '<PHONE>', 'g')) AS scrubbed_md5
           |FROM a ORDER BY doc_id""".stripMargin
      }),

    // Repetition signals (Gopher duplicate-n-gram rules): fraction of
    // repeated 2-/3-grams + the hottest bigram's count, keep flag
    Q("q72_repetition",
      (s, dir) => Tables.load(s, dir, "documents")
        // mirror the oracle's WITH d/s staging: tokenize once, shingle
        // once, derive every output from the staged arrays — the
        // evaluate-once rule in the TextFunctions scaladoc
        .withColumn("toks", tokens(col("text")))
        .withColumn("sh2", shinglesOf(col("toks"), 2))
        .withColumn("sh3", shinglesOf(col("toks"), 3))
        .select(
          col("doc_id"),
          size(col("sh2")).as("n_2grams"),
          round(dupFractionOf(col("sh2")), 6).as("dup2_frac"),
          round(dupFractionOf(col("sh3")), 6).as("dup3_frac"),
          topCountOf(col("sh2")).as("top2_count"),
          (dupFractionOf(col("sh2")) <= 0.6).as("keep"))
        .orderBy(col("doc_id")),
      Some {
        def sh(n: Int) =
          s"""(CASE WHEN len(toks) >= $n
             |  THEN list_transform(range(0, len(toks)-${n - 1}),
             |         i -> array_to_string(list_slice(toks, i+1, i+$n), ' '))
             |  ELSE [] END)""".stripMargin
        def dupFrac(col: String) =
          s"(CASE WHEN len($col) > 0 THEN 1.0 - CAST(len(list_distinct($col)) AS DOUBLE) / len($col) ELSE 0.0 END)"
        s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |s AS (SELECT doc_id, ${sh(2)} AS sh2, ${sh(3)} AS sh3 FROM d)
           |SELECT doc_id,
           |  CAST(len(sh2) AS INTEGER) AS n_2grams,
           |  ROUND(${dupFrac("sh2")}, 6) AS dup2_frac,
           |  ROUND(${dupFrac("sh3")}, 6) AS dup3_frac,
           |  CAST((CASE WHEN len(sh2) > 0
           |    THEN list_max(list_transform(list_distinct(sh2),
           |           t -> len(list_filter(sh2, x -> x = t))))
           |    ELSE 0 END) AS INTEGER) AS top2_count,
           |  ${dupFrac("sh2")} <= 0.6 AS keep
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    // TF-IDF keyword extraction: rational log-free idf (n/df) so the
    // score itself hash-matches across engines (ln is not ulp-stable)
    Q("q69_tfidf_topterms",
      (s, dir) => graft.operators.TfIdf.topTerms(
          Tables.load(s, dir, "documents"), col("doc_id"), col("text"), 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
              |tf AS (
              |  SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
              |wl AS (
              |  SELECT doc_id, term, cnt,
              |    SUM(cnt) OVER (PARTITION BY doc_id) AS len FROM tf),
              |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents),
              |scored AS (
              |  SELECT w.doc_id, w.term,
              |    ROUND((CAST(w.cnt AS DOUBLE) / CAST(w.len AS DOUBLE))
              |      * (CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 9)
              |      AS tfidf
              |  FROM wl w JOIN dfq d USING (term) CROSS JOIN n),
              |ranked AS (
              |  SELECT doc_id, term, tfidf,
              |    CAST(row_number() OVER (PARTITION BY doc_id
              |      ORDER BY tfidf DESC, term) AS INTEGER) AS rank
              |  FROM scored)
              |SELECT doc_id, term, tfidf, rank FROM ranked
              |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Benchmark decontamination: per corpus doc, distinct-trigram
    // overlap with a held-out eval set (doc_id % 50 == 0 stands in
    // for the benchmark suite). Eval n-gram hashes are broadcast; the
    // corpus is one scan and never shuffles on the n-gram key.
    Q("q83_decontam",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.Decontaminate.overlap(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |s AS (SELECT doc_id,
              |  list_distinct(CASE WHEN len(toks) >= 3
              |    THEN list_transform(range(0, len(toks)-2),
              |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
              |    ELSE [] END) AS dg
              |  FROM d),
              |e AS (SELECT DISTINCT md5(g) AS egram FROM (
              |  SELECT unnest(dg) AS g FROM s WHERE doc_id % 50 = 0)),
              |c AS (SELECT doc_id, md5(g) AS cgram FROM (
              |  SELECT doc_id,
              |    unnest(CASE WHEN len(dg) = 0 THEN [NULL] ELSE dg END) AS g
              |  FROM s WHERE doc_id % 50 <> 0))
              |SELECT c.doc_id, COUNT(cgram) AS n_grams,
              |  COUNT(egram) AS n_hits, COUNT(egram) > 0 AS contaminated
              |FROM c LEFT JOIN e ON cgram = egram
              |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin)),

    // Unigram-LM familiarity scoring (log-free; see UnigramLm docs):
    // exact-rational mean token frequency + scale-invariant rare count
    Q("q84_unigram_lm",
      (s, dir) => graft.operators.UnigramLm.score(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest($duckToksLower) AS term FROM documents),
              |v AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1),
              |st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
              |  COUNT(*) AS n_vocab FROM v),
              |v2 AS (SELECT term, cnt,
              |  (cnt * n_vocab * 4 < total) AS rare, total
              |  FROM v CROSS JOIN st),
              |p AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |  CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
              |  CAST(SUM(CASE WHEN rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
              |  MIN(total) AS total
              |  FROM t JOIN v2 USING (term) GROUP BY 1)
              |SELECT doc_id, n_tokens, sum_cnt, n_rare,
              |  ROUND(CAST(sum_cnt AS DOUBLE) / (total * n_tokens), 9)
              |    AS avg_freq
              |FROM p ORDER BY doc_id""".stripMargin)),

    // Document-length histogram: fixed 200-char buckets (capped at
    // 10), share of corpus per bucket — the at-a-glance length
    // distribution every curation pass starts from. Pure single
    // groupBy; the tiny post-agg window costs nothing.
    Q("q85_doc_length_hist",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.load(s, dir, "documents")
          .groupBy(least(floor(col("n_chars") / lit(200.0)), lit(10))
            .cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
               min(col("n_chars")).as("min_chars"),
               max(col("n_chars")).as("max_chars"))
          .withColumn("share", round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(Window.partitionBy()), 6))
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (SELECT
             |  CAST(LEAST(CAST(FLOOR(n_chars / 200.0) AS BIGINT), 10)
             |    AS INTEGER) AS bucket,
             |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
             |  MAX(n_chars) AS max_chars
             |  FROM documents GROUP BY 1)
             |SELECT bucket, n_docs, min_chars, max_chars,
             |  ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6)
             |    AS share
             |FROM b ORDER BY bucket""".stripMargin)),

    // Token co-occurrence lift (log-free PMI): how much more often
    // two tokens share a document than independence predicts,
    // lift = n_docs * df(a,b) / (df(a) * df(b)). Pairs are generated
    // IN-EXPRESSION (TokenPairs, one pass per doc over the sorted
    // distinct tokens) and exploded straight into the (t1, t2) count
    // — the per-doc self-join this replaces paid a doc_id exchange,
    // a join, and a checkpointed exploded table for the same rows;
    // here the only shuffles are map-side-combined groupBys, and the
    // corpus is scanned twice from parquet (cheaper than
    // materializing the 30x-larger exploded form once). Support
    // floor df(a,b) >= 20 keeps degenerate rare-pair lifts out.
    Q("q99_cooccurrence",
      (s, dir) => {
        import graft.functions.expressions.TokenPairs.tokenPairs
        // ONE tokenize pass: the compact (doc_id, toks) ARRAY table is
        // lazily checkpointed (30x smaller than checkpointing the
        // exploded rows) and both consumers explode from the cached
        // arrays — regexp tokenization is the expensive part and runs
        // once (the q84 lesson)
        val docs = Tables.load(s, dir, "documents")
        val tokTable = docs
          .select(array_distinct(tokens(lower(col("text")))).as("toks"))
          .localCheckpoint(eager = false)
        val df_ = tokTable.select(explode(col("toks")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val pairs = tokTable
          .select(explode(tokenPairs(col("toks"))).as("p"))
          .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 20)
        // the df enrichments are VOCABULARY-sized: joined under AQE's
        // runtime size gate, not a forced broadcast hint — at web
        // scale the distinct-term table is billions of rows and a
        // forced hint dies at the broadcast limit instead of
        // degrading to a shuffle join (nDocs stays hinted: one row
        // by construction)
        pairs
          .join(df_.select(col("t").as("t1"),
            col("df").as("df1")), Seq("t1"))
          .join(df_.select(col("t").as("t2"),
            col("df").as("df2")), Seq("t2"))
          .crossJoin(broadcast(nDocs))
          .select(col("t1"), col("t2"), col("c_ab"),
            // double BEFORE the multiplies (mirroring the oracle's
            // CAST(df AS DOUBLE)): at 100 TB scale n_docs*c_ab and
            // df1*df2 overflow Long silently
            round(col("n_docs").cast("double") * col("c_ab")
              / (col("df1").cast("double") * col("df2")), 9).as("lift"))
          .orderBy(col("lift").desc, col("t1"), col("t2"))
          .limit(20)
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest($duckToksLower) AS t
              |  FROM documents),
              |dfq AS (SELECT t, COUNT(*) AS df FROM t GROUP BY 1),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents),
              |p AS (
              |  SELECT a.t AS t1, b.t AS t2, COUNT(*) AS c_ab
              |  FROM t a JOIN t b
              |    ON a.doc_id = b.doc_id AND a.t < b.t
              |  GROUP BY 1, 2 HAVING COUNT(*) >= 20)
              |SELECT t1, t2, c_ab,
              |  ROUND(n.n_docs * c_ab
              |    / (CAST(d1.df AS DOUBLE) * d2.df), 9) AS lift
              |FROM p
              |JOIN dfq d1 ON p.t1 = d1.t
              |JOIN dfq d2 ON p.t2 = d2.t
              |CROSS JOIN n
              |ORDER BY lift DESC, t1, t2 LIMIT 20""".stripMargin)),

    // Bloom-filter decontamination: q83's scale path for when the
    // eval-set n-gram hash set outgrows a broadcast. Each distinct
    // eval trigram md5 sets 2 bit positions (independent 8-hex-char
    // slices of the hash, mod 65536); a corpus gram bloom-hits when
    // BOTH its positions are set. The filter is deterministic
    // arithmetic over md5 hex, so the oracle replays it bit-for-bit —
    // false positives and all. Can only over-flag relative to q83
    // (no false negatives; law pinned in TrainingDataOpsSpec); the
    // joined side is the distinct set-bit table, bounded by mBits
    // rows no matter how large the eval suite grows.
    Q("q128_bloom_decontam",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.Decontaminate.bloomOverlap(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 3, mBits = 65536, numHashes = 2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |s AS (SELECT doc_id,
              |  list_distinct(CASE WHEN len(toks) >= 3
              |    THEN list_transform(range(0, len(toks)-2),
              |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
              |    ELSE [] END) AS dg
              |  FROM d),
              |bits AS (SELECT DISTINCT
              |    CAST('0x' || substr(md5(g), 1 + 8*j, 8) AS BIGINT)
              |      % 65536 AS bit
              |  FROM (SELECT unnest(dg) AS g FROM s WHERE doc_id % 50 = 0)
              |  CROSS JOIN (SELECT unnest([0, 1]) AS j)),
              |c AS (SELECT doc_id,
              |  unnest(CASE WHEN len(dg) = 0
              |    THEN [CAST(NULL AS VARCHAR)] ELSE dg END) AS g
              |  FROM s WHERE doc_id % 50 <> 0),
              |cp AS (SELECT doc_id, g,
              |  CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 65536 AS p0,
              |  CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) % 65536 AS p1
              |  FROM c)
              |SELECT doc_id,
              |  CAST(COUNT(g) AS BIGINT) AS n_grams,
              |  CAST(COUNT(CASE WHEN b0.bit IS NOT NULL
              |    AND b1.bit IS NOT NULL THEN 1 END) AS BIGINT)
              |    AS n_bloom_hits,
              |  COUNT(CASE WHEN b0.bit IS NOT NULL
              |    AND b1.bit IS NOT NULL THEN 1 END) > 0 AS bloom_flagged
              |FROM cp
              |LEFT JOIN bits b0 ON cp.p0 = b0.bit
              |LEFT JOIN bits b1 ON cp.p1 = b1.bit
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
