package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.etl.CidEtl
import graft.functions.CidFunctions._
import graft.operators.{Dedup, PriorityDedup, RangeJoin}
import graft.sinks.BomCsvSink

/** Property-based checks from SURVEY.md §5's test plan: F1 idempotence,
  * F2 prefix-of-F1, W1 survivor invariants, U1+W1 row-count bounds,
  * J3 containment, S5 dissolved in dir mode.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Drive a generator N times (scalatestplus isn't on the offline
    * classpath, so sampling is explicit). */
  private def forAllSamples[A](gen: Gen[A], n: Int = 15)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  private val codeGen: Gen[String] = for {
    letter <- Gen.alphaUpperChar
    digits <- Gen.choose(0, 99)
    dot <- Gen.oneOf("", f".$digits%02d".take(2))
    pad <- Gen.oneOf("", " ", "  ")
    lower <- Gen.oneOf(true, false)
  } yield {
    val s = f"$letter$digits%02d$dot"
    pad + (if (lower) s.toLowerCase else s) + pad
  }

  test("F1 normalizeCode is idempotent; F2 output is a prefix of F1 output") {
    forAllSamples(Gen.listOfN(30, codeGen)) { codes =>
      if (codes.nonEmpty) {
        val rows = codes.toDF("c").select(
          normalizeCode($"c").as("n1"),
          normalizeCode(normalizeCode($"c")).as("n2"),
          extractRootCategory($"c").as("root"))
          .collect()
        rows.foreach { r =>
          assert(r.getString(0) == r.getString(1)) // idempotent
          assert(r.getString(0).startsWith(r.getString(2))) // root is prefix
          assert(!r.getString(2).contains("."))
        }
      }
    }
  }

  test("W1: output keys distinct, survivor has max priority per key") {
    val rowGen = for {
      key <- Gen.choose(0, 8)
      fonte <- Gen.oneOf("Estruturada", "DATASUS")
      id <- Gen.choose(0, 1000)
    } yield (s"K$key", fonte, id)
    forAllSamples(Gen.listOfN(60, rowGen)) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("code", "fonte", "id")
        val out = PriorityDedup(df, Seq("code"),
            Seq($"fonte".desc, $"id".asc))
          .as[(String, String, Int)].collect()
        // keys distinct
        assert(out.map(_._1).distinct.length == out.length)
        // exactly the distinct input keys survive (U1+W1 count bound)
        assert(out.map(_._1).toSet == rows.map(_._1).toSet)
        // survivor carries the max fonte for its key
        val maxFonte = rows.groupBy(_._1).map { case (k, rs) =>
          k -> rs.map(_._2).max }
        out.foreach { case (k, f, _) => assert(f == maxFonte(k)) }
      }
    }
  }

  test("J3: every matched row is inside its matched range; " +
       "unmatched rows are outside every range") {
    val ranges = Seq(("A00", "A09", 0L), ("A20", "B50", 1L), ("C00", "C10", 2L))
      .toDF("lo", "hi", "ord")
    forAllSamples(Gen.listOfN(40, codeGen), n = 8) { codes =>
      if (codes.nonEmpty) {
        val items = codes.map(_.trim.toUpperCase).toDF("code")
        val out = RangeJoin.firstMatch(items, ranges, $"code", $"lo", $"hi",
            leftKey = Seq("code"), rangeOrder = $"ord")
          .select($"code", $"lo", $"hi")
          .collect()
        out.foreach { r =>
          val (code, lo, hi) = (r.getString(0), r.getString(1), r.getString(2))
          if (lo != null)
            assert(lo <= code && code <= hi)
          else {
            val inAny = Seq(("A00", "A09"), ("A20", "B50"), ("C00", "C10"))
              .exists { case (l, h) => l <= code && code <= h }
            assert(!inAny)
          }
        }
      }
    }
  }

  test("J3: firstMatchDisjoint equals window firstMatch row for row on " +
       "random overlapping ranges") {
    val key = Gen.choose(0, 30).map(i => f"K$i%02d")
    // ordinary (nested or overlapping), point, inverted and null-bound
    // ranges; an identical copy of the first range is appended below
    val rangeGen: Gen[(String, String)] = Gen.frequency(
      6 -> Gen.zip(key, key).map { case (a, b) => if (a <= b) (a, b) else (b, a) },
      2 -> key.map(k => (k, k)),
      1 -> Gen.zip(key, key).map { case (a, b) => if (a <= b) (b, a) else (a, b) },
      1 -> key.map(k => (k, null)),
      1 -> key.map(k => (null, k)))
    // duplicates, values between bounds ("K07A"), values above every
    // bound and nulls
    val probeGen: Gen[String] = Gen.frequency(
      9 -> Gen.zip(Gen.choose(0, 35), Gen.oneOf("", "A"))
        .map { case (i, sfx) => f"K$i%02d$sfx" },
      1 -> Gen.const(null))
    val caseGen = Gen.zip(Gen.listOfN(12, rangeGen), Gen.listOfN(80, probeGen))
    forAllSamples(caseGen, n = 10) { case (rs, probes) =>
      val ranges = (rs :+ rs.head).zipWithIndex
        .map { case ((lo, hi), i) => (lo, hi, s"r$i", i.toLong) }
        .toDF("lo", "hi", "name", "ord")
      val items = probes.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("id", "code")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"id", $"code", $"name", $"ord")
          .as[(Long, Option[String], Option[String], Option[Long])]
          .collect().sortBy(_._1).toSeq
      val viaWindow = rows(RangeJoin.firstMatch(items, ranges, $"code",
        $"lo", $"hi", leftKey = Seq("id"), rangeOrder = $"ord"))
      val viaPieces = rows(RangeJoin.firstMatchDisjoint(items, ranges,
        $"code", "lo", "hi", "ord"))
      assert(viaPieces == viaWindow)
      assert(viaPieces.length == probes.length)
    }
  }

  private val eventLogGen: Gen[List[(Long, String, Long, Long)]] =
    Gen.listOfN(40, for {
      user <- Gen.choose(1L, 4L)
      st <- Gen.oneOf("A", "B", "C")
      ts <- Gen.choose(0L, 50L)
      id <- Gen.choose(0L, 1000000L)
    } yield (user, st, ts, id)).map(_.distinctBy(_._4))

  test("Scd2: segments tile each key, n_events sum matches, no " +
       "adjacent segments share a state") {
    forAllSamples(eventLogGen, n = 10) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("user_id", "st", "ts", "event_id")
        val out = operators.Scd2
          .collapse(df, "user_id", "st", "ts", "event_id")
          .orderBy("user_id", "seg").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
            r.getLong(5)))
        // per key: counts add up to the log size
        val perKey = out.groupBy(_._1)
        for ((user, segs) <- perKey) {
          val ordered = segs.sortBy(_._2)
          assert(ordered.map(_._6).sum ==
            rows.count(_._1 == user))
          // valid_to == next valid_from, open-ended only on the last
          ordered.sliding(2).foreach {
            case Array(a, b) =>
              assert(a._5.contains(b._4))
              assert(a._3 != b._3) // adjacent segments differ in state
            case _ =>
          }
          assert(ordered.last._5.isEmpty)
        }
      }
    }
  }

  test("TrianglePairs: salted pair generation is exact — chunks=k " +
    "equals the chunks=1 plain block join for every k") {
    // random docs over a tiny vocab in few blocks, so in-block pairs
    // are dense and the chunk decomposition is exercised across block
    // boundaries, same-chunk pairs, and cross-chunk orientations
    val docGen = for {
      n <- Gen.choose(20, 60)
      words <- Gen.listOfN(n, Gen.listOfN(6,
        Gen.oneOf("a b c d e f g h i j".split(" ").toSeq)))
      blocks <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield words.map(_.mkString(" ")).zip(blocks).zipWithIndex
      .map { case ((t, blk), i) => (i.toLong, t, blk) }
    forAllSamples(docGen, n = 5) { docs =>
      val df = docs.toDF("doc_id", "text", "blk")
      def pairs(chunks: Int) =
        graft.operators.Dedup.jaccardPairs(df, $"doc_id", $"text",
            Seq($"blk"), threshold = 0.5, chunks = chunks)
          .select("doc_a", "doc_b").collect().map(r =>
            (r.getLong(0), r.getLong(1))).toSet
      val plain = pairs(1)
      for (k <- Seq(3, 7)) {
        assert(pairs(k) == plain,
          s"chunks=$k pair set diverged from the unsalted join")
      }
    }
  }

  test("Decontaminate: n_hits <= n_grams; zero-overlap eval set flags nothing") {
    val textGen = Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd"))
      .map(_.mkString(" "))
    forAllSamples(Gen.listOfN(8, textGen), n = 8) { texts =>
      val corpus = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val disjointEval = Seq((99L, "xx yy zz xx yy")).toDF("doc_id", "text")
      val out = operators.Decontaminate
        .overlap(corpus, disjointEval, "doc_id", "text", 3).collect()
      assert(out.length == texts.size)
      out.foreach { r =>
        assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_grams"))
        assert(r.getAs[Long]("n_hits") == 0L) // disjoint vocab
        assert(!r.getAs[Boolean]("contaminated"))
      }
      // self-contamination: using the corpus as the eval set flags
      // every doc with at least one trigram
      val self = operators.Decontaminate
        .overlap(corpus, corpus, "doc_id", "text", 3).collect()
      self.foreach { r =>
        assert((r.getAs[Long]("n_grams") > 0L) ==
          r.getAs[Boolean]("contaminated"))
        if (r.getAs[Long]("n_grams") > 0L)
          assert(r.getAs[Long]("n_hits") == r.getAs[Long]("n_grams"))
      }
    }
  }

  test("bloomOverlap: never under-flags exact overlap, on random " +
      "corpora across the full dial grid") {
    val textGen = Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd"))
      .map(_.mkString(" "))
    val gen = Gen.zip(Gen.listOfN(8, textGen),
      Gen.oneOf(2, 16, 64, 65536), Gen.oneOf(1, 2, 4))
    forAllSamples(gen, n = 8) { case (texts, m, k) =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val corpus = df.filter($"doc_id" < 6)
      val eval_ = df.filter($"doc_id" >= 6)
      val exact = operators.Decontaminate
        .overlap(corpus, eval_, "doc_id", "text", 3)
        .select($"doc_id", $"n_grams", $"n_hits", $"contaminated")
      val bloom = operators.Decontaminate
        .bloomOverlap(corpus, eval_, "doc_id", "text", 3, m, k)
      val j = exact.join(
        bloom.select($"doc_id", $"n_grams".as("gb"),
          $"n_bloom_hits", $"bloom_flagged"), "doc_id").collect()
      assert(j.length == 6)
      j.foreach { r =>
        assert(r.getAs[Long]("n_grams") == r.getAs[Long]("gb"),
          s"gram accounting diverged at m=$m k=$k")
        assert(r.getAs[Long]("n_bloom_hits") >= r.getAs[Long]("n_hits"),
          s"bloom under-counted at m=$m k=$k")
        if (r.getAs[Boolean]("contaminated"))
          assert(r.getAs[Boolean]("bloom_flagged"),
            s"bloom dropped a true flag at m=$m k=$k")
      }
    }
  }

  test("dupSpanStats equals a positional brute force on random corpora") {
    val textGen = Gen.choose(1, 9).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc", "dd"))
        .map(_.mkString(" ")))
    forAllSamples(Gen.listOfN(8, textGen), n = 8) { texts =>
      val W = 3
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = operators.Dedup
        .dupSpanStats(df, $"doc_id", $"text", W)
        .orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // independent recompute: sliding windows as plain strings, a
      // global multiset count, dup = positions whose window occurs >1
      val windows = texts.map(_.trim.split("\\s+").toSeq
        .sliding(W).filter(_.size == W).map(_.mkString(" ")).toSeq)
      val occ = windows.flatten.groupBy(identity).map {
        case (w, xs) => w -> xs.size
      }
      val want = windows.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.size.toLong, ws.count(occ(_) > 1).toLong)
      }
      assert(got.toSeq == want)
    }
  }

  test("token-window expressions equal their built-in compositions on " +
      "random arrays with null and empty elements") {
    import graft.functions.TextFunctions.{minhashHex, shinglesOf}
    import graft.functions.expressions.{ChunkMd5, ShingleMd5, WindowMd5}
    import graft.functions.expressions.CustomExpressions.multiMinHash
    import org.apache.spark.sql.Row
    val tok: Gen[String] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(""),
      6 -> Gen.oneOf("aa", "bb", "cc", "é", "中"))
    val arrays = Gen.listOfN(12, Gen.frequency(
      1 -> Gen.const(null: List[String]),
      6 -> Gen.choose(0, 12).flatMap(len => Gen.listOfN(len, tok))))
    var nullArrays = 0
    forAllSamples(Gen.zip(arrays, Gen.choose(1, 5), Gen.choose(1, 4)),
        n = 10) { case (toks, w, k) =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "toks")
      val t = $"toks"
      val sh = shinglesOf(t, w)
      val empty = array().cast("array<string>")
      // q78's stride form is only defined on non-empty arrays
      // (sequence(0, -1) counts down), so an empty array is guarded
      val chunks = when(size(t) > 0,
        transform(sequence(lit(0), floor((size(t) - 1) / lit(w)).cast("int")),
          i => md5(concat_ws(" ", slice(t, i * w + 1, lit(w))))))
        .otherwise(empty)
      val got = df.select($"id",
        ShingleMd5.shingleMd5(t, w), WindowMd5.windowMd5(t, w),
        ChunkMd5.chunkMd5(t, w), multiMinHash(t, k, w))
        .orderBy($"id").collect().toSeq
      val want = df.select($"id",
        transform(array_distinct(sh), g => md5(g)),
        transform(sh, g => md5(g)),
        chunks,
        array((0 until k).map(s => minhashHex(sh, s)): _*))
        .orderBy($"id").collect().toSeq
      // on a NULL array every expression returns NULL, where the
      // compositions return [] (and one NULL per seed for the min-hash)
      val (onNull, onArray) = got.zip(want)
        .partition(r => toks(r._1.getLong(0).toInt) == null)
      nullArrays += onNull.size
      onNull.foreach { case (g, c) =>
        assert(g == Row(g.get(0), null, null, null, null), g)
        assert(c == Row(c.get(0), Nil, Nil, Nil, Seq.fill(k)(null)), c)
      }
      assert(onArray.forall(r => r._1 == r._2),
        s"width $w, $k hashes, arrays $toks")
    }
    assert(nullArrays > 0)
  }

  /** The text kernels as they were written before they bound their
    * reused arrays once (each reference re-tokenized the document):
    * the references the evaluate-once forms must equal row for row. */
  private object Recomputing {
    import org.apache.spark.sql.Column
    import graft.functions.TextFunctions.{punctRatio, shinglesOf,
      stopwords, tokenCount, tokens}

    def shingles(c: Column, n: Int): Column = shinglesOf(tokens(c), n)

    def simhash16(c: Column): Column = {
      val toks = tokens(c)
      val hashes = transform(toks, t => {
        val h = md5(t)
        val d = (i: Int) => conv(substring(h, i, 1), 16, 10).cast("int")
        (((d(1) * 16 + d(2)) * 16 + d(3)) * 16 + d(4)).cast("int")
      })
      val n = size(hashes)
      (0 until 16).map { j =>
        val pow = 1 << j
        val cnt = size(filter(hashes,
          h => floor(h.cast("double") / lit(pow)).cast("int") % 2 === 1))
        when(cnt * 2 > n, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    }

    def stopwordHits(c: Column, set: Seq[String]): Column = {
      val arr = array(set.map(lit): _*)
      size(filter(tokens(lower(c)), t => array_contains(arr, t)))
    }

    def langId(c: Column): Column = {
      val order = Seq("en", "es", "fr", "de", "pt")
      val scores = order.map(l => l -> stopwordHits(c, stopwords(l)))
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
        when(s === best && best > 0, lit(l)).otherwise(acc)
      }
    }

    def qualityMask(c: Column): Column = {
      val n = tokenCount(c)
      val avgLen = avgTokenLen(c)
      val symRatio = punctRatio(c)
      val distinctRatio = distinctTokenRatio(c)
      val hits = stopwordHits(c, stopwords("en"))
      when(n < 50 || n > 100000, 1).otherwise(0) +
        when(avgLen < 3.0 || avgLen > 10.0, 2).otherwise(0) +
        when(symRatio > 0.1, 4).otherwise(0) +
        when(hits === 0, 8).otherwise(0) +
        when(distinctRatio < 0.2, 16).otherwise(0)
    }

    def distinctTokenRatio(c: Column): Column = {
      val t = tokens(c)
      when(size(t) > 0,
          size(array_distinct(t)).cast("double") / size(t).cast("double"))
        .otherwise(lit(0.0))
    }

    def avgTokenLen(c: Column): Column = {
      val t = tokens(c)
      when(size(t) > 0,
          length(concat_ws("", t)).cast("double") / size(t).cast("double"))
        .otherwise(lit(0.0))
    }
  }

  /** Random documents plus, in every sample, the edge cases: NULL,
    * empty and whitespace-only text, one token, fewer tokens than a
    * shingle width, heavy repetition and non-ASCII tokens. */
  private val documents: Gen[List[String]] = {
    val edges = List(null, "", "   ", " \t\n\r ", "solo", "two words",
      ("again " * 70).trim, "中文 é Über ñandú 中文")
    val tok = Gen.oneOf("the", "of", "and", "el", "la", "le", "les", "der",
      "die", "o", "os", "a", "é", "中文", "Über", "hello,", "(x)", "ok!",
      "wordsmithingly", "q")
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \u000B ")
    val doc = for {
      n <- Gen.frequency(3 -> Gen.choose(1, 4), 3 -> Gen.choose(5, 80))
      toks <- Gen.frequency(
        4 -> Gen.listOfN(n, tok),
        1 -> tok.map(t => List.fill(n)(t)))
      seps <- Gen.listOfN(n + 1, ws)
      pad <- Gen.oneOf(true, false)
    } yield {
      val body = toks.zip(seps.tail).map { case (t, s) => t + s }.mkString
      if (pad) seps.head + body else body.trim
    }
    Gen.listOfN(24, doc).map(edges ++ _)
  }

  test("simhash16 and shingles equal their recomputing compositions on " +
      "random documents") {
    import graft.functions.TextFunctions.{shingles, simhash16}
    forAllSamples(Gen.zip(documents, Gen.choose(1, 4)), n = 8) {
      case (texts, n) =>
        val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
          .select($"id", $"text", simhash16($"text"),
            Recomputing.simhash16($"text"), shingles($"text", n),
            Recomputing.shingles($"text", n))
          .collect()
        assert(rows.length == texts.size)
        rows.foreach { r =>
          assert(r.get(2) == r.get(3), s"simhash16 of '${r.get(1)}'")
          assert(r.get(4) == r.get(5), s"shingles($n) of '${r.get(1)}'")
        }
        assert(rows.find(_.isNullAt(1)).exists(_.getInt(2) == 0),
          "NULL text must give simhash 0")
    }
  }

  test("langId, stopwordHits, qualityMask, avgTokenLen and " +
      "distinctTokenRatio equal their recomputing compositions on " +
      "random documents") {
    import graft.functions.TextFunctions._
    forAllSamples(documents, n = 8) { texts =>
      val t = $"text"
      val pairs = Seq(
        langIdOf(tokens(lower(t))) -> Recomputing.langId(t),
        stopwordHits(t, stopwords("es")) ->
          Recomputing.stopwordHits(t, stopwords("es")),
        qualityMask(t) -> Recomputing.qualityMask(t),
        avgTokenLenOf(tokens(t)) -> Recomputing.avgTokenLen(t),
        distinctTokenRatioOf(tokens(t)) -> Recomputing.distinctTokenRatio(t))
      val rows = texts.toDF("text")
        .select(t +: pairs.flatMap { case (a, b) => Seq(a, b) }: _*)
        .collect()
      assert(rows.length == texts.size)
      for (r <- rows; k <- pairs.indices)
        assert(r.get(1 + 2 * k) == r.get(2 + 2 * k),
          s"kernel $k of '${r.get(0)}'")
    }
  }

  test("CountMin estimates equal an independent md5-grid recompute; " +
      "est >= exact always") {
    val gen = Gen.zip(Gen.listOfN(60, Gen.choose(0, 25)),
      Gen.oneOf(2, 8, 64), Gen.oneOf(1, 2, 3))
    forAllSamples(gen, n = 8) { case (ints, w, d) =>
      val keys = ints.map(i => s"k$i")
      val df = keys.toDF("k")
      val got = operators.CountMin
        .heavyHitters(df, $"k", width = w, depth = d, k = 1000)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // independent recompute with java's own md5 (not Spark's)
      def bucket(key: String, j: Int): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (BigInt(hex.slice(8 * j, 8 * j + 8), 16) % w).toLong
      }
      val grid = keys.flatMap(key => (0 until d).map(j =>
        (j, bucket(key, j)))).groupBy(identity)
        .map { case (cell, xs) => cell -> xs.size.toLong }
      val exact = keys.groupBy(identity)
        .map { case (key, xs) => key -> xs.size.toLong }
      val want = exact.keys.toSeq.map { key =>
        val est = (0 until d).map(j => grid((j, bucket(key, j)))).min
        (key, est, exact(key))
      }.sortBy { case (key, est, _) => (-est, key) }
      assert(got == want, s"w=$w d=$d")
      got.foreach { case (key, est, ex) =>
        assert(est >= ex, s"under-count for $key at w=$w d=$d")
      }
    }
  }

  test("containmentPairs: prefix filter is exhaustive — equals brute " +
      "force on random corpora, thresholds, and vocabulary densities") {
    // The PPJoin both-prefix bound and the fp-safe prefix slack are
    // the correctness-critical pieces: a one-off bound error silently
    // DROPS qualifying pairs (the oracle would catch it at one
    // density; this sweeps densities and thresholds). Vocab size
    // drives density: tiny vocab => near-total containment, large
    // vocab => sparse.
    val docGen = for {
      vocab <- Gen.oneOf(5, 12, 60, 400)
      nDocs <- Gen.choose(20, 60)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(1, 25)
        toks <- Gen.listOfN(len, Gen.choose(0, vocab - 1))
      } yield toks.map(t => s"w$t").mkString(" "))
    } yield docs
    forAllSamples(Gen.zip(docGen, Gen.oneOf(0.5, 0.8, 0.9, 1.0)), n = 8) {
      case (texts, t) =>
        val docs = texts.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
        val got = operators.Dedup
          .containmentPairs(docs, $"doc_id", $"text", t)
          .select($"doc_small", $"doc_big").as[(Long, Long)]
          .collect().toSet
        val toks = texts.zipWithIndex
          .map { case (s, i) => i.toLong -> s.split("\\s+").toSet }
        val brute = (for {
          (ia, sa) <- toks; (ib, sb) <- toks
          if sa.size < sb.size || (sa.size == sb.size && ia < ib)
          if sa.intersect(sb).size.toDouble / sa.size >= t
        } yield (ia, ib)).toSet
        assert(got == brute, s"t=$t vocabs=${texts.take(2)}")
    }
  }

  test("BlockDials formulas: pure, integer-exact, DuckDB-parity pinned") {
    import graft.operators.BlockDials
    // signBits values cross-checked against the oracle's
    // GREATEST(1, LENGTH(BIN(CEIL(n/750.0)::BIGINT - 1))) in DuckDB
    // 1.0.0 (recorded in PLANS.md): the two must stay in lockstep or
    // q57's hash gate breaks.
    assert(BlockDials.signBits(0) == 1)
    assert(BlockDials.signBits(500) == 1)    // sf0.01
    assert(BlockDials.signBits(2000) == 2)   // sf0.1
    assert(BlockDials.signBits(20000) == 5)  // sf1
    assert(BlockDials.signBits(200000) == 9) // sf10
    assert(BlockDials.signBits(2000000) == 12)
    assert(BlockDials.signBits(Long.MaxValue / 4) == 16) // 16-bit clamp
    // power-of-two edge: k = exactly 2^b must give b, not b+1
    assert(BlockDials.signBits(750L * 16) == 4)
    assert(BlockDials.signBits(750L * 16 + 1) == 5)
    // width: k = ceil(n/1250) bands over [0, mx]
    assert(BlockDials.lengthBucketWidth(500, 700) == 701)   // one band
    assert(BlockDials.lengthBucketWidth(50000, 700) == 18)  // 40 bands
    assert(BlockDials.lengthBucketWidth(500000, 700) == 2)  // 400 bands
    assert(BlockDials.lengthBucketWidth(0, 0) == 1)         // empty corpus
    // width never hits 0 even when bands outnumber characters
    assert(BlockDials.lengthBucketWidth(10000000, 3) == 1)
    // ivfLists: GREATEST(4, CEIL(n/500)) — oracle parity
    // for q124's params CTE
    assert(BlockDials.ivfLists(0) == 4)        // empty corpus -> floor
    assert(BlockDials.ivfLists(500) == 4)      // sf0.01 (ceil=1, floored)
    assert(BlockDials.ivfLists(2000) == 4)     // sf0.1
    assert(BlockDials.ivfLists(20000) == 40)   // sf1
    assert(BlockDials.ivfLists(200000) == 400) // sf10
    assert(BlockDials.ivfLists(500 * 4 + 1) == 5)
    assert(BlockDials.ivfLists(500L * 4) == 4) // exact multiple
  }

  test("blocking dials are blocking-only: narrow-dial pairs = " +
      "wide-dial pairs restricted to co-blocked docs") {
    // The q45/q57 auto-dial contract: resolution decides which pairs
    // are COMPARED, never a compared pair's score or threshold
    // outcome. So the narrow result must equal the wide result
    // filtered to pairs sharing a narrow block — any deviation means
    // the dial leaked into scoring.
    val docGen = for {
      nDocs <- Gen.choose(30, 80)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(1, 30)
        toks <- Gen.listOfN(len, Gen.choose(0, 25))
      } yield toks.map(t => s"w$t").mkString(" "))
    } yield docs
    forAllSamples(docGen, n = 5) { texts =>
      val docs = texts.zipWithIndex
        .map { case (s, i) => (i.toLong, s, s.length) }
        .toDF("doc_id", "text", "n_chars")
      val lens = texts.zipWithIndex.map { case (s, i) => i.toLong -> s.length }.toMap
      val w = 40
      def pairs(width: Int): Set[(Long, Long)] = operators.Dedup
        .jaccardPairs(docs, $"doc_id", $"text",
          blockKeys = Seq(floor($"n_chars" / width.toDouble).cast("int")),
          threshold = 0.5, chunks = 4)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val wide = pairs(1 << 20) // one block: every pair compared
      val narrow = pairs(w)
      val expected = wide.filter { case (a, b) =>
        lens(a) / w == lens(b) / w
      }
      assert(narrow == expected)
    }
    // same contract for the sign-bit dial: nb+k buckets REFINE nb
    // buckets (bit i is independent of bit count), so the finer
    // result is the coarser one filtered to agreement on the extra bits
    val embGen = Gen.listOfN(60,
      Gen.listOfN(8, Gen.choose(-1.0, 1.0)))
    forAllSamples(embGen, n = 5) { vecs =>
      val emb = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
      def pairs(nb: Int): Set[(Long, Long)] = operators.Similarity
        .cosinePairsBlocked(emb, "vec_id", "embedding", 0.2, nb, chunks = 4)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val coarse = pairs(1)
      val fine = pairs(3)
      val bits = vecs.zipWithIndex.map { case (v, i) =>
        i.toLong -> (0 until 3).map(d => v(d).toFloat > 0).toVector
      }.toMap
      val expected = coarse.filter { case (a, b) => bits(a) == bits(b) }
      assert(fine == expected)
    }
  }

  test("connectedComponentsStar equals the driver union-find on random " +
       "graphs") {
    // component shapes over disjoint id slices: a chain (a path up to
    // 60 deep), a clique, a hub star, or an isolated vertex
    val shapeGen: Gen[(String, Int)] = Gen.oneOf(
      Gen.choose(2, 60).map("chain" -> _),
      Gen.choose(2, 10).map("clique" -> _),
      Gen.choose(2, 25).map("hub" -> _),
      Gen.const("isolated" -> 1))
    val graphGen = Gen.zip(
      Gen.choose(3, 10).flatMap(Gen.listOfN(_, shapeGen)),
      Gen.choose(0L, Long.MaxValue))
    forAllSamples(graphGen, n = 10) { case (shapes, seed) =>
      val rnd = new scala.util.Random(seed)
      // shuffled ids, so a component's min sits anywhere in its shape
      val ids = rnd.shuffle((1L to shapes.map(_._2).sum.toLong).toVector)
      val slices = shapes.scanLeft(0)(_ + _._2).zip(shapes).map {
        case (at, (kind, n)) => kind -> ids.slice(at, at + n) }
      val shaped = slices.flatMap {
        case ("chain", vs) => vs.zip(vs.tail)
        case ("clique", vs) =>
          for { i <- vs.indices; j <- i + 1 until vs.size } yield (vs(i), vs(j))
        case ("hub", vs) => vs.tail.map(vs.head -> _)
        case _ => Nil
      }
      // both orientations, duplicates, self-loops and a few bridges
      // that merge shapes into irregular components
      def pick() = ids(rnd.nextInt(ids.size))
      val oriented = shaped.map { case (u, v) =>
        if (rnd.nextBoolean()) (u, v) else (v, u) }
      val dups = if (oriented.isEmpty) Nil else Seq.fill(rnd.nextInt(12)) {
        val e = oriented(rnd.nextInt(oriented.size))
        if (rnd.nextBoolean()) e else e.swap }
      val extra = dups ++ Seq.fill(rnd.nextInt(4)) { val v = pick(); (v, v) } ++
        Seq.fill(rnd.nextInt(3))((pick(), pick()))
      val edges = rnd.shuffle(oriented ++ extra)
      val got = Dedup.connectedComponentsStar(ids.toDF("id"), $"id",
          spark.sparkContext.parallelize(edges, 6).toDF("a", "b"),
          $"a", $"b")
        .as[(Long, Long)].collect().toMap
      assert(got == unionFindLabels(ids, edges))
    }
  }

  test("S5: dir mode without self-enrichment equals the S5 path row for " +
       "row, Quality included, on random official catalogs") {
    // Chapter and block ranges span A and B codes, so Z categories fall
    // outside every chapter; SUBCAT codes are drawn from a small pool
    // (duplicates), some lower-case, padded, with a blank 4th position,
    // 3 chars long, or null (an empty field).
    def code(letters: Char*) = Gen.zip(Gen.oneOf(letters), Gen.choose(0, 5))
      .map { case (l, d) => f"$l$d%02d" }
    val cat = code('A', 'B', 'Z')
    val title = Gen.oneOf("Colera", "Tifo", "Cólera clássica")
    val range = Gen.zip(code('A', 'B'), code('A', 'B'))
      .map { case (a, b) => if (a <= b) (a, b) else (b, a) }
    val subcat = for {
      c <- cat
      tail <- Gen.oneOf("0", "1", "9", " ", "")
      lower <- Gen.oneOf(false, true)
      pad <- Gen.frequency(4 -> "", 1 -> " ")
      isNull <- Gen.frequency(9 -> false, 1 -> true)
      t <- title
    } yield {
      val code = if (lower) (c + tail).toLowerCase else c + tail
      (if (isNull) "" else pad + code + pad) + ";" + t
    }
    val catalog = for {
      chapters <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, range))
      blocks <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, range))
      cats <- Gen.listOfN(20, Gen.zip(cat, title))
      subcats <- Gen.listOfN(30, subcat)
    } yield (chapters, blocks, cats, subcats)
    val clock = LocalDate.parse("2026-01-15")
    val tiebreak = CidEtl.outputCols.filterNot(_ == "cid_codigo")
      .map(c => col(c).asc_nulls_last)
    def lines(p: Path) = {
      val all = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n")
      all.head +: all.tail.sorted.toSeq
    }

    forAllSamples(catalog, n = 6) { case (chapters, blocks, cats, subcats) =>
      val dir = Files.createTempDirectory("cid_s5")
      def write(name: String, header: String, rows: Seq[String]): Unit =
        Files.write(dir.resolve(name), (header +: rows).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.ISO_8859_1))
      write("CID-10-CAPITULOS.csv", "NUMCAP;CATINIC;CATFIM;DESCRICAO",
        chapters.zipWithIndex.map { case ((a, b), i) => s"$i;$a;$b;Capitulo $i" })
      write("CID-10-GRUPOS.csv", "CATINIC;CATFIM;DESCRICAO",
        blocks.zipWithIndex.map { case ((a, b), i) => s"$a;$b;Grupo $i" })
      write("CID-10-CATEGORIAS.csv", "CAT;DESCRICAO",
        cats.map { case (c, t) => s"$c;$t" })
      write("CID-10-SUBCATEGORIAS.csv", "SUBCAT;DESCRICAO", subcats)

      // The S5 path: the structured branch re-fed as the DATASUS branch,
      // enriched against the category map, unioned, deduplicated.
      val (chap, blk, categories, sub) = CidEtl.readDatasusOfficial(spark, dir.toString)
      val structured = CidEtl.buildStructured(chap, blk, categories, sub)
      val enriched = CidEtl.prepareDatasus(
        structured.select($"cid_codigo".as("codigo"), $"descricao"),
        CidEtl.categoryMap(chap, blk, categories))
      val s5 = PriorityDedup(structured.unionByName(enriched)
            .withColumn("cid_codigo", normalizeCode($"cid_codigo")),
          Seq("cid_codigo"), $"fonte".desc +: tiebreak)
        .withColumn("dt_atualizacao", lit(clock.toString))
      val q = s5.agg(count(lit(1)),
        count_if($"bloco_codigo".isNull || $"capitulo_codigo".isNull)).head()
      BomCsvSink.write(s5, dir.resolve("s5.csv").toString)

      val got = CidEtl.runFromDatasusDir(spark, dir.toString,
        dir.resolve("dir.csv").toString, clock)
      assert(got == CidEtl.Quality(q.getLong(0), q.getLong(1)))
      assert(lines(dir.resolve("dir.csv")) == lines(dir.resolve("s5.csv")))
    }
  }
}
