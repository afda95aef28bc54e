package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Unit checks for the PII-scrub and repetition signals (their
  * cross-engine behavior is oracle-gated by q71/q72; this pins the
  * Scala-side semantics on hand-built edge cases).
  */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def scrub1(s: String): String =
    Seq(s).toDF("t").select(scrubPii($"t")).as[String].head()

  test("scrubPii redacts emails, IPv4s and phones with typed placeholders") {
    assert(scrub1("mail a.b+c@ex.co, ip 192.168.0.1, tel +1 555-123-4567 end")
      == "mail <EMAIL>, ip <IP>, tel <PHONE> end")
  }

  test("scrubPii order: the email's digit/dot runs never leak as IP matches") {
    // domain contains an IPv4-shaped digit run — must vanish with the email
    assert(scrub1("x u1@10.0.0.1.example.com y") == "x <EMAIL> y")
  }

  test("scrubPii is a no-op on clean text and idempotent on scrubbed text") {
    val clean = "no pii here just words 42 and 3.14"
    assert(scrub1(clean) == clean)
    val once = scrub1("a@b.co 1.2.3.4 +9 123-456-7890")
    assert(scrub1(once) == once)
  }

  test("patternCount counts all non-overlapping matches") {
    val n = Seq("a@b.co c@d.org plain").toDF("t")
      .select(patternCount($"t", emailPattern)).as[Int].head()
    assert(n == 2)
  }

  test("scrubPii covers domestic phone formats and bounds the last group") {
    assert(scrub1("call 555-123-4567 now") == "call <PHONE> now")
    assert(scrub1("call (555) 123-4567 now") == "call <PHONE> now")
    assert(scrub1("call 555.123.4567 now") == "call <PHONE> now")
    // trailing \b: a 5-digit final group is not a phone — no partial scrub
    assert(scrub1("id +1 555-123-45678 x") == "id +1 555-123-45678 x")
  }

  test("ipv4 pattern range-checks octets") {
    assert(scrub1("at 999.999.999.999 x") == "at 999.999.999.999 x")
    assert(scrub1("ver v1.2.3.4 x") == "ver v1.2.3.4 x") // no left boundary
    assert(scrub1("at 255.255.255.255 x") == "at <IP> x")
    assert(scrub1("at 256.1.1.1 x") == "at 256.1.1.1 x")
  }

  test("dupNgramFraction and topNgramCount on known repetition") {
    // tokens: a b a b a -> bigrams: "a b","b a","a b","b a" (4 total, 2 distinct)
    val df = Seq("a b a b a", "x y z", "tiny").toDF("t").select(
      round(dupFractionOf(shingles($"t", 2)), 6).as("dup2"),
      topCountOf(shingles($"t", 2)).as("top2"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 0.5 && rows(0).getInt(1) == 2)
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getInt(1) == 1)
    // single token: no bigrams -> 0 / 0 sentinel values
    assert(rows(2).getDouble(0) == 0.0 && rows(2).getInt(1) == 0)
  }

  test("tokenCount (regexp_count form) == size(tokens) on every edge (r21)") {
    // the r21 rewrite counts whitespace runs instead of materializing
    // the split array; split(s, re, -1) keeps trailing empty pieces,
    // so size == matches + 1 must hold UNCONDITIONALLY — pin the edges
    // that could break it: empty, all-whitespace, leading/trailing ws,
    // every wsClass member, unicode text, nulls
    val rnd = new scala.util.Random(21)
    val ws = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    val fuzz = (1 to 200).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map { _ =>
        if (rnd.nextBoolean()) ws(rnd.nextInt(ws.size)).toString
        else rnd.alphanumeric.take(rnd.nextInt(4)).mkString
      }.mkString
    }
    val cases = Seq("", " ", "  ", "a", " a ", "a b", "a  b ", "\t\n",
      "ol\u00e1 mundo  caf\u00e9", "x\u000By", null) ++ fuzz
    val df = cases.toDF("t")
    val bad = df.select(
        tokenCount($"t").as("fast"),
        size(tokens($"t")).as("ref"))
      .filter(!($"fast" <=> $"ref"))
      .count()
    assert(bad == 0L)
  }
}
