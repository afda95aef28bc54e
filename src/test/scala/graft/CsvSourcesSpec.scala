package graft

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sources.CsvSources

/** S1 dialect cascade + S4 discovery (/root/reference/etl_cid10.py:28-39,
  * 204-209): all four (sep, encoding) variants of the same content must
  * parse to identical frames.
  */
class CsvSourcesSpec extends SparkSpec {

  private val dir = "src/test/resources/cid_structured"

  test("cascade mirrors reference: first >=1-col parse wins, so comma " +
       "files garble into one column (etl_cid10.py:32-39 does the same)") {
    for (f <- Seq("datasus.csv", "datasus_semi_utf8.csv")) {
      val got = CsvSources.readRobust(spark, s"$dir/$f")
      assert(got.columns.toSeq == Seq("codigo", "descricao"), f)
    }
    for (f <- Seq("datasus_comma_latin1.csv", "datasus_comma_utf8.csv")) {
      val got = CsvSources.readRobust(spark, s"$dir/$f")
      assert(got.columns.toSeq == Seq("codigo,descricao"), f)
    }
  }

  test("accented latin1 content survives the cascade") {
    val rows = CsvSources.readRobust(spark, s"$dir/datasus.csv").collect()
    assert(rows.exists(_.getString(1).contains("Cólera clássica")))
  }

  test("missing file raises FileNotFoundException") {
    intercept[FileNotFoundException] {
      CsvSources.readRobust(spark, s"$dir/nope.csv")
    }
    intercept[FileNotFoundException] {
      CsvSources.readDefault(spark, s"$dir/nope.csv")
    }
  }

  test("findByFragment is case-insensitive and requires .csv") {
    val p = CsvSources.findByFragment(
      spark, "src/test/resources/cid_official", "capitulos")
    assert(p.endsWith("CID-10-CAPITULOS.csv"))
    intercept[FileNotFoundException] {
      CsvSources.findByFragment(spark, "src/test/resources/cid_official",
        "NOPE")
    }
  }

  // Header parity: every reader parses the header on the driver, and must
  // read exactly what Spark's own schema inference reads.

  private val official = Map("sep" -> ";", "encoding" -> "ISO-8859-1")

  /** Spark's read with schema inference under `dialect`. */
  private def inferred(path: String, dialect: Map[String, String]): DataFrame =
    spark.read.option("header", "true").options(dialect).csv(path)

  /** The S1 cascade over inferred reads: first dialect with >= 1 column. */
  private def inferredCascade(path: String): DataFrame =
    Seq((";", "ISO-8859-1"), (",", "ISO-8859-1"), (";", "UTF-8"), (",", "UTF-8"))
      .iterator
      .map { case (sep, enc) => inferred(path, Map("sep" -> sep, "encoding" -> enc)) }
      .find(_.columns.nonEmpty)
      .getOrElse(inferred(path, Map.empty))

  private val readers: Seq[(String, String => DataFrame, String => DataFrame)] = Seq(
    ("readDefault", CsvSources.readDefault(spark, _), inferred(_, Map.empty)),
    ("readOfficial", CsvSources.readOfficial(spark, _), inferred(_, official)),
    ("readRobust", CsvSources.readRobust(spark, _), inferredCascade))

  /** `read` launches no job, and its schema and rows equal `want`'s. */
  private def assertSameRead(clue: String, read: => DataFrame,
                             want: => DataFrame): Unit = {
    val (got, jobs, _) = traced(read)
    assert(jobs == 0, s"$clue: the read launched $jobs jobs")
    val expected = want
    assert(got.schema == expected.schema, clue)
    assert(got.collect().toSeq == expected.collect().toSeq, clue)
  }

  test("header parity: every fixture file reads as Spark's inference " +
       "reads it, with no job") {
    val files = Seq("src/test/resources/cid_official", dir)
      .flatMap(d => new File(d).listFiles().map(_.getPath)).sorted
    assert(files.size == 12)
    for (f <- files; (name, read, want) <- readers)
      assertSameRead(s"$name $f", read(f), want(f))
  }

  test("header parity on edge files: BOM (also before blank lines), " +
       "case-duplicate and empty names, quoted separator, leading blank " +
       "lines, header-only, empty") {
    val tmp = Files.createTempDirectory("csv_header")
    // `|` stands for the dialect's separator.
    val cases = Seq(
      "bom" -> "\uFEFFcodigo|descricao\nA00|Colera\n",
      "bom_blank" -> "\uFEFF\n\ncodigo|descricao\nA00|Colera\n",
      "case_dup_empty" -> "code|CODE||Code|x\n1|2|3|4|5\n6|7|8|9|10\n",
      "quoted_sep" -> "\"cod|igo\"|descricao\nA00|\"a|b\"\n",
      "leading_blank" -> "\n\n\ncodigo|descricao\nA00|Colera\n",
      "accented" -> "código|descrição\nA00|Cólera\n",
      "header_only" -> "codigo|descricao\n",
      "empty" -> "")
    for ((name, text) <- cases; (sep, enc) <- Seq((",", "UTF-8"), (";", "ISO-8859-1"))) {
      val content = text.replace("|", sep)
      // A BOM is always UTF-8 bytes, whatever the rest is encoded in.
      val bytes =
        if (content.startsWith("\uFEFF"))
          "\uFEFF".getBytes(StandardCharsets.UTF_8) ++ content.drop(1).getBytes(enc)
        else content.getBytes(enc)
      val path = tmp.resolve(s"${name}_$sep.csv".replace(";", "semi"))
      Files.write(path, bytes)
      for ((reader, read, want) <- readers)
        assertSameRead(s"$reader $name sep=$sep", read(path.toString),
          want(path.toString))
    }
  }
}
