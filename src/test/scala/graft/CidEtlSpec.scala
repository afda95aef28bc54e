package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.etl.CidEtl

/** End-to-end golden tests: the full pipeline vs frozen outputs of the
  * reference run on the miniature fixtures (tools/make_cid_fixtures.py,
  * clock pinned to 2026-01-15).
  *
  * Row ORDER is not part of the contract — the reference's unstable
  * sort permutes rows arbitrarily (etl_cid10.py:183) — so data lines
  * are compared as sorted multisets, byte-exact per line; the header
  * and the UTF-8 BOM are compared exactly.
  */
class CidEtlSpec extends SparkSpec {

  private val res = "src/test/resources"
  private val clock = LocalDate.parse("2026-01-15")

  private def readLines(path: String): (Array[Byte], String, Seq[String]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bom = bytes.take(3)
    val text = new String(bytes.drop(3), StandardCharsets.UTF_8)
    val lines = text.split("\n", -1).filter(_.nonEmpty).toSeq
    (bom, lines.head, lines.tail.sorted)
  }

  private def assertGolden(out: String, golden: String): Unit = {
    val (bomG, headG, dataG) = readLines(golden)
    val (bomO, headO, dataO) = readLines(out)
    assert(bomO.toSeq == bomG.toSeq, "UTF-8 BOM")
    assert(headO == headG, "header line")
    assert(dataO == dataG, "data lines (sorted)")
  }

  test("dir mode matches reference golden byte-for-byte") {
    val out = Files.createTempDirectory("cid").resolve("dir.csv").toString
    val q = CidEtl.runFromDatasusDir(spark, s"$res/cid_official", out, clock)
    assert(q.total == 9)
    assert(q.missingHierarchy == 1)
    assertGolden(out, s"$res/golden/dir_mode.csv")
  }

  test("combined mode matches reference golden byte-for-byte") {
    val out = Files.createTempDirectory("cid").resolve("comb.csv").toString
    val q = CidEtl.runCombined(spark,
      s"$res/cid_structured/datasus.csv",
      s"$res/cid_structured/chapters.csv",
      s"$res/cid_structured/blocks.csv",
      s"$res/cid_structured/categories.csv",
      s"$res/cid_structured/subcategories.csv",
      out, clock)
    assert(q.total == 6)
    assert(q.missingHierarchy == 2)
    assertGolden(out, s"$res/golden/combined_mode.csv")
  }

  test("a run launches one job per real step: dir <= 10, combined <= 6") {
    val tmp = Files.createTempDirectory("cid_jobs")
    val (_, dirJobs, _) = traced(CidEtl.runFromDatasusDir(spark,
      s"$res/cid_official", tmp.resolve("dir.csv").toString, clock))
    val (_, combinedJobs, _) = traced(CidEtl.runCombined(spark,
      s"$res/cid_structured/datasus.csv",
      s"$res/cid_structured/chapters.csv",
      s"$res/cid_structured/blocks.csv",
      s"$res/cid_structured/categories.csv",
      s"$res/cid_structured/subcategories.csv",
      tmp.resolve("comb.csv").toString, clock))
    info(s"jobs: dir $dirJobs, combined $combinedJobs")
    assert(dirJobs <= 10, s"dir mode launched $dirJobs jobs")
    assert(combinedJobs <= 6, s"combined mode launched $combinedJobs jobs")
  }

  test("quality lines print as UTF-8 bytes whatever the console charset") {
    val buf = new java.io.ByteArrayOutputStream
    val ascii = new java.io.PrintStream(buf, true, StandardCharsets.US_ASCII)
    val out = Files.createTempDirectory("cid_utf8").resolve("dir.csv").toString
    Console.withOut(ascii)(
      CidEtl.runFromDatasusDir(spark, s"$res/cid_official", out, clock))
    val printed = buf.toByteArray.toSeq
    assert(printed.containsSlice("códigos".getBytes(StandardCharsets.UTF_8)),
      new String(buf.toByteArray, StandardCharsets.UTF_8))
  }

  test("J4: a block spanning two chapters gets the one first in file order") {
    val dir = Files.createTempDirectory("cid_j4")
    def write(name: String, lines: String*): Unit =
      Files.write(dir.resolve(name),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.ISO_8859_1))
    write("CID-10-CAPITULOS.csv", "NUMCAP;CATINIC;CATFIM;DESCRICAO",
      "2;C00;D48;Neoplasias", "1;A00;B99;Infecciosas", "3;E00;G99;Endocrinas")
    write("CID-10-GRUPOS.csv", "CATINIC;CATFIM;DESCRICAO",
      "B90;C05;end bound's chapter first", "D40;E05;start bound's chapter first",
      "A10;A20;both bounds in one chapter", "X00;X10;no chapter")
    write("CID-10-CATEGORIAS.csv", "CAT;DESCRICAO", "A15;Tuberculose")
    write("CID-10-SUBCATEGORIAS.csv", "SUBCAT;DESCRICAO", "A150;Tuberculose pulmonar")
    val (_, blocks, _, _) = CidEtl.readDatasusOfficial(spark, dir.toString)
    val got = blocks.collect()
      .map(r => r.getAs[String]("block_id") -> Option(r.getAs[String]("chapter_code")))
      .toMap
    assert(got == Map(
      "B90-C05" -> Some("C00-D48"), "D40-E05" -> Some("C00-D48"),
      "A10-A20" -> Some("A00-B99"), "X00-X10" -> None))
  }

  test("A2: a row with a block but no chapter counts as missing hierarchy") {
    val dir = Files.createTempDirectory("cid_a2")
    def write(name: String, lines: String*): Unit =
      Files.write(dir.resolve(name),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.ISO_8859_1))
    write("CID-10-CAPITULOS.csv", "NUMCAP;CATINIC;CATFIM;DESCRICAO",
      "1;A00;B99;Infecciosas")
    write("CID-10-GRUPOS.csv", "CATINIC;CATFIM;DESCRICAO",
      "A00;A09;Intestinais", "X00;X10;no chapter")
    write("CID-10-CATEGORIAS.csv", "CAT;DESCRICAO",
      "A01;Febres tifoide", "X05;Outside every chapter")
    write("CID-10-SUBCATEGORIAS.csv", "SUBCAT;DESCRICAO",
      "A010;Febre tifoide", "X050;Block but no chapter")
    val out = dir.resolve("out.csv").toString
    val q = CidEtl.runFromDatasusDir(spark, dir.toString, out, clock)
    val rows = readLines(out)._3
    assert(q.total == 2)
    // X05.0 lies in block X00-X10, which no chapter range covers
    assert(rows.exists(l => l.startsWith("\"X05.0\";") && l.contains("\"X00-X10\"")),
      rows.mkString("\n"))
    assert(q.missingHierarchy == 1)
  }
}
