package graft.etl

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.CidFunctions._
import graft.operators.{PriorityDedup, RangeJoin}
import graft.sinks.BomCsvSink
import graft.sources.CsvSources

/** The CID-10 consolidation pipeline — full behavioral parity with the
  * reference (/root/reference/etl_cid10.py), re-expressed as lazy
  * DataFrame composition: every join over the small dimension tables is
  * a broadcast join, the hand-rolled O(n·m) range scans become
  * broadcast theta joins with first-match semantics, and the final
  * priority dedup is a single hash-partition window — the only shuffle
  * in the whole plan, partitioned by the dedup key, which is exactly
  * the axis the data would scale on.
  */
object CidEtl {

  val outputCols: Seq[String] = Seq(
    "cid_codigo", "cid_categoria", "cid_subcategoria", "titulo",
    "descricao", "capitulo_codigo", "capitulo_titulo", "bloco_codigo",
    "bloco_titulo", "fonte")

  /** Quality counters the reference prints per run
    * (etl_cid10.py:190-193).
    */
  final case class Quality(total: Long, missingHierarchy: Long)

  // -------------------------------------------------------------------
  // Structured (OMS) branch — etl_cid10.py:52-101
  // -------------------------------------------------------------------

  /** Left-join chain categories→chapters→blocks with the reference's
    * suffix-coalesce semantics: when both categories and blocks carry a
    * `chapter_code`, prefer categories' value, falling back to blocks'
    * (etl_cid10.py:59-67).
    */
  private[graft] def categoryMap(chapters: DataFrame, blocks: DataFrame,
                          categories: DataFrame): DataFrame = {
    val withChap =
      categories.join(broadcast(chapters), Seq("chapter_code"), "left")
    val blkHasChapter = blocks.columns.contains("chapter_code")
    val blk = if (blkHasChapter)
      blocks.withColumnRenamed("chapter_code", "__blk_chapter_code")
    else blocks
    val joined = withChap.join(broadcast(blk), Seq("block_id"), "left")
    if (blkHasChapter)
      joined
        .withColumn("chapter_code",
          coalesce(col("chapter_code"), col("__blk_chapter_code")))
        .drop("__blk_chapter_code")
    else joined
  }

  /** Build the structured (OMS) branch: subcategories expanded against
    * the chapter/block/category hierarchy (etl_cid10.py:52-101).
    */
  def buildStructured(chapters: DataFrame, blocks: DataFrame,
                      categories: DataFrame, subcats: DataFrame): DataFrame = {
    val cats = categoryMap(chapters, blocks, categories)
    val full = subcats.join(broadcast(cats), Seq("category_code"), "left")
    val titulo =
      if (full.columns.contains("subcategory_title")) col("subcategory_title")
      else if (full.columns.contains("category_title")) col("category_title")
      else lit(null).cast("string")
    full
      .withColumn("cid_codigo", normalizeCode(col("subcategory_code")))
      .withColumn("cid_categoria", normalizeCode(col("category_code")))
      .withColumn("cid_subcategoria", subcategoryMarker(col("cid_codigo")))
      .withColumn("titulo", titulo)
      .withColumn("descricao", col("titulo"))
      .withColumn("bloco_codigo", colOrNull(full, "block_id"))
      .withColumn("bloco_titulo", colOrNull(full, "block_title"))
      .withColumn("capitulo_codigo", colOrNull(full, "chapter_code"))
      .withColumn("capitulo_titulo", colOrNull(full, "chapter_title"))
      .withColumn("fonte", lit("Estruturada"))
      .select(outputCols.map(col): _*)
  }

  private def colOrNull(df: DataFrame, name: String) =
    if (df.columns.contains(name)) col(name) else lit(null).cast("string")

  // -------------------------------------------------------------------
  // DATASUS enrichment branch — etl_cid10.py:108-155
  // -------------------------------------------------------------------

  /** Normalize an arbitrary DATASUS code list (P2/P3/P4: map-driven
    * rename, positional fallback for the code column, tolerated-missing
    * descricao) and enrich it against the category map (J2).
    */
  def prepareDatasus(raw0: DataFrame, cats: DataFrame): DataFrame = {
    var raw = raw0
    if (raw.columns.contains("codigo"))
      raw = raw.withColumnRenamed("codigo", "cid_codigo")
    if (!raw.columns.contains("cid_codigo"))
      raw = raw.withColumnRenamed(raw.columns.head, "cid_codigo")
    if (!raw.columns.contains("descricao"))
      raw = raw.withColumn("descricao", lit(null).cast("string"))

    val normalized = raw
      .withColumn("cid_codigo", normalizeCode(col("cid_codigo")))
      .withColumn("cid_categoria", extractRootCategory(col("cid_codigo")))
      .withColumn("cid_subcategoria", subcategoryMarker(col("cid_codigo")))
      .withColumn("titulo", col("descricao"))

    val catsNorm = cats
      .withColumn("category_code", normalizeCode(col("category_code")))
      .select("category_code", "block_id", "block_title",
              "chapter_code", "chapter_title")

    normalized
      .join(broadcast(catsNorm),
        normalized("cid_categoria") === catsNorm("category_code"), "left")
      .withColumn("bloco_codigo", col("block_id"))
      .withColumn("bloco_titulo", col("block_title"))
      .withColumn("capitulo_codigo", col("chapter_code"))
      .withColumn("capitulo_titulo", col("chapter_title"))
      .withColumn("fonte", lit("DATASUS"))
      .select(outputCols.map(col): _*)
  }

  // -------------------------------------------------------------------
  // Official DataSUS directory reader — etl_cid10.py:212-327
  // -------------------------------------------------------------------

  /** Stamp a file-order rank on a tiny dim so range joins can reproduce
    * the reference's first-match-in-file-order.
    *
    * Ordering contract: the input must come from exactly ONE CSV file
    * (enforced below — there is no cross-file order to reconstruct).
    * `collect` returns rows by partition index then intra-partition
    * order — for a single CSV file, splits are ordered by byte offset
    * and rows stream in file order within each split, so the rank IS
    * the line number. These dims are catalog-sized (<= a few thousand
    * rows): they are collected once and ranked into a local relation,
    * so every range join they feed reads them without another scan.
    */
  private def withFileOrder(df: DataFrame): DataFrame = {
    require(df.inputFiles.length == 1,
      s"file-order rank needs a single input file, got " +
        s"${df.inputFiles.length} (${df.inputFiles.take(3).mkString(", ")})")
    val schema = df.schema.add("__ord", LongType, nullable = false)
    val ranked = df.collect().zipWithIndex
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }
    df.sparkSession.createDataFrame(ranked.toSeq.asJava, schema)
  }

  /** Read the 4 official CSVs and reconstruct the hierarchy: categories
    * get block/chapter via lexicographic containment (J3), blocks get
    * chapters via containment of either bound (J4) — both as broadcast
    * lookups into driver-resolved disjoint first-match pieces instead of
    * the reference's per-row dict scans (etl_cid10.py:266-325).
    */
  def readDatasusOfficial(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    def read(fragment: String): DataFrame =
      CsvSources.readOfficial(spark,
        CsvSources.findByFragment(spark, dir, fragment))

    val chaptersRaw = read("CAPITULOS")
    val blocksRaw = read("GRUPOS")
    val categoriesRaw = read("CATEGORIAS")
    val subcatsRaw = read("SUBCATEGORIAS")

    // Range dims with normalized bounds + file order for first-match.
    // The chapter dim is read from the same ranked rows, so each of the
    // two range files is scanned once.
    val chapterRanges = withFileOrder(chaptersRaw.select(
      upper(trim(col("CATINIC").cast("string"))).as("c_start"),
      upper(trim(col("CATFIM").cast("string"))).as("c_end"),
      rangeId(col("CATINIC"), col("CATFIM")).as("chapter_code"),
      trim(col("DESCRICAO").cast("string")).as("chapter_title")))
    val chapters = chapterRanges.select("chapter_code", "chapter_title")

    val blockRanges = withFileOrder(blocksRaw.select(
      upper(trim(col("CATINIC").cast("string"))).as("b_start"),
      upper(trim(col("CATFIM").cast("string"))).as("b_end"),
      rangeId(col("CATINIC"), col("CATFIM")).as("block_id"),
      trim(col("DESCRICAO").cast("string")).as("block_title")))

    // J3: category → first containing block range, then first
    // containing chapter range (independent first-matches, like the two
    // separate dict scans in the reference). firstMatchDisjoint resolves
    // first-match over the tiny ranges on the driver into disjoint
    // pieces, so the probe side is never shuffled — at scale this is a
    // pure map + broadcast lookup.
    val cats0 = categoriesRaw.select(
      upper(trim(col("CAT").cast("string"))).as("category_code"),
      trim(col("DESCRICAO").cast("string")).as("category_title"))
    val chapterBounds = chapterRanges.select("c_start", "c_end", "chapter_code", "__ord")
    val withBlock = RangeJoin.firstMatchDisjoint(
        cats0, blockRanges.select("b_start", "b_end", "block_id", "__ord"),
        col("category_code"), "b_start", "b_end", "__ord")
      .drop("b_start", "b_end", "__ord")
    val categories = RangeJoin.firstMatchDisjoint(
        withBlock, chapterBounds, col("category_code"), "c_start", "c_end", "__ord")
      .select("category_code", "category_title", "block_id", "chapter_code")

    // J4: block → first chapter range containing either bound (the
    // reference's OR predicate, etl_cid10.py:317-325): the lower-ordered
    // of the first chapter containing b_start and the first containing
    // b_end.
    def firstChapter(blocks: DataFrame, bound: String, tag: String) =
      RangeJoin.firstMatchDisjoint(blocks,
          chapterBounds.select(col("c_start"), col("c_end"),
            col("chapter_code").as(s"${tag}_code"), col("__ord").as(s"${tag}_ord")),
          col(bound), "c_start", "c_end", s"${tag}_ord")
        .drop("c_start", "c_end")
    val viaBoth = firstChapter(firstChapter(
      blockRanges.select("b_start", "b_end", "block_id", "block_title"),
      "b_start", "start"), "b_end", "end")
    val startFirst = col("end_ord").isNull || col("start_ord") <= col("end_ord")
    val blocks = viaBoth.select(col("block_id"), col("block_title"),
      when(startFirst, col("start_code")).otherwise(col("end_code")).as("chapter_code"))

    // Subcategories: fixed-width dot insertion + 3-char category key.
    val tituloCol =
      if (subcatsRaw.columns.contains("DESCRICAO"))
        trim(col("DESCRICAO").cast("string"))
      else trim(col("DESCRABREV").cast("string"))
    val subcats = subcatsRaw.select(
      formatSubcat(col("SUBCAT")).as("subcategory_code"),
      tituloCol.as("subcategory_title"),
      categoryKeyOf(col("SUBCAT")).as("category_code"))

    (chapters, blocks, categories, subcats)
  }

  // -------------------------------------------------------------------
  // Consolidation — etl_cid10.py:179-196 / :357-370
  // -------------------------------------------------------------------

  /** Re-normalize codes, keep one row per code preferring "Estruturada"
    * over "DATASUS" (W1 with a deterministic total-order tiebreak — the
    * reference's unstable sort leaves ties nondeterministic, SURVEY.md
    * §2.6), and stamp the run date. `rows` is the union of both branches
    * in combined mode and the structured branch alone in dir mode.
    */
  def consolidate(rows: DataFrame, runDate: LocalDate): DataFrame = {
    val normalized = rows
      .withColumn("cid_codigo", normalizeCode(col("cid_codigo")))
    val tiebreak = outputCols.filterNot(_ == "cid_codigo")
      .map(c => col(c).asc_nulls_last)
    PriorityDedup(normalized, keys = Seq("cid_codigo"),
        priority = col("fonte").desc +: tiebreak)
      .withColumn("dt_atualizacao", lit(runDate.toString))
  }

  // -------------------------------------------------------------------
  // Entry points — etl_cid10.py:162-197 / :333-371 / :374-404
  // -------------------------------------------------------------------

  /** Combined mode: explicit DATASUS file + 4 structured OMS files. */
  def runCombined(spark: SparkSession, datasusPath: String,
                  chaptersPath: String, blocksPath: String,
                  categoriesPath: String, subcatsPath: String,
                  outPath: String, runDate: LocalDate = LocalDate.now())
      : Quality = {
    val datasusRaw = CsvSources.readRobust(spark, datasusPath)
    val chapters = CsvSources.readDefault(spark, chaptersPath)
    val blocks = CsvSources.readDefault(spark, blocksPath)
    val categories = CsvSources.readDefault(spark, categoriesPath)
    val subcats = CsvSources.readDefault(spark, subcatsPath)

    val structured = buildStructured(chapters, blocks, categories, subcats)
    val cats = categoryMap(chapters, blocks, categories)
    val enriched = prepareDatasus(datasusRaw, cats)
    finish(structured.unionByName(enriched), outPath, runDate)
  }

  /** Dir mode: everything derived from the 4 official DataSUS CSVs. The
    * reference also re-feeds the structured branch's own output as its
    * DATASUS branch (S5 self-enrichment, etl_cid10.py:350-353), but that
    * branch can never win W1: each of its rows has an "Estruturada" twin
    * with the same code (normalizeCode is idempotent), and "Estruturada"
    * ranks first. So the structured branch is consolidated alone —
    * PropertySpec checks the output and `Quality` against the S5 path.
    */
  def runFromDatasusDir(spark: SparkSession, dir: String, outPath: String,
                        runDate: LocalDate = LocalDate.now()): Quality = {
    val (chapters, blocks, categories, subcats) =
      readDatasusOfficial(spark, dir)
    finish(buildStructured(chapters, blocks, categories, subcats),
      outPath, runDate)
  }

  /** Consolidate, write, and read the quality counters the write itself
    * observed (A1/A2: rows written, rows missing block or chapter) — no
    * cache and no separate counting job.
    */
  private def finish(rows: DataFrame, outPath: String,
                     runDate: LocalDate): Quality = {
    val obs = Observation()
    val consolidated = consolidate(rows, runDate).observe(obs,
      count(lit(1)).as("total"),
      count_if(col("bloco_codigo").isNull || col("capitulo_codigo").isNull)
        .as("missing"))
    BomCsvSink.write(consolidated, outPath)
    val m = obs.get
    val q = Quality(m("total").asInstanceOf[Long], m("missing").asInstanceOf[Long])
    // UTF-8 bytes whatever the JVM's default charset is, as the
    // reference's Python prints them (`println` turns "códigos" into
    // "c?digos" under a POSIX locale)
    Console.out.write(
      (s"Total de códigos consolidados: ${q.total}\n" +
        s"Registros sem bloco/capítulo após merge: ${q.missingHierarchy}\n")
        .getBytes(StandardCharsets.UTF_8))
    Console.out.flush()
    q
  }

  /** CLI mirroring the reference's argparse contract
    * (etl_cid10.py:374-404): --datasus_dir OR all five explicit paths.
    */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opts.getOrElse("out", "cid10_consolidado.csv")
    // the engine's session defaults (GraftSession), so the CLI runs the
    // configuration perfbench times
    val spark = graft.GraftSession.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("cid-etl")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (opts.contains("datasus_dir"))
        runFromDatasusDir(spark, opts("datasus_dir"), out)
      else {
        val required = Seq("datasus", "chapters", "blocks", "categories",
          "subcategories")
        if (!required.forall(opts.contains))
          throw new IllegalArgumentException(
            "Insufficient parameters: pass --datasus_dir OR all of " +
              required.map("--" + _).mkString(", "))
        runCombined(spark, opts("datasus"), opts("chapters"),
          opts("blocks"), opts("categories"), opts("subcategories"), out)
      }
      println(s"Arquivo exportado: $out")
    } finally spark.stop()
  }
}
