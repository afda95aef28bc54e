package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV sources S1–S4 from SURVEY.md §2.1.
  *
  * All dialect/discovery decisions are driver-side (they need only file
  * metadata and the header line); the actual scan is a distributed Spark
  * CSV read, so Catalyst still gets column pruning + filter pushdown on
  * top.
  */
object CsvSources {

  private def requireExists(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new FileNotFoundException(s"File not found: $path")
  }

  /** Every read goes through here: the header of the CSV file at `path`
    * is parsed on the driver the way Spark's schema inference parses it
    * (first non-empty line from the same Hadoop line reader, which also
    * drops a UTF-8 byte-order mark; univocity parser under the same
    * options; `makeSafeHeader` for empty and duplicate names), and the
    * scan gets that all-string schema. So a read launches no inference
    * job or query, and its schema and rows equal
    * `spark.read.option("header", "true").options(dialect).csv(path)`
    * (pinned in CsvSourcesSpec). A file with no header line gets the
    * empty schema, as inference gives it.
    */
  private def readCsv(spark: SparkSession, path: String,
                      dialect: Map[String, String]): DataFrame = {
    val conf = spark.sessionState.conf
    val options = dialect + ("header" -> "true")
    val parsed = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val p = new Path(path)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(p), 0,
      p.getFileSystem(hadoopConf).getFileStatus(p).getLen)
    val lines = new HadoopFileLinesReader(file, parsed.lineSeparatorInRead, hadoopConf)
    val header =
      try CSVUtils.filterCommentAndEmpty(
          lines.map(l => new String(l.getBytes, 0, l.getLength, parsed.charset)),
          parsed).nextOption()
      finally lines.close()
    val names = header
      .flatMap(line => Option(new CsvParser(parsed.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, parsed))
      .getOrElse(Array.empty[String])
    spark.read.options(options)
      .schema(StructType(names.map(StructField(_, StringType))))
      .csv(path)
  }

  /** S1: robust scan — tries (sep, encoding) in the reference's order
    * ((";",latin1), (",",latin1), (";",utf-8), (",",utf-8)) and accepts
    * the first parse yielding >= 1 column
    * (/root/reference/etl_cid10.py:28-39).
    */
  def readRobust(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    val dialects = Seq(
      (";", "ISO-8859-1"), (",", "ISO-8859-1"),
      (";", "UTF-8"), (",", "UTF-8"))
    dialects.iterator
      .flatMap { case (sep, enc) =>
        try Some(readCsv(spark, path, Map("sep" -> sep, "encoding" -> enc)))
          .filter(_.columns.length >= 1)
        catch { case _: Exception => None }
      }
      .nextOption()
      .getOrElse(readCsv(spark, path, Map.empty))
  }

  /** Dialect auto-detection done right (engine extension, not parity):
    * the reference's cascade accepts the first parse yielding >= 1
    * column, so a comma-separated file read with sep=';' "succeeds" as
    * one garbled column — readRobust mirrors that faithfully. This
    * variant instead requires a parse to yield >= 2 columns before
    * accepting it, falling back to the reference order otherwise.
    */
  def readAuto(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val buf = new Array[Byte](64 * 1024)
      val n = try in.read(buf) finally in.close()
      val head = buf.take(math.max(n, 0))
      // Encoding: latin1 decodes anything, so column counts can't tell
      // the encodings apart — strict-validate a prefix as UTF-8 instead
      // (accented latin1 text is almost never valid UTF-8).
      val enc = {
        val dec = StandardCharsets.UTF_8.newDecoder()
        try { dec.decode(java.nio.ByteBuffer.wrap(head)); "UTF-8" }
        catch { case _: Exception => "ISO-8859-1" }
      }
      // Separator: whichever of ';' ',' '\t' '|' splits the header line
      // into the most fields.
      val header = new String(head, enc).linesIterator.nextOption().getOrElse("")
      val sep = Seq(";", ",", "\t", "|")
        .maxBy(s => header.split(java.util.regex.Pattern.quote(s), -1).length)
      readCsv(spark, path, Map("sep" -> sep, "encoding" -> enc))
    } catch { case _: Exception => readRobust(spark, path) }
  }

  /** S2: plain CSV scan (",", UTF-8, header) with existence check. */
  def readDefault(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    readCsv(spark, path, Map.empty)
  }

  /** S3: fixed official DataSUS dialect (";", latin1, header). */
  def readOfficial(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    readCsv(spark, path, Map("sep" -> ";", "encoding" -> "ISO-8859-1"))
  }

  /** S4: directory discovery — first file whose name case-insensitively
    * contains `fragment` and ends in .csv
    * (/root/reference/etl_cid10.py:204-209).
    */
  def findByFragment(spark: SparkSession, dir: String, fragment: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory)
      throw new FileNotFoundException(s"Directory not found: $dir")
    fs.listStatus(p).map(_.getPath)
      .find { f =>
        val n = f.getName.toLowerCase
        n.contains(fragment.toLowerCase) && n.endsWith(".csv")
      }
      .map(_.toString)
      .getOrElse(throw new FileNotFoundException(
        s"No CSV matching fragment '$fragment' in $dir"))
  }
}
