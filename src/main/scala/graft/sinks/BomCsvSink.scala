package graft.sinks

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K1 sink (SURVEY.md §2.2): single CSV file, `;`-separated, every cell
  * quoted, UTF-8 **with BOM** — byte-compatible with the reference's
  * pandas export (/root/reference/etl_cid10.py:196: sep=';',
  * encoding='utf-8-sig', quoting=QUOTE_ALL).
  *
  * Spark's CSV writer emits no BOM and leaves nulls unquoted, so the
  * data is written distributed to a temp dir (nulls pre-coalesced to ""
  * so quoteAll quotes them like pandas does), then concatenated behind
  * a driver-side stream that prepends BOM + quoted header.
  *
  * Multi-part inputs are first-class: part files are concatenated in
  * name order, and because an `orderBy`'d frame is RANGE partitioned
  * (part-00000 = lowest key range, ascending), a sorted frame stays
  * globally sorted in the merged file — pinned in BomCsvSinkSpec. The
  * distributed WRITE therefore scales with the cluster; only the final
  * byte concat is serial, same as any single-file delivery, and
  * streams part-by-part without buffering. Outputs that need not be
  * one file should use `df.write.csv` directly.
  */
object BomCsvSink {

  private val Sep = ";"

  def write(df: DataFrame, outPath: String): Unit = {
    val spark = df.sparkSession
    val cols = df.columns
    val tmp = outPath + ".__tmp__"
    // pandas QUOTE_ALL renders null cells as "" — coalesce then quoteAll.
    val filled = df.select(cols.map(c => coalesce(col(c).cast("string"), lit("")).as(c)): _*)
    filled.write.mode("overwrite")
      .option("header", "false").option("sep", Sep)
      .option("quoteAll", "true")
      // RFC 4180 doubled-quote escaping (pandas-compatible), not the
      // Spark default backslash escape.
      .option("escape", "\"")
      .csv(tmp)

    val conf = spark.sparkContext.hadoopConfiguration
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val out = new Path(outPath)
    val outFs = out.getFileSystem(conf)
    val stream = outFs.create(out, true)
    try {
      val w = new OutputStreamWriter(stream, StandardCharsets.UTF_8)
      w.write('\uFEFF') // UTF-8 BOM (encoded as EF BB BF)
      w.write(cols.map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(Sep))
      w.write("\n")
      w.flush()
      val parts = fs.listStatus(tmpPath).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach { p =>
        val in = fs.open(p)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, stream, conf, false)
        finally in.close()
      }
    } finally stream.close()
    fs.delete(tmpPath, true)
  }
}
