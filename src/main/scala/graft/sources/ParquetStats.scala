package graft.sources

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side reads of parquet FOOTERS — metadata only, never a Spark
  * job. The footer holds a file's schema, its per-block row counts and
  * the min/max every parquet writer records per column chunk: enough
  * for a read's schema (no inference job), an exact row count and a
  * tight data-dependent bound (e.g. pointer-doubling round count from
  * the key domain's bit length) without paying a full-scan job first.
  *
  * Cost model at 100 TB: one footer read per file (a few KB each,
  * seek-to-tail). That is the same metadata Spark's own scan planning
  * touches to split the files, so a bound derived here is strictly
  * cheaper than any Spark job — no tasks, no shuffle, no stage. For
  * catalog-backed tables the same numbers come from table statistics
  * without touching files at all; this helper is the no-catalog path.
  */
object ParquetStats {

  /** All parquet data files under `path` (a single file or a
    * directory tree). Recurses into subdirectories (Hive-partitioned
    * layouts nest part files one level per partition column) — a
    * non-recursive listing would silently skip those files and return
    * PARTIAL statistics, and a too-small bound is worse than none
    * (callers use these as hard convergence guards / dial inputs).
    * Hidden files/dirs (_SUCCESS, .staging) are skipped at every
    * level, same as Spark's own file index. Throws
    * FileNotFoundException naming `path` when it does not exist or
    * holds no parquet data file.
    */
  private def parquetFiles(conf: Configuration, path: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def listParquet(p: Path): Seq[Path] = {
      val st = fs.getFileStatus(p)
      val n = p.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory)
        fs.listStatus(p).toSeq.map(_.getPath).flatMap(listParquet)
      else if (n.endsWith(".parquet")) Seq(p)
      else Nil
    }
    val files =
      if (!fs.exists(root)) Nil
      else if (fs.getFileStatus(root).isDirectory) listParquet(root)
      else Seq(root)
    if (files.isEmpty)
      throw new FileNotFoundException(s"no parquet data file under $path")
    files.sortBy(_.toString)
  }

  private def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter
    finally reader.close()
  }

  /** The footer of every parquet data file under `path`, each opened
    * once; [[rowCount]] and [[maxLong]] derive from them.
    */
  def footers(conf: Configuration, path: String): Seq[ParquetMetadata] =
    parquetFiles(conf, path).map(footer(conf, _))

  /** EXACT row count (the per-block row counts every parquet file
    * records — not column statistics, so it cannot be absent or
    * null-skewed): the driver-side, zero-job equivalent of
    * `df.count()` for the size-derived dials (BlockDials) that several
    * indexed-similarity queries compute before planning.
    */
  def rowCount(footers: Seq[ParquetMetadata]): Long =
    footers.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  /** Max value of an integral column across all row groups. None when
    * no file carries statistics for the column (callers fall back to
    * their data-free bound).
    */
  def maxLong(footers: Seq[ParquetMetadata], column: String): Option[Long] =
    footers.flatMap(_.getBlocks.asScala).flatMap { block =>
      block.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .flatMap { chunk =>
          val st = chunk.getStatistics
          if (st == null || !st.hasNonNullValue) None
          else st.genericGetMax match {
            case l: java.lang.Long    => Some(l.longValue)
            case i: java.lang.Integer => Some(i.longValue)
            case _                    => None // non-integral: no bound
          }
        }
    }.reduceOption(_ max _)

  /** The Spark schema of the parquet data under `path`, converted from
    * the first data file's footer by the same converter (and session
    * settings, e.g. `nanosAsLong`) that `spark.read.parquet`'s
    * non-merging schema inference uses — without that inference's
    * Spark job. A `partitionBy` layout's footers hold only the data
    * columns; the partition columns come from the directory names.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = parquetFiles(conf, path).head
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(first, footer(conf, first)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
