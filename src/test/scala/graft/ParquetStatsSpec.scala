package graft

import java.io.FileNotFoundException
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration

import graft.sources.ParquetStats

/** Footer reader: flat files, nested (Hive-partitioned) directories,
  * the no-stats fallback, and paths with no parquet data file.
  */
class ParquetStatsSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()

  private def maxLong(path: String, column: String): Option[Long] =
    ParquetStats.maxLong(ParquetStats.footers(conf, path), column)

  test("maxLong reads the column max from a flat directory") {
    val dir = Files.createTempDirectory("pstats-flat").toString
    Seq(1L, 5L, 3L).toDF("k").write.mode("overwrite").parquet(dir)
    assert(maxLong(dir, "k") == Some(5L))
  }

  test("maxLong recurses into partition subdirectories — a partial " +
      "max from only the top level is never returned") {
    val dir = Files.createTempDirectory("pstats-part").toString
    // Hive-partitioned layout: part files live one level down, and the
    // true max (99) is in a subdirectory
    Seq((1L, "a"), (99L, "b"), (7L, "a")).toDF("k", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    assert(maxLong(dir, "k") == Some(99L))
  }

  test("missing column gives None; no parquet data file throws naming the path") {
    val dir = Files.createTempDirectory("pstats-none").toString
    Seq(1L).toDF("k").write.mode("overwrite").parquet(dir)
    assert(maxLong(dir, "nope").isEmpty)
    // only _SUCCESS: an empty partitioned write leaves no data file
    val empty = Files.createTempDirectory("pstats-empty").toString
    Seq.empty[(Long, String)].toDF("k", "p")
      .write.mode("overwrite").partitionBy("p").parquet(empty)
    for (p <- Seq("/nonexistent/x.parquet", empty)) {
      val footers = intercept[FileNotFoundException](ParquetStats.footers(conf, p))
      assert(footers.getMessage.contains(p))
      val schema = intercept[FileNotFoundException](ParquetStats.schema(spark, p))
      assert(schema.getMessage.contains(p))
    }
  }
}
