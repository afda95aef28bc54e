package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ParquetStats

/** Loaders for the driver-generated parquet test tables
  * (see /root/repo/TESTDATA.md). All query catalog entries read through
  * here so scan options stay in one place.
  *
  * At 100 TB these would be partitioned/bucketed tables behind a
  * catalog; the API (name -> DataFrame) is the same either way, and
  * every downstream operator relies only on Catalyst pushdown (column
  * pruning + predicate pushdown reach the parquet scan), not on the
  * physical layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A parquet path read with the schema its files hold now: taken
    * from the first data file's footer on the driver
    * ([[graft.sources.ParquetStats.schema]]), so the read launches no
    * schema-inference job (a bare `spark.read.parquet` launches one per
    * DataFrame, and the engine rebuilds each query's DataFrames per
    * run), and a path rewritten in the same session reads back its new
    * schema. For a `partitionBy` layout the footer holds only the data
    * columns; Spark infers the partition columns from the directory
    * names as it does without a schema, so partition pruning is
    * unchanged.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetStats.schema(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two physical layouts over time:
      // TIMESTAMP(NANOS) (an int64 to Spark under the nanosAsLong
      // legacy flag — truncated to µs here, exactly what DuckDB does
      // when it coerces NANOS) and plain TIMESTAMP(MICROS). Dispatch
      // on the type the scan actually inferred so both layouts load
      // to the same timestamp_ntz column — engine code downstream
      // never sees the difference, and a re-generated dataset can't
      // silently break the loader again.
      // The nanosAsLong flag itself is set at session construction
      // (GraftSession) because it has session-wide reach; see the
      // catch around the read below.
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // With nanosAsLong OFF, a TIMESTAMP(NANOS) file fails inside
      // the footer's schema conversion (raw "Illegal Parquet type:
      // INT64 (TIMESTAMP(NANOS,...))") — before any type dispatch
      // below could run. Catch that one failure and rethrow with the
      // fix, so a session built without GraftSession.builder gets the
      // pointer instead of a bare Parquet type error.
      val raw =
        try read(spark, s"$dir/$name.parquet")
        catch {
          case e: Exception
              if String.valueOf(e.getMessage).contains("NANOS") =>
            throw new IllegalStateException(
              "events needs spark.sql.legacy.parquet.nanosAsLong=true — " +
                "build the session via graft.GraftSession.builder", e)
        }
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case TimestampNTZType => raw
        case _: TimestampType =>
          raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other => throw new IllegalStateException(
          s"unexpected events.ts type: $other")
      }
    } else read(spark, s"$dir/$name.parquet")

  /** Exact row count of a test table from its parquet FOOTERS —
    * driver-side metadata, zero Spark jobs. Identical to
    * `load(...).count()` by parquet format contract. A missing table
    * throws FileNotFoundException naming its path.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    ParquetStats.rowCount(ParquetStats.footers(
      spark.sparkContext.hadoopConfiguration, s"$dir/$name.parquet"))

  /** (row count, max of an integral column) from parquet footers, each
    * opened once — the zero-job form of
    * [[graft.operators.BlockDials.countAndMax]] for size-derived dials.
    * Column-chunk statistics are exact for integral types; an all-null
    * or statistics-less column falls back to the agg job. A missing
    * table throws FileNotFoundException naming its path.
    */
  def statsCountMax(spark: SparkSession, dir: String, name: String,
                    column: String): (Long, Long) = {
    val footers = ParquetStats.footers(
      spark.sparkContext.hadoopConfiguration, s"$dir/$name.parquet")
    ParquetStats.maxLong(footers, column) match {
      case Some(mx) => (ParquetStats.rowCount(footers), mx)
      case None =>
        graft.operators.BlockDials.countAndMax(
          load(spark, dir, name),
          org.apache.spark.sql.functions.col(column))
    }
  }
}
