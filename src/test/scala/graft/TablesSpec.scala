package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet reads take their schema from the files' footers: equal to
  * Spark's own inference, no inference job, never stale after an
  * in-session overwrite, and both `events.ts` layouts load alike.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private val res = "src/test/resources"

  test("an in-session overwrite with a changed schema reads back the " +
      "new schema and its values") {
    val dir = Files.createTempDirectory("tables_overwrite").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "t").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "a"), Row(2L, "b")))
    Seq((1L, 1.5), (2L, 2.5)).toDF("id", "w").write.mode("overwrite").parquet(path)
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "w"))
    assert(again.orderBy("id").collect().toSeq == Seq(Row(1L, 1.5), Row(2L, 2.5)))
  }

  test("the footer schema equals spark.read.parquet's for every sf0.01 " +
      "table, both events.ts layouts and a partitionBy layout") {
    val part = Files.createTempDirectory("tables_part").toString
    Seq((1L, Array(1f, 2f), 0.5, 3), (2L, Array(3f, 4f), 1.5, 7))
      .toDF("item_id", "cv", "cn", "list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(part)
    val paths = Tables.all.map(t => s"$sf/$t.parquet") ++ Seq(
      s"$res/events_nanos/events.parquet",
      s"$res/events_micros/events.parquet", part)
    paths.foreach { p =>
      assert(Tables.read(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    // the partition column still comes from the directory names
    assert(Tables.read(spark, part).filter($"list_id" === 7)
      .select("item_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("the first load of a path launches no Spark job") {
    val dir = Files.createTempDirectory("tables_jobs").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/fresh.parquet")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/bare.parquet")
    val (_, jobs, _) = traced(Tables.load(spark, dir, "fresh").schema)
    val (_, bareJobs, _) = traced(spark.read.parquet(s"$dir/bare.parquet").schema)
    info(s"jobs: Tables.load $jobs, bare spark.read.parquet $bareJobs")
    assert(jobs == 0)
  }

  test("events.ts as TIMESTAMP(NANOS) loads to the same timestamp_ntz " +
      "values, truncated to µs, as its TIMESTAMP(MICROS) copy") {
    // under the session's nanosAsLong the NANOS column reads as int64,
    // so load takes its LongType branch
    assert(spark.read.parquet(s"$res/events_nanos/events.parquet")
      .schema("ts").dataType == LongType)
    val nanos = Tables.load(spark, s"$res/events_nanos", "events")
    val micros = Tables.load(spark, s"$res/events_micros", "events")
    assert(nanos.schema == micros.schema)
    assert(nanos.schema("ts").dataType == TimestampNTZType)
    val ts = nanos.orderBy("event_id").select("ts").as[LocalDateTime].collect()
    assert(ts.toSeq == Seq("2024-01-01T00:00:00.123456",
      "2024-01-01T01:00:00", "2024-01-02T00:00:00.999999")
      .map(LocalDateTime.parse))
    assert(nanos.orderBy("event_id").collect().toSeq ==
      micros.orderBy("event_id").collect().toSeq)
  }

  test("a session without nanosAsLong gets the GraftSession.builder " +
      "pointer for a TIMESTAMP(NANOS) events table") {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalStateException](
      Tables.load(s, s"$res/events_nanos", "events"))
    assert(e.getMessage.contains("graft.GraftSession.builder"), e.getMessage)
  }
}
