package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("saltedDistinctCount equals plain countDistinct") {
    val df = (0 until 3000)
      .map(i => (if (i % 5 == 0) "HOT" else s"k${i % 13}", s"u${i % 97}"))
      .toDF("key", "user")
    val plain = df.groupBy($"key")
      .agg(countDistinct($"user").as("n"))
      .as[(String, Long)].collect().toMap
    val salted = SkewJoin.saltedDistinctCount(df, "key", "user", 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }
}
