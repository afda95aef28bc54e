package graft

import org.apache.spark.sql.SparkSession

/** SQL entry point: registers the test tables as temp views, then
  * executes the SQL passed as the argument (or a demo query) in a
  * session that has the engine's functions from its build. Usage:
  *   sbt "runMain graft.Sql <sfDir> <sql…>"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args.head
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val sql =
      if (args.length > 1) args.drop(1).mkString(" ")
      else """SELECT doc_id, token_fingerprint(lower(text)) AS fp,
             |  element_at(multi_min_hash(split(trim(text), '\\s+'), 4, 3), 1) AS m0
             |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Tables.all.foreach { t =>
        Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
      }
      spark.sql(sql).show(100, truncate = false)
    } finally spark.stop()
  }
}
