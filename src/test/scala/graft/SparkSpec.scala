package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Reference connected components: each vertex labeled with the
    * minimum id reachable from it, by a driver-side union-find. */
  def unionFindLabels(vertices: Iterable[Long],
                      edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val uf = new graft.operators.LongUnionFind
    edges.foreach { case (u, v) => uf.union(u, v) }
    vertices.map(v => v -> uf.find(v)).toMap
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
