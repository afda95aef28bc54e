package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` set to
    * `threshold` (unchanged for None), then restores the setting. */
  def withBroadcastThreshold[A](threshold: Option[String])(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    threshold.foreach(spark.conf.set(key, _))
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` and returns its result with the Spark jobs it launched
    * and the query executions that succeeded while it ran, as Spark's
    * listeners report them.
    */
  def traced[A](body: => A): (A, Int, Seq[QueryExecution]) = {
    val jobs = new AtomicInteger
    val queries = new ConcurrentLinkedQueue[QueryExecution]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        queries.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc) // earlier jobs' events must not reach these listeners
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, jobs.get, queries.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
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
