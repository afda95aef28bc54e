package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.CidEtl

/** The benchmark's JVM side. `run.py` prepares inputs and builds; this
  * object runs one workload and writes raw timings (and, traced, raw
  * listener records) as JSON for `run.py` to reduce.
  *
  * Modes:
  *  - `oracle-sql --queries a,b --out f.json`: the DuckDB oracle SQL of
  *    the named queries, as given by `SparkEntry.oracleSql`.
  *  - `hash --dir d --queries a,b --out f.json`: canonical hashes of
  *    the oracle results `d/<name>.parquet`.
  *  - `setup ...`: start a session and record the time from process
  *    launch (`--launched-ms`, taken by `run.py` just before it starts
  *    the JVM) until the session is ready: one set-up sample.
  *  - `run ...`: one benchmark run; see [[run]].
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("oracle-sql") =>
        val sql = SparkEntry.oracleSql
        val out = names(o).map(n => n -> sql.getOrElse(n,
          throw new IllegalArgumentException(s"$n has no oracle"))).toMap
        write(o("out"), out)
      case Some("hash") =>
        val spark = session(o)
        val out = names(o).map { n =>
          val df = spark.read.parquet(s"${o("dir")}/$n.parquet")
          val rows = df.collect()
          n -> Expected(Canon.hash(df.schema, rows), Canon.columns(df.schema),
            rows.length.toLong)
        }.toMap
        write(o("out"), out)
        spark.stop()
      case Some("setup") =>
        val spark = session(o)
        write(o("out"), Map("setup_s" -> setupSeconds(o)))
        spark.stop()
      case Some("run") => run(o)
      case other =>
        throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  final case class Expected(hash: String, columns: Seq[String], rows: Long)

  private def names(o: Map[String, String]): Seq[String] =
    o("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json.writeValueAsBytes(v))

  /** Seconds from process launch until now. */
  private def setupSeconds(o: Map[String, String]): Double =
    (System.currentTimeMillis() - o("launched-ms").toLong) / 1e3

  private def session(o: Map[String, String]): SparkSession = {
    val cores = o("cores")
    val work = o("work")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class OpRecord(name: String, pass: Int, startMs: Long,
                            endMs: Long, seconds: Double, buildS: Double,
                            planS: Double, execS: Double, rows: Long,
                            compiles: Long, gcS: Double, cpuS: Double,
                            ok: Boolean, error: String)
  final case class PassRecord(pass: Int, traced: Boolean, startMs: Long,
                              endMs: Long, seconds: Double)

  /** One workload op. `apply` runs it through `phase`, which tags the
    * jobs launched by each named step and returns the step's seconds,
    * and returns (result rows, error or "" when the output matched,
    * build, plan and exec seconds).
    */
  private trait Op {
    def name: String
    def apply(spark: SparkSession, phase: (String, () => Unit) => Double)
        : (Long, String, Double, Double, Double)
  }

  private final class QueryOp(val name: String, dataDir: String,
                              expected: Expected) extends Op {
    private val fn = SparkEntry.queries(name)
    def apply(spark: SparkSession, phase: (String, () => Unit) => Double) = {
      var df: DataFrame = null
      var rows: Array[org.apache.spark.sql.Row] = null
      val b = phase("build", () => df = fn(spark, dataDir))
      val p = phase("plan", () => df.queryExecution.executedPlan)
      val e = phase("exec", () => rows = df.collect())
      val cols = Canon.columns(df.schema)
      val err =
        if (cols != expected.columns) s"columns $cols != ${expected.columns}"
        else if (rows.length != expected.rows)
          s"${rows.length} rows != ${expected.rows}"
        else if (Canon.hash(df.schema, rows) != expected.hash) "hash mismatch"
        else ""
      (rows.length.toLong, err, b, p, e)
    }
  }

  /** One CidEtl entry point writing its BOM CSV; the output must equal
    * the generator's expected file, BOM and header byte for byte, data
    * lines as a sorted multiset (the pipeline fixes no row order). */
  private final class CidOp(val name: String, cidDir: String, out: String,
                            call: (SparkSession, String) => Unit) extends Op {
    private def lines(path: String): (String, Seq[String]) = {
      val all = new String(Files.readAllBytes(Paths.get(path)),
        StandardCharsets.UTF_8).split("\n", -1).toSeq
      (all.head, all.tail.filter(_.nonEmpty).sorted)
    }
    private lazy val want = lines(s"$cidDir/expected_$name.csv")
    def apply(spark: SparkSession, phase: (String, () => Unit) => Double) = {
      val e = phase("exec", () => call(spark, out))
      val got = lines(out)
      val err =
        if (got._1 != want._1) "header or BOM differs"
        else if (got._2.size != want._2.size)
          s"${got._2.size} rows != ${want._2.size}"
        else if (got._2 != want._2) "data lines differ"
        else ""
      (got._2.size.toLong, err, 0.0, 0.0, e)
    }
  }

  private def cidOps(cidDir: String, work: String): Seq[Op] = {
    val date = LocalDate.of(2026, 1, 15)
    val s = s"$cidDir/structured"
    Seq(
      new CidOp("combined", cidDir, s"$work/out_combined.csv", (spark, out) =>
        CidEtl.runCombined(spark, s"$s/datasus.csv", s"$s/chapters.csv",
          s"$s/blocks.csv", s"$s/categories.csv", s"$s/subcategories.csv",
          out, date)),
      new CidOp("dir", cidDir, s"$work/out_dir.csv", (spark, out) =>
        CidEtl.runFromDatasusDir(spark, s"$cidDir/official", out, date)))
  }

  /** One run: set up the session from process launch, run one cold
    * pass over every op, then warm passes until `--seconds` have gone.
    * Each query pass runs the ops in an order drawn from the seed. With
    * `--trace 1`, listeners are attached on the cold pass and on even
    * warm passes; odd warm passes run bare, at least one on each side of
    * a traced one, so the run measures its own tracing overhead.
    */
  private def run(o: Map[String, String]): Unit = {
    val spark = session(o)
    val setup = setupSeconds(o)

    val work = o("work")
    val ops: Seq[Op] = o("workload") match {
      case "cid_etl" => cidOps(o("cid"), work)
      case _ =>
        val expected = json.readValue(new File(o("expected")),
          classOf[Map[String, Map[String, Any]]])
        names(o).map { n =>
          val e = expected(n)
          new QueryOp(n, o("data"), Expected(e("hash").toString,
            e("columns").asInstanceOf[Seq[String]],
            e("rows").toString.toLong))
        }
    }
    // cid_etl runs as its CLI users run it, one process per run, so
    // each of its passes starts with Spark's generated-code cache empty.
    // Left warm, the cache (100 entries, keyed by class loader) is
    // smaller than the pipeline's working set, and how many of the
    // CASE chain's classes get evicted changes from pass to pass: warm
    // dir-mode time swings between ~4 and ~11 s with 0 to 20
    // compilations. Its ops keep one order, since warm dir-mode time
    // also depends on which mode ran first.
    val cidEtl = o("workload") == "cid_etl"
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val trace = new Trace
    val sc = spark.sparkContext

    val opRecords = Seq.newBuilder[OpRecord]
    val passRecords = Seq.newBuilder[PassRecord]
    val passTraces = Seq.newBuilder[Map[String, Any]]

    // Janino compilations, i.e. misses of Spark's generated-code cache;
    // JVM-wide GC time; CPU time of the whole process.
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val gcs = ManagementFactory.getGarbageCollectorMXBeans
    def gcMs = { var t = 0L; gcs.forEach(g => t += g.getCollectionTime); t }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def phase(name: String, body: () => Unit): Double = {
      sc.setLocalProperty(Trace.PhaseKey, name)
      val t0 = System.nanoTime()
      try body() finally sc.setLocalProperty(Trace.PhaseKey, null)
      (System.nanoTime() - t0) / 1e9
    }

    def runPass(pass: Int, withTrace: Boolean): Unit = {
      if (withTrace) {
        sc.addSparkListener(trace)
        spark.listenerManager.register(trace)
      }
      if (cidEtl) org.apache.spark.SparkInternals.flushGeneratedCode()
      val order = if (cidEtl) ops
        else new Random(seed * 1000003L + pass).shuffle(ops)
      val p0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      order.foreach { op =>
        sc.setLocalProperty(Trace.OpKey, op.name)
        val s0 = System.currentTimeMillis()
        val c0 = compiles.getCount
        val g0 = gcMs
        val u0 = os.getProcessCpuTime
        val n0 = System.nanoTime()
        val (rows, err, b, p, e) =
          try op(spark, phase)
          catch { case ex: Throwable =>
            (0L, s"${ex.getClass.getSimpleName}: ${ex.getMessage}", 0.0, 0.0, 0.0)
          }
        val secs = (System.nanoTime() - n0) / 1e9
        val s1 = System.currentTimeMillis()
        sc.setLocalProperty(Trace.OpKey, null)
        opRecords += OpRecord(op.name, pass, s0, s1, secs, b, p, e, rows,
          compiles.getCount - c0, (gcMs - g0) / 1e3,
          (os.getProcessCpuTime - u0) / 1e9, err.isEmpty, err)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val p1 = System.currentTimeMillis()
      passRecords += PassRecord(pass, withTrace, p0, p1, secs)
      if (withTrace) {
        org.apache.spark.SparkInternals.drain(sc)
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
        val (jobs, tasks, actions) = trace.drainAll()
        val ends = jobs.map(j => j.id -> trace.jobEnds.remove(j.id)).toMap
        passTraces += Map(
          "pass" -> pass,
          "jobs" -> jobs.sortBy(_.id).map { j =>
            val (endMs, ok) = Option(ends(j.id)).getOrElse((j.submitMs, false))
            Map("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> endMs,
              "ok" -> ok, "op" -> j.op, "phase" -> j.phase,
              "call_site" -> j.execution.flatMap(x =>
                Option(trace.executions.get(x))).getOrElse(j.callSite),
              "stages" -> j.stages)
          },
          "tasks" -> tasks.map(t => Seq(t.stage, t.launchMs, t.finishMs,
            if (t.failed) 1 else 0, t.runMs, t.cpuNs, t.gcMs, t.shuffleWrite,
            t.shuffleRead, t.fetchWaitMs, t.spill, t.inputBytes,
            t.inputRecords, t.outputBytes)),
          "actions" -> actions.map(a => Map("start_ms" -> a.startMs,
            "analysis_s" -> a.analysisS, "optimization_s" -> a.optimizationS,
            "planning_s" -> a.planningS)))
      }
    }

    runPass(0, traced)
    val w0 = System.nanoTime()
    var pass = 1
    def more =
      (System.nanoTime() - w0) / 1e9 < seconds || (traced && pass <= 3)
    while (more) {
      runPass(pass, traced && pass % 2 == 0)
      pass += 1
    }

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0)
    write(o("out"), Map(
      "setup_s" -> setup,
      "cores" -> o("cores").toInt,
      "peak_rss_mb" -> hwm,
      "passes" -> passRecords.result(),
      "ops" -> opRecords.result(),
      "task_fields" -> Seq("stage", "launch_ms", "finish_ms", "failed",
        "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "shuffle_read_b",
        "fetch_wait_ms", "spill_b", "input_b", "input_records", "output_b"),
      "trace" -> passTraces.result()))
    spark.stop()
  }
}
