package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.domain.{Fixtures, Ops}
import graft.sources.delta.{DeltaLog, DeltaTable}
import graft.streaming.CdcIngest

/** The system side of the benchmark: one JVM that drives the CDC pipeline
  * only through its public functions, on the envelope files the generator
  * publishes, and answers line commands from `run.py` on stdin.
  *
  * Replies are single lines `PB <json>` on stdout; everything else the JVM
  * prints is log noise. Commands:
  *   - `drain <k>`: ingest the backlog in `in/backlog-k` with
  *     `Trigger.AvailableNow`;
  *   - `trace on|off`: register or remove the listeners;
  *   - `finish`: let the paced query catch up, stop it, time the reports,
  *     time the snapshot and read, dump the table and the report for the
  *     correctness check, measure live heap after a full GC;
  *   - `speedup <dir>`: drain `dir` into a fresh preloaded table at
  *     local[N] and at local[1] (traced pass only).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    new Harness(Paths.get(opt("dir")).toAbsolutePath, opt("workload"),
      opt("cores").toInt, opt("trace") == "1").run()
  }

  // A scattered-key merge rewrites about the whole table whatever its size,
  // so a backlog (10 files) drains in one large batch; with two or more, the
  // event-to-commit median would sit on the step between the batches' groups
  // of events. Recent-key files are merged one per batch.
  val BacklogFilesPerTrigger = 10
  // The report's code is still being compiled after the load: over thirty
  // consecutive reports on the paced table, some runs kept speeding up from
  // 0.7 s to 0.5 s. Twelve untimed reports keep most of that trend out of
  // the timed ones; with six, the timed median's spread between runs was
  // about one and a half times as wide.
  val UntimedReports = 12
  val TimedReports = 9

  def reply(fields: (String, Any)*): Unit = {
    def js(v: Any): String = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
      case other => other.toString
    }
    println("PB " + fields.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}"))
    System.out.flush()
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the same session settings graft.Bench uses for its board
      .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the status store keeps finished jobs for the UI, which is off; a
      // small cap keeps end-of-run heap from growing with the work done
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", dir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Harness(dir: Path, workload: String, cores: Int, traced: Boolean) {
  import Harness._

  private val filesPerTrigger = if (workload == "cdc_paced") 1 else BacklogFilesPerTrigger

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val table = dir.resolve("table").toString
  private val reportMs = mutable.ArrayBuffer.empty[Double]
  private val reportMsTraced = mutable.ArrayBuffer.empty[Double]
  private var setupEndMs = 0.0

  private def in(name: String) = dir.resolve("in").resolve(name).toString
  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  private def preload(into: String): Unit = tracer.span("delta.write.preload") {
    // the Debezium snapshot ('r' envelopes) decoded by the system; the
    // snapshot files hold consecutive ids and coalesce keeps that order
    // without a shuffle, so the table's 16 files are clustered by id and
    // merges of recent keys touch few of them
    DeltaTable.write(Ops.decodeCdc(spark.read.text(in("preload"))).coalesce(16), into,
      SaveMode.Overwrite)
  }

  /** Starts the system's CDC → Delta MERGE query on `source`. */
  private def ingest(source: String, into: String, cp: String, appId: String,
                     trigger: Trigger, maxFiles: Option[Int]): StreamingQuery =
    tracer.span("streaming.start", Map("appId" -> appId)) {
      val r = spark.readStream.format("text")
      val raw = maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).load(source)
      CdcIngest.startIngestDeltaMerge(raw, into, cp, appId, trigger)
    }

  /** Drains a directory of envelope files with AvailableNow; returns the
    * query start (epoch ms) and the wall time to termination. */
  private def drain(source: String, into: String, appId: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val q = ingest(source, into, dir.resolve("cp").resolve(appId).toString, appId,
      Trigger.AvailableNow(), Some(filesPerTrigger))
    tracer.span("streaming.drain", Map("appId" -> appId)) { q.awaitTermination() }
    q.exception.foreach(e => throw e)
    (startMs, ms(t0))
  }

  private def employees = Fixtures.employees(spark)

  /** The reference's prime report over the table ingest built. */
  private def report(): DataFrame = {
    val emp = employees
    Ops.benefitReport(Ops.buildFinal(emp, Ops.validateCommutes(emp),
      DeltaTable.read(spark, table)))
  }

  private def timedReport(): Unit = {
    // the same hygiene graft.Bench applies before each timed query
    spark.catalog.clearCache()
    System.gc()
    val t0 = System.nanoTime()
    tracer.span("report") { report().write.mode("overwrite").format("noop").save() }
    (if (tracer.enabled) reportMsTraced else reportMs) += ms(t0)
  }

  def run(): Unit = {
    Files.createDirectories(dir.resolve("tmp"))
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    spark = session(cores, dir)
    tracer = new Tracer(spark)
    if (traced) tracer.attach()
    val phases = mutable.LinkedHashMap("session" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; phases(name) = ms(t0) / 1000.0
    }
    // the generator writes the preload while the session starts
    reply("session" -> true)
    phase("wait_for_input")(require(stdin.readLine() == "setup", "expected setup"))
    tracer.span("setup") {
      phase("preload")(preload(table))
      // JIT and codegen warm-up on the same table, under its own appId so
      // the measured query's txn marks start clean
      phase("warmup")(drain(in("warmup"), table, "perfbench-warmup"))
      phase("report")(timedReport())
    }
    reportMs.clear(); reportMsTraced.clear()
    val paced =
      if (workload == "cdc_paced")
        Some(ingest(in("paced"), table, dir.resolve("cp").resolve("paced").toString,
          "graft-cdc-merge", Trigger.ProcessingTime(0L), None))
      else None
    if (traced) { tracer.detach(); tracer.resetCounters() }
    setupEndMs = tracer.nowMs
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    reply("ready" -> true, "setup_s" -> setupS, "setup_phases_s" -> phases.toMap)

    var line = stdin.readLine()
    while (line != null) {
      line.trim.split(" ").toList match {
        case "trace" :: "on" :: Nil => tracer.attach(); reply("trace" -> true)
        case "trace" :: "off" :: Nil => tracer.detach(); reply("trace" -> false)
        case "drain" :: k :: Nil =>
          val appId = s"graft-cdc-merge-$k"
          val wasTraced = tracer.enabled
          val (startMs, wallMs) = drain(in(s"backlog-$k"), table, appId)
          reply("drained" -> k.toInt, "app_id" -> appId, "start_ms" -> startMs,
            "wall_ms" -> wallMs, "traced" -> wasTraced)
        case "finish" :: Nil =>
          paced.foreach { q =>
            q.processAllAvailable()
            q.stop()
            q.exception.foreach(e => throw e)
          }
          finish()
        case "speedup" :: src :: Nil => speedup(src)
        case "quit" :: Nil => line = null
        case other => sys.error(s"unknown command: $other")
      }
      if (line != null) line = stdin.readLine()
    }
    if (spark != null) spark.stop()
  }

  private def finish(): Unit = {
    // the layer counters cover the streaming work only; the reports below
    // are measured through their own spans and the jobs under them
    val traceStats = if (tracer.enabled) layerStats() else Map.empty[String, Any]
    (1 to UntimedReports).foreach(_ => report().write.mode("overwrite").format("noop").save())
    (1 to TimedReports).foreach(_ => timedReport())
    val t0 = System.nanoTime()
    val snap = tracer.span("delta.snapshot") { DeltaLog.snapshot(spark, table) }
    val snapshotMs = ms(t0)
    val t1 = System.nanoTime()
    tracer.span("delta.read") {
      DeltaTable.read(spark, table).write.mode("overwrite").format("noop").save()
    }
    val readMs = ms(t1)
    val (reports, reportSpanMs, reportJobs, reportJobMs) = tracer.spanJobs("report", setupEndMs)
    val wasTraced = tracer.enabled
    if (traced) tracer.write(dir.resolve("spans.jsonl"))
    if (tracer.enabled) tracer.detach()

    // untimed dumps for the correctness check in check.py
    DeltaTable.read(spark, table)
      .withColumn("start_datetime", unix_micros(col("start_datetime")))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("out/table").toString)
    report().coalesce(1).write.mode("overwrite").parquet(dir.resolve("out/report").toString)
    // the raw fixture rows and the stubbed distance API's answer; check.py
    // applies the commute rule itself, so validateCommutes is checked too
    employees
      .select(col("id_employee"), col("gross_salary"), col("business_unity"),
        col("constract_type"), col("transport_mode"),
        Fixtures.distanceMeters(col("address")).as("distance_m"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("out/employees").toString)

    // ContextCleaner drops unreferenced broadcasts and shuffles only after
    // a GC has enqueued them, so collect, let it run, and collect again
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    reply("finished" -> true, "report_ms" -> reportMs, "report_ms_traced" -> reportMsTraced,
      "snapshot_ms" -> snapshotMs, "read_ms" -> readMs,
      "live_files" -> snap.files.size, "live_bytes" -> snap.files.map(_.size).sum,
      "live_heap_mb" -> heap, "traced" -> wasTraced, "reports_traced" -> reports,
      "report_span_ms" -> reportSpanMs, "report_jobs" -> reportJobs,
      "report_job_ms" -> reportJobMs, "layers" -> traceStats)
  }

  private def layerStats(): Map[String, Any] = {
    val c = tracer.c
    val (compileS, classes) = tracer.codegen()
    Map(
      "batches" -> c.batches, "input_rows" -> c.inputRows, "batch_list" -> c.batchList,
      "window_ms" -> tracer.windowMs,
      "durations_ms" -> c.durations.toMap,
      "jobs" -> c.jobs, "batch_jobs" -> c.batchJobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "sql_executions" -> c.sqlExecutions,
      "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs,
      "task_run_ms" -> c.runMs, "task_cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
      "shuffle_read_b" -> c.shuffleRead, "shuffle_write_b" -> c.shuffleWrite,
      "spill_b" -> c.spill, "input_b" -> c.input, "output_b" -> c.output,
      "skew_max_ms" -> c.skewMax, "skew_median_ms" -> c.skewMedian,
      "codegen_compile_s" -> compileS, "codegen_classes" -> classes)
  }

  /** Drains the same backlog into a fresh preloaded table at local[N] and
    * at local[1], each in a new session of this already warm JVM. */
  private def speedup(src: String): Unit = {
    val rates = Seq(cores, 1).map { n =>
      spark.stop()
      spark = session(n, dir)
      tracer = new Tracer(spark)
      val t = dir.resolve(s"table-$n-core").toString
      preload(t)
      val (_, wallMs) = drain(in(src), t, s"speedup-$n")
      n -> wallMs
    }.toMap
    reply("speedup" -> true, "wall_ms_n" -> rates(cores), "wall_ms_1" -> rates(1))
  }
}
