package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer or one streaming batch. Times are epoch
  * milliseconds (fractional); `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double, attrs: Map[String, String])

/** In-memory span recorder plus Spark's public listeners. Attached only in
  * the traced pass; timed passes run with no listener registered.
  *
  * Spans come from three places: the harness wraps each call it makes into
  * the system (`span`), the streaming listener turns each progress event
  * into a batch span with its phase children, and the scheduler listener
  * turns each job into a span whose parent is its batch (through the
  * `streaming.sql.batchId` local property) or the harness span that was
  * open on the submitting thread (through `perfbench.span`). */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile var enabled = false

  def nowMs: Double = System.nanoTime() / 1e6 + Tracer.offsetMs

  private def add(parent: Int, name: String, s: Double, e: Double,
                  attrs: Map[String, String]): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, s, e, attrs); id
  }

  /** Times `body` as a span under the innermost open span of this thread.
    * Records nothing while tracing is off. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = add(parent, name, nowMs, Double.NaN, attrs)
      stack.set(id :: stack.get)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", id.toString)
      try body finally {
        sc.setLocalProperty("perfbench.span", prevProp)
        stack.set(stack.get.tail)
        val end = nowMs
        synchronized { spans(id) = spans(id).copy(endMs = end) }
      }
    }

  // --- counters, summed over the traced window -----------------------------
  final class Counters {
    var jobs, batchJobs, stages, tasks = 0L
    var runMs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
    var cpuNs = 0L
    var skewMax, skewMedian = 0.0
    var analysisMs, optimizationMs, planningMs = 0L
    var sqlExecutions = 0L
    var batches = 0L
    var inputRows = 0L
    val batchList = mutable.ArrayBuffer.empty[Seq[Any]]
    var windowMs = 0.0
    val durations = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  var c = new Counters
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // (queryId, batchId) -> jobs, resolved to batch spans when written out
  private val batchOfJob = mutable.Map.empty[Int, (String, Long)]
  private val jobStart = mutable.Map.empty[Int, (Double, Int)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Double, Double, Option[(String, Long)], Int)]
  private val batchSpan = mutable.Map.empty[(String, Long), Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) Tracer.this.synchronized {
      c.jobs += 1
      val p = Option(e.properties)
      val batch = for {
        props <- p
        b <- Option(props.getProperty("streaming.sql.batchId"))
        q <- Option(props.getProperty("sql.streaming.queryId"))
      } yield (q, b.toLong)
      if (batch.isDefined) c.batchJobs += 1
      batch.foreach(batchOfJob(e.jobId) = _)
      val parent = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time.toDouble, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, parent) =>
        jobSpans += ((e.jobId, s, e.time.toDouble, batchOfJob.remove(e.jobId), parent))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) Tracer.this.synchronized {
      c.stages += 1
      taskTimes.remove(e.stageInfo.stageId).filter(_.size > 1).foreach { ts =>
        val sorted = ts.sorted
        c.skewMax += sorted.last
        c.skewMedian += sorted(sorted.size / 2)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) Tracer.this.synchronized {
        c.sqlExecutions += 1
        val ph = qe.tracker.phases
        c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        c.batches += 1
        c.inputRows += p.numInputRows
        c.batchList += Seq(p.id.toString, p.batchId)
        d.foreach { case (k, v) => c.durations(k) += v }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val total = d.getOrElse("triggerExecution", 0L)
        val id = add(-1, "batch", start, start + total, Map(
          "query" -> p.id.toString, "batchId" -> p.batchId.toString,
          "numInputRows" -> p.numInputRows.toString))
        batchSpan((p.id.toString, p.batchId)) = id
        // the micro-batch runs its phases in this order; the progress only
        // gives durations, so children are laid end to end
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").foreach { ph =>
          d.get(ph).foreach { ms => add(id, s"batch.$ph", t, t + ms, Map.empty); t += ms }
        }
      }
  }

  private var codegenAt: (Long, Long, Double) = (0L, 0L, 0.0)
  private var compileS, attachedAt = 0.0
  private var classes = 0L
  private def codegenNow(): (Long, Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      h.getSnapshot.getMean)
  }

  def attach(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegenAt = codegenNow()
    attachedAt = nowMs
    enabled = true
  }

  def detach(): Unit = if (enabled) {
    val (compile, k) = codegenSinceAttach()
    compileS += compile; classes += k
    c.windowMs += nowMs - attachedAt
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Zeroes the counters (spans stay), so they cover only what follows. */
  def resetCounters(): Unit = synchronized {
    c = new Counters
    compileS = 0.0; classes = 0L
    codegenAt = codegenNow(); attachedAt = nowMs
  }

  /** Milliseconds spent attached, the current window included. */
  def windowMs: Double = c.windowMs + (if (enabled) nowMs - attachedAt else 0.0)

  /** The compile-time histogram keeps a sample, not a sum, so time is the
    * number of compiles times the sample mean (milliseconds). */
  private def codegenSinceAttach(): (Double, Long) = {
    val (n1, k1, mean) = codegenNow()
    ((n1 - codegenAt._1) * mean / 1000.0, k1 - codegenAt._2)
  }

  /** Codegen seconds and generated classes over every attached window. */
  def codegen(): (Double, Long) =
    if (!enabled) (compileS, classes)
    else { val (s, k) = codegenSinceAttach(); (compileS + s, classes + k) }

  /** For the spans named `name` opened since `sinceMs`: how many, their
    * total milliseconds, the jobs they submitted and those jobs' milliseconds. */
  def spanJobs(name: String, sinceMs: Double): (Int, Double, Int, Double) = synchronized {
    val ss = spans.filter(s => s.name == name && s.startMs >= sinceMs)
    val ids = ss.map(_.id).toSet
    val js = jobSpans.filter(j => ids(j._5))
    (ss.size, ss.map(s => s.endMs - s.startMs).sum, js.size, js.map(j => j._3 - j._2).sum)
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val all = spans ++ jobSpans.map { case (jobId, s, e, batch, parent) =>
      val p = batch.flatMap(batchSpan.get).getOrElse(parent)
      Span(-1, p, "job", s, e, Map("jobId" -> jobId.toString))
    }
    val lines = all.map { sp =>
      val attrs = sp.attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      f"""{"id":${sp.id},"parent":${sp.parent},"name":"${sp.name}",""" +
        f""""start_ms":${sp.startMs}%.3f,"end_ms":${sp.endMs}%.3f,"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private val offsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}
