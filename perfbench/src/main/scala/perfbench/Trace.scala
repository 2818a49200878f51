package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are nanoseconds since the run started;
  * `op` is the operation id every span of one operation shares. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    kind: String, start: Long, end: Long)

/** Work attributed to one operation, summed from Spark's own
  * instruments: task metrics from the scheduler listener, Catalyst
  * phase times from the query-execution listener, and micro-batch
  * progress from the streaming listener. */
final class Agg {
  var constructJobs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var resultBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  // streaming, per micro-batch
  val batchTriggerMs = mutable.ArrayBuffer.empty[Long]
  val durationsMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var stateRows = 0L
  var stateRowsUpdated = 0L
  var stateMemBytes = 0L
  var stateCommitMs = 0L

  def add(o: Agg): Unit = {
    constructJobs += o.constructJobs; jobs += o.jobs; stages += o.stages
    tasks += o.tasks; taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    resultBytes += o.resultBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    batchTriggerMs ++= o.batchTriggerMs
    o.durationsMs.foreach { case (k, v) => durationsMs(k) += v }
    stateRows += o.stateRows; stateRowsUpdated += o.stateRowsUpdated
    stateMemBytes += o.stateMemBytes; stateCommitMs += o.stateCommitMs
  }
}

/** Span and counter recorder. With tracing off only streaming progress
  * is collected (the end-to-end micro-batch times need it); spans, task
  * metrics and Catalyst phases are recorded only in a traced run. Spans
  * stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val aggs = new ConcurrentHashMap[String, Agg]()
  // job group -> (op id, phase span id); stream run id -> job group
  private val groups = new ConcurrentHashMap[String, (String, Long)]()
  private val streamGroups = new ConcurrentHashMap[String, String]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var currentOp: String = "setup"
  @volatile private var currentGroup: String = null
  // time spent inside this tracer's own listener callbacks
  private val callbackNs = new java.util.concurrent.atomic.AtomicLong(0L)

  def now(): Long = System.nanoTime() - t0Ns
  def newId(): Long = ids.incrementAndGet()
  def listenerSeconds: Double = callbackNs.get / 1e9

  def record(s: Span): Unit =
    if (enabled) spans.synchronized { spans += s }

  def agg(op: String): Agg = aggs.computeIfAbsent(op, _ => new Agg)

  def aggOf(op: String): Agg = Option(aggs.get(op)).getOrElse(new Agg)

  /** Names the job group of the phase about to run, so that the jobs it
    * starts are attributed to it and parented under `spanId`. */
  def enter(op: String, phase: String, spanId: Long): String = {
    val g = s"perfbench|$op|$phase"
    groups.put(g, (op, spanId))
    currentOp = op
    currentGroup = g
    g
  }

  private def timed[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  private def epochToRel(ms: Long): Long = (ms - t0Ms) * 1000000L

  private def owner(group: String): Option[(String, Long, String)] =
    Option(group).flatMap { g =>
      val resolved = Option(streamGroups.get(g)).getOrElse(g)
      Option(groups.get(resolved)).map { case (op, span) =>
        (op, span, resolved.substring(resolved.lastIndexOf('|') + 1))
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      owner(g).foreach { case (op, parent, phase) =>
        val a = agg(op)
        a.synchronized {
          a.jobs += 1
          if (phase == "construct") a.constructJobs += 1
        }
        val id = newId()
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(s => stageOwner.put(s, (op, id)))
        record(Span(id, parent, op, s"job ${e.jobId}", "job",
          epochToRel(e.time), epochToRel(e.time)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobSpan.remove(e.jobId)).foreach { id =>
        spans.synchronized {
          val i = spans.lastIndexWhere(_.id == id)
          if (i >= 0) spans(i) = spans(i).copy(end = epochToRel(e.time))
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val info = e.stageInfo
      Option(stageOwner.get(info.stageId)).foreach { case (op, jobId) =>
        val a = agg(op)
        a.synchronized { a.stages += 1 }
        for (s <- info.submissionTime; c <- info.completionTime)
          record(Span(newId(), jobId, op, s"stage ${info.stageId}", "stage",
            epochToRel(s), epochToRel(c)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageOwner.get(e.stageId)).foreach { case (op, _) =>
        if (m != null) {
          val info = e.taskInfo
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime
            else 0L
          val delay = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            gettingResult)
          val a = agg(op)
          a.synchronized {
            a.tasks += 1
            a.taskRunMs += m.executorRunTime
            a.taskCpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.schedDelayMs += delay
            a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
            a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            a.inputBytes += m.inputMetrics.bytesRead
            a.resultBytes += m.resultSize
          }
        }
      }
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val a = agg(currentOp)
      a.synchronized {
        a.analysisMs += ms("analysis")
        a.optimizationMs += ms("optimization")
        a.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // delivered synchronously with start(), so the current group is the
    // operation that started the stream
    override def onQueryStarted(e: QueryStartedEvent): Unit = timed {
      val g = currentGroup
      if (g != null) streamGroups.put(e.runId.toString, g)
    }

    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val g = Option(streamGroups.get(p.runId.toString))
      val (op, parent) = g.flatMap(x => Option(groups.get(x)))
        .getOrElse((currentOp, 0L))
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trigger = d.getOrElse("triggerExecution", 0L)
      val a = agg(op)
      a.synchronized {
        a.batchTriggerMs += trigger
        d.foreach { case (k, v) => a.durationsMs(k) += v }
        p.stateOperators.foreach { s =>
          a.stateRows += s.numRowsTotal
          a.stateRowsUpdated += s.numRowsUpdated
          a.stateMemBytes += s.memoryUsedBytes
          a.stateCommitMs += s.commitTimeMs
        }
      }
      if (enabled) {
        val start = epochToRel(java.time.Instant.parse(p.timestamp).toEpochMilli)
        record(Span(newId(), parent, op, s"batch ${p.batchId}", "batch",
          start, start + trigger * 1000000L))
      }
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Every recorded span with its self time: its duration minus the
    * part of it that its child spans cover. */
  private def withSelf(): Vector[(Span, Long)] = {
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.covered(s.start, s.end,
        children.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)))
      s -> (math.max(0L, s.end - s.start) - covered)
    }
  }

  /** Per span kind, the summed duration and self time in seconds. */
  def spanSummary(): Map[String, (Double, Double)] =
    withSelf().groupBy(_._1.kind).map { case (kind, xs) =>
      kind -> (xs.map(x => x._1.end - x._1.start).sum / 1e9, xs.map(_._2).sum / 1e9)
    }

  /** Summed self time of the spans of one kind that belong to `ofOps`. */
  def selfSeconds(kind: String, ofOps: Set[String]): Double =
    withSelf().collect { case (s, self) if s.kind == kind && ofOps(s.op) => self }
      .sum / 1e9

  def write(path: String, header: Map[String, Any]): Unit = {
    val all = spans.synchronized(spans.toVector)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(Json.render(header))
      all.sortBy(_.start).foreach { s =>
        out.println(Json.render(mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "kind" -> s.kind, "start_ns" -> s.start, "end_ns" -> s.end)))
      }
    } finally out.close()
  }
}

object Intervals {
  /** Length of the part of [start, end] covered by the union of `xs`. */
  def covered(start: Long, end: Long, xs: Seq[(Long, Long)]): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
