package perfbench

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the operation span the interval
  * belongs to; `parent` is 0 for an operation span. Times are epoch µs. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** Counters of one operation, filled by the listeners (traced runs) and by
  * the harness (leaks, always). */
final class OpStats(val name: String, val pass: Int) {
  var wallS = 0.0
  var ok = true
  var error = ""
  var jobs, stages, tasks = 0L
  var execRunMs, execCpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var planMs = 0L
  var scanFiles = -1L
  var filesWritten = 0L
  var leakedEntries, leakedBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def addScanFiles(n: Long): Unit =
    scanFiles = if (scanFiles < 0) n else scanFiles + n
}

/** A micro-batch reported by a stream's progress event. */
final case class Trigger(query: String, batchId: Long, rows: Long,
    start: Long, durations: Map[String, Long])

/** The harness's own instrumentation, attached from outside the library:
  *  - a `StreamingQueryListener` for per-trigger durations (always on: the
  *    ingest workload's latency metric is built from it);
  *  - with `traced`, a `SparkListener` (jobs, stages, task metrics) and a
  *    `QueryExecutionListener` (planning phases, scanned and written files),
  *    plus spans around every harness call into a layer.
  * Jobs are attributed to the innermost open span through a local
  * property; everything else to the operation in flight, which is safe
  * because there is one client and the bus is drained between operations.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val triggers = mutable.ArrayBuffer.empty[Trigger]
  @volatile private var stack = List.empty[Long]
  @volatile private var opId = 0L
  @volatile private var cur: OpStats = new OpStats("setup", -1)

  private val SpanKey = "perfbench.span"
  // stage -> (stats, parent job span id); job -> (stats, span id, start ms)
  private val stageOwner = mutable.Map.empty[Int, (OpStats, Long)]
  private val jobOwner = mutable.Map.empty[Int, (OpStats, Long, Long)]
  private val spanOp = mutable.Map.empty[Long, (OpStats, Long)]

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  private def ownerOf(props: Properties): (OpStats, Long, Long) = {
    val id = Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    spanOp.synchronized(spanOp.get(id)) match {
      case Some((st, op)) => (st, id, op)
      case None => (cur, stack.headOption.getOrElse(0L), opId)
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (st, parent, op) = ownerOf(e.properties)
      val id = ids.incrementAndGet()
      st.jobs += 1
      jobOwner(e.jobId) = (st, id, e.time)
      e.stageIds.foreach(s => stageOwner(s) = (st, id))
      record(Span(id, parent, op, "spark.job", e.time * 1000L, e.time * 1000L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOwner.remove(e.jobId).foreach { case (st, id, start) =>
        st.jobSpans += ((start, e.time))
        spans.synchronized {
          val i = spans.lastIndexWhere(_.id == id)
          if (i >= 0) spans(i) = spans(i).copy(end = e.time * 1000L)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stageOwner.get(info.stageId).foreach { case (st, job) =>
        st.stages += 1
        val m = info.taskMetrics
        if (m != null) {
          st.execRunMs += m.executorRunTime
          st.execCpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.inputBytes += m.inputMetrics.bytesRead
          st.outputBytes += m.outputMetrics.bytesWritten
        }
        val op = spans.synchronized(spans.find(_.id == job).map(_.op))
          .getOrElse(opId)
        for (s <- info.submissionTime; c <- info.completionTime)
          record(Span(ids.incrementAndGet(), job, op, "spark.stage",
            s * 1000L, c * 1000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOwner.get(e.stageId).foreach { case (st, _) =>
        st.tasks += 1
        val i = e.taskInfo
        val m = e.taskMetrics
        if (m != null && i.finishTime > 0) {
          val overhead = m.executorDeserializeTime + m.resultSerializationTime
          st.schedDelayMs += math.max(0L, i.finishTime - i.launchTime -
            m.executorRunTime - overhead - i.gettingResultTime)
        }
      }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries)
        .flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = {
      val st = cur
      st.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      planNodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => st.addScanFiles(m.value))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => st.filesWritten += m.value)
        case _ => ()
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        triggers.synchronized {
          triggers += Trigger(Option(p.name).getOrElse(p.id.toString),
            p.batchId, p.numInputRows, start,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    }
  }

  spark.streams.addListener(streamListener)
  if (traced) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Run one operation: an operation span, counters, and its leaks. */
  def op(name: String, pass: Int)(body: => Unit): OpStats = {
    val st = new OpStats(name, pass)
    drain()
    val id = ids.incrementAndGet()
    opId = id
    cur = st
    spanOp.synchronized(spanOp(id) = (st, id))
    val before = resources()
    stack = List(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = nowUs
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable =>
        st.ok = false
        st.error = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
        System.err.println(s"[perfbench] $name failed: ${st.error}")
    }
    st.wallS = (System.nanoTime() - t0) / 1e9
    val end = nowUs
    sc.setLocalProperty(SpanKey, null)
    stack = Nil
    drain()
    record(Span(id, 0L, id, s"op.$name", start, end))
    val after = resources()
    st.leakedEntries = math.max(0L, after._1 - before._1)
    st.leakedBytes = math.max(0L, after._2 - before._2)
    release(name)
    cur = new OpStats("between", -1)
    opId = 0L
    st
  }

  /** A harness call into one layer, as a child span of the open span. */
  def call[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      spanOp.synchronized(spanOp(id) = (cur, opId))
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowUs
      try body
      finally {
        record(Span(id, parent, opId, name, start, nowUs))
        stack = stack.tail
        sc.setLocalProperty(SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  def drain(): Unit = BusBridge.drain(sc)

  /** (CacheManager entries + persistent RDDs, bytes held by RDD blocks). */
  def resources(): (Long, Long) = {
    val cached = try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm) match {
        case s: scala.collection.Iterable[_] => s.size.toLong
        case _ => 0L
      }
    } catch { case _: ReflectiveOperationException => 0L }
    val rdds = sc.getPersistentRDDs.size.toLong
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (cached + rdds, bytes)
  }

  /** Release what an operation left behind, the way `graft.Bench` does:
    * drop CacheManager entries, then the remaining persistent RDDs (the
    * localCheckpoint blocks). Logs every release that freed something. */
  def release(after: String): Unit = {
    val (n, bytes) = resources()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (n > 0)
      System.err.println(
        s"[perfbench] release after $after freed $n entries, $bytes bytes")
  }
}
