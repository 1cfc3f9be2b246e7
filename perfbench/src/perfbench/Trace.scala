package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Times are `System.nanoTime` values; `parent` is 0
  * for an operation's root span. Spans of one operation share `trace`. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder plus Spark listeners for the traced run.
  *
  * The benchmark opens spans around its own calls into each layer. Spark
  * jobs become child spans of whatever span was open on the driver thread
  * when the job started: the open span's id travels to the scheduler as
  * the local property [[SpanProp]]. Counters from task, stage, streaming
  * and query-execution events accumulate only while [[recording]]; they
  * come from the SparkContext's listener bus, so they also cover the
  * sessions the engine opens itself (`spark.newSession()` for streaming).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private def newId(): Long = synchronized { val id = nextId; nextId += 1; id }
  private var open: List[Long] = Nil
  private var trace = 0L
  @volatile var recording = false

  // epoch-ms listener timestamps mapped onto the nanoTime clock
  private val epochBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private def nanoOf(epochMs: Long): Long = nanoBase + (epochMs - epochBaseMs) * 1000000L

  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val jobs = mutable.HashMap[Int, (Long, Long, Long)]() // id -> (trace, parent, startNs)
  private val triggerMs = mutable.ArrayBuffer[Double]()

  /** Runs `body` as the root span of a new operation (a new trace id). */
  def op[T](name: String)(body: => T): T = {
    trace += 1
    sc.setLocalProperty(TraceProp, trace.toString)
    try span(name)(body) finally sc.setLocalProperty(TraceProp, null)
  }

  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val id = newId()
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
      synchronized { spans += Span(id, trace, parent, name, t0, t1) }
    }
  }

  /** Records a span measured elsewhere (the per-batch layer replays). */
  def record(name: String, startNs: Long, endNs: Long): Unit = if (recording) {
    val span = Span(newId(), trace, open.headOption.getOrElse(0L), name, startNs, endNs)
    synchronized { spans += span }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
      Tracer.this.synchronized { jobs(e.jobId) = (prop(TraceProp), prop(SpanProp), nanoOf(e.time)) }
      add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach { case (tr, parent, t0) =>
        spans += Span(newId(), tr, parent, "spark.job", t0, nanoOf(e.time).max(t0))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      add("scheduler.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("executor.task_cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("executor.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("executor.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) e match {
      case p: StreamingQueryListener.QueryProgressEvent => Tracer.this.synchronized {
        counts("streaming.micro_batches") += 1
        Option(p.progress.durationMs.get("triggerExecution")).foreach(v => triggerMs += v.doubleValue)
      }
      case end: SparkListenerSQLExecutionEnd =>
        SparkInternals.queryExecution(end).foreach(_.tracker.phases.foreach { case (phase, s) =>
          add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
        })
      case _ => ()
    }
  }

  /** Starts recording: registers the listener. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    recording = true
  }

  /** Stops recording once every event already posted has been delivered. */
  def stop(): Unit = {
    SparkInternals.drainListenerBus(sc)
    recording = false
    sc.removeSparkListener(sparkListener)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def meanTriggerMs: Double = synchronized {
    if (triggerMs.isEmpty) 0.0 else triggerMs.sum / triggerMs.size
  }

  /** Wall time of root spans not covered by any Spark job of the same trace. */
  def outsideJobsS(roots: Seq[Span]): Double = {
    val jobsByTrace = allSpans.filter(_.name == "spark.job").groupBy(_.trace)
    roots.map { r =>
      val covered = union(jobsByTrace.getOrElse(r.trace, Nil).map(j => (j.startNs, j.endNs)), r)
      (r.durNs - covered) / 1e9
    }.sum
  }

  /** Per span name: (count, total duration s, total self time s). Self time
    * is the span's duration minus the part of it its children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).filter(_.trace == s.trace)
        s.durNs - union(kids.map(k => (k.startNs, k.endNs)), s)
      }.sum
      (name, ss.size, ss.map(_.durNs).sum / 1e9, self / 1e9)
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    allSpans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - nanoBase},"end_ns":${s.endNs - nanoBase}}""")
    }
    sb.append("\n],\"self_time\":{")
    sb.append(selfTimes.map { case (n, c, tot, self) =>
      s""""$n":{"count":$c,"total_s":${Json.num(tot)},"self_s":${Json.num(self)}}"""
    }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val TraceProp = "perfbench.trace"
  val SpanProp = "perfbench.span"

  /** Length of the part of `outer` covered by the union of `intervals`. */
  def union(intervals: Seq[(Long, Long)], outer: Span): Long = {
    val clipped = intervals
      .map { case (a, b) => (a.max(outer.startNs), b.min(outer.endNs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
