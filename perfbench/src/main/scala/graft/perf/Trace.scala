package graft.perf

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall time, epoch milliseconds (fractional). */
case class Span(name: String, start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Counters one op accumulates from listener events. Task and job counts
  * are keyed by the span the job was submitted under (the local property
  * [[Trace.SpanProp]]).
  */
final class OpStats {
  val jobs = mutable.ArrayBuffer[(Int, String, Double, Double)]() // id, span, start, end
  val jobStart = mutable.Map[Int, (String, Double)]()
  val plans = mutable.ArrayBuffer[Span]()
  val num = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = num(k) += v
}

/** Listener-based tracing. Jobs carry the op id and the current child span
  * as local properties ([[OpProp]], [[SpanProp]]) set by the benchmark
  * before each call; stage and task events are mapped to their op through
  * the stage's submission properties. Events without properties (query
  * planning phases, streaming progress) belong to the op that is running:
  * ops run one at a time and the bus is drained before the next starts.
  * Everything stays in memory until the run writes its records.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val ops = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, (String, String)]()
  @volatile private var current: String = null

  def stats(op: String): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  private def now: Double = System.currentTimeMillis().toDouble

  def begin(op: String): Unit = {
    current = op
    spark.sparkContext.setLocalProperty(OpProp, op)
  }

  /** Drain the bus so every event of `op` is in, then stop attributing. */
  def end(op: String): OpStats = {
    spark.sparkContext.setLocalProperty(OpProp, null)
    spark.sparkContext.setLocalProperty(SpanProp, null)
    org.apache.spark.PerfBus.drain(spark.sparkContext)
    current = null
    val s = stats(op)
    ops.remove(op)
    s
  }

  private def owner(props: java.util.Properties): (String, String) = {
    val op = Option(props).flatMap(p => Option(p.getProperty(OpProp))).orElse(Option(current))
    val span = Option(props).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
    (op.orNull, span)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (op, span) = owner(e.properties)
    if (op != null) {
      val s = stats(op)
      s.synchronized(s.jobStart(e.jobId) = (span, e.time.toDouble))
      e.stageIds.foreach(id => stageOp.put(id, (op, span)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ops.values.asScala.foreach { s =>
      s.synchronized(s.jobStart.remove(e.jobId).foreach { case (span, t0) =>
        s.jobs += ((e.jobId, span, t0, e.time.toDouble))
      })
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val (op, span) = owner(e.properties)
    if (op != null) stageOp.putIfAbsent(e.stageInfo.stageId, (op, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { case (op, _) =>
      val s = stats(op)
      s.synchronized(s.add("stages", 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { case (op, span) =>
      val s = stats(op)
      s.synchronized {
        s.add("tasks", 1)
        if (!e.taskInfo.successful) s.add("task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add(s"bytes_read:$span", m.inputMetrics.bytesRead.toDouble)
          s.add(s"records_read:$span", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Option(current).foreach { op =>
      val s = stats(op)
      s.synchronized(qe.tracker.phases.values.foreach { p =>
        s.plans += Span("catalyst.plan", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(current).foreach { op =>
        val s = stats(op)
        s.synchronized {
          s.add("stream_batches", 1)
          s.add("stream_rows", e.progress.numInputRows.toDouble)
          s.add("stream_batch_s", e.progress.batchDuration / 1e3)
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val OpProp = "graft.perf.op"
  val SpanProp = "graft.perf.span"

  /** Split an op's wall time over its layers. Every instant of the root
    * span goes to the innermost span covering it: a Spark job, then a
    * Catalyst planning phase, then the benchmark's child span (the module
    * call, the sink write, a pipeline stage); instants no span covers are
    * "unattributed". The parts sum to the op's wall time exactly.
    */
  def selfTimes(root: Span, children: Seq[Span], plans: Seq[Span],
      jobs: Seq[Span]): Map[String, Double] = {
    val layers = Seq(jobs.map(_.copy(name = "spark.jobs")), plans, children)
    val clip = (s: Span) => Span(s.name, math.max(s.start, root.start), math.min(s.end, root.end))
    val all = layers.map(_.map(clip).filter(_.dur > 0))
    val cuts = (Seq(root.start, root.end) ++ all.flatten.flatMap(s => Seq(s.start, s.end)))
      .distinct.sorted
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val name = all.iterator
        .flatMap(_.find(s => s.start <= mid && mid < s.end)).nextOption()
        .map(_.name).getOrElse("unattributed")
      out(name) += (b - a) / 1e3
    }
    out.toMap
  }

  /** Length of the union of `spans`, seconds. */
  def covered(spans: Seq[Span]): Double = {
    var total, reach = 0.0
    var first = true
    spans.sortBy(_.start).foreach { s =>
      if (first || s.start > reach) { total += s.dur; reach = s.end; first = false }
      else if (s.end > reach) { total += s.end - reach; reach = s.end }
    }
    total / 1e3
  }
}
