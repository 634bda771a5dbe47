package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** What one run records: raw samples by name (the Python side turns them
  * into medians and tails), counters, per-request observations for the
  * output checks, and set-up times. */
final class Rec {
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val obs = ArrayBuffer.empty[Any]
  val setup = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def inc(name: String, v: Double = 1.0): Unit =
    values(name) = values.getOrElse(name, 0.0) + v
  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  def json(extra: Map[String, Any]): String = Rec.json(Map(
    "samples" -> samples.toMap, "values" -> values.toMap, "obs" -> obs,
    "setup_s" -> setup, "attempted" -> attempted, "failed" -> failed,
    "errors" -> errors) ++ extra)
}

object Rec {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** JSON text of plain Scala values; `None` is written as null. */
  def json(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(
    org.json4s.DefaultFormats.preservingEmptyValues)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread), in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6
}

/** Spark-side events collected by the traced run's listeners. */
final case class JobEv(id: Int, start: Long, var end: Long, site: String)
final case class StageEv(tasks: Int, shuffleR: Long,
    shuffleW: Long, spill: Long, written: Long)
final case class QeEv(analysis: Long, optimize: Long, plan: Long,
    execMs: Double, files: Long, partitions: Long, scanRows: Long,
    roots: Seq[String])
final case class Events(jobs: Seq[JobEv], stages: Seq[StageEv], qes: Seq[QeEv]) {
  def jobMs: Double = jobs.map(j => (j.end - j.start).toDouble).sum
  def tasks: Int = stages.map(_.tasks).sum
  def shuffleBytes: Long = stages.map(s => s.shuffleR + s.shuffleW).sum
  def spill: Long = stages.map(_.spill).sum
  def written: Long = stages.map(_.written).sum
  def jobMsBySite(p: String => Boolean): Double =
    jobs.filter(j => p(j.site)).map(j => (j.end - j.start).toDouble).sum
}

/** The traced run's instrument: spans around every benchmark call into a
  * layer (name, start, end, parent, request id) plus Spark job / stage /
  * query-execution / streaming listeners. Spans stay in memory and are
  * written when the run ends. With `on = false` every method is a no-op
  * and no listener is registered. */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, req: Long,
      startNs: Long, var endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val jobs = ArrayBuffer.empty[JobEv]
  private val stages = ArrayBuffer.empty[StageEv]
  private val qes = ArrayBuffer.empty[QeEv]
  val progress = ArrayBuffer.empty[(Long, Long)] // triggerExecution, addBatch ms

  private object Plans extends AdaptiveSparkPlanHelper

  private lazy val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      def phase(p: String) =
        qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
      val scans = Plans.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
      val ev = QeEv(phase("analysis"), phase("optimization"), phase("planning"),
        ns / 1e6, metric("numFiles"), metric("numPartitions"),
        metric("numOutputRows"),
        scans.flatMap(_.relation.location.rootPaths.map(_.toString)))
      qes.synchronized { qes += ev }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Query-execution listeners belong to a session: register on every
    * session the workload queries through. */
  def watch(s: SparkSession): Unit = if (on) s.listenerManager.register(qeListener)

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.details).getOrElse("")
        jobs.synchronized {
          jobs += JobEv(e.jobId, e.time, e.time, site)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ev =
          if (m == null) StageEv(i.numTasks, 0, 0, 0, 0)
          else StageEv(i.numTasks,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.outputMetrics.bytesWritten)
        stages.synchronized { stages += ev }
      }
    })
    watch(spark)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          progress.synchronized {
            progress += ((d("triggerExecution"), d("addBatch")))
          }
        }
      }
    })
  }

  private var nextId = 0

  /** Time `f` as a span; nested calls record their parent. */
  def span[T](name: String, req: Long = -1)(f: => T): T =
    if (!on) f
    else {
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1), req,
        System.nanoTime(), 0L)
      nextId += 1
      spans += s
      open = s :: open
      try f
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  /** Deliver every pending listener event and hand back (and forget) all
    * events collected since the previous call. */
  def take(): Events =
    if (!on) Events(Nil, Nil, Nil)
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      def grab[T](b: ArrayBuffer[T]): Seq[T] = b.synchronized {
        val out = b.toVector; b.clear(); out
      }
      Events(grab(jobs), grab(stages), grab(qes))
    }

  /** Self time per layer (the span name's prefix up to the first '.'):
    * each span's wall minus its children's. */
  def selfMsByLayer: Map[String, Double] = {
    val child = spans.groupBy(_.parent).view
      .mapValues(_.map(c => c.endNs - c.startNs).sum).toMap
    spans.groupBy(_.name.takeWhile(_ != '.')).view.mapValues { ss =>
      ss.map(s => (s.endNs - s.startNs - child.getOrElse(s.id, 0L)) / 1e6).sum
    }.toMap
  }

  def writeSpans(path: String): Unit = if (on) {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map(s => Rec.json(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "req" -> s.req, "start_us" -> (s.startNs - t0) / 1000,
      "end_us" -> (s.endNs - t0) / 1000)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
