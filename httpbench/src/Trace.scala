package httpbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-request layer accounting for the traced run. One
  * [[SparkListener]] attributes jobs, stages and task metrics to the
  * job group the request ran under; one [[QueryExecutionListener]]
  * collects every action's QueryExecution (Catalyst phase times and the
  * scan nodes' file counts). Spans are kept in memory and written out
  * once, at the end. */
final class Tracer(spark: SparkSession) {

  final case class Span(req: String, name: String, parent: String,
                        startNs: Long, endNs: Long)

  /** Layer totals of one request (or one write batch). */
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageSkew = mutable.ArrayBuffer.empty[Double]
    val qes = mutable.ArrayBuffer.empty[QueryExecution]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.Map.empty[String, Acc]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var current: String = null
  // listener events carry epoch milliseconds; spans use System.nanoTime
  private val epochToNanoNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        jobStart(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
        acc(g).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) =>
        acc(g).jobSpans += ((t0, e.time))
        spans += Span(g, s"job ${e.jobId}", "request",
          t0 * 1000000L - epochToNanoNs, e.time * 1000000L - epochToNanoNs)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageGroup.get(id).foreach { g =>
        acc(g).stages += 1
        stageTasks.remove(id).filter(_.nonEmpty).foreach { ds =>
          val sorted = ds.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) acc(g).stageSkew += sorted.last / med
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        a.tasks += 1
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val g = current
      if (g != null) acc(g).qes += qe
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.HttpBenchBridge.drainListeners(spark.sparkContext)

  /** Run `body` as request `req`: its Spark jobs carry `req` as their
    * job group, and QueryExecutions finished while it runs count
    * towards it. Returns the result and the request's layer totals. */
  def request[A](req: String)(body: => A): (A, Acc) = {
    drain()
    current = req
    spark.sparkContext.setJobGroup(req, req, interruptOnCancel = false)
    val r = try span(req, "request", "")(body) finally spark.sparkContext.clearJobGroup()
    drain()
    current = null
    (r, synchronized(accs.remove(req).getOrElse(new Acc)))
  }

  def span[A](req: String, name: String, parent: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      synchronized(spans += Span(req, name, parent, t0, t1))
    }
  }

  def spanMs(req: String, name: String): Double = synchronized {
    spans.filter(s => s.req == req && s.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try synchronized(spans.foreach { s =>
      w.println(s"""{"req":"${s.req}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }) finally w.close()
  }
}

object Tracer {
  /** Milliseconds of `wallMs` covered by no job span — the driver-only
    * share of a request. */
  def driverOnlyMs(wallMs: Double, jobSpans: Seq[(Long, Long)]): Double = {
    val merged = jobSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, span)                           => span :: acc
    }
    math.max(0.0, wallMs - merged.map { case (s, e) => (e - s).toDouble }.sum)
  }

  /** Catalyst phase time summed over a request's actions. */
  def phaseMs(qes: Seq[QueryExecution], phase: String): Double =
    qes.flatMap(_.tracker.phases.get(phase)).map(_.durationMs.toDouble).sum

  /** Files listed by the scan nodes of a request's executed plans. */
  def filesRead(qes: Seq[QueryExecution]): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case _: ReusedExchangeExec    => Nil
      case f: FileSourceScanExec    => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    qes.flatMap(qe => scans(qe.executedPlan))
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }
}
