package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Plan figures of one SQL execution, read from its executed plan. */
final case class PlanStats(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                           filesRead: Long, bytesRead: Long, rowsRead: Long)

object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }

  def of(qe: QueryExecution): PlanStats = {
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
    def metric(n: String): Long = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    PlanStats(phase("analysis"), phase("optimization"), phase("planning"),
      metric("numFiles"), metric("filesSize"), metric("numOutputRows"))
  }
}

/** The traced run's recorder: a SparkListener for jobs, stages and
  * tasks, and a StreamingQueryListener for micro-batch progress. Events
  * stay in memory; [[Layers]] reads them once the run is over and ties
  * each job to the unit of work that caused it.
  *
  * Planner phases and scan figures of a dashboard request are read from
  * the request's own QueryExecution right after its collect returns: a
  * QueryExecutionListener would report them asynchronously and without
  * the SQL execution id, so they could not be tied to the request.
  */
final class Tracer {
  final case class JobRec(start: Double, var end: Double, execId: Long, span: String)
  final case class TaskRec(launch: Double, finish: Double, runMs: Double, cpuMs: Double,
                           shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Double, spill: Long,
                           peakMem: Long)

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** Submission times of completed stages. */
  val stages = new ConcurrentLinkedQueue[Double]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(x => Option(x.getProperty(k)))
      val j = JobRec(e.time.toDouble, Double.NaN,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop(Tracer.SpanProperty).getOrElse(""))
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.submissionTime.getOrElse(0L).toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime.toDouble, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }
}

object Tracer {
  /** Local property naming the benchmark span a job belongs to; Spark
    * copies it into every job's properties, and stream threads inherit it.
    */
  val SpanProperty = "perfbench.span"
}

/** Interval arithmetic for self time. */
object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) { if (!curB.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
