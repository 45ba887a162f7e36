package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Each figure is computed per unit
  * of work (one drain or one pass) and reported as the median over the
  * traced units; a layer the workload does not use reports 0.
  */
object Layers {
  /** Every per-layer metric, in report order, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "sources.rows_in" -> "count", "sources.rows_corrupt" -> "count", "sources.parse_ms" -> "ms",
    "operators.option_agg_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms", "streaming.fixed_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.state.rows_total" -> "count", "streaming.state.rows_updated" -> "count",
    "streaming.state.rows_removed" -> "count", "streaming.state.rows_dropped_by_watermark" -> "count",
    "streaming.state.commit_ms" -> "ms", "streaming.state.updates_ms" -> "ms",
    "streaming.state.removals_ms" -> "ms", "streaming.state.memory_bytes" -> "bytes",
    "streaming.state.rocksdb_bytes_written" -> "bytes",
    "sinks.files_written" -> "count", "sinks.bytes_written" -> "bytes",
    "operators.telemetry.plan_ms" -> "ms",
    "scan.files_read" -> "count", "scan.files_pruned_frac" -> "ratio", "scan.bytes_read" -> "bytes",
    "scan.rows_read_per_row_returned" -> "ratio",
    "planner.analysis_ms" -> "ms", "planner.optimization_ms" -> "ms", "planner.planning_ms" -> "ms",
    "planner.codegen_compiles" -> "count", "planner.codegen_ms" -> "ms",
    "exec.sql_executions" -> "count", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_stage" -> "ratio", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.busy_cores" -> "cores", "exec.driver_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_fetch_wait_ms" -> "ms",
    "exec.spill_bytes" -> "bytes", "exec.peak_exec_memory_bytes" -> "bytes",
    "exec.gc_pause_ms" -> "ms",
    "self_ms.streaming.batch" -> "ms", "self_ms.operators.telemetry.plan" -> "ms",
    "self_ms.sql.collect" -> "ms", "self_ms.exec.job" -> "ms",
    "trace.unattributed_frac" -> "ratio")

  private def within(t: Double, u: WorkUnit): Boolean = t >= u.start && t <= u.end + 1.0

  private def batchStart(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Per-unit figures of one traced unit. */
  private def unitMetrics(run: Run, u: WorkUnit, t: Tracer): Map[String, Double] = {
    val jobs = t.jobs.asScala.toSeq.filter(j => within(j.start, u) && !j.end.isNaN)
    val tasks = t.tasks.asScala.toSeq.filter(x => within(x.launch, u))
    val stages = t.stages.asScala.toSeq.filter(within(_, u))
    val wall = u.wallMs
    val jobIv = jobs.map(j => (j.start, j.end))
    val common = Map(
      "exec.sql_executions" -> jobs.map(_.execId).filter(_ >= 0).distinct.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble, "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks.size.toDouble / stages.size),
      "exec.task_run_ms" -> tasks.map(_.runMs).sum, "exec.task_cpu_ms" -> tasks.map(_.cpuMs).sum,
      "exec.busy_cores" -> tasks.map(_.runMs).sum / wall,
      "exec.driver_ms" -> (wall - Intervals.covered(tasks.map(x => (x.launch, x.finish)), u.start, u.end)),
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.peak_exec_memory_bytes" -> (0L +: tasks.map(_.peakMem)).max.toDouble,
      "self_ms.exec.job" -> Intervals.covered(jobIv, u.start, u.end))
    val specific = u match {
      case d: DrainUnit =>
        val progress = t.progress.asScala.toSeq.filter(p => within(batchStart(p), u))
        val data = progress.filter(_.numInputRows > 0)
        val state = progress.flatMap(_.stateOperators.headOption)
        def med(f: StreamingQueryProgress => Double) = Stats.medianOr0(data.map(f))
        def stateMed(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
          Stats.medianOr0(data.flatMap(_.stateOperators.headOption).map(f))
        val batchIv = progress.map(p => (batchStart(p), batchStart(p) + dur(p, "triggerExecution")))
        val sinkFiles = Files2.listFiles(d.d.out, ".parquet")
        Map(
          "sources.rows_in" -> d.d.rowsIn.toDouble,
          "streaming.batches" -> data.size.toDouble,
          "streaming.add_batch_ms" -> med(dur(_, "addBatch")),
          "streaming.fixed_ms" -> med(p => Seq("latestOffset", "getBatch", "queryPlanning",
            "walCommit", "commitOffsets").map(dur(p, _)).sum),
          "streaming.query_planning_ms" -> med(dur(_, "queryPlanning")),
          "streaming.wal_commit_ms" -> med(dur(_, "walCommit")),
          "streaming.commit_offsets_ms" -> med(dur(_, "commitOffsets")),
          "streaming.state.rows_total" -> (0L +: state.map(_.numRowsTotal)).max.toDouble,
          "streaming.state.rows_updated" -> state.map(_.numRowsUpdated).sum.toDouble,
          "streaming.state.rows_removed" -> state.map(_.numRowsRemoved).sum.toDouble,
          "streaming.state.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
          "streaming.state.commit_ms" -> stateMed(_.commitTimeMs.toDouble),
          "streaming.state.updates_ms" -> stateMed(_.allUpdatesTimeMs.toDouble),
          "streaming.state.removals_ms" -> stateMed(_.allRemovalsTimeMs.toDouble),
          "streaming.state.memory_bytes" -> (0L +: state.map(_.memoryUsedBytes)).max.toDouble,
          "streaming.state.rocksdb_bytes_written" -> state.map(s =>
            Option(s.customMetrics.get("rocksdbTotalBytesWritten")).map(_.toDouble).getOrElse(0.0)).sum,
          "sinks.files_written" -> sinkFiles.size.toDouble,
          "sinks.bytes_written" -> sinkFiles.map(java.nio.file.Files.size).sum.toDouble,
          "self_ms.streaming.batch" -> batchIv.map { case (a, b) =>
            (b - a) - Intervals.covered(jobIv, a, b) }.sum,
          "trace.unattributed_frac" -> (wall - Intervals.covered(batchIv ++ jobIv, u.start, u.end)) / wall,
          "planner.codegen_compiles" -> d.codegen._1.toDouble,
          "planner.codegen_ms" -> d.codegen._2 / 1e6,
          "exec.gc_pause_ms" -> d.gcMs.toDouble)
      case p: PassUnit =>
        val as = p.p.answers
        val stats = as.flatMap(_.plan)
        val tableFiles = run match { case r: DashboardRun => r.tableFiles.toDouble; case _ => 0.0 }
        val reqJobs = (a: Answer) => jobs.filter(_.span == s"request-${a.req.id}")
          .map(j => (j.start, j.end))
        val returned = as.map(_.rows.size).sum.toDouble
        Map(
          "operators.telemetry.plan_ms" -> Stats.median(as.map(a => a.planEnd - a.start)),
          "scan.files_read" -> stats.map(_.filesRead).sum.toDouble / as.size,
          "scan.files_pruned_frac" -> (1.0 - stats.map(_.filesRead).sum / (tableFiles * as.size)),
          "scan.bytes_read" -> stats.map(_.bytesRead).sum.toDouble / as.size,
          "scan.rows_read_per_row_returned" -> stats.map(_.rowsRead).sum / math.max(1.0, returned),
          "planner.analysis_ms" -> stats.map(_.analysisMs).sum / as.size,
          "planner.optimization_ms" -> stats.map(_.optimizationMs).sum / as.size,
          "planner.planning_ms" -> stats.map(_.planningMs).sum / as.size,
          "planner.codegen_compiles" -> p.codegen._1.toDouble,
          "planner.codegen_ms" -> p.codegen._2 / 1e6,
          "exec.gc_pause_ms" -> p.gcMs.toDouble,
          "self_ms.operators.telemetry.plan" -> as.map(a => a.planEnd - a.start).sum,
          "self_ms.sql.collect" -> as.map(a =>
            (a.end - a.planEnd) - Intervals.covered(reqJobs(a), a.planEnd, a.end)).sum,
          "trace.unattributed_frac" -> (wall - Intervals.covered(
            as.map(a => (a.start, a.end)), u.start, u.end)) / wall)
    }
    common ++ specific
  }

  def metrics(run: Run, units: Seq[WorkUnit], t: Tracer,
              isolation: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val per = units.map(unitMetrics(run, _, t))
    val iso = isolation.toMap
    names.map { case (n, unit) =>
      val v = iso.getOrElse(n, Stats.medianOr0(per.flatMap(_.get(n))))
      (n, v, unit)
    }
  }
}
