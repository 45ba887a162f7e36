package graft

/** Ad-hoc single-query timer for same-session A/B comparisons
  * (min-of-N over one JVM, the bench-variance discipline): args =
  * sfDir queryNames[,comma-list] [passes] [sqlConfKey=value ...].
  * Reports wall, gc_ms (JVM GC-pause MXBean delta — real pause time,
  * not the task-summed jvmGCTime the in-suite bench multi-counts),
  * allocated MB and host steal jiffies per pass (allocation is the
  * host-noise-free counterpart of gc_ms for A/B work; steal flags the
  * passes this host's noise waves contaminated).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq // comma-list shares one JVM/session
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = GraftConf.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val confs = args.drop(3).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2) // values may contain '='
      println(s"[timeq] set $k=$v")
      k -> v
    }
    Meters.withConfs(spark, confs) {
      for (name <- names) {
        val runs = Meters.timeNoop(spark, passes)(
          SparkEntry.queries(name)(spark, dir))
        val best = runs.minBy(_.secs)
        println(f"[timeq] $name min=${best.secs}%.3f gc_at_min=${best.gcPauseMs}ms " +
          f"alloc_at_min=${best.allocMb}%.0fMB steal_at_min=${best.steal} " +
          f"compiles_p1=${runs.head.compiles} " +
          f"all=${runs.map(r => f"${r.secs}%.2f/${r.gcPauseMs}/${r.allocMb}%.0f/${r.steal}").mkString(",")}")
      }
    }
    spark.stop()
  }
}
