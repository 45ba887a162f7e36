package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The instruments every harness reads (`Bench`, `StressBench`,
  * `StreamBench`, `TimeQuery` and the `Probe*` mains): host steal, JVM
  * GC pause, thread allocation, Janino compiles, listener-bus flush,
  * host-load snapshots, wall timers and session-conf overrides. Uses
  * only JDK and Spark classes, so it builds with Spark's own scalac.
  */
object Meters {

  /** Cumulative host CPU steal jiffies (the `cpu` line of /proc/stat);
    * -1 when unreadable. Deltas between samples are steal accrued in
    * between.
    */
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Collector time summed over the JVM's GC MXBeans. A local session
    * is one JVM, so deltas ARE the wall-clock milliseconds the
    * collectors ran — no task-level multi-counting.
    */
  def gcPauseMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Janino compilations since JVM start (Spark's global
    * CodegenMetrics compile-time histogram).
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Waits until the async listener bus has delivered every queued
    * event, so listener counters read after a query include its tasks.
    * `LiveListenerBus.waitUntilEmpty` is private[spark] in source,
    * hence reflection; best-effort: on failure late events trail into
    * whichever query samples next.
    */
  def flushListenerBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
    } catch { case _: Throwable => () }

  /** One host-load snapshot as a JSON object: 1-min loadavg, cumulative
    * steal jiffies and the number of FOREIGN JVMs — this process, its
    * ancestors (the sbt/launcher chain) and its descendants excluded,
    * so a quiet host reads foreign_jvms=0.
    */
  def hostSnapshot(): String = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val steal = stealJiffies()
    val own = scala.collection.mutable.Set.empty[Long]
    var cur: java.util.Optional[ProcessHandle] =
      java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { own += cur.get.pid(); cur = cur.get.parent() }
    ProcessHandle.current().descendants().forEach(p => own += p.pid())
    val jvms = ProcessHandle.allProcesses()
      .filter(p => p.info().command()
        .map[java.lang.Boolean](_.contains("java")).orElse(false))
      .filter(p => !own.contains(p.pid()))
      .count()
    val l = "%.2f".formatLocal(java.util.Locale.ROOT, load)
    s"""{"loadavg":$l,"steal_jiffies":$steal,"foreign_jvms":$jvms}"""
  }

  private val tmx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private var lastSeen = Map.empty[Long, Long]
  private var retiredBytes = 0L

  /** Cumulative heap MB allocated across ALL threads the JVM has run,
    * monotone across samples. A raw sum over live threads drops a
    * thread's bytes when it exits between samples (broadcast, cleaner
    * and AQE threads are not all pooled), so each sample folds the
    * live counters over a per-thread baseline and retires vanished
    * threads at their last-seen value. Allocation between a thread's
    * last sample and its exit is invisible (JMX exposes nothing after
    * exit), so deltas are a monotone LOWER bound.
    */
  def allocatedMb(): Double = synchronized {
    val ids = tmx.getAllThreadIds
    // -1 marks a thread that exited since getAllThreadIds
    val live = ids.zip(tmx.getThreadAllocatedBytes(ids)).filter(_._2 > 0).toMap
    retiredBytes += lastSeen.collect { case (id, v) if !live.contains(id) => v }.sum
    lastSeen = live
    (retiredBytes + live.valuesIterator.sum) / 1e6
  }

  /** Result of `f` and its wall seconds. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds at 3 decimals — ms precision is already below host noise,
    * and it keeps the one-line records short.
    */
  def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** One timed pass: wall seconds plus the deltas of GC pause ms,
    * allocated MB, steal jiffies and codegen compiles over the pass.
    */
  final case class Pass(secs: Double, gcPauseMs: Long, allocMb: Double,
                        steal: Long, compiles: Long)

  /** `passes` isolated timings of full materialization through the
    * noop sink. Each pass clears the cache and collects garbage first
    * (so gc and allocation are the pass's own), then builds `df` inside
    * the timed window — eager work done while building counts.
    */
  def timeNoop(spark: SparkSession, passes: Int)(df: => DataFrame): Seq[Pass] =
    (1 to passes).map { _ =>
      spark.catalog.clearCache()
      System.gc()
      val g0 = gcPauseMs(); val a0 = allocatedMb(); val s0 = stealJiffies()
      val c0 = codegenCompiles()
      val (_, secs) = time(df.write.format("noop").mode("overwrite").save())
      Pass(secs, gcPauseMs() - g0, allocatedMb() - a0, stealJiffies() - s0,
        codegenCompiles() - c0)
    }

  /** `min=… all=…` summary of pass seconds, the probes' print format. */
  def minAll(passes: Seq[Pass]): String = {
    val secs = passes.map(_.secs)
    f"min=${secs.min}%.3f all=${secs.map(r => f"$r%.2f").mkString(",")}"
  }

  /** Runs `f` with `confs` set on the session, restoring each key's
    * prior value (or unsetting it) afterwards, also when `f` throws.
    */
  def withConfs[T](spark: SparkSession, confs: Iterable[(String, String)])
                  (f: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
