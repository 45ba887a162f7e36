package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftConf

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --result FILE
  *
  * Writes one JSON record to FILE: the result fields the harness prints,
  * the metrics, and the environment and host stamps. `run.py` builds and
  * launches this; see perfbench/README.md.
  */
object Main {
  val Threads: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  val SetupReps = 3
  val TradeFiles = 4
  val DarkpoolFiles = 4

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogConf = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, result: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("result")))
  }

  def session(): SparkSession = {
    val spark = GraftConf.localSession(Threads)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(ProviderConf, GraftConf.clusterDefaults(ProviderConf))
    spark.conf.set(ChangelogConf, GraftConf.clusterDefaults(ChangelogConf))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark
  }

  def env(spark: SparkSession): Obj = Obj(
    "local_threads" -> Threads,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "state_store_provider" -> spark.conf.get(ProviderConf),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "nproc" -> Runtime.getRuntime.availableProcessors())

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    Heap.install()
    val run: Run = a.workload match {
      case "trade_stream" => new StreamRun(spark, a, new TradeStream(a.seed, TradeFiles))
      case "darkpool_dedup_stream" => new StreamRun(spark, a, new DarkpoolStream(a.seed, DarkpoolFiles))
      case "dashboard_queries" => new DashboardRun(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val envStamp = env(spark)
    val gens = (1 to SetupReps).map { _ =>
      val t0 = Clock.ms(); run.generate(); (Clock.ms() - t0) / 1000.0
    }
    val w0 = Clock.ms(); run.warmUp(); val warmS = (Clock.ms() - w0) / 1000.0
    val setupS = sessionS + Stats.median(gens) + warmS

    val tracer = if (a.trace) Some(new Tracer) else None
    val hostBefore = Host.stamp()
    Heap.arm()
    val t0 = Clock.ms()
    val untraced =
      if (a.trace) run.loop(a.seconds * 500.0, 1, None)
      else run.loop(a.seconds * 1000.0, run.minUnits, None)
    val traced = tracer.toSeq.flatMap { t =>
      t.register(spark)
      run.loop(a.seconds * 500.0, 1, Some(t))
    }
    val timedS = (Clock.ms() - t0) / 1000.0
    val peakHeapMb = Heap.disarmPeakMb()
    val hostAfter = Host.stamp()
    val isolation = if (a.trace) run.isolation() else Nil

    val checks = run.check(untraced ++ traced)
    val failed = checks.count(_._2.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) run.endToEnd(untraced) ++ Seq(
        ("setup_s", setupS, "s"), ("peak_heap_mb", peakHeapMb, "MB"))
      else {
        spark.stop() // drains the listener bus, so every event has been seen
        val t = tracer.get
        val wallU = Stats.median(untraced.map(_.wallMs)) / 1000.0
        val wallT = Stats.median(traced.map(_.wallMs)) / 1000.0
        Layers.metrics(run, traced, t, isolation) ++ Seq(
          ("trace.wall_s", wallT, "s"), ("trace.untraced_wall_s", wallU, "s"),
          ("trace.overhead_s", wallT - wallU, "s"))
      }
    val record = Obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> (if (a.trace) 1 else 0),
      "correct" -> (failed == 0), "attempted" -> checks.size, "failed" -> failed,
      "metrics" -> new Obj(metrics.map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }),
      "env" -> envStamp,
      "host" -> Obj("before" -> hostBefore, "after" -> hostAfter),
      "detail" -> Obj(
        "setup_session_s" -> sessionS, "setup_generate_s" -> gens, "setup_warmup_s" -> warmS,
        "timed_phase_s" -> timedS, "jvm_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0,
        "units" -> untraced.size, "traced_units" -> traced.size,
        "unit_wall_ms" -> untraced.map(_.wallMs), "traced_unit_wall_ms" -> traced.map(_.wallMs),
        "latency_samples" -> untraced.map(_.latenciesMs.size).sum,
        "failures" -> checks.filter(_._2.nonEmpty).map { case (op, e) => Obj("op" -> op, "errors" -> e) }))
    Files.writeString(a.result, Json.render(record) + "\n")
    if (!spark.sparkContext.isStopped) spark.stop()
  }
}

/** One unit of fixed work: a topic drain or a pass of the request mix. */
trait WorkUnit {
  def wallMs: Double
  def start: Double
  def end: Double
  /** Latency samples: micro-batch trigger times or request times. */
  def latenciesMs: Seq[Double]
}

/** What each workload supplies to [[Main]]. */
trait Run {
  def generate(): Unit
  def warmUp(): Unit
  /** Units an untraced run measures at least, however long they take, so
    * a slow host does not leave fewer samples. */
  def minUnits: Int
  /** Runs units until their summed wall time reaches `budgetMs` and at
    * least `min` units ran. */
  def loop(budgetMs: Double, min: Int, tracer: Option[Tracer]): Seq[WorkUnit]
  /** (operation, errors) for every operation attempted. */
  def check(units: Seq[WorkUnit]): Seq[(String, Seq[String])]
  /** Layer-isolation passes of the traced run: (metric, value). */
  def isolation(): Seq[(String, Double)]

  def endToEnd(units: Seq[WorkUnit]): Seq[(String, Double, String)] = {
    val lat = units.flatMap(_.latenciesMs)
    Seq(
      ("wall_s", Stats.median(units.map(_.wallMs)) / 1000.0, "s"),
      ("latency_ms_p50", Stats.quantile(lat, 0.5), "ms"),
      ("latency_ms_p90", Stats.quantile(lat, 0.9), "ms"))
  }

  protected def loopUntil[U <: WorkUnit](budgetMs: Double, min: Int)(unit: Int => U): Seq[U] = {
    val out = Seq.newBuilder[U]
    var spent = 0.0; var i = 0
    while (i < min || spent < budgetMs) {
      val u = unit(i); out += u; spent += u.wallMs; i += 1
    }
    out.result()
  }
}

final case class DrainUnit(d: Drain, codegen: (Long, Long), gcMs: Long) extends WorkUnit {
  def wallMs: Double = d.wallMs
  def start: Double = d.start
  def end: Double = d.end
  def latenciesMs: Seq[Double] = d.batchMs
}

final case class PassUnit(p: Pass, codegen: (Long, Long), gcMs: Long) extends WorkUnit {
  def wallMs: Double = p.wallMs
  def start: Double = p.start
  def end: Double = p.end
  def latenciesMs: Seq[Double] = p.answers.map(_.ms)
}

/** Codegen counters of the whole JVM: (compiles, compile time ns). */
object Codegen {
  def now(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  def measure[T](f: => T): (T, (Long, Long), Long) = {
    val c0 = now(); val g0 = Heap.gcMillis()
    val out = f
    val c1 = now()
    (out, (c1._1 - c0._1, c1._2 - c0._2), Heap.gcMillis() - g0)
  }
}

final class StreamRun(spark: SparkSession, a: Main.Args, w: StreamWorkload) extends Run {
  private val topic = a.work.resolve("topic")
  private var n = 0

  def generate(): Unit = w.writeTopic(spark, topic)

  /** One full drain of the topic, so JIT, codegen and the state store
    * are warm for exactly the timed shape.
    */
  def warmUp(): Unit = {
    w.drain(spark, topic, a.work, "warm")
    Files2.rmrf(a.work.resolve("ckpt_warm")); Files2.rmrf(a.work.resolve("out_warm"))
  }

  /** The first timed drain still runs 5-15% slower than the next, so the
    * median needs three. */
  val minUnits = 3

  def loop(budgetMs: Double, min: Int, tracer: Option[Tracer]): Seq[WorkUnit] =
    loopUntil(budgetMs, min) { _ =>
      val tag = s"d$n"; n += 1
      spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s"drain-$tag")
      val (d, cg, gc) = Codegen.measure(w.drain(spark, topic, a.work, tag))
      spark.sparkContext.setLocalProperty(Tracer.SpanProperty, null)
      Files2.rmrf(a.work.resolve(s"ckpt_$tag"))
      DrainUnit(d, cg, gc)
    }

  def check(units: Seq[WorkUnit]): Seq[(String, Seq[String])] = units.map {
    case u: DrainUnit => (u.d.out.getFileName.toString,
      scala.util.Try(w.check(spark, u.d)).fold(e => Seq(s"check failed: $e"), identity))
  }

  def isolation(): Seq[(String, Double)] = w.isolation(spark, topic)
}

final class DashboardRun(spark: SparkSession, a: Main.Args) extends Run {
  private val table = a.work.resolve("points")
  private val dash = new Dashboard(a.seed)
  private lazy val points = spark.read.parquet(table.toString)
  lazy val tableFiles: Long = Files2.listFiles(table, ".parquet").size.toLong

  def generate(): Unit = dash.writeTable(spark, table)
  /** Two passes of the mix: codegen fills on the first, and the JIT
    * keeps speeding up planning on the second.
    */
  def warmUp(): Unit = (1 to 2).foreach(_ => dash.pass(spark, points, None))

  /** The first timed pass still runs ~10% slower than the next (the JIT
    * keeps compiling planner code), so every run weighs it the same. */
  val minUnits = 3

  def loop(budgetMs: Double, min: Int, tracer: Option[Tracer]): Seq[WorkUnit] =
    loopUntil(budgetMs, min) { _ =>
      val (p, cg, gc) = Codegen.measure(dash.pass(spark, points, tracer))
      PassUnit(p, cg, gc)
    }

  def check(units: Seq[WorkUnit]): Seq[(String, Seq[String])] = {
    val exp = dash.expected(new DashOracle(a.seed))
    units.flatMap {
      case u: PassUnit =>
        val errs = dash.check(u.p, exp)
        u.p.answers.map(x => (s"request-${x.req.id}", errs.filter(_.startsWith(s"request ${x.req.id} "))))
    }
  }

  def isolation(): Seq[(String, Double)] = Nil
}
