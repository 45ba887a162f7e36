package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.operators.{Scale, Telemetry}

/** One answered request, with the times the client saw. */
final case class Answer(req: DashReq, start: Double, planEnd: Double, end: Double,
                        cols: Seq[String], rows: Seq[Row], plan: Option[PlanStats]) {
  def ms: Double = end - start
}

/** One pass of the request mix: the unit of work of `dashboard_queries`. */
final case class Pass(start: Double, end: Double, answers: Seq[Answer]) {
  def wallMs: Double = end - start
}

/** `dashboard_queries`: one closed-loop client sends the seeded request
  * mix to Telemetry.plan / Telemetry.tagValues over a dt-partitioned
  * points table and collects every response to the driver.
  */
final class Dashboard(seed: Long) {
  val mix: Seq[DashReq] = RequestGen.mix(seed)

  /** Writes the points table with Scale.writeTimePartitioned. The write
    * runs at a fixed width of 32 range partitions, so each day is split
    * over two or three files.
    */
  def writeTable(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val prior = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val s = seed // the task closure must not capture this class
      val points = spark.range(1, PointsGen.Streams + 1, 1, PointsGen.Streams).as[Long]
        .flatMap(k => PointsGen.stream(s, k.toInt))
      Scale.writeTimePartitioned(points.toDF(), "ts", dir.toString, Seq("stream_id"))
    } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  def run(points: DataFrame, r: DashReq, tracer: Option[Tracer], spark: SparkSession): Answer = {
    spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s"request-${r.id}")
    val t0 = Clock.ms()
    val df = r match {
      case PlanReq(_, _, req, _) => Telemetry.plan(points, req)
      case TagValuesReq(_, key) => Telemetry.tagValues(points, key)
    }
    val t1 = Clock.ms()
    val rows = df.collect().toSeq
    val t2 = Clock.ms()
    spark.sparkContext.setLocalProperty(Tracer.SpanProperty, null)
    Answer(r, t0, t1, t2, df.columns.toSeq, rows, tracer.map(_ => PlanStats.of(df.queryExecution)))
  }

  def pass(spark: SparkSession, points: DataFrame, tracer: Option[Tracer]): Pass = {
    val t0 = Clock.ms()
    val answers = mix.map(run(points, _, tracer, spark))
    Pass(t0, Clock.ms(), answers)
  }

  /** The expected answer of every request in the mix. */
  def expected(oracle: DashOracle): Map[Int, (Seq[String], Seq[Seq[Any]])] =
    mix.map(r => r.id -> oracle.eval(r)).toMap

  /** Messages for every answer that differs from its expectation. */
  def check(p: Pass, exp: Map[Int, (Seq[String], Seq[Seq[Any]])]): Seq[String] =
    p.answers.flatMap { a =>
      val (cols, rows) = exp(a.req.id)
      val ordered = a.req match { case x: PlanReq => x.ordered; case _ => false }
      val err =
        if (a.cols != cols) Some(s"columns ${a.cols}, expected $cols")
        else Canon.diff(rows, a.rows.map(Canon.row), ordered)
      err.map(e => s"request ${a.req.id} (${a.req.kind}): $e")
    }
}
