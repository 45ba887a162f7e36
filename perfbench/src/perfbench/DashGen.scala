package perfbench

import java.sql.Timestamp
import graft.operators.GapFill
import graft.operators.Telemetry._

/** One telemetry point (the long/narrow shape Telemetry.plan reads). */
final case class PointRow(ts: Timestamp, ts_ns: Long, stream_id: Long,
                          tags: Map[String, String], v1: Double, v2: Double, label: String)

/** Seeded telemetry points table: `Streams` streams over `Days` UTC days
  * from D0. Dense streams report once a minute; every fourth stream is
  * sparse (each hour is on or off with even odds), so interpolation has
  * gaps to fill. Event times are unique across the table (the stream id
  * is the µs remainder), so first/last-by-time never tie. Values carry 3
  * decimals, which the decimal-exact sums represent without rounding.
  */
object PointsGen {
  val Streams = 8
  val Days = 30
  val D0Us = 1709251200000000L // 2024-03-01 00:00:00 UTC
  val DayUs = 86400000000L
  val HourUs = 3600000000L
  val labels = Array("idle", "run", "charge", "fault", "park", "drive")
  private val statuses = Array("ok", "ok", "ok", "ok", "ok", "ok", "ok", "ok", "ok", "warn", "warn", "err")

  def sparse(stream: Int): Boolean = stream % 4 == 0
  def region(stream: Int): String = s"r${stream % 5}"
  def device(stream: Int): String = s"d-$stream"

  private def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0

  /** The points of stream `k` (1-based), in time order. */
  def stream(seed: Long, k: Int): Iterator[PointRow] = {
    val r = Rng(seed, 4000037L + k)
    val tags0 = Map("region" -> region(k), "device" -> device(k))
    (0 until Days * 24).iterator.flatMap { h =>
      val on = !sparse(k) || r.nextInt(2) == 0
      (0 until 60).iterator.flatMap { m =>
        val tsUs = D0Us + h * HourUs + m * 60000000L + r.nextInt(50000) * 1000L + k
        val ns = r.nextInt(1000)
        val status = statuses(r.nextInt(statuses.length))
        val v1 = r3(100 + 20 * math.sin((h * 60 + m) / 240.0 + k) + 5 * r.nextGaussian())
        val v2 = r3(math.abs(r.nextGaussian()) * 10)
        val label = labels(r.nextInt(labels.length))
        if (!on || (sparse(k) && m % 2 == 1)) None
        else Some(PointRow(timestampOfUs(tsUs), tsUs * 1000 + ns, k,
          tags0 + ("status" -> status), v1, v2, label))
      }
    }
  }

  def timestampOfUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** A dashboard request: a Telemetry.plan request, or a tag-value lookup. */
sealed trait DashReq { def id: Int; def kind: String }
final case class PlanReq(id: Int, kind: String, req: Request, ordered: Boolean) extends DashReq
final case class TagValuesReq(id: Int, key: String) extends DashReq { val kind = "tag_values" }

/** The seeded request mix of one dashboard pass (closed loop, one
  * client). The composition is fixed, so every seed asks for the same
  * amount of work: of 12 requests, 3 use the bucketed 9-aggregate menu,
  * 3 tag Equal/NotLike filters with a tag group-by, 2 a raw fetch with
  * ordering and paging, 2 Previous/Linear interpolation, 1 the
  * string-aggregate menu and 1 tagValues. Aggregating requests cover the
  * latest 1, 2 and 3 days in turn, except `AllDays` of them, which cover
  * all 30 days at a 1-day bucket. The seed picks streams, tag values,
  * pages, interpolation modes and the order of the requests.
  */
object RequestGen {
  val Kinds: Seq[(String, Int)] = Seq("agg9" -> 3, "tag_group" -> 3, "raw" -> 2,
    "interp" -> 2, "str_agg" -> 1, "tag_values" -> 1)
  val PerPass: Int = Kinds.map(_._2).sum
  val AllDays: Set[(String, Int)] = Set("agg9" -> 0, "tag_group" -> 0)

  def iso(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  val EndUs: Long = PointsGen.D0Us + PointsGen.Days * PointsGen.DayUs

  def mix(seed: Long): Seq[DashReq] = {
    val r = Rng(seed, 5000011L)
    def shuffled[T](xs: Seq[T]): Seq[T] =
      scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong())).shuffle(xs)
    val all = 1 to PointsGen.Streams
    val dense = all.filterNot(PointsGen.sparse)
    val sparseOnes = all.filter(PointsGen.sparse)
    // regions holding exactly one dense stream once the NotLike filter
    // drops device d-7 (r0: stream 5; r2: streams 2 and 7), so every
    // seed's tag filter matches the same number of points
    val oneDenseRegions = Seq("r0", "r2")
    def streams(n: Int, pool: Seq[Int]): Seq[Long] = shuffled(pool).take(n).map(_.toLong)
    def range(kind: String, i: Int): (String, String, Long) =
      if (AllDays((kind, i))) (iso(PointsGen.D0Us), iso(EndUs), PointsGen.DayUs * 1000)
      else (iso(EndUs - (1 + i % 3) * PointsGen.DayUs), iso(EndUs), PointsGen.HourUs * 1000)
    val slots = shuffled(Kinds.flatMap { case (k, n) => (0 until n).map(k -> _) })
    slots.zipWithIndex.map { case ((kind, i), id) =>
      kind match {
        case "agg9" =>
          val (f, t, b) = range(kind, i)
          val menu = Seq(AggMean -> "mean", AggMax -> "max", AggMin -> "min", AggFirst -> "first",
            AggLast -> "last", AggSum -> "sum", AggCount -> "count", AggMedian -> "median",
            AggSpread -> "spread")
          PlanReq(id, kind, Request(from = Some(f), to = Some(t),
            streamIds = streams(1 + i % 4, dense), bucketNs = Some(b),
            aggs = menu.map { case (a, n) => NumericAgg("v1", a, s"${n}_v1") }), ordered = false)
        case "tag_group" =>
          val (f, t, b) = range(kind, i)
          PlanReq(id, kind, Request(from = Some(f), to = Some(t),
            tagFilters = Seq(
              TagFilter("region", TagEqual, shuffled(oneDenseRegions).take(1 + i % 2)),
              TagFilter("device", TagNotLike, Seq("%7"))),
            bucketNs = Some(b), groupByTags = Seq("status"),
            aggs = Seq(NumericAgg("v2", AggMean, "mean_v2"), NumericAgg("v2", AggMax, "max_v2"),
              NumericAgg("v2", AggCount, "count_v2"))), ordered = false)
        case "raw" =>
          PlanReq(id, kind, Request(from = Some(iso(EndUs - PointsGen.DayUs)), to = Some(iso(EndUs)),
            streamIds = streams(1, dense), aggs = Seq(NumericAgg("v1", AggNone, "v1"),
              NumericAgg("v2", AggNone, "v2")),
            orderBy = Seq(Ordering("ts", descending = true)),
            paging = Some(Paging(r.nextInt(4), 200))), ordered = true)
        case "interp" =>
          val mode = if (i % 2 == 0) GapFill.FillPrevious else GapFill.FillLinear
          PlanReq(id, kind, Request(from = Some(iso(EndUs - (1 + i % 2) * PointsGen.DayUs)),
            to = Some(iso(EndUs)), streamIds = streams(1, sparseOnes),
            bucketNs = Some(600L * 1000000000L), groupByTags = Seq("device"),
            aggs = Seq(NumericAgg("v1", AggMean, "mean_v1")), interpolation = Some(mode)),
            ordered = false)
        case "str_agg" =>
          val (f, t, b) = range(kind, i)
          PlanReq(id, kind, Request(from = Some(f), to = Some(t),
            streamIds = streams(1 + i % 2, dense), bucketNs = Some(b),
            stringAggs = Seq(StringAgg("label", StrFirst, "first_label"),
              StringAgg("label", StrLast, "last_label"), StringAgg("label", StrCount, "n_label"),
              StringAgg("status", StrLast, "last_status"))), ordered = false)
        case _ =>
          TagValuesReq(id, Seq("region", "status", "device")(r.nextInt(3)))
      }
    }
  }
}
