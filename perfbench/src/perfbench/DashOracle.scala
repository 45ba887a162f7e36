package perfbench

import scala.collection.mutable
import graft.operators.GapFill
import graft.operators.Telemetry._

/** Independent evaluation of dashboard requests in plain Scala over the
  * generated points (never over the parquet table the program reads).
  * Results use the canonical cell types of [[Canon]]: timestamps as epoch
  * µs, integers as Long.
  */
final class DashOracle(seed: Long) {
  private final class StreamPoints(val tsUs: Array[Long], val tsNs: Array[Long],
                                   val status: Array[String], val v1: Array[Double],
                                   val v2: Array[Double], val label: Array[String])

  private val streams: Map[Int, StreamPoints] = (1 to PointsGen.Streams).map { k =>
    val pts = PointsGen.stream(seed, k).toArray
    k -> new StreamPoints(pts.map(p => p.ts_ns / 1000), pts.map(_.ts_ns),
      pts.map(_.tags("status")), pts.map(_.v1), pts.map(_.v2), pts.map(_.label))
  }.toMap

  private case class P(k: Int, i: Int) {
    def sp: StreamPoints = streams(k)
    def tsUs: Long = sp.tsUs(i)
    def tag(key: String): String = key match {
      case "region" => PointsGen.region(k)
      case "device" => PointsGen.device(k)
      case "status" => sp.status(i)
    }
    def num(c: String): Double = if (c == "v1") sp.v1(i) else sp.v2(i)
    def str(c: String): String = if (c == "label") sp.label(i) else tag(c)
  }

  private def parseUs(iso: String): Long =
    java.time.LocalDateTime.parse(iso.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000L

  private def like(s: String, pattern: String): Boolean =
    ("^" + java.util.regex.Pattern.quote(pattern).replace("%", "\\E.*\\Q")
      .replace("_", "\\E.\\Q") + "$").r.findFirstIn(s).isDefined

  private def selected(req: Request): Seq[P] = {
    val fromNs = req.from.map(parseUs(_) * 1000L).getOrElse(Long.MinValue)
    val toNs = req.to.map(parseUs(_) * 1000L).getOrElse(Long.MaxValue)
    val ks = if (req.streamIds.nonEmpty) req.streamIds.map(_.toInt) else (1 to PointsGen.Streams)
    ks.sorted.flatMap { k =>
      val sp = streams(k)
      sp.tsNs.indices.iterator.filter(i => sp.tsNs(i) >= fromNs && sp.tsNs(i) < toNs).map(P(k, _))
    }.filter { p =>
      req.tagFilters.forall { f =>
        val v = p.tag(f.key)
        f.op match {
          case TagEqual => f.values.contains(v)
          case TagNotEqual => !f.values.contains(v)
          case TagLike => f.values.exists(like(v, _))
          case TagNotLike => f.values.forall(!like(v, _))
        }
      }
    }
  }

  private def dsum(xs: Seq[Double]): Double =
    xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble

  /** Spark's percentile(0.5): interpolate between the two middle ranks. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * 0.5
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  private def numAgg(a: NumericAgg, ps: Seq[P]): Any = {
    val vs = ps.map(_.num(a.column))
    a.agg match {
      case AggMean => dsum(vs) / vs.size
      case AggMax => vs.max
      case AggMin => vs.min
      case AggFirst => ps.minBy(_.tsUs).num(a.column)
      case AggLast => ps.maxBy(_.tsUs).num(a.column)
      case AggSum => dsum(vs)
      case AggCount => vs.size.toLong
      case AggMedian => median(vs)
      case AggSpread => vs.max - vs.min
      case AggNone => sys.error("AggNone is not an aggregate")
    }
  }

  private def strAgg(a: StringAgg, ps: Seq[P]): Any = a.agg match {
    case StrFirst => ps.minBy(_.tsUs).str(a.column)
    case StrLast => ps.maxBy(_.tsUs).str(a.column)
    case StrCount => ps.size.toLong
    case StrNone => sys.error("StrNone is not an aggregate")
  }

  /** Expected column names and rows of one request. */
  def eval(r: DashReq): (Seq[String], Seq[Seq[Any]]) = r match {
    case TagValuesReq(_, key) =>
      val vals = key match {
        case "region" => (1 to PointsGen.Streams).map(PointsGen.region).distinct
        case "device" => (1 to PointsGen.Streams).map(PointsGen.device)
        case _ => streams.values.flatMap(_.status).toSeq.distinct
      }
      (Seq("value"), vals.map(v => Seq(v)))
    case PlanReq(_, _, req, _) => evalPlan(req)
  }

  private def evalPlan(req: Request): (Seq[String], Seq[Seq[Any]]) = {
    val ps = selected(req)
    val wantsAgg = req.aggs.exists(_.agg != AggNone) || req.stringAggs.exists(_.agg != StrNone)
    if (!wantsAgg) {
      val cols = Seq("ts", "stream_id") ++ req.groupByTags ++ req.aggs.map(_.as) ++
        req.stringAggs.map(_.as)
      var rows = ps.map(p => Seq[Any](p.tsUs, p.k.toLong) ++ req.groupByTags.map(p.tag) ++
        req.aggs.map(a => p.num(a.column)) ++ req.stringAggs.map(a => p.str(a.column)))
      req.orderBy.reverse.foreach { o =>
        val i = cols.indexOf(o.by)
        rows = rows.sortWith { (a, b) =>
          val c = Canon.compare(a(i), b(i)); if (o.descending) c > 0 else c < 0
        }
      }
      req.paging.foreach { pg => rows = rows.slice(pg.index * pg.length, pg.index * pg.length + pg.length) }
      (cols, rows)
    } else {
      val bucketUs = req.bucketNs.map(_ / 1000L)
      def key(p: P): Seq[Any] =
        bucketUs.map(b => Math.floorDiv(p.tsUs, b) * b).toSeq ++ req.groupByTags.map(p.tag)
      val keyCols = bucketUs.map(_ => "bucket_ts").toSeq ++ req.groupByTags
      val aggs = req.aggs.filter(_.agg != AggNone)
      val sAggs = req.stringAggs.filter(_.agg != StrNone)
      val cols = keyCols ++ aggs.map(_.as) ++ sAggs.map(_.as)
      val grouped = ps.groupBy(key).toSeq.map { case (k, g) =>
        k ++ aggs.map(numAgg(_, g)) ++ sAggs.map(strAgg(_, g))
      }
      req.interpolation match {
        case None => (cols, grouped)
        case Some(mode) => (cols, interpolate(grouped, req.groupByTags.size, bucketUs.get,
          aggs.size, sAggs.size, mode))
      }
    }
  }

  /** GapFill semantics: per tag group, every bucket between the group's
    * first and last bucket; numeric aggregates filled by `mode`.
    */
  private def interpolate(rows: Seq[Seq[Any]], nTags: Int, bucketUs: Long, nNum: Int,
                          nStr: Int, mode: GapFill.Interpolation): Seq[Seq[Any]] =
    rows.groupBy(_.slice(1, 1 + nTags)).toSeq.flatMap { case (tags, g) =>
      val byBucket = g.map(r => r.head.asInstanceOf[Long] -> r).toMap
      val lo = byBucket.keys.min; val hi = byBucket.keys.max
      val grid = (lo to hi by bucketUs).toIndexedSeq
      val base = grid.map(b => byBucket.getOrElse(b,
        Seq[Any](b) ++ tags ++ Seq.fill[Any](nNum + nStr)(null)))
      val filled = (0 until nNum).foldLeft(base) { (acc, j) =>
        val c = 1 + nTags + j
        val vals = acc.map(r => Option(r(c)).map(_.asInstanceOf[Double]))
        val out: IndexedSeq[Any] = mode match {
          case GapFill.FillNull => vals.map(_.orNull)
          case GapFill.FillPrevious =>
            vals.scanLeft(Option.empty[Double])((prev, v) => v.orElse(prev)).tail.map(_.orNull)
          case GapFill.FillLinear => vals.indices.map { i =>
            vals(i).getOrElse {
              val prev = (i - 1 to 0 by -1).find(vals(_).isDefined)
              val next = (i + 1 until vals.size).find(vals(_).isDefined)
              (prev, next) match {
                case (None, Some(n)) => vals(n).get
                case (Some(p), None) => vals(p).get
                case (Some(p), Some(n)) =>
                  val pv = vals(p).get; val nv = vals(n).get
                  val frac = (grid(i) - grid(p)).toDouble / (grid(n) - grid(p)).toDouble
                  pv + (nv - pv) * frac
                case _ => null
              }
            }
          }
        }
        acc.zip(out).map { case (r, v) => r.updated(c, v) }
      }
      filled
    }
}

/** Canonical cells for comparing Spark rows with oracle rows. */
object Canon {
  val RelTol = 1e-9

  def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      Math.multiplyExact(t.getTime / 1000L, 1000000L) + t.getNanos / 1000L
    case i: Int => i.toLong
    case s: Short => s.toLong
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue()
    case d: BigDecimal => d.toDouble
    case other => other
  }

  def row(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map(cell)

  def compare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  def sameCell(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= RelTol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private val rowOrder: scala.math.Ordering[Seq[Any]] = (x: Seq[Any], y: Seq[Any]) =>
    x.zip(y).iterator.map { case (a, b) => compare(a, b) }.find(_ != 0).getOrElse(0)

  /** None when `actual` equals `expected` (in order when `ordered`);
    * otherwise the first difference found.
    */
  def diff(expected: Seq[Seq[Any]], actual: Seq[Seq[Any]], ordered: Boolean): Option[String] = {
    if (expected.size != actual.size) Some(s"row count ${actual.size}, expected ${expected.size}")
    else {
      val (e, a) = if (ordered) (expected, actual) else (expected.sorted(rowOrder), actual.sorted(rowOrder))
      e.zip(a).zipWithIndex.collectFirst {
        case ((x, y), i) if x.size != y.size || !x.zip(y).forall { case (p, q) => sameCell(p, q) } =>
          s"row $i is ${y.mkString("[", ",", "]")}, expected ${x.mkString("[", ",", "]")}"
      }
    }
  }
}
