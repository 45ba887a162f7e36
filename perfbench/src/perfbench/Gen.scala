package perfbench

import java.sql.Timestamp
import scala.collection.mutable

/** One option trade as the producer sends it (a subset of the
  * reference's `map_fields` output, wide enough that parsing is real).
  */
final case class TradeRow(id: String, ts: Timestamp, osym: String, usym: String,
                          side: String, otype: String, qty: Long, price: Double,
                          premium: Double, strike: Double, spot: Double, iv: Double,
                          xchg: String, cond: String, bid: Double, ask: Double)

/** A generated trade and what the pipeline must do with it. */
final case class GenTrade(row: TradeRow, corrupt: Boolean, late: Boolean)

/** Seeded option-trade topic: one parquet file per micro-batch.
  *
  * File i holds `RowsPerFile` trades whose event time advances through
  * [T0 + i·Span, T0 + (i+1)·Span). On top of that:
  *  - `OutOfOrderShare` of rows (file ≥ 1) fall up to Grace/2 before the
  *    file's slice — behind the stream's maximum but inside the grace, so
  *    they are aggregated;
  *  - `LateShare` of rows (file ≥ 2) fall more than Grace + 2 minutes
  *    before the previous file's slice, so their window has closed under
  *    any watermark the engine can hold by then, and they are dropped.
  *    Late rows of one file use distinct symbols, so the state store's
  *    dropped-row count equals the number of late events whether it
  *    counts raw rows or partial aggregates;
  *  - `CorruptShare` of payloads are truncated JSON.
  * Symbols follow a Zipf law over `Symbols` option symbols; premiums
  * straddle the 250k whale threshold. A slice spans `SpanMs`, so a drain
  * of a few files moves the watermark past the grace and finalizes (and
  * evicts from state) the earliest minute windows.
  */
object TradeGen {
  val Symbols = 2000
  val ZipfS = 1.1
  val RowsPerFile = 12000
  val SpanMs = 60000L
  val GraceMs = 120000L
  val Grace = "2 minutes"
  val OutOfOrderShare = 0.03
  val LateShare = 0.004
  val CorruptShare = 0.001
  val T0Ms = 1704205800000L // 2024-01-02 14:30:00 UTC

  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to Symbols).map(k => 1.0 / math.pow(k, ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def zipf(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Symbols - 1)
  }

  private val underlyings = Array("AAPL", "MSFT", "NVDA", "TSLA", "AMZN", "META",
    "SPY", "QQQ", "AMD", "GOOG")
  final case class Sym(osym: String, usym: String, otype: String, strike: Double, base: Double)
  lazy val symbols: Array[Sym] = Array.tabulate(Symbols) { k =>
    val usym = underlyings(k % underlyings.length)
    val otype = if ((k / underlyings.length) % 2 == 0) "call" else "put"
    val strike = 50.0 + 5.0 * (k % 97)
    Sym(f"$usym%s2402${if (otype == "call") "C" else "P"}%s${k}%05d", usym, otype, strike,
      0.5 + (k * 37 % 400) / 10.0)
  }

  private val sides = Array("buy", "sell", "no_side")
  private val xchgs = Array("CBOE", "ISE", "PHLX", "ARCA", "MIAX")
  private val conds = Array("S", "I", "SLAN", "MLET")

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** The trades of topic file `i`, in arrival order. */
  def file(seed: Long, i: Int): Array[GenTrade] = {
    val r = Rng(seed, 1000003L + i)
    val lateSyms = mutable.HashSet[Int]()
    val sliceStart = T0Ms + i * SpanMs
    Array.tabulate(RowsPerFile) { j =>
      val corrupt = r.nextDouble() < CorruptShare
      val u = r.nextDouble()
      var k = zipf(r)
      val late = !corrupt && i >= 2 && u < LateShare
      val tsMs =
        if (late) sliceStart - SpanMs - GraceMs - 120000L - r.nextLong(120000L)
        else if (i >= 1 && u < LateShare + OutOfOrderShare) sliceStart - 1 - r.nextLong(GraceMs / 2)
        else sliceStart + j * SpanMs / RowsPerFile
      if (late) {
        while (lateSyms.contains(k)) k = (k + 1) % Symbols
        lateSyms += k
      }
      val s = symbols(k)
      val qty = 1L + (math.pow(r.nextDouble(), 3) * 600).toLong
      val price = r2(s.base * (0.9 + 0.2 * r.nextDouble()))
      val spread = r2(0.01 + 0.05 * r.nextDouble())
      val row = TradeRow(
        id = (if (corrupt) "x-" else "t-") + s"$i-$j",
        ts = new Timestamp(tsMs), osym = s.osym, usym = s.usym,
        side = sides(r.nextInt(20) match { case n if n < 9 => 0; case n if n < 17 => 1; case _ => 2 }),
        otype = s.otype, qty = qty, price = price, premium = r2(price * qty * 100.0),
        strike = s.strike, spot = r2(s.strike * (0.8 + 0.4 * r.nextDouble())),
        iv = math.round((0.1 + r.nextDouble()) * 10000.0) / 10000.0,
        xchg = xchgs(r.nextInt(xchgs.length)), cond = conds(r.nextInt(conds.length)),
        bid = r2(price - spread), ask = r2(price + spread))
      GenTrade(row, corrupt, late)
    }
  }
}

/** A darkpool print as the vendor sends it (Schemas.darkpoolTrade). */
final case class DarkpoolRow(ts: Long, symbol: String, bid: String, ask: String,
                             price: String, value: String, bid_sz: Int, ask_sz: Int,
                             qty: Int, side: String, bull_bear: Float, venue: String,
                             tags: Seq[String])

/** Seeded darkpool topic with at-least-once redelivery: file i carries
  * `FreshPerFile` new prints with event time in [T0 + i·Span,
  * T0 + (i+1)·Span), plus redelivered copies (identical payloads) of
  * prints first sent up to `RedeliverFiles` files earlier — about a
  * quarter of all records. A copy's event time stays above the
  * watermark when it arrives (Span < Grace), so the dedup state, not the
  * late-row filter, must catch it. Keys leave the state once their event
  * time falls 2 × Grace behind the stream, so the last batches of a
  * drain evict the first file's keys.
  */
object DarkpoolGen {
  val Symbols = 500
  val FreshPerFile = 9000
  val DupShare = 0.25 // of all records
  val RedeliverFiles = 1
  val SpanMs = 50000L
  val Grace = "1 minute"
  val T0Ms = 1704205800000L
  private val venues = Array("FINRA_TRF_CARTERET", "FINRA_TRF_CHICAGO", "FINRA_ADF")

  private def d4(x: Double): String = java.math.BigDecimal.valueOf(math.round(x * 10000.0), 4).toPlainString

  /** The prints first sent in file i. */
  def fresh(seed: Long, i: Int): Array[DarkpoolRow] = {
    val r = Rng(seed, 2000003L + i)
    Array.tabulate(FreshPerFile) { j =>
      val sym = f"DP${r.nextInt(Symbols)}%03d"
      val mid = 20.0 + (sym.hashCode & 0xff)
      val bid = mid - 0.01 - r.nextDouble() * 0.05
      val ask = mid + 0.01 + r.nextDouble() * 0.05
      val price = bid + (ask - bid) * r.nextDouble()
      val qty = 100 * (1 + r.nextInt(50))
      val p = d4(price)
      DarkpoolRow(T0Ms + i * SpanMs + j * SpanMs / FreshPerFile, sym, d4(bid), d4(ask), p,
        new java.math.BigDecimal(p).multiply(java.math.BigDecimal.valueOf(qty)).toPlainString,
        100 * r.nextInt(20), 100 * r.nextInt(20), qty, "", r.nextFloat() * 2 - 1,
        venues(r.nextInt(venues.length)), Seq("darkpool"))
    }
  }

  /** File i in arrival order: its fresh prints with redelivered copies
    * of earlier prints interleaved at seeded positions.
    */
  def file(seed: Long, i: Int): Array[DarkpoolRow] = {
    val r = Rng(seed, 3000017L + i)
    val earlier = (1 to math.min(i, RedeliverFiles)).map(b => fresh(seed, i - b))
    val dupsPerFile = (FreshPerFile * DupShare / (1 - DupShare)).toInt
    val dups =
      if (i == 0) Array.empty[DarkpoolRow]
      else Array.fill(dupsPerFile) {
        earlier(r.nextInt(earlier.size))(r.nextInt(FreshPerFile))
      }
    (fresh(seed, i).map(x => (r.nextDouble(), x)) ++ dups.map(x => (r.nextDouble(), x)))
      .sortBy(_._1).map(_._2)
  }
}
