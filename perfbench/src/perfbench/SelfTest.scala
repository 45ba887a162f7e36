package perfbench

import org.apache.spark.sql.Row

/** Shows that every output check accepts a correct result and rejects
  * an injected wrong one. Needs no Spark session: the checks run on
  * results built from the generators' own expectations.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, errors: Seq[String], wantErrors: Boolean): Unit = {
    val ok = errors.nonEmpty == wantErrors
    if (!ok) failures += 1
    val what = if (errors.isEmpty) "accepted" else s"rejected: ${errors.head.take(120)}"
    println(s"${if (ok) "PASS" else "FAIL"} $name — $what")
  }

  def tradeStream(): Unit = {
    val files = Main.TradeFiles
    val w = new TradeStream(1L, files)
    val (late, watermark, windows) = w.expected
    val cols = Seq("window_start", "window_end", "osym") ++ Seq("count") ++
      (for { wh <- Seq("whale_", ""); s <- Seq("bought", "sold", "no_side"); t <- Seq("put", "call");
             m <- Seq("vol", "prem") } yield s"$wh${s}_${t}_$m")
    val rows = windows.toSeq.sortBy(_._1).map { case ((start, osym), v) =>
      Seq[Any](start * 1000L, (start + 60000L) * 1000L, osym) ++ v }
    val rowsIn = files.toLong * TradeGen.RowsPerFile
    def run(rs: Seq[Seq[Any]] = rows, dropped: Long = late, wm: Option[Long] = Some(watermark),
            in: Long = rowsIn, c: Seq[String] = cols) =
      TradeStream.checkOutput(c, cols, rs, windows, dropped, late, wm, watermark, in, rowsIn)
    require(late > 0 && rows.size > 10, "the self-test topic needs late rows and windows")
    expect("trade_stream: correct output", run(), wantErrors = false)
    expect("trade_stream: a window's count off by one",
      run(rows.updated(3, rows(3).updated(3, rows(3)(3).asInstanceOf[Long] + 1))), wantErrors = true)
    val premCol = 5 // whale_bought_put_prem
    val withPrem = rows.indexWhere(_(premCol).asInstanceOf[Double] > 0) match {
      case -1 => rows.indexWhere(_(premCol + 2).asInstanceOf[Double] > 0) -> (premCol + 2)
      case i => i -> premCol
    }
    val (pi, pc) = withPrem
    expect("trade_stream: a premium sum off by 1e-6 relative",
      run(rows.updated(pi, rows(pi).updated(pc, rows(pi)(pc).asInstanceOf[Double] * (1 + 1e-6)))),
      wantErrors = true)
    expect("trade_stream: a finalized window missing", run(rows.tail), wantErrors = true)
    expect("trade_stream: a window emitted twice", run(rows :+ rows.head), wantErrors = true)
    expect("trade_stream: late rows aggregated instead of dropped", run(dropped = late - 1),
      wantErrors = true)
    expect("trade_stream: wrong final watermark", run(wm = Some(watermark - 60000L)), wantErrors = true)
    expect("trade_stream: rows lost at the source", run(in = rowsIn - 1), wantErrors = true)
    expect("trade_stream: wrong output schema", run(c = cols.reverse), wantErrors = true)
  }

  def darkpool(): Unit = {
    val w = new DarkpoolStream(1L, 4)
    val (sent, keys) = w.expected
    val got = keys.toSeq
    expect("darkpool_dedup_stream: correct output", DarkpoolStream.checkOutput(got, keys, sent, sent),
      wantErrors = false)
    expect("darkpool_dedup_stream: a redelivered print kept twice",
      DarkpoolStream.checkOutput(got :+ got.head, keys, sent, sent), wantErrors = true)
    expect("darkpool_dedup_stream: a distinct print lost",
      DarkpoolStream.checkOutput(got.tail, keys, sent, sent), wantErrors = true)
    expect("darkpool_dedup_stream: a wrong row_key",
      DarkpoolStream.checkOutput(("0" * 64) +: got.tail, keys, sent, sent), wantErrors = true)
    expect("darkpool_dedup_stream: records lost at the source",
      DarkpoolStream.checkOutput(got, keys, sent - 1, sent), wantErrors = true)
  }

  def dashboard(): Unit = {
    val d = new Dashboard(1L)
    val exp = d.expected(new DashOracle(1L))
    def pass(f: (DashReq, Seq[String], Seq[Seq[Any]]) => (Seq[String], Seq[Seq[Any]])): Pass =
      Pass(0, 0, d.mix.map { r =>
        val (c, rows) = exp(r.id)
        val (c2, rows2) = f(r, c, rows)
        Answer(r, 0, 0, 0, c2, rows2.map(Row.fromSeq), None)
      })
    expect("dashboard_queries: correct answers", d.check(pass((_, c, r) => (c, r)), exp),
      wantErrors = false)
    def corrupt(target: DashReq)(f: (Seq[String], Seq[Seq[Any]]) => (Seq[String], Seq[Seq[Any]])) =
      d.check(pass((r, c, rows) => if (r.id == target.id) f(c, rows) else (c, rows)), exp)
    // one request of each kind: a row dropped, a value changed (doubles by
    // 1e-6 relative), columns reordered
    d.mix.groupBy(_.kind).toSeq.sortBy(_._1).map(_._2.head).foreach { r =>
      expect(s"dashboard_queries: a row of a ${r.kind} request missing",
        corrupt(r)((c, rows) => (c, rows.tail)), wantErrors = true)
      val rows = exp(r.id)._2
      def nudge(v: Any): Option[Any] = v match {
        case x: Double => Some(x * (1 + 1e-6) + 1e-6)
        case x: String => Some(x + "_")
        case _ => None
      }
      rows.indices.flatMap(i => rows(i).indices.map(j => (i, j)))
        .collectFirst { case (i, j) if nudge(rows(i)(j)).isDefined => (i, j) }
        .foreach { case (i, j) =>
          expect(s"dashboard_queries: a value of a ${r.kind} request changed",
            corrupt(r)((c, rs) => (c, rs.updated(i, rs(i).updated(j, nudge(rs(i)(j)).get)))),
            wantErrors = true)
        }
      if (exp(r.id)._1.size > 1)
        expect(s"dashboard_queries: the columns of a ${r.kind} request out of order",
          corrupt(r)((c, rs) => (c.reverse, rs)), wantErrors = true)
    }
    d.mix.collectFirst { case p: PlanReq if p.ordered && exp(p.id)._2.size > 1 => p }.foreach { raw =>
      expect("dashboard_queries: a paged raw fetch out of order", d.check(pass { (r, c, rows) =>
        if (r.id != raw.id) (c, rows) else (c, rows.reverse) }, exp), wantErrors = true)
    }
  }

  def main(args: Array[String]): Unit = {
    tradeStream()
    darkpool()
    dashboard()
    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures case(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
