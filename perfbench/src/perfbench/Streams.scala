package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.sources.{Ingest, Schemas}
import graft.operators.OptionAgg
import graft.streaming.StreamingOps

/** One drain of a stream topic: the unit of work of the stream workloads. */
final case class Drain(start: Double, end: Double, progress: Seq[StreamingQueryProgress],
                       out: Path) {
  def wallMs: Double = end - start
  def dataBatches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
  def rowsIn: Long = progress.map(_.numInputRows).sum
  /** Trigger times of the data batches after the first. The first also
    * starts the query (state store, sink, first plan) and runs longer,
    * on trade_stream by 40-60%; that cost is part of `wallMs`, not of
    * the batch latency. */
  def batchMs: Seq[Double] = dataBatches.drop(1).map(_.durationMs.get("triggerExecution").toDouble)
}

/** Shared machinery of the two stream workloads: a parquet topic with
  * one file per micro-batch, drained with Trigger.AvailableNow and
  * `FilesPerTrigger` into a checkpointed parquet sink.
  */
abstract class StreamWorkload(val files: Int) {
  val FilesPerTrigger = 1
  def topicSchema: String
  /** The pipeline from the raw topic rows to the sink. */
  def pipeline(raw: DataFrame): DataFrame
  /** The topic's records, topic file i as DataFrame partition i. */
  def records(spark: SparkSession): DataFrame
  /** The workload's own check of one drain; messages of what is wrong. */
  def check(spark: SparkSession, d: Drain): Seq[String]
  /** Layer-isolation passes for the traced run. */
  def isolation(spark: SparkSession, topic: Path): Seq[(String, Double)]

  /** Writes the topic as files part-00000.parquet … in drain order, with
    * increasing modification times (the file source's pickup order).
    */
  def writeTopic(spark: SparkSession, dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Files2.rmrf(tmp); Files2.rmrf(dir)
    records(spark).write.parquet(tmp.toString)
    Files.createDirectories(dir)
    val parts = Files2.listFiles(tmp, ".parquet").sortBy(_.getFileName.toString)
    require(parts.size == files, s"topic has ${parts.size} files, expected $files")
    val mtime0 = 1700000000000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val to = dir.resolve(f"part-$i%05d.parquet")
      Files.move(p, to)
      to.toFile.setLastModified(mtime0 + i * 1000L)
    }
    Files2.rmrf(tmp)
  }

  def drain(spark: SparkSession, topic: Path, work: Path, tag: String): Drain = {
    val out = work.resolve(s"out_$tag"); val ckpt = work.resolve(s"ckpt_$tag")
    Files2.rmrf(out); Files2.rmrf(ckpt)
    val t0 = Clock.ms()
    val raw = spark.readStream.schema(topicSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(topic.toString)
    val q = StreamingOps.sink(pipeline(raw), "parquet", Some(out.toString), ckpt.toString,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    Drain(t0, Clock.ms(), q.recentProgress.toSeq, out)
  }

  /** The batch form of the topic, for isolation passes. */
  def topicBatch(spark: SparkSession, topic: Path): DataFrame =
    spark.read.schema(topicSchema).parquet(topic.toString)

  def emptyTopic(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), StructType.fromDDL(topicSchema))

  /** Median of three timed runs of `df` to the noop sink. */
  def timeNoop(df: => DataFrame): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = Clock.ms()
      df.write.format("noop").mode("overwrite").save()
      Clock.ms() - t0
    })
}

/** `trade_stream`: option trades → parseJson → valid → 1-minute
  * windowedAgg with count and the 24 OptionAgg measures → parquet.
  */
final class TradeStream(seed: Long, files: Int) extends StreamWorkload(files) {
  import TradeGen._

  val topicSchema = "key string, value string, ts timestamp"
  val valueSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("ts", TimestampType),
    StructField("osym", StringType), StructField("usym", StringType),
    StructField("side", StringType), StructField("otype", StringType),
    StructField("qty", LongType), StructField("price", DoubleType),
    StructField("premium", DoubleType), StructField("strike", DoubleType),
    StructField("spot", DoubleType), StructField("iv", DoubleType),
    StructField("xchg", StringType), StructField("cond", StringType),
    StructField("bid", DoubleType), StructField("ask", DoubleType)))

  def parsed(raw: DataFrame): DataFrame =
    Ingest.valid(Ingest.parseJson(raw.withColumnRenamed("ts", "kafka_ts"), "value", valueSchema))
      .select("ts", "osym", "side", "otype", "qty", "premium")

  def aggs = count(lit(1)).as("count") +: OptionAgg.measures()

  def pipeline(raw: DataFrame): DataFrame =
    StreamingOps.windowedAgg(parsed(raw), "ts", "osym", "1 minute", Grace, aggs)

  def records(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val s = seed // the task closure must not capture this class
    val trades = spark.range(0, files, 1, files).as[Long]
      .flatMap(i => TradeGen.file(s, i.toInt).iterator.map(_.row))
    val recs = Ingest.toProducerRecords(trades.toDF(), "osym", "ts")
    // corrupt payloads: the producer's JSON cut short mid-record
    recs.withColumn("value", when(col("value").startsWith("{\"id\":\"x-"),
      substring(col("value"), 1, 48)).otherwise(col("value")))
  }

  /** The late-row count, the final watermark and the finalized windows
    * a correct drain emits: a group-by over the accepted generated rows,
    * keeping windows that end at or before the final watermark.
    */
  lazy val expected: (Long, Long, Map[(Long, String), Seq[Any]]) = {
    val gen = (0 until files).flatMap(i => TradeGen.file(seed, i))
    val accepted = gen.filter(g => !g.corrupt && !g.late).map(_.row)
    val watermark = accepted.map(_.ts.getTime).max - GraceMs
    val windows = accepted.groupBy(t => (Math.floorDiv(t.ts.getTime, 60000L) * 60000L, t.osym))
      .filter { case ((start, _), _) => start + 60000L <= watermark }
      .map { case (k, g) => k -> (Seq[Any](g.size.toLong) ++ TradeStream.measures(g)) }
    (gen.count(_.late).toLong, watermark, windows)
  }

  def check(spark: SparkSession, d: Drain): Seq[String] = {
    val (late, watermark, windows) = expected
    val dropped = d.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val wm = d.progress.lastOption.map(p => Option(p.eventTime.get("watermark"))).flatten
      .map(s => java.time.Instant.parse(s).toEpochMilli)
    val schemaCols = pipeline(emptyTopic(spark)).columns.toSeq
    val out = spark.read.parquet(d.out.toString)
    TradeStream.checkOutput(out.columns.toSeq, schemaCols, out.collect().toSeq.map(Canon.row),
      windows, dropped, late, wm, watermark, d.rowsIn, files.toLong * RowsPerFile)
  }

  def isolation(spark: SparkSession, topic: Path): Seq[(String, Double)] = {
    val raw = topicBatch(spark, topic)
    val parseMs = timeNoop(parsed(raw))
    val corrupt = Ingest.corrupt(Ingest.parseJson(raw.withColumnRenamed("ts", "kafka_ts"),
      "value", valueSchema)).count()
    val rows = parsed(raw).localCheckpoint()
    val aggMs = timeNoop(StreamingOps.windowedAgg(rows, "ts", "osym", "1 minute", Grace, aggs))
    Seq("sources.parse_ms" -> parseMs, "sources.rows_corrupt" -> corrupt.toDouble,
      "operators.option_agg_ms" -> aggMs)
  }
}

object TradeStream {
  /** The 24 measures of OptionAgg, evaluated in plain Scala in its column
    * order: whale then retail; buy, sell, no_side; put, call; vol, prem.
    */
  def measures(g: Seq[TradeRow]): Seq[Any] = for {
    whale <- Seq(true, false)
    side <- Seq("buy", "sell", "no_side")
    otype <- Seq("put", "call")
    m <- {
      val sel = g.filter(t => (t.premium > 250000.0) == whale && t.side == side && t.otype == otype)
      Seq[Any](sel.map(_.qty).sum, sel.map(t => BigDecimal(t.premium)).sum.toDouble)
    }
  } yield m

  /** Compares a drain's output with the expected windows. Counts and
    * volumes must match exactly, premiums within Canon.RelTol.
    */
  def checkOutput(cols: Seq[String], expectedCols: Seq[String], rows: Seq[Seq[Any]],
                  windows: Map[(Long, String), Seq[Any]], dropped: Long, late: Long,
                  watermark: Option[Long], expectedWatermark: Long, rowsIn: Long,
                  expectedRowsIn: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (cols != expectedCols) errs += s"output columns $cols, expected $expectedCols"
    if (rowsIn != expectedRowsIn) errs += s"read $rowsIn rows, expected $expectedRowsIn"
    if (dropped != late) errs += s"$dropped rows dropped by watermark, expected $late"
    if (!watermark.contains(expectedWatermark))
      errs += s"final watermark $watermark, expected $expectedWatermark"
    val got = rows.map(r => (r.head.asInstanceOf[Long] / 1000L, r(2).asInstanceOf[String]) -> r.drop(3))
    val gotMap = got.toMap
    if (gotMap.size != got.size) errs += "a window was emitted twice"
    if (gotMap.keySet != windows.keySet)
      errs += s"${gotMap.size} windows emitted, expected ${windows.size} " +
        s"(${(windows.keySet -- gotMap.keySet).size} missing, ${(gotMap.keySet -- windows.keySet).size} extra)"
    windows.iterator.filter { case (k, _) => gotMap.contains(k) }
      .find { case (k, e) => Canon.diff(Seq(e), Seq(gotMap(k)), ordered = true).isDefined }
      .foreach { case (k, e) => errs += s"window $k is ${gotMap(k)}, expected $e" }
    errs.result()
  }
}

/** `darkpool_dedup_stream`: darkpool prints → parseJson → valid →
  * darkpoolTransform → dedupWithinWatermark(row_key) → parquet.
  */
final class DarkpoolStream(seed: Long, files: Int) extends StreamWorkload(files) {
  val topicSchema = "key string, value string, ts bigint"

  def transformed(raw: DataFrame): DataFrame =
    Ingest.darkpoolTransform(Ingest.valid(Ingest.parseJson(raw.drop("ts"), "value",
      Schemas.darkpoolTrade))).withColumn("event_time", timestamp_millis(col("ts")))

  def pipeline(raw: DataFrame): DataFrame =
    StreamingOps.dedupWithinWatermark(transformed(raw), "event_time", DarkpoolGen.Grace, Seq("row_key"))

  def records(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val s = seed // the task closure must not capture this class
    val prints = spark.range(0, files, 1, files).as[Long]
      .flatMap(i => DarkpoolGen.file(s, i.toInt).iterator)
    Ingest.toProducerRecords(prints.toDF(), "symbol", "ts")
  }

  /** (records sent, the row_key of every distinct print). */
  lazy val expected: (Long, Set[String]) = {
    val sent = (0 until files).map(i => DarkpoolGen.file(seed, i).length.toLong).sum
    val keys = (0 until files).flatMap(i => DarkpoolGen.fresh(seed, i))
      .map(p => DarkpoolStream.rowKey(p)).toSet
    (sent, keys)
  }

  def check(spark: SparkSession, d: Drain): Seq[String] = {
    val (sent, keys) = expected
    val got = spark.read.parquet(d.out.toString).select("row_key").collect().toSeq.map(_.getString(0))
    DarkpoolStream.checkOutput(got, keys, d.rowsIn, sent)
  }

  def isolation(spark: SparkSession, topic: Path): Seq[(String, Double)] = {
    val raw = topicBatch(spark, topic)
    val parseMs = timeNoop(Ingest.valid(Ingest.parseJson(raw.drop("ts"), "value", Schemas.darkpoolTrade)))
    val corrupt = Ingest.corrupt(Ingest.parseJson(raw.drop("ts"), "value", Schemas.darkpoolTrade)).count()
    Seq("sources.parse_ms" -> parseMs, "sources.rows_corrupt" -> corrupt.toDouble,
      "operators.option_agg_ms" -> 0.0)
  }
}

object DarkpoolStream {
  /** SHA-256 of symbol|ts|price|qty, as Enrich.surrogateKey computes it. */
  def rowKey(p: DarkpoolRow): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"${p.symbol}|${p.ts}|${p.price}|${p.qty}".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  def checkOutput(got: Seq[String], keys: Set[String], rowsIn: Long, sent: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (rowsIn != sent) errs += s"read $rowsIn records, expected $sent"
    val dupes = got.size - got.distinct.size
    if (dupes > 0) errs += s"$dupes row_keys appear more than once"
    val gotSet = got.toSet
    if (gotSet != keys)
      errs += s"${gotSet.size} distinct prints emitted, expected ${keys.size} " +
        s"(${(keys -- gotSet).size} missing, ${(gotSet -- keys).size} unknown)"
    errs.result()
  }
}
