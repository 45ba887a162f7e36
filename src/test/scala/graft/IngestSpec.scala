package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Ingest, Schemas}

/** Ingestion layer: permissive from_json with corrupt quarantine (F3),
  * the vendor->canonical map_fields projection with null defaults (P1),
  * provenance headers (P15), producer-record projection (P16).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("parseJson splits valid rows from corrupt payloads instead of failing (F2/F3)") {
    val raw = Seq(
      """{"symbol":"AAPL","event":"A","open":1.0,"high":2.0,"low":0.5,"close":1.5,"vwap":1.2,"bar_volume":100,"num_of_trades":5,"session_volume":1000,"timestamp":1704067200000}""",
      """{"symbol":"TSLA","close":2.5,"timestamp":1704067201000}""", // sparse but valid
      """not json at all""",
      """{"symbol": 12, "timestamp": "also-bad"}"""                  // type mismatch
    ).toDF("raw")
    val parsed = Ingest.parseJson(raw, "raw", Schemas.equityBar)
    Ingest.valid(parsed).count() shouldBe 2
    Ingest.corrupt(parsed).count() shouldBe 2
    // corrupt rows keep the raw payload for a dead-letter sink
    Ingest.corrupt(parsed).select($"raw").collect()
      .map(_.getString(0)) should contain("not json at all")
    // sparse row: missing fields are null, not an error
    val tsla = Ingest.valid(parsed).filter($"symbol" === "TSLA").collect()(0)
    tsla.isNullAt(tsla.fieldIndex("open")) shouldBe true
    tsla.getAs[Double]("close") shouldBe 2.5
  }

  test("parseJson parses each payload once under the valid/corrupt split; null, empty and truncated payloads keep their split") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    // read back from parquet: over an in-memory LocalRelation the
    // optimizer would run the whole parse at planning time
    val src = java.nio.file.Files.createTempDirectory("parse_once").toString + "/raw"
    Seq[(Int, String)](
      (1, """{"a":1,"b":"x"}"""),
      (2, null),
      (3, ""),
      (4, """{"a":2,"b":""")            // truncated mid-value
    ).toDF("id", "raw").write.parquet(src)
    val raw = spark.read.parquet(src)
    val parsed = Ingest.parseJson(raw, "raw", schema)
    // a filter on the parsed columns must not re-inline the parse: one
    // JsonToStructs per optimized plan, not one in the Filter and one
    // in the Project
    def parses(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
        }.size).sum
      }.sum
    parses(Ingest.valid(parsed)) shouldBe 1
    parses(Ingest.corrupt(parsed)) shouldBe 1
    // input columns, then schema fields, then the corrupt column
    parsed.columns.toSeq shouldBe Seq("id", "raw", "a", "b", Ingest.CorruptCol)
    // null and empty payloads are valid all-null rows; only the
    // truncated payload is quarantined, with its raw text
    rowsOf(Ingest.valid(parsed).orderBy($"id")) shouldBe Seq(
      Seq(1, """{"a":1,"b":"x"}""", 1L, "x"),
      Seq(2, null, null, null),
      Seq(3, "", null, null))
    rowsOf(Ingest.corrupt(parsed).select($"id", col(Ingest.CorruptCol))) shouldBe
      Seq(Seq(4, """{"a":2,"b":"""))
  }

  test("mapFields: vendor fields rename + string-numeric casts with '0' defaults (P1, ref utils.py:111-145)") {
    val vendorJson = Seq(
      """{"id":"t-1","executed_at":1704110460500,"option_symbol":"AAPL240118C00100000",
        |"underlying_symbol":"AAPL","underlying_price":"101.2","strike":"100.0",
        |"expiry":"2024-01-18","option_type":"call","size":"120","price":"2.15",
        |"premium":"258000.0","exchange":"CBOE","condition":"S",
        |"implied_volatility":null,"open_interest":"5400","nbbo_bid":"2.10",
        |"nbbo_ask":"2.20","theo_price":"2.14","delta":"0.55","gamma":"0.04",
        |"vega":"0.11","theta":"-0.05","rho":"0.02",
        |"report_flags":["sweep"],"tags":["ask_side"]}""".stripMargin.replace("\n", "")
    ).toDF("raw")
    val vendor = Ingest.valid(Ingest.parseJson(vendorJson, "raw", Schemas.optionTradeVendor))
    val out = Ingest.mapFields(vendor).collect()(0)
    out.getAs[String]("osym") shouldBe "AAPL240118C00100000"
    out.getAs[Long]("ts") shouldBe 1704110460500L
    out.getAs[Double]("spot") shouldBe 101.2
    out.getAs[Long]("qty") shouldBe 120L
    out.getAs[Double]("iv") shouldBe 0.0          // null -> '0' default
    out.getAs[Seq[String]]("tags") shouldBe Seq("ask_side", "sweep") // merged
  }

  test("explodeFrames skips the sentinel element and flattens the rest (F2, ref utils.py:183)") {
    val frame =
      """[{"symbol":"STATUS","timestamp":0},
        |{"symbol":"AAPL","close":1.5,"timestamp":1704067200000},
        |{"symbol":"TSLA","close":2.5,"timestamp":1704067201000}]""".stripMargin.replace("\n", "")
    val out = Ingest.explodeFrames(Seq(frame).toDF("raw"), "raw", Schemas.equityBar)
    out.count() shouldBe 2
    out.select($"symbol").collect().map(_.getString(0)).toSeq shouldBe Seq("AAPL", "TSLA")
  }

  test("withProvenance adds the header map (P15, ref utils.py:187-190)") {
    val out = Ingest.withProvenance(Seq(1).toDF("x"), "unusualwhales", "uw-1")
      .select($"headers").collect()(0).getMap[String, String](0)
    out("data_provider") shouldBe "unusualwhales"
    out("integration_id") shouldBe "uw-1"
  }

  test("S3 adapt: validator + transform + key/ts callbacks compose into producer records") {
    val frames = Seq(
      """{"sym":"AAPL","ev":"A","o":1.0,"h":2.0,"l":0.5,"c":1.5,"vw":1.2,"v":100,"z":5,"av":1000,"s":1704067200000}""",
      """broken"""
    ).toDF("raw")
    val vendorBar = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sym", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ev", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("vw", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("z", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("av", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.LongType)))
    val out = Ingest.adapt(frames, "raw", vendorBar,
      Ingest.barTransform, keyCol = "symbol", tsCol = "timestamp",
      provider = "polygon", integrationId = "pg-1").collect()
    out.length shouldBe 1 // broken frame quarantined by the validator
    out(0).getAs[String]("key") shouldBe "AAPL"
    out(0).getAs[Long]("ts") shouldBe 1704067200000L
    out(0).getAs[String]("value") should include(""""headers":{"data_provider":"polygon"""")
  }

  test("newsTransform: nested publisher access + headers (ref news/main.py:56-79)") {
    val raw =
      """{"id":"n-1","published_utc":"2024-01-15T09:30:00Z",
        |"publisher":{"name":"Reuters","homepage_url":"https://r.com"},
        |"tickers":["AAPL","MSFT"],"title":"T","article_url":"u","description":"d"}"""
        .stripMargin.replace("\n", "")
    val parsed = Ingest.valid(Ingest.parseJson(Seq(raw).toDF("raw"), "raw", Schemas.newsArticle))
    val out = Ingest.newsTransform(parsed).collect()(0)
    out.getAs[String]("publisher_name") shouldBe "Reuters"
    out.getAs[Seq[String]]("tickers") shouldBe Seq("AAPL", "MSFT")
    val h = out.getAs[Map[String, String]]("headers")
    h("publisher") shouldBe "Reuters"
    h("published_date") shouldBe "2024-01-15"
    h("tickers") shouldBe "AAPL,MSFT"
  }

  test("darkpoolTransform: exact decimal arithmetic, string round-trip at the boundary (hard part 5)") {
    val raw = Seq(
      // price*qty = 12.3456*7 = 86.4192 — exact in decimal, NOT in float
      (1704067200000L, "AAPL", "12.3400", "12.3500", "12.3456", 7, "NYSE"),
      (1704067201000L, "AAPL", "10.0000", "10.0100", "10.0010", 3, "NYSE")
    ).toDF("ts", "symbol", "bid", "ask", "price", "qty", "venue")
    val out = Ingest.darkpoolTransform(raw).orderBy($"ts").collect()
    out(0).getAs[String]("value") shouldBe "86.4192"
    out(0).getAs[String]("price") shouldBe "12.3456"
    out(0).getAs[String]("side") shouldBe "B"  // 12.3456 closer to ask 12.35
    out(1).getAs[String]("side") shouldBe "S"  // 10.0010 closer to bid 10.00
    out(0).getAs[String]("row_key") should fullyMatch regex "[0-9a-f]{64}"
    // distinct rows get distinct surrogate keys
    out(0).getAs[String]("row_key") should not be out(1).getAs[String]("row_key")
  }

  test("toProducerRecords: key/value-json/event-time projection round-trips (P16/S6)") {
    val df = Seq((7L, "click", 1704067200000L)).toDF("id", "etype", "ts")
    val rec = Ingest.toProducerRecords(df, "id", "ts").collect()(0)
    rec.getAs[String]("key") shouldBe "7"
    rec.getAs[Long]("ts") shouldBe 1704067200000L
    // value JSON parses back to the original row
    val back = Ingest.valid(Ingest.parseJson(
      Seq(rec.getAs[String]("value")).toDF("raw"),
      "raw",
      StructType(Seq(StructField("id", LongType), StructField("etype", StringType),
        StructField("ts", LongType))))).collect()(0)
    back.getAs[Long]("id") shouldBe 7L
    back.getAs[String]("etype") shouldBe "click"
  }
}
