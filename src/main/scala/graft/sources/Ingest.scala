package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The raw-bytes → typed-DataFrame ingestion layer (SURVEY.md §2.1,
  * §2.3-2.4): permissive JSON parsing with corrupt-record quarantine,
  * the vendor→canonical `map_fields` projection with null-defaulting,
  * and provenance headers. Works identically on batch DataFrames and
  * on `readStream` sources (a Kafka value column is just a string
  * column here — ref option_trade_aggs/main.py:203-208).
  */
object Ingest {

  val CorruptCol = "_corrupt_record"

  /** Permissive schema-on-read: parse `jsonCol` against `schema`,
    * keeping unparseable payloads in [[CorruptCol]] instead of failing
    * the job — the reference's skip-bad-record-and-continue policy
    * (ref option_trades/utils.py:205-208; SURVEY.md §2.10 error
    * handling). Returns all rows; use [[valid]]/[[corrupt]] to split.
    *
    * Columns: `df`'s, then `schema`'s fields, then [[CorruptCol]]. A
    * null or empty payload yields an all-null row with a null
    * [[CorruptCol]], so it counts as valid.
    *
    * PERFORMANCE: the parse is the output of a one-row `inline_outer`
    * Generate, so each payload parses once per evaluation of the plan.
    * PushDownPredicates would inline a projected `from_json` into any
    * filter on top (the [[valid]]/[[corrupt]] split included) and
    * parse every payload twice; it cannot push a filter through a
    * Generate onto the Generate's output. A global sort's
    * range-sampling pass still evaluates the plan twice, so batch
    * callers that sort the parsed rows should cut the plan at the
    * parse boundary (`.localCheckpoint()` locally; at scale, the
    * parsed-table write a bronze→silver layer does anyway).
    */
  def parseJson(df: DataFrame, jsonCol: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add(CorruptCol, org.apache.spark.sql.types.StringType)
    df.select(col("*"), inline_outer(array(
      from_json(col(jsonCol), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))))
  }

  /** Rows that parsed cleanly (F3 schema-validator filter,
    * ref equity_quotes/main.py:78-84). Drops the corrupt column.
    */
  def valid(parsed: DataFrame): DataFrame =
    parsed.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** Quarantined rows with the raw payload for a dead-letter sink. */
  def corrupt(parsed: DataFrame): DataFrame =
    parsed.filter(col(CorruptCol).isNotNull)

  /** P1 `map_fields` — vendor→canonical option-trade projection: rename
    * ~25 vendor fields, cast the string numerics with `or '0'`-style
    * null-defaulting, merge report flags into tags
    * (ref option_trades/utils.py:111-145). Input has
    * [[Schemas.optionTradeVendor]] columns; output is canonical
    * [[Schemas.optionTrade]] minus the derived enrichment columns.
    */
  def mapFields(vendor: DataFrame): DataFrame = {
    def d(c: String): Column = coalesce(col(c), lit("0")).cast("double")
    def l(c: String): Column = coalesce(col(c), lit("0")).cast("long")
    vendor.select(
      col("id"),
      coalesce(col("executed_at"), lit(0L)).as("ts"),
      col("option_symbol").as("osym"),
      col("underlying_symbol").as("usym"),
      d("underlying_price").as("spot"),
      d("strike").as("strike"),
      col("expiry").as("expiration"),
      col("option_type").as("otype"),
      l("size").as("qty"),
      d("price").as("price"),
      d("premium").as("premium"),
      col("exchange").as("xchg"),
      col("condition").as("cond"),
      d("implied_volatility").as("iv"),
      l("open_interest").as("oi"),
      d("nbbo_bid").as("bid"),
      d("nbbo_ask").as("ask"),
      d("theo_price").as("theo"),
      d("delta").as("delta"),
      d("gamma").as("gamma"),
      d("vega").as("vega"),
      d("theta").as("theta"),
      d("rho").as("rho"),
      concat(
        coalesce(col("tags"), array()),
        coalesce(col("report_flags"), array())).as("tags"))
  }

  /** F2 + §2.11 flattening — one WebSocket frame carries a JSON ARRAY
    * whose element 0 is a channel-status sentinel; real records are
    * `data[1:]` (ref option_trades/utils.py:183). Parse the array,
    * explode with position, drop the sentinel — the generator/UDTF
    * shape executed as `posexplode`, fully distributed.
    */
  def explodeFrames(df: DataFrame, jsonCol: String, elementSchema: StructType): DataFrame =
    df.withColumn("__arr",
        from_json(col(jsonCol), org.apache.spark.sql.types.ArrayType(elementSchema)))
      .select(col("*"), posexplode_outer(col("__arr")).as(Seq("__pos", "__rec")))
      .filter(col("__pos") >= 1) // data[1:] — skip the sentinel element
      .select(col("__rec.*"))

  /** P2 — Polygon bar → canonical OHLCV record
    * (ref equity_quotes/main.py:52-75).
    */
  def barTransform(raw: DataFrame): DataFrame =
    raw.select(
      col("sym").as("symbol"),
      coalesce(col("ev"), lit("A")).as("event"),
      col("o").as("open"), col("h").as("high"),
      col("l").as("low"), col("c").as("close"),
      coalesce(col("vw"), col("c")).as("vwap"),
      col("v").as("bar_volume"),
      coalesce(col("z"), lit(0L)).as("num_of_trades"),
      coalesce(col("av"), lit(0L)).as("session_volume"),
      col("s").as("timestamp"))

  /** News-article transform (ref news/main.py:56-79): nested publisher
    * struct access, ISO timestamp parse, ticker list passthrough, and
    * the per-record headers the reference attaches (publisher name,
    * `yyyy-MM-dd` date, tickers — ref news/main.py:63-67).
    */
  def newsTransform(raw: DataFrame): DataFrame =
    raw.select(
      col("id"),
      to_timestamp(col("published_utc")).as("published_at"),
      col("publisher.name").as("publisher_name"),
      col("tickers"),
      col("title"),
      col("description"),
      map(
        lit("publisher"), coalesce(col("publisher.name"), lit("")),
        lit("published_date"),
        date_format(to_timestamp(col("published_utc")), "yyyy-MM-dd"),
        lit("tickers"), concat_ws(",", coalesce(col("tickers"), array()))
      ).as("headers"))

  /** Darkpool-trade transform with EXACT decimal arithmetic
    * (SURVEY §7 hard part 5; ref darkpool_trades/main.py:71-133):
    * Decimal-as-string vendor prices → DecimalType(18,4) internally,
    * nearest-quote side rule and value = price × qty computed in
    * decimal (never float round-tripped), SHA-256 surrogate key,
    * condition/sentiment tags — and the prices serialized BACK to
    * strings at the output boundary, matching the Avro contract.
    */
  def darkpoolTransform(raw: DataFrame): DataFrame = {
    def dec(c: String) = col(c).cast("decimal(18,4)")
    val side = graft.operators.Enrich.nearestQuoteSide(dec("price"), dec("bid"), dec("ask"))
    raw.select(
        col("ts"), col("symbol"),
        dec("bid").as("bid_d"), dec("ask").as("ask_d"),
        dec("price").as("price_d"),
        col("qty"),
        side.as("side"),
        graft.operators.Enrich.surrogateKey(
          col("symbol"), col("ts"), col("price"), col("qty")).as("row_key"),
        col("venue"))
      .withColumn("value_d", col("price_d") * col("qty"))
      .select(
        col("ts"), col("symbol"),
        col("bid_d").cast("string").as("bid"),
        col("ask_d").cast("string").as("ask"),
        col("price_d").cast("string").as("price"),
        col("value_d").cast("decimal(18,4)").cast("string").as("value"),
        col("qty"), col("side"), col("row_key"), col("venue"))
  }

  /** P15 — provenance headers as a map column, the shape a Kafka sink
    * writes as record headers (ref option_trades/utils.py:187-190).
    */
  def withProvenance(df: DataFrame, provider: String,
                     integrationId: String): DataFrame =
    df.withColumn("headers", map(
      lit("data_provider"), lit(provider),
      lit("integration_id"), lit(integrationId)))

  /** P16/S6 — producer-record projection: key, JSON value, event-time
    * (the key/timestamp/value extraction callbacks as columns;
    * ref equity_quotes/main.py:35-49, option_trades/utils.py:191-204).
    */
  def toProducerRecords(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"),
      col(tsCol).as("ts"))

  /** S3 — the configurable-source adapter: the reference's five
    * plug-in callbacks (validator, transform, key_func, timestamp_func,
    * headers — ref equity_quotes/main.py:35-84) composed over a raw
    * JSON column into keyed, timestamped producer records. Each
    * callback is a declarative piece: schema-on-read + corrupt
    * quarantine (validator), a DataFrame→DataFrame transform, and
    * key/ts column names.
    */
  def adapt(raw: DataFrame, jsonCol: String, schema: StructType,
            transform: DataFrame => DataFrame,
            keyCol: String, tsCol: String,
            provider: String, integrationId: String): DataFrame = {
    val typed = valid(parseJson(raw, jsonCol, schema)).drop(jsonCol)
    toProducerRecords(
      withProvenance(transform(typed), provider, integrationId),
      keyCol, tsCol)
  }
}
