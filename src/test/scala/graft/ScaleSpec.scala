package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

/** Scale techniques: salted skew joins (result-equivalence + scatter)
  * and bucketed co-located joins (no Exchange in the plan).
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join on skewed data and scatters the hot key") {
    // 90% of probe rows share one hot key
    val probe = (1 to 1000).map(i =>
      (if (i <= 900) "HOT" else s"k$i", i.toLong)).toDF("key", "event_id")
    val build = Seq(("HOT", 1.0), ("k901", 2.0), ("k950", 3.0)).toDF("key", "w")

    val plain = probe.join(build, "key")
      .select($"key", $"event_id", $"w")
      .collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(probe, build, "key", salts = 8,
        saltFrom = Seq("event_id"))
      .select($"key", $"event_id", $"w")
      .collect().map(_.toSeq).toSet
    salted shouldBe plain
    salted.size shouldBe 902

    // the hot key's probe rows really scatter across multiple salts
    val saltSpread = probe
      .withColumn("__salt", pmod(xxhash64($"event_id"), lit(8)))
      .filter($"key" === "HOT").select($"__salt").distinct().count()
    saltSpread should be > 4L
  }

  test("telemetry time-range predicates reach the parquet scan as ts_ns pushdown with pruned columns") {
    // At 100 TB this IS the row-group/partition pruning that makes a
    // time-range query scan only the touched slice: the planner emits
    // an equivalent predicate against the RAW ns long (the derived µs
    // timestamp's predicate cannot push), and only requested columns
    // reach ReadSchema.
    import graft.operators.Telemetry._
    val dir = java.nio.file.Files.createTempDirectory("pushdown").toString + "/pts"
    // base = 2024-01-01 10:00:00 UTC, one row per second after it
    (1 to 100).map(i => (1704103200000000000L + i * 1000000000L, i.toLong % 4,
        Map("k" -> s"v${i % 3}"), i * 1.0))
      .toDF("ts_ns", "stream_id", "tags", "value")
      .write.parquet(dir)
    val points = spark.read.parquet(dir)
      .withColumn("ts", graft.functions.nsToTimestamp($"ts_ns"))
    val planned = plan(points, Request(
      from = Some("2024-01-01 10:00:30"), to = Some("2024-01-01 10:01:00"),
      streamIds = Seq(1L, 2L),
      bucketNs = Some(60L * 1000 * 1000 * 1000),
      aggs = Seq(NumericAgg("value", AggSum, "s"))))
    planned.count() should be > 0L
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000) // untruncated PushedFilters
    val scan = planned.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan should include("GreaterThanOrEqual(ts_ns")
    scan should include("LessThan(ts_ns")
    scan should include("In(stream_id")
    // column pruning: the scan must not read the tags map for this request
    scan should not include "tags"
  }

  test("time-partitioned layout: day filters prune at the DIRECTORY level and files arrive time-sorted") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString + "/pts"
    // 3 days × 200 rows, deliberately shuffled input order
    val rows = scala.util.Random.shuffle(
      (0 until 600).map { i =>
        (new java.sql.Timestamp(1704103200000L + (i % 3) * 86400000L + (i / 3) * 1000L),
          (i % 4).toLong, i * 1.0)
      })
    Scale.writeTimePartitioned(
      rows.toDF("ts", "stream_id", "value"), "ts", dir,
      sortCols = Seq("stream_id"))
    val back = spark.read.parquet(dir)
    back.count() shouldBe 600
    // directory-level pruning: one day's filter scans one partition dir
    val oneDay = back.filter($"dt" === "2024-01-01")
    oneDay.count() shouldBe 200
    val scan = oneDay.queryExecution.executedPlan.toString
    scan should include("PartitionFilters")
    scan.linesIterator.filter(_.contains("FileScan")).mkString should
      include("dt")
    // within a (day, stream) slice, rows are physically time-sorted —
    // the layout that makes parquet row-group min/max stats prune
    // inside the touched day
    val slice = spark.read.parquet(dir + "/dt=2024-01-01")
      .filter($"stream_id" === 1L)
      .select($"ts").collect().map(_.getTimestamp(0).getTime).toSeq
    slice shouldBe slice.sorted
    // and the telemetry PLANNER derives the dt predicate itself: a
    // time-range Request over this layout prunes to the touched days
    // without any hand-written dt filter
    import graft.operators.Telemetry._
    val planned = plan(back,
      Request(from = Some("2024-01-02 00:00:00"),
        to = Some("2024-01-03 00:00:00"),
        aggs = Seq(NumericAgg("value", AggCount, "n"))))
    planned.collect()(0).getLong(0) shouldBe 200L
    val scanLine2 = planned.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString
    scanLine2 should include("PartitionFilters")
    // the derived day range [2024-01-02, 2024-01-02] (to is exclusive,
    // so its midnight maps back to the same day) keeps exactly the
    // touched partition: the dt bounds land in the partition filters
    scanLine2 should include("(dt")
  }

  test("compact rewrites many sliver files into few, preserving rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val data = (1 to 1000).map(i => (i.toLong, s"row-$i"))
    // 50 sliver files (a streaming sink's typical aftermath)
    data.toDF("id", "s").repartition(50).write.parquet(dir)
    def files = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    files should be >= 40
    Scale.compact(spark, dir, targetFileBytes = 1L << 30, sortCols = Seq("id"))
    files shouldBe 1 // everything fits one target-size file
    val back = spark.read.parquet(dir)
    back.count() shouldBe 1000
    back.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe data.toSet
    // no leftover working directories
    new java.io.File(dir + ".__compact").exists() shouldBe false
    new java.io.File(dir + ".__old").exists() shouldBe false
  }

  test("compact on a writeTimePartitioned root preserves the hive layout and its pruning") {
    val dir = java.nio.file.Files.createTempDirectory("compact_hive").toString + "/pts"
    val rows = (0 until 300).map { i =>
      (new java.sql.Timestamp(1704103200000L + (i % 3) * 86400000L + (i / 3) * 1000L),
        (i % 4).toLong, i * 1.0)
    }
    Scale.writeTimePartitioned(rows.toDF("ts", "stream_id", "value"), "ts", dir,
      sortCols = Seq("stream_id"))
    // fragment one day's partition to give compact something to do
    def dayFiles(d: String) = new java.io.File(s"$dir/dt=$d").listFiles
      .count(_.getName.endsWith(".parquet"))
    Scale.compact(spark, dir, targetFileBytes = 1L << 30,
      sortCols = Seq("stream_id"))
    // the dt directories SURVIVE the rewrite (a flat rewrite would
    // collapse them: spark.read turns dt into a data column)
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach { d =>
      withClue(s"dt=$d: ") { dayFiles(d) should be >= 1 }
    }
    val back = spark.read.parquet(dir)
    back.count() shouldBe 300
    // directory-level pruning still works post-compaction
    val oneDay = back.filter($"dt" === "2024-01-02")
    oneDay.count() shouldBe 100
    oneDay.queryExecution.executedPlan.toString should include("PartitionFilters")

    // a crashed external writer's _temporary leftover must NOT make the
    // root look unpartitioned (hidden '_'/'.' entries are skipped the
    // way Spark's own file index skips them) — before the fix this
    // collapsed the dt directories on the next compact
    new java.io.File(s"$dir/_temporary/0").mkdirs()
    Scale.compact(spark, dir, targetFileBytes = 1L << 30,
      sortCols = Seq("stream_id"))
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach { d =>
      withClue(s"dt=$d after _temporary leftover: ") { dayFiles(d) should be >= 1 }
    }
    spark.read.parquet(dir).count() shouldBe 300
  }

  test("writeTimePartitioned epochDay is exact past 2^53 µs (integral DIV, matches Math.floorDiv)") {
    // 2^53 µs ≈ year 2255: Column./ is double division and would start
    // mis-assigning dt partitions there, silently diverging from
    // Telemetry.plan's Math.floorDiv-derived predicates
    val farUs = (1L << 53) + 86400000000L * 3 + 12345678L // well past 2^53
    val dir = java.nio.file.Files.createTempDirectory("epochday").toString + "/pts"
    val df = Seq(Tuple1(farUs)).toDF("us")
      .select(timestamp_micros($"us").as("ts"), lit(1L).as("stream_id"))
    Scale.writeTimePartitioned(df, "ts", dir)
    val expectedDay = java.time.LocalDate.ofEpochDay(
      Math.floorDiv(farUs, 86400000000L)).toString
    new java.io.File(s"$dir/dt=$expectedDay").exists() shouldBe true
  }

  test("compact recovers from both crash leftovers before running") {
    import java.nio.file.{Files => JFiles, Paths}
    val base = JFiles.createTempDirectory("compact_rec").toString
    val dir = base + "/t"
    (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(5).write.parquet(dir)
    // leftover (b): crash AFTER the swap, before backup deletion —
    // both live dir and .__old exist; compact must drop the stale
    // backup and proceed
    JFiles.createDirectory(Paths.get(dir + ".__old"))
    JFiles.writeString(Paths.get(dir + ".__old/stale.txt"), "stale")
    Scale.compact(spark, dir, targetFileBytes = 1L << 30)
    spark.read.parquet(dir).count() shouldBe 100
    new java.io.File(dir + ".__old").exists() shouldBe false
    // leftover (a): crash BETWEEN the renames — live dir missing,
    // .__old holds the data; compact must restore it first
    new java.io.File(dir).renameTo(new java.io.File(dir + ".__old")) shouldBe true
    Scale.compact(spark, dir, targetFileBytes = 1L << 30)
    spark.read.parquet(dir).count() shouldBe 100
    new java.io.File(dir + ".__old").exists() shouldBe false
    new java.io.File(dir + ".__compact").exists() shouldBe false
  }

  test("bucketed tables join without a shuffle (co-located layout)") {
    val left = (1L to 500L).map(i => (i, s"l$i")).toDF("id", "lv")
    val right = (1L to 500L).map(i => (i, i * 2.0)).toDF("id", "rv")
    Scale.writeBucketed(left, "bkt_left", "id", 4)
    Scale.writeBucketed(right, "bkt_right", "id", 4)
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
      joined.count() shouldBe 500
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed layout: the join needs no shuffle of either side
      plan should not include "Exchange hashpartitioning"
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("writeBucketed external path: data lands under the path, join still shuffle-free") {
    val root = java.nio.file.Files.createTempDirectory("bkt_ext").toString
    val left = (1L to 100L).map(i => (i, s"l$i")).toDF("id", "lv")
    val right = (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "rv")
    Scale.writeBucketed(left, "bkt_ext_l", "id", 4, Some(s"$root/l"))
    Scale.writeBucketed(right, "bkt_ext_r", "id", 4, Some(s"$root/r"))
    try {
      new java.io.File(s"$root/l").listFiles().count(
        _.getName.endsWith(".parquet")) should be >= 4
      val joined = spark.table("bkt_ext_l")
        .join(spark.table("bkt_ext_r"), "id")
      joined.count() shouldBe 100
      joined.queryExecution.executedPlan.toString should not include
        "Exchange hashpartitioning"
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_ext_l")
      spark.sql("DROP TABLE IF EXISTS bkt_ext_r")
    }
  }

  test("bloomPrunedSemiJoin: exact output, and the bloom stage really prunes before the shuffle") {
    import spark.implicits._
    // 10k fact rows over 1k keys; key set = 1% of keys → sel ≈ 1%.
    // range-backed (not a local Seq): ConvertToLocalRelation would
    // eagerly evaluate the bloom predicate into a LocalTableScan and
    // hide the Filter node the plan assertion below looks for
    val fact = spark.range(10000L)
      .select((col("id") % 1000L).as("k"), col("id").as("v"))
    val keys = (0L until 1000L by 100L).toDF("k") // 10 keys
    val got = Scale.bloomPrunedSemiJoin(fact, "k", keys, "k",
        expectedKeys = 10L, fpp = 0.01)
      .orderBy("k", "v").collect().map(_.toSeq)
    val exact = fact.join(keys, Seq("k"), "left_semi")
      .orderBy("k", "v").collect().map(_.toSeq)
    got.toSeq shouldBe exact.toSeq // no false negatives, ever
    // the pruning predicate alone keeps ~sel + fpp of the fact — far
    // fewer rows than the input reach the semi-join's shuffle
    val bfOnly = Scale.bloomPrunedSemiJoin(fact, "k", keys, "k",
      expectedKeys = 10L, fpp = 0.01)
    val plan = bfOnly.queryExecution.executedPlan.toString
    plan should include("might_contain") // predicate reached the scan side
    // adversarial fpp: even at a terrible 50% the OUTPUT stays exact
    val sloppy = Scale.bloomPrunedSemiJoin(fact, "k", keys, "k",
        expectedKeys = 10L, fpp = 0.5)
      .orderBy("k", "v").collect().map(_.toSeq)
    sloppy.toSeq shouldBe exact.toSeq
  }

  test("bloomPrunedAntiJoin: exact complement output; bloom-rejected rows bypass the join entirely") {
    import spark.implicits._
    val fact = spark.range(10000L)
      .select((col("id") % 1000L).as("k"), col("id").as("v"))
    val keys = (0L until 1000L by 100L).toDF("k") // 10 known keys
    val got = Scale.bloomPrunedAntiJoin(fact, "k", keys, "k",
        expectedKeys = 10L, fpp = 0.01)
      .orderBy("k", "v").collect().map(_.toSeq)
    val exact = fact.join(keys, Seq("k"), "left_anti")
      .orderBy("k", "v").collect().map(_.toSeq)
    got.toSeq shouldBe exact.toSeq
    // semi + anti partition the fact exactly: nothing lost, nothing dup
    val semi = Scale.bloomPrunedSemiJoin(fact, "k", keys, "k", 10L)
    val anti = Scale.bloomPrunedAntiJoin(fact, "k", keys, "k", 10L)
    (semi.count() + anti.count()) shouldBe fact.count()
    // adversarial fpp: a terrible filter costs time, never correctness
    val sloppy = Scale.bloomPrunedAntiJoin(fact, "k", keys, "k",
        expectedKeys = 10L, fpp = 0.5)
      .orderBy("k", "v").collect().map(_.toSeq)
    sloppy.toSeq shouldBe exact.toSeq
    val plan = anti.queryExecution.executedPlan.toString
    plan should include("might_contain")
  }

  test("GraftConf pins the cluster-scale session discipline as code") {
    val c = graft.GraftConf.clusterDefaults
    // the plan-changing runtime re-planner stack must be ON: residual
    // skew in plain keyed joins is AQE's job (hand-salting covers only
    // the operators that see their skew at plan time)
    c("spark.sql.adaptive.enabled") shouldBe "true"
    c("spark.sql.adaptive.skewJoin.enabled") shouldBe "true"
    c("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
    // cached-plan output partitioning must be AQE-coalescible too:
    // this pipeline persists many small derived tables (pair graphs,
    // degree tables) whose builders ran at full shuffle width — frozen
    // shuffle-width caches cost one hash-page-allocating task per
    // near-empty partition in EVERY downstream stage (r14: 50-80% of
    // the graph-audit family's allocation)
    c("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
      "true"
    graft.GraftConf.localConfigs(8)(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
      "true"
    // streaming state must be the spill-capable provider, and the
    // class name must actually RESOLVE on this Spark build — a typo
    // here would only surface at cluster deploy time otherwise
    noException should be thrownBy
      Class.forName(c("spark.sql.streaming.stateStore.providerClass"))
    // every timestamp operator in the repo assumes UTC sessions
    c("spark.sql.session.timeZone") shouldBe "UTC"
    // size knobs must parse and keep their documented magnitudes
    c("spark.sql.files.maxPartitionBytes").toLong shouldBe 256L * 1024 * 1024
    c("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong shouldBe
      128L * 1024 * 1024
    c("spark.sql.autoBroadcastJoinThreshold").toLong shouldBe 64L * 1024 * 1024
    c("spark.sql.shuffle.partitions").toInt should be >= 2000

    // the local harness (Verify AND Bench build through this) applies
    // the local-meaningful subset identically, with shuffle width
    // tracking the core count instead of the cluster number
    val l = graft.GraftConf.localConfigs(8)
    l("spark.sql.shuffle.partitions") shouldBe "8"
    l("spark.sql.adaptive.enabled") shouldBe "true"
    l("spark.sql.adaptive.skewJoin.enabled") shouldBe "true"
    l("spark.sql.autoBroadcastJoinThreshold") shouldBe
      c("spark.sql.autoBroadcastJoinThreshold")
    l("spark.sql.session.timeZone") shouldBe "UTC"
    // a many-query session generates far more than the default 100
    // codegen cache entries; thrashing makes every re-execution pay
    // full Janino recompilation (r8: q50 5.0 s warm vs ~15 s on the
    // compiling pass — the r7 driver-bench doubling). Both tiers must
    // raise it, identically.
    c("spark.sql.codegen.cache.maxEntries").toInt should be >= 1024
    l("spark.sql.codegen.cache.maxEntries") shouldBe
      c("spark.sql.codegen.cache.maxEntries")
    // that cache is keyed by classloader: with artifact isolation on,
    // every streaming query start clones a session with a fresh
    // classloader and recompiles every stage. Both tiers turn it off.
    c("spark.sql.artifact.isolation.enabled") shouldBe "false"
    l("spark.sql.artifact.isolation.enabled") shouldBe "false"
    // cluster-width and scan-size knobs must NOT leak into local runs
    l.get("spark.sql.files.maxPartitionBytes") shouldBe None
    l("spark.sql.shuffle.partitions") should not be
      c("spark.sql.shuffle.partitions")
  }

  test("zValue interleaves bits (a even, b odd) and masks out-of-range bits") {
    val df = Seq((5L, 3L), (0L, 0L), (7L, 7L), (8L, 0L), (0L, 8L))
      .toDF("a", "b")
    val got = df.select(Scale.zValue($"a", $"b", bits = 3).as("z"))
      .as[Long].collect().toSeq
    // a=101 b=011 -> z bit layout (b2 a2 b1 a1 b0 a0) = 0 1 1 0 1 1 = 27
    // 7,7 -> all six low bits set = 63; 8 has only bit 3 -> masked to 0
    got shouldBe Seq(27L, 0L, 63L, 0L, 0L)
  }

  test("z-ordered layout keeps BOTH dimensions' per-file ranges narrow; single-column sort does not") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_spec_" +
      ProcessHandle.current().pid()
    // the full 256x256 grid: every (x, y) cell exactly once
    val grid = spark.range(0, 65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))

    Scale.writeZOrdered(grid, s"$root/z", $"x", $"y", bits = 8, numFiles = 16)
    val spans = spark.read.parquet(s"$root/z")
      .groupBy(input_file_name().as("f"))
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .agg(avg($"sx").as("ax"), avg($"sy").as("ay"))
      .as[(Double, Double)].collect().head
    // 16 equal-count z-ranges over a 256x256 grid ≈ 4x4 tiles of span
    // ~64 per axis; the range partitioner's sampled bounds straddle
    // tile edges (a straddling file spans two tiles, up to ~128), so
    // the gate is "well under half the domain on BOTH axes" — vs the
    // full 255 a one-dimensional sort leaves on its other axis
    spans._1 should be < 140.0
    spans._2 should be < 140.0

    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(s"$root/xsort")
    val xsortSpans = spark.read.parquet(s"$root/xsort")
      .groupBy(input_file_name().as("f"))
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .agg(avg($"sx").as("ax"), avg($"sy").as("ay"))
      .as[(Double, Double)].collect().head
    xsortSpans._1 should be < 32.0   // x is tightly clustered...
    xsortSpans._2 shouldBe 255.0     // ...and y pays the full domain
  }
}
