package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class EventStreamSpec extends SparkTestBase {

  private val schemaDDL =
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  test("streaming windowed counts equal the batch plan") { tempDir("graft-stream") { d =>
    val dir = d.toString
    // stage the events parquet as a stream source directory (ts as LONG ns)
    Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)

    val batch = EventStream.windowedCounts(spark.read.schema(schemaDDL).parquet(dir))
      .orderBy("window_start", "event_type").collect().toSeq

    val q = EventStream.streamingWindowedCounts(spark, dir, schemaDDL)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000),
      "stream did not terminate within 120 s")
    finally q.stop()
    val streamed = spark.table("win_out")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }}

  test("streaming versioned ingest: per-batch atomic commits, compaction in-stream") { tempDir("graft-vingest") { d =>
    import graft.ops.VersionedLayout
    import spark.implicits._
    val dir = d.resolve("src").toString
    val out = d.resolve("table").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    val q = EventStream.streamingVersionedIngest(spark, dir, schemaDDL, out,
      compactEvery = 2, compactSortCol = Some("event_id"),
      maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()
    // two commits + one in-stream compaction = 3 versions; latest holds
    // everything, version 1 still time-travels to the first batch alone
    assert(VersionedLayout.versions(spark, out) === Seq(1, 2, 3))
    assert(VersionedLayout.read(spark, out).count() === events.count())
    assert(VersionedLayout.read(spark, out, Some(1)).count() ===
      events.filter(col("event_id") % 2 === 0).count())
    val latest = VersionedLayout.read(spark, out)
      .select("event_id").as[Long].collect().toSet
    val all = spark.read.schema(schemaDDL).parquet(dir)
      .select("event_id").as[Long].collect().toSet
    assert(latest === all)
  }}

  test("streaming HLL register maintenance equals the one-shot batch sketch") { tempDir("graft-hll") { d =>
    import graft.pipeline.Sketches
    val dir = d.resolve("src").toString
    val out = d.resolve("registers").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
    // two part files -> two micro-batches with maxFilesPerTrigger=1
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)

    val q = EventStream.streamingHllRegisters(spark, dir, schemaDDL,
      Seq("event_type"), "user_id", out, p = 7,
      maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()

    val streamed = spark.read.parquet(out)
    val oneShot = Sketches.hllRegisters(
      spark.read.schema(schemaDDL).parquet(dir), Seq("event_type"), "user_id",
      p = 7)
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
    // the estimator over the merged registers is the batch estimate
    val est = Sketches.hllDistinct(
      spark.read.schema(schemaDDL).parquet(dir), Seq("event_type"), "user_id",
      p = 7).select("event_type", "est_distinct").collect().toSet
    assert(est.nonEmpty)
  }}

  test("streaming CMS grid maintenance: merged batches equal the one-shot sketch; replay is idempotent") { tempDir("graft-cms") { d =>
    import graft.pipeline.Sketches
    import spark.implicits._
    val dir = d.resolve("src").toString
    val out = d.resolve("grids").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)

    val q = EventStream.streamingCmsGrids(spark, dir, schemaDDL,
      "user_id", out, depth = 3, width = 256,
      maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()

    val merged = Sketches.cmsMerge(Seq(spark.read.parquet(out)))
    val oneShot = Sketches.cmsBuild(
      spark.read.schema(schemaDDL).parquet(dir), "user_id",
      depth = 3, width = 256)
    assert(merged.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(merged).isEmpty, "merged grids != one-shot grid")

    // the estimator over the merged grid never undercounts a key's truth
    val truth = spark.read.schema(schemaDDL).parquet(dir)
      .groupBy(col("user_id").cast("string").as("k")).count()
      .as[(String, Long)].collect().toMap
    val est = Sketches.cmsEstimate(merged,
      truth.keys.toSeq.toDF("k"), "k", depth = 3, width = 256)
      .as[(String, Long)].collect()
    assert(est.nonEmpty && est.forall { case (k, e) => e >= truth(k) },
      "CMS must never undercount")

    // replay idempotency: re-writing one batch partition (what a crash
    // replay does) leaves the merged grid unchanged
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.toString).sorted
    assert(batchDirs.length === 2, s"expected 2 batch partitions: ${batchDirs.toSeq}")
    // recompute batch 0's grid from its rows and overwrite the partition
    val b0Rows = spark.read.parquet(batchDirs.head).collect().toSeq
    val b0Schema = spark.read.parquet(batchDirs.head).schema
    spark.createDataFrame(spark.sparkContext.parallelize(b0Rows), b0Schema)
      .coalesce(1).write.mode("overwrite").parquet(batchDirs.head)
    spark.catalog.refreshByPath(out) // drop the stale file-listing cache
    val afterReplay = Sketches.cmsMerge(Seq(spark.read.parquet(out)))
    assert(afterReplay.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(afterReplay).isEmpty, "replay changed the sketch")
  }}

  test("streaming histogram maintenance: merged batch bins equal the one-shot histogram") { tempDir("graft-hist") { d =>
    import graft.pipeline.Sketches
    val dir = d.resolve("src").toString
    val out = d.resolve("bins").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    val (lo, hi) = (0.0, 1000.0)

    val q = EventStream.streamingHistogramBins(spark, dir, schemaDDL,
      "value", out, lo, hi, bins = 128, maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()

    val merged = spark.read.parquet(out)
      .groupBy(col("bin")).agg(sum(col("c")).as("c"))
    val oneShot = Sketches.histogramBins(
      spark.read.schema(schemaDDL).parquet(dir)
        .withColumn("value", when(col("value").isNotNull,
          greatest(least(col("value"), lit(hi)), lit(lo)))),
      "value", lo, hi, bins = 128)
    assert(merged.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(merged).isEmpty, "merged bins != one-shot bins")
    assert(merged.count() > 0)
  }}

  test("streaming priority sample: merged batch states equal the one-shot weighted draw") { tempDir("graft-pri") { d =>
    import graft.pipeline.Sampling
    import spark.implicits._
    val dir = d.resolve("src").toString
    val out = d.resolve("state").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
      .withColumn("value", abs(col("value")) + 1.0) // positive weights
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)

    val q = EventStream.streamingPrioritySample(spark, dir, schemaDDL,
      "event_id", "value", n = 25, out, maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()

    val live = Sampling.prioritySampleMerge(
      Seq(spark.read.parquet(out).drop("batch_id")), "event_id", "value", 25)
      .select("event_id", "priority", "est_w")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val oneShot = Sampling.prioritySample(
      spark.read.schema(schemaDDL).parquet(dir), "event_id", "value", 25)
      .select("event_id", "priority", "est_w")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(live.toSeq === oneShot.toSeq && live.length === 25)
  }}

  test("streaming decay buckets: state-read equals the bucket-aligned one-shot; asOf moves without touching state") { tempDir("graft-dec") { d =>
    import spark.implicits._
    val dir = d.resolve("src").toString
    val out = d.resolve("buckets").toString
    val events = Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    val hl = 86400000000000L // 24h
    val asOf = 1706659200000000000L
    val q = EventStream.streamingDecayBuckets(spark, dir, schemaDDL, out,
      halflifeNs = hl, maxFilesPerTrigger = Some(1))
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()
    // live read == bucket-aligned recompute over ALL raw events
    val got = EventStream.decayedFromBuckets(spark, out, asOf, hl)
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val aligned = spark.read.schema(schemaDDL).parquet(dir)
      .withColumn("__b", lit(java.lang.Math.floorDiv(asOf, hl)) -
        org.apache.spark.sql.graftbridge.Bridge
          .integralDivide(col("ts"), lit(hl)))
      .filter(col("__b") >= 0)
      .withColumn("__t",
        when(col("__b") <= 62, expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(62 - __b AS INT))"))
          .otherwise(lit(0L)).cast("decimal(38,0)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("__t")).cast("double") / lit(math.pow(2.0, 62)))
          .as("decayed_count"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === aligned, "state read must equal the aligned one-shot")
    // moving asOf forward one half-life exactly halves every decayed count
    val later = EventStream.decayedFromBuckets(spark, out, asOf + hl, hl)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    got.foreach { case (k, _, dc) =>
      // both sides snap to the 1e-6 grid independently -> one-grid slack
      assert(math.abs(later(k) - dc / 2) < 1.5e-6,
        s"one extra half-life must halve $k: ${later(k)} vs ${dc / 2}")
    }
  }}

  test("forwardFill: carries the last observation per key; leading NULLs stay NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 1L, Some(5.0)), (2L, 20L, 1L, None), (3L, 30L, 1L, None),
      (4L, 40L, 1L, Some(7.0)), (5L, 50L, 1L, None),
      (6L, 10L, 2L, None), (7L, 20L, 2L, Some(1.0))
    ).toDF("event_id", "ts", "user_id", "value")
    val got = EventStream.forwardFill(df, "user_id", Seq("ts", "event_id"), "value")
      .select("event_id", "value_ff").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(1L -> Some(5.0), 2L -> Some(5.0), 3L -> Some(5.0),
      4L -> Some(7.0), 5L -> Some(7.0), 6L -> None, 7L -> Some(1.0)))
    intercept[IllegalArgumentException] {
      EventStream.forwardFill(df, "user_id", Nil, "value")
    }
  }

  test("linearAttribution: equal split over pre-conversion touches; post-conversion and zero-touch excluded") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view@1, click@2, purchase@3, view@4 (post-conv ignored)
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"), (1L, 4L, "view"),
      // user 2: click@1, purchase@2, purchase@5 (only FIRST conversion counts)
      (2L, 1L, "click"), (2L, 2L, "purchase"), (2L, 5L, "purchase"),
      // user 3: purchase with no prior touches -> credits nothing
      (3L, 1L, "purchase"),
      // user 4: touches but never converts -> contributes nothing
      (4L, 1L, "view"), (4L, 2L, "click")
    ).toDF("user_id", "ts", "event_type")
    val got = EventStream.linearAttribution(ev, "user_id", "ts",
        "event_type", "purchase")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // user 1 splits 1 over {view, click}; user 2 gives click 1.0
    assert(got === Map("view" -> ((1L, 0.5)), "click" -> ((2L, 1.5))))
  }

  test("interpolateLinear: time-weighted fills, one-sided gaps stay NULL, equal-ts takes prev") {
    import spark.implicits._
    val df = Seq(
      // key 1: 5.0 @10 ... NULL @20 (quarter point) ... NULL @25 ... 9.0 @50
      (1L, 10L, 1L, Some(5.0)), (2L, 20L, 1L, None), (3L, 25L, 1L, None),
      (4L, 50L, 1L, Some(9.0)),
      (5L, 60L, 1L, None),                       // trailing gap -> NULL
      (6L, 10L, 2L, None), (7L, 20L, 2L, Some(1.0)), // leading gap -> NULL
      // key 3: neighbors share ts 10 -> zero-length gap takes prev
      (8L, 10L, 3L, Some(2.0)), (9L, 10L, 3L, None), (10L, 10L, 3L, Some(4.0))
    ).toDF("event_id", "ts", "user_id", "value")
    val got = EventStream.interpolateLinear(df, "user_id", "ts", "event_id", "value")
      .select("event_id", "value_li").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(1L) === Some(5.0) && got(4L) === Some(9.0)) // pass-through
    assert(got(2L) === Some(6.0), "5 + 4 * 10/40")
    assert(got(3L) === Some(6.5), "5 + 4 * 15/40")
    assert(got(5L) === None && got(6L) === None)
    assert(got(9L) === Some(2.0), "zero-length gap takes prev")
  }

  test("changeIntervals: runs compress, NULL runs are real, intervals chain") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "u", Some("a")), (2L, 20L, "u", Some("a")), // a-run
      (3L, 30L, "u", Some("b")),
      (4L, 40L, "u", None), (5L, 50L, "u", None), // NULL run
      (6L, 60L, "u", Some("a")), // back to a: a NEW run
      (7L, 10L, "v", Some("x"))
    ).toDF("event_id", "ts", "user_id", "state_in")
    val got = EventStream.changeIntervals(df, "user_id",
      Seq("ts", "event_id"), "state_in")
      .select("user_id", "state", "valid_from", "valid_to", "version")
      .as[(String, Option[String], Long, Option[Long], Int)]
      .collect().sortBy(r => (r._1, r._5))
    assert(got === Array(
      ("u", Some("a"), 10L, Some(30L), 1),
      ("u", Some("b"), 30L, Some(40L), 2),
      ("u", None, 40L, Some(60L), 3),
      ("u", Some("a"), 60L, None, 4),
      ("v", Some("x"), 10L, None, 1)))
  }

  test("decayedCounts: dyadic weights sum exactly; deep past and future drop") {
    import spark.implicits._
    val hl = 100L // ns half-life for the toy
    // ages 0, 1, 2 half-lives -> 1 + 0.5 + 0.25; age 150 -> bucket 1 (0.5);
    // one event 70 half-lives old -> weight 0 but still counted;
    // one FUTURE event -> dropped entirely
    val ev = Seq(
      (1L, 1000L, "a"), (2L, 900L, "a"), (3L, 800L, "a"), (4L, 850L, "a"),
      (5L, 1000L - 70L * hl, "a"),
      (6L, 2000L, "a"),
      (7L, 1000L, "b")).toDF("event_id", "ts", "event_type")
    val out = EventStream.decayedCounts(ev, asOfNs = 1000L, halflifeNs = hl)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("a") === ((5L, 2.25)))  // 1 + .5 + .25 + .5 + 0
    assert(out("b") === ((1L, 1.0)))
    intercept[IllegalArgumentException] {
      EventStream.decayedCounts(ev, asOfNs = 1000L, halflifeNs = 0L)
    }
  }

  test("eventTransitions: hand-derived counts; per-from probabilities sum to 1") {
    import spark.implicits._
    // user 1: a->b->a ; user 2: a->b ; ties impossible (distinct ts)
    val ev = Seq((1L, 10L, 1L, "a"), (2L, 20L, 1L, "b"), (3L, 30L, 1L, "a"),
      (4L, 10L, 2L, "a"), (5L, 20L, 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventStream.eventTransitions(ev)
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(out === Map(("a", "b") -> ((2L, 1.0)), ("b", "a") -> ((1L, 1.0))))
  }

  test("topEventPaths: hand-derived top paths with deterministic ties") {
    import spark.implicits._
    val ev = (0 until 4).flatMap { u =>
      Seq((u * 10 + 1L, 1L, u.toLong, "x"), (u * 10 + 2L, 2L, u.toLong, "y"),
        (u * 10 + 3L, 3L, u.toLong, "z"))
    }.toDF("event_id", "ts", "user_id", "event_type")
    val out = EventStream.topEventPaths(ev, n = 3, k = 2)
      .as[(String, Long)].collect()
    assert(out.toSeq === Seq(("x>y>z", 4L)), "one path, repeated per user")
    val two = EventStream.topEventPaths(ev, n = 2, k = 5)
      .as[(String, Long)].collect().toMap
    assert(two === Map("x>y" -> 4L, "y>z" -> 4L))
  }

  test("streaming stream-static enrichment equals the batch plan") { tempDir("graft-enrich") { d =>
    val dir = d.toString
    Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)
    val dim = Tables.customer(spark, "/root/testdata/sf0.001")

    val batch = EventStream.enrichWithDim(
      spark.read.schema(schemaDDL).parquet(dir), dim,
      "user_id", "c_custkey", "c_mktsegment")
      .orderBy("c_mktsegment", "event_type").collect().toSeq

    val q = EventStream.streamingEnrichWithDim(spark, dir, schemaDDL, dim,
      "user_id", "c_custkey", "c_mktsegment")
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000),
      "stream did not terminate within 120 s")
    finally q.stop()
    val streamed = spark.table("enrich_out")
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }}

  test("enrichWithDim works when the event and dim key share a name") {
    import spark.implicits._
    val events = Seq((1L, "click", 2.0), (2L, "click", 3.0))
      .toDF("user_id", "event_type", "value")
    val dim = Seq((1L, "A"), (2L, "B")).toDF("user_id", "segment")
    val out = EventStream.enrichWithDim(events, dim, "user_id", "user_id", "segment")
      .orderBy("segment")
      .select("segment", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("A", 1L, 2.0), ("B", 1L, 3.0)))
  }

  test("stream-stream attribution join emits the batch pairs") { tempDir("graft-attr") { d =>
    val dir = d.toString
    Tables.eventsWithTs(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)

    val batch = EventStream.attributionPairs(
      spark.read.schema(schemaDDL).parquet(dir), "click", "purchase", 30)
      .select("src_event_id", "dst_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val q = EventStream.streamingAttributionPairs(spark, dir, schemaDDL,
      "click", "purchase", 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000),
      "stream did not terminate within 120 s")
    finally q.stop()
    val streamed = spark.table("attr_out")
      .select("src_event_id", "dst_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }}

  test("attribution pairs respect the window bounds (exclusive start, inclusive end)") {
    import spark.implicits._
    val ns = (m: Long) => m * 60L * 1000000000L
    val events = Seq(
      (1L, ns(0), 7L, "click", 1.0, ""),
      (2L, ns(0), 7L, "purchase", 1.0, ""),  // simultaneous: NOT attributed
      (3L, ns(30), 7L, "purchase", 1.0, ""), // at the bound: attributed
      (4L, ns(31), 7L, "purchase", 1.0, ""), // past the bound: not
      (5L, ns(10), 9L, "purchase", 1.0, "")) // other user: not
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventStream.attributionPairs(events, "click", "purchase", 30)
      .select("src_event_id", "dst_event_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L)))
  }

  test("sessionize groups events by 30-minute gaps") {
    import spark.implicits._
    val ns = (m: Long) => m * 60L * 1000000000L
    val events = Seq(
      (1L, ns(0), 7L, "a", 1.0, ""), (2L, ns(10), 7L, "a", 1.0, ""),
      (3L, ns(60), 7L, "a", 1.0, ""), // new session (50 min gap)
      (4L, ns(5), 9L, "b", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventStream.sessionize(events)
      .orderBy("user_id", "session_seq")
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 1L, 2L), (7L, 2L, 1L), (9L, 1L, 1L)))
  }

  test("streamingSessionize emits the batch sessions (gap close + timeout flush)") { tempDir("graft-sess") { d =>
    import spark.implicits._
    val ns = (m: Long) => m * 60L * 1000000000L
    val us = (m: Long) => m * 60L * 1000000L
    val dir = d.toString

    def stage(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)

    // batch 1: user 7 has two sessions (50-min gap), user 9 one session
    // (offset from epoch 0 — the initial watermark — so nothing sits on it)
    stage("b1", Seq(
      (1L, ns(1000), 7L, "a", 1.0, ""), (2L, ns(1010), 7L, "a", 1.0, ""),
      (3L, ns(1060), 7L, "a", 1.0, ""), (4L, ns(1005), 9L, "b", 1.0, "")))

    val q = EventStream.streamingSessionize(spark, dir, schemaDDL)
      .toDF("user_id", "start_us", "end_us", "n_events")
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a far-future sentinel advances the watermark far past every
      // batch-1 session end + gap, so the open sessions flush via timeout
      stage("b2", Seq((99L, ns(10000), 999L, "z", 1.0, "")))
      q.processAllAvailable()
      // one more micro-batch so fired timeouts surface in the sink
      stage("b3", Seq((100L, ns(10001), 999L, "z", 1.0, "")))
      q.processAllAvailable()

      val got = spark.table("sess_out")
        .filter(col("user_id") < 999)
        .orderBy("user_id", "start_us")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == Seq(
        (7L, us(1000), us(1010), 2L), (7L, us(1060), us(1060), 1L),
        (9L, us(1005), us(1005), 1L)))
    } finally q.stop()
  }}

  test("session_window streaming emits the same sessions as the hand-rolled state") { tempDir("graft-sessw") { d =>
    import spark.implicits._
    val ns = (m: Long) => m * 60L * 1000000000L
    val us = (m: Long) => m * 60L * 1000000L
    val dir = d.toString
    Seq((1L, ns(1000), 7L, "a", 1.0, ""), (2L, ns(1010), 7L, "a", 1.0, ""),
      (3L, ns(1060), 7L, "a", 1.0, ""), (4L, ns(1005), 9L, "b", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val q = EventStream.streamingSessionWindows(spark, dir, schemaDDL)
      .writeStream.outputMode("append").format("memory").queryName("sessw_out")
      .start()
    try {
      q.processAllAvailable()
      // far-future sentinel advances the watermark past every open window
      Seq((99L, ns(10000), 999L, "z", 1.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("sessw_out").filter(col("user_id") < 999)
        .orderBy("user_id", "start_us")
        .as[(Long, Long, Long, Long)].collect().toSeq
      // built-in window end = last event + 30-min gap
      assert(got == Seq(
        (7L, us(1000), us(1010 + 30), 2L), (7L, us(1060), us(1060 + 30), 1L),
        (9L, us(1005), us(1005 + 30), 1L)))
    } finally q.stop()
  }}

  test("streaming dedup-by-key keeps one row per key, matching the batch form") { tempDir("graft-dedup") { d =>
    import spark.implicits._
    val ns = (m: Long) => m * 60L * 1000000000L
    val dir = d.toString
    // at-least-once delivery: event 1 and 3 arrive twice (once across files)
    Seq((1L, ns(1000), 7L, "a", 1.0, ""), (1L, ns(1000), 7L, "a", 1.0, ""),
      (2L, ns(1001), 7L, "b", 2.0, ""), (3L, ns(1002), 9L, "a", 3.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, ns(1002), 9L, "a", 3.0, ""), (4L, ns(1003), 9L, "b", 4.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)

    val batch = EventStream.dedupByKey(spark.read.schema(schemaDDL).parquet(dir))
      .select("event_id", "user_id", "value").as[(Long, Long, Double)]
      .collect().toSet
    assert(batch == Set((1L, 7L, 1.0), (2L, 7L, 2.0), (3L, 9L, 3.0), (4L, 9L, 4.0)))

    val q = EventStream.streamingDedupByKey(spark, dir, schemaDDL)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000),
      "stream did not terminate within 120 s")
    finally q.stop()
    val streamed = spark.table("dedup_out")
      .select("event_id", "user_id", "value").as[(Long, Long, Double)]
      .collect().toSet
    assert(streamed == batch)
  }}

  test("parseJsonCol: pinned schema; malformed and NULL rows parse to NULL fields") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 5, "extra": "ignored"}"""),
      (2L, "not json at all"),
      (3L, null.asInstanceOf[String]),
      (4L, """{"other": 9}""")              // field absent -> NULL
    ).toDF("id", "props")
    val out = EventStream.parseJsonCol(df, "props", "k INT")
      .select("id", "j_k").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === Some(5))
    assert(out(2L) === None, "malformed JSON must quarantine as NULL")
    assert(out(3L) === None)
    assert(out(4L) === None, "absent field is NULL, not an error")
  }

  test("rollingFeatures: trailing window is half-open and leak-free") {
    import spark.implicits._
    // user 1: events at 0, 10, 30, and exactly W later (30 + W)
    val wUs = 30L * 60 * 1000000
    val ns = (us: Long) => us * 1000
    val ev = Seq(
      (1L, ns(0L), 1L, "e", 1.0, ""),
      (2L, ns(10L), 1L, "e", 2.0, ""),
      (3L, ns(30L), 1L, "e", 4.0, ""),
      (4L, ns(30L + wUs), 1L, "e", 8.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStream.rollingFeatures(ev, 30)
      .orderBy("event_id")
      .select("n_events_w", "sum_value_w").as[(Long, Double)].collect().toSeq
    // event 4 sits at ts(3) + W exactly: the window is (ts-W, ts]
    // (lower bound -(W-1)), so event 3 at distance exactly W is EXCLUDED
    assert(out === Seq((1L, 1.0), (2L, 3.0), (3L, 7.0), (1L, 8.0)))
  }

  test("acfByKey: hand ACF on 1..5, constant series NULL, short series NULL lags") {
    import spark.implicits._
    val ev = (
      (1 to 5).map(i => (i.toLong, i.toLong * 1000, 1L, i.toDouble)) ++ // 1..5
      (1 to 4).map(i => (10L + i, i.toLong * 1000, 2L, 7.0)) ++         // constant
      Seq((20L, 1000L, 3L, 1.0), (21L, 2000L, 3L, 5.0))                 // n=2
    ).toDF("event_id", "ts", "user_id", "value")
    val out = EventStream.acfByKey(ev, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "lag")
      .select("user_id", "lag", "n", "acf").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), Option(r.get(3)))).toSeq
    // series 1..5: mean 3, den 10, r1=4/10, r2=-1/10, r3=-4/10
    assert(out.filter(_._1 == 1L) === Seq(
      (1L, 1, 5L, Some(0.4)), (1L, 2, 5L, Some(-0.1)), (1L, 3, 5L, Some(-0.4))))
    // constant series: zero variance -> NULL at every lag
    assert(out.filter(_._1 == 2L).forall(_._4.isEmpty))
    // n=2 series [1,5]: c = [-2,2], den 8, lag-1 num -4 -> r1 = -0.5
    // (the biased-denominator form divides by n, not n-k); lags 2..3 NULL
    val u3 = out.filter(_._1 == 3L)
    assert(u3.head === ((3L, 1, 2L, Some(-0.5))))
    assert(u3.tail.forall(_._4.isEmpty))
  }

  test("cusumMaxShift: mid-series level shift lands stat sqrt(2) at the shift point") {
    import spark.implicits._
    val ev = (
      (1 to 8).map(i => (i.toLong, i.toLong * 1000, 1L,
        if (i <= 4) 0.0 else 10.0)) ++                         // shift at 5
      (1 to 6).map(i => (10L + i, i.toLong * 1000, 2L, 3.0))   // constant
    ).toDF("event_id", "ts", "user_id", "value")
    val out = EventStream.cusumMaxShift(ev, "user_id", "ts", "event_id", "value")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toSeq
    // S_t = [-5,-10,-15,-20,-15,-10,-5,0]; max |S| = 20 at seq 4;
    // stat = 20 / (5 * sqrt(8)) = sqrt(2), 6-dec snapped
    assert(out.head === ((1L, 8L, Some(1.414214), Some(4L))))
    // zero variance: NULL stat and NULL position
    assert(out(1) === ((2L, 6L, None, None)))
  }
}
