package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EventOps

/** Streaming results must agree with their DuckDB-oracled batch twins:
  * drive each streaming query to completion with a memory sink over
  * the finite sf0.001 events file and compare row sets.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("streaming-spec", "4")
  val sf = "/root/testdata/sf0.001"

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
                              name: String, mode: String): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming tumbling window matches batch twin") {
    val events = EventStream.readEvents(spark, sf)
    runToCompletion(EventStream.tumblingCounts(events), "tumbling", "complete")
    val streamed = spark.table("tumbling")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventOps.tumblingWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("streaming sliding window matches batch twin") {
    val events = EventStream.readEvents(spark, sf)
    runToCompletion(EventStream.slidingCounts(events), "sliding", "complete")
    val streamed = spark.table("sliding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventOps.slidingWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("session_window session count matches batch sessionize") {
    val events = EventStream.readEvents(spark, sf)
    runToCompletion(EventStream.sessionWindows(events), "sessions", "complete")
    val streamed = spark.table("sessions")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = EventOps.sessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch)
  }

  test("streaming KMV sketch: retained arrays EXACTLY equal the batch twin per window") {
    // the custom TypedImperativeAggregate's serialized buffer lives in
    // the state store between micro-batches; if streaming state
    // save/restore or cross-batch merge() corrupted a single element,
    // the array equality breaks. k=8 saturates on sf0.001's 15
    // distinct users per full daily window, so the estimator path
    // (not exact-mode passthrough) is what both sides exercise.
    val k = 8
    val events = EventStream.readEvents(spark, sf)
    runToCompletion(EventStream.windowedDistinctSketch(events, k),
      "theta_stream", "complete")
    val streamed = spark.table("theta_stream")
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getDouble(2))).toMap
    val batchEvents = graft.sources.Tables.events(spark, sf)
      .withColumn("event_time",
        timestamp_seconds(graft.operators.TimeSeriesOps.epochSecExpr("ts")))
    val batch = EventStream.windowedDistinctSketch(batchEvents, k)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getDouble(2))).toMap
    assert(streamed.keySet === batch.keySet, "window sets diverged")
    streamed.foreach { case (w, (sk, est)) =>
      assert(sk === batch(w)._1, s"window $w sketch arrays diverged")
      assert(est === batch(w)._2, s"window $w estimates diverged")
    }
    // saturated (estimator regime) and the estimate is sane: within
    // 75% of the exact per-window distinct at this tiny k (RSE ~41%;
    // the hash is fixed so the observed errors are deterministic)
    val exact = batchEvents
      .groupBy(window(col("event_time"), "1 day"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getStruct(0).getTimestamp(0).getTime / 1000 ->
        r.getLong(1)).toMap
    streamed.foreach { case (w, (sk, est)) =>
      assert(sk.length === math.min(k, exact(w).toInt),
        s"window $w sketch size off")
      assert(math.abs(est - exact(w)) <= 0.75 * exact(w),
        s"window $w estimate far off: $est vs ${exact(w)}")
    }
    assert(streamed.exists(_._2._1.length == k),
      "no window saturated the sketch — estimator untested")
  }

  test("stream-static join matches the batch equivalent") {
    val events = EventStream.readEvents(spark, sf)
    runToCompletion(EventStream.enrichedCounts(spark, events, sf), "enriched", "complete")
    val streamed = spark.table("enriched")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batchEvents = graft.sources.Tables.events(spark, sf)
    val batch = EventStream.enrichedCounts(spark, batchEvents, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed === batch)
  }

  test("stream-stream interval join matches the batch interval join") {
    val joined = EventStream.clickAttribution(
      EventStream.readEvents(spark, sf), EventStream.readEvents(spark, sf))
    runToCompletion(joined, "attribution", "append")
    val streamed = spark.table("attribution")
      .groupBy("purchase_id", "user_id").agg(count(lit(1)).as("n_clicks"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventOps.clickAttribution(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming twin: keyed window containment ≡ batch binned point-in-interval") {
    val joined = EventStream.incidentWindowMatches(
      EventStream.readEvents(spark, sf), EventStream.readEvents(spark, sf), 900L)
    runToCompletion(joined, "rj_stream", "append")
    val streamed = spark.table("rj_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime / 1000)).toSet
    // batch side: the SAME containment through the grid join, on the
    // second-truncated time domain readEvents normalizes to
    val ev = graft.sources.Tables.events(spark, sf)
    val pts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        graft.operators.TimeSeriesOps.epochSecExpr("ts").as("es"))
    val ivs = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("i_user"),
        graft.operators.TimeSeriesOps.epochSecExpr("ts").as("lo"))
      .withColumn("hi", col("lo") + 900L)
    val batch = graft.operators.RangeJoinOps.pointInInterval(
        pts, "es", ivs, "lo", "hi", 900.0, keys = Seq("p_user" -> "i_user"))
      .select(col("p_id"), col("p_user"), col("lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty, "fixture produced no in-window matches")
    assert(streamed === batch,
      s"stream diverged from the batch grid join: " +
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("outer interval join: unmatched purchases emit nulls only after the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_outer_join").toString
    val t0 = 1700000000L
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "es")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    // user 1's purchase has a click in the 30-min window; user 2's
    // purchase has none — it must emit a single null-click row, and
    // ONLY once the watermark passes its eviction bound
    write(Seq((1L, 1L, "click", t0 + 100), (10L, 1L, "purchase", t0 + 200),
      (20L, 2L, "purchase", t0 + 200)))
    def stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.clickAttributionOuter(stream, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("outer_attr").start()
    q.processAllAvailable()
    // pre-watermark: the matched pair may have emitted eagerly, but
    // the unmatched purchase must NOT have produced its null row yet
    val early = spark.table("outer_attr").filter(col("purchase_id") === 20L).count()
    assert(early === 0, "null row emitted before the watermark proved no match")
    // advance the watermark well past the interval + delay bound
    write(Seq((97L, 99L, "click", t0 + 100000), (98L, 99L, "purchase", t0 + 100000)))
    q.processAllAvailable()
    write(Seq((95L, 99L, "click", t0 + 110000), (96L, 99L, "purchase", t0 + 110000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("outer_attr").filter(col("user_id") < 99L).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null
        else java.lang.Long.valueOf(r.getTimestamp(2).getTime / 1000))).toSet
    assert(rows === Set((10L, java.lang.Long.valueOf(t0 + 100)), (20L, null)),
      s"outer interval join diverged: $rows")
  }

  test("streaming as-of twin: interval join + windowed max ≡ batch tolerance as-of") {
    import spark.implicits._
    // purchases × signups with tolerance 100 s. Expected by hand AND
    // against the batch native as-of with the same tolerance: the
    // streaming inner form renders the batch operator's null rows as
    // absence, so its output must equal the batch query's MATCHED set.
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_stream").toString
    val t0 = 1700000000L
    val fixture = Seq(
      (10L, 1L, "signup", t0 + 10),
      (11L, 1L, "signup", t0 + 50),
      (12L, 1L, "purchase", t0 + 60),  // two in-window signups → latest (t0+50)
      (13L, 1L, "purchase", t0 + 300), // latest signup 250 s stale → nothing
      (20L, 2L, "purchase", t0 + 500), // only signup is later → nothing
      (21L, 2L, "signup", t0 + 1000),
      (30L, 3L, "signup", t0 + 650),
      (31L, 3L, "purchase", t0 + 700)) // gap 50 → match
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "es")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(fixture)
    def stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.asofSignupEnrichment(stream, stream, 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_stream").start()
    q.processAllAvailable()
    // watermark sentinels on BOTH filtered streams (user 99, excluded
    // from expectations) so every fixture purchase's window finalizes;
    // two batches guarantee a micro-batch runs AFTER the watermark
    // update, same pattern as the session-flush test
    write(Seq((98L, 99L, "signup", t0 + 100000), (99L, 99L, "purchase", t0 + 100000)))
    q.processAllAvailable()
    write(Seq((96L, 99L, "signup", t0 + 110000), (97L, 99L, "purchase", t0 + 110000)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_stream")
      .filter(col("user_id") =!= 99L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(streamed === Map(12L -> (t0 + 50), 31L -> (t0 + 650)),
      s"streaming as-of diverged from the hand-computed fixture: $streamed")
    // batch native as-of, same tolerance, matched rows only
    val ev = fixture.toDF("event_id", "user_id", "event_type", "es")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    val batch = graft.plans.AsOfJoinOps.asof(purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"), Some(100L))
      .filter(col("signup_es").isNotNull)
      .select("event_id", "signup_es").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch,
      "streaming as-of twin diverged from the batch tolerance as-of")
  }

  test("streaming as-of OUTER twin ≡ batch tolerance as-of INCLUDING null rows") {
    import spark.implicits._
    // same fixture as the inner twin, but through the left-outer
    // interval join → windowed MAX chain: purchases with NO
    // in-tolerance signup (13: stale by 250 s; 20: only signup is
    // later) must each emit exactly ONE null-signup row once the
    // watermark proves no match can arrive — the batch operator's
    // null rows, rendered by a stream
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_outer").toString
    val t0 = 1700000000L
    val fixture = Seq(
      (10L, 1L, "signup", t0 + 10),
      (11L, 1L, "signup", t0 + 50),
      (12L, 1L, "purchase", t0 + 60),  // latest in-window signup → t0+50
      (13L, 1L, "purchase", t0 + 300), // stale → NULL row
      (20L, 2L, "purchase", t0 + 500), // signup only later → NULL row
      (21L, 2L, "signup", t0 + 1000),
      (30L, 3L, "signup", t0 + 650),
      (31L, 3L, "purchase", t0 + 700)) // gap 50 → match
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "es")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(fixture)
    def stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.asofSignupEnrichmentOuter(stream, stream, 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_outer_stream").start()
    q.processAllAvailable()
    write(Seq((98L, 99L, "signup", t0 + 100000), (99L, 99L, "purchase", t0 + 100000)))
    q.processAllAvailable()
    write(Seq((96L, 99L, "signup", t0 + 110000), (97L, 99L, "purchase", t0 + 110000)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_outer_stream")
      .filter(col("user_id") =!= 99L).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null
        else java.lang.Long.valueOf(r.getLong(2)))).toMap
    // batch native as-of with the same tolerance, null rows KEPT
    val ev = fixture.toDF("event_id", "user_id", "event_type", "es")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    val batch = graft.plans.AsOfJoinOps.asof(purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"), Some(100L))
      .select("event_id", "signup_es").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null
        else java.lang.Long.valueOf(r.getLong(1)))).toMap
    assert(streamed === batch,
      s"outer streaming as-of != batch as-of with nulls: $streamed vs $batch")
    assert(streamed(13L) == null && streamed(20L) == null,
      s"unmatched purchases did not surface null rows: $streamed")
  }

  test("streaming FORWARD as-of twin ≡ batch forward-direction tolerance as-of") {
    import spark.implicits._
    // mirrored fixture: each purchase wants its EARLIEST at-or-after
    // signup within 100 s. 12: signup 40 s later → match; 13: next
    // signup 700 s later → nothing; 20: signup 500 s EARLIER only →
    // nothing (forward ignores the past); 31: exact-time signup →
    // distance 0, forward is inclusive at-or-after.
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_fwd").toString
    val t0 = 1700000000L
    val fixture = Seq(
      (12L, 1L, "purchase", t0 + 60),
      (10L, 1L, "signup", t0 + 100),   // +40 → match for 12
      (11L, 1L, "signup", t0 + 150),   // later; 12 takes the EARLIEST ≥
      (13L, 1L, "purchase", t0 + 300), // next signup t0+1000 → too far
      (14L, 1L, "signup", t0 + 1000),
      (21L, 2L, "signup", t0 + 100),
      (20L, 2L, "purchase", t0 + 600), // only signup is in the past → nothing
      (31L, 3L, "purchase", t0 + 700),
      (30L, 3L, "signup", t0 + 700))   // exact time → inclusive match
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "es")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(fixture)
    def stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.asofSignupEnrichmentForward(stream, stream, 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_fwd_stream").start()
    q.processAllAvailable()
    write(Seq((98L, 99L, "signup", t0 + 100000), (99L, 99L, "purchase", t0 + 100000)))
    q.processAllAvailable()
    write(Seq((96L, 99L, "signup", t0 + 110000), (97L, 99L, "purchase", t0 + 110000)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_fwd_stream")
      .filter(col("user_id") =!= 99L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(streamed === Map(12L -> (t0 + 100), 31L -> (t0 + 700)),
      s"forward streaming as-of diverged from hand-computed fixture: $streamed")
    // batch native FORWARD as-of, same tolerance, matched rows only
    val ev = fixture.toDF("event_id", "user_id", "event_type", "es")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    val batch = graft.plans.AsOfJoinOps.asof(purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"), Some(100L),
        graft.plans.AsOfDirection.Forward)
      .filter(col("signup_es").isNotNull)
      .select("event_id", "signup_es").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch,
      "forward streaming twin diverged from the batch forward as-of")
  }

  test("streaming as-of twin recovers join + window state across restarts") {
    import spark.implicits._
    // two stateful operators' state (interval-join buffers AND the
    // per-purchase window aggregate) must survive checkpoint restart:
    // a purchase arriving AFTER the restart matches a signup ingested
    // BEFORE it — possible only if the join's buffered right side was
    // recovered — and earlier purchases still emit correctly.
    val root = java.nio.file.Files.createTempDirectory("graft_asof_ck").toString
    val t0 = 1700000000L
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "es")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    def run(): Unit = {
      def stream = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, event_time TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
      val q = EventStream.asofSignupEnrichment(stream, stream, 100L)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ck")
        .format("parquet").option("path", s"$root/out").start()
      q.processAllAvailable(); q.stop()
    }
    write(Seq((10L, 1L, "signup", t0 + 50), (12L, 1L, "purchase", t0 + 60)))
    run()
    // restart 1: this purchase's only possible match was ingested in
    // the PREVIOUS run — the cross-restart join-state proof
    write(Seq((13L, 1L, "purchase", t0 + 120)))
    run()
    // restart 2: watermark sentinels finalize every fixture window
    write(Seq((98L, 99L, "signup", t0 + 100000), (99L, 99L, "purchase", t0 + 100000)))
    run()
    write(Seq((96L, 99L, "signup", t0 + 110000), (97L, 99L, "purchase", t0 + 110000)))
    run()
    val got = spark.read.parquet(s"$root/out")
      .filter(col("user_id") =!= 99L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got === Map(12L -> (t0 + 50), 13L -> (t0 + 50)),
      s"as-of state lost across restart: $got")
  }

  test("foreachBatch JDBC sink lands the final windowed aggregate in the database") {
    System.setProperty("derby.system.home", "/tmp/graft_derby")
    val url = "jdbc:derby:/tmp/graft_derby/streamdb;create=true"
    val events = EventStream.readEvents(spark, sf)
    val q = EventStream.countsToJdbc(
      EventStream.tumblingCounts(events), url, "stream_counts", "app", "app")
    q.processAllAvailable()
    q.stop()
    val landed = graft.sources.SalesIo.readJdbc(spark, url, "stream_counts", "app", "app")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventOps.tumblingWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(landed === batch, "JDBC-landed aggregate differs from the batch twin")
  }

  test("streaming dedup suppresses replayed events within the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val rows = Seq((1L, 10L, 1700000000L), (2L, 10L, 1700000060L), (3L, 11L, 1700000120L))
    def writeBatch(): Unit = rows.toDF("event_id", "user_id", "es")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("es")).as("event_time"))
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    writeBatch() // original events
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.dedupedEvents(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("deduped").start()
    q.processAllAvailable()
    writeBatch() // exact replay — an at-least-once delivery duplicate
    q.processAllAvailable()
    q.stop()
    val got = spark.table("deduped").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L), s"replay leaked through: ${got.toSeq}")
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    // two micro-batches in a fresh directory: batch 1 advances event
    // time past the watermark horizon; batch 2 arrives entirely before
    // it (late) and must be dropped from the append-mode aggregation
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("user_id", "es")
        .select(col("user_id"), timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val t0 = 1700000000L
    writeBatch("early", Seq((1L, t0), (1L, t0 + 3600))) // horizon -> t0+3600-600
    val stream = spark.readStream
      .schema("user_id LONG, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("late_test").start()
    q.processAllAvailable()
    // late event in the SAME 5-min window as t0, far behind the horizon
    writeBatch("late", Seq((1L, t0 + 50)))
    q.processAllAvailable()
    q.stop()
    val firstWindow = t0 - t0 % 300
    val rows = spark.table("late_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(_._1 == firstWindow)
    // the window finalized once with ONLY the on-time event; had the
    // late event been (wrongly) accepted it would read n=2 or re-emit
    assert(rows.toSeq === Seq((firstWindow, 1L)),
      s"late event not dropped: $rows")
  }

  test("out-of-order event INSIDE the watermark merges into its window") {
    import spark.implicits._
    // the other half of the late-data contract: an event that arrives
    // out of order but within the watermark delay must be ACCEPTED and
    // merged into its (still-open) window — a watermark that dropped
    // everything out-of-order would be vacuously "correct".
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    def writeBatch(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("user_id", "es")
        .select(col("user_id"), timestamp_seconds(col("es")).as("event_time"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val t0 = 1700000400L // aligned to the 5-min window grid
    // batch 1: window [t0, t0+300) opens; watermark -> t0+400-600 < t0,
    // so the window is NOT finalized yet
    writeBatch(Seq((1L, t0 + 10), (1L, t0 + 400)))
    val stream = spark.readStream
      .schema("user_id LONG, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("merge_test").start()
    q.processAllAvailable()
    // batch 2: out-of-order (behind max event time) but ABOVE the
    // watermark -> must merge into [t0, t0+300)
    writeBatch(Seq((1L, t0 + 20)))
    q.processAllAvailable()
    // batch 3: advance the watermark past t0+300+600 so the first
    // window finalizes and emits (append mode emits only final rows)
    writeBatch(Seq((1L, t0 + 1500)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("merge_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(_._1 == t0)
    assert(rows.toSeq === Seq((t0, 2L)),
      s"within-watermark event not merged into its window: $rows")
  }

  test("sessionizer merges a within-watermark out-of-order event into the open session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_merge").toString
    val t0 = 1600000000L
    def write(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("user_id", "es", "value")
        .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(Seq((1L, t0, 2.0), (1L, t0 + 60, 3.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.statefulSessions(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_merge").start()
    q.processAllAvailable()
    // out-of-order event INSIDE the open session's span, watermark
    // still behind it (t0+60-1800 < t0+30): must merge, n 2 -> 3
    write(Seq((1L, t0 + 30, 5.0)))
    q.processAllAvailable()
    // advance the watermark far past the gap bound via another user,
    // twice, so the event-time timeout flushes user 1's session
    write(Seq((2L, t0 + 14400, 1.0)))
    q.processAllAvailable()
    write(Seq((2L, t0 + 14460, 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_merge").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.contains((1L, t0, t0 + 60, 3L, 10.0)),
      s"within-watermark event not merged into the session: ${got.toSeq}")
  }

  test("sessionizer drops an event behind the watermark (no ghost session)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_drop").toString
    val t0 = 1600000000L
    def write(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("user_id", "es", "value")
        .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(Seq((1L, t0, 2.0), (1L, t0 + 60, 3.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.statefulSessions(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_drop").start()
    q.processAllAvailable()
    // push the watermark ~3.5 h ahead and let the timeout flush user 1
    write(Seq((2L, t0 + 14400, 1.0)))
    q.processAllAvailable()
    write(Seq((2L, t0 + 14460, 1.0)))
    q.processAllAvailable()
    // now an event FAR behind the watermark for user 1: the stateful
    // operator must never see it — no new/ghost session, no mutation
    // of the already-flushed one
    write(Seq((1L, t0 + 120, 9.0)))
    q.processAllAvailable()
    write(Seq((2L, t0 + 14520, 1.0)))
    q.processAllAvailable()
    q.stop()
    val user1 = spark.table("sess_drop").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .filter(_._1 == 1L)
    assert(user1.toSeq === Seq((1L, t0, t0 + 60, 2L, 5.0)),
      s"behind-watermark event leaked into session state: ${user1.toSeq}")
  }

  test("stateful sessionizer emits consistent closed sessions") {
    val events = EventStream.readEvents(spark, sf)
    val out = EventStream.statefulSessions(spark, events)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("stateful").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stateful").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // closed sessions (the final open session per user stays in state)
    assert(got.nonEmpty)
    assert(got.forall { case (_, s, e, n) => s <= e && n >= 1 })
    // each closed session must exist in the batch sessionization
    val batch = EventOps.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val missing = got.filterNot(batch.contains)
    assert(missing.isEmpty, s"sessions not in batch result: ${missing.take(3)}")
  }

  test("trailing open session flushes via event-time timeout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_flush").toString
    val t0 = 1600000000L
    def write(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("user_id", "es", "value")
        .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(Seq((1L, t0, 2.0), (1L, t0 + 60, 3.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.statefulSessions(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_flush").start()
    q.processAllAvailable()
    // User 1 never gets a gap-closing event. Events for a DIFFERENT
    // user advance the watermark past user 1's gap bound (t0+60+30min);
    // the second batch guarantees a micro-batch runs AFTER the
    // watermark update so the event-time timeout fires deterministically
    // (not relying on a no-data batch).
    write(Seq((2L, t0 + 14400, 1.0)))
    q.processAllAvailable()
    write(Seq((2L, t0 + 14460, 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_flush").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.contains((1L, t0, t0 + 60, 2L, 5.0)),
      s"trailing session not flushed: ${got.toSeq}")
  }

  test("value-dependent-gap sessionizer: gap follows the last event's value") {
    import spark.implicits._
    // the semantics session_window cannot express: the same 2400 s
    // silence CLOSES a session after a low-value event (base gap
    // 1800) but KEEPS IT OPEN after a high-value one (long gap 3600).
    val dir = java.nio.file.Files.createTempDirectory("graft_vgap").toString
    val t0 = 1600000000L
    def write(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("user_id", "es", "value")
        .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    // user 1: low-value then 2400 s silence → TWO sessions
    // user 2: HIGH-value then the same 2400 s silence → ONE session
    write(Seq((1L, t0, 10.0), (1L, t0 + 2400, 11.0),
      (2L, t0, 99.0), (2L, t0 + 2400, 12.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = EventStream.statefulSessionsValueGap(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("vgap").start()
    q.processAllAvailable()
    // sentinels push the watermark past every gap bound (two batches
    // so a micro-batch runs after the watermark update)
    write(Seq((3L, t0 + 20000, 1.0)))
    q.processAllAvailable()
    write(Seq((3L, t0 + 20060, 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vgap").filter(col("user_id") =!= 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got === Set(
      (1L, t0, t0, 1L, 10.0), (1L, t0 + 2400, t0 + 2400, 1L, 11.0),
      (2L, t0, t0 + 2400, 2L, 111.0)),
      s"value-dependent gap semantics diverged: $got")
  }

  test("three sessionizers agree: fMGWS = transformWithState = session_window") {
    import spark.implicits._
    // the sess_flush fixture on ALL THREE backends: gap-close emission
    // and the watermark-driven flush of the trailing open session must
    // produce identical session sets — the two custom state machines
    // (flatMapGroupsWithState with setTimeoutTimestamp;
    // transformWithState with an explicit event-time timer) and the
    // DECLARATIVE built-in session_window, whose append-mode emission
    // is also watermark-driven. Three-way equality pins the custom
    // processors to the standard session semantics, not just to each
    // other.
    val t0 = 1600000000L
    def run(tag: String,
            mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_sess_$tag").toString
      def write(rows: Seq[(Long, Long, Double)]): Unit =
        rows.toDF("user_id", "es", "value")
          .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("value"))
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
      write(Seq((1L, t0, 2.0), (1L, t0 + 60, 3.0)))
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = mk(stream).writeStream.outputMode("append")
        .format("memory").queryName(s"sess_$tag").start()
      q.processAllAvailable()
      // a second user advances the watermark twice so the trailing
      // session of user 1 flushes deterministically on both backends
      write(Seq((2L, t0 + 14400, 1.0)))
      q.processAllAvailable()
      write(Seq((2L, t0 + 14460, 1.0)))
      q.processAllAvailable()
      q.stop()
      spark.table(s"sess_$tag").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
    }
    val fmgws = run("fmgws", df => EventStream.statefulSessions(spark, df).toDF)
    val keepConf = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws =
      try run("tws", df => EventStream.statefulSessionsTws(spark, df).toDF)
      finally keepConf match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    // the declarative twin reads the same fixture; its event_time is
    // derived with the same whole-second truncation as readEvents
    val swin = run("swin", df => EventStream.sessionWindowSessions(
      df.withColumn("event_time", timestamp_seconds(
        graft.operators.TimeSeriesOps.epochSecExpr("ts")))))
    assert(fmgws.contains((1L, t0, t0 + 60, 2L, 5.0)),
      s"fMGWS baseline lost the flushed session: $fmgws")
    assert(tws === fmgws, s"backends diverged: tws=$tws fmgws=$fmgws")
    assert(swin === fmgws,
      s"session_window diverged from the custom sessionizers: swin=$swin fmgws=$fmgws")
  }
}
