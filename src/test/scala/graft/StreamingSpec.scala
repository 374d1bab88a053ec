package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vs batch equivalence: the watermarked windowed agg over the
  * event stream must reproduce the batch q18 result exactly (same grouping,
  * same decimal money math). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly agg == batch hourly agg") {
    val stream = EventStream.hourlyAgg(EventStream.readEvents(spark, sf))
    // complete mode: append would hold back the trailing windows that the
    // watermark hasn't passed when the fixture stream ends
    val q = stream.writeStream
      .format("memory").queryName("hourly_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val streamed = spark.table("hourly_out")
      .orderBy("hour", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = queries.Relational.q18(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("streaming daily mix == batch daily mix (the q152 drift monitor's input)") {
    val stream = EventStream.dailyMixAgg(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("daily_mix_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("daily_mix_out")
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    val batch = Tables.load(spark, sf, "events")
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming HLL registers == batch hourly stage; MAX-merge == q233") {
    val stream = EventStream.hllRegistersStream(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("hll_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("hll_out")
      .orderBy("hr", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // batch twin of the hourly stage (q233's first aggregate)
    val p54 = 1L << 54
    val batch = Tables.load(spark, sf, "events")
      .select(expr("unix_millis(ts) div 3600000").as("hr"),
        graft.functions.TextFunctions.portableHash60(col("user_id")).as("h"))
      .select(col("hr"), expr(s"h div ${p54}L").as("bucket"),
        expr(s"h % ${p54}L").as("rest"))
      .select(col("hr"), col("bucket"),
        when(col("rest") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rest"))).cast("long")).as("rho"))
      .groupBy("hr", "bucket").agg(max("rho").as("hr_rho"))
      .orderBy("hr", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streamed hourly registers must equal the batch stage")
    // the consumer-side MAX-merge of the streamed table IS q233's output
    val merged = streamed.groupBy(_._2).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._3).max)).toMap
    val q233 = queries.Advanced.q233(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == q233,
      "MAX-merge of streamed hourly registers must equal the q233 corpus table")
  }

  test("streaming preference pairs == batch q164 over the real fixture") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("pref_pairs").toString
    // Copy the real events into a mutable stream dir. The far-future
    // sentinels must be FEEDBACK rows (a lone view by a non-fixture user —
    // contributes no pairs on either side): the type/item filter is pushed
    // below the watermark node, so only view/purchase rows advance event
    // time and close the final fixture days.
    Tables.load(spark, sf, "events").write.parquet(s"$base/in")
    def sentinel(id: Long, day: String) =
      Seq((id, java.sql.Timestamp.valueOf(s"$day 00:00:00"), -1L, "view", 0.0,
          "{\"k\": 0}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    def source(streaming: Boolean) =
      if (streaming) spark.readStream.schema(Schemas.events).parquet(s"$base/in")
      else spark.read.schema(Schemas.events).parquet(s"$base/in")

    val q = EventStream.preferencePairsStream(source(streaming = true))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .format("memory").queryName("pref_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      sentinel(9000001L, "2024-06-01") // advance the watermark...
      q.processAllAvailable()
      sentinel(9000002L, "2024-07-01") // ...and give expired state a batch
      q.processAllAvailable()
    } finally q.stop()

    def pset(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "day", "chosen", "rejected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = pset(spark.table("pref_out"))
    // the same plan on the batch frame (watermark = no-op, agg = plain)
    val batch = pset(EventStream.preferencePairsStream(source(streaming = false)))
    assert(streamed.nonEmpty, "no pairs streamed — vacuous")
    assert(streamed == batch)
    // and the aggregated pairs reproduce the declared batch query exactly
    // (q164 reads the pristine fixture dir; the sentinel user's lone views
    // create no pairs, so the two inputs agree on the pair set)
    val aggStreamed = streamed.toSeq
      .groupBy(_._3).map { case (c, ps) =>
        (c, ps.size.toLong, ps.map(_._1).distinct.size.toLong,
          ps.map(_._4).distinct.size.toLong)
      }.toSet
    val q164 = queries.Training.q164(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(aggStreamed == q164)
  }

  test("outer stream-stream join: unmatched views emit NULL only after state expiry") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("outer_join").toString
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$base/in")

    // trigger 1: user 1 converts inside the 60-min window; user 2 does not
    write(Seq((10L, ts(10), 1L, "view", 0.0, "{}"),
      (11L, ts(30), 1L, "purchase", 9.0, "{}"),
      (20L, ts(15), 2L, "view", 0.0, "{}")))
    val schema = Tables.load(spark, sf, "events").schema
    val stream = EventStream.unconvertedViews(
      spark.readStream.schema(schema).parquet(s"$base/in"), withinMinutes = 60)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .format("memory").queryName("outer_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val early = spark.table("outer_out").collect()
      // the match emits eagerly; user 2's null row CANNOT have emitted yet —
      // a purchase could still arrive inside its window
      assert(early.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
      assert(early.forall(!_.isNullAt(2)))
      // trigger 2 advances the watermark far past view 20's join window;
      // trigger 3 gives the expired state a batch to emit in
      write(Seq((90L, ts(600), 9L, "view", 0.0, "{}")))
      q.processAllAvailable()
      write(Seq((91L, ts(610), 9L, "purchase", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("outer_out").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows.contains((2L, 20L, -1L)),
      s"expired unmatched view must emit with NULL purchase: $rows")
    assert(rows.contains((1L, 10L, 11L)) && rows.contains((9L, 90L, 91L)))
  }

  test("streaming sliding-window agg == batch sliding-window agg (q63)") {
    val stream = EventStream.slidingAgg(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("sliding_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sliding_out")
      .orderBy("win_start_ms", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = queries.Advanced.q63(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("streaming session_window agg == batch session_window agg (q75)") {
    val stream = EventStream.sessionWindowAgg(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("swin_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("swin_out")
      .orderBy("user_id", "session_start_ms")
      .collect().map(_.toSeq).toSeq
    val batch = queries.Analytics.q75(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("sessionize runs in a real stream; closed sessions match the batch plan") {
    // flushOpen=false: the trailing open session per user stays in state, so
    // the streamed output must equal batch sessions minus each user's last
    val stream = EventStream.sessionize(
      EventStream.readEvents(spark, sf), flushOpen = false)
    val q = stream.writeStream
      .format("memory").queryName("sessions_out").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sessions_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(s => (s._1, s._2)).toSeq

    val batchAll = EventStream.sessionize(
        Tables.load(spark, sf, "events"), flushOpen = true)
      .collect().map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events))
      .sortBy(s => (s._1, s._2)).toSeq
    val batchClosed = batchAll.groupBy(_._1).toSeq
      .flatMap { case (_, ss) => ss.init } // drop each user's trailing session
      .sortBy(s => (s._1, s._2))
    assert(streamed == batchClosed)
    assert(streamed.nonEmpty)
  }

  test("incremental hourly mart equals the batch aggregate after the stream drains") {
    val base = java.nio.file.Files.createTempDirectory("inc_mart").toString
    val q = EventStream.incrementalHourlyMart(
      EventStream.readEvents(spark, sf), s"$base/mart", s"$base/ckpt")
    try { q.processAllAvailable() } finally { q.stop() }
    val mart = spark.read.parquet(s"$base/mart")
      // partition-type inference reads the hour directory as a timestamp;
      // normalize back to the aggregate's string form
      .select(col("hour").cast("string").as("hour"),
        col("event_type"), col("n"), col("sum_cents"))
      .collect().map(_.toSeq).toSet
    val batch = queries.Relational.q18(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(mart == batch)
    assert(mart.nonEmpty)

    // the incremental contract itself: a later write touching ONE
    // (hour, event_type) key must leave every other partition intact
    // (dynamic partition overwrite; static mode would wipe the whole mart)
    def keys() = spark.read.parquet(s"$base/mart")
      .select("hour", "event_type").distinct().count()
    val keysBefore = keys()
    spark.read.parquet(s"$base/mart")
      .withColumn("hour", col("hour").cast("string"))
      .orderBy("hour", "event_type").limit(1)
      .select("n", "sum_cents", "hour", "event_type")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("hour", "event_type").parquet(s"$base/mart")
    assert(keys() == keysBefore,
      "dynamic overwrite must not wipe untouched partitions")
    assert(keysBefore > 1)
  }

  test("multi-trigger mart: updating one type in an hour keeps the hour's other types") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("inc_mart_mt").toString
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$base/in")

    // trigger 1: hour 0 carries BOTH type A and type B
    write(Seq((1L, ts(10), 1L, "A", 1.0, "{}"), (2L, ts(20), 1L, "A", 2.0, "{}"),
      (3L, ts(30), 2L, "B", 5.0, "{}")))
    val stream = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema).parquet(s"$base/in")
    val q = EventStream.incrementalHourlyMart(stream, s"$base/mart", s"$base/ckpt")
    try {
      q.processAllAvailable()
      // trigger 2: updates ONLY (hour 0, A) — update mode re-emits just that
      // row, so the rewrite must not touch (hour 0, B)'s partition
      write(Seq((4L, ts(40), 3L, "A", 3.0, "{}"), (5L, ts(70), 1L, "C", 7.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "fixture must arrive across at least two micro-batches")

    val mart = spark.read.parquet(s"$base/mart")
      .select(col("hour").cast("string"), col("event_type"), col("n"), col("sum_cents"))
      .collect().map(_.toSeq).toSet
    assert(mart == Set(
      Seq("1970-01-01 00:00:00", "A", 3L, 600L),
      Seq("1970-01-01 00:00:00", "B", 1L, 500L),
      Seq("1970-01-01 01:00:00", "C", 1L, 700L)))
  }

  test("checkpoint restart: a new query resumes exactly-once with recovered state") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("inc_mart_restart").toString
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    val schema = Tables.load(spark, sf, "events").schema
    def start() = EventStream.incrementalHourlyMart(
      spark.readStream.schema(schema).parquet(s"$base/in"),
      s"$base/mart", s"$base/ckpt")

    write(Seq((1L, ts(10), 1L, "A", 1.0, "{}"), (2L, ts(20), 1L, "B", 2.0, "{}")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // data lands while the query is DOWN; the restarted query must pick it
    // up from the SAME checkpoint
    write(Seq((3L, ts(30), 2L, "A", 3.0, "{}")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // exactly-once resume: the restart reads ONLY the new file — the two
      // already-committed rows are never re-ingested
      assert(q2.recentProgress.map(_.numInputRows).sum == 1,
        s"restart must not replay committed input: ${q2.recentProgress.map(_.numInputRows).toSeq}")
    } finally q2.stop()

    // state recovery: (hour 0, A) merges the pre-restart row (n=1) with the
    // post-restart row into n=2 even though q2 ingested just one row —
    // impossible unless the aggregate state was restored from the checkpoint
    val mart = spark.read.parquet(s"$base/mart")
      .select(col("hour").cast("string"), col("event_type"), col("n"), col("sum_cents"))
      .collect().map(_.toSeq).toSet
    assert(mart == Set(
      Seq("1970-01-01 00:00:00", "A", 2L, 400L),
      Seq("1970-01-01 00:00:00", "B", 1L, 200L)))
  }

  test("stream-stream conversion join matches the same plan run in batch") {
    val q = EventStream.conversions(EventStream.readEvents(spark, sf))
      .writeStream.format("memory").queryName("conv_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("conv_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventStream.conversions(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming delivery-dedup collapses a doubled stream to one copy") {
    val doubled = EventStream.readEvents(spark, sf)
      .unionByName(EventStream.readEvents(spark, sf))
    val q = EventStream.dedupStream(doubled, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("dedup_out").count()
    val batch = Tables.load(spark, sf, "events").count()
    assert(streamed == batch, s"$streamed != $batch")
  }

  test("event-time timeout closes idle sessions without waiting for the user's next event") {
    import org.apache.spark.sql.functions._
    val gapMs = 30 * 60000L
    val stream = EventStream.sessionizeTimeout(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("tsess_out").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("tsess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

    // expected: every batch session EXCEPT those still open at the final
    // watermark (= max event time with a 0s delay): end + gap >= wm stays
    // in state, everything else — including trailing sessions of users who
    // never returned — must have been flushed by the timeout
    val batchEvents = Tables.load(spark, sf, "events")
    val wmMs = batchEvents.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val all = EventStream.sessionize(batchEvents, flushOpen = true)
      .collect().map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events))
    val expected = all.filter { case (_, _, end, _) => end + gapMs < wmMs }.toSet
    assert(streamed == expected, s"streamed=${streamed.size} expected=${expected.size}")
    // the timeout must flush sessions the no-timeout variant would retain:
    // at least one user's TRAILING session is closed here
    val trailing = all.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert(streamed.exists(trailing.contains),
      "no trailing session was closed by the watermark timeout")
  }

  test("EWMA anomaly alerts stream out identically to the batch state machine") {
    val stream = EventStream.ewmaAnomaly(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("ewma_out").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ewma_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    val batch = EventStream.ewmaAnomaly(Tables.load(spark, sf, "events"))
      .collect().map(s => (s.user_id, s.event_id, s.cents, s.ewma_before))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty, "no spike fired at this SF — detector untested")
    // every alert really spikes past 4x its carried ewma
    streamed.foreach { case (u, e, c, w) =>
      assert(c > 4 * w, s"user $u event $e: $c not a spike over ewma $w")
    }
    // and the q187 rollup counts exactly these alerts
    val rolled = graft.queries.Extensions.q187(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val bySpikes = streamed.groupBy(_._1).view
      .mapValues(xs => (xs.size.toLong, xs.map(_._2).sum)).toMap
    bySpikes.foreach { case (u, t) =>
      assert(rolled(u) == t, s"user $u rollup mismatch")
    }
    assert(rolled.values.map(_._1).sum == streamed.size)
  }

  test("jittered redelivery: dropDuplicatesWithinWatermark collapses re-stamped copies") {
    import org.apache.spark.sql.functions._
    val once = EventStream.readEvents(spark, sf)
    // the redelivered copy carries a re-stamped event time (+1 ms): exact
    // (key, ts) dedup keeps both, within-watermark dedup must not
    val jittered = once.unionByName(
      once.withColumn("ts", timestamp_millis(unix_millis(col("ts")) + 1)))
    val q = EventStream.dedupStreamJittered(jittered, Seq("event_id"))
      .writeStream.format("memory").queryName("jdedup_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("jdedup_out").count()
    val batch = Tables.load(spark, sf, "events").count()
    assert(streamed == batch, s"$streamed != $batch")
  }

  test("stream-static enrichment and ingest gate match their batch twins") {
    val base = java.nio.file.Files.createTempDirectory("ss_join").toString
    val events = EventStream.readEvents(spark, sf)
    val schema = Tables.load(spark, sf, "events").schema
    // static sides: a user dimension (every 3rd user labeled) and a
    // known-key set (every 4th event_id "already ingested")
    val dim = Tables.load(spark, sf, "events")
      .select(col("user_id")).distinct()
      .filter(col("user_id") % 3 === 0)
      .withColumn("segment", concat(lit("seg"), col("user_id") % 7))
    val known = Tables.load(spark, sf, "events")
      .select(col("event_id")).filter(col("event_id") % 4 === 0)

    val enriched = EventStream.enrichStream(events, dim, "user_id")
      .select("event_id", "user_id", "segment")
    val gated = EventStream.ingestGateStream(events, known, "event_id")
      .select("event_id")
    val q1 = enriched.writeStream.option("checkpointLocation", s"$base/c1")
      .format("memory").queryName("enrich_out").outputMode("append").start()
    val q2 = gated.writeStream.option("checkpointLocation", s"$base/c2")
      .format("memory").queryName("gate_out").outputMode("append").start()
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }

    val batchEvents = Tables.load(spark, sf, "events")
    val wantEnriched = batchEvents.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "segment")
      .collect().map(_.toSeq).toSet
    val gotEnriched = spark.table("enrich_out").collect().map(_.toSeq).toSet
    assert(gotEnriched == wantEnriched)
    // left join kept every event, matched or not
    assert(gotEnriched.size == batchEvents.count())

    val wantGated = batchEvents.join(known, Seq("event_id"), "left_anti")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val gotGated = spark.table("gate_out").collect().map(_.getLong(0)).toSet
    assert(gotGated == wantGated)
    assert(gotGated.nonEmpty && gotGated.forall(_ % 4 != 0))
  }

  test("sessionization: hand-built gaps produce the expected sessions") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 7: events at t=0,10,20 | gap | t=60,65 → two sessions (3 and 2 events)
    val df = Seq(
      (1L, ts(0), 7L, "a", 1.0, "{}"),
      (2L, ts(10), 7L, "a", 1.0, "{}"),
      (3L, ts(20), 7L, "a", 1.0, "{}"),
      (4L, ts(60), 7L, "a", 1.0, "{}"),
      (5L, ts(65), 7L, "a", 1.0, "{}"),
      (6L, ts(0), 8L, "a", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = EventStream.sessionize(df, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.start_ms))
    assert(sessions.map(s => (s.user_id, s.n_events)).toSeq ==
      Seq((7L, 3), (7L, 2), (8L, 1)))
    assert(sessions(0).end_ms == 20 * 60000L)
  }

  test("transformWithState top-3 leaderboard: final emissions equal the q214 batch rollup") {
    // the arbitrary-state v2 API runs on the RocksDB provider — scope the
    // conf to this stream and restore it (the Tables nanos discipline)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStream.topPurchasesStream(EventStream.readEvents(spark, sf))
        .writeStream.format("memory").queryName("topk_out")
        .outputMode("update").start()
      try { q.processAllAvailable() } finally { q.stop() }
      // Update mode re-emits a user's rollup each trigger; the emission
      // with the highest n_purchases is the final state
      val streamed = spark.table("topk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (_, xs) => xs.maxBy(_._2) }
        .toSeq.sortBy(_._1)
      val batch = queries.Extensions.q214(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(streamed.nonEmpty, "no purchases at this SF — leaderboard untested")
      assert(streamed == batch,
        "transformWithState leaderboard diverged from the batch rank window")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming session digests: merged concurrency sweep == batch q282") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val want = queries.Stats.q282(spark, sf).collect().map(_.toSeq).toSeq
    val events = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // stage in EVENT-TIME thirds so sessions never receive out-of-order
    // history across micro-batches; a far-future sentinel per user closes
    // every trailing session (the sentinel's own session stays OPEN in
    // state and is never emitted, so no filtering is needed)
    val cuts = events.selectExpr("unix_millis(ts) as t").orderBy("t")
      .collect().map(_.getLong(0))
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val maxT = cuts.last
    val sentinels = events.select("user_id").distinct().collect()
      .map(_.getLong(0)).zipWithIndex.map { case (u, i) =>
        (10000000L + i, new java.sql.Timestamp(maxT + 864000000L), u,
          "view", 0.0)
      }.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
    val landing = java.nio.file.Files.createTempDirectory("sess_landing").toString
    val parts = Seq(
      events.filter(expr(s"unix_millis(ts) < $c1")),
      events.filter(expr(s"unix_millis(ts) >= $c1 and unix_millis(ts) < $c2")),
      events.filter(expr(s"unix_millis(ts) >= $c2")),
      sentinels)
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.mode("overwrite").parquet(s"$landing/g$i")
      new java.io.File(s"$landing/g$i").listFiles()
        .foreach(f => f.setLastModified(1000000L * (i + 1)))
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("sess_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val q = EventStream.sessionDigestStream(stream, out, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val got = queries.Stats.concurrencyReadMerged(spark, Seq(s"$out/batch-*"))
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "merge-on-read concurrency sweep diverges from the batch q282")
  }

  test("transformWithState lateness digests: merged == batch q292; state crosses batches; replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // planted disorder (the q292 spec fixture): user 1 has a 1.0 s and a
    // 2.5 s late arrival, user 2 is in order; batch boundaries split user
    // 1's stream so the running max must SURVIVE in state
    val rows = Seq(
      (1L, ts(1000), 1L, "a", 1.0), (2L, ts(5000), 1L, "a", 1.0),
      (3L, ts(4000), 1L, "a", 1.0), (4L, ts(5000), 1L, "a", 1.0),
      (5L, ts(2500), 1L, "a", 1.0), (6L, ts(10000), 1L, "a", 1.0),
      (7L, ts(100), 2L, "a", 1.0), (8L, ts(200), 2L, "a", 1.0))
    val full = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val want = queries.Stats.q292From(full
        .select(col("user_id"), col("event_id"),
          expr("unix_millis(ts)").as("tms")))
      .collect().map(_.toSeq).toSeq
    val landing = java.nio.file.Files.createTempDirectory("late_landing").toString
    val groups = Seq(rows.take(3), rows.slice(3, 6), rows.drop(6))
    groups.zipWithIndex.foreach { case (g, i) =>
      g.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$landing/g$i")
      new java.io.File(s"$landing/g$i").listFiles()
        .foreach(f => f.setLastModified(1000000L * (i + 1)))
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("late_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("late_ckpt").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStream.lateBucketStream(stream, out, ckpt)
      try { q.processAllAvailable() } finally { q.stop() }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    def merged(): Seq[Seq[Any]] = queries.Stats.watermarkReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merged lateness digests diverge from the batch q292 kernel")
    // replay: batch 0 saw group 0 with EMPTY state, so its digest is the
    // batch kernel over group 0 alone — rewrite it and nothing changes
    queries.Stats.latenessBuckets(groups.head
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("user_id"), col("event_id"),
          expr("unix_millis(ts)").as("tms")))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed lateness digest must be a no-op")
  }

  test("streaming near-dup gate against the persisted sig store == batch q255 survivors; replay idempotent") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // the q255 batch twin: survivors are exactly the is_dup = 0 rows
    val want = graft.queries.Extensions.q255(spark, sf)
      .filter(col("is_dup") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // stage the arrival bucket as 3 files -> 3 micro-batches
    val arrivals = Tables.load(spark, sf, "documents")
      .filter(graft.functions.TextFunctions.hashBucket(col("doc_id"),
        graft.dedup.PortableSigStore.NewMod)
        === graft.dedup.PortableSigStore.NewBucket)
      .select("doc_id", "text")
    val landing = java.nio.file.Files.createTempDirectory("gate_landing").toString
    val rows = arrivals.collect()
    rows.grouped(math.max(1, rows.length / 3 + 1)).zipWithIndex.foreach {
      case (g, i) =>
        g.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(s"$landing/f$i")
    }
    val stream = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/f*")
    val out = java.nio.file.Files.createTempDirectory("gate_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gate_ckpt").toString
    val q = graft.dedup.PortableSigStore.gateStream(spark, sf, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def survivors(): Seq[Long] = spark.read.parquet(s"$out/batch-*")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val got = survivors()
    assert(got.toSet == want, s"gated stream diverges from the batch twin")
    assert(got.distinct.length == got.length, "gate emitted duplicates")
    // at-least-once replay: re-running a batch's commit overwrites its own
    // directory — exactly-once by idempotence, no ledger needed
    val b0 = spark.read.parquet(s"$out/batch-0").select("doc_id", "text")
    graft.dedup.PortableSigStore.gateBatch(spark, sf,
      Tables.load(spark, sf, "documents")
        .join(b0.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(survivors().toSet == want && survivors().length == got.length,
      "replayed batch commit must be a no-op on the survivor set")
  }

  test("streaming semantic ingest gate == batch q268 survivors; replay idempotent") {
    // r13 VERDICT #5: the q255 gate shape in EMBEDDING space — arriving
    // vectors rejected on semantic collision with the frozen corpus model
    import org.apache.spark.sql.types._
    val sf = "/root/testdata/sf0.001"
    val want = graft.queries.Semantic.q268(spark, sf)
      .filter(col("admitted") === 1).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val (cents, existing) = graft.queries.Semantic.gateState(spark, sf)
    val existingP = existing.persist()
    try {
      // stage the arrival bucket as 3 files -> 3 micro-batches
      val arrivals = graft.ann.PortableAnn.quantized(
        Tables.load(spark, sf, "embeddings").filter(
          graft.functions.TextFunctions.hashBucket(col("vec_id"),
            graft.queries.Semantic.GateMod)
            === graft.queries.Semantic.GateBucket))
      val landing =
        java.nio.file.Files.createTempDirectory("semgate_landing").toString
      arrivals.withColumn("g", col("vec_id") % 3)
        .repartition(3, col("g")).drop("g")
        .write.mode("overwrite").parquet(landing)
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("qv", ArrayType(LongType)), StructField("nrm", LongType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val out = java.nio.file.Files.createTempDirectory("semgate_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("semgate_ckpt").toString
      val q = graft.queries.Semantic.semGateStream(spark, cents, existingP,
        stream, out, ckpt)
      try q.processAllAvailable() finally q.stop()
      def survivors(): Seq[Long] = spark.read.parquet(s"$out/batch-*")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val got = survivors()
      assert(got.toSet == want, "gated stream diverges from the batch twin")
      assert(got.distinct.length == got.length, "gate emitted duplicates")
      // at-least-once replay: a re-run batch overwrites its own directory
      val b0 = spark.read.parquet(s"$out/batch-0").select("vec_id")
      graft.queries.Semantic.semGateBatch(
        arrivals.join(b0, Seq("vec_id"), "left_semi"), cents, existingP)
        .filter(col("admitted") === 1)
        .write.mode("overwrite").parquet(s"$out/batch-0")
      assert(survivors().toSet == want && survivors().length == got.length,
        "replayed batch commit must be a no-op on the survivor set")
    } finally existingP.unpersist(blocking = false)
  }

  test("streaming perceptual ingest gate == batch q274 survivors; replay idempotent") {
    // completes stream parity across the gate family: lexical (q255),
    // semantic (q268), perceptual (q274) — arriving media rejected on a
    // dHash near-dup collision with the frozen existing-corpus band index
    import org.apache.spark.sql.types._
    val want = graft.queries.Extensions.q274(spark, sf)
      .filter(col("admitted") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val (w, keptEx0, exHashes0) =
      graft.queries.Extensions.perceptualGateState(spark, sf)
    val keptEx = keptEx0.persist(); val exHashes = exHashes0.persist()
    try {
      // stage the arrival-bucket media as 3 files -> 3 micro-batches
      val arrivals = graft.multimodal.Multimodal.ppmFromDocuments(
        Tables.parallelized(Tables.load(spark, sf, "documents")
          .filter(graft.functions.TextFunctions
            .hashBucket(col("doc_id"), 10) === 0)))
      val landing =
        java.nio.file.Files.createTempDirectory("pgate_landing").toString
      arrivals.withColumn("g", col("media_id") % 3)
        .repartition(3, col("g")).drop("g")
        .write.mode("overwrite").parquet(landing)
      val schema = StructType(Seq(StructField("media_id", LongType),
        StructField("kind", StringType), StructField("payload", BinaryType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val out = java.nio.file.Files.createTempDirectory("pgate_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("pgate_ckpt").toString
      val q = graft.queries.Extensions.perceptualGateStream(
        spark, w, keptEx, exHashes, stream, out, ckpt)
      try q.processAllAvailable() finally q.stop()
      def survivors(): Seq[Long] = spark.read.parquet(s"$out/batch-*")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val got = survivors()
      assert(got.toSet == want, "gated stream diverges from the batch twin")
      assert(got.distinct.length == got.length, "gate emitted duplicates")
      // at-least-once replay: a re-run batch overwrites its own directory
      val b0 = spark.read.parquet(s"$out/batch-0")
        .select(col("doc_id").as("media_id"))
      graft.queries.Extensions.perceptualGateBatch(
        arrivals.join(b0, Seq("media_id"), "left_semi"), w, keptEx, exHashes)
        .filter(col("admitted") === 1)
        .write.mode("overwrite").parquet(s"$out/batch-0")
      assert(survivors().toSet == want && survivors().length == got.length,
        "replayed batch commit must be a no-op on the survivor set")
    } finally {
      keptEx.unpersist(blocking = false)
      exHashes.unpersist(blocking = false)
    }
  }

  test("streaming CUSUM maintenance: merged hourly digests == batch q283; replay idempotent") {
    // the operational leg of q283: the stream appends per-batch hourly
    // count digests (the mergeable object); the detector assembles
    // merge-on-read — never an event rescan, never a re-run over history
    import org.apache.spark.sql.types._
    import graft.queries.Stats
    val want = Stats.q283(spark, sf).collect().map(_.toSeq).toSeq
    val events = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "event_type")
    val landing = java.nio.file.Files.createTempDirectory("cusum_landing").toString
    (0 until 3).foreach { g =>
      events.filter(col("event_id") % 3 === g).coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("cusum_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cusum_ckpt").toString
    val q = Stats.cusumStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Stats.cusumReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read CUSUM diverges from the batch q283 report")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — the report is unchanged
    events.filter(col("event_id") % 3 === 0)
      .select(expr("unix_millis(ts) div 3600000").as("hour"),
        col("event_type"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed hourly digest must be a no-op")
  }

  test("streaming k-core maintenance: merged edge digests == batch q275; replay idempotent") {
    // the operational leg of q275 (r14 VERDICT #7): the stream appends
    // per-batch DISTINCT-EDGE digests — the set union is the exact merge
    // for simple-graph coreness (degree counts are NOT additive across
    // batches when an edge recurs) — and the peel runs merge-on-read,
    // never a source rescan
    import org.apache.spark.sql.types._
    import graft.queries.Graph
    val want = Graph.q275(spark, sf).collect().map(_.toSeq).toSeq
    // the same adjacency edges q275 derives, staged as 3 path-ordered
    // single-file groups -> 3 micro-batches; groups OVERLAP in edges
    // (split by src % 3 of the undirected pair's endpoints would not, so
    // split by a hash of the pair plus re-deliver group 0's edges into
    // group 1 to exercise the cross-batch dedup)
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_linenumber").as("ln"),
        col("l_partkey").as("pk"))
    val nxt = org.apache.spark.sql.expressions.Window
      .partitionBy("okey").orderBy(col("ln"), col("pk"))
    val edges = li.withColumn("dst", lead("pk", 1).over(nxt))
      .filter(col("dst").isNotNull && col("dst") =!= col("pk"))
      .select(col("pk").as("src"), col("dst")).distinct()
    val landing = java.nio.file.Files.createTempDirectory("kcore_landing").toString
    (0 until 3).foreach { g =>
      val grp = edges.filter(
        graft.functions.TextFunctions.hashBucket(
          concat_ws(":", col("src"), col("dst")), 3) === g)
      val withDup = if (g == 1)
        grp.unionByName(edges.filter(
          graft.functions.TextFunctions.hashBucket(
            concat_ws(":", col("src"), col("dst")), 3) === 0).limit(50))
      else grp
      withDup.coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("kcore_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kcore_ckpt").toString
    val q = Graph.kcoreEdgeDigestStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Graph.kCoreReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read k-core census diverges from the batch q275")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — the census is unchanged
    spark.read.parquet(s"$landing/g0")
      .filter(col("src") =!= col("dst")).distinct()
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed edge digest must be a no-op")
  }

  test("streaming MV maintenance: signed delta digests net to batch q297 across batches; replay idempotent") {
    // the operational leg of q297: the stream carries a signed CDC ledger
    // and the rollup assembles merge-on-read. The staging deliberately
    // puts every RETRACTION row in the LAST micro-batch, so the digest
    // store holds transiently NEGATIVE cells that only net out at read —
    // the property the signed merge exists for
    import org.apache.spark.sql.types._
    import graft.queries.Maintenance
    val want = Maintenance.q297(spark, sf).collect().map(_.toSeq).toSeq
    val o = Tables.load(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderstatus").as("status"),
      expr("cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint)")
        .as("ym"),
      expr("unix_millis(o_orderdate) div 86400000").as("day"),
      expr("cast(floor(o_totalprice * 100.0) as bigint)").as("cents"))
    val ledger = Maintenance.mvSignedLedger(o)
    val landing = java.nio.file.Files.createTempDirectory("mv_landing").toString
    // groups 0/1: the +1 rows split by key; group 2: ALL -1 rows
    (0 until 3).foreach { g =>
      val grp = if (g < 2)
        ledger.filter(col("sign") === 1L && col("o_orderkey") % 2 === g)
      else ledger.filter(col("sign") === -1L)
      grp.select("sign", "ym", "status", "cents").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("sign", LongType),
      StructField("ym", LongType), StructField("status", StringType),
      StructField("cents", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("mv_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mv_ckpt").toString
    val q = Maintenance.mvDeltaStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    // the retraction batch's digest must hold NEGATIVE cells on its own
    val retr = spark.read.parquet(s"$out/batch-2")
    assert(retr.filter(col("n") < 0).count() > 0,
      "the retraction-only batch must digest to negative cells")
    def merged(): Seq[Seq[Any]] = Maintenance.mvReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read rollup diverges from the batch q297")
    // at-least-once replay
    Maintenance.mvDigest(
      ledger.filter(col("sign") === 1L && col("o_orderkey") % 2 === 0)
        .select("sign", "ym", "status", "cents"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed signed digest must be a no-op")
  }

  test("streaming count-min maintenance: merged count digests == batch q299; replay idempotent") {
    // the operational leg of q299: per-batch (user_id, n) count digests
    // sum on read — the sketch and its exact-audit side both derive from
    // the merged counts, never an event rescan
    import org.apache.spark.sql.types._
    import graft.queries.Maintenance
    val want = Maintenance.q299(spark, sf).collect().map(_.toSeq).toSeq
    val events = Tables.load(spark, sf, "events").select("event_id", "user_id")
    val landing = java.nio.file.Files.createTempDirectory("cm_landing").toString
    (0 until 3).foreach { g =>
      events.filter(col("event_id") % 3 === g).coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("cm_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cm_ckpt").toString
    val q = Maintenance.countMinStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Maintenance.countMinReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read count-min audit diverges from the batch q299")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — the audit is unchanged
    events.filter(col("event_id") % 3 === 0)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed count digest must be a no-op")
  }

  test("streaming eval metrics: merged score cells == batch q140 AUC and q308 AP; replay idempotent") {
    // the streaming-model-monitoring leg: per-batch (grp, score, np, nn)
    // count cells sum on read, and BOTH ranking metrics (ROC-AUC and AP)
    // assemble merge-on-read from the same merged histogram — one
    // persisted object serves the whole classifier-metric pair
    import org.apache.spark.sql.types._
    import graft.queries.Evaluation
    val wantAuc = Evaluation.q140(spark, sf).collect().map(_.toSeq).toSeq
    val wantAp = Evaluation.q308(spark, sf).collect().map(_.toSeq).toSeq
    val scored = Tables.parallelized(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), col("source").as("grp"),
        col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val landing = java.nio.file.Files.createTempDirectory("ev_landing").toString
    (0 until 3).foreach { g =>
      scored.filter(col("doc_id") % 3 === g).coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("grp", StringType), StructField("score", LongType),
      StructField("pos", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("ev_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ev_ckpt").toString
    val q = Evaluation.scoreCellStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def gotAuc(): Seq[Seq[Any]] = Evaluation.aucReadMerged(spark,
        Seq(s"$out/batch-*"))
      .withColumnRenamed("grp", "source").orderBy("source")
      .collect().map(_.toSeq).toSeq
    def gotAp(): Seq[Seq[Any]] = Evaluation.apReadMerged(spark,
        Seq(s"$out/batch-*"))
      .withColumnRenamed("grp", "source").orderBy("source")
      .collect().map(_.toSeq).toSeq
    assert(gotAuc() == wantAuc,
      "merge-on-read AUC diverges from the batch q140")
    assert(gotAp() == wantAp,
      "merge-on-read AP diverges from the batch q308")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — both metrics unchanged
    scored.filter(col("doc_id") % 3 === 0)
      .groupBy("grp", "score")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(gotAuc() == wantAuc && gotAp() == wantAp,
      "replayed score-cell digest must be a no-op")
  }

  test("streaming W1 drift: merged length-histogram cells == batch q303; replay idempotent") {
    // the operational leg of q303: per-batch (source, n_chars) count cells
    // sum on read; BOTH sides of the distance (source CDF and corpus CDF)
    // recompute from the merged cells, so no batch order can skew the
    // reference distribution
    import org.apache.spark.sql.types._
    import graft.queries.Valuation
    val want = Valuation.q303(spark, sf).collect().map(_.toSeq).toSeq
    val docs = Tables.parallelized(Tables.load(spark, sf, "documents"))
      .select("doc_id", "source", "n_chars")
    val landing = java.nio.file.Files.createTempDirectory("w1_landing").toString
    (0 until 3).foreach { g =>
      docs.filter(col("doc_id") % 3 === g).coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("w1_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("w1_ckpt").toString
    val q = Valuation.w1Stream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Valuation.w1ReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read W1 drift diverges from the batch q303")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — the drift audit is unchanged
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("source"), col("n_chars").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed cell digest must be a no-op")
  }

  test("streaming Bloom maintenance: merged doc digests == batch q300; replay idempotent") {
    // the operational leg of q300: doc-grain fingerprint digests union +
    // distinct on read; the ADAPTIVE filter width recomputes from the
    // merged known count, which is why the doc digest (not the word
    // table) is the persisted object
    import org.apache.spark.sql.types._
    import graft.queries.Maintenance
    val want = Maintenance.q300(spark, sf).collect().map(_.toSeq).toSeq
    val docs = Tables.parallelized(Tables.load(spark, sf, "documents"))
      .select("doc_id", "source", "text")
    val landing = java.nio.file.Files.createTempDirectory("bf_landing").toString
    (0 until 3).foreach { g =>
      // overlapping groups: group 1 re-delivers 10 of group 0's docs, so
      // the cross-batch distinct is exercised
      val grp = docs.filter(col("doc_id") % 3 === g)
      val withDup = if (g == 1)
        grp.unionByName(docs.filter(col("doc_id") % 3 === 0).limit(10))
      else grp
      withDup.coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
      new java.io.File(s"$landing/g$g").listFiles()
        .foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("bf_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bf_ckpt").toString
    val q = Maintenance.bloomStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Maintenance.bloomReadMerged(spark,
      Seq(s"$out/batch-*")).collect().map(_.toSeq).toSeq
    assert(merged() == want,
      "merge-on-read Bloom gate diverges from the batch q300")
    // at-least-once replay
    Maintenance.bloomDigest(docs.filter(col("doc_id") % 3 === 0))
      .write.mode("overwrite").parquet(s"$out/batch-0")
    assert(merged() == want, "replayed doc digest must be a no-op")
  }

  test("streaming card maintenance: merged digests == batch q277 card; replay idempotent") {
    // the operational leg of q277: base digest persisted once, each
    // micro-batch digested to a batch-stamped dir, card assembled
    // merge-on-read — the hash-gated q277 algebra, run over a real stream
    import org.apache.spark.sql.types._
    import graft.queries.Advanced
    val want = Advanced.q277(spark, sf).collect().map(_.toSeq).toSeq
    val docs = Tables.parallelized(Tables.load(spark, sf, "documents"))
      .withColumn("is_new",
        graft.functions.TextFunctions.hashBucket(col("doc_id"), 10) === 0)
    val baseDir = java.nio.file.Files.createTempDirectory("card_base").toString
    Advanced.cardDigestWrite(baseDir, Advanced.cardDigest(
      Advanced.cardDocFrame(docs.filter(!col("is_new"))), isDelta = false))
    // stage the arrival bucket as 3 files -> 3 micro-batches
    val arrivals = docs.filter(col("is_new"))
      .select("doc_id", "source", "text")
    val landing = java.nio.file.Files.createTempDirectory("card_landing").toString
    // one single-file dir per doc_id%3 group, path-ordered so micro-batch i
    // processes group i (the index-ingest staging shape) — the replay below
    // re-digests group 0 into batch-0's directory
    (0 until 3).foreach { g =>
      arrivals.filter(col("doc_id") % 3 === g).coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/g$g")
    }
    // FileStreamSource orders by modification time — pin strictly
    // increasing mtimes so micro-batch i deterministically processes
    // group i (the replay below re-digests group 0 into batch-0)
    (0 until 3).foreach { g =>
      val dir = new java.io.File(s"$landing/g$g")
      dir.listFiles().foreach(f => f.setLastModified(1000000L * (g + 1)))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/g*")
    val out = java.nio.file.Files.createTempDirectory("card_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("card_ckpt").toString
    val q = Advanced.cardStream(spark, stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def merged(): Seq[Seq[Any]] = Advanced.cardReadMerged(spark,
      Seq(baseDir, s"$out/batch-*")).collect().map(_.toSeq).toSeq
    val got = merged()
    assert(got == want, "merge-on-read card diverges from the batch q277 card")
    // at-least-once replay: re-digesting a committed batch overwrites its
    // own directory — the card is unchanged
    val b0docs = arrivals.filter(col("doc_id") % 3 === 0)
    Advanced.cardDigestWrite(s"$out/batch-0", Advanced.cardDigest(
      Advanced.cardDocFrame(b0docs), isDelta = true))
    assert(merged() == want, "replayed batch digest must be a no-op")
  }

  test("streaming index ingest == batch build: per-micro-batch frozen-model appends") {
    import graft.ann.{PortableAnn, PortableIvfPqIndex}
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range) = ids.map { id =>
      val qv = Seq.fill(dim)((rnd.nextInt(11) - 5).toLong)
      (id.toLong, qv, qv.map(x => x * x).sum)
    }
    val base = vecs(0 until 30)
    val arrivals = vecs(30 until 60)
    val idx = java.nio.file.Files.createTempDirectory("pivfpq_stream").toString
    val model = PortableAnn.ivfPqTrainInt(
      base.toDF("vec_id", "qv", "nrm"), dim, nClusters = 4, m = 4, k = 4,
      iters = 1)
    PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(base.toDF("vec_id", "qv", "nrm"), model), idx)
    // stage the arrivals as 3 parquet files -> 3 micro-batches
    val landing = java.nio.file.Files.createTempDirectory("vec_landing").toString
    arrivals.grouped(10).zipWithIndex.foreach { case (g, i) =>
      g.toDF("vec_id", "qv", "nrm").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/batch$i")
    }
    val schema = base.toDF("vec_id", "qv", "nrm").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$landing/batch*")
    val ckpt = java.nio.file.Files.createTempDirectory("vec_ckpt").toString
    val q = PortableIvfPqIndex.appendStream(spark, idx, stream, ckpt)
    try q.processAllAvailable() finally q.stop()
    val disk = PortableIvfPqIndex.codesFrame(spark, idx)
      .select("vec_id", "cid", "codes")
    val expect = PortableAnn.encodeIvfPq(
      (base ++ arrivals).toDF("vec_id", "qv", "nrm"), model)
      .select("vec_id", "cid", "codes")
    assert(disk.count() == 60, s"expected 60 rows, got ${disk.count()}")
    assert(disk.exceptAll(expect).isEmpty && expect.exceptAll(disk).isEmpty,
      "stream-ingested codes diverge from the batch build")

    // EXACTLY-ONCE under retry: replay an already-committed batch (the
    // foreachBatch at-least-once window) — the ledger marker must make it
    // a no-op, zero duplicate rows
    val ledger = s"$ckpt/_ingest_ledger"
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, ledger,
      arrivals.take(10).toDF("vec_id", "qv", "nrm"), batchId = 0L)
    assert(PortableIvfPqIndex.codesFrame(spark, idx).count() == 60,
      "replaying a committed batch duplicated rows")

    // crash-resume: a batch staged to completion (its _SUCCESS written)
    // whose moves and marker never ran — the commit must RESUME the staged
    // files, land the rows exactly once, and a second replay stays a no-op
    val late = vecs(60 until 70)
    PortableAnn.encodeIvfPq(late.toDF("vec_id", "qv", "nrm"), model)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$idx/codes.ingest-7")
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, ledger,
      late.toDF("vec_id", "qv", "nrm"), batchId = 7L)
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, ledger,
      late.toDF("vec_id", "qv", "nrm"), batchId = 7L)
    val after = PortableIvfPqIndex.codesFrame(spark, idx)
    assert(after.count() == 70,
      s"crash-resume must land the staged batch exactly once, got ${after.count()}")
    val expect70 = PortableAnn.encodeIvfPq(
      (base ++ arrivals ++ late).toDF("vec_id", "qv", "nrm"), model)
      .select("vec_id", "cid", "codes")
    val got70 = after.select("vec_id", "cid", "codes")
    assert(got70.exceptAll(expect70).isEmpty && expect70.exceptAll(got70).isEmpty,
      "resumed commit diverges from the frozen-model encode")

    // staging-dir hygiene on committed replay (r12 ADVICE #1): a crash
    // between the ledger-marker touch and the final staging delete leaks
    // codes.ingest-<id> forever — the replay path must finish the cleanup
    val stray = new org.apache.hadoop.fs.Path(s"$idx/codes.ingest-7")
    val fsys = stray.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.mkdirs(stray) // simulate the leaked staging dir
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, ledger,
      late.toDF("vec_id", "qv", "nrm"), batchId = 7L)
    assert(!fsys.exists(stray),
      "committed-batch replay must clean up a leaked staging dir")
    assert(PortableIvfPqIndex.codesFrame(spark, idx).count() == 70,
      "cleanup replay must stay a data no-op")

    // checkpoint-RESET contract (r12 VERDICT #4): a FRESH ledger (the user
    // wiped the checkpoint but kept the index) restarts batchIds at 0 —
    // the identity handshake must FAIL FAST instead of silently no-opping
    // a new batch 0 against the old committed one
    val freshLedger = java.nio.file.Files
      .createTempDirectory("vec_ckpt_reset").toString + "/_ingest_ledger"
    val lateB = vecs(70 until 75)
    val clash = intercept[IllegalStateException] {
      PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, freshLedger,
        lateB.toDF("vec_id", "qv", "nrm"), batchId = 0L)
    }
    assert(clash.getMessage.contains("checkpoint was reset"),
      s"reset refusal must explain itself: ${clash.getMessage}")
    assert(PortableIvfPqIndex.codesFrame(spark, idx).count() == 70,
      "refused reset batch must not have landed rows")
    // the documented re-bind escape hatch: drop the index's binding, the
    // fresh ledger is adopted and its batches commit exactly-once again
    val bind = new org.apache.hadoop.fs.Path(s"$idx/_stream_ledger_id")
    fsys.delete(bind, false)
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, freshLedger,
      lateB.toDF("vec_id", "qv", "nrm"), batchId = 0L)
    PortableIvfPqIndex.appendBatchExactlyOnce(spark, idx, freshLedger,
      lateB.toDF("vec_id", "qv", "nrm"), batchId = 0L)
    assert(PortableIvfPqIndex.codesFrame(spark, idx).count() == 75,
      "re-bound ledger must commit exactly once")
  }
}
