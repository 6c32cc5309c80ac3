package graft

import java.sql.Timestamp
import graft.streaming.{Event, EventStreams, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
  private def tsAt(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("q30 streaming windowed agg with watermark matches the batch equivalent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, tsAt(10, 5), 1, "click", 1.0),
      Event(2, tsAt(10, 40), 1, "click", 2.0),
      Event(3, tsAt(10, 55), 2, "view", 3.0),
      Event(4, tsAt(11, 10), 2, "click", 4.0),
      Event(5, tsAt(12, 30), 1, "view", 5.0))
    val stream = MemoryStream[Event]
    val q = EventStreams.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("q30_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events.take(3)); q.processAllAvailable()
      stream.addData(events.drop(3)); q.processAllAvailable()
      // advance the watermark far enough to close and emit every window
      stream.addData(Event(99, tsAt(23, 0), 9, "tick", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("q30_out")
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = EventStreams.windowedCounts(events.toDF())
      .orderBy("w_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getAs[Long]("cnt")).sum == events.length)
  }

  test("q31 streaming sessionization emits the sessions the batch form computes") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // user 1: two sessions (40-min gap); user 2: one session. No
    // same-user closer events: the open sessions must flush via the
    // EventTimeTimeout when a DIFFERENT user's events advance the
    // watermark past the gap boundary.
    val history = Seq(
      Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0),
      Event(3, ts(55), 1, "a", 3.0),
      Event(4, ts(5), 2, "b", 4.0), Event(5, ts(20), 2, "b", 5.0))
    val tick1 = Event(6, Timestamp.valueOf("2024-01-02 09:00:00"), 9, "t", 0.0)
    val tick2 = Event(7, Timestamp.valueOf("2024-01-02 11:00:00"), 9, "t", 0.0)

    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("q31_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(history); q.processAllAvailable()
      stream.addData(tick1); q.processAllAvailable() // advances watermark
      stream.addData(tick2); q.processAllAvailable() // timeouts fire
    } finally q.stop()
    val streamed = spark.table("q31_out").as[Session].collect()
      .filter(_.user_id != 9)
      .sortBy(s => (s.user_id, s.session_start.getTime))

    val batch = EventStreams.sessionizeBatch(history.toDF())
      .orderBy("user_id", "session_seq")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
      .map(t => Session(t._1, t._2, t._3, t._4, t._5))
    assert(streamed.toSeq == batch.toSeq)
    // the 40-min gap split user 1 into two sessions
    assert(streamed.count(_.user_id == 1) == 2)
  }

  test("late-but-within-watermark event moves session_start backwards like batch") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("q31_late")
      .outputMode(OutputMode.Append).start()
    val events = Seq(
      Event(1, ts(30), 1, "a", 1.0), // trigger 1: session opens at 10:30
      Event(2, ts(21), 1, "a", 2.0)) // trigger 2: LATE event at 10:21
    try {
      stream.addData(events.head); q.processAllAvailable()
      stream.addData(events(1)); q.processAllAvailable()
      // close via watermark: far-future ticks from another user
      stream.addData(Event(3, Timestamp.valueOf("2024-01-02 09:00:00"), 9, "t", 0.0))
      q.processAllAvailable()
      stream.addData(Event(4, Timestamp.valueOf("2024-01-02 11:00:00"), 9, "t", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val sess = spark.table("q31_late").as[Session].collect().filter(_.user_id == 1)
    assert(sess.length == 1)
    assert(sess.head.session_start == ts(21), "late event must extend session start backwards")
    assert(sess.head.session_end == ts(30))
    assert(sess.head.n_events == 2)
  }

  test("sessionization under the RocksDB state store matches the batch form") {
    // at 100 TB the sessionization state (one open session per active
    // user) outgrows executor heap; RocksDBStateStoreProvider spills it
    // to local disk with changelog checkpointing. The operator code is
    // UNCHANGED — only the provider conf — and results must be
    // bit-identical to the default in-memory provider / the batch form.
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val history = Seq(
        Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0),
        Event(3, ts(55), 1, "a", 3.0),
        Event(4, ts(5), 2, "b", 4.0), Event(5, ts(20), 2, "b", 5.0))
      val stream = MemoryStream[Event]
      val q = EventStreams.sessionize(stream.toDS())
        .writeStream.format("memory").queryName("q31_rocks")
        .outputMode(OutputMode.Append).start()
      try {
        stream.addData(history); q.processAllAvailable()
        stream.addData(Event(6, Timestamp.valueOf("2024-01-02 09:00:00"), 9, "t", 0.0))
        q.processAllAvailable()
        stream.addData(Event(7, Timestamp.valueOf("2024-01-02 11:00:00"), 9, "t", 0.0))
        q.processAllAvailable()
        // RocksDB really is the store backing the stateful operator:
        // its custom metrics only exist under that provider
        val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
        assert(metrics.toString.contains("rocksdb"),
          s"expected rocksdb state metrics, got $metrics")
      } finally q.stop()
      val streamed = spark.table("q31_rocks").as[Session].collect()
        .filter(_.user_id != 9)
        .sortBy(x => (x.user_id, x.session_start.getTime))
      val batch = EventStreams.sessionizeBatch(history.toDF())
        .orderBy("user_id", "session_seq")
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .map(t => Session(t._1, t._2, t._3, t._4, t._5))
      assert(streamed.toSeq == batch.toSeq)
    }
  }

  test("q32 streaming dedup (within-watermark) matches batch first-event-per-key") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // duplicates arrive in event-time order, across trigger boundaries
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(2), 1, "click", 2.0), // dup of (1, click)
      Event(3, ts(3), 2, "view", 3.0),
      Event(4, ts(5), 1, "click", 4.0), // dup again, later trigger
      Event(5, ts(6), 2, "click", 5.0),
      Event(6, ts(8), 2, "view", 6.0)) // dup of (2, view)
    val stream = MemoryStream[Event]
    val q = EventStreams.dedupKeyed(stream.toDF())
      .writeStream.format("memory").queryName("q32_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events.take(3)); q.processAllAvailable()
      stream.addData(events.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("q32_out")
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
        col("ts").as("first_ts"), col("value").as("first_value"))
      .orderBy("user_id", "event_type").collect().toSeq
    val batch = EventStreams.firstEventPerKey(events.toDF())
      .orderBy("user_id", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.length == 3) // 3 distinct keys; 3 duplicate arrivals suppressed
  }

  test("q38 stream-stream interval join matches the batch join once watermarks pass") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = Seq(
      Event(1, ts(0), 1, "click", 0.0),
      Event(2, ts(30), 1, "click", 0.0),
      Event(3, ts(10), 2, "click", 0.0))
    val purchases = Seq(
      Event(11, ts(20), 1, "purchase", 5.0), // joins clicks 1 and 2? no — 20 < 30, joins click 1 only
      Event(12, ts(45), 1, "purchase", 7.0), // joins clicks 1 (45m < 60m) and 2
      Event(13, tsAt(12, 0), 2, "purchase", 9.0)) // 110min after click 3 — outside window
    val cs = MemoryStream[Event]
    val ps = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(cs.toDF(), ps.toDF())
      .writeStream.format("memory").queryName("q38_out")
      .outputMode(OutputMode.Append).start()
    try {
      cs.addData(clicks.take(2)); ps.addData(purchases.take(1)); q.processAllAvailable()
      cs.addData(clicks.drop(2)); ps.addData(purchases.drop(1)); q.processAllAvailable()
      // push both watermarks far forward so every joinable pair emits
      cs.addData(Event(98, tsAt(23, 0), 9, "click", 0.0))
      ps.addData(Event(99, tsAt(23, 30), 9, "purchase", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("q38_out").filter(col("user_id") =!= 9)
      .orderBy("click_id", "purchase_ts").collect().toSeq
    val batch = EventStreams.clickPurchaseJoin(
      clicks.toDF(), purchases.toDF())
      .orderBy("click_id", "purchase_ts").collect().toSeq
    assert(streamed == batch)
    // click 1 pairs with purchases 11+12, click 2 with 12, click 3 with none
    assert(streamed.map(_.getAs[Long]("click_id")) == Seq(1L, 1L, 2L))
  }

  test("q44 capped attribution join bounds output to k per click, WindowGroupLimit in plan") {
    import spark.implicits._
    val clicks = Seq(Event(1, ts(0), 1, "click", 0.0))
    // five purchases inside click 1's window — only the first
    // AttributionCap survive, ranked by (ts, event_id)
    val purchases = (11 to 15).map(i => Event(i, ts(i - 9), 1, "purchase", i.toDouble))
    val capped = EventStreams.clickPurchaseJoinCapped(clicks.toDF(), purchases.toDF())
    val rows = capped.orderBy("attr_rank").collect()
    assert(rows.length == EventStreams.AttributionCap)
    assert(rows.map(_.getAs[Long]("purchase_id")).toSeq == Seq(11L, 12L, 13L))
    val plan = capped.queryExecution.executedPlan.toString()
    assert(plan.contains("WindowGroupLimit"),
      s"cap must prune map-side before the rank exchange:\n$plan")
  }

  test("q36 stream-static enrichment matches the batch join, dimension broadcast") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
    val events = Seq(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "view", 2.0),
      Event(3, ts(3), 1, "click", 3.0),
      Event(4, ts(4), 3, "purchase", 4.0))
    val stream = MemoryStream[Event]
    val q = EventStreams.enrichedCounts(stream.toDF(), customers)
      .writeStream.format("memory").queryName("q36_out")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(events.take(2)); q.processAllAvailable()
      stream.addData(events.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("q36_out")
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    val batch = EventStreams.enrichedCounts(events.toDF(), customers)
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    assert(streamed == batch)
    val plan = EventStreams.enrichedCounts(events.toDF(), customers)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$plan")
  }

  test("file source -> windowed agg -> file sink with checkpoint recovers batch results") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val batch1 = Seq(
      Event(1, tsAt(10, 5), 1, "click", 1.0), Event(2, tsAt(10, 40), 1, "click", 2.0),
      Event(3, tsAt(10, 55), 2, "view", 3.0))
    val batch2 = Seq(
      Event(4, tsAt(11, 10), 2, "click", 4.0),
      Event(5, tsAt(23, 0), 9, "tick", 0.0)) // advances watermark past hour 11

    batch1.toDF().write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(batch1.toDF().schema).parquet(srcDir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      batch2.toDF().write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()

    // append file sink only contains CLOSED windows (watermark passed);
    // they must match the batch computation over the same closed range
    val sunk = spark.read.parquet(outDir)
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "event_type").collect().toSeq
    val batchEq = EventStreams.windowedCounts((batch1 ++ batch2).toDF())
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "event_type").collect().toSeq
    assert(sunk == batchEq)
    assert(sunk.nonEmpty)
  }

  test("q45 trending: foreachBatch ranking over closed windows matches the batch form") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // two windows with distinct top-3s; a window's rows all close in
    // the same trigger (the watermark passes its end once), so ranking
    // inside foreachBatch sees every contender of that window
    val events = Seq(
      Event(1, tsAt(10, 5), 1, "click", 1.0), Event(2, tsAt(10, 10), 2, "click", 1.0),
      Event(3, tsAt(10, 15), 3, "view", 1.0), Event(4, tsAt(10, 20), 4, "view", 1.0),
      Event(5, tsAt(10, 25), 5, "view", 1.0), Event(6, tsAt(10, 30), 6, "buy", 1.0),
      Event(7, tsAt(10, 35), 7, "scroll", 1.0),
      Event(8, tsAt(11, 5), 1, "buy", 1.0), Event(9, tsAt(11, 10), 2, "buy", 1.0),
      Event(10, tsAt(11, 15), 3, "click", 1.0))
    val tick = Event(99, tsAt(23, 0), 9, "tick", 0.0)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, String, Long, Int)]
    val stream = MemoryStream[Event]
    val q = EventStreams.windowedCounts(stream.toDS().toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        EventStreams.trendingOf(batch).collect().foreach(r =>
          sunk += ((r.getTimestamp(0), r.getString(2), r.getLong(3), r.getInt(4))))
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events); q.processAllAvailable()
      stream.addData(tick); q.processAllAvailable() // closes both windows
    } finally q.stop()
    val streamed = sunk.filter(_._2 != "tick").sortBy(x => (x._1.getTime, x._4)).toSeq
    val batchEq = EventStreams.trending(events.toDF())
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "rank")
      .select("w_start", "event_type", "cnt", "rank")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(streamed == batchEq)
    // window 10:00 really ranked: 3 views > 2 clicks > 1 buy (scroll cut)
    assert(streamed.take(3).map(_._2) == Seq("view", "click", "buy"))
  }

  test("restart from the same checkpoint is exactly-once across the stop/start boundary") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val batch1 = Seq(
      Event(1, tsAt(10, 5), 1, "click", 1.0), Event(2, tsAt(10, 40), 1, "click", 2.0),
      Event(3, tsAt(10, 55), 2, "view", 3.0))
    val batch2 = Seq(
      Event(4, tsAt(11, 10), 2, "click", 4.0),
      Event(5, tsAt(23, 0), 9, "tick", 0.0))
    def start() = {
      val stream = spark.readStream.schema(batch1.toDF().schema).parquet(srcDir)
      EventStreams.windowedCounts(stream)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    }
    // first incarnation processes batch1, then DIES (stop simulates it)
    batch1.toDF().write.mode("append").parquet(srcDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // second incarnation resumes from the checkpoint: watermark state
    // and source offsets carry over; batch1 must NOT be re-emitted
    batch2.toDF().write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val sunk = spark.read.parquet(outDir)
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "event_type").collect().toSeq
    val batchEq = EventStreams.windowedCounts((batch1 ++ batch2).toDF())
      .filter(col("event_type") =!= "tick")
      .orderBy("w_start", "event_type").collect().toSeq
    assert(sunk == batchEq, "restart duplicated or dropped window output")
    assert(sunk.nonEmpty)
  }

  test("idempotent foreachBatch sink: replaying a batch id leaves the table unchanged") {
    import spark.implicits._
    // the exactly-once recipe for arbitrary sinks: key the write on
    // batchId and make it a dynamic partition OVERWRITE — a replayed
    // batch (crash between sink write and checkpoint commit) rewrites
    // its own partition instead of appending duplicates
    val dir = java.nio.file.Files.createTempDirectory("graft_febatch").toString + "/t"
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    sink(b0, 0); sink(b1, 1)
    sink(b1, 1) // replay after a simulated crash
    val rows = spark.read.parquet(dir)
    assert(rows.count() == 3, "replayed batch appended duplicates")
    assert(rows.filter(col("batch_id") === 1).count() == 1)
    // and batch 0's partition was untouched by batch 1's overwrite
    assert(rows.filter(col("batch_id") === 0).count() == 2)
  }

  test("the text operators run unchanged on a stream (batch/stream unification)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.functions.TextFunctions._
    // the same column expressions used by t02/t05 applied to a readStream
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      piiRedact(col("text")).as("clean_text"),
      wsTokenCount(col("text")).as("n_words"),
      fingerprint(col("text")).as("fp"))
    val docs = Seq(
      (1L, "contact me at a@b.cd about the fox"),
      (2L, "just plain words here"),
      (3L, "call +1-555-0100 tomorrow"))
    val stream = MemoryStream[(Long, String)]
    val q = pipeline(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("text_stream_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(docs.take(1)); q.processAllAvailable()
      stream.addData(docs.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("text_stream_out").orderBy("doc_id").collect().toSeq
    val batch = pipeline(docs.toDF("doc_id", "text")).orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.exists(_.getAs[String]("clean_text").contains("<EMAIL>")))
    assert(streamed.exists(_.getAs[String]("clean_text").contains("<PHONE>")))
  }

  test("streaming ingest gate: stateless bloom admit equals the batch form, drops true dups") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    val history = all.filter(col("doc_id") % 2 === 0)
    val arriving = all.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // the index bloom: built ONCE in batch from the stored LSH bands
    val bloom = graft.functions.BloomFilters.bloomBytesOf(
      Dedup.bandedBuckets(history).select("bh").distinct(), "bh")
    val stream = MemoryStream[(Long, String)]
    val q = Dedup.streamAdmitGate(stream.toDF().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(arriving.take(arriving.length / 2)); q.processAllAvailable()
      stream.addData(arriving.drop(arriving.length / 2)); q.processAllAvailable()
      // the gate is a pure map-side filter: the stream holds ZERO state
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
        "the stateless gate must not create a state operator")
    } finally q.stop()
    val streamed = spark.table("gate_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = Dedup.streamAdmitGate(
      arriving.toDF("doc_id", "text"), bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "streamed admit must equal the batch form")
    // soundness: no false negatives in the bloom → every TRUE band
    // collision with history is dropped (admitted ⊆ exact keep set)
    val exactKeep = Dedup.bandHashArray(arriving.toDF("doc_id", "text"))
      .select(col("doc_id"), explode(col("bhs")).as("bh")).as("n")
      .join(Dedup.bandedBuckets(history).select("bh").distinct().as("h"), "bh")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.intersect(exactKeep).isEmpty,
      "a doc with a true index collision slipped through the gate")
    assert(streamed.nonEmpty, "the gate admitted nothing — degenerate fixture")
  }

  test("simhash ingest gate: stateless prefix-bloom admit equals batch, drops true near-dups") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    val history = all.filter(col("doc_id") % 2 === 0)
    val arriving = all.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // the gate bloom: the stored signature index's OCCUPIED prefix
    // buckets, built once in batch (at most 2^16 keys)
    val bloom = graft.functions.BloomFilters.bloomBytesOf(
      Dedup.simhashIndexPrefixes(Dedup.simhashed(history)), "prefix")
    val stream = MemoryStream[(Long, String)]
    val q = Dedup.simhashStreamAdmitGate(stream.toDF().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("simhash_gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(arriving.take(arriving.length / 2)); q.processAllAvailable()
      stream.addData(arriving.drop(arriving.length / 2)); q.processAllAvailable()
      // the gate is a pure map-side filter: the stream holds ZERO state
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
        "the stateless simhash gate must not create a state operator")
    } finally q.stop()
    val streamed = spark.table("simhash_gate_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = Dedup.simhashStreamAdmitGate(
      arriving.toDF("doc_id", "text"), bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "streamed admit must equal the batch form")
    // soundness for the d03/d18 criterion: it REQUIRES prefix equality,
    // so every arriving doc whose prefix bucket is occupied in the
    // index — a superset of the true history near-dups — MUST be
    // dropped (blooms never false-negate)
    val historyCollisions = {
      val bs = Dedup.simhashArray(arriving.toDF("doc_id", "text"))
        .filter(col("simhash").isNotNull)
        .select(col("doc_id"), Dedup.simhashPrefixOf(col("simhash")).as("p"))
      val hp = Dedup.simhashIndexPrefixes(Dedup.simhashed(history))
      bs.join(hp, bs("p") === hp("prefix"), "left_semi")
        .collect().map(_.getLong(0)).toSet
    }
    assert(streamed.intersect(historyCollisions).isEmpty,
      "a doc whose prefix bucket is occupied in the index slipped through the gate")
    assert(streamed.nonEmpty, "the gate admitted nothing — degenerate fixture")
    // the fixture genuinely exercises the drop path: the corpus carries
    // planted near-identical docs across the parity split
    assert(historyCollisions.nonEmpty,
      "no history collisions in the fixture — the drop assertion is vacuous")
  }

  test("sessionization state is one open session per user (bounded state)") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("q31_state")
      .outputMode(OutputMode.Append).start()
    try {
      // 50 events, same user, all within the gap: no session may close
      stream.addData((1 to 50).map(i => Event(i, ts(i % 60), 7, "x", 1.0)))
      q.processAllAvailable()
      assert(spark.table("q31_state").count() == 0)
    } finally q.stop()
  }

  test("q47 streaming funnel progress matches the batch fold under in-order arrival") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // u1 completes across two triggers; u2 clicks before viewing (the
    // out-of-order-by-TYPE path — click must not advance until a view
    // exists); u3 stalls at view; u5 has a same-instant view+click
    // (strict > rejects the click, exactly like the batch fold)
    val batch1 = Seq(
      Event(1, ts(0), 1, "view", 0), Event(2, ts(1), 1, "click", 0),
      Event(3, ts(0), 2, "click", 0), Event(4, ts(1), 2, "view", 0),
      Event(5, ts(2), 3, "view", 0),
      Event(6, ts(3), 5, "view", 0), Event(7, ts(3), 5, "click", 0))
    val batch2 = Seq(
      Event(8, ts(10), 1, "purchase", 0),
      Event(9, ts(11), 2, "click", 0))
    val stream = MemoryStream[Event]
    val q = EventStreams.funnelProgress(stream.toDS())
      .writeStream.format("memory").queryName("q47_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val progressed = spark.table("q47_stream").as[graft.streaming.FunnelProgress]
      .collect().toSeq
    // every advance is an immutable fact: stages per user are 1..max
    val byUser = progressed.groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.map(_.stage).sorted }
    assert(byUser == Map(1L -> Seq(1, 2, 3), 2L -> Seq(1, 2), 3L -> Seq(1), 5L -> Seq(1)))
    // and the final stages equal the batch q47 fold over the same events
    val all = (batch1 ++ batch2)
      .map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("funnelstream").toString
    all.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batchCounts = graft.queries.EventQueries.defs("q47_funnel")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val streamCounts = (1 to 3).map(k =>
      k -> byUser.values.count(_.contains(k)).toLong).toMap
    assert(streamCounts == batchCounts)
  }

  test("q47 streaming funnel survives non-advancing events that outlive the idle horizon") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // A stage-1 user keeps emitting 'view' (non-advancing) events whose
    // event times carry the watermark DAYS past the stage-reached time.
    // The timeout must be armed off the user's latest activity (clamped
    // to watermark+1): arming it off the stale stage time threw
    // "timeout timestamp is before the watermark" and killed the query.
    def at(hours: Int) = Timestamp.valueOf(f"2024-01-${1 + hours / 24}%02d ${hours % 24}%02d:00:00")
    val stream = MemoryStream[Event]
    val q = EventStreams.funnelProgress(stream.toDS())
      .writeStream.format("memory").queryName("q47_stall")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(Seq(Event(1, at(0), 1, "view", 0)));  q.processAllAvailable()
      stream.addData(Seq(Event(2, at(30), 1, "view", 0))); q.processAllAvailable()
      // trigger 3 processes with the watermark already past stage-time+24h
      stream.addData(Seq(Event(3, at(40), 1, "view", 0))); q.processAllAvailable()
      // and the funnel must still be able to advance afterwards
      stream.addData(Seq(Event(4, at(41), 1, "click", 0))); q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
    } finally q.stop()
    val got = spark.table("q47_stall").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq((1L, 1), (1L, 2)))
  }

  test("q49 streaming transition steps equal the batch consecutive pairs") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val batch1 = Seq(
      Event(1, ts(0), 1, "A", 0), Event(2, ts(1), 1, "B", 0),
      Event(3, ts(0), 2, "A", 0))
    val batch2 = Seq(
      Event(4, ts(5), 1, "A", 0),   // crosses the trigger boundary: B→A
      Event(5, ts(2), 2, "A", 0))   // A→A for user 2
    val stream = MemoryStream[Event]
    val q = EventStreams.transitionSteps(stream.toDS())
      .writeStream.format("memory").queryName("q49_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("q49_stream")
      .select("user_id", "src", "dst").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    // batch semantics: consecutive pairs per user over the full log
    val all = batch1 ++ batch2
    val want = all.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val sortedE = es.sortBy(e => (e.ts.getTime, e.event_id))
      sortedE.zip(sortedE.drop(1)).map { case (a, b) => (u, a.event_type, b.event_type) }
    }.sorted
    assert(got == want)
  }

  test("q53 streaming anomaly facts equal the batch scores for every closed day") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def dts(day: Int, i: Int): java.sql.Timestamp =
      new java.sql.Timestamp(
        java.time.LocalDate.of(2024, 1, 1 + day)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli + i * 1000L)
    var eid = 0L
    def day(d: Int, n: Int, tpe: String): Seq[Event] =
      (0 until n).map { i => eid += 1; Event(eid, dts(d, i), 1L, tpe, 0.0) }
    // type "a": 7 baseline days (one at 5 for variance), a spike day,
    // then one event to CLOSE the spike day; type "b": constant volume
    // (zero variance -> facts with no verdict)
    val all = (0 to 5).flatMap(day(_, 3, "a")) ++ day(6, 5, "a") ++
      day(7, 9, "a") ++ day(8, 1, "a") ++ (0 to 8).flatMap(day(_, 2, "b"))
    val (batch1, batch2) = all.splitAt(all.size / 2)
    val stream = MemoryStream[Event]
    val q = EventStreams.anomalyFacts(stream.toDS())
      .writeStream.format("memory").queryName("q53_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("q53_stream").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Int]))).toSeq.sorted
    // batch oracle: EventAnalytics.anomalies over the same log, MINUS
    // each type's final observed day (still open on the stream)
    val batchDf = all.toDF()
    val batchOut = graft.operators.EventAnalytics
      .anomalies(batchDf, col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Int]))).toSeq
    val lastDay = batchOut.groupBy(_._1).map { case (t, rows) => t -> rows.map(_._2).max }
    val want = batchOut.filterNot(r => lastDay(r._1) == r._2).sorted
    assert(got == want, s"stream:\n${got.mkString("\n")}\nbatch:\n${want.mkString("\n")}")
    // the spike day carries a real verdict, bit-identical to batch
    assert(got.exists(r => r._1 == "a" && r._5.contains(1)), "spike not flagged")
    // zero-variance days carry facts with no verdict
    assert(got.filter(_._1 == "b").forall(r => r._4.isEmpty && r._5.isEmpty))
  }

  test("q58 streaming silences equal the batch gap spans across triggers") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val H = 3600000000L
    def ev(id: Long, us: Long, tpe: String) =
      Event(id, new java.sql.Timestamp(us / 1000L), 1L, tpe, 0.0)
    // whole milliseconds only: java.sql.Timestamp(ms) cannot carry
    // sub-ms precision
    val batch1 = Seq(ev(1, 0, "a"), ev(2, H - 1000, "a"), ev(5, 0, "b"))
    val batch2 = Seq(ev(3, 2 * H, "a"), ev(4, 10 * H, "a"), ev(6, H, "b"))
    val stream = MemoryStream[Event]
    val q = EventStreams.silenceFacts(stream.toDS(), minGapUs = H)
      .writeStream.format("memory").queryName("q58_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("q58_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    // the b gap (0 -> H) and both a gaps close ACROSS the trigger
    // boundary — same spans the batch window finds
    assert(got == Seq(
      ("a", H - 1000, 2 * H, H + 1000), ("a", 2 * H, 10 * H, 8 * H),
      ("b", 0L, H, H)))
  }

  test("q47 streaming funnel evicts completed users immediately") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Event]
    val ds = EventStreams.funnelProgress(stream.toDS())
    val q = ds.writeStream.format("memory").queryName("q47_evict")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(Seq(
        Event(1, ts(0), 1, "view", 0), Event(2, ts(1), 1, "click", 0),
        Event(3, ts(2), 1, "purchase", 0)))
      q.processAllAvailable()
      // a SECOND purchase after completion: state was removed, and a
      // fresh state can't advance past stage 0 on a purchase — silence
      stream.addData(Seq(Event(4, ts(10), 1, "purchase", 0)))
      q.processAllAvailable()
      val p = q.lastProgress
      assert(spark.table("q47_evict").count() == 3)
      // state store holds no rows once the only user completed
      assert(p.stateOperators.isEmpty ||
        p.stateOperators.head.numRowsTotal == 0,
        s"state not evicted: ${p.stateOperators.headOption}")
    } finally q.stop()
  }
}
