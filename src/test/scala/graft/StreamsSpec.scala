package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.SessionEvent
import java.sql.Timestamp

/** Streaming analogs (SURVEY.md §2.9) driven through MemoryStream —
  * the transforms themselves are batch/stream agnostic.
  */
class StreamsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def eventsDf(rows: Seq[(String, Long, String)]) =
    rows.toDF("t", "user_id", "event_type")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")

  test("rate limiting: a burst inside one sliding window is flagged") {
    val burst = (1 to 40).map(i => (f"2024-01-01 10:00:${i % 50}%02d", 7L, "chat"))
    val calm = (1 to 5).map(i => (s"2024-01-01 11:0$i:00", 8L, "chat"))
    val out = Streams.rateLimitViolations(eventsDf(burst ++ calm), maxPerWindow = 30)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("user_id") == 7L))
    assert(out.forall(_.getAs[Long]("n_requests") > 30))
  }

  test("session windows split on the gap") {
    val rows = Seq(
      ("2024-01-01 10:00:00", 1L, "a"), ("2024-01-01 10:30:00", 1L, "b"),
      ("2024-01-03 09:00:00", 1L, "c")) // > 24h later: new session
    val out = Streams.sessionWindows(eventsDf(rows), gap = "24 hours").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("running counters via a real streaming query (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    // dimension (user) and error predicate (event_type) are separate
    // columns, so per-user error counts are meaningful
    val query = Streams.runningCounters(events, "user_id", col("event_type") === "error")
      .writeStream.format("memory").queryName("counters")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "chat"),
        (ts("2024-01-01 10:00:01"), 2L, "chat"),
        (ts("2024-01-01 10:00:02"), 1L, "error"))
      query.processAllAvailable()
      val counts = spark.table("counters").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_requests"), r.getAs[Long]("n_errors")))).toMap
      assert(counts == Map(1L -> ((2L, 1L)), 2L -> ((1L, 0L))))
    } finally query.stop()
  }

  test("session tracking expires and evicts state once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = Streams.trackSessions(input.toDS(), watermark = "0 seconds", gapMs = 60000L)
      .writeStream.format("memory").queryName("sess_expire")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(SessionEvent(ts("2024-01-01 10:00:00"), 1L, "a"))
      query.processAllAvailable()
      // advance the watermark far past user 1's lastSeen + 60s gap
      input.addData(SessionEvent(ts("2024-01-01 11:00:00"), 2L, "b"))
      query.processAllAvailable()
      input.addData(SessionEvent(ts("2024-01-01 12:00:00"), 2L, "c"))
      query.processAllAvailable()
      val updates = spark.table("sess_expire").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("expired")))
      assert(updates.contains((1L, true)), s"no expiry emitted: ${updates.toSeq}")
    } finally query.stop()
  }

  test("trackSessions: a return after the gap starts a FRESH session, " +
      "even when the dead session's timeout hasn't fired yet") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = Streams.trackSessions(input.toDS(),
        watermark = "0 seconds", gapMs = 60000L)
      .writeStream.format("memory").queryName("sess_reap")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1: two events, session count 2, lastSeen 10:00:30
      input.addData(
        SessionEvent(ts("2024-01-01 10:00:00"), 1L, "a"),
        SessionEvent(ts("2024-01-01 10:00:30"), 1L, "b"))
      query.processAllAvailable()
      // user 9 pushes the watermark past 10:01:30 (lastSeen + gap)
      input.addData(SessionEvent(ts("2024-01-01 11:00:00"), 9L, "x"))
      query.processAllAvailable()
      // user 1 returns IN THE SAME BATCH the reap would apply: the gap
      // ended the old session, so this is session #2 with count 1 —
      // not a continuation at count 3
      input.addData(SessionEvent(ts("2024-01-01 12:00:00"), 1L, "c"))
      query.processAllAvailable()
      assert(query.exception.isEmpty, s"query died: ${query.exception}")
      val u1 = spark.table("sess_reap").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Long]("count"), r.getAs[Boolean]("expired")))
      assert(u1.contains((1L, false)),
        s"return after gap must reset the count: ${u1.toSeq}")
      assert(!u1.contains((3L, false)),
        s"dead session must not absorb the return: ${u1.toSeq}")
      // The superseded session must still get its terminal closure row
      // in the same batch as the fresh session's first update (r13
      // ADVICE: mapGroupsWithState could emit only one of the two).
      assert(u1.contains((2L, true)),
        s"reaped session lost its expired=true closure: ${u1.toSeq}")
    } finally query.stop()
  }

  test("trackSessions late data: within-watermark disorder updates, " +
      "beyond-watermark events are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = Streams.trackSessions(input.toDS(),
        watermark = "1 hour", gapMs = 24L * 3600 * 1000)
      .writeStream.format("memory").queryName("sess_late_drop")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(SessionEvent(ts("2024-01-01 10:00:00"), 1L, "a"))
      query.processAllAvailable()
      // out-of-order but within the 1h watermark: counted, lastSeen
      // stays at the max event time
      input.addData(SessionEvent(ts("2024-01-01 09:30:00"), 1L, "b"))
      query.processAllAvailable()
      // another user advances the watermark to 19:00
      input.addData(SessionEvent(ts("2024-01-01 20:00:00"), 2L, "x"))
      query.processAllAvailable()
      // beyond-watermark straggler: dropped before the stateful op
      input.addData(SessionEvent(ts("2024-01-01 08:00:00"), 1L, "c"))
      query.processAllAvailable()
      assert(query.exception.isEmpty, s"query died: ${query.exception}")
      val u1 = spark.table("sess_late_drop").collect()
        .filter(r => r.getAs[Long]("user_id") == 1L && !r.getAs[Boolean]("expired"))
        .map(_.getAs[Long]("count"))
      assert(u1.max == 2L, s"late-beyond-watermark event was counted: ${u1.toSeq}")
      val dropped = query.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1L, s"expected a counted watermark drop, got $dropped")
    } finally query.stop()
  }

  test("session windows merge late-but-within-watermark events across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val query = Streams.sessionWindows(events, gap = "10 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, "a"))
      query.processAllAvailable()
      // late event (5 min earlier than max seen) still inside the 1h
      // watermark: must merge into the same session window
      input.addData((ts("2024-01-01 09:55:00"), 1L, "b"))
      query.processAllAvailable()
      val rows = spark.table("sess_late").collect()
      assert(rows.length == 1, s"late event split the session: ${rows.toSeq}")
      assert(rows.head.getAs[Long]("n_events") == 2L)
    } finally query.stop()
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long)]
    val events = input.toDF().toDF("ts", "event_id", "user_id")
    val query = Streams.dedupEvents(events)
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 7L),
        (ts("2024-01-01 10:00:01"), 1L, 7L), // duplicate delivery
        (ts("2024-01-01 10:00:02"), 2L, 7L))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:03"), 2L, 7L)) // dup across batches
      query.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally query.stop()
  }

  test("streaming ingest: dedup gate drops re-uploads, chunker runs per batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text", "source")
    val query = Streams.ingestStream(docs, chunkSize = 10, overlap = 2)
      .writeStream.format("memory").queryName("ingested")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "abcdefghijklmnop", "s1"), // 16 chars -> 2 chunks
        (ts("2024-01-01 10:00:01"), 2L, "abcdefghijklmnop", "s2"), // same content -> dropped
        (ts("2024-01-01 10:00:02"), 3L, "short", "s3"))            // 1 chunk
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:03"), 4L, "short", "s4")) // dup across batches
      query.processAllAvailable()
      val rows = spark.table("ingested").collect()
      val byFile = rows.groupBy(_.getAs[Long]("file_id"))
      assert(byFile.keySet == Set(1L, 3L)) // docs 2 and 4 deduped away
      assert(byFile(1L).length == 2 && byFile(3L).length == 1)
      val texts = byFile(1L).sortBy(_.getAs[Int]("chunk_index"))
        .map(_.getAs[String]("chunk_text")).toSeq
      assert(texts == Seq("abcdefghij", "ijklmnop")) // stride 8, size 10
    } finally query.stop()
  }

  test("stream-stream interval join enriches queries with in-window events only") {
    implicit val sqlCtx = spark.sqlContext
    val qIn = MemoryStream[(Timestamp, Long, String)]
    val eIn = MemoryStream[(Timestamp, Long, String)]
    val queries = qIn.toDF().toDF("q_ts", "user_id", "question")
    val events = eIn.toDF().toDF("ts", "e_user_id", "event_type")
    val query = Streams.enrichWithRecentEvents(queries, events, lookback = "5 minutes")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      eIn.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click"),     // in window
        (ts("2024-01-01 09:50:00"), 1L, "old_click"), // outside 5-min lookback
        (ts("2024-01-01 10:01:00"), 2L, "other_user"))
      qIn.addData((ts("2024-01-01 10:02:00"), 1L, "what happened?"))
      query.processAllAvailable()
      // advance both watermarks so the joined rows emit in append mode
      // (disjoint users so the ticks themselves cannot join)
      eIn.addData((ts("2024-01-01 10:30:00"), 8L, "tick"))
      qIn.addData((ts("2024-01-01 10:30:00"), 9L, "tick?"))
      query.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      assert(rows.toSet == Set((1L, "click")),
        s"expected only the in-window same-user event, got ${rows.toSeq}")
    } finally query.stop()
  }

  test("batch analog (Joins.recentEventsJoin) agrees with the streaming interval join") {
    // same fixture rows as the streaming test above: the bucketed batch
    // rewrite must select exactly the rows the watermarked stream join
    // emitted (in-window, same user only).
    val queries = Seq((ts("2024-01-01 10:02:00"), 1L, "what happened?"))
      .toDF("q_ts", "user_id", "question")
    val events = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "click"),
      (ts("2024-01-01 09:50:00"), 1L, "old_click"),
      (ts("2024-01-01 10:01:00"), 2L, "other_user"))
      .toDF("ts", "user_id", "event_type")
    val out = graft.operators.Joins
      .recentEventsJoin(queries, events, lookbackSec = 300, bucketSec = 300)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "click")))
  }

  test("streaming near-dup gate drops fingerprint twins, passes distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val query = Streams.nearDupGate(docs)
      .writeStream.format("memory").queryName("neardup_gated")
      .outputMode(OutputMode.Append()).start()
    try {
      val boiler = "the quick brown fox jumps over the lazy dog again and again"
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, boiler),
        (ts("2024-01-01 10:00:01"), 2L, boiler), // identical -> same fingerprint
        (ts("2024-01-01 10:00:02"), 3L, "completely unrelated database engine text"))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:03"), 4L, boiler)) // twin across batches
      query.processAllAvailable()
      val ids = spark.table("neardup_gated").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(ids == Seq(1L, 3L))
    } finally query.stop()
  }

  test("stateful session tracking accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = Streams.trackSessions(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(SessionEvent(ts("2024-01-01 10:00:00"), 1L, "a"))
      query.processAllAvailable()
      input.addData(
        SessionEvent(ts("2024-01-01 10:01:00"), 1L, "b"),
        SessionEvent(ts("2024-01-01 10:02:00"), 2L, "c"))
      query.processAllAvailable()
      val states = spark.table("sessions")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("count")))
      // update mode: state accumulates across micro-batches; user 1 saw
      // one event in batch 1 and one in batch 2 -> final count 2
      assert(states.contains((1L, 1L)))
      assert(states.contains((1L, 2L)))
      assert(states.contains((2L, 1L)))
    } finally query.stop()
  }

  test("streaming admission gate blocks corpus near-dups, admits novel docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about query engines and columnar storage"))
      .toDF("doc_id", "text")
    val index = Dedup.admissionIndex(corpus)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = Streams.admissionGate(docs, index)
      .writeStream.format("memory").queryName("admission")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (11L, "an entirely novel essay on gardening tomatoes in cold climates works"))
      query.processAllAvailable()
      input.addData( // second micro-batch: same static index serves it
        (12L, "completely different content about query engines and columnar storage"))
      query.processAllAvailable()
      val out = spark.table("admission").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("admitted"), r.getAs[Long]("blocked_by")))).toMap
      assert(out == Map(
        10L -> ((false, 1L)), 11L -> ((true, -1L)), 12L -> ((false, 2L))))
      // conservative vs batch: everything the batch op blocks on the
      // corpus leg, the streaming gate blocks too (exact dups collide on
      // every band)
      val batch = Dedup.incrementalAdmit(corpus,
        Seq((10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
          .toDF("doc_id", "text")).collect().head
      assert(!batch.getAs[Boolean]("admitted") && !out(10L)._1)
    } finally query.stop()
  }

  test("streaming line-dedup gate strips corpus lines, keeps novel ones") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "HEADER\ncorpus content\nFOOTER"))
      .toDF("doc_id", "text")
    val index = Dedup.lineIndex(corpus)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = Streams.lineDedupGate(docs, index)
      .writeStream.format("memory").queryName("linegate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((10L, "HEADER\nfresh line\nFOOTER"))
      query.processAllAvailable()
      input.addData((11L, "another fresh line\nHEADER")) // 2nd micro-batch, same index
      query.processAllAvailable()
      input.addData((12L, null)) // NULL text is one empty line, like the batch rule
      query.processAllAvailable()
      val out = spark.table("linegate").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("line_idx")) ->
          ((r.getAs[String]("line"), r.getAs[Boolean]("keep")))).toMap
      assert(out == Map(
        (10L, 0) -> (("HEADER", false)),
        (10L, 1) -> (("fresh line", true)),
        (10L, 2) -> (("FOOTER", false)),
        (11L, 0) -> (("another fresh line", true)),
        (11L, 1) -> (("HEADER", false)),
        (12L, 0) -> (("", true))))
    } finally query.stop()
  }

  test("admission gate with non-default signature parameters matches its index") {
    // The failure mode the parameters guard against: an index built with
    // non-default (shingleWords, numHashes, bands) produces band keys the
    // old hardcoded gate could never match, silently admitting every
    // document. With the parameters threaded through, the same exact-dup
    // still collides on every band.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val index = Dedup.admissionIndex(corpus, shingleWords = 2, numHashes = 8, bands = 2)
    val input = MemoryStream[(Long, String)]
    val query = Streams.admissionGate(
      input.toDF().toDF("doc_id", "text"), index,
      shingleWords = 2, numHashes = 8, bands = 2)
      .writeStream.format("memory").queryName("admission_params")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (11L, "an entirely novel essay on gardening tomatoes in cold climates works"))
      query.processAllAvailable()
      val out = spark.table("admission_params").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
      assert(out == Map(10L -> false, 11L -> true),
        s"non-default-parameter gate must still block the exact dup: $out")
    } finally query.stop()
  }

  test("streaming PQ admission gate: cross-batch verdicts match batch semanticDedup") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, Dedup}
    // 8 planted clusters in 16 dims (the PQ training spec's geometry):
    // within-cluster quantization error is tiny and cross-cluster
    // distance is huge, so the euclidean ADC gate and the cosine batch
    // dedup must agree on every verdict — the regime where approximating
    // one metric with the other is exact, which is what lets the spec
    // demand verdict EQUALITY rather than overlap.
    def clusterVec(i: Long): Array[Float] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f
      }
    }
    val corpus = (0L until 64L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 4, maxIter = 3)
    val books = Ann.trainPqCodebooks(corpus, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    // the gate reads the PERSISTED IVF-PQ layout — the same artifact the
    // batch ANN queries probe — grouped per cell for the standing index
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ivfpq").toString
    Ann.writeIvfPqPartitioned(corpus, centroids, books, dir)
    val index = Ann.pqAdmissionIndex(spark.read.parquet(dir), m = 4)

    def twin(of: Long, id: Long): (Long, Array[Float]) =
      (id, clusterVec(of).map(x => x + 0.005f))
    def novel(id: Long, seed: Int): (Long, Array[Float]) =
      (id, Array.tabulate(16)(j => (math.sin(seed * 2.1 + j * 0.9) * 3.0).toFloat))

    val input = MemoryStream[(Long, Array[Float])]
    val query = Streams.pqAdmissionGate(
      input.toDF().toDF("vec_id", "embedding"), index, centroids, books,
      maxDist = 1.0, nProbe = 2)
      .writeStream.format("memory").queryName("pqgate")
      .outputMode(OutputMode.Append()).start()
    val incoming = try {
      input.addData(twin(3L, 100L), twin(12L, 101L), novel(102L, 7))
      query.processAllAvailable()
      // second micro-batch: the SAME standing index serves it — a twin
      // of an already-twinned corpus vector must still be blocked
      input.addData(twin(3L, 200L), twin(40L, 201L), novel(202L, 11))
      query.processAllAvailable()
      spark.table("pqgate").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Boolean]("admitted"), r.getAs[Long]("nearest_id")))).toMap
    } finally query.stop()
    // twins block on their cluster (ADC ties break to the lowest vec_id,
    // so the blocker is the cluster's first member); novels pass
    assert(incoming == Map(
      100L -> ((false, 3L % 8)), 101L -> ((false, 12L % 8)), 102L -> ((true, -1L)),
      200L -> ((false, 3L % 8)), 201L -> ((false, 40L % 8)), 202L -> ((true, -1L))),
      s"gate verdicts: $incoming")
    // cross-batch admission == the batch semanticDedup verdicts on the
    // same data: dedup the union (corpus + both batches' arrivals) and
    // every arriving id must be kept iff the gate admitted it
    val arrivals = Seq(twin(3L, 100L), twin(12L, 101L), novel(102L, 7),
      twin(3L, 200L), twin(40L, 201L), novel(202L, 11))
    val union = corpus.unionByName(arrivals.toDF("vec_id", "embedding"))
    val batchKept = Dedup.semanticDedup(union, nCells = 4, threshold = 0.95, lloydIter = 3)
      .filter($"vec_id" >= 100L)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(batchKept == incoming.view.mapValues(_._1).toMap,
      s"stream gate and batch semanticDedup disagree: batch=$batchKept stream=$incoming")
  }

  test("streaming PQ admission gate over the LIVE versioned root: appends block, tombstones unblock") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ann
    // Index-lifecycle composition: the gate's standing index derives from
    // ivfPqLiveCodes over a VERSIONED root, so a batch appended yesterday
    // blocks today's stream and a tombstoned cluster stops blocking —
    // without rebuilding anything. Same clustered geometry as the batch
    // test (cluster = id % 8); base batch holds clusters 0–3, the
    // appended batch holds clusters 4–7, and cluster 5 is then
    // tombstone-deleted in full.
    def clusterVec(i: Long): Array[Float] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f
      }
    }
    val all = (0L until 64L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, all, nCells = 4, maxIter = 3)
    val books = Ann.trainPqCodebooks(all, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_ivfpqv").toString
    Ann.ivfPqAppendBatch(spark, root,
      all.filter(pmod($"vec_id", lit(8)) < 4), centroids, books, "base")
    Ann.ivfPqAppendBatch(spark, root,
      all.filter(pmod($"vec_id", lit(8)) >= 4), centroids, books, "b1")
    Ann.ivfPqDeleteByKey(spark, root,
      all.filter(pmod($"vec_id", lit(8)) === 5).select("vec_id"))
    val index = Ann.pqAdmissionIndex(Ann.ivfPqLiveCodes(spark, root), m = 4)

    def twin(of: Long, id: Long): (Long, Array[Float]) =
      (id, clusterVec(of).map(x => x + 0.005f))
    def novel(id: Long, seed: Int): (Long, Array[Float]) =
      (id, Array.tabulate(16)(j => (math.sin(seed * 2.1 + j * 0.9) * 3.0).toFloat))

    val input = MemoryStream[(Long, Array[Float])]
    val query = Streams.pqAdmissionGate(
      input.toDF().toDF("vec_id", "embedding"), index, centroids, books,
      maxDist = 1.0, nProbe = 2)
      .writeStream.format("memory").queryName("pqgate_ver")
      .outputMode(OutputMode.Append()).start()
    val incoming = try {
      input.addData(
        twin(1L, 100L),  // base cluster → blocked by its first member
        twin(6L, 101L),  // cluster present ONLY via the appended batch → blocked
        twin(5L, 102L),  // cluster fully tombstoned → ADMITTED again
        novel(103L, 7))  // far from everything → admitted
      query.processAllAvailable()
      spark.table("pqgate_ver").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Boolean]("admitted"), r.getAs[Long]("nearest_id")))).toMap
    } finally query.stop()
    assert(incoming == Map(
      100L -> ((false, 1L)), 101L -> ((false, 6L)),
      102L -> ((true, -1L)), 103L -> ((true, -1L))),
      s"versioned-root gate verdicts: $incoming")
  }

  test("composed pretrain admission gate: replay verdicts equal the batch rules") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, Dedup, QualityModel}
    // corpus: clustered vectors (cluster = id % 8, same geometry as the
    // PQ gate spec) each carrying distinct multi-word text
    def clusterVec(i: Long): Array[Float] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f
      }
    }
    def corpusText(i: Long) =
      s"corpus document number item$i about query engines and columnar storage layer$i"
    val corpus = (0L until 64L)
      .map(i => (i, corpusText(i), clusterVec(i)))
      .toDF("doc_id", "text", "embedding")
    // standing indexes: LSH bands over the corpus text, IVF-PQ layout
    // over the corpus vectors, quality weights from a separate train set
    val lshIndex = Dedup.admissionIndex(corpus.select("doc_id", "text"))
    val (centroids, _) = Ann.buildIvf(
      spark, corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCells = 4, maxIter = 3)
    val books = Ann.trainPqCodebooks(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      m = 4, dsub = 4, kStar = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_pretrain_gate").toString
    Ann.writeIvfPqPartitioned(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      centroids, books, dir)
    val pqIndex = Ann.pqAdmissionIndex(spark.read.parquet(dir), m = 4)
    val B = 256
    val w = QualityModel.train(
      Seq("uno dos tres cuatro cinco seis", "dos tres uno cuatro seis siete",
        "tres cuatro uno dos cinco ocho", "cuatro cinco dos tres uno nueve")
        .zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"),
      Seq("alpha beta gamma delta epsilon zeta", "beta gamma alpha delta zeta eta",
        "gamma delta alpha beta epsilon theta", "delta epsilon beta gamma alpha iota")
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      nBuckets = B, iters = 30, lr = 50.0)
    def novel(id: Long, seed: Int): Array[Float] =
      Array.tabulate(16)(j => (math.sin(seed * 2.1 + j * 0.9) * 3.0).toFloat)
    val arrivals = Seq(
      // on-target text, novel vector → fully admitted
      (200L, "cinco seis uno tres dos cuatro siete", novel(200L, 7)),
      // exact copy of corpus text (collides on every LSH band), novel
      // vector → blocked by the LSH stage only (minQuality=0.3 keeps the
      // neutral-vocabulary corpus text, ~0.49 under these weights, clear
      // of the quality stage so the block is attributable to LSH alone)
      (201L, corpusText(2L), novel(201L, 11)),
      // on-target text, twin of corpus cluster 3 → blocked by PQ only
      (202L, "uno dos tres seis cinco ocho nueve", clusterVec(3L).map(_ + 0.005f)),
      // off-target text, novel vector → quality stage flags it
      (203L, "epsilon zeta alpha gamma delta beta eta", novel(203L, 13)))

    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> ((
        r.getAs[Double]("quality"), r.getAs[Boolean]("quality_keep"),
        r.getAs[Boolean]("lsh_admitted"), r.getAs[Long]("lsh_blocked_by"),
        r.getAs[Boolean]("pq_admitted"), r.getAs[Boolean]("admitted")))).toMap

    val input = MemoryStream[(Long, String, Array[Float])]
    val query = Streams.pretrainAdmissionGate(
      input.toDF().toDF("doc_id", "text", "embedding"),
      w, lshIndex, pqIndex, centroids, books,
      maxDist = 1.0, nBuckets = B, minQuality = 0.3, nProbe = 2)
      .writeStream.format("memory").queryName("pretraingate")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      input.addData(arrivals.take(2): _*)
      query.processAllAvailable()
      input.addData(arrivals.drop(2): _*) // 2nd micro-batch, same indexes
      query.processAllAvailable()
      verdicts(spark.table("pretraingate"))
    } finally query.stop()

    // the same stateless composition applied to the SAME rows as a BATCH
    // frame must produce identical verdicts, column for column — the
    // replay-equals-batch contract of the composed gate
    val batch = verdicts(Streams.pretrainAdmissionGate(
      arrivals.toDF("doc_id", "text", "embedding"),
      w, lshIndex, pqIndex, centroids, books,
      maxDist = 1.0, nBuckets = B, minQuality = 0.3, nProbe = 2))
    assert(streamed == batch, s"\nstream=$streamed\nbatch =$batch")

    // per-stage semantics: each doc dropped by exactly the planted stage
    assert(streamed(200L)._6, s"200 must be fully admitted: $streamed")
    assert(!streamed(201L)._3 && streamed(201L)._4 == 2L &&
      streamed(201L)._2 && streamed(201L)._5, s"201 must be LSH-blocked only: $streamed")
    assert(!streamed(202L)._5 && streamed(202L)._2 && streamed(202L)._3,
      s"202 must be PQ-blocked only: $streamed")
    assert(!streamed(203L)._2 && streamed(203L)._3 && streamed(203L)._5,
      s"203 must be quality-flagged only: $streamed")
    assert(!streamed(201L)._6 && !streamed(202L)._6 && !streamed(203L)._6)
    // and the quality column stays bit-equal to the batch scorer
    val scores = QualityModel.score(
      arrivals.map(a => (a._1, a._2)).toDF("doc_id", "text"), w, B)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.view.mapValues(_._1).toMap == scores)
  }

  test("BPE encode column is streaming-legal and token-equal to batch") {
    import graft.operators.Bpe
    // tokenizer trained batch-side; the encode column is stateless
    // (merges + vocab ride the closure), so live ingest can emit
    // token-id streams with zero state — the streaming end of the
    // tokenizer→packing loop
    val train = Seq((0L, "low lower lowest low"), (1L, "new newer newest new"))
      .toDF("doc_id", "text")
    val merges = Bpe.learnMerges(train, nMerges = 8).map(m => (m._1, m._2))
    val ids = Bpe.vocabIds(Bpe.alphabet(train), merges)
    val probes = Seq((10L, "lowest newer low"), (11L, "new lower lowend"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .withColumn("token_ids", Bpe.encodeTokensCol(col("text"), merges, ids))
      .writeStream.format("memory").queryName("bpestream")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      input.addData(probes.head)
      query.processAllAvailable()
      input.addData(probes.last) // 2nd micro-batch, same closure
      query.processAllAvailable()
      spark.table("bpestream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](2)).toMap
    } finally query.stop()
    val batch = Bpe.encodeCorpus(probes.toDF("doc_id", "text"), merges, ids)
      .select("doc_id", "token_ids").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("quality gate: streaming scores bit-equal batch, verdicts split on threshold") {
    import graft.operators.QualityModel
    val onTarget = Seq("uno dos tres cuatro cinco seis", "dos tres uno cuatro seis siete",
      "tres cuatro uno dos cinco ocho", "cuatro cinco dos tres uno nueve")
    val offTarget = Seq("alpha beta gamma delta epsilon zeta", "beta gamma alpha delta zeta eta",
      "gamma delta alpha beta epsilon theta", "delta epsilon beta gamma alpha iota")
    val B = 256
    val w = QualityModel.train(
      onTarget.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"),
      offTarget.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      nBuckets = B, iters = 30, lr = 50.0)

    val probeDocs = Seq(
      (500L, "cinco seis uno tres dos"),     // unseen on-target
      (501L, "epsilon zeta alpha gamma"),    // unseen off-target
      (502L, "uno dos alpha beta"))          // mixed
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val query = Streams.qualityGate(
      input.toDF().toDF("doc_id", "text"), w, nBuckets = B, minQuality = 0.5)
      .writeStream.format("memory").queryName("qualgate")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      input.addData(probeDocs.take(2): _*)
      query.processAllAvailable()
      input.addData(probeDocs.drop(2): _*) // second micro-batch, same weights
      query.processAllAvailable()
      spark.table("qualgate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("quality"), r.getAs[Boolean]("keep")))).toMap
    } finally query.stop()
    // bit-equal to the batch scorer on every doc (all have tokens)
    val batch = QualityModel.score(probeDocs.toDF("doc_id", "text"), w, B)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.view.mapValues(_._1).toMap == batch,
      s"stream=$streamed batch=$batch")
    // and the verdicts actually split on the trained signal
    assert(streamed(500L)._2 && !streamed(501L)._2,
      s"on-target must pass, off-target must be flagged: $streamed")
  }

  test("streaming funnel: replayed advances equal the batch funnel exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Mixed per-user shapes: full completion, out-of-order purchase,
    // past-window purchase, no anchor, same-ts non-advance — every
    // FunnelSpec case, replayed through three in-event-time-order
    // micro-batches.
    val all = Seq(
      (1L, "view", ts("2024-01-01 00:00:00")), (1L, "click", ts("2024-01-02 00:00:00")),
      (1L, "purchase", ts("2024-01-04 00:00:00")),
      (2L, "view", ts("2024-01-01 06:00:00")), (2L, "purchase", ts("2024-01-01 07:00:00")),
      (2L, "click", ts("2024-01-01 08:00:00")),
      (3L, "view", ts("2024-01-01 00:00:00")), (3L, "click", ts("2024-01-02 00:00:00")),
      (3L, "purchase", ts("2024-01-10 00:00:00")), // past the 7-day window
      (4L, "click", ts("2024-01-01 00:00:00")), (4L, "purchase", ts("2024-01-02 00:00:00")),
      (5L, "view", ts("2024-01-03 00:00:00")), (5L, "click", ts("2024-01-03 00:00:00")))
      .sortBy(_._3.getTime)
    val input = MemoryStream[Streams.SessionEvent]
    val query = Streams.funnelStream(input.toDS(),
        Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("funnel_adv")
      .outputMode(OutputMode.Append()).start()
    try {
      all.grouped(5).foreach { chunk =>
        input.addData(chunk.map { case (u, t, time) =>
          Streams.SessionEvent(time, u, t) }: _*)
        query.processAllAvailable()
      }
      val advances = spark.table("funnel_adv").collect()
        .map(r => (r.getAs[Int]("step_idx"),
          (1L, r.getAs[Long]("latency_us"))))
        .groupBy(_._1).view
        .mapValues(v => (v.map(_._2._1).sum, v.map(_._2._2).sum)).toMap
      val batch = graft.operators.Sessions.funnel(
          all.map { case (u, t, time) => (time, u, t) }.toDF("ts", "user_id", "event_type"),
          Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400)
        .select("step_idx", "n_users", "sum_latency_us")
        .as[(Int, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val streamed = (1 to 3).map(i => i -> advances.getOrElse(i, (0L, 0L))).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // sanity on the fixture: real drop-off at each step
      assert(batch(1)._1 == 4 && batch(2)._1 == 3 && batch(3)._1 == 1, batch.toString)
    } finally query.stop()
  }

  test("streaming funnel evicts state: completion removes it, timeout reaps the rest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val query = Streams.funnelStream(input.toDS(),
        Seq("view", "click"), maxSpanSeconds = 60L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streams.SessionEvent(ts("2024-01-01 10:00:00"), 1L, "view"),
        Streams.SessionEvent(ts("2024-01-01 10:00:30"), 1L, "click"))
      query.processAllAvailable()
      // a second click after completion must NOT emit (state was removed,
      // so the funnel restarts only at a fresh anchor)
      input.addData(Streams.SessionEvent(ts("2024-01-01 10:00:40"), 1L, "click"))
      query.processAllAvailable()
      // user 2 anchors but never converts; watermark far past anchor+span
      // reaps the state without emitting
      input.addData(Streams.SessionEvent(ts("2024-01-01 10:01:00"), 2L, "view"))
      query.processAllAvailable()
      input.addData(Streams.SessionEvent(ts("2024-01-01 12:00:00"), 3L, "view"))
      query.processAllAvailable()
      input.addData(Streams.SessionEvent(ts("2024-01-01 12:00:10"), 3L, "click"))
      query.processAllAvailable()
      val rows = spark.table("funnel_evict").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step_idx")))
      assert(rows.count(_ == ((1L, 2))) == 1, s"duplicate completion: ${rows.toSeq}")
      assert(!rows.contains((2L, 2)), s"reaped user advanced: ${rows.toSeq}")
      assert(rows.contains((3L, 2)), s"fresh funnel must still work: ${rows.toSeq}")
    } finally query.stop()
  }

  test("streaming funnel survives data arriving for already-expired state") {
    // Regression for the timeout-behind-watermark crash: user 1's state
    // expires (anchor + span < watermark, advanced by user 9) but the
    // event-time TIMEOUT has not fired because user 1 has DATA in the
    // batch. The group is invoked with hasTimedOut=false; re-updating
    // the old state would set a timeout behind the watermark and Spark
    // would kill the query with IllegalArgumentException. The fix reaps
    // the expired progress in-function and lets the batch's own events
    // anchor a FRESH funnel.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val query = Streams.funnelStream(input.toDS(),
        Seq("view", "click"), maxSpanSeconds = 60L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("funnel_expired_data")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: u1 anchors at 10:00 (timeout 10:01); u9 pushes the
      // watermark to 14:00 at batch end
      input.addData(
        Streams.SessionEvent(ts("2024-01-01 10:00:00"), 1L, "view"),
        Streams.SessionEvent(ts("2024-01-01 14:00:00"), 9L, "view"))
      query.processAllAvailable()
      // batch 2 runs with watermark 14:00 > anchor+span 10:01, and u1
      // HAS data — a non-advancing "view". Pre-fix: crash. Post-fix:
      // expired state reaped, the view re-anchors a fresh funnel.
      input.addData(Streams.SessionEvent(ts("2024-01-01 14:30:00"), 1L, "view"))
      query.processAllAvailable()
      // the fresh funnel is live: a click inside ITS window completes it
      input.addData(Streams.SessionEvent(ts("2024-01-01 14:30:30"), 1L, "click"))
      query.processAllAvailable()
      assert(query.exception.isEmpty, s"query died: ${query.exception}")
      val rows = spark.table("funnel_expired_data").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step_idx"),
          r.getAs[Long]("latency_us")))
      val u1 = rows.filter(_._1 == 1L).toSeq.sortBy(r => (r._2, r._3))
      // two anchors (10:00 and the re-anchor at 14:30), one completion
      // whose latency is measured from the FRESH anchor, not the expired one
      assert(u1.count(_._2 == 1) == 2, s"anchors: $u1")
      assert(u1.filter(_._2 == 2).map(_._3).toSeq == Seq(30000000L),
        s"completion must ride the fresh anchor: $u1")
    } finally query.stop()
  }

  test("streaming funnel late data: intra-batch disorder absorbed, " +
      "beyond-watermark events dropped and counted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streams.SessionEvent]
    val query = Streams.funnelStream(input.toDS(),
        Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1's whole funnel delivered REVERSED — events are
      // sorted by event time inside the group, so within-batch disorder
      // (any disorder inside the watermark that lands in one trigger)
      // must produce exactly the batch funnel's advances
      val u1 = Seq(
        Streams.SessionEvent(ts("2024-01-01 10:00:00"), 1L, "view"),
        Streams.SessionEvent(ts("2024-01-01 10:05:00"), 1L, "click"),
        Streams.SessionEvent(ts("2024-01-01 10:10:00"), 1L, "purchase"))
      input.addData(u1.reverse: _*)
      query.processAllAvailable()
      // batch 2: watermark is now 09:10 (10:10 − 1h). user 2 anchors
      // far ahead and pushes the watermark to 19:00 at batch end.
      input.addData(Streams.SessionEvent(ts("2024-01-01 20:00:00"), 2L, "view"))
      query.processAllAvailable()
      // batch 3: a click for user 2 stamped 08:00 — BEYOND the
      // watermark (19:00). Spark's pre-stateful late filter drops it
      // before the function ever sees it; the batch funnel over the
      // same four events would also not advance (08:00 < anchor), but
      // the pinned semantics here is the DROP: no advance, and the
      // drop is visible in numRowsDroppedByWatermark.
      input.addData(Streams.SessionEvent(ts("2024-01-01 08:00:00"), 2L, "click"))
      query.processAllAvailable()
      assert(query.exception.isEmpty, s"query died: ${query.exception}")
      val rows = spark.table("funnel_late").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step_idx")))
      // intra-batch disorder: full 3-step completion, equal to batch
      val batch = graft.operators.Sessions.funnel(
          u1.map(e => (e.ts, e.user_id, e.event_type))
            .toDF("ts", "user_id", "event_type"),
          Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400)
        .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
      assert(batch == Map(1 -> 1L, 2 -> 1L, 3 -> 1L), batch.toString)
      assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1, 2, 3),
        s"shuffled-within-batch funnel must equal batch: ${rows.toSeq}")
      // beyond-watermark click: dropped, never advanced
      assert(!rows.contains((2L, 2)), s"late event advanced: ${rows.toSeq}")
      val dropped = query.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1L, s"expected a counted watermark drop, got $dropped")
    } finally query.stop()
  }
}
