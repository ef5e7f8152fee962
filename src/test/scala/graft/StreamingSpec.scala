package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventStream, IngestStream}

class StreamingSpec extends SparkSpec {

  final case class Ev(ts: Timestamp, event_type: String, value: Double)

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("windowed agg over a memory stream matches batch semantics") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Ev]
    stream.addData(
      Ev(t("10:05"), "click", 1.0), Ev(t("10:20"), "click", 2.0),
      Ev(t("10:45"), "view", 3.0), Ev(t("11:10"), "click", 4.0))

    val query = EventStream.windowedAgg(stream.toDF())
      .writeStream.format("memory").queryName("st1_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      val rows = spark.table("st1_mem")
        .orderBy($"window_start", $"event_type").collect()
      assert(rows.length == 3)
      val clicks10 = rows.find(r =>
        r.getTimestamp(0) == t("10:00") && r.getString(1) == "click").get
      assert(clicks10.getLong(2) == 2 && clicks10.getDouble(3) == 3.0)

      // late-but-within-watermark data folds into the open window
      stream.addData(Ev(t("11:05"), "view", 5.0))
      query.processAllAvailable()
      val updated = spark.table("st1_mem").collect()
      assert(updated.length == 4)
    } finally query.stop()
  }

  test("sliding windows: one event contributes to exactly 4 windows") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Ev]
    val query = EventStream.slidingAgg(stream.toDF())
      .writeStream.format("memory").queryName("st6_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(Ev(t("10:20"), "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("st6_mem").orderBy($"window_start").collect()
      assert(rows.length == 4, "1h window / 15m slide covers each event 4×")
      assert(rows.map(_.getTimestamp(0)).toSeq == Seq(
        t("09:30"), t("09:45"), t("10:00"), t("10:15")))
      assert(rows.forall(r => r.getLong(2) == 1 && r.getDouble(3) == 1.0))
    } finally query.stop()
  }

  test("append-mode windowed agg drops events arriving beyond the watermark") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Ev]
    val query = EventStream.windowedAgg(stream.toDF())
      .writeStream.format("memory").queryName("st1_late_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Ev(t("10:05"), "click", 1.0))
      query.processAllAvailable()
      // advance event time far enough that the watermark
      // (max event time - 10 min) passes the 10:00 window's end
      stream.addData(Ev(t("12:00"), "click", 2.0))
      query.processAllAvailable()
      val finalized = spark.table("st1_late_mem")
        .filter($"window_start" === t("10:00")).collect()
      assert(finalized.length == 1 && finalized.head.getLong(2) == 1,
        "10:00 window must finalize once the watermark passes")

      // an event for the finalized window is now BEYOND the
      // watermark: the engine drops it — the emitted result is
      // immutable (the state/recall trade append mode makes)
      stream.addData(Ev(t("10:30"), "click", 8.0))
      query.processAllAvailable()
      stream.addData(Ev(t("12:30"), "view", 1.0))
      query.processAllAvailable()
      val after = spark.table("st1_late_mem")
        .filter($"window_start" === t("10:00")).collect()
      assert(after.length == 1 && after.head.getLong(2) == 1,
        "a beyond-watermark event must not reopen or re-emit the window")
    } finally query.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim table") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val customers = Seq(
      (1L, "BUILDING"), (2L, "MACHINERY"), (3L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val stream = MemoryStream[SegEv]
    val query = EventStream.enrichedSegmentAgg(stream.toDF(), customers)
      .writeStream.format("memory").queryName("st5_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(SegEv(t("10:05"), 1L, 1.0), SegEv(t("10:10"), 2L, 2.0))
      query.processAllAvailable()
      // second micro-batch joins against the SAME static relation;
      // user 9 has no dim row and is dropped by the inner join
      stream.addData(SegEv(t("10:20"), 3L, 4.0), SegEv(t("10:25"), 9L, 8.0))
      query.processAllAvailable()
      val rows = spark.table("st5_mem")
        .orderBy($"c_mktsegment").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "BUILDING" &&
             rows(0).getLong(2) == 2 && rows(0).getDouble(3) == 5.0)
      assert(rows(1).getString(1) == "MACHINERY" && rows(1).getLong(2) == 1)
    } finally query.stop()

    // batch mirror equals the plain join+agg on the same input
    val batchEvents = Seq(
      SegEv(t("10:05"), 1L, 1.0), SegEv(t("10:10"), 2L, 2.0),
      SegEv(t("10:20"), 3L, 4.0), SegEv(t("10:25"), 9L, 8.0)).toDF()
    val batch = EventStream.enrichedSegmentAgg(batchEvents, customers)
      .orderBy($"c_mktsegment").collect()
    assert(batch.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq(("BUILDING", 2L, 5.0), ("MACHINERY", 1L, 2.0)))
  }

  test("native session_window merges gap-overlapping events (batch + stream)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    // batch semantics: 10:00+10:20 merge (gap < 30m); a boundary
    // touch (10:50 = 10:20+30m) also merges — only a STRICTLY larger
    // gap (10:51) starts a new session
    val batch = Seq(
      SwEv(1L, t("10:00"), 1.0), SwEv(1L, t("10:20"), 2.0),
      SwEv(1L, t("10:51"), 4.0), SwEv(2L, t("10:05"), 8.0)).toDF()
    val rows = EventStream.sessionWindowAgg(batch)
      .orderBy($"user_id", $"session_start").collect()
    assert(rows.length == 3)
    assert(rows(0).getTimestamp(1) == t("10:00") &&
           rows(0).getTimestamp(2) == t("10:50") &&
           rows(0).getLong(3) == 2 && rows(0).getDouble(4) == 3.0)
    assert(rows(1).getTimestamp(1) == t("10:51") && rows(1).getLong(3) == 1)
    assert(rows(2).getLong(0) == 2L && rows(2).getLong(3) == 1)

    // streaming: the engine merges session state across triggers
    val stream = MemoryStream[SwEv]
    // session-window streams support Append (watermark-finalized) and
    // Complete; Complete lets us observe the merged open session
    val query = EventStream.sessionWindowAgg(stream.toDF())
      .writeStream.format("memory").queryName("sw_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(SwEv(1L, t("10:00"), 1.0))
      query.processAllAvailable()
      stream.addData(SwEv(1L, t("10:20"), 2.0))
      query.processAllAvailable()
      // the complete-mode table carries the merged 2-event session
      val merged = spark.table("sw_mem")
        .filter($"user_id" === 1L).orderBy($"n_events".desc).collect().head
      assert(merged.getLong(3) == 2 && merged.getTimestamp(2) == t("10:50"))
    } finally query.stop()
  }

  test("session_window append mode finalizes sessions past the watermark") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[SwEv]
    val query = EventStream.sessionWindowAgg(stream.toDF())
      .writeStream.format("memory").queryName("swa_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(SwEv(1L, t("10:00"), 1.0))
      query.processAllAvailable()
      // advance the event-time watermark well past 10:00+gap+watermark
      stream.addData(SwEv(1L, t("12:00"), 2.0))
      query.processAllAvailable()
      stream.addData(SwEv(1L, t("13:00"), 3.0))
      query.processAllAvailable()
      // the 10:00 session is finalized and emitted exactly once
      val emitted = spark.table("swa_mem")
        .filter($"session_start" === t("10:00")).collect()
      assert(emitted.length == 1)
      assert(emitted.head.getLong(3) == 1 &&
             emitted.head.getTimestamp(2) == t("10:30"))
    } finally query.stop()
  }

  test("stateful sessionizer keeps per-user state across triggers") {
    val sparkSession = spark
    import sparkSession.implicits._
    import graft.streaming.EventStream.SessionEvent
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[SessionEvent]
    val query = EventStream.sessionizeStateful(stream.toDS())
      .writeStream.format("memory").queryName("sess_mem")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: two events 10 min apart -> one session
      stream.addData(SessionEvent(7L, t("10:00")), SessionEvent(7L, t("10:10")))
      query.processAllAvailable()
      // batch 2: event 80 min later -> state remembers lastTs, 2nd session
      stream.addData(SessionEvent(7L, t("11:30")))
      query.processAllAvailable()
      val last = spark.table("sess_mem").collect().last
      assert(last.getLong(0) == 7L && last.getLong(1) == 2L)
    } finally query.stop()
  }

  test("stateful funnel re-emits a flipped verdict when history rewrites") {
    val sparkSession = spark
    import sparkSession.implicits._
    import graft.streaming.EventStream.FunnelEvent
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[FunnelEvent]
    val query = EventStream.funnelStateful(stream.toDS())
      .writeStream.format("memory").queryName("funnel_mem")
      .outputMode(OutputMode.Update()).start()
    try {
      // trigger 1: ordered view -> click -> purchase => converted
      stream.addData(
        FunnelEvent(1L, "view", t("10:00")),
        FunnelEvent(1L, "click", t("10:05")),
        FunnelEvent(1L, "purchase", t("10:10")),
        FunnelEvent(2L, "view", t("10:00")),
        FunnelEvent(2L, "purchase", t("10:20")))
      query.processAllAvailable()
      val after1 = spark.table("funnel_mem").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(after1(1L) == 1, "ordered funnel converts")
      assert(after1(2L) == 0, "missing click stage")
      // trigger 2: user 1's history rewrites — an EARLIER purchase
      // breaks click < purchase; user 2 gains the missing click
      stream.addData(
        FunnelEvent(1L, "purchase", t("10:01")),
        FunnelEvent(2L, "click", t("10:10")))
      query.processAllAvailable()
      val after2 = spark.table("funnel_mem").collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last.getInt(1) }
      assert(after2(1L) == 0, "verdict must flip off on rewritten history")
      assert(after2(2L) == 1, "state must join stages across triggers")
    } finally query.stop()
  }

  test("stateful funnel in batch mode equals the declarative q13") {
    val sparkSession = spark
    import sparkSession.implicits._
    val st4 = EventStream.st4FunnelStateful(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val q13 = graft.operators.EngineQueries.q13EventsFunnel(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(st4 == q13)
  }

  final case class Doc(ts: Timestamp, fingerprint: String, text: String)
  final case class DedupEv(event_id: Long, ts: Timestamp,
                           event_type: String, value: Double)

  test("streaming dedup keeps first occurrence across triggers, bounded by watermark") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Doc]
    val query = EventStream.dedupStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(
        Doc(t("10:00"), "fpA", "first"), Doc(t("10:01"), "fpA", "dup-same-batch"),
        Doc(t("10:02"), "fpB", "other"))
      query.processAllAvailable()
      // duplicate arriving in a LATER trigger, still inside the
      // watermark horizon -> dropped by the seen-keys state
      stream.addData(Doc(t("10:03"), "fpA", "dup-next-batch"))
      query.processAllAvailable()
      val rows = spark.table("dedup_mem").collect()
      assert(rows.map(_.getAs[String]("fingerprint")).sorted.toSeq == Seq("fpA", "fpB"))
      assert(rows.find(_.getAs[String]("fingerprint") == "fpA").get
        .getAs[String]("text") == "first")
    } finally query.stop()
  }

  test("chained dedup->agg never double counts redelivered events") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[DedupEv]
    val query = EventStream.dedupThenAgg(stream.toDF())
      .writeStream.format("memory").queryName("st9_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(
        DedupEv(1L, t("10:05"), "click", 1.0),
        DedupEv(2L, t("10:20"), "click", 2.0),
        DedupEv(3L, t("10:40"), "view", 3.0))
      query.processAllAvailable()
      // the bus redelivers event 2 in a later trigger, plus one new
      // event — the dedup state must absorb the replay
      stream.addData(
        DedupEv(2L, t("10:20"), "click", 2.0),
        DedupEv(4L, t("10:50"), "click", 4.0))
      query.processAllAvailable()
      // advance the watermark past 10:00+1h+10min so the hour window
      // finalizes and append mode emits it
      stream.addData(DedupEv(99L, t("11:30"), "view", 0.0))
      query.processAllAvailable()
      val rows = spark.table("st9_mem").collect()
      val clicks = rows.find(r => r.getString(1) == "click").get
      // 3 distinct clicks (1, 2, 4) — the replay of 2 counted ONCE
      assert(clicks.getLong(2) == 3 && clicks.getDouble(3) == 7.0)
      val views = rows.find(r => r.getString(1) == "view").get
      assert(views.getLong(2) == 1 && views.getDouble(3) == 3.0)
    } finally query.stop()
  }

  test("streaming anomaly monitor: engine counts, sink judges, spike flips") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    def at(day: Int, hour: Int) = Timestamp.valueOf(
      f"2024-01-${day}%02d $hour%02d:00:00")
    val stream = MemoryStream[Ev]
    val query = EventStream.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("st10_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      // 26 quiet hours: 2 events each
      stream.addData((0 until 26).flatMap { h =>
        val (d, hh) = (1 + h / 24, h % 24)
        Seq(Ev(at(d, hh), "ping", 1.0), Ev(at(d, hh), "ping", 1.0))
      })
      query.processAllAvailable()
      val calm = EventStream.judgeAnomalies(spark.table("st10_mem"))
        .collect()
      assert(calm.forall(!_.getBoolean(5)), "no spike in the calm window")
      // the next trigger delivers a 12-event burst in hour 26
      stream.addData(Seq.fill(12)(Ev(at(2, 2), "ping", 1.0)))
      query.processAllAvailable()
      val judged = EventStream.judgeAnomalies(spark.table("st10_mem"))
        .collect()
      val spikes = judged.filter(_.getBoolean(5))
      assert(spikes.length == 1 && spikes.head.getTimestamp(1) == at(2, 2),
        s"expected one spike at day2 02:00, got ${spikes.toSeq}")
    } finally query.stop()
  }

  test("checkpointed ingest survives a restart exactly-once") {
    val sparkSession = spark
    import sparkSession.implicits._
    import graft.streaming.IngestStream

    val base = java.nio.file.Files.createTempDirectory("graft-recover").toString
    val srcDir = s"$base/incoming"; val store = s"$base/store"
    def addFile(id: Long, text: String): Unit =
      Seq((id, "srcA", text)).toDF("doc_id", "source", "text")
        .write.mode("append").parquet(srcDir)

    addFile(1L, "# One\n\nFirst document body with enough words to chunk.")
    val schema = spark.read.parquet(srcDir).schema
    def start() = IngestStream.ingest(
      spark.readStream.schema(schema).parquet(srcDir), store)

    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val afterA = spark.read.parquet(s"$store/chunks")
      .filter($"doc_id" === 1L).count()
    assert(afterA > 0)

    // a file landing while the query is DOWN is picked up on restart
    // from the checkpointed offsets — and the already-committed epoch
    // is NOT reprocessed (no duplicate appends for doc 1)
    addFile(2L, "# Two\n\nSecond document body, also long enough to chunk.")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val store2 = spark.read.parquet(s"$store/chunks")
    assert(store2.filter($"doc_id" === 1L).count() == afterA,
      "restart must not re-append doc 1's chunks")
    assert(store2.filter($"doc_id" === 2L).count() > 0,
      "catch-up file must be processed after restart")
  }

  test("ingest stream chunks, embeds, and appends to the partitioned store") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestStream

    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val stream = MemoryStream[(Long, String, String)]
    val query = IngestStream.ingest(
      stream.toDF().toDF("doc_id", "source", "text"), dir)
    try {
      stream.addData((1L, "srcA",
        "# Guide\n\nThis paragraph explains the full ingestion pipeline in detail."))
      query.processAllAvailable()
      val afterOne = spark.read.parquet(s"$dir/chunks")
      val n1 = afterOne.count()
      assert(n1 > 0)
      assert(afterOne.columns.contains("embedding"))
      assert(afterOne.select($"embedding").as[Seq[Double]].head().length == 64)

      stream.addData((2L, "srcB",
        "Another document arrives later and must append, not overwrite.\n\n" +
        "```scala\nval x = 1\n```"))
      query.processAllAvailable()
      val after2 = spark.read.parquet(s"$dir/chunks")
      assert(after2.count() > n1)
      // partition-by-source layout holds → per-source reads prune
      assert(new java.io.File(s"$dir/chunks/source=srcA").isDirectory)
      assert(new java.io.File(s"$dir/chunks/source=srcB").isDirectory)
      assert(after2.filter($"source" === "srcB").count() > 0)
    } finally query.stop()
  }

  test("reingest replaces a doc's chunks, leaves other docs and partitions alone") {
    val sparkSession = spark
    import sparkSession.implicits._
    import graft.streaming.IngestStream

    val dir = java.nio.file.Files.createTempDirectory("graft-reingest").toString
    val v1 = Seq(
      (1L, "srcA", "# One\n\nOriginal version of document one with enough words."),
      (2L, "srcA", "# Two\n\nA sibling document in the same source partition."),
      (3L, "srcC", "# Three\n\nA document in an untouched partition.")
    ).toDF("doc_id", "source", "text")
    IngestStream.reingest(v1, dir)
    val before = spark.read.parquet(s"$dir/chunks")
    val doc3Before = before.filter($"doc_id" === 3L).collect().map(_.toString).sorted.toSeq
    assert(before.select($"doc_id").distinct().count() == 3)

    // v2 of doc 1 only — doc 2 (same partition) and doc 3 must survive
    IngestStream.reingest(Seq(
      (1L, "srcA", "# One v2\n\nCompletely rewritten content for document one.")
    ).toDF("doc_id", "source", "text"), dir)
    val after = spark.read.parquet(s"$dir/chunks")
    assert(after.select($"doc_id").distinct().count() == 3)
    val doc1 = after.filter($"doc_id" === 1L).select($"content").as[String].collect()
    assert(doc1.exists(_.contains("rewritten")), "doc 1 must carry v2 content")
    assert(!doc1.exists(_.contains("Original")), "doc 1 v1 chunks must be gone")
    assert(after.filter($"doc_id" === 2L).count() > 0, "sibling doc survives")
    val doc3After = after.filter($"doc_id" === 3L).collect().map(_.toString).sorted.toSeq
    assert(doc3After == doc3Before, "untouched partition must be byte-identical")
  }

  final case class UEv(user_id: Long, ts: Timestamp)

  test("stream-stream interval join attributes clicks within the window only") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val views = MemoryStream[UEv]
    val clicks = MemoryStream[UEv]
    val query = EventStream.attributeClicks(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attr_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(UEv(1L, t("10:00")), UEv(2L, t("10:00")))
      clicks.addData(
        UEv(1L, t("10:05")),  // within 10 min of user 1's view -> attributed
        UEv(1L, t("10:30")),  // outside the window -> dropped
        UEv(3L, t("10:02"))) // no view for user 3 -> dropped
      query.processAllAvailable()
      val rows = spark.table("attr_mem").collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(0) == 1L)
      assert(rows.head.getTimestamp(2) == t("10:05"))
    } finally query.stop()
  }

  test("outer interval join null-pads unconverted views only after state expiry") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val views = MemoryStream[UEv]
    val clicks = MemoryStream[UEv]
    val query = EventStream.attributeClicksOuter(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attr_outer_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(UEv(1L, t("10:00")), UEv(2L, t("10:00")))
      clicks.addData(UEv(1L, t("10:05")))
      query.processAllAvailable()
      // matched pair emits immediately; user 2's view must NOT be
      // null-padded yet — a matching click could still arrive
      val early = spark.table("attr_outer_mem").collect()
      assert(early.map(_.getLong(0)).toSet == Set(1L))
      // advance BOTH watermarks past 10:10 (join watermark = min of
      // the two sides) so user 2's buffered view provably expires
      views.addData(UEv(9L, t("11:00")))
      clicks.addData(UEv(9L, t("11:00")))
      query.processAllAvailable()
      views.addData(UEv(9L, t("11:30")))
      clicks.addData(UEv(9L, t("11:30")))
      query.processAllAvailable()
      val rows = spark.table("attr_outer_mem").collect()
      val u2 = rows.filter(_.getLong(0) == 2L)
      assert(u2.length == 1, "expired view emits exactly once")
      assert(u2.head.isNullAt(2), "non-conversion is null-padded")
      assert(u2.head.getTimestamp(1) == t("10:00"))
    } finally query.stop()
  }

  test("streaming upsert replaces re-arriving docs per epoch (MERGE pattern)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestStream

    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val stream = MemoryStream[(Long, String, String)]
    val query = IngestStream.upsert(
      stream.toDF().toDF("doc_id", "source", "text"), dir)
    try {
      stream.addData(
        (1L, "srcA", "# One\n\nOriginal version of document one with enough words."),
        (2L, "srcA", "# Two\n\nA sibling document in the same source partition."))
      query.processAllAvailable()
      stream.addData(
        (1L, "srcA", "# One v2\n\nCompletely rewritten content for document one."))
      query.processAllAvailable()
      val chunks = spark.read.parquet(s"$dir/chunks")
      assert(chunks.select($"doc_id").distinct().count() == 2)
      val doc1 = chunks.filter($"doc_id" === 1L).select($"content").as[String].collect()
      assert(doc1.exists(_.contains("rewritten")), "doc 1 must carry v2 content")
      assert(!doc1.exists(_.contains("Original")), "doc 1 v1 chunks must be replaced")
      assert(chunks.filter($"doc_id" === 2L).count() > 0, "sibling doc survives")
    } finally query.stop()
  }

  test("stateful sessionizer in batch mode equals the window/lag query q12") {
    val sparkSession = spark
    import sparkSession.implicits._
    import graft.streaming.EventStream.SessionEvent
    val stateful = EventStream.sessionizeStateful(
        Tables.events(spark, sfDir)
          .selectExpr("user_id", "ts").as[SessionEvent])
      .collect().map(u => u.user_id -> u.sessions).toMap
    val windowed = graft.operators.EngineQueries
      .q12EventsSessionize(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateful == windowed)
  }

  test("batch mirror equals streaming definition on the events table") {
    val batch = EventStream.st1WindowAgg(spark, sfDir).collect()
    assert(batch.nonEmpty)
    // every hour bucket is epoch-aligned
    batch.foreach(r => assert(r.getTimestamp(0).getTime % 3600000L == 0))
  }

  test("trending: engine keeps windowed counts, sink ranks top-k per trigger") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Ev]
    stream.addData(
      Ev(t("10:05"), "click", 1.0), Ev(t("10:10"), "click", 1.0),
      Ev(t("10:15"), "view", 1.0), Ev(t("10:20"), "view", 1.0),
      Ev(t("10:25"), "view", 1.0), Ev(t("10:30"), "purchase", 1.0),
      Ev(t("10:35"), "scroll", 1.0))

    // aggregate in the engine; rank in the sink each trigger — the
    // foreachBatch body is EventStream.rankTrending, the same call
    // the st8 batch mirror makes
    var lastTop: Seq[(String, Long, Int)] = Seq.empty
    val query = EventStream.trendingCounts(stream.toDF())
      .writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        lastTop = EventStream.rankTrending(batch, k = 3)
          .orderBy(org.apache.spark.sql.functions.col("window_start"),
                   org.apache.spark.sql.functions.col("rnk"))
          .collect().toSeq
          .map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
      }
      .start()
    try {
      query.processAllAvailable()
      assert(lastTop === Seq(("view", 3L, 1), ("click", 2L, 2), ("purchase", 1L, 3)))

      // a second trigger shifts the ranking: clicks overtake views
      stream.addData(Ev(t("10:40"), "click", 1.0), Ev(t("10:45"), "click", 1.0))
      query.processAllAvailable()
      assert(lastTop === Seq(("click", 4L, 1), ("view", 3L, 2), ("purchase", 1L, 3)))
    } finally query.stop()
  }


  test("poison-pill payloads route to the dead letter, never kill the query") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestStream

    val stream = MemoryStream[String]
    stream.addData(
      """{"source_id":"s1","url":"http://a/x","content":"ok","links":[],"depth":1}""",
      "{not json at all",                                    // PoisonPill
      """{"content":"no ids here"}""",                       // MissingRequiredFields
      """{"source_id":"s1","url":"http://a/y","content":"ok2","links":["http://a/z"],"depth":2}""")

    var ok = 0L; var dead: Seq[String] = Seq.empty
    val query = IngestStream.decodeTasks(stream.toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ok += batch.filter(org.apache.spark.sql.functions.col("reason").isNull).count()
        dead = dead ++ batch
          .filter(org.apache.spark.sql.functions.col("reason").isNotNull)
          .select("reason").collect().map(_.getString(0))
      }
      .start()
    try {
      query.processAllAvailable()
      assert(ok === 2L, "both well-formed tasks decode")
      assert(dead.sorted === Seq("malformed_json", "missing_required_fields"))
      // the query survives the poison rows and keeps consuming
      stream.addData("""{"source_id":"s2","url":"http://b/1","content":"c","links":[],"depth":0}""")
      query.processAllAvailable()
      assert(ok === 3L)
    } finally query.stop()
  }

  test("st11 streaming SCD2 closes the same intervals q47 builds in batch") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    // two users, attribute runs with repeats, split across triggers
    val evs = Seq(
      EventStream.ScdEvent(1L, t("10:00"), 1L, "view"),
      EventStream.ScdEvent(1L, t("10:05"), 2L, "view"),
      EventStream.ScdEvent(1L, t("10:10"), 3L, "click"),
      EventStream.ScdEvent(2L, t("10:02"), 4L, "signup"),
      EventStream.ScdEvent(1L, t("10:20"), 5L, "purchase"),
      EventStream.ScdEvent(1L, t("10:30"), 6L, "purchase"),
      EventStream.ScdEvent(2L, t("10:15"), 7L, "click"))
    val stream = MemoryStream[EventStream.ScdEvent]
    stream.addData(evs.take(4): _*)
    val query = EventStream.scd2Stream(stream.toDS())
      .writeStream.format("memory").queryName("st11_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      stream.addData(evs.drop(4): _*)
      query.processAllAvailable()
      val closed = spark.table("st11_mem")
        .orderBy($"user_id", $"version").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getTimestamp(4)))
      // batch q47 on the same log: its closed intervals (valid_to
      // non-null) must match exactly
      val log = evs.map(e => (e.user_id, e.ts, e.event_id, e.attr))
        .toDF("user_id", "ts", "event_id", "attr")
      val batch = graft.operators.EngineQueries.scd2Of(log)
        .filter(!$"is_current").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getTimestamp(4)))
      assert(closed.toSeq == batch.toSeq)
      // exactly one open interval per user remains in state (not
      // emitted): versions of emitted rows are dense from 1
      closed.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
      }
    } finally query.stop()
  }

  test("st14 streaming rollup equals q54's single-pass view across any batch split") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    def o(p: String, d: String, v: Double) =
      EventStream.OrderEvent(p, java.sql.Timestamp.valueOf(d + " 00:00:00"), v)
    val evs = Seq(
      o("1-URGENT", "1995-03-15", 100.10), o("1-URGENT", "1995-07-01", 250.25),
      o("2-HIGH", "1995-01-02", 10.99), o("1-URGENT", "1996-02-11", 75.50),
      o("2-HIGH", "1996-06-30", 310.00), o("2-HIGH", "1996-08-21", 5.05),
      o("3-MEDIUM", "1997-12-31", 999.99))
    val stream = MemoryStream[EventStream.OrderEvent]
    stream.addData(evs.take(3): _*)
    val query = EventStream.incrementalAggStream(stream.toDF())
      .writeStream.format("memory").queryName("st14_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      stream.addData(evs.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("st14_mem")
        .orderBy($"o_orderpriority", $"o_year").collect().map(_.toSeq)
      // q54 over the same orders as a parquet corpus, cutoff NOT at
      // the micro-batch boundary (the engine's state merge and q54's
      // snapshot/delta merge split the data differently on purpose)
      val tmp = java.nio.file.Files.createTempDirectory("st14").toString
      evs.toDF().write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      val batch = graft.operators.EngineQueries
        .q54IncrementalAgg(spark, tmp, "1996-01-01")
        .collect().map(_.toSeq)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("st13 quality gate scores the stream exactly like the batch scorer") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    // weights trained offline on a separable corpus
    val train = Seq(
      (1L, "the quick brown fox and the lazy dog it is a fine day " * 6),
      (2L, "!!! ;;; ### ??? ,,, ..."),
      (3L, "a day in the sun and a walk in the park it is good " * 5),
      (4L, ":: !! ?? ;; %% ^^")).toDF("doc_id", "text")
    val w = graft.operators.QualityModel.lrFit(
      graft.operators.QualityModel.features(train))

    val incoming = Seq(
      ("s1", "http://a/1", "the quick brown fox and the lazy dog it is fine " * 4),
      ("s1", "http://a/2", "!!! ### ;;; ??? garbage ,,, ::"),
      ("s2", "http://b/1", "a walk in the park on a fine day it is good " * 4))
    val stream = MemoryStream[(String, String, String)]
    stream.addData(incoming: _*)
    val gated = IngestStream.qualityGate(
      stream.toDF().toDF("source_id", "url", "content"), w)
    val query = gated.writeStream.format("memory").queryName("st13_mem")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("st13_mem")
        .orderBy($"url").collect()
        .map(r => (r.getAs[String]("url"), r.getAs[Double]("quality_score"),
          r.getAs[Boolean]("quarantined")))
      // batch scoring of the same frame is bit-identical
      val batch = IngestStream.qualityGate(
          incoming.toDF("source_id", "url", "content"), w)
        .orderBy($"url").collect()
        .map(r => (r.getAs[String]("url"), r.getAs[Double]("quality_score"),
          r.getAs[Boolean]("quarantined")))
      assert(streamed.toSeq == batch.toSeq)
      // the junk page is quarantined; the prose pages pass
      val byUrl = streamed.map(s => s._1 -> s._3).toMap
      assert(byUrl("http://a/2"))
      assert(!byUrl("http://a/1") && !byUrl("http://b/1"))
      // scoring is consistent with the flag
      streamed.foreach { case (_, score, q) => assert(q == (score < 0.5)) }
    } finally query.stop()
  }

  test("st12 HLL cells: stream == batch, state bounded by registers, mergeable") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = (0 until 500).map { i =>
      SwEv(i % 113L, t(f"10:${i % 60}%02d"), 1.0)
    }
    def batchDF(xs: Seq[SwEv]) = xs.map(e => (e.ts, e.user_id))
      .toDF("ts", "user_id")
    val stream = MemoryStream[SwEv]
    stream.addData(evs.take(250): _*)
    val query = EventStream.hllCellsStream(
        stream.toDF().select($"ts", $"user_id"))
      .writeStream.format("memory").queryName("st12_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      stream.addData(evs.drop(250): _*)
      query.processAllAvailable()
      val streamCells = spark.table("st12_mem")
        .orderBy($"window_start", $"register").collect().map(_.toSeq).toSeq
      val batchCells = EventStream.hllCells(batchDF(evs))
        .orderBy($"window_start", $"register").collect().map(_.toSeq).toSeq
      assert(streamCells == batchCells)
      // bounded: at most 256 registers however many users arrive
      assert(streamCells.length <= 256)
      // mergeable: per-register max over halves equals the whole
      val merged = EventStream.hllCells(batchDF(evs.take(250)))
        .unionAll(EventStream.hllCells(batchDF(evs.drop(250))))
        .groupBy($"window_start", $"register")
        .agg(org.apache.spark.sql.functions.max($"mj").as("mj"))
        .orderBy($"window_start", $"register").collect().map(_.toSeq).toSeq
      assert(merged == batchCells)
      // estimate lands near the true 113 distinct users
      val est = EventStream.hllWindowEstimates(
        EventStream.hllCells(batchDF(evs))).collect()
      assert(est.length == 1)
      val e = est.head.getDouble(1)
      assert(math.abs(e / 113.0 - 1.0) < 0.25, s"estimate $e vs 113")
    } finally query.stop()
  }

  test("st10 sketch cells: stream == batch, state bounded, sketch linear") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = (0 until 400).map { i =>
      Ev(t(f"10:${i % 60}%02d"), s"key_${i % 37}", 1.0)
    }
    val stream = MemoryStream[Ev]
    stream.addData(evs.take(200): _*)

    val query = EventStream.sketchCellsStream(stream.toDF())
      .writeStream.format("memory").queryName("st10_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      stream.addData(evs.drop(200): _*)
      query.processAllAvailable()
      val streamCells = spark.table("st10_mem")
        .orderBy($"window_start", $"j", $"bucket").collect()
      def batchDF(xs: Seq[Ev]) = xs.map(e => (e.ts, e.event_type, e.value))
        .toDF("ts", "event_type", "value")
      val batchCells = EventStream.sketchCells(batchDF(evs))
        .orderBy($"window_start", $"j", $"bucket").collect()
      // arrival order/batching cannot change a linear sketch
      assert(streamCells.map(_.toSeq).toSeq == batchCells.map(_.toSeq).toSeq)
      // state bound: rows <= depth * distinct-buckets-touched, and
      // never more than depth * width however many keys arrive
      assert(streamCells.length <= EventStream.SketchDepth * 37)
      // linearity: cells of two halves ADD to the cells of the whole
      val half1 = EventStream.sketchCells(batchDF(evs.take(200)))
      val half2 = EventStream.sketchCells(batchDF(evs.drop(200)))
      val merged = half1.unionAll(half2)
        .groupBy($"window_start", $"j", $"bucket")
        .agg(org.apache.spark.sql.functions.sum($"c").as("c"))
        .orderBy($"window_start", $"j", $"bucket").collect()
      assert(merged.map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq ==
        batchCells.map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq)
      // probe: estimates dominate exact counts (CMS guarantee)
      val exact = batchDF(evs).groupBy(
          org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .select($"window.start".as("window_start"), $"event_type", $"n")
      val est = EventStream.probeSketch(EventStream.sketchCells(batchDF(evs)),
          exact.select($"window_start", $"event_type"))
        .join(exact, Seq("window_start", "event_type")).collect()
      assert(est.nonEmpty)
      est.foreach(r => assert(r.getLong(2) >= r.getLong(3)))
    } finally query.stop()
  }

  test("st15 recrawl state: stream across two waves == batch fold, hand-checked chains") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    def f(k: String, tt: String, id: Long, h: String) =
      EventStream.FetchEvent(k, Timestamp.valueOf(s"2026-01-01 $tt:00"), id, h)
    val evs = Seq(
      f("p1", "00:00", 1, "a"), f("p1", "01:00", 2, "a"), // unchanged → 600
      f("p1", "02:00", 3, "b"), // changed → 300
      f("p2", "00:30", 4, "x"),
      f("p1", "03:00", 5, "b"), // unchanged → 600
      f("p1", "04:00", 6, "c"), // changed → 300
      f("p2", "05:00", 7, "y"), // changed → 150
      f("p3", "06:00", 8, "z"))
    val stream = MemoryStream[EventStream.FetchEvent]
    stream.addData(evs.take(4): _*)
    val query = EventStream.revisitStream(stream.toDS())
      .toDF("page_key", "n_fetches", "n_changes", "interval_s")
      .writeStream.format("memory").queryName("st15_mem")
      .outputMode(OutputMode.Update()).start()
    try {
      query.processAllAvailable()
      stream.addData(evs.drop(4): _*)
      query.processAllAvailable()
      // latest state per key: the emission with the highest fetch count
      val streamed = spark.table("st15_mem").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
      val batch = EventStream.revisitStateOf(evs.toDS().toDF())
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      // hand-computed chains: the fold really is the adapt policy
      assert(batch.contains(("p1", 5L, 2L, 300.0)))
      assert(batch.contains(("p2", 2L, 1L, 150.0)))
      assert(batch.contains(("p3", 1L, 0L, 300.0)))
    } finally query.stop()
  }

  test("ingest stream repairs mojibake and composes NFC before the store") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestStream

    val dir = java.nio.file.Files.createTempDirectory("graft-clean").toString
    val stream = MemoryStream[(Long, String, String)]
    val query = IngestStream.ingest(
      stream.toDF().toDF("doc_id", "source", "text"), dir)
    try {
      // 'Caf\u00c3\u00a9' is double-encoded 'Caf\u00e9'; 'e' + U+0301 is
      // decomposed '\u00e9' — the stored chunk must carry neither
      stream.addData((1L, "srcC",
        "Caf\u00c3\u00a9 menu with re\u0301sume\u0301 attached and enough words to chunk."))
      query.processAllAvailable()
      val content = spark.read.parquet(s"$dir/chunks")
        .select($"content").as[String].collect().mkString(" ")
      assert(content.contains("Caf\u00e9"), s"mojibake not repaired: $content")
      assert(content.contains("r\u00e9sum\u00e9"), s"NFC not applied: $content")
      assert(!content.contains("\u00c3") && !content.contains("\u0301"))
    } finally query.stop()
  }

  test("frozen-span strip removes batch-profiled boilerplate from a live stream") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestStream

    // batch corpus: two docs share an 8-gram footer \u2014 the profile
    // freezes it; "unique" content must survive the ingest strip
    val footer = "copyright acme corp all rights reserved worldwide forever"
    val batch = Seq(
      (1L, s"first page body text here $footer"),
      (2L, s"second page different body $footer"),
      (3L, "unrelated page with no shared spans at all anywhere"))
      .toDF("doc_id", "text")
    // the production lifecycle: the batch profile FREEZES the list
    // into the model store; the streaming worker LOADS it with no
    // corpus scan (second call must not re-profile)
    val storeRoot = java.nio.file.Files
      .createTempDirectory("graft-span-store").toString
    val banned = IngestStream.frozenSpanListOrLoad(batch, storeRoot)
    assert(banned.nonEmpty, "the shared footer must be profiled")
    val loaded = IngestStream.frozenSpanListOrLoad(
      batch.limit(0), storeRoot) // a worker with NO corpus at hand
    assert(loaded == banned, "the worker must serve the stored list")
    // the stage is a stateless projection \u2014 drive it through a real
    // streaming plan and assert the emitted text
    val stream = MemoryStream[(Long, String)]
    val out = IngestStream.stripFrozenSpans(
      stream.toDF().toDF("doc_id", "text"), loaded)
    val query = out.writeStream.format("memory")
      .queryName("strip_spans").outputMode("append").start()
    try {
      stream.addData(
        (10L, s"arriving page fresh words $footer"),
        (11L, "clean arriving page nothing banned here today at all"))
      query.processAllAvailable()
      val got = spark.sql("SELECT doc_id, text FROM strip_spans")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(10L) == "arriving page fresh words",
        s"footer must be stripped: '${got(10L)}'")
      assert(got(11L) == "clean arriving page nothing banned here today at all",
        "clean pages pass through byte-identical")
      // short docs (under the n-gram width) pass through whole
      stream.addData((12L, "short doc"))
      // unmatched docs pass through BYTE-identical — newlines, tabs,
      // and double spaces survive (the strip must not tokenize-rejoin
      // documents it didn't touch; chunkMarkdown depends on lines)
      val structured = "# heading\nline one\tstays\n\nline  two here friend"
      stream.addData((13L, structured))
      query.processAllAvailable()
      val short = spark.sql(
        "SELECT text FROM strip_spans WHERE doc_id = 12").collect()
      assert(short.head.getString(0) == "short doc")
      val struct13 = spark.sql(
        "SELECT text FROM strip_spans WHERE doc_id = 13").collect()
      assert(struct13.head.getString(0) == structured,
        "unmatched doc must keep its exact whitespace structure")
    } finally query.stop()
    // empty list = identity stage
    val same = IngestStream.stripFrozenSpans(batch, Nil)
    assert(same eq batch)
    Caches.releaseAll()
  }

  test("streamed text-index maintenance serves bit-equal to a batch rebuild") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TextIndex

    val idx = java.nio.file.Files
      .createTempDirectory("graft-ti-stream").toString + "/index"
    val docs = Seq(
      (1L, "spark joins filter big tables\nspark filter pushdown wins"),
      (2L, "the quick brown fox joins the lazy dog"),
      (3L, "filter spark filter join join join"),
      (4L, "unrelated prose about nothing in particular"),
      (5L, "spark spark spark join filter everything"))
    val stream = MemoryStream[(Long, String)]
    // maxBatches = 1: every appended epoch trips the auto-compaction
    // gate, so the stream exercises append -> OPTIMIZE -> append and
    // the final serve must STILL be bit-equal to a one-shot rebuild
    val query = IngestStream.indexStream(
      stream.toDF().toDF("doc_id", "text"), idx, maxBatches = 1L)
    try {
      // epoch 1 BUILDS, epochs 2..3 APPEND (each followed by compact)
      stream.addData(docs(0), docs(1))
      query.processAllAvailable()
      stream.addData(docs(2))
      query.processAllAvailable()
      stream.addData(docs(3), docs(4))
      query.processAllAvailable()
    } finally query.stop()
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-ti-rebuild").toString
    TextIndex.write(docs.toDF("doc_id", "text"), rebuilt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val terms = Seq("spark", "join", "filter")
    assert(rows(TextIndex.bm25Serve(spark, idx, terms)
        .orderBy($"score".desc, $"doc_id")) ==
      rows(TextIndex.bm25Serve(spark, rebuilt, terms)
        .orderBy($"score".desc, $"doc_id")),
      "streamed index must serve the batch-rebuilt scores exactly")
    assert(rows(TextIndex.prefixesTable(spark, idx)
        .orderBy($"prefix", $"rank").select($"prefix", $"term", $"df")) ==
      rows(TextIndex.prefixesTable(spark, rebuilt)
        .orderBy($"prefix", $"rank").select($"prefix", $"term", $"df")))
    assert(rows(TextIndex.statsTable(spark, idx)) ==
      rows(TextIndex.statsTable(spark, rebuilt)))
    // the replay guard: every committed epoch id rode into the marker
    assert(TextIndex.lastEpoch(spark, idx) == 2L,
      "three epochs (0,1,2) committed; lastEpoch records the highest")
  }

  test("streamed UPSERT maintenance: re-arriving docs replace; serve ≡ rebuild of latest versions") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TextIndex

    val idx = java.nio.file.Files
      .createTempDirectory("graft-ti-ups-stream").toString + "/index"
    val stream = MemoryStream[(Long, String)]
    val query = IngestStream.upsertIndexStream(
      stream.toDF().toDF("doc_id", "text"), idx)
    try {
      // epoch 0 builds; epoch 1 adds a doc AND re-crawls doc 1 with
      // NEW text; epoch 2 re-crawls doc 2
      stream.addData((1L, "old spark text to be replaced"),
        (2L, "the quick brown fox joins the lazy dog"))
      query.processAllAvailable()
      stream.addData((1L, "spark joins filter big tables now"),
        (3L, "filter spark filter join join join"))
      query.processAllAvailable()
      stream.addData((2L, "spark spark spark join filter everything"))
      query.processAllAvailable()
    } finally query.stop()
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-ti-ups-rebuild").toString
    TextIndex.write(Seq(
      (1L, "spark joins filter big tables now"),
      (2L, "spark spark spark join filter everything"),
      (3L, "filter spark filter join join join"))
      .toDF("doc_id", "text"), rebuilt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val terms = Seq("spark", "join", "filter")
    assert(rows(TextIndex.bm25Serve(spark, idx, terms)
        .orderBy($"score".desc, $"doc_id")) ==
      rows(TextIndex.bm25Serve(spark, rebuilt, terms)
        .orderBy($"score".desc, $"doc_id")),
      "upsert stream must serve each doc's LATEST version exactly")
    assert(rows(TextIndex.statsTable(spark, idx)) ==
      rows(TextIndex.statsTable(spark, rebuilt)),
      "replaced docs' old lengths must be subtracted exactly")
  }

  test("CDC sync stream: classify→upsert/delete per epoch in ONE commit; unchanged pages skip") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TextIndex

    val idx = java.nio.file.Files
      .createTempDirectory("graft-ti-sync-stream").toString + "/index"
    val stream = MemoryStream[(Long, String)]
    val query = IngestStream.syncIndexStream(
      stream.toDF().toDF("doc_id", "text"), idx)
    val tA = "spark joins filter big tables"
    try {
      // epoch 0 BUILDS from the page fetches
      stream.addData((1L, tA), (2L, "old text of page two"))
      query.processAllAvailable()
      // epoch 1: page 1 re-crawls UNCHANGED (classify must skip it),
      // page 2 changed, page 3 is new
      stream.addData((1L, tA),
        (2L, "the quick brown fox joins the lazy dog"),
        (3L, "filter spark filter join join join"))
      query.processAllAvailable()
      // epoch 2: page 2 is DELETED (null-text notice), page 4 is new
      // — one epoch, one commit, both effects
      stream.addData((2L, null.asInstanceOf[String]),
        (4L, "join the spark club and filter your feed"))
      query.processAllAvailable()
    } finally query.stop()

    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-ti-sync-rebuild").toString
    TextIndex.write(Seq(
      (1L, tA),
      (3L, "filter spark filter join join join"),
      (4L, "join the spark club and filter your feed"))
      .toDF("doc_id", "text"), rebuilt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val terms = Seq("spark", "join", "filter")
    assert(rows(TextIndex.bm25Serve(spark, idx, terms)
        .orderBy($"score".desc, $"doc_id")) ==
      rows(TextIndex.bm25Serve(spark, rebuilt, terms)
        .orderBy($"score".desc, $"doc_id")),
      "synced stream must serve the final live corpus exactly")
    assert(rows(TextIndex.statsTable(spark, idx)) ==
      rows(TextIndex.statsTable(spark, rebuilt)),
      "deleted + replaced docs' stats must be subtracted exactly")
    // the unchanged re-crawl re-ingested NOTHING: page 1's stored
    // fields still live in the build batch (0), not a later one
    val b1 = spark.read.parquet(s"$idx/content")
      .filter($"doc_id" === 1L).select($"batch".cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(b1 == Seq(0L),
      s"unchanged page must keep its original batch, got $b1")
    // one commit per epoch covered by the replay guard
    assert(TextIndex.lastEpoch(spark, idx) == 2L)
  }

  test("streaming IVF maintenance: re-embeds replace across cells, deletes tombstone, auto-OPTIMIZE fires") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-stream").toString
    val p = root + "/index"
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val stream = MemoryStream[(Long, Seq[Double])]
    // maxTombstones = 0: the delete epoch must trip the in-stream
    // OPTIMIZE (physical drop + tombstone reset)
    val query = IngestStream.ivfIndexStream(
      stream.toDF().toDF("vec_id", "v"), p, cents,
      maxTombstones = 0L, maxFilesPerCell = 100.0)
    try {
      // epoch 0 BUILDS under the frozen quantizer
      stream.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.95, 0.05)),
        (3L, Seq(0.1, 0.9)))
      query.processAllAvailable()
      // epoch 1: vector 1 re-embeds ACROSS cells (0→1); 4 is new
      stream.addData((1L, Seq(0.1, 0.95)), (4L, Seq(0.05, 0.9)))
      query.processAllAvailable()
      // epoch 2: vector 2 is deleted (NULL-vector notice)
      stream.addData((2L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
    } finally query.stop()

    val expect = root + "/expect"
    Knn.appendToIvfIndex(expect, cents, Seq(
      (1L, Seq(0.1, 0.95)), (3L, Seq(0.1, 0.9)), (4L, Seq(0.05, 0.9))
    ).toDF("vec_id", "v"))
    val q100 = Seq((100L, Seq(0.0, 1.0))).toDF("q_id", "qv")
    def served(path: String) = Knn
      .serveFromIvfIndex(spark, path, cents, q100, nprobe = 2, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(served(p) == served(expect),
      "streamed store must serve each vector's LATEST version exactly")
    // the cross-cell re-embed physically cleaned the old cell copy
    // (the in-stream OPTIMIZE committed a new generation — layout
    // assertions read the current generation's data dir)
    assert(spark.read.parquet(Knn.storeDataDir(spark, p))
      .filter($"vec_id" === 1L && $"cid" === 0).count() == 0,
      "old cell copy of a moved vector must be gone")
    // the tombstone-gated OPTIMIZE ran: 2 physically dropped, list reset
    assert(spark.read.parquet(Knn.storeDataDir(spark, p))
      .filter($"vec_id" === 2L).count() == 0,
      "the in-stream OPTIMIZE must physically drop the delete")
    assert(spark.read.parquet(s"$p/_tombstones").count() == 0)
    // the replay guard recorded every committed epoch
    assert(Knn.storeLastEpoch(spark, p) == 2L)
  }

  test("streaming PQ maintenance: first-epoch build, cross-cell re-embed, delete with in-stream OPTIMIZE") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-stream").toString
    val p = root + "/index"
    // the quantizer pair is the UP-FRONT build artifact; the stream
    // only maintains data (the FAISS train-once/add-forever shape)
    Knn.writePqQuantizer(spark, sfDir, p)
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.pqIndexStream(
      stream.toDF().toDF("vec_id", "v"), p,
      maxTombstones = 0L, maxFilesPerCell = 100.0)
    try {
      // epoch 0 BUILDS from its own batch (ids 0..49, two shifted)
      stream.addData((0L until 50L).map(i =>
        i -> (if (i % 7 == 3) vecs(i).map(_ + 1.0) else vecs(i))): _*)
      query.processAllAvailable()
      // epoch 1: the shifted ids re-embed to their TRUE vectors
      // (cross-cell moves), id 50 arrives new
      stream.addData(((0L until 50L).filter(_ % 7 == 3).map(i =>
        i -> vecs(i)) :+ (50L -> vecs(50L))): _*)
      query.processAllAvailable()
      // epoch 2: id 50 deleted — the tombstone-gated OPTIMIZE fires
      stream.addData((50L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
      // epoch 3: a re-embed AFTER the generation flip — the probe
      // must still route it through the upsert's remove step (a
      // root probe would append a duplicate copy into _gen_1)
      stream.addData(1L -> vecs(1L))
      query.processAllAvailable()
    } finally query.stop()

    // batch twin over the FINAL live content
    val expect = root + "/expect"
    Knn.writePqIndex(spark, sfDir, expect, initial = Some(
      (0L until 50L).map(i => i -> vecs(i)).toDF("vec_id", "v")))
    val queries = (0L until 3L).map(i => i -> vecs(i)).toDF("q_id", "qv")
    def served(path: String) = Knn.serveFromPqIndex(spark, path, queries)
      .collect().map(_.toSeq).toSeq
    assert(served(p) === served(expect),
      "streamed PQ store must serve each vector's LATEST version exactly")
    // the delete was PHYSICALLY dropped by the in-stream OPTIMIZE
    val data = Knn.storeDataDir(spark, p)
    Seq("codes", "vectors").foreach { tier =>
      assert(spark.read.parquet(s"$data/$tier")
        .filter($"vec_id" === 50L).count() === 0,
        s"in-stream OPTIMIZE must drop the delete from $tier")
    }
    assert(spark.read.parquet(s"$p/_tombstones").count() === 0)
    assert(Knn.storeGen(spark, p) >= 1L, "the OPTIMIZE committed a generation")
    Seq("codes", "vectors").foreach { tier =>
      assert(spark.read.parquet(s"$data/$tier")
        .filter($"vec_id" === 1L).count() === 1,
        s"the post-flip re-embed must replace, not duplicate, in $tier")
    }
    assert(Knn.storeLastEpoch(spark, p) === 3L)
    Caches.releaseAll()
  }

  test("streaming graph+PQ maintenance: build from batch, re-embed re-encodes, delete drops all three tiers") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val base = java.nio.file.Files
      .createTempDirectory("graft-graph-pq-stream").toString
    val root = base + "/store"
    // the quantizer is the UP-FRONT artifact; the stream only
    // maintains data (train-once/add-forever)
    Knn.writeGraphPqQuantizer(spark, sfDir, root)
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .filter($"vec_id" <= 40L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.graphPqStream(
      stream.toDF().toDF("vec_id", "v"), root, k = 3)
    try {
      // epoch 0 BUILDS all three tiers from its own batch — id 5
      // arrives STALE (shifted +1.0/dim), so its code is stale too
      stream.addData((0L until 40L).map(i =>
        i -> (if (i == 5L) vecs(i).map(_ + 1.0) else vecs(i))): _*)
      query.processAllAvailable()
      // epoch 1: id 5 re-embeds to its TRUE vector (the code row
      // must re-encode), id 40 inserts through the delta path
      stream.addData(5L -> vecs(5L), 40L -> vecs(40L))
      query.processAllAvailable()
      // epoch 2: id 40 deleted — graph consolidates, vector and
      // code rows drop PHYSICALLY
      stream.addData((40L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
    } finally query.stop()

    // codes tier == a fresh encode of the final LIVE vector set
    // under the same frozen quantizer (any stale code — the shifted
    // id 5, a surviving id 40 — breaks set equality)
    val twin = base + "/twin"
    Knn.writeGraphPqQuantizer(spark, sfDir, twin)
    Knn.writeGraphPqCodes(spark, twin,
      (0L until 40L).map(i => i -> vecs(i)).toDF("vec_id", "v"))
    def codeSet(p: String) = spark.read.parquet(s"$p/codes")
      .select($"vec_id", $"code").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toSet
    assert(codeSet(root) === codeSet(twin),
      "streamed codes tier must encode exactly the live vectors")
    val vids = Knn.readNnVecStore(spark, s"$root/vectors")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(vids === (0L until 40L).toSet)
    val ends = Knn.readNnGraphStore(spark, s"$root/graph")
      .select($"q_id", $"vec_id").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ends.subsetOf((0L until 40L).toSet),
      "no edge may reference the deleted id")
    assert(Knn.storeLastEpoch(spark, root) === 2L)
    Caches.releaseAll()
  }

  test("streaming graph maintenance: first-epoch build, insert delta, delete consolidation; vectors co-maintained") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    // smooth 1-D angular chain: cosine is monotone in chain distance,
    // so every kNN stage is deterministic
    def pt(i: Int): (Long, Seq[Double]) =
      (i.toLong, Seq(math.cos(i * 0.1), math.sin(i * 0.1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft-graph-stream").toString
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.nnGraphStream(
      stream.toDF().toDF("vec_id", "v"), root, k = 2)
    try {
      // epoch 0 BUILDS the graph from its own batch
      stream.addData((0 to 7).map(pt): _*)
      query.processAllAvailable()
      // epoch 1 INSERTS two chain extensions through the delta path
      stream.addData(pt(8), pt(9))
      query.processAllAvailable()
      // epoch 2 DELETES node 5 (NULL-vector notice) — consolidation
      stream.addData((5L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
    } finally query.stop()

    // the batch twin, stage for stage (parquet-backed like the
    // stream's staged batches — the in-memory-lineage Union
    // constraint quirk the stream itself works around)
    def staged(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$root/_twin/$name")
      spark.read.parquet(s"$root/_twin/$name")
    }
    val v0 = staged((0 to 7).map(pt).toDF("vec_id", "v"), "v0")
    val all = staged((0 to 9).map(pt).toDF("vec_id", "v"), "all")
    val init = Knn.knnJoinOf(v0, tables = 4, bits = 6, k = 2,
      bucketCap = 256).select($"q_id", $"vec_id")
    val (g0, _) = Knn.nnDescentBuild(v0, init, 2, maxRounds = 2)
    val g1 = Knn.appendToNnGraph(g0.localCheckpoint(), all,
      Seq(8L, 9L).toDF("vec_id"), 2)
    val g2 = Knn.deleteFromNnGraph(g1.localCheckpoint(),
      Seq(5L).toDF("vec_id"), all, 2)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(Knn.readNnGraphStore(spark, s"$root/graph")) == edges(g2),
      "streamed store must equal the batch build→append→delete twin")
    // the companion vector table tracked every mutation
    val vids = Knn.readNnVecStore(spark, s"$root/vectors")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(vids == (0 to 9).map(_.toLong).toSet - 5L,
      s"vector table must hold the live ids, got $vids")
    assert(Knn.storeLastEpoch(spark, root) == 2L)
  }

  test("streaming vamana maintenance: batch build, walk+prune insert, α-RNG delete consolidation") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    def pt(i: Int): (Long, Seq[Double]) =
      (i.toLong, Seq(math.cos(i * 0.1), math.sin(i * 0.1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft-vamana-stream").toString
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.vamanaStream(
      stream.toDF().toDF("vec_id", "v"), root, degreeCap = 3)
    def edges() = Knn.readNnGraphStore(spark, s"$root/graph")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // epoch 0 BUILDS: NN-descent seed + robust prune on the batch
      stream.addData((0 to 7).map(pt): _*)
      query.processAllAvailable()
      val g0 = edges()
      assert(g0.groupBy(_._1).forall(_._2.size <= 3), "cap after build")
      // epoch 1 INSERTS two chain extensions through walk+prune
      stream.addData(pt(8), pt(9))
      query.processAllAvailable()
      val g1 = edges()
      assert(Seq(8L, 9L).forall(id => g1.exists(_._1 == id)),
        "inserted nodes wired")
      assert(g1.groupBy(_._1).forall(_._2.size <= 3), "cap after insert")
      // epoch 2 DELETES node 5 — the streamed consolidation must be
      // digit-equal to the batch α-RNG twin over the SAME store state
      val stage = s"$root/_twin"
      g1.toSeq.toDF("q_id", "vec_id")
        .write.mode("overwrite").parquet(s"$stage/g1")
      (0 to 9).map(pt).toDF("vec_id", "v")
        .write.mode("overwrite").parquet(s"$stage/vecs")
      val expect = Knn.vamanaDeleteOf(
        spark.read.parquet(s"$stage/g1"),
        Seq(5L).toDF("vec_id"),
        spark.read.parquet(s"$stage/vecs"), degreeCap = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      stream.addData((5L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
      assert(edges() === expect,
        "streamed α-RNG consolidation must equal the batch twin")
    } finally query.stop()
    val vids = Knn.readNnVecStore(spark, s"$root/vectors")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(vids === (0 to 9).map(_.toLong).toSet - 5L)
    assert(Knn.storeLastEpoch(spark, root) === 2L)
  }

  test("streaming graph: inserts after an in-stream compaction generation flip must not rebuild from the batch") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    def pt(i: Int): (Long, Seq[Double]) =
      (i.toLong, Seq(math.cos(i * 0.1), math.sin(i * 0.1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft-graph-genflip").toString
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.nnGraphStream(
      stream.toDF().toDF("vec_id", "v"), root, k = 2)
    try {
      stream.addData((0 to 7).map(pt): _*)
      query.processAllAvailable()
      // the generation flip the stream's own auto-compaction commits:
      // the graph ROOT now has no nbucket= children, only _gen_1
      Knn.compactNnGraphStore(spark, s"$root/graph")
      assert(Knn.storeGen(spark, s"$root/graph") === 1L)
      // the next insert epoch must take the DELTA path — a root
      // probe would see "no store" and overwrite the whole graph +
      // vector store with just this micro-batch
      stream.addData(pt(8), pt(9))
      query.processAllAvailable()
    } finally query.stop()
    val vids = Knn.readNnVecStore(spark, s"$root/vectors")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(vids === (0 to 9).map(_.toLong).toSet,
      s"post-flip insert must keep the ingested corpus, got $vids")
    val nodes = Knn.readNnGraphStore(spark, s"$root/graph")
      .select($"q_id").distinct().count()
    assert(nodes === 10L, "every ingested node keeps its edge rows")
  }

  test("streaming PQ: a delete notice preceding the first build must not wedge later epochs") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val p = java.nio.file.Files
      .createTempDirectory("graft-pq-pre-del").toString + "/index"
    Knn.writePqQuantizer(spark, sfDir, p)
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .filter($"vec_id" < 10L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.pqIndexStream(
      stream.toDF().toDF("vec_id", "v"), p,
      maxTombstones = 100L, maxFilesPerCell = 100.0)
    try {
      // epoch 0: ONLY a delete notice — no build may run (an empty
      // cell-less write would wedge every later epoch's read), but
      // the tombstone lands
      stream.addData((7L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
      assert(spark.read.parquet(s"$p/_tombstones").count() === 1)
      // epoch 1: first real inserts, including the pre-deleted id —
      // the build must run and revive it
      stream.addData(7L -> vecs(7L), 8L -> vecs(8L))
      query.processAllAvailable()
    } finally query.stop()
    val data = Knn.storeDataDir(spark, p)
    val ids = spark.read.parquet(s"$data/codes")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(7L, 8L))
    assert(spark.read.parquet(s"$p/_tombstones").count() === 0,
      "the arriving id must revive its pre-build tombstone")
    Caches.releaseAll()
  }

  test("streaming IVF: a re-embed after an in-stream OPTIMIZE generation flip must replace, not append") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val p = java.nio.file.Files
      .createTempDirectory("graft-ivf-genflip").toString + "/index"
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val stream = MemoryStream[(Long, Seq[Double])]
    // maxTombstones=0: the first delete notice triggers the
    // in-stream OPTIMIZE, committing a _gen_1 layout
    val query = IngestStream.ivfIndexStream(
      stream.toDF().toDF("vec_id", "v"), p, cents,
      maxTombstones = 0L, maxFilesPerCell = 100.0)
    try {
      stream.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)))
      query.processAllAvailable()
      stream.addData((2L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
      assert(Knn.storeGen(spark, p) >= 1L, "the OPTIMIZE committed a gen")
      // post-flip re-embed of id 1, moving cells — a root-probing
      // build branch would append a second copy without the remove
      stream.addData((1L, Seq(0.1, 0.9)))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.read.parquet(Knn.storeDataDir(spark, p))
      .filter($"vec_id" === 1L)
    assert(rows.count() === 1L,
      "the re-embed must physically replace the old copy")
    val served = Knn.serveFromIvfIndex(spark, p, cents,
        Seq((100L, Seq(0.1, 0.9))).toDF("q_id", "qv"), nprobe = 2, k = 5)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(served === Seq(1L))
  }

  test("streaming IVF: a delete notice preceding the first build must not hide the later insert") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    val p = java.nio.file.Files
      .createTempDirectory("graft-ivf-pre-del").toString + "/index"
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.ivfIndexStream(
      stream.toDF().toDF("vec_id", "v"), p, cents,
      maxTombstones = 100L, maxFilesPerCell = 100.0)
    try {
      // epoch 0: ONLY a delete notice — the store has no cells yet,
      // so the id tombstones with no data behind it
      stream.addData((7L, null.asInstanceOf[Seq[Double]]))
      query.processAllAvailable()
      assert(spark.read.parquet(s"$p/_tombstones").count() == 1)
      // epoch 1: the first INSERTS arrive, including the id deleted
      // above — the build path must revive it (the upsert rule:
      // a delete followed by a later re-add serves the re-add)
      stream.addData((7L, Seq(0.9, 0.1)), (8L, Seq(0.1, 0.9)))
      query.processAllAvailable()
    } finally query.stop()
    val served = Knn.serveFromIvfIndex(spark, p, cents,
        Seq((100L, Seq(1.0, 0.0))).toDF("q_id", "qv"), nprobe = 2, k = 5)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(served == Set(7L, 8L),
      s"the re-added id must serve after the stale tombstone, got $served")
    assert(Knn.storeLastEpoch(spark, p) == 1L)
  }

  test("streaming graph: delete wins inside the build epoch; re-delivered inserts remove-then-add") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Knn

    def pt(i: Int): (Long, Seq[Double]) =
      (i.toLong, Seq(math.cos(i * 0.1), math.sin(i * 0.1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft-graph-rta").toString
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = IngestStream.nnGraphStream(
      stream.toDF().toDF("vec_id", "v"), root, k = 2)
    try {
      // epoch 0: inserts 0..5 PLUS a delete notice for 3 in the same
      // batch — delete wins, 3 never enters either store
      stream.addData(((0 to 5).map(pt) :+
        (3L, null.asInstanceOf[Seq[Double]])): _*)
      query.processAllAvailable()
      val v0 = Knn.readNnVecStore(spark, s"$root/vectors")
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(v0 == Set(0L, 1L, 2L, 4L, 5L),
        s"same-batch delete must win at build, got $v0")
      // epoch 1: id 4 re-delivers with a CHANGED vector (a re-embed —
      // the same shape a replayed half-epoch has; still near the
      // chain so the LSH seeding finds its buckets) plus a new id 6
      stream.addData((4L, Seq(math.cos(0.45), math.sin(0.45))), pt(6))
      query.processAllAvailable()
    } finally query.stop()

    val vecs = Knn.readNnVecStore(spark, s"$root/vectors")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // exactly one copy of the re-embedded id, carrying the NEW vector
    assert(vecs.count(_._1 == 4L) == 1, "remove-then-add: single copy")
    assert(vecs.find(_._1 == 4L).get._2.head == math.cos(0.45))
    val g = Knn.readNnGraphStore(spark, s"$root/graph")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val live = vecs.map(_._1).toSet
    assert(live == Set(0L, 1L, 2L, 4L, 5L, 6L))
    // graph validity: every endpoint live, ≤k edges per source, no
    // duplicate edges, and both touched ids present as sources
    assert(g.forall { case (q, v) => live(q) && live(v) && q != v },
      "no edge may reference a dead or duplicate node")
    assert(g.groupBy(_._1).forall(_._2.size <= 2), "degree bound k=2")
    assert(g.distinct.size == g.size, "no duplicate edges")
    assert(g.exists(_._1 == 4L) && g.exists(_._1 == 6L),
      "re-embedded and new nodes must both be wired in")
    assert(Knn.storeLastEpoch(spark, root) == 1L)
  }

  test("CDC sync stream keeps page metadata: built, changed and new pages carry their source") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TextIndex

    val idx = java.nio.file.Files
      .createTempDirectory("graft-ti-sync-meta").toString + "/index"
    val stream = MemoryStream[(Long, String, String)]
    val query = IngestStream.syncIndexStream(
      stream.toDF().toDF("doc_id", "text", "source"), idx)
    try {
      stream.addData((1L, "spark joins filter tables", "sA"),
        (2L, "old text of page two", "sB"))
      query.processAllAvailable()
      // page 1 re-crawls unchanged, page 2 changed, page 3 is new
      stream.addData((1L, "spark joins filter tables", "sA"),
        (2L, "the quick brown fox joins the lazy dog", "sB"),
        (3L, "filter spark filter join join join", "sA"))
      query.processAllAvailable()
      // a delete notice carries no metadata
      stream.addData((1L, null.asInstanceOf[String], null.asInstanceOf[String]))
      query.processAllAvailable()
    } finally query.stop()
    val counts = TextIndex.countChunksServe(spark, idx, "source")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(counts == Map(Some("sA") -> 1L, Some("sB") -> 1L),
      s"every live page must keep its source, got $counts")
    assert(TextIndex.docsTable(spark, idx)
      .select($"doc_id", $"source").orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "sB"), (3L, "sA")))
  }

  test("CDC sync stream: delete wins inside the first build epoch") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TextIndex

    val idx = java.nio.file.Files
      .createTempDirectory("graft-ti-sync-bd").toString + "/index"
    val stream = MemoryStream[(Long, String)]
    val query = IngestStream.syncIndexStream(
      stream.toDF().toDF("doc_id", "text"), idx)
    try {
      // first batch: two fetches plus a delete notice for one of
      // them — the fresh index must only hold the surviving page
      stream.addData((1L, "spark joins filter tables"),
        (2L, "page two text"), (2L, null.asInstanceOf[String]))
      query.processAllAvailable()
    } finally query.stop()
    val served = TextIndex.bm25Serve(spark, idx, Seq("spark"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(served == Set(1L))
    assert(TextIndex.contentTable(spark, idx)
      .select($"doc_id").collect().map(_.getLong(0)).toSet == Set(1L),
      "the deleted page must not be in the stored fields")
  }
}

/** Top-level (not nested in the spec) so the batch toDF() encoder
  * resolves without an outer-scope registration. */
final case class SwEv(user_id: Long, ts: java.sql.Timestamp, value: Double)
final case class SegEv(ts: java.sql.Timestamp, user_id: Long, value: Double)
