package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Sessions
import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event

/** Streaming extension: watermarked windowed aggregation driven by
  * MemoryStream micro-batches (incremental updates, late-data drop) and
  * keyed session state. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(ts), user, typ, v)

  test("streaming ingest dedup: duplicate content within the watermark is dropped") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val deduped = EventsStream.dedupedStream(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "text")
    val q = deduped.writeStream
      .outputMode("append").format("memory").queryName("dedup_test").start()
    try {
      stream.addData(
        (1L, Timestamp.valueOf("2024-01-01 01:00:00"), "alpha doc"),
        (2L, Timestamp.valueOf("2024-01-01 01:10:00"), "alpha doc"), // dup content
        (3L, Timestamp.valueOf("2024-01-01 01:20:00"), "beta doc"))
      q.processAllAvailable()
      stream.addData( // later micro-batch, still within the watermark
        (4L, Timestamp.valueOf("2024-01-01 01:30:00"), "alpha doc"),
        (5L, Timestamp.valueOf("2024-01-01 01:40:00"), "gamma doc"))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).toSet
      // one survivor per distinct content; state carried across batches
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("streaming doc prep: dedup, quality gate, and token counts across micro-batches") {
    implicit val sc = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val soup = "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( )))"
    val stream = MemoryStream[(Long, Timestamp, String)]
    val prepped = EventsStream.preppedDocStream(
      stream.toDF().toDF("doc_id", "ts", "text"))
    val q = prepped.writeStream
      .outputMode("append").format("memory").queryName("prep_test").start()
    try {
      stream.addData(
        (1L, Timestamp.valueOf("2024-01-01 01:00:00"), good),
        (2L, Timestamp.valueOf("2024-01-01 01:10:00"), soup), // quality-gated
        (3L, Timestamp.valueOf("2024-01-01 01:20:00"), good)) // dup of 1
      q.processAllAvailable()
      stream.addData(
        (4L, Timestamp.valueOf("2024-01-01 01:30:00"), good), // dup across batches
        (5L, Timestamp.valueOf("2024-01-01 01:40:00"), "short"))  // < 5 tokens → score 0
      q.processAllAvailable()
      val rows = spark.table("prep_test").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens")).toMap
      assert(rows.keySet == Set(1L), s"got ${rows.keySet}")
      assert(rows(1L) == good.split(" ").length)
    } finally q.stop()
  }

  test("windowed counts update incrementally across micro-batches") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventsStream.startWindowedQuery(stream.toDF(), "win_test")
    try {
      stream.addData(
        ev(1, "2024-01-01 01:00:00", 1, "click", 1.5),
        ev(2, "2024-01-01 02:00:00", 1, "click", 2.5),
        ev(3, "2024-01-01 03:00:00", 2, "view", 1.0))
      q.processAllAvailable()
      val r1 = spark.table("win_test")
        .groupBy("window_start", "event_type")
        .agg(max("n_events").as("n_events")) // update mode: keep latest
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(r1("click") == 2 && r1("view") == 1)

      // second micro-batch updates the same window
      stream.addData(ev(4, "2024-01-01 04:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      val r2 = spark.table("win_test")
        .groupBy("window_start", "event_type")
        .agg(max("n_events").as("n_events"))
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(r2("click") == 3)
    } finally q.stop()
  }

  test("session_window: gap-split sessions finalize when the watermark passes") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val sessions = EventsStream.sessionWindows(stream.toDF(), gap = "30 minutes")
    val q = sessions.writeStream
      .outputMode("append").format("memory").queryName("session_test").start()
    try {
      stream.addData(
        ev(1, "2024-01-01 01:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 01:10:00", 1, "click", 2.0), // < gap → same session
        ev(3, "2024-01-01 03:00:00", 1, "view", 4.0),  // > gap → new session
        ev(4, "2024-01-01 01:05:00", 2, "view", 8.0))
      q.processAllAvailable()
      // nothing final yet: watermark (max ts − 1h = 02:00) has not
      // passed every session end… the 01:xx sessions (ends 01:40/01:35)
      // may emit, but the 03:00 one cannot
      stream.addData(ev(5, "2024-01-01 09:00:00", 3, "view", 0.0))
      q.processAllAvailable() // watermark → 08:00: all prior sessions final
      val rows = spark.table("session_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      val want = Set(
        ("2024-01-01 01:00:00.0", "2024-01-01 01:40:00.0", 1L, 2L, 3.0),
        ("2024-01-01 03:00:00.0", "2024-01-01 03:30:00.0", 1L, 1L, 4.0),
        ("2024-01-01 01:05:00.0", "2024-01-01 01:35:00.0", 2L, 1L, 8.0))
      assert(rows == want, s"got $rows")
      // the 09:00 session is still open (watermark has not passed it)
      assert(!rows.exists(_._3 == 3L), "open session leaked into append output")
    } finally q.stop()
  }

  test("session_window in batch mode equals the x29 gaps-and-islands sessions") {
    // the declarative session_window and the imperative lag/sum window
    // must agree on (user, session start, event count) — boundary
    // semantics differ only at diff == gap exactly (session_window
    // splits, the strict > keeps), so first prove the fixture has no
    // exact-boundary gap, then compare the full session sets
    val events = new graft.sources.ParquetSimSource(spark, sf)
      .fetch(graft.sources.FetchRequest("EVENTS"))
    val gapUs = 30L * 60L * 1000000L
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val exactBoundary = events.filter($"ts".isNotNull)
      .select($"user_id", $"event_id", unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .filter($"us" - $"prev_us" === gapUs).count()
    assert(exactBoundary == 0,
      "fixture has an exact-gap boundary — the two session definitions diverge here")
    // compare (user, duration_us, n_events) MULTISETS: session_window's
    // end is lastEvent + gap, so duration = (end − gap) − start
    val declarative = EventsStream.sessionWindows(
      events.filter($"ts".isNotNull).withColumn("ts", $"ts".cast("timestamp")),
      gap = "30 minutes")
      // duration in MICROS inside the query — java.sql.Timestamp.getTime
      // is ms-truncated and would shave the sub-ms digits off the bound
      .select($"user_id",
        (unix_micros($"session_end") - unix_micros($"session_start") - gapUs).as("dur"),
        $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val imperative = Sessions.sessionize(events, gapMinutes = 30).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(2))).toSeq.sorted
    assert(declarative.nonEmpty, "no sessions — test is vacuous")
    assert(declarative == imperative,
      s"batch session_window diverges from gaps-and-islands: " +
        s"${declarative.size} vs ${imperative.size} sessions; " +
        s"first diff ${declarative.zip(imperative).find(p => p._1 != p._2)}")
  }

  test("batch mode runs the same windowed aggregation (backfill path)") {
    val df = Seq(
      ev(1, "2024-01-01 01:00:00", 1, "click", 1.5),
      ev(2, "2024-01-02 01:00:00", 1, "click", 2.0)).toDF()
    val r = EventsStream.windowedCounts(df).collect()
    assert(r.length == 2)
    assert(r.map(_.getAs[Long]("n_events")).sum == 2)
  }

  test("neardupIngestQuery: batches dedup against a GROWING index across ticks") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("ndwh"))
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    def nearDupOf(t: String) = t.replace("w20", "CHANGED")
    val q = graft.ext.Dedup.MinhashIndex.ingestQuery(docs, writer, "nd", tmpDir("ndckpt"))
    try {
      // batch 0: two unrelated docs — bootstraps the index, no pairs
      stream.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(writer.read("nd_docs").count() == 2)

      // batch 1: 11 near-dups HISTORY doc 1; 12 duplicates 11 WITHIN
      // the batch; 13 is fresh → only 13 survives and joins the index
      stream.addData((11L, nearDupOf(base)), (12L, nearDupOf(base)),
        (13L, (1 to 40).map(i => s"z$i").mkString(" ")))
      q.processAllAvailable()
      val pairs1 = writer.read("nd_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs1.contains((1L, 11L)), s"history pair missing: $pairs1")
      assert(pairs1.contains((11L, 12L)) || pairs1.contains((1L, 12L)),
        s"within-batch dup not paired: $pairs1")
      val kept1 = writer.read("nd_docs").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(1L, 2L, 13L), s"kept $kept1")

      // batch 2: 21 near-dups doc 13 — which entered the index LAST
      // tick, proving the index grew (not just the bootstrap corpus)
      stream.addData((21L, (1 to 40).map(i => if (i == 5) "X" else s"z$i").mkString(" ")))
      q.processAllAvailable()
      val pairs2 = writer.read("nd_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2.contains((13L, 21L)), s"grown-index pair missing: $pairs2")
      assert(writer.read("nd_docs").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 13L), s"dup 21 must not land in the kept docs")
    } finally q.stop()
  }

  test("compactMinhashIndex: probes identical, partitions folded, later ticks unaffected") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("cmpwh"))
    def mk(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val q = graft.ext.Dedup.MinhashIndex.ingestQuery(
      stream.toDF().toDF("doc_id", "text"), writer, "nd", tmpDir("cmpck"))
    try { // three ticks → three ingest_batch partitions per artifact
      stream.addData((1L, mk("w")), (2L, mk("q"))); q.processAllAvailable()
      stream.addData((3L, mk("z"))); q.processAllAvailable()
      stream.addData((4L, mk("y"))); q.processAllAvailable()
    } finally q.stop()
    val probe = Seq((100L, mk("z").replace("z7", "X"))).toDF("doc_id", "text")
    def probeSet() = graft.ext.Dedup.neardupAgainstIndex(probe, writer, "nd")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probeSet()
    assert(before.exists(p => p._1 == 3L && p._2 == 100L),
      s"probe found nothing pre-compaction: $before")
    graft.ext.Dedup.MinhashIndex.compact(writer, "nd", files = 1)
    assert(probeSet() == before, "compaction changed probe results")
    // layout: every tick partition folded into ingest_batch=-1, 1 file
    val bandsDir = new java.io.File(writer.path("nd__bands"))
    val parts = bandsDir.listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
    assert(parts == Set("ingest_batch=-1"), s"got $parts")
    val nFiles = new java.io.File(bandsDir, "ingest_batch=-1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 1, s"$nFiles files after compaction")
    // a later tick (fresh checkpoint → batch ids restart at 0, which
    // must NOT collide with compacted history) appends next to the
    // folded partition; both old and new history stay probe-visible
    val stream2 = MemoryStream[(Long, String)]
    val q2 = graft.ext.Dedup.MinhashIndex.ingestQuery(
      stream2.toDF().toDF("doc_id", "text"), writer, "nd", tmpDir("cmpck2"))
    try {
      stream2.addData((5L, mk("v"))); q2.processAllAvailable()
    } finally q2.stop()
    val probeV = Seq((101L, mk("v").replace("v7", "X"))).toDF("doc_id", "text")
    val afterTick = graft.ext.Dedup.neardupAgainstIndex(probeV, writer, "nd")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterTick.contains((5L, 101L)), s"post-compaction tick invisible: $afterTick")
    assert(probeSet() == before, "old history lost after the post-compaction tick")
  }

  test("jdbcIngestQuery: micro-batches land in Derby; a replayed batch never duplicates") {
    implicit val sc = spark.sqlContext
    val url = s"jdbc:derby:memory:jstr${System.nanoTime()};create=true"
    val writer = new graft.sinks.JdbcStagingWriter(spark, url)
    val stream = MemoryStream[(Long, String)]
    val q = EventsStream.jdbcIngestQuery(
      stream.toDF().toDF("doc_id", "text"), writer, "stream_docs", tmpDir("jdbcck"))
    try {
      stream.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      stream.addData((3L, "gamma")); q.processAllAvailable()
    } finally q.stop()
    def rows() = spark.read.jdbc(url, "stream_docs", new java.util.Properties)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val after = rows()
    assert(after == Set((1L, "alpha", 0L), (2L, "beta", 0L), (3L, "gamma", 1L)),
      s"got $after")
    // an at-least-once REPLAY of batch 0 (same id, same data) must
    // REPLACE its slice, not append a duplicate
    writer.writeBatchIdempotent(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), "stream_docs", 0L)
    assert(rows() == after, s"replay duplicated rows: ${rows()}")
  }

  test("writeBatchIdempotent: mixed-case table name replays cleanly (quoted, schema-scoped DELETE)") {
    val url = s"jdbc:derby:memory:jmix${System.nanoTime()};create=true"
    val writer = new graft.sinks.JdbcStagingWriter(spark, url)
    // mixed case + underscore: exercises identifier quoting AND the
    // LIKE-metacharacter escaping in the stored-name lookup
    val table = "Mixed_Case"
    writer.writeBatchIdempotent(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), table, 0L)
    writer.writeBatchIdempotent(
      Seq((3L, "c")).toDF("doc_id", "text"), table, 1L)
    // replay of batch 0 with DIFFERENT content must REPLACE its slice —
    // an unquoted or wrong-schema DELETE silently misses and appends
    writer.writeBatchIdempotent(
      Seq((1L, "a2")).toDF("doc_id", "text"), table, 0L)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      val esc = md.getSearchStringEscape
      val stored = Seq(table, table.toUpperCase).distinct.flatMap { n =>
        val rs = md.getTables(null, conn.getSchema,
          n.replace("_", esc + "_"), null)
        try { if (rs.next()) Some(rs.getString("TABLE_NAME")) else None }
        finally rs.close()
      }.head
      val qi = md.getIdentifierQuoteString
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${qi}doc_id$qi, ${qi}text$qi, ${qi}ingest_batch$qi FROM $qi$stored$qi")
      val got = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got == Set((1L, "a2", 0L), (3L, "c", 1L)),
        s"replay did not replace its slice: $got")
    } finally conn.close()
  }

  test("compactEmbedIndex: probes identical, geometry sidecar untouched") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("cmpemb"))
    val stream = MemoryStream[(Long, Seq[Double])]
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val c = (1 to 64).map(i => math.cos(i * 3.7))
    val z = (1 to 64).map(i => math.sin(i * 2.9 + 1))
    val q = graft.ext.Similarity.SignLshIndex().ingestQuery(
      stream.toDF().toDF("vec_id", "embedding"), writer, "ei", tmpDir("cmpembck"),
      threshold = 0.99)
    try { // two ticks → two partitions per artifact
      stream.addData((1L, a), (2L, c)); q.processAllAvailable()
      stream.addData((3L, z)); q.processAllAvailable()
    } finally q.stop()
    val probe = Seq((100L, z.map(_ * 0.5))).toDF("vec_id", "embedding")
    def probeSet() = graft.ext.Similarity
      .embedNeardupAgainstIndex(probe, writer, "ei", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probeSet()
    assert(before.exists(p => p._1 == 3L && p._2 == 100L),
      s"probe found nothing pre-compaction: $before")
    val metaBefore = writer.read("ei__lshmeta").collect().toSeq
    graft.ext.Similarity.SignLshIndex().compact(writer, "ei", files = 1)
    assert(probeSet() == before, "compaction changed embed probe results")
    assert(writer.read("ei__lshmeta").collect().toSeq == metaBefore,
      "compaction touched the geometry sidecar")
    val parts = new java.io.File(writer.path("ei__vecs")).listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
    assert(parts == Set("ingest_batch=-1"), s"got $parts")
  }

  test("embedNeardupIngestQuery: cosine dedup against a growing sign-LSH index") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("embwh"))
    val stream = MemoryStream[(Long, Seq[Double])]
    val emb = stream.toDF().toDF("vec_id", "embedding")
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val c = (1 to 64).map(i => math.cos(i * 3.7))
    val z = (1 to 64).map(i => math.sin(i * 2.9 + 1))
    def scaled(v: Seq[Double], f: Double) = v.map(_ * f) // cosine 1.0 with v
    val q = graft.ext.Similarity.SignLshIndex().ingestQuery(emb, writer, "ei", tmpDir("eickpt"),
      threshold = 0.99)
    try {
      // batch 0 bootstraps: two far vectors, no pairs
      stream.addData((1L, a), (2L, c))
      q.processAllAvailable()
      assert(writer.read("ei_docs").count() == 2)

      // batch 1: 11 = scaled copy of history vec 1; 12 = scaled copy
      // of 11 (within-batch); 13 fresh → only 13 survives
      stream.addData((11L, scaled(a, 0.75)), (12L, scaled(a, 1.25)), (13L, z))
      q.processAllAvailable()
      val kept1 = writer.read("ei_docs").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(1L, 2L, 13L), s"kept $kept1")
      val pairs1 = writer.read("ei_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs1.contains((1L, 11L)), s"history pair missing: $pairs1")

      // batch 2: 21 duplicates 13 — indexed only LAST tick: the index grew
      stream.addData((21L, scaled(z, 0.5)))
      q.processAllAvailable()
      assert(writer.read("ei_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((13L, 21L)),
        "grown-index pair missing")
      assert(writer.read("ei_docs").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 13L))
    } finally q.stop()
  }

  test("ingest ticks are idempotent under at-least-once replay (both index kinds)") {
    // foreachBatch replays a batch after a crash between its writes and
    // the checkpoint commit — re-running the SAME tick must leave
    // pairs, kept docs, and the index byte-identical in content
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("replaywh"))
    val b0 = Seq((1L, base), (2L, (1 to 40).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val b1 = Seq((11L, base.replace("w20", "CHANGED")), (13L, "fresh " * 40))
      .toDF("doc_id", "text")
    def state(): (Set[Long], Set[(Long, Long)], Seq[Long]) = (
      writer.read("nd_docs").collect().map(_.getLong(0)).toSet,
      writer.read("nd_pairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      graft.ext.Dedup.MinhashIndex.artifacts.map(a => writer.read("nd" + a).count()))
    graft.ext.Dedup.MinhashIndex.ingestBatch(b0, writer, "nd", 0.8, batchId = 0L)
    graft.ext.Dedup.MinhashIndex.ingestBatch(b1, writer, "nd", 0.8, batchId = 1L)
    val before = state()
    assert(before._1 == Set(1L, 2L, 13L) && before._2 == Set((1L, 11L)))
    // replay BOTH ticks (11 now collides with its own indexed history;
    // 1's copy self-matches) — state must not change
    graft.ext.Dedup.MinhashIndex.ingestBatch(b0, writer, "nd", 0.8, batchId = 0L)
    graft.ext.Dedup.MinhashIndex.ingestBatch(b1, writer, "nd", 0.8, batchId = 1L)
    assert(state() == before, s"minhash replay drifted: ${state()} vs $before")

    // embedding loop: same discipline
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val e0 = Seq((1L, a), (2L, (1 to 64).map(i => math.cos(i * 3.7))))
      .toDF("vec_id", "embedding")
    val e1 = Seq((11L, a.map(_ * 0.75)), (13L, (1 to 64).map(i => math.sin(i * 2.9 + 1))))
      .toDF("vec_id", "embedding")
    def estate(): (Set[Long], Set[(Long, Long)], Long, Long) = (
      writer.read("ei_docs").collect().map(_.getLong(0)).toSet,
      writer.read("ei_pairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      writer.read("ei__embbands").count(),
      writer.read("ei__vecs").count())
    graft.ext.Similarity.SignLshIndex().ingestBatch(e0, writer, "ei", 0.99, batchId = 0L)
    graft.ext.Similarity.SignLshIndex().ingestBatch(e1, writer, "ei", 0.99, batchId = 1L)
    val ebefore = estate()
    assert(ebefore._1 == Set(1L, 2L, 13L) && ebefore._2 == Set((1L, 11L)))
    graft.ext.Similarity.SignLshIndex().ingestBatch(e0, writer, "ei", 0.99, batchId = 0L)
    graft.ext.Similarity.SignLshIndex().ingestBatch(e1, writer, "ei", 0.99, batchId = 1L)
    assert(estate() == ebefore, s"embed replay drifted: ${estate()} vs $ebefore")
  }

  test("streamToStaging appends every micro-batch through the EntityWriter") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("whs"))
    val stream = MemoryStream[Event]
    val q = EventsStream.streamToStaging(
      stream.toDF(), writer, "EVENTS", tmpDir("ckpt"))
    try {
      stream.addData(ev(1, "2024-01-01 01:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      assert(writer.read("stg_events").count() == 1)
      stream.addData(
        ev(2, "2024-01-01 02:00:00", 2, "view", 1.0),
        ev(3, "2024-01-01 03:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      assert(writer.read("stg_events").count() == 3)
    } finally q.stop()
  }

  test("streamToStaging restart from checkpoint does not re-append delivered batches") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("whs2"))
    val ckpt = tmpDir("ckpt2")
    val stream = MemoryStream[Event]
    val q1 = EventsStream.streamToStaging(stream.toDF(), writer, "EVENTS", ckpt)
    try {
      stream.addData(ev(1, "2024-01-01 01:00:00", 1, "click", 1.0))
      q1.processAllAvailable()
      assert(writer.read("stg_events").count() == 1)
    } finally q1.stop()

    // restart on the SAME checkpoint: offsets replay from the committed
    // point, so the already-delivered batch must not append again
    val q2 = EventsStream.streamToStaging(stream.toDF(), writer, "EVENTS", ckpt)
    try {
      stream.addData(ev(2, "2024-01-01 02:00:00", 2, "view", 1.0))
      q2.processAllAvailable()
      assert(writer.read("stg_events").count() == 2)
    } finally q2.stop()
  }

  test("sessionize keeps per-user running counts across batches") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventsStream.sessionize(spark, stream.toDS(), timeoutMs = None)
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_test").start()
    try {
      stream.addData(
        ev(1, "2024-01-01 01:00:00", 7, "click", 1.0),
        ev(2, "2024-01-01 01:01:00", 7, "click", 1.0),
        ev(3, "2024-01-01 01:02:00", 8, "view", 1.0))
      q.processAllAvailable()
      stream.addData(ev(4, "2024-01-01 01:03:00", 7, "click", 1.0))
      q.processAllAvailable()
      val counts = spark.table("sess_test")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts(7L) == 3 && counts(8L) == 1)
      assert(spark.table("sess_test").filter(col("closed")).count() == 0)
    } finally q.stop()
  }

  test("feedLiveness: event-time timeout fires for the silent type, recovery re-arms") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventsStream.feedLiveness(spark, stream.toDS())
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("live_test").start()
    try {
      // day 1: both types alive
      stream.addData(
        ev(1, "2024-01-01 12:00:00", 1, "click", 0),
        ev(2, "2024-01-01 12:00:00", 2, "view", 0))
      q.processAllAvailable()
      assert(spark.table("live_test").count() == 0, "no alerts while fresh")
      // day 5 clicks advance the watermark past view's day-3 deadline
      stream.addData(ev(3, "2024-01-05 12:00:00", 1, "click", 0))
      q.processAllAvailable()
      // one more batch so the timeout (evaluated against the ADVANCED
      // watermark) actually fires
      stream.addData(ev(4, "2024-01-05 13:00:00", 1, "click", 0))
      q.processAllAvailable()
      val alerts = spark.table("live_test")
        .collect().map(r => (r.getString(0), r.getBoolean(2))).toSet
      assert(alerts == Set(("view", true)), s"alerts: $alerts")
      // view recovers: a fresh event emits silent=false and re-arms
      stream.addData(ev(5, "2024-01-05 14:00:00", 2, "view", 0))
      q.processAllAvailable()
      val after = spark.table("live_test")
        .collect().map(r => (r.getString(0), r.getBoolean(2))).toSet
      assert(after == Set(("view", true), ("view", false)), s"after: $after")
    } finally q.stop()
  }

  test("botState: in-order replay across micro-batches equals the batch botFlags") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventsStream.botState(spark, stream.toDS(), timeoutMs = None)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("bot_test").start()
    // user 2 rapid-fires at 0.5 s; user 3 lands 13 events on one day;
    // user 1 stays human; the day split lands MID-STREAM so the state
    // carries day counts across batches
    val batch1 =
      Seq(ev(1, "2024-01-01 01:00:00", 1, "click", 0),
        ev(2, "2024-01-01 02:00:00", 1, "view", 0),
        ev(10, "2024-01-01 01:00:00", 2, "click", 0)) ++
        (0 until 7).map(i =>
          ev(20 + i, s"2024-01-01 0${i + 1}:00:00", 3, "view", 0))
    val batch2 =
      Seq(ev(3, "2024-01-02 01:00:00", 1, "click", 0),
        ev(11, "2024-01-01 01:00:00.5", 2, "click", 0)) ++
        (0 until 6).map(i =>
          ev(27 + i, s"2024-01-01 ${i + 10}:00:00", 3, "view", 0))
    try {
      stream.addData(batch1: _*); q.processAllAvailable()
      stream.addData(batch2: _*); q.processAllAvailable()
      // Update mode emits one row per (user, batch); the LAST row per
      // user is the final profile — compare it against the batch form
      val fin = spark.table("bot_test")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
      val batchAll = (batch1 ++ batch2).toDS().toDF()
        .select(col("event_id"), col("user_id"), col("ts"))
      val expected = Sessions.botFlags(batchAll)
      val g = fin.collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("active_days"),
          r.getAs[Long]("max_day_events"),
          Option(r.getAs[Any]("min_gap_us")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_bot")))).toMap
      val e = expected.collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("active_days"),
          r.getAs[Long]("max_day_events"),
          Option(r.getAs[Any]("min_gap_us")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_bot")))).toMap
      assert(g == e, s"stream $g\nvs batch $e")
      assert(g(2L)._5 && g(3L)._5 && !g(1L)._5, s"flag split: $g")
    } finally q.stop()
  }

  test("mediaNeardupIngestQuery: perceptual dedup against a growing dHash index") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("mdwh"))
    val stream = MemoryStream[(Long, String)]
    val media = graft.ext.Multimodal.mediaTable(
      stream.toDF().toDF("doc_id", "text"))
    // structurally DISTINCT strings (token lengths differ, not just a
    // letter): uniform "w1 w2 ..." vs "q1 q2 ..." share almost every
    // adjacent-byte comparison and legitimately near-dup under dHash —
    // pairwise hamming of these three is 25-37 (simulated), subst is 0
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => "b" * (i % 6 + 1) + (i * i)).mkString(" ")
    val subst = base.replace("w20", "x20") // same length, few bits flip
    val fresh = (1 to 35).map(i => s"${i * 37}z" + "y" * (i % 5)).mkString(" ")
    val q = graft.ext.Multimodal.DhashIndex.ingestQuery(media, writer, "md", tmpDir("mdckpt"))
    try {
      // batch 0: two unrelated payloads — bootstraps the index
      stream.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(writer.read("md_docs").count() == 2)
      assert(writer.exists("md_dhash_bands"), "index not bootstrapped")

      // batch 1: 11 near-dups HISTORY doc 1 (substitution); 12 exactly
      // copies 11 WITHIN the batch; 13 is fresh
      stream.addData((11L, subst), (12L, subst), (13L, fresh))
      q.processAllAvailable()
      val pairs1 = writer.read("md_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs1.contains((1L, 11L)), s"history pair missing: $pairs1")
      assert(pairs1.contains((11L, 12L)) || pairs1.contains((1L, 12L)),
        s"within-batch copy not paired: $pairs1")
      val kept1 = writer.read("md_docs").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(1L, 2L, 13L), s"kept $kept1")

      // batch 2: 21 copies doc 13 — which entered the index LAST tick,
      // proving the index grew beyond the bootstrap corpus
      stream.addData((21L, fresh))
      q.processAllAvailable()
      val pairs2 = writer.read("md_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2.contains((13L, 21L)), s"grown-index pair missing: $pairs2")
      assert(writer.read("md_docs").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 13L), s"copy 21 must not land in the kept docs")

      // at-least-once replay: re-running the LAST tick with the same
      // batch id must leave pairs/docs/index byte-identical
      def state() = (
        writer.read("md_pairs").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
        writer.read("md_docs").collect().map(_.getLong(0)).toSet,
        writer.read("md_dhash_bands").count(),
        writer.read("md_dhash_sigs").count())
      val before = state()
      graft.ext.Multimodal.DhashIndex.ingestBatch(
        graft.ext.Multimodal.mediaTable(
          Seq((21L, fresh)).toDF("doc_id", "text")),
        writer, "md", 3, batchId = 2L)
      assert(state() == before, "replayed media tick changed state")
    } finally q.stop()
  }

  test("compactDhashIndex: probes identical, partitions folded, later ticks unaffected") {
    implicit val sc = spark.sqlContext
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("cmdwh"))
    // structurally distinct strings (simulated pairwise hamming 25-37)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => "b" * (i % 6 + 1) + (i * i)).mkString(" ")
    val fresh = (1 to 35).map(i => s"${i * 37}z" + "y" * (i % 5)).mkString(" ")
    val g4 = (1 to 44).map(i => "m" + "o" * (i % 3) + (i * 13)).mkString(" ")
    def md(df: org.apache.spark.sql.DataFrame) = graft.ext.Multimodal.mediaTable(df)
    val stream = MemoryStream[(Long, String)]
    val q = graft.ext.Multimodal.DhashIndex.ingestQuery(
      md(stream.toDF().toDF("doc_id", "text")), writer, "md", tmpDir("cmdck"))
    try { // two ticks -> two ingest_batch partitions per artifact
      stream.addData((1L, base), (2L, other)); q.processAllAvailable()
      stream.addData((3L, fresh)); q.processAllAvailable()
    } finally q.stop()
    val probe = md(Seq((100L, fresh.replace("37z", "37Q")))
      .toDF("doc_id", "text"))
    def probeSet() = graft.ext.Multimodal
      .dhashNeardupAgainstIndex(probe, writer, "md")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probeSet()
    assert(before.exists(p => p._1 == 3L && p._2 == 100L),
      s"probe found nothing pre-compaction: $before")
    graft.ext.Multimodal.DhashIndex.compact(writer, "md", files = 1)
    assert(probeSet() == before, "compaction changed probe results")
    val bandsDir = new java.io.File(writer.path("md_dhash_bands"))
    val parts = bandsDir.listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
    assert(parts == Set("ingest_batch=-1"), s"got $parts")
    // a post-compaction tick (fresh checkpoint, ids restart at 0)
    // appends next to the folded history; both stay probe-visible
    val stream2 = MemoryStream[(Long, String)]
    val q2 = graft.ext.Multimodal.DhashIndex.ingestQuery(
      md(stream2.toDF().toDF("doc_id", "text")), writer, "md", tmpDir("cmdck2"))
    try {
      stream2.addData((5L, g4)); q2.processAllAvailable()
    } finally q2.stop()
    val probeG = md(Seq((101L, g4.replace("m13", "mQ3")))
      .toDF("doc_id", "text"))
    val afterTick = graft.ext.Multimodal
      .dhashNeardupAgainstIndex(probeG, writer, "md")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterTick.contains((5L, 101L)), s"post-compaction tick invisible: $afterTick")
    assert(probeSet() == before, "old history lost after the post-compaction tick")
  }

  test("enrichIngestQuery: per-batch dim re-read picks up updates; unmatched keys keep NULL") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dimPath = tmpDir("dim") + "/seg"
    Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(dimPath)
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("enrwh"))
    val stream = MemoryStream[(Long, Long)]
    val q = EventsStream.enrichIngestQuery(
      stream.toDF().toDF("event_id", "user_id"),
      () => spark.read.parquet(dimPath),
      Seq("user_id"), writer, "enriched", tmpDir("enrck"))
    try {
      stream.addData((10L, 1L), (11L, 3L)) // 3 has no dim row
      q.processAllAvailable()
      // the dimension CHANGES between ticks: user 1 re-segmented,
      // user 3 appears — the per-batch re-read must see both
      Seq((1L, "platinum"), (3L, "bronze")).toDF("user_id", "segment")
        .write.mode("overwrite").parquet(dimPath)
      stream.addData((12L, 1L), (13L, 3L))
      q.processAllAvailable()
      val got = writer.read("enriched").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[String]("segment"))).toMap
      assert(got == Map(
        10L -> Some("gold"), 11L -> None,             // batch 1: v1 dim
        12L -> Some("platinum"), 13L -> Some("bronze") // batch 2: v2 dim
      ), s"got $got")
    } finally q.stop()
  }

  test("rollupIngestQuery: merged partials equal the batch rollup; replay and compaction are no-ops") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val writer = new graft.sinks.StagingWriter(spark, tmpDir("rollwh"))
    val stream = MemoryStream[(Timestamp, String, Option[Double])]
    val q = EventsStream.rollupIngestQuery(
      stream.toDF().toDF("ts", "event_type", "value"),
      writer, "rollup", tmpDir("rollck"))
    val b1 = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "a", Some(1.25)),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "a", Some(2.00)),
      (Timestamp.valueOf("2024-01-01 12:00:00"), "b", None: Option[Double]))
    val b2 = Seq(
      // same day as batch 1 — the straddling-day merge case
      (Timestamp.valueOf("2024-01-01 23:00:00"), "a", Some(4.50)),
      (Timestamp.valueOf("2024-01-02 01:00:00"), "a", Some(0.75)))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)))
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
      val direct = EventsStream.rollupPartial(
          (b1 ++ b2).toDF("ts", "event_type", "value"))
        .collect().map(row).toSet
      def current() = EventsStream.rollupRead(writer, "rollup")
        .collect().map(row).toSet
      assert(current() == direct, s"merge != direct: ${current()} vs $direct")
      // the straddling day merged across batches (n=3 on day 1 type a)
      assert(direct.exists(t => t._2 == "a" && t._3 == 3L))
      // at-least-once replay of batch 0 rewrites identical partials
      def stored() = writer.read("rollup").collect()
        .map(r => (row(r), r.getAs[Long]("ingest_batch"))).toSet
      val before = stored()
      writer.writeBatchPartition(
        EventsStream.rollupPartial(b1.toDF("ts", "event_type", "value")),
        "rollup", 0L)
      assert(stored() == before, "replay changed stored state")
      // compaction folds partitions without changing the read
      writer.compactBatchPartitions("rollup")
      assert(current() == direct, "compaction changed the merged rollup")
    } finally q.stop()
  }

  test("clickPurchaseJoin: stream-stream interval join — in-horizon pairs only, append-final") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = EventsStream.clickPurchaseJoin(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      horizon = "1 hour", delay = "10 minutes")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("cpj_test").start()
    try {
      clicks.addData(
        (1L, 7L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (2L, 7L, Timestamp.valueOf("2024-01-01 03:00:00")),
        (3L, 8L, Timestamp.valueOf("2024-01-01 01:00:00")))
      purchases.addData(
        (100L, 7L, Timestamp.valueOf("2024-01-01 01:30:00")), // in horizon of click 1
        (101L, 7L, Timestamp.valueOf("2024-01-01 02:30:00")), // 90min after click 1: out; before click 2: out
        (102L, 9L, Timestamp.valueOf("2024-01-01 01:10:00"))) // no click for user 9
      q.processAllAvailable()
      purchases.addData(
        (103L, 7L, Timestamp.valueOf("2024-01-01 03:20:00"))) // in horizon of click 2, cross-batch
      q.processAllAvailable()
      val got = spark.table("cpj_test").collect()
        .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(got == Set((1L, 100L), (2L, 103L)), s"got $got")
    } finally q.stop()
  }

  test("clickPurchaseJoin leftOuter: unconverted clicks emit NULL rows " +
    "only after the watermark closes their horizon") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = EventsStream.clickPurchaseJoin(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      horizon = "1 hour", delay = "10 minutes", joinType = "leftOuter")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("cpj_outer").start()
    def got() = spark.table("cpj_outer").collect()
      .map(r => (r.getAs[Long]("click_id"),
        Option(r.getAs[Any]("purchase_id")))).toSet
    try {
      clicks.addData(
        (1L, 7L, Timestamp.valueOf("2024-01-01 01:00:00")), // converts
        (2L, 7L, Timestamp.valueOf("2024-01-01 05:00:00"))) // never does
      purchases.addData(
        (100L, 7L, Timestamp.valueOf("2024-01-01 01:30:00")))
      q.processAllAvailable()
      // the match emits; the unconverted click must NOT have emitted a
      // NULL row yet — its horizon is still open
      assert(got() == Set((1L, Some(100L))), s"got ${got()}")
      // push both watermarks past 05:00 + horizon + delay, then one
      // more batch so eviction runs with the advanced watermark
      clicks.addData((3L, 8L, Timestamp.valueOf("2024-01-01 09:00:00")))
      purchases.addData((101L, 9L, Timestamp.valueOf("2024-01-01 09:00:00")))
      q.processAllAvailable()
      clicks.addData((4L, 8L, Timestamp.valueOf("2024-01-01 10:00:00")))
      purchases.addData((102L, 9L, Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(got().contains((2L, None)),
        s"unconverted click must emit a NULL pair after eviction: ${got()}")
      assert(!got().exists(p => p._1 == 3L || p._1 == 4L),
        s"still-open clicks must not emit: ${got()}")
    } finally q.stop()
  }

  test("scd2IngestQuery: ticks reproduce the one-shot changeHistory; " +
    "an applied tick's replay is marker-skipped") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val wh = new graft.sinks.StagingWriter(spark, tmpDir("scd2_wh"))
    val stream = MemoryStream[(Long, Long, Long, String)]
    val q = EventsStream.scd2IngestQuery(
      stream.toDF().toDF("k", "us", "tb", "attr"),
      wh, "dim_hist", "k", "us", "tb", "attr", tmpDir("scd2_ck"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version_idx", "attr", "valid_from_us", "n_obs",
        "valid_to_us", "is_current")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val t1 = Seq((1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"),
      (2L, 10L, 200L, "X"))
    val t2 = Seq((1L, 30L, 102L, "B"), (2L, 40L, 201L, "X"),
      (3L, 30L, 300L, "C"))
    try {
      stream.addData(t1: _*); q.processAllAvailable()
      stream.addData(t2: _*); q.processAllAvailable()
      val oneShot = graft.ext.Sessions.changeHistory(
        (t1 ++ t2).toDF("k", "us", "tb", "attr"), "k", "us", "tb", "attr")
      assert(canon(wh.read("dim_hist")) == canon(oneShot),
        "streamed history drifted from the one-shot recompute")
      // replay of the applied tick (at-least-once): the in-directory
      // marker skips it — n_obs must NOT double-count
      val before = canon(wh.read("dim_hist"))
      EventsStream.scd2ApplyBatch(t2.toDF("k", "us", "tb", "attr"),
        wh, "dim_hist", "k", "us", "tb", "attr", batchId = Some(1L))
      assert(canon(wh.read("dim_hist")) == before,
        "replayed tick changed the applied state")
      // a genuinely NEW tick still applies
      EventsStream.scd2ApplyBatch(
        Seq((3L, 50L, 301L, "D")).toDF("k", "us", "tb", "attr"),
        wh, "dim_hist", "k", "us", "tb", "attr", batchId = Some(2L))
      val after = canon(wh.read("dim_hist"))
      assert(after != before && after == canon(
        graft.ext.Sessions.changeHistory(
          (t1 ++ t2 :+ ((3L, 50L, 301L, "D"))).toDF("k", "us", "tb", "attr"),
          "k", "us", "tb", "attr")),
        "new tick after the replay must apply and match one-shot")
    } finally q.stop()
  }

  test("cdcApplyIngestQuery: tombstones/resurrection across ticks; replay is a fixpoint") {
    implicit val sc = spark.sqlContext
    val wh = new graft.sinks.StagingWriter(spark, tmpDir("cdc_wh"))
    val stream = MemoryStream[(Long, String, Long, String)]
    val q = EventsStream.cdcApplyIngestQuery(
      stream.toDF().toDF("k", "v", "seq", "op"),
      wh, "dim", "k", tmpDir("cdc_ck"))
    def state(): Map[Long, (String, Long)] = wh.read("dim").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), r.getAs[Long]("seq")))).toMap
    try {
      // tick 1: three inserts
      stream.addData((1L, "a", 1L, "U"), (2L, "b", 1L, "U"), (3L, "c", 1L, "U"))
      q.processAllAvailable()
      assert(state() == Map(1L -> (("a", 1L)), 2L -> (("b", 1L)), 3L -> (("c", 1L))))
      // tick 2: delete k1, update k2, delete-then-resurrect k3,
      // ghost-delete a never-seen key, insert k4
      stream.addData(
        (1L, "x", 1L, "D"), (2L, "b2", 1L, "U"),
        (3L, "x", 1L, "D"), (3L, "c2", 2L, "U"),
        (9L, "x", 1L, "D"), (4L, "d", 1L, "U"))
      q.processAllAvailable()
      val after = state()
      assert(after == Map(
        2L -> (("b2", 1L)), 3L -> (("c2", 2L)), 4L -> (("d", 1L))),
        s"got $after")
      // REPLAY fixpoint: at-least-once delivery re-applies tick 2's
      // ledger against the already-absorbed state — nothing may change
      import spark.implicits._
      EventsStream.cdcApplyBatch(
        Seq((1L, "x", 1L, "D"), (2L, "b2", 1L, "U"),
          (3L, "x", 1L, "D"), (3L, "c2", 2L, "U"),
          (9L, "x", 1L, "D"), (4L, "d", 1L, "U"))
          .toDF("k", "v", "seq", "op"),
        wh, "dim", "k")
      assert(state() == after, "replayed tick changed the state")
    } finally q.stop()
  }

  test("scd2ApplyBatch: a history stranded at __swap_bak by a crash " +
    "inside the swap window is restored, never reseeded (ADVICE r12)") {
    import spark.implicits._
    val whDir = tmpDir("scd2_crash_wh")
    val wh = new graft.sinks.StagingWriter(spark, whDir)
    val t1 = Seq((1L, 10L, 100L, "A"), (1L, 20L, 101L, "B"),
      (2L, 10L, 200L, "X"))
    val t2 = Seq((1L, 30L, 102L, "C"), (3L, 30L, 300L, "Y"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version_idx", "attr", "valid_from_us", "n_obs",
        "valid_to_us", "is_current")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    EventsStream.scd2ApplyBatch(t1.toDF("k", "us", "tb", "attr"),
      wh, "dim_hist", "k", "us", "tb", "attr", batchId = Some(0L))
    // simulate death between rename(live→bak) and rename(tmp→live):
    // the standing table sits at __swap_bak, nothing is live
    val live = new java.io.File(whDir, "dim_hist")
    val bak = new java.io.File(whDir, "dim_hist__swap_bak")
    assert(live.renameTo(bak), "test setup: strand the table at bak")
    // the replayed tick must restore the stranded history and apply
    // on top of it — NOT seed a fresh history from t2 alone
    EventsStream.scd2ApplyBatch(t2.toDF("k", "us", "tb", "attr"),
      wh, "dim_hist", "k", "us", "tb", "attr", batchId = Some(1L))
    val oneShot = graft.ext.Sessions.changeHistory(
      (t1 ++ t2).toDF("k", "us", "tb", "attr"), "k", "us", "tb", "attr")
    assert(canon(wh.read("dim_hist")) == canon(oneShot),
      "crash-window replay discarded the standing history")
    assert(!bak.exists, "restored backup must not linger")
  }

  test("cdcApplyBatch: crash-window recovery restores the stranded " +
    "snapshot; a stale bak NEXT TO a live table is not restored") {
    import spark.implicits._
    val whDir = tmpDir("cdc_crash_wh")
    val wh = new graft.sinks.StagingWriter(spark, whDir)
    def state(): Map[Long, (String, Long)] = wh.read("dim").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), r.getAs[Long]("seq")))).toMap
    EventsStream.cdcApplyBatch(
      Seq((1L, "a", 1L, "U"), (2L, "b", 1L, "U"))
        .toDF("k", "v", "seq", "op"), wh, "dim", "k")
    val live = new java.io.File(whDir, "dim")
    val bak = new java.io.File(whDir, "dim__swap_bak")
    assert(live.renameTo(bak), "test setup: strand the table at bak")
    EventsStream.cdcApplyBatch(
      Seq((2L, "x", 1L, "D"), (3L, "c", 1L, "U"))
        .toDF("k", "v", "seq", "op"), wh, "dim", "k")
    // k1 survives only if the stranded snapshot was restored first
    // (its stored seq re-ranks at 0 under the incoming ledger — the
    // documented cdcApply snapshot convention)
    assert(state() == Map(1L -> (("a", 0L)), 3L -> (("c", 1L))),
      s"stranded snapshot lost: ${state()}")
    // stale-bak-next-to-live (crash AFTER activate, before bak
    // delete): the live table is newer — recoverSwap must not touch it
    val staleBak = new java.io.File(whDir, "dim__swap_bak")
    staleBak.mkdirs()
    assert(!wh.recoverSwap("dim"), "stale bak beside a live table " +
      "must not be restored over it")
    assert(state() == Map(1L -> (("a", 0L)), 3L -> (("c", 1L))))
  }
}
