package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.SegmentStore
import graft.streaming.Streaming

/** Streaming semantics over MemoryStream timed batches — the analog of
  * the reference's __time__/__diff__ markdown tests
  * (reference: pw.debug table_from_markdown + compute_and_print_update_stream). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The `b=<i>` dirs of a bucketed snapshot's committed generation. */
  private def bucketDirs(path: String): Seq[java.io.File] =
    SegmentStore.open(path).segmentDirs.flatMap(s =>
      new java.io.File(s).listFiles.filter(_.getName.startsWith("b=")).toSeq)

  test("deduplicateStreaming emits only acceptor-approved changes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    // acceptor: only growing values replace state (reference deduplicate
    // docstring semantics, table.py:1103)
    val out = Streaming.deduplicateStreaming[String, (String, Int)](
      in.toDS(), _._1, (n, p) => n._2 > p._2)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("update").start()
    try {
      in.addData(("u", 1), ("u", 5), ("v", 2))
      q.processAllAvailable()
      in.addData(("u", 3)) // 3 < 5 → rejected, no emission
      q.processAllAvailable()
      in.addData(("u", 9)) // accepted
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM dedup_out").collect()
        .map(r => (r.getString(0), r.getInt(1))).toList
      assert(rows.count(_._1 == "u") == 2) // (u,5) then (u,9); (u,3) suppressed
      assert(rows.contains(("u", 5)) && rows.contains(("u", 9)) && rows.contains(("v", 2)))
      assert(!rows.contains(("u", 3)))
    } finally q.stop()
  }

  test("deduplicateStreaming idleTtl evicts idle keys: the key re-emits " +
      "on reappearance (documented semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val out = Streaming.deduplicateStreaming[String, (String, Int)](
      in.toDS(), _._1, (n, p) => n._2 > p._2,
      idleTtl = scala.concurrent.duration.Duration("200 ms"))
    val q = out.writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("update").start()
    // NOTE no processAllAvailable here: with ProcessingTimeTimeout Spark
    // keeps scheduling timeout batches (shouldRunAnotherBatch is always
    // true as processing time advances), so the no-new-data latch that
    // processAllAvailable waits on never sets — poll the sink instead
    def uEmits = spark.sql("SELECT * FROM dedup_ttl").collect()
      .count(r => r.getString(0) == "u" && r.getInt(1) == 5)
    try {
      in.addData(("u", 5))
      var tries = 0
      while (uEmits < 1 && tries < 150) { Thread.sleep(100); tries += 1 }
      assert(uEmits == 1, s"first (u,5) emission missing after ${tries * 100} ms")
      // without eviction the strictly-growing acceptor would REJECT an
      // equal value forever — a second (u,5) emission proves the TTL
      // evicted the key's state. Re-offer the value until the eviction
      // (which lands on some background timeout batch) has happened.
      tries = 0
      while (uEmits < 2 && tries < 30) {
        Thread.sleep(700); in.addData(("u", 5)); tries += 1
      }
      assert(uEmits >= 2, s"(u,5) never re-emitted after eviction window")
    } finally q.stop()
  }

  test("stream-stream interval join: matches within bound, outer emits after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(java.sql.Timestamp, String, Int)]
    val rIn = MemoryStream[(java.sql.Timestamp, String, Int)]
    val out = Streaming.intervalJoinStream(
      lIn.toDF().toDF("lt", "k", "lv"), rIn.toDF().toDF("rt", "k", "rv"),
      Seq("k"), "lt", "rt", "-10 seconds", "10 seconds",
      watermarkDelay = "5 seconds", how = "leftOuter")
    val q = out.select(col("lv"), col("rv")).writeStream.format("memory")
      .queryName("ssij").outputMode("append").start()
    try {
      lIn.addData((ts("2024-01-01 00:00:10"), "a", 1))
      rIn.addData((ts("2024-01-01 00:00:15"), "a", 100), // in [0,20] → match
        (ts("2024-01-01 00:00:25"), "a", 200))           // outside bound
      q.processAllAvailable()
      // push both watermarks far past the left row so the unmatched-left
      // emission fires (watermark = max event - 5s)
      lIn.addData((ts("2024-01-01 00:10:00"), "z", 9))
      rIn.addData((ts("2024-01-01 00:10:00"), "z", 9))
      q.processAllAvailable()
      lIn.addData((ts("2024-01-01 00:11:00"), "z", 10))
      rIn.addData((ts("2024-01-01 00:11:00"), "z", 10))
      q.processAllAvailable()
      val rows = spark.sql("SELECT lv, rv FROM ssij").collect()
        .map(r => (r.getInt(0), Option(r.get(1)))).toSet
      assert(rows.contains((1, Some(100))), s"expected in-bound match, got $rows")
      assert(!rows.exists(_ == (1, Some(200))), "out-of-bound row must not match")
    } finally q.stop()
  }

  test("deduplicateBatch matches streaming semantics on bounded input") {
    val df = Seq(("u", 1, 1), ("u", 2, 5), ("u", 3, 3), ("u", 4, 9), ("v", 1, 2))
      .toDF("k", "seq", "v")
    val out = Streaming.deduplicateBatch(df, Seq("k"), Seq(col("seq")),
      (n: Row, p: Row) => n.getInt(2) > p.getInt(2))
    assert(rowsOf(out.select("k", "v")) == Set(Seq("u", 9), Seq("v", 2)))
  }

  test("windowed aggregation with behavior (cutoff→watermark, append)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val b = Streaming.Behavior(cutoff = Some("10 seconds"), keepResults = false)
    val agg = Streaming.withBehavior(in.toDF().toDF("t", "k"), "t", b)
      .groupBy(window(col("t"), "1 minute"), col("k")).count()
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode(Streaming.outputMode(b).toString.toLowerCase).start()
    try {
      in.addData((ts("2024-01-01 00:00:10"), "a"), (ts("2024-01-01 00:00:20"), "a"))
      q.processAllAvailable()
      // watermark still at 0:00:20-10s → window not closed, nothing emitted
      assert(spark.sql("SELECT * FROM win_out").count() == 0)
      in.addData((ts("2024-01-01 00:02:00"), "a")) // advances watermark past 0:01
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:05:00"), "a")) // flush
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, count FROM win_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toList
      assert(rows.contains(("a", 2L))) // the closed 00:00 window, exactly once
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked time-range condition " +
    "(reference interval_join streaming mode)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, java.sql.Timestamp)]
    val views = MemoryStream[(Long, String, java.sql.Timestamp)]
    val l = clicks.toDF().toDF("cid", "k", "ct").withWatermark("ct", "1 minute")
    val r = views.toDF().toDF("vid", "vk", "vt").withWatermark("vt", "1 minute")
    // rt - lt ∈ [-30s, +30s] plus equi key — Spark's native stream-stream
    // range-join pattern (the batch Temporal.intervalJoin semantics)
    val joined = l.join(r,
      col("k") === col("vk") &&
        col("vt") >= col("ct") - expr("INTERVAL 30 SECONDS") &&
        col("vt") <= col("ct") + expr("INTERVAL 30 SECONDS"))
    val q = joined.select("cid", "vid").writeStream.format("memory")
      .queryName("ssj_out").outputMode("append").start()
    try {
      clicks.addData((1L, "u", ts("2024-01-01 00:01:00")))
      views.addData((10L, "u", ts("2024-01-01 00:01:20"))) // in range
      views.addData((11L, "u", ts("2024-01-01 00:02:00"))) // out of range
      q.processAllAvailable()
      clicks.addData((2L, "u", ts("2024-01-01 00:10:00"))) // advance watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT cid, vid FROM ssj_out").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(rows.contains((1L, 10L)) && !rows.contains((1L, 11L)))
    } finally q.stop()
  }

  test("asofNowJoin: stream rows see current static state (batch ≡ join)") {
    val stream = Seq((1L, "k1"), (2L, "k2")).toDF("id", "k")
    val static = Seq(("k1", 100L)).toDF("k", "v")
    val out = Streaming.asofNowJoin(stream, static, Seq("k"), "left")
    assert(rowsOf(out.select("id", "v")) == Set(Seq(1L, 100L), Seq(2L, null)))
  }

  test("subscribe delivers micro-batches to the callback") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = Streaming.subscribe(in.toDF(), (df, _) =>
      seen.synchronized { seen ++= df.collect().map(_.getInt(0)) }).start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      assert(seen.sorted == Seq(1, 2, 3))
    } finally q.stop()
  }

  test("asyncTransformer: completions keyed by id, failures routed aside " +
      "(async_transformer.py:282)") {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val ok = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val bad = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = graft.udfs.asyncTransformer(in.toDS(), parallelism = 4,
        retries = 1) { case (id, s) =>
      Future {
        if (s == "boom") throw new RuntimeException("invoke failed")
        Thread.sleep(if (id % 2 == 0) 30 else 1) // out-of-order completion
        (id, s.toUpperCase)
      }
    } { (succ, fail, _) =>
      ok.synchronized { ok ++= succ.collect() }
      bad.synchronized { bad ++= fail.collect() }
    }
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "boom"), (4L, "c"))
      q.processAllAvailable()
      in.addData((5L, "d"))
      q.processAllAvailable()
      assert(ok.sortBy(_._1) ==
        Seq((1L, "A"), (2L, "B"), (4L, "C"), (5L, "D")))
      assert(bad.toSeq == Seq((3L, "boom"))) // non-1:1: failure didn't kill the stream
    } finally q.stop()
  }

  test("Persistence: kill + restart from checkpoint loses nothing, " +
      "replays no committed batch (src/persistence, test_recovery.py)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Dataset
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val p = Streaming.Persistence(root)
    assert(p.checkpoint("recovery_q") == s"$root/recovery_q")
    val in = MemoryStream[Int]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Int])]
    def start() = p.attach(
      in.toDS().writeStream.foreachBatch { (b: Dataset[Int], id: Long) =>
        seen.synchronized { seen += ((id, b.collect().toSeq.sorted)) }; ()
      }, "recovery_q").start()
    val q1 = start()
    in.addData(1, 2, 3)
    q1.processAllAvailable(); q1.stop() // crash point
    in.addData(4, 5) // arrives while the query is down
    val q2 = start() // restart from the same checkpoint slot
    try {
      q2.processAllAvailable()
      val all = seen.synchronized(seen.toList)
      assert(all.flatMap(_._2).sorted == Seq(1, 2, 3, 4, 5)) // no loss
      // batch 0 committed before the kill -> not re-delivered after restart
      assert(all.map(_._1) == all.map(_._1).distinct)
    } finally q2.stop()
  }

  test("utcNow is a streaming tick source with a single `now` column") {
    val ticks = Streaming.utcNow(spark, refreshRateSec = 0.01)
    assert(ticks.isStreaming && ticks.columns.toSeq == Seq("now"))
    val q = ticks.writeStream.format("memory").queryName("graft_utcnow")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Thread.sleep(150); q.processAllAvailable()
      val rows = spark.table("graft_utcnow").collect()
      assert(rows.forall(!_.isNullAt(0)))
    } finally q.stop()
  }

  test("inactivityDetection alerts after event-time silence") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val src = in.toDF().toDF("k", "t").withWatermark("t", "0 seconds")
    val out = Streaming.inactivityDetection(src, "k", "t", "30 seconds")
    val q = out.toDF("k", "last_seen").writeStream.format("memory")
      .queryName("inact_out").outputMode("update").start()
    try {
      in.addData(("u", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      in.addData(("w", ts("2024-01-01 00:05:00"))) // watermark jumps 5 min → u silent
      q.processAllAvailable()
      in.addData(("w", ts("2024-01-01 00:06:00"))) // extra batch to fire timeouts
      q.processAllAvailable()
      val keys = spark.sql("SELECT k FROM inact_out").collect().map(_.getString(0)).toSet
      assert(keys.contains("u"))
    } finally q.stop()
  }

  test("upsertParquetSink materializes current state; tombstones retained, " +
      "stale events lose") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val events = in.toDF().toDF("id", "ord", "del", "v")
    val q = Streaming.upsertParquetSink(events, Seq("id"), "ord", "del",
      path, s"$root/ckpt").start()
    try {
      in.addData((1L, 10L, false, "a"), (2L, 10L, false, "b"))
      q.processAllAvailable()
      val s1 = Streaming.readSnapshot(spark, path, "ord", "del")
      assert(rowsOf(s1) == Set(Seq(1L, "a"), Seq(2L, "b")))
      // batch 2: update key 1, delete key 2, and a STALE event for key 1
      // below its stored order — the stale row must lose to the snapshot
      in.addData((1L, 30L, false, "a2"), (2L, 20L, true, "b"),
        (1L, 5L, false, "STALE"))
      q.processAllAvailable()
      val s2 = Streaming.readSnapshot(spark, path, "ord", "del")
      assert(rowsOf(s2) == Set(Seq(1L, "a2")))
      // the tombstone itself is retained in the raw snapshot
      val raw = SegmentStore.open(path).rows(spark)
      assert(raw.filter(col("del")).select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally q.stop()
  }

  test("dedupRefreshStream: later batches dedup against earlier batches' " +
      "survivors, not just the saved history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("sig_stream").toString
    graft.operators.Dedup.signatureSave(
      Seq((1L, "seed history document words here now")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path, n = 3, k = 6, bands = 3)
    val in = MemoryStream[(Long, String)]
    val out = s"$path/survivors"
    val q = Streaming.dedupRefreshStream(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      path, out, s"$path/ckpt", threshold = 0.8, estThreshold = 0.5).start()
    try {
      // batch 1: a history dup (dropped) + genuinely new content (kept)
      in.addData((11L, "fresh new content alpha beta gamma"),
        (12L, "seed history document words here now"))
      q.processAllAvailable()
      // batch 2: a dup of batch 1's SURVIVOR — must be dropped even
      // though it never met doc 11 in a micro-batch (index-carried state)
      in.addData((21L, "fresh new content alpha beta gamma"),
        (22L, "another unrelated document entirely different words"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 22L),
      s"11 survives batch 1, 21 drops vs 11's indexed signature: $kept")
  }

  test("signatureCompact after streamed appends: one segment, identical " +
      "probe results, appends resume on the compacted manifest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("sig_compact").toString
    graft.operators.Dedup.signatureSave(
      Seq((1L, "seed history document words here now")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path, n = 3, k = 6, bands = 3)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.dedupRefreshStream(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      path, s"$path/survivors", s"$path/ckpt").start()
    try {
      in.addData((11L, "fresh new content alpha beta gamma"))
      q.processAllAvailable()
      in.addData((22L, "another unrelated document entirely different words"))
      q.processAllAvailable()
    } finally q.stop()
    def segs = java.nio.file.Files.readString(new java.io.File(
        graft.core.IndexGen.readDir(path), "segments.txt").toPath)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    def probeIds = graft.operators.Dedup.dedupAgainst(spark, path,
        Seq((91L, "fresh new content alpha beta gamma"),
          (92L, "seed history document words here now"),
          (93L, "totally novel probe text never indexed anywhere"))
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 0.5)
      .select("id", "dup_of").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(segs.size == 3, s"save + 2 streamed appends = 3 segments: $segs")
    val before = probeIds
    assert(before.contains((91L, 11L)) && before.contains((92L, 1L)) &&
      !before.exists(_._1 == 93L), s"precondition probe: $before")
    graft.operators.Dedup.signatureCompact(spark, path)
    assert(segs.size == 1, s"compaction must fold to one segment: $segs")
    assert(probeIds == before, "probe results must be unchanged")
    // appends resume on the compacted manifest
    graft.operators.Dedup.signatureAppend(spark, path,
      Seq((31L, "totally novel probe text never indexed anywhere"))
        .toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(segs.size == 2)
    assert(probeIds.contains((93L, 31L)), "post-compaction append must serve")
    // compacting a non-index path fails loudly
    val bad = java.nio.file.Files.createTempDirectory("sig_compact_bad")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.signatureCompact(spark, bad.toString)
    }
  }

  test("dedupRefreshStream(compactEvery): the manifest folds mid-stream " +
      "on the cadence; survivors and probes unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("sig_cadence").toString
    graft.operators.Dedup.signatureSave(
      Seq((1L, "seed history document words here now")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path, n = 3, k = 6, bands = 3)
    def segs = java.nio.file.Files.readString(new java.io.File(
        graft.core.IndexGen.readDir(path), "segments.txt").toPath)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val in = MemoryStream[(Long, String)]
    // compact every 2 micro-batches, on the stream's own thread (the
    // single writer) — no pause, no external maintenance window
    val q = Streaming.dedupRefreshStream(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      path, s"$path/survivors", s"$path/ckpt", compactEvery = 2).start()
    try {
      in.addData((11L, "fresh new content alpha beta gamma"))
      q.processAllAvailable() // batch 0: save + 1 append = 2 segments
      assert(segs.size == 2, s"before the cadence fires: $segs")
      in.addData((22L, "another unrelated document entirely different words"))
      q.processAllAvailable() // batch 1: append then compact -> 1 segment
      assert(segs.size == 1, s"cadence at batch 2 must fold to one: $segs")
      in.addData((33L, "third batch document with novel words only"))
      q.processAllAvailable() // batch 2: append resumes on the compacted manifest
      assert(segs.size == 2, s"appends resume after the fold: $segs")
    } finally q.stop()
    val kept = spark.read.parquet(s"$path/survivors")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 22L, 33L), s"survivors unchanged by cadence: $kept")
    // the folded index still answers: every survivor + the seed probe back
    val probe = graft.operators.Dedup.dedupAgainst(spark, path,
        Seq((91L, "fresh new content alpha beta gamma"),
          (92L, "seed history document words here now"))
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 0.5)
      .select("id", "dup_of").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == Set((91L, 11L), (92L, 1L)), s"probe through the fold: $probe")
  }

  test("pretrainRefreshStream: batch 2's exact and near dups of batch 1 " +
      "drop via the carried indexes; packed output tags the refresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the engineered band-collision pair (see PipelineSpec's
    // pretrainCorpusIncremental test for the precondition assertions)
    val p1 = "foxtrot golf hotel india juliet kilo lima"
    val p2 = "foxtrot golf hotel india juliet kilo november"
    val root = java.nio.file.Files.createTempDirectory("ptis_spec").toString
    val in = MemoryStream[(Long, String)]
    val sq = Streaming.pretrainRefreshStream(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      markers = Map("en" -> Seq("foxtrot")), keepLang = "en",
      stopwords = Seq("the"), minQuality = 0.0, blocklist = Nil,
      hashIndex = s"$root/hash", sigIndex = s"$root/sig",
      heldout = Seq((100L, "zz1 zz2 zz3 zz4 zz5")).toDF("h", "text"),
      heldoutText = col("text"), ngram = 5,
      sampleRate = 1.0, salt = "ptis", packBudget = 100, packBuckets = 2,
      packedOut = s"$root/packed", checkpoint = s"$root/ckpt",
      estThreshold = 0.3).start()
    try {
      in.addData((1L, p1), (2L, p1)) // exact in-batch dup → min id kept
      sq.processAllAvailable()
      // 11 = exact dup of batch 1 (hash index), 12 = near dup of batch 1
      // (signature index), 13 = novel, 14 = heldout-contaminated
      in.addData((11L, p1), (12L, p2),
        (13L, "completely novel words about engines and shuffles today"),
        (14L, "filler one zz1 zz2 zz3 zz4 zz5 filler two three"))
      sq.processAllAvailable()
    } finally sq.stop()
    val packed = spark.read.parquet(s"$root/packed")
      .select("refresh", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed == Set((1L, 1L), (2L, 13L)),
      s"batch 1 keeps 1, batch 2 keeps only the novel doc: $packed")
  }

  test("compactIndex zero-row guard: an empty committed generation is " +
      "left unchanged instead of committing an empty segment") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("hash_empty").toString
    // an all-NULL-text corpus hashes to zero rows — the one way a
    // committed generation can be empty (appends already guard)
    graft.operators.Dedup.hashSave(
      Seq((1L, null: String)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path)
    val gen0 = graft.core.IndexGen.current(path).get
    val gen1 = graft.operators.Dedup.hashCompact(spark, path)
    assert(gen1 == gen0, "empty table: compact keeps the current generation")
    // still probe-able (empty history matches nothing, fails nothing)
    val hits = graft.operators.Dedup.exactAgainst(spark, path,
      Seq((9L, "anything")).toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(hits.count() == 0)
  }

  test("nearDupCandidatesStream flags later arrivals against first-arrived " +
      "bucket owners; short docs emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val cands = Streaming.nearDupCandidatesStream(docs, col("doc_id"),
      col("text"), n = 3, k = 6, bands = 3)
    val q = cands.writeStream.format("memory").queryName("neardup_out")
      .outputMode("update").start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different content about spark engines and shuffles x y"),
        (9L, "a b")) // < n tokens: no shingles, owns nothing
      q.processAllAvailable()
      // first arrivals own their buckets silently
      assert(spark.sql("SELECT * FROM neardup_out").count() == 0)
      in.addData(
        (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
        (2L, "the quick brown fox jumps over the lazy cat")) // near-dup of 1
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT a, b FROM neardup_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      // the exact dup collides on every band; its witness is the owner
      assert(pairs.contains(("1", "4")))
      // the near-dup's colliding bucket is owned by doc 1 (same sig as 4)
      assert(pairs.contains(("1", "2")))
      assert(!pairs.exists(p => p._1 == "3" || p._2 == "3" ||
        p._1 == "9" || p._2 == "9"))
    } finally q.stop()
  }

  test("upsertParquetSinkVersioned: time travel to retained versions, " +
      "retention prunes, unknown version raises") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_ver").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val events = in.toDF().toDF("id", "ord", "del", "v")
    val q = Streaming.upsertParquetSinkVersioned(events, Seq("id"), "ord",
      "del", path, s"$root/ckpt", keepVersions = 2).start()
    try {
      in.addData((1L, 10L, false, "a"), (2L, 10L, false, "b"))
      q.processAllAvailable()
      in.addData((1L, 20L, false, "a2"), (2L, 20L, true, "b"))
      q.processAllAvailable()
      in.addData((3L, 30L, false, "c"))
      q.processAllAvailable()
      // keepVersions=2: versions 2 and 3 retained, version 1 pruned
      assert(Streaming.snapshotVersions(path) == Seq(2L, 3L))
      // latest = committed generation
      assert(rowsOf(Streaming.readSnapshotAsOf(spark, path, "ord", "del")) ==
        Set(Seq(1L, "a2"), Seq(3L, "c")))
      // as-of the middle batch: the historical state BEFORE key 3 arrived
      assert(rowsOf(Streaming.readSnapshotAsOf(spark, path, "ord", "del",
        Some(2L))) == Set(Seq(1L, "a2")))
      // the pruned and never-existing versions fail loudly
      intercept[IllegalArgumentException] {
        Streaming.readSnapshotAsOf(spark, path, "ord", "del", Some(1L))
      }
      intercept[IllegalArgumentException] {
        Streaming.readSnapshotAsOf(spark, path, "ord", "del", Some(99L))
      }
    } finally q.stop()
  }

  test("snapshotDiff classifies insert/delete/update; unchanged keys silent") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_cdf").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val events = in.toDF().toDF("id", "ord", "del", "v")
    val q = Streaming.upsertParquetSinkVersioned(events, Seq("id"), "ord",
      "del", path, s"$root/ckpt", keepVersions = 4).start()
    try {
      in.addData((1L, 10L, false, "a"), (2L, 10L, false, "b"),
        (4L, 10L, false, "d"))
      q.processAllAvailable()
      in.addData((1L, 20L, false, "a2"), (2L, 20L, true, "b"),
        (3L, 20L, false, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val diff = Streaming.snapshotDiff(spark, path, Seq("id"), "ord", "del",
      fromVersion = 1L, toVersion = 2L)
    assert(diff.columns.toSeq == Seq("id", "v", "_change_type"))
    // key 4 untouched → silent; 3 inserted; 2 deleted (from-side image);
    // 1 updated (pre + post)
    assert(rowsOf(diff) == Set(
      Seq(3L, "c", "insert"),
      Seq(2L, "b", "delete"),
      Seq(1L, "a", "update_preimage"),
      Seq(1L, "a2", "update_postimage")))
    // the reverse diff is the inverse feed
    val rev = Streaming.snapshotDiff(spark, path, Seq("id"), "ord", "del",
      fromVersion = 2L, toVersion = 1L)
    assert(rowsOf(rev) == Set(
      Seq(3L, "c", "delete"),
      Seq(2L, "b", "insert"),
      Seq(1L, "a2", "update_preimage"),
      Seq(1L, "a", "update_postimage")))
    intercept[IllegalArgumentException] {
      Streaming.snapshotDiff(spark, path, Seq("id"), "ord", "del", 1L, 1L)
    }
  }

  test("upsertParquetSinkPartitioned rewrites only the buckets a batch touches") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_part").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val events = in.toDF().toDF("id", "ord", "del", "v")
    val q = Streaming.upsertParquetSinkPartitioned(events, Seq("id"), "ord",
      "del", path, s"$root/ckpt", buckets = 8).start()
    try {
      in.addData((1L to 64L).map(i => (i, 10L, false, s"v$i")): _*)
      q.processAllAvailable()
      assert(Streaming.readSnapshotPartitioned(spark, path, "ord", "del")
        .count() == 64)
      def filesOf(d: java.io.File): Map[String, Long] =
        Option(d.listFiles).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
      def snap(): Map[String, Map[String, Long]] =
        bucketDirs(path).map(d => d.getName -> filesOf(d)).toMap
      val before = snap()
      assert(before.size > 1) // 64 murmur3-hashed keys occupy many buckets
      // update ONE key: exactly one bucket's files may change
      in.addData((1L, 30L, false, "updated"))
      q.processAllAvailable()
      val after = snap()
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.getOrElse(k, Map.empty) != after.getOrElse(k, Map.empty))
      assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
      val s2 = Streaming.readSnapshotPartitioned(spark, path, "ord", "del")
      assert(s2.count() == 64)
      assert(s2.filter(col("id") === 1).select("v")
        .collect()(0).getString(0) == "updated")
    } finally q.stop()
  }

  test("compactBuckets: one file per bucket after, identical live view, " +
      "idempotent no-op second run") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    // force multi-file buckets (small local batches otherwise collapse
    // to one task → one file per bucket, defeating the precondition)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 5)
    val q = Streaming.upsertParquetSinkPartitioned(
      in.toDF().toDF("id", "ord", "del", "v"), Seq("id"), "ord", "del",
      path, s"$root/ckpt", buckets = 4).start()
    try {
      in.addData((1L to 64L).map(i => (i, 10L, false, s"v$i")): _*)
      q.processAllAvailable()
      in.addData((1L to 64L).filter(_ % 3 == 0)
        .map(i => (i, 20L, false, s"u$i")): _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    def files(): Map[String, Int] =
      bucketDirs(path)
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
    val before = Streaming.readSnapshotPartitioned(spark, path, "ord", "del")
      .collect().map(_.toSeq).toSet
    assert(files().values.exists(_ > 1),
      "precondition: multi-file buckets must exist before compaction")
    val n = Streaming.compactBuckets(spark, path)
    assert(n > 0)
    assert(files().values.forall(_ == 1),
      s"every bucket must hold exactly one file after compaction: ${files()}")
    val after = Streaming.readSnapshotPartitioned(spark, path, "ord", "del")
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction must not change the live view")
    // already-compact snapshot: no-op
    assert(Streaming.compactBuckets(spark, path) == 0)
    // the bucket recipe survives compaction (a restart depends on it)
    assert(SegmentStore.open(path).meta ==
      SegmentStore.Meta(SegmentStore.Family.Buckets, Seq(4)))
  }

  test("vacuum drops only expired tombstones; the live view is unchanged") {
    implicit val sqlCtx = spark.sqlContext
    // single-dir layout
    val root = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val q = Streaming.upsertParquetSink(in.toDF().toDF("id", "ord", "del", "v"),
      Seq("id"), "ord", "del", path, s"$root/ckpt").start()
    try {
      // key 1 live; key 2 tombstoned at ord 20 (expired); key 3
      // tombstoned at ord 40 (still guarding against late arrivals)
      in.addData((1L, 10L, false, "a"), (2L, 20L, true, "b"), (3L, 40L, true, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val liveBefore = rowsOf(Streaming.readSnapshot(spark, path, "ord", "del"))
    Streaming.vacuumSnapshot(spark, path, "ord", "del", horizon = 30L)
    val raw = SegmentStore.open(path).rows(spark)
    assert(raw.filter(col("del")).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L)) // expired tombstone gone
    assert(rowsOf(Streaming.readSnapshot(spark, path, "ord", "del")) == liveBefore)
    // bucketed layout: same semantics, per-bucket swap
    val root2 = java.nio.file.Files.createTempDirectory("graft_vacuum_p").toString
    val path2 = s"$root2/state"
    val in2 = MemoryStream[(Long, Long, Boolean, String)]
    val q2 = Streaming.upsertParquetSinkPartitioned(
      in2.toDF().toDF("id", "ord", "del", "v"), Seq("id"), "ord", "del",
      path2, s"$root2/ckpt", buckets = 4).start()
    try {
      in2.addData((1L to 8L).map(i => (i, 10L, false, s"v$i")) ++
        Seq((100L, 20L, true, "x"), (101L, 40L, true, "y")): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val liveBefore2 = rowsOf(
      Streaming.readSnapshotPartitioned(spark, path2, "ord", "del"))
    Streaming.vacuumSnapshotPartitioned(spark, path2, "ord", "del", horizon = 30L)
    val raw2 = SegmentStore.open(path2).rows(spark)
    assert(raw2.filter(col("del")).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(101L))
    assert(rowsOf(
      Streaming.readSnapshotPartitioned(spark, path2, "ord", "del")) == liveBefore2)
    // layout preserved: bucket dirs survive the vacuum rewrite
    assert(bucketDirs(path2).nonEmpty)
  }

  test("vacuumSnapshotPartitioned over an all-tombstone snapshot reads " +
      "back no rows with the snapshot's schema; the next batch lands") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_vacuum_all").toString
    val path = s"$root/state"
    val in = MemoryStream[(Long, Long, Boolean, String)]
    val q = Streaming.upsertParquetSinkPartitioned(
      in.toDF().toDF("id", "ord", "del", "v"), Seq("id"), "ord", "del",
      path, s"$root/ckpt", buckets = 4).start()
    try {
      in.addData((1L to 6L).map(i => (i, 10L, true, s"v$i")): _*)
      q.processAllAvailable()
      Streaming.vacuumSnapshotPartitioned(spark, path, "ord", "del", horizon = 30L)
      // every row vacuumed: the generation lists no segment
      assert(SegmentStore.open(path).segments.isEmpty)
      val raw = SegmentStore.open(path).rows(spark)
      assert(raw.collect().isEmpty)
      assert(raw.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
        "id" -> "bigint", "ord" -> "bigint", "del" -> "boolean",
        "v" -> "string", "b" -> "int"))
      val live = Streaming.readSnapshotPartitioned(spark, path, "ord", "del")
      assert(live.collect().isEmpty && live.columns.toSeq == Seq("id", "v"))
      in.addData((7L, 40L, false, "w"))
      q.processAllAvailable()
    } finally q.stop()
    assert(rowsOf(Streaming.readSnapshotPartitioned(spark, path, "ord", "del")) ==
      Set(Seq(7L, "w")))
  }

  test("subjectStream feeds commits through as ingestible blocks") {
    // reference: pw.io.python.read in streaming mode — run() on a feeder
    // thread, commit() = batch boundary (__init__.py:41 *COMMIT*)
    val subject = new graft.sources.ConnectorSubject[(Long, String)] {
      def run(): Unit = {
        next((1L, "a")); next((2L, "b")); commit()
        next((3L, "c")) // left uncommitted: the close-flush must publish it
      }
    }
    val h = graft.sources.io.subjectStream(spark, subject)
    val q = h.df.writeStream.format("memory").queryName("subject_out")
      .outputMode("append").start()
    try {
      h.await() // joins run(); rethrows subject failures (reference end())
      q.processAllAvailable()
      assert(rowsOf(spark.table("subject_out")) ==
        Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    } finally q.stop()
    // a subject is one-shot, like the reference's (__init__.py:404)
    intercept[IllegalArgumentException] {
      graft.sources.io.subjectStream(spark, subject)
    }
  }

  test("kafka-shaped pipeline minus the jar: subject envelopes -> debezium " +
      "decode -> upsert sink == batch applyLatest") {
    // the exact `kafka + from_json on value` recipe with the transport
    // swapped for the subject SPI — proves the pipeline end-to-end in a
    // jar-less env: only `io.stream(spark,"kafka",...)` would differ
    import org.apache.spark.sql.types._
    val rowSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def env(op: String, ts: Long, k: Long, v: String): String = {
      val img = s"""{"k":$k,"v":"$v"}"""
      val (before, after) =
        if (op == "d") (img, "null") else ("null", img)
      s"""{"payload":{"before":$before,"after":$after,"op":"$op","ts_ms":$ts}}"""
    }
    val envelopes = Seq(
      env("r", 1000L, 1L, "a"), env("r", 1000L, 2L, "b"), // snapshot batch
      env("u", 2000L, 1L, "a2"), env("d", 3000L, 2L, "b")) // change batch
    val subject = new graft.sources.ConnectorSubject[String] {
      def run(): Unit = {
        envelopes.take(2).foreach(next); commit()
        envelopes.drop(2).foreach(next); commit()
      }
    }
    val root = java.nio.file.Files.createTempDirectory("graft_kafka_shape").toString
    val h = graft.sources.io.subjectStream(spark, subject)
    val decoded = graft.sources.Cdc.decodeDebezium(
      h.df.toDF("value"), col("value"), rowSchema)
    val events = decoded.select(
      coalesce(col("_after.k"), col("_before.k")).as("k"),
      col("_ts_ms").as("ord"), (col("_op") === "d").as("del"),
      col("_after.v").as("v"))
    val q = Streaming.upsertParquetSink(events, Seq("k"), "ord", "del",
      s"$root/state", s"$root/ckpt").start()
    val streamed = try {
      h.await(); q.processAllAvailable()
      rowsOf(Streaming.readSnapshot(spark, s"$root/state", "ord", "del"))
    } finally q.stop()
    // batch twin over the identical envelopes
    val batch = graft.sources.Cdc.applyLatest(
      graft.sources.Cdc.decodeDebezium(
        envelopes.toDF("value"), col("value"), rowSchema),
      Seq("k"), col("_ts_ms"))
    assert(streamed == rowsOf(batch))
    assert(streamed == Set(Seq(1L, "a2"))) // k2 deleted, k1 updated
  }
}
