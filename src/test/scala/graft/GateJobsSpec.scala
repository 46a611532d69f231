package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SegmentStore
import graft.operators.{Dedup, DocStore, Graphs, Similarity}

/** Job-count pins for the per-refresh gates answered on the driver
  * ([[graft.core.Small]]): below the size gate, connected components,
  * the exact gate's history filter and the near gate's history probe
  * must not pay the job storm of their distributed forms. */
class GateJobsSpec extends SparkSpec {
  import spark.implicits._

  /** (jobs, broadcast-build jobs) started by `f` on this thread —
    * broadcast builds run on pool threads, which inherit the tag. The
    * thread's operator caches are released first, so an earlier
    * measurement's cached frames cannot serve this one. */
  private def jobsOf(f: => Unit): (Int, Int) = {
    graft.core.Caches.drain()
    val tag = s"gatejobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bcast = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("graft.spec.tag") == tag) {
          jobs.incrementAndGet()
          if (Option(p.getProperty("spark.job.tags")).exists(
              _.contains("broadcast exchange"))) bcast.incrementAndGet()
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try f
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    (jobs.get, bcast.get)
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("connectedComponents on a small graph runs at most 2 jobs") {
    // checkpointed edges: a real scan, not a foldable local relation
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (4L, 4L))
      .toDF("src", "dst").localCheckpoint(true)
    val (small, smallBc) = jobsOf(Graphs.connectedComponents(edges).collect())
    assert(small <= 2 && smallBc == 0, s"driver path ran $small jobs")
    val (loop, _) = jobsOf(
      Graphs.connectedComponentsGated(edges, 50, 0).collect())
    assert(loop > small, s"fixpoint ran $loop jobs, driver path $small")
  }

  test("a small-batch exact gate starts no broadcast build") {
    val path = tmp("gatejobs_exact")
    Dedup.hashSave(Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path)
    val batch = Seq((5L, "a b c"), (6L, "g h i"), (7L, "g h i"))
      .toDF("doc_id", "text").localCheckpoint(true)
    def gate(maxRows: Int) = jobsOf(Dedup.exactGate(spark, path, batch,
      "doc_id", "text", excludeOwn = true, maxRows)._1.collect())
    val (_, smallBc) = gate(graft.core.Small.MaxRows)
    assert(smallBc == 0, s"driver-side exact gate built $smallBc broadcasts")
    // the pin can fail: the join fallback does broadcast
    val (_, joinBc) = gate(0)
    assert(joinBc > 0)
  }

  test("a small-batch near probe starts no broadcast build") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "unique new content entirely fresh words today"),
      (14L, "short")).toDF("doc_id", "text").localCheckpoint(true)
    // the in-batch canonicalization's own joins are outside the probe:
    // count them alone (materialized the way dedupRefresh does), then
    // the whole refresh
    val (_, canonBc) = jobsOf(graft.core.Caches.eager(
      Dedup.canonicalize(batch, col("doc_id"), col("text"), lit(0),
        3, 6, 3, 0.8, 100).drop("_cluster")))
    def refresh(maxRows: Int): (Int, Int, Set[Long]) = {
      val path = tmp("gatejobs_near")
      Dedup.signatureSave(history, col("doc_id"), col("text"), path,
        n = 3, k = 6, bands = 3)
      var out: DataFrame = null
      val (j, bc) = jobsOf {
        out = Dedup.dedupRefreshGated(spark, path, batch, col("doc_id"),
          col("text"), 0.8, 0.5, 100, maxRows)
        out.collect()
      }
      (j, bc, out.select("doc_id").as[Long].collect().toSet)
    }
    val (_, smallBc, smallOut) = refresh(graft.core.Small.MaxRows)
    assert(smallBc == canonBc,
      s"probe + append built ${smallBc - canonBc} broadcasts")
    val (_, joinBc, joinOut) = refresh(0)
    assert(joinBc > canonBc)
    assert(smallOut == joinOut && smallOut == Set(12L, 14L))
  }

  test("a small-batch canonicalize runs at most 4 jobs, no broadcast build") {
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 2),
      (2L, "the quick brown fox jumps over the lazy dog today", 1),
      (3L, "completely different content about spark engines", 0),
      (4L, "short", 0)).toDF("doc_id", "text", "score").localCheckpoint(true)
    def canon(maxRows: Int) = jobsOf(Dedup.canonicalizeGated(batch,
      col("doc_id"), col("text"), col("score"), 3, 6, 3, 0.5, 100, maxRows)
      .collect())
    val (small, smallBc) = canon(graft.core.Small.MaxRows)
    assert(small <= 4 && smallBc == 0,
      s"driver path ran $small jobs, $smallBc broadcast builds")
    // the pin can fail: the distributed pass broadcasts
    val (dist, distBc) = canon(0)
    assert(dist > small && distBc > 0, s"distributed pass: $dist / $distBc")
  }

  test("a refresh's jobs do not grow with history: equal counts against " +
      "1x and 8x history, no broadcast build behind the gates") {
    // 8x history = the base docs plus 7 copies with every word suffixed
    // _rN (GenScale's discipline: disjoint shingles, distinct texts)
    val rnd = new scala.util.Random(42)
    def text(vocab: String) =
      Seq.fill(24)(s"$vocab${rnd.nextInt(300)}").mkString("the ", " ", "")
    val base = (1L to 40L).map(i => (i, text("w")))
    def history(copies: Int) = (0 until copies).flatMap { r =>
      if (r == 0) base
      else base.map { case (id, t) =>
        (id + r * 1000L, t.split(" ").map(w => s"${w}_r$r").mkString(" ")) }
    }.toDF("doc_id", "text")
    // one fixed batch: half exact copies of base texts, half novel
    val batch = (base.take(10).map { case (id, t) => (id + 100000L, t) } ++
        (1L to 10L).map(i => (i + 200000L, text("v"))))
      .toDF("doc_id", "text").localCheckpoint(true)
    val heldout = Seq(text("h")).toDF("text")
    def refresh(root: String, in: DataFrame) =
      graft.operators.Pipelines.pretrainCorpusIncremental(in, col("doc_id"),
        col("text"), Map("en" -> Seq("the")), keepLang = "en",
        stopwords = Seq("the", "a"), minQuality = 0.0, blocklist = Nil,
        hashIndex = s"$root/hash", sigIndex = s"$root/sig",
        heldout = heldout, heldoutText = col("text"), ngram = 5,
        sampleRate = 1.0, salt = "hj", packBudget = 256, packBuckets = 4)
    // (row, answered behind the Small gates, set-up over a history → the
    // measured call). dedupAgainst is lazy, so its call materializes the
    // answer; the refresh's gates run at call time, and its lazy tail
    // never reads history. dedupAgainst has no gate: its band join's
    // broadcast builds are pinned equal across history sizes, not zero
    val rows: Seq[(String, Boolean, DataFrame => () => DataFrame)] = Seq(
      ("dedupAgainst", false, { hist =>
        val path = tmp("gatejobs_hist_sig")
        Dedup.signatureSave(hist, col("doc_id"), col("text"), path)
        () => graft.core.Caches.eager(Dedup.dedupAgainst(spark, path, batch,
          col("doc_id"), col("text")).select(col("id").as("doc_id")))
      }),
      ("pretrainCorpusIncremental", true, { hist =>
        val root = tmp("gatejobs_hist_chain")
        refresh(root, hist).count() // backfill both indexes
        () => refresh(root, batch)
      }))
    rows.foreach { case (name, gated, setUp) =>
      val Seq((j1, bc1, out1), (j8, bc8, out8)) = Seq(1, 8).map { copies =>
        val call = setUp(history(copies))
        var out: DataFrame = null
        val (j, bc) = jobsOf { out = call() }
        (j, bc, out.select("doc_id").as[Long].collect().toSet)
      }
      assert(j1 == j8 && bc1 == bc8 && (!gated || bc1 == 0),
        s"$name: 1x history ran $j1 jobs / $bc1 broadcast builds, " +
          s"8x ran $j8 / $bc8")
      assert(out1 == out8 && out1.nonEmpty, s"$name: $out1 at 1x, $out8 at 8x")
    }
  }

  test("Small.rows over an 8-file scan runs one job, fitting or not") {
    val dir = tmp("gatejobs_rows") + "/t"
    spark.range(0, 400, 1, 8).selectExpr("id", "cast(id as string) as s")
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(
      ".parquet")) == 8)
    // precondition: the limit form scales up over this scan
    val (limitJobs, _) = jobsOf(df.limit(401).collect())
    assert(limitJobs > 1, s"limit+collect ran $limitJobs jobs")
    var fit: Option[Array[org.apache.spark.sql.Row]] = None
    val (fitJobs, _) = jobsOf { fit = graft.core.Small.rows(df, 400) }
    assert(fitJobs == 1 && fit.map(_.toSeq) == Some(df.collect().toSeq))
    var over: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    val (overJobs, _) = jobsOf { over = graft.core.Small.rows(df, 399) }
    assert(overJobs == 1 && over.isEmpty)
    assert(graft.core.Small.rows(df, 0).isEmpty)
  }

  test("Small.rows cancels an oversized table: the rows sent stay bounded") {
    // 64 partitions of 20 rows: every partition is under the 101-row cap,
    // 1,280 rows in all. Capping per partition alone would send them all;
    // the overflow must cancel the job after about 6 partitions
    val slow = udf { (x: Long) => Thread.sleep(2); x }
    val df = spark.range(0, 1280, 1, 64).select(slow(col("id")).as("id"))
    val tag = s"gatejobs-sent-${System.nanoTime}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.spec.tag") == tag)
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason == org.apache.spark.Success) done.add(e.stageId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    val r = try graft.core.Small.rows(df, 100)
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    assert(r.isEmpty)
    import scala.jdk.CollectionConverters._
    val sent = done.asScala.count(stages.contains)
    assert(sent >= 6 && sent <= 16,
      s"$sent of 64 partitions sent their rows to the driver")
  }

  /** Rows read from input sources by the stages `f` started on this
    * thread. */
  private def inputRowsOf(f: => Unit): Long = {
    val tag = s"gaterows-${System.nanoTime}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rows = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.spec.rows") == tag)
          stages.add(e.stageInfo.stageId)
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          rows.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.rows", tag)
    try f
    finally {
      sc.setLocalProperty("graft.spec.rows", null)
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    rows.get
  }

  private def docs(from: Int, n: Int): DataFrame =
    (from until from + n).map(i =>
        (i.toLong, s"doc $i on topic ${i % 5} with ${i % 11} words ${i % 3}"))
      .toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("data"))

  test("a small dedupAgainst probe starts no broadcast build") {
    val path = tmp("gatejobs_against")
    Dedup.signatureSave(Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text"), col("doc_id"), col("text"), path)
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "unique new content entirely fresh words today"))
      .toDF("doc_id", "text").localCheckpoint(true)
    def probe(maxRows: Int): (Int, Set[(Long, Long)]) = {
      var out = Set.empty[(Long, Long)]
      val (_, bc) = jobsOf {
        out = Dedup.dedupAgainstGated(spark, path, batch, col("doc_id"),
          col("text"), 0.5, maxRows).select("id", "dup_of").as[(Long, Long)]
          .collect().toSet
      }
      (bc, out)
    }
    val (smallBc, smallOut) = probe(graft.core.Small.MaxRows)
    assert(smallBc == 0, s"driver-side probe built $smallBc broadcasts")
    // the pin can fail: the band join broadcasts
    val (joinBc, joinOut) = probe(0)
    assert(joinBc > 0)
    assert(smallOut == joinOut && smallOut == Set((11L, 1L)))
  }

  test("a small IVF retrieve runs at most 3 jobs and no broadcast build") {
    val path = tmp("gatejobs_retrieve")
    DocStore.build(docs(0, 40), col("id"), col("data"), chunkSize = 8,
      overlap = 2).save(path, nlist = 4)
    val ps = DocStore.open(spark, path, dedupChunks = true)
    val q = Seq((1L, "topic 3 with 7 words")).toDF("qid", "q")
    var hits = 0
    val (jobs, bc) = jobsOf {
      hits = ps.retrieve(q, col("qid"), col("q"), 5).collect().length
    }
    assert(jobs <= 3 && bc == 0 && hits == 5,
      s"retrieve ran $jobs jobs and $bc broadcast builds for $hits hits")
    // the pin can fail: the distributed search runs more
    val (dist, _) = jobsOf(
      ps.retrieveGated(q, col("qid"), col("q"), 5, None, 0).collect())
    assert(dist > jobs, s"distributed search ran $dist jobs")
  }

  test("segment-store reads build with no job: rows and side of a " +
      "two-segment index, readParquet of a table") {
    val path = tmp("gatejobs_open")
    def vecs(from: Int) = (from until from + 20).map(i =>
      (i.toLong, Array(1.0 + i % 5, 2.0, i % 3 * 1.0))).toDF("id", "v")
    Similarity.ivfSave(vecs(0), col("id"), col("v"), path, 4)
    Similarity.ivfAppend(spark, path, vecs(100), col("id"), col("v"))
    val (jobs, _) = jobsOf {
      val g = SegmentStore.open(path)
      assert(g.segments.size == 2)
      g.rows(spark)
      g.side(spark, "centroids")
      graft.core.readParquet(spark, s"${g.dir}/centroids")
    }
    assert(jobs == 0, s"building the reads ran $jobs jobs")
    // the pin can fail: a schema-less read infers the schema with a job
    val (inferred, _) = jobsOf(
      spark.read.parquet(SegmentStore.open(path).segmentDirs.head))
    assert(inferred > 0)
  }

  test("snapshot reads build with no job: readSnapshot, readSnapshotAsOf " +
      "and readSnapshotPartitioned") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("gatejobs_snap")
    def fill(path: String, w: (DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Boolean, String)]
      val q = w(in.toDF().toDF("id", "ord", "del", "v"), s"$path-ckpt").start()
      try for (r <- 1 to 2) {
        in.addData((1L to 8L).map(i => (i, r.toLong, false, s"v$r")): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    import graft.streaming.Streaming
    fill(s"$root/plain", (ev, c) => Streaming.upsertParquetSink(ev, Seq("id"),
      "ord", "del", s"$root/plain", c))
    fill(s"$root/ver", (ev, c) => Streaming.upsertParquetSinkVersioned(ev,
      Seq("id"), "ord", "del", s"$root/ver", c))
    fill(s"$root/part", (ev, c) => Streaming.upsertParquetSinkPartitioned(ev,
      Seq("id"), "ord", "del", s"$root/part", c, buckets = 4))
    val (jobs, _) = jobsOf {
      Streaming.readSnapshot(spark, s"$root/plain", "ord", "del")
      Streaming.readSnapshotAsOf(spark, s"$root/ver", "ord", "del", Some(1L))
      Streaming.readSnapshotAsOf(spark, s"$root/ver", "ord", "del")
      Streaming.readSnapshotPartitioned(spark, s"$root/part", "ord", "del")
    }
    assert(jobs == 0, s"building the snapshot reads ran $jobs jobs")
  }

  test("extendIndex reads new chunk files only: equal jobs at 1x and 8x " +
      "store size and at 1 and 6 index segments, chunk rows read bounded " +
      "by the new chunks, a copied chunk file adds nothing, no new file " +
      "runs no job") {
    def chunks(from: Int, n: Int): DataFrame =
      DocStore.build(docs(from, n), col("id"), col("data"), chunkSize = 8,
        overlap = 2).chunks
    /** A saved store of `size` docs whose index has `segments` segments. */
    def store(size: Int, segments: Int): String = {
      val path = tmp("gatejobs_extend")
      DocStore.build(docs(0, size), col("id"), col("data"), chunkSize = 8,
        overlap = 2).save(path, nlist = 4)
      for (s <- 1 until segments) {
        chunks(100000 + 100 * s, 3).write.mode("append")
          .parquet(s"$path/chunks")
        DocStore.extendIndex(spark, path)
      }
      path
    }
    def indexRows(path: String): Long = SegmentStore.open(s"$path/index")
      .segmentDirs.map(graft.core.parquetRowCount(spark, _)).sum
    val rows = Seq(("1x, 1 segment", 20, 1), ("8x, 1 segment", 160, 1),
        ("1x, 6 segments", 20, 6)).map { case (name, size, segments) =>
      val path = store(size, segments)
      val tick = chunks(900000, 6)
      val fresh = tick.count()
      tick.write.mode("append").parquet(s"$path/chunks")
      val before = indexRows(path)
      var added = 0L
      var read = 0L
      val (jobs, bc) = jobsOf { read = inputRowsOf {
        added = DocStore.extendIndex(spark, path) } }
      assert(added == fresh && indexRows(path) == before + fresh, name)
      // the index ids are scanned once and the centroids (4) collected;
      // every other row read is a new chunk, read at most twice
      assert(read - before <= 2 * fresh + 4,
        s"$name: read $read rows for $fresh new chunks over $before indexed")
      // a retried batch: the same rows under a new file name
      val dir = new java.io.File(s"$path/chunks")
      val last = dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .maxBy(_.lastModified())
      java.nio.file.Files.copy(last.toPath,
        new java.io.File(dir, "part-99999-retried.snappy.parquet").toPath)
      assert(DocStore.extendIndex(spark, path) == 0 &&
        indexRows(path) == before + fresh, s"$name: the copy was indexed")
      val (idle, _) = jobsOf(assert(DocStore.extendIndex(spark, path) == 0))
      assert(idle == 0, s"$name: a call with no new file ran $idle jobs")
      (name, jobs, bc)
    }
    assert(rows.map(_._2).distinct.size == 1 && rows.forall(_._3 == 0),
      s"(case, jobs, broadcast builds): ${rows.mkString(", ")}")
  }

  test("a gated buildStream batch on a compaction slot writes each gate " +
      "index once: one write job per index, equal jobs at 1x and 8x " +
      "history") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val writePath = "InsertIntoHadoopFsRelationCommand\\n[^\\n]*\\nArguments: file:([^,]+),".r
    /** A compactEvery = 1 buildStream fed `history` docs, then three
      * ticks of 12 fresh docs and 2 exact re-sends. Per micro-batch: its
      * jobs and the dirs its writes went to, relative to the stream's
      * root (`seg-*` for a segment). */
    def run(history: Int): Seq[(Int, Seq[String])] = {
      val t = new java.io.File(tmp("gatejobs_fold")).getCanonicalPath
      val tag = s"gatefold-${System.nanoTime}"
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val writes = new java.util.concurrent.ConcurrentHashMap[Long, String]
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = e.properties
          if (p != null && p.getProperty("graft.spec.tag") == tag)
            Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
              jobs.add(b.toLong -> Option(p.getProperty("spark.sql.execution.id"))
                .fold(-1L)(_.toLong)))
        }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart =>
            writePath.findFirstMatchIn(s.physicalPlanDescription).foreach(m =>
              writes.put(s.executionId, m.group(1).stripPrefix(t + "/")
                .replaceAll("seg-[0-9a-f-]+", "seg-*")))
          case _ =>
        }
      }
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      // the stream thread copies the caller's local properties at start
      sc.setLocalProperty("graft.spec.tag", tag)
      val sq = try DocStore.buildStream(in.toDF().toDF("doc_id", "text")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
        col("doc_id"), col("data"), s"$t/store", s"$t/ckpt", chunkSize = 16,
        overlap = 4, dedupIndex = Some(s"$t/exact"),
        nearDedupIndex = Some(s"$t/near"), compactEvery = 1).start()
      finally sc.setLocalProperty("graft.spec.tag", null)
      val rnd = new scala.util.Random(4417)
      def text(): String =
        Seq.fill(30)(s"w${rnd.nextInt(500)}").mkString(" ")
      val sent = scala.collection.mutable.ArrayBuffer[String]()
      def feed(id0: Long, n: Int): Unit = {
        val fresh = (0 until n).map(j => (id0 + j, text()))
        val resent = sent.take(2).zipWithIndex.map { case (s, j) =>
          (id0 + 500 + j, s) }
        in.addData(fresh ++ resent: _*)
        sq.processAllAvailable()
        sent ++= fresh.map(_._2)
      }
      try {
        feed(0L, history)
        for (n <- 1 to 3) feed(n * 1000L, 12)
      } finally {
        sq.stop()
        org.apache.spark.SpecBus.drain(sc)
        sc.removeSparkListener(l)
      }
      for (ix <- Seq("exact", "near"))
        assert(SegmentStore.open(s"$t/$ix").segments.size == 1, s"$ix index")
      import scala.jdk.CollectionConverters._
      val byBatch = jobs.asScala.toSeq.groupBy(_._1)
      (0L to 3L).map { b =>
        val js = byBatch.getOrElse(b, Nil)
        (js.size, js.flatMap(j => Option(writes.get(j._2))).sorted)
      }
    }
    val one = run(12)
    val eight = run(96)
    // a slot batch's writes: the near gate's signature fold, the chunk
    // append, the exact gate's hash fold — each gate index once
    for ((name, batches) <- Seq("1x" -> one, "8x" -> eight); b <- 1 to 3)
      assert(batches(b)._2 == Seq("exact/segments/seg-*",
        "near/segments/seg-*", "store/chunks"), s"$name batch $b: ${batches(b)}")
    // the spread shuffle, the exact gate's checkpoint, its batch and
    // history collects, the near gate's LSH, signature and history
    // collects, and the three writes
    assert(one.drop(1).map(_._1) == Seq(10, 10, 10) &&
      eight.drop(1).map(_._1) == Seq(10, 10, 10),
      s"jobs per batch: 1x ${one.map(_._1)}, 8x ${eight.map(_._1)}")
  }
}
