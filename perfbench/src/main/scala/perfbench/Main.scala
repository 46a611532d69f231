package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DocStore, Pipelines}

/** The JVM half of the benchmark: set up one workload, run its timed
  * calls into graft for a fixed window, and write a JSON record of what
  * it measured. `perfbench/run.py` generates the inputs, starts this
  * main, checks the outputs and prints the result.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds>
  *   <trace 0|1> <recordPath>
  */
object Main {

  // q_pretrain_incremental / q_pretrain_pipeline_full's configuration
  val Markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("window", "group", "sort"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "query"),
    "fr" -> Seq("table", "batch", "merge"),
    "zh" -> Seq("spark", "hash", "scan"))
  val Stopwords = Seq("the", "a")
  val Blocklist = Seq("slow merge", "zzqq")
  val NearDup = Pipelines.NearDupConfig(n = 3, k = 6, bands = 3,
    threshold = 0.8, maxDf = 20)

  /** The spans each workload reports, in report order. */
  val LayerSpans = Seq("pipelines.refresh_call", "pipelines.refresh_tail",
    "dedup.compact", "streaming.ingest_batch", "docstore.extend_index",
    "docstore.open", "docstore.retrieve", "pipelines.rebuild_call",
    "pipelines.rebuild_tail")

  /** corpus_refresh folds both gate indexes every this many days;
    * rag_live's stream folds its gate indexes on every micro-batch, so
    * every timed tick does the same work. */
  val RefreshCompactEvery = 2
  val RagCompactEvery = 1
  val RetrieveK = 5
  val QueriesPerTick = 1
  /** Batches run in set-up: the first creates the indexes, the second
    * warms the append path. */
  val WarmBatches = 2

  final class Ctx(val spark: SparkSession, val tracer: Tracer,
      val progress: ProgressListener,
      val in: String, val work: String, val seconds: Double) {
    val rec = new Record
    /** Time from JVM start to the first timed call. */
    var setupS = 0.0
    val opS = mutable.ArrayBuffer[Double]()
    var docs = 0L
    var timedWallS = 0.0
    var windowStartMs = Long.MaxValue
    /** Wall seconds of the write calls: ops plus compaction. */
    var writeWallS = 0.0
    val bytesWritten = mutable.ArrayBuffer[Double]()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secs, trace, out) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracing = trace == "1"
    val jobs = new JobListener
    val progress = new ProgressListener
    if (tracing) spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, new Tracer(spark, tracing), progress, in, work,
      secs.toDouble)
    ctx.rec.num("setup.session_s", sessionS)
    try {
      workload match {
        case "corpus_refresh" => corpusRefresh(ctx)
        case "rag_live" => ragLive(ctx)
        case "corpus_rebuild" => corpusRebuild(ctx)
      }
      // every listener event posted so far is delivered before reading
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val r = ctx.rec
      r.num("setup_jvm_s", ctx.setupS)
      r.nums("op_s", ctx.opS.toSeq)
      r.num("docs", ctx.docs.toDouble)
      r.num("timed_wall_s", ctx.timedWallS)
      r.num("write_wall_s", ctx.writeWallS)
      r.num("index_bytes_written_per_op", mean(ctx.bytesWritten.toSeq))
      r.num("storage_mb_end", spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6)
      val pb = progress.batches.toArray(Array.empty[(Long, Map[String, Long])])
        .toSeq.collect { case (t, d) if t >= ctx.windowStartMs => d }
      for ((k, name) <- Seq("addBatch" -> "add_batch_ms",
          "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms"))
        r.num(s"stream_$name", mean(pb.map(_.getOrElse(k, 0L).toDouble)))
      if (tracing) layerMetrics(ctx, jobs)
      r.str("spark_version", spark.version)
      r.num("cpus", cpus)
      r.write(out)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Row count of one parquet file, from its footer. */
  def parquetRows(spark: SparkSession, path: String): Long = {
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try in.getRecordCount finally in.close()
  }

  /** Bytes on disk under `dirs` (files only, recursively). */
  def diskBytes(dirs: String*): Long = dirs.map(d => dirBytes(new File(d))).sum
  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Run `op` until `seconds` of wall time have passed since the window
    * opened (at least once). `op` returns false when it has no input
    * left. The window's timed wall time excludes the output-check spans
    * run inside it. */
  def window(ctx: Ctx)(op: => Boolean): Unit = {
    ctx.setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val first = ctx.tracer.spans.size
    ctx.windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    while (op && (System.nanoTime() - t0) / 1e9 < ctx.seconds) ()
    val checks = ctx.tracer.spans.drop(first).filterNot(_.timed)
      .map(s => s.endMs - s.startMs).sum / 1e3
    ctx.timedWallS = (System.nanoTime() - t0) / 1e9 - checks
  }

  /** One untimed set-up step; its wall time is recorded as
    * `setup.<label>_s`. */
  def setupStep[T](ctx: Ctx, label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try ctx.tracer.span("bench.setup", timed = false)(body)
    finally ctx.rec.num(s"setup.${label}_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of `body`, which is write work. */
  def write(ctx: Ctx)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    ctx.writeWallS += s
    s
  }

  // ---------------------------------------------------------------- refresh

  def corpusRefresh(ctx: Ctx): Unit = {
    import ctx.{spark, tracer}
    def dayFile(d: Int) = f"${ctx.in}/day-$d%03d.parquet"
    val heldout = spark.read.parquet(s"${ctx.in}/heldout.parquet")
    val hashIx = s"${ctx.work}/index/hash"
    val sigIx = s"${ctx.work}/index/sig"
    def day(d: Int): Unit = {
      val out = tracer.span("pipelines.refresh_call") {
        Pipelines.pretrainCorpusIncremental(spark.read.parquet(dayFile(d)),
          col("doc_id"), col("text"), Markers, keepLang = "en",
          stopwords = Stopwords, minQuality = 0.5, blocklist = Blocklist,
          hashIndex = hashIx, sigIndex = sigIx,
          heldout = heldout, heldoutText = col("text"), ngram = 5,
          sampleRate = 0.6, salt = "pti", packBudget = 256, packBuckets = 4,
          nearDup = NearDup)
      }
      tracer.span("pipelines.refresh_tail") {
        out.write.parquet(f"${ctx.work}/packed/day-$d%03d")
        graft.core.Caches.drain()
      }
    }
    def compact(d: Int): Unit =
      if ((d + 1) % RefreshCompactEvery == 0) tracer.span("dedup.compact") {
        Dedup.hashCompact(spark, hashIx)
        Dedup.signatureCompact(spark, sigIx)
      }
    // set-up: day 0 creates both indexes, day 1 warms the append path
    for (d <- 0 until WarmBatches)
      setupStep(ctx, s"day$d") { day(d); compact(d) }
    var d = WarmBatches
    window(ctx) {
      if (!new File(dayFile(d)).exists()) false
      else {
        val n = parquetRows(spark, dayFile(d))
        val before = diskBytes(hashIx, sigIx)
        val t = write(ctx)(day(d))
        ctx.bytesWritten += (diskBytes(hashIx, sigIx) - before).max(0L).toDouble
        write(ctx)(compact(d))
        ctx.opS += t
        ctx.docs += n
        d += 1
        true
      }
    }
    ctx.rec.num("batches_run", d)
  }

  // ---------------------------------------------------------------- rag

  def ragLive(ctx: Ctx): Unit = {
    import ctx.{spark, tracer}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = s"${ctx.work}/store"
    val acc = spark.sparkContext.longAccumulator("embed_calls")
    val countId = udf { t: String => acc.add(1); t }
    val counting: Column => Column =
      c => graft.plans.VecExprs.hashEmbed(countId(c), 16)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val docsIn = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"))
    val (queries, qvec, ticks) = setupStep(ctx, "inputs") {
      val qs = spark.read.parquet(s"${ctx.in}/queries.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      // query vectors for the brute-force recall reference
      val qv = qs.toDF("qid", "q")
        .select(col("qid"), DocStore.hashEmbedder()(col("q")).as("v"))
        .as[(Long, Array[Double])].collect().toMap
      // every batch in one read; tick 0 is the initial corpus
      val ts = spark.read.parquet(s"${ctx.in}/tick-*.parquet")
        .select(regexp_extract(input_file_name(), "tick-(\\d+)", 1).cast("int"),
          col("doc_id"), col("text"))
        .as[(Int, Long, String)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(r => (r._2, r._3)))
      (qs, qv, ts)
    }
    var offered = 0L
    val recalls = mutable.ArrayBuffer[Double]()
    val retrieveMs = mutable.ArrayBuffer[Double]()
    var qi = 0
    // started with no span tag: the stream thread copies the caller's
    // local properties once, here
    val sq = DocStore.buildStream(docsIn, col("doc_id"), col("data"),
      store, s"${ctx.work}/ckpt", embedder = counting,
      dedupIndex = Some(s"${ctx.work}/index/exact"),
      nearDedupIndex = Some(s"${ctx.work}/index/near"),
      compactEvery = RagCompactEvery).start()
    try {
      def ingest(batch: Seq[(Long, String)]): Unit = {
        tracer.span("streaming.ingest_batch") {
          mem.addData(batch); sq.processAllAvailable()
        }
        offered += batch.size
      }
      def reads(check: Boolean): Unit = {
        val ps = tracer.span("docstore.open") {
          DocStore.open(spark, store, dedupChunks = true)
        }
        val got = for (_ <- 0 until QueriesPerTick) yield {
          val (qid, q) = queries(qi % queries.size)
          qi += 1
          val t0 = System.nanoTime()
          val hits = tracer.span("docstore.retrieve") {
            ps.retrieve(Seq((qid, q)).toDF("qid", "q"), col("qid"), col("q"),
              RetrieveK).select(col("doc_id"), col("chunk_id"))
              .as[(Long, Long)].collect()
          }
          if (check) retrieveMs += (System.nanoTime() - t0) / 1e6
          qid -> hits.toSet
        }
        if (check) recalls ++= tracer.span("bench.check", timed = false) {
          recall(spark, store, got.map { case (q, h) => (qvec(q), h) })
        }
      }
      val indexDirs = Seq(s"$store/index", s"${ctx.work}/index/exact",
        s"${ctx.work}/index/near")
      setupStep(ctx, "initial_ingest")(ingest(ticks(0)))
      setupStep(ctx, "rebuild_index") {
        DocStore.rebuildIndex(spark, store, DocStore.IvfFlat(0))
      }
      for (w <- 1 until WarmBatches) setupStep(ctx, s"tick$w") {
        ingest(ticks(w)); DocStore.extendIndex(spark, store); reads(check = false)
      }
      var t = WarmBatches
      window(ctx) {
        if (t >= ticks.size) false
        else {
          val before = diskBytes(indexDirs: _*)
          val w = write(ctx) {
            ingest(ticks(t))
            tracer.span("docstore.extend_index") {
              DocStore.extendIndex(spark, store)
            }
          }
          ctx.bytesWritten += (diskBytes(indexDirs: _*) - before).max(0L).toDouble
          ctx.opS += w
          ctx.docs += ticks(t).size
          reads(true)
          t += 1
          true
        }
      }
      ctx.rec.num("batches_run", t)
    } finally sq.stop()
    val r = ctx.rec
    r.nums("retrieve_ms", retrieveMs.toSeq)
    r.nums("recall", recalls.toSeq)
    r.num("embed_calls", acc.value.toDouble)
    r.num("chunks_offered", offered.toDouble)
  }

  /** For each (query vector, hits): the overlap of the hits with the
    * exact cosine top-k over every chunk the store holds now, ranked
    * (score desc, chunk_key asc) as the retriever ranks. */
  def recall(spark: SparkSession, store: String,
      queries: Seq[(Array[Double], Set[(Long, Long)])]): Seq[Double] = {
    import spark.implicits._
    val all = DocStore.readChunks(spark, store)
      .select(col("chunk_key"), col("doc_id"), col("chunk_id"), col("embedding"))
      .as[(Long, Long, Long, Array[Double])].collect()
    queries.map { case (q, got) =>
      def cos(v: Array[Double]): Double = {
        var d = 0.0; var a = 0.0; var b = 0.0; var i = 0
        while (i < v.length) { d += v(i) * q(i); a += v(i) * v(i); b += q(i) * q(i); i += 1 }
        if (a == 0 || b == 0) 0.0 else d / math.sqrt(a * b)
      }
      val top = all.map { case (k, d, c, v) => (k, (d, c), cos(v)) }
        .sortBy { case (k, _, s) => (-s, k) }.take(RetrieveK).map(_._2).toSet
      (top intersect got).size.toDouble / top.size.max(1)
    }
  }

  // ---------------------------------------------------------------- rebuild

  def corpusRebuild(ctx: Ctx): Unit = {
    import ctx.{spark, tracer}
    val docs = spark.read.parquet(s"${ctx.in}/documents.parquet")
    val n = setupStep(ctx, "inputs")(docs.count())
    def rebuild(tag: String): Unit = {
      val out = tracer.span("pipelines.rebuild_call") {
        Pipelines.pretrainCorpusFull(
          docs.filter(col("doc_id") % 17 =!= 0), col("doc_id"), col("text"),
          Markers, keepLang = "en", stopwords = Stopwords, minQuality = 0.5,
          blocklist = Blocklist, boilerplate = Some((" the ", 3L)),
          nearDup = Some(NearDup),
          heldout = docs.filter(col("doc_id") % 17 === 0),
          heldoutText = col("text"), ngram = 5,
          sampleRate = 0.6, salt = "ptf", packBudget = 256, packBuckets = 4)
      }
      tracer.span("pipelines.rebuild_tail") {
        out.select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
            col("pack_pos"), col("text"))
          .write.parquet(s"${ctx.work}/packed/$tag")
        graft.core.Caches.drain()
      }
    }
    setupStep(ctx, "warmup")(rebuild("warmup"))
    Files.writeString(Paths.get(s"${ctx.work}/oracle.sql"),
      graft.SparkEntry.oracleSql("q_pretrain_pipeline_full"))
    var i = 0
    window(ctx) {
      val t = write(ctx)(rebuild(f"rebuild-$i%03d"))
      ctx.opS += t
      ctx.docs += n
      i += 1
      true
    }
    ctx.rec.num("rebuilds_timed", i.toDouble)
  }

  // ---------------------------------------------------------------- layers

  /** Per-span counters, each a mean per call of the span. */
  def layerMetrics(ctx: Ctx, l: JobListener): Unit = {
    val spans = ctx.tracer.spans.toSeq
    val jobs = l.jobs.toArray(Array.empty[JobRec]).toSeq
    val stages = l.stageRecs
    val jobSpan = jobs.map(j => j -> l.attribute(j.span, j.stream,
      j.submitMs.toDouble, spans))
    val stageSpan = stages.map(s => s -> l.attribute(s.span, s.stream,
      s.submitMs.toDouble, spans))
    val r = ctx.rec
    r.num("trace_jobs", jobs.size)
    r.num("trace_jobs_attributed", jobSpan.count(_._2.isDefined))
    r.num("trace_jobs_by_window", jobs.count(j => j.span.isEmpty || j.stream))
    r.num("trace_span_s", spans.filter(_.timed).map(s => s.endMs - s.startMs).sum / 1e3)
    for (name <- LayerSpans) {
      val calls = spans.filter(_.name == name)
      val n = calls.size.max(1).toDouble
      val js = jobSpan.collect { case (j, Some(`name`)) => j }
      val ss = stageSpan.collect { case (s, Some(`name`)) => s }
      def put(k: String, v: Double): Unit = r.num(s"layer.$name.$k", v / n)
      val self = calls.map(s => s.endMs - s.startMs).sum / 1e3
      put("self_s", self)
      put("jobs", js.size)
      put("broadcast_jobs", js.count(_.broadcast))
      put("stages", ss.size)
      put("tasks", ss.map(_.tasks).sum.toDouble)
      val run = ss.map(_.runMs).sum / 1e3
      val cpu = ss.map(_.cpuNs).sum / 1e9
      put("executor_run_s", run)
      put("executor_cpu_s", cpu)
      put("blocked_s", run - cpu)
      put("deserialize_s", ss.map(_.deserMs).sum / 1e3)
      put("gc_s", ss.map(_.gcMs).sum / 1e3)
      put("shuffle_write_mb", ss.map(_.shuffleWriteBytes).sum / 1e6)
      put("input_rows", ss.map(_.inputRows).sum.toDouble)
      // wall time of each call not covered by any of its stages' run
      // intervals: planning, scheduling and driver-side work
      val gap = calls.map { c =>
        val iv = ss.filter(s => s.submitMs >= c.startMs - 1 && s.submitMs <= c.endMs + 1)
          .map(s => (s.submitMs.toDouble.max(c.startMs),
            (if (s.completeMs > 0) s.completeMs.toDouble else c.endMs).min(c.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var end = Double.MinValue
        for ((a, b) <- iv) {
          if (a > end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (c.endMs - c.startMs - covered) / 1e3
      }.sum
      put("driver_gap_s", gap)
    }
  }
}

/** A flat JSON object of numbers, number lists and strings. */
final class Record {
  private val kv = mutable.LinkedHashMap[String, String]()
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(k: String, v: Double): Unit = kv(k) = n(v)
  def nums(k: String, v: Seq[Double]): Unit = kv(k) = v.map(n).mkString("[", ",", "]")
  def str(k: String, v: String): Unit = kv(k) = q(v)
  def write(path: String): Unit =
    Files.writeString(Paths.get(path),
      kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",\n", "}\n"))
}
