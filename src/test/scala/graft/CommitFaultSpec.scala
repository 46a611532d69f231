package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.core.{IndexGen, SegmentStore}
import graft.operators.{Dedup, DocStore}
import graft.streaming.Streaming

/** Fault injection over the one write protocol: each writer — the
  * plain, versioned and partitioned upsert sinks and a DocStore index
  * kind switch — crashes at each crash point of its commit
  * ([[IndexGen.crashHook]]: after the staged write, before the marker
  * rename, after the rename but before the vacuum). After each crash a
  * reader gets a complete generation (the previous one, or the new one
  * once the marker moved), a restart converges with no key lost, the
  * next commit leaves no orphan, and `versions` lists committed
  * generations only. */
class CommitFaultSpec extends SparkSpec {
  import spark.implicits._

  private val Steps = Seq("staged", "marker", "vacuum")

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Run `f`, whose commit of the index at `path` crashes at `step`. */
  private def crashing(path: String, step: String)(f: => Unit): Unit = {
    val target = new java.io.File(path).getCanonicalPath
    IndexGen.crashHook = (p, s) =>
      if (s == step && new java.io.File(p).getCanonicalPath == target)
        throw new IllegalStateException(s"injected crash at $step")
    try {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected crash")), e)
    } finally IndexGen.crashHook = (_, _) => ()
  }

  /** What the next commit must leave at an index path: every generation
    * dir a committed one, every segment named by a generation on disk,
    * no marker write-aside. */
  private def assertClean(path: String): Unit = {
    val names = new java.io.File(path).list().toSeq
    val gens = names.collect { case n if n.startsWith("gen-") => n.drop(4).toLong }
    assert(gens.sorted == IndexGen.versions(path), s"$path: $names")
    assert(!names.exists(_.startsWith(".tmp-current-")), s"$path: $names")
    val named = gens.flatMap(SegmentStore.openAt(path, _).segments).toSet
    val onDisk = Option(new java.io.File(path, "segments").list())
      .getOrElse(Array.empty[String]).map(s => s"segments/$s").toSet
    assert(onDisk == named, s"$path: segments $onDisk, named $named")
  }

  private type Events = (Long, Long, Boolean, String)

  /** A sink: its writer over (id, ord, del, v) events, and its reader of
    * the live (id, v) rows. */
  private case class Sink(name: String,
      writer: (DataFrame, String, String) => DataStreamWriter[org.apache.spark.sql.Row],
      read: String => DataFrame)

  private val sinks = Seq(
    Sink("plain",
      (ev, p, c) => Streaming.upsertParquetSink(ev, Seq("id"), "ord", "del", p, c),
      p => Streaming.readSnapshot(spark, p, "ord", "del")),
    Sink("versioned",
      (ev, p, c) => Streaming.upsertParquetSinkVersioned(ev, Seq("id"), "ord",
        "del", p, c, keepVersions = 3),
      p => Streaming.readSnapshotAsOf(spark, p, "ord", "del")),
    Sink("partitioned",
      (ev, p, c) => Streaming.upsertParquetSinkPartitioned(ev, Seq("id"),
        "ord", "del", p, c, buckets = 4),
      p => Streaming.readSnapshotPartitioned(spark, p, "ord", "del")))

  // batch 1: 12 keys; batch 2 updates all of them (every bucket), deletes
  // key 1 and adds 4 more
  private val batch1: Seq[Events] = (1L to 12L).map(i => (i, 10L, false, s"a$i"))
  private val batch2: Seq[Events] =
    (2L to 16L).map(i => (i, 20L, false, s"b$i")) :+ ((1L, 20L, true, ""))
  private val state1 = batch1.map(e => Seq(e._1, e._4)).toSet
  private val state2 = batch2.filterNot(_._3).map(e => Seq(e._1, e._4)).toSet

  for (sink <- sinks; step <- Steps)
    test(s"${sink.name} sink survives a crash at '$step'") {
      implicit val sqlCtx = spark.sqlContext
      val root = tmp(s"fault_${sink.name}_$step")
      val (path, ckpt) = (s"$root/state", s"$root/ckpt")
      def run(in: MemoryStream[Events])(
          f: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
        val q = sink.writer(in.toDF().toDF("id", "ord", "del", "v"), path, ckpt)
          .start()
        try f(q) finally q.stop()
      }
      val in1 = MemoryStream[Events]
      run(in1) { q =>
        in1.addData(batch1: _*)
        q.processAllAvailable()
        val before = IndexGen.versions(path)
        crashing(path, step) {
          in1.addData(batch2: _*)
          q.processAllAvailable()
        }
        // a reader gets one complete generation: the previous one until
        // the marker moved, the new one after
        val committed = step == "vacuum"
        assert(rowsOf(sink.read(path)) == (if (committed) state2 else state1))
        // versions lists committed generations only
        val vs = IndexGen.versions(path)
        assert(vs == (if (committed) before :+ IndexGen.committed(path) else before))
      }
      // restart from the checkpoint: the crashed batch replays (its slot
      // in the new source holds the same events) and converges
      val in2 = MemoryStream[Events]
      in2.addData((99L, 1L, true, "filler")) // batch 1's slot, committed
      in2.addData(batch2: _*)
      run(in2)(_.processAllAvailable())
      assert(rowsOf(sink.read(path)) == state2, "no key may be lost")
      assertClean(path)
    }

  private val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "eta theta iota kappa lambda mu", "en"),
      (3L, "uno dos tres cuatro cinco seis", "es"),
      (4L, "siete ocho nueve diez once doce", "es"))
    .toDF("doc_id", "text", "lang")
    .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"), col("lang"))

  for (step <- Steps)
    test(s"DocStore kind switch survives a crash at '$step'") {
      val store = DocStore.build(docs, col("doc_id"), col("data"),
        metadata = Seq("lang"), chunkSize = 3, overlap = 1,
        embedder = DocStore.hashEmbedder(8))
      val root = tmp(s"fault_kind_$step")
      val idx = s"$root/index"
      val q = Seq((1L, "uno dos tres")).toDF("qid", "qtext")
      def answer() = rowsOf(DocStore.open(spark, root, DocStore.hashEmbedder(8))
        .retrieve(q, col("qid"), col("qtext"), 3)
        .select("qid", "rank", "doc_id", "chunk_id"))
      val exact = rowsOf(store.retrieve(q, col("qid"), col("qtext"), 3)
        .select("qid", "rank", "doc_id", "chunk_id"))
      store.save(root, nlist = 4)
      val before = IndexGen.versions(idx)
      val binary = DocStore.BinaryCodes(rescore = 200)
      crashing(idx, step)(DocStore.rebuildIndex(spark, root, binary))
      val committed = step == "vacuum"
      assert(DocStore.kindOf(SegmentStore.open(idx)) ==
        (if (committed) binary else DocStore.IvfFlat(4)))
      // nprobe 4 of 4 lists, rescore over the whole store: both kinds
      // give the exact answer
      assert(answer() == exact)
      assert(IndexGen.versions(idx) ==
        (if (committed) before :+ IndexGen.committed(idx) else before))
      // the retried switch converges
      DocStore.rebuildIndex(spark, root, binary)
      assert(DocStore.kindOf(SegmentStore.open(idx)) == binary)
      assert(answer() == exact)
      assertClean(idx)
    }

  /** A stream whose every batch folds its gate index (`compactEvery =
    * 1`): the index the crash hits, the writer, and its survivors. */
  private case class Folding(name: String, index: String => String,
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      kept: String => Set[Seq[Any]], setup: String => Unit = _ => ())

  private val foldings = Seq(
    // the signature fold lands before the survivors write
    Folding("signature", root => s"$root/sig",
      (in, root) => Streaming.dedupRefreshStream(in, col("doc_id"), col("text"),
        s"$root/sig", s"$root/out", s"$root/ckpt", compactEvery = 1).start(),
      root => rowsOf(spark.read.parquet(s"$root/out")),
      root => Dedup.signatureSave(
        Seq((-1L, "seed history document words here now")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), s"$root/sig")),
    // the exact gate's hash fold lands after the chunk write
    Folding("DocStore hash", root => s"$root/exact",
      (in, root) => DocStore.buildStream(
        in.select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
        col("doc_id"), col("data"), s"$root/store", s"$root/ckpt",
        chunkSize = 16, overlap = 4, dedupIndex = Some(s"$root/exact"),
        nearDedupIndex = Some(s"$root/near"), compactEvery = 1).start(),
      root => rowsOf(spark.read.parquet(s"$root/store/chunks")
        .select("doc_id", "chunk_id", "text"))))

  private val foldBatches = Seq(
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles")),
    Seq((11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "unique new content entirely fresh words today"),
      (13L, "another unrelated document with entirely different words")))

  for (f <- foldings; step <- Steps)
    test(s"a folded ${f.name} append survives a crash at '$step'") {
      implicit val sqlCtx = spark.sqlContext
      def rowsAt(root: String) = rowsOf(SegmentStore.open(f.index(root)).rows(spark))
      /** Start the stream at `root` over `in`, run `body`, stop it. */
      def running(root: String, in: MemoryStream[(Long, String)])(
          body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
        val q = f.start(in.toDF().toDF("doc_id", "text"), root)
        try body(q) finally q.stop()
      }
      // the same batches with no crash
      val clean = tmp(s"fold_clean_${f.name.replace(' ', '_')}")
      f.setup(clean)
      val in0 = MemoryStream[(Long, String)]
      running(clean, in0)(q => foldBatches.foreach { b =>
        in0.addData(b: _*)
        q.processAllAvailable()
      })
      val root = tmp(s"fault_fold_${f.name.replace(' ', '_')}_$step")
      val idx = f.index(root)
      f.setup(root)
      val in1 = MemoryStream[(Long, String)]
      var before = Set.empty[Seq[Any]]
      running(root, in1) { q =>
        in1.addData(foldBatches(0): _*)
        q.processAllAvailable()
        before = rowsAt(root)
        crashing(idx, step) {
          in1.addData(foldBatches(1): _*)
          q.processAllAvailable()
        }
      }
      // a reader gets the previous generation, or old ∪ new once the
      // marker moved; either is one segment
      assert(rowsAt(root) == (if (step == "vacuum") rowsAt(clean) else before))
      assert(SegmentStore.open(idx).segments.size == 1)
      // restart from the checkpoint: batch 1 replays (its slot in the new
      // source holds the same docs) and yields the clean run's survivors
      val in2 = MemoryStream[(Long, String)]
      foldBatches.foreach(b => in2.addData(b: _*))
      running(root, in2)(_.processAllAvailable())
      assert(f.kept(root) == f.kept(clean), "survivors of the replayed batch")
      assert(rowsAt(root) == rowsAt(clean) &&
        SegmentStore.open(idx).segments.size == 1)
      assertClean(idx)
    }

  test("a partitioned snapshot restarted with another bucket count fails " +
      "loudly and keeps its rows") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("fault_buckets")
    val path = s"$root/state"
    def start(in: MemoryStream[Events], buckets: Int, ckpt: String) =
      Streaming.upsertParquetSinkPartitioned(in.toDF().toDF("id", "ord", "del", "v"),
        Seq("id"), "ord", "del", path, ckpt, buckets).start()
    val in1 = MemoryStream[Events]
    val q1 = start(in1, 4, s"$root/ckpt")
    try { in1.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    val in2 = MemoryStream[Events]
    val q2 = start(in2, 8, s"$root/ckpt_other")
    try {
      in2.addData((200L, 30L, false, "z"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(String.valueOf(ex.getCause).contains("key→bucket mapping"), ex)
    } finally q2.stop()
    assert(rowsOf(Streaming.readSnapshotPartitioned(spark, path, "ord", "del")) ==
      state1)
  }

  test("layouts written before generations fail loudly and name the path") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("fault_legacy")
    // a bare snapshot dir (the in-place sink's old layout)
    val bare = s"$root/bare"
    Seq((1L, 10L, false, "a")).toDF("id", "ord", "del", "v")
      .write.parquet(bare)
    java.nio.file.Files.copy(
      new java.io.File(bare).listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new java.io.File(bare, "part-legacy.parquet").toPath)
    // a `_buckets` root (the partitioned sink's old layout)
    val buckets = s"$root/buckets"
    new java.io.File(buckets).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Path.of(buckets, "_buckets"),
      "murmur3:4")
    for ((path, sink) <- Seq(
        bare -> ((ev: DataFrame, c: String) =>
          Streaming.upsertParquetSink(ev, Seq("id"), "ord", "del", bare, c)),
        buckets -> ((ev: DataFrame, c: String) =>
          Streaming.upsertParquetSinkPartitioned(ev, Seq("id"), "ord", "del",
            buckets, c, buckets = 4)))) {
      val in = MemoryStream[Events]
      val q = sink(in.toDF().toDF("id", "ord", "del", "v"), s"$path-ckpt").start()
      try {
        in.addData((1L, 20L, false, "b"))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(String.valueOf(ex.getCause).contains(path) &&
          String.valueOf(ex.getCause).contains("before snapshots were published"), ex)
      } finally q.stop()
    }
    val e1 = intercept[IllegalArgumentException](
      Streaming.readSnapshot(spark, bare, "ord", "del"))
    assert(e1.getMessage.contains(bare))
    // a DocStore whose kind lived in index_kind.txt and a kind dir
    val store = DocStore.build(docs, col("doc_id"), col("data"),
      chunkSize = 3, overlap = 1, embedder = DocStore.hashEmbedder(8))
    val old = s"$root/store"
    store.chunks.write.parquet(s"$old/chunks")
    graft.operators.Similarity.binarySave(store.chunks, col("chunk_key"),
      col("embedding"), s"$old/index-binary")
    java.nio.file.Files.writeString(java.nio.file.Path.of(old, "index_kind.txt"),
      "kind=binary\nrescore=32")
    val q = Seq((1L, "uno dos tres")).toDF("qid", "qtext")
    val e2 = intercept[IllegalArgumentException](
      DocStore.open(spark, old, DocStore.hashEmbedder(8))
        .retrieve(q, col("qid"), col("qtext"), 3))
    assert(e2.getMessage.contains(s"$old/index"))
    // an IVF-flat index in the old `index` dir: no kind in its record
    graft.operators.Similarity.ivfSave(store.chunks, col("chunk_key"),
      col("embedding"), s"$old/index", 2)
    val e3 = intercept[IllegalArgumentException](DocStore.extendIndex(spark, old))
    assert(e3.getMessage.contains(s"$old/index") &&
      e3.getMessage.contains("index_kind.txt"))
    // a kind-following rebuild of a store whose kind is in index_kind.txt
    graft.core.rmTree(new java.io.File(s"$old/index"))
    val e4 = intercept[IllegalArgumentException](DocStore.rebuildIndex(spark, old))
    assert(e4.getMessage.contains(old) && e4.getMessage.contains("index_kind.txt"))
  }
}
