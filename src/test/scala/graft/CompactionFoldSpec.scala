package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{IndexGen, SegmentStore}
import graft.core.SegmentStore.Family
import graft.operators.{Dedup, DocStore}
import graft.streaming.Streaming

/** The compaction cadence as a fold: for each stream body that owns
  * `compactEvery` (the gated DocStore.buildStream, dedupRefreshStream,
  * pretrainRefreshStream), a run at `compactEvery = 2` — whose slot
  * batches write each gate index once — against the same batches at
  * `compactEvery = 0` with each gate index compacted after every slot
  * batch (append, then compact). After every batch both hold the same
  * rows and segment count per index, one segment after a slot; the
  * survivors and the probe answers are the same. The batches include an
  * all-duplicate batch and an empty batch on slots. */
class CompactionFoldSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val rnd = new scala.util.Random(8111)
  private def doc(): Vector[String] =
    "foxtrot" +: Vector.fill(11)(s"w${rnd.nextInt(300)}")
  private val texts = Vector.fill(41)(doc())
  private def line(ws: Vector[String]) = ws.mkString(" ")
  /** `ws` with its last word replaced: 5 of 6 shingles shared. */
  private def nearEdit(ws: Vector[String]) = line(ws.init :+ "november")

  // slots (compactEvery = 2) are batches 1, 3, 5 and 7
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    (0 until 6).map(i => (i.toLong, line(texts(i)))),
    (6 until 10).map(i => (i.toLong, line(texts(i)))) ++
      Seq((100L, line(texts(0))), (101L, nearEdit(texts(1)))),
    (10 until 15).map(i => (i.toLong, line(texts(i)))),
    // all duplicates, on a slot
    Seq((200L, line(texts(2))), (201L, line(texts(11))), (202L, nearEdit(texts(12)))),
    (15 until 20).map(i => (i.toLong, line(texts(i)))),
    // empty, on a slot
    Nil,
    (20 until 24).map(i => (i.toLong, line(texts(i)))) :+ ((300L, line(texts(20)))),
    (24 until 28).map(i => (i.toLong, line(texts(i)))))

  private val probes = Seq((900L, line(texts(3))), (901L, nearEdit(texts(16))),
      (902L, line(texts(25))), (903L, line(doc())))
    .toDF("doc_id", "text")

  /** A stream body: its writer over (doc_id, text) at a root dir, its
    * gate indexes and its survivors. */
  private case class Body(name: String,
      start: (DataFrame, String, Int) => StreamingQuery,
      indexes: String => Seq[String], survivors: String => Set[Seq[Any]],
      setup: String => Unit = _ => ())

  private val bodies = Seq(
    Body("buildStream",
      (in, root, every) => DocStore.buildStream(
          in.select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
          col("doc_id"), col("data"), s"$root/store", s"$root/ckpt",
          chunkSize = 16, overlap = 4, dedupIndex = Some(s"$root/exact"),
          nearDedupIndex = Some(s"$root/near"), nearEstThreshold = 0.3,
          compactEvery = every).start(),
      root => Seq(s"$root/exact", s"$root/near"),
      root => rowsOf(spark.read.parquet(s"$root/store/chunks")
        .select("doc_id", "chunk_id", "text"))),
    Body("dedupRefreshStream",
      (in, root, every) => Streaming.dedupRefreshStream(in, col("doc_id"),
        col("text"), s"$root/sig", s"$root/survivors", s"$root/ckpt",
        estThreshold = 0.3, compactEvery = every).start(),
      root => Seq(s"$root/sig"),
      root => rowsOf(spark.read.parquet(s"$root/survivors")),
      root => Dedup.signatureSave(Seq((-1L, line(texts(40)))).toDF("doc_id", "text"),
        col("doc_id"), col("text"), s"$root/sig")),
    Body("pretrainRefreshStream",
      (in, root, every) => Streaming.pretrainRefreshStream(in, col("doc_id"),
        col("text"), markers = Map("en" -> Seq("foxtrot")), keepLang = "en",
        stopwords = Seq("the"), minQuality = 0.0, blocklist = Nil,
        hashIndex = s"$root/hash", sigIndex = s"$root/sig",
        heldout = Seq((1L, "zz1 zz2 zz3 zz4 zz5")).toDF("h", "text"),
        heldoutText = col("text"), ngram = 5, sampleRate = 1.0, salt = "fold",
        packBudget = 64, packBuckets = 2, packedOut = s"$root/packed",
        checkpoint = s"$root/ckpt", estThreshold = 0.3,
        compactEvery = every).start(),
      root => Seq(s"$root/hash", s"$root/sig"),
      root => rowsOf(spark.read.parquet(s"$root/packed")
        .select("refresh", "doc_id", "text"))))

  /** Per batch and index: (segments, committed generation, sorted rows). */
  private type Trace = Seq[Seq[(Int, Long, Seq[String])]]

  private def run(body: Body, folded: Boolean): (Trace, Set[Seq[Any]], Set[Any]) = {
    val root = tmp(s"fold_${body.name}")
    body.setup(root)
    val in = MemoryStream[(Long, String)]
    val q = body.start(in.toDF().toDF("doc_id", "text"), root, if (folded) 2 else 0)
    val trace = try batches.zipWithIndex.map { case (b, i) =>
      in.addData(b: _*)
      q.processAllAvailable()
      if (!folded && (i + 1) % 2 == 0)
        body.indexes(root).filter(IndexGen.current(_).isDefined).foreach { p =>
          if (SegmentStore.open(p).meta.family == Family.Hash) Dedup.hashCompact(spark, p)
          else Dedup.signatureCompact(spark, p)
        }
      body.indexes(root).map { p =>
        val g = SegmentStore.open(p)
        (g.segments.size, g.gen,
          g.rows(spark).collect().map(_.toString).toSeq.sorted)
      }
    } finally q.stop()
    val answers = body.indexes(root).map { p =>
      (if (SegmentStore.open(p).meta.family == Family.Hash)
        Dedup.exactAgainst(spark, p, probes, col("doc_id"), col("text"))
      else Dedup.dedupAgainst(spark, p, probes, col("doc_id"), col("text"), 0.3))
        .select("id", "dup_of").collect().map(_.toSeq).toSet
    }.toSet[Any]
    (trace, body.survivors(root), answers)
  }

  for (body <- bodies)
    test(s"${body.name}: a folded slot append ≡ append then compact") {
      val (fold, foldKept, foldAnswers) = run(body, folded = true)
      val (ref, refKept, refAnswers) = run(body, folded = false)
      for (((f, r), i) <- fold.zip(ref).zipWithIndex; ((fs, _, fr), (rs, _, rr)) <- f.zip(r)) {
        assert(fr == rr, s"batch $i: index rows differ")
        assert(fs == rs, s"batch $i: $fs segments folded, $rs after compact")
        if ((i + 1) % 2 == 0) assert(fs == 1, s"slot batch $i left $fs segments")
      }
      // one commit per index per batch: no batch both folds and compacts
      for (((prev, cur), i) <- fold.zip(fold.drop(1)).zipWithIndex;
           ((_, g0, _), (_, g1, _)) <- prev.zip(cur))
        assert(g1 - g0 <= 1, s"batch ${i + 1} committed ${g1 - g0} generations")
      assert(foldKept == refKept && foldKept.nonEmpty)
      // batch 3 is all duplicates: none of its docs survives
      assert(!foldKept.exists(_.exists(Set[Any](200L, 201L, 202L))), foldKept)
      assert(foldAnswers == refAnswers)
    }
}
