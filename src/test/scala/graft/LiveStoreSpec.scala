package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SegmentStore
import graft.operators.{Dedup, DocStore, Similarity}

/** The live-store tick's reads and driver answers, each against the
  * form it replaces: footer schemas against Spark's inference, the one
  * scan of a segment store against its per-segment union, and the
  * driver-side retrieve and `dedupAgainst` against their distributed
  * searches (`…Gated(maxRows = 0)`). */
class LiveStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Every row of `df` in a stable order, duplicates kept. */
  private def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  test("parquetSchema reads the schema inference infers, from footers") {
    val root = tmp("live_schema")
    def vecs(from: Long) = (0L until 12L).map(i =>
      (from + i, Array(1.0 + i % 4, 2.0, (i % 3).toDouble))).toDF("id", "v")
    // cid values that fit an int, and chunk-key-sized ones that do not
    Similarity.ivfSave(vecs(1), col("id"), col("v"), s"$root/small", 3)
    Similarity.ivfSave(vecs(1L << 40), col("id"), col("v"), s"$root/large", 3)
    Dedup.signatureSave(Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("id", "text"), col("id"), col("text"), s"$root/sig")
    DocStore.build(Seq((1L, "alpha beta gamma delta", "en"))
        .toDF("id", "text", "lang")
        .select(col("id"), encode(col("text"), "UTF-8").as("data"), col("lang")),
      col("id"), col("data"), Seq("lang")).save(s"$root/store", nlist = 1)
    val small = SegmentStore.open(s"$root/small")
    val dirs = Seq(small.segmentDirs.head, s"${small.dir}/centroids",
      SegmentStore.open(s"$root/large").segmentDirs.head,
      SegmentStore.open(s"$root/sig").segmentDirs.head, s"$root/store/chunks")
    for (d <- dirs) {
      val inferred = spark.read.parquet(d)
      val read = graft.core.readParquet(spark, d)
      assert(read.schema == inferred.schema, d)
      assert(sorted(read) == sorted(inferred), d)
    }
    assert(spark.read.parquet(dirs(0)).schema("cid").dataType.typeName == "integer")
    assert(spark.read.parquet(dirs(2)).schema("cid").dataType.typeName == "long")
  }

  test("a segment store's rows are one scan ≡ the union of its segments; " +
      "a partition filter prunes lists in every segment") {
    val path = tmp("live_scan")
    def vecs(from: Int) = (from until from + 15).map(i =>
      (i.toLong, Array(1.0 + i % 5, 2.0, (i % 3).toDouble))).toDF("id", "v")
    Similarity.ivfSave(vecs(0), col("id"), col("v"), path, 4)
    Similarity.ivfAppend(spark, path, vecs(100), col("id"), col("v"))
    Similarity.ivfAppend(spark, path, vecs(200), col("id"), col("v"))
    val g = SegmentStore.open(path)
    val union = g.segmentDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val rows = g.rows(spark)
    assert(rows.schema == union.schema)
    assert(sorted(rows) == sorted(union) && rows.count() == 45)
    val scans = rows.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"${scans.size} scans for 3 segments")
    val cid = rows.select("cid").as[Int].head()
    assert(sorted(rows.filter(graft.core.Small.in(col("cid"), Seq(cid)))) ==
      sorted(union.filter(col("cid") === cid)))
  }

  test("driver-side retrieve ≡ the distributed search " +
      "(retrieveGated(maxRows = 0)): tied scores, a query batch, probes " +
      "of one list and of all, replayed chunk rows") {
    val path = tmp("live_retrieve")
    // repeated texts under several doc ids: identical embeddings, so
    // scores tie and ranks fall to the chunk key
    val texts = Seq("alpha beta gamma delta", "alpha beta gamma delta",
      "epsilon zeta eta", "alpha beta", "theta iota kappa lambda",
      "epsilon zeta eta", "mu nu xi omicron pi", "alpha beta gamma",
      "rho sigma tau", "alpha beta", "upsilon phi chi psi", "omega alpha")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t, i % 2) }
      .toDF("id", "text", "part")
      .select(col("id"), encode(col("text"), "UTF-8").as("data"), col("part"))
    DocStore.build(docs, col("id"), col("data"), Seq("part"), chunkSize = 3,
      overlap = 1).save(path, nlist = 3)
    // an at-least-once replay: one doc's chunk rows land twice
    spark.read.parquet(s"$path/chunks").filter(col("doc_id") === 1L)
      .write.mode("append").parquet(s"$path/chunks")
    val queries = Seq((1L, "alpha beta"), (2L, "epsilon zeta eta"),
      (3L, "nothing shared here")).toDF("qid", "q")
    for (nprobe <- Seq(1, 3); dedup <- Seq(true, false); k <- Seq(2, 40)) {
      val ps = DocStore.open(spark, path, DocStore.hashEmbedder(), nprobe,
        dedupChunks = dedup)
      def run(maxRows: Int) = ps.retrieveGated(queries, col("qid"), col("q"),
        k, None, maxRows)
      val local = run(graft.core.Small.MaxRows)
      assert(local.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "precondition: the driver path answered")
      val dist = run(0)
      assert(local.columns.toSeq == dist.columns.toSeq)
      assert(sorted(local) == sorted(dist),
        s"nprobe=$nprobe dedup=$dedup k=$k:\n${sorted(local).mkString("\n")}" +
          s"\nvs\n${sorted(dist).mkString("\n")}")
    }
    // precondition: some hits tie on score
    val ties = DocStore.open(spark, path, dedupChunks = true)
      .retrieve(queries, col("qid"), col("q"), 40)
      .groupBy("qid", "score").count().filter(col("count") > 1).count()
    assert(ties > 0)
  }

  test("driver-side dedupAgainst ≡ the band join (dedupAgainstGated(" +
      "maxRows = 0)): a row skips only its own id's match, not the other " +
      "ids of the probe") {
    val path = tmp("live_against")
    val a = "the quick brown fox jumps over the lazy dog again"
    val b = "completely different content about spark engines and shuffles"
    Dedup.signatureSave(Seq((1L, a), (2L, b), (5L, "some other text here"))
      .toDF("doc_id", "text"), col("doc_id"), col("text"), path)
    // 1 re-sends its own indexed text; 3 repeats 1's; 4 repeats 2's
    val probe = Seq((1L, a), (3L, a), (4L, b), (6L, "unique fresh words today"))
      .toDF("doc_id", "text").localCheckpoint(true)
    def run(maxRows: Int) = Dedup.dedupAgainstGated(spark, path, probe,
      col("doc_id"), col("text"), 0.5, maxRows)
    val local = run(graft.core.Small.MaxRows)
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val dist = run(0)
    assert(local.dtypes.toSeq == dist.dtypes.toSeq)
    assert(sorted(local) == sorted(dist))
    assert(local.select("id", "dup_of").as[(Long, Long)].collect().toSet ==
      Set((3L, 1L), (4L, 2L)))
  }
}
