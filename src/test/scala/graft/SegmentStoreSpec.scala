package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{IndexGen, SegmentStore}
import graft.core.SegmentStore.{Family, Meta}
import graft.operators.{Dedup, Hnsw, Similarity}

/** The one write protocol of the persisted index families. */
class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles.count(_.getName.startsWith("part-"))

  test("IndexGen: an abandoned staged generation never replaces the " +
      "previous committed one") {
    val path = tmp("indexgen_prune")
    def gen(): Long = {
      val (dir, g) = IndexGen.stage(path)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      g
    }
    IndexGen.commit(path, gen())
    IndexGen.commit(path, gen())
    val torn = gen() // staged, then abandoned: a crashed writer
    val g4 = gen()
    assert((torn, g4) == (3L, 4L))
    IndexGen.commit(path, g4)
    val dirs = new java.io.File(path).list().filter(_.startsWith("gen-")).sorted
    assert(dirs.toSeq == Seq("gen-2", "gen-4"), dirs.mkString(","))
    assert(IndexGen.versions(path) == Seq(2L, 4L))
    // a retained window larger than one counts committed generations only
    val (g5, g6) = (gen(), gen()) // g5 abandoned
    IndexGen.commit(path, g6, grace = 3)
    assert(IndexGen.versions(path) == Seq(2L, 4L, 6L))
    assert(!new java.io.File(path, s"gen-$g5").exists)
  }

  test("IndexGen: generations committed before commit records keep " +
      "their time travel across the upgrade") {
    // the layout an older writer leaves: gen dirs and a marker, no records
    def legacy(name: String): String = {
      val path = tmp(name)
      for (g <- 1 to 5)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$path/gen-$g"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path/_current"), "5")
      path
    }
    val kept = legacy("indexgen_upgrade")
    assert(IndexGen.versions(kept) == (1L to 5L))
    val (_, g6) = IndexGen.stage(kept)
    new java.io.File(s"$kept/gen-$g6").mkdirs()
    IndexGen.commit(kept, g6, grace = 8)
    assert(IndexGen.versions(kept) == (1L to 6L))
    // from here on the records rule: an abandoned staged dir is pruned
    val (_, torn) = IndexGen.stage(kept)
    new java.io.File(s"$kept/gen-$torn").mkdirs()
    val (_, g8) = IndexGen.stage(kept)
    new java.io.File(s"$kept/gen-$g8").mkdirs()
    IndexGen.commit(kept, g8, grace = 8)
    assert(IndexGen.versions(kept) == (1L to 6L) :+ g8)
    assert(!new java.io.File(s"$kept/gen-$torn").exists)
    // the default grace keeps the marker's previous value, as it did
    val one = legacy("indexgen_upgrade_one")
    val (_, next) = IndexGen.stage(one)
    new java.io.File(s"$one/gen-$next").mkdirs()
    IndexGen.commit(one, next)
    assert(IndexGen.versions(one) == Seq(5L, 6L))
  }

  test("an append onto an index of another family fails before staging") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 24).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextGaussian()))).toDF("id", "v")
    val docs = (0 until 24).map(i =>
      (i.toLong, s"document $i says words ${i % 5} and more ${i * 7}"))
      .toDF("id", "text")
    val (v0, v1) = (vecs.filter(col("id") < 16), vecs.filter(col("id") >= 16))
    val (d0, d1) = (docs.filter(col("id") < 16), docs.filter(col("id") >= 16))
    val saves: Seq[(String, String => Unit)] = Seq(
      "ivf" -> (p => Similarity.ivfSave(v0, col("id"), col("v"), p, nlist = 2)),
      "ivf_pq" -> (p => Similarity.ivfPqSave(v0, col("id"), col("v"), p,
        nlist = 2, m = 2, ksub = 4, dim = 4)),
      "binary" -> (p => Similarity.binarySave(v0, col("id"), col("v"), p)),
      "pq" -> (p => Similarity.pqSave(v0, col("id"), col("v"), p,
        m = 2, ksub = 4, dim = 4)),
      "signature" -> (p => Dedup.signatureSave(d0, col("id"), col("text"), p)),
      "hash" -> (p => Dedup.hashSave(d0, col("id"), col("text"), p)),
      "hnsw" -> (p => Hnsw.hnswSave(v0, col("id"), col("v"), p,
        m = 4, efConstruction = 8)))
    val appends: Map[String, String => Any] = Map(
      "ivf" -> (p => Similarity.ivfAppend(spark, p, v1, col("id"), col("v"))),
      "ivf_pq" -> (p => Similarity.ivfPqAppend(spark, p, v1, col("id"), col("v"))),
      "binary" -> (p => Similarity.binaryAppend(spark, p, v1, col("id"), col("v"))),
      "pq" -> (p => Similarity.pqAppend(spark, p, v1, col("id"), col("v"))),
      "signature" -> (p => Dedup.signatureAppend(spark, p, d1, col("id"), col("text"))),
      "hash" -> (p => Dedup.hashAppend(spark, p, d1, col("id"), col("text"))),
      "hnsw" -> (p => Hnsw.hnswAppend(spark, p, v1, col("id"), col("v"))))
    val indexes = saves.map { case (family, save) =>
      val p = tmp(s"wrong_family_$family"); save(p); family -> p
    }
    for ((family, path) <- indexes; (other, append) <- appends
         if other != family) {
      val gen = IndexGen.current(path)
      val e = intercept[IllegalArgumentException](append(path))
      assert(e.getMessage.contains(path), s"$other onto $family: ${e.getMessage}")
      assert(IndexGen.current(path) == gen,
        s"$other append onto a $family index moved the committed generation")
    }
    // each family's own append still commits
    indexes.foreach { case (family, path) =>
      val gen = IndexGen.current(path)
      appends(family)(path)
      assert(IndexGen.current(path) != gen, s"$family append committed nothing")
    }
  }

  test("part files at rest: a plain segment keeps one file per non-empty " +
      "input partition; a cid-clustered segment is one file per list") {
    val rows: DataFrame = spark.range(0, 40, 1, 4)
      .select(col("id").as("neighbor_id"), (col("id") % 5).cast("int").as("cid"))
    val plain = tmp("seg_plain")
    SegmentStore.save(plain, Meta(Family.Binary), rows.select("neighbor_id"))
    val g = SegmentStore.open(plain)
    assert(partFiles(g.segmentDirs.head) == 4,
      "a plain segment must never coalesce: part files are read parallelism")
    // an append keeps the old segment as it is and adds its own files
    SegmentStore.append(g, Meta(Family.Binary),
      spark.range(40, 43, 1, 3).select(col("id").as("neighbor_id")))
    val g2 = SegmentStore.open(plain)
    assert(g2.segments.take(1) == g.segments)
    assert(g2.segmentDirs.map(partFiles) == Seq(4, 3))
    val lists = tmp("seg_lists")
    SegmentStore.save(lists, Meta(Family.Ivf), rows)
    val cidDirs = new java.io.File(SegmentStore.open(lists).segmentDirs.head)
      .listFiles.filter(_.getName.startsWith("cid="))
    assert(cidDirs.length == 5)
    cidDirs.foreach(d => assert(partFiles(d.getPath) == 1,
      s"${d.getName}: a clustered list must be one file"))
  }

  test("the meta record round-trips; a mismatched record fails loudly") {
    val path = tmp("seg_meta")
    val rows = Seq((1L, "a")).toDF("id", "h")
    SegmentStore.save(path, Meta(Family.Signature, Seq(3, 6, 3)), rows)
    val g = SegmentStore.open(path)
    assert(g.meta == Meta(Family.Signature, Seq(3, 6, 3)) && g.sides.isEmpty)
    val e = intercept[IllegalArgumentException](
      SegmentStore.append(g, Meta(Family.Signature, Seq(3, 8, 3)), rows))
    assert(e.getMessage.contains("k=8") && e.getMessage.contains("k=6"))
    assert(IndexGen.current(path).contains(g.gen))
    // a generation at another format version is refused, not misread
    val mf = new java.io.File(g.dir, "meta.txt").toPath
    java.nio.file.Files.writeString(mf,
      java.nio.file.Files.readString(mf).replace("version=1", "version=0"))
    val v = intercept[IllegalArgumentException](SegmentStore.open(path))
    assert(v.getMessage.contains("version 0"))
  }
}
