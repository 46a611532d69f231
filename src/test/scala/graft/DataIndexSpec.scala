package graft

import org.apache.spark.sql.functions._
import graft.operators.DataIndex

/** Retriever façade (reference: stdlib/indexing/data_index.py). */
class DataIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
    .toDF("id", "v")

  test("bruteForce retriever returns ranked neighbors") {
    val r = DataIndex.bruteForce(vecs, col("id"), col("v"))
    val out = r.retrieve(vecs.filter(col("id") === 1), col("id"), col("v"), 2)
    val got = out.orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got == Seq(2L, 3L))
  }

  test("a zero-norm corpus vector must not crash retrieval (ANSI x/0)") {
    // Spark 4 ANSI mode raises on double x/0 — one all-zero embedding
    // in a corpus would abort the whole job without the cosine guard;
    // the honest IEEE result is NaN, which ranks first (NaN greatest)
    // with the usual id tiebreak, same as DuckDB orders it
    val corpus = vecs.unionByName(
      Seq((4L, Seq(0.0f, 0.0f))).toDF("id", "v"))
    val r = DataIndex.bruteForce(corpus, col("id"), col("v"))
    val out = r.retrieve(corpus.filter(col("id") === 1), col("id"), col("v"), 3)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out(0).getLong(2) == 4L) // NaN cosine ranks first
    assert(out(0).getDouble(3).isNaN)
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 2L, 3L))
  }

  test("pq and ivfPq retrievers answer through the façade with refine") {
    // 16-dim fixture (pq needs m | dim); 4 near-axis groups of 3
    val d = (for (g <- 0 until 4; j <- 0 until 3) yield {
      val v = Array.tabulate(16)(i =>
        (if (i / 4 == g) 1.0 else 0.0) + ((g * 7 + j * 3 + i) % 3 - 1) / 30.0)
      ((g * 3 + j).toLong, v)
    }).toDF("id", "v")
    // query id OUTSIDE the corpus id space: both façades default to
    // excludeSelf = true (one shared policy since r11); a fresh query id
    // keeps the comparison independent of the self-match policy anyway
    val q = Seq((100L, Array.tabulate(16)(i => if (i / 4 == 0) 1.0 else 0.0)))
      .toDF("id", "v")
    val exact = DataIndex.bruteForce(d, col("id"), col("v"))
      .retrieve(q, col("id"), col("v"), 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val pq = DataIndex.pq(d, col("id"), col("v"), dim = 16,
        m = 4, ksub = 8, rescore = 12)
      .retrieve(q, col("id"), col("v"), 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(pq == exact) // refine over the full shortlist recovers exact
    val ivfpq = DataIndex.ivfPq(d, col("id"), col("v"), dim = 16,
        nlist = 4, nprobe = 4, m = 4, ksub = 8, rescore = 12)
      .retrieve(q, col("id"), col("v"), 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    // nprobe = nlist probes every list; refine covers the shortlist
    assert(ivfpq == exact)
  }

  test("bm25 retriever finds term matches") {
    val docs = Seq((1L, "spark shuffles data"), (2L, "ducks like water"))
      .toDF("id", "text")
    val qs = Seq((10L, "spark data")).toDF("qid", "q")
    val r = DataIndex.bm25(docs, col("id"), col("text"))
    val out = r.retrieve(qs, col("qid"), col("q"), 5).collect()
    assert(out.map(_.getLong(2)).toSet == Set(1L))
  }

  test("hybrid retriever fuses rankings by RRF") {
    val docs = Seq((1L, "spark shuffles data"), (2L, "spark spark spark"))
      .toDF("id", "text")
    val r = DataIndex.hybrid(
      DataIndex.bm25(docs, col("id"), col("text")),
      DataIndex.bm25(docs, col("id"), col("text")))
    val qs = Seq((10L, "spark")).toDF("qid", "q")
    val out = r.retrieve(qs, col("qid"), col("q"), 2)
    assert(out.count() == 2) // both docs ranked, fused scores
    assert(out.filter(col("rank") === 1).collect()(0).getLong(2) == 2L)
  }

  test("lsh retriever restricts to bucket candidates") {
    val r = DataIndex.lsh(vecs, col("id"), col("v"), dim = 2, planes = 2)
    val out = r.retrieve(vecs, col("id"), col("v"), 3)
    // every returned pair shares a bucket; identical vector 1↔2 must appear
    val pairs = out.select("qid", "id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("lsh retriever derives planes from corpus size by default") {
    import graft.operators.Similarity
    // the derivation itself: occupancy-8 target over the sf0.01 corpus
    // reproduces the 6 planes the oracle hardcodes; 100× data ⇒ +log2
    assert(Similarity.planesFor(500, 8) == 6)
    assert(Similarity.planesFor(50000, 8) == 13)
    assert(Similarity.planesFor(3) == 1) // floor: never 0 planes
    // IVF list sizing: nearest power of two to √n, grows with the corpus
    assert(Similarity.nlistFor(500) == 16)
    assert(Similarity.nlistFor(2000) == 32)
    assert(Similarity.nlistFor(20000) == 128)
    // default (planes = 0) path derives planesFor(count) and still works
    val r = DataIndex.lsh(vecs, col("id"), col("v"), dim = 2)
    val out = r.retrieve(vecs, col("id"), col("v"), 3)
    val pairs = out.select("qid", "id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ivf retriever: exact when nprobe = nlist, list-restricted otherwise") {
    import graft.operators.Similarity
    // nprobe = nlist -> every list probed -> exact ranking (the query row
    // itself ranks first, same convention as the lsh retriever)
    val r = DataIndex.ivf(vecs, col("id"), col("v"), nlist = 2, nprobe = 2)
    val out = r.retrieve(vecs.filter(col("id") === 1), col("id"), col("v"), 3)
    assert(out.orderBy("rank").collect().map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    // self-ANN variant excludes the query row itself
    val self = Similarity.ivfTopK(vecs, col("id"), col("v"),
      nlist = 2, nprobe = 2, k = 1)
    assert(self.count() == 3 &&
      self.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("quantized retriever: int8 codes track exact brute-force ranking") {
    import graft.operators.Similarity
    // deterministic pseudo-random 16-dim corpus — recall@3 of the
    // quantized ranking vs exact cosine must stay high (int8 keeps ~2.4
    // decimal digits per component)
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = DataIndex.quantized(corpus, col("id"), col("v"))
      .retrieve(queries, col("id"), col("v"), 3)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@3 = $recall")
    // codes are genuinely tinyint (the 8x memory claim) and bounded
    val codes = Similarity.quantizeInt8(corpus, col("v"))
    assert(codes.schema("qcodes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    // zero vector survives quantization (scale floor, no div-by-zero)
    val z = Similarity.quantizeInt8(
      Seq((99L, Seq(0.0f, 0.0f))).toDF("id", "v"), col("v"))
    assert(z.select("qcodes").collect()(0).getSeq[Byte](0).forall(_ == 0))
  }

  test("binaryTopK: hamming self-distance 0; rescore ≥ corpus ≡ brute force") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    // a duplicated vector is hamming-0 from its copy and ranks first
    // (smallest id at the tie)
    val q0v = corpus.filter(col("id") === 0).collect()(0).getSeq[Float](1)
    val withDup = corpus.union(Seq((999L, q0v)).toDF("id", "v"))
    val ham = Similarity.binaryTopK(withDup.filter(col("id") === 999),
      withDup, col("id"), col("v"), col("id"), col("v"), k = 1)
    val top = ham.collect()(0)
    assert(top.getLong(2) == 0L && top.getInt(3) == 0)
    // rescore covering the whole corpus: hamming prune keeps everything,
    // the float refine IS brute force — outputs must be identical
    val exact = Similarity.bruteForceTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaBinary = Similarity.binaryTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3, rescore = 200)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaBinary == exact)
    // a NULL-embedding corpus row must never reach the ranking: Spark's
    // ascending window sorts NULLS FIRST, which would hand it rank 1
    val withNull = corpus.union(
      Seq((998L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"))
    val hamTop = Similarity.binaryTopK(queries, withNull,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .collect()
    assert(hamTop.forall(_.getLong(2) != 998L))
    assert(hamTop.forall(!_.isNullAt(3)))
    // the facade delegates: rescore ≥ corpus through DataIndex.binary
    // returns the same pairs as brute force
    val viaFacade = graft.operators.DataIndex.binary(corpus, col("id"),
        col("v"), rescore = 200)
      .retrieve(queries, col("id"), col("v"), 3)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaFacade == exact)
    // codes are genuinely packed: 16 dims → one long word
    val codes = Similarity.binarySignQuantize(corpus, col("v"))
    assert(codes.schema("bcodes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false) ||
      codes.select("bcodes").collect()(0).getSeq[Long](0).length == 1)
    // excludeSelf = false: disjoint query/corpus tables whose id spaces
    // coincide must NOT drop the id-colliding true neighbor (999 is a
    // copy of 0's vector — hamming 0 from query id 999 in the corpus)
    val inc = Similarity.binaryTopK(withDup.filter(col("id") === 999),
        withDup.filter(col("id") =!= 0), col("id"), col("v"),
        col("id"), col("v"), k = 1, excludeSelf = false)
      .collect()(0)
    assert(inc.getLong(2) == 999L && inc.getInt(3) == 0)
    val incF = graft.operators.DataIndex.binary(
        withDup.filter(col("id") =!= 0), col("id"), col("v"),
        excludeSelf = false)
      .retrieve(withDup.filter(col("id") === 999), col("id"), col("v"), 1)
      .collect()(0)
    assert(incF.getLong(2) == 999L)
  }

  test("binaryAppend: segment growth ≡ rebuild") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    val (half1, half2) =
      (corpus.filter(col("id") < 60), corpus.filter(col("id") >= 60))
    // rebuild over everything vs save(half) + append(half): sign codes
    // are a pure per-row function, so the rankings must be IDENTICAL
    val full = java.nio.file.Files.createTempDirectory("bin_full").toString
    Similarity.binarySave(corpus, col("id"), col("v"), full)
    val inc = java.nio.file.Files.createTempDirectory("bin_inc").toString
    Similarity.binarySave(half1, col("id"), col("v"), inc)
    Similarity.binaryAppend(spark, inc, half2, col("id"), col("v"))
    def top(path: String) = Similarity.binaryLoadTopK(spark, path, queries,
        col("id"), col("v"), k = 3, rescore = 10,
        rescoreAgainst = Some((corpus, col("id"), col("v"))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(top(inc) == top(full))
    // two segments on disk, one after a fresh save
    val incGen = graft.core.IndexGen.readDir(inc)
    val manifest = java.nio.file.Files.readString(
      new java.io.File(incGen, "segments.txt").toPath)
    assert(manifest.split("\n").count(_.nonEmpty) == 2)
  }

  test("NULL embeddings never NPE the coarse-quantizer builds") {
    import graft.operators.{Similarity, Clustering}
    // 3 real rows + 1 NULL row, nlist covering the corpus: without the
    // isNotNull sample filter the NULL row lands in the centroid set and
    // the driver-side collect NPEs before any task runs
    val corpus = vecs.union(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"))
    val out = Similarity.ivfTopK(corpus, col("id"), col("v"),
      nlist = 8, nprobe = 8, k = 2)
    assert(out.filter(col("neighbor_id") === 99L).count() == 0 &&
      out.count() > 0)
    // k-means: NULL row excluded from the seed, assigned NULL cluster
    val fit = Clustering.kmeansFit(corpus, col("id"), col("v"),
      k = 4, rounds = 1)
    assert(fit.collect().forall(!_.isNullAt(1)))
    // a user-supplied NULL centroid fails LOUDLY (model hole = caller
    // error), not with a bare NullPointerException
    val badCents = Seq((1, Seq(1.0, 0.0)), (2, null.asInstanceOf[Seq[Double]]))
      .toDF("cid", "cv").withColumn("cvn2", lit(1.0))
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(vecs, col("id"), col("v"), badCents).collect()
    }
    assert(e.getMessage.contains("NULL centroid"))
  }

  test("binary index: save → load ≡ ad-hoc; codes-only at rest; refine guard") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    val path = java.nio.file.Files.createTempDirectory("binidx").toString
    Similarity.binarySave(corpus, col("id"), col("v"), path)
    // persisted layout holds ONLY packed codes (the 64x-at-rest claim),
    // as one manifest-listed segment (the binaryAppend growth layout)
    val persisted = graft.operators.Similarity.binaryLoadParts(spark, path)
    assert(persisted.columns.toSeq == Seq("neighbor_id", "bcodes"))
    // loaded hamming path ≡ ad-hoc binaryTopK
    val adhoc = Similarity.binaryTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val loaded = Similarity.binaryLoadTopK(spark, path, queries,
        col("id"), col("v"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(loaded == adhoc)
    // loaded refine ≡ ad-hoc rescore path
    val adhocR = Similarity.binaryTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3, rescore = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val loadedR = Similarity.binaryLoadTopK(spark, path, queries,
        col("id"), col("v"), k = 3, rescore = 12,
        rescoreAgainst = Some((corpus, col("id"), col("v"))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(loadedR == adhocR)
    // refine without a float corpus fails loudly
    assert(intercept[IllegalArgumentException] {
      Similarity.binaryLoadTopK(spark, path, queries,
        col("id"), col("v"), k = 3, rescore = 12)
    }.getMessage.contains("rescoreAgainst"))
  }

  test("ivfBinary: hamming rank inside lists, full probe + rescore ≡ brute force") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(19)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = nlist probes every list; rescore ≥ corpus makes the
    // float refine a full re-rank — must equal brute force exactly
    val viaIvf = Similarity.ivfBinaryRetrieve(queries, corpus,
        col("id"), col("v"), col("id"), col("v"),
        nlist = 4, nprobe = 4, k = 3, rescore = 200, excludeSelf = true)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIvf == exact)
    // without rescore the integer hamming is the emitted score
    val ham = Similarity.ivfBinaryRetrieve(queries, corpus,
      col("id"), col("v"), col("id"), col("v"),
      nlist = 4, nprobe = 4, k = 1, excludeSelf = true)
    assert(ham.columns.toSeq ==
      Seq("query_id", "rank", "neighbor_id", "hamming"))
    assert(ham.collect().forall(_.getInt(3) >= 0))
  }

  test("hardNegatives: band excludes near-dups and easy negatives") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),        // anchor
      (2L, Seq(1.0, 0.001)),      // near-dup (cos ≈ 1) — excluded above
      (3L, Seq(1.0, 1.0)),        // cos ≈ 0.707 — in band
      (4L, Seq(0.2, 1.0)),        // cos ≈ 0.196 — below band
      (5L, Seq(-1.0, 0.0)))       // cos = -1 — far below
      .toDF("id", "v")
    val out = Similarity.hardNegatives(
        corpus.filter(col("id") === 1), corpus,
        col("id"), col("v"), col("id"), col("v"),
        k = 5, loSim = 0.3, hiSim = 0.9)
      .collect().map(_.getLong(2)).toSet
    assert(out == Set(3L))
    // degenerate band rejected loudly
    assertThrows[IllegalArgumentException] {
      Similarity.hardNegatives(corpus, corpus, col("id"), col("v"),
        col("id"), col("v"), k = 1, loSim = 0.5, hiSim = 0.5)
    }
  }

  test("mmrTopK: diversity beats redundancy; ties to smallest id; " +
      "short candidate lists truncate") {
    import graft.operators.Similarity
    // query-relevance scores: two near-duplicates of the best hit (ids
    // 1, 2 — cosine ≈ 1 to each other) and an orthogonal mid-score hit
    // (id 3). Pure relevance would rank (1, 2, 3); MMR at λ=0.75 must
    // pick the orthogonal 3 second: mmr(2|1) = .75·.98 − .25·cos(2,1)
    // ≈ .49 < mmr(3|1) = .75·.80 − .25·0 = .60.
    val cands = Seq(
      (7L, 1L, 0.99, Seq(1.0, 0.0, 0.0)),
      (7L, 2L, 0.98, Seq(0.999, 0.04, 0.0)),
      (7L, 3L, 0.80, Seq(0.0, 1.0, 0.0)))
      .toDF("query_id", "nid", "s", "v")
    val picked = Similarity.mmrTopK(cands, col("query_id"), col("nid"),
        col("s"), col("v"), n = 3, lam = 0.75)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(picked.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)))
    // exact tie on mmr: the smaller id wins regardless of row order
    val tied = Seq(
      (7L, 9L, 0.5, Seq(1.0, 0.0)),
      (7L, 4L, 0.5, Seq(1.0, 0.0)))
      .toDF("query_id", "nid", "s", "v")
    val t = Similarity.mmrTopK(tied, col("query_id"), col("nid"),
      col("s"), col("v"), n = 1, lam = 0.75).collect()(0)
    assert(t.getLong(2) == 4L)
    // fewer candidates than n: all of them come back, in greedy order
    assert(Similarity.mmrTopK(tied, col("query_id"), col("nid"),
      col("s"), col("v"), n = 5, lam = 0.75).count() == 2)
  }

  test("ivfQuantized: integer-dot rank inside lists, exact re-score " +
      "recovers brute-force top-k at nprobe = nlist") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus,
        col("id"), col("v"), col("id"), col("v"), k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe = nlist probes every list; rescore > k re-ranks by exact
    // cosine, so the output must EQUAL brute force, not just approximate
    val full = Similarity.ivfQuantizedRetrieve(queries, corpus,
        col("id"), col("v"), col("id"), col("v"),
        nlist = 8, nprobe = 8, k = 3, rescore = 32, excludeSelf = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"IVF-SQ full-probe+rescore diverged: $full vs $exact")
    // the pruned serving shape keeps high recall
    val pruned = Similarity.ivfQuantizedRetrieve(queries, corpus,
        col("id"), col("v"), col("id"), col("v"),
        nlist = 8, nprobe = 4, k = 3, rescore = 8, excludeSelf = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pruned).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-SQ recall@3 = $recall")
    // without rescore the score column is the integer-dot approximation
    val noRescore = DataIndex.ivfQuantized(corpus, col("id"), col("v"),
        nlist = 8, nprobe = 8)
      .retrieve(queries, col("id"), col("v"), 3)
    assert(noRescore.columns.toSeq == Seq("qid", "rank", "id", "score"))
    assert(noRescore.count() > 0)
  }

  test("ivfSave/ivfLoadRetrieve round-trips the index byte-identically") {
    import graft.operators.Similarity
    val n = 40
    val corpus = (1L to n).map { i =>
      (i, Seq.tabulate(4)(j => (math.sin(i * 7.3 + j) * 10).toFloat))
    }.toDF("id", "v")
    val direct = Similarity.ivfRetrieve(corpus, corpus, col("id"), col("v"),
        col("id"), col("v"), nlist = 8, nprobe = 2, k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.ivfSave(corpus, col("id"), col("v"), idx, nlist = 8)
    val loaded = Similarity.ivfLoadRetrieve(spark, idx, corpus,
        col("id"), col("v"), nprobe = 2, k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(loaded == direct)
    // the persisted layout: one committed GENERATION dir (atomic
    // marker-flip publish) holding broadcastable centroids + a segment
    // MANIFEST; the cid-partitioned lists live in the shared segment
    // store (so appends can reference them without rewriting)
    val gdir = graft.core.IndexGen.readDir(idx)
    assert(gdir != idx, "ivfSave must publish a committed generation")
    assert(new java.io.File(s"$gdir/centroids").isDirectory)
    assert(new java.io.File(s"$gdir/segments.txt").isFile)
    val segDirs = new java.io.File(s"$idx/segments").listFiles
      .filter(_.getName.startsWith("seg-"))
    assert(segDirs.length == 1)
    val cidDirs = segDirs(0).listFiles.filter(_.getName.startsWith("cid="))
    assert(cidDirs.nonEmpty)
    // lists are CLUSTERED before the partitioned write: each inverted
    // list is exactly one parquet file, not one per (task, cid) pair —
    // un-clustered partitionBy writes tasks×nlist near-empty files
    cidDirs.foreach { d =>
      val parts = d.listFiles.filter(_.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"${d.getName}: expected one clustered file, got ${parts.length}")
    }
  }

  test("ivfAppend: frozen centroids, new segment only, vacuum on rebuild") {
    import graft.operators.Similarity
    val all = (1L to 60).map { i =>
      (i, Seq.tabulate(4)(j => (math.sin(i * 5.1 + j) * 10).toFloat))
    }.toDF("id", "v")
    val base = all.filter(col("id") <= 40)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.ivfSave(base, col("id"), col("v"), idx, nlist = 8)
    def segs() = new java.io.File(s"$idx/segments").listFiles
      .filter(_.getName.startsWith("seg-")).map(_.getName).toSet
    val origSegs = segs()
    Similarity.ivfAppend(spark, idx, all.filter(col("id") > 40),
      col("id"), col("v"))
    // the original segment is REFERENCED, not rewritten; one new segment
    assert(segs().size == 2 && origSegs.subsetOf(segs()))
    // the appended index ≡ a from-scratch assignment of ALL rows under
    // the SAME (subset-sampled) centroids — the frozen-geometry contract
    val loaded = Similarity.ivfLoadRetrieve(spark, idx, all,
        col("id"), col("v"), nprobe = 2, k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val (cents, _) = Similarity.ivfBuild(base, col("id"), col("v"),
      nlist = 8)
    val refAssigned = Similarity.assignVectors(all, col("id"), col("v"),
      cents)
    val direct = Similarity.ivfSearch(cents, refAssigned, all,
        col("id"), col("v"), nprobe = 2, k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(loaded == direct)
    // two full rebuilds later, the pre-append segments are unreferenced
    // by every surviving generation and vacuumed from disk
    Similarity.ivfSave(all, col("id"), col("v"), idx, nlist = 8)
    Similarity.ivfSave(all, col("id"), col("v"), idx, nlist = 8)
    assert(segs().intersect(origSegs).isEmpty,
      "segments referenced only by pruned generations must be vacuumed")
  }

  test("a load or an append on a path with no committed generation " +
      "fails and names the path") {
    import graft.operators.Similarity
    val corpus = (1L to 8).map(i => (i, Seq(i.toFloat, 1f))).toDF("id", "v")
    // artifacts without a generation marker: nothing was ever committed
    val idx = java.nio.file.Files.createTempDirectory("graft_no_gen").toString
    corpus.write.parquet(s"$idx/centroids")
    val attempts = Seq[() => Any](
      () => Similarity.ivfLoadRetrieve(spark, idx, corpus, col("id"), col("v"),
        nprobe = 1, k = 1),
      () => Similarity.ivfAppend(spark, idx, corpus, col("id"), col("v")),
      () => Similarity.binaryAppend(spark, idx, corpus, col("id"), col("v")))
    attempts.foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(idx), e.getMessage)
    }
    assert(graft.core.IndexGen.current(idx).isEmpty, "nothing committed")
  }

  test("classify: majority vote, pinned tie-break, NULL on empty retrieval") {
    // corpus around the x-axis: query 10's 3-NN are ids 1,2 (label A=1)
    // and 3 (label B=2) -> majority 1
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.6f, 0.4f)), (4L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val labels = Seq((1L, 1), (2L, 1), (3L, 2), (4L, 2)).toDF("id", "lbl")
    val qs = Seq((10L, Seq(1.0f, 0.0f))).toDF("qid", "qv")
    val bf = DataIndex.bruteForce(corpus, col("id"), col("v"))
    val out = DataIndex.classify(bf, labels, col("id"), col("lbl"),
      qs, col("qid"), col("qv"), k = 3).collect()
    assert(out.length == 1 && out(0).getInt(1) == 1)
    // k=2 -> neighbors 1 (label 1) and 2... adjust: take k=4 -> labels
    // {1,1,2,2}, a 2-2 tie -> smallest label wins (pinned tie-break)
    val tied = DataIndex.classify(bf, labels, col("id"), col("lbl"),
      qs, col("qid"), col("qv"), k = 4).collect()
    assert(tied(0).getInt(1) == 1)
    // bm25 retriever with a query sharing no terms: empty retrieval ->
    // the query row survives with a NULL label (reference knns_empty path)
    val docs = Seq((1L, "spark shuffles data")).toDF("id", "text")
    val dl = Seq((1L, 7)).toDF("id", "lbl")
    val qt = Seq((20L, "unrelated words")).toDF("qid", "q")
    val none = DataIndex.classify(DataIndex.bm25(docs, col("id"), col("text")),
      dl, col("id"), col("lbl"), qt, col("qid"), col("q"), k = 3).collect()
    assert(none.length == 1 && none(0).isNullAt(1))
  }

  test("planesFor scales plane count with the corpus (log2), never constant") {
    import graft.operators.Similarity
    assert(Similarity.planesFor(1000, 256) == 2)   // ~4 buckets
    assert(Similarity.planesFor(100000, 256) == 9)
    // 100x corpus adds ~log2(100) ≈ 6.6 planes
    assert(Similarity.planesFor(10000000, 256) - Similarity.planesFor(100000, 256) == 7)
    assert(Similarity.planesFor(10, 256) == 1) // floor
  }

  test("pq twins: ad-hoc ≡ save → load with equal rank, id and bit-equal " +
      "score, restrictTo ≡ the ad-hoc ranking cut to the kept ids") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 96).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "v")
    val queries = corpus.filter(col("id") % 12 === 0)
    val kept = corpus.filter(col("id") % 3 =!= 0).select(col("id"))
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    val pqPath = java.nio.file.Files.createTempDirectory("pq_twin").toString
    Similarity.pqSave(corpus, col("id"), col("v"), pqPath, m = 4, ksub = 8, dim = 16)
    val ivfPqPath = java.nio.file.Files.createTempDirectory("ivfpq_twin").toString
    Similarity.ivfPqSave(corpus, col("id"), col("v"), ivfPqPath,
      nlist = 8, m = 4, ksub = 8, dim = 16)
    val against = (corpus, col("id"), col("v"))
    // (query, rank, id, raw score bits): equal bits ⇔ bit-equal doubles
    def rows(df: DataFrame): Seq[(Long, Int, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted
    // a restricted load ranks only the kept ids: the reference is the
    // ad-hoc ranking over every candidate, cut to the kept ids, re-ranked
    def cut(all: Seq[(Long, Int, Long, Long)], k: Int) =
      all.filter(r => keptIds(r._3)).groupBy(_._1).toSeq.flatMap {
        case (_, rs) => rs.sortBy(_._2).take(k).zipWithIndex
          .map { case ((q, _, n, s), i) => (q, i + 1, n, s) }
      }.sorted
    def pqAdhoc(k: Int, r: Int, ex: Boolean) = Similarity.pqTopK(queries, corpus,
      col("id"), col("v"), col("id"), col("v"), m = 4, ksub = 8, k = k,
      rescore = r, dim = 16, excludeSelf = ex)
    def pqLoad(r: Int, ex: Boolean, restrict: Option[DataFrame] = None) =
      Similarity.pqLoadTopK(spark, pqPath, queries, col("id"), col("v"), k = 3,
        rescore = r, rescoreAgainst = if (r > 0) Some(against) else None,
        excludeSelf = ex, restrictTo = restrict)
    def ivfPqAdhoc(k: Int, r: Int, ex: Boolean) = Similarity.ivfPqRetrieve(
      queries, corpus, col("id"), col("v"), col("id"), col("v"), nlist = 8,
      nprobe = 2, m = 4, ksub = 8, k = k, rescore = r, excludeSelf = ex, dim = 16)
    def ivfPqLoad(r: Int, ex: Boolean, restrict: Option[DataFrame] = None) =
      Similarity.ivfPqLoadTopK(spark, ivfPqPath, queries, col("id"), col("v"),
        nprobe = 2, k = 3, rescore = r, rescoreAgainst = against,
        excludeSelf = ex, restrictTo = restrict)
    val cases: Seq[(String, () => Seq[(Long, Int, Long, Long)],
        () => Seq[(Long, Int, Long, Long)])] =
      (for (ex <- Seq(true, false); r <- Seq(0, 6)) yield
        (s"pq rescore=$r excludeSelf=$ex",
          () => rows(pqAdhoc(3, r, ex)), () => rows(pqLoad(r, ex)))) ++
      (for (ex <- Seq(true, false)) yield
        (s"ivfPq excludeSelf=$ex",
          () => rows(ivfPqAdhoc(3, 6, ex)), () => rows(ivfPqLoad(6, ex)))) ++
      Seq(
        ("pq restrictTo",
          () => cut(rows(pqAdhoc(96, 0, true)), 3),
          () => rows(pqLoad(0, true, Some(kept)))),
        // rescore ≥ every probed candidate: the shortlist cut keeps all
        // of them on both sides, so only the id restriction differs
        ("ivfPq restrictTo",
          () => cut(rows(ivfPqAdhoc(96, 96, false)), 3),
          () => rows(ivfPqLoad(96, false, Some(kept)))))
    cases.foreach { case (name, adhoc, loaded) =>
      val a = adhoc()
      assert(a.nonEmpty, s"$name: empty answer")
      assert(loaded() == a, name)
    }
  }
}
