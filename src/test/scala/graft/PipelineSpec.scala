package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextOps}

/** Dedup / similarity / text-analysis operator semantics. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines and shuffles x y"),
    (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup groups identical keys, keeps min id") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
    assert(rowsOf(out) == Set(Seq(1L, 2L), Seq(2L, 1L), Seq(3L, 1L)))
  }

  test("minhashLshPairs finds near-dups above threshold") {
    val out = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
      n = 3, k = 6, bands = 3, threshold = 0.5)
    val pairs = out.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup (7-gram overlap)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashSig expression ≡ the explode+min(md5) aggregation, " +
      "short docs absent from both") {
    val viaAgg = Dedup.minhash(
      Dedup.shingles(docs, col("doc_id"), col("text"), 3), 6)
    val viaExpr = docs.select(col("doc_id").as("id"),
        graft.plans.TextExprs.minhashSig(col("text"), 3, 6).as("m"))
      .filter(col("m").isNotNull)
      .select(col("id") +:
        (0 until 6).map(i => col("m").getItem(i).as(s"h$i")): _*)
    assert(viaExpr.exceptAll(viaAgg).count() == 0 &&
      viaAgg.exceptAll(viaExpr).count() == 0)
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
    assert(Dedup.minhash(
      Dedup.shingles(short, col("doc_id"), col("text"), 3), 6).count() == 0)
    assert(short.select(
        graft.plans.TextExprs.minhashSig(col("text"), 3, 6).as("m"))
      .filter(col("m").isNotNull).count() == 0)
  }

  test("signature index: identical doc matches at est 1.0, unrelated " +
      "absent; append ≡ rebuild; geometry persisted and enforced") {
    val path = java.nio.file.Files.createTempDirectory("sig_spec").toString
    // history = docs 1 and 3; new = docs 2 (near-dup of 1) and 4 (exact
    // dup of 1); doc 4 must match doc 1 with EVERY minhash agreeing
    Dedup.signatureSave(docs.filter(col("doc_id").isin(1L, 3L)),
      col("doc_id"), col("text"), path, n = 3, k = 6, bands = 3)
    val hits = Dedup.dedupAgainst(spark, path,
        docs.filter(col("doc_id").isin(2L, 4L)), col("doc_id"), col("text"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(hits.contains((4L, 1L, 1.0)), s"exact dup must match at 1.0: $hits")
    assert(!hits.exists(h => h._2 == 3L), "unrelated history doc must not match")
    // append ≡ rebuild: history built incrementally (1, then 3) probes
    // identically — a signature is a pure per-document function
    val inc = java.nio.file.Files.createTempDirectory("sig_spec_inc").toString
    Dedup.signatureSave(docs.filter(col("doc_id") === 1L),
      col("doc_id"), col("text"), inc, n = 3, k = 6, bands = 3)
    Dedup.signatureAppend(spark, inc, docs.filter(col("doc_id") === 3L),
      col("doc_id"), col("text"))
    val hitsInc = Dedup.dedupAgainst(spark, inc,
        docs.filter(col("doc_id").isin(2L, 4L)), col("doc_id"), col("text"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(hitsInc == hits)
    // geometry travels with the index: a k=4/bands=2 index probes at
    // 1/4 estimate granularity without the caller restating params
    val g = java.nio.file.Files.createTempDirectory("sig_spec_g").toString
    Dedup.signatureSave(docs.filter(col("doc_id") === 1L),
      col("doc_id"), col("text"), g, n = 3, k = 4, bands = 2)
    val est4 = Dedup.dedupAgainst(spark, g,
        docs.filter(col("doc_id") === 4L), col("doc_id"), col("text"),
        threshold = 0.5)
      .collect().map(_.getAs[Double]("est_jaccard"))
    assert(est4.toSeq == Seq(1.0))
    // appending to a non-index path fails loudly, never fabricates one
    val bad = java.nio.file.Files.createTempDirectory("sig_spec_bad").toString
    intercept[IllegalArgumentException] {
      Dedup.signatureAppend(spark, bad, docs, col("doc_id"), col("text"))
    }
  }

  test("dedupRefresh: in-batch canonicalization, history drop, " +
      "survivor append; sub-n docs returned but not indexed") {
    val path = java.nio.file.Files.createTempDirectory("sig_refresh").toString
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    Dedup.signatureSave(history, col("doc_id"), col("text"), path,
      n = 3, k = 6, bands = 3)
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"), // dup of history 1
      (12L, "unique new content entirely fresh words today"),
      (13L, "unique new content entirely fresh words today"), // in-batch dup of 12
      (14L, "short")) // sub-n: no signature
      .toDF("doc_id", "text")
    val survivors = Dedup.dedupRefresh(spark, path, batch,
      col("doc_id"), col("text"), threshold = 0.8, estThreshold = 0.5)
    assert(survivors.columns.toSeq == Seq("doc_id", "text"))
    assert(survivors.select("doc_id").as[Long].collect().toSet ==
      Set(12L, 14L),
      "11 drops vs history, 13 canonicalizes into 12, 12 and 14 survive")
    // the append is live: a copy of survivor 12 now matches the index
    val probe = Dedup.dedupAgainst(spark, path,
        Seq((99L, "unique new content entirely fresh words today"))
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(probe.contains((99L, 12L, 1.0)), s"survivor 12 must be indexed: $probe")
    assert(!probe.exists(_._2 == 13L), "canonicalized-away 13 must not be indexed")
    // the history dup was NOT re-appended: a copy of doc 1's text matches
    // only the original history entry
    val probe1 = Dedup.dedupAgainst(spark, path,
        Seq((98L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(probe1 == Set(1L), s"batch dup 11 must not be indexed: $probe1")
  }

  test("signatureAppend of an empty/all-sub-n batch keeps the current " +
      "generation; an all-dup dedupRefresh survives with zero survivors") {
    val path = java.nio.file.Files.createTempDirectory("sig_empty").toString
    val history = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    Dedup.signatureSave(history, col("doc_id"), col("text"), path,
      n = 3, k = 6, bands = 3)
    val gen0 = graft.core.IndexGen.current(path)
    // empty batch: no new segment, same committed generation
    val genA = Dedup.signatureAppend(spark, path,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(Option(genA) == gen0 && graft.core.IndexGen.current(path) == gen0)
    // sub-n-only batch: signatures are absent rows — same path
    Dedup.signatureAppend(spark, path,
      Seq((7L, "short")).toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(graft.core.IndexGen.current(path) == gen0)
    // an all-dup refresh appends nothing and the index still probes
    val survivors = Dedup.dedupRefresh(spark, path,
      Seq((11L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(survivors.count() == 0)
    val hits = Dedup.dedupAgainst(spark, path,
        Seq((99L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(hits == Set(1L), s"index must still serve exactly history: $hits")
  }

  test("exact-dedup hash index: byte-identical match only, append ≡ " +
      "rebuild, index kinds fail loudly when crossed") {
    val path = java.nio.file.Files.createTempDirectory("hash_idx").toString
    Dedup.hashSave(docs.filter(col("doc_id").isin(1L, 3L)),
      col("doc_id"), col("text"), path)
    // doc 4 is an exact copy of 1 → matched; doc 2 is a NEAR dup → not
    val hits = Dedup.exactAgainst(spark, path,
        docs.filter(col("doc_id").isin(2L, 4L)), col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((4L, 1L)), s"exact-only matching: $hits")
    // append ≡ rebuild
    val inc = java.nio.file.Files.createTempDirectory("hash_idx_inc").toString
    Dedup.hashSave(docs.filter(col("doc_id") === 1L),
      col("doc_id"), col("text"), inc)
    Dedup.hashAppend(spark, inc, docs.filter(col("doc_id") === 3L),
      col("doc_id"), col("text"))
    val hitsInc = Dedup.exactAgainst(spark, inc,
        docs.filter(col("doc_id").isin(2L, 4L)), col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hitsInc == hits)
    // empty/all-NULL append keeps the generation
    val gen0 = graft.core.IndexGen.current(inc)
    Dedup.hashAppend(spark, inc,
      Seq((9L, null: String)).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(graft.core.IndexGen.current(inc) == gen0)
    // crossing index kinds fails loudly in both directions
    intercept[IllegalArgumentException] {
      Dedup.signatureAppend(spark, inc, docs, col("doc_id"), col("text"))
    }
    val sig = java.nio.file.Files.createTempDirectory("sig_for_hash").toString
    Dedup.signatureSave(docs, col("doc_id"), col("text"), sig)
    intercept[IllegalArgumentException] {
      Dedup.hashAppend(spark, sig, docs, col("doc_id"), col("text"))
    }
    intercept[IllegalArgumentException] {
      Dedup.exactAgainst(spark, sig, docs, col("doc_id"), col("text"))
    }
  }

  test("dedupRefresh replay: a retried batch re-derives its survivors " +
      "identically even in the est≥estThreshold / jaccard<threshold band") {
    // Two docs sharing 17 of 20 words: exact Jaccard = 15/21 ≈ 0.71 < 0.8 so
    // BOTH survive in-batch canonicalization, while their MinHash
    // signature agreement clears a low estThreshold. On a replayed
    // batch (append committed, downstream write lost) each doc sees the
    // OTHER's already-indexed signature — before the batch-id exclusion
    // in dedupRefresh they dropped each other and the retry silently
    // lost both rows.
    val path = java.nio.file.Files.createTempDirectory("sig_replay").toString
    val history = Seq((1L, "completely unrelated seed corpus about engines"))
      .toDF("doc_id", "text")
    Dedup.signatureSave(history, col("doc_id"), col("text"), path,
      n = 3, k = 6, bands = 6)
    val batch = Seq(
      (11L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa quebec romeo sierra tango"),
      (12L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa quebec xray yankee zulu"))
      .toDF("doc_id", "text")
    val r1 = Dedup.dedupRefresh(spark, path, batch,
      col("doc_id"), col("text"), threshold = 0.8, estThreshold = 0.15)
    assert(r1.select("doc_id").as[Long].collect().toSet == Set(11L, 12L),
      "precondition: both docs must survive the fresh batch")
    // precondition: the pair really is in the replay-loss band — after
    // the append, a raw history probe of the same batch cross-matches
    // 11 ↔ 12 at est ≥ estThreshold
    val cross = Dedup.dedupAgainst(spark, path, batch,
        col("doc_id"), col("text"), threshold = 0.15)
      .filter(col("id").isin(11L, 12L) && col("dup_of").isin(11L, 12L))
      .count()
    assert(cross >= 2, s"precondition: expected 11↔12 cross-matches, got $cross")
    // the replay: same batch again, index already holds its signatures
    val r2 = Dedup.dedupRefresh(spark, path, batch,
      col("doc_id"), col("text"), threshold = 0.8, estThreshold = 0.15)
    assert(r2.select("doc_id").as[Long].collect().toSet == Set(11L, 12L),
      "replayed batch must re-derive the same survivors")
  }

  test("exactGate: the driver-side lookup ≡ the join fallback below and " +
      "above the gate, with and without the own-id rule, Int batch ids") {
    val path = java.nio.file.Files.createTempDirectory("exact_gate").toString
    // history ids are Long; the batch below carries Int ids, so the
    // own-id rule must compare them in the batch's type
    Dedup.hashSave(Seq((1L, "a b c"), (2L, "d e f"), (5L, "own text"))
      .toDF("doc_id", "text"), col("doc_id"), col("text"), path)
    val batch = Seq((5, "own text"), (6, "a b c"), (7, "a b c"),
      (8, "fresh words"), (9, "fresh words"), (10, null: String))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Int].collect().toSet
    for ((excludeOwn, want) <- Seq(true -> Set(5, 8, 10),
        false -> Set(8, 10))) {
      val (local, _) = Dedup.exactGate(spark, path, batch, "doc_id", "text",
        excludeOwn)
      val (joined, _) = Dedup.exactGate(spark, path, batch, "doc_id", "text",
        excludeOwn, maxRows = 0)
      assert(ids(local) == want, s"excludeOwn=$excludeOwn: ${ids(local)}")
      assert(rowsOf(local) == rowsOf(joined))
      assert(local.columns.toSeq == Seq("doc_id", "text", "_h"))
    }
    // no index yet: canonicalization only, on both sides
    val none = java.nio.file.Files.createTempDirectory("exact_none")
      .toString + "/idx"
    assert(rowsOf(Dedup.exactGate(spark, none, batch, "doc_id", "text",
      excludeOwn = true)._1) == rowsOf(Dedup.exactGate(spark, none, batch,
      "doc_id", "text", excludeOwn = true, maxRows = 0)._1))
  }

  test("dedupRefresh: the driver-side history probe ≡ the band join below " +
      "and above the gate — fresh batch, replay, Int batch ids") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val b = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec xray yankee zulu"
    val history = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated seed corpus about engines"))
      .toDF("doc_id", "text")
    val batch = Seq((11L, a), (12L, b),
      (13L, "the quick brown fox jumps over the lazy dog"), // history dup
      (14L, a), // in-batch exact dup of 11
      (15L, "short")) // sub-n: returned, never indexed
      .toDF("doc_id", "text")
    def run(maxRows: Int, intIds: Boolean) = {
      val path = java.nio.file.Files.createTempDirectory("sig_gate").toString
      Dedup.signatureSave(history, col("doc_id"), col("text"), path,
        n = 3, k = 6, bands = 6)
      val in = if (intIds) batch.withColumn("doc_id", col("doc_id").cast("int"))
        else batch
      // fresh, then a replay of the same batch (its signatures indexed)
      val outs = (1 to 2).map(_ => rowsOf(Dedup.dedupRefreshGated(spark,
        path, in, col("doc_id"), col("text"), 0.8, 0.15, 100, maxRows)))
      (outs, rowsOf(Similarity.binaryLoadParts(spark, path)
        .select(col("id").cast("long"), col("h0"), col("h5"))))
    }
    for (intIds <- Seq(false, true)) {
      val (localOuts, localIdx) = run(graft.core.Small.MaxRows, intIds)
      val (joinOuts, joinIdx) = run(0, intIds)
      assert(localOuts == joinOuts && localIdx == joinIdx, s"intIds=$intIds")
      assert(localOuts.map(_.map(_.head.toString.toLong)) ==
        Seq(Set(11L, 12L, 15L), Set(11L, 12L, 15L)),
        s"fresh and replayed survivors: $localOuts")
      assert(localIdx.map(_.head) == Set(1L, 2L, 11L, 12L))
    }
  }

  test("dedupRefresh: the distributed in-batch canonicalization ≡ the " +
      "driver pick, with either history probe") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val history = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batch = Seq((11L, a), (12L, a + " uniform"),
      (13L, "the quick brown fox jumps over the lazy dog"), // history dup
      (14L, a), // in-batch exact dup of 11
      (15L, "short")).toDF("doc_id", "text")
    def run(maxRows: Int, canonMaxRows: Int) = {
      val path = java.nio.file.Files.createTempDirectory("sig_canon").toString
      Dedup.signatureSave(history, col("doc_id"), col("text"), path,
        n = 3, k = 6, bands = 6)
      (rowsOf(Dedup.dedupRefreshGated(spark, path, batch, col("doc_id"),
        col("text"), 0.8, 0.5, 100, maxRows, canonMaxRows)),
        rowsOf(Similarity.binaryLoadParts(spark, path)
          .select(col("id"), col("h0"), col("h5"))))
    }
    val local = run(graft.core.Small.MaxRows, graft.core.Small.MaxRows)
    for (maxRows <- Seq(graft.core.Small.MaxRows, 0))
      assert(run(maxRows, 0) == local, s"maxRows=$maxRows")
    assert(local._1.map(_.head) == Set(11L, 15L), s"survivors: ${local._1}")
  }

  test("signatureAppendSigs: signatures at the wrong n fail loudly") {
    val path = java.nio.file.Files.createTempDirectory("sig_wrong_n").toString
    Dedup.signatureSave(docs, col("doc_id"), col("text"), path,
      n = 3, k = 6, bands = 3)
    val cur = graft.core.SegmentStore.open(path)
    val sigs = Seq((9L, "a b c d e f")).toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        explode(array(graft.plans.TextExprs.minhashSig(col("text"), 2, 6)))
          .as("m"))
      .select(col("id") +: (0 until 6).map(i => col("m")(i).as(s"h$i")): _*)
    val gen0 = graft.core.IndexGen.current(path)
    val e = intercept[IllegalArgumentException] {
      Dedup.signatureAppendSigs(cur, 2, 6, sigs)
    }
    assert(e.getMessage.contains("n=2") && e.getMessage.contains("n=3"))
    assert(graft.core.IndexGen.current(path) == gen0, "nothing committed")
    // the same signatures declared at the index geometry append fine
    Dedup.signatureAppendSigs(cur, 3, 6, sigs)
    assert(graft.core.IndexGen.current(path) != gen0)
  }

  test("exactAgainst: oversized probe falls back to an un-hinted join " +
      "with identical results") {
    val path = java.nio.file.Files.createTempDirectory("hash_gate").toString
    Dedup.hashSave(docs.filter(col("doc_id").isin(1L, 3L)),
      col("doc_id"), col("text"), path)
    val probe = docs.filter(col("doc_id").isin(2L, 4L))
    val hinted = Dedup.exactAgainst(spark, path, probe,
      col("doc_id"), col("text"))
    // broadcastLimitBytes = 0 forces the shuffle fallback (the shape an
    // over-limit probe takes instead of failing on the 8 GB broadcast cap)
    val fallback = Dedup.exactAgainst(spark, path, probe,
      col("doc_id"), col("text"), broadcastLimitBytes = 0L)
    assert(rowsOf(hinted) == rowsOf(fallback) &&
      rowsOf(hinted) == Set(Seq(4L, 1L)))
  }

  test("canonicalize keeps one representative per near-dup cluster") {
    // docs 1,2,4 form one cluster (4 is an exact dup of 1, 2 near-dup);
    // keepBy = text length, tie → smallest id, so doc 1 represents it
    val kept = Dedup.canonicalize(docs, col("doc_id"), col("text"),
      length(col("text")), n = 3, k = 6, bands = 3, threshold = 0.5)
    val ids = kept.select("doc_id", "_cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 1L), (3L, 3L)))
    // all original columns survive on the kept rows
    assert(kept.columns.contains("text"))
  }

  test("canonicalize on a duplicate-free corpus keeps every row (empty CC)") {
    // no near-dup pairs → connectedComponents sees an EMPTY edge set;
    // regression for the convergence-probe NPE (sum over zero rows = null)
    val distinctDocs = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "zulu yankee xray whiskee victor"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val kept = Dedup.canonicalize(distinctDocs, col("doc_id"), col("text"),
      length(col("text")), n = 3, k = 6, bands = 3, threshold = 0.9)
    val ids = kept.select("doc_id", "_cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("winnowFingerprints: detection guarantee and k-gram floor") {
    // the winnowing guarantee (k=4, w=4): any shared run of >= w+k-1 = 7
    // tokens shares at least one fingerprint hash...
    val d = Seq(
      (1L, "j1 j2 c1 c2 c3 c4 c5 c6 c7"),
      (2L, "c1 c2 c3 c4 c5 c6 c7 k1 k2"),
      // ...and runs shorter than k = 4 tokens can never match
      (3L, "a b c p q r"),
      (4L, "p q r x y z")).toDF("doc_id", "text")
    val fp = Dedup.containmentPairs(d, col("doc_id"), col("text"),
      k = 4, w = 4, threshold = 0.01, maxDf = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fp.contains((1L, 2L)))
    assert(!fp.contains((3L, 4L)))
  }

  test("winnowFingerprints: short docs, single-shingle docs, determinism") {
    val d = Seq(
      (1L, "a b c"),          // < k tokens: no shingles, no fingerprints
      (2L, "a b c d"),        // exactly k: one shingle, one window
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.winnowFingerprints(
      d, col("doc_id"), col("text"), k = 4, w = 4)
    val byId = out.collect().groupBy(_.getLong(0))
    assert(!byId.contains(1L))
    assert(byId(2L).map(r => r.getLong(1)).toSeq == Seq(1L))
    // density: doc 3 has 7 shingles / 4 windows -> between 1 and 4 picks
    assert(byId(3L).length >= 1 && byId(3L).length <= 4)
    // deterministic replay
    assert(rowsOf(out) == rowsOf(graft.operators.TextOps.winnowFingerprints(
      d, col("doc_id"), col("text"), k = 4, w = 4)))
  }

  test("containmentPairs: a doc pasted inside a larger one scores 1.0") {
    // sketch(A) ⊆ sketch(B) when A's text appears verbatim inside B and
    // every A-window is interior to the pasted run — containment is
    // exactly 1.0 while Jaccard would be diluted by B's larger sketch
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val d = Seq(
      (1L, run),
      (2L, s"x1 x2 x3 x4 x5 $run y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"),
      (3L, "unrelated words entirely different from anything else here"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, col("doc_id"), col("text"),
      k = 4, w = 4, threshold = 0.9, maxDf = 100)
    assert(rowsOf(out) == Set(Seq(1L, 2L, 1.0)))
  }

  test("duplicateSpans finds the maximal shared run with both positions") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"a1 a2 a3 $shared t1 t2"),            // shared run at pos 4
      (2L, s"b1 $shared u1 u2 u3 u4"),            // shared run at pos 2
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11")) // no overlap
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, col("doc_id"), col("text"),
      n = 3, minSpan = 5, maxDf = 8)
    assert(rowsOf(out) == Set(Seq(1L, 2L, 4, 2, 10L)))
  }

  test("duplicateSpans: sub-minSpan overlaps and hot shingles drop out") {
    val d = Seq(
      (1L, "p q r s junk1 junk2 junk3"),
      (2L, "p q r s other stuff here")) // 4-token overlap < minSpan 5
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(d, col("doc_id"), col("text"),
      n = 3, minSpan = 5, maxDf = 8).count() == 0)
    // a run present in MANY docs is boilerplate: DF cap excises it
    val many = (1L to 6L).map(i => (i, s"common run of words here x$i"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(many, col("doc_id"), col("text"),
      n = 3, minSpan = 5, maxDf = 2).count() == 0)
  }

  test("bigramLogProbs: repeated word order scores above unseen order; " +
      "short docs emit nothing") {
    // corpus dominated by the "a b" transition; doc 3 uses the unseen
    // "b a" order with the SAME unigram profile — only a bigram model
    // separates them
    val d = Seq(
      (1L, "a b a b a b"), (2L, "a b a b"), (3L, "b a b a"), (4L, "x"))
      .toDF("doc_id", "text")
    val lp = graft.operators.TextOps.bigramLogProbs(d, col("doc_id"), col("text"))
      .groupBy("id").agg(avg("lp").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lp(1L) > lp(3L) && lp(2L) > lp(3L))
    assert(!lp.contains(4L)) // single-token doc: no bigrams, no rows
  }

  test("exciseSpans cuts the b-side copy, keeps the a-side and unique text") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"a1 a2 a3 $shared t1 t2"),
      (2L, s"b1 $shared u1 u2"),
      (3L, "c1 c2 c3")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, col("doc_id"), col("text"),
      n = 3, minSpan = 5, maxDf = 8)
    val out = Dedup.exciseSpans(d, col("doc_id"), col("text"), spans)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (s"a1 a2 a3 $shared t1 t2", 15L)) // a-side untouched
    assert(out(2L) == ("b1 u1 u2", 3L))                 // shared run gone
    assert(out(3L) == ("c1 c2 c3", 3L))                 // no spans, unchanged
  }

  test("simhash16 collides exact dups, separates different docs") {
    val out = Dedup.simhash16(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(4L))
    assert(out(1L) != out(3L))
    assert(out.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("ngramJaccardPairs computes exact jaccard within block") {
    val out = Dedup.ngramJaccardPairs(docs.withColumn("blk", lit(1)),
      col("doc_id"), col("text"), col("blk"), n = 3, threshold = 0.99)
    // only the exact dup pair survives at 0.99
    assert(rowsOf(out.select("a", "b")) == Set(Seq(1L, 4L)))
  }

  test("cosine + bruteForceTopK rank neighbors correctly") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 1)
    val top = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("rhpBucket is deterministic; lshTopK only pairs same-bucket vectors") {
    val vecs = Seq((1L, Seq.fill(4)(1.0f)), (2L, Seq.fill(4)(1.0f)),
      (3L, Seq.fill(4)(-1.0f))).toDF("vec_id", "embedding")
    val b = vecs.select(Similarity.rhpBucket(col("embedding"), 4, 3).as("b"))
      .collect().map(_.getLong(0))
    assert(b(0) == b(1)) // identical vectors, identical bucket
    val out = Similarity.lshTopK(vecs, col("vec_id"), col("embedding"),
      dim = 4, planes = 3, k = 1)
    val pairs = out.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 1L)))
  }

  test("text metrics: token counts, ratios, fingerprints") {
    val out = docs.filter(col("doc_id") === 1).select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.wordTokenCount(col("text")).as("nw"),
      TextOps.distinctRatio(col("text")).as("dr"),
      TextOps.bagFingerprint(col("text")).as("fp1"),
      TextOps.minShingleFingerprint(col("text")).as("fp2")).collect()(0)
    assert(out.getLong(0) == 9 && out.getLong(1) == 9)
    assert(math.abs(out.getDouble(2) - 8.0 / 9.0) < 1e-12) // "the" repeats
    assert(out.getString(3).length == 32 && out.getString(4).length == 32)
    // order-insensitive bag fingerprint
    val shuffled = Seq("dog lazy the over jumps fox brown quick the").toDF("text")
      .select(TextOps.bagFingerprint(col("text"))).collect()(0).getString(0)
    assert(shuffled == out.getString(3))
  }

  test("unigramScore ranks common-token docs above rare-token docs") {
    val df = Seq(
      (1L, "the the the the"),      // most common token only
      (2L, "the the zzz qqq"),      // half rare singletons
      (3L, "the the the the"))      // exact dup of 1 → equal score
      .toDF("doc_id", "text")
    val s = TextOps.unigramScore(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) == s(3L))
    assert(s(1L) > s(2L))
  }

  test("cleanText strips URLs, masks emails/IPs, normalizes whitespace") {
    val df = Seq(
      (1L, "see https://x.io/a?b=c#d  and mail a.b+c@foo-bar.org now"),
      (2L, "server  at 192.168.0.1 \t replied"),
      (3L, "   already clean   ")).toDF("id", "t")
    val out = df.select(col("id"), TextOps.cleanText(col("t")).as("c"))
    assert(rowsOf(out) == Set(
      Seq(1L, "see and mail <EMAIL> now"),
      Seq(2L, "server at <IP> replied"),
      Seq(3L, "already clean")))
  }

  test("langId picks the best-scoring lexicon, ties to first language") {
    val m = Map("aa" -> Seq("x"), "bb" -> Seq("y"))
    val out = Seq("x x y", "y y x", "z z z").toDF("text")
      .select(TextOps.langId(col("text"), m).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("aa", "bb", "aa")) // tie on third → first language
  }

  test("tfidf: rare matching terms outrank ubiquitous ones; norm caps " +
      "long-doc inflation") {
    val corpus = Seq(
      (1L, "spark shuffle spark shuffle spark shuffle"),
      (2L, "spark catalyst optimizer"),
      (3L, "spark tungsten codegen")).toDF("doc_id", "text")
    val queries = Seq((10L, "catalyst")).toDF("qid", "qtext")
    val top = graft.operators.Bm25.tfidfTopK(corpus, col("doc_id"),
      col("text"), queries, col("qid"), col("qtext"), k = 3)
      .orderBy("rank").collect()
    // only doc 2 contains 'catalyst'
    assert(top.length == 1 && top(0).getLong(top(0).fieldIndex("id")) == 2L)
    // 'spark' is in every doc (idf floor = 1): doc 1 repeats it 3× but is
    // ALSO longer — cosine normalization keeps its score finite and all
    // three docs retrieved
    val sp = Seq((11L, "spark")).toDF("qid", "qtext")
    val all = graft.operators.Bm25.tfidfTopK(corpus, col("doc_id"),
      col("text"), sp, col("qid"), col("qtext"), k = 3).collect()
    assert(all.length == 3)
    all.foreach { r =>
      val s = r.getDouble(r.fieldIndex("score"))
      assert(s > 0 && s <= 1.0 + 1e-12, s"cosine score out of range: $s")
    }
  }

  test("pretrainCorpus: each stage eliminates its doc, survivor packs") {
    import graft.operators.Pipelines
    val markers = Map("en" -> Seq("the", "a", "fast", "slow"),
      "de" -> Seq("window", "group", "sort"),
      "es" -> Seq("data", "row", "query"),
      "fr" -> Seq("table", "batch", "merge"),
      "zh" -> Seq("spark", "hash", "scan"))
    val good = "the a fast slow the a fast slow unique1 unique2 unique3 unique4"
    val docs = Seq(
      (1L, good),                                            // survives
      (2L, "window group sort window group sort"),           // langid: de
      (3L, "the the the the the the the the the the the the"), // low quality
      (4L, good),                                            // exact dup of 1
      (5L, "the a fast slow zz1 zz2 zz3 zz4 zz5 the a fast")) // contaminated
      .toDF("doc_id", "text")
    val heldout = Seq((100L, "zz1 zz2 zz3 zz4 zz5")).toDF("doc_id", "text")
    val out = Pipelines.pretrainCorpus(docs, col("doc_id"), col("text"),
      markers, keepLang = "en", stopwords = Seq("the", "a"),
      minQuality = 0.5, heldout = heldout, heldoutText = col("text"),
      ngram = 5, sampleRate = 1.0, salt = "spec",
      packBudget = 100, packBuckets = 2)
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    val r = rows(0)
    assert(r.getAs[Long]("n_tokens") == 12L)
    assert(r.getAs[Long]("pack") == 0L && r.getAs[Int]("pack_pos") == 1)
    // the surviving text rides through the whole chain
    assert(r.getAs[String]("text") == good)
  }

  test("pretrainCorpusIncremental: day 2 drops exact AND near dups of " +
      "day 1 via the persisted indexes; a replayed refresh re-derives " +
      "its survivors identically") {
    import graft.operators.Pipelines
    val markers = Map("en" -> Seq("foxtrot")) // single lexicon: always en
    // the DocStoreSpec-engineered band-collision pair: candidacy needs
    // BOTH hashes of one band equal (n=3, k=6, bands=3), not just any
    // shared minhash — precondition-asserted below
    val p1 = "foxtrot golf hotel india juliet kilo lima"
    val p2 = "foxtrot golf hotel india juliet kilo november"
    val sig = (txt: String) => spark.range(1)
      .select(graft.plans.TextExprs.minhashSig(lit(txt), 3, 6).as("m"))
      .as[Seq[String]].collect()(0)
    val (s1, s2) = (sig(p1), sig(p2))
    assert((s1(0) == s2(0) && s1(1) == s2(1)) ||
      (s1(2) == s2(2) && s1(3) == s2(3)) ||
      (s1(4) == s2(4) && s1(5) == s2(5)),
      "precondition: p1/p2 must collide on a band pair")
    val agree = s1.zip(s2).count { case (x, y) => x == y }
    val root = java.nio.file.Files.createTempDirectory("pti_spec").toString
    def refresh(rows: Seq[(Long, String)]) =
      Pipelines.pretrainCorpusIncremental(
        rows.toDF("doc_id", "text"), col("doc_id"), col("text"),
        markers, keepLang = "en", stopwords = Seq("the"),
        minQuality = 0.0, blocklist = Nil,
        hashIndex = s"$root/hash", sigIndex = s"$root/sig",
        heldout = Seq((100L, "zz1 zz2 zz3 zz4 zz5")).toDF("h", "text"),
        heldoutText = col("text"), ngram = 5,
        sampleRate = 1.0, salt = "psi", packBudget = 100, packBuckets = 2,
        estThreshold = agree.toDouble / 6 - 0.01)
    // day 1: an exact in-batch dup canonicalizes to the min id
    val d1 = refresh(Seq((1L, p1), (2L, p1)))
    assert(d1.select("doc_id").as[Long].collect().toSet == Set(1L))
    // day 2: 11 = exact dup of history (hash index), 12 = NEAR dup of
    // history (signature index), 13 = novel (kept), 14 = survives both
    // gates but shares a 5-gram with the heldout set (decontaminated)
    val day2 = Seq((11L, p1), (12L, p2),
      (13L, "completely novel words about engines and shuffles today"),
      (14L, "filler one zz1 zz2 zz3 zz4 zz5 filler two three"))
    val d2 = refresh(day2)
    assert(d2.select("doc_id").as[Long].collect().toSet == Set(13L),
      "exact dup, near dup and contaminated doc must all drop")
    // REPLAY the same batch (a retried day-2 whose indexes already hold
    // its hashes/signatures): both gates' own-id exclusions must make
    // the survivor set identical — not empty, not different
    val d2r = refresh(day2)
    assert(d2r.select("doc_id").as[Long].collect().toSet == Set(13L),
      "replayed refresh must re-derive the same survivors")
    // packed output shape rides through
    val r = d2r.collect()(0)
    assert(r.getAs[Long]("n_tokens") == 8L &&
      r.getAs[Int]("pack_pos") == 1)
  }

  test("matchTerms: Aho-Corasick ≡ naive contains, term order, dict links") {
    import graft.operators.TextOps
    // overlapping and suffix-nested terms exercise failure + dictionary
    // links: in "xabcd", "bcd"/"cd"/"d" must ALL be reported
    val terms = Seq("abc", "bcd", "cd", "d", "xx", "never-here")
    val rnd = new scala.util.Random(17)
    val texts = Seq("xabcd", "", "abc", "ddd", "xxabcxx") ++
      Seq.fill(40)(Seq.fill(30)("abcdx".charAt(rnd.nextInt(5))).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = df.select(col("id"),
        TextOps.matchTerms(col("t"), terms).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val naive = terms.filter(t.contains(_)) // term-list order
      assert(got(i.toLong) == naive, s"text '$t'")
    }
    // null text propagates; blocklistFilter keeps only clean rows
    assert(df.select(TextOps.matchTerms(when(col("id") === -1, col("t")),
      terms)).collect().forall(_.isNullAt(0)))
    val kept = TextOps.blocklistFilter(
      Seq((1L, "clean row"), (2L, "has abc inside")).toDF("id", "t"),
      col("t"), Seq("abc")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("decontaminateGated: the driver-side shingle set ≡ the anti-join, " +
      "NULL ids and texts, short docs") {
    import graft.operators.Pipelines
    val held = Seq((1L, "zz1 zz2 zz3 zz4 zz5 zz6"), (2L, null: String),
      (3L, "yy1 yy2 yy3 yy4 yy5")).toDF("h", "text")
    val train = Seq[(Option[Long], String)](
      (Some(10L), "a b zz2 zz3 zz4 zz5 zz6 c"), // shares a 5-gram: drops
      (Some(11L), "zz1 zz2 zz3 zz4 yy5 yy6"),   // no shared 5-gram: kept
      (Some(12L), "yy1 yy2 yy3 yy4 yy5"),       // equal to a held doc
      (Some(13L), "zz1 zz2"),                    // shorter than n
      (Some(14L), null),
      (None, "yy1 yy2 yy3 yy4 yy5 x"),          // NULL id: the anti-join keeps it
      (Some(15L), "fresh words only here today")).toDF("doc_id", "text")
    def run(maxRows: Int) = rowsOf(Pipelines.decontaminateGated(train, held,
      col("text"), 5, maxRows))
    assert(run(graft.core.Small.MaxRows) == run(0))
    assert(run(0).map(_.head) == Set(11L, 13L, 14L, null, 15L))
    // no held-out shingles at all: every row survives on both paths
    val none = held.filter(lit(false))
    assert(rowsOf(Pipelines.decontaminateGated(train, none, col("text"), 5,
      graft.core.Small.MaxRows)) == rowsOf(train))
  }

  test("decontaminateSemantic drops train rows near any held-out vector") {
    val train = Seq(
      (1L, Seq(1.0f, 0.0f)),   // aligned with heldout -> dropped
      (2L, Seq(0.95f, 0.05f)), // near heldout -> dropped
      (3L, Seq(0.0f, 1.0f)),   // orthogonal -> kept
      (4L, Seq(-1.0f, 0.0f)))  // opposite -> kept
      .toDF("vec_id", "embedding")
    val heldout = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val kept = Dedup.decontaminateSemantic(train, heldout,
      col("vec_id"), col("embedding"), tau = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
    // empty heldout: everything survives (anti join against nothing)
    val all = Dedup.decontaminateSemantic(train, heldout.filter(lit(false)),
      col("vec_id"), col("embedding"), tau = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 4L))
    // a zero-norm held-out vector must contaminate NOTHING: its cosine is
    // NaN against every train row, and NaN >= tau is TRUE under Spark's
    // NaN-greatest ordering — ungated it would silently empty the corpus
    val degenerate = Seq((101L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val survived = Dedup.decontaminateSemantic(train, degenerate,
      col("vec_id"), col("embedding"), tau = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(survived == Set(1L, 2L, 3L, 4L))
    // and a zero-norm TRAIN row survives a real heldout set (NaN cosine
    // is not a contamination match)
    val withZero = train.union(Seq((5L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val keptZ = Dedup.decontaminateSemantic(withZero, heldout,
      col("vec_id"), col("embedding"), tau = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(keptZ == Set(3L, 4L, 5L))
  }

  test("dropBoilerplate excises corpus-frequent segments, keeps order, " +
      "empties fully-boilerplate docs") {
    val corpus = Seq(
      (1L, "intro | cookie banner | body one"),
      (2L, "cookie banner | body two"),
      (3L, "body three | cookie banner | outro"),
      (4L, "all original here"),
      (5L, "cookie banner")) // nothing survives
      .toDF("doc_id", "text")
    val out = TextOps.dropBoilerplate(corpus, col("doc_id"), col("text"),
      " | ", minDocs = 3)
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "cookie banner" is in 4 distinct docs -> boilerplate everywhere;
    // everything else is df=1 and survives in original order
    assert(m(1L) == (("intro | body one", 1L)))
    assert(m(2L) == (("body two", 1L)))
    assert(m(3L) == (("body three | outro", 1L)))
    assert(m(4L) == (("all original here", 0L)))
    assert(m(5L) == (("", 1L))) // doc survives as empty, not dropped
    // a repeat WITHIN one doc is df=1 — within-doc repetition is
    // repetitionSignals' business, not corpus boilerplate
    val within = TextOps.dropBoilerplate(
      Seq((1L, "x | x | x"), (2L, "y")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), " | ", minDocs = 2)
    assert(within.filter(col("id") === 1L).head.getString(1) == "x | x | x")
    // a NULL-text doc must SURVIVE (as the empty document, n_dropped 0) —
    // split(NULL) explodes to zero rows, which silently dropped the id
    val withNull = TextOps.dropBoilerplate(
      Seq((1L, "a | b"), (2L, null), (3L, "c")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), " | ", minDocs = 2)
    val nm = withNull.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(nm.keySet == Set(1L, 2L, 3L) && nm(2L) == (("", 0L)))
  }
}
