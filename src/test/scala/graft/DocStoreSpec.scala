package graft

import org.apache.spark.sql.functions._
import graft.operators.DocStore

/** DocStore pipeline façade (reference: xpacks/llm/document_store.py).
  * The oracle queries (DocStoreQueries) pin the cross-engine numerics;
  * this spec pins the API semantics the oracle can't isolate: filter
  * pushdown vs post-filter, post-processors, binary parse, persisted
  * round-trip equality, stats/inputs shapes. */
class DocStoreSpec extends SparkSpec {
  import spark.implicits._

  // four docs, two languages; doc 4 duplicates doc 1's text
  private def docsDf = Seq(
    (1L, "alpha beta gamma delta epsilon zeta", "en"),
    (2L, "alpha beta gamma other words here", "en"),
    (3L, "uno dos tres cuatro cinco seis", "es"),
    (4L, "alpha beta gamma delta epsilon zeta", "es"))
    .toDF("doc_id", "text", "lang")
    .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"), col("lang"))

  private def store = DocStore.build(docsDf, col("doc_id"), col("data"),
    metadata = Seq("lang"), chunkSize = 3, overlap = 1,
    embedder = DocStore.hashEmbedder(8))

  private def q(text: String) = Seq((100L, text)).toDF("qid", "qtext")

  test("separator splitter: pieces pack under the budget, metadata rides") {
    val d = Seq((1L, "aa bb. cc dd. ee ff gg hh. ii", "en"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"), col("lang"))
    val st = DocStore.build(d, col("doc_id"), col("data"),
      metadata = Seq("lang"), splitBy = Some((". ", 4)),
      embedder = DocStore.hashEmbedder(8))
    // pieces: "aa bb"(2) "cc dd"(2) "ee ff gg hh"(4) "ii"(1);
    // prefix sums 0,2,4,8 at budget 4 → chunks 0,0,1,2
    val ch = st.chunks.orderBy("chunk_id")
      .select("chunk_id", "text", "lang").collect().map(_.toSeq)
    assert(ch.toSeq == Seq(
      Seq(0L, "aa bb. cc dd", "en"),
      Seq(1L, "ee ff gg hh", "en"),
      Seq(2L, "ii", "en")))
    // retrieval works through the same store surface
    val hits = st.retrieve(q("ee ff"), col("qid"), col("qtext"), k = 1)
    assert(hits.select("text").as[String].collect().toSeq == Seq("ee ff gg hh"))
  }

  test("parses binary data and chunks with metadata riding along") {
    val ch = store.chunks
    assert(ch.columns.toSeq ==
      Seq("doc_id", "chunk_id", "chunk_key", "text", "lang", "embedding"))
    // chunkSize=3 overlap=1 over 6 tokens -> starts 1,3,5 -> 3 chunks/doc
    assert(ch.count() == 12)
    assert(ch.filter(col("doc_id") === 3 && col("lang") =!= "es").count() == 0)
    val first = ch.filter(col("doc_id") === 1 && col("chunk_id") === 0)
      .select("text").as[String].collect()
    assert(first.toSeq == Seq("alpha beta gamma"))
  }

  test("retrieve ranks exact-duplicate chunks deterministically by chunk key") {
    // docs 1, 2 and 4 all open with "alpha beta gamma" -> three identical
    // chunk embeddings; all must appear, ordered by the md5-derived chunk
    // key, with identical scores
    val out = store.retrieve(q("alpha beta gamma"), col("qid"), col("qtext"), 3)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    assert(out.map(_.getAs[Double]("score")).distinct.length == 1)
    // tie order is a pure function of the md5-derived keys: re-running
    // returns the identical permutation
    val again = store.retrieve(q("alpha beta gamma"), col("qid"), col("qtext"), 3)
      .orderBy("rank").collect()
    assert(again.map(_.getAs[Long]("doc_id")).toSeq ==
      out.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("metadata filter restricts candidates BEFORE ranking, not after") {
    // unfiltered top-1 for this query lives in an 'en' doc; with the 'es'
    // filter the store must still return k hits, drawn from es chunks
    val unf = store.retrieve(q("other words here"), col("qid"), col("qtext"), 1)
      .collect()(0)
    assert(unf.getAs[String]("lang") == "en")
    val es = store.retrieve(q("other words here"), col("qid"), col("qtext"), 2,
      filter = Some(col("lang") === "es")).collect()
    assert(es.length == 2)
    assert(es.forall(_.getAs[String]("lang") == "es"))
  }

  test("post-processors transform parsed text before chunking") {
    val uppered = DocStore.build(docsDf, col("doc_id"), col("data"),
      metadata = Seq("lang"),
      postProcess = Seq(t => org.apache.spark.sql.functions.upper(t)),
      chunkSize = 3, overlap = 1, embedder = DocStore.hashEmbedder(8))
    val texts = uppered.chunks.select("text").as[String].collect()
    assert(texts.forall(t => t == t.toUpperCase))
  }

  test("persisted store answers identically to the in-memory store at full probe") {
    val path = java.nio.file.Files.createTempDirectory("docstore_spec").toString
    store.save(path, nlist = 4)
    // nprobe = nlist -> IVF is exact -> must equal brute force
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8), nprobe = 4)
    val queries = q("uno dos tres")
    val exact = store.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    val persisted = ps.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    assert(persisted.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(persisted).count() == 0)
    // metadata filter pushes into the persisted index too
    val es = ps.retrieve(queries, col("qid"), col("qtext"), 3,
      filter = Some(col("lang") === "es")).collect()
    assert(es.nonEmpty && es.forall(_.getAs[String]("lang") == "es"))
    // metadata column names recovered from the persisted schema
    assert(ps.metadata == Seq("lang"))
  }

  test("rerank re-scores only the fetched candidates and can reorder them") {
    // embedding stage favors exact-duplicate chunks; the overlap reranker
    // scores by distinct shared tokens, so a chunk sharing MORE tokens
    // with the query must outrank a closer-by-embedding one
    val out = store.retrieveRerank(q("delta epsilon zeta"), col("qid"),
      col("qtext"), k = 3, fetch = 12)
    val top = out.orderBy("rank").collect()
    assert(top.length == 3)
    // docs 1/4 chunk as "alpha beta gamma" (overlap 0), "gamma delta
    // epsilon" (overlap 2), "epsilon zeta" (overlap 2): the winning
    // rerank score is 2, and it must come from an overlap-2 chunk
    assert(top(0).getAs[Double]("score") == 2.0)
    assert(intercept[IllegalArgumentException] {
      store.retrieveRerank(q("x"), col("qid"), col("qtext"), k = 5, fetch = 2)
    }.getMessage.contains("fetch"))
  }

  test("retrieveDiverse: MMR demotes duplicate chunks; persisted path agrees") {
    // "alpha beta gamma zeta" ranks the three IDENTICAL "alpha beta
    // gamma" chunks (docs 1, 2, 4) on top by pure relevance. After MMR
    // picks one, a second identical copy carries penalty cosine = 1 —
    // at λ=0.5 any partially-relevant DIFFERENT chunk beats it. (The
    // query must not be a chunk verbatim: a query equal to the dup
    // chunk makes penalty ≡ relevance and MMR degenerates to scaling.)
    val qt = "alpha beta gamma zeta"
    val plain = store.retrieve(q(qt), col("qid"),
      col("qtext"), 2).collect().map(_.getAs[String]("text")).toSeq
    assert(plain == Seq("alpha beta gamma", "alpha beta gamma"))
    val div = store.retrieveDiverse(q(qt), col("qid"),
      col("qtext"), k = 2, fetch = 6, lam = 0.5).orderBy("rank").collect()
    assert(div.length == 2)
    assert(div(0).getAs[String]("text") == "alpha beta gamma")
    assert(div(1).getAs[String]("text") != "alpha beta gamma")
    // persisted store, full probe: identical picks through the IVF path
    val path = java.nio.file.Files.createTempDirectory("docstore_mmr").toString
    store.save(path, nlist = 4)
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8), nprobe = 4)
    val pdiv = ps.retrieveDiverse(q(qt), col("qid"),
      col("qtext"), k = 2, fetch = 6, lam = 0.5).orderBy("rank").collect()
    assert(pdiv.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))).toSeq
      == div.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))).toSeq)
    // context assembles in MMR selection order
    val ctx = store.retrieveDiverseContext(q(qt), col("qid"),
      col("qtext"), k = 2, fetch = 6, lam = 0.5, sep = " | ").collect()(0)
    assert(ctx.getAs[Long]("n_chunks") == 2L)
    assert(ctx.getAs[String]("context").startsWith("alpha beta gamma | "))
    assert(intercept[IllegalArgumentException] {
      store.retrieveDiverse(q("x"), col("qid"), col("qtext"), k = 5, fetch = 2)
    }.getMessage.contains("fetch"))
  }

  test("streaming ingest appends chunks incrementally and converges to the batch store") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma other words here", "en"),
      (3L, "uno dos tres cuatro cinco seis", "es"),
      (4L, "alpha beta gamma delta epsilon zeta", "es"))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "lang")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"), col("lang"))
    val root = java.nio.file.Files.createTempDirectory("ds_stream_spec").toString
    val sq = DocStore.buildStream(stream, col("doc_id"), col("data"),
      root, s"$root/ckpt", metadata = Seq("lang"),
      chunkSize = 3, overlap = 1, embedder = DocStore.hashEmbedder(8)).start()
    try {
      in.addData(rows.take(2)); sq.processAllAvailable()
      assert(spark.read.parquet(s"$root/chunks").count() == 6) // 2 docs x 3
      in.addData(rows.drop(2)); sq.processAllAvailable()
    } finally sq.stop()
    DocStore.rebuildIndex(spark, root, nlist = 4)
    val ps = DocStore.open(spark, root, DocStore.hashEmbedder(8), nprobe = 4)
    assert(ps.chunks.count() == 12)
    val streamed = ps.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    val batch = store.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stats and inputs query surfaces") {
    val st = store.stats().collect()(0)
    assert(st.getAs[Long]("doc_count") == 4L)
    assert(st.getAs[Long]("chunk_count") == 12L)
    assert(st.isNullAt(st.fieldIndex("last_modified")))
    val ins = store.inputs(Some(col("lang") === "en"))
    assert(ins.columns.toSeq == Seq("doc_id", "lang"))
    assert(ins.as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "en")))
  }

  test("readChunks(dedup): a replayed batch's duplicate chunk rows " +
      "collapse — retrieval and stats match the exactly-once table") {
    val path = java.nio.file.Files.createTempDirectory("docstore_alo").toString
    store.save(path, nlist = 4)
    // simulate the at-least-once retry: one batch's chunk rows land
    // twice (byte-identical, same chunk_key — exactly what a gated
    // buildStream appends when it crashes between write and checkpoint)
    val replayed = spark.read.parquet(s"$path/chunks")
      .filter(col("doc_id") === 1L)
    replayed.write.mode("append").parquet(s"$path/chunks")
    val raw = DocStore.readChunks(spark, path, dedup = false)
    val clean = DocStore.readChunks(spark, path)
    assert(raw.count() > clean.count(), "precondition: duplicates landed")
    assert(clean.groupBy("chunk_key").count()
      .filter(col("count") > 1).count() == 0)
    // the deduped open answers exactly like the store before the replay
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8),
      nprobe = 4, dedupChunks = true)
    val queries = q("alpha beta gamma")
    val want = rowsOf(store.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score"))
    val got = rowsOf(ps.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score"))
    assert(got == want, s"deduped store must answer like the " +
      s"pre-replay store:\n$got\nvs\n$want")
    assert(ps.stats().collect()(0).getAs[Long]("chunk_count") ==
      store.stats().collect()(0).getAs[Long]("chunk_count"))
    // without the repair the duplicates are visible (the documented
    // at-least-once behavior this entry point exists to fix)
    val psRaw = DocStore.open(spark, path, DocStore.hashEmbedder(8),
      nprobe = 4)
    assert(psRaw.stats().collect()(0).getAs[Long]("chunk_count") >
      store.stats().collect()(0).getAs[Long]("chunk_count"))
  }

  test("retrieveContext concatenates the top-k chunks in rank order") {
    val out = store.retrieveContext(q("uno dos tres"), col("qid"), col("qtext"),
      k = 2, sep = " || ").collect()(0)
    assert(out.getAs[Long]("n_chunks") == 2L)
    val ctx = out.getAs[String]("context")
    val parts = ctx.split(java.util.regex.Pattern.quote(" || "))
    assert(parts.length == 2)
    // rank-1 chunk (exact prefix match from doc 3) must come first
    assert(parts(0) == "uno dos tres")
  }

  test("REST server answers retrieve/statistics/inputs like the direct calls") {
    val srv = DocStore.serve(store)
    try {
      val port = srv.getAddress.getPort
      def get(path: String): String = {
        val c = java.net.http.HttpClient.newHttpClient()
        c.send(java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      }
      val hits = get("/v1/retrieve?query=uno%20dos%20tres&k=2")
      assert(hits.startsWith("[") && hits.contains("\"doc_id\":3"))
      assert(hits.contains("\"text\":\"uno dos tres\""))
      val stats = get("/v1/statistics")
      assert(stats == """{"doc_count":4,"chunk_count":12}""")
      val inputs = get("/v1/inputs")
      assert(inputs.contains("\"doc_id\":1") && inputs.contains("\"lang\":\"es\""))
      // missing query parameter fails loudly, not a 500 stack dump
      assert(get("/v1/retrieve").contains("missing query parameter"))
    } finally srv.stop(0)
  }

  test("index saves publish atomically: a reader mid-rebuild sees one complete generation") {
    val root = java.nio.file.Files.createTempDirectory("ds_gen").toString
    store.save(root, nlist = 4)
    val idx = s"$root/index"
    val ps = DocStore.open(spark, root, DocStore.hashEmbedder(8), nprobe = 4)
    def hits() = ps.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
      .collect().map(_.toSeq).toSeq
    val before = hits()
    val cur = graft.core.IndexGen.current(idx).get
    // simulate a rebuild in flight (or crashed): a HIGHER generation dir
    // holds only half its artifacts — centroids written, inverted lists
    // not — and the marker has NOT flipped. Pre-r11, mode("overwrite")
    // put this half-state in the LIVE dirs and a concurrent reader could
    // pair new centroids with old lists.
    spark.read.parquet(s"${graft.core.IndexGen.readDir(idx)}/centroids")
      .limit(1).write.parquet(s"$idx/gen-${cur + 1}/centroids")
    assert(hits() == before,
      "a reader mid-rebuild must keep serving the committed generation")
    // the real rebuild skips the dead staging dir, publishes atomically
    DocStore.rebuildIndex(spark, root, nlist = 4)
    assert(graft.core.IndexGen.current(idx).contains(cur + 2))
    assert(hits() == before, "same corpus -> same answers from the new generation")
    // prune keeps exactly one generation of grace for in-flight readers
    DocStore.rebuildIndex(spark, root, nlist = 4)
    val gens = new java.io.File(idx).list().filter(_.startsWith("gen-")).toSet
    assert(gens == Set(s"gen-${cur + 2}", s"gen-${cur + 3}"), s"gens = $gens")
    assert(hits() == before)
  }

  test("extendIndex appends only unindexed chunks; idempotent at zero") {
    val root = java.nio.file.Files.createTempDirectory("docstore_ext").toString
    // index only the first two documents, then land the rest in the
    // chunk table (the buildStream-between-refreshes state)
    val firstTwo = docsDf.filter(col("doc_id") <= 2)
    DocStore.build(firstTwo, col("doc_id"), col("data"),
      metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = DocStore.hashEmbedder(8)).save(root, nlist = 2)
    store.chunks.filter(col("doc_id") > 2)
      .write.mode("append").parquet(s"$root/chunks")
    val added = DocStore.extendIndex(spark, root)
    assert(added > 0, "the new documents' chunks must be indexed")
    // second run: everything is indexed, nothing to do
    assert(DocStore.extendIndex(spark, root) == 0)
    // the extended index serves the NEW content (query doc 3's words)
    val ps = DocStore.open(spark, root, DocStore.hashEmbedder(8), nprobe = 2)
    val hits = ps.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 2)
      .collect()
    assert(hits.nonEmpty && hits.exists(_.getAs[Long]("doc_id") == 3L))
  }

  test("binary codes-only store: save→open ≡ exact; filter pushes; " +
      "rescore=0 serving never reads a float") {
    val path = java.nio.file.Files.createTempDirectory("ds_bin").toString
    // rescore ≥ corpus: the Hamming prune keeps everything, the float
    // refine IS the exact ranking — save→open must equal the in-memory
    // store bit-for-bit (same cosinePrenorm formula on both paths)
    store.save(path, DocStore.BinaryCodes(rescore = 200))
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8))
    val queries = q("uno dos tres")
    val exact = store.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    val persisted = ps.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    assert(persisted.exceptAll(exact).count() == 0 &&
      exact.exceptAll(persisted).count() == 0)
    // the index at rest is packed codes ONLY — no centroids, no floats
    val idir = s"$path/index"
    val gen = graft.core.IndexGen.readDir(idir)
    assert(!new java.io.File(gen, "centroids").exists())
    val codes = graft.operators.Similarity.binaryLoadParts(spark, idir)
    assert(codes.columns.toSeq == Seq("neighbor_id", "bcodes"))
    // metadata filter pushes into the codes scan pre-rank
    val es = ps.retrieve(queries, col("qid"), col("qtext"), 3,
      filter = Some(col("lang") === "es")).collect()
    assert(es.nonEmpty && es.forall(_.getAs[String]("lang") == "es"))
    // rescore = 0: pure Hamming serving — the plan must not read the
    // chunk table's embedding column anywhere (codes-only probe + the
    // embedding-dropped widen join-back)
    DocStore.rebuildIndex(spark, path, DocStore.BinaryCodes(rescore = 0))
    val ps0 = DocStore.open(spark, path, DocStore.hashEmbedder(8))
    val hits0 = ps0.retrieve(queries, col("qid"), col("qtext"), 3)
    assert(!hits0.queryExecution.executedPlan.toString.contains("embedding"),
      "rescore=0 serving scan must be codes-only")
    assert(hits0.count() == 3)
  }

  test("pq codes-only store: save→open ≡ exact at full rescore; " +
      "extendIndex appends frozen-codebook segments") {
    val path = java.nio.file.Files.createTempDirectory("ds_pq").toString
    // hashEmbedder(8) → 9 dims; m=3 subspaces of 3, ksub=4 codewords
    store.save(path, DocStore.PqCodes(m = 3, ksub = 4, rescore = 200))
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8))
    val queries = q("uno dos tres")
    // rescore covers the corpus → refine = exact ranking (scores differ
    // in ulps between the normalize-then-dot and prenorm formulas, so
    // compare the ranking, not the floats)
    val exact = store.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id")
    val persisted = ps.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id")
    assert(persisted.exceptAll(exact).count() == 0 &&
      exact.exceptAll(persisted).count() == 0)
    // PQ at rest: codebook + int codes, never float vectors
    assert(graft.operators.Similarity.binaryLoadParts(spark, s"$path/index")
      .columns.toSeq == Seq("neighbor_id", "codes"))
    // filter pushdown
    val es = ps.retrieve(queries, col("qid"), col("qtext"), 3,
      filter = Some(col("lang") === "es")).collect()
    assert(es.nonEmpty && es.forall(_.getAs[String]("lang") == "es"))
    // incremental growth: new chunks land as a frozen-codebook codes
    // segment; the extended index serves the new content
    val more = Seq(
      (9L, "siete ocho nueve uno dos tres", "es"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        col("lang"))
    DocStore.build(more, col("doc_id"), col("data"), metadata = Seq("lang"),
        chunkSize = 3, overlap = 1, embedder = DocStore.hashEmbedder(8))
      .chunks.write.mode("append").parquet(s"$path/chunks")
    assert(DocStore.extendIndex(spark, path) > 0)
    assert(DocStore.extendIndex(spark, path) == 0)
    val ps2 = DocStore.open(spark, path, DocStore.hashEmbedder(8))
    val hits2 = ps2.retrieve(q("siete ocho nueve"), col("qid"), col("qtext"), 2)
      .collect()
    assert(hits2.nonEmpty && hits2.exists(_.getAs[Long]("doc_id") == 9L))
  }

  test("ivf-pq store: coarse prune + codes lists at rest; save→open ≡ " +
      "exact at full probe+rescore; extendIndex appends") {
    val path = java.nio.file.Files.createTempDirectory("ds_ivfpq").toString
    // nlist=4 probed with nprobe=4 (open default) → every list scanned;
    // rescore covers the corpus → refine = exact ranking
    store.save(path, DocStore.IvfPqCodes(m = 3, ksub = 4, nlist = 4,
      rescore = 200))
    val ps = DocStore.open(spark, path, DocStore.hashEmbedder(8), nprobe = 4)
    val queries = q("uno dos tres")
    val exact = store.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id")
    val persisted = ps.retrieve(queries, col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id")
    assert(persisted.exceptAll(exact).count() == 0 &&
      exact.exceptAll(persisted).count() == 0)
    // lists at rest: (neighbor_id, cid, codes) — m ints, no floats
    val lists = graft.operators.Similarity.binaryLoadParts(spark,
      s"$path/index")
    assert(lists.columns.toSet == Set("neighbor_id", "cid", "codes"))
    // filter pushdown through restrictTo
    val es = ps.retrieve(queries, col("qid"), col("qtext"), 3,
      filter = Some(col("lang") === "es")).collect()
    assert(es.nonEmpty && es.forall(_.getAs[String]("lang") == "es"))
    // incremental growth: frozen centroids + frozen codebook appends
    val more = Seq((9L, "siete ocho nueve uno dos tres", "es"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        col("lang"))
    DocStore.build(more, col("doc_id"), col("data"), metadata = Seq("lang"),
        chunkSize = 3, overlap = 1, embedder = DocStore.hashEmbedder(8))
      .chunks.write.mode("append").parquet(s"$path/chunks")
    assert(DocStore.extendIndex(spark, path) > 0)
    assert(DocStore.extendIndex(spark, path) == 0)
    val hits2 = DocStore.open(spark, path, DocStore.hashEmbedder(8), nprobe = 4)
      .retrieve(q("siete ocho nueve"), col("qid"), col("qtext"), 2)
      .collect()
    assert(hits2.nonEmpty && hits2.exists(_.getAs[Long]("doc_id") == 9L))
  }

  test("binary extendIndex appends a codes segment; rebuildIndex(kind) " +
      "switches an existing store to codes-only") {
    val root = java.nio.file.Files.createTempDirectory("ds_bin_ext").toString
    val firstTwo = docsDf.filter(col("doc_id") <= 2)
    DocStore.build(firstTwo, col("doc_id"), col("data"),
      metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = DocStore.hashEmbedder(8))
      .save(root, DocStore.BinaryCodes(rescore = 200))
    store.chunks.filter(col("doc_id") > 2)
      .write.mode("append").parquet(s"$root/chunks")
    val added = DocStore.extendIndex(spark, root)
    assert(added > 0)
    assert(DocStore.extendIndex(spark, root) == 0)
    val ps = DocStore.open(spark, root, DocStore.hashEmbedder(8))
    val hits = ps.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 2)
      .collect()
    assert(hits.nonEmpty && hits.exists(_.getAs[Long]("doc_id") == 3L))
    // a legacy IVF store re-pins to binary with one rebuild call; the
    // new generation serves the same ranking as the exact store
    val ivfRoot = java.nio.file.Files.createTempDirectory("ds_sw").toString
    store.save(ivfRoot, nlist = 4)
    DocStore.rebuildIndex(spark, ivfRoot, DocStore.BinaryCodes(rescore = 200))
    assert(DocStore.kindOf(graft.core.SegmentStore.open(s"$ivfRoot/index")) ==
      DocStore.BinaryCodes(rescore = 200))
    val sw = DocStore.open(spark, ivfRoot, DocStore.hashEmbedder(8))
      .retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    val exact = store.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
      .select("qid", "rank", "doc_id", "chunk_id", "score")
    assert(sw.exceptAll(exact).count() == 0 &&
      exact.exceptAll(sw).count() == 0)
  }

  test("kind switches save into the one index path: the previous " +
      "generation stays for readers, older ones go; the store answers " +
      "after each switch") {
    val root = java.nio.file.Files.createTempDirectory("ds_kvac").toString
    val idx = s"$root/index"
    def gens() = new java.io.File(idx).list().filter(_.startsWith("gen-")).toSet
    def exactAnswer(nprobe: Int) = {
      val sw = DocStore.open(spark, root, DocStore.hashEmbedder(8), nprobe)
        .retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
        .select("qid", "rank", "doc_id", "chunk_id")
      val exact = store.retrieve(q("uno dos tres"), col("qid"), col("qtext"), 3)
        .select("qid", "rank", "doc_id", "chunk_id")
      sw.exceptAll(exact).count() == 0 && exact.exceptAll(sw).count() == 0
    }
    store.save(root, DocStore.BinaryCodes(rescore = 200)) // kind A
    val a = graft.core.IndexGen.committed(idx)
    // switch A → B: the previous kind's generation survives (grace for
    // an in-flight reader that resolved it)
    DocStore.rebuildIndex(spark, root, DocStore.PqCodes(m = 3, ksub = 4,
      rescore = 200))
    assert(gens() == Set(s"gen-$a", s"gen-${a + 1}"))
    assert(graft.core.SegmentStore.openAt(idx, a).meta.family ==
      graft.core.SegmentStore.Family.Binary)
    assert(exactAnswer(4))
    // switch B → C: A's generation is beyond the grace line and pruned
    DocStore.rebuildIndex(spark, root, DocStore.IvfPqCodes(m = 3, ksub = 4,
      nlist = 4, rescore = 200))
    assert(gens() == Set(s"gen-${a + 1}", s"gen-${a + 2}"))
    assert(DocStore.kindOf(graft.core.SegmentStore.open(idx)) ==
      DocStore.IvfPqCodes(m = 3, ksub = 4, nlist = 4, rescore = 200))
    // the store keeps answering after the double switch, identically to
    // the exact store (full probe + full rescore)
    assert(exactAnswer(4))
    // every dir under the store is the chunk table or the one index
    assert(new java.io.File(root).list().filterNot(_.startsWith(".")).toSet ==
      Set("chunks", "index"))
  }

  test("IvfPqCodes rejects rescore=0 at construction, before any build work") {
    assert(intercept[IllegalArgumentException] {
      DocStore.IvfPqCodes(m = 3, ksub = 4, nlist = 4, rescore = 0)
    }.getMessage.contains("rescore"))
    // the guard fires before save() runs the expensive centroid/encode
    // build — nothing lands on disk
    val root = java.nio.file.Files.createTempDirectory("ds_r0").toString
    intercept[IllegalArgumentException] {
      store.save(root, DocStore.IvfPqCodes(m = 3, ksub = 4, rescore = 0))
    }
    assert(!new java.io.File(root, "chunks").exists(),
      "a constructor-rejected save must not have started writing")
  }

  test("flat-PQ warning fires exactly at the IVF-worthy corpus line") {
    assert(DocStore.flatPqCorpusWarning(DocStore.flatPqWarnRows - 1).isEmpty)
    val msg = DocStore.flatPqCorpusWarning(DocStore.flatPqWarnRows)
    assert(msg.nonEmpty && msg.get.contains("IvfPqCodes"))
    // the threshold IS the nlistFor >= 64 boundary it claims to be
    assert(graft.operators.Similarity.nlistFor(DocStore.flatPqWarnRows) >= 64)
    assert(graft.operators.Similarity.nlistFor(DocStore.flatPqWarnRows - 1) < 64)
  }

  test("restrictTo rejects a multi-column id frame instead of silently " +
      "filtering by the first column") {
    val path = java.nio.file.Files.createTempDirectory("ds_restrict").toString
    store.save(path, DocStore.BinaryCodes(rescore = 200))
    val idir = s"$path/index"
    val twoCols = store.chunks.select("chunk_key", "doc_id")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Similarity.binaryLoadTopK(spark, idir,
        q("uno dos tres").select(col("qid"),
          DocStore.hashEmbedder(8)(col("qtext")).as("qv")),
        col("qid"), col("qv"), k = 3, restrictTo = Some(twoCols))
    }
    assert(ex.getMessage.contains("single-id-column"))
  }

  test("buildIndex fails with a descriptive error when the chunk table " +
      "has no non-null embeddings") {
    val root = java.nio.file.Files.createTempDirectory("ds_nodim").toString
    store.chunks.withColumn("embedding",
        lit(null).cast("array<double>"))
      .write.mode("overwrite").parquet(s"$root/chunks")
    val ex = intercept[IllegalStateException] {
      DocStore.rebuildIndex(spark, root, DocStore.PqCodes(m = 3, ksub = 4,
        rescore = 10))
    }
    assert(ex.getMessage.contains("no non-null embeddings"))
  }

  test("parquetRowCount matches the scan count from footers alone") {
    val root = java.nio.file.Files.createTempDirectory("ds_cnt").toString
    store.save(root, nlist = 4)
    assert(graft.core.parquetRowCount(spark, s"$root/chunks") ==
      spark.read.parquet(s"$root/chunks").count())
  }

  test("retrieveRerankContext assembles the context in RERANKED order") {
    val qs = q("uno dos tres")
    val rr = store.retrieveRerank(qs, col("qid"), col("qtext"), k = 2, fetch = 4)
      .orderBy("rank").select("text").as[String].collect()
    val out = store.retrieveRerankContext(qs, col("qid"), col("qtext"),
      k = 2, fetch = 4, sep = " || ").collect()(0)
    assert(out.getAs[Long]("n_chunks") == 2L)
    assert(out.getAs[String]("context") == rr.mkString(" || "))
  }

  test("REST server serves the persisted store, GET and JSON POST alike") {
    val root = java.nio.file.Files.createTempDirectory("ds_srv").toString
    store.save(root, nlist = 4)
    val ps = DocStore.open(spark, root, DocStore.hashEmbedder(8), nprobe = 4)
    val srv = DocStore.serve(ps)
    try {
      val port = srv.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): String =
        client.send(java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      def post(path: String, body: String): String =
        client.send(java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val got = get("/v1/retrieve?query=uno%20dos%20tres&k=2")
      assert(got.startsWith("[") && got.contains("\"doc_id\":3"), got)
      // servers.py parity: the same request as a JSON POST body
      assert(post("/v1/retrieve", """{"query":"uno dos tres","k":2}""") == got)
      assert(get("/v1/statistics") == """{"doc_count":4,"chunk_count":12}""")
      // metadata filter pushed into the index pre-rank: docs 1/2 are
      // 'en', so an en-filtered query about doc 3's text matches only
      // en chunks — never doc 3 or 4
      val filtered = post("/v1/retrieve",
        """{"query":"uno dos tres","k":2,"filter":"lang = 'en'"}""")
      assert(!filtered.contains("\"doc_id\":3") &&
        !filtered.contains("\"doc_id\":4") &&
        filtered.contains("\"doc_id\":"), filtered)
    } finally srv.stop(0)
  }

  test("hashEmbedder keeps every vector off the origin") {
    val v = spark.range(1).select(
        DocStore.hashEmbedder(8)(lit("x")).as("v"))
      .as[Seq[Double]].collect()(0)
    assert(v.length == 9)
    assert(v.head == 1.0) // token count dimension
  }

  test("build(dedupIndex): dup chunks never reach the embedder; " +
      "re-ingesting the same file embeds nothing") {
    // the accumulator counts EMBEDDER INVOCATIONS — the direct form of
    // the claim 'duplicate chunks never reach embed' (at 100 TB the
    // embedder is the expensive stage the gate exists to protect)
    val acc = spark.sparkContext.longAccumulator("embed_calls")
    val f = udf { t: String =>
      acc.add(1); Array(t.split(" ").length.toDouble)
    }
    val counting: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => f(c)
    val idx = java.nio.file.Files
      .createTempDirectory("ds_dedup_spec").toString + "/idx"
    // chunkSize 3 / overlap 1 over 6 words → 3 chunks per doc, 12
    // total, but only 8 distinct texts: docs 1 and 4 share all three
    // and doc 2's first chunk ('alpha beta gamma') duplicates doc 1's
    val st1 = DocStore.build(docsDf, col("doc_id"), col("data"),
      metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = counting, dedupIndex = Some(idx))
    assert(st1.chunks.count() == 8,
      "in-batch canonicalization must keep one chunk per distinct text")
    assert(acc.value == 8L, s"embedder ran ${acc.value} times, want 8")
    // only the min-chunk_key twin of each dup'd text survives — doc 4
    // (higher keys by md5 is not guaranteed, so assert per-text count)
    assert(st1.chunks.groupBy("text").count()
      .filter(col("count") > 1).count() == 0)
    // idempotent re-ingest: same corpus again, nothing embeds
    val st2 = DocStore.build(docsDf, col("doc_id"), col("data"),
      metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = counting, dedupIndex = Some(idx))
    assert(st2.chunks.count() == 0, "re-ingest must be a no-op")
    assert(acc.value == 8L, s"re-ingest ran the embedder ${acc.value - 8} times")
    // a genuinely new doc still gets through the gate and is indexed
    val extra = Seq((9L, "nine ten eleven twelve", "en"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        col("lang"))
    val st3 = DocStore.build(extra, col("doc_id"), col("data"),
      metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = counting, dedupIndex = Some(idx))
    assert(st3.chunks.count() == 2 && acc.value == 10L)
    // compaction folds the per-ingest hash segments into one; the gate
    // still recognizes everything embedded so far
    graft.operators.Dedup.hashCompact(spark, idx)
    val st4 = DocStore.build(docsDf.unionByName(extra), col("doc_id"),
      col("data"), metadata = Seq("lang"), chunkSize = 3, overlap = 1,
      embedder = counting, dedupIndex = Some(idx))
    assert(st4.chunks.count() == 0 && acc.value == 10L)
  }

  test("exact ingest gate: the driver-side lookup ≡ the join fallback at " +
      "chunk granularity; re-ingested chunk keys still drop") {
    import graft.operators.Dedup
    val chunks = store.chunks.select("chunk_key", "doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("ds_gate_spec").toString + "/idx"
    // doc 1's chunks are indexed under their own keys: re-ingesting them
    // (and doc 4's identical texts, doc 2's shared first chunk) must
    // drop — the ingest gate does NOT exclude the batch's own ids
    Dedup.hashSave(chunks.filter(col("doc_id") === 1L),
      col("chunk_key"), col("text"), idx)
    val seen = chunks.filter(col("doc_id") === 1L)
      .select("text").as[String].collect().toSet
    val (local, _) = Dedup.exactGate(spark, idx, chunks, "chunk_key", "text",
      excludeOwn = false)
    val (joined, _) = Dedup.exactGate(spark, idx, chunks, "chunk_key", "text",
      excludeOwn = false, maxRows = 0)
    assert(rowsOf(local) == rowsOf(joined))
    val texts = local.select("text").as[String].collect()
    assert(texts.nonEmpty && texts.forall(t => !seen(t)) &&
      texts.distinct.length == texts.length, texts.toSeq.toString)
  }

  test("build(nearDedupIndex): near-duplicate chunks of EARLIER ingests " +
      "never reach the embedder; sub-n chunks pass; re-ingest is empty") {
    val acc = spark.sparkContext.longAccumulator("near_embed_calls")
    val f = udf { t: String =>
      acc.add(1); Array(t.split(" ").length.toDouble)
    }
    val counting: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => f(c)
    val t = java.nio.file.Files
      .createTempDirectory("ds_near_spec").toString
    def ingest(rows: Seq[(Long, String)]) = DocStore.build(
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
      col("doc_id"), col("data"), chunkSize = 8, overlap = 3,
      embedder = counting, dedupIndex = Some(s"$t/exact"),
      nearDedupIndex = Some(s"$t/near"), nearEstThreshold = 0.15)
    // 12 words → chunk starts 1 and 6: an 8-word chunk and a 7-word one
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    // only the 12th word differs; chosen so the second chunks'
    // signatures collide on a band (candidacy needs both hashes of a
    // band pair equal, not just any shared minhash) at agreement 3/6
    val b = a.dropRight(4) + "november"
    val st1 = ingest(Seq((1L, a)))
    assert(st1.chunks.count() == 2 && acc.value == 2L)
    // precondition: doc 2's second chunk really is in the est band —
    // its signature shares ≥ 1 of 6 minhashes with doc 1's
    val sig = (txt: String) => spark.range(1)
      .select(graft.plans.TextExprs.minhashSig(lit(txt), 3, 6).as("m"))
      .as[Seq[String]].collect()(0)
    val (s1, s2) = (sig(a.split(" ").slice(5, 12).mkString(" ")),
      sig(b.split(" ").slice(5, 12).mkString(" ")))
    assert((s1(0) == s2(0) && s1(1) == s2(1)) ||
      (s1(2) == s2(2) && s1(3) == s2(3)) ||
      (s1(4) == s2(4) && s1(5) == s2(5)),
      "precondition: second chunks must collide on a band pair")
    assert(s1.zip(s2).count { case (x, y) => x == y } >= 1,
      "precondition: second chunks must share a minhash")
    val st2 = ingest(Seq((2L, b)))
    // chunk 1 is byte-identical (exact gate drops it), chunk 2 is a
    // NEAR dup (signature agreement ≥ estThreshold — near gate drops
    // it): NOTHING of doc 2 reaches the embedder
    assert(st2.chunks.count() == 0, "near-dup ingest must embed nothing")
    assert(acc.value == 2L, s"embedder ran ${acc.value} times, want 2")
    // a sub-n chunk (2 words < n=3) has no signature: it passes the
    // near gate (and is returned un-indexed by the refresh contract)
    val st3 = ingest(Seq((3L, "uno dos")))
    assert(st3.chunks.select("text").as[String].collect().toSeq ==
      Seq("uno dos") && acc.value == 3L)
    // full re-ingest: the exact gate (which records every text SEEN,
    // including near-dropped ones) empties the batch BEFORE the near
    // gate runs — dedupRefresh on empty input must be inert
    val st4 = ingest(Seq((1L, a), (2L, b), (3L, "uno dos")))
    assert(st4.chunks.count() == 0 && acc.value == 3L)
  }

  test("nearDedupIndex without dedupIndex is rejected: the gate-order " +
      "invariant is enforced, not advisory") {
    // a lone near gate would wave a re-ingested file through: its
    // deterministic chunk_keys read as the batch's own ids to the
    // replay exclusion, so identical chunks re-embed — build and
    // buildStream both refuse the configuration up front
    val t = java.nio.file.Files.createTempDirectory("ds_lone_near").toString
    intercept[IllegalArgumentException] {
      DocStore.build(docsDf, col("doc_id"), col("data"),
        nearDedupIndex = Some(s"$t/near"))
    }
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    intercept[IllegalArgumentException] {
      DocStore.buildStream(in.toDF().toDF("doc_id", "data"),
        col("doc_id"), col("data"), s"$t/store", s"$t/ckpt",
        nearDedupIndex = Some(s"$t/near"))
    }
  }

  test("buildStream frees each micro-batch's gate checkpoints: storage " +
      "blocks after 8 batches stay within a constant of those after 2") {
    val t = java.nio.file.Files.createTempDirectory("ds_stream_blocks").toString
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sq = DocStore.buildStream(in.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
      col("doc_id"), col("data"), s"$t/store", s"$t/ckpt", chunkSize = 4,
      overlap = 1, embedder = DocStore.hashEmbedder(8),
      dedupIndex = Some(s"$t/exact"), nearDedupIndex = Some(s"$t/near"))
      .start()
    val sc = spark.sparkContext
    // hold every persisted RDD strongly, so a driver GC (ContextCleaner)
    // cannot free a batch's blocks — only an explicit release can
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val hold = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(hold)
    // released blocks are removed asynchronously: read the count once it
    // stops falling
    def settled(): Int = {
      var prev = org.apache.spark.SpecBus.rddBlocks(sc)
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = org.apache.spark.SpecBus.rddBlocks(sc)
        stable = if (now == prev) stable + 1 else 0
        prev = now
      }
      prev
    }
    val counts = try (1 to 8).map { b =>
      in.addData((b * 10L, s"batch $b unique words here and more words $b"),
        (b * 10L + 1, s"another text for batch $b with other words"))
      sq.processAllAvailable()
      settled()
    } finally { sq.stop(); sc.removeSparkListener(hold) }
    assert(spark.read.parquet(s"$t/store/chunks").select("doc_id").distinct()
      .count() == 16, "every batch must land")
    assert(counts(7) <= counts(1) + 2, s"RDD blocks per batch: $counts")
  }

  test("nearGeometry: a first ingest creates the near index at the " +
      "requested (n, k, bands); later ingests read it from the index") {
    val t = java.nio.file.Files.createTempDirectory("ds_near_geom").toString
    def meta(p: String) = graft.core.SegmentStore.open(p).meta.geometry
    // custom geometry: wider k → finer estimate granularity (1/k); the
    // banding S-curve is threshold-driven, which is why this is a build
    // parameter rather than a corpus-count derivation
    DocStore.build(docsDf, col("doc_id"), col("data"),
      chunkSize = 3, overlap = 1,
      dedupIndex = Some(s"$t/exact"), nearDedupIndex = Some(s"$t/near"),
      nearGeometry = (2, 8, 4))
    assert(meta(s"$t/near") == Seq(2, 8, 4),
      s"custom geometry must land in the index: ${meta(s"$t/near")}")
    // default unchanged (what the oracle pins)
    val t2 = java.nio.file.Files.createTempDirectory("ds_near_geom2").toString
    DocStore.build(docsDf, col("doc_id"), col("data"),
      chunkSize = 3, overlap = 1,
      dedupIndex = Some(s"$t2/exact"), nearDedupIndex = Some(s"$t2/near"))
    assert(meta(s"$t2/near") == Seq(3, 6, 3))
    // a second ingest probes at the INDEX's geometry (k=8 signatures) —
    // byte-identical re-ingest is emptied by the exact gate, and a new
    // doc passes both gates and appends at the stored geometry
    import spark.implicits._
    val extra = Seq((42L, "completely novel words never seen before"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"))
    val st = DocStore.build(extra, col("doc_id"), col("data"),
      chunkSize = 3, overlap = 1,
      dedupIndex = Some(s"$t/exact"), nearDedupIndex = Some(s"$t/near"),
      nearGeometry = (2, 8, 4))
    assert(st.chunks.count() > 0)
    assert(meta(s"$t/near")(1) == 8, "append keeps the index geometry")
  }
}
