package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SegmentStore
import graft.core.SegmentStore.{Family, Meta}

/** Similarity search over embedding columns (reference:
  * stdlib/indexing/nearest_neighbors.py:170 brute-force KNN, :262 LSH
  * KNN; engine src/external_integration/brute_force_knn_integration.rs).
  *
  * Two paths, mirroring the reference's index choices:
  *  - brute-force top-k: exact, O(|queries|·|data|) — correct baseline
  *    and fine when one side is small enough to broadcast;
  *  - random-hyperplane LSH buckets: sign-bit sketch of the vector,
  *    candidates share a bucket → the pairwise work collapses to
  *    per-bucket, an equi-join Catalyst shuffles by bucket. The
  *    hyperplane weights are derived from md5 so every engine (and the
  *    DuckDB oracle) regenerates the identical planes.
  *
  * Every vector index family is a BUILD (encode the corpus into
  * inverted lists or codes) plus one shared search pipeline, whose
  * stages run in this order:
  *  - probe ([[probeLists]], IVF families only): each query against the
  *    broadcast centroid table, its top-`nprobe` lists kept;
  *  - rank ([[topKPer]]): one `row_number() ≤ k` window per query, which
  *    Spark pushes below the sort as WindowGroupLimit;
  *  - refine ([[refine]], when `rescore > 0`): the top max(rescore, k)
  *    candidates by the family's code score, the float vectors joined
  *    back onto that shortlist only, ranked by an exact score. Two exact
  *    formulas, never mixed — they are not bit-identical and each
  *    family's oracle pins its own: [[unitDot]] (dot of L2-normalized
  *    vectors) for PQ and IVF-PQ; [[normCosine]] ([[cosinePrenorm]])
  *    for binary, IVF-binary and IVF-SQ.
  * The ad-hoc retriever of a persisted family runs the very search its
  * loader runs, over the structures its save would write.
  *
  * All vector math is built-in higher-order functions (zip_with /
  * aggregate) over array<double> — codegen'd, no UDF.
  */
object Similarity {

  /** In-order double-precision dot product — a single native codegen'd
    * plan node ([[graft.plans.DotProductExpr]]).
    *
    * History of this hot path: Spark's higher-order folds
    * (`aggregate`/`zip_with`) are CodegenFallback — interpreted eval per
    * pair, ~50× slow. Unrolling into flat `element_at` chains (round 4)
    * fixed runtime but made every dot a dim-node subtree, and
    * analysis/optimization/AQE re-planning over thousands of nodes moved
    * the bottleneck to the DRIVER at bench scale. The native expression
    * is one node AND a tight codegen loop. Ascending-index
    * left-associative addition keeps results bit-identical to both
    * earlier forms and DuckDB's `list_dot_product`, so oracle hashes
    * don't move. `dim` is retained for source compatibility; the loop
    * sizes itself from the data. */
  def dot(a: Column, b: Column, dim: Int = 0): Column =
    graft.plans.VecExprs.dotProduct(a, b)

  /** cosine(a, b) = dot / sqrt(|a|²·|b|²) — formula shape matters for
    * bit-parity with the oracle; keep one sqrt. */
  def cosine(a: Column, b: Column, dim: Int = 0): Column =
    nanDiv(dot(a, b), sqrt(dot(a, a) * dot(b, b)))

  /** cosine from a pre-computed squared-norm pair — at scale the |v|²
    * must be computed once per ROW, not once per PAIR (cuts 2/3 of the
    * vector folds in pairwise scoring); bit-identical to [[cosine]]
    * because dot(v,v) is the same fold either way. */
  def cosinePrenorm(a: Column, b: Column, na2: Column, nb2: Column,
      dim: Int = 0): Column =
    nanDiv(dot(a, b), sqrt(na2 * nb2))

  /** IEEE division for the cosine denominators: Spark 4's ANSI mode
    * RAISES on x/0 even for doubles, so ONE zero-norm vector anywhere
    * in a corpus would crash the whole retrieval job (DuckDB and the
    * native kernels yield NaN instead). The guard changes no value —
    * when |a|²·|b|² = 0 the dot is necessarily 0 too, and 0.0/0.0 IS
    * NaN — it only swaps the exception for the honest IEEE result,
    * which then ranks deterministically (NaN greatest, id tiebreak)
    * exactly as [[graft.plans.NearestCentroidExpr]] and the DuckDB
    * oracles already order it. Guard shape matters: `den === 0.0` is
    * NULL when den is NULL, falling through to num/NULL = NULL — the
    * mismatched-dim soft error stays a NULL, never a NaN. */
  private def nanDiv(num: Column, den: Column): Column =
    when(den === 0.0, lit(Double.NaN)).otherwise(num / den)

  /** Squared L2 norm. */
  def norm2(v: Column, dim: Int = 0): Column = dot(v, v)

  /** Explicit-N repartition by `keys` ahead of a fan-out join.
    *
    * The pre-fan-out side of an ANN/dedup verification join is tiny
    * (candidate ids, probe rows), so AQE coalesces its shuffle to one
    * partition — it sizes by the bytes it SEES, blind to the
    * |cand|·listSize expansion a downstream equi-join produces, and the
    * expensive exact-scoring loop then runs single-threaded (measured
    * 13 s of a 16 s IVF query in one task at sf0.1). An explicit
    * partition count is exempt from AQE coalescing and pins the
    * expansion's parallelism. */
  private[operators] def fanoutRepartition(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** Repartition `df` up to the session's shuffle parallelism if it
    * arrives in fewer partitions (e.g. one small parquet split). A
    * pairwise-scoring operator inherits its INPUT's partitioning through
    * broadcast joins, so an under-partitioned corpus table silently
    * serializes the whole scoring loop into its task count, however many
    * cores the cluster has. No-op on a real many-split corpus.
    * Narrowness is estimated from plan stats ([[graft.core.Par.spread]])
    * — no RDD materialization in the operator constructor. */
  private[operators] def spread(df: DataFrame): DataFrame =
    graft.core.Par.spread(df)

  // -------------------------------------------------------------------
  // The shared search pipeline: probe → rank → refine (see the object
  // scaladoc). Column contract: queries are (query_id, qv[, qn2]),
  // corpus rows (neighbor_id, …), centroids (cid, cv, cn2).

  /** Rank stage: `rank` = row_number over `part`, ordered by `score`
    * (descending; ascending for a distance) then `id`, rows with
    * rank ≤ k kept. The filter-on-row_number shape is what Spark pushes
    * below the window's sort as WindowGroupLimit (PlanSpec pins it), so
    * each sort keeps at most k rows per key. */
  private[operators] def topKPer(df: DataFrame, part: String, score: String,
      id: String, k: Int, ascending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(part)
      .orderBy(if (ascending) col(score).asc else col(score).desc, col(id).asc)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[topKPer]] per query over candidate rows →
    * (query_id, rank, neighbor_id, `score`), ties to the smaller id. */
  private[operators] def rankTopK(cand: DataFrame, score: String, k: Int,
      ascending: Boolean = false): DataFrame =
    topKPer(cand, "query_id", score, "neighbor_id", k, ascending)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(score))

  /** Probe stage of the IVF families: each query row (query_id, qv,
    * qn2, `carry`…) scored against the broadcast centroid table by
    * cosine, its `nprobe` nearest lists kept → (query_id, carry…, cid),
    * ties to the smaller cid.
    *
    * NOTE the (query_id, cid) repartition keys (see
    * [[fanoutRepartition]]): repartitioning on query_id alone is
    * statically identical to the rank window's own exchange, Catalyst
    * elides it as redundant, and AQE then coalesces the window exchange
    * to one partition anyway. PlanSpec pins the two-key exchange. */
  private def probeLists(q: DataFrame, cents: DataFrame, nprobe: Int,
      carry: String*): DataFrame = {
    val keep = col("query_id") +: carry.map(col)
    val scored = q.crossJoin(broadcast(cents))
      .select(keep ++ Seq(col("cid"),
        cosinePrenorm(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cc")): _*)
    fanoutRepartition(
      topKPer(scored, "query_id", "cc", "cid", nprobe).select(keep :+ col("cid"): _*),
      col("query_id"), col("cid"))
  }

  /** Self-match condition of a (query, neighbor) pair expansion; the
    * optimizer drops a `lit(true)` filter. Pass excludeSelf = false when
    * queries and corpus are different tables whose id spaces can
    * coincide — a hard-coded self-exclusion there silently drops a true
    * nearest neighbor on an accidental id collision. */
  private def pairCond(excludeSelf: Boolean): Column =
    if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)

  /** Exact score of PQ and IVF-PQ refines: the dot of L2-normalized
    * query and corpus vectors (`qv`, `dv`). */
  private def unitDot: Column = dot(col("qv"), col("dv"))

  /** Exact score of binary, IVF-binary and IVF-SQ refines (and of the
    * float searches): [[cosinePrenorm]] over `qv`/`dv` and the squared
    * norms `qn2`/`dn2` their rows carry. */
  private def normCosine: Column =
    cosinePrenorm(col("qv"), col("dv"), col("qn2"), col("dn2"))

  /** Refine stage: each query's top max(rescore, k) candidates by the
    * code `score` (ascending for Hamming), the floats joined back onto
    * that shortlist only — `qf` (query_id, qv[, qn2]) by query id, `df`
    * (neighbor_id, dv[, dn2]) by neighbor id — and ranked by `exact` →
    * (query_id, rank, neighbor_id, cosine). Candidate rows reach the
    * shortlist window with ids and the code score only: the pair
    * expansion never carries a float vector, which is the memory
    * argument for codes. The shortlist (|q|·max(rescore, k) rows)
    * broadcasts, so the float corpus is scanned, never shuffled. */
  private def refine(cand: DataFrame, score: String, ascending: Boolean,
      rescore: Int, k: Int, qf: DataFrame, df: DataFrame,
      exact: Column): DataFrame = {
    val short = topKPer(cand, "query_id", score, "neighbor_id",
        math.max(rescore, k), ascending)
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(broadcast(short.join(broadcast(qf), Seq("query_id")))
        .join(df, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), exact.as("cosine")),
      "cosine", k)
  }

  /** `restrictTo` applied once, in the shared searches: exactly ONE id
    * column, semi-joined against the lists/codes BEFORE ranking — the
    * push-the-filter-into-the-index contract: k survivors come from
    * matching ids only, never a lossy post-filter of unfiltered hits.
    * The one-column check is loud because a multi-column frame would
    * otherwise filter by whichever column came first — a wrong-column
    * mistake with no error. */
  private def restricted(rows: DataFrame, restrictTo: Option[DataFrame]): DataFrame =
    restrictTo.fold(rows) { ids =>
      require(ids.columns.length == 1,
        "restrictTo must be a single-id-column DataFrame (the ids to keep); " +
          s"got columns [${ids.columns.mkString(", ")}] — select the id " +
          "column first")
      rows.join(ids.toDF("neighbor_id"), Seq("neighbor_id"), "left_semi")
    }

  /** Hamming distance of packed query codes `qb` to corpus codes `db`.
    * A NULL hamming (NULL embedding, ragged packing) must not enter the
    * ASCENDING rank window: Spark sorts NULLS FIRST there, which would
    * hand the malformed row rank 1 of every query (and DuckDB sorts
    * NULLS LAST — the cross-engine trap CLAUDE.md pins). */
  private def hammingOf(pairs: DataFrame, qb: String, db: String): DataFrame =
    pairs.select(col("query_id"), col("neighbor_id"),
        graft.plans.VecExprs.hamming(col(qb), col(db)).as("hamming"))
      .filter(col("hamming").isNotNull)

  private def queryFloats(queries: DataFrame, qid: Column, qvec: Column): DataFrame =
    queries.select(qid.as("query_id"), qvec.cast("array<double>").as("qv"))

  private def corpusFloats(data: DataFrame, did: Column, dvec: Column): DataFrame =
    data.select(did.as("neighbor_id"), dvec.cast("array<double>").as("dv"))

  /** Build-side rows (id, v) of a corpus, spread to the session's
    * parallelism. */
  private def buildRows(data: DataFrame, did: Column, dvec: Column): DataFrame =
    spread(data).select(did.as("id"), dvec.cast("array<double>").as("v"))

  /** Every query row against every data row (self ids excluded), scored
    * by exact cosine → (query_id, neighbor_id, cosine). The query side
    * is spread before the |q|×|d| expansion: a small query table arrives
    * in one input split and the whole scoring loop would otherwise run
    * in that single task. */
  private def exactPairs(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column): DataFrame = {
    val q = fanoutRepartition(queryFloats(queries, qid, qvec)
      .withColumn("qn2", norm2(col("qv"))), col("query_id"))
    val d = corpusFloats(data, did, dvec).withColumn("dn2", norm2(col("dv")))
    q.join(d, pairCond(excludeSelf = true))
      .select(col("query_id"), col("neighbor_id"), normCosine.as("cosine"))
  }

  /** Exact brute-force top-k by cosine: every query row against every
    * data row (broadcast data when it fits). Returns
    * (query_id, rank, neighbor_id, cosine), rank 1..k,
    * ties broken by neighbor id. */
  def bruteForceTopK(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      k: Int, dim: Int = 0): DataFrame =
    rankTopK(exactPairs(queries, data, qid, qvec, did, dvec), "cosine", k)

  /** Default per-band bucket-occupancy target for [[lshCluster]]'s
    * derived geometry: small buckets keep near-dup clusters tight and
    * the per-bucket window work bounded. The [[planesFor]] doc has the
    * scaling argument. */
  val clusterBucketTarget: Long = 8L

  /** Deterministic ±1 hyperplane weight for (plane p, dimension d):
    * parity of the first byte of md5(p‖"_"‖d). Computed driver-side —
    * the weights are plan-time constants, and emitting them as md5
    * expression trees (pre-round-5) meant Catalyst re-constant-folded
    * planes×dim md5 calls on every optimizer run and AQE re-plan. The
    * DuckDB oracle regenerates the identical value from its own md5. */
  private def weightVal(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((digest(0) & 0xff) % 2) == 0) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits of the vector
    * against deterministic ±1 hyperplanes. */
  def rhpBucket(vec: Column, dim: Int, planes: Int): Column =
    rhpBucketSlice(vec, dim, 0, planes)

  /** Bucket id from the plane slice [from, from+count) — bands draw
    * disjoint plane ranges so each band is an independent hash. Each
    * plane's projection is one [[dot]] of the vector against an
    * array-literal weight row (ascending-dimension addition order —
    * bit-identical to the per-term sum the oracle computes). */
  def rhpBucketSlice(vec: Column, dim: Int, from: Int, count: Int): Column = {
    val v = vec.cast("array<double>")
    val bits = (0 until count).map { j =>
      val w = typedLit((0 until dim).map(d => weightVal(from + j, d)).toArray)
      when(dot(v, w) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH pre-clustering (reference:
    * stdlib/ml/classifiers/_clustering_via_lsh.py:31 — LSH buckets feed
    * a clusterer). Items sharing ANY of `bands` independent bucket keys
    * merge into one cluster: per (band, bucket) star edges to the bucket
    * minimum, connected components across bands. CC is the distributed
    * merge step; a per-bucket centroid refinement (the reference runs
    * KMeans inside buckets) slots in as a mapPartitions pass downstream.
    *
    * `planesPerBand <= 0` (the default) derives the band width from the
    * corpus via [[planesFor]] (target bucket occupancy
    * [[clusterBucketTarget]]) — the same grow-with-the-corpus rule as
    * [[nlistFor]]: a frozen plane count makes per-bucket occupancy —
    * and the per-bucket min-window sort under it — linear in corpus
    * growth, and bucket granularity (cluster tightness) drift with
    * scale instead of staying put. Pass an explicit count to pin a
    * geometry. Returns (node, cluster), cluster = min member id;
    * singletons keep their own id. */
  def lshCluster(df: DataFrame, id: Column, vec: Column, dim: Int,
      planesPerBand: Int = 0, bands: Int = 2): DataFrame = {
    val v = graft.core.Caches.eager(buildRows(df, id, vec))
    // the eager cache above already ran a count job — this one is a
    // cache-metadata hit, so the derivation costs no extra scan
    val pp = if (planesPerBand > 0) planesPerBand
      else planesFor(v.count(), clusterBucketTarget)
    val banded = (0 until bands).map { b =>
      v.select(col("id"), lit(b).as("band"),
        rhpBucketSlice(col("v"), dim, b * pp, pp).as("bk"))
    }.reduce(_ unionByName _)
    val wmin = Window.partitionBy("band", "bk")
    val edges = banded.withColumn("m", min(col("id")).over(wmin))
      .filter(col("id") =!= col("m"))
      .select(col("id").as("src"), col("m").as("dst"))
    // eager: the banded-bucket projection is the expensive subtree here;
    // CC's symmetrize union would otherwise evaluate it twice
    val cc = Graphs.connectedComponents(graft.core.Caches.eager(edges))
    v.select(col("id").as("node")).join(cc, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("cluster"))
  }

  /** IVF-flat ANN (the FAISS-style scale path; complements [[lshTopK]]):
    * a coarse quantizer of `nlist` centroids partitions the corpus into
    * inverted lists, queries probe their `nprobe` nearest lists and rank
    * exactly inside them. Recall/cost dial: nprobe=nlist is exact.
    *
    *  - centroids = the `nlist` rows with smallest md5(id): a
    *    deterministic uniform sample, reproducible on any engine (a
    *    Lloyd round can be layered on, but sampling already spreads
    *    lists for near-uniform corpora and keeps the oracle replayable);
    *  - assignment = one broadcast of the tiny centroid table + one
    *    map-side cosine argmax per row — no shuffle grows with nlist;
    *  - search = probes equi-join the inverted lists on centroid id, so
    *    candidate volume is |q|·nprobe·(n/nlist) instead of |q|·n.
    * Returns (query_id, rank, neighbor_id, cosine), rank 1..k. */
  def ivfTopK(df: DataFrame, id: Column, vec: Column,
      nlist: Int, nprobe: Int, k: Int, dim: Int = 0): DataFrame =
    ivfRetrieve(df, df, id, vec, id, vec, nlist, nprobe, k,
      excludeSelf = true)

  /** Two-sided IVF retrieval — see [[ivfTopK]] for the structure. The
    * centroid sample comes from the DATA side; queries only probe. */
  def ivfRetrieve(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      nlist: Int, nprobe: Int, k: Int,
      excludeSelf: Boolean = false, dim: Int = 0): DataFrame = {
    val (cents, assigned) = ivfBuild(data, did, dvec, nlist)
    ivfSearch(cents, assigned, queries, qid, qvec, nprobe, k, excludeSelf)
  }

  /** Coarse quantizer: the `nlist` rows of `d` (id, v, n2) with the
    * smallest md5(id), as a centroid table (cid, cv, cn2). v.isNotNull:
    * a NULL embedding sampled into the centroid set would reach the
    * driver-side collect in assignToCents and NPE the job (NULL corpus
    * rows themselves are fine — they assign to no list). */
  private def sampleCents(d: DataFrame, nlist: Int): DataFrame =
    graft.core.Caches.eager(
      d.filter(col("v").isNotNull)
        .select(col("id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
        .orderBy(md5(col("cid").cast("string"))).limit(nlist))

  /** Build the two IVF structures: the centroid table (cid, cv, cn2) and
    * the inverted-list assignment (neighbor_id, cid, dv, dn2). */
  private[graft] def ivfBuild(data: DataFrame, did: Column, dvec: Column,
      nlist: Int): (DataFrame, DataFrame) = {
    // eager: d is referenced by the centroid sample, the assignment
    // scan and the candidate join — see Caches.eager for the lock story
    val d = graft.core.Caches.eager(
      buildRows(data, did, dvec).withColumn("n2", norm2(col("v"))))
    val cents = sampleCents(d, nlist)
    // data side: each vector lands in exactly one list (argmax cosine,
    // tie -> smallest cid) — one native one-pass expression per row
    // against the collected centroid matrix (NearestCentroidExpr: the
    // crossJoin+struct-max formulation planned a SortAggregate over
    // |corpus|·nlist pair rows — corpus^1.5 with nlist ~ √corpus)
    (cents, assignToCents(d, cents))
  }

  /** Assignment scan shared by every coarse quantizer: collect the
    * (small by construction — nlist ≤ [[nlistFor]] of the corpus)
    * centroid table, ship it inside [[graft.plans.NearestCentroidExpr]],
    * and tag each d row with its argmax-cosine cid in one pass.
    * `keep` = extra d columns to carry onto the lists. Empty centroid
    * table (empty corpus) → empty assignment, matching the old join. */
  private[graft] def assignToCents(d: DataFrame, cents: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val cidType = cents.schema("cid").dataType
    val rows = graft.core.Small.collect(
        cents.select(col("cid").cast("long"), col("cv"), col("cn2")))
      .sortBy(_.getLong(0))
    val out = (r: DataFrame) => r.select(
      Seq(col("id").as("neighbor_id"), col("_cid").cast(cidType).as("cid")) ++
        keep.map(col) ++ Seq(col("v").as("dv"), col("n2").as("dn2")): _*)
    if (rows.isEmpty)
      return out(d.withColumn("_cid", lit(null).cast("long")).filter(lit(false)))
    out(d.withColumn("_cid",
      graft.plans.VecExprs.nearestCentroidOf(col("v"), rows.toSeq)))
  }

  /** The IVF-flat search shared by [[ivfRetrieve]], [[ivfLoadRetrieve]]
    * and the document store: probe, exact cosine inside the probed
    * lists, rank. */
  private[graft] def ivfSearch(cents: DataFrame, assigned: DataFrame,
      queries: DataFrame, qid: Column, qvec: Column,
      nprobe: Int, k: Int, excludeSelf: Boolean,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val q = queryFloats(queries, qid, qvec).withColumn("qn2", norm2(col("qv")))
    val cand = probeLists(q, cents, nprobe, "qv", "qn2")
      .join(restricted(assigned, restrictTo), Seq("cid")).filter(pairCond(excludeSelf))
      .select(col("query_id"), col("neighbor_id"), normCosine.as("cosine"))
    rankTopK(cand, "cosine", k)
  }

  /** Persist an IVF index as two parquet tables under `path`:
    * `centroids/` (small — broadcast at query time) and `assigned/`
    * (the inverted lists, partitioned by centroid id so a probe with a
    * selective query set prunes whole list partitions at the scan).
    *
    * The at-scale usage pattern this enables: an index over a huge
    * corpus is built ONCE in a batch job and then queried by many later
    * jobs — ad-hoc [[ivfRetrieve]] re-pays the full corpus scan +
    * assignment on every run. The reference keeps the same split:
    * long-lived built indexes server-side, queries joining against them
    * (external_index integration; xpack vector store).
    *
    * Saves are atomically VERSIONED ([[graft.core.SegmentStore]]): the
    * centroids and the lists land in a fresh generation, one marker
    * rename publishes them, so a reader concurrent with a re-save sees
    * the old or the new index — never new centroids over old lists. */
  def ivfSave(data: DataFrame, did: Column, dvec: Column, path: String,
      nlist: Int, dim: Int = 0, covers: Option[Seq[String]] = None): Unit = {
    val (meta, rows, sides) = ivfIndex(data, did, dvec, nlist)
    SegmentStore.save(path, meta, rows, sides, covers)
    ()
  }

  /** What [[ivfSave]] writes: the record, the inverted lists and the
    * centroid side table. */
  private[graft] def ivfIndex(data: DataFrame, did: Column, dvec: Column,
      nlist: Int): (Meta, DataFrame, Seq[(String, DataFrame)]) = {
    val (cents, assigned) = ivfBuild(data, did, dvec, nlist)
    (Meta(Family.Ivf), assigned, Seq("centroids" -> cents))
  }

  /** Incremental index refresh — the Lucene/FAISS SEGMENT model: assign
    * ONLY `newData` to the EXISTING centroids (broadcast, map-side — no
    * shuffle of anything corpus-sized), write the assignments as one new
    * inverted-list segment, and commit a generation whose manifest =
    * previous segments + the new one. Cost is O(new rows) compute and
    * I/O; the corpus already on disk is never read or rewritten — the
    * only way "index the day's ingest" stays affordable when the index
    * holds 100 TB. Readers union the manifest's segments (each
    * cid-partitioned, so probes still prune whole lists across every
    * segment).
    *
    * Contract: centroids are FROZEN by append — retrieval stays exact
    * w.r.t. "these centroids over all rows", but list balance degrades
    * as the corpus drifts from the geometry it was sampled from; run a
    * full [[ivfSave]] rebuild periodically (the same compact-vs-append
    * tradeoff every segmented index has). The caller feeds only NEW
    * ids; re-appending an id creates a duplicate entry (same as feeding
    * a duplicate to ivfSave). `covers` names the input files `newData`
    * was read from ([[SegmentStore.append]]). Returns the committed
    * generation. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newData: DataFrame, did: Column, dvec: Column, dim: Int = 0,
      covers: Option[Seq[String]] = None): Long =
    ivfAppend(spark, SegmentStore.open(path), newData, did, dvec, covers)

  /** [[ivfAppend]] to the opened generation `g`. */
  private[graft] def ivfAppend(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation, newData: DataFrame, did: Column,
      dvec: Column, covers: Option[Seq[String]]): Long =
    SegmentStore.append(g.of(Family.Ivf), Meta(Family.Ivf),
      assignVectors(newData, did, dvec, g.side(spark, "centroids")), covers)

  /** Assign vectors to FIXED centroids — the map-side half of
    * [[ivfBuild]] (argmax cosine, tie → smallest cid), one
    * [[assignToCents]] pass per row. */
  private[graft] def assignVectors(data: DataFrame, did: Column,
      dvec: Column, cents: DataFrame): DataFrame =
    assignToCents(
      buildRows(data, did, dvec).withColumn("n2", norm2(col("v"))), cents)

  /** Load the generation's (centroids, inverted lists) pair — lists
    * unioned across the manifest's segments, cid re-cast to the centroid
    * table's type (partition discovery re-infers small longs as int). */
  private[graft] def ivfLoadParts(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation): (DataFrame, DataFrame) = {
    val g = g0.of(Family.Ivf)
    val cents = g.side(spark, "centroids")
    (cents, g.rows(spark).withColumn("cid",
      col("cid").cast(cents.schema("cid").dataType)))
  }

  /** [[ivfSearch]] over the IVF-flat generation `g`,
    * answered on the driver for a query batch that fits
    * [[graft.core.Small]]'s gate — no join, no rank window, no AQE
    * stage:
    *  - the queries (id, vector) and the centroids are collected (a
    *    driver-local query relation is read without a job);
    *  - each query's `nprobe` lists are ranked on the driver by
    *    [[probeLists]]' cosine, ties to the smaller cid;
    *  - ONE scan of the generation ([[SegmentStore.Generation.rows]])
    *    reads the probed lists only — a [[graft.core.Small.in]] on cid
    *    prunes every other list's files — and its rows are collected;
    *  - each query scores the rows of its own lists by [[normCosine]]'s
    *    formula and keeps [[rankTopK]]'s top `k`: cosine descending in
    *    Spark's double order (NaN largest, -0.0 = 0.0, NULL last), then
    *    the smaller neighbor id.
    * The replay is exact for non-null, distinct, integral query ids and
    * integral neighbor ids (a duplicated query id merges its rows'
    * probes in the distributed window); other batches, and batches or
    * probed lists over the gate, return None and the caller runs
    * [[ivfSearch]]. Returns (query_id, rank, neighbor_id, cosine) rows. */
  private[graft] def ivfSearchLocal(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation, queries: DataFrame, qid: Column, qvec: Column,
      nprobe: Int, k: Int, maxRows: Int)
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import graft.core.Small
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def vec(r: Row, i: Int): Array[Double] =
      if (r.isNullAt(i)) null else r.getSeq[Double](i).toArray
    def dbl(r: Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null else r.getDouble(i)
    // DotProductExpr: in-order sum, NULL on a NULL side or unequal length
    def dotOf(a: Array[Double], b: Array[Double]): java.lang.Double =
      if (a == null || b == null || a.length != b.length) null
      else { var acc = 0.0; var i = 0; while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc }
    // cosinePrenorm: den = 0 → NaN before the dot is looked at
    def cos(a: Array[Double], b: Array[Double], na2: java.lang.Double,
        nb2: java.lang.Double): java.lang.Double =
      if (na2 == null || nb2 == null) null
      else {
        val den = math.sqrt(na2 * nb2)
        val d = dotOf(a, b)
        if (den == 0.0) Double.NaN else if (d == null) null else d / den
      }
    // a descending sort key in Spark's order: NULL last, NaN first
    def desc(x: java.lang.Double, y: java.lang.Double): Int =
      if (x == null) (if (y == null) 0 else 1)
      else if (y == null) -1
      else if (x.doubleValue == y.doubleValue) 0
      else -java.lang.Double.compare(x, y)
    val q = queries.select(qid.as("query_id"), qvec.cast("array<double>").as("qv"))
    if (!integral(q.schema("query_id").dataType)) return None
    val g = g0.of(Family.Ivf)
    val lists = g.rows(spark)
    if (!integral(lists.schema("neighbor_id").dataType)) return None
    Small.rows(q, maxRows)
      .filter(qs => !qs.exists(_.isNullAt(0)) &&
        qs.map(_.get(0)).distinct.length == qs.length)
      .flatMap { qs =>
        val cents = Small.collect(g.side(spark, "centroids")
            .select(col("cid").cast("long"), col("cv"), col("cn2")))
          .map(c => (c.getLong(0), vec(c, 1), dbl(c, 2)))
        val probes = qs.map { r =>
          val qv = vec(r, 1)
          val qn2 = dotOf(qv, qv)
          r -> cents.map(c => (c._1, cos(qv, c._2, qn2, c._3)))
            .sortWith((a, b) => { val o = desc(a._2, b._2); if (o != 0) o < 0 else a._1 < b._1 })
            .take(nprobe).map(_._1).toSet
        }
        Small.rows(lists.filter(Small.in(col("cid"), probes.flatMap(_._2).distinct))
            .select(col("cid").cast("long"), col("neighbor_id"), col("dv"), col("dn2")),
          maxRows).map { rows =>
          def id(r: Row): Option[Long] =
            if (r.isNullAt(1)) None else Some(r.getAs[Number](1).longValue)
          probes.toSeq.flatMap { case (qr, probed) =>
            val qv = vec(qr, 1)
            val qn2 = dotOf(qv, qv)
            rows.filter(r => probed(r.getLong(0)))
              .map(r => (r, cos(qv, vec(r, 2), qn2, dbl(r, 3))))
              .sortWith { case ((ra, sa), (rb, sb)) =>
                val o = desc(sa, sb)
                if (o != 0) o < 0
                else (id(ra), id(rb)) match { // ascending: NULL first
                  case (None, Some(_)) => true
                  case (Some(x), Some(y)) => x < y
                  case _ => false
                }
              }
              .take(k).zipWithIndex.map { case ((r, score), i) =>
                Row(qr.get(0), i + 1, r.get(1), score)
              }
          }
        }
      }
  }

  /** Retrieve against an [[ivfSave]]d index without rebuilding it —
    * served from the committed generation at plan time. */
  def ivfLoadRetrieve(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column,
      nprobe: Int, k: Int, excludeSelf: Boolean = false,
      dim: Int = 0): DataFrame = {
    val (cents, assigned) = ivfLoadParts(spark, SegmentStore.open(path))
    ivfSearch(cents, assigned, queries, qid, qvec, nprobe, k, excludeSelf)
  }

  /** Int8 scalar quantization of an embedding column (beyond the
    * reference — the standard memory lever for ANN at corpus scale: the
    * persisted/broadcast corpus shrinks 8× vs the array<double> Spark
    * SQL otherwise carries, and integer dot products rank candidates
    * without touching the float vectors).
    *
    * Per-vector symmetric scale: s = max|x|/127 (floored at 1e-30/127 so
    * a zero vector quantizes to zeros instead of dividing by zero),
    * codes c_i = floor(x_i/s + 0.5) ∈ [-127, 127] stored as TINYINT.
    * Both steps are plain column expressions any engine reproduces
    * bit-identically (floor, not banker's round — round() ties differ
    * across engines).
    *
    * Adds `scaleCol` (double) and `codesCol` (array<tinyint>); drop the
    * original vector column afterwards to realize the memory win. */
  def quantizeInt8(df: DataFrame, vec: Column,
      scaleCol: String = "qscale", codesCol: String = "qcodes"): DataFrame =
    df.withColumn(scaleCol,
        greatest(array_max(transform(vec.cast("array<double>"), x => abs(x))),
          lit(1e-30)) / lit(127.0))
      // zip_with: the scale reaches the lambda as a lambda VARIABLE —
      // a `x => x / col(scaleCol)` body would re-evaluate the producing
      // array_max fold per element (Catalyst inlines producers into
      // lambda references); values are IEEE-identical either way
      .withColumn(codesCol,
        zip_with(vec.cast("array<double>"),
          array_repeat(col(scaleCol), size(vec)),
          (x, sc) => floor(x / sc + lit(0.5)).cast("tinyint")))

  /** L2-normalize an array<double> column (norm floored at 1e-30 so a
    * zero vector maps to zeros, not NaN). The norm is one [[dot]] fold —
    * bit-identical to DuckDB's `sqrt(list_dot_product(v, v))` — and the
    * per-element division is exact IEEE, so normalized vectors match
    * across engines bit-for-bit. */
  private def l2normalize(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("_norm",
        greatest(sqrt(norm2(col(vecCol))), lit(1e-30)))
      // zip_with, not `x => x / col("_norm")`: the norm's dot fold would
      // re-evaluate per element via lambda-reference inlining
      .withColumn(vecCol,
        zip_with(col(vecCol), array_repeat(col("_norm"), size(col(vecCol))),
          (x, nn) => x / nn))
      .drop("_norm")

  /** The int8 score s_q·s_d·(codes_q·codes_d) of query (qs, qc) and
    * corpus (ds, dc) codes — exact in double (|sum| < 2^53). */
  private def sq8Score: Column =
    col("qs") * col("ds") * dot(col("qc").cast("array<double>"),
      col("dc").cast("array<double>"))

  /** Brute-force top-k over int8-quantized UNIT vectors: vectors are
    * L2-normalized first, so score = s_q·s_d·(codes_q·codes_d)
    * approximates cosine — the same metric [[bruteForceTopK]] ranks by.
    * The integer dot is exact in double (|sum| < 2^53), and norms,
    * scales, and codes are identical doubles on every engine, so the
    * RANKING is fully deterministic — no float-summation tie ambiguity
    * at all, unlike raw-cosine ranking. Approximation error vs exact
    * cosine is the quantization error only (recall ≥0.9 at k=3 on the
    * test corpus — DataIndexSpec pins it).
    *
    * Same join shape as [[bruteForceTopK]]; at scale the quantized
    * corpus is what gets broadcast/shuffled, which is the point.
    * Composes with IVF: [[ivfQuantizedRetrieve]]. */
  def quantizedTopK(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      k: Int): DataFrame = {
    val q = fanoutRepartition(
      quantizeInt8(l2normalize(queryFloats(queries, qid, qvec), "qv"),
        col("qv"), "qs", "qc").drop("qv"), col("query_id"))
    val d = quantizeInt8(l2normalize(corpusFloats(data, did, dvec), "dv"),
      col("dv"), "ds", "dc").drop("dv")
    rankTopK(q.join(d, pairCond(excludeSelf = true))
      .select(col("query_id"), col("neighbor_id"), sq8Score.as("score")), "score", k)
  }

  // -------------------------------------------------------------------
  // IVF-SQ: int8 scalar quantization composed INSIDE the inverted lists
  // (the FAISS IVF-SQ serving shape — what a 100 TB corpus actually
  // runs: coarse quantizer prunes to nprobe lists, 8×-smaller int8
  // codes rank candidates by exact-integer dot, and an optional exact
  // re-score of the top candidates recovers float precision on the
  // short list only). Beyond the reference's flat external indexes;
  // the natural composition of [[ivfBuild]] and [[quantizeInt8]].

  /** Build IVF-SQ structures: float centroid table (cid, cv, cn2) and
    * quantized inverted lists (neighbor_id, cid, ds, dc, dv, dn2) — the
    * float vector stays on the lists for the optional exact re-score,
    * which joins it back onto the shortlist; drop `dv`/`dn2` downstream
    * when rescore is never used and the 8× memory win should be fully
    * realized. Vectors are L2-normalized first so the integer dot
    * approximates cosine (see [[quantizedTopK]]). */
  private[graft] def ivfQuantizedBuild(data: DataFrame, did: Column,
      dvec: Column, nlist: Int): (DataFrame, DataFrame) = {
    val d = graft.core.Caches.eager(
      quantizeInt8(l2normalize(buildRows(data, did, dvec), "v"), col("v"), "ds", "dc")
        .withColumn("n2", norm2(col("v"))))
    val cents = sampleCents(d, nlist)
    // same one-pass assignment as ivfBuild, int8 codes riding along
    (cents, assignToCents(d, cents, keep = Seq("ds", "dc")))
  }

  /** IVF-SQ retrieval: probe `nprobe` lists by float-centroid cosine,
    * rank candidates by the deterministic integer dot
    * s_q·s_d·(codes_q·codes_d); with `rescore > 0`, re-score the top
    * max(rescore, k) integer-ranked candidates by exact float cosine
    * and emit that ranking (`cosine` column) — otherwise the integer
    * score is emitted (`score` column). Both stages rank
    * deterministically: the integer dot is exact in double, and the
    * re-score list is id-tie-broken at the cut. */
  def ivfQuantizedRetrieve(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      nlist: Int, nprobe: Int, k: Int, rescore: Int = 0,
      excludeSelf: Boolean = false, dim: Int = 0): DataFrame = {
    val (cents, assigned) = ivfQuantizedBuild(data, did, dvec, nlist)
    val qf = l2normalize(queryFloats(queries, qid, qvec), "qv")
      .withColumn("qn2", norm2(col("qv")))
    val q = quantizeInt8(qf, col("qv"), "qs", "qc")
    val cand = probeLists(q, cents, nprobe, "qs", "qc")
      .join(assigned, Seq("cid")).filter(pairCond(excludeSelf))
      .select(col("query_id"), col("neighbor_id"), sq8Score.as("score"))
    if (rescore <= 0) rankTopK(cand, "score", k)
    else refine(cand, "score", ascending = false, rescore, k, qf,
      assigned.select(col("neighbor_id"), col("dv"), col("dn2")), normCosine)
  }

  /** 1-bit sign quantization of an embedding column (beyond the
    * reference — the extreme end of the SQ8 → PQ memory ladder: dim
    * doubles pack into ceil(dim/64) longs via
    * [[graft.plans.SignPackExpr]], 64× smaller in flight than the
    * array<double> Spark otherwise ships, 32× vs float32 at rest — the
    * binary-embedding serving shape). Bit j of word w = (x[64w+j] > 0):
    * a pure sign test needs no scale, no normalization, and replays
    * bit-identically on any engine. Hamming distance over the codes
    * ranks candidates: for L2-normalized real-world embeddings,
    * sign-agreement correlates with cosine — recall is recovered by an
    * exact float re-score of the Hamming shortlist ([[binaryTopK]]'s
    * `rescore`), the same refine discipline as PQ. */
  def binarySignQuantize(df: DataFrame, vec: Column,
      codesCol: String = "bcodes"): DataFrame =
    df.withColumn(codesCol,
      graft.plans.VecExprs.signPack(vec.cast("array<double>")))

  /** Brute-force top-k by Hamming distance over [[binarySignQuantize]]d
    * codes — the codes [[binarySave]] would persist, searched exactly as
    * [[binaryLoadTopK]] searches them. The pair rows carry ONLY the
    * packed codes (8·ceil(dim/64) bytes — 16 B at dim 64) and the score
    * is one codegen'd XOR-popcount pass ([[graft.plans.HammingExpr]]) —
    * exact integers, so the ranking has zero float-summation ambiguity.
    * With `rescore > 0` the top max(rescore, k) Hamming candidates are
    * re-scored by exact float cosine, with the floats JOINED BACK by id
    * on the shortlist only — the full pair expansion never touches a
    * float vector, which is the entire memory argument for binary codes.
    * Emits (query_id, rank, neighbor_id, hamming) without rescore,
    * (query_id, rank, neighbor_id, cosine) with. */
  def binaryTopK(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      k: Int, rescore: Int = 0, dim: Int = 0,
      excludeSelf: Boolean = true): DataFrame =
    binarySearch(binaryCodesOf(data, did, dvec), queries, qid, qvec, k,
      rescore, Some((data, did, dvec)), excludeSelf, None)

  /** Contrastive hard-negative mining — the embedding-training pair
    * miner: for every anchor, the top-k most-similar OTHER rows whose
    * cosine lies in [loSim, hiSim): above `hiSim` is a near-duplicate
    * (a false negative that would poison the loss), below `loSim` is an
    * easy negative that teaches nothing. Returns
    * (anchor_id, rank, negative_id, cosine), rank by cosine desc with
    * id ties.
    *
    * This is the exact (brute-force) semantics reference — the band
    * filter runs BEFORE the rank window, so the window sorts only
    * in-band pairs. At corpus scale, feed `anchors` from a sample (hard
    * negatives are mined per training batch, not per corpus row) and/or
    * swap the pairwise stage for an ANN shortlist (ivfRetrieve top-R →
    * band-filter → rank) — the banding rule is unchanged. */
  def hardNegatives(anchors: DataFrame, data: DataFrame,
      aid: Column, avec: Column, did: Column, dvec: Column,
      k: Int, loSim: Double, hiSim: Double, dim: Int = 0): DataFrame = {
    require(loSim < hiSim, s"hardNegatives: need loSim < hiSim, got [$loSim, $hiSim)")
    val scored = exactPairs(anchors, data, aid, avec, did, dvec)
      .filter(col("cosine") >= loSim && col("cosine") < hiSim)
    rankTopK(scored, "cosine", k)
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("negative_id"), col("cosine"))
  }

  /** Maximal-marginal-relevance re-selection over a retrieval shortlist
    * (Carbonell & Goldstein 1998) — the RAG diversity stage: pure
    * relevance ranking returns n near-duplicates of the same best
    * chunk; MMR greedily picks `n` of the candidates maximizing
    * λ·score − (1−λ)·(max cosine to anything already picked), so each
    * pick adds information, not repetition.
    *
    * `candidates` is a per-query SHORTLIST (an ANN top-k — (query_id,
    * candidate id, relevance score, vector)); by contract k is small,
    * so collecting one query's candidates into a single row (k·dim
    * doubles) is bounded and the greedy loop runs as ONE native
    * expression pass per query ([[graft.plans.MmrSelectExpr]]) —
    * queries parallelize perfectly, the corpus is never touched. Pick
    * λ with an exact complement (0.75/0.5/0.25) for cross-engine
    * parity of 1−λ. Returns (query_id, rank, neighbor_id, mmr) in
    * selection order, ties to the smallest id. */
  def mmrTopK(candidates: DataFrame, qid: Column, cid: Column,
      score: Column, vec: Column, n: Int, lam: Double): DataFrame = {
    val g = candidates
      .select(qid.as("query_id"), struct(
        cid.cast("long").as("id"), score.cast("double").as("s"),
        vec.cast("array<double>").as("v")).as("c"))
      .groupBy("query_id").agg(collect_list(col("c")).as("_cands"))
    g.select(col("query_id"),
        explode(graft.plans.VecExprs.mmrSelect(col("_cands"), n, lam)).as("r"))
      .select(col("query_id"), col("r.rank").as("rank"),
        col("r.id").as("neighbor_id"), col("r.mmr").as("mmr"))
  }

  /** Persist a binary sign-code index: the packed codes ONLY —
    * ceil(dim/64) longs per vector at rest, 64× less than the doubles
    * (100 TB of float64 embeddings → ~1.6 TB of codes); the float
    * corpus is NOT persisted — the refine stage rescans only shortlist
    * rows from the source table via `rescoreAgainst`, the [[pqSave]]
    * contract. Atomically versioned through [[graft.core.SegmentStore]]
    * like every index save; codes land as one SEGMENT under a manifest,
    * so [[binaryAppend]] can grow the index O(new rows) without
    * rewriting the corpus codes. */
  def binarySave(data: DataFrame, did: Column, dvec: Column,
      path: String, covers: Option[Seq[String]] = None): Unit = {
    val (meta, rows, sides) = binaryIndex(data, did, dvec)
    SegmentStore.save(path, meta, rows, sides, covers)
    ()
  }

  /** What [[binarySave]] writes: the record and the codes. */
  private[graft] def binaryIndex(data: DataFrame, did: Column,
      dvec: Column): (Meta, DataFrame, Seq[(String, DataFrame)]) =
    (Meta(Family.Binary), binaryCodesOf(data, did, dvec), Nil)

  /** Incremental growth of a [[binarySave]]d index — the segment-append
    * model of [[ivfAppend]], simpler here because sign codes need no
    * centroid geometry: quantize ONLY `newData` (O(new rows) compute and
    * I/O — the corpus codes on disk are never read), write it as one new
    * segment, commit a generation whose manifest = previous segments +
    * the new one. No rebuild-vs-append quality tradeoff either: a sign
    * code is a pure per-row function, so append ≡ rebuild exactly (the
    * spec pins ranking equality). Same single-writer/duplicate-id
    * contract as ivfAppend. Returns the committed generation. */
  def binaryAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newData: DataFrame, did: Column, dvec: Column,
      covers: Option[Seq[String]] = None): Long =
    binaryAppend(SegmentStore.open(path), newData, did, dvec, covers)

  /** [[binaryAppend]] to the opened generation `g`. */
  private[graft] def binaryAppend(g: SegmentStore.Generation,
      newData: DataFrame, did: Column, dvec: Column,
      covers: Option[Seq[String]]): Long =
    SegmentStore.append(g.of(Family.Binary),
      Meta(Family.Binary), binaryCodesOf(newData, did, dvec), covers)

  private def binaryCodesOf(data: DataFrame, did: Column,
      dvec: Column): DataFrame =
    binarySignQuantize(buildRows(data, did, dvec), col("v"), "bcodes")
      .select(col("id").as("neighbor_id"), col("bcodes"))

  /** The committed generation's code table — the rows of every code
    * family (binary, PQ, IVF-PQ), manifest segments unioned. */
  private[graft] def binaryLoadParts(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    SegmentStore.open(path).rows(spark)

  /** Query a [[binarySave]]d index: Hamming rank over the persisted
    * codes (narrow pair rows, NULL-hamming dropped before the ascending
    * window — the [[binaryTopK]] discipline); `rescoreAgainst` supplies
    * the float corpus for the exact refine and is REQUIRED when
    * `rescore > 0` (the [[pqLoadTopK]] fail-loudly contract). Answers
    * from the committed index generation, so queries keep serving
    * through a rebuild. `restrictTo` (an id-column DataFrame) semi-joins
    * the codes BEFORE ranking — the push-the-filter-into-the-index
    * contract: k survivors come from matching ids only, never a lossy
    * post-filter of unfiltered hits. */
  def binaryLoadTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      rescore: Int = 0,
      rescoreAgainst: Option[(DataFrame, Column, Column)] = None,
      excludeSelf: Boolean = true, dim: Int = 0,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    require(rescore <= 0 || rescoreAgainst.isDefined,
      s"binaryLoadTopK: rescore = $rescore needs rescoreAgainst — the index " +
        "persists codes only, the refine stage must be given the float corpus")
    binaryLoadTopK(spark, SegmentStore.open(path), queries, qid, qvec, k,
      rescore, rescoreAgainst, excludeSelf, restrictTo)
  }

  /** [[binaryLoadTopK]] over the opened generation `g`. */
  private[graft] def binaryLoadTopK(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation, queries: DataFrame, qid: Column,
      qvec: Column, k: Int, rescore: Int,
      rescoreAgainst: Option[(DataFrame, Column, Column)],
      excludeSelf: Boolean, restrictTo: Option[DataFrame]): DataFrame =
    binarySearch(g.of(Family.Binary).rows(spark),
      queries, qid, qvec, k, rescore, rescoreAgainst, excludeSelf, restrictTo)

  /** The binary search shared by [[binaryTopK]] and [[binaryLoadTopK]]:
    * Hamming rank of the packed query codes over `codes`
    * (neighbor_id, bcodes), refined by [[normCosine]] against the float
    * corpus `against` when `rescore > 0`. */
  private def binarySearch(codes: DataFrame, queries: DataFrame,
      qid: Column, qvec: Column, k: Int, rescore: Int,
      against: Option[(DataFrame, Column, Column)], excludeSelf: Boolean,
      restrictTo: Option[DataFrame]): DataFrame = {
    val qf = queryFloats(queries, qid, qvec)
    val q = fanoutRepartition(
      binarySignQuantize(qf, col("qv"), "qb").drop("qv"), col("query_id"))
    val scored = hammingOf(
      q.join(restricted(codes, restrictTo), pairCond(excludeSelf)), "qb", "bcodes")
    against match {
      case Some((data, did, dvec)) if rescore > 0 =>
        refine(scored, "hamming", ascending = true, rescore, k,
          qf.withColumn("qn2", norm2(col("qv"))),
          corpusFloats(data, did, dvec).withColumn("dn2", norm2(col("dv"))),
          normCosine)
      case _ => rankTopK(scored, "hamming", k, ascending = true)
    }
  }

  /** IVF-binary retrieval — the last cell of the quantization matrix
    * (flat/IVF × float/SQ8/PQ/binary): coarse centroid prune to
    * `nprobe` lists, in-list candidates ranked by Hamming distance over
    * 1-bit sign codes ([[binarySignQuantize]] — 64× smaller candidate
    * payload than the float lists, exact-integer ranking), and with
    * `rescore > 0` an exact float cosine refine of the top
    * max(rescore, k) — the same compose-the-prune-with-the-memory-win
    * shape as [[ivfQuantizedRetrieve]]/[[ivfPqRetrieve]]. Emits
    * (query_id, rank, neighbor_id, hamming) without rescore,
    * (query_id, rank, neighbor_id, cosine) with. */
  def ivfBinaryRetrieve(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      nlist: Int, nprobe: Int, k: Int, rescore: Int = 0,
      excludeSelf: Boolean = false, dim: Int = 0): DataFrame = {
    val (cents, assigned) = ivfBuild(data, did, dvec, nlist)
    val qf = queryFloats(queries, qid, qvec).withColumn("qn2", norm2(col("qv")))
    val probes = probeLists(
      qf.withColumn("qb", graft.plans.VecExprs.signPack(col("qv"))), cents, nprobe, "qb")
    // candidate pair rows carry ONLY the packed codes' hamming — the
    // 64×-smaller payload claim must hold through the rank window's
    // exchange and sort, exactly like binaryTopK
    val cand = hammingOf(probes
      .join(assigned.withColumn("db", graft.plans.VecExprs.signPack(col("dv"))), Seq("cid"))
      .filter(pairCond(excludeSelf)), "qb", "db")
    if (rescore <= 0) rankTopK(cand, "hamming", k, ascending = true)
    else refine(cand, "hamming", ascending = true, rescore, k, qf,
      assigned.select(col("neighbor_id"), col("dv"), col("dn2")), normCosine)
  }

  // -------------------------------------------------------------------
  // PQ: product quantization (the FAISS memory end-game — beyond IVF-SQ's
  // 8× the corpus representation shrinks to m BYTES per vector plus one
  // shared broadcast codebook: dim=64 doubles = 512 bytes → m=8 codes =
  // 64×). Deterministic twin of FAISS's k-means codebooks: per-subspace
  // codewords are an md5-uniform sample of the corpus's own subvectors
  // (the same replayable-sampling trick as the IVF coarse quantizer), so
  // the DuckDB oracle regenerates codebooks, codes, and rankings
  // bit-identically.

  /** L2-normalized build rows (id, v) — the corpus side of every PQ
    * family. */
  private def unitRows(data: DataFrame, did: Column, dvec: Column): DataFrame =
    l2normalize(buildRows(data, did, dvec), "v")

  /** Build PQ structures over L2-normalized vectors.
    *
    *  - `m` subspaces of `dim/m` dimensions each (dim must divide);
    *  - per subspace, `ksub` codewords (see [[pqCodebook]]);
    *  - encode: each row's subvector s maps to its L2-nearest codeword,
    *    argmin (|c|² − 2·x_s·c) with ties to the smallest j — exact
    *    double arithmetic, no float-summation ambiguity in the ranking
    *    because every engine computes the identical in-order dots.
    *
    * Returns (codebook: (s, j, cw, cwn2) — m·ksub rows, broadcast-sized
    * by construction; codes: (neighbor_id, codes array<int>) — the m
    * codes, THE persisted corpus representation). */
  private[graft] def pqBuild(data: DataFrame, did: Column, dvec: Column,
      m: Int, ksub: Int, dim: Int): (DataFrame, DataFrame) = {
    require(dim > 0 && dim % m == 0, s"pq: m ($m) must divide dim ($dim)")
    val d = graft.core.Caches.eager(unitRows(data, did, dvec))
    val cb = pqCodebook(d, m, ksub, dim / m)
    (cb, d.select(col("id").as("neighbor_id"), pqEncodeBy(cb).as("codes")))
  }

  /** The codebook (s, j, cw, cwn2): per subspace s, subvector s of the
    * `ksub` rows of `d` with smallest md5(id), codeword index
    * j = 1..ksub in that md5 order (production PQ fixes ksub = 256 — one
    * byte per code; m grows with DIM, not corpus size, so codes stay m
    * bytes however large the corpus). */
  private def pqCodebook(d: DataFrame, m: Int, ksub: Int, dsub: Int): DataFrame = {
    // single-partition window over ksub rows only. isNotNull: a NULL
    // embedding in the sample would NPE the driver-side cbArrays collect
    // (NULL corpus rows themselves encode to NULL codes)
    val samp = d.filter(col("v").isNotNull)
      .orderBy(md5(col("id").cast("string"))).limit(ksub)
      .withColumn("j", row_number().over(
        Window.orderBy(md5(col("id").cast("string")))))
    graft.core.Caches.eager(
      samp.select(col("j"), posexplode(transform(
          sequence(lit(0), lit(m - 1)),
          s => slice(col("v"), s * lit(dsub) + lit(1), lit(dsub))))
        .as(Seq("s", "cw")))
        .withColumn("cwn2", norm2(col("cw"))))
  }

  /** Collect a (s, j, cw, cwn2) codebook table driver-side into the flat
    * row-major arrays the PQ expressions ride ([[graft.plans.PqEncodeExpr]]
    * layout: `cb[((s·ksub)+(j−1))·dsub + i]`). Derives (m, ksub, dsub)
    * from the grid and validates it is exactly [0, m) × [1, ksub] —
    * row_number guarantees contiguous j, and a gap would silently
    * mis-index the flat layout. Codebooks are dim·ksub doubles (~1.5 MB
    * at dim 768 / ksub 256), always driver-sized. */
  private def cbArrays(cb: DataFrame)
      : (Array[Double], Array[Double], Int, Int, Int) = {
    val rows = cb.select(col("s").cast("int"), col("j").cast("int"),
        col("cw"), col("cwn2"))
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    require(rows.nonEmpty, "pq: empty codebook")
    val m = rows.last.getInt(0) + 1
    require(rows.length % m == 0, s"pq: ragged codebook (${rows.length} rows, m=$m)")
    val ksub = rows.length / m
    val dsub = rows.head.getSeq[Double](2).length
    val flat = new Array[Double](m * ksub * dsub)
    val n2 = new Array[Double](m * ksub)
    var i = 0
    rows.foreach { r =>
      require(r.getInt(0) == i / ksub && r.getInt(1) == i % ksub + 1,
        s"pq: codebook grid has gaps at row $i")
      val cw = r.getSeq[Double](2)
      require(cw.length == dsub, "pq: codeword dims disagree")
      var t = 0
      while (t < dsub) { flat(i * dsub + t) = cw(t); t += 1 }
      n2(i) = r.getDouble(3)
      i += 1
    }
    (flat, n2, m, ksub, dsub)
  }

  /** `v` → its PQ codes against codebook `cb`: one native argmin pass
    * per row ([[graft.plans.PqEncodeExpr]] — the m·ksub·dsub flops per
    * row are the one-time build cost FAISS pays too, but as a pure scan:
    * the subspace-explode + broadcast-join formulation materialized
    * |corpus|·m·ksub pair rows through a sort-based argmin). */
  private def pqEncodeBy(cb: DataFrame): Column = {
    val (flat, n2, m, ksub, dsub) = cbArrays(cb)
    graft.plans.VecExprs.pqEncode(col("v"), flat, n2, m, ksub, dsub)
  }

  /** `codes` → the reconstructed vector: one native
    * memcpy-per-subspace pass ([[graft.plans.PqDecodeExpr]]). */
  private def pqDecodeBy(cb: DataFrame): Column = {
    val (flat, _, m, ksub, dsub) = cbArrays(cb)
    graft.plans.VecExprs.pqDecode(col("codes"), flat, m, ksub, dsub)
  }

  /** PQ top-k by asymmetric distance: rank every corpus row against each
    * query by dot(query, decode(codes)) — the codes-only corpus is what
    * persists/shuffles (m bytes/vector); decoding concatenates codewords
    * in subspace order, so the score is ONE in-order dot against the
    * reconstructed vector — the same fold every engine computes
    * bit-identically (a per-subspace LUT sum would regroup the additions
    * and lose oracle replayability; decode touches the same m·dsub
    * multiplies). With `rescore > 0`, the top max(rescore, k) PQ-ranked
    * candidates are re-scored by exact float cosine against the original
    * vectors (the FAISS refine stage) and that ranking is emitted
    * (`cosine`); otherwise the PQ score (`score`). `dim` is REQUIRED
    * (> 0, divisible by m) — unlike the generic-loop dim=0 convention
    * elsewhere in this object, PQ's subspace slicing cannot size itself
    * from the data. `excludeSelf` (default true) drops corpus rows whose
    * id equals the query id — the self-ANN convention; pass false for
    * disjoint query/corpus id spaces where a match on the same id is a
    * real neighbor. The [[pqBuild]] structures [[pqSave]] would persist,
    * searched exactly as [[pqLoadTopK]] searches them.
    * Returns (query_id, rank, neighbor_id, score|cosine). */
  def pqTopK(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      m: Int, ksub: Int, k: Int, rescore: Int = 0, dim: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val (cb, codes) = pqBuild(data, did, dvec, m, ksub, dim)
    pqSearch(cb, codes, queries, qid, qvec, k, rescore,
      Some((data, did, dvec)), excludeSelf, None)
  }

  /** The PQ search shared by [[pqTopK]] and [[pqLoadTopK]]: decoded-dot
    * rank of the normalized queries over `codes` (neighbor_id, codes),
    * refined by [[unitDot]] against the float corpus `against` when
    * `rescore > 0`. */
  private def pqSearch(cb: DataFrame, codes: DataFrame, queries: DataFrame,
      qid: Column, qvec: Column, k: Int, rescore: Int,
      against: Option[(DataFrame, Column, Column)], excludeSelf: Boolean,
      restrictTo: Option[DataFrame]): DataFrame = {
    // decode once per CORPUS row, not per pair
    val rv = restricted(codes, restrictTo)
      .select(col("neighbor_id"), pqDecodeBy(cb).as("rv"))
    val qf = l2normalize(queryFloats(queries, qid, qvec), "qv")
    val scored = fanoutRepartition(qf, col("query_id")).join(rv, pairCond(excludeSelf))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("rv")).as("score"))
    against match {
      case Some((data, did, dvec)) if rescore > 0 =>
        refine(scored, "score", ascending = false, rescore, k, qf,
          l2normalize(corpusFloats(data, did, dvec), "dv"), unitDot)
      case _ => rankTopK(scored, "score", k)
    }
  }

  /** The IVF-PQ structures shared by [[ivfPqRetrieve]] and
    * [[ivfPqSave]] — ONE copy of the recipe, because the persisted and
    * ad-hoc paths are spec-pinned to answer identically: normalized
    * corpus `d` (id, v, n2; eager — referenced by the centroid sample,
    * the assignment, the codebook sample, and the encode), md5-sample
    * coarse `cents`, the md5-sample `cb` codebook (s, j, cw, cwn2), and
    * the cid-clustered `lists` (neighbor_id, cid, codes). */
  private def ivfPqBuild(data: DataFrame, did: Column, dvec: Column,
      nlist: Int, m: Int, ksub: Int, dim: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(dim > 0 && dim % m == 0, s"pq: m ($m) must divide dim ($dim)")
    val d = graft.core.Caches.eager(
      unitRows(data, did, dvec).withColumn("n2", norm2(col("v"))))
    val cents = sampleCents(d, nlist)
    val cb = pqCodebook(d, m, ksub, dim / m)
    (d, cents, cb, ivfPqLists(d, cents, cb))
  }

  /** Rows of `d` (id, v, n2) as IVF-PQ list rows (neighbor_id, cid,
    * codes): coarse assignment and PQ encode in one pass per row. */
  private def ivfPqLists(d: DataFrame, cents: DataFrame, cb: DataFrame): DataFrame =
    assignToCents(d.withColumn("codes", pqEncodeBy(cb)), cents, keep = Seq("codes"))
      .select(col("neighbor_id"), col("cid"), col("codes"))

  /** IVF-PQ retrieval — the full FAISS serving composition: a coarse
    * quantizer of `nlist` md5-sample centroids prunes each query to its
    * `nprobe` nearest inverted lists, PQ codes (m bytes/vector) rank the
    * candidates inside them by decoded-vector dot, and the float refine
    * stage re-scores only the top max(rescore, k) shortlist. Candidate
    * volume is |q|·nprobe·(n/nlist) like IVF-flat, but the in-flight
    * candidate payload is codes, not vectors — the coarse prune and the
    * PQ memory win COMPOSE. Deterministic end to end for the same
    * reasons as [[ivfTopK]] + [[pqTopK]]; the lists [[ivfPqSave]] would
    * persist, searched exactly as [[ivfPqLoadTopK]] searches them.
    * Returns (query_id, rank, neighbor_id, cosine) — `rescore` must be
    * > 0 (the refine stage is the precision contract of this layout). */
  def ivfPqRetrieve(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column,
      nlist: Int, nprobe: Int, m: Int, ksub: Int, k: Int, rescore: Int,
      excludeSelf: Boolean = false, dim: Int = 0): DataFrame = {
    require(rescore > 0, "ivfPqRetrieve: rescore must be > 0")
    val (d, cents, cb, lists) = ivfPqBuild(data, did, dvec, nlist, m, ksub, dim)
    ivfPqSearch(cents, cb, lists, queries, qid, qvec, nprobe, k, rescore,
      d.select(col("id").as("neighbor_id"), col("v").as("dv")), excludeSelf, None)
  }

  /** The IVF-PQ search shared by [[ivfPqRetrieve]] and [[ivfPqLoadTopK]]:
    * probe by coarse centroid cosine, rank in-list candidates by
    * decoded-vector dot, refine by [[unitDot]] against the normalized
    * float corpus `floats` (neighbor_id, dv). */
  private def ivfPqSearch(cents: DataFrame, cb: DataFrame, lists: DataFrame,
      queries: DataFrame, qid: Column, qvec: Column, nprobe: Int, k: Int,
      rescore: Int, floats: DataFrame, excludeSelf: Boolean,
      restrictTo: Option[DataFrame]): DataFrame = {
    val rv = restricted(lists, restrictTo)
      .select(col("neighbor_id"), col("cid"), pqDecodeBy(cb).as("rv"))
    val qf = l2normalize(queryFloats(queries, qid, qvec), "qv")
    val probes = probeLists(qf.withColumn("qn2", norm2(col("qv"))), cents, nprobe, "qv")
    val cand = probes.join(rv, Seq("cid")).filter(pairCond(excludeSelf))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("rv")).as("score"))
    refine(cand, "score", ascending = false, rescore, k, qf, floats, unitDot)
  }

  /** Persist an IVF-PQ index — the full FAISS serving layout at rest:
    * `centroids/` (the coarse quantizer — broadcast at query time),
    * `codebook/` (m·ksub rows — broadcast), and cid-partitioned list
    * segments of (neighbor_id, cid, codes) — m small ints per corpus
    * vector, so the at-rest index is the PQ footprint AND probes prune
    * whole list partitions at the scan. Floats are NOT persisted; the
    * refine stage reads `rescoreAgainst` shortlist rows at query time
    * (the [[pqSave]]/[[binarySave]] contract). Same deterministic
    * recipes as [[ivfPqRetrieve]], so save→load answers identically to
    * the ad-hoc composition. Atomically versioned
    * ([[graft.core.SegmentStore]]). */
  def ivfPqSave(data: DataFrame, did: Column, dvec: Column, path: String,
      nlist: Int, m: Int, ksub: Int, dim: Int,
      covers: Option[Seq[String]] = None): Unit = {
    val (meta, rows, sides) = ivfPqIndex(data, did, dvec, nlist, m, ksub, dim)
    SegmentStore.save(path, meta, rows, sides, covers)
    ()
  }

  /** What [[ivfPqSave]] writes: the record, the code lists and the
    * centroid and codebook side tables. */
  private[graft] def ivfPqIndex(data: DataFrame, did: Column, dvec: Column,
      nlist: Int, m: Int, ksub: Int,
      dim: Int): (Meta, DataFrame, Seq[(String, DataFrame)]) = {
    val (_, cents, cb, lists) = ivfPqBuild(data, did, dvec, nlist, m, ksub, dim)
    (Meta(Family.IvfPq), lists, Seq("centroids" -> cents, "codebook" -> cb))
  }

  /** Incremental growth of an [[ivfPqSave]]d index: assign ONLY
    * `newData` to the FROZEN coarse centroids and encode it against the
    * FROZEN codebook (both broadcast-shipped inside native expressions),
    * committing a generation whose manifest adds one cid-partitioned
    * segment — O(new rows), the corpus lists are never read. Both
    * geometries freeze by append (centroid balance drifts like
    * [[ivfAppend]], quantization error like [[pqAppend]]); periodic
    * [[ivfPqSave]] rebuilds re-derive both. Returns the generation. */
  def ivfPqAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newData: DataFrame, did: Column, dvec: Column,
      covers: Option[Seq[String]] = None): Long =
    ivfPqAppend(spark, SegmentStore.open(path), newData, did, dvec, covers)

  /** [[ivfPqAppend]] to the opened generation `g0`. */
  private[graft] def ivfPqAppend(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation, newData: DataFrame, did: Column,
      dvec: Column, covers: Option[Seq[String]]): Long = {
    val g = g0.of(Family.IvfPq)
    val d = graft.core.Caches.eager(
      unitRows(newData, did, dvec).withColumn("n2", norm2(col("v"))))
    SegmentStore.append(g, Meta(Family.IvfPq),
      ivfPqLists(d, g.side(spark, "centroids"), g.side(spark, "codebook")),
      covers)
  }

  /** Query an [[ivfPqSave]]d index: probe `nprobe` lists by coarse
    * centroid cosine, rank in-list candidates by decoded-vector dot
    * over the persisted codes, float-refine the top max(rescore, k)
    * against `rescoreAgainst` — REQUIRED (rescore > 0 is the precision
    * contract of this layout, as in [[ivfPqRetrieve]]; the index itself
    * holds no floats). `restrictTo` semi-joins the lists pre-rank.
    * Serves the committed generation (one open for all three parts, so
    * a concurrent re-save can't mix commits). Returns
    * (query_id, rank, neighbor_id, cosine). */
  def ivfPqLoadTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column,
      nprobe: Int, k: Int, rescore: Int,
      rescoreAgainst: (DataFrame, Column, Column),
      excludeSelf: Boolean = false,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    require(rescore > 0, "ivfPqLoadTopK: rescore must be > 0")
    ivfPqLoadTopK(spark, SegmentStore.open(path), queries, qid, qvec, nprobe,
      k, rescore, rescoreAgainst, excludeSelf, restrictTo)
  }

  /** [[ivfPqLoadTopK]] over the opened generation `g0`. */
  private[graft] def ivfPqLoadTopK(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation, queries: DataFrame, qid: Column,
      qvec: Column, nprobe: Int, k: Int, rescore: Int,
      rescoreAgainst: (DataFrame, Column, Column), excludeSelf: Boolean,
      restrictTo: Option[DataFrame]): DataFrame = {
    val g = g0.of(Family.IvfPq)
    val cents = g.side(spark, "centroids")
    val lists = g.rows(spark)
      .withColumn("cid", col("cid").cast(cents.schema("cid").dataType))
    val (rdata, rdid, rdvec) = rescoreAgainst
    ivfPqSearch(cents, g.side(spark, "codebook"), lists, queries, qid, qvec,
      nprobe, k, rescore, l2normalize(corpusFloats(rdata, rdid, rdvec), "dv"),
      excludeSelf, restrictTo)
  }

  /** Persist a PQ index: `codebook/` (m·ksub rows — broadcast at query
    * time) and `codes/` (m bytes per corpus vector, THE at-rest corpus
    * representation: a 100 TB float corpus persists as ~1.5 TB of
    * codes). Same build-once/query-many split — and the same atomic
    * generation publish ([[graft.core.SegmentStore]]) — as [[ivfSave]]. The
    * original float vectors are NOT persisted — rescore against them by
    * passing the source table to [[pqLoadTopK]] (rescans only the
    * shortlist rows' vectors). */
  def pqSave(data: DataFrame, did: Column, dvec: Column, path: String,
      m: Int, ksub: Int, dim: Int, covers: Option[Seq[String]] = None): Unit = {
    val (meta, rows, sides) = pqIndex(data, did, dvec, m, ksub, dim)
    SegmentStore.save(path, meta, rows, sides, covers)
    ()
  }

  /** What [[pqSave]] writes: the record, the codes and the codebook
    * side table. */
  private[graft] def pqIndex(data: DataFrame, did: Column, dvec: Column,
      m: Int, ksub: Int, dim: Int): (Meta, DataFrame, Seq[(String, DataFrame)]) = {
    val (cb, codes) = pqBuild(data, did, dvec, m, ksub, dim)
    (Meta(Family.Pq), codes, Seq("codebook" -> cb))
  }

  /** Incremental growth of a [[pqSave]]d index — encode ONLY `newData`
    * against the EXISTING (frozen) codebook and commit a generation
    * whose manifest adds one codes segment: O(new rows) compute and
    * I/O, the on-disk corpus codes are never read. The codebook is
    * FROZEN by append (the FAISS add-to-trained-index contract):
    * retrieval stays exact w.r.t. "this codebook over all rows", but
    * quantization error drifts as the corpus moves away from the
    * distribution the codewords were sampled from — run a full
    * [[pqSave]] rebuild periodically, the same append-vs-compact split
    * as [[ivfAppend]]/[[binaryAppend]]. Returns the committed
    * generation. */
  def pqAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newData: DataFrame, did: Column, dvec: Column,
      covers: Option[Seq[String]] = None): Long =
    pqAppend(spark, SegmentStore.open(path), newData, did, dvec, covers)

  /** [[pqAppend]] to the opened generation `g0`. */
  private[graft] def pqAppend(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation, newData: DataFrame, did: Column,
      dvec: Column, covers: Option[Seq[String]]): Long = {
    val g = g0.of(Family.Pq)
    val codes = unitRows(newData, did, dvec).select(col("id").as("neighbor_id"),
      pqEncodeBy(g.side(spark, "codebook")).as("codes"))
    SegmentStore.append(g, Meta(Family.Pq), codes, covers)
  }

  /** Query a [[pqSave]]d index. `rescoreAgainst` supplies the float
    * corpus (did, dvec) for the exact refine stage and is REQUIRED when
    * `rescore > 0` (a refine request without a float corpus would
    * silently fall through to PQ-score ranking with a different output
    * column — fail loudly instead); with `rescore <= 0` only codes +
    * codebook are read. `excludeSelf` as in [[pqTopK]]. `restrictTo`
    * (an id-column DataFrame) semi-joins the codes BEFORE ranking —
    * filter pushed into the index, as in [[binaryLoadTopK]]. */
  def pqLoadTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      rescore: Int = 0,
      rescoreAgainst: Option[(DataFrame, Column, Column)] = None,
      excludeSelf: Boolean = true,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    require(rescore <= 0 || rescoreAgainst.isDefined,
      s"pqLoadTopK: rescore = $rescore needs rescoreAgainst — the index " +
        "persists codes only, the refine stage must be given the float corpus")
    pqLoadTopK(spark, SegmentStore.open(path), queries, qid, qvec, k,
      rescore, rescoreAgainst, excludeSelf, restrictTo)
  }

  /** [[pqLoadTopK]] over the opened generation `g0`. */
  private[graft] def pqLoadTopK(spark: org.apache.spark.sql.SparkSession,
      g0: SegmentStore.Generation, queries: DataFrame, qid: Column,
      qvec: Column, k: Int, rescore: Int,
      rescoreAgainst: Option[(DataFrame, Column, Column)],
      excludeSelf: Boolean, restrictTo: Option[DataFrame]): DataFrame = {
    val g = g0.of(Family.Pq)
    pqSearch(g.side(spark, "codebook"), g.rows(spark), queries, qid, qvec, k,
      rescore, rescoreAgainst, excludeSelf, restrictTo)
  }

  /** Plane count that keeps EXPECTED bucket occupancy near
    * `targetBucketSize`: buckets = 2^planes, so
    * planes = ceil(log2(corpus / target)). Per-bucket candidate work is
    * quadratic in occupancy, so `planes` must GROW with the corpus —
    * log2(100×) ≈ +6.6 planes at a 100× scale-up; a constant plane
    * count turns each bucket into the skew unit. Pass the result to
    * [[lshTopK]] / [[rhpBucket]] instead of hardcoding. */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 256): Int =
    // the -1e-9 nudge pins the exact-power-of-two boundary (n/target =
    // 2^k): ceil over a libm log that lands epsilon ABOVE the integer
    // would disagree with the DuckDB oracle's replay of this formula —
    // both engines' log errors are < 1 ulp, so both land on the same
    // side of the nudged value
    math.max(1, math.ceil(math.log(corpusSize.toDouble /
      math.max(1L, targetBucketSize)) / math.log(2) - 1e-9).toInt)

  /** IVF list count for a corpus: the power of two nearest √n (the
    * FAISS sizing convention). Like [[planesFor]], the index geometry
    * must GROW with the corpus: a frozen nlist makes per-list occupancy
    * — and so candidate work per query — linear in corpus size, i.e.
    * total self-ANN work QUADRATIC (measured 25× wall at a 10× scale-up
    * with nlist=16; ~√10× with the derived count). Centroid-assignment
    * work is |data|·nlist ≈ n^1.5, still far under the n²/nlist
    * candidate volume it buys down. */
  def nlistFor(corpusSize: Long): Int =
    math.max(1, 1 << math.round(
      math.log(math.sqrt(math.max(1L, corpusSize).toDouble)) /
        math.log(2)).toInt)

  /** ANN top-k: candidates restricted to the query's LSH bucket, exact
    * cosine rank within the bucket. Recall < 1 by construction (scale
    * path; raise `planes` ↔ smaller buckets, or probe neighbors for
    * higher recall). Size `planes` with [[planesFor]] — it must scale
    * with the corpus, not stay constant. */
  def lshTopK(df: DataFrame, id: Column, vec: Column,
      dim: Int, planes: Int, k: Int): DataFrame = {
    val b0 = graft.core.Caches.eager(buildRows(df, id, vec)
      .withColumn("bucket", rhpBucket(col("v"), dim, planes))
      .withColumn("n2", norm2(col("v"))))
    // pin the per-bucket pairwise expansion's parallelism (see
    // fanoutRepartition); both self-join sides share the one exchange
    val b = fanoutRepartition(b0, col("bucket"))
    val scored = b.as("q").join(b.as("d"),
        col("q.bucket") === col("d.bucket") && col("q.id") =!= col("d.id"))
      .select(col("q.id").as("query_id"), col("d.id").as("neighbor_id"),
        cosinePrenorm(col("q.v"), col("d.v"), col("q.n2"), col("d.n2")).as("cosine"))
    rankTopK(scored, "cosine", k)
  }
}
