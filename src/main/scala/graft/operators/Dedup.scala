package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Caches, SegmentStore, Small}
import graft.core.SegmentStore.{Family, Meta}

/** Deduplication suite for large-scale training-data pipelines.
  *
  * The reference ships the building blocks (LSH `stdlib/ml/classifiers/
  * _lsh.py`, `_knn_lsh.py`, fuzzy join `stdlib/ml/smart_table_ops/
  * _fuzzy_join.py`); here they are composed into the standard corpus-dedup
  * pipelines, Spark-first:
  *
  *  - every hash is a built-in codegen'd expression (md5/xxhash64) — no
  *    UDFs, so whole-stage codegen holds end-to-end;
  *  - candidate generation is always an EQUI-join (on a hash/bucket/
  *    shingle), never a cross join: Catalyst plans shuffled hash joins
  *    that scale horizontally with partitions;
  *  - verification (exact Jaccard / cosine) runs only on the candidate
  *    set, which LSH keeps near-linear in corpus size.
  *
  * All functions are deterministic, so results are reproducible across
  * runs and clusters — a hard requirement for dedup at 100 TB (re-running
  * must not re-shuffle which twin of a pair survives).
  */
object Dedup {

  /** Distinct word n-gram shingles: (id, s) plus any `carry` columns
    * (pre-aliased by the caller). Short docs (< n words) get no shingles.
    *
    * Two scale decisions live here:
    *  - distinctness is per-document, so it is enforced with
    *    `array_distinct` on the per-doc shingle array BEFORE exploding —
    *    a global `.distinct()` would shuffle the exploded table (~50×
    *    the document bytes) for pairs that are already unique per row;
    *  - shingling is the CPU-dominant step of every dedup pipeline, so
    *    if the input arrives in fewer partitions than the session's
    *    shuffle parallelism (e.g. one small parquet file) it is
    *    repartitioned BEFORE the explode, while rows are still cheap to
    *    move. On a real corpus (thousands of input splits) this is a
    *    no-op.
    *
    * The words array is materialized into its own projection before the
    * shingle lambda: inlining `split` into `transform` would re-evaluate
    * it for every `element_at` (O(len²) splits per document — measured
    * 6× slower end-to-end at sf0.1). */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int = 3,
      carry: Seq[Column] = Nil): DataFrame = {
    // one ShinglesExpr eval per row (split once, build once) — the
    // element_at formulation re-split the text n+1 times per shingle
    // (Catalyst inlines producers into lambda references)
    graft.core.Par.spread(df)
      .select((id.as("id") +:
        explode(graft.plans.TextExprs.shingles(text, n, distinct = true))
          .as("s") +: carry): _*)
  }

  /** Stop-shingle filter: drop shingles whose document frequency within
    * `grp` exceeds `maxDf`. A shingle present in k documents emits O(k²)
    * candidate/verification join rows, so hot boilerplate shingles ("the
    * quick brown"-class) make shingle joins quadratic in corpus size; a
    * small DF cap bounds per-shingle work at maxDf² while near-duplicate
    * signal (rare, distinctive shingles) is untouched. One shuffle on
    * `grp` — the same key the downstream join shuffles on. */
  def capShingleDf(sh: DataFrame, grp: Seq[String], maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else {
      // Anti-join against the (small) hot-shingle list instead of a
      // count-over-window: the window form shuffles AND sorts the whole
      // shingle table, while the hot list after `> maxDf` is boilerplate
      // only — AQE plans the anti-join as a broadcast, so the big branch
      // is never re-shuffled.
      val hot = sh.groupBy(grp.map(col): _*).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).drop("_df")
      sh.join(hot, grp, "left_anti")
    }

  /** Exact dedup: keep the lowest id per normalized key; emits
    * (keep_id, n_dups). One hash-shuffle, map-side combined. */
  def exact(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(md5(key).as("k"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop("k")

  /** MinHash signature columns h0..h{k-1} per id: hᵢ = min over shingles
    * of md5(i‖"|"‖shingle). String md5 keeps the hash identical across
    * engines and platforms.
    *
    * The min runs as [[graft.plans.AggExprs.minHex32]], not built-in
    * `min`: Spark's Min over StringType has a var-width agg buffer, so
    * every signature build planned a SortAggregate that sorted the
    * exploded corpus shingle table (k columns × both partial/final —
    * 12 SortAggregate nodes in the q_dedup_minhash plan before this).
    * minHex32 holds the digest as two biased longs — fixed-width buffer
    * ⇒ HashAggregate + whole-stage codegen — and reconstructs
    * bit-identical hex per group, so signatures (and every oracle
    * downstream) are unchanged. */
  def minhash(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy("id").agg(
      graft.plans.AggExprs.minHex32(md5(concat(lit("0|"), col("s")))).as("h0"),
      (1 until k).map(i =>
        graft.plans.AggExprs.minHex32(
          md5(concat(lit(s"$i|"), col("s")))).as(s"h$i")): _*)

  // ------------------------------------------------------------------
  // Incremental dedup: a persisted MinHash signature index
  // ------------------------------------------------------------------
  //
  // Batch dedup (minhashLshPairs & co) re-shingles the WHOLE corpus per
  // run — right for a one-shot corpus build, wrong for the production
  // refresh loop, where each day's ingest must dedup against ALL
  // history: at 100 TB re-shingling history per batch is the cost that
  // kills the pipeline. The signature index is the dedup twin of the
  // ANN segment stores (Similarity.ivfAppend): history is represented
  // at rest by its k-column MinHash signature table (one row per doc —
  // ~64 bytes/doc at k=6 vs ~50× the text bytes for shingles), grown by
  // O(new docs) segment appends, probed by band-key equi-join. Neither
  // the historical text nor its shingles are ever re-read.

  /** The in-row signature builder the index paths share: ONE native
    * [[graft.plans.TextExprs.minhashSig]] evaluation per document — no
    * shingle explode, no k-way min(STRING) aggregation (var-width agg
    * buffers force a SortAggregate over the exploded shingle table: the
    * plan audit that motivated the expression), bit-identical hex
    * output. Documents shorter than n words have no signature (the
    * aggregation form's absent-row state).
    *
    * The `explode(array(...))` wrapper is a DELIBERATE once-per-row
    * barrier, not a fan-out (the array has exactly one element): the
    * h-column projection extracts the array k times, and CollapseProject
    * inlines a producer into pure EXTRACTOR references (getItem/
    * getField) regardless of their count — without the barrier the
    * whole k·shingles md5 kernel re-ran PER COLUMN (k× the work; the
    * PlanSpec guard caught it). Generate inputs evaluate once — the
    * same rule the HOF-inlining lesson (CLAUDE.md) documents. */
  private def minhashInRow(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int): DataFrame =
    graft.core.Par.spread(df)
      .select(id.as("id"),
        explode(array(graft.plans.TextExprs.minhashSig(text, n, k)))
          .as("_mh"))
      .filter(col("_mh").isNotNull)
      .select(col("id") +:
        (0 until k).map(i => col("_mh").getItem(i).as(s"h$i")): _*)

  /** Persist a MinHash signature index over a corpus: the (id, h0..hk-1)
    * signature table as one segment of a [[SegmentStore]] generation (so
    * [[signatureAppend]] grows it O(new rows)), whose meta record holds
    * the (n, k, bands) geometry the signatures were computed with —
    * probes and appends read the geometry from the index, so a caller
    * cannot accidentally mix signature spaces. One O(corpus) in-row
    * signature pass ([[minhashInRow]] — shuffle-free), paid once. */
  def signatureSave(df: DataFrame, id: Column, text: Column, path: String,
      n: Int = 3, k: Int = 6, bands: Int = 3): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    SegmentStore.save(path, Meta(Family.Signature, Seq(n, k, bands)),
      minhashInRow(df, id, text, n, k))
    ()
  }

  /** The committed generation of the signature index at `path` and its
    * (n, k, bands). */
  private def openSig(path: String): (SegmentStore.Generation, Int, Int, Int) = {
    val g = SegmentStore.open(path).of(Family.Signature)
    val Seq(n, k, bands) = g.meta.geometry
    (g, n, k, bands)
  }

  /** Grow a [[signatureSave]]d index by the new documents only — one
    * shingle+minhash pass over `newDf` (geometry read from the index),
    * committed as a manifest segment append: O(new rows) compute and
    * I/O, history never re-read. A signature is a pure per-document
    * function, so append ≡ rebuild exactly (the binaryAppend contract;
    * the spec pins probe-result equality). Same single-writer /
    * caller-feeds-only-new-ids contract as every segment store.
    * Each append commits one manifest segment — run
    * [[signatureCompact]] periodically (daily / every N batches) to
    * fold them back into one, or probe cost grows with segment count.
    * Returns the committed generation. */
  def signatureAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newDf: DataFrame, id: Column, text: Column): Long = {
    val (g, n, k, _) = openSig(path)
    signatureAppendSigs(g, n, k, minhashInRow(newDf, id, text, n, k))
  }

  /** [[signatureAppend]] over an ALREADY-COMPUTED signature table
    * (id, h0..h{k-1}) — the seam that lets [[dedupRefresh]] append the
    * probe signatures it computed for the history join instead of
    * re-running the whole shingle+minhash kernel over the survivors
    * (a signature is a pure per-row function, so probe rows filtered to
    * the survivor ids ARE minhashInRow(survivors)).
    *
    * `g` is the generation the caller resolved and `(n, k)` the
    * geometry its signatures were computed at: the append grows THAT
    * generation's manifest (no second open, so probe and append see one
    * generation), and the store fails it loudly when `(n, k)` is not the
    * generation's geometry — signatures of another shingle width or
    * hash count would silently corrupt the signature space.
    *
    * `hasRows` is whether `sigs` has any row, when the caller already
    * knows it from rows its gate collected; None probes `sigs`.
    *
    * `fold` (a stream's compaction slot): the index comes out as one
    * segment — the rows are appended by [[SegmentStore.fold]], and with
    * no row to add a generation of several segments is compacted. */
  private[graft] def signatureAppendSigs(g: SegmentStore.Generation,
      n: Int, k: Int, sigs: DataFrame,
      hasRows: Option[Boolean] = None, fold: Boolean = false): Long = {
    val meta = Meta(Family.Signature, Seq(n, k, g.meta.geometry.last))
    require(sigs.columns.toSeq == ("id" +: (0 until k).map(i => s"h$i")),
      s"signatureAppendSigs: signature columns ${sigs.columns.mkString(",")} " +
        s"do not match the index geometry k=$k")
    // nothing to add (an all-dup or all-sub-n batch — dedupRefresh hits
    // this legitimately): keep the current generation. A zero-row
    // parquet write can land with no part files, and a later manifest
    // read of that segment would fail schema inference. A batch at
    // another geometry still goes to the append, whose record check
    // fails it.
    if (meta == g.meta && !hasRows.getOrElse(!sigs.isEmpty))
      if (fold) compactSegmented(sigs.sparkSession, g) else g.gen
    else appendOrFold(g, meta, sigs, fold)
  }

  private def appendOrFold(g: SegmentStore.Generation, meta: Meta,
      rows: DataFrame, fold: Boolean): Long =
    if (fold) SegmentStore.fold(g, meta, rows)
    else SegmentStore.append(g, meta, rows)

  /** Dedup NEW documents against the persisted history: band-key
    * equi-join of the new docs' banded signatures against the index's
    * (candidate volume bounded by real near-dup structure — no shingle
    * joins, no history scan beyond the one signature-table read), then a
    * signature-agreement Jaccard ESTIMATE over candidates only —
    * est = |{i : hᵢ(new) = hᵢ(old)}| / k, the standard MinHash estimator
    * (exact Jaccard would need history's shingles, which the index
    * deliberately does not store; at production k (≥ 64) the estimate's
    * granularity 1/k is below any useful threshold). Returns
    * (id, dup_of, est_jaccard) for every candidate pair with
    * est ≥ threshold; new docs are NOT deduped among themselves — run
    * [[minhashLshPairs]] on the batch first, that is the in-batch half
    * of the refresh loop. Serves the committed generation (one open),
    * so probes keep answering through a concurrent append. */
  def dedupAgainst(spark: org.apache.spark.sql.SparkSession, path: String,
      newDf: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5): DataFrame =
    dedupAgainstGated(spark, path, newDf, id, text, threshold, Small.MaxRows)

  /** [[dedupAgainst]] with an explicit gate size — 0 forces the band
    * join (the equivalence spec drives both sides through here). A probe
    * whose signature rows fit the gate, with non-null distinct ids, is
    * answered on the driver ([[bandPairsLocal]]: one history scan behind
    * per-band [[Small.in]] filters, one collect) and comes back as a
    * driver-local relation: no band join, no broadcast build. Its rule
    * is the band join's: a probe row skips only its match with its own
    * id, not matches with the other ids of the probe. */
  private[graft] def dedupAgainstGated(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, id: Column, text: Column,
      threshold: Double, maxRows: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val (g, n, k, bands) = openSig(path)
    val r = k / bands
    val probe = minhashInRow(newDf, id, text, n, k)
    Small.rows(probe.select(col("id") +: (0 until k).map(i => col(s"h$i")) ++:
          (0 until bands).map(bandKey(_, r)): _*), maxRows)
      .filter(rows => !rows.exists(_.isNullAt(0)) &&
        rows.map(x => idKey(x.get(0))).distinct.length == rows.length)
      .flatMap(bandPairsLocal(spark, g, k, bands, _, maxRows))
      .map { pairs =>
        spark.createDataFrame(java.util.Arrays.asList(pairs.collect {
            case (x, y, est) if est >= threshold =>
              org.apache.spark.sql.Row(x.get(0), y, est)
          }: _*), StructType(Seq(StructField("id", probe.schema("id").dataType),
            StructField("dup_of", g.rows(spark).schema("id").dataType),
            StructField("est_jaccard", DoubleType))))
      }
      .getOrElse(dedupAgainstSigs(spark, g, Caches.eager(probe), threshold))
  }

  /** [[dedupAgainst]] over an ALREADY-COMPUTED (and cached) probe
    * signature table (id, h0..h{k-1}) at the index's geometry — shared
    * by the public entry point and [[dedupRefresh]]'s fallback path,
    * whose probe also serves the survivor append (one signature pass per
    * refresh, not two). `g` is the committed generation the caller
    * resolved; [[dedupRefresh]] hands the same generation to
    * [[signatureAppendSigs]], so its probe and append see one
    * generation. */
  private def dedupAgainstSigs(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation, probe: DataFrame,
      threshold: Double): DataFrame = {
    val Seq(_, k, bands) = g.meta.geometry
    val r = k / bands
    val hist = g.rows(spark)
    val cand = bandRows(probe, bands, r).as("x")
      .join(bandRows(hist, bands, r).as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"), col("y.id").as("dup_of")).distinct()
    val matches = (0 until k)
      .map(i => when(col(s"h$i") === col(s"g$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(probe, "id")
      .join(hist.select(col("id").as("dup_of") +:
        (0 until k).map(i => col(s"h$i").as(s"g$i")): _*), "dup_of")
      .select(col("id"), col("dup_of"),
        (matches.cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** The COMPLETE production refresh loop over a persisted signature
    * index, as one call — the composition the incremental pieces exist
    * for. For a day's ingest `batch`:
    *
    *  1. in-batch near-dup canonicalization at the INDEX's (n, k, bands)
    *     geometry ([[canonicalize]] — exact Jaccard ≥ `threshold` on LSH
    *     candidates; the batch's text is in hand, so no estimate needed);
    *  2. history probe ([[dedupAgainst]]): canonical survivors whose
    *     signature agreement with ANY indexed doc reaches `estThreshold`
    *     are dropped (their content is already in the corpus);
    *  3. the remaining genuinely-new documents' signatures are appended
    *     ([[signatureAppend]] — O(survivors), history untouched; sub-n
    *     docs have no signature and are returned but not indexed, the
    *     aggregation form's absent-row rule).
    *
    * Returns the appended survivor rows (the batch's columns). Cost per
    * refresh: one batch-sized LSH pass + one signature-table scan + one
    * O(survivors) append — nothing proportional to history except the
    * single signature-table read, which is what keeps a 100 TB corpus
    * refreshable daily. Single-writer, like every segment store.
    *
    * Size gate ([[graft.core.Small]]): a day's canonical rows are a few
    * hundred, so when they (and then the history rows sharing one of
    * their band keys) fit the gate, the probe is answered on the driver
    * — the history scan filters on per-band `bk IN (batch keys)`, the
    * band-collision / est / own-id rules run on the collected rows, and
    * the drop list ships back as a value set ([[Small.notIn]]): no band
    * join, no broadcast build. Above the gate (a rebuild-sized batch)
    * the band join of [[dedupAgainst]] runs instead; both paths return
    * the same rows.
    *
    * Reuse invariant — each per-refresh frame is computed once and read
    * by every action that needs it:
    *  - `canon` (eager cache of the in-batch canonicalization): feeds
    *    the signature table and the survivor return;
    *  - the signature table: below the gate its rows, collected once,
    *    feed the history probe AND the survivor append (written from the
    *    driver); above it the cached probe feeds the join and the
    *    append — the kernel never runs twice over a text;
    *  - the index generation and its (n, k, bands): resolved once,
    *    shared by the probe and the append. */
  def dedupRefresh(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, estThreshold: Double = 0.5,
      maxDf: Int = 100): DataFrame =
    dedupRefreshGated(spark, path, batch, id, text, threshold, estThreshold,
      maxDf, graft.core.Small.MaxRows)

  /** [[dedupRefresh]] with explicit gate sizes: `maxRows` = 0 forces
    * the band-join history probe, `canonMaxRows` = 0 the distributed
    * in-batch canonicalization (the equivalence specs drive both sides
    * of each through here). */
  private[graft] def dedupRefreshGated(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, id: Column, text: Column, threshold: Double,
      estThreshold: Double, maxDf: Int, maxRows: Int,
      canonMaxRows: Int = graft.core.Small.MaxRows): DataFrame =
    dedupRefreshWith(spark, path, batch, id, text, threshold, estThreshold,
      maxDf, maxRows, canonMaxRows)._1

  /** [[dedupRefreshGated]], and whether any row survives: known from the
    * collected signature rows (one per canonical row) when the whole
    * refresh ran on the driver — then the frame is a filter over
    * `batch` — and None when the canonicalization or the history probe
    * did not. `fold`: the survivor append leaves the index as one
    * segment ([[signatureAppendSigs]]). */
  private[graft] def dedupRefreshWith(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, id: Column, text: Column, threshold: Double,
      estThreshold: Double, maxDf: Int = 100,
      maxRows: Int = graft.core.Small.MaxRows,
      canonMaxRows: Int = graft.core.Small.MaxRows,
      fold: Boolean = false)
      : (DataFrame, Option[Boolean]) = {
    val (g, n, k, bands) = openSig(path)
    val r = k / bands
    val hs = (0 until k).map(i => col(s"h$i"))
    // the canonical survivor set feeds the probe signatures AND the
    // survivor return. Eager when a distributed pass ran: uncached,
    // each would re-run the LSH+CC chain or the pick. The driver pass
    // leaves a filter over `batch`, cheaper to re-read than to cache.
    val (canonOut, local) = canonicalizeWith(batch, id, text, lit(0), n, k,
      bands, threshold, maxDf, canonMaxRows)
    val canon = if (local) canonOut.drop("_cluster")
      else Caches.eager(canonOut.drop("_cluster"))
    // ONE signature pass per refresh: every canonical row with its
    // signature (NULL below n words) and band keys. The same rows serve
    // the history probe AND the survivor append (a MinHash signature is
    // a pure per-row function at the index's own (n, k), so these rows
    // filtered to the survivor ids ARE minhashInRow(survivors)): below
    // the gate the collected rows are appended as they are, above it
    // the probe is cached for the join and the append.
    val sigs = canon.select(col("_id").as("id"),
          explode(array(graft.plans.TextExprs.minhashSig(text, n, k)))
            .as("_mh"))
        .select(col("id") +: (0 until k).map(i =>
          col("_mh").getItem(i).as(s"h$i")): _*)
        .select(col("id") +: hs ++:
          (0 until bands).map(b => bandKey(b, r).as(s"bk$b")): _*)
    val probe = sigs.filter(col("h0").isNotNull).select(col("id") +: hs: _*)
    // Replay safety: on a RETRIED batch (append committed, downstream
    // write lost) the index already holds this batch's own signatures,
    // and two in-batch survivors in the est ≥ estThreshold /
    // jaccard < threshold band would each match the OTHER's indexed
    // signature and BOTH drop — silently losing rows from the retried
    // output. History matches must therefore exclude the batch's own
    // ids, not just each row's self-id. A fresh batch's ids are never
    // in the index (the caller-feeds-only-new-ids contract shared by
    // every segment store), so off the replay path this removes nothing.
    Small.rows(sigs, maxRows).flatMap(rows =>
      bandPairsLocal(spark, g, k, bands, rows, maxRows).map { pairs =>
        val own = rows.map(x => idKey(x.get(0))).toSet
        rows -> pairs.collect {
          case (x, y, est) if !own(idKey(y)) && est >= estThreshold => x.get(0)
        }.toSet
      }) match {
      case Some((rows, dups)) =>
        // size gate passed: the probe was answered on the driver, and
        // the drop list ships back as a value set — no join, no
        // broadcast. The collected rows say whether any survivor has a
        // signature, so the append needs no emptiness probe.
        val appended = rows.toSeq.filter(x => !x.isNullAt(1) &&
          (x.isNullAt(0) || !dups(x.get(0))))
          .map(x => org.apache.spark.sql.Row.fromSeq(x.toSeq.take(1 + k)))
        signatureAppendSigs(g, n, k, spark.createDataFrame(
          java.util.Arrays.asList(appended: _*), probe.schema),
          Some(appended.nonEmpty), fold)
        (canon.filter(Small.notIn(col("_id"), dups))
          .select(batch.columns.map(col).toSeq: _*),
          Option.when(local)(rows.exists(x => x.isNullAt(0) || !dups(x.get(0)))))
      case None =>
        val probeC = Caches.eager(probe)
        val dupIds = dedupAgainstSigs(spark, g, probeC, estThreshold)
          .join(canon.select(col("_id").as("dup_of")), Seq("dup_of"),
            "left_anti")
          .select(col("id").as("_id")).distinct()
        val survivors = Caches.eager(canon.join(dupIds, Seq("_id"), "left_anti"))
        signatureAppendSigs(g, n, k,
          probeC.join(survivors.select(col("_id").as("id")), Seq("id"),
            "left_semi"), fold = fold)
        (survivors.select(batch.columns.map(col).toSeq: _*), None)
    }
  }

  /** The band join of [[dedupAgainstSigs]] answered on the driver, for
    * collected probe signature rows (`rows`: id, h0..h{k-1},
    * bk0..bk{bands-1}; a row with a NULL signature is never a
    * candidate) — the driver half of [[dedupRefresh]]'s history probe
    * and of [[dedupAgainst]]. One history scan keeps the rows sharing
    * any band key with the probe (per-band [[Small.in]] filters over the
    * same [[bandKey]] expression) and collects them. Returns every
    * (probe row, history id, signature-agreement estimate) pair whose
    * rows share a band key and whose ids differ (a NULL history id
    * differs from nothing, as in the join), once per pair; the caller
    * applies its own-id and threshold rules. None when the history hits
    * overflow the gate (the caller falls back to the join). */
  private def bandPairsLocal(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation, k: Int, bands: Int,
      rows: Array[org.apache.spark.sql.Row], maxRows: Int)
      : Option[Seq[(org.apache.spark.sql.Row, Any, Double)]] = {
    val r = k / bands
    val probe = rows.filterNot(_.isNullAt(1))
    if (probe.isEmpty) return Some(Nil)
    val keys = (0 until bands).map(b => probe.map(_.getString(1 + k + b)).distinct)
    val byKey = probe.toSeq.flatMap(x =>
      (0 until bands).map(b => (b, x.getString(1 + k + b)) -> x))
      .groupMap(_._1)(_._2)
    Small.rows(
      g.rows(spark)
        .filter((0 until bands).map(b => Small.in(bandKey(b, r), keys(b)))
          .reduce(_ || _))
        .select(col("id") +:
          ((0 until k).map(i => col(s"h$i")) ++
            (0 until bands).map(b => bandKey(b, r))): _*),
      maxRows).map { hits =>
      (for {
        y <- hits.iterator if !y.isNullAt(0)
        x <- (0 until bands).iterator.flatMap(b =>
          byKey.getOrElse((b, y.getString(1 + k + b)), Nil)).distinct
        if idKey(x.get(0)) != idKey(y.get(0))
      } yield (x, y.get(0),
        (1 to k).count(i => x.getString(i) == y.getString(i)).toDouble / k))
        .toSeq
    }
  }

  /** An id as the joins compare it: integral ids of any width as longs
    * (a boxed Int never equals a boxed Long), other ids as they are. */
  private def idKey(v: Any): Any = v match {
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case other => other
  }

  // ------------------------------------------------------------------
  // Incremental EXACT dedup: a persisted content-hash index
  // ------------------------------------------------------------------
  //
  // The exact-dup half of the refresh loop at its cheapest: history at
  // rest is ONE md5 per document (16 bytes of payload vs k hex
  // signatures for the MinHash index), probes are a hash equi-join with
  // the BATCH side broadcast — history is scanned once and never
  // shuffled, the right orientation when |day's ingest| ≪ |corpus|. A
  // refresh gate whose batch fits [[graft.core.Small]] skips even the
  // broadcast: [[exactGate]] ships the batch hashes as an InSet filter.
  // Near-dup detection needs the signature index ([[signatureSave]]);
  // this one answers only "have I seen exactly this text before", which
  // in crawl pipelines removes the bulk of duplicates before any
  // shingling runs.

  /** Persist an exact-dedup index over a corpus: (id, h = md5(text)) as
    * one segment of a [[SegmentStore]] generation ([[hashAppend]] grows
    * it O(new rows)). NULL-text docs have
    * no hash and are absent (they can never be exact dups). */
  def hashSave(df: DataFrame, id: Column, text: Column,
      path: String): Unit =
    hashSaveHashes(graft.core.Par.spread(df)
      .select(id.as("id"), md5(text).as("h")), path)

  /** [[hashSave]] over an ALREADY-COMPUTED (id, h = md5(text)) table —
    * first-ingest twin of [[hashAppendHashes]]. */
  private[operators] def hashSaveHashes(newHashes: DataFrame,
      path: String): Unit = {
    SegmentStore.save(path, Meta(Family.Hash),
      newHashes.toDF("id", "h").filter(col("h").isNotNull))
    ()
  }

  /** Grow a [[hashSave]]d index by the new documents only — O(new rows)
    * compute and I/O, history never re-read; append ≡ rebuild exactly
    * (a content hash is a pure per-document function). Same
    * single-writer / caller-feeds-only-new-ids contract as every
    * segment store. Returns the committed generation. */
  def hashAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newDf: DataFrame, id: Column, text: Column): Long =
    hashAppendHashes(spark, path, graft.core.Par.spread(newDf)
      .select(id.as("id"), md5(text).as("h")))

  /** [[hashAppend]] over an ALREADY-COMPUTED (id, h = md5(text)) table —
    * the seam for callers whose gate already carries the batch's content
    * hashes (the incremental pretrain chain threads `_h` from its
    * in-batch canonicalization through the gate checkpoint), so the md5
    * kernel is not re-run over the batch text a third time. `hasHashes`
    * is whether any row has a non-NULL hash, when the caller's gate
    * already knows it ([[exactGate]]'s answer below the gate); None
    * probes the table. `fold` as in [[signatureAppendSigs]]. */
  private[operators] def hashAppendHashes(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newHashes: DataFrame, hasHashes: Option[Boolean] = None,
      fold: Boolean = false): Long = {
    val g = SegmentStore.open(path).of(Family.Hash)
    val hashes = newHashes.toDF("id", "h").filter(col("h").isNotNull)
    // empty/all-NULL batch: keep the current generation (zero-row
    // parquet segments can land without part files — see signatureAppend)
    if (!hasHashes.getOrElse(!hashes.isEmpty))
      if (fold) compactSegmented(spark, g) else g.gen
    else appendOrFold(g, Meta(Family.Hash), hashes, fold)
  }

  /** Exact-dedup NEW documents against the persisted history: every new
    * doc whose md5(text) equals an indexed doc's comes back as
    * (id, dup_of) — one pair per matching history doc. When the probe
    * fits (≤ `broadcastLimitBytes` of MATERIALIZED cache, measured from
    * the in-memory relation's own stats — not a row-count proxy, which
    * wide id columns defeat), the probe side BROADCASTS (|batch| ≪
    * |corpus| is the refresh-loop shape), so the history hash table is
    * scanned once and never shuffled at any corpus size; an oversized
    * probe falls back to a plain equi-join (shuffled both sides)
    * instead of blowing Spark's 8 GB broadcast hard limit / driver
    * memory on an unconditional hint. The probe is cached and counted
    * in ONE job, so `newDf` is evaluated once either way. Serves the
    * committed generation (one open), so probes keep answering through
    * a concurrent append. */
  def exactAgainst(spark: org.apache.spark.sql.SparkSession, path: String,
      newDf: DataFrame, id: Column, text: Column,
      broadcastLimitBytes: Long = 512L << 20): DataFrame =
    exactAgainstHashes(spark, path,
      newDf.select(id.as("id"), md5(text).as("h")), broadcastLimitBytes)

  /** [[exactAgainst]] over an ALREADY-COMPUTED (id, h = md5(text)) probe
    * — the above-gate path of [[exactGate]], which carries the batch's
    * content hashes from its in-batch canonicalization, so the md5
    * kernel runs once per batch instead of once per gate stage. Same
    * broadcast gating and caching. */
  private[operators] def exactAgainstHashes(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newHashes: DataFrame,
      broadcastLimitBytes: Long = 512L << 20): DataFrame = {
    val hist = SegmentStore.open(path).of(Family.Hash).rows(spark)
    val probe = Caches.cache(
      newHashes.toDF("id", "h").filter(col("h").isNotNull))
    probe.count() // ONE job: the count IS the cache materialization
    // gate the hint on MEASURED cached bytes (the in-memory relation's
    // own stats) — a row-count proxy is defeated by wide id columns
    val bytes = probe.queryExecution.optimizedPlan.stats.sizeInBytes
    val probeSide =
      if (bytes <= BigInt(broadcastLimitBytes)) broadcast(probe) else probe
    hist.select(col("id").as("dup_of"), col("h"))
      .join(probeSide, Seq("h"))
      .select(col("id"), col("dup_of"))
  }

  /** The EXACT gate of the refresh loops — shared by
    * [[Pipelines.pretrainCorpusIncremental]] (documents, `id` =
    * doc_id) and the DocStore ingest gate (chunks, `id` = chunk_key):
    *
    *  1. in-batch canonicalization: one row per distinct md5(`text`),
    *     the smallest `id` (a hash-aggregable min, never a window sort),
    *     with the hash KEPT as `_h` so the history probe and the
    *     caller's index append never re-run the md5 kernel;
    *  2. history filter: rows whose `_h` is already in the hash index at
    *     `path` are dropped. With `excludeOwn`, matches against the
    *     batch's OWN ids do not count (the [[dedupRefresh]] replay rule:
    *     a retried batch finds its own hashes indexed and must re-derive
    *     its survivors, not drop them).
    *
    * The hashed batch is localCheckpointed once (the gate-seam
    * discipline: the near gate and the caller reference the gate output
    * from many plan branches, and a cache does not truncate the analyzed
    * tree). Size gate ([[graft.core.Small]]): when the (_h, min id)
    * groups fit, they are collected, history is scanned once with
    * `h IN (batch hashes)` and its hits collected, the own-id rule runs
    * on the driver, and the survivors are the checkpoint filtered by
    * `id IN (kept ids) AND _h NOT IN (dups)` ([[Small.in]] value sets) —
    * no join, no broadcast build. A larger batch (a first ingest or a
    * rebuild-sized day) or an oversized hit list takes the semi-join +
    * broadcast equi-join of [[exactAgainstHashes]]. Returns the
    * survivors with `_h`; with no index yet (a first ingest) every
    * canonical row survives. With them comes whether any survivor has a
    * non-NULL `_h` — known from the collected groups below the gate (a
    * kept group's own row survives exactly when its hash is not
    * dropped), None above it — for the caller's hash append. */
  private[graft] def exactGate(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, id: String, text: String,
      excludeOwn: Boolean,
      maxRows: Int = Small.MaxRows): (DataFrame, Option[Boolean]) = {
    val (rows, known) = exactGateWith(spark, path, df, id, text, excludeOwn,
      maxRows)
    (rows, known.map(_.hashed))
  }

  /** What [[exactGate]] collected about its survivors below the gate:
    * whether any has a non-NULL `_h`, whether there is any, and — when
    * the batch's rows were collected — the survivors' (id, `_h`) rows. */
  private[graft] final case class Survivors(hashed: Boolean, any: Boolean,
      rows: Option[Seq[org.apache.spark.sql.Row]])

  /** [[exactGate]] with [[Survivors]] (None above the gate). For
    * integral ids the gate collects the batch's (id, `_h`) rows and
    * takes each hash's smallest id on the driver — no aggregation, and
    * the survivors' rows come back for the caller's hash append; other
    * ids collect the (`_h`, min id) groups of a hash aggregate. A
    * survivor exists exactly when a kept group's hash is NULL or not
    * dropped: that group's own row survives. */
  private[graft] def exactGateWith(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, id: String, text: String,
      excludeOwn: Boolean,
      maxRows: Int): (DataFrame, Option[Survivors]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val withH = Caches.checkpoint(df.withColumn("_h", md5(col(text))))
    val keep = withH.groupBy(col("_h")).agg(min(col(id)).as(id))
    val indexed = graft.core.IndexGen.current(path).isDefined
    // (groups, rows): the (_h, min id) groups, and the batch's rows when
    // the groups were taken from them
    val collected: Option[(Seq[Row], Option[Array[Row]])] =
      withH.schema(id).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Small.rows(withH.select(col(id), col("_h")), maxRows).map { rows =>
            (rows.toSeq.groupBy(r => Option(r.getString(1))).toSeq.map {
              case (h, rs) =>
                Row(h.orNull, rs.filterNot(_.isNullAt(0)).map(_.get(0))
                  .minByOption(_.asInstanceOf[Number].longValue).orNull)
            }, Some(rows))
          }
        case _ => Small.rows(keep, maxRows).map(g => (g.toSeq, None))
      }
    val local = collected.flatMap { case (groups, batchRows) =>
      val kept = groups.filterNot(_.isNullAt(1))
      val hs = kept.filterNot(_.isNullAt(0)).map(_.getString(0))
      // ids compared in the batch's own id type: a boxed Int never
      // equals a boxed Long, so history ids are cast before collecting
      val hits =
        if (!indexed || hs.isEmpty) Some(Array.empty[Row])
        else {
          Small.rows(
            SegmentStore.open(path).of(Family.Hash).rows(spark)
              .filter(Small.in(col("h"), hs))
            .select(col("id").cast(withH.schema(id).dataType), col("h")),
            maxRows)
        }
      val own = if (excludeOwn) kept.map(_.get(1)).toSet else Set.empty[Any]
      hits.map { found =>
        val dropped = found.filterNot(h => own(h.get(0))).map(_.getString(1)).toSet
        val keptIds = kept.map(_.get(1)).toSet
        (withH.filter(Small.in(col(id), keptIds) &&
          Small.notIn(col("_h"), dropped)), Some(Survivors(
          hs.exists(!dropped(_)),
          kept.exists(g => g.isNullAt(0) || !dropped(g.getString(0))),
          batchRows.map(_.toSeq.filter(r => !r.isNullAt(0) &&
            keptIds(r.get(0)) && (r.isNullAt(1) || !dropped(r.getString(1))))))))
      }
    }
    local.getOrElse {
      val canon = withH.join(keep.select(id), Seq(id), "left_semi")
      if (!indexed) (Caches.checkpoint(canon), None)
      else {
        val dup = exactAgainstHashes(spark, path,
          canon.select(col(id).as("id"), col("_h").as("h")))
        val counted =
          if (excludeOwn) dup.join(canon.select(col(id).as("dup_of")),
            Seq("dup_of"), "left_anti")
          else dup
        (Caches.checkpoint(canon.join(counted.select(col("id").as(id))
          .distinct(), Seq(id), "left_anti")), None)
      }
    }
  }

  /** Compact a [[signatureSave]]d index's segments into ONE — the
    * maintenance cadence for append-heavy indexes, exactly as
    * [[Similarity.ivfSave]] is the compaction of [[Similarity
    * .ivfAppend]]: a long-running refresh loop ([[dedupRefresh]],
    * [[graft.streaming.Streaming.dedupRefreshStream]]) commits one
    * manifest segment per batch, so after thousands of batches every
    * probe unions thousands of small parquet reads. This rewrites the
    * committed generation's signature table as a single segment under a
    * new atomic generation ([[SegmentStore.compact]]) — same rows, same
    * meta record, so probe results are
    * identical (the spec pins it) — WITHOUT the original text: one
    * signature-table read, no re-shingling. Probes keep serving the old
    * generation until the commit rename; appends resume on the
    * compacted manifest. Same single-writer contract as append (don't
    * compact concurrently with an append). Returns the committed
    * generation. */
  def signatureCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    compactIndex(spark, SegmentStore.open(path).of(Family.Signature))

  /** [[signatureCompact]] for a [[hashSave]]d exact-dedup index. */
  def hashCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    compactIndex(spark, SegmentStore.open(path).of(Family.Hash))

  /** A compaction slot with nothing to fold in: the committed index at
    * `path` (if any) is compacted when it has more than one segment —
    * one segment is compact already. The stream bodies run this for an
    * empty micro-batch, which skips the appends. */
  private[graft] def compactSlot(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    if (graft.core.IndexGen.current(path).isDefined)
      compactSegmented(spark, SegmentStore.open(path))

  private def compactSegmented(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation): Long =
    if (g.segments.size > 1) compactIndex(spark, g) else g.gen

  private def compactIndex(spark: org.apache.spark.sql.SparkSession,
      g: SegmentStore.Generation): Long = {
    // zero-row guard, mirroring signatureAppend/hashAppend: an empty
    // committed table compacted to a zero-row parquet segment can land
    // with no part files, and every later manifest read would fail
    // schema inference — keep the current generation instead. The count
    // comes from the segments' parquet footers: an `isEmpty` over the
    // segment union is a limit plan whose per-child limit counters make
    // fresh generated code on every call.
    if (g.segmentDirs.map(graft.core.parquetRowCount(spark, _)).sum == 0) g.gen
    else SegmentStore.compact(g, g.rows(spark))
  }

  /** (band, band-key) rows for an LSH banding of a minhash signature
    * table: ONE projection exploding an array of (band, bk) structs —
    * a per-band union would scan the signature table `bands` times as
    * `bands` separate stages (and, before the cache is materialized,
    * those concurrent stages serialize on the cache's block locks). */
  private def bandRows(mh: DataFrame, bands: Int, r: Int): DataFrame =
    mh.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), bandKey(b, r).as("bk"))
      }: _*)).as("_bb"))
      .select(col("id"), col("_bb.band").as("band"), col("_bb.bk").as("bk"))

  /** Band `b`'s LSH key over signature columns h0..: md5 of its r
    * hashes. The Spark-side definition, evaluated on both sides of every
    * distributed banding. The driver path ([[lshLocal]]) keys on
    * the r-hash tuple itself: the hashes are fixed-width hex, so two
    * tuples are equal exactly when this md5 is equal, barring an md5
    * collision. */
  private def bandKey(b: Int, r: Int): Column =
    md5(concat((0 until r).map(i => col(s"h${b * r + i}")): _*))

  /** MinHash + LSH near-duplicate pairs: shingle → k minhashes → `bands`
    * bands of k/bands rows → candidates share a band key → exact Jaccard
    * ≥ threshold verified on candidates only.
    * Returns (a, b, jaccard) with a < b. */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 6, bands: Int = 3,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val sh = Caches.cache(capShingleDf(shingles(df, id, text, n), Seq("s"), maxDf))
    // cache the signature table: each band projection AND each self-join
    // side would otherwise re-run the k-way min aggregation. Materialize
    // it eagerly (one cheap job — |docs| rows): the self-join and the
    // verification join each reference these caches from several stages
    // that AQE runs CONCURRENTLY, and tasks of a not-yet-materialized
    // cached partition serialize on its block lock (measured 370 s of
    // task time for 79 s of CPU at sf0.1 before this).
    val mh = Caches.eager(minhash(sh, k))
    val bb = bandRows(mh, bands, r)
    val cand = bb.as("x")
      .join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Blocked exact n-gram Jaccard: all pairs within a block (equi-join on
    * block + shingle — no cross join), jaccard ≥ threshold.
    * Returns (a, b, jaccard). */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      block: Column, n: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    // cache: referenced 4× below (both join sides + both size lookups) —
    // uncached, Catalyst re-derives the explode+distinct each time
    val sh = Caches.cache(capShingleDf(
        shingles(df, id, text, n, carry = Seq(block.as("_blk"))),
        Seq("_blk", "s"), maxDf))
    val inter = sh.as("x").join(sh.as("y"),
        col("x._blk") === col("y._blk") && col("x.s") === col("y.s") &&
          col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("i"))
    finishJaccard(inter, sh.groupBy("id").agg(count(lit(1)).as("n")), threshold)
  }

  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccard2(cand, sh, sh, threshold)

  /** Exact-Jaccard verification of (a, b) candidates against (possibly
    * distinct) shingle tables for each side — the one implementation
    * behind the self-dedup path and [[fuzzyJoin]]'s cross-table path. */
  private def verifyJaccard2(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    // pin the verification join's parallelism: the candidate list is a
    // few KB after LSH, AQE coalesces it to one partition, and the
    // |cand|·shinglesPerDoc expansion would run single-threaded
    val inter = Similarity.fanoutRepartition(cand, col("a"))
      .join(shA.as("sa"), col("a") === col("sa.id"))
      .join(shB.as("sb"), col("b") === col("sb.id") && col("sa.s") === col("sb.s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    finishJaccard2(inter,
      shA.groupBy("id").agg(count(lit(1)).as("n")),
      shB.groupBy("id").agg(count(lit(1)).as("n")), threshold)
  }

  private def finishJaccard(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    finishJaccard2(inter, sizes, sizes, threshold)

  private def finishJaccard2(inter: DataFrame, sizesA: DataFrame,
      sizesB: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizesA.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizesB.select(col("id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard",
        col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Fuzzy join (reference: stdlib/ml/smart_table_ops/_fuzzy_join.py):
    * match left rows to right rows by text similarity — MinHash/LSH
    * candidates across the two tables, exact-Jaccard verified, best match
    * per left row. Returns (a=left id, b=right id, jaccard). */
  def fuzzyJoin(left: DataFrame, lid: Column, ltext: Column,
      right: DataFrame, rid: Column, rtext: Column,
      n: Int = 3, k: Int = 6, bands: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val shL = Caches.cache(capShingleDf(shingles(left, lid, ltext, n), Seq("s"), maxDf))
    val shR = Caches.cache(capShingleDf(shingles(right, rid, rtext, n), Seq("s"), maxDf))
    // eager-materialize the signature caches (see minhashLshPairs for why)
    val mhL = Caches.eager(minhash(shL, k))
    val mhR = Caches.eager(minhash(shR, k))
    val cand = bandRows(mhL, bands, r).as("x").join(bandRows(mhR, bands, r).as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    val pairs = verifyJaccard2(cand, shL, shR, threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("jaccard").desc, col("b").asc)
    pairs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Near-duplicate CANONICALIZATION — the "actually remove the dups"
    * pipeline op: [[minhashLshPairs]] edges → connected components → one
    * representative per cluster (max `keepBy`, ties to the smallest id).
    * Returns the kept rows with their `_cluster` label (= min member
    * id); singletons keep themselves.
    *
    * Scale shape: pairs are LSH-banded equi-joins (never all-pairs), CC
    * is pointer-jumping (log(diameter) rounds over near-dup clusters,
    * which are tiny by construction), and the representative pick is ONE
    * struct-max aggregate — no window sort over the corpus.
    *
    * Size gate ([[graft.core.Small]]): a refresh batch is a few hundred
    * rows, for which the distributed LSH pass costs ~20 jobs and every
    * broadcast build of the refresh. When the id type is integral and
    * `(id, shingles)` of the batch fits the gate with no NULL and no
    * repeated id, the rows are collected in one job and the pass's own
    * rules run on the driver ([[lshLocal]]: DF cap over all rows,
    * MinHash via [[graft.plans.MinHashSigExpr.signature]], band
    * buckets, exact Jaccard on the capped sets); the verified pairs
    * come back as a local relation, which [[Graphs.connectedComponents]]
    * solves without a job, the cluster labels reach the rows as a
    * literal map instead of a join, and an integral `keepBy` is picked
    * on the driver too ([[pickLocal]]). Those conditions are what make the
    * driver rules exact: the distributed pass groups NULL ids together,
    * merges the shingles of rows sharing an id, and orders string ids by
    * their bytes. Any other batch runs [[minhashLshPairs]]; both paths
    * return the same rows.
    *
    * `df` is consumed TWICE (once into the shingle table, once for the
    * cluster join-back). A raw parquet scan is cheap to evaluate twice;
    * a caller whose `df` is an expensive derived frame (a pipeline
    * stage) should cache/eager it first — see
    * [[Pipelines.pretrainCorpusFull]]'s near-dup branch. */
  def canonicalize(df: DataFrame, id: Column, text: Column, keepBy: Column,
      n: Int = 3, k: Int = 6, bands: Int = 3,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    canonicalizeGated(df, id, text, keepBy, n, k, bands, threshold, maxDf,
      graft.core.Small.MaxRows)

  /** [[canonicalize]] with an explicit gate size — 0 forces the
    * distributed LSH pass (the equivalence specs drive both sides
    * through here).
    *
    * Below the gate the representative pick runs on the driver too: the
    * LSH pass's one collect also takes `keepBy`, and [[pickLocal]]
    * applies [[ColUtils.argmaxRows]]' rules to the collected rows. The
    * kept rows come back behind a [[Small.in]] id filter, so the pick
    * costs no job and no sort-based `min(struct)` aggregate, and its
    * code is the same on every batch. A `keepBy` type whose order the
    * driver rule does not replay exactly keeps `argmaxRows`. */
  private[graft] def canonicalizeGated(df: DataFrame, id: Column,
      text: Column, keepBy: Column, n: Int, k: Int, bands: Int,
      threshold: Double, maxDf: Int, maxRows: Int): DataFrame =
    canonicalizeWith(df, id, text, keepBy, n, k, bands, threshold, maxDf,
      maxRows)._1

  /** [[canonicalizeGated]], and whether the whole pass ran on the driver
    * (LSH pairs and pick): the frame is then a filter over `df`. */
  private def canonicalizeWith(df: DataFrame, id: Column,
      text: Column, keepBy: Column, n: Int, k: Int, bands: Int,
      threshold: Double, maxDf: Int, maxRows: Int): (DataFrame, Boolean) = {
    def components(pairs: DataFrame) = Graphs.connectedComponents(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val docs = df.withColumn("_id", id)
    lshLocal(df, id, text, keepBy, n, k, bands, threshold, maxDf,
        maxRows) match {
      case Some(pass) =>
        // local pairs → union-find, read back without a job; the cluster
        // labels ship as a literal map (a join against the local
        // relation would still cost a broadcast build), empty or not:
        // one plan shape for batches with and without clusters
        val comp = components(pass.pairs).collect()
          .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
        val clustered = docs.withColumn("_cluster", coalesce(try_element_at(
            map_from_arrays(lit(comp.map(_._1)), lit(comp.map(_._2))),
            col("_id").cast("long")).cast(docs.schema("_id").dataType),
          col("_id")))
        pickLocal(pass, comp.toMap) match {
          case Some(kept) => (clustered.filter(Small.in(col("_id"), kept)), true)
          case None => (ColUtils.argmaxRows(clustered, Seq(col("_cluster")),
            keepBy, col("_id")), false)
        }
      case None =>
        val cc = components(
          minhashLshPairs(df, id, text, n, k, bands, threshold, maxDf))
        val clustered = docs.join(cc, docs("_id") === cc("node"), "left")
          .withColumn("_cluster", coalesce(col("comp"), col("_id")))
          .drop("node", "comp")
        (ColUtils.argmaxRows(clustered, Seq(col("_cluster")), keepBy,
          col("_id")), false)
    }
  }

  /** What [[lshLocal]] collected and derived: the verified pairs as a
    * local relation, and per collected row its id (boxed in the id
    * type) and its `keepBy` value (NULL as null) of type `keepType`. */
  private[graft] final case class LocalPass(pairs: DataFrame,
      ids: Array[Any], keys: Array[Any],
      keepType: org.apache.spark.sql.types.DataType)

  /** [[ColUtils.argmaxRows]]' pick over [[lshLocal]]'s rows, on the
    * driver: per cluster (`comp` maps a clustered id to its label; an id
    * absent from it is its own cluster) the largest `keepBy` wins, NULL
    * loses to any value, and a tie goes to the smallest id. Returns the
    * kept ids, or None for a `keepBy` type this rule is not exact for:
    * only integral keys are replayed (argmaxRows negates a decimal-
    * widened copy of them, whose order is the integers' own), not
    * floating keys (NaN and -0.0) or other orders. Ids are integral,
    * non-null and distinct — [[lshLocal]]'s gate. */
  private def pickLocal(pass: LocalPass, comp: Map[Long, Long]): Option[Seq[Any]] = {
    import org.apache.spark.sql.types._
    pass.keepType match {
      case ByteType | ShortType | IntegerType | LongType =>
        def score(i: Int): Option[Long] =
          Option(pass.keys(i)).map(_.asInstanceOf[Number].longValue)
        def id(i: Int): Long = pass.ids(i).asInstanceOf[Number].longValue
        def better(a: Int, b: Int): Boolean = (score(a), score(b)) match {
          case (Some(x), Some(y)) if x != y => x > y
          case (Some(_), None) => true
          case (None, Some(_)) => false
          case _ => id(a) < id(b)
        }
        Some(pass.ids.indices.groupBy(i => comp.getOrElse(id(i), id(i)))
          .valuesIterator.map(_.reduce((a, b) => if (better(a, b)) a else b))
          .map(pass.ids(_)).toSeq)
      case _ => None
    }
  }

  /** [[minhashLshPairs]] answered on the driver — the below-gate half of
    * [[canonicalize]]; see [[lshLocal]]. Returns the pairs alone. */
  private[graft] def lshPairsLocal(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int, bands: Int, threshold: Double, maxDf: Int,
      maxRows: Int): Option[DataFrame] =
    lshLocal(df, id, text, lit(null), n, k, bands, threshold, maxDf, maxRows)
      .map(_.pairs)

  /** [[minhashLshPairs]] answered on the driver. Collects
    * `(id, distinct shingles, keepBy)` in one job and, when the ids are
    * integral, non-null and distinct, replays the distributed rules on
    * the collected rows:
    *  - DF cap: shingles held by more than `maxDf` rows are dropped
    *    (`Int.MaxValue` = no cap), counted over every collected row;
    *  - MinHash over the capped set; an empty capped set has no
    *    signature and is never a candidate;
    *  - candidates: a < b sharing at least one band's r-hash tuple (equal
    *    tuples ⇔ equal [[bandKey]] md5, barring an md5 collision);
    *  - Jaccard = i / (na + nb − i) on the capped sets, kept when i > 0
    *    and ≥ `threshold` (the inner join + filter of [[verifyJaccard]]).
    * Returns (a, b, jaccard) as a local relation in the id type with the
    * collected ids and `keepBy` values, or None (the caller runs the
    * distributed pass). */
  private def lshLocal(df: DataFrame, id: Column, text: Column,
      keepBy: Column, n: Int, k: Int, bands: Int, threshold: Double,
      maxDf: Int, maxRows: Int): Option[LocalPass] = {
    require(k % bands == 0, "k must be divisible by bands")
    import org.apache.spark.sql.types._
    val rowsIn = df.select(id.as("id"),
      graft.plans.TextExprs.shingles(text, n, distinct = true).as("s"),
      keepBy.as("keep"))
    val idType = rowsIn.schema("id").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral) return None
    Small.rows(rowsIn, maxRows)
      .filter(rows => !rows.exists(_.isNullAt(0)) &&
        rows.iterator.map(_.get(0)).distinct.size == rows.length)
      .map { rows =>
        val ids = rows.map(_.getAs[Number](0).longValue)
        val raw = rows.map(x =>
          if (x.isNullAt(1)) Seq.empty[String] else x.getSeq[String](1))
        val sets = if (maxDf == Int.MaxValue) raw.map(_.toSet) else {
          val dfs = scala.collection.mutable.HashMap.empty[String, Int]
          raw.foreach(_.foreach(s => dfs(s) = dfs.getOrElse(s, 0) + 1))
          raw.map(_.filter(dfs(_) <= maxDf).toSet)
        }
        val r = k / bands
        val buckets = sets.indices.iterator.flatMap { d =>
          Option(graft.plans.MinHashSigExpr.signature(sets(d).iterator, k))
            .iterator.flatMap(sig =>
              (0 until bands).map(b => (b, sig.slice(b * r, b * r + r).toSeq) -> d))
        }.toSeq.groupMap(_._1)(_._2)
        val cand = buckets.valuesIterator.flatMap(ds =>
          for (x <- ds; y <- ds if ids(x) < ids(y)) yield (x, y)).toSet
        val pairs = cand.toSeq.flatMap { case (x, y) =>
          val i = sets(x).count(sets(y))
          val jaccard = i * 1.0 / (sets(x).size + sets(y).size - i)
          if (i > 0 && jaccard >= threshold)
            Some(org.apache.spark.sql.Row(rows(x).get(0), rows(y).get(0), jaccard))
          else None
        }
        LocalPass(df.sparkSession.createDataFrame(java.util.Arrays.asList(pairs: _*),
            StructType(Seq(StructField("a", idType), StructField("b", idType),
              StructField("jaccard", DoubleType)))),
          rows.map(_.get(0)), rows.map(_.get(2)), rowsIn.schema("keep").dataType)
      }
  }

  /** Winnowed CONTAINMENT pairs (the MOSS report step over
    * [[TextOps.winnowFingerprints]] sketches): document pairs whose
    * sketches overlap heavily relative to the SMALLER sketch —
    * containment |A∩B| / min(|A|,|B|) — which catches a short document
    * pasted verbatim inside a long one, where Jaccard (union-normalized)
    * stays arbitrarily low. The winnowing guarantee makes the sketch
    * join sound: any shared run of ≥ w+k−1 tokens contributes a shared
    * fingerprint, so real containment can't silently miss.
    *
    * Scale shape: candidates come from an equi-join on fingerprint hash
    * over sketches that are ~2/(w+1) the size of the shingle tables the
    * Jaccard pipelines join — winnowing IS the sketch-size dial.
    * `maxDf` drops fingerprints shared by more than maxDf docs
    * (boilerplate; same quadratic-cost argument as [[capShingleDf]]).
    * Sketch sizes count distinct hashes and are measured BEFORE the
    * cap, so a hot fingerprint weakens candidate generation, never the
    * score's denominator. Returns (a, b, containment) with a < b. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 4, w: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    val fp = Caches.cache(
      TextOps.winnowFingerprints(df, id, text, k, w)
        .select(col("id"), col("fp").as("s")).distinct())
    val sizes = fp.groupBy("id").agg(count(lit(1)).as("n"))
    val capped = capShingleDf(fp, Seq("s"), maxDf)
    val inter = capped.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .withColumn("containment",
        col("i") * lit(1.0) / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }

  /** SimHash fingerprint (16-bit, word-multiset weighted): bit j is the
    * sign of Σ_words ±1 where ± comes from bit j of md5(word). Near-dups
    * collide on the fingerprint (or within small Hamming distance).
    * Returns (id, simhash). Pure aggregates — one shuffle. */
  def simhash16(df: DataFrame, id: Column, text: Column): DataFrame = {
    val w = df.select(id.as("id"), explode(split(text, " ")).as("word"))
      .withColumn("v", conv(substring(md5(col("word")), 1, 4), 16, 10).cast("int"))
    val bitSums = (0 until 16).map(j =>
      sum(shiftright(col("v"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
    w.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 16).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Exact duplicated-SPAN detection between document pairs (the
    * substring-level dedup of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — their suffix-array pass finds
    * verbatim repeated sequences; this is the distributed shingle-join
    * twin): maximal runs of ≥ `minSpan` tokens shared verbatim between
    * two documents, reported with both start positions, e.g. to excise
    * boilerplate or quote-duplication instead of dropping whole docs.
    *
    *  - positional n-gram shingles (md5 keys) equi-join across docs —
    *    never a cross join; `maxDf` drops boilerplate shingles that
    *    would make hot keys quadratic (same cap contract as
    *    [[capShingleDf]], distinct-doc frequency);
    *  - a shared span of L tokens is L−n+1 consecutive shingle matches
    *    on one DIAGONAL (pa − pb constant); islands are found with the
    *    classic gaps-and-islands trick (pa − row_number per diagonal),
    *    one window + one aggregate, both shuffled by (a, b) pair;
    *  - overlapping repeats within one doc surface as separate
    *    diagonals, matching the suffix-array semantics.
    *
    * Returns (a, b, a_start, b_start, span_tokens), a < b, 1-based
    * token positions. */
  def duplicateSpans(df: DataFrame, id: Column, text: Column,
      n: Int = 5, minSpan: Int = 10, maxDf: Int = 8): DataFrame = {
    require(n > 0 && minSpan >= n, s"duplicateSpans: need minSpan >= n")
    // positional shingles: posexplode the one-pass shingle array (pos is
    // 0-based → +1 restores the 1-based sequence positions), md5 AFTER
    // the Generate barrier so each shingle hashes exactly once
    val ps = Caches.cache(graft.core.Par.spread(df)
      .select(id.as("id"),
        posexplode(graft.plans.TextExprs.shingles(text, n, distinct = false))
          .as(Seq("_p0", "_s")))
      .select(col("id"), (col("_p0") + 1).as("p"), md5(col("_s")).as("k")))
    val hot = ps.groupBy("k").agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") > maxDf).select("k")
    val pc = Similarity.fanoutRepartition(
      ps.join(broadcast(hot), Seq("k"), "left_anti"), col("k"))
    val m = pc.select(col("id").as("a"), col("p").as("pa"), col("k"))
      .join(pc.select(col("id").as("b"), col("p").as("pb"), col("k")), Seq("k"))
      .filter(col("a") < col("b"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"), col("pa") - col("pb")).orderBy("pa")
    m.withColumn("g", col("pa") - row_number().over(wd))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("_d"), col("g"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + lit(n - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col("a"), col("b"), col("a_start"), col("b_start"),
        col("span_tokens"))
  }

  /** Excise duplicated spans from the LATER document of each pair
    * (completes [[duplicateSpans]] the way Lee et al. use it: cut the
    * repeated sequence out of one copy instead of dropping whole
    * documents — boilerplate and quotes go, unique content stays).
    *
    * `spans` is [[duplicateSpans]] output; for every (a, b, …, b_start,
    * span_tokens) row, tokens [b_start, b_start+span_tokens) of doc `b`
    * are dropped (the a-side copy survives — a < b, so exactly one copy
    * of every duplicated span remains corpus-wide). Overlapping spans
    * union naturally through the anti-join. Token-level rebuild: output
    * text re-joins kept tokens with single spaces.
    *
    * Scale shape: tokens anti-join spans on (doc equi-key + position
    * range) — hash-join keyed by doc id with the range as a residual
    * predicate, never a cartesian; re-assembly is one aggregate shuffled
    * by doc. Returns (id, text, n_tokens) for EVERY input doc
    * (fully-excised docs come back with empty text, n_tokens 0). */
  def exciseSpans(df: DataFrame, id: Column, text: Column,
      spans: DataFrame): DataFrame = {
    val docs = graft.core.Par.spread(df).select(id.as("id"), text.as("_text"))
    val toks = docs
      .select(col("id"), posexplode(split(col("_text"), " ")).as(Seq("p0", "w")))
      .select(col("id"), (col("p0") + 1).as("p"), col("w"))
    val sp = spans.select(col("b").as("_sid"), col("b_start"),
      (col("b_start") + col("span_tokens")).as("_send"))
    val kept = toks.join(sp,
      toks("id") === sp("_sid") && toks("p") >= sp("b_start") &&
        toks("p") < sp("_send"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          e => e.getField("w")), " ").as("text"),
        count(lit(1)).as("n_tokens"))
    docs.select(col("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Embedding near-duplicate pairs within a block: cosine ≥ threshold.
    * Candidate generation = equi-join on the block column (use an LSH
    * bucket — [[Similarity.rhpBucket]] — as the block at scale).
    * Vectors are folded in-order in double precision. */
  def embeddingPairs(df: DataFrame, id: Column, vec: Column, block: Column,
      threshold: Double, dim: Int = 0): DataFrame = {
    val v0 = Caches.eager(Similarity.spread(df)
      .select(id.as("id"), vec.cast("array<double>").as("v"),
        block.as("_blk"))
      .withColumn("_n2", Similarity.norm2(col("v"))))
    // pin the per-block pairwise expansion's parallelism
    val v = Similarity.fanoutRepartition(v0, col("_blk"))
    v.as("x").join(v.as("y"),
        col("x._blk") === col("y._blk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Similarity.cosinePrenorm(col("x.v"), col("y.v"),
          col("x._n2"), col("y._n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC benchmark decontamination — the embedding-space twin of
    * [[decontaminate]]'s exact n-gram rule (the paraphrase leak n-grams
    * can't see: an eval item reworded into the training set shares no
    * 5-gram but sits next to it in embedding space). A train row is
    * dropped when ANY held-out vector has cosine ≥ `tau` with it.
    *
    * Scale shape: held-out benchmark sets are SMALL by construction
    * (thousands of rows against a corpus of billions), so the held-out
    * side broadcasts and the whole filter is one corpus scan — a
    * broadcast nested-loop ANTI join whose inner loop is |heldout|
    * cosines per row, no shuffle, no pairwise corpus expansion. Returns
    * the surviving train rows (id column only — join back for payload). */
  def decontaminateSemantic(train: DataFrame, heldout: DataFrame,
      id: Column, vec: Column, tau: Double, dim: Int = 0): DataFrame = {
    val t = Similarity.spread(train)
      .select(id.as("id"), vec.cast("array<double>").as("v"))
      .withColumn("_n2", Similarity.norm2(col("v")))
    // _hn2 > 0: a degenerate (zero-norm or NULL) held-out vector yields
    // cosine NaN against EVERY train row, and NaN >= tau is TRUE under
    // Spark's NaN-greatest ordering — one such row would silently empty
    // the whole training corpus through the anti join. Cosine to a
    // zero vector is undefined, so it contaminates nothing.
    val h = heldout.select(vec.cast("array<double>").as("_hv"))
      .withColumn("_hn2", Similarity.norm2(col("_hv")))
      .filter(col("_hn2") > 0)
    // symmetrically, `_n2 > 0` in the condition: a zero-norm TRAIN row's
    // NaN cosine must not count as a contamination match (it survives —
    // degenerate vectors are a quality-filter concern, not a leak)
    t.join(broadcast(h),
        col("_n2") > 0 &&
          Similarity.cosinePrenorm(col("v"), col("_hv"),
            col("_n2"), col("_hn2")) >= tau,
        "left_anti")
      .select(col("id"))
  }
}
