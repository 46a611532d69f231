package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composed end-to-end pipelines — the point of the operator library:
  * a real corpus build is not one operator but a CHAIN, and the chain
  * has to stay one declarative Spark plan (filters fused into scans,
  * every stage map-side where the stage allows it) instead of N
  * materialized passes. Each stage below is the individually
  * oracle-checked library operator; the composition queries
  * (q_pretrain_pipeline, q_pretrain_pipeline_full) replay the ENTIRE
  * chain in DuckDB, so the stages are pinned to compose — not just to
  * work in isolation.
  */
object Pipelines {

  /** Near-duplicate canonicalization stage parameters — the
    * [[Dedup.minhashLshPairs]] knobs (shingle n, minhash k, LSH bands,
    * Jaccard threshold, stop-shingle document-frequency cap). */
  final case class NearDupConfig(n: Int = 3, k: Int = 6, bands: Int = 3,
    threshold: Double = 0.8, maxDf: Int = 100)

  /** The standard pre-training corpus build over raw documents:
    *
    *  1. language ID ([[TextOps.langId]]) — keep `keepLang`;
    *  2. quality floor ([[TextOps.qualityScore]] ≥ `minQuality`);
    *  3. exact dedup — smallest id per identical text (the
    *     [[Dedup.exact]] keep rule as a rank-1 window);
    *  4. benchmark decontamination — drop docs sharing ANY `ngram`-gram
    *     with `heldout` (the [[Dedup.shingles]] semi-join, no DF cap);
    *  5. mix sampling ([[Sampling.hashSample]] at `sampleRate`);
    *  6. sequence packing ([[Sampling.packSequences]] under
    *     `packBudget` tokens into `packBuckets` deterministic streams).
    *
    * The FULL production chain — blocklist filtering, boilerplate
    * removal, and near-duplicate canonicalization interleaved at their
    * proper stages — is [[pretrainCorpusFull]]; this entry point is the
    * minimal chain with those stages off.
    *
    * Scale shape: stages 1-2 are pure column predicates on the scan;
    * stage 3 is one hash-partitioned window; stage 4 is the banded
    * shingle equi-join (the dedup/decontamination shape); stage 5 is a
    * shuffle-free predicate; stage 6 one bucket-partitioned window.
    * Nothing in the chain is pairwise-in-the-corpus or driver-side.
    *
    * Determinism: every stage is a pure function of (ids, text, salt) —
    * the final packed sequences are reproducible on any engine and any
    * partitioning, which is what makes a training corpus auditable.
    * Returns one row per packed document:
    * (doc_id, text, n_tokens, bucket, pack, pack_pos). */
  def pretrainCorpus(docs: DataFrame, id: Column, text: Column,
      markers: Map[String, Seq[String]], keepLang: String,
      stopwords: Seq[String], minQuality: Double,
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame =
    pretrainCorpusFull(docs, id, text, markers, keepLang, stopwords,
      minQuality, blocklist = Nil, boilerplate = None, nearDup = None,
      heldout = heldout, heldoutText = heldoutText, ngram = ngram,
      sampleRate = sampleRate, salt = salt,
      packBudget = packBudget, packBuckets = packBuckets)

  /** The FULL production pre-training chain — [[pretrainCorpus]]'s six
    * stages plus the three a real corpus build runs between them, in
    * build order:
    *
    *  1. language ID keep;
    *  2. quality floor;
    *  3. blocklist filter ([[TextOps.blocklistFilter]] — one
    *     Aho-Corasick scan, drop on any `blocklist` term);
    *  4. boilerplate removal ([[TextOps.dropBoilerplate]] —
    *     `(separator, minDocs)`: segments occurring in ≥ minDocs
    *     DISTINCT documents are excised from every doc; REWRITES text,
    *     so every later stage sees the cleaned corpus);
    *  5. exact dedup (after boilerplate removal on purpose: template
    *     stripping is exactly what makes near-copies byte-identical);
    *  6. near-duplicate canonicalization ([[Dedup.canonicalize]]:
    *     MinHash-LSH pairs → connected components → keep the
    *     smallest-id representative per cluster);
    *  7. benchmark decontamination (n-gram semi-join vs `heldout`);
    *  8. mix sampling; 9. sequence packing.
    *
    * Scale shape of the added stages: the blocklist is one broadcast
    * automaton scan (pure predicate, fuses into the same scan as stages
    * 1-2); boilerplate is explode → map-side-combinable DF count →
    * broadcast mark-join → one groupBy(id) reassembly; near-dup is the
    * banded LSH equi-join + rows×log-rounds CC — nothing pairwise in
    * the corpus, nothing driver-side. Token counts and shingles
    * downstream are computed on the CLEANED text. Returns
    * (doc_id, text, n_tokens, bucket, pack, pack_pos). */
  def pretrainCorpusFull(docs: DataFrame, id: Column, text: Column,
      markers: Map[String, Seq[String]], keepLang: String,
      stopwords: Seq[String], minQuality: Double,
      blocklist: Seq[String], boilerplate: Option[(String, Long)],
      nearDup: Option[NearDupConfig],
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val langKept = base.filter(TextOps.langId(col("text"), markers) === keepLang)
    val qualKept = langKept.filter(
      TextOps.qualityScore(col("text"), stopwords) >= minQuality)
    corpusTail(qualKept, blocklist, boilerplate, nearDup,
      heldout, heldoutText, ngram, sampleRate, salt,
      packBudget, packBuckets)
  }

  /** Stages 3-9 of the chain (blocklist → boilerplate → exact dedup →
    * near-dup canonicalization → decontamination → sample → pack) over
    * an already language/quality-filtered (doc_id, text) frame — shared
    * verbatim by the heuristic ([[pretrainCorpusFull]]) and
    * model-driven ([[pretrainCorpusModel]]) chains, so the two differ
    * ONLY in how stages 1-2 decide what to keep. */
  private def corpusTail(qualKept: DataFrame,
      blocklist: Seq[String], boilerplate: Option[(String, Long)],
      nearDup: Option[NearDupConfig],
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame = {
    val blocked =
      if (blocklist.isEmpty) qualKept
      else TextOps.blocklistFilter(qualKept, col("text"), blocklist)
    val cleaned = boilerplate match {
      case None => blocked
      case Some((sep, minDocs)) =>
        TextOps.dropBoilerplate(blocked, col("doc_id"), col("text"),
            sep, minDocs)
          .select(col("id").as("doc_id"), col("text"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = cleaned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val canonical = nearDup match {
      case None => deduped
      case Some(c) =>
        // eager on the INPUT too: canonicalize consumes its frame twice
        // (shingle derivation + the cluster join-back), and `deduped`
        // here is the expensive part of the chain — the boilerplate
        // reassembly shuffle and the exact-dedup window would otherwise
        // run twice per build (raw-scan callers like q_dedup_canonical
        // rightly skip this: re-scanning parquet beats caching a corpus)
        val dedupedOnce = graft.core.Caches.eager(deduped)
        // keepBy = const → the smallest-id member represents its
        // cluster, the same keep rule as the exact-dedup window.
        // eager: the survivor set feeds TWO branches (its own shingle
        // table + the decontamination anti-join), and un-cached each
        // would re-run the whole boilerplate+dedup+LSH+CC upstream.
        // Deliberately a CACHE, not a gate-seam checkpoint (r16 audit):
        // the full rebuild is a one-shot composition whose tail
        // references this frame exactly twice — linear analysis, not
        // the loop/stacked-gate blowup — and the checkpoint would
        // truncate the fused predicate filter out of the final plan
        // that PlanSpec pins on the scan.
        graft.core.Caches.eager(
          Dedup.canonicalize(dedupedOnce, col("doc_id"), col("text"), lit(0),
              c.n, c.k, c.bands, c.threshold, c.maxDf)
            .select(col("doc_id"), col("text")))
    }
    // canonicalize keeps one row per doc_id, and its output is cached;
    // the lazy exact-dedup window is neither, so without the near-dup
    // stage the tail keeps its joins and windows
    batchTail(canonical, gated = nearDup.isDefined, heldout,
      heldoutText, ngram, sampleRate, salt, packBudget, packBuckets)
  }

  /** The per-batch tail every chain ends in: benchmark decontamination
    * ([[decontaminateGated]]) → mix sampling ([[Sampling.hashSample]])
    * → sequence packing ([[Sampling.packSequencesGated]]) over a
    * (doc_id, text) frame. `gated` says the frame is materialized and
    * holds at most one row per doc_id (a cached or checkpointed
    * [[Dedup.canonicalize]] output): then both size gates are open —
    * the driver-side decontamination is exact and the driver-side pack
    * re-reads no upstream work. */
  private def batchTail(canonical: DataFrame, gated: Boolean,
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame = {
    val maxRows = if (gated) graft.core.Small.MaxRows else 0
    val decontaminated = decontaminateGated(canonical, heldout, heldoutText,
      ngram, maxRows)
    val sampled = Sampling.hashSample(decontaminated, col("doc_id"),
      sampleRate, salt)
    Sampling.packSequencesGated(
      sampled.withColumn("n_tokens", TextOps.tokenCount(col("text"))),
      col("doc_id"), col("n_tokens"), packBudget, packBuckets, salt, maxRows)
  }

  /** Benchmark decontamination of a (doc_id, text) frame: drop the docs
    * sharing ANY `ngram`-gram with `heldout` — the [[Dedup.shingles]]
    * join against the held-out set's distinct shingles, anti-joined back
    * by doc_id.
    *
    * Size gate ([[graft.core.Small]], `maxRows` = 0 forces the join):
    * when the held-out shingles fit, they are collected (one job) and
    * each doc is tested in its own row, `exists(shingles(text),
    * s -> s IN held)` over a [[graft.core.Small.in]] value set — no
    * join, no `distinct`, no broadcast build, and the same generated
    * code on every call. A row with a NULL doc_id is kept, as the
    * anti-join keeps it. The per-row test equals the anti-join by doc_id
    * only when no two rows share a doc_id, so callers pass `maxRows` = 0
    * unless their frame guarantees that. */
  private[graft] def decontaminateGated(docs: DataFrame, heldout: DataFrame,
      heldoutText: Column, ngram: Int, maxRows: Int): DataFrame =
    graft.core.Small.rows(heldout.select(explode(
        graft.plans.TextExprs.shingles(heldoutText, ngram, distinct = true))),
        maxRows) match {
      case Some(rows) =>
        val held = rows.map(_.getString(0)).toSet
        docs.filter(col("doc_id").isNull || !coalesce(exists(
          graft.plans.TextExprs.shingles(col("text"), ngram, distinct = true),
          graft.core.Small.in(_, held)), lit(false)))
      case None =>
        val trainShingles =
          Dedup.shingles(docs, col("doc_id"), col("text"), ngram)
        val benchShingles = Dedup.shingles(
            heldout.select(heldoutText.as("_ht")), lit(0L), col("_ht"), ngram)
          .select(col("s")).distinct()
        val contaminated = trainShingles.join(benchShingles, Seq("s"))
          .select(col("id").as("doc_id")).distinct()
        docs.join(contaminated, Seq("doc_id"), "left_anti")
    }

  /** The MODEL-DRIVEN pre-training chain — [[pretrainCorpusFull]] with
    * stages 1-2 decided by TRAINED models instead of the marker-lexicon
    * and stopword-ratio heuristics: language keep by the char-n-gram
    * Naive-Bayes classifier ([[LangId.predict]] argmax == `keepLang`)
    * and the quality floor by the hashed-bag-of-words logistic
    * regression score ([[Classify.logregPredict]] ≥ `minScore`). This
    * is what CCNet/fastText-filter pipelines actually run: fit once on
    * a labeled sample, then filter every corpus build with the frozen
    * model (reference analog: the xpack embedder/classifier seams,
    * xpacks/llm/document_store.py — a model call gating ingest).
    *
    * Scale shape: both predicts are model-BROADCAST scans — the langid
    * model pivots to one bounded (vocab × L) gram table and the logreg
    * weights are dim+1 rows, so the corpus is never shuffled against
    * either model; the only corpus-sized exchanges the models add are
    * the per-doc gram/feature aggregations (map-side combinable) and
    * one semi-join back by doc_id each. Stages 3-9 are [[corpusTail]],
    * shared verbatim with the heuristic chain.
    *
    * Both predicates are exact cross-engine (decimal-sum langid scores,
    * integer-quantized logreg margins), so the FULL chain — fit,
    * predict, filter, dedup, pack — replays bit-for-bit in DuckDB
    * (q_pretrain_model's oracle). Docs shorter than the langid `n`
    * carry no grams, classify as nothing, and are dropped — the same
    * fate a sub-n doc meets at the quality floor of the heuristic
    * chain. Returns (doc_id, text, n_tokens, bucket, pack, pack_pos). */
  def pretrainCorpusModel(docs: DataFrame, id: Column, text: Column,
      langModel: LangId.Model, keepLang: String, langN: Int,
      qualityModel: DataFrame, qualityDim: Int, minScore: Double,
      blocklist: Seq[String], boilerplate: Option[(String, Long)],
      nearDup: Option[NearDupConfig],
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    // localCheckpoint(true) at BOTH keep seams — unlike the heuristic
    // chain's stages 1-2 (pure predicates, free to recompute), a model
    // keep is a corpus-sized aggregation + semi-join: un-materialized,
    // the qualKeep/join-back pair references langKept twice and the
    // tail's shingle/anti-join pair references qualKept twice, so the
    // langid predict executed FOUR times per run and the featurize
    // twice (found by Explain audit — 4 copies of the perG pivot in the
    // physical plan). Materialized, each model scores the corpus once —
    // and the CHECKPOINT (r16; previously an eager cache) additionally
    // truncates the analyzed tree, so the tail plans from a scan instead
    // of re-walking the predict lineage per operation (the
    // pretrainCorpusIncremental gate-seam discipline; a cache does not
    // truncate the logical plan).
    val langKeep = LangId.predict(base, col("doc_id"), col("text"),
        langModel, langN)
      .filter(col("lang") === keepLang).select(col("id").as("doc_id"))
    val langKept = graft.core.Caches.checkpoint(
      base.join(langKeep, Seq("doc_id"), "left_semi"))
    val qualKeep = Classify.logregPredict(langKept, col("doc_id"),
        col("text"), qualityModel, qualityDim)
      .filter(col("score") >= minScore).select(col("id").as("doc_id"))
    val qualKept = graft.core.Caches.checkpoint(
      langKept.join(qualKeep, Seq("doc_id"), "left_semi"))
    corpusTail(qualKept, blocklist, boilerplate, nearDup,
      heldout, heldoutText, ngram, sampleRate, salt,
      packBudget, packBuckets)
  }

  /** [[pretrainCorpusModel]] from PERSISTED models — the production
    * split: models are fit (and [[LangId.save]]d / [[Classify
    * .logregSave]]d) by a training job; every corpus build loads the
    * frozen artifacts by path. Model hyper-parameters that shape the
    * prediction plan (`langN`, `qualityDim`) ride in the saved models'
    * own metadata, so a build job cannot probe a model with the wrong
    * geometry. */
  def pretrainCorpusModelFrom(spark: org.apache.spark.sql.SparkSession,
      langModelPath: String, keepLang: String,
      qualityModelPath: String, minScore: Double,
      docs: DataFrame, id: Column, text: Column,
      blocklist: Seq[String], boilerplate: Option[(String, Long)],
      nearDup: Option[NearDupConfig],
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int): DataFrame = {
    val (langModel, langN) = LangId.load(spark, langModelPath)
    val (qualityModel, qualityDim) = Classify.logregLoad(spark, qualityModelPath)
    pretrainCorpusModel(docs, id, text, langModel, keepLang, langN,
      qualityModel, qualityDim, minScore, blocklist, boilerplate, nearDup,
      heldout, heldoutText, ngram, sampleRate, salt,
      packBudget, packBuckets)
  }

  /** The INCREMENTAL pre-training corpus refresh — what a DAY-OVER-DAY
    * corpus build actually runs. [[pretrainCorpusFull]] dedups IN-BATCH
    * only, so refreshing a corpus with it re-pays full-corpus dedup
    * (re-shingle + re-canonicalize ALL history) on every run — the cost
    * that kills a daily refresh at 100 TB. This variant dedups the
    * day's `batch` against PERSISTED indexes instead: history at rest
    * is one md5 per document ever seen ([[Dedup.hashSave]] index at
    * `hashIndex`) plus one k-hash MinHash signature per surviving
    * document ([[Dedup.signatureSave]] index at `sigIndex`), both grown
    * by O(survivors) segment appends per refresh — history text is
    * never re-read, never re-shingled. Stages, in order:
    *
    *  1. language ID keep, quality floor, optional blocklist — pure
    *     column predicates on the batch scan (identical to
    *     [[pretrainCorpusFull]] stages 1-3);
    *  2. EXACT gate ([[Dedup.exactGate]]): in-batch canonicalization
    *     (smallest id per identical text — a hash-aggregable min, never
    *     a window sort), then drop texts whose md5 is already in the
    *     hash index (history scanned once, never shuffled);
    *  3. NEAR gate: [[Dedup.dedupRefresh]] against the signature index
    *     — in-batch LSH canonicalization at the index geometry, then
    *     the signature-agreement probe (est ≥ `estThreshold`) drops
    *     content already in the corpus; survivors' signatures append
    *     O(survivors). The first refresh creates both indexes (the
    *     near gate via in-batch [[Dedup.canonicalize]] +
    *     [[Dedup.signatureSave]] at `nearDup`'s geometry);
    *  4. benchmark decontamination, mix sampling, sequence packing on
    *     the survivors — per-batch stages, identical to the full chain.
    *
    * The exact index records every text SEEN this refresh (survivors
    * of stage 2, including ones the near gate then drops): re-ingesting
    * a file stays a no-op at the cheap md5 gate, never re-paying
    * shingling. Boilerplate excision is deliberately absent — it is a
    * corpus-GLOBAL statistic (segments in ≥ minDocs docs corpus-wide)
    * that has no incremental form; run it in the periodic full rebuild
    * ([[pretrainCorpusFull]]), the same rebuild-vs-refresh split as
    * every segmented index.
    *
    * Replay safety (the [[Dedup.dedupRefresh]] discipline): a RETRIED
    * refresh finds its own hashes/signatures already indexed, so
    * history matches exclude the batch's own ids on BOTH gates — a
    * retried batch re-derives its survivors identically instead of
    * silently dropping them (ids are never half-indexed: on a fresh
    * batch the exclusions remove nothing, by the
    * caller-feeds-only-new-ids contract every segment store shares).
    * Single writer per index, like every segment store.
    *
    * SIDE EFFECTS ARE CALL-TIME, NOT ACTION-TIME: the gate probes
    * materialize and the hash/signature index appends COMMIT while this
    * method runs — a caller that composes the chain and never acts on
    * the returned frame has still advanced both indexes. That is the
    * same eager-index contract every segment store here has
    * ([[Dedup.hashAppend]]/[[Dedup.signatureSave]] are `Unit` writes),
    * and replay safety makes it harmless — a re-run with the same batch
    * re-derives its survivors identically via the own-id exclusions —
    * but do not treat the returned DataFrame as a pure plan: only the
    * decontaminate→sample→pack TAIL is lazy.
    *
    * Returns the packed survivor rows
    * (doc_id, text, n_tokens, bucket, pack, pack_pos).
    * Cost per refresh: one batch-sized scan + LSH pass, one probe of
    * each index (one columnar read of history each), O(survivors)
    * appends — nothing re-shingles or re-canonicalizes history, which
    * is what makes the daily refresh flat in history size (BASELINE
    * "fixed-probe" table; run [[Dedup.hashCompact]]/
    * [[Dedup.signatureCompact]] on the usual cadence).
    *
    * A day's batch is a few hundred rows, so every per-refresh gate
    * table fits [[graft.core.Small]]'s size gate and is answered on the
    * driver — the exact and near history probes and the near gate's
    * connected components ship their lookups back inside expressions
    * instead of paying a broadcast build per join; a rebuild-sized batch
    * falls back to the joins with identical results. */
  def pretrainCorpusIncremental(batch: DataFrame, id: Column, text: Column,
      markers: Map[String, Seq[String]], keepLang: String,
      stopwords: Seq[String], minQuality: Double,
      blocklist: Seq[String],
      hashIndex: String, sigIndex: String,
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int,
      nearDup: NearDupConfig = NearDupConfig(),
      estThreshold: Double = 0.5): DataFrame =
    pretrainRefresh(batch, id, text, markers, keepLang, stopwords,
      minQuality, blocklist, hashIndex, sigIndex, heldout, heldoutText, ngram,
      sampleRate, salt, packBudget, packBuckets, nearDup, estThreshold,
      fold = false)

  /** [[pretrainCorpusIncremental]]; with `fold` (a compaction slot of
    * [[graft.streaming.Streaming.pretrainRefreshStream]]) both index
    * appends leave their index as one segment
    * ([[Dedup.signatureAppendSigs]]). */
  private[graft] def pretrainRefresh(batch: DataFrame, id: Column,
      text: Column, markers: Map[String, Seq[String]], keepLang: String,
      stopwords: Seq[String], minQuality: Double, blocklist: Seq[String],
      hashIndex: String, sigIndex: String,
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int,
      nearDup: NearDupConfig, estThreshold: Double,
      fold: Boolean): DataFrame = {
    val spark = batch.sparkSession
    val base = batch.select(id.as("doc_id"), text.as("text"))
    val langKept = base.filter(TextOps.langId(col("text"), markers) === keepLang)
    val qualKept = langKept.filter(
      TextOps.qualityScore(col("text"), stopwords) >= minQuality)
    val blocked =
      if (blocklist.isEmpty) qualKept
      else TextOps.blocklistFilter(qualKept, col("text"), blocklist)
    // EXACT gate (Dedup.exactGate): in-batch canonicalization — one
    // survivor per distinct text, smallest id, `_h` kept so the history
    // probe and the index append below never re-run the md5 kernel —
    // then the history filter, checkpointed at the gate seam. Matches
    // against the batch's OWN ids are excluded (dedupRefresh's replay
    // rule): on a RETRIED refresh the index already holds this batch's
    // hashes, and since in-batch canonicalization left one row per
    // text, an own-id match can only be a row matching its own indexed
    // hash — dropping it would lose the row from the retried output.
    // Fresh batches are unaffected.
    val (exactFresh, hashed) = Dedup.exactGate(spark, hashIndex, blocked,
      "doc_id", "text", excludeOwn = true)
    // NEAR gate — the persisted refresh loop at document granularity
    // (dedupRefresh appends the survivors' signatures itself); first
    // refresh creates the index at nearDup's geometry
    // localCheckpoint again at the gate exit: the tail (decontaminate →
    // sample → pack) and the caller's downstream both re-analyze this
    // frame's tree per operation — truncated, they start from a scan
    val gateOut = exactFresh.drop("_h")
    val canonical = graft.core.Caches.checkpoint(
      if (graft.core.IndexGen.current(sigIndex).isDefined)
        Dedup.dedupRefreshWith(spark, sigIndex, gateOut,
          col("doc_id"), col("text"),
          nearDup.threshold, estThreshold, nearDup.maxDf, fold = fold)._1
      else {
        val c = graft.core.Caches.eager(
          Dedup.canonicalize(gateOut, col("doc_id"), col("text"),
              lit(0), nearDup.n, nearDup.k, nearDup.bands,
              nearDup.threshold, nearDup.maxDf)
            .drop("_cluster", "_id"))
        Dedup.signatureSave(c, col("doc_id"), col("text"), sigIndex,
          nearDup.n, nearDup.k, nearDup.bands)
        c
      })
    // record every text SEEN this refresh (exact-gate survivors, near-
    // dropped ones included) — last, so a crash mid-refresh re-derives
    // rather than drops (the exclusions above make either order safe;
    // hashes-last additionally keeps a crashed FIRST refresh creating
    // no exact index at all). The hashes ride the gate checkpoint's own
    // `_h` column — no md5 re-run over the batch text — and the gate's
    // collected groups say whether there is any hash to append.
    val freshHashes = exactFresh.select(col("doc_id").as("id"),
      col("_h").as("h"))
    if (graft.core.IndexGen.current(hashIndex).isDefined)
      Dedup.hashAppendHashes(spark, hashIndex, freshHashes, hashed, fold)
    else Dedup.hashSaveHashes(freshHashes, hashIndex)
    // per-batch tail of the chain: decontaminate → sample → pack; both
    // gates' outputs are canonicalize outputs, one row per doc_id
    batchTail(canonical, gated = true, heldout, heldoutText, ngram,
      sampleRate, salt, packBudget, packBuckets)
  }
}
