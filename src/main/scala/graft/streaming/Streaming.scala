package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.core.rmTree

/** Streaming operator layer (reference: stdlib/temporal/temporal_behavior
  * .py, table.py:1064 deduplicate, _asof_now_join.py, io/_subscribe.py,
  * temporal/time_utils.py).
  *
  * Mapping stance (SURVEY §2.5): the reference's behaviors are watermark
  * semantics —
  *   cutoff        → `withWatermark` (state eviction + late-data drop;
  *                   engine `forget`, time_column.rs:556)
  *   delay         → append-mode emission at window close (engine
  *                   `buffer`, time_column.rs:255)
  *   keep_results  → output mode: keep=update, discard=append (engine
  *                   `freeze`, time_column.rs:631)
  * Batch remains the primary substrate; each helper here is the
  * streaming-mode counterpart of a batch operator with identical
  * semantics on bounded input.
  */
object Streaming {

  /** The partitioned upsert sink's key→bucket hash function, recorded in
    * the `_buckets` marker so a restart under a DIFFERENT hash (a Spark
    * major version changing `hash()` semantics, or a foreign engine
    * reading the snapshot) fails loudly instead of mis-routing keys.
    * Spark's `hash()` is Murmur3-x86-32 with seed 42 — stable across
    * every Spark 1.6+ release to date. */
  val BucketHashRecipe = "murmur3"

  /** reference: temporal_behavior.py:29 common_behavior. Durations are
    * Spark interval strings (e.g. "10 seconds"). */
  final case class Behavior(delay: Option[String] = None,
      cutoff: Option[String] = None, keepResults: Boolean = true)

  /** reference: temporal_behavior.py:83 — emit each window exactly once
    * after close (+shift): append mode + watermark = shift. */
  def exactlyOnceBehavior(shift: String): Behavior =
    Behavior(delay = Some(shift), cutoff = Some(shift), keepResults = false)

  /** Apply the time half of a behavior. Spark has ONE event-time knob —
    * the watermark — which both postpones append-mode emission (the
    * reference's `buffer`, time_column.rs:255) and drops late rows /
    * evicts state (the reference's `forget`, time_column.rs:556). The
    * two reference knobs therefore map onto the single watermark
    * CONSERVATIVELY, never emitting earlier than `delay` and never
    * dropping earlier than `cutoff`:
    *  - cutoff only → watermark(cutoff): exact.
    *  - delay + cutoff → watermark(max(delay, cutoff)): emission can be
    *    later than the reference's buffer when cutoff > delay, late
    *    drops later than the reference when delay > cutoff — both on the
    *    safe side (no early emission, no extra dropping).
    *  - delay only → watermark(delay) is an APPROXIMATION: the reference
    *    buffers without ever dropping, while a watermark drops rows
    *    later than `delay`. Pass an explicit large cutoff to bound the
    *    divergence. The emission half is the output mode — see
    *    [[outputMode]]. */
  def withBehavior(df: DataFrame, timeCol: String, b: Behavior): DataFrame = {
    def micros(s: String): Long = {
      val i = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(i.months == 0, s"withBehavior: month intervals unsupported: $s")
      i.days * 86400000000L + i.microseconds
    }
    (b.delay, b.cutoff) match {
      case (None, None) => df
      case (Some(d), Some(c)) =>
        df.withWatermark(timeCol, if (micros(d) >= micros(c)) d else c)
      case (d, c) => df.withWatermark(timeCol, d.orElse(c).get)
    }
  }

  /** keep_results=true ≈ update mode (closed results retained
    * downstream); false ≈ append mode (emitted once at close). */
  def outputMode(b: Behavior): OutputMode =
    if (b.keepResults) OutputMode.Update() else OutputMode.Append()

  /** Acceptor-based streaming deduplicate (reference: table.py:1064 +
    * engine deduplicate dataflow.rs:3101): per key, keep the latest
    * value ACCEPTED by `acceptor(new, previous)`; emit on change.
    * flatMapGroupsWithState in update mode — state is one value per key.
    *
    * State lives for the query's lifetime by default (bounded by key
    * cardinality). For churning/unbounded key spaces pass `idleTtl` > 0
    * to evict keys idle that long (processing time, the same option
    * [[graft.sources.Cdc.upsertStream]] takes). An evicted key forgets
    * its last accepted value: when it reappears, the first event is
    * accepted unconditionally and RE-EMITS even if equal to the
    * pre-eviction value — pick a TTL longer than a key's plausible
    * silence if duplicate re-emission downstream matters.
    *
    * Operational note (applies to any ProcessingTimeTimeout stream,
    * [[graft.sources.Cdc.upsertStream]] included): Spark schedules
    * timeout-check batches continuously while the query runs, so
    * `processAllAvailable()` never returns on such a query — tests and
    * drain logic must poll the sink instead. */
  def deduplicateStreaming[K, V](ds: Dataset[V], key: V => K,
      acceptor: (V, V) => Boolean,
      idleTtl: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Zero)(
      implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] = {
    val ttlMs = if (idleTtl.isFinite) idleTtl.toMillis else 0L
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(key)
      .flatMapGroupsWithState[V, V](
        OutputMode.Update(), timeoutConf) {
        (_: K, rows: Iterator[V], state: GroupState[V]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption
            var emitted: Option[V] = None
            rows.foreach { v =>
              if (cur.forall(prev => acceptor(v, prev))) { cur = Some(v); emitted = cur }
            }
            emitted.foreach(state.update)
            if (ttlMs > 0 && state.exists) state.setTimeoutDuration(ttlMs)
            emitted.iterator
          }
      }
  }

  /** Batch acceptor-deduplicate with identical semantics: per instance,
    * scan in `order`, keep the last accepted value. Secondary sort — one
    * repartition by instance + in-partition sort, then a linear scan; no
    * per-group materialization, so group size is unbounded. */
  def deduplicateBatch(df: DataFrame, instanceCols: Seq[String],
      orderCols: Seq[Column], acceptor: (Row, Row) => Boolean): DataFrame = {
    val sorted = df.repartition(instanceCols.map(col): _*)
      .sortWithinPartitions(instanceCols.map(col) ++ orderCols: _*)
    val schema = df.schema
    val idx = instanceCols.map(schema.fieldIndex)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    sorted.mapPartitions { it =>
      new Iterator[Row] {
        private val buf = it.buffered
        private def groupKey(r: Row): Seq[Any] = idx.map(r.get)
        private var pending: Option[Row] = None
        private def advance(): Unit = {
          if (!buf.hasNext) { pending = None; return }
          val k = groupKey(buf.head)
          var accepted = buf.next()
          while (buf.hasNext && groupKey(buf.head) == k) {
            val nxt = buf.next()
            if (acceptor(nxt, accepted)) accepted = nxt
          }
          pending = Some(accepted)
        }
        def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
        def next(): Row = { if (pending.isEmpty) advance(); val r = pending.get; pending = None; r }
      }
    }(enc)
  }

  /** Streaming NEAR-duplicate candidate detection — the online half of
    * [[graft.operators.Dedup.minhashLshPairs]]: MinHash signatures and
    * LSH band keys are computed IN-ROW (pure array expressions, no
    * aggregation — the same md5 recipes as the batch path, so a doc
    * lands in identical buckets online and offline), and per band
    * bucket a flatMapGroupsWithState keeps the FIRST-ARRIVED owner; each
    * later document hitting an owned bucket emits a candidate pair
    * `(a = owner, b = newcomer, band)` in the micro-batch it arrives.
    *
    * Semantics vs batch: per bucket this is the STAR decomposition
    * (owner vs each later arrival), not the full pair clique the batch
    * self-join produces — exactly what online suppression needs (every
    * non-first document gets flagged with a witness), at state cost of
    * ONE owner id per occupied bucket. Within a micro-batch, ties are
    * broken by id order, so replays are deterministic. Pairs are
    * candidates in the LSH sense — verify survivors with an exact
    * Jaccard/cosine pass downstream (foreachBatch), as the batch
    * pipeline does. Docs shorter than `n` tokens have no shingles and
    * emit nothing, matching batch behavior.
    *
    * State: one (bucket → owner) entry per occupied bucket for the
    * query's lifetime; for unbounded corpora pass `idleTtl` > 0 to
    * evict long-idle buckets (the [[deduplicateStreaming]] option, with
    * the same reappearance caveat: an evicted bucket's next document
    * becomes a fresh owner). Doc ids travel as strings (the state
    * encoder's lowest common denominator) — cast back downstream.
    * Returns streaming (a, b, band); run in update mode. */
  def nearDupCandidatesStream(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 6, bands: Int = 3,
      idleTtl: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Zero): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val spark = docs.sparkSession
    import spark.implicits._
    // k in-row minhashes (md5("i|"+shingle) — Dedup.minhash's recipe)
    // over a one-pass native shingle build (the element_at formulation
    // re-split the text per lambda reference), banded to `bands` keys
    // of r hashes each (Dedup.bandRows' recipe)
    val withSh = docs.select(id.cast("string").as("_id"),
      graft.plans.TextExprs.shingles(text, n, distinct = true).as("_sh"))
    val hs = (0 until k).map(i =>
      array_min(transform(col("_sh"), s => md5(concat(lit(s"$i|"), s)))).as(s"h$i"))
    val sigs = withSh.select(col("_id") +: hs: _*)
    val bandRows = sigs.select(col("_id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat((0 until r).map(i => col(s"h${b * r + i}")): _*)).as("bk"))
      }: _*)).as("_bb"))
      .select(col("_bb.band").as("band"), col("_bb.bk").as("bk"), col("_id"))
      .filter(col("bk").isNotNull) // shingle-less docs carry null hashes
      .as[(Int, String, String)]
    val ttlMs = if (idleTtl.isFinite) idleTtl.toMillis else 0L
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bandRows.groupByKey { case (band, bk, _) => s"$band|$bk" }
      .flatMapGroupsWithState[String, (String, String, Int)](
        OutputMode.Update(), timeoutConf) {
        (_: String, rows: Iterator[(Int, String, String)],
            state: GroupState[String]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // id-sorted within the batch: the owner choice (and so the
            // emitted pairs) is a pure function of batch content
            val sorted = rows.toSeq.sortBy(_._3)
            var owner = state.getOption
            val out = scala.collection.mutable.ArrayBuffer[(String, String, Int)]()
            sorted.foreach { case (band, _, docId) =>
              owner match {
                case None =>
                  owner = Some(docId); state.update(docId)
                case Some(o) if o != docId =>
                  out += ((o, docId, band))
                case _ => ()
              }
            }
            if (ttlMs > 0 && state.exists) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
      }
      .toDF("a", "b", "band")
  }

  /** Streaming half of the PERSISTED incremental-dedup loop: each
    * micro-batch (a day's ingest) runs [[graft.operators.Dedup
    * .dedupRefresh]] against the signature index at `indexPath` —
    * in-batch canonicalization at the index geometry, history-signature
    * probe, surviving genuinely-new docs' signatures appended — and
    * appends the surviving rows to `survivorsOut` (parquet). Because
    * each batch's survivors are indexed BEFORE the next batch probes,
    * sequential batches dedup against everything that came before them
    * (history AND earlier batches) — the day-over-day production
    * semantics. Unlike [[nearDupCandidatesStream]] (unbounded keyed
    * state, candidates only), state here lives in the index on disk and
    * matches are VERIFIED (exact Jaccard in-batch; signature agreement
    * vs history).
    *
    * Delivery: at-least-once on micro-batch RETRY — a replayed batch
    * probes an index that already holds its own signatures, and
    * [[graft.operators.Dedup.dedupRefresh]] excludes the batch's OWN
    * ids from history matches (not just each row's self-id: two
    * in-batch survivors whose signature agreement reaches estThreshold
    * while exact Jaccard stays below threshold would otherwise drop
    * each other on replay and be lost), so survivors are re-derived
    * IDENTICALLY and re-appended; the survivors sink may then hold
    * duplicate rows and the index duplicate signature rows (harmless
    * for probing — same id band-joins to the same candidates — but
    * production survivors sinks should dedup by id downstream or use
    * the upsert sink). Single writer, like every segment store.
    *
    * Index maintenance: every batch commits one manifest segment, so a
    * loop running for thousands of batches grows probe cost with
    * segment count. `compactEvery = N > 0` runs [[graft.operators.Dedup
    * .signatureCompact]] every N batches (one signature-table read, no
    * re-shingling; probe results unchanged) INSIDE the foreachBatch —
    * the same thread as the appends, so the single-writer contract
    * holds by construction, no pausing the stream; 0 disables (compact
    * manually between runs). The same save-is-append's-compaction
    * cadence as ivfSave/ivfAppend. Returns the unstarted writer. */
  def dedupRefreshStream(stream: DataFrame, id: Column, text: Column,
      indexPath: String, survivorsOut: String, checkpoint: String,
      threshold: Double = 0.8, estThreshold: Double = 0.5,
      maxDf: Int = 100, compactEvery: Int = 0): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // dedupRefresh eager-caches its canonical/survivor frames on
        // THIS (the stream-execution) thread; without a per-batch
        // release a long-running loop accumulates one frame set per
        // micro-batch forever. All consumers (append + survivors
        // write) complete inside the body, so microBatch may free
        // them when it returns.
        graft.core.Caches.microBatch {
          if (!batch.isEmpty) {
            val survivors = graft.operators.Dedup.dedupRefresh(
              batch.sparkSession, indexPath, batch.toDF(), id, text,
              threshold, estThreshold, maxDf)
            // skip all-dup batches: a zero-row FIRST append could leave a
            // schema-less survivors dir (only _SUCCESS) that fails reads
            if (!survivors.isEmpty)
              survivors.write.mode("append").parquet(survivorsOut)
          }
          // cadence keyed to batchId, OUTSIDE the empty-batch guard (an
          // empty batch on a slot must not defer the fold to the next
          // multiple — sparse sources can skip many); a retried batch
          // re-compacts at most once more, and compaction is idempotent
          // (same rows, one segment, new atomic generation). IndexGen
          // guard: an all-empty prefix has no index to fold yet.
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
              graft.core.IndexGen.current(indexPath).isDefined) {
            graft.operators.Dedup.signatureCompact(
              batch.sparkSession, indexPath)
            ()
          }
        }
      }

  /** The streaming twin of [[graft.operators.Pipelines
    * .pretrainCorpusIncremental]] — the pretrain-corpus refresh as a
    * LIVE pipeline: each micro-batch (a day's ingest) runs the whole
    * incremental chain (langid/quality/blocklist → exact gate vs the
    * hash index → near gate vs the signature index → decontaminate →
    * sample → pack) in foreachBatch and appends the packed survivors
    * to `packedOut` (parquet), tagged `refresh = batchId + 1`. The
    * persisted indexes carry state between batches, so sequential
    * batches dedup against history AND every earlier batch's survivors
    * — the day-over-day semantics, same as [[dedupRefreshStream]].
    *
    * Delivery: at-least-once on micro-batch retry, replay-safe by the
    * chain's own-id exclusions on BOTH gates (a replayed batch
    * re-derives its survivors identically and re-appends — the packed
    * sink may hold duplicate rows; dedup by (refresh, doc_id) on read
    * or land through the upsert sink). `compactEvery = N > 0` folds
    * both gate indexes every N batches on this thread (single-writer
    * holds; same cadence contract as the gated buildStream). */
  def pretrainRefreshStream(stream: DataFrame, id: Column, text: Column,
      markers: Map[String, Seq[String]], keepLang: String,
      stopwords: Seq[String], minQuality: Double, blocklist: Seq[String],
      hashIndex: String, sigIndex: String,
      heldout: DataFrame, heldoutText: Column, ngram: Int,
      sampleRate: Double, salt: String,
      packBudget: Long, packBuckets: Int,
      packedOut: String, checkpoint: String,
      nearDup: graft.operators.Pipelines.NearDupConfig =
        graft.operators.Pipelines.NearDupConfig(),
      estThreshold: Double = 0.5,
      compactEvery: Int = 0): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the chain eager-caches and checkpoints its gate frames on
        // the stream-execution thread; microBatch releases them
        // when the body returns (all consumers complete inside it)
        graft.core.Caches.microBatch {
          if (!batch.isEmpty) {
            // eager: the isEmpty probe and the write would otherwise
            // each run the decontaminate→sample→pack tail (the gate
            // frames upstream ARE checkpointed, but the window-heavy
            // pack stage re-executed per consumer); drained below
            val packed = graft.core.Caches.eager(
              graft.operators.Pipelines.pretrainCorpusIncremental(
                batch.toDF(), id, text, markers, keepLang, stopwords,
                minQuality, blocklist, hashIndex, sigIndex,
                heldout, heldoutText, ngram, sampleRate, salt,
                packBudget, packBuckets, nearDup, estThreshold))
            // zero-row FIRST append guard, as everywhere
            if (!packed.isEmpty)
              packed
                .withColumn("refresh", lit(batchId + 1))
                .write.mode("append").parquet(packedOut)
          }
          // cadence OUTSIDE the empty-batch guard: an empty micro-batch
          // landing on a slot must not defer compaction to the next
          // multiple (sparse/bursty sources can skip many slots); the
          // IndexGen guards keep a no-index-yet batch a no-op
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
            if (graft.core.IndexGen.current(hashIndex).isDefined)
              graft.operators.Dedup.hashCompact(batch.sparkSession, hashIndex)
            if (graft.core.IndexGen.current(sigIndex).isDefined)
              graft.operators.Dedup.signatureCompact(
                batch.sparkSession, sigIndex)
            ()
          }
        }
      }

  /** As-of-now join (reference: _asof_now_join.py:176): each left
    * (stream) row joins the CURRENT right (static/slowly-changing) state
    * at arrival; later right updates do not retract. Spark's
    * stream-static join has exactly these semantics — the static side is
    * re-read per micro-batch. Batch ≡ plain join. */
  def asofNowJoin(stream: DataFrame, static: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame = {
    require(Set("inner", "left").contains(how), s"asofNowJoin how=$how")
    stream.join(static, keys, how)
  }

  /** Stream-stream interval join (reference: temporal interval_join in
    * streaming mode — stdlib/temporal/_interval_join.py; the engine
    * buffers both sides and emits on watermark progress). Spark's
    * native stream-stream join has the same state discipline when BOTH
    * sides are watermarked and the join condition carries a time-range
    * bound — state for rows older than watermark+bound is dropped.
    * `lower`/`upper` are inclusive interval-literal offsets of
    * rightTime relative to leftTime (e.g. "-10 seconds"/"10 seconds").
    * Inner mode emits as matches arrive; left mode additionally emits
    * null-extended rows once the watermark passes a left row. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      lower: String, upper: String, watermarkDelay: String,
      how: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter").contains(how),
      s"intervalJoinStream how=$how")
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTime) >= l(leftTime) + expr(s"INTERVAL $lower") &&
      r(rightTime) <= l(leftTime) + expr(s"INTERVAL $upper")
    l.join(r, cond, how)
  }

  /** Streaming twin of [[graft.operators.Stats.runningZScore]]: per-key
    * (n, Σ, Σ²) as flatMapGroupsWithState state, each arriving row
    * scored against the state BEFORE it updates it — bit-identical to
    * the batch window when rows arrive in order (each Σ-increment is
    * the same decimal(28,8) per-row cast the batch recipe takes, kept
    * exact across micro-batches by the string-decimal state). Rows
    * inside a micro-batch are sorted by `order` per key; a row arriving
    * AFTER a later-ordered row has already updated the state is scored
    * against that newer state — arrival-order semantics, the same
    * contract as the reference's streaming operators. NULL values are
    * dropped (they carry no signal and the batch twin's count skips
    * them too). Emits (k, o, n_prior, z). */
  def anomalyStream(events: DataFrame, key: Column, order: Column,
      value: Column, minPrior: Int = 5): DataFrame = {
    require(minPrior >= 2, s"anomalyStream: minPrior must be >= 2, got $minPrior")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .filter(value.isNotNull)
      .select(key.cast("long").as("k"), order.cast("long").as("o"),
        value.cast("double").as("v"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[ZState, (Long, Long, Long, Option[Double])](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (k, rows, st) =>
          def dec8(d: Double): BigDecimal =
            BigDecimal(d).setScale(8, scala.math.BigDecimal.RoundingMode.HALF_UP)
          var (n, sx, sxx) = st.getOption
            .map(s => (s.n, BigDecimal(s.sx), BigDecimal(s.sxx)))
            .getOrElse((0L, BigDecimal(0), BigDecimal(0)))
          val out = rows.toSeq.sortBy(_._2).map { case (_, o, v) =>
            val z = if (n >= minPrior) {
              val nd = n.toDouble
              val (sxd, sxxd) = (sx.toDouble, sxx.toDouble)
              val varP = (nd * sxxd - sxd * sxd) / (nd * (nd - 1))
              if (varP > 0) Some((v - sxd / nd) / math.sqrt(varP)) else None
            } else None
            val nPrior = n
            n += 1; sx += dec8(v); sxx += dec8(v * v)
            (k, o, nPrior, z)
          }
          st.update(ZState(n, sx.toString, sxx.toString))
          out.iterator
      }
      .toDF("k", "o", "n_prior", "z")
  }

  /** Streaming twin of [[graft.operators.Stats.ema]]: the exponential
    * moving average continued across micro-batches with (n, ema) as the
    * entire keyed state. Rows within a batch fold in `order`; the feed
    * must be in order ACROSS batches (the same in-order replay contract
    * as [[anomalyStream]] — replaying a log through this operator in
    * offset order reproduces the batch fold EXACTLY, because the
    * per-row arithmetic is the identical IEEE expression). Emits one
    * (key, n, ema) row per key per touched micro-batch; NULL values are
    * skipped like the batch fold. */
  def emaStream(events: DataFrame, key: Column, order: Column,
      value: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"emaStream: alpha must be in (0,1], got $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.filter(value.isNotNull)
      .select(key.cast("long").as("k"), order.cast("long").as("o"),
        value.cast("double").as("v"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[EmaState, (Long, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (k, rows, st) =>
          var (n, ema) = st.getOption.map(s => (s.n, s.ema))
            .getOrElse((0L, 0.0))
          rows.toSeq.sortBy(_._2).foreach { case (_, _, v) =>
            // the exact per-row expression Stats.ema folds with
            ema = if (n == 0) v else alpha * v + (1 - alpha) * ema
            n += 1
          }
          st.update(EmaState(n, ema))
          Iterator.single((k, n, ema))
      }
      .toDF("k", "n", "ema")
  }

  /** Streaming twin of the batch HLL sketch
    * ([[graft.operators.Stats.hllRegisters]]/hllEstimate): a RUNNING
    * distinct-count estimate per key, emitting one
    * (key, n_seen, estimate) row per key per micro-batch that touches
    * it. Keyed state = the dense m-byte register array — fixed size
    * per key forever, the whole point of sketching a stream: exact
    * streaming distinct would grow state with the distinct set.
    *
    * The hash geometry and the estimate arithmetic are the SAME scalar
    * functions the batch sketch is pinned to
    * ([[graft.operators.Stats.hllBucketRho]]/hllEstimateScalar), so a
    * stream replay's final estimate equals the batch estimate
    * BIT-IDENTICALLY (StatsSpec pins it; the q_hll_stream oracle replays
    * both batch prefixes in DuckDB). NULL items are excluded, matching
    * the batch sketch. */
  def hllStream(events: DataFrame, key: Column, item: Column, b: Int,
      salt: String = "hll"): DataFrame = {
    require(b >= 4 && b <= 12, s"hllStream: b must be in [4,12], got $b")
    val m = 1 << b
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.filter(item.isNotNull)
      .select(key.cast("long").as("k"), item.cast("string").as("it"))
      .as[(Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[HllState, (Long, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (k, rows, st) =>
          val prev = st.getOption.getOrElse(HllState(0L, new Array[Byte](m)))
          val regs = prev.regs.clone()
          var n = prev.n
          rows.foreach { case (_, it) =>
            val (bk, rho) = graft.operators.Stats.hllBucketRho(it, b, salt)
            if (rho > regs(bk)) regs(bk) = rho.toByte
            n += 1
          }
          var np = 0L
          var zup = 0L
          var i = 0
          while (i < m) {
            if (regs(i) > 0) {
              np += 1
              zup += 1L << (graft.operators.Stats.HllRhoCap - regs(i))
            }
            i += 1
          }
          st.update(HllState(n, regs))
          Iterator.single(
            (k, n, graft.operators.Stats.hllEstimateScalar(np, zup, b)))
      }
      .toDF("k", "n_seen", "estimate")
  }

  /** Callback sink (reference: pw.io.subscribe io/_subscribe.py): the
    * callback sees each micro-batch as a DataFrame + batch id. */
  def subscribe(df: DataFrame, onChange: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode("update").foreachBatch(onChange)

  /** Materialized current-state parquet sink for a change stream — the
    * jar-less analog of a Delta upsert writer (reference:
    * DeltaTableWriter data_storage.rs:1611; PsqlWriter :1072 in
    * snapshot mode). Each micro-batch folds its events into the stored
    * snapshot — highest `orderCol` per key wins, exactly the
    * [[graft.sources.Cdc.applyLatest]] rule — and swaps the snapshot
    * directory, so a reader between batches sees one complete state.
    *
    * Tombstones are RETAINED in the snapshot (deleteCol = true rows)
    * rather than dropped: a dropped tombstone would let an
    * out-of-order insert from a later batch resurrect the key. Filter
    * them on read with [[readSnapshot]] — the same retain-until-vacuum
    * discipline Delta uses. The foreachBatch checkpoint gives
    * exactly-once batch replay, and the merge itself is idempotent
    * (max-by-order over a union), so a retried half-applied batch
    * converges to the same snapshot.
    *
    * Scale note: rewrites the whole snapshot per batch (what a
    * compacting MERGE does at file granularity) — the right shape for
    * dimension-sized state; fact-sized state wants
    * [[upsertParquetSinkPartitioned]], which rewrites only the key-hash
    * buckets a batch touches. The directory swap is two renames (atomic
    * on a real filesystem); object stores want a versioned-dir +
    * pointer-file layout instead. */
  def upsertParquetSink(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    events.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cur = new java.io.File(path)
        // crash recovery: a crash between the two swap renames leaves NO
        // snapshot at `path` but a complete one at `path.tmp.<n>` (the
        // merged state of the crashed batch) or `path.old.<n>` (the
        // pre-batch state). Promote the newest leftover back to `path`
        // BEFORE merging — either converges, because the checkpoint
        // replays the crashed batch and the merge is idempotent
        // (max-by-order over a union). Without this the replayed batch
        // would rebuild state from itself alone, silently dropping every
        // previously upserted key.
        recoverSnapshot(cur)
        val merged = {
          val b = batch.persist()
          val all =
            if (cur.isDirectory)
              spark.read.parquet(path).unionByName(b, allowMissingColumns = false)
            else b
          graft.operators.ColUtils.argmaxRowsOrdered(
            all, keys.map(col), col(orderCol))
        }
        val tmp = new java.io.File(s"$path.tmp.$batchId")
        val old = new java.io.File(s"$path.old.$batchId")
        merged.write.mode("overwrite").parquet(tmp.getPath)
        batch.unpersist()
        if (cur.isDirectory)
          require(cur.renameTo(old),
            s"upsertParquetSink: rename $cur -> $old failed")
        require(tmp.renameTo(cur),
          s"upsertParquetSink: rename $tmp -> $cur failed")
        rmTree(old)
      }

  /** Version-retaining variant of [[upsertParquetSink]] — Delta TIME
    * TRAVEL without the jar (reference: DeltaTableWriter
    * data_storage.rs:1611 writes a Delta log whose versions stay
    * readable via `versionAsOf`): each micro-batch publishes its merged
    * snapshot as a NEW [[graft.core.IndexGen]] generation (staged dir +
    * one atomic marker rename) instead of swapping in place, and the
    * last `keepVersions` generations stay on disk for as-of reads.
    *
    *  - [[readSnapshotAsOf]] with no version reads the committed
    *    generation; with a version it reads that retained generation —
    *    a consistent historical state at a batch boundary;
    *  - [[snapshotVersions]] lists what is still readable;
    *  - retention is enforced AT COMMIT (generations older than
    *    `current - keepVersions` are pruned), so disk stays bounded at
    *    keepVersions × snapshot bytes with no separate vacuum job.
    *
    * Crash safety is simpler than the in-place sink's rename pair: the
    * marker always points at a complete generation, a crash mid-write
    * leaves an uncommitted staged dir that numbering skips over
    * (never reused), and the checkpoint replays the crashed batch whose
    * idempotent merge publishes the next generation. Same
    * dimension-sized-state scale contract as [[upsertParquetSink]];
    * each version is a full snapshot copy, which is the price of
    * log-free time travel. */
  def upsertParquetSinkVersioned(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String, keepVersions: Int = 8): DataStreamWriter[Row] = {
    require(keepVersions >= 1,
      s"upsertParquetSinkVersioned: keepVersions must be >= 1, got $keepVersions")
    events.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        val all = graft.core.IndexGen.current(path) match {
          case Some(n) =>
            spark.read.parquet(s"$path/gen-$n/snapshot")
              .unionByName(b, allowMissingColumns = false)
          case None => b
        }
        val merged = graft.operators.ColUtils.argmaxRowsOrdered(
          all, keys.map(col), col(orderCol))
        val (dir, gen) = graft.core.IndexGen.stage(path)
        merged.write.mode("overwrite").parquet(s"$dir/snapshot")
        b.unpersist()
        // grace counts generations BELOW current: keepVersions total
        graft.core.IndexGen.commit(path, gen, grace = (keepVersions - 1).toLong)
      }
  }

  /** Read the live rows of an [[upsertParquetSinkVersioned]] snapshot at
    * the committed version (default) or any retained one — tombstones
    * filtered, bookkeeping columns dropped, like [[readSnapshot]].
    * An unretained/unknown version fails loudly. */
  def readSnapshotAsOf(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String, version: Option[Long] = None): DataFrame = {
    val gen = version match {
      case Some(v) =>
        require(graft.core.IndexGen.versions(path).contains(v),
          s"readSnapshotAsOf: version $v not retained at $path — " +
            s"available: ${graft.core.IndexGen.versions(path).mkString(",")}")
        v
      case None => graft.core.IndexGen.current(path).getOrElse(
        throw new IllegalArgumentException(
          s"readSnapshotAsOf: no committed snapshot at $path"))
    }
    spark.read.parquet(s"$path/gen-$gen/snapshot")
      .filter(!col(deleteCol)).drop(orderCol, deleteCol)
  }

  /** Versions of an [[upsertParquetSinkVersioned]] path still readable
    * via [[readSnapshotAsOf]], ascending. */
  def snapshotVersions(path: String): Seq[Long] =
    graft.core.IndexGen.versions(path)

  /** Change feed between two retained versions of an
    * [[upsertParquetSinkVersioned]] snapshot — the Delta CHANGE DATA
    * FEED analog (`table_changes`), derived from the states themselves
    * so no per-batch change files need to be stored. Emits the data
    * columns plus `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage (the Delta CDF vocabulary): keys present only in
    * `toVersion` → insert; only in `fromVersion` → delete (with the
    * from-side image); present in both with ANY column changed → a
    * preimage row and a postimage row. Unchanged keys emit nothing.
    *
    * Plan shape: one full-outer equi-join of the two version scans on
    * the key columns, row images compared as single null-safe struct
    * equalities — no window, no collect; at 100 TB this is the same
    * one-shuffle diff a snapshot-join would cost, and both sides prune
    * to (keys + compared columns) at the scan. Feeding a downstream
    * incremental consumer: apply inserts/postimages as upserts and
    * deletes as tombstones — the same (op, image) contract
    * [[graft.sources.Cdc]] decodes from Debezium. */
  def snapshotDiff(spark: SparkSession, path: String, keys: Seq[String],
      orderCol: String, deleteCol: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion != toVersion,
      s"snapshotDiff: identical versions $fromVersion")
    val a = readSnapshotAsOf(spark, path, orderCol, deleteCol, Some(fromVersion))
    val b = readSnapshotAsOf(spark, path, orderCol, deleteCol, Some(toVersion))
    val dataCols = a.columns.toSeq
    val av = a.select(keys.map(col) :+
      struct(dataCols.map(col): _*).as("_pre"): _*)
    val bv = b.select(keys.map(col) :+
      struct(dataCols.map(col): _*).as("_post"): _*)
    val j = av.join(bv, keys, "full_outer")
    val inserts = j.filter(col("_pre").isNull)
      .select(col("_post.*")).withColumn("_change_type", lit("insert"))
    val deletes = j.filter(col("_post").isNull)
      .select(col("_pre.*")).withColumn("_change_type", lit("delete"))
    val changed = j.filter(col("_pre").isNotNull && col("_post").isNotNull &&
      !(col("_pre") <=> col("_post")))
    val pre = changed.select(col("_pre.*"))
      .withColumn("_change_type", lit("update_preimage"))
    val post = changed.select(col("_post.*"))
      .withColumn("_change_type", lit("update_postimage"))
    inserts.unionByName(deletes).unionByName(pre).unionByName(post)
  }

  /** Hash-bucketed variant of [[upsertParquetSink]] for fact-sized
    * state: the snapshot lives in `path/b=<i>` subdirectories (`buckets`
    * of them, key-hash assigned), and a micro-batch merges + rewrites
    * ONLY the buckets its keys touch — cost per batch is
    * O(touched-bucket bytes), not O(snapshot bytes). The merge for all
    * touched buckets is ONE Spark job (staged `partitionBy("b")` write);
    * the swap is then a driver-side rename pair per touched bucket.
    *
    * Consistency: each bucket swap is atomic, and a key lives in exactly
    * one bucket, so a concurrent reader sees every KEY at a complete
    * batch boundary — but different keys may straddle batches N-1/N
    * while a swap loop is mid-flight (the transaction-log-free analog of
    * Delta's per-file replace; the reference's DeltaTableWriter
    * data_storage.rs:1611 gets cross-key atomicity from the log).
    *
    * Crash safety mirrors the single-dir sink: leftovers are recovered
    * on batch entry ([[recoverBuckets]]), the checkpoint replays the
    * crashed batch, and the per-bucket merge is idempotent, so any
    * mix of swapped/unswapped buckets converges. Bucket `.old` leftovers
    * are SIBLINGS of `path` (`path.old.<batch>.b<i>`), never inside it —
    * a dir like `b=3.old.7` under `path` would poison partition
    * discovery for readers. */
  def upsertParquetSinkPartitioned(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String, buckets: Int = 32): DataStreamWriter[Row] =
    events.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        require(!batch.columns.contains("b"),
          "upsertParquetSinkPartitioned: the stream must not carry a column " +
            "named 'b' — it is the snapshot's bucket-partition column")
        recoverBuckets(new java.io.File(path))
        // the (hash fn, bucket count) pair IS the key→directory mapping:
        // restarting with a different count — or on a Spark whose hash()
        // recipe changed — would route a key's update to a different
        // bucket than its current row and silently duplicate/resurrect
        // it. Persist the full recipe ("murmur3:<count>") on first write
        // (underscore-prefixed = invisible to parquet discovery), fail
        // loudly on any mismatch. Legacy bare-int markers predate the
        // recipe tag and were written by this same murmur3 code path.
        val root = new java.io.File(path)
        root.mkdirs()
        val marker = new java.io.File(root, "_buckets")
        val recipe = s"$BucketHashRecipe:$buckets"
        if (marker.isFile) {
          val stored0 = java.nio.file.Files.readString(marker.toPath).trim
          val stored =
            if (stored0.forall(_.isDigit)) s"$BucketHashRecipe:$stored0" else stored0
          require(stored == recipe,
            s"upsertParquetSinkPartitioned: snapshot at $path was written " +
              s"with bucket recipe '$stored', restarted with '$recipe' — " +
              "the key→bucket mapping would break; keep the original " +
              "count and hash function")
        } else java.nio.file.Files.writeString(marker.toPath, recipe)
        val bCol = pmod(hash(keys.map(col): _*), lit(buckets))
        val b = batch.persist()
        val touched = b.select(bCol.as("b")).distinct()
          .collect().map(_.getInt(0)).sorted
        val existing = touched
          .map(i => new java.io.File(path, s"b=$i"))
          .filter(_.isDirectory).map(_.getPath)
        val all =
          if (existing.isEmpty) b.toDF()
          else spark.read.parquet(existing: _*)
            .unionByName(b, allowMissingColumns = false)
        val merged = graft.operators.ColUtils.argmaxRowsOrdered(
          all, keys.map(col), col(orderCol))
        val stage = new java.io.File(s"$path.stage.$batchId")
        merged.withColumn("b", bCol)
          .write.mode("overwrite").partitionBy("b").parquet(stage.getPath)
        b.unpersist()
        touched.foreach { i =>
          val cur = new java.io.File(root, s"b=$i")
          val old = new java.io.File(s"$path.old.$batchId.b$i")
          val fresh = new java.io.File(stage, s"b=$i")
          if (fresh.isDirectory) { // all-tombstone buckets still stage rows
            if (cur.isDirectory)
              require(cur.renameTo(old),
                s"upsertParquetSinkPartitioned: rename $cur -> $old failed")
            require(fresh.renameTo(cur),
              s"upsertParquetSinkPartitioned: rename $fresh -> $cur failed")
            rmTree(old)
          }
        }
        rmTree(stage)
      }

  /** Restore bucket dirs of an [[upsertParquetSinkPartitioned]] snapshot
    * from swap leftovers, then clear leftovers + stale staging dirs. */
  private[graft] def recoverBuckets(root: java.io.File): Unit = {
    val parent = Option(root.getAbsoluteFile.getParentFile)
      .getOrElse(new java.io.File("."))
    val oldPrefix = s"${root.getName}.old."
    val stagePrefix = s"${root.getName}.stage."
    val siblings = Option(parent.listFiles).getOrElse(Array.empty[java.io.File])
    siblings.filter(f => f.isDirectory && f.getName.startsWith(oldPrefix))
      .foreach { o =>
        // name shape: <root>.old.<batchId>.b<i>
        o.getName.drop(oldPrefix.length).split("\\.") match {
          case Array(bid, bname) if bid.forall(_.isDigit) &&
              bname.startsWith("b") && bname.drop(1).forall(_.isDigit) =>
            val cur = new java.io.File(root, s"b=${bname.drop(1)}")
            if (!cur.isDirectory) require(o.renameTo(cur),
              s"upsertParquetSinkPartitioned: recovery rename $o -> $cur failed")
            else rmTree(o)
          case _ => () // not ours — leave unknown siblings alone
        }
      }
    siblings.filter(f => f.isDirectory && f.getName.startsWith(stagePrefix))
      .foreach(rmTree)
  }

  /** Read the live rows of an [[upsertParquetSinkPartitioned]] snapshot —
    * tombstones filtered, bookkeeping + bucket columns dropped. */
  def readSnapshotPartitioned(spark: SparkSession, path: String,
      orderCol: String, deleteCol: String): DataFrame =
    spark.read.parquet(path).filter(!col(deleteCol))
      .drop(orderCol, deleteCol, "b")

  /** Compact the bucket dirs of an [[upsertParquetSinkPartitioned]]
    * snapshot down to one file per bucket — the small-file maintenance
    * job (Delta OPTIMIZE analog). Each bucket rewrite leaves up to
    * shuffle-partitions part files holding that bucket's rows; over a
    * long-lived 100 TB snapshot the file count (not the byte count) is
    * what degrades scan planning and open() overhead. Compaction is pure
    * file-count reduction: every bucket dir already IS its complete
    * latest-per-key folded state (each touched-bucket swap rewrites the
    * whole bucket), so no merge logic runs — rows are rewritten
    * unchanged, and [[readSnapshotPartitioned]] is identical before and
    * after.
    *
    * One Spark job for all compactable buckets (partition-pruned read →
    * `repartition(col("b"))` so each bucket lands in one task → staged
    * `partitionBy("b")` write), then the sink's own per-bucket atomic
    * rename swap. Crash safety rides the sink's recovery: leftovers use
    * the same `.old.<tag>.b<i>` / `.stage.<tag>` naming
    * [[recoverBuckets]] already heals. Run it like [[vacuum]] — between
    * batches, not concurrently with an active sink.
    *
    * Returns the number of buckets compacted (those with >1 data file). */
  def compactBuckets(spark: SparkSession, path: String): Int = {
    val root = new java.io.File(path)
    require(root.isDirectory, s"compactBuckets: no snapshot at $path")
    recoverBuckets(root)
    def dataFiles(d: java.io.File): Int =
      Option(d.listFiles).getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val todo = Option(root.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("b=") &&
        dataFiles(f) > 1)
      .map(_.getName.drop(2).toInt).sorted
    if (todo.isEmpty) return 0
    val tag = System.currentTimeMillis()
    val stage = new java.io.File(s"$path.stage.$tag")
    spark.read.parquet(path)
      .filter(graft.core.Small.in(col("b"), todo.map(Integer.valueOf)))
      .repartition(todo.length, col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(stage.getPath)
    todo.foreach { i =>
      val cur = new java.io.File(root, s"b=$i")
      val old = new java.io.File(s"$path.old.$tag.b$i")
      val fresh = new java.io.File(stage, s"b=$i")
      if (fresh.isDirectory) {
        require(cur.renameTo(old),
          s"compactBuckets: rename $cur -> $old failed")
        require(fresh.renameTo(cur),
          s"compactBuckets: rename $fresh -> $cur failed")
        rmTree(old)
      }
    }
    rmTree(stage)
    todo.length
  }

  /** Restore an [[upsertParquetSink]] snapshot dir from swap leftovers
    * (see the recovery note there), then clear remaining leftovers. */
  private[graft] def recoverSnapshot(cur: java.io.File): Unit = {
    val parent = Option(cur.getAbsoluteFile.getParentFile)
      .getOrElse(new java.io.File("."))
    def leftovers(kind: String): Seq[java.io.File] = {
      val prefix = s"${cur.getName}.$kind."
      Option(parent.listFiles).getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
          f.getName.drop(prefix.length).forall(_.isDigit))
        .sortBy(_.getName.drop(prefix.length).toLong)
    }
    if (!cur.isDirectory) {
      // tmp.<n> (post-batch-n) outranks old.<n> (pre-batch-n) — but only
      // a COMMITTED tmp (job-commit marker present): a crash mid-write
      // leaves a tmp with no _SUCCESS, and promoting that would wedge the
      // sink on an unreadable snapshot every restart
      val committed = leftovers("tmp")
        .filter(d => new java.io.File(d, "_SUCCESS").isFile)
      val candidate = committed.lastOption.orElse(leftovers("old").lastOption)
      candidate.foreach { c =>
        require(c.renameTo(cur),
          s"upsertParquetSink: recovery rename $c -> $cur failed")
      }
    }
    (leftovers("tmp") ++ leftovers("old")).foreach(rmTree)
  }

  /** Drop tombstones with order ≤ `horizon` from an [[upsertParquetSink]]
    * snapshot — the second half of the retain-until-vacuum discipline
    * (Delta VACUUM analog; the reference's DeltaTableWriter leans on
    * Delta's own retention). Tombstones ABOVE the horizon stay: they
    * still guard their key against out-of-order resurrection. The caller
    * picks a horizon no later than the oldest order that can still
    * arrive (a watermark, in streaming terms). Live rows are untouched —
    * [[readSnapshot]] is identical before and after.
    *
    * Atomicity: same tmp→swap protocol as the sink, with the horizon as
    * the numeric suffix, so [[recoverSnapshot]] heals a crashed vacuum
    * exactly like a crashed batch (either state is correct — vacuum is
    * maintenance, not data). Run it BETWEEN batches of the owning query:
    * the sink and the vacuum must not swap the same dir concurrently. */
  def vacuumSnapshot(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String, horizon: Long): Unit = {
    val cur = new java.io.File(path)
    recoverSnapshot(cur)
    if (cur.isDirectory) {
      val kept = spark.read.parquet(path)
        .filter(!col(deleteCol) || col(orderCol) > lit(horizon))
      val tmp = new java.io.File(s"$path.tmp.${math.max(horizon, 0L)}")
      val old = new java.io.File(s"$path.old.${math.max(horizon, 0L)}")
      kept.write.mode("overwrite").parquet(tmp.getPath)
      require(cur.renameTo(old), s"vacuumSnapshot: rename $cur -> $old failed")
      require(tmp.renameTo(cur), s"vacuumSnapshot: rename $tmp -> $cur failed")
      rmTree(old)
    }
  }

  /** [[vacuumSnapshot]] for an [[upsertParquetSinkPartitioned]] layout:
    * every bucket is rewritten through one staged partitionBy job, then
    * per-bucket atomic swaps ([[recoverBuckets]] heals a crash). */
  def vacuumSnapshotPartitioned(spark: SparkSession, path: String,
      orderCol: String, deleteCol: String, horizon: Long): Unit = {
    val root = new java.io.File(path)
    recoverBuckets(root)
    val bucketDirs = Option(root.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
    if (bucketDirs.nonEmpty) {
      val stage = new java.io.File(s"$path.stage.${math.max(horizon, 0L)}")
      // partition values survive as a `b` column on a discovery read of
      // the root; re-partitioning by it reproduces the exact layout
      spark.read.parquet(path)
        .filter(!col(deleteCol) || col(orderCol) > lit(horizon))
        .write.mode("overwrite").partitionBy("b").parquet(stage.getPath)
      bucketDirs.foreach { cur =>
        val i = cur.getName.drop(2)
        val old = new java.io.File(s"$path.old.${math.max(horizon, 0L)}.b$i")
        val fresh = new java.io.File(stage, cur.getName)
        require(cur.renameTo(old),
          s"vacuumSnapshotPartitioned: rename $cur -> $old failed")
        if (fresh.isDirectory) // a bucket can vacuum down to zero rows
          require(fresh.renameTo(cur),
            s"vacuumSnapshotPartitioned: rename $fresh -> $cur failed")
        rmTree(old)
      }
      rmTree(stage)
    }
  }

  /** Read the live rows of an [[upsertParquetSink]] snapshot —
    * tombstoned keys filtered, bookkeeping columns dropped. */
  def readSnapshot(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String): DataFrame =
    spark.read.parquet(path).filter(!col(deleteCol))
      .drop(orderCol, deleteCol)

  /** Persistence / recovery conventions (reference: src/persistence/ —
    * config.rs PersistenceConfig, operator_snapshot.rs, input_snapshot
    * .rs; recovery proven by integration_tests/wordcount/test_recovery
    * .py).
    *
    * Spark mapping: operator state snapshots + input offsets ARE the
    * Structured Streaming checkpoint — every stateful operator snapshots
    * per micro-batch, sources record offsets, sinks commit batch ids.
    * What the reference's PersistenceConfig adds is a pinned LAYOUT (one
    * root, one slot per query) so restarts find their state; this helper
    * pins the same convention: `root/<queryName>`. Restarting any query
    * `attach`ed here resumes from the last committed batch — no loss, no
    * reprocessed committed batches (exactly-once per sink batch id). */
  final case class Persistence(root: String) {
    def checkpoint(queryName: String): String = s"$root/$queryName"
    /** Pin query name + checkpoint slot onto a writer. */
    def attach[T](w: DataStreamWriter[T], queryName: String): DataStreamWriter[T] =
      w.queryName(queryName).option("checkpointLocation", checkpoint(queryName))
  }

  /** Time-tick source (reference: temporal/time_utils.py:31 utc_now):
    * one row per tick carrying the current UTC timestamp. */
  def utcNow(spark: SparkSession, refreshRateSec: Double = 1.0): DataFrame = {
    // the rate source only takes an integer rowsPerSecond: sub-second
    // refresh maps to N rows/s, super-second refresh to 1 row/s thinned
    // to every Nth tick
    val perSec = math.max(1L, math.round(1.0 / refreshRateSec))
    val everyN = math.max(1L, math.round(refreshRateSec))
    spark.readStream.format("rate")
      .option("rowsPerSecond", perSec.toString)
      .load()
      .filter(col("value") % everyN === 0)
      .select(col("timestamp").as("now"))
  }

  /** Inactivity detection (reference: time_utils.py:52): emit
    * (key, last_seen_ms) once a key has been silent past `gap` in event
    * time. flatMapGroupsWithState with event-time timeout — requires a
    * watermark on `tsCol` upstream. */
  def inactivityDetection(df: DataFrame, keyCol: String, tsCol: String,
      gap: String): Dataset[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val ms = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    // NOTE: tsCol must already be a timestamp carrying the upstream
    // watermark — a cast here would create a fresh column and silently
    // drop the watermark tag (Spark then rejects EventTimeTimeout)
    df.select(col(keyCol).cast("string").as("k"), col(tsCol).as("t"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (k: String, rows: Iterator[(String, java.sql.Timestamp)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator((k, last))
          } else {
            val latest = (rows.map(_._2.getTime) ++ state.getOption.iterator).max
            state.update(latest)
            state.setTimeoutTimestamp(latest + ms)
            Iterator.empty
          }
      }
  }
}

/** Keyed state carried by [[Streaming.anomalyStream]]: the exact running
  * sums. Σ and Σ² ride as STRINGS — a plain-string decimal round-trips
  * exactly through any encoder, where a decimal column would pin a
  * (precision, scale) and a double would re-round. Top-level so the
  * encoder's generated accessors resolve (a private nested class broke
  * whole-stage codegen). */
case class ZState(n: Long, sx: String, sxx: String)

/** Keyed state carried by [[Streaming.emaStream]]: the whole EMA state
  * is two numbers (a double round-trips any encoder bit-exactly). */
case class EmaState(n: Long, ema: Double)

/** Keyed state carried by [[Streaming.hllStream]]: arrival count + the
  * dense m-byte HLL register array (rho ≤ 30 fits a byte). Top-level
  * for the same encoder reason as [[ZState]]. */
case class HllState(n: Long, regs: Array[Byte])
