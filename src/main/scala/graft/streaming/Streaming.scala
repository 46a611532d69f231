package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.core.SegmentStore
import graft.core.SegmentStore.{Family, Generation, Meta}

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
    * segment count. With `compactEvery = N > 0` the append of every
    * N-th batch IS the compaction: the index's signatures plus the
    * batch's survivors' are written as its only segment, in one write
    * ([[graft.core.SegmentStore.fold]]; no re-shingling, probe results
    * unchanged). A slot batch with no survivor to add, or an empty one,
    * compacts the index when it has more than one segment. So after
    * every N-th batch the index is one segment. All of it runs INSIDE
    * the foreachBatch — the same thread as the appends, so the
    * single-writer contract holds by construction, no pausing the
    * stream; 0 disables (compact manually between runs with
    * [[graft.operators.Dedup.signatureCompact]]). The same
    * save-is-append's-compaction cadence as ivfSave/ivfAppend. Returns
    * the unstarted writer. */
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
          // cadence keyed to batchId: a slot batch's append folds the
          // index to one segment; a retried batch folds again, which
          // leaves one segment too
          val fold = compactEvery > 0 && (batchId + 1) % compactEvery == 0
          if (!batch.isEmpty) {
            val survivors = graft.operators.Dedup.dedupRefreshWith(
              batch.sparkSession, indexPath, batch.toDF(), id, text,
              threshold, estThreshold, maxDf, fold = fold)._1
            // skip all-dup batches: a zero-row FIRST append could leave a
            // schema-less survivors dir (only _SUCCESS) that fails reads
            if (!survivors.isEmpty)
              survivors.write.mode("append").parquet(survivorsOut)
          }
          // an empty batch on a slot appends nothing but must not defer
          // the fold to the next multiple (sparse sources can skip many)
          else if (fold)
            graft.operators.Dedup.compactSlot(batch.sparkSession, indexPath)
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
    * or land through the upsert sink). With `compactEvery = N > 0` the
    * appends of every N-th batch are the compaction: each gate index's
    * committed rows plus the batch's new ones are written as its only
    * segment, in one write, on this thread (single-writer holds), and a
    * gate index the batch adds nothing to — an empty batch's two —
    * is compacted when it has more than one segment. Same cadence
    * contract as the gated buildStream. */
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
          // cadence keyed to batchId, as in dedupRefreshStream
          val fold = compactEvery > 0 && (batchId + 1) % compactEvery == 0
          if (!batch.isEmpty) {
            // eager: the isEmpty probe and the write would otherwise
            // each run the decontaminate→sample→pack tail (the gate
            // frames upstream ARE checkpointed, but the window-heavy
            // pack stage re-executed per consumer); drained below
            val packed = graft.core.Caches.eager(
              graft.operators.Pipelines.pretrainRefresh(
                batch.toDF(), id, text, markers, keepLang, stopwords,
                minQuality, blocklist, hashIndex, sigIndex,
                heldout, heldoutText, ngram, sampleRate, salt,
                packBudget, packBuckets, nearDup, estThreshold, fold))
            // zero-row FIRST append guard, as everywhere
            if (!packed.isEmpty)
              packed
                .withColumn("refresh", lit(batchId + 1))
                .write.mode("append").parquet(packedOut)
          }
          // an empty batch on a slot must not defer the fold to the next
          // multiple (sparse/bursty sources can skip many slots)
          else if (fold)
            Seq(hashIndex, sigIndex).foreach(
              graft.operators.Dedup.compactSlot(batch.sparkSession, _))
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
    * [[graft.sources.Cdc.applyLatest]] rule — and publishes the result
    * as a new [[graft.core.SegmentStore]] generation: the merged table
    * is written into a staged generation, and one atomic marker rename
    * ([[graft.core.IndexGen.commit]]) makes it the snapshot. A reader
    * ([[readSnapshot]]) resolves the committed generation once, so it
    * sees one complete batch boundary; the previous generation stays on
    * disk until the next commit, so a reader that resolved it finishes
    * its scan.
    *
    * Tombstones are RETAINED in the snapshot (deleteCol = true rows)
    * rather than dropped: a dropped tombstone would let an
    * out-of-order insert from a later batch resurrect the key. Filter
    * them on read with [[readSnapshot]] — the same retain-until-vacuum
    * discipline Delta uses. The foreachBatch checkpoint gives
    * exactly-once batch replay, and the merge itself is idempotent
    * (max-by-order over a union), so a batch that crashed before its
    * commit replays onto the last committed snapshot and converges to
    * the same state; its staged generation is pruned by the next
    * commit.
    *
    * Scale note: rewrites the whole snapshot per batch (what a
    * compacting MERGE does at file granularity) — the right shape for
    * dimension-sized state; fact-sized state wants
    * [[upsertParquetSinkPartitioned]], which rewrites only the key-hash
    * buckets a batch touches. Renames are atomic on a real filesystem;
    * object stores want their own versioned-pointer story. */
  def upsertParquetSink(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    upsertSink(events, keys, orderCol, path, checkpoint, grace = 1)

  /** Version-retaining variant of [[upsertParquetSink]] — Delta TIME
    * TRAVEL without the jar (reference: DeltaTableWriter
    * data_storage.rs:1611 writes a Delta log whose versions stay
    * readable via `versionAsOf`): the same generation per micro-batch,
    * with the last `keepVersions` generations kept on disk for as-of
    * reads.
    *
    *  - [[readSnapshotAsOf]] with no version reads the committed
    *    generation; with a version it reads that retained generation —
    *    a consistent historical state at a batch boundary;
    *  - [[snapshotVersions]] lists what is still readable — committed
    *    generations only, never a staged one a crash left behind;
    *  - retention is enforced AT COMMIT (generations older than
    *    `current - keepVersions` are pruned), so disk stays bounded at
    *    keepVersions × snapshot bytes with no separate vacuum job.
    *
    * Same crash contract and dimension-sized-state scale contract as
    * [[upsertParquetSink]]; each version is a full snapshot copy, which
    * is the price of log-free time travel. */
  def upsertParquetSinkVersioned(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String, keepVersions: Int = 8): DataStreamWriter[Row] = {
    require(keepVersions >= 1,
      s"upsertParquetSinkVersioned: keepVersions must be >= 1, got $keepVersions")
    // grace counts generations BELOW current: keepVersions total
    upsertSink(events, keys, orderCol, path, checkpoint,
      grace = (keepVersions - 1).toLong)
  }

  /** The whole-snapshot sink: each batch merges into the committed
    * snapshot and publishes one generation, keeping `grace` committed
    * generations below it. */
  private def upsertSink(events: DataFrame, keys: Seq[String],
      orderCol: String, path: String, checkpoint: String,
      grace: Long): DataStreamWriter[Row] =
    events.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val b = batch.persist()
        val all = snapshotOf(path, Family.Snapshot).fold(b.toDF())(
          _.rows(batch.sparkSession).unionByName(b, allowMissingColumns = false))
        SegmentStore.save(path, Meta(Family.Snapshot),
          graft.operators.ColUtils.argmaxRowsOrdered(all, keys.map(col),
            col(orderCol)), grace = grace)
        b.unpersist()
        ()
      }

  /** The committed generation of the snapshot at `path`, checked to
    * hold `family`; None when nothing was committed there. A dir in the
    * layout written before snapshots were generations (parquet files or
    * `b=<i>` bucket dirs at its root, a `_buckets` marker) fails and
    * names the path instead of being taken for an empty snapshot. */
  private def snapshotOf(path: String, family: Family): Option[Generation] =
    graft.core.IndexGen.current(path).map(_ => SegmentStore.open(path).of(family))
      .orElse {
        val old = Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
          .filter(n => n == "_buckets" || n.endsWith(".parquet") || n.startsWith("b="))
        require(old.isEmpty, s"$path holds a snapshot in the layout written " +
          s"before snapshots were published as generations (${old.head}); " +
          "replay its change log into a new path")
        None
      }

  /** Read the live rows of an [[upsertParquetSinkVersioned]] snapshot at
    * the committed version (default) or any retained one — tombstones
    * filtered, bookkeeping columns dropped, like [[readSnapshot]].
    * An unretained/unknown version fails loudly. */
  def readSnapshotAsOf(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String, version: Option[Long] = None): DataFrame = {
    val g = version match {
      case Some(v) =>
        require(graft.core.IndexGen.versions(path).contains(v),
          s"readSnapshotAsOf: version $v not retained at $path — " +
            s"available: ${graft.core.IndexGen.versions(path).mkString(",")}")
        SegmentStore.openAt(path, v)
      case None => SegmentStore.open(path)
    }
    g.of(Family.Snapshot).rows(spark)
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
    * state: the snapshot is a [[graft.core.SegmentStore]] of the
    * `Buckets` family whose segments are buckets — each segment holds
    * one `b=<i>` dir (`buckets` of them at most, key-hash assigned) —
    * and a micro-batch merges + rewrites ONLY the buckets its keys
    * touch: cost per batch is O(touched-bucket bytes), not O(snapshot
    * bytes). The merge for all touched buckets is ONE Spark job (staged
    * `partitionBy("b")` write); the new generation's manifest swaps in
    * the touched buckets' new segments and carries every other bucket
    * by reference, and one marker rename publishes them all.
    *
    * Consistency: a reader ([[readSnapshotPartitioned]]) resolves one
    * generation, so it sees every key at the same batch boundary — the
    * cross-key atomicity the reference's DeltaTableWriter
    * (data_storage.rs:1611) gets from one log commit. The bucket count
    * is the generation's geometry and the family name pins the murmur3
    * hash: a restart with another count fails loudly instead of routing
    * a key's update to another bucket than its current row.
    *
    * Crash safety is the whole sink's: a batch that crashed before its
    * commit left a staged generation and orphan segments, which the next
    * commit prunes; the checkpoint replays the batch, and the per-bucket
    * merge is idempotent. */
  def upsertParquetSinkPartitioned(events: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: String, path: String,
      checkpoint: String, buckets: Int = 32): DataStreamWriter[Row] =
    events.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        require(!batch.columns.contains("b"),
          "upsertParquetSinkPartitioned: the stream must not carry a column " +
            "named 'b' — it is the snapshot's bucket-partition column")
        val meta = Meta(Family.Buckets, Seq(buckets))
        val g = snapshotOf(path, Family.Buckets)
        g.foreach(g => require(g.meta == meta,
          s"upsertParquetSinkPartitioned: snapshot at $path was written as " +
            s"${g.meta}, restarted as $meta — the key→bucket mapping would " +
            "break; keep the original count"))
        val bCol = pmod(hash(keys.map(col): _*), lit(buckets))
        val b = batch.persist()
        val touched = b.select(bCol.as("b")).distinct()
          .collect().map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val old = g.toSeq.flatMap(g =>
            bucketSegments(g).collect { case (i, s) if touched(i) => s })
          val all =
            if (old.isEmpty) b.toDF()
            else g.get.copy(segments = old).rows(batch.sparkSession).drop("b")
              .unionByName(b, allowMissingColumns = false)
          val merged = graft.operators.ColUtils.argmaxRowsOrdered(
            all, keys.map(col), col(orderCol))
          SegmentStore.publishPartitions(path, meta,
            g.toSeq.flatMap(_.segments).diff(old), merged.withColumn("b", bCol))
        }
        b.unpersist()
        ()
      }

  private val BucketDir = "b=(\\d+)".r

  /** The bucket each segment of a bucketed snapshot holds, from a
    * driver-side listing of the segment dirs. */
  private def bucketSegments(g: Generation): Seq[(Int, String)] =
    g.segments.flatMap(s => Option(new java.io.File(g.path, s).list())
      .getOrElse(Array.empty[String]).collect { case BucketDir(i) => i.toInt -> s })

  /** Read the live rows of an [[upsertParquetSinkPartitioned]] snapshot —
    * tombstones filtered, bookkeeping + bucket columns dropped. */
  def readSnapshotPartitioned(spark: SparkSession, path: String,
      orderCol: String, deleteCol: String): DataFrame =
    SegmentStore.open(path).of(Family.Buckets).rows(spark)
      .filter(!col(deleteCol)).drop(orderCol, deleteCol, "b")

  /** Compact the buckets of an [[upsertParquetSinkPartitioned]]
    * snapshot down to one file per bucket — the small-file maintenance
    * job (Delta OPTIMIZE analog). Each bucket rewrite leaves up to
    * shuffle-partitions part files holding that bucket's rows; over a
    * long-lived 100 TB snapshot the file count (not the byte count) is
    * what degrades scan planning and open() overhead. Compaction is pure
    * file-count reduction: every bucket already IS its complete
    * latest-per-key folded state (each batch rewrites a touched bucket
    * whole), so no merge logic runs — rows are rewritten unchanged, and
    * [[readSnapshotPartitioned]] is identical before and after.
    *
    * One Spark job for all compactable buckets (their segments read →
    * `repartition(col("b"))` so each bucket lands in one task → staged
    * `partitionBy("b")` write), published as one more generation, like
    * a batch. Run it like [[vacuumSnapshot]] — between batches, not
    * concurrently with an active sink (single writer).
    *
    * Returns the number of buckets compacted (those with >1 data file). */
  def compactBuckets(spark: SparkSession, path: String): Int = {
    val g = SegmentStore.open(path).of(Family.Buckets)
    def dataFiles(seg: String): Int =
      Option(new java.io.File(g.path, seg).listFiles).getOrElse(Array.empty[java.io.File])
        .flatMap(d => Option(d.listFiles).getOrElse(Array.empty[java.io.File]))
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val todo = g.segments.filter(dataFiles(_) > 1)
    if (todo.nonEmpty)
      SegmentStore.publishPartitions(path, g.meta, g.segments.diff(todo),
        g.copy(segments = todo).rows(spark).repartition(todo.length, col("b")))
    todo.length
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
    * The vacuumed snapshot is published as one more generation, like a
    * batch (a crash leaves the previous one committed — vacuum is
    * maintenance, not data). Run it BETWEEN batches of the owning query:
    * one writer per snapshot path. */
  def vacuumSnapshot(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String, horizon: Long): Unit =
    snapshotOf(path, Family.Snapshot).foreach(g => SegmentStore.compact(g,
      g.rows(spark).filter(!col(deleteCol) || col(orderCol) > lit(horizon))))

  /** [[vacuumSnapshot]] for an [[upsertParquetSinkPartitioned]] layout:
    * every bucket is rewritten through one staged partitionBy job and
    * published as one more generation. */
  def vacuumSnapshotPartitioned(spark: SparkSession, path: String,
      orderCol: String, deleteCol: String, horizon: Long): Unit =
    snapshotOf(path, Family.Buckets).foreach(g =>
      SegmentStore.publishPartitions(path, g.meta, Nil,
        g.rows(spark).filter(!col(deleteCol) || col(orderCol) > lit(horizon))))

  /** Read the live rows of an [[upsertParquetSink]] snapshot —
    * tombstoned keys filtered, bookkeeping columns dropped. */
  def readSnapshot(spark: SparkSession, path: String, orderCol: String,
      deleteCol: String): DataFrame =
    readSnapshotAsOf(spark, path, orderCol, deleteCol)

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
