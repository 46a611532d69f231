package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.SegmentStore
import graft.core.SegmentStore.{Family, Meta}

/** Partitioned HNSW ANN (reference:
  * src/external_integration/usearch_integration.rs — the reference
  * links the USearch HNSW library; stdlib/indexing/nearest_neighbors.py:65
  * exposes it as an index choice). Spark-first shape: ONE HNSW graph per
  * partition built inside `mapPartitions` (the index is worker-local
  * state, exactly like the reference's per-worker USearch instances),
  * queries broadcast to every partition, per-partition top-k merged by a
  * global rank window. That is the standard sharded-ANN serving layout:
  * build is embarrassingly parallel, search cost is
  * |queries| × partitions × log(partition size).
  *
  * The graph itself is the textbook Malkov–Yashunin structure
  * (hierarchical layers, greedy descent above layer 0, best-first beam
  * at layer 0) with every source of randomness made deterministic:
  *
  *  - level assignment: u ∈ (0,1) derived from md5(id) instead of a
  *    RNG, so the layer structure is a pure function of the ids;
  *  - all priority orders tie-break on (distance, id) — rebuilds and
  *    engines agree bit-for-bit.
  *
  * Exactness dial (mirrors IVF's nprobe=nlist): when `efSearch` ≥ the
  * partition's row count AND `m` keeps the layer-0 graph connected
  * (m ≥ n links everything), the beam can never fill, best-first
  * degenerates to full traversal of the connected component, and the
  * result is EXACTLY the brute-force top-k — that is the configuration
  * the oracle checks; approximate configurations are spec-checked by
  * recall against brute force.
  */
object Hnsw {

  /** Worker-local HNSW over (id, vector, norm²) rows; cosine metric.
    * `private[graft]` so HnswSpec can unit-test beam-edge cases the
    * sharded path can't pin (partitioning spreads the corpus). */
  private[graft] final class PartIndex(m: Int, efConstruction: Int) {
    private val ids = mutable.ArrayBuffer[Long]()
    private val vecs = mutable.ArrayBuffer[Array[Double]]()
    private val norms = mutable.ArrayBuffer[Double]()
    private val levels = mutable.ArrayBuffer[Int]()
    // links(node)(level) = neighbor node indexes
    private val links = mutable.ArrayBuffer[Array[mutable.ArrayBuffer[Int]]]()
    private var entry = -1
    private var maxLevel = -1
    private val mL = 1.0 / math.log(m.toDouble.max(2.0))

    def size: Int = ids.length

    /** Deterministic level: uniform from the first 8 md5 bytes of the id. */
    private def levelOf(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var bits = 0L
      var i = 0
      while (i < 8) { bits = (bits << 8) | (d(i) & 0xffL); i += 1 }
      val u = ((bits >>> 11).toDouble + 1.0) / (1L << 53).toDouble // (0,1]
      math.floor(-math.log(u) * mL).toInt
    }

    private def dist(q: Array[Double], qn: Double, node: Int): Double = {
      val v = vecs(node)
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += q(i) * v(i); i += 1 }
      1.0 - dot / math.sqrt(qn * norms(node))
    }

    /** Best-first beam search on one layer; returns (dist, node) sorted
      * ascending by (dist, id). `ef` bounds the result beam — when it
      * never fills (ef ≥ reachable nodes) this is a full traversal. */
    private def searchLayer(q: Array[Double], qn: Double, enter: Seq[Int],
        ef: Int, level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      implicit val ord: Ordering[(Double, Int)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val visited = mutable.HashSet[Int]()
      val cand = mutable.PriorityQueue[(Double, Int)]()(ord.reverse) // min-first
      val res = mutable.PriorityQueue[(Double, Int)]()(ord)          // max-first
      enter.foreach { n =>
        if (visited.add(n)) { val d = dist(q, qn, n); cand.enqueue((d, n)); res.enqueue((d, n)) }
      }
      while (res.length > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (cd, cn) = cand.dequeue()
        if (res.length >= ef && cd > res.head._1) { cand.clear() }
        else {
          val nb = links(cn)(level)
          var i = 0
          while (i < nb.length) {
            val n = nb(i)
            if (visited.add(n)) {
              val d = dist(q, qn, n)
              if (res.length < ef || d < res.head._1 ||
                  (d == res.head._1 && ids(n) < ids(res.head._2))) {
                cand.enqueue((d, n)); res.enqueue((d, n))
                while (res.length > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer[(Double, Int)]()
      out ++= res
      out.sortInPlaceBy { case (d, n) => (d, ids(n)) }
      out
    }

    /** Malkov Algorithm 4 (SELECT-NEIGHBORS-HEURISTIC) with pruned-
      * connection backfill: scan candidates nearest-first, keep one only
      * if it is closer to the base point than to every already-kept
      * neighbor (diversity — without this, clustered corpora link each
      * node to near-duplicates only and greedy search cannot cross
      * clusters), then backfill with the pruned remainder up to m. The
      * backfill keeps EVERYTHING when m ≥ candidate count, which is what
      * makes the degenerate regime provably complete. */
    private def selectNeighbors(cands: Seq[(Double, Int)]): Seq[(Double, Int)] = {
      if (cands.lengthCompare(m) <= 0) return cands
      val kept = mutable.ArrayBuffer[(Double, Int)]()
      val pruned = mutable.ArrayBuffer[(Double, Int)]()
      cands.foreach { case (d, c) =>
        if (kept.length < m) {
          val diverse = kept.forall { case (_, s) =>
            dist(vecs(c), norms(c), s) > d }
          if (diverse) kept += ((d, c)) else pruned += ((d, c))
        }
      }
      kept ++= pruned.take(m - kept.length)
      kept.toSeq
    }

    def insert(id: Long, vec: Array[Double]): Unit = {
      var n2 = 0.0
      var i = 0
      while (i < vec.length) { n2 += vec(i) * vec(i); i += 1 }
      val node = ids.length
      val lvl = levelOf(id)
      ids += id; vecs += vec; norms += n2; levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer[Int]())
      if (entry < 0) { entry = node; maxLevel = lvl; return }
      var ep = Seq(entry)
      // greedy descent through layers above the node's top level
      var l = maxLevel
      while (l > lvl) {
        ep = Seq(searchLayer(vec, n2, ep, 1, l).head._2)
        l -= 1
      }
      // connect on each shared layer
      l = math.min(lvl, maxLevel)
      while (l >= 0) {
        val found = searchLayer(vec, n2, ep, efConstruction, l)
        val neigh = selectNeighbors(found.toSeq)
        neigh.foreach { case (_, nb) =>
          links(node)(l) += nb
          links(nb)(l) += node
          if (links(nb)(l).length > m) {
            // re-select the neighbor's list with the same heuristic,
            // relative to the neighbor (tie order by id for determinism)
            val kept = selectNeighbors(
              links(nb)(l)
                .map(x => (dist(vecs(nb), norms(nb), x), x))
                .sortBy { case (d, x) => (d, ids(x)) }.toSeq).map(_._2)
            links(nb)(l).clear(); links(nb)(l) ++= kept
          }
        }
        ep = found.map(_._2).toSeq
        l -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = node }
    }

    /** Persistence dump: one row per node, links as level-indexed
      * arrays. Together with [[PartIndex.restore]] this round-trips the
      * graph EXACTLY (same links, same entry point) — a loaded index
      * answers bit-identically to the index it was saved from. */
    private[graft] def dumpNodes: Iterator[(Int, Long, Array[Double], Int, Seq[Seq[Int]])] =
      ids.indices.iterator.map { n =>
        (n, ids(n), vecs(n), levels(n), links(n).map(_.toSeq).toSeq)
      }
    private[graft] def entryNode: Int = entry
    private[graft] def topLevel: Int = maxLevel

    /** Top-k (id, cosine) by descending cosine; excludes `excludeId`. */
    def search(q: Array[Double], k: Int, efSearch: Int,
        excludeId: Long): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var qn = 0.0
      var i = 0
      while (i < q.length) { qn += q(i) * q(i); i += 1 }
      var ep = Seq(entry)
      var l = maxLevel
      while (l > 0) { ep = Seq(searchLayer(q, qn, ep, 1, l).head._2); l -= 1 }
      // beam ≥ k+1, not k: when excludeId is in the corpus its self-match
      // occupies a beam slot, and a k-wide beam would post-filter down to
      // k−1 results (ADVICE r8 low #1)
      searchLayer(q, qn, ep, math.max(efSearch, k + 1), 0)
        .iterator.map { case (d, n) => (ids(n), 1.0 - d) }
        .filter(_._1 != excludeId).take(k).toSeq
    }
  }

  private[graft] object PartIndex {
    /** Rebuild a dumped graph verbatim — state restore, NOT re-insertion
      * (re-inserting would rebuild links and, with different arrival
      * order, a different graph). Norms are recomputed with the same
      * ascending loop `insert` uses, so they are bit-identical to the
      * saved instance's. `nodes` must be the complete node set of one
      * graph; any order (sorted by node index here). */
    def restore(m: Int, efConstruction: Int,
        nodes: Seq[(Int, Long, Array[Double], Int, Seq[Seq[Int]])],
        entry: Int, maxLevel: Int): PartIndex = {
      val idx = new PartIndex(m, efConstruction)
      nodes.sortBy(_._1).foreach { case (n, id, vec, lvl, lk) =>
        require(n == idx.ids.length,
          s"Hnsw restore: node indexes not contiguous at $n (graph rows missing?)")
        var n2 = 0.0
        var i = 0
        while (i < vec.length) { n2 += vec(i) * vec(i); i += 1 }
        idx.ids += id; idx.vecs += vec; idx.norms += n2; idx.levels += lvl
        idx.links += lk.map(l => mutable.ArrayBuffer.from(l)).toArray
      }
      idx.entry = entry
      idx.maxLevel = maxLevel
      idx
    }
  }

  /** The query side of [[topK]] / [[hnswLoadTopK]], collected for
    * broadcast and sorted by qid. The smallness contract is enforced by
    * [[graft.core.Small.rows]]: one job that stops fetching past
    * `maxQueries` rows, so a giant query table can't OOM the driver
    * before the require names the contract. */
  private def queryRows(queries: DataFrame, qid: Column, qvec: Column,
      maxQueries: Int, who: String): Array[(Long, Array[Double])] = {
    val rows = graft.core.Small.rows(queries.select(qid.cast("long").as("qid"),
      qvec.cast("array<double>").as("qv")), maxQueries)
    require(rows.isDefined,
      s"$who: query side exceeds the broadcast smallness contract " +
        s"(> $maxQueries rows) — raise maxQueries deliberately or batch " +
        s"the queries; the CORPUS side is the distributed one")
    rows.get.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
  }

  /** Sharded HNSW top-k: one index per partition of `data`, queries
    * broadcast, per-shard top-k merged by a global rank window. Returns
    * (query_id, rank, neighbor_id, cosine), rank 1..k.
    *
    * The QUERY side is collected and broadcast — queries are the small
    * probe set by contract (the same smallness contract IVF's centroid
    * table and bruteForce's broadcast side carry); the CORPUS stays
    * fully distributed. Self-matches (same id) are excluded. */
  /** `exact = true` asserts (per shard, where the row count is known)
    * the degenerate-regime precondition `m ≥ n ∧ efSearch ≥ n` that the
    * scaladoc's exactness argument rests on — callers claiming oracle
    * exactness get a loud failure instead of a silently-approximate
    * result if the parameter derivation ever drifts. */
  def topK(queries: DataFrame, data: DataFrame,
      qid: Column, qvec: Column, did: Column, dvec: Column, k: Int,
      m: Int = 16, efConstruction: Int = 64, efSearch: Int = 64,
      exact: Boolean = false, maxQueries: Int = 100000): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(
      queryRows(queries, qid, qvec, maxQueries, "Hnsw.topK"))
    val d = Similarity.spread(
      data.select(did.cast("long").as("id"), dvec.cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
    val perShard = d.mapPartitions { it =>
      val idx = new PartIndex(m, efConstruction)
      // deterministic build order: same rows → same graph, any engine
      it.toArray.sortBy(_._1).foreach { case (id, v) => idx.insert(id, v) }
      if (exact) require(m >= idx.size && efSearch >= idx.size,
        s"Hnsw.topK(exact=true): shard has ${idx.size} rows but m=$m, " +
          s"efSearch=$efSearch — the provably-exact regime needs both ≥ rows/shard")
      if (idx.size == 0) Iterator.empty
      else qB.value.iterator.flatMap { case (q, qv) =>
        idx.search(qv, k, efSearch, excludeId = q)
          .map { case (nid, cos) => (q, nid, cos) }
      }
    }.toDF("query_id", "neighbor_id", "cosine")
    Similarity.rankTopK(perShard, "cosine", k)
  }

  /** One graph per partition of `data`, dumped as parquet-ready rows
    * (shard, node, id, vec, level, links, entry, max_level) — the
    * build half shared by [[hnswSave]] and [[hnswAppend]]. */
  private def buildGraphRows(data: DataFrame, did: Column, dvec: Column,
      m: Int, efConstruction: Int): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = Similarity.spread(
      data.select(did.cast("long").as("id"), dvec.cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
    d.mapPartitions { it =>
      val shard = org.apache.spark.TaskContext.getPartitionId()
      val idx = new PartIndex(m, efConstruction)
      it.toArray.sortBy(_._1).foreach { case (id, v) => idx.insert(id, v) }
      if (idx.size == 0) Iterator.empty
      else {
        val (entry, top) = (idx.entryNode, idx.topLevel)
        idx.dumpNodes.map { case (n, id, vec, lvl, lk) =>
          (shard, n, id, vec, lvl, lk, entry, top)
        }
      }
    }.toDF("shard", "node", "id", "vec", "level", "links", "entry", "max_level")
  }

  /** Persist sharded HNSW graphs: build one [[PartIndex]] per partition
    * of `data` (exactly as [[topK]] would) and serialize each graph as
    * parquet rows — (node, id, vec, level, level-indexed links),
    * partitioned by shard so one query task rebuilds whole graphs from
    * whole files — as one segment of a [[SegmentStore]] generation
    * (so [[hnswAppend]] can grow the index O(new rows)), whose meta
    * record pins (m, efConstruction): search quality is a property of
    * the BUILT graph, so a reader must know what it is probing. Parquet
    * round-trips doubles and int arrays exactly, so a restored graph
    * answers bit-identically to the instance it was saved from
    * (HnswSpec pins this in the approximate regime, where it is NOT
    * implied by exactness).
    *
    * Same build-once/query-many motivation as [[Similarity.ivfSave]]:
    * at corpus scale the graph build (the expensive, insert-ordered
    * part) happens in one batch job; later jobs probe from disk. */
  def hnswSave(data: DataFrame, did: Column, dvec: Column, path: String,
      m: Int = 16, efConstruction: Int = 64): Unit = {
    SegmentStore.save(path, Meta(Family.Hnsw, Seq(m, efConstruction)),
      buildGraphRows(data, did, dvec, m, efConstruction))
    ()
  }

  /** The committed generation of the HNSW index at `path` and its
    * (m, efConstruction). */
  private def openHnsw(path: String): (SegmentStore.Generation, Int, Int) = {
    val g = SegmentStore.open(path).of(Family.Hnsw)
    val Seq(m, efc) = g.meta.geometry
    (g, m, efc)
  }

  /** Incremental index growth — the same SEGMENT model as
    * [[Similarity.ivfAppend]]: build graphs over ONLY `newData` (one
    * per partition, exactly as [[hnswSave]] would) and commit a
    * generation whose manifest = previous segments + the new one. Cost
    * is O(new rows) build + I/O; the graphs already on disk are never
    * read or rewritten — the only way "index the day's ingest" stays
    * affordable when the graphs hold a corpus (reference analog:
    * USearch add-to-index, src/external_integration/
    * usearch_integration.rs — the reference inserts into its live
    * per-worker graph; the at-rest twin of that insert is a new
    * segment now + a fold into the big graph on the compaction
    * cadence, [[hnswCompact]]).
    *
    * Search cost across segments is additive (every graph is probed),
    * so appends degrade query latency linearly in segment count —
    * compact on the usual cadence, like every segmented index here.
    * The caller feeds only NEW ids (the shared segment-store
    * contract); m/efConstruction come from the meta record, so every
    * segment's graphs share the build geometry. Returns the committed
    * generation. */
  def hnswAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newData: DataFrame, did: Column, dvec: Column): Long = {
    val (g, m, efc) = openHnsw(path)
    SegmentStore.append(g, g.meta, buildGraphRows(newData, did, dvec, m, efc))
  }

  /** Fold every appended segment into the base graphs — the USearch
    * add-to-index semantics at the point in the cost model where
    * O(index) work belongs: restore the FIRST segment's graphs
    * verbatim, route each later segment's vectors to a base shard
    * (id mod shard count — deterministic), INSERT them into the
    * restored graph (the true Malkov insert, links re-selected), and
    * commit a one-segment manifest. Search latency returns to
    * one-graph-per-shard; the appended rows become first-class graph
    * citizens (reachable through the full link structure, not just
    * their own small segment's). Idempotent: a second compact of a
    * one-segment index is a no-op. Returns the current generation. */
  def hnswCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    import spark.implicits._
    val (g, m, efc) = openHnsw(path)
    if (g.segments.length <= 1) return g.gen
    val segDirs = g.segmentDirs
    val cols = Seq("shard", "node", "id", "vec", "level", "links",
      "entry", "max_level")
    val base = graft.core.readParquet(spark, segDirs.head)
      .select(cols.head, cols.tail: _*)
    // routing table: the base segment's shard ids (bounded — one per
    // build task), sorted for determinism
    val baseShards = base.select("shard").distinct()
      .collect().map(_.getAs[Int]("shard")).sorted
    if (baseShards.isEmpty) return g.gen // zero-row guard, as everywhere
    val later = segDirs.tail.map(d0 => graft.core.readParquet(spark, d0)
      .select(col("id"), col("vec"))).reduceOption(_ unionByName _)
    val fresh = later match {
      case None => spark.emptyDataset[(Int, Long, Seq[Double])].toDF(
        "shard", "id", "vec")
      case Some(l) => l.withColumn("shard",
        element_at(
          typedLit(baseShards.toSeq),
          (pmod(col("id"), lit(baseShards.length.toLong)) + 1).cast("int")))
    }
    val all = base.withColumn("fresh", lit(false))
      .unionByName(fresh
        .select(col("shard"), lit(-1).as("node"), col("id"), col("vec"),
          lit(-1).as("level"),
          lit(null).cast("array<array<int>>").as("links"),
          lit(-1).as("entry"), lit(-1).as("max_level"),
          lit(true).as("fresh")))
    val folded = all
      .select(col("shard").cast("int"), col("node").cast("int"), col("id"),
        col("vec").cast("array<double>"), col("level").cast("int"),
        col("links"), col("entry").cast("int"), col("max_level").cast("int"),
        col("fresh"))
      .repartition(col("shard"))
      .as[(Int, Int, Long, Seq[Double], Int, Seq[Seq[Int]], Int, Int, Boolean)]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val (old, nw) = rows.partition(!_._9)
          val idx = PartIndex.restore(m, efc,
            old.map(r => (r._2, r._3, r._4.toArray, r._5, r._6)),
            old.head._7, old.head._8)
          nw.sortBy(_._3).foreach { r => idx.insert(r._3, r._4.toArray) }
          val (entry, top) = (idx.entryNode, idx.topLevel)
          idx.dumpNodes.map { case (n, id, vec, lvl, lk) =>
            (shard, n, id, vec, lvl, lk, entry, top)
          }
        }
      }.toDF("shard", "node", "id", "vec", "level", "links", "entry",
        "max_level")
    SegmentStore.compact(g, folded)
  }

  /** Top-k against a [[hnswSave]]d index without rebuilding the graphs.
    * Graph rows shuffle by shard; each task restores its shards' graphs
    * verbatim ([[PartIndex.restore]]) and runs the same beam search as
    * [[topK]] — per-shard top-k, global rank-window merge. The query
    * side keeps [[topK]]'s broadcast smallness contract. `exact = true`
    * asserts the per-shard degenerate-regime precondition like [[topK]]. */
  def hnswLoadTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      efSearch: Int = 64, exact: Boolean = false,
      maxQueries: Int = 100000): DataFrame = {
    import spark.implicits._
    val (g, m, efc) = openHnsw(path)
    val qB = spark.sparkContext.broadcast(
      queryRows(queries, qid, qvec, maxQueries, "Hnsw.hnswLoadTopK"))
    // graphs from different segments are INDEPENDENT (each was built
    // whole), so the group key is (segment, shard) — encoded into one
    // long for the shuffle
    val graphs = g.segmentDirs.zipWithIndex.map { case (d0, i) =>
      graft.core.readParquet(spark, d0)
        .select((lit(i.toLong) * lit(1000000L) +
            col("shard").cast("long")).as("grp"),
          col("node"), col("id"), col("vec"),
          col("level"), col("links"), col("entry"), col("max_level"))
    }.reduce(_ unionByName _)
      .repartition(col("grp"))
      .as[(Long, Int, Long, Seq[Double], Int, Seq[Seq[Int]], Int, Int)]
    val perShard = graphs.mapPartitions { it =>
      // a task may receive several whole graphs (hash co-location) —
      // restore and search each independently
      it.toSeq.groupBy(_._1).iterator.flatMap { case (_, rows) =>
        val idx = PartIndex.restore(m, efc,
          rows.map(r => (r._2, r._3, r._4.toArray, r._5, r._6)),
          rows.head._7, rows.head._8)
        if (exact) require(m >= idx.size && efSearch >= idx.size,
          s"Hnsw.hnswLoadTopK(exact=true): shard has ${idx.size} rows but " +
            s"m=$m, efSearch=$efSearch — the provably-exact regime needs both ≥ rows/shard")
        qB.value.iterator.flatMap { case (q, qv) =>
          idx.search(qv, k, efSearch, excludeId = q)
            .map { case (nid, cos) => (q, nid, cos) }
        }
      }
    }.toDF("query_id", "neighbor_id", "cosine")
    Similarity.rankTopK(perShard, "cosine", k)
  }
}
