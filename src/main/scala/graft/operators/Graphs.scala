package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph algorithms as a library over the iterate driver (reference:
  * stdlib/graphs/pagerank/impl.py:18, bellman_ford/impl.py:42,
  * louvain_communities/impl.py — all composed from core table ops +
  * pw.iterate; same stance here: DataFrames + joins, no engine surgery).
  *
  * Scale notes: every iteration is a constant number of hash joins on the
  * node id — shuffle-partitioned by key, AQE-coalesced. Labels/ranks are
  * localCheckpoint'ed per round (see [[Iterate]]). Connected components
  * uses min-label propagation WITH pointer jumping (label-of-label), so
  * rounds ≈ log(diameter), not diameter — a path graph of length 10^6
  * converges in ~20 rounds instead of 10^6.
  */
object Graphs {

  /** Undirected connected components. `edges` needs `src`/`dst` columns;
    * returns (node, comp) with comp = min node id of the component.
    *
    * Size gate ([[graft.core.Small]]): an edge set of integral, non-null
    * ids that fits the gate — the per-refresh near-dup edges of
    * [[Dedup.canonicalize]] are a few dozen rows — is collected in one
    * job (none when it is already a local relation) and solved by
    * union-find on the driver; the answer comes back as a local
    * relation. The distributed fixpoint below costs ~30 jobs
    * (half of them broadcast builds) on such a graph. Larger graphs,
    * and string/binary ids, run the fixpoint. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsGated(edges, maxIter, graft.core.Small.MaxRows)

  /** [[connectedComponents]] with an explicit gate size — 0 forces the
    * distributed fixpoint on any non-empty graph (the equivalence specs
    * drive both sides through here). */
  private[graft] def connectedComponentsGated(edges: DataFrame, maxIter: Int,
      maxRows: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val idType = e.schema("src").dataType
    val local = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        graft.core.Small.rows(edges.select(col("src").cast(idType),
            col("dst").cast(idType)), maxRows)
          .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      case _ => None
    }
    local match {
      case Some(rows) => unionFind(edges.sparkSession, rows, idType)
      case None => ccFixpoint(e, maxIter)
    }
  }

  /** Components of collected integral-id edge rows, comp = min id — the
    * driver half of [[connectedComponents]]. Every node joins the root
    * with the smaller id, so each root is its component's minimum. */
  private def unionFind(spark: org.apache.spark.sql.SparkSession,
      rows: Array[Row], idType: DataType): DataFrame = {
    val parent = scala.collection.mutable.LinkedHashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def node(v: Any): Long = {
      val x = v.asInstanceOf[Number].longValue
      if (!parent.contains(x)) parent(x) = x
      x
    }
    rows.foreach { r =>
      val a = find(node(r.get(0)))
      val b = find(node(r.get(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val box: Long => Any = idType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val out = parent.keys.toSeq.map(x => Row(box(x), box(find(x))))
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("node", idType), StructField("comp", idType))))
  }

  /** The distributed half of [[connectedComponents]]: min-label
    * propagation with pointer jumping over the symmetrized edges. */
  private def ccFixpoint(symEdges: DataFrame, maxIter: Int): DataFrame = {
    // eager-cache the symmetrized edge set: it is re-joined EVERY round,
    // and an uncached `edges` would re-evaluate the caller's whole edge
    // derivation (for LSH clustering, the 24-plane bucket projection)
    // once per iteration
    val sym = graft.core.Caches.eager(symEdges)
    val init = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    // convergence probe: min-label propagation is MONOTONE (comp never
    // increases), so for NUMERIC ids the label total strictly decreases
    // until the fixpoint — equal totals ⇔ no node changed. Two scalar
    // aggregates over already-checkpointed frames, replacing the
    // join-shuffle probe (one fewer shuffle per probe on every CC
    // consumer: q_connected_components, lshCluster, dedup canonicalize).
    // decimal(38,0) keeps the sum exact at any id scale.
    // `sum` over ZERO rows is SQL-null — Option-wrap both sides so an
    // empty edge set (a duplicate-free corpus reaching here through
    // Dedup.canonicalize / Similarity.lshCluster) reads as converged
    // instead of NPEing on compareTo.
    // NON-numeric ids (string/binary doc hashes) would cast to NULL and
    // fake instant convergence — for those the probe falls back to a
    // changed-label count (one extra join per probe, numerically exact).
    val numericIds = init.schema("comp").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def tot(df: DataFrame) = Option(
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0))
    def changed(prev: DataFrame, next: DataFrame): Long =
      next.join(prev.select(col("node"), col("comp").as("_pc")), "node")
        .filter(!(col("comp") <=> col("_pc"))).count()
    Iterate.fixpoint(init, maxIter,
      (prev, next) =>
        if (numericIds) { if (tot(next) == tot(prev)) 0L else 1L }
        else changed(prev, next),
      checkEvery = 2) { labels =>
      // min over neighbors' components
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("comp").as("nc")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("nc")).as("nbr"))
      // checkpoint before self-joining (Caches.loopState — the
      // double-reference discipline): otherwise each join side
      // re-derives the whole step sub-plan
      val stepped = graft.core.Caches.loopState(
        labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"), least(col("comp"), col("nbr")).as("comp")))
      // pointer jump: comp <- comp(comp); halves path lengths per round
      stepped
        .join(stepped.select(col("node").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left")
        .select(col("node"), coalesce(col("cc"), col("comp")).as("comp"))
    }
  }

  /** PageRank, fixed iterations, non-redistributing dangling nodes
    * (rank mass leaks — documented variant; reference pagerank/impl.py
    * also iterates a fixed/adaptive number of rounds). */
  def pagerank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val e = graft.core.Caches.eager(edges.select("src", "dst"))
    val nodes = graft.core.Caches.cache(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    val outDeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val withDeg = graft.core.Caches.cache(nodes.join(outDeg, Seq("node"), "left"))
    val init = withDeg.withColumn("rank", lit(1.0 / n))
    Iterate.iterateFixed(init, iterations) { ranks =>
      val contribs = e
        .join(ranks.select(col("node").as("src"),
          (col("rank") / col("deg")).as("c")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("contrib"))
      withDeg.join(contribs, Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }.select("node", "rank")
  }

  /** Deterministic Louvain-style community detection (reference:
    * stdlib/graphs/louvain_communities/impl.py:225 — asynchronous local
    * moving with RANDOM symmetry breaking, which is not cross-engine
    * reproducible; this is the deterministic twin).
    *
    * Semantics: synchronous local-moving rounds over unit-weight
    * undirected edges. Each round every node evaluates, for each
    * neighbor community C (plus staying put), the standard modularity
    * gain of joining C with itself removed from its own community:
    * ΔQ ∝ k_iC − deg_i·Σtot_C / 2m. Two determinism decisions:
    *
    *  - gains are compared EXACTLY: the comparison is scaled by 2m into
    *    pure integer arithmetic (score = k_iC·2m − deg_i·tot'_C, all
    *    BIGINT) — no float division anywhere, so every engine picks the
    *    identical move;
    *  - ties break toward the smallest community id (total order), the
    *    role the reference fills with randomness.
    *
    * `rounds` is FIXED, not run-to-convergence: a synchronous schedule
    * can oscillate on symmetric graphs, and a fixed recurrence is what
    * lets the DuckDB oracle replay the exact same evolution unrolled.
    * Scale shape: per round, two aggregations and three hash joins, all
    * keyed on node/community — the same shuffle profile as one CC round;
    * labels are eager-cached per round so the plan stays bounded.
    * Returns (node, comm). */
  def louvain(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(edges.schema("src").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType] &&
      edges.schema("dst").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      "louvain requires numeric node ids — hash or dense-rank ids first")
    val sym = graft.core.Caches.eager(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = graft.core.Caches.cache(
      sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).cast("long").as("deg")))
    val m2 = sym.count() // = 2m for unit weights
    var labels = deg.select(col("node"), col("node").as("comm"))
    for (_ <- 1 to rounds) {
      val tot = labels.join(deg, "node").groupBy("comm")
        .agg(sum("deg").as("tot"))
      // k_iC: edge count from each node into each neighbor community
      val kic = sym
        .join(labels.select(col("node").as("dst"), col("comm")), "dst")
        .groupBy(col("src").as("node"), col("comm"))
        .agg(count(lit(1)).cast("long").as("k"))
      // candidate set = neighbor communities ∪ own community (k may be 0
      // for a singleton's own community; max() keeps the real k when the
      // node also has edges into its own community)
      val cand = kic
        .unionByName(labels.select(col("node"), col("comm"), lit(0L).as("k")))
        .groupBy("node", "comm").agg(max("k").as("k"))
      val scored = graft.core.Caches.eager(cand
        .join(deg, "node")
        .join(labels.select(col("node"), col("comm").as("own")), "node")
        .join(tot, "comm")
        // remove the node from its own community before comparing
        .withColumn("tadj", when(col("comm") === col("own"),
          col("tot") - col("deg")).otherwise(col("tot")))
        .select(col("node"), col("comm"),
          (col("k") * lit(m2) - col("deg") * col("tadj")).as("score")))
      // argmax as max-then-join-back-then-min: both aggregates are plain
      // scalar max/min over exact BIGINTs, so every round's label update
      // HASH-aggregates — the max(struct(score, -comm)) formulation
      // planned a SortAggregate each round (struct buffers aren't
      // hash-aggregable; the CLAUDE.md trap) in the hot loop of the
      // second-slowest bench query. Semantics identical: max score,
      // ties to the smallest community id. `scored` is eager-cached, so
      // the two consumers read one materialization. Caches.loopState
      // (checkpoint, not eager-cache) for the round result: labels
      // references scored TWICE, the double-reference lineage trap the
      // helper's scaladoc documents (2^rounds analysis, measured 118 s
      // at sf0.001).
      labels = graft.core.Caches.loopState(
        scored.groupBy("node").agg(max("score").as("score"))
          .join(scored, Seq("node", "score"))
          .groupBy("node").agg(min("comm").as("comm")))
    }
    labels.select(col("node"), col("comm"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph (`edges` needs src/dst; direction, duplicates and
    * self-loops are normalized away). Returns
    * (node, degree, triangles, coeff) for every node with an edge,
    * coeff = 2·triangles / (degree·(degree−1)) (0 when degree < 2).
    *
    * Scale shape — DEGREE-ORIENTED compact-forward: every undirected
    * edge is directed from its lower-(degree, id) endpoint, which turns
    * the graph acyclic with per-node out-degree O(√m) even around hubs,
    * so the wedge self-join materializes O(m^1.5) candidate pairs
    * instead of Σ deg² (a single celebrity node would otherwise square
    * its degree through the shuffle — the classic triangle-count
    * blowup). Each triangle is found exactly once (its rank-lowest
    * vertex owns it), then credited to all three corners by one
    * explode + count. Three shuffles total: degree agg, wedge join,
    * closing-edge semi-join. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = graft.core.Caches.eager(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = graft.core.Caches.eager(
      canon.select(col("a").as("n")).union(canon.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("degree")))
    val withDeg = canon
      .join(deg.select(col("n").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("degree").as("db")), "b")
    def rank(d: Column, n: Column) = struct(d.as("d"), n.as("i"))
    val aFirst = rank(col("da"), col("a")) < rank(col("db"), col("b"))
    // oriented edge (u → v) with v's rank struct carried for wedge order
    val o = graft.core.Caches.eager(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, rank(col("db"), col("b")))
        .otherwise(rank(col("da"), col("a"))).as("rv")))
    val e1 = o.select(col("u"), col("v").as("x"), col("rv").as("rx"))
    val e2 = o.select(col("u"), col("v").as("y"), col("rv").as("ry"))
    // wedges (x ← u → y) with rank(x) < rank(y); the closing edge, if
    // present, is oriented x → y by construction
    val wedges = e1.join(e2, "u").filter(col("rx") < col("ry"))
      .select(col("u"), col("x"), col("y"))
    val tri = wedges.join(
      o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(coalesce(col("triangles"), lit(0L)) * 2.0 /
            (col("degree") * (col("degree") - 1))).as("coeff"))
  }

  /** Single-source shortest paths by iterative relaxation
    * (reference: stdlib/graphs/bellman_ford/impl.py:42). `edges` needs
    * src/dst/weight; returns (node, dist) for reachable nodes only. */
  def bellmanFord(edges: DataFrame, source: Column, maxIter: Int = 50): DataFrame = {
    val e = graft.core.Caches.eager(edges.select("src", "dst", "weight"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val init = nodes.join(
        nodes.filter(col("node") === source).select(col("node"), lit(0.0).as("dist")),
        Seq("node"), "left")
      .filter(col("dist").isNotNull)
    Iterate.fixpoint(init, maxIter, (prev, next) =>
      next.join(prev.withColumnRenamed("dist", "pd"), Seq("node"), "left")
        .filter(col("pd").isNull || col("dist") < col("pd")).count()) { dists =>
      val relaxed = e
        .join(dists.select(col("node").as("src"), col("dist").as("sd")), "src")
        .select(col("dst").as("node"), (col("sd") + col("weight")).as("dist"))
      dists.select(col("node"), col("dist")).union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
  }
}
