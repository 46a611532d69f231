package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for training-data pipelines (beyond the
  * reference's LSH clustering: the k-means family SemDeDup-style
  * semantic curation is built on).
  *
  * Deterministic twin of Lloyd's algorithm — the same trick as
  * [[Graphs.louvain]]'s integer gains: every arithmetic step is either
  * exact or an identical in-order IEEE expression on every engine, so a
  * DuckDB oracle replays assignments bit-for-bit:
  *
  *  - vectors are L2-normalized up front (norm is one in-order dot);
  *  - init: the k md5-smallest rows are the seed centroids (the same
  *    replayable-uniform-sample trick as the IVF coarse quantizer),
  *    cid = 1..k in md5 order;
  *  - assign: argmin L2 distance via |c|² − 2·x·c (the |x|² term is
  *    constant per row), ties to the smallest cid — exact doubles;
  *  - update: the float-summation-order trap in the centroid MEAN is
  *    closed by summing 2⁻³⁰-quantized components as BIGINTs (exact,
  *    order-free) and dividing once — centroids are identical rationals
  *    on every engine. The back-cast of the BIGINT sum to double is
  *    itself exact only while |sum| < 2⁵³, i.e. up to ~2²³ members per
  *    cluster for unit-normalized components (2⁻³⁰ quantization); past
  *    that the cast rounds — still DETERMINISTIC across engines (both
  *    round the identical integer the identical IEEE way), merely no
  *    longer the exact mean. Clusters that lose all members drop out
  *    (standard Lloyd behavior), deterministically.
  *
  * Scale shape: each round ships the k-row centroid model inside one
  * native argmin expression (a pure scan — no pair rows, no shuffle
  * grows with k) + one (k·dim)-group aggregate — the classic
  * distributed Lloyd round. `rounds` is a fixed constant, as in every
  * production k-means at corpus scale.
  */
object Clustering {

  private val Scale = 1L << 30

  /** L2-normalize (shared recipe: norm floored at 1e-30). */
  private def normed(df: DataFrame, id: Column, vec: Column): DataFrame =
    Similarity.spread(df)
      .select(id.as("id"), vec.cast("array<double>").as("v"))
      .withColumn("_n", greatest(sqrt(Similarity.norm2(col("v"))), lit(1e-30)))
      // zip_with, not `x => x / col("_n")`: the norm's dot fold would
      // re-evaluate per element via lambda-reference inlining
      .withColumn("v",
        zip_with(col("v"), array_repeat(col("_n"), size(col("v"))),
          (x, nn) => x / nn))
      .drop("_n")

  /** Argmin-distance assignment of every row of `d` (id, v) against the
    * centroid table (cid, cv, cvn2): returns (id, v, cluster). One
    * native [[graft.plans.NearestCentroidExpr]] pass per row (byL2:
    * argmin of cvn2 − 2·x·c, tie → smallest cid) against the collected
    * k-row model — the crossJoin + max(struct(-dist, -cid)) formulation
    * planned a SortAggregate over |corpus|·k pair rows and a join-back;
    * collecting k rows per round is the k-means playbook (one winner row
    * per round is already the BPE/louvain discipline). */
  private def assign(d: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cid").cast("long"), col("cv"), col("cvn2"))
      .collect()
    if (rows.isEmpty)
      return d.select(col("id"), col("v"),
        lit(null).cast("int").as("cluster")).filter(lit(false))
    d.select(col("id"), col("v"),
      graft.plans.VecExprs.nearestCentroidOf(col("v"), rows.toSeq, byL2 = true)
        .cast("int").as("cluster"))
  }

  /** Recompute centroids as exact-integer means of their members. */
  private def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster").as("cid"), posexplode(col("v")).as(Seq("di", "x")))
      .groupBy("cid", "di")
      .agg(sum(floor(col("x") * lit(Scale) + lit(0.5))).as("sv"),
        count(lit(1)).as("n"))
      .withColumn("c", col("sv").cast("double") /
        (col("n") * lit(Scale)).cast("double"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("di"), col("c")))),
        e => e.getField("c")).as("cv"))
      .withColumn("cvn2", Similarity.norm2(col("cv")))

  /** Train centroids only: `rounds` Lloyd iterations from the md5-sample
    * seed. Returns the centroid table (cid, cv, cvn2) — broadcast-sized,
    * the MODEL. At corpus scale this is the fit-once half: train on a
    * sample or one pass, persist with [[kmeansSave]], and assign any
    * number of later corpora against it without re-fitting. */
  def kmeansFit(df: DataFrame, id: Column, vec: Column, k: Int,
      rounds: Int): DataFrame = {
    require(k > 0 && rounds >= 0, s"kmeans: need k > 0, rounds >= 0")
    val d = graft.core.Caches.eager(normed(df, id, vec))
    // v.isNotNull: a NULL embedding sampled into the seed would NPE the
    // driver-side collect in assign (NULL rows themselves just get a
    // NULL cluster — see assign's expression null propagation)
    val seed = d.filter(col("v").isNotNull)
      .orderBy(md5(col("id").cast("string"))).limit(k)
      .withColumn("cid", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(md5(col("id").cast("string")))))
      .select(col("cid"), col("v").as("cv"))
      .withColumn("cvn2", Similarity.norm2(col("cv")))
    var cents = graft.core.Caches.eager(seed)
    for (_ <- 0 until rounds)
      cents = graft.core.Caches.eager(update(assign(d, cents)))
    cents
  }

  /** Assign rows to a trained centroid table — the k-row model rides in
    * one native argmin expression (no pair rows, no aggregate, no
    * shuffle at all), so assignment is a pure scan whatever k is: the
    * 100 TB-corpus half of the fit/assign split. Returns
    * (node, cluster). */
  def kmeansAssign(df: DataFrame, id: Column, vec: Column,
      cents: DataFrame): DataFrame =
    assign(normed(df, id, vec), cents)
      .select(col("id").as("node"), col("cluster"))

  /** Deterministic k-means over an embedding column: `rounds` Lloyd
    * iterations (assign + centroid update) from the md5-sample seed,
    * then one final assignment. Returns (node, cluster) — cluster ids
    * are seed ranks 1..k (clusters may be fewer if some lost every
    * member). `rounds = 0` assigns against the raw seed sample. */
  def kmeans(df: DataFrame, id: Column, vec: Column, k: Int,
      rounds: Int): DataFrame =
    kmeansAssign(df, id, vec, kmeansFit(df, id, vec, k, rounds))

  /** Persist a fitted centroid table (the model — k rows). Atomically
    * versioned like every index save ([[graft.core.IndexGen]]): a
    * re-fit publishes with one marker rename, so a concurrent
    * [[kmeansLoadAssign]] reads a complete model, old or new. */
  def kmeansSave(cents: DataFrame, path: String): Unit = {
    val (dir, gen) = graft.core.IndexGen.stage(path)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    graft.core.IndexGen.commit(path, gen)
  }

  /** Assign against a [[kmeansSave]]d model without re-fitting. */
  def kmeansLoadAssign(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, id: Column, vec: Column): DataFrame = {
    val dir = graft.core.IndexGen.readDir(path)
    kmeansAssign(df, id, vec, spark.read.parquet(s"$dir/centroids"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: k-means
    * the embedding space, then drop near-identical pairs WITHIN each
    * cluster — the cluster restriction is what keeps the pairwise work
    * per-cluster instead of corpus-quadratic; the same blocked-pairs
    * shape as [[Dedup]]'s LSH banding, with semantic rather than lexical
    * blocks).
    *
    * Deterministic keep rule (in place of the paper's random/centroid
    * choice): a row is DROPPED iff some same-cluster row with a smaller
    * id has cosine ≥ `tau` with it — so every near-dup group keeps
    * exactly its smallest surviving chain head, replayable as a single
    * EXISTS. Returns (node, cluster, kept). */
  def semDedup(df: DataFrame, id: Column, vec: Column, k: Int,
      rounds: Int, tau: Double): DataFrame = {
    val d = graft.core.Caches.eager(
      normed(df, id, vec).withColumn("n2", Similarity.norm2(col("v"))))
    val cl = graft.core.Caches.eager(
      kmeans(df, id, vec, k, rounds)
        .join(d, col("node") === col("id"))
        .select(col("node"), col("cluster"), col("v"), col("n2")))
    // per-cluster pairwise (the SemDeDup cost contract); the equi-join on
    // cluster is the block, smaller-id side provides the drop witness
    val cp = graft.core.Caches.eager(
      Similarity.fanoutRepartition(cl, col("cluster")))
    val witness = cp.as("a").join(cp.as("b"),
        col("a.cluster") === col("b.cluster") &&
        col("a.node") < col("b.node") &&
        Similarity.cosinePrenorm(col("a.v"), col("b.v"),
          col("a.n2"), col("b.n2")) >= tau)
      .select(col("b.node").as("node")).distinct()
    cl.select(col("node"), col("cluster"))
      .join(witness.withColumn("_w", lit(true)), Seq("node"), "left")
      .select(col("node"), col("cluster"), col("_w").isNull.as("kept"))
  }
}
