package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` is seeded per-partition: the rows it keeps change with
  * partitioning, split planning and engine version — useless for a
  * reproducible corpus subset or an auditable train/val/test split. At
  * 100 TB a sample must be a PURE PER-ROW PREDICATE of a stable id:
  * re-running it (on any engine, any cluster shape, any day) keeps
  * exactly the same rows, joins between independently-sampled tables
  * stay consistent (same id → same decision), and the plan is a
  * filter/projection — no shuffle, no state, fully codegen'd.
  *
  * The decision function is the first 8 hex chars of md5(salt‖id) read
  * as a 32-bit integer — uniform on [0, 2³²), identically computable in
  * Spark, DuckDB and any other engine (the same construction the dedup
  * and LSH operators use for cross-engine determinism).
  */
object Sampling {

  /** u32 hash of `id` under `salt` — uniform on [0, 2³²). */
  def hashU32(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Keep ~`rate` of rows, decided per-row by hash — deterministic,
    * shuffle-free, independent of partitioning. Different `salt`s give
    * independent samples; the same salt+id decides consistently across
    * tables (sample parent and child tables with the same salt on the
    * join key and the sample stays referentially intact). */
  def hashSample(df: DataFrame, id: Column, rate: Double,
      salt: String = ""): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    df.filter(hashU32(id, salt) < lit((rate * (1L << 32)).toLong))
  }

  /** Weighted mixture resampling — the training-mix reweighting step:
    * each row's keep-probability comes from a COLUMN (typically a
    * per-source/domain target proportion joined or mapped on), decided
    * by the same pure md5 predicate as [[hashSample]]. Reproducible on
    * any engine/partitioning, referentially stable across tables
    * sharing the salt, and still a shuffle-free codegen'd filter —
    * reweighting a 100 TB mix is one scan. */
  def mixtureSample(df: DataFrame, id: Column, rate: Column,
      salt: String = ""): DataFrame =
    df.filter(hashU32(id, salt) < rate * lit((1L << 32).toDouble))

  /** Frequency-capped sampling — throttle items whose corpus frequency
    * exceeds `cap` so each distinct item contributes ≈ cap rows in
    * expectation (the hot-item leveler: domain/URL capping, template
    * throttling before training). Frequencies come from a count-min
    * sketch ([[Stats.cmSketch]] — d·w fixed cells, mergeable across
    * days/sources), so no exact per-item count table is ever
    * materialized; the CM estimate only OVERcounts, so a hot item is
    * never under-throttled and a rare item colliding with a hot one is
    * throttled conservatively. Keep decision = the [[mixtureSample]]
    * md5 predicate on `id` — deterministic on any partitioning.
    *
    * Scale shape: one map-side-combinable scan builds the sketch; the
    * per-row estimate is d BROADCAST joins against the ≤ w-row cell
    * table of each hash row (no explode, no per-row regroup, no
    * corpus-sized count table); the keep filter is shuffle-free. Rows
    * with a NULL item are dropped (they have no frequency). */
  def frequencyCapSample(df: DataFrame, id: Column, item: Column,
      cap: Long, w: Int, d: Int, salt: String = "fcap"): DataFrame = {
    require(cap >= 1, s"frequencyCapSample: cap must be >= 1, got $cap")
    val cells = Stats.cmSketch(df, Seq(), item, w, d, salt)
    val base = df.filter(item.isNotNull)
    val withCells = (0 until d).foldLeft(base) { (acc, r) =>
      val cr = cells.filter(col("r") === r)
        .select(col("b").as(s"_b$r"), col("cnt").as(s"_c$r"))
      acc.withColumn(s"_pb$r", Stats.cmBucket(lit(r), item, w, salt))
        .join(broadcast(cr), col(s"_pb$r") === col(s"_b$r"), "left")
    }
    // every surviving row's own occurrence is in the sketch ⇒ est ≥ 1,
    // so the rate division can't hit zero
    val ests = (0 until d).map(r => coalesce(col(s"_c$r"), lit(0L)))
    val est = if (d == 1) ests.head else least(ests: _*)
    val rate = least(lit(1.0), lit(cap.toDouble) / est.cast("double"))
    withCells
      .filter(hashU32(id, salt) < rate * lit((1L << 32).toDouble))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Assign each row a fold label by hash-range split of the unit
    * interval — the deterministic train/val/test split. `weights` need
    * not sum to 1; they are normalized. Returns the frame plus a
    * `_fold` column. A row's fold never changes when data is added or
    * repartitioned (no global count, no shuffle — unlike randomSplit). */
  def splitByHash(df: DataFrame, id: Column, weights: Seq[(String, Double)],
      salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val bounds = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
    val h = hashU32(id, salt)
    // first matching cumulative bound wins: when(h < ub1, f1) else
    // when(h < ub2, f2) ... else last fold
    val fold = weights.zipWithIndex.map { case ((name, _), i) =>
      (lit((bounds(i + 1) * (1L << 32)).toLong), name)
    }.foldRight(lit(weights.last._1): Column) { case ((ub, name), rest) =>
      when(h < ub, lit(name)).otherwise(rest)
    }
    df.withColumn("_fold", fold)
  }

  /** Per-stratum hash sampling: each stratum keeps ~its own `rate`. The
    * rate table (stratum → rate) is a broadcast join — the idiomatic
    * shape when the mix is data (a training-mix config), not code. The
    * hash is salted with the stratum value so per-stratum decisions are
    * mutually independent. Strata absent from `rates` are dropped. */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column,
      rates: DataFrame, salt: String = ""): DataFrame = {
    // rates: (stratum, rate) — tiny config table
    val r = rates.toDF("_stratum", "_rate")
    val h = conv(substring(md5(concat(lit(salt), stratum.cast("string"),
      lit("|"), id.cast("string"))), 1, 8), 16, 10).cast("long")
    df.join(broadcast(r), stratum === col("_stratum"))
      .filter(h < (col("_rate") * lit((1L << 32).toDouble)).cast("long"))
      .drop("_stratum", "_rate")
  }

  /** Temperature-based domain reweighting — the standard LLM-mix knob
    * (Pile/LLaMA-style): resample so the kept mix's domain shares follow
    * p_d^alpha (renormalized) instead of the natural p_d. alpha = 1
    * keeps the natural mix; alpha → 0 flattens toward uniform; in
    * between, over-represented domains (web crawl) are downsampled and
    * rare ones (academic text) gain RELATIVE share. Rates are anchored
    * so the rarest domain keeps `scale` of its rows (no upsampling —
    * sampling is without replacement, so the flattening comes entirely
    * from throttling the big domains):
    * r_d = scale · (n_d / n_min)^(alpha−1).
    *
    * Scale shape: one map-side-combinable count over domains (a tiny
    * result — domains, not rows), broadcast back; the keep decision is
    * the [[hashSample]] md5 predicate — deterministic on any engine and
    * partitioning, shuffle-free on the corpus. Rows with a NULL domain
    * are dropped (they have no share to reweight). */
  def temperatureMix(df: DataFrame, domain: Column, id: Column,
      alpha: Double, scale: Double = 1.0,
      salt: String = "tmix"): DataFrame = {
    require(alpha >= 0 && alpha <= 1,
      s"temperatureMix: alpha must be in [0,1], got $alpha")
    require(scale > 0 && scale <= 1,
      s"temperatureMix: scale must be in (0,1], got $scale")
    // NULL domains are dropped by the join below, but they must not
    // anchor the mix either: one NULL-domain row would otherwise set
    // n_min = 1 and collapse every real domain's rate
    val counts = df.filter(domain.isNotNull)
      .groupBy(domain.as("_dom")).agg(count(lit(1)).as("_n"))
    val nMin = counts.agg(min(col("_n")).as("_nmin"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("_dom"),
        (lit(scale) *
          pow(col("_n").cast("double") / col("_nmin"), lit(alpha - 1.0)))
          .as("_rate"))
    df.join(broadcast(rates), domain === col("_dom"))
      .filter(hashU32(id, salt) < col("_rate") * lit((1L << 32).toDouble))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Exactly-n deterministic sample: the n rows with smallest
    * md5(salt‖id). Plans as TakeOrderedAndProject — per-partition top-n
    * + driver merge, never a global sort. Costlier than [[hashSample]]
    * (materializes an ordering) — use when the contract is a hard row
    * count, not a rate. */
  def sampleExact(df: DataFrame, id: Column, n: Int,
      salt: String = ""): DataFrame =
    df.orderBy(md5(concat(lit(salt), id.cast("string")))).limit(n)

  /** Exactly-n PER STRATUM (balanced-mix construction: equal document
    * counts per language/source/quality band regardless of how skewed
    * the corpus is): the n rows with smallest md5(salt‖id) within each
    * stratum — one rank window per stratum, WindowGroupLimit pushes the
    * top-n below the sort, so per-partition state is n rows per stratum,
    * never a stratum-wide sort. Same determinism contract as
    * [[sampleExact]]: the kept set is a pure function of (id, stratum,
    * salt) and the stratum's membership, identical on any engine.
    * Strata smaller than n keep every row. */
  def sampleExactPerStratum(df: DataFrame, stratum: Column, id: Column,
      n: Int, salt: String = ""): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(stratum)
      .orderBy(md5(concat(lit(salt), id.cast("string"))), id)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n).drop("_rn")
  }

  /** Weighted sample of exactly n rows WITHOUT replacement
    * (Efraimidis–Spirakis A-Res): each row draws the deterministic
    * uniform u = (hashU32(id)+0.5)/2³² and competes with key
    * −ln(u)/weight; the n smallest keys win. Inclusion probability is
    * proportional-to-weight (heavier rows draw systematically smaller
    * keys), selection is a pure function of (id, weight, salt) — same
    * rows on any engine/partitioning — and the plan is
    * TakeOrderedAndProject: per-partition top-n + driver merge, never a
    * global sort. The training-mix use: sample documents ∝ quality
    * score or token count instead of uniformly. Weights must be > 0;
    * ties (astronomically unlikely with distinct ids) break by id. */
  def sampleWeighted(df: DataFrame, id: Column, weight: Column, n: Int,
      salt: String = ""): DataFrame = {
    require(n > 0, s"sampleWeighted: n must be > 0, got $n")
    val u = (hashU32(id, salt).cast("double") + lit(0.5)) / lit(4294967296.0)
    val k = -log(u) / weight.cast("double")
    df.orderBy(k.asc, id.asc).limit(n)
  }

  /** Deterministic sequence packing — the training-batch construction
    * step (sample packing: concatenate whole documents into fixed
    * token-budget training sequences so short documents don't waste
    * context length as padding).
    *
    * Distributed shape: rows hash into `buckets` independent packing
    * streams (the md5-u32 recipe, salted), and WITHIN a bucket the
    * deterministic md5 order + an exclusive running token sum assigns
    * row p to pack floor(Σ_{q<p} t_q / budget) — the same prefix-sum
    * bucket rule as [[graft.operators.TextOps.chunkBySeparator]], so a
    * row straddling a boundary joins the pack its prefix selects and a
    * pack can exceed `budget` by at most one row (an oversized single
    * row becomes its own oversized pack). One shuffle by bucket + one
    * in-bucket window — no global sort, no driver state; per-bucket row
    * count is corpus/buckets, so `buckets` is the parallelism AND the
    * bound on window partition size (size it like shuffle partitions).
    *
    * The pack assignment is a pure function of (id set, token counts,
    * salt, buckets, budget) — identical on any engine/partitioning, so
    * a re-run reproduces the exact training sequences. Returns the
    * input columns + (bucket, pack, pack_pos): `(bucket, pack)` is the
    * sequence key, `pack_pos` the row's 1-based position inside it in
    * packing order. */
  def packSequences(df: DataFrame, id: Column, tokenCount: Column,
      budget: Long, buckets: Int, salt: String = ""): DataFrame =
    packSequencesGated(df, id, tokenCount, budget, buckets, salt, 0)

  /** [[packSequences]] with a size gate ([[graft.core.Small]]; 0 forces
    * the windows). When `(id, bucket, md5 order, tokens)` of `df` fit
    * and the ids are integral, non-null and distinct, they are
    * collected in one job and the windows' rules run on the driver:
    * per bucket in (md5 order, id) order, a row's pack is
    * floor(Σ earlier tokens / budget) (NULL counts add nothing) and its
    * pack_pos its 1-based rank among the rows of its pack. The answer
    * ships back as literal maps keyed by id: no shuffle, no sort, and
    * the same generated code on every call. `df` is evaluated twice, so
    * gate only a materialized frame. */
  private[graft] def packSequencesGated(df: DataFrame, id: Column,
      tokenCount: Column, budget: Long, buckets: Int, salt: String,
      maxRows: Int): DataFrame = {
    require(budget > 0 && buckets > 0,
      s"packSequences: budget ($budget) and buckets ($buckets) must be > 0")
    import org.apache.spark.sql.types._
    val ord = md5(concat(lit(salt), id.cast("string")))
    val keyed = df.withColumn("_bucket",
      pmod(hashU32(id, salt), lit(buckets.toLong)))
    val integral = keyed.select(id).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val local = if (!integral) None else graft.core.Small.rows(
        keyed.select(id.cast("long"), col("_bucket"), ord,
          tokenCount.cast("long")), maxRows)
      .filter(rows => !rows.exists(_.isNullAt(0)) &&
        rows.iterator.map(_.getLong(0)).distinct.size == rows.length)
    local match {
      case Some(rows) =>
        val placed = rows.groupBy(_.getLong(1)).valuesIterator.flatMap { b =>
          var pfx = 0L
          val seen = scala.collection.mutable.HashMap.empty[Long, Int]
          b.sortWith((x, y) => x.getString(2) < y.getString(2) ||
              x.getString(2) == y.getString(2) && x.getLong(0) < y.getLong(0))
            .map { r =>
              val pack = math.floor(pfx / budget.toDouble).toLong
              if (!r.isNullAt(3)) pfx += r.getLong(3)
              val pos = seen.getOrElse(pack, 0) + 1
              seen(pack) = pos
              (r.getLong(0), pack, pos)
            }
        }.toArray
        def lookup[T: scala.reflect.ClassTag](f: ((Long, Long, Int)) => T) =
          try_element_at(map_from_arrays(lit(placed.map(_._1)), lit(placed.map(f))),
            id.cast("long"))
        keyed.withColumn("pack", lookup(_._2)).withColumn("pack_pos", lookup(_._3))
          .withColumnRenamed("_bucket", "bucket")
      case None =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_bucket")).orderBy(ord, id)
        val pfx = sum(tokenCount.cast("long"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1))
        keyed.withColumn("_pfx", coalesce(pfx, lit(0L)))
          .withColumn("pack", floor(col("_pfx") / lit(budget.toDouble)))
          .withColumn("pack_pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("_bucket"), col("pack")).orderBy(ord, id)))
          .withColumnRenamed("_bucket", "bucket")
          .drop("_pfx")
    }
  }
}
