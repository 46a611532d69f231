package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Deterministic sampling operators — the properties that matter at
  * scale: partition-independence, exact re-runnability, fold
  * completeness, and the TakeOrderedAndProject plan for exact-n. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (1L to 1000L).map(i => (i, s"doc$i", (i % 5).toString))
    .toDF("id", "text", "lang")

  test("hashSample is deterministic and partition-independent") {
    val a = Sampling.hashSample(docs, col("id"), 0.3, "s")
    val b = Sampling.hashSample(docs.repartition(7, col("text")), col("id"), 0.3, "s")
    assert(rowsOf(a) == rowsOf(b))
    assert(a.count() > 200 && a.count() < 400) // ~300 expected
    assert(Sampling.hashSample(docs, col("id"), 0.0).count() == 0)
    assert(Sampling.hashSample(docs, col("id"), 1.0).count() == 1000)
    // different salts give (near-)independent samples
    val c = Sampling.hashSample(docs, col("id"), 0.3, "other")
    assert(rowsOf(a) != rowsOf(c))
  }

  test("splitByHash assigns every row exactly one fold, deterministically") {
    val f = Sampling.splitByHash(docs, col("id"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)) // unnormalized ok
    assert(f.count() == 1000)
    val byFold = f.groupBy("_fold").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFold.keySet == Set("train", "val", "test"))
    assert(byFold("train") > 700 && byFold("val") < 200 && byFold("test") < 200)
    // membership is stable under re-partitioning
    val f2 = Sampling.splitByHash(docs.repartition(13), col("id"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    assert(rowsOf(f) == rowsOf(f2))
  }

  test("stratifiedSample applies per-stratum rates and drops absent strata") {
    val rates = Seq(("0", 1.0), ("1", 0.5)).toDF("lang", "rate")
    val out = Sampling.stratifiedSample(docs, col("lang"), col("id"), rates)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet == Set("0", "1")) // langs 2,3,4 dropped
    assert(byLang("0") == 200)             // rate 1.0 keeps the whole stratum
    assert(byLang("1") > 50 && byLang("1") < 150)
  }

  test("temperatureMix flattens a skewed mix, anchored at the rarest domain") {
    // domains: a=800, b=150, c=50 — heavily skewed
    val skewed = (1L to 1000L).map(i =>
      (i, if (i <= 800) "a" else if (i <= 950) "b" else "c"))
      .toDF("id", "dom")
    val out = Sampling.temperatureMix(skewed, col("dom"), col("id"), 0.5)
    val by = out.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest domain keeps everything (rate anchored at 1)
    assert(by("c") == 50)
    // a's rate = (800/50)^-0.5 = 0.25 → ~200 expected
    assert(by("a") > 140 && by("a") < 260, s"~200 from 'a', got ${by("a")}")
    // b's rate = 3^-0.5 ≈ 0.577 → ~87 expected
    assert(by("b") > 55 && by("b") < 120, s"~87 from 'b', got ${by("b")}")
    // alpha = 1 keeps the natural mix untouched
    assert(Sampling.temperatureMix(skewed, col("dom"), col("id"), 1.0)
      .count() == 1000)
    // NULL domains have no share — dropped, and they must not ANCHOR
    // the mix: one NULL row would otherwise set n_min = 1 and collapse
    // every real domain's rate
    val withNull = skewed.withColumn("dom",
      when(col("id") === 1, lit(null: String)).otherwise(col("dom")))
    val keptWithNull = Sampling.temperatureMix(withNull, col("dom"),
      col("id"), 0.5).select("id").as[Long].collect().toSet
    assert(!keptWithNull.contains(1L))
    assert(keptWithNull ==
      out.select("id").as[Long].collect().toSet - 1L,
      "a NULL-domain row must not change any other row's keep decision")
    // pure per-row predicate: same rows whatever the partitioning
    val rep = Sampling.temperatureMix(skewed.repartition(7, col("id")),
      col("dom"), col("id"), 0.5)
    assert(rowsOf(out) == rowsOf(rep))
  }

  test("mixtureSample applies per-row rates, partition-independent") {
    import org.apache.spark.sql.functions.when
    // two strata: even ids keep everything, odd ids keep ~25%
    val rate = when(col("id") % 2 === 0, 1.0).otherwise(0.25)
    val m = Sampling.mixtureSample(docs, col("id"), rate, "mx")
    val even = m.filter(col("id") % 2 === 0).count()
    val odd = m.filter(col("id") % 2 =!= 0).count()
    assert(even == docs.filter(col("id") % 2 === 0).count()) // rate 1 = all
    assert(odd > 90 && odd < 170, s"~25% of 500 odd ids, got $odd")
    // pure per-row predicate: same rows whatever the partitioning
    assert(rowsOf(m) == rowsOf(
      Sampling.mixtureSample(docs.repartition(7), col("id"), rate, "mx")))
  }

  test("frequencyCapSample throttles hot items, keeps rare ones whole") {
    // item "hot" appears 400 times, items r0..r19 five times each; with a
    // wide sketch (no collisions) est is exact: rare items rate 1.0 (all
    // kept), hot rate 10/400
    val rows = (0 until 400).map(i => (i.toLong, "hot")) ++
      (0 until 20).flatMap(j => (0 until 5).map(k =>
        ((1000 + j * 5 + k).toLong, s"r$j"))) :+ ((9999L, null: String))
    val df = rows.toDF("id", "item")
    val kept = Sampling.frequencyCapSample(df, col("id"), col("item"),
      cap = 10, w = 4096, d = 3)
    val hot = kept.filter(col("item") === "hot").count()
    assert(hot > 0 && hot < 40, s"~10 of 400 hot rows expected, got $hot")
    assert(kept.filter(col("item").startsWith("r")).count() == 100)
    // NULL items are dropped, schema unchanged, fully deterministic
    assert(kept.filter(col("item").isNull).count() == 0)
    assert(kept.columns.toSeq == df.columns.toSeq)
    assert(rowsOf(kept) == rowsOf(Sampling.frequencyCapSample(
      df.repartition(5), col("id"), col("item"), 10, 4096, 3)))
  }

  test("sampleExact returns exactly n rows via TakeOrderedAndProject") {
    val s = Sampling.sampleExact(docs, col("id"), 37)
    assert(s.count() == 37)
    assert(rowsOf(s) == rowsOf(Sampling.sampleExact(docs.repartition(5), col("id"), 37)))
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("sampleExactPerStratum: n per stratum, small strata kept whole, " +
      "group-limited plan") {
    val s = Sampling.sampleExactPerStratum(docs, col("lang"), col("id"), 30)
    val counts = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(30L)) // 5 strata of 200 → 30 each
    // stratum smaller than n keeps every row
    val tiny = Sampling.sampleExactPerStratum(
      docs.filter(col("id") <= 7), col("lang"), col("id"), 30)
    assert(tiny.count() == 7)
    // partition-independent
    assert(rowsOf(s) == rowsOf(Sampling.sampleExactPerStratum(
      docs.repartition(7, col("text")), col("lang"), col("id"), 30)))
    // the rank pushdown keeps per-partition state at n rows per stratum
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan was:\n$plan")
  }

  test("packSequences: budget invariant, contiguous positions, " +
      "partition-independence") {
    // token counts 1..40 cycling — plenty of packs at budget 50
    val d = (1L to 400L).map(i => (i, 1L + i % 40)).toDF("id", "t")
    val packed = Sampling.packSequences(d, col("id"), col("t"),
      budget = 50, buckets = 4)
    assert(packed.count() == 400) // every row packed exactly once
    val stats = packed.groupBy("bucket", "pack")
      .agg(sum("t").as("total"), max("t").as("biggest"),
        count(lit(1)).as("n"), max("pack_pos").as("maxpos"))
      .collect()
    stats.foreach { r =>
      val (total, biggest, n, maxpos) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))
      // prefix-sum rule tolerance: total < budget + t_last (the one
      // straddling row), so total - biggest < budget always holds
      assert(n == 1 || total - biggest < 50,
        s"pack over budget beyond one straddler: $r")
      assert(maxpos == n, s"pack_pos must be contiguous 1..n: $r")
    }
    // multi-row packs exist (the packing actually packs)
    assert(stats.exists(_.getLong(4) > 1))
    // a re-run over different partitioning assigns identically
    val re = Sampling.packSequences(d.repartition(13, col("t")),
      col("id"), col("t"), budget = 50, buckets = 4)
    assert(rowsOf(packed) == rowsOf(re))
  }

  test("packSequencesGated: the driver pack ≡ the windows, NULL and zero " +
      "token counts, Int ids; NULL ids keep the windows") {
    val d = (1 to 300).map(i => (i, if (i % 17 == 0) None
        else Some((i * 7 % 45).toLong))).toDF("id", "t")
    def pack(df: org.apache.spark.sql.DataFrame, maxRows: Int) =
      Sampling.packSequencesGated(df, col("id"), col("t"), budget = 60,
        buckets = 3, salt = "ps", maxRows)
    val driver = pack(d, graft.core.Small.MaxRows)
    assert(!driver.queryExecution.executedPlan.toString.contains("Window"))
    assert(rowsOf(driver) == rowsOf(pack(d, 0)))
    assert(driver.schema.map(f => (f.name, f.dataType)) ==
      pack(d, 0).schema.map(f => (f.name, f.dataType)))
    val withNull = d.union(Seq((None: Option[Int], Some(5L))).toDF("id", "t"))
    assert(pack(withNull, graft.core.Small.MaxRows).queryExecution
      .executedPlan.toString.contains("Window"))
  }

  test("sampleWeighted: exact n, partition-independent, weight-biased") {
    // 500 light rows (w=1) + 100 heavy rows (w=50)
    val d = ((1L to 500L).map(i => (i, 1.0)) ++
      (501L to 600L).map(i => (i, 50.0))).toDF("id", "w")
    val picked = Sampling.sampleWeighted(d, col("id"), col("w"), 100, "s")
    assert(picked.count() == 100)
    // deterministic across partitioning
    val re = Sampling.sampleWeighted(d.repartition(7, col("id")),
      col("id"), col("w"), 100, "s")
    assert(rowsOf(picked) == rowsOf(re))
    // heavy rows (1/6 of the population, ~91% of the mass) must dominate
    // the sample — with w=50 each heavy row's key is 50× smaller in
    // expectation, so a uniform-ish outcome would be astronomically odd
    val heavy = picked.filter(col("w") === 50.0).count()
    assert(heavy > 50, s"expected heavy-weight dominance, got $heavy/100")
    // different salts give different samples (independence lever)
    val other = Sampling.sampleWeighted(d, col("id"), col("w"), 100, "t")
    assert(rowsOf(picked) != rowsOf(other))
  }
}
