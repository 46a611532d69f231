package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line.
  *
  * Two hard-won constraints shape this file:
  *  - The driver captures only the LAST 2000 chars of stdout and parses
  *    the JSON from that window; an sbt "[success] ..." postlude also
  *    lands after our line. A per-query map over all ~74 queries is
  *    ~2800 chars and gets decapitated (rounds 1-2 both lost their bench
  *    data this way). So the stdout line carries medians for a headline
  *    subset only; the full per-query medians + raw per-pass values go to
  *    BENCH_full.json next to the repo.
  *  - The host has intermittent CPU steal (single-run timings vary up to
  *    10x), so each query is timed in 3 round-robin passes (a steal
  *    window hits different queries in different passes) and the MIN is
  *    reported (see minOf below — the median is still poisoned when a
  *    steal window spans 2 of 3 passes).
  *
  * Caches are cleared between queries so one operator's cached
  * intermediates can't distort another's measurement.
  */
object Bench {

  /** Headline queries for the stdout JSON line — one per operator family,
    * chosen to keep the line comfortably inside the driver's 2000-char
    * stdout tail window. */
  private val headline = Seq(
    "q1_agg", "q3_shipping_priority", "q5_local_supplier", "q10_returned_items",
    "q18_large_volume",
    "q_asof_backward", "q_interval_join", "q_window_join", "q_session",
    "q_sort_linked", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram_jaccard",
    "q_dedup_canonical", "q_lsh_cluster", "q_cdc_apply",
    "q_fuzzy_join", "q_knn_lsh", "q_knn_ivf", "q_knn_bruteforce", "q_knn_hnsw",
    "q_knn_classify",
    "q_bm25", "q_pagerank", "q_connected_components", "q_louvain", "q_hmm",
    "q_retract_reduce", "q_text_stats", "q_sql", "q_doc_store",
    "q_knn_pq", "q_knn_ivf_pq", "q_kmeans", "q_dedup_semantic",
    "q_triangles", "q_join_bloom", "q_knn_binary", "q_hll_merge",
    "q_knn_mmr", "q_pretrain_pipeline", "q_pretrain_model")

  /** Queries whose wall-clock is dominated by a streaming-replay or
    * external-service HARNESS (multi-micro-batch MemoryStream feeds,
    * kill+restart recovery, embedded Derby, local HTTP endpoints,
    * watched directories) rather than by the Spark plan under test —
    * the harness startup/commit overhead IS part of what those oracles
    * verify, but it makes their timings incomparable with plan-bound
    * queries and inflates suite totals as oracle coverage grows (the r9
    * 124.5 s vs r8 85.5 s "regression" was pure suite growth). The
    * bench output reports `total_plan` / `total_harness` subtotals so
    * round-over-round comparisons track the right number. */
  private val harness = Set(
    "q_anomaly_stream", "q_asof_now", "q_async_transformer",
    "q_ema_stream", "q_hll_stream",
    "q_behavior_cutoff",
    "q_behavior_keep", "q_cdc_subject_log", "q_doc_store_stream",
    "q_doc_store_stream_binary", "q_doc_store_stream_pq",
    "q_doc_store_stream_ivf_pq", "q_dedup_refresh_stream",
    "q_inactivity", "q_interval_stream", "q_io_filestream", "q_io_http",
    "q_io_jdbc", "q_io_subject", "q_io_subject_replay", "q_neardup_stream",
    "q_pretrain_incremental_stream", "q_recovery",
    "q_subscribe", "q_upsert_compacted", "q_upsert_diff",
    "q_upsert_partitioned", "q_upsert_snapshot",
    "q_upsert_timetravel")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = graft.core.Session.local(cpus)
    // warmup: touch every table (OS page cache + parquet footers), then
    // run EVERY query once at the smallest SF — same codegen/JIT paths,
    // negligible data. Timed runs then measure steady-state compute (the
    // long-lived-cluster regime), not JVM warmup: cold-vs-warm for the
    // heavy dedup queries is 20s vs 3s.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => }
      }
      spark.catalog.clearCache()
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
    val runs = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set[String]()
    for (pass <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e"); failed += name; false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.core.Caches.drain() // reset the tracker scope alongside the cache
      System.err.println(f"[bench] pass $pass $name%-28s $dt%8.2f s" +
        (if (ok) "" else "  FAILED"))
      // a failed pass records nothing: time-to-exception would otherwise
      // make a broken query look fast in the median
      if (ok) runs(name) = runs(name) :+ dt
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s((s.size - 1) / 2)
    }
    // Primary statistic = MIN of the round-robin passes. The host has
    // intermittent CPU-steal windows that inflate single passes up to
    // 10x; with 3 passes the median is still poisoned whenever a steal
    // window covers 2 of them (r4: q_session passes [49.6, 26.3, 0.58] —
    // median 26.3 vs true compute 0.58). The min of round-robin passes
    // is the steal-resistant estimator of steady-state compute; medians
    // and raw passes still go to the full dump for comparison.
    def minOf(xs: List[Double]): Double = if (xs.isEmpty) 0.0 else xs.min
    // locale-pinned: the f-interpolator uses the JVM default locale, and a
    // comma decimal separator (de_DE & co) would emit invalid JSON
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val mins = names.map(n => n -> minOf(runs(n)))
    val med = names.map(n => n -> median(runs(n)))
    val total = mins.map(_._2).sum
    val totalPlan = mins.filterNot(p => harness(p._1)).map(_._2).sum
    val totalHarness = mins.filter(p => harness(p._1)).map(_._2).sum
    // best-of-3 for the same reason the queries report min-of-passes: a
    // single micro-batch measurement under a steal window swung 8k-65k
    // rows/s run-to-run
    val wcRate = (1 to 3).map(_ => streamingWordcount(spark)).max
    // Full data (all queries, mins + medians + raw passes) → repo-local file.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_full.json")
    val fullJson =
      s"""{"sf":"$sfDir","cpus":$cpus,"reps":$reps,"total_min_sec":${r3(total)},""" +
      s""""total_plan":${r3(totalPlan)},"total_harness":${r3(totalHarness)},""" +
      "\"failed\":" + failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]") + "," +
      s""""streaming_wordcount_rows_per_s":${r3(wcRate)},""" +
      "\"mins\":" + mins.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}") +
      ",\"medians\":" + med.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}") +
      ",\"passes\":" + names.map(n =>
        s"\"$n\":" + runs(n).map(r3).mkString("[", ",", "]")).mkString("{", ",", "}") + "}"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson)
    catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }
    spark.stop()
    // Driver line: headline mins only, 3-decimal — must stay well under
    // the 2000-char stdout tail window (see scaladoc). Printed AFTER
    // spark.stop() so no executor/streaming output can land after it.
    val qs = mins.filter { case (k, _) => headline.contains(k) }
      .map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total_min_all_queries","value":${r3(total)},"unit":"sec",""" +
      s""""total_plan":${r3(totalPlan)},"total_harness":${r3(totalHarness)},""" +
      s""""queries":$qs,"reps":$reps,"agg":"min",""" +
      s""""streaming_wordcount_rows_per_s":${r3(wcRate)},"sf":"$sfDir"}""")
  }

  /** Streaming micro-bench mirroring the reference's wordcount harness
    * shape (reference: integration_tests/wordcount/base.py): MemoryStream
    * of lines → split → groupBy word count, update mode; reports input
    * rows/s end-to-end. */
  private def streamingWordcount(spark: SparkSession, rows: Int = 200000): Double = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // the word-count state has 8 distinct keys: 32 shuffle partitions
    // mean 32 nearly-empty state stores initialized/committed per
    // micro-batch, pure overhead at this cardinality. The conf is read
    // at query START, so scope it around start() and restore after.
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val counts = in.toDF().select(explode(split(col("value"), " ")).as("word"))
      .groupBy("word").count()
    val q = counts.writeStream.format("memory").queryName("graft_wc")
      .outputMode("complete").start()
    spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    val words = Array("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog")
    val batch = (0 until rows).map(i =>
      s"${words(i % 8)} ${words((i / 8) % 8)} ${words((i / 64) % 8)}")
    val t0 = System.nanoTime()
    try {
      in.addData(batch)
      q.processAllAvailable()
      rows / ((System.nanoTime() - t0) / 1e9)
    } finally q.stop()
  }
}
