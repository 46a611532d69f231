package graft
/** Run a single named query (timed) — profiling helper. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.core.Session.local()
    args.drop(1).foreach { n =>
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      println(f"$n%-24s rows=$cnt%-8d ${(System.nanoTime()-t0)/1e9}%8.2f s")
      // match Bench semantics: no cross-run cache reuse
      spark.catalog.clearCache()
      graft.core.Caches.drain()
    }
    spark.stop()
  }
}
