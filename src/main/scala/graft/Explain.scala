package graft
/** Plan inspection helper: prints the formatted physical plan of the
  * given queries (default: a representative set) at the given sf dir. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_ix", "q_interval_join", "q_dedup_minhash")
    val spark = graft.core.Session.local()
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
