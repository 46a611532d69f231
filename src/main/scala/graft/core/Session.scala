package graft.core

import org.apache.spark.sql.SparkSession

/** The local session every graft entry point runs on — the one place
  * that builds a `SparkSession` (Verify, Bench, RunOne, Explain,
  * GenScale, and the spec harness).
  *
  * Policy, set once here rather than per main:
  *  - `local[n]` with `n` shuffle partitions: one partition per thread;
  *  - session time zone UTC — `SparkEntry.loadEvents`' NTZ → timestamp
  *    cast reads instants in it, so any other zone shifts event rows
  *    away from the oracle's;
  *  - no UI, log level WARN. */
object Session {

  /** Threads of the local master: `SPARK_GRAFT_CPUS` when set, else the
    * host's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The `local[n]` session; one already running in this JVM is reused. */
  def local(n: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
