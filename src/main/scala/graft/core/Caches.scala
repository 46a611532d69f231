package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-thread registry of DataFrames persisted inside operators.
  *
  * Operators (interval/asof outer joins, dedup pipelines, graph
  * fixpoints) persist intermediates that are consumed several times
  * within one query plan. The frames are invisible to the caller, so a
  * long-lived session running many queries (graft.Verify runs ~75 in one
  * JVM) would accumulate their storage for the whole run. Routing the
  * persist calls through here lets the harness release exactly the
  * frames its completed query created — `drain()` after each query —
  * without touching caches that concurrently-running queries (Verify
  * uses a thread pool) still depend on: plan construction and execution
  * happen on the submitting thread, so a ThreadLocal scope is exact.
  */
object Caches {
  private val tl = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]] {
    override def initialValue() = scala.collection.mutable.ArrayBuffer[DataFrame]()
  }

  /** `df.cache()` tracked in the current thread's scope. */
  def cache(df: DataFrame): DataFrame = { val p = df.cache(); tl.get() += p; p }

  /** `df.persist(level)` tracked in the current thread's scope. */
  def persist(df: DataFrame, level: StorageLevel): DataFrame = {
    val p = df.persist(level); tl.get() += p; p
  }

  /** [[cache]] + immediate materialization (one count job).
    *
    * For a cached frame referenced from several branches of one query,
    * AQE launches the consuming shuffle-map stages CONCURRENTLY, and all
    * of their tasks serialize on the block locks of the cached
    * partitions the first stage is still computing — measured 370 s of
    * task time for 79 s of CPU on a dedup query at sf0.1. One cheap
    * up-front job makes every later reference a pure cache hit. Use for
    * frames that are small relative to the work they gate (signature /
    * probe tables); plain [[cache]] remains right for single-consumer
    * or barely-reused frames. */
  def eager(df: DataFrame): DataFrame = { val p = cache(df); p.count(); p }

  /** Loop-state maintenance for driver-side fixpoint / training loops —
    * the shared discipline of [[graft.operators.Iterate]],
    * `Graphs.louvain` and `Bpe.learnMerges`.
    *
    * Two driver-side failure modes govern the choice, both measured and
    * data-size-INDEPENDENT:
    *
    *  - caching does NOT truncate logical plans: a loop whose next state
    *    references the previous frame TWICE (argmax via groupBy-max +
    *    join-back, CC's pointer-jump self-join) doubles the ANALYZED
    *    tree every round — 2^rounds analysis cost (118 s at sf0.001 in
    *    the r12 louvain). Such loops MUST checkpoint every round
    *    (`every = 1`, the default): `localCheckpoint(true)` replaces the
    *    plan with the materialized partitions.
    *  - even a single-reference eager-cached round still APPENDS one
    *    round's operators to the plan, so analysis cost grows linearly
    *    with rounds; over hundreds of rounds (BPE merge learning) a
    *    periodic checkpoint (`every = N`) resets it while the cheaper
    *    eager cache carries the rounds in between.
    *
    * `round` is the 1-based index of the round that PRODUCED `df`;
    * checkpoint fires when `round % every == 0` (and always when
    * `every <= 1`). */
  def loopState(df: DataFrame, round: Int = 0, every: Int = 1): DataFrame =
    if (every <= 1 || round % every == 0) checkpoint(df)
    else eager(df)

  private val batchCkpts =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** `df.localCheckpoint(true)` — the gate-seam and loop-state
    * truncation. Inside a [[microBatch]] the checkpoint is also recorded
    * and freed when the micro-batch ends; elsewhere its blocks live until
    * the frame is garbage-collected (ContextCleaner). A local checkpoint
    * cannot be recomputed, so [[drain]] never frees one: a caller may
    * still read it. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    Option(batchCkpts.get).foreach(_ += c)
    c
  }

  /** Run one streaming micro-batch body (a `foreachBatch` function) and
    * release what it left on this thread: the tracked caches ([[drain]])
    * and the local checkpoints taken through [[checkpoint]]. The body
    * runs on the stream-execution thread, which no harness drains, and
    * each micro-batch's checkpoints would otherwise wait for a driver GC
    * (the ContextCleaner) — a long-running stream accumulates their
    * blocks in the meantime. Call only around a body whose every
    * consumer has completed when it returns. */
  def microBatch(body: => Unit): Unit = {
    val outer = batchCkpts.get
    val own = scala.collection.mutable.ArrayBuffer[DataFrame]()
    batchCkpts.set(own)
    try body
    finally {
      batchCkpts.set(outer)
      drain()
      own.foreach(c => try c.queryExecution.logical match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ =>
        } catch { case _: Throwable => })
    }
  }

  /** Unpersist every frame tracked on this thread and reset the scope. */
  def drain(): Unit = {
    val b = tl.get()
    b.foreach(d => try d.unpersist(blocking = false) catch { case _: Throwable => })
    b.clear()
  }
}
