package graft.core

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.FutureAction
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.lit

/** The size gate for per-batch tables that are answered on the driver.
  *
  * A refresh's gate tables (a day's canonical hashes, its probe
  * signatures, the near-dup edges of its LSH pass) hold a few hundred
  * rows, yet answering them with joins and fixpoint loops costs dozens
  * of Spark jobs — each broadcast build alone is one job per action.
  * Below the gate a caller collects the table once ([[rows]], one job)
  * and ships the lookup back inside an expression (`isin` → InSet),
  * which costs no job.
  * Above it (a first ingest, a full rebuild: corpus-sized tables) the
  * caller keeps its distributed join.
  *
  * The limit is a private constant, not a knob: it bounds driver memory
  * and the size of the literal sets shipped in task closures, and is far
  * above any per-refresh table while far below any corpus. */
object Small {

  /** Rows per gated table answered on the driver. */
  private[graft] val MaxRows = 10000

  /** All rows of `df` when it has at most `maxRows` of them, else None.
    *
    * One job: each partition sends at most `maxRows + 1` rows (the extra
    * row tells an exactly-full table from an oversized one without a
    * count job). The result handler keeps rows until the table
    * overflows, then cancels the job, so an oversized table sends about
    * (running tasks × (maxRows + 1)) rows, not one capped slice per
    * partition — a corpus-sized table must not reach the driver (or
    * `spark.driver.maxResultSize`) before it falls back. Rows come back
    * in partition order, as `collect()` returns them.
    * `limit(maxRows + 1).collect()`, the obvious form, scans one
    * partition first and scales up, one job per round. A driver-local
    * relation is read without a job. */
  private[graft] def rows(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    val qe = df.queryExecution
    if (qe.optimizedPlan.isInstanceOf[LocalRelation]) {
      val r = df.collect()
      return if (r.length > maxRows) None else Some(r)
    }
    val cap = maxRows + 1
    val capped = qe.toRdd.mapPartitions(_.take(cap).map(_.copy()))
    val parts = new Array[Array[InternalRow]](capped.getNumPartitions)
    var kept = 0
    // the handler may run before submitJob returns: whichever side sees
    // both the overflow and the job cancels it (cancelling twice is a no-op)
    val overflow = new AtomicBoolean(false)
    val job = new AtomicReference[FutureAction[Unit]]
    def cancel(f: FutureAction[Unit]): Unit =
      if (f != null) f.cancel(Some("graft.core.Small: table over the gate"))
    val f = df.sparkSession.sparkContext.submitJob(capped,
      (it: Iterator[InternalRow]) => it.toArray, parts.indices,
      (i: Int, part: Array[InternalRow]) =>
        if (!overflow.get) {
          kept += part.length
          if (kept <= maxRows) parts(i) = part
          else {
            java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
            overflow.set(true)
            cancel(job.get)
          }
        }, ())
    job.set(f)
    if (overflow.get) cancel(f)
    Await.ready(f, Duration.Inf)
    if (overflow.get) None
    else {
      f.value.get.get // a failed job throws here
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      Some(parts.iterator.flatMap(_.iterator.map(toRow)).toArray)
    }
  }

  /** `c NOT IN values` as a row filter that keeps NULL keys — the
    * left-anti-join semantics the driver-side gates replace (`!isin`
    * alone is NULL, i.e. false, on a NULL key). Values must be boxed in
    * the column's own type. */
  private[graft] def notIn(c: Column, values: Iterable[Any]): Column =
    if (values.isEmpty) lit(true) else c.isNull || !c.isin(values.toSeq: _*)
}
