package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.lit

/** The size gate for per-batch tables that are answered on the driver.
  *
  * A refresh's gate tables (a day's canonical hashes, its probe
  * signatures, the near-dup edges of its LSH pass) hold a few hundred
  * rows, yet answering them with joins and fixpoint loops costs dozens
  * of Spark jobs — each broadcast build alone is one job per action.
  * Below the gate a caller collects the table once and ships the lookup
  * back inside an expression (`isin` → InSet), which costs no job.
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
    * One action: `limit(maxRows + 1).collect()` — the extra row tells an
    * exactly-full table from an oversized one without a count job. */
  private[graft] def rows(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    val r = df.limit(maxRows + 1).collect()
    if (r.length > maxRows) None else Some(r)
  }

  /** `c NOT IN values` as a row filter that keeps NULL keys — the
    * left-anti-join semantics the driver-side gates replace (`!isin`
    * alone is NULL, i.e. false, on a NULL key). Values must be boxed in
    * the column's own type. */
  private[graft] def notIn(c: Column, values: Iterable[Any]): Column =
    if (values.isEmpty) lit(true) else c.isNull || !c.isin(values.toSeq: _*)
}
