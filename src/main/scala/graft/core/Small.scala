package graft.core

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.collection.immutable.HashSet
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.FutureAction
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet,
  Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType}

/** The size gate for per-batch tables that are answered on the driver.
  *
  * A refresh's gate tables (a day's canonical hashes, its probe
  * signatures, the near-dup edges of its LSH pass) hold a few hundred
  * rows, yet answering them with joins and fixpoint loops costs dozens
  * of Spark jobs — each broadcast build alone is one job per action.
  * Below the gate a caller collects the table once ([[rows]], one job)
  * and ships the lookup back inside an expression ([[in]] / [[notIn]]),
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
    // converted without generated code: an encoder's deserializer, or the
    // projection a local scan builds, is one more compiled class per
    // gated table's schema
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    qe.optimizedPlan match {
      case l: LocalRelation =>
        return if (l.data.length > maxRows) None
          else Some(l.data.map(toRow(_).asInstanceOf[Row]).toArray)
      case _ =>
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
      Some(parts.iterator.flatMap(_.iterator.map(toRow(_).asInstanceOf[Row]))
        .toArray)
    }
  }

  /** Every row of `df`, as `collect()` returns them but converted
    * without generated code (see [[rows]]): for the small driver-side
    * tables a per-call path reads whole (centroids), whose encoder's
    * deserializer would be one more compiled class per schema. */
  private[graft] def collect(df: DataFrame): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    df.queryExecution.executedPlan.executeCollect()
      .map(toRow(_).asInstanceOf[Row])
  }

  /** `c IN values` as a predicate whose generated code reads the value
    * set through a reference and never inlines it, at any size and for
    * any key type. The code of a per-batch plan is then the same on
    * every batch, and Spark's codegen cache (keyed on the source text)
    * compiles it once. `isin` inlines: 10 or fewer values stay an `In`
    * that compiles one comparison per literal, and an Int/Short/Byte/
    * Date `InSet` of up to 400 values compiles a `switch` over them.
    * An empty set is a set too, so the plan keeps its shape whether or
    * not a batch has values. Values of an integral key may be any boxed
    * integral type (they are compared as longs); any other key takes
    * values of its own external type, and a value of another type fails
    * when the predicate is planned instead of matching nothing. A NULL
    * key is NULL (false in a filter). */
  private[graft] def in(c: Column, values: Iterable[Any]): Column =
    ColumnBridge.column(ValueSetIn(ColumnBridge.expression(c), values.toSet))

  /** `c NOT IN values` as a row filter that keeps NULL keys — the
    * left-anti-join semantics the driver-side gates replace (`!in`
    * alone is NULL, i.e. false, on a NULL key). Value-free code, like
    * [[in]]. */
  private[graft] def notIn(c: Column, values: Iterable[Any]): Column =
    c.isNull || !in(c, values)
}

/** [[Small.in]]'s predicate: an `InSet` over the key, built once the key
  * is resolved. Int-family and Date keys are widened to long
  * ([[WidenToLong]]), so the set path (a `contains` on a referenced set)
  * runs instead of the `switch` those types get; other keys are looked
  * up as they are, each value checked against the key's type the way a
  * literal is. The generated code names the referenced set's class,
  * so the set is always a `HashSet`: Scala builds sets of up to 4
  * values as `Set1` … `Set4`, one more variant of the code per size. */
private[graft] final case class ValueSetIn(child: Expression, values: Set[Any])
    extends Expression with RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = {
    val (key, toKey): (Expression, Any => Any) = child.dataType match {
      case ByteType | ShortType | IntegerType =>
        (WidenToLong(child), v => v.asInstanceOf[Number].longValue)
      case LongType => (child, v => v.asInstanceOf[Number].longValue)
      case DateType =>
        (WidenToLong(child), v => DateTimeUtils.anyToDays(v).toLong)
      // a Literal validates its value against its type
      case dt => (child, v => Literal.create(v, dt).value)
    }
    InSet(key, HashSet.from(
      values.iterator.map(v => if (v == null) null else toKey(v))))
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** An Int-family or Date value (a date is its epoch day) as a long. Not a
  * `Cast`: the optimizer unwraps `cast(k AS BIGINT) IN (…)` back to an
  * int `InSet`, whose code inlines its values. */
private[graft] final case class WidenToLong(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"(long) $c")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
