package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.Table

/** Custom-source SPI (reference: python/pathway/io/python/__init__.py:49
  * `ConnectorSubject` + `read`, engine StorageType::Python
  * data_storage.rs:289) — the escape hatch for any source without a
  * shipped connector: implement `run()`, push rows with `next`, cut batch
  * boundaries with `commit`.
  *
  * Differences from the reference are where Spark's model is already the
  * right tool:
  *  - rows are TYPED (`T` with an `Encoder`) rather than json/raw bytes —
  *    the reference itself deprecated its format modes in favor of typed
  *    `next(**kwargs)` (__init__.py:368);
  *  - static mode ([[io.subjectStatic]]) runs `run()` to completion and
  *    yields a bounded [[Table]]; streaming mode ([[io.subjectStream]])
  *    runs it on a feeder thread bridged through a MemoryStream, each
  *    `commit` becoming an ingestible block (the reference's
  *    `*COMMIT*` literal, __init__.py:41);
  *  - deletions/upserts are DATA here, not channel events: emit a
  *    (key, order, deleted, …) change row and fold with
  *    [[graft.sources.Cdc.applyLatest]] (batch) or
  *    [[graft.streaming.Streaming.upsertParquetSink]] (streaming: each
  *    micro-batch publishes one snapshot generation) — same recipe as
  *    every CDC source, so a subject-fed stream and a Kafka-fed stream
  *    share one downstream pipeline.
  *
  * Scale note: like the reference's Python subject, the feed itself is a
  * single driver-side producer — right for control planes, test rigs,
  * slow external APIs; NOT a path for bulk data (that's what file/DSv2
  * sources are for). The downstream plan is fully distributed either way.
  */
abstract class ConnectorSubject[T] {
  @volatile private[sources] var feed: ConnectorSubject.Feed[T] = _
  @volatile private[sources] var used = false

  /** Produce the data: call [[next]] per row, [[commit]] per batch.
    * Driver-side, single-threaded (static: inline; streaming: one feeder
    * thread). Returning ends the source (reference `close`). */
  def run(): Unit

  /** Called once after `run()` returns or throws (reference: on_stop,
    * __init__.py:123). */
  def onStop(): Unit = ()

  protected final def next(row: T): Unit = feed.next(row)
  protected final def commit(): Unit = feed.commit()

  private[sources] def claim(): Unit = {
    require(!used, "ConnectorSubject already used — create a fresh instance " +
      "per read (reference __init__.py:404)")
    used = true
  }
}

object ConnectorSubject {
  private[sources] trait Feed[T] {
    def next(row: T): Unit
    def commit(): Unit
  }

  /** Handle on a streaming subject read: the unbounded frame plus
    * `await()`, which joins the feeder thread and rethrows anything
    * `run()` threw (reference `end`, __init__.py:261). Call `await()`
    * before expecting the final rows downstream. */
  final case class SubjectStream(df: DataFrame, await: () => Unit)

  private[sources] def staticRead[T](spark: SparkSession,
      subject: ConnectorSubject[T], key: Seq[String])(
      implicit enc: Encoder[T]): Table = {
    subject.claim()
    val buf = ArrayBuffer[T]()
    subject.feed = new Feed[T] {
      def next(row: T): Unit = buf += row
      def commit(): Unit = () // bounded read: one logical batch
    }
    try subject.run() finally subject.onStop()
    Table.fromDF(spark.createDataset(buf.toSeq).toDF(), key)
  }

  private[sources] def streamingRead[T](spark: SparkSession,
      subject: ConnectorSubject[T])(implicit enc: Encoder[T]): SubjectStream = {
    subject.claim()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    val pending = ArrayBuffer[T]()
    subject.feed = new Feed[T] {
      def next(row: T): Unit = pending.synchronized { pending += row; () }
      def commit(): Unit = pending.synchronized {
        if (pending.nonEmpty) { mem.addData(pending.toSeq); pending.clear() }
      }
    }
    @volatile var err: Throwable = null
    val feeder = new Thread(() => {
      try { subject.run(); subject.feed.commit() } // flush the open batch
      catch { case t: Throwable => err = t }
      finally subject.onStop()
    }, "graft-subject-feeder")
    feeder.setDaemon(true)
    feeder.start()
    SubjectStream(mem.toDF(), () => {
      feeder.join()
      if (err != null) throw err
    })
  }
}
