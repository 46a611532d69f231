package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streaming

/** A reader polling an upsert snapshot while a batch commits sees batch
  * N or batch N + 1 in full: every key at one batch boundary, never a
  * mix, never a missing snapshot or a vanished file. */
class SnapshotAtomicitySpec extends SparkSpec {
  import spark.implicits._

  private type Events = (Long, Long, Boolean, String)

  /** Commit `rounds` batches that each rewrite all 64 keys (tagged with
    * the round) while a second thread reads the live rows back to back
    * during each commit. Returns each read's outcome: the tags it saw
    * and its row count, or the failure. */
  private def poll(name: String, rounds: Int,
      sink: (DataFrame, String, String) => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      read: String => DataFrame): Seq[Either[Throwable, (Set[String], Long)]] = {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory(name).toString
    val path = s"$root/state"
    def batch(r: Int): Seq[Events] = (1L to 64L).map(i => (i, r.toLong, false, s"r$r"))
    val in = MemoryStream[Events]
    val q = sink(in.toDF().toDF("id", "ord", "del", "v"), path, s"$root/ckpt").start()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, (Set[String], Long)]]()
    try {
      in.addData(batch(0): _*)
      q.processAllAvailable()
      for (r <- 1 to rounds) {
        @volatile var stop = false
        val reader = new Thread(() => while (!stop) seen.add(
          try {
            val rows = read(path).collect()
            Right((rows.map(_.getAs[String]("v")).toSet, rows.length.toLong))
          } catch { case e: Throwable => Left(e) }))
        reader.start()
        in.addData(batch(r): _*)
        q.processAllAvailable()
        stop = true
        reader.join()
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def check(outcomes: Seq[Either[Throwable, (Set[String], Long)]]): Unit = {
    assert(outcomes.nonEmpty)
    outcomes.foreach {
      case Left(e) => fail(s"a read during a commit failed: $e", e)
      case Right((tags, n)) =>
        assert(tags.size == 1 && n == 64, s"a read saw a mix: tags $tags, $n rows")
    }
  }

  test("readSnapshotPartitioned during a multi-bucket commit sees one batch " +
      "in full") {
    check(poll("atomic_part", 4,
      (ev, p, c) => Streaming.upsertParquetSinkPartitioned(ev, Seq("id"), "ord",
        "del", p, c, buckets = 8),
      p => Streaming.readSnapshotPartitioned(spark, p, "ord", "del")))
  }

  test("readSnapshot during a plain-sink commit always finds the snapshot " +
      "and sees one batch in full") {
    check(poll("atomic_plain", 4,
      (ev, p, c) => Streaming.upsertParquetSink(ev, Seq("id"), "ord", "del", p, c),
      p => Streaming.readSnapshot(spark, p, "ord", "del")))
  }
}
