package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graphs}

/** Job-count pins for the per-refresh gates answered on the driver
  * ([[graft.core.Small]]): below the size gate, connected components,
  * the exact gate's history filter and the near gate's history probe
  * must not pay the job storm of their distributed forms. */
class GateJobsSpec extends SparkSpec {
  import spark.implicits._

  /** (jobs, broadcast-build jobs) started by `f` on this thread —
    * broadcast builds run on pool threads, which inherit the tag. The
    * thread's operator caches are released first, so an earlier
    * measurement's cached frames cannot serve this one. */
  private def jobsOf(f: => Unit): (Int, Int) = {
    graft.core.Caches.drain()
    val tag = s"gatejobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bcast = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("graft.spec.tag") == tag) {
          jobs.incrementAndGet()
          if (Option(p.getProperty("spark.job.tags")).exists(
              _.contains("broadcast exchange"))) bcast.incrementAndGet()
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try f
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    (jobs.get, bcast.get)
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("connectedComponents on a small graph runs at most 2 jobs") {
    // checkpointed edges: a real scan, not a foldable local relation
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (4L, 4L))
      .toDF("src", "dst").localCheckpoint(true)
    val (small, smallBc) = jobsOf(Graphs.connectedComponents(edges).collect())
    assert(small <= 2 && smallBc == 0, s"driver path ran $small jobs")
    val (loop, _) = jobsOf(
      Graphs.connectedComponentsGated(edges, 50, 0).collect())
    assert(loop > small, s"fixpoint ran $loop jobs, driver path $small")
  }

  test("a small-batch exact gate starts no broadcast build") {
    val path = tmp("gatejobs_exact")
    Dedup.hashSave(Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path)
    val batch = Seq((5L, "a b c"), (6L, "g h i"), (7L, "g h i"))
      .toDF("doc_id", "text").localCheckpoint(true)
    def gate(maxRows: Int) = jobsOf(Dedup.exactGate(spark, path, batch,
      "doc_id", "text", excludeOwn = true, maxRows).collect())
    val (_, smallBc) = gate(graft.core.Small.MaxRows)
    assert(smallBc == 0, s"driver-side exact gate built $smallBc broadcasts")
    // the pin can fail: the join fallback does broadcast
    val (_, joinBc) = gate(0)
    assert(joinBc > 0)
  }

  test("a small-batch near probe starts no broadcast build") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "unique new content entirely fresh words today"),
      (14L, "short")).toDF("doc_id", "text").localCheckpoint(true)
    // the in-batch canonicalization's own joins are outside the probe:
    // count them alone (materialized the way dedupRefresh does), then
    // the whole refresh
    val (_, canonBc) = jobsOf(graft.core.Caches.eager(
      Dedup.canonicalize(batch, col("doc_id"), col("text"), lit(0),
        3, 6, 3, 0.8, 100).drop("_cluster")))
    def refresh(maxRows: Int): (Int, Int, Set[Long]) = {
      val path = tmp("gatejobs_near")
      Dedup.signatureSave(history, col("doc_id"), col("text"), path,
        n = 3, k = 6, bands = 3)
      var out: DataFrame = null
      val (j, bc) = jobsOf {
        out = Dedup.dedupRefreshGated(spark, path, batch, col("doc_id"),
          col("text"), 0.8, 0.5, 100, maxRows)
        out.collect()
      }
      (j, bc, out.select("doc_id").as[Long].collect().toSet)
    }
    val (_, smallBc, smallOut) = refresh(graft.core.Small.MaxRows)
    assert(smallBc == canonBc,
      s"probe + append built ${smallBc - canonBc} broadcasts")
    val (_, joinBc, joinOut) = refresh(0)
    assert(joinBc > canonBc)
    assert(smallOut == joinOut && smallOut == Set(12L, 14L))
  }
}
