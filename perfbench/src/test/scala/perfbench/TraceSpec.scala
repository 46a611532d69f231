package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two attribution rules the traced run depends on, on tiny
  * inputs: broadcast-build jobs are recognised and carry the span of the
  * call that caused them, and jobs of a stream-execution thread (whose
  * copied span tag is stale) land in the span open when they ran. */
class TraceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").getOrCreate()

  private def traced(body: (Tracer, JobListener) => Unit): Unit = {
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    try body(new Tracer(spark, tracing = true), l)
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def jobsOf(l: JobListener, t: Tracer): Seq[(JobRec, Option[String])] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    l.jobs.toArray(Array.empty[JobRec]).toSeq
      .map(j => j -> l.attribute(j.span, j.stream, j.submitMs.toDouble, t.spans.toSeq))
  }

  test("broadcast builds are classified and inherit the caller's span") {
    traced { (t, l) =>
      val big = spark.range(0, 20000).toDF("k")
      val small = spark.range(0, 10).toDF("k").withColumn("v", col("k") * 2)
      t.span("join") {
        big.join(broadcast(small), "k").agg(sum(col("v"))).collect()
      }
      t.span("plain")(spark.range(0, 100).count())
      val js = jobsOf(l, t)
      val join = js.collect { case (j, Some("join")) => j }
      val plain = js.collect { case (j, Some("plain")) => j }
      assert(join.exists(_.broadcast), js.mkString("\n"))
      assert(join.exists(!_.broadcast), js.mkString("\n"))
      assert(join.filter(_.broadcast).forall(_.span.contains("join")))
      assert(plain.nonEmpty && plain.forall(!_.broadcast))
      assert(js.forall(_._2.isDefined))
    }
  }

  test("stream-thread jobs are attributed by the span open when they ran") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    traced { (t, l) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val tmp = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(tmp)
      val ckpt = java.nio.file.Files.createTempDirectory(tmp, "tracespec").toString
      // the query starts inside a span: its thread copies that tag
      val sq = t.span("start") {
        mem.toDF().writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.count(); ()
          }.start()
      }
      try {
        t.span("ingest") { mem.addData(1L, 2L, 3L); sq.processAllAvailable() }
        t.span("ingest2") { mem.addData(4L); sq.processAllAvailable() }
      } finally sq.stop()
      val stream = jobsOf(l, t).filter(_._1.stream)
      assert(stream.nonEmpty)
      assert(stream.exists(_._1.span.contains("start")), "tag copied at start")
      val spans = stream.map(_._2).toSet
      assert(spans.subsetOf(Set(Some("ingest"), Some("ingest2"))), stream.mkString("\n"))
      assert(spans == Set(Some("ingest"), Some("ingest2")))
    }
  }
}
