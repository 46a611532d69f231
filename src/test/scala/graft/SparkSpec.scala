package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // two threads: GateJobsSpec's job counts are pinned at 2 partitions
    val s = graft.core.Session.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import scala.jdk.CollectionConverters._

  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).toSet

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
