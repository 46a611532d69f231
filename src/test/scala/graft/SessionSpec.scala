package graft

/** The shared spec session is built by [[graft.core.Session]]: its
  * policy holds there as in every entry point. */
class SessionSpec extends SparkSpec {

  test("the spec session runs UTC, no UI, one shuffle partition per thread") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    val threads = "local\\[(\\d+)\\]".r.findFirstMatchIn(sc.master)
      .map(_.group(1).toInt)
    assert(threads == Some(2), s"master ${sc.master}")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == 2)
    assert(sc.defaultParallelism == 2)
  }
}
