package graft

package object core {

  /** Delete a file or a directory tree (local filesystem). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Exact row count of a parquet directory from file footers alone —
    * driver-side metadata I/O, zero Spark jobs. Files and dirs named
    * `_*` or `.*` are skipped, as a read skips them. The raw listing
    * counts what is on disk: a crashed streaming micro-batch can leave
    * an uncommitted file that the `_spark_metadata` log would exclude
    * from a read, so use it where an order of magnitude or an emptiness
    * test over committed-only writers is what is asked (index geometry,
    * a segment store's segments). */
  private[graft] def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          try in.getRecordCount finally in.close()
        } else 0L
      }.sum
    walk(root)
  }
}
