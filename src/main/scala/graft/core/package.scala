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

  /** The data files of the parquet table at `dir`, by directory: each
    * directory holding data files, with the `k=v` pairs of the
    * directories between `dir` and it (a key of "" marks a directory
    * that is not a partition level), in a stable order. Names starting
    * with `_` or `.` are skipped, as a read skips them. Driver-side
    * listing, no Spark job. */
  private def parquetLeaves(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.Path, Seq[(String, String)],
        Seq[org.apache.hadoop.fs.FileStatus])] = {
    def walk(p: org.apache.hadoop.fs.Path, kvs: Seq[(String, String)])
        : Seq[(org.apache.hadoop.fs.Path, Seq[(String, String)],
          Seq[org.apache.hadoop.fs.FileStatus])] = {
      val (dirs, files) = fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .partition(_.isDirectory)
      val here = files.filter(_.getPath.getName.endsWith(".parquet"))
      (if (here.isEmpty) Nil else Seq((p, kvs, here))) ++
        dirs.flatMap { d =>
          d.getPath.getName.split("=", 2) match {
            case Array(k, v) => walk(d.getPath, kvs :+ (k -> v))
            case _ => walk(d.getPath, kvs :+ ("" -> d.getPath.getName))
          }
        }
    }
    if (fs.exists(dir)) walk(fs.makeQualified(dir), Nil) else Nil
  }

  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The schema a schema-less `spark.read.parquet(dir)` infers, read on
    * the driver: the data columns from the footer of the first data
    * file (Spark's row metadata when the footer carries it, as
    * inference reads it), then one column per `k=v` directory level,
    * typed as partition discovery types integral values (int when every
    * value fits, else long). Schema inference costs one Spark job per
    * read; this costs a listing and one footer. A layout it does not
    * replay exactly (a partition value that is not an integer, data
    * files at mixed depths, no data file at all) takes Spark's
    * inference, errors included. */
  private[graft] def parquetSchema(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val leaves = parquetLeaves(root.getFileSystem(conf), root)
    def inferred = spark.read.parquet(dir).schema
    val keys = leaves.map(_._2.map(_._1)).distinct
    if (leaves.isEmpty || keys.size != 1 || keys.head.contains("") ||
        !spark.sessionState.conf.partitionColumnTypeInferenceEnabled)
      return inferred
    val parts = keys.head.zipWithIndex.map { case (k, i) =>
      val vs = leaves.map(_._2(i)._2).filter(_ != DefaultPartition)
      k -> (if (vs.isEmpty) None
        else if (vs.forall(_.toIntOption.isDefined)) Some(IntegerType)
        else if (vs.forall(_.toLongOption.isDefined)) Some(LongType)
        else None)
    }
    if (parts.exists(_._2.isEmpty)) return inferred
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        leaves.head._3.head, conf))
    val meta = try in.getFooter.getFileMetaData finally in.close()
    val data = Option(meta.getKeyValueMetaData.get(
        "org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
    if (parts.exists { case (k, _) => data.fieldNames.contains(k) }) inferred
    else StructType(data.fields ++ parts.map { case (k, t) => StructField(k, t.get) })
  }

  /** `spark.read.parquet(dir)` with its schema from [[parquetSchema]]:
    * the same DataFrame, without the schema-inference job. Every
    * single-table read on a per-call path goes through here. */
  private[graft] def readParquet(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(parquetSchema(spark, dir)).parquet(dir)

  /** The parquet tables at `roots`, all of one layout and `schema`, as
    * ONE scan whose file list is built on the driver. Each root's `k=v`
    * directories become partitions of one partition spec across the
    * roots, so a filter on a partition column prunes whole directories
    * in every root. `spark.read.parquet(roots: _*)` cannot do this: it
    * infers one partition scheme per read and rejects several
    * partitioned roots, and it lists more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths with
    * a Spark job. Here the plan is the same at any root count and no job
    * runs before the scan. Roots whose directory levels differ from one
    * another are read one by one and unioned. */
  private[graft] def scanParquet(spark: org.apache.spark.sql.SparkSession,
      roots: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.StructType
    val conf = spark.sessionState.newHadoopConf()
    val leaves = roots.flatMap { r =>
      val p = new Path(r)
      parquetLeaves(p.getFileSystem(conf), p)
    }
    val keys = leaves.map(_._2.map(_._1)).distinct
    if (keys.size > 1 || keys.flatten.exists(k => !schema.fieldNames.contains(k)))
      return roots.map(spark.read.schema(schema).parquet(_)).reduce(_ unionByName _)
    val partSchema = StructType(keys.headOption.getOrElse(Nil).map(schema(_)))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val spec = PartitionSpec(partSchema, leaves.map { case (dir, kvs, _) =>
      PartitionPath(InternalRow.fromSeq(kvs.zip(partSchema.fields).map {
        case ((_, v), _) if v == DefaultPartition => null
        case ((_, v), f) => Cast(Literal(ExternalCatalogUtils.unescapePathName(v)),
          f.dataType, Some(tz)).eval()
      }), dir)
    })
    val files = leaves.map { case (dir, _, fs) => dir -> fs.toArray }.toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        files.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, leaves.map(_._1), Map.empty,
      Some(schema), listed, Some(spec), None)
    val nullable = org.apache.spark.sql.graftbridge.ColumnBridge.asNullable _
    spark.baseRelationToDataFrame(HadoopFsRelation(index, nullable(partSchema),
      nullable(StructType(schema.filterNot(f => partSchema.fieldNames.contains(f.name)))),
      None, new parquet.ParquetFileFormat, Map.empty)(spark))
  }
}
