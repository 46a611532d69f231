package graft.core

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one write protocol of everything graft persists — the index
  * families (IVF lists, IVF-PQ lists, binary codes, PQ codes, HNSW
  * graphs, MinHash signatures, content hashes) and the upsert sinks'
  * snapshots, whole or bucketed (reference: the engine keeps its
  * external indexes answering while they are maintained,
  * xpacks/llm/document_store.py; the DeltaTableWriter of
  * data_storage.rs:1611 commits a batch's files in one log entry).
  *
  * An index at `path` is a set of [[IndexGen]] generations plus a shared
  * `segments/` dir. A generation dir holds:
  *  - `meta.txt` — the [[Meta]] record: family, format version and the
  *    family's scalar geometry, then the generation's parameters
  *    (`param.<k>=<v>`: settings its reader serves with, such as a
  *    DocStore index's rescore depth — carried by every append, cover
  *    and compact, and left out of append's record check);
  *  - `segments.txt` — the manifest: the segments (under `path`) whose
  *    rows, unioned, are the index;
  *  - side tables (`centroids/`, `codebook/`) — small parquet tables
  *    the family's encoder and search read;
  *  - `covers.txt` (optional) — the input files, relative to the table
  *    the index is built from, whose rows the generation holds. A
  *    writer that reads its input by file records them so the next one
  *    reads only files added since; a generation without the record
  *    covers nothing;
  *  - `schema.json` (only with an empty manifest) — the schema the
  *    generation's zero rows read with.
  *
  * Writers go stage → meta + manifest → segment → commit → vacuum:
  *  - [[save]] writes the side tables and one segment into a fresh
  *    generation;
  *  - [[append]] checks the caller's record against the generation it
  *    resolved BEFORE it stages anything (a batch of another family or
  *    geometry fails loudly instead of committing a generation no reader
  *    can load), carries the side tables over as a file copy (no Spark
  *    job) and lists the old segments plus one new one;
  *  - [[compact]] rewrites given rows as the generation's only segment;
  *  - [[fold]] is an append and a compact in one write: the committed
  *    rows plus the new ones become the only segment;
  *  - [[publishPartitions]] swaps some segments for the partitions of
  *    one `partitionBy` write, one segment per partition (the bucketed
  *    snapshot: a batch replaces the buckets it touches).
  *
  * The manifest is written BEFORE the segment's bytes land, and it is
  * what the vacuum reads, so there is no instant at which a freshly
  * written segment is unreferenced. Readers [[open]] the committed
  * generation once and read every part from it, so a concurrent append
  * can never hand them parts of two commits. Single writer per path —
  * the [[IndexGen]] contract. */
object SegmentStore {

  /** On-disk format of the generation dir; a generation written at any
    * other version fails at [[open]] instead of being misread. */
  val FormatVersion = 1

  private val MetaFile = "meta.txt"
  private val Manifest = "segments.txt"
  private val Covers = "covers.txt"
  private val Param = "param."
  private val SchemaFile = "schema.json"

  /** A persisted index family: its name in the record and the names of
    * its scalar geometry. */
  sealed abstract class Family(val name: String,
      val geometry: Seq[String] = Nil)
  object Family {
    case object Ivf extends Family("ivf")
    case object IvfPq extends Family("ivf_pq")
    case object Binary extends Family("binary")
    case object Pq extends Family("pq")
    case object Signature extends Family("signature", Seq("n", "k", "bands"))
    case object Hash extends Family("hash")
    case object Hnsw extends Family("hnsw", Seq("m", "ef_construction"))
    /** An upsert sink's snapshot, one whole table per generation. */
    case object Snapshot extends Family("snapshot")
    /** A bucketed upsert snapshot: one segment per key-hash bucket
      * (`b=<i>`), bucket = pmod(murmur3 `hash(keys)`, buckets). The name
      * pins the hash recipe, the geometry the count: both make up the
      * key→bucket mapping. */
    case object Buckets extends Family("murmur3_buckets", Seq("buckets"))
    lazy val all: Seq[Family] =
      Seq(Ivf, IvfPq, Binary, Pq, Signature, Hash, Hnsw, Snapshot, Buckets)
  }

  /** The meta record of one generation (written with [[FormatVersion]]). */
  final case class Meta(family: Family, geometry: Seq[Int] = Nil) {
    require(geometry.length == family.geometry.length,
      s"${family.name} geometry is (${family.geometry.mkString(", ")}), " +
        s"got (${geometry.mkString(", ")})")
    override def toString: String = family.name +
      (if (geometry.isEmpty) "" else family.geometry.zip(geometry)
        .map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")"))
  }

  /** One committed generation, resolved once: its meta record, its
    * manifest's segments (relative to `path`), its side tables, the
    * input files it covers (None: no record), its parameters and, when
    * the manifest is empty, the recorded schema. */
  final case class Generation(path: String, gen: Long, meta: Meta,
      segments: Seq[String], sides: Seq[String],
      covers: Option[Seq[String]] = None,
      params: Map[String, String] = Map.empty,
      schema: Option[StructType] = None) {
    def dir: String = s"$path/gen-$gen"

    /** This generation, after checking that it holds `family`. */
    def of(family: Family): Generation = {
      require(meta.family == family,
        s"$path holds a $meta index, not a ${family.name} index")
      this
    }

    /** The side table `name` of this generation. */
    def side(spark: SparkSession, name: String): DataFrame = {
      require(sides.contains(name), s"no $name table in $dir ($meta index)")
      readParquet(spark, s"$dir/$name")
    }

    def segmentDirs: Seq[String] = segments.map(s => s"$path/$s")

    /** The index rows as ONE scan of every segment ([[scanParquet]]):
      * the plan, and so its generated code, is the same at any segment
      * count (a union gives each segment's scan a codegen stage of its
      * own, whose class differs by stage id), and a filter on the
      * family's partition column (cid, shard) prunes whole directories
      * in every segment. Schemas come from footers ([[parquetSchema]]),
      * so no read infers one with a job. Segments whose schemas differ
      * (ids appended in another integral type) are read one by one and
      * unioned, which widens them. A generation whose manifest lists no
      * segment reads as no rows of the schema its record names
      * ([[publishPartitions]] records it when a write leaves no
      * partition). */
    def rows(spark: SparkSession): DataFrame = {
      if (segments.isEmpty) return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema.getOrElse(throw new IllegalStateException(
          s"$dir lists no segment and records no schema")))
      val schemas = segmentDirs.map(d =>
        ColumnBridge.asNullable(parquetSchema(spark, d)))
      if (schemas.forall(_ == schemas.head))
        scanParquet(spark, segmentDirs, schemas.head)
      else segmentDirs.zip(schemas)
        .map { case (d, s) => spark.read.schema(s).parquet(d) }
        .reduce(_ unionByName _)
    }
  }

  /** Resolve the committed generation of the index at `path`. Fails,
    * naming the path, when nothing is committed there, and fails on a
    * generation without a record at [[FormatVersion]]. */
  def open(path: String): Generation = openAt(path, IndexGen.committed(path))

  /** Resolve generation `gen` of the index at `path`, which the caller
    * checked is one of [[IndexGen.versions]]. */
  def openAt(path: String, gen: Long): Generation = {
    val dir = new File(path, s"gen-$gen")
    val mf = new File(dir, MetaFile)
    require(mf.isFile, s"no segment-store meta record in $dir")
    val kv = Files.readString(mf.toPath).split("\n").toSeq
      .map(_.split("=", 2)).collect { case Array(k, v) => k.trim -> v.trim }.toMap
    require(kv.get("version").contains(FormatVersion.toString),
      s"$dir is at segment-store format version " +
        s"${kv.getOrElse("version", "?")}; this build reads version $FormatVersion")
    val family = Family.all.find(_.name == kv("family")).getOrElse(
      throw new IllegalArgumentException(s"unknown index family in $mf"))
    val segs = manifestOf(dir).getOrElse(
      throw new IllegalArgumentException(s"no segment manifest in $dir"))
    val covers = new File(dir, Covers)
    val schema = new File(dir, SchemaFile)
    Generation(path, gen, Meta(family, family.geometry.map(kv(_).toInt)), segs,
      dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq,
      if (covers.isFile) Some(lines(covers)) else None,
      kv.collect { case (k, v) if k.startsWith(Param) => k.stripPrefix(Param) -> v },
      if (schema.isFile) Some(DataType.fromJson(Files.readString(schema.toPath))
        .asInstanceOf[StructType]) else None)
  }

  /** A fresh index at `path`: the side tables and `rows` as its one
    * segment, covering the input files `covers` (None: no record), with
    * parameters `params`. The commit keeps the `grace` newest committed
    * generations below it ([[IndexGen.commit]]). Returns the committed
    * generation. */
  def save(path: String, meta: Meta, rows: DataFrame,
      sides: Seq[(String, DataFrame)] = Nil,
      covers: Option[Seq[String]] = None,
      params: Map[String, String] = Map.empty, grace: Long = 1): Long = {
    val (dir, gen) = IndexGen.stage(path)
    sides.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }
    publish(path, dir, gen, meta, Nil, Some(rows), covers, params, grace)
  }

  /** Grow the generation `g` by one segment of `rows`. `meta` is the
    * record the rows were encoded for; it must equal `g`'s, which is
    * checked before anything is staged. `covers` names the input files
    * the rows come from: they join `g`'s record (None carries the
    * record over as it is). Returns the committed generation. */
  def append(g: Generation, meta: Meta, rows: DataFrame,
      covers: Option[Seq[String]] = None): Long = {
    requireRecord(g, meta)
    carry(g, g.segments, Some(rows), covered(g, covers))
  }

  /** Add `covers` to `g`'s record with no new segment: the files were
    * read and every row in them is indexed already. Returns the
    * committed generation. */
  def cover(g: Generation, covers: Seq[String]): Long =
    carry(g, g.segments, None, covered(g, Some(covers)))

  /** Replace `g`'s segments by `rows` as one segment, same record and
    * side tables. Returns the committed generation. */
  def compact(g: Generation, rows: DataFrame): Long =
    carry(g, Nil, Some(rows), g.covers)

  /** [[append]] `rows` and [[compact]] in ONE write: `g`'s rows plus
    * `rows` become the new generation's only segment (the append of a
    * compaction slot, which would otherwise write the batch's rows and
    * then rewrite them). Same record check and `covers` as [[append]].
    * The new rows ride in the tasks of the committed rows' scan, so the
    * segment has as many part files as that scan has splits: the batch
    * adds none of its own, and no split of the committed rows is merged
    * into another (their part files are the read parallelism, see
    * [[publish]]). Returns the committed generation. */
  def fold(g: Generation, meta: Meta, rows: DataFrame,
      covers: Option[Seq[String]] = None): Long = {
    requireRecord(g, meta)
    val folded =
      if (g.segments.isEmpty) rows
      else {
        val old = g.rows(rows.sparkSession)
        old.unionByName(rows).coalesce(scanSplits(old).max(1))
      }
    carry(g, Nil, Some(folded), covered(g, covers))
  }

  /** The file splits the scans of `df` read: how many tasks its
    * scan runs, from the planned scans, with no job. */
  private def scanSplits(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.sum

  private def requireRecord(g: Generation, meta: Meta): Unit =
    require(meta == g.meta, s"cannot append a $meta segment to ${g.path}: " +
      s"its committed generation ${g.gen} holds a ${g.meta} index")

  private def covered(g: Generation, covers: Option[Seq[String]]) =
    covers.map(g.covers.getOrElse(Nil) ++ _).orElse(g.covers)

  private def carry(g: Generation, keep: Seq[String], rows: Option[DataFrame],
      covers: Option[Seq[String]]): Long = {
    val (dir, gen) = IndexGen.stage(g.path)
    new File(dir).mkdirs()
    g.sides.foreach(s =>
      copyTree(new File(g.dir, s).toPath, new File(dir, s).toPath))
    publish(g.path, dir, gen, g.meta, keep, rows, covers, g.params, 1)
  }

  /** Commit a generation of `meta` whose manifest keeps `keep` (segments
    * of the committed generation) and adds one segment per bucket of
    * `rows` written `partitionBy` its bucket column `b`, staged inside
    * the generation. Each `b=<i>` dir moves into a segment of its own
    * after the manifest names it, so [[Generation.rows]] still reads the
    * bucket column. A generation left with no segment at all records the
    * rows' schema (as a read gives it: `b` last), which is what
    * [[Generation.rows]] then reads. Returns the committed generation. */
  private[graft] def publishPartitions(path: String, meta: Meta,
      keep: Seq[String], rows: DataFrame): Long = {
    val by = "b"
    val (dir, gen) = IndexGen.stage(path)
    val staged = new File(dir, "staged")
    rows.write.mode("overwrite").partitionBy(by).parquet(staged.getPath)
    val parts = Option(staged.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.contains("=")).sortBy(_.getName).toSeq
    val segs = parts.map(_ => newSegment())
    writeRecord(dir, meta, keep ++ segs, None, Map.empty)
    if (keep.isEmpty && segs.isEmpty)
      Files.writeString(new File(dir, SchemaFile).toPath, ColumnBridge.asNullable(
        StructType(rows.schema.filterNot(_.name == by) :+ rows.schema(by))).json)
    parts.zip(segs).foreach { case (p, seg) =>
      val to = new File(path, seg)
      to.mkdirs()
      Files.move(p.toPath, new File(to, p.getName).toPath)
    }
    rmTree(staged)
    commit(path, gen, 1)
  }

  private def newSegment() = s"segments/seg-${java.util.UUID.randomUUID()}"

  private def writeRecord(dir: String, meta: Meta, segments: Seq[String],
      covers: Option[Seq[String]], params: Map[String, String]): Unit = {
    new File(dir).mkdirs()
    Files.writeString(new File(dir, MetaFile).toPath,
      (Seq("family" -> meta.family.name, "version" -> FormatVersion.toString) ++
        meta.family.geometry.zip(meta.geometry.map(_.toString)) ++
        params.toSeq.sorted.map { case (k, v) => (Param + k) -> v })
        .map { case (k, v) => s"$k=$v" }.mkString("\n"))
    Files.writeString(new File(dir, Manifest).toPath, segments.mkString("\n"))
    covers.foreach(c =>
      Files.writeString(new File(dir, Covers).toPath, c.mkString("\n")))
  }

  private def commit(path: String, gen: Long, grace: Long): Long = {
    IndexGen.commit(path, gen, grace)
    vacuum(path)
    gen
  }

  private def publish(path: String, dir: String, gen: Long, meta: Meta,
      keep: Seq[String], rows: Option[DataFrame],
      covers: Option[Seq[String]], params: Map[String, String],
      grace: Long): Long = {
    val seg = newSegment()
    writeRecord(dir, meta, keep ++ rows.map(_ => seg), covers, params)
    // Part-file count at rest IS the read parallelism of every kernel
    // that scans a segment (maxPartitionBytes makes a small file one scan
    // split), so no layout ever coalesces: a single-file PQ code segment
    // ran the whole |q|·|chunks| decode-dot retrieval in one task
    // (q_doc_store_pq 5 s → 41 s at sf0.1), and coalesce(1) also
    // serialized the encode kernel. File-count growth per append is the
    // compaction cadence's job, not the write's.
    rows.foreach { rows =>
      val w = meta.family match {
        // inverted lists: clustered by cid over an EXPLICIT partition
        // count, one file per list. Unclustered, partitionBy opens one file
        // per (task, cid) pair (8k near-empty files at nlist=256,
        // local[32]); a bare repartition(cid) gets AQE-coalesced by the
        // bytes it sees (2 tasks creating 256 list dirs serially — 2.9 s
        // of a 5 s save), the explicit-N form is exempt
        case Family.Ivf | Family.IvfPq =>
          rows.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions,
            col("cid")).write.partitionBy("cid")
        // graphs: each build task wrote whole graphs — no reshuffle
        case Family.Hnsw => rows.write.partitionBy("shard")
        // codes, signatures, hashes: one part file per non-empty input
        // partition
        case _ => rows.write
      }
      w.mode("overwrite").parquet(s"$path/$seg")
    }
    commit(path, gen, grace)
  }

  private def manifestOf(genDir: File): Option[Seq[String]] = {
    val f = new File(genDir, Manifest)
    if (f.isFile) Some(lines(f)) else None
  }

  private def lines(f: File): Seq[String] =
    Files.readString(f.toPath).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Drop segment dirs no generation on disk references (commit already
    * pruned old generations; their exclusive segments are dead weight). */
  private def vacuum(path: String): Unit = {
    val referenced = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .flatMap(manifestOf(_).getOrElse(Nil))
      .map(rel => new File(path, rel).getCanonicalPath).toSet
    Option(new File(path, "segments").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !referenced(f.getCanonicalPath))
      .foreach(rmTree)
  }

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from))(_.forEach(p =>
      Files.copy(p, to.resolve(from.relativize(p)))))
}
