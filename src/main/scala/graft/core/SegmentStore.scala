package graft.core

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one write protocol of every persisted index family — IVF lists,
  * IVF-PQ lists, binary codes, PQ codes, HNSW graphs, MinHash signatures
  * and content hashes (reference: the engine keeps its external indexes
  * answering while they are maintained, xpacks/llm/document_store.py).
  *
  * An index at `path` is a set of [[IndexGen]] generations plus a shared
  * `segments/` dir. A generation dir holds:
  *  - `meta.txt` — the [[Meta]] record: family, format version and the
  *    family's scalar geometry;
  *  - `segments.txt` — the manifest: the segments (under `path`) whose
  *    rows, unioned, are the index;
  *  - side tables (`centroids/`, `codebook/`) — small parquet tables
  *    the family's encoder and search read.
  *
  * Writers go stage → meta + manifest → segment → commit → vacuum:
  *  - [[save]] writes the side tables and one segment into a fresh
  *    generation;
  *  - [[append]] checks the caller's record against the generation it
  *    resolved BEFORE it stages anything (a batch of another family or
  *    geometry fails loudly instead of committing a generation no reader
  *    can load), carries the side tables over as a file copy (no Spark
  *    job) and lists the old segments plus one new one;
  *  - [[compact]] rewrites given rows as the generation's only segment.
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
    lazy val all: Seq[Family] = Seq(Ivf, IvfPq, Binary, Pq, Signature, Hash, Hnsw)
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
    * manifest's segments (relative to `path`) and its side tables. */
  final case class Generation(path: String, gen: Long, meta: Meta,
      segments: Seq[String], sides: Seq[String]) {
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
      spark.read.parquet(s"$dir/$name")
    }

    def segmentDirs: Seq[String] = segments.map(s => s"$path/$s")

    /** The index rows: one scan per segment, unioned. A multi-path read
      * would infer ONE partition scheme across segment roots and reject
      * the layout; per-segment discovery keeps each segment's cid=
      * pruning. Segment counts stay small by the compaction cadence.
      *
      * Unpartitioned segments of one schema are read as ONE scan
      * instead, so a probe's plan, and its generated code, is the same
      * at any segment count (a union gives each segment's scan a codegen
      * stage of its own, whose class differs by stage id). Segments
      * whose schemas differ (ids appended in another integral type)
      * keep the union, which widens them. */
    def rows(spark: SparkSession): DataFrame = {
      val parts = segmentDirs.map(spark.read.parquet(_))
      val schema = parts.head.schema
      val partitioned = meta.family match {
        case Family.Ivf | Family.IvfPq | Family.Hnsw => true
        case _ => false
      }
      if (partitioned || parts.exists(_.schema != schema))
        parts.reduce(_ unionByName _)
      else spark.read.schema(schema).parquet(segmentDirs: _*)
    }
  }

  /** Resolve the committed generation of the index at `path`. Fails,
    * naming the path, when nothing is committed there, and fails on a
    * generation without a record at [[FormatVersion]]. */
  def open(path: String): Generation = {
    val gen = IndexGen.committed(path)
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
    Generation(path, gen, Meta(family, family.geometry.map(kv(_).toInt)), segs,
      dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq)
  }

  /** A fresh index at `path`: the side tables and `rows` as its one
    * segment. Returns the committed generation. */
  def save(path: String, meta: Meta, rows: DataFrame,
      sides: (String, DataFrame)*): Long = {
    val (dir, gen) = IndexGen.stage(path)
    sides.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }
    publish(path, dir, gen, meta, Nil, rows)
  }

  /** Grow the generation `g` by one segment of `rows`. `meta` is the
    * record the rows were encoded for; it must equal `g`'s, which is
    * checked before anything is staged. Returns the committed
    * generation. */
  def append(g: Generation, meta: Meta, rows: DataFrame): Long = {
    require(meta == g.meta, s"cannot append a $meta segment to ${g.path}: " +
      s"its committed generation ${g.gen} holds a ${g.meta} index")
    carry(g, g.segments, rows)
  }

  /** Replace `g`'s segments by `rows` as one segment, same record and
    * side tables. Returns the committed generation. */
  def compact(g: Generation, rows: DataFrame): Long = carry(g, Nil, rows)

  private def carry(g: Generation, keep: Seq[String], rows: DataFrame): Long = {
    val (dir, gen) = IndexGen.stage(g.path)
    new File(dir).mkdirs()
    g.sides.foreach(s =>
      copyTree(new File(g.dir, s).toPath, new File(dir, s).toPath))
    publish(g.path, dir, gen, g.meta, keep, rows)
  }

  private def publish(path: String, dir: String, gen: Long, meta: Meta,
      keep: Seq[String], rows: DataFrame): Long = {
    val seg = s"segments/seg-${java.util.UUID.randomUUID()}"
    new File(dir).mkdirs()
    Files.writeString(new File(dir, MetaFile).toPath,
      (Seq("family" -> meta.family.name, "version" -> FormatVersion.toString) ++
        meta.family.geometry.zip(meta.geometry.map(_.toString)))
        .map { case (k, v) => s"$k=$v" }.mkString("\n"))
    Files.writeString(new File(dir, Manifest).toPath, (keep :+ seg).mkString("\n"))
    // Part-file count at rest IS the read parallelism of every kernel
    // that scans a segment (maxPartitionBytes makes a small file one scan
    // split), so no layout ever coalesces: a single-file PQ code segment
    // ran the whole |q|·|chunks| decode-dot retrieval in one task
    // (q_doc_store_pq 5 s → 41 s at sf0.1), and coalesce(1) also
    // serialized the encode kernel. File-count growth per append is the
    // compaction cadence's job, not the write's.
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
    IndexGen.commit(path, gen)
    vacuum(path)
    gen
  }

  private def manifestOf(genDir: File): Option[Seq[String]] = {
    val f = new File(genDir, Manifest)
    if (f.isFile) Some(Files.readString(f.toPath).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty))
    else None
  }

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
