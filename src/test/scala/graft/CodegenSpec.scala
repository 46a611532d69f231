package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.core.Small
import graft.operators.{Dedup, DocStore, Pipelines}
import graft.plans.MinHashSigExpr

/** Generated-code reuse of the per-batch paths, at the session's default
  * codegen cache (`spark.sql.codegen.cache.maxEntries` = 100).
  *
  * Spark's cache keys a compiled class on its source text (and the
  * compiling thread's classloader), so a per-batch plan whose generated
  * code inlines the batch's values compiles anew on every batch, and a
  * batch that touches more distinct classes than the cache holds
  * recompiles them all. Compiles are read from
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, whose count is one per
  * cache miss. */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the classes compiled while it ran. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("a gate predicate compiles nothing for a second value set " +
      "(3 → 8 values; Long, Int and String keys)") {
    val dir = tmp("codegen_keys") + "/t"
    spark.range(0, 2000, 1, 2)
      .select(col("id"), col("id").cast("int").as("i"),
        md5(col("id").cast("string")).as("h"))
      .write.parquet(dir)
    val t = spark.read.parquet(dir)
    def values(c: String, ids: Seq[Long]): Seq[Any] = c match {
      case "id" => ids
      case "i" => ids.map(_.toInt)
      case "h" => ids.map(x => java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
    }
    val three = Seq(11L, 500L, 1999L)
    val eight = Seq(3L, 7L, 64L, 65L, 900L, 1000L, 1500L, 1998L)
    for (c <- Seq("id", "i", "h");
        (name, pred) <- Seq[(String, Seq[Any] => org.apache.spark.sql.Column)](
          "in" -> (vs => Small.in(col(c), vs)),
          "notIn" -> (vs => Small.notIn(col(c), vs)))) {
      def run(vs: Seq[Any]) = t.filter(pred(vs)).select(col("id")).as[Long]
        .collect().toSet
      val (got3, _) = compiles(run(values(c, three)))
      val (got8, n) = compiles(run(values(c, eight)))
      assert(n == 0, s"$name over $c compiled $n classes for a new value set")
      val want = if (name == "in") (s: Seq[Long]) => s.toSet
        else (s: Seq[Long]) => (0L until 2000L).toSet -- s
      assert(got3 == want(three) && got8 == want(eight), s"$name over $c")
    }
    // the pin can fail: `isin` with 10 or fewer values inlines them
    compiles(t.filter(col("id").isin(three: _*)).count())
    val (_, inlined) = compiles(t.filter(col("id").isin(eight: _*)).count())
    assert(inlined > 0, "isin must recompile for new values")
  }

  test("Small.in takes any boxed integral value for an integral key; a " +
      "value of another type fails instead of matching nothing") {
    val t = spark.range(0, 10, 1, 1)
      .select(col("id"), col("id").cast("int").as("i"),
        col("id").cast("string").as("s"), col("id").cast("double").as("d"))
    def ids(c: String, vs: Seq[Any]) = t.filter(Small.in(col(c), vs))
      .select(col("id")).as[Long].collect().toSet
    def kept(c: String, vs: Seq[Any]) = t.filter(Small.notIn(col(c), vs))
      .count()
    val mixed = Seq[Any](2, 3L, 4.toShort, 5.toByte)
    for (c <- Seq("id", "i")) {
      assert(ids(c, mixed) == Set(2L, 3L, 4L, 5L), c)
      assert(kept(c, mixed) == 6, c)
    }
    assert(ids("s", Seq("2", "3")) == Set(2L, 3L))
    assert(ids("d", Seq(2.0, 3.0)) == Set(2L, 3L))
    for ((c, vs) <- Seq("s" -> Seq[Any](2), "d" -> Seq[Any](2),
        "id" -> Seq[Any]("2")))
      intercept[Exception](ids(c, vs))
  }

  test("a steady refresh day compiles nothing: days with compaction " +
      "every second day, after two warm days") {
    val rnd = new scala.util.Random(2026)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc(): Vector[String] =
      ("foxtrot" +: Vector.fill(39)(vocab(rnd.nextInt(vocab.size))))
    def shingleSet(ws: Seq[String]) = ws.sliding(3).map(_.mkString(" ")).toSet
    // a one-word edit whose signature shares a band with the original
    // and agrees on at least half its hashes: the history probe drops it
    def nearEdit(ws: Vector[String]): Vector[String] = {
      val sig = MinHashSigExpr.signature(shingleSet(ws).iterator, 6)
      Iterator.continually(
          ws.updated(1 + rnd.nextInt(ws.size - 1), s"x${rnd.nextInt(100000)}"))
        .find { e =>
          val s = MinHashSigExpr.signature(shingleSet(e).iterator, 6)
          (0 until 3).exists(b => s(2 * b) == sig(2 * b) &&
            s(2 * b + 1) == sig(2 * b + 1)) &&
            s.indices.count(i => s(i) == sig(i)) >= 3
        }.get
    }
    val days = 6
    val in = tmp("codegen_days")
    val seen = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    val planted = (0 until days).map { d =>
      val fresh = Vector.fill(40)(doc())
      // six distinct earlier docs: two edits of one original would be
      // near-dups of each other inside the day
      val orig = rnd.shuffle(seen.indices.toVector).take(if (d == 0) 0 else 6)
        .map(seen)
      val exact = orig.take(3)
      val near = orig.drop(3).map(nearEdit)
      seen ++= fresh
      val texts = fresh ++ exact ++ near
      texts.zipWithIndex.map { case (ws, j) => (d * 1000L + j, ws.mkString(" ")) }
        .toDF("doc_id", "text").coalesce(1)
        .write.parquet(f"$in/day-$d%03d")
      texts.indices.drop(fresh.size).map(j => d * 1000L + j).toSet
    }
    val work = tmp("codegen_work")
    val heldout = Seq((1L, vocab.take(12).mkString(" "))).toDF("h", "text")
    def day(d: Int): Set[Long] = {
      val out = Pipelines.pretrainCorpusIncremental(
        spark.read.parquet(f"$in/day-$d%03d"), col("doc_id"), col("text"),
        Map("en" -> Seq("foxtrot")), keepLang = "en", stopwords = Seq("the"),
        minQuality = 0.0, blocklist = Nil,
        hashIndex = s"$work/hash", sigIndex = s"$work/sig",
        heldout = heldout, heldoutText = col("text"), ngram = 5,
        sampleRate = 1.0, salt = "cg", packBudget = 256, packBuckets = 4,
        nearDup = Pipelines.NearDupConfig(3, 6, 3, 0.8, 20))
      out.write.parquet(f"$work/packed/day-$d%03d")
      graft.core.Caches.drain()
      if ((d + 1) % 2 == 0) {
        Dedup.hashCompact(spark, s"$work/hash")
        Dedup.signatureCompact(spark, s"$work/sig")
      }
      spark.read.parquet(f"$work/packed/day-$d%03d").select("doc_id")
        .as[Long].collect().toSet
    }
    val counts = (0 until days).map { d =>
      val (kept, n) = compiles(day(d))
      // precondition: every planted duplicate dropped, so each day runs
      // the gates with non-empty drop lists
      assert((kept intersect planted(d)).isEmpty && kept.size == 40,
        s"day $d kept ${kept.size}, planted survivors ${kept intersect planted(d)}")
      n
    }
    info(s"classes compiled per day: ${counts.mkString(", ")}")
    assert(counts.drop(2).forall(_ == 0),
      s"compiles per day ${counts.mkString(", ")}: a steady day recompiled")
  }

  test("a steady live-store tick compiles nothing: a gated buildStream " +
      "micro-batch, extendIndex and a single-query retrieve, after three " +
      "warm ticks") {
    val t = tmp("codegen_live")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val store = s"$t/store"
    val sq = DocStore.buildStream(in.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("data")),
      col("doc_id"), col("data"), store, s"$t/ckpt", chunkSize = 16,
      overlap = 4, dedupIndex = Some(s"$t/exact"),
      nearDedupIndex = Some(s"$t/near"), compactEvery = 1).start()
    val rnd = new scala.util.Random(2613)
    val vocab = (0 until 500).map(i => s"w$i")
    def text(): String = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val sent = scala.collection.mutable.ArrayBuffer[String]()
    // each tick: fresh docs plus two exact re-sends of earlier texts, so
    // the exact gate drops rows on every tick; the index is built once,
    // then extended, as a live store is
    def tick(n: Int): Int = {
      val fresh = (0 until 12).map(j => (n * 1000L + j, text()))
      val resent = rnd.shuffle(sent.toSeq).take(2).zipWithIndex
        .map { case (s, j) => (n * 1000L + 500 + j, s) }
      in.addData(fresh ++ resent: _*)
      sq.processAllAvailable()
      sent ++= fresh.map(_._2)
      if (n == 0) DocStore.rebuildIndex(spark, store, DocStore.IvfFlat(4))
      else DocStore.extendIndex(spark, store)
      DocStore.open(spark, store, dedupChunks = true)
        .retrieve(Seq((n.toLong, text())).toDF("qid", "q"), col("qid"),
          col("q"), 5).collect().length
    }
    val counts = try (0 until 8).map { n =>
      val (hits, c) = compiles(tick(n))
      assert(hits == 5, s"tick $n retrieved $hits hits")
      c
    } finally sq.stop()
    info(s"classes compiled per tick: ${counts.mkString(", ")}")
    assert(counts.drop(3).forall(_ == 0),
      s"compiles per tick ${counts.mkString(", ")}: a steady tick recompiled")
  }
}
