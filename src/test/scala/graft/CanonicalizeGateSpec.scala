package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.MinHashSigExpr

/** The size gate of [[Dedup.canonicalize]]: below it the in-batch LSH
  * pass runs on the driver ([[Dedup.lshPairsLocal]]), above it (or for
  * ids the driver rules cannot replay exactly) the distributed pass
  * runs. Both must return the same rows. */
class CanonicalizeGateSpec extends SparkSpec {
  import spark.implicits._

  private case class Cfg(n: Int, k: Int, bands: Int, threshold: Double,
      maxDf: Int)

  private val cfgs = Seq(
    Cfg(3, 6, 3, 0.8, 100),
    Cfg(2, 6, 3, 0.5, 3), // small vocabulary: the DF cap bites
    Cfg(1, 4, 2, 0.3, Int.MaxValue), // no cap
    Cfg(3, 8, 4, 0.6, 5))

  private def shingleSet(t: String, n: Int): Set[String] = {
    val w = t.split(" ", -1)
    (0 to w.length - n).map(j => w.slice(j, j + n).mkString(" ")).toSet
  }

  private def bandCollide(a: String, b: String, c: Cfg): Boolean = {
    val (sa, sb) = (MinHashSigExpr.signature(shingleSet(a, c.n).iterator, c.k),
      MinHashSigExpr.signature(shingleSet(b, c.n).iterator, c.k))
    val r = c.k / c.bands
    (0 until c.bands).exists(bd =>
      (bd * r until bd * r + r).forall(i => sa(i) == sb(i)))
  }

  private def jaccard(a: String, b: String, n: Int): Double = {
    val (x, y) = (shingleSet(a, n), shingleSet(b, n))
    (x & y).size.toDouble / (x | y).size
  }

  /** A seeded random batch: small-vocabulary documents (shared shingles
    * for the DF cap), planted near-dup chains from a large vocabulary
    * whose band collision is brute-forced, short/empty/NULL texts, and a
    * keepBy score with ties and NULLs. Returns the rows and the planted
    * (smaller id, larger id) pairs. */
  private def batch(seed: Int, c: Cfg): (Seq[(Long, String, Option[Int])],
      Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((-300L to 300L).toVector).iterator
    def score() = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(3))
    val small = Seq("a", "b", "c")
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String, Option[Int])]()
    for (_ <- 0 until 40)
      docs += ((ids.next(), Seq.fill(1 + rnd.nextInt(9))(
        small(rnd.nextInt(small.length))).mkString(" "), score()))
    val planted = scala.collection.mutable.Set[(Long, Long)]()
    for (_ <- 0 until 6) {
      var prev = Seq.fill(24 + rnd.nextInt(8))(s"w${rnd.nextInt(5000)}")
      var prevId = ids.next()
      docs += ((prevId, prev.mkString(" "), score()))
      for (_ <- 0 until 1 + rnd.nextInt(2)) {
        // brute force the edit until the pair collides on a band
        val next = Iterator.continually {
            val p = rnd.nextInt(prev.length)
            prev.updated(p, s"x${rnd.nextInt(100000)}")
          }.find(v => bandCollide(prev.mkString(" "), v.mkString(" "), c) &&
            jaccard(prev.mkString(" "), v.mkString(" "), c.n) >= c.threshold)
          .get
        val id = ids.next()
        docs += ((id, next.mkString(" "), score()))
        planted += ((math.min(prevId, id), math.max(prevId, id)))
        prev = next; prevId = id
      }
    }
    for (t <- Seq("", "solo", "two words", null)) docs += ((ids.next(), t, score()))
    (rnd.shuffle(docs.toSeq), planted.toSet)
  }

  private def frame(rows: Seq[(Long, String, Option[Int])], intIds: Boolean) = {
    val df = rows.toDF("doc_id", "text", "score")
    if (intIds) df.withColumn("doc_id", col("doc_id").cast("int")) else df
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("a").cast("long"), col("b").cast("long"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet

  for ((c, i) <- cfgs.zipWithIndex; intIds <- Seq(false, true))
    test(s"driver LSH pass ≡ distributed pass: $c, " +
        s"${if (intIds) "Int" else "Long"} ids") {
      val (rows, planted) = batch(31 * i + (if (intIds) 7 else 0), c)
      val df = frame(rows, intIds)
      val args = (col("doc_id"), col("text"))
      val dist = pairs(Dedup.minhashLshPairs(df, args._1, args._2, c.n, c.k,
        c.bands, c.threshold, c.maxDf))
      // preconditions: the planted pairs really are LSH candidates that
      // verify on the distributed side, and the DF cap really caps
      assert(planted.subsetOf(dist.map(p => (p._1, p._2))),
        s"precondition: planted pairs $planted not all in $dist")
      if (c.maxDf < 100) {
        val dfs = rows.flatMap(r => Option(r._2).toSeq
          .flatMap(shingleSet(_, c.n))).groupBy(identity)
        assert(dfs.values.exists(_.size > c.maxDf), "precondition: cap bites")
      }
      val local = Dedup.lshPairsLocal(df, args._1, args._2, c.n, c.k, c.bands,
        c.threshold, c.maxDf, graft.core.Small.MaxRows)
      assert(local.isDefined, "batch must take the driver path")
      assert(pairs(local.get) == dist)
      assert(local.get.schema("a").dataType == df.schema("doc_id").dataType)
      def canon(maxRows: Int) = rowsOf(Dedup.canonicalizeGated(df, args._1,
        args._2, col("score"), c.n, c.k, c.bands, c.threshold, c.maxDf,
        maxRows))
      assert(canon(graft.core.Small.MaxRows) == canon(0))
    }

  test("NULL, duplicate and string ids take the distributed pass") {
    val (rows, _) = batch(5, cfgs.head)
    val base = frame(rows, intIds = false)
    val nullId = base.union(Seq((None: Option[Long], "a b c d e", Option(1)))
      .toDF("doc_id", "text", "score"))
    val dupId = base.union(Seq((rows.head._1, "a b c a b c", Option(2)))
      .toDF("doc_id", "text", "score"))
    val strId = base.withColumn("doc_id", col("doc_id").cast("string"))
    for ((name, df) <- Seq("NULL id" -> nullId, "duplicate id" -> dupId,
        "string id" -> strId)) {
      assert(Dedup.lshPairsLocal(df, col("doc_id"), col("text"), 3, 6, 3, 0.8,
        100, graft.core.Small.MaxRows).isEmpty, s"$name: no driver path")
      assert(rowsOf(Dedup.canonicalize(df, col("doc_id"), col("text"),
          col("score"))) == rowsOf(Dedup.canonicalizeGated(df, col("doc_id"),
          col("text"), col("score"), 3, 6, 3, 0.8, 100, 0)), name)
    }
    // an oversized batch falls back too
    assert(Dedup.lshPairsLocal(base, col("doc_id"), col("text"), 3, 6, 3, 0.8,
      100, maxRows = 10).isEmpty)
  }

  test("MinHashSigExpr.signature ≡ the Dedup.minhash aggregation") {
    val rnd = new scala.util.Random(17)
    val alphabet = "ab cé z中9"
    val sets = (0 until 60).map(i => i.toLong -> Seq.fill(1 + rnd.nextInt(12))(
      Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString).distinct)
    for (k <- Seq(1, 6, 9)) {
      val sh = sets.flatMap { case (id, ss) => ss.map(id -> _) }.toDF("id", "s")
      val agg = Dedup.minhash(sh, k).collect().map(r =>
        r.getLong(0) -> (1 to k).map(r.getString)).toMap
      val kernel = sets.map { case (id, ss) =>
        id -> MinHashSigExpr.signature(ss.iterator, k).toSeq }.toMap
      assert(kernel == agg, s"k=$k")
    }
    assert(MinHashSigExpr.signature(Iterator.empty, 6) == null)
  }

  test("driver pick ≡ argmaxRows: Long, Short and NULL keepBy with ties " +
      "and extremes; a Double keepBy keeps argmaxRows") {
    val c = cfgs.head
    val (rows, planted) = batch(11, c)
    val rnd = new scala.util.Random(3)
    val extremes = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)
    val df = rows.map { case (id, t, _) =>
        (id, t, if (rnd.nextInt(5) == 0) None
          else Some(extremes(rnd.nextInt(extremes.size))))
      }.toDF("doc_id", "text", "score")
    def canon(keepBy: org.apache.spark.sql.Column, maxRows: Int) =
      Dedup.canonicalizeGated(df, col("doc_id"), col("text"), keepBy,
        c.n, c.k, c.bands, c.threshold, c.maxDf, maxRows)
    for ((name, keepBy) <- Seq("Long" -> col("score"),
        "Short" -> (col("score") % 7).cast("short"),
        "literal" -> lit(0), "NULL" -> lit(null).cast("int"),
        "Double" -> (col("score") / 3.0))) {
      val driver = canon(keepBy, graft.core.Small.MaxRows)
      assert(rowsOf(driver) == rowsOf(canon(keepBy, 0)), name)
      // the integral picks really run on the driver: no struct-min
      // aggregate is left in the plan
      val agg = driver.queryExecution.executedPlan.toString
        .contains("SortAggregate")
      assert(agg == (name == "Double"), s"$name: SortAggregate = $agg")
    }
    // precondition: the batch has clusters to pick from
    assert(planted.nonEmpty && rowsOf(canon(lit(0), 0)).size < rows.size)
  }
}
