package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graphs, Iterate}

/** Iterate driver + graph algorithms (reference: pw.iterate common.py:39,
  * stdlib/graphs). */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("fixpoint stops at convergence and honors maxIter") {
    // halve positive values until all zero
    val init = Seq(8L, 3L).toDF("v")
    val out = Iterate.fixpointByEquality(init, 100)(df => df.select((col("v") / 2).cast("long").as("v")))
    assert(rowsOf(out) == Set(Seq(0L)).map(identity) || out.collect().forall(_.getLong(0) == 0L))
    val capped = Iterate.fixpointByEquality(init, 1)(df => df.select((col("v") / 2).cast("long").as("v")))
    assert(rowsOf(capped) == Set(Seq(4L), Seq(1L)))
  }

  test("connectedComponents labels a path and separate components") {
    // path 1-2-3-4, separate edge 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val out = Graphs.connectedComponents(edges)
    assert(rowsOf(out) == Set(
      Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L),
      Seq(10L, 10L), Seq(11L, 10L)))
  }

  test("connectedComponents on an empty edge set is empty, not an NPE") {
    // sum() over zero rows is SQL-null; the convergence probe must read
    // both-null as converged (regression: ADVICE r8 medium #1)
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graphs.connectedComponents(edges).count() == 0L)
  }

  test("pagerank distributes rank along edges") {
    // star: 1,2,3 -> 0
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    val out = Graphs.pagerank(edges, iterations = 3)
    val ranks = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks(1L) - 0.15 / 4) < 1e-12)
    assert(math.abs(ranks(0L) - (0.15 / 4 + 0.85 * 3 * (0.15 / 4))) < 1e-9)
  }

  test("bellmanFord relaxes shortest paths, drops unreachable") {
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 5.0), (7L, 8L, 1.0))
      .toDF("src", "dst", "weight")
    val out = Graphs.bellmanFord(edges, lit(0L))
    assert(rowsOf(out) == Set(Seq(0L, 0.0), Seq(1L, 1.0), Seq(2L, 2.0)))
  }

  test("louvain: synchronous deterministic rounds merge cliques") {
    // two disjoint triangles; hand-traced 3-round evolution (see the
    // louvain scaladoc): round 1 everyone tie-breaks to its smallest
    // neighbor, round 2 the stragglers join the majority community,
    // round 3 is stable — each triangle ends as one community labeled
    // by its smallest-but-one node (the round-1 tie-break winner).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val out = Graphs.louvain(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // determinism: a second run lands on the identical labeling
    val again = Graphs.louvain(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("connectedComponents handles STRING node ids (changed-count probe)") {
    // a 5-node path needs >2 pointer-jump rounds: the numeric decimal-sum
    // probe would read all-NULL sums as instantly converged and split it
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y")).toDF("src", "dst")
    val out = Graphs.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("a", "b", "c", "d", "e").map(out) == Set("a"))
    assert(Set("x", "y").map(out) == Set("x"))
  }

  test("connectedComponents: driver union-find ≡ distributed fixpoint on " +
      "seeded random graphs (Int/Long ids, dup/reversed edges, self-loops)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val rnd = new scala.util.Random(1234)
    def check(edges: org.apache.spark.sql.DataFrame): Unit = {
      val local = Graphs.connectedComponentsGated(edges, 50, 1 << 20)
      val loop = Graphs.connectedComponentsGated(edges, 50, 0)
      // each side really ran: the driver path answers from a local
      // relation, the fixpoint from its checkpointed loop state
      assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(!loop.queryExecution.analyzed.isInstanceOf[LocalRelation] ||
        edges.isEmpty)
      assert(local.schema.map(_.dataType) == loop.schema.map(_.dataType))
      assert(rowsOf(local) == rowsOf(loop), s"edges:\n${edges.collect().toSeq}")
    }
    for (_ <- 1 to 4) {
      val nodes = 4 + rnd.nextInt(20)
      val base = Seq.fill(1 + rnd.nextInt(24))(
        (rnd.nextInt(nodes), rnd.nextInt(nodes)))
      // duplicate and reversed copies, plus a self-loop island
      val es = base ++ base.take(3) ++ base.take(3).map(_.swap) :+
        ((nodes + 5, nodes + 5))
      check(es.toDF("src", "dst"))
      // Long ids beyond the Int range must not truncate
      check(es.map { case (a, b) => (a + (1L << 40), b + (1L << 40)) }
        .toDF("src", "dst"))
    }
    // mixed Int/Long columns widen to Long on both sides
    check(Seq((1, 2L), (3, 2L), (7, 8L)).toDF("src", "dst"))
    check(Seq.empty[(Int, Int)].toDF("src", "dst"))
  }

  test("louvain rejects non-numeric node ids loudly") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] { Graphs.louvain(edges) }
  }

  test("triangleCounts: per-node counts + coefficient, input normalized") {
    // triangle {1,2,3} plus a pendant 4; duplicates, reversed direction
    // and a self-loop must all normalize away
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L),
      (3L, 3L), (1L, 2L)).toDF("src", "dst")
    val out = Graphs.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L)._1 == 3L && out(3L)._2 == 1L &&
      math.abs(out(3L)._3 - 1.0 / 3) < 1e-12)
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("triangleCounts on K4: every node in 3 triangles, coeff 1") {
    val nodes = (1L to 4L)
    val edges = (for { a <- nodes; b <- nodes if a < b } yield (a, b))
      .toDF("src", "dst")
    val out = Graphs.triangleCounts(edges).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getDouble(3) == 1.0)
    }
  }
}
