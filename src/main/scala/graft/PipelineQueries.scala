package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling, Similarity, TextOps}
import graft.SparkEntry.{load, loadEvents}

/** Oracle-checked queries for the training-data pipeline operators:
  * deduplication, similarity search, text analysis (over the `documents`
  * and `embeddings` tables).
  *
  * Every hash in these pipelines is md5-derived so the DuckDB oracle can
  * regenerate bit-identical signatures/buckets/hyperplanes; vector math
  * is in-order double-precision on both sides.
  */
object PipelineQueries extends QueryModule {

  private val r4e: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => round(c + lit(1e-9), 4)

  // ---------------------------------------------------------------
  // Deduplication
  // ---------------------------------------------------------------

  // exact dedup on a normalized key (first 8 words)
  q("q_dedup_exact",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents
      |GROUP BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))""") { (s, dir) =>
    Dedup.exact(load(s, dir, "documents"), col("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
  }

  // MinHash + LSH banding + exact-Jaccard verification; stop-shingles
  // (document frequency > 20) dropped before signatures
  q("q_dedup_minhash",
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |sh AS (SELECT doc_id, s FROM sh0
      |       QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |mh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM mh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM mh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM mh),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |i AS (SELECT c.a, c.b, count(*) AS i FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.a
      |  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
      |  GROUP BY 1, 2)
      |SELECT a, b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
      |FROM i JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8""") { (s, dir) =>
    Dedup.minhashLshPairs(load(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, k = 6, bands = 3, threshold = 0.8, maxDf = 20)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shared oracle for the incremental-dedup pair (save-then-probe and
    * save-then-APPEND-then-probe must land on the identical state):
    * history = even doc_ids' MinHash signatures, new = odd doc_ids,
    * band-key candidates, signature-agreement Jaccard estimate
    * (matching hashes / k) ≥ 0.5 — the full signature-index replay. */
  private val dedupIncrementalSql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |mh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh GROUP BY doc_id),
      |hist AS (SELECT * FROM mh WHERE doc_id % 2 = 0),
      |nw AS (SELECT * FROM mh WHERE doc_id % 2 = 1),
      |bh AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM hist UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM hist UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM hist),
      |bn AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM nw UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM nw UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM nw),
      |cand AS (SELECT DISTINCT x.doc_id AS id, y.doc_id AS dup_of
      |  FROM bn x JOIN bh y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id != y.doc_id),
      |est AS (SELECT c.id, c.dup_of,
      |  CAST((CASE WHEN n.h0 = h.h0 THEN 1 ELSE 0 END)
      |     + (CASE WHEN n.h1 = h.h1 THEN 1 ELSE 0 END)
      |     + (CASE WHEN n.h2 = h.h2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN n.h3 = h.h3 THEN 1 ELSE 0 END)
      |     + (CASE WHEN n.h4 = h.h4 THEN 1 ELSE 0 END)
      |     + (CASE WHEN n.h5 = h.h5 THEN 1 ELSE 0 END) AS DOUBLE) / 6 AS e
      |  FROM cand c JOIN nw n ON n.doc_id = c.id
      |  JOIN hist h ON h.doc_id = c.dup_of)
      |SELECT id, dup_of, round(e + 1e-9, 4) AS est_jaccard
      |FROM est WHERE e >= 0.5""".stripMargin

  // INCREMENTAL dedup — the production refresh loop's history half: the
  // even-id docs' MinHash signatures persist as a signature index (one
  // row per doc at rest — history text/shingles never re-read), the
  // odd-id "day's ingest" band-joins against it and keeps candidates at
  // signature-agreement est ≥ 0.5. The batch suite (q_dedup_minhash)
  // covers the in-batch half of the loop. This query runs the band join
  // (`maxRows = 0`: a probe this small is otherwise answered on the
  // driver), so the oracle checks the distributed path and PlanSpec pins
  // its plan; q_dedup_incremental_append runs the driver path against
  // the same oracle.
  q("q_dedup_incremental", dedupIncrementalSql) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_sig").toString
    Dedup.signatureSave(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), path)
    Dedup.dedupAgainstGated(s, path, docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), threshold = 0.5, maxRows = 0)
      .select(col("id"), col("dup_of"), r4e(col("est_jaccard")).as("est_jaccard"))
  }

  // The same final state reached INCREMENTALLY: index the doc_id % 4 = 0
  // quarter, signatureAppend the % 4 = 2 quarter (O(new rows), history
  // segment never re-read), probe the odds — same oracle as
  // q_dedup_incremental, not a row different (append ≡ rebuild: a
  // signature is a pure per-document function).
  q("q_dedup_incremental_append", dedupIncrementalSql) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_sig_app").toString
    Dedup.signatureSave(docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"), path)
    Dedup.signatureAppend(s, path, docs.filter(col("doc_id") % 4 === 2),
      col("doc_id"), col("text"))
    Dedup.dedupAgainst(s, path, docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), threshold = 0.5)
      .select(col("id"), col("dup_of"), r4e(col("est_jaccard")).as("est_jaccard"))
  }

  // The COMPLETE refresh loop composed (Dedup.dedupRefresh): odd-id
  // "day's ingest" → in-batch canonicalization at the index geometry
  // (LSH pairs → recursive-CTE CC → smallest-id representative) →
  // history-signature probe drops already-known content (agreement ≥ 3
  // of 6 hashes ⇔ est ≥ 0.5, exact in integers) → survivors appended.
  // The oracle replays all three stages; the append side is spec-pinned
  // (PipelineSpec probes a survivor copy against the refreshed index).
  q("q_dedup_refresh",
    """WITH RECURSIVE
      |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |bsh AS (SELECT doc_id, s FROM sh0 WHERE doc_id % 2 = 1
      |       QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |bmh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM bsh GROUP BY doc_id),
      |bb AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM bmh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM bmh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM bmh),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bb x JOIN bb y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
      |ix AS (SELECT c.a, c.b, count(*) AS i FROM cand c
      |  JOIN bsh sa ON sa.doc_id = c.a
      |  JOIN bsh sb ON sb.doc_id = c.b AND sb.s = sa.s
      |  GROUP BY 1, 2),
      |pairs AS (SELECT a, b FROM ix
      |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b AS src, a AS dst FROM pairs),
      |batchd AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM batchd
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
      |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
      |canon AS (SELECT node AS doc_id FROM comp
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY node) = 1),
      |hmh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh0 WHERE doc_id % 2 = 0 GROUP BY doc_id),
      |cmh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh0 WHERE doc_id IN (SELECT doc_id FROM canon)
      |  GROUP BY doc_id),
      |hb AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM hmh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM hmh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM hmh),
      |cb AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM cmh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM cmh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM cmh),
      |cand2 AS (SELECT DISTINCT x.doc_id AS id, y.doc_id AS dup_of
      |  FROM cb x JOIN hb y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id != y.doc_id),
      |dup AS (SELECT DISTINCT c.id FROM cand2 c
      |  JOIN cmh n ON n.doc_id = c.id
      |  JOIN hmh h ON h.doc_id = c.dup_of
      |  WHERE (CASE WHEN n.h0 = h.h0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN n.h1 = h.h1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN n.h2 = h.h2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN n.h3 = h.h3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN n.h4 = h.h4 THEN 1 ELSE 0 END)
      |      + (CASE WHEN n.h5 = h.h5 THEN 1 ELSE 0 END) >= 3)
      |SELECT doc_id FROM canon
      |WHERE doc_id NOT IN (SELECT id FROM dup)""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_sig_rf").toString
    Dedup.signatureSave(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), path)
    Dedup.dedupRefresh(s, path, docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), threshold = 0.8, estThreshold = 0.5,
        maxDf = 20)
      .select(col("doc_id"))
  }

  /** One refresh round's CTE chain for the streaming oracle (suffix
    * `x`): in-batch DF-capped LSH canonicalization of the docs matching
    * `batchPred` (pairs → recursive-CTE CC → smallest-id
    * representative), then the signature-agreement probe against the
    * CTE `hist` (cols doc_id, h0..h5) — ≥ 3 of 6 hashes ⇔ est ≥ 0.5,
    * exact in integers. Emits `cmh{x}` (survivor-side uncapped
    * signatures, i.e. what the index ingests) and `surv{x}`. */
  private def mh6(src: String): String =
    s"""SELECT doc_id,
       |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
       |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
       |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
       |  FROM $src GROUP BY doc_id""".stripMargin
  private def bands6(src: String): String =
    s"""SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM $src UNION ALL
       |  SELECT doc_id, 1, md5(h2 || h3) FROM $src UNION ALL
       |  SELECT doc_id, 2, md5(h4 || h5) FROM $src""".stripMargin
  private def refreshRound(x: String, batchPred: String,
      hist: String): String =
    s"""bsh$x AS (SELECT doc_id, s FROM sh0 WHERE $batchPred
       |  QUALIFY count(*) OVER (PARTITION BY s) <= 20),
       |bmh$x AS (${mh6(s"bsh$x")}),
       |bb$x AS (${bands6(s"bmh$x")}),
       |cand$x AS (SELECT DISTINCT p.doc_id AS a, q.doc_id AS b
       |  FROM bb$x p JOIN bb$x q
       |  ON p.band = q.band AND p.bk = q.bk AND p.doc_id < q.doc_id),
       |sz$x AS (SELECT doc_id, count(*) AS n FROM bsh$x GROUP BY 1),
       |ix$x AS (SELECT c.a, c.b, count(*) AS i FROM cand$x c
       |  JOIN bsh$x sa ON sa.doc_id = c.a
       |  JOIN bsh$x sb ON sb.doc_id = c.b AND sb.s = sa.s
       |  GROUP BY 1, 2),
       |pairs$x AS (SELECT a, b FROM ix$x
       |  JOIN sz$x sa ON sa.doc_id = a JOIN sz$x sb ON sb.doc_id = b
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
       |edges$x AS (SELECT a AS src, b AS dst FROM pairs$x
       |  UNION SELECT b AS src, a AS dst FROM pairs$x),
       |batchd$x AS (SELECT doc_id FROM documents WHERE $batchPred),
       |reach$x(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM batchd$x
       |  UNION
       |  SELECT e.src, r.lbl FROM edges$x e JOIN reach$x r ON r.node = e.dst),
       |comp$x AS (SELECT node, min(lbl) AS cluster FROM reach$x GROUP BY node),
       |canon$x AS (SELECT node AS doc_id FROM comp$x
       |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY node) = 1),
       |cmh$x AS (SELECT * FROM (${mh6("sh0")}) z
       |  WHERE doc_id IN (SELECT doc_id FROM canon$x)),
       |cb$x AS (${bands6(s"cmh$x")}),
       |hb$x AS (${bands6(hist)}),
       |cand2$x AS (SELECT DISTINCT p.doc_id AS id, q.doc_id AS dup_of
       |  FROM cb$x p JOIN hb$x q
       |  ON p.band = q.band AND p.bk = q.bk AND p.doc_id != q.doc_id),
       |dup$x AS (SELECT DISTINCT c.id FROM cand2$x c
       |  JOIN cmh$x n ON n.doc_id = c.id
       |  JOIN $hist h ON h.doc_id = c.dup_of
       |  WHERE ${(0 until 6).map(i =>
            s"(CASE WHEN n.h$i = h.h$i THEN 1 ELSE 0 END)").mkString(" + ")}
       |    >= 3),
       |surv$x AS (SELECT doc_id FROM canon$x
       |  WHERE doc_id NOT IN (SELECT id FROM dup$x))""".stripMargin

  /** [[refreshRound]] generalized to a COMPUTED batch CTE (cols doc_id,
    * text) instead of a predicate over raw `documents` — the shape the
    * incremental pretrain chain needs, whose near-gate batch is the
    * exact gate's survivor set. Emits the same `canon{x}`/`cmh{x}`/
    * `surv{x}` contract. */
  private def refreshRoundFrom(x: String, batchSrc: String,
      hist: String): String =
    s"""bsh$x AS (SELECT doc_id, s FROM sh0
       |  WHERE doc_id IN (SELECT doc_id FROM $batchSrc)
       |  QUALIFY count(*) OVER (PARTITION BY s) <= 20),
       |bmh$x AS (${mh6(s"bsh$x")}),
       |bb$x AS (${bands6(s"bmh$x")}),
       |cand$x AS (SELECT DISTINCT p.doc_id AS a, q.doc_id AS b
       |  FROM bb$x p JOIN bb$x q
       |  ON p.band = q.band AND p.bk = q.bk AND p.doc_id < q.doc_id),
       |sz$x AS (SELECT doc_id, count(*) AS n FROM bsh$x GROUP BY 1),
       |ix$x AS (SELECT c.a, c.b, count(*) AS i FROM cand$x c
       |  JOIN bsh$x sa ON sa.doc_id = c.a
       |  JOIN bsh$x sb ON sb.doc_id = c.b AND sb.s = sa.s
       |  GROUP BY 1, 2),
       |pairs$x AS (SELECT a, b FROM ix$x
       |  JOIN sz$x sa ON sa.doc_id = a JOIN sz$x sb ON sb.doc_id = b
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
       |edges$x AS (SELECT a AS src, b AS dst FROM pairs$x
       |  UNION SELECT b AS src, a AS dst FROM pairs$x),
       |reach$x(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM $batchSrc
       |  UNION
       |  SELECT e.src, r.lbl FROM edges$x e JOIN reach$x r ON r.node = e.dst),
       |comp$x AS (SELECT node, min(lbl) AS cluster FROM reach$x GROUP BY node),
       |canon$x AS (SELECT node AS doc_id FROM comp$x
       |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY node) = 1),
       |cmh$x AS (SELECT * FROM (${mh6("sh0")}) z
       |  WHERE doc_id IN (SELECT doc_id FROM canon$x)),
       |cb$x AS (${bands6(s"cmh$x")}),
       |hb$x AS (${bands6(hist)}),
       |cand2$x AS (SELECT DISTINCT p.doc_id AS id, q.doc_id AS dup_of
       |  FROM cb$x p JOIN hb$x q
       |  ON p.band = q.band AND p.bk = q.bk AND p.doc_id != q.doc_id),
       |dup$x AS (SELECT DISTINCT c.id FROM cand2$x c
       |  JOIN cmh$x n ON n.doc_id = c.id
       |  JOIN $hist h ON h.doc_id = c.dup_of
       |  WHERE ${(0 until 6).map(i =>
            s"(CASE WHEN n.h$i = h.h$i THEN 1 ELSE 0 END)").mkString(" + ")}
       |    >= 3),
       |surv$x AS (SELECT doc_id FROM canon$x
       |  WHERE doc_id NOT IN (SELECT id FROM dup$x))""".stripMargin

  // STREAMING refresh loop (Streaming.dedupRefreshStream): history =
  // even ids in the signature index; the odd ids arrive as TWO
  // micro-batches (%4=1, then %4=3). Each batch canonicalizes in-batch,
  // probes the index, and appends its survivors' signatures — so batch 2
  // must dedup against history AND batch 1's survivors (the day-over-day
  // semantics). The oracle replays both rounds sequentially, threading
  // round 1's survivor signatures into round 2's history.
  q("q_dedup_refresh_stream",
    s"""WITH RECURSIVE
       |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
       |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
       |hmh AS (SELECT * FROM (${mh6("sh0")}) z WHERE doc_id % 2 = 0),
       |${refreshRound("1", "doc_id % 4 = 1", "hmh")},
       |hist2 AS (SELECT * FROM hmh UNION ALL
       |  SELECT * FROM cmh1 WHERE doc_id IN (SELECT doc_id FROM surv1)),
       |${refreshRound("2", "doc_id % 4 = 3", "hist2")}
       |SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2""".stripMargin
    ) { (s, dir) =>
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("graft_sig_rs").toString
    Dedup.signatureSave(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), path)
    val rows = docs.filter(col("doc_id") % 2 === 1).as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = s"$path/survivors"
    val sq = graft.streaming.Streaming.dedupRefreshStream(
        in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
        path, out, s"$path/ckpt", threshold = 0.8, estThreshold = 0.5,
        maxDf = 20).start()
    try {
      val (b1, b2) = rows.partition(_._1 % 4 == 1)
      in.addData(b1.toSeq); sq.processAllAvailable()
      in.addData(b2.toSeq); sq.processAllAvailable()
    } finally sq.stop()
    s.read.parquet(out).select(col("doc_id"))
  }

  /** Shared oracle for the exact-dedup index pair. The probe batch is
    * the odd-id docs PLUS re-keyed byte-identical copies of every
    * %10 = 0 history doc (id + 1,000,000) — the corpus has no natural
    * cross-parity byte-exact dups, and a 0-row probe would prove
    * nothing; the copies guarantee the match path is exercised. */
  private val dedupExactIncrementalSql =
    """SELECT n.doc_id AS id, hs.doc_id AS dup_of
      |FROM (SELECT doc_id, md5(text) AS h FROM documents
      |        WHERE doc_id % 2 = 1
      |      UNION ALL
      |      SELECT doc_id + 1000000, md5(text) FROM documents
      |        WHERE doc_id % 10 = 0) n
      |JOIN (SELECT doc_id, md5(text) AS h FROM documents
      |      WHERE doc_id % 2 = 0) hs USING (h)""".stripMargin

  /** The probe batch the exact-dedup pair shares (matches the oracle's
    * `n` CTE). */
  private def exactProbe(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))

  // INCREMENTAL EXACT dedup — the refresh loop's cheapest path: history
  // at rest is one md5 per doc; the probe batch BROADCASTS so history
  // is scanned once and never shuffled (the |ingest| << |corpus| shape).
  q("q_dedup_exact_incremental", dedupExactIncrementalSql) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_hx").toString
    Dedup.hashSave(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), path)
    Dedup.exactAgainst(s, path, exactProbe(docs), col("doc_id"), col("text"))
  }

  // The same final state reached INCREMENTALLY: index the % 4 = 0
  // quarter, hashAppend the % 4 = 2 quarter, probe the odds — same
  // oracle, not a row different (append ≡ rebuild: a content hash is a
  // pure per-document function).
  q("q_dedup_exact_incremental_append", dedupExactIncrementalSql) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_hxa").toString
    Dedup.hashSave(docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"), path)
    Dedup.hashAppend(s, path, docs.filter(col("doc_id") % 4 === 2),
      col("doc_id"), col("text"))
    Dedup.exactAgainst(s, path, exactProbe(docs), col("doc_id"), col("text"))
  }

  // SimHash fingerprint (16-bit, word-multiset)
  q("q_dedup_simhash",
    """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 4) AS INTEGER) AS v FROM w),
      |b AS (SELECT doc_id, j,
      |  CASE WHEN sum(2 * ((v >> j) & 1) - 1) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM h, UNNEST(range(16)) AS t(j) GROUP BY doc_id, j)
      |SELECT doc_id, CAST(sum(bit * (1 << j)) AS BIGINT) AS simhash
      |FROM b GROUP BY doc_id""") { (s, dir) =>
    Dedup.simhash16(load(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("simhash"))
  }

  // blocked exact n-gram Jaccard (block = lang); stop-shingles (document
  // frequency > 20 within the block) dropped first
  q("q_dedup_ngram_jaccard",
    """WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, lang, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |sh AS (SELECT doc_id, lang, s FROM sh0
      |       QUALIFY count(*) OVER (PARTITION BY lang, s) <= 20),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM sh x JOIN sh y
      |  ON x.lang = y.lang AND x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
      |FROM i JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6""") { (s, dir) =>
    Dedup.ngramJaccardPairs(load(s, dir, "documents"), col("doc_id"), col("text"),
        col("lang"), n = 3, threshold = 0.6, maxDf = 20)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // Winnowing fingerprints (Schleimer et al. 2003 / MOSS): k=4-gram md5
  // hashes, window w=4, min hash per window with rightmost tie — the
  // guaranteed-detection sketch (any shared run of >= 7 tokens shares a
  // fingerprint). Oracle replays window argmin as row_number over
  // (hash ASC, pos DESC).
  q("q_text_winnow",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |hs AS (SELECT doc_id, j AS p, md5(array_to_string(ws[j : j+3], ' ')) AS h
      |  FROM w, unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS t(j)),
      |n AS (SELECT doc_id, count(*) AS nsh FROM hs GROUP BY 1),
      |wj AS (SELECT n.doc_id, t.j
      |  FROM n, unnest(range(1, greatest(n.nsh - 3, 1) + 1)) AS t(j)),
      |wins AS (SELECT h.doc_id, wj.j, h.p, h.h,
      |    row_number() OVER (PARTITION BY h.doc_id, wj.j
      |                       ORDER BY h.h, h.p DESC) AS rn
      |  FROM wj JOIN hs h
      |    ON h.doc_id = wj.doc_id AND h.p BETWEEN wj.j AND wj.j + 3)
      |SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos, h AS fp
      |FROM wins WHERE rn = 1""") { (s, dir) =>
    TextOps.winnowFingerprints(load(s, dir, "documents"),
        col("doc_id"), col("text"), k = 4, w = 4)
      .select(col("id").as("doc_id"), col("pos"), col("fp"))
  }

  // winnowed containment (the MOSS report): |A∩B| / min(|A|,|B|) over
  // distinct fingerprint sets, DF-capped candidates, threshold 0.3 —
  // catches short-doc-inside-long-doc that union-normalized Jaccard
  // misses
  q("q_dedup_containment",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |hs AS (SELECT doc_id, j AS p, md5(array_to_string(ws[j : j+3], ' ')) AS h
      |  FROM w, unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS t(j)),
      |n AS (SELECT doc_id, count(*) AS nsh FROM hs GROUP BY 1),
      |wj AS (SELECT n.doc_id, t.j
      |  FROM n, unnest(range(1, greatest(n.nsh - 3, 1) + 1)) AS t(j)),
      |wins AS (SELECT h.doc_id, wj.j, h.p, h.h,
      |    row_number() OVER (PARTITION BY h.doc_id, wj.j
      |                       ORDER BY h.h, h.p DESC) AS rn
      |  FROM wj JOIN hs h
      |    ON h.doc_id = wj.doc_id AND h.p BETWEEN wj.j AND wj.j + 3),
      |fp AS (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1),
      |sz AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
      |cap AS (SELECT doc_id, h FROM fp
      |  QUALIFY count(*) OVER (PARTITION BY h) <= 20),
      |i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM cap x JOIN cap y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, round(i * 1.0 / least(sa.n, sb.n), 4) AS containment
      |FROM i JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE i * 1.0 / least(sa.n, sb.n) >= 0.3""") { (s, dir) =>
    Dedup.containmentPairs(load(s, dir, "documents"), col("doc_id"),
        col("text"), k = 4, w = 4, threshold = 0.3, maxDf = 20)
      .select(col("a"), col("b"), round(col("containment"), 4).as("containment"))
  }

  // Trainable quality/language classifier (fastText-style): hashed
  // bag-of-words (dim 16) + bias, hard-sigmoid logistic regression,
  // 2 full-batch gradient rounds (lr 0.5) on label lang='en', then
  // corpus scoring. Exact 2^-30-quantized BIGINT weights/margins make
  // the whole TRAINING run replay bit-for-bit in DuckDB (the kmeans
  // playbook); the unrolled rounds below are the oracle's re-fit.
  q("q_quality_classifier",
    """WITH f AS (SELECT doc_id,
      |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |  list_concat([CAST(1 AS BIGINT)],
      |    list_transform(range(16), dd -> CAST(list_sum(list_transform(
      |      string_split(text, ' '), t ->
      |      CASE WHEN CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) % 16 = dd
      |      THEN CASE WHEN CAST('0x' || substr(md5(t), 5, 1) AS BIGINT) % 2 = 0
      |           THEN 1 ELSE -1 END
      |      ELSE 0 END)) AS BIGINT))) AS xa
      |  FROM documents),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
      |dd AS (SELECT i AS d FROM unnest(range(17)) AS u(i)),
      |e1 AS (SELECT doc_id, y, xa,
      |  CAST(floor((0.5 - y) * 1073741824.0 + 0.5) AS BIGINT) AS eq FROM f),
      |g1 AS (SELECT t.i AS d, sum(e1.eq * e1.xa[t.i + 1]) AS gq
      |  FROM e1, unnest(range(17)) AS t(i)
      |  WHERE e1.xa[t.i + 1] <> 0 GROUP BY 1),
      |w1 AS (SELECT dd.d,
      |  0 - CAST(floor(coalesce(g1.gq, 0) * 0.5 / n.n + 0.5) AS BIGINT) AS wq
      |  FROM dd CROSS JOIN n LEFT JOIN g1 ON g1.d = dd.d),
      |z2 AS (SELECT f.doc_id, sum(w1.wq * f.xa[w1.d + 1]) AS zq
      |  FROM f CROSS JOIN w1 GROUP BY 1),
      |e2 AS (SELECT f.doc_id, f.y, f.xa,
      |  CAST(floor((least(greatest(
      |    0.5 + CAST(z2.zq AS DOUBLE) / 1073741824.0 / 4.0, 0.0), 1.0) - f.y)
      |    * 1073741824.0 + 0.5) AS BIGINT) AS eq
      |  FROM f JOIN z2 USING (doc_id)),
      |g2 AS (SELECT t.i AS d, sum(e2.eq * e2.xa[t.i + 1]) AS gq
      |  FROM e2, unnest(range(17)) AS t(i)
      |  WHERE e2.xa[t.i + 1] <> 0 GROUP BY 1),
      |w2 AS (SELECT w1.d,
      |  w1.wq - CAST(floor(coalesce(g2.gq, 0) * 0.5 / n.n + 0.5) AS BIGINT) AS wq
      |  FROM w1 CROSS JOIN n LEFT JOIN g2 ON g2.d = w1.d),
      |z3 AS (SELECT f.doc_id, sum(w2.wq * f.xa[w2.d + 1]) AS zq
      |  FROM f CROSS JOIN w2 GROUP BY 1)
      |SELECT doc_id, round(least(greatest(
      |  0.5 + CAST(zq AS DOUBLE) / 1073741824.0 / 4.0, 0.0), 1.0) + 1e-9, 4)
      |  AS score
      |FROM z3""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val model = graft.operators.Classify.logregFit(docs, col("doc_id"),
      col("text"), (col("lang") === "en").cast("int"),
      dim = 16, rounds = 2, lr = 0.5)
    graft.operators.Classify.logregPredict(docs, col("doc_id"), col("text"),
        model, 16)
      .select(col("id").as("doc_id"), r4e(col("score")).as("score"))
  }

  // Streaming near-dup candidate detection (the online LSH half): the
  // whole documents table fed through nearDupCandidatesStream in one
  // micro-batch; per band bucket the lexicographically-smallest doc id
  // becomes owner and every other member emits (owner, member, band) —
  // the star decomposition the oracle derives directly from the same
  // md5 minhash/banding recipes (no DF cap: the online path can't see
  // document frequency). Harness-bound (MemoryStream replay).
  q("q_neardup_stream",
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |mh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM mh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM mh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM mh),
      |own AS (SELECT band, bk, min(CAST(doc_id AS VARCHAR)) AS a
      |  FROM bands GROUP BY 1, 2)
      |SELECT DISTINCT o.a, CAST(b.doc_id AS VARCHAR) AS b, b.band
      |FROM bands b JOIN own o ON o.band = b.band AND o.bk = b.bk
      |WHERE CAST(b.doc_id AS VARCHAR) <> o.a""") { (s, dir) =>
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val cands = graft.streaming.Streaming.nearDupCandidatesStream(
      stream, col("doc_id"), col("text"), n = 3, k = 6, bands = 3)
    val qy = cands.writeStream.format("memory").queryName("neardup_oracle_out")
      .outputMode("update").start()
    try { in.addData(docs.toSeq); qy.processAllAvailable() } finally qy.stop()
    s.sql("SELECT DISTINCT a, b, band FROM neardup_oracle_out")
  }

  // canonicalization: minhash pair edges → connected components → keep
  // the longest member per cluster (tie: smallest doc_id)
  // Exact duplicated spans (Lee et al. 2022 substring dedup, as a
  // distributed shingle join): maximal >= 8-token verbatim runs between
  // doc pairs via 5-gram positional shingles (DF-capped), diagonal
  // islands found with one window + one aggregate.
  q("q_dedup_spans",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ps AS (SELECT doc_id, j AS p, md5(array_to_string(ws[j : j+4], ' ')) AS k
      |  FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(j)),
      |hot AS (SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS df
      |  FROM ps GROUP BY k) h WHERE df > 8),
      |pc AS (SELECT * FROM ps WHERE k NOT IN (SELECT k FROM hot)),
      |m AS (SELECT a.doc_id AS a, b.doc_id AS b, a.p AS pa, b.p AS pb
      |  FROM pc a JOIN pc b ON a.k = b.k AND a.doc_id < b.doc_id),
      |i AS (SELECT a, b, pa, pb, pa - pb AS d,
      |  pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS g
      |  FROM m)
      |SELECT a, b, min(pa) AS a_start, min(pb) AS b_start,
      |  CAST(count(*) + 4 AS BIGINT) AS span_tokens
      |FROM i GROUP BY a, b, d, g
      |HAVING count(*) + 4 >= 8""") { (s, dir) =>
    Dedup.duplicateSpans(load(s, dir, "documents"), col("doc_id"),
      col("text"), n = 5, minSpan = 8, maxDf = 8)
  }

  // Span EXCISION: cut each duplicated run out of the later (b-side)
  // copy — one copy of every repeated sequence survives corpus-wide,
  // unique content untouched; fully-excised docs come back empty.
  q("q_dedup_spans_excise",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ps AS (SELECT doc_id, j AS p, md5(array_to_string(ws[j : j+4], ' ')) AS k
      |  FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(j)),
      |hot AS (SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS df
      |  FROM ps GROUP BY k) h WHERE df > 8),
      |pc AS (SELECT * FROM ps WHERE k NOT IN (SELECT k FROM hot)),
      |m AS (SELECT a.doc_id AS a, b.doc_id AS b, a.p AS pa, b.p AS pb
      |  FROM pc a JOIN pc b ON a.k = b.k AND a.doc_id < b.doc_id),
      |i AS (SELECT a, b, pa, pb, pa - pb AS d,
      |  pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS g
      |  FROM m),
      |sp0 AS (SELECT a, b, min(pa) AS a_start, min(pb) AS b_start,
      |  count(*) + 4 AS span_tokens
      |  FROM i GROUP BY a, b, d, g HAVING count(*) + 4 >= 8),
      |sp AS (SELECT b AS id, b_start, b_start + span_tokens AS e FROM sp0),
      |tk AS (SELECT doc_id, j AS p, ws[j] AS wd FROM w,
      |  unnest(range(1, len(ws) + 1)) AS t(j)),
      |kept AS (SELECT tk.doc_id, tk.p, tk.wd FROM tk WHERE NOT EXISTS (
      |  SELECT 1 FROM sp WHERE sp.id = tk.doc_id
      |    AND tk.p >= sp.b_start AND tk.p < sp.e)),
      |rb AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY p) AS text,
      |  CAST(count(*) AS BIGINT) AS n_tokens FROM kept GROUP BY doc_id)
      |SELECT d.doc_id AS id, coalesce(rb.text, '') AS text,
      |  coalesce(rb.n_tokens, 0) AS n_tokens
      |FROM documents d LEFT JOIN rb ON rb.doc_id = d.doc_id""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val spans = Dedup.duplicateSpans(docs, col("doc_id"), col("text"),
      n = 5, minSpan = 8, maxDf = 8)
    Dedup.exciseSpans(docs, col("doc_id"), col("text"), spans)
  }

  q("q_dedup_canonical",
    """WITH RECURSIVE
      |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |sh AS (SELECT doc_id, s FROM sh0
      |       QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |mh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM mh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM mh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM mh),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |i AS (SELECT c.a, c.b, count(*) AS i FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.a
      |  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
      |  GROUP BY 1, 2),
      |pairs AS (SELECT a, b FROM i
      |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b AS src, a AS dst FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
      |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
      |m AS (SELECT d.doc_id, d.n_chars, c.cluster,
      |  row_number() OVER (PARTITION BY c.cluster
      |    ORDER BY d.n_chars DESC, d.doc_id) AS rn
      |  FROM documents d JOIN comp c ON c.node = d.doc_id)
      |SELECT doc_id AS keep_id, cluster, n_chars FROM m WHERE rn = 1""") { (s, dir) =>
    Dedup.canonicalize(load(s, dir, "documents"), col("doc_id"), col("text"),
        col("n_chars"), n = 3, k = 6, bands = 3, threshold = 0.8, maxDf = 20)
      .select(col("doc_id").as("keep_id"), col("_cluster").as("cluster"),
        col("n_chars"))
  }

  // embedding cosine near-duplicates, blocked by label
  q("q_dedup_embedding",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings)
      |SELECT x.vec_id AS a, y.vec_id AS b,
      |  round(list_dot_product(x.v, y.v)
      |    / sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v)), 4)
      |    AS cosine
      |FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
      |WHERE list_dot_product(x.v, y.v)
      |    / sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v)) >= 0.4""") { (s, dir) =>
    Dedup.embeddingPairs(load(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), col("label"), threshold = 0.4, dim = 64)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
  }

  // Deterministic Lloyd k-means (Clustering.kmeans): md5-sample seeds,
  // exact-double argmin assignment, centroid means via 2^-30-quantized
  // BIGINT sums (order-free — the float-summation trap the louvain twin
  // closed with integer gains). Two full rounds + final assignment,
  // unrolled in the oracle.
  q("q_kmeans",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS cid,
      |  v AS cv FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 8),
      |a1 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c0 c) WHERE rn = 1),
      |u1 AS (SELECT a1.cid, di,
      |  CAST(sum(CAST(floor(w.v[di] * 1073741824 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
      |  count(*) AS n
      |  FROM a1 JOIN w ON w.id = a1.id, unnest(range(1, len(w.v) + 1)) AS t(di)
      |  GROUP BY a1.cid, di),
      |c1 AS (SELECT cid,
      |  list(CAST(sv AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) ORDER BY di) AS cv
      |  FROM u1 GROUP BY cid),
      |a2 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c1 c) WHERE rn = 1),
      |u2 AS (SELECT a2.cid, di,
      |  CAST(sum(CAST(floor(w.v[di] * 1073741824 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
      |  count(*) AS n
      |  FROM a2 JOIN w ON w.id = a2.id, unnest(range(1, len(w.v) + 1)) AS t(di)
      |  GROUP BY a2.cid, di),
      |c2 AS (SELECT cid,
      |  list(CAST(sv AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) ORDER BY di) AS cv
      |  FROM u2 GROUP BY cid),
      |a3 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c2 c) WHERE rn = 1)
      |SELECT id AS node, cid AS cluster FROM a3""") { (s, dir) =>
    graft.operators.Clustering.kmeans(load(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), k = 8, rounds = 2)
  }

  // The fit/assign split through a PERSISTED model: kmeansFit (1 round)
  // on the full corpus, kmeansSave, then a fresh kmeansLoadAssign maps a
  // DIFFERENT row set (every 3rd vector — "the next corpus batch")
  // against the saved centroids without re-fitting: one broadcast +
  // map-side argmin, the 100 TB-assignment shape.
  q("q_kmeans_model",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS cid,
      |  v AS cv FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 8),
      |a1 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c0 c) WHERE rn = 1),
      |u1 AS (SELECT a1.cid, di,
      |  CAST(sum(CAST(floor(w.v[di] * 1073741824 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
      |  count(*) AS n
      |  FROM a1 JOIN w ON w.id = a1.id, unnest(range(1, len(w.v) + 1)) AS t(di)
      |  GROUP BY a1.cid, di),
      |c1 AS (SELECT cid,
      |  list(CAST(sv AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) ORDER BY di) AS cv
      |  FROM u1 GROUP BY cid),
      |a2 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c1 c WHERE w.id % 3 = 0) WHERE rn = 1)
      |SELECT id AS node, cid AS cluster FROM a2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val model = graft.operators.Clustering.kmeansFit(e, col("vec_id"),
      col("embedding"), k = 8, rounds = 1)
    val path = java.nio.file.Files.createTempDirectory("graft_kmeans").toString
    graft.operators.Clustering.kmeansSave(model, path)
    graft.operators.Clustering.kmeansLoadAssign(s, path,
      e.filter(col("vec_id") % 3 === 0), col("vec_id"), col("embedding"))
  }

  // SemDeDup (Abbas et al. 2023): k-means blocks the embedding space,
  // near-identical pairs are found WITHIN clusters only, and each
  // near-dup group keeps the smallest-id witness chain head — the
  // semantic twin of the lexical blocked-dedup family above.
  q("q_dedup_semantic",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS cid,
      |  v AS cv FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 8),
      |a1 AS (SELECT id, cid FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c0 c) WHERE rn = 1),
      |u1 AS (SELECT a1.cid, di,
      |  CAST(sum(CAST(floor(w.v[di] * 1073741824 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
      |  count(*) AS n
      |  FROM a1 JOIN w ON w.id = a1.id, unnest(range(1, len(w.v) + 1)) AS t(di)
      |  GROUP BY a1.cid, di),
      |c1 AS (SELECT cid,
      |  list(CAST(sv AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) ORDER BY di) AS cv
      |  FROM u1 GROUP BY cid),
      |a2 AS (SELECT w.id, cid, w.v FROM (
      |  SELECT w.id, c.cid, row_number() OVER (PARTITION BY w.id ORDER BY
      |    list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(w.v, c.cv), c.cid)
      |    AS rn FROM w CROSS JOIN c1 c) s
      |  JOIN w ON w.id = s.id WHERE s.rn = 1),
      |drop0 AS (SELECT DISTINCT b.id FROM a2 a JOIN a2 b
      |  ON a.cid = b.cid AND a.id < b.id
      |  AND list_dot_product(a.v, b.v)
      |    / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.4)
      |SELECT a2.id AS node, a2.cid AS cluster,
      |  (drop0.id IS NULL) AS kept
      |FROM a2 LEFT JOIN drop0 ON drop0.id = a2.id""") { (s, dir) =>
    graft.operators.Clustering.semDedup(load(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), k = 8, rounds = 1, tau = 0.4)
  }

  // ---------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------

  // brute-force exact top-3 by cosine for sampled queries
  q("q_knn_bruteforce",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
      |sc AS (SELECT qid, nid,
      |  list_dot_product(qv, dv)
      |    / sqrt(list_dot_product(qv, qv) * list_dot_product(dv, dv)) AS c
      |  FROM q JOIN d ON qid != nid),
      |r AS (SELECT qid AS query_id, nid AS neighbor_id, c,
      |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank FROM sc)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.bruteForceTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // int8-quantized brute-force top-3 (beyond the reference — the memory
  // lever for 100 TB ANN): L2-normalize, per-vector symmetric scale,
  // floor(x/s + 0.5) codes, rank by s_q*s_d*(integer dot) ≈ cosine. The
  // integer dot is exact in double, so the ranking has NO
  // float-summation ambiguity — both engines derive bit-identical
  // scores.
  q("q_knn_quantized",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |nz AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w),
      |qz AS (SELECT id, v,
      |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS s
      |  FROM nz),
      |cz AS (SELECT id, s, list_transform(v, x -> floor(x / s + 0.5)) AS c
      |  FROM qz),
      |sc AS (SELECT q.id AS query_id, d.id AS neighbor_id,
      |  q.s * d.s * list_dot_product(q.c, d.c) AS score
      |  FROM cz q JOIN cz d ON q.id % 50 = 0 AND q.id != d.id),
      |r AS (SELECT query_id, neighbor_id, score,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |    AS rank FROM sc)
      |SELECT query_id, rank, neighbor_id, round(score + 1e-9, 6) AS score
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.quantizedTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score") + lit(1e-9), 6).as("score"))
  }

  // binary (1-bit sign) quantized top-3 by Hamming distance — the
  // extreme end of the SQ8→PQ memory ladder: 64 doubles pack into ONE
  // long (64× in flight), XOR-popcount ranks candidates with exact
  // integers. The oracle replays the SEMANTICS (count of sign
  // disagreements) — the packing is representation, pinned by
  // VecExprsSpec round-trips.
  q("q_knn_binary",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sc AS (SELECT q.id AS query_id, d.id AS neighbor_id,
      |  CAST(list_sum(list_transform(range(len(q.v)), i ->
      |    CASE WHEN (q.v[i+1] > 0) <> (d.v[i+1] > 0) THEN 1 ELSE 0 END))
      |    AS INT) AS hamming
      |  FROM w q JOIN w d ON q.id % 50 = 0 AND q.id != d.id),
      |r AS (SELECT query_id, neighbor_id, hamming,
      |  row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
      |    AS rank FROM sc)
      |SELECT query_id, rank, neighbor_id, hamming
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.binaryTopK(
      e.filter(col("vec_id") % 50 === 0), e,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      k = 3, dim = 64)
  }

  // binary ANN with the float refine stage: Hamming prunes to a top-10
  // shortlist on 16-byte codes, exact cosine re-ranks — floats join
  // back by id on the shortlist ONLY (the pair expansion never ships a
  // float), the same refine discipline as PQ.
  q("q_knn_binary_rescore",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sc AS (SELECT q.id AS query_id, d.id AS neighbor_id,
      |  CAST(list_sum(list_transform(range(len(q.v)), i ->
      |    CASE WHEN (q.v[i+1] > 0) <> (d.v[i+1] > 0) THEN 1 ELSE 0 END))
      |    AS INT) AS hamming
      |  FROM w q JOIN w d ON q.id % 50 = 0 AND q.id != d.id),
      |r AS (SELECT query_id, neighbor_id, hamming,
      |  row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
      |    AS rank FROM sc),
      |resc AS (SELECT r.query_id, r.neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM r JOIN w q ON q.id = r.query_id JOIN w d ON d.id = r.neighbor_id
      |  WHERE r.rank <= 10),
      |r2 AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
      |    AS rank FROM resc)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r2 WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.binaryTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, rescore = 10, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // shared by the persisted and incremental binary-index queries: both
  // must land on the full-corpus rescore ranking
  private val binaryPersistedSql =
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sc AS (SELECT q.id AS query_id, d.id AS neighbor_id,
      |  CAST(list_sum(list_transform(range(len(q.v)), i ->
      |    CASE WHEN (q.v[i+1] > 0) <> (d.v[i+1] > 0) THEN 1 ELSE 0 END))
      |    AS INT) AS hamming
      |  FROM w q JOIN w d ON q.id % 50 = 0 AND q.id != d.id),
      |r AS (SELECT query_id, neighbor_id, hamming,
      |  row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
      |    AS rank FROM sc),
      |resc AS (SELECT r.query_id, r.neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM r JOIN w q ON q.id = r.query_id JOIN w d ON d.id = r.neighbor_id
      |  WHERE r.rank <= 10),
      |r2 AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
      |    AS rank FROM resc)
      |SELECT query_id, rank, neighbor_id, round(c + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 3"""

  // persisted binary index: codes-only at rest (64× smaller), save →
  // load ≡ the ad-hoc rescore path — the SAME oracle as
  // q_knn_binary_rescore proves the round-trip
  q("q_knn_binary_persisted", binaryPersistedSql) { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_bin_idx").toString
    Similarity.binarySave(e, col("vec_id"), col("embedding"), idx)
    Similarity.binaryLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
        k = 3, rescore = 10,
        rescoreAgainst = Some((e, col("vec_id"), col("embedding"))),
        excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // incremental binary index: save half the corpus, segment-append the
  // rest (O(new rows) — the on-disk codes are never read), query the
  // committed generation. Sign codes are a pure per-row function, so
  // append ≡ rebuild EXACTLY — same oracle as q_knn_binary_persisted.
  q("q_knn_binary_incremental", binaryPersistedSql) { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_bin_inc").toString
    Similarity.binarySave(e.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), idx)
    Similarity.binaryAppend(s, idx, e.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"))
    Similarity.binaryLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
        k = 3, rescore = 10,
        rescoreAgainst = Some((e, col("vec_id"), col("embedding"))),
        excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // MMR-diversified retrieval: exact top-10 shortlist by cosine, then
  // greedy maximal-marginal-relevance picks 3 (λ=0.75 — exact double
  // complement) trading relevance against redundancy. The greedy loop
  // is ONE native expression pass per query (plans.MmrSelectExpr); the
  // oracle unrolls the same three steps as CTEs.
  q("q_knn_mmr",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sc AS (SELECT q.id AS query_id, d.id AS nid, d.v,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS s
      |  FROM w q JOIN w d ON q.id % 50 = 0 AND q.id != d.id),
      |cv AS (SELECT query_id, nid, v, s FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, nid)
      |    AS rk FROM sc) x WHERE rk <= 10),
      |m1 AS (SELECT query_id, nid AS id1, v AS v1, mmr AS mmr1 FROM (
      |  SELECT query_id, nid, v, (0.75::DOUBLE) * s AS mmr,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY (0.75::DOUBLE) * s DESC, nid) AS rn
      |  FROM cv) x WHERE rn = 1),
      |s2 AS (SELECT cv.query_id, cv.nid, cv.v, cv.s,
      |  (0.75::DOUBLE) * cv.s - (0.25::DOUBLE) * (list_dot_product(cv.v, m1.v1)
      |    / sqrt(list_dot_product(cv.v, cv.v) * list_dot_product(m1.v1, m1.v1)))
      |    AS mmr
      |  FROM cv JOIN m1 ON cv.query_id = m1.query_id AND cv.nid != m1.id1),
      |m2 AS (SELECT query_id, nid AS id2, v AS v2, mmr AS mmr2 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, nid)
      |    AS rn FROM s2) x WHERE rn = 1),
      |s3 AS (SELECT c.query_id, c.nid,
      |  (0.75::DOUBLE) * c.s - (0.25::DOUBLE) * greatest(
      |    list_dot_product(c.v, m1.v1)
      |      / sqrt(list_dot_product(c.v, c.v) * list_dot_product(m1.v1, m1.v1)),
      |    list_dot_product(c.v, m2.v2)
      |      / sqrt(list_dot_product(c.v, c.v) * list_dot_product(m2.v2, m2.v2)))
      |    AS mmr
      |  FROM cv c JOIN m1 ON c.query_id = m1.query_id
      |    JOIN m2 ON c.query_id = m2.query_id
      |  WHERE c.nid != m1.id1 AND c.nid != m2.id2),
      |m3 AS (SELECT query_id, nid AS id3, mmr AS mmr3 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, nid)
      |    AS rn FROM s3) x WHERE rn = 1)
      |SELECT query_id, 1 AS rank, id1 AS neighbor_id,
      |  round(mmr1 + 1e-9, 4) AS mmr FROM m1
      |UNION ALL SELECT query_id, 2, id2, round(mmr2 + 1e-9, 4) FROM m2
      |UNION ALL SELECT query_id, 3, id3, round(mmr3 + 1e-9, 4) FROM m3""") {
      (s, dir) =>
    val e = load(s, dir, "embeddings")
    val cands = Similarity.bruteForceTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 10, dim = 64)
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v")), Seq("neighbor_id"))
    Similarity.mmrTopK(cands, col("query_id"), col("neighbor_id"),
        col("cosine"), col("v"), n = 3, lam = 0.75)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("mmr") + lit(1e-9), 4).as("mmr"))
  }

  // contrastive hard-negative mining: per anchor, top-5 most-similar
  // rows inside the cosine band [0.1, 0.5) — above is a near-dup false
  // negative, below teaches nothing; the band filter runs BEFORE the
  // rank window
  q("q_hard_negatives",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |sc AS (SELECT q.id AS anchor_id, d.id AS negative_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM w q JOIN w d ON q.id % 50 = 0 AND q.id != d.id),
      |b AS (SELECT * FROM sc WHERE c >= 0.1 AND c < 0.5),
      |r AS (SELECT anchor_id, negative_id, c,
      |  row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, negative_id)
      |    AS rank FROM b)
      |SELECT anchor_id, rank, negative_id, round(c + 1e-9, 4) AS cosine
      |FROM r WHERE rank <= 5""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.hardNegatives(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, loSim = 0.1, hiSim = 0.5, dim = 64)
      .select(col("anchor_id"), col("rank"), col("negative_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // LSH-bucketed ANN: top-1 within the random-hyperplane bucket; the
  // oracle derives the plane count from its own count(*) — same formula
  // as planesFor — so it matches the query at any SF
  q("q_knn_lsh",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |np AS (SELECT greatest(1,
      |  CAST(ceil(log2(count(*) / 8.0) - 1e-9) AS INT)) AS pp FROM w),
      |pr AS (SELECT id, p,
      |  list_sum(list_transform(range(64), d -> v[d+1] *
      |    (CASE WHEN CAST('0x' || substr(md5(p || '_' || d), 1, 2) AS INTEGER) % 2 = 0
      |          THEN 1.0 ELSE -1.0 END))) AS proj
      |  FROM w CROSS JOIN np, UNNEST(range(np.pp)) AS t(p)),
      |bk AS (SELECT id, CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
      |  AS bucket FROM pr GROUP BY id),
      |bv AS (SELECT w.id, w.v, bk.bucket FROM w JOIN bk ON w.id = bk.id),
      |sc AS (SELECT q.id AS query_id, d.id AS neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM bv q JOIN bv d ON q.bucket = d.bucket AND q.id != d.id),
      |r AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      |  FROM sc)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    // planes DERIVED from the corpus (planesFor), not frozen: target
    // occupancy 8 ⇒ ceil(log2(500/8)) = 6 at the sf0.01 oracle scale,
    // and log2 more planes per scale-up, keeping per-bucket pairwise
    // work bounded instead of quadratic in corpus growth. The oracle
    // derives the SAME count from its own count(*) (the np CTE), so the
    // pair stays in lockstep at any sf.
    Similarity.lshTopK(emb, col("vec_id"),
        col("embedding"), dim = 64,
        planes = Similarity.planesFor(emb.count(), targetBucketSize = 8), k = 1)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // IVF-flat ANN: 16 sampled centroids, probe 4 lists, exact top-1 inside
  q("q_knn_ivf",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT id AS cid, v AS cv FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |sc AS (SELECT w.id, c.cid,
      |  list_dot_product(w.v, c.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(c.cv, c.cv)) AS cc
      |  FROM w CROSS JOIN c),
      |rk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM sc),
      |asg AS (SELECT id, cid FROM rk WHERE rn = 1),
      |pr AS (SELECT id, cid FROM rk WHERE rn <= 4),
      |cand AS (SELECT pr.id AS query_id, a.id AS neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.id
      |  JOIN w q ON q.id = pr.id JOIN w d ON d.id = a.id),
      |r AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    // nlist DERIVED as the power of two nearest √corpus (nlistFor):
    // 16 at the sf0.01 oracle scale — matching the oracle's LIMIT 16 —
    // and √10× more lists per scale-up. A frozen nlist was the round-7
    // scale-run's one superlinear query (25× wall at 10× data).
    Similarity.ivfTopK(emb, col("vec_id"),
        col("embedding"), nlist = Similarity.nlistFor(emb.count()),
        nprobe = 4, k = 1, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // The same IVF retrieval through a PERSISTED index: build + ivfSave to
  // parquet (centroids + cid-partitioned inverted lists), then a fresh
  // ivfLoadRetrieve answers from disk — the build-once/query-many shape
  // a 100 TB corpus requires. Same oracle as q_knn_ivf: the round-trip
  // must not change a single row.
  q("q_knn_ivf_persisted",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT id AS cid, v AS cv FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |sc AS (SELECT w.id, c.cid,
      |  list_dot_product(w.v, c.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(c.cv, c.cv)) AS cc
      |  FROM w CROSS JOIN c),
      |rk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM sc),
      |asg AS (SELECT id, cid FROM rk WHERE rn = 1),
      |pr AS (SELECT id, cid FROM rk WHERE rn <= 4),
      |cand AS (SELECT pr.id AS query_id, a.id AS neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.id
      |  JOIN w q ON q.id = pr.id JOIN w d ON d.id = a.id),
      |r AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Similarity.ivfSave(emb, col("vec_id"), col("embedding"), idx,
      nlist = Similarity.nlistFor(emb.count()), dim = 64)
    Similarity.ivfLoadRetrieve(s, idx, emb, col("vec_id"), col("embedding"),
        nprobe = 4, k = 1, excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // INCREMENTAL index growth (the Lucene/FAISS segment model): save over
  // the first 300 vectors, ivfAppend the remaining 200 — only the new
  // rows are assigned (map-side vs broadcast FROZEN centroids) and
  // written as a second segment; the original lists are never re-read.
  // The oracle derives centroids from the SUBSET but assigns/probes over
  // ALL vectors — exactly the frozen-geometry contract — so a green hash
  // proves the appended index equals a from-scratch assignment under the
  // same centroids.
  q("q_knn_ivf_incremental",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT id AS cid, v AS cv FROM w WHERE id < 300
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |sc AS (SELECT w.id, c.cid,
      |  list_dot_product(w.v, c.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(c.cv, c.cv)) AS cc
      |  FROM w CROSS JOIN c),
      |rk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM sc),
      |asg AS (SELECT id, cid FROM rk WHERE rn = 1),
      |pr AS (SELECT id, cid FROM rk WHERE rn <= 4),
      |cand AS (SELECT pr.id AS query_id, a.id AS neighbor_id,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS c
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.id
      |  JOIN w q ON q.id = pr.id JOIN w d ON d.id = a.id),
      |r AS (SELECT query_id, neighbor_id, c,
      |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val base = emb.filter(col("vec_id") < 300)
    Similarity.ivfSave(base, col("vec_id"), col("embedding"), idx,
      nlist = Similarity.nlistFor(base.count()), dim = 64)
    Similarity.ivfAppend(s, idx, emb.filter(col("vec_id") >= 300),
      col("vec_id"), col("embedding"), dim = 64)
    Similarity.ivfLoadRetrieve(s, idx, emb, col("vec_id"), col("embedding"),
        nprobe = 4, k = 1, excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // IVF-SQ: int8 quantization composed INSIDE the IVF inverted lists
  // (the FAISS IVF-SQ serving shape — the actual 100 TB layout: coarse
  // prune to nprobe lists, 8×-smaller integer codes rank candidates by
  // EXACT integer dot, float re-score only on the top-8 short list).
  // Deterministic end to end: normalized vectors/scales/codes are
  // bit-identical doubles on both engines, the integer dot has no
  // summation ambiguity, and the re-score cut is id-tie-broken.
  q("q_knn_ivf_quantized",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nz AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w),
      |qz AS (SELECT id, v,
      |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS s
      |  FROM nz),
      |cz AS (SELECT id, v, s, list_transform(v, x -> floor(x / s + 0.5)) AS c
      |  FROM qz),
      |cent AS (SELECT id AS cid, v AS cv FROM cz
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |sc AS (SELECT cz.id, cent.cid,
      |  list_dot_product(cz.v, cent.cv)
      |    / sqrt(list_dot_product(cz.v, cz.v) * list_dot_product(cent.cv, cent.cv)) AS cc
      |  FROM cz CROSS JOIN cent),
      |rk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM sc),
      |asg AS (SELECT id, cid FROM rk WHERE rn = 1),
      |pr AS (SELECT id, cid FROM rk WHERE rn <= 4 AND id % 50 = 0),
      |cand AS (SELECT pr.id AS query_id, a.id AS neighbor_id,
      |  q.s * d.s * list_dot_product(q.c, d.c) AS qscore,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v)) AS cexact
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.id
      |  JOIN cz q ON q.id = pr.id JOIN cz d ON d.id = a.id),
      |r1 AS (SELECT query_id, neighbor_id, cexact,
      |  row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id)
      |    AS qrank FROM cand),
      |r2 AS (SELECT query_id, neighbor_id, cexact,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cexact DESC, neighbor_id)
      |    AS rank FROM r1 WHERE qrank <= 8)
      |SELECT query_id, rank, neighbor_id, round(cexact + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.ivfQuantizedRetrieve(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nlist = Similarity.nlistFor(e.count()), nprobe = 4, k = 2,
        rescore = 8, excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // IVF-binary: coarse centroid prune, in-list candidates ranked by
  // exact-integer Hamming over 1-bit sign codes (64× smaller lists),
  // float refine of the top-8 — the last cell of the quantization
  // matrix (flat/IVF × float/SQ8/PQ/binary)
  q("q_knn_ivf_binary",
    """WITH w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |cent AS (SELECT id AS cid, v AS cv FROM w
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |sc AS (SELECT w.id, cent.cid,
      |  list_dot_product(w.v, cent.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(cent.cv, cent.cv))
      |    AS cc
      |  FROM w CROSS JOIN cent),
      |rk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM sc),
      |asg AS (SELECT id, cid FROM rk WHERE rn = 1),
      |pr AS (SELECT id, cid FROM rk WHERE rn <= 4 AND id % 50 = 0),
      |cand AS (SELECT pr.id AS query_id, a.id AS neighbor_id,
      |  CAST(list_sum(list_transform(range(len(q.v)), i ->
      |    CASE WHEN (q.v[i+1] > 0) <> (d.v[i+1] > 0) THEN 1 ELSE 0 END))
      |    AS INT) AS hamming,
      |  list_dot_product(q.v, d.v)
      |    / sqrt(list_dot_product(q.v, q.v) * list_dot_product(d.v, d.v))
      |    AS cexact
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.id
      |  JOIN w q ON q.id = pr.id JOIN w d ON d.id = a.id),
      |r1 AS (SELECT query_id, neighbor_id, cexact,
      |  row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
      |    AS qrank FROM cand),
      |r2 AS (SELECT query_id, neighbor_id, cexact,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cexact DESC, neighbor_id)
      |    AS rank FROM r1 WHERE qrank <= 8)
      |SELECT query_id, rank, neighbor_id, round(cexact + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.ivfBinaryRetrieve(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nlist = Similarity.nlistFor(e.count()), nprobe = 4, k = 2,
        rescore = 8, excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // PQ: product-quantization ANN (the FAISS memory end-game — m=8 one-byte
  // codes + a shared broadcast codebook replace 512 bytes of doubles per
  // vector: 64×). Deterministic twin of k-means codebooks: per-subspace
  // codewords are the md5-smallest rows' subvectors, encode is exact-double
  // argmin (|c|²−2x·c, ties to smallest codeword), ranking is ONE in-order
  // dot against the decoded vector, and the float re-score touches only the
  // top-8 short list — every stage bit-replayable in DuckDB.
  q("q_knn_pq",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |cb0 AS (SELECT id, v,
      |  row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS j
      |  FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |cbf AS (SELECT j, s, v[s*8+1 : (s+1)*8] AS cw
      |  FROM cb0, unnest(range(0, 8)) AS t(s)),
      |enc0 AS (SELECT w.id, f.s, f.j,
      |  list_dot_product(f.cw, f.cw)
      |    - 2.0 * list_dot_product(w.v[f.s*8+1 : (f.s+1)*8], f.cw) AS dist
      |  FROM w CROSS JOIN cbf f),
      |enc AS (SELECT id, s, j FROM (
      |  SELECT id, s, j,
      |    row_number() OVER (PARTITION BY id, s ORDER BY dist, j) AS rn FROM enc0)
      |  WHERE rn = 1),
      |rv AS (SELECT enc.id, flatten(list(f.cw ORDER BY enc.s)) AS rv
      |  FROM enc JOIN cbf f ON f.s = enc.s AND f.j = enc.j GROUP BY enc.id),
      |q AS (SELECT id AS query_id, v AS qv FROM w WHERE id % 50 = 0 AND id < 2000),
      |sc AS (SELECT q.query_id, rv.id AS neighbor_id, q.qv,
      |  list_dot_product(q.qv, rv.rv) AS score
      |  FROM q JOIN rv ON rv.id != q.query_id),
      |r1 AS (SELECT query_id, neighbor_id, qv,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |    AS qr FROM sc),
      |re AS (SELECT r1.query_id, r1.neighbor_id,
      |  list_dot_product(r1.qv, w.v) AS cosine
      |  FROM r1 JOIN w ON w.id = r1.neighbor_id WHERE r1.qr <= 8),
      |r2 AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |    AS rank FROM re)
      |SELECT query_id, rank, neighbor_id, round(cosine + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    // fixed probe set (the id cap is a no-op at sf <= 0.1): flat PQ
    // scoring is |q|·|corpus| by design, so the service cost model is a
    // growing corpus under FIXED query load — q_knn_ivf_pq below keeps
    // its corpus-derived probe set because the coarse prune makes it
    // sublinear either way
    Similarity.pqTopK(
        e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        m = 8, ksub = 16, k = 2, rescore = 8, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // incremental PQ index: fit the codebook on the even-id half, append
  // the odd half encoded against the FROZEN codebook (O(new rows); the
  // on-disk codes are never read) — the oracle fits the codebook on the
  // even half and encodes everything, exactly the add-to-trained-index
  // semantics. Refine on the top-8 shortlist as in q_knn_pq.
  q("q_knn_pq_incremental",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |cb0 AS (SELECT id, v,
      |  row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS j
      |  FROM w WHERE id % 2 = 0
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |cbf AS (SELECT j, s, v[s*8+1 : (s+1)*8] AS cw
      |  FROM cb0, unnest(range(0, 8)) AS t(s)),
      |enc0 AS (SELECT w.id, f.s, f.j,
      |  list_dot_product(f.cw, f.cw)
      |    - 2.0 * list_dot_product(w.v[f.s*8+1 : (f.s+1)*8], f.cw) AS dist
      |  FROM w CROSS JOIN cbf f),
      |enc AS (SELECT id, s, j FROM (
      |  SELECT id, s, j,
      |    row_number() OVER (PARTITION BY id, s ORDER BY dist, j) AS rn FROM enc0)
      |  WHERE rn = 1),
      |rv AS (SELECT enc.id, flatten(list(f.cw ORDER BY enc.s)) AS rv
      |  FROM enc JOIN cbf f ON f.s = enc.s AND f.j = enc.j GROUP BY enc.id),
      |q AS (SELECT id AS query_id, v AS qv FROM w WHERE id % 50 = 0 AND id < 2000),
      |sc AS (SELECT q.query_id, rv.id AS neighbor_id, q.qv,
      |  list_dot_product(q.qv, rv.rv) AS score
      |  FROM q JOIN rv ON rv.id != q.query_id),
      |r1 AS (SELECT query_id, neighbor_id, qv,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |    AS qr FROM sc),
      |re AS (SELECT r1.query_id, r1.neighbor_id,
      |  list_dot_product(r1.qv, w.v) AS cosine
      |  FROM r1 JOIN w ON w.id = r1.neighbor_id WHERE r1.qr <= 8),
      |r2 AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |    AS rank FROM re)
      |SELECT query_id, rank, neighbor_id, round(cosine + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_inc").toString
    Similarity.pqSave(e.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), idx, m = 8, ksub = 16, dim = 64)
    Similarity.pqAppend(s, idx, e.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"))
    Similarity.pqLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
        col("vec_id"), col("embedding"), k = 2, rescore = 8,
        rescoreAgainst = Some((e, col("vec_id"), col("embedding"))),
        excludeSelf = true)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // IVF-PQ: the full FAISS serving composition — coarse md5-sample
  // centroids prune each query to 4 inverted lists, PQ codes rank the
  // in-list candidates by decoded-vector dot, float refine on the top-8
  // shortlist only. Coarse prune and PQ memory win COMPOSE; every stage
  // deterministic and replayed in DuckDB.
  // shared by the ad-hoc and persisted IVF-PQ queries — save→load must
  // answer identically to the in-memory composition
  private val ivfPqSql =
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |cent AS (SELECT id AS cid, v AS cv FROM w
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |csc AS (SELECT w.id, c.cid,
      |  list_dot_product(w.v, c.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(c.cv, c.cv)) AS cc
      |  FROM w CROSS JOIN cent c),
      |crk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM csc),
      |asg AS (SELECT id, cid FROM crk WHERE rn = 1),
      |cb0 AS (SELECT id, v,
      |  row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS j
      |  FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |cbf AS (SELECT j, s, v[s*8+1 : (s+1)*8] AS cw
      |  FROM cb0, unnest(range(0, 8)) AS t(s)),
      |enc0 AS (SELECT w.id, f.s, f.j,
      |  list_dot_product(f.cw, f.cw)
      |    - 2.0 * list_dot_product(w.v[f.s*8+1 : (f.s+1)*8], f.cw) AS dist
      |  FROM w CROSS JOIN cbf f),
      |enc AS (SELECT id, s, j FROM (
      |  SELECT id, s, j,
      |    row_number() OVER (PARTITION BY id, s ORDER BY dist, j) AS rn FROM enc0)
      |  WHERE rn = 1),
      |rv AS (SELECT enc.id, flatten(list(f.cw ORDER BY enc.s)) AS rv
      |  FROM enc JOIN cbf f ON f.s = enc.s AND f.j = enc.j GROUP BY enc.id),
      |q AS (SELECT id AS query_id, v AS qv FROM w WHERE id % 50 = 0),
      |pr AS (SELECT query_id, qv, cid FROM (
      |  SELECT q.query_id, q.qv, c.cid,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      list_dot_product(q.qv, c.cv)
      |        / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
      |      DESC, c.cid) AS rn
      |  FROM q CROSS JOIN cent c) WHERE rn <= 4),
      |cand AS (SELECT pr.query_id, pr.qv, a.id AS neighbor_id,
      |  list_dot_product(pr.qv, rv.rv) AS qscore
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.query_id
      |  JOIN rv ON rv.id = a.id),
      |r1 AS (SELECT query_id, qv, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id)
      |    AS qr FROM cand),
      |re AS (SELECT r1.query_id, r1.neighbor_id,
      |  list_dot_product(r1.qv, w.v) AS cosine
      |  FROM r1 JOIN w ON w.id = r1.neighbor_id WHERE r1.qr <= 8),
      |r2 AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |    AS rank FROM re)
      |SELECT query_id, rank, neighbor_id, round(cosine + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2"""

  q("q_knn_ivf_pq", ivfPqSql) { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Similarity.ivfPqRetrieve(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nlist = Similarity.nlistFor(e.count()), nprobe = 4,
        m = 8, ksub = 16, k = 2, rescore = 8, excludeSelf = true, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // incremental IVF-PQ: fit centroids + codebook on the even-id half,
  // append the odd half assigned/encoded against the FROZEN geometries
  // (O(new rows)); the oracle fits both models on the even half and
  // assigns/encodes everything — the add-to-trained-index semantics
  // for the composed layout.
  q("q_knn_ivf_pq_incremental",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |cent AS (SELECT id AS cid, v AS cv FROM w WHERE id % 2 = 0
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |csc AS (SELECT w.id, c.cid,
      |  list_dot_product(w.v, c.cv)
      |    / sqrt(list_dot_product(w.v, w.v) * list_dot_product(c.cv, c.cv)) AS cc
      |  FROM w CROSS JOIN cent c),
      |crk AS (SELECT id, cid,
      |  row_number() OVER (PARTITION BY id ORDER BY cc DESC, cid) AS rn FROM csc),
      |asg AS (SELECT id, cid FROM crk WHERE rn = 1),
      |cb0 AS (SELECT id, v,
      |  row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS j
      |  FROM w WHERE id % 2 = 0
      |  ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |cbf AS (SELECT j, s, v[s*8+1 : (s+1)*8] AS cw
      |  FROM cb0, unnest(range(0, 8)) AS t(s)),
      |enc0 AS (SELECT w.id, f.s, f.j,
      |  list_dot_product(f.cw, f.cw)
      |    - 2.0 * list_dot_product(w.v[f.s*8+1 : (f.s+1)*8], f.cw) AS dist
      |  FROM w CROSS JOIN cbf f),
      |enc AS (SELECT id, s, j FROM (
      |  SELECT id, s, j,
      |    row_number() OVER (PARTITION BY id, s ORDER BY dist, j) AS rn FROM enc0)
      |  WHERE rn = 1),
      |rv AS (SELECT enc.id, flatten(list(f.cw ORDER BY enc.s)) AS rv
      |  FROM enc JOIN cbf f ON f.s = enc.s AND f.j = enc.j GROUP BY enc.id),
      |q AS (SELECT id AS query_id, v AS qv FROM w WHERE id % 50 = 0),
      |pr AS (SELECT query_id, qv, cid FROM (
      |  SELECT q.query_id, q.qv, c.cid,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      list_dot_product(q.qv, c.cv)
      |        / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
      |      DESC, c.cid) AS rn
      |  FROM q CROSS JOIN cent c) WHERE rn <= 4),
      |cand AS (SELECT pr.query_id, pr.qv, a.id AS neighbor_id,
      |  list_dot_product(pr.qv, rv.rv) AS qscore
      |  FROM pr JOIN asg a ON a.cid = pr.cid AND a.id != pr.query_id
      |  JOIN rv ON rv.id = a.id),
      |r1 AS (SELECT query_id, qv, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id)
      |    AS qr FROM cand),
      |re AS (SELECT r1.query_id, r1.neighbor_id,
      |  list_dot_product(r1.qv, w.v) AS cosine
      |  FROM r1 JOIN w ON w.id = r1.neighbor_id WHERE r1.qr <= 8),
      |r2 AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |    AS rank FROM re)
      |SELECT query_id, rank, neighbor_id, round(cosine + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val even = e.filter(col("vec_id") % 2 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString
    Similarity.ivfPqSave(even, col("vec_id"), col("embedding"), idx,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    Similarity.ivfPqAppend(s, idx, e.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"))
    Similarity.ivfPqLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
        nprobe = 4, k = 2, rescore = 8,
        rescoreAgainst = (e, col("vec_id"), col("embedding")),
        excludeSelf = true)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // PERSISTED IVF-PQ — the full FAISS layout at rest: coarse centroids
  // + codebook + cid-partitioned code lists (m ints/vector, floats
  // never persisted); ivfPqLoadTopK probes/ranks/refines from disk and
  // must answer identically to the ad-hoc composition (same oracle).
  q("q_knn_ivf_pq_persisted", ivfPqSql) { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.ivfPqSave(e, col("vec_id"), col("embedding"), idx,
      nlist = Similarity.nlistFor(e.count()), m = 8, ksub = 16, dim = 64)
    Similarity.ivfPqLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
        nprobe = 4, k = 2, rescore = 8,
        rescoreAgainst = (e, col("vec_id"), col("embedding")),
        excludeSelf = true)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // The same PQ retrieval through a PERSISTED index: pqSave writes codes
  // (m bytes/vector — the at-rest corpus representation) + codebook;
  // pqLoadTopK answers from disk, refining against the source table's
  // float vectors only on the shortlist. Same oracle as q_knn_pq: the
  // round-trip must not change a row.
  q("q_knn_pq_persisted",
    """WITH w0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |w AS (SELECT id,
      |  list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS v
      |  FROM w0),
      |cb0 AS (SELECT id, v,
      |  row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS j
      |  FROM w ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
      |cbf AS (SELECT j, s, v[s*8+1 : (s+1)*8] AS cw
      |  FROM cb0, unnest(range(0, 8)) AS t(s)),
      |enc0 AS (SELECT w.id, f.s, f.j,
      |  list_dot_product(f.cw, f.cw)
      |    - 2.0 * list_dot_product(w.v[f.s*8+1 : (f.s+1)*8], f.cw) AS dist
      |  FROM w CROSS JOIN cbf f),
      |enc AS (SELECT id, s, j FROM (
      |  SELECT id, s, j,
      |    row_number() OVER (PARTITION BY id, s ORDER BY dist, j) AS rn FROM enc0)
      |  WHERE rn = 1),
      |rv AS (SELECT enc.id, flatten(list(f.cw ORDER BY enc.s)) AS rv
      |  FROM enc JOIN cbf f ON f.s = enc.s AND f.j = enc.j GROUP BY enc.id),
      |q AS (SELECT id AS query_id, v AS qv FROM w WHERE id % 50 = 0 AND id < 2000),
      |sc AS (SELECT q.query_id, rv.id AS neighbor_id, q.qv,
      |  list_dot_product(q.qv, rv.rv) AS score
      |  FROM q JOIN rv ON rv.id != q.query_id),
      |r1 AS (SELECT query_id, neighbor_id, qv,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |    AS qr FROM sc),
      |re AS (SELECT r1.query_id, r1.neighbor_id,
      |  list_dot_product(r1.qv, w.v) AS cosine
      |  FROM r1 JOIN w ON w.id = r1.neighbor_id WHERE r1.qr <= 8),
      |r2 AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |    AS rank FROM re)
      |SELECT query_id, rank, neighbor_id, round(cosine + 1e-9, 4) AS cosine
      |FROM r2 WHERE rank <= 2""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Similarity.pqSave(e, col("vec_id"), col("embedding"), idx,
      m = 8, ksub = 16, dim = 64)
    Similarity.pqLoadTopK(s, idx,
        e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
        col("vec_id"), col("embedding"),
        k = 2, rescore = 8,
        rescoreAgainst = Some((e, col("vec_id"), col("embedding"))))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
  }

  // Partitioned HNSW ANN in the provably-exact configuration (efSearch
  // and m ≥ partition row count → beam never fills, best-first becomes
  // full traversal of the connected layer-0 graph, per-shard top-k is
  // brute-force-exact and the merge preserves it) — so the brute-force
  // oracle states the result. Approximate configs are spec-checked by
  // recall (HnswSpec).
  q("q_knn_hnsw",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
      |sc AS (SELECT qid, nid,
      |  list_dot_product(qv, dv)
      |    / sqrt(list_dot_product(qv, qv) * list_dot_product(dv, dv)) AS c
      |  FROM q JOIN d ON qid != nid),
      |r AS (SELECT qid AS query_id, nid AS neighbor_id, c,
      |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank FROM sc)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    // two regimes, switched on TOTAL corpus size (partition-independent,
    // so the oracle's validity can't hinge on the session's parallelism):
    //  - oracle-scale corpora (n ≤ 4096): ef = m = n ≥ any shard ⇒
    //    provably exact against the brute-force oracle, still cheap;
    //  - beyond: true ANN parameters (m=16, ef=64) — the approximate
    //    profile is the point of the index at scale, and ef must NOT
    //    grow to shard size there (an earlier ceil(n/partitions)
    //    derivation degenerated to per-shard brute force plus
    //    graph-build overhead at sf1: 130 s vs 2.4 s).
    val n = e.count()
    val (mm, ef) = if (n <= 4096) (n.toInt, n.toInt) else (16, 64)
    // exact=true makes the oracle regime SELF-GUARDING: each shard
    // asserts m,efSearch ≥ its row count, so the brute-force oracle can
    // never silently compare against an approximate result
    operators.Hnsw.topK(
        e.filter(col("vec_id") % 50 === 0), e,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, m = mm, efConstruction = ef, efSearch = ef,
        exact = n <= 4096)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // The same HNSW retrieval through a PERSISTED index (parity with
  // q_knn_ivf_persisted): graphs built once + hnswSave to parquet
  // (per-shard node/link rows + a meta marker pinning m/efConstruction),
  // then a fresh hnswLoadTopK answers from the restored graphs — same
  // exact-regime oracle; the save→load round-trip must not move a row.
  q("q_knn_hnsw_persisted",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
      |sc AS (SELECT qid, nid,
      |  list_dot_product(qv, dv)
      |    / sqrt(list_dot_product(qv, qv) * list_dot_product(dv, dv)) AS c
      |  FROM q JOIN d ON qid != nid),
      |r AS (SELECT qid AS query_id, nid AS neighbor_id, c,
      |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank FROM sc)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val n = e.count()
    val (mm, ef) = if (n <= 4096) (n.toInt, n.toInt) else (16, 64)
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_idx").toString
    operators.Hnsw.hnswSave(e, col("vec_id"), col("embedding"), idx,
      m = mm, efConstruction = ef)
    operators.Hnsw.hnswLoadTopK(s, idx, e.filter(col("vec_id") % 50 === 0),
        col("vec_id"), col("embedding"), k = 3, efSearch = ef,
        exact = n <= 4096)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // INCREMENTAL HNSW (closing the segment-append matrix): save graphs
  // over the first 300 vectors, hnswAppend the rest as a new SEGMENT
  // (O(new rows) — the base graphs are never re-read), search across
  // both segments ('appended' phase), then hnswCompact — the USearch
  // add-to-index fold: later segments' vectors INSERTED into the
  // restored base graphs — and search the folded index ('compacted'
  // phase). Both phases run the provably-exact regime (m = ef = n), so
  // each must equal the same brute-force top-3 — one oracle pins the
  // multi-segment search path AND the insert-into-restored-graph fold.
  q("q_knn_hnsw_incremental",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
      |sc AS (SELECT qid, nid,
      |  list_dot_product(qv, dv)
      |    / sqrt(list_dot_product(qv, qv) * list_dot_product(dv, dv)) AS c
      |  FROM q JOIN d ON qid != nid),
      |r AS (SELECT qid AS query_id, nid AS neighbor_id, c,
      |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank FROM sc)
      |SELECT ph.phase, query_id, rank, neighbor_id, round(c, 4) AS cosine
      |FROM r CROSS JOIN (VALUES ('appended'), ('compacted')) AS ph(phase)
      |WHERE rank <= 3""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    val n = e.count()
    val (mm, ef) = if (n <= 4096) (n.toInt, n.toInt) else (16, 64)
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_inc").toString
    operators.Hnsw.hnswSave(e.filter(col("vec_id") < 300),
      col("vec_id"), col("embedding"), idx, m = mm, efConstruction = ef)
    operators.Hnsw.hnswAppend(s, idx, e.filter(col("vec_id") >= 300),
      col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 50 === 0)
    val appended = operators.Hnsw.hnswLoadTopK(s, idx, queries,
      col("vec_id"), col("embedding"), k = 3, efSearch = ef,
      exact = n <= 4096)
    operators.Hnsw.hnswCompact(s, idx)
    val compacted = operators.Hnsw.hnswLoadTopK(s, idx, queries,
      col("vec_id"), col("embedding"), k = 3, efSearch = ef,
      exact = n <= 4096)
    appended.withColumn("phase", lit("appended"))
      .unionByName(compacted.withColumn("phase", lit("compacted")))
      .select(col("phase"), col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  // LSH pre-clustering: 2 independent bands, band width DERIVED from the
  // corpus (planesFor, target occupancy 8 — 6 planes/band at the sf0.01
  // oracle scale, log2 more per scale-up), CC-merged. The oracle derives
  // the SAME width from its own count(*), so it stays correct at any SF.
  q("q_lsh_cluster",
    """WITH RECURSIVE
      |w AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |np AS (SELECT greatest(1,
      |  CAST(ceil(log2(count(*) / 8.0) - 1e-9) AS INT)) AS pp FROM w),
      |pr AS (SELECT id, p,
      |  list_sum(list_transform(range(64), d -> v[d+1] *
      |    (CASE WHEN CAST('0x' || substr(md5(p || '_' || d), 1, 2) AS INTEGER) % 2 = 0
      |          THEN 1.0 ELSE -1.0 END))) AS proj
      |  FROM w CROSS JOIN np, UNNEST(range(2 * np.pp)) AS t(p)),
      |bk AS (SELECT id, p // np.pp AS band,
      |  CAST(sum(CASE WHEN proj >= 0 THEN 1 << (p % np.pp) ELSE 0 END) AS BIGINT)
      |    AS bucket
      |  FROM pr CROSS JOIN np GROUP BY id, p // np.pp),
      |e0 AS (SELECT id, min(id) OVER (PARTITION BY band, bucket) AS m FROM bk),
      |edges AS (SELECT id AS src, m AS dst FROM e0 WHERE id != m
      |  UNION SELECT m AS src, id AS dst FROM e0 WHERE id != m),
      |reach(node, lbl) AS (
      |  SELECT id, id FROM w
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst)
      |SELECT node, min(lbl) AS cluster FROM reach GROUP BY node""") { (s, dir) =>
    Similarity.lshCluster(load(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), dim = 64)
  }

  // ---------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------

  // Gopher-style repetition filter signals: top-unigram / top-bigram
  // mass fractions per document (boilerplate & spam markers)
  q("q_text_repetition",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT doc_id, unnest(ws) AS g FROM w),
      |uc AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
      |u AS (SELECT doc_id, max(c) AS c1, CAST(sum(c) AS BIGINT) AS n1
      |  FROM uc GROUP BY 1),
      |big AS (SELECT doc_id, ws[j] || ' ' || ws[j+1] AS g FROM w,
      |  UNNEST(range(1, len(ws))) AS t(j)),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
      |b AS (SELECT doc_id, max(c) AS c2, CAST(sum(c) AS BIGINT) AS n2
      |  FROM bc GROUP BY 1)
      |SELECT u.doc_id, u.n1 AS n_tokens,
      |  round(u.c1 * 1.0 / u.n1 + 1e-9, 4) AS top_unigram_frac,
      |  round(b.c2 * 1.0 / b.n2 + 1e-9, 4) AS top_bigram_frac
      |FROM u LEFT JOIN b ON b.doc_id = u.doc_id""") { (s, dir) =>
    val r = TextOps.repetitionSignals(load(s, dir, "documents"),
      col("doc_id"), col("text"))
    r.select(col("id").as("doc_id"), col("n_tokens"),
      r4e(col("top_unigram_frac")).as("top_unigram_frac"),
      r4e(col("top_bigram_frac")).as("top_bigram_frac"))
  }

  // Overlapping token-window chunking (8-word windows, 3-word overlap)
  q("q_text_chunk",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |st AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 3, 1) + 1, 5)) AS s
      |  FROM w)
      |SELECT doc_id, CAST((s - 1) / 5 AS BIGINT) AS chunk_id,
      |  array_to_string(ws[s : s + 7], ' ') AS chunk
      |FROM st""") { (s, dir) =>
    TextOps.chunk(load(s, dir, "documents"), col("doc_id"), col("text"),
        chunkSize = 8, overlap = 3)
      .select(col("id").as("doc_id"), col("chunk_id"), col("chunk"))
  }

  // Corpus-frequency boilerplate removal (MassiveText/C4 repeated-line
  // rule): segments appearing in >= 3 distinct documents are excised
  // everywhere, survivors re-join in original order — distinct doc-freq
  // count, broadcast boilerplate set, one reassembly aggregate.
  q("q_text_boilerplate",
    """WITH ps AS (SELECT doc_id, string_split(text, ' the ') AS ps FROM documents),
      |px AS (SELECT doc_id, ps[pos] AS seg, pos
      |  FROM ps, unnest(range(1, len(ps) + 1)) AS t(pos)),
      |f AS (SELECT seg, count(DISTINCT doc_id) AS df FROM px GROUP BY 1),
      |m AS (SELECT px.doc_id, px.pos, px.seg, f.df >= 3 AS b
      |  FROM px JOIN f USING (seg))
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN NOT b THEN seg END, ' the '
      |    ORDER BY pos), '') AS text,
      |  CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      |FROM m GROUP BY doc_id""") { (s, dir) =>
    TextOps.dropBoilerplate(load(s, dir, "documents"), col("doc_id"),
        col("text"), " the ", minDocs = 3)
      .select(col("id").as("doc_id"), col("text"), col("n_dropped"))
  }

  // Separator-aware chunking (the reference xpack's RecursiveSplitter
  // family): split on a structural boundary, pack whole pieces under a
  // 40-token budget by the deterministic prefix-sum bucket rule — one
  // explode + one integer running-sum window, engine-replayable exactly.
  q("q_text_chunk_sep",
    """WITH ps AS (SELECT doc_id, string_split(text, ' the ') AS ps FROM documents),
      |px AS (SELECT doc_id, ps[pos] AS p, pos
      |  FROM ps, unnest(range(1, len(ps) + 1)) AS t(pos)),
      |tc AS (SELECT doc_id, pos, p,
      |  CAST(len(string_split(p, ' ')) AS BIGINT) AS t FROM px),
      |cb AS (SELECT doc_id, pos, p, t,
      |  CAST(floor(coalesce(sum(t) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 40.0)
      |    AS BIGINT) AS chunk_id
      |  FROM tc)
      |SELECT doc_id, chunk_id, count(*) AS n_pieces,
      |  CAST(sum(t) AS BIGINT) AS n_tokens,
      |  string_agg(p, ' the ' ORDER BY pos) AS chunk
      |FROM cb GROUP BY doc_id, chunk_id""") { (s, dir) =>
    TextOps.chunkBySeparator(load(s, dir, "documents"), col("doc_id"),
        col("text"), " the ", maxTokens = 40)
      .select(col("id").as("doc_id"), col("chunk_id"), col("n_pieces"),
        col("n_tokens"), col("chunk"))
  }

  // corpus profiling histogram (one map-side-combinable scan → bins
  // rows; empty bins emitted — a distribution's gaps are information;
  // tails clamp into edge bins so Σn = row count)
  q("q_histogram",
    """WITH b AS (SELECT least(greatest(
      |    CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS BIGINT), 0), 11) AS bin
      |  FROM documents WHERE n_chars IS NOT NULL),
      |c AS (SELECT bin, count(*) AS n FROM b GROUP BY 1)
      |SELECT s.bin, s.bin * 50.0 AS bin_lo, (s.bin + 1) * 50.0 AS bin_hi,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |FROM range(0, 12) AS s(bin) LEFT JOIN c ON c.bin = s.bin""") { (s, dir) =>
    graft.operators.Stats.histogram(load(s, dir, "documents"),
      col("n_chars"), lo = 0.0, hi = 600.0, bins = 12)
  }

  // deterministic HyperLogLog distinct estimate (md5 geometry, exact
  // 2^-30-unit Z accounting — both engines replay the identical sketch
  // and take the identical correction branch; sf0.01 cardinalities sit
  // in the linear-counting regime at b=10, exercising that branch)
  q("q_hll_distinct",
    """WITH x AS (SELECT DISTINCT o_orderstatus AS g, o_custkey AS v FROM orders),
      |h AS (SELECT g, md5('hll' || CAST(v AS VARCHAR)) AS hx FROM x),
      |br AS (SELECT g, CAST('0x' || substr(hx, 1, 4) AS INTEGER) % 1024 AS bucket,
      |  substr(hx, 5, 28) AS rest FROM h),
      |zd AS (SELECT g, bucket, length(regexp_extract(rest, '^0*', 0)) AS z, rest
      |  FROM br),
      |rh AS (SELECT g, bucket, LEAST(CASE WHEN z = 28 THEN 30
      |    ELSE 4*z + CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
      |                     WHEN d >= 2 THEN 2 ELSE 3 END + 1 END, 30) AS rho
      |  FROM (SELECT g, bucket, z, CASE WHEN z = 28 THEN 0
      |      ELSE CAST('0x' || substr(rest, z + 1, 1) AS INTEGER) END AS d
      |    FROM zd) s),
      |reg AS (SELECT g, bucket, MAX(rho) AS rho FROM rh GROUP BY g, bucket),
      |agg AS (SELECT g, count(*) AS np,
      |  CAST(sum(CAST(power(2, 30 - rho) AS BIGINT)) AS BIGINT) AS zup
      |  FROM reg GROUP BY g),
      |e AS (SELECT g, 1024 - np AS v0,
      |  (0.7213::DOUBLE) / (1.0::DOUBLE + (1.079::DOUBLE) / (1024.0::DOUBLE))
      |    * 1024.0 * 1024.0 * 1073741824.0
      |    / CAST(zup + (1024 - np) * 1073741824 AS DOUBLE) AS raw FROM agg)
      |SELECT g AS o_orderstatus,
      |  round(CASE WHEN raw <= 2560.0 AND v0 > 0
      |    THEN 1024.0 * ln(1024.0 / CAST(v0 AS DOUBLE)) ELSE raw END
      |    + 1e-9, 4) AS estimate
      |FROM e""") { (s, dir) =>
    val regs = graft.operators.Stats.hllRegisters(
      load(s, dir, "orders"), Seq("o_orderstatus"), col("o_custkey"), b = 10)
    graft.operators.Stats.hllEstimate(regs, Seq("o_orderstatus"), b = 10)
      .select(col("o_orderstatus"),
        round(col("estimate") + lit(1e-9), 4).as("estimate"))
  }

  // HLL mergeability pinned cross-engine: Spark sketches two DISJOINT
  // halves (o_orderkey parity) and merges registers (max per bucket);
  // the oracle sketches the WHOLE table directly — equality IS the
  // merge proof. b=6 puts sf0.01 cardinalities in the raw-HLL regime,
  // exercising the other correction branch.
  q("q_hll_merge",
    """WITH x AS (SELECT DISTINCT o_orderstatus AS g, o_custkey AS v FROM orders),
      |h AS (SELECT g, md5('hll' || CAST(v AS VARCHAR)) AS hx FROM x),
      |br AS (SELECT g, CAST('0x' || substr(hx, 1, 4) AS INTEGER) % 64 AS bucket,
      |  substr(hx, 5, 28) AS rest FROM h),
      |zd AS (SELECT g, bucket, length(regexp_extract(rest, '^0*', 0)) AS z, rest
      |  FROM br),
      |rh AS (SELECT g, bucket, LEAST(CASE WHEN z = 28 THEN 30
      |    ELSE 4*z + CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
      |                     WHEN d >= 2 THEN 2 ELSE 3 END + 1 END, 30) AS rho
      |  FROM (SELECT g, bucket, z, CASE WHEN z = 28 THEN 0
      |      ELSE CAST('0x' || substr(rest, z + 1, 1) AS INTEGER) END AS d
      |    FROM zd) s),
      |reg AS (SELECT g, bucket, MAX(rho) AS rho FROM rh GROUP BY g, bucket),
      |agg AS (SELECT g, count(*) AS np,
      |  CAST(sum(CAST(power(2, 30 - rho) AS BIGINT)) AS BIGINT) AS zup
      |  FROM reg GROUP BY g),
      |e AS (SELECT g, 64 - np AS v0,
      |  (0.709::DOUBLE) * 64.0 * 64.0 * 1073741824.0
      |    / CAST(zup + (64 - np) * 1073741824 AS DOUBLE) AS raw FROM agg)
      |SELECT g AS o_orderstatus,
      |  round(CASE WHEN raw <= 160.0 AND v0 > 0
      |    THEN 64.0 * ln(64.0 / CAST(v0 AS DOUBLE)) ELSE raw END
      |    + 1e-9, 4) AS estimate
      |FROM e""") { (s, dir) =>
    val o = load(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey"))
    val ra = graft.operators.Stats.hllRegisters(
      o.filter(col("o_orderkey") % 2 === 0), Seq("o_orderstatus"),
      col("o_custkey"), b = 6)
    val rb = graft.operators.Stats.hllRegisters(
      o.filter(col("o_orderkey") % 2 === 1), Seq("o_orderstatus"),
      col("o_custkey"), b = 6)
    graft.operators.Stats.hllEstimate(
        graft.operators.Stats.hllMerge(ra, rb, Seq("o_orderstatus")),
        Seq("o_orderstatus"), b = 6)
      .select(col("o_orderstatus"),
        round(col("estimate") + lit(1e-9), 4).as("estimate"))
  }

  // count-min frequency estimation: 3×256 cells, probe every 50th
  // customer — exact md5 replay on both engines, estimates only
  // overcount
  q("q_cm_freq",
    """WITH cells AS (SELECT t.r,
      |  CAST('0x' || substr(md5('cm' || CAST(t.r AS VARCHAR) || '|'
      |    || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS b,
      |  count(*) AS cnt
      |  FROM orders, unnest(range(3)) AS t(r) GROUP BY 1, 2),
      |probes AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS item
      |  FROM orders WHERE o_custkey % 50 = 0),
      |pr AS (SELECT p.item, t.r,
      |  CAST('0x' || substr(md5('cm' || CAST(t.r AS VARCHAR) || '|' || p.item),
      |    1, 8) AS BIGINT) % 256 AS b
      |  FROM probes p, unnest(range(3)) AS t(r))
      |SELECT pr.item, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
      |FROM pr LEFT JOIN cells ON cells.r = pr.r AND cells.b = pr.b
      |GROUP BY pr.item""") { (s, dir) =>
    val o = load(s, dir, "orders")
    val sketch = graft.operators.Stats.cmSketch(o, Seq(), col("o_custkey"),
      w = 256, d = 3)
    graft.operators.Stats.cmLookup(sketch,
      o.filter(col("o_custkey") % 50 === 0)
        .select(col("o_custkey")).distinct(),
      Seq(), col("o_custkey"), w = 256, d = 3)
  }

  // CM mergeability pinned cross-engine (the q_hll_merge pattern):
  // Spark sketches disjoint orderkey-parity halves and merges by cell
  // ADDITION; the oracle sketches the whole table directly
  q("q_cm_merge",
    """WITH cells AS (SELECT t.r,
      |  CAST('0x' || substr(md5('cm' || CAST(t.r AS VARCHAR) || '|'
      |    || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 128 AS b,
      |  count(*) AS cnt
      |  FROM orders, unnest(range(2)) AS t(r) GROUP BY 1, 2),
      |probes AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS item
      |  FROM orders WHERE o_custkey % 50 = 0),
      |pr AS (SELECT p.item, t.r,
      |  CAST('0x' || substr(md5('cm' || CAST(t.r AS VARCHAR) || '|' || p.item),
      |    1, 8) AS BIGINT) % 128 AS b
      |  FROM probes p, unnest(range(2)) AS t(r))
      |SELECT pr.item, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
      |FROM pr LEFT JOIN cells ON cells.r = pr.r AND cells.b = pr.b
      |GROUP BY pr.item""") { (s, dir) =>
    val o = load(s, dir, "orders")
    val sa = graft.operators.Stats.cmSketch(
      o.filter(col("o_orderkey") % 2 === 0), Seq(), col("o_custkey"),
      w = 128, d = 2)
    val sb = graft.operators.Stats.cmSketch(
      o.filter(col("o_orderkey") % 2 === 1), Seq(), col("o_custkey"),
      w = 128, d = 2)
    graft.operators.Stats.cmLookup(
      graft.operators.Stats.cmMerge(sa, sb, Seq()),
      o.filter(col("o_custkey") % 50 === 0)
        .select(col("o_custkey")).distinct(),
      Seq(), col("o_custkey"), w = 128, d = 2)
  }

  // blocklist scan: one Aho-Corasick pass per row against a constant
  // term list (incl. overlapping terms and a never-matching one) — the
  // oracle replays the semantics as list_filter/contains
  q("q_text_blocklist",
    """SELECT doc_id,
      |  coalesce(array_to_string(list_filter(['table part', 'part', 'data',
      |    'spark', 'zzqq'], t -> contains(text, t)), ','), '') AS hits,
      |  len(list_filter(['table part', 'part', 'data', 'spark', 'zzqq'],
      |    t -> contains(text, t))) = 0 AS kept
      |FROM documents""") { (s, dir) =>
    val terms = Seq("table part", "part", "data", "spark", "zzqq")
    load(s, dir, "documents")
      .withColumn("_h", TextOps.matchTerms(col("text"), terms))
      .select(col("doc_id"), array_join(col("_h"), ",").as("hits"),
        (size(col("_h")) === 0).as("kept"))
  }

  // THE COMPOSED PIPELINE: langid-keep → quality floor → exact dedup →
  // n-gram decontamination → hash sample → sequence packing, as ONE
  // operator chain (Pipelines.pretrainCorpus) — and the ENTIRE chain
  // replayed stage by stage in DuckDB, pinning that the library's
  // operators compose, not just pass in isolation.
  q("q_pretrain_pipeline",
    """WITH lw AS (SELECT doc_id, text, string_split(text, ' ') AS ws
      |  FROM documents WHERE doc_id % 17 <> 0),
      |lid AS (SELECT doc_id, text, ws,
      |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
      |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |       WHEN s_en > s_de THEN 'en'
      |       ELSE 'de' END AS lp
      |  FROM (SELECT doc_id, text, ws,
      |    len(list_filter(ws, w -> w IN ('window','group','sort'))) * 1.0 / len(ws) AS s_de,
      |    len(list_filter(ws, w -> w IN ('the','a','fast','slow'))) * 1.0 / len(ws) AS s_en,
      |    len(list_filter(ws, w -> w IN ('data','row','query'))) * 1.0 / len(ws) AS s_es,
      |    len(list_filter(ws, w -> w IN ('table','batch','merge'))) * 1.0 / len(ws) AS s_fr,
      |    len(list_filter(ws, w -> w IN ('spark','hash','scan'))) * 1.0 / len(ws) AS s_zh
      |    FROM lw) x),
      |qk AS (SELECT doc_id, text, ws FROM lid WHERE lp = 'en' AND (
      |  least(length(text) / 500.0, 1.0) +
      |  least((len(list_filter(ws, w -> w IN ('the', 'a'))) * 1.0
      |    / len(ws)) * 5.0, 1.0) +
      |  len(list_distinct(ws)) * 1.0 / len(ws)) / 3.0 >= 0.5),
      |dd AS (SELECT doc_id, text, ws FROM qk
      |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |be AS (SELECT string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id % 17 = 0),
      |st AS (SELECT DISTINCT dd.doc_id,
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM dd, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |sb AS (SELECT DISTINCT
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM be, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |bad AS (SELECT DISTINCT doc_id FROM st JOIN sb USING (s)),
      |samp AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM dd
      |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      |  AND CAST('0x' || substr(md5('pt' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) < 2576980377),
      |d2 AS (SELECT doc_id, n_tokens,
      |  CAST('0x' || substr(md5('pt' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) % 4 AS bucket,
      |  md5('pt' || CAST(doc_id AS VARCHAR)) AS h FROM samp),
      |p AS (SELECT doc_id, n_tokens, bucket, h,
      |  coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM d2),
      |k AS (SELECT doc_id, n_tokens, bucket,
      |  CAST(floor(pfx / 256.0) AS BIGINT) AS pack, h FROM p)
      |SELECT doc_id, n_tokens, bucket, pack,
      |  row_number() OVER (PARTITION BY bucket, pack ORDER BY h, doc_id)
      |    AS pack_pos
      |FROM k""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val markers = Map(
      "de" -> Seq("window", "group", "sort"),
      "en" -> Seq("the", "a", "fast", "slow"),
      "es" -> Seq("data", "row", "query"),
      "fr" -> Seq("table", "batch", "merge"),
      "zh" -> Seq("spark", "hash", "scan"))
    graft.operators.Pipelines.pretrainCorpus(
        docs.filter(col("doc_id") % 17 =!= 0), col("doc_id"), col("text"),
        markers, keepLang = "en", stopwords = Seq("the", "a"),
        minQuality = 0.5,
        heldout = docs.filter(col("doc_id") % 17 === 0),
        heldoutText = col("text"), ngram = 5,
        sampleRate = 0.6, salt = "pt", packBudget = 256, packBuckets = 4)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
        col("pack_pos"))
  }

  // THE FULL PRODUCTION CHAIN: langid → quality → Aho-Corasick
  // blocklist → corpus-frequency boilerplate excision (REWRITES text;
  // every later stage sees the cleaned corpus) → exact dedup → minhash
  // near-dup canonicalization (LSH pairs → connected components →
  // smallest-id representative) → n-gram decontamination → hash sample
  // → sequence packing, as ONE operator chain
  // (Pipelines.pretrainCorpusFull) — and the ENTIRE nine-stage chain
  // replayed in DuckDB, recursive-CTE connected components included.
  q("q_pretrain_pipeline_full",
    """WITH RECURSIVE
      |lw AS (SELECT doc_id, text, string_split(text, ' ') AS ws
      |  FROM documents WHERE doc_id % 17 <> 0),
      |lid AS (SELECT doc_id, text, ws,
      |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
      |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |       WHEN s_en > s_de THEN 'en'
      |       ELSE 'de' END AS lp
      |  FROM (SELECT doc_id, text, ws,
      |    len(list_filter(ws, w -> w IN ('window','group','sort'))) * 1.0 / len(ws) AS s_de,
      |    len(list_filter(ws, w -> w IN ('the','a','fast','slow'))) * 1.0 / len(ws) AS s_en,
      |    len(list_filter(ws, w -> w IN ('data','row','query'))) * 1.0 / len(ws) AS s_es,
      |    len(list_filter(ws, w -> w IN ('table','batch','merge'))) * 1.0 / len(ws) AS s_fr,
      |    len(list_filter(ws, w -> w IN ('spark','hash','scan'))) * 1.0 / len(ws) AS s_zh
      |    FROM lw) x),
      |qk AS (SELECT doc_id, text FROM lid WHERE lp = 'en' AND (
      |  least(length(text) / 500.0, 1.0) +
      |  least((len(list_filter(ws, w -> w IN ('the', 'a'))) * 1.0
      |    / len(ws)) * 5.0, 1.0) +
      |  len(list_distinct(ws)) * 1.0 / len(ws)) / 3.0 >= 0.5),
      |bl AS (SELECT doc_id, text FROM qk
      |  WHERE len(list_filter(['slow merge', 'zzqq'],
      |    t -> contains(text, t))) = 0),
      |segs AS (SELECT doc_id, t.pos, ps[t.pos] AS seg FROM
      |  (SELECT doc_id, string_split(text, ' the ') AS ps FROM bl),
      |  unnest(range(1, len(ps) + 1)) AS t(pos)),
      |boiler AS (SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM segs)
      |  GROUP BY seg HAVING count(*) >= 3),
      |marked AS (SELECT s.doc_id, s.pos, s.seg, b.seg IS NOT NULL AS isb
      |  FROM segs s LEFT JOIN boiler b ON b.seg = s.seg),
      |clean AS (SELECT doc_id,
      |  coalesce(string_agg(seg, ' the ' ORDER BY pos)
      |    FILTER (WHERE NOT isb), '') AS text
      |  FROM marked GROUP BY doc_id),
      |dd AS (SELECT doc_id, text FROM clean
      |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |dw AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM dd),
      |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
      |  FROM dw, UNNEST(range(1, len(ws)-1)) AS t(j)),
      |sh AS (SELECT doc_id, s FROM sh0
      |  QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |mh AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
      |  min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
      |  min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bk FROM mh UNION ALL
      |  SELECT doc_id, 1, md5(h2 || h3) FROM mh UNION ALL
      |  SELECT doc_id, 2, md5(h4 || h5) FROM mh),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |  ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |ix AS (SELECT c.a, c.b, count(*) AS i FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.a
      |  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
      |  GROUP BY 1, 2),
      |pairs AS (SELECT a, b FROM ix
      |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b AS src, a AS dst FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM dd
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
      |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
      |canon AS (SELECT d.doc_id, d.text FROM dd d
      |  JOIN comp c ON c.node = d.doc_id
      |  QUALIFY row_number() OVER (PARTITION BY c.cluster
      |    ORDER BY d.doc_id) = 1),
      |cw AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM canon),
      |st AS (SELECT DISTINCT doc_id,
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM cw, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |be AS (SELECT string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id % 17 = 0),
      |sb2 AS (SELECT DISTINCT
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM be, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |bad AS (SELECT DISTINCT doc_id FROM st JOIN sb2 USING (s)),
      |samp AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM cw
      |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      |  AND CAST('0x' || substr(md5('ptf' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) < 2576980377),
      |d2 AS (SELECT doc_id, n_tokens,
      |  CAST('0x' || substr(md5('ptf' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) % 4 AS bucket,
      |  md5('ptf' || CAST(doc_id AS VARCHAR)) AS h FROM samp),
      |p AS (SELECT doc_id, n_tokens, bucket, h,
      |  coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM d2),
      |k AS (SELECT doc_id, n_tokens, bucket,
      |  CAST(floor(pfx / 256.0) AS BIGINT) AS pack, h FROM p)
      |SELECT doc_id, n_tokens, bucket, pack,
      |  row_number() OVER (PARTITION BY bucket, pack ORDER BY h, doc_id)
      |    AS pack_pos
      |FROM k""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val markers = Map(
      "de" -> Seq("window", "group", "sort"),
      "en" -> Seq("the", "a", "fast", "slow"),
      "es" -> Seq("data", "row", "query"),
      "fr" -> Seq("table", "batch", "merge"),
      "zh" -> Seq("spark", "hash", "scan"))
    graft.operators.Pipelines.pretrainCorpusFull(
        docs.filter(col("doc_id") % 17 =!= 0), col("doc_id"), col("text"),
        markers, keepLang = "en", stopwords = Seq("the", "a"),
        minQuality = 0.5,
        blocklist = Seq("slow merge", "zzqq"),
        boilerplate = Some((" the ", 3L)),
        nearDup = Some(graft.operators.Pipelines.NearDupConfig(
          n = 3, k = 6, bands = 3, threshold = 0.8, maxDf = 20)),
        heldout = docs.filter(col("doc_id") % 17 === 0),
        heldoutText = col("text"), ngram = 5,
        sampleRate = 0.6, salt = "ptf", packBudget = 256, packBuckets = 4)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
        col("pack_pos"))
  }

  /** The per-refresh TAIL of the incremental pretrain oracle —
    * decontamination (5-gram semi-join vs the heldout CTE `sbh`) → hash
    * sample at 0.6 → sequence packing (budget 256, 4 buckets) over the
    * survivor CTE `$survSrc` (cols doc_id, text). Emits `out$r` rows
    * (refresh=$r, doc_id, n_tokens, bucket, pack, pack_pos). */
  private def packRound(r: String, survSrc: String): String =
    s"""st$r AS (SELECT DISTINCT doc_id,
       |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3] ||
       |    ' ' || ws[j+4] AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $survSrc) zz,
       |  UNNEST(range(1, len(ws) - 3)) AS t(j)),
       |bad$r AS (SELECT DISTINCT doc_id FROM st$r JOIN sbh USING (s)),
       |samp$r AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $survSrc
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bad$r)
       |  AND CAST('0x' || substr(md5('pti' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS BIGINT) < 2576980377),
       |d2$r AS (SELECT doc_id, n_tokens,
       |  CAST('0x' || substr(md5('pti' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS BIGINT) % 4 AS bucket,
       |  md5('pti' || CAST(doc_id AS VARCHAR)) AS h FROM samp$r),
       |p$r AS (SELECT doc_id, n_tokens, bucket, h,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
       |  FROM d2$r),
       |k$r AS (SELECT doc_id, n_tokens, bucket,
       |  CAST(floor(pfx / 256.0) AS BIGINT) AS pack, h FROM p$r),
       |out$r AS (SELECT $r AS refresh, doc_id, n_tokens, bucket, pack,
       |  row_number() OVER (PARTITION BY bucket, pack ORDER BY h, doc_id)
       |    AS pack_pos FROM k$r)""".stripMargin

  /** The shared two-refresh oracle for the INCREMENTAL pretrain chain
    * (batch q_pretrain_incremental + its streaming twin): day 1 = odd
    * ids, day 2 = even ids (heldout = %17), each refresh replayed as
    * langid → quality → blocklist → exact gate (in-batch min-id
    * canonicalization + history hash filter) → near gate (in-batch
    * LSH+CC + ≥3-of-6 signature agreement vs history) → decontamination
    * → sample → pack, with day 1's survivor hashes and signatures
    * threaded into day 2's history CTEs. */
  private val pretrainIncrementalSql: String =
    s"""WITH RECURSIVE
       |w0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |  FROM documents WHERE doc_id % 17 <> 0),
       |lid AS (SELECT doc_id, text, ws,
       |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
       |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
       |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
       |       WHEN s_en > s_de THEN 'en'
       |       ELSE 'de' END AS lp
       |  FROM (SELECT doc_id, text, ws,
       |    len(list_filter(ws, w -> w IN ('window','group','sort'))) * 1.0 / len(ws) AS s_de,
       |    len(list_filter(ws, w -> w IN ('the','a','fast','slow'))) * 1.0 / len(ws) AS s_en,
       |    len(list_filter(ws, w -> w IN ('data','row','query'))) * 1.0 / len(ws) AS s_es,
       |    len(list_filter(ws, w -> w IN ('table','batch','merge'))) * 1.0 / len(ws) AS s_fr,
       |    len(list_filter(ws, w -> w IN ('spark','hash','scan'))) * 1.0 / len(ws) AS s_zh
       |    FROM w0) x),
       |qk AS (SELECT doc_id, text FROM lid WHERE lp = 'en' AND (
       |  least(length(text) / 500.0, 1.0) +
       |  least((len(list_filter(ws, w -> w IN ('the', 'a'))) * 1.0
       |    / len(ws)) * 5.0, 1.0) +
       |  len(list_distinct(ws)) * 1.0 / len(ws)) / 3.0 >= 0.5),
       |blk AS (SELECT doc_id, text FROM qk
       |  WHERE len(list_filter(['slow merge', 'zzqq'],
       |    t -> contains(text, t))) = 0),
       |f1 AS (SELECT doc_id, text FROM blk WHERE doc_id % 2 = 1),
       |f2 AS (SELECT doc_id, text FROM blk WHERE doc_id % 2 = 0),
       |ex1 AS (SELECT doc_id, text FROM f1
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] AS s
       |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(j)),
       |hist0 AS (SELECT * FROM (${mh6("sh0")}) z WHERE 1 = 0),
       |${refreshRoundFrom("1", "ex1", "hist0")},
       |s1 AS (SELECT e.doc_id, e.text FROM ex1 e
       |  WHERE e.doc_id IN (SELECT doc_id FROM surv1)),
       |cn2 AS (SELECT doc_id, text FROM f2
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |ex2 AS (SELECT doc_id, text FROM cn2
       |  WHERE md5(text) NOT IN (SELECT md5(text) FROM ex1)),
       |hist2 AS (SELECT * FROM cmh1
       |  WHERE doc_id IN (SELECT doc_id FROM surv1)),
       |${refreshRoundFrom("2", "ex2", "hist2")},
       |s2 AS (SELECT e.doc_id, e.text FROM ex2 e
       |  WHERE e.doc_id IN (SELECT doc_id FROM surv2)),
       |beh AS (SELECT string_split(text, ' ') AS ws FROM documents
       |  WHERE doc_id % 17 = 0),
       |sbh AS (SELECT DISTINCT
       |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3] ||
       |    ' ' || ws[j+4] AS s
       |  FROM beh, UNNEST(range(1, len(ws) - 3)) AS t(j)),
       |${packRound("1", "s1")},
       |${packRound("2", "s2")}
       |SELECT * FROM out1 UNION ALL SELECT * FROM out2"""

  private val ptiMarkers = Map(
    "de" -> Seq("window", "group", "sort"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "query"),
    "fr" -> Seq("table", "batch", "merge"),
    "zh" -> Seq("spark", "hash", "scan"))

  // THE INCREMENTAL PRETRAIN REFRESH (Pipelines.pretrainCorpusIncremental)
  // — the day-over-day corpus build: TWO refreshes share persisted
  // hash + signature dedup indexes, so day 2 dedups against day 1's
  // survivors WITHOUT re-reading day 1's text. The oracle replays BOTH
  // refreshes sequentially, recursive-CTE CC per round included.
  q("q_pretrain_incremental", pretrainIncrementalSql) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_pti").toString
    def refresh(pred: org.apache.spark.sql.Column) =
      graft.operators.Pipelines.pretrainCorpusIncremental(
        docs.filter(col("doc_id") % 17 =!= 0 && pred),
        col("doc_id"), col("text"),
        ptiMarkers, keepLang = "en", stopwords = Seq("the", "a"),
        minQuality = 0.5, blocklist = Seq("slow merge", "zzqq"),
        hashIndex = s"$root/hash", sigIndex = s"$root/sig",
        heldout = docs.filter(col("doc_id") % 17 === 0),
        heldoutText = col("text"), ngram = 5,
        sampleRate = 0.6, salt = "pti", packBudget = 256, packBuckets = 4,
        nearDup = graft.operators.Pipelines.NearDupConfig(
          n = 3, k = 6, bands = 3, threshold = 0.8, maxDf = 20))
    // day 1 builds both indexes (the calls' index writes are eager;
    // the returned packed frames stay lazy over the survivor caches)…
    val r1 = refresh(col("doc_id") % 2 === 1).withColumn("refresh", lit(1))
    // …so day 2's gates probe exactly day 1's committed state
    val r2 = refresh(col("doc_id") % 2 === 0).withColumn("refresh", lit(2))
    r1.unionByName(r2).select(col("refresh"), col("doc_id"),
      col("n_tokens"), col("bucket"), col("pack"), col("pack_pos"))
  }

  // The STREAMING twin: the same two days arrive as MICRO-BATCHES
  // through Streaming.pretrainRefreshStream — each batch runs the
  // whole incremental chain in foreachBatch and appends its packed
  // survivors (tagged refresh = batchId + 1); the indexes carry state
  // between batches, so the accumulated packed table must equal the
  // batch path's two-refresh output EXACTLY (one shared oracle).
  q("q_pretrain_incremental_stream", pretrainIncrementalSql) { (s, dir) =>
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = load(s, dir, "documents")
      .filter(col("doc_id") % 17 =!= 0).select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 1)
    val root = java.nio.file.Files.createTempDirectory("graft_ptis").toString
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = s"$root/packed"
    val sq = graft.streaming.Streaming.pretrainRefreshStream(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      ptiMarkers, keepLang = "en", stopwords = Seq("the", "a"),
      minQuality = 0.5, blocklist = Seq("slow merge", "zzqq"),
      hashIndex = s"$root/hash", sigIndex = s"$root/sig",
      heldout = load(s, dir, "documents").filter(col("doc_id") % 17 === 0),
      heldoutText = col("text"), ngram = 5,
      sampleRate = 0.6, salt = "pti", packBudget = 256, packBuckets = 4,
      packedOut = out, checkpoint = s"$root/ckpt",
      nearDup = graft.operators.Pipelines.NearDupConfig(
        n = 3, k = 6, bands = 3, threshold = 0.8, maxDf = 20)).start()
    try {
      in.addData(b1.toSeq); sq.processAllAvailable()
      in.addData(b2.toSeq); sq.processAllAvailable()
    } finally sq.stop()
    s.read.parquet(out).select(col("refresh"), col("doc_id"),
      col("n_tokens"), col("bucket"), col("pack"), col("pack_pos"))
  }

  // percentile normalization: n_chars → per-lang percent rank, doc_id
  // tie-break — heterogeneous scores become mixable [0,1] quantiles
  q("q_rank_normalize",
    """WITH nn AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v
      |  FROM documents WHERE n_chars IS NOT NULL),
      |p AS (SELECT doc_id,
      |  percent_rank() OVER (PARTITION BY lang ORDER BY v, doc_id) AS pct
      |  FROM nn)
      |SELECT d.doc_id, d.lang, round(p.pct + 1e-9, 4) AS pct
      |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id""") { (s, dir) =>
    graft.operators.Stats.rankNormalize(load(s, dir, "documents"),
        Seq("lang"), col("n_chars"), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        round(col("pct") + lit(1e-9), 4).as("pct"))
  }

  // data-drift monitor: per-user two-sample z between two corpus
  // versions (event_id mod-3 split) — decimal-exact moments, the
  // rvarSamp determinism recipe on both engines
  q("q_drift",
    """WITH o AS (SELECT user_id, count(*) AS n_old,
      |  CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx
      |  FROM events WHERE value IS NOT NULL AND event_id % 3 <> 0 GROUP BY 1),
      |n AS (SELECT user_id, count(*) AS n_new,
      |  CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx
      |  FROM events WHERE value IS NOT NULL AND event_id % 3 = 0 GROUP BY 1),
      |j AS (SELECT o.user_id, n_old, n_new,
      |  o.sx / CAST(n_old AS DOUBLE) AS mo, n.sx / CAST(n_new AS DOUBLE) AS mn,
      |  (CAST(n_old AS DOUBLE) * o.sxx - o.sx * o.sx)
      |    / (CAST(n_old AS DOUBLE) * (CAST(n_old AS DOUBLE) - 1)) AS vo,
      |  (CAST(n_new AS DOUBLE) * n.sxx - n.sx * n.sx)
      |    / (CAST(n_new AS DOUBLE) * (CAST(n_new AS DOUBLE) - 1)) AS vn
      |  FROM o JOIN n ON o.user_id = n.user_id)
      |SELECT user_id, n_old, n_new,
      |  round(mo + 1e-9, 4) AS mean_old, round(mn + 1e-9, 4) AS mean_new,
      |  round(CASE WHEN n_old < 5 OR n_new < 5
      |      OR NOT (sqrt(vo / CAST(n_old AS DOUBLE)
      |        + vn / CAST(n_new AS DOUBLE)) > 0) THEN NULL
      |    ELSE (mn - mo) / sqrt(vo / CAST(n_old AS DOUBLE)
      |      + vn / CAST(n_new AS DOUBLE)) END + 1e-9, 4) AS z
      |FROM j""") { (s, dir) =>
    val ev = loadEvents(s, dir)
    graft.operators.Stats.drift(
        ev.filter(col("event_id") % 3 =!= 0),
        ev.filter(col("event_id") % 3 === 0),
        Seq("user_id"), col("value"))
      .select(col("user_id"), col("n_old"), col("n_new"),
        round(col("mean_old") + lit(1e-9), 4).as("mean_old"),
        round(col("mean_new") + lit(1e-9), 4).as("mean_new"),
        round(col("z") + lit(1e-9), 4).as("z"))
  }

  q("q_text_stats",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tok,
      |  len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_word_tok,
      |  round(len(list_distinct(string_split(text, ' '))) * 1.0
      |    / len(string_split(text, ' ')) + 1e-9, 4) AS distinct_ratio,
      |  round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
      |    / len(string_split(text, ' ')) + 1e-9, 4) AS mean_len,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |    AS bag_fp,
      |  list_min(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |    j -> md5(string_split(text, ' ')[j] || ' ' ||
      |              string_split(text, ' ')[j+1] || ' ' ||
      |              string_split(text, ' ')[j+2]))) AS min_fp
      |FROM documents""") { (s, dir) =>
    load(s, dir, "documents").select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tok"),
      TextOps.wordTokenCount(col("text")).as("n_word_tok"),
      r4e(TextOps.distinctRatio(col("text"))).as("distinct_ratio"),
      r4e(TextOps.meanTokenLen(col("text"))).as("mean_len"),
      TextOps.bagFingerprint(col("text")).as("bag_fp"),
      TextOps.minShingleFingerprint(col("text"), 3).as("min_fp"))
  }

  q("q_text_quality",
    """SELECT doc_id, round((
      |  least(length(text) / 500.0, 1.0) +
      |  least((len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'a'))) * 1.0
      |    / len(string_split(text, ' '))) * 5.0, 1.0) +
      |  len(list_distinct(string_split(text, ' '))) * 1.0
      |    / len(string_split(text, ' '))
      |) / 3.0 + 1e-9, 4) AS quality
      |FROM documents""") { (s, dir) =>
    load(s, dir, "documents").select(
      col("doc_id"),
      r4e(TextOps.qualityScore(col("text"), Seq("the", "a"))).as("quality"))
  }

  // language-ID: marker-lexicon argmax (tie → alphabetically first lang)
  q("q_text_langid",
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sc AS (SELECT doc_id,
      |  len(list_filter(ws, w -> w IN ('window','group','sort'))) * 1.0 / len(ws) AS s_de,
      |  len(list_filter(ws, w -> w IN ('the','a','fast','slow'))) * 1.0 / len(ws) AS s_en,
      |  len(list_filter(ws, w -> w IN ('data','row','query'))) * 1.0 / len(ws) AS s_es,
      |  len(list_filter(ws, w -> w IN ('table','batch','merge'))) * 1.0 / len(ws) AS s_fr,
      |  len(list_filter(ws, w -> w IN ('spark','hash','scan'))) * 1.0 / len(ws) AS s_zh
      |  FROM s)
      |SELECT doc_id,
      |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
      |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |       WHEN s_en > s_de THEN 'en'
      |       ELSE 'de' END AS lang_pred,
      |  round(s_en + 1e-9, 4) AS score_en
      |FROM sc""") { (s, dir) =>
    val markers = Map(
      "de" -> Seq("window", "group", "sort"),
      "en" -> Seq("the", "a", "fast", "slow"),
      "es" -> Seq("data", "row", "query"),
      "fr" -> Seq("table", "batch", "merge"),
      "zh" -> Seq("spark", "hash", "scan"))
    load(s, dir, "documents").select(
      col("doc_id"),
      graft.operators.TextOps.langId(col("text"), markers).as("lang_pred"),
      r4e(TextOps.lexiconRatio(col("text"), markers("en"))).as("score_en"))
  }

  // ndarray matmul (reference __matmul__): reshape each 64-d embedding
  // into a 4×16 matrix A and compute the Gram matrix A·Aᵀ through the
  // native mat_mul expression (B = Aᵀ built with nested transforms).
  // Output canonicalized as a flattened DECIMAL(18,4) string.
  q("q_matmul",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id % 100 = 0),
      |a AS (SELECT vec_id,
      |  list_transform(range(4), i -> v[i*16+1 : i*16+16]) AS m FROM e),
      |c AS (SELECT vec_id, list_transform(range(4), i ->
      |    list_transform(range(4), j ->
      |      list_sum(list_transform(range(16), l ->
      |        m[i+1][l+1] * m[j+1][l+1])))) AS mm FROM a)
      |SELECT vec_id, array_to_string(list_transform(flatten(mm),
      |  x -> CAST(CAST(x AS DECIMAL(18,4)) AS VARCHAR)), ',') AS gram
      |FROM c""") { (s, dir) =>
    val e = load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = transform(sequence(lit(0), lit(3)),
      i => slice(col("v"), i * 16 + 1, lit(16)))
    val at = transform(sequence(lit(0), lit(15)),
      l => transform(sequence(lit(0), lit(3)),
        j => element_at(element_at(a, j + 1), l + 1)))
    e.select(col("vec_id"),
      decJoin(flatten(graft.plans.VecExprs.matMul(a, at))).as("gram"))
  }

  // corpus vocabulary head: top-50 tokens by term frequency (ties →
  // token asc — a total order, so the LIMIT cut is engine-independent)
  q("q_vocab_topk",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS tf,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 50""") { (s, dir) =>
    TextOps.vocabulary(load(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("tf").desc, col("token").asc).limit(50)
  }

  // unigram-perplexity quality proxy: mean ln(tf/total) per document
  // under the corpus's own unigram model; the mean goes through the
  // exact-decimal sum so partial-agg order can't flip the hash
  q("q_text_unigram",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |v AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM v),
      |lp AS (SELECT doc_id, ln(CAST(tf AS DOUBLE) / total) AS lp
      |  FROM tok JOIN v USING (token) CROSS JOIN tot)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(lp AS DECIMAL(24,6))) AS DOUBLE) / count(*)
      |    + 1e-9, 4) AS logprob,
      |  count(*) AS n_tok
      |FROM lp GROUP BY doc_id""") { (s, dir) =>
    TextOps.unigramTokenLogProbs(load(s, dir, "documents"), col("doc_id"),
        col("text"))
      .groupBy(col("id").as("doc_id"))
      .agg(r4(dsum(col("lp")) / count(lit(1)) + lit(1e-9)).as("logprob"),
        count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("logprob"), col("n_tok"))
  }

  // Bigram LM quality score (next step toward the CCNet 5-gram filter:
  // word-order gibberish that unigram stats can't see scores low).
  // Add-0.5 smoothing over the corpus's own bigram model; exact decimal
  // sum of ln-probs for cross-engine reproducibility.
  private val bigramSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, ws[j] AS w1, ws[j+1] AS w2
      |  FROM w, unnest(range(1, len(ws))) AS t(j)),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |vs AS (SELECT count(DISTINCT tk) AS v FROM (
      |  SELECT unnest(ws) AS tk FROM w) u),
      |lp AS (SELECT bg.doc_id,
      |  ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vs.v)) AS lp
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vs)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(lp AS DECIMAL(24,6))) AS DOUBLE) / count(*)
      |    + 1e-9, 4) AS logprob,
      |  count(*) AS n_bigrams
      |FROM lp GROUP BY doc_id"""

  q("q_text_bigram", bigramSql) { (s, dir) =>
    TextOps.bigramLogProbs(load(s, dir, "documents"), col("doc_id"),
        col("text"), k = 0.5)
      .groupBy(col("id").as("doc_id"))
      .agg(r4(dsum(col("lp")) / count(lit(1)) + lit(1e-9)).as("logprob"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("logprob"), col("n_bigrams"))
  }

  // The skew-guarded variant: both count joins routed through the
  // deterministic salting recipe (head words like "the" are hot keys on
  // the w1 shuffle). Same oracle — salting changes the partitioning,
  // never a row of the result.
  q("q_text_bigram_salted", bigramSql) { (s, dir) =>
    TextOps.bigramLogProbs(load(s, dir, "documents"), col("doc_id"),
        col("text"), k = 0.5, saltBuckets = 8)
      .groupBy(col("id").as("doc_id"))
      .agg(r4(dsum(col("lp")) / count(lit(1)) + lit(1e-9)).as("logprob"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("logprob"), col("n_bigrams"))
  }

  // pre-training scrub: URLs stripped, emails/IPv4s masked, whitespace
  // normalized. The noise is injected deterministically in BOTH engines
  // (the synthetic corpus is clean text), so the scrub is exercised on
  // rows that actually contain URLs/emails/IPs.
  q("q_text_clean",
    """WITH aug AS (SELECT doc_id, text ||
      |  CASE WHEN doc_id % 5 = 0
      |    THEN ' contact bob@example.com  or https://ex.am/p?q=1#f now'
      |    ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0 THEN '  logged from 10.0.255.14   end'
      |    ELSE '' END AS t FROM documents)
      |SELECT doc_id, trim(regexp_replace(
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(t, 'https?://\S+', ' ', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |  '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |'\s+', ' ', 'g')) AS cleaned FROM aug""") { (s, dir) =>
    val aug = load(s, dir, "documents").withColumn("t", concat(col("text"),
      when(col("doc_id") % 5 === 0,
        lit(" contact bob@example.com  or https://ex.am/p?q=1#f now"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("  logged from 10.0.255.14   end")).otherwise(lit(""))))
    aug.select(col("doc_id"), TextOps.cleanText(col("t")).as("cleaned"))
  }

  // ---------------------------------------------------------------
  // Deterministic sampling (training-mix construction)
  // ---------------------------------------------------------------

  // training-mix reweighting: per-source keep rates (src N keeps
  // (N%4+1)·25%) decided by the same pure md5 predicate — a 100 TB mix
  // change is one shuffle-free scan
  q("q_sample_mixture",
    """SELECT doc_id, source FROM documents
      |WHERE CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT)
      |  < ((CAST(substr(source, 4) AS INT) % 4) + 1) * 0.25 * 4294967296""") { (s, dir) =>
    val rate = ((substring(col("source"), 4, 10).cast("int") % 4) + 1) * lit(0.25)
    Sampling.mixtureSample(load(s, dir, "documents"), col("doc_id"), rate, "mix")
      .select(col("doc_id"), col("source"))
  }

  // frequency-capped sampling: hot customers throttled to ≈ 5 orders in
  // expectation via count-min frequency estimates (d broadcast cell
  // joins, no exact per-item count table) + the md5 keep predicate —
  // the full sketch-driven pipeline decision replayed in DuckDB
  q("q_sample_freqcap",
    """WITH cells AS (SELECT t.r,
      |  CAST('0x' || substr(md5('fcap' || CAST(t.r AS VARCHAR) || '|'
      |    || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS b,
      |  count(*) AS cnt
      |  FROM orders, unnest(range(2)) AS t(r) GROUP BY 1, 2),
      |est AS (SELECT o.o_orderkey, least(coalesce(c0.cnt, 0),
      |    coalesce(c1.cnt, 0)) AS est
      |  FROM orders o
      |  LEFT JOIN cells c0 ON c0.r = 0 AND c0.b =
      |    CAST('0x' || substr(md5('fcap0|' || CAST(o.o_custkey AS VARCHAR)),
      |      1, 8) AS BIGINT) % 256
      |  LEFT JOIN cells c1 ON c1.r = 1 AND c1.b =
      |    CAST('0x' || substr(md5('fcap1|' || CAST(o.o_custkey AS VARCHAR)),
      |      1, 8) AS BIGINT) % 256)
      |SELECT o_orderkey FROM est
      |WHERE CAST('0x' || substr(md5('fcap' || CAST(o_orderkey AS VARCHAR)),
      |    1, 8) AS BIGINT)
      |  < least(1.0, 5.0 / CAST(est AS DOUBLE)) * 4294967296.0""") { (s, dir) =>
    Sampling.frequencyCapSample(load(s, dir, "orders"), col("o_orderkey"),
        col("o_custkey"), cap = 5, w = 256, d = 2)
      .select(col("o_orderkey"))
  }

  // decontamination (the published exact n-gram collision method): drop
  // training docs sharing ANY 5-gram with the benchmark set. Shingle +
  // semi-join — at 100 TB the same bucketed equi-join shape as dedup
  // (13-grams there; 5-grams here because the corpus is tiny). No DF
  // cap: decontamination must not ignore hot n-grams.
  q("q_decontaminate",
    """WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
      |be AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
      |wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr),
      |wb AS (SELECT doc_id, string_split(text, ' ') AS ws FROM be),
      |st AS (SELECT DISTINCT doc_id,
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3] || ' ' || ws[j+4] AS s
      |  FROM wt, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |sb AS (SELECT DISTINCT
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3] || ' ' || ws[j+4] AS s
      |  FROM wb, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |bad AS (SELECT DISTINCT doc_id FROM st JOIN sb USING (s))
      |SELECT doc_id FROM tr
      |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val ts = Dedup.shingles(train, col("doc_id"), col("text"), n = 5)
    val bs = Dedup.shingles(bench, col("doc_id"), col("text"), n = 5)
      .select(col("s")).distinct()
    val contaminated = ts.join(bs, Seq("s"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti").select(col("doc_id"))
  }

  // SEMANTIC decontamination: the embedding-space twin of the n-gram
  // rule — train vectors within cosine >= 0.4 of ANY held-out vector
  // are dropped; held-out side broadcast, one corpus scan (BNLJ anti).
  q("q_decontaminate_semantic",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |h AS (SELECT v AS hv FROM e WHERE vec_id % 13 = 0
      |  AND list_dot_product(v, v) > 0),
      |t AS (SELECT vec_id, v FROM e WHERE vec_id % 13 <> 0)
      |SELECT t.vec_id FROM t WHERE NOT EXISTS (
      |  SELECT 1 FROM h WHERE list_dot_product(t.v, t.v) > 0 AND
      |    list_dot_product(t.v, h.hv)
      |      / sqrt(list_dot_product(t.v, t.v) * list_dot_product(h.hv, h.hv))
      |      >= 0.4)""") { (s, dir) =>
    val e = load(s, dir, "embeddings")
    Dedup.decontaminateSemantic(
        e.filter(col("vec_id") % 13 =!= 0),
        e.filter(col("vec_id") % 13 === 0),
        col("vec_id"), col("embedding"), tau = 0.4, dim = 64)
      .select(col("id").as("vec_id"))
  }

  // ~25% hash sample: pure per-row predicate of md5(salt‖id) — same rows
  // on any engine/partitioning. 0.25·2³² = 1073741824.
  q("q_sample_hash",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8)
      |  AS BIGINT) < 1073741824""") { (s, dir) =>
    Sampling.hashSample(load(s, dir, "documents"), col("doc_id"), 0.25, "s1")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  // deterministic train/val/test split by hash-range: fold sizes only
  // (the membership itself is pinned by q_sample_hash's construction)
  q("q_split_fold",
    """WITH h AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) AS h FROM documents)
      |SELECT CASE WHEN h < 3435973836 THEN 'train'
      |            WHEN h < 3865470566 THEN 'val'
      |            ELSE 'test' END AS _fold, count(*) AS n
      |FROM h GROUP BY 1""") { (s, dir) =>
    Sampling.splitByHash(load(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("_fold")).agg(count(lit(1)).as("n"))
  }

  // per-language training mix from a config table (en half, de 30%,
  // zh 10%; other languages dropped); hash salted per stratum
  q("q_sample_stratified",
    """WITH r AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.3), ('zh', 0.1))
      |    t(lang, rate)),
      |d AS (SELECT doc_id, d.lang, rate,
      |  CAST('0x' || substr(md5(d.lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) AS h
      |  FROM documents d JOIN r ON d.lang = r.lang)
      |SELECT lang, count(*) AS n FROM d
      |WHERE h < CAST(floor(rate * 4294967296.0) AS BIGINT) GROUP BY 1""") { (s, dir) =>
    val rates = s.createDataFrame(Seq(("en", 0.5), ("de", 0.3), ("zh", 0.1)))
      .toDF("lang", "rate")
    Sampling.stratifiedSample(load(s, dir, "documents"), col("lang"),
        col("doc_id"), rates)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
  }

  // exactly-100 deterministic sample: smallest md5(id) order — plans as
  // TakeOrderedAndProject (per-partition top-n, no global sort)
  q("q_sample_exact",
    """SELECT doc_id FROM documents
      |ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100""") { (s, dir) =>
    Sampling.sampleExact(load(s, dir, "documents"), col("doc_id"), 100)
      .select(col("doc_id"))
  }

  // Exactly-n PER STRATUM (balanced-mix construction: equal counts per
  // language no matter how skewed the corpus; WindowGroupLimit keeps
  // per-partition state at n rows per stratum, never a stratum sort)
  q("q_sample_stratified_exact",
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t WHERE rn <= 25""") { (s, dir) =>
    Sampling.sampleExactPerStratum(load(s, dir, "documents"),
        col("lang"), col("doc_id"), n = 25)
      .select(col("doc_id"), col("lang"))
  }

  // Weighted sample without replacement (Efraimidis–Spirakis): 200 docs
  // ∝ n_chars — deterministic uniforms from the md5-u32 recipe, key
  // −ln(u)/w, smallest-n win; plans as TakeOrderedAndProject
  q("q_sample_weighted",
    """SELECT doc_id, lang, n_chars FROM documents
      |ORDER BY -ln((CAST('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) + 0.5) / 4294967296.0) / n_chars, doc_id
      |LIMIT 200""") { (s, dir) =>
    Sampling.sampleWeighted(load(s, dir, "documents"), col("doc_id"),
        col("n_chars"), n = 200, salt = "w1")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  // Temperature-based domain reweighting (the LLM-mix knob): kept mix's
  // lang shares follow p^alpha, rates anchored at the rarest lang —
  // r_d = (n_d/n_min)^(alpha-1), keep decided by the md5-u32 predicate.
  // alpha = 0.5 so the exponent (-0.5) is an exact binary fraction both
  // engines parse identically (the DECIMAL-literal trap).
  q("q_sample_temperature",
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |m AS (SELECT min(n) AS nmin FROM c),
      |r AS (SELECT lang, pow(CAST(n AS DOUBLE) / nmin, -0.5) AS rate
      |  FROM c CROSS JOIN m)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE CAST('0x' || substr(md5('tm1' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) < rate * 4294967296.0""") { (s, dir) =>
    Sampling.temperatureMix(load(s, dir, "documents"), col("lang"),
        col("doc_id"), alpha = 0.5, salt = "tm1")
      .select(col("doc_id"), col("lang"))
  }

  // Deterministic sequence packing (training-batch construction: whole
  // documents concatenated into fixed token-budget sequences so short
  // docs don't waste context as padding): md5-bucketed packing streams,
  // exclusive prefix-sum pack rule within each bucket — one shuffle +
  // one in-bucket window, replayed bit-for-bit in DuckDB.
  q("q_sample_pack",
    """WITH d AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
      |    AS bucket,
      |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |p AS (SELECT doc_id, n_tokens, bucket, h,
      |  coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM d),
      |k AS (SELECT doc_id, n_tokens, bucket,
      |  CAST(floor(pfx / 512.0) AS BIGINT) AS pack, h FROM p)
      |SELECT doc_id, n_tokens, bucket, pack,
      |  row_number() OVER (PARTITION BY bucket, pack ORDER BY h, doc_id)
      |    AS pack_pos
      |FROM k""") { (s, dir) =>
    val d = load(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
    Sampling.packSequences(d, col("doc_id"), col("n_tokens"),
        budget = 512, buckets = 8)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
        col("pack_pos"))
  }

  // Trained char-trigram Naive-Bayes language ID (fit on the corpus's
  // own lang labels, predict the same corpus): add-k log-likelihoods
  // over the bounded char-3-gram vocabulary, exact-decimal score sums
  // (the bigram-LM recipe), argmax with lexicographic lang tie-break.
  // The oracle replays fit AND predict.
  q("q_langid_trained",
    """WITH cg AS (SELECT doc_id, lang,
      |  unnest(list_transform(range(1, length(text) - 1),
      |    i -> text[i : i + 2])) AS g
      |  FROM documents WHERE length(text) >= 3),
      |cnt AS (SELECT lang, g, count(*) AS c FROM cg GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c) AS tl FROM cnt GROUP BY 1),
      |voc AS (SELECT DISTINCT g FROM cnt),
      |v AS (SELECT count(*) AS v FROM voc),
      |pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      |nall AS (SELECT count(*) AS ndall FROM documents),
      |lmeta AS (SELECT p.lang, ln(CAST(p.nd AS DOUBLE) / nall.ndall) AS prior,
      |  ln(0.5 / (tot.tl + 0.5 * v.v)) AS unseen
      |  FROM pri p JOIN tot USING (lang) CROSS JOIN nall CROSS JOIN v),
      |dense AS (SELECT t.lang, voc.g,
      |  ln((coalesce(c.c, 0) + 0.5) / (t.tl + 0.5 * v.v)) AS lp
      |  FROM voc CROSS JOIN tot t CROSS JOIN v
      |  LEFT JOIN cnt c ON c.lang = t.lang AND c.g = voc.g),
      |dg AS (SELECT doc_id, g, count(*) AS cnt FROM cg GROUP BY 1, 2),
      |ng AS (SELECT doc_id, sum(cnt) AS ng FROM dg GROUP BY 1),
      |s1 AS (SELECT dg.doc_id, dense.lang,
      |  CAST(sum(CAST(dg.cnt * dense.lp AS DECIMAL(24,6))) AS DOUBLE) AS s,
      |  sum(dg.cnt) AS seen
      |  FROM dg JOIN dense USING (g) GROUP BY 1, 2),
      |sc AS (SELECT ng.doc_id, lmeta.lang,
      |  lmeta.prior + coalesce(s1.s, 0.0)
      |    + (ng.ng - coalesce(s1.seen, 0)) * lmeta.unseen AS score
      |  FROM ng CROSS JOIN lmeta
      |  LEFT JOIN s1 ON s1.doc_id = ng.doc_id AND s1.lang = lmeta.lang)
      |SELECT doc_id, lang, round(score + 1e-9, 4) AS score
      |FROM sc QUALIFY row_number() OVER (PARTITION BY doc_id
      |  ORDER BY score DESC, lang ASC) = 1""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val model = graft.operators.LangId.fit(docs, col("text"), col("lang"),
      n = 3, k = 0.5)
    graft.operators.LangId.predict(docs, col("doc_id"), col("text"), model,
        n = 3)
      .select(col("id").as("doc_id"), col("lang"), r4e(col("score")).as("score"))
  }

  // THE MODEL-DRIVEN PIPELINE: both pretrain gate stages decided by
  // TRAINED models — char-trigram NB language-ID (fit on the corpus's
  // own labels) and a logreg quality classifier DISTILLED from the
  // stopword heuristic (label = heuristic >= 0.5, the CCNet
  // wiki-vs-crawl recipe), both fit on the full table, SAVED, and the
  // chain run from the persisted artifacts
  // (Pipelines.pretrainCorpusModelFrom): langid-keep 'en' → quality
  // score >= 0.52 → exact dedup → 5-gram decontamination → hash sample
  // → packing. The oracle replays EVERYTHING — both fits (2 unrolled
  // gradient rounds), both predicts, and the chain tail — bit-for-bit
  // (decimal-sum langid scores, integer-quantized logreg margins).
  // lr = 0.1 is not an exact binary fraction, so the oracle casts it
  // to DOUBLE (the CLAUDE.md decimal-literal rule); τ = 0.52 likewise.
  q("q_pretrain_model",
    """WITH lab AS (SELECT doc_id, text,
      |  CASE WHEN (least(length(text) / 500.0, 1.0) +
      |    least((len(list_filter(string_split(text,' '), w -> w IN ('the', 'a'))) * 1.0
      |      / len(string_split(text,' '))) * 5.0, 1.0) +
      |    len(list_distinct(string_split(text,' '))) * 1.0
      |      / len(string_split(text,' '))) / 3.0 >= 0.5 THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |f AS (SELECT doc_id, y,
      |  list_concat([CAST(1 AS BIGINT)],
      |    list_transform(range(16), dd -> CAST(list_sum(list_transform(
      |      string_split(text, ' '), t ->
      |      CASE WHEN CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) % 16 = dd
      |      THEN CASE WHEN CAST('0x' || substr(md5(t), 5, 1) AS BIGINT) % 2 = 0
      |           THEN 1 ELSE -1 END
      |      ELSE 0 END)) AS BIGINT))) AS xa
      |  FROM lab),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
      |w0 AS (SELECT i AS d, CAST(0 AS BIGINT) AS wq FROM unnest(range(17)) AS u(i)),
      |z1 AS (SELECT f.doc_id, f.y, f.xa, sum(w.wq * f.xa[w.d + 1]) AS zq
      |  FROM f CROSS JOIN w0 w GROUP BY 1, 2, 3),
      |e1 AS (SELECT doc_id, y, xa,
      |  CAST(floor((least(greatest(
      |    0.5 + CAST(zq AS DOUBLE) / 1073741824.0 / 4.0, 0.0), 1.0) - y)
      |    * 1073741824.0 + 0.5) AS BIGINT) AS eq FROM z1),
      |g1 AS (SELECT t.i AS d, sum(e.eq * e.xa[t.i + 1]) AS gq
      |  FROM e1 e, unnest(range(17)) AS t(i)
      |  WHERE e.xa[t.i + 1] <> 0 GROUP BY 1),
      |w1 AS (SELECT w.d,
      |  w.wq - CAST(floor(CAST(coalesce(g.gq, 0) AS DOUBLE) * (0.1::DOUBLE)
      |    / n.n + 0.5) AS BIGINT) AS wq
      |  FROM w0 w CROSS JOIN n LEFT JOIN g1 g ON g.d = w.d),
      |z2 AS (SELECT f.doc_id, f.y, f.xa, sum(w.wq * f.xa[w.d + 1]) AS zq
      |  FROM f CROSS JOIN w1 w GROUP BY 1, 2, 3),
      |e2 AS (SELECT doc_id, y, xa,
      |  CAST(floor((least(greatest(
      |    0.5 + CAST(zq AS DOUBLE) / 1073741824.0 / 4.0, 0.0), 1.0) - y)
      |    * 1073741824.0 + 0.5) AS BIGINT) AS eq FROM z2),
      |g2 AS (SELECT t.i AS d, sum(e.eq * e.xa[t.i + 1]) AS gq
      |  FROM e2 e, unnest(range(17)) AS t(i)
      |  WHERE e.xa[t.i + 1] <> 0 GROUP BY 1),
      |w2 AS (SELECT w.d,
      |  w.wq - CAST(floor(CAST(coalesce(g.gq, 0) AS DOUBLE) * (0.1::DOUBLE)
      |    / n.n + 0.5) AS BIGINT) AS wq
      |  FROM w1 w CROSS JOIN n LEFT JOIN g2 g ON g.d = w.d),
      |zf AS (SELECT f.doc_id, sum(w.wq * f.xa[w.d + 1]) AS zq
      |  FROM f CROSS JOIN w2 w GROUP BY 1),
      |cg AS (SELECT doc_id, lang,
      |  unnest(list_transform(range(1, length(text) - 1),
      |    i -> text[i : i + 2])) AS g
      |  FROM documents WHERE length(text) >= 3),
      |cnt AS (SELECT lang, g, count(*) AS c FROM cg GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c) AS tl FROM cnt GROUP BY 1),
      |voc AS (SELECT DISTINCT g FROM cnt),
      |v AS (SELECT count(*) AS v FROM voc),
      |pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      |nall AS (SELECT count(*) AS ndall FROM documents),
      |lmeta AS (SELECT p.lang, ln(CAST(p.nd AS DOUBLE) / nall.ndall) AS prior,
      |  ln(0.5 / (tot.tl + 0.5 * v.v)) AS unseen
      |  FROM pri p JOIN tot USING (lang) CROSS JOIN nall CROSS JOIN v),
      |dense AS (SELECT t.lang, voc.g,
      |  ln((coalesce(c.c, 0) + 0.5) / (t.tl + 0.5 * v.v)) AS lp
      |  FROM voc CROSS JOIN tot t CROSS JOIN v
      |  LEFT JOIN cnt c ON c.lang = t.lang AND c.g = voc.g),
      |dg AS (SELECT doc_id, g, count(*) AS cnt FROM cg
      |  WHERE doc_id % 17 <> 0 GROUP BY 1, 2),
      |ngr AS (SELECT doc_id, sum(cnt) AS ng FROM dg GROUP BY 1),
      |s1 AS (SELECT dg.doc_id, dense.lang,
      |  CAST(sum(CAST(dg.cnt * dense.lp AS DECIMAL(24,6))) AS DOUBLE) AS s,
      |  sum(dg.cnt) AS seen
      |  FROM dg JOIN dense USING (g) GROUP BY 1, 2),
      |scl AS (SELECT ngr.doc_id, lmeta.lang,
      |  lmeta.prior + coalesce(s1.s, 0.0)
      |    + (ngr.ng - coalesce(s1.seen, 0)) * lmeta.unseen AS score
      |  FROM ngr CROSS JOIN lmeta
      |  LEFT JOIN s1 ON s1.doc_id = ngr.doc_id AND s1.lang = lmeta.lang),
      |pred AS (SELECT doc_id FROM scl QUALIFY row_number() OVER
      |  (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
      |  AND lang = 'en'),
      |sc AS (SELECT z.doc_id, least(greatest(
      |  0.5 + CAST(z.zq AS DOUBLE) / 1073741824.0 / 4.0, 0.0), 1.0) AS score
      |  FROM zf z JOIN pred USING (doc_id)),
      |qk AS (SELECT d.doc_id, d.text FROM documents d
      |  JOIN sc ON sc.doc_id = d.doc_id
      |  WHERE sc.score >= (0.52::DOUBLE)),
      |ddp AS (SELECT doc_id, text FROM qk
      |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |dw AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM ddp),
      |st AS (SELECT DISTINCT doc_id,
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM dw, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |be AS (SELECT string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id % 17 = 0),
      |sb AS (SELECT DISTINCT
      |  ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2] || ' ' || ws[j+3]
      |    || ' ' || ws[j+4] AS s
      |  FROM be, UNNEST(range(1, len(ws) - 3)) AS t(j)),
      |bad AS (SELECT DISTINCT doc_id FROM st JOIN sb USING (s)),
      |samp AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM dw
      |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      |  AND CAST('0x' || substr(md5('ptm' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) < 2576980377),
      |d2 AS (SELECT doc_id, n_tokens,
      |  CAST('0x' || substr(md5('ptm' || CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) % 4 AS bucket,
      |  md5('ptm' || CAST(doc_id AS VARCHAR)) AS h FROM samp),
      |p AS (SELECT doc_id, n_tokens, bucket, h,
      |  coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM d2),
      |k AS (SELECT doc_id, n_tokens, bucket,
      |  CAST(floor(pfx / 256.0) AS BIGINT) AS pack, h FROM p)
      |SELECT doc_id, n_tokens, bucket, pack,
      |  row_number() OVER (PARTITION BY bucket, pack ORDER BY h, doc_id)
      |    AS pack_pos
      |FROM k""") { (s, dir) =>
    val docs = load(s, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("pretrain_model")
      .toString
    val langModel = graft.operators.LangId.fit(docs, col("text"),
      col("lang"), n = 3, k = 0.5)
    graft.operators.LangId.save(langModel, 3, s"$tmp/langid")
    val qModel = graft.operators.Classify.logregFit(docs, col("doc_id"),
      col("text"),
      (TextOps.qualityScore(col("text"), Seq("the", "a")) >= 0.5).cast("int"),
      dim = 16, rounds = 2, lr = 0.1)
    graft.operators.Classify.logregSave(qModel, s"$tmp/quality")
    graft.operators.Pipelines.pretrainCorpusModelFrom(s,
        s"$tmp/langid", keepLang = "en", s"$tmp/quality", minScore = 0.52,
        docs.filter(col("doc_id") % 17 =!= 0), col("doc_id"), col("text"),
        blocklist = Nil, boilerplate = None, nearDup = None,
        heldout = docs.filter(col("doc_id") % 17 === 0),
        heldoutText = col("text"), ngram = 5,
        sampleRate = 0.6, salt = "ptm", packBudget = 256, packBuckets = 4)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack"),
        col("pack_pos"))
  }

  // Deterministic BPE merge learning (Sennrich 2016) — 4 rounds over the
  // documents corpus. The oracle replays the ENTIRE training run: the
  // corpus collapses to a word-frequency vocab, then each round counts
  // adjacent symbol pairs (weighted by word freq), picks max-count with
  // (pair) lexicographic tie-break, and applies the merge as the same
  // greedy left-to-right literal replace (joint doubling — see
  // operators/Bpe.scala scaladoc) Spark runs.
  private val bpeOracleVocab =
    """w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
      |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY 1),
      |v0 AS (SELECT word, freq, CASE WHEN length(word) = 0 THEN '</w>'
      |  ELSE array_to_string(list_transform(range(1, length(word) + 1),
      |    i -> word[i]), ' ') || ' </w>' END AS s FROM w)""".stripMargin
  private def bpeOracleRound(r: Int): String = {
    val (p, n) = (s"v${r - 1}", s"v$r")
    s"""p$r AS (SELECT ws[i] || ' ' || ws[i+1] AS pair,
       |  CAST(sum(freq) AS BIGINT) AS cnt FROM
       |  (SELECT freq, string_split(s, ' ') AS ws FROM $p),
       |  unnest(range(1, len(ws))) AS t(i)
       |  GROUP BY 1 HAVING sum(freq) >= 2),
       |m$r AS (SELECT split_part(pair, ' ', 1) AS a,
       |  split_part(pair, ' ', 2) AS b, cnt FROM p$r
       |  ORDER BY cnt DESC, pair ASC LIMIT 1),
       |$n AS (SELECT word, freq, trim(replace(replace(
       |  ' ' || replace(s, ' ', '  ') || ' ',
       |  ' ' || m.a || '  ' || m.b || ' ', ' ' || m.a || m.b || ' '),
       |  '  ', ' ')) AS s FROM $p CROSS JOIN m$r m)""".stripMargin
  }

  q("q_bpe",
    s"""WITH $bpeOracleVocab,
       |${(1 to 4).map(bpeOracleRound).mkString(",\n")}
       |SELECT * FROM (
       |  SELECT 0 AS rank, a AS first, b AS second, a || b AS merged,
       |    cnt AS pair_count FROM m1
       |  UNION ALL SELECT 1, a, b, a || b, cnt FROM m2
       |  UNION ALL SELECT 2, a, b, a || b, cnt FROM m3
       |  UNION ALL SELECT 3, a, b, a || b, cnt FROM m4)""".stripMargin) {
    (s, dir) =>
      graft.operators.Bpe.learnMerges(load(s, dir, "documents"),
        col("text"), rounds = 4)
  }

  // BPE segmentation of the 20 most frequent corpus words under the
  // 4-round merge list (deterministic top-20: freq desc, word asc)
  q("q_bpe_segment",
    s"""WITH $bpeOracleVocab,
       |${(1 to 4).map(bpeOracleRound).mkString(",\n")}
       |SELECT word, s AS seg FROM v4
       |ORDER BY freq DESC, word ASC LIMIT 20""".stripMargin) { (s, dir) =>
    val docs = load(s, dir, "documents")
    val merges = graft.operators.Bpe.learnMerges(docs, col("text"), rounds = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val top = graft.operators.Bpe.wordFreqs(docs, col("text"))
      .orderBy(col("freq").desc, col("word").asc).limit(20)
    graft.operators.Bpe.segment(top, lit(0L), col("word"), merges)
      .select(col("word"), concat_ws(" ", col("pieces")).as("seg"))
  }

  // BATCHED BPE learning (the scale trainer: job count ~ merges /
  // maxPerRound, not merges): each round ranks pairs once by
  // (cnt desc, pair asc), over-fetches 4·maxPerRound, and greedily keeps
  // up to maxPerRound SYMBOL-DISJOINT pairs (a kept pair shares no
  // symbol with an earlier keep or its merged form — which makes every
  // keep's count exactly what the sequential trainer would have seen).
  // The oracle replays the full batched rule: rank → pick 1 → pick the
  // lowest-ranked disjoint survivor → apply both merges in pick order.
  private def bpeBatchedRound(r: Int): String = {
    val (p, n) = (s"v${r - 1}", s"v$r")
    s"""p$r AS (SELECT ws[i] || ' ' || ws[i+1] AS pair,
       |  CAST(sum(freq) AS BIGINT) AS cnt FROM
       |  (SELECT freq, string_split(s, ' ') AS ws FROM $p),
       |  unnest(range(1, len(ws))) AS t(i)
       |  GROUP BY 1 HAVING sum(freq) >= 2),
       |pr$r AS (SELECT split_part(pair, ' ', 1) AS a,
       |  split_part(pair, ' ', 2) AS b, cnt,
       |  row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn
       |  FROM p$r QUALIFY rn <= 8),
       |ma$r AS (SELECT a, b, cnt FROM pr$r WHERE rn = 1),
       |mb$r AS (SELECT min_by(p.a, p.rn) AS a, min_by(p.b, p.rn) AS b,
       |  min_by(p.cnt, p.rn) AS cnt FROM pr$r p, ma$r m
       |  WHERE p.rn > 1
       |  AND p.a <> m.a AND p.a <> m.b AND p.a <> m.a || m.b
       |  AND p.b <> m.a AND p.b <> m.b AND p.b <> m.a || m.b
       |  AND p.a || p.b <> m.a AND p.a || p.b <> m.b
       |  AND p.a || p.b <> m.a || m.b),
       |$n AS (SELECT word, freq, CASE WHEN mb.a IS NULL THEN s1.t ELSE
       |  trim(replace(replace(
       |  ' ' || replace(s1.t, ' ', '  ') || ' ',
       |  ' ' || mb.a || '  ' || mb.b || ' ', ' ' || mb.a || mb.b || ' '),
       |  '  ', ' ')) END AS s
       |  FROM (SELECT word, freq, trim(replace(replace(
       |    ' ' || replace(s, ' ', '  ') || ' ',
       |    ' ' || ma.a || '  ' || ma.b || ' ', ' ' || ma.a || ma.b || ' '),
       |    '  ', ' ')) AS t FROM $p CROSS JOIN ma$r ma) s1
       |  CROSS JOIN mb$r mb)""".stripMargin
  }

  q("q_bpe_batched",
    s"""WITH $bpeOracleVocab,
       |${(1 to 2).map(bpeBatchedRound).mkString(",\n")}
       |SELECT CAST(row_number() OVER (ORDER BY rnd, pos) - 1 AS INT)
       |  AS rank, a AS first, b AS second, a || b AS merged,
       |  cnt AS pair_count
       |FROM (
       |  SELECT 1 AS rnd, 0 AS pos, a, b, cnt FROM ma1
       |  UNION ALL SELECT 1, 1, a, b, cnt FROM mb1 WHERE a IS NOT NULL
       |  UNION ALL SELECT 2, 0, a, b, cnt FROM ma2
       |  UNION ALL SELECT 2, 1, a, b, cnt FROM mb2 WHERE a IS NOT NULL)
       |-- mb is min_by over the disjoint survivors: an empty round keeps
       |-- the vocab (identity CASE) and contributes no merge row, so a
       |-- no-survivor round degrades to a 1-merge batch like learnMerges
       |-- (the unroll still assumes the FILL pattern matches — it does on
       |-- this corpus; general batched semantics are BpeSpec's business)
       |""".stripMargin) {
    (s, dir) =>
      graft.operators.Bpe.learnMerges(load(s, dir, "documents"),
        col("text"), rounds = 4, maxPerRound = 2)
  }
}
