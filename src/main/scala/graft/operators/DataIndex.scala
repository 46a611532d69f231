package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Index/retriever façade (reference: stdlib/indexing/data_index.py:278
  * DataIndex + as_retriever; stdlib/ml/index.py:9 KNNIndex).
  *
  * A retriever answers a *table of queries* with a table of
  * (query, rank, match, score) — retrieval is a join-shaped batch job,
  * not a per-row service call, so it scales like any other join. The
  * concrete strategies are the engines from [[Similarity]] / [[Bm25]];
  * [[HybridRetriever]] fuses any two by reciprocal rank (reference:
  * indexing/hybrid_index.py:14).
  */
trait Retriever {
  /** queries(qid, query) → (qid, rank, id, score), rank 1..k. */
  def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame
}

object DataIndex {

  /** Exact cosine KNN over an embedding column. The dot product is one
    * native expression that sizes itself from the data; `dim` is
    * ignored. */
  def bruteForce(data: DataFrame, id: Column, vec: Column, dim: Int = 0): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Similarity.bruteForceTopK(queries, data, qid, query, id, vec, k, dim)
          .select(col("query_id").as("qid"), col("rank"),
            col("neighbor_id").as("id"), col("cosine").as("score"))
    }

  /** ANN via random-hyperplane LSH buckets (scale path; recall < 1).
    *
    * `planes <= 0` (the default) derives the plane count from the corpus
    * via [[Similarity.planesFor]] — per-bucket candidate work is
    * quadratic in occupancy, so the plane count must GROW with the
    * corpus (log2 of the scale-up), not stay a caller-frozen constant.
    * `targetBucketSize` is the occupancy the derivation aims for. */
  def lsh(data: DataFrame, id: Column, vec: Column, dim: Int,
      planes: Int = 0, targetBucketSize: Long = 256): Retriever =
    new Retriever {
      // geometry derived ONCE per retriever, not per retrieve call — the
      // fallback count() is a full corpus scan, and a retriever is built
      // to be queried many times (ADVICE r9: second scan per query batch)
      private lazy val nPlanes =
        if (planes > 0) planes
        else Similarity.planesFor(data.count(), targetBucketSize)
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
        val d = data.select(id.as("id"), vec.cast("array<double>").as("v"))
          .withColumn("bucket", Similarity.rhpBucket(col("v"), dim, nPlanes))
          .withColumn("n2", Similarity.norm2(col("v")))
        val q = queries.select(qid.as("qid"), query.cast("array<double>").as("qv"))
          .withColumn("bucket", Similarity.rhpBucket(col("qv"), dim, nPlanes))
          .withColumn("qn2", Similarity.norm2(col("qv")))
        val scored = q.join(d, "bucket")
          .select(col("qid"), col("id"),
            Similarity.cosinePrenorm(col("qv"), col("v"),
              col("qn2"), col("n2")).as("score"))
        Similarity.topKPer(scored, "qid", "score", "id", k)
          .select("qid", "rank", "id", "score")
      }
    }

  /** ANN via IVF inverted lists (scale path; nprobe dials recall/cost,
    * nprobe = nlist is exact). `nlist <= 0` (the default) derives the
    * list count as the power of two nearest √corpus
    * ([[Similarity.nlistFor]]) — frozen list counts make candidate work
    * quadratic in corpus growth. */
  def ivf(data: DataFrame, id: Column, vec: Column, nlist: Int = 0,
      nprobe: Int = 4): Retriever =
    new Retriever {
      // derived once, same rationale as lsh's nPlanes memo
      private lazy val lists =
        if (nlist > 0) nlist else Similarity.nlistFor(data.count())
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Similarity.ivfRetrieve(queries, data, qid, query, id, vec,
            lists, nprobe, k)
          .select(col("query_id").as("qid"), col("rank"),
            col("neighbor_id").as("id"), col("cosine").as("score"))
    }

  /** ANN via partitioned HNSW graphs (reference: USearch integration —
    * the reference's remaining index family). efSearch dials recall;
    * efSearch ≥ partition rows (with m to match) is exact. */
  def hnsw(data: DataFrame, id: Column, vec: Column, m: Int = 16,
      efConstruction: Int = 64, efSearch: Int = 64): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Hnsw.topK(queries, data, qid, query, id, vec, k, m, efConstruction, efSearch)
          .select(col("query_id").as("qid"), col("rank"),
            col("neighbor_id").as("id"), col("cosine").as("score"))
    }

  /** Brute-force KNN over int8-quantized vectors — the memory-lever
    * variant of [[bruteForce]] (8× smaller corpus in flight, integer-dot
    * ranking; see [[Similarity.quantizeInt8]]). */
  def quantized(data: DataFrame, id: Column, vec: Column): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Similarity.quantizedTopK(queries, data, qid, query, id, vec, k)
          .select(col("query_id").as("qid"), col("rank"),
            col("neighbor_id").as("id"), col("score"))
    }

  /** Brute-force KNN over 1-bit sign codes — the extreme memory end of
    * the quantization ladder (64× smaller in flight, XOR-popcount
    * ranking; see [[Similarity.binaryTopK]]). `rescore > 0` refines the
    * Hamming shortlist by exact float cosine (score = cosine); without
    * it the integer Hamming distance is emitted negated as the score so
    * "larger = closer" matches every other retriever. `excludeSelf`
    * (default true — the self-ANN convention shared by every retriever
    * here): pass false for disjoint query/corpus id spaces where an
    * accidental id collision is a real neighbor. */
  def binary(data: DataFrame, id: Column, vec: Column,
      rescore: Int = 0, excludeSelf: Boolean = true): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
        val out = Similarity.binaryTopK(queries, data, qid, query, id, vec,
          k, rescore, excludeSelf = excludeSelf)
        val score = if (rescore > 0) col("cosine")
          else -col("hamming").cast("double")
        out.select(col("query_id").as("qid"), col("rank"),
          col("neighbor_id").as("id"), score.as("score"))
      }
    }

  /** ANN via IVF lists with int8-quantized codes inside each list — the
    * FAISS IVF-SQ serving shape ([[Similarity.ivfQuantizedRetrieve]]):
    * coarse prune to `nprobe` lists, integer-dot candidate rank, exact
    * re-score of the top `rescore` when > 0. */
  def ivfQuantized(data: DataFrame, id: Column, vec: Column, nlist: Int = 0,
      nprobe: Int = 4, rescore: Int = 0): Retriever =
    new Retriever {
      private lazy val lists =
        if (nlist > 0) nlist else Similarity.nlistFor(data.count())
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
        val out = Similarity.ivfQuantizedRetrieve(queries, data, qid, query,
          id, vec, lists, nprobe, k, rescore)
        val score = if (rescore > 0) col("cosine") else col("score")
        out.select(col("query_id").as("qid"), col("rank"),
          col("neighbor_id").as("id"), score.as("score"))
      }
    }

  /** Product-quantization retriever ([[Similarity.pqTopK]]) — the
    * memory end-game variant: m one-byte codes per vector + one shared
    * broadcast codebook; `rescore > 0` enables the exact refine stage
    * over the shortlist. ksub defaults to 16 for small corpora —
    * production PQ fixes ksub = 256 (one byte per code). `excludeSelf`
    * (default true, same default as [[ivfPq]] — the two PQ retrievers
    * agree on self-match semantics) drops corpus rows sharing the query
    * id; pass false for disjoint query/corpus id spaces. */
  def pq(data: DataFrame, id: Column, vec: Column, dim: Int,
      m: Int = 8, ksub: Int = 16, rescore: Int = 0,
      excludeSelf: Boolean = true): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
        val out = Similarity.pqTopK(queries, data, qid, query, id, vec,
          m, ksub, k, rescore, dim, excludeSelf)
        val score = if (rescore > 0) col("cosine") else col("score")
        out.select(col("query_id").as("qid"), col("rank"),
          col("neighbor_id").as("id"), score.as("score"))
      }
    }

  /** IVF-PQ retriever ([[Similarity.ivfPqRetrieve]]) — coarse-list
    * prune composed with PQ-code ranking and a mandatory float refine
    * stage: the full FAISS serving shape behind the same façade.
    * `excludeSelf` defaults true, matching [[pq]] (ADVICE r10: the two
    * PQ retrievers previously disagreed on self-match policy). */
  def ivfPq(data: DataFrame, id: Column, vec: Column, dim: Int,
      nlist: Int = 0, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rescore: Int = 8, excludeSelf: Boolean = true): Retriever =
    new Retriever {
      private lazy val lists =
        if (nlist > 0) nlist else Similarity.nlistFor(data.count())
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Similarity.ivfPqRetrieve(queries, data, qid, query, id, vec,
            lists, nprobe, m, ksub, k, rescore, excludeSelf = excludeSelf,
            dim = dim)
          .select(col("query_id").as("qid"), col("rank"),
            col("neighbor_id").as("id"), col("cosine").as("score"))
    }

  /** Full-text BM25 retriever. */
  def bm25(corpus: DataFrame, id: Column, text: Column): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame =
        Bm25.topK(corpus, id, text, queries, qid, query, k)
          .select(col("qid"), col("rank"), col("id"), col("score"))
    }

  /** kNN classification (reference: stdlib/ml/classifiers/_knn_lsh.py:306
    * `knn_lsh_classify` — retrieve the k nearest per query, majority-vote
    * the neighbors' labels; retriever-agnostic the way the reference's
    * `knn_model` argument is a closure over any index). The reference
    * votes with Python's `mode`, whose tie winner is whichever label the
    * unordered neighbor tuple happens to list first; here the tie-break
    * is pinned: highest vote count, then smallest label. Queries that
    * retrieve nothing keep a NULL `predicted_label` (the reference's
    * `knns_empty` update_cells path).
    *
    * Scale shape: one equi-join of the (|queries|·k)-row hit list against
    * the label table on neighbor id, then [[ColUtils.majority]]'s two
    * map-side-combinable aggregates — no window sort, no driver loop. */
  def classify(retriever: Retriever, labels: DataFrame, lid: Column, label: Column,
      queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
    val hits = retriever.retrieve(queries, qid, query, k)
    val lab = labels.select(lid.as("id"), label.as("_label"))
    val voted = ColUtils.majority(hits.join(lab, "id"), col("qid"), col("_label"))
      .select(col("group").as("qid"), col("majority").as("predicted_label"))
    queries.select(qid.as("qid")).distinct()
      .join(voted, Seq("qid"), "left")
  }

  /** Reciprocal-rank fusion of two retrievers (reference HybridIndex). */
  def hybrid(a: Retriever, b: Retriever, k0: Int = 60): Retriever =
    new Retriever {
      def retrieve(queries: DataFrame, qid: Column, query: Column, k: Int): DataFrame = {
        val ra = a.retrieve(queries, qid, query, k)
        val rb = b.retrieve(queries, qid, query, k)
        Similarity.topKPer(Bm25.rrfFuse(k0, ra, rb), "qid", "rrf_score", "id", k)
          .select(col("qid"), col("rank"), col("id"), col("rrf_score").as("score"))
      }
    }
}
