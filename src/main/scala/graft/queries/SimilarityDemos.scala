package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.VectorSearch
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** ANN similarity-search demonstrators (SURVEY.md §2B X3) over the
  * harness `embeddings` table. Operators live in
  * [[graft.operators.VectorSearch]]; each demo binds the harness schema
  * (query batch = vec_id < 5) and pins output order for the oracle.
  */
object SimilarityDemos {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  private[queries] val oracleQuantCtes = """
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                 cast(floor(cast(x AS double) * 10000) AS bigint)) AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
               cast(list_sum(list_transform(qv, v -> v * v)) AS bigint) AS nq
        FROM q)"""

  private val x3a = Demo("x3a_topk_cosine", Some(s"""
      $oracleQuantCtes
      SELECT qr.vec_id AS query_id, c.vec_id AS vec_id,
             CASE WHEN qr.nq > 0 AND c.nq > 0 THEN
               cast(cast(list_sum(list_transform(generate_series(1, 64),
                      i -> qr.qv[i] * c.qv[i])) AS bigint) AS double)
                 / (sqrt(cast(qr.nq AS double)) * sqrt(cast(c.nq AS double)))
             END AS cosine
      FROM (SELECT * FROM n WHERE vec_id < 5) qr
      JOIN n c ON c.vec_id != qr.vec_id
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, c.vec_id) <= 10
      ORDER BY query_id ASC NULLS LAST, cosine DESC NULLS LAST,
               vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.topKCosine(
        emb(s, dir), emb(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
      .orderBy(col("query_id").asc_nulls_last, col("cosine").desc_nulls_last,
        col("vec_id").asc_nulls_last))

  private val oracleBucket = """
        list_reduce(
          list_prepend(cast(0 AS bigint),
            list_transform(generate_series(0, 7), i ->
              CASE WHEN cast(list_sum(list_transform(generate_series(1, 64), d ->
                     qv[d] * ((cast(i*64 + d - 1 AS bigint) * 2654435761) % 2147483648
                              - 1073741824))) AS bigint) >= 0
                   THEN cast(1 AS bigint) ELSE cast(0 AS bigint) END)),
          (acc, b) -> acc * 2 + b)"""

  private val x3b = Demo("x3b_lsh_bucket_ann", Some(s"""
      $oracleQuantCtes,
      bk AS (
        SELECT vec_id, qv, nq, $oracleBucket AS bucket
        FROM n)
      SELECT qr.vec_id AS query_id, c.vec_id AS vec_id,
             CASE WHEN qr.nq > 0 AND c.nq > 0 THEN
               cast(cast(list_sum(list_transform(generate_series(1, 64),
                      i -> qr.qv[i] * c.qv[i])) AS bigint) AS double)
                 / (sqrt(cast(qr.nq AS double)) * sqrt(cast(c.nq AS double)))
             END AS cosine
      FROM (SELECT * FROM bk WHERE vec_id < 5) qr
      JOIN bk c ON c.bucket = qr.bucket AND c.vec_id != qr.vec_id
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, c.vec_id) <= 10
      ORDER BY query_id ASC NULLS LAST, cosine DESC NULLS LAST,
               vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.bucketedAnn(
        emb(s, dir), emb(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
      .orderBy(col("query_id").asc_nulls_last, col("cosine").desc_nulls_last,
        col("vec_id").asc_nulls_last))

  /** One DuckDB nearest-cell assignment against centroid CTE `src`:
    * row-number vectors by the same distance term the Spark side computes
    * (||mean||² − 2·(x·sums)/cnt, exact ints rounded once to double).
    */
  private def oracleAssign(src: String, keep: String, probeFilter: String = ""): String = s"""
        SELECT vec_id, qv, nq, cid FROM (
          SELECT n.vec_id, n.qv, n.nq, i.cid,
                 row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   cast(list_sum(list_transform(i.sums, s -> s * s)) AS double)
                     / (i.cnt * i.cnt)
                   - 2.0 * cast(list_sum(list_transform(generate_series(1, 64),
                       d -> n.qv[d] * i.sums[d])) AS bigint) / i.cnt ASC,
                   i.cid ASC) AS rn
          FROM n CROSS JOIN $src i$probeFilter)
        WHERE $keep"""

  /** One DuckDB centroid-update step from assignment CTE `src`: exact
    * per-dimension integer sums + member counts.
    */
  private def oracleCentroidUpdate(src: String): String = s"""
        SELECT sv.cid, list(cast(sv.s AS bigint) ORDER BY sv.d) AS sums, m.cnt
        FROM (SELECT cid, d, sum(qv[d]) AS s
              FROM $src CROSS JOIN generate_series(1, 64) AS g(d)
              GROUP BY cid, d) sv
        JOIN (SELECT cid, count(*) AS cnt FROM $src GROUP BY cid) m USING (cid)
        GROUP BY sv.cid, m.cnt"""

  // X3c: IVF ANN — deterministic k-means coarse quantizer (4 cells, 2
  // Lloyd iterations, init = 4 lowest ids), corpus in nearest cell,
  // probes in 2 nearest cells, exact in-cell rerank. The oracle replays
  // the ENTIRE training loop unrolled in SQL — every centroid state is
  // exact integer (sums, cnt), so both engines compute bit-identical
  // assignment terms.
  private val x3c = Demo("x3c_ivf_ann", Some(s"""
      $oracleQuantCtes,
      init AS (
        SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cid,
               qv AS sums, cast(1 AS bigint) AS cnt
        FROM n ORDER BY vec_id LIMIT 4),
      a1 AS (${oracleAssign("init", "rn = 1")}),
      c1 AS (${oracleCentroidUpdate("a1")}),
      a2 AS (${oracleAssign("c1", "rn = 1")}),
      c2 AS (${oracleCentroidUpdate("a2")}),
      cellc AS (${oracleAssign("c2", "rn = 1")}),
      cellq AS (${oracleAssign("c2", "rn <= 2", " WHERE n.vec_id < 5")})
      SELECT qr.vec_id AS query_id, c.vec_id AS vec_id,
             CASE WHEN qr.nq > 0 AND c.nq > 0 THEN
               cast(cast(list_sum(list_transform(generate_series(1, 64),
                      i -> qr.qv[i] * c.qv[i])) AS bigint) AS double)
                 / (sqrt(cast(qr.nq AS double)) * sqrt(cast(c.nq AS double)))
             END AS cosine
      FROM cellq qr
      JOIN cellc c ON c.cid = qr.cid AND c.vec_id != qr.vec_id
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, c.vec_id) <= 10
      ORDER BY query_id ASC NULLS LAST, cosine DESC NULLS LAST,
               vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.ivfSearch(
        emb(s, dir), emb(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, kCells = 4, iters = 2, nProbe = 2)
      .orderBy(col("query_id").asc_nulls_last, col("cosine").desc_nulls_last,
        col("vec_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X3d: VECTOR PREPROCESSING — unit normalization + symmetric int8
  // quantization per dimension, the storage/compute format downstream
  // ANN and distance kernels consume. Exactness per the library scaladoc
  // (integer components, correctly-rounded sqrt/division, tie-safe
  // 0-decimal rounding).
  // -------------------------------------------------------------------
  private val x3d = Demo("x3d_normalize_quantize", Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                 cast(floor(cast(x AS double) * 10000) AS bigint)) AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
               cast(list_sum(list_transform(qv, v -> v * v)) AS bigint) AS nq
        FROM q),
      e0 AS (
        SELECT vec_id, nq, qv, unnest(generate_series(1, 64)) AS i FROM n),
      e AS (
        SELECT vec_id, nq, i - 1 AS dim, qv[i] AS qe FROM e0),
      m AS (SELECT vec_id, max(abs(qe)) AS max_abs FROM e GROUP BY 1)
      SELECT e.vec_id, e.dim,
             CASE WHEN e.nq > 0
               THEN cast(e.qe AS double) / sqrt(cast(e.nq AS double)) END AS unit,
             CASE WHEN m.max_abs > 0
               THEN cast(round(cast(e.qe AS double) * 127.0e0
                              / cast(m.max_abs AS double)) AS int)
               ELSE 0 END AS q_int8
      FROM e JOIN m USING (vec_id)
      ORDER BY vec_id ASC NULLS LAST, dim ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.normalizeQuantize(emb(s, dir), "vec_id", "embedding")
      .orderBy(col("vec_id").asc_nulls_last, col("dim").asc_nulls_last))

  // -------------------------------------------------------------------
  // X31: SEMDEDUP — semantic dedup (VectorSearch.semDeDup): k-means
  // cluster the embeddings (4 cells, 2 Lloyd rounds, init = 4 lowest
  // ids — the exact x3c quantizer), then inside each cluster drop any
  // vector whose cosine to a lower-id member is >= 0.35 (threshold
  // chosen to split the harness data: max pairwise cosine ~0.51, p99.9
  // ~0.38, so both outcomes occur). The oracle replays the whole
  // training loop unrolled (same CTEs as x3c) plus the in-cluster
  // pairwise prune — every cosine is exact-int dot + correctly-rounded
  // IEEE sqrt/div, so the 0.35 comparison is bit-identical.
  // -------------------------------------------------------------------
  private val x31 = Demo("x31_semdedup", Some(s"""
      $oracleQuantCtes,
      init AS (
        SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cid,
               qv AS sums, cast(1 AS bigint) AS cnt
        FROM n ORDER BY vec_id LIMIT 4),
      a1 AS (${oracleAssign("init", "rn = 1")}),
      c1 AS (${oracleCentroidUpdate("a1")}),
      a2 AS (${oracleAssign("c1", "rn = 1")}),
      c2 AS (${oracleCentroidUpdate("a2")}),
      asg AS (${oracleAssign("c2", "rn = 1")}),
      dup AS (
        SELECT x.vec_id, min(y.vec_id) AS dup_of
        FROM asg x JOIN asg y ON y.cid = x.cid AND y.vec_id < x.vec_id
        WHERE x.nq > 0 AND y.nq > 0
          AND cast(cast(list_sum(list_transform(generate_series(1, 64),
                d -> x.qv[d] * y.qv[d])) AS bigint) AS double)
              / (sqrt(cast(x.nq AS double)) * sqrt(cast(y.nq AS double))) >= 0.35
        GROUP BY x.vec_id)
      SELECT a.vec_id, a.cid,
             CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS kept, d.dup_of
      FROM asg a LEFT JOIN dup d USING (vec_id)
      ORDER BY vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.semDeDup(emb(s, dir), "vec_id", "embedding",
        kCells = 4, iters = 2, minCosine = 0.35)
      .orderBy(col("vec_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X31b: SEMDEDUP, CONSTANT-CELL-SIZE FACE (VectorSearch.semDeDupAuto)
  // — the production configuration: the cell COUNT
  // derives from the corpus (k = max(4, n / targetCellSize)) so cell
  // SIZE stays constant and the in-cell pairwise verify stays linear as
  // the corpus grows (a fixed k grows it quadratically — 11.2x vs
  // ≤ linear per 10x, BENCHNOTES.md). The oracle computes the SAME k
  // from the SAME corpus count (integer floor division both sides) and
  // drives the x31 unrolled k-means chain with it — the checked path IS
  // the measured path (the x2b2 playbook; r8 verdict item 1: the auto
  // face was measured but no green row exercised it). targetCellSize =
  // 50 makes k = 10 at the verify SF (500 vectors) — the auto sizing
  // demonstrably fires past the k = 4 floor — and k = 40 at sf0.1.
  // -------------------------------------------------------------------
  private val autoCellSize = 50

  private val x31b = Demo("x31b_semdedup_auto", Some(s"""
      $oracleQuantCtes,
      kk AS (SELECT greatest(4, count(*) // $autoCellSize) AS k
             FROM embeddings),
      init AS (
        SELECT cid, sums, cnt FROM (
          SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cid,
                 qv AS sums, cast(1 AS bigint) AS cnt
          FROM n)
        WHERE cid < (SELECT k FROM kk)),
      a1 AS (${oracleAssign("init", "rn = 1")}),
      c1 AS (${oracleCentroidUpdate("a1")}),
      a2 AS (${oracleAssign("c1", "rn = 1")}),
      c2 AS (${oracleCentroidUpdate("a2")}),
      asg AS (${oracleAssign("c2", "rn = 1")}),
      dup AS (
        SELECT x.vec_id, min(y.vec_id) AS dup_of
        FROM asg x JOIN asg y ON y.cid = x.cid AND y.vec_id < x.vec_id
        WHERE x.nq > 0 AND y.nq > 0
          AND cast(cast(list_sum(list_transform(generate_series(1, 64),
                d -> x.qv[d] * y.qv[d])) AS bigint) AS double)
              / (sqrt(cast(x.nq AS double)) * sqrt(cast(y.nq AS double))) >= 0.35
        GROUP BY x.vec_id)
      SELECT a.vec_id, a.cid,
             CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS kept, d.dup_of
      FROM asg a LEFT JOIN dup d USING (vec_id)
      ORDER BY vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.semDeDupAuto(emb(s, dir), "vec_id", "embedding",
        iters = 2, minCosine = 0.35, targetCellSize = autoCellSize)
      .orderBy(col("vec_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X37: SIGNED RANDOM PROJECTION (VectorSearch.signedRandomProjection) —
  // Johnson–Lindenstrauss dim reduction 64 → 16 under deterministic
  // ±1 hyperplanes (Knuth-hash parity seeded by (out-dim, in-dim)).
  // Exact bigint multiply-adds on the quantized vectors, so the oracle
  // replays the projection bit-identically; output exploded to
  // (vec_id, dim, proj) scalar rows.
  // -------------------------------------------------------------------
  private val srpDims = 16

  private val x37 = Demo("x37_random_projection", Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                 cast(floor(cast(x AS double) * 10000) AS bigint)) AS qv
        FROM embeddings),
      p AS (SELECT vec_id, qv, unnest(generate_series(0, ${srpDims - 1})) AS j
            FROM q)
      SELECT vec_id, j AS dim,
             cast(list_sum(list_transform(generate_series(1, 64), d ->
               qv[d] * (CASE WHEN ((j*64 + d - 1) * 2654435761)
                               % 2147483648 >= 1073741824
                        THEN 1 ELSE -1 END))) AS bigint) AS proj
      FROM p
      ORDER BY vec_id ASC NULLS LAST, dim ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.signedRandomProjection(emb(s, dir), "vec_id",
        "embedding", outDims = srpDims)
      .orderBy(col("vec_id").asc_nulls_last, col("dim").asc_nulls_last))

  // -------------------------------------------------------------------
  // X3e: HARD-NEGATIVE MINING (VectorSearch.hardNegatives) — per query,
  // the top-3 most cosine-similar corpus vectors with a DIFFERENT label:
  // the contrastive-training negatives that actually move a retriever.
  // Same exact-integer cosine + deterministic tiebreak as x3a, with the
  // label inequality riding the broadcast join as a residual.
  // -------------------------------------------------------------------
  private val x3e = Demo("x3e_hard_negatives", Some(s"""
      $oracleQuantCtes,
      lab AS (SELECT vec_id, label FROM embeddings),
      nl AS (SELECT n.vec_id, n.qv, n.nq, lab.label
             FROM n JOIN lab USING (vec_id))
      SELECT qr.vec_id AS query_id, c.vec_id AS vec_id, c.label AS label,
             CASE WHEN qr.nq > 0 AND c.nq > 0 THEN
               cast(cast(list_sum(list_transform(generate_series(1, 64),
                      i -> qr.qv[i] * c.qv[i])) AS bigint) AS double)
                 / (sqrt(cast(qr.nq AS double)) * sqrt(cast(c.nq AS double)))
             END AS cosine
      FROM (SELECT * FROM nl WHERE vec_id < 5) qr
      JOIN nl c ON c.label != qr.label
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, c.vec_id) <= 3
      ORDER BY query_id ASC NULLS LAST, cosine DESC NULLS LAST,
               vec_id ASC NULLS LAST"""),
    (s, dir, _) => VectorSearch.hardNegatives(
        emb(s, dir), emb(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", "label", k = 3)
      .orderBy(col("query_id").asc_nulls_last, col("cosine").desc_nulls_last,
        col("vec_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X60: HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION (Retrieval.rrfFuse)
  // — the RAG-ingest shape: a lexical BM25 top-20 (x33's scoring chain,
  // shared oracle CTEs so the legs cannot drift) and a vector cosine
  // top-20 (query = embedding 0; vec_id keys doc_id for the embedded
  // prefix of the corpus) fuse as Σ 1/(60+rank) over the legs where the
  // doc appears, top-10 by consensus. Each RRF term is one exact IEEE
  // division and the legs sum in declared order as one fixed expression
  // tree — scores replay bit-identically in the oracle. Scale: both
  // legs are k-bounded frames, fusion is a k×k outer join, the rank
  // window runs over 10 rows.
  // -------------------------------------------------------------------
  private val x60 = Demo("x60_hybrid_rrf", Some(s"""
      $oracleQuantCtes,
      ${TextDemos.bm25AggCtes},
      lexleg AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC)
                 AS rank_0
        FROM agg ORDER BY score_scaled DESC, doc_id ASC LIMIT 20),
      vecleg AS (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (ORDER BY
                 CASE WHEN qr.nq > 0 AND c.nq > 0 THEN
                   cast(cast(list_sum(list_transform(generate_series(1, 64),
                          i -> qr.qv[i] * c.qv[i])) AS bigint) AS double)
                     / (sqrt(cast(qr.nq AS double)) * sqrt(cast(c.nq AS double)))
                 END DESC, c.vec_id ASC) AS rank_1
        FROM (SELECT * FROM n WHERE vec_id = 0) qr
        JOIN n c ON c.vec_id != qr.vec_id
        ORDER BY rank_1 ASC LIMIT 20),
      fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               coalesce(1.0 / (60 + l.rank_0), 0.0)
                 + coalesce(1.0 / (60 + v.rank_1), 0.0) AS rrf_score,
               l.rank_0 AS rank_0, v.rank_1 AS rank_1
        FROM lexleg l FULL OUTER JOIN vecleg v ON l.doc_id = v.doc_id),
      top AS (SELECT * FROM fused
              ORDER BY rrf_score DESC, doc_id ASC LIMIT 10)
      SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
               AS fused_rank,
             doc_id, rrf_score, rank_0, rank_1
      FROM top
      ORDER BY fused_rank ASC NULLS LAST"""),
    (s, dir, _) => {
      val docs = Tables.table(s, dir, "documents")
      val lex = graft.operators.TextAnalysis.bm25TopK(
          docs, "doc_id", "text", TextDemos.bm25Terms, k = 20)
        .select(col("doc_id"), col("rank"))
      val vec = VectorSearch.topKCosine(
          emb(s, dir), emb(s, dir).filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
        // explicit LIMIT cut below the global rank window: the output is
        // already ≤ k rows (one query), but the plan must PROVE the
        // bound for the window-discipline gate — TakeOrdered, then a
        // 20-row rank
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(20)
        .withColumn("rank", row_number().over( // 20 rows only
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cosine").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, vec), "doc_id", "rank",
          kRrf = 60, topK = 10)
        .orderBy(col("fused_rank").asc_nulls_last)
    })

  val all: Seq[Demo] = Seq(x3a, x3b, x3c, x3d, x3e, x31, x31b, x37, x60)
}
