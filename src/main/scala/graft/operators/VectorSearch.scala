package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import graft.functions.{Hashing, VecSumAgg}

/** Similarity search over embedding columns (SURVEY.md §2B X3) — the
  * library API behind the x3 demos. Embeddings quantize to int64
  * (floor(x·10⁴)) so dot products and norms are exact integers (codegen'd
  * dot_long kernel) and cosines are single deterministic IEEE divisions.
  *
  * Scale contract: the query side broadcasts (it is small by construction
  * — a batch of probe vectors); the corpus streams through one scan.
  * Brute force scores every corpus row per query (the exact baseline);
  * the hyperplane-bucket variant prunes the corpus to matching buckets —
  * the shape IVF/LSH vector indexes take at 100 TB.
  */
object VectorSearch {

  /** Embedding dimensionality of the harness tables (TESTDATA.md). */
  val dims = 64

  /** id + int64-quantized vector + exact squared norm. */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    Hashing.registerAll(df.sparkSession)
    df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => floor(x.cast("double") * 10000).cast("long")).as("qv"))
      .select(col("vec_id"), col("qv"),
        call_function("dot_long", col("qv"), col("qv")).as("nq"))
  }

  /** Vector preprocessing for embedding pipelines: per-dimension
    * L2-unit-normalized value and symmetric int8 quantization (the
    * storage format ANN indexes and cheap distance kernels consume).
    * Both outputs are deterministic cross-engine: the unit value is one
    * IEEE division of the exact integer component by the exact integer
    * norm's sqrt (sqrt and division are correctly rounded everywhere);
    * the int8 code rounds `qe·127/max_abs` where 0-decimal rounding of a
    * double cannot diverge between engines (any double whose shortest
    * repr is `k.5` IS exactly k.5, so tie-breaking agrees).
    *
    * Scale: quantize → posexplode (narrow), one window max per vector —
    * a single hash shuffle on vec_id; no driver state. Zero-norm vectors
    * yield NULL units (no direction); all-zero vectors quantize to 0.
    */
  def normalizeQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
    quantize(df, idCol, vecCol)
      .select(col("vec_id"), col("nq"),
        posexplode(col("qv")).as(Seq("dim", "qe")))
      .withColumn("max_abs", max(abs(col("qe"))).over(w))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("nq") > 0,
          col("qe").cast("double") / sqrt(col("nq").cast("double")))
          .otherwise(lit(null)).as("unit"),
        when(col("max_abs") > 0,
          round(col("qe").cast("double") * lit(127.0) /
            col("max_abs").cast("double")).cast("int"))
          .otherwise(lit(0)).as("q_int8"))
  }

  /** Exact cosine from an integer dot and the two squared norms. A
    * zero-norm vector (all components quantize to 0) has no direction:
    * NULL, not an ANSI division-by-zero error.
    */
  private[operators] def cosineOf(dot: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0,
      dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
      .otherwise(lit(null))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"))

  /** Exact top-k cosine neighbors of each query vector (brute force —
    * the baseline every ANN variant is measured against). `queries` and
    * `corpus` carry (idCol, vecCol) and MUST share one id space —
    * self-matches are excluded by id equality, so a query batch is
    * expected to be a (filtered) subset of the corpus. For a probe set
    * from a different table, give it ids outside the corpus range.
    */
  def topKCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = quantize(corpus, idCol, vecCol)
    val q = quantize(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nq").as("q_nq"))
    val scored = broadcast(q)
      .join(c, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineOf(call_function("dot_long", col("q_qv"), col("qv")),
          col("q_nq"), col("nq")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Sign-bucket of a quantized vector under 8 fixed integer hyperplanes
    * (array literals dotted via the codegen'd kernel): h_i[d] =
    * ((i·64+d−1)·2654435761) mod 2³¹ − 2³⁰ — deterministic, no RNG, so
    * the approximation itself is reproducible.
    */
  private val planes: IndexedSeq[Column] = (0 until 8).map { i =>
    typedLit((1 to 64).map(d =>
      ((i * 64L + d - 1) * 2654435761L) % 2147483648L - 1073741824L))
  }

  def bucketOf(qv: Column): Column =
    (0 until 8).map(i =>
      when(call_function("dot_long", qv, planes(i)) >= 0, lit(1L << (7 - i)))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  /** Bucketed ANN: candidates = corpus vectors in the query's hyperplane
    * sign bucket (~1/256 of the corpus per probe); exact rerank within
    * the bucket. The 100 TB path — the corpus scan prunes to matching
    * buckets (partition the stored corpus by bucket for physical pruning).
    * Same id-space contract as [[topKCosine]].
    */
  def bucketedAnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = quantize(corpus, idCol, vecCol).withColumn("bucket", bucketOf(col("qv")))
    val q = quantize(queries, idCol, vecCol).withColumn("bucket", bucketOf(col("qv")))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nq").as("q_nq"), col("bucket").as("q_bucket"))
    val scored = broadcast(q)
      .join(c, col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineOf(call_function("dot_long", col("q_qv"), col("qv")),
          col("q_nq"), col("nq")).as("cosine"))
    rankTopK(scored, k)
  }

  // ---- IVF (k-means coarse quantizer) ---------------------------------

  /** One IVF cell: exact integer state — the mean is `sums/cnt`, kept as
    * the integer pair so no float accumulates across members.
    */
  final case class IvfCentroid(cid: Int, sums: Array[Long], cnt: Long) {
    /** `||mean||²`, computed as the oracle does: exact integer `Σ sums²`
      * (BigInt — squaring a per-dim member sum overflows int64 once a
      * cell holds ~1e5 max-magnitude vectors; DuckDB computes the same
      * in int128) rounded ONCE to double, divided by the exact `cnt²` —
      * identical IEEE ops on every engine.
      */
    def constTerm: Double = {
      var ss = BigInt(0)
      var i = 0
      while (i < sums.length) { ss += BigInt(sums(i)) * BigInt(sums(i)); i += 1 }
      ss.toDouble / (cnt * cnt).toDouble
    }
  }

  /** Per-cell member bound for exact int64 assignment arithmetic: the
    * in-row dot `x·sums` accumulates up to dim·|q|max·(cnt·|q|max) =
    * 64·10⁴·cnt·10⁴, which must stay under 2⁶³ → cnt < ~1.4e9 members
    * per CELL (not per corpus; grow k so cells stay under it).
    */
  val MaxCellMembers: Long = Long.MaxValue / (64L * 10000L * 10000L)

  /** Per-row array of (distance-term, cid) structs for the given
    * centroids: term = ||mean||² − 2·(x·sums)/cnt, the argmin-equivalent
    * of the squared distance (the ||x||² constant cancels). Exact integer
    * dot via the codegen'd kernel; one multiply + one divide in double —
    * deterministic and engine-identical, ties broken by cid via struct
    * ordering.
    */
  private def cellTerms(cs: Seq[IvfCentroid], qv: Column): Column =
    array(cs.map { c =>
      struct(
        (lit(c.constTerm)
          - lit(2.0) * call_function("dot_long", qv, typedLit(c.sums.toSeq))
              .cast("double") / lit(c.cnt.toDouble)).as("term"),
        lit(c.cid).as("cid"))
    }: _*)

  /** Append the `nProbe` nearest cell ids (one output row per cell) to a
    * [[quantize]]d frame. Narrow — centroids ride along as literals, so
    * assignment is a scan-side projection, no join, no shuffle.
    */
  def ivfAssign(quantized: DataFrame, cs: Seq[IvfCentroid], nProbe: Int): DataFrame =
    quantized.withColumn("cid",
      explode(transform(
        slice(array_sort(cellTerms(cs, col("qv"))), 1, nProbe),
        s => s.getField("cid"))))

  /** Deterministic Lloyd's k-means over int64-quantized vectors: init =
    * the `k` lowest-id vectors (no RNG), `iters` rounds of
    * assign-and-resum. Per round: one narrow assignment pass + one
    * map-side-combinable [[graft.functions.VecSumAgg]] aggregate whose
    * shuffle carries k×dim longs per partition. Only the k centroids
    * (k × dim longs) ever reach the driver — the standard k-means loop
    * shape; corpus work stays distributed at any scale. Cells that lose
    * all members drop out (k may shrink).
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[IvfCentroid] = {
    val c = quantize(corpus, idCol, vecCol)
    var cs: Seq[IvfCentroid] = c.orderBy(col("vec_id")).limit(k)
      .select(col("qv")).collect().toSeq.zipWithIndex
      .map { case (r, i) => IvfCentroid(i, r.getSeq[Long](0).toArray, 1L) }
    var it = 0
    while (it < iters) {
      cs = ivfAssign(c, cs, nProbe = 1)
        .groupBy(col("cid"))
        .agg(udaf(VecSumAgg, ExpressionEncoder[Seq[Long]]()).apply(col("qv")).as("sums"),
          count(lit(1)).as("cnt"))
        .collect().toSeq
        .map(r => IvfCentroid(r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        .sortBy(_.cid)
      cs.find(_.cnt >= MaxCellMembers).foreach { c =>
        throw new IllegalStateException(
          s"IVF cell ${c.cid} has ${c.cnt} members — beyond the exact-int64 " +
            s"assignment bound ($MaxCellMembers); increase k")
      }
      it += 1
    }
    cs
  }

  /** IVF ANN: train the coarse quantizer, assign the corpus to its
    * nearest cell and each query to its `nProbe` nearest cells, rerank
    * exactly within the probed cells. Complements [[bucketedAnn]]: the
    * data-adaptive index (cells follow the embedding distribution) vs
    * the data-oblivious hyperplane one. At 100 TB, partition the stored
    * corpus by `cid` so each probe reads only its cells' files. Same
    * id-space contract as [[topKCosine]].
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, kCells: Int, iters: Int, nProbe: Int): DataFrame = {
    val model = ivfTrain(corpus, idCol, vecCol, kCells, iters)
    val c = ivfAssign(quantize(corpus, idCol, vecCol), model, nProbe = 1)
    val q = ivfAssign(quantize(queries, idCol, vecCol), model, nProbe)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nq").as("q_nq"), col("cid").as("q_cid"))
    // corpus rows carry ONE cell each, so a candidate matches at most one
    // of the query's nProbe cells — no duplicate pairs to collapse
    val scored = broadcast(q)
      .join(c, col("cid") === col("q_cid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineOf(call_function("dot_long", col("q_qv"), col("qv")),
          col("q_nq"), col("nq")).as("cosine"))
    rankTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the [[ivfTrain]] k-means
    * coarse quantizer, then within each cluster drop every vector whose
    * cosine to a LOWER-id cluster member reaches `minCosine` — the min-id
    * keeper convention shared with the x2 dedup family. Output: one row
    * per corpus vector `(vec_id, cid, kept ∈ {0,1}, dup_of)`, `dup_of`
    * the minimal in-cluster witness (NULL when kept).
    *
    * Scale: the published SemDeDup shape — pairwise work is confined to
    * clusters, O(Σ m_c²) not corpus²; grow `kCells` with the corpus
    * (k ≈ n / target-cell-size) so cells stay bounded. The pair step is
    * a self-equi-join on `cid` (one hash shuffle per side, AQE handles a
    * skewed cell); assignment itself is a narrow projection against
    * broadcast centroid literals. Determinism: cosines are the library's
    * exact-integer dot plus correctly-rounded IEEE sqrt/div, so the
    * threshold test replays bit-identically in the DuckDB oracle.
    * Zero-norm vectors have no direction (NULL cosine) → never dropped.
    */
  def semDeDup(corpus: DataFrame, idCol: String, vecCol: String,
      kCells: Int, iters: Int, minCosine: Double): DataFrame = {
    val model = ivfTrain(corpus, idCol, vecCol, kCells, iters)
    val assigned = ivfAssign(quantize(corpus, idCol, vecCol), model, nProbe = 1)
    val wit = assigned.select(col("vec_id").as("w_id"), col("qv").as("w_qv"),
      col("nq").as("w_nq"), col("cid").as("w_cid"))
    val dups = assigned
      .join(wit, col("cid") === col("w_cid") && col("w_id") < col("vec_id"))
      .where(cosineOf(call_function("dot_long", col("qv"), col("w_qv")),
        col("nq"), col("w_nq")) >= lit(minCosine))
      .groupBy(col("vec_id")).agg(min(col("w_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_of").isNull, lit(1)).otherwise(lit(0)).as("kept"),
        col("dup_of"))
  }

  /** [[semDeDup]] with the cell count derived from the corpus — the
    * production configuration: holding cell SIZE constant
    * (kCells = max(4, n / targetCellSize)) keeps the in-cell pairwise
    * verify linear in the corpus where a FIXED kCells grows it
    * quadratically (measured 11.2x vs ≤ linear per 10x, BENCHNOTES.md).
    * Costs one `count()` action up front to size k — at 100 TB that is
    * a metadata-cheap aggregate, and the alternative (a wrong fixed k)
    * costs the quadratic cell.
    */
  def semDeDupAuto(corpus: DataFrame, idCol: String, vecCol: String,
      iters: Int, minCosine: Double, targetCellSize: Int = 500): DataFrame = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1")
    val k = math.max(4L, corpus.count() / targetCellSize).toInt
    semDeDup(corpus, idCol, vecCol, kCells = k, iters, minCosine)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most cosine-similar corpus vectors with a
    * DIFFERENT label — the "hard" negatives that actually move a
    * retriever/embedding model, vs easy random negatives. Exact integer
    * dots + correctly-rounded IEEE sqrt/div (the library's cosine), so
    * the mined set replays bit-identically in the oracle; ties rank
    * deterministically (cosine desc, candidate id asc).
    *
    * Scale: same shape as [[topKCosine]] — bounded query batch
    * broadcast against the corpus scan, per-query WindowGroupLimit
    * top-k; the label inequality rides the broadcast join as a residual.
    * For corpus-scale query sets, swap the broadcast for [[bucketedAnn]]
    * buckets and apply the same label residual in-cell.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).as("vec_id"), col(labelCol).as("label"))
    val c = quantize(corpus, idCol, vecCol).join(labels, "vec_id")
    // query labels come from the QUERIES frame itself — a held-out query
    // set need not exist in the corpus (and must never inherit labels
    // from an unrelated corpus row that shares its id)
    val qLabels = queries.select(col(idCol).as("vec_id"),
      col(labelCol).as("label"))
    val q = quantize(queries, idCol, vecCol).join(qLabels, "vec_id")
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nq").as("q_nq"), col("label").as("q_label"))
    val scored = broadcast(q)
      .join(c, col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosineOf(call_function("dot_long", col("q_qv"), col("qv")),
          col("q_nq"), col("nq")).as("cosine"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"))
  }

  /** Signed random projection (SRP) dimensionality reduction: project the
    * 64-dim quantized embedding onto `outDims` pseudo-random ±1
    * hyperplanes — out[j] = Σ_d qv[d]·sign(h(j,d)) — the
    * Johnson–Lindenstrauss workhorse that shrinks an embedding store
    * before ANN indexing (dot products in projected space approximate
    * scaled cosines in the original).
    *
    * The "random" sign is the HIGH bit of the Knuth multiplicative hash
    * of (j,d) — `((j·64+d−1)·2654435761) mod 2³¹ ≥ 2³⁰`, the same
    * high-bit centering as [[bucketOf]]'s hyperplanes. The high bit is
    * essential: the LOW bit of an odd-constant product is just the
    * parity of the seed, which is independent of `j` — that formulation
    * gives every output dim the SAME sign vector (a rank-1, non-JL
    * projection; regression-pinned in VectorSearchIvfSpec). No RNG, so
    * the projection is a pure function replayed exactly by the DuckDB
    * oracle and stable across runs/partitionings.
    *
    * Output: one row per (vec_id, dim 0..outDims-1) with the exact bigint
    * projection value. Scale: a narrow per-row projection (built-in
    * `transform`/`aggregate` higher-order functions — codegen, no UDF, no
    * shuffle); 64·outDims multiply-adds per row streamed through
    * whole-stage codegen.
    */
  def signedRandomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    quantize(df, idCol, vecCol)
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(outDims - 1)), j =>
          aggregate(sequence(lit(1), lit(dims)), lit(0L), (acc, d) =>
            acc + element_at(col("qv"), d) *
              when(((j * dims + d - 1) * lit(2654435761L)) % lit(2147483648L)
                >= lit(1073741824L), lit(1L)).otherwise(lit(-1L)))))
          .as(Seq("dim", "proj")))
  }
}
