package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composition the individual operators
  * exist for (SURVEY.md §2B): heuristic quality filter → exact dedup by
  * content fingerprint → near-duplicate removal via MinHash+LSH →
  * deterministic stratified sampling. Every stage is deterministic, so
  * the whole pipeline is reproducible end-to-end and (with RNG-free
  * hashes throughout) replayable on any engine.
  *
  * Scale shape: each stage is a filter/aggregate over the previous one —
  * quality is a narrow projection, exact dedup one shuffle on the
  * fingerprint, near-dup the LSH shuffle, and sampling a scan filter.
  * Nothing widens; the corpus only shrinks monotonically through the
  * stages.
  */
object CorpusClean {

  /** Survivors of the 4-stage cleaning pipeline: quality → exact-dup →
    * near-dup (keep the lowest id of each similar pair) → stratified
    * sample with per-stratum rates.
    *
    * Column contract: the input must not already carry the metric columns
    * [[TextAnalysis.qualityMetrics]] owns, nor `fingerprint` — they are
    * overwritten as working columns. Ids are assumed unique and
    * non-negative (the Sampling id-domain contract).
    *
    * Materialization: downstream stages re-evaluate the upstream subtree
    * several times without a cut (LSH reads its input for signatures and
    * twice for verification sets — 3× the dominant I/O at corpus scale).
    * `materializeCut` is applied to the post-exact-dedup frame to break
    * that: pass `_.localCheckpoint(true)` (one in-memory materialization,
    * no CacheManager registration, so repeated builds stay independent)
    * or `_.persist(...)` if the caller manages unpersist; default
    * `identity` keeps the pipeline fully lazy (storage-level decisions
    * stay with the caller).
    */
  /** Every intermediate frame of [[pipeline]], in stage order — so
    * audits (the x50 waterfall) count the SAME DataFrames the pipeline
    * executes instead of re-deriving the chain.
    */
  final case class CleanStages(
      input: DataFrame, quality: DataFrame, exactKept: DataFrame,
      nearKept: DataFrame, sampled: DataFrame) {
    /** (stage name, frame) in pipeline order. */
    def ordered: Seq[(String, DataFrame)] = Seq(
      "input" -> input, "quality" -> quality, "exact_dedup" -> exactKept,
      "near_dedup" -> nearKept, "sample" -> sampled)
  }

  /** `lshMaxBucket` passes through to [[TextDedup.minhashLshPairs]]'
    * stop-bucket cap — at sf10 the UNCAPPED candidate set is the whole
    * pipeline's super-linear term (x11/x50 grew ~50x at 10x docs while
    * every other stage stayed ~2x), so at
    * open-web scale the cap is this pipeline's linearity knob too.
    * Default None keeps exact all-in-bucket-pairs semantics.
    */
  /** `lshRecallFloor` is the RECALL knob — the second face of the same
    * LSH stage: instead of a hand-picked cap (`lshMaxBucket`), the
    * pipeline prices the floor through the measured recall table
    * ([[TextDedup.budgetForRecall]] — refusing floors/corpus sizes the
    * table can't price) and calibrates the cap to the resulting
    * pairs-per-doc budget ([[TextDedup.calibrateMaxBucket]]) on the
    * ACTUAL post-exact-dedup survivors. Mutually exclusive with
    * `lshMaxBucket` (one cap authority). Cost: two bounded pre-pass
    * jobs on the (typically checkpointed) survivor frame — a count and
    * the band-bucket histogram — before the LSH stage proper; both are
    * narrow aggregates any production run affords.
    */
  /** `cutAllStages`: apply `materializeCut` to EVERY intermediate stage
    * frame (quality, nearKept), not just the exact-dedup survivors —
    * for consumers that read the `ordered` stage list more than once
    * (the x50 waterfall counts every stage, so a lazy `nearKept` would
    * re-run the whole LSH pair chain once per downstream count).
    * The pipeline default stays false: a single-consumer chain pays
    * the extra materialization barriers for nothing.
    */
  def stages(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, nearDupThreshold: Double,
      rates: Map[String, Int], defaultPercent: Int = 0,
      materializeCut: DataFrame => DataFrame = identity,
      lshMaxBucket: Option[Int] = None,
      lshRecallFloor: Option[Double] = None,
      cutAllStages: Boolean = false): CleanStages = {
    require(lshMaxBucket.isEmpty || lshRecallFloor.isEmpty,
      "lshMaxBucket and lshRecallFloor both set — pass one cap " +
        "authority (an explicit cap, or a floor the measured table prices)")
    val cutStage: DataFrame => DataFrame =
      if (cutAllStages) materializeCut else identity
    // 1. quality: C4-style keep flag
    val quality = cutStage(TextAnalysis.qualityMetrics(docs, textCol)
      .filter(col("keep") === 1)
      .select(docs.columns.toIndexedSeq.map(col): _*))

    // 2. exact dedup: one survivor (lowest id) per content fingerprint —
    // fingerprint appends as a narrow column (no join, no extra shuffle)
    val exactKept = materializeCut(
      TextDedup.exactDedup(
          TextDedup.withFingerprint(quality, textCol),
          keys = Seq("fingerprint"), tiebreak = col(idCol))
        .drop("fingerprint"))

    // 3. near-dup: drop the higher id of every similar pair among the
    // survivors (pairs already come ordered id_a < id_b). Candidate
    // verification stays in default lazy mode: the re-reads it implies
    // hit the (typically materializeCut-checkpointed) exactKept frame,
    // which is exactly what that cut exists to make cheap.
    val cap = lshRecallFloor.fold(lshMaxBucket) { floor =>
      val n = exactKept.count()
      Some(TextDedup.calibrateMaxBucket(
        TextDedup.lshIndex(exactKept, idCol, textCol), n,
        TextDedup.budgetForRecall(n, floor)))
    }
    val pairs = TextDedup.minhashLshPairs(exactKept, idCol, textCol,
      nearDupThreshold, maxBucket = cap)
    val nearKept = cutStage(exactKept.join(
      pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti"))

    // 4. reproducible stratified sample
    val sampled = Sampling.stratifiedSample(nearKept, col(idCol),
      col(stratumCol), rates, defaultPercent)
    CleanStages(docs, quality, exactKept, nearKept, sampled)
  }

  def pipeline(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, nearDupThreshold: Double,
      rates: Map[String, Int], defaultPercent: Int = 0,
      materializeCut: DataFrame => DataFrame = identity,
      lshMaxBucket: Option[Int] = None,
      lshRecallFloor: Option[Double] = None): DataFrame =
    stages(docs, idCol, textCol, stratumCol, nearDupThreshold,
      rates, defaultPercent, materializeCut, lshMaxBucket,
      lshRecallFloor).sampled

  /** Curriculum ordering: place every doc in a difficulty band (the
    * CCNet perplexity terciles of [[TextAnalysis.perplexityBuckets]] —
    * 'head' = most fluent) and assign a deterministic pseudo-random
    * position WITHIN its band ([[Sampling.shuffleKey]] order, doc-id
    * tiebreak) — the "easy first, shuffled within difficulty" schedule
    * curriculum training consumes. A different salt yields an
    * independent within-band permutation per epoch.
    *
    * Scale: banding is the boundary-broadcast tercile design (no global
    * window); the rank window partitions by band — three parallel
    * partitions of a uniform-keyed sort, no single-partition funnel at
    * the RANK level. (The band key itself is 3-valued: for band-level
    * parallelism beyond 3 tasks, consumers range-partition on
    * (bucket, shuffle_key), which the uniform key makes even.)
    */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
      salt: Long): DataFrame = {
    val banded = TextAnalysis.perplexityBuckets(docs, idCol, textCol)
    banded
      .withColumn("__sk", Sampling.shuffleKey(col(idCol), salt))
      .withColumn("band_rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("bucket"))
            .orderBy(col("__sk"), col(idCol))))
      .select(col(idCol), col("bucket"), col("band_rank"))
  }

  /** Dataset-card report: per `groupCol` (language, source, snapshot —
    * whatever the card slices on) the corpus stats a release writes down:
    * doc and token counts, docs passing the C4-style quality bar
    * ([[TextAnalysis.qualityMetrics]]), distinct content fingerprints
    * ([[TextDedup.withFingerprint]]), and the exact-duplicate rate in
    * ppm (`10⁶·(n_docs − n_unique) div n_docs` — exact integer).
    *
    * Scale: metrics and fingerprints are narrow per-row projections; the
    * report is ONE group-keyed aggregate (count-distinct rides Spark's
    * Expand); output is |groups| rows.
    */
  def datasetReport(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    TextDedup.withFingerprint(
        TextAnalysis.qualityMetrics(docs, textCol), textCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(col("keep").cast("long")).as("n_quality"),
        countDistinct(col("fingerprint")).as("n_unique"))
      .withColumn("dup_ppm",
        expr("(1000000L * (n_docs - n_unique)) div n_docs"))

  /** Corpus snapshot diff — the release-to-release churn audit: classify
    * every doc id across two snapshots as `added` (new ids), `removed`
    * (ids gone), `changed` (same id, different content identity), or
    * `unchanged`, by a content-identity column (typically the x2a
    * rolling fingerprint — 8 bytes per doc, never the text itself).
    * Presence is tracked with marker columns, so a NULL identity value
    * is still a PRESENT row (two NULL identities compare `unchanged`
    * via null-safe equality, matching `IS NOT DISTINCT FROM`).
    *
    * Scale: one full-outer hash join on the id over two slim (id,
    * identity) projections. Fingerprints should be computed at ingest
    * ([[TextDedup.withFingerprint]]) and stored with the snapshot;
    * bucket both snapshot stores by id and the join plans exchange-free.
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      fpCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("__id"), col(fpCol).as("__fp_a"),
      lit(true).as("__in_a"))
    val b = v2.select(col(idCol).as("__id"), col(fpCol).as("__fp_b"),
      lit(true).as("__in_b"))
    a.join(b, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__in_a").isNull, "added")
          .when(col("__in_b").isNull, "removed")
          .when(col("__fp_a") <=> col("__fp_b"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
