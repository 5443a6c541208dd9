package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.functions.{Hashing, MinHashAgg}

/** Reusable text-deduplication operators (SURVEY.md §2B X1/X2) — the
  * library API the demo queries delegate to. Every function takes the
  * id/text column names, so the same operators run over any corpus table.
  *
  * Determinism contract: all hashing is fixed integer arithmetic
  * ([[graft.functions.Hashing]]); no RNG, no engine-native hash — outputs
  * are reproducible across runs, engines, and partitionings.
  *
  * Scale contract: no driver-side state; every stage is a shuffle-based
  * map/aggregate whose reduce keys are bounded (doc id, shingle, band
  * bucket); the O(n²) formulations every stage avoids are documented at
  * each site.
  *
  * Cuts: `cuts: Option[graft.Checkpoints.Scope]` is lazy under `None`
  * (the default — at demo scale a barrier costs more than the re-reads it
  * saves) and, under `Some(scope)`, cuts the frames several consumers read
  * into `scope`, which the caller closes once the result is spent.
  */
object TextDedup {

  // The pair/probe verify joins (candidate pairs ⋈ per-doc shingle or
  // signature frames) key a frame that is one-row-per-doc BY
  // CONSTRUCTION — a contract FanoutLint cannot see from plan structure.
  // The contract join keys are NAMESPACED (__graft_*): operators join on
  // the reserved names internally and alias to the public id_a/id_b/
  // new_id/old_id only in their final select, so registering them here
  // cannot exempt a user query whose own columns happen to be called
  // id_a (a public-name allowlist would silently skip any user join on a
  // coinciding name).
  graft.plans.FanoutLint.allowContractKeys(
    "__graft_id_a", "__graft_id_b", "__graft_new_id", "__graft_old_id",
    "__graft_node", "__graft_band", "__graft_key")

  /** Keep-first exact dedup by key (X1): one hash shuffle on the keys;
    * `tiebreak` makes "first" deterministic (dropDuplicates' keep-first
    * depends on partition order — never use it for reproducible corpora).
    */
  def exactDedup(df: DataFrame, keys: Seq[String], tiebreak: Column): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(tiebreak)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  // ---- shared text machinery (column-parameterized) ------------------

  /** id + whitespace token array, docs with >= 3 tokens. The token array
    * gets its own projection so split() materializes once per row (see
    * DedupDemos scaladoc for the CollapseProject reasoning).
    *
    * Deliberately NOT pre-repartitioned: fanning a single-file corpus
    * across cores before the shingle explode was measured (sf0.1,
    * local[32]) to make the downstream posting-list aggregation ~12×
    * SLOWER — 32 concurrent object-hash aggregates in one JVM hit the
    * sort-based fallback together and thrash spill I/O, while the
    * explode itself is ~2 s warm either way. On a real cluster the scan
    * arrives pre-split across executors and no repartition is needed.
    */
  private def tokArrays(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= 3)

  /** Every space-joined n-token gram of a token-array column, WITH
    * repeats (one entry per occurrence) — the ONE n-gram construction
    * site: [[nGramSet]] wraps it for distinct-set consumers, and
    * occurrence-counting consumers ([[TextAnalysis.repetitionMetrics]])
    * use it directly. Precondition: callers filter to `size(tokens) >= n`
    * first — `sequence(0, negative)` DESCENDS in Spark rather than
    * returning empty.
    */
  def nGrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    transform(sequence(lit(0), size(tokens) - n), i =>
      concat_ws(" ", (1 to n).map(k => element_at(tokens, i + k)): _*))
  }

  /** Distinct space-joined n-token shingles of a token-array column
    * (trigram shingles here, bigrams in [[TextAnalysis.bigramCoverage]]).
    * Same precondition as [[nGrams]].
    */
  def nGramSet(tokens: Column, n: Int): Column =
    array_distinct(nGrams(tokens, n))

  /** Distinct 3-token shingles of a token-array column. */
  private def shingleSet(tokens: Column): Column = nGramSet(tokens, 3)

  private def shingleSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokArrays(df, idCol, textCol)
      .select(col("doc_id"), shingleSet(col("toks")).as("shs"))

  private def jaccardOfSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** The fingerprint expression: rolling hash over the sequence of
    * codegen'd per-token hashes (requires [[Hashing.registerAll]]).
    */
  private def fingerprintExpr(textCol: String): Column =
    aggregate(
      transform(split(col(textCol), " "),
        tk => call_function("char_poly_hash", tk)),
      lit(0L), (acc, h) => (acc * 131 + h) % Hashing.Mod)

  /** Document fingerprint (X2a): rolling hash over the sequence of
    * codegen'd per-token hashes. Narrow projection — no shuffle.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Hashing.registerAll(df.sparkSession)
    df.select(col(idCol).as("doc_id"), fingerprintExpr(textCol).as("fingerprint"))
  }

  /** Append-style variant: adds (or overwrites) `outCol` with the content
    * fingerprint — zero shuffles, so dedup-by-fingerprint composes as
    * withFingerprint → exactDedup without a join.
    */
  def withFingerprint(df: DataFrame, textCol: String,
      outCol: String = "fingerprint"): DataFrame = {
    Hashing.registerAll(df.sparkSession)
    df.withColumn(outCol, fingerprintExpr(textCol))
  }

  /** Incremental ingestion dedup — the production corpus-append pattern:
    * fingerprint the incoming batch, keep one row per fingerprint WITHIN
    * the batch (deterministic min-id tiebreak), then anti-join against
    * the already-ingested fingerprint store so re-crawled content never
    * lands twice. Scale: fingerprints are 8-byte keys, so the anti-join
    * shuffles keys only — and co-locates with NO exchange at all when
    * the store is bucketed by fingerprint ([[ScaleOps.writeBucketed]]).
    */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
      existingFingerprints: DataFrame): DataFrame = {
    val fp = withFingerprint(
        batch.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "__text")
      .drop("__text")
    exactDedup(fp, Seq("fingerprint"), col("doc_id"))
      .join(existingFingerprints.select(col("fingerprint")),
        Seq("fingerprint"), "left_anti")
      .select(col("doc_id"), col("fingerprint"))
  }

  /** The LSH band index of a corpus — `(doc_id, band, key)`, 64 bands of
    * r=2 over the 128-slot minhash signature: shingle → codegen hash →
    * single-buffer map-side-combinable signature aggregate → band keys.
    * This is both [[minhashLshPairs]]' candidate machinery and the
    * STORED half of incremental ingestion ([[incrementalLshPairs]]):
    * persist it bucketed by (band, key) ([[ScaleOps.writeBucketed]]) and
    * batch probes join the store without shuffling it.
    */
  def lshIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bandKeysOfSignatures(minhashSignatures(df, idCol, textCol))

  /** The 128-slot minhash signature frame `(doc_id, sig)` — the artifact
    * a production ingest persists ONCE per document (128 longs, ~1 KB)
    * so every later near-dup pass ([[lshIndex]] banding,
    * [[minhashEstimatePairs]] re-scoring) runs off the store without
    * touching text again. Shingle → codegen hash → single-buffer
    * map-side-combinable signature aggregate: the shuffle carries one
    * 128-long row per doc regardless of document size.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Hashing.registerAll(df.sparkSession)
    // NOT sets.select(explode(shs)): exploding the shingle expression
    // directly keeps the Generate adjacent to the scan with one array
    // build per row — a projected-then-exploded column gets re-evaluated
    // inside pushed-down filters (measured 6x slower)
    tokArrays(df, idCol, textCol)
      .select(col("doc_id"), explode(shingleSet(col("toks"))).as("sh"))
      .select(col("doc_id"), call_function("char_poly_hash", col("sh")).as("x"))
      .groupBy("doc_id")
      .agg(udaf(MinHashAgg).apply(col("x")).as("sig"))
  }

  /** `(doc_id, band, key)` band rows of a signature frame — the banding
    * half of [[lshIndex]], factored so signatures from a STORE (or a
    * [[minhashSignatures]] cut) band without re-aggregating.
    */
  def bandKeysOfSignatures(sigs: DataFrame): DataFrame = {
    val P = Hashing.P
    val nBands = Hashing.MinhashK / 2 // r=2 rows per band over the signature
    sigs.select(col("doc_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          (element_at(col("sig"), 2 * b + 1) * P
            + element_at(col("sig"), 2 * b + 2)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** A document's distinct-shingle char-poly hashes as ONE projection
    * expression (higher-order fold, no kernel registration needed) —
    * the per-row half of [[lshBandKeys]]. Keep it in its OWN projection
    * (`withColumn`) when feeding lshBandKeys: the band expression
    * references the hash array 128 times, and a separate non-cheap
    * alias stops CollapseProject from inlining 128 recomputations.
    * Precondition: ≥3 tokens (same as the batch path).
    */
  def shingleHashes(textCol: Column): Column =
    transform(nGramSet(split(textCol, " "), 3), s => Hashing.charPolyHash(s))

  /** The 64 (band, key) structs of a document computed STATELESSLY from a
    * [[shingleHashes]] array — per-row minima over the 128 permutations
    * instead of [[lshIndex]]'s signature AGGREGATE, bit-identical values
    * (spec-pinned). This is what lets a STREAMING batch probe a static
    * band index: a streaming aggregate would hold per-doc state; a
    * projection holds none.
    */
  def lshBandKeys(hashes: Column): Column = {
    val nBands = Hashing.MinhashK / 2
    def sigMin(seed: Int): Column =
      array_min(transform(hashes, x => Hashing.minhashPerm(seed, x)))
    array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        (sigMin(2 * b) * Hashing.P + sigMin(2 * b + 1)).as("key"))): _*)
  }

  /** Exact 3-token-shingle Jaccard of two text columns as a projection —
    * the verification kernel for candidate pairs whose texts ride the
    * row (the streaming probe path). Preconditions as [[shingleHashes]].
    */
  def textJaccard(a: Column, b: Column): Column =
    jaccardOfSets(nGramSet(split(a, " "), 3), nGramSet(split(b, " "), 3))

  /** Incremental near-dup ingestion (X58) — probe a NEW batch against an
    * already-indexed corpus: batch band keys equi-join the corpus index
    * on (band, key), candidates verify exactly as jaccard(new, old) ≥
    * `threshold`. The near-dup complement of [[incrementalDedup]]'s
    * exact fingerprint anti-join, and the production crawl shape — the
    * corpus is indexed ONCE ([[lshIndex]], persisted bucketed by
    * (band, key)), each arriving batch costs O(batch·bands) probe rows,
    * never a corpus re-scan. Verification re-reads shingles only for
    * docs on a candidate pair (semi join; AQE broadcasts the candidate
    * ids when they fit). Within-batch duplicates are out of scope —
    * run [[minhashLshPairs]] on the batch for those.
    *
    * Same recall contract as x2b: at threshold t a true pair misses all
    * 64 bands with probability (1−t²)^64 (≤1e-8 at t=0.5), so the exact
    * brute-force oracle matches. `Some(scope)` cuts the candidate pairs
    * and shingles ONLY candidate docs via semi joins.
    */
  def incrementalLshPairs(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cuts: Option[Checkpoints.Scope] = None,
      maxBucket: Option[Int] = None): DataFrame =
    probeLshStore(batch, lshIndex(corpus, idCol, textCol), corpus,
      idCol, textCol, threshold, cuts, maxBucket)

  /** [[incrementalLshPairs]] against an ALREADY-BUILT band index — the
    * store-probing face of the crawl loop: `corpusIndex` is the
    * persisted `(doc_id, band, key)` frame ([[lshIndex]] output, e.g.
    * a bucketed store table), `corpus` supplies the indexed documents'
    * texts for exact verification (see [[incrementalLshPairs]]). Probing
    * never re-indexes the corpus —
    * batch band keys equi-join the store on (band, key); when the
    * store is bucketed by those keys ([[graft.operators.ScaleOps
    * .writeBucketed]]) the store side joins with NO exchange.
    */
  /** `maxBucket` is the incremental analogue of [[minhashLshPairs]]'
    * stop-bucket cap — the crawl loop's linearity knob (without it the
    * probe side rides the uncapped candidate volume): STORE buckets
    * with more than `maxBucket` members are dropped before the probe
    * join, so one corpus-scale boilerplate bucket can no longer collide
    * with every arriving batch doc. The count runs over the store INDEX
    * (narrow (doc_id, band, key) rows — never the corpus text), as a
    * window over the store's own (band, key) layout: a bucketed store
    * ([[lshStoreWrite]]) satisfies the partitioning with NO exchange.
    * Cross-set semantics keep single-member buckets (bn >= 1 pairs with
    * a batch doc; the >= 2 floor is a SELF-join notion). `None` keeps
    * exact all-collisions semantics.
    */
  /** `prebuiltBatchIndex`: an already-derived [[lshIndex]] frame of the
    * BATCH (`doc_id, band, key`) to probe with instead of deriving one
    * here — the crawl loop indexes each accepted batch anyway (the
    * append half), so deriving the batch index once and passing it to
    * BOTH the probe and [[lshStoreAppend]] saves a full
    * shingle→signature→band pass per batch (otherwise x59 builds the
    * batch-1 index twice, once inside its probe and once inside its
    * append).
    */
  def probeLshStore(batch: DataFrame, corpusIndex: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String, threshold: Double,
      cuts: Option[Checkpoints.Scope] = None,
      maxBucket: Option[Int] = None,
      prebuiltBatchIndex: Option[DataFrame] = None): DataFrame = {
    val liveStore = maxBucket.fold(corpusIndex) { cap =>
      corpusIndex
        .withColumn("__bn", count(lit(1)).over(
          Window.partitionBy(col("band"), col("key"))))
        .filter(col("__bn") <= cap)
        .drop("__bn")
    }
    val lazyCand = prebuiltBatchIndex
      .getOrElse(lshIndex(batch, idCol, textCol))
      .select(col("doc_id").as("__graft_new_id"), col("band"), col("key"))
      .join(liveStore
        .select(col("doc_id").as("__graft_old_id"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("__graft_new_id"), col("__graft_old_id")).distinct()
    val (cand, newBase, oldBase) = cuts match {
      case None => (lazyCand, batch, corpus)
      case Some(scope) =>
        val c = scope.cut(lazyCand)
        def side(src: DataFrame, k: String) = src.join(
          c.select(col(k).as(idCol)).distinct(), Seq(idCol), "left_semi")
        (c, side(batch, "__graft_new_id"), side(corpus, "__graft_old_id"))
    }
    val newSets = shingleSets(newBase, idCol, textCol)
    val oldSets = shingleSets(oldBase, idCol, textCol)
    cand
      .join(newSets.select(col("doc_id").as("__graft_new_id"), col("shs").as("shs_new")),
        "__graft_new_id")
      .join(oldSets.select(col("doc_id").as("__graft_old_id"), col("shs").as("shs_old")),
        "__graft_old_id")
      .select(col("__graft_new_id").as("new_id"), col("__graft_old_id").as("old_id"),
        jaccardOfSets(col("shs_new"), col("shs_old")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Number of buckets the persistent band store is written with —
    * shared by [[lshStoreWrite]]/[[lshStoreAppend]] so the append's
    * declared spec always matches the store's (Spark fails fast on
    * drift). Demo-scale value; a production store sizes this to
    * cluster parallelism once at creation.
    */
  val LshStoreBuckets = 8

  /** Create the persistent band store for an incremental-ingestion
    * corpus: [[lshIndex]] rows bucketed by (band, key) — the join keys
    * every [[probeLshStore]] batch probes on — so probe joins read the
    * store pre-partitioned with NO exchange. `path` makes the table
    * external (see [[graft.operators.ScaleOps.writeBucketed]]).
    */
  def lshStoreWrite(corpus: DataFrame, idCol: String, textCol: String,
      table: String, path: Option[String] = None): Unit =
    ScaleOps.writeBucketed(lshIndex(corpus, idCol, textCol), table,
      LshStoreBuckets, Seq("band", "key"), path = path)

  /** Index maintenance — the other half of the crawl loop: APPEND an
    * accepted batch's band keys into the bucketed
    * store, so the NEXT batch probes base+batch without re-indexing or
    * re-scanning the corpus. Cost is O(batch·bands) rows hashed into
    * the store's existing bucket layout; the store is never rewritten.
    * Spec-pinned contract: probe-after-append ≡ probe against a full
    * index rebuild, pair-for-pair.
    */
  def lshStoreAppend(batch: DataFrame, idCol: String, textCol: String,
      table: String, prebuiltIndex: Option[DataFrame] = None): Unit = {
    ScaleOps.appendBucketed(
      prebuiltIndex.getOrElse(lshIndex(batch, idCol, textCol)), table,
      LshStoreBuckets, Seq("band", "key"))
    // metadata/file-listing caches would otherwise serve the pre-append
    // file set to a plan built later in the same session
    batch.sparkSession.catalog.refreshTable(table)
  }

  /** Candidate pairs of a `(doc_id, band, key)` band frame — the ONE
    * definition of the LSH candidate machinery ([[minhashLshPairs]] and
    * [[estimatePairsFromSignatures]] share it, so the estimator's
    * candidate set can never silently diverge from the exact path's):
    * bucket size as a WINDOW over the (band, key) shuffle — one exchange
    * carries the count, the live-bucket filter, AND both self-join sides
    * (merge hint: broadcasting a corpus-scale band index is never right,
    * and an AQE broadcast would also recompute the upstream signature
    * aggregate per side — plan-gated in TextDedupSpec).
    */
  private def lshCandidatePairs(bands: DataFrame,
      maxBucket: Option[Int]): DataFrame = {
    val bn = count(lit(1)).over(Window.partitionBy(col("band"), col("key")))
    val live = bands.withColumn("bn", bn)
      .filter(maxBucket.fold(col("bn") >= 2)(cap =>
        col("bn") >= 2 && col("bn") <= cap))
      .select(col("doc_id"), col("band"), col("key"))
    live.as("a").hint("merge")
      .join(live.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("__graft_id_a"), col("b.doc_id").as("__graft_id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs (X2b) — the 100 TB dedup path: shingle →
    * codegen hash → single-buffer 128-slot minhash signature (map-side
    * combinable) → 64 bands of r=2 → per-bucket candidate pairs → exact
    * Jaccard verification at `threshold`. At threshold t the per-pair miss
    * probability is (1−t²)^64 (≤1e-8 at t=0.5), while cluster cost is
    * O(n·bands) shuffle instead of O(n²).
    *
    * `cuts`: under `None` exact verification joins against shingle sets
    * of the WHOLE corpus (re-read once per pair side). `Some(scope)` cuts
    * the candidate pairs and the shingle sets, built ONLY for docs on a
    * candidate pair (semi join) — at scale the two extra full-corpus
    * shingle builds dwarf the barrier.
    *
    * `maxBucket` is the stop-BUCKET cap, the banding analogue of
    * [[ngramJaccardPairs]]' stop-shingle `maxDocFreq`: band buckets with
    * more than `maxBucket` members are dropped BEFORE pair expansion,
    * bounding the worst bucket's candidate cost at C(cap, 2). An
    * oversized bucket is overwhelmingly minhash-collision noise (a
    * corpus-scale boilerplate shingle, a degenerate signature), while a
    * TRUE pair at Jaccard t collides in ~64·t² bands in expectation
    * (16 at t = 0.5) — it is only lost if EVERY one of its colliding
    * buckets blows the cap. `None` (default) keeps exact
    * all-in-bucket-pairs semantics; the uncapped candidate set grows
    * ~45× at 10× the docs (random band collisions are O(n²·p)), so at
    * open-web scale the cap is the knob that keeps LSH linear.
    *
    * Candidate generation is a (band, key) equi SELF-JOIN with a
    * `doc_id <` residual hanging off the same hash-partitioning as the
    * bucket-size count (ReuseExchange shuffles the index once) — all
    * whole-stage codegen. A collect_set-per-bucket form would be an
    * ObjectHashAggregate, which falls back to sort-based aggregation
    * past 128 groups; at 500k docs (32M buckets) that fallback sorts and
    * spills ~50 GB.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      cuts: Option[Checkpoints.Scope] = None,
      maxBucket: Option[Int] = None): DataFrame =
    pairsFromBands(lshCandidatePairs(lshIndex(df, idCol, textCol), maxBucket),
      df, idCol, textCol, threshold, cuts)

  /** [[minhashLshPairs]] against an ALREADY-BUILT band index — the
    * re-entry point for callers that hold the [[lshIndex]] output
    * (typically checkpointed once and shared): calibration sweeps,
    * multi-preset demos, and any pipeline that derives the
    * shingle→signature→band chain once and runs the capped candidate +
    * verify tail several times (running the full chain once per preset
    * triples the signature work). `bands` must be [[lshIndex]]-shaped
    * (`doc_id, band, key`); `corpus` supplies the texts for exact
    * verification, exactly as in the from-text path — spec-pinned:
    * `minhashLshPairsFromIndex(lshIndex(df), df, …) ≡
    * minhashLshPairs(df, …)` pair-for-pair.
    */
  def minhashLshPairsFromIndex(bands: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cuts: Option[Checkpoints.Scope] = None,
      maxBucket: Option[Int] = None): DataFrame = {
    val need = Set("doc_id", "band", "key")
    require(need.subsetOf(bands.columns.toSet),
      s"band index must have columns ${need.mkString(", ")} (lshIndex " +
        s"output); got ${bands.columns.mkString(", ")}")
    pairsFromBands(lshCandidatePairs(bands, maxBucket), corpus, idCol,
      textCol, threshold, cuts)
  }

  /** [[minhashLshPairsFromIndex]] at cap `maxBucket`, with each verified
    * pair's `min_bn` — its smallest shared live-bucket size — attached:
    * `(id_a, id_b, jaccard, min_bn)`. The survival law
    * ([[lshSurvivalStats]], spec-pinned) says a pair survives a TIGHTER
    * cap `c ≤ maxBucket` iff `min_bn ≤ c`, so a multi-preset caller
    * (x64: the default and high-recall budget presets differ only in
    * their calibrated cap) runs ONE candidate + verify chain at the
    * LOOSEST preset's cap and reads every tighter preset as a filter
    * instead of running the full capped chain once per preset — the
    * presets' outputs are nested by construction. Filter-equality with
    * the per-cap operator is spec-pinned (TextDedupSpec).
    *
    * Cost vs one [[minhashLshPairsFromIndex]] run: the candidate
    * aggregate keys the same (pair) groups — `min(bn)` instead of
    * `distinct` — and the verify joins back to the candidate frame once
    * to re-attach `min_bn` (one extra shuffle of the verified-pair set,
    * which is ≤ the candidate set the chain already carries).
    */
  def minhashLshPairsWithMinBucket(bands: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double, maxBucket: Int,
      cuts: Option[Checkpoints.Scope] = None): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bnc = count(lit(1)).over(Window.partitionBy(col("band"), col("key")))
    val live = bands.withColumn("bn", bnc)
      .filter(col("bn") >= 2 && col("bn") <= maxBucket)
      .select(col("doc_id"), col("band"), col("key"), col("bn"))
    // bn is a property of the BUCKET, identical on both join sides, so
    // min(a.bn) over the pair's shared live buckets IS min_bn
    val candMin0 = live.as("a").hint("merge")
      .join(live.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("__graft_id_a"),
        col("b.doc_id").as("__graft_id_b"))
      .agg(min(col("a.bn")).as("__graft_min_bn"))
    val candMin = Checkpoints.cutIn(cuts)(candMin0)
    val candIds = candMin.select(col("__graft_id_a"), col("__graft_id_b"))
    val setsBase =
      if (cuts.isEmpty) corpus else candidateDocs(corpus, candIds, idCol)
    // one verified row per pair: the re-attach joins on contract keys
    verifyCandidatePairs(candIds, setsBase, idCol, textCol, threshold, cuts)
      .select(col("id_a").as("__graft_id_a"), col("id_b").as("__graft_id_b"),
        col("jaccard"))
      .join(candMin, Seq("__graft_id_a", "__graft_id_b"))
      .select(col("__graft_id_a").as("id_a"), col("__graft_id_b").as("id_b"),
        col("jaccard"), col("__graft_min_bn").as("min_bn"))
  }

  /** The shared candidate→verify tail of the from-text and from-index
    * paths (ONE definition, so the index-reusing face can never drift
    * from [[minhashLshPairs]]' semantics).
    */
  private def pairsFromBands(lazyCand: DataFrame, df: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cuts: Option[Checkpoints.Scope]): DataFrame =
    cuts match {
      case None => verifyCandidatePairs(lazyCand, df, idCol, textCol, threshold)
      case Some(scope) =>
        val c = scope.cut(lazyCand)
        // the shingle-set frame is cut too (see verifyCandidatePairs:
        // lazy sets evaluate once per pair side)
        verifyCandidatePairs(c, candidateDocs(df, c, idCol),
          idCol, textCol, threshold, cuts)
    }

  /** The rows of `df` whose id appears on either side of a
    * `(__graft_id_a, __graft_id_b)` candidate frame — the verify base of
    * every materialized path. No broadcast hint: the candidate-doc set is
    * O(docs with a near-dup), unbounded at corpus scale, so AQE
    * broadcasts it only when it actually fits, else a shuffled semi join.
    */
  private def candidateDocs(df: DataFrame, cand: DataFrame,
      idCol: String): DataFrame =
    df.join(cand
      .select(explode(array(col("__graft_id_a"), col("__graft_id_b"))).as(idCol))
      .distinct(), Seq(idCol), "left_semi")

  /** Exact-Jaccard verification of a `(__graft_id_a, __graft_id_b)`
    * candidate frame against shingle sets built from `setsBase` — the
    * shared tail of every LSH verify path (ONE definition, so the paths'
    * semantics can never drift).
    *
    * `Some(scope)` cuts the shingle-set frame ONCE before the two pair-
    * side joins: the sets frame is joined by `__graft_id_a` and again by
    * `__graft_id_b` — two different hash partitionings, so exchange
    * reuse never applies and a LAZY sets plan (text scan → semi join →
    * tokenize → shingle build) evaluates once per side.
    */
  private def verifyCandidatePairs(cand: DataFrame, setsBase: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cuts: Option[Checkpoints.Scope] = None): DataFrame = {
    val sets = Checkpoints.cutIn(cuts)(shingleSets(setsBase, idCol, textCol))
    cand
      .join(sets.select(col("doc_id").as("__graft_id_a"), col("shs").as("shs_a")),
        "__graft_id_a")
      .join(sets.select(col("doc_id").as("__graft_id_b"), col("shs").as("shs_b")),
        "__graft_id_b")
      .select(col("__graft_id_a").as("id_a"), col("__graft_id_b").as("id_b"),
        jaccardOfSets(col("shs_a"), col("shs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The stop-bucket cap CALIBRATED to a candidate-pair budget: at a
    * FIXED cap the
    * candidate volume Σ_buckets C(bn∧cap, 2) grows SUPER-linearly with
    * corpus size (measured 10.3× per 4× docs at cap 64, 500k→2M —
    * sub-threshold band collisions keep FILLING buckets as n grows, so
    * the constant that was "the linearity knob" at one scale is the
    * super-linear term at the next). The production rule is a PAIR
    * BUDGET — at most `pairsPerDoc` candidate pairs per document, the
    * quantity downstream verify cost actually scales with — and the cap
    * is the LARGEST value whose capped volume fits the budget (largest
    * = maximal recall within the budget). Never returns below 2 (the
    * pairability floor): if even cap 2 exceeds the budget, 2 is
    * returned and the caller's budget is advisory.
    *
    * Cost: one narrow (band, key) count over the index + one
    * bucket-SIZE histogram collect bounded by `capMax` rows (buckets
    * larger than capMax are dropped at every cap ≤ capMax, so they
    * cannot affect the choice) — a pre-pass any production run can
    * afford, same bounded-collect legitimacy as IVF's k centroids.
    */
  def calibrateMaxBucket(bands: DataFrame, nDocs: Long, pairsPerDoc: Double,
      capMax: Int = 1024): Int = {
    require(nDocs > 0, s"need nDocs > 0, got $nDocs")
    require(pairsPerDoc > 0, s"need pairsPerDoc > 0, got $pairsPerDoc")
    require(capMax >= 2, s"need capMax >= 2, got $capMax")
    val hist = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= capMax)
      .groupBy(col("bn")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val budget = (pairsPerDoc * nDocs).toLong
    var acc = 0L
    var i = 0
    while (i < hist.length) {
      val (size, cnt) = hist(i)
      val v = acc + cnt * size * (size - 1) / 2
      if (v > budget)
        // volume is a step function that jumps at occupied sizes: the
        // largest admissible cap is just below the size that overflows
        return math.max(size - 1, 2L).toInt
      acc = v
      i += 1
    }
    capMax
  }

  /** Per-TRUE-PAIR survival statistics of the stop-bucket cap — the
    * recall instrument the budget rule ([[calibrateMaxBucket]]) needs,
    * since a cap bounds cost but says nothing of what it costs in
    * recall. One row per TRUE near-dup pair (exact
    * Jaccard ≥ `threshold` among the uncapped LSH candidates):
    * `(id_a, id_b, jaccard, min_bn)` where `min_bn` is the SMALLEST
    * colliding band-bucket the pair shares, over ALL bands. The capped
    * operator keeps a pair iff at least one of its shared buckets is
    * within the cap, so the survival law is exactly
    * `pair survives cap c ⟺ min_bn ≤ c` — spec-pinned against
    * [[minhashLshPairs]]`(maxBucket = Some(c))` itself, and the recall
    * curve at any cap list reads off this one frame
    * ([[recallAtCaps]]).
    *
    * `discoveryBands = Some(k)`: ground-truth discovery restricted to
    * the FIRST k bands — the scale path where the full uncapped verify
    * does not fit (at 2M docs the 64-band candidate set is 1.19B pairs;
    * k = 2 is ~1/32 of that). Discovered pairs are a j-BIASED sample of
    * the true-pair universe (a pair at Jaccard j collides in a given
    * band w.p. j², so inclusion probability is
    * π(j) = 1−(1−j²)^k, rising with j); `min_bn` is still computed
    * over ALL bands, so [[recallAtCaps]] can reweight each pair by
    * 1/π(j) (Horvitz–Thompson) to estimate the full-universe recall.
    * Residual bias (conditioning on an early-band collision adds ~1
    * expected colliding bucket, nudging min_bn down) is measured, not
    * assumed: BENCHNOTES.md records k-sampled and exact side by side at
    * 500k docs.
    *
    * Recall here is RELATIVE TO UNCAPPED LSH: pairs that never collide
    * in any band are invisible to both capped and uncapped runs and are
    * governed by the analytic (1−t²)^64 ≤ 1e-8 miss bound (x2b's
    * contract), not by the cap.
    *
    * `Some(scope)` cuts the band index, the candidates, the shingle sets
    * and the true pairs (which feed both sides of the min-bucket join).
    *
    * `prebuiltIndex`: an already-derived [[lshIndex]] frame
    * (`doc_id, band, key`) to use instead of deriving one here, so a
    * caller that calibrates its cap off one cut band index (the recall
    * gate in TextDedupSpec) reads the same cut here instead of caching
    * the chain twice (an already-cut index is not cut again).
    */
  def lshSurvivalStats(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, discoveryBands: Option[Int] = None,
      cuts: Option[Checkpoints.Scope] = None,
      prebuiltIndex: Option[DataFrame] = None): DataFrame = {
    discoveryBands.foreach(k => require(k >= 1 && k <= Hashing.MinhashK / 2,
      s"discoveryBands must be in [1, ${Hashing.MinhashK / 2}], got $k"))
    val cut = Checkpoints.cutIn(cuts) _
    // one band-index derivation per call: the index feeds THREE
    // consumers — discovery, the bucket-size window, and (via
    // candidates) the verify — and a lazy chain re-runs
    // shingles+signatures per consumer. Under `Some(scope)` the index
    // cuts ONCE and every consumer reads the cut; the lazy default keeps
    // the demo-scale no-storage path.
    val bands = cut(prebuiltIndex.getOrElse(lshIndex(df, idCol, textCol)))
    val discovery = discoveryBands.fold(bands)(k => bands.filter(col("band") < k))
    val cand = cut(lshCandidatePairs(discovery, maxBucket = None))
    // lazy demo path: verify against the whole corpus
    val setsBase =
      if (cuts.isEmpty) df else candidateDocs(df, cand, idCol)
    val truePairs = cut(verifyCandidatePairs(cand, setsBase, idCol,
      textCol, threshold, cuts))
    // bucket sizes over the FULL index (the sizes the capped operator
    // filters on), then restricted to docs that appear in a true pair —
    // the window must see every bucket member, so filter AFTER it.
    // The lazy window shape is deliberate: this exact-discovery
    // instrument is priced to ≤5M docs where the window fits (the 10M+
    // face is [[lshSurvivalStatsSampled]], whose histogram tail never
    // materializes the full index with counts). A histogram+cut tail
    // measured x63 2.55→3.11 s and histogram-no-cut 3.77 s at sf0.1 —
    // the extra checkpoint barrier / semi-join stages cost more than the
    // duplicate window saves below the 5M ceiling.
    val bn = bands.withColumn("bn",
      count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
    val pairDocs = truePairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val bnPair = bn.join(pairDocs, Seq("doc_id"), "left_semi")
    joinMinBn(truePairs, bnPair)
  }

  /** The min_bn tail of [[lshSurvivalStatsSampled]]: FULL-corpus
    * bucket sizes for exactly
    * the buckets the true-pair docs are members of — membership rows
    * first (index ⋉ pair docs; the pair-doc side is O(true pairs),
    * broadcastable), then each touched bucket's size via a
    * map-side-combinable histogram over the index rows of those buckets
    * (never the full-index window, which does not fit at 10M docs).
    * `bnPair` feeds BOTH sides of the pair join below, so
    * `Some(scope)` cuts it — without the cut the whole
    * memb ⋈ sizes subtree (itself reading the band index three times)
    * evaluates once per side: x65's tail planned 52 Exchanges and 10
    * checkpoint re-scans from exactly this duplication.
    */
  private def attachMinBn(truePairs: DataFrame, bands: DataFrame,
      cuts: Option[Checkpoints.Scope]): DataFrame = {
    val pairDocs = truePairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val memb = bands.join(pairDocs, Seq("doc_id"), "left_semi")
    val sizes = bands
      .join(memb.select(col("band"), col("key")).distinct(),
        Seq("band", "key"), "left_semi")
      .groupBy(col("band").as("__graft_band"), col("key").as("__graft_key"))
      .agg(count(lit(1)).as("bn"))
    // one size row per bucket: the attach joins on contract keys
    val bnPair = Checkpoints.cutIn(cuts)(memb
      .select(col("doc_id"), col("band").as("__graft_band"),
        col("key").as("__graft_key"))
      .join(sizes, Seq("__graft_band", "__graft_key"))
      .select(col("__graft_band").as("band"), col("__graft_key").as("key"),
        col("doc_id"), col("bn")))
    joinMinBn(truePairs, bnPair)
  }

  /** The two-sided (band, key)-intersection join that reads a pair's
    * min shared-bucket size off a `(doc_id, band, key, bn)` membership
    * frame — the ONE definition shared by the exact (window) and
    * sampled (histogram) bn tails.
    */
  private def joinMinBn(truePairs: DataFrame, bnPair: DataFrame): DataFrame =
    truePairs
      .join(bnPair.select(col("doc_id").as("id_a"), col("band"), col("key"),
        col("bn")), "id_a")
      .join(bnPair.select(col("doc_id").as("__graft_bid"),
        col("band").as("__graft_bband"), col("key").as("__graft_bkey")),
        col("id_b") === col("__graft_bid") &&
          col("band") === col("__graft_bband") &&
          col("key") === col("__graft_bkey"))
      .groupBy(col("id_a"), col("id_b"), col("jaccard"))
      .agg(min(col("bn")).as("min_bn"))

  /** Deterministic 1-in-`oneIn` document sample predicate, identical in
    * Spark and ANSI SQL: keep ids whose `md5(cast(id AS string))` first
    * hex character falls in the first `16/oneIn` of `0..f`. md5 of the
    * decimal string is byte-identical across engines (UTF-8 digits =
    * ASCII), so a DuckDB oracle replays the exact sample — the reason
    * this is md5-on-string rather than xxhash64 (whose seed/variant
    * differs across engines). `oneIn` ∈ {1, 2, 4, 8, 16}: one hex char
    * gives power-of-two rates down to 1/16, which spans the estimator's
    * operating range (1/4 at the 5M validation decade, 1/8 at 10M).
    */
  def samplePredicate(id: Column, oneIn: Int): Column = {
    require(Set(1, 2, 4, 8, 16)(oneIn),
      s"sampleOneIn must be one of 1, 2, 4, 8, 16, got $oneIn")
    if (oneIn == 1) lit(true)
    else {
      val chars = "0123456789abcdef".take(16 / oneIn).map(_.toString)
      substring(md5(id.cast("string").cast("binary")), 1, 1).isin(chars: _*)
    }
  }

  /** [[lshSurvivalStats]] over a SAMPLED PAIR UNIVERSE — the instrument
    * for corpus decades where even band-restricted exact ground truth
    * exceeds a box's scratch (at 10M docs the uncapped candidate
    * universe is 29.64 B pairs ≈ ~100 G of verify scratch vs ~78 G
    * usable, and k-band discovery CANNOT shrink it — k samples the same
    * quadratically growing universe). Pair sampling shrinks the UNIVERSE
    * itself: restrict to pairs whose BOTH endpoints pass
    * [[samplePredicate]] — every such pair that collides in any band
    * does so inside the sampled sub-corpus (bucket membership is
    * per-doc), so full-band discovery over the 1/S sub-corpus finds
    * exactly the true pairs with both endpoints sampled: a uniform
    * 1/S² Bernoulli sample of the true-pair universe. `min_bn` is
    * computed against FULL-corpus bucket sizes (the sizes the cap
    * actually filters on), so each sampled pair's cap-survival
    * indicator is its exact full-universe value, and
    * [[recallAtCaps]]`(stats, caps)` — uniform weights; the
    * Horvitz–Thompson 1/π weights of a uniform design cancel in the
    * recall ratio — is an unbiased estimator of the full-universe
    * recall-at-cap. (CI: binomial on the sampled true-pair count; the
    * endpoint-sharing correlation between sampled pairs is ignored,
    * which the 5M validation face measures rather than assumes.)
    *
    * Scale shape vs [[lshSurvivalStats]]: discovery + verify volumes
    * shrink ×S² (the part that could never fit), and the bucket-size
    * side is a map-side-combinable `(band, key)` histogram joined to
    * the sampled pair docs' buckets — NOT the full-index window that
    * materializes every index row with its count.
    * The histogram semi-joins down to the buckets pair docs touch
    * before counting, so its shuffle output is bounded by those
    * buckets' membership, not the 10·64 M-row index.
    *
    * `prebuiltIndex` / `cuts` as in
    * [[lshSurvivalStats]]. Output schema identical:
    * `(id_a, id_b, jaccard, min_bn)`.
    */
  def lshSurvivalStatsSampled(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, sampleOneIn: Int,
      prebuiltIndex: Option[DataFrame] = None,
      cuts: Option[Checkpoints.Scope] = None): DataFrame = {
    val cut = Checkpoints.cutIn(cuts) _
    val bandsFull = cut(prebuiltIndex.getOrElse(lshIndex(df, idCol, textCol)))
    // the sample is a pure doc_id predicate — a filter on the full
    // index, never a join (the index is the big thing here)
    val bandsSample = bandsFull.filter(samplePredicate(col("doc_id"), sampleOneIn))
    val sampled = df.filter(samplePredicate(col(idCol), sampleOneIn))
    val cand = cut(lshCandidatePairs(bandsSample, maxBucket = None))
    // lazy demo path: verify against the whole sampled sub-corpus
    val setsBase =
      if (cuts.isEmpty) sampled else candidateDocs(sampled, cand, idCol)
    // deliberately NO sets-cut here, unlike [[lshSurvivalStats]]: this
    // instrument's verify base is the 1/S sampled sub-corpus semi-joined
    // to its candidates, so the duplicated lazy shingle build is S²×
    // smaller than the exact instrument's — an interleaved A/B measured
    // the extra checkpoint barrier COSTING more than it saves (x65b
    // 3.25→3.88 s, x65 4.22→4.49 s medians of 3 interleaved runs) where
    // the exact family won (x62 4.35→3.80 s).
    val truePairs = cut(verifyCandidatePairs(cand, setsBase, idCol,
      textCol, threshold))
    // FULL-corpus bucket sizes for exactly the buckets the pair docs
    // are members of ([[attachMinBn]]; the pair join is [[joinMinBn]],
    // shared with [[lshSurvivalStats]] so the two instruments can never
    // disagree on the bn a pair reads, and the two-sided bnPair frame is
    // cut once instead of evaluating its index-scanning subtree once per
    // pair side).
    attachMinBn(truePairs, bandsFull, cuts)
  }

  /** The recall-vs-cap curve off a [[lshSurvivalStats]] frame: one row
    * per cap, `(cap, n_true, n_surviving, recall)` — `n_surviving` is
    * the raw count of true pairs with `min_bn ≤ cap`, `recall` the
    * weighted fraction. With `discoveryBands = Some(k)` (MUST match the
    * value the stats frame was built with) each pair is
    * Horvitz–Thompson-reweighted by its inclusion probability
    * π(j) = (1−(1−j²)^k) / (1−(1−j²)^B) — the probability a true pair
    * at Jaccard j that collides somewhere in the B bands collides in
    * the first k (per-band collisions are independent Bernoulli(j²) by
    * MinHash construction) — so the k-band sample estimates the
    * FULL-universe recall instead of the j-biased sample's. `None`
    * (exact discovery) weighs every pair 1.
    *
    * Cost: one explode over |caps| × one hash aggregate — runs off the
    * (small) stats frame, never the corpus.
    */
  def recallAtCaps(stats: DataFrame, caps: Seq[Int],
      discoveryBands: Option[Int] = None): DataFrame = {
    require(caps.nonEmpty, "need at least one cap")
    val b = (Hashing.MinhashK / 2).toDouble
    val missBase = lit(1.0) - col("jaccard") * col("jaccard")
    val w = discoveryBands.fold(lit(1.0)) { k =>
      (lit(1.0) - pow(missBase, lit(b))) /
        (lit(1.0) - pow(missBase, lit(k.toDouble)))
    }
    stats
      .select(col("min_bn"), w.as("__graft_w"))
      .select(explode(array(caps.distinct.sorted.map(c => lit(c)): _*)).as("cap"),
        col("min_bn"), col("__graft_w"))
      .groupBy(col("cap"))
      .agg(
        count(lit(1)).as("n_true"),
        sum(when(col("min_bn") <= col("cap"), 1L).otherwise(0L)).as("n_surviving"),
        (sum(when(col("min_bn") <= col("cap"), col("__graft_w"))
          .otherwise(lit(0.0))) / sum(col("__graft_w"))).as("recall"))
  }

  /** The MEASURED recall table behind [[budgetForRecall]] — one row per
    * probed corpus decade: `docs → (pairsPerDoc budget → recall at the
    * budget's calibrated cap)`. Every number is a measurement of THIS
    * operator on this repo's synthetic corpus ([[lshSurvivalStats]] +
    * [[recallAtCaps]]; the records are in `probes/` and BENCHNOTES.md's
    * "recall-vs-cap" sections): at 500k and 2M docs the
    * default budget 32 has measured recall 1.0; at 5M docs budget 32
    * (calibrated cap 6) measures 0.998271, budget 48 (cap 8) 0.99982,
    * and budget 105 (cap 16) 1.0. Recall here is relative to the
    * UNCAPPED LSH output (the cap's own price) — the banding scheme's
    * threshold-curve miss rate is a separate, analytic quantity.
    */
  private[graft] val measuredRecallTable: Seq[(Long, Seq[(Double, Double)])] =
    Seq(
      500000L -> Seq(32.0 -> 1.0),
      2000000L -> Seq(32.0 -> 1.0),
      5000000L -> Seq(32.0 -> 0.998271, 48.0 -> 0.99982, 105.0 -> 1.0))

  /** The pairs-per-doc budget that delivers at least `recallFloor` —
    * the measured recall curve consumed as an API instead of prose. The
    * lookup is CONSERVATIVE on both axes: `nDocs` maps to the smallest
    * measured decade ≥ it (recall at a fixed budget decays with corpus
    * growth — 1.0 → 1.0 → 0.998271 across the measured decades — so
    * pricing a smaller corpus off a larger decade's row can only
    * over-deliver), and within the decade the SMALLEST measured budget
    * whose measured recall ≥ the floor is returned (never an
    * interpolated midpoint: between measured budgets the curve is
    * unknown, so the next measured point up is the honest choice).
    *
    * REFUSES what the table cannot price, rather than extrapolating: a
    * corpus beyond the largest measured decade (5M docs), or a floor
    * above the decade's best measured recall. Extend the table by
    * running the instrument ([[lshSurvivalStats]] → [[recallAtCaps]])
    * at the new operating point — that is a measurement, not a code
    * change, which is the point of keeping the table data.
    */
  def budgetForRecall(nDocs: Long, recallFloor: Double): Double = {
    require(nDocs > 0, s"need nDocs > 0, got $nDocs")
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    val row = measuredRecallTable.find(_._1 >= nDocs).getOrElse(
      throw new IllegalArgumentException(
        s"no measured recall decade covers $nDocs docs (largest priced: " +
          s"${measuredRecallTable.last._1}) — extend the measured table " +
          "with lshSurvivalStats + recallAtCaps at this corpus size " +
          "before asking for a priced floor"))._2
    row.find(_._2 >= recallFloor).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        f"recall floor $recallFloor%.6f is above the best measured " +
          f"recall ${row.map(_._2).max}%.6f at this corpus decade — " +
          "no priced budget delivers it; measure a larger budget with " +
          "lshSurvivalStats + recallAtCaps or lower the floor"))
  }

  /** Signature-only near-dup pairs (X2h) — [[minhashLshPairs]]' candidate
    * machinery with ESTIMATED Jaccard instead of exact verification: the
    * score is the fraction of agreeing signature slots (the classic
    * MinHash estimator, E[matches/k] = J), computed by zipping the two
    * 128-slot signatures — so the whole operator runs off the signature
    * frame alone and NEVER re-reads document text. This is the 100 TB
    * re-score path: a production ingest persists [[minhashSignatures]]
    * once (~1 KB/doc vs the full text), and every later threshold sweep,
    * re-clustering, or cross-snapshot comparison is a join over stored
    * signatures — no shingle rebuild, no corpus scan. Exact verification
    * ([[minhashLshPairs]]) remains the precision tool; at k=128 the
    * estimator's std-dev is sqrt(J(1-J)/128) ≤ 0.045, the right tool for
    * corpus-scale triage. `maxBucket` is the same stop-bucket cap.
    *
    * Score parity: matches/128 is exact binary arithmetic (k ≤ 128,
    * division by a power of two) — bit-identical in the oracle's replay.
    */
  /** `cuts`: lazily the signature aggregate runs once for the banding
    * and once per pair side (three corpus scans). `Some(scope)` cuts the
    * signatures ONCE for all three consumers — the from-text scale path,
    * approaching [[estimatePairsFromSignatures]]' store cost.
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxBucket: Option[Int] = None,
      cuts: Option[Checkpoints.Scope] = None): DataFrame =
    estimatePairsFromSignatures(
      Checkpoints.cutIn(cuts)(minhashSignatures(df, idCol, textCol)),
      threshold, maxBucket)

  /** [[minhashEstimatePairs]] off an ALREADY-BUILT signature frame — the
    * store-probing face: `sigs` is a persisted `(doc_id, sig)` table
    * (e.g. parquet written at ingest), and the whole re-score touches
    * nothing else. This is what "re-score the corpus at a new threshold"
    * costs at 100 TB: a scan of 128-long rows, one (band, key) shuffle,
    * and a k-bounded slot-compare per candidate — document text never
    * enters the job.
    */
  def estimatePairsFromSignatures(sigs: DataFrame, threshold: Double,
      maxBucket: Option[Int] = None): DataFrame = {
    val cand = lshCandidatePairs(bandKeysOfSignatures(sigs), maxBucket)
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    cand
      .join(sigs.select(col("doc_id").as("__graft_id_a"), col("sig").as("sig_a")),
        "__graft_id_a")
      .join(sigs.select(col("doc_id").as("__graft_id_b"), col("sig").as("sig_b")),
        "__graft_id_b")
      .select(col("__graft_id_a").as("id_a"), col("__graft_id_b").as("id_b"),
        (matches.cast("double") / Hashing.MinhashK).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard pairs (X2c) via an inverted-index self-join:
    * co-occurring docs meet on their shared shingle, shared-shingle
    * counts fall out of a pair aggregate. Equals the all-pairs scan for
    * every pair sharing ≥1 shingle while touching only co-occurring
    * docs. `maxDocFreq` drops stop-shingles (document frequency above
    * the cap) — the frequency cut that bounds the worst bucket at
    * open-web scale. With a cap, BOTH the shared
    * counts AND the per-doc set sizes are computed over the capped
    * shingle universe, so the reported value is the exact Jaccard of the
    * capped sets (pairs whose similarity rode on stop-shingles drop out —
    * the intended recall tradeoff — but surviving scores are consistent).
    */
  /** Postings annotated with per-shingle document frequency `df`, with
    * stop-shingles (df > `maxDocFreq`) removed BEFORE the (sh) exchange
    * when a cap is set — the shared frequency machinery of
    * [[ngramJaccardPairs]] and [[containmentPairs]].
    *
    * `df` rides a WINDOW over the postings' (sh) hash-partitioning —
    * the same one-exchange shape as [[lshCandidatePairs]]' bucket
    * count: the count, the per-doc capped sizes, AND both self-join
    * sides all hang off ONE shuffle of the postings (a two-phase COUNT
    * + join-back formulation shuffles the postings for the join anyway
    * and adds a second exchange of the per-shingle counts plus an SMJ to
    * re-attach them; the window reads the same sorted runs the
    * self-join needs and costs no extra exchange). A
    * collect_set-per-shingle form would hit the ObjectHashAggregate
    * sort-based fallback past 128 groups (see [[minhashLshPairs]]).
    *
    * Skew guard (the window buffers each
    * shingle's ENTIRE posting list in one task before any filter can
    * drop it, so a corpus-scale stop-shingle — millions of postings on
    * one reducer — is a one-task spill/straggler that exists only to be
    * discarded): with a cap, a SOUND over-cap shingle set is detected
    * first on a deterministic 1-in-[[HotShingleSampleOneIn]] document
    * sample ([[samplePredicate]] — the filter pushes below the shingle
    * explode, so the detection pass tokenizes 1/16 of the corpus, not
    * all of it; an exact full two-phase count was A/B'd and DOUBLED
    * x2c2 at sf0.1 by re-deriving every posting) and broadcast
    * anti-joined against the postings BELOW the (sh) exchange — a
    * stop-shingle's postings die map-side and never cross the network.
    * Soundness: the sample is a subset of the corpus, so a shingle's
    * sampled count never exceeds its true df — `sampled > cap ⟹
    * df > cap`, no false positives, and the window's exact `df ≤ cap`
    * filter below stays as the backstop for hot shingles the sample
    * under-counts. What the guard therefore bounds is the CATASTROPHIC
    * key: a shingle with df ≥ ~4·16·cap postings is flagged with
    * probability ≥ 1−exp(−Ω(cap)) (binomial lower tail), so the worst
    * group a window task can buffer concentrates at O(64·cap) rows —
    * thousands — instead of the unbounded millions-of-postings
    * boilerplate shingle; the broadcast set is only those flagged
    * monsters, in real corpora the handful of stop-shingles the cap
    * exists for. Output is identical either way: whole shingle groups
    * drop, so surviving groups' window counts equal their true df.
    */
  private[operators] val HotShingleSampleOneIn = 16

  private def postingsWithDf(posts: DataFrame,
      maxDocFreq: Option[Int]): DataFrame = {
    val kept = maxDocFreq.fold(posts) { cap =>
      val hot = posts
        .filter(samplePredicate(col("doc_id"), HotShingleSampleOneIn))
        .groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > cap)
        .select(col("sh"))
      posts.join(broadcast(hot), Seq("sh"), "left_anti")
    }
    kept.withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(maxDocFreq.fold(lit(true))(cap => col("df") <= cap))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val td = tokArrays(df, idCol, textCol)
    val posts = td.select(col("doc_id"), explode(shingleSet(col("toks"))).as("sh"))
    val okPosts = postingsWithDf(posts, maxDocFreq)
    val sizes = maxDocFreq match {
      case None =>
        td.select(col("doc_id"), size(shingleSet(col("toks"))).as("n"))
      case Some(_) =>
        // per-doc size over the capped universe (df = 1 postings kept:
        // they count toward set sizes even though they pair with nothing)
        okPosts.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    }
    val pairPosts = okPosts.filter(col("df") >= 2).select(col("doc_id"), col("sh"))
    pairPosts.as("a")
      .join(pairPosts.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("__graft_id_a"), col("b.doc_id").as("__graft_id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("__graft_id_a"), col("n").as("na")),
        "__graft_id_a")
      .join(sizes.select(col("doc_id").as("__graft_id_b"), col("n").as("nb")),
        "__graft_id_b")
      .select(col("__graft_id_a").as("id_a"), col("__graft_id_b").as("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: containment of A in B =
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| — the directional
    * measure that catches a short doc EMBEDDED in a long one (a quote,
    * an excerpt, a scraped fragment), where symmetric Jaccard stays low
    * because the long doc's size dominates the union. Emits (id_a, id_b,
    * cont_a, cont_b) for pairs where EITHER direction reaches
    * `threshold`; both ratios are one IEEE division over exact integer
    * counts, so the oracle replays them bit-identically.
    *
    * Scale: identical machinery to [[ngramJaccardPairs]] (shared
    * inverted-index self-join, `maxDocFreq` stop-shingle cap bounding
    * the worst key at C(cap,2) pairs) — only the final formula differs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val td = tokArrays(df, idCol, textCol)
    val posts = td.select(col("doc_id"), explode(shingleSet(col("toks"))).as("sh"))
    // window-df + broadcast stop-shingle guard — see [[postingsWithDf]]
    val okPosts = postingsWithDf(posts, maxDocFreq)
    val sizes = maxDocFreq match {
      case None =>
        td.select(col("doc_id"), size(shingleSet(col("toks"))).as("n"))
      case Some(_) =>
        okPosts.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    }
    val pairPosts = okPosts.filter(col("df") >= 2).select(col("doc_id"), col("sh"))
    pairPosts.as("a")
      .join(pairPosts.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("__graft_id_a"), col("b.doc_id").as("__graft_id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("__graft_id_a"), col("n").as("na")),
        "__graft_id_a")
      .join(sizes.select(col("doc_id").as("__graft_id_b"), col("n").as("nb")),
        "__graft_id_b")
      .select(col("__graft_id_a").as("id_a"), col("__graft_id_b").as("id_b"),
        (col("inter").cast("double") / col("na")).as("cont_a"),
        (col("inter").cast("double") / col("nb")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /** Connected components over similarity pairs (X2f): label propagation
    * to the minimum id — turns pairwise near-dup evidence into dedup
    * CLUSTERS (the transitive closure production dedup actually keys on:
    * keep one doc per cluster, not per pair). Returns (node, cluster_id)
    * for every id appearing in a pair; cluster_id = the smallest id
    * reachable through the pair graph.
    *
    * Scale shape: per iteration one join (edge × label) + one min-agg +
    * one label update, each a bounded shuffle on node id; labels are
    * cut per round so iteration N+1 reads a materialized frame instead
    * of re-running rounds 1..N (the standard iterative-algorithm cut).
    * Converges in O(component diameter) rounds — near-dup clusters are
    * near-cliques, so a handful; `maxIters` caps the loop and
    * convergence is verified (throws if not reached, rather than
    * silently returning partial labels). The first propagation round is
    * fused into init, so the loop bounds propagation rounds
    * 2..maxIters+1: a component of diameter exactly maxIters+1
    * converges.
    *
    * Storage: this call releases the edges and each superseded label
    * generation itself; the final generation, which the result reads,
    * moves into `cuts`.
    */
  def dedupClusters(pairs: DataFrame, cuts: Checkpoints.Scope,
      idACol: String = "id_a", idBCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    Checkpoints.scoped { edgeScope => Checkpoints.scoped { labelScope =>
      // both edge directions from ONE evaluation of the pairs frame: a
      // self-union (pairs ∪ pairs.swapped) would plan the ENTIRE pairs
      // subtree twice — for the composed x2f path that is the full LSH
      // chain (signature aggregate, band window, self-join, verify) run
      // once per union arm inside the edges cut (the pairs chain, not
      // the iterations, is x2f's cost). The explode emits (a→b, b→a) per
      // pair row in a codegen projection, so the chain evaluates once;
      // same rows, same distinct.
      val edges = edgeScope.cut(
        pairs.select(explode(array(
            struct(col(idACol).as("src"), col(idBCol).as("dst")),
            struct(col(idBCol).as("src"), col(idACol).as("dst")))).as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
          .distinct()) // consumed every round: materialize once
      // init = identity labels with the FIRST propagation round fused in:
      // label(v) = min(v, min direct neighbor) — exactly what round 1
      // over identity labels computes, for the price of one aggregate
      // instead of a full join+agg+update round (one loop round — two
      // checkpoint/convergence jobs — fewer per call; the trajectory from
      // here is identical, spec-pinned by the chain-propagation test).
      // One label row per node: the update joins on a contract key.
      var labels = labelScope.cut(
        edges.groupBy(col("src").as("__graft_node"))
          .agg(least(col("src"), min(col("dst"))).as("label")))
      var it = 0
      var converged = false
      while (it < maxIters && !converged) {
        val neighborMin = edges
          .join(labels.select(col("__graft_node").as("dst"),
            col("label").as("nl")), "dst")
          .groupBy(col("src").as("__graft_node"))
          .agg(min(col("nl")).as("min_nl"))
        // the superseded generation is released: updated is material
        val updated = labelScope.recut(labels
          .join(neighborMin, Seq("__graft_node"), "left")
          .select(col("__graft_node"),
            least(col("label"), coalesce(col("min_nl"), col("label"))).as("label"),
            (col("min_nl") < col("label")).as("__changed")))
        converged = updated.filter(col("__changed")).isEmpty
        labels = updated.drop("__changed")
        it += 1
      }
      if (!converged)
        throw new IllegalArgumentException(
          s"label propagation did not converge within $maxIters iterations")
      cuts.adopt(labelScope) // the result reads the final generation
      labels.select(col("__graft_node").as("node"), col("label").as("cluster_id"))
    }}
  }

  /** SimHash signatures (X2d): per-token codegen'd hashes vote per bit;
    * majorities pack into a 30-bit signature. All stages map-side
    * combinable on (doc, bit).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Hashing.registerAll(df.sparkSession)
    df.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"), call_function("char_poly_hash", col("tok")).as("x"))
      .select(col("doc_id"), col("x"), explode(sequence(lit(0), lit(29))).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(x >> bit) & 1") === 1, 1).otherwise(-1)).as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, expr("shiftleft(cast(1 as bigint), bit)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Embedding near-dup pairs (X2e): int64-quantized cosine over a
    * bounded candidate set — exact integer dot products via the codegen'd
    * dot_long kernel, sharing [[VectorSearch.quantize]]'s quantization
    * contract. O(n²) in the input size: pre-bound the input (or use
    * [[VectorSearch.bucketedAnn]] for the full-corpus path).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = VectorSearch.quantize(df, idCol, vecCol)
    n.alias("a")
      .join(n.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorSearch.cosineOf(call_function("dot_long", col("a.qv"), col("b.qv")),
          col("a.nq"), col("b.nq")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** All 1-deletion variants of `strCol` plus the string itself — the
    * symmetric-delete (SymSpell) candidate key set: two strings are
    * within edit distance 1 iff their key sets intersect (equal →
    * identity key; one insertion/deletion → one side's variant equals
    * the other's original; one substitution → deleting the differing
    * position from each yields the same string).
    */
  private def del1Keys(strCol: Column): Column =
    array_distinct(concat(array(strCol),
      transform(sequence(lit(1), length(strCol)),
        p => concat(substring(strCol, lit(1), p - 1),
          substring(strCol, p + 1, length(strCol))))))

  /** Fuzzy entity-resolution join (X2g): all (left, right) string pairs
    * within edit distance ≤ 1, without an all-pairs comparison. Candidate
    * generation is an EQUI-join on symmetric-delete keys (each row emits
    * length+1 keys), then the exact `levenshtein` verifies each distinct
    * candidate pair — the string-world analog of the LSH bucket→verify
    * shape. Scale: shuffle is O(n·len) key rows; a candidate bucket is
    * bounded by the number of strings sharing a deletion variant (corpus-
    * dependent, typically small), never n². The all-pairs alternative
    * this avoids is O(n²) levenshtein calls — at 100 TB, unrunnable.
    */
  /** Output columns are the CANONICAL `(left_id, left_str, right_id,
    * right_str, dist)` — input column names may coincide across the two
    * sides (the self-dedup call passes the same frame twice), so the
    * operator renames internally and never leaks an ambiguous reference.
    */
  def editDistanceJoin(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String): DataFrame = {
    val lk = left.select(col(leftId).as("left_id"), col(leftStr).as("left_str"))
      .withColumn("__k", explode(del1Keys(col("left_str"))))
    val rk = right.select(col(rightId).as("right_id"), col(rightStr).as("right_str"))
      .withColumn("__k", explode(del1Keys(col("right_str"))))
    lk.join(rk, "__k")
      .select(col("left_id"), col("left_str"), col("right_id"), col("right_str"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("left_str"), col("right_str")).cast("long"))
      .filter(col("dist") <= 1)
  }

  // ---- benchmark decontamination --------------------------------------

  /** Training-corpus decontamination — flag corpus documents sharing at
    * least one distinct lowercased word `n`-gram with a benchmark/eval
    * set (the published pre-training hygiene rule: an n-gram collision
    * with the test set means the document may leak answers). Output: one
    * row per contaminated corpus doc with the count of distinct shared
    * n-grams; anti-join the result against the corpus to keep the clean
    * remainder.
    *
    * Scale: both sides explode to DISTINCT n-grams (per doc on the corpus
    * side, globally on the benchmark side) and meet in ONE equi-join on
    * the n-gram string — never a doc×doc comparison. The benchmark side
    * is a fixed eval suite (tiny vs a 100 TB corpus): Spark broadcasts it
    * under the threshold, and at any size the join stays a bounded-key
    * shuffle. For a pre-prune that drops non-colliding corpus grams
    * BEFORE the shuffle, see [[decontaminateBloom]].
    *
    * Tokenization: whitespace-RUN split with empty tokens dropped (the
    * normalize-then-ngram rule) — a raw single-space split would embed
    * empty tokens from consecutive spaces and never split on
    * newlines/tabs, yielding spurious or missed collisions on
    * whitespace-structured text.
    *
    * The benchmark side needs only a text column (`benchTextCol`,
    * defaulting to the corpus `textCol` name) — benchmark ids never
    * appear in the output.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, benchTextCol: Option[String] = None): DataFrame =
    corpusGrams(corpus, idCol, textCol, n)
      // explicit broadcast: the benchmark side is tiny BY CONTRACT (a
      // fixed eval suite), but it reaches the join as an aggregate with
      // no stats, so the planner would otherwise sort-merge — shuffling
      // every corpus gram string. Broadcasting keeps the corpus side
      // shuffle-free until the post-join per-doc count (measured 3.5×
      // at sf0.1).
      .join(broadcast(benchGrams(benchmark, benchTextCol.getOrElse(textCol), n)), "g")
      // corpus grams are distinct per doc and bench grams globally
      // distinct, so the join emits one row per (doc, shared gram):
      // count == n_shared
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Lowercased whitespace-run token array with empty tokens removed. */
  private def wsTokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** One row per (corpus doc, distinct n-gram). */
  private def corpusGrams(corpus: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"), wsTokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n) // nGramSet precondition
      .select(col("doc_id"), explode(nGramSet(col("toks"), n)).as("g"))

  /** Globally distinct benchmark n-grams (column `g`). */
  private def benchGrams(benchmark: DataFrame, textCol: String,
      n: Int): DataFrame =
    benchmark
      .select(wsTokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(nGramSet(col("toks"), n)).as("g"))
      .distinct()

  /** Bloom-pruned decontamination — identical output to [[decontaminate]]
    * (spec-pinned), but corpus n-grams are pre-filtered against a bloom
    * filter of the benchmark grams, so the overwhelming majority of a
    * clean corpus's grams die inside the scan stage's codegen'd filter
    * instead of reaching the join. The equi-join then verifies exactly,
    * so false positives cannot reach the output.
    *
    * When to use which (measured, BENCHNOTES.md): under the
    * tiny-benchmark contract [[decontaminate]]'s broadcast verify join
    * is already one hash lookup per corpus gram, so the bloom probe adds
    * work and plain x23 wins slightly at every corpus size tested (sf0.1
    * and 10× sf1). This variant's regime is a benchmark TOO LARGE TO
    * BROADCAST (millions of eval grams): there the verify join becomes
    * an exchange of every corpus gram, and the scan-side prune cuts that
    * shuffle to the true collisions plus `fpp` false positives.
    *
    * The filter is Spark's own `util.sketch.BloomFilter` probed through
    * the native `BloomFilterMightContain` expression over `xxhash64(g)` —
    * the exact machinery Catalyst's runtime row-level filtering injects
    * for shuffle-join pruning, so the probe compiles to one hash plus one
    * `mightContainLong` call per gram inside whole-stage codegen. (An
    * earlier hand-rolled variant probed a 2^20-bit array LITERAL with
    * three `element_at` bit-tests per gram; the 16K-element literal and
    * triple probe made the filter ~3× the cost of the join it was meant
    * to prune.)
    *
    * The filter is built from ONE bounded collect of the benchmark's
    * distinct grams (+ hashes) — the benchmark is a fixed eval suite,
    * tiny vs the corpus by contract (the same bounded-collect legitimacy
    * as IVF's k centroids, VectorSearch.scala) — and sized to the exact
    * gram count, so filter bytes scale with the benchmark, never a fixed
    * 128 KiB. The collected grams are reused as the verification join's
    * broadcast side, so the main job scans ONLY the corpus.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      benchTextCol: Option[String] = None,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    // ONE bounded job over the benchmark side: the collect feeds BOTH the
    // bloom build (hashes) and the verification join's broadcast side
    // (gram strings, as a LocalRelation) — the main query then scans only
    // the corpus, where all the data is.
    val collected = benchGrams(benchmark, benchTextCol.getOrElse(textCol), n)
      .select(col("g"), xxhash64(col("g")).as("h")).collect()
    // floor the bit count so a degenerate (tiny benchmark, lax fpp)
    // sizing still yields a legal filter — create(n, fpp) alone throws
    // on a computed size of zero bits
    val items = math.max(collected.length.toLong, 1L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(items,
      math.max(64L,
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp)))
    collected.foreach(r => bloom.putLong(r.getLong(1)))
    val bench = corpus.sparkSession.createDataset(
      collected.map(_.getString(0)).toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("g")
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // Catalyst exposes BloomFilterMightContain only to its own runtime-
    // filter rule; surface it through the session function registry, the
    // same bridge the repo's custom codegen'd expressions use.
    corpus.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1)),
      "built-in")
    corpusGrams(corpus, idCol, textCol, n)
      .filter(call_function("bloom_might_contain", lit(bytes),
        xxhash64(col("g"))))
      .join(broadcast(bench), "g") // tiny-by-contract, like [[decontaminate]]
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ---- exact substring-span dedup -------------------------------------

  /** Exact substring-span deduplication — the sub-document sibling of
    * [[exactDedup]]: instead of dropping whole duplicate documents, remove
    * REPEATED TOKEN SPANS (boilerplate headers, license blocks, quoted
    * chunks) wherever the same `n`-token window occurs more than once in
    * the corpus, keeping exactly one canonical occurrence (the published
    * "deduplicating training data" rule, applied at window granularity so
    * it stays a join, not a suffix array).
    *
    * Semantics: every length-`n` token window is an occurrence keyed by
    * its text. For each window text with ≥ 2 occurrences (across OR
    * within documents), the occurrence with the smallest `(doc, start)`
    * is canonical; every token position covered by a NON-canonical
    * occurrence is deleted. Output: one row per tokenizable doc —
    * `n_toks` (original), `n_removed`, and `cleaned_text` (surviving
    * tokens in original order; empty string when the whole doc was
    * duplicated spans). NULL-text docs have no tokens and are absent.
    *
    * Determinism: the canonical choice is a total order, so results are
    * partition- and engine-independent (replayed declaratively by the
    * DuckDB oracle).
    *
    * Scale: tokenize/explode is token-bounded; the duplicate-window
    * aggregate is keyed by window text (vocabulary-bounded, map-side
    * combinable `min(struct)` — no window sort); only duplicated windows
    * survive to the position explode, which is bounded by n × duplicate
    * occurrences; reassembly is one doc-keyed aggregate whose per-group
    * state is the doc's own tokens. Nothing is ever doc × doc.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"span window must be >= 1 token, got $n")
    val toks = df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(col("toks").isNotNull)
    // 1-based window start positions
    val occ = toks.filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(nGrams(col("toks"), n)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
    val dup = occ.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("can"),
        count(lit(1)).as("occs"))
      .filter(col("occs") >= 2)
      .select(col("g"), col("can"))
    val removed = occ.join(dup, "g")
      .filter(struct(col("doc_id"), col("pos")) =!= col("can"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    // Reassembly stays ARRAY-NATIVE: removed positions fold to one
    // set per doc (bounded by that doc's duplicated spans — most docs
    // have none and skip the aggregate entirely), join back to the token
    // arrays on doc id, and the surviving tokens are an array_except
    // over position indices — all codegen projections. The previous
    // shape exploded EVERY token into (doc, pos, word) rows, left-joined
    // the removed set per token, and re-sorted every document's tokens
    // through a collect_list ObjectHashAggregate: a full-corpus shuffle
    // + object aggregate to rebuild strings the scan-side array already
    // held in order (x28 3.42→measured below at sf0.1; at 100 TB the
    // token explode was the operator's dominant shuffle).
    val rmSets = removed.groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("__rm"))
    toks
      .join(rmSets, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("__rm"), array().cast("array<int>")).as("__rm"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(col("__rm")).cast("long").as("n_removed"),
        concat_ws(" ", transform(
          array_except(sequence(lit(1), size(col("toks"))), col("__rm")),
          p => element_at(col("toks"), p))).as("cleaned_text"))
  }

  /** Segment-level corpus dedup (CCNet-style paragraph dedup, adapted to
    * the harness corpus which has no newlines): cut each document into
    * consecutive NON-overlapping `width`-token segments, drop every
    * corpus-wide repeat of a segment (keep-first by (doc_id, seg_idx) —
    * a total order, so deterministic), and reassemble each document from
    * its surviving segments in original order.
    *
    * Returns one row per input doc: doc_id, n_segs, n_kept, clean_text
    * (empty string when every segment of the doc was seen earlier —
    * i.e. the doc is fully boilerplate/duplicate).
    *
    * Differs from [[dedupSpans]] (overlapping n-gram windows, canonical
    * occurrence kept in place): here segments tile the document, which is
    * the CCNet/CommonCrawl boilerplate-removal shape — cheap enough to
    * run over every snapshot because state is one row per DISTINCT
    * segment, not per occurrence pair.
    *
    * Scale: explode is token-bounded (n/width rows per doc); keep-first
    * is one row_number window keyed by segment text (shuffle on segment
    * hash — by far the dominant key space, so skew-free); reassembly is
    * one doc-keyed aggregate whose state is the doc's own segments.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width >= 1, s"segment width must be >= 1 token, got $width")
    val toks = df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    val segs = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / width).cast("int")),
        i => array_join(slice(col("toks"), i * width + 1, lit(width)), " ")))
        .as(Seq("seg_idx", "seg")))
    val keepFirst = Window.partitionBy(col("seg"))
      .orderBy(col("doc_id"), col("seg_idx"))
    segs.withColumn("__rn", row_number().over(keepFirst))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("__rn") === 1, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        concat_ws(" ", transform(
          filter(array_sort(collect_list(
            struct(col("seg_idx"), col("seg"), (col("__rn") === 1).as("keep")))),
            s => s.getField("keep")),
          s => s.getField("seg"))).as("clean_text"))
  }

  /** MOSS-style winnowing fingerprints (Schleimer et al. 2003): hash every
    * k-token gram, then in each sliding window of `w` consecutive gram
    * hashes select the minimum — the classic guarantee that any shared
    * run of ≥ w+k-1 tokens yields at least one shared fingerprint, with
    * only ~2/(w+1) of grams kept. Returns the DISTINCT (doc_id, fp)
    * fingerprint set.
    *
    * Gram hashes COMPOSE from per-token char-polynomial hashes (token
    * hash once per position, then k multiply-adds per gram) rather than
    * re-hashing each gram's full character string: identical determinism,
    * but the per-gram cost drops from O(k·word_len) char ops to O(k) —
    * and the DuckDB oracle replays the same composition with one
    * char-reduce per TOKEN instead of per gram (measured intractable at
    * sf0.1 in the per-gram-string form).
    *
    * Scale: token hashing and gram composition are narrow codegen'd HOF
    * projections; the sliding min and the window-count guard ride ONE
    * doc-keyed sort (two window functions, same exchange); output is the
    * winnowed set — w+1× smaller than the gram stream, which is the
    * point: downstream joins index fingerprints, not grams.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k,w >= 1, got k=$k w=$w")
    import Hashing.Mod
    val toks = df.select(col(idCol).as("doc_id"),
        transform(split(col(textCol), " "), w => Hashing.charPolyHash(w)).as("ths"))
      .filter(size(col("ths")) >= k)
    val grams = toks
      // gram count per doc is a function of the PRE-explode array size
      // (m = |ths| - k + 1), so the full-window guard below is a plain
      // per-row predicate — the previous count(*)-over-doc window
      // re-derived it from the exploded rows, a second window function
      // (and its per-row frame state) on the same exchange for a value
      // the scan side already knew
      .select(col("doc_id"), (size(col("ths")) - (k - 1)).as("mg"), posexplode(
        transform(sequence(lit(0), size(col("ths")) - k), i =>
          aggregate(sequence(lit(1), lit(k)), lit(0L), (acc, j) =>
            (acc * 131 + element_at(col("ths"), i + j)) % Mod)))
        .as(Seq("p0", "h")))
      .select(col("doc_id"), col("mg"), (col("p0") + 1).as("pos"), col("h"))
    val slide = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(slide))
      // only full windows select (positions 1 .. m-w+1)
      .filter(col("pos") <= col("mg") - (w - 1))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Winnowing near-dup candidates: docs sharing ≥ `minShared` winnowed
    * fingerprints. The fingerprint equi-join is the same inverted-index
    * shape as [[ngramJaccardPairs]], but over the w+1×-compressed
    * fingerprint sets — the copy-detection formulation that scales to
    * corpus-wide sweeps. `maxDocFreq` drops boilerplate fingerprints
    * (document frequency above the cap) before the self-join, bounding
    * the worst key at C(cap, 2) pairs exactly like the capped Jaccard.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDocFreq: Int): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    val capped = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxDocFreq)
      .select(col("doc_id"), col("fp"))
    val b = capped.select(col("doc_id").as("id_b"), col("fp"))
    capped.select(col("doc_id").as("id_a"), col("fp"))
      .join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
