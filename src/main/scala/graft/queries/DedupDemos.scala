package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.TextDedup
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Deduplication demonstrators (SURVEY.md §2B X1/X2) over the harness
  * `documents` / `embeddings` tables. The operators themselves live in
  * [[graft.operators.TextDedup]] (column-parameterized library API);
  * each demo binds them to the harness schema and pins a deterministic
  * output order for the DuckDB oracle hash-compare.
  *
  * Oracle-parity design: every hash is deterministic integer arithmetic
  * (graft.functions.Hashing) reproducible in DuckDB SQL; similarity
  * scores are exact-integer ratios so the final doubles are bit-identical
  * across engines. No engine-native hash functions, no RNG.
  */
object DedupDemos {

  import Hashing.Mod

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** DuckDB equivalents of the shared shingle CTEs (same definition);
    * `docFilter` is an extra AND-clause on the source docs (e.g. the
    * bounded-input sample of x2c).
    */
  private def oracleShingleCtes(docFilter: String = ""): String = s"""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3$docFilter),
      sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks)-2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shs
        FROM tok)"""

  private def oracleJaccardPairs(threshold: Double, docFilter: String = ""): String = s"""
      ${oracleShingleCtes(docFilter)}
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(len(list_intersect(a.shs, b.shs)) AS double)
               / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE jaccard >= $threshold
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""

  /** Capped-universe Jaccard oracle (TextDedup.ngramJaccardPairs with
    * maxDocFreq = `cap`): both shared-shingle counts and per-doc set sizes
    * are computed over only the shingles whose document frequency is
    * within the cap — the exact Jaccard of the capped sets.
    */
  private def oracleJaccardPairsCapped(threshold: Double, cap: Int): String = s"""
      ${oracleShingleCtes()},
      posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      ok AS (SELECT s FROM posts GROUP BY s HAVING count(*) <= $cap),
      cposts AS (SELECT p.doc_id, p.s FROM posts p JOIN ok USING (s)),
      sizes AS (SELECT doc_id, count(*) AS n FROM cposts GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM cposts a JOIN cposts b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             cast(inter AS double) / (na.n + nb.n - inter) AS jaccard
      FROM pairs
      JOIN sizes na ON na.doc_id = pairs.id_a
      JOIN sizes nb ON nb.doc_id = pairs.id_b
      WHERE jaccard >= $threshold
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""

  // X1: exact keep-first dedup — TextDedup.exactDedup (window row_number,
  // one hash shuffle on the key, deterministic tiebreak).
  private val x1 = Demo("x1_dedup_exact", Some("""
      SELECT lang, source, doc_id
      FROM (SELECT lang, source, doc_id,
                   row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1
      ORDER BY lang ASC NULLS LAST, source ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.exactDedup(
        t(s, dir, "documents"), Seq("lang", "source"), col("doc_id"))
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last))

  /** DuckDB replay of the `char_poly_hash`-based rolling document
    * fingerprint (graft.functions.Hashing) — ONE definition site shared
    * by every fingerprint-consuming oracle (x2a, x18, x43).
    */
  private[queries] val fingerprintSql = s"""list_reduce(
               list_prepend(cast(0 AS bigint),
                 list_transform(string_split(text, ' '), tk ->
                   list_reduce(
                     list_prepend(cast(0 AS bigint),
                       list_transform(generate_series(1, length(tk)), i ->
                         cast(ascii(substr(tk, i, 1)) AS bigint))),
                     (acc, v) -> (acc * 31 + v) % $Mod))),
               (acc, h) -> (acc * 131 + h) % $Mod)"""

  // X2a: document fingerprint — rolling hash over codegen'd token hashes.
  private val x2a = Demo("x2a_fingerprint", Some(s"""
      SELECT doc_id,
             $fingerprintSql AS fingerprint
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.fingerprint(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last))

  // X2b: MinHash+LSH near-dup pairs — the 100 TB dedup path. The exact
  // brute-force oracle matches because at j >= 0.5 the per-pair LSH miss
  // probability is (1-j^2)^64 <= 1e-8 and candidates are exact-verified.
  private val x2b = Demo("x2b_minhash_lsh", Some(oracleJaccardPairs(0.5)),
    (s, dir, _) => TextDedup.minhashLshPairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  /** Capped-LSH oracle (TextDedup.minhashLshPairs with maxBucket =
    * `cap`): unlike x2b — whose brute-force oracle rides the ≤1e-8
    * recall argument — the cap CHANGES semantics (a pair whose every
    * colliding bucket blows the cap is dropped), so this oracle replays
    * the banding itself declaratively: per-shingle char-poly hashes →
    * the 128 minhash permutations (same integer formulas as
    * graft.functions.Hashing: a_s = (s*2654435761+1) mod P,
    * b_s = (s*40503+7) mod P, P = 2^31−1) → 64 band keys
    * (sig[2b]*P + sig[2b+1]) → bucket sizes → the 2 ≤ bn ≤ cap live
    * filter → in-bucket pairs → exact Jaccard verification. All exact
    * int64 arithmetic (every intermediate < 2^62), bit-identical across
    * engines.
    */
  private def oracleLshCappedPairs(threshold: Double, cap: Int): String = s"""
      ${oracleLshCappedCtes(cap)}
      SELECT cand.id_a, cand.id_b,
             cast(len(list_intersect(sa.shs, sb.shs)) AS double)
               / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.id_a
      JOIN sh sb ON sb.doc_id = cand.id_b
      WHERE jaccard >= $threshold
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""

  /** The banding chain through `bk` (per-doc (band, key) rows) with no
    * bucket policy — shared by the SELF-join capped oracles (x2b2/x2f2)
    * and the CROSS-set incremental capped oracle (x58b), whose bucket
    * filters differ (2 ≤ bn ≤ cap vs store-side bn ≤ cap).
    */
  private def oracleBandingCtes: String = s"""
      ${oracleShingleCtes()},
      $oracleBandingFromSh"""

  /** The banding CTEs (`hs`/`g`/`bk`) over an EXISTING `sh` CTE — no
    * `WITH`, no source binding — so oracles whose shingle sets come from
    * a different relation (the x11b pipeline bands the post-exact-dedup
    * survivors, not `documents`) replay the same permutation chain.
    */
  private[queries] def oracleBandingFromSh: String = s"""
      hs AS (
        SELECT doc_id, list_transform(shs, s ->
          list_reduce(list_prepend(cast(0 AS bigint),
            list_transform(generate_series(1, length(s)), i ->
              cast(ascii(substr(s, i, 1)) AS bigint))),
            (acc, v) -> (acc * 31 + v) % $Mod)) AS hs
        FROM sh),
      g AS (
        SELECT band,
               ((2*band)*2654435761 + 1) % ${Hashing.P} AS a0,
               ((2*band)*40503 + 7) % ${Hashing.P} AS b0,
               ((2*band+1)*2654435761 + 1) % ${Hashing.P} AS a1,
               ((2*band+1)*40503 + 7) % ${Hashing.P} AS b1
        FROM generate_series(0, ${Hashing.MinhashK / 2 - 1}) AS t(band)),
      bk AS (
        SELECT doc_id, band,
               list_min(list_transform(hs, x -> (a0*x + b0) % ${Hashing.P}))
                 * ${Hashing.P}
               + list_min(list_transform(hs, x -> (a1*x + b1) % ${Hashing.P})) AS key
        FROM hs CROSS JOIN g)"""

  /** The SELF-join capped bucket policy over an existing `bk` CTE:
    * bucket sizes → the 2 ≤ bn ≤ cap live filter → in-bucket candidate
    * pairs. ONE definition shared by the x2b2/x2f2 oracles and the x11b
    * capped-pipeline oracle, so no copy can disagree on which buckets
    * the cap drops.
    */
  private[queries] def oracleCappedCandidateCtes(cap: Int): String = s"""
      bsz AS (SELECT band, key, count(*) AS bn FROM bk GROUP BY 1, 2),
      live AS (
        SELECT bk.doc_id, bk.band, bk.key
        FROM bk JOIN bsz USING (band, key) WHERE bn >= 2 AND bn <= $cap),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM live a JOIN live b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""

  /** The capped-banding CTE chain through `cand` (candidate pairs of
    * live buckets) — shared by the x2b2 pair oracle and the x2f2 capped
    * cluster-closure oracle, so the two can never disagree on which
    * buckets the cap drops.
    */
  private def oracleLshCappedCtes(cap: Int): String = s"""
      $oracleBandingCtes,
      ${oracleCappedCandidateCtes(cap)}"""

  /** Signature-estimator oracle (TextDedup.minhashEstimatePairs): the
    * FULL 128-slot signature per doc replayed declaratively (same
    * integer permutation formulas as the capped oracle), band keys
    * derived from the signature exactly as the Spark side does
    * (sig[2b]·P + sig[2b+1], lists 1-indexed in DuckDB), candidates from
    * live buckets, and the score = matching-slot fraction — k/128 is
    * exact binary arithmetic, bit-identical across engines.
    */
  private def oracleLshEstimatePairs(threshold: Double): String = s"""
      ${oracleShingleCtes()},
      hs AS (
        SELECT doc_id, list_transform(shs, s ->
          list_reduce(list_prepend(cast(0 AS bigint),
            list_transform(generate_series(1, length(s)), i ->
              cast(ascii(substr(s, i, 1)) AS bigint))),
            (acc, v) -> (acc * 31 + v) % $Mod)) AS hs
        FROM sh),
      sigs AS (
        SELECT doc_id, list_transform(generate_series(0, ${Hashing.MinhashK - 1}), s ->
          list_min(list_transform(hs, x ->
            (((s*2654435761 + 1) % ${Hashing.P}) * x
             + ((s*40503 + 7) % ${Hashing.P})) % ${Hashing.P}))) AS sig
        FROM hs),
      bk AS (
        SELECT doc_id, band,
               sig[2*band + 1] * ${Hashing.P} + sig[2*band + 2] AS key
        FROM sigs CROSS JOIN generate_series(0, ${Hashing.MinhashK / 2 - 1}) AS t(band)),
      bsz AS (SELECT band, key, count(*) AS bn FROM bk GROUP BY 1, 2),
      live AS (
        SELECT bk.doc_id, bk.band, bk.key
        FROM bk JOIN bsz USING (band, key) WHERE bn >= 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM live a JOIN live b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT cand.id_a, cand.id_b,
             cast(len(list_filter(generate_series(1, ${Hashing.MinhashK}),
                    i -> sa.sig[i] = sb.sig[i])) AS double)
               / ${Hashing.MinhashK} AS est_jaccard
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.id_a
      JOIN sigs sb ON sb.doc_id = cand.id_b
      WHERE est_jaccard >= $threshold
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""

  // X2h: signature-only ESTIMATED near-dup pairs — the 100 TB re-score
  // path: every later threshold sweep or re-clustering runs off the
  // persisted 128-slot signature store (~1 KB/doc) with the classic
  // matches/k MinHash estimator (std-dev ≤ 0.045 at k=128), never
  // re-reading text. Unlike x2b — whose exact verification lets a
  // brute-force oracle stand in — the ESTIMATOR is the semantics here,
  // so the oracle replays the signatures themselves.
  private val x2h = Demo("x2h_minhash_estimate",
    Some(oracleLshEstimatePairs(0.35)),
    // the signatures are cut: they feed THREE consumers (banding + both
    // pair-join sides), and lazily the 128-permutation signature
    // aggregate — this operator's dominant compute — runs once per
    // consumer over its own text scan. The cut runs it ONCE into ~n·1 KB
    // of storage, a pure 3×→1× of the same aggregate, so it wins at demo
    // scale too — and the re-score path's point is signatures computed
    // once.
    (s, dir, cuts) => TextDedup.minhashEstimatePairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.35,
        cuts = Some(cuts))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X2b (capped): the open-web-scale face of x2b — the maxBucket
  // stop-bucket cap bounds the worst band bucket at C(cap, 2) candidate
  // pairs, the knob that keeps LSH linear where the uncapped candidate
  // volume grows O(n²·p) on random band collisions (measured 42x at
  // 500k docs). The demo pins cap=2 — small enough that the cap
  // provably FIRES at the verify SF (at sf0.01 it drops the one pair
  // whose every colliding bucket has 3+ members), so the oracle checks
  // the capped SEMANTICS, not just the uncapped-coincident output.
  private val x2b2 = Demo("x2b2_minhash_capped",
    Some(oracleLshCappedPairs(0.5, cap = 2)),
    (s, dir, _) => TextDedup.minhashLshPairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        maxBucket = Some(2))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X2c: exact n-gram Jaccard via the inverted-index join. No stop-shingle
  // cap (so the brute-force oracle matches exactly), which is O(df²) in the
  // most frequent shingle — therefore bounded to a fixed 1000-doc sample,
  // the same input-bounding contract as x2e. The full-corpus scale path is
  // the capped variant below.
  private val x2c = Demo("x2c_ngram_jaccard",
    Some(oracleJaccardPairs(0.05, docFilter = " AND doc_id < 1000")),
    (s, dir, _) => TextDedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.05)
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X2c (capped): the 100 TB formulation over the FULL corpus — the
  // maxDocFreq stop-shingle cap bounds the worst posting list, making the
  // pair expansion O(cap²) per shingle instead of O(df²); scores are the
  // exact Jaccard of the capped shingle sets (TextDedup.ngramJaccardPairs
  // scaladoc documents the recall tradeoff).
  private val x2c2 = Demo("x2c2_ngram_jaccard_capped",
    Some(oracleJaccardPairsCapped(0.05, cap = 50)),
    (s, dir, _) => TextDedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.05, maxDocFreq = Some(50))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X2f: connected components over the near-dup pairs — pairwise evidence
  // folded into dedup clusters (cluster_id = min reachable doc id). The
  // oracle computes the same transitive closure with a recursive CTE over
  // brute-force exact-Jaccard pairs (which the LSH pairs equal at 0.5,
  // see x2b).
  private val x2f = Demo("x2f_dedup_clusters", Some(s"""
      ${oracleShingleCtes().replaceFirst("WITH", "WITH RECURSIVE")},
      prs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.shs, b.shs)) AS double)
              / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.5),
      edges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM prs
        UNION
        SELECT id_b AS s, id_a AS d FROM prs),
      reach(node, r) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node)
      SELECT node AS doc_id, min(r) AS cluster_id
      FROM reach
      GROUP BY node
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, cuts) => TextDedup.dedupClusters(
        TextDedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 0.5),
        cuts)
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id").asc_nulls_last))

  // X2f (capped): the cluster closure over CAPPED pairs — the composed
  // production path (capped candidate generation → exact verify → label
  // propagation) oracle-checked end-to-end: the closure oracle rides the
  // SAME capped-banding CTE chain as x2b2 (one definition site), so the
  // green row proves cap semantics THROUGH the clustering, not just at
  // the pair stage. cap=2 fires at the verify SF (x2b2's contract).
  private val x2f2 = Demo("x2f2_clusters_capped", Some(s"""
      ${oracleLshCappedCtes(2).replaceFirst("WITH", "WITH RECURSIVE")},
      prs AS MATERIALIZED (
        SELECT cand.id_a, cand.id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE cast(len(list_intersect(sa.shs, sb.shs)) AS double)
              / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.5),
      edges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM prs
        UNION
        SELECT id_b AS s, id_a AS d FROM prs),
      reach(node, r) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node)
      SELECT node AS doc_id, min(r) AS cluster_id
      FROM reach
      GROUP BY node
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, cuts) => TextDedup.dedupClusters(
        TextDedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          0.5, maxBucket = Some(2)), cuts)
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id").asc_nulls_last))

  // X2d: SimHash signatures.
  private val x2d = Demo("x2d_simhash", Some(s"""
      WITH th AS (
        SELECT doc_id,
               list_reduce(
                 list_prepend(cast(0 AS bigint),
                   list_transform(generate_series(1, length(tok)), i ->
                     cast(ascii(substr(tok, i, 1)) AS bigint))),
                 (acc, v) -> (acc * 31 + v) % $Mod) AS x
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      votes AS (
        SELECT doc_id, bit,
               sum(CASE WHEN (x >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, generate_series(0, 29) AS g(bit)
        GROUP BY doc_id, bit)
      SELECT doc_id,
             cast(sum(CASE WHEN v > 0 THEN (cast(1 AS bigint) << bit) ELSE 0 END)
                  AS bigint) AS simhash
      FROM votes
      GROUP BY doc_id
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.simhash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last))

  // X2e: embedding-cosine near-dup pairs, bounded to a fixed 1000-vector
  // sample (O(n²) exact verifier; the full-corpus path is x3b's buckets).
  private val x2e = Demo("x2e_embed_neardup", Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                 cast(floor(cast(x AS double) * 10000) AS bigint)) AS qv
        FROM embeddings
        WHERE vec_id < 1000),
      n AS (
        SELECT vec_id, qv,
               cast(list_sum(list_transform(qv, v -> v * v)) AS bigint) AS nq
        FROM q)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CASE WHEN a.nq > 0 AND b.nq > 0 THEN
               cast(cast(list_sum(list_transform(generate_series(1, 64),
                      i -> a.qv[i] * b.qv[i])) AS bigint) AS double)
                 / (sqrt(cast(a.nq AS double)) * sqrt(cast(b.nq AS double)))
             END AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE cosine >= 0.4
      ORDER BY vec_a ASC NULLS LAST, vec_b ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.embeddingNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "vec_id", "embedding", threshold = 0.4)
      .orderBy(col("vec_a").asc_nulls_last, col("vec_b").asc_nulls_last))

  // X2g: fuzzy entity-resolution join — TextDedup.editDistanceJoin
  // (symmetric-delete candidate keys → equi-join → exact levenshtein
  // verify; the string analog of LSH bucket→verify). The harness has no
  // misspelled column, so the dirty side is derived deterministically
  // from the supplier names (drop the character at index
  // s_suppkey % length — the x5e derive-then-replay recipe): every
  // candidate-generation and verification path runs for real, and the
  // oracle replays the identical construction.
  private val x2g = Demo("x2g_fuzzy_join", Some("""
      WITH dirty AS (
        SELECT s_suppkey AS did,
               substring(s_name, 1, cast(s_suppkey % length(s_name) AS int))
               || substring(s_name, cast(s_suppkey % length(s_name) AS int) + 2,
                            length(s_name)) AS dname
        FROM supplier),
      dk AS (SELECT did, dname,
                    unnest(list_distinct(list_prepend(dname,
                      list_transform(generate_series(1, length(dname)),
                        p -> substring(dname, 1, p - 1)
                             || substring(dname, p + 1, length(dname)))))) AS k
             FROM dirty),
      ck AS (SELECT s_suppkey, s_name,
                    unnest(list_distinct(list_prepend(s_name,
                      list_transform(generate_series(1, length(s_name)),
                        p -> substring(s_name, 1, p - 1)
                             || substring(s_name, p + 1, length(s_name)))))) AS k
             FROM supplier),
      cand AS (SELECT DISTINCT did, dname, s_suppkey, s_name
               FROM dk JOIN ck USING (k))
      SELECT did, s_suppkey AS clean_key, dname, s_name AS clean_name,
             cast(levenshtein(dname, s_name) AS bigint) AS dist
      FROM cand
      WHERE levenshtein(dname, s_name) <= 1
      ORDER BY did ASC NULLS LAST, clean_key ASC NULLS LAST"""),
    (s, dir, _) => {
      val sup = t(s, dir, "supplier")
      val pos = pmod(col("s_suppkey"), length(col("s_name")).cast("long"))
        .cast("int")
      val dirty = sup.select(col("s_suppkey").as("did"),
        concat(
          substring(col("s_name"), lit(1), pos),
          substring(col("s_name"), pos + lit(2), length(col("s_name"))))
          .as("dname"))
      val clean = sup.select(col("s_suppkey"), col("s_name"))
      TextDedup.editDistanceJoin(dirty, "did", "dname",
          clean, "s_suppkey", "s_name")
        .select(col("left_id").as("did"), col("right_id").as("clean_key"),
          col("left_str").as("dname"), col("right_str").as("clean_name"),
          col("dist"))
        .orderBy(col("did").asc_nulls_last, col("clean_key").asc_nulls_last)
    })

  // X18: incremental ingestion dedup — TextDedup.incrementalDedup: the
  // corpus-append pattern (within-batch exact dedup + anti-join against
  // the already-ingested fingerprint store). The store/batch split is
  // derived deterministically from the harness corpus (doc_id < 400 =
  // already ingested; >= 400 = incoming crawl batch).
  private val x18 = Demo("x18_incremental_dedup", Some(s"""
      WITH fp_batch AS (
        SELECT doc_id, $fingerprintSql AS fingerprint
        FROM documents WHERE doc_id >= 400),
      fp_store AS (
        SELECT DISTINCT $fingerprintSql AS fingerprint
        FROM documents WHERE doc_id < 400),
      in_batch AS (
        SELECT doc_id, fingerprint FROM (
          SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint
                                    ORDER BY doc_id ASC NULLS FIRST) AS rn
          FROM fp_batch)
        WHERE rn = 1)
      SELECT doc_id, fingerprint
      FROM in_batch
      WHERE NOT EXISTS (SELECT 1 FROM fp_store s
                        WHERE s.fingerprint = in_batch.fingerprint)
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val d = t(s, dir, "documents")
      val store = TextDedup.fingerprint(
        d.filter(col("doc_id") < 400), "doc_id", "text")
      TextDedup.incrementalDedup(
          d.filter(col("doc_id") >= 400), "doc_id", "text", store)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // ----- X23: benchmark decontamination (TextDedup.decontaminate) —
  // flag corpus docs sharing >= 1 distinct lowercased word 8-gram with a
  // held-out "benchmark" split (doc_id % 10 == 0 plays the eval suite).
  // Tokenization is the normalize-then-ngram rule: whitespace-RUN split,
  // empty tokens dropped. Scale: both sides meet in ONE equi-join on the
  // gram string — never doc×doc; the benchmark side broadcasts.
  private val deconN = 8

  private def deconOracle: String = {
    val joins = (0 until deconN).map(k => s"toks[i + $k]").mkString(" || ' ' || ")
    s"""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> t <> '') AS toks
        FROM documents),
      corp AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 generate_series(1, len(toks) - ${deconN - 1}), i -> $joins))) AS g
        FROM tok WHERE doc_id % 10 <> 0 AND len(toks) >= $deconN),
      bench AS (
        SELECT DISTINCT
               unnest(list_distinct(list_transform(
                 generate_series(1, len(toks) - ${deconN - 1}), i -> $joins))) AS g
        FROM tok WHERE doc_id % 10 = 0 AND len(toks) >= $deconN)
      SELECT doc_id, count(*) AS n_shared
      FROM corp JOIN bench USING (g)
      GROUP BY 1
      ORDER BY doc_id ASC NULLS LAST"""
  }

  private def deconSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
    (d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
  }

  private val x23 = Demo("x23_decontaminate", Some(deconOracle),
    (s, dir, _) => {
      val (corpus, bench) = deconSplit(s, dir)
      TextDedup.decontaminate(corpus, bench, "doc_id", "text", deconN)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // X23b: the 100 TB path of the same operator — corpus grams are
  // pre-pruned by a native bloom filter (BloomFilterMightContain over
  // xxhash64) of the benchmark grams inside the scan stage, then the
  // surviving candidates are verified by the exact equi-join, so the
  // output is identical (same oracle). The filter build is one bounded
  // collect of the tiny benchmark side.
  private val x23b = Demo("x23b_decontaminate_bloom", Some(deconOracle),
    (s, dir, _) => {
      val (corpus, bench) = deconSplit(s, dir)
      TextDedup.decontaminateBloom(corpus, bench, "doc_id", "text", deconN)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X28: EXACT SUBSTRING-SPAN DEDUP — TextDedup.dedupSpans: remove every
  // repeated 5-token window occurrence except the globally-first one,
  // token-exactly (the sub-document dedup rule). Canonical choice is the
  // min (doc_id, pos) total order, so the oracle replays it
  // declaratively with a row_number window; Spark computes the same
  // canonical with a min(struct) hash agg — no window sort.
  // -------------------------------------------------------------------
  private val spanN = 5

  private val x28 = Demo("x28_span_dedup", Some {
    val joins = (0 until spanN).map(k => s"toks[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
    s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tp AS (SELECT doc_id, i AS pos, toks[i] AS word
             FROM tok, unnest(generate_series(1, len(toks))) t(i)),
      occ AS (SELECT doc_id, i AS pos, $joins AS g
              FROM tok, unnest(generate_series(1, len(toks) - ${spanN - 1})) t(i)
              WHERE len(toks) >= $spanN),
      r AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
                   count(*) OVER (PARTITION BY g) AS occs
            FROM occ),
      rm AS (SELECT DISTINCT doc_id, pos + k AS pos
             FROM r, unnest(generate_series(0, ${spanN - 1})) t(k)
             WHERE occs >= 2 AND rn > 1),
      m AS (SELECT tp.doc_id, tp.pos, tp.word, rm.pos IS NOT NULL AS is_rm
            FROM tp LEFT JOIN rm ON tp.doc_id = rm.doc_id AND tp.pos = rm.pos)
      SELECT doc_id, count(*) AS n_toks,
             cast(sum(CASE WHEN is_rm THEN 1 ELSE 0 END) AS bigint) AS n_removed,
             coalesce(string_agg(word, ' ' ORDER BY pos)
               FILTER (WHERE NOT is_rm), '') AS cleaned_text
      FROM m GROUP BY 1
      ORDER BY doc_id ASC NULLS LAST"""
  },
    (s, dir, _) => TextDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text",
        spanN)
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X35: SEGMENT-LEVEL CORPUS DEDUP (TextDedup.segmentDedup) — CCNet-
  // style boilerplate removal: tile each doc into non-overlapping 8-token
  // segments, drop corpus-wide repeats keep-first, reassemble. The
  // oracle replays segmentation (lateral generate_series + list slice),
  // the keep-first window, and the ordered reassembly declaratively.
  // -------------------------------------------------------------------
  private val segW = 8

  private val x35 = Demo("x35_segment_dedup", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      seg AS (SELECT doc_id, i AS seg_idx,
                     array_to_string(toks[(i*$segW+1):least(len(toks), (i+1)*$segW)], ' ') AS seg
              FROM tok, unnest(generate_series(0, (len(toks)-1)//$segW)) t(i)),
      r AS (SELECT doc_id, seg_idx, seg,
                   row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
            FROM seg)
      SELECT doc_id, count(*) AS n_segs,
             cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS bigint) AS n_kept,
             coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
               FILTER (WHERE rn = 1), '') AS clean_text
      FROM r GROUP BY 1
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
        width = segW)
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X41: WINNOWING COPY DETECTION (TextDedup.winnowPairs) — MOSS-style
  // fingerprinting: char-poly hash every 4-token gram, select the min in
  // each sliding window of 4 gram hashes (any shared run of ≥ 7 tokens
  // yields a shared fingerprint), then pair docs sharing ≥ 2 winnowed
  // fingerprints via the capped inverted-index join. The oracle replays
  // the hash polynomial, the sliding-window min, and the pair join.
  // -------------------------------------------------------------------
  private val (winK, winW, winShared, winCap) = (4, 4, 2, 50)

  /** Char-polynomial hash of a string expression, as DuckDB SQL (the
    * exact char_poly_hash formula: base 31 mod 2^30).
    */
  private def charPolySql(e: String): String = s"""
      list_reduce(list_prepend(cast(0 AS bigint),
        list_transform(generate_series(1, length($e)), j ->
          cast(ascii(substr($e, j, 1)) AS bigint))),
        (acc, v) -> (acc * 31 + v) % $Mod)"""

  /** The k=4 gram-hash composition over token hashes (base 131 mod 2^30),
    * unrolled — matches TextDedup.winnowFingerprints' aggregate fold.
    */
  private def gramHashSql: String =
    s"((((ths[i] * 131 + ths[i+1]) % $Mod) * 131 + ths[i+2]) % $Mod * 131 + ths[i+3]) % $Mod"

  private val x41 = Demo("x41_winnow_pairs", Some(s"""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        WHERE len(string_split(text, ' ')) >= $winK),
      th AS (
        SELECT doc_id,
               list_transform(toks, w -> ${charPolySql("w")}) AS ths
        FROM tok),
      g AS (
        SELECT doc_id, i AS pos, $gramHashSql AS h
        FROM th, unnest(generate_series(1, len(ths) - ${winK - 1})) t(i)),
      f AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS mg
        FROM g),
      fps AS (SELECT DISTINCT doc_id, fp FROM f WHERE pos <= mg - ${winW - 1}),
      capped AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        WHERE df <= $winCap)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= $winShared
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = winK, w = winW, minShared = winShared, maxDocFreq = winCap)
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // -------------------------------------------------------------------
  // X52: CONTAINMENT NEAR-DUP (TextDedup.containmentPairs) — the
  // asymmetric complement of x2c2: containment(A in B) = inter/|A|
  // catches a short doc embedded in a long one (quotes, excerpts,
  // scraped fragments) where symmetric Jaccard stays low. Same capped
  // inverted-index machinery; the oracle replays both directional
  // ratios over the capped universe.
  // -------------------------------------------------------------------
  private val (contThreshold, contCap) = (0.8, 50)

  private val x52 = Demo("x52_containment_pairs", Some(s"""
      ${oracleShingleCtes()},
      posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      ok AS (SELECT s FROM posts GROUP BY s HAVING count(*) <= $contCap),
      cposts AS (SELECT p.doc_id, p.s FROM posts p JOIN ok USING (s)),
      sizes AS (SELECT doc_id, count(*) AS n FROM cposts GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM cposts a JOIN cposts b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             cast(inter AS double) / na.n AS cont_a,
             cast(inter AS double) / nb.n AS cont_b
      FROM pairs
      JOIN sizes na ON na.doc_id = pairs.id_a
      JOIN sizes nb ON nb.doc_id = pairs.id_b
      WHERE greatest(cast(inter AS double) / na.n,
                     cast(inter AS double) / nb.n) >= $contThreshold
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""),
    (s, dir, _) => TextDedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = contThreshold,
        maxDocFreq = Some(contCap))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // -------------------------------------------------------------------
  // X54: CORPUS SNAPSHOT DIFF (CorpusClean.snapshotDiff) — release-to-
  // release churn audit over two deterministic snapshot derivations of
  // the harness corpus: v1 drops ids ≡ 0 (mod 7) and edits ids ≡ 0
  // (mod 5); v2 drops ids ≡ 0 (mod 11). Diffed by the x2a rolling
  // fingerprint (8 bytes per doc), one full-outer hash join on the id.
  // -------------------------------------------------------------------
  private val x54 = Demo("x54_snapshot_diff", Some(s"""
      WITH v1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v1edit' ELSE text END AS text
        FROM documents WHERE doc_id % 7 != 0),
      v2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 != 0),
      f1 AS (SELECT doc_id, $fingerprintSql AS fp, TRUE AS in_a FROM v1),
      f2 AS (SELECT doc_id, $fingerprintSql AS fp, TRUE AS in_b FROM v2),
      j AS (
        SELECT coalesce(f1.doc_id, f2.doc_id) AS doc_id,
               f1.fp AS fa, f2.fp AS fb, in_a, in_b
        FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
      SELECT doc_id,
             CASE WHEN in_a IS NULL THEN 'added'
                  WHEN in_b IS NULL THEN 'removed'
                  WHEN fa IS NOT DISTINCT FROM fb THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM j
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val d = t(s, dir, "documents")
      val v1 = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v1edit"))).otherwise(col("text")))
      val v2 = d.filter(col("doc_id") % 11 =!= 0)
      graft.operators.CorpusClean.snapshotDiff(
          TextDedup.withFingerprint(v1, "text"),
          TextDedup.withFingerprint(v2, "text"),
          "doc_id", "fingerprint")
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X56: KEEP-BEST EXACT DEDUP — canonical selection: one survivor per
  // content fingerprint, chosen by QUALITY (x5b keep flag, then token
  // count, then id) instead of x1's keep-first id order. Same machinery
  // — exactDedup's tiebreak is a column, here a struct whose ascending
  // order IS (keep desc, n_tokens desc, doc_id asc).
  // -------------------------------------------------------------------
  private val x56 = Demo("x56_dedup_keep_best", Some(s"""
      WITH m AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CASE WHEN len(string_split(text, ' ')) >= 5
                     AND len(list_filter(string_split(lower(text), ' '),
                       w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) > 0
                     AND coalesce(CASE WHEN length(text) > 0
                           THEN cast(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS double)
                                / length(text) END, 1.0e0) < 0.2e0
                    THEN 1 ELSE 0 END AS keep,
               $fingerprintSql AS fingerprint
        FROM documents)
      SELECT doc_id, fingerprint, keep, n_tokens
      FROM (SELECT doc_id, fingerprint, keep, n_tokens,
                   row_number() OVER (PARTITION BY fingerprint
                     ORDER BY keep DESC, n_tokens DESC, doc_id ASC) AS rn
            FROM m)
      WHERE rn = 1
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val m = graft.operators.TextAnalysis.qualityMetrics(
        t(s, dir, "documents"), "text")
      val fp = TextDedup.withFingerprint(m, "text")
      TextDedup.exactDedup(fp, Seq("fingerprint"),
          struct(-col("keep"), -col("n_tokens"), col("doc_id")))
        .select(col("doc_id"), col("fingerprint"), col("keep"), col("n_tokens"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X58: INCREMENTAL NEAR-DUP INGESTION (TextDedup.incrementalLshPairs)
  // — the production crawl shape: a NEW batch (ids ≡ 4 mod 5, ~20% at
  // any SF) probes the indexed remainder of the corpus; batch band keys
  // join the index on (band, key), candidates verify exactly. The
  // brute-force cross-set oracle matches by the x2b recall argument
  // ((1−t²)^64 ≤ 1e-8 at t=0.5). Within-batch dups are x2b's job.
  // -------------------------------------------------------------------
  private val x58 = Demo("x58_incremental_lsh", Some(s"""
      ${oracleShingleCtes()}
      SELECT a.doc_id AS new_id, b.doc_id AS old_id,
             cast(len(list_intersect(a.shs, b.shs)) AS double)
               / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id % 5 = 4 AND b.doc_id % 5 != 4
      WHERE jaccard >= 0.5
      ORDER BY new_id ASC NULLS LAST, old_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val d = t(s, dir, "documents")
      TextDedup.incrementalLshPairs(
          d.filter(col("doc_id") % 5 === 4),
          d.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("new_id").asc_nulls_last, col("old_id").asc_nulls_last)
    })

  // X58b: the CAPPED incremental probe — probeLshStore's maxBucket
  // drops store buckets past the cap before the probe join, so the
  // probe side does not ride the uncapped candidate volume. Cross-set
  // semantics differ from the self-join cap: bn counts STORE members
  // only and single-member buckets survive ANY cap — at the verify SF
  // even cap=1 loses none of the 4 true pairs, which is
  // the design's recall story (a true pair's ~16 colliding buckets are
  // overwhelmingly 1-store-member buckets; only corpus-scale
  // boilerplate buckets blow a cap). Unlike x58 — whose brute-force
  // oracle rides the recall argument — this oracle replays the banding
  // and the store-side bucket filter EXACTLY, so the capped path is
  // hash-checked, not recall-argued.
  private val x58b = Demo("x58b_incremental_capped", Some(s"""
      $oracleBandingCtes,
      sbk AS (SELECT * FROM bk WHERE doc_id % 5 != 4),
      sbsz AS (SELECT band, key, count(*) AS bn FROM sbk GROUP BY 1, 2),
      slive AS (SELECT sbk.doc_id, sbk.band, sbk.key
                FROM sbk JOIN sbsz USING (band, key) WHERE bn <= 1),
      cand AS (SELECT DISTINCT b.doc_id AS new_id, s.doc_id AS old_id
               FROM bk b JOIN slive s ON b.band = s.band AND b.key = s.key
               WHERE b.doc_id % 5 = 4)
      SELECT cand.new_id, cand.old_id,
             cast(len(list_intersect(sa.shs, sb.shs)) AS double)
               / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.new_id
      JOIN sh sb ON sb.doc_id = cand.old_id
      WHERE jaccard >= 0.5
      ORDER BY new_id ASC NULLS LAST, old_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val d = t(s, dir, "documents")
      TextDedup.incrementalLshPairs(
          d.filter(col("doc_id") % 5 === 4),
          d.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "text", threshold = 0.5, maxBucket = Some(1))
        .orderBy(col("new_id").asc_nulls_last, col("old_id").asc_nulls_last)
    })

  /** Per-demo scratch dir under java.io.tmpdir, wiped on entry (the
    * ScaleDemos single-process contract: the harness drives queries
    * serially). `refreshByPath` then drops the session's shared
    * file-status cache entries under the path — without it, a rerun of
    * the same demo in one session (the bench min-of-2 protocol) can
    * plan its scan over the PREVIOUS run's now-deleted part files and
    * die with FILE_NOT_EXIST (observed at the sf1 probe: run 1 fine,
    * run 2 served run 1's listing).
    */
  private def freshScratchDir(s: SparkSession, name: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_demo_$name")
    graft.sources.FsUtil.deleteTree(root)
    s.catalog.refreshByPath(root.toString)
    root.toString
  }

  // -------------------------------------------------------------------
  // X59: BAND-STORE MAINTENANCE (TextDedup.lshStoreWrite/Append +
  // probeLshStore) — the full crawl loop over TWO consecutive batches:
  // the base corpus (ids ≡ 0..2 mod 5) is indexed ONCE into a bucketed
  // band store; batch1 (≡3) probes the store, is accepted, and its band
  // keys APPEND into the store's bucket layout; batch2 (≡4) then probes
  // base+batch1 through the same store — no corpus re-scan or re-index
  // anywhere in the loop. Both probes run CAPPED (maxBucket = 2, the
  // production configuration), so the oracle
  // replays the banding and BOTH store states' bucket filters exactly
  // (the x58b pattern, once per store state: the append changes which
  // buckets blow the cap for probe 2) — hash-checked, not
  // recall-argued.
  // -------------------------------------------------------------------
  private val x59Cap = 2

  /** One capped store-probe stage over the shared `bk`/`sh` banding
    * CTEs: store = docs with `storePred`, probe batch = docs with
    * `batchPred`; store buckets past the cap drop BEFORE the probe join
    * (cross-set semantics: bn counts STORE members only, single-member
    * buckets survive — [[TextDedup.probeLshStore]]).
    */
  private def oracleCappedProbe(tag: String, storePred: String,
      batchPred: String, cap: Int): String = s"""
      s$tag AS (SELECT * FROM bk WHERE $storePred),
      z$tag AS (SELECT band, key, count(*) AS bn FROM s$tag GROUP BY 1, 2),
      l$tag AS (SELECT s$tag.doc_id, s$tag.band, s$tag.key
                FROM s$tag JOIN z$tag USING (band, key) WHERE bn <= $cap),
      c$tag AS (SELECT DISTINCT b.doc_id AS new_id, s.doc_id AS old_id
                FROM bk b JOIN l$tag s ON b.band = s.band AND b.key = s.key
                WHERE $batchPred)"""

  private val x59 = Demo("x59_lsh_store_maintenance", Some(s"""
      $oracleBandingCtes,
      ${oracleCappedProbe("1", "doc_id % 5 <= 2", "b.doc_id % 5 = 3", x59Cap)},
      ${oracleCappedProbe("2", "doc_id % 5 <= 3", "b.doc_id % 5 = 4", x59Cap)},
      cand AS (SELECT 1 AS batch, new_id, old_id FROM c1
               UNION ALL
               SELECT 2, new_id, old_id FROM c2)
      SELECT cand.batch, cand.new_id, cand.old_id,
             cast(len(list_intersect(sa.shs, sb.shs)) AS double)
               / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.new_id
      JOIN sh sb ON sb.doc_id = cand.old_id
      WHERE jaccard >= 0.5
      ORDER BY batch ASC NULLS LAST, new_id ASC NULLS LAST, old_id ASC NULLS LAST"""),
    (s, dir, cuts) => {
      val d = t(s, dir, "documents")
      val base = d.filter(col("doc_id") % 5 <= 2)
      val b1 = d.filter(col("doc_id") % 5 === 3)
      val b2 = d.filter(col("doc_id") % 5 === 4)
      s.sql("DROP TABLE IF EXISTS x59_band_store")
      val scratch = freshScratchDir(s, "x59_store")
      TextDedup.lshStoreWrite(base, "doc_id", "text", "x59_band_store",
        path = Some(scratch))
      // batch1's band index is derived ONCE and shared by its probe and
      // its append (otherwise the probe's internal lshIndex(b1) and the
      // append's are two full shingle→signature→band passes over the
      // same batch; the cut costs one action and halves the batch-1
      // index work). Cut BEFORE the probe so the append reads the same
      // materialized rows.
      val b1Idx = cuts.cut(TextDedup.lshIndex(b1, "doc_id", "text"))
      // batch1's probe must COMPLETE before the append mutates the store
      // (lazily-evaluated, it would see its own batch and self-pair) —
      // exactly the sequential contract of a real crawl loop
      val p1 = cuts.cut(TextDedup.probeLshStore(b1, s.table("x59_band_store"),
        base, "doc_id", "text", threshold = 0.5,
        maxBucket = Some(x59Cap),
        prebuiltBatchIndex = Some(b1Idx)))
      TextDedup.lshStoreAppend(b1, "doc_id", "text", "x59_band_store",
        prebuiltIndex = Some(b1Idx))
      val p2 = TextDedup.probeLshStore(b2, s.table("x59_band_store"),
        base.unionByName(b1), "doc_id", "text", threshold = 0.5,
        maxBucket = Some(x59Cap))
      p1.select(lit(1).as("batch"), col("new_id"), col("old_id"), col("jaccard"))
        .unionByName(p2.select(lit(2).as("batch"), col("new_id"),
          col("old_id"), col("jaccard")))
        .orderBy(col("batch").asc_nulls_last, col("new_id").asc_nulls_last,
          col("old_id").asc_nulls_last)
    })

  /** Survival-stats oracle (TextDedup.lshSurvivalStats): the x2b2
    * banding chain (same CTE definition site), uncapped candidates —
    * restricted to the first `discoveryBands` bands when sampled —
    * exact-verified at `threshold`, then each true pair's MINIMUM
    * shared-bucket size over ALL bands. `min(bn) ≤ cap ⟺ the pair
    * survives the capped operator` is the law the Scala spec pins; this
    * oracle proves the statistic itself on real data.
    */
  /** The [[TextDedup.samplePredicate]] sample in DuckDB SQL — md5 of
    * the id's decimal string is byte-identical across engines, so the
    * oracle replays the exact document sample.
    */
  private def oracleSamplePred(idExpr: String, oneIn: Int): String = {
    val chars = "0123456789abcdef".take(16 / oneIn)
      .map(c => s"'$c'").mkString(", ")
    s"substr(md5(cast($idExpr AS varchar)), 1, 1) IN ($chars)"
  }

  private def oracleSurvivalCtes(threshold: Double,
      discoveryBands: Option[Int],
      sampleOneIn: Option[Int] = None): String = {
    // discovery restriction: first-k-bands (x62b), sampled sub-corpus
    // (x65 — BOTH pair endpoints must be sampled docs, which the
    // doc-level filter enforces since cand pairs within disc), or none
    val filters = discoveryBands.map(k => s"band < $k").toSeq ++
      sampleOneIn.map(s => oracleSamplePred("doc_id", s)).toSeq
    val disc =
      if (filters.isEmpty) "bk"
      else s"(SELECT * FROM bk WHERE ${filters.mkString(" AND ")})"
    s"""
      $oracleBandingCtes,
      bsz AS (SELECT band, key, count(*) AS bn FROM bk GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM $disc a JOIN $disc b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      tp AS (
        SELECT cand.id_a, cand.id_b,
               cast(len(list_intersect(sa.shs, sb.shs)) AS double)
                 / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE jaccard >= $threshold),
      stats AS (
        SELECT tp.id_a, tp.id_b, tp.jaccard, min(bsz.bn) AS min_bn
        FROM tp
        JOIN bk ka ON ka.doc_id = tp.id_a
        JOIN bk kb ON kb.doc_id = tp.id_b AND kb.band = ka.band AND kb.key = ka.key
        JOIN bsz ON bsz.band = ka.band AND bsz.key = ka.key
        GROUP BY 1, 2, 3)"""
  }

  private def oracleSurvivalStats(threshold: Double,
      discoveryBands: Option[Int],
      sampleOneIn: Option[Int] = None): String = s"""
      ${oracleSurvivalCtes(threshold, discoveryBands, sampleOneIn)}
      SELECT id_a, id_b, jaccard, min_bn
      FROM stats
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""

  // X62: per-true-pair cap-survival statistics — the recall instrument
  // behind the budget rule (calibrateMaxBucket bounds COST; this frame
  // measures what the chosen cap COSTS IN RECALL: a pair survives cap c
  // iff its smallest shared band bucket is ≤ c). Exact discovery face.
  // Scale: candidate gen is the x2b machinery, and min_bn rides its
  // candidate pairs (the pair aggregate's min over shared bucket sizes).
  // The recall gate in TextDedupSpec runs this instrument at sf0.1.
  private val x62 = Demo("x62_lsh_survival",
    Some(oracleSurvivalStats(0.5, None)),
    (s, dir, cuts) => TextDedup.lshSurvivalStats(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        // the candidates and shingle sets are cut once
        cuts = Some(cuts))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X62b: the SAMPLED-discovery face — ground truth from the first 8
  // bands only (the 2M-doc regime where the full uncapped verify does
  // not fit), min_bn still over all 64 bands. The oracle proves the
  // sample is the claimed restriction, not an approximation.
  private val x62b = Demo("x62b_lsh_survival_sampled",
    Some(oracleSurvivalStats(0.5, Some(8))),
    (s, dir, cuts) => TextDedup.lshSurvivalStats(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        discoveryBands = Some(8),
        cuts = Some(cuts))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X63: the recall-vs-cap CURVE off the exact survival stats — the
  // recall table as an oracle-checked query shape
  // (exact face: every weight is 1, so recall = n_surviving / n_true
  // in exact double arithmetic, bit-identical across engines).
  private val x63 = Demo("x63_lsh_recall_curve",
    Some(s"""
      ${oracleSurvivalCtes(0.5, None)},
      caps AS (SELECT unnest([2, 4, 8, 16, 32, 64]) AS cap)
      SELECT caps.cap AS cap,
             count(*) AS n_true,
             count(*) FILTER (WHERE min_bn <= cap) AS n_surviving,
             cast(count(*) FILTER (WHERE min_bn <= cap) AS double)
               / count(*) AS recall
      FROM stats, caps
      GROUP BY 1
      ORDER BY cap ASC NULLS LAST"""),
    (s, dir, cuts) => TextDedup.recallAtCaps(
        TextDedup.lshSurvivalStats(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
          cuts = Some(cuts)),
        caps = Seq(2, 4, 8, 16, 32, 64))
      .orderBy(col("cap").asc_nulls_last))

  // X65: the SAMPLED-PAIR-UNIVERSE survival face — ground truth
  // restricted to pairs whose BOTH endpoints pass the deterministic
  // md5 1-in-2 document sample, full-band discovery inside the sample,
  // min_bn against FULL-corpus bucket sizes. This is the instrument
  // that prices recall where even band-restricted exact ground truth
  // does not fit: inclusion is uniform 1/S² over the pair universe, so
  // the recall ratio needs no reweighting. The oracle proves the sample
  // is the claimed exact restriction — same md5 arithmetic on both
  // engines.
  private val x65 = Demo("x65_lsh_survival_pairsampled",
    Some(oracleSurvivalStats(0.5, None, sampleOneIn = Some(2))),
    (s, dir, cuts) => TextDedup.lshSurvivalStatsSampled(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        sampleOneIn = 2,
        cuts = Some(cuts))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last))

  // X65b: the recall-vs-cap curve off the pair-sampled stats — the
  // estimator of full-universe recall (recallAtCaps with uniform
  // weights = the sample's survival fraction per cap). Bit-identical
  // doubles across engines: exact integer counts ratioed in double.
  private val x65b = Demo("x65b_recall_curve_pairsampled",
    Some(s"""
      ${oracleSurvivalCtes(0.5, None, sampleOneIn = Some(2))},
      caps AS (SELECT unnest([2, 4, 8, 16, 32, 64]) AS cap)
      SELECT caps.cap AS cap,
             count(*) AS n_true,
             count(*) FILTER (WHERE min_bn <= cap) AS n_surviving,
             cast(count(*) FILTER (WHERE min_bn <= cap) AS double)
               / count(*) AS recall
      FROM stats, caps
      GROUP BY 1
      ORDER BY cap ASC NULLS LAST"""),
    (s, dir, cuts) => TextDedup.recallAtCaps(
        TextDedup.lshSurvivalStatsSampled(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
          sampleOneIn = 2,
          cuts = Some(cuts)),
        caps = Seq(2, 4, 8, 16, 32, 64))
      .orderBy(col("cap").asc_nulls_last))

  /** One preset arm of the x64 oracle: the calibrated cap replayed in
    * SQL — calibrateMaxBucket's exact arithmetic (bucket-size histogram
    * over 2 ≤ bn ≤ capMax, cumulative capped volume Σ cnt·C(bn,2)
    * ascending, cap = max(first-overflow-size − 1, 2), else capMax) —
    * then the live-bucket filter, candidate pairs, and exact-Jaccard
    * verify at that cap. `budget` is whole pairs-per-doc so the SQL
    * integer product equals the Scala `(pairsPerDoc * nDocs).toLong`.
    */
  private def oracleRecallFloorArm(preset: String, budget: Int,
      threshold: Double): String = s"""
      cap_$preset AS (
        SELECT coalesce(
          min(greatest(bn - 1, 2)) FILTER (
            WHERE v > $budget * (SELECT count(*) FROM documents)),
          1024) AS c
        FROM cum),
      live_$preset AS (
        SELECT bk.doc_id, bk.band, bk.key
        FROM bk JOIN bsz USING (band, key)
        WHERE bn >= 2 AND bn <= (SELECT c FROM cap_$preset)),
      cand_$preset AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM live_$preset a JOIN live_$preset b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      arm_$preset AS (
        SELECT '$preset' AS preset,
               cast($budget AS double) AS pairs_per_doc,
               (SELECT c FROM cap_$preset) AS cap,
               cand_$preset.id_a, cand_$preset.id_b,
               cast(len(list_intersect(sa.shs, sb.shs)) AS double)
                 / (len(sa.shs) + len(sb.shs)
                    - len(list_intersect(sa.shs, sb.shs))) AS jaccard
        FROM cand_$preset
        JOIN sh sa ON sa.doc_id = cand_$preset.id_a
        JOIN sh sb ON sb.doc_id = cand_$preset.id_b
        WHERE jaccard >= $threshold)"""

  // X64: the recall-floor knob end-to-end — the measured recall curve
  // consumed as an API. Each preset prices its
  // floor at the 5M-doc decade through TextDedup.budgetForRecall
  // (default floor 0.998 → 32 pairs/doc; the high-recall preset
  // 0.9995 → 48, the measured cap-8 operating point), calibrates that
  // budget to a stop-bucket cap on THIS corpus's band histogram, and
  // runs the capped operator. The oracle replays BOTH the calibration
  // arithmetic and the capped chain per preset (budgets themselves are
  // the API's spec-pinned contract, constants on both sides), so the
  // green row proves floor → budget → cap → pairs end to end.
  private val x64 = Demo("x64_recall_floor_presets", Some(s"""
      $oracleBandingCtes,
      bsz AS (SELECT band, key, count(*) AS bn FROM bk GROUP BY 1, 2),
      hist AS (
        SELECT bn, count(*) AS cnt FROM bsz
        WHERE bn >= 2 AND bn <= 1024 GROUP BY bn),
      cum AS (
        SELECT bn, sum(cnt * bn * (bn - 1) // 2) OVER (ORDER BY bn) AS v
        FROM hist),
      ${oracleRecallFloorArm("default", 32, 0.5)},
      ${oracleRecallFloorArm("high_recall", 48, 0.5)}
      SELECT * FROM arm_default
      UNION ALL
      SELECT * FROM arm_high_recall
      ORDER BY preset ASC NULLS LAST, id_a ASC NULLS LAST,
               id_b ASC NULLS LAST"""),
    (s, dir, cuts) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      // ONE shingle→signature→band derivation for the whole demo: the two
      // calibrations AND the shared pair chain read this cut (a chain per
      // preset made this the suite's slowest query, at 9 s)
      val bands = cuts.cut(TextDedup.lshIndex(docs, "doc_id", "text"))
      val presets = Seq(("default", 0.998), ("high_recall", 0.9995)).map {
        case (preset, floor) =>
          val budget = TextDedup.budgetForRecall(5000000L, floor)
          (preset, budget, TextDedup.calibrateMaxBucket(bands, n, budget))
      }
      // ONE candidate + verify chain at the LOOSEST preset's cap; each
      // tighter preset reads off it as a filter on the min_bn its
      // candidates carry — the survival law (a pair survives cap c iff
      // its smallest shared live bucket is ≤ c; spec-pinned equality
      // with the per-cap operator). The preset outputs are nested by
      // construction, so running the capped chain once per preset would
      // only repeat work.
      val capMax = presets.map(_._3).max
      // the candidate chain stays lazy (cuts = None): at sf0.1 the cut
      // variant measured slower (4.47 vs 3.60 s), the barrier costing more
      // than re-reading the cut band index saves; at corpus scale
      // cuts = Some(scope) runs the live-bucket self-join once
      val withBn = cuts.cut(TextDedup.minhashLshPairsFromIndex(bands,
        docs, "doc_id", "text", threshold = 0.5, maxBucket = Some(capMax)))
      presets.map { case (preset, budget, cap) =>
        withBn.filter(col("min_bn") <= cap)
          .select(lit(preset).as("preset"),
            lit(budget).as("pairs_per_doc"), lit(cap).as("cap"),
            col("id_a"), col("id_b"), col("jaccard"))
      }.reduce(_ unionAll _)
        .orderBy(col("preset").asc_nulls_last, col("id_a").asc_nulls_last,
          col("id_b").asc_nulls_last)
    })

  val all: Seq[Demo] =
    Seq(x1, x2a, x2b, x2b2, x2c, x2c2, x2d, x2e, x2f, x2f2, x2g, x2h, x18, x23, x23b, x28, x35,
      x41, x52, x54, x56, x58, x58b, x59, x62, x62b, x63, x64, x65, x65b)
}
