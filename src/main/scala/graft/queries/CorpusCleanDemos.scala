package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.CorpusClean
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** The capstone composition (SURVEY.md §2B): the full corpus-cleaning
  * pipeline — quality filter → exact dedup by fingerprint → MinHash/LSH
  * near-dup removal → stratified sample — as ONE oracle-verified query.
  * The oracle replays every stage in SQL (near-dup via brute-force exact
  * Jaccard, which the LSH stage equals at threshold 0.5 with miss
  * probability ≤ 1e-8 per pair).
  */
object CorpusCleanDemos {

  import Hashing.Mod

  private val rates = Map("en" -> 50, "de" -> 100, "fr" -> 100, "es" -> 100)

  /** The SQL CASE for the per-language rates, generated from the same map
    * the Spark side uses, so the two can't drift.
    */
  private def ratesCase: String =
    "CASE lang " +
      rates.toSeq.sortBy(_._1).map { case (l, p) => s"WHEN '$l' THEN $p" }
        .mkString(" ") + " ELSE 0 END"

  /** The pipeline's SHARED stage prefix (quality → fingerprint dedup →
    * shingle sets), genuinely ending at `sh`: both the uncapped (x11/x50)
    * and capped (x11b) oracles graft their near-dup + sample stages onto
    * this chain, and neither variant's text carries the other's stages
    * (r8 advice: the capped oracle used to embed the DEAD uncapped
    * brute-force CTEs — harmless only because DuckDB never evaluates
    * unreferenced CTEs, and a drift trap for any edit referencing them).
    */
  private def cleanSharedCtes: String = s"""
      WITH q AS (
        SELECT doc_id, text, lang, source
        FROM documents
        WHERE len(string_split(text, ' ')) >= 5
          AND len(list_filter(string_split(lower(text), ' '),
                w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) > 0
          AND cast(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g'))
                   AS double) / length(text) < 0.2),
      fp AS (
        SELECT doc_id, lang, source, text,
               list_reduce(
                 list_prepend(cast(0 AS bigint),
                   list_transform(string_split(text, ' '), tk ->
                     list_reduce(
                       list_prepend(cast(0 AS bigint),
                         list_transform(generate_series(1, length(tk)), i ->
                           cast(ascii(substr(tk, i, 1)) AS bigint))),
                       (acc, v) -> (acc * 31 + v) % $Mod))),
                 (acc, h) -> (acc * 131 + h) % $Mod) AS fingerprint
        FROM q),
      ek AS (
        SELECT doc_id, lang, source, text
        FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint
                                           ORDER BY doc_id) AS rn FROM fp)
        WHERE rn = 1),
      tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM ek
        WHERE len(string_split(text, ' ')) >= 3),
      sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks)-2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shs
        FROM tok)"""

  /** The UNCAPPED near-dup + sample stages (brute-force exact Jaccard),
    * appended to [[cleanSharedCtes]] by x11 and x50 only.
    */
  private def cleanStageCtes: String = s"""$cleanSharedCtes,
      dropped AS (
        SELECT DISTINCT b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.shs, b.shs)) AS double)
              / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.5),
      nd AS (
        SELECT doc_id, lang, source FROM ek
        WHERE doc_id NOT IN (SELECT id_b FROM dropped)),
      samp AS (
        SELECT doc_id, lang, source FROM nd
        WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 100 < $ratesCase)"""

  private val x11 = Demo("x11_corpus_clean", Some(s"""
      $cleanStageCtes
      SELECT doc_id, lang, source
      FROM samp
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir) => CorpusClean.pipeline(
        Tables.table(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", stratumCol = "lang",
        nearDupThreshold = 0.5, rates = rates,
        // one eager in-memory cut after exact dedup: the LSH stage reads
        // its input 3x (signatures + both verification sides); without
        // the cut that re-runs quality+fingerprint+window each time.
        // localCheckpoint (not persist): no CacheManager registration, so
        // each bench/verify build re-materializes independently instead
        // of silently reusing a cache across runs.
        materializeCut = _.localCheckpoint(true))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id").asc_nulls_last))

  /** The capped pipeline's stage CTEs: x11's chain with the brute-force
    * near-dup stage replaced by the CAPPED banding replay
    * ([[DedupDemos.oracleBandingFromSh]] over the post-exact-dedup
    * survivors' shingle sets — the same permutation chain as the
    * x2b2/x2f2/x58b oracles, one definition site).
    */
  private def cleanStageCtesCapped(cap: Int): String = {
    // the shared chain ends at sh (shingle sets of ek docs); graft the
    // banding + the SHARED capped bucket policy + verified-drop stages
    // onto it (one definition site with the x2b2/x2f2 oracles)
    s"""$cleanSharedCtes,
      ${DedupDemos.oracleBandingFromSh},
      ${DedupDemos.oracleCappedCandidateCtes(cap)},
      cdropped AS (
        SELECT DISTINCT cand.id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE cast(len(list_intersect(sa.shs, sb.shs)) AS double)
              / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.5),
      cnd AS (
        SELECT doc_id, lang, source FROM ek
        WHERE doc_id NOT IN (SELECT id_b FROM cdropped)),
      csamp AS (
        SELECT doc_id, lang, source FROM cnd
        WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 100 < $ratesCase)"""
  }

  // X11b: the CAPPED cleaning pipeline — lshMaxBucket passed through
  // CorpusClean (the knob the r7 500k probe identified as the whole
  // pipeline's linearity term) oracle-checked END-TO-END: quality →
  // exact dedup → capped-banding near-dup → stratified sample, with the
  // near-dup stage replayed declaratively instead of brute force. cap=2
  // pins the aggressive end (x2b2's contract: small enough to FIRE at
  // the verify SF).
  private val x11b = Demo("x11b_corpus_clean_capped", Some(s"""
      ${cleanStageCtesCapped(2)}
      SELECT doc_id, lang, source
      FROM csamp
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir) => CorpusClean.pipeline(
        Tables.table(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", stratumCol = "lang",
        nearDupThreshold = 0.5, rates = rates,
        materializeCut = _.localCheckpoint(true),
        lshMaxBucket = Some(2))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X45: DATASET-CARD REPORT (CorpusClean.datasetReport) — the per-slice
  // stats a corpus release publishes: docs, tokens, quality-bar passes,
  // distinct fingerprints, exact-dup rate (ppm). One group-keyed
  // aggregate over narrow per-row metric/fingerprint projections.
  // -------------------------------------------------------------------
  private val x45 = Demo("x45_dataset_report", Some(s"""
      WITH m AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               CASE WHEN len(string_split(text, ' ')) >= 5
                         AND len(list_filter(string_split(lower(text), ' '),
                               w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) > 0
                         AND coalesce(CASE WHEN length(text) > 0
                               THEN cast(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS double)
                                    / length(text) END, 1.0) < 0.2
                    THEN 1 ELSE 0 END AS keep,
               ${DedupDemos.fingerprintSql} AS fingerprint
        FROM documents)
      SELECT lang,
             count(*) AS n_docs,
             cast(sum(n_tokens) AS bigint) AS n_tokens,
             cast(sum(keep) AS bigint) AS n_quality,
             cast(count(DISTINCT fingerprint) AS bigint) AS n_unique,
             (1000000 * (count(*) - count(DISTINCT fingerprint))) // count(*)
               AS dup_ppm
      FROM m
      GROUP BY lang
      ORDER BY lang ASC NULLS LAST"""),
    (s, dir) => CorpusClean.datasetReport(
        Tables.table(s, dir, "documents"), "text", "lang")
      .orderBy(col("lang").asc_nulls_last))

  // -------------------------------------------------------------------
  // X46: CURRICULUM ORDERING (CorpusClean.curriculumOrder) — every doc
  // banded by the CCNet perplexity terciles, then given a deterministic
  // pseudo-random position WITHIN its band (salted mixer order, doc-id
  // tiebreak): the "easy first, shuffled within difficulty" schedule.
  // Oracle replays tercile banding (integer-input quantiles — the x9b
  // law) + the x29 mixer chain + a band-partitioned row_number.
  // -------------------------------------------------------------------
  private val curSalt = 11L

  private val x46 = Demo("x46_curriculum", Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
      t2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      tf AS (SELECT word, count(*) AS tf FROM t2 GROUP BY 1),
      d AS (SELECT doc_id, count(*) AS n_toks, sum(tf) AS sum_tf
            FROM t2 JOIN tf USING (word) GROUP BY 1),
      sc AS (SELECT doc_id,
                    cast((1000000 * sum_tf) // n_toks AS bigint) AS score_ppm
             FROM d),
      b AS (SELECT quantile_cont(score_ppm, 0.33) AS t1,
                   quantile_cont(score_ppm, 0.67) AS t2 FROM sc),
      banded AS (
        SELECT doc_id,
               CASE WHEN score_ppm >= b.t2 THEN 'head'
                    WHEN score_ppm >= b.t1 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM sc, b),
      h1 AS (SELECT doc_id, bucket,
                    (((doc_id + $curSalt) % 2147483648) * 2654435761)
                      % 2147483648 AS h
             FROM banded),
      h2 AS (SELECT doc_id, bucket, xor(h, h >> 15) AS h FROM h1),
      h3 AS (SELECT doc_id, bucket, (h * 2246822519) % 2147483648 AS h FROM h2),
      h4 AS (SELECT doc_id, bucket, xor(h, h >> 13) AS h FROM h3)
      SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY h ASC, doc_id ASC) AS band_rank
      FROM h4
      ORDER BY bucket ASC NULLS LAST, band_rank ASC NULLS LAST"""),
    (s, dir) => CorpusClean.curriculumOrder(
        Tables.table(s, dir, "documents"), "doc_id", "text", salt = curSalt)
      .orderBy(col("bucket").asc_nulls_last, col("band_rank").asc_nulls_last))

  // -------------------------------------------------------------------
  // X50: CLEANING WATERFALL — the release-audit companion of x11: how
  // many docs each pipeline stage removed (input → quality → exact dedup
  // → near-dup → sample). Counts are scalar aggregates of the SAME stage
  // frames the pipeline builds, crossJoined (scalar × scalar) and
  // exploded into one row per stage; the oracle counts the shared stage
  // CTEs. At scale this is the pipeline's cost/auditing dashboard — one
  // pass per stage, no extra shuffles beyond the stages themselves.
  // -------------------------------------------------------------------
  private val x50 = Demo("x50_clean_waterfall", Some(s"""
      $cleanStageCtes,
      c AS (SELECT
        (SELECT count(*) FROM documents) AS n0,
        (SELECT count(*) FROM q) AS n1,
        (SELECT count(*) FROM ek) AS n2,
        (SELECT count(*) FROM nd) AS n3,
        (SELECT count(*) FROM samp) AS n4)
      SELECT cast(1 AS bigint) AS stage_idx, 'input' AS stage,
             n0 AS n_docs, cast(0 AS bigint) AS n_removed FROM c
      UNION ALL SELECT 2, 'quality', n1, n0 - n1 FROM c
      UNION ALL SELECT 3, 'exact_dedup', n2, n1 - n2 FROM c
      UNION ALL SELECT 4, 'near_dedup', n3, n2 - n3 FROM c
      UNION ALL SELECT 5, 'sample', n4, n3 - n4 FROM c
      ORDER BY stage_idx ASC NULLS LAST"""),
    (s, dir) => {
      // the SAME stage frames (and parameters) x11's pipeline executes —
      // CorpusClean.stages is the single definition site, so the
      // waterfall can never drift from the pipeline output
      val stages = CorpusClean.stages(
        Tables.table(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", stratumCol = "lang",
        nearDupThreshold = 0.5, rates = rates,
        materializeCut = _.localCheckpoint(true),
        // every stage frame is counted below, so each cuts once — a
        // lazy nearKept would re-run the LSH pair chain per downstream
        // count (r17: the waterfall's plan carried the chain twice)
        cutAllStages = true).ordered
      val wide = stages.zipWithIndex
        .map { case ((_, df), i) => df.agg(count(lit(1)).as(s"n$i")) }
        .reduce(_ crossJoin _)
      val rows = stages.zipWithIndex.map { case ((name, _), i) =>
        struct(lit((i + 1).toLong).as("stage_idx"), lit(name).as("stage"),
          col(s"n$i").as("n_docs"),
          (if (i == 0) lit(0L) else col(s"n${i - 1}") - col(s"n$i"))
            .as("n_removed"))
      }
      wide.select(explode(array(rows: _*)).as("r"))
        .select(col("r.stage_idx").as("stage_idx"), col("r.stage").as("stage"),
          col("r.n_docs").as("n_docs"), col("r.n_removed").as("n_removed"))
        .orderBy(col("stage_idx").asc_nulls_last)
    })

  val all: Seq[Demo] = Seq(x11, x11b, x45, x46, x50)
}
