package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Deterministic-sampling demonstrators over `documents`
  * ([[graft.operators.Sampling]]): reproducible corpus subsampling —
  * selection is a pure function of doc_id, so the oracle reproduces the
  * exact sample.
  */
object SamplingDemos {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  private val x10a = Demo("x10a_hash_sample", Some("""
      SELECT doc_id, lang, source
      FROM documents
      WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 100 < 20
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Sampling.hashSample(docs(s, dir), col("doc_id"), percent = 20)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id").asc_nulls_last))

  private val stratRates = Map("en" -> 10, "de" -> 50, "fr" -> 50, "es" -> 50)

  /** SQL CASE generated from the same map the Spark side uses. */
  private def stratCase: String =
    "CASE lang " +
      stratRates.toSeq.sortBy(_._1).map { case (l, p) => s"WHEN '$l' THEN $p" }
        .mkString(" ") + " ELSE 0 END"

  private val x10b = Demo("x10b_stratified_sample", Some(s"""
      SELECT doc_id, lang
      FROM documents
      WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 100 < $stratCase
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Sampling.stratifiedSample(docs(s, dir), col("doc_id"), col("lang"),
        rates = stratRates)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X27: DOMAIN MIXING — Sampling.mixToTarget: downsample the corpus so
  // per-language counts hit the 2:1:1:1 target proportions (the
  // training-data "data mixing" step). The binding domain (minimal
  // count/weight — `de` at every SF for these weights) keeps 100%; all
  // rates are exact integer ppm, so the kept set replays bit-identically
  // in the oracle (Spark `div` == DuckDB `//`). `fr` is unlisted → dropped.
  // -------------------------------------------------------------------
  private val mixWeights = Map("en" -> 2, "zh" -> 1, "es" -> 1, "de" -> 1)

  /** VALUES list generated from the same map the Spark side uses. */
  private def mixValues: String =
    mixWeights.toSeq.sortBy(_._1)
      .map { case (d, w) => s"('$d', $w)" }.mkString(", ")

  private val x27 = Demo("x27_domain_mix", Some(s"""
      WITH w(dom, wt) AS (VALUES $mixValues),
      c AS (SELECT lang AS dom, count(*) AS cnt
            FROM documents GROUP BY 1),
      cw AS (SELECT dom, cnt, wt FROM c JOIN w USING (dom)),
      b AS (SELECT cnt AS bc, wt AS bw FROM cw
            ORDER BY cast(cnt AS double) / wt ASC, dom ASC LIMIT 1),
      r AS (SELECT dom, (1000000 * b.bc * cw.wt) // (b.bw * cw.cnt) AS rate_ppm
            FROM cw, b)
      SELECT d.doc_id, d.lang, r.rate_ppm
      FROM documents d JOIN r ON d.lang = r.dom
      WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 1000000 < r.rate_ppm
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Sampling.mixToTarget(docs(s, dir), col("doc_id"), "lang",
        mixWeights)
      .select(col("doc_id"), col("lang"), col("rate_ppm"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X29: DETERMINISTIC TRAINING-ORDER SHUFFLE + SHARDING —
  // Sampling.shuffleShard: global pseudo-random order as a pure function
  // of doc_id (salted multiply–xorshift mixer — reproducible across
  // runs/engines, unlike orderBy(rand())) plus the shard each row lands
  // in. The demo's
  // ORDER BY shuffle_key IS the shuffled training order, replayed
  // bit-identically by the oracle.
  // -------------------------------------------------------------------
  private val (shuffleSalt, shuffleShards) = (7L, 8)

  private val x29 = Demo("x29_shuffle_shard", Some(s"""
      WITH h1 AS (SELECT doc_id,
                    (((doc_id + $shuffleSalt) % 2147483648) * 2654435761)
                      % 2147483648 AS h
                  FROM documents),
      h2 AS (SELECT doc_id, xor(h, h >> 15) AS h FROM h1),
      h3 AS (SELECT doc_id, (h * 2246822519) % 2147483648 AS h FROM h2),
      h4 AS (SELECT doc_id, xor(h, h >> 13) AS h FROM h3)
      SELECT doc_id, h AS shuffle_key, h % $shuffleShards AS shard
      FROM h4
      ORDER BY shuffle_key ASC NULLS LAST, doc_id ASC NULLS LAST"""),
    (s, dir, _) => Sampling.shuffleShard(docs(s, dir), col("doc_id"),
        numShards = shuffleShards, salt = shuffleSalt)
      .select(col("doc_id"), col("shuffle_key"), col("shard"))
      .orderBy(col("shuffle_key").asc_nulls_last, col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X32: QUALITY-AWARE RESAMPLING — Sampling.qualityResample over the
  // x5b quality verdict: keep-flagged docs sample at 100%, the rejected
  // tail at 10% (reproducible low-quality retention for robustness /
  // filter audits). The flag is x5b's exact CASE (integer counts + one
  // guarded IEEE division), the bucket the shared Knuth hash — so the
  // kept set replays bit-identically in the oracle.
  // -------------------------------------------------------------------
  private val x32 = Demo("x32_quality_resample", Some("""
      WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                 w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS n_stop
        FROM documents),
      k AS (
        SELECT doc_id,
               CASE WHEN n_tokens >= 5 AND n_stop > 0
                         AND coalesce(CASE WHEN n_chars_m > 0
                               THEN cast(n_punct AS double) / n_chars_m END, 1.0) < 0.2
                    THEN 1 ELSE 0 END AS keep
        FROM m)
      SELECT doc_id, keep
      FROM k
      WHERE (((doc_id % 2147483648) * 2654435761) >> 16) % 100
              < CASE WHEN keep = 1 THEN 100 ELSE 10 END
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val scored = graft.operators.TextAnalysis.qualityMetrics(
        docs(s, dir), "text")
      Sampling.qualityResample(scored, col("doc_id"), col("keep") === 1,
          keepPct = 100, tailPct = 10)
        .select(col("doc_id"), col("keep"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X34: PER-DOMAIN CAP — Sampling.capPerDomain: at most 10 docs per
  // source (the web-corpus "no domain may dominate" step), keepers =
  // first 10 in salted shuffle-key order (a reproducible uniform sample
  // of each domain, not a lowest-id prefix). The oracle replays the
  // exact x29 mixer chain + a partitioned row_number.
  // -------------------------------------------------------------------
  private val (capSalt, capN) = (3L, 10)

  private val x34 = Demo("x34_domain_cap", Some(s"""
      WITH h1 AS (SELECT doc_id, source,
                    (((doc_id + $capSalt) % 2147483648) * 2654435761)
                      % 2147483648 AS h
                  FROM documents),
      h2 AS (SELECT doc_id, source, xor(h, h >> 15) AS h FROM h1),
      h3 AS (SELECT doc_id, source, (h * 2246822519) % 2147483648 AS h FROM h2),
      h4 AS (SELECT doc_id, source, xor(h, h >> 13) AS h FROM h3),
      r AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h ASC, doc_id ASC)
                     AS domain_rank
            FROM h4)
      SELECT doc_id, source, domain_rank
      FROM r WHERE domain_rank <= $capN
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Sampling.capPerDomain(docs(s, dir), col("doc_id"), "source",
        maxPerDomain = capN, salt = capSalt)
      .select(col("doc_id"), col("source"), col("domain_rank"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X36: TOKEN-WEIGHTED MIXTURE EPOCH PLAN — Sampling.mixtureEpochs:
  // given target mixture shares (ppm), how many repeat passes (epochs)
  // of each language domain reach the target without discarding scarce
  // data — the planning complement of x27's downsampling mix. Exact
  // bigint floor/ceil division on both engines; `fr` unlisted → excluded
  // from totals and output (inner-join contract).
  // -------------------------------------------------------------------
  private val epochTargets = Map(
    "en" -> 400000L, "de" -> 200000L, "es" -> 200000L, "zh" -> 200000L)

  /** VALUES list generated from the same map the Spark side uses. */
  private def epochValues: String =
    epochTargets.toSeq.sortBy(_._1)
      .map { case (d, p) => s"('$d', $p)" }.mkString(", ")

  private val x36 = Demo("x36_mixture_epochs", Some(s"""
      WITH tgt(lang, target_ppm) AS (VALUES $epochValues),
      c AS (SELECT d.lang, count(*) AS n_docs,
                   cast(sum(len(string_split(d.text, ' '))) AS bigint) AS n_tokens,
                   any_value(t.target_ppm) AS target_ppm
            FROM documents d JOIN tgt t ON d.lang = t.lang
            GROUP BY d.lang),
      tot AS (SELECT cast(sum(n_tokens) AS bigint) AS total FROM c)
      SELECT c.lang, c.n_docs, c.n_tokens,
             (c.n_tokens * 1000000) // tot.total AS actual_ppm,
             cast(c.target_ppm AS bigint) AS target_ppm,
             (c.target_ppm + greatest((c.n_tokens * 1000000) // tot.total, 1) - 1)
               // greatest((c.n_tokens * 1000000) // tot.total, 1) AS epochs
      FROM c, tot
      ORDER BY lang ASC NULLS LAST"""),
    (s, dir, _) => Sampling.mixtureEpochs(docs(s, dir), "lang", "text",
        targetPpm = epochTargets)
      .orderBy(col("lang").asc_nulls_last))

  // -------------------------------------------------------------------
  // X40: EPOCH MATERIALIZATION — Sampling.materializeEpochs: replicate
  // each doc `epochs` times per the x36 plan, tagged with the epoch
  // index (the repeat half of repeat-and-interleave; x29's shuffle-shard
  // is the interleave half). Broadcast plan join + narrow explode — the
  // fan-out IS the intended output. Oracle replays the plan CTE and a
  // lateral generate_series.
  // -------------------------------------------------------------------
  private val x40 = Demo("x40_epoch_materialize", Some(s"""
      WITH tgt(lang, target_ppm) AS (VALUES $epochValues),
      c AS (SELECT d.lang, cast(sum(len(string_split(d.text, ' '))) AS bigint) AS n_tokens,
                   any_value(t.target_ppm) AS target_ppm
            FROM documents d JOIN tgt t ON d.lang = t.lang
            GROUP BY d.lang),
      tot AS (SELECT cast(sum(n_tokens) AS bigint) AS total FROM c),
      plan AS (SELECT c.lang,
                      (c.target_ppm + greatest((c.n_tokens * 1000000) // tot.total, 1) - 1)
                        // greatest((c.n_tokens * 1000000) // tot.total, 1) AS epochs
               FROM c, tot)
      SELECT d.doc_id, d.lang, e.epoch
      FROM documents d
      JOIN plan p ON d.lang = p.lang,
      unnest(generate_series(1, p.epochs)) e(epoch)
      ORDER BY doc_id ASC NULLS LAST, epoch ASC NULLS LAST"""),
    (s, dir, _) => Sampling.materializeEpochs(docs(s, dir), "lang", "text",
        targetPpm = epochTargets)
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy(col("doc_id").asc_nulls_last, col("epoch").asc_nulls_last))

  // -------------------------------------------------------------------
  // X47: DETERMINISTIC TRAIN/VAL/TEST SPLIT — Sampling.assignSplit:
  // consecutive ppm ranges of the Knuth-hash bucket (90/5/5). A pure
  // function of doc_id: reproducible everywhere AND stable under corpus
  // growth (a row never migrates splits when other rows arrive — unlike
  // randomSplit). Oracle replays the bucket ranges; the demo reports
  // per-(split, lang) counts to show stratification-by-hash balance.
  // -------------------------------------------------------------------
  private val splitPlan = Seq(
    ("train", 900000L), ("val", 50000L), ("test", 50000L))

  private val x47 = Demo("x47_dataset_split", Some("""
      WITH b AS (
        SELECT doc_id, lang,
               (((doc_id % 2147483648) * 2654435761) >> 16) % 1000000 AS bucket
        FROM documents),
      s AS (SELECT doc_id, lang,
                   CASE WHEN bucket IS NULL THEN NULL
                        WHEN bucket < 900000 THEN 'train'
                        WHEN bucket < 950000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b)
      SELECT split, lang, count(*) AS n_docs
      FROM s
      GROUP BY split, lang
      ORDER BY split ASC NULLS LAST, lang ASC NULLS LAST"""),
    (s, dir, _) => Sampling.assignSplit(docs(s, dir), col("doc_id"), splitPlan)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split").asc_nulls_last, col("lang").asc_nulls_last))

  // -------------------------------------------------------------------
  // X51: SPLIT-LEAKAGE AUDIT — the contamination check every train/test
  // split needs: test docs sharing at least one 8-token gram with ANY
  // train doc (x47's split), with the shared-gram count per leaked doc.
  // Distinct grams of each side meet in ONE equi-join on the gram text —
  // at scale a big-big sort-merge on the gram key (deliberately NO
  // broadcast: unlike x23's tiny-benchmark contract, the train side is
  // 90% of the corpus) — never doc×doc.
  // -------------------------------------------------------------------
  private val leakN = 8

  private def gramListSql: String = {
    val parts = (0 until leakN).map(k => s"toks[i+$k]").mkString(", ")
    s"""list_distinct(list_transform(
          generate_series(1, len(toks) - ${leakN - 1}),
          i -> concat_ws(' ', $parts)))"""
  }

  private val x51 = Demo("x51_split_leakage", Some(s"""
      WITH b AS (
        SELECT doc_id, lang, text,
               (((doc_id % 2147483648) * 2654435761) >> 16) % 1000000 AS bucket
        FROM documents),
      s AS (SELECT doc_id, lang, text,
                   CASE WHEN bucket IS NULL THEN NULL
                        WHEN bucket < 900000 THEN 'train'
                        WHEN bucket < 950000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b),
      tok AS (SELECT doc_id, lang, split, string_split(text, ' ') AS toks
              FROM s WHERE len(string_split(text, ' ')) >= $leakN),
      tg AS (SELECT doc_id, lang, unnest($gramListSql) AS g
             FROM tok WHERE split = 'test'),
      trg AS (SELECT DISTINCT unnest($gramListSql) AS g
              FROM tok WHERE split = 'train')
      SELECT tg.doc_id, tg.lang,
             cast(sum(CASE WHEN trg.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS bigint) AS n_shared_grams
      FROM tg LEFT JOIN trg ON tg.g = trg.g
      GROUP BY tg.doc_id, tg.lang
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      import graft.operators.TextDedup
      val split = Sampling.assignSplit(docs(s, dir).select(
          col("doc_id"), col("lang"), col("text")),
        col("doc_id"), splitPlan)
      val tok = split
        .withColumn("toks", split_(col("text")))
        .filter(size(col("toks")) >= leakN)
      val tg = tok.filter(col("split") === "test")
        .select(col("doc_id"), col("lang"),
          explode(TextDedup.nGramSet(col("toks"), leakN)).as("g"))
      val trg = tok.filter(col("split") === "train")
        .select(explode(TextDedup.nGramSet(col("toks"), leakN)).as("g"))
        .distinct()
        .withColumn("__hit", lit(1L))
      // LEFT join: every test doc reports, leaked or not — a clean audit
      // is "all zeros", not an empty frame
      tg.join(trg, Seq("g"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_shared_grams"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  private def split_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.split(c, " ")

  // -------------------------------------------------------------------
  // X61: TEMPERATURE-SCALED MIXTURE SHARES (Sampling.temperatureShares)
  // — the XLM-R / mC4 reweighting q_l ∝ p_l^α that COMPUTES the mixture
  // x27's downsampler / x36's epoch planner consume; α = 0.5 upweights
  // scarce languages. The two floating steps (n/N, sqrt) are single
  // correctly-rounded IEEE ops over exact integers, quantized ×10⁶ to
  // bigints before the normalizing sum (the x33 law), so shares replay
  // bit-identically.
  // -------------------------------------------------------------------
  private val x61 = Demo("x61_temperature_shares", Some("""
      WITH c AS (
        SELECT lang AS domain, count(*) AS n_docs
        FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      t AS (SELECT cast(sum(n_docs) AS bigint) AS N FROM c),
      w AS (SELECT domain, n_docs,
                   cast(floor(sqrt(cast(n_docs AS double) / N) * 1000000)
                        AS bigint) AS w
            FROM c CROSS JOIN t),
      ws AS (SELECT cast(sum(w) AS bigint) AS ws FROM w)
      SELECT domain, n_docs, (1000000 * w) // ws AS share_ppm
      FROM w CROSS JOIN ws
      ORDER BY domain ASC NULLS LAST"""),
    (s, dir, _) => Sampling.temperatureShares(
        Tables.table(s, dir, "documents"), "lang", alpha = 0.5)
      .orderBy(col("domain").asc_nulls_last))

  val all: Seq[Demo] =
    Seq(x10a, x10b, x27, x29, x32, x34, x36, x40, x47, x51, x61)
}
