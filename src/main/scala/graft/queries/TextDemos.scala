package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Perceptron, TextAnalysis}
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Text-analysis demonstrators (SURVEY.md §2B X5) over the harness
  * `documents` table. Operators live in
  * [[graft.operators.TextAnalysis]]; demos bind the harness schema and
  * pin output order for the oracle hash-compare.
  */
object TextDemos {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  private val x5a = Demo("x5a_token_count", Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             length(replace(regexp_replace(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 'x', 'g'), ' ', '')) AS bpeish_tokens
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.tokenCounts(docs(s, dir), "text")
      .select(col("doc_id"), col("ws_tokens"), col("bpeish_tokens"))
      .orderBy(col("doc_id").asc_nulls_last))

  private val x5b = Demo("x5b_quality_score", Some("""
      WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                 w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS n_stop
        FROM documents)
      SELECT doc_id, n_chars_m, n_tokens,
             CASE WHEN n_chars_m > 0
                  THEN cast(n_punct AS double) / n_chars_m END AS punct_ratio,
             cast(n_stop AS double) / n_tokens AS stopword_ratio,
             cast(n_chars_m - n_tokens + 1 AS double) / n_tokens AS mean_word_len,
             CASE WHEN n_tokens >= 5 AND n_stop > 0
                       AND coalesce(CASE WHEN n_chars_m > 0
                             THEN cast(n_punct AS double) / n_chars_m END, 1.0) < 0.2
                  THEN 1 ELSE 0 END AS keep
      FROM m
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.qualityMetrics(docs(s, dir), "text")
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        col("punct_ratio"), col("stopword_ratio"), col("mean_word_len"),
        col("keep"))
      .orderBy(col("doc_id").asc_nulls_last))

  private val x5c = Demo("x5c_lang_id", Some("""
      WITH m AS (
        SELECT doc_id, lang,
               lower(text) AS lt,
               length(text) AS n
        FROM documents),
      sc AS (
        SELECT doc_id, lang,
               CASE WHEN n > 0 THEN cast(length(lt) - length(regexp_replace(lt, '[äöüß]', '', 'g')) AS double) / n ELSE 0 END AS de_rate,
               CASE WHEN n > 0 THEN cast(length(lt) - length(regexp_replace(lt, '[éèêàçù]', '', 'g')) AS double) / n ELSE 0 END AS fr_rate,
               CASE WHEN n > 0 THEN cast(length(lt) - length(regexp_replace(lt, '[áíóúñ¿¡]', '', 'g')) AS double) / n ELSE 0 END AS es_rate,
               cast(len(list_filter(string_split(lt, ' '),
                 w -> list_contains(['the','and','of','is','you'], w))) AS double)
                 / len(string_split(lt, ' ')) AS en_rate
        FROM m)
      SELECT doc_id, lang,
             CASE WHEN de_rate >= fr_rate AND de_rate >= es_rate AND de_rate > 0 THEN 'de'
                  WHEN fr_rate >= es_rate AND fr_rate > 0 THEN 'fr'
                  WHEN es_rate > 0 THEN 'es'
                  WHEN en_rate > 0 THEN 'en'
                  ELSE 'und' END AS lang_guess
      FROM sc
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.langGuess(docs(s, dir), "text")
      .select(col("doc_id"), col("lang"), col("lang_guess"))
      .orderBy(col("doc_id").asc_nulls_last))

  private val x5d = Demo("x5d_word_topk", Some("""
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w != ''
      GROUP BY 1
      ORDER BY freq DESC NULLS LAST, word ASC NULLS LAST
      LIMIT 50"""),
    (s, dir, _) => TextAnalysis.wordTopK(docs(s, dir), "text", 50))

  // X5e: PII masking. The harness corpus contains no PII, so the demo
  // derives a text with deterministic doc_id-based email/IP/number tokens
  // appended (same construction replayed verbatim in the oracle) — the
  // input stays the harness table while every masking path executes for
  // real on all rows.
  private val x5e = Demo("x5e_pii_mask", Some(s"""
      WITH pii AS (
        SELECT doc_id,
               text || ' contact user' || cast(doc_id AS varchar)
                    || '@example.com from 10.0.0.' || cast(doc_id % 256 AS varchar)
                    || ' ref ' || cast(doc_id * 7 AS varchar) AS text
        FROM documents),
      m AS (
        SELECT doc_id,
               regexp_replace(text, '${TextAnalysis.EmailPattern}', '<email>', 'g') AS after_email,
               len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS n_emails
        FROM pii),
      m2 AS (
        SELECT doc_id, n_emails,
               regexp_replace(after_email, '${TextAnalysis.Ipv4Pattern}', '<ip>', 'g') AS after_ip,
               len(regexp_extract_all(after_email, '${TextAnalysis.Ipv4Pattern}')) AS n_ipv4
        FROM m)
      SELECT doc_id, n_emails, n_ipv4,
             len(regexp_extract_all(after_ip, '${TextAnalysis.NumberPattern}')) AS n_nums,
             regexp_replace(after_ip, '${TextAnalysis.NumberPattern}', '<num>', 'g') AS masked
      FROM m2
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0.0."),
          (col("doc_id") % 256).cast("string"),
          lit(" ref "), (col("doc_id") * 7).cast("string")).as("text"))
      TextAnalysis.maskPii(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_nums"),
          col("masked"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // X5f: token-window chunking (64-token windows, 16-token overlap →
  // stride 48) — the context-window packing step of a training pipeline.
  private val x5f = Demo("x5f_chunking", Some("""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      st AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, 48)) AS start
        FROM tok)
      SELECT doc_id,
             cast(start // 48 AS int) AS chunk_idx,
             len(toks[start + 1 : start + 64]) AS n_tokens,
             array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text
      FROM st
      ORDER BY doc_id ASC NULLS LAST, chunk_idx ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.chunkByTokens(docs(s, dir), "doc_id", "text",
        chunkSize = 64, overlap = 16)
      .orderBy(col("doc_id").asc_nulls_last, col("chunk_idx").asc_nulls_last))

  // X5g: sequence packing — documents concatenated in id order and cut
  // into 2048-token training windows (each doc binned by the window its
  // starting offset falls in). The Spark side computes the global prefix
  // sum distributed (two-pass partition-offset scheme); the oracle states
  // it as one window cumsum.
  private val x5g = Demo("x5g_seq_packing", Some("""
      WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      c AS (
        SELECT doc_id, n,
               sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT cast((cum - n) // 2048 AS bigint) AS bin_id,
             count(*) AS n_docs,
             cast(sum(n) AS bigint) AS total_tokens,
             min(doc_id) AS first_doc,
             max(doc_id) AS last_doc
      FROM c
      GROUP BY 1
      ORDER BY bin_id ASC NULLS LAST"""),
    (s, dir, cuts) => TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
        2048, cuts)
      .orderBy(col("bin_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X5h: TF-IDF characteristic terms — top-5 per doc by tf·idf. The
  // oracle emits RANK, not the float score: Catalyst's log is
  // StrictMath (fdlibm) and DuckDB's ln is libm — 1-ulp apart on ~0.1%
  // of inputs — but the ranking is ulp-robust (exact ties ⇔ identical
  // (tf, df), broken by term on both engines; see TextAnalysis.tfIdf).
  // -------------------------------------------------------------------
  private val x5h = Demo("x5h_tfidf_terms", Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term != '' GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               cast(t.tf AS double) * ln((n.n_docs + 1.0) / (d.df + 1.0)) AS score
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tf, df,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, rank, term, tf, df FROM ranked WHERE rank <= 5
      ORDER BY doc_id ASC NULLS LAST, rank ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.tfIdf(docs(s, dir), "doc_id", "text", 5)
      .drop("score")
      .orderBy(col("doc_id").asc_nulls_last, col("rank").asc_nulls_last))

  // X5i: bigram corpus-frequency coverage — the log-free LM-ish quality
  // score (TextAnalysis.bigramCoverage): share of a doc's distinct
  // bigrams seen in >= 3 corpus documents. Exact counts + ONE division;
  // no transcendentals (the float-fn law), so the score hash-matches.
  private val x5i = Demo("x5i_bigram_coverage", Some("""
      WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(lower(text), ' ')) >= 2),
      bg AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1]))) AS bg
        FROM tok),
      dfc AS (SELECT bg, count(*) AS df FROM bg GROUP BY 1),
      per AS (
        SELECT doc_id, count(*) AS n_bigrams,
               sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_common
        FROM bg JOIN dfc USING (bg)
        GROUP BY 1)
      SELECT doc_id, n_bigrams, cast(n_common AS bigint) AS n_common,
             cast(n_common AS double) / cast(n_bigrams AS double) AS coverage
      FROM per
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.bigramCoverage(docs(s, dir), "doc_id", "text",
        minDf = 3)
      .orderBy(col("doc_id").asc_nulls_last))

  // X5j: Gopher-style intra-document repetition metrics
  // (TextAnalysis.repetitionMetrics) — char share of the single most
  // frequent bigram and of all duplicated trigrams, occurrences counted
  // WITH repeats. All counts are exact integers; each share is ONE
  // guarded IEEE division (the float-fn law), so the metrics
  // hash-match. The e0-suffixed threshold literals pin DOUBLE on the
  // oracle side (repo float-literal convention).
  private val x5j = Demo("x5j_repetition", Some("""
      WITH base AS (
        SELECT doc_id, length(text) AS n_chars_r,
               string_split(lower(text), ' ') AS toks
        FROM documents),
      bg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM base WHERE len(toks) >= 2),
      bgc AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY 1, 2),
      top2 AS (
        SELECT doc_id, g AS top_bigram, cnt AS top_bigram_count,
               cnt * length(g) AS top2_chars
        FROM (SELECT doc_id, g, cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, g ASC) AS rn
              FROM bgc)
        WHERE rn = 1),
      tg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
        FROM base WHERE len(toks) >= 3),
      tgc AS (SELECT doc_id, g, count(*) AS cnt FROM tg GROUP BY 1, 2),
      dup3 AS (
        SELECT doc_id,
               sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS dup3_chars
        FROM tgc GROUP BY 1),
      m AS (
        SELECT b.doc_id, t.top_bigram, t.top_bigram_count,
               CASE WHEN b.n_chars_r > 0
                    THEN cast(coalesce(t.top2_chars, 0) AS double) / b.n_chars_r
                    ELSE 0.0e0 END AS top_bigram_char_frac,
               CASE WHEN b.n_chars_r > 0
                    THEN cast(coalesce(d.dup3_chars, 0) AS double) / b.n_chars_r
                    ELSE 0.0e0 END AS dup_trigram_char_frac
        FROM base b LEFT JOIN top2 t USING (doc_id) LEFT JOIN dup3 d USING (doc_id))
      SELECT doc_id, top_bigram, top_bigram_count,
             top_bigram_char_frac, dup_trigram_char_frac,
             CASE WHEN top_bigram_char_frac <= 0.20e0
                   AND dup_trigram_char_frac <= 0.60e0
                  THEN 1 ELSE 0 END AS keep_repetition
      FROM m
      ORDER BY doc_id ASC NULLS LAST, top_bigram ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.repetitionMetrics(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last, col("top_bigram").asc_nulls_last))

  // X5k: unigram-LM document scoring (TextAnalysis.unigramLmScore) —
  // corpus-trained unigram LM, doc scored by mean token probability plus
  // min corpus frequency and hapax share. Exact integer counts + two
  // final IEEE divisions (the float-fn law — no log, contrast x5h's
  // rank-encoded TF-IDF), so every value hash-matches the oracle.
  private val x5k = Demo("x5k_unigram_lm", Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
      t2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      tf AS (SELECT word, count(*) AS tf FROM t2 GROUP BY 1),
      tot AS (SELECT sum(tf) AS total_tokens FROM tf),
      d AS (SELECT doc_id, count(*) AS n_toks, sum(tf) AS sum_tf,
                   min(tf) AS min_tf,
                   sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS n_hapax
            FROM t2 JOIN tf USING (word) GROUP BY 1)
      SELECT doc_id, n_toks, min_tf,
             cast(n_hapax AS double) / n_toks AS hapax_share,
             cast(sum_tf AS double) / n_toks / total_tokens AS mean_tok_p
      FROM d, tot
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.unigramLmScore(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last))

  // X5l: CCNet-style head/middle/tail terciles
  // (TextAnalysis.perplexityBuckets) — docs bucketed at the corpus-wide
  // p33/p67 boundaries of an integer perplexity proxy (fixed-point mean
  // corpus token frequency). Exact-integer score (Spark div ≡ DuckDB //)
  // + integer-input percentile interpolation (the x9b law) ⇒ the
  // boundary CASE replays bit-identically.
  private val x5l = Demo("x5l_ppl_buckets", Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
      t2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      tf AS (SELECT word, count(*) AS tf FROM t2 GROUP BY 1),
      d AS (SELECT doc_id, count(*) AS n_toks, sum(tf) AS sum_tf
            FROM t2 JOIN tf USING (word) GROUP BY 1),
      s AS (SELECT doc_id, n_toks,
                   cast((1000000 * sum_tf) // n_toks AS bigint) AS score_ppm
            FROM d),
      b AS (SELECT quantile_cont(score_ppm, 0.33) AS t1,
                   quantile_cont(score_ppm, 0.67) AS t2 FROM s)
      SELECT doc_id, n_toks, score_ppm,
             CASE WHEN score_ppm >= b.t2 THEN 'head'
                  WHEN score_ppm >= b.t1 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM s, b
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.perplexityBuckets(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last))

  // X33: BM25 TOP-K RETRIEVAL (TextAnalysis.bm25TopK) — Okapi BM25
  // (k1=1.2, b=0.75) of the whole corpus against a fixed query-term
  // set, log-free idf (N+1)/(df+1). Per-term scores are one fixed IEEE
  // expression tree over exact integers (bit-identical in DuckDB — the
  // SQL spells the SAME tree), quantized to ×10⁶ integers BEFORE the
  // per-doc sum so the accumulation is exact integer arithmetic
  // (float-sum order is partition-dependent; integer sums are not).
  private[queries] val bm25Terms = Seq("spark", "hash", "merge", "window", "partition")

  /** The x33 BM25 scoring chain (tokens → doc lengths → per-term scores
    * → per-doc scaled sums) as CTE text — ONE definition site shared by
    * the x33 oracle and the x60 hybrid-retrieval oracle (drift between
    * the two legs' lexical scoring would silently change fusion ranks).
    */
  private[queries] def bm25AggCtes: String = s"""
      toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
      t2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
      tot AS (SELECT cast(sum(dl) AS bigint) AS total_toks,
                     count(*) AS nd FROM dl),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM t2
             WHERE word IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
             GROUP BY 1, 2),
      dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      sc AS (SELECT t.doc_id,
                    cast(floor(
                      (cast(o.nd + 1 AS double) / (d.df + 1))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75
                           * (cast(l.dl * o.nd AS double) / o.total_toks))))
                      * 1000000.0) AS bigint) AS s
             FROM tf t JOIN dfq d USING (word) JOIN dl l USING (doc_id)
             CROSS JOIN tot o),
      agg AS (SELECT doc_id, cast(sum(s) AS bigint) AS score_scaled,
                     count(*) AS n_terms
              FROM sc GROUP BY 1)"""

  private val x33 = Demo("x33_bm25", Some(s"""
      WITH $bm25AggCtes,
      top AS (SELECT doc_id, score_scaled, n_terms FROM agg
              ORDER BY score_scaled DESC, doc_id ASC LIMIT 20)
      SELECT row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS rank,
             doc_id, score_scaled, n_terms
      FROM top
      ORDER BY rank ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        bm25Terms, k = 20)
      .orderBy(col("rank").asc_nulls_last))

  // -------------------------------------------------------------------
  // X42: CHI-SQUARE WORD DRIFT (TextAnalysis.chisqDrift) — distribution
  // shift between the English and non-English slices: per word (total
  // count ≥ 5) the chi-square contribution under the pooled expectation,
  // quantized ×10⁶ to a bigint BEFORE ordering (x33 law: one fixed IEEE
  // expression tree per word — no cross-word float sums, no logs). Top
  // 50 drifting words, word-tiebroken.
  // -------------------------------------------------------------------
  private val x42 = Demo("x42_chisq_drift", Some("""
      WITH w AS (
        SELECT lang = 'en' AS a, unnest(string_split(text, ' ')) AS word
        FROM documents),
      c AS (
        SELECT word,
               cast(sum(CASE WHEN a THEN 1 ELSE 0 END) AS bigint) AS cnt_a,
               cast(sum(CASE WHEN a THEN 0 ELSE 1 END) AS bigint) AS cnt_b
        FROM w GROUP BY word),
      tot AS (SELECT cast(sum(cnt_a) AS bigint) AS na,
                     cast(sum(cnt_b) AS bigint) AS nb FROM c)
      SELECT word, cnt_a, cnt_b,
             cast(floor(1000000.0 * (
               (cast(cnt_a AS double)
                  - cast(cnt_a + cnt_b AS double)
                    * (cast(na AS double) / cast(na + nb AS double)))
               * (cast(cnt_a AS double)
                  - cast(cnt_a + cnt_b AS double)
                    * (cast(na AS double) / cast(na + nb AS double)))
               / (cast(cnt_a + cnt_b AS double)
                  * (cast(na AS double) / cast(na + nb AS double)))
               + (cast(cnt_b AS double)
                  - cast(cnt_a + cnt_b AS double)
                    * (cast(nb AS double) / cast(na + nb AS double)))
               * (cast(cnt_b AS double)
                  - cast(cnt_a + cnt_b AS double)
                    * (cast(nb AS double) / cast(na + nb AS double)))
               / (cast(cnt_a + cnt_b AS double)
                  * (cast(nb AS double) / cast(na + nb AS double)))
             )) AS bigint) AS contrib_q6
      FROM c, tot
      WHERE cnt_a + cnt_b >= 5
      ORDER BY contrib_q6 DESC, word ASC
      LIMIT 50"""),
    (s, dir, _) => TextAnalysis.chisqDrift(docs(s, dir), "text",
        inA = col("lang") === "en", minCount = 5, topK = 50)
      .orderBy(col("contrib_q6").desc, col("word").asc))

  // -------------------------------------------------------------------
  // X5m: BIGRAM LM SCORING (TextAnalysis.bigramLmScore) — conditional
  // P(w2|w1) = c2/c1 per bigram occurrence, ppm-quantized BEFORE the
  // per-doc sum (exact integers under any partial-agg order); per-doc
  // rarest-bigram count + floor mean conditional ppm.
  // -------------------------------------------------------------------
  private val x5m = Demo("x5m_bigram_lm", Some("""
      WITH tok AS (
        SELECT doc_id, toks FROM (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '),
                   t -> t <> '') AS toks
          FROM documents)
        WHERE len(toks) >= 2),
      bg AS (
        SELECT doc_id, toks[i] AS w1,
               concat_ws(' ', toks[i], toks[i+1]) AS bg
        FROM tok, unnest(generate_series(1, len(toks) - 1)) t(i)),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
      c1 AS (SELECT w1, count(*) AS c1
             FROM (SELECT unnest(string_split(lower(text), ' ')) AS w1
                   FROM documents)
             WHERE w1 <> '' GROUP BY w1)
      SELECT doc_id,
             count(*) AS n_bigrams,
             cast(min(c2) AS bigint) AS min_c2,
             cast(sum((1000000 * c2) // c1) AS bigint) // count(*) AS mean_p_ppm
      FROM bg JOIN c2 USING (bg) JOIN c1 USING (w1)
      GROUP BY doc_id
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => TextAnalysis.bigramLmScore(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X5n: VOCABULARY COVERAGE CUT (TextAnalysis.vocabCoverage) — the
  // tokenizer-vocab builder: words ranked by corpus frequency, keep the
  // prefix covering 95% of tokens. The threshold is the cross-multiplied
  // bigint inequality (no division); the global rank/cumsum runs as the
  // x5g distributed prefix-sum, never a single-partition window.
  // -------------------------------------------------------------------
  private val x5n = Demo("x5n_vocab_coverage", Some("""
      WITH c AS (
        SELECT w AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY w),
      t AS (SELECT cast(sum(cnt) AS bigint) AS total FROM c),
      r AS (SELECT word, cast(cnt AS bigint) AS cnt,
                   row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank,
                   cast(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
                     ROWS UNBOUNDED PRECEDING) AS bigint) AS cum
            FROM c)
      SELECT rank, word, cnt, (1000000 * cum) // total AS cum_ppm
      FROM r, t
      WHERE 1000000 * (cum - cnt) < 950000 * total
      ORDER BY rank ASC NULLS LAST"""),
    (s, dir, cuts) => TextAnalysis.vocabCoverage(docs(s, dir), "text",
        coveragePpm = 950000L, cuts)
      .orderBy(col("rank").asc_nulls_last))

  // -------------------------------------------------------------------
  // X5o: BPE-MERGE VOCABULARY TRAINING (TextAnalysis.bpeMerges) — learn
  // the first 8 merge rules from the corpus (Sennrich et al. 2016). The
  // oracle replays the training loop UNROLLED (the x3c pattern): per
  // round, a pair-count aggregate over the word-type table, the argmax
  // pair (ties: lexicographic), and the greedy left-to-right fuse as a
  // list_reduce fold over chr(31)-joined symbol strings — every count is
  // an exact long, so the 8-round merge sequence matches bit-for-bit.
  // -------------------------------------------------------------------
  private def bpePairsSql(src: String): String = s"""
      SELECT toks[i] AS lhs, toks[i+1] AS rhs, cast(sum(cnt) AS bigint) AS pc
        FROM (SELECT cnt, str_split(symstr, chr(31)) AS toks FROM $src),
             unnest(generate_series(1, len(toks)-1)) t(i)
        GROUP BY 1, 2"""

  private def bpeApplySql(prev: String, m: String): String = s"""
      SELECT word, cnt,
             list_reduce(str_split(symstr, chr(31)), (acc, x) ->
               CASE WHEN str_split(acc, chr(31))[-1] = m.lhs AND x = m.rhs
                    THEN acc[1 : len(acc) - len(m.lhs)] || m.lhs || m.rhs
                    ELSE acc || chr(31) || x END) AS symstr
        FROM $prev, $m m"""

  private val bpeRounds = 8

  private val x5o = Demo("x5o_bpe_train", Some {
    val rounds = (1 to bpeRounds).map { r =>
      s"""p$r AS (${bpePairsSql(s"s${r - 1}")}),
      m$r AS (SELECT lhs, rhs, pc FROM p$r
              ORDER BY pc DESC, lhs ASC, rhs ASC LIMIT 1),
      s$r AS (${bpeApplySql(s"s${r - 1}", s"m$r")})"""
    }.mkString(",\n      ")
    val union = (1 to bpeRounds).map { r =>
      s"SELECT $r AS merge_rank, lhs, rhs, lhs||rhs AS merged, pc AS pair_count FROM m$r"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH s0 AS (
        SELECT word, cnt,
               array_to_string(string_split(word, ''), chr(31))
                 || chr(31) || '</w>' AS symstr
        FROM (SELECT w AS word, count(*) AS cnt
              FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY w)),
      $rounds
      SELECT * FROM (
        $union)
      ORDER BY merge_rank ASC NULLS LAST"""
  },
    (s, dir, _) => TextAnalysis.bpeMerges(docs(s, dir), "text",
        numMerges = bpeRounds)
      .orderBy(col("merge_rank").asc_nulls_last))

  // -------------------------------------------------------------------
  // X5p: BPE TOKENIZER APPLY (TextAnalysis.bpeSegment) — segment every
  // document with the 8 merges x5o learned: per doc, whitespace-word
  // count and subword count after replaying the merges in order. The
  // oracle's s8 CTE (the training chain's final word-type state) IS the
  // fully segmented vocabulary, so segmentation = symbol count of s8 —
  // training and apply cannot drift. The Spark side runs the realistic
  // deployment: bpeMerges collects the 8-row artifact, bpeSegment ships
  // it back as plan literals.
  // -------------------------------------------------------------------
  private val x5p = Demo("x5p_bpe_segment", Some {
    val rounds = (1 to bpeRounds).map { r =>
      s"""p$r AS (${bpePairsSql(s"s${r - 1}")}),
      m$r AS (SELECT lhs, rhs, pc FROM p$r
              ORDER BY pc DESC, lhs ASC, rhs ASC LIMIT 1),
      s$r AS (${bpeApplySql(s"s${r - 1}", s"m$r")})"""
    }.mkString(",\n      ")
    s"""
      WITH s0 AS (
        SELECT word, cnt,
               array_to_string(string_split(word, ''), chr(31))
                 || chr(31) || '</w>' AS symstr
        FROM (SELECT w AS word, count(*) AS cnt
              FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY w)),
      $rounds,
      wsub AS (SELECT word, len(str_split(symstr, chr(31))) AS n_sub
               FROM s$bpeRounds),
      dw AS (SELECT doc_id, w AS word, count(*) AS n_occ
             FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents)
             WHERE w <> '' GROUP BY 1, 2)
      SELECT doc_id, cast(sum(n_occ) AS bigint) AS n_words,
             cast(sum(n_occ * n_sub) AS bigint) AS n_subwords
      FROM dw JOIN wsub USING (word)
      GROUP BY doc_id
      ORDER BY doc_id ASC NULLS LAST"""
  },
    (s, dir, _) => {
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeMerges(d, "text", numMerges = bpeRounds)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // the unrolled oracle assumes all bpeRounds merges exist: if training
      // exhausted early, its empty m$r CTE would cross-join every later
      // s$r state EMPTY and the oracle would return zero rows while this
      // side still counts subwords — fail loudly instead of diverging
      // silently on a degenerate corpus (r6 advice)
      require(merges.size == bpeRounds,
        s"corpus exhausted after ${merges.size} BPE merges; the x5p oracle " +
          s"replays $bpeRounds rounds and would diverge")
      TextAnalysis.bpeSegment(d, "doc_id", "text", merges)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X53: PERCEPTRON QUALITY CLASSIFIER (Perceptron.train/score) — distill
  // the x5b heuristic bar into a linear model (the GPT-3/CCNet quality-
  // filter shape): 4 integer features (tokens, punct, stopwords, digits)
  // + bias, label = x5b's keep flag, 4 exact full-batch rounds. The
  // oracle replays the training loop unrolled (x3c pattern) — integer
  // features, unit rate and long weights make every round's gradient sum
  // exact under any partition order, so weights, scores, and predictions
  // match bit-for-bit.
  // -------------------------------------------------------------------
  private val pRounds = 4

  private def pDotSql(w: String): String =
    s"$w.w0 + $w.w1*x1 + $w.w2*x2 + $w.w3*x3 + $w.w4*x4"

  private val x53 = Demo("x53_perceptron_quality", Some {
    val rounds = (1 to pRounds).map { r =>
      s"""g$r AS (
        SELECT cast(coalesce(sum(d), 0) AS bigint) AS d0,
               cast(coalesce(sum(d*x1), 0) AS bigint) AS d1,
               cast(coalesce(sum(d*x2), 0) AS bigint) AS d2,
               cast(coalesce(sum(d*x3), 0) AS bigint) AS d3,
               cast(coalesce(sum(d*x4), 0) AS bigint) AS d4
        FROM (SELECT CASE WHEN y = (CASE WHEN ${pDotSql("w")} > 0 THEN 1 ELSE 0 END)
                          THEN 0 ELSE 2*y - 1 END AS d, x1, x2, x3, x4
              FROM f, w${r - 1} w)),
      w$r AS (SELECT w.w0+g.d0 AS w0, w.w1+g.d1 AS w1, w.w2+g.d2 AS w2,
                     w.w3+g.d3 AS w3, w.w4+g.d4 AS w4
              FROM w${r - 1} w, g$r g)"""
    }.mkString(",\n      ")
    s"""
      WITH f0 AS (
        SELECT doc_id, length(text) AS nc,
               len(string_split(text, ' ')) AS x1,
               length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS x2,
               len(list_filter(string_split(lower(text), ' '),
                 w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS x3,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS x4
        FROM documents),
      f AS (
        SELECT doc_id, cast(x1 AS bigint) AS x1, cast(x2 AS bigint) AS x2,
               cast(x3 AS bigint) AS x3, cast(x4 AS bigint) AS x4,
               CASE WHEN x1 >= 5 AND x3 > 0
                     AND coalesce(CASE WHEN nc > 0
                           THEN cast(x2 AS double) / nc END, 1.0e0) < 0.2e0
                    THEN 1 ELSE 0 END AS y
        FROM f0),
      w0 AS (SELECT cast(0 AS bigint) AS w0, cast(0 AS bigint) AS w1,
                    cast(0 AS bigint) AS w2, cast(0 AS bigint) AS w3,
                    cast(0 AS bigint) AS w4),
      $rounds
      SELECT f.doc_id, f.y AS label,
             cast(${pDotSql("w")} AS bigint) AS score,
             CASE WHEN ${pDotSql("w")} > 0 THEN 1 ELSE 0 END AS pred
      FROM f, w$pRounds w
      ORDER BY doc_id ASC NULLS LAST"""
  },
    (s, dir, _) => {
      val feats = TextAnalysis.qualityMetrics(docs(s, dir), "text")
        .withColumn("n_digits", length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", "")))
      val fc = Seq("n_tokens", "n_punct", "n_stop", "n_digits")
      val w = Perceptron.train(feats, fc, "keep", iters = pRounds)
      Perceptron.score(feats, fc, w)
        .select(col("doc_id"), col("keep").as("label"),
          col("score"), col("pred"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X55: OUT-OF-VOCABULARY AUDIT (TextAnalysis.oovRate) — per doc, the
  // exact ppm of tokens missing from the x5n 95%-coverage vocabulary:
  // the tokenizer-binding release gate (an OOV spike = wrong language /
  // domain / encoding). Token occurrences broadcast-left-join the
  // vocabulary, then one doc-keyed combinable aggregate.
  // -------------------------------------------------------------------
  private val x55 = Demo("x55_oov_rate", Some("""
      WITH c AS (
        SELECT w AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY w),
      t AS (SELECT cast(sum(cnt) AS bigint) AS total FROM c),
      r AS (SELECT word, cast(cnt AS bigint) AS cnt,
                   cast(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
                     ROWS UNBOUNDED PRECEDING) AS bigint) AS cum
            FROM c),
      v AS (SELECT word FROM r, t
            WHERE 1000000 * (cum - cnt) < 950000 * total),
      dw AS (SELECT doc_id, w AS word
             FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents)
             WHERE w <> '')
      SELECT doc_id,
             cast(count(*) AS bigint) AS n_tokens,
             cast(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_oov,
             (1000000 * cast(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS bigint))
               // cast(count(*) AS bigint) AS oov_ppm
      FROM dw LEFT JOIN v ON dw.word = v.word
      GROUP BY doc_id
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, cuts) => {
      val d = docs(s, dir)
      val vocab = TextAnalysis.vocabCoverage(d, "text", 950000L, cuts)
      TextAnalysis.oovRate(d, "doc_id", "text", vocab)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  val all: Seq[Demo] = Seq(x5a, x5b, x5c, x5d, x5e, x5f, x5g, x5h, x5i, x5j,
    x5k, x5l, x5m, x5n, x5o, x5p, x33, x42, x53, x55)
}
