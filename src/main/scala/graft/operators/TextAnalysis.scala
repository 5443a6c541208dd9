package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators (SURVEY.md §2B X5) — library API behind the
  * x5 demos. Append-style transforms: each adds derived columns so they
  * compose into a cleaning pipeline
  * (`docs → tokenCounts → qualityMetrics → langGuess → filter('keep)`).
  *
  * All metrics are integer counts plus single-division doubles — no
  * accumulated float state — and every stage is a narrow projection
  * (whole-stage codegen over the scan) except wordTopK's bounded-key
  * aggregation.
  *
  * Output-column contract: each transform OWNS the metric columns it
  * documents (tokenCounts: ws_tokens/bpeish_tokens; qualityMetrics:
  * n_chars_m/n_tokens/n_punct/n_stop/punct_ratio/stopword_ratio/
  * mean_word_len/keep; langGuess: lang_guess) and will overwrite caller
  * columns of those names — internal temporaries never leak.
  */
object TextAnalysis {

  /** Whitespace token count + BPE-ish subword count (runs of letters,
    * runs of digits, single other non-space chars — the GPT-2-style
    * pre-tokenizer shape): each regex match collapses to one char, so
    * counting the collapsed string's non-space chars counts matches.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val collapsed = regexp_replace(col(textCol), "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]", "x")
    df.withColumn("ws_tokens", size(split(col(textCol), " ")))
      .withColumn("bpeish_tokens", length(regexp_replace(collapsed, " ", "")))
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** C4-style quality heuristics: length, punctuation ratio, stopword
    * ratio, mean word length, and a composite keep flag.
    */
  def qualityMetrics(df: DataFrame, textCol: String,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val stop = array(stopwords.map(lit): _*)
    val base = df
      .withColumn("n_chars_m", length(col(textCol)))
      .withColumn("n_tokens", size(split(col(textCol), " ")))
      .withColumn("n_punct", length(col(textCol))
        - length(regexp_replace(col(textCol), """[.,;:!?'"()]""", "")))
      .withColumn("n_stop", size(filter(split(lower(col(textCol)), " "),
        w => array_contains(stop, w))))
    base
      // empty text → n_chars_m = 0; ANSI mode (Spark 4 default) turns the
      // division into an error, so guard it (n_tokens >= 1 always: split
      // of "" yields [""]).
      .withColumn("punct_ratio",
        when(col("n_chars_m") > 0, col("n_punct").cast("double") / col("n_chars_m"))
          .otherwise(lit(null)))
      .withColumn("stopword_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("mean_word_len",
        (col("n_chars_m") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
      .withColumn("keep",
        // SQL AND does not short-circuit: the ratio operand must be the
        // already-guarded punct_ratio column, never a raw division
        when(col("n_tokens") >= 5 && col("n_stop") > 0
          && coalesce(col("punct_ratio"), lit(1.0)) < 0.2, 1)
          .otherwise(0))
  }

  private def charRate(lt: Column, n: Column, pattern: String): Column =
    when(n > 0,
      (length(lt) - length(regexp_replace(lt, pattern, ""))).cast("double") / n)
      .otherwise(lit(0.0)) // empty text: rate 0, not an ANSI division error

  /** Character-profile language-ID heuristic: marker-character rates per
    * candidate language decide `lang_guess` ('de'/'fr'/'es'/'en'/'und').
    * Intermediate rate columns use a `__graft_` prefix so caller columns
    * are never clobbered; only `lang_guess` is added to the output.
    */
  def langGuess(df: DataFrame, textCol: String): DataFrame = {
    val lt = lower(col(textCol))
    val n = length(col(textCol))
    val enWords = array(Seq("the", "and", "of", "is", "you").map(lit): _*)
    df.withColumn("__graft_de", charRate(lt, n, "[äöüß]"))
      .withColumn("__graft_fr", charRate(lt, n, "[éèêàçù]"))
      .withColumn("__graft_es", charRate(lt, n, "[áíóúñ¿¡]"))
      .withColumn("__graft_en",
        size(filter(split(lt, " "), w => array_contains(enWords, w))).cast("double")
          / size(split(lt, " ")))
      .withColumn("lang_guess",
        when(col("__graft_de") >= col("__graft_fr") && col("__graft_de") >= col("__graft_es")
          && col("__graft_de") > 0, "de")
          .when(col("__graft_fr") >= col("__graft_es") && col("__graft_fr") > 0, "fr")
          .when(col("__graft_es") > 0, "es")
          .when(col("__graft_en") > 0, "en")
          .otherwise("und"))
      .drop("__graft_de", "__graft_fr", "__graft_es", "__graft_en")
  }

  /** Corpus word frequency top-k: explode → two-phase hash agg on the
    * word key (shuffle carries one row per distinct word per partition,
    * never one per token) → bounded top-k.
    */
  def wordTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc_nulls_last, col("word").asc_nulls_last)
      .limit(k)

  // ---- TF-IDF characteristic terms (X5h) -----------------------------

  /** Per-document top-k terms by TF-IDF (`tf · ln((N+1)/(df+1))`, the
    * smoothed formulation). Tokenization matches [[wordTopK]].
    *
    * Scale: tf is a (doc,term) hash agg; df re-aggregates that result on
    * term (vocabulary-bounded, no second corpus scan); N is a 1-row
    * aggregate cross-joined in (the scalar-subquery shape, broadcast);
    * the top-k is one window per doc. No driver state, four bounded
    * shuffles at any corpus size.
    *
    * Determinism note for cross-engine hash checks: the SCORE is float
    * (Catalyst's `log` is StrictMath/fdlibm; other engines' `ln` may
    * differ in the last ulp), but the RANKING is robust — exact score
    * ties can only come from identical (tf, df) pairs, which both
    * engines break by the term tiebreak. Oracle-checked queries should
    * emit `rank`, not `score` (the x5h demo does exactly that).
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is already distinct per (doc, term): df = row count per term
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(n)
      .withColumn("score",
        col("tf").cast("double") *
          log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  // ---- PII masking (X5e) ---------------------------------------------

  /** RE2-safe patterns (no backreferences/lookaround) so the identical
    * regex texts run on Spark (java.util.regex) and DuckDB (RE2) with the
    * same matches. Masking order matters and is fixed: emails first (they
    * contain digits and dots), then IPv4 (digits and dots), then bare
    * digit runs.
    */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Pattern = """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"""
  val NumberPattern = """\d+"""

  /** PII/number masking for training corpora: emails → `<email>`, IPv4 →
    * `<ip>`, remaining digit runs → `<num>`, plus per-doc match counts
    * (counted on the stage each pattern actually sees, so an IP's digits
    * are never double-counted as numbers). Pure narrow projection —
    * whole-stage codegen over the scan, no shuffle.
    *
    * Output-column contract: owns `masked`, `n_emails`, `n_ipv4`,
    * `n_nums` (overwritten if present).
    */
  def maskPii(df: DataFrame, textCol: String): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), EmailPattern, "<email>")
    val afterIp = regexp_replace(afterEmail, Ipv4Pattern, "<ip>")
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))))
      .withColumn("n_ipv4",
        size(regexp_extract_all(afterEmail, lit(Ipv4Pattern), lit(0))))
      .withColumn("n_nums",
        size(regexp_extract_all(afterIp, lit(NumberPattern), lit(0))))
      .withColumn("masked", regexp_replace(afterIp, NumberPattern, "<num>"))
  }

  // ---- token-window chunking (X5f) -----------------------------------

  /** Fixed-size token-window chunking with overlap — the context-window
    * packing step of a training-data pipeline. Chunk starts advance by
    * `chunkSize - overlap`; the final chunk may be shorter. One row per
    * (doc, chunk): explode over computed starts, so the only wide node is
    * whatever the caller does next — the chunker itself never shuffles.
    *
    * Empty text follows split-semantics: one chunk of the single empty
    * token; NULL text yields NO rows (explode of a NULL start sequence) —
    * the doc disappears from the output, so filter or coalesce NULLs
    * upstream if every id must survive. Both pinned in EdgeCaseSpec.
    *
    * See also [[packSequences]] for the complementary many-docs-per-window
    * direction.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && chunkSize > overlap,
      s"need chunkSize > overlap >= 0, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .withColumnRenamed("pos", "chunk_idx")
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("col") + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  // ---- sequence packing (X5g) ----------------------------------------

  /** Streaming-concatenation sequence packing — the GPT-style data-prep
    * step: documents are (conceptually) concatenated in id order and cut
    * into `windowTokens`-sized training windows; each doc lands in the
    * bin its starting token offset falls in. Output is one row per bin
    * with doc/token counts and the id range.
    *
    * The global prefix sum is computed DISTRIBUTED, not with an
    * unpartitioned window: range-repartition by id (materialized once, so
    * the sampling-based boundaries are FIXED for both consumers),
    * per-partition token totals (one row per partition) collect to the
    * driver and come back as a literal offset map, then each partition
    * does a local partition-keyed window cumsum plus its offset. Two
    * passes over one materialized (doc_id, n_tokens) frame, no
    * single-task sort — the textbook parallel prefix sum. The bin ids
    * depend only on the id ORDER, so where the boundaries land never
    * affects the result — only their stability matters, which the
    * materialization guarantees.
    *
    * NULL text rows carry a NULL token count: they do not advance the
    * running offset and group into a NULL bin (SQL semantics) — filter
    * them upstream if undesired.
    * The result reads the partitioned base, cut into `cuts`.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, cuts: graft.Checkpoints.Scope): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    // the offsets are keyed by __pid, so the SAME physical partitioning
    // must serve both the offset job and the final plan: materialize it
    // (range boundaries come from sampling and are NOT stable across
    // separate executions of an unmaterialized plan)
    val t = cuts.cut(df
      .select(col(idCol).as("doc_id"), size(split(col(textCol), " ")).as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .withColumn("__pid", spark_partition_id()))
    // one row per partition — bounded driver state by construction; a
    // partition whose every text is NULL sums to NULL → contributes 0
    val partTotals = t.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("tot"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partTotals.map { case (pid, tot) =>
        val off = acc; acc += tot; pid -> off
      }.toMap
    }
    val offsetCol =
      if (offsets.isEmpty) lit(0L) // empty input: no partitions, no offsets
      else coalesce(
        element_at(
          map(offsets.toSeq.sortBy(_._1)
            .flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
          col("__pid")),
        lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    t.withColumn("__cum", sum(col("n_tokens")).over(w) + offsetCol)
      .withColumn("bin_id",
        expr(s"(__cum - n_tokens) div ${windowTokens.toLong}"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Bigram corpus-frequency coverage — the log-free language-model-ish
    * quality score: the share of a document's DISTINCT (lowercased,
    * adjacent-token) bigrams that appear in at least `minDf` corpus
    * documents. Low coverage flags boilerplate-free but incoherent text
    * the unigram heuristics of [[qualityMetrics]] miss; unlike a real LM
    * perplexity there is NO log/exp (transcendentals hash-diverge across
    * engines — SURVEY float-fn law), just exact counts and one division.
    *
    * Scale: per-doc distinct bigrams explode once (O(tokens) rows); the
    * document frequency is `count(*) over (partition by bg)` — per-doc
    * bigrams are DISTINCT (nGramSet), so the partition row count IS df.
    * The window formulation reads the exploded frame exactly once with
    * one hash exchange on the bigram key (asserted in TextAnalysisSpec),
    * unlike the groupBy-then-self-join shape whose single-scan property
    * rested on ReuseExchange firing. Docs with fewer than 2 tokens are
    * excluded (they have no bigrams; Spark's `sequence(1, 0)` would
    * otherwise DESCEND rather than return empty).
    */
  def bigramCoverage(df: DataFrame, idCol: String, textCol: String,
      minDf: Int): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val bg = df
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2) // nGramSet precondition
      .select(col("doc_id"),
        explode(TextDedup.nGramSet(col("toks"), 2)).as("bg"))
    val byBg = org.apache.spark.sql.expressions.Window.partitionBy(col("bg"))
    bg.withColumn("df", count(lit(1)).over(byBg))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_bigrams"), col("n_common"),
        (col("n_common").cast("double") / col("n_bigrams").cast("double"))
          .as("coverage"))
  }

  // ---- intra-document repetition metrics (X5j) ------------------------

  /** Non-distinct n-grams — the shared construction site lives in
    * [[TextDedup.nGrams]] (same precondition: pre-filter
    * `size(tokens) >= n`).
    */
  private def nGrams(tokens: Column, n: Int): Column =
    TextDedup.nGrams(tokens, n)

  /** Gopher-style intra-document repetition metrics — the quality family
    * that catches looping/boilerplate generation the unigram heuristics of
    * [[qualityMetrics]] miss: the character share of the single most
    * frequent word bigram, and the character share of all word trigrams
    * that occur more than once (occurrences counted WITH repeats, per the
    * published rule; overlapping occurrences double-count characters, the
    * standard approximation). `keep_repetition` = both shares within the
    * given maxima. All metrics are exact integer counts plus one guarded
    * IEEE division each — no transcendentals, hash-stable cross-engine.
    *
    * Scale: two explode→hash-agg passes keyed (doc, gram) — map-side
    * combinable, no driver state, shuffle bounded by token count; the
    * per-doc top-1 is a second hash aggregate (`min_by` over the
    * `(-count, gram)` struct order), not a window — no per-partition
    * sort of the (doc, bigram) frame. Docs with fewer
    * than 2 (resp. 3) tokens have no bigrams (trigrams): NULL top bigram,
    * zero shares.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
      topBigramMax: Double = 0.20, dupTrigramMax: Double = 0.60): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars_r"),
      split(lower(col(textCol)), " ").as("toks"))
    // per-doc argmax via min_by over the (−count, gram) order — a second
    // hash aggregate instead of a window, so no per-partition sort of
    // the full (doc, bigram) frame; the (−cnt, g) struct order IS the
    // (count desc, gram asc) tiebreak
    val top2 = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(nGrams(col("toks"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("g"), col("cnt")), struct(-col("cnt"), col("g")))
        .as("t"))
      .select(col("doc_id"), col("t.g").as("top_bigram"),
        col("t.cnt").as("top_bigram_count"),
        (col("t.cnt") * length(col("t.g"))).as("top2_chars"))
    val dup3 = base.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(nGrams(col("toks"), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("cnt") >= 2, col("cnt") * length(col("g")))
        .otherwise(0L)).as("dup3_chars"))
    def share(chars: Column, n: Column): Column =
      when(n > 0, coalesce(chars, lit(0L)).cast("double") / n.cast("double"))
        .otherwise(lit(0.0)) // empty text: share 0, not an ANSI div error
    base.select(col("doc_id"), col("n_chars_r"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_bigram"), col("top_bigram_count"),
        share(col("top2_chars"), col("n_chars_r")).as("top_bigram_char_frac"),
        share(col("dup3_chars"), col("n_chars_r")).as("dup_trigram_char_frac"))
      .withColumn("keep_repetition",
        when(col("top_bigram_char_frac") <= topBigramMax
          && col("dup_trigram_char_frac") <= dupTrigramMax, 1).otherwise(0))
  }

  // ---- unigram-LM document scoring (X5k) -----------------------------

  /** Log-free unigram language-model document score — the KenLM-style
    * corpus-fit signal without the transcendental: train the unigram LM
    * on the corpus itself (term frequency / total tokens), then score
    * each document by the MEAN PROBABILITY of its token occurrences plus
    * two exact side-signals:
    *
    *   - `mean_tok_p`  = (Σ_tokens tf(token)) / (n_toks · total_tokens)
    *     — high ⇒ the doc is built from globally common words
    *     (boilerplate/repetitive), low ⇒ rare/noisy vocabulary;
    *   - `min_tf`      = corpus frequency of the doc's rarest token
    *     (1 ⇒ contains a corpus hapax — OOV-ish);
    *   - `hapax_share` = fraction of the doc's token occurrences whose
    *     corpus frequency is 1.
    *
    * Everything is exact integer counting except two final IEEE
    * divisions, so results hash-match any engine replaying the SQL (the
    * same float-fn law as [[bigramCoverage]]; contrast [[tfIdf]], whose
    * log forces an ulp-robust rank encoding). Tokenization matches
    * [[wordTopK]]: lowercased single-space split, empty tokens dropped —
    * docs with no tokens (NULL/empty text) have no LM score and are
    * absent from the output.
    *
    * Scale: one explode feeding a word-keyed hash-agg (the LM), reused
    * by the score join on the SAME word partitioning (ReuseExchange —
    * the corpus is shingled once structurally); the per-doc aggregate is
    * doc-keyed and map-side combinable; `total_tokens` is the 1-row
    * scalar-subquery cross-join. Shuffles bounded by token count and
    * vocabulary at any corpus size; no driver state.
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val tf = toks.groupBy(col("word")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total_tokens"))
    toks.join(tf, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"),
        sum(when(col("tf") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .crossJoin(total) // scalar × per-doc rows
      .select(col("doc_id"), col("n_toks"), col("min_tf"),
        (col("n_hapax").cast("double") / col("n_toks")).as("hapax_share"),
        (col("sum_tf").cast("double") / col("n_toks") / col("total_tokens"))
          .as("mean_tok_p"))
  }

  /** Corpus-trained BIGRAM language-model scoring — the conditional
    * sibling of [[unigramLmScore]]: each bigram occurrence scores the
    * MLE conditional P(w₂|w₁) = c(w₁w₂)/c(w₁), quantized per bigram to
    * an exact ppm integer (`10⁶·c₂ div c₁` — Spark `div` ≡ DuckDB `//`)
    * BEFORE the per-doc sum, so the aggregate is an exact long under any
    * partial-aggregation order (the x33 law; a float sum of rationals
    * would be partition-order-dependent). Output per ≥2-token doc:
    * `n_bigrams`, `min_c2` (the doc's rarest bigram count — a
    * fabricated-text signal), `mean_p_ppm` (floor mean conditional ppm).
    * c₁ is the corpus-wide unigram count over ALL docs.
    *
    * Tokenization: empty tokens (doubled/leading/trailing spaces) are
    * removed BEFORE bigram construction, so bigrams span the cleaned
    * token sequence and both sides of the conditional count the same
    * vocabulary — an earlier version built bigrams over the raw split
    * and dropped ''-first bigrams in the c₁ join while keeping
    * ''-second ones, undercounting `n_bigrams` asymmetrically.
    *
    * Scale: bigram and unigram aggregates are vocabulary-keyed and
    * map-side combinable; the score join shuffles on the bigram /
    * first-word keys; the per-doc rollup is one combinable aggregate.
    * `10⁶·c₂` stays under int64 to ~9·10¹² occurrences of one bigram —
    * beyond that, widen to decimal.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        filter(split(lower(col(textCol)), " "), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
    val bgs = toks.select(col("doc_id"),
        explode(TextDedup.nGrams(col("toks"), 2)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val c2 = bgs.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = df.select(explode(split(lower(col(textCol)), " ")).as("w1"))
      .filter(col("w1") =!= "")
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bgs.join(c2, "bg").join(c1, "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        min(col("c2")).as("min_c2"),
        sum(expr("(1000000L * c2) div c1")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"), col("min_c2"),
        expr("sum_ppm div n_bigrams").as("mean_p_ppm"))
  }

  /** CCNet-style head/middle/tail corpus partitioning (Wenzek et al.
    * 2020, arXiv:1911.00359 §4.3) on a log-free perplexity proxy: a
    * doc's `score_ppm` = fixed-point mean corpus frequency of its tokens
    * (`10⁶·Σtf div n_toks` — exact integer; higher = more common tokens
    * = lower perplexity), bucketed at the corpus-wide 33rd/67th
    * percentile boundaries: `head` ≥ p67, `middle` ≥ p33, else `tail`.
    *
    * Determinism: the score is an integer (floor-div, Spark `div` ≡
    * DuckDB `//`), and percentile interpolation over INTEGER inputs is
    * the bit-identical lower+(upper−lower)·frac chain on both engines
    * (the x9b law) — so boundary comparisons replay exactly.
    * Tokenization and the no-token exclusion match [[unigramLmScore]].
    *
    * Scale: same shuffle shape as [[unigramLmScore]] (token explode →
    * word-keyed LM agg reused by the score join, doc-keyed combinable
    * agg), plus ONE corpus-wide percentile aggregate whose result is a
    * 2-value broadcast — no global sort, no single-partition window (the
    * naive ntile(3) formulation moves the corpus to one partition; this
    * is the boundary-broadcast alternative that survives 100×).
    * `10⁶·Σtf` stays under int64 for corpora up to ~9e12 total tokens —
    * beyond that, widen to decimal.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val tf = toks.groupBy(col("word")).agg(count(lit(1)).as("tf"))
    val scored = toks.join(tf, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("tf")).as("sum_tf"))
      .select(col("doc_id"), col("n_toks"),
        expr("1000000 * sum_tf div n_toks").as("score_ppm"))
    val bounds = scored.agg(
      expr("percentile(score_ppm, 0.33)").as("t1"),
      expr("percentile(score_ppm, 0.67)").as("t2"))
    scored.crossJoin(broadcast(bounds)) // 1-row boundary × per-doc rows
      .select(col("doc_id"), col("n_toks"), col("score_ppm"),
        when(col("score_ppm") >= col("t2"), lit("head"))
          .when(col("score_ppm") >= col("t1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** BM25 retrieval scoring (Robertson–Spärck Jones; the Okapi form with
    * k1=1.2, b=0.75) of every document against a fixed query-term set —
    * the classic lexical ranker next to [[tfIdf]]. Log-free idf variant
    * `(N+1)/(df+1)` (monotone in df like the ln form, exactly the x5h
    * family's choice) so every per-term score is a fixed chain of IEEE
    * mul/div over exact integers — bit-identical on any engine. The
    * per-DOC score is the sum of per-term scores; float summation order
    * is partition-dependent, so each per-term score is first quantized
    * to an integer (`floor(score·10⁶)`) and the doc score is the exact
    * integer sum — associative, engine-identical (the repo's
    * deterministic-hash law applied to floats). Returns the top `k` docs
    * by `(score_scaled DESC, doc_id ASC)` with their matched-term count.
    *
    * Scale: token explode → doc-keyed length agg (combinable), a
    * broadcast-size tf/df table (|terms| is tiny by construction), one
    * doc-keyed score agg, and a distributed TakeOrdered top-k — the
    * final row_number runs over k rows, never the corpus. No shuffle
    * carries more than (docs × matched query terms) rows.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum(col("dl")).as("total_toks"),
      count(lit(1)).as("nd"))
    val tf = toks.filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // one fixed expression tree — written IDENTICALLY in the oracle SQL:
    // idf = (nd+1)/(df+1); tfn = tf·2.2; den = tf + 1.2·(0.25 + 0.75·(dl·nd/total))
    val score = (
      (col("nd") + 1).cast("double") / (col("df") + 1)) * (
      (col("tf") * lit(2.2)) / (
        col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
          ((col("dl") * col("nd")).cast("double") / col("total_toks")))))
    val perDoc = tf
      .join(broadcast(dfreq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals)) // 1-row scalar
      .select(col("doc_id"), floor(score * lit(1000000.0)).cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s")).as("score_scaled"), count(lit(1)).as("n_terms"))
    val top = perDoc
      .orderBy(col("score_scaled").desc, col("doc_id").asc)
      .limit(k) // TakeOrdered — distributed partial top-k, no global sort
    top.withColumn("rank", row_number().over( // k rows only
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_scaled").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("score_scaled"), col("n_terms"))
  }

  /** Tokenizer-vocabulary construction by coverage cut: rank words by
    * corpus frequency (count desc, word asc — a total order) and keep
    * the prefix whose PRECEDING cumulative coverage is below
    * `coveragePpm` (so the word that crosses the threshold is the last
    * kept) — the classic "top words covering 95% of tokens" vocabulary
    * builder. Output per kept word: global `rank`, `cnt`, and the
    * cumulative coverage ppm THROUGH the word; the threshold test is the
    * cross-multiplied bigint inequality 10⁶·(cum−cnt) < ppm·total — no
    * division, exact on both engines.
    *
    * Scale: the global rank/cumulative-sum does NOT use a single-
    * partition window — the vocabulary range-partitions on the rank
    * order and per-partition (total, row-count) offsets are collected
    * (one row per partition, bounded by construction — the x5g
    * distributed prefix-sum shape) and added back as a broadcast map.
    * Bigint cross-products stay exact to ~9·10¹² total tokens. The
    * result reads the partitioned counts, cut into `cuts`.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
      coveragePpm: Long, cuts: graft.Checkpoints.Scope): DataFrame = {
    require(coveragePpm >= 1 && coveragePpm <= 1000000,
      s"coveragePpm must be in [1, 1000000], got $coveragePpm")
    val counts = df.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // same materialize-the-partitioning contract as packSequences: the
    // offsets are keyed by __pid, so the exact physical partitioning
    // must serve both the offset job and the final plan
    val t = cuts.cut(counts
      .repartitionByRange(col("cnt").desc, col("word").asc)
      .withColumn("__pid", spark_partition_id()))
    val partStats = t.groupBy(col("__pid"))
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var accTot = 0L
    var accN = 0L
    val offs = partStats.map { case (pid, tot, n) =>
      val o = (accTot, accN); accTot += tot; accN += n; pid -> o
    }.toMap
    val total = math.max(accTot, 1L) // guard: empty corpus divides by 1
    def offCol(pick: ((Long, Long)) => Long): Column =
      if (offs.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(offs.toSeq.sortBy(_._1)
            .flatMap { case (p, o) => Seq(lit(p), lit(pick(o))) }: _*),
          col("__pid")),
        lit(0L))
    val order = Window.partitionBy(col("__pid"))
      .orderBy(col("cnt").desc, col("word").asc)
    val cum = Window.partitionBy(col("__pid"))
      .orderBy(col("cnt").desc, col("word").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("__cum", sum(col("cnt")).over(cum) + offCol(_._1))
      .withColumn("rank", row_number().over(order).cast("long") + offCol(_._2))
      .filter(lit(1000000L) * (col("__cum") - col("cnt")) <
        lit(coveragePpm) * lit(total))
      .select(col("rank"), col("word"), col("cnt"),
        expr(s"(1000000L * __cum) div ${total}L").as("cum_ppm"))
  }

  /** Chi-square word-frequency drift between two corpus slices (A =
    * rows where `inA`, B = the rest) — the distribution-shift check a
    * training pipeline runs between snapshots, sources, or train/held-out
    * splits, log-free by construction (vs KL divergence). Per word with
    * total count ≥ `minCount`: observed counts, expectations under the
    * pooled distribution, and the word's chi-square contribution
    * (obs−exp)²/exp summed over both slices — quantized to a ×10⁶ bigint
    * BEFORE any ordering (the x33 law: per-word values are one fixed
    * IEEE expression tree over exact integers → bit-identical across
    * engines; a float SUM across words would be partition-order-
    * dependent, so totals stay with the consumer). Top `topK` drifting
    * words, ties broken on the word.
    *
    * Scale: one word-keyed map-combinable aggregate (conditional sums),
    * scalar totals broadcast back (crossJoin of 1 row), a narrow
    * arithmetic projection, distributed TakeOrdered top-k. Word counts
    * stay exact longs; at corpora past ~9·10¹⁸ tokens per word, nothing
    * here overflows before the doubles do.
    */
  def chisqDrift(df: DataFrame, textCol: String, inA: Column,
      minCount: Int, topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"need minCount,topK >= 1, got $minCount, $topK")
    val words = df.select(inA.as("a"),
        explode(split(col(textCol), " ")).as("word"))
    val counts = words.groupBy(col("word"))
      .agg(sum(when(col("a"), lit(1L)).otherwise(lit(0L))).as("cnt_a"),
        sum(when(col("a"), lit(0L)).otherwise(lit(1L))).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("na"), sum(col("cnt_b")).as("nb"))
    // every step below is ONE correctly-rounded IEEE op; the identical
    // expression tree in the oracle yields identical bits (no pow: even
    // squaring goes through an explicit product)
    val cab = (col("cnt_a") + col("cnt_b")).cast("double")
    val ra = col("na").cast("double") / (col("na") + col("nb")).cast("double")
    val rb = col("nb").cast("double") / (col("na") + col("nb")).cast("double")
    val ea = cab * ra
    val eb = cab * rb
    val da = col("cnt_a").cast("double") - ea
    val db = col("cnt_b").cast("double") - eb
    counts.crossJoin(totals) // scalar × |vocabulary|
      .filter(col("cnt_a") + col("cnt_b") >= minCount)
      .select(col("word"), col("cnt_a"), col("cnt_b"),
        floor(lit(1000000.0) * (da * da / ea + db * db / eb))
          .cast("long").as("contrib_q6"))
      .orderBy(col("contrib_q6").desc, col("word").asc)
      .limit(topK)
  }

  /** Out-of-vocabulary audit — per doc, token count, tokens missing
    * from a vocabulary frame (e.g. the [[vocabCoverage]] cut or a
    * shipped tokenizer's word list), and the exact OOV rate in ppm
    * (bigint cross-multiplication, no float division). The release gate
    * a tokenizer-bound corpus runs before training: a doc whose OOV
    * rate spikes is in the wrong language, the wrong domain, or broken
    * encoding.
    *
    * Scale: occurrences collapse to per-(doc, word) counts FIRST (map-
    * side combinable), so the vocabulary join carries one row per
    * distinct word per doc, not per occurrence — and both join sides
    * are aggregate-grain, which FanoutLint accepts without review. The
    * join broadcasts whenever the vocabulary fits (AQE decides; real
    * tokenizer vocabs are ≤ a few hundred thousand words); the final
    * doc-keyed aggregate is combinable. NULL/empty tokens never count
    * (the library's split conventions).
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, vocabCol: String = "word"): DataFrame = {
    val wc = df.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__n"))
    val v = vocab.select(col(vocabCol).as("word"))
      .groupBy(col("word")).agg(first(lit(1)).as("__in_v"))
    wc.join(v, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_tokens"),
        sum(when(col("__in_v").isNull, col("__n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("(1000000L * n_oov) div n_tokens"))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016,
    * arXiv:1508.07909) — learn `numMerges` merge rules from the corpus:
    * start from characters (plus the `endMark` end-of-word symbol),
    * repeatedly take the most frequent adjacent symbol pair (ties: the
    * lexicographically smallest (lhs, rhs)) and fuse it everywhere with
    * the standard greedy left-to-right pass. Output is the ordered merge
    * table `(merge_rank, lhs, rhs, merged, pair_count)` — the artifact a
    * tokenizer consumes. Stops early if the corpus is fully merged.
    *
    * Scale: the loop runs over the WORD-TYPE table (one corpus-wide
    * word-count aggregate up front — the only pass whose cost grows with
    * the corpus; everything after is bounded by the vocabulary of word
    * types). Per round: one map-side-combinable pair-count aggregate
    * (shuffle = distinct pairs) + a distributed TakeOrdered(1); only the
    * winning pair — one row per round — ever reaches the driver, the
    * ivfTrain bounded-driver-state loop shape. The merge application is
    * a narrow per-row array fold (no shuffle), and lineage is cut every
    * `checkpointEvery` rounds (releasing the superseded cut) so a real
    * 32k-merge run does not accumulate 32k nested plan nodes.
    *
    * Determinism: pair counts are exact longs and the tiebreak is total,
    * so the merge sequence is a pure function of the corpus — the DuckDB
    * oracle replays the rounds unrolled (the x3c pattern) and must match
    * bit-for-bit. The greedy fold is pinned by spec: merging (a,a) over
    * "aaaa" yields [aa, aa], never [aaa, a].
    */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int,
      endMark: String = "</w>", checkpointEvery: Int = 16): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(endMark.nonEmpty, "endMark must be non-empty")
    val spark = df.sparkSession
    val words = df.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // initial symbols: the word's characters plus the end-of-word mark.
    // split(word, "") keeps a trailing "" (Java Pattern.split, limit -1)
    // — dropped, DuckDB's string_split(word, '') has no such element.
    var syms = words.select(col("cnt"),
      concat(filter(split(col("word"), ""), x => x =!= lit("")),
        array(lit(endMark))).as("syms"))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    graft.Checkpoints.scoped { generation =>
      while (r <= numMerges && !exhausted) {
        val best = bpePairCounts(syms)
          .orderBy(col("pc").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true // every word is one symbol
        else {
          val (lhs, rhs, pc) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((r, lhs, rhs, lhs + rhs, pc))
          syms = syms.withColumn("syms", bpeApplyMerge(col("syms"), lhs, rhs))
          if (r % checkpointEvery == 0) syms = generation.recut(syms)
          r += 1
        }
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Adjacent-pair counts over a `(cnt, syms)` word-type frame, weighted
    * by word frequency — one combinable hash aggregate keyed by the pair.
    */
  private def bpePairCounts(syms: DataFrame): DataFrame = {
    val arr = col("syms")
    syms.select(col("cnt"),
        explode(transform(slice(arr, lit(1), size(arr) - 1),
          (s, i) => struct(s.as("lhs"), element_at(arr, i + 2).as("rhs"))))
          .as("p"))
      .select(col("cnt"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** Tokenizer APPLY — segment each document with an ordered BPE merge
    * list (the [[bpeMerges]] artifact, trained once and shipped to any
    * corpus): per doc, whitespace-word count and the subword count after
    * replaying every merge in training order. The folds run once per
    * DISTINCT word (the vocabulary), never per occurrence — per-doc
    * counts then come from a word-keyed join of the occurrence counts
    * with the segmented vocabulary (both sides combinable aggregates;
    * AQE broadcasts the vocabulary side when it is small). Merges ride
    * the plan as literals: nested narrow folds, no driver state, no
    * extra shuffle beyond the two word-keyed aggregates.
    */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], endMark: String = "</w>"): DataFrame = {
    require(endMark.nonEmpty, "endMark must be non-empty")
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "merge sides must be non-empty")
    val words = df.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n_occ"))
    val init: Column = concat(
      filter(split(col("word"), ""), x => x =!= lit("")),
      array(lit(endMark)))
    val folded = merges.foldLeft(init) {
      case (c, (l, r)) => bpeApplyMerge(c, l, r)
    }
    val vocab = words.select(col("word")).distinct()
      .withColumn("n_sub", size(folded))
    words.join(vocab, "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_sub")).as("n_subwords"))
  }

  /** One greedy left-to-right merge pass over a symbol array: fold each
    * element onto the accumulator, fusing when the accumulator's last
    * symbol is `lhs` and the incoming one is `rhs`. A freshly fused
    * symbol never re-fuses as the LEFT side within the same pass (its
    * text `lhs+rhs` can never equal `lhs` — `rhs` is non-empty), which
    * is exactly the reference algorithm's non-overlapping replacement.
    * Narrow projection — no shuffle.
    *
    * The input column is referenced exactly ONCE (empty-accumulator
    * fold, the first element appended by the size-0 branch): stacking n
    * merge passes yields an O(n) expression tree. The slice-off-the-
    * first-element form referenced the input 4× and made the stacked
    * tree O(4ⁿ) — 8 nested passes serialized to a 19 MB task binary.
    */
  private def bpeApplyMerge(syms: Column, lhs: String, rhs: String): Column =
    aggregate(
      syms,
      typedLit(Seq.empty[String]),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .otherwise(
            when(element_at(acc, -1) === lit(lhs) && x === lit(rhs),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs))))
              .otherwise(concat(acc, array(x)))))
}
