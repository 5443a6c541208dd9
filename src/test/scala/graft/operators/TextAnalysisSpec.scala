package graft.operators

import graft.{Checkpoints, SparkSpec}

/** Edge cases of the X5e/X5f operators not reachable through the oracle
  * demos (which run over the harness corpus): masking order, overlap
  * arithmetic, short/empty inputs.
  */
class TextAnalysisSpec extends SparkSpec {

  private def one(text: String) = {
    val s = spark
    import s.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("maskPii masks emails before IPs before numbers, counting per stage") {
    val r = TextAnalysis.maskPii(
      one("mail a.b+c@x-y.org or 10.0.0.1 port 8080 and 999.12"), "text")
      .head()
    assert(r.getAs[String]("masked") ===
      "mail <email> or <ip> port <num> and <num>.<num>")
    assert(r.getAs[Int]("n_emails") === 1)
    assert(r.getAs[Int]("n_ipv4") === 1)
    // the IP's four octets are NOT double-counted as numbers
    assert(r.getAs[Int]("n_nums") === 3)
  }

  test("maskPii on text without PII is the identity") {
    val r = TextAnalysis.maskPii(one("plain words only"), "text").head()
    assert(r.getAs[String]("masked") === "plain words only")
    assert(r.getAs[Int]("n_emails") + r.getAs[Int]("n_ipv4")
      + r.getAs[Int]("n_nums") === 0)
  }

  test("chunkByTokens: overlap arithmetic, short tail, sub-chunk doc") {
    // 10 tokens, chunkSize 4, overlap 1 -> stride 3 -> starts 0,3,6,9
    val toks = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = TextAnalysis.chunkByTokens(one(toks), "doc_id", "text", 4, 1)
      .collect().map(r => (r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("n_tokens"), r.getAs[String]("chunk_text"))).toSeq
    assert(rows === Seq(
      (0, 4, "t1 t2 t3 t4"),
      (1, 4, "t4 t5 t6 t7"),
      (2, 4, "t7 t8 t9 t10"),
      (3, 1, "t10")))
    // doc shorter than one chunk: single full-doc chunk
    val short = TextAnalysis.chunkByTokens(one("a b"), "doc_id", "text", 4, 1)
      .collect().map(r => (r.getAs[Int]("chunk_idx"), r.getAs[String]("chunk_text")))
    assert(short.toSeq === Seq((0, "a b")))
    // empty text: split semantics give one single-empty-token chunk
    val empty = TextAnalysis.chunkByTokens(one(""), "doc_id", "text", 4, 1)
      .collect().map(r => (r.getAs[Int]("n_tokens"), r.getAs[String]("chunk_text")))
    assert(empty.toSeq === Seq((1, "")))
  }

  test("chunkByTokens rejects overlap >= chunkSize") {
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(one("a b c"), "doc_id", "text", 4, 4)
    }
  }

  test("packSequences: bins follow the id-order token offsets across partitions") {
    val s = spark
    import s.implicits._
    // doc i has i+1 tokens; ids shuffled in input to prove order comes
    // from doc_id, not row order. 40 docs, window 25.
    val docs = scala.util.Random.shuffle((0 until 40).toList)
      .map(i => (i.toLong, (1 to i + 1).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text").repartition(7)
    val packed = Checkpoints.scoped { cuts =>
      TextAnalysis.packSequences(docs, "doc_id", "text", 25, cuts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
    }
    // conservation: every doc in exactly one bin, all tokens counted
    assert(packed.map(_._2).sum === 40L)
    assert(packed.map(_._3).sum === (1 to 40).map(_.toLong).sum)
    // reference packing computed directly: doc i starts at offset
    // sum(1..i) - (i+1), bin = start / 25
    val expected = (0 until 40).map { i =>
      val start = (1 to i + 1).map(_.toLong).sum - (i + 1)
      i.toLong -> start / 25
    }.groupBy(_._2).toSeq.sortBy(_._1).map { case (bin, ds) =>
      (bin, ds.size.toLong, ds.map(_._1 + 1).sum, ds.map(_._1).min, ds.map(_._1).max)
    }
    assert(packed.toSeq === expected)
  }

  test("bigramCoverage: df counts distinct docs, sub-2-token docs drop (X5i)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c"),   // bigrams {a b, b c}
      (2L, "a b d"),   // bigrams {a b, b d}
      (3L, "a b"),     // bigram  {a b}
      (4L, "a a a"),   // repeated tokens -> ONE distinct bigram {a a}
      (5L, "x")        // 1 token: no bigrams, excluded
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCoverage(docs, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // "a b" appears in docs 1,2,3 (df=3 >= 2); every other bigram df=1
    assert(out.toSeq === Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 1L, 1.0),
      (4L, 1L, 0L, 0.0)))
  }

  test("bigramCoverage plan: single scan of the exploded frame, no join") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val df = TextAnalysis.bigramCoverage(docs, "doc_id", "text", 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the window formulation must not reintroduce the df-join whose
    // single-scan property depended on ReuseExchange firing
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("tfIdf: smoothed tf-idf top-k with deterministic term tiebreak (X5h)") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana durian")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(docs, "doc_id", "text", 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2))
    val ln2 = StrictMath.log((3 + 1.0) / (1 + 1.0)) // Catalyst log IS StrictMath
    assert(out === Seq(
      (1L, 1, "apple", 2L, 1L, 2.0 * ln2),
      (1L, 2, "banana", 1L, 3L, 0.0),
      (2L, 1, "cherry", 1L, 1L, 1.0 * ln2),
      (2L, 2, "banana", 1L, 3L, 0.0),
      (3L, 1, "durian", 1L, 1L, 1.0 * ln2),
      (3L, 2, "banana", 2L, 3L, 0.0)))
  }

  test("repetitionMetrics: looping doc hand-computed shares (X5j)") {
    // "ab ab ab ab" (11 chars): bigram "ab ab" ×3 → 3·5=15 chars;
    // trigram "ab ab ab" ×2 (duplicated) → 2·8=16 chars — overlapping
    // occurrences double-count characters per the published rule, so
    // shares may exceed 1.
    val r = TextAnalysis.repetitionMetrics(one("ab ab ab ab"), "doc_id", "text")
      .head()
    assert(r.getAs[String]("top_bigram") === "ab ab")
    assert(r.getAs[Long]("top_bigram_count") === 3L)
    assert(r.getAs[Double]("top_bigram_char_frac") === 15.0 / 11)
    assert(r.getAs[Double]("dup_trigram_char_frac") === 16.0 / 11)
    assert(r.getAs[Int]("keep_repetition") === 0)
  }

  test("repetitionMetrics: top-bigram tiebreak is (count desc, gram asc)") {
    // "b a b a": "b a" ×2 beats "a b" ×1; "z y x": all count 1 → the
    // lexicographically smallest bigram wins deterministically
    val r1 = TextAnalysis.repetitionMetrics(one("b a b a"), "doc_id", "text").head()
    assert(r1.getAs[String]("top_bigram") === "b a")
    val r2 = TextAnalysis.repetitionMetrics(one("z y x"), "doc_id", "text").head()
    assert(r2.getAs[String]("top_bigram") === "y x")
  }

  test("repetitionMetrics: short, empty, and NULL docs get zero shares, keep=1") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, Some("solo")), (2L, Some("a b")), (3L, Some("")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // 1 token: no bigrams/trigrams — NULL top, zero shares, kept
    assert(rows(0).isNullAt(1))
    assert(rows(0).getDouble(3) === 0.0 && rows(0).getDouble(4) === 0.0)
    assert(rows(0).getInt(5) === 1)
    // 2 tokens: the single bigram covers all 3 chars → share 1.0 → cut;
    // no trigrams → zero trigram share
    assert(rows(1).getString(1) === "a b")
    assert(rows(1).getDouble(3) === 1.0 && rows(1).getDouble(4) === 0.0)
    assert(rows(1).getInt(5) === 0)
    // empty text: n_chars = 0 — guarded division, zero shares, kept
    assert(rows(2).getDouble(3) === 0.0 && rows(2).getInt(5) === 1)
    // NULL text: same guarded path
    assert(rows(3).isNullAt(1))
    assert(rows(3).getDouble(3) === 0.0 && rows(3).getDouble(4) === 0.0)
    assert(rows(3).getInt(5) === 1)
  }

  test("unigramLmScore: hand-computed LM scores; empty/NULL docs absent (X5k)") {
    val s2 = spark
    import s2.implicits._
    // corpus LM: tf(a)=3, tf(b)=1, tf(c)=1, total=5
    val df = Seq((1L, Some("a a b")), (2L, Some("a c")), (3L, Some("")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val rows = TextAnalysis.unigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // tokenless docs absent
    // doc 1: tokens a,a,b → n=3, sum_tf=3+3+1=7, min=1, hapax {b}: 1/3
    assert(rows(0).getLong(1) == 3L && rows(0).getLong(2) == 1L)
    assert(rows(0).getDouble(3) == 1.0 / 3)
    assert(rows(0).getDouble(4) == 7.0 / 3 / 5)
    // doc 2: tokens a,c → n=2, sum_tf=4, min=1, hapax {c}: 1/2
    assert(rows(1).getLong(1) == 2L && rows(1).getLong(2) == 1L)
    assert(rows(1).getDouble(3) == 0.5)
    assert(rows(1).getDouble(4) == 4.0 / 2 / 5)
  }

  test("unigramLmScore: single-word corpus — every token is the modal word") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "x x"), (2L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.unigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // tf(x)=3, total=3: every doc's mean_tok_p = 3/(n·3) = 1/n... with
    // sum_tf = n·3 → mean = 3·n/(n·3) = 1.0; hapax 0; min_tf 3
    rows.foreach { r =>
      assert(r.getLong(2) == 3L)
      assert(r.getDouble(3) == 0.0)
      assert(r.getDouble(4) == 1.0)
    }
  }

  test("perplexityBuckets: terciles on the integer commonness score, hand-checked") {
    val s2 = spark
    import s2.implicits._
    // corpus tf: a=6 (docs 1,2,3 twice each), b=2, c=1
    // doc 1 "a a"     → sum_tf 12, n 2 → score 6_000_000
    // doc 2 "a a b b" → sum_tf 16, n 4 → score 4_000_000
    // doc 3 "a a c"   → sum_tf 13, n 3 → score 4_333_333
    // doc 4 ""        → no tokens, absent
    val df = Seq((1L, "a a"), (2L, "a a b b"), (3L, "a a c"), (4L, ""))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.perplexityBuckets(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getLong(2)).toSeq ==
      Seq(6000000L, 4000000L, 4333333L))
    // p33/p67 of (4000000, 4333333, 6000000): t1=4219999.78, t2=4899999.78
    // → doc1 head, doc2 tail, doc3 middle
    assert(rows.map(_.getString(3)).toSeq == Seq("head", "tail", "middle"))
  }

  test("bm25TopK: matched docs only, rank order, matched-term counts") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (1L, "spark hash x"),       // 2 matched terms, one a rarer (higher-idf) one
      (2L, "spark spark y z"),    // 1 matched term, tf 2, longer doc
      (3L, "no match here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(df, "doc_id", "text",
      Seq("spark", "hash"), k = 10).collect()
    assert(out.map(_.getLong(1)).toSet === Set(1L, 2L)) // doc 3 absent
    assert(out.map(_.getInt(0)).toSeq === Seq(1, 2))    // dense ranks from 1
    val byDoc = out.map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byDoc(1L)._2 === 2L && byDoc(2L)._2 === 1L)  // matched-term counts
    out.foreach(r => assert(r.getLong(2) > 0L))
    // two-term doc with the rare term outranks the tf-2 single-term doc
    assert(out.head.getLong(1) === 1L)
    // k truncates
    val k1 = TextAnalysis.bm25TopK(df, "doc_id", "text",
      Seq("spark", "hash"), k = 1).collect()
    assert(k1.length === 1 && k1.head.getLong(1) === 1L)
  }

  test("perplexityBuckets: every scored doc lands in exactly one bucket") {
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
    val n = out.count()
    assert(n > 0)
    assert(out.where(org.apache.spark.sql.functions.col("bucket")
      .isin("head", "middle", "tail")).count() == n)
    // boundaries split roughly in thirds (ties can bunch, allow slack)
    val byBucket = out.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byBucket.values.foreach(c => assert(c > n / 6, byBucket.toString))
  }

  test("vocabCoverage: threshold keeps the crossing word, drops the tail") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val cuts = new Checkpoints.Scope
    val out = TextAnalysis.vocabCoverage(df, "text", coveragePpm = 800000L, cuts)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList
    // total 6: a covers 50% (kept), b crosses 80% at 83.3% (kept — its
    // PRECEDING coverage 50% is under the bar), c starts at 83.3% (cut)
    assert(out === List((1L, "a", 3L, 500000L), (2L, "b", 2L, 833333L)))
    // randomized agreement with a single-node reference replay
    val rnd = new scala.util.Random(48)
    val vocab = ('a' to 'j').map(_.toString)
    val docs = (1L to 10L).map(id =>
      (id, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val got = try TextAnalysis.vocabCoverage(docs.toDF("doc_id", "text"),
        "text", coveragePpm = 900000L, cuts)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList
    finally cuts.close()
    val counts = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, a) => (w, a.size.toLong) }.toSeq
      .sortBy { case (w, c) => (-c, w) }
    val total = counts.map(_._2).sum
    var cum = 0L
    val want = counts.zipWithIndex.flatMap { case ((w, c), i) =>
      val pre = cum; cum += c
      if (1000000L * pre < 900000L * total)
        Some((i + 1L, w, c, 1000000L * cum / total))
      else None
    }.toList
    assert(got === want, s"docs=$docs")
  }

  test("bigramLmScore: hand-computed conditional ppm; 1-token docs absent; empty tokens cleaned") {
    val s = spark
    import s.implicits._
    // doc 4's doubled space must tokenize to [a, b] — one bigram "a b",
    // NOT the raw-split "a " / " b" pair that the pre-r6 asymmetric
    // handling half-dropped
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"), (4L, "a  b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    // unigrams: a=4, b=4, solo=1; c2("a b")=4, c2("b a")=1
    // doc 1: ppm = 10⁶, 10⁶·1÷4, 10⁶ → sum 2250000, n=3, mean 750000
    // doc 2/4: the single "a b" → 10⁶ exactly; doc 3: < 2 tokens → absent
    assert(out === List((1L, 3L, 1L, 750000L), (2L, 1L, 4L, 1000000L),
      (4L, 1L, 4L, 1000000L)))
  }

  test("chisqDrift: identical distributions score 0; a slice-exclusive word tops") {
    val s = spark
    import s.implicits._
    // NA = NB = 8 → pooled ratio 1/2 is EXACT in double, so the zero and
    // integer-χ² assertions below are bit-deterministic, not approximate
    val df = Seq(
      (true, "x x x y y drift drift w"),
      (false, "x x x y y w w n")).toDF("a", "text")
    val out = TextAnalysis.chisqDrift(df, "text",
        inA = org.apache.spark.sql.functions.col("a"),
        minCount = 2, topK = 10)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val byWord = out.map(t => t._1 -> t).toMap
    // x (3:3) and y (2:2) match the pooled split exactly → contribution 0
    assert(byWord("x") === ("x", 3L, 3L, 0L), out.toString)
    assert(byWord("y") === ("y", 2L, 2L, 0L), out.toString)
    // drift: A-only, 2 occurrences; eA = eB = 1 → χ² = 1 + 1 = 2 exactly
    assert(byWord("drift") === ("drift", 2L, 0L, 2000000L), out.toString)
    // w (1:2): χ² = 0.25/1.5 + 0.25/1.5 = 1/3 → floor → 333333
    assert(byWord("w") === ("w", 1L, 2L, 333333L), out.toString)
    // n: total 1 < minCount → excluded; ordering by contribution desc
    assert(!byWord.contains("n") && out.map(_._1) ===
      List("drift", "w", "x", "y"), out.toString)
  }

  test("bpeMerges: the Sennrich textbook corpus learns (l,o) then (lo,w) (X5o)") {
    val s = spark
    import s.implicits._
    val df = Seq("low low lower lowest", "low lower newest newest")
      .toDF("text")
    val out = TextAnalysis.bpeMerges(df, "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toList
    // 6 words contain "lo": l-o wins round 1 (count 6), fused lo-w round 2
    assert(out === List((1, "l", "o", "lo", 6L), (2, "lo", "w", "low", 6L)),
      out.toString)
  }

  test("bpeMerges: greedy left-to-right fold — (a,a) over aaaa gives [aa,aa]") {
    val s = spark
    import s.implicits._
    // single word "aaaa": round 1 merges (a,a) with pair count 3 (three
    // adjacent occurrences counted BEFORE fusing); the fold then leaves
    // [aa, aa, </w>], whose round-2 candidates (aa,aa) and (aa,</w>)
    // tie at 1 — rhs tiebreak picks (aa,</w>) ('<' sorts before 'a').
    // An over-eager fold [aaa, a, </w>] would surface (a,</w>) instead
    // (lhs tiebreak), and a re-fusing fold [aaaa, </w>] → (aaaa,</w>).
    val df = Seq("aaaa").toDF("text")
    val out = TextAnalysis.bpeMerges(df, "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4))).toList
    assert(out === List((1, "a", "a", 3L), (2, "aa", "</w>", 1L)), out.toString)
  }

  test("bpeMerges: stops early when every word is a single symbol") {
    val s = spark
    import s.implicits._
    // "ab" exhausts after 2 merges (a+b, ab+</w>); asking for 10 returns 2
    val out = TextAnalysis.bpeMerges(Seq("ab ab").toDF("text"), "text",
        numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(3))).toList
    assert(out === List((1, "ab"), (2, "ab</w>")), out.toString)
  }

  test("bpeSegment: replays merges in order; counts weight by occurrence") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "low lower low"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeSegment(df, "doc_id", "text",
        merges = Seq(("l", "o"), ("lo", "w")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // low -> [l,o,w,</w>] -> [lo,w,</w>] -> [low,</w>] = 2 subwords (x2
    // occurrences); lower -> [low,e,r,</w>] = 4; empty doc has no words
    // and is absent, matching the oracle's inner join
    assert(out === List((1L, 3L, 8L)), out.toString)
  }

  test("bpeSegment with no merges counts characters plus the end mark") {
    val s = spark
    import s.implicits._
    val out = TextAnalysis.bpeSegment(
        Seq((7L, "ab a")).toDF("doc_id", "text"), "doc_id", "text", Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out === List((7L, 2L, 5L)), out.toString) // (2+1) + (1+1)
  }

  test("oovRate: exact ppm, case-folded, empty tokens ignored (X55)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "The cat sat"), (2L, "zz  qq"), (3L, "")).toDF("doc_id", "text")
    val vocab = Seq("the", "cat").toDF("word")
    val out = TextAnalysis.oovRate(df, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc1: 3 tokens, 1 oov (sat) -> 333333 ppm; doc2: double space gives
    // an empty token, dropped -> 2 tokens both oov; doc3: no tokens, absent
    assert(out === Set((1L, 3L, 1L, 333333L), (2L, 2L, 2L, 1000000L)))
  }

  test("bpeMerges: lowercases and is checkpoint-invariant") {
    val s = spark
    import s.implicits._
    val df = Seq("Low LOW lower", "low lowest").toDF("text")
    val a = TextAnalysis.bpeMerges(df, "text", 4, checkpointEvery = 1)
      .collect().toList
    val b = TextAnalysis.bpeMerges(df, "text", 4, checkpointEvery = 16)
      .collect().toList
    assert(a === b)
    assert(a.head.getString(1) === "l" && a.head.getString(2) === "o")
  }
}
