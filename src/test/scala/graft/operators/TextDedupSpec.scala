package graft.operators

import org.apache.spark.sql.functions._

import graft.{Checkpoints, SparkSpec}
import graft.Checkpoints.scoped
import graft.sources.Tables

/** Library-only paths of the dedup API not covered by the oracle demos:
  * the stop-shingle document-frequency cap and generic exactDedup usage.
  */
class TextDedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("minhash LSH: materialized-candidates scale path equals the lazy default") {
    val docs = Tables.table(spark, sfDir, "documents")
    val lazyPairs = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .collect().map(_.mkString("|")).toSet
    val scalePath = scoped(cuts =>
      TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5, cuts = Some(cuts))
        .collect().map(_.mkString("|")).toSet)
    assert(scalePath === lazyPairs)
    assert(lazyPairs.nonEmpty)
  }

  test("minhashLshPairsFromIndex: precomputed-index face ≡ from-text, refuses a non-index frame") {
    val docs = Tables.table(spark, sfDir, "documents")
    val fromText = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
        maxBucket = Some(64))
      .collect().map(_.mkString("|")).toSet
    // the x64 shape: ONE banding derivation, cut, then the capped
    // candidate+verify tail per caller — must be pair-for-pair the
    // from-text path (lazy AND materialized-candidates variants)
    scoped { cuts =>
      val bands = cuts.cut(TextDedup.lshIndex(docs, "doc_id", "text"))
      val fromIndex = TextDedup.minhashLshPairsFromIndex(bands, docs,
          "doc_id", "text", 0.5, maxBucket = Some(64)).drop("min_bn")
        .collect().map(_.mkString("|")).toSet
      assert(fromIndex === fromText)
      val fromIndexMat = TextDedup.minhashLshPairsFromIndex(bands, docs,
          "doc_id", "text", 0.5, cuts = Some(cuts), maxBucket = Some(64))
        .drop("min_bn")
        .collect().map(_.mkString("|")).toSet
      assert(fromIndexMat === fromText)
    }
    assert(fromText.nonEmpty)
    // a frame that isn't lshIndex-shaped refuses, it doesn't misjoin
    intercept[IllegalArgumentException] {
      TextDedup.minhashLshPairsFromIndex(docs, docs, "doc_id", "text", 0.5)
    }
  }

  test("minhash LSH: stop-bucket cap wiring — generous cap ≡ uncapped, cap below pairability drops all") {
    val docs = Tables.table(spark, sfDir, "documents")
    val uncapped = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .collect().map(_.mkString("|")).toSet
    // a cap no bucket reaches changes nothing — the filter touches only
    // buckets past the cap, never the scores of surviving pairs
    val generous = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
        maxBucket = Some(1 << 20))
      .collect().map(_.mkString("|")).toSet
    assert(generous === uncapped && uncapped.nonEmpty)
    // cap = 1 excludes every pairable bucket (bn >= 2) — zero candidates,
    // pinning that BOTH bounds of the live-bucket filter are wired
    assert(TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
      maxBucket = Some(1)).isEmpty)
  }

  test("calibrateMaxBucket: largest cap within the pair budget, pairability floor, capMax when unbound") {
    val s = spark
    import s.implicits._
    // hand-built band index with bucket sizes 2, 2, 3, 5 → capped pair
    // volumes: cap 2 → 2, cap 3..4 → 5, cap ≥ 5 → 15
    val bands = Seq(
      (1L, 0, 10L), (2L, 0, 10L),
      (3L, 0, 11L), (4L, 0, 11L),
      (5L, 1, 20L), (6L, 1, 20L), (7L, 1, 20L),
      (8L, 2, 30L), (9L, 2, 30L), (10L, 2, 30L), (11L, 2, 30L), (12L, 2, 30L)
    ).toDF("doc_id", "band", "key")
    // budget 5 pairs: vol(3) = 5 fits, vol(5) = 15 overflows — the
    // largest admissible cap sits just below the overflowing size
    assert(TextDedup.calibrateMaxBucket(bands, 1, 5.0) === 4)
    // budget covers the whole volume → capMax (max recall)
    assert(TextDedup.calibrateMaxBucket(bands, 1, 15.0, capMax = 64) === 64)
    // budget below even the size-2 volume → the pairability floor
    assert(TextDedup.calibrateMaxBucket(bands, 1, 1.0) === 2)
    // the budget is per document: 5 docs x 1 pair/doc = the cap-4 case
    assert(TextDedup.calibrateMaxBucket(bands, 5, 1.0) === 4)
  }

  test("minhash estimator: exact 1.0 on identical docs; k/128-quantized; tracks exact Jaccard") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog tonight again"
    val docs = Seq(
      (1L, base), (2L, base), // identical → every slot agrees
      (3L, base + " with a slightly different tail appended here"),
      (4L, "completely unrelated words about spark shuffles and joins")
    ).toDF("doc_id", "text")
    val est = TextDedup.minhashEstimatePairs(docs, "doc_id", "text", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est((1L, 2L)) === 1.0)
    // every estimate is an exact multiple of 1/128 (bit-exact across engines)
    est.values.foreach(v => assert(v * 128 == math.rint(v * 128)))
    // the estimator tracks exact Jaccard within the k=128 band (±3 sd ≈ 0.14)
    val exact = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (((k, e)) <- est if exact.contains(k))
      assert(math.abs(e - exact(k)) < 0.15, s"pair $k est $e exact ${exact(k)}")
  }

  test("estimator plan gate: at most two signature aggregates in the executed plan") {
    val docs = Tables.table(spark, sfDir, "documents")
    val p = TextDedup.minhashEstimatePairs(docs, "doc_id", "text", 0.35)
    p.collect()
    val s = p.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // banding self-join reuses ONE exchange (AQE ReuseExchange — the
    // static plan does NOT show this; assert on the executed plan), so
    // the signature aggregate runs at most twice (bands + the shared
    // pair-side subtree): ≤ 2 partial+final pairs = 4 nodes. A
    // regression to per-consumer recomputation (3-4 computations, 6-8
    // nodes) re-shingles the corpus per consumer.
    val aggNodes = s.toLowerCase.linesIterator
      .count(l => l.contains("aggregate") && l.contains("minhashagg"))
    assert(aggNodes > 0 && aggNodes <= 4,
      s"signature aggregate duplicated ($aggNodes nodes)\n" + s.take(3000))
  }

  test("estimator materialized-signatures scale path equals the lazy default") {
    val docs = Tables.table(spark, sfDir, "documents")
    val lazyP = TextDedup.minhashEstimatePairs(docs, "doc_id", "text", 0.35)
      .collect().map(_.mkString("|")).toSet
    val cut = scoped(cuts =>
      TextDedup.minhashEstimatePairs(docs, "doc_id", "text", 0.35,
          cuts = Some(cuts))
        .collect().map(_.mkString("|")).toSet)
    assert(cut === lazyP && lazyP.nonEmpty)
  }

  test("estimator store face: persisted signatures re-score identically to from-text") {
    val docs = Tables.table(spark, sfDir, "documents")
    val fromText = TextDedup.minhashEstimatePairs(docs, "doc_id", "text", 0.35)
      .collect().map(_.mkString("|")).toSet
    val store = java.nio.file.Files
      .createTempDirectory("graft-sig-spec").toString
    TextDedup.minhashSignatures(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(store)
    val fromStore = TextDedup.estimatePairsFromSignatures(
        spark.read.parquet(store), 0.35)
      .collect().map(_.mkString("|")).toSet
    assert(fromStore === fromText && fromText.nonEmpty)
  }

  test("incremental probe cap: generous cap ≡ uncapped; bn counts STORE members only") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again today"
    // store: two near-identical docs (their shared buckets have bn=2);
    // batch doc is near-dup of both
    val store = Seq((1L, base + " one"), (2L, base + " two")).toDF("doc_id", "text")
    val batch = Seq((10L, base + " ten")).toDF("doc_id", "text")
    def probe(mb: Option[Int]) =
      TextDedup.incrementalLshPairs(batch, store, "doc_id", "text", 0.5,
        maxBucket = mb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = probe(None)
    assert(uncapped === Set((10L, 1L), (10L, 2L)))
    assert(probe(Some(1000)) === uncapped)
    // cap=1 drops only buckets where BOTH store docs collide; each store
    // doc keeps its private buckets (distinct tail shingles), so the
    // batch still reaches both — single-member buckets carry recall
    assert(probe(Some(1)) === uncapped)
  }

  test("incrementalLshPairs: cross-set pairs only; scale path equals lazy (X58)") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, base),                       // corpus
      (2L, base),                       // corpus dup of 1 — NOT reported
      (3L, "completely different words about spark shuffles and joins here"),
      (9L, base),                       // batch dup of 1 and 2 — reported
      (14L, base),                      // batch dup — within-batch 9~14 NOT reported
      (19L, "unrelated text with no overlap at all in any shingle window")
    ).toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    def run(cuts: Option[Checkpoints.Scope]) =
      TextDedup.incrementalLshPairs(batch, corpus, "doc_id", "text", 0.5, cuts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lazyPairs = run(None)
    assert(lazyPairs === Set((9L, 1L, 1.0), (9L, 2L, 1.0),
      (14L, 1L, 1.0), (14L, 2L, 1.0)))
    assert(scoped(cuts => run(Some(cuts))) === lazyPairs)
  }

  test("lshStoreAppend: probe-after-append equals a full index rebuild (X59)") {
    val docs = Tables.table(spark, sfDir, "documents")
    val base = docs.filter(col("doc_id") % 5 <= 2)
    val b1 = docs.filter(col("doc_id") % 5 === 3)
    val b2 = docs.filter(col("doc_id") % 5 === 4)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-lsh-store").toString
    spark.sql("DROP TABLE IF EXISTS spec_band_store")
    TextDedup.lshStoreWrite(base, "doc_id", "text", "spec_band_store",
      path = Some(scratch))
    val storedBase = spark.table("spec_band_store").count()
    TextDedup.lshStoreAppend(b1, "doc_id", "text", "spec_band_store")
    // the append added exactly batch1's index rows into the store
    assert(spark.table("spec_band_store").count()
      === storedBase + TextDedup.lshIndex(b1, "doc_id", "text").count())
    // probing the appended store ≡ probing a from-scratch rebuild of
    // the base+batch1 index — the crawl-loop maintenance contract
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val afterAppend = pairs(TextDedup.probeLshStore(b2,
      spark.table("spec_band_store"), base.unionByName(b1),
      "doc_id", "text", 0.5))
    val rebuilt = pairs(TextDedup.incrementalLshPairs(b2,
      base.unionByName(b1), "doc_id", "text", 0.5))
    assert(afterAppend === rebuilt)
    assert(afterAppend.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS spec_band_store")
  }

  test("lshBandKeys: stateless per-row band keys equal the lshIndex aggregate") {
    val docs = Tables.table(spark, sfDir, "documents").limit(50)
    val agg = TextDedup.lshIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val perRow = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("__hs", TextDedup.shingleHashes(col("text")))
      .select(col("doc_id"), explode(TextDedup.lshBandKeys(col("__hs"))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(perRow === agg)
    assert(agg.nonEmpty)
  }

  test("dedupClusters: chains propagate to the min id, components stay disjoint") {
    val s = spark
    import s.implicits._
    // component A: a 5-node chain 10-11-12-13-14 (diameter forces several
    // propagation rounds); component B: a pair (50,51); singleton-free by
    // construction (only paired ids appear)
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (50L, 51L))
      .toDF("id_a", "id_b")
    val got = scoped(cuts => TextDedup.dedupClusters(pairs, cuts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      14L -> 10L, 50L -> 50L, 51L -> 50L))
    // an insufficient iteration cap must throw, never return partial labels
    intercept[IllegalArgumentException] {
      scoped(cuts => TextDedup.dedupClusters(pairs, cuts, maxIters = 1))
    }
  }

  test("dedupClusters storage gate: superseded generations released, nothing leaks") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // long chain: 12 nodes forces many propagation rounds, so a leak of
    // one checkpoint per round would show as many extra persisted RDDs
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet.toSet
    val cuts = new Checkpoints.Scope
    val labels = TextDedup.dedupClusters(pairs, cuts)
    val after = sc.getPersistentRDDs.keySet.toSet.diff(before)
    // live storage after the run = the FINAL label generation only, held
    // by the caller's scope — per-round cuts and the edge frame were
    // released by the scopes dedupClusters owns
    assert(after.size === 1 && after === cuts.ids, s"leaked persisted RDDs: $after")
    assert(labels.count() === 12L)
    cuts.close()
    assert(sc.getPersistentRDDs.keySet.toSet === before)
  }

  test("minhash LSH plan gate: ONE signature aggregate feeds the band expansion") {
    val docs = Tables.table(spark, sfDir, "documents")
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
    pairs.collect()
    // AQE's toString appends an "== Initial Plan ==" section after the
    // final plan — count nodes in the FINAL section only
    val p = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the MinHash UDAF appears in exactly one partial+final aggregate
    // node pair — a duplicated signature subtree (4+ aggregate nodes)
    // would re-shingle and re-hash the whole corpus
    val aggNodes = p.toLowerCase.linesIterator
      .filter(l => l.contains("aggregate") && l.contains("minhashagg")).size
    assert(aggNodes > 0, p.take(2000))
    assert(aggNodes <= 2, s"signature aggregate duplicated ($aggNodes nodes)\n" + p.take(3000))
  }

  test("ngram cap: high cap == uncapped; low cap == exact Jaccard of capped sets") {
    val docs = Tables.table(spark, sfDir, "documents")
    val uncapped = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 0.05)
      .collect().map(_.mkString("|")).toSet
    val highCap = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 0.05,
      maxDocFreq = Some(1000000))
      .collect().map(_.mkString("|")).toSet
    assert(highCap == uncapped)

    // independent brute force over the capped shingle universe: drop
    // shingles with df > cap from every doc's set, then all-pairs Jaccard
    val cap = 2
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val posts = toks.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), size(col("toks")) - 3), i =>
          concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("sh"))
    val ok = posts.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("sh")
    val sets = posts.join(ok, "sh")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
    val inter = size(array_intersect(col("a.shs"), col("b.shs")))
    val expected = sets.alias("a")
      .join(sets.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (inter.cast("double")
          / (size(col("a.shs")) + size(col("b.shs")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 0.05,
      maxDocFreq = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"only-got=${got.diff(expected).take(3)} only-expected=${expected.diff(got).take(3)}")
  }

  test("stop-shingle guard: sampled pre-filter fires on a hot shingle, output stays the exact capped semantics") {
    val s = spark
    import s.implicits._
    // every doc shares the 'zz yy xx' shingle (df = 400, so its count
    // within the deterministic 1-in-16 md5 sample is the sample size —
    // far above the cap: the broadcast anti-join guard must flag and
    // drop it BELOW the exchange); each doc also pairs with its twin
    // (i, i+200) through a unique-but-shared tail shingle with df = 2
    // that must SURVIVE the cap
    val docs = (0L until 400L).map { i =>
      val fam = i % 200
      (i, s"zz yy xx t$fam u$fam v$fam")
    }.toDF("doc_id", "text")
    val cap = 2
    // independent reference over the capped shingle universe (the same
    // brute force as the test above): the hot shingle drops from every
    // set, the twin tails keep their pairs
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val posts = toks.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), size(col("toks")) - 3), i =>
          concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("sh"))
    val ok = posts.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("sh")
    val sets = posts.join(ok, "sh")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
    val inter = size(array_intersect(col("a.shs"), col("b.shs")))
    val expected = sets.alias("a")
      .join(sets.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (inter.cast("double")
          / (size(col("a.shs")) + size(col("b.shs")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 0.05,
      maxDocFreq = Some(cap))
    val got = capped
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "test corpus produced no surviving pairs")
    assert(got == expected,
      s"only-got=${got.diff(expected).take(3)} only-expected=${expected.diff(got).take(3)}")
    // plan shape: the guard is a broadcast LeftAnti BELOW the (sh)
    // exchange when a cap is set, and absent when not (r17 verdict
    // item 3's done-criterion)
    def finalPlan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(finalPlan(capped).contains("LeftAnti"),
      "capped plan lost the stop-shingle anti-join guard")
    assert(!finalPlan(TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        0.05)).contains("LeftAnti"),
      "uncapped plan must not carry the guard")
  }

  test("exactDedup keeps exactly one row per key, the tiebreak-first one") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "b"), (1, "a"), (2, "z"), (2, "y"), (3, "m"))
      .toDF("k", "v")
    val out = TextDedup.exactDedup(df, Seq("k"), col("v"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toList
    assert(out == List((1, "a"), (2, "y"), (3, "m")))
  }

  test("editDistanceJoin matches identity/deletion/substitution/insertion, not distance 2") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, "kitten"),  // identity: distance 0
      (2L, "kitte"),   // right has one insertion: distance 1
      (3L, "xitten"),  // one substitution: distance 1
      (4L, "kittenx"), // right has one deletion: distance 1
      (5L, "sittin")   // distance 2 — must NOT match
    ).toDF("lid", "lstr")
    val right = Seq((10L, "kitten")).toDF("rid", "rstr")
    val out = TextDedup.editDistanceJoin(left, "lid", "lstr", right, "rid", "rstr")
      .orderBy("left_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toList
    assert(out == List((1L, 10L, 0L), (2L, 10L, 1L), (3L, 10L, 1L), (4L, 10L, 1L)))
  }

  test("incrementalDedup drops within-batch dups (min id wins) and store collisions") {
    val s = spark
    import s.implicits._
    val batch = Seq(
      (10L, "alpha beta"),  // collides with store → dropped
      (11L, "gamma delta"), // fresh, duplicated in batch → keep 11 only
      (12L, "gamma delta"),
      (13L, "epsilon")      // fresh and unique → kept
    ).toDF("doc_id", "text")
    val store = TextDedup.fingerprint(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
    val out = TextDedup.incrementalDedup(batch, "doc_id", "text", store)
      .orderBy("doc_id").collect().map(_.getLong(0)).toList
    assert(out == List(11L, 13L))
  }

  test("editDistanceJoin self-dedups one frame against itself (coinciding column names)") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "alpha"), (3L, "alphx"), (4L, "gamma"))
      .toDF("id", "name")
    val out = TextDedup.editDistanceJoin(corpus, "id", "name", corpus, "id", "name")
      .filter(col("left_id") < col("right_id")) // unordered pairs once
      .orderBy("left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toList
    assert(out == List((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("editDistanceJoin emits each matching pair once despite multiple shared keys") {
    val s = spark
    import s.implicits._
    // "aa" vs "aa": key sets share "aa", "a" (×2 deletions dedup to one)
    // — the DISTINCT collapse must keep the pair single
    val l = Seq((1L, "aa")).toDF("lid", "lstr")
    val r = Seq((2L, "aa"), (3L, "ab")).toDF("rid", "rstr")
    val out = TextDedup.editDistanceJoin(l, "lid", "lstr", r, "rid", "rstr")
      .orderBy("right_id").collect().map(x => (x.getLong(2), x.getLong(4))).toList
    assert(out == List((2L, 0L), (3L, 1L)))
  }

  // ---- decontamination (X23) -----------------------------------------

  private def deconCorpus = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps"), // 2 shared trigrams
      (2L, "lazy dogs sleep here"), // 0 shared → absent from output
      (3L, "The\t quick   brown fox"), // tabs/runs/case → normalized, 2 shared
      (4L, "quick brown fox runs away")) // exactly 1 shared
      .toDF("doc_id", "text")
  }

  private def deconBench = {
    val s = spark
    import s.implicits._
    // different column name than the corpus — decontaminate must accept it
    Seq((900L, "the quick brown fox")).toDF("bid", "prompt")
  }

  test("decontaminate: shared-gram counts, zero-collision docs absent, whitespace normalized") {
    val out = TextDedup.decontaminate(deconCorpus,
        deconBench, "doc_id", "text", 3, benchTextCol = Some("prompt"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(out === List((1L, 2L), (3L, 2L), (4L, 1L)))
  }

  test("decontaminate: benchmark with no qualifying docs yields an empty result") {
    val s = spark
    import s.implicits._
    val tiny = Seq((901L, "too short")).toDF("bid", "prompt") // < n tokens
    assert(TextDedup.decontaminate(deconCorpus, tiny, "doc_id", "text", 3,
      benchTextCol = Some("prompt")).count() === 0L)
  }

  test("decontaminateBloom equals decontaminate, even with forced false positives") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val exact = rows(TextDedup.decontaminate(deconCorpus, deconBench,
      "doc_id", "text", 3, benchTextCol = Some("prompt")))
    val bloom = rows(TextDedup.decontaminateBloom(deconCorpus, deconBench,
      "doc_id", "text", 3, benchTextCol = Some("prompt")))
    assert(bloom === exact)
    // a near-1 fpp saturates the filter → most grams pass the prune, but
    // the verification join still kills the false positives
    val saturated = rows(TextDedup.decontaminateBloom(deconCorpus, deconBench,
      "doc_id", "text", 3, benchTextCol = Some("prompt"), fpp = 0.99))
    assert(saturated === exact)
  }

  test("decontaminateBloom plan gate: bloom might_contain filter below the gram join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = TextDedup.decontaminateBloom(deconCorpus, deconBench,
      "doc_id", "text", 3, benchTextCol = Some("prompt"))
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // the native BloomFilterMightContain probe must sit UNDER the
    // verification join — pruning before the shuffle is the operator's
    // 100 TB claim
    val pruned = joins.exists(j => Seq(j.left, j.right).exists(side =>
      side.collect {
        case f: Filter if f.condition.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
      }.nonEmpty))
    assert(pruned, df.queryExecution.optimizedPlan.toString)
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame, n: Int) =
    TextDedup.dedupSpans(df, "doc_id", "text", n)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toList

  test("dedupSpans: cross-doc span removed from the later doc only; canonical untouched") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x a b c y")).toDF("doc_id", "text")
    // "a b c" occurs at (1,1) [canonical] and (2,2) → doc 2 loses pos 2-4
    assert(spanRows(df, 3) === List(
      (1L, 4L, 0L, "a b c d"),
      (2L, 5L, 3L, "x y")))
  }

  test("dedupSpans: within-doc repeat keeps the first occurrence") {
    val s = spark
    import s.implicits._
    val df = Seq((7L, "p q r p q r")).toDF("doc_id", "text")
    assert(spanRows(df, 3) === List((7L, 6L, 3L, "p q r")))
  }

  test("dedupSpans: overlapping duplicate windows delete each position once") {
    val s = spark
    import s.implicits._
    // n=2 grams of "u v u v u": "u v"@1*, "v u"@2*, "u v"@3, "v u"@4 —
    // removals cover {3,4} ∪ {4,5} = 3 tokens, not 4
    val df = Seq((9L, "u v u v u")).toDF("doc_id", "text")
    assert(spanRows(df, 2) === List((9L, 5L, 3L, "u v")))
  }

  test("dedupSpans: identical docs — later doc fully removed, empty text kept as a row") {
    val s = spark
    import s.implicits._
    val df = Seq((5L, "m n o"), (6L, "m n o")).toDF("doc_id", "text")
    assert(spanRows(df, 3) === List(
      (5L, 3L, 0L, "m n o"),
      (6L, 3L, 3L, "")))
  }

  test("dedupSpans: short docs pass through, NULL text absent") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a b")), (2L, None: Option[String]),
      (3L, Some(""))).toDF("doc_id", "text")
    // doc 1 has < 3 tokens (no windows), doc 3 is the single "" token
    assert(spanRows(df, 3) === List(
      (1L, 2L, 0L, "a b"),
      (3L, 1L, 0L, "")))
  }

  private def segRows(df: org.apache.spark.sql.DataFrame, w: Int) =
    TextDedup.segmentDedup(df, "doc_id", "text", w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toList

  test("segmentDedup: repeated segment dropped from later doc, tail segment kept") {
    val s = spark
    import s.implicits._
    // doc 1: segments [a b], [c d]; doc 2: [a b], [x y], [z] — doc 2's
    // first segment repeats doc 1's and is dropped; its others survive
    val df = Seq((1L, "a b c d"), (2L, "a b x y z")).toDF("doc_id", "text")
    assert(segRows(df, 2) === List(
      (1L, 2L, 2L, "a b c d"),
      (2L, 3L, 2L, "x y z")))
  }

  test("segmentDedup: exact-dup doc collapses to empty text; keep-first by doc id") {
    val s = spark
    import s.implicits._
    val df = Seq((7L, "p q r"), (9L, "p q r")).toDF("doc_id", "text")
    assert(segRows(df, 8) === List(
      (7L, 1L, 1L, "p q r"),
      (9L, 1L, 0L, "")))
  }

  test("segmentDedup: repeat INSIDE one doc dedups by segment index order") {
    val s = spark
    import s.implicits._
    val df = Seq((4L, "u v u v")).toDF("doc_id", "text")
    assert(segRows(df, 2) === List((4L, 2L, 1L, "u v")))
  }

  test("containmentPairs: an embedded excerpt scores 1.0 where Jaccard stays low") {
    val s = spark
    import s.implicits._
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val excerpt = (8 to 12).map(i => s"w$i").mkString(" ") // 5 of A's tokens
    val df = Seq((1L, long), (2L, excerpt)).toDF("doc_id", "text")
    val cont = TextDedup.containmentPairs(df, "doc_id", "text",
        threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // every shingle of the excerpt is in the long doc → cont_b = 1.0;
    // the long doc is NOT contained in the excerpt (3/18 shingles)
    assert(cont.toList === List((1L, 2L, 3.0 / 18.0, 1.0)), cont.toList)
    // the symmetric measure misses it: jaccard = 3/18 < 0.5
    val jac = TextDedup.ngramJaccardPairs(df, "doc_id", "text",
        threshold = 0.5).collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("winnowing: shared run of >= w+k-1 tokens guarantees a shared fingerprint") {
    val s = spark
    import s.implicits._
    // k=3, w=3: guarantee threshold = 5 shared tokens. Docs 1/2 share
    // "p q r s t" (5 tokens) inside different contexts; doc 3 is disjoint.
    val df = Seq(
      (1L, "a b p q r s t c d"),
      (2L, "x y p q r s t z w"),
      (3L, "m n o m n o m n o")).toDF("doc_id", "text")
    val fps = TextDedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 3)
    val byDoc = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, a) => d -> a.map(_._2).toSet }
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty, byDoc.toString)
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty, byDoc.toString)
    // fingerprints are a subset of the doc's gram hashes: every doc with
    // >= k tokens selects at least one
    assert(byDoc.keySet === Set(1L, 2L, 3L))
    val pairs = TextDedup.winnowPairs(df, "doc_id", "text",
        k = 3, w = 3, minShared = 1, maxDocFreq = 50)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(pairs.map(_._1) === List(2L)) // only (1,2) pair survives
  }

  test("winnowing: short docs (< k tokens) yield no fingerprints") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val fps = TextDedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 2)
    assert(fps.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(2L))
  }

  test("lshSurvivalStats: true pairs ≡ uncapped LSH; min_bn survival ≡ the capped operator at every cap") {
    val docs = Tables.table(spark, sfDir, "documents")
    val stats = TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5)
    val statPairs = stats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(statPairs === uncapped)
    assert(statPairs.nonEmpty)
    // the survival law IS the capped operator's semantics: for any cap,
    // {pairs with min_bn <= cap} = minhashLshPairs(maxBucket = cap)
    val byMinBn = stats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(byMinBn.forall(_._4 >= 2)) // a shared bucket holds both docs
    Seq(2, 3, 64).foreach { cap =>
      val survived = byMinBn.filter(_._4 <= cap).map(t => (t._1, t._2, t._3)).toSet
      val capped = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
          maxBucket = Some(cap))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(survived === capped, s"survival law broken at cap $cap")
    }
  }

  test("lshSurvivalStats: k-band discovery is a subset with identical per-pair stats; scale cut ≡ lazy") {
    val docs = Tables.table(spark, sfDir, "documents")
    val exact = TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5)
      .collect().map(_.mkString("|")).toSet
    val sampled = TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5,
        discoveryBands = Some(8))
      .collect().map(_.mkString("|")).toSet
    // discovery restricts WHICH pairs are found, never their jaccard or
    // min_bn (computed over all bands either way)
    assert(sampled.subsetOf(exact), s"sampled ⊄ exact: ${sampled.diff(exact)}")
    assert(sampled.nonEmpty)
    val sampledCut = scoped(cuts =>
      TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5,
          discoveryBands = Some(8), cuts = Some(cuts))
        .collect().map(_.mkString("|")).toSet)
    assert(sampledCut === sampled)
    // all 64 bands: the full-index window tail reads the same min_bn as
    // the one the exact face's candidates carry
    val allBands = TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5,
        discoveryBands = Some(64))
      .collect().map(_.mkString("|")).toSet
    assert(allBands === exact)
  }

  test("samplePredicate: deterministic md5 sample — rates, nesting, cross-engine arithmetic, refusals") {
    val ids = spark.range(0, 4000).toDF("id")
    // exact-rate sanity: md5 is uniform over the first hex char, so a
    // 1-in-S sample of 4000 ids lands within ±4 binomial sd of 4000/S
    Seq(1, 2, 4, 8, 16).foreach { s =>
      val n = ids.filter(TextDedup.samplePredicate(col("id"), s)).count()
      val mean = 4000.0 / s
      val sd = math.sqrt(4000.0 * (1.0 / s) * (1 - 1.0 / s))
      assert(math.abs(n - mean) <= 4 * sd + 1,
        s"1-in-$s sample kept $n of 4000 (expected ~$mean)")
    }
    // nesting: the hex-char sets are prefixes of each other, so the
    // 1-in-16 sample ⊆ 1-in-8 ⊆ 1-in-4 ⊆ 1-in-2 — the property that
    // lets a probe REUSE a coarser face's sample as a refinement
    Seq((16, 8), (8, 4), (4, 2)).foreach { case (fine, coarse) =>
      val extra = ids.filter(TextDedup.samplePredicate(col("id"), fine))
        .except(ids.filter(TextDedup.samplePredicate(col("id"), coarse)))
      assert(extra.count() === 0L, s"1-in-$fine ⊄ 1-in-$coarse")
    }
    // the arithmetic is md5-of-the-decimal-string — byte-identical in
    // DuckDB (the oracle's side); pin it against the JDK's own MD5
    val kept2 = ids.filter(TextDedup.samplePredicate(col("id"), 2))
      .collect().map(_.getLong(0)).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    (0L until 4000L).foreach { id =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(kept2(id) === (hex.head < '8'),
        s"id $id: md5 $hex vs predicate ${kept2(id)}")
    }
    assert(intercept[IllegalArgumentException] {
      TextDedup.samplePredicate(col("id"), 3)
    }.getMessage.contains("sampleOneIn"))
  }

  test("lshSurvivalStatsSampled: exactly the both-endpoints-sampled restriction of exact stats; scale knobs agree") {
    val docs = Tables.table(spark, sfDir, "documents")
    val exact = TextDedup.lshSurvivalStats(docs, "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val keep = docs.filter(TextDedup.samplePredicate(col("doc_id"), 2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the estimator's whole statistical claim: the sampled frame IS the
    // exact frame restricted to both-endpoints-sampled pairs — same
    // jaccard, same FULL-corpus min_bn (uniform 1/S² inclusion ⇒ the
    // per-cap survival fraction estimates full-universe recall)
    val expected = exact.filter(t => keep(t._1) && keep(t._2)).toSet
    val sampled = TextDedup.lshSurvivalStatsSampled(
        docs, "doc_id", "text", 0.5, sampleOneIn = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(sampled === expected)
    assert(sampled.nonEmpty)
    assert(sampled.size < exact.size) // the sample is a real restriction
    // the at-scale face: prebuilt cut index + materialized cuts ≡ the
    // lazy path
    val atScale = scoped { cuts =>
      val bands = cuts.cut(TextDedup.lshIndex(docs, "doc_id", "text"))
      TextDedup.lshSurvivalStatsSampled(
          docs, "doc_id", "text", 0.5, sampleOneIn = 2,
          prebuiltIndex = Some(bands), cuts = Some(cuts))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    }
    assert(atScale === sampled)
    // and recallAtCaps over the sampled frame needs NO reweighting:
    // uniform inclusion ⇒ recall = per-cap survival fraction
    val curve = TextDedup.recallAtCaps(
        TextDedup.lshSurvivalStatsSampled(
          docs, "doc_id", "text", 0.5, sampleOneIn = 2),
        Seq(2, 64)).orderBy(col("cap")).collect()
    val nTrue = sampled.size.toLong
    assert(curve.forall(_.getLong(1) === nTrue))
    assert(curve.map(r => r.getLong(2).toDouble / nTrue) ===
      curve.map(_.getDouble(3)))
  }

  test("minhashLshPairsFromIndex: the min_bn filter ≡ the per-cap operator (x64's shared-chain law)") {
    val docs = Tables.table(spark, sfDir, "documents")
    val cuts = new Checkpoints.Scope
    val bands = cuts.cut(TextDedup.lshIndex(docs, "doc_id", "text"))
    val withBn = TextDedup.minhashLshPairsFromIndex(bands, docs,
        "doc_id", "text", 0.5, maxBucket = Some(64))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(withBn.nonEmpty)
    assert(withBn.forall(t => t._4 >= 2 && t._4 <= 64))
    // ONE chain at the loosest cap serves every tighter preset as a
    // filter — pair-for-pair AND jaccard-for-jaccard with the per-cap
    // operator (the nesting x64 exploits)
    Seq(2, 3, 64).foreach { cap =>
      val filtered = withBn.filter(_._4 <= cap).map(t => (t._1, t._2, t._3)).toSet
      val direct = TextDedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
          maxBucket = Some(cap))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(filtered === direct, s"shared-chain law broken at cap $cap")
    }
    // scale path (materialized candidates) ≡ lazy
    val atScale = TextDedup.minhashLshPairsFromIndex(bands, docs,
        "doc_id", "text", 0.5, cuts = Some(cuts), maxBucket = Some(64))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(atScale === withBn.toSet)
    cuts.close()
  }

  test("verify-sets cut: the materialized LSH paths leave no storage once their scope closes") {
    val docs = Tables.table(spark, sfDir, "documents")
    val sc = spark.sparkContext
    // the candidate cut AND the shingle-set cut inside the verify are
    // recorded in the caller's scope, so closing it frees both
    def leftBehind(build: Checkpoints.Scope => org.apache.spark.sql.DataFrame) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val cuts = new Checkpoints.Scope
      assert(build(cuts).collect().nonEmpty)
      assert(cuts.ids.size >= 2, s"expected candidate + sets cuts, got ${cuts.ids}")
      cuts.close()
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leftBehind(cuts => TextDedup.minhashLshPairs(docs, "doc_id", "text",
      0.5, cuts = Some(cuts))).isEmpty)
  }

  test("recallAtCaps: exact-face fractions, cap monotonicity, HT reweighting on a pinned frame") {
    val s = spark
    import s.implicits._
    val stats = Seq(
      (1L, 2L, 0.6, 2L), (3L, 4L, 0.8, 5L), (5L, 6L, 0.5, 100L))
      .toDF("id_a", "id_b", "jaccard", "min_bn")
    val exact = TextDedup.recallAtCaps(stats, Seq(2, 5, 64)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(exact(2) === ((3L, 1L, 1.0 / 3)))
    assert(exact(5) === ((3L, 2L, 2.0 / 3)))
    assert(exact(64) === ((3L, 2L, 2.0 / 3))) // min_bn 100 survives nowhere
    // Horvitz–Thompson: w(j) = (1-(1-j²)^64)/(1-(1-j²)^k) — low-j pairs
    // are under-sampled by k-band discovery, so they weigh MORE
    def w(j: Double, k: Int): Double =
      (1 - math.pow(1 - j * j, 64)) / (1 - math.pow(1 - j * j, k))
    val ht = TextDedup.recallAtCaps(stats, Seq(5), discoveryBands = Some(2))
      .collect().head
    val expected = (w(0.6, 2) + w(0.8, 2)) / (w(0.6, 2) + w(0.8, 2) + w(0.5, 2))
    assert(math.abs(ht.getDouble(3) - expected) < 1e-12)
    assert(ht.getLong(2) === 2L)
    // weighted recall must still be monotone in cap
    val curve = TextDedup.recallAtCaps(stats, Seq(2, 5, 6, 64, 128),
        discoveryBands = Some(2))
      .orderBy(col("cap")).collect().map(_.getDouble(3))
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b }, curve.toSeq)
  }

  test("budgetForRecall: conservative table lookup; refuses unpriced floors and decades") {
    // the measured decades (probes/r12–r13): 500k/2M at budget 32 →
    // recall 1.0; 5M at 32 → 0.998271, 48 → 0.99982, 105 → 1.0
    // — any floor at or below a decade's measured recall maps to the
    // SMALLEST budget that meets it
    assert(TextDedup.budgetForRecall(500000L, 1.0) === 32.0)
    assert(TextDedup.budgetForRecall(2000000L, 0.95) === 32.0)
    assert(TextDedup.budgetForRecall(2000000L, 1.0) === 32.0)
    assert(TextDedup.budgetForRecall(5000000L, 0.998) === 32.0)
    assert(TextDedup.budgetForRecall(5000000L, 0.998271) === 32.0) // exact
    assert(TextDedup.budgetForRecall(5000000L, 0.9983) === 48.0)
    assert(TextDedup.budgetForRecall(5000000L, 0.99982) === 48.0) // exact
    assert(TextDedup.budgetForRecall(5000000L, 0.9999) === 105.0)
    assert(TextDedup.budgetForRecall(5000000L, 1.0) === 105.0)
    // decade rounds UP (conservative): an unmeasured corpus size prices
    // off the next measured decade, never the smaller one
    assert(TextDedup.budgetForRecall(600000L, 1.0) === 32.0) // 2M row
    assert(TextDedup.budgetForRecall(3000000L, 1.0) === 105.0) // 5M row
    assert(TextDedup.budgetForRecall(100L, 1.0) === 32.0) // 500k row
    // refusals: beyond the measured table, extrapolation is a guess —
    // the API names the instrument that extends the table instead
    assert(intercept[IllegalArgumentException] {
      TextDedup.budgetForRecall(6000000L, 0.99)
    }.getMessage.contains("lshSurvivalStats"))
    assert(intercept[IllegalArgumentException] {
      TextDedup.budgetForRecall(5000000L, 0.0)
    }.getMessage.contains("(0, 1]"))
    assert(intercept[IllegalArgumentException] {
      TextDedup.budgetForRecall(5000000L, 1.1)
    }.getMessage.contains("(0, 1]"))
    // a floor above the decade's best measured recall would also refuse
    // — every decade currently prices up to 1.0, so pin the invariant
    // structurally: the forward lookup at each decade's own best recall
    // must return a priced budget (never throw)
    TextDedup.measuredRecallTable.foreach { case (docs, row) =>
      assert(TextDedup.budgetForRecall(docs, row.map(_._2).max) > 0)
    }
  }

  test("recall gate: calibrated cap, cap 5 and cap 8 keep every sf0.1 true pair; cap 2 does not") {
    // A banding or capping change that costs recall must fail the suite:
    // the x63 oracle row cannot catch it, because DuckDB recomputes the
    // same degraded curve and the hash still matches. Ground truth is
    // the full uncapped verify (fine at sf0.1). Pins: the budget rule's
    // own operating point (pair budget 32 — at sf0.1 the budget does not
    // bind, so this pin alone is weak), cap 5 (the smallest cap the
    // budget rule calibrates to at sf10–sf100) and cap 8 (the cap
    // budgetForRecall(5M, 0.9995) resolves to). Cap 2 is known to lose
    // pairs here, which shows the gate can see a miss.
    scoped { cuts =>
      val docs = Tables.table(spark, "/root/testdata/sf0.1", "documents")
      val nDocs = docs.count()
      val bandsIdx = cuts.cut(TextDedup.lshIndex(docs, "doc_id", "text"))
      val calCap = TextDedup.calibrateMaxBucket(bandsIdx, nDocs, 32.0)
      val caps = (Seq(2, 4, 5, 8, 16, 32, 64) :+ calCap).distinct.sorted
      val stats = TextDedup.lshSurvivalStats(docs, "doc_id", "text",
        threshold = 0.5, cuts = Some(cuts), prebuiltIndex = Some(bandsIdx))
      val recall = TextDedup.recallAtCaps(stats, caps).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
      info(s"calibrated cap $calCap, n_true ${recall(2)._1}, recall ppm " +
        caps.map(c => s"c$c=${math.round(recall(c)._2 * 1e6)}").mkString(" "))
      assert(recall.keySet === caps.toSet)
      assert(recall.values.map(_._1).toSet.size === 1 && recall(2)._1 > 0L,
        s"n_true must be one positive count: $recall")
      for ((cap, label) <- Seq(calCap -> "calibrated cap", 5 -> "cap 5",
          8 -> "high-recall preset cap 8"))
        assert(recall(cap)._2 === 1.0,
          s"recall at $label ($cap) is ${recall(cap)._2} < 1.0 — a " +
            s"banding/capping change cost recall (n_true ${recall(cap)._1})")
      assert(recall(2)._2 < 1.0, s"cap 2 lost no pair: $recall")
    }
  }
}
