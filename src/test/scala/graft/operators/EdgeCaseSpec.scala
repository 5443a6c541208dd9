package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Degenerate inputs that would be ANSI-mode runtime errors without the
  * guards: empty text, zero-norm embeddings, stride-structured sample
  * keys, singleton stddev groups.
  */
class EdgeCaseSpec extends SparkSpec {

  test("quality metrics and langGuess survive empty text") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, ""), (2L, "the cat sat.")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityMetrics(df, "text")
      .select("doc_id", "punct_ratio", "keep").orderBy("doc_id").collect()
    assert(q(0).isNullAt(1) && q(0).getInt(2) == 0)
    assert(!q(1).isNullAt(1))
    val l = TextAnalysis.langGuess(df, "text")
      .select("lang_guess").orderBy("doc_id").collect().map(_.getString(0))
    assert(l(0) == "und")
  }

  test("maskPii and packSequences survive NULL text and empty input") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, null: String), (2L, "pay 42 now")).toDF("doc_id", "text")
    // NULL text: masked stays NULL, counts stay NULL (SQL null semantics,
    // not zeros) — callers filter or coalesce explicitly
    val m = TextAnalysis.maskPii(df, "text").orderBy("doc_id").collect()
    assert(m(0).isNullAt(m(0).fieldIndex("masked")))
    assert(m(0).isNullAt(m(0).fieldIndex("n_nums")))
    assert(m(1).getAs[String]("masked") === "pay <num> now")
    // empty input: packing yields zero bins, no driver-side error from
    // the empty partition-offset map
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cuts = new graft.Checkpoints.Scope
    assert(TextAnalysis.packSequences(empty, "doc_id", "text", 100, cuts).count() === 0)
    // NULL text drops out of chunking entirely (documented contract) and
    // lands in the NULL packing bin without poisoning the running offset
    val chunks = TextAnalysis.chunkByTokens(df, "doc_id", "text", 4, 1)
    assert(chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(2L))
    val bins = try TextAnalysis.packSequences(df, "doc_id", "text", 100, cuts)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    finally cuts.close()
    assert(bins === Map(-1L -> 1L, 0L -> 1L)) // NULL bin + the real doc's bin
  }

  test("zero-norm embedding yields NULL cosine, not an error") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(0.00001f, 0.00001f)), // quantizes to all zeros
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.5f, 0.4f)))
      .toDF("vec_id", "embedding")
    val pairs = TextDedup.embeddingNearDupPairs(df, "vec_id", "embedding", 0.0)
      .collect()
    // pairs involving vec 1 have NULL cosine → filtered by threshold;
    // the 2-3 pair survives
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 3L)))
  }

  test("hash sampling is not degenerate on stride-structured keys") {
    val s = spark
    import s.implicits._
    val stride100 = (0 until 1000).map(_ * 100L).toDF("k")
    val kept = Sampling.hashSample(stride100, col("k"), 20).count()
    // low-bit hash would keep 0% or 100%; high-bit hash keeps ~20%
    assert(kept > 100 && kept < 300, s"kept=$kept of 1000")
    // large snowflake-style ids must not overflow under ANSI mode
    val big = Seq(4102444800000000001L, 4102444800000000002L).toDF("k")
    Sampling.hashSample(big, col("k"), 50).collect()
  }

  test("singleton stddev group yields NULL, not an error") {
    val s = spark
    import s.implicits._
    // replicate the x9a expression shape on a 1-row group
    val df = Seq(("solo", 100L)).toDF("event_type", "cents")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
      .select(when(col("n") > 1,
        sqrt((col("n") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * (col("n") - 1))))
        .otherwise(lit(null)).as("stddev"))
    assert(df.collect().head.isNullAt(0))
  }

  test("segmentDedup: NULL text absent, empty text is the single '' segment") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a b")), (2L, None: Option[String]),
      (3L, Some(""))).toDF("doc_id", "text")
    val out = TextDedup.segmentDedup(df, "doc_id", "text", width = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // NULL split yields no exploded rows → doc 2 absent (same contract
    // as dedupSpans); "" splits to the single empty token → one segment
    assert(out.toList === List((1L, 1L, 1L, "a b"), (3L, 1L, 1L, "")))
  }

  test("audioFrameEnergy: hand-computed frames, non-audio filtered, empty silent") {
    val s = spark
    import s.implicits._
    // doc 1 → 'audio' (1 % 3 == 1); doc 2 → 'video'; doc 4 → audio, empty
    val docs = Seq((1L, "abcd", "en"), (2L, "zz", "en"), (4L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.multimodal.Multimodal
      .audioFrameEnergy(graft.multimodal.Multimodal.mediaTable(docs), frame = 3)
      .collect().map(f => (f.doc_id, f.frame_idx, f.n_samples, f.energy))
      .sortBy(t => (t._1, t._2)).toList
    // 'a'..'d' = 97..100: frame 0 = 97²+98²+99² = 28814, frame 1 = 100²
    assert(out === List((1L, 0L, 3L, 28814L), (1L, 1L, 1L, 10000L)))
  }

  test("winnowing degenerate w=1 selects every gram hash") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val w1 = TextDedup.winnowFingerprints(df, "doc_id", "text", k = 2, w = 1)
    // w=1 windows are the grams themselves → one fingerprint per distinct
    // gram hash (3 grams here, all distinct)
    assert(w1.count() === 3L)
  }
}
