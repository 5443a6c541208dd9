package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Demonstrators for the multimodal-column machinery (SURVEY.md §2B X4,
  * [[graft.multimodal.Multimodal]]). The decode stub is deterministic
  * arithmetic, so even the mapPartitions path is DuckDB-hash-verified —
  * the oracle recomputes the same features from the text with ascii/substr
  * arithmetic (SQL indexes code points; payload chars here are BMP, where
  * that agrees with the JVM's char indexing).
  */
object MultimodalDemos {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** Shared oracle fragments of the stub decoder's feature formulas
    * ([[Multimodal.decodeOne]]) — ONE definition site, interpolated into
    * every x4 oracle so a decoder change can't silently desync them.
    */
  private val MediaTypeSql = "(['image','audio','video'])[doc_id % 3 + 1]"
  private val NBytesSql = "octet_length(encode(text))"
  private val WidthSql =
    "CASE WHEN length(text) > 0 THEN 32 + ascii(substr(text, 1, 1)) % 64 ELSE 32 END"
  private val HeightSql =
    "CASE WHEN length(text) > 0 THEN 32 + ascii(substr(text, least(2, length(text)), 1)) % 64 ELSE 32 END"
  private val NFramesSql = "1 + length(text) % 8"

  // -------------------------------------------------------------------
  // X4b: binary payload + typed metadata projection — the multimodal
  // storage layout (opaque bytes next to queryable metadata).
  // -------------------------------------------------------------------
  private val x4b = Demo("x4b_media_meta", Some(s"""
      SELECT doc_id,
             $MediaTypeSql AS media_type,
             $NBytesSql AS n_bytes,
             lang AS source_lang
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Multimodal.mediaTable(docs(s, dir))
      .select(col("doc_id"), col("media_type"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.source_lang").as("source_lang"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X4c: partition-wise decode / feature extraction over binary payloads
  // (the mapPartitions plumbing with the stubbed codec).
  // -------------------------------------------------------------------
  private val x4c = Demo("x4c_decode_features", Some(s"""
      SELECT doc_id,
             $MediaTypeSql AS media_type,
             $NBytesSql AS n_bytes,
             $WidthSql AS width,
             $HeightSql AS height,
             $NFramesSql AS n_frames,
             CASE WHEN length(text) > 0 THEN
               cast(list_sum(list_transform(generate_series(1, least(16, length(text))),
                      i -> cast(ascii(substr(text, i, 1)) AS bigint))) AS double)
                 / least(16, length(text))
             ELSE 0.0 END AS brightness
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Multimodal.decodeFeatures(Multimodal.mediaTable(docs(s, dir)))
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X4d: deterministic frame sampling — the explode shape of video frame
  // extraction (one row per sampled frame + per-frame fingerprint).
  // -------------------------------------------------------------------
  private val x4d = Demo("x4d_frame_sample", Some(s"""
      SELECT doc_id,
             $MediaTypeSql AS media_type,
             unnest(generate_series(1, $NFramesSql)) AS frame_idx,
             ($WidthSql) * 31
               + unnest(generate_series(1, $NFramesSql)) AS frame_fingerprint
      FROM documents
      ORDER BY doc_id ASC NULLS LAST, frame_idx ASC NULLS LAST"""),
    (s, dir, _) => Multimodal.sampleFrames(
        Multimodal.decodeFeatures(Multimodal.mediaTable(docs(s, dir))))
      .select(col("doc_id"), col("media_type"), col("frame_idx"),
        col("frame_fingerprint"))
      .orderBy(col("doc_id").asc_nulls_last, col("frame_idx").asc_nulls_last))

  // -------------------------------------------------------------------
  // X4e: deterministic resize — fit into a 48px box preserving aspect
  // ratio (integer floor division both engines) + the proportional
  // storage estimate in exact integer-ceil form.
  // -------------------------------------------------------------------
  private val x4e = Demo("x4e_resize", Some(s"""
      WITH ${resizeCtesSql("documents")}
      $resizeSelectSql
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Multimodal.resize(
        Multimodal.decodeFeatures(Multimodal.mediaTable(docs(s, dir))), maxDim = 48)
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X4f: PERCEPTUAL-HASH NEAR-DUP over the image modality — 60-bit dHash
  // per payload (gradient-sign sequence from the stub decode's sample
  // stream), then hamming ≤ 3 pairs via the 4×15-bit pigeonhole band
  // join + exact bit_count(xor) verify (Multimodal.phashNearDupPairs) —
  // near-dup detection for media, where text shingles don't exist. The
  // oracle recomputes the same hash with ascii/substr arithmetic and
  // replays the band join declaratively.
  // -------------------------------------------------------------------
  private def cpSql(idx: String) =
    s"CASE WHEN length(text) = 0 THEN 0 ELSE ascii(substr(text, least($idx, length(text) - 1) + 1, 1)) END"

  private val phashSql =
    s"""cast(list_sum(list_transform(generate_series(0, ${Multimodal.PhashBits - 1}),
       i -> CASE WHEN (${cpSql("i")}) > (${cpSql("i + 1")})
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS bigint)"""

  private val bandMask = (1 << Multimodal.PhashBandBits) - 1

  /** Shared oracle fragments of the phash band-blocking and the resize
    * arithmetic — ONE definition site each (the fingerprintSql pattern),
    * consumed by x4f AND the x19 capstone so the two oracle texts cannot
    * drift. `ph`/`banded` are pinned MATERIALIZED: both feed a self-join,
    * and an unpinned CTE re-evaluates the 60-step hash per reference.
    */
  private def bandedSql(srcCte: String): String = s"""
        SELECT doc_id, phash, band,
               (phash >> (band * ${Multimodal.PhashBandBits})) & $bandMask AS band_value
        FROM $srcCte, unnest(generate_series(0, ${Multimodal.PhashBands - 1})) AS t(band)"""

  // defs, not vals: x4e initializes BEFORE this declaration point in the
  // object, and a forward val reference would interpolate null
  private def candSql: String = """
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.phash AS ph_a, b.phash AS ph_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_value = b.band_value
             AND a.doc_id < b.doc_id"""

  /** f/r resize CTEs over `srcCte` (must expose doc_id, text) + final
    * projection — the declarative replay of [[Multimodal.resize]] at
    * maxDim=48.
    */
  private def resizeCtesSql(srcCte: String): String = s"""
      f AS (
        SELECT doc_id,
               $MediaTypeSql AS media_type,
               $NBytesSql AS n_bytes,
               $WidthSql AS width,
               $HeightSql AS height
        FROM $srcCte),
      r AS (
        SELECT doc_id, media_type, n_bytes, width, height,
               CASE WHEN greatest(width, height) <= 48 THEN width
                    ELSE (width * 48) // greatest(width, height) END AS new_width,
               CASE WHEN greatest(width, height) <= 48 THEN height
                    ELSE (height * 48) // greatest(width, height) END AS new_height
        FROM f)"""

  private def resizeSelectSql: String = """
      SELECT doc_id, media_type, width, height, new_width, new_height,
             cast((n_bytes * new_width * new_height + width * height - 1)
                  // (width * height) AS bigint) AS resized_bytes
      FROM r"""

  private val x4f = Demo("x4f_phash_neardup", Some(s"""
      WITH ph AS MATERIALIZED (
        SELECT doc_id, $phashSql AS phash
        FROM documents WHERE doc_id % 3 = 0),
      banded AS MATERIALIZED (${bandedSql("ph")}),
      cand AS ($candSql)
      SELECT id_a, id_b, cast(bit_count(xor(ph_a, ph_b)) AS bigint) AS hamming
      FROM cand
      WHERE bit_count(xor(ph_a, ph_b)) <= 3
      ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST"""),
    (s, dir, _) => {
      val images = docs(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0)
      Multimodal.phashNearDupPairs(
          Multimodal.perceptualHash(Multimodal.mediaTable(images)),
          maxHamming = 3)
        .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X19: MEDIA-CLEANING CAPSTONE — the multimodal mirror of x11's text
  // pipeline, composed from the library operators end-to-end:
  // image modality → perceptual dHash → pigeonhole near-dup pairs →
  // label-propagation clusters (TextDedup.dedupClusters — the same graph
  // machinery as x2f, pair schema is operator-agnostic) → keep the
  // min-id representative per cluster → decode features → resize into a
  // 48px box. The oracle replays every stage declaratively (recursive-
  // CTE closure for the clusters), so the driver hash-verifies the WHOLE
  // composition, iterative pieces included.
  // -------------------------------------------------------------------
  private val x19 = Demo("x19_media_clean", Some(s"""
      WITH RECURSIVE imgs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      ph AS MATERIALIZED (SELECT doc_id, $phashSql AS phash FROM imgs),
      banded AS MATERIALIZED (${bandedSql("ph")}),
      prs AS MATERIALIZED ($candSql),
      pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM prs WHERE bit_count(xor(ph_a, ph_b)) <= 3),
      edges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b AS s, id_a AS d FROM pairs),
      reach(node, r) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node),
      clusters AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
      dropped AS (SELECT node FROM clusters WHERE node <> cluster_id),
      kept AS (SELECT i.doc_id, i.text FROM imgs i
               WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.node = i.doc_id)),
      ${resizeCtesSql("kept")}
      $resizeSelectSql
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, cuts) => {
      import graft.operators.TextDedup
      val images = docs(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0)
      val media = Multimodal.mediaTable(images)
      val pairs = Multimodal.phashNearDupPairs(
        Multimodal.perceptualHash(media), maxHamming = 3)
      val dropped = TextDedup.dedupClusters(pairs, cuts)
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node"))
      val kept = media.join(dropped,
        media("doc_id") === dropped("node"), "left_anti")
      Multimodal.resize(Multimodal.decodeFeatures(kept), maxDim = 48)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X4h: AUDIO FRAME ENERGY — the audio verb of the stub-codec seam:
  // audio-typed payloads fake-decode to code-point "PCM", tile into
  // 8-sample frames, emit exact-integer Σ sample² per frame (the input
  // to silence-trim/VAD). The oracle replays the decode and framing with
  // character arithmetic and a lateral generate_series.
  // -------------------------------------------------------------------
  private val audioFrame = 8

  private val x4h = Demo("x4h_audio_energy", Some(s"""
      WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
      cps AS (SELECT doc_id,
                     list_transform(generate_series(1, length(text)), i ->
                       cast(ascii(substr(text, i, 1)) AS bigint)) AS cp
              FROM a),
      fr AS (SELECT doc_id, cp, i AS frame_idx
             FROM cps, unnest(generate_series(0,
               (len(cp) + ${audioFrame - 1})//$audioFrame - 1)) t(i))
      SELECT doc_id, frame_idx,
             cast(len(cp[(frame_idx*$audioFrame+1):least(len(cp), (frame_idx+1)*$audioFrame)])
                  AS bigint) AS n_samples,
             cast(list_sum(list_transform(
                    cp[(frame_idx*$audioFrame+1):least(len(cp), (frame_idx+1)*$audioFrame)],
                    v -> v*v)) AS bigint) AS energy
      FROM fr
      ORDER BY doc_id ASC NULLS LAST, frame_idx ASC NULLS LAST"""),
    (s, dir, _) => Multimodal.audioFrameEnergy(
        Multimodal.mediaTable(docs(s, dir)), frame = audioFrame)
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last, col("frame_idx").asc_nulls_last))

  val all: Seq[Demo] = Seq(x4b, x4c, x4d, x4e, x4f, x4h, x19)
}
