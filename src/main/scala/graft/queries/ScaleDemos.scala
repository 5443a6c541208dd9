package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Sampling, ScaleOps, TextDedup}
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Scale-mechanics demonstrators: the skew-handling machinery of
  * [[graft.operators.ScaleOps]] run as oracle-checked queries, proving
  * the two-phase plans produce IDENTICAL results to their naive
  * single-phase equivalents (the oracle IS the naive formulation), plus
  * the storage-layout demos (JSONL/ORC roundtrips, partitioned and
  * bucketed stores, shard pipeline, schema evolution) — each of which
  * materializes into a FRESH scratch dir under java.io.tmpdir and
  * re-reads it, with the oracle computing the same answer from the
  * original table so the hash-match proves the store lossless. Plan
  * shapes (no-Exchange bucketed join, partition pruning, ORC pushdown)
  * are additionally pinned in ScaleOpsSpec.
  */
object ScaleDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // -------------------------------------------------------------------
  // X14: salted two-phase aggregation over the 3-value l_returnflag key —
  // the skew pattern: a direct groupBy on a 3-key column funnels 600k
  // rows into 3 reducers; the salt spreads each hot key over 16 partials
  // first, then re-aggregates 48 partial rows. The oracle is the PLAIN
  // single-phase GROUP BY — same result by re-aggregability of
  // sum/count; the salt never leaks into the output. l_quantity is
  // integer-valued, so sums stay exact longs under any partial order.
  // -------------------------------------------------------------------
  private val x14 = Demo("x14_salted_agg", Some("""
      SELECT l_returnflag,
             cast(count(*) AS bigint) AS n_items,
             cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS LAST"""),
    (s, dir, _) => ScaleOps.saltedAgg(
        t(s, dir, "lineitem"),
        keys = Seq("l_returnflag"),
        saltFrom = col("l_orderkey"),
        saltBuckets = 16,
        partials = Seq(
          "n_p" -> count(lit(1)),
          "sq_p" -> sum(col("l_quantity").cast("long"))),
        finals = Seq(
          "n_items" -> sum(col("n_p")),
          "sum_qty" -> sum(col("sq_p"))))
      .orderBy(col("l_returnflag").asc_nulls_last))

  // -------------------------------------------------------------------
  // X17: join-key skew diagnostic — ScaleOps.keySkewProfile over the
  // events user_id key: top-10 heaviest values with count and frequency
  // share. This is the measurement that decides whether x14's salting is
  // warranted. The share division is one double op over exact integers;
  // ties rank deterministically by (count DESC, key ASC).
  // -------------------------------------------------------------------
  private val x17 = Demo("x17_key_skew", Some("""
      WITH counts AS (SELECT user_id AS key, count(*) AS cnt
                      FROM events GROUP BY 1),
      total AS (SELECT sum(cnt) AS total FROM counts),
      top AS (SELECT key, cnt,
                     row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
              FROM counts ORDER BY cnt DESC, key ASC LIMIT 10)
      SELECT rank, key, cnt,
             cast(cnt AS double) / cast(total AS double) AS share
      FROM top CROSS JOIN total
      ORDER BY rank ASC NULLS LAST"""),
    (s, dir, _) => ScaleOps.keySkewProfile(
        t(s, dir, "events"), col("user_id"), topK = 10)
      .orderBy(col("rank").asc_nulls_last))

  // -------------------------------------------------------------------
  // X24: JSONL SINK → SOURCE round-trip — JSON-lines is the standard
  // training-data interchange format; this demo writes the documents
  // corpus as JSONL and reads it back with an EXPLICIT schema (no
  // inference pre-scan — at 100 TB schema inference is a full extra
  // read), emitting the round-tripped rows. The oracle reads the
  // ORIGINAL parquet, so the hash-match proves the JSON escaping
  // round-trip is lossless byte-for-byte, including multi-line and
  // non-ASCII text. Scale: both sides are splittable line-oriented
  // scans; the sink is a narrow per-partition write.
  // -------------------------------------------------------------------
  /** Per-demo scratch dir under java.io.tmpdir, wiped on entry.
    * SINGLE-PROCESS contract: the path is fixed per demo name, so two
    * concurrent runs of the same demo (e.g. bench alongside a targeted
    * Verify) would clobber each other mid-read — the driver runs its
    * surfaces serially, and local runs should too (or set a distinct
    * java.io.tmpdir per process).
    */
  private def freshScratchDir(name: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_demo_$name")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    root.toString
  }

  private val x24 = Demo("x24_jsonl_roundtrip", Some("""
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val scratch = freshScratchDir("x24_jsonl")
      docs.write.mode("overwrite").json(scratch)
      s.read.schema(docs.schema).json(scratch)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X25: HIVE-PARTITIONED WRITE + PRUNED READ — events materialized
  // day-partitioned (ScaleOps.writePartitioned), then a one-day query
  // over the partitioned store: the day filter prunes at the DIRECTORY
  // level (1/30th of files touched here; 1/365th at a year of data,
  // before any row is read — pruning itself is plan-asserted in
  // ScaleOpsSpec). The oracle computes the same day from the ORIGINAL
  // table, so the hash-match also proves the partitioned materialization
  // is lossless.
  // -------------------------------------------------------------------
  private val x25 = Demo("x25_partition_pruning", Some("""
      SELECT event_type,
             count(*) AS n,
             cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS cents
      FROM events
      WHERE cast(ts AS date) = DATE '2024-01-15'
      GROUP BY 1
      ORDER BY event_type ASC NULLS LAST"""),
    (s, dir, _) => {
      val ev = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val scratch = freshScratchDir("x25_part")
      ScaleOps.writePartitioned(ev, scratch, Seq("day"))
      s.read.parquet(scratch)
        .filter(col("day") === to_date(lit("2024-01-15")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("event_type").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X26: BUCKETED CO-LOCATED JOIN — orders and customer materialized
  // bucketed on the join key (ScaleOps.writeBucketed, external tables in
  // scratch), then joined bucket-for-bucket: NO exchange on either side
  // (plan-asserted in ScaleOpsSpec; at 100 TB that exchange is the
  // dominant cost of a fact-fact join). Oracle = the SAME join over the
  // original tables — bucketed storage provably changes the plan, never
  // the result.
  // -------------------------------------------------------------------
  private val x26 = Demo("x26_bucketed_join", Some("""
      SELECT c_mktsegment,
             count(*) AS n_orders,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
      ORDER BY c_mktsegment ASC NULLS LAST"""),
    (s, dir, _) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val dec2 = DecimalType(18, 2)
      val scratch = freshScratchDir("x26_bucketed")
      ScaleOps.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
        "x26_orders_b", buckets = 8, keys = Seq("o_custkey"),
        path = Some(s"$scratch/orders"))
      ScaleOps.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "x26_customer_b", buckets = 8, keys = Seq("c_custkey"),
        path = Some(s"$scratch/customer"))
      s.table("x26_orders_b")
        .join(s.table("x26_customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).cast(dec2).cast(DoubleType)
            .as("total_price"))
        .orderBy(col("c_mktsegment").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X30: Z-ORDER CLUSTERING KEY — ScaleOps.zOrderValue over the classic
  // (user, day) pair: the layout key that lets per-file min/max stats
  // prune BOTH user- and time-predicates after a single range-partition
  // sort (the pruning effect itself is spec-asserted in ScaleOpsSpec;
  // the demo pins the interleave arithmetic cell-for-cell against the
  // oracle via the shared zOrderSql text).
  // -------------------------------------------------------------------
  private val zBits = 6 // 64×64 cells

  private val x30 = Demo("x30_zorder_cluster", Some(s"""
      WITH c AS (SELECT user_id % 64 AS xb,
                        date_diff('day', DATE '2024-01-01', cast(ts AS date)) % 64 AS yb
                 FROM events)
      SELECT ${ScaleOps.zOrderSql("xb", "yb", zBits)} AS z, xb, yb,
             count(*) AS n_events
      FROM c GROUP BY z, xb, yb
      ORDER BY z ASC NULLS LAST"""),
    (s, dir, _) => {
      val cells = t(s, dir, "events").select(
        pmod(col("user_id"), lit(64L)).as("xb"),
        pmod(datediff(col("ts").cast("date"),
          lit(java.sql.Date.valueOf("2024-01-01"))), lit(64))
          .cast("long").as("yb")) // long: match the oracle's BIGINT
      cells
        .groupBy(ScaleOps.zOrderValue(col("xb"), col("yb"), zBits).as("z"),
          col("xb"), col("yb"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("z").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X38: ORC ROUNDTRIP — the second columnar interchange format (x24
  // covers line-JSONL): documents written to ORC, read back through a
  // pushed-down predicate. The oracle runs the same filtered projection
  // on the ORIGINAL parquet, so the hash-match proves the ORC
  // materialization lossless AND the filtered re-read correct. The
  // n_chars filter reaching the ORC scan as a PushedFilter is asserted
  // in ScaleOpsSpec (ORC carries min/max stripe stats like parquet —
  // at 100 TB the filter skips stripes before any row decodes).
  // -------------------------------------------------------------------
  private val x38 = Demo("x38_orc_roundtrip", Some("""
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE n_chars >= 300
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val scratch = freshScratchDir("x38_orc")
      docs.write.mode("overwrite").orc(scratch)
      s.read.orc(scratch)
        .filter(col("n_chars") >= 300)
        .orderBy(col("doc_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X43: TRAINING-SHARD PIPELINE CAPSTONE — the end-of-pipeline "write
  // the training shards" composition: fingerprint exact-dedup →
  // deterministic shuffle-shard (8 shards, salt 7) → shard-partitioned
  // parquet write → read back and report per-shard doc/token counts.
  // The oracle replays dedup + mixer + shard aggregation over the
  // ORIGINAL table, so the hash-match proves the partitioned shard
  // store lossless AND the shard assignment reproducible. At 100 TB
  // this is one narrow projection chain into a partitionBy writer —
  // the only exchanges are the dedup window and the final stats agg.
  // -------------------------------------------------------------------
  private val (shardN, shardSalt) = (8, 7L)

  private val x43 = Demo("x43_shard_pipeline", Some(s"""
      WITH fp AS (SELECT doc_id, text, ${DedupDemos.fingerprintSql} AS fingerprint
                  FROM documents),
      ek AS (SELECT doc_id, text
             FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint
                                                ORDER BY doc_id) AS rn
                   FROM fp)
             WHERE rn = 1),
      h1 AS (SELECT doc_id, text,
                    (((doc_id + $shardSalt) % 2147483648) * 2654435761)
                      % 2147483648 AS h
             FROM ek),
      h2 AS (SELECT doc_id, text, xor(h, h >> 15) AS h FROM h1),
      h3 AS (SELECT doc_id, text, (h * 2246822519) % 2147483648 AS h FROM h2),
      h4 AS (SELECT doc_id, text, xor(h, h >> 13) AS h FROM h3)
      SELECT h % $shardN AS shard, count(*) AS n_docs,
             cast(sum(len(string_split(text, ' '))) AS bigint) AS n_tokens
      FROM h4
      GROUP BY 1
      ORDER BY shard ASC NULLS LAST"""),
    (s, dir, _) => {
      val deduped = TextDedup.exactDedup(
        TextDedup.withFingerprint(t(s, dir, "documents"), "text"),
        keys = Seq("fingerprint"), tiebreak = col("doc_id"))
      val sharded = Sampling.shuffleShard(deduped, col("doc_id"),
        numShards = shardN, salt = shardSalt)
      val scratch = freshScratchDir("x43_shards")
      ScaleOps.writePartitioned(
        sharded.select(col("doc_id"), col("text"), col("shard")),
        scratch, Seq("shard"))
      s.read.parquet(scratch)
        // partition-column inference reads `shard` back as int
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .orderBy(col("shard").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X44: SCHEMA-EVOLUTION READ — a store written by two pipeline
  // generations (batch 1: doc_id+lang; batch 2 adds n_chars) read as ONE
  // table via mergeSchema: the added column back-fills NULL for
  // old-generation rows, the lakehouse column-add contract. The oracle
  // reproduces the generation split (and its NULL pattern) from the
  // ORIGINAL table. Scale note: mergeSchema footer-merges at planning —
  // pay it only on evolving stores; pin an explicit schema otherwise.
  // -------------------------------------------------------------------
  private val x44 = Demo("x44_schema_evolution", Some("""
      SELECT doc_id, lang,
             CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
      FROM documents
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val docs = t(s, dir, "documents")
      val scratch = freshScratchDir("x44_evolve")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$scratch/gen=1")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$scratch/gen=2")
      s.read.option("mergeSchema", "true").parquet(scratch)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id").asc_nulls_last)
    })

  val all: Seq[Demo] = Seq(x14, x17, x24, x25, x26, x30, x38, x43, x44)
}
