package graft.models

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental-materialization semantics per strategy: first-run
  * bootstrap, append, merge upsert (update + insert + untouched), dynamic
  * partition overwrite (only delta partitions replaced; re-run idempotent),
  * and the maxWatermark is_incremental() idiom.
  */
class IncrementalSpec extends SparkSpec {

  import spark.implicits._

  private var n = 0

  /** Fixed per-test scratch path under target/, cleared before use — no
    * litter across repeated test runs.
    */
  private def tmp(): String = {
    n += 1
    val root = java.nio.file.Paths.get("target", "tmp", s"incr_spec_$n")
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(Files.deleteIfExists(_))
    }
    root.resolve("t").toString
  }

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.select("k", "v").as[(String, Long)].collect().toSet

  test("append: first run bootstraps full, later runs add the delta") {
    val path = tmp()
    val r1 = Incremental.run(spark, path, Incremental.Append) { (inc, _) =>
      assert(!inc); Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    assert(rows(r1) === Set(("a", 1L), ("b", 2L)))
    val r2 = Incremental.run(spark, path, Incremental.Append) { (inc, existing) =>
      assert(inc && existing.isDefined)
      Seq(("c", 3L)).toDF("k", "v")
    }
    assert(rows(r2) === Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("merge: delta rows replace same-key rows, others untouched") {
    val path = tmp()
    Incremental.run(spark, path, Incremental.Merge(Seq("k"))) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    val r2 = Incremental.run(spark, path, Incremental.Merge(Seq("k"))) { (_, _) =>
      Seq(("b", 20L), ("c", 3L)).toDF("k", "v")
    }
    assert(rows(r2) === Set(("a", 1L), ("b", 20L), ("c", 3L)))
  }

  test("full refresh: drop-and-rebuild regardless of existing state") {
    val path = tmp()
    Incremental.run(spark, path, Incremental.Append) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    // --full-refresh: is_incremental() false, body rebuilds from
    // scratch, prior rows do NOT survive (append would keep them)
    val r = Incremental.run(spark, path, Incremental.Append,
        fullRefresh = true) { (inc, existing) =>
      assert(!inc && existing.isEmpty)
      Seq(("z", 9L)).toDF("k", "v")
    }
    assert(rows(r) === Set(("z", 9L)))
    // a partitioned full refresh also drops partitions the rebuild no
    // longer emits (static overwrite of the whole directory)
    val p2 = tmp()
    val strat = Incremental.InsertOverwrite(Seq("p"))
    Incremental.run(spark, p2, strat) { (_, _) =>
      Seq(("d1", "a", 1L), ("d2", "b", 2L)).toDF("p", "k", "v")
    }
    val r2 = Incremental.run(spark, p2, strat, fullRefresh = true) { (_, _) =>
      Seq(("d2", "b", 20L)).toDF("p", "k", "v")
    }
    assert(r2.select("p", "k", "v").as[(String, String, Long)]
      .collect().toSet === Set(("d2", "b", 20L)))
    // after the refresh, incremental runs resume normally
    val r3 = Incremental.run(spark, p2, strat) { (inc, _) =>
      assert(inc); Seq(("d3", "c", 3L)).toDF("p", "k", "v")
    }
    assert(r3.select("p", "k", "v").as[(String, String, Long)]
      .collect().toSet === Set(("d2", "b", 20L), ("d3", "c", 3L)))
  }

  test("insert_overwrite: only the delta's partitions are replaced; re-run is idempotent") {
    val path = tmp()
    def table(ps: (String, String, Long)*): DataFrame =
      ps.toSeq.toDF("p", "k", "v")
    val strat = Incremental.InsertOverwrite(Seq("p"))
    Incremental.run(spark, path, strat) { (_, _) =>
      table(("d1", "a", 1L), ("d2", "b", 2L))
    }
    // delta touches only d2 → d1 must survive, d2 fully replaced
    val r2 = Incremental.run(spark, path, strat) { (_, _) =>
      table(("d2", "b", 20L))
    }
    def all(df: DataFrame): Set[(String, String, Long)] =
      df.select("p", "k", "v").as[(String, String, Long)].collect().toSet
    assert(all(r2) === Set(("d1", "a", 1L), ("d2", "b", 20L)))
    // identical re-run → identical table (append would double-count)
    val r3 = Incremental.run(spark, path, strat) { (_, _) =>
      table(("d2", "b", 20L))
    }
    assert(all(r3) === Set(("d1", "a", 1L), ("d2", "b", 20L)))
  }

  private def staging(path: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(path)
    p.resolveSibling("." + p.getFileName + ".staging")
  }

  test("merge: one write job per run, no inference jobs, no pin") {
    val path = tmp()
    val merge = Incremental.Merge(Seq("k"))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (_, first) = jobsDuring(Incremental.run(spark, path, merge) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    })
    assert(first === 1, "first build: the write only")
    val (r2, merged) = jobsDuring(Incremental.run(spark, path, merge) { (_, _) =>
      Seq(("b", 20L), ("c", 3L)).toDF("k", "v")
    })
    // the anti-join's broadcast and the write; no schema-inference job
    // for the existing table or the re-read, no checkpoint job
    assert(merged <= 2, s"merge started $merged jobs")
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(persisted).isEmpty)
    assert(rows(r2) === Set(("a", 1L), ("b", 20L), ("c", 3L)))
  }

  test("the returned table has the schema Spark infers from the files") {
    // Spark-written TIMESTAMP_NTZ keeps its footer type even with NTZ
    // inference off (Tables.bootstrap), so given and inferred agree
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("amt", DecimalType(12, 2)),
      StructField("tags", ArrayType(StringType)),
      StructField("addr", StructType(Seq(
        StructField("city", StringType), StructField("zip", IntegerType))))))
    def frame(rs: Row*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
    def row(k: String, day: String, amt: String) = Row(k, java.sql.Date.valueOf(day),
      java.sql.Timestamp.valueOf(s"$day 10:00:00"),
      java.time.LocalDateTime.parse(s"${day}T10:00:00"),
      new java.math.BigDecimal(amt), Seq(k, "x"), Row("Oslo", 150))
    val path = tmp()
    val merge = Incremental.Merge(Seq("k"))
    var seen: Option[StructType] = None
    val r1 = Incremental.run(spark, path, merge) { (_, _) =>
      frame(row("a", "2024-01-01", "10.50"), row("b", "2024-01-02", "7.25"))
    }
    assert(r1.schema === spark.read.parquet(path).schema)
    val r2 = Incremental.run(spark, path, merge) { (_, existing) =>
      seen = existing.map(_.schema)
      frame(row("b", "2024-02-02", "8.00"))
    }
    val inferred = spark.read.parquet(path).schema
    assert(r2.schema === inferred)
    assert(r2.schema.json === inferred.json)
    assert(seen === Some(inferred), "existing carries the footer schema")
    assert(graft.sources.Tables.footerSchema(spark, path) === Some(inferred))
    assert(graft.sources.Tables.footerSchema(spark,
      java.nio.file.Paths.get(path).getParent.toString) === None, "no part files")
    assert(r2.count() === 2)
    assert(r2.filter($"k" === "b").select("amt").as[java.math.BigDecimal].head()
      .compareTo(new java.math.BigDecimal("8.00")) === 0)
  }

  test("merge leaves no staging directory and removes a stale one") {
    val path = tmp()
    val merge = Incremental.Merge(Seq("k"))
    Incremental.run(spark, path, merge) { (_, _) => Seq(("a", 1L)).toDF("k", "v") }
    // a crashed run's leftover, with a file that would fail the write
    // if it were not removed first
    Files.createDirectories(staging(path))
    Files.write(staging(path).resolve("part-00000-stale.parquet"), Array[Byte](1, 2, 3))
    val r = Incremental.run(spark, path, merge) { (_, _) => Seq(("b", 2L)).toDF("k", "v") }
    assert(!Files.exists(staging(path)))
    assert(rows(r) === Set(("a", 1L), ("b", 2L)))
    val siblings = Files.list(java.nio.file.Paths.get(path).getParent)
    try assert(siblings.count() === 1) finally siblings.close()
  }

  test("a merge whose write fails leaves the previous rows readable") {
    val path = tmp()
    val merge = Incremental.Merge(Seq("k"))
    Incremental.run(spark, path, merge) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    // the key column is fine, so the anti-join succeeds; only the
    // write evaluates `v` and fails
    val e = intercept[Exception] {
      Incremental.run(spark, path, merge) { (_, _) =>
        spark.range(1).select(lit("b").as("k"),
          raise_error(lit("delta broke")).cast("long").as("v"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("delta broke")))
    assert(rows(spark.read.parquet(path)) === Set(("a", 1L), ("b", 2L)))
    assert(!Files.exists(staging(path)))
  }

  test("insert_overwrite releases the delta's pin after the write") {
    val path = tmp()
    val strat = Incremental.InsertOverwrite(Seq("p"))
    Incremental.run(spark, path, strat) { (_, _) =>
      Seq(("d1", "a", 1L), ("d2", "b", 2L)).toDF("p", "k", "v")
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = Incremental.run(spark, path, strat) { (inc, _) =>
      assert(inc); Seq(("d2", "b", 20L)).toDF("p", "k", "v")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(persisted).isEmpty)
    assert(r.select("p", "k", "v").as[(String, String, Long)].collect().toSet ===
      Set(("d1", "a", 1L), ("d2", "b", 20L)))
  }

  test("insert_overwrite refuses an empty partition list") {
    intercept[IllegalArgumentException](Incremental.InsertOverwrite(Nil))
  }

  test("maxWatermark returns the loaded high-water mark (None on all-null)") {
    val df = Seq(1L, 5L, 3L).toDF("ts")
    assert(Incremental.maxWatermark(df, "ts") === Some(5L))
    val empty = df.filter(col("ts") > 100)
    assert(Incremental.maxWatermark(empty, "ts") === None)
  }
}
