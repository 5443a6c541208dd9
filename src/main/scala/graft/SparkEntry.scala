package graft
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.{AdvancedRelationalDemos, CorpusCleanDemos, DedupDemos, EventsDemos, JoinDemos, ModelDemos, MultimodalDemos, RelationalDemos, SamplingDemos, ScaleDemos, SimilarityDemos, StatsDemos, TextDemos}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered demonstrator (SURVEY §2 inventory). */
  private def demos: Seq[RelationalDemos.Demo] =
    RelationalDemos.all ++ AdvancedRelationalDemos.all ++ DedupDemos.all ++ SimilarityDemos.all ++
      TextDemos.all ++ EventsDemos.all ++ MultimodalDemos.all ++ JoinDemos.all ++ StatsDemos.all ++ SamplingDemos.all ++ CorpusCleanDemos.all ++ ModelDemos.all ++ ScaleDemos.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Same shape as the reference's flagship business question (LTV + payment
    * per loan, reference: models/marts/fct_loan_details.sql): fact ⟕
    * broadcast dim with derived rounded metrics.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.table(spark, dir, "lineitem")
    val p = Tables.table(spark, dir, "part")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("p_brand"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_price"),
        when(col("p_retailprice") > 0,
          round(col("l_extendedprice") / col("p_retailprice"), 2))
          .otherwise(lit(null)).as("price_ratio"))
  }

  /** One entry per implemented operator from SURVEY.md §2. Insertion-
    * ordered (ListMap over the declared demo Seq) so consumers that
    * iterate — Bench above all — see a STABLE, declared order: hash-Map
    * iteration made per-round bench diffs noisy and let warmup effects
    * land on a different first query each run.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = demos.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate demo names: ${names.diff(names.distinct).distinct}")
    ListMap(demos.map(d => d.name ->
      ((s: SparkSession, dir: String) => d.build(s, dir, new Checkpoints.Scope))): _*)
  }

  /** Query `name` over `dir`, cut into `cuts`, which the caller closes.
    * [[queries]] cuts into fresh scopes [[BenchProtocol.releaseStorage]]
    * frees between queries.
    */
  def build(name: String, spark: SparkSession, dir: String,
      cuts: Checkpoints.Scope): DataFrame =
    demos.find(_.name == name).getOrElse(throw new NoSuchElementException(
      s"no query named $name")).build(spark, dir, cuts)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    demos.flatMap(d => d.oracle.map(sql => d.name -> sql.trim)).toMap
}
