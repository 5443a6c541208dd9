package graft.models

import graft.{Checkpoints, SparkSpec}

/** dbt 1.8 unit tests: YAML parse (SchemaConfig.unitTests) and the
  * fixture-driven runner (UnitTests.run) — pass, fail-with-diff, input
  * isolation, and the two fixture-typing modes (template-cast vs
  * literal-inferred).
  */
class UnitTestsSpec extends SparkSpec {

  // every diff UnitTests.run returns is cut here; released after the suite
  private val cuts = new Checkpoints.Scope

  override def afterAll(): Unit = try cuts.close() finally super.afterAll()

  private val models = Seq(
    SqlDag.SqlModel("stg_loans",
      "select loan_id, amount from {{ source('raw', 'loans') }} " +
        "where amount > 0"),
    SqlDag.SqlModel("loan_rollup",
      "select grade, count(*) as n, sum(amount) as total " +
        "from {{ ref('graded') }} group by grade"))

  private val yaml = """
unit_tests:
  - name: rollup_groups_and_sums
    model: loan_rollup
    given:
      - input: ref('graded')
        rows:
          - {grade: A, amount: 10.0}
          - {grade: A, amount: 5.0}
          - {grade: B, amount: 1.0}
    expect:
      rows:
        - {grade: A, n: 2, total: 15.0}
        - {grade: B, n: 1, total: 1.0}
  - name: staging_filters_nonpositive
    model: stg_loans
    given:
      - input: source('raw', 'loans')
        rows:
          - {loan_id: 1, amount: 10.0}
          - {loan_id: 2, amount: -3.0}
    expect:
      rows:
        - {loan_id: 1, amount: 10.0}
"""

  test("unit_tests parse: names, resolved inputs (ref and source), literal rows") {
    val ts = SchemaConfig.unitTests(yaml)
    assert(ts.map(_.name) ===
      Seq("rollup_groups_and_sums", "staging_filters_nonpositive"))
    assert(ts.head.model === "loan_rollup")
    assert(ts.head.given.head._1 === "graded")
    assert(ts.head.given.head._2 === SchemaConfig.Fixture.Rows(Seq(
      Map("grade" -> "A", "amount" -> 10.0),
      Map("grade" -> "A", "amount" -> 5.0),
      Map("grade" -> "B", "amount" -> 1.0))))
    // source('raw','loans') resolves to the registered view name the
    // compiled SQL will actually read
    assert(ts(1).given.head._1 === SqlDag.sourceViewName("raw", "loans"))
    assert(ts(1).expect === SchemaConfig.Fixture.Rows(Seq(
      Map("loan_id" -> 1L, "amount" -> 10.0))))
    // a yaml without the block parses to empty, not an error
    assert(SchemaConfig.unitTests("models: []") === Seq.empty)
  }

  test("runner: passing tests yield empty diffs over ref AND source fixtures") {
    val results = UnitTests.runAll(spark, SchemaConfig.unitTests(yaml), models)
    assert(results === Seq(
      "rollup_groups_and_sums" -> 0L, "staging_filters_nonpositive" -> 0L))
  }

  test("runner: a failing expectation returns the tagged symmetric diff") {
    val bad = SchemaConfig.unitTests(yaml.replace(
      "- {grade: B, n: 1, total: 1.0}", "- {grade: B, n: 2, total: 9.0}"))
    val diff = UnitTests.run(spark, bad.head, models, cuts)
    val rows = diff.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(rows === Set(
      ("B", 1L, 1.0, "actual"),     // produced but not expected
      ("B", 2L, 9.0, "expected")))  // expected but not produced
  }

  test("runner isolation: missing fixtures, unread fixtures, unknown models fail fast") {
    val ts = SchemaConfig.unitTests(yaml)
    // a model input with no given fixture: refuse (dbt's isolation rule)
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, ts.head.copy(given = Nil), models, cuts)
    }.getMessage.contains("no `given` fixture: graded"))
    // a given input the model never reads: a typo must not no-op
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, ts.head.copy(given =
        ts.head.given :+ ("phantom" -> SchemaConfig.Fixture.Rows(
          Seq(Map[String, Any]("x" -> 1L))))), models, cuts)
    }.getMessage.contains("never reads: phantom"))
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, ts.head.copy(model = "nope"), models, cuts)
    }.getMessage.contains("unknown model 'nope'"))
    // fixtures register under mangled names and are dropped afterwards
    assert(!spark.catalog.tableExists("graded"))
  }

  test("fixture typing: template relation casts literals and fills unlisted columns with NULL") {
    val s = spark
    import s.implicits._
    // the real relation types loaded_on as DATE; the fixture spells it
    // as a YAML string and omits note entirely
    val real = Seq((1L, "2024-01-05", "x"))
      .toDF("loan_id", "loaded_on", "note")
      .select(org.apache.spark.sql.functions.col("loan_id"),
        org.apache.spark.sql.functions.col("loaded_on").cast("date"),
        org.apache.spark.sql.functions.col("note"))
    val m = Seq(SqlDag.SqlModel("dated",
      "select loan_id, loaded_on + interval 1 day as next_day, note " +
        "from {{ ref('raw_loans') }}"))
    val t = SchemaConfig.UnitTest("dates", "dated",
      given = Seq("raw_loans" -> SchemaConfig.Fixture.Rows(
        Seq(Map[String, Any]("loan_id" -> 7L, "loaded_on" -> "2024-02-28")))),
      expect = SchemaConfig.Fixture.Rows(Seq(Map[String, Any]("loan_id" -> 7L,
        "next_day" -> "2024-02-29", "note" -> null))))
    assert(UnitTests.run(spark, t, m, cuts,
      inputFrames = Map("raw_loans" -> real)).count() === 0L)
    // without the template, a date-string literal stays a string and the
    // all-NULL column cannot be typed — fail fast with the remedy named
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, t.copy(given = Seq("raw_loans" ->
        SchemaConfig.Fixture.Rows(Seq(
          Map[String, Any]("loan_id" -> 7L, "loaded_on" -> null))))), m, cuts)
    }.getMessage.contains("inputFrames"))
  }

  test("fixture typing: literal inference widens long+double, rejects mixed types") {
    val m = Seq(SqlDag.SqlModel("sums",
      "select sum(v) as s from {{ ref('vals') }}"))
    val widened = SchemaConfig.UnitTest("widen", "sums",
      given = Seq("vals" -> SchemaConfig.Fixture.Rows(Seq(
        Map[String, Any]("v" -> 1L), Map[String, Any]("v" -> 2.5)))),
      expect = SchemaConfig.Fixture.Rows(Seq(Map[String, Any]("s" -> 3.5))))
    assert(UnitTests.run(spark, widened, m, cuts).count() === 0L)
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, widened.copy(given = Seq("vals" ->
        SchemaConfig.Fixture.Rows(Seq(
          Map[String, Any]("v" -> 1L), Map[String, Any]("v" -> "x"))))), m, cuts)
    }.getMessage.contains("mixed literal types"))
  }

  test("format csv: parses, casts per template with NULL backfill, and infers without one") {
    val s = spark
    import s.implicits._
    val yaml = """
unit_tests:
  - name: rollup_from_csv
    model: loan_rollup
    given:
      - input: ref('graded')
        format: csv
        rows: |
          grade,amount
          A,10.0
          A,5.0
          B,1.0
    expect:
      format: csv
      rows: |
        grade,n,total
        A,2,15.0
        B,1,1.0
"""
    val ts = SchemaConfig.unitTests(yaml)
    assert(ts.head.given.head._2.isInstanceOf[SchemaConfig.Fixture.Csv])
    assert(UnitTests.runAll(spark, ts, models) === Seq("rollup_from_csv" -> 0L))
    // template path: loaded_on spelled as CSV text casts to the real
    // relation's DATE, the omitted note column backfills as typed NULL,
    // and an empty cell is NULL (dbt's CSV fixture semantics)
    val real = Seq((1L, "2024-01-05", "x"))
      .toDF("loan_id", "loaded_on", "note")
      .select($"loan_id", $"loaded_on".cast("date"), $"note")
    val m = Seq(SqlDag.SqlModel("dated",
      "select loan_id, loaded_on + interval 1 day as next_day, note " +
        "from {{ ref('raw_loans') }}"))
    val t = SchemaConfig.UnitTest("dates_csv", "dated",
      given = Seq("raw_loans" -> SchemaConfig.Fixture.Csv(
        "loan_id,loaded_on\n7,2024-02-28\n8,")),
      expect = SchemaConfig.Fixture.Rows(Seq(
        Map[String, Any]("loan_id" -> 7L, "next_day" -> "2024-02-29",
          "note" -> null),
        Map[String, Any]("loan_id" -> 8L, "next_day" -> null,
          "note" -> null))))
    assert(UnitTests.run(spark, t, m, cuts,
      inputFrames = Map("raw_loans" -> real)).count() === 0L)
    // a CSV column the relation lacks fails fast like a dict key would
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, t.copy(given = Seq("raw_loans" ->
        SchemaConfig.Fixture.Csv("loan_id,phantom\n7,x"))), m, cuts,
        inputFrames = Map("raw_loans" -> real))
    }.getMessage.contains("'phantom' does not exist"))
    // a quoted field spanning lines cannot survive line-per-record
    // parsing: fail fast with the format-sql remedy instead of silently
    // restructuring the fixture into garbage rows (r13 advice) — an
    // unterminated quote is the same hazard
    for (broken <- Seq("loan_id,note\n7,\"line one\nline two\"",
      "loan_id,note\n7,\"unterminated"))
      assert(intercept[IllegalArgumentException] {
        UnitTests.run(spark, t.copy(given = Seq("raw_loans" ->
          SchemaConfig.Fixture.Csv(broken))), m, cuts,
          inputFrames = Map("raw_loans" -> real))
      }.getMessage.contains("format: sql"))
  }

  test("format sql: typed fixtures run as-is, including non-atomic columns") {
    val s = spark
    import s.implicits._
    // the model reads an ARRAY column — dict/csv literals can't spell
    // it, a SQL fixture can
    val real = Seq((1L, Seq(1.0, 2.0))).toDF("doc_id", "vec")
    val m = Seq(SqlDag.SqlModel("vec_norm",
      "select doc_id, aggregate(vec, cast(0.0 as double), (a, x) -> a + x * x) " +
        "as sq from {{ ref('vectors') }}"))
    val t = SchemaConfig.UnitTest("sql_fixture", "vec_norm",
      given = Seq("vectors" -> SchemaConfig.Fixture.Sql(
        "select 7 as doc_id, array(3.0, 4.0) as vec")),
      expect = SchemaConfig.Fixture.Sql("select 7 as doc_id, 25.0 as sq"))
    assert(UnitTests.run(spark, t, m, cuts,
      inputFrames = Map("vectors" -> real)).count() === 0L)
    // same fixture as dict: the non-atomic template column must fail
    // fast (a string cast to array yields NULL SILENTLY — r12 advice),
    // with the sql-format remedy named
    val asDict = t.copy(given = Seq("vectors" -> SchemaConfig.Fixture.Rows(
      Seq(Map[String, Any]("doc_id" -> 7L, "vec" -> "[3.0, 4.0]")))))
    assert(intercept[IllegalArgumentException] {
      UnitTests.run(spark, asDict, m, cuts, inputFrames = Map("vectors" -> real))
    }.getMessage.contains("non-atomic type"))
    // omitting the complex column stays legal: intentional typed NULL
    val omitted = t.copy(
      given = Seq("vectors" -> SchemaConfig.Fixture.Rows(
        Seq(Map[String, Any]("doc_id" -> 7L)))),
      expect = SchemaConfig.Fixture.Sql(
        "select 7 as doc_id, cast(null as double) as sq"))
    assert(UnitTests.run(spark, omitted, m, cuts,
      inputFrames = Map("vectors" -> real)).count() === 0L)
  }

  test("fixture parse guards: unknown format, fixture file refs, malformed blocks fail fast") {
    def bad(yaml: String) =
      intercept[IllegalArgumentException] { SchemaConfig.unitTests(yaml) }
        .getMessage
    val base = """
unit_tests:
  - name: t
    model: m
    given:
      - input: ref('x')
        %s
    expect:
      rows: []
"""
    assert(bad(base.format("format: tsv\n        rows: []"))
      .contains("unknown fixture format 'tsv'"))
    assert(bad(base.format("format: csv\n        fixture: my_file"))
      .contains("`fixture:` file refs are not supported"))
    // csv needs a TEXT block, not a list; sql needs `sql`
    assert(bad(base.format("format: csv\n        rows: []"))
      .contains("inline CSV text block"))
    assert(bad(base.format("format: sql\n        rows: []"))
      .contains("needs `sql`"))
  }
}
