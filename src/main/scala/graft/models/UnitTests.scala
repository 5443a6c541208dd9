package graft.models

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** dbt 1.8 unit tests (`unit_tests:` YAML, [[SchemaConfig.unitTests]]):
  * given a fixture for each of a model's `ref()`/`source()` inputs —
  * literal dict rows, an inline CSV block, or a standalone SQL select
  * ([[SchemaConfig.Fixture]]) — run the model's COMPILED SQL over them
  * and compare against the expected rows — dbt's build-time logic test,
  * as opposed to the data tests of [[GenericTests]] (which gate what's
  * IN the warehouse, not what the SQL does).
  *
  * Execution contract mirrors [[GenericTests]]: [[run]] returns a
  * MUST-BE-EMPTY diff frame — the multiset symmetric difference between
  * actual and expected rows, each tagged `__graft_side` (`actual` = row
  * produced but not expected, `expected` = row expected but not
  * produced) — so a failure's frame IS the diagnostic.
  *
  * Fixture typing follows dbt: when the tested model's real input
  * relation is available (pass `inputFrames`, e.g. the seeds map or a
  * prior run's relations), fixture literals are CAST to that relation's
  * column types and unlisted columns materialize as typed NULLs — a
  * fixture never has to spell every column (dbt fills the rest with
  * NULL). Without a real relation, types are inferred from the literals
  * themselves (long / double / boolean / string), and every column the
  * model reads must appear in some fixture row.
  *
  * Expected rows are compared AFTER casting to the model output's
  * actual schema (dbt's behavior — `expect` literals are authored
  * untyped in YAML).
  *
  * Scale: unit tests run on literal local relations — a handful of rows
  * by design; no corpus scan, no shuffle beyond the model SQL's own
  * plan over those rows. The point is CI logic coverage, paid once per
  * model edit, not a data path.
  */
object UnitTests {

  /** Run one unit test. `models` must contain the tested model; its
    * Jinja renders through the same pipeline as [[SqlDag.run]] (macros,
    * vars, control flow), then each `ref()`/`source()` span resolves to
    * the matching fixture. Every input the compiled SQL reads MUST have
    * a `given` entry — dbt's isolation rule (a unit test that silently
    * read a real table would not be a unit test) — and unknown `given`
    * inputs fail fast (a typo'd input name must never silently no-op).
    * The diff is cut into `cuts`, which the caller closes.
    */
  def run(spark: SparkSession, test: SchemaConfig.UnitTest,
      models: Seq[SqlDag.SqlModel], cuts: graft.Checkpoints.Scope,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      inputFrames: Map[String, DataFrame] = Map.empty): DataFrame = {
    val model = models.find(_.name == test.model).getOrElse(
      throw new IllegalArgumentException(
        s"unit test ${test.name}: unknown model '${test.model}' " +
          s"(known: ${models.map(_.name).sorted.mkString(", ")})"))
    val rendered = JinjaMacros.renderModel(model.jinjaSql, macros, vars = vars)
    // the compiled SQL's input set, resolved like SqlDag.run resolves it
    val refs = SqlDag.RefPattern.findAllMatchIn(rendered)
      .map(_.group(1)).toSet
    val srcs = SqlDag.SourcePattern.findAllMatchIn(rendered)
      .map(m => SqlDag.sourceViewName(m.group(1), m.group(2))).toSet
    val needed = refs ++ srcs
    val givenMap = test.given.toMap
    require(test.given.map(_._1).distinct.size == test.given.size,
      s"unit test ${test.name}: duplicate given inputs")
    val missing = needed.diff(givenMap.keySet)
    require(missing.isEmpty,
      s"unit test ${test.name}: model reads inputs with no `given` " +
        s"fixture: ${missing.toSeq.sorted.mkString(", ")}")
    val unknown = givenMap.keySet.diff(needed)
    require(unknown.isEmpty,
      s"unit test ${test.name}: given inputs the model never reads: " +
        unknown.toSeq.sorted.mkString(", "))
    // fixtures register under MANGLED names — a unit test must never
    // overwrite a real relation of the shared session
    val fixtureNames = needed.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> s"__graft_ut_${i}_$n" }.toMap
    fixtureNames.foreach { case (input, view) =>
      fixtureFrame(spark, givenMap(input), inputFrames.get(input),
        s"${test.name} given $input").createOrReplaceTempView(view)
    }
    try {
      val inlined = SqlDag.SourcePattern.replaceAllIn(
        SqlDag.RefPattern.replaceAllIn(rendered,
          m => fixtureNames(m.group(1))),
        m => fixtureNames(SqlDag.sourceViewName(m.group(1), m.group(2))))
      val actual = spark.sql(inlined)
      // expected literals cast to the model's ACTUAL output schema
      val expected = fixtureFrame(spark, test.expect, Some(actual),
        s"${test.name} expect")
        .select(actual.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
      import org.apache.spark.sql.functions.lit
      // the diff must survive the fixture-view cleanup in finally: the
      // cut ends the plan's dependence on the temp views
      cuts.cut(actual.exceptAll(expected).withColumn("__graft_side", lit("actual"))
        .unionByName(
          expected.exceptAll(actual).withColumn("__graft_side", lit("expected"))))
    } finally fixtureNames.values.foreach(spark.catalog.dropTempView(_))
  }

  /** `dbt test` over the unit suite: name → diff-row count (0 = pass). */
  def runAll(spark: SparkSession, tests: Seq[SchemaConfig.UnitTest],
      models: Seq[SqlDag.SqlModel],
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      inputFrames: Map[String, DataFrame] = Map.empty): Seq[(String, Long)] =
    graft.Checkpoints.scoped { cuts =>
      tests.map(t =>
        t.name -> run(spark, t, models, cuts, macros, vars, inputFrames).count())
    }

  /** One [[SchemaConfig.Fixture]] → a typed local DataFrame, per its
    * format: dict rows ([[rowsFrame]]), an inline CSV block
    * ([[csvFrame]]), or a standalone SQL select (typed columns straight
    * from the engine — dbt's escape hatch for values literals can't
    * spell; with a template its columns conform the same way).
    */
  private def fixtureFrame(spark: SparkSession, fixture: SchemaConfig.Fixture,
      template: Option[DataFrame], where: String): DataFrame = fixture match {
    case SchemaConfig.Fixture.Rows(rows) =>
      rowsFrame(spark, rows, template, where)
    case SchemaConfig.Fixture.Csv(text) =>
      csvFrame(spark, text, template, where)
    case SchemaConfig.Fixture.Sql(sql) =>
      val df = spark.sql(sql)
      template.fold(df)(t =>
        castToTemplate(df, t.schema, where, stringSourced = false))
  }

  /** Conform a fixture frame to the template relation's schema: every
    * provided column must exist on the relation; provided columns CAST
    * to the relation's types, unlisted columns materialize as typed
    * NULLs (dbt's backfill). `stringSourced` marks fixtures whose values
    * arrive as strings (dict/csv): Spark casts a string to a non-atomic
    * type (array/map/struct/binary) as silent NULL, so a string-sourced
    * value for such a column would become a typed NULL instead of the
    * literal — fail fast with the remedy named, like the other
    * unsupported-literal paths (r12 advice). SQL fixtures produce typed
    * columns whose complex values cast faithfully, so they pass.
    */
  private def castToTemplate(untyped: DataFrame, schema: StructType,
      where: String, stringSourced: Boolean): DataFrame = {
    val known = schema.fieldNames.toSet
    untyped.columns.foreach(k => require(known.contains(k),
      s"$where: column '$k' does not exist on the relation " +
        s"(has: ${schema.fieldNames.sorted.mkString(", ")})"))
    val provided = untyped.columns.toSet
    if (stringSourced) schema.filter(f => provided.contains(f.name)).foreach { f =>
      val atomic = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType => false
        case _ => true
      }
      require(atomic,
        s"$where: column '${f.name}' has non-atomic type ${f.dataType.sql} " +
          "— dict/csv fixture literals cannot express it (a string cast " +
          "yields NULL silently); omit the column (it becomes a typed " +
          "NULL) or use a `format: sql` fixture")
    }
    untyped.select(schema.map(f =>
      (if (provided.contains(f.name))
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType))
        .as(f.name)): _*)
  }

  /** Inline-CSV fixture → frame, through Spark's real CSV reader (the
    * header row names the columns; an empty cell is NULL). With a
    * template the parsed strings cast per the relation's types and
    * unlisted columns NULL-backfill exactly like dict rows; without one
    * Spark's CSV schema inference types the literals.
    */
  private def csvFrame(spark: SparkSession, text: String,
      template: Option[DataFrame], where: String): DataFrame = {
    // the fixture is handed to Spark's CSV reader one LINE per record,
    // so a quoted field with an embedded newline cannot survive the
    // split — fail fast with the remedy instead of silently parsing
    // restructured rows (an unterminated quote at end-of-text is the
    // same hazard spelled differently)
    val inQuotesAtNewline = {
      var inQ = false; var hit = false
      text.foreach { c =>
        if (c == '"') inQ = !inQ
        else if (c == '\n' && inQ) hit = true
      }
      hit || inQ
    }
    require(!inQuotesAtNewline,
      s"$where: csv fixture has a quoted field spanning lines (or an " +
        "unterminated quote) — line-per-record parsing cannot express " +
        "it; use a `format: sql` fixture for multi-line values")
    val lines = text.linesIterator.filter(_.trim.nonEmpty).toSeq
    require(lines.nonEmpty, s"$where: empty CSV block — need a header line")
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    template match {
      case Some(t) =>
        castToTemplate(spark.read.option("header", true).csv(ds),
          t.schema, where, stringSourced = true)
      case None =>
        spark.read.option("header", true).option("inferSchema", true).csv(ds)
    }
  }

  /** Literal row maps → a typed local DataFrame. With a `template`
    * relation its schema gives every column's type (and the full column
    * set — unlisted columns become typed NULLs); without one, types are
    * inferred from the literals (long / double / boolean / string;
    * long+double widens to double), and an all-NULL column fails fast.
    */
  private def rowsFrame(spark: SparkSession, rows: Seq[Map[String, Any]],
      template: Option[DataFrame], where: String): DataFrame = template match {
    case Some(t) =>
      // literals load untyped (strings) under the PROVIDED column set,
      // then conform to the template — dbt's fixture semantics (YAML
      // scalars against catalog types, NULL backfill for the rest)
      val provided = rows.flatMap(_.keys).distinct
      val untypedSchema = StructType(provided.map(c =>
        StructField(c, StringType, nullable = true)))
      val data = rows.map(r => Row.fromSeq(provided.map(c =>
        r.get(c).flatMap(Option(_)).map(_.toString).orNull)))
      val untyped = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(data).asJava), untypedSchema)
      castToTemplate(untyped, t.schema, where, stringSourced = true)
    case None =>
      require(rows.nonEmpty,
        s"$where: cannot infer a schema from zero rows — pass the real " +
          "relation via inputFrames, or give at least one row")
      val cols = rows.flatMap(_.keys).distinct
      val schema = StructType(cols.map { c =>
        val vs = rows.flatMap(_.get(c)).filter(_ != null)
        require(vs.nonEmpty,
          s"$where: column '$c' is NULL in every row — its type cannot " +
            "be inferred; pass the real relation via inputFrames")
        val tpe = vs.map {
          case _: java.lang.Long | _: java.lang.Integer => LongType: DataType
          case _: java.lang.Double => DoubleType
          case _: java.lang.Boolean => BooleanType
          case _: String => StringType
          case other => throw new IllegalArgumentException(
            s"$where.$c: unsupported fixture literal $other")
        }.reduce[DataType] {
          case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
          case (a, b) if a == b => a
          case (a, b) => throw new IllegalArgumentException(
            s"$where.$c: mixed literal types $a vs $b")
        }
        StructField(c, tpe, nullable = true)
      })
      val data = rows.map(r => Row.fromSeq(schema.map { f =>
        r.get(f.name).flatMap(Option(_)) match {
          case None => null
          case Some(v: java.lang.Integer) if f.dataType == LongType =>
            v.longValue()
          case Some(v: java.lang.Long) if f.dataType == DoubleType =>
            v.doubleValue()
          case Some(v: java.lang.Integer) if f.dataType == DoubleType =>
            v.doubleValue()
          case Some(v) => v
        }
      }))
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(data).asJava), schema)
  }
}
