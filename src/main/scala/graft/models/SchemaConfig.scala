package graft.models

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** dbt `schema.yml` test configuration, parsed into [[GenericTests]]
  * (reference: dbt_project.yml:8 configures `test-paths`; dbt's standard
  * authoring surface binds generic tests declaratively in YAML next to
  * the models). With this, an all-SQL user authors models as text
  * ([[SqlDag]]) AND tests as text — no Scala anywhere:
  *
  * {{{
  * version: 2
  * models:
  *   - name: stg_loans
  *     columns:
  *       - name: loan_id
  *         tests:
  *           - unique
  *           - not_null
  *       - name: loan_type_id
  *         tests:
  *           - accepted_values:
  *               values: [1, 2, 3]
  *           - relationships:
  *               to: ref('loan_types')
  *               field: loan_type_id
  * }}}
  *
  * Supported generic tests are dbt's four built-ins, mapped 1:1 onto
  * [[GenericTests]]; test names follow dbt's `<test>_<model>_<column>`
  * convention so reports read identically. Unknown test names, missing
  * fields, and malformed YAML fail fast at parse time — a typo'd test
  * must never silently not-run.
  *
  * Scale: parsing is driver-side metadata only; each produced test is
  * one bounded Spark job (see [[GenericTests]] scale notes).
  */
object SchemaConfig {

  private val mapper = new ObjectMapper(new YAMLFactory)

  /** Parse schema.yml text into named data tests. `relationships.to`
    * accepts `ref('name')` (resolved against the built relations at run
    * time) or a bare relation name.
    */
  def tests(yamlText: String): Seq[GenericTests.DataTest] = {
    val root = mapper.readTree(yamlText)
    val models = Option(root.get("models"))
      .getOrElse(throw new IllegalArgumentException(
        "schema config has no `models` key"))
    require(models.isArray, "`models` must be a list")
    models.elements.asScala.flatMap { m =>
      val model = reqText(m, "name", "model")
      Option(m.get("columns")).toSeq.flatMap(_.elements.asScala).flatMap { c =>
        val column = reqText(c, "name", s"column of model $model")
        Option(c.get("tests")).toSeq.flatMap(_.elements.asScala).map { t =>
          toTest(model, column, t)
        }
      }
    }.toSeq
  }

  /** One test node: either a bare scalar (`- unique`) or a one-key map
    * with arguments (`- accepted_values: {values: [...]}`).
    */
  private def toTest(model: String, column: String,
      node: JsonNode): GenericTests.DataTest = {
    val (kind, args): (String, JsonNode) =
      if (node.isTextual) (node.asText, mapper.createObjectNode())
      else {
        val fields = node.properties.asScala.toSeq
        require(fields.size == 1,
          s"test entry on $model.$column must be one scalar or one single-key map, got: $node")
        (fields.head.getKey, fields.head.getValue)
      }
    def rel(built: Map[String, org.apache.spark.sql.DataFrame], name: String) =
      built.getOrElse(name, throw new IllegalArgumentException(
        s"test on $model.$column references unknown relation: $name"))
    val config = testConfigOf(args, s"$model.$column")
    // dbt's `where` config filters the TESTED relation (dbt wraps the
    // model in a WHERE subquery before the test SQL); the relationships
    // PARENT is never filtered — dbt's semantics too
    def tested(built: Map[String, org.apache.spark.sql.DataFrame]) =
      config.where.fold(rel(built, model))(rel(built, model).where(_))
    kind match {
      case "unique" => GenericTests.DataTest(s"unique_${model}_$column",
        built => GenericTests.unique(tested(built), column), config)
      case "not_null" => GenericTests.DataTest(s"not_null_${model}_$column",
        built => GenericTests.notNull(tested(built), column), config)
      case "accepted_values" =>
        val vn = Option(args.get("values")).getOrElse(
          throw new IllegalArgumentException(
            s"accepted_values on $model.$column needs `values`"))
        require(vn.isArray, s"accepted_values.values on $model.$column must be a list")
        val values: Seq[Any] = vn.elements.asScala.map(scalar(_,
          s"accepted_values value on $model.$column")).toSeq
        GenericTests.DataTest(s"accepted_values_${model}_$column",
          built => GenericTests.acceptedValues(tested(built), column, values),
          config)
      case "relationships" =>
        val to = refName(reqText(args, "to", s"relationships on $model.$column"))
        val field = reqText(args, "field", s"relationships on $model.$column")
        GenericTests.DataTest(s"relationships_${model}_$column",
          built => GenericTests.relationships(tested(built), column,
            rel(built, to), field), config)
      case other => throw new IllegalArgumentException(
        s"unknown generic test `$other` on $model.$column " +
          "(supported: unique, not_null, accepted_values, relationships)")
    }
  }

  /** dbt's test `config:` block — `severity`, `warn_if`/`error_if`
    * thresholds, `store_failures`, `where`, `limit` — parsed off a
    * test's argument node.
    * dbt also accepts these keys INLINE next to the test's own arguments
    * (the pre-`config:` syntax, still common in migrating projects);
    * both spellings are read, `config:` winning on a clash. Validation
    * is [[GenericTests.TestConfig]]'s, re-thrown with the test's
    * location named.
    */
  private def testConfigOf(args: JsonNode,
      where: String): GenericTests.TestConfig = {
    val cfg = Option(args.get("config"))
    def key(k: String): Option[JsonNode] =
      cfg.flatMap(c => Option(c.get(k))).orElse(Option(args.get(k)))
    def text(k: String): Option[String] = key(k).map { n =>
      require(n.isTextual, s"test config `$k` on $where must be a string")
      n.asText
    }
    val store = key("store_failures").map { n =>
      require(n.isBoolean, s"test config `store_failures` on $where must " +
        "be a boolean")
      n.asBoolean
    }
    val limit = key("limit").map { n =>
      require(n.isInt, s"test config `limit` on $where must be an integer")
      n.asInt
    }
    val default = GenericTests.TestConfig()
    try GenericTests.TestConfig(
      severity = text("severity").getOrElse(default.severity),
      warnIf = text("warn_if").getOrElse(default.warnIf),
      errorIf = text("error_if").getOrElse(default.errorIf),
      storeFailures = store.getOrElse(default.storeFailures),
      where = text("where"),
      limit = limit)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"test config on $where: ${e.getMessage}")
    }
  }

  /** One dbt exposure (dbt docs: exposures — a named downstream use of
    * the DAG, declared in schema.yml, selectable as `exposure:name`).
    * `dependsOn` holds resolved relation names (the YAML writes
    * `ref('x')`).
    */
  final case class Exposure(name: String, exposureType: String,
      dependsOn: Seq[String], ownerName: Option[String],
      ownerEmail: Option[String], url: Option[String],
      maturity: Option[String], description: Option[String])

  /** dbt's closed exposure-type vocabulary. */
  private val ExposureTypes =
    Set("dashboard", "notebook", "analysis", "ml", "application")
  private val Maturities = Set("high", "medium", "low")
  private val IdentifierPattern = "^[A-Za-z0-9_]+$".r

  /** Parse the `exposures:` block of a schema.yml. A file without one
    * yields Nil (most schema.yml files carry only models). Validation
    * is dbt's: `name` (identifier), `type` (one of dbt's five), a
    * non-empty `depends_on` of `ref(...)` entries, and an `owner` with
    * at least one of `name`/`email`; `maturity`, when present, must be
    * high/medium/low. Unknown extra keys (`meta`, `tags`, …) are
    * ignored, as dbt ignores what it does not model. Every violation
    * fails fast — an exposure that silently drops a dependency would
    * select the wrong sub-DAG in `+exposure:` runs.
    */
  def exposures(yamlText: String): Seq[Exposure] = {
    val root = mapper.readTree(yamlText)
    Option(root.get("exposures")).toSeq.flatMap { list =>
      require(list.isArray, "`exposures` must be a list")
      list.elements.asScala.map { e =>
        val name = reqText(e, "name", "exposure")
        require(IdentifierPattern.matches(name),
          s"exposure name '$name' must be [A-Za-z0-9_]+")
        val tpe = reqText(e, "type", s"exposure $name")
        require(ExposureTypes(tpe),
          s"exposure $name: unknown type '$tpe' " +
            s"(dbt's: ${ExposureTypes.toSeq.sorted.mkString(", ")})")
        val depsNode = Option(e.get("depends_on")).getOrElse(
          throw new IllegalArgumentException(
            s"exposure $name needs `depends_on`"))
        require(depsNode.isArray && depsNode.size > 0,
          s"exposure $name: `depends_on` must be a non-empty list")
        val deps = depsNode.elements.asScala.map { d =>
          require(d.isTextual,
            s"exposure $name: depends_on entries must be ref(...) strings")
          refName(d.asText)
        }.toSeq
        val owner = Option(e.get("owner")).getOrElse(
          throw new IllegalArgumentException(s"exposure $name needs `owner`"))
        val oName = Option(owner.get("name")).filter(_.isTextual).map(_.asText)
        val oMail = Option(owner.get("email")).filter(_.isTextual).map(_.asText)
        require(oName.nonEmpty || oMail.nonEmpty,
          s"exposure $name: owner needs `name` or `email`")
        val maturity =
          Option(e.get("maturity")).filter(_.isTextual).map(_.asText)
        maturity.foreach(m => require(Maturities(m),
          s"exposure $name: maturity must be high/medium/low, got '$m'"))
        Exposure(name, tpe, deps, oName, oMail,
          url = Option(e.get("url")).filter(_.isTextual).map(_.asText),
          maturity = maturity,
          description =
            Option(e.get("description")).filter(_.isTextual).map(_.asText))
      }.toSeq
    }
  }

  /** One node of a selectors.yml definition — dbt's named-selection
    * grammar: a selection TOKEN (the full graph-operator syntax
    * [[SqlDag.selectModels]] already speaks: `model+`, `tag:nightly`,
    * `state:modified`, …) or a composition over child definitions.
    * `Exclude` is only legal INSIDE a union/intersection (dbt: the
    * exclude element removes resources from the set its siblings
    * build); the parser refuses it at top level.
    */
  sealed trait SelectorDef
  object SelectorDef {
    final case class Token(token: String) extends SelectorDef
    final case class Union(of: Seq[SelectorDef]) extends SelectorDef
    final case class Intersection(of: Seq[SelectorDef]) extends SelectorDef
    final case class Exclude(of: Seq[SelectorDef]) extends SelectorDef
  }

  /** One named selection from selectors.yml (`dbt run --selector name`). */
  final case class NamedSelector(name: String, isDefault: Boolean,
      definition: SelectorDef, description: Option[String])

  /** dbt's selector method vocabulary as this engine supports it —
    * each maps onto a token the selection grammar already resolves.
    * `fqn` is dbt's bare-name method (the value IS the token).
    */
  private val SelectorMethods =
    Set("fqn", "tag", "source", "exposure", "state", "analysis")

  /** Parse selectors.yml (dbt's named-selection file). Closed
    * vocabulary at every level — an unknown key is refused, not
    * ignored: a selectors.yml typo (`methods:`, `defualt:`) silently
    * selecting the wrong sub-DAG is exactly the hazard named selections
    * exist to prevent. Shapes per dbt:
    *
    * {{{
    * selectors:
    *   - name: nightly
    *     default: true
    *     definition:
    *       union:
    *         - stg_loans+
    *         - method: tag
    *           value: nightly
    *         - exclude:
    *             - method: tag
    *               value: deprecated
    * }}}
    *
    * A definition node is a STRING (full operator syntax), a
    * `method`/`value` map (optional `parents`/`children`/
    * `childrens_parents` booleans → the `+`/`@` operators), or a
    * one-key `union:`/`intersection:`/`exclude:` map over a non-empty
    * list of child definitions. At most one selector may set
    * `default: true`; names must be unique identifiers.
    */
  def selectors(yamlText: String): Seq[NamedSelector] = {
    val root = mapper.readTree(yamlText)
    val list = Option(root.get("selectors")).getOrElse(
      throw new IllegalArgumentException("selectors.yml has no `selectors` key"))
    require(list.isArray && list.size > 0,
      "`selectors` must be a non-empty list")
    val out = list.elements.asScala.map { s =>
      val name = reqText(s, "name", "selector")
      require(IdentifierPattern.matches(name),
        s"selector name '$name' must be [A-Za-z0-9_]+")
      val knownKeys = Set("name", "description", "default", "definition")
      val unknown = s.properties.asScala.map(_.getKey).filterNot(knownKeys)
      require(unknown.isEmpty,
        s"selector $name: unknown keys ${unknown.mkString(", ")} " +
          s"(allowed: ${knownKeys.toSeq.sorted.mkString(", ")})")
      val defNode = Option(s.get("definition")).getOrElse(
        throw new IllegalArgumentException(s"selector $name needs `definition`"))
      val isDefault = Option(s.get("default")).map { d =>
        require(d.isBoolean, s"selector $name: `default` must be a boolean")
        d.asBoolean
      }.getOrElse(false)
      val d = selectorDef(defNode, s"selector $name")
      require(!d.isInstanceOf[SelectorDef.Exclude],
        s"selector $name: `exclude` cannot be the whole definition — " +
          "it removes from what its union/intersection siblings select")
      NamedSelector(name, isDefault, d,
        Option(s.get("description")).filter(_.isTextual).map(_.asText))
    }.toSeq
    val dup = out.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dup.isEmpty, s"duplicate selector names: ${dup.mkString(", ")}")
    require(out.count(_.isDefault) <= 1,
      s"multiple selectors claim default: true: " +
        out.filter(_.isDefault).map(_.name).mkString(", "))
    out
  }

  /** The selector a run should use: the named one when `name` is given
    * (unknown names fail fast — dbt errors on `--selector typo`), else
    * the `default: true` one, else None (ordinary full-graph run).
    */
  def chooseSelector(selectors: Seq[NamedSelector],
      name: Option[String] = None): Option[NamedSelector] = name match {
    case Some(n) => Some(selectors.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown selector '$n' (known: " +
          s"${selectors.map(_.name).sorted.mkString(", ")})")))
    case None => selectors.find(_.isDefault)
  }

  private def selectorDef(node: JsonNode, where: String): SelectorDef = {
    def children(n: JsonNode, op: String): Seq[SelectorDef] = {
      require(n.isArray && n.size > 0,
        s"$where: `$op` must be a non-empty list of definitions")
      n.elements.asScala.map(selectorDef(_, s"$where.$op")).toSeq
    }
    if (node.isTextual) SelectorDef.Token(node.asText)
    else {
      require(node.isObject, s"$where: a definition must be a string or map")
      val keys = node.properties.asScala.map(_.getKey).toSeq
      if (keys.contains("union") || keys.contains("intersection") ||
        keys.contains("exclude")) {
        require(keys.size == 1,
          s"$where: a composition node must have exactly one key, got: " +
            keys.mkString(", "))
        keys.head match {
          case "union" => SelectorDef.Union(children(node.get("union"), "union"))
          case "intersection" =>
            SelectorDef.Intersection(
              children(node.get("intersection"), "intersection"))
          case "exclude" =>
            SelectorDef.Exclude(children(node.get("exclude"), "exclude"))
        }
      } else {
        val allowed =
          Set("method", "value", "parents", "children", "childrens_parents")
        val unknown = keys.filterNot(allowed)
        require(unknown.isEmpty,
          s"$where: unknown definition keys ${unknown.mkString(", ")} " +
            s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
        val method = reqText(node, "method", where)
        require(SelectorMethods(method),
          s"$where: unknown method '$method' " +
            s"(supported: ${SelectorMethods.toSeq.sorted.mkString(", ")})")
        val value = reqText(node, "value", where)
        def flag(k: String): Boolean = Option(node.get(k)).exists { b =>
          require(b.isBoolean, s"$where: `$k` must be a boolean")
          b.asBoolean
        }
        val at = flag("childrens_parents")
        require(!at || (!flag("parents") && !flag("children")),
          s"$where: childrens_parents (@) cannot combine with parents/children")
        val base = if (method == "fqn") value else s"$method:$value"
        SelectorDef.Token(
          if (at) s"@$base"
          else (if (flag("parents")) "+" else "") + base +
            (if (flag("children")) "+" else ""))
      }
    }
  }

  /** One model's enforced contract: the declared column names and SQL
    * types, in declaration order (dbt ≥1.5 `contract: enforced` — the
    * schema-stability gate a production DAG runs at build time).
    */
  final case class Contract(model: String, columns: Seq[(String, String)])

  /** Parse enforced model contracts from schema.yml (dbt ≥1.5):
    *
    * {{{
    * models:
    *   - name: fct_loans
    *     config:
    *       contract:
    *         enforced: true
    *     columns:
    *       - name: loan_id
    *         data_type: bigint
    * }}}
    *
    * Only models with `config.contract.enforced: true` yield a
    * [[Contract]]; dbt's validation is reproduced — an enforced
    * contract requires EVERY declared column to carry `data_type`
    * (a contract that silently skipped a column would not gate what it
    * claims to), and an enforced model with no `columns:` at all fails
    * fast. Enforcement itself lives in [[SqlDag.run]]'s `contracts`
    * parameter. Driver-side YAML work only.
    */
  def contracts(yamlText: String): Seq[Contract] = {
    val root = mapper.readTree(yamlText)
    Option(root.get("models")).toSeq.flatMap { models =>
      require(models.isArray, "`models` must be a list")
      models.elements.asScala.flatMap { m =>
        val model = reqText(m, "name", "model")
        val enforced = Option(m.get("config"))
          .flatMap(c => Option(c.get("contract")))
          .flatMap(c => Option(c.get("enforced")))
          .exists(e => e.isBoolean && e.asBoolean)
        if (!enforced) None
        else {
          val colsNode = Option(m.get("columns")).getOrElse(
            throw new IllegalArgumentException(
              s"model $model: contract.enforced needs `columns` with data_type"))
          val cols = colsNode.elements.asScala.map { c =>
            val name = reqText(c, "name", s"contract column of $model")
            val tpe = reqText(c, "data_type",
              s"contract column $model.$name (enforced contracts require " +
                "data_type on every column)")
            name -> tpe
          }.toSeq
          require(cols.nonEmpty,
            s"model $model: contract.enforced with an empty column list")
          Some(Contract(model, cols))
        }
      }.toSeq
    }
  }

  /** One unit-test fixture, in any of dbt 1.8's three formats: dict
    * (literal row maps — the default), an inline CSV text block
    * (`format: csv`), or a standalone SQL select (`format: sql`).
    * Typing/execution semantics live in [[UnitTests]].
    */
  sealed trait Fixture
  object Fixture {
    final case class Rows(rows: Seq[Map[String, Any]]) extends Fixture
    final case class Csv(text: String) extends Fixture
    final case class Sql(sql: String) extends Fixture
  }

  /** One dbt 1.8 unit test: a fixture for each of the model's inputs,
    * expected output. `given` keys are the resolved input names — a ref
    * target's model/seed name, or a source's registered view name
    * ([[SqlDag.sourceViewName]]).
    */
  final case class UnitTest(name: String, model: String,
      `given`: Seq[(String, Fixture)],
      expect: Fixture)

  /** Parse the `unit_tests:` block (dbt 1.8):
    *
    * {{{
    * unit_tests:
    *   - name: test_monthly_rollup
    *     model: monthly_loans
    *     given:
    *       - input: ref('stg_loans')
    *         rows:
    *           - {loan_id: 1, amount: 100.0}
    *       - input: source('raw', 'rates')
    *         format: csv
    *         rows: |
    *           rate_date,rate
    *           2024-01-01,0.05
    *       - input: ref('fx')
    *         format: sql
    *         sql: select 1 as fx_id, 1.1 as eur_usd
    *     expect:
    *       rows:
    *         - {n: 1, total: 100.0}
    * }}}
    *
    * Dict scalars map to the JVM types [[UnitTests]] builds fixture
    * frames from (long / double / boolean / string; `null` allowed);
    * `format: csv` takes the block as inline CSV with a header row;
    * `format: sql` takes a standalone select (dbt's escape hatch for
    * values YAML/CSV literals can't spell). `expect` accepts the same
    * three formats. Missing `name`/`model`/`given`/`expect`, unknown
    * formats, and `fixture:` file refs (unsupported — inline the data)
    * fail fast; execution lives in [[UnitTests.run]].
    */
  def unitTests(yamlText: String): Seq[UnitTest] = {
    val root = mapper.readTree(yamlText)
    Option(root.get("unit_tests")).toSeq.flatMap { list =>
      require(list.isArray, "`unit_tests` must be a list")
      list.elements.asScala.map { u =>
        val name = reqText(u, "name", "unit test")
        val model = reqText(u, "model", s"unit test $name")
        val givenNode = Option(u.get("given")).getOrElse(
          throw new IllegalArgumentException(s"unit test $name needs `given`"))
        require(givenNode.isArray, s"unit test $name: `given` must be a list")
        val `given` = givenNode.elements.asScala.map { g =>
          val input = inputName(reqText(g, "input", s"given of unit test $name"))
          input -> fixtureOf(g, s"unit test $name given $input")
        }.toSeq
        val expectNode = Option(u.get("expect")).getOrElse(
          throw new IllegalArgumentException(s"unit test $name needs `expect`"))
        val expect = fixtureOf(expectNode, s"unit test $name expect")
        UnitTest(name, model, given, expect)
      }.toSeq
    }
  }

  /** One fixture node → [[Fixture]], dispatching on dbt's `format:` key
    * (absent = dict). Every malformed shape fails fast with the format's
    * own contract named — a fixture that silently parsed as empty would
    * make its test vacuous.
    */
  private def fixtureOf(node: JsonNode, where: String): Fixture = {
    require(!node.has("fixture"),
      s"$where: `fixture:` file refs are not supported — inline the data " +
        "under `rows` (dict/csv) or `sql`")
    val format = Option(node.get("format")).map { f =>
      require(f.isTextual, s"$where: `format` must be a string")
      f.asText
    }.getOrElse("dict")
    format match {
      case "dict" => Fixture.Rows(rowsOf(Option(node.get("rows")), where))
      case "csv" =>
        val text = Option(node.get("rows")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"$where: format csv needs `rows` as an inline CSV text block " +
              "(YAML `rows: |` with a header line)"))
        Fixture.Csv(text)
      case "sql" =>
        val sql = Option(node.get("sql")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"$where: format sql needs `sql` with a standalone select"))
        Fixture.Sql(sql)
      case other => throw new IllegalArgumentException(
        s"$where: unknown fixture format '$other' (dict, csv, sql)")
    }
  }

  /** A `rows:` list of maps → literal row maps (absent/`rows: []` ok). */
  private def rowsOf(node: Option[JsonNode], where: String): Seq[Map[String, Any]] =
    node.fold(Seq.empty[Map[String, Any]]) { list =>
      require(list.isArray, s"$where: `rows` must be a list")
      list.elements.asScala.map { r =>
        require(r.isObject, s"$where: each row must be a mapping")
        r.properties.asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) null
          else scalar(e.getValue, s"$where.${e.getKey}"))
        }.toMap
      }.toSeq
    }

  private val SourceInInput =
    raw"""source\(\s*['"]([A-Za-z0-9_]+)['"]\s*,\s*['"]([A-Za-z0-9_]+)['"]\s*\)""".r

  /** A unit-test `input:` — `ref('x')`, `source('a', 'b')`, or a bare
    * relation name — resolved to the view name the model's compiled SQL
    * will read.
    */
  private def inputName(input: String): String = input.trim match {
    case SourceInInput(s, t) => SqlDag.sourceViewName(s, t)
    case other => refName(other)
  }

  private val RefInTo = """ref\(\s*['"]([A-Za-z0-9_]+)['"]\s*\)""".r

  /** `ref('x')` → x; a bare name passes through. */
  private def refName(to: String): String = to.trim match {
    case RefInTo(name) => name
    case bare => bare
  }

  private def reqText(n: JsonNode, field: String, where: String): String =
    Option(n.get(field)).filter(_.isTextual).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"$where needs a string `$field`"))

  /** YAML scalar → the JVM value Spark's `isin` expects. */
  private def scalar(n: JsonNode, where: String): Any =
    if (n.isInt || n.isLong) n.asLong
    else if (n.isFloatingPointNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText
    else throw new IllegalArgumentException(s"$where must be a scalar, got: $n")
}
