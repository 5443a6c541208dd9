package graft.models

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The generic SQL DAG runner: the reference project's four model texts
  * with dbt_project.yml materializations (staging → view, marts → table),
  * PLUS a user-authored fifth model — proving a migrating dbt user can
  * run their own SQL files, not just the ported ones.
  */
class SqlDagSpec extends SparkSpec {

  import SqlDag._

  test("reference models + a user model run topologically with dbt materializations") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqldag").toString
    val dag = new SqlDag(spark, wh)
    // deliberately out of dependency order — the runner must topo-sort;
    // the user model uses dbt's double-quoted ref form
    val models = Seq(
      SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table),
      SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
      SqlModel("stg_loans", FictionBankSql.StgLoans, View),
      SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
      // a user's own new model over the ported marts
      SqlModel("mortgage_ltv_rank", """
        select loan_id, ltv_ratio,
               rank() over (order by ltv_ratio desc) as ltv_rank
        from {{ ref("fct_loan_details") }}
        where loan_type_name = 'Mortgage' and ltv_ratio is not null
      """, View))
    val built = dag.run(models, fictionBankSeeds)

    assert(built("stg_loans").count() === 10)
    assert(built("agg_monthly_loans").count() === 39)
    // marts materialized as parquet and re-read (cut-point semantics)
    assert(new java.io.File(s"$wh/fct_loan_details").exists())
    assert(new java.io.File(s"$wh/agg_monthly_loans").exists())
    assert(!new java.io.File(s"$wh/stg_loans").exists())
    // the user model computed over the materialized mart
    val top = built("mortgage_ltv_rank")
      .filter(col("ltv_rank") === 1).head()
    assert(top.getAs[String]("loan_id") === "L001") // ltv 83.33 is the max
    // lineage extracted from the SQL texts themselves
    assert(dag.lineage(models)("fct_loan_details") === Set("stg_loans", "loan_types"))
    assert(dag.lineage(models)("mortgage_ltv_rank") === Set("fct_loan_details"))
  }

  test("pre/post hooks run around the build with {{ this }}, vars, and the built relation") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqldag-hooks").toString
    val dag = new SqlDag(spark, wh)
    spark.sql("DROP TABLE IF EXISTS hook_audit")
    spark.sql("CREATE TABLE hook_audit (model STRING, phase STRING) USING parquet")
    try {
      val models = Seq(
        SqlModel("hooked_loans",
          "select loan_id from {{ ref('raw_loans') }}", Table,
          preHooks = Seq(
            "INSERT INTO hook_audit VALUES ('{{ this }}', 'pre')"),
          postHooks = Seq(
            // hooks render through the same Jinja pipeline (vars here)
            "INSERT INTO hook_audit VALUES ('{{ this }}', '{{ var('phase', 'post') }}')",
            // and a post-hook can READ the just-built relation
            "INSERT INTO hook_audit SELECT 'rows', cast(count(*) AS string) FROM {{ this }}")))
      val built = dag.run(models, fictionBankSeeds)
      assert(built("hooked_loans").count() === 10)
      val audit = spark.table("hook_audit").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(audit === Set(("hooked_loans", "pre"), ("hooked_loans", "post"),
        ("rows", "10")))
    } finally spark.sql("DROP TABLE IF EXISTS hook_audit")
  }

  test("ephemeral models inline into consumers and vanish from the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqldag-eph").toString
    val dag = new SqlDag(spark, wh)
    val models = Seq(
      SqlModel("eph_big_loans", """
        select loan_id, loan_amount from {{ ref('raw_loans') }}
        where loan_amount >= 100000
      """, Ephemeral),
      SqlModel("big_loan_count", """
        select count(*) as n from {{ ref('eph_big_loans') }}
      """, View))
    val built = dag.run(models, fictionBankSeeds)
    // the consumer computed over the inlined plan... (5 seed loans are
    // >= 100k: 250k, 450k, 320k, 280k, 195k)
    assert(built("big_loan_count").head().getAs[Long]("n") === 5L)
    // ...but the ephemeral relation exists nowhere afterward: not in the
    // returned map, not in the catalog, not on disk (the dbt contract)
    assert(!built.contains("eph_big_loans"))
    assert(!spark.catalog.tableExists("eph_big_loans"))
    assert(!new java.io.File(s"$wh/eph_big_loans").exists())
    // and the consumer view still answers AFTER the drop — its analyzed
    // plan embeds the ephemeral subtree, it does not re-resolve the name
    assert(spark.sql("select n from big_loan_count").head().getLong(0) === 5L)
  }

  test("schema.yml text binds generic tests declaratively (no Scala authoring)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqldag-yml").toString
    val dag = new SqlDag(spark, wh)
    val built = dag.run(Seq(
      SqlModel("stg_loans", FictionBankSql.StgLoans, View)), fictionBankSeeds)
    val tests = SchemaConfig.tests("""
      version: 2
      models:
        - name: stg_loans
          columns:
            - name: loan_id
              tests:
                - unique
                - not_null
            - name: loan_type_id
              tests:
                - accepted_values:
                    values: [1, 2, 3]
                - relationships:
                    to: ref('loan_types')
                    field: loan_type_id
            - name: property_value
              tests:
                - not_null
    """)
    assert(tests.map(_.name) === Seq(
      "unique_stg_loans_loan_id", "not_null_stg_loans_loan_id",
      "accepted_values_stg_loans_loan_type_id",
      "relationships_stg_loans_loan_type_id",
      "not_null_stg_loans_property_value"))
    val results = GenericTests.runDetailed(tests, built)
      .map(r => r.name -> r.failures).toMap
    // the seeds satisfy key/value/FK integrity...
    assert(results("unique_stg_loans_loan_id") === 0L)
    assert(results("not_null_stg_loans_loan_id") === 0L)
    assert(results("accepted_values_stg_loans_loan_type_id") === 0L)
    assert(results("relationships_stg_loans_loan_type_id") === 0L)
    // ...and the deliberately-failing test counts the two NULL-property
    // loans (L004/L008) — proving violations surface, not just passes
    assert(results("not_null_stg_loans_property_value") === 2L)
  }

  test("schema config rejects unknown tests, malformed entries, bad refs") {
    val unknown = intercept[IllegalArgumentException] {
      SchemaConfig.tests("""
        models:
          - name: m
            columns:
              - name: c
                tests: [uniq]
      """)
    }
    assert(unknown.getMessage.contains("unknown generic test"))
    val noValues = intercept[IllegalArgumentException] {
      SchemaConfig.tests("""
        models:
          - name: m
            columns:
              - name: c
                tests:
                  - accepted_values: {}
      """)
    }
    assert(noValues.getMessage.contains("values"))
    val noModels = intercept[IllegalArgumentException] {
      SchemaConfig.tests("version: 2")
    }
    assert(noModels.getMessage.contains("models"))
    // a test against a relation that was never built fails AT RUN with a
    // named error, not an empty pass
    val tests = SchemaConfig.tests("""
      models:
        - name: ghost
          columns:
            - name: c
              tests: [not_null]
    """)
    val ghost = intercept[IllegalArgumentException] {
      GenericTests.runDetailed(tests, Map.empty)
    }
    assert(ghost.getMessage.contains("ghost"))
  }

  test("unknown refs, cycles, duplicate names and seed shadowing fail fast") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    val bad = intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("m1", "select * from {{ ref('nope') }}")), fictionBankSeeds)
    }
    assert(bad.getMessage.contains("nope"))
    val cyc = intercept[IllegalArgumentException] {
      dag.run(Seq(
        SqlModel("a", "select * from {{ ref('b') }}"),
        SqlModel("b", "select * from {{ ref('a') }}")), fictionBankSeeds)
    }
    assert(cyc.getMessage.contains("cyclic"))
    val dup = intercept[IllegalArgumentException] {
      dag.run(Seq(
        SqlModel("m", "select 1 as x"),
        SqlModel("m", "select 2 as x")), fictionBankSeeds)
    }
    assert(dup.getMessage.contains("duplicate"))
    // a model named like a seed would silently shadow it for siblings,
    // making results depend on build order — dbt errors; so do we
    val shadow = intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("loan_types", "select 1 as x")), fictionBankSeeds)
    }
    assert(shadow.getMessage.contains("shadow"))
  }

  // ---- node selection (dbt run --select/--exclude) ---------------------

  // diamond over the reference models: stg_loans feeds fct_loan_details
  // and (with stg_loan_payments) agg_monthly_loans; a user model hangs
  // off fct_loan_details
  private def selectionModels = Seq(
    SqlModel("stg_loans", FictionBankSql.StgLoans, View),
    SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
    SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
    SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table),
    SqlModel("ltv_top", "select loan_id from {{ ref('fct_loan_details') }} where ltv_ratio > 80", View))

  test("selectModels: dbt graph operators resolve the documented closures") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    def names(sel: Seq[String], excl: Seq[String] = Nil) =
      dag.selectModels(selectionModels, sel, excl).map(_.name)

    assert(names(Seq("fct_loan_details")) === Seq("fct_loan_details"))
    // descendants closure
    assert(names(Seq("stg_loans+")) ===
      Seq("stg_loans", "fct_loan_details", "agg_monthly_loans", "ltv_top"))
    // ancestors closure (the reference's real lineage: the monthly agg
    // refs BOTH fct_loan_details and stg_loan_payments)
    assert(names(Seq("+agg_monthly_loans")) ===
      Seq("stg_loans", "stg_loan_payments", "fct_loan_details", "agg_monthly_loans"))
    // both
    assert(names(Seq("+fct_loan_details+")) ===
      Seq("stg_loans", "fct_loan_details", "agg_monthly_loans", "ltv_top"))
    // @: descendants plus all ancestors of those descendants — from
    // stg_loan_payments this pulls in stg_loans and fct_loan_details
    // (the OTHER parents of agg_monthly_loans), which +/+ closures
    // alone would miss
    assert(names(Seq("@stg_loan_payments")) ===
      Seq("stg_loans", "stg_loan_payments", "fct_loan_details", "agg_monthly_loans"))
    // union of tokens, then exclusion (dbt's order of operations)
    assert(names(Seq("stg_loans+"), Seq("agg_monthly_loans")) ===
      Seq("stg_loans", "fct_loan_details", "ltv_top"))
    // declaration order is preserved regardless of selector order
    assert(names(Seq("ltv_top", "stg_loans")) === Seq("stg_loans", "ltv_top"))
    // unknown names and malformed operators fail fast
    assert(intercept[IllegalArgumentException] {
      names(Seq("no_such_model+"))
    }.getMessage.contains("no_such_model"))
    assert(intercept[IllegalArgumentException] {
      names(Seq("@stg_loans+"))
    }.getMessage.contains("cannot combine"))
  }

  test("state-based selection: modified/new/downstream-of-modified vs a previous manifest") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    // v1 chain: stg -> mid -> mart, plus an independent island
    val v1 = Seq(
      SqlModel("stg", "select * from {{ ref('raw_loans') }}"),
      SqlModel("mid", "select loan_id from {{ ref('stg') }}"),
      SqlModel("mart", "select count(*) as n from {{ ref('mid') }}"),
      SqlModel("island", "select 1 as one"))
    val manifestV1 = dag.stateManifest(v1)
    // v2: stg's SQL edited, a new model added, the rest untouched
    val v2 = v1.map {
      case m if m.name == "stg" =>
        m.copy(jinjaSql = "select *, 1 as extra from {{ ref('raw_loans') }}")
      case m => m
    } :+ SqlModel("fresh", "select loan_id from {{ ref('mid') }}")
    def names(models: Seq[SqlModel], sel: Seq[String]) =
      dag.selectModels(models, sel, state = Some(manifestV1)).map(_.name)

    // same models, same manifest → nothing is modified or new
    assert(names(v1, Seq("state:modified")) === Seq.empty)
    assert(names(v2, Seq("state:new")) === Seq("fresh"))
    // dbt: modified includes new
    assert(names(v2, Seq("state:modified")) === Seq("stg", "fresh"))
    // the CI idiom: rebuild every change and everything downstream of it
    assert(names(v2, Seq("state:modified+")) ===
      Seq("stg", "mid", "mart", "fresh"))
    // a materialization flip alone counts as modified (config change)
    val v3 = v1.map {
      case m if m.name == "mid" => m.copy(materialization = Table)
      case m => m
    }
    assert(names(v3, Seq("state:modified")) === Seq("mid"))
    // a macro edit marks its CALLERS modified (compiled-text checksum)
    val macroV1 = JinjaMacros.parse("{% macro pick() %}loan_id{% endmacro %}")
    val macroV2 = JinjaMacros.parse("{% macro pick() %}customer_id{% endmacro %}")
    val mm = Seq(SqlModel("uses_macro",
      "select {{ pick() }} from {{ ref('raw_loans') }}"), v1(3))
    val mManifest = dag.stateManifest(mm, macroV1)
    val expanded = mm.map(m =>
      m.copy(jinjaSql = JinjaMacros.renderModel(m.jinjaSql, macroV2)))
    val (newN, modN) = dag.stateDiff(expanded, mManifest)
    assert(newN === Set.empty && modN === Set("uses_macro"))
    // a HOOK-ONLY edit counts as modified (dbt hashes node config,
    // hooks included — r9 advice: the old manifest omitted hooks, so
    // a CI state:modified run would skip a model whose audit/GRANT
    // hook changed)
    val withHook = v1.map {
      case m if m.name == "mart" =>
        m.copy(postHooks = Seq("refresh table {{ this }}"))
      case m => m
    }
    assert(names(withHook, Seq("state:modified")) === Seq("mart"))
    // … and editing an existing hook flags it too
    val hookManifest = dag.stateManifest(withHook)
    val hookEdited = withHook.map {
      case m if m.name == "mart" =>
        m.copy(postHooks = Seq("analyze table {{ this }} compute statistics"))
      case m => m
    }
    val (hNew, hMod) = dag.stateDiff(hookEdited, hookManifest)
    assert(hNew === Set.empty && hMod === Set("mart"))
    // unchanged hooks do NOT flag
    val (sNew, sMod) = dag.stateDiff(withHook, hookManifest)
    assert(sNew === Set.empty && sMod === Set.empty)
    // a macro edit INSIDE a hook propagates (hooks render through the
    // same Jinja pipeline as model text)
    val hm1 = JinjaMacros.parse("{% macro audit() %}refresh{% endmacro %}")
    val hm2 = JinjaMacros.parse("{% macro audit() %}analyze{% endmacro %}")
    val hooked = Seq(SqlModel("hmodel", "select 1 as one",
      postHooks = Seq("{{ audit() }} table {{ this }}")))
    val hmManifest = dag.stateManifest(hooked, hm1)
    val (_, hmMod) = dag.stateDiff(hooked, hmManifest, hm2)
    assert(hmMod === Set("hmodel"))
    // state selectors without a manifest fail fast
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(v2, Seq("state:modified"))
    }.getMessage.contains("manifest"))
    // selectModels with RAW macro-bearing models: the macros param
    // threads into stateDiff, so an unchanged macro-using model is NOT
    // spuriously flagged modified (r8 advice — without it, checksum of
    // unexpanded vs expanded text marked every macro caller changed)
    assert(dag.selectModels(mm, Seq("state:modified"),
      state = Some(mManifest), macros = macroV1).map(_.name) === Seq.empty)
    assert(dag.selectModels(mm, Seq("state:modified"),
      state = Some(mManifest), macros = macroV2).map(_.name)
      === Seq("uses_macro"))
    // vars thread the same way: a var-bearing model is unchanged under
    // the manifest's bindings, modified under different ones
    val vm = Seq(SqlModel("uses_var",
      "select * from {{ ref('raw_loans') }} where loan_amount >= {{ var('min', 0) }}"))
    val vManifest = dag.stateManifest(vm, vars = Map("min" -> "10"))
    assert(dag.selectModels(vm, Seq("state:modified"),
      state = Some(vManifest), vars = Map("min" -> "10")).map(_.name)
      === Seq.empty)
    assert(dag.selectModels(vm, Seq("state:modified"),
      state = Some(vManifest), vars = Map("min" -> "99")).map(_.name)
      === Seq("uses_var"))
  }

  test("run --select state:modified builds only changed models and their downstream") {
    val wh = java.nio.file.Files.createTempDirectory("graft-state").toString
    val dag = new SqlDag(spark, wh)
    val v1 = Seq(
      SqlModel("stg_sel", "select loan_id, loan_amount from {{ ref('raw_loans') }}", Table),
      SqlModel("mart_sel", "select count(*) as n from {{ ref('stg_sel') }}", Table),
      SqlModel("island_sel", "select 41 as x", Table))
    dag.run(v1, fictionBankSeeds)
    val manifestV1 = dag.stateManifest(v1)
    val v2 = v1.map {
      case m if m.name == "island_sel" => m.copy(jinjaSql = "select 42 as x")
      case m => m
    }
    val built = dag.run(v2, fictionBankSeeds,
      select = Seq("state:modified+"), state = Some(manifestV1))
    // only the island rebuilt; the untouched chain was not re-run
    assert(built.keySet.intersect(Set("stg_sel", "mart_sel", "island_sel"))
      === Set("island_sel"))
    assert(built("island_sel").collect().map(_.getInt(0)).toList === List(42))
  }

  test("run --select builds only the sub-DAG; outside refs resolve to existing relations") {
    val wh = java.nio.file.Files.createTempDirectory("graft-select").toString
    val dag = new SqlDag(spark, wh)
    // a fresh session would have no fct_loan_details relation: selecting
    // its downstream alone must fail with the run-it-first message
    spark.catalog.dropTempView("fct_loan_details")
    val missing = intercept[IllegalArgumentException] {
      dag.run(selectionModels, fictionBankSeeds, select = Seq("ltv_top"))
    }
    assert(missing.getMessage.contains("outside the selection"), missing.getMessage)
    // build the upstream sub-DAG first (ancestor closure)…
    val first = dag.run(selectionModels, fictionBankSeeds,
      select = Seq("+fct_loan_details"))
    assert(first.contains("fct_loan_details") && !first.contains("ltv_top"))
    assert(!first.contains("agg_monthly_loans"))
    // …then the downstream subset runs alone, reading the materialized
    // warehouse table for its outside-the-selection ref
    spark.catalog.dropTempView("fct_loan_details") // force the parquet path
    val second = dag.run(selectionModels, fictionBankSeeds, select = Seq("ltv_top"))
    assert(second("ltv_top").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("L001", "L002", "L009"))
  }

  test("defer: outside-selection refs fall back to the deferred warehouse; --favor-state flips precedence") {
    val prod = java.nio.file.Files.createTempDirectory("graft-prodwh").toString
    val dev = java.nio.file.Files.createTempDirectory("graft-devwh").toString
    val models = Seq(
      SqlModel("stg_defer",
        "select loan_id, loan_amount from {{ ref('raw_loans') }}", Table),
      SqlModel("mart_defer",
        "select count(*) as n from {{ ref('stg_defer') }}", Table))
    try {
      // production built the whole DAG into its own warehouse
      new SqlDag(spark, prod).run(models, fictionBankSeeds)
      spark.catalog.dropTempView("stg_defer")
      spark.catalog.dropTempView("mart_defer")
      val devDag = new SqlDag(spark, dev)
      // a bare subset run in the empty dev environment still fails…
      val missing = intercept[IllegalArgumentException] {
        devDag.run(models, fictionBankSeeds, select = Seq("mart_defer"))
      }
      assert(missing.getMessage.contains("outside the selection"))
      // …and deferring to production resolves the upstream ref there
      val deferred = devDag.run(models, fictionBankSeeds,
        select = Seq("mart_defer"), defer = Some(prod))
      assert(deferred("mart_defer").collect().head.getLong(0) === 10L)
      // dev now builds its OWN (divergent) stg: default precedence is
      // dbt's — the target environment's relation wins over state…
      val devVariant = models.map {
        case m if m.name == "stg_defer" =>
          m.copy(jinjaSql = m.jinjaSql + " limit 3")
        case m => m
      }
      devDag.run(devVariant, fictionBankSeeds, select = Seq("stg_defer"))
      val localWins = devDag.run(models, fictionBankSeeds,
        select = Seq("mart_defer"), defer = Some(prod))
      assert(localWins("mart_defer").collect().head.getLong(0) === 3L)
      // …and --favor-state flips it back to the deferred environment
      val stateWins = devDag.run(models, fictionBankSeeds,
        select = Seq("mart_defer"), defer = Some(prod), favorState = true)
      assert(stateWins("mart_defer").collect().head.getLong(0) === 10L)
      // favorState without defer is a contract violation, not a no-op
      val bad = intercept[IllegalArgumentException] {
        devDag.run(models, fictionBankSeeds, favorState = true)
      }
      assert(bad.getMessage.contains("favor-state"))
    } finally Seq("stg_defer", "mart_defer")
      .foreach(spark.catalog.dropTempView(_))
  }

  test("threaded run: parallel wave execution matches the sequential build") {
    val whSeq = java.nio.file.Files.createTempDirectory("graft-seq").toString
    val whPar = java.nio.file.Files.createTempDirectory("graft-par").toString
    def counts(built: Map[String, org.apache.spark.sql.DataFrame]) =
      built.view.mapValues(_.count()).toMap
    val sequential = counts(new SqlDag(spark, whSeq).run(selectionModels, fictionBankSeeds))
    val parallel = counts(new SqlDag(spark, whPar).run(selectionModels, fictionBankSeeds,
      threads = 4))
    assert(parallel === sequential)
    // the mart rows agree value-for-value, not just by count
    val a = spark.read.parquet(s"$whSeq/agg_monthly_loans")
      .orderBy("month", "loan_type_name", "customer_id").collect().toSeq
    val b = spark.read.parquet(s"$whPar/agg_monthly_loans")
      .orderBy("month", "loan_type_name", "customer_id").collect().toSeq
    assert(a === b)
  }

  test("exposures parse from schema.yml and +exposure: selects the dashboard's upstream") {
    val yml =
      """version: 2
        |exposures:
        |  - name: ltv_dashboard
        |    type: dashboard
        |    maturity: high
        |    url: https://bi.example.com/ltv
        |    description: Monthly LTV reporting
        |    owner:
        |      name: Analytics
        |      email: analytics@example.com
        |    depends_on:
        |      - ref('ltv_top')
        |  - name: risk_model
        |    type: ml
        |    owner:
        |      email: risk@example.com
        |    depends_on:
        |      - ref('agg_monthly_loans')
        |""".stripMargin
    val exps = SchemaConfig.exposures(yml)
    assert(exps.map(_.name) === Seq("ltv_dashboard", "risk_model"))
    assert(exps.head.exposureType === "dashboard")
    assert(exps.head.dependsOn === Seq("ltv_top"))
    assert(exps.head.ownerEmail === Some("analytics@example.com"))
    assert(exps(1).ownerName === None) // email alone satisfies dbt's owner rule
    // a schema.yml without an exposures block parses to none
    assert(SchemaConfig.exposures("version: 2\n") === Nil)

    val dag = new SqlDag(spark, "/tmp/unused-wh")
    def names(sel: Seq[String], excl: Seq[String] = Nil) =
      dag.selectModels(selectionModels, sel, excl, exposures = exps).map(_.name)
    // +exposure: = the depends_on models plus their ancestor closures
    assert(names(Seq("+exposure:ltv_dashboard")) ===
      Seq("stg_loans", "fct_loan_details", "ltv_top"))
    // the bare form selects the exposure NODE — a sink, no models run
    // (dbt parity: `dbt run --select exposure:x` has nothing to do)
    assert(names(Seq("exposure:ltv_dashboard")) === Seq())
    // union with a model selector, and exclude composition: run all
    // EXCEPT what the risk model reads
    assert(names(Seq("exposure:ltv_dashboard", "stg_loans")) === Seq("stg_loans"))
    assert(names(Seq(), Seq("+exposure:risk_model")) === Seq("ltv_top"))
  }

  test("exposure selection and parsing reject the documented misuses") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    val exps = SchemaConfig.exposures(
      """exposures:
        |  - name: dash
        |    type: dashboard
        |    owner: {name: A}
        |    depends_on: [ref('no_such_model')]
        |""".stripMargin)
    // a typo'd exposure name must not silently select nothing
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(selectionModels, Seq("+exposure:nope"), exposures = exps)
    }.getMessage.contains("unknown exposure"))
    // depends_on naming an unknown model fails at selection, not silently
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(selectionModels, Seq("+exposure:dash"), exposures = exps)
    }.getMessage.contains("no_such_model"))
    // exposures are sinks: a descendants closure is a mistyped +exposure:
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(selectionModels, Seq("exposure:dash+"), exposures = exps)
    }.getMessage.contains("no descendants"))
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(selectionModels, Seq("@exposure:dash"), exposures = exps)
    }.getMessage.contains("cannot combine"))
    // parse-time validation: dbt's closed type vocabulary, owner rule,
    // non-empty depends_on, maturity vocabulary
    def bad(y: String) =
      intercept[IllegalArgumentException](SchemaConfig.exposures(y)).getMessage
    assert(bad("exposures:\n  - name: x\n    type: spreadsheet\n    owner: {name: A}\n    depends_on: [ref('m')]\n")
      .contains("unknown type"))
    assert(bad("exposures:\n  - name: x\n    type: dashboard\n    owner: {}\n    depends_on: [ref('m')]\n")
      .contains("owner"))
    assert(bad("exposures:\n  - name: x\n    type: dashboard\n    owner: {name: A}\n    depends_on: []\n")
      .contains("non-empty"))
    assert(bad("exposures:\n  - name: x\n    type: dashboard\n    maturity: extreme\n    owner: {name: A}\n    depends_on: [ref('m')]\n")
      .contains("maturity"))
  }

  test("on-run-start/on-run-end: once per run, around the waves, skipped on empty selection") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    spark.catalog.dropTempView("hook_start_v")
    spark.catalog.dropTempView("hook_end_v")
    val models = Seq(
      // the model READS the start hook's relation — pinning that start
      // hooks run before the first wave
      SqlModel("uses_start",
        "select n + 1 as n1 from hook_start_v"),
      SqlModel("downstream",
        "select n1 from {{ ref('uses_start') }}"))
    val built = dag.run(models, fictionBankSeeds,
      onRunStart = Seq(
        "create or replace temporary view hook_start_v as " +
          "select cast({{ var('base', '41') }} as bigint) as n"),
      onRunEnd = Seq(
        "create or replace temporary view hook_end_v as select count(*) as c from downstream"))
    assert(built("downstream").head().getLong(0) === 42L)
    // the end hook saw the BUILT relations
    assert(spark.table("hook_end_v").head().getLong(0) === 1L)
    // empty selection = dbt no-op run: hooks skipped entirely
    spark.catalog.dropTempView("hook_start_v")
    dag.run(models, fictionBankSeeds,
      select = Seq("tag:absent"),
      onRunStart = Seq("create or replace temporary view hook_start_v as select 1 as n"))
    assert(!spark.catalog.tableExists("hook_start_v"))
  }

  // ---- source() resolution + source:/tag: selection -------------------

  private def sourceModels = Seq(
    SqlModel("stg_ext",
      "select loan_id, amount from {{ source('warehouse', 'loans') }}",
      tags = Seq("staging", "nightly")),
    SqlModel("mart_ext",
      "select count(*) as n from {{ ref('stg_ext') }}",
      tags = Seq("nightly")),
    SqlModel("island", "select * from {{ ref('raw_loans') }}"))

  test("source(): resolves a declared relation, builds it, and records lineage") {
    val s = spark
    import s.implicits._
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    val ext = Seq(("L1", 100L), ("L2", 250L)).toDF("loan_id", "amount")
    val built = dag.run(sourceModels, fictionBankSeeds,
      sources = Map(("warehouse", "loans") -> ext))
    assert(built("mart_ext").head().getLong(0) === 2L)
    assert(built("stg_ext").collect().map(_.getString(0)).sorted
      === Array("L1", "L2"))
    // both halves of the lineage graph
    assert(dag.sourceLineage(sourceModels)("stg_ext")
      === Set(("warehouse", "loans")))
    assert(dag.sourceLineage(sourceModels)("mart_ext") === Set.empty)
    // the manifest carries the source edge as a qualified dep, so
    // re-pointing a staging model at another source table flags modified
    assert(dag.stateManifest(sourceModels)
      .contains("source:warehouse.loans"))
    val repointed = sourceModels.map(m =>
      if (m.name != "stg_ext") m
      else m.copy(jinjaSql =
        "select loan_id, amount from {{ source('warehouse', 'loans_v2') }}"))
    val (newN, modified) =
      dag.stateDiff(repointed, dag.stateManifest(sourceModels))
    assert(newN === Set.empty && modified === Set("stg_ext"))
  }

  test("source(): undeclared sources and reserved names fail fast") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    // model reads a source the run never declared — dbt's compile error
    assert(intercept[IllegalArgumentException] {
      dag.run(sourceModels, fictionBankSeeds)
    }.getMessage.contains("undeclared sources: warehouse.loans"))
    // the mangled-view namespace is reserved
    val s = spark
    import s.implicits._
    assert(intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("__src_a__b", "select 1 as one")),
        fictionBankSeeds)
    }.getMessage.contains("reserved source-view prefix"))
  }

  test("source:/tag: selection — closures, bare-form parity, misuse rejection") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    def names(sel: Seq[String]) =
      dag.selectModels(sourceModels, sel).map(_.name)
    // the working idiom: everything the source feeds (direct consumer +
    // its downstream), island skipped
    assert(names(Seq("source:warehouse+")) === Seq("stg_ext", "mart_ext"))
    assert(names(Seq("source:warehouse.loans+")) === Seq("stg_ext", "mart_ext"))
    // bare form selects the source NODE, which runs nothing (dbt parity,
    // mirroring exposures)
    assert(names(Seq("source:warehouse")) === Seq.empty)
    // typos fail fast instead of silently selecting nothing
    assert(intercept[IllegalArgumentException] {
      names(Seq("source:nope+"))
    }.getMessage.contains("no model reads"))
    assert(intercept[IllegalArgumentException] {
      names(Seq("source:warehouse.nope+"))
    }.getMessage.contains("no model reads"))
    // sources are roots: a leading + is a mistyped trailing +
    assert(intercept[IllegalArgumentException] {
      names(Seq("+source:warehouse"))
    }.getMessage.contains("no ancestors"))
    // tag: selects by node config, with the usual closure suffixes
    assert(names(Seq("tag:nightly")) === Seq("stg_ext", "mart_ext"))
    assert(names(Seq("tag:staging"))  === Seq("stg_ext"))
    assert(names(Seq("tag:staging+")) === Seq("stg_ext", "mart_ext"))
    assert(names(Seq("tag:absent"))   === Seq.empty) // dbt: empty, not an error
    // a tag edit alone flags state:modified (tags are node config)
    val retagged = sourceModels.map(m =>
      if (m.name == "island") m.copy(tags = Seq("weekly")) else m)
    val (n2, m2) = dag.stateDiff(retagged, dag.stateManifest(sourceModels))
    assert(n2 === Set.empty && m2 === Set("island"))
  }

  test("source views are dropped after the run (no stale __src_* in the shared session)") {
    val s = spark
    import s.implicits._
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-srcdrop").toString)
    val built = dag.run(
      Seq(SqlModel("m1", "select v from {{ source('ext', 'raw') }}")),
      seeds = Map.empty,
      sources = Map(("ext", "raw") -> Seq(1, 2).toDF("v")))
    // the model stays addressable; the plumbing view does not
    assert(built("m1").count() === 2)
    assert(spark.table("m1").count() === 2)
    assert(!spark.catalog.tableExists(SqlDag.sourceViewName("ext", "raw")),
      "__src_ext__raw survived the run — stale source views leak " +
        "across runs in a shared session")
  }

  test("source views are dropped when the run THROWS mid-build (r12 advice)") {
    val s = spark
    import s.implicits._
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-srcdrop-f").toString)
    // a contract violation aborts the build AFTER the source registered
    intercept[IllegalArgumentException] {
      dag.run(
        Seq(SqlModel("m1", "select v from {{ source('ext', 'raw') }}")),
        seeds = Map.empty,
        sources = Map(("ext", "raw") -> Seq(1, 2).toDF("v")),
        contracts = Seq(SchemaConfig.Contract("m1", Seq("v" -> "string"))))
    }
    assert(!spark.catalog.tableExists(SqlDag.sourceViewName("ext", "raw")),
      "__src_ext__raw survived an ABORTED run — the failure path must " +
        "clean the plumbing views too")
  }

  test("source views are dropped when REGISTRATION itself throws partway (r13 advice)") {
    val s = spark
    import s.implicits._
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-srcdrop-r").toString)
    // the second source's mangled view name is an invalid identifier —
    // createOrReplaceTempView throws AFTER the first source registered,
    // so the sweep must cover partially-registered state too
    intercept[Exception] {
      dag.run(
        Seq(SqlModel("m1", "select v from {{ source('ext', 'raw') }}")),
        seeds = Map.empty,
        sources = Map(
          ("ext", "raw") -> Seq(1, 2).toDF("v"),
          ("ext", "bad name") -> Seq(3).toDF("v")))
    }
    assert(!spark.catalog.tableExists(SqlDag.sourceViewName("ext", "raw")),
      "__src_ext__raw survived a run whose source REGISTRATION aborted " +
        "— the try must start before the registration loop")
  }

  private val contractYaml = """
models:
  - name: typed
    config:
      contract:
        enforced: true
    columns:
      - name: k
        data_type: bigint
      - name: label
        data_type: string
"""

  test("contracts: enforced schema passes on match, fails fast on every drift axis") {
    val s = spark
    import s.implicits._
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-contract").toString)
    val seeds = Map("src" -> Seq((1L, "a"), (2L, "b")).toDF("k", "label"))
    val contracts = SchemaConfig.contracts(contractYaml)
    assert(contracts === Seq(SchemaConfig.Contract("typed",
      Seq("k" -> "bigint", "label" -> "string"))))
    // green: names and Spark-parsed types match exactly
    val ok = dag.run(Seq(SqlModel("typed",
      "select k, label from {{ ref('src') }}")), seeds, contracts = contracts)
    assert(ok("typed").count() === 2)
    def failing(sql: String): String =
      intercept[IllegalArgumentException] {
        dag.run(Seq(SqlModel("typed", sql)), seeds, contracts = contracts)
      }.getMessage
    // type drift
    val typeDrift = failing("select cast(k as int) as k, label from {{ ref('src') }}")
    assert(typeDrift.contains("violates its enforced contract") &&
      typeDrift.contains("declared BIGINT") && typeDrift.contains("INT"))
    // missing declared column
    assert(failing("select k from {{ ref('src') }}")
      .contains("missing declared column label"))
    // undeclared extra column
    assert(failing("select k, label, 1 as extra from {{ ref('src') }}")
      .contains("undeclared column extra"))
    // ALL drift axes in one failure (refactor UX): drop one, add one
    val multi = failing("select cast(k as int) as k, 1 as extra from {{ ref('src') }}")
    assert(multi.contains("missing declared column label") &&
      multi.contains("undeclared column extra") && multi.contains("column k"))
    // a contract naming an unknown model fails before anything builds
    assert(intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("other", "select 1 as x")), seeds,
        contracts = Seq(SchemaConfig.Contract("typed", Seq("k" -> "bigint"))))
    }.getMessage.contains("unknown models: typed"))
    // an unparseable declared type names the column and model
    assert(intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("typed", "select k, label from {{ ref('src') }}")),
        seeds, contracts = Seq(SchemaConfig.Contract("typed",
          Seq("k" -> "not_a_type", "label" -> "string"))))
    }.getMessage.contains("cannot parse data_type 'not_a_type'"))
  }

  test("contract parsing: enforced requires data_type everywhere; unenforced models yield none") {
    // un-enforced (absent config, or enforced: false) → no contract
    assert(SchemaConfig.contracts("""
models:
  - name: plain
    columns:
      - name: k
        tests: [not_null]
  - name: disabled
    config:
      contract:
        enforced: false
    columns:
      - name: k
        data_type: bigint
""") === Seq.empty)
    // enforced without a data_type on some column fails fast
    val e = intercept[IllegalArgumentException] {
      SchemaConfig.contracts("""
models:
  - name: broken
    config:
      contract:
        enforced: true
    columns:
      - name: k
        data_type: bigint
      - name: untyped
""")
    }
    assert(e.getMessage.contains("broken.untyped"))
    // enforced with no columns at all fails fast
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.contracts("""
models:
  - name: empty
    config:
      contract:
        enforced: true
""")
    }.getMessage.contains("needs `columns`"))
    // contracts and generic tests parse from the SAME yaml (one file,
    // dbt's authoring reality)
    val both = """
models:
  - name: typed
    config:
      contract:
        enforced: true
    columns:
      - name: k
        data_type: bigint
        tests:
          - unique
"""
    assert(SchemaConfig.contracts(both).head.columns === Seq("k" -> "bigint"))
    assert(SchemaConfig.tests(both).map(_.name) === Seq("unique_typed_k"))
  }

  // ---- analyses (dbt analysis-paths, r13 verdict item 3) ----

  private val analysisModels = Seq(
    SqlModel("stg_loans", FictionBankSql.StgLoans, View),
    SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table))

  test("analyses compile through the full Jinja pipeline and never materialize") {
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-analyses").toString)
    val macros = JinjaMacros.parse(
      "{% macro big(col) %}({{ col }} > {{ var('floor') }}){% endmacro %}")
    val a = Analysis("large_loans", """
      select loan_id, loan_amount from {{ ref('fct_loan_details') }}
      where {{ big('loan_amount') }}
      {% if false %} and 1 = 0 {% endif %}""")
    val compiled = dag.compileAnalyses(Seq(a), analysisModels,
      seeds = fictionBankSeeds.keySet, macros = macros,
      vars = Map("floor" -> "100000"))
    val sql = compiled("large_loans")
    // vars + control flow + macros rendered; ref() resolved to the
    // relation name; nothing Jinja survives
    assert(sql.contains("(loan_amount > 100000)"))
    assert(sql.contains("from fct_loan_details"))
    assert(!sql.contains("{{") && !sql.contains("{%"))
    // the compiled text is RUNNABLE (a user pastes it into a session
    // where the models exist) — but compileAnalyses itself ran nothing
    // and materialized nothing: the relation is not addressable
    assert(!spark.catalog.tableExists("large_loans"))
    // lineage validation fails fast, dbt's compile error
    assert(intercept[IllegalArgumentException] {
      dag.compileAnalyses(Seq(Analysis("bad", "select * from {{ ref('nope') }}")),
        analysisModels, seeds = fictionBankSeeds.keySet)
    }.getMessage.contains("refs unknown relations: nope"))
    assert(intercept[IllegalArgumentException] {
      dag.compileAnalyses(Seq(Analysis("bad_src",
        "select * from {{ source('ext', 'raw') }}")), analysisModels)
    }.getMessage.contains("undeclared sources"))
    // one namespace: an analysis cannot shadow a model, names unique
    assert(intercept[IllegalArgumentException] {
      dag.compileAnalyses(Seq(Analysis("stg_loans", "select 1")),
        analysisModels)
    }.getMessage.contains("shadow models"))
    assert(intercept[IllegalArgumentException] {
      dag.compileAnalyses(Seq(Analysis("a", "select 1"),
        Analysis("a", "select 2")), analysisModels)
    }.getMessage.contains("duplicate analysis names"))
  }

  test("analysis: selector — sink semantics, ancestors closure, unknown names refused") {
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-asel").toString)
    val a = Analysis("loan_audit",
      "select * from {{ ref('fct_loan_details') }}")
    // bare form selects no models (the analysis itself runs nothing)
    assert(dag.selectModels(analysisModels, Seq("analysis:loan_audit"),
      analyses = Seq(a)) === Nil)
    // +analysis:name = everything the analysis reads, ancestors closed
    assert(dag.selectModels(analysisModels, Seq("+analysis:loan_audit"),
      analyses = Seq(a)).map(_.name).toSet ===
      Set("stg_loans", "fct_loan_details"))
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(analysisModels, Seq("+analysis:nope"),
        analyses = Seq(a))
    }.getMessage.contains("unknown analysis 'nope'"))
    // descendants suffix is a contradiction on a compile-only sink
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(analysisModels, Seq("analysis:loan_audit+"),
        analyses = Seq(a))
    }.getMessage.contains("no descendants"))
  }

  test("analyses in the state manifest: an edit (or macro edit) flags state:modified (8a)") {
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-astate").toString)
    val macros = JinjaMacros.parse(
      "{% macro floor_amt() %}50000{% endmacro %}")
    val a = Analysis("audit",
      "select * from {{ ref('stg_loans') }} where loan_amount > {{ floor_amt() }}")
    val manifest = dag.stateManifest(analysisModels, macros,
      analyses = Seq(a))
    assert(manifest.contains("analysis:audit"))
    // unchanged: neither new nor modified
    assert(dag.analysisStateDiff(Seq(a), manifest, macros) ===
      ((Set.empty[String], Set.empty[String])))
    // a body edit flags modified, like any node
    val edited = a.copy(jinjaSql = a.jinjaSql + " and loan_amount < 1000000")
    assert(dag.analysisStateDiff(Seq(edited), manifest, macros)._2 ===
      Set("audit"))
    // a macro edit the analysis expands flags it too (compiled checksum)
    val editedMacro = JinjaMacros.parse(
      "{% macro floor_amt() %}60000{% endmacro %}")
    assert(dag.analysisStateDiff(Seq(a), manifest, editedMacro)._2 ===
      Set("audit"))
    // a brand-new analysis reports new
    assert(dag.analysisStateDiff(
      Seq(a, Analysis("fresh", "select 1")), manifest, macros)._1 ===
      Set("fresh"))
    // model-side stateDiff is undisturbed by analysis entries
    assert(dag.stateDiff(analysisModels, manifest) ===
      ((Set.empty[String], Set.empty[String])))
  }

  // ---- selectors.yml (dbt --selector, r13 verdict item 5) ----

  private val selectorModels = Seq(
    SqlModel("stg_a", "select 1 as k", tags = Seq("nightly")),
    SqlModel("stg_b", "select 2 as k", tags = Seq("nightly", "deprecated")),
    SqlModel("mart_a", "select * from {{ ref('stg_a') }}", tags = Seq("mart")),
    SqlModel("mart_b", "select * from {{ ref('stg_b') }}", tags = Seq("mart")))

  private val selectorsYaml = """
selectors:
  - name: nightly_marts
    description: marts fed by nightly staging, minus deprecated lineage
    definition:
      union:
        - method: tag
          value: nightly
          children: true
        - exclude:
            - method: tag
              value: deprecated
              children: true
  - name: mart_of_nightly
    default: true
    definition:
      intersection:
        - method: tag
          value: mart
        - tag:nightly+
  - name: around_stg_a
    definition:
      method: fqn
      value: stg_a
      childrens_parents: true
"""

  test("selectors.yml: parse, closed vocabulary, default uniqueness, refusals") {
    val sels = SchemaConfig.selectors(selectorsYaml)
    assert(sels.map(_.name) === Seq("nightly_marts", "mart_of_nightly",
      "around_stg_a"))
    assert(SchemaConfig.chooseSelector(sels).map(_.name) ===
      Some("mart_of_nightly")) // default: true honored
    assert(SchemaConfig.chooseSelector(sels, Some("around_stg_a")).get
      .definition === SchemaConfig.SelectorDef.Token("@stg_a"))
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.chooseSelector(sels, Some("typo"))
    }.getMessage.contains("unknown selector 'typo'"))
    // closed vocabulary at every level
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.selectors(
        "selectors:\n  - name: s\n    defualt: true\n    definition: stg_a")
    }.getMessage.contains("unknown keys defualt"))
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.selectors("selectors:\n  - name: s\n    definition:\n" +
        "      method: regex\n      value: x")
    }.getMessage.contains("unknown method 'regex'"))
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.selectors("selectors:\n  - name: s\n    definition:\n" +
        "      method: tag\n      value: x\n      recursive: true")
    }.getMessage.contains("unknown definition keys recursive"))
    // exclude cannot be the whole definition
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.selectors("selectors:\n  - name: s\n    definition:\n" +
        "      exclude: [stg_a]")
    }.getMessage.contains("cannot be the whole definition"))
    // at most one default
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.selectors("selectors:\n" +
        "  - name: a\n    default: true\n    definition: stg_a\n" +
        "  - name: b\n    default: true\n    definition: stg_b")
    }.getMessage.contains("multiple selectors claim default"))
  }

  test("selectModels(selector=…): union/intersection/exclude composition over the graph") {
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-sel").toString)
    val sels = SchemaConfig.selectors(selectorsYaml)
    def byName(n: String) =
      SchemaConfig.chooseSelector(sels, Some(n)).map(_.definition)
    // union of tag:nightly+ minus tag:deprecated+ = stg_a's lineage only
    assert(dag.selectModels(selectorModels, Nil,
      selector = byName("nightly_marts")).map(_.name) ===
      Seq("stg_a", "mart_a"))
    // intersection: marts that sit downstream of nightly staging
    assert(dag.selectModels(selectorModels, Nil,
      selector = byName("mart_of_nightly")).map(_.name) ===
      Seq("mart_a", "mart_b"))
    // method-form @ operator round-trips through the token grammar
    assert(dag.selectModels(selectorModels, Nil,
      selector = byName("around_stg_a")).map(_.name) ===
      Seq("stg_a", "mart_a"))
    // dbt: --selector replaces --select/--exclude
    assert(intercept[IllegalArgumentException] {
      dag.selectModels(selectorModels, Seq("stg_a"),
        selector = byName("nightly_marts"))
    }.getMessage.contains("selector cannot combine"))
  }

  // ---- package loader (dbt deps, r13 verdict item 4) ----

  test("Packages.load: macros under both spellings, models as a sub-DAG, vars with root precedence") {
    val s = spark
    val pkg = Packages.load(graft.SparkSpec.resource("/dbt_packages/metrics_pkg"))
    assert(pkg.name === "metrics_pkg")
    assert(pkg.vars === Map("rate_scale" -> "100", "min_amount" -> "0"))
    // bare + qualified spellings both registered (dbt's dispatch)
    assert(pkg.macros.map(_.name).toSet ===
      Set("scaled_rate", "metrics_pkg.scaled_rate"))
    assert(pkg.models.map(_.name) === Seq("pkg_rate_summary"))
    val dag = new SqlDag(s,
      java.nio.file.Files.createTempDirectory("graft-pkg").toString)
    // package model builds inside the run with the package's own var
    // defaults; it refs the ROOT project's seed
    val built = dag.run(Nil, fictionBankSeeds, packages = Seq(pkg))
    val r = built("pkg_rate_summary")
    assert(r.count() === 10)
    assert(r.filter(col("loan_id") === "L001").head()
      .getAs[Any]("rate_pct").toString.toDouble === 350.0) // 3.5 * 100
    // root-project vars override package defaults (dbt precedence)
    val overridden = dag.run(Nil, fictionBankSeeds, packages = Seq(pkg),
      vars = Map("rate_scale" -> "1000"))
    assert(overridden("pkg_rate_summary").filter(col("loan_id") === "L001")
      .head().getAs[Any]("rate_pct").toString.toDouble === 3500.0)
  }

  test("package collisions refuse: macro names across project/packages, duplicate packages") {
    val pkg = Packages.load(graft.SparkSpec.resource("/dbt_packages/metrics_pkg"))
    val dag = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-pkgc").toString)
    // a project macro with a package macro's name: refused, not shadowed
    val clash = JinjaMacros.parse(
      "{% macro scaled_rate(rate) %}0{% endmacro %}")
    assert(intercept[IllegalArgumentException] {
      dag.run(Nil, fictionBankSeeds, packages = Seq(pkg), macros = clash)
    }.getMessage.contains("macro name collisions"))
    assert(intercept[IllegalArgumentException] {
      dag.run(Nil, fictionBankSeeds, packages = Seq(pkg, pkg))
    }.getMessage.contains("duplicate package names"))
    // a project model colliding with a package model falls to the
    // existing duplicate-name refusal
    assert(intercept[IllegalArgumentException] {
      dag.run(Seq(SqlModel("pkg_rate_summary", "select 1 as one")),
        fictionBankSeeds, packages = Seq(pkg))
    }.getMessage.contains("duplicate model names"))
    // not-a-package and bad layout refusals
    assert(intercept[IllegalArgumentException] {
      Packages.load("/definitely/not/here")
    }.getMessage.contains("not found"))
    val empty = java.nio.file.Files.createTempDirectory("graft-nopkg")
    assert(intercept[IllegalArgumentException] {
      Packages.load(empty.toString)
    }.getMessage.contains("no dbt_project.yml"))
  }

  test("dbt_utils re-loaded through the package loader equals the hand-registered shims (q41's degenerate case)") {
    // write the SAME shim text as an on-disk package (the state `dbt
    // deps` leaves) and load it — the registry must come out identical,
    // so q41's call sites compile identically either way
    val dir = java.nio.file.Files.createTempDirectory("graft-dbtutils")
    java.nio.file.Files.createDirectories(dir.resolve("macros"))
    java.nio.file.Files.write(dir.resolve("dbt_project.yml"),
      "name: dbt_utils\nversion: \"1.3.0\"\n".getBytes)
    java.nio.file.Files.write(dir.resolve("macros/shims.sql"),
      DbtUtils.macroSource.getBytes)
    val pkg = Packages.load(dir.toString)
    assert(pkg.models.isEmpty && pkg.vars.isEmpty)
    assert(pkg.macros.toSet === DbtUtils.macros.toSet)
    // and a q41-shaped call site renders identically through either
    val call = "select {{ dbt_utils.safe_divide('a', 'b') }} as r"
    assert(JinjaMacros.renderModel(call, pkg.macros) ===
      JinjaMacros.renderModel(call, DbtUtils.macros))
  }

  test("run-operation: macro with args executes through the full Jinja pipeline; unknown name refuses") {
    val dag = new SqlDag(spark, "/tmp/unused-wh")
    spark.sql("DROP TABLE IF EXISTS op_audit")
    spark.sql("CREATE TABLE op_audit (tag STRING, n INT) USING parquet")
    try {
      val macros = JinjaMacros.parse("""
        {% macro log_audit(tag, n=1) %}
          INSERT INTO op_audit VALUES ('{{ tag }}', {{ n }})
        {% endmacro %}
        {% macro count_audit() %}
          SELECT count(*) AS n FROM op_audit
        {% endmacro %}
        {% macro noop_macro() %}{% endmacro %}""")
      // kwargs + a default-taken parameter, dbt's --args shape
      dag.runOperation("log_audit", Seq("tag" -> "'manual'"), macros)
      dag.runOperation("log_audit", Seq("tag" -> "'manual'", "n" -> "5"), macros)
      val rows = spark.table("op_audit").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      assert(rows === Set(("manual", 1), ("manual", 5)))
      // the returned statement result is the executed query's frame
      val counted = dag.runOperation("count_audit", Nil, macros)
      assert(counted.map(_.head().getLong(0)) === Some(2L))
      // a macro rendering to blank has nothing to execute
      assert(dag.runOperation("noop_macro", Nil, macros).isEmpty)
      // refusals: unknown macro name (dbt's compilation error), with
      // the registered names in the message; missing required arg
      val e = intercept[IllegalArgumentException] {
        dag.runOperation("no_such_macro", Nil, macros)
      }
      assert(e.getMessage.contains("no macro named 'no_such_macro'"))
      assert(e.getMessage.contains("log_audit"))
      assert(intercept[IllegalArgumentException] {
        dag.runOperation("log_audit", Nil, macros)
      }.getMessage.contains("missing required argument"))
    } finally spark.sql("DROP TABLE IF EXISTS op_audit")
  }

  test("clean: deletes declared clean-targets inside the project, refuses escapes") {
    val proj = java.nio.file.Files.createTempDirectory("graft-clean")
    java.nio.file.Files.createDirectories(proj.resolve("target/run"))
    java.nio.file.Files.createDirectories(proj.resolve("dbt_packages"))
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.write(proj.resolve("target/run/artifact.json"),
      "{}".getBytes)
    // reference dbt_project.yml:13-15 declares these two targets;
    // a missing one is skipped (clean is idempotent), not an error
    val deleted = SqlDag.clean(proj.toString,
      Seq("target", "dbt_packages", "logs"))
    assert(deleted === Seq("target", "dbt_packages"))
    assert(!java.nio.file.Files.exists(proj.resolve("target")))
    assert(!java.nio.file.Files.exists(proj.resolve("dbt_packages")))
    assert(java.nio.file.Files.exists(proj.resolve("models")))
    // guard rails: escaping/absolute/self targets refuse before
    // anything is deleted
    for (bad <- Seq("../outside", "/tmp", ".", "models/../../x"))
      assert(intercept[IllegalArgumentException] {
        SqlDag.clean(proj.toString, Seq(bad))
      }.getMessage.contains("escapes"), s"target '$bad' should refuse")
    assert(intercept[IllegalArgumentException] {
      SqlDag.clean(proj.toString, Nil)
    }.getMessage.contains("at least one target"))
  }

  test("profiles.yml: target selection drives the warehouse dir and threads of a run") {
    val yaml = """
fiction_bank:
  target: dev
  outputs:
    dev:
      path: PATH_DEV
      schema: dev
      threads: 1
    prod:
      warehouse_dir: PATH_PROD
      threads: 4
other_profile:
  target: only
  outputs:
    only:
      path: /elsewhere
"""
    val devDir = java.nio.file.Files.createTempDirectory("graft-prof-dev").toString
    val prodDir = java.nio.file.Files.createTempDirectory("graft-prof-prod").toString
    val profiles = Profiles.parse(
      yaml.replace("PATH_DEV", devDir).replace("PATH_PROD", prodDir))
    // default target (profile's own `target:`) vs --target override
    val dev = Profiles.select(profiles, "fiction_bank")
    assert((dev.name, dev.warehouseDir, dev.schema, dev.threads)
      === ("dev", devDir, Some("dev"), 1))
    val prod = Profiles.select(profiles, "fiction_bank", Some("prod"))
    assert((prod.name, prod.warehouseDir, prod.schema, prod.threads)
      === ("prod", prodDir, None, 4))
    // the target parameterizes a real run: marts land in ITS warehouse
    val models = Seq(SqlModel("prof_mart",
      "select loan_id from {{ ref('raw_loans') }}", Table))
    new SqlDag(spark, prod.warehouseDir)
      .run(models, fictionBankSeeds, threads = prod.threads)
    assert(new java.io.File(s"$prodDir/prof_mart").exists())
    assert(!new java.io.File(s"$devDir/prof_mart").exists())
    // refusals name what exists — dbt's error shape
    assert(intercept[IllegalArgumentException] {
      Profiles.select(profiles, "missing_profile")
    }.getMessage.contains("fiction_bank"))
    assert(intercept[IllegalArgumentException] {
      Profiles.select(profiles, "fiction_bank", Some("staging"))
    }.getMessage.contains("dev, prod"))
    // config errors fail at parse: no outputs / bad default / bad
    // threads / disagreeing path spellings
    for (bad <- Seq(
      "p:\n  target: dev\n",
      "p:\n  target: x\n  outputs:\n    dev:\n      path: /a\n",
      "p:\n  target: dev\n  outputs:\n    dev:\n      path: /a\n      threads: 0\n",
      "p:\n  target: dev\n  outputs:\n    dev:\n      path: /a\n      warehouse_dir: /b\n"))
      intercept[IllegalArgumentException] { Profiles.parse(bad) }
  }
}
