package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic dbt-style SQL DAG runner: takes ARBITRARY model SQL texts (the
  * user's own files, not just the reference's four — see
  * [[FictionBankSql]] for those), extracts `{{ ref('x') }}` dependencies,
  * topologically orders, and materializes each model per its declared
  * strategy, mirroring dbt_project.yml semantics (staging → view, marts →
  * table; reference: dbt_project.yml:19-22):
  *
  *  - `View`: registered as a temp view — downstream refs compose into
  *    one Catalyst plan (dbt's view behavior), and the relation stays
  *    addressable after the run.
  *  - `Table`: written to parquet under the warehouse dir and RE-READ, so
  *    downstream refs scan the materialized table, not the live plan —
  *    dbt's cut-point semantics, and the scale behavior you want anyway
  *    (a mart computed once, consumed many times).
  *  - `Ephemeral`: dbt's third strategy (not used by the reference, whose
  *    dbt_project.yml:19-22 configures only view/table) — the model's
  *    plan is INLINED into each consumer and nothing exists in the
  *    warehouse afterward. Spark-native expression: analysis is eager
  *    (`Dataset.ofRows` asserts it), so every consumer's analyzed plan
  *    embeds the ephemeral subtree at build time exactly like dbt's CTE
  *    interpolation; the temp view that carried the name during the
  *    build is dropped before `run` returns, so the relation is not
  *    addressable — same observable contract as dbt.
  *
  * Scale: the runner itself only orchestrates — per-model work is
  * whatever the SQL plans to; nothing is collected driver-side.
  */
object SqlDag {

  sealed trait Materialization
  case object View extends Materialization
  case object Table extends Materialization
  case object Ephemeral extends Materialization

  /** One model: a name, its Jinja-SQL text, and how to materialize it.
    * Companion-level type so model lists can be built once and shared
    * across runner instances.
    *
    * `preHooks`/`postHooks` are dbt's `pre-hook`/`post-hook` config:
    * SQL statements executed via `spark.sql` immediately before / after
    * the model materializes (audit inserts, ANALYZE, GRANT-style side
    * effects). Hooks render through the same Jinja pipeline as the
    * model text (macros, vars, control flow) plus `{{ this }}` → the
    * model's relation name, dbt's convention. Hook side effects are
    * catalog state, not model output — they never appear in the
    * returned frames, but they DO participate in the state manifest
    * (dbt's `state:modified` hashes node config, hooks included — a
    * CI run must not skip a model whose audit/GRANT hook changed).
    */
  /** `tags` is dbt's `+tags` node config: free-form labels selectable
    * with `tag:name` tokens (`dbt run --select tag:nightly`).
    */
  final case class SqlModel(name: String, jinjaSql: String,
      materialization: Materialization = View,
      preHooks: Seq[String] = Nil, postHooks: Seq[String] = Nil,
      tags: Seq[String] = Nil)

  /** One dbt analysis (`analysis-paths`, reference dbt_project.yml:7):
    * a Jinja-SQL text that COMPILES through the full pipeline — vars,
    * control flow, macros, ref()/source() resolution, manifest lineage
    * — but never materializes (dbt compiles analyses to target/compiled
    * and stops). The home for exploratory/audit SQL a migrating project
    * carries in its `analyses/` directory.
    */
  final case class Analysis(name: String, jinjaSql: String)

  /** `{{ ref('x') }}` in either dbt quote form (single or double): one
    * pattern drives dependency EXTRACTION ([[SqlDag.refsOf]]) and
    * RENDERING ([[render]]), so the two can never disagree on what counts
    * as a ref.
    */
  val RefPattern: scala.util.matching.Regex =
    raw"""\{\{\s*ref\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""".r
  private val DateTruncPattern =
    raw"\{\{\s*date_trunc\('([^']+)',\s*'([^']+)'\)\s*\}\}".r

  /** Render the two Jinja constructs left after macro expansion: `ref('x')`
    * → the relation name `x` (models/seeds registered as temp views), and
    * the reference project's `date_trunc(part, col)` macro → the SQL
    * function call (both Spark and DuckDB spell it `date_trunc('month',
    * col)`). The macro substitution is unconditional: a build that passes
    * no `macros` still renders `{{ date_trunc(...) }}`.
    */
  def render(jinjaSql: String): String = {
    val refs = RefPattern.replaceAllIn(jinjaSql, m => m.group(1))
    DateTruncPattern.replaceAllIn(refs,
      m => s"date_trunc('${m.group(1)}', ${m.group(2)})")
  }

  /** A compiled text as runnable SQL: `source()` spans become their
    * registered view names ([[sourceViewName]]) — resolved only at build
    * time, since selection still needs them as graph edges — then
    * [[render]] resolves the rest.
    */
  private def runnable(sql: String): String =
    render(SourcePattern.replaceAllIn(sql,
      m => sourceViewName(m.group(1), m.group(2))))

  /** dbt's `{{ source('src', 'table') }}` — the staging-layer idiom the
    * reference never uses (its seed-only project refs even raw CSVs via
    * `ref()`, stg_loans.sql:2), but the single most common dbt pattern
    * against real warehouses. Both quote forms, whitespace-control
    * markers tolerated like [[ThisPattern]].
    */
  val SourcePattern: scala.util.matching.Regex =
    raw"""\{\{-?\s*source\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)\s*-?\}\}""".r

  /** The temp-view name a declared source table registers under — one
    * deterministic mangling shared by registration and substitution.
    * Namespaced (`__src_`) so a user model name can never collide
    * silently; [[SqlDag.run]] refuses models that use the prefix.
    */
  def sourceViewName(source: String, table: String): String =
    s"__src_${source}__$table"

  /** dbt's `{{ this }}` in a hook body: the model's own relation name
    * (whitespace-control markers tolerated like every other span).
    */
  private val ThisPattern = raw"\{\{-?\s*this\s*-?\}\}".r

  /** One parsed `--select`/`--exclude` token: dbt's graph-operator
    * syntax (reference lifecycle README.md:44-55).
    *   - `model`   → just the model
    *   - `model+`  → the model and all DESCENDANTS
    *   - `+model`  → the model and all ANCESTORS
    *   - `+model+` → both closures
    *   - `@model`  → the model, its descendants, and every ancestor of
    *                 those descendants (dbt's build-the-world-around-it
    *                 operator for populating a node's full context)
    *   - `state:modified` / `state:new` → models changed / added vs a
    *     previous [[SqlDag.stateManifest]] (dbt's CI idiom; `modified`
    *     includes `new`, as in dbt). `+`/closure suffixes compose:
    *     `state:modified+` rebuilds everything downstream of a change.
    */
  private final case class Selector(name: String, ancestors: Boolean,
      descendants: Boolean, at: Boolean)

  private val SelectorPattern =
    ("^(\\+)?(@)?([A-Za-z0-9_]+|state:modified|state:new" +
      "|exposure:[A-Za-z0-9_]+|tag:[A-Za-z0-9_]+|analysis:[A-Za-z0-9_]+" +
      "|source:[A-Za-z0-9_]+(?:\\.[A-Za-z0-9_]+)?)(\\+)?$").r

  private def parseSelector(token: String): Selector = token match {
    case SelectorPattern(plus0, at, name, plus1) =>
      require(at == null || (plus0 == null && plus1 == null),
        s"@ cannot combine with +: '$token'")
      Seq("state:", "exposure:", "tag:", "source:", "analysis:").foreach(p =>
        require(at == null || !name.startsWith(p),
          s"@ cannot combine with $p selectors: '$token'"))
      // exposures are graph sinks — a descendants closure is always
      // empty, so a trailing + can only be a mistyped +exposure:name
      require(plus1 == null || !name.startsWith("exposure:"),
        s"'$token': exposures have no descendants; did you mean +$token?")
      // analyses never materialize, so nothing can be downstream of one
      require(plus1 == null || !name.startsWith("analysis:"),
        s"'$token': analyses have no descendants; did you mean +$token?")
      // sources are graph ROOTS — mirror image of the exposure guard:
      // nothing is upstream of a source, so +source: is a mistyped
      // source:…+ (the working idiom, "everything this source feeds")
      require(plus0 == null || !name.startsWith("source:"),
        s"'$token': sources have no ancestors; did you mean ${token.drop(1)}+?")
      Selector(name, ancestors = plus0 != null, descendants = plus1 != null,
        at = at != null)
    case _ => throw new IllegalArgumentException(
      s"unsupported selector '$token' (supported: model, model+, +model, " +
        "+model+, @model, state:modified, state:new, exposure:name, " +
        "+exposure:name, tag:name, source:name, source:name.table, " +
        "analysis:name, +analysis:name)")
  }

  /** Jackson (shipped with Spark) for every manifest: RFC-8259-complete
    * escaping of any model/column name; thread-safe once configured.
    * Lazy, so a run that writes no manifest never builds it.
    */
  private lazy val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** `dbt clean` — delete the project's build-artifact directories
    * (reference `dbt_project.yml:13-15` declares
    * `clean-targets: [target, dbt_packages]`). Housekeeping, not query
    * semantics: each target is resolved against `projectDir` and
    * REFUSED if it normalizes outside it (dbt's own
    * clean-project-files-only guard — `clean-targets: ["/"]` must be a
    * config error, never an rm -rf /), or if it IS the project root.
    * Missing targets are skipped (clean is idempotent). Returns the
    * project-relative paths actually deleted.
    */
  def clean(projectDir: String, targets: Seq[String]): Seq[String] = {
    require(targets.nonEmpty,
      "clean needs at least one target (dbt_project.yml clean-targets)")
    val root = java.nio.file.Paths.get(projectDir).toAbsolutePath.normalize
    require(java.nio.file.Files.isDirectory(root),
      s"project directory not found: $projectDir")
    val resolved = targets.map { t =>
      val p = root.resolve(t).normalize
      require(p.startsWith(root) && p != root,
        s"clean target '$t' escapes (or is) the project directory — " +
          "clean only deletes inside the project, like dbt's " +
          "clean-project-files-only guard")
      t -> p
    }
    resolved.collect {
      case (t, p) if java.nio.file.Files.exists(p) =>
        graft.sources.FsUtil.deleteTree(p)
        t
    }
  }

  /** One `dbt build` node outcome. `status`:
    *   - "success": the node built (seeds count as built inputs); its
    *     `tests` carry each declared test's verdict — a node whose
    *     ERROR-severity test failed is still "success" (the relation
    *     exists in the warehouse; dbt marks the TEST failed and skips
    *     the node's descendants),
    *   - "skipped": an ancestor died — `cause` names WHICH ancestor
    *     (the nearest dead ref, ties broken alphabetically),
    *   - "error": the node's own build threw — `cause` is the message.
    */
  final case class BuildNodeResult(name: String, status: String,
      tests: Seq[GenericTests.TestResult], cause: Option[String]) {
    /** true when scheduling continued past this node. */
    def gatePassed: Boolean =
      status == "success" && tests.forall(_.status != "error")
  }

  /** A [[SqlDag.build]] run's full report: per-node outcomes in
    * execution order, plus the relations that actually materialized
    * (the same shape [[SqlDag.run]] returns, minus skipped/failed
    * nodes).
    */
  final case class BuildResult(nodes: Seq[BuildNodeResult],
      relations: Map[String, DataFrame]) {
    def statusOf(name: String): Option[String] =
      nodes.find(_.name == name).map(_.status)
    /** The run-level verdict dbt's exit code encodes: true iff nothing
      * errored, nothing was skipped, and no error-severity test failed.
      */
    def success: Boolean = nodes.forall(_.gatePassed)
  }
}

class SqlDag(spark: SparkSession, warehouseDir: String) {
  import SqlDag._

  /** `ref()` targets of one model text (both dbt quote forms; the same
    * [[SqlDag.RefPattern]] drives rendering, so extraction and
    * substitution cannot drift).
    */
  def refsOf(jinjaSql: String): Set[String] =
    RefPattern.findAllMatchIn(jinjaSql).map(_.group(1)).toSet

  /** `source()` targets of one model text as (source, table) pairs. */
  def sourcesOf(jinjaSql: String): Set[(String, String)] =
    SqlDag.SourcePattern.findAllMatchIn(jinjaSql)
      .map(m => (m.group(1), m.group(2))).toSet

  /** Lineage graph over the given models (seeds appear as leaf deps). */
  def lineage(models: Seq[SqlModel]): Map[String, Set[String]] =
    models.map(m => m.name -> refsOf(m.jinjaSql)).toMap

  /** Source edges of the models: model name → its declared (source,
    * table) dependencies — the staging layer's half of the lineage
    * graph ([[lineage]] carries the ref() half).
    */
  def sourceLineage(models: Seq[SqlModel]): Map[String, Set[(String, String)]] =
    models.map(m => m.name -> sourcesOf(m.jinjaSql)).toMap

  /** The selection-state manifest of a model set (dbt's manifest.json
    * reduced to what `state:` selection needs): per model its
    * materialization, sorted `ref()` deps, a checksum of the COMPILED
    * (Jinja-rendered) SQL, and the rendered pre/post hooks (dbt's
    * `state:modified` hashes node CONFIG — hooks included — so a
    * hook-only edit must flag the model modified, or a CI
    * `state:modified` run would silently skip a model whose audit/GRANT
    * hook changed).
    * Checksumming the compiled text — not the raw file — means an edit
    * inside a `{% macro %}` marks every caller modified, dbt's
    * `state:modified.macros` behavior for free (hooks render through
    * the same pipeline, so a macro edit inside a hook propagates too;
    * `{{ this }}` stays un-substituted — it resolves to the model name
    * deterministically, so it carries no state). Driver-side string
    * work only.
    */
  /** `analyses` join the manifest as compile-only nodes keyed
    * `analysis:<name>` (namespaced — an analysis can never collide with
    * a model entry): checksum of the COMPILED text plus lineage, so an
    * edited analysis — or a macro edit its body expands — flags
    * `state:modified` like any node ([[analysisStateDiff]]).
    */
  def stateManifest(models: Seq[SqlModel],
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      analyses: Seq[Analysis] = Nil): String = {
    val root = Json.createObjectNode()
    analyses.foreach { a =>
      val rendered = JinjaMacros.renderModel(a.jinjaSql, macros, vars = vars)
      putNode(root, s"analysis:${a.name}", "analysis", rendered)
        .put("checksum", SqlDag.sha256Hex(rendered))
    }
    models.foreach { m =>
      val rendered = JinjaMacros.renderModel(m.jinjaSql, macros, vars = vars)
      val node = putNode(root, m.name,
        m.materialization.toString.toLowerCase, rendered)
      node.put("checksum", SqlDag.sha256Hex(rendered))
      if (m.tags.nonEmpty) {
        val tags = node.putArray("tags")
        m.tags.sorted.foreach(tags.add) // config: a tag edit flags modified
      }
      if (m.preHooks.nonEmpty) {
        val pre = node.putArray("pre_hook")
        m.preHooks.foreach(h =>
          pre.add(JinjaMacros.renderModel(h, macros, vars = vars)))
      }
      if (m.postHooks.nonEmpty) {
        val post = node.putArray("post_hook")
        m.postHooks.foreach(h =>
          post.add(JinjaMacros.renderModel(h, macros, vars = vars)))
      }
    }
    Json.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** One manifest node under `key`: its materialization and its sorted
    * `depends_on` — the text's `ref()` targets plus its source tables as
    * dbt-style qualified names (`source:src.table`), so a model switching
    * from one source table to another flags modified.
    */
  private def putNode(root: com.fasterxml.jackson.databind.node.ObjectNode,
      key: String, materialization: String, sql: String)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = root.putObject(key)
    node.put("materialization", materialization)
    val deps = node.putArray("depends_on")
    (refsOf(sql).toSeq ++
      sourcesOf(sql).toSeq.map(st => s"source:${st._1}.${st._2}"))
      .sorted.foreach(deps.add)
    node
  }

  /** `dbt docs generate` analog: the manifest artifact — every model node
    * with its materialization, upstream deps (as [[putNode]] writes them)
    * and, when `built` holds its relation, the output schema as `columns`
    * (dbt's manifest.json, reduced to what a project defines).
    * Driver-side metadata only: schemas come from the already-analyzed
    * frames; no job runs.
    */
  def manifest(models: Seq[SqlModel], built: Map[String, DataFrame]): String = {
    val root = Json.createObjectNode()
    models.foreach { m =>
      val node = putNode(root, m.name,
        m.materialization.toString.toLowerCase, m.jinjaSql)
      built.get(m.name).foreach { df =>
        val cols = node.putObject("columns")
        df.schema.fields.foreach(f => cols.put(f.name, f.dataType.simpleString))
      }
    }
    Json.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** (new, modified) model names of `models` vs a previous
    * [[stateManifest]]: new = absent from the manifest; modified =
    * present with a different compiled checksum, materialization, dep
    * set (refs AND source tables), tags, or rendered pre/post hooks.
    * Removed models are not selectable (they no longer exist).
    */
  def stateDiff(models: Seq[SqlModel], previousManifest: String,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty): (Set[String], Set[String]) = {
    diffNodes(models.map(m => m.name -> m.name), previousManifest,
      stateManifest(models, macros, vars))
  }

  /** (new, modified) names of `keys` (name → manifest key) between the
    * `previous` and `current` manifests: new = key absent from
    * `previous`, modified = key present with a different node.
    */
  private def diffNodes(keys: Seq[(String, String)], previous: String,
      current: String): (Set[String], Set[String]) = {
    val (prev, cur) = (Json.readTree(previous), Json.readTree(current))
    val (present, absent) = keys.partition { case (_, k) => prev.has(k) }
    (absent.map(_._1).toSet,
      present.collect { case (n, k) if prev.get(k) != cur.get(k) => n }.toSet)
  }

  /** (new, modified) ANALYSIS names vs a previous [[stateManifest]]
    * (built with its `analyses` argument) — the `state:modified`
    * contract extended to compile-only nodes: an edited analysis body,
    * a macro edit it expands, a changed ref/source set — any of them
    * flags the analysis, exactly like a model. Kept as its own diff
    * (not merged into [[stateDiff]]'s result) because analyses select
    * no models — the consumer is `dbt compile`-shaped tooling deciding
    * WHICH analyses to re-render, not the run's model selection.
    */
  def analysisStateDiff(analyses: Seq[Analysis], previousManifest: String,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty): (Set[String], Set[String]) = {
    diffNodes(analyses.map(a => a.name -> s"analysis:${a.name}"),
      previousManifest, stateManifest(Nil, macros, vars, analyses = analyses))
  }

  /** dbt node selection (`dbt run --select … --exclude …`): resolve graph
    * selectors over the models' manifest lineage and return the selected
    * sub-DAG in the original declaration order. Selector tokens support
    * dbt's operators (`model`, `model+`, `+model`, `+model+`, `@model`,
    * `state:modified`, `state:new` — see [[SqlDag.Selector]]); multiple
    * tokens union, `exclude` subtracts after selection (dbt's order of
    * operations). Empty `select` means every model (dbt's default
    * graph). Unknown names fail fast — a typo silently selecting
    * nothing is how a mart doesn't get rebuilt. `state:` selectors need
    * `state` = the previous [[stateManifest]] (dbt's `--state` dir) and
    * fail fast without it.
    *
    * Closures run over MODEL nodes only; seeds are dependency leaves,
    * never selected (dbt separates `dbt seed` from `dbt run`).
    *
    * `exposure:name` (dbt's exposure method, declared in schema.yml —
    * pass `exposures` = [[SchemaConfig.exposures]]) selects the
    * exposure NODE, which is a sink that runs nothing, so the bare form
    * contributes no models — dbt parity; the working idiom is
    * `+exposure:name`, "build everything this dashboard reads": the
    * exposure's `depends_on` models plus their ancestor closures. It
    * composes with `exclude` the same way (`--exclude +exposure:name`
    * = skip everything that report touches). Unknown exposure names
    * and `depends_on` entries naming unknown models fail fast.
    *
    * `macros`/`vars` matter ONLY to `state:` selectors: [[stateDiff]]
    * checksums the COMPILED text, so pass the same macro definitions and
    * var bindings the manifest was built with — calling with raw
    * macro-bearing models and macros = Nil would flag every macro-using
    * model modified (checksum of unexpanded vs expanded text) and miss
    * macro-introduced deps. [[run]] pre-expands models
    * before selecting, so its Nil stays consistent.
    */
  def selectModels(models: Seq[SqlModel], select: Seq[String],
      exclude: Seq[String] = Nil,
      state: Option[String] = None,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      exposures: Seq[SchemaConfig.Exposure] = Nil,
      analyses: Seq[Analysis] = Nil,
      selector: Option[SchemaConfig.SelectorDef] = None): Seq[SqlModel] = {
    // dbt: --selector is mutually exclusive with --select/--exclude —
    // a named selection IS the complete selection
    require(selector.isEmpty || (select.isEmpty && exclude.isEmpty),
      "selector cannot combine with select/exclude (dbt: --selector " +
        "replaces them; put exclusions in the selector definition)")
    val names = models.map(_.name).toSet
    val parents: Map[String, Set[String]] =
      lineage(models).map { case (n, deps) => n -> deps.intersect(names) }
    val children: Map[String, Set[String]] =
      models.map(m => m.name ->
        parents.collect { case (c, ps) if ps.contains(m.name) => c }.toSet).toMap
    def closure(start: String, edges: Map[String, Set[String]]): Set[String] = {
      var seen = Set(start)
      var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(edges(_)).diff(seen)
        seen ++= frontier
      }
      seen
    }
    def resolve(token: String): Set[String] = {
      val sel = SqlDag.parseSelector(token)
      // a node plus the closures its +/+ suffixes ask for
      def around(n: String): Set[String] = Set(n) ++
        (if (sel.ancestors) closure(n, parents) else Set.empty) ++
        (if (sel.descendants) closure(n, children) else Set.empty)
      if (sel.name.startsWith("exposure:")) {
        // dbt's exposure: method — the node itself is a sink that runs
        // nothing, so the bare form selects no models (dbt parity: the
        // useful idiom is +exposure:name, "build everything this
        // dashboard reads"). Ancestors = the exposure's depends_on
        // models plus THEIR ancestor closures.
        val expName = sel.name.stripPrefix("exposure:")
        val exp = exposures.find(_.name == expName).getOrElse(
          throw new IllegalArgumentException(
            s"selector '$token' names unknown exposure '$expName' " +
              s"(known: ${exposures.map(_.name).sorted.mkString(", ")})"))
        val badDeps = exp.dependsOn.filterNot(names.contains)
        require(badDeps.isEmpty,
          s"exposure '$expName' depends on unknown models: " +
            badDeps.mkString(", "))
        if (sel.ancestors)
          exp.dependsOn.toSet.flatMap((d: String) => closure(d, parents))
        else Set.empty
      } else if (sel.name.startsWith("analysis:")) {
        // dbt's analysis: method — compile-only sinks, the exposure
        // shape exactly: the node runs nothing, so the bare form
        // selects no models; +analysis:name = "build everything this
        // analysis reads" (its ref() targets plus their ancestors)
        val aName = sel.name.stripPrefix("analysis:")
        val a = analyses.find(_.name == aName).getOrElse(
          throw new IllegalArgumentException(
            s"selector '$token' names unknown analysis '$aName' " +
              s"(known: ${analyses.map(_.name).sorted.mkString(", ")})"))
        if (sel.ancestors)
          refsOf(JinjaMacros.renderModel(a.jinjaSql, macros, vars = vars))
            .intersect(names).flatMap(closure(_, parents))
        else Set.empty
      } else if (sel.name.startsWith("tag:")) {
        // dbt's tag: method — every model carrying the tag, with the
        // usual closure suffixes (tag:nightly+ = tagged models and
        // everything downstream)
        val tag = sel.name.stripPrefix("tag:")
        val tagged = models.filter(_.tags.contains(tag)).map(_.name).toSet
        tagged.flatMap(around)
      } else if (sel.name.startsWith("source:")) {
        // dbt's source: method — the source node itself runs nothing, so
        // the bare form selects no models (parity with exposures' sink
        // mirror-image); the working idiom is source:name+ — direct
        // consumers of the source (any table, or the named one) plus
        // their descendant closures
        val spec = sel.name.stripPrefix("source:")
        val (src, tbl) = spec.split("\\.", 2) match {
          case Array(s, t) => (s, Some(t))
          case Array(s)    => (s, None)
        }
        def hits(m: SqlModel) = sourcesOf(m.jinjaSql).exists {
          case (s, t) => s == src && tbl.forall(_ == t)
        }
        // a typo silently selecting nothing is the same hazard as an
        // unknown model name — fail fast against the declared edges
        require(models.exists(hits), s"selector '$token' names a source " +
          s"no model reads (known: ${models.flatMap(m => sourcesOf(m.jinjaSql))
            .map(st => s"${st._1}.${st._2}").distinct.sorted.mkString(", ")})")
        val consumers = models.filter(hits).map(_.name).toSet
        if (sel.descendants) consumers.flatMap(n => closure(n, children))
        else Set.empty
      } else if (sel.name.startsWith("state:")) {
        val prev = state.getOrElse(throw new IllegalArgumentException(
          s"selector '$token' needs the previous state manifest " +
            "(pass state = Some(stateManifest(...)))"))
        val (newNames, modified) = stateDiff(models, prev, macros, vars)
        val baseSet = sel.name match {
          case "state:new"      => newNames
          case "state:modified" => newNames ++ modified // dbt: modified ⊇ new
        }
        baseSet.flatMap(around)
      } else {
        require(names.contains(sel.name), s"selector '$token' names unknown model '${sel.name}'")
        if (sel.at) {
          val down = closure(sel.name, children)
          down ++ down.flatMap(closure(_, parents))
        } else around(sel.name)
      }
    }
    // selectors.yml composition: union/intersection combine their
    // non-exclude children; exclude children subtract from what the
    // siblings built (dbt's documented semantics). A bare token is the
    // degenerate one-element case.
    def evalDef(d: SchemaConfig.SelectorDef): Set[String] = d match {
      case SchemaConfig.SelectorDef.Token(tk) => resolve(tk)
      case SchemaConfig.SelectorDef.Union(of) =>
        val (ex, in) = of.partition(_.isInstanceOf[SchemaConfig.SelectorDef.Exclude])
        require(in.nonEmpty, "union of only exclude elements selects nothing")
        in.map(evalDef).reduce(_ union _) -- ex.flatMap {
          case SchemaConfig.SelectorDef.Exclude(e) => e.flatMap(evalDef)
          case _ => Nil
        }
      case SchemaConfig.SelectorDef.Intersection(of) =>
        val (ex, in) = of.partition(_.isInstanceOf[SchemaConfig.SelectorDef.Exclude])
        require(in.nonEmpty,
          "intersection of only exclude elements selects nothing")
        in.map(evalDef).reduce(_ intersect _) -- ex.flatMap {
          case SchemaConfig.SelectorDef.Exclude(e) => e.flatMap(evalDef)
          case _ => Nil
        }
      case SchemaConfig.SelectorDef.Exclude(_) =>
        // the parser refuses top-level excludes; nested ones are
        // consumed by their parent above
        throw new IllegalArgumentException(
          "exclude is only legal inside union/intersection")
    }
    val selected = selector match {
      case Some(d) => evalDef(d)
      case None =>
        if (select.isEmpty) names
        else select.map(resolve).reduce(_ union _)
    }
    val excluded =
      if (exclude.isEmpty) Set.empty[String]
      else exclude.map(resolve).reduce(_ union _)
    models.filter(m => selected.contains(m.name) && !excluded.contains(m.name))
  }

  /** `dbt compile` for the analyses directory: render each analysis
    * through the FULL Jinja pipeline (vars → control flow → macros),
    * validate its lineage against the project graph (unknown refs and
    * undeclared sources fail fast — an analysis is still a compiled
    * node, dbt errors the same way), and resolve `ref()`/`source()`
    * spans to the relation names a warehouse session would read — the
    * runnable SQL dbt writes to `target/compiled`. NOTHING executes
    * and nothing materializes: the returned texts are the product.
    *
    * Analysis names must be unique and must not shadow a model (one
    * manifest namespace per dbt). Driver-side string work only.
    */
  def compileAnalyses(analyses: Seq[Analysis], models: Seq[SqlModel],
      seeds: Set[String] = Set.empty,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      sources: Set[(String, String)] = Set.empty): Map[String, String] = {
    val dup = analyses.groupBy(_.name).collect { case (n, as) if as.size > 1 => n }
    require(dup.isEmpty, s"duplicate analysis names: ${dup.mkString(", ")}")
    val modelNames = models.map(_.name).toSet
    val shadowing = analyses.map(_.name).toSet.intersect(modelNames)
    require(shadowing.isEmpty,
      s"analysis names shadow models: ${shadowing.toSeq.sorted.mkString(", ")}")
    val known = modelNames ++ seeds
    scala.collection.immutable.ListMap(analyses.map { a =>
      val rendered = JinjaMacros.renderModel(a.jinjaSql, macros, vars = vars)
      val missing = refsOf(rendered).diff(known)
      require(missing.isEmpty,
        s"analysis ${a.name} refs unknown relations: " +
          missing.toSeq.sorted.mkString(", "))
      val missingSrc = sourcesOf(rendered).diff(sources)
      require(missingSrc.isEmpty,
        s"analysis ${a.name} reads undeclared sources: " +
          missingSrc.map(st => s"${st._1}.${st._2}").toSeq.sorted.mkString(", "))
      a.name -> runnable(rendered)
    }: _*)
  }

  /** `dbt run`: register seeds as views, build every model in dependency
    * order via `spark.sql` on the rendered text, materialize per config.
    * Fails fast on cycles, refs that resolve to neither a seed nor a
    * model, duplicate model names, and models shadowing a seed (dbt
    * errors on duplicate relation names; silently overwriting a seed
    * view would make sibling models' results depend on build order).
    *
    * `select`/`exclude` narrow the run to a sub-DAG with dbt's graph
    * operators (see [[selectModels]]). A selected model may ref an
    * UNSELECTED one — dbt's contract is that the upstream relation
    * already exists from a prior run; here that resolves to an existing
    * temp view (same session) or the model's warehouse parquet (Table
    * materializations from any session), and fails fast otherwise.
    *
    * `threads` mirrors dbt's profiles.yml `threads`: models with all
    * dependencies satisfied build CONCURRENTLY (wave-parallel over the
    * dependency frontier, a fixed pool of at most `threads`). Results
    * are identical to the sequential build — each model's input
    * relations are fully materialized before its wave starts, and
    * sibling models touch disjoint relation names.
    *
    * `macros` are the project's user-defined `{% macro %}` definitions
    * ([[JinjaMacros]]): every model text is Jinja-rendered FIRST — dbt
    * compiles Jinja before SQL — control flow (`{% if %}`/`{% for %}`)
    * unrolls, then macros expand, so dependency extraction, selection,
    * and the build all see refs a macro body or a loop iteration
    * introduces.
    *
    * `defer` is dbt's `--defer --state` CI companion to `state:`
    * selection: a ref that leaves the selection and has NO relation in
    * THIS environment resolves to the deferred environment's warehouse
    * (`defer` = that environment's warehouse dir) — so CI builds only
    * `state:modified+` against production inputs instead of rebuilding
    * the world. dbt's default precedence is kept: a relation that
    * already exists in the target environment wins over the deferred
    * one; `favorState = true` flips that (dbt's `--favor-state`).
    */
  /** `vars` are dbt project variables (`--vars` CLI overrides):
    * `{{ var('name') }}` / `{{ var('name', default) }}` in any model
    * text or macro body resolves against this map before control flow
    * and macro expansion; an undefined var with no default fails fast
    * ([[JinjaMacros.substituteVars]]).
    */
  /** `sources` declares the project's source tables (dbt's schema.yml
    * `sources:` + the warehouse relations they point at), keyed
    * (source_name, table_name): `{{ source('a', 'b') }}` in any model
    * text resolves to the registered frame. A model naming an
    * undeclared source fails fast — dbt's compilation error. Source
    * relations are graph ROOTS: they are inputs like seeds, never
    * built, and selectable via `source:a+` / `source:a.b+` tokens.
    *
    * `onRunStart`/`onRunEnd` are dbt_project.yml's `on-run-start` /
    * `on-run-end` hooks: SQL statements executed via `spark.sql` ONCE
    * per invocation — start hooks after seeds/sources register but
    * before the first model builds (so a start hook can create
    * relations models read: session-init, audit-open), end hooks after
    * the last model materializes (audit-close, summary tables). They
    * render through the same Jinja pipeline as model texts (macros,
    * vars, control flow) and may use `source()`; `{{ this }}` has no
    * meaning at project level (there is no "current model") and is
    * rejected by the SQL parser like any other unresolved span. Hooks
    * run even for a narrowed `select` — dbt's contract (project hooks
    * wrap the RUN, not a node) — but are skipped entirely when the
    * selection resolves to zero models, matching dbt's no-op runs.
    */
  /** `contracts` are the project's enforced model contracts
    * ([[SchemaConfig.contracts]], dbt ≥1.5 `contract: enforced`): when a
    * contracted model materializes, its ACTUAL schema is checked against
    * the declared column set and Spark-parsed types — the build FAILS
    * FAST on a missing declared column, an undeclared extra column, or
    * a type mismatch (dbt's semantics: the contract is the relation's
    * public API; a drift that shipped would break every downstream
    * consumer at read time instead of this model at build time). The
    * check is analysis-time metadata only — no data pass; a contract
    * naming an unknown model fails before anything builds.
    */
  /** `packages` are loaded dependency projects ([[Packages.load]] —
    * the `dbt deps` verb): their macros join the registry for EVERY
    * model (package macros are global in dbt), their models join the
    * DAG as a sub-DAG rendered with the package's own var defaults
    * (root-project `vars` override them, dbt's precedence). Collisions
    * refuse rather than shadow: a macro name defined by both the
    * project and a package (or two packages) fails fast — dbt's
    * dispatch would pick one silently, and which one is the kind of
    * surprise a build system must not ship; model name collisions fall
    * to the existing duplicate-name check.
    */
  def run(models: Seq[SqlModel], seeds: Map[String, DataFrame],
      threads: Int = 1, select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      state: Option[String] = None,
      defer: Option[String] = None,
      favorState: Boolean = false,
      vars: Map[String, String] = Map.empty,
      exposures: Seq[SchemaConfig.Exposure] = Nil,
      sources: Map[(String, String), DataFrame] = Map.empty,
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil,
      contracts: Seq[SchemaConfig.Contract] = Nil,
      packages: Seq[Packages.Package] = Nil,
      analyses: Seq[Analysis] = Nil,
      selector: Option[SchemaConfig.SelectorDef] = None): Map[String, DataFrame] = {
    require(threads >= 1, s"need threads >= 1, got $threads")
    require(defer.nonEmpty || !favorState,
      "favorState is only meaningful with defer (dbt: --favor-state " +
        "requires --defer)")
    val (expanded, startHooks, endHooks, expAnalyses) =
      expandJinja(models, macros, packages, vars, onRunStart, onRunEnd,
        analyses)
    runExpanded(expanded, seeds, threads, select, exclude, state, defer,
      favorState, exposures, sources,
      startHooks, endHooks, contracts, expAnalyses, selector)
  }

  /** The Jinja preamble [[run]] and [[build]] share: validate the
    * package/macro registries, render every model/hook/analysis text
    * through the macro pipeline (package models with the package's var
    * defaults, root vars overriding per key — dbt's var precedence).
    * Analyses are compile-only, but they ARE selection nodes
    * (+analysis:name builds what an analysis reads) — pre-rendered so
    * selection sees the refs macros/vars introduce, like models.
    */
  private def expandJinja(models: Seq[SqlModel],
      macros: Seq[JinjaMacros.MacroDef], packages: Seq[Packages.Package],
      vars: Map[String, String], onRunStart: Seq[String],
      onRunEnd: Seq[String], analyses: Seq[Analysis])
      : (Seq[SqlModel], Seq[String], Seq[String], Seq[Analysis]) = {
    val allMacros = macroRegistry(macros, packages)
    def jinja(text: String, v: Map[String, String] = vars) =
      JinjaMacros.renderModel(text, allMacros, vars = v)
    val expanded = models.map { m =>
      m.copy(jinjaSql = jinja(m.jinjaSql),
        preHooks = m.preHooks.map(jinja(_)),
        postHooks = m.postHooks.map(jinja(_)))
    } ++ packages.flatMap { p =>
      val pv = p.vars ++ vars
      p.models.map(m => m.copy(jinjaSql = jinja(m.jinjaSql, pv),
        preHooks = m.preHooks.map(jinja(_, pv)),
        postHooks = m.postHooks.map(jinja(_, pv))))
    }
    (expanded, onRunStart.map(jinja(_)), onRunEnd.map(jinja(_)),
      analyses.map(a => a.copy(jinjaSql = jinja(a.jinjaSql))))
  }

  /** The project's macros plus every package's, refusing duplicate
    * package names and any macro name defined twice across them.
    */
  private def macroRegistry(macros: Seq[JinjaMacros.MacroDef],
      packages: Seq[Packages.Package]): Seq[JinjaMacros.MacroDef] = {
    val dupPkg = packages.groupBy(_.name).collect {
      case (n, ps) if ps.size > 1 => n
    }
    require(dupPkg.isEmpty,
      s"duplicate package names: ${dupPkg.mkString(", ")}")
    val allMacros = macros ++ packages.flatMap(_.macros)
    val dupMacros = allMacros.groupBy(_.name).collect {
      case (n, ms) if ms.size > 1 => n
    }
    require(dupMacros.isEmpty,
      "macro name collisions across project/packages: " +
        s"${dupMacros.toSeq.sorted.mkString(", ")} — rename, or call " +
        "the package-qualified spelling and drop the bare registration")
    allMacros
  }

  private def runExpanded(models: Seq[SqlModel], seeds: Map[String, DataFrame],
      threads: Int, select: Seq[String],
      exclude: Seq[String],
      state: Option[String],
      defer: Option[String],
      favorState: Boolean,
      exposures: Seq[SchemaConfig.Exposure] = Nil,
      sources: Map[(String, String), DataFrame] = Map.empty,
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil,
      contracts: Seq[SchemaConfig.Contract] = Nil,
      analyses: Seq[Analysis] = Nil,
      selector: Option[SchemaConfig.SelectorDef] = None,
      // [[build]]'s scheduling hooks — inert under the defaults, so a
      // plain `run` is byte-for-byte the pre-build behavior:
      //   afterNode — the node-level GATE (build: run the node's tests);
      //     returning false stops the node's descendants, never the node,
      //   onSkip(node, deadAncestor) — a node was skipped because an
      //     ancestor died (build failure or failed error-severity test),
      //   onError — when set, a node whose build THROWS is reported here
      //     and gates its descendants instead of aborting the whole run
      //     (dbt build continues independent subgraphs; plain run keeps
      //     its abort-on-first-failure contract via the None default)
      afterNode: Option[(String, Map[String, DataFrame]) => Boolean] = None,
      onSkip: (String, String) => Unit = (_, _) => (),
      onError: Option[(String, Throwable) => Unit] = None,
      //   haltOnGateFailure — dbt build --fail-fast's TEST half: the
      //     first failed gate stops scheduling (not-yet-started nodes
      //     report skipped); build() wires it to failFast,
      //   deadAtStart — nodes pre-marked dead before scheduling:
      //     retry() re-runs the previous build's failed GATES against
      //     the kept relations, and a gate that fails again must doom
      //     its descendants exactly like a live gate failure would
      haltOnGateFailure: Boolean = false,
      deadAtStart: Set[String] = Set.empty)
      : Map[String, DataFrame] = {
    val dupNames = models.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    require(dupNames.isEmpty, s"duplicate model names: ${dupNames.mkString(", ")}")
    val contractByModel = contracts.map(c => c.model -> c).toMap
    require(contracts.size == contractByModel.size,
      s"duplicate contracts: ${contracts.map(_.model)
        .diff(contractByModel.keys.toSeq).distinct.mkString(", ")}")
    val orphanContracts = contractByModel.keySet.diff(models.map(_.name).toSet)
    require(orphanContracts.isEmpty,
      s"contracts name unknown models: ${orphanContracts.toSeq.sorted.mkString(", ")}")
    val shadowing = models.map(_.name).toSet.intersect(seeds.keySet)
    require(shadowing.isEmpty,
      s"model names shadow seeds: ${shadowing.mkString(", ")}")
    val known = seeds.keySet ++ models.map(_.name)
    models.foreach { m =>
      val missing = refsOf(m.jinjaSql).diff(known)
      require(missing.isEmpty,
        s"model ${m.name} refs unknown relations: ${missing.mkString(", ")}")
      require(!m.name.startsWith("__src_"),
        s"model name '${m.name}' uses the reserved source-view prefix __src_")
      val missingSrc = sourcesOf(m.jinjaSql).diff(sources.keySet)
      require(missingSrc.isEmpty,
        s"model ${m.name} reads undeclared sources: " +
          missingSrc.map(st => s"${st._1}.${st._2}").mkString(", ") +
          " — declare them in run(sources = Map((source, table) -> frame))")
    }
    // source relations register like seeds: inputs, never built; they are
    // dropped after the end hooks (the last consumer) or when the run throws
    withSources(sources) {
    val chosen =
      if (select.isEmpty && exclude.isEmpty && selector.isEmpty) models
      else selectModels(models, select, exclude, state,
        exposures = exposures, analyses = analyses, selector = selector)
    val byName = models.map(m => m.name -> m).toMap
    seeds.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // refs that leave the selection resolve to already-built relations —
    // dbt's subset-run contract (the upstream ran earlier). With `defer`,
    // a relation this environment never built falls back to the deferred
    // environment's warehouse (production inputs for a CI subset run);
    // `favorState` flips the precedence, dbt's --favor-state.
    val external = chosen.flatMap(m => refsOf(m.jinjaSql)).distinct
      .filterNot(seeds.contains).filterNot(chosen.map(_.name).toSet)
    val externallyBuilt: Map[String, DataFrame] = external.map { name =>
      // (df, needsView): a relation already in the catalog is addressable
      // as-is; one read from parquet must be registered under the ref name
      def local: Option[(DataFrame, Boolean)] =
        if (spark.catalog.tableExists(name)) Some((spark.table(name), false))
        else {
          val path = s"$warehouseDir/$name"
          if (byName.get(name).exists(_.materialization == Table) &&
            new java.io.File(path).exists())
            Some((spark.read.parquet(path), true))
          else None
        }
      def deferred: Option[(DataFrame, Boolean)] = defer.flatMap { d =>
        val path = s"$d/$name"
        if (new java.io.File(path).exists())
          Some((spark.read.parquet(path), true))
        else None
      }
      val resolved =
        if (favorState) deferred.orElse(local) else local.orElse(deferred)
      val (df, needsView) = resolved.getOrElse(
        throw new IllegalArgumentException(
          s"selected models ref '$name', which is outside the selection and " +
            "has no existing relation (temp view or warehouse table" +
            defer.fold(")")(d => s", nor a deferred one under $d)") +
            " — run it first, widen the selection, or defer to an " +
            "environment that has built it"))
      if (needsView) df.createOrReplaceTempView(name)
      name -> df
    }.toMap
    def build(m: SqlModel): DataFrame = {
      // spark.sql executes DML/DDL commands EAGERLY (INSERT/CREATE/
      // ANALYZE/REFRESH — every statement a dbt hook is in practice);
      // a pure SELECT hook is side-effect-free and intentionally left
      // unevaluated rather than collected (no unbounded driver reads).
      // dbt's hook contract: pre before the relation builds, post once
      // it exists under its name.
      def runHooks(hooks: Seq[String]): Unit = hooks.foreach { h =>
        // quoteReplacement: the model name is DATA to the regex engine —
        // a '$' or '\' in a name must not be read as a group reference
        spark.sql(runnable(ThisPattern.replaceAllIn(h,
          scala.util.matching.Regex.quoteReplacement(m.name))))
      }
      runHooks(m.preHooks)
      val df = spark.sql(runnable(m.jinjaSql))
      // enforced contract: fail BEFORE materialization — a drifted
      // relation must never reach the warehouse under a contract
      contractByModel.get(m.name).foreach(enforceContract(_, df))
      val materialized = m.materialization match {
        case View | Ephemeral => df
        case Table => graft.sources.Tables.writeTable(df, s"$warehouseDir/${m.name}")
      }
      materialized.createOrReplaceTempView(m.name)
      runHooks(m.postHooks)
      materialized
    }
    // the whole contract diff in ONE failure — a drift is usually a
    // refactor, and fixing one column per build is dbt's own UX lesson
    def enforceContract(c: SchemaConfig.Contract, df: DataFrame): Unit = {
      val declared = c.columns.map { case (n, t) =>
        n -> (try org.apache.spark.sql.types.DataType.fromDDL(t)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"contract on ${c.model}: cannot parse data_type '$t' for " +
              s"column $n: ${e.getMessage}")
        })
      }
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      val declaredNames = declared.map(_._1).toSet
      val problems =
        declared.collect { case (n, _) if !actual.contains(n) =>
          s"missing declared column $n" } ++
        df.schema.map(_.name).collect { case n if !declaredNames.contains(n) =>
          s"undeclared column $n in the model output" } ++
        declared.collect { case (n, t) if actual.get(n).exists(_ != t) =>
          s"column $n: declared ${t.sql} but the model produces ${actual(n).sql}" }
      if (problems.nonEmpty) throw new IllegalArgumentException(
        s"model ${c.model} violates its enforced contract:\n  " +
          problems.mkString("\n  "))
    }
    // project-level hooks wrap the RUN (dbt's on-run-start/on-run-end):
    // eager spark.sql like model hooks, skipped when nothing is selected
    def runProjectHooks(hooks: Seq[String]): Unit =
      if (chosen.nonEmpty)
        hooks.foreach(h => spark.sql(runnable(h)))
    runProjectHooks(onRunStart)
    var built: Map[String, DataFrame] = seeds ++ externallyBuilt
    // `dead` = nodes whose DESCENDANTS must not run: a node whose build
    // threw (continue-on-error mode) or whose gate (error-severity test)
    // failed. The node's own relation — if it materialized — stays
    // addressable; only scheduling downstream of it stops. dbt build's
    // skip semantics. Seeded with retry()'s re-failed gates.
    var dead = deadAtStart
    // seed-level gate first: dbt build runs a seed's tests before any
    // model that reads it (seeds here are pre-supplied frames, so only
    // the gate runs — there is nothing to build)
    afterNode.foreach { gate =>
      seeds.keys.toSeq.sorted.foreach { s =>
        if (!gate(s, built)) dead += s
      }
    }
    var remaining = chosen
    while (remaining.nonEmpty) {
      // skip-cascade to fixpoint BEFORE readiness: a node whose ref is
      // dead is itself dead (its children doom in the next pass); done
      // first because a dead parent never enters the ready set, and the
      // cycle check below must not mistake its orphans for a cycle
      var cascading = true
      while (cascading) {
        val (doomed, alive) =
          remaining.partition(m => refsOf(m.jinjaSql).exists(dead))
        doomed.foreach { m =>
          val cause = refsOf(m.jinjaSql).filter(dead).toSeq.min
          dead += m.name
          onSkip(m.name, cause)
        }
        remaining = alive
        cascading = doomed.nonEmpty
      }
      if (remaining.nonEmpty) {
        val (ready, blocked) =
          remaining.partition(m => refsOf(m.jinjaSql).forall(built.contains))
        require(ready.nonEmpty,
          s"cyclic or unsatisfied deps among: ${blocked.map(_.name).mkString(", ")}")
        // with onError set a node's failure is captured per-node (the
        // Try is built INSIDE the wave so parallel siblings still run);
        // with the None default the exception propagates exactly as
        // before — run's abort-on-first-failure contract
        def tryBuild(m: SqlModel): (SqlModel, scala.util.Try[DataFrame]) =
          m -> (if (onError.isDefined) scala.util.Try(build(m))
                else scala.util.Success(build(m)))
        val wave: Seq[(SqlModel, scala.util.Try[DataFrame])] =
          if (threads == 1 || ready.size == 1) ready.map(tryBuild)
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(threads, ready.size))
            try {
              import scala.jdk.CollectionConverters._
              val tasks = ready.map { m =>
                new java.util.concurrent.Callable[
                    (SqlModel, scala.util.Try[DataFrame])] {
                  override def call(): (SqlModel, scala.util.Try[DataFrame]) =
                    tryBuild(m)
                }
              }
              // invokeAll preserves task order and rethrows a failed
              // model's exception at .get — same failure surface as the
              // sequential path
              pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
            } finally pool.shutdown()
          }
        // ALL wave successes register before ANY gate runs (two passes):
        // the gates run sequentially in wave order, and a
        // test frame may read any relation built so far INCLUDING every
        // sibling of its own wave — with the single-pass form a gate on
        // wave member i could not see members i+1..n even though they
        // had already finished building
        wave.foreach {
          case (m, scala.util.Success(df)) => built += m.name -> df
          case _ => ()
        }
        wave.foreach {
          case (m, scala.util.Success(_)) =>
            afterNode.foreach(gate => if (!gate(m.name, built)) dead += m.name)
          case (m, scala.util.Failure(e)) =>
            dead += m.name
            onError.foreach(_(m.name, e))
        }
        remaining = blocked
        // dbt build --fail-fast also halts SCHEDULING after a failed
        // test node, not only after build exceptions: every node not
        // yet started reports as skipped, named after
        // the first gate failure of this wave, and no further wave runs
        if (haltOnGateFailure) {
          wave.collectFirst {
            case (m, scala.util.Success(_)) if dead(m.name) => m.name
          }.foreach { cause =>
            remaining.foreach { m => dead += m.name; onSkip(m.name, cause) }
            remaining = Nil
          }
        }
      }
    }
    // ephemeral models vanish after the build: consumers captured the
    // inlined plan during (eager) analysis, so dropping the carrier view
    // cannot break them — it only removes the name from the catalog,
    // which is the dbt contract (no relation in the warehouse)
    chosen.filter(_.materialization == Ephemeral).foreach { m =>
      spark.catalog.dropTempView(m.name)
      built -= m.name
    }
    // after the ephemeral drop: end hooks observe the same relation
    // state dbt's would (ephemeral models never reach the warehouse)
    runProjectHooks(onRunEnd)
    built
    }
  }

  /** Runs `body` with `sources` registered as temp views, and drops them
    * afterwards whether `body` returns or throws: source views are
    * run-scoped plumbing, and in a shared session a stale __src_* view
    * must not stay addressable by raw SQL, whether the next run declares
    * fewer sources or this one aborted. Registration runs inside the
    * `try`, so a view name refused partway still sweeps the views that
    * did register, and the sweep tolerates names that never registered.
    * Models captured their analyzed plans eagerly, so the drop cannot
    * break anything already built.
    */
  private def withSources[T](sources: Map[(String, String), DataFrame])(
      body: => T): T =
    try {
      sources.foreach { case ((s, t), df) =>
        df.createOrReplaceTempView(sourceViewName(s, t))
      }
      body
    } finally sources.keys.foreach { case (s, t) =>
      scala.util.Try(spark.catalog.dropTempView(sourceViewName(s, t)))
    }

  /** `dbt build` — the one-command lifecycle: seeds' tests gate first,
    * then models build in DAG order with EACH node's tests running
    * immediately after it materializes, and a failure — a build
    * exception, or a test whose [[GenericTests.TestConfig]] verdict is
    * "error" — SKIPS the node's descendants while independent subgraphs
    * keep building. WARN-severity failures (and error-severity tests
    * whose `errorIf` threshold isn't met) report and proceed; dbt's
    * severity semantics via [[GenericTests.TestConfig.status]].
    *
    * `tests` is keyed by node name (a model — project or package — or
    * a seed). A test's frame receives the relations built SO FAR
    * (seeds + externals + every completed model, siblings of the same
    * wave included); declare a test on the LATER of the relations it
    * reads — same-or-upstream is always safe. Tests with
    * `store_failures` persist audits under `storeDir` exactly as in
    * [[GenericTests.runDetailed]].
    *
    * `failFast` = dbt's --fail-fast, both halves: a node BUILD
    * exception aborts the whole run (throws — no BuildResult), and a
    * failed error-severity TEST halts scheduling — every node not yet
    * started reports as "skipped" with the gate-failed node as cause,
    * and the report is returned (dbt also stops scheduling after a
    * failed test node under --fail-fast).
    * Remaining knobs (selection, vars, macros, packages, sources,
    * hooks, contracts) mean exactly what they mean on [[run]].
    *
    * Scale: identical to [[run]] — the gate adds one bounded job per
    * declared test (violation counts, never relation materialization),
    * and skip propagation is pure driver-side set arithmetic on the
    * already-parsed ref graph.
    */
  def build(models: Seq[SqlModel], seeds: Map[String, DataFrame],
      tests: Map[String, Seq[GenericTests.DataTest]] = Map.empty,
      threads: Int = 1, select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      sources: Map[(String, String), DataFrame] = Map.empty,
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil,
      contracts: Seq[SchemaConfig.Contract] = Nil,
      packages: Seq[Packages.Package] = Nil,
      storeDir: Option[String] = None,
      failFast: Boolean = false): SqlDag.BuildResult = {
    val gated = new GatedBuild(models, seeds, tests, threads, macros, vars,
      sources, onRunStart, onRunEnd, contracts, packages, storeDir, failFast)
    val relations = gated.schedule(select, exclude)
    SqlDag.BuildResult(gated.report.toSeq, relations)
  }

  /** One [[build]] or [[retry]] run: the Jinja expansion, a refusal of
    * tests keyed on nodes the project does not have (known: models,
    * package models and seeds), the node report, and the test gate the
    * scheduler calls after every node. The gate runs a node's tests over
    * the relations built so far and says whether its descendants may run;
    * a node in `passed` (retry's kept successes) never re-runs its tests,
    * and an untested seed gets no report row. A node whose build throws is
    * reported and gates its descendants — or, under `failFast`, aborts the
    * run — and under `failFast` a failed gate halts scheduling.
    */
  private final class GatedBuild(models: Seq[SqlModel],
      seeds: Map[String, DataFrame],
      tests: Map[String, Seq[GenericTests.DataTest]], threads: Int,
      macros: Seq[JinjaMacros.MacroDef], vars: Map[String, String],
      sources: Map[(String, String), DataFrame], onRunStart: Seq[String],
      onRunEnd: Seq[String], contracts: Seq[SchemaConfig.Contract],
      packages: Seq[Packages.Package], storeDir: Option[String],
      failFast: Boolean, passed: Set[String] = Set.empty) {
    require(threads >= 1, s"need threads >= 1, got $threads")
    val (expanded, startHooks, endHooks, _) =
      expandJinja(models, macros, packages, vars, onRunStart, onRunEnd, Nil)
    val knownNodes: Set[String] = expanded.map(_.name).toSet ++ seeds.keySet
    private val orphanTests = tests.keySet.diff(knownNodes)
    require(orphanTests.isEmpty,
      "tests are keyed on unknown nodes: " +
        s"${orphanTests.toSeq.sorted.mkString(", ")} (known: models, " +
        "package models, and seeds)")
    val report = scala.collection.mutable.ListBuffer.empty[BuildNodeResult]

    def gate(name: String, built: Map[String, DataFrame]): Boolean = {
      val ts = tests.getOrElse(name, Nil)
      if (passed(name) || (ts.isEmpty && seeds.contains(name))) true
      else {
        val results = GenericTests.runDetailed(ts, built, storeDir)
        val failed = results.filter(_.status == "error")
        report += BuildNodeResult(name, "success", results,
          if (failed.isEmpty) None
          else Some("test failure: " + failed.map(_.name).mkString(", ")))
        failed.isEmpty
      }
    }

    def schedule(select: Seq[String], exclude: Seq[String],
        deadAtStart: Set[String] = Set.empty): Map[String, DataFrame] =
      runExpanded(expanded, seeds, threads, select, exclude,
        state = None, defer = None, favorState = false,
        sources = sources, onRunStart = startHooks, onRunEnd = endHooks,
        contracts = contracts,
        afterNode = Some(gate _),
        onSkip = (name, cause) =>
          report += BuildNodeResult(name, "skipped", Nil, Some(cause)),
        onError =
          if (failFast) None
          else Some((name, e) =>
            report += BuildNodeResult(name, "error", Nil,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)))),
        haltOnGateFailure = failFast,
        deadAtStart = deadAtStart)
  }

  /** `dbt retry` — resume a failed [[build]] from its failure point,
    * off the persisted [[SqlDag.BuildResult]] (dbt's semantics: rerun
    * what errored, was skipped, or failed its tests; never rebuild what
    * succeeded). Three node classes from `previous`:
    *   - "error"/"skipped" nodes REBUILD — they are the selection of a
    *     fresh scheduling pass (plus any EPHEMERAL ancestors, whose
    *     carrier views vanished at the previous run's end); refs that
    *     leave the selection resolve to the previous run's relations
    *     (still addressable in this session's catalog/warehouse — the
    *     standard subset-run contract),
    *   - "success" nodes whose error-severity TEST failed re-run their
    *     GATE ONLY, against the kept relation (dbt retries the test
    *     node, not the model): a gate that passes now unblocks the
    *     node's skipped descendants in the same pass; one that fails
    *     again dooms them again (pre-marked dead before scheduling),
    *   - passed nodes don't re-run at all — their gates short-circuit
    *     (a seed's gate is invoked unconditionally by the scheduler,
    *     so the short-circuit is what "keep successes" means there).
    * The returned report covers THIS retry's nodes only (dbt's
    * run_results after retry); `relations` is the previous run's map
    * overlaid with everything rebuilt here. Throws if `previous` has
    * nothing to retry. `failFast` and the remaining knobs as [[build]].
    */
  def retry(models: Seq[SqlModel], seeds: Map[String, DataFrame],
      previous: SqlDag.BuildResult,
      tests: Map[String, Seq[GenericTests.DataTest]] = Map.empty,
      threads: Int = 1,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      sources: Map[(String, String), DataFrame] = Map.empty,
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil,
      contracts: Seq[SchemaConfig.Contract] = Nil,
      packages: Seq[Packages.Package] = Nil,
      storeDir: Option[String] = None,
      failFast: Boolean = false): SqlDag.BuildResult = {
    // keep successes: a passed gate never re-runs
    val gated = new GatedBuild(models, seeds, tests, threads, macros, vars,
      sources, onRunStart, onRunEnd, contracts, packages, storeDir, failFast,
      passed = previous.nodes.filter(_.gatePassed).map(_.name).toSet)
    val unknownPrev = previous.nodes.map(_.name).filterNot(gated.knownNodes)
    require(unknownPrev.isEmpty,
      "previous build report names nodes this project does not have: " +
        s"${unknownPrev.distinct.sorted.mkString(", ")} — retry must " +
        "run against the same models/seeds/packages as the build")
    val toRebuild = previous.nodes.collect {
      case n if n.status == "error" || n.status == "skipped" => n.name
    }.distinct
    val (gateRetrySeeds, gateRetryModels) = previous.nodes.collect {
      case n if n.status == "success" && !n.gatePassed => n.name
    }.distinct.partition(seeds.contains)
    require(toRebuild.nonEmpty || gateRetryModels.nonEmpty ||
      gateRetrySeeds.nonEmpty,
      "nothing to retry: the previous build fully succeeded")
    // failed MODEL gates re-run HERE, against the kept relations — the
    // node is not in the rebuild selection, so the scheduler would
    // never invoke its gate; a re-failure pre-marks it dead so its
    // descendants (in the selection) skip exactly like a live failure
    val kept = seeds ++ previous.relations
    val deadStart = gateRetryModels.filterNot(gated.gate(_, kept)).toSet
    if (toRebuild.isEmpty) {
      // gate-only retry: failed SEED gates get the same treatment (the
      // scheduler's seed-gate loop is not running to do it for us)
      gateRetrySeeds.foreach(gated.gate(_, kept))
      SqlDag.BuildResult(gated.report.toSeq, previous.relations)
    } else {
      // EPHEMERAL ancestors of the rebuild set re-materialize too:
      // their carrier views were dropped when the previous run ended,
      // so a rebuilt child's ref cannot resolve externally
      val byName = gated.expanded.map(m => m.name -> m).toMap
      var rebuild = toRebuild.toSet
      var frontier = rebuild
      while (frontier.nonEmpty) {
        frontier = frontier
          .flatMap(n => byName.get(n).toSeq.flatMap(m => refsOf(m.jinjaSql)))
          .filter(n => byName.get(n).exists(_.materialization == Ephemeral))
          .diff(rebuild)
        rebuild ++= frontier
      }
      val relations = gated.schedule(rebuild.toSeq.sorted, Nil, deadStart)
      SqlDag.BuildResult(gated.report.toSeq, previous.relations ++ relations)
    }
  }

  /** `dbt ls` — print the selection without running anything: the same
    * Jinja expansion (project + package models) and the same selector
    * grammar as [[run]]/[[build]] (`+closures`, `tag:`, `state:` via
    * [[selectModels]]' other overloads is deliberately out — `ls` is
    * stateless), names returned SORTED (dbt ls's default alphabetical
    * output): the user-facing print form of [[selectModels]].
    */
  def ls(models: Seq[SqlModel], select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      vars: Map[String, String] = Map.empty,
      packages: Seq[Packages.Package] = Nil,
      exposures: Seq[SchemaConfig.Exposure] = Nil,
      analyses: Seq[Analysis] = Nil,
      selector: Option[SchemaConfig.SelectorDef] = None): Seq[String] = {
    val (expanded, _, _, _) =
      expandJinja(models, macros, packages, vars, Nil, Nil, Nil)
    val chosen =
      if (select.isEmpty && exclude.isEmpty && selector.isEmpty) expanded
      else selectModels(expanded, select, exclude, state = None,
        exposures = exposures, analyses = analyses, selector = selector)
    chosen.map(_.name).sorted
  }

  /** `dbt run-operation` — invoke one registered macro standalone,
    * outside any model build (the last dbt CLI verb with no analog
    * here; the hooks machinery is the other 90% of its maintenance use
    * cases). The macro renders through the SAME Jinja pipeline as
    * model texts and hooks (macros expand recursively, `var()`
    * resolves from `vars`, control flow runs, package macros join the
    * registry under [[SqlDag.run]]'s collision rule), `source()` spans
    * resolve against the registered `sources` frames, and the rendered
    * output — one SQL statement — executes eagerly via `spark.sql`,
    * exactly like a hook body. dbt's `--args` YAML map is the `args`
    * parameter: keyword arguments passed VERBATIM as Jinja argument
    * text (quote string literals: `"msg" -> "'hello'"`), bound by the
    * macro's own parameter/default rules.
    *
    * Returns `Some(result)` of the executed statement, or `None` when
    * the macro renders to blank (a macro of pure `{% set %}`s /
    * comments has nothing to execute — dbt also runs such macros for
    * their side effects, which our Jinja subset doesn't have).
    * An UNKNOWN macro name refuses with the registered names — dbt's
    * "macro not found" compilation error, not a silent no-op.
    */
  def runOperation(name: String, args: Seq[(String, String)] = Nil,
      macros: Seq[JinjaMacros.MacroDef] = Nil,
      packages: Seq[Packages.Package] = Nil,
      vars: Map[String, String] = Map.empty,
      sources: Map[(String, String), DataFrame] = Map.empty): Option[DataFrame] = {
    val allMacros = macroRegistry(macros, packages)
    require(allMacros.exists(_.name == name),
      s"run-operation: no macro named '$name' is registered" +
        (if (allMacros.isEmpty) " (no macros were passed)"
        else s" — registered: ${allMacros.map(_.name).sorted.mkString(", ")}"))
    val call = args.map { case (k, v) => s"$k=$v" }
      .mkString(s"{{ $name(", ", ", ") }}")
    val rendered = JinjaMacros.renderModel(call, allMacros, vars = vars)
      .trim
    if (rendered.isEmpty) None
    else withSources(sources)(Some(spark.sql(runnable(rendered))))
  }
}
