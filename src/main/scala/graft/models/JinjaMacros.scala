package graft.models

/** User-defined dbt macros — `{% macro name(params) %} body {% endmacro %}`
  * definitions expanded at `{{ name(args) }}` call sites, the authoring
  * construct a real dbt project adds on day one (the reference project
  * itself defines none, but its lifecycle — `dbt run` compiling Jinja
  * before SQL — assumes the capability; reference README.md:44-55).
  *
  * Supported subset, chosen to cover how dbt macros are actually written
  * in SQL models:
  *   - parameters with optional defaults: `{% macro m(col, scale=2) %}`
  *   - calls with positional and keyword args, nested parens and quotes
  *     respected: `{{ m(round(x, 2), scale=4) }}`
  *   - string-literal args render UNQUOTED in the body (`{{ m('amt') }}`
  *     with body `{{ col }}` renders `amt` — Jinja string semantics, the
  *     dbt idiom for passing column names); any other arg text passes
  *     through verbatim (numbers, SQL fragments)
  *   - macro bodies may call other macros and `{{ ref('x') }}` — bodies
  *     are re-scanned after substitution, so dependency extraction on
  *     the expanded text sees refs introduced by macros
  *   - whitespace-control markers (`{%-`, `-%}`) are accepted and the
  *     body trimmed
  *   - control flow, the dbt authoring idioms a migrated project
  *     needs to compile: `{% for v in ['a', 'b'] %}` /
  *     `{% for v in range(a, b) %}` with `loop.first/last/index/
  *     index0/length`, and `{% if cond %}…{% elif %}…{% else %}…
  *     {% endif %}` where `cond` (after variable substitution) is
  *     built from literal booleans, `==`/`!=` over literals (NUMERIC
  *     comparison when both sides are UNQUOTED and parse as numbers —
  *     `1 == 1.0` is true, as in Jinja; quoted strings compare as
  *     strings, `'1' == '1.0'` is false; mixed quoted/unquoted stays
  *     textual after unquoting), `not`, `and`/`or`, and parentheses.
  *     Blocks nest; a macro body's control flow renders at call time
  *     with the macro's bound params, a model's renders with literal
  *     conditions before macro expansion (so `{{ m(loopvar) }}` sees
  *     the unrolled value).
  *   - `{% set name = literal %}` — a literal binding (string literal,
  *     number, or any var/loop-var substituted text) visible to the
  *     text AFTER it, with Jinja's actual scoping: a set inside a taken
  *     `{% if %}` branch ESCAPES the block (the dbt
  *     if/set/else/set/endif idiom); only `{% for %}` bodies scope —
  *     their bindings reset each iteration and do not survive the loop.
  *   - `{{ var('name') }}` / `{{ var('name', default) }}` — dbt project
  *     variables ([[renderModel]]'s `vars` binding, the `--vars` CLI
  *     override surface threaded through `SqlDag.run`): an undefined
  *     var with no default FAILS at compile, dbt's behavior. Resolved
  *     ONLY inside Jinja constructs (`{{ … }}` spans and `{% … %}`
  *     tags — Jinja semantics: plain SQL text is never templated, so a
  *     column or UDF named `var` survives), in model texts AND macro
  *     bodies (at call time), including `{% if %}` conditions and
  *     `{% for %}` iterables.
  *   - `{{ var('x') | upper }}` — a whole-span filter chain on a var
  *     print: `upper`, `lower`, `trim`, `replace('a', 'b')` (string
  *     literal arguments), `default('v')`. Any other filter — or a
  *     filter inside a larger expression or tag — fails fast.
  *     `default` follows dbt precedence: it fires ONLY when the var is
  *     undefined AND the `var()` call itself has no default — a
  *     var-level default always wins, so `{{ var('x', 'a') | default('b') }}`
  *     never renders `b`.
  *
  * Not supported (fail fast by design): recursive macros (expansion
  * depth guard), nested `{% macro %}` definitions, non-literal
  * iterables/conditions (`{% for c in get_cols() %}`), non-literal
  * `{% set %}` right-hand sides (`{% set x = query() %}`), and every
  * other tag (`{% do %}`, …) — a construct outside the subset throws
  * with the offending text, never passes through silently into SQL.
  *
  * Expansion is driver-side string work on model TEXTS (bytes of SQL,
  * never data) — nothing here touches the cluster.
  */
object JinjaMacros {

  /** One parsed macro: name, ordered params (with optional default
    * VALUES, already unquoted), and the raw body text.
    */
  final case class MacroDef(name: String,
      params: Seq[(String, Option[String])], body: String)

  private val MacroToken = raw"\{%-?\s*macro\b".r
  private val DefEnd = raw"\{%-?\s*endmacro\s*-?%\}".r

  /** Index of the `)` matching the `(` at `open` (quote-aware — parens
    * inside string literals don't count), or -1 when unbalanced.
    */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var quote = 0.toChar
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0.toChar }
      else c match {
        case '\'' | '"' => quote = c
        case '('        => depth += 1
        case ')'        => depth -= 1; if (depth == 0) return i
        case _          =>
      }
      i += 1
    }
    -1
  }

  /** Parse every `{% macro %}…{% endmacro %}` in a macro-file text.
    * The signature is scanned by hand — name, then a BALANCED-paren
    * parameter list (defaults may contain parens and commas, e.g.
    * `scale=pow(10, 2)`), then `%}`. A `{% macro` token whose signature
    * does not parse FAILS here with the macro's name — the earlier
    * regex-group form silently skipped it, and the unexpanded call
    * sites surfaced later as confusing SQL parse errors.
    */
  def parse(source: String): Seq[MacroDef] = {
    val defs = MacroToken.findAllMatchIn(source).toSeq.map { tk =>
      var i = tk.end
      while (i < source.length && source.charAt(i).isWhitespace) i += 1
      val ns = i
      while (i < source.length &&
        (source.charAt(i).isLetterOrDigit || source.charAt(i) == '_')) i += 1
      val name = source.substring(ns, i)
      def fail(why: String): Nothing = throw new IllegalArgumentException(
        s"unparseable {% macro %} definition" +
          (if (name.nonEmpty) s" '$name'" else "") + s": $why")
      if (name.isEmpty || !(name.head.isLetter || name.head == '_'))
        fail("expected a macro name")
      while (i < source.length && source.charAt(i).isWhitespace) i += 1
      if (i >= source.length || source.charAt(i) != '(')
        fail("expected '(' after the macro name")
      val close = matchParen(source, i)
      if (close < 0) fail("unbalanced parentheses in the parameter list")
      val paramsRaw = source.substring(i + 1, close)
      i = close + 1
      while (i < source.length && source.charAt(i).isWhitespace) i += 1
      if (i < source.length && source.charAt(i) == '-') i += 1
      if (i + 1 >= source.length ||
        source.charAt(i) != '%' || source.charAt(i + 1) != '}')
        fail("expected '%}' after the parameter list")
      val rest = source.substring(i + 2)
      val end = DefEnd.findFirstMatchIn(rest).getOrElse(
        fail("no {% endmacro %}"))
      val body = rest.substring(0, end.start)
      require(MacroToken.findFirstIn(body).isEmpty,
        s"macro '$name' contains a nested macro definition")
      val params = splitArgs(paramsRaw).map { p =>
        p.split("=", 2) match {
          case Array(n, d) => (n.trim, Some(unquote(d.trim)))
          case Array(n)    => (n.trim, None)
        }
      }
      val dupP = params.map(_._1).diff(params.map(_._1).distinct)
      require(dupP.isEmpty,
        s"macro '$name' repeats parameter(s): ${dupP.mkString(", ")}")
      MacroDef(name, params, body.trim)
    }
    val dup = defs.map(_.name).diff(defs.map(_.name).distinct)
    require(dup.isEmpty, s"duplicate macro definition(s): ${dup.mkString(", ")}")
    defs
  }

  // -------------------------------------------------------------------
  // Control flow: {% if %} / {% for %} — parsed to a small AST, rendered
  // with a String environment (macro params, loop vars, loop.* attrs).
  // -------------------------------------------------------------------

  private sealed trait Node
  private final case class Lit(text: String) extends Node
  private final case class IfNode(branches: Seq[(String, Seq[Node])],
      els: Seq[Node]) extends Node
  private final case class ForNode(varName: String, listText: String,
      body: Seq[Node]) extends Node
  private final case class SetNode(name: String, valueText: String)
      extends Node

  /** Every `{% … %}` tag span (content group 1; `-` markers handled by
    * char inspection so a condition containing `-` still parses).
    */
  private val TagTok = raw"\{%-?\s*([\s\S]*?)\s*-?%\}".r
  // matched against the tag content AFTER the `for` keyword is stripped
  private val ForHead = raw"(?s)^([A-Za-z_][A-Za-z0-9_]*)\s+in\s+(.+)$$".r
  // {% set name = value %} content after `set`; `=` must not be `==`
  private val SetHead = raw"(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*=(?!=)\s*(.+)$$".r

  /** Parse a model/macro-body text into literal runs and nested if/for
    * blocks. Any tag outside the subset fails fast with its text — a
    * `{% set %}` passing through silently would surface as a SQL parse
    * error far from its cause.
    */
  private def parseNodes(text: String): Seq[Node] = {
    val tags = TagTok.findAllMatchIn(text).toVector
    var ti = 0
    var pos = 0
    var pendingLTrim = false
    def literalUpTo(start: Int, rstrip: Boolean): Option[Lit] = {
      var s = text.substring(pos, start)
      if (pendingLTrim) s = s.replaceFirst("^\\s+", "")
      if (rstrip) s = s.replaceFirst("\\s+$", "")
      if (s.isEmpty) None else Some(Lit(s))
    }
    // returns (nodes, keyword that closed the sequence)
    def parseSeq(closers: Set[String]): (Seq[Node], String, String) = {
      val out = Vector.newBuilder[Node]
      while (ti < tags.length) {
        val m = tags(ti)
        val content = m.group(1)
        val kw = content.takeWhile(c => c.isLetter || c == '_')
        val rest = content.substring(kw.length).trim
        val trimBefore = text.charAt(m.start + 2) == '-'
        val trimAfter = text.charAt(m.end - 3) == '-'
        literalUpTo(m.start, trimBefore).foreach(out += _)
        pos = m.end
        pendingLTrim = trimAfter
        ti += 1
        kw match {
          case k if closers.contains(k) => return (out.result(), k, rest)
          case "for" =>
            val (v, listText) = rest match {
              case ForHead(vn, lt) => (vn, lt)
              case _ => throw new IllegalArgumentException(
                s"unparseable {% for %} head '$rest' — expected 'for <var> in <iterable>'")
            }
            val (body, closer, _) = parseSeq(Set("endfor"))
            require(closer == "endfor", s"{% for $v %} closed by {% $closer %}")
            out += ForNode(v, listText, body)
          case "if" =>
            val branches = Vector.newBuilder[(String, Seq[Node])]
            var cond = rest
            var els: Seq[Node] = Nil
            var open = true
            while (open) {
              val (body, closer, closerRest) =
                parseSeq(Set("elif", "else", "endif"))
              branches += ((cond, body))
              closer match {
                case "elif" => cond = closerRest
                case "else" =>
                  val (eBody, eCloser, _) = parseSeq(Set("endif"))
                  require(eCloser == "endif",
                    s"{% else %} closed by {% $eCloser %}")
                  els = eBody; open = false
                case "endif" => open = false
              }
            }
            out += IfNode(branches.result(), els)
          case "set" =>
            rest match {
              case SetHead(n, v) => out += SetNode(n, v)
              case _ => throw new IllegalArgumentException(
                s"unparseable {% set %} '$rest' — expected " +
                  "'set <name> = <literal>' (block-form {% set %}…" +
                  "{% endset %} is not supported)")
            }
          case "endfor" | "endif" | "elif" | "else" =>
            throw new IllegalArgumentException(
              s"unbalanced {% $kw %} with no open block")
          case other =>
            throw new IllegalArgumentException(
              s"unsupported Jinja tag '{% $content %}' — supported: " +
                "{% if/elif/else/endif %}, {% for/endfor %}, {% set %}")
        }
      }
      val tail = parseSeqEnd(closers)
      (out.result() ++ tail, "", "")
    }
    def parseSeqEnd(closers: Set[String]): Seq[Node] = {
      require(closers.isEmpty,
        s"unterminated block — expected {% ${closers.mkString(" or ")} %}")
      if (pos < text.length) {
        var s = text.substring(pos)
        if (pendingLTrim) s = s.replaceFirst("^\\s+", "")
        pos = text.length
        if (s.isEmpty) Nil else Seq(Lit(s))
      } else Nil
    }
    val (nodes, closer, _) = parseSeq(Set.empty)
    require(closer.isEmpty, s"unbalanced {% $closer %}")
    nodes
  }

  /** Render an AST under an environment (macro params + loop vars +
    * `{% set %}` bindings). The environment THREADS left-to-right
    * through the sequence, with Jinja's ACTUAL scoping (if-blocks
    * create no scope): a SetNode extends the env for its
    * following siblings, a set inside a taken `{% if %}` branch ESCAPES
    * to the text after `{% endif %}` (the standard dbt
    * if/set/else/set/endif idiom), and only `{% for %}` bodies are a
    * scope — their bindings reset each iteration and do not survive the
    * loop.
    */
  private def renderNodes(nodes: Seq[Node], env0: Map[String, String]): String =
    renderNodesEnv(nodes, env0)._1

  private def renderNodesEnv(nodes: Seq[Node],
      env0: Map[String, String]): (String, Map[String, String]) = {
    val sb = new StringBuilder
    var env = env0
    nodes.foreach {
      case Lit(t) => sb.append(if (env.isEmpty) t else substituteParams(t, env))
      case SetNode(name, valueText) =>
        val v = substIdents(valueText, env).trim
        // literal-subset guard (otherwise a non-literal RHS would pass
        // SILENTLY into SQL against the documented fail-fast):
        // after substitution the RHS may be a quoted string, number,
        // boolean, list literal, or a bare substituted word — anything
        // with an unquoted '(' is a call the renderer cannot evaluate
        require(topLevelCallFree(v),
          s"unsupported {% set %} value '$valueText' — literals only " +
            "(a function call cannot be evaluated at compile time)")
        require(topLevelPipeFree(v),
          s"unsupported {% set %} value '$valueText' — filters are " +
            "whole-span print syntax ({{ var('x') | upper }}), not " +
            "set-bindable literals")
        // keep the literal's QUOTEDNESS: a set-bound '1' must compare
        // as a string in conditions (unquoting happens at print time)
        env = env + (name -> v)
      case IfNode(branches, els) =>
        val body = branches
          .find { case (c, _) => evalCond(substIdents(c, env)) }
          .map(_._2).getOrElse(els)
        val (txt, envAfter) = renderNodesEnv(body, env)
        sb.append(txt)
        env = envAfter // a set in the taken branch escapes the block
      case ForNode(v, listText, body) =>
        val items = parseListLiteral(substIdents(listText, env))
        val n = items.size
        items.zipWithIndex.foreach { case (item, i) =>
          val loopEnv = env ++ Map(
            v -> item,
            "loop.first"  -> (if (i == 0) "true" else "false"),
            "loop.last"   -> (if (i == n - 1) "true" else "false"),
            "loop.index"  -> (i + 1).toString,
            "loop.index0" -> i.toString,
            "loop.length" -> n.toString)
          sb.append(renderNodes(body, loopEnv)) // loop scope: env discarded
        }
    }
    (sb.toString, env)
  }

  private val RangeCall = raw"(?s)^range\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)$$".r

  /** A literal iterable: `['a', 'b', 2]` (strings unquoted, Jinja
    * semantics) or `range(a, b)` (Python: b exclusive).
    */
  private def parseListLiteral(s0: String): Seq[String] = {
    val s = s0.trim
    if (s.startsWith("[") && s.endsWith("]"))
      splitArgs(s.substring(1, s.length - 1)).map(unquote)
    else s match {
      case RangeCall(a, b) => (a.toInt until b.toInt).map(_.toString)
      case _ => throw new IllegalArgumentException(
        s"unsupported {% for %} iterable '$s0' — supported: a literal " +
          "list ['a', 'b', …] or range(a, b)")
    }
  }

  /** Index of the first top-level (outside quotes/parens) occurrence of
    * `op` in `s`; word operators require word boundaries. -1 if absent.
    */
  private def topLevelIndexOf(s: String, op: String): Int = {
    val word = op.head.isLetter
    var depth = 0
    var quote = 0.toChar
    var i = 0
    while (i <= s.length - op.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0.toChar; i += 1 }
      else c match {
        case '\'' | '"' => quote = c; i += 1
        case '('        => depth += 1; i += 1
        case ')'        => depth -= 1; i += 1
        case _ =>
          val hit = depth == 0 && s.regionMatches(i, op, 0, op.length) &&
            (!word || ((i == 0 || !isIdentChar(s.charAt(i - 1))) &&
              (i + op.length >= s.length || !isIdentChar(s.charAt(i + op.length)))))
          if (hit) return i
          i += 1
      }
    }
    -1
  }

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.'

  /** The numeric value of a literal, if it is one (exact decimal — no
    * float rounding in the comparison subset).
    */
  private def numeric(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s.trim)) catch { case _: NumberFormatException => None }

  /** No unquoted '(' anywhere in `s` — the cheap syntactic test for "is
    * a literal, not a call" (quotes shield parens inside string values).
    */
  private def topLevelCallFree(s: String): Boolean = {
    var quote = 0.toChar
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0.toChar }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') return false
      i += 1
    }
    true
  }

  /** True when `s` has no `|` outside string literals — a piped filter
    * chain is NOT a literal a `{% set %}` can bind (filters are
    * whole-span print syntax, [[applyFilters]]); without this check the
    * pipe text bound SILENTLY and surfaced later as malformed SQL.
    */
  private def topLevelPipeFree(s: String): Boolean = topLevelPipeIndex(s) < 0

  /** Index of the first `|` outside string literals, -1 when none —
    * the split point between a printed name and its filter chain.
    */
  private def topLevelPipeIndex(s: String): Int = {
    var quote = 0.toChar
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0.toChar }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '|') return i
      i += 1
    }
    -1
  }

  /** Evaluate a substituted condition: or < and < not < (==|!=) over
    * literals < parens/booleans. `==`/`!=` compare NUMERICALLY when
    * both unquoted operands parse as numbers (Jinja: `1 == 1.0` is
    * true, `digits == 00` with digits bound to `0` is true) and
    * textually otherwise — a textual-only compare silently took the
    * wrong branch on numeric conditions. Anything else
    * fails fast — an unevaluable condition means a variable this
    * renderer does not know, and guessing would silently drop SQL.
    */
  private def evalCond(s0: String): Boolean = {
    val s = s0.trim
    require(s.nonEmpty, "empty {% if %} condition")
    def litEq(a0: String, b0: String): Boolean = {
      val (ta, tb) = (a0.trim, b0.trim)
      def quoted(s: String) = s.length >= 2 &&
        (s.head == '\'' || s.head == '"') && s.last == s.head &&
        s.indexOf(s.head, 1) == s.length - 1
      val (a, b) = (unquote(ta), unquote(tb))
      // numeric comparison ONLY when both operands are UNQUOTED numeric
      // literals — Jinja compares quoted strings as strings ('1' ==
      // '1.0' is false); unquote-before-numeric silently flipped such
      // conditions. Mixed quoted/unquoted stays textual
      // after unquoting (historical subset semantics, documented).
      if (!quoted(ta) && !quoted(tb)) {
        (numeric(a), numeric(b)) match {
          case (Some(x), Some(y)) => return x.compareTo(y) == 0
          case _                  =>
        }
      }
      a == b
    }
    val orAt = topLevelIndexOf(s, "or")
    if (orAt >= 0)
      return evalCond(s.substring(0, orAt)) || evalCond(s.substring(orAt + 2))
    val andAt = topLevelIndexOf(s, "and")
    if (andAt >= 0)
      return evalCond(s.substring(0, andAt)) && evalCond(s.substring(andAt + 3))
    if (topLevelIndexOf(s, "not") == 0) return !evalCond(s.substring(3))
    if (s.startsWith("(") && matchParen(s, 0) == s.length - 1)
      return evalCond(s.substring(1, s.length - 1))
    val neqAt = topLevelIndexOf(s, "!=")
    if (neqAt >= 0)
      return !litEq(s.substring(0, neqAt), s.substring(neqAt + 2))
    val eqAt = topLevelIndexOf(s, "==")
    if (eqAt >= 0)
      return litEq(s.substring(0, eqAt), s.substring(eqAt + 2))
    s.toLowerCase match {
      case "true"  => true
      case "false" => false
      case _ => throw new IllegalArgumentException(
        s"unsupported {% if %} condition '$s0' — supported: literal " +
          "booleans, loop.first/last, ==/!= over literals, not/and/or, parens")
    }
  }

  /** Resolve every `var('name'[, default])` call in `text` against
    * `vars` — dbt project variables, the `--vars` override surface.
    * Resolution happens ONLY inside Jinja constructs (`{{ … }}` spans
    * and `{% … %}` tags): a call that is the ENTIRE content of a
    * `{{ … }}` span replaces the span with the raw value
    * (`{{ var('x') }}` prints it, Jinja semantics); inside a tag or a
    * larger span — an `{% if %}` condition, a `{% for %}` iterable, a
    * `{% set %}` right-hand side, a macro-call argument — the call text
    * becomes a literal (numbers, booleans and list literals raw,
    * strings quoted; a string value carrying a quote fails fast there).
    * Plain SQL text is never scanned (Jinja never templates outside its
    * delimiters), so a column or UDF named `var` survives and SQL
    * quoting/comments cannot affect resolution. An undefined var with
    * no default FAILS fast (dbt's compile error).
    */
  /** One parsed filter step off the front of a `| filter` chain:
    * (name, args, remaining chain text). Jinja allows whitespace
    * between the name and its argument list (`| replace ('a', 'b')`),
    * so the paren check skips it — without that, the valid spelling
    * parsed as a 0-arg `replace` and died with a misleading
    * "unsupported filter" for a filter that IS supported.
    */
  private def parseFilter(chain: String): (String, Seq[String], String) = {
    var rest = chain
    require(rest.startsWith("|"),
      s"unsupported trailing text '$rest' after a Jinja filter chain")
    rest = rest.drop(1).dropWhile(_.isWhitespace)
    val ni = rest.indexWhere(c => !isIdentChar(c))
    val nameEnd = if (ni < 0) rest.length else ni
    val name = rest.substring(0, nameEnd)
    rest = rest.substring(nameEnd).dropWhile(_.isWhitespace)
    val args: Seq[String] =
      if (rest.startsWith("(")) {
        val close = matchParen(rest, 0)
        require(close >= 0, s"unbalanced parentheses in filter '| $name'")
        val a = splitArgs(rest.substring(1, close))
        rest = rest.substring(close + 1)
        a
      } else Nil
    (name, args, rest.dropWhile(_.isWhitespace))
  }

  /** Apply a whole-span `| filter` chain to a resolved `var()` value —
    * the dbt authoring idiom `{{ var('x') | upper }}`. The supported
    * set is deliberately small and string-in/string-out (`upper`,
    * `lower`, `trim`, `replace('a', 'b')` with string-literal
    * arguments, and `default('v')` — a NO-OP here because this path
    * only runs once the var has resolved to a value; the firing case
    * lives in [[substituteVars]]'s whole-span handler); anything else
    * FAILS with the offending filter, the subset discipline everywhere
    * in this renderer. Filters are whole-span only — a filter inside a
    * larger expression (an `{% if %}` condition, a `{% set %}`
    * right-hand side) is outside the subset and surfaces through those
    * paths' own literal checks. Case mapping is locale-independent
    * (Locale.ROOT): rendered SQL must not depend on the driver JVM's
    * default locale.
    */
  private def applyFilters(value: String, chain0: String): String = {
    var v = value
    var rest = chain0.trim
    while (rest.nonEmpty) {
      val (name, args, rest1) = parseFilter(rest)
      rest = rest1
      def str(i: Int): String = {
        val a = args(i).trim
        require(a.headOption.exists(c => c == '\'' || c == '"'),
          s"filter '| $name' arguments must be string literals, got '$a'")
        unquote(a)
      }
      v = (name, args.length) match {
        case ("upper", 0)   => v.toUpperCase(java.util.Locale.ROOT)
        case ("lower", 0)   => v.toLowerCase(java.util.Locale.ROOT)
        case ("trim", 0)    => v.trim
        case ("replace", 2) => v.replace(str(0), str(1))
        case ("default", 1) => v // var resolved — dbt: default never fires
        case _ => throw new IllegalArgumentException(
          s"unsupported Jinja filter '| $name" +
            (if (args.nonEmpty) s"(${args.mkString(", ")})" else "") +
            "' — supported: upper, lower, trim, replace('a', 'b'), " +
            "default('v')")
      }
    }
    v
  }

  def substituteVars(text: String, vars: Map[String, String]): String = {
    if (!text.contains("var")) return text
    // returns (Some(value), index past the ')') for a var-call at
    // `callStart` of `s`, None when "var" there is not followed by '('
    // (not a call). An undefined var with no var() default throws —
    // unless `undefinedOk` (the whole-span `| default` path, which
    // must see the undefined case to decide), which yields
    // (None, past-')') instead.
    def resolve(s: String, callStart: Int, undefinedOk: Boolean = false)
        : Option[(Option[String], Int)] = {
      var j = callStart + 3
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      if (j >= s.length || s.charAt(j) != '(') None
      else {
        val close = matchParen(s, j)
        require(close >= 0, "unbalanced parentheses in var() call")
        val args = splitArgs(s.substring(j + 1, close))
        require(args.nonEmpty && args.size <= 2,
          s"var() takes 1 or 2 arguments, got ${args.size}: " +
            s"'${s.substring(callStart, close + 1)}'")
        require(args.head.headOption.exists(c => c == '\'' || c == '"'),
          s"var() name must be a string literal, got '${args.head}'")
        // the default must itself be a literal — a nested call (e.g.
        // var('a', var('b'))) cannot be evaluated here and previously
        // leaked RAW into the rendered SQL via the whole-span path;
        // fail fast like every other non-subset construct
        args.lift(1).foreach(d => require(topLevelCallFree(d),
          s"unsupported var() default '$d' — literals only"))
        val name = unquote(args.head)
        val vOpt = vars.get(name).orElse(args.lift(1).map(unquote))
        if (vOpt.isEmpty && !undefinedOk) throw new IllegalArgumentException(
          s"var '$name' is undefined — pass vars = Map(…) (dbt --vars) " +
            "or give the var() call a default")
        Some((vOpt, close + 1))
      }
    }
    // a resolved value as an INLINE literal inside a span/tag: numbers,
    // booleans and list literals stay raw (a list value is a dbt idiom:
    // vars: {langs: ['en','de']} consumed by {% for l in var('langs') %});
    // strings re-quote so downstream literal evaluation sees one literal.
    // A string value carrying a quote cannot be re-quoted faithfully in
    // the subset (no escape syntax) — fail fast, never emit a malformed
    // literal.
    def inlineLiteral(v: String): String = {
      val vt = v.trim
      if (numeric(v).isDefined || vt == "true" || vt == "false" ||
        (vt.startsWith("[") && vt.endsWith("]"))) v
      else {
        require(!v.contains('\'') && !v.contains('"'),
          s"var value '$v' contains a quote and is used INSIDE a Jinja " +
            "expression/tag — no escape syntax in the subset; bind it " +
            "via a whole-span {{ var('…') }} instead")
        "'" + v + "'"
      }
    }
    // substitute bare var() calls within ONE span/tag's inner text
    // (quote-aware: 'var(x)' inside the span is a string literal)
    def substInSpan(inner: String): String = {
      val out = new StringBuilder
      var i = 0
      var quote = 0.toChar
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (quote != 0) { out += c; if (c == quote) quote = 0.toChar; i += 1 }
        else if (c == '\'' || c == '"') { quote = c; out += c; i += 1 }
        else if (inner.startsWith("var", i) &&
            (i == 0 || !isIdentChar(inner.charAt(i - 1)))) {
          resolve(inner, i) match {
            // undefinedOk is false here, so the value is always present
            case Some((vOpt, next)) =>
              out.append(inlineLiteral(vOpt.get)); i = next
            case None => out.append("var"); i += 3
          }
        } else { out += c; i += 1 }
      }
      out.toString
    }
    // walk the text JINJA SPAN by JINJA SPAN: var() is Jinja syntax and
    // resolves only inside {{ … }} / {% … %} — plain SQL text is never
    // scanned, so a column/UDF named `var` survives and an unpaired
    // apostrophe in a SQL comment cannot desync anything (a whole-text
    // scan that tracked SQL quotes got both wrong)
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val oExpr = text.indexOf("{{", i)
      val oTag = text.indexOf("{%", i)
      val open =
        if (oExpr < 0) oTag
        else if (oTag < 0) oExpr
        else math.min(oExpr, oTag)
      if (open < 0) { out.append(text.substring(i)); i = text.length }
      else {
        out.append(text.substring(i, open))
        val isExpr = text.startsWith("{{", open)
        val closeTok = if (isExpr) "}}" else "%}"
        val close = text.indexOf(closeTok, open + 2)
        if (close < 0) { out.append(text.substring(open)); i = text.length }
        else {
          val inner = text.substring(open + 2, close)
          val wholeSpan = if (!isExpr) None else {
            // {{ var('x') }} with nothing else in the span prints the
            // RAW value (Jinja semantics), even a value with quotes;
            // an optional trailing `| filter` chain transforms the
            // value before printing ({{ var('x') | upper }} — the dbt
            // authoring idiom); whitespace-control
            // markers ({{- -}}) are span syntax, not content
            val t = inner.trim.stripPrefix("-").stripSuffix("-").trim
            if (t.startsWith("var"))
              resolve(t, 0, undefinedOk = true).flatMap { case (vOpt, next) =>
                val rest = t.substring(next).trim
                vOpt match {
                  case Some(v) =>
                    if (rest.isEmpty) Some(v)
                    else if (rest.startsWith("|")) Some(applyFilters(v, rest))
                    else None
                  case None =>
                    // undefined var with no var() default: dbt
                    // precedence — only a LEADING `| default('v')` can
                    // supply the value (and it NEVER fires when the
                    // var resolved or var() itself defaulted, handled
                    // above where `default` is a no-op). Anything else
                    // re-raises the canonical undefined error.
                    val dflt = if (rest.startsWith("|")) {
                      val (fname, fargs, rest1) = parseFilter(rest)
                      require(fname != "default" || fargs.length == 1,
                        s"filter '| default' takes exactly 1 argument, " +
                          s"got ${fargs.length}")
                      if (fname == "default") {
                        val a = fargs.head.trim
                        val v0 =
                          if (a.headOption.exists(c => c == '\'' || c == '"'))
                            unquote(a)
                          else {
                            require(numeric(a).isDefined ||
                              a == "true" || a == "false",
                              "filter '| default' argument must be a " +
                                s"literal, got '$a'")
                            a
                          }
                        Some(applyFilters(v0, rest1))
                      } else None
                    } else None
                    if (dflt.isEmpty) resolve(t, 0) // throws undefined
                    dflt
                }
              }
            else None
          }
          wholeSpan match {
            case Some(v) => out.append(v)
            case None =>
              out.append(if (isExpr) "{{" else "{%")
                .append(substInSpan(inner)).append(closeTok)
          }
          i = close + 2
        }
      }
    }
    out.toString
  }

  /** Full Jinja render of one model text: `var()` resolution first
    * (so conditions and iterables see the bound literals), then
    * top-level control flow (so `{{ m(loopvar) }}` call args carry the
    * unrolled value), then macro expansion (each macro body's control
    * flow renders at call time under its bound params, inside
    * [[render]]; `var()` in a body resolves then too). `{{ ref(…) }}`
    * and other unknown `{{ … }}` spans pass through for the downstream
    * SQL renderer.
    */
  def renderModel(sql: String, macros: Seq[MacroDef] = Nil,
      maxDepth: Int = 16, vars: Map[String, String] = Map.empty): String =
    expand(renderControlFlow(substituteVars(sql, vars)), macros, maxDepth,
      vars)

  /** Render control flow with no variables in scope (model-level text:
    * conditions and iterables must be literal).
    */
  def renderControlFlow(sql: String): String =
    if (!sql.contains("{%")) sql
    else renderNodes(parseNodes(sql), Map.empty)

  /** Expand every known-macro call site in `sql`, re-scanning until the
    * text is stable so macros may call macros. `maxDepth` bounds the
    * rescan count — a self-referential macro fails fast instead of
    * looping. `{{ ref(…) }}` and other non-macro `{{ … }}` constructs
    * pass through untouched for the downstream renderer.
    */
  def expand(sql: String, macros: Seq[MacroDef], maxDepth: Int = 16,
      vars: Map[String, String] = Map.empty): String = {
    if (macros.isEmpty) return sql
    val byName = macros.map(m => m.name -> m).toMap
    var cur = sql
    var depth = 0
    var changed = true
    while (changed) {
      require(depth < maxDepth,
        s"macro expansion did not terminate in $maxDepth passes — recursive macro?")
      val next = expandOnce(cur, byName, vars)
      changed = next != cur
      cur = next
      depth += 1
    }
    cur
  }

  /** One left-to-right pass replacing each outermost macro call. */
  private def expandOnce(sql: String, byName: Map[String, MacroDef],
      vars: Map[String, String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val open = sql.indexOf("{{", i)
      if (open < 0) { out.append(sql.substring(i)); i = sql.length }
      else {
        out.append(sql.substring(i, open))
        parseCall(sql, open, byName) match {
          case Some((m, args, end)) =>
            out.append(render(m, args, vars))
            i = end
          case None =>
            out.append("{{")
            i = open + 2
        }
      }
    }
    out.toString
  }

  /** Try to read `{{ name( balanced-args ) }}` at `open` for a KNOWN
    * macro name; returns (macro, raw args, index past the closing}}).
    */
  private def parseCall(sql: String, open: Int,
      byName: Map[String, MacroDef]): Option[(MacroDef, Seq[String], Int)] = {
    var i = open + 2
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    val ns = i
    // '.' admits package-qualified call sites ({{ dbt_utils.m(...) }},
    // the dbt spelling [[DbtUtils]] registers aliases for); an unknown
    // dotted name simply fails the byName lookup and passes through
    // like every other non-macro span
    while (i < sql.length &&
      (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_' ||
        sql.charAt(i) == '.')) i += 1
    val name = sql.substring(ns, i)
    byName.get(name).flatMap { m =>
      while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
      if (i >= sql.length || sql.charAt(i) != '(') None
      else {
        // balanced-paren, quote-aware scan for the matching ')'
        var depth = 0
        var quote = 0.toChar
        val as = i + 1
        var ae = -1
        while (i < sql.length && ae < 0) {
          val c = sql.charAt(i)
          if (quote != 0) { if (c == quote) quote = 0.toChar }
          else c match {
            case '\'' | '"' => quote = c
            case '('        => depth += 1
            case ')'        => depth -= 1; if (depth == 0) ae = i
            case _          =>
          }
          i += 1
        }
        if (ae < 0) None
        else {
          while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
          if (i + 1 < sql.length && sql.charAt(i) == '}' && sql.charAt(i + 1) == '}')
            Some((m, splitArgs(sql.substring(as, ae)), i + 2))
          else None
        }
      }
    }
  }

  /** Split a raw argument string on top-level commas (parens, brackets
    * and quotes shield nested ones — a list-literal arg `['a', 'b']`
    * is ONE argument). An all-whitespace string is a ZERO-arg call —
    * Jinja treats `m( )` like `m()`, binding defaults; the
    * error stays for genuinely empty positions like `m(a,,b)`.
    */
  private def splitArgs(s: String): Seq[String] = {
    if (s.trim.isEmpty) return Nil
    val out = scala.collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote = 0.toChar
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0.toChar }
      else c match {
        case '\'' | '"'           => quote = c; cur += c
        case '(' | '['            => depth += 1; cur += c
        case ')' | ']'            => depth -= 1; cur += c
        case ',' if depth == 0    => out += cur.toString; cur.clear()
        case _                    => cur += c
      }
    }
    out += cur.toString
    val parts = out.toSeq.map(_.trim)
    // a trailing comma is fine (Jinja is Python-like): drop the empty tail
    val args = if (parts.last.isEmpty) parts.init else parts
    require(args.forall(_.nonEmpty),
      s"empty argument in macro call args '($s)'")
    args
  }

  private val KwArg = raw"(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*=(?!=)\s*(.*)$$".r

  /** Bind args to params (positional first, then keywords, then
    * defaults) and substitute `{{ param }}` sites in the body.
    */
  private def render(m: MacroDef, args: Seq[String],
      vars: Map[String, String] = Map.empty): String = {
    val (positional, keyword) = args.span(a => KwArg.findFirstIn(a).isEmpty)
    require(positional.size <= m.params.size,
      s"macro '${m.name}' takes ${m.params.size} argument(s), got ${args.size}")
    val kw = keyword.map {
      case KwArg(k, v) => k -> v
      case a => throw new IllegalArgumentException(
        s"macro '${m.name}': positional arg '$a' after keyword args")
    }.toMap
    val unknown = kw.keySet.diff(m.params.map(_._1).toSet)
    require(unknown.isEmpty,
      s"macro '${m.name}' has no parameter(s): ${unknown.mkString(", ")}")
    val bound = m.params.zipWithIndex.map { case ((p, default), idx) =>
      val v = if (idx < positional.size) {
        require(!kw.contains(p),
          s"macro '${m.name}': parameter '$p' given both positionally and by keyword")
        positional(idx)
      } else kw.getOrElse(p, default.getOrElse(throw new IllegalArgumentException(
        s"macro '${m.name}' missing required argument '$p'")))
      // quotedness is KEPT at bind time — the ONE unquote happens at
      // whole-span print, the same convention as {% set %} bindings.
      // (unquoting here too would make {{ m("'x'") }} print x — a
      // double unquote — and split the two binding conventions.)
      p -> v
    }.toMap
    // body control flow renders at CALL time, under the bound params —
    // {% if %}/{% for %} referencing a param are literal once bound; a
    // tag-free body reduces to plain substitution as before. var()
    // resolves first, so a body's conditions/iterables may use it.
    renderNodes(parseNodes(substituteVars(m.body, vars)), bound)
  }

  /** Jinja variable substitution over a macro body: inside every
    * `{{ … }}` span, bound param identifiers resolve to their values
    * (quote-aware — string literals in the span are untouched; kwarg
    * names and call names are syntax, not variables, and are skipped).
    * A span that is EXACTLY one param prints the value (Jinja's
    * `{{ x }}`); any other span re-emits with substituted text for the
    * next expansion pass (nested macro calls) or the downstream
    * renderer (`ref`). Text outside `{{ … }}` is never touched — it is
    * SQL, where an identifier coinciding with a param name must survive.
    */
  private def substituteParams(body: String, bound: Map[String, String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < body.length) {
      val open = body.indexOf("{{", i)
      val close = if (open < 0) -1 else body.indexOf("}}", open + 2)
      if (close < 0) { out.append(body.substring(i)); i = body.length }
      else {
        out.append(body.substring(i, open))
        val inner = body.substring(open + 2, close)
        // whole-span print UNQUOTES: {% set %} keeps a string literal's
        // quotes in the binding (so conditions compare it as a string);
        // {{ x }} prints the value, Jinja semantics
        if (bound.contains(inner.trim)) out.append(unquote(bound(inner.trim)))
        else out.append("{{").append(substIdents(inner, bound)).append("}}")
        i = close + 2
      }
    }
    out.toString
  }

  /** Replace word-boundary occurrences of bound identifiers outside
    * quotes; an identifier followed by `(` (a call) or a single `=`
    * (a kwarg name) is syntax, not a variable reference. Dotted tokens
    * (`loop.first`) resolve as a whole first; an unbound dotted token
    * falls back to per-segment substitution, so `tbl.col` with `tbl`
    * bound still renders `value.col`.
    */
  private def substIdents(s: String, bound: Map[String, String]): String = {
    val out = new StringBuilder
    var i = 0
    var quote = 0.toChar
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { out += c; if (c == quote) quote = 0.toChar; i += 1 }
      else if (c == '\'' || c == '"') { quote = c; out += c; i += 1 }
      else if (c.isLetter || c == '_') {
        val ns = i
        def core(ch: Char) = ch.isLetterOrDigit || ch == '_'
        // a '.' joins the token only when an ident char follows — a
        // trailing dot ("x.") is punctuation, not part of the name
        while (i < s.length && (core(s.charAt(i)) ||
          (s.charAt(i) == '.' && i + 1 < s.length && core(s.charAt(i + 1))))) i += 1
        val ident = s.substring(ns, i)
        var j = i
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        val isSyntax = j < s.length && (s.charAt(j) == '(' ||
          (s.charAt(j) == '=' && (j + 1 >= s.length || s.charAt(j + 1) != '=')))
        out.append(
          if (isSyntax) ident
          else bound.get(ident).getOrElse(
            ident.split('.').map(seg => bound.getOrElse(seg, seg))
              .mkString(".")))
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Jinja string semantics: a fully quoted arg renders unquoted;
    * anything else passes through verbatim.
    */
  private def unquote(s: String): String =
    if (s.length >= 2 &&
      (s.head == '\'' || s.head == '"') && s.last == s.head &&
      // 'a' + 'b' is an expression, not one literal — only strip when
      // the opening quote closes at the END
      s.indexOf(s.head, 1) == s.length - 1) s.substring(1, s.length - 1)
    else s
}
