package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Analysis-only lint for the join-fan-out anti-pattern the reference
  * documents (reference: docs/bug-analysis.md:128-135 — "joins between
  * aggregated CTEs and detail-level tables", "joins on non-unique keys";
  * mechanism at docs/bug-analysis.md:69-98). At 100 TB a silent 39/11×
  * row multiplication is an incident, so the engine flags it at plan time.
  *
  * The rule NEVER rewrites: it walks the optimized plan, and for every
  * join between an aggregate-grain subtree and a detail-grain subtree
  * where the detail side's equi-join keys are not provably unique (not
  * that side's grouping keys, no Distinct), it records a warning. Register
  * via [[GraftExtensions]] (SparkSessionExtensions.injectOptimizerRule).
  */
object FanoutLint extends Rule[LogicalPlan] {

  /** Recent findings (bounded), for tests and operator tooling. */
  private val findings = new ConcurrentLinkedQueue[String]()

  def recentFindings: Seq[String] = findings.asScala.toSeq

  def clear(): Unit = findings.clear()

  /** Join keys whose one-row-per-key uniqueness is a LIBRARY CONTRACT
    * rather than plan-provable — graft operators register their internal
    * contract columns here (e.g. the LSH verify join's `__graft_id_a`:
    * candidate pairs join per-doc shingle frames keyed by a unique doc
    * id) so the lint stays quiet on joins the library itself guarantees,
    * and a real user-query warning is never buried under operator noise
    * (across the demos, internal WARNs would mask a genuine one).
    * Matching is name-based, so the registered names MUST
    * live in the reserved `__graft_` namespace: operators join on the
    * namespaced key internally and alias to their public output names
    * (`id_a`…) only in the final select, which keeps a user query whose
    * own columns coincide with the public names fully linted (a
    * public-name allowlist would silently exempt user joins on `id_a`
    * and make lint behavior depend on class-load order).
    */
  private val contractKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def allowContractKeys(keys: String*): Unit = {
    require(keys.forall(_.startsWith("__graft_")),
      s"contract keys must be __graft_-namespaced, got: ${keys.mkString(", ")}")
    keys.foreach(contractKeys.add)
  }

  private def allContract(keys: Seq[Attribute]): Boolean =
    keys.nonEmpty && keys.forall(k => contractKeys.contains(k.name))

  private def record(msg: String): Unit = {
    // optimizer batches run to fixed point and AQE re-optimizes per stage,
    // so the same join is visited repeatedly — record each finding once
    if (!findings.contains(msg)) {
      findings.add(msg)
      while (findings.size > 100) findings.poll()
      logWarning(s"[fanout-lint] $msg")
    }
  }

  /** Does this subtree contain an Aggregate/Distinct below only grain-
    * preserving operators (Project/Filter/Sort/alias)? Such a subtree is
    * "aggregate-grain": each row represents a group, not a source record.
    */
  private def aggregateGrain(plan: LogicalPlan): Option[Aggregate] = plan match {
    case a: Aggregate => Some(a)
    case d: Distinct => d.child match { case a: Aggregate => Some(a); case _ => None }
    case p: Project => aggregateGrain(p.child)
    case f: Filter => aggregateGrain(f.child)
    case s: Sort => aggregateGrain(s.child)
    case s: SubqueryAlias => aggregateGrain(s.child)
    // a join of two aggregate-grain subtrees stays aggregate-grain (each
    // row is a pair of groups) — the reference's buggy model joins a
    // full-outer of two monthly aggregates back to loan detail, and the
    // lint must see through that join (agg_monthly_loans.sql:45-49)
    case j: Join =>
      for (a <- aggregateGrain(j.left); _ <- aggregateGrain(j.right)) yield a
    case _ => None
  }

  /** Attributes used in equi-join conditions, split by side. */
  private def equiKeys(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): (Seq[Attribute], Seq[Attribute]) = {
    val pairs = cond.collect { case EqualTo(a: Attribute, b: Attribute) => (a, b) }
    val l = left.outputSet
    pairs.flatMap { case (a, b) =>
      if (l.contains(a)) Seq((a, b))
      else if (l.contains(b)) Seq((b, a))
      else Nil
    }.unzip
  }

  /** Is the detail side at most one row per join-key tuple, provably?
    * Without table statistics this is only provable from plan structure:
    * a max-1-row relation (global aggregate or LIMIT <= 1) can't fan
    * anything out. (A detail side that is itself grouped/distinct on the
    * keys shows up as aggregate-grain and is handled by the caller's
    * grain check, not here.)
    */
  private def maxOneRow(side: LogicalPlan): Boolean = side match {
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case GlobalLimit(lim, child) =>
      lim.foldable && Option(lim.eval()).exists(_.asInstanceOf[Number].longValue <= 1)
    case p: Project => maxOneRow(p.child)
    case f: Filter => maxOneRow(f.child)
    case s: SubqueryAlias => maxOneRow(s.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case Join(left, right, joinType, Some(cond), _)
          if joinType == Inner || joinType == LeftOuter || joinType == RightOuter ||
            joinType == FullOuter =>
        val (lk, rk) = equiKeys(cond, left, right)
        val leftAgg = aggregateGrain(left).isDefined
        val rightAgg = aggregateGrain(right).isDefined
        // aggregate-grain ⋈ detail-grain: unless the detail side provably
        // has at most one row per key, every aggregate row can multiply by
        // the detail key multiplicity. This is the reference doc's REVIEW
        // heuristic (docs/bug-analysis.md:128-135) — plan structure alone
        // cannot prove a raw relation's key uniqueness, so dim joins below
        // an aggregate also warn (by design: the doc flags them for review).
        if (leftAgg && !rightAgg && rk.nonEmpty && !maxOneRow(right) &&
            !allContract(rk))
          record(s"aggregate-grain left side joins detail rows on " +
            s"key(s) ${rk.map(_.name).mkString(", ")} of unproven uniqueness — " +
            "aggregate rows fan out if the key repeats (reference: docs/bug-analysis.md:69-98)")
        if (rightAgg && !leftAgg && lk.nonEmpty && !maxOneRow(left) &&
            !allContract(lk))
          record(s"aggregate-grain right side joins detail rows on " +
            s"key(s) ${lk.map(_.name).mkString(", ")} of unproven uniqueness — " +
            "aggregate rows fan out if the key repeats (reference: docs/bug-analysis.md:69-98)")
      case _ =>
    }
    plan
  }
}

// The session-extension entry point lives in GraftExtensions.scala — it
// injects this rule plus the codegen'd kernel functions.
