package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** MATERIALIZED-VIEW AGGREGATE REWRITE — the "aggregate navigator" every
  * 100-TB lakehouse runs: a query aggregating the raw fact table is
  * rerouted by the OPTIMIZER onto a pre-aggregated monthly rollup whenever
  * its grouping keys are a subset of the rollup's keys and its aggregates
  * are derivable from the rollup's partial states (count → sum of partial
  * counts, sum → sum of partial sums). The query author writes against the
  * fact table; the plan never touches it — this is an engine property, not
  * a per-query rewrite, which is the whole point (the q_join_cbo_reorder
  * argument applied to aggregation).
  *
  * Matching is deliberately NARROW and metadata-driven the way a real MV
  * catalog would be: a rollup is REGISTERED against the exact root paths of
  * the fact relation it was built from, and the rule fires only on an
  * Aggregate whose
  *  - child is that relation under semantics-preserving projections only
  *    (attribute selections and same-column cast relabels — the
  *    [[graft.Catalog]] normalize shape; any Filter or computed column
  *    disqualifies),
  *  - grouping keys are exactly {l_returnflag, month(l_shipdate)::long}
  *    (a strict SUBSET of the rollup's (flag, status, mon) keys — the
  *    rewrite must RE-aggregate, demonstrating rollup navigation, not a
  *    1:1 swap),
  *  - aggregates are count(1) and/or sum(cast(l_quantity as long)).
  * Anything else is left untouched — a conservative matcher can only lose
  * an optimization, never correctness. Output attribute ids are preserved
  * via aliasing, so parent operators (Sort, Project) rebind unchanged.
  *
  * Scale: the rollup is |months × flags × statuses| rows — the classic
  * 10^6-fold reduction; serving the query from it is a broadcast-scale
  * aggregation instead of a fact scan. Registration is per-application
  * (the eviction rule of [[graft.Memo]]).
  */
object MvAggregateRewrite extends Rule[LogicalPlan] {

  /** A registered rollup: the materialized (checkpointed-leaf) plan and
    * its output attributes (flag, status, mon, cnt, sqty). */
  case class Entry(plan: LogicalPlan, flag: Attribute, status: Attribute,
                   mon: Attribute, cnt: Attribute, sqty: Attribute)

  private val registry = new ConcurrentHashMap[String, Entry]()

  def register(appId: String, pathKey: String, e: Entry): Unit = {
    registry.keySet.removeIf(k => !k.startsWith(s"$appId#"))
    registry.put(s"$appId#$pathKey", e)
  }

  def registered(appId: String, pathKey: String): Boolean =
    registry.containsKey(s"$appId#$pathKey")

  private[graft] def clearForTest(): Unit = registry.clear()

  /** Walk the fact relation's project chain, building the substitution
    * environment that resolves every intermediate alias back to relation
    * attributes (optimizer rules like PullOutGroupingExpressions hoist
    * computed grouping keys into a child Project as `_groupingexpression`
    * aliases, and [[graft.Catalog]]'s normalize adds cast relabels — both
    * must resolve away before the semantic match). Returns (env, pathKey).
    * Safety does not rest on what the Projects contain: expressions are
    * RESOLVED through the env and must then match the allowed shapes
    * exactly, so a Project computing, say, upper(flag) AS l_returnflag
    * resolves to a non-attribute and simply never matches.
    */
  private def resolveChain(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], String)] = p match {
    case Project(pl, c) => resolveChain(c).map { case (env, key) =>
      val next = env ++ pl.collect {
        case a: Alias => a.exprId -> substitute(a.child, env)
      }
      (next, key)
    }
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation =>
        Some((Map.empty[ExprId, Expression],
          h.location.rootPaths.map(_.toString).sorted.mkString(",")))
      case _ => None
    }
    case _ => None
  }

  private def substitute(e: Expression,
                         env: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case ar: AttributeReference if env.contains(ar.exprId) => env(ar.exprId)
    }

  /** Root-path key of a plan that is the fact relation under projections
    * only; None otherwise. Exposed so registration derives the key from
    * the SAME walk the matcher uses. */
  def factPathKey(p: LogicalPlan): Option[String] = resolveChain(p).map(_._2)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    val appId = SparkSession.getActiveSession
      .map(_.sparkContext.applicationId).getOrElse(return plan)
    plan.transformUp {
      case agg: Aggregate => rewrite(appId, agg).getOrElse(agg)
    }
  }

  /** Strip value-preserving cast relabels (the Catalog timestamp
    * normalize) off a resolved expression before attribute matching. */
  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  private def rewrite(appId: String, agg: Aggregate): Option[LogicalPlan] = {
    val chain = resolveChain(agg.child)
    if (chain.isEmpty) return None
    val (env, pathKey) = chain.get
    val e = Option(registry.get(s"$appId#$pathKey")).getOrElse(return None)
    val gs = agg.groupingExpressions
    if (gs.size != 2) return None
    def resolved(x: Expression): Expression = substitute(x, env)
    def isFlag(x: Expression): Boolean = stripCasts(resolved(x)) match {
      case ar: AttributeReference => ar.name == "l_returnflag"
      case _ => false
    }
    // Exactly month(l_shipdate)::long — structural, not containment. The
    // r11-advice containment check (`references == {l_shipdate} && exists
    // Month`) also matched e.g. (year*12+month)::long or (month%2)::long
    // and would have silently served them the rollup's plain month column.
    // Only a value-preserving relabel cast may sit between Month and the
    // relation attribute (the Catalog normalize shape resolved via env).
    def isMon(x: Expression): Boolean = resolved(x) match {
      case Cast(Month(inner), LongType, _, _) => stripCasts(inner) match {
        case ar: AttributeReference => ar.name == "l_shipdate"
        case _ => false
      }
      case _ => false
    }
    val flagG = gs.find(isFlag)
    val monG = gs.find(g => !isFlag(g) && isMon(g))
    if (flagG.isEmpty || monG.isEmpty) return None
    val monResolved = resolved(monG.get match {
      case a: Alias => a.child
      case x => x
    })
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if isFlag(a) =>
        Some(Alias(e.flag, a.name)(exprId = a.exprId))
      case a: AttributeReference if isMon(a) =>
        Some(Alias(e.mon, a.name)(exprId = a.exprId))
      case al: Alias if al.child.isInstanceOf[AggregateExpression] =>
        val ae = al.child.asInstanceOf[AggregateExpression]
        if (ae.isDistinct) None
        else ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) =>
            Some(Alias(Sum(e.cnt).toAggregateExpression(), al.name)(
              exprId = al.exprId))
          case s: Sum => resolved(s.child) match {
            case c: Cast if c.dataType == LongType =>
              stripCasts(c) match {
                case ar: AttributeReference if ar.name == "l_quantity" =>
                  Some(Alias(Sum(e.sqty).toAggregateExpression(), al.name)(
                    exprId = al.exprId))
                case _ => None
              }
            case _ => None
          }
          case _ => None
        }
      case al: Alias if resolved(al.child).semanticEquals(monResolved) =>
        Some(Alias(e.mon, al.name)(exprId = al.exprId))
      case al: Alias if isFlag(al.child) =>
        Some(Alias(e.flag, al.name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else Some(Aggregate(Seq(e.flag, e.mon), mapped.map(_.get), e.plan))
  }
}
