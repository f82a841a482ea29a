package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, HintInfo, Join, JoinHint, LeafNode, LogicalPlan, Project, RepartitionByExpression, SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.GraftSqlBridge.normalizeFloats

/** Keep holistic aggregates out of a COUNT(DISTINCT)-style aggregate.
  *
  * Spark plans a single-distinct aggregate by grouping first on (keys,
  * distinct value) and merging the other aggregates' buffers along the
  * way, so `Aggregate(keys, [COUNT(DISTINCT a), MEDIAN(x)], child)` carries
  * one `percentile` buffer for every (keys, a) group through four
  * ObjectHashAggregates, each of which falls back to sort past 128 keys.
  * A measure view that defines `COUNT(DISTINCT l_partkey)` next to
  * `MEDIAN(l_quantity)` inlines both into exactly that aggregate. This
  * rule splits it into two aggregates over the same child, joined on the
  * grouping keys, so the holistic buffers are kept per group of keys only:
  *
  *   Project(out, Aggregate(K, distinct aggs, shared)
  *                  ⋈ Aggregate(K, every other agg, shared))
  *   shared = Repartition(K [++ distinct value], Project(inputs ++ K, child))
  *
  * K holds each non-nullable key as is and each nullable key as
  * (coalesce(k, default), isnull(k)): that groups the same rows, is never
  * NULL, and lets both sides join with `=` on attributes hash-partitioned
  * on K. Both repartitions are one exchange (Spark reuses it), so the
  * child is scanned once. The join is hinted shuffle-hash so the planner
  * does not broadcast a side that is already co-partitioned.
  *
  * How `shared` is partitioned follows the child's estimated size:
  *  - at most AQE's minimum partition size
  *    (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, 1 MB):
  *    on K alone. AQE runs such a reduce side as one task however it is
  *    partitioned, and on K each side aggregates and the join runs in the
  *    stage that reads the exchange: one scan stage and one final stage,
  *    against the mixed plan's three stages;
  *  - larger: on K and the distinct value. On K alone every row would go
  *    to at most one reduce task per group of K (2 for `l_linestatus`),
  *    where the mixed plan's first exchange, on (K, a), spreads its rows
  *    over every task. On (K, a) the distinct side runs Spark's own
  *    (K, a) merge in place and the other side its partial aggregation,
  *    each over every reduce task, and both then shuffle small buffers on
  *    K for the final aggregate and the join. Neither shape keeps the
  *    mixed plan's map-side partial aggregation, which on (K, a) with a
  *    percentile buffer per group is the cost this rule removes.
  *
  * Measured (PERF.md §0r): warm reads on `local[4]` under AQE, perfbench's
  * bucketed layout, median of 5–7 alternating runs, mixed → split on K →
  * split on (K, a), over lineitem at sf0.01 (width 4), 10× (sf0.1,
  * width 4) and 100× (`GenScaled` of sf0.01, 6M rows, width 11):
  *  - COUNT(DISTINCT l_partkey) + MEDIAN(l_quantity) by (ship_year,
  *    l_linestatus): 415 → 263 → 314 ms; 1,316 → 607 → 645 ms;
  *    4,749 → 2,382 → 2,446 ms;
  *  - COUNT(DISTINCT l_orderkey) + MEDIAN(l_extendedprice) by
  *    l_linestatus (2 groups): 246 → 255 → 248 ms; 1,753 → 1,749 →
  *    1,215 ms; 7,517 → 5,390 → 3,558 ms.
  * Of 8 such reads, each split beat the mixed plan at 10× and 100× in
  * both shapes, and (K, a) was the faster shape there for every read by
  * `l_linestatus` alone; at sf0.01 (a child estimated at 0.2–0.5 MB) K
  * alone was 10–16 % faster than (K, a) on the three reads by two
  * `li_v` dimensions and within 8 % on the rest. In perfbench `modeling`
  * (sf0.01, traced seed 101) the 8 DISTINCT + MEDIAN reads took 4.94 s in
  * place of 6.53 s. Spark's own `RewriteDistinctAggregates` Expand shape
  * measured slower than the mixed plan in a warm probe.
  *
  * Gates:
  *  - exactly one distinct group (the same non-foldable child set) and no
  *    FILTER on a distinct aggregate: that is the only case Spark's
  *    `RewriteDistinctAggregates` has left unexpanded;
  *  - at least one non-distinct `TypedImperativeAggregate` (percentile
  *    and median, mode, collect_*, approx_percentile): without one the
  *    single-distinct plan carries only fixed-width buffers, and the
  *    split would give up the distinct side's partial aggregation for
  *    nothing;
  *  - the child is deterministic, not streaming, and only scans, filters,
  *    projects and expands, so it is safe to read for both sides: the same
  *    leaf-only reasoning as [[EagerAggregation]]'s, which measured pushes
  *    into join-bearing subtrees as pure overhead.
  *
  * Float and double key columns are normalized where K is computed (the
  * rule runs after Spark's `NormalizeFloatingNumbers`), so -0.0, 0.0 and
  * NaN hash, group and pair as the mixed plan grouped them. A global
  * aggregate has no K: its two sides read the child as is, each with its
  * own partial aggregation, and cross-join 1×1, so empty input still
  * gives one row.
  */
object SplitHolisticDistinct extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.isStreaming) return plan
    plan.transform {
      case agg: Aggregate if eligible(agg) => split(agg)
    }
  }

  private def aggCalls(agg: Aggregate): Seq[AggregateExpression] =
    agg.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })

  private def eligible(agg: Aggregate): Boolean = {
    val calls = aggCalls(agg)
    val distinct = calls.filter(_.isDistinct)
    val groups = distinct.map(_.aggregateFunction.children.filter(!_.foldable)
      .map(_.canonicalized).toSet).distinct
    groups.size == 1 && distinct.forall(_.filter.isEmpty) &&
      calls.exists(ae => !ae.isDistinct &&
        ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]) &&
      agg.expressions.forall(_.deterministic) && agg.child.deterministic &&
      !agg.child.exists {
        case _: LeafNode | _: Project | _: Filter | _: Expand => false
        case _ => true
      }
  }

  private def split(agg: Aggregate): LogicalPlan = {
    // K: a non-nullable key as is, a nullable one as (value, is-null);
    // float values normalized before they are hashed, grouped or joined
    val columns: Seq[Expression] = agg.groupingExpressions.flatMap { k =>
      if (k.nullable) Seq(normalizeFloats(Coalesce(Seq(k, Literal.default(k.dataType)))), IsNull(k))
      else Seq(normalizeFloats(k))
    }
    val aliased = mutable.LinkedHashMap[Expression, Alias]()
    for (ae <- aggCalls(agg) if !aliased.contains(ae.canonicalized))
      aliased(ae.canonicalized) = Alias(ae, "__graft_agg")()
    val (distinctAggs, otherAggs) =
      aliased.values.toSeq.partition(_.child.asInstanceOf[AggregateExpression].isDistinct)

    // the key columns are computed once, below one repartition that both
    // sides share, so the two exchanges are one (Spark reuses it). Input
    // that AQE runs as one reduce task anyway is partitioned on K alone,
    // and each side aggregates with no exchange of its own; larger input
    // on K and the distinct value, so its rows spread over every reduce
    // task however few groups K has, and each side shuffles its partial
    // buffers on K once more
    val keyCols = columns.map(Alias(_, "__graft_key")())
    val grouping = keyCols.map(_.toAttribute)
    val inputs = AttributeSet(aliased.values.flatMap(_.child.references))
    val spread = if (agg.child.stats.sizeInBytes <=
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)) Nil
      else distinctAggs.head.child.asInstanceOf[AggregateExpression]
        .aggregateFunction.children.filter(!_.foldable)
    val shared = if (columns.isEmpty) agg.child else RepartitionByExpression(grouping ++ spread,
      Project(agg.child.output.filter(inputs.contains) ++ keyCols, agg.child), None, None)
    def side(aggs: Seq[Alias]): (Seq[Alias], Aggregate) = {
      val keys = grouping.map(Alias(_, "__graft_key")())
      (keys, Aggregate(grouping, keys ++ aggs, shared))
    }
    val ((leftKeys, left), (rightKeys, right)) = (side(distinctAggs), side(otherAggs))
    val condition = leftKeys.zip(rightKeys)
      .map { case (l, r) => EqualTo(l.toAttribute, r.toAttribute): Expression }.reduceOption(And)
    // a global aggregate is a 1×1 cross join, which the planner broadcasts
    val hint = if (condition.isEmpty) JoinHint.NONE
      else JoinHint(None, Some(HintInfo(strategy = Some(SHUFFLE_HASH))))
    val join = Join(left, right, Inner, condition, hint)

    // each original key, rebuilt from the distinct side's key columns
    val cols = leftKeys.iterator.map(_.toAttribute)
    val keyOf: Map[Expression, Expression] = agg.groupingExpressions.map { k =>
      k.canonicalized -> (if (k.nullable) {
        val (value, isNull) = (cols.next(), cols.next())
        If(isNull, Literal(null, k.dataType), value)
      } else cols.next())
    }.toMap
    def rebuild(e: Expression): Expression = e.transformDown {
      case ae: AggregateExpression => aliased(ae.canonicalized).toAttribute
      case k if keyOf.contains(k.canonicalized) => keyOf(k.canonicalized)
    }
    val projectList = agg.aggregateExpressions.map {
      case a: Alias => a.withNewChildren(Seq(rebuild(a.child))).asInstanceOf[NamedExpression]
      case a: Attribute => Alias(rebuild(a), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case other => rebuild(other).asInstanceOf[NamedExpression]
    }
    Project(projectList, join)
  }
}
