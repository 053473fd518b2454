package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
  AttributeReference, DenseRank, NullsFirst, NullsLast, Rank,
  WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project, SubqueryAlias, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.Shims

import graft.operators.Ranking

/** Optimizer rule (SURVEY §4's named candidate): rewrite an UNPARTITIONED
  * `DENSE_RANK() OVER (ORDER BY …)` — which moves every row into ONE window
  * partition (Spark itself warns "No Partition Defined … serious performance
  * degradation") — into the two-pass shuffle-parallel plan of
  * [[Ranking.globalDenseRankCols]]. With it, the reference's literal SQL
  * idiom (`dags/sql/queries.sql:43-45`, the `sql_entry_rank_orders` path)
  * gets the same scale-safe plan the DataFrame API path (`q05`) builds
  * explicitly; results are bit-identical, only the physical plan changes.
  *
  * Deliberately gated on the window input NOT being an aggregation:
  * post-aggregate ranks (q01–q14's BI idiom) have dimension-bounded
  * cardinality where the single-partition window is the cheaper plan; the
  * scale-killer is ranking a full fact table. Kill-switch:
  * `spark.graft.globalRankRewrite=false`.
  *
  * Execution note: the rule launches NO Spark jobs at plan time. It calls
  * `Ranking` with `jobFreePlanning = true`, so the distinct-value frame is
  * pinned by a lazy `persist()` (the DEFAULT outside the rule is an eager
  * checkpoint — see `Ranking.pin` for why), and the rule splices the
  * sub-frame's `withCachedData` plan so both consumers of the range
  * partitioning share the one `InMemoryRelation` (one exchange instance,
  * one boundary-sampling pass — identical boundaries guaranteed without
  * running anything during `explain()` or re-planning). The persisted
  * frame is the distinct value set — small by construction, and its
  * storage is swept when the query completes ([[RankPinRelease]] /
  * [[graft.operators.RankPins]] — frames no longer accumulate across a
  * session's SQL-text rank queries).
  *
  * Covers `DENSE_RANK()` (two-pass over distinct values) and `RANK()`
  * (two-pass over value row counts — gap semantics). Restrictions (rule
  * bails, plan left unchanged): a single rank window expression, order
  * keys are plain attributes with uniform direction and default null
  * ordering, and no column-name collisions with the rewrite's
  * temporaries. `ROW_NUMBER()` is deliberately NOT rewritten: without a
  * unique total order its assignment inside ties is arbitrary, so a plan
  * change could legally permute results.
  */
case class GlobalRankRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  // Single source of truth lives next to the columns it guards — a new
  // temporary added in Ranking (e.g. round 4's _vn/_prior) can't silently
  // miss this gate again.
  private val tempNames = Ranking.tempNames

  /** Descend through no-op wrappers to see whether the ranked input is an
    * aggregation (bounded cardinality → leave the window alone). */
  @tailrec
  private def throughCheap(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, c)         => throughCheap(c)
    case Filter(_, c)          => throughCheap(c)
    case SubqueryAlias(_, c)   => throughCheap(c)
    case _                     => p
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.globalRankRewrite", "true").toBoolean) plan
    else {
      // a rule that pins frames guarantees its own sweeper — builder-time
      // .withExtensions sessions never pass through register()
      GraftExtensions.ensurePinListener(spark)
      plan.transformUp {
      case w @ Window(Seq(alias: Alias), partSpec, orderSpec, child, _)
          if partSpec.isEmpty && orderSpec.nonEmpty && w.resolved &&
            (alias.child match {
              case WindowExpression(_: DenseRank, _) => true
              case WindowExpression(_: Rank, _)      => true
              case _ => false
            }) &&
            orderSpec.forall(_.child.isInstanceOf[AttributeReference]) &&
            orderSpec.map(_.direction).distinct.size == 1 &&
            orderSpec.forall(so => so.nullOrdering ==
              (if (so.direction == Ascending) NullsFirst else NullsLast)) &&
            child.output.map(_.name).distinct.size == child.output.size &&
            !child.output.map(_.name)
              .exists(n => n == alias.name || tempNames(n) || n.startsWith("_v_")) &&
            !throughCheap(child).isInstanceOf[Aggregate] =>
        val valueCols =
          orderSpec.map(_.child.asInstanceOf[AttributeReference].name)
        val ascending = orderSpec.head.direction == Ascending
        // jobFreePlanning: an optimizer rule must not launch jobs from
        // inside explain()/re-planning — the rank pins its boundary frame
        // with a lazy persist here instead of the default eager checkpoint.
        val twoPass: (org.apache.spark.sql.DataFrame, Seq[String], String,
            Boolean) => org.apache.spark.sql.DataFrame =
          alias.child match {
            case WindowExpression(_: DenseRank, _) =>
              Ranking.globalDenseRankCols(_, _, _, _, jobFreePlanning = true)
            case _ =>
              Ranking.globalRankCols(_, _, _, _, jobFreePlanning = true)
          }
        val ranked = twoPass(
          Shims.ofRows(spark, child), valueCols, alias.name, ascending)
        // withCachedData, not analyzed: the outer query's own cache
        // substitution already ran (it precedes optimization), so splicing
        // the raw analyzed plan would leave Ranking's persisted
        // distinct-value frame unsubstituted — each consumer would re-plan
        // its own exchange and the boundary-pinning contract (Ranking
        // scaladoc) would silently rest on exchange reuse alone.
        val rankedPlan = ranked.queryExecution.withCachedData
        // Graft back under the original output attribute ids so every
        // parent operator (the outer ORDER BY, projections) still resolves.
        Project(
          w.output.zip(rankedPlan.output).map { case (target, actual) =>
            Alias(actual, target.name)(exprId = target.exprId)
          },
          rankedPlan)
      }
    }
}
