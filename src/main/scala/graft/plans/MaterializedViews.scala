package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Materialized-summary rewrite: `GROUP BY g, count(*)` over a
  * registered base table is answered from its pre-computed summary —
  * the aggregate-navigation feature of a warehouse engine (Goldstein &
  * Larson 2001's view-matching, scoped to the single-table count
  * rollup), as a Catalyst optimizer rule. The reference's report
  * tables are exactly such rollups, refreshed by every pipeline run;
  * registering them here means every downstream count-by-dimension
  * reads rollup-sized data instead of re-scanning the corpus — at
  * 100 TB the difference between a metadata-sized read and a full
  * table pass.
  *
  * Mechanics: the rule matches an [[Aggregate]] with a single
  * grouping attribute and only count(*)-style aggregates, whose child
  * scans the registered base path (directly or through the
  * column-pruning Project). The replacement is a Project over the
  * summary's analyzed plan that RE-ALIASES the summary columns onto
  * the original aggregate's output exprIds — parent operators keep
  * resolving against the same attributes, so the rewrite is invisible
  * above. Each session's rule instance answers only from summaries
  * registered in that session (`summary.sparkSession`): another
  * session on the same context may read different data under the same
  * path. No summary of its session ⇒ the rule returns the plan
  * unchanged (zero cost to every other query). Staleness is the
  * registrant's contract (same as any warehouse MV refreshed by the
  * pipeline that owns it).
  */
object MaterializedViews {

  /** summary must have exactly (groupCol, cnt: long) columns and be
    * derived from the CURRENT base contents (register after refresh).
    */
  final case class SummaryDef(basePathSuffix: String, groupCol: String, summary: DataFrame)

  private val registry = TrieMap.empty[String, SummaryDef]

  def register(name: String, basePathSuffix: String, groupCol: String,
               summary: DataFrame): Unit = {
    require(summary.columns.toSeq == Seq(groupCol, "cnt"),
      s"summary must have columns ($groupCol, cnt), got ${summary.columns.mkString(",")}")
    // A summary whose own plan still scans the registered base (the
    // natural base.groupBy(g).count() formulation) would match the
    // rewrite pattern itself: Rewrite would substitute it, recurse into
    // the substitution, and rewrite forever (optimizer StackOverflow).
    // Eagerly materialize such summaries so the stored plan is a
    // LocalRelation-backed scan — rollup-sized by contract, and the
    // materialization also pins the registered contents to what the
    // registrant computed (the documented refresh contract).
    val stored =
      if (relationAnywhere(summary.queryExecution.analyzed, basePathSuffix))
        summary.localCheckpoint(true)
      else summary
    registry.put(name, SummaryDef(basePathSuffix, groupCol, stored))
  }

  def clear(): Unit = registry.clear()

  private def scannedPath(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case lr: LogicalRelation => Some(lr)
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scannedPath(child)
    case _ => None
  }

  /** Path match on a component boundary: `a/b/documents.parquet`
    * matches suffix `documents.parquet`, but `a/test_documents.parquet`
    * does NOT — a raw endsWith would silently answer an unrelated
    * table with a colliding suffix and same group column from the
    * wrong summary.
    */
  private def pathMatches(path: String, suffix: String): Boolean =
    path == suffix || path.endsWith("/" + suffix)

  private def relationOf(lr: LogicalRelation, suffix: String): Boolean =
    lr.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.exists(p => pathMatches(p.toString, suffix))
      case _ => false
    }

  /** Does ANY node of `plan` scan the base path (used by register()'s
    * self-reference check — unlike [[relationMatches]] it looks through
    * every operator, not just the prune-Project chain).
    */
  private def relationAnywhere(plan: LogicalPlan, suffix: String): Boolean =
    plan.collectFirst {
      case lr: LogicalRelation if relationOf(lr, suffix) => ()
    }.nonEmpty

  private def relationMatches(plan: LogicalPlan, suffix: String): Boolean =
    scannedPath(plan).exists {
      case lr: LogicalRelation => relationOf(lr, suffix)
      case _ => false
    }

  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(c: Count, _, false, _, _), _) =>
      c.children == Seq(Literal(1)) || c.children == Seq(Literal(1L))
    case _ => false
  }

  final class Rewrite(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val defs = registry.values.filter(_.summary.sparkSession eq session)
      if (defs.isEmpty) plan
      else plan.transform {
        case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, child, _)
            if aggExprs.length == 2 &&
              aggExprs.head.isInstanceOf[AttributeReference] &&
              aggExprs.head.exprId == g.exprId &&
              isCountStar(aggExprs(1)) =>
          defs
            .find(d => d.groupCol == g.name && relationMatches(child, d.basePathSuffix))
            .map { d =>
              val sumPlan = d.summary.queryExecution.analyzed
              val Seq(sg, sc) = sumPlan.output
              val cntAlias = aggExprs(1).asInstanceOf[Alias]
              Project(Seq(
                Alias(sg, g.name)(exprId = g.exprId),
                Alias(sc, cntAlias.name)(exprId = cntAlias.exprId)), sumPlan)
            }
            .getOrElse(agg)
      }
    }
  }
}
