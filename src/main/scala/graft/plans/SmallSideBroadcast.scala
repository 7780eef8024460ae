package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter,
  HintInfo, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Broadcasts the small side of an inner equi-join that Spark's own
  * estimate cannot see is small. Spark's size-only statistics estimate a
  * join as the product of its inputs, so a filtered dimension joined to a
  * larger table (customer ⋈ orders in TPC-H Q5) looks far larger than
  * either input, is never broadcast, and the fact table it is joined to
  * next (lineitem) is shuffled instead. Every fixture parquet file is one
  * row group, so that shuffle's map stage is a single task over the whole
  * fact table. In the `star_sql` benchmark, `local_supplier` took 544 ms
  * planned and 325 ms with the customer ⋈ orders side hinted (4 vCPUs).
  *
  * For an inner equi-join without a hint, where neither side is under
  * `spark.sql.autoBroadcastJoinThreshold` by Spark's estimate, the rule
  * sizes each side as rows × `EstimationUtils.getSizePerRow(output)` and
  * puts a `BROADCAST` hint on the smaller side that comes in under the
  * threshold. The rows of a side:
  *
  *  - a relation [[Tables.openParquet]] read from one data file: the row
  *    count its footer holds ([[Tables.FooterFacts]]);
  *  - `Filter` and `Project`: their child's rows (there is no
  *    selectivity, so the estimate is an upper bound);
  *  - an inner equi-join: max(left rows, right rows), the key–foreign-key
  *    bound, but only when one side's join key is an integer column of a
  *    relation under that side (through filters and projections) whose
  *    footer min/max range is at least the relation's row count. A
  *    smaller range means the key values repeat, and the join may be
  *    many-to-many;
  *  - anything else (aggregates, generators, cached relations, relations
  *    graft did not open, multi-file roots) has no estimate, and the rule
  *    leaves that side to Spark.
  *
  * The rule adds no conf key, declines when the threshold is −1, and feeds
  * nothing to CBO (its filter estimation fails on the fixtures'
  * `TimestampNTZType`). The hinted join carries the estimate as the tag
  * [[EstimatedRows]], which [[Profile]] prints beside the rows each
  * broadcast built.
  *
  * Installed by [[Session.prepare]] after [[Mv.MvRewrite]] in the user
  * optimizer batch, and injected by [[GraftExtensions]] as a pre-CBO rule,
  * which runs after the operator-optimization batch the rewrite is
  * injected into.
  */
object SmallSideBroadcast extends Rule[LogicalPlan] {

  /** graft's estimate, in rows, of the side the rule hinted, tagged on the
    * join it hinted. */
  val EstimatedRows: TreeNodeTag[BigInt] = TreeNodeTag("graft.smallSideRows")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    def sparkBroadcasts(p: LogicalPlan) =
      p.stats.sizeInBytes >= 0 && p.stats.sizeInBytes <= threshold
    if (threshold <= 0) plan
    else plan.transformWithPruning(_.containsPattern(JOIN)) {
      case j @ ExtractEquiJoinKeys(Inner, _, _, _, _, left, right,
          JoinHint.NONE) if !sparkBroadcasts(left) && !sparkBroadcasts(right) =>
        Seq(left -> true, right -> false)
          .flatMap { case (side, isLeft) => rows(side).map { n =>
            (isLeft, n, n * EstimationUtils.getSizePerRow(side.output))
          } }
          .filter(_._3 <= threshold)
          .minByOption(_._3)
          .fold(j) { case (isLeft, n, _) =>
            val hint = Some(HintInfo(strategy = Some(BROADCAST)))
            val hinted = j.copy(hint =
              if (isLeft) JoinHint(hint, None) else JoinHint(None, hint))
            hinted.setTagValue(EstimatedRows, n)
            hinted
          }
    }
  }

  /** graft's upper bound on the rows of `p`, or None (see the object doc). */
  private def rows(p: LogicalPlan): Option[BigInt] = p match {
    case Filter(_, child) => rows(child)
    case Project(_, child) => rows(child)
    case l: LogicalRelation => Tables.footerFacts(l).map(f => BigInt(f.rows))
    case ExtractEquiJoinKeys(Inner, leftKeys, rightKeys, _, _, left, right, _)
        if distinctKey(leftKeys, left) || distinctKey(rightKeys, right) =>
      for (l <- rows(left); r <- rows(right)) yield l.max(r)
    case _ => None
  }

  /** Whether one of `keys` is an integer column of the relation under
    * `side` whose footer range is at least the relation's rows. */
  private def distinctKey(keys: Seq[Expression], side: LogicalPlan): Boolean =
    relation(side).exists { l =>
      Tables.footerFacts(l).exists { f =>
        keys.exists {
          case a: Attribute => l.output.find(_.exprId == a.exprId)
            .flatMap(c => f.ranges.get(c.name))
            .exists { case (lo, hi) => BigInt(hi) - lo + 1 >= f.rows }
          case _ => false
        }
      }
    }

  private def relation(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Filter(_, child) => relation(child)
    case Project(_, child) => relation(child)
    case l: LogicalRelation => Some(l)
    case _ => None
  }
}
