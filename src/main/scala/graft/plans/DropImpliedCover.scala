package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal, Or, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.LongType

import graft.functions.InSortedRanges

/** Keeps the pushed SFC head cover out of generated code.
  *
  * A select's scan predicate is `cover AND in_sorted_ranges(head)`
  * (operators.SfcPredicates.headIn): the cover is an OR of literal
  * BETWEENs that parquet row-group pruning needs, the exact ranges sit
  * in a reference array. `FileSourceStrategy` keeps every pushed data
  * filter in the `FilterExec` above the scan as well, so the cover's
  * literals would be compiled into the filter and every query would
  * compile its own class. This strategy plans through
  * `FileSourceStrategy` and then drops a literal range conjunct on a
  * column from that `FilterExec` only when it is implied: an
  * `InSortedRanges` conjunct on the same column is present and every
  * one of its exact ranges lies inside one interval the conjunct
  * admits. The cover stays in the scan's `PushedFilters`, so file and
  * row-group pruning are unchanged; results never depend on whether
  * the strategy is installed.
  */
object DropImpliedCover extends SparkStrategy with PredicateHelper {

  /** Installs the strategy on a running session; a no-op when present. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DropImpliedCover))
      spark.experimental.extraStrategies = DropImpliedCover +: spark.experimental.extraStrategies

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    var changed = false
    val planned = FileSourceStrategy(plan).map(_.transformUp {
      case f @ FilterExec(cond, scan: FileSourceScanExec) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val exact = conjuncts.collect { case r: InSortedRanges => r }
        val kept = conjuncts.filterNot(e => exact.exists(implies(_, e)))
        if (kept.length == conjuncts.length) f
        else { changed = true; FilterExec(kept.reduce(And), scan) }
    })
    if (changed) planned else Nil
  }

  /** True when every value `exact` admits is admitted by `e`. */
  private def implies(exact: InSortedRanges, e: Expression): Boolean =
    admitted(e, exact.child).exists { cover =>
      exact.los.indices.forall { i =>
        cover.exists { case (lo, hi) => lo <= exact.los(i) && exact.his(i) <= hi }
      }
    }

  /** The inclusive intervals of `c` a literal range predicate admits;
    * None when `e` is not a literal range predicate on `c`. */
  private def admitted(e: Expression, c: Expression): Option[Seq[(Long, Long)]] = e match {
    case GreaterThanOrEqual(a, Literal(v: Long, LongType)) if a.semanticEquals(c) =>
      Some(Seq((v, Long.MaxValue)))
    case LessThanOrEqual(a, Literal(v: Long, LongType)) if a.semanticEquals(c) =>
      Some(Seq((Long.MinValue, v)))
    case EqualTo(a, Literal(v: Long, LongType)) if a.semanticEquals(c) => Some(Seq((v, v)))
    case Or(l, r) => for (a <- admitted(l, c); b <- admitted(r, c)) yield a ++ b
    case And(l, r) =>
      (admitted(l, c), admitted(r, c)) match {
        case (Some(Seq((lo1, hi1))), Some(Seq((lo2, hi2)))) =>
          Some(Seq((math.max(lo1, lo2), math.min(hi1, hi2))))
        case _ => None
      }
    case _ => None
  }
}
