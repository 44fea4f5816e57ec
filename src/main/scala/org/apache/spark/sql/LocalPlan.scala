package org.apache.spark.sql

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project}

/** `plan`, a chain of Project and Filter nodes over the template leaf
  * `leaf` ([[LocalRebind.template]]), compiled once: each batch only
  * evaluates it over its rows, with no analysis, optimisation or
  * planning, and gets a bare `LocalRelation` of the finished rows.
  *
  * The analysed plan is optimised once with the template swapped for a
  * leaf the optimiser cannot see into, so it is neither folded into an
  * empty relation nor evaluated; the optimiser must run, since
  * `RuntimeReplaceable` expressions (e.g. `nullif`) cannot be evaluated
  * before `ReplaceExpressions`. The result is compiled to one
  * `UnsafeProjection` or `Predicate` per node: the same expressions
  * Catalyst would evaluate over the same rows, so the same bits. A plan
  * that optimises to anything else, or holds a nondeterministic
  * expression, is refused here rather than evaluated wrongly. */
final class LocalPlan(val plan: DataFrame, val leaf: DataFrame) {
  private val spark = plan.sparkSession.asInstanceOf[classic.SparkSession]
  private val analyzed = plan.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  private val optimized = {
    val in = LocalRebind.plan(leaf).output
    classic.Dataset.ofRows(spark, analyzed.transformUp {
      case l: LocalRelation if l.output == in => LocalPlan.Opaque(in)
    }).queryExecution.optimizedPlan
  }

  private val steps: Seq[Iterator[InternalRow] => Iterator[InternalRow]] = {
    def refuse(why: String): Nothing =
      throw new IllegalArgumentException(s"cannot compile a driver-side plan: $why\n$optimized")
    if (!optimized.deterministic) refuse("it is nondeterministic")
    def chain(p: LogicalPlan): List[Iterator[InternalRow] => Iterator[InternalRow]] = p match {
      case _: LocalPlan.Opaque => Nil
      case Project(list, child) =>
        val f = UnsafeProjection.create(list, child.output)
        f.initialize(0)
        chain(child) :+ (_.map(f))
      case Filter(cond, child) =>
        val f = Predicate.create(cond, child.output)
        f.initialize(0)
        chain(child) :+ (_.filter(f.eval))
      case other => refuse(s"${other.nodeName} is not a Project or Filter over the leaf")
    }
    chain(optimized)
  }

  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(leaf.schema)
  private val toScala = CatalystTypeConverters.createToScalaConverter(plan.schema)

  /** `in`, rows of the leaf's schema, through the compiled chain; each
    * output row is copied, since a projection reuses its buffer. */
  private def evaluate(in: Seq[Row]): Seq[InternalRow] =
    steps.foldLeft(in.iterator.map(toCatalyst(_).asInstanceOf[InternalRow]))((rows, step) => step(rows))
      .map(_.copy()).toVector

  /** The plan's rows over `in`, as external rows. */
  def rows(in: Seq[Row]): Seq[Row] = evaluate(in).map(toScala(_).asInstanceOf[Row])

  /** The plan over `in`: a bare `LocalRelation` of its rows. */
  def apply(in: Seq[Row]): DataFrame =
    classic.Dataset.ofRows(spark, LocalRelation(analyzed.output, evaluate(in)))
}

object LocalPlan {
  /** A leaf with the template's output that no optimiser rule matches. */
  private case class Opaque(output: Seq[Attribute]) extends LeafNode
}
