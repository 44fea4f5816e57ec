package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}

/** Re-points DataFrames analysed once over template `LocalRelation`
  * leaves at another frame's plan, so the plans above the leaves are not
  * rebuilt and re-analysed step by step for every micro-batch (the
  * driver path compiles them instead, [[LocalPlan]]). `Dataset.ofRows`
  * is private to Spark's sql package, hence this file's package. */
object LocalRebind {

  /** An empty frame of `schema`: a template leaf to build plans over. */
  def template(spark: SparkSession, schema: types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `frames`, each with every template leaf replaced by the plan of the
    * frame paired with it (same schema), its columns carrying the leaf's
    * attributes. */
  def onto(frames: Seq[DataFrame], leaves: Seq[(DataFrame, DataFrame)]): Seq[DataFrame] = {
    val swap = leaves.map { case (t, df) =>
      val leaf = plan(t).output
      leaf -> Project(leaf.zip(plan(df).output).map { case (a, c) =>
        Alias(c, a.name)(exprId = a.exprId) }, plan(df))
    }.toMap
    frames.map { df =>
      classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
        df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.transformUp {
          case l: LocalRelation if swap.contains(l.output) => swap(l.output)
        })
    }
  }

  private[sql] def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[Row]].logicalPlan
}
