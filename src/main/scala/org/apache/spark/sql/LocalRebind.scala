package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import scala.jdk.CollectionConverters._

/** Re-points DataFrames analysed once over template `LocalRelation`
  * leaves at new driver-side rows, or at another frame's plan, so the
  * plans above the leaves are not rebuilt and re-analysed step by step
  * for every micro-batch. `Dataset.ofRows` is private to Spark's sql
  * package, hence this file's package. */
object LocalRebind {

  /** An empty frame of `schema`: a template leaf to build plans over. */
  def template(spark: SparkSession, schema: types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `frames`, each with every template leaf replaced by a leaf that
    * holds the rows paired with it (same output attributes). */
  def apply(frames: Seq[DataFrame], leaves: Seq[(DataFrame, Seq[Row])]): Seq[DataFrame] =
    rebind(frames, leaves.map { case (t, rows) =>
      val data = plan(t.sparkSession.createDataFrame(rows.asJava, t.schema))
        .asInstanceOf[LocalRelation].data
      val leaf = plan(t).asInstanceOf[LocalRelation]
      leaf.output -> leaf.copy(data = data)
    })

  /** `frames`, each with every template leaf replaced by the plan of the
    * frame paired with it (same schema), its columns carrying the leaf's
    * attributes. */
  def onto(frames: Seq[DataFrame], leaves: Seq[(DataFrame, DataFrame)]): Seq[DataFrame] =
    rebind(frames, leaves.map { case (t, df) =>
      val leaf = plan(t).output
      leaf -> Project(leaf.zip(plan(df).output).map { case (a, c) =>
        Alias(c, a.name)(exprId = a.exprId) }, plan(df))
    })

  private def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  private def rebind(frames: Seq[DataFrame], leaves: Seq[(Seq[Attribute], LogicalPlan)]) = {
    val swap = leaves.toMap
    frames.map { df =>
      classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
        df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.transformUp {
          case l: LocalRelation if swap.contains(l.output) => swap(l.output)
        })
    }
  }
}
