package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import scala.jdk.CollectionConverters._

/** Re-points DataFrames analysed once over template `LocalRelation`
  * leaves at new driver-side rows, so the plans above the leaves are not
  * rebuilt and re-analysed step by step for every micro-batch.
  * `Dataset.ofRows` is private to Spark's sql package, hence this file's
  * package. */
object LocalRebind {

  /** An empty frame of `schema`: a template leaf to build plans over. */
  def template(spark: SparkSession, schema: types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `frames`, each with every template leaf replaced by a leaf that
    * holds the rows paired with it (same output attributes). */
  def apply(frames: Seq[DataFrame], leaves: Seq[(DataFrame, Seq[Row])]): Seq[DataFrame] = {
    def plan(df: DataFrame) = df.asInstanceOf[classic.Dataset[Row]].logicalPlan
    val swap = leaves.map { case (t, rows) =>
      val data = plan(t.sparkSession.createDataFrame(rows.asJava, t.schema))
        .asInstanceOf[LocalRelation].data
      val leaf = plan(t).asInstanceOf[LocalRelation]
      leaf.output -> leaf.copy(data = data)
    }.toMap
    frames.map { df =>
      classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
        df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.transformUp {
          case l: LocalRelation if swap.contains(l.output) => swap(l.output)
        })
    }
  }
}
