package org.apache.spark.sql.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

/** `internalCreateDataFrame` is private to Spark's sql package. */
object SamePlan {
  /** The rows of `df`, produced by the physical plan a fold over
    * `df.queryExecution.toRdd` runs, as a new DataFrame.  Writing it
    * out compiles exactly the generated code the timed sink uses. */
  def rows(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema)
}
