package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two members of Spark's classic session that are package-private to
  * Spark SQL and that `graft` needs: a copy of a session, and a frame over
  * a logical plan in a given session.
  */
object Classic {

  /** A new session over the same context that starts with a copy of
    * `spark`'s state: its runtime conf (keys set after the session was
    * built included), temp views and functions. Writes to the copy never
    * reach `spark`.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a frame of `spark`, planned under `spark`'s conf. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
