package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing storage the cache manager does not track: a
  * localCheckpoint's plan is a LogicalRDD over a persisted RDD, and
  * `Dataset.unpersist` / `catalog.clearCache` only clear cache-manager
  * entries — the RDD-level persist needs the RDD handle.
  *
  * A dropped checkpoint cannot recompute, so each call is safe only
  * once every frame that reads those blocks has been materialized onto
  * its own storage (or collected).
  */
object Release {

  /** Unpersist the checkpoint at the ROOT of `df`'s plan. No-op on any
    * other plan shape. */
  def dropLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[dropLocalCheckpoint]] over EVERY LogicalRDD inside the plan — for
    * an eagerly-checkpointed intermediate whose only handle left is a
    * frame derived from it. */
  def dropLocalCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Clear the cache manager, then unpersist every RDD still registered
    * (localCheckpoint blocks survive `clearCache`). Returns how many
    * RDDs the second step found, so a caller can name the leaker. */
  def sweep(spark: SparkSession, blocking: Boolean = false): Int = {
    spark.catalog.clearCache()
    val leftover = spark.sparkContext.getPersistentRDDs
    leftover.values.foreach(_.unpersist(blocking = blocking))
    leftover.size
  }
}
