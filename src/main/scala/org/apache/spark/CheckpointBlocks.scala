package org.apache.spark

import org.apache.spark.rdd.RDD

/** Drops an RDD's cached blocks the way ContextCleaner does, through
  * `SparkContext.unpersistRDD`. `RDD.unpersist` does the same but first
  * logs a WARN for every locally checkpointed RDD ("cannot be recomputed
  * after unpersisting"), which a loop that releases superseded
  * checkpoints every round has already accounted for. Lives in this
  * package because `unpersistRDD` is `private[spark]`. */
object CheckpointBlocks {
  def drop(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
