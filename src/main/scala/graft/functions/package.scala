package graft

import org.apache.spark.sql.Dataset

package object functions {
  /** `ds.checkpointed`: an eager checkpoint through [[Checkpoints.take]]. */
  implicit class CheckpointOps[T](private val d: Dataset[T]) extends AnyVal {
    def checkpointed: Dataset[T] = functions.Checkpoints.take(d)
  }
}
