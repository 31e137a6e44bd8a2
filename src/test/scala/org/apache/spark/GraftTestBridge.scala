package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-only reads of this JVM's `SparkEnv` internals that specs in
  * package `graft` cannot name: the execution page size and the
  * broadcast blocks in the local block manager.
  */
object GraftTestBridge {
  private def blocks = SparkEnv.get.blockManager

  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes

  /** Ids of the broadcasts whose whole value is stored here. */
  def broadcastIds: Set[Long] =
    blocks.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, "") => id }.toSet

  /** How many serialized pieces of broadcast `id` are stored here. */
  def broadcastPieces(id: Long): Int =
    blocks.getMatchingBlockIds {
      case BroadcastBlockId(`id`, field) => field.startsWith("piece")
      case _ => false
    }.size

  /** The stored value of broadcast `id`, if it is still here. */
  def broadcastValue(id: Long): Option[Any] =
    blocks.getLocalValues(BroadcastBlockId(id)).map(_.data.toList.head)

  /** Drops the stored value of broadcast `id` but keeps its pieces, so
    * the next task that reads the broadcast reassembles it from them. */
  def dropBroadcastValue(id: Long): Unit =
    blocks.removeBlock(BroadcastBlockId(id))
}
