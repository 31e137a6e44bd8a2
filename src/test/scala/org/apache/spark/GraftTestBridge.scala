package org.apache.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.storage.BroadcastBlockId

/** Test-only reads of this JVM's `SparkEnv` internals that specs in
  * package `graft` cannot name — the execution page size and the
  * broadcast blocks in the local block manager — plus the specs' codegen
  * and top-k rewrite switches.
  */
object GraftTestBridge {
  /** Force-compile an expression's generated code with NO interpreted
    * fallback: `GenerateUnsafeProjection.generate` runs the full
    * codegen + Janino pipeline and throws on any compile failure —
    * unlike `UnsafeProjection.create`, whose
    * CodeGeneratorWithInterpretedFallback silently swallows the error
    * and runs every row interpreted (exactly how the WordPiece kernel's broken
    * static call shipped unnoticed). The expression must be bound —
    * literal children.
    */
  def compileExpression(e: Expression): Unit =
    GenerateUnsafeProjection.generate(Seq(e)): Unit

  /** [[compileExpression]] for a Column with literal arguments: the
    * Column's expression is an unresolved wrapper until analyzed. */
  def compileColumn(spark: SparkSession, c: org.apache.spark.sql.Column): Unit =
    compileExpression(spark.range(1).select(c).queryExecution.analyzed
      .expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      })

  /** The value of a bound expression computed by its generated code
    * (compiled as [[compileExpression]] does), as a Scala value. */
  def evalGenerated(e: Expression): Any = {
    val row = GenerateUnsafeProjection.generate(Seq(e))
      .apply(org.apache.spark.sql.catalyst.InternalRow.empty)
    if (row.isNullAt(0)) null
    else org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(row.get(0, e.dataType), e.dataType)
  }

  /** Remove the top-k window rewrite rule `graft.plans.TopKNative.enable`
    * registers (its strategy stays; it only fires for explicitly
    * injected nodes).
    */
  def disableTopKRewrite(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_ == graft.plans.TopKRewrite)

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
