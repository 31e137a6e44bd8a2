package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Kernels, ScanKernel}

/** Compiled-expression guard over the whole kernel table: every kernel
  * must COMPILE its generated Java, and its generated code must compute
  * what its interpreted path computes.
  *
  * `UnsafeProjection.create`'s interpreted fallback swallows Janino
  * failures silently — the WordPiece kernel once shipped a broken static
  * call for a whole round with green value tests because every row
  * quietly ran interpreted. `GraftTestBridge.compileExpression` goes
  * through `GenerateUnsafeProjection.generate` directly, which throws on
  * any compile failure, so a codegen regression fails THIS suite instead
  * of degrading throughput. The cases come from `Kernels.all`, so a new
  * kernel cannot skip the guard. Literal children keep the expressions
  * bound without a plan.
  */
class CodegenSpec extends AnyFunSuite {
  // touch the session so UTF8String/codegen statics initialize the same
  // way they do in every other suite
  private lazy val spark = TestSpark.spark

  // the Column API name a kernel's compile test has always carried
  private val label = Map("poly_hash" -> "polyHash",
    "token_count" -> "tokenCount", "token_chars" -> "tokenChars",
    "marker_hits" -> "markerHits", "repetition_ratio" -> "repetitionRatio",
    "token_gini" -> "tokenGini", "line_signals" -> "lineSignals",
    "ngram_rep_mass" -> "ngramRepMass", "simhash" -> "simhashFp",
    "cosine_sim" -> "cosineSim", "dot_product" -> "dotProduct",
    "rp_lsh_bucket" -> "rpLshBucket", "nearest_cell" -> "nearestCell",
    "nearest_cell_hier" -> "nearestCellHier",
    "blocklist_mask" -> "blocklistMask",
    "unigram_stats" -> "unigramWordStats",
    "unigram_pieces" -> "unigramWordPieces")

  // row generators (CodegenFallback: a generator cannot sit in a
  // projection) have no generated path to guard
  for (k <- Kernels.all; if !k.rows) {
    val params = KernelSamples.params(k)

    test(s"${label.getOrElse(k.name, k.name)} generates compilable code") {
      spark.sparkContext.setLogLevel("ERROR")
      // the Column API call, with literal arguments
      val cols = KernelSamples.inputs(k).head._2.map(GraftBridge.column(_))
      org.apache.spark.GraftTestBridge.compileColumn(spark,
        k(cols, params: _*))
    }

    val cases = KernelSamples.inputs(k).map(_._1)
    test(s"${k.name}: interpreted and generated code agree on " +
        cases.mkString(", ")) {
      for ((name, lits) <- KernelSamples.inputs(k)) {
        val e = ScanKernel(k.name, lits, params)
        val interpreted = CatalystTypeConverters.convertToScala(
          e.eval(InternalRow.empty), e.dataType)
        val generated = org.apache.spark.GraftTestBridge.evalGenerated(e)
        assert(String.valueOf(interpreted) == String.valueOf(generated),
          s"${k.name} on the $name input")
        if (name == "NULL") assert(interpreted == null, k.name)
      }
    }
  }
}
