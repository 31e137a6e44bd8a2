package graft

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Blocklist, FixLog, TextExpressions, Unigram,
  VecExpressions, WordPiece}

/** Compiled-expression guard: every graft expression that claims
  * codegen must actually COMPILE its generated Java.
  *
  * `UnsafeProjection.create`'s interpreted fallback swallows Janino
  * failures silently — WordPieceExpr shipped a broken static call for a
  * whole round with green value tests because every row quietly ran
  * interpreted. `GraftTestBridge.compileExpression` goes through
  * `GenerateUnsafeProjection.generate` directly, which throws on any
  * compile failure, so a doGenCode regression fails THIS suite instead
  * of degrading throughput. Literal children keep the expressions bound
  * without a plan. (The two shingle generators are CodegenFallback by
  * design — generators can't sit in a projection — and are excluded.)
  */
class CodegenSpec extends AnyFunSuite {
  // touch the session so UTF8String/codegen statics initialize the same
  // way they do in every other suite
  private lazy val spark = TestSpark.spark

  private def compiled(name: String, c: Column): Unit = test(
    s"$name generates compilable code") {
    spark.sparkContext.setLogLevel("ERROR")
    // route the Column through analysis (the raw bridge expression is an
    // Unevaluable ColumnNode wrapper until resolved); literal children
    // need no binding afterwards
    val plan = GraftBridge.logicalPlan(spark.range(1).select(c))
    val e = plan.asInstanceOf[Project].projectList.head match {
      case a: Alias => a.child
      case other    => other
    }
    org.apache.spark.GraftTestBridge.compileExpression(e)
  }

  private val text = lit("the quick brown fox jumps over the lazy dog")
  private val vec = typedLit(Array(0.25f, -0.5f, 0.125f, 1.0f))

  compiled("polyHash", TextExpressions.polyHash(text))
  compiled("tokenCount", TextExpressions.tokenCount(text))
  compiled("tokenChars", TextExpressions.tokenChars(text))
  compiled("markerHits", TextExpressions.markerHits(text, Seq("the", "fox")))
  compiled("repetitionRatio", TextExpressions.repetitionRatio(text, 2))
  compiled("tokenGini", TextExpressions.tokenGini(text))
  compiled("lineSignals", TextExpressions.lineSignals(text, 16))
  compiled("ngramRepMass", TextExpressions.ngramRepMass(text, 2, 3))
  compiled("simhashFp", TextExpressions.simhashFp(text, 32, 1103515245L,
    12345L, 2147483647L))
  compiled("cosineSim", VecExpressions.cosineSim(vec, vec))
  compiled("dotProduct", VecExpressions.dotProduct(vec, vec))
  compiled("rpLshBucket", VecExpressions.rpLshBucket(vec, 8))
  compiled("nearestCell", VecExpressions.nearestCell(vec, Array(0, 1),
    Array(Array(0.1f, 0.2f, 0.3f, 0.4f), Array(-0.1f, 0.0f, 0.2f, 0.9f))))
  compiled("nearestCellHier", VecExpressions.nearestCellHier(vec,
    new graft.plans.HierCentroidTable(Array(0, 1),
      Array(Array(0.1f, 0.2f, 0.3f, 0.4f), Array(-0.1f, 0.0f, 0.2f, 0.9f)),
      Array(0, 0), Array(0), Array(Array(0f, 0.1f, 0.25f, 0.65f)), 1)))
  compiled("blocklistMask", Blocklist.blocklistMask(text,
    Seq("lazy dog", "quick brown")))
  compiled("log2q", FixLog.log2qCol(lit(123456789L)))
  compiled("exp2q", FixLog.exp2qCol(lit(98304L)))
  compiled("unigramWordStats", Unigram.wordStats(lit("unaffable"),
    Map("un" -> 1000L, "aff" -> 2000L, "able" -> 1500L, "a" -> 4000L)))
  compiled("unigramWordPieces", Unigram.wordPieces(lit("unaffable"),
    Map("un" -> 1000L, "aff" -> 2000L, "able" -> 1500L, "a" -> 4000L)))
  compiled("wordpiece", WordPiece.wordpiece(text, Seq("the", "qu", "ick",
    "brown", "fox", "j", "u", "mps", "over", "lazy", "dog", "a", "z", "y")))
}
