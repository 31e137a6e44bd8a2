package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.plans.{Arg, CentroidTable, HierCentroidTable, IntP, Kernel,
  LongP, ObjP, Param, StrP, StrsP}

/** Literal inputs for every entry of the kernel table, derived from its
  * argument and parameter kinds only — so a new kernel gets inputs (or a
  * MatchError naming its new kind) without any per-kernel list.
  */
object KernelSamples {
  val text = "the quick brown fox jumps over the lazy dog the fox"

  private val centroids = Array(Array(0.1f, 0.2f, 0.3f, 0.4f),
    Array(-0.1f, 0.0f, 0.2f, 0.9f))

  /** One valid value per parameter kind. */
  def param(p: Param): Any = p match {
    case IntP(_, min, max, _) => math.min(max, math.max(min, 2))
    case LongP(_, min, _, _) => math.max(min, 7L)
    case StrP(_, _) => "<unk>"
    case StrsP(_) => Seq("the", "fox", "qu", "ick", "lazy dog")
    case ObjP("cost table") =>
      Map("the" -> 1000L, "fox" -> 2000L, "qu" -> 1500L, "a" -> 4000L)
    case ObjP("centroid table") => new CentroidTable(Array(0, 1), centroids)
    case ObjP("two-level centroid table") => new HierCentroidTable(
      Array(0, 1), centroids, Array(0, 0), Array(0),
      Array(Array(0f, 0.1f, 0.25f, 0.65f)), 1)
    case ObjP("weight vector") => Array(5L, 7L, 11L, 13L)
  }

  def params(k: Kernel): Seq[Any] = k.params.map(param)

  private def floats(xs: Float*) = Literal.create(xs.toArray,
    ArrayType(FloatType, containsNull = false))

  /** Named input cases for one argument kind: a normal value, NULL, and
    * the kind's degenerate value (empty string, zero-norm vector, empty
    * array). Every column argument of a call takes the same case. */
  def cases(a: Arg): Seq[(String, Literal)] = a match {
    case Arg.Text => Seq("value" -> Literal(text), "empty" -> Literal(""),
      "NULL" -> Literal(null, StringType))
    case Arg.Bigint => Seq("value" -> Literal(98304L),
      "NULL" -> Literal(null, LongType))
    case Arg.Vec => Seq("value" -> floats(0.25f, -0.5f, 0.125f, 1.0f),
      "double" -> Literal.create(Array(0.25, -0.5, 0.125, 1.0),
        ArrayType(DoubleType, containsNull = false)),
      "zero-norm" -> floats(0f, 0f, 0f, 0f),
      "NULL" -> Literal(null, ArrayType(FloatType)))
    case Arg.FloatVec => Seq("value" -> floats(0.25f, -0.5f, 0.125f, 1.0f),
      "zero-norm" -> floats(0f, 0f, 0f, 0f),
      "NULL" -> Literal(null, ArrayType(FloatType)))
    case Arg.BigintArray => Seq("value" -> Literal.create(Array(0L, 1L, 2L),
        ArrayType(LongType, containsNull = false)),
      "empty" -> Literal.create(Array.empty[Long],
        ArrayType(LongType, containsNull = false)),
      "NULL" -> Literal(null, ArrayType(LongType)))
  }

  /** (case name, literal children) for kernel `k`. */
  def inputs(k: Kernel): Seq[(String, Seq[Literal])] =
    cases(k.args.head).map { case (name, l) => name -> k.args.map(_ => l) }
}
