package graft.plans

import java.lang.invoke.{LambdaMetafactory, MethodHandles, MethodType}

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One compiled scan-stage kernel call: `name`'s [[Kernel]] entry applied
  * to `children` (the column arguments) and `params` (the per-plan
  * literal parameters, kept by value so equal parameters give equal
  * expressions — PlanMemo keys and exchange reuse see through it).
  *
  * Both execution paths derive from the entry's one method: the
  * interpreted path calls it through a direct-call binding made once
  * per kernel (no reflection per row), and generated code emits one
  * static call, or one call on the reference object, per row. Every
  * parameter reaches generated code through the reference table, so
  * two plans that differ only in parameter values generate the same
  * source and share one compiled class. A NULL argument yields NULL; a
  * boxed method result may also be NULL.
  */
case class ScanKernel(name: String, children: Seq[Expression],
    params: Seq[Any]) extends Expression {
  @transient private lazy val kernel = Kernels(name)
  @transient private lazy val kids = children.toIndexedSeq
  @transient private lazy val caller =
    kernel.caller(kids.map(_.dataType), params)

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ params.iterator
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.boxed || children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    kernel.typeCheck(children.map(_.dataType))

  override def eval(input: InternalRow): Any = caller(kids, input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = kids.map(_.genCode(ctx))
    val ins = gens.zip(kids).map { case (g, k) =>
      if (k.dataType == StringType) s"${g.value}.toString()" else s"${g.value}"
    }
    val bound = caller.bound
    val refCode = kernel.call.ref.map(_ =>
      ctx.addReferenceObj(s"${name}_ref", caller.ref, bound.refClass.getName))
    val call = kernel.call match {
      case OnRef(_, m) => s"${refCode.get}.$m(${ins.mkString(", ")})"
      case Static(_, _, r) =>
        val extra = r.map(_ => refCode.toSeq).getOrElse(
          kernel.params.zip(params).map { case (p, v) =>
            val box = v.asInstanceOf[AnyRef].getClass
            s"${ctx.addReferenceObj(p.what, v, box.getName)}" +
              s".${p.jvm.getName}Value()"
          })
        s"${bound.owner}.${bound.method}(${(ins ++ extra).mkString(", ")})"
    }
    val assign =
      if (!bound.boxed) s"${ev.value} = $call;"
      else {
        val r = ctx.freshName("r")
        val unboxed =
          if (dataType.isInstanceOf[StructType]) r
          else s"$r.${CodeGenerator.javaType(dataType)}Value()"
        s"""${bound.ret.getName} $r = $call;
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $unboxed; }
         """.stripMargin
      }
    val javaType = CodeGenerator.javaType(dataType)
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val body = gens.zip(kids).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((g, k), inner) =>
          g.code.toString + ctx.nullSafeExec(k.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $init
        $body""")
    } else
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $init
        $assign""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScanKernel =
    copy(children = newChildren)
}

/** One row-generating kernel call: `name`'s entry, whose method returns
  * the rows (its result type is the struct of one row), applied to one
  * column and the literal `params`. A generator cannot sit in a
  * projection, so there is no generated path: every row runs the
  * interpreted call. A NULL argument yields no rows.
  */
case class ScanRows(name: String, child: Expression, params: Seq[Any])
    extends UnaryExpression with Generator with CodegenFallback {
  @transient private lazy val kernel = Kernels(name)
  @transient private lazy val kids = IndexedSeq(child)
  @transient private lazy val caller =
    kernel.caller(Seq(child.dataType), params)

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ params.iterator
  override def elementSchema: StructType =
    kernel.dataType.asInstanceOf[StructType]
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.typeCheck(Seq(child.dataType))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    caller(kids, input) match {
      case null => Nil
      case rows => rows.asInstanceOf[IterableOnce[InternalRow]]
    }

  override protected def withNewChildInternal(newChild: Expression): ScanRows =
    copy(child = newChild)
}

/** A column argument kind: the SQL types it accepts and how the
  * "requires … got …" analysis message names it. */
sealed abstract class Arg(val one: String, val two: String) {
  def accepts(t: DataType): Boolean
  /** The JVM type the kernel method takes for this argument. */
  def jvm: Class[_] = classOf[ArrayData]
}
object Arg {
  /** A string column, passed to the kernel as a java String. */
  case object Text extends Arg("a string", "two string") {
    def accepts(t: DataType): Boolean = t == StringType
    override def jvm: Class[_] = classOf[String]
  }
  case object Bigint extends Arg("a bigint", "two bigint") {
    def accepts(t: DataType): Boolean = t == LongType
    override def jvm: Class[_] = java.lang.Long.TYPE
  }
  /** array<float> or array<double>; every Vec argument of one call has the
    * same element type, and array<double> calls the method named with a
    * "D" suffix (the float and double loops stay separate kernels). */
  case object Vec extends Arg("an array<float> or array<double>",
      "two array<float> or two array<double>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
  }
  case object FloatVec extends Arg("an array<float>", "two array<float>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
  }
  case object BigintArray extends Arg("an array<bigint>", "two array<bigint>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
  }
}

/** A literal parameter kind: its bound check (shared by the Column API
  * and the SQL registry), its SQL literal form and its default. */
sealed abstract class Param(val what: String) {
  /** The JVM type of a parameter passed to the method by itself. */
  def jvm: Class[_] = classOf[AnyRef]
  def default: Option[Any] = None
  def check(fn: String, v: Any): Unit = ()
  /** Whether a SQL call can give this parameter as a literal (a SQL call
    * fills a parameter without one from its default). */
  def sql: Boolean = true
  /** The checked value of a SQL literal argument. */
  def literal(fn: String, e: Expression): Any

  protected def fail(fn: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$fn: the $what $msg")
  protected def folded(e: Expression, ok: DataType => Boolean): Any =
    if (e.foldable && ok(e.dataType)) e.eval() else null
  protected def integer(fn: String, e: Expression): Number =
    folded(e, t => t == IntegerType || t == LongType || t == ShortType ||
      t == ByteType) match {
      case null => fail(fn, "must be a non-null integer literal")
      case v => v.asInstanceOf[Number]
    }
}

final case class IntP(override val what: String, min: Int,
    max: Int = Int.MaxValue, override val default: Option[Any] = None)
    extends Param(what) {
  override def jvm: Class[_] = Integer.TYPE
  override def check(fn: String, v: Any): Unit = {
    val n = v.asInstanceOf[Int]
    if (n < min || n > max)
      fail(fn, s"must be ${if (max == Int.MaxValue) s">= $min"
        else s"in [$min, $max]"}, got $n")
  }
  def literal(fn: String, e: Expression): Any = {
    val n = integer(fn, e).intValue()
    check(fn, n)
    n
  }
}

/** `sql = false` with a default: SQL calls always take the default, and
  * only Column API callers may pass another value. */
final case class LongP(override val what: String, min: Long = Long.MinValue,
    override val default: Option[Any] = None, override val sql: Boolean = true)
    extends Param(what) {
  override def jvm: Class[_] = java.lang.Long.TYPE
  override def check(fn: String, v: Any): Unit =
    if (v.asInstanceOf[Long] < min) fail(fn, s"must be >= $min, got $v")
  def literal(fn: String, e: Expression): Any = {
    val n = integer(fn, e).longValue()
    check(fn, n)
    n
  }
}

final case class StrP(override val what: String,
    override val default: Option[Any] = None) extends Param(what) {
  def literal(fn: String, e: Expression): Any = {
    val v = folded(e, _ == StringType)
    if (v == null) fail(fn, "must be a non-null string literal")
    v.toString
  }
}

/** A word, phrase or vocabulary list: `array<string>` in SQL. */
final case class StrsP(override val what: String) extends Param(what) {
  def literal(fn: String, e: Expression): Any = {
    val v = folded(e, {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (v == null) fail(fn, "must be a non-null array<string> literal")
    val items = v.asInstanceOf[ArrayData].toObjectArray(StringType)
      .map(x => if (x == null) null else x.toString)
    if (items.contains(null)) fail(fn, "must not contain nulls")
    items.toSeq
  }
}

/** A driver-built value (a centroid table, a cost map, a weight array)
  * with no SQL literal form: its kernel is Column-API only. */
final case class ObjP(override val what: String) extends Param(what) {
  override def sql: Boolean = false
  def literal(fn: String, e: Expression): Any =
    fail(fn, "has no SQL literal form")
}

/** The reference object a kernel runs against, built from the
  * parameters once per expression instance. */
final case class Ref(cls: Class[_], build: Seq[Any] => AnyRef)

/** The kernel's one method: a static method of a Scala object (taking
  * the column arguments, then the reference object if there is one,
  * else each parameter), or a method of the reference object (taking
  * the column arguments). */
sealed trait Call { def ref: Option[Ref] }
final case class Static(owner: AnyRef, method: String, ref: Option[Ref])
    extends Call
final case class OnRef(r: Ref, method: String) extends Call {
  def ref: Option[Ref] = Some(r)
}

/** One declaration per compiled kernel: the SQL name, the column
  * argument kinds, the result type, the one method it calls and the
  * literal parameters. [[ScanKernel]] (or [[ScanRows]], for a method
  * that returns rows) derives analysis, interpreted evaluation and
  * generated code from it; `GraftFunctions` derives the SQL registry
  * entry.
  */
final class Kernel(val name: String, val args: Seq[Arg],
    val dataType: DataType, val call: Call, val params: Seq[Param]) {
  require(args.nonEmpty && args.forall(_ == args.head),
    s"$name: column arguments must share one kind")

  /** Analysis of these argument types, failing with
    * "`name` requires … got …". */
  def typeCheck(types: Seq[DataType]): TypeCheckResult = {
    val elems = types.collect { case ArrayType(e, _) if args.head == Arg.Vec => e }
    if (types.length == args.length && args.zip(types).forall {
        case (a, t) => a.accepts(t) } && elems.distinct.size <= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires " +
      (if (args.length == 1) s"${args.head.one} argument"
       else s"${args.head.two} arguments") +
      s", got ${types.map(_.sql).mkString(", ")}")
  }

  private def checked(ps: Seq[Any]): Seq[Any] = {
    require(ps.length == params.length,
      s"$name takes ${params.length} parameters, got ${ps.length}")
    params.zip(ps).foreach { case (p, v) => p.check(name, v) }
    ps
  }

  /** Whether the method returns rows (a generator entry). */
  def rows: Boolean = floatBound.rows

  /** The expression class of this kernel's calls. */
  def exprClass: Class[_] = if (rows) classOf[ScanRows] else classOf[ScanKernel]

  private def expr(es: Seq[Expression], ps: Seq[Any]): Expression =
    if (rows) ScanRows(name, es.head, checked(ps))
    else ScanKernel(name, es, checked(ps))

  /** The Column API call. */
  def apply(cols: Seq[Column], ps: Any*): Column = {
    require(cols.length == args.length,
      s"$name takes ${args.length} column arguments, got ${cols.length}")
    GraftBridge.column(expr(cols.map(GraftBridge.expression), ps))
  }

  /** The SQL registry builder, for kernels whose parameters all have a
    * literal form or a default; trailing SQL parameters with a default
    * may be omitted. */
  def sqlBuilder: Option[Seq[Expression] => Expression] =
    if (!params.forall(p => p.sql || p.default.nonEmpty)) None
    else Some { es =>
      val inSql = params.filter(_.sql)
      val required = args.length + inSql.count(_.default.isEmpty)
      val most = args.length + inSql.length
      if (es.length < required || es.length > most)
        throw new IllegalArgumentException(
          s"$name expects ${(args.map(_ => "column") ++ inSql.map(_.what))
            .mkString("(", ", ", ")")}, got ${es.length} arguments")
      val given = es.drop(args.length).iterator
      expr(es.take(args.length), params.map { p =>
        if (p.sql && given.hasNext) p.literal(name, given.next()) else p.default.get
      })
    }

  /** The interpreted call of one expression instance. */
  def caller(types: Seq[DataType], ps: Seq[Any]): Caller =
    new Caller(bound(types), call, ps, ref(ps))

  def ref(ps: Seq[Any]): AnyRef = call.ref.map(_.build(ps)).orNull

  private lazy val floatBound = new Bound(this, "")
  /** Whether the method's result may be NULL (both variants agree). */
  def boxed: Boolean = floatBound.boxed
  private lazy val doubleBound = new Bound(this, "D")

  /** The bound method for these argument types (the "D" variant for
    * array<double> arguments). */
  def bound(types: Seq[DataType]): Bound = types.headOption match {
    case Some(ArrayType(DoubleType, _)) if args.head == Arg.Vec => doubleBound
    case _ => floatBound
  }
}

/** One expression instance's interpreted call: the bound method with its
  * receiver (the reference object), or its trailing reference object or
  * parameters, filled in once. */
final class Caller(val bound: Bound, call: Call, ps: Seq[Any], val ref: AnyRef) {
  private val (lead, tail): (Array[AnyRef], Array[AnyRef]) = call match {
    case OnRef(_, _) => (Array(ref), Array.empty)
    case Static(_, _, Some(_)) => (Array.empty, Array(ref))
    case Static(_, _, None) => (Array.empty, ps.map(_.asInstanceOf[AnyRef]).toArray)
  }

  /** The method's result on `kids`' values (strings as java Strings), or
    * null when one of them is NULL. */
  def apply(kids: IndexedSeq[Expression], input: InternalRow): AnyRef = {
    val args = new Array[AnyRef](lead.length + kids.length + tail.length)
    System.arraycopy(lead, 0, args, 0, lead.length)
    var i = 0
    while (i < kids.length) {
      val v = kids(i).eval(input)
      if (v == null) return null
      args(lead.length + i) = v match {
        case s: UTF8String => s.toString
        case other => other.asInstanceOf[AnyRef]
      }
      i += 1
    }
    System.arraycopy(tail, 0, args, lead.length + kids.length, tail.length)
    bound.invoke(args)
  }
}

/** A kernel's method resolved once: its JVM identity for generated code
  * and a direct-call binding (a LambdaMetafactory-spun implementation of
  * an arity-fixed interface) for interpreted evaluation. */
final class Bound(k: Kernel, suffix: String) {
  val (owner, method, jm) = k.call match {
    case Static(obj, m, r) =>
      val cls = Class.forName(obj.getClass.getName.stripSuffix("$"))
      val ps = k.args.map(_.jvm) ++ r.map(x => Seq(x.cls))
        .getOrElse(k.params.map(_.jvm))
      val jm = cls.getMethod(m + suffix, ps: _*)
      require(java.lang.reflect.Modifier.isStatic(jm.getModifiers),
        s"${k.name}: $cls.${m + suffix} is not static")
      (cls.getName, m + suffix, jm)
    case OnRef(r, m) =>
      (r.cls.getName, m + suffix, r.cls.getMethod(m + suffix,
        k.args.map(_.jvm): _*))
  }
  val ret: Class[_] = jm.getReturnType
  /** A method returning rows is a generator; its result type is a row. */
  val rows: Boolean = classOf[IterableOnce[_]].isAssignableFrom(ret)
  /** A boxed number or a row may be NULL; a primitive or an array never is. */
  val boxed: Boolean = !ret.isPrimitive && !classOf[ArrayData].isAssignableFrom(ret)
  private val javaClass =
    if (rows) ret else CodeGenerator.javaClass(k.dataType)
  require((javaClass.isAssignableFrom(ret) ||
    (javaClass.isPrimitive && MethodType.methodType(javaClass).wrap()
      .returnType() == ret)) && (!rows || k.dataType.isInstanceOf[StructType]),
    s"${k.name}: ${jm.getName} returns ${ret.getName}, not ${k.dataType.sql}")
  /** The reference object's JVM type as the method takes it. */
  def refClass: Class[_] = k.call match {
    case OnRef(r, _) => r.cls
    case Static(_, _, _) => jm.getParameterTypes.last
  }

  val invoke: Array[AnyRef] => AnyRef = {
    val lookup = MethodHandles.lookup()
    val mh = lookup.unreflect(jm)
    val n = mh.`type`.parameterCount
    val face = n match {
      case 1 => classOf[Bound.F1]
      case 2 => classOf[Bound.F2]
      case 3 => classOf[Bound.F3]
      case 5 => classOf[Bound.F5]
    }
    val fn = LambdaMetafactory.metafactory(lookup, "apply",
      MethodType.methodType(face), MethodType.genericMethodType(n), mh,
      mh.`type`.wrap()).getTarget.invokeWithArguments()
    fn match {
      case f: Bound.F1 => a => f(a(0))
      case f: Bound.F2 => a => f(a(0), a(1))
      case f: Bound.F3 => a => f(a(0), a(1), a(2))
      case f: Bound.F5 => a => f(a(0), a(1), a(2), a(3), a(4))
    }
  }
}

object Bound {
  trait F1 { def apply(a: AnyRef): AnyRef }
  trait F2 { def apply(a: AnyRef, b: AnyRef): AnyRef }
  trait F3 { def apply(a: AnyRef, b: AnyRef, c: AnyRef): AnyRef }
  trait F5 { def apply(a: AnyRef, b: AnyRef, c: AnyRef, d: AnyRef,
    e: AnyRef): AnyRef }
}

/** The kernel table: one entry per compiled scan-stage kernel. */
object Kernels {
  import Arg._

  private val byName = scala.collection.mutable.LinkedHashMap.empty[String, Kernel]

  private def kernel(name: String, args: Seq[Arg], dataType: DataType,
      call: Call, params: Param*): Kernel = {
    val k = new Kernel(name, args, dataType, call, params)
    require(!byName.contains(name), s"duplicate kernel $name")
    byName(name) = k
    k
  }
  private def static(obj: AnyRef, method: String): Call =
    Static(obj, method, None)
  private def static(obj: AnyRef, method: String, r: Ref): Call =
    Static(obj, method, Some(r))
  private def ref[T <: AnyRef](build: Seq[Any] => T)(implicit t: ClassTag[T]): Ref =
    Ref(t.runtimeClass, build)
  private def strs(v: Any): Seq[String] = v.asInstanceOf[Seq[String]]

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private val Cell = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dist2", DoubleType, nullable = true)))

  val polyHash = kernel("poly_hash", Seq(Text), LongType,
    static(PolyHash, "eval"))
  val tokenCount = kernel("token_count", Seq(Text), IntegerType,
    static(TokenScan, "tokenCount"))
  val tokenChars = kernel("token_chars", Seq(Text), LongType,
    static(TokenScan, "tokenChars"))
  val tokenGini = kernel("token_gini", Seq(Text), DoubleType,
    static(TokenScan, "tokenGini"))
  val markerHits = kernel("marker_hits", Seq(Text), IntegerType,
    static(TokenScan, "markerHits", ref { p =>
      // janino has no generics: the method takes the raw HashSet
      val s = new java.util.HashSet[String]()
      strs(p(0)).foreach(s.add)
      s
    }), StrsP("word list"))
  val repetitionRatio = kernel("repetition_ratio", Seq(Text), DoubleType,
    static(TokenScan, "repetitionRatio"), IntP("n-gram size", 1))
  val lineSignals = kernel("line_signals", Seq(Text), Longs,
    static(TokenScan, "lineSignalsData"), IntP("line length", 1),
    IntP("append count", 0, default = Some(0)))
  val ngramRepMass = kernel("ngram_rep_mass", Seq(Text), Longs,
    static(TokenScan, "ngramRepMassData"), IntP("top-gram size", 1),
    IntP("dup-gram size", 1))
  // SQL's simhash(text, bits) always uses the library's standard
  // permutation (Dedup.permA(0)/permB(0) mod 2^31-1), as Dedup.simhashScan
  val simhash = kernel("simhash", Seq(Text), LongType,
    static(TokenScan, "simhashFp"), IntP("bit width", 1, 62),
    LongP("multiplier", default = Some(graft.functions.Dedup.permA(0)), sql = false),
    LongP("offset", default = Some(graft.functions.Dedup.permB(0)), sql = false),
    LongP("modulus", 1, default = Some(graft.functions.Dedup.MersennePrime),
      sql = false))
  val charGramSet = kernel("char_gram_set", Seq(Text), Longs,
    static(CharGrams, "gramSet"), IntP("gram size", 1))
  val rougeGramSet = kernel("rouge_gram_set", Seq(Text), Longs,
    static(RougeGrams, "gramSet"), IntP("gram size", 1))
  val tokenLcs = kernel("token_lcs", Seq(Text, Text), IntegerType,
    static(Lcs, "tokenLcs"), IntP("token cap", 1))
  val damerau = kernel("damerau", Seq(Text, Text), IntegerType,
    static(Damerau, "distance"))
  val log2q = kernel("log2q", Seq(Bigint), LongType, static(FixLog, "log2q"))
  val exp2q = kernel("exp2q", Seq(Bigint), LongType, static(FixLog, "exp2q"))
  val blocklistMask = kernel("blocklist_mask", Seq(Text), LongType,
    OnRef(ref(p => new AhoCorasick(strs(p(0)))), "presenceMask"),
    StrsP("phrase list"))
  val wordpiece = kernel("wordpiece", Seq(Text), Strings,
    OnRef(ref(p => new WpVocab(strs(p(0)), p(1).asInstanceOf[String])),
      "tokenize"),
    StrsP("vocabulary"), StrP("unknown token", default = Some("[UNK]")))
  private val ugVocab = ref(p => new UgVocab(
    p(0).asInstanceOf[Map[String, Long]], p(1).asInstanceOf[Long]))
  val unigramStats = kernel("unigram_stats", Seq(Text), Longs,
    OnRef(ugVocab, "wordStats"), ObjP("cost table"),
    LongP("unknown-character cost"))
  val unigramPieces = kernel("unigram_pieces", Seq(Text), Strings,
    OnRef(ugVocab, "wordPieces"), ObjP("cost table"),
    LongP("unknown-character cost"))
  val cosineSim = kernel("cosine_sim", Seq(Vec, Vec), DoubleType,
    static(VecOps, "cosine"))
  val dotProduct = kernel("dot_product", Seq(Vec, Vec), DoubleType,
    static(VecOps, "dot"))
  val rpLshBucket = kernel("rp_lsh_bucket", Seq(Vec), LongType,
    static(RpLsh, "bucket"), IntP("bit count", 1, 63))
  val nearestCell = kernel("nearest_cell", Seq(FloatVec), Cell,
    static(NearestCell, "assignF", ref(p => p(0).asInstanceOf[CentroidTable])),
    ObjP("centroid table"))
  val nearestCellHier = kernel("nearest_cell_hier", Seq(FloatVec), Cell,
    static(NearestCellHier, "assignH",
      ref(p => p(0).asInstanceOf[HierCentroidTable])),
    ObjP("two-level centroid table"))
  val weightFoldSum = kernel("weight_fold_sum", Seq(BigintArray), LongType,
    OnRef(ref(p => new WeightVector(p(0).asInstanceOf[Long],
      p(1).asInstanceOf[Array[Long]])), "margin"),
    LongP("bias"), ObjP("weight vector"))

  private def row(fields: String*) =
    StructType(fields.map(StructField(_, LongType)))
  val hashedShingles = kernel("hashed_shingles", Seq(Text), row("tid"),
    static(GramHash, "shingles"), IntP("shingle size", 1))
  val hashedShinglesPos = kernel("hashed_shingles_pos", Seq(Text),
    row("pos", "tid"), static(GramHash, "shinglesPos"),
    IntP("shingle size", 1))
  val winnowSelect = kernel("winnow_select", Seq(Text), row("sel_pos", "tid"),
    static(GramHash, "winnow"), IntP("shingle size", 1), IntP("window", 1))
  val hashedTokenLines = kernel("hashed_token_lines", Seq(Text),
    row("line_no", "lh"), static(GramHash, "lines"), IntP("line length", 1))
  val cdcChunks = kernel("cdc_chunks", Seq(Text),
    row("chunk_no", "start", "clen", "chash"), static(CdcScan, "chunks"),
    IntP("window", 2), IntP("mask bits", 1, 30))

  /** Every kernel, in declaration order. */
  val all: Seq[Kernel] = byName.values.toSeq

  def apply(name: String): Kernel = byName(name)
}
