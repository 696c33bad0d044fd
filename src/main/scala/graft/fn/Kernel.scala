package graft.fn

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** When a kernel's result is SQL null. */
sealed trait Nulls
object Nulls {
  /** Null exactly when an input is null: the kernel is total. */
  case object OnNullInput extends Nulls
  /** Also null when the kernel rejects its input by returning null. */
  case object Always extends Nulls
  /** Never null: null inputs reach the kernel as Java default values. */
  case object Never extends Nulls
}

/** A structural literal of a kernel: an Int (or Double) that shapes
  * the computation — shingle size, signature width, frame cap — fixed
  * at plan time, checked against `[min, max]`, filled from `default`
  * when a SQL call omits it.
  */
final case class Lit(name: String, min: Double, max: Double,
                     default: Option[AnyVal], what: String, isDouble: Boolean) {

  private[fn] def value(v: Any): AnyVal = {
    val x: AnyVal = (v, isDouble) match {
      case (i: Int, false) => i
      case (n: Int, true) => n.toDouble
      case (n: Long, true) => n.toDouble
      case (n: Float, true) => n.toDouble
      case (n: Double, true) => n
      case (n: Decimal, true) => n.toDouble // SQL `400.0` parses as a decimal
      case _ => throw new IllegalArgumentException(
        s"$name must be ${if (isDouble) "a numeric" else "an integer"} literal, got $v")
    }
    val d = if (isDouble) x.asInstanceOf[Double] else x.asInstanceOf[Int].toDouble
    def show(b: Double) = if (isDouble) b.toString else b.toLong.toString
    val label = if (what.isEmpty) name else what
    require(d >= min && d <= max,
      if (max == Int.MaxValue || max.isPosInfinity) s"$label must be >= ${show(min)}, got $x"
      else s"$label must be in [${show(min)}, ${show(max)}], got $x")
    x
  }

  private[fn] def java(v: Any): String = v match {
    case d: Double => s"${d}D"
    case i => i.toString
  }
}

/** One per-row kernel: a method on a Scala object, declared once in
  * [[Kernels]] and run by [[KernelCall]] both inside whole-stage codegen
  * and interpreted. The declaration names the method
  * (`"graft.ext.Audio.profileOrNull"`), the SQL input types, the
  * structural literals that follow them in the method's parameter list,
  * the result type and its [[Nulls]] rule.
  *
  * Argument binding: each input binds as Spark's Java value for its
  * type (`byte[]`, `long`, `double`, `UTF8String`, `ArrayData`, …),
  * STRING also as `String`. Result binding: Spark's Java value as is;
  * a boxed primitive, `String`, `double[]`/`long[]`/`int[]` or
  * `double[][]` converted (null = SQL null). The method is resolved when the table loads, so a wrong
  * declaration fails at start-up rather than in one execution mode.
  * The owner object itself is initialized only when a call first
  * runs.
  */
final class Kernel(
    val name: String,
    target: String,
    val inputs: Seq[DataType],
    val dataType: DataType,
    val nulls: Nulls = Nulls.OnNullInput,
    val lits: Seq[Lit] = Nil,
    check: Seq[Any] => Unit = _ => ()) extends Serializable {

  private val owner: Class[_] = Class.forName(
    target.substring(0, target.lastIndexOf('.')) + "$", false, getClass.getClassLoader)
  private val methodName = target.substring(target.lastIndexOf('.') + 1)

  private val method: Method = {
    def binds(p: Class[_], t: DataType): Boolean =
      p == CodeGenerator.javaClass(t) || (t == StringType && p == classOf[String])
    val litClasses = lits.map(l => if (l.isDouble) classOf[Double] else classOf[Int])
    val found = owner.getMethods.filter { m =>
      val ps = m.getParameterTypes.toSeq
      m.getName == methodName && ps.size == inputs.size + lits.size &&
        ps.zip(inputs).forall { case (p, t) => binds(p, t) } &&
        ps.drop(inputs.size) == litClasses
    }
    require(found.length == 1,
      s"$name: no unique $target(${inputs.mkString(", ")}, ${lits.map(_.name).mkString(", ")})")
    found.head
  }

  private val params: Array[Class[_]] = method.getParameterTypes
  private val ret: Class[_] = method.getReturnType

  /** How the method's return value becomes the Spark value. */
  private val wrap: Kernel.Wrap = Kernel.wrapFor(ret, dataType).getOrElse(
    throw new IllegalArgumentException(s"$name: ${ret.getName} does not bind to $dataType"))

  private[fn] val javaCall: String = s"${owner.getName}.MODULE$$.$methodName"

  private lazy val module: AnyRef = owner.getField("MODULE$").get(null)

  /** Build the expression from Catalyst children, literals defaulted. */
  def apply(children: Expression*): KernelCall = call(children, Nil)

  /** Build a one-input kernel with its structural literal values. */
  def apply(child: Expression, lit: AnyVal, more: AnyVal*): KernelCall =
    call(Seq(child), lit +: more)

  /** The SQL function builder: inputs first, then the structural
    * literals, trailing ones optional when they have defaults.
    */
  def build(args: Seq[Expression]): Expression = {
    require(args.size >= inputs.size && args.size <= inputs.size + lits.size,
      s"$name expects ($signature); got ${args.size} args")
    val given = args.drop(inputs.size).zip(lits).map {
      case (Literal(v, _), _) if v != null => v
      case (other, l) => throw new IllegalArgumentException(
        s"${l.name} must be a literal, got $other")
    }
    call(args.take(inputs.size), given)
  }

  private def call(children: Seq[Expression], given: Seq[Any]): KernelCall = {
    require(children.size == inputs.size,
      s"$name expects ($signature); got ${children.size} inputs")
    require(given.size <= lits.size, s"$name expects ($signature); got ${given.size} literals")
    val values = lits.zipWithIndex.map { case (l, i) =>
      if (i < given.size) l.value(given(i))
      else l.default.getOrElse(throw new IllegalArgumentException(
        s"$name expects ($signature); ${l.name} has no default"))
    }
    check(values)
    KernelCall(this, children, values)
  }

  private def signature: String = (inputs.map(_.simpleString) ++
    lits.map(l => if (l.default.isDefined) s"[${l.name}]" else l.name)).mkString(", ")

  /** Java source of one argument: a child's value or a literal. */
  private[fn] def argJava(i: Int, v: String): String =
    if (params(i) == classOf[String]) s"$v.toString()" else v

  /** Java statements that store the call's result in `ev`. */
  private[fn] def resultJava(ctx: CodegenContext, ev: ExprCode, call: String,
                             nullable: Boolean): String = wrap match {
    case Kernel.Direct if ret.isPrimitive => s"${ev.value} = $call;"
    case w =>
      val r = ctx.freshName("kr")
      val value = w.java(r, CodeGenerator.javaType(dataType))
      s"${ret.getCanonicalName} $r = $call;\n" +
        (if (nullable) s"if ($r == null) {\n  ${ev.isNull} = true;\n} else {\n  ${ev.value} = $value;\n}"
         else s"${ev.value} = $value;")
  }

  /** The interpreted path: the same method, reflectively. */
  private[fn] def invoke(args: Array[AnyRef]): Any = {
    var i = 0
    while (i < params.length) {
      args(i) = args(i) match {
        case null if params(i).isPrimitive => Literal.default(inputs(i)).value.asInstanceOf[AnyRef]
        case s: UTF8String if params(i) == classOf[String] => s.toString
        case v => v
      }
      i += 1
    }
    val r = try method.invoke(module, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (r == null) null else wrap.eval(r)
  }

  override def toString: String = name

  private def writeReplace(): AnyRef = new Kernel.Ref(name)
}

object Kernel {

  /** Deserializes to the one table instance of the kernel. */
  private class Ref(name: String) extends Serializable {
    private def readResolve(): AnyRef = Kernels.byName(name)
  }

  /** A structural Int literal in `[min, max]`, optional when it has a
    * `default`; `what` names it in the range error.
    */
  def int(name: String, min: Int = Int.MinValue, max: Int = Int.MaxValue,
          default: Option[Int] = None, what: String = ""): Lit =
    Lit(name, min, max, default, what, isDouble = false)

  /** A structural Double literal (any numeric SQL literal binds). */
  def double(name: String): Lit =
    Lit(name, Double.NegativeInfinity, Double.PositiveInfinity, None, "", isDouble = true)

  /** A result conversion: its Java source and its interpreted twin. */
  private[fn] sealed abstract class Wrap {
    def java(r: String, javaType: String): String
    def eval(r: AnyRef): Any
  }
  private[fn] case object Direct extends Wrap {
    def java(r: String, javaType: String) = r
    def eval(r: AnyRef): Any = r
  }
  private[fn] case object Unbox extends Wrap {
    def java(r: String, javaType: String) = s"$r.${javaType}Value()"
    def eval(r: AnyRef): Any = r
  }
  private[fn] case object Utf8 extends Wrap {
    def java(r: String, javaType: String) =
      s"org.apache.spark.unsafe.types.UTF8String.fromString($r)"
    def eval(r: AnyRef): Any = UTF8String.fromString(r.asInstanceOf[String])
  }
  private[fn] case object Array1 extends Wrap {
    def java(r: String, javaType: String) =
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData($r)"
    def eval(r: AnyRef): Any = r match {
      case a: Array[Double] => new GenericArrayData(a)
      case a: Array[Long] => new GenericArrayData(a)
      case a: Array[Int] => new GenericArrayData(a)
    }
  }
  private[fn] case object Array2 extends Wrap {
    def java(r: String, javaType: String) =
      s"graft.fn.Kernel$$.MODULE$$.rows($r)"
    def eval(r: AnyRef): Any = rows(r.asInstanceOf[Array[Array[Double]]])
  }

  /** `double[][]` → array<array<double>>. */
  def rows(r: Array[Array[Double]]): ArrayData = {
    val out = new Array[Any](r.length)
    var i = 0
    while (i < r.length) { out(i) = new GenericArrayData(r(i)); i += 1 }
    new GenericArrayData(out)
  }

  private def wrapFor(ret: Class[_], t: DataType): Option[Wrap] = (ret, t) match {
    case (r, LongType) if r == classOf[java.lang.Long] => Some(Unbox)
    case (r, IntegerType) if r == classOf[java.lang.Integer] => Some(Unbox)
    case (r, DoubleType) if r == classOf[java.lang.Double] => Some(Unbox)
    case (r, BooleanType) if r == classOf[java.lang.Boolean] => Some(Unbox)
    case (r, StringType) if r == classOf[String] => Some(Utf8)
    case (r, ArrayType(DoubleType, _)) if r == classOf[Array[Double]] => Some(Array1)
    case (r, ArrayType(LongType, _)) if r == classOf[Array[Long]] => Some(Array1)
    case (r, ArrayType(IntegerType, _)) if r == classOf[Array[Int]] => Some(Array1)
    case (r, ArrayType(ArrayType(DoubleType, _), _)) if r == classOf[Array[Array[Double]]] =>
      Some(Array2)
    case (r, _) => Option.when(CodeGenerator.javaClass(t).isAssignableFrom(r))(Direct)
  }
}

/** A call of one declared [[Kernel]]: `children` are the SQL inputs,
  * `lits` the structural literal values. Generates one direct call per
  * row inside the whole-stage codegen span (no UDF boundary), through
  * the owner's `MODULE$` rather than a static forwarder, with the null
  * check and array wrapping the declaration implies. Input types are
  * checked, with Spark's implicit casts applied.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression], lits: Seq[Any])
  extends Expression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = kernel.inputs
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean = kernel.nulls match {
    case Nulls.OnNullInput => children.exists(_.nullable)
    case Nulls.Always => true
    case Nulls.Never => false
  }

  override protected def flatArguments: Iterator[Any] = children.iterator ++ lits.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size + lits.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null && nullable) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    lits.foreach { l => args(i) = l.asInstanceOf[AnyRef]; i += 1 }
    kernel.invoke(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.zipWithIndex.map { case (g, i) => kernel.argJava(i, g.value.toString) } ++
      kernel.lits.zip(lits).map { case (l, v) => l.java(v) }
    val call = s"${kernel.javaCall}(${args.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val result = kernel.resultJava(ctx, ev, call, nullable)
    if (nullable) {
      val body = gens.zip(children).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((g, c), inner) => g.code + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $result""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
