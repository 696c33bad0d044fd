package graft.fn

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{StructField, StructType}

import graft.{GraftExtensions, SparkSpec}

/** Every declared kernel of [[Kernels]], driven from the table: it is
  * callable by its SQL name, compiles inside whole-stage codegen with
  * no interpreted fallback, and evaluates interpreted — both on a row
  * of nulls, with the same answer. This covers the kernels no query
  * reaches.
  */
class KernelSpec extends SparkSpec {
  GraftExtensions.install(spark)

  /** Run `body` with the given session confs, restoring them after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // a Project over a local relation would otherwise be evaluated by
  // the optimizer, never reaching codegen
  private val keepProject = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  test("every Kernel in Kernels is listed in Kernels.all") {
    val declared = Kernels.getClass.getMethods
      .filter(m => m.getParameterCount == 0 && m.getReturnType == classOf[Kernel])
      .map(_.invoke(Kernels).asInstanceOf[Kernel]).toSet
    assert(declared.map(_.name) === Kernels.all.map(_.name).toSet)
  }

  test("a kernel call deserializes to the table's kernel") {
    val call = Kernels.WordShingles(org.apache.spark.sql.catalyst.expressions.Literal("a b"), 2)
    val bytes = new java.io.ByteArrayOutputStream
    new java.io.ObjectOutputStream(bytes).writeObject(call)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back === call)
    assert(back.asInstanceOf[KernelCall].kernel eq Kernels.WordShingles)
  }

  for (k <- Kernels.all) test(s"${k.name}: SQL-callable, codegen-only and interpreted agree") {
    assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(k.name)))
    val schema = StructType(k.inputs.zipWithIndex.map { case (t, i) => StructField(s"a$i", t) })
    // a Never kernel's inputs are non-null by contract: it gets doc id 1
    val row = k.inputs.map(_ => if (k.nulls == Nulls.Never) 1L else null)
    val nulls = spark.createDataFrame(java.util.List.of(Row.fromSeq(row)), schema)
    val lits = k.lits.map { l =>
      if (l.isDouble) s"${l.default.getOrElse(1.0)}D"
      else l.default.getOrElse(l.min.toInt).toString
    }
    val call = s"${k.name}(${(schema.fieldNames.toSeq ++ lits).mkString(", ")})"
    def run() = {
      val df = nulls.selectExpr(call)
      val resolved = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case c: KernelCall => c.kernel
      })
      assert(resolved === Seq(k))
      assert(df.schema.head.dataType === k.dataType)
      (df.collect().toSeq, df.queryExecution.executedPlan.toString)
    }
    val (compiled, plan) = withConf(keepProject,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    assert(plan.linesIterator.exists(l => l.contains(k.name) && l.contains("*(")), plan)
    val (interpreted, _) = withConf(keepProject,
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(compiled.map(_.toSeq.map(normalize)) === interpreted.map(_.toSeq.map(normalize)))
  }

  /** Binary results compare by content. */
  private def normalize(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(normalize)
    case other => other
  }
}
