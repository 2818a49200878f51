package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Conv, Crc32, Expression, Md5, RegExpExtract, RegExpExtractAll, RegExpReplace, Sha2, StringTranslate, XxHash64}
import org.apache.spark.sql.execution.{DataSourceScanExec, FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Typed walks over physical plans for the kernel guards: they read
  * the optimizer's own trees, never a rendered plan string, so a
  * rendering change (or Spark's "more fields" truncation) cannot make
  * a guard pass vacuously, and a new [[KernelCall]] is covered without
  * being registered anywhere. */
object KernelPlans extends AdaptiveSparkPlanHelper {

  /** Spark builtins that cost a hash / regex / string pass per row —
    * counted beside every KernelCall. */
  private val heavyBuiltins: Set[Class[_]] = Set(classOf[XxHash64],
    classOf[Md5], classOf[Sha2], classOf[Crc32], classOf[RegExpReplace],
    classOf[RegExpExtract], classOf[RegExpExtractAll],
    classOf[StringTranslate], classOf[Conv])

  def isHeavy(e: Expression): Boolean =
    e.isInstanceOf[KernelCall] || heavyBuiltins(e.getClass)

  /** Every Filter condition in the plan, AQE stages and subqueries
    * included. */
  def filterConditions(plan: SparkPlan): Seq[Expression] =
    collectWithSubqueries(plan) { case f: FilterExec => f.condition }

  def heavyCalls(cond: Expression): Seq[Expression] =
    cond.collect { case e if isHeavy(e) => e }

  /** KernelCalls that occur more than once (canonically) in one
    * condition: each copy is a full per-row evaluation. */
  def duplicateKernels(cond: Expression): Seq[KernelCall] =
    cond.collect { case k: KernelCall => k }
      .groupBy(_.canonicalized).values.filter(_.size > 1).map(_.head).toSeq

  /** Every operator holding a KernelCall, with whether it runs inside
    * a WholeStageCodegen stage (an InputAdapter ends the stage above
    * it). Read it off a non-adaptive plan: AQE defers the stages. */
  def kernelOperators(plan: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    def walk(p: SparkPlan, inStage: Boolean): Seq[(SparkPlan, Boolean)] = p match {
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      // a scan's data filters are pushdown copies of the Filter above
      // it, which evaluates them (and is walked itself)
      case _: DataSourceScanExec => Nil
      case _ =>
        val here =
          if (p.expressions.exists(_.exists(_.isInstanceOf[KernelCall]))) Seq(p -> inStage)
          else Nil
        here ++ p.children.flatMap(walk(_, inStage)) ++
          p.subqueries.flatMap(walk(_, inStage = false))
    }
    walk(plan, inStage = false)
  }

  /** What is wrong with the plan's kernel placement: each expected
    * kernel class missing from it, and each kernel-holding operator
    * outside whole-stage codegen. Empty when healthy. */
  def codegenViolations(plan: SparkPlan, expected: Class[_]*): Seq[String] = {
    val ops = kernelOperators(plan)
    expected.filterNot(k => ops.exists { case (op, _) =>
      op.expressions.exists(_.exists(k.isInstance)) })
      .map(k => s"no ${k.getSimpleName} in the plan") ++
      ops.collect { case (op, false) => s"kernel outside codegen: ${op.nodeName}" }
  }
}
