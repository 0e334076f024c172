package graft

import scala.annotation.tailrec
import scala.collection.immutable.HashSet

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Expression, In, LeafExpression, Literal, Or, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** A literal whose value reaches generated code through the `references`
  * array and is read once into a field, instead of being written into the
  * code as a Java literal. Two filters that differ only in such constants
  * generate the same code, so the second reuses the first's compiled
  * class. Prints exactly like the literal it replaces.
  */
case class BoundConstant(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BoundConstant.genCode(ctx, lit)
}

object BoundConstant {
  /** A field read once from the `references` array: the code names the
    * constant's type, never its value.
    */
  def genCode(ctx: CodegenContext, lit: Literal): ExprCode = {
    val javaType = CodeGenerator.javaType(lit.dataType)
    val ref = ctx.addReferenceObj("constant", lit.value, CodeGenerator.boxedType(lit.dataType))
    val field = ctx.addMutableState(javaType, "constant", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, lit.dataType))
  }
}

/** A [[BoundConstant]] for a cached scan's batch-pruning predicates. The
  * cache's batch filter recognises a comparison only against a `Literal`,
  * so this one is a literal, and it prints and compares like the literal
  * it replaces. Its constructor has the shape of `Literal`'s, so a
  * reflective copy keeps the class.
  */
class BoundScanConstant(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BoundConstant.genCode(ctx, this)
}

/** `child IN (list)` over non-null string literals, evaluated as one probe
  * of a `HashSet` passed through `references`. The generated code names
  * only the set's class, never its size or elements, so every list length
  * shares one compiled shape. Prints exactly like the `In` it replaces.
  */
case class BoundStringIn(child: Expression, list: Seq[Literal])
    extends UnaryExpression with Predicate {
  @transient private lazy val set: HashSet[Any] = HashSet.from(list.map(_.value))

  override def nullable: Boolean = child.nullable
  override def toString: String = In(child, list).toString
  override def sql: String = In(child, list).sql

  override protected def nullSafeEval(input: Any): Any = set.contains(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setTerm = ctx.addReferenceObj("set", set, classOf[HashSet[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $setTerm.contains($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BoundStringIn =
    copy(child = newChild)
}

/** Query-stage preparation rule: in every `FilterExec` condition, bind the
  * primitive constants that are comparison operands ([[BoundConstant]])
  * and turn a string `IN` list into one [[BoundStringIn]]. A dashboard
  * interaction that only moves its widget bounds then compiles nothing
  * new. Literals elsewhere in a condition stay literals: some expressions
  * read theirs at plan time (a rounding scale, a seed). A file scan's
  * pushed filters and partition filters are separate expressions and stay
  * as they are.
  *
  * A cached scan's predicates are bound where the scan is planned
  * ([[BindCachedScanConstants]]).
  */
object BindFilterConstants extends Rule[SparkPlan] {

  private def bindable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def bind(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && bindable(t) => BoundConstant(l)
    case other => other
  }

  private def isStringLiteral(e: Expression): Boolean = e match {
    case Literal(v, StringType) => v != null
    case _ => false
  }

  private val bindStringIn: PartialFunction[Expression, Expression] = {
    case In(v, list) if list.size > 1 && v.dataType == StringType &&
        list.forall(isStringLiteral) =>
      BoundStringIn(v, list.map(_.asInstanceOf[Literal]))
  }

  private def bindCondition(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison if c.children.exists(_.isInstanceOf[Literal]) =>
      c.withNewChildren(c.children.map(bind))
    case e if bindStringIn.isDefinedAt(e) => bindStringIn(e)
  }

  /** A cached scan's predicate with its comparison constants bound for
    * the scan's batch filter: primitive literals become
    * [[BoundScanConstant]]s and a string `IN` list a [[BoundStringIn]].
    * Nodes are built with their constructors: a [[BoundScanConstant]]
    * equals the literal it replaces, and Catalyst's `withNewChildren` and
    * `transform` keep the old node when the new one is equal to it.
    */
  private[graft] def bindScanPredicate(e: Expression): Expression = e match {
    case And(l, r) => And(bindScanPredicate(l), bindScanPredicate(r))
    case Or(l, r) => Or(bindScanPredicate(l), bindScanPredicate(r))
    case c: BinaryComparison if c.children.exists(_.isInstanceOf[Literal]) =>
      c.makeCopy(Array[AnyRef](c.left, c.right).map {
        case Literal(v, t) if v != null && bindable(t) => new BoundScanConstant(v, t)
        case other => other
      })
    case other => bindStringIn.applyOrElse(other, identity[Expression])
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec =>
      val bound = bindCondition(f.condition)
      if (bound.fastEquals(f.condition)) f else f.copy(condition = bound)
  }
}

/** Planner strategy: a cached scan (`InMemoryTableScanExec`) planned with
  * its predicates bound ([[BindFilterConstants.bindScanPredicate]]). The
  * scan compiles its predicates into a batch filter over each cached
  * batch's column statistics, once per query, so a literal in them made
  * each new widget state compile a class. Primitive comparison constants
  * still prune batches. A string `IN` list no longer does: the batch
  * filter does not recognise a [[BoundStringIn]], and its one disjunct
  * per element made each list length a new class. The `Filter` above the
  * scan applies every predicate to every row, as Spark's own cached-scan
  * planning does. The plan prints as before.
  */
case class BindCachedScanConstants(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projectList, filters, mem: InMemoryRelation) if filters.nonEmpty =>
      session.sessionState.planner.pruneFilterProject(projectList, filters,
        identity[Seq[Expression]],
        InMemoryTableScanExec(_, filters.map(BindFilterConstants.bindScanPredicate), mem)) :: Nil
    case _ => Nil
  }
}

/** The size at or under which AQE would coalesce a stage's output into
  * one partition anyway: `coalescePartitions.minPartitionSize` under
  * `parallelismFirst`, else `advisoryPartitionSizeInBytes`. None when
  * AQE's partition coalescing is off. [[SortSmallStageLocally]] and
  * [[graft.operators.CleanStore.onePartitionIfSmall]] both read it, so
  * the two cannot drift.
  */
object SmallStage {
  def onePartitionLimit(conf: SQLConf): Option[Long] =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}

/** AQE runtime optimizer rule: a global `Sort` whose input (through
  * Project/Filter only) is a materialized query stage no larger than
  * [[SmallStage.onePartitionLimit]] sorts that one partition locally. The
  * range exchange it replaces costs a sampling job and a shuffle job for
  * a result of a few hundred rows. Left alone: a sort under a limit (it
  * plans as a top-k, with no range exchange) and a sort over a stage that
  * already is its range exchange (that job has run).
  */
object SortSmallStageLocally extends Rule[LogicalPlan] {

  @tailrec private def stageBelow(p: LogicalPlan): Option[LogicalQueryStage] = p match {
    case s: LogicalQueryStage => Some(s)
    case Project(_, child) => stageBelow(child)
    case Filter(_, child) => stageBelow(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    SmallStage.onePartitionLimit(conf).fold(plan)(rewrite(plan, _, limited = false))

  /** `limited`: the node is the input of a limit (through Project/Offset),
    * so a sort here plans as a top-k with no range exchange to drop.
    */
  private def rewrite(p: LogicalPlan, limit: Long, limited: Boolean): LogicalPlan = p match {
    case s @ Sort(order, true, child, _) if !limited && stageBelow(child).exists(st =>
        st.isMaterialized && st.stats.sizeInBytes <= limit &&
          !st.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))) =>
      s.copy(global = false, child = Repartition(1, shuffle = false, child))
    case _: LocalLimit => p.withNewChildren(p.children.map(rewrite(_, limit, limited = true)))
    case _: Project | _: Offset => p.withNewChildren(p.children.map(rewrite(_, limit, limited)))
    case _ => p.withNewChildren(p.children.map(rewrite(_, limit, limited = false)))
  }
}
