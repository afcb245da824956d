package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

import graft.ip.IpKit

/** Native Catalyst expressions for the inet toolkit (SURVEY §7.3's
  * "promote hot ones to Expression with codegen").
  *
  * Why not UDFs: a Scala UDF is an opaque black box — Catalyst can't
  * null-short-circuit it, every call boxes a Row, and it breaks the
  * WholeStageCodegen span of the enclosing stage. These expressions
  * generate a direct static call (`InetOps.ipNum(str)`) inline in the
  * stage's generated Java, like Spark's own string builtins — the geo
  * LPM probe derivation stays inside one codegen'd scan stage at 100 TB.
  *
  * Numeric form: fixed-length big-endian bytes (4 or 16) — see
  * [[graft.ip.IpKit]]; lexicographic BinaryType comparison is unsigned
  * numeric order within a family.
  */
object InetOps {
  /** address string → fixed-length big-endian bytes (null if malformed
    * or blank; parsing is literal-only via [[IpKit.ipToBigInt]] — never
    * DNS). Identical to [[prefixStart]]: a bare address is the /width
    * prefix of itself.
    */
  def ipNum(s: UTF8String): Array[Byte] = prefixStart(s)

  def prefixStart(s: UTF8String): Array[Byte] =
    try {
      val str = s.toString
      if (str.trim.isEmpty) null // blank-after-trim too, not just ""
      else {
        val (_, start, _) = IpKit.prefixRange(str)
        IpKit.toFixedBytes(start, if (str.contains(":")) 16 else 4)
      }
    } catch { case _: Exception => null }

  def prefixEnd(s: UTF8String): Array[Byte] =
    try {
      val str = s.toString
      if (str.trim.isEmpty) null
      else {
        val (_, _, end) = IpKit.prefixRange(str)
        IpKit.toFixedBytes(end, if (str.contains(":")) 16 else 4)
      }
    } catch { case _: Exception => null }

  def family(s: UTF8String): Int = if (s.toString.contains(":")) 6 else 4

  /** Aligned ancestor start of a fixed-length binary address at `len`
    * bits: the first `len` bits kept, host bits zeroed — the candidate
    * key of the expansion LPM ([[graft.operators.LpmJoin]]). Returns
    * null when `len` exceeds the address width (a 4-byte v4 value has
    * no /48 ancestor) so out-of-family candidate rows drop out of the
    * equi-join instead of corrupting it.
    */
  def alignedStart(addr: Array[Byte], len: Int): Array[Byte] = {
    val bits = addr.length * 8
    if (len < 0 || len > bits) null
    else {
      val out  = new Array[Byte](addr.length)
      val full = len >> 3
      System.arraycopy(addr, 0, out, 0, full)
      val rem = len & 7
      if (rem > 0) out(full) = (addr(full) & (0xff << (8 - rem))).toByte
      out
    }
  }

}

abstract class InetUnary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  /** name of the static method on InetOps */
  def method: String

  override def nullable: Boolean = true

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.InetOps.$method($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
}

/** inet_num(str) → binary address value. */
case class InetNum(child: Expression) extends InetUnary {
  override def dataType: DataType = BinaryType
  override def method: String = "ipNum"
  override def nullSafeEval(input: Any): Any = InetOps.ipNum(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** inet_start('a.b.c.d/len') → binary first address of the prefix. */
case class InetStart(child: Expression) extends InetUnary {
  override def dataType: DataType = BinaryType
  override def method: String = "prefixStart"
  override def nullSafeEval(input: Any): Any = InetOps.prefixStart(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** inet_end('a.b.c.d/len') → binary last address of the prefix. */
case class InetEnd(child: Expression) extends InetUnary {
  override def dataType: DataType = BinaryType
  override def method: String = "prefixEnd"
  override def nullSafeEval(input: Any): Any = InetOps.prefixEnd(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** inet_family(str) → 4 | 6 (the Postgres `family()` of F2). */
case class InetFamily(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = InetOps.family(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.InetOps.family($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** inet_aligned(addrBin, len) → binary aligned ancestor start (null when
  * len exceeds the address width). Codegen'd: the v6 expansion-LPM
  * candidate derivation stays inside the probe scan's WholeStageCodegen
  * span — no UDF boundary on the 100 TB side.
  */
case class InetAligned(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, int) arguments, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(addr: Any, len: Any): Any =
    InetOps.alignedStart(addr.asInstanceOf[Array[Byte]], len.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, l) => s"""
      ${ev.value} = graft.plans.InetOps.alignedStart($a, $l);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(newLeft, newRight)
}

/** Function registry for the inet expressions: installable on an
  * existing session (`GraftFunctions.register(spark)`) or at session
  * construction via `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("inet_num", (c: Seq[Expression]) => InetNum(c.head)),
    ("inet_start", (c: Seq[Expression]) => InetStart(c.head)),
    ("inet_end", (c: Seq[Expression]) => InetEnd(c.head)),
    ("inet_family", (c: Seq[Expression]) => InetFamily(c.head)),
    ("inet_contains", (c: Seq[Expression]) => {
      require(c.length == 2, s"inet_contains takes 2 arguments, got ${c.length}")
      InetContains(c(0), c(1))
    }),
    ("inet_aligned", (c: Seq[Expression]) => {
      require(c.length == 2, s"inet_aligned takes 2 arguments, got ${c.length}")
      InetAligned(c(0), c(1))
    })
  ).map { case (name, builder) =>
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.plans.InetExpressions", name),
      builder)
  }

  def register(spark: SparkSession): Unit = {
    (descriptors ++ ArrayFunctions.descriptors ++ TextExpressionFunctions.descriptors)
      .foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        ident.funcName, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteInetContains))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteInetContains
  }
}

/** `spark.sql.extensions` entry point: inet functions, the
  * containment-to-range optimizer rule, the bounded top-k rewrite and
  * the fused cosine kNN strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GraftFunctions.descriptors ++ ArrayFunctions.descriptors ++
      TextExpressionFunctions.descriptors).foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteInetContains)
    // physical rewrite: Sort + partial WindowGroupLimit → bounded heap
    // (queryStagePrepRules run AFTER EnsureRequirements, so the local
    // sort the rule removes is already in the plan)
    ext.injectQueryStagePrepRule(BoundedTopKRule.apply)
    ext.injectPlannerStrategy(_ => CosineTopKStrategy)
  }
}
