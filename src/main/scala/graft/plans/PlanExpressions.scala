package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.robots.Robots
import graft.sketch.UrlSketch

/** Codegen-callable helpers for the crawl-plan expressions. */
object PlanOps {
  def hostKey(u: UTF8String): UTF8String =
    UTF8String.fromString(Robots.hostKey(u.toString))

  /** Per-epoch fetch budget from a robots crawl-delay: the oracle's
    * `max(1, int(window // d))` with CPython floordiv semantics
    * ([[Robots.pyFloorDiv]]). Callers filter to d > 0 and non-NaN first
    * (Python `nan > 0` is False ⇒ NaN imposes no cap; `inf > 0` is True ⇒
    * budget 1).
    */
  def crawlDelayBudget(windowSec: Double, d: Double): Long =
    math.max(1L, Robots.pyFloorDiv(windowSec, d).toLong)

  /** Longest-prefix robots decision over parallel prefix/allow arrays. */
  def robotsAllowed(url: UTF8String, prefixes: ArrayData, allows: ArrayData): Boolean = {
    val p = graft.url.PyUrl.urlparse(url.toString).path
    val path = if (p.isEmpty) "/" else p
    var bestLen = -1
    var bestAllow = true
    var i = 0
    val n = prefixes.numElements()
    while (i < n) {
      val prefix = prefixes.getUTF8String(i).toString
      if (path.startsWith(prefix)) {
        val allow = allows.getBoolean(i)
        if (prefix.length > bestLen || (prefix.length == bestLen && allow)) {
          bestLen = prefix.length
          bestAllow = allow
        }
      }
      i += 1
    }
    bestLen < 0 || bestAllow
  }
}

/** Politeness/robots host key (lowercased host sans port). */
case class HostKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    PlanOps.hostKey(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PlanOps.hostKey($c)")
  override protected def withNewChildInternal(c: Expression): HostKey = copy(child = c)
}

/** RFC 9309-lite gate: RobotsAllowed(url, prefixes, allows). Null rules
  * (host without robots.txt) are handled by a coalesce in the plan.
  */
case class RobotsAllowed(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(url: Any, prefixes: Any, allows: Any): Any =
    PlanOps.robotsAllowed(url.asInstanceOf[UTF8String],
      prefixes.asInstanceOf[ArrayData], allows.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, p, a) => s"graft.plans.PlanOps.robotsAllowed($u, $p, $a)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RobotsAllowed =
    copy(first = f, second = s, third = t)
}

/** CrawlDelayBudget(delay; windowSec) — per-host politeness budget from a
  * robots crawl-delay, Python-floordiv-exact (see [[PlanOps.crawlDelayBudget]]).
  */
case class CrawlDelayBudget(child: Expression, windowSec: Double)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    PlanOps.crawlDelayBudget(windowSec, input.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.PlanOps.crawlDelayBudget(${windowSec}D, $c)")
  override protected def withNewChildInternal(c: Expression): CrawlDelayBudget =
    copy(child = c)
}

/** Seen-sketch membership probe against a broadcast [[graft.sketch.UrlSketch]]
  * (bloom or its cuckoo fallback) — the O-7b fast path. `false` ⇒ definitely
  * unseen (no false negatives); a degraded cuckoo answers `true` for every
  * row, which only routes rows to the authoritative seen check.
  */
case class MightContain(bcast: Broadcast[UrlSketch], child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    bcast.value.mightContainBytes(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchBcast", bcast,
      classOf[Broadcast[UrlSketch]].getName)
    defineCodeGen(ctx, ev,
      c => s"((graft.sketch.UrlSketch)$ref.value()).mightContainBytes($c.getBytes())")
  }
  override protected def withNewChildInternal(c: Expression): MightContain =
    copy(child = c)
}

object planfns {
  def host_key(c: Column): Column = column(HostKey(expression(c)))
  def robots_allowed(url: Column, prefixes: Column, allows: Column): Column =
    column(RobotsAllowed(expression(url), expression(prefixes), expression(allows)))
  def might_contain(b: Broadcast[UrlSketch], c: Column): Column =
    column(MightContain(b, expression(c)))
  def crawl_delay_budget(c: Column, windowSec: Double): Column =
    column(CrawlDelayBudget(expression(c), windowSec))
}
