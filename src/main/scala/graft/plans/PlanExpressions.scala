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

/** A run's robots table as one host map, broadcast once per run: per host
  * key, the `*`-group rules and the crawl-delay budget. The gate and the
  * politeness budget are expressions over it ([[RobotsGate]],
  * [[RobotsDelayBudget]]), so no epoch plans a join or a broadcast of its
  * own. Built only for a table of at most `broadcastMaxRows` rows.
  */
final class RobotsRules(val rules: Map[String, Seq[Robots.Rule]],
    delayBudgets: Map[String, Long]) extends Serializable {
  def hasDelays: Boolean = delayBudgets.nonEmpty
  /** Longest-match decision; a host without robots.txt allows everything. */
  def allowed(host: UTF8String, url: UTF8String): Boolean =
    rules.get(host.toString).forall(Robots.allowed(url.toString, _))
  /** The host's crawl-delay budget; no cap without a delay. */
  def delayBudget(host: UTF8String): Long =
    delayBudgets.getOrElse(host.toString, Long.MaxValue)
}

object RobotsRules {
  /** A robots-table row: host, prefixes, allows, crawl delay. */
  type Row = (String, Array[String], Array[Boolean], Option[Double])

  /** A delay caps its host only when positive and not NaN (Python `nan > 0`
    * is False; `inf > 0` is True, budget 1).
    */
  def apply(rows: Seq[Row], windowSec: Double): RobotsRules =
    new RobotsRules(
      rows.map { case (h, ps, as, _) =>
        h -> ps.toSeq.zip(as).map { case (p, a) => Robots.Rule(p, a) }
      }.toMap,
      rows.collect { case (h, _, _, Some(d)) if d > 0.0 && !d.isNaN =>
        h -> PlanOps.crawlDelayBudget(windowSec, d)
      }.toMap)
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

/** RobotsGate(host, url) over the run's broadcast [[RobotsRules]]. */
case class RobotsGate(rules: Broadcast[RobotsRules], left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(host: Any, url: Any): Any =
    rules.value.allowed(host.asInstanceOf[UTF8String], url.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("robotsRules", rules, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev,
      (h, u) => s"((graft.plans.RobotsRules)$ref.value()).allowed($h, $u)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RobotsGate = copy(left = l, right = r)
}

/** RobotsDelayBudget(host): the host's crawl-delay budget from the run's
  * broadcast [[RobotsRules]], `Long.MaxValue` for a host without one.
  */
case class RobotsDelayBudget(rules: Broadcast[RobotsRules], child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(host: Any): Any =
    rules.value.delayBudget(host.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("robotsRules", rules, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev,
      h => s"((graft.plans.RobotsRules)$ref.value()).delayBudget($h)")
  }
  override protected def withNewChildInternal(c: Expression): RobotsDelayBudget =
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
  def robots_gate(rules: Broadcast[RobotsRules], host: Column, url: Column): Column =
    column(RobotsGate(rules, expression(host), expression(url)))
  def robots_delay_budget(rules: Broadcast[RobotsRules], host: Column): Column =
    column(RobotsDelayBudget(rules, expression(host)))
}
