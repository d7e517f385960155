package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, LogicalRelation}
import org.apache.spark.sql.types.{BinaryType, DoubleType, StructType}

import graft.functions.GeomBinaryExpr
import graft.geom.{Envelope, WKB}
import graft.sources.GeoParquet

/**
 * Spatial partition pruning (SURVEY §4): rewrite
 *
 *   Filter(st_intersects(geomAttr, <literal geometry>), scan)
 *
 * to additionally constrain the GeoParquet covering column
 * `<geom>_bbox{xmin,ymin,xmax,ymax}` (written by
 * [[graft.sources.GeoParquet.write]]) with plain double range predicates.
 * Those ARE pushed into the parquet reader (visible as PushedFilters), so
 * row groups whose bbox stats cannot match are skipped without decoding a
 * single WKB blob. The original spatial predicate is kept — the derived
 * ranges are a necessary condition, not a replacement (filter-and-refine at
 * the storage layer; Spark analog of the reference's `bbox=` scanner
 * pushdown, reference: python/geopolars/io/file.py:73-78).
 *
 * The derived ranges are enforced only by the Parquet reader:
 * [[BboxScanStrategy]] drops them again from the Filter that runs after
 * the scan. Left there, their double constants would be written into the
 * whole-stage generated Java, so every query window would compile its own
 * class. Dropping them is exact only because the covering column is each
 * geometry's true envelope ([[graft.sources.GeoParquet.write]] guarantees
 * it; row-group pruning relies on it already): then the spatial predicate
 * implies the ranges, and it alone decides every row.
 *
 * Supported conjunct shapes (geometry side must be a plain attribute with a
 * sibling covering attribute in the same child plan):
 *  - st_intersects(g, lit) / st_intersects(lit, g): bbox must overlap env(lit)
 *  - st_contains(g, lit): env(g) must contain env(lit)
 *  - st_within(g, lit) / st_contains(lit, g): env(g) must lie inside env(lit)
 *  - st_dwithin(g, lit, d): bbox must overlap env(lit) expanded by d
 */
class BboxPruningRule extends Rule[LogicalPlan] {

  import BboxPruningRule.deriveRanges

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val conjuncts = SpatialJoinStrategy.splitConjuncts(cond)
      val derived = conjuncts.flatMap(c => deriveRanges(c, child.output))
        .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
      if (derived.isEmpty) f
      else Filter((conjuncts ++ derived).reduce(And), child)
  }
}

object BboxPruningRule {

  /** Literal/foldable WKB expression => its envelope. */
  private def litEnvelope(e: Expression): Option[Envelope] =
    if (!e.foldable || e.dataType != BinaryType) None
    else e.eval(null) match {
      case b: Array[Byte] =>
        Option(WKB.readOrNull(b)).map(_.envelope).filterNot(_.isEmpty)
      case _ => None
    }

  /** geometry attribute => its covering bbox attribute, if `output` carries one. */
  private def coveringOf(e: Expression, output: Seq[Attribute]): Option[Attribute] = e match {
    case a: Attribute =>
      output.find { c =>
        c.name == GeoParquet.bboxColName(a.name) && (c.dataType match {
          case s: StructType =>
            Seq("xmin", "ymin", "xmax", "ymax").forall(f =>
              s.fields.exists(sf => sf.name == f && sf.dataType == DoubleType))
          case _ => false
        })
      }
    case _ => None
  }

  private def field(bbox: Attribute, name: String): Expression =
    GetStructField(bbox, bbox.dataType.asInstanceOf[StructType].fieldIndex(name), Some(name))

  private def overlap(bbox: Attribute, env: Envelope, pad: Double = 0.0): Seq[Expression] = Seq(
    GreaterThanOrEqual(field(bbox, "xmax"), Literal(env.minX - pad)),
    LessThanOrEqual(field(bbox, "xmin"), Literal(env.maxX + pad)),
    GreaterThanOrEqual(field(bbox, "ymax"), Literal(env.minY - pad)),
    LessThanOrEqual(field(bbox, "ymin"), Literal(env.maxY + pad)))

  private def covers(bbox: Attribute, env: Envelope): Seq[Expression] = Seq(
    LessThanOrEqual(field(bbox, "xmin"), Literal(env.minX)),
    GreaterThanOrEqual(field(bbox, "xmax"), Literal(env.maxX)),
    LessThanOrEqual(field(bbox, "ymin"), Literal(env.minY)),
    GreaterThanOrEqual(field(bbox, "ymax"), Literal(env.maxY)))

  private def within(bbox: Attribute, env: Envelope): Seq[Expression] = Seq(
    GreaterThanOrEqual(field(bbox, "xmin"), Literal(env.minX)),
    LessThanOrEqual(field(bbox, "xmax"), Literal(env.maxX)),
    GreaterThanOrEqual(field(bbox, "ymin"), Literal(env.minY)),
    LessThanOrEqual(field(bbox, "ymax"), Literal(env.maxY)))

  /** The bbox range conjuncts that spatial conjunct `c` implies, over the
    * covering columns among `output` (the attributes `c` is evaluated on). */
  private[plans] def deriveRanges(c: Expression, output: Seq[Attribute]): Seq[Expression] = c match {
    case GeomBinaryExpr("st_intersects", a, b) =>
      (coveringOf(a, output), litEnvelope(b), coveringOf(b, output), litEnvelope(a)) match {
        case (Some(bbox), Some(env), _, _) => overlap(bbox, env)
        case (_, _, Some(bbox), Some(env)) => overlap(bbox, env)
        case _                             => Nil
      }
    case GeomBinaryExpr("st_contains", a, b) =>
      (coveringOf(a, output), litEnvelope(b), coveringOf(b, output), litEnvelope(a)) match {
        case (Some(bbox), Some(env), _, _) => covers(bbox, env) // attr contains lit
        case (_, _, Some(bbox), Some(env)) => within(bbox, env) // lit contains attr
        case _                             => Nil
      }
    case GeomBinaryExpr("st_within", a, b) =>
      (coveringOf(a, output), litEnvelope(b), coveringOf(b, output), litEnvelope(a)) match {
        case (Some(bbox), Some(env), _, _) => within(bbox, env) // attr within lit
        case (_, _, Some(bbox), Some(env)) => covers(bbox, env) // lit within attr
        case _                             => Nil
      }
    case graft.functions.GeomArgsExpr("st_dwithin", Seq(a, b, d)) if d.foldable =>
      val dist = d.eval(null) match {
        case n: java.lang.Number                     => n.doubleValue()
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
        case _                                       => return Nil
      }
      (coveringOf(a, output), litEnvelope(b)) match {
        case (Some(bbox), Some(env)) => overlap(bbox, env, dist)
        case _ =>
          (coveringOf(b, output), litEnvelope(a)) match {
            case (Some(bbox), Some(env)) => overlap(bbox, env, dist)
            case _                       => Nil
          }
      }
    case _ => Nil
  }
}

/**
 * Plans a scan whose filter [[BboxPruningRule]] extended with bbox ranges:
 * Spark's own [[FileSourceStrategy]] plans the scan (the ranges stay in its
 * PushedFilters and data filters, so row-group pruning is unchanged), and
 * the ranges are then dropped from the FilterExec above it. That leaves no
 * window constant in the generated code, so all windows over a table share
 * one compiled class. Plans without a covered spatial conjunct fall through
 * (Nil) before FileSourceStrategy is called.
 */
class BboxScanStrategy extends SparkStrategy {

  import BboxPruningRule.deriveRanges

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, filters, rel: LogicalRelation)
        if filters.exists(deriveRanges(_, rel.output).nonEmpty) =>
      FileSourceStrategy(plan).map(_.transformUp {
        case f @ FilterExec(cond, child) =>
          val conjuncts = SpatialJoinStrategy.splitConjuncts(cond)
          val derived = conjuncts.flatMap(deriveRanges(_, child.output))
          if (derived.isEmpty) f
          else FilterExec(conjuncts.filterNot(c => derived.exists(_.semanticEquals(c))).reduce(And), child)
      })
    case _ => Nil
  }
}
