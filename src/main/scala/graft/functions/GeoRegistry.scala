package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Registers every st_* expression in the session FunctionRegistry so the
 * whole surface is callable from SQL (`selectExpr("st_area(geometry)")`) and
 * from the DSL via `functions.call_function` (see [[st]]).
 *
 * Spark analog of the reference's module registration
 * (py-geopolars/src/api.rs:13-37, one add_function per kernel).
 */
object GeoRegistry {

  private[functions] def builderFor(name: String): Seq[Expression] => Expression = {
    if (NestedKernels.kernels.contains(name)) { exprs =>
      require(exprs.length == 1, s"$name expects 1 argument, got ${exprs.length}")
      NestedGeomExpr(name, exprs.head)
    } else if (GeomKernels.rawUnary.contains(name)) { exprs =>
      require(exprs.length == 1, s"$name expects 1 argument, got ${exprs.length}")
      GeomRawUnaryExpr(name, exprs.head)
    } else if (GeomKernels.unary.contains(name)) { exprs =>
      require(exprs.length == 1, s"$name expects 1 argument, got ${exprs.length}")
      GeomUnaryExpr(name, exprs.head)
    } else if (GeomKernels.binary.contains(name)) { exprs =>
      require(exprs.length == 2, s"$name expects 2 arguments, got ${exprs.length}")
      GeomBinaryExpr(name, exprs.head, exprs(1))
    } else if (GeomKernels.withArgs.contains(name)) { exprs =>
      val ar = GeomKernels.withArgs(name).arities
      require(exprs.nonEmpty && ar.contains(exprs.length - 1),
        s"$name expects geometry + ${ar.mkString("/")} args, got ${exprs.length}")
      GeomArgsExpr(name, exprs)
    } else { exprs =>
      val ar = GeomKernels.constructors(name).arities
      require(ar.contains(exprs.length), s"$name expects ${ar.mkString("/")} args, got ${exprs.length}")
      // numeric constructors take doubles: insert casts at registration so
      // SQL integer/decimal literals hit the unboxed codegen fast path
      val cast =
        if (name == "st_point" || name == "st_makeenvelope")
          exprs.map(e => if (e.dataType == org.apache.spark.sql.types.DoubleType) e
                         else org.apache.spark.sql.catalyst.expressions.Cast(e, org.apache.spark.sql.types.DoubleType))
        else exprs
      GeomConstructorExpr(name, cast)
    }
  }

  /** Imperative registration on an existing session (tests, Verify, Bench).
    * Idempotent per session: re-registering would only emit a WARN per
    * function per call (Bench calls this once per query). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def missing(name: String): Boolean =
      !registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    (GeomKernels.allNames ++ NestedKernels.names).filter(missing).foreach { name =>
      registry.createOrReplaceTempFunction(name, builderFor(name), "built-in")
    }
    GeomAggregates.names.filter(missing).foreach { name =>
      registry.createOrReplaceTempFunction(name, GeomAggregates.builderFor(name), "built-in")
    }
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.SpatialJoinStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new graft.plans.SpatialJoinStrategy(spark)
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.BboxScanStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new graft.plans.BboxScanStrategy
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.BboxPruningRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new graft.plans.BboxPruningRule
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.GridJoinRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new graft.plans.GridJoinRule
  }
}

/**
 * `spark.sql.extensions`-pluggable variant:
 * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GeomKernels.allNames ++ NestedKernels.names).foreach { name =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GeomKernels", null, name),
        GeoRegistry.builderFor(name)))
    }
    GeomAggregates.names.foreach { name =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GeomAggregates", null, name),
        GeomAggregates.builderFor(name)))
    }
    // spatial join planning: Join(cond = st_intersects|st_contains|st_within|
    // st_dwithin) => broadcast R-tree index join instead of BNLJ (SURVEY §4)
    ext.injectPlannerStrategy(session => new graft.plans.SpatialJoinStrategy(session))
    // spatial row-group pruning over GeoParquet bbox covering columns
    ext.injectOptimizerRule(_ => new graft.plans.BboxPruningRule)
    // ... enforced by the parquet reader only, not by the Filter above it
    ext.injectPlannerStrategy(_ => new graft.plans.BboxScanStrategy)
    // large-large spatial joins: grid-cell equi-join rewrite instead of BNLJ
    ext.injectOptimizerRule(_ => new graft.plans.GridJoinRule)
  }
}
