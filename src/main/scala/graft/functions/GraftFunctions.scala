package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Cast, Descending, Expression, ExpressionInfo, SortOrder}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}

import graft.plans.{TopKPerKey, TopKPerKeyStrategy}

/** The engine's custom-function surface.
  *
  * Two entry points, mirroring how Spark itself exposes functions:
  *   - [[GraftFunctions.vector_dot]] — the `Column` (DataFrame) API.
  *     Wraps the Catalyst expression directly, so it works on ANY
  *     session (no registry mutation, driver-supplied sessions
  *     included).
  *   - `vector_dot(a, b)` in SQL — on sessions built with
  *     `.withExtensions(new GraftExtensions)` /
  *     `spark.sql.extensions=graft.functions.GraftExtensions` (the
  *     blessed [[SparkSessionExtensions]] path), or after an imperative
  *     [[GraftExtensions.registerSql]] on an existing session.
  */
object GraftFunctions {

  private def widen(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case _ => Cast(e, ArrayType(DoubleType))
  }

  /** Fused codegen'd dot product of two vector columns; `array<float>`
    * widens exactly to `array<double>`. See [[VectorDot]].
    */
  def vector_dot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(widen(Bridge.expression(a)), widen(Bridge.expression(b))))

  private[functions] val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"vector_dot expects 2 arguments, got ${exprs.length}")
      VectorDot(widen(exprs.head), widen(exprs(1)))
    })
}

/** Whole-operator surface built on custom logical plans
  * ([[graft.plans.TopKPerKey]]).
  */
object GraftOps {

  /** Native top-k per key (sort-free bounded-heap operator — see
    * [[graft.plans.TopKPerKey]] for the plan rationale). `order` entries
    * are (columnName, descending). Columns resolve by name
    * (case-insensitive) against `df`. The planner strategy is added to
    * the session idempotently, so this works on driver-supplied sessions
    * built without [[GraftExtensions]].
    */
  def topKPerKey(
      df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    Bridge.addStrategy(spark, TopKPerKeyStrategy)
    val child = Bridge.analyzed(df)
    def attr(name: String): Attribute =
      child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in ${child.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    Bridge.dataFrame(spark, TopKPerKey(k, keys.map(attr), sortOrders, child))
  }
}

/** Registers graft's custom functions and planner strategies for the SQL/
  * session surface — use via
  * the session builder's `withExtensions(new GraftExtensions)` or the
  * `spark.sql.extensions` conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.description)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
  }
}

object GraftExtensions {
  /** Imperative fallback for sessions built without the extension (e.g.
    * handed in by an external driver): registers `vector_dot` into the
    * session's own function registry. Idempotent (re-registration
    * replaces the identical builder).
    */
  def registerSql(spark: SparkSession): Unit = {
    val (id, info, builder) = GraftFunctions.description
    Bridge.registerFunction(spark, id, info, builder)
  }
}
