package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** FRP-signal surface (the reference's calculator exercises):
  * derived values declared as expressions over base columns and
  * other derived values, evaluated in dependency order with cycle
  * detection.
  *
  * Spark-first: each signal becomes a `withColumn` in topological
  * order, so Catalyst sees one flat projection (collapsed by
  * CollapseProject) — "reactive recomputation" is just lazy plan
  * evaluation; changing an upstream table re-derives everything on
  * the next action, which is exactly signal semantics over batch
  * data.
  */
object Signals {
  final case class CyclicSignalException(cycle: Seq[String])
    extends IllegalArgumentException(
      s"cyclic signal dependency: ${cycle.mkString(" -> ")}")

  /** Column names referenced by a SQL expression, restricted to the
    * candidate signal names (dependency edges). Parses with the real
    * Catalyst parser and collects attribute references only, so
    * function names (`abs(x)`) and words inside string literals never
    * create spurious dependency edges. */
  private def refs(sql: String, candidates: Set[String]): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    val parsed = CatalystSqlParser.parseExpression(sql)
    // lambda parameters (`x` in `filter(arr, x -> x > 0)`) also parse
    // as UnresolvedAttribute in the body; a signal sharing that name
    // must not gain a dependency edge, so subtract bound names first
    val lambdaBound = parsed.collect {
      case lf: LambdaFunction => lf.arguments.collect {
        case v: UnresolvedNamedLambdaVariable => v.nameParts.last
      }
    }.flatten.toSet
    parsed.collect {
      case a: UnresolvedAttribute => a.nameParts.last
    }.toSet.diff(lambdaBound).intersect(candidates)
  }

  /** Topological order of signal definitions; throws on cycles with
    * the offending path (the reference's calculator marks cyclic
    * cells as errors). */
  def order(defs: Map[String, String]): Seq[String] = {
    // self-reference counts as a cycle (calculator semantics)
    val deps = defs.map { case (k, v) => k -> refs(v, defs.keySet) }
    val visited = scala.collection.mutable.Map[String, Int]() // 1=active 2=done
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def visit(n: String, path: List[String]): Unit = visited.get(n) match {
      case Some(2) => ()
      case Some(1) => throw CyclicSignalException((n :: path).reverse)
      case _ =>
        visited(n) = 1
        deps(n).toSeq.sorted.foreach(visit(_, n :: path))
        visited(n) = 2
        out += n
    }
    defs.keys.toSeq.sorted.foreach(visit(_, Nil))
    out.toSeq
  }

  /** Attach derived signals to a DataFrame in dependency order. */
  def derive(df: DataFrame, defs: Map[String, String]): DataFrame =
    order(defs).foldLeft(df)((d, name) => d.withColumn(name, expr(defs(name))))
}
