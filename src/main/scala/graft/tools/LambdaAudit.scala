package graft.tools

import org.apache.spark.sql.SparkSession

/** Sweep every registered query's EXECUTED plan for higher-order-function
  * emissions (`lambdafunction`) and report where each sits relative to
  * whole-stage codegen: `runMain graft.tools.LambdaAudit [sfDir]`.
  *
  * Why (r15 verdict #5): HOFs carry no doGenCode, so one lambda in a
  * projection drops the WHOLE projection out of whole-stage codegen and
  * onto the interpreted per-row path — the exact mechanism behind r14's
  * t02-family regression (countIn's `size(filter(...))`, since replaced
  * by the native CountInSet). This audit is the round's measurement pass:
  * every surviving emission is either on an AGGREGATED input (rows
  * already reduced by a group-by, so per-row cost is per-GROUP), a cold
  * path (driver-side bounded work), or a nativization candidate.
  *
  * Output, one line per query with any lambda in the executed plan:
  *   <query>  lambdas=<n>  inWSCG=<m>  [worstFragment]
  * where inWSCG counts lambdas appearing inside a WholeStageCodegen
  * subtree — those are the suspicious ones (a codegen'd stage that FEEDS
  * an interpreted projection is normal; a lambda in the middle of a hot
  * per-row projection is not). Plan-only: nothing executes.
  */
object LambdaAudit {

  /** One audited query: lambda-bearing plan nodes, how many sit on the
    * raw per-row path, and a where-summary. */
  case class Audit(query: String, nodes: Int, hot: Int, where: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = audit(spark, sfDir)
    println(f"${"query"}%-34s nodes hot  where")
    rows.foreach(a => println(f"${a.query}%-34s ${a.nodes}%5d ${a.hot}%4d  ${a.where}"))
    println(s"[lambda-audit] ${rows.size} of ${graft.SparkEntry.queries.size} " +
      s"queries carry a lambda; ${rows.count(_.hot > 0)} have a RAW-ROW emission")
    spark.stop()
  }

  /** Shared by the CLI and PlanAuditSpec's regression pin. */
  def audit(spark: SparkSession, sfDir: String): Seq[Audit] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // the OPTIMIZED LOGICAL plan: the executed plan hides its tree
    // under AdaptiveSparkPlanExec (AQE exposes no children to collect),
    // and hot/cold is a logical property anyway
    def hasLambda(p: LogicalPlan): Boolean =
      p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction]))
    // a lambda node is HOT when nothing below it has reduced the row
    // stream: no aggregate, window, join or limit between it and the
    // scan — it executes once per RAW input row, interpreted
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: Window | _: Join | _: GlobalLimit |
           _: LocalLimit => true
      case _ => false
    }
    def subtreeReduced(p: LogicalPlan): Boolean =
      p.children.exists(c => reduced(c) || subtreeReduced(c))
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.optimizedPlan
          val nodes = plan.collect { case p if hasLambda(p) => p }
          if (nodes.isEmpty) None
          else {
            val hot = nodes.count(n => !subtreeReduced(n))
            val where = nodes.map(n =>
              s"${n.nodeName}${if (subtreeReduced(n)) "/post-reduce" else "/RAW-ROW"}")
              .groupBy(identity).map { case (k, v) => s"${v.size}x$k" }
              .toSeq.sorted.mkString(", ")
            Some(Audit(name, nodes.size, hot, where))
          }
        } catch {
          case e: Throwable =>
            Some(Audit(s"$name [PLAN-ERROR ${e.getClass.getSimpleName}]", -1, -1, ""))
        }
    }
    rows
  }
}
