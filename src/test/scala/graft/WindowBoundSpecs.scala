package graft

import graft.queries.QueryCatalog
import org.apache.spark.sql.catalyst.plans.logical._

/** Unpartitioned-window audit (the `WindowExec: No Partition Defined`
  * warning class): a `Window.orderBy` with no partitionSpec executes on
  * ONE task, so it is only acceptable when its input cardinality is
  * bounded by construction — post-limit (top-k re-rank) or
  * post-aggregate (distinct multiplicities, band totals, per-day
  * series), never raw rows. Each such site in the operators carries a
  * comment arguing its bound; this spec PINS those arguments in-plan
  * for every declared query: walk the optimized logical plan, and for
  * every unpartitioned Window require a Limit or Aggregate on every
  * leaf-ward path below it (joins/unions of bounded inputs stay
  * bounded; a Generate/explode voids the bound — row counts amplify).
  *
  * One unbounded feed at 100 TB is a driver-sized single-task sort;
  * a regression that restructures a top-k to rank before its limit, or
  * feeds an operator raw rows where it expects an aggregated series
  * (TimeSeries.rollingCorr's contract), fails here instead of melting
  * a cluster.
  */
class WindowBoundSpecs extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Input to an unpartitioned window is cardinality-bounded by
    * construction: every leaf-ward path passes a Limit (constant bound)
    * or an Aggregate (cardinality collapse to |distinct keys| —
    * the documented post-agg class). Conservative everywhere else:
    * Generate (explode) amplifies rows and voids a bound below it;
    * leaves are unbounded.
    *
    * Known blind spot: an Aggregate counts as a bound whatever its
    * grouping keys, so one grouped by a near-unique key (e.g.
    * `groupBy(doc_id)`) passes this audit while collapsing nothing —
    * its output is as large as its input. The audit cannot tell key
    * cardinality from the plan; such a site's bound rests on the
    * argument in its operator comment, not on this check.
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case _: Aggregate => true
    case _: Distinct => true
    case _: Generate => false
    case l: LeafNode => false
    case other => other.children.nonEmpty && other.children.forall(bounded)
  }

  private def violations(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"unpartitioned Window over unbounded input:\n$w"
    }

  test("every declared query's unpartitioned windows run over limit/agg-bounded input") {
    val bad = QueryCatalog.all.flatMap { q =>
      val df = q.fn(spark, dir)
      val vs = violations(df.queryExecution.optimizedPlan)
      if (vs.isEmpty) Nil else Seq(s"${q.name}: ${vs.mkString("\n")}")
    }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("the audit detects an unbounded unpartitioned window (fixture)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val raw = spark.range(100).toDF("v")
    val unbounded = raw.withColumn("rk", row_number().over(W.orderBy(col("v"))))
    assert(violations(unbounded.queryExecution.optimizedPlan).nonEmpty)
    val post = raw.limit(5).withColumn("rk", row_number().over(W.orderBy(col("v"))))
    assert(violations(post.queryExecution.optimizedPlan).isEmpty)
    val agg = raw.groupBy(col("v") % 3).count()
      .withColumn("rk", row_number().over(W.orderBy(col("count"))))
    assert(violations(agg.queryExecution.optimizedPlan).isEmpty)
  }
}
