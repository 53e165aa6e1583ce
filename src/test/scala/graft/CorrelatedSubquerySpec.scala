package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correlated-subquery family (q65-q67) is only scale-correct if
  * Catalyst decorrelates: a per-row subquery re-executes once per outer
  * row (quadratic at 100 TB), while the decorrelated form is a fixed
  * number of key-partitioned hash joins. These tests pin the physical
  * plan shape, not just the answers (the oracle checks those).
  */
class CorrelatedSubquerySpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  private def plan(name: String): String =
    Queries.all(name)(spark, sf).queryExecution.executedPlan.toString

  test("q65: NOT EXISTS decorrelates to an anti join, threshold is one scalar") {
    val p = plan("q65_uncontacted_customers")
    assert(p.contains("LeftAnti"), s"expected anti join in:\n$p")
    // the global threshold must not appear as a correlated (per-row)
    // subquery — only uncorrelated scalar subqueries may remain
    assert(!p.contains("InSubquery"), s"unexpected per-row subquery in:\n$p")
  }

  test("q66: correlated scalar aggregates decorrelate to a per-part aggregate join") {
    val p = plan("q66_small_quantity_revenue")
    // decorrelation yields an aggregate on the correlation key joined
    // back to the fact — visible as a HashAggregate + an equi hash join
    assert(p.contains("HashAggregate"), s"expected aggregate in:\n$p")
    assert(p.contains("Join") || p.contains("join"), s"expected join in:\n$p")
    assert(!p.toLowerCase.contains("cartesian"),
      s"decorrelated plan must not be a cartesian product:\n$p")
  }

  test("q67: EXISTS/NOT EXISTS become semi and anti joins on the order key") {
    val p = plan("q67_sole_returned_supplier")
    assert(p.contains("LeftSemi"), s"expected semi join in:\n$p")
    assert(p.contains("LeftAnti"), s"expected anti join in:\n$p")
  }

  test("q68: IN + HAVING subquery plans as a semi join, no per-row lookup") {
    val p = plan("q68_large_orders")
    assert(p.contains("LeftSemi"), s"expected semi join in:\n$p")
    assert(!p.contains("InSubquery"), s"unexpected per-row subquery in:\n$p")
  }

  test("q65-q67 agree with direct two-pass formulations") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.TestData.table(spark, sf, "lineitem")

    // q66 cross-check: explicit aggregate + join formulation
    val qc = round(col("l_quantity") * 100).cast("long")
    val stats = li.groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("n"), sum(qc).as("qsum"))
    val direct = li.join(stats, col("l_partkey") === col("k"))
      .filter(qc * 5 * col("n") < col("qsum"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_small"))
    val viaSql = Queries.all("q66_small_quantity_revenue")(spark, sf)
      .select(col("partkey"), col("n_small"))
    assert(direct.select(col("l_partkey").as("partkey"), col("n_small"))
      .except(viaSql).isEmpty && viaSql.except(
        direct.select(col("l_partkey").as("partkey"), col("n_small"))).isEmpty)
  }

  test("q58: keyset pagination stays TakeOrderedAndProject (no global sort)") {
    // The whole point of q58 is its plan shape: a keyset page at 100 TB
    // must be a filter-pushdown + per-partition top-k merge, never a
    // full global sort of the fact table feeding a limit. Cheap
    // insurance that catalog growth or an optimizer change doesn't
    // silently regress the one query that exists to pin this.
    val p = plan("q58_keyset_page")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$p")
    assert(!p.contains("GlobalLimit"),
      s"limit must fold into the top-k operator, not a global sort:\n$p")
  }
}
