package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard for the multi-way join queries: at
  * testdata scale the fact must stream through BroadcastHashJoins with
  * NO quadratic join and no fact-side pre-aggregation shuffle beyond
  * the group-by exchange — the shape that survives a 100× scale-up
  * (dims flip to shuffled hash joins only when AQE sizes say so). */
class JoinPlanShapeSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  private def executed(name: String): SparkPlan = {
    val df = Queries.all(name)(spark, sf)
    df.count() // let AQE finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("q53/q54/q55: broadcast chains, no quadratic joins, bounded shuffles") {
    Seq("q53_regional_revenue", "q54_shipping_priority",
        "q55_returned_revenue").foreach { name =>
      val plan = executed(name)
      val quadratic = plan.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(quadratic.isEmpty, s"$name planned a quadratic join:\n$plan")
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$name lost its broadcast chain:\n$plan")
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size <= 2,
        s"$name shuffles more than agg+order (${shuffles.size}):\n$plan")
    }
  }

  test("j01: the vocab ranking runs distributed — no single-partition Window") {
    import org.apache.spark.sql.functions._
    val t = graft.sources.TestData.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        array_distinct(graft.text.TextFunctions.tokens(col("text"))).as("w"))
    val df = graft.dedup.Dedup.jaccardJoinExact(t, "doc_id", "w", 0.7, Seq("source"))
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"vocabulary ranking funnels through one task:\n$plan")
  }

  test("m04/d13: LSH cosine joins plan no quadratic join") {
    // the cross-table retrieval/decontamination queries must stay
    // bucket-join shaped end to end — a CartesianProduct or
    // BroadcastNestedLoopJoin here means the LSH candidate path
    // collapsed to all-pairs and would never survive a 100× scale-up
    Seq("m04_embed_mutation_source", "d13_embed_decontaminate")
      .foreach { name =>
        val quadratic = executed(name).collect {
          case j: BroadcastNestedLoopJoinExec => j
          case j: CartesianProductExec => j
        }
        assert(quadratic.isEmpty, s"$name planned a quadratic join")
      }
  }

  test("j03/d16: containment joins plan no quadratic join, distributed vocab ranking") {
    Seq("j03_containment_pairs", "d16_containment_decontaminate")
      .foreach { name =>
        val plan = executed(name)
        val quadratic = plan.collect {
          case j: BroadcastNestedLoopJoinExec => j
          case j: CartesianProductExec => j
        }
        assert(quadratic.isEmpty, s"$name planned a quadratic join:\n$plan")
        val globalWindows = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        assert(globalWindows.isEmpty,
          s"$name vocab ranking funnels through one task:\n$plan")
      }
  }

  test("q55: the returnflag filter reaches the lineitem scan") {
    val scans = executed("q55_returned_revenue").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(_.contains("l_returnflag"))),
      "returnflag filter not pushed to the parquet scan")
  }
}
