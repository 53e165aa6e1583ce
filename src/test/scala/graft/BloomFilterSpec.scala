package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.bloom

class BloomFilterSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._
  import spark.implicits._

  test("no false negatives; fp rate near target; codegen participation") {
    val n = 5000L
    val members = spark.range(n).select(xxhash64(col("id")).as("h")).cache()
    val mBits = bloom.bitsFor(n, 0.01)
    val k = bloom.probesFor(mBits, n)
    val bits = bloom.build(members, "h", mBits, k)

    // every member probes true — bloom filters cannot false-negative
    val misses = members.filter(!bloom.mightContain(col("h"), bits, k)).count()
    assert(misses == 0L, s"$misses false negatives")

    // non-members (disjoint id range) false-positive near the design
    // rate — generous 3x bound to keep the test deterministic-ish
    val nonMembers = spark.range(1000000, 1020000)
      .select(xxhash64(col("id")).as("h"))
    val fps = nonMembers.filter(bloom.mightContain(col("h"), bits, k)).count()
    val rate = fps.toDouble / 20000
    assert(rate < 0.03, s"fp rate $rate vs design 0.01 (m=$mBits k=$k)")
    members.unpersist()

    // the probe rides whole-stage codegen on a real scan
    val exec = graft.sources.TestData.table(spark, sf, "documents")
      .select(xxhash64(col("doc_id")).as("h"))
      .filter(bloom.mightContain(col("h"), bits, k))
      .queryExecution.executedPlan
    val inCodegen = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.toString.toLowerCase.contains("bloommightcontain"))
    assert(inCodegen, exec.toString)
  }

  test("interpreted eval equals codegen probe on the same bits") {
    val bits = new Array[Byte](128) // 1024 bits
    val hs = Seq(42L, -7L, Long.MaxValue, Long.MinValue, 123456789L)
    hs.foreach(h => org.apache.spark.sql.graft.BloomMightContain.set(h, bits, 5))
    val df = (hs ++ Seq(1L, 2L, 3L)).toDF("h")
    val got = df.select(col("h"),
      bloom.mightContain(col("h"), bits, 5).as("c")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    hs.foreach(h => assert(got(h), s"member $h missing"))
    // driver-side kernel agrees with the distributed evaluation
    got.foreach { case (h, c) =>
      assert(c == org.apache.spark.sql.graft.BloomMightContain.probe(h, bits, 5))
    }
  }

  test("d09 bloom decontamination equals the exact d04 counts") {
    val d04 = Queries.all("d04_decontaminate")(spark, sf)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).sorted
    val d09 = Queries.all("d09_decontaminate_bloom")(spark, sf)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).sorted
    assert(d04.nonEmpty, "empty contamination baseline")
    assert(d04.sameElements(d09),
      s"bloom path diverged: ${d04.length} vs ${d09.length} rows")
  }
}
