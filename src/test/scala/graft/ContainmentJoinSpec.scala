package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sources.TestData
import graft.text.TextFunctions

/** Exact set-containment join (overlap coefficient ≥ t): brute-force
  * equivalence, the asymmetric blind spot of jaccard it exists for,
  * skew-split identity, and the real-corpus gate. */
class ContainmentJoinSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def brute(docs: org.apache.spark.sql.DataFrame, t: Double,
                    partitioned: Boolean, minSize: Int = 1) = {
    val f = docs.filter(size(col("w")) >= minSize)
    val x = f.alias("x"); val y = f.alias("y")
    val cond = if (partitioned)
      col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id")
    else col("x.doc_id") < col("y.doc_id")
    x.join(y, cond)
      .withColumn("containment",
        size(array_intersect(col("x.w"), col("y.w"))).cast("double") /
          least(size(col("x.w")), size(col("y.w"))))
      .filter(col("containment") >= t)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
              round(col("containment"), 4).as("containment"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("containment join == brute-force all-pairs at three thresholds") {
    // overlapping vocab slices with VARIED lengths (6..30 tokens) so
    // asymmetric pairs (short ⊂ long) actually occur
    val docs = ((0 until 100).map { i =>
      val n = 6 + (i % 5) * 6
      val toks = (0 until n).map(j => s"w${(i % 9 + j) % 40}")
      (i.toLong, s"src${i % 2}", toks.distinct)
    } ++ Seq(
      (200L, "src0", Seq("w1", "w2")),             // tiny docs
      (201L, "src0", Seq("w1", "w2", "w999")),
      (202L, "src1", Seq.empty[String]),            // empty: never pairs
      (203L, "src1", Seq("lonely")))).toDF("doc_id", "source", "w").cache()

    for (t <- Seq(0.6, 0.8, 1.0)) {
      val expect = brute(docs, t, partitioned = true)
      val got = Dedup.containmentJoin(docs, "doc_id", "w", t, Seq("source"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expect,
        s"t=$t: missed ${(expect -- got).size}, extra ${(got -- expect).size}")
      assert(expect.nonEmpty, s"t=$t: degenerate corpus")
      // index-chunk skew-split path: tiny cap ⇒ every bucket chunks —
      // the pair set must be IDENTICAL
      val split = Dedup.containmentJoin(docs, "doc_id", "w", t,
          Seq("source"), bucketCap = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(split == expect,
        s"t=$t split: missed ${(expect -- split).size}, extra ${(split -- expect).size}")
    }
    docs.unpersist()
  }

  test("sketchK routes fast vs slow path without changing the pair set") {
    // the r14 default (32) sends whole-set sketches down the in-bucket
    // fast path; this pins BOTH extremes to brute force on one corpus:
    // k=4 truncates every sketch (all pairs slow-path: dedup exchange +
    // array re-join), k=64 covers every set (all pairs fast-path)
    val docs = ((0 until 80).map { i =>
      val n = 5 + (i % 7) * 7 // 5..47 tokens: straddles any practical k
      (i.toLong, s"src${i % 2}",
        (0 until n).map(j => s"w${(i % 11 + j) % 60}").distinct)
    }).toDF("doc_id", "source", "w").cache()
    val t = 0.8
    val expect = brute(docs, t, partitioned = false)
    for (k <- Seq(4, 64)) {
      val got = Dedup.containmentJoin(docs, "doc_id", "w", t, Nil, sketchK = k)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expect,
        s"k=$k: missed ${(expect -- got).size}, extra ${(got -- expect).size}")
    }
    assert(expect.nonEmpty, "degenerate corpus")
    docs.unpersist()
  }

  test("finds the excerpt pairs jaccard provably misses") {
    // 6-token excerpt of a 60-token doc: containment 1.0, jaccard 0.1
    val long = (0 until 60).map(j => s"tok$j")
    val docs = Seq(
      (1L, long),
      (2L, long.take(6)),               // pure excerpt
      (3L, long.slice(30, 40) :+ "x"),  // 10-of-11 ⊂ long: containment 10/11
      (4L, Seq("a", "b", "c", "d"))     // unrelated
    ).toDF("doc_id", "w").withColumn("source", lit("s"))

    val cont = Dedup.containmentJoin(docs, "doc_id", "w", 0.9, Nil)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont.contains((1L, 2L, 1.0)))
    assert(cont.contains((1L, 3L, 0.9091)))
    assert(!cont.exists(p => p._1 == 4L || p._2 == 4L))
    // the symmetric join at ANY threshold above the size ratio misses both
    val jac = Dedup.jaccardJoinExact(docs, "doc_id", "w", 0.7, Nil)
      .as[(Long, Long, Double)].collect().toSet
    assert(!jac.exists(p => p._1 == 1L), "jaccard should miss the excerpts")
  }

  test("minSize drops trivially-contained tiny docs from both roles") {
    val docs = Seq(
      (1L, (0 until 20).map(j => s"t$j")),
      (2L, Seq("t0")),                   // 1-token: contained in anything
      (3L, (0 until 20).map(j => s"t$j"))
    ).toDF("doc_id", "w")
    val all = Dedup.containmentJoin(docs, "doc_id", "w", 1.0, Nil)
      .as[(Long, Long, Double)].collect().toSet
    assert(all == Set((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0)))
    val gated = Dedup.containmentJoin(docs, "doc_id", "w", 1.0, Nil, minSize = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(gated == Set((1L, 3L, 1.0)))
  }

  test("cross-corpus containment == brute-force cross product, even with colliding ids") {
    // left/right share id values DELIBERATELY — the side tag, not the
    // id, keeps the corpora apart; asymmetric sizes on both sides so
    // the smaller partner is sometimes left, sometimes right
    val mkDocs = (off: Int, scale: Int) => (0 until 50).map { i =>
      val n = (3 + (i + off) % 6) * scale
      (i.toLong, (0 until n).map(j => s"w${((i + off) % 7 + j) % 45}").distinct)
    }
    val left = mkDocs(0, 3).toDF("doc_id", "w").cache()
    val right = (mkDocs(2, 1) ++ Seq(
      (300L, (0 until 9).map(j => s"w$j")),   // ⊂ several long left docs
      (301L, Seq("z1", "z2", "z3")))).toDF("doc_id", "w").cache()
    // the tagged form reads both corpora from ONE frame, so ids are
    // made distinct there; the side predicate is NULL on every fourth
    // left row, which the tagged form counts as left
    val side = col("right_side")
    val tagged = left.withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("right_side", when(col("doc_id") % 4 =!= 0, lit(false)))
      .unionByName(right.withColumn("right_side", lit(true))).cache()

    for (t <- Seq(0.7, 0.9)) {
      val x = left.alias("x"); val y = right.alias("y")
      val expect = x.join(y)
        .withColumn("containment",
          size(array_intersect(col("x.w"), col("y.w"))).cast("double") /
            least(size(col("x.w")), size(col("y.w"))))
        .filter(col("containment") >= t)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
                round(col("containment"), 4).as("containment"))
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.containmentJoinAcross(left, right, "doc_id", "w", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expect,
        s"t=$t: missed ${(expect -- got).size}, extra ${(got -- expect).size}")
      assert(expect.nonEmpty, s"t=$t: degenerate corpus")
      val split = Dedup.containmentJoinAcross(left, right, "doc_id", "w", t,
          bucketCap = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(split == expect, s"t=$t split diverged")
      val twoFrame = Dedup.containmentJoinAcross(
          tagged.filter(!coalesce(side, lit(false))), tagged.filter(side),
          "doc_id", "w", t)
        .as[(Long, Long, Double)].collect().toSet
      val oneFrame = Dedup.containmentJoinAcrossTagged(tagged, "doc_id", "w",
          side, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(oneFrame == twoFrame, s"t=$t tagged: missed " +
        s"${(twoFrame -- oneFrame).size}, extra ${(oneFrame -- twoFrame).size}")
      assert(twoFrame.exists(_._1 % 4 == 0),
        s"t=$t tagged: no pair has a NULL-predicate left row")
    }
    left.unpersist(); right.unpersist(); tagged.unpersist()
  }

  test("real corpus: containment join == brute force, and is a strict superset signal vs jaccard") {
    val docs = TestData.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"),
        array_distinct(TextFunctions.tokens(col("text"))).as("w"))
      .cache()
    val t = 0.9
    val expect = brute(docs, t, partitioned = true)
    val got = Dedup.containmentJoin(docs, "doc_id", "w", t, Seq("source"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"missed ${(expect -- got).size}, extra ${(got -- expect).size}")
    assert(expect.nonEmpty, "degenerate corpus: no containment pairs")
    // the asymmetric axis is real on this corpus: some containment
    // pairs sit below the symmetric threshold
    val jac = Dedup.jaccardJoinExact(docs, "doc_id", "w", 0.7, Seq("source"))
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(got.exists(p => !jac.contains((p._1, p._2))),
      "every containment pair was jaccard-visible — corpus lost its point")
    docs.unpersist()
  }
}
