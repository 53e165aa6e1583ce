package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench
import graft.streaming.IncrementalDsir

/** Measured evidence for the IncrementalDsir Δ-cost claim: fold a
  * fixed-size batch repeatedly and report each fold's wall — per-batch
  * cost must stay ~flat as accumulated state grows (the doc-bucket /
  * feature-bucket pruned probes), with the full-corpus cost paid only
  * by the explicit retrain, reported separately.
  *
  * Usage: runMain graft.tools.DsirIngestBench [nBatches] [batchSize]
  */
object DsirIngestBench {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(20)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(2000)
    val spark = Bench.session(Bench.cpus)
    import spark.implicits._

    val statePath = java.nio.file.Files
      .createTempDirectory("graft-dsir-bench").toString
    // every 10th doc target; 6 content tokens + 2 shared stopword-ish
    // tokens per doc, vocabulary growing with the corpus (Heaps-style)
    def batch(b: Int) = (0 until batchSize).map { i =>
      val id = b.toLong * batchSize + i
      (id, s"the a w${id}x w${id}y w${id}z c${id % 97} c${id % 31} k${id % 7}",
        if (id % 10 == 0) "t" else "r")
    }.toDF("doc_id", "text", "source")

    var total = 0L
    val walls = (0 until nBatches).map { b =>
      val t0 = System.nanoTime()
      IncrementalDsir.processBatch(batch(b), "doc_id", "text",
        col("source") === "t", statePath)
      val w = (System.nanoTime() - t0) / 1e9
      total += batchSize
      println(f"[dsir] batch $b%2d: $w%.2f s  (${total.toDouble} docs in)")
      w
    }
    val t0 = System.nanoTime()
    IncrementalDsir.retrain(spark, statePath, "doc_id")
    val rw = (System.nanoTime() - t0) / 1e9
    val n = IncrementalDsir.scores(spark, statePath).get.count()
    val firstHalf = walls.slice(1, nBatches / 2).sum / (nBatches / 2 - 1)
    val secondHalf = walls.drop(nBatches / 2).sum / (nBatches - nBatches / 2)
    println(f"[dsir] per-batch wall: first-half avg $firstHalf%.2f s, " +
      f"second-half avg $secondHalf%.2f s (flat ⇒ Δ-bounded)")
    println(f"[dsir] retrain over ${nBatches * batchSize} docs: $rw%.2f s " +
      f"($n scored); sustained fold ${
        (nBatches * batchSize / walls.sum).toInt} docs/s")
    spark.stop()
  }
}
