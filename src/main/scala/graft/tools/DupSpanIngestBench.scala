package graft.tools

import graft.Bench
import graft.streaming.IncrementalDupSpans

/** Measured evidence for the IncrementalDupSpans Δ-cost claim: fold a
  * fixed-size batch repeatedly and report each fold's wall — per-batch
  * cost must stay ~flat as accumulated state grows (probes are
  * partition-pruned to the batch's touched gram buckets; revisions
  * touch only holders of batch grams), never a corpus rescan.
  *
  * Every 10th doc plants a near-copy of an EARLIER doc (same leading
  * 7-token window), so each batch genuinely revises old rows — the
  * expensive path, not the append-only fast path.
  *
  * Usage: runMain graft.tools.DupSpanIngestBench [nBatches] [batchSize]
  */
object DupSpanIngestBench {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(15)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(2000)
    val spark = Bench.session(Bench.cpus)
    import spark.implicits._

    val statePath = java.nio.file.Files
      .createTempDirectory("graft-dspan-bench").toString
    // Heaps-style growing vocabulary; every 10th doc twins the doc one
    // FULL BATCH earlier (id - batchSize), so each fold genuinely
    // revises ~batchSize/10 STORED rows — the expensive
    // old-row-revision path, not just the append path (an in-batch
    // twin would be marked duplicated within the same fold and never
    // exercise the stored-row revision).
    def text(id: Long): String = {
      val base = s"w${id}a w${id}b w${id}c w${id}d w${id}e w${id}f " +
        s"c${id % 97} c${id % 31}"
      if (id % 10 == 0 && id >= batchSize) {
        val t = id - batchSize + 1 // base-form doc (t % 10 == 1)
        s"w${t}a w${t}b w${t}c w${t}d w${t}e tail${id}"
      } else base
    }
    def batch(b: Int) = (0 until batchSize).map { i =>
      val id = b.toLong * batchSize + i; (id, text(id))
    }.toDF("doc_id", "text")

    val walls = (0 until nBatches).map { b =>
      val t0 = System.nanoTime()
      IncrementalDupSpans.processBatch(batch(b), "doc_id", "text", statePath)
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[dspan] batch $b%2d: $w%.2f s  (${(b + 1) * batchSize} docs in)")
      w
    }
    val n = IncrementalDupSpans.stats(spark, statePath).get.count()
    val dup = IncrementalDupSpans.stats(spark, statePath).get
      .filter("covered_tokens > 0").count()
    val firstHalf = walls.slice(1, nBatches / 2).sum / (nBatches / 2 - 1)
    val secondHalf = walls.drop(nBatches / 2).sum / (nBatches - nBatches / 2)
    println(f"[dspan] per-batch wall: first-half avg $firstHalf%.2f s, " +
      f"second-half avg $secondHalf%.2f s (flat ⇒ Δ-bounded); " +
      f"$n rows maintained, $dup with coverage")
    spark.stop()
  }
}
