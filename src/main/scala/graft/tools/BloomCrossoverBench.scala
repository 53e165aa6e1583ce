package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench
import graft.dedup.Dedup

/** Dev measurement for the d04-vs-d09 crossover: exact decontamination
  * joins corpus grams against the benchmark gram set — fine while that
  * set broadcasts, a full corpus-gram shuffle once it doesn't. The
  * bloom form prefilters corpus grams scan-locally and only survivors
  * enter the verify join.
  *
  * The regime that matters: corpus ≫ benchmark, benchmark gram set
  * past broadcast size. Corpus is the ScaleBench ×N documents table
  * (run `ScaleBench <src> <factor>` once first); benchmark is the
  * sf0.1 documents; auto-broadcast is DISABLED (threshold -1) so the
  * bench gram set (~1.6 MB of xxhash64 longs) cannot broadcast at
  * all — the shape a multi-benchmark suite has at production size,
  * where the gram set is past any plausible threshold. The exact form
  * then shuffles EVERY corpus gram into the join; the bloom form
  * ships only survivors.
  *
  * Usage: runMain graft.tools.BloomCrossoverBench [corpusDir] [benchSf]
  */
object BloomCrossoverBench {
  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft-scale10")
    val benchSf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text")
    val bench = spark.read.parquet(s"$benchSf/documents.parquet")
      .select("doc_id", "text")
    println(s"[crossover] corpus=${corpus.count()} bench=${bench.count()} docs")

    // wall time on 32 local cores is fixed-cost-bound; the metric that
    // scales with cluster network is shuffle bytes, so account both
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffled.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    def time(what: String)(f: => Long): Unit = {
      for (pass <- 1 to 2) {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        shuffled.set(0L)
        val t0 = System.nanoTime()
        val n = f
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        println(f"[crossover] $what pass$pass: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, " +
          f"${shuffled.get / 1048576.0}%.1f MB shuffled)")
      }
    }
    time("exact join (d04 shape, hashGrams)") {
      Dedup.contaminationCounts(corpus, bench, "doc_id", "text", 5,
        hashGrams = true).count()
    }
    time("bloom prefilter + verify (d09 shape)") {
      Dedup.contaminationCountsBloom(corpus, bench, "doc_id", "text", 5)
        .count()
    }
    spark.stop()
  }
}
