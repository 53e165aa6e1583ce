package graft.tools

import graft.Bench

/** Learn a BPE merge table from a documents corpus and print it as
  * Scala source — how graft.text.Bpe.DefaultMerges was produced
  * (and how to re-freeze it against a different corpus).
  *
  * Usage: runMain graft.tools.TrainBpe <sfDir> <numMerges>
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = args.lift(1).map(_.toInt).getOrElse(24)
    val spark = Bench.session(Bench.cpus)
    val docs = graft.sources.TestData.table(spark, sfDir, "documents")
    val t0 = System.nanoTime()
    val merges = graft.text.Bpe.train(docs, "text", n)
    println(f"[bpe] learned ${merges.length} merges in ${(System.nanoTime() - t0) / 1e9}%.1f s:")
    println(merges.map { case (a, b) => s""""$a" -> "$b"""" }
      .grouped(5).map(_.mkString(", ")).mkString(",\n    "))
    spark.stop()
  }
}
