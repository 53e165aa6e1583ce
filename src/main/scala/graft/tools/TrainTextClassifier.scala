package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench

/** Train the hashed bag-of-words quality classifier against the t02
  * heuristic gate (label = qualityScore >= 0.72) and print the frozen
  * micro-unit model as Scala source — how
  * graft.text.TextClassifier.DefaultWeightsMicro was produced.
  *
  * Usage: runMain graft.tools.TrainTextClassifier <sfDir> <iters>
  */
object TrainTextClassifier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val iters = args.lift(1).map(_.toInt).getOrElse(200)
    val spark = Bench.session(Bench.cpus)
    val docs = graft.sources.TestData.table(spark, sfDir, "documents")
    val labels = docs.select(col("doc_id"),
      (graft.text.TextFunctions.qualityScore(col("text")) >= 0.72)
        .cast("double").as("label"))
    val t0 = System.nanoTime()
    val (w, b) = graft.text.TextClassifier.train(
      docs, "doc_id", "text", labels, iters = iters)
    println(f"[clf] trained $iters iters in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // training accuracy of the frozen (micro-quantized) model
    val wm = w.map(x => math.round(x * 1e6))
    val bm = math.round(b * 1e6)
    val preds = graft.text.TextClassifier.marginMicro(
      docs, "doc_id", "text", wm.toSeq, bm)
      .join(labels, "doc_id")
      .select(((col("score_micro") > 0).cast("double") === col("label"))
        .cast("long").as("ok"))
      .agg(avg("ok")).collect()(0).getDouble(0)
    println(f"[clf] frozen-model training accuracy: $preds%.4f")
    println(s"  val DefaultBiasMicro: Long = ${bm}L")
    println("  val DefaultWeightsMicro: Seq[Long] = Seq(")
    println(wm.map(_.toString + "L").grouped(8).map("    " + _.mkString(", "))
      .mkString(",\n") + ")")
    spark.stop()
  }
}
