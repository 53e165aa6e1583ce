package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TestData
import graft.streaming._
import graft.text.{Mixture, Retrieval}

/** ONE kill-between-stores property, standardized across every
  * multi-store maintainer: fold a fully committed prefix, fold one
  * more batch, then simulate a crash at EVERY store-commit boundary —
  * stores before the boundary keep the batch's commit, stores after
  * it are rolled back to their exact pre-batch file sets — replay the
  * batch (the streaming contract after a crash), and the maintained
  * state must equal the fully committed run's. Claims-before-results
  * ordering is what makes every such suffix recoverable; the
  * per-maintainer specs prove semantics, this spec proves the shared
  * commit discipline. */
class CrashRecoverySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Byte-exact snapshot of a store directory (a store's commit also
    * overwrites small pointer files like the manifest `head` in place,
    * so a file-SET rollback is not enough — the pre-batch BYTES are
    * the pre-batch state). Absent dir snapshots to None. */
  private def snapshot(dir: String): Option[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) None
    else {
      val copy = Files.createTempDirectory("graft-crash-snap").toFile
      org.apache.commons.io.FileUtils.copyDirectory(root, copy)
      Some(copy)
    }
  }

  /** Roll `dir` back to its snapshot: everything the interrupted
    * batch wrote there — appended files, new version dirs, refreshed
    * markers, overwritten pointers — is as if the commit never ran. */
  private def rollback(dir: String, snap: Option[java.io.File]): Unit = {
    val root = new java.io.File(dir)
    if (root.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    snap.foreach(org.apache.commons.io.FileUtils.copyDirectory(_, root))
  }

  /** The property. `stores` are the state subdirectories in COMMIT
    * order; every boundary between them is a tested crash point. */
  private def killBetweenStores(
      label: String, stores: Seq[String], nBatches: Int,
      fold: (Int, String) => Unit,
      state: String => Seq[Any]): Unit = {
    for (cut <- 1 until stores.length) {
      val sp = Files.createTempDirectory(s"graft-crash-$label-$cut").toString
      (0 until nBatches - 1).foreach(fold(_, sp))
      val pre = stores.map(s => s -> snapshot(s"$sp/$s")).toMap
      fold(nBatches - 1, sp)
      val expected = state(sp)
      assert(expected.nonEmpty, s"$label: vacuous state")
      // the crash: stores(cut..) never saw the last batch's commit
      stores.drop(cut).foreach(s => rollback(s"$sp/$s", pre(s)))
      fold(nBatches - 1, sp) // replay, per the recovery contract
      assert(state(sp) == expected,
        s"$label: replay after a crash between '${stores(cut - 1)}' and " +
          s"'${stores(cut)}' diverged from the committed run")
    }
  }

  private def docBatches(n: Int): Seq[Seq[(Long, String)]] = {
    val all = TestData.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1).take(240).toSeq
    all.grouped(math.max(1, all.length / n)).toSeq.take(n)
  }

  test("bm25: postings | doclen | scalars boundaries all recover", Slow) {
    val terms = Seq("hash", "join", "sort", "merge")
    val batches = docBatches(2)
    killBetweenStores("bm25", Seq("postings", "doclen", "scalars"), 2,
      (i, sp) => IncrementalBm25.processBatch(
        batches(i).toDF("doc_id", "text"), "doc_id", "text", sp),
      sp => IncrementalBm25.bm25TopK(spark, sp, terms, 20).get
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq)
  }

  test("dup-spans: grams | results boundary recovers", Slow) {
    val batches = docBatches(2)
    killBetweenStores("dupspans", Seq("grams", "results"), 2,
      (i, sp) => IncrementalDupSpans.processBatch(
        batches(i).toDF("doc_id", "text"), "doc_id", "text", sp),
      sp => IncrementalDupSpans.stats(spark, sp).get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq)
  }

  test("cross-doc-grams: grams | results boundary recovers", Slow) {
    val batches = docBatches(2)
    killBetweenStores("xdoc", Seq("grams", "results"), 2,
      (i, sp) => IncrementalCrossDocGrams.processBatch(
        batches(i).toDF("doc_id", "text"), "doc_id", "text", sp),
      sp => IncrementalCrossDocGrams.stats(spark, sp).get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq)
  }

  test("dsir: docs | main(scores) boundary recovers", Slow) {
    val all = TestData.table(spark, sf, "documents")
      .select("doc_id", "text", "source").as[(Long, String, String)]
      .collect().sortBy(_._1).take(240).toSeq
    val batches = all.grouped(math.max(1, all.length / 2)).toSeq.take(2)
    val isTgt = col("source") === Mixture.DsirTargetSource
    killBetweenStores("dsir", Seq("docs", "main"), 2,
      (i, sp) => IncrementalDsir.processBatch(
        batches(i).toDF("doc_id", "text", "source"),
        "doc_id", "text", isTgt, sp),
      sp => IncrementalDsir.scores(spark, sp).get
        .select("doc_id", "n_tokens", "logratio")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq)
  }

  test("near-dup: labels | index boundary recovers (results-FIRST ordering)", Slow) {
    val batches = docBatches(2)
    val ids = TestData.table(spark, sf, "documents")
      .select(col("doc_id")).limit(240)
    killBetweenStores("neardup", Seq("labels", "index"), 2,
      (i, sp) => IncrementalNearDup.processBatch(
        batches(i).toDF("doc_id", "text"), "doc_id", "text", sp),
      sp => IncrementalNearDup.clusters(ids, "doc_id", sp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
  }

  test("embedding-dedup: bands | vectors | labels boundaries all recover", Slow) {
    val emb = TestData.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val all = emb.as[(Long, Seq[Float])].collect().sortBy(_._1)
      .take(240).toSeq
    val batches = all.grouped(math.max(1, all.length / 2)).toSeq.take(2)
    val ids = all.map(_._1).toDF("vec_id")
    killBetweenStores("embdedup", Seq("bands", "vectors", "labels"), 2,
      (i, sp) => IncrementalEmbeddingDedup.processBatch(
        batches(i).toDF("vec_id", "embedding"), "vec_id", "embedding", sp),
      sp => IncrementalEmbeddingDedup.clusters(ids, "vec_id", sp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
  }
}
