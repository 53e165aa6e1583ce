package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{FeatureHash, Multimodal}

/** The REAL byte-n-gram feature-hash embedding: determinism, unit
  * norm, duplicate-detection exactness (identical bytes ⇔ identical
  * vector on distinct inputs), cosine ordering (near-identical
  * content scores above unrelated content), the whole-stage-codegen
  * seam of the expression, and the m03 catalog query ≡ its md5-groups
  * oracle on the sf0.001 corpus. */
class FeatureHashSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._
  import spark.implicits._

  private def vec(s: String, dim: Int = 64, n: Int = 8): Array[Float] =
    FeatureHash.embed(s.getBytes("UTF-8"), dim, n).toFloatArray()

  private def cosine(a: Array[Float], b: Array[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y }.sum

  test("kernel: deterministic, unit-norm, empty-content zero vector") {
    val a = vec("the quick brown fox jumps over the lazy dog")
    assert(a.sameElements(vec("the quick brown fox jumps over the lazy dog")))
    assert(math.abs(a.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
    assert(vec("").forall(_ == 0f))
    // shorter than the window: still embeds (whole-content hash)
    val tiny = vec("ab")
    assert(math.abs(tiny.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
  }

  test("kernel: sensitivity — any single-byte change moves the vector") {
    val base = "a moderately long document body for window coverage"
    val a = vec(base)
    for (i <- 0 until base.length) {
      val mutated = base.updated(i, if (base(i) == 'x') 'y' else 'x')
      assert(!a.sameElements(vec(mutated)), s"flip at $i left vector fixed")
    }
  }

  test("kernel: cosine orders near-identical above unrelated") {
    val base = "the training corpus pipeline deduplicates documents " +
      "by shingled byte windows before mixing and packing"
    val near = base.replace("packing", "packing!")
    val far = "completely unrelated content: lorem ipsum dolor sit " +
      "amet consectetur adipiscing elit sed do eiusmod tempor"
    val cNear = cosine(vec(base), vec(near))
    val cFar = cosine(vec(base), vec(far))
    assert(cNear > 0.9, s"near-dup cosine $cNear")
    assert(cFar < 0.5, s"unrelated cosine $cFar")
    assert(cosine(vec(base), vec(base)) > 1.0 - 1e-6)
  }

  test("expression: codegen path ≡ kernel; null in, null out") {
    val local = Seq(("a", "alpha beta gamma delta epsilon"),
                    ("b", null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), graft.functions.images.byte_ngram_features(
        to_binary(col("text"), lit("utf-8")), 32, 8).as("v"))
    val rows = local.collect().map(r => r.getString(0) ->
      Option(r.getSeq[Float](1))).toMap
    assert(rows("b").isEmpty)
    assert(rows("a").get.toArray.sameElements(
      FeatureHash.embed("alpha beta gamma delta epsilon".getBytes("UTF-8"),
        32, 8).toFloatArray()))
    // stays inside whole-stage codegen like the other graft kernels —
    // asserted over a real scan (a local relation constant-folds to
    // LocalTableScan and shows no codegen span at all)
    val scanned = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.images.byte_ngram_features(
        to_binary(col("text"), lit("utf-8")), 32, 8).as("v"))
    val codegenSpans = scanned.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(codegenSpans.nonEmpty,
      scanned.queryExecution.executedPlan.toString)
    assert(scanned.count() == 500)
  }

  test("m03 embedding-level dedup ≡ planted md5-content groups at sf0.001") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Queries.all("m03_embed_content_dedup")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = {
      val base = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val planted = base ++ base.collect {
        case (id, h) if id % 50 == 0 => (id + 1000000L, h)
      }
      val groups = planted.groupBy(_._2).map { case (h, g) =>
        h -> (g.map(_._1).min, g.length.toLong) }
      planted.map { case (id, h) =>
        val (rep, n) = groups(h); (id, rep, n)
      }.sortBy(_._1)
    }
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
    // the planted copies genuinely exercise the dedup: groups > 1
    // exist, and every planted copy resolved to its source id
    assert(expected.count(_._3 > 1L) >= 2, "planting produced no dups")
    assert(got.filter(_._1 >= 1000000L).forall(r => r._2 == r._1 - 1000000L))
  }

  test("m04 mutation→source retrieval ≡ planted mapping; argmax margin real") {
    val sfDir = "/root/testdata/sf0.001"
    val got = Queries.all("m04_embed_mutation_source")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.collect { case (id, _) if id % 37 == 0 =>
      (id + 2000000L, id) }.sortBy(_._1)
    assert(expected.nonEmpty)
    assert(got.sameElements(expected))
    // NEAR-dup retrieval margin, brute force: a 1-byte-mutated query
    // still argmax-resolves to its source ahead of every natural
    // near-dup. This pins the capability the oracle-checked exact
    // form doesn't: the margin is a statistic of the CURRENT corpus
    // (closest natural byte-cosine pair ≈ 0.97), so it is spec-gated
    // here (measured 0.011 at sf0.001) rather than driver-oracled.
    val corpus = docs.map { case (id, t) => id -> vec(t) }
    var worstMargin = Double.MaxValue
    for ((srcId, text) <- docs if srcId % 37 == 0) {
      val q = vec(text + "~")
      val toSource = cosine(q, corpus.find(_._1 == srcId).get._2)
      val bestOther = corpus.collect {
        case (id, v) if id != srcId => cosine(q, v) }.max
      worstMargin = math.min(worstMargin, toSource - bestOther)
    }
    assert(worstMargin > 0.005, s"argmax margin too thin: $worstMargin")
  }

  test("cosineJoinMulti: subset-of-exact, and complete on the fixture") {
    val sfDir = "/root/testdata/sf0.001"
    import graft.similarity.Similarity
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val emb = docs.select(col("doc_id").as("id"),
      graft.functions.images.byte_ngram_features(
        to_binary(col("text"), lit("utf-8")), 64, 8).as("v"))
    val shifted = emb.select((col("id") + 5000L).as("id"), col("v"))
    val got = Similarity.cosineJoinMulti(emb, "id", shifted, "id", "v",
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // exact: each left vector matches exactly its own shifted twin at
    // cosine 1 (vectors injective on the corpus — the m03 property)
    val expected = emb.select("id").collect().map(_.getLong(0))
      .map(id => (id, id + 5000L)).sorted
    assert(got.sameElements(expected))
  }
}
