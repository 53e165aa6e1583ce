package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sources.TestData
import graft.text.TextFunctions

class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("exact dedup keeps min id and counts duplicates") {
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (5L, "alpha beta"),
      (3L, "gamma"), (4L, "delta")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates and honors the threshold") {
    val base = (0 until 40).map(i =>
      (i.toLong, s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e tok${i}f tok${i}g tok${i}h"))
    // plant: 100+i is a copy of i with one token changed → jaccard 7/9 ≈ 0.78
    val nearDups = (0 until 10).map(i =>
      ((100 + i).toLong, s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e tok${i}f tok${i}g CHANGED"))
    val docs = (base ++ nearDups).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
      shingleLen = 1, numHashes = 64, numBands = 16, threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    // every planted pair recovered (b=16,r=4 at j=.78 → P≈1-(1-0.37)^16≈1)
    (0 until 10).foreach { i =>
      assert(found.contains((i.toLong, (100 + i).toLong)), s"missing pair $i")
    }
    // nothing below the verify threshold sneaks through
    assert(pairs.forall(_._3 >= 0.7))
    // disjoint-vocab docs never pair
    assert(pairs.forall(p => (p._2 - p._1 == 100) || (p._1 >= 100 && p._2 >= 100)))
  }

  test("simhash: identical docs collide, planted near-dups are low-hamming") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different text about spark catalyst expression codegen pipelines")
    ).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      Dedup.simhashSignature(col("text")).as("sig"))
    val Seq(s1, s2, s3) = sigs.orderBy("doc_id")
      .collect().map(_.getSeq[Int](1)).toSeq
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count { case (x, y) => x != y }
    assert(s1.length == 64)
    assert(ham(s1, s2) < ham(s1, s3),
      s"near-dup hamming ${ham(s1, s2)} !< unrelated ${ham(s1, s3)}")
    val found = Dedup.simhashNearDuplicates(docs, "doc_id", "text",
      maxHamming = ham(s1, s2)).as[(Long, Long, Int)].collect()
    assert(found.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("simhash banding is complete: emitted pairs == brute-force pairs at any radius") {
    // corpus engineered for a spread of pairwise hamming distances:
    // exact duplicates (hamming 0 — pairs exist at every radius),
    // 1-token-of-200 variants (small hamming), and distinct clusters
    val docs = (0 until 8).flatMap { c =>
      val base = (0 until 200).map(t => s"base${c}_$t")
      Seq(
        ((c * 10).toLong, base.mkString(" ")),
        ((c * 10 + 1).toLong, base.mkString(" ")), // exact duplicate
        ((c * 10 + 2).toLong, (base.dropRight(1) :+ s"var$c").mkString(" ")))
    }.toDF("doc_id", "text").cache()

    val sigs = Dedup.simhashSignaturesPacked(docs, "doc_id", "text")
    val a = sigs.select(col("doc_id").as("a"), col("__sig").as("sa"))
    val b = sigs.select(col("doc_id").as("b"), col("__sig").as("sb"))
    for (h <- Seq(3, 7, 16)) {
      // brute force: all pairs with bit_count(xor) <= h
      val brute = a.join(b, col("a") < col("b"))
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
        .filter(col("hamming") <= h)
        .select("a", "b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      val banded = Dedup.simhashNearDuplicates(docs, "doc_id", "text",
        maxHamming = h, maxBucket = 1000)
        .as[(Long, Long, Int)].collect().toSet
      assert(banded == brute,
        s"h=$h: banding missed ${(brute -- banded).size} pairs, " +
          s"extra ${(banded -- brute).size}")
      assert(brute.nonEmpty, s"h=$h: degenerate test corpus (no pairs)")
    }
    docs.unpersist()
  }

  test("prefix-filtered jaccard join == brute-force all-pairs (exact recall)") {
    // deterministic pseudo-random corpus with overlapping vocab slices:
    // doc i draws 10 tokens from a 40-token vocab starting at i%13 —
    // dense overlap, varied lengths, two partitions
    val docs = ((0 until 120).map { i =>
      val toks = (0 until 6 + i % 7).map(j => s"w${(i % 13 + j * (1 + i % 3)) % 40}")
      (i.toLong, s"src${i % 2}", toks.distinct)
    } ++ Seq( // edge cases: empty docs and singleton docs (incl. an exact pair)
      (200L, "src0", Seq.empty[String]), (201L, "src0", Seq.empty[String]),
      (202L, "src0", Seq("w1")), (203L, "src0", Seq("w1")),
      (204L, "src1", Seq("only204")))).toDF("doc_id", "source", "w").cache()

    for (t <- Seq(0.5, 0.7, 0.9)) {
      val x = docs.alias("x"); val y = docs.alias("y")
      val brute = x.join(y, col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id"))
        .withColumn("jaccard", Dedup.jaccard(col("x.w"), col("y.w")))
        .filter(col("jaccard") >= t)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
                round(col("jaccard"), 4).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      val pruned = Dedup.jaccardJoinExact(docs, "doc_id", "w", t, Seq("source"))
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == brute,
        s"t=$t: missed ${(brute -- pruned).size}, extra ${(pruned -- brute).size}")
      assert(brute.nonEmpty, s"t=$t: degenerate corpus")
      // skew-split path: a tiny bucketCap forces every prefix bucket
      // through the triangle chunking — pair set must be IDENTICAL
      val split = Dedup.jaccardJoinExact(docs, "doc_id", "w", t,
          Seq("source"), bucketCap = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(split == brute,
        s"t=$t split: missed ${(brute -- split).size}, extra ${(split -- brute).size}")
    }
    docs.unpersist()
  }

  test("cross-corpus jaccard join == brute-force cross product, even with colliding ids") {
    // left/right share id values DELIBERATELY — the side tag, not the
    // id, must keep the two corpora apart inside the shared machinery
    val mk = (off: Int) => (0 until 60).map { i =>
      val toks = (0 until 6 + i % 5)
        .map(j => s"w${(i % 11 + j * (1 + (i + off) % 3)) % 30}")
      (i.toLong, toks.distinct)
    }
    // every right id 0..59 also exists on the left (full id collision)
    val left = mk(0).toDF("doc_id", "w").cache()
    val right = (mk(1) ++ Seq((300L, Seq.empty[String])))
      .toDF("doc_id", "w").cache()
    // the tagged form reads both corpora from ONE frame, so ids are
    // made distinct there; the side predicate is NULL on every fourth
    // left row, which the tagged form counts as left
    val side = col("right_side")
    val tagged = left.withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("right_side", when(col("doc_id") % 4 =!= 0, lit(false)))
      .unionByName(right.withColumn("right_side", lit(true))).cache()

    for (t <- Seq(0.5, 0.8)) {
      val brute = left.alias("x").join(right.alias("y"))
        .withColumn("jaccard", Dedup.jaccard(col("x.w"), col("y.w")))
        .filter(col("jaccard") >= t)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
                round(col("jaccard"), 4).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val pruned = Dedup.jaccardJoinAcross(left, right, "doc_id", "w", t)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(pruned == brute,
        s"t=$t: ${brute.size} brute vs ${pruned.size} pruned")
      assert(brute.nonEmpty, s"t=$t: degenerate corpus")
      // skew-split path under full id collision: chunk hashing keys on
      // __id only, so colliding cross-side ids land in the SAME chunk —
      // the side filter, not the chunking, must still separate them
      val split = Dedup.jaccardJoinAcross(left, right, "doc_id", "w", t,
          bucketCap = 3)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(split == brute,
        s"t=$t split: ${brute.size} brute vs ${split.size} split")
      val twoFrame = Dedup.jaccardJoinAcross(
          tagged.filter(!coalesce(side, lit(false))), tagged.filter(side),
          "doc_id", "w", t)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val oneFrame = Dedup.jaccardJoinAcrossTagged(tagged, "doc_id", "w",
          side, t)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(oneFrame == twoFrame,
        s"t=$t tagged: ${twoFrame.size} two-frame vs ${oneFrame.size} tagged")
      assert(twoFrame.exists(_._1 % 4 == 0),
        s"t=$t tagged: no pair has a NULL-predicate left row")
    }
    left.unpersist(); right.unpersist(); tagged.unpersist()
  }

  test("ANN probes a fraction of the corpus and overlaps the exact top-k") {
    val emb = TestData.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet

    val bucketed = Similarity.withLshBuckets(corpus, "embedding",
      numPlanes = 4).cache()
    val probed = bucketed.filter(col("bucket").isin(
      Similarity.probeBuckets(q, 4, 42L): _*)).count()
    val total = bucketed.count()
    assert(probed < total, "multi-probe must not scan the whole corpus")

    val ann = Similarity.annTopK(bucketed, "vec_id", "embedding", q, 10,
      numPlanes = 4).as[(Long, Double)].collect().map(_._1).toSet
    assert(ann.intersect(exact).size >= 3,
      s"ANN recall too low: ${ann.intersect(exact).size}/10 (probed $probed/$total)")
    bucketed.unpersist()
  }

  test("regex shingles == lambda shingles on real documents") {
    val docs = TestData.table(spark, sf, "documents")
    for (n <- Seq(2, 3)) {
      val viaLambda = transform(
        sequence(lit(0), size(TextFunctions.tokens(col("text"))) - n),
        i => concat_ws(" ", slice(TextFunctions.tokens(col("text")), i + 1, lit(n))))
      val expected = docs.select(col("doc_id"),
        when(size(TextFunctions.tokens(col("text"))) < n,
          array(concat_ws(" ", TextFunctions.tokens(col("text")))))
          .otherwise(array_distinct(viaLambda)).as("s"))
      val got = docs.select(col("doc_id"),
        TextFunctions.shingles(col("text"), n).as("s"))
      val diff = got.join(expected.withColumnRenamed("s", "e"), "doc_id")
        .filter(col("s") =!= col("e")).count()
      assert(diff == 0, s"n=$n: regex and lambda shingles disagree on $diff docs")
    }
  }

  test("embedding cosine near-dup pairs: planted duplicates recovered, threshold honored") {
    // deterministic corpus: 15 base vectors (hash-derived), each with a
    // slightly-perturbed twin (cosine ≈ 0.999), plus unrelated noise
    def vec(seed: Int): Array[Float] =
      Array.tabulate(32) { i =>
        val h = (seed * 1000003 + i * 7919) * 2654435761L
        ((h % 1000) / 1000.0f)
      }
    val docs = ((0 until 15).flatMap { c =>
      val base = vec(c)
      val twin = base.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 0.01f else x }
      Seq((c.toLong * 2, base), (c.toLong * 2 + 1, twin))
    } ++ (100 until 130).map(i => (i.toLong, vec(i * 31 + 17))))
      .toDF("vec_id", "embedding")

    val pairs = Similarity.cosineNearDuplicates(
      docs, "vec_id", "embedding", threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0 until 15).foreach { c =>
      assert(found.contains((c.toLong * 2, c.toLong * 2 + 1)),
        s"missing planted twin pair $c")
    }
    assert(pairs.forall(_._3 >= 0.999), "verify threshold must hold")
  }

  test("text functions: fingerprint canonicalization, langid, quality bounds") {
    val df = Seq(
      (1L, "The  Quick   Brown Fox"),
      (2L, "the quick brown fox"),
      (3L, "el la de que y los mas"),
      (4L, "der die das und ist ein"),
      (5L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getInt(4))).sortBy(_._1)
    assert(out(0)._2 == out(1)._2, "fingerprint must canonicalize case+whitespace")
    assert(out(0)._3 == "en" && out(2)._3 == "es" && out(3)._3 == "de")
    assert(out(4)._3 == "und")
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    assert(out(0)._5 == 4)
  }

  test("decontamination: planted overlaps found, hashed grams identical, short docs skipped") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 5-gram "beta gamma delta epsilon zeta"
      (1L, "xx beta gamma delta epsilon zeta yy"),
      // no 5-gram overlap
      (2L, "totally different words here without any overlap"),
      // shares two distinct benchmark 5-grams
      (3L, "one two three four five six seven"),
      // shorter than 5 tokens: never contaminated
      (4L, "one two three four")).toDF("doc_id", "text")

    val got = Dedup.contaminationCounts(corpus, bench, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L), got.toString)

    // hashed-gram fast path emits identical results on real documents
    val docs = TestData.table(spark, sf, "documents")
    val isBench = col("source").isin("src0", "src1")
    def run(h: Boolean) = Dedup.contaminationCounts(
      docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", 5, hashGrams = h)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(false) == run(true))
  }

  test("hashed 8-byte gram/token keys: t21/d15/d16 forms emit identical results") {
    val docs = TestData.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    // t21 source overlap
    def t21(h: Boolean) = Dedup.sourceOverlap(
      docs, "source", "text", 5, hashGrams = h)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(t21(false) == t21(true))
    // d15 cross-doc gram stats
    def d15(h: Boolean) = Dedup.crossDocGramStats(
      docs, "doc_id", "text", 5, hashGrams = h)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d15(false) == d15(true))
    // d16 containment decon over hashed TOKEN arrays (set containment
    // is key-agnostic)
    val tok = docs.select(col("doc_id"), col("source"),
      array_distinct(TextFunctions.tokens(col("text"))).as("w"))
    def d16(frame: org.apache.spark.sql.DataFrame) = {
      val isBench = col("source").isin("src0", "src1")
      Dedup.containmentJoinAcross(
        frame.filter(!isBench), frame.filter(isBench), "doc_id", "w", 0.9)
        .groupBy(col("a").as("doc_id"))
        .agg(count(lit(1)).as("n"), max(col("containment")).as("mc"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }
    val plain = d16(tok)
    assert(plain.nonEmpty, "vacuous: no containment matches at this SF")
    assert(plain == d16(tok.withColumn("w",
      transform(col("w"), t => xxhash64(t)))))
  }

  test("decontamination: exact path refuses a corpus-sized benchmark instead of OOM") {
    // ×100-shaped misuse: the "benchmark" is the whole corpus, so its
    // distinct-gram set is join-build-side poison. With the budget at
    // real scale this is ~15M grams and an executor OOM; here a scaled
    // budget must trip the guard BEFORE the join is planned.
    val docs = TestData.table(spark, sf, "documents")
    val err = intercept[IllegalArgumentException] {
      Dedup.contaminationCounts(
        docs, docs, "doc_id", "text", 5, maxBenchGrams = 100L)
    }
    assert(err.getMessage.contains("contaminationCountsBloom"), err.getMessage)
    assert(err.getMessage.contains("maxBenchGrams"), err.getMessage)

    // the same call under budget (or explicitly opted out) still plans
    val n = Dedup.contaminationCounts(
      docs.limit(20), docs.limit(20), "doc_id", "text", 5,
      maxBenchGrams = Long.MaxValue).count()
    assert(n > 0)
  }

  test("multimodal: typed batch decode and binary plumbing shapes") {
    val docs = TestData.table(spark, sf, "documents").limit(50)
    val assets = Multimodal.assetsFromDocuments(docs)
    assert(assets.schema("content").dataType.typeName == "binary")

    val decoded = Multimodal.decodeBatched(
      assets.as[Multimodal.Asset]).collect()
    assert(decoded.length == 50)
    assert(decoded.forall(d => d.width >= 1 && d.width <= 1920))
    assert(decoded.forall(d => d.height >= 1 && d.height <= 1080))
    assert(decoded.forall(_.n_bytes > 0))

    val shaped = assets.select(
      Multimodal.decodeMeta(col("content")).as("meta"),
      Multimodal.thumbnail(col("content"), 16).as("thumb"),
      Multimodal.frameSample(col("content"), 4, 8).as("frames"),
      Multimodal.features(col("content"), 16).as("feat")).collect()
    shaped.foreach { r =>
      assert(r.getAs[Array[Byte]]("thumb").length <= 16)
      assert(r.getSeq[Array[Byte]](2).length == 4)
      assert(r.getSeq[Float](3).length == 16)
    }
  }
}
