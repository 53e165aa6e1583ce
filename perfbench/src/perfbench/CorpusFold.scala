package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{IncrementalBm25, IncrementalEmbeddingDedup, IncrementalNearDup}

/** Planted-structure corpora folded into the three flagship streaming
  * maintainers in rotation (near-dup, BM25, embedding dedup), each fold
  * followed by a probe read of that maintainer's state; `compact` and
  * `vacuum` of one of them run after every round of [[SweepEvery]] ops.
  *
  * Checks need no graft code: a near-dup or embedding cluster never
  * joins two planted groups; identical planted vectors always share a
  * cluster; the share of near-dup groups found whole is at least what
  * the LSH banding guarantees; BM25 top-k equals a brute-force scorer. */
final class CorpusFold(spark: SparkSession, seed: Long, size: CorpusFold.Size)
    extends Workload {
  import CorpusFold._
  import spark.implicits._

  private var dir: Path = _
  private val rnd = new scala.util.Random(seed)
  private var ops = 0
  private var nextDoc = 0L
  private var nextGroup = 0L
  private var nextVec = 0L
  /** Near-dup: doc id → group; each group's chance to be found whole. */
  private val docGroup = mutable.HashMap.empty[Long, Long]
  private val groupWholeP = mutable.ArrayBuffer.empty[Double]
  /** BM25: every ingested doc's tokens. */
  private val bm25Docs = mutable.ArrayBuffer.empty[(Long, Array[String])]
  private val sweeps = mutable.ArrayBuffer.empty[Double]
  /** Common words shared across near-dup groups, so that a wrong merge
    * is possible and the "no cluster joins two groups" check can fail. */
  private val common = Vector.tabulate(40)(j => s"c${seed % 97}w$j")

  override def round: Int = 3
  /** No warm-up: a run times the first fold into each fresh maintainer.
    * Warming all three in set-up made a run 47-55 s, over the run budget,
    * and left the median op latency as wide between seeds (README). */
  def warmOps: Int = 0

  private def neardupPath = dir.resolve("neardup").toString
  private def bm25Path = dir.resolve("bm25").toString
  private def embPath = dir.resolve("embdedup").toString

  def build(d: Path, t: Trace): Unit = dir = d

  // ---- corpora ---------------------------------------------------------

  /** Groups of three: a base of 18–24 group-own words plus two common
    * words; member 1 adds one mutation word, member 2 two. */
  private def neardupBatch(): (DataFrame, Seq[Long]) = {
    val rows = (0 until size.neardupGroups).flatMap { _ =>
      val g = nextGroup; nextGroup += 1
      val n = 18 + rnd.nextInt(7)
      val base = (0 until n).map(j => s"g${g}t$j") ++
        Seq.fill(2)(common(rnd.nextInt(common.size)))
      groupWholeP += wholeP(base.distinct.size)
      (0 until 3).map { m =>
        val id = nextDoc; nextDoc += 1
        docGroup(id) = g
        id -> (base ++ (0 until m).map(k => s"m${id}x$k")).mkString(" ")
      }
    }
    (rows.toDF("doc_id", "text"), rows.map(_._1))
  }

  /** Query words planted at rates 1/3, 1/5, 1/7, 1/11 (twice in one
    * doc of four) over a filler vocabulary. */
  private def bm25Batch(): DataFrame = {
    val rows = (0 until size.bm25Docs).map { _ =>
      val id = nextDoc; nextDoc += 1
      val planted = Seq(3 -> "hash", 5 -> "join", 7 -> "sort", 11 -> "merge")
        .filter { case (r, _) => rnd.nextInt(r) == 0 }
        .flatMap { case (_, w) => if (rnd.nextInt(4) == 0) Seq(w, w) else Seq(w) }
      val fill = Seq.fill(10 + rnd.nextInt(8))(s"f${rnd.nextInt(600)}")
      val words = rnd.shuffle(planted ++ fill).toArray
      bm25Docs += id -> words
      id -> words.mkString(" ")
    }
    rows.toDF("doc_id", "text")
  }

  /** Pairs of identical ±1 vectors in 64 dimensions; vectors of different
    * pairs are near-orthogonal (cosine ~ N(0, 1/8)). */
  private def embBatch(): (DataFrame, Seq[Long]) = {
    val rows = (0 until size.embPairs).flatMap { _ =>
      val v = Seq.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      val a = nextVec; nextVec += 2
      Seq(a -> v, (a + 1) -> v)
    }
    (rows.toDF("vec_id", "embedding"), rows.map(_._1))
  }

  // ---- ops -------------------------------------------------------------

  def next(): Op = {
    val kind = ops % 3
    ops += 1
    kind match {
      case 0 =>
        val (docs, ids) = neardupBatch()
        val idFrame = ids.toDF("doc_id")
        clusterOp(ids, docGroup, whole = false) { t =>
          t.span("streaming.fold_neardup")(
            IncrementalNearDup.processBatch(docs, "doc_id", "text", neardupPath))
          t.span("streaming.probe")(IncrementalNearDup.clusters(idFrame, "doc_id",
            neardupPath).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        }
      case 1 =>
        val docs = bm25Batch()
        val want = bruteBm25(QueryTerms, TopK)
        new Op {
          def run(t: Trace): Any = {
            t.span("streaming.fold_bm25")(
              IncrementalBm25.processBatch(docs, "doc_id", "text", bm25Path))
            t.span("streaming.probe")(IncrementalBm25.bm25TopK(spark, bm25Path,
              QueryTerms, TopK).get.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq)
          }
          def check(out: Any): Option[String] =
            topKCheck(out.asInstanceOf[Seq[(Long, Double)]], want)
          def corrupt(out: Any): Any = {
            val s = out.asInstanceOf[Seq[(Long, Double)]]
            s.updated(0, s.head._1 -> (s.head._2 + 0.01))
          }
        }
      case _ =>
        val (vecs, ids) = embBatch()
        val idFrame = ids.toDF("vec_id")
        clusterOp(ids, _ / 2, whole = true) { t =>
          t.span("streaming.fold_embdedup")(IncrementalEmbeddingDedup.processBatch(
            vecs, "vec_id", "embedding", embPath, EmbParams))
          t.span("streaming.probe")(IncrementalEmbeddingDedup.clusters(idFrame, "vec_id",
            embPath).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        }
    }
  }

  /** An op whose output is id → cluster for this batch's ids. Planted
    * groups: near-dup clusters may split a group but never join two;
    * embedding pairs are identical, so they must be found whole too. */
  private def clusterOp(ids: Seq[Long], group: Long => Long, whole: Boolean)
                       (body: Trace => Map[Long, Long]): Op =
    new Op {
      def run(t: Trace): Any = body(t)
      def check(out: Any): Option[String] = {
        val got = out.asInstanceOf[Map[Long, Long]]
        if (got.keySet != ids.toSet) Some(s"probe returned ${got.size} of ${ids.size} ids")
        else clusterCheck(got, group, whole)
      }
      def corrupt(out: Any): Any = {
        val got = out.asInstanceOf[Map[Long, Long]]
        val ks = ids.sorted
        // put the first id in the cluster of an id of another group
        ks.find(k => group(k) != group(ks.head))
          .fold(got)(other => got.updated(ks.head, got(other)))
      }
    }

  /** After each round, `compact` + `vacuum` of one maintainer, rotating
    * near-dup → BM25 → embedding dedup over the rounds. */
  override def maintain(i: Int, t: Trace): Unit = if ((i + 1) % SweepEvery == 0) {
    val t0 = System.nanoTime()
    t.span("streaming.compact") {
      ((i + 1) / SweepEvery - 1) % 3 match {
        case 0 =>
          IncrementalNearDup.compact(spark, neardupPath)
          IncrementalNearDup.vacuum(spark, neardupPath)
        case 1 =>
          IncrementalBm25.compact(spark, bm25Path)
          IncrementalBm25.vacuum(spark, bm25Path)
        case _ =>
          IncrementalEmbeddingDedup.compact(spark, embPath)
          IncrementalEmbeddingDedup.vacuum(spark, embPath)
      }
    }
    sweeps += (System.nanoTime() - t0) / 1e9
  }

  // ---- whole-state checks ----------------------------------------------

  /** Over every doc ingested: no cluster joins two groups, and the share
    * of groups found whole is at least the LSH guarantee less four
    * standard deviations. Embeddings: exactly one cluster per pair. */
  def finalCheck(corrupt: Boolean): Option[String] = {
    val labels = IncrementalNearDup.clusters(docGroup.keys.toSeq.toDF("doc_id"), "doc_id",
      neardupPath).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = if (!corrupt) labels else {
      // fold one whole group into the cluster of another
      val g0 = docGroup.filter(_._2 == 0L).keys
      val other = labels(docGroup.find(_._2 == 1L).get._1)
      labels ++ g0.map(_ -> other)
    }
    val embIds = (0L until nextVec).toDF("vec_id")
    val emb = IncrementalEmbeddingDedup.clusters(embIds, "vec_id", embPath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusterCheck(got, docGroup, whole = false).orElse {
      val groups = docGroup.groupBy(_._2).values.map(_.keys.toSeq)
      val found = groups.count(g => g.map(got).toSet.size == 1).toDouble / groups.size
      val p = groupWholeP.toSeq
      val expect = p.sum / p.size
      val floor = expect - 4 * math.sqrt(p.map(x => x * (1 - x)).sum) / p.size - 0.01
      if (found < floor) Some(f"near-dup found $found%.3f of groups whole; LSH floor $floor%.3f")
      else None
    }.orElse(clusterCheck(emb, _ / 2, whole = true))
      .orElse(if (emb.size != nextVec) Some(s"embedding labels for ${emb.size} of $nextVec")
              else None)
  }

  override def beforeDisk(): Unit = {
    IncrementalNearDup.vacuum(spark, neardupPath)
    IncrementalBm25.vacuum(spark, bm25Path)
    IncrementalEmbeddingDedup.vacuum(spark, embPath)
  }

  def layers(t: Trace): Seq[(String, Double)] = {
    val (bytes, files) = Stats.dirStats(dir)
    val kinds = Seq("neardup", "bm25", "embdedup")
    Seq(
      "streaming.fold_neardup_s" -> t.selfS("streaming.fold_neardup"),
      "streaming.fold_bm25_s" -> t.selfS("streaming.fold_bm25"),
      "streaming.fold_embdedup_s" -> t.selfS("streaming.fold_embdedup"),
      "streaming.fold_cpu_s" -> Stats.mean(kinds.map(k => t.cpuS(s"streaming.fold_$k"))),
      "streaming.fold_jobs" -> Stats.mean(kinds.map(k => t.jobs(s"streaming.fold_$k"))),
      "streaming.probe_s" -> t.selfS("streaming.probe"),
      "streaming.compact_s" -> Stats.median(sweeps.toSeq),
      "streaming.state_files" -> files.toDouble,
      "streaming.state_mb" -> bytes / 1e6)
  }

  /** Brute-force BM25 over every doc ingested so far, scores at 4 dp —
    * the formula of `graft.text.Retrieval.bm25TopK`, written apart. */
  private def bruteBm25(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    bruteScores(terms).sortBy { case (id, s) => (-s, id) }.take(k)

  private def bruteScores(terms: Seq[String]): Seq[(Long, Double)] = {
    val n = bm25Docs.size.toDouble
    val avgdl = bm25Docs.map(_._2.length.toDouble).sum / n
    val df = terms.map(w => w -> bm25Docs.count(_._2.contains(w)).toDouble).toMap
    bm25Docs.toSeq.flatMap { case (id, words) =>
      val dl = words.length.toDouble
      val hits = terms.filter(words.contains)
      if (hits.isEmpty) None
      else Some(id -> BigDecimal(hits.map { w =>
        val tf = words.count(_ == w).toDouble
        val idf = math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5))
        idf * tf * (K1 + 1) / (tf + (dl / avgdl * B + (1 - B)) * K1)
      }.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }
}

object CorpusFold {
  final case class Size(neardupGroups: Int, bm25Docs: Int, embPairs: Int)

  /** One sweep per round of the three folds. */
  val SweepEvery = 3
  val QueryTerms: Seq[String] = Seq("hash", "join", "sort", "merge")
  val TopK = 10
  val K1 = 1.2
  val B = 0.75
  /** Default near-dup banding: 32 hashes in 4 bands of 8 rows. */
  val NearDupBands = 4
  val NearDupRows = 8
  val EmbParams: IncrementalEmbeddingDedup.Params = IncrementalEmbeddingDedup.Params(
    threshold = 0.9, numPlanes = 14, tables = 4, seed = 42L, maxBucket = 4000,
    indexBuckets = 64)
  /** The chance that LSH banding finds a planted group whole: members
    * share `d` distinct words, member 1 adds one word and member 2 two.
    * Per minhash slot the minimum over the group's d + 3 words falls in
    * the shared words (all three agree), in member 1's word (only 0 and
    * 2 can agree, when their own minimum is shared: d / (d + 2)), or in
    * member 2's words (only 0 and 1 can agree: d / (d + 1)). A band of
    * `NearDupRows` slots then matches all pairs (x), only 0–1 (y), only
    * 0–2 (z) or none (w); over `NearDupBands` bands the group is joined
    * unless no band matched all and 0–1 and 0–2 were not both seen. The
    * three edges are correlated, so this is not a product of per-pair
    * S-curves. */
  def wholeP(d: Int): Double = {
    val n = d + 3.0
    val all = d / n
    val x = math.pow(all, NearDupRows)
    val y = math.pow(all + 2 / n * d / (d + 1.0), NearDupRows) - x
    val z = math.pow(all + 1 / n * d / (d + 2.0), NearDupRows) - x
    val w = 1 - x - y - z
    def pw(v: Double) = math.pow(v, NearDupBands)
    1 - (pw(z + w) + pw(y + w) - pw(w))
  }

  /** Scores may differ from the brute force by rounding at the 4th dp. */
  val Tol = 1.5e-4

  /** No cluster holds ids of two groups; with `whole`, every group is
    * also in one cluster. */
  def clusterCheck(got: Map[Long, Long], group: Long => Long, whole: Boolean): Option[String] = {
    val joined = got.groupBy(_._2).find(_._2.keys.map(group).toSet.size > 1)
    val split = if (!whole) None
                else got.groupBy(kv => group(kv._1)).find(_._2.values.toSet.size > 1)
    joined.map { case (c, m) => s"cluster $c joins groups ${m.keys.map(group).toSet}" }
      .orElse(split.map { case (g, _) => s"planted group $g split across clusters" })
  }

  /** A returned top-k matches the brute force: same length, ordered by
    * (score desc, id), every score within [[Tol]] of the brute score,
    * and no doc left out scores above the last one returned. */
  def topKCheck(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] = {
    val wantScore = want.toMap
    if (got.size != want.size) Some(s"top-k returned ${got.size}, brute force ${want.size}")
    else if (got != got.sortBy { case (id, s) => (-s, id) }) Some("top-k not in score order")
    else {
      val off = got.zip(want).find { case ((_, s), (_, w)) => math.abs(s - w) > Tol }
      val missing = want.find { case (id, s) =>
        !got.exists(_._1 == id) && s > got.last._2 + Tol
      }
      off.map { case (g, w) => s"top-k entry $g differs from brute force $w" }
        .orElse(missing.map(m => s"top-k misses $m"))
        .orElse(got.find(g => wantScore.get(g._1).exists(w => math.abs(w - g._2) > Tol))
          .map(g => s"score of ${g._1} is ${g._2}, brute force ${wantScore(g._1)}"))
    }
  }
}
