package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines, at three
  * rigor/cost tiers:
  *
  *  1. [[exact]] — byte-identical (or canonical-form) duplicates via a
  *     single hash-partitioned shuffle.
  *  2. [[nearDuplicates]] — MinHash + banded LSH: shingle → minhash
  *     signature → band buckets → candidate join → exact Jaccard
  *     verify. Only bucket-mates are ever paired, so the quadratic
  *     blow-up is confined to buckets (which [[lshCandidates]] also
  *     caps, dropping degenerate mega-buckets — the classic skew guard
  *     at corpus scale).
  *  3. [[simhashSignature]]/[[simhashNearDuplicates]] — SimHash bit
  *     signatures computed as pure per-row folds (no explode, no
  *     shuffle), candidates via chunk collisions, verify by Hamming
  *     distance.
  *
  * Embedding-space near-dup lives in graft.similarity (cosine ≥ τ over
  * LSH buckets).
  */
object Dedup {

  /** Frames `persist()`ed inside lazily-returned query plans (the
    * containment join's bucket frame): the consumer materializes them
    * AFTER the building function returns, so the builder cannot
    * unpersist deterministically itself — without a hook, reclamation
    * waits on GC + ContextCleaner, and a long-lived driver running
    * many dedup queries (soak/bench loops, streaming maintainers)
    * accumulates cached blocks. The frame is held WEAKLY (a driver
    * that never calls [[releaseCaches]] must not accumulate frames
    * through this registry) alongside its session + logical plan,
    * which is what actually owns the cache: CacheManager pins every
    * persisted plan strongly until an explicit uncache, so a frame
    * GC'd while registered would otherwise leak its blocks for the
    * session's lifetime with no handle left. Dead entries are
    * uncached BY PLAN and dropped on every register/release sweep,
    * so the registry is bounded by the live frames plus the handful
    * collected since the last dedup query. */
  private final case class Registered(
      ref: java.lang.ref.WeakReference[DataFrame],
      session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  private val persistedFrames =
    new scala.collection.mutable.ArrayBuffer[Registered]
  private[graft] def registerPersisted(df: DataFrame): DataFrame =
    persistedFrames.synchronized {
      persistedFrames.filterInPlace { r =>
        val alive = r.ref.get != null
        if (!alive)
          org.apache.spark.sql.graft.UncacheByPlan.uncache(r.session, r.plan)
        alive
      }
      // the ANALYZED plan: CacheManager keys its entries on analyzed/
      // normalized plans (Dataset.unpersist passes the same), so an
      // unresolved logical plan would never match at uncache time
      persistedFrames += Registered(new java.lang.ref.WeakReference(df),
        df.sparkSession, df.queryExecution.analyzed)
      df
    }

  /** Unpersist every cached frame registered by past dedup queries.
    * Call between iterations of a long-lived loop once the previous
    * query's output is fully consumed; blocking=false, so the actual
    * block drop is asynchronous and cheap to request. */
  def releaseCaches(): Unit = persistedFrames.synchronized {
    persistedFrames.foreach { r =>
      Option(r.ref.get) match {
        case Some(df) => df.unpersist(blocking = false)
        case None =>
          org.apache.spark.sql.graft.UncacheByPlan.uncache(r.session, r.plan)
      }
    }
    persistedFrames.clear()
  }

  /** Exact dedup: keep the smallest id per identical content, plus the
    * group's duplicate count. One hash aggregation keyed by
    * (xxhash64(content), content) — map-side partial min/count, no
    * per-partition sort (the window formulation this replaces sorted
    * every content group). Winner rows are recovered with a join on
    * (content, winning id); for tables wider than (id, content) that
    * second pass is what carries the payload columns. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val winners = exactCounts(df, idCol, contentCol)
    df.join(winners, Seq(idCol, contentCol))
  }

  /** The aggregation core of [[exact]]: (idCol = min id, contentCol,
    * dup_count) per identical content — sufficient by itself when no
    * other columns are needed. */
  def exactCounts(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(xxhash64(col(contentCol)).as("__h"), col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col(contentCol), col("dup_count"))

  /** Corpus-scale MinHash: explode shingles, hash them through
    * `numHashes` codegen'd xxhash64 columns, and min-aggregate back per
    * document (map-side partial mins → one shuffle of numHashes longs
    * per doc). Returns (idCol, __sh, __sig). Slot i is the minimum
    * over the doc's shingles of xxhash64(shingle, i + 1), all in
    * whole-stage codegen — measured ~50× the throughput of the same
    * signature as higher-order array functions, which Spark
    * interprets. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, numHashes: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      TextFunctions.shingles(col(textCol), shingleLen).as("__sh"))
    val aggs = Seq.tabulate(numHashes)(i =>
      min(xxhash64(col("__s"), lit(i + 1))).as(s"__h$i"))
    val sigs = sh.select(col(idCol), explode(col("__sh")).as("__s"))
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array(Seq.tabulate(numHashes)(i => col(s"__h$i")): _*).as("__sig"))
    sh.join(sigs, idCol)
  }

  /** Banded LSH candidate pairs over a minhash signature column.
    * Documents sharing any band key become a candidate pair.
    * Buckets larger than `maxBucket` are dropped (boilerplate/empty-doc
    * mega-buckets would otherwise go quadratic). */
  def lshCandidates(docs: DataFrame, idCol: String, sigCol: String,
                    numBands: Int, rowsPerBand: Int,
                    maxBucket: Int = 1000): DataFrame = {
    val bandKeys = docs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
      .as(Seq("band", "key")))
    val small = bandKeys.groupBy("band", "key")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // pair within bucket: explode twice with an ordering guard
    small.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** End-to-end MinHash near-dup: candidates verified with exact
    * n-gram Jaccard ≥ `threshold`. Returns (a, b, jaccard).
    *
    * Shape (the 100 TB concern is shuffle width, not candidate count):
    * ONE shingle explode feeds one aggregation producing both the
    * minhash signature (map-side partial mins) and the doc's hashed
    * shingle set; band keys explode from the signature with that set
    * attached, so each doc's set travels once per band bucket —
    * O(docs × bands) array shipments instead of O(pairs × 2) as a
    * pair-side join would cost (pairs ≫ docs on near-dup-dense data).
    * Verification is bucket-local: pairs explode within the collected
    * bucket, a length filter prunes impossible pairs before the
    * intersect, and the final distinct collapses pairs caught by
    * several bands. Shingles are compared as xxhash64 values — set
    * sizes and intersections are collision-exact for practical
    * purposes (64-bit, corpus-vocab scale).
    */
  /** Per-doc (sorted shingle-hash set, band-key vector) — the shared
    * signature stage of the batch near-dup join ([[nearDuplicates]])
    * and the incremental index ([[graft.streaming.IncrementalNearDup]]):
    * band keys are a pure function of the text, so a doc indexed today
    * collides with a doc arriving next month exactly as it would have
    * in one batch. Returns (idCol, __shh, __bk). */
  private[graft] def bandSignatures(docs: DataFrame, idCol: String,
                                    textCol: String, shingleLen: Int,
                                    numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "bands must tile the signature")
    val r = numHashes / numBands
    def bk(sig: Column): Column = array(Seq.tabulate(numBands)(b =>
      xxhash64(slice(sig, b * r + 1, r), lit(b))): _*)
    if (shingleLen == 1) {
      // 1-gram shingles are distinct tokens: the whole signature stage
      // collapses into ONE row-local codegen kernel (minhash_signature)
      // — no explode, no hash-agg shuffle, bit-identical output
      // (SignatureParitySpec). The null-text filter mirrors the agg
      // path, where explode(null) drops the row.
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol), graft.functions.signatures
          .minhash_signature(col(textCol), numHashes).as("__m"))
        .select(col(idCol), col("__m.shh").as("__shh"),
          bk(col("__m.sig")).as("__bk"))
    } else {
      val ex = docs.select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), shingleLen)).as("__s"))
      val minAggs = Seq.tabulate(numHashes)(i =>
        min(xxhash64(col("__s"), lit(i + 1))).as(s"__h$i"))
      val aggs = minAggs :+ sort_array(collect_set(xxhash64(col("__s")))).as("__shh")
      val sigs = ex.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
        .select(col(idCol),
          array(Seq.tabulate(numHashes)(i => col(s"__h$i")): _*).as("__sig"),
          col("__shh"))
      sigs.select(col(idCol), col("__shh"), bk(col("__sig")).as("__bk"))
    }
  }

  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int = 3, numHashes: Int = 64,
                     numBands: Int = 16, threshold: Double = 0.7,
                     maxBucket: Int = 1000): DataFrame = {
    // members carry their full band-key vector (numBands longs — tiny
    // next to the shingle set) so the pair can apply the verify-ONCE
    // guard below
    val withBk = bandSignatures(docs, idCol, textCol,
      shingleLen, numHashes, numBands)
    val bandKeys = withBk.select(col(idCol), col("__shh"), col("__bk"),
      posexplode(col("__bk")).as(Seq("band", "key")))
    // per-doc band-survival vector: __ok[b] ⇔ the doc's band-b bucket
    // stayed under maxBucket. The verify-once guard must skip CAPPED
    // bands (their buckets are dropped), or pairs whose first common
    // band was capped would silently vanish — recall under caps has to
    // stay exactly what the multi-band emission gave. The size
    // aggregation is map-side-combinable and the join is on the same
    // (band, key) the bucketing shuffles anyway.
    // ONE count window over the band rows instead of a groupBy-plus-
    // self-join (the containmentPairs discipline): the window and the
    // bucket groupBy below share the same (band, key) exchange, so the
    // per-key size costs no extra shuffle and no join stage.
    val sizedKeys = bandKeys.withColumn("__n",
      count(lit(1)).over(Window.partitionBy("band", "key")))
    val masked = sizedKeys
      .groupBy(idCol)
      .agg(first(col("__shh")).as("__shh"), first(col("__bk")).as("__bk"),
           sort_array(collect_list(struct(col("band"),
             (col("__n") <= maxBucket).as("ok")))).as("__okArr"))
      .select(col(idCol), col("__shh"), col("__bk"),
        array(Seq.tabulate(numBands)(b =>
          col("__okArr")(b)("ok")): _*).as("__ok"))
    val buckets = masked.select(col(idCol), col("__shh"), col("__bk"),
        col("__ok"), posexplode(col("__bk")).as(Seq("band", "key")))
      .groupBy("band", "key")
      .agg(collect_list(struct(col(idCol).as("__id"), col("__shh"),
        col("__bk"), col("__ok"))).as("__ms"))
      .filter(size(col("__ms")).between(2, maxBucket))
    val nx = size(col("x.__shh")); val ny = size(col("y.__shh"))
    // verify-ONCE guard: a pair colliding in k surviving bands would
    // otherwise be verified k times and need a final distinct; emitting
    // only from the FIRST surviving band both agree on runs the
    // expensive merge walk once per pair. Unrolled CASE (numBands is a
    // plan-time constant) — codegen'd long comparisons, no lambda.
    val firstCommonBand = Seq.range(0, numBands).foldRight(lit(-1)) {
      (b, rest) => when(element_at(col("x.__bk"), b + 1) ===
                        element_at(col("y.__bk"), b + 1) &&
                        element_at(col("x.__ok"), b + 1), lit(b))
                     .otherwise(rest)
    }
    val mainPairs = buckets
      .select(col("__ms"), col("band"), explode(col("__ms")).as("x"))
      .select(col("band"), col("x"), explode(col("__ms")).as("y"))
      .filter(col("x.__id") < col("y.__id"))
      // length filter: jaccard ≥ t forces t·|x| ≤ |y| ∧ t·|y| ≤ |x|
      .filter(ny >= lit(threshold) * nx && nx >= lit(threshold) * ny)
      .filter(col("band") === firstCommonBand)
      // per-pair hot loop: native merge walk over the sorted hash sets
      // (array_intersect builds a hash set per pair — allocation +
      // hashing the walk doesn't pay)
      .withColumn("__si", graft.functions.arrays.sorted_intersect_size(
        col("x.__shh"), col("y.__shh")))
      .withColumn("jaccard",
        col("__si").cast("double") / (nx + ny - col("__si")))
      .filter(col("jaccard") >= threshold)
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
              round(col("jaccard"), 4).as("jaccard"))

    // OVER-cap buckets: emit a min-anchor STAR instead of dropping the
    // bucket whole. Dropping kept candidate volume sub-quadratic but
    // could DISCONNECT a duplicate cluster whose only witnesses sat in
    // capped buckets (cluster gate, DedupRecallGateSpec). The star —
    // (bucket-min, member) for every member — restores bucket-linear
    // connectivity witnesses at bucket-linear cost, with no windows
    // and no single-task sorts: the anchor table is one row per
    // over-cap bucket (corpus/maxBucket at most, tiny in practice) so
    // both joins broadcast, and candidates stream out of the band-row
    // scan. Verification stays exact, so the pair gates (⊆ exact,
    // identical jaccard) are unaffected; pairs found by both paths
    // collapse in the output-sized dropDuplicates.
    val anchors = sizedKeys.filter(col("__n") > maxBucket)
      .groupBy("band", "key").agg(min(col(idCol)).as("__mid"))
    val anchorSets = anchors.join(
      withBk.select(col(idCol).as("__mid"), col("__shh").as("__msh")), "__mid")
    val sx = col("__msh"); val sy = col("__shh")
    val sxn = size(sx); val syn = size(sy)
    val starPairs = bandKeys
      .join(broadcast(anchorSets), Seq("band", "key"))
      .filter(col(idCol) =!= col("__mid"))
      .filter(syn >= lit(threshold) * sxn && sxn >= lit(threshold) * syn)
      .withColumn("__si",
        graft.functions.arrays.sorted_intersect_size(sx, sy))
      .withColumn("jaccard",
        col("__si").cast("double") / (sxn + syn - col("__si")))
      .filter(col("jaccard") >= threshold)
      .select(col("__mid").as("a"), col(idCol).as("b"),
              round(col("jaccard"), 4).as("jaccard"))

    mainPairs.unionByName(starPairs).dropDuplicates("a", "b")
  }

  /** EXACT all-pairs Jaccard-similarity self-join via prefix filtering
    * (the PPJoin family): every pair with jaccard ≥ `threshold` is
    * emitted — no probabilistic recall — without an all-pairs join.
    *
    * Why it's exact: order all tokens by (global frequency asc, token).
    * For docs x,y with J(x,y) ≥ t, the overlap is ≥ ⌈t·|x|⌉, so the
    * smallest common token sits within the first |x| − ⌈t·|x|⌉ + 1
    * tokens of x (and symmetrically of y) — any qualifying pair shares
    * a token in both *prefixes*. Candidates therefore come only from
    * (partition, prefix-token) buckets; rare-first ordering keeps those
    * buckets small on realistic corpora (the all-pairs blow-up of a
    * low-cardinality partition key — e.g. `source` — becomes
    * co-occurrence of *rare tokens*).
    *
    * Verification is local to the bucket and runs ONCE per pair:
    * members arrive as (id, sorted int-token-id array), pairs explode
    * within the group (no second shuffle of token arrays), a length
    * filter (t·|x| ≤ |y| ∧ t·|y| ≤ |x|) prunes first, and a pair is
    * fully verified only in the bucket keyed by its smallest common
    * prefix token (PPJoin's dedup rule — a cheap prefix-only intersect
    * guards it), so no duplicate intersects and no final distinct.
    *
    * `partitionCols` scopes pairs (e.g. within `source`); pass Nil for
    * a global join. Token arrays must be distinct-element
    * (`array_distinct` upstream). Equality with brute force is
    * property-tested in ExtensionsSpec.
    */
  def jaccardJoinExact(docs: DataFrame, idCol: String, tokensCol: String,
                       threshold: Double,
                       partitionCols: Seq[String] = Nil,
                       bucketCap: Int = 2000): DataFrame =
    ppjoinPairs(docs.withColumn("__side", lit(0)), idCol, tokensCol,
      threshold, partitionCols, cross = false, bucketCap)

  /** The CROSS-corpus form of [[jaccardJoinExact]] — fuzzy
    * decontamination: every (left, right) pair with jaccard ≥
    * `threshold`, exactly (no probabilistic recall), without the
    * left×right product AND without computing either side's
    * self-pairs. Same prefix-filter machinery over the tagged union
    * (the rarity order is computed on the combined vocabulary — any
    * total order keeps the prefix argument exact); only cross-side
    * pairs are generated inside each bucket. Output: (a = left id,
    * b = right id, jaccard).
    *
    * This is the overlap check exact n-gram decontamination
    * ([[contaminationCounts]]) can't do: a paraphrased benchmark doc
    * shares few exact 5-grams but a high token-set jaccard. */
  def jaccardJoinAcross(left: DataFrame, right: DataFrame, idCol: String,
                        tokensCol: String, threshold: Double,
                        bucketCap: Int = 2000): DataFrame = {
    val l = left.select(col(idCol), col(tokensCol))
      .withColumn("__side", lit(0))
    val r = right.select(col(idCol), col(tokensCol))
      .withColumn("__side", lit(1))
    ppjoinPairs(l.unionByName(r), idCol, tokensCol, threshold, Nil,
      cross = true, bucketCap)
  }

  /** [[jaccardJoinAcross]] when both corpora live in ONE frame split by
    * a predicate (the decontamination shape: bench rows are a `source`
    * subset of the same table). `rightSide` true ⇒ right corpus (the
    * `b` output column); false OR NULL ⇒ left. So, for a frame with
    * distinct ids, the output equals `jaccardJoinAcross(
    * docs.filter(!coalesce(rightSide, false)), docs.filter(rightSide),
    * …)` — not `docs.filter(!rightSide)`, which drops the NULL rows
    * (pinned in ExtensionsSpec). The two-frame form plans the corpus
    * scan + tokenize TWICE (a filtered scan per union leg, and again
    * inside the vocabulary subtree — four scans of the same table),
    * this one plans it once per consumer (guide §2.4: remove duplicate
    * passes). */
  def jaccardJoinAcrossTagged(docs: DataFrame, idCol: String,
                              tokensCol: String, rightSide: Column,
                              threshold: Double,
                              bucketCap: Int = 2000): DataFrame =
    ppjoinPairs(
      docs.select(col(idCol), col(tokensCol),
        when(rightSide, 1).otherwise(0).as("__side")),
      idCol, tokensCol, threshold, Nil, cross = true, bucketCap)

  /** EXACT all-pairs set-CONTAINMENT self-join: every pair with
    * overlap coefficient |x∩y| / min(|x|,|y|) ≥ `threshold` — the
    * ASYMMETRIC dedup axis. A short doc fully embedded in a long one
    * (an excerpt, a quoted passage, a doc re-issued with a long
    * appendix) has containment 1.0 but jaccard ≈ |x|/|y|, so the
    * symmetric join ([[jaccardJoinExact]]) provably misses it whenever
    * the size ratio exceeds (1−t)/t — the standard blind spot of
    * jaccard-only near-dup in training-data curation.
    *
    * Exactness (asymmetric prefix filter — the PRETTI/PIEJoin family):
    * for a qualifying pair with nx ≤ ny, the overlap is ≥ ⌈t·nx⌉, so x
    * has ≤ nx − ⌈t·nx⌉ tokens OUTSIDE y and one of its first
    * nx − ⌈t·nx⌉ + 1 rare-first tokens must be in y. The larger side
    * admits no such bound (its prefix length would depend on the
    * partner's size), so only the SMALLER side probes with its prefix
    * while every doc posts ALL its tokens to the index side; candidates
    * are (probe, index) co-occurrences in a token bucket. Rare-first
    * ranking keeps probe tokens selective; the index side of a
    * frequent-token bucket is that token's full inverted list, so
    * over-cap buckets hash-chunk their INDEX members into ⌈B/cap⌉
    * sub-buckets and replicate only the (rare) probe members across
    * them — every pair still materializes exactly once, in its index
    * member's chunk.
    *
    * Candidates travel as (id, side, n) only — the full-token index
    * side would otherwise cost n² longs per n-token doc in shuffle
    * bytes. Verify runs ONCE per pair: roles are unique (probe =
    * smaller set, (size, id)-lexicographic tie-break), candidate id
    * pairs are deduped, and the token arrays re-join once per deduped
    * pair for the exact intersect (a native sorted merge walk).
    * Output: (a, b, containment) with a < b by id.
    *
    * Token arrays must be distinct-element (`array_distinct`
    * upstream). `minSize` drops trivially-contained tiny docs from
    * BOTH roles (a 1-token doc is "contained" in anything sharing the
    * token). Equality with the brute-force all-pairs join is
    * property-tested in ContainmentJoinSpec. */
  def containmentJoin(docs: DataFrame, idCol: String, tokensCol: String,
                      threshold: Double,
                      partitionCols: Seq[String] = Nil,
                      minSize: Int = 1,
                      bucketCap: Int = 2000,
                      sketchK: Int = DefaultSketchK): DataFrame =
    containmentPairs(docs.withColumn("__side", lit(0)), idCol, tokensCol,
      threshold, partitionCols, cross = false, minSize, bucketCap, sketchK)

  /** The CROSS-corpus form of [[containmentJoin]] — ASYMMETRIC fuzzy
    * decontamination: every (left, right) pair with overlap coefficient
    * ≥ `threshold`, exactly, without the cross product and without
    * either side's self-pairs. This is the overlap check BOTH exact
    * n-grams and symmetric jaccard miss: a short benchmark item
    * paraphrased inside a long training doc shares few exact n-grams
    * AND has jaccard ≈ |bench|/|doc|, but its token set is nearly
    * contained — containment sees it at any size ratio. Output:
    * (a = left id, b = right id, containment). */
  def containmentJoinAcross(left: DataFrame, right: DataFrame,
                            idCol: String, tokensCol: String,
                            threshold: Double, minSize: Int = 1,
                            bucketCap: Int = 2000,
                            sketchK: Int = DefaultSketchK): DataFrame = {
    val l = left.select(col(idCol), col(tokensCol))
      .withColumn("__side", lit(0))
    val r = right.select(col(idCol), col(tokensCol))
      .withColumn("__side", lit(1))
    containmentPairs(l.unionByName(r), idCol, tokensCol, threshold, Nil,
      cross = true, minSize, bucketCap, sketchK)
  }

  /** [[containmentJoinAcross]] over ONE frame split by a predicate —
    * see [[jaccardJoinAcrossTagged]] for why (half the corpus scans).
    * `rightSide` true ⇒ right corpus (`b` column); false OR NULL ⇒
    * left. For a frame with distinct ids the output equals
    * `containmentJoinAcross(docs.filter(!coalesce(rightSide, false)),
    * docs.filter(rightSide), …)` (pinned in ContainmentJoinSpec). */
  def containmentJoinAcrossTagged(docs: DataFrame, idCol: String,
                                  tokensCol: String, rightSide: Column,
                                  threshold: Double, minSize: Int = 1,
                                  bucketCap: Int = 2000,
                                  sketchK: Int = DefaultSketchK): DataFrame =
    containmentPairs(
      docs.select(col(idCol), col(tokensCol),
        when(rightSide, 1).otherwise(0).as("__side")),
      idCol, tokensCol, threshold, Nil, cross = true, minSize, bucketCap,
      sketchK)

  /** Default bottom-k sketch size for the containment join. The sketch
    * is the in-bucket prefilter AND, when it covers a whole set, the
    * fast-path exact verifier (no pair-dedup exchange, no token-array
    * re-join — see the fast/slow split in [[containmentPairs]]), so k
    * should cover the SHORT side of the pairs the join targets:
    * benchmark items, excerpts, quoted passages — the ≤32-token sets
    * that containment dedup exists to catch inside longer docs. At 24
    * (the r10 value, chosen for the prefilter alone before the fast
    * path existed) the catalog's decontamination corpus routed 98.7%
    * of its 1.25M qualifying pairs through the slow path — a 27 MB
    * pair-dedup exchange plus two array re-joins that the fast path
    * skips; at 32 every such pair verifies in-bucket (measured r14:
    * d16 pair CPU −66%, identical output). Cost at scale: +8 ints per
    * INDEX row of shuffle (128 B packed per row, still constant);
    * sets wider than k keep the identical slow-path plan. */
  val DefaultSketchK: Int = 32

  /** Partition count pinned onto the set-join bucket exchanges. The
    * bucket pipelines' shuffles are BYTE-small but CPU-dense (the
    * in-bucket pair enumeration + verify is the whole cost of the
    * join), so AQE's byte-based coalescing collapsed them onto 2-4
    * tasks at bench scale (measured r14: j02/d16 verify — 5.9 CPU-s
    * riding a 3.8 MB exchange). An explicit numPartitions repartition
    * on the SAME keys replaces the planner's ENSURE_REQUIREMENTS
    * exchange one-for-one (no extra shuffle — the window/agg above it
    * reuse the pinned partitioning) and is exempt from AQE coalescing
    * by origin (REPARTITION_BY_NUM). Scale-adaptive, not a local
    * constant: max of the session's shuffle partitions (the cluster's
    * tuned width) and defaultParallelism (total cores). */
  private def pinnedShufflePartitions(df: DataFrame): Int =
    math.max(df.sparkSession.sessionState.conf.numShufflePartitions,
      df.sparkSession.sparkContext.defaultParallelism)

  /** Collapse documents sharing an identical (partition, side, token
    * SET) into one representative row before pair enumeration — guide
    * §2.3 "shuffle fewer bytes": every downstream stage (vocab rank,
    * prefix explode, bucket shuffle, in-bucket quadratic verify) sees
    * distinct sets only, and the quadratic candidate work shrinks with
    * the square of the duplication factor. Exact by expansion: members
    * of a group have similarity 1.0 with each other and the SAME
    * similarity as their representative to every partner (set
    * equality), so the pair output is reconstructed losslessly by
    * [[expandSetGroups]]. Output: (pc…, __side, tokensCol = sorted set,
    * idCol = min member id, __gids = all member ids). */
  private def groupIdenticalSets(docs: DataFrame, idCol: String,
                                 tokensCol: String,
                                 partitionCols: Seq[String]): DataFrame =
    docs.groupBy((partitionCols.map(col) :+ col("__side")) :+
        array_sort(col(tokensCol)).as(tokensCol): _*)
      .agg(min(col(idCol)).as(idCol),
           collect_list(col(idCol)).as("__gids"))

  /** Re-expand representative pairs `(a, b, simCol)` to the full member
    * pair set, plus the within-group pairs (identical sets — similarity
    * exactly 1.0) that representative enumeration no longer sees. In
    * cross mode groups are side-pure: `a` expands against left groups,
    * `b` against right groups, orientation is preserved, and
    * within-group (same-side) pairs are correctly absent. In self mode
    * ids are globally unique, expanded pairs re-order by id, and every
    * group of k ≥ 2 docs contributes its C(k,2) pairs at 1.0. */
  private def expandSetGroups(repPairs: DataFrame, groups: DataFrame,
                              idCol: String, tokensCol: String,
                              cross: Boolean, simCol: String): DataFrame = {
    val la = (if (cross) groups.filter(col("__side") === 0) else groups)
      .select(col(idCol).as("a"), col("__gids").as("__ga"))
    val rb = (if (cross) groups.filter(col("__side") === 1) else groups)
      .select(col(idCol).as("b"), col("__gids").as("__gb"))
    val expanded = repPairs.join(la, "a").join(rb, "b")
      .select(col(simCol), explode(col("__ga")).as("__ma"), col("__gb"))
      .select(col(simCol), col("__ma"), explode(col("__gb")).as("__mb"))
      .select(
        (if (cross) col("__ma") else least(col("__ma"), col("__mb"))).as("a"),
        (if (cross) col("__mb") else greatest(col("__ma"), col("__mb"))).as("b"),
        col(simCol))
    if (cross) expanded
    else {
      // empty sets never pair (no tokens to share — the brute-force
      // 0/0 similarity is NaN and fails any threshold), so they are
      // excluded from the 1.0 within-group leg too
      val within = groups
        .filter(size(col("__gids")) >= 2 && size(col(tokensCol)) >= 1)
        .select(col("__gids"))
        .select(explode(col("__gids")).as("__ma"), col("__gids"))
        .select(col("__ma"), explode(col("__gids")).as("__mb"))
        .filter(col("__ma") < col("__mb"))
        .select(col("__ma").as("a"), col("__mb").as("b"),
          lit(1.0).as(simCol))
      expanded.unionByName(within)
    }
  }

  /** Candidate generation carries (id, side, n) plus a CONSTANT-size
    * bottom-k sketch — never the token arrays: the index side posts
    * EVERY token of every doc, so rows that dragged the full array
    * would cost n² longs per n-token doc in shuffle and bucket-buffer
    * bytes (the sketch is capped at `sketchK` ints — n·k, not n²).
    * The sketch buys the IN-BUCKET prefilter: a provable upper bound
    * on |x∩y| ([[graft.functions.arrays.sketch_intersect_bound]])
    * kills sub-threshold candidates where they are born, before they
    * cross the pair-dedup exchange — the dominant ×100 cost on
    * frequency-flat vocabularies, where hashed keys provably don't
    * help (BENCH_NOTES round 10). Soundness: bound ≥ true overlap, so
    * no qualifying pair is dropped; output is bit-identical. Arrays
    * re-join once per DEDUPED pair for the verify (ids must be
    * globally unique, as everywhere in the dedup suite). Bucket sizes
    * come from ONE count window over the shared probe∪index pass — no
    * groupBy-plus-self-join re-running the explode lineage. */
  private def containmentPairs(docs: DataFrame, idCol: String,
                               tokensCol: String, threshold: Double,
                               partitionCols: Seq[String], cross: Boolean,
                               minSize: Int,
                               bucketCap: Int,
                               sketchK: Int = DefaultSketchK): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(sketchK >= 1, s"sketchK must be >= 1, got $sketchK")
    val pc = partitionCols.map(col)
    def plen(n: Column): Column =
      (n - ceil(lit(threshold) * n) + 1).cast("int")

    // NULL partition keys never pair (the brute-force/oracle ===-join
    // semantics; the bucketing window would otherwise group NULLs
    // together — ADVICE r14)
    val nn = partitionCols.foldLeft(docs)((d, c) => d.filter(col(c).isNotNull))
    // SET-LEVEL dedup before enumeration (r15, guide §2.3): identical
    // token sets collapse to one representative; pairs re-expand after
    // verify (exact — see groupIdenticalSets/expandSetGroups). The
    // group frame feeds the rep pipeline AND both expansion sides, so
    // it persists like the bucket frame below.
    val groups = groupIdenticalSets(
      nn.filter(size(col(tokensCol)) >= minSize),
      idCol, tokensCol, partitionCols).persist()
    registerPersisted(groups)
    val reps = groups.select(
      (pc :+ col(idCol) :+ col("__side")) :+ col(tokensCol): _*)

    val base = rankedSets(reps, idCol, tokensCol, partitionCols)
      .withColumn("__n", size(col("__w")))
      // bottom-k sketch: first k RANKED tokens (already sorted
      // rare-first), compressed 8→4 bytes by a MONOTONE saturating
      // pack (11-bit range-partition id, 20-bit in-partition rank;
      // saturation and collisions only ever loosen the bound upward)
      .withColumn("__sk", transform(slice(col("__w"), 1, sketchK),
        sketchPack(_)))
      // EXACT-sketch flag: the sketch covers the whole set (n ≤ k) and
      // the pack is injective on it (no saturated entry) — then the
      // bound below computes the TRUE intersection and the packed
      // sketch is an order-isomorphic copy of the token set, enabling
      // the in-bucket fast path.
      .withColumn("__xf", size(col("__w")) <= sketchK &&
        shiftrightunsigned(element_at(col("__w"), -1), 40) <= lit(0x7FFL) &&
        forall(col("__w"),
          v => v.bitwiseAND(lit((1L << 40) - 1)) <= lit(0xFFFFFL)))

    // Probe rows (role 0): the doc's rare-first prefix, valid when it
    // is the smaller side of a pair. Index rows (role 1): every token
    // of every doc. (In cross mode BOTH corpora probe and index —
    // either side of a pair may be the smaller one; the role filter
    // below keeps each pair to its single valid orientation.)
    val slim = pc :+ col("__id") :+ col("__side") :+ col("__n") :+
      col("__sk") :+ col("__xf")
    val probe = base.select((slim :+ lit(0).as("__role")) :+
      explode(slice(col("__w"), lit(1), plen(col("__n")))).as("__pt"): _*)
    val index = base.select((slim :+ lit(1).as("__role")) :+
      explode(col("__w")).as("__pt"): _*)

    // Over-cap buckets: chunk the INDEX side (the unbounded one — a
    // frequent token's full inverted list) into ⌈B/cap⌉ hash chunks,
    // replicate probes across the chunks. A pair generates only in
    // its index member's chunk.
    val w = Window.partitionBy(pc :+ col("__pt"): _*)
    // pinned-width bucket exchange: replaces (not adds to) the window's
    // planner exchange — see pinnedShufflePartitions
    val chunked = probe.unionByName(index)
      .repartition(pinnedShufflePartitions(docs), pc :+ col("__pt"): _*)
      .withColumn("__nc", greatest(lit(1),
        least(ceil(sum(when(col("__role") === 1, 1L).otherwise(0L)).over(w)
          / lit(bucketCap)), lit(128))).cast("int"))
      .select((pc :+ col("__pt") :+ col("__id") :+ col("__side") :+
        col("__n") :+ col("__sk") :+ col("__xf") :+ col("__role")) :+
        explode(when(col("__role") === 1,
            array(pmod(xxhash64(col("__id"), lit(17)), col("__nc"))
              .cast("int")))
          .otherwise(sequence(lit(0), col("__nc") - 1))).as("__c"): _*)

    val member = struct(col("__id"), col("__side"), col("__n"),
      col("__sk"), col("__xf"))
    // Cross mode collects the index members SPLIT BY SIDE, so a probe
    // explodes only against the OPPOSITE side's list: same-side
    // (probe, member) combinations — the majority of bucket volume
    // when one corpus dominates — are never generated instead of
    // being generated and filtered (measured on d16: 52.5M → cross-
    // side-only generation, the single biggest term in its wall).
    // Index lists are FURTHER split by the exact-sketch flag so the
    // fast and slow branches below each generate only THEIR pairs
    // (their union is all pairs exactly once — the branch split never
    // re-explodes the other branch's volume, and on an all-exact
    // corpus the slow branch's generate is over empty lists).
    def isIndex(exact: Boolean): Column =
      col("__role") === 1 && (!lit(cross) || col("__side") === 1) &&
        (if (exact) col("__xf") else !col("__xf"))
    def isIndex0(exact: Boolean): Column =
      lit(cross) && col("__role") === 1 && col("__side") === 0 &&
        (if (exact) col("__xf") else !col("__xf"))
    // Persisted: the fast and slow branches below are SEPARATE
    // consumers of this frame, and relying on AQE to reuse the
    // exchange across their union rebuilt the whole bucket lineage
    // (vocab rank join + chunk window + collect_list agg) twice —
    // measured +1.5-3.5 s at sf0.1 (BENCH_NOTES r11). Both branches
    // now scan one InMemoryRelation by construction; ContextCleaner
    // reclaims the blocks when the frame is GC'd, and MEMORY_AND_DISK
    // spills rather than OOMs at scale (bucket rows are cap-bounded).
    val buckets = chunked
      .groupBy(pc :+ col("__pt") :+ col("__c"): _*)
      .agg(collect_list(when(col("__role") === 0, member)).as("__ps"),
           collect_list(when(isIndex(true), member)).as("__ise"),
           collect_list(when(isIndex(false), member)).as("__isi"),
           collect_list(when(isIndex0(true), member)).as("__is0e"),
           collect_list(when(isIndex0(false), member)).as("__is0i"))
      .filter(size(col("__ps")) >= 1 &&
        size(col("__ise")) + size(col("__isi")) +
          size(col("__is0e")) + size(col("__is0i")) >= 1)
      .persist()
    registerPersisted(buckets)

    val nx = col("x.__n"); val ny = col("y.__n")
    def aExpr: Column =
      (if (cross) when(col("x.__side") === 0, col("x.__id"))
         .otherwise(col("y.__id"))
       else least(col("x.__id"), col("y.__id"))).as("a")
    def bExpr: Column =
      (if (cross) when(col("x.__side") === 0, col("y.__id"))
         .otherwise(col("x.__id"))
       else greatest(col("x.__id"), col("y.__id"))).as("b")
    // the probe's opposite-side index lists (exact / inexact)
    def yExact: Column =
      if (cross) when(col("x.__side") === 0, col("__ise"))
        .otherwise(col("__is0e"))
      else col("__ise")
    def yInexact: Column =
      if (cross) when(col("x.__side") === 0, col("__isi"))
        .otherwise(col("__is0i"))
      else col("__isi")
    // unique roles: probe strictly smaller; equal sizes tie-break by
    // id (self) / by side (cross, LEFT probes — generation above is
    // already cross-side-only in cross mode).
    def roleFilter: Column =
      if (cross) nx < ny || (nx === ny && col("x.__side") < col("y.__side"))
      else nx < ny || (nx === ny && col("x.__id") < col("y.__id"))
    // IN-BUCKET bound: provable upper limit on the pair's overlap —
    // EXACT when both sketches are (the fast-path precondition), never
    // below the truth otherwise, so filtering on it is always sound.
    def ubound: Column = graft.functions.arrays.sketch_intersect_bound(
      col("x.__sk"), nx, col("y.__sk"), ny)
    val probed = buckets.select(col("__pt"), col("__ise"), col("__isi"),
      col("__is0e"), col("__is0i"), explode(col("__ps")).as("x"))

    // FAST path — both sketches EXACT (full + injectively packed):
    // the bound IS the true overlap, so the pair's containment is
    // known in-bucket with no array fetch; and the verify-once guard
    // is the first-COMMON-token rule (emit only from the bucket of
    // min(x ∩ y), which is provably within x's probe prefix whenever
    // any common token is — the same argument that makes the prefix
    // filter exact), so no pair-dedup exchange either. On corpora
    // whose sets fit the sketch (benchmark items, short docs — and
    // the entire ×100 sweep corpus) the quadratic candidate volume
    // never leaves its bucket task.
    val fast = probed
      .filter(col("x.__xf"))
      .select(col("__pt"), col("x"), explode(yExact).as("y"))
      .filter(roleFilter)
      .withColumn("__ub", ubound)
      .filter(col("__ub") >= lit(threshold) * nx &&
        sketchPack(col("__pt")) === graft.functions.arrays
          .sorted_first_common(col("x.__sk"), col("y.__sk")))
      .select(aExpr, bExpr,
        round(col("__ub").cast("double") / nx, 4).as("containment"))

    // SLOW path — a truncated or saturated sketch on either side (an
    // exact probe explodes only against the INEXACT index list; an
    // inexact probe against both): the survivors of the (still sound)
    // prefilter dedup once per pair, re-join their full token arrays,
    // and verify exactly.
    val slowCand = probed
      .select(col("__pt"), col("x"), explode(
        when(col("x.__xf"), yInexact)
          .otherwise(concat(yExact, yInexact))).as("y"))
      .filter(roleFilter)
      .filter(ubound >= lit(threshold) * nx)
      .select(aExpr, bExpr, nx.as("__nmin"))
      // a pair reaches this point once per shared (prefix ∩ partner)
      // token × its chunk; collapse BEFORE the array fetch so the
      // verify below runs exactly once per pair
      .dropDuplicates("a", "b")

    val aSrc = if (cross) base.filter(col("__side") === 0) else base
    val bSrc = if (cross) base.filter(col("__side") === 1) else base
    val slow = slowCand
      .join(aSrc.select(col("__id").as("a"), col("__w").as("__wa")), "a")
      .join(bSrc.select(col("__id").as("b"), col("__w").as("__wb")), "b")
      .withColumn("__si", graft.functions.arrays.sorted_intersect_size(
        col("__wa"), col("__wb")))
      .withColumn("containment", col("__si").cast("double") / col("__nmin"))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"),
        round(col("containment"), 4).as("containment"))
    expandSetGroups(fast.unionByName(slow), groups, idCol, tokensCol,
      cross, "containment")
  }

  /** MONOTONE saturating 8→4-byte compression of a rankedSets token
    * id (pid<<40 | rank → sat11(pid)<<20 | sat20(rank)): order-
    * preserving always, INJECTIVE whenever neither field saturates —
    * the exact-sketch fast-path precondition checked by `__xf`. */
  private def sketchPack(v: Column): Column =
    (shiftleft(least(shiftrightunsigned(v, 40), lit(0x7FFL)), 20) +
      least(v.bitwiseAND(lit((1L << 40) - 1)), lit(0xFFFFFL)))
      .cast("int")

  /** Rank every token rare-first into a long id and re-assemble each
    * doc as a SORTED long array — the shared front end of the exact
    * set-similarity joins. No global single-partition sort (a
    * billion-token vocabulary must never funnel through one task):
    * range-repartition the vocabulary on (freq, token) — range
    * partitions tile the total order, so (partition id, rank within
    * partition) is order-isomorphic to the global (freq, token) order —
    * and pack the two into one long. Downstream only needs a total
    * ORDER (prefix slicing is by array position, bucket keys by
    * equality, merge walks by comparison), not dense ids, so there is
    * no offset pass, no driver collect, and every later
    * compare/intersect runs on longs, not strings. Ids differ run-to-
    * run only by order-preserving relabeling (range boundaries are
    * sampled), which the output is invariant to. Input needs columns
    * (partitionCols…, idCol, __side, tokensCol); output is
    * (partitionCols…, __id, __side, __w). */
  private def rankedSets(docs: DataFrame, idCol: String, tokensCol: String,
                         partitionCols: Seq[String]): DataFrame = {
    val pc = partitionCols.map(col)
    val ex = docs.select(
      (pc :+ col(idCol).as("__id") :+ col("__side")) :+
        explode(col(tokensCol)).as("__t"): _*)
    val vocab = ex.groupBy("__t").agg(count(lit(1)).as("__f"))
      .repartitionByRange(col("__f"), col("__t"))
      .withColumn("__pid", spark_partition_id())
      .select(col("__t"),
        (shiftleft(col("__pid").cast("long"), 40) +
          row_number().over(Window.partitionBy(col("__pid"))
            .orderBy(col("__f"), col("__t"))).cast("long")).as("__r"))
    ex.join(vocab, "__t")
      .groupBy(pc :+ col("__id") :+ col("__side"): _*)
      .agg(sort_array(collect_list(col("__r"))).as("__w"))
  }

  private def ppjoinPairs(docs: DataFrame, idCol: String, tokensCol: String,
                          threshold: Double, partitionCols: Seq[String],
                          cross: Boolean, bucketCap: Int = 2000): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val pc = partitionCols.map(col)
    def plen(n: Column): Column =
      (n - ceil(lit(threshold) * n) + 1).cast("int")

    // NULL partition keys never pair (===-join semantics — see
    // containmentPairs); SET-LEVEL dedup before enumeration (r15,
    // guide §2.3) — identical token sets collapse to one
    // representative, pairs re-expand exactly after verify.
    val nn = partitionCols.foldLeft(docs)((d, c) => d.filter(col(c).isNotNull))
    val groups = groupIdenticalSets(nn, idCol, tokensCol, partitionCols)
      .persist()
    registerPersisted(groups)
    val reps = groups.select(
      (pc :+ col(idCol) :+ col("__side")) :+ col(tokensCol): _*)

    val sorted = rankedSets(reps, idCol, tokensCol, partitionCols)

    val pref = sorted.select(
      (pc :+ col("__id") :+ col("__side") :+ col("__w")) :+
        explode(slice(col("__w"), lit(1), plen(size(col("__w"))))).as("__pt"): _*)

    // SKEW-SPLIT pair generation (triangle partitioning). The bucket
    // walk materializes each (partition, prefix-token) group as ONE
    // collect_list row and generates its pairs in ONE task — exact and
    // cheap while buckets are small, but a single over-cap bucket (a
    // token that stopped being rare: vocab-capped corpora, templated
    // text) serializes the whole join and its agg buffer grows with
    // the bucket (measured: d11 at fact ×100 ran one task at load
    // 3/32 for 25+ min). Fix, exactness-preserving: members of a
    // B-member bucket hash into nc ≈ ⌈B/cap⌉ chunks; each member
    // replicates into the nc sub-buckets (i,j), i ≤ j, that contain
    // its chunk, and a pair materializes ONLY in the one sub-bucket
    // matching its chunk multiset {c(x), c(y)} — so every pair is
    // generated exactly once (the verify-once prefix-token guard is
    // untouched), sub-bucket arrays are ~2·cap bounded, and the B²
    // candidate work spreads over nc² tasks. Replication cost is nc
    // copies of (id, side, w) PER OVER-CAP BUCKET row only; nc is
    // bounded so the worst case stays a constant-factor shuffle.
    // bucket sizes from ONE count window over the prefix rows (the
    // containmentPairs discipline) — no groupBy-plus-self-join stage
    val nc = least(ceil(count(lit(1))
        .over(Window.partitionBy(pc :+ col("__pt"): _*)) / lit(bucketCap)),
      lit(128)).cast("int").as("__nc")
    // pinned-width bucket exchange: replaces (not adds to) the window's
    // planner exchange — see pinnedShufflePartitions
    val withChunk = pref
      .repartition(pinnedShufflePartitions(docs), pc :+ col("__pt"): _*)
      .withColumn("__nc", nc)
      .withColumn("__c",
        pmod(xxhash64(col("__id"), lit(17)), greatest(col("__nc"), lit(1)))
          .cast("int"))
      .select((pc :+ col("__pt") :+ col("__id") :+ col("__side") :+
        col("__w") :+ col("__c")) :+
        explode(transform(
          sequence(lit(0), greatest(col("__nc"), lit(1)) - 1), z =>
            struct(least(col("__c"), z).cast("int").as("i"),
                   greatest(col("__c"), z).cast("int").as("j"))))
          .as("__ij"): _*)
    val buckets = withChunk
      .groupBy(pc :+ col("__pt") :+ col("__ij"): _*)
      .agg(collect_list(struct(col("__id"), col("__side"), col("__w"),
        col("__c"))).as("__ms"))
      .filter(size(col("__ms")) >= 2)

    val nx = size(col("x.__w")); val ny = size(col("y.__w"))
    val pairs = buckets
      .select(col("__ms"), col("__pt"), col("__ij"), explode(col("__ms")).as("x"))
      .select(col("__pt"), col("__ij"), col("x"), explode(col("__ms")).as("y"))
      // self mode pairs by id order; cross mode pairs LEFT members with
      // RIGHT members only (each cross pair once, no self-side pairs)
      .filter(if (cross) col("x.__side") < col("y.__side")
              else col("x.__id") < col("y.__id"))
      // chunk-span guard: the pair materializes only in the sub-bucket
      // whose (i,j) equals its chunk multiset — once across the split
      .filter(col("__ij.i") === col("__ij.j") ||
              col("x.__c") =!= col("y.__c"))
      // length filter: |x∩y| ≥ t·max(nx,ny) is impossible otherwise
      .filter(ny >= lit(threshold) * nx && nx >= lit(threshold) * ny)
      // verify-ONCE guard: a qualifying pair's smallest common token is
      // in both prefixes, so exactly one bucket — the one keyed by that
      // token — runs the full verify; every other shared prefix token
      // drops the pair after this cheap prefix-only merge walk. (No
      // final distinct, no duplicated full intersects.)
      .filter(col("__pt") === graft.functions.arrays.sorted_first_common(
        slice(col("x.__w"), lit(1), plen(nx)),
        slice(col("y.__w"), lit(1), plen(ny))))
      // bind the intersect size through its own projected column (one
      // evaluation) — the per-pair hot expression, a native merge walk
      // over the rank-sorted token ids
      .withColumn("__si", graft.functions.arrays.sorted_intersect_size(
        col("x.__w"), col("y.__w")))
      .withColumn("jaccard",
        col("__si").cast("double") / (nx + ny - col("__si")))
      .filter(col("jaccard") >= threshold)
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
              round(col("jaccard"), 4).as("jaccard"))
    expandSetGroups(pairs, groups, idCol, tokensCol, cross, "jaccard")
  }

  /** Decontamination: per-corpus-doc count of word n-grams that also
    * occur anywhere in `benchmark` — the standard test-set-overlap
    * check before training (drop or flag docs with any hit). Docs
    * shorter than n tokens carry no n-gram evidence and are skipped on
    * both sides.
    *
    * Shape at 100 TB: one distinct over benchmark grams (benchmark ≪
    * corpus, so the distinct side is small and the join broadcasts or
    * hash-joins cheaply), one explode+join+count over corpus grams —
    * all linear in corpus size, no pair blow-up. With `hashGrams` the
    * join runs on xxhash64 longs instead of gram strings (≈5-10×
    * narrower shuffle; collision-exact for practical purposes —
    * spec-asserted equal on real data). The catalog query keeps raw
    * strings so the DuckDB oracle mirrors it exactly.
    *
    * Guardrail: the exact path materializes every distinct benchmark
    * gram as the join build side, which is a memory cliff when the
    * "benchmark" is actually corpus-sized (measured: ~15M gram strings
    * OOM an 8 GB single node). Before planning the join this estimates
    * the distinct-gram cardinality with ONE cheap aggregate over the
    * benchmark (approx_count_distinct, ±~2%) and refuses above
    * `maxBenchGrams` with a message naming the sub-linear alternative
    * ([[contaminationCountsBloom]] — identical output, scan-local
    * prefilter instead of a gram-set build side) rather than letting
    * the executor die mid-join. Raise the budget deliberately on
    * clusters sized for it, or pass `Long.MaxValue` to opt out. */
  def contaminationCounts(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          hashGrams: Boolean = false,
                          maxBenchGrams: Long = 4000000L): DataFrame = {
    def grams(df: DataFrame) = gramRows(df, idCol, textCol, n, hashGrams)
    if (maxBenchGrams != Long.MaxValue) {
      val est = grams(benchmark)
        .agg(approx_count_distinct(col("__g")).as("__n"))
        .head().getLong(0)
      require(est <= maxBenchGrams,
        s"contaminationCounts: benchmark has ~$est distinct $n-grams, over " +
        s"the $maxBenchGrams exact-path budget. The exact path builds the " +
        "full gram set as a join side and will exhaust executor memory at " +
        "this size; use contaminationCountsBloom (identical per-doc counts, " +
        "bloom-prefiltered scan-local probe) or raise maxBenchGrams if the " +
        "cluster is sized for it.")
    }
    val bench = grams(benchmark).select("__g").distinct()
    grams(corpus).join(bench, "__g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** [[contaminationCounts]] for when the benchmark gram set is too
    * big to broadcast raw: a Bloom filter over the bench gram hashes
    * (built once, tree-merged — `graft.functions.bloom`) prefilters
    * corpus grams SCAN-LOCALLY, so only the ~fpp false positives plus
    * true matches enter the exact verify join; the shuffle shrinks
    * from |corpus grams| to |matches| + fpp·|corpus grams|. Output is
    * identical to `contaminationCounts(hashGrams = true)` — the bloom
    * only prunes, the exact join keeps the decision (no false
    * negatives by construction, spec-pinned).
    *
    * Builds the filter EAGERLY (one action over the benchmark — the
    * explicit analog of the runtime-filter injection the session
    * already does for one-shot joins; use this form when the bloom is
    * reused across queries or micro-batches). */
  def contaminationCountsBloom(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               fpp: Double = 0.01): DataFrame = {
    // One-shot convenience path: the returned DataFrame is lazy, so
    // unpersisting idx.grams here would evict the cache before the
    // caller ever evaluates it (the exact-verify join would rebuild
    // the bench gram set from scratch at execution time). Leave the
    // cache in place for the query's lifetime — reusers who manage the
    // index lifecycle explicitly use benchmarkIndex +
    // contaminationCountsWith and unpersist when done.
    contaminationCountsWith(
      corpus, benchmarkIndex(benchmark, textCol, n, fpp), idCol, textCol, n)
  }

  /** The benchmark side of bloom decontamination, built ONCE and
    * reusable across queries / micro-batches: the distinct hashed
    * gram set (exact-verify side) plus its bloom bits (scan-side
    * prefilter). `grams` stays cached — callers that are done with
    * the index unpersist it. */
  final case class BenchmarkIndex(grams: DataFrame, bits: Array[Byte], k: Int)

  private def hashedGrams(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    df.filter(TextFunctions.tokenCount(col(textCol)) >= n)
      .select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).as("__g"))

  def benchmarkIndex(benchmark: DataFrame, textCol: String, n: Int,
                     fpp: Double = 0.01): BenchmarkIndex = {
    import graft.functions.bloom
    val bench = benchmark
      .filter(TextFunctions.tokenCount(col(textCol)) >= n)
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(xxhash64(col("__s")).as("__g")).distinct().cache()
    val nBench = math.max(1L, bench.count())
    val mBits = bloom.bitsFor(nBench, fpp)
    val k = bloom.probesFor(mBits, nBench)
    BenchmarkIndex(bench, bloom.build(bench, "__g", mBits, k), k)
  }

  /** Probe side: corpus grams bloom-filter SCAN-LOCALLY against the
    * prebuilt index, survivors exact-verify against the hashed gram
    * set — per-doc contaminated-gram counts, identical to
    * [[contaminationCounts]] over the same benchmark. */
  def contaminationCountsWith(corpus: DataFrame, idx: BenchmarkIndex,
                              idCol: String, textCol: String,
                              n: Int): DataFrame = {
    import graft.functions.bloom
    hashedGrams(corpus, idCol, textCol, n)
      .filter(bloom.mightContain(col("__g"), idx.bits, idx.k))
      .join(idx.grams, "__g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. The
    * single-element transform binds the intersection size once — the
    * intersect is the expensive part and must not be evaluated twice. */
  def jaccard(a: Column, b: Column): Column =
    element_at(transform(array(size(array_intersect(a, b))), si =>
      when(size(a) + size(b) - si === 0, 0.0)
        .otherwise(si.cast("double") / (size(a) + size(b) - si))), 1)

  /** Jaccard estimate from two minhash signatures: fraction of agreeing
    * slots. O(numHashes) — the cheap prefilter before exact verify. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** ±1 contribution of one token to each of the 64 SimHash slots.
    * The single-element transform binds the token hash once so the 64
    * bit probes share one xxhash64 evaluation. */
  private def signedBits(t: Column): Column =
    element_at(transform(array(xxhash64(t)), h =>
      array(Seq.tabulate(64) { j =>
        when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)
      }: _*)), 1)

  /** SimHash as a 64-slot bit array, computed with per-row folds only:
    * slot j = sign of Σ_tokens (±1 by bit j of xxhash64(token)).
    * No explode, no shuffle — a projection over the scan. */
  def simhashSignature(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val counts = aggregate(toks, array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, signedBits(t), (a, b) => a + b))
    transform(counts, c => when(c > 0, 1).otherwise(0))
  }

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0), (acc, x) => acc + x)

  /** Corpus-scale SimHash packed into one long per doc: explode tokens,
    * tally the 64 signed-bit sums as codegen'd conditional aggregates
    * (map-side partials → one shuffle of 64 longs per doc), then fold
    * the signs into bits with Scala-level unrolled shifts (codegen'd,
    * no lambdas). Bit j is set when Σ_tokens (±1 by bit j of
    * xxhash64(token)) > 0, the slot rule of [[simhashSignature]].
    * Hamming distance becomes `bit_count(a ^ b)`. */
  def simhashSignaturesPacked(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame = {
    val h = xxhash64(col("__t"))
    val aggs = Seq.tabulate(64)(j =>
      sum(when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
        .as(s"__b$j"))
    val packed = Seq.tabulate(64)(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), packed.as("__sig"))
  }

  /** ±1 contribution of one token to each of the 64 SimHash slots using
    * a PORTABLE token hash: bit j = bit (j%4) of the (j/4+1)-th hex
    * nibble of md5(token). Every engine with md5 + substring can
    * reproduce it bit-for-bit (the DuckDB oracle does), unlike
    * xxhash64, whose seed-42 XXH64 only Spark implements. The
    * single-element transform binds md5 once per token; the 64 nibble
    * probes are substring+conv over that one hex string. */
  private def md5SignedBits(t: Column): Column =
    element_at(transform(array(md5(t)), h =>
      array(Seq.tabulate(64) { j =>
        val nib = conv(substring(h, j / 4 + 1, 1), 16, 10).cast("int")
        when(shiftright(nib, j % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)
      }: _*)), 1)

  /** Engine-portable packed SimHash signature: same fold shape as
    * [[simhashSignature]] (row-local, no explode, no shuffle) but with
    * the md5-nibble token hash, packed into one long with unrolled
    * shifts. This Column form is the EXECUTABLE SPEC of the convention;
    * the production path is the codegen kernel
    * `graft.functions.signatures.simhash_packed_md5`, pinned
    * bit-identical to this in SignatureParitySpec (the lambda fold
    * pays 64 substring/conv probes per token — ~25× slower at corpus
    * scale). */
  def simhashPackedPortable(text: Column): Column = {
    val counts = aggregate(TextFunctions.tokens(text),
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, md5SignedBits(t), (a, b) => a + b))
    element_at(transform(array(counts), cs =>
      Seq.tabulate(64)(j =>
        when(element_at(cs, j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b))), 1)
  }

  /** SimHash near-dup: candidates collide on any one of `maxHamming+1`
    * signature chunks — the pigeonhole guarantee (≤ `maxHamming` bits
    * differ over 64 bits split into `maxHamming+1` chunks ⇒ some chunk
    * is identical) makes recall COMPLETE for the given radius, verified
    * by full Hamming ≤ `maxHamming` — `bit_count(xor)` on packed longs,
    * fully codegen'd. Completeness is property-tested against brute
    * force in ExtensionsSpec. Chunk width shrinks as the radius grows
    * (h=3 → four 16-bit chunks; larger h → narrower chunks → bigger
    * collision buckets), so keep the radius small at corpus scale —
    * `maxBucket` caps the damage if you don't. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3,
                            maxBucket: Int = 1000,
                            portableHash: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nChunks = maxHamming + 1
    // row-local packed signature (one codegen kernel in the scan) —
    // bit-identical to the explode+agg form [[simhashSignaturesPacked]]
    // (SignatureParitySpec), without its shuffle; the null filter
    // mirrors the agg path, where explode(null) drops the row.
    // portableHash swaps in the md5-nibble signature so the whole
    // operator is reproducible in any engine with md5 (the exact
    // banding guarantee is hash-agnostic — completeness at the radius
    // holds for either signature).
    val sigExpr =
      if (portableHash) graft.functions.signatures.simhash_packed_md5(col(textCol))
      else graft.functions.signatures.simhash_packed(col(textCol))
    val sigs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), sigExpr.as("__sig"))
    // chunk i covers bits [i*64/n, (i+1)*64/n) — widths differ by ≤1 bit
    val chunkCols = Seq.tabulate(nChunks) { i =>
      val startBit = i * 64 / nChunks
      val width = (i + 1) * 64 / nChunks - startBit
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftright(col("__sig"), startBit).bitwiseAND(lit(mask))
    }
    val chunks = posexplode(array(chunkCols: _*))
    // verify bucket-locally: the packed signature is ONE long, so each
    // member carries it into the bucket and a pair costs one
    // bit_count(xor) right where it's generated — no distinct over the
    // raw candidate pairs and no pair-side signature joins (candidates
    // vastly outnumber docs on collision-heavy data; shipping a long
    // per (doc, band) is the cheap side of that trade). The distinct
    // runs on the FILTERED pairs only.
    val bandKeys = sigs.select(col(idCol), col("__sig"),
      chunks.as(Seq("band", "key")))
    val buckets = bandKeys.groupBy("band", "key")
      .agg(collect_list(struct(col(idCol).as("__id"), col("__sig"))).as("__ms"))
      .filter(size(col("__ms")).between(2, maxBucket))
    buckets
      .select(col("__ms"), explode(col("__ms")).as("x"))
      .select(col("x"), explode(col("__ms")).as("y"))
      .filter(col("x.__id") < col("y.__id"))
      .withColumn("hamming",
        bit_count(col("x.__sig").bitwiseXOR(col("y.__sig"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.__id").as("a"), col("y.__id").as("b"), col("hamming"))
      .distinct()
  }

  /** Fuzzy string self-join at edit distance ≤ 1 via the deletion
    * neighborhood (symmetric-delete scheme): every string emits itself
    * plus each single-character deletion as candidate keys, and two
    * strings within one edit ALWAYS share a key — a substitution
    * deletes to the same string from both sides, an insert/delete pair
    * meets at the shorter string — so the equi-join candidate set is
    * provably complete and the exact `levenshtein` verify makes it
    * precise. Unlike q-gram count filtering, the keys stay selective
    * even on near-identical key spaces (shared prefixes shift every
    * deletion variant), so buckets don't degenerate.
    *
    * Scale shape: |s|+1 keys per row explode scan-locally, ONE
    * equi-join shuffle on the key, pairs dedupe by id BEFORE the
    * strings join back once for the verify — the e03/j01 discipline.
    * Output: (a, b, dist), a < b under the id column's NATIVE ordering
    * (no numeric cast — a string/UUID id would cast to null and
    * silently empty the result; ids keep their own type end to end,
    * the selfNearestNeighbor discipline). */
  def editDistance1Join(df: DataFrame, idCol: String,
                        strCol: String): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
    // the string itself + each single-deletion variant, tagged so the
    // self-key never pairs two identical full strings twice
    val keyed = base.select(col("__id"), col("__s"), explode(array_union(
        array(col("__s")),
        transform(sequence(lit(1), length(col("__s"))), i =>
          concat(col("__s").substr(lit(1), i - 1),
                 col("__s").substr(i + 1, length(col("__s"))))))
      ).as("__key"))
    // bucket-local pairing + verify (the d02 band-bucket discipline):
    // each row's (id, string) ships ONCE per deletion key; candidate
    // pairs are generated row-locally from the bucket array and
    // levenshtein-verified inline — no candidate-pair shuffle and no
    // per-pair string re-join (the previous shape paid one distinct +
    // two big-big joins over the pair set; at fact ×10 those three
    // shuffles were ~half the wall). A pair sharing several keys is
    // verified once per shared key (≤3 cheap levenshteins) and
    // deduped AFTER the dist filter, when only true pairs remain.
    // Pairs enumerate as TWO Generates + a fused Filter (the d02/d03
    // bucket-pair shape) instead of nested transform(...) lambdas:
    // higher-order functions are CodegenFallback, so the B² candidate
    // loop — and the levenshtein inside it — ran interpreted, one
    // struct allocation per candidate (measured r14: the j02 verify
    // stage was the query's whole CPU budget; the Generate form keeps
    // enumeration + levenshtein + dist-filter in one codegen stage).
    val m = col("__m")
    // pinned-width bucket exchange (r15): the deletion-key shuffle is
    // byte-small but the in-bucket levenshtein verify is the query's
    // whole CPU — AQE coalesced it onto 2-4 tasks. See
    // pinnedShufflePartitions.
    keyed.repartition(pinnedShufflePartitions(df), col("__key"))
      .groupBy("__key")
      .agg(collect_list(struct(col("__id").as("i"), col("__s").as("s")))
        .as("__m"))
      .filter(size(m) > 1)
      .select(m, explode(m).as("x"))
      .select(col("x"), explode(m).as("y"))
      .filter(col("x.i") < col("y.i"))
      // banded verify: levenshtein's threshold form walks an O(len)
      // diagonal band and early-exits at > max (returns -1) instead of
      // filling the O(len²) DP table — the verify IS the per-candidate
      // hot loop here, and only dist ≤ 1 survives anyway. Values in
      // the kept range are identical to the unbanded distance.
      .withColumn("dist", levenshtein(col("x.s"), col("y.s"), 1))
      .filter(col("dist") >= 0 && col("dist") <= 1)
      .select(col("x.i").as("a"), col("y.i").as("b"), col("dist"))
      .distinct()
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
  }

  /** Consecutive fixed-width token segments of each doc:
    * (idCol, seg_idx, seg). The passage unit of [[segmentDedup]] —
    * scan-local (one explode, no shuffle). */
  def segments(docs: DataFrame, idCol: String, textCol: String,
               segLen: Int): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val lastIdx = ((size(toks) - 1) / lit(segLen)).cast("int")
    docs.select(col(idCol),
        explode(transform(sequence(lit(0), lastIdx),
          i => struct(i.as("seg_idx"),
            concat_ws(" ", slice(toks, i * segLen + 1, lit(segLen)))
              .as("seg")))).as("__x"))
      .select(col(idCol), col("__x.seg_idx"), col("__x.seg"))
  }

  /** Reassemble per-doc output from segment rows carrying a 0/1
    * `__kept` flag: (idCol, n_segs, n_dropped, text_hash) where
    * text_hash pins the kept-segments-in-order content. */
  private[graft] def rebuildDocs(marked: DataFrame,
                                 idCol: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segs"),
           sum(when(col("__kept") === 1, 0L).otherwise(1L)).as("n_dropped"),
           concat_ws(" ", transform(
             array_sort(collect_list(when(col("__kept") === 1,
               struct(col("seg_idx"), col("seg"))))),
             x => x.getField("seg"))).as("__t"))
      .select(col(idCol), col("n_segs"), col("n_dropped"),
              md5(to_binary(col("__t"), lit("utf-8"))).as("text_hash"))

  /** Passage-level exact dedup with document reassembly (the
    * C4/RefinedWeb line-dedup shape on fixed-width token segments): a
    * segment duplicated anywhere in the corpus survives only at its
    * first (id, seg_idx) occurrence; every doc is rebuilt from its
    * kept segments in order. Two shuffles — one hash-partitioned
    * window on the segment text, one id regroup; per-doc state is
    * bounded by doc length. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy(col(idCol), col("seg_idx"))
    rebuildDocs(
      segments(docs, idCol, textCol, segLen)
        .withColumn("__kept",
          when(row_number().over(w) === 1, 1).otherwise(0)),
      idCol)
  }

  /** Cross-document duplicate n-gram fraction — per doc, the share of
    * its DISTINCT n-gram windows occurring in at least one OTHER
    * document (the inter-document repetition signal: boilerplate
    * headers, licence blocks, mirrored articles — invisible to
    * intra-doc repetition stats and to corpus-vs-benchmark
    * decontamination). A gram counts each containing doc once
    * (shingles are per-doc distinct), so frequency >= 2 means "in
    * another document". ONE scan-local shingle explode with the
    * doc-frequency as a count window over the gram key (a single
    * gram-keyed exchange) — linear in corpus grams, no pair
    * enumeration; docs with fewer than n tokens have no windows and
    * drop out. */
  def crossDocGramStats(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, hashGrams: Boolean = false): DataFrame = {
    // ONE pass over the corpus: the per-gram doc-frequency comes from
    // a count window over the exploded rows (one gram-keyed exchange),
    // not a self-join of two scans — the dominant cost is the regexp
    // shingle explode, and a join formulation would run it twice
    // (different Exchange children defeat ReuseExchange).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    gramStatsAgg(
      gramRows(docs, idCol, textCol, n, hashGrams)
        .withColumn("__nd", count(lit(1)).over(w)),
      idCol)
  }

  /** Per-doc DISTINCT n-gram rows `(idCol, __g)` — the shared first
    * stage of [[crossDocGramStats]] and
    * [[graft.streaming.IncrementalCrossDocGrams]]. With `hashGrams`
    * the grams are xxhash64 longs instead of strings (≈5-10× narrower
    * shuffle; same contract as `contaminationCounts(hashGrams =
    * true)`, equality on real data spec-asserted — the catalog query
    * keeps raw strings so the DuckDB oracle mirrors it exactly). */
  private[graft] def gramRows(docs: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              hashGrams: Boolean): DataFrame = {
    val raw = docs
      .filter(TextFunctions.tokenCount(col(textCol)) >= n)
      .select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), n)).as("__g"))
    if (hashGrams) raw.select(col(idCol), xxhash64(col("__g")).as("__g"))
    else raw
  }

  /** The d15 per-doc aggregate over gram rows `g` joined with gram
    * frequencies `freq` (`__g` → `__nd` = number of docs containing
    * the gram) — the form the streaming maintainer uses, where the
    * frequencies come from the persisted store rather than the batch
    * itself. */
  private[graft] def gramStats(g: DataFrame, freq: DataFrame,
                               idCol: String): DataFrame =
    gramStatsAgg(g.join(freq, "__g"), idCol)

  /** The per-doc aggregate over rows already carrying `__nd`. */
  private def gramStatsAgg(rows: DataFrame, idCol: String): DataFrame =
    rows.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_grams"),
           sum(when(col("__nd") >= 2, 1).otherwise(0)).cast("long")
             .as("n_shared_grams"),
           round(sum(when(col("__nd") >= 2, 1).otherwise(0))
               .cast("double") / count(lit(1)), 4)
             .as("dup_gram_ratio"))

  /** Cross-SOURCE overlap matrix — the mixture audit a multi-source
    * training pipeline publishes next to its data card: for every pair
    * of sources sharing at least one distinct word n-gram, the shared
    * distinct-gram count and the gram-set jaccard. Catches one source
    * silently mirroring another (a crawl snapshot re-labeled, a
    * benchmark leaked into two feeds) before the mixture weights are
    * trusted.
    *
    * Shape at 100 TB: distinct (source, gram) rows — ONE gram-keyed
    * exchange — then collect_set(source) per gram (bounded by
    * |sources|, a dim not a fact) and a ROW-LOCAL ordered-pair explode;
    * the final aggregate moves ≤ |sources|² rows. The oracle's
    * self-join formulation (gram ⋈ gram) is exactly what this shape
    * avoids: no second pass over the corpus, no gram×gram blow-up.
    * `hashGrams` narrows the exchange to 8-byte keys as elsewhere. */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                    n: Int, hashGrams: Boolean = false): DataFrame = {
    val sg = gramRows(docs, sourceCol, textCol, n, hashGrams)
      .select(col(sourceCol), col("__g")).distinct()
    val perSource = sg.groupBy(sourceCol)
      .agg(count(lit(1)).cast("long").as("__n"))
    val pairs = sg.groupBy("__g")
      .agg(collect_set(col(sourceCol)).as("__ss"))
      .select(explode(col("__ss")).as("source_a"), col("__ss"))
      .select(col("source_a"), explode(col("__ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
    pairs
      .join(perSource.select(col(sourceCol).as("source_a"),
        col("__n").as("__na")), "source_a")
      .join(perSource.select(col(sourceCol).as("source_b"),
        col("__n").as("__nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_grams"),
        round(col("n_shared_grams").cast("double") /
          (col("__na") + col("__nb") - col("n_shared_grams")), 4)
          .as("jaccard"))
  }

  // ── Duplicate-SPAN dedup (substring level) ─────────────────────────

  /** The span family's tokenizer: strips BOTH leading and trailing
    * whitespace (of every kind) before splitting, so the token list
    * never carries phantom empty tokens and its indices align exactly
    * with the positions the gram regex emits. `TextFunctions.tokens`
    * (plain `split(lower(trim(..)))`) keeps a phantom "" token when
    * text leads with a tab/newline — Spark `trim` strips spaces only —
    * which would shift every position by one and make the strip drop
    * the wrong tokens. */
  private[graft] def spanTokens(text: Column): Column =
    split(regexp_replace(lower(text), "^\\s+|\\s+$", ""), "\\s+")

  /** Positioned (NON-distinct) n-gram rows `(idCol, __pos, __g)` —
    * `__pos` is the 0-based token index where the gram starts, an
    * index into [[spanTokens]]. Unlike [[gramRows]] every occurrence
    * is kept: span coverage needs the position of each repeat, and a
    * doc may legitimately contain the same duplicated gram at several
    * places. */
  private[graft] def positionedGramRows(docs: DataFrame, idCol: String,
                                        textCol: String, n: Int,
                                        hashGrams: Boolean): DataFrame = {
    // One regex pass per doc (the [[TextFunctions.shingles]] pattern,
    // WITHOUT its distinct): the lookahead matches once at every token
    // start with ≥ n tokens remaining, in order, so the i-th match IS
    // the gram at token position i — posexplode yields (pos, gram)
    // with no per-position array slicing (measured ~2× cheaper than
    // the transform+slice formulation on the explode-bound build).
    val toks = spanTokens(col(textCol))
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val pat = "(?:^|(?<= ))(?=((?:\\S+ ){" + (n - 1) + "}\\S+))"
    val raw = docs.filter(size(toks) >= n)
      .select(col(idCol),
        posexplode(regexp_extract_all(norm, lit(pat), lit(1))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__g")
      .select(col(idCol), col("__pos").cast("long").as("__pos"), col("__g"))
    if (hashGrams) raw.select(col(idCol), col("__pos"),
      xxhash64(col("__g")).as("__g"))
    else raw
  }

  /** Positioned gram occurrences that are CROSS-document duplicates:
    * the gram occurs in at least one other doc. The test is
    * min(id) ≠ max(id) over one gram-keyed count window — exactly
    * "≥ 2 distinct docs" with no count-distinct and no self-join (the
    * join formulation would run the positioned-gram explode twice —
    * different Exchange children defeat ReuseExchange). Shared first
    * stage of [[dupSpanStats]] and [[stripDupSpans]]. */
  private[graft] def dupSpanRows(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 hashGrams: Boolean = false): DataFrame = {
    val byGram = Window.partitionBy("__g")
    positionedGramRows(docs, idCol, textCol, n, hashGrams)
      .withColumn("__dup",
        min(col(idCol)).over(byGram) =!= max(col(idCol)).over(byGram))
      .filter(col("__dup"))
      .select(col(idCol), col("__pos"))
  }

  /** Cross-document duplicate-SPAN coverage — substring-level dedup
    * statistics after Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022, published method): a token
    * position is duplicated when any n-gram covering it also occurs in
    * at least one OTHER document. Per doc: token count, cross-doc
    * duplicated gram occurrences, covered token count (interval union
    * of the duplicated grams' [pos, pos+n) spans — overlapping grams
    * count each token once) and the covered fraction. This is the
    * span-level signal that doc-level near-dup (minhash/simhash) and
    * gram-COUNT stats ([[crossDocGramStats]]) both miss; within-doc
    * repetition deliberately does NOT count (that is the repetition
    * scorer's job).
    *
    * Shape at 100 TB: positioned gram explode (linear in tokens), ONE
    * gram-keyed exchange for the cross-doc mark, then a doc-keyed
    * exchange over ONLY the duplicated rows for the running-max
    * interval union. No pair blow-up anywhere — cost is
    * |tokens| + |duplicated occurrences|. `hashGrams` narrows the
    * gram exchange to 8-byte keys (the [[contaminationCounts]]
    * discipline; the catalog keeps raw strings so the DuckDB oracle
    * mirrors the query exactly, and the two forms are spec-asserted
    * equal on real data). */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, hashGrams: Boolean = false): DataFrame =
    dupSpanStatsFrom(docs, dupSpanRows(docs, idCol, textCol, n, hashGrams),
      idCol, textCol, n)

  /** [[dupSpanStats]] over a PRECOMPUTED (and typically cached /
    * maintained) duplicated-occurrence set `(idCol, __pos)` — the
    * pipeline shape where the stats report and the strip
    * transformation derive from one shared gram-mark pass. */
  def dupSpanStatsFrom(docs: DataFrame, dup: DataFrame, idCol: String,
                       textCol: String, n: Int): DataFrame =
    dupSpanAgg(dup,
      docs.select(col(idCol),
        size(spanTokens(col(textCol))).cast("long").as("n_tokens")),
      idCol, n)

  /** The per-doc span aggregate over duplicated occurrences
    * `(idCol, __pos)` and a doc universe `(idCol, n_tokens)` — shared
    * by the batch forms and [[graft.streaming.IncrementalDupSpans]]
    * (where the universe is the affected-doc set and the occurrences
    * come from maintained state). */
  private[graft] def dupSpanAgg(dup: DataFrame, universe: DataFrame,
                                idCol: String, n: Int): DataFrame = {
    // Classic interval union as a running max: sorted by start, each
    // span contributes the part of [pos, pos+n) past every previous
    // span's end (overlap-free by construction).
    val byDoc = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val runEnd = max(col("__pos") + n).over(byDoc)
    val covered = dup
      .withColumn("__contrib",
        greatest(lit(0L), col("__pos") + n -
          greatest(col("__pos"), coalesce(runEnd, col("__pos")))))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_dup_grams"),
           sum("__contrib").cast("long").as("covered_tokens"))
    universe
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_fraction"))
  }

  /** Maximal duplicated-BLOCK segmentation — the third view over the
    * duplicated occurrences: merge each doc's duplicated [pos, pos+n)
    * spans into maximal contiguous blocks and report the block count
    * and the LONGEST block (in tokens). The filter signal
    * [[dupSpanStats]]' fraction can't express: a doc that is 20%
    * covered by one 200-token mirrored block is a removal candidate; a
    * doc 20% covered by scattered 5-token phrases is not.
    *
    * Same exchanges as the stats form (gram mark + per-doc ordered
    * pass); the segmentation is two more windows over only the
    * duplicated rows: a new block starts where pos > running max end,
    * block id = running sum of starts, then one aggregate. */
  def longestDupSpan(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, hashGrams: Boolean = false): DataFrame =
    longestDupSpanFrom(docs,
      dupSpanRows(docs, idCol, textCol, n, hashGrams), idCol, textCol, n)

  /** [[longestDupSpan]] over a precomputed duplicated-occurrence set —
    * see [[dupSpanStatsFrom]]. */
  def longestDupSpanFrom(docs: DataFrame, dup: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val prev = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val segmented = dup
      .withColumn("__new",
        when(col("__pos") > coalesce(max(col("__pos") + n).over(prev),
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__seg", sum("__new").over(upTo))
    val blocks = segmented.groupBy(col(idCol), col("__seg"))
      .agg((max(col("__pos")) + n - min(col("__pos"))).as("__len"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_dup_blocks"),
           max("__len").cast("long").as("longest_dup_span"))
    docs.select(col(idCol),
        size(spanTokens(col(textCol))).cast("long").as("n_tokens"))
      .join(blocks, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
        coalesce(col("longest_dup_span"), lit(0L)).as("longest_dup_span"))
  }

  /** The removal transformation [[dupSpanStats]] measures for: rebuild
    * every document with each cross-doc duplicated span dropped
    * (tokens whose position falls inside any duplicated gram's
    * [pos, pos+n) window), preserving the order of the surviving
    * tokens. Output: (idCol, clean_text, n_kept, n_removed) for EVERY
    * input doc — untouched docs pass through with n_removed = 0.
    *
    * The covered-position set per doc is collect_set over the exploded
    * spans (map-side set merge; bounded by the doc's own token count),
    * joined back and applied scan-locally with a positional array
    * filter — no second corpus-wide exchange beyond the gram mark. */
  def stripDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, hashGrams: Boolean = false): DataFrame =
    stripDupSpansFrom(docs, dupSpanRows(docs, idCol, textCol, n, hashGrams),
      idCol, textCol, n)

  /** [[stripDupSpans]] over a precomputed duplicated-occurrence set —
    * see [[dupSpanStatsFrom]]. */
  def stripDupSpansFrom(docs: DataFrame, dup: DataFrame, idCol: String,
                        textCol: String, n: Int): DataFrame = {
    val covered = dup
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .groupBy(idCol)
      .agg(collect_set(col("__p")).as("__cov"))
    val toks = spanTokens(col(textCol))
    docs.join(covered, Seq(idCol), "left")
      .withColumn("__keep",
        filter(toks, (_, i) =>
          !coalesce(array_contains(col("__cov"), i.cast("long")),
            lit(false))))
      .select(col(idCol),
        concat_ws(" ", col("__keep")).as("clean_text"),
        size(col("__keep")).cast("long").as("n_kept"),
        (size(toks) - size(col("__keep"))).cast("long").as("n_removed"))
  }
}
