package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.ConnectedComponents
import graft.similarity.Similarity

/** Incremental SEMANTIC (embedding) dedup — e05's dynamic table and
  * [[IncrementalNearDup]]'s sibling on vectors: micro-batches of new
  * (id, vector) rows maintain (a) a persisted multi-probe LSH key
  * index, (b) a vectors side table, and (c) the embedding-cluster
  * labeling, such that the labeling always equals what the one-shot
  * batch pipeline ([[Similarity.cosineNearDuplicatesMulti]] →
  * connected components, the e05 catalog query) computes over the
  * accumulated corpus.
  *
  * Key semantics. The batch form collects candidates per (table,
  * probe-key) bucket where every vector contributes its home bucket
  * PLUS all single-bit flips — two vectors collide iff their key sets
  * intersect, i.e. iff their home buckets differ by ≤ 2 bits in some
  * table. The maintained index therefore stores ALL (planes+1) keys
  * per table per vector (`tk = table·2^planes + key`), so a
  * delta-vs-index equi-join on
  * `tk` reproduces exactly the batch candidate set across batch
  * boundaries. Rows land hive-partitioned on `pk`, the [[BucketTrie]]
  * bucket of `xxhash64(tk)` (directory prune + tk-sorted footer skip,
  * one file per touched directory per batch; buckets split as the
  * index grows); vectors land once per id, trie-bucketed the same way
  * on `vb = bucket(xxhash64(id))` for a pruned replay guard. Verification is the same exact
  * 4dp-rounded cosine; the label fold is Δ-sized
  * ([[ConnectedComponents.addEdges]] through the star forest), and
  * commits go through [[LabelStore]]'s `_SUCCESS`-gated versions.
  * The Δ-scoped `maxBucket` cap mirrors [[IncrementalNearDup]]'s
  * (sizes counted only for keys the delta touches; the equality spec
  * runs under caps that never trip — a tripping cap is a deliberate
  * recall trade in both forms). */
object IncrementalEmbeddingDedup {

  /** Fixed per state directory. Defaults match the e05 catalog entry
    * (`Similarity.PairThreshold` / `PairTables`). `indexBuckets` is
    * only the INITIAL partition count of both stores (a power of
    * two); [[compact]] splits over-threshold buckets automatically. */
  case class Params(threshold: Double = Similarity.PairThreshold,
                    numPlanes: Int = 8,
                    tables: Int = Similarity.PairTables,
                    seed: Long = 42L, maxBucket: Int = 4000,
                    indexBuckets: Int = 64)

  private def bandsPath(statePath: String) = s"$statePath/bands"
  private def vectorsPath(statePath: String) = s"$statePath/vectors"

  /** All multi-probe keys of a vector batch: (__id, tk, pk) — one row
    * per (table, home-or-flip key), `pk` the key store's live trie
    * bucket of xxhash64(tk). Scan-local codegen'd bucket expression;
    * the flips are plan-time XOR literals. */
  private[graft] def keyRows(vecs: DataFrame, idCol: String,
                             vecCol: String, p: Params,
                             trie: BucketTrie.Trie): DataFrame = {
    val homes = array(Seq.tabulate(p.tables)(t =>
      Similarity.lshBucket(col(vecCol), p.numPlanes,
        Similarity.tableSeed(p.seed, t))): _*)
    vecs.select(col(idCol).as("__id"), posexplode(homes).as(Seq("__t", "__b")))
      .select(col("__id"), col("__t"),
        explode(array(col("__b") +: Seq.tabulate(p.numPlanes)(f =>
          col("__b").bitwiseXOR(lit(1L << f))): _*)).as("__k"))
      .select(col("__id"),
        (col("__t").cast("long") * (1L << p.numPlanes) + col("__k")).as("tk"))
      .withColumn("pk", trie.bucketCol(xxhash64(col("tk"))))
  }

  /** [[keyRows]] under the state directory's live trie. */
  private[graft] def keyRows(vecs: DataFrame, idCol: String,
                             vecCol: String, p: Params,
                             statePath: String): DataFrame =
    keyRows(vecs, idCol, vecCol, p,
      BucketTrie.load(vecs.sparkSession, bandsPath(statePath),
        p.indexBuckets))

  /** The accumulated labeling joined onto `ids`: every id gets its
    * cluster (singletons label themselves) — e05's output shape. */
  def clusters(ids: DataFrame, idCol: String, statePath: String): DataFrame =
    ids.select(col(idCol))
      .join(LabelStore.labels(ids.sparkSession, statePath),
        col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))

  /** Fold one batch of new vectors into the state. Callable directly
    * or via [[attach]]. */
  def processBatch(newVecs: DataFrame, idCol: String, vecCol: String,
                   statePath: String, params: Params = Params()): Unit = {
    val spark = newVecs.sparkSession
    if (newVecs.isEmpty) return
    // Refuse to probe a store whose bucketed layout predates the
    // sidecar (pre-adaptive state dirs): the bands store's OLD
    // partition function was `tk div span`, NOT the hash-mod cover
    // `BucketTrie.load` would assume, so probing it silently misses
    // index rows (missed duplicate pairs, duplicated rows on replay).
    // One `compact(spark, statePath)` verifies-and-migrates such a
    // store (BucketTrie.compactStore force-rewrites on layout
    // mismatch); after that this guard never fires again.
    Seq(bandsPath(statePath) -> "pk", vectorsPath(statePath) -> "vb")
      .foreach { case (p, c) =>
        require(!BucketTrie.hasUnverifiedBucketedLayout(spark, p, c),
          s"$p holds bucketed data with no ${BucketTrie.Sidecar} sidecar " +
            "(a pre-adaptive state dir, possibly under the old div-span " +
            "layout). Run IncrementalEmbeddingDedup.compact on this state " +
            "path once to verify/migrate it before appending batches.")
      }
    // per-batch driver-side sidecar reads: each store's live trie
    val ktrie = BucketTrie.load(spark, bandsPath(statePath),
      params.indexBuckets)
    val vtrie = BucketTrie.load(spark, vectorsPath(statePath),
      params.indexBuckets)
    val deltaKeys = keyRows(newVecs, idCol, vecCol, params, ktrie).cache()
    val deltaVecs = newVecs.select(col(idCol).as("__id"),
        col(vecCol).as("__v"))
      .withColumn("vb", vtrie.bucketCol(xxhash64(col("__id"))))
      .cache()
    // every frame persisted for this batch unpersists in the finally —
    // an exception between a persist and the batch tail (failed
    // append, LabelStore commit) must not leak blocks across the
    // batch loop (the r13 soak-leak class)
    val batchCached =
      scala.collection.mutable.ArrayBuffer[DataFrame](deltaKeys, deltaVecs)
    try {
      // Δ-sized driver hops: touched key directories and vector buckets
      val touchedPk = deltaKeys.select("pk").distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      val touchedVb = deltaVecs.select("vb").distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq

      // Key-level probe narrowing (the IncrementalNearDup pattern):
      // every consumer of the pruned key read matches only rows whose
      // tk the delta touches, so the read drops to colliding rows via
      // a broadcast semi-join on the Δ-sized key set and persists
      // across its consumers (replay anti-join + both candidate
      // sides) instead of re-scanning the touched buckets each time.
      val touchedTk = deltaKeys.select("tk").distinct()
      val oldKeys = IndexDirs.readWithL0(spark, bandsPath(statePath))
        .map(_.filter(col("pk").isin(touchedPk: _*))
          .select("__id", "tk", "pk"))
        .getOrElse(deltaKeys.limit(0))
        .join(broadcast(touchedTk), Seq("tk"), "left_semi")
        .persist()
      batchCached += oldKeys
      val oldVecsAll = IndexDirs
        .readWithL0(spark, vectorsPath(statePath))
        .getOrElse(deltaVecs.limit(0))

      // replay idempotency: rows the index already holds are dropped
      // (key assignment is a pure function of the vector, so a replay
      // collides entirely inside the pruned read)
      val newKeys = deltaKeys.join(oldKeys.select("__id", "tk"),
        Seq("__id", "tk"), "left_anti")
      // the replay guard only needs old ids that ARE delta ids — the
      // bucket-pruned id scan narrows to that Δ-sized set via a
      // broadcast semi-join, so the anti-join below broadcasts instead
      // of shuffling the accumulated vectors table every batch
      val deltaIds = deltaVecs.select("__id").distinct()
      val newVecRows = deltaVecs.join(
        oldVecsAll.filter(col("vb").isin(touchedVb: _*)).select("__id")
          .join(broadcast(deltaIds), Seq("__id"), "left_semi"),
        Seq("__id"), "left_anti")

      // candidates: delta keys × (pruned index ∪ new delta keys) on tk
      // — exactly the batch bucket collisions that involve a delta
      // vector; cross-OLD pairs are already in the labeling. Δ-scoped
      // skew cap first, duplicates collapsed before the verify.
      // (allKeys is already Δ-key-scoped: oldKeys was semi-joined on
      // touchedTk and newKeys ARE delta rows — no re-join needed)
      val allKeys = oldKeys.unionByName(newKeys)
      val surviving = allKeys
        .groupBy("tk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= params.maxBucket)
        .select("tk")
      val cand = deltaKeys.join(surviving, Seq("tk"))
        .select(col("tk"), col("__id").as("__da"))
        .join(allKeys.join(surviving, Seq("tk"))
          .select(col("tk"), col("__id").as("__db")), Seq("tk"))
        .filter(col("__da") =!= col("__db"))
        .select(least(col("__da"), col("__db")).as("a"),
          greatest(col("__da"), col("__db")).as("b"))
        .distinct()
        .cache()
      batchCached += cand

      // exact verification on the stored vectors, same 4dp-rounded
      // cosine as the batch join. The vectors read is PRUNED to the
      // `vb` buckets the candidate ids hash into (≤ indexBuckets ints,
      // collected Δ-sized) — without this, every batch would re-scan
      // the whole accumulated vectors table just to verify a Δ-sized
      // candidate set.
      val candIds = cand
        .select(explode(array(col("a"), col("b"))).as("__id"))
        .distinct()
      val candVb = candIds
        .select(vtrie.bucketCol(xxhash64(col("__id"))).as("vb"))
        .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
      // ... and within those buckets, to the candidate IDS themselves
      // (broadcast semi on the Δ-sized id set): the verify join then
      // runs over Δ rows on both sides instead of shuffling every
      // stored vector that shares a bucket with a candidate
      val vecs = oldVecsAll.filter(col("vb").isin(candVb: _*))
        .join(broadcast(candIds), Seq("__id"), "left_semi")
        .select("__id", "__v")
        .unionByName(newVecRows.select("__id", "__v"))
      val xa = vecs.select(col("__id").as("a"), col("__v").as("__vx"),
        Similarity.norm(col("__v")).as("__nx"))
      val xb = vecs.select(col("__id").as("b"), col("__v").as("__vy"),
        Similarity.norm(col("__v")).as("__ny"))
      val edges = cand.join(xa, "a").join(xb, "b")
        .withColumn("cosine", round(
          when(col("__nx") * col("__ny") === 0, 0.0)
            .otherwise(Similarity.dot(col("__vx"), col("__vy"))
              / (col("__nx") * col("__ny"))), 4))
        .filter(col("cosine") >= params.threshold)
        .select("a", "b")

      val updated = ConnectedComponents.addEdges(
        LabelStore.labels(spark, statePath), edges, "a", "b")
      LabelStore.commit(spark, statePath, updated)
      // one L0 file per batch per store regardless of bucket count
      // ([[IndexDirs.appendL0]]); the sweep merges L0 into buckets
      if (!newKeys.isEmpty)
        IndexDirs.appendL0(spark, bandsPath(statePath), newKeys,
          sortCols = Seq("tk"))
      if (!newVecRows.isEmpty)
        IndexDirs.appendL0(spark, vectorsPath(statePath), newVecRows)
      ()
    } finally { batchCached.foreach(_.unpersist(blocking = false)); () }
  }

  /** Default per-bucket split threshold (see
    * [[IncrementalNearDup.DefaultSplitBytes]]). */
  val DefaultSplitBytes: Long = 256L << 20

  /** LSM-ish maintenance, ADAPTIVE like [[IncrementalNearDup
    * .compact]]: over-threshold buckets split one level (only their
    * files rewritten — [[BucketTrie]]), fragmented buckets rewrite
    * into one sorted run (keys sorted on `tk` for footer-stat
    * skipping), untouched buckets carry forward by raw file copy.
    * Content is preserved exactly. Each sweep lands as that
    * directory's NEXT version, visible atomically once its `_SUCCESS`
    * exists, with the previous version retained one generation for
    * concurrent readers ([[IndexDirs.retire]]); labels are untouched.
    * The keys and vectors directories version independently — both
    * orders of (old keys, new vectors) are consistent states because
    * compaction never changes content, only physical layout. */
  def compact(spark: SparkSession, statePath: String,
              splitBytes: Long = DefaultSplitBytes,
              minBucketBytes: Long = BucketTrie.DefaultMinBucketBytes): Unit = {
    BucketTrie.compactStore(spark, bandsPath(statePath), "pk",
      xxhash64(col("tk")), Seq("tk"), splitBytes, minBucketBytes)
    BucketTrie.compactStore(spark, vectorsPath(statePath), "vb",
      xxhash64(col("__id")), Seq("__id"), splitBytes, minBucketBytes)
  }

  /** Maintenance sweep for week-long streams: prune the label store
    * to its retention window ([[LabelStore.vacuum]] — committed
    * versions beyond the newest `keep`, plus crashed uncommitted
    * leftovers) and retire superseded generations of both index
    * directories. Same single-writer + reader-grace contract as
    * [[compact]]; run between batches. */
  def vacuum(spark: SparkSession, statePath: String, keep: Int = 2,
             readerGraceMs: Option[Long] = None): Unit = {
    LabelStore.vacuum(spark, statePath, keep)
    readerGraceMs match {
      case Some(g) =>
        IndexDirs.retireAged(spark, bandsPath(statePath), graceMs = g)
        IndexDirs.retireAged(spark, vectorsPath(statePath), graceMs = g)
      case None =>
        IndexDirs.retire(spark, bandsPath(statePath), keep = keep)
        IndexDirs.retire(spark, vectorsPath(statePath), keep = keep)
    }
  }

  /** Attach to a streaming vector source: one [[processBatch]] per
    * micro-batch. */
  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             statePath: String, params: Params = Params(),
             trigger: Trigger = Trigger.ProcessingTime(1000)): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$statePath/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, idCol, vecCol, statePath, params)
      }
      .start()
}
