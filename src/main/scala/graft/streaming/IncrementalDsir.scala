package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.text.{Mixture, TextFunctions}

/** DSIR importance scoring (c10 / [[Mixture.importanceWeights]]) as
  * maintained state — a frozen model with an explicit retrain,
  * NOT per-arrival exact IVM, because
  * exact maintenance of DSIR has no locality to exploit: every
  * arriving token moves the raw model's scalars (token totals and
  * vocabulary size), and those sit inside every document's per-token
  * grid term, so "exact" would rescore the whole corpus each batch.
  * The method's own production shape is the frozen form — train the
  * importance model once, score the stream under it, refresh when
  * drift warrants — which maps onto this retrain contract:
  *
  *  - `docs/` — [[IndexDirs]]-versioned append-only store of every
  *    ingested document's feature multiset: one row per (doc,
  *    feature) with its occurrence count, target/raw flag, and
  *    `db = md5Bucket(id, docParts)`. Replay guards and score-append
  *    guards read it PARTITION-PRUNED on the batch's `db` set.
  *  - `main/vN` — the maintained output plus its model, flipped as
  *    ONE version: score rows (id, n_tokens, logratio) partitioned by
  *    `db`; `_weights/` sidecar (feature → integer grid weight,
  *    partitioned by `fb = xxhash64(feature) mod featBuckets` so
  *    arrival-time scoring reads only the batch's feature buckets);
  *    `_scalars/` sidecar (token totals + vocab size — written LAST,
  *    it is the liveness marker, so scores, weights, and scalars
  *    become visible together whatever the crash point).
  *
  * The first batch whose ACCUMULATED store holds both a target and a
  * raw token trains the initial model and scores everything stored;
  * later batches score their new raw docs under the frozen model
  * (Δ-sized: feature-bucket-pruned weights probe, doc-bucket-pruned
  * replay guards) and leave old scores untouched. [[retrain]] rebuilds
  * the model over the full store and rescores every raw doc into the
  * next version — after it, the maintained scores are EXACTLY the
  * one-shot [[Mixture.importanceWeights]] over every document seen
  * (same formula, same 1e-6 grid; spec-pinned).
  *
  * Crash/replay: docs commit BEFORE scores (claims-before-results); a
  * replayed batch re-appends nothing (doc-pruned anti-joins on both
  * stores) and rewrites nothing; a crash between the two commits
  * replays into a no-op append plus the missing scores. A crash
  * mid-retrain leaves an unmarked version readers ignore.
  */
object IncrementalDsir {

  /** Frozen per state dir ([[checkParams]]): `hashBuckets` is the
    * c10 feature contract (0 = raw token strings; > 0 = the bounded-
    * state hashed form), `featBuckets` the weights-sidecar hive
    * bucketing that prunes arrival-time probes, `docParts` the doc
    * bucketing that prunes replay guards. */
  case class Params(hashBuckets: Int = 0, featBuckets: Int = 64,
                    docParts: Int = 16)

  private def docsPath(statePath: String) = s"$statePath/docs"
  private def mainPath(statePath: String) = s"$statePath/main"

  /** Sidecars gate a main version's liveness; `_scalars` is written
    * last, so a live version always has all three pieces. */
  private val markers = Seq("_weights/_SUCCESS", "_scalars/_SUCCESS")

  private def repr(p: Params): String =
    s"hashBuckets=${p.hashBuckets};featBuckets=${p.featBuckets};" +
      s"docParts=${p.docParts}"

  /** Verify the caller's params against the frozen sidecar if one
    * exists — the READ-ONLY check ([[model]]/[[retrain]] use it too:
    * a drifted retrain would rewrite the weights layout under a
    * different fb function and every later probe would silently score
    * OOV; a drifted model() would featurize raw strings against
    * hashed keys). */
  private def requireParams(spark: SparkSession, statePath: String,
                            p: Params): Unit =
    IndexDirs.requireParams(spark, statePath, repr(p))

  /** [[requireParams]] plus write-once: the first writer freezes the
    * sidecar. */
  private def checkParams(spark: SparkSession, statePath: String,
                          p: Params): Unit =
    IndexDirs.checkParams(spark, statePath, repr(p))

  private def fbOf(f: Column, p: Params): Column =
    pmod(xxhash64(f), lit(p.featBuckets.toLong)).cast("int")

  /** The accumulated feature store — None before the first commit. */
  def docsStore(spark: SparkSession, statePath: String): Option[DataFrame] =
    IndexDirs.readIfExists(spark, docsPath(statePath))

  /** The live frozen model — None before the first training. */
  def model(spark: SparkSession, statePath: String,
            params: Params = Params()): Option[Mixture.DsirModel] = {
    requireParams(spark, statePath, params)
    IndexDirs.currentDir(spark, mainPath(statePath), markers).map { dir =>
      val s = spark.read.parquet(s"$dir/_scalars").head()
      Mixture.DsirModel(
        spark.read.parquet(s"$dir/_weights").select("__f", "__m"),
        s.getAs[Long]("nt"), s.getAs[Long]("nr"), s.getAs[Long]("v"),
        params.hashBuckets)
    }
  }

  /** The live model's weight store WITH its `fb` hive partition
    * column — what arrival-time scoring probes: a filter on `fb`
    * prunes the listing to the batch's feature buckets at planning
    * time (spec-asserted in StreamingDsirScaleSpec). */
  private[graft] def weightsWithFb(spark: SparkSession,
                                   statePath: String): Option[DataFrame] =
    IndexDirs.currentDir(spark, mainPath(statePath), markers)
      .map(dir => spark.read.parquet(s"$dir/_weights"))

  /** The score store WITH its `db` hive partition column — internal
    * readers filter on it so the listing prunes to the batch's doc
    * buckets at planning time. */
  private def scoresWithDb(spark: SparkSession,
                           statePath: String): Option[DataFrame] =
    IndexDirs.readIfExists(spark, mainPath(statePath), markers)

  /** The maintained importance scores over every raw doc scored so
    * far — the c10 output shape. None before the first training. */
  def scores(spark: SparkSession, statePath: String): Option[DataFrame] =
    scoresWithDb(spark, statePath).map(_.drop("db"))

  /** Batch feature rows: one per (doc, side, feature) with occurrence
    * count and doc bucket. */
  private def featureRows(docs: DataFrame, idCol: String, textCol: String,
                          isTarget: Column, p: Params): DataFrame =
    docs.select(col(idCol), isTarget.as("__t"),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(col(idCol), col("__t"),
        Mixture.dsirFeature(col("__w"), p.hashBuckets).as("__f"))
      .groupBy(col(idCol), col("__t"), col("__f"))
      .agg(count(lit(1)).as("__tf"))
      .withColumn("db", TextFunctions.md5Bucket(col(idCol), p.docParts))

  /** Fold one document micro-batch. Single-writer per statePath. */
  def processBatch(newDocs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, statePath: String,
                   params: Params = Params()): Unit = {
    val spark = newDocs.sparkSession
    if (newDocs.isEmpty) return
    checkParams(spark, statePath, params)
    // batch-sized; materialized eagerly — the lineage below spans the
    // docs append and the scores append
    val ftok = featureRows(newDocs.dropDuplicates(idCol), idCol, textCol,
      isTarget, params).localCheckpoint(true)
    if (ftok.isEmpty) return // all docs tokenless: invisible, as in batch

    // Δ-sized driver hop: touched doc buckets bound both replay guards
    val touchedDb = ftok.select("db").distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    // docs FIRST (claims-before-results), replay-idempotent: stored
    // ids pinned PRE-append decide what the append adds
    val storedIds = (docsStore(spark, statePath) match {
      case Some(d) => d.filter(col("db").isin(touchedDb: _*))
        .select(col(idCol)).distinct()
      case None => ftok.select(col(idCol)).limit(0)
    }).localCheckpoint(true)
    val newRows = ftok.join(storedIds, Seq(idCol), "left_anti")
    if (!newRows.isEmpty)
      newRows.write.mode("append").partitionBy("db")
        .parquet(IndexDirs.prepareAppend(spark, docsPath(statePath)))

    model(spark, statePath, params) match {
      case None =>
        // no model yet: train once both sides exist in the ACCUMULATED
        // store (scores everything stored, this batch included)
        val sides = docsStore(spark, statePath).get.agg(
          max(when(col("__t"), 1).otherwise(0)),
          max(when(!col("__t"), 1).otherwise(0))).head()
        if (sides.getInt(0) == 1 && sides.getInt(1) == 1)
          retrain(spark, statePath, idCol, params)
      case Some(m) =>
        // frozen-model scoring of the batch's not-yet-scored raw docs:
        // weights probe pruned to the batch's feature buckets, score
        // store pruned to the batch's doc buckets. Features come from
        // the STORE's claimed rows (pruned to the batch's db buckets),
        // not from the raw batch: a replayed batch with amended text
        // must score what the claims-before-results commit actually
        // stored, or the maintained scores drift from the ingested
        // corpus until the next retrain.
        val batchIds = ftok.select(col(idCol)).distinct()
        val claimed = docsStore(spark, statePath).get
          .filter(col("db").isin(touchedDb: _*))
          .join(batchIds, Seq(idCol))
        val raw = claimed.filter(!col("__t"))
        val scored = scoresWithDb(spark, statePath).get
          .filter(col("db").isin(touchedDb: _*)).select(col(idCol))
        val toScore = raw.join(scored, Seq(idCol), "left_anti")
        if (!toScore.isEmpty) {
          val touchedFb = toScore.select(fbOf(col("__f"), params).as("fb"))
            .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
          val w = weightsWithFb(spark, statePath).get
            .filter(col("fb").isin(touchedFb: _*)).select("__f", "__m")
          Mixture.scoreFeatureRows(toScore, idCol, w, m.oovWeight)
            .withColumn("db", TextFunctions.md5Bucket(col(idCol),
              params.docParts))
            .write.mode("append").partitionBy("db")
            .parquet(IndexDirs.appendDir(spark, mainPath(statePath), markers))
        }
    }
  }

  /** Rebuild the model over the FULL accumulated store and rescore
    * every raw doc, landing scores + weights + scalars as the next
    * main version — live atomically when the `_scalars` marker
    * (written last) appears; the previous version is retained one
    * generation for concurrent readers ([[IndexDirs.retire]]). After
    * this, the maintained scores equal the one-shot
    * [[Mixture.importanceWeights]] over every ingested doc exactly.
    * No-op until the store holds both target and raw tokens. */
  def retrain(spark: SparkSession, statePath: String, idCol: String,
              params: Params = Params()): Unit = {
    requireParams(spark, statePath, params)
    docsStore(spark, statePath).foreach { store =>
      val sides = store.agg(
        max(when(col("__t"), 1).otherwise(0)),
        max(when(!col("__t"), 1).otherwise(0))).head()
      if (sides.getInt(0) == 1 && sides.getInt(1) == 1) {
        val m = Mixture.dsirModelFromCounts(
          store.select(col("__t"), col("__f"), col("__tf")),
          params.hashBuckets)
        val weights = m.weights.cache()
        try {
          val next = IndexDirs.nextDir(spark, mainPath(statePath))
          Mixture.scoreFeatureRows(store.filter(!col("__t")), idCol,
              weights, m.oovWeight)
            .withColumn("db", TextFunctions.md5Bucket(col(idCol),
              params.docParts))
            .write.mode("overwrite").partitionBy("db").parquet(next)
          weights.withColumn("fb", fbOf(col("__f"), params))
            .repartition(col("fb"))
            .write.mode("overwrite").partitionBy("fb")
            .parquet(s"$next/_weights")
          // scalars LAST: the liveness marker
          import spark.implicits._
          Seq((m.targetTokens, m.rawTokens, m.vocabSize))
            .toDF("nt", "nr", "v")
            .coalesce(1).write.mode("overwrite").parquet(s"$next/_scalars")
          IndexDirs.retire(spark, mainPath(statePath), markers)
        } finally { weights.unpersist(); () }
      }
    }
  }

  /** LSM-ish maintenance for the docs store: per-batch appends leave a
    * file per batch per touched `db` partition; rewrite into one
    * sorted run per partition as the next version (crash-safe
    * [[IndexDirs]] swap, previous generation retained for in-flight
    * readers). The main store needs no compact — score appends stay
    * inside the live version and every retrain rewrites it wholesale. */
  def compact(spark: SparkSession, statePath: String): Unit =
    docsStore(spark, statePath).foreach { store =>
      val p = docsPath(statePath)
      store.repartition(col("db")).sortWithinPartitions("__f")
        .write.mode("overwrite").partitionBy("db")
        .parquet(IndexDirs.nextDir(spark, p))
      IndexDirs.retire(spark, p)
    }

  /** Maintenance sweep for long streams: retire superseded versions
    * of BOTH stores — crashed-retrain/compact leftovers included. */
  def vacuum(spark: SparkSession, statePath: String, keep: Int = 2): Unit = {
    IndexDirs.retire(spark, mainPath(statePath), markers, keep)
    IndexDirs.retire(spark, docsPath(statePath), keep = keep)
  }

  /** Attach to a streaming document source: one [[processBatch]] per
    * micro-batch. */
  def attach(docs: DataFrame, idCol: String, textCol: String,
             isTarget: Column, statePath: String,
             params: Params = Params(),
             trigger: Trigger = Trigger.ProcessingTime(1000)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$statePath/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, idCol, textCol, isTarget, statePath, params)
      }
      .start()
}
