package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned directory discipline shared by every maintained index
  * ([[IncrementalNearDup]], [[IncrementalEmbeddingDedup]],
  * [[IncrementalBm25]], [[IncrementalDsir]], ...) — the
  * physical-layout analogue of [[LabelStore]]'s versioned commits.
  *
  * Layout: `<path>/v<N>` version directories. A version is LIVE once
  * its root `_SUCCESS` (written by the Spark job that filled it) and
  * every required sidecar `marker` exist; readers resolve the
  * newest live version. Per-batch appends land INSIDE the current
  * live version (appended files extend a snapshot — they never
  * invalidate a file listing a reader already holds). A full rewrite
  * (compaction, retrain) writes the NEXT version number and becomes
  * visible atomically when its markers land, then [[retire]]s all but
  * the newest two live versions: the previous version's files survive
  * one more generation, so a reader that resolved it BEFORE the swap
  * still completes with its snapshot intact — snapshot isolation at
  * the directory-version level, one generation deep (a reader older
  * than two rewrites is out of retention, the standard trade). A
  * crash mid-rewrite leaves an unmarked directory readers ignore and
  * the next successful rewrite sweeps; content is never lost — the
  * interrupted rewrite simply didn't happen. */
private[graft] object IndexDirs {

  def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private val Ver = "^v(\\d+)$".r

  /** One-time adoption of a state directory written by the pre-version
    * FLAT layout (data files / `pb=`-style partition dirs / sidecars
    * directly under `path`, no `v<N>` children): move every child into
    * `v0`. The old root `_SUCCESS` travels along, so a complete flat
    * index becomes a live `v0` — previously-accumulated state stays
    * recognized (dedup continuity) instead of silently reading as
    * empty — while an incomplete one stays invisible, same as before.
    * Idempotent (a versioned dir has no non-version children); runs
    * under the same single-writer discipline as the folds. */
  private def adoptFlatLayout(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return
    val children = f.listStatus(root).toSeq.map(_.getPath)
    val hasVersions = children.exists(p => Ver.matches(p.getName))
    if (hasVersions || children.isEmpty) return
    val v0 = new Path(root, "v0")
    f.mkdirs(v0)
    children.foreach(c => f.rename(c, new Path(v0, c.getName)))
  }

  /** Every `v<N>` child of `path`, live or not, ascending. */
  private def versionDirs(spark: SparkSession,
                          path: String): Seq[(Long, Path)] = {
    adoptFlatLayout(spark, path)
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) Nil
    else f.listStatus(new Path(path)).toSeq.map(_.getPath)
      .flatMap(p => p.getName match {
        case Ver(n) => Some((n.toLong, p))
        case _ => None
      }).sortBy(_._1)
  }

  /** LIVE versions ascending: root `_SUCCESS` plus every `marker`
    * (a path relative to the version dir, e.g. the
    * `_centroids/_SUCCESS` sidecar gate) present. */
  def versions(spark: SparkSession, path: String,
               markers: Seq[String] = Nil): Seq[Long] = {
    val f = fs(spark, path)
    versionDirs(spark, path).filter { case (_, p) =>
      ("_SUCCESS" +: markers).forall(m => f.exists(new Path(p, m)))
    }.map(_._1)
  }

  /** The newest live version's directory — what readers resolve. */
  def currentDir(spark: SparkSession, path: String,
                 markers: Seq[String] = Nil): Option[String] =
    versions(spark, path, markers).lastOption.map(v => s"$path/v$v")

  /** Where per-batch appends land: the newest live version, or the
    * initial `v0` before the first commit (the append itself creates
    * it and its `_SUCCESS` makes it live). */
  def appendDir(spark: SparkSession, path: String,
                markers: Seq[String] = Nil): String =
    currentDir(spark, path, markers).getOrElse(s"$path/v0")

  /** WRITER-side [[appendDir]] with first-append hygiene: when no live
    * version exists yet, any unmarked leftover version dirs are
    * deleted first. Two crash classes die here: (a) a FIRST append
    * that crashed mid job-commit stranded partial data files in an
    * unmarked `v0` — without the sweep they'd become visible alongside
    * the replay's copies the moment the replay's `_SUCCESS` lands;
    * (b) a crashed pre-append sidecar write left a trained quantizer
    * in the unmarked dir — sweeping it forces the replayed first batch
    * to retrain from ITS data, so a stale artifact from a changed
    * source is never silently adopted. Single-writer, like the folds;
    * readers never resolve unmarked dirs so the sweep is invisible to
    * them. */
  def prepareAppend(spark: SparkSession, path: String,
                    markers: Seq[String] = Nil): String = {
    if (versions(spark, path, markers).isEmpty) {
      val f = fs(spark, path)
      versionDirs(spark, path).foreach { case (_, p) => f.delete(p, true); () }
    }
    appendDir(spark, path, markers)
  }

  /** The newest live version as a DataFrame — None before the first
    * commit. */
  def readIfExists(spark: SparkSession, path: String,
                   markers: Seq[String] = Nil): Option[DataFrame] =
    currentDir(spark, path, markers).map(spark.read.parquet)

  /** L0 delta zone: per-batch appends land as ONE file per batch in
    * `<version>/_l0` (underscore-hidden from the bucketed read)
    * instead of one file per touched hive bucket. The probe reads
    * bucketed(pruned) ∪ L0(whole) — L0 is bounded by the compaction
    * interval, so the probe stays Δ+interval-bounded while appends
    * stop scaling with the BUCKET COUNT: with thousands of buckets a
    * per-bucket append writes thousands of tiny files per batch (the
    * classic small-file death at 100 TB; measured 10× fold-wall
    * inflation at soak scale), whereas an L0 batch is one file
    * regardless. [[BucketTrie.compactStore]] merges L0 into the
    * bucketed store each sweep. */
  val L0 = "_l0"

  private def hasDataFiles(spark: SparkSession, p: Path): Boolean = {
    val f = fs(spark, p.toString)
    f.exists(p) && f.listStatus(p).exists(s =>
      !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
  }

  /** Visible data files directly under `p` (Spark's hidden-path rule
    * skips a directory literally NAMED `_l0`, even as an explicit
    * read root — list its part files and pass them individually). */
  private[graft] def dataFiles(spark: SparkSession, p: Path): Seq[String] = {
    val f = fs(spark, p.toString)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
  }

  private[graft] def readL0(spark: SparkSession,
                            versionDir: String): Option[DataFrame] = {
    val files = dataFiles(spark, new Path(versionDir, L0))
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** [[readIfExists]] for an L0-disciplined store: the newest live
    * version's bucketed data unioned with its L0 delta files. The
    * bucket column comes from hive partition discovery on the
    * bucketed side and travels as a plain data column in L0 rows, so
    * a bucket-column filter partition-prunes the bucketed scan and
    * row-filters the (bounded) L0 scan. */
  def readWithL0(spark: SparkSession, path: String,
                 markers: Seq[String] = Nil): Option[DataFrame] =
    currentDir(spark, path, markers).flatMap { dir =>
      val bucketed =
        if (hasDataFiles(spark, new Path(dir)))
          Some(spark.read.parquet(dir))
        else None
      val l0 = readL0(spark, dir)
      (bucketed, l0) match {
        case (Some(b), Some(d)) => Some(b.unionByName(d))
        case (b, d) => b.orElse(d)
      }
    }

  /** Append one batch to the L0 delta zone of the newest live version
    * (creating `v0` on the first append — made live by an explicit
    * root `_SUCCESS` once the L0 job committed; a crash in between
    * leaves an unmarked dir the [[prepareAppend]] hygiene sweeps on
    * replay). Caller passes the frame WITH its bucket column.
    *
    * `repartition(1)`, NEVER `coalesce(1)`: coalesce propagates up
    * through the batch's anti-join pipeline and collapses the whole
    * fold to one task (measured 3× fold-wall drift over a 200-batch
    * soak); the repartition keeps the fold parallel and pays one
    * delta-sized exchange into the single writer task. */
  def appendL0(spark: SparkSession, path: String, df: DataFrame,
               sortCols: Seq[String] = Nil,
               markers: Seq[String] = Nil): Unit = {
    val dir = prepareAppend(spark, path, markers)
    val one = df.repartition(1)
    val sorted =
      if (sortCols.isEmpty) one
      else one.sortWithinPartitions(sortCols.map(org.apache.spark.sql
        .functions.col): _*)
    sorted.write.mode("append").parquet(s"$dir/$L0")
    val f = fs(spark, path)
    val succ = new Path(dir, "_SUCCESS")
    if (!f.exists(succ)) { f.create(succ).close(); () }
  }

  /** Staging target for a full rewrite: one past the highest existing
    * version number (live or not — a crashed rewrite's leftover is
    * never reused). Invisible to readers until its markers land. */
  def nextDir(spark: SparkSession, path: String): String = {
    val n = versionDirs(spark, path).map(_._1).maxOption.getOrElse(-1L) + 1
    s"$path/v$n"
  }

  /** After a rewrite committed: drop every version directory except
    * the newest `keep` live ones — retaining the previous generation
    * for readers still holding its file listing, and sweeping crashed
    * rewrites' unmarked leftovers. Single-writer, like the folds. */
  def retire(spark: SparkSession, path: String,
             markers: Seq[String] = Nil, keep: Int = 2): Unit = {
    val f = fs(spark, path)
    val live = versions(spark, path, markers).takeRight(keep).toSet
    versionDirs(spark, path).filterNot(d => live.contains(d._1))
      .foreach { case (_, p) => f.delete(p, true) }
  }

  /** [[retire]] with a READER-GRACE window instead of a fixed
    * generation count: once the newest live version has been live for
    * `graceMs` (its `_SUCCESS` mtime — any reader that resolved the
    * previous version has had that long to finish its scan), the
    * superseded generation retires too (keep=1). Until then the
    * previous version is kept exactly as [[retire]]'s keep=2 would.
    * Halves the directories every maintenance fold lists once a store
    * reaches steady state, without narrowing the crash/reader
    * contract: the grace window IS the keep=2 guarantee, bounded in
    * time instead of in sweeps. */
  def retireAged(spark: SparkSession, path: String,
                 markers: Seq[String] = Nil, graceMs: Long): Unit = {
    val f = fs(spark, path)
    val keep = versions(spark, path, markers).lastOption match {
      case Some(newest) =>
        val succ = new Path(s"$path/v$newest", "_SUCCESS")
        val age = System.currentTimeMillis() -
          f.getFileStatus(succ).getModificationTime
        if (age >= graceMs) 1 else 2
      case None => 2
    }
    retire(spark, path, markers, keep)
  }

  /** Verify the caller's serialized params against the frozen
    * `_params` sidecar if one exists — the READ-ONLY check every
    * maintainer's query/score path uses. Stored layouts (bucket
    * functions, key encodings, widths) are pure functions of the
    * params, so a drifted caller would silently miss stored rows;
    * this turns drift into a loud require. */
  def requireParams(spark: SparkSession, statePath: String,
                    repr: String): Unit = {
    val f = fs(spark, statePath)
    val path = new org.apache.hadoop.fs.Path(s"$statePath/_params")
    if (f.exists(path)) {
      val in = f.open(path)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(stored == repr,
        s"state at $statePath was built with [$stored]; this call uses " +
          s"[$repr] — params are frozen per state dir")
    }
  }

  /** [[requireParams]] plus write-once: the first WRITER freezes the
    * sidecar. Read paths must use [[requireParams]] — a query against
    * a not-yet-ingested state dir must never create (and thereby
    * freeze) the sidecar out from under the eventual writer. */
  def checkParams(spark: SparkSession, statePath: String,
                  repr: String): Unit = {
    requireParams(spark, statePath, repr)
    val f = fs(spark, statePath)
    val path = new org.apache.hadoop.fs.Path(s"$statePath/_params")
    if (!f.exists(path)) {
      val out = f.create(path, true)
      try out.write(repr.getBytes("UTF-8")) finally out.close()
    }
  }
}
