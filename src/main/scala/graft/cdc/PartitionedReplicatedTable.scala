package graft.cdc

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The 100 TB form of [[ReplicatedTable]]: partition-scoped CDC merge.
  *
  * Layout: `path/p=<enc>/v=N` immutable version directories plus a
  * root manifest (`m=N` files + one `_CURRENT` pointer). A change batch
  * only ever reads and rewrites the partitions its keys live in — apply
  * cost is O(touched partitions), not O(table). For a fact table
  * partitioned by `transaction_date`, a steady-state CDC batch touches
  * one or two date partitions of an arbitrarily large table.
  *
  * Mechanics per batch: LWW-collapse the changes and materialize the
  * winners once (`localCheckpoint`), collect their partition values (a
  * tiny driver-side list) from those rows, merge the same rows against
  * a partition-pruned read of just those partitions, stage the result
  * with a partitioned write, rename each staged partition into place as
  * its next immutable version, then publish ONE new manifest mapping
  * every partition to its version and swap the root pointer. The
  * change batch's lineage — for a view refresh, the whole view delta —
  * is therefore evaluated exactly once per commit, however many
  * consumers read the winners.
  * The pointer swap is the single commit point: readers resolve all
  * partitions from one manifest, so a multi-partition batch is visible
  * all-or-nothing — no torn reads — and a crashed writer leaves only
  * unreferenced version dirs.
  *
  * Partition values are encoded as `x` + uppercase hex of the UTF-8
  * bytes (`hex()` on the write side, the same bytes driver-side).
  * Hex is escape-free — every generated directory name is alphanumeric
  * — so values containing `%`, `:`, spaces, or non-ASCII survive
  * Spark's Hive-style partition-name escaping verbatim (a URL-encoded
  * scheme would be re-escaped by the writer and break the staged-dir
  * lookup). The `x` prefix keeps the name non-empty for `""`.
  *
  * Constraints (documented contract):
  *  - every event (including DELETEs) must carry the partition column —
  *    the replica identity of a partitioned table includes its
  *    partition key; snapshots must not contain null partition values
  *    either;
  *  - the partition value is immutable per primary key (a key never
  *    migrates between partitions) — true of transaction_date per
  *    transaction_id, and of event-time partitioning generally.
  */
final class PartitionedReplicatedTable(spark: SparkSession, path: String,
                                       val keys: Seq[String],
                                       val partitionCol: String,
                                       val statsCols: Seq[String] = Nil)
    extends KeyedTable {

  private val root = new Path(path)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  private val meta = new MetaFiles(root, fs)
  private val Empty = "EMPTY"
  private val head = new Path(root, "_CURRENT")

  /** Driver-side twin of [[encExpr]]: `x` + uppercase hex of UTF-8. */
  private def enc(v: Any): String =
    if (v == null) null
    else "x" + String.valueOf(v).getBytes(StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString

  /** Spark-side partition encoding — must emit byte-identical names to
    * [[enc]] (hex of the same UTF-8 bytes; spec-checked with `:`,
    * space, `%`, and non-ASCII values). */
  private def encExpr: Column =
    concat(lit("x"), hex(col(partitionCol).cast("string")))

  private def partDir(e: String) = new Path(root, s"p=$e")

  private def schemaPath = new Path(root, "_SCHEMA")

  private def schema: StructType =
    DataType.fromJson(meta.read(schemaPath)).asInstanceOf[StructType]

  def isSnapshotDone: Boolean = fs.exists(head)

  /** One committed manifest row: the partition's version dir ("v=N" |
    * EMPTY) plus its optional zone-map stats string. */
  private case class Entry(ver: String, stats: Option[String])

  /** The committed manifest: encoded partition value → entry. Lines
    * are `enc \t ver [\t stats]` — the 2-field form (pre-zone-map
    * manifests) still parses, so stats adoption needs no migration. */
  private def manifest(): Map[String, Entry] =
    if (!isSnapshotDone) Map.empty
    else manifestFrom(new Path(root, s"m=${meta.read(head)}"))

  private def manifestFrom(p: Path): Map[String, Entry] =
    meta.read(p)
      .linesIterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t')
        f(0) -> Entry(f(1), f.lift(2).filter(_.nonEmpty))
      }.toMap

  /** COMMITTED manifest versions still on disk, ascending — the
    * TIME-TRAVEL window. Every retained manifest is a complete,
    * immutable partition→version mapping whose data dirs [[vacuum]]
    * preserves (the reader-grace contract), so each one is a readable
    * snapshot. Bounded by the head pointer: a writer stages its
    * manifest BEFORE the head swap (the commit point), so a crash can
    * leave an m=N file above the committed head — that orphan is
    * uncommitted data and must never be served. */
  def versions(): Seq[Int] =
    if (!isSnapshotDone) Seq.empty
    else {
      val committed = meta.read(head).toInt
      fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("m="))
        .flatMap(_.stripPrefix("m=").toIntOption)
        .filter(_ <= committed).sorted.toSeq
    }

  /** Read the table AS OF a committed manifest version — the
    * Snowflake-time-travel read over the retained window ([[vacuum]]'s
    * `keepManifests` sets the horizon; older versions fail loudly
    * rather than silently serving the wrong snapshot, and versions
    * above the committed head — a crashed writer's staged manifest —
    * are refused the same way). Reads apply the CURRENT schema
    * sidecar: after a column ADD, historical snapshots null-fill the
    * new column (column loss is rejected at apply time, so the stored
    * schema only ever widens — old files always project). */
  def asOf(version: Int): DataFrame = {
    require(isSnapshotDone, s"no snapshot at $path yet")
    val committed = meta.read(head).toInt
    val p = new Path(root, s"m=$version")
    require(version <= committed && fs.exists(p),
      s"manifest $version not retained at $path (vacuumed, never " +
        s"committed, or staged-but-uncommitted) — retained: " +
        s"${versions().mkString(", ")}")
    val m = manifestFrom(p)
    read(m, m.keys.toSeq)
  }

  private def read(m: Map[String, Entry], parts: Seq[String]): DataFrame = {
    // pair each requested partition with ITS OWN manifest entry —
    // partitions absent from the manifest (new in this batch) or EMPTY
    // contribute no dir
    val dirs = parts.flatMap(e => m.get(e).map(_.ver).collect {
      case v if v != Empty => new Path(partDir(e), v).toString
    })
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // recursiveFileLookup disables partition-dir inference — the p=/v=
    // path segments are our layout, not Hive partitioning; the
    // partition column is stored in the files themselves
    else spark.read.schema(schema)
      .option("recursiveFileLookup", "true").parquet(dirs: _*)
  }

  def current(): DataFrame = {
    val m = manifest(); read(m, m.keys.toSeq)
  }

  /** Pruned read of the partitions holding the given values. */
  def currentForValues(values: Seq[Any]): DataFrame =
    read(manifest(), values.map(enc))

  /** Encoded partition values of a frame, computed with the same Spark
    * expression the staged write uses — encoding parity by construction. */
  private def encodedValues(df: DataFrame): Seq[String] =
    df.select(encExpr.as("__p"))
      .distinct().collect().map(r => Option(r.getString(0)).orNull).toSeq

  /** Initial snapshot: stage a partitioned write, install every
    * partition as v=0, publish manifest 0. The partition list is read
    * back from the staged `__p=` directories, so the input is evaluated
    * once; a null partition value stages as the writer's default
    * partition and is rejected before anything is installed. */
  def snapshot(df: DataFrame): Unit = {
    meta.write(schemaPath, df.schema.json)
    val staged = stage(df)
    val parts = fs.listStatus(staged).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("__p=")).map(_.stripPrefix("__p="))
    val nullPart = parts.contains(DEFAULT_PARTITION_NAME)
    if (nullPart) fs.delete(staged, true)
    require(!nullPart, s"snapshot rows must carry a non-null $partitionCol")
    install(staged, parts, Map.empty, 0)
  }

  /** Partition-scoped incremental apply. Upstream column ADDs evolve
    * the table (see [[CdcApply.applyBatch]]): the schema sidecar is
    * rewritten first, and since reads apply the stored schema, parquet
    * files of untouched partitions null-fill the new column at read
    * time — no rewrite of unaffected data. (Crash window: schema
    * updated but manifest not yet published shows the added column as
    * all-NULL until the batch lands — benign, no data loss.) */
  def applyChanges(changes: DataFrame): Unit = {
    require(isSnapshotDone, s"cannot apply changes before snapshot: $path")
    // one evaluation of the batch: the partition collect and the merge
    // below both read these materialized rows, never the lineage
    val winners = CdcApply.latest(changes, keys).localCheckpoint(true)
    val affected = encodedValues(winners)
    require(!affected.contains(null),
      s"every change event must carry $partitionCol (incl. DELETE replica identity)")
    val m = manifest()
    val merged = CdcApply.mergeWinners(read(m, affected), winners, keys,
      allowEvolution = true)
    if (merged.schema.fieldNames.toSeq != schema.fieldNames.toSeq)
      meta.write(schemaPath, merged.schema.json)
    install(stage(merged), affected, m, meta.read(head).toInt + 1)
  }

  /** One partitioned write of `df` into a fresh `_stage-*` directory,
    * one `__p=<enc>` subdirectory per partition value. */
  private def stage(df: DataFrame): Path = {
    val dir = new Path(root, s"_stage-${System.nanoTime()}")
    df.withColumn("__p", encExpr)
      .write.partitionBy("__p").parquet(dir.toString)
    dir
  }

  /** Per-partition version renames out of a staged write, then a single
    * manifest publish as the batch's commit point. A partition absent
    * from the staged output became empty. With statsCols set, zone-map
    * stats for the installed partitions are computed BETWEEN install
    * and publish — one scan of the just-written (page-cache warm)
    * parquet, never a recompute of the merge lineage — and ride the
    * same manifest commit; untouched partitions carry their stats
    * forward. */
  private def install(stage: Path, affected: Seq[String],
                      prev: Map[String, Entry], manifestV: Int): Unit = {
    val updates = affected.map { e =>
      val staged = new Path(stage, s"__p=$e")
      // next = one past the highest version ever written, NOT prev+1:
      // an EMPTY partition keeps its old version dirs, which must never
      // be reused (the rename would land inside the existing dir).
      val next =
        if (!fs.exists(partDir(e))) 0
        else fs.listStatus(partDir(e)).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("v="))
          .map(_.stripPrefix("v=").toInt)
          .maxOption.fold(0)(_ + 1)
      if (fs.exists(staged)) {
        fs.mkdirs(partDir(e))
        val dest = new Path(partDir(e), s"v=$next")
        if (!fs.rename(staged, dest))
          throw new IllegalStateException(s"failed to install $dest")
        e -> s"v=$next"
      } else e -> Empty
    }
    val stats = computeStats(updates.collect {
      case (e, v) if v != Empty => new Path(partDir(e), v)
    })
    val next = prev ++ updates.map { case (e, v) =>
      e -> Entry(v, if (v == Empty) None else stats.get(e))
    }
    meta.write(new Path(root, s"m=$manifestV"),
      next.map { case (e, en) =>
        s"$e\t${en.ver}" + en.stats.fold("")("\t" + _)
      }.mkString("\n"))
    meta.write(head, manifestV.toString) // the commit point
    fs.delete(stage, true)
  }

  // ---- zone maps -------------------------------------------------------

  /** Per-partition min/max of every stats column over the given
    * installed version dirs, as one Spark job (the partition key is
    * recovered from the file path). Values are hex-encoded with [[enc]]
    * so the manifest line stays tab/newline-free; an all-null column is
    * recorded as `-`. */
  private def computeStats(installed: Seq[Path]): Map[String, String] = {
    if (statsCols.isEmpty || installed.isEmpty) return Map.empty
    val base = spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(installed.map(_.toString): _*)
      .withColumn("__e",
        regexp_extract(input_file_name(), "p=([^/]+)/v=", 1))
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    base.groupBy("__e").agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val e = r.getString(0)
        val s = statsCols.map { c =>
          val mn = Option(r.getAs[String](s"__mn_$c")).map(enc).getOrElse("-")
          val mx = Option(r.getAs[String](s"__mx_$c")).map(enc).getOrElse("-")
          s"$c,$mn,$mx"
        }.mkString("|")
        e -> s
      }.toMap
  }

  private def decHex(s: String): String =
    new String(s.stripPrefix("x").grouped(2)
      .map(h => Integer.parseInt(h, 16).toByte).toArray,
      StandardCharsets.UTF_8)

  /** Zone-map interval of `column` in a stats string: None = stats
    * absent (cannot prune), Some(None) = all rows null (range
    * predicates match nothing), Some(Some((min, max))) otherwise. */
  private def zoneOf(stats: Option[String], column: String)
      : Option[Option[(String, String)]] =
    stats.flatMap(_.split('|').iterator.map(_.split(','))
      .collectFirst { case Array(c, mn, mx) if c == column =>
        if (mn == "-" || mx == "-") None
        else Some((decHex(mn), decHex(mx)))
      })

  /** Ordering on the stored string representation, typed off the
    * schema. Floating types parse as doubles (NaN/Infinity included —
    * BigDecimal would throw on a NaN zone); other numerics as
    * decimals; timestamps re-parse on BOTH sides because the stored
    * form (Spark cast: no fractional part at .0) and a probe's
    * String.valueOf(java.sql.Timestamp) (always ".0") differ textually
    * at equal instants — a lexicographic compare would silently prune
    * boundary-matching partitions; dates/strings compare
    * lexicographically (ISO order = chronological). */
  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: org.apache.spark.sql.types.NumericType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      java.sql.Timestamp.valueOf(a).compareTo(java.sql.Timestamp.valueOf(b))
    case _ => a.compareTo(b)
  }

  /** Render a probe bound the way [[cmp]] expects for the column's
    * type (timestamps normalize through java.sql.Timestamp so either
    * a Timestamp or a "yyyy-mm-dd hh:mm:ss[.f]" string works). */
  private def boundRepr(dt: DataType, v: Any): String = v match {
    case t: java.sql.Timestamp => t.toString
    case other => String.valueOf(other)
  }

  /** Encoded partition keys whose zone intersects [lo, hi] (null =
    * unbounded). Partitions without stats for `column` are kept —
    * pruning is only ever a superset filter. With BOTH bounds null
    * there is no range predicate at all, so nothing is pruned — not
    * even all-null zones (a doubly-unbounded read must equal
    * `current()`, null rows included). */
  private def survivors(m: Map[String, Entry], column: String,
                        lo: Any, hi: Any): Seq[String] = {
    val nonEmpty = m.toSeq.collect { case (e, en) if en.ver != Empty => (e, en) }
    if (lo == null && hi == null) return nonEmpty.map(_._1)
    val dt = schema(column).dataType
    nonEmpty.collect {
      case (e, en) if
        zoneOf(en.stats, column).forall(_.exists { case (mn, mx) =>
          (lo == null || cmp(dt, mx, boundRepr(dt, lo)) >= 0) &&
          (hi == null || cmp(dt, mn, boundRepr(dt, hi)) <= 0)
        }) => e
    }
  }

  /** Zone-map pruned read: partitions whose recorded [min, max] for
    * `column` cannot intersect [lo, hi] are skipped from the manifest
    * alone — no file listing, no parquet footer reads. This is the
    * manifest-level data skipping that makes a selective range query
    * O(matching partitions) on a table whose partition COLUMN is
    * something else entirely (e.g. amount ranges over a date-
    * partitioned fact). The read is a superset by contract: callers
    * apply the precise predicate on top (here as a pushed filter).
    * Requires the column in `statsCols`; partitions committed before
    * stats were enabled are conservatively kept. */
  def currentRange(column: String, lo: Any, hi: Any): DataFrame = {
    val m = manifest()
    var df = read(m, survivors(m, column, lo, hi))
    if (lo != null) df = df.filter(col(column) >= lit(lo))
    if (hi != null) df = df.filter(col(column) <= lit(hi))
    df
  }

  /** Pruning diagnostics for tests/monitoring: (surviving, total)
    * non-empty partition counts for the range. */
  def pruneStats(column: String, lo: Any, hi: Any): (Int, Int) = {
    val m = manifest()
    (survivors(m, column, lo, hi).size, m.count(_._2.ver != Empty))
  }

  /** Version of one partition value (None = no such partition,
    * Some(EMPTY) = all rows deleted). Exposed for tests/monitoring. */
  def partitionVersion(value: Any): Option[String] =
    manifest().get(enc(value)).map(_.ver)

  /** OPTIMIZE — clustered compaction. Rewrites the selected
    * partitions (all non-empty ones by default) range-partitioned and
    * sorted on `clusterBy`, so every output file covers a disjoint
    * range of the cluster key: parquet row-group min/max pushdown and
    * the manifest zone maps both get tight, and the many small files
    * a fine-grained CDC cadence leaves behind collapse into
    * `tasks`-bounded sorted runs. The row multiset is unchanged —
    * this is a layout-only rewrite riding the exact stage / install /
    * manifest-commit machinery of applyChanges, so it is crash-safe
    * and invisible to readers until the single pointer swap (and the
    * superseded versions are VACUUM's business, as ever). Run it like
    * vacuum: single writer, between applies. */
  def optimize(clusterBy: Seq[String], tasks: Int = 0): Unit = {
    require(isSnapshotDone, s"cannot optimize before snapshot: $path")
    val m = manifest()
    val affected = m.collect {
      case (e, en) if en.ver != Empty => e
    }.toSeq
    if (affected.isEmpty) return
    val cur = read(m, affected)
    val ks = (partitionCol +: clusterBy).map(col)
    val clustered =
      if (tasks > 0) cur.repartitionByRange(tasks, ks: _*)
        .sortWithinPartitions(ks: _*)
      else cur.repartitionByRange(ks: _*)
        .sortWithinPartitions(ks: _*)
    install(stage(clustered), affected, m, meta.read(head).toInt + 1)
  }

  /** Table maintenance — the VACUUM analog this layout needs at a
    * 1-minute lag cadence (every touched partition leaves its previous
    * version dir behind; 1 440 manifests/day accumulate): delete every
    * partition version dir not referenced by the newest
    * `keepManifests` manifests, the manifests older than those, and
    * crashed `_stage-*` leftovers. Retention gives concurrent readers
    * the same grace window as `IndexDirs.retire` — a reader that
    * resolved any retained manifest still finds all its files; run
    * with the single-writer discipline (between applies, like the ANN
    * compactions). Version-number reuse after a sweep is safe: the
    * writer's next-version probe keys off dirs that still exist, and
    * a fully swept partition restarts at a dir that no longer does. */
  def vacuum(keepManifests: Int = 2,
             stageGraceMs: Long = 15 * 60 * 1000L): Unit = {
    require(keepManifests >= 1, "must retain at least the head manifest")
    if (!isSnapshotDone) return
    val hv = meta.read(head).toInt
    val keepFrom = math.max(0, hv - keepManifests + 1)
    // live (partition, version-dir) references across retained manifests
    val live: Set[(String, String)] = (keepFrom to hv).flatMap { v =>
      val p = new Path(root, s"m=$v")
      if (!fs.exists(p)) Nil
      else meta.read(p).linesIterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t'); (f(0), f(1))
      }.toSeq
    }.filter(_._2 != Empty).toSet
    // sweep unreferenced partition versions
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("p=")).foreach { pd =>
        val e = pd.getName.stripPrefix("p=")
        fs.listStatus(pd).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("v="))
          .filterNot(vd => live((e, vd.getName)))
          .foreach { vd => fs.delete(vd, true); () }
      }
    // sweep superseded manifests and crashed staging dirs. Stage dirs
    // are age-gated on filesystem mtime: the single-writer convention
    // says vacuum runs between applies, but if an apply IS in flight
    // (convention violated, or a human ran vacuum by hand), its fresh
    // _stage-* must not be yanked out from under the staging write —
    // a crashed leftover is by definition old, so the grace window
    // only delays its sweep, never leaks it.
    val now = System.currentTimeMillis()
    fs.listStatus(root).toSeq.foreach { st =>
      val n = st.getPath.getName
      val oldManifest = n.startsWith("m=") &&
        n.stripPrefix("m=").toIntOption.exists(_ < keepFrom)
      val deadStage = n.startsWith("_stage-") &&
        now - st.getModificationTime >= stageGraceMs
      if (oldManifest || deadStage) { fs.delete(st.getPath, true); () }
    }
  }
}
