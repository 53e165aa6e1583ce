package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.UncacheByPlan

import graft.dedup.Dedup

/** The dedup cache registry's leak contract (round-14 ADVICE): a
  * persisted frame that becomes unreachable WITHOUT releaseCaches()
  * must still have its CacheManager entry dropped — the manager pins
  * every persisted plan strongly, so a GC'd DataFrame would otherwise
  * leak its cached blocks for the session's lifetime with no handle
  * left (ContextCleaner never touches them). Likewise the catalog's
  * materializations: `Queries.release` drops one dir's cached frames. */
class CacheRegistrySpec extends AnyFunSuite {
  import SparkTestSession._

  test("releaseCaches unpersists live registered frames") {
    val df = spark.range(0, 1000).toDF("id").persist()
    df.count()
    Dedup.registerPersisted(df)
    val plan = df.queryExecution.logical
    assert(UncacheByPlan.isCached(spark, plan))
    Dedup.releaseCaches()
    // unpersist is async (blocking=false): poll briefly
    val gone = (1 to 100).exists { _ =>
      if (UncacheByPlan.isCached(spark, plan)) { Thread.sleep(20); false }
      else true
    }
    assert(gone, "releaseCaches left the live frame's cache entry behind")
  }

  test("a dead registered frame is uncached by plan on the next sweep") {
    var df: DataFrame = spark.range(0, 1000).toDF("id").persist()
    df.count()
    Dedup.registerPersisted(df)
    val plan = df.queryExecution.logical
    assert(UncacheByPlan.isCached(spark, plan))
    val ref = new java.lang.ref.WeakReference(df)
    df = null
    // the sweep only fires for entries whose weak ref has cleared;
    // coax a collection (bounded — skip the assertion rather than
    // flake if this JVM refuses to collect)
    val cleared = (1 to 50).exists { _ =>
      System.gc()
      if (ref.get == null) true else { Thread.sleep(50); false }
    }
    assume(cleared, "JVM did not collect the weak referent; skipping")
    // next registration sweeps dead entries and uncaches them by plan
    val other = spark.range(0, 10).toDF("x").persist()
    Dedup.registerPersisted(other)
    val gone = (1 to 100).exists { _ =>
      if (UncacheByPlan.isCached(spark, plan)) { Thread.sleep(20); false }
      else true
    }
    assert(gone, "dead entry's cache survived the registration sweep")
    Dedup.releaseCaches()
  }

  test("Queries.release drops one dir's materializations and their caches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def docsDir(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-release")
        .toString
      Seq((1L, "the cat sat"), (2L, "the dog sat")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("src"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // the catalog caches each dir's documents scan on first use
    def docsCached(dir: String): Boolean = UncacheByPlan.isCached(spark,
      graft.sources.TestData.table(spark, dir, "documents")
        .queryExecution.logical)
    val (a, b) = (docsDir(), docsDir())
    val want = Queries.all("t20_kneser_ney")(spark, a).collect().toSeq
    Queries.all("t20_kneser_ney")(spark, b).collect()
    assert(docsCached(a) && docsCached(b))
    Queries.release(spark, a)
    // unpersist is async (blocking=false): poll briefly
    val gone = (1 to 100).exists { _ =>
      if (docsCached(a)) { Thread.sleep(20); false } else true
    }
    assert(gone, "release left the dir's cached documents behind")
    assert(docsCached(b), "release dropped another dir's cache")
    // a query after the release rebuilds what it reads
    assert(Queries.all("t20_kneser_ney")(spark, a).collect().toSeq == want)
    Queries.release(spark, a)
    Queries.release(spark, b)
  }
}
