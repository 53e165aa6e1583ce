package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventAnalytics

case class Ev(event_id: Long, ts: Long, user_id: Long,
              event_type: String, value: Double)

class EventAnalyticsSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._
  import spark.implicits._

  private val H = 3600L * 1000000000L // one hour in nanos

  test("windowed stats: one definition serves batch and watermarked streaming") {
    // three hours of events, plus one late event inside hour 0
    val events = Seq(
      Ev(1, 0 * H + 1, 10, "click", 1.0),
      Ev(2, 0 * H + 2, 11, "click", 2.5),
      Ev(3, 1 * H + 1, 10, "buy", 10.0),
      Ev(4, 1 * H + 2, 12, "click", 3.0),
      Ev(5, 0 * H + 3, 13, "buy", 7.25), // late for hour 0
      Ev(6, 2 * H + 1, 10, "click", 4.0))

    val batch = EventAnalytics.windowedStats(events.toDF(), "1 hour")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3)))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = EventAnalytics.windowedStats(
      stream.toDF(), "1 hour", watermark = Some("30 minutes"))
      .writeStream.outputMode(OutputMode.Append())
      .queryName("ev_out").format("memory")
      .trigger(Trigger.ProcessingTime(0)).start()

    stream.addData(events.take(5))
    q.processAllAvailable()
    // advance the watermark far past every window so all of them close
    stream.addData(Ev(99, 10 * H, 99, "flush", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ev_out")
      .filter(col("event_type") =!= "flush")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3)))

    // the streaming run only saw events 1-5; compare to batch over the same
    val batch5 = EventAnalytics.windowedStats(events.take(5).toDF(), "1 hour")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch5.toSeq,
      s"streaming ≠ batch: ${streamed.toSeq} vs ${batch5.toSeq}")
    // sanity on the full batch result: hour 0 click count = 2
    assert(batch.exists(r => r._2 == "click" && r._3 == 2))
  }

  test("session windows: one definition serves batch and watermarked streaming") {
    val M = 60L * 1000000000L // one minute in nanos
    // user 10: two sessions (gap 45 min > 30); user 11: one session
    val events = Seq(
      Ev(1, 0 * M, 10, "click", 1.0),
      Ev(2, 10 * M, 10, "click", 2.0),
      Ev(3, 55 * M, 10, "buy", 3.0),
      Ev(4, 5 * M, 11, "click", 4.0))

    def render(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "session_start")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toSeq

    val batch = render(
      EventAnalytics.sessionWindowStats(events.toDF(), "30 minutes"))
    assert(batch.map(b => (b._1, b._4)) == Seq((10L, 2L), (10L, 1L), (11L, 1L)))
    // session end = last event + gap
    assert(batch.head._3 - batch.head._2 == (10 + 30) * 60000L)

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = EventAnalytics.sessionWindowStats(
      stream.toDF(), "30 minutes", watermark = Some("10 minutes"))
      .writeStream.outputMode(OutputMode.Append())
      .queryName("sw_out").format("memory")
      .trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(events.take(2))
    q.processAllAvailable()
    stream.addData(events.drop(2))
    q.processAllAvailable()
    stream.addData(Ev(99, 1000 * M, 99, "flush", 0.0)) // close all windows
    q.processAllAvailable()
    q.stop()

    val streamed = render(spark.table("sw_out").filter(col("user_id") =!= 99))
    assert(streamed == batch, s"streaming ≠ batch: $streamed vs $batch")
  }

  test("SQL surface: reference table and view names answer through spark.sql") {
    Engine.registerViews(spark, sf)
    val viaSql = spark.sql(
      "SELECT COUNT(*) FROM customer_purchase_summary").head().getLong(0)
    val viaApi = Queries.all("q01_purchase_summary")(spark, sf).count()
    assert(viaSql == viaApi && viaSql > 0)

    val top = spark.sql("""
      SELECT merchant_name, COUNT(*) AS n FROM customer_purchase_summary
      WHERE transaction_category = 'Purchase'
      GROUP BY merchant_name ORDER BY n DESC, merchant_name LIMIT 1""").collect()
    assert(top.length == 1)
    assert(spark.sql("SELECT COUNT(*) FROM transactions").head().getLong(0) > 0)
  }

  test("engine functions are callable from SQL") {
    Engine.registerFunctions(spark)
    graft.sources.TestData.table(spark, sf, "documents")
      .createOrReplaceTempView("docs_fn")
    val r = spark.sql("""
      SELECT doc_id, token_count(text) AS n, lang_id(text) AS l,
             quality_score(text) AS q, doc_fingerprint(text) AS fp
      FROM docs_fn ORDER BY doc_id LIMIT 5""").collect()
    assert(r.length == 5)
    assert(r.forall(_.getInt(1) > 0))
    assert(r.forall(x => x.getDouble(3) >= 0 && x.getDouble(3) <= 1))
    assert(r.forall(_.getString(4).length == 32))

    graft.sources.TestData.table(spark, sf, "embeddings")
      .createOrReplaceTempView("emb_fn")
    val c = spark.sql("""
      SELECT vec_id, vector_dot(embedding, embedding) AS selfdot,
             cosine_similarity(embedding, embedding) AS selfcos,
             lsh_bucket(embedding) AS bucket
      FROM emb_fn ORDER BY vec_id LIMIT 3""").collect()
    assert(c.forall(_.getDouble(1) > 0))
    assert(c.forall(x => math.abs(x.getDouble(2) - 1.0) < 1e-9))
    assert(c.forall(x => x.getLong(3) >= 0 && x.getLong(3) < 256))

    val s = spark.sql("""
      SELECT doc_id, md5_bucket(doc_id) AS b, hash_split(doc_id) AS split
      FROM docs_fn ORDER BY doc_id LIMIT 20""").collect()
    assert(s.forall(x => x.getInt(1) >= 0 && x.getInt(1) < 100))
    assert(s.map(_.getString(2)).toSet.subsetOf(Set("train", "val", "test")))

    // round-8 surface additions: weighted_priority + bloom_might_contain
    val wp = spark.sql("""
      SELECT doc_id, weighted_priority(doc_id, 10) AS p
      FROM docs_fn ORDER BY doc_id LIMIT 5""").collect()
    assert(wp.forall(_.getLong(1) >= 0))
    val bits = new Array[Byte](64)
    org.apache.spark.sql.graft.BloomMightContain.set(42L, bits, 4)
    val hex = bits.map("%02x".format(_)).mkString
    val bm = spark.sql(
      s"""SELECT bloom_might_contain(42L, unhex('$hex'), 4) AS yes,
                 bloom_might_contain(43L, unhex('$hex'), 4) AS probably_not
      """).head()
    assert(bm.getBoolean(0))
  }
}
