package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.TestData
import graft.operators.{Dashboard, PurchaseSummary}
import graft.functions.money._
import graft.dedup.{ConnectedComponents, Dedup}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.{Bpe, Mixture, TextClassifier, TextFunctions}

/** The engine's query catalog — one named query per operator of
  * `SURVEY.md` §2, each runnable over a testdata scale-factor directory
  * and hash-checked against [[Oracle]] by the driver.
  *
  * Every query ends in a deterministic ORDER BY on non-null keys so the
  * Spark result and the DuckDB oracle agree row-for-row.
  */
object Queries {

  /** Spend-bucket thresholds scaled to the testdata's per-customer
    * totals (the reference's 4000/6000 split its ~$5k-spend customers;
    * see Dashboard.calculateCustomerSpending for the semantics). */
  val SpendLow = 20000.0
  val SpendHigh = 60000.0

  /** The catalog's shared materializations, one entry per (session,
    * SF dir, frame name): each frame is built, with its own `.cache()`
    * placement, the first time a query asks for it and read by every
    * later one. A frame whose build takes parameters beyond the dir
    * carries them all in its name. */
  private val memoized =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Any]

  private def memo[T](spark: SparkSession, dir: String, name: String)(
      build: => T): T =
    memoized.getOrElseUpdate((spark, dir, name), build).asInstanceOf[T]

  /** Drop every materialization of (session, SF dir) and unpersist its
    * cached frames. Without it they stay resident for the JVM's life:
    * a long-lived driver, or a test JVM whose later suites never read
    * that dir again, would hold them. A query asked after the release
    * rebuilds what it reads. */
  def release(spark: SparkSession, dir: String): Unit =
    memoized.keys.filter(k => k._1 == spark && k._2 == dir).foreach { k =>
      memoized.remove(k).foreach {
        case df: DataFrame => df.unpersist()
        case (df: DataFrame, _) => df.unpersist()
        case _ =>
      }
    }

  /** The flagship view, materialized once per (session, SF dir) and
    * shared by every dashboard query — mirroring the reference, whose
    * dashboard reads the MATERIALIZED dynamic table rather than
    * re-running the star join per query (`customer_spending_dashboard
    * .py:180-186` selects from `customer_purchase_summary`). Results
    * are identical to recomputing; only the repeated join work goes. */
  private def summary(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "summary") {
      val st = TestData.star(spark, dir)
      PurchaseSummary.customerPurchaseSummary(
        st.transactions, st.customers, st.products, st.merchants).cache()
    }

  /** Events table, cached once per (session, SF dir) — four analytics
    * queries share the scan. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "events")(TestData.events(spark, dir).cache())

  /** Documents table, cached once per (session, SF dir) — twelve
    * dedup/text queries share the scan. Deliberately cached at the
    * scan's own layout (ONE partition at this SF — single-row-group
    * parquet): a cache-wide fanOut was measured a net LOSS (r14) —
    * the multi-exchange dedup pipelines pay per-task × per-partition
    * shuffle-block constants at every stage and gain nothing (their
    * heavy work already lives post-shuffle), while only the
    * single-pass kernel queries win. Those few queries fan out at
    * their use site instead (see kernelDocs). */
  private def documents(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "documents")(
      TestData.table(spark, dir, "documents").cache())

  /** The documents frame fanned out to the session's cores — for the
    * SINGLE-PASS kernel queries (quality/langid/BPE/repetition/bigram
    * regex) whose cost is row-local CPU over an unsplittable one-
    * partition scan: one 0.6 MB round-robin exchange buys the kernel
    * the whole machine (measured r14: t02 1.11→0.51 s, t08 0.77→0.49,
    * t15 0.81→0.62, t03 0.66→0.49 at sf0.1 on 32 cores). Multi-exchange
    * pipelines must NOT use this — see the documents comment. */
  private def kernelDocs(spark: SparkSession, dir: String): DataFrame =
    TestData.fanOut(documents(spark, dir))

  /** Embeddings table, cached once per (session, SF dir) — the ANN /
    * exact-cosine / semantic-dedup entries share the scan. Cached at
    * the scan's own layout for the same reason as documents (a
    * cache-wide fanOut regressed the multi-stage e03–e06 pipelines by
    * ~1 s each — per-task constants at every stage); the O(n²) exact
    * baselines e01/e02, whose verify is pure per-row CPU, fan out at
    * their use site instead (measured r14: e01 4.61→0.68 s,
    * e02 5.10→0.48 s at sf0.1 on 32 cores). */
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embeddings")(
      TestData.table(spark, dir, "embeddings").cache())

  private def spending(df: DataFrame): DataFrame =
    Dashboard.calculateCustomerSpending(df, SpendLow, SpendHigh)

  /** Exact near-dup pair set (the j01 edge set), computed ONCE per
    * (session, SF dir) and shared by j01/d05/d06 — the pipeline shape:
    * pairwise candidates are materialized once, then both the pair
    * report and the cluster assignment derive from them. */
  private def dupPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "dupPairs") {
      val t = documents(spark, dir).select(col("doc_id"),
        col("source"), array_distinct(TextFunctions.tokens(col("text"))).as("w"))
      Dedup.jaccardJoinExact(t, "doc_id", "w", 0.7, Seq("source")).cache()
    }

  /** Duplicate-cluster assignment over the shared pair set, likewise
    * computed once and shared by d05/d06. */
  private def dupClusters(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "dupClusters")(
      ConnectedComponents.dupClusters(
        documents(spark, dir), "doc_id",
        dupPairs(spark, dir).select(col("a"), col("b")), "a", "b").cache())

  /** Multi-table LSH embedding near-dup pair set (the e03 scale gate),
    * computed once per (session, SF dir) and shared by e03/e04 — the
    * pipeline shape again: candidates are materialized once, the pair
    * report and the per-vector argmax both derive from them. */
  private def lshCosinePairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "lshCosinePairs")(
      Similarity.cosineNearDuplicatesMulti(
        embeddings(spark, dir), "vec_id", "embedding",
        threshold = Similarity.PairThreshold,
        tables = Similarity.PairTables).cache())

  /** Embedding-level duplicate clusters (semantic dedup): connected
    * components over the shared multi-table-LSH cosine pair set,
    * computed once per (session, SF dir) and shared by e05/e06 — the
    * same pipeline shape as the text-side d05/d06. */
  private def embClusters(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embClusters")(
      ConnectedComponents.dupClusters(
        embeddings(spark, dir).select("vec_id"), "vec_id",
        lshCosinePairs(spark, dir).select(col("a"), col("b")), "a", "b")
        .cache())

  /** Cross-doc duplicated 5-gram occurrences (doc_id, __pos) — the
    * one gram-keyed exchange d18 (span stats) and d19 (span strip)
    * both derive from, paid once per (session, SF dir). Small: only
    * duplicated occurrences survive the mark. */
  private def dupSpanOccurrences(s: SparkSession, d: String): DataFrame =
    memo(s, d, "dupSpanOccurrences")(
      Dedup.dupSpanRows(documents(s, d), "doc_id", "text", 5).cache())

  /** Per-doc curation scores (token count, quality, language),
    * computed ONCE per (session, SF dir) and shared by the pipeline
    * compositions c01/c02/c03 — the pipeline shape again: a real
    * curation job materializes its scoring stage once and every
    * downstream admission gate reads it. The standalone operator
    * entries (t01/t02/t03) deliberately do NOT use this cache — they
    * demonstrate (and are timed as) the scan-local operator itself. */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "scoredDocs")(
      documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality_score"),
        TextFunctions.langId(col("text")).as("lang_pred")).cache())

  /** Contaminated-doc verdict set (the d04 decontamination output keys),
    * computed once per (session, SF dir) and shared by the c02/c03
    * anti-joins. */
  private def contaminatedIds(s: SparkSession, d: String): DataFrame =
    memo(s, d, "contaminatedIds") {
      val docs = documents(s, d)
      val isBench = col("source").isin("src0", "src1")
      Dedup.contaminationCounts(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", 5)
        .select("doc_id").cache()
    }

  /** Representative keep-list of the LEXICAL dup clusters (min-id per
    * d05 cluster) — the single definition c01/c02/c03/c07 share, so
    * the funnel's n_final ≡ c03 invariant is structural, not a
    * coincidence of duplicated code. */
  private def lexKeepers(s: SparkSession, d: String): DataFrame =
    dupClusters(s, d)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")

  /** Representative keep-list of the EMBEDDING (semantic) clusters —
    * shared by c03/c07 the same way. */
  private def semKeepers(s: SparkSession, d: String): DataFrame =
    embClusters(s, d)
      .filter(col("vec_id") === col("cluster_id"))
      .select(col("vec_id").as("doc_id"))

  /** Per-doc bigram-LM negative log-likelihood (t16's scorer, shared
    * with c11's perplexity bucketing): corpus bigram model with add-1
    * smoothing, each doc scored by the mean NLL of its bigram
    * occurrences. Bigram occurrences come from one codegen regex pass
    * (the t05 shingle lookahead, NON-distinct) with occurrence counts
    * as ONE count window over that pass (a join with self-derived
    * counts ran the regex extraction twice — different Exchange
    * children defeat ReuseExchange); unigram context counts are a
    * map-side-combined aggregate joined back. Per-term nats land on
    * the 1e-6 integer grid before the sum (the t11 cross-engine
    * discipline). `lang` rides the group key (functionally dependent
    * on doc_id — free, no extra join). Docs with fewer than two
    * tokens have no bigrams and drop out, as in the oracle.
    *
    * Cached per (session, SF dir) — the frame is ONE ROW PER DOC
    * (tiny next to the bigram stream that builds it) and three
    * queries read it (t16, c11, c12; c12 scans it twice: mixture
    * totals + final filter — without the cache that re-ran the whole
    * bigram window pipeline per scan, the derived-counts defect class
    * at the composition level). */
  private def bigramNllScores(s: SparkSession, d: String): DataFrame =
    memo(s, d, "bigramNllScores")(bigramNllScoresBuild(s, d).cache())

  private def bigramNllScoresBuild(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val pat = "(?:^|(?<= ))(?=((?:\\S+ ){1}\\S+))"
    val tok = docs.select(
      explode(TextFunctions.tokens(col("text"))).as("t"))
    val ucnt = tok.groupBy("t").agg(count(lit(1)).as("ca"))
    val v = ucnt.count()
    val bg = docs.select(col("doc_id"), col("lang"),
        explode(regexp_extract_all(norm, lit(pat), lit(1))).as("bg"))
      .withColumn("w1", split_part(col("bg"), lit(" "), lit(1)))
      .withColumn("cb", count(lit(1)).over(Window.partitionBy("bg")))
    bg
      .join(ucnt.withColumnRenamed("t", "w1"), "w1")
      .withColumn("__m",
        round(-log((col("cb") + 1.0) / (col("ca") + v.toDouble)) * 1e6)
          .cast("long"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
           round(sum(col("__m")).cast("double") / count(lit(1)) / 1e6, 4)
             .as("mean_nll"))
  }

  /** The c03 semantic-curation survivor frame (doc_id, source,
    * n_tokens, quality_score, lang_pred, split), unordered — shared by
    * the c03 catalog entry and the c06 export composition. Scan-local
    * scoring, representative keep-lists from BOTH dedup axes
    * (broadcast-able, cached cluster maps), linear decontamination,
    * hash split. */
  private def curatedSemantic(s: SparkSession, d: String): DataFrame = {
    val isBench = col("source").isin("src0", "src1")
    val scored = scoredDocs(s, d)
    val contaminated = contaminatedIds(s, d)
    scored.join(lexKeepers(s, d), "doc_id")
      .join(semKeepers(s, d), "doc_id")
      .filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= 0.72 &&
        col("lang_pred") =!= "und" && col("n_tokens") >= 3)
      .withColumn("split", TextFunctions.hashSplit(col("doc_id")))
  }

  /** c06's packed-sequence plan (shared with c08's shard manifest),
    * materialized once per (session, dir) like the pair/cluster
    * caches: curated-semantic train survivors → token-budget mixture →
    * fixed-length sequence packing. */
  private def exportPackedSeqs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "exportPackedSeqs")(buildExportSeqs(s, d).cache())

  private def buildExportSeqs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val train = curatedSemantic(s, d)
      .filter(col("split") === "train")
      .select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("tok"))
    val mixed = Mixture.tokenBudgetMixtureCounts(train, "doc_id",
      "source", "tok", Mixture.ExportBudgets.toDF("source", "token_budget"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    mixed
      .withColumn("__cum", sum(col("tok")).over(w))
      .withColumn("seq_id",
        floor((col("__cum") - col("tok")) / lit(Mixture.ExportSeqTokens)))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("tok")).as("seq_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
  }

  /** Per-SF-dir cache location for persisted ANN indexes (build once,
    * probe partition-pruned across driver invocations). */
  private def annIndexPath(sfDir: String, kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-ann-index/" +
      s"${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$kind"

  /** Planted ANN corpus: the real embeddings (minus the query vector,
    * vec_id 0) plus ten exact copies of the query at ids
    * 1000001–1000010. Every index family provably returns exactly the
    * planted ten as top-10: identical vectors share the query's LSH
    * bucket in every table, land in the query's nearest IVF list, and
    * quantize to the globally minimal-ADC PQ code — so the ANN result
    * EQUALS the exact top-k and the brute-force cosine SQL is a full
    * oracle for the approximate operators (the e03 trick, applied to
    * top-k search). Cached per (session, SF dir, query id, id base):
    * four catalog entries share each construction. */
  private def plantedEmbeddings(s: SparkSession, d: String,
                                qId: Long = 0L, idBase: Long = 1000000L)
      : (DataFrame, Seq[Float]) =
    memo(s, d, s"plantedEmbeddings:$qId:$idBase") {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === qId)
        .select("embedding").head().getSeq[Float](0)
      val base = emb.filter(col("vec_id") =!= qId)
        .select("vec_id", "embedding")
      val planted = s.range(1, 11)
        .select((col("id") + lit(idBase)).as("vec_id"),
          typedLit(q.toSeq).as("embedding"))
      (base.unionByName(planted).cache(), q)
    }

  /** Deterministic total order for summary rows. `transaction_id`
    * ("orderkey-linenumber") is NOT unique in the synthetic testdata, so
    * we order by a key set that functionally determines all 15 output
    * columns — any remaining ties are bit-identical rows. */
  private val summaryOrder = Seq("transaction_id", "product_id",
    "merchant_id", "quantity", "transaction_category").map(col)

  /** Shared scored frame for the t19 family: one row per doc with its
    * t02-heuristic label and the frozen t17 classifier's exact integer
    * margin/prediction. Factored into a def so `t19c_eval_v2` (a fresh
    * catalog key — round-13 driver-staleness bisect) is BY CONSTRUCTION
    * the identical computation as the `t19_classifier_eval` control.
    * Materialized once per (session, SF dir) like [[summary]]: the
    * eleven t19-family keys (report + controls + the round-14 bisect)
    * all derive from this one frame — in a real pipeline the scored
    * output is the materialized artifact and every eval metric is an
    * aggregate read of it, so rebuilding the margin scan per key
    * (~0.85 s × 11 on the bench) measured the wrong shape. */
  private def classifierScored(s: SparkSession, d: String): DataFrame =
    memo(s, d, "classifierScored") {
      val docs = documents(s, d)
      val m = TextClassifier.marginMicro(docs, "doc_id", "text")
      docs.select(col("doc_id"), col("source"),
          (TextFunctions.qualityScore(col("text")) >= 0.72).as("label"))
        .join(m, "doc_id")
        .withColumn("pred", col("score_micro") > 0)
        .cache()
    }

  /** A scored frame (source, label, pred, score_micro) + the ×2-grid
    * average tie rank r2 = 2·rank + ties − 1 (exact BIGINT) used by
    * the Mann–Whitney AUC — the one per-source full-row window in the
    * t19 family. */
  private[graft] def rankedOf(scored: DataFrame): DataFrame = {
    val byScore = Window.partitionBy("source").orderBy("score_micro")
    val ties = Window.partitionBy("source", "score_micro")
    scored.withColumn("r2",
      rank().over(byScore).cast("long") * lit(2L) +
        count(lit(1)).over(ties) - lit(1L))
  }

  private def classifierRanked(s: SparkSession, d: String): DataFrame =
    rankedOf(classifierScored(s, d))

  /** Exact half-up num/den → 1e4-grid BIGINT: floor((2·10⁴·num+den)/(2·den)).
    * `div` keeps the whole computation in int64 — the one type no
    * engine version, float formatter, or parquet encoding can
    * re-interpret. */
  private def metricGrid4(num: String, den: String): Column =
    expr(s"cast((20000 * ($num) + ($den)) div (2 * ($den)) as bigint)")

  /** The |sources|-row aggregate of [[classifierRanked]]: confusion
    * counts plus the positive-class rank sum — every t19 metric's
    * numerator and denominator, pre-division. Shared by the full
    * report and the round-14 per-metric bisect keys (t19d–t19j). */
  private[graft] def aggOf(ranked: DataFrame): DataFrame =
    ranked.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("label"), col("r2"))).as("rp2"))

  private def classifierAgg(s: SparkSession, d: String): DataFrame =
    aggOf(classifierRanked(s, d))

  /** The metric layer of the eval report: num/den aggregate frame in
    * ([[classifierAgg]] column names) → the 8-column report. Shared
    * verbatim by the window formulation ([[classifierEval]]) and the
    * scale-shaped histogram formulation ([[classifierEvalHist]]), so
    * the two differ ONLY in how the aggregate is produced. */
  private def evalReport(agg: DataFrame): DataFrame =
    agg.select(col("source"), col("n_docs"), col("n_pos"),
        metricGrid4("n_correct", "n_docs").as("accuracy_e4"),
        when(col("tp") + col("fp") > 0,
          metricGrid4("tp", "tp + fp")).as("prec_e4"),
        when(col("n_pos") > 0, metricGrid4("tp", "n_pos")).as("recall_e4"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          metricGrid4("2 * tp", "2 * tp + fp + fn")).as("f1_e4"),
        // U = rp − n_pos(n_pos+1)/2 on the ×2 grid: 2U = rp2 − n_pos(n_pos+1);
        // AUC = 2U / (2·n_pos·(n_docs−n_pos)).
        when(col("n_pos") > 0 && col("n_pos") < col("n_docs"),
          metricGrid4("rp2 - n_pos * (n_pos + 1)",
                "2 * n_pos * (n_docs - n_pos)")).as("auc_e4"))
      .orderBy("source")

  /** Full per-source classifier evaluation report; shared verbatim by
    * `t19_classifier_eval` (the control key) and `t19c_eval_v2` (the
    * fresh key). See the catalog comments on those entries. */
  private def classifierEval(s: SparkSession, d: String): DataFrame =
    evalReport(classifierAgg(s, d))

  /** The SAME report computed WITHOUT a full-row rank window — the
    * 100 TB shape. [[classifierRanked]]'s window partitions by
    * `source`, and a corpus has ~tens of sources: at billions of docs
    * that is tens of single-task sorts over the whole corpus — the
    * one skew hazard in the t19 family. This formulation aggregates
    * the scored rows to a (source, score) HISTOGRAM first (map-side
    * partial combine; the exchange carries distinct scores, not
    * rows), then derives every row's average-tie ×2-grid rank from
    * the histogram's running count: rows at score v all share
    * r2 = 2·S(v) + c(v) + 1 where S is the count of strictly-smaller
    * scores, so the positives' rank sum is Σ_v p(v)·(2·S(v)+c(v)+1) —
    * exactly [[classifierAgg]]'s rp2 (spec-pinned bit-for-bit, and
    * both keys share one oracle SQL). The rank window still exists
    * but runs over the histogram: its sort and exchange are
    * |distinct scores|-sized, corpus-size-independent under a fixed
    * score grid. Confusion counts never needed ranks and come from
    * the same histogram pass. */
  private[graft] def histAggOf(scored: DataFrame): DataFrame = {
    val hist = scored
      .groupBy(col("source"), col("score_micro"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("label"), 1L).otherwise(0L)).as("p"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("corr"),
        sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"))
    val smaller = Window.partitionBy("source").orderBy("score_micro")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("__S", coalesce(sum(col("c")).over(smaller), lit(0L)))
      .groupBy("source").agg(
        sum(col("c")).as("n_docs"),
        sum(col("p")).as("n_pos"),
        sum(col("corr")).as("n_correct"),
        sum(col("tp")).as("tp"),
        sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"),
        sum(col("p") * (lit(2L) * col("__S") + col("c") + lit(1L)))
          .as("rp2"))
  }

  /** Report via the window formulation, over any scored frame —
    * test surface for the window ≡ histogram equivalence spec. */
  private[graft] def evalWindowOf(scored: DataFrame): DataFrame =
    evalReport(aggOf(rankedOf(scored)))

  /** Report via the histogram formulation, over any scored frame. */
  private[graft] def evalHistOf(scored: DataFrame): DataFrame =
    evalReport(histAggOf(scored))

  private def classifierEvalHist(s: SparkSession, d: String): DataFrame =
    evalHistOf(classifierScored(s, d))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 J1-J3 + §2.2 P1/P2: the flagship 4-way star join.
    "q01_purchase_summary" -> ((s, d) =>
      summary(s, d).orderBy(summaryOrder: _*)),

    // A1 grouped sum + P7 CASE bucketing + P3 filter.
    "q02_customer_spending" -> ((s, d) =>
      spending(summary(s, d)).orderBy("customer_id")),

    // P8 CASE chain without otherwise (NULL outside 18-90) + P9.
    "q03_age_groups" -> ((s, d) =>
      Dashboard.categorizeByAge(summary(s, d))
        .select("transaction_id", "customer_id", "customer_age", "age_group")
        .orderBy("transaction_id")),

    // A2 grouped count + P4 comparison filter + A12 reindex-with-fill.
    "q04_spend_status_counts" -> ((s, d) =>
      Dashboard.spendStatusCounts(spending(summary(s, d)))
        .orderBy("spend_status")),

    // P5 date-range + P6 conjunction.
    "q05_date_range" -> ((s, d) =>
      Dashboard.filterDateRange(summary(s, d), "1998-01-01", "1999-12-31")
        .orderBy(summaryOrder: _*)),

    // A4 global sum + P16 coalesce-on-empty.
    "q06_total_spent" -> ((s, d) => Dashboard.totalSpent(summary(s, d))),

    // A3 global min.
    "q07_earliest_date" -> ((s, d) => Dashboard.earliestDate(summary(s, d))),

    // A11 distinct.
    "q08_distinct_customers" -> ((s, d) =>
      Dashboard.distinctCustomers(summary(s, d)).orderBy("customer_id")),

    // J4 left outer join.
    "q09_with_spend_status" -> ((s, d) => {
      val sm = summary(s, d)
      Dashboard.withSpendStatus(
        sm.select("transaction_id", "customer_id", "merchant_name", "total_price"),
        spending(sm))
        .select("transaction_id", "customer_id", "merchant_name",
                "total_price", "spend_status")
        .orderBy("transaction_id", "merchant_name", "total_price")
    }),

    // J5 left-semi join (the dashboard's isin(subquery)).
    "q10_semi_high_spenders" -> ((s, d) => {
      val sm = summary(s, d)
      Dashboard.filterBySpendStatus(sm, spending(sm), "High Spenders")
        .select("transaction_id", "customer_id", "total_price")
        .orderBy("transaction_id", "total_price")
    }),

    // A7 multi-key grouped sum (pandas chart agg, distributed).
    "q11_daily_items" -> ((s, d) =>
      Dashboard.dailyItems(summary(s, d))
        .orderBy("transaction_date", "transaction_category")),

    // A8 grouped count by card.
    "q12_card_counts" -> ((s, d) =>
      Dashboard.cardCounts(summary(s, d)).orderBy("transaction_card")),

    // A9 grouped count by product category.
    "q13_category_counts" -> ((s, d) =>
      Dashboard.categoryCounts(summary(s, d)).orderBy("product_category")),

    // A10 multi-aggregate group by merchant.
    "q14_merchant_stats" -> ((s, d) =>
      Dashboard.merchantStats(summary(s, d)).orderBy("merchant_name")),

    // O1/O3 top-1 merchant by revenue (TakeOrderedAndProject).
    "q15_top_merchant" -> ((s, d) => Dashboard.topMerchants(summary(s, d), 1)),

    // O1 generalized top-k.
    "q16_topk_merchants" -> ((s, d) => Dashboard.topMerchants(summary(s, d), 5)),

    // P3 equality filter (Refund branch).
    "q17_refunds" -> ((s, d) =>
      Dashboard.filterCategory(summary(s, d), "Refund")
        .select("transaction_id", "customer_id", "merchant_name", "total_price")
        .orderBy("transaction_id", "merchant_name", "total_price")),

    // P10-P14: concat, casts, date/time functions, array literal + index
    // (the deterministic core of the reference's row generator).
    "q18_scalar_exprs" -> ((s, d) =>
      TestData.table(s, d, "lineitem").select(
        concat(lit("TX"), col("l_orderkey").cast("string"),
               col("l_linenumber").cast("string")).as("gen_id"),
        element_at(
          array(lit("American Express"), lit("Visa"),
                lit("Mastercard"), lit("Discover")),
          (pmod(col("l_orderkey"), lit(4)) + 1).cast("int")).as("card"),
        (pmod(col("l_orderkey") + col("l_linenumber"), lit(7)) + 1)
          .cast("int").as("gen_quantity"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        dayofmonth(col("l_shipdate")).as("ship_day"),
        date_format(col("l_shipdate"), "HH:mm:ss").as("ship_time"))
        .orderBy("gen_id", "ship_year", "ship_month", "ship_day", "ship_time")),

    // A-family on the derived measure by category.
    "q19_category_revenue" -> ((s, d) =>
      summary(s, d).groupBy("transaction_category")
        .agg(sumMoney(col("total_price")).as("total_price"))
        .orderBy("transaction_category")),

    // Streaming-analog batch aggregation over the events table.
    "q20_event_type_stats" -> ((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("event_count"),
             sumMoney(col("value")).as("total_value"),
             avgMoney(col("value")).as("avg_value"))
        .orderBy("event_type")),

    // J6's engine-internal pattern: last-writer-wins per key via
    // row_number over (partition by pk order by ts desc).
    "q21_last_event_per_user" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    }),

    // ST-family: event-time tumbling-window aggregation (same function
    // serves the streaming path — see EventAnalyticsSpec).
    "q22_hourly_event_stats" -> ((s, d) =>
      graft.streaming.EventAnalytics.windowedStats(events(s, d), "1 hour")
        .orderBy("window_start", "event_type")),

    // ST-family: sliding (overlapping) event-time windows — each event
    // lands in windowLength/slide epoch-aligned windows.
    "q26_sliding_event_stats" -> ((s, d) =>
      graft.streaming.EventAnalytics.slidingStats(
        events(s, d), "1 hour", "30 minutes")
        .orderBy("window_start", "event_type")),

    // Gap-based sessionization (lag + cumulative sum analytic windows).
    "q23_user_sessions" -> ((s, d) =>
      graft.streaming.EventAnalytics.sessionize(
        events(s, d), gapNanos = 30L * 60 * 1000000000L)
        // bounds emitted in µs: DuckDB's parquet reader truncates ns
        // timestamps to µs, so ns output digits can't be mirrored
        // integer `div`, not `/`: double division loses ulps at 1e15 ns
        .withColumn("session_start", expr("session_start div 1000"))
        .withColumn("session_end", expr("session_end div 1000"))
        .orderBy("user_id", "session_seq")),

    // Native session windows (session_window): Spark merges events
    // within the inactivity gap — the streaming-native form of q23's
    // analytic-window sessionization (same session count, and the
    // same groupBy works under readStream with a watermark).
    "q41_session_window" -> ((s, d) =>
      graft.streaming.EventAnalytics.sessionWindowStats(
        events(s, d), "30 minutes")
        .orderBy("user_id", "session_start")),

    // Exact per-merchant median via window row-pick: engines disagree on
    // percentile interpolation, but the middle elements by row_number
    // are well-defined (ties share the same value, so tie order is
    // irrelevant to the median itself).
    "q24_median_order_value" -> ((s, d) => {
      val sm = summary(s, d)
      val w = Window.partitionBy("merchant_name").orderBy("total_price")
      sm.select(col("merchant_name"), col("total_price"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("merchant_name")))
        .filter(col("rn") === expr("(cnt + 1) div 2") ||
                col("rn") === expr("(cnt + 2) div 2"))
        .groupBy("merchant_name")
        .agg((sum(cents(col("total_price"))) / count(lit(1)) / 100.0)
          .as("median_price"))
        .orderBy("merchant_name")
    }),

    // PIVOT: revenue by category × card — wide dashboarding shape
    // (explicit value list keeps the output schema static, the
    // cluster-safe form: no extra distinct-values job).
    "q27_card_category_pivot" -> ((s, d) =>
      summary(s, d).groupBy("product_category")
        .pivot("transaction_card", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"))
        .agg(sumMoney(col("total_price")))
        .orderBy("product_category")),

    // ROLLUP: category × card revenue with subtotals and a grand
    // total; null group markers coalesced to '(all)' so the ordering
    // contract (non-null keys) holds in both engines.
    "q28_rollup_revenue" -> ((s, d) => {
      // via the engine's SQL surface: the Dataset rollup API re-tags
      // the grouping attributes through Expand and any later reference
      // to them trips the ambiguous-self-join checker (Spark 4.1);
      // SQL resolution is by position in one pass and has no such
      // problem. Same Catalyst plan either way.
      summary(s, d).createOrReplaceTempView("graft_summary_q28")
      s.sql("""
        SELECT COALESCE(product_category, '(all)') AS product_category,
               COALESCE(transaction_card, '(all)') AS transaction_card,
               CAST(SUM(CAST(ROUND(total_price * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
               COUNT(*) AS n
        FROM graft_summary_q28
        GROUP BY ROLLUP(product_category, transaction_card)
        ORDER BY product_category, transaction_card""")
    }),

    // Analytic running total: cumulative revenue per category over
    // dates — cents stay integer through the window, one final scale.
    "q29_running_revenue" -> ((s, d) => {
      val w = Window.partitionBy("transaction_category")
        .orderBy("transaction_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      summary(s, d).groupBy("transaction_category", "transaction_date")
        .agg(sum(cents(col("total_price"))).as("__c"))
        .withColumn("daily_revenue", col("__c") / 100.0)
        .withColumn("running_revenue", sum(col("__c")).over(w) / 100.0)
        .select("transaction_category", "transaction_date",
                "daily_revenue", "running_revenue")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Analytic ranking family: lag, rank, dense_rank, ntile over the
    // per-category daily revenue series. rank/dense_rank order by the
    // cents value (ties share a rank — deterministic without a
    // tie-break); ntile's total order adds the date.
    "q30_revenue_ranks" -> ((s, d) => {
      val daily = summary(s, d)
        .groupBy("transaction_category", "transaction_date")
        .agg(sum(cents(col("total_price"))).as("__c"))
      val byDate = Window.partitionBy("transaction_category")
        .orderBy("transaction_date")
      val byRev = Window.partitionBy("transaction_category")
        .orderBy(col("__c").desc)
      val byRevDate = Window.partitionBy("transaction_category")
        .orderBy(col("__c"), col("transaction_date"))
      daily
        .withColumn("daily_revenue", col("__c") / 100.0)
        .withColumn("prev_revenue", lag(col("__c"), 1).over(byDate) / 100.0)
        .withColumn("rev_rank", rank().over(byRev).cast("long"))
        .withColumn("rev_dense", dense_rank().over(byRev).cast("long"))
        .withColumn("quartile", ntile(4).over(byRevDate).cast("long"))
        .select("transaction_category", "transaction_date", "daily_revenue",
                "prev_revenue", "rev_rank", "rev_dense", "quartile")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Set operators: INTERSECT / EXCEPT / UNION ALL over customer-id
    // sets (purchasers vs refunders).
    "q31_customer_set_ops" -> ((s, d) => {
      val sm = summary(s, d)
      val purch = sm.filter(col("transaction_category") === "Purchase")
        .select("customer_id").distinct()
      val ref = sm.filter(col("transaction_category") === "Refund")
        .select("customer_id").distinct()
      purch.intersect(ref).withColumn("tag", lit("both"))
        .unionByName(purch.except(ref).withColumn("tag", lit("purchase_only")))
        .unionByName(ref.except(purch).withColumn("tag", lit("refund_only")))
        .select("tag", "customer_id")
        .orderBy("tag", "customer_id")
    }),

    // Left-anti join: products that never appear in the purchase
    // summary (either never sold, or filtered out by the view's
    // cross-dimension category conjunct).
    "q32_unsold_products" -> ((s, d) =>
      TestData.products(s, d)
        .join(summary(s, d), Seq("product_id"), "left_anti")
        .select("product_id", "product_name", "product_category")
        .orderBy("product_id")),

    // CUBE with GROUPING markers: all four grouping combinations of
    // (category, card) in one pass through Expand. Same SQL-surface
    // rationale as q28.
    "q33_cube_revenue" -> ((s, d) => {
      summary(s, d).createOrReplaceTempView("graft_summary_q33")
      s.sql("""
        SELECT COALESCE(transaction_category, '(all)') AS transaction_category,
               COALESCE(transaction_card, '(all)') AS transaction_card,
               CAST(GROUPING(transaction_category) * 2
                    + GROUPING(transaction_card) AS BIGINT) AS gid,
               CAST(SUM(CAST(ROUND(total_price * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
               COUNT(*) AS n
        FROM graft_summary_q33
        GROUP BY CUBE(transaction_category, transaction_card)
        ORDER BY gid, transaction_category, transaction_card""")
    }),

    // As-of (point-in-time) join: each non-purchase event picks up the
    // user's latest purchase at-or-before its timestamp. Right side is
    // pre-aggregated to one row per (user, ts) — the operator's
    // uniqueness contract. Timestamps compare at µs (DuckDB's parquet
    // reader truncates ns to µs, so the oracle can only see µs).
    "q34_asof_purchase" -> ((s, d) => {
      val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val trades = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val quotes = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_us")
        .agg(max("value").as("ref_value"), max("event_id").as("ref_event_id"))
      graft.operators.AsOfJoin.asOf(
        trades, quotes, Seq("user_id"), "ts_us", "ts_us")
        .select("event_id", "user_id", "ts_us", "ref_event_id", "ref_value")
        .orderBy("event_id")
    }),

    // Scalar subquery: rows above the global mean price — the subquery
    // computes once (a broadcast scalar), the filter stays codegen'd.
    "q38_scalar_subquery" -> ((s, d) => {
      summary(s, d).createOrReplaceTempView("graft_summary_q38")
      s.sql("""
        SELECT transaction_id, product_id, merchant_id, quantity, total_price
        FROM graft_summary_q38
        WHERE CAST(ROUND(total_price * 100) AS BIGINT) >
              (SELECT SUM(CAST(ROUND(total_price * 100) AS BIGINT)) / COUNT(*)
               FROM graft_summary_q38)
        ORDER BY transaction_id, product_id, merchant_id, quantity, total_price""")
    }),

    // UNPIVOT: melt the card×category pivot back to long form — the
    // round trip proves wide↔long equivalence (null cells dropped to
    // match the direct long-form aggregation).
    "q39_unpivot" -> ((s, d) => {
      val cards = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      summary(s, d).groupBy("product_category")
        .pivot("transaction_card", cards)
        .agg(sumMoney(col("total_price")))
        .unpivot(Array(col("product_category")), cards.map(col).toArray,
                 "transaction_card", "revenue")
        .filter(col("revenue").isNotNull)
        .orderBy("product_category", "transaction_card")
    }),

    // Interval (range) join: per non-purchase event, count and sum the
    // user's purchases in the preceding 30 minutes — equality key +
    // time-range condition, the scalable range-join shape (and the
    // batch analog of the watermarked stream-stream join in
    // streaming.StreamJoin; spec-checked equivalent there).
    "q37_interval_join" -> ((s, d) => {
      val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val l = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts_us").as("r_ts"),
                col("value").as("r_value"))
      graft.streaming.StreamJoin.intervalJoin(
        l, r, "user_id", "r_user", "ts_us", "r_ts",
        lit(1800000000L), "left")
        .groupBy("event_id", "user_id")
        .agg(count(col("r_ts")).as("n_recent_purchases"),
             (coalesce(sum(cents(col("r_value"))), lit(0L)) / 100.0)
               .as("recent_purchase_value"))
        .orderBy("event_id")
    }),

    // DISTINCT aggregation (two distinct measures in one group — the
    // Expand-based plan Spark uses for multi-distinct).
    "q40_distinct_agg" -> ((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
             countDistinct(get_json_object(col("props"), "$.k").cast("int"))
               .as("n_k"),
             count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // String-function family: case mapping, substring, search,
    // replace, edit distance, repeat — all codegen'd builtins.
    "t10_string_funcs" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head12"),
        instr(lower(col("text")), "the").cast("long").as("first_the"),
        length(regexp_replace(lower(col("text")), " ", "")).cast("long")
          .as("n_nonspace"),
        levenshtein(substring(lower(col("text")), 1, 30),
                    substring(lower(reverse(col("text"))), 1, 30))
          .cast("long").as("lev30"),
        repeat(substring(col("source"), 1, 4), 2).as("tag"))
        .orderBy("doc_id")),

    // Semi-structured JSON extraction + aggregation over the events
    // props column (get_json_object stays inside codegen).
    "q35_json_props" -> ((s, d) =>
      events(s, d)
        .withColumn("__k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(sum(col("__k")).cast("long").as("k_sum"),
             min(col("__k")).as("k_min"),
             max(col("__k")).as("k_max"),
             count(lit(1)).as("n"))
        .orderBy("event_type")),

    // The sidebar's full filter composition (apply_filters parity):
    // date range + category equality + spend-status semi-join +
    // age-group equality chained on one frame. customer_spending is
    // computed from the UNfiltered view, as the dashboard does.
    "q25_filtered_dashboard" -> ((s, d) => {
      val sm = summary(s, d)
      Dashboard.applyFilters(
        Dashboard.categorizeByAge(sm), spending(sm),
        "1995-01-01", "1998-12-31",
        category = Some("Purchase"),
        spendStatus = Some("Medium Spenders"),
        ageGroup = Some("Millennials"))
        .select("transaction_id", "customer_id", "customer_age",
                "age_group", "merchant_name", "total_price")
        .orderBy("transaction_id", "merchant_name", "total_price")
    }),

    // Correlated non-equi NOT EXISTS subquery (SQL surface): users whose
    // purchase stream outlives their error stream — i.e. some purchase
    // strictly after the user's last error. Spark rewrites the subquery
    // into a left-anti existence join — no per-row subquery at scale.
    // Timestamps compared at µs (`ts div 1000`): exact in both engines
    // (DuckDB's parquet reader truncates ns→µs; long div is exact).
    "q42_exists_users" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("graft_events_q42")
      s.sql("""
        SELECT DISTINCT e.user_id FROM graft_events_q42 e
        WHERE e.event_type = 'purchase'
          AND NOT EXISTS (SELECT 1 FROM graft_events_q42 x
                          WHERE x.user_id = e.user_id
                            AND x.event_type = 'error'
                            AND x.ts div 1000 > e.ts div 1000)
        ORDER BY user_id""")
    }),

    // Ordered string aggregation (LISTAGG shape): collect_set is
    // unordered by contract, so the deterministic form sorts before
    // joining — same value DuckDB's string_agg(... ORDER BY) produces.
    "q43_card_lists" -> ((s, d) =>
      summary(s, d).groupBy("product_category")
        .agg(array_join(array_sort(collect_set(col("transaction_card"))), "|")
               .as("cards"),
             countDistinct(col("transaction_card")).as("n_cards"))
        .orderBy("product_category")),

    // Equi-width histogram over order values: bucket boundaries in
    // integer cents ($2500 buckets), so no float-edge disagreement
    // between engines is possible.
    "q44_price_histogram" -> ((s, d) =>
      summary(s, d)
        .select(cents(col("total_price")).as("__c"))
        .withColumn("bucket", expr("__c div 250000").cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), (sum(col("__c")) / 100.0).as("revenue"))
        .orderBy("bucket")),

    // Conditional aggregation: FILTER (WHERE …) clauses — one pass,
    // no self-joins, exact-cents money under the filter.
    "q45_conditional_agg" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("graft_events_q45")
      s.sql("""
        SELECT event_type,
               COUNT(*) FILTER (WHERE value > 100.0) AS n_big,
               COUNT(*) FILTER (WHERE value <= 100.0) AS n_small,
               CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                             FILTER (WHERE value > 100.0), 0) AS DOUBLE) / 100.0
                 AS big_value
        FROM graft_events_q45
        GROUP BY event_type ORDER BY event_type""")
    }),

    // LATERAL-explode with ordinality (posexplode): leading tokens of
    // each document with their positions.
    "q46_token_positions" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))))
        .filter(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
                col("col").as("token"))
        .orderBy("doc_id", "pos")),

    // Analytic value-window family: percent_rank / cume_dist (exact
    // rational formulas — identical doubles in both engines) plus
    // first/last/nth_value under explicit ROWS frames (implicit frames
    // differ in RANGE vs ROWS defaults; explicit is the portable form).
    "q47_revenue_windows" -> ((s, d) => {
      val daily = summary(s, d)
        .groupBy("transaction_category", "transaction_date")
        .agg(sum(cents(col("total_price"))).as("__c"))
      val byDate = Window.partitionBy("transaction_category")
        .orderBy("transaction_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy("transaction_category")
        .orderBy("transaction_date")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val byRev = Window.partitionBy("transaction_category")
        .orderBy(col("__c"), col("transaction_date"))
      daily
        .withColumn("daily_revenue", col("__c") / 100.0)
        .withColumn("pct_rank", round(percent_rank().over(byRev), 6))
        .withColumn("cume", round(cume_dist().over(byRev), 6))
        .withColumn("first_rev", first(col("__c")).over(byDate) / 100.0)
        .withColumn("last_rev", last(col("__c")).over(whole) / 100.0)
        .withColumn("third_rev", nth_value(col("__c"), 3).over(whole) / 100.0)
        .select("transaction_category", "transaction_date", "daily_revenue",
                "pct_rank", "cume", "first_rev", "last_rev", "third_rev")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Statistical moments via exact integer sums: mean / stddev / corr
    // from (n, Σx, Σx², Σxy) in BIGINT cents — order-invariant and
    // bit-stable under shuffles (a naive double SUM is neither), with
    // one identical double expression at the end in both engines.
    // Bounds: |x|≤~56k cents, n≤~100k/group keeps n·Σx² < 2^63 through
    // sf0.1; beyond that the same query should aggregate per-partition
    // moments in DECIMAL(38,0) (Spark) — documented, not needed here.
    "q48_value_moments" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("graft_events_q48")
      s.sql("""
        WITH e AS (
          SELECT event_type,
                 CAST(ROUND(value * 100) AS BIGINT) AS x,
                 CAST(get_json_object(props, '$.k') AS BIGINT) AS y
          FROM graft_events_q48),
        m AS (
          SELECT event_type, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
          FROM e GROUP BY event_type)
        SELECT event_type, n,
               ROUND(CAST(sx AS DOUBLE) / n / 100.0, 6) AS mean_value,
               ROUND(SQRT(CAST(n*sxx - sx*sx AS DOUBLE) / (n*(n-1))) / 100.0, 6)
                 AS stddev_value,
               ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                     / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE))
                        * SQRT(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr_vk
        FROM m ORDER BY event_type""")
    }),

    // Explicit GROUPING SETS (the general form behind q28's ROLLUP and
    // q33's CUBE): category totals, card totals, and the grand total in
    // one Expand pass — no union of three aggregations.
    "q49_grouping_sets" -> ((s, d) => {
      summary(s, d).createOrReplaceTempView("graft_summary_q49")
      s.sql("""
        SELECT COALESCE(product_category, '(all)') AS product_category,
               COALESCE(transaction_card, '(all)') AS transaction_card,
               CAST(GROUPING(product_category) * 2
                    + GROUPING(transaction_card) AS BIGINT) AS gid,
               CAST(SUM(CAST(ROUND(total_price * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
               COUNT(*) AS n
        FROM graft_summary_q49
        GROUP BY GROUPING SETS ((product_category), (transaction_card), ())
        ORDER BY gid, product_category, transaction_card""")
    }),

    // Time-series gap-fill: per-category daily revenue on a dense
    // calendar spine (sequence+explode — generated distributed, never
    // a driver-side loop) with forward-fill of the last observed value
    // via last(ignoreNulls) over a running frame. One shuffle for the
    // agg, one for the window; the spine join is broadcast-sized
    // (categories × days).
    "q50_gap_fill" -> ((s, d) => {
      val daily = summary(s, d)
        .filter(col("transaction_date") >= lit("1998-01-01").cast("date"))
        .groupBy("transaction_category", "transaction_date")
        .agg(sum(cents(col("total_price"))).as("__c"))
      val cal = daily.groupBy("transaction_category")
        .agg(min("transaction_date").as("d0"), max("transaction_date").as("d1"))
        .select(col("transaction_category"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
            .as("transaction_date"))
      val ffill = Window.partitionBy("transaction_category")
        .orderBy("transaction_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(daily, Seq("transaction_category", "transaction_date"), "left")
        .withColumn("is_gap", col("__c").isNull)
        .withColumn("revenue_ffill",
          last(col("__c"), ignoreNulls = true).over(ffill) / 100.0)
        .select("transaction_category", "transaction_date", "is_gap",
                "revenue_ffill")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Exact quartiles per group (percentile with linear interpolation —
    // both engines use the same (n-1)·p rank formula on integer cents,
    // so the interpolated doubles agree bit-for-bit before rounding).
    // The 100 TB path is the single-pass mergeable sketch
    // (percentile_approx / BottomKSketch — see SketchAggSpec); this is
    // the exact form that doubles as its oracle.
    "q51_percentiles" -> ((s, d) =>
      summary(s, d)
        .groupBy("transaction_category")
        .agg(expr("percentile(CAST(ROUND(total_price * 100) AS BIGINT)," +
                  " array(0.25D, 0.5D, 0.75D))").as("__p"))
        .select(col("transaction_category"),
          round(element_at(col("__p"), 1) / 100.0, 6).as("p25"),
          round(element_at(col("__p"), 2) / 100.0, 6).as("p50"),
          round(element_at(col("__p"), 3) / 100.0, 6).as("p75"))
        .orderBy("transaction_category")),

    // Cohort retention: customers bucketed by first-purchase month,
    // counted distinct per (cohort, active month). Two aggregations +
    // one equi-join on customer_id — all shuffle-partitioned by the
    // natural keys, no windows over the whole table.
    "q52_cohort_retention" -> ((s, d) => {
      val sm = summary(s, d)
        .select(col("customer_id"),
                trunc(col("transaction_date"), "MM").as("m"))
      // cohort = min month over the customer partition in ONE pass
      // (min over distinct rows ≡ min over all rows, so the window
      // sits on the deduped frame): one customer-keyed exchange total,
      // vs the agg+join form's extra aggregation of the same frame
      sm.distinct()
        .withColumn("cohort",
          min(col("m")).over(Window.partitionBy("customer_id")))
        .groupBy("cohort", "m")
        .agg(countDistinct(col("customer_id")).as("n_active"))
        .withColumn("months_since",
          months_between(col("m"), col("cohort")).cast("long"))
        .select("cohort", "m", "months_since", "n_active")
        .orderBy("cohort", "m")
    }),

    // ---- training-data pipeline extensions (SURVEY.md §7.2 M6) ----

    // Exact dedup: hash-partitioned group by content, keep min id
    // (aggregation core only — the query needs no payload columns).
    "d01_exact_dedup" -> ((s, d) =>
      Dedup.exactCounts(documents(s, d), "doc_id", "text")
        .select("doc_id", "dup_count").orderBy("doc_id")),

    // MinHash + banded LSH near-dup over a planted corpus whose pair
    // set is PROVABLE, so the brute-force bigram-jaccard join is a
    // FULL oracle (the d12 trick, at the OTHER signature path): this
    // entry runs shingleLen = 2 — the explode + hash-agg signature
    // stage, vs d12's 1-gram row-local codegen kernel — so together
    // the two rows pin both minhash implementations end to end.
    // Construction (reproduced verbatim by the DuckDB oracle): each
    // doc_id contributes a base doc of ten id-scoped tokens
    // ("t<id>_0".."t<id>_9" in order — 9 distinct bigrams, cross-doc
    // jaccard exactly 0); every 7th doc plants a DUPLICATE (id + 1e9)
    // with the same token SEQUENCE in a different SURFACE form
    // (upper-cased, double-spaced — the lower + \s+ shingle
    // normalization makes the bigram set identical, so the minhash
    // signature is identical and the pair collides in EVERY band:
    // recall 1 with no probabilistic slack); every 11th doc plants a
    // sub-threshold DISTRACTOR (id + 2e9, bigrams t0t1..t3t4 shared →
    // jaccard 4/14 ≈ 0.29) exercising the exact-verify reject.
    // Honest recall on the natural corpus stays pinned in
    // DedupRecallGateSpec (subset of the exact pair set, identical
    // jaccard values, recall floor).
    "d02_minhash_neardups" -> ((s, d) => {
      val ids = documents(s, d).select(col("doc_id")).distinct()
      def tok(p: String, j: Int): org.apache.spark.sql.Column =
        concat(lit(p), col("doc_id").cast("string"), lit("_" + j))
      val baseText = concat_ws(" ", (0 until 10).map(tok("t", _)): _*)
      val dupText = upper(concat_ws("  ", (0 until 10).map(tok("t", _)): _*))
      val distText = concat_ws(" ",
        (0 until 5).map(tok("t", _)) ++ (0 until 5).map(tok("u", _)): _*)
      val corpus = ids
        .select(col("doc_id").as("id"), baseText.as("text"))
        .unionByName(ids.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000000L).as("id"), dupText.as("text")))
        .unionByName(ids.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000000L).as("id"), distText.as("text")))
      Dedup.nearDuplicates(corpus, "id", "text",
        shingleLen = 2, numHashes = 32, numBands = 4, threshold = 0.7,
        maxBucket = 200)
        .orderBy("a", "b")
    }),

    // SimHash near-dup via chunk-collision candidates. maxHamming=3
    // keeps the pigeonhole recall guarantee: 4 chunks of 16 bits, any
    // pair within radius 3 must collide on one chunk — the banding is
    // EXACT at its radius, so the brute-force all-pairs Hamming join is
    // a full SQL oracle. The catalog entry uses the engine-portable
    // md5-nibble token hash (reproducible in DuckDB); the xxhash64
    // codegen kernel remains the corpus-scale default and is pinned
    // brute-force-equal in DedupRecallGateSpec.
    "d03_simhash_neardups" -> ((s, d) =>
      Dedup.simhashNearDuplicates(documents(s, d),
        "doc_id", "text", maxHamming = 3, portableHash = true)
        .orderBy("a", "b")),

    // Exact n-gram (unigram) Jaccard pairs within a source, via the
    // prefix-filtered set-similarity join — identical output to the
    // naive all-pairs self-join (the oracle SQL), but candidates come
    // from shared rare-prefix-token buckets instead of a join keyed on
    // the low-cardinality `source` (which goes quadratic per source at
    // scale).
    "j01_word_jaccard_pairs" -> ((s, d) =>
      dupPairs(s, d).orderBy("a", "b")),

    // Fuzzy string self-join at edit distance ≤ 1 (entity-resolution
    // primitive): candidates from the deletion neighborhood
    // (symmetric-delete keys — provably complete for one edit, keys
    // stay selective even on near-identical name spaces). One key
    // shuffle into bucket-local pair generation + inline levenshtein
    // verify (the d02 band-bucket discipline); dedupe after the dist
    // filter, when only true pairs remain.
    "j02_fuzzy_name_pairs" -> ((s, d) =>
      Dedup.editDistance1Join(
        TestData.table(s, d, "customer"), "c_custkey", "c_name")
        .orderBy("a", "b")),

    // Exact set-CONTAINMENT pairs (overlap coefficient ≥ 0.9) within a
    // source — the ASYMMETRIC dedup axis: an excerpt embedded in a
    // longer doc has containment 1.0 but jaccard ≈ size ratio, so j01
    // misses it whenever the ratio exceeds (1−t)/t. Candidates come
    // from the smaller side's rare-first prefix probing the full
    // inverted index (only the small side of a pair admits a prefix
    // bound); over-cap token buckets chunk their index members, verify
    // runs once per pair. Output identical to the brute-force
    // all-pairs join (the oracle SQL).
    "j03_containment_pairs" -> ((s, d) => {
      val t = documents(s, d).select(col("doc_id"), col("source"),
        array_distinct(TextFunctions.tokens(col("text"))).as("w"))
      Dedup.containmentJoin(t, "doc_id", "w", 0.9, Seq("source"))
        .orderBy("a", "b")
    }),

    // Token statistics (whitespace + BPE-ish subword counting).
    "t01_token_stats" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        TextFunctions.meanTokenLength(col("text")).as("mean_token_len"))
        .orderBy("doc_id")),

    // Quality scoring (length/punctuation/stopword heuristics).
    "t02_quality_scores" -> ((s, d) =>
      kernelDocs(s, d).select(
        col("doc_id"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatio(col("text"),
          TextFunctions.EnglishStopwords).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")),

    // Language ID: marker-token argmax heuristic.
    "t03_langid" -> ((s, d) =>
      kernelDocs(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // Canonical-form md5 document fingerprints.
    "t04_fingerprints" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // Brute-force cosine top-k against vec_id 0 (the exact baseline).
    "s01_cosine_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
    }),

    // Hyperplane-LSH ANN top-k over the MULTI-TABLE persisted index.
    // Planted corpus (query = vec_id 1, ten exact copies at
    // 2000001–2000010): identical vectors share the query's bucket in
    // every table regardless of the table count, so the probe set
    // provably contains them and the exact re-rank returns exactly
    // them — the brute-force cosine SQL is a FULL oracle. This entry
    // runs the NARROW index (tables = 4: half the storage, half the
    // probes of s06's 8) — together they pin the OR-amplification
    // parameter axis; honest recall on the RAW corpus stays pinned in
    // SimilarityIvfSpec + LshScaleGateSpec. First call builds the
    // index; every probe after reads ≈ tables·(planes+1)/2^planes of
    // the corpus via tb-range file skipping, probe buckets computed
    // driver-side (zero pre-scan Spark jobs).
    "s02_ann_topk" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d, qId = 1L, idBase = 2000000L)
      val idx = Similarity.ensureLshIndexMulti(
        corpus, "embedding",
        annIndexPath(d, "lsh4x8-42-plant10q1"), tables = 4)
      Similarity.annTopKMulti(idx, "vec_id", "embedding", q, 10, tables = 4)
    }),

    // IVF ANN: persisted inverted lists (+ centroid sidecar), probed
    // lists read partition-pruned, exact re-rank. Planted corpus:
    // the ten copies assign to the query's nearest centroid — probe
    // rank 1 — so they are found for ANY nProbe ≥ 1; this entry runs
    // the TIGHT probe budget (nProbe = 2 vs s07's 4), pinning that
    // recall-1-by-construction survives the minimum IO configuration.
    // Raw-corpus recall floors stay in SimilarityIvfSpec.
    "s03_ivf_topk" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d, qId = 1L, idBase = 2000000L)
      // path versions the quantizer (ivf16 = stride seeds, -l1 = one
      // Lloyd refinement) so stale persisted indexes never get reused
      val (idx, cents) = Similarity.ensureIvfIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "ivf16-l1-plant10q1"), 16)
      Similarity.ivfTopK(idx, "vec_id", "embedding", q, 10, cents, nProbe = 2)
    }),

    // PQ (product-quantization) ANN top-k: vectors compress to m
    // per-subspace codes; the per-query candidate scan reads ONLY the
    // code column (parquet column pruning — the vector bytes never
    // move), exact cosine re-ranks the candidate set. LSH/IVF prune
    // ROWS, PQ prunes BYTES. Planted corpus: each planted subvector
    // equals the query's, so it quantizes to the codeword nearest the
    // query and the planted code tuple has the globally minimal ADC
    // distance — the ten planted provably survive the candidate cut
    // and the exact re-rank emits exactly them. This entry runs the
    // COARSE codebook (ksub = 8 vs s08's 16 — twice the quantization
    // error, half the codebook): the construction's guarantee is
    // resolution-independent. Raw-corpus recall floors stay in
    // PqAnnSpec.
    "s04_pq_topk" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d, qId = 1L, idBase = 2000000L)
      val (idx, books) = Similarity.ensurePqIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "pq8x8-l1-plant10q1"), m = 8, ksub = 8)
      Similarity.pqTopK(idx, "vec_id", "embedding", q, 10, books)
    }),

    // IVF-PQ ANN top-k: the composed index — probes partition-prune to
    // nProbe/k of the ROWS (ivf_list), the ADC candidate scan inside
    // the probed lists reads only the code column (BYTES), exact
    // cosine re-ranks. Both probe selections driver-side. Planted
    // corpus at the COARSE composed configuration (kLists = 8,
    // ksub = 8, nProbe = 2 vs s09's 16/16/4): both pruning-axis
    // guarantees hold at once — planted rows land in probe rank 1 AND
    // atop the ADC ranking. Raw-corpus recall floors stay in PqAnnSpec.
    "s05_ivfpq_topk" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d, qId = 1L, idBase = 2000000L)
      val (idx, cents, books) = Similarity.ensureIvfPqIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "ivfpq8-8x8-plant10q1"), kLists = 8, m = 8,
        ksub = 8)
      Similarity.ivfPqTopK(idx, "vec_id", "embedding", q, 10, cents, books,
        nProbe = 2)
    }),

    // ---- planted-corpus ANN variants: approximate operators under a
    // full SQL oracle. The corpus plants ten exact copies of the query
    // (see plantedEmbeddings) so each index family's top-10 provably
    // equals the exact brute-force top-10 — recall 1.0 by construction,
    // hash-checkable end to end. s06–s09 run the DEFAULT index
    // parameters on the vec_id-0 planting; s02–s05 above run the
    // coarse/narrow parameter variants on an independent vec_id-1
    // planting. Honest recall on the raw corpus is pinned in
    // SimilarityIvfSpec / PqAnnSpec / LshScaleGateSpec. --

    // LSH multi-table on the planted corpus: the ten planted vectors
    // share the query's bucket in all 8 tables, so the probe set
    // contains them and exact re-rank returns exactly them.
    "s06_ann_planted" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d)
      val idx = Similarity.ensureLshIndexMulti(
        corpus, "embedding", annIndexPath(d, "lsh8x8-42-plant10"), tables = 8)
      Similarity.annTopKMulti(idx, "vec_id", "embedding", q, 10, tables = 8)
    }),

    // IVF on the planted corpus: identical vectors assign to the
    // query's nearest centroid, which is probe rank 1 of nProbe=4.
    "s07_ivf_planted" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d)
      val (idx, cents) = Similarity.ensureIvfIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "ivf16-l1-plant10"), 16)
      Similarity.ivfTopK(idx, "vec_id", "embedding", q, 10, cents, nProbe = 4)
    }),

    // PQ on the planted corpus: the planted code IS the minimal-ADC
    // code (each subvector quantizes to the codeword nearest the
    // query), so all ten sit atop the ADC candidate ranking and the
    // exact re-rank keeps them.
    "s08_pq_planted" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d)
      val (idx, books) = Similarity.ensurePqIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "pq8x16-l1-plant10"), m = 8, ksub = 16)
      Similarity.pqTopK(idx, "vec_id", "embedding", q, 10, books)
    }),

    // IVF-PQ on the planted corpus: both pruning axes at once — the
    // planted land in the probed list AND atop the ADC ranking.
    "s09_ivfpq_planted" -> ((s, d) => {
      val (corpus, q) = plantedEmbeddings(s, d)
      val (idx, cents, books) = Similarity.ensureIvfPqIndex(
        corpus, "vec_id", "embedding",
        annIndexPath(d, "ivfpq16-8x16-plant10"), kLists = 16, m = 8,
        ksub = 16)
      Similarity.ivfPqTopK(idx, "vec_id", "embedding", q, 10, cents, books,
        nProbe = 4)
    }),

    // Exact self-kNN (nearest neighbor per vector) — the embedding-
    // dedup primitive; brute-force baseline of the LSH-bucketed form.
    "e01_self_knn" -> ((s, d) =>
      Similarity.selfNearestNeighbor(
        TestData.fanOut(embeddings(s, d)), "vec_id", "embedding")
        .orderBy("id")),

    // Exact embedding-cosine near-duplicate pairs — the brute-force
    // baseline the LSH form (Similarity.cosineNearDuplicates) is
    // recall-checked against. Threshold 0.4 sits where this corpus's
    // near-random embeddings actually produce pairs.
    "e02_cosine_pairs" -> ((s, d) =>
      Similarity.exactCosinePairs(
        TestData.fanOut(embeddings(s, d)), "vec_id", "embedding", 0.4)
        .orderBy("a", "b")),

    // The LSH-bucketed SCALE form of e02: identical contract (exact
    // cosine >= 0.4, 4dp-rounded first), candidates from 20
    // OR-amplified hyperplane tables instead of the all-pairs join.
    // Subset-of-exact holds by construction (verification is exact);
    // recall is measured 100% on the shipped corpora (LshScaleGateSpec
    // pins it), which is what lets the driver hash-check this against
    // the same brute-force oracle as e02. NOTE this corpus is LSH's
    // worst case — the background cosine distribution sits AT the
    // threshold (p99.9 ≈ 0.377 vs τ = 0.4), so candidate pruning can't
    // be selective here; on a real near-dup corpus (separated modes,
    // τ ≥ 0.8) the same pipeline prunes almost everything and needs
    // far fewer tables.
    "e03_cosine_lsh_pairs" -> ((s, d) =>
      lshCosinePairs(s, d).orderBy("a", "b")),

    // Bucketed self-NN over the same LSH pair set: for each vector
    // whose best neighbor reaches the 0.4 floor, that neighbor —
    // e01's scale sibling restricted to the near-dup band the buckets
    // can see (at 100 TB you never want the global argmax anyway,
    // only the dup-band one).
    "e04_self_knn_bucketed" -> ((s, d) =>
      Similarity.nearestFromPairs(lshCosinePairs(s, d)).orderBy("id")),

    // Embedding-level duplicate clusters — semantic dedup's cluster
    // assignment, the embedding analogue of d05: connected components
    // over the shared LSH pair set. Oracle composes e03's brute-force
    // pair SQL with d05's recursive-CTE min-label clustering; sound
    // while the LshScaleGateSpec 100%-recall pin holds (the same
    // pin/oracle coupling e03/e04 document).
    "e05_embedding_dup_clusters" -> ((s, d) =>
      embClusters(s, d).orderBy("vec_id")),

    // The semantic-dedup keep-list: one representative (min vec_id)
    // per embedding cluster with the member count it speaks for.
    "e06_embedding_keep" -> ((s, d) =>
      embClusters(s, d)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")),

    // Top bigrams by document frequency (shingles are per-doc
    // distinct) — corpus n-gram statistics for data curation.
    "t05_top_bigrams" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextFunctions.shingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("bigram"))
        .limit(50)),

    // Per-source corpus statistics: doc counts + token-volume stats.
    "t06_source_stats" -> ((s, d) =>
      documents(s, d)
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("__n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("__n")).cast("long").as("total_tokens"),
             (sum(col("__n")) / count(lit(1))).as("mean_tokens"),
             max(col("__n")).as("max_tokens"))
        .orderBy("source")),

    // Deterministic hash split: reproducible train/val/test assignment
    // as a pure function of the doc id (portable md5 buckets).
    "t07_hash_split" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
                TextFunctions.hashSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")),

    // Decontamination: corpus docs sharing any 5-gram with the
    // "benchmark" slice (sources src0/src1) — the test-set-overlap
    // check a training pipeline runs before every export.
    "d04_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      val isBench = col("source").isin("src0", "src1")
      Dedup.contaminationCounts(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", 5)
        .orderBy("doc_id")
    }),

    // d04 at beyond-broadcast benchmark scale: a Bloom filter over the
    // bench gram hashes prefilters corpus grams scan-locally, the
    // exact join verifies only the survivors — identical output, the
    // shuffle shrinks to matches + fpp·grams. Oracle = d04's SQL.
    "d09_decontaminate_bloom" -> ((s, d) => {
      val docs = documents(s, d)
      val isBench = col("source").isin("src0", "src1")
      Dedup.contaminationCountsBloom(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", 5)
        .orderBy("doc_id")
    }),

    // Duplicate clusters: near-dup pairs (exact word-Jaccard ≥ 0.7,
    // the j01 edge set) → connected components via alternating
    // large-star/small-star (O(log n) rounds, two shuffles each — the
    // 100 TB-safe form; naive propagation needs diameter rounds).
    // Every doc gets a cluster id; singletons label themselves.
    "d05_dup_clusters" -> ((s, d) =>
      dupClusters(s, d).orderBy("doc_id")),

    // The keep-list a dedup pipeline emits: one representative (the
    // cluster id = min doc_id) per cluster plus the number of members
    // it speaks for — downstream training reads only kept docs.
    "d06_dedup_keep" -> ((s, d) =>
      dupClusters(s, d)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")),

    // QUALITY-AWARE keep policy: per dup cluster keep the HIGHEST-
    // quality member (min doc_id on ties), not the min-id one — the
    // representative-selection refinement curation pipelines actually
    // ship (a near-dup cluster often mixes a clean original with
    // boilerplate-wrapped copies; min-id keeps whichever arrived
    // first). One mergeable max-struct aggregation over the shared
    // cluster map + the shared scored-docs cache: map-side partials,
    // ONE row per cluster crosses the shuffle (no per-cluster sort
    // window), broadcast-friendly at any cluster count.
    "d17_quality_keep" -> ((s, d) =>
      dupClusters(s, d)
        .join(scoredDocs(s, d).select("doc_id", "quality_score"), "doc_id")
        .groupBy("cluster_id")
        .agg(max(struct(col("quality_score").as("q"),
               (-col("doc_id")).as("nid"))).as("__best"),
             count(lit(1)).as("n_members"))
        .select(col("cluster_id"),
          (-col("__best.nid")).as("keep_doc_id"),
          col("__best.q").as("keep_quality"),
          col("n_members"))
        .orderBy("cluster_id")),

    // END-TO-END curation pipeline — the composition the individual
    // operators exist for: score every doc (token count, quality,
    // language), keep only its cluster's canonical representative
    // (min doc_id — the d05/d06 clustering, shared via the cached
    // pair set), and apply the training-data admission filters. One
    // broadcast-able keep-list join + scan-local scoring on top of
    // the already-materialized clusters: the marginal cost of the
    // whole pipeline beyond dedup is one projection.
    "c01_curation_pipeline" -> ((s, d) => {
      val scored = scoredDocs(s, d)
      scored.join(lexKeepers(s, d), "doc_id")
        .filter(col("quality_score") >= 0.72 &&
          col("lang_pred") =!= "und" && col("n_tokens") >= 3)
        .orderBy("doc_id")
    }),

    // The FULL curation story: c01's stages (scoring + near-dup keep +
    // admission filters) extended with the remaining export gates —
    // drop the benchmark slice itself, drop every doc sharing a 5-gram
    // with it (the d04 decontamination join: linear in corpus,
    // small-side distinct-gram build), and stamp the deterministic
    // train/val/test hash split (t07 — a pure function of the key, no
    // shuffle). The two extra stages cost one broadcast-able anti-join
    // and one scan-local projection on top of c01.
    "c02_curation_splits" -> ((s, d) => {
      val isBench = col("source").isin("src0", "src1")
      val scored = scoredDocs(s, d)
      val contaminated = contaminatedIds(s, d)
      scored.join(lexKeepers(s, d), "doc_id")
        .filter(!isBench)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("quality_score") >= 0.72 &&
          col("lang_pred") =!= "und" && col("n_tokens") >= 3)
        .withColumn("split", TextFunctions.hashSplit(col("doc_id")))
        .orderBy("doc_id")
    }),

    // Semantic-dedup extension of the export pipeline: the document
    // embeddings (vec_id keyed like doc_id) add the second dedup axis
    // real pipelines run — lexical near-dup clusters (d05) catch
    // copies, embedding clusters (e05) catch paraphrases the token
    // overlap misses. A doc survives only as the representative of
    // BOTH its text cluster and its embedding cluster; the marginal
    // cost over c02 is one more broadcast-able keep-list join (both
    // cluster sets are already materialized and shared).
    "c03_curation_semantic" -> ((s, d) => curatedSemantic(s, d).orderBy("doc_id")),

    // The COMPLETE export: c03's curated survivors (train split) →
    // token-budget mixture on the survivor volumes → fixed-length
    // sequence packing. score → dedup (both axes) → decontaminate →
    // split → mix → pack, one lazily-composed plan; pins shared with
    // the oracle via Mixture.ExportBudgets / ExportSeqTokens.
    "c06_export_packed" -> ((s, d) =>
      exportPackedSeqs(s, d).orderBy("source", "seq_id")),

    // The curation FUNNEL report — the "data card" every large
    // pipeline publishes next to its export: per source, how many
    // docs survive each cumulative stage of the c03 pipeline
    // (raw → admission gates → lexical-dedup keep → semantic-dedup
    // keep → benchmark exclusion → decontamination) plus the final
    // token volume. Stage flags are conjunctive ints over the SAME
    // shared cached stages c01-c03 read (scores, both cluster maps,
    // contamination verdicts), so the whole report costs three
    // broadcast-able left joins + one map-side-combined |sources|-row
    // aggregate — at 100 TB the only shuffle is the per-source
    // partial-aggregate merge. n_final per source ≡ c03's per-source
    // survivor count by construction (same conjunction, fixed order).
    "c07_curation_funnel" -> ((s, d) => {
      val admitted = col("quality_score") >= 0.72 &&
        col("lang_pred") =!= "und" && col("n_tokens") >= 3
      val lex = lexKeepers(s, d).withColumn("__lex", lit(1))
      val sem = semKeepers(s, d).withColumn("__sem", lit(1))
      val con = contaminatedIds(s, d).withColumn("__con", lit(1))
      val flag = (c: Column) => when(c, 1).otherwise(0)
      scoredDocs(s, d)
        .join(broadcast(lex), Seq("doc_id"), "left")
        .join(broadcast(sem), Seq("doc_id"), "left")
        .join(broadcast(con), Seq("doc_id"), "left")
        .withColumn("__s1", flag(admitted))
        .withColumn("__s2", flag(admitted && col("__lex").isNotNull))
        .withColumn("__s3",
          flag(admitted && col("__lex").isNotNull && col("__sem").isNotNull))
        .withColumn("__s4", flag(admitted && col("__lex").isNotNull &&
          col("__sem").isNotNull && !col("source").isin("src0", "src1")))
        .withColumn("__s5", flag(admitted && col("__lex").isNotNull &&
          col("__sem").isNotNull && !col("source").isin("src0", "src1") &&
          col("__con").isNull))
        .groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
             sum(col("__s1")).cast("long").as("n_admitted"),
             sum(col("__s2")).cast("long").as("n_lexical_kept"),
             sum(col("__s3")).cast("long").as("n_semantic_kept"),
             sum(col("__s4")).cast("long").as("n_unbenched"),
             sum(col("__s5")).cast("long").as("n_final"),
             sum(col("__s5") * col("n_tokens")).cast("long")
               .as("final_tokens"))
        .orderBy("source")
    }),

    // The export FINALIZATION after c06: deterministic shuffle + shard
    // assignment. Each packed sequence lands in a shard by
    // md5(source#seq_id) — a pure key function, so the shard layout is
    // reproducible across engines/runs/partitionings and
    // training-order "shuffling" needs no RNG state; the manifest
    // (per-shard seq/doc/token totals + the md5-order head) is what an
    // export job writes next to its shard files. One |shards|-group
    // aggregate over c06's plan — nothing new shuffles but the
    // manifest rows.
    "c08_shard_manifest" -> ((s, d) => {
      val key = concat(col("source"), lit("#"), col("seq_id").cast("string"))
      exportPackedSeqs(s, d)
        .withColumn("shard_id",
          TextFunctions.md5Bucket(key, 8).cast("long"))
        .withColumn("__pick", md5(key))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_seqs"),
             sum(col("n_docs")).as("n_docs"),
             sum(col("seq_tokens")).as("shard_tokens"),
             min(col("__pick")).as("first_pick"))
        .orderBy("shard_id")
    }),

    // TEMPERATURE source mixing (the multilingual-training standard:
    // sample share ∝ tokens^α, here α = 1/2): up-weights small
    // sources, down-weights giants, without the hand-set per-source
    // budgets of c04. Everything after the per-source token totals
    // runs on an EXACT integer grid — sqrt is IEEE-correctly-rounded
    // (unlike pow), its micro-quantization is a BIGINT, and each
    // budget is one integer multiply-divide — so shares and budgets
    // are bit-identical across engines, no float-boundary risk.
    "c09_temperature_mixture" -> ((s, d) => {
      val totals = documents(s, d)
        .select(col("source"), TextFunctions.tokenCount(col("text"))
          .cast("long").as("__t"))
        .groupBy("source")
        .agg(sum(col("__t")).as("n_tokens"))
        .withColumn("w_micro",
          round(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
      val sumW = totals.agg(sum("w_micro")).collect()(0).getLong(0)
      totals
        .withColumn("sample_share",
          round(col("w_micro").cast("double") / sumW.toDouble, 6))
        .withColumn("budget_tokens",
          expr(s"w_micro * ${Mixture.TemperatureBudget}L div ${sumW}L"))
        .select("source", "n_tokens", "w_micro", "sample_share",
                "budget_tokens")
        .orderBy("source")
    }),

    // DSIR importance resampling (a published method: Xie et al.,
    // NeurIPS 2023): pick the raw docs that look most like the target
    // domain by mean per-token log-likelihood ratio between
    // add-1-smoothed target/raw unigram models
    // (graft.text.Mixture.importanceWeights; raw-token features here —
    // the hashed fixed-state 100 TB form is pinned against this exact
    // form in DsirSpec). The top slice by (score, id) is a
    // TakeOrderedAndProject, not a full sort.
    "c10_importance_select" -> ((s, d) => {
      Mixture.importanceWeights(documents(s, d), "doc_id", "text",
          col("source") === Mixture.DsirTargetSource)
        .orderBy(col("logratio").desc, col("doc_id"))
        .limit(Mixture.DsirTopK)
    }),

    // CCNet-style perplexity bucketing (a published method: Wenzek et
    // al., LREC 2020): each language's docs split into head/middle/
    // tail terciles by bigram-LM mean NLL (t16's scorer, shared) —
    // the standard "keep head+middle, drop tail" curation gate. The
    // catalog entry is the exact NTILE form (ANSI, full oracle); the
    // threshold-sketch scale form that avoids the per-language sort
    // is pinned against it in PerplexityBucketSpec.
    "c11_perplexity_buckets" -> ((s, d) =>
      Mixture.perplexityBuckets(bigramNllScores(s, d),
          "doc_id", "lang", "mean_nll")
        .select("doc_id", "lang", "mean_nll", "ppl_bucket")
        .orderBy("doc_id")),

    // The CCNet pipeline shape end-to-end: drop each language's tail
    // perplexity tercile (c11's gate), then budget-sample the
    // SURVIVORS per source (c04's mixture — totals computed on the
    // gated corpus, so budgets mean what they say post-gate). Docs
    // with < 2 tokens have no LM score and are gated out with the
    // tail, as in the oracle. One extra doc-keyed semi-join over the
    // two composed stages; the mixture stays one |sources|-row
    // aggregate + a broadcast-rates filtered scan.
    "c12_perplexity_gated_mixture" -> ((s, d) => {
      import s.implicits._
      val gated = Mixture.perplexityBuckets(bigramNllScores(s, d),
          "doc_id", "lang", "mean_nll")
        .filter(col("ppl_bucket") <= 2)
        .select("doc_id")
      val toks = documents(s, d)
        .join(gated, "doc_id")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val budgets = Mixture.DemoBudgets.toDF("source", "token_budget")
      Mixture.tokenBudgetMixtureCounts(toks, "doc_id", "source",
          "n_tokens", budgets)
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    }),

    // Intra-document repetition: duplicate-trigram ratio, the standard
    // boilerplate/spam signal (1 - distinct/total n-grams).
    // Data mixing — the stage after curation: compose the training
    // corpus by deterministically sampling each source to a token
    // budget (hash-keyed keep decision, mirrorable in SQL; see
    // graft.text.Mixture). Even sources are budget-bound, odd ones
    // kept whole (Mixture.DemoBudgets, shared with the oracle).
    "c04_token_mixture" -> ((s, d) => {
      import s.implicits._
      val budgets = Mixture.DemoBudgets.toDF("source", "token_budget")
      Mixture.tokenBudgetMixture(documents(s, d),
        "doc_id", "source", "text", budgets)
        .orderBy("doc_id")
    }),

    // Mixture with upsampling: sources whose budget exceeds their
    // token volume are repeated (epoch index), the weight>1 regime of
    // data mixing; under-budget sources degenerate to the c04 sample.
    "c05_mixture_epochs" -> ((s, d) => {
      import s.implicits._
      val budgets = Mixture.EpochBudgets.toDF("source", "token_budget")
      Mixture.tokenBudgetMixtureEpochs(documents(s, d),
        "doc_id", "source", "text", budgets)
        .orderBy("doc_id", "epoch")
    }),

    "t08_repetition" -> ((s, d) => {
      val nt = TextFunctions.tokenCount(col("text"))
      val nGrams = when(nt < 3, 0).otherwise(nt - 2)
      val nDistinct = when(nt < 3, 0)
        .otherwise(size(TextFunctions.shingles(col("text"), 3)))
      kernelDocs(s, d).select(
        col("doc_id"),
        nGrams.cast("int").as("n_grams"),
        when(nGrams === 0, 0.0)
          .otherwise(round(lit(1.0) - nDistinct.cast("double") / nGrams, 4))
          .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // TF-IDF top terms per document: tf and df from one token explode
    // (two aggregations), idf as ln(N/df), top-3 by score per doc.
    "t09_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("t"))
      // ONE explode pass: tf rows are one-per-(doc, term), so a count
      // window over the term is exactly the document frequency — the
      // join-with-self-derived-counts form evaluates the explode twice
      // (different Exchange children defeat ReuseExchange)
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("t")))
      val n = docs.count()
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("t"))
      tf
        .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("t").as("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // Unigram-LM scoring: mean negative log-probability per document
    // under the corpus's own unigram model — the classic LM-based
    // quality filter. Per-token nats are fixed to an integer 1e-6 grid
    // before summing (a double sum is partition-order-dependent; an
    // integer sum is exact and engine-stable).
    "t11_unigram_logprob" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("t"))
      // total token count WITHOUT a second explode pass (sum of sizes
      // over the cached docs scan); occurrence counts as ONE count
      // window over the single exploded pass (the join form evaluated
      // the explode twice and the count() a third time)
      val n = docs.agg(sum(size(TextFunctions.tokens(col("text")))))
        .collect()(0).getLong(0)
      tok.withColumn("c", count(lit(1)).over(Window.partitionBy("t")))
        .withColumn("__m",
          round(-log(col("c").cast("double") / n.toDouble) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             round(sum(col("__m")).cast("double") / count(lit(1)) / 1e6, 4)
               .as("mean_nll"))
        .orderBy("doc_id")
    }),

    // Rolling 7-row window: moving-average/min/max of per-category
    // daily revenue (cents stay integer inside the frame; the average
    // is one exact-input division).
    "q36_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("transaction_category")
        .orderBy("transaction_date").rowsBetween(-6, 0)
      summary(s, d).groupBy("transaction_category", "transaction_date")
        .agg(sum(cents(col("total_price"))).as("__c"))
        .withColumn("daily_revenue", col("__c") / 100.0)
        .withColumn("ma7", round(avg(col("__c")).over(w) / 100.0, 4))
        .withColumn("min7", min(col("__c")).over(w) / 100.0)
        .withColumn("max7", max(col("__c")).over(w) / 100.0)
        .select("transaction_category", "transaction_date", "daily_revenue",
                "ma7", "min7", "max7")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Multimodal decode plumbing over binary content: text-derived
    // assets exercise the deterministic stub codec; the two planted
    // uncompressed-image rows (64×48 BMP, 40×30 PPM — the pinned
    // PixelFixtures grid) exercise the REAL hand-parsed pixel decode,
    // golden-checked against independently derived oracle literals.
    "m01_multimodal_decode" -> ((s, d) => {
      val assets = Multimodal.assetsFromDocuments(documents(s, d))
        .unionByName(Multimodal.pixelFixtureAssets(s))
      assets.select(
        col("asset_id"),
        Multimodal.decodeMeta(col("content")).as("meta"),
        length(col("content")).as("n_bytes"),
        Multimodal.features(col("content"), 8).as("features"))
        .select(col("asset_id"), col("meta.mime"), col("meta.width"),
                col("meta.height"), col("n_bytes"),
                element_at(col("features"), 1).as("f0"))
        .orderBy("asset_id")
    }),

    // Multimodal resize + frame-sample plumbing: text-derived assets
    // keep the stubbed codecs (md5s engine-portable); the planted
    // BMP/PPM rows go through the REAL pixel-touching thumbnail (the
    // pinned integer box filter, PPM-encoded) — their thumb bytes/md5
    // are golden-checked against an independent implementation of the
    // same pinned algorithm in the oracle.
    "m02_multimodal_frames" -> ((s, d) => {
      val assets = Multimodal.assetsFromDocuments(documents(s, d))
        .unionByName(Multimodal.pixelFixtureAssets(s))
        .unionByName(Multimodal.videoFixtureAssets(s))
      assets
        .withColumn("__frames", Multimodal.frameSample(col("content"), 4, 64))
        .select(col("asset_id"),
          length(Multimodal.thumbnail(col("content"), 32)).as("thumb_bytes"),
          md5(Multimodal.thumbnail(col("content"), 32)).as("thumb_md5"),
          size(col("__frames")).as("n_frames"),
          md5(element_at(col("__frames"), 1)).as("frame0_md5"),
          md5(element_at(col("__frames"), 4)).as("frame3_md5"))
        .orderBy("asset_id")
    }),

    // REAL audio sample decode + feature extraction (hand-parsed
    // RIFF — AudioPcm): 16-bit PCM WAV plus IMA ADPCM, a real
    // COMPRESSED codec decoded bit-exactly in pure integer math — the
    // clipping / silence / energy-profile gate a multimodal curation
    // pipeline runs before training. Text-derived assets can never
    // satisfy the strict RIFF structure and yield NULL; the four
    // planted clips (pinned integer waveforms, WavFixtures; ADPCM
    // twin tools/build_adpcm_fixture.py) decode to integer-exact
    // features the oracle golden-checks from independent
    // implementations. The decode is a scan-local projection: one
    // pass, no shuffle until the |audio|-row result.
    "m05_audio_features" -> ((s, d) => {
      val assets = Multimodal.assetsFromDocuments(documents(s, d))
        .unionByName(Multimodal.audioFixtureAssets(s))
      assets
        .select(col("asset_id"),
          Multimodal.audioFeatures(col("content"), 4).as("f"))
        .filter(col("f").isNotNull)
        .select(col("asset_id"), col("f.channels"), col("f.sample_rate_hz"),
          col("f.n_frames"), col("f.energy"), col("f.zero_crossings"),
          col("f.peak"),
          element_at(col("f.window_energy"), 1).as("w0"),
          element_at(col("f.window_energy"), 2).as("w1"),
          element_at(col("f.window_energy"), 3).as("w2"),
          element_at(col("f.window_energy"), 4).as("w3"))
        .orderBy("asset_id")
    }),

    // REAL content embedding (byte-n-gram signed feature hashing,
    // codegen — no stub) driving content-level dedup over binary
    // assets: two assets are duplicates iff their embeddings are
    // identical. The corpus has no exact-content dups, so the planted
    // construction (the d12/s06 pattern, reproduced verbatim in the
    // oracle SQL) injects exact copies of every 50th document at
    // shifted ids — the embedding must place each copy in its
    // source's group and nothing else anywhere (identical bytes ⇒
    // identical vector by construction; distinct content ⇒ distinct
    // vector on these corpora — FeatureHashSpec pins sensitivity), so
    // the md5-groups SQL is a FULL oracle. One shuffle, keyed by the
    // 64-float vector (≈256 B/row — the same order as text-dedup
    // keys; at cluster scale the key could drop to xxhash64(vec)
    // without changing semantics).
    "m03_embed_content_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      val planted = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(50)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val emb = Multimodal.assetsFromDocuments(planted)
        .select(col("asset_id"),
          Multimodal.featureEmbed(col("content"), 64).as("__v"))
      val w = Window.partitionBy("__v")
      emb.select(col("asset_id"),
          min("asset_id").over(w).as("rep_id"),
          count(lit(1)).over(w).as("group_size"))
        .orderBy("asset_id")
    }),

    // Batch SOURCE LOOKUP over the real content embedding: a query
    // batch of planted asset copies (every 37th doc at id+2000000 —
    // the construction the oracle reproduces verbatim) is joined to
    // the corpus via the cross-table multi-LSH cosine join, and each
    // query's argmax-cosine match must be its source. Argmax
    // certainty: an exact copy scores cosine 1.0 at its source, and
    // only an exact content duplicate of the source could tie (none
    // exist, under any regeneration of these corpora — vector
    // injectivity on distinct content, the m03 property); identical
    // vectors share every LSH bucket, so recall is 1 by
    // construction. NEAR-dup retrieval margins (a 1-byte-mutated
    // query still argmax-resolves to its source, margin ≈ 0.01 over
    // the closest natural near-dup) are pinned in FeatureHashSpec —
    // corpus-statistics-dependent, so spec-gated rather than
    // driver-oracled. The retrieval shape is the one an
    // embedding-space decontamination or cross-store asset match
    // runs at scale: bucket-join candidates, verify once per
    // distinct pair, map-side argmax.
    "m04_embed_mutation_source" -> ((s, d) => {
      val docs = documents(s, d)
      val mutated = docs
        .filter(pmod(col("doc_id"), lit(37)) === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
                col("text"), col("source"))
      def emb(df: org.apache.spark.sql.DataFrame) =
        Multimodal.assetsFromDocuments(df)
          .select(col("asset_id"),
            Multimodal.featureEmbed(col("content"), 64).as("__v"))
      // 20 planes / 8 tables: near-copy recall rides the OR over
      // tables plus hamming-1 probes (a 1-byte mutation flips at most
      // a sign or two, and the ×100 sweep holds the full 13,514
      // planted mappings), while the finer buckets cut sub-threshold
      // co-bucketing of byte-correlated content exponentially
      val pairs = Similarity.cosineJoinMulti(emb(mutated), "asset_id",
        emb(docs), "asset_id", "__v", threshold = 0.8,
        numPlanes = 20, tables = 8, center = true)
      Similarity.nearestFromPairsDirected(pairs)
        .select(col("id").as("query_id"), col("nn").as("src_id"))
        .orderBy("query_id")
    }),

    // EMBEDDING-SPACE decontamination: flag every training vector
    // semantically close (cosine ≥ 0.4 — this corpus's near-dup
    // band, see e03) to a held-out benchmark slice (vec_id ≡ 0 mod
    // 10), via the cross-table multi-LSH cosine join with full
    // flip-meets-flip reach (expandRight — the background cosine
    // mass sits AT the threshold here, e03's worst-case regime,
    // where the 20-table construction is measured at 100% recall).
    // The semantic sibling of d04's n-gram decontamination: the
    // benchmark side is small and probes; the corpus never
    // self-joins. Brute-force cross-cosine SQL is the full oracle.
    "d13_embed_decontaminate" -> ((s, d) => {
      val emb = embeddings(s, d)
      val pairs = Similarity.cosineJoinMulti(
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), "vec_id",
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id",
        "embedding", threshold = Similarity.PairThreshold,
        tables = Similarity.PairTables, expandRight = true)
      pairs.groupBy(col("b").as("vec_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
             max(col("cosine")).as("max_cosine"))
        .orderBy("vec_id")
    }),

    // ----- Multi-way join analytics on the raw TPC-H tables ---------
    // These exercise Catalyst's join planning directly: a 6-table
    // star/snowflake chain where the two big inputs (lineitem, orders)
    // meet in ONE shuffled key join and every dimension hop is a
    // broadcast — the shape that survives a 1000-executor scale-up.
    // Revenue is computed in the integer domain throughout:
    // cents(extendedprice) × (100 − discount%), summed as BIGINT and
    // divided once at the end — order-insensitive, bit-stable under
    // AQE re-planning, and identical in DuckDB.

    // Local-supply revenue by region/nation (TPC-H Q5 flavor): customer
    // and supplier must sit in the same nation. lineitem⋈orders is the
    // only big-big join; customer is broadcast at testdata scale and a
    // key-partitioned join at 100 TB (AQE decides); nation/region are
    // always broadcast.
    "q53_regional_revenue" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val o  = TestData.table(s, d, "orders")
      val c  = TestData.table(s, d, "customer")
      val su = TestData.table(s, d, "supplier")
      val n  = TestData.table(s, d, "nation")
      val r  = TestData.table(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
                  col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg((sum(cents(col("l_extendedprice")) *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
               / 10000.0).as("revenue"),
             count(lit(1)).as("n_items"))
        .select("region", "nation", "revenue", "n_items")
        .orderBy("region", "nation")
    }),

    // FULL OUTER reconciliation: per-customer spend 1997 vs 1998,
    // keeping customers active in EITHER year with zero-fill — the
    // cross-period (or cross-system) diff report. Exercises the one
    // join type the catalog lacked; Spark coalesces the USING key
    // across sides. (Same-source reconciliation at 100 TB would be a
    // one-pass conditional aggregate; the full-outer shape is the
    // cross-SYSTEM case where the two sides are different tables —
    // both aggregates here shrink to |customers| before the join, so
    // the outer join never sees fact-sized inputs.)
    "q71_yoy_spend_diff" -> ((s, d) => {
      val o = TestData.table(s, d, "orders")
      def yearly(y: Int) = o
        .filter(year(col("o_orderdate")) === y)
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("c"),
             count(lit(1)).as("n"))
      val a = yearly(1997).select(col("o_custkey"),
        col("c").as("ca"), col("n").as("na"))
      val b = yearly(1998).select(col("o_custkey"),
        col("c").as("cb"), col("n").as("nb"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey").as("custkey"),
          (coalesce(col("ca"), lit(0L)) / 100.0).as("spend_1997"),
          (coalesce(col("cb"), lit(0L)) / 100.0).as("spend_1998"),
          ((coalesce(col("cb"), lit(0L)) - coalesce(col("ca"), lit(0L)))
            / 100.0).as("delta"),
          coalesce(col("na"), lit(0L)).as("n_orders_1997"),
          coalesce(col("nb"), lit(0L)).as("n_orders_1998"))
        .orderBy("custkey")
    }),

    // Product-line profit by nation and order year (TPC-H Q9 flavor,
    // adapted: this schema has no partsupp, so supply cost is the
    // part's retail price × quantity). lineitem streams through the
    // broadcast name-filtered part hop, supplier/nation broadcast
    // hops, and ONE big-big key join (orders); profit stays in
    // integer 1e-4-dollar units (cents × percent minus cents × qty ×
    // 100) until one final division — order-insensitive, AQE-stable.
    "q69_nation_profit" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val o  = TestData.table(s, d, "orders")
      val p  = TestData.table(s, d, "part")
        .filter(col("p_name").contains("widget"))
      val su = TestData.table(s, d, "supplier")
      val n  = TestData.table(s, d, "nation")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(cents(col("l_extendedprice")) *
                (lit(100L) - round(col("l_discount") * 100).cast("long")) -
              cents(col("p_retailprice")) *
                round(col("l_quantity")).cast("long") * lit(100L))
              / 10000.0).as("profit"),
             count(lit(1)).as("n_lines"))
        .select("nation", "o_year", "profit", "n_lines")
        .orderBy("nation", "o_year")
    }),

    // Bilateral trade volume (TPC-H Q7 flavor): revenue shipped
    // between two specific nations by year, with the NATION dimension
    // joined TWICE under different roles (supplier's nation via
    // lineitem, customer's nation via orders→customer) — the classic
    // role-playing-dimension shape. Both nation hops broadcast; the
    // only big-big joins are the fact's key joins; the symmetric
    // nation-pair filter keeps both directions. Revenue in integer
    // cents×percent units until one division.
    "q70_nation_trade" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val o  = TestData.table(s, d, "orders")
      val c  = TestData.table(s, d, "customer")
      val su = TestData.table(s, d, "supplier")
      val n  = TestData.table(s, d, "nation")
      val n1 = n.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = n.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_18" &&
                 col("cust_nation") === "NATION_19") ||
                (col("supp_nation") === "NATION_19" &&
                 col("cust_nation") === "NATION_18"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg((sum(cents(col("l_extendedprice")) *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
               / 10000.0).as("revenue"),
             count(lit(1)).as("n_lines"))
        .select("supp_nation", "cust_nation", "l_year", "revenue", "n_lines")
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Unshipped-order shipping priority (TPC-H Q3 flavor): BUILDING
    // segment, ordered before / shipped after a cutoff; top 10 orders
    // by discounted revenue. Compiles to TakeOrderedAndProject over a
    // single aggregation — the global sort never materializes.
    "q54_shipping_priority" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val o  = TestData.table(s, d, "orders")
      val c  = TestData.table(s, d, "customer")
      c.filter(col("c_mktsegment") === "BUILDING")
        .join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey").as("orderkey"),
                 col("o_orderdate").cast("date").as("orderdate"),
                 col("o_orderpriority").as("priority"))
        .agg((sum(cents(col("l_extendedprice")) *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
               / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("orderkey"))
        .limit(10)
    }),

    // Revenue lost to returns per customer (TPC-H Q10 flavor): top 20
    // customers by returned-item revenue, with their nation. The
    // returnflag filter lands in the lineitem scan (PushedFilters)
    // before any join.
    "q55_returned_revenue" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val o  = TestData.table(s, d, "orders")
      val c  = TestData.table(s, d, "customer")
      val n  = TestData.table(s, d, "nation")
      li.filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey").as("custkey"),
                 col("c_name").as("customer_name"),
                 col("n_name").as("nation"))
        .agg((sum(cents(col("l_extendedprice")) *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
               / 10000.0).as("lost_revenue"),
             count(lit(1)).as("n_returned"))
        .orderBy(col("lost_revenue").desc, col("custkey"))
        .limit(20)
    }),

    // Promotional revenue share per month (TPC-H Q14 flavor): a
    // conditional numerator over a lineitem⋈part join, one exact
    // integer sum each, one final double division. part broadcasts at
    // testdata scale; at 100 TB it is a key-partitioned join on
    // partkey (both sides shuffle once — no fact re-shuffle later,
    // the group key is derived from lineitem alone).
    "q56_promo_share" -> ((s, d) => {
      val li = TestData.table(s, d, "lineitem")
      val p  = TestData.table(s, d, "part")
      val rev = cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
               .as("__promo"),
             sum(rev).as("__total"))
        .select(col("ship_month"),
          (col("__promo") / 10000.0).as("promo_revenue"),
          round(lit(100.0) * col("__promo") / col("__total"), 6)
            .as("promo_pct"))
        .orderBy("ship_month")
    }),

    // RANGE-frame window (vs q36's ROWS frame): trailing 7-DAY revenue
    // per category, ordered by integer day-number so the frame is
    // engine-portable (Spark rangeBetween and DuckDB RANGE BETWEEN see
    // the same integer distance). Days with no neighbors in range
    // average only themselves — the semantic difference from ROWS.
    "q57_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("transaction_category")
        .orderBy(col("__day")).rangeBetween(-6, 0)
      summary(s, d)
        .groupBy(col("transaction_category"),
                 col("transaction_date"),
                 datediff(col("transaction_date"),
                          lit("1990-01-01").cast("date")).as("__day"))
        .agg(sum(cents(col("total_price"))).as("__c"))
        .withColumn("daily_revenue", col("__c") / 100.0)
        .withColumn("rev7d", sum(col("__c")).over(w) / 100.0)
        .withColumn("n7d", count(lit(1)).over(w))
        .select("transaction_category", "transaction_date", "daily_revenue",
                "rev7d", "n7d")
        .orderBy("transaction_category", "transaction_date")
    }),

    // Keyset pagination (the scale-correct page fetch): resume AFTER a
    // composite cursor via lexicographic row comparison — a sargable
    // filter + TakeOrderedAndProject, never the OFFSET pattern that
    // scans and discards all preceding rows. The struct comparison is
    // the same lexicographic order DuckDB gives row values.
    "q58_keyset_page" -> ((s, d) =>
      summary(s, d)
        .filter(struct(col("transaction_id"), col("product_id"),
                       col("merchant_id")) >
                struct(lit("3000-1"), lit(0L), lit(0L)))
        .select("transaction_id", "product_id", "merchant_id",
                "total_price")
        .orderBy("transaction_id", "product_id", "merchant_id",
                 "total_price")
        .limit(50)),

    // Calendar-function family: truncations, field extraction, EOM
    // arithmetic — the date surface a reporting layer leans on, all
    // codegen'd projections over one aggregate.
    "q59_calendar_funcs" -> ((s, d) =>
      summary(s, d)
        .groupBy(
          date_trunc("quarter", col("transaction_date")).cast("date")
            .as("quarter_start"),
          quarter(col("transaction_date")).as("q"),
          weekofyear(col("transaction_date")).cast("int").as("iso_week"),
          dayofweek(col("transaction_date")).cast("int").as("dow"),
          last_day(col("transaction_date")).as("month_end"))
        .agg(count(lit(1)).as("n"),
             sumMoney(col("total_price")).as("revenue"))
        .orderBy("quarter_start", "iso_week", "dow"))
      ,

    // NULL-semantics family: NULLIF / NULL-safe equality (IS [NOT]
    // DISTINCT FROM) / coalesce chains — the semantics that silently
    // corrupt aggregates when an engine gets them wrong.
    "q60_null_semantics" -> ((s, d) =>
      Dashboard.categorizeByAge(summary(s, d)) // age_group NULL outside 18-90
        .select(col("transaction_id"), col("customer_id"),
          col("age_group"),
          nullif(col("transaction_category"), lit("Refund")).as("purchase_only"),
          col("age_group").eqNullSafe(lit("Gen Z")).as("is_gen_z"),
          coalesce(col("age_group"), lit("(unbucketed)")).as("age_or_default"))
        .groupBy("age_or_default")
        .agg(count(lit(1)).as("n"),
             count(col("purchase_only")).as("n_purchases"),
             sum(when(col("is_gen_z"), 1L).otherwise(0L)).as("n_gen_z"))
        .orderBy("age_or_default")),

    // Typed JSON parsing (from_json → struct) vs q35's string-path
    // extraction: the schema is declared, fields project as typed
    // columns, and malformed rows become NULL structs (not errors).
    "q61_json_typed" -> ((s, d) =>
      events(s, d)
        .withColumn("__j", from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))))
        .groupBy("event_type")
        .agg(count(col("__j.k")).as("n_parsed"),
             sum(col("__j.k")).as("sum_k"),
             min(col("__j.k")).as("min_k"),
             max(col("__j.k")).as("max_k"))
        .orderBy("event_type")),

    // Top-k per group through the mergeable k-bounded Aggregator
    // (functions.TopKAgg): only k rows per group cross the shuffle —
    // the scale form of the window row_number pattern, which the
    // DuckDB oracle mirrors (provably identical incl. tie-break).
    "q62_topk_per_group" -> ((s, d) => {
      import s.implicits._
      val rows = summary(s, d)
        .groupBy("merchant_category", "merchant_name")
        .agg(sum(cents(col("total_price"))).as("rev"))
        .select(col("merchant_category"), col("rev"), col("merchant_name"))
        .as[(String, Long, String)]
      rows.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(graft.functions.TopKAgg.of(3).toColumn.name("top"))
        .flatMap { case (cat, top) =>
          top.zipWithIndex.map { case ((rev, m), i) =>
            (cat, i + 1L, m, rev / 100.0) } }
        .toDF("merchant_category", "rank", "merchant_name", "revenue")
        .orderBy("merchant_category", "rank")
    }),

    // Per-group quantiles through the mergeable log-bucket sketch
    // (functions.QuantileSketchAgg): ≤ ~3.3k-bucket state per group,
    // bucket-wise-sum merge — only sketches cross the shuffle, never
    // rows, and the result is identical under any partitioning. The
    // 100 TB form of q51's exact `percentile` (which sorts each
    // group's full row set). Integer bucketing means the DuckDB
    // oracle reproduces the estimate bit-for-bit.
    "q63_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      val rows = summary(s, d)
        .select(col("transaction_category"), cents(col("total_price")).as("v"))
        .as[(String, Long)]
      rows.groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.QuantileSketchAgg.of(0.5, 0.9, 0.99)
          .toColumn.name("qv"))
        .map { case (cat, qv) =>
          (cat, qv(0) / 100.0, qv(1) / 100.0, qv(2) / 100.0) }
        .toDF("transaction_category", "p50", "p90", "p99")
        .orderBy("transaction_category")
    }),

    // Distinct counts + cross-group overlap from KMV sketches
    // (functions.BottomKSketch): one pass builds an O(k) sketch per
    // group; distinct-count AND Jaccard-overlap questions are then
    // answered from the sketches alone — no second scan, no
    // per-pair join back to the data. Run here in the under-capacity
    // regime (distinct < k, 64-bit hashes) where the answers are
    // exact, so the DuckDB COUNT(DISTINCT)/set-overlap oracle checks
    // them outright. At corpus scale k caps the state and the same
    // plan degrades gracefully to the (k-1)/max estimator.
    "q64_kmv_overlap" -> ((s, d) => {
      import s.implicits._
      val skts = summary(s, d)
        .select(col("transaction_category"), col("customer_id").cast("long"))
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.BottomKSketch.ofLongX64(1 << 17)
          .toColumn.name("skt"))
        .toDF("transaction_category", "skt")
      // union of every OTHER group's sketch — group-count rows, tiny
      val rest = skts.as("a")
        .join(skts.as("b"),
          expr("a.transaction_category <> b.transaction_category"))
        .groupBy(col("a.transaction_category").as("transaction_category"))
        .agg(array_sort(array_distinct(flatten(collect_list(col("b.skt")))))
          .as("rest"))
      skts.join(rest, "transaction_category")
        .withColumn("__inter",
          graft.functions.arrays.sorted_intersect_size(col("skt"), col("rest")))
        .select(col("transaction_category"),
          size(col("skt")).cast("long").as("n_customers"),
          (col("__inter").cast("double") /
            (size(col("skt")) + size(col("rest")) - col("__inter"))
              .cast("double")).as("jaccard_vs_rest"))
        .orderBy("transaction_category")
    }),

    // Global-threshold anti-join (TPC-H Q22 shape): positive-balance
    // customers above the global average balance with no URGENT order
    // (every testdata customer has SOME order, so the anti-join filter
    // keeps the result non-degenerate), rolled up by nation. The
    // scalar aggregate computes ONCE (a broadcast scalar, not a
    // per-row subquery) and the NOT EXISTS decorrelates to a left-anti
    // hash join on custkey — at 100 TB that is one small broadcast
    // plus one key-partitioned anti join, with the priority filter
    // pushed into the orders scan. The threshold compares as
    // `bal·n > total` in integer cents: multiply-through instead of
    // dividing keeps both engines exact.
    "q65_uncontacted_customers" -> ((s, d) => {
      TestData.table(s, d, "customer").createOrReplaceTempView("graft_cust_q65")
      TestData.table(s, d, "orders").createOrReplaceTempView("graft_ord_q65")
      s.sql("""
        WITH pos AS (
          SELECT c_custkey, c_nationkey,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM graft_cust_q65 WHERE c_acctbal > 0.0),
        tot AS (SELECT SUM(bal_c) AS s, COUNT(*) AS n FROM pos)
        SELECT c_nationkey AS nation_id,
               COUNT(*) AS n_customers,
               CAST(SUM(bal_c) / 100.0 AS DOUBLE) AS total_acctbal
        FROM pos, tot
        WHERE bal_c * n > s
          AND NOT EXISTS (SELECT 1 FROM graft_ord_q65 o
                          WHERE o.o_custkey = pos.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey ORDER BY nation_id""")
    }),

    // Correlated per-group-average filter (TPC-H Q17 shape): lineitems
    // whose quantity is under 20% of their part's average quantity.
    // The per-part count AND sum come from ONE correlated LATERAL
    // aggregate (two separate scalar subqueries plan as two aggregate
    // joins — plan-audited), which Catalyst decorrelates to a single
    // per-partkey aggregate joined back to the fact — one agg shuffle
    // instead of two; the residual third scan reads only the
    // single-column key domain. Never a per-row subquery. The
    // predicate multiplies through (`5·q·n < sum`) in integer
    // hundredths so the average never materializes as an inexact
    // double.
    "q66_small_quantity_revenue" -> ((s, d) => {
      TestData.table(s, d, "lineitem").createOrReplaceTempView("graft_li_q66")
      s.sql("""
        SELECT l.l_partkey AS partkey,
               COUNT(*) AS n_small,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    / 100.0 AS DOUBLE) AS small_revenue
        FROM graft_li_q66 l,
             LATERAL (SELECT COUNT(*) AS n,
                             SUM(CAST(ROUND(x.l_quantity * 100) AS BIGINT))
                               AS s
                      FROM graft_li_q66 x
                      WHERE x.l_partkey = l.l_partkey) t
        WHERE CAST(ROUND(l.l_quantity * 100) AS BIGINT) * 5 * t.n < t.s
        GROUP BY l.l_partkey ORDER BY partkey""")
    }),

    // EXISTS + NOT EXISTS pair (TPC-H Q21 shape): per supplier, count
    // returned items in multi-supplier orders where NO other supplier
    // had a return — the "sole blame" pattern. Both subqueries
    // decorrelate: EXISTS → left-semi, NOT EXISTS → left-anti, each a
    // key-partitioned hash join on orderkey (self-joins share the
    // lineitem scan), then one broadcast join to supplier for names.
    "q67_sole_returned_supplier" -> ((s, d) => {
      TestData.table(s, d, "lineitem").createOrReplaceTempView("graft_li_q67")
      TestData.table(s, d, "supplier").createOrReplaceTempView("graft_sup_q67")
      s.sql("""
        SELECT s.s_name AS supplier, COUNT(*) AS n_items
        FROM graft_li_q67 l1
        JOIN graft_sup_q67 s ON s.s_suppkey = l1.l_suppkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM graft_li_q67 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM graft_li_q67 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name ORDER BY supplier""")
    }),

    // IN + GROUP BY/HAVING subquery (TPC-H Q18 shape): customers'
    // large orders — the order-key IN-list comes from an aggregate
    // with a HAVING threshold. Catalyst plans the IN as a left-semi
    // hash join against the (map-side-combined) aggregate — the
    // subquery materializes once, keyed on orderkey like the fact
    // join itself, so at 100 TB it is one co-partitioned pass over
    // lineitem feeding a semi join, never a per-row lookup. Quantity
    // sums compare in integer hundredths on both engines.
    "q68_large_orders" -> ((s, d) => {
      TestData.table(s, d, "lineitem").createOrReplaceTempView("graft_li_q68")
      TestData.table(s, d, "orders").createOrReplaceTempView("graft_ord_q68")
      TestData.table(s, d, "customer").createOrReplaceTempView("graft_cust_q68")
      s.sql("""
        SELECT c.c_name AS customer_name, o.o_orderkey AS orderkey,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               CAST(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) / 100.0
                    AS DOUBLE) AS totalprice,
               CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS total_qty
        FROM graft_ord_q68 o
        JOIN graft_cust_q68 c ON c.c_custkey = o.o_custkey
        JOIN graft_li_q68 l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN
              (SELECT l_orderkey FROM graft_li_q68
               GROUP BY l_orderkey
               HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000)
        GROUP BY c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE),
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
        ORDER BY totalprice DESC, orderkey
        LIMIT 100""")
    }),

    // ----- Training-data curation additions -------------------------

    // Sequence packing: concat-and-chunk documents into 2048-token
    // training sequences per source stream (docs in doc_id order; a
    // doc belongs to the sequence where it STARTS). One window cumsum
    // per source partition — packing is inherently per-stream, and a
    // source shard is the natural unit a 100 TB pipeline packs
    // independently (the partition key would be (source, shard)).
    "t12_sequence_packing" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      documents(s, d)
        .select(col("source"), col("doc_id"),
                TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
        .withColumn("__cum", sum(col("tok")).over(w))
        .withColumn("seq_id", floor((col("__cum") - col("tok")) / 2048L))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("tok")).as("seq_tokens"),
             min(col("doc_id")).as("first_doc"),
             max(col("doc_id")).as("last_doc"))
        .orderBy("source", "seq_id")
    }),

    // Vocabulary-pruning / OOV-rate: corpus vocabulary = tokens seen in
    // ≥ 5 documents; per-doc fraction of token occurrences outside it.
    // Both sides derive from one token explode; the df aggregation is
    // map-side-combined on the token key, and the vocab join is a
    // broadcast at any realistic vocab size (vocab ≪ corpus).
    "t13_oov_rate" -> ((s, d) => {
      // ONE token-explode pass: per-(doc, token) occurrence counts
      // first (rows are then one-per-(doc, token), so a count window
      // over the token is exactly its document frequency — t09's
      // trick), per-doc totals re-weighted by the occurrence counts.
      // The vocab-join form evaluated the explode twice.
      val per = documents(s, d)
        .select(col("doc_id"), col("source"),
                explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(count(lit(1)).as("__occ"))
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("tok")))
      per.groupBy("doc_id", "source")
        .agg(sum(col("__occ")).as("n_tokens"),
             sum(when(col("__df") < 5, col("__occ")).otherwise(0L))
               .as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }),

    // The scrub stage: sensitive-token masking (emails / long hex ids /
    // digit runs — TextFunctions.RedactPatterns) with per-row
    // redaction counts. All regexp built-ins, scan-local and
    // shuffle-free; demonstrated on the identifier-bearing customer
    // names (a digit run in every row). RE2-safe patterns keep the
    // DuckDB oracle automata identical.
    "t14_redaction" -> ((s, d) => {
      TestData.table(s, d, "customer")
        .select(col("c_custkey"),
          TextFunctions.redact(col("c_name")).as("__r"))
        .select(col("c_custkey"), col("__r.redacted").as("redacted_name"),
          col("__r.n_redacted").as("n_redacted"))
        .orderBy("c_custkey")
    }),

    // Learned quality classifier (fastText-shaped): logistic
    // regression over md5-hashed bag-of-words features, TRAINED in the
    // engine against the t02 heuristic gate (TextClassifier.train —
    // batch GD as Spark aggregations; 93.4% training accuracy at
    // sf0.01) and frozen as micro-unit integer weights. The margin is
    // an exact addition-order-free BIGINT sum, so the entire scoring
    // pipeline (including the prediction) is oracle-checkable
    // bit-for-bit; only the reported probability touches doubles.
    "t17_quality_classifier" -> ((s, d) =>
      TextClassifier.marginMicro(documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("score_micro"),
          (col("score_micro") > 0).cast("long").as("pred"),
          round(lit(1.0) / (lit(1.0) + exp(-(col("score_micro") / 1e6))), 4)
            .as("q_prob"))
        .orderBy("doc_id")),

    // Tokenizer efficiency by source: corpus-level BPE compression
    // (non-space chars per emitted token) under the frozen t15 merge
    // table — the per-source fertility report a tokenizer rollout
    // reads. Scan-local encode, one tiny aggregation.
    "t18_bpe_source_stats" -> ((s, d) => {
      documents(s, d)
        .select(col("source"), Bpe.normalize(col("text")).as("__n"),
          Bpe.encodeKernel(col("text")).as("__e"))
        .select(col("source"),
          length(replace(col("__n"), lit(" "))).as("__chars"),
          Bpe.tokenCount(col("__e"), col("__n")).as("__toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("__chars")).cast("long").as("total_chars"),
             sum(col("__toks")).cast("long").as("total_bpe_tokens"),
             round(sum(col("__chars")).cast("double")
               / sum(col("__toks")), 4).as("chars_per_token"))
        .orderBy("source")
    }),

    // Classifier evaluation report — the data card every curation
    // pipeline publishes next to its quality classifier: per-source
    // accuracy / precision / recall / F1 against the t02 heuristic
    // gate (the distillation target t17's weights were trained on),
    // plus ROC AUC via the rank-sum (Mann–Whitney U) identity with
    // average ranks for score ties. Everything reduces to integer
    // sums (rank sums kept on a ×2 BIGINT half-integer grid), and
    // each final metric is the exact integer half-up 1e4-grid value
    // — floor((2·10⁴·num + den)/(2·den)) — emitted as a plain BIGINT
    // (`*_e4` columns): int64 cannot diverge under any engine
    // version, float formatter, or parquet encoding, unlike the
    // DOUBLE/DECIMAL emissions of earlier rounds; undefined metrics
    // (no predicted/actual positives, single-class source) stay NULL
    // rather than fabricating 0s. One doc-keyed
    // join of the margin aggregate to the scan-local labels, one
    // source-keyed exchange for the rank windows, one |sources|-row
    // aggregate.
    "t19_classifier_eval" -> ((s, d) => classifierEval(s, d)),

    // Round-13 driver bisect of the t19 red row (three rounds of
    // locally-green value rewrites; every oracle construct is
    // sibling-green on the driver board — the remaining hypothesis is
    // a stale per-query driver artifact, and a FRESH key cannot hit a
    // stale cache). Three probes, t19 kept unchanged as the control:
    //   t19a — confusion counts only (no window, pure counting);
    //   t19b — the rank-sum window only (isolates RANK + ties);
    //   t19c — the full t19 computation verbatim under a new key.
    "t19a_confusion" -> ((s, d) =>
      classifierScored(s, d).groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"),
          sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"))
        .orderBy("source")),

    "t19b_ranksum" -> ((s, d) =>
      classifierRanked(s, d).groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("label"), col("r2"))).as("rp2"))
        .orderBy("source")),

    "t19c_eval_v2" -> ((s, d) => classifierEval(s, d)),

    // Round-14 bisect of the t19 metric layer. Round 13 proved: every
    // input ingredient green (t19a counts, t19b rank-sum), a FRESH key
    // red, local Spark digests frozen and NULL-free — so the
    // divergence lived strictly inside the report's final SELECT.
    // Root cause identified this round and fixed in the oracle
    // (Oracle.scala classifierEvalSql): the report emitted `n_pos` as
    // a bare DuckDB SUM over INTEGER, which is HUGEINT (int128); the
    // driver materializes HUGEINT as float64, so the driver-side hash
    // saw 2660.0 where Spark's parquet says int64 2660 — same VALUE,
    // different representation, exactly why the numeric local check
    // passed for four rounds while the driver's hash stayed red (the
    // green t19a/t19b CAST every sum to BIGINT; the red t19/t19c final
    // SELECT was the catalog's only un-cast integer-sum output).
    // The keys below make every r14 board outcome decisive regardless:
    //   t19d — every metric's numerator/denominator as CAST-BIGINT
    //          sums, no division, no CASE (t19a-class output);
    //   t19e — accuracy only (the one division-no-CASE metric);
    //   t19f/g/h/i — one CASE-guarded metric each;
    //   t19j — the mechanism probe: Spark emits n_pos as DOUBLE while
    //          the oracle leaves the HUGEINT sum bare. Green ⟺ the
    //          driver renders HUGEINT as a float (the pandas fetchdf
    //          behavior our local stand-in shows); red-with-t19-green
    //          ⟺ the driver renders it some third way — either board
    //          outcome confirms the divergence was the HUGEINT
    //          column's representation, never the values (the replay
    //          in BENCH_NOTES: pre-fix SQL = one repr-mismatched
    //          column, zero value mismatches).
    "t19d_numden" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"), col("n_docs"),
          col("n_pos"), col("n_correct"), col("tp"), col("fp"),
          col("fn"), col("rp2"),
          (lit(2L) * col("tp") + col("fp") + col("fn")).as("f1_den"),
          (col("rp2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .as("auc_num"),
          (lit(2L) * col("n_pos") * (col("n_docs") - col("n_pos")))
            .as("auc_den"))
        .orderBy("source")),

    "t19e_acc" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          metricGrid4("n_correct", "n_docs").as("accuracy_e4"))
        .orderBy("source")),

    "t19f_prec" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          when(col("tp") + col("fp") > 0,
            metricGrid4("tp", "tp + fp")).as("prec_e4"))
        .orderBy("source")),

    "t19g_rec" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          when(col("n_pos") > 0,
            metricGrid4("tp", "n_pos")).as("recall_e4"))
        .orderBy("source")),

    "t19h_f1" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
            metricGrid4("2 * tp", "2 * tp + fp + fn")).as("f1_e4"))
        .orderBy("source")),

    "t19i_auc" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          when(col("n_pos") > 0 && col("n_pos") < col("n_docs"),
            metricGrid4("rp2 - n_pos * (n_pos + 1)",
              "2 * n_pos * (n_docs - n_pos)")).as("auc_e4"))
        .orderBy("source")),

    "t19j_hugeint_repr" -> ((s, d) =>
      classifierAgg(s, d).select(col("source"),
          col("n_pos").cast("double").as("n_pos_f"))
        .orderBy("source")),

    // The t19 report in its 100 TB formulation: rank sums derived
    // from a (source, score) histogram instead of a full-row rank
    // window (see [[classifierEvalHist]] — the window/sort becomes
    // |distinct scores|-sized, retiring the per-source single-task
    // sort skew at billions of rows). Same oracle SQL as t19,
    // bit-for-bit (ClassifierEvalSpec pins the equivalence).
    "t25_eval_histogram" -> ((s, d) => classifierEvalHist(s, d)),

    // Corpus bigram language model with add-1 smoothing, scoring each
    // doc by the mean negative log-likelihood of its bigram
    // occurrences (t11's unigram LM extended one order — the
    // perplexity-filter shape of a real curation stack). Bigram
    // occurrences come from one codegen regex pass (the t05 shingle
    // lookahead, NON-distinct); model counts are two map-side-combined
    // aggregations; scoring is two hash joins on the count tables.
    // Floats follow t11's cross-engine discipline: each term rounded
    // on the 1e-6 grid as BIGINT before the per-doc mean. Docs with
    // fewer than two tokens have no bigrams and drop out, as in the
    // oracle.
    "t16_bigram_logprob" -> ((s, d) =>
      bigramNllScores(s, d).select("doc_id", "n_bigrams", "mean_nll")
        .orderBy("doc_id")),

    // Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995 /
    // Chen & Goodman 1999 — the standard n-gram smoothing, what
    // KenLM-style quality filters actually run; t16's add-1 is the
    // baseline it improves on): P(w2|w1) = (c(w1w2) − D)/c(w1) +
    // D·N1+(w1·)/c(w1) · N1+(·w2)/T with D = 0.75, scored over the
    // training corpus itself (every scored bigram seen, so the
    // discounted term stays positive). The model is VOCABULARY-sized,
    // so build it as aggregate tables, not corpus windows: bigram
    // counts via one map-side-combined aggregate (only vocab-sized
    // partials cross that exchange), then context totals / fan-outs /
    // continuation counts / T all derive from THAT table. The count
    // table is EAGERLY materialized (localCheckpoint) before the four
    // derived aggregates consume it: sharing the subplan via
    // ReuseExchange is best-effort, and when it failed to hold under
    // load the extraction re-ran 4-5× (a measured 8× CPU blowup on
    // the r11 driver box — at 100 TB a 4× recompute of the corpus
    // scan is a cluster-day). With the checkpoint the worst case is
    // bounded by construction: the corpus regex runs exactly twice —
    // once into the vocab-sized count table, once for the scoring
    // stream, which joins the per-bigram weights back in its only
    // full-stream exchange (plan-guarded in QueriesSpec).
    // (The window formulation sorted the whole corpus stream twice
    // and re-scanned the regex for the T scalar — measured ~2×
    // slower.) Per-bigram nats land on the 1e-6 integer grid before
    // the per-doc mean (t11/t16 discipline); the double expression is
    // associated IDENTICALLY in both engines so the grid values match
    // bit-for-bit.
    "t20_kneser_ney" -> ((s, d) => {
      val docs = documents(s, d)
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val pat = "(?:^|(?<= ))(?=((?:\\S+ ){1}\\S+))"
      val bg = docs.select(col("doc_id"),
          explode(regexp_extract_all(norm, lit(pat), lit(1))).as("bg"))
        .select(col("doc_id"),
          split_part(col("bg"), lit(" "), lit(1)).as("w1"),
          split_part(col("bg"), lit(" "), lit(2)).as("w2"))
      // Vocabulary-sized; eager so the derived aggregates read blocks,
      // never the corpus (ContextCleaner reclaims the blocks on GC).
      val bgcnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val w1tab = bgcnt.groupBy("w1")
        .agg(sum("cb").as("c1"), count(lit(1)).as("n1f"))
      val w2tab = bgcnt.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val tFrame = bgcnt.agg(count(lit(1)).as("__T"))
      val mtab = bgcnt.join(w1tab, "w1").join(w2tab, "w2")
        .crossJoin(broadcast(tFrame))
        .select(col("w1"), col("w2"), round(-log(
          (col("cb") - lit(0.75) + lit(0.75) * col("n1f") *
            (col("n1b").cast("double") / col("__T").cast("double"))) /
          col("c1")) * 1e6).cast("long").as("__m"))
      bg.join(mtab, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
             round(sum(col("__m")).cast("double") / count(lit(1)) / 1e6, 4)
               .as("mean_kn_nll"))
        .orderBy("doc_id")
    }),

    // REAL BPE tokenization (not the t01 subword proxy): the frozen
    // 24-rank merge table applied via the piped-representation encode
    // (graft.text.Bpe) — 24 chained codegen StringReplace expressions,
    // scan-local, shuffle-free. The md5 of the final tokenization
    // state pins symbol identity AND order, so the DuckDB oracle
    // (the identical replace chain in ANSI SQL) checks the entire
    // encoding, not just the count. Training the table is `Bpe.train`
    // (vocabulary-side Sennrich), spec-covered in BpeSpec.
    "t15_bpe_encode" -> ((s, d) =>
      kernelDocs(s, d)
        .select(col("doc_id"), Bpe.normalize(col("text")).as("__n"),
          Bpe.encodeKernel(col("text")).as("__e"))
        .select(col("doc_id"),
          Bpe.tokenCount(col("__e"), col("__n")).as("n_bpe_tokens"),
          Bpe.encodingHash(col("__e")).as("bpe_hash"))
        .orderBy("doc_id")),

    // Deterministic stratified sampling: k docs per source, picked by
    // md5(doc_id) order — a pure function of the key, so the sample is
    // reproducible across engines, runs, and partitionings (the t07
    // split discipline applied to per-stratum top-k). At scale this is
    // one hash-partitioned window per stratum, no global sort.
    "d07_stratified_sample" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"),
                md5(col("doc_id").cast("string")).as("pick_hash"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5)
        .select(col("source"), col("doc_id"), col("pick_hash"),
                col("__rn").cast("long").as("sample_rank"))
        .orderBy("source", "sample_rank")
    }),

    // Weighted reproducible sampling (Efraimidis–Spirakis): 5 docs per
    // source with P(win) ∝ token count — the quality/length-weighted
    // sibling of d07's uniform stratified sample. Priority is a pure
    // hash function of the key on an integer grid (engine-portable;
    // see Mixture.weightedPriority), so the oracle reproduces it
    // bit-for-bit.
    "d08_weighted_sample" -> ((s, d) => {
      val docs = documents(s, d).select(col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("weight"))
      Mixture.weightedSample(docs, "doc_id", "source", "weight", 5)
        .select(col("source"), col("doc_id"), col("weight"),
                col("priority"), col("sample_rank"))
        .orderBy("source", "sample_rank")
    }),

    // FUZZY decontamination: per-corpus-doc benchmark-overlap verdict
    // at token-set jaccard ≥ 0.9 — the check exact n-gram
    // decontamination (d04) can't make: a paraphrased benchmark doc
    // shares few exact 5-grams but a high token-set jaccard. Pairs
    // come from the exact cross-corpus PPJoin (no probabilistic
    // recall, no cross product, no self-side pairs); the emitted
    // deliverable is the per-doc flag a curation pipeline consumes,
    // so output is ≤ |corpus| regardless of pair multiplicity.
    "d11_fuzzy_decontaminate" -> ((s, d) => {
      val t = documents(s, d).select(col("doc_id"), col("source"),
        array_distinct(TextFunctions.tokens(col("text"))).as("w"))
      // tagged single-frame form: the two-frame union planned the
      // cached docs scan + tokenize four times (r15 plan audit)
      val isBench = col("source").isin("src0", "src1")
      Dedup.jaccardJoinAcrossTagged(t, "doc_id", "w", isBench, 0.9)
        .groupBy(col("a").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
             max(col("jaccard")).as("max_jaccard"))
        .orderBy("doc_id")
    }),

    // ASYMMETRIC fuzzy decontamination — the check BOTH d04's exact
    // n-grams and d11's symmetric jaccard miss: a short benchmark item
    // paraphrased inside a long training doc shares few exact 5-grams
    // AND has jaccard ≈ |bench|/|doc|, but its token set is nearly
    // CONTAINED. Exact cross-corpus containment pairs (overlap
    // coefficient ≥ 0.9, asymmetric-prefix-filtered — no cross
    // product), aggregated to the per-doc verdict like d11.
    "d16_containment_decontaminate" -> ((s, d) => {
      val t = documents(s, d).select(col("doc_id"), col("source"),
        array_distinct(TextFunctions.tokens(col("text"))).as("w"))
      // tagged single-frame form — see d11
      val isBench = col("source").isin("src0", "src1")
      Dedup.containmentJoinAcrossTagged(t, "doc_id", "w", isBench, 0.9)
        .groupBy(col("a").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
             max(col("containment")).as("max_containment"))
        .orderBy("doc_id")
    }),

    // d08's 100 TB form: the same weighted sample as ONE mergeable
    // aggregation (MinKAgg k-bounded buffers, map-side partials — only
    // k rows per stratum cross the shuffle; the window form shuffles
    // and sorts every row). Identical output — the oracle is d08's.
    "d10_weighted_sample_agg" -> ((s, d) => {
      val docs = documents(s, d).select(col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("weight"))
      Mixture.weightedSampleAgg(docs, "doc_id", "source", "weight", 5)
        .orderBy("source", "sample_rank")
    }),

    // Passage-level exact dedup (the C4/RefinedWeb line-dedup shape,
    // on 10-token segments since this corpus has no line structure):
    // every doc splits into consecutive segments, a segment duplicated
    // ANYWHERE in the corpus survives only at its first occurrence
    // (min doc_id, seg_idx), and each doc is reassembled from its kept
    // segments. Two shuffles total — one hash-partitioned window on
    // the segment text, one doc_id regroup — both map-side combined;
    // per-doc state is bounded by doc length. text_hash pins the
    // reassembled content exactly.
    "d14_segment_dedup" -> ((s, d) =>
      Dedup.segmentDedup(documents(s, d), "doc_id", "text", 10)
        .orderBy("doc_id")),

    // Cross-document duplicate n-gram fraction — the inter-document
    // repetition signal (boilerplate headers, licence blocks, mirrored
    // articles) that intra-doc t08 and corpus-vs-benchmark d04 both
    // miss: per doc, the share of its DISTINCT 5-gram windows that
    // also occur in at least one OTHER document. ONE shingle explode
    // (scan-local, distinct per doc so a gram counts each doc once)
    // with the doc-frequency as a count window over the gram key —
    // linear in corpus grams, no pair enumeration; the d09
    // bloom-prefilter shape applies unchanged if the gram table ever
    // outgrows the shuffle budget.
    "d15_crossdoc_ngram_dup" -> ((s, d) =>
      Dedup.crossDocGramStats(documents(s, d), "doc_id", "text", 5)
        .orderBy("doc_id")),

    // BM25 top-k retrieval (Okapi, Lucene idf): the 20 docs scoring
    // highest against a 4-term query — the lexical-retrieval baseline
    // and the "pull candidates before a contamination audit" step.
    // Scan-local term filter, two broadcast-able side aggregates,
    // TakeOrderedAndProject top-k.
    "t22_bm25_topk" -> ((s, d) =>
      graft.text.Retrieval.bm25TopK(documents(s, d), "doc_id", "text",
        Seq("hash", "join", "sort", "merge"), 20)),

    // Gopher repetition filters (Rae et al. 2021 §A1.1): fraction of
    // characters covered by the most frequent {2,3,4}-gram and by
    // duplicated 5-grams. Entirely ROW-LOCAL (sorted-run scan inside
    // the row, TextFunctions.multisetStats) — per-doc repetition never
    // shuffles the token stream; the DuckDB oracle is the exploded
    // group-by formulation this shape avoids at corpus scale. The
    // natural corpus never repeats a 5-gram intra-doc, so repetition
    // is PLANTED at a known rate (every 4th doc re-appends its 8-token
    // prefix — the d12 planted-construction pattern, reproduced
    // verbatim in the oracle) to keep the duplicate path oracle-
    // exercised.
    "t23_gopher_repetition" -> ((s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val toks = split(norm, " ")
      val planted = when(col("doc_id") % 4 === 0 && size(toks) >= 8,
        concat(norm, lit(" "), concat_ws(" ", slice(toks, 1, 8))))
        .otherwise(norm)
      val st = TextFunctions.repetitionStats(planted)
      val tot = st.getField("tot_chars")
      def topFrac(c: org.apache.spark.sql.Column,
                  l: org.apache.spark.sql.Column) =
        when(c === 0, 0.0).otherwise(round(c.cast("double") * l / tot, 4))
      documents(s, d).select(
        col("doc_id"),
        topFrac(st.getField("top2_cnt"), st.getField("top2_len"))
          .as("top2_frac"),
        topFrac(st.getField("top3_cnt"), st.getField("top3_len"))
          .as("top3_frac"),
        topFrac(st.getField("top4_cnt"), st.getField("top4_len"))
          .as("top4_frac"),
        when(st.getField("dup5_chars") === 0, 0.0)
          .otherwise(round(least(lit(1.0),
            st.getField("dup5_chars").cast("double") / tot), 4))
          .as("dup5_frac"))
        .orderBy("doc_id")
    }),

    // Gopher LINE-level filters over a derived multi-line corpus (the
    // documents table carries no newlines, so lines are derived
    // deterministically: 5-token lines, a "- " bullet planted on
    // lines opening with "the", a " ..." ellipsis on lines closing
    // with "dup", and every 3rd doc re-appends its FIRST line so the
    // duplicate-line path is oracle-exercised — the d12 planted-
    // construction pattern, mirrored verbatim in the oracle).
    // Duplicate-line fraction / char fraction, bullet-line and
    // ellipsis-line fractions — all row-local (multisetStats run scan
    // + filter() lambdas).
    "t24_line_stats" -> ((s, d) => {
      // decoration runs on the multi-line STRING ((?m) anchors, no
      // lookaheads — RE2-parseable) rather than a per-line transform
      // lambda: higher-order functions are CodegenFallback and drop
      // the projection out of whole-stage codegen (measured 2.5 s →
      // ~0.3 s at sf0.1). Bullet decoration prepends, ellipsis
      // appends, so neither changes the region the other tests.
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val lined = regexp_replace(norm, "((?:\\S+ ){4}\\S+) ", "$1\n")
      val dec = regexp_replace(
        regexp_replace(lined, "(?m)^the( |$)", "- the$1"),
        "(?m)( |^)dup$", "$1dup ...")
      val lines0 = split(dec, "\n")
      val isPlanted = col("doc_id") % 3 === 0
      val lines = concat(lines0,
        when(isPlanted, array(element_at(lines0, 1)))
          .otherwise(array().cast("array<string>")))
      val st = TextFunctions.multisetStats(lines)
      val n = st.getField("n")
      // bullet/ellipsis counts string-side (regexp_count stays in
      // codegen); the planted copy of line 1 is adjusted for directly
      val first = regexp_extract(dec, "^[^\n]*", 0)
      val bullets = regexp_count(dec, lit("(?m)^- ")) +
        when(isPlanted && first.startsWith("- "), 1).otherwise(0)
      val ellipses = regexp_count(dec, lit("(?m)\\.\\.\\.$")) +
        when(isPlanted && first.endsWith("..."), 1).otherwise(0)
      documents(s, d).select(
        col("doc_id"),
        n.as("n_lines"),
        round(lit(1.0) - st.getField("n_distinct").cast("double") / n, 4)
          .as("dup_line_frac"),
        when(st.getField("tot_chars") === 0, 0.0)
          .otherwise(round(least(lit(1.0),
            st.getField("dup_chars").cast("double")
              / st.getField("tot_chars")), 4))
          .as("dup_line_char_frac"),
        round(bullets.cast("double") / n, 4).as("bullet_frac"),
        round(ellipses.cast("double") / n, 4).as("ellipsis_frac"))
        .orderBy("doc_id")
    }),

    // Cross-source overlap matrix: shared distinct 5-grams + gram-set
    // jaccard for every source pair — one gram-keyed exchange,
    // collect_set(source) bounded by |sources|, row-local pair
    // explode; the DuckDB oracle does the gram⋈gram self-join this
    // shape exists to avoid.
    "t21_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(documents(s, d), "source", "text", 5)
        .orderBy("source_a", "source_b")),

    // Duplicate-SPAN coverage (Lee et al. substring-level dedup): per
    // doc, the fraction of token positions covered by any 5-gram that
    // also occurs in ANOTHER doc — positioned gram explode, one
    // gram-keyed window for the cross-doc mark (min≠max id — "≥2
    // distinct docs" without count-distinct), one doc-keyed
    // running-max interval union over only the duplicated rows. The
    // duplicated-occurrence set is computed ONCE and shared with the
    // d19 strip (the dupPairs/scoredDocs pipeline-state pattern).
    "d18_dup_span_stats" -> ((s, d) =>
      Dedup.dupSpanStatsFrom(documents(s, d), dupSpanOccurrences(s, d),
        "doc_id", "text", 5).orderBy("doc_id")),

    // Maximal duplicated-block segmentation over the same shared
    // occurrence set: block count + LONGEST block per doc — the
    // "one giant mirrored block vs scattered phrases" removal signal
    // the coverage fraction can't express.
    "d20_longest_dup_span" -> ((s, d) =>
      Dedup.longestDupSpanFrom(documents(s, d), dupSpanOccurrences(s, d),
        "doc_id", "text", 5).orderBy("doc_id")),

    // ...and the transformation those stats gate: every cross-doc
    // duplicated span REMOVED, surviving token order preserved —
    // the actual dedup step a training pipeline runs before export.
    "d19_strip_dup_spans" -> ((s, d) =>
      Dedup.stripDupSpansFrom(documents(s, d), dupSpanOccurrences(s, d),
        "doc_id", "text", 5).orderBy("doc_id")),

    // PLANTED minhash near-dup: d02's operator (same code path —
    // Dedup.nearDuplicates: codegen signatures, banded LSH buckets,
    // verify-once exact-jaccard guard, skew caps) run over a
    // constructed corpus where LSH recall is PROVABLE, so the
    // brute-force jaccard join is a FULL oracle for the emitted pair
    // set — the s06–s09 planted-ANN trick applied to near-dup
    // detection. Construction (reproduced verbatim by the DuckDB
    // oracle): each doc_id contributes a base doc of ten tokens unique
    // to it ("t<id>_0".."t<id>_9" — cross-doc jaccard is exactly 0);
    // every 7th doc also plants a DUPLICATE (id + 1e9) with the same
    // token SET in a different surface form (reversed order, one token
    // repeated) — identical sets give identical minhash signatures, so
    // the pair collides in EVERY band and LSH finds it with
    // probability 1 (buckets stay ≪ maxBucket: token sets are
    // cluster-disjoint); every 11th doc plants a sub-threshold
    // DISTRACTOR (id + 2e9, jaccard 5/15 ≈ 0.33) exercising the
    // exact-verify reject. Output is therefore EXACTLY the planted
    // duplicate pairs at jaccard 1.0 — no probabilistic slack.
    "d12_minhash_planted" -> ((s, d) => {
      val ids = documents(s, d).select(col("doc_id")).distinct()
      def tok(p: String, j: Int): org.apache.spark.sql.Column =
        concat(lit(p), col("doc_id").cast("string"), lit("_" + j))
      val baseText = concat_ws(" ", (0 until 10).map(tok("t", _)): _*)
      val dupText = concat_ws(" ",
        (9 to 0 by -1).map(tok("t", _)) :+ tok("t", 0): _*)
      val distText = concat_ws(" ",
        (0 until 5).map(tok("t", _)) ++ (0 until 5).map(tok("u", _)): _*)
      val corpus = ids
        .select(col("doc_id").as("id"), baseText.as("text"))
        .unionByName(ids.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000000L).as("id"), dupText.as("text")))
        .unionByName(ids.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000000L).as("id"), distText.as("text")))
      Dedup.nearDuplicates(corpus, "id", "text",
        shingleLen = 1, numHashes = 32, numBands = 4, threshold = 0.7,
        maxBucket = 200)
        .orderBy("a", "b")
    }),
  )
}
