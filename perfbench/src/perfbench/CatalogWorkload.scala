package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{NumericType, StringType, StructType}

import graft.SparkEntry

/** The query catalog over the testdata tables kept in the benchmark: an
  * op is one `SparkEntry.queries` entry forced to full materialization
  * (all rows collected to the driver). A round is a fixed set of
  * queries, every family, in a fixed order: the seed does not enter this
  * workload. With a seed-drawn order the JVM's cold costs fell on other
  * queries in every run and the median op latency moved by 0.8 of itself
  * between seeds. Set-up builds the shared materialization the dashboard
  * queries read, as `graft.Bench` warms it.
  *
  * The check is outside the JVM: each query's rows are written once per
  * run under `results/`, with the oracle SQL, and `perfbench/oracle.py`
  * compares them with DuckDB's answer to the oracle SQL. */
final class CatalogWorkload(spark: SparkSession, dataDir: String,
                            set: CatalogWorkload.QuerySet) extends Workload {
  import CatalogWorkload._

  private val order = set.queries
  private var ops = 0
  private var results: Path = _
  private val written = mutable.Set.empty[String]

  override def round: Int = order.size
  def warmOps: Int = 0

  def build(dir: Path, t: Trace): Unit = {
    results = dir.resolveSibling("results")
    Files.createDirectories(results)
    val sql = SparkEntry.oracleSql
    val json = set.queries.filter(sql.contains)
      .map(q => s"${quote(q)}: ${quote(sql(q))}").mkString("{", ",\n", "}\n")
    Files.write(results.resolve("oracle_sql.json"), json.getBytes("UTF-8"))
    set.materialize.foreach { q =>
      t.span(s"catalog.materialize.$q")(SparkEntry.queries(q)(spark, dataDir).count())
    }
  }

  def next(): Op = {
    val q = order(ops % order.size)
    ops += 1
    new Op {
      def run(t: Trace): Any = t.span(s"catalog.${q.take(1)}.$q") {
        val df = SparkEntry.queries(q)(spark, dataDir)
        Output(q, df.schema, df.collect().toSeq)
      }
      def check(out: Any): Option[String] = {
        if (written.add(q)) record(out.asInstanceOf[Output], results)
        None
      }
      def corrupt(out: Any): Any = damage(out.asInstanceOf[Output])
    }
  }

  /** Writes a query's rows, in order, as one parquet file set. */
  def record(o: Output, under: Path): Unit =
    spark.createDataFrame(o.rows.asJava, o.schema).coalesce(1)
      .write.mode("overwrite").parquet(under.resolve(o.query).toString)

  /** The self-test's view of the workload: its queries' real outputs go
    * under `real`, a damaged copy of each under `damaged`. */
  def selfTestOp(i: Int, real: Path, damaged: Path, t: Trace): Unit = {
    val o = next().run(t).asInstanceOf[Output]
    record(o, real)
    record(damage(o), damaged)
  }

  def finalCheck(corrupt: Boolean): Option[String] =
    if (written.size == set.queries.size) None
    else Some(s"${set.queries.size - written.size} queries ran no op")

  def layers(t: Trace): Seq[(String, Double)] = {
    val rounds = (ops / order.size).max(1)
    Families.flatMap { f =>
      val sel = (n: String) => n.startsWith(s"catalog.$f.")
      Seq(s"catalog.${f}_s" -> t.selfS(sel), s"catalog.${f}_cpu_s" -> t.cpuS(sel))
    } ++ Seq(
      "catalog.jobs" -> t.jobs(isQuery), "catalog.stages" -> t.stages(isQuery),
      "catalog.shuffle_mb" -> t.shuffleMb(isQuery),
      "dedup.setjoin_cpu_s" ->
        t.totalCpuS(n => SetJoin.exists(q => n.endsWith(s".$q"))) / rounds,
      "catalog.materialize_s" -> t.setupS(_.startsWith("catalog.materialize.")))
  }
}

object CatalogWorkload {

  final case class Output(query: String, schema: StructType, rows: Seq[Row])

  /** `queries` is one round; `materialize` runs once in set-up. */
  final case class QuerySet(queries: Seq[String], materialize: Seq[String])

  val Families: Seq[String] = Seq("q", "t", "c", "d", "j", "e", "s", "m")

  /** The set-join entries of ROADMAP direction 4. */
  val SetJoin: Seq[String] = Seq("j01_word_jaccard_pairs", "j03_containment_pairs",
    "d11_fuzzy_decontaminate", "d16_containment_decontaminate")

  /** Every family, the four set joins and both exact baselines (e01,
    * e02); set-up builds the purchase-summary materialization the two
    * dashboard queries read. */
  val Queries = QuerySet(
    queries = Seq("q04_spend_status_counts", "q16_topk_merchants", "t22_bm25_topk",
      "c09_temperature_mixture", "e01_self_knn", "e02_cosine_pairs", "s01_cosine_topk",
      "m03_embed_content_dedup") ++ SetJoin,
    materialize = Seq("q01_purchase_summary"))

  val Smoke = QuerySet(
    queries = Seq("q04_spend_status_counts", "j01_word_jaccard_pairs", "s01_cosine_topk"),
    materialize = Seq("q01_purchase_summary"))

  /** Changes the first numeric or string cell of the first row, or drops
    * the last row where there is none. */
  def damage(o: Output): Output = {
    val col = o.schema.fields.indexWhere(f =>
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType)
    o.rows match {
      case first +: rest if col >= 0 && !first.isNullAt(col) =>
        val v = first.toSeq.toArray
        v(col) = v(col) match {
          case s: String => s + "#"
          case b: java.lang.Byte => (b + 1).toByte
          case s: java.lang.Short => (s + 1).toShort
          case i: java.lang.Integer => i + 1
          case l: java.lang.Long => l + 1
          case f: java.lang.Float => f + 1
          case d: java.lang.Double => d + 1
          case d: java.math.BigDecimal => d.add(java.math.BigDecimal.ONE)
          case other => other
        }
        o.copy(rows = Row.fromSeq(v.toSeq) +: rest)
      case rows if rows.nonEmpty => o.copy(rows = rows.init)
      case _ => o
    }
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val isQuery: String => Boolean =
    n => n.startsWith("catalog.") && !n.startsWith("catalog.materialize.")
}
