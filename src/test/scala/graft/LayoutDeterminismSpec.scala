package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The determinism claim behind the exact-cents / integer-domain
  * design: catalog results must be BIT-IDENTICAL under different
  * physical layouts — shuffle partition counts, AQE on/off — because
  * at cluster scale the layout is never the same twice (retries, skew
  * splits, dynamic coalescing). A double-summation query would fail
  * this spec: float addition is not associative, so per-layout
  * partial-aggregation orders produce different low bits. */
class LayoutDeterminismSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  // the aggregate-heavy queries whose stability depends on the
  // integer-domain discipline (money sums, moments, percentiles,
  // windows), plus one join chain
  private val names = Seq(
    "q02_customer_spending", "q19_category_revenue", "q24_median_order_value",
    "q48_value_moments", "q51_percentiles", "q53_regional_revenue",
    "q56_promo_share", "t09_tfidf", "t11_unigram_logprob")

  private def withConf[A](pairs: (String, String)*)(f: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def snapshot(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq // ordered rows, full precision

  test("aggregate queries are bit-identical across shuffle layouts and AQE modes") {
    val base = names.map(n => n -> snapshot(Queries.all(n)(spark, sf))).toMap
    val layouts = Seq(
      Seq("spark.sql.shuffle.partitions" -> "3",
          "spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.shuffle.partitions" -> "17",
          "spark.sql.adaptive.enabled" -> "true"))
    layouts.foreach { conf =>
      withConf(conf: _*) {
        names.foreach { n =>
          val got = snapshot(Queries.all(n)(spark, sf))
          assert(got == base(n),
            s"$n diverged under layout ${conf.toMap}")
        }
      }
    }
  }
}
