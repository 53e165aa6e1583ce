package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Spark port of the reference's synthetic transaction
  * generator (`scripts/postgresql_setup.sql:58-131`): random FK
  * sampling from the dimensions, quantity ∈ [1,7], one of four cards,
  * ~80% Purchase, total_price = quantity × product price.
  *
  * Where the PL/pgSQL original draws `RANDOM()` per row (and samples
  * dims via `ORDER BY RANDOM() LIMIT 1` — a full sort per row!), we
  * derive every choice from `xxhash64(row id, salt)`: fully
  * distributed, collect-free on the fact side, and reproducible from
  * `(seed, startLsn)` alone — the generator doubles as a test fixture
  * so determinism is load-bearing. Dimension keys are joined broadcast
  * rather than collected.
  *
  * Output = a transactions change stream: full row after-image plus
  * `_op = INSERT`, `_lsn = startLsn + i`, `_commit_ts` advancing 30s
  * per 100-row batch (mirroring the reference's COMMIT-every-100,
  * sleep-30s cadence — `postgresql_setup.sql:114-128`).
  */
object TransactionGenerator {

  private val cards =
    array(lit("American Express"), lit("Visa"), lit("Mastercard"), lit("Discover"))

  private def pick(idx: org.apache.spark.sql.Column, salt: Int, n: Int) =
    pmod(xxhash64(idx, lit(salt)), lit(n.toLong)).cast("int")

  def generate(spark: SparkSession, customers: DataFrame, products: DataFrame,
               merchants: DataFrame, n: Int, seed: Long,
               startLsn: Long = 1L, date: String = "2024-09-15",
               baseEpoch: Long = 1726358400L): DataFrame = {
    // keys stay boxed in their dimension's type (INT on the reference
    // seed, BIGINT on the testdata star), so each FK literal — and the
    // generated FK column — carries that type
    def keys(dim: DataFrame, c: String): Array[Any] =
      dim.select(c).collect().map(_.get(0))
        .sortBy(_.asInstanceOf[Number].longValue)
    val custIds = keys(customers, "customer_id")
    val merchIds = keys(merchants, "merchant_id")
    val prodIds = keys(products, "product_id")

    val custArr = array(custIds.map(lit).toIndexedSeq: _*)
    val merchArr = array(merchIds.map(lit).toIndexedSeq: _*)
    val prodArr = array(prodIds.map(lit).toIndexedSeq: _*)

    val id = col("id")
    val h = (salt: Int) => xxhash64(id, lit(seed), lit(salt))

    val base = spark.range(n.toLong).select(
      concat(lit("TX"), lit(seed), lit("-"), id).as("transaction_id"),
      element_at(custArr, pick(h(1), 1, custIds.length) + 1).as("customer_id"),
      element_at(prodArr, pick(h(2), 2, prodIds.length) + 1).as("product_id"),
      element_at(merchArr, pick(h(3), 3, merchIds.length) + 1).as("merchant_id"),
      lit(date).cast("date").as("transaction_date"),
      date_format(
        timestamp_seconds(pmod(h(4), lit(86400L))), "HH:mm:ss")
        .as("transaction_time"),
      (pick(h(5), 5, 7) + 1).as("quantity"),
      (pick(h(6), 6, 10) < 8).as("__is_purchase"),
      element_at(cards, pick(h(7), 7, 4) + 1).as("transaction_card"),
      (lit(startLsn) + id).as(CdcApply.LsnCol),
      timestamp_seconds(lit(baseEpoch) + (id / 100L) * 30L)
        .as(CdcApply.CommitTsCol))

    base
      .join(broadcast(products.select(col("product_id"), col("price"))),
            Seq("product_id"))
      .select(
        col("transaction_id"), col("customer_id"), col("product_id"),
        col("merchant_id"), col("transaction_date"), col("transaction_time"),
        col("quantity"),
        (col("quantity") * col("price")).as("total_price"),
        col("transaction_card"),
        when(col("__is_purchase"), "Purchase").otherwise("Refund")
          .as("transaction_category"),
        lit(CdcApply.Insert).as(CdcApply.OpCol),
        col(CdcApply.LsnCol), col(CdcApply.CommitTsCol))
  }
}
