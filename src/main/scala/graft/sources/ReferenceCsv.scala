package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.Schemas
import graft.model.Schemas.{Customer, Merchant, Product, Transaction}

/** CSV bulk load of reference-shaped seed tables — the engine's
  * equivalent of `COPY … FROM '/tmp/x.csv' DELIMITER ',' CSV HEADER`
  * (reference `scripts/postgresql_setup.sql:44-47`).
  *
  * Schemas are declared explicitly (never inferred — inference would
  * scan the data twice and can mistype at scale); the header row is
  * skipped and columns bind by position.
  */
object ReferenceCsv {

  /** The directory of the four seed CSVs, resolved in one place:
    * `GRAFT_REFERENCE_CSV` when set (a checkout of the reference's own
    * `scripts/postgres_csv`), else the reference-shaped seed kept with
    * the tests (`src/test/resources/reference_seed`, written by
    * `tools/build_reference_seed.py`) — found on the classpath when the
    * test resources are on it, else relative to the repo root. */
  def seedDir: String =
    sys.env.get("GRAFT_REFERENCE_CSV").filter(_.nonEmpty).getOrElse {
      Option(getClass.getResource("/reference_seed/customers.csv"))
        .filter(_.getProtocol == "file")
        .map(u => new java.io.File(u.toURI).getParent)
        .getOrElse("src/test/resources/reference_seed")
    }

  def load(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.tableSchemas(table))
      .csv(path)

  /** Load all four seed tables from a directory of
    * `{customers,merchants,products,transactions}.csv`. */
  def loadAll(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Schemas.tableSchemas.keys.map { t =>
      t -> load(spark, s"$dir/$t.csv", t)
    }.toMap

  // Typed surface (SURVEY.md §1.3): compile-time field checks for
  // pipeline code; the untyped frames remain the operator-library
  // currency.
  def customers(spark: SparkSession, dir: String): Dataset[Customer] = {
    import spark.implicits._
    load(spark, s"$dir/customers.csv", "customers").as[Customer]
  }
  def merchants(spark: SparkSession, dir: String): Dataset[Merchant] = {
    import spark.implicits._
    load(spark, s"$dir/merchants.csv", "merchants").as[Merchant]
  }
  def products(spark: SparkSession, dir: String): Dataset[Product] = {
    import spark.implicits._
    load(spark, s"$dir/products.csv", "products").as[Product]
  }
  def transactions(spark: SparkSession, dir: String): Dataset[Transaction] = {
    import spark.implicits._
    load(spark, s"$dir/transactions.csv", "transactions").as[Transaction]
  }
}
