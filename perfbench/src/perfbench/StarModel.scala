package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A plain-Scala model of the reference's four source tables and of the
  * `customer_purchase_summary` view over them. It uses no graft code:
  * it is the independent computation the CDC workloads check against.
  * Money is exact integer cents throughout. */
object StarModel {

  /** The reference's seed dimensions (FIXTURES.md): 14 merchants, two
    * in each of 7 categories, and 12 products over the same categories,
    * with one Food product. */
  val Categories: Vector[String] =
    Vector("Retail", "Tech", "Produce", "Food", "Fashion", "Pharmacy", "Entertainment")
  val MerchantNames: Vector[String] = Vector("Amazon", "Walmart", "Apple", "Microsoft",
    "Whole Foods", "Trader Joe's", "Starbucks", "McDonald's", "Nike", "Adidas", "Walgreens",
    "CVS", "Netflix", "Spotify")
  val ProductCategories: Vector[String] = Vector("Retail", "Retail", "Tech", "Tech",
    "Produce", "Produce", "Food", "Fashion", "Fashion", "Pharmacy", "Pharmacy", "Entertainment")
  /** Reference price range, 347.40 – 1381.01, in cents. */
  val MinPriceCents = 34740
  val MaxPriceCents = 138101
  val Cards: Vector[String] = Vector("American Express", "Visa", "Mastercard", "Discover")
  val Segments: Vector[String] =
    Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  /** Dashboard spend buckets: the reference's own literals, in cents. */
  val LowCents = 400000L
  val HighCents = 600000L
  val TopK = 5

  /** `transactions` seed rows over `days` date partitions; appends are
    * `commitRows` inserts dated on the day after the window (the
    * reference generator's `current_date`) plus `appendFixes` updates
    * and deletes of the last two days' rows. */
  final case class Size(customers: Int, transactions: Int, days: Int,
                        commitRows: Int, appendFixes: Int,
                        scatterUpdates: Int, scatterDeletes: Int, scatterInserts: Int)

  final case class Cust(id: Long, name: String, age: Int, segment: String, nation: Long)
  final case class Prod(id: Long, name: String, category: String, priceCents: Long)
  final case class Merch(id: Long, name: String, category: String)
  final case class Tx(id: String, cust: Long, prod: Long, merch: Long, day: Int,
                      time: String, qty: Int, card: String, category: String)

  /** One view row, with the total in cents. */
  type ViewRow = (String, Long, Int, Long, String, String, Long, String, String,
    Int, String, Int, Long, String, String)

  final case class Read(status: Map[String, Long], top: Seq[(String, Long)])

  val txSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType), StructField("customer_id", LongType),
    StructField("product_id", LongType), StructField("merchant_id", LongType),
    StructField("transaction_date", DateType), StructField("transaction_time", StringType),
    StructField("quantity", IntegerType), StructField("total_price", DoubleType),
    StructField("transaction_card", StringType),
    StructField("transaction_category", StringType)))
  val custSchema: StructType = StructType(Seq(
    StructField("customer_id", LongType), StructField("customer_name", StringType),
    StructField("age", IntegerType), StructField("segment", StringType),
    StructField("nation_id", LongType)))
  val prodSchema: StructType = StructType(Seq(
    StructField("product_id", LongType), StructField("product_name", StringType),
    StructField("product_category", StringType), StructField("price", DoubleType)))
  val merchSchema: StructType = StructType(Seq(
    StructField("merchant_id", LongType), StructField("merchant_name", StringType),
    StructField("merchant_category", StringType)))
  private val meta = Seq(StructField("_op", StringType), StructField("_lsn", LongType),
    StructField("_commit_ts", TimestampType))

  def date(day: Int): Date = Date.valueOf(Day0.plusDays(day.toLong))
  def dayOf(d: Date): Int = (d.toLocalDate.toEpochDay - Day0.toEpochDay).toInt

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def withMeta(schema: StructType): StructType = StructType(schema.fields ++ meta)

  /** Swap-remove pool of ids for uniform picks. */
  final class Pool {
    private val ids = mutable.ArrayBuffer.empty[String]
    private val at = mutable.HashMap.empty[String, Int]
    def size: Int = ids.size
    def add(id: String): Unit = if (!at.contains(id)) { at(id) = ids.size; ids += id }
    def remove(id: String): Unit = at.remove(id).foreach { i =>
      val last = ids.remove(ids.size - 1)
      if (i < ids.size) { ids(i) = last; at(last) = i }
    }
    def pick(rnd: scala.util.Random): String = ids(rnd.nextInt(ids.size))
  }
}

final class StarModel(seed: Long, size: StarModel.Size) {
  import StarModel._

  private val rnd = new scala.util.Random(seed)
  val customers = mutable.LinkedHashMap.empty[Long, Cust]
  val products = mutable.LinkedHashMap.empty[Long, Prod]
  val merchants = mutable.LinkedHashMap.empty[Long, Merch]
  val fact = mutable.HashMap.empty[String, Tx]
  private val all = new Pool
  private val byDay = mutable.HashMap.empty[Int, Pool]
  private var nextTx = 0L
  private var lsn = 0L
  private var dimTurn = 0

  for (i <- 0 until size.customers)
    customers(i) = Cust(i, f"Customer#$i%06d", 18 + rnd.nextInt(73),
      Segments(rnd.nextInt(Segments.size)), rnd.nextInt(25).toLong)
  for ((c, i) <- ProductCategories.zipWithIndex)
    products(i) = Prod(i, f"Product-$i%02d", c, price())
  for ((n, i) <- MerchantNames.zipWithIndex)
    merchants(i) = Merch(i, n, Categories(i / 2))
  for (_ <- 0 until size.transactions) put(newTx(rnd.nextInt(size.days)))

  /** The day every append lands on: the day after the seed window. */
  def newestDay: Int = size.days

  private def price(): Long = MinPriceCents + rnd.nextInt(MaxPriceCents - MinPriceCents + 1)

  private def put(t: Tx): Unit = {
    fact(t.id) = t; all.add(t.id); byDay.getOrElseUpdate(t.day, new Pool).add(t.id)
  }

  private def drop(id: String): Unit = fact.remove(id).foreach { t =>
    all.remove(id); byDay(t.day).remove(id)
  }

  /** A new fact row as the reference generator makes it
    * (`postgresql_setup.sql:97-111`): customer, product and merchant
    * drawn independently, so most rows fail the view's category
    * conjunct; quantity 1–7; Purchase four times in five. */
  private def newTx(day: Int): Tx = {
    nextTx += 1
    Tx(s"T$nextTx", rnd.nextInt(customers.size).toLong, rnd.nextInt(products.size).toLong,
      rnd.nextInt(merchants.size).toLong, day,
      f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d",
      1 + rnd.nextInt(7), Cards(rnd.nextInt(Cards.size)),
      if (rnd.nextInt(5) == 0) "Refund" else "Purchase")
  }

  private def txRow(t: Tx): Seq[Any] = Seq(t.id, t.cust, t.prod, t.merch, date(t.day),
    t.time, t.qty, t.qty * products.get(t.prod).map(_.priceCents).getOrElse(0L) / 100.0,
    t.card, t.category)

  private def event(fields: Seq[Any], op: String): Row = {
    lsn += 1
    Row.fromSeq(fields ++ Seq(op, lsn, new Timestamp(1700000000000L + lsn)))
  }

  // ---- source snapshots -------------------------------------------------

  def txRows: Seq[Row] = fact.values.toSeq.sortBy(_.id).map(t => Row.fromSeq(txRow(t)))
  def custRows: Seq[Row] = customers.values.toSeq.map(c =>
    Row(c.id, c.name, c.age, c.segment, c.nation))
  def prodRows: Seq[Row] = products.values.toSeq.map(p =>
    Row(p.id, p.name, p.category, p.priceCents / 100.0))
  def merchRows: Seq[Row] = merchants.values.toSeq.map(m => Row(m.id, m.name, m.category))

  // ---- change batches (the model applies each as it makes it) ------------

  /** A fact batch, with the date partitions it touches and the rows
    * those partitions held before it. */
  final case class FactBatch(rows: Seq[Row], days: Set[Int], rowsInDays: Long)

  private def factBatch(events: Seq[(Tx, String)]): FactBatch = {
    val days = events.map(_._1.day).toSet
    val before = days.toSeq.map(d => byDay.get(d).map(_.size.toLong).getOrElse(0L)).sum
    val rows = events.map { case (t, op) =>
      val r = event(txRow(t), op)
      if (op == "DELETE") drop(t.id) else put(t)
      r
    }
    FactBatch(rows, days, before)
  }

  /** The reference's own traffic: one commit of inserts on the newest
    * day, plus updates and deletes of the last two days' rows. */
  def appendBatch(): FactBatch = {
    val day = newestDay
    val inserts = Seq.fill(size.commitRows)(newTx(day))
    val recent = (day - 1 to day).flatMap(byDay.get).filter(_.size > 0)
    val fixes = (0 until size.appendFixes).flatMap { j =>
      val pool = recent(rnd.nextInt(recent.size))
      val t = fact(pool.pick(rnd))
      if (j % 3 == 2) Seq(t -> "DELETE")
      else Seq(t.copy(qty = 1 + rnd.nextInt(7)) -> "UPDATE")
    }.distinctBy(_._1.id)
    factBatch(inserts.map(_ -> "INSERT") ++ fixes)
  }

  /** Late corrections scattered over every date partition: updates
    * (one in five moves the row to another merchant, in or out of the
    * view's category conjunct), deletes, and late inserts. */
  def scatterBatch(): FactBatch = {
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < size.scatterUpdates + size.scatterDeletes) picked += all.pick(rnd)
    val (ups, dels) = picked.toSeq.map(fact).splitAt(size.scatterUpdates)
    val updates = ups.map { t =>
      val moved = if (rnd.nextInt(5) == 0) {
        t.copy(merch = merchants.keysIterator.drop(rnd.nextInt(merchants.size)).next())
      } else t
      moved.copy(qty = 1 + rnd.nextInt(7)) -> "UPDATE"
    }
    val late = Seq.fill(size.scatterInserts)(newTx(rnd.nextInt(newestDay + 1)))
    factBatch(updates ++ dels.map(_ -> "DELETE") ++ late.map(_ -> "INSERT"))
  }

  /** A dimension change, rotating products → customers → merchants:
    * price changes and a category flip; age changes; merchant category
    * flips, which move fact rows into and out of the view. */
  def dimBatch(): (String, Seq[Row]) = {
    val turn = dimTurn % 3
    dimTurn += 1
    def pickId(n: Int) = rnd.nextInt(n).toLong
    turn match {
      case 0 =>
        val ids = Seq.fill(3)(pickId(products.size)).distinct
        "products" -> ids.zipWithIndex.map { case (id, j) =>
          val p = products(id)
          val q = if (j == 0) p.copy(category = Categories(rnd.nextInt(Categories.size)))
                  else p.copy(priceCents = price())
          products(id) = q
          event(Seq(q.id, q.name, q.category, q.priceCents / 100.0), "UPDATE")
        }
      case 1 =>
        val ids = Seq.fill(5)(pickId(customers.size)).distinct
        "customers" -> ids.map { id =>
          val c = customers(id).copy(age = 18 + rnd.nextInt(73))
          customers(id) = c
          event(Seq(c.id, c.name, c.age, c.segment, c.nation), "UPDATE")
        }
      case _ =>
        val ids = Seq.fill(2)(pickId(merchants.size)).distinct
        "merchants" -> ids.map { id =>
          val m = merchants(id).copy(category = Categories(rnd.nextInt(Categories.size)))
          merchants(id) = m
          event(Seq(m.id, m.name, m.category), "UPDATE")
        }
    }
  }

  // ---- expected view and dashboard answers -----------------------------

  def viewRow(t: Tx): Option[ViewRow] = for {
    c <- customers.get(t.cust)
    p <- products.get(t.prod)
    m <- merchants.get(t.merch) if m.category == p.category
  } yield (t.id, c.id, c.age, p.id, p.name, p.category, m.id, m.name, m.category,
    t.day, t.time, t.qty, t.qty * p.priceCents, t.card, t.category)

  def view: Map[String, ViewRow] = fact.valuesIterator.flatMap(viewRow).map(r => r._1 -> r).toMap

  def expectedRead: Read = {
    val spend = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val revenue = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    fact.valuesIterator.flatMap(viewRow).foreach { r =>
      if (r._15 == "Purchase") spend(r._2) += r._13
      revenue(r._8) += r._13
    }
    val status = spend.values.filter(_ > 0).groupBy { c =>
      if (c < LowCents) "Low Spenders" else if (c < HighCents) "Medium Spenders"
      else "High Spenders"
    }.map { case (k, v) => k -> v.size.toLong }
    Read(Seq("High Spenders", "Medium Spenders", "Low Spenders")
      .map(k => k -> status.getOrElse(k, 0L)).toMap,
      revenue.toSeq.sortBy { case (n, c) => (-c, n) }.take(TopK))
  }
}
