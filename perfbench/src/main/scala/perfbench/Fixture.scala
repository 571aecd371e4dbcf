package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.DataGen

/** Seeded inputs in the layout of the engine's parquet corpus
  * (`<dir>/<table>.parquet`, the schemas of FIXTURES.md A), made with
  * Spark from the seed alone: every column is a hash of (row id, seed,
  * salt), so one seed gives the same rows at any partition count.
  * `documents` and `embeddings` come from the engine's own generator
  * (DataGen), which plants exact and near duplicates. */
object Fixture {

  /** Row counts; `orders` is the key range of `lineitem.l_orderkey`. */
  final case class Size(customers: Long, orders: Long, lineitems: Long,
      events: Long, users: Long, documents: Long, embeddings: Long)

  private def u(id: Column, seed: Long, salt: String): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1e6

  private def pick(id: Column, seed: Long, salt: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*),
      (pmod(xxhash64(id, lit(seed), lit(salt)), lit(xs.size.toLong)) + 1).cast("int"))

  /** A timestamp at midnight, `days` days after 1995-01-01. */
  private def day(days: Column): Column =
    date_add(lit("1995-01-01").cast("date"), days.cast("int")).cast("timestamp")

  def customer(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(xxhash64(id, lit(seed), lit("nat")), lit(25L)).cast("int").as("c_nationkey"),
      round(u(id, seed, "bal") * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(id, seed, "seg",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
  }

  def lineitem(spark: SparkSession, n: Long, orders: Long, seed: Long): DataFrame = {
    val id = col("id")
    val qty = (floor(u(id, seed, "qty") * 50) + 1).cast("double")
    spark.range(n).select(
      pmod(xxhash64(id, lit(seed), lit("ord")), lit(orders)).as("l_orderkey"),
      pmod(xxhash64(id, lit(seed), lit("part")), lit(20000L)).as("l_partkey"),
      pmod(xxhash64(id, lit(seed), lit("supp")), lit(1000L)).as("l_suppkey"),
      (pmod(id, lit(7L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (u(id, seed, "ppu") * 2000 + 900), 2).as("l_extendedprice"),
      (floor(u(id, seed, "disc") * 11) / 100).as("l_discount"),
      (floor(u(id, seed, "tax") * 9) / 100).as("l_tax"),
      pick(id, seed, "rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, seed, "ls", Seq("F", "O")).as("l_linestatus"),
      day(u(id, seed, "ship") * 2500).as("l_shipdate"))
  }

  /** Events spread over 2024-01-01 .. 2024-01-30 in id order, with
    * microsecond jitter; `props` carries a JSON key `k` in [0, 100). */
  def events(spark: SparkSession, n: Long, users: Long, seed: Long): DataFrame = {
    val id = col("id")
    val span = 30L * 86400L * 1000000L
    spark.range(n).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (id * lit(span / math.max(1L, n))) +
        (u(id, seed, "jit") * (span / math.max(1L, n))).cast("long")).as("ts"),
      pmod(xxhash64(id, lit(seed), lit("user")), lit(users)).as("user_id"),
      pick(id, seed, "type", Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(u(id, seed, "val") * 200, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(id, lit(seed), lit("k")), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  /** English function words for the most frequent DataGen stems. */
  private val stopwords = Seq("the", "of", "and", "to", "a", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "this", "be", "or", "from")

  /** DataGen's corpus with its 20 most frequent stems (`w0` .. `w19`)
    * spelled as English function words. DataGen's stems carry no
    * stopwords, so the engine's quality gate would keep only the ~10%
    * of documents with the planted boilerplate paragraph; with this
    * spelling ~10% of tokens are stopwords and most documents reach the
    * stages after the gate. The map is one word to one word, so the
    * planted exact duplicates stay identical and each near duplicate
    * still differs from its source in one word (`nd<doc_id>`). */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val words = map(stopwords.zipWithIndex.flatMap { case (w, i) =>
      Seq(lit(s"w$i"), lit(w)) }: _*)
    DataGen.documents(spark, n, seed)
      .withColumn("text", concat_ws("\n\n", transform(split(col("text"), "\n\n"), p =>
        array_join(transform(split(p, " "), w => coalesce(element_at(words, w), w)), " "))))
      .withColumn("n_chars", length(col("text")))
  }

  /** Write the tables named in `tables` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, sz: Size,
      tables: Seq[String]): Unit = tables.foreach { t =>
    val df = t match {
      case "customer"   => customer(spark, sz.customers, seed)
      case "lineitem"   => lineitem(spark, sz.lineitems, sz.orders, seed)
      case "events"     => events(spark, sz.events, sz.users, seed)
      case "documents"  => documents(spark, sz.documents, seed)
      case "embeddings" => DataGen.embeddings(spark, sz.embeddings, 64, seed)
    }
    df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
  }

  /** The banking OLTP tables (customers, accounts, transactions) as the
    * engine's generator makes them, at `nCustomers` customers,
    * 1.5 accounts per customer and `nTx` transactions. */
  def oltp(spark: SparkSession, nCustomers: Long, nTx: Long,
      seed: Long): Seq[(String, DataFrame)] = {
    val nAccounts = nCustomers * 3 / 2
    Seq("customers" -> DataGen.customers(spark, nCustomers, seed),
      "accounts" -> DataGen.accounts(spark, nCustomers, nAccounts, seed),
      "transactions" -> DataGen.transactions(spark, nAccounts, nTx, seed))
  }
}
