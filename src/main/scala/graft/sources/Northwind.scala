package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Northwind retail fixture: one-time conversion of the reference's
  * PostgreSQL dump (`OLTP_simulator/northwind.sql` — DDL at :43-250,
  * declared FK graph at :3809-3906, 3,362 INSERT rows) into parquet
  * tables, plus loaders for querying them.
  *
  * The conversion intentionally runs on the driver: it is a fixture
  * build over a 3,362-row SQL dump, not a data path. At scale the
  * equivalent source is a JDBC read (see [[Tables.jdbc]]) or a
  * distributed dump splitter; every *query* over the converted tables
  * is a normal distributed parquet scan.
  *
  * Schemas are transcribed from the dump's DDL (public Northwind
  * schema): `smallint`→Short, `real`→Float, `date`→Date,
  * `bytea`→Binary, varchar/text→String.
  */
object Northwind {

  val defaultDump = "/root/reference/OLTP_simulator/northwind.sql"
  /** The converted tables: `$GRAFT_NORTHWIND_DIR`, else the checkout's
    * `fixtures/northwind` resolved against the working directory (the
    * checkout root for sbt's forked tests and runs). Always absolute —
    * the DuckDB oracle SQL embeds it. */
  def fixtureDir: String =
    sys.env.getOrElse("GRAFT_NORTHWIND_DIR",
      Paths.get("fixtures/northwind").toAbsolutePath.toString)

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** All 14 tables of the dump (northwind.sql:43-250). */
  val schemas: Map[String, StructType] = Map(
    "categories" -> st("category_id" -> ShortType, "category_name" -> StringType,
      "description" -> StringType, "picture" -> BinaryType),
    "customer_customer_demo" -> st("customer_id" -> StringType,
      "customer_type_id" -> StringType),
    "customer_demographics" -> st("customer_type_id" -> StringType,
      "customer_desc" -> StringType),
    "customers" -> st("customer_id" -> StringType, "company_name" -> StringType,
      "contact_name" -> StringType, "contact_title" -> StringType,
      "address" -> StringType, "city" -> StringType, "region" -> StringType,
      "postal_code" -> StringType, "country" -> StringType,
      "phone" -> StringType, "fax" -> StringType),
    "employees" -> st("employee_id" -> ShortType, "last_name" -> StringType,
      "first_name" -> StringType, "title" -> StringType,
      "title_of_courtesy" -> StringType, "birth_date" -> DateType,
      "hire_date" -> DateType, "address" -> StringType, "city" -> StringType,
      "region" -> StringType, "postal_code" -> StringType,
      "country" -> StringType, "home_phone" -> StringType,
      "extension" -> StringType, "photo" -> BinaryType, "notes" -> StringType,
      "reports_to" -> ShortType, "photo_path" -> StringType),
    "employee_territories" -> st("employee_id" -> ShortType,
      "territory_id" -> StringType),
    "order_details" -> st("order_id" -> ShortType, "product_id" -> ShortType,
      "unit_price" -> FloatType, "quantity" -> ShortType,
      "discount" -> FloatType),
    "orders" -> st("order_id" -> ShortType, "customer_id" -> StringType,
      "employee_id" -> ShortType, "order_date" -> DateType,
      "required_date" -> DateType, "shipped_date" -> DateType,
      "ship_via" -> ShortType, "freight" -> FloatType,
      "ship_name" -> StringType, "ship_address" -> StringType,
      "ship_city" -> StringType, "ship_region" -> StringType,
      "ship_postal_code" -> StringType, "ship_country" -> StringType),
    "products" -> st("product_id" -> ShortType, "product_name" -> StringType,
      "supplier_id" -> ShortType, "category_id" -> ShortType,
      "quantity_per_unit" -> StringType, "unit_price" -> FloatType,
      "units_in_stock" -> ShortType, "units_on_order" -> ShortType,
      "reorder_level" -> ShortType, "discontinued" -> IntegerType),
    "region" -> st("region_id" -> ShortType, "region_description" -> StringType),
    "shippers" -> st("shipper_id" -> ShortType, "company_name" -> StringType,
      "phone" -> StringType),
    "suppliers" -> st("supplier_id" -> ShortType, "company_name" -> StringType,
      "contact_name" -> StringType, "contact_title" -> StringType,
      "address" -> StringType, "city" -> StringType, "region" -> StringType,
      "postal_code" -> StringType, "country" -> StringType,
      "phone" -> StringType, "fax" -> StringType, "homepage" -> StringType),
    "territories" -> st("territory_id" -> StringType,
      "territory_description" -> StringType, "region_id" -> ShortType),
    "us_states" -> st("state_id" -> ShortType, "state_name" -> StringType,
      "state_abbr" -> StringType, "state_region" -> StringType))

  /** Split one `VALUES (...)` tuple body on top-level commas; single
    * quotes with `''` escapes delimit strings (the dump sets
    * standard_conforming_strings, so backslashes are literal data). */
  private[sources] def splitTuple(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQ && c == '\'' && i + 1 < body.length && body.charAt(i + 1) == '\'') {
        cur.append("''"); i += 1          // escaped quote, stay in-string
      } else if (c == '\'') { inQ = !inQ; cur.append(c) }
      else if (c == ',' && !inQ) { out += cur.toString.trim; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString.trim
    out.result()
  }

  private[sources] def parseValue(raw: String, dt: DataType): Any = {
    if (raw == "NULL") return null
    val s =
      if (raw.startsWith("'") && raw.endsWith("'"))
        raw.substring(1, raw.length - 1).replace("''", "'")
      else raw
    dt match {
      case StringType  => s
      case ShortType   => s.toShort
      case IntegerType => s.toInt
      case FloatType   => s.toFloat
      case DateType    => java.sql.Date.valueOf(s)
      case BinaryType  =>
        val hex = s.stripPrefix("\\x")
        hex.sliding(2, 2).map(b => Integer.parseInt(b, 16).toByte).toArray
      case other => sys.error(s"unhandled type $other")
    }
  }

  /** Parse the dump into one DataFrame per table (empty tables included). */
  def parseDump(spark: SparkSession, dumpPath: String = defaultDump): Map[String, DataFrame] = {
    val lines = Files.readAllLines(Paths.get(dumpPath)).asScala
    val rowsByTable = lines.iterator
      .filter(_.startsWith("INSERT INTO "))
      .map { line =>
        val rest = line.stripPrefix("INSERT INTO ")
        val table = rest.takeWhile(_ != ' ')
        val open = rest.indexOf('(')
        val close = rest.lastIndexOf(')')
        // One complete INSERT per line is assumed; a string literal with
        // an embedded newline would split the tuple across lines. Fail
        // with the table and line rather than an index error.
        require(open >= 0 && close > open,
          s"northwind dump: no complete (...) tuple on one line for table " +
            s"'$table' (multi-line INSERT values are unsupported): " +
            s"${line.take(100)}")
        val body = rest.substring(open + 1, close)
        table -> body
      }
      .toSeq.groupBy(_._1)
    schemas.map { case (table, schema) =>
      val rows = rowsByTable.getOrElse(table, Seq.empty).map { case (_, body) =>
        val vals = splitTuple(body)
        require(vals.length == schema.length,
          s"$table: ${vals.length} values vs ${schema.length} columns in: $body")
        Row.fromSeq(vals.zip(schema.fields).map { case (v, f) => parseValue(v, f.dataType) })
      }
      table -> spark.createDataFrame(rows.asJava, schema)
    }
  }

  /** Write every table to `<outDir>/<table>.parquet` (skips if present —
    * the fixture is deterministic). */
  def materialize(spark: SparkSession, dumpPath: String = defaultDump,
      outDir: String = fixtureDir): Unit = {
    if (schemas.keys.forall(t => Files.exists(Paths.get(s"$outDir/$t.parquet")))) return
    parseDump(spark, dumpPath).foreach { case (table, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
  }

  /** Load one Northwind table, materializing the fixture on first use. */
  def table(spark: SparkSession, name: String): DataFrame = {
    materialize(spark)
    spark.read.parquet(s"$fixtureDir/$name.parquet")
  }
}
