package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.Northwind

/** Fixture-conversion fidelity for the Northwind dump (S12): row counts
  * per table, typed values, escaped-quote and NULL handling.
  *
  * The three parse tests read the reference dump at
  * `Northwind.defaultDump`; where that file is absent they are canceled,
  * not passed. The reload test reads only the committed fixture under
  * `fixtures/northwind/` and never needs the dump. */
class NorthwindSpec extends SparkSpec {
  import spark.implicits._

  lazy val tables = Northwind.parseDump(spark)

  private def assumeDump(): Unit =
    assume(Files.exists(Paths.get(Northwind.defaultDump)),
      s"reference dump ${Northwind.defaultDump} is absent")

  test("every table parses with its dump row count") {
    assumeDump()
    val expected = Map(
      "categories" -> 8, "customers" -> 91, "employees" -> 9,
      "employee_territories" -> 49, "order_details" -> 2155,
      "orders" -> 830, "products" -> 77, "region" -> 4, "shippers" -> 6,
      "suppliers" -> 29, "territories" -> 53, "us_states" -> 51,
      "customer_customer_demo" -> 0, "customer_demographics" -> 0)
    expected.foreach { case (t, n) =>
      assert(tables(t).count() == n, s"table $t")
    }
  }

  test("string escapes and NULLs survive the parse") {
    assumeDump()
    // 'VINET' order ships to '59 rue de l''Abbaye' with NULL ship_region
    val r = tables("orders").filter(col("order_id") === 10248)
      .select("ship_address", "ship_region", "customer_id")
      .head()
    assert(r.getString(0) == "59 rue de l'Abbaye")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "VINET")
  }

  test("numeric and date columns are typed") {
    assumeDump()
    val od = tables("order_details")
      .filter(col("order_id") === 10248 && col("product_id") === 11)
      .select("unit_price", "quantity").head()
    assert(od.getFloat(0) == 14f && od.getShort(1) == 12)
    val hire = tables("employees").filter(col("employee_id") === 1)
      .select("hire_date").as[java.sql.Date].head()
    assert(hire.toString == "1992-05-01")
  }

  test("fixture materializes once and reloads identically") {
    val loaded = Northwind.table(spark, "order_details")
    assert(loaded.count() == 2155)
    // parseDump builds every table with exactly Northwind.schemas(table)
    assert(loaded.schema == Northwind.schemas("order_details"))
  }
}
