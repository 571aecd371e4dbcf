package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** REAL JDBC round-trip for the `Tables.jdbc` facade — previously
  * compile-checked only ("no driver jar in the sandbox"). Probing the
  * environment (r6) found Spark SHIPS embedded Derby in
  * /opt/spark/jars (bundled for the Hive metastore), which is a full
  * JDBC database: the facade is exercised against it end to end —
  * write over JDBC, partitioned parallel read back, filter pushdown
  * into the remote query. On a cluster against Postgres only the URL
  * and driver class change (the reference's transport,
  * psql_connector.py:112-134). */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  // keep Derby's log out of the repo cwd
  System.setProperty("derby.stream.error.file",
    tmp("derbylog") + "/derby.log")

  private def derbyUrl(name: String): String = {
    val dir = tmp("derby")
    s"jdbc:derby:$dir/$name;create=true"
  }

  test("Tables.jdbc reads an embedded Derby table: rows, partitioned scan, pushdown") {
    val url = derbyUrl("graftdb")
    // seed the database over plain JDBC — the "remote" side
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE accounts (id BIGINT NOT NULL, balance DOUBLE, status VARCHAR(16))")
      val ps = conn.prepareStatement("INSERT INTO accounts VALUES (?, ?, ?)")
      (0 until 100).foreach { i =>
        ps.setLong(1, i.toLong); ps.setDouble(2, i * 1.5)
        ps.setString(3, if (i % 3 == 0) "closed" else "open")
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()

    val df = Tables.jdbc(spark, url, "accounts",
      partitionColumn = Some("id"), bounds = Some((0L, 99L)), numPartitions = 4)
    assert(df.count() == 100)
    // the partitioned range read really splits into parallel queries
    assert(df.rdd.getNumPartitions == 4)
    // filters push into the remote SQL (JDBCRelation PushedFilters)
    val filtered = df.filter(col("status") === "open").select("id", "balance")
    assert(filtered.count() == 66)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(STATUS,open)"), plan.take(800))
  }

  test("Spark writes a frame over JDBC and Tables.jdbc reads it back identically") {
    val url = derbyUrl("graftrt")
    // force database creation first (Spark's JDBC writer can create
    // tables but the Derby db itself is created on first connection)
    java.sql.DriverManager.getConnection(url).close()
    val out = (1L to 50L).map(i => (i, s"name_$i", i * 2.0)).toDF("id", "label", "score")
    out.write.format("jdbc")
      .option("url", url).option("dbtable", "roundtrip").save()
    val back = Tables.jdbc(spark, url, "roundtrip")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(back == (1L to 50L).map(i => (i, s"name_$i", i * 2.0)))
  }
}
