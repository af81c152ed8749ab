package graft

import graft.coverage.{TpcdsVerbatimQueries, TpchVerbatimQueries}
import org.apache.spark.sql.{Row, SparkSession}

/** The session-scoped fixture catalog (`Tables.bind`): a registration is
  * resolved once per (session, kind, dir), revalidated on every call by
  * name identity plus a SQL conf snapshot, and rebinds only what another
  * registration replaced. It reuses metadata, never data. */
class CatalogSessionSpec extends SparkTestBase {

  private def rel(s: SparkSession, name: String): AnyRef =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getRawTempView(name).get

  private def relations(s: SparkSession): Map[String, AnyRef] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempViewNames.map(n => n -> rel(s, n)).toMap

  private def rows(s: SparkSession, q: String): Seq[String] =
    Queries.all(q).run(s, sfDir).collect().map(_.toString).toSeq.sorted

  test("a repeat call binds the same relation objects") {
    val s = spark.newSession()
    Seq[(String, SparkSession => Unit)](
      "registerAll" -> (Tables.registerAll(_, sfDir)),
      "TPC-DS register" -> (TpcdsVerbatimQueries.register(_, sfDir)),
      "TPC-H register" -> (TpchVerbatimQueries.register(_, sfDir))).foreach { case (what, register) =>
      register(s)
      val before = relations(s)
      register(s)
      val after = relations(s)
      assert(after.keySet == before.keySet)
      before.foreach { case (n, r) => assert(after(n) eq r, s"a repeat $what rebound $n") }
    }
  }

  test("colliding names are rebound: registerAll then a TPC-DS verbatim query still answers correctly") {
    val clean = rows(spark.newSession(), "q_tpcds_v84")
    assert(clean.nonEmpty)
    val s = spark.newSession()
    TpcdsVerbatimQueries.register(s, sfDir)
    Tables.registerAll(s, sfDir) // `customer` is now the base table
    assert(s.table("customer").columns.contains("c_custkey"))
    assert(rows(s, "q_tpcds_v84") == clean)
    // and back: the base `customer` returns for a registerAll query
    Tables.registerAll(s, sfDir)
    assert(s.table("customer").columns.contains("c_custkey"))
    assert(s.sql("SELECT count(*) FROM customer").collect()(0) ==
      Row(Tables.load(s, sfDir, "customer").count()))
  }

  test("a different dir, a changed SQL conf and a fresh session each rebind") {
    val s = spark.newSession()
    Tables.registerAll(s, sfDir)
    val first = rel(s, "orders")

    val fresh = spark.newSession()
    Tables.registerAll(fresh, sfDir)
    assert(!(rel(fresh, "orders") eq first), "a fresh session must bind its own relations")

    s.conf.set("spark.sql.shuffle.partitions", "3")
    Tables.registerAll(s, sfDir)
    val afterConf = rel(s, "orders")
    assert(!(afterConf eq first), "a changed SQL conf must rebind")
    Tables.registerAll(s, sfDir)
    assert(rel(s, "orders") eq afterConf)

    val other = new java.io.File(sfDir).getParent + "/sf0.01"
    assume(new java.io.File(s"$other/orders.parquet").exists, s"$other absent")
    Tables.registerAll(s, other)
    assert(!(rel(s, "orders") eq afterConf), "a different dir must rebind")
    assert(s.table("orders").count() == Tables.load(s, other, "orders").count())
    Tables.registerAll(s, sfDir)
    assert(s.table("orders").count() == Tables.load(s, sfDir, "orders").count())
  }

  test("verbatim TPC-DS queries still scan parquet and read no cache") {
    Seq("q_tpcds_v37", "q_tpcds_v44", "q_tpcds_v64").foreach { q =>
      val df = Queries.all(q).run(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet"), s"$q: no parquet FileScan\n$plan")
      assert(!plan.contains("InMemoryTableScan"), s"$q: reads a cache\n$plan")
    }
  }

  test("an EngineEnv filesystem table leaves the session conf, so registerAll does not rebind") {
    val s = spark.newSession()
    Tables.registerAll(s, sfDir)
    val orders = rel(s, "orders")
    val before = s.conf.getAll
    val e = new graft.sql.EngineEnv(s)
    e.executeSql(s"""CREATE TABLE conf_t WITH ('connector'='filesystem',
      'path'='$sfDir/region.parquet', 'format'='parquet')""")
    assert(e.sqlQuery("SELECT COUNT(*) AS n FROM conf_t").head().getLong(0) == 5)
    assert(s.conf.getAll == before)
    Tables.registerAll(s, sfDir)
    assert(rel(s, "orders") eq orders, "a conf change made registerAll reload the fixtures")
  }
}
