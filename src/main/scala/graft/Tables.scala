package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Table registry over the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Mirrors the reference's catalog surface (Flink `CREATE TABLE ... WITH
  * ('connector'='filesystem','format'='parquet')`, see reference
  * flink-table/flink-table-runtime-blink/.../filesystem/FileSystemTableFactory.java)
  * re-expressed as plain Spark readers + temp views: Catalyst then owns
  * pushdown/pruning, so scans only read the columns/filters a query needs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is INT64 TIMESTAMP(MICROS) without TZ, which Spark reads as
    // TIMESTAMP_NTZ; relabel to the session-TZ TimestampType the query
    // corpus expects (EngineSession pins the session TZ to UTC for every
    // main and spec, so NTZ→TZ is a value-preserving relabel)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Register every fixture table as a temp view named after the table.
    * Called by every SQL-text query; resolved once per session ([[bind]]). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    bind(spark, "tables", dir, names.map(n => n -> n), Nil)

  /** One registration's bindings: the loaded fixture frames, the conf they
    * were bound under, and the relation each view name got. */
  private final class Bound(val conf: Map[String, String], val frames: Seq[(String, DataFrame)]) {
    var relations: Map[String, AnyRef] = Map.empty
  }

  // held frames reference their session, so weak keys (FlinkFunctions)
  // would never release an entry — a stopped context's entries are dropped
  // on the next call instead
  private val bound = scala.collection.mutable.HashMap[(SparkSession, String, String), Bound]()

  /** Bind temp views on `spark` once per (session, `kind`, `dir`): `tables`
    * (view name → fixture table, read by [[load]]), then `views` (view
    * name → SQL text, in order). A later call does nothing while the SQL
    * conf is unchanged and every name still maps to the relation bound
    * here. Names another registration replaced (the hosted TPC-DS
    * `customer` over the base `customer`) are rebound from the held frames
    * and texts; a changed conf rebinds everything from the files, since
    * SQL-text views and parquet schema resolution capture the conf in
    * force. Metadata reuse only — file listings, footer schemas, view
    * definitions: every query still scans the files. */
  private[graft] def bind(spark: SparkSession, kind: String, dir: String,
                          tables: Seq[(String, String)], views: Seq[(String, String)]): Unit = synchronized {
    bound.keys.filter(_._1.sparkContext.isStopped).toList.foreach(bound.remove)
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    val conf = spark.conf.getAll
    val b = bound.get((spark, kind, dir)).filter(_.conf == conf).getOrElse {
      val fresh = new Bound(conf, tables.map { case (v, t) => v -> load(spark, dir, t) })
      bound((spark, kind, dir)) = fresh
      fresh
    }
    def stale(n: String) = !catalog.getRawTempView(n).exists(r => b.relations.get(n).exists(_ eq r))
    val rebound = b.frames.collect { case (n, df) if stale(n) => df.createOrReplaceTempView(n); n } ++
      views.collect { case (n, sql) if stale(n) => spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $n AS $sql"); n }
    b.relations ++= rebound.map(n => n -> catalog.getRawTempView(n).get)
  }
}
