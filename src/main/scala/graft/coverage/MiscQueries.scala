package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.datastream.DataStreamEnv
import graft.streaming.{ChangelogAgg, StreamOps}
import graft.streaming.StreamOps.san
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Changelog semantics, source/sink round-trips, JSON access, the second
  * scalar-function batch and the typed DataStream facade (SURVEY.md §1.1
  * RowKind, §2.1 sources/sinks/formats, §2.11, §1.1 DataStream). */
object MiscQueries {

  /** Changelog (+I/-U/+U) count aggregation over a 2-micro-batch stream —
    * ref RowKind.java:25 + GroupAggFunction.java:43 via
    * [[ChangelogAgg.countChangelog]]. The stream is the events table split
    * by event_id parity into two files, replayed one file per micro-batch
    * (maxFilesPerTrigger=1, mtime-ordered) so the retraction sequence is
    * deterministic and SQL-expressible. */
  val qChangelogAgg: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events").select(col("event_id"), col("event_type"))
      val stream = StreamOps.replay(s, "changelog", dir, Seq(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1)))
      StreamOps.runToMemory(s, ChangelogAgg.countChangelog(s, stream, "event_type"), OutputMode.Update())
        .orderBy(col("key"), col("row_kind"))
    },
    oracle = Some("""
      WITH b1 AS (SELECT event_type, COUNT(*) AS c1 FROM events WHERE event_id % 2 = 0 GROUP BY 1),
           b2 AS (SELECT event_type, COUNT(*) AS c2 FROM events WHERE event_id % 2 = 1 GROUP BY 1)
      SELECT row_kind, key, cnt FROM (
        SELECT '+I' AS row_kind, event_type AS key, c1 AS cnt FROM b1
        UNION ALL SELECT '-U', b1.event_type, c1 FROM b1
          JOIN b2 ON b1.event_type IS NOT DISTINCT FROM b2.event_type
        UNION ALL SELECT '+U', b1.event_type, c1 + c2 FROM b1
          JOIN b2 ON b1.event_type IS NOT DISTINCT FROM b2.event_type
        UNION ALL SELECT '+I', b2.event_type, c2 FROM b2 WHERE NOT EXISTS (
          SELECT 1 FROM b1 WHERE b1.event_type IS NOT DISTINCT FROM b2.event_type))
      ORDER BY key, row_kind"""))

  /** Partitioned filesystem sink + partition-pruned re-read — ref
    * FileSystemTableSink.java / PartitionLoader.java (`k=v/` dir layout).
    * `partitionBy` writes the same layout; the filter on the partition
    * column prunes directories at read (PruneFileSourcePartitions). */
  val qSinkPartitioned: Q = Q(
    run = (s, dir) => {
      val out = s"/tmp/graft_sink/${san(dir)}/orders_by_status"
      Tables.load(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("price_cents"))
        .orderBy(col("o_orderpriority"))
    },
    oracle = Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n, SUM(${oCents("o_totalprice")})::BIGINT AS price_cents
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** CSV format round-trip (write with header, re-read, aggregate) — ref
    * flink-formats/flink-csv. Integer-cents payload so text round-trip is
    * exact. */
  val qSinkRoundtripCsv: Q = Q(
    run = (s, dir) => {
      val out = s"/tmp/graft_sink/${san(dir)}/part_csv"
      Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"), cents(col("p_retailprice")).as("price_cents"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).cast("long").as("sum_cents"),
             max(col("p_size")).as("max_size"))
        .orderBy(col("p_brand"))
    },
    oracle = Some(s"""
      SELECT p_brand, COUNT(*) AS n, SUM(${oCents("p_retailprice")})::BIGINT AS sum_cents,
             max(p_size) AS max_size
      FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** JSON field access over the events.props payload column — ref
    * flink-formats/flink-json + JSON_VALUE in FlinkSqlOperatorTable. */
  val qScalarJson: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"))
        .orderBy(col("k_bucket")),
    oracle = Some("""
      SELECT CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INT) / 10.0) AS INT) AS k_bucket,
             COUNT(*) AS n, SUM(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT AS sum_k
      FROM events GROUP BY 1 ORDER BY k_bucket"""))

  /** Second scalar batch: INITCAP/OVERLAY/LOCATE/PARSE_URL/STR_TO_MAP/
    * ENCODE-DECODE/GREATEST/LEAST/IFNULL — all Spark-native; the oracle
    * emulates the few DuckDB lacks. */
  val qFlinkFns2: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "part").select(
        col("p_partkey"),
        initcap(col("p_type")).as("ic"),
        overlay(col("p_name"), lit("XX"), lit(3), lit(2)).as("ov"),
        locate("a", col("p_name")).as("loc"),
        // '#' in brand names would start a URL fragment — strip for a valid URL
        parse_url(concat(lit("http://example.com/"), translate(col("p_brand"), "#", "_"), lit("?q="), col("p_size")), lit("HOST")).as("host"),
        parse_url(concat(lit("http://example.com/"), translate(col("p_brand"), "#", "_"), lit("?q="), col("p_size")), lit("QUERY"), lit("q")).as("qparam"),
        element_at(str_to_map(concat(lit("size:"), col("p_size"), lit(",key:"), col("p_partkey")), lit(","), lit(":")), "size").as("m_size"),
        decode(encode(col("p_brand"), "utf-8"), "utf-8").as("rt"),
        greatest(col("p_size"), col("p_partkey") % 50, lit(10)).as("g"),
        least(col("p_size"), col("p_partkey") % 50, lit(10)).as("l"))
        .orderBy(col("p_partkey")),
    oracle = Some("""
      SELECT p_partkey,
             array_to_string(list_transform(string_split(lower(p_type), ' '),
               w -> upper(w[1]) || w[2:]), ' ') AS ic,
             substr(p_name, 1, 2) || 'XX' || substr(p_name, 5) AS ov,
             strpos(p_name, 'a') AS loc,
             'example.com' AS host,
             CAST(p_size AS VARCHAR) AS qparam,
             CAST(p_size AS VARCHAR) AS m_size,
             p_brand AS rt,
             greatest(p_size, p_partkey % 50, 10) AS g,
             least(p_size, p_partkey % 50, 10) AS l
      FROM part ORDER BY p_partkey"""))

  /** Typed DataStream-facade word count (flatMap → keyBy → process) — ref
    * DataStream.java map/flatMap/keyBy + KeyedProcessFunction; the classic
    * reference example program ported 1:1. */
  val qDatastreamWordcount: Q = Q(
    run = (s, dir) => {
      val sess = s
      import sess.implicits._
      val env = new DataStreamEnv(s)
      env.fromDataset(Tables.load(s, dir, "documents").select(col("text")).as[String])
        // null text = no words (DuckDB's unnest(string_split(NULL)) emits
        // nothing; the typed path must not NPE on the same input)
        .flatMap(t => if (t == null) Seq.empty[String] else t.split(" ").toSeq)
        .keyBy(identity[String])
        .process((w: String, it: Iterator[String]) => Iterator((w, it.size.toLong)))
        .ds.toDF("word", "n")
        .orderBy(col("word"))
    },
    oracle = Some("""
      SELECT w AS word, COUNT(*) AS n
      FROM documents, unnest(string_split(text, ' ')) u(w)
      GROUP BY w ORDER BY word"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_changelog_agg" -> qChangelogAgg,
    "q_sink_partitioned" -> qSinkPartitioned,
    "q_sink_roundtrip_csv" -> qSinkRoundtripCsv,
    "q_scalar_json" -> qScalarJson,
    "q_flink_fns2" -> qFlinkFns2,
    "q_datastream_wordcount" -> qDatastreamWordcount,
  )
}
