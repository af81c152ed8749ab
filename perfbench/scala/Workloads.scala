package perfbench

import scala.util.Random

import graft.{Queries, Tables}
import graft.streaming.{ChangelogAgg, StreamOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** One timed operation. `run` returns the frame whose full result the
  * harness times through the noop sink. */
final case class Op(name: String, run: SparkSession => DataFrame)

trait Workload {
  def name: String
  /** The operations of one pass, in a fixed order; passes shuffle them. */
  def ops: IndexedSeq[Op]
  /** Nominal length of one pass on 4 cores; `--seconds` / this = passes. */
  def passSeconds: Double
  /** One round of session set-up (fixture listing, stream staging). */
  def prepare(s: SparkSession): Unit
  /** `None` when `result` is the correct output of `op`, else the reason. */
  def check(op: Op, result: DataFrame): Option[String]
  /** True when an op's result is materialised (streaming ops fill the
    * memory sink), so the timed result itself is checked and no untimed
    * check pass runs. */
  def checksTimedResult: Boolean = false
  /** Remove what the workload left outside the benchmark's own directory. */
  def cleanup(): Unit = ()
}

/** A fixed list of coverage queries, each checked against its stored row
  * count and digest. */
final class QueryWorkload(val name: String, queries: Seq[String], val passSeconds: Double, data: String,
                          expected: Map[String, Digest.Value]) extends Workload {
  val ops: IndexedSeq[Op] = queries.toIndexedSeq.map { q =>
    val query = Queries.all.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))
    Op(q, s => query.run(s, data))
  }

  def prepare(s: SparkSession): Unit = Tables.registerAll(s, data)

  def check(op: Op, result: DataFrame): Option[String] = {
    val got = Digest.of(result)
    expected.get(op.name) match {
      case Some(want) if want == got => None
      case Some(want)                => Some(s"digest $got, expected $want")
      case None                      => Some(s"no expected digest (got $got)")
    }
  }
}

/** `stream_sustained`: `events` staged as event-time-ordered slices and
  * replayed one file per trigger through four stateful operators. Each
  * result is checked against a batch recomputation of the same operator
  * over the same slices. */
final class SustainedWorkload(seed: Long, data: String, slices: Int) extends Workload {
  import SustainedWorkload._

  val name = "stream_sustained"
  val passSeconds = 8.0
  override val checksTimedResult = true
  private val stageId = s"perfbench_sustained_${ProcessHandle.current().pid()}"
  private var srcDir: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var expected: Map[String, Seq[Row]] = Map.empty
  private var events: Array[Event] = _
  private var cuts: Array[Long] = _

  val ops: IndexedSeq[Op] = {
    def source(s: SparkSession) =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(srcDir)
    IndexedSeq(
      Op("running_agg_per_user", s =>
        StreamOps.runToMemory(s, StreamOps.runningAggPerUser(s, source(s)), OutputMode.Update())),
      Op("top3_per_type", s =>
        StreamOps.runToMemory(s, StreamOps.topNPerType(s, source(s), 3), OutputMode.Update())),
      Op("changelog_count_per_user", s =>
        StreamOps.runToMemory(s, ChangelogAgg.countChangelog(s, source(s), "user_id"), OutputMode.Update())),
      Op("hourly_window_per_type", s =>
        StreamOps.runToMemory(s, hourlyWindow(source(s)), OutputMode.Append())))
  }

  def prepare(s: SparkSession): Unit = srcDir = stage(s)

  /** Stage the slices, one parquet file each. The first call also
    * collects `events` and cuts it by the seed. */
  private def stage(s: SparkSession): String = {
    val ev = Tables.load(s, data, "events").withColumn("ts_us", expr("unix_micros(ts)")).cache()
    try {
      if (events == null) {
        events = ev.select("event_id", "ts_us", "user_id", "event_type", "value").collect()
          .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
          .sortBy(_.tsUs)
        cuts = cutPoints(events.map(_.tsUs), slices, seed)
      }
      val bounds = (Long.MinValue +: cuts) zip (cuts :+ Long.MaxValue)
      val parts = bounds.toSeq.map { case (lo, hi) =>
        ev.filter(col("ts_us") >= lo && col("ts_us") < hi).drop("ts_us")
      }
      schema = parts.head.schema
      StreamOps.stageBatches(s, stageId, parts)
    } finally ev.unpersist()
  }

  def check(op: Op, result: DataFrame): Option[String] = {
    if (expected.isEmpty) expected = reference()
    val got = result.collect().map(_.toString).sorted
    val want = expected(op.name).map(_.toString).sorted
    if (got.sameElements(want)) None
    else Some(s"${got.length} rows, batch recomputation ${want.length}; ${got.diff(want).length} differ")
  }

  /** The four operators recomputed in batch over the collected events. */
  private def reference(): Map[String, Seq[Row]] = {
    val slice = events.map(e => java.util.Arrays.binarySearch(cuts, e.tsUs) match {
      case i if i >= 0 => i + 1
      case i           => -i - 1
    })
    val bySlice = events.indices.groupBy(slice(_)).toSeq.sortBy(_._1).map(_._2.map(events(_)))

    val running = events.groupBy(_.userId).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e.tsUs, e.eventId)).scanLeft((0L, 0L, 0L)) { case ((_, sum, n), e) =>
        (e.eventId, sum + e.cents, n + 1)
      }.tail.map { case (id, sum, n) => Row(u, id, sum, n) }
    }

    val top = scala.collection.mutable.Map[String, List[(Long, Long)]]()
    val topRows = bySlice.flatMap { es =>
      es.groupBy(_.eventType).toSeq.flatMap { case (t, tes) =>
        val merged = (top.getOrElse(t, Nil) ++ tes.map(e => (e.cents, e.eventId)))
          .sortBy { case (v, id) => (-v, id) }.take(3)
        top(t) = merged
        merged.zipWithIndex.map { case ((v, id), i) => Row(t, i + 1, id, v) }
      }
    }

    val counts = scala.collection.mutable.Map[String, Long]()
    val changelog = bySlice.flatMap { es =>
      es.groupBy(_.userId.toString).toSeq.flatMap { case (k, kes) =>
        val d = kes.size.toLong
        counts.get(k) match {
          case None       => counts(k) = d; Seq(Row("+I", k, d))
          case Some(prev) => counts(k) = prev + d; Seq(Row("-U", k, prev), Row("+U", k, prev + d))
        }
      }
    }

    // Append mode emits a window once the final watermark (max event time
    // in ms minus the delay) reaches its end
    val watermarkUs = (events.last.tsUs / 1000 - WindowDelayMs) * 1000
    val windows = events.groupBy(e => (Math.floorDiv(e.tsUs, HourUs), e.eventType)).toSeq.collect {
      case ((h, t), es) if (h + 1) * HourUs <= watermarkUs =>
        Row(new java.sql.Timestamp(h * HourUs / 1000), new java.sql.Timestamp((h + 1) * HourUs / 1000),
          t, es.size.toLong, es.map(_.cents).sum)
    }

    Map("running_agg_per_user" -> running, "top3_per_type" -> topRows,
      "changelog_count_per_user" -> changelog, "hourly_window_per_type" -> windows)
  }

  override def cleanup(): Unit = StreamOps.wipeDir(s"${StreamOps.scratchRoot}/batches/$stageId")
}

object SustainedWorkload {
  final case class Event(eventId: Long, tsUs: Long, userId: Long, eventType: String, value: Double) {
    def cents: Long = math.floor(value * 100.0).toLong
  }

  private val HourUs = 3600L * 1000 * 1000
  private val WindowDelayMs = 3600L * 1000

  def hourlyWindow(src: DataFrame): DataFrame =
    src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100.0).cast("long")).as("v_cents"))
      .select(col("window.start").as("ws"), col("window.end").as("we"), col("event_type"), col("n"), col("v_cents"))

  /** `slices - 1` strictly increasing cut timestamps: even row-count cuts,
    * each moved by the seed up to a quarter of a slice. A slice holds the
    * rows with cut(i-1) <= ts < cut(i), so slices are event-time ordered. */
  def cutPoints(sortedTs: Array[Long], slices: Int, seed: Long): Array[Long] = {
    val rng = new Random(seed)
    val width = sortedTs.length.toDouble / slices
    (1 until slices).map { k =>
      val pos = (k * width + (rng.nextDouble() - 0.5) * width / 2).toInt
      sortedTs(math.min(math.max(pos, 1), sortedTs.length - 1))
    }.distinct.sorted.toArray
  }
}

object Workloads {
  val names: Seq[String] = Seq("tpcds_sql", "df_operators", "stream_jobs", "stream_sustained")

  /** The queries of each query workload and the nominal length of a pass
    * over them: the names at evenly spaced ranks of the family's latency
    * order at the seed commit (a row-returning query nearest each rank), so
    * one pass spans the family's cost range and fits a run. `family` lists
    * the whole family. */
  val subsets: Map[String, (Seq[String], Double)] = Map(
    "tpcds_sql" -> (Seq("q_tpcds_v37", "q_tpcds_v44", "q_tpcds_v64"), 8.0),
    "df_operators" -> (Seq("q_pipe_redact", "q_pipe_funnel", "q_pipe_fingerprint", "q_pipe_simhash_k3",
      "q_graph_community_part"), 10.0),
    "stream_jobs" -> (Seq("q_stream_time_evictor", "q_stream_over_proc_rows", "q_stream_cep_timeout",
      "q_stream_session", "q_stream_tws_process"), 12.0))

  def family(workload: String): Seq[String] = {
    val prefixes = workload match {
      case "tpcds_sql"    => Seq("q_tpcds_v")
      case "df_operators" => Seq("q_graph_", "q_pipe_")
      case "stream_jobs"  => Seq("q_stream_")
      case other          => throw new IllegalArgumentException(s"no query family for $other")
    }
    Queries.all.keys.filter(k => prefixes.exists(k.startsWith)).toSeq.sorted
  }

  def apply(name: String, seed: Long, data: String, expected: Map[String, Digest.Value]): Workload =
    name match {
      case "stream_sustained" => new SustainedWorkload(seed, data, SustainedSlices)
      case "tpcds_sql" | "df_operators" | "stream_jobs" =>
        new QueryWorkload(name, subsets(name)._1, subsets(name)._2, data, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${names.mkString(", ")}")
    }

  val SustainedSlices = 6
}
