package graft.streaming

import graft.operators.Cep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming execution harness + custom stateful operators
  * (SURVEY.md §7 M4/M5).
  *
  * The coverage queries run REAL streaming queries: `readStream` on the
  * fixture parquet, transform, `writeStream` into a memory sink with
  * `Trigger.AvailableNow`, then return the sink table. The fixture is a
  * single file → one micro-batch → deterministic output that the DuckDB
  * oracle can hash-match. Multi-batch incremental semantics (the part a
  * bounded oracle can't see) are asserted in StreamingSpec via MemoryStream.
  */
object StreamOps {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Scratch root for harness artifacts (staged batches, checkpoints,
    * symlink dirs). Every micro-batch writes a few small checkpoint files
    * (offset, commit and source logs, one state-store delta per shuffle
    * partition). Their measured cost was Hadoop's per-file `readlink` and
    * `chmod` subprocesses, which `withStreamingConf`'s checkpoint manager
    * removes, not the disk; tmpfs still keeps them off the disk, so prefer
    * /dev/shm when present (production would point this at fast local SSD
    * via spark.local.dir). */
  val scratchRoot: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft" else "/tmp/graft"

  /** A path (usually a fixture dir) as a file-name-safe token, so scratch
    * dirs, staged-batch ids and query names are per fixture. */
  def san(path: String): String = path.replaceAll("[^A-Za-z0-9]", "_")

  /** The file stream source wants a directory; the fixtures are single
    * files → expose a file through a per-file temp dir via symlink
    * (read-only fixtures stay untouched). Returns the path unchanged if it
    * already is a directory. */
  def fileAsDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) return path
    val linkDir = java.nio.file.Paths.get(
      s"$scratchRoot/stream/${san(path)}")
    java.nio.file.Files.createDirectories(linkDir)
    val link = linkDir.resolve(p.getFileName)
    if (!java.nio.file.Files.exists(link)) java.nio.file.Files.createSymbolicLink(link, p)
    linkDir.toString
  }

  /** Write `df` as the one parquet file `srcDir/name.parquet`, staged
    * through `base/stage_name`; the other files of `srcDir` stay, so a
    * restarted query's source can gain a batch. Returns the written file. */
  def stageBatch(base: String, srcDir: String, name: String, df: DataFrame): java.nio.file.Path = {
    val tmp = java.nio.file.Paths.get(base, s"stage_$name")
    // single-file: each staged batch must be exactly ONE part-file (the
    // file-stream trigger-batch contract); batches are bounded slices,
    // never an sf-scaled table
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = java.nio.file.Files.list(tmp)
    val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get finally ls.close()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(srcDir, s"$name.parquet"))
  }

  /** Stage DataFrames as single parquet files with ordered mtimes in a
    * fresh dir, so a file stream with maxFilesPerTrigger=1 replays them as
    * deterministic micro-batches (oldest first). Returns the source dir. */
  def stageBatches(s: SparkSession, id: String, batches: Seq[DataFrame]): String = {
    val base = s"$scratchRoot/batches/$id"
    wipe(base)
    val srcDir = s"$base/src"
    batches.zipWithIndex.foreach { case (df, i) =>
      stageBatch(base, srcDir, s"b$i", df).toFile.setLastModified(1000000L * (i + 1))
    }
    srcDir
  }

  /** Replay `batches` as a file stream, one micro-batch each, in order:
    * [[stageBatches]] under `id` plus the sanitized fixture `dir`, read
    * back one file per trigger. */
  def replay(s: SparkSession, id: String, dir: String, batches: Seq[DataFrame]): DataFrame =
    s.readStream.schema(batches.head.schema).option("maxFilesPerTrigger", "1")
      .parquet(stageBatches(s, s"${id}_${san(dir)}", batches))

  def readTable(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = s.read.parquet(path).schema
    val stream = s.readStream.schema(schema).parquet(fileAsDir(path))
    // events.ts reads as TIMESTAMP_NTZ — relabel to the session-TZ
    // TimestampType the corpus expects (see Tables.load)
    if (table == "events" && schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      stream.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    else stream
  }

  /** Run a streaming DataFrame to completion into a memory sink; return the
    * materialized result.
    *
    * CONTRACT: the returned DataFrame is eagerly analyzed and stays valid,
    * but the backing temp view is dropped after [[MemTablesKept]] further
    * runToMemory calls — callers must NOT re-resolve a result by name
    * (`spark.table(...)`) later; hold the returned DataFrame instead. */
  private val liveMemTables = scala.collection.mutable.Queue[String]()

  /** Recent memory-sink tables kept live: a caller — or a multi-run spec
    * harness — may still hold their DataFrames; older ones have been
    * consumed. */
  private val MemTablesKept = 4

  def runToMemory(s: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    liveMemTables.synchronized {
      // drop the view + sink rows of consumed tables
      while (liveMemTables.size > MemTablesKept) s.catalog.dropTempView(liveMemTables.dequeue())
    }
    val name = s"graft_mem_${counter.incrementAndGet()}"
    // per-JVM-unique dir, wiped before AND after the run: a stale checkpoint
    // from a crashed earlier JVM would otherwise resume at its old offsets
    // and silently skip this run's staged batches
    val ckpt = s"$scratchRoot/ckpt/${ProcessHandle.current().pid()}/$name"
    wipe(ckpt)
    try withStreamingConf(df) {
      df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally wipe(ckpt) // the memory table is already materialized; drop state/commit logs
    liveMemTables.synchronized { liveMemTables.enqueue(name) }
    s.table(name)
  }

  /** Run `body` with each of `settings` set on the session, then restore
    * every previous value: a conf that was unset is unset again (not set
    * to its default, so `spark.conf.getAll` comes back unchanged). Restores
    * also when `body` (or a set) throws. Every temporary change of a
    * session setting in the engine goes through here. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll // without defaults, unlike getOption
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `body` — the start and await of the streaming query `df` — under
    * the session settings an engine query uses, restored afterwards by
    * [[withConf]]. Every `DataStreamWriter.start()` of the engine runs
    * inside this helper.
    *  - `spark.sql.shuffle.partitions` = the session's `graft.stream.parts`
    *    (default 4; `EngineSession` sets it for the corpus runs).
    *    Each shuffle partition is one state-store instance that writes its
    *    delta file every micro-batch, so the per-batch checkpoint cost
    *    grows with the partition count; the fixture volume stays far below
    *    per-partition limits at 4.
    *  - [[NioCheckpointFileManager]] instead of Spark's FileContext
    *    manager. Without libhadoop, a FileContext rename of a local
    *    checkpoint file forks `readlink` 8 times, and every local file
    *    Hadoop creates forks `chmod` for itself and for its `.crc`. This
    *    manager is Spark's FileSystem manager (a plain `File.renameTo`)
    *    with the permission bits set in process. Writes still go through
    *    the checksummed LocalFileSystem, so Hadoop `.crc` files, Spark's
    *    checkpoint-file checksums and the file modes stay. The engine's
    *    checkpoints are all local (under `scratchRoot` or the JVM temp
    *    dir).
    *  - The RocksDB state-store provider when `df`'s plan has a
    *    `transformWithState` node (Flink's keyed-state surface, which
    *    Spark runs only on RocksDB); every other query keeps the session's
    *    provider. The state backend is a per-query choice, as in Flink. */
  def withStreamingConf[T](df: DataFrame)(body: => T): T = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> df.sparkSession.conf.get("graft.stream.parts", "4"),
      "spark.sql.streaming.checkpointFileManagerClass" -> classOf[NioCheckpointFileManager].getName)
    val tws = df.queryExecution.logical.exists(_.isInstanceOf[TransformWithState])
    val provider = Option.when(tws)("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    withConf(df.sparkSession, settings ++ provider: _*)(body)
  }

  /** Queryable-state analog — ref flink-queryable-state
    * (`KeyedStream.asQueryableState` / QueryableStateClient.getKvState):
    * out-of-band reads of a stateful operator's keyed state. Spark's
    * spelling: every checkpointed state store is a first-class READABLE
    * data source (the `statestore` format), so external state queries run
    * as plain DataFrames against the checkpoint — the same capability
    * through a storage-level access path instead of an RPC to the running
    * job (and it composes: filters/joins/aggregations over live state). */
  def readState(s: SparkSession, checkpointLocation: String): DataFrame =
    s.read.format("statestore").load(checkpointLocation)

  /** Clear a scratch dir (fresh checkpoint/sink staging for re-runnable
    * queries). */
  def wipeDir(dir: String): Unit = wipe(dir)

  private def wipe(dir: String): Unit = {
    val base = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(base)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
  }

  // ------------------------------------------------ custom stateful operators

  case class TypedEvent(event_type: String, event_id: Long, vc: Long)
  case class TopNState(items: List[(Long, Long)])
  case class TopNOut(event_type: String, rn: Int, event_id: Long, vc: Long)

  /** Streaming Top-N per key — ref AppendOnlyTopNFunction.java:48: keyed
    * state holds only the current top-N (bounded, N entries per key — state
    * size is N×keys regardless of input volume, the property that makes it
    * run forever on an unbounded stream). Emits the full refreshed top-N of
    * every key touched in the batch (Update mode, like the reference's
    * retract-then-emit). */
  def topNPerType(s: SparkSession, events: DataFrame, n: Int): DataFrame = {
    import s.implicits._
    events
      .select(col("event_type"), col("event_id").cast("long").as("event_id"),
              floor(col("value") * 100.0).cast("long").as("vc"))
      .as[TypedEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[TypedEvent], state: GroupState[TopNState]) => {
          val old = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (old ++ it.map(e => (e.vc, e.event_id)))
            .sortBy { case (v, id) => (-v, id) }.take(n)
          state.update(TopNState(merged))
          merged.iterator.zipWithIndex.map { case ((v, id), i) => TopNOut(key, i + 1, id, v) }
        })
      .toDF()
  }

  case class OverState(runSum: Long, runN: Long)
  case class OverOut(user_id: Long, event_id: Long, run_sum: Long, run_n: Long)

  /** Streaming over-aggregate (unbounded-preceding running sum/count per
    * key, event-time order) — ref RowTimeRowsUnboundedPrecedingFunction /
    * RowTimeRangeBoundedPrecedingFunction.java:55 (SURVEY §2.7 "no native
    * streaming over"): keyed state carries the running accumulator; each
    * batch is sorted by (ts, id) and emits one output row per input row.
    * State is O(1) per key — the property the reference's operator also
    * maintains (its state holds accumulators, not history). Assumes
    * event-time-ordered batches (watermark-complete micro-batches, SURVEY
    * §2.9 temporal sort note). */
  def runningAggPerUser(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("userId"), col("event_id").cast("long").as("eventId"),
              expr("unix_micros(ts)").as("tsMicros"), expr("cast(floor(value * 100.0) as long)").as("valueCents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long, Long)], state: GroupState[OverState]) => {
          var st = state.getOption.getOrElse(OverState(0L, 0L))
          val out = it.toIndexedSeq.sortBy(e => (e._3, e._2)).map { e =>
            st = OverState(st.runSum + e._4, st.runN + 1)
            OverOut(key, e._2, st.runSum, st.runN)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class CountWinState(buf: List[(Long, Long, Long)], winSeq: Long) // (tsMicros, eventId, vc)
  case class CountWinOut(user_id: Long, win_seq: Long, n: Int, v_cents: Long, last_id: Long)

  /** Count-based tumbling window WITH a count evictor — ref DataStream
    * WindowOperator.java:98 + CountTumblingWindowAssigner + CountEvictor
    * (SURVEY §2.6 "count windows → stateful flatMapGroupsWithState (no
    * native)"): fires when `size` events have buffered for a key; the
    * evictor keeps only the LAST `keep` of them for the aggregate (Flink
    * CountEvictor.of(keep) semantics). Partial windows never fire — exactly
    * the reference's behavior. State = at most `size-1` buffered events per
    * key, bounded. */
  def countTumbleWindow(s: SparkSession, events: DataFrame, size: Int, keep: Int): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("userId"), col("event_id").cast("long").as("eventId"),
              expr("unix_micros(ts)").as("tsMicros"), expr("cast(floor(value * 100.0) as long)").as("valueCents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        countTumbleTransition(size, keep))
      .toDF()
  }

  /** One keyed count-window transition (buffer → fire-at-size → count
    * evictor) — the exact function [[countTumbleWindow]] runs, exposed so
    * the window harness/fuzz layer can drive it directly (mirrors
    * WindowOperatorTest's count-window cases). */
  private[graft] def countTumbleTransition(size: Int, keep: Int)(
      key: Long, it: Iterator[(Long, Long, Long, Long)],
      state: GroupState[CountWinState]): Iterator[CountWinOut] = {
    var st = state.getOption.getOrElse(CountWinState(Nil, 0L))
    val out = scala.collection.mutable.ListBuffer[CountWinOut]()
    // event-time order within the batch (watermark-complete batches)
    it.toIndexedSeq.sortBy(e => (e._3, e._2)).foreach { e =>
      val buf = st.buf :+ ((e._3, e._2, e._4))
      if (buf.length == size) {
        val kept = buf.takeRight(keep) // CountEvictor: evict from the front
        out += CountWinOut(key, st.winSeq, kept.length, kept.map(_._3).sum, kept.last._2)
        st = CountWinState(Nil, st.winSeq + 1)
      } else st = st.copy(buf = buf)
    }
    state.update(st)
    out.iterator
  }

  /** Count-tumbling window with a TIME evictor — ref TimeEvictor.java:
    * before the window function runs, evict elements older than
    * `keepMicros` before the window's max timestamp (the evictor's
    * currentTime). Same firing rule as [[countTumbleWindow]]. */
  def countWindowTimeEvict(s: SparkSession, events: DataFrame, size: Int,
                           keepMicros: Long): DataFrame =
    countWindowWithEvictor(s, events, size)(timeEvictor(keepMicros))

  /** The TimeEvictor closure itself, named so the fuzz layer drives the
    * exact production evictor. */
  private[graft] def timeEvictor(keepMicros: Long)
      : IndexedSeq[(Long, Long, Long)] => IndexedSeq[(Long, Long, Long)] = { buf =>
    val maxTs = buf.map(_._1).max
    buf.filter(_._1 > maxTs - keepMicros)
  }

  /** Count-tumbling window with a DELTA evictor — ref DeltaEvictor.java:
    * evict elements whose |value − lastElement.value| exceeds the
    * threshold (delta function = absolute cents difference). */
  def countWindowDeltaEvict(s: SparkSession, events: DataFrame, size: Int,
                            thresholdCents: Long): DataFrame =
    countWindowWithEvictor(s, events, size)(deltaEvictor(thresholdCents))

  /** The DeltaEvictor closure itself, named for the fuzz layer. */
  private[graft] def deltaEvictor(thresholdCents: Long)
      : IndexedSeq[(Long, Long, Long)] => IndexedSeq[(Long, Long, Long)] = { buf =>
    val lastVc = buf.last._3
    buf.filter(e => math.abs(e._3 - lastVc) <= thresholdCents)
  }

  private def countWindowWithEvictor(s: SparkSession, events: DataFrame, size: Int)(
      evict: IndexedSeq[(Long, Long, Long)] => IndexedSeq[(Long, Long, Long)]): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("userId"), col("event_id").cast("long").as("eventId"),
              expr("unix_micros(ts)").as("tsMicros"), expr("cast(floor(value * 100.0) as long)").as("valueCents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        countEvictTransition(size, evict))
      .toDF()
  }

  /** One keyed count-window-with-evictor transition — the exact function
    * [[countWindowWithEvictor]] runs (TimeEvictor/DeltaEvictor plug in as
    * the `evict` closure), exposed for the window harness/fuzz layer. */
  private[graft] def countEvictTransition(size: Int,
      evict: IndexedSeq[(Long, Long, Long)] => IndexedSeq[(Long, Long, Long)])(
      key: Long, it: Iterator[(Long, Long, Long, Long)],
      state: GroupState[CountWinState]): Iterator[CountWinOut] = {
    var st = state.getOption.getOrElse(CountWinState(Nil, 0L))
    val out = scala.collection.mutable.ListBuffer[CountWinOut]()
    it.toIndexedSeq.sortBy(e => (e._3, e._2)).foreach { e =>
      val buf = st.buf :+ ((e._3, e._2, e._4))
      if (buf.length == size) {
        val kept = evict(buf.toIndexedSeq)
        out += CountWinOut(key, st.winSeq, kept.length, kept.map(_._3).sum, buf.last._2)
        st = CountWinState(Nil, st.winSeq + 1)
      } else st = st.copy(buf = buf)
    }
    state.update(st)
    out.iterator
  }

  case class GlobalWinState(accCents: Long, n: Long, winSeq: Long)
  case class GlobalWinOut(user_id: Long, win_seq: Long, n: Long, v_cents: Long, last_id: Long)

  /** GlobalWindows + a custom purging trigger — ref GlobalWindows.java
    * (assigner that never ends a window) + Trigger.java/PurgingTrigger:
    * all events of a key share ONE window; a custom trigger FIREs when the
    * accumulated value crosses `thresholdCents` and then purges the
    * accumulator — the Flink pattern for value-based batching. State is
    * O(1) per key (running aggregate, not a buffer). */
  def globalWindowSumTrigger(s: SparkSession, events: DataFrame,
                             thresholdCents: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("userId"), col("event_id").cast("long").as("eventId"),
              expr("unix_micros(ts)").as("tsMicros"), expr("cast(floor(value * 100.0) as long)").as("valueCents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        globalWindowTransition(thresholdCents))
      .toDF()
  }

  /** One keyed global-window transition (accumulate → value-threshold FIRE
    * + PURGE) — the exact function [[globalWindowSumTrigger]] runs,
    * exposed for the window harness/fuzz layer (PurgingTrigger mirror). */
  private[graft] def globalWindowTransition(thresholdCents: Long)(
      key: Long, it: Iterator[(Long, Long, Long, Long)],
      state: GroupState[GlobalWinState]): Iterator[GlobalWinOut] = {
    var st = state.getOption.getOrElse(GlobalWinState(0L, 0L, 0L))
    val out = scala.collection.mutable.ListBuffer[GlobalWinOut]()
    it.toIndexedSeq.sortBy(e => (e._3, e._2)).foreach { e =>
      val acc = st.accCents + e._4
      val n = st.n + 1
      if (acc >= thresholdCents) { // FIRE + PURGE
        out += GlobalWinOut(key, st.winSeq, n, acc, e._2)
        st = GlobalWinState(0L, 0L, st.winSeq + 1)
      } else st = GlobalWinState(acc, n, st.winSeq)
    }
    state.update(st)
    out.iterator
  }

  /** Streaming windowed coGroup — ref flink-streaming-java
    * CoGroupedStreams.java:134: two keyed streams share a window; per
    * (key, window) BOTH side buffers are handed onward, INCLUDING windows
    * where one side is empty (the semantic a window join cannot express —
    * JoinedStreams is implemented on top of this with an inner-join
    * apply). Input = the union-tagged stream (the reference's TaggedUnion
    * layout): columns key, side (0/1), id, ts.
    *
    * Spark-first: ONE hash shuffle on (key, window) and a per-side
    * collect_list — the window agg operator maintains the buffers in the
    * state store exactly like the reference's window contents, and the
    * "CoGroupFunction" is whatever expressions the caller applies to the
    * two arrays. Buffers are sorted for deterministic output. */
  def windowCoGroup(s: SparkSession, tagged: DataFrame, windowDur: String): DataFrame =
    tagged
      .withWatermark("ts", "0 seconds")
      .groupBy(col("key"), window(col("ts"), windowDur))
      .agg(sort_array(collect_list(when(col("side") === 0, col("id")))).as("lefts"),
           sort_array(collect_list(when(col("side") === 1, col("id")))).as("rights"))
      .select(col("key"), col("window.start").as("ws"), col("lefts"), col("rights"))

  case class UpsertOut(row_kind: String, key: Long, value: Long)

  /** Upsert-source materialization — the upsert-kafka ingestion contract
    * (ref flink-connectors/flink-connector-kafka/.../table/
    * UpsertKafkaDynamicTableFactory.java semantics, minus Kafka) backed by
    * the planner's ChangelogNormalize operator (ref
    * StreamExecChangelogNormalize / ProcTimeMiniBatchDeduplicateKeepLastRowFunction
    * with generateUpdateBefore): a keyed message stream where each message
    * is (key, value, seq) and a NULL value is a tombstone. Emits the full
    * +I/-U/+U/-D changelog — new key → +I; overwrite → -U(old), +U(new);
    * tombstone of a live key → -D(old); tombstone of an absent key is a
    * no-op (the reference tolerates it).
    *
    * State = ONE value per live key (bounded by keyspace, the minimum any
    * upsert materialization needs). Messages apply in `seq` order — the
    * Kafka-partition arrival order stand-in; at 100 TB this is one hash
    * shuffle on the key, the same placement as the reference's keyed
    * normalize operator. Downstream consumers ([[StreamJoin.changelogJoin]],
    * [[RetractableTopN]], [[ChangelogAgg]]) take the output directly. */
  def upsertChangelog(s: SparkSession, msgs: DataFrame): DataFrame = {
    import s.implicits._
    msgs
      .select(col("key").cast("long").as("_1"), col("value").cast("long").as("_2"),
              col("seq").cast("long").as("_3"))
      .as[(Long, Option[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(upsertTransition)
      .toDF()
  }

  /** ChangelogNormalize's keyed transition, extracted for the harness
    * layer (StateHarnessSpec pattern): state is the single live value per
    * key; emits the +I/-U+U/-D lattice and REMOVES state on tombstone so
    * the store never retains dead keys. */
  private[graft] def upsertTransition(
      key: Long, it: Iterator[(Long, Option[Long], Long)],
      state: GroupState[Long]): Iterator[UpsertOut] = {
    var cur: Option[Long] = state.getOption
    val out = scala.collection.mutable.ListBuffer[UpsertOut]()
    it.toIndexedSeq.sortBy(_._3).foreach { case (_, v, _) =>
      (cur, v) match {
        case (None, Some(nv)) =>
          out += UpsertOut("+I", key, nv); cur = Some(nv)
        case (Some(ov), Some(nv)) =>
          out += UpsertOut("-U", key, ov); out += UpsertOut("+U", key, nv); cur = Some(nv)
        case (Some(ov), None) =>
          out += UpsertOut("-D", key, ov); cur = None
        case (None, None) => () // tombstone of an absent key
      }
    }
    cur match { case Some(v) => state.update(v); case None => state.remove() }
    out.iterator
  }

  case class AsOfState(rights: List[(Long, Long)], pendingLefts: List[(Long, Long)])
  case class AsOfOut(key: Long, left_id: Long, right_id: Long)

  /** Streaming event-time as-of join — ref temporal/TemporalRowTimeJoinOperator
    * .java:77: both inputs keyed and unioned into one stateful operator
    * (side 0 = versioned right, side 1 = left); lefts are held until the
    * watermark guarantees no earlier right version can still arrive, then
    * matched to the latest right with rightTs <= leftTs.
    *
    * State is BOUNDED: right versions below the watermark are pruned to
    * the single latest one after each batch (the reference registers
    * cleanup timers and drops superseded versions the same way). Safe
    * because every still-pending left has ts > watermark, and the as-of
    * match picks the LATEST right ≤ its ts — which is either the kept
    * survivor or a version above the watermark. State per key is then
    * O(pending lefts + above-watermark rights), not all history.
    *
    * Inputs: (key, side, tsMicros, id).
    * @param stateGauge optional per-batch state-size metric (rights +
    *        pending lefts kept, summed over keys/batches) — used by
    *        StreamingSpec to pin boundedness, like [[cepClickPurchase]]. */
  def streamingAsOf(s: SparkSession, tagged: DataFrame,
                    stateGauge: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import s.implicits._
    tagged
      .select(col("key").cast("long").as("_1"), col("side").cast("int").as("_2"),
              col("tsMicros").cast("long").as("_3"), col("id").cast("long").as("_4"),
              col("ts").as("_5"))
      .withWatermark("_5", "0 seconds")
      .as[(Long, Int, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        asOfTransition(stateGauge))
      .toDF()
  }

  /** [[streamingAsOf]]'s keyed transition, extracted for the harness
    * layer (mirrors the reference's TemporalRowTimeJoinOperatorTest
    * surface): watermark-gated left release + right-version pruning. */
  private[graft] def asOfTransition(
      stateGauge: Option[org.apache.spark.util.LongAccumulator] = None)(
      key: Long, it: Iterator[(Long, Int, Long, Long, java.sql.Timestamp)],
      state: GroupState[AsOfState]): Iterator[AsOfOut] = {
          val wm = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
          val batch = it.toList
          val rights = (st.rights ++ batch.filter(_._2 == 0).map(e => (e._3, e._4))).sortBy(_._1)
          val lefts = st.pendingLefts ++ batch.filter(_._2 == 1).map(e => (e._3, e._4))
          val (ripe, pending) = lefts.partition(_._1 <= wm)
          // prune: keep only the newest right at/below the watermark plus
          // everything above it (matching uses the full list THIS batch —
          // ripe lefts may reach below)
          val (below, above) = rights.partition(_._1 <= wm)
          val keptRights = below.lastOption.toList ++ above
          stateGauge.foreach(_.add((keptRights.size + pending.size).toLong))
          state.update(AsOfState(keptRights, pending))
          ripe.sortBy(l => (l._1, l._2)).iterator.flatMap { case (lts, lid) =>
            rights.takeWhile(_._1 <= lts).lastOption.map { case (_, rid) => AsOfOut(key, lid, rid) }
          }
  }

  case class SortState(buf: List[(Long, Long, Long)], nextSeq: Long) // buf: (tsMicros, eventId, vc)
  case class SortOut(user_id: Long, event_id: Long, ts_us: Long, seq: Long)

  /** Event-time temporal sort — ref RowTimeSortOperator / StreamExecTemporalSort
    * (SURVEY §2.9): buffer per key, flush rows at or below the current
    * watermark in event-time order each batch (the watermark IS the timer,
    * ref WatermarkAssignerOperator). State holds only the above-watermark
    * tail. `seq` is the per-key EMISSION counter (assigned in flush order),
    * so the emitted order itself is part of the result contract — the
    * oracle reconstructs it from the watermark cutoffs (flush batch, then
    * event time, then id). */
  def temporalSort(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      // the watermark-tagged TIMESTAMP column must survive into the grouped
      // Dataset — Spark refuses getCurrentWatermarkMs otherwise
      .select(col("user_id").cast("long").as("userId"), col("event_id").cast("long").as("eventId"),
              col("ts").cast("timestamp").as("ts"), expr("cast(floor(value * 100.0) as long)").as("valueCents"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(sortTransition)
      .toDF()
  }

  /** [[temporalSort]]'s keyed transition, extracted for the harness layer
    * (the RowTimeSortOperator analog): watermark-gated flush in
    * (event-time, id) order, per-key emission counter in state. */
  private[graft] def sortTransition(
      key: Long, it: Iterator[(Long, Long, java.sql.Timestamp, Long)],
      state: GroupState[SortState]): Iterator[SortOut] = {
    val wm = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(SortState(Nil, 1L))
    val all = st.buf ++
      it.map(e => (e._3.getTime * 1000 + (e._3.getNanos / 1000) % 1000, e._2, e._4))
    val (ripe, tail) = all.partition(_._1 <= wm)
    val ordered = ripe.sortBy(e => (e._1, e._2))
    state.update(SortState(tail, st.nextSeq + ordered.size))
    ordered.iterator.zipWithIndex.map { case (e, i) =>
      SortOut(key, e._2, e._1, st.nextSeq + i) }
  }

  case class DebounceState(n: Long, deadline: Long)
  case class DebounceOut(user_id: Long, fired_at: Long, n: Long)

  /** Injected-clock processing-time debounce — the DETERMINISTIC spelling
    * of [[procTimeDebounce]] (ref KeyedProcessFunction
    * .registerProcessingTimeTimer/onTimer): the proc-time clock is the
    * per-row `pt` stamp assigned at ingestion (the same arrival-stamp
    * idiom as [[procTimeOverAgg]] — a wall-clock ms stamp in production, a
    * staged batch stamp in tests/oracles). Per key: every data batch
    * buffers its rows and RE-ARMS the timer at `pt + duration`; when a
    * later invocation's clock reaches the armed deadline the buffered
    * count flushes stamped with the DEADLINE (the time the timer fired,
    * not the arrival that observed it). Rows with `is_tick` = 1 only
    * advance the clock (the timer-service tick making end-of-stream
    * flushes observable in a batch-driven harness). */
  def procTimeDebounceInjected(s: SparkSession, events: DataFrame, duration: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("pt").cast("long").as("_2"),
              col("is_tick").cast("long").as("_3"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long)], state: GroupState[DebounceState]) => {
          val rows = it.toIndexedSeq
          val t = rows.map(_._2).max // the invocation's clock
          var out = List.empty[DebounceOut]
          var st = state.getOption.getOrElse(DebounceState(0L, Long.MaxValue))
          if (st.deadline <= t) { // onTimer fired (at its deadline) before this batch
            out = DebounceOut(key, st.deadline, st.n) :: out
            st = DebounceState(0L, Long.MaxValue)
          }
          val data = rows.filter(_._3 == 0L)
          if (data.nonEmpty) // buffer + re-arm (debounce: every batch pushes the deadline)
            st = DebounceState(st.n + data.size, t + duration)
          if (st.n == 0L && st.deadline == Long.MaxValue) state.remove()
          else state.update(st)
          out.reverseIterator
        })
      .toDF()
  }

  case class BOverState(buf: List[(Long, Long, Long)]) // (tsMicros, eventId, vc)
  case class BOverOut(user_id: Long, event_id: Long, agg_sum: Long, agg_n: Long)

  /** Bounded streaming over-aggregate — the reference's bounded-preceding
    * family (RowTimeRangeBoundedPrecedingFunction.java:55 /
    * RowTimeRowsBoundedPrecedingFunction): per key, each row is aggregated
    * over its trailing frame and state holds ONLY the frame-reachable rows.
    *
    *  - mode="rows": frame = the `bound`−1 preceding rows + current (by
    *    (ts, id) order); eviction keeps the last `bound`−1 rows.
    *  - mode="range": frame = rows with ts ∈ [t − `bound` µs, t] INCLUSIVE
    *    of ties (SQL RANGE semantics — same-ts rows share one aggregate);
    *    eviction keeps ts ≥ maxTs − bound.
    *
    * Frames are computed with one prefix-sum pass per batch (O(rows),
    * matching the reference's incremental retract-on-evict accumulator).
    * Assumes event-time-ordered, watermark-complete batches like
    * [[runningAggPerUser]]. */
  def boundedOverAgg(s: SparkSession, events: DataFrame, mode: String, bound: Long): DataFrame = {
    import s.implicits._
    require(mode == "rows" || mode == "range", s"bad mode $mode")
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              expr("unix_micros(ts)").as("_3"), expr("cast(floor(value * 100.0) as long)").as("_4"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long, Long)], state: GroupState[BOverState]) => {
          val st = state.getOption.getOrElse(BOverState(Nil))
          val fresh = it.map(e => (e._3, e._2, e._4)).toIndexedSeq
          val freshIds = fresh.map(_._2).toSet
          val all = (st.buf ++ fresh).sortBy(r => (r._1, r._2)).toIndexedSeq
          val prefix = all.scanLeft(0L)(_ + _._3) // prefix(i) = sum of v before index i
          val out = all.indices.collect { case i if freshIds(all(i)._2) =>
            val (lo, hi) =
              if (mode == "rows") (math.max(0, i - (bound.toInt - 1)), i)
              else {
                val t = all(i)._1
                // two bounds by binary search over the ts-sorted seq
                var l = 0; var h = i
                while (l < h) { val m = (l + h) / 2; if (all(m)._1 >= t - bound) h = m else l = m + 1 }
                var h2 = i
                while (h2 + 1 < all.length && all(h2 + 1)._1 == t) h2 += 1 // RANGE includes ties
                (l, h2)
              }
            BOverOut(key, all(i)._2, prefix(hi + 1) - prefix(lo), (hi - lo + 1).toLong)
          }
          val kept =
            if (mode == "rows") all.takeRight(bound.toInt - 1)
            else { val maxTs = if (all.isEmpty) 0L else all.last._1; all.filter(_._1 >= maxTs - bound) }
          state.update(BOverState(kept.toList))
          out.iterator
        })
      .toDF()
  }

  case class POverState(ring: List[(Long, Long)], n: Long, sum: Long) // ring (seqOrStamp, v); accumulator
  case class POverOut(user_id: Long, event_id: Long, agg_sum: Long, agg_n: Long)

  /** PROCESSING-time over-aggregate family — ref ProcTimeRowsBounded
    * PrecedingFunction / ProcTimeUnboundedPrecedingFunction /
    * ProcTimeRangeBoundedPrecedingFunction: frames follow ARRIVAL order,
    * not event time. The reference stamps proc-time per row at operator
    * entry; here the `seq` column IS that stamp (assigned at ingestion —
    * a wall-clock ms stamp in production, a deterministic staged column in
    * tests/oracles), so ALL THREE modes replay exactly and are
    * oracle-gated.
    *
    *  - mode="unbounded": running (n, sum) accumulator — O(1) state per
    *    key, the whole point of the proc-time unbounded variant.
    *  - mode="rows": trailing `bound` rows by seq; state keeps only the
    *    `bound`−1 newest (seq, v) pairs.
    *  - mode="range": frame/eviction = rows whose stamp lies within
    *    [seq − bound, seq] of the CURRENT row's stamp — per-row stamps,
    *    exactly the reference's registered proc-time; a later row never
    *    joins an earlier frame (arrival semantics).
    */
  def procTimeOverAgg(s: SparkSession, events: DataFrame, mode: String, bound: Long): DataFrame = {
    import s.implicits._
    require(Set("unbounded", "rows", "range")(mode), s"bad mode $mode")
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              col("seq").cast("long").as("_3"), expr("cast(floor(value * 100.0) as long)").as("_4"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long, Long)], state: GroupState[POverState]) => {
          var st = state.getOption.getOrElse(POverState(Nil, 0L, 0L))
          // arrival order == seq order (the proc-time stamp); ties by id
          val out = it.toIndexedSeq.sortBy(e => (e._3, e._2)).map { case (_, id, seq, v) =>
            mode match {
              case "unbounded" =>
                st = POverState(Nil, st.n + 1, st.sum + v)
                POverOut(key, id, st.sum, st.n)
              case "rows" =>
                val frame = ((seq, v) :: st.ring).take(bound.toInt)
                st = POverState(frame.take(bound.toInt - 1), 0L, 0L)
                POverOut(key, id, frame.map(_._2).sum, frame.size.toLong)
              case "range" =>
                val frame = ((seq, v) :: st.ring).filter(_._1 >= seq - bound)
                st = POverState(frame, 0L, 0L)
                POverOut(key, id, frame.map(_._2).sum, frame.size.toLong)
            }
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class UROverState(n: Long, sum: Long, tieTs: Long, tieBuf: List[Long])

  /** Row-time RANGE UNBOUNDED PRECEDING over-aggregate — ref
    * RowTimeRangeUnboundedPrecedingFunction: every row aggregates all rows
    * at or before its timestamp, ties (same ts) SHARING one frame. State is
    * a running accumulator plus only the newest tie group — O(1 + ties),
    * never the history (the bounded variants must buffer their frame; the
    * unbounded one must not). Assumes event-time-ordered watermark-complete
    * batches like [[boundedOverAgg]]; a tie group split across batches
    * emits its later rows with the full-group frame (earlier emissions are
    * superseded in Update mode). */
  def rangeUnboundedOverAgg(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              expr("unix_micros(ts)").as("_3"), expr("cast(floor(value * 100.0) as long)").as("_4"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long, Long)], state: GroupState[UROverState]) => {
          var st = state.getOption.getOrElse(UROverState(0L, 0L, Long.MinValue, Nil))
          val out = scala.collection.mutable.ListBuffer[POverOut]()
          it.toIndexedSeq.sortBy(e => (e._3, e._2)).groupBy(_._3).toSeq.sortBy(_._1)
            .foreach { case (ts, group) =>
              if (ts > st.tieTs && st.tieBuf.nonEmpty) // finalize the previous tie group
                st = UROverState(st.n + st.tieBuf.size, st.sum + st.tieBuf.sum, ts, Nil)
              val buf = if (ts == st.tieTs) st.tieBuf ++ group.map(_._4) else group.map(_._4).toList
              st = UROverState(st.n, st.sum, ts, buf)
              val (fn, fs) = (st.n + buf.size, st.sum + buf.sum)
              group.foreach { case (_, id, _, _) => out += POverOut(key, id, fs, fn) }
            }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class RuleOut(event_type: String, event_id: Long, v_cents: Long)

  /** Broadcast state / BroadcastProcessFunction — ref flink-streaming-java
    * co.BroadcastProcessFunction + BroadcastState: a CONTROL stream of rule
    * updates (side 0: per-type value threshold) is applied to the DATA
    * stream (side 1) as it flows; a rule update in a later batch changes
    * how subsequent data is filtered, and types with no rule yet drop
    * everything (the reference's empty-broadcast-state behavior). Both
    * streams union-tagged and keyed by the rule key, so the rule lives in
    * keyed state exactly where the data needs it — the Spark spelling of
    * "broadcast the control stream to every data partition". */
  def broadcastRuleFilter(s: SparkSession, tagged: DataFrame): DataFrame = {
    import s.implicits._
    tagged
      .select(col("etype").cast("string").as("_1"), col("side").cast("int").as("_2"),
              col("id").cast("long").as("_3"), col("v").cast("long").as("_4"),
              col("seq").cast("long").as("_5"))
      .as[(String, Int, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[(String, Int, Long, Long, Long)], state: GroupState[Long]) => {
          var threshold = state.getOption.getOrElse(Long.MaxValue) // no rule → drop
          val out = scala.collection.mutable.ListBuffer[RuleOut]()
          // rules sort before data within a batch (seq 0 vs 1)
          it.toIndexedSeq.sortBy(e => (e._5, e._3)).foreach {
            case (_, 0, _, v, _) => threshold = v // rule update
            case (_, 1, id, v, _) => if (v >= threshold) out += RuleOut(key, id, v)
            case other => throw new IllegalArgumentException(s"bad side in $other")
          }
          state.update(threshold)
          out.iterator
        })
      .toDF()
  }

  case class ProcTimerOut(user_id: Long, n_events: Long)

  /** PROCESSING-time timers — ref KeyedProcessFunction
    * .registerProcessingTimeTimer / onTimer: buffer a per-key count, arm a
    * wall-clock timer, flush when it fires (the classic delayed-flush /
    * debounce pattern). Spark mapping: `GroupStateTimeout
    * .ProcessingTimeTimeout` + `setTimeoutDuration`; `hasTimedOut` is
    * onTimer and fires on the first trigger after the duration elapses.
    * Wall-clock dependent, so spec-gated (StreamingSpec), not oracle-gated. */
  def procTimeDebounce(s: SparkSession, events: DataFrame, durationMs: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: Long, it: Iterator[(Long, Long)], state: GroupState[Long]) => {
          if (state.hasTimedOut) { // onTimer: flush the buffered count
            val n = state.get
            state.remove()
            Iterator.single(ProcTimerOut(key, n))
          } else {
            state.update(state.getOption.getOrElse(0L) + it.size)
            state.setTimeoutDuration(durationMs) // registerProcessingTimeTimer
            Iterator.empty
          }
        })
      .toDF()
  }

  case class TwsOut(user_id: Long, event_id: Long, run_cnt: Long, last3_cents: Long, type_cnt: Long)

  /** The KeyedProcessFunction STATE SURFACE on Spark 4's native state API —
    * `transformWithState` (SURVEY §2.13: Spark 4 offers ValueState /
    * ListState / MapState + TTL natively): Flink's keyed-state trio (ref
    * flink-core api/common/state/{ValueState,ListState,MapState}.java) maps
    * 1:1 onto named state variables instead of being folded into one
    * fMGWS case-class blob — per user: ValueState = running count,
    * ListState = newest-first last-3 cents ring, MapState = per-event-type
    * counts; one output row per input row. TWS requires the RocksDB state
    * store (`withStreamingConf` sets it for a plan with a TWS node).
    * In-batch rows walk in (ts, event_id) order → deterministic. */
  class KeyedStateProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, Long, String), TwsOut] {
    import org.apache.spark.sql.streaming.{ListState, MapState, TimeMode, TTLConfig, ValueState}
    @transient private var cnt: ValueState[Long] = _
    @transient private var recent: ListState[Long] = _
    @transient private var byType: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders
      cnt = getHandle.getValueState[Long]("cnt", enc.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recent", enc.scalaLong, TTLConfig.NONE)
      byType = getHandle.getMapState[String, Long]("by_type", enc.STRING, enc.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsOut] = {
      rows.toIndexedSeq.sortBy(e => (e._3, e._2)).iterator.map { case (_, eid, _, cents, typ) =>
        val n = (if (cnt.exists()) cnt.get() else 0L) + 1
        cnt.update(n)
        val ring = (cents :: (if (recent.exists()) recent.get().toList else Nil)).take(3)
        recent.put(ring.toArray)
        // the state store rejects null MAP keys — encode SQL's null group
        // (one shared partition, like PARTITION BY event_type) as NUL,
        // which no real event_type string can contain
        val mk = if (typ == null) 0.toChar.toString else typ
        val t = (if (byType.containsKey(mk)) byType.getValue(mk) else 0L) + 1
        byType.updateValue(mk, t)
        TwsOut(key, eid, n, ring.sum, t)
      }
    }
  }

  /** Native state TTL — ref StateTtlConfig.java:51 (SURVEY §2.13): a
    * ValueState configured with `TTLConfig(ttl)` under processing-time
    * mode forgets values the store hasn't touched within the TTL — exactly
    * Flink's OnCreateAndWrite TTL. The processor counts events per key;
    * a TTL-expired counter restarts at 1 (observable without reading
    * wall-clock in the operator itself). */
  class TtlCounterProcessor(ttlMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
      rows.toIndexedSeq.sortBy(_._2).iterator.map { case (_, eid) =>
        val n = (if (cnt.exists()) cnt.get() else 0L) + 1
        cnt.update(n)
        (key, eid, n)
      }
    }
  }

  /** Run [[TtlCounterProcessor]] (processing-time mode — TTL requires it). */
  def twsTtlCounter(s: SparkSession, events: DataFrame, ttlMs: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TtlCounterProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]])
      .toDF("user_id", "event_id", "n")
  }

  case class TwsTimerOut(user_id: Long, alert_at_ms: Long)

  /** Flink registerEventTimeTimer/onTimer on the NATIVE transformWithState
    * timer API: `getHandle.registerTimer` + `handleExpiredTimer` (Spark 4's
    * literal onTimer callback — unlike fMGWS, whose hasTimedOut reaches the
    * key with no timer metadata). Each event supersedes the key's pending
    * inactivity timer (deleteTimer + registerTimer — exactly Flink's
    * delete/re-register idiom); when the WATERMARK passes a surviving
    * deadline, the expired-timer callback emits the alert and clears the
    * key's state. Compare [[inactivityTimeout]]: same operator semantics on
    * the fMGWS encoding. */
  class InactivityAlertProcessor(gapMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), TwsTimerOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    @transient private var lastSeen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long]("last_seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsTimerOut] = {
      val maxMs = rows.map(_._2.getTime).max
      if (lastSeen.exists()) getHandle.deleteTimer(lastSeen.get() + gapMs)
      lastSeen.update(maxMs)
      getHandle.registerTimer(maxMs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TwsTimerOut] = {
      lastSeen.clear()
      Iterator.single(TwsTimerOut(key, info.getExpiryTimeInMs()))
    }
  }

  /** Run [[InactivityAlertProcessor]] (event-time mode; needs a watermarked
    * ts column). */
  def twsInactivityAlert(s: SparkSession, events: DataFrame, gapMs: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("ts").cast("timestamp").as("_2"))
      .withWatermark("_2", "0 seconds")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new InactivityAlertProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[TwsTimerOut]])
      .toDF()
  }

  /** Run [[KeyedStateProcessor]] over the events stream. Started through
    * [[withStreamingConf]], it runs on the RocksDB state-store provider
    * (transformWithState requires it; also the production-scale choice —
    * incremental snapshots, off-heap state). */
  def twsKeyedProcess(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              expr("unix_micros(ts)").as("_3"),
              expr("cast(floor(value * 100.0) as long)").as("_4"), col("event_type").as("_5"))
      .as[(Long, Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new KeyedStateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[TwsOut]])
      .toDF()
  }

  case class LshClaimOut(doc_id: Long, band: Int, dup_band: Boolean)

  /** Streaming near-duplicate gate over MinHash LSH bands — the continuous-
    * ingestion form of the batch banded dedup (q_pipe_minhash_lsh): each
    * document arrives as its 4 (band, bkey) rows; per-bucket state holds
    * ONE long (the smallest doc_id that ever claimed the bucket), and a
    * band row signals a duplicate iff a smaller doc_id claimed its bucket
    * earlier — from state for previous batches, from the sorted group scan
    * within a batch. The per-doc verdict (any band claimed) is a downstream
    * aggregate of the emitted claims. State is bounded by live buckets ×
    * 8 bytes; in a production stream the same event-time TTL knob as
    * [[ttlDedup]]/changelogJoin applies (a bucket idle past the horizon
    * cannot dedup anything that matters any more).
    * Ref: the reference pairs DeduplicateFunctionHelper keep-first state
    * with keyed exchange — here the bucket IS the key, so dedup of a
    * 100 TB stream shuffles only 4 small rows per document. */
  def streamingLshDedup(s: SparkSession, bands: DataFrame): DataFrame = {
    import s.implicits._
    bands
      .select(col("doc_id").cast("long").as("_1"), col("band").cast("int").as("_2"),
              col("bkey").as("_3"))
      .as[(Long, Int, String)]
      .groupByKey(e => (e._2, e._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, String), it: Iterator[(Long, Int, String)], state: GroupState[Long]) => {
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ListBuffer[LshClaimOut]()
          it.map(_._1).toIndexedSeq.sorted.foreach { d =>
            out += LshClaimOut(d, key._1, minSeen < d)
            if (d < minSeen) minSeen = d
          }
          state.update(minSeen)
          out.iterator
        })
      .toDF()
  }

  case class TtlDedupOut(user_id: Long, event_type: String, event_id: Long)

  /** Streaming dedup with an event-time state TTL — ref Flink's
    * DeduplicateFunctionHelper keep-first plus state TTL cleanup
    * (table.exec.state.ttl / StateTtlConfig on the dedup value state):
    * the first event per key is admitted; later ones are dropped UNLESS
    * the last admitted event is more than `ttl` older in EVENT time —
    * then the key is admitted again (the "state expired" contract).
    *
    * State is one long (last admitted event time). An event-time timeout
    * removes it once the watermark passes last+ttl — the Flink
    * cleanup-timer behavior, and why state volume tracks only keys active
    * within the TTL horizon instead of every key ever seen (the thing
    * that would OOM a 100 TB run). Dropping the state early is
    * indistinguishable from keeping it: the walk admits on the same
    * inequality (ts > last + ttl) that the expiry encodes, so timer
    * granularity cannot change results for in-watermark data. In-batch
    * rows walk in (ts, event_id) order → deterministic under any shuffle
    * arrival order. */
  def ttlDedup(s: SparkSession, events: DataFrame, ttlMicros: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_type").as("_2"),
              col("event_id").cast("long").as("_3"), col("ts").cast("timestamp").as("_4"))
      .withWatermark("_4", "0 seconds")
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(e => (e._1, e._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        ttlDedupTransition(ttlMicros))
      .toDF()
  }

  /** One keyed TTL-dedup transition — the exact function [[ttlDedup]]
    * runs, exposed so StateHarnessSpec can pin the admit/suppress walk and
    * the cleanup-timer lifecycle directly (mirrors
    * flink-table-runtime-blink deduplicate harness tests — ref
    * .../deduplicate/RowTimeDeduplicateFunctionTest.java, which drives
    * keep-first rows and watermark-driven state expiry through
    * OneInputStreamOperatorTestHarness). */
  private[graft] def ttlDedupTransition(ttlMicros: Long)(
      key: (Long, String), it: Iterator[(Long, String, Long, java.sql.Timestamp)],
      state: GroupState[Long]): Iterator[TtlDedupOut] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty } // cleanup timer
    else {
      var last = state.getOption.getOrElse(Long.MinValue)
      val kept = scala.collection.mutable.ListBuffer[TtlDedupOut]()
      it.toIndexedSeq
        .map(e => (e._3, e._4.getTime * 1000 + (e._4.getNanos / 1000) % 1000))
        .sortBy(t => (t._2, t._1))
        .foreach { case (eid, tsu) =>
          if (last == Long.MinValue || tsu > last + ttlMicros) {
            last = tsu
            kept += TtlDedupOut(key._1, key._2, eid)
          }
        }
      if (last != Long.MinValue) {
        val deadline = last + ttlMicros
        if (deadline > state.getCurrentWatermarkMs() * 1000) {
          state.update(last)
          // ms timer rounded UP so it never fires before the µs deadline
          state.setTimeoutTimestamp((deadline + 999) / 1000)
        } else state.remove() // already expired: next event re-admits
      }
      kept.iterator
    }
  }

  case class TimerState(lastTs: Long, lastId: Long, timerAt: Long)
  case class TimerOut(user_id: Long, last_event_id: Long, last_ts_us: Long, timeout_at_us: Long)

  /** Event-time timers — ref KeyedProcessFunction.registerEventTimeTimer /
    * onTimer (KeyedProcessOperator.java): each event (re)registers a timer
    * at ts + gap; when the WATERMARK passes a pending timer before a newer
    * event superseded it, onTimer fires an inactivity alert. The classic
    * timeout-detection pattern; state = one (lastTs, timerAt) pair per key.
    *
    * Spark mapping: `GroupStateTimeout.EventTimeTimeout` +
    * `state.setTimeoutTimestamp` IS registerEventTimeTimer — the
    * `hasTimedOut` invocation (which reaches keys with no rows in the
    * batch) is onTimer. Timers that lapse BETWEEN two events of the same
    * micro-batch fire inline while processing (the reference fires them as
    * the watermark sweeps past). */
  def inactivityTimeout(s: SparkSession, events: DataFrame, gapMicros: Long): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              col("ts").cast("timestamp").as("_3"))
      .withWatermark("_3", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        inactivityTransition(gapMicros))
      .toDF()
  }

  /** One keyed timer transition — the exact function [[inactivityTimeout]]
    * runs, exposed so StateHarnessSpec can drive registerEventTimeTimer /
    * onTimer sequences directly (mirrors flink-streaming-java
    * KeyedProcessOperatorTest.testEventTimeTimers and
    * .testEventTimeTimerWithState — ref flink-streaming-java/.../operators/
    * KeyedProcessOperatorTest.java). */
  private[graft] def inactivityTransition(gapMicros: Long)(
      key: Long, it: Iterator[(Long, Long, java.sql.Timestamp)],
      state: GroupState[TimerState]): Iterator[TimerOut] = {
    if (state.hasTimedOut) { // onTimer
      val st = state.get
      state.remove()
      Iterator.single(TimerOut(key, st.lastId, st.lastTs, st.timerAt))
    } else {
      var st = state.getOption.getOrElse(TimerState(Long.MinValue, -1L, Long.MaxValue))
      val out = scala.collection.mutable.ListBuffer[TimerOut]()
      it.toIndexedSeq.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
        val ts = e._3.getTime * 1000 + (e._3.getNanos / 1000) % 1000
        if (st.timerAt != Long.MaxValue && ts > st.timerAt)
          out += TimerOut(key, st.lastId, st.lastTs, st.timerAt) // lapsed between events
        st = TimerState(ts, e._2, ts + gapMicros)
      }
      if (st.timerAt != Long.MaxValue) {
        state.update(st)
        // register the pending timer; a timestamp at/below the current
        // watermark would be rejected — it is already expired, fire now.
        // Compare in MICROS (strict passing) and round the ms-granular
        // Spark timer UP so it never fires before the µs deadline
        if (st.timerAt > state.getCurrentWatermarkMs() * 1000) {
          state.setTimeoutTimestamp((st.timerAt + 999) / 1000)
        } else {
          out += TimerOut(key, st.lastId, st.lastTs, st.timerAt)
          state.remove()
        }
      }
      out.iterator
    }
  }

  case class LateOut(user_id: Long, event_id: Long)

  /** Late-data side output for a watermarked tumbling window — the
    * allowedLateness pattern (ref flink-streaming-java WindowedStream
    * .java:108-124 allowedLateness + sideOutputLateData): the MAIN query is
    * a windowed agg whose watermark is delayed by the allowed lateness
    * (rows inside the lateness bound still join their open window); this
    * operator is the SIDE branch — a pass-through classifier over the same
    * watermark that captures exactly the rows the main agg drops (their
    * epoch-aligned window already finalized, i.e. window end ≤ watermark).
    * Dual-sink: run both queries over one source. */
  def lateSideOutput(s: SparkSession, events: DataFrame, windowMicros: Long,
                     allowedLateness: String): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              col("ts").cast("timestamp").as("_3"))
      .withWatermark("_3", allowedLateness)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, java.sql.Timestamp)], state: GroupState[Long]) => {
          val wm = state.getCurrentWatermarkMs() * 1000L
          it.filter { r =>
            val tsMicros = r._3.getTime * 1000 + (r._3.getNanos / 1000) % 1000
            val wEnd = (tsMicros / windowMicros) * windowMicros + windowMicros
            wEnd <= wm // the window this row belongs to is already finalized
          }.map(r => LateOut(key, r._2))
        })
      .toDF()
  }

  case class CepState(events: List[Cep.Ev], emitted: Int)
  case class CepOut(user_id: Long, click_id: Long, purchase_id: Long)

  case class CepTOState(events: List[Cep.Ev], emittedMatches: Int)
  /** side 0 = match (ref_id = purchase id); side 1 = timeout (ref_id =
    * expiry deadline in µs) — the main-output/side-output pair of the
    * reference's PatternStream.select(timeoutTag, ...) flattened into one
    * union-tagged stream. */
  case class CepTOOut(side: Int, user_id: Long, click_id: Long, ref_id: Long)

  /** Streaming CEP with timed-out partial matches — ref CepOperator +
    * TimedOutPartialMatchHandler: like [[cepClickPurchase]], but an anchor
    * (click) whose window [ts, ts+within) closes below the watermark with
    * no completed match is emitted on the timeout side exactly once — in
    * the same batch its state is pruned, so no extra bookkeeping exists.
    * An event-time timer armed at the EARLIEST pending deadline (ceil'd to
    * ms, always above the current watermark) makes the final no-data batch
    * flush expiries for keys that receive no further events; every
    * currently-expired anchor is emitted in that one invocation, so a
    * single no-data batch suffices (Spark re-runs only on watermark
    * change). */
  def cepClickPurchaseWithTimeouts(s: SparkSession, events: DataFrame,
                                   withinMinutes: Int): DataFrame = {
    import s.implicits._
    val withinMicros = withinMinutes * 60L * 1000000
    val pattern = Cep.Pattern(IndexedSeq(
      Cep.Step(_.eventType == "click"),
      Cep.Step(_.eventType == "purchase")), withinMicros = withinMicros)
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              col("event_type").as("_3"), expr("unix_micros(ts)").as("_4"),
              expr("cast(floor(value * 100.0) as long)").as("_5"),
              col("ts").cast("timestamp").as("_6"))
      .withWatermark("_6", "0 seconds")
      .as[(Long, Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        cepTimeoutTransition(pattern, withinMicros))
      .toDF()
  }

  /** One keyed CEP state transition (buffer merge → match scan → expiry
    * emission → prune → timer re-arm) — the exact function
    * [[cepClickPurchaseWithTimeouts]] runs, exposed so StateHarnessSpec
    * can drive crafted element/watermark/timer sequences directly
    * (mirrors flink-cep CEPOperatorTest.testKeyedAdvancingTimeWithoutElements
    * and testCEPOperatorCleanupEventTime — ref flink-libraries/flink-cep/
    * .../operator/CEPOperatorTest.java:282,565). */
  private[graft] def cepTimeoutTransition(pattern: Cep.Pattern, withinMicros: Long)(
      key: Long, it: Iterator[(Long, Long, String, Long, Long, java.sql.Timestamp)],
      state: GroupState[CepTOState]): Iterator[CepTOOut] = {
    val wm = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(CepTOState(Nil, 0))
    val all = (st.events ++ it.map(e => Cep.Ev(e._1, e._2, e._3, e._4, e._5)))
      .sortBy(e => (e.tsMicros, e.eventId))
    val ms = Cep.matches(all.toIndexedSeq, pattern).toList
    val newMatches = ms.drop(st.emittedMatches)
    val cutoff = wm - withinMicros
    val matchedStarts = ms.map(_.startId).toSet
    // expired anchors: window closed below the watermark, never matched
    val timeouts = all.filter(e => e.eventType == "click" &&
        e.tsMicros <= cutoff && !matchedStarts(e.eventId))
      .map(e => CepTOOut(1, e.userId, e.eventId, e.tsMicros + withinMicros))
    val kept = all.filter(_.tsMicros > cutoff)
    state.update(CepTOState(kept, ms.count(_.startTsMicros > cutoff)))
    // every kept anchor's deadline is > wm, so the ceil'd ms timer is
    // strictly in the future — Spark rejects timers at/below the wm
    kept.filter(_.eventType == "click").map(_.tsMicros + withinMicros)
      .minOption.foreach(dl => state.setTimeoutTimestamp((dl + 999) / 1000))
    (newMatches.map(m => CepTOOut(0, m.userId, m.startId, m.endId)) ++ timeouts).iterator
  }

  /** Streaming CEP — ref CepOperator.java:83: keyed state buffers the
    * per-key event history; each batch appends, re-sorts by event time and
    * emits only matches beyond the already-emitted count.
    *
    * State is BOUNDED by watermark pruning (the reference prunes its
    * SharedBuffer the same way): an event at ts ≤ watermark − within can
    * only complete matches whose every event is ≤ watermark — all found by
    * now — so it is evicted after each batch. Match search scans only
    * suffix-started windows, so prefix eviction never changes results.
    *
    * @param stateGauge optional max-state-size gauge (events buffered per
    *        key, max over keys/batches) — the Flink-style state metric,
    *        used by StreamingSpec to pin boundedness. */
  def cepClickPurchase(s: SparkSession, events: DataFrame, withinMinutes: Int,
                       stateGauge: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import s.implicits._
    val withinMicros = withinMinutes * 60L * 1000000
    val pattern = Cep.Pattern(IndexedSeq(
      Cep.Step(_.eventType == "click"),
      Cep.Step(_.eventType == "purchase")), withinMicros = withinMicros)
    events
      .select(col("user_id").cast("long").as("_1"), col("event_id").cast("long").as("_2"),
              col("event_type").as("_3"), expr("unix_micros(ts)").as("_4"),
              expr("cast(floor(value * 100.0) as long)").as("_5"),
              col("ts").cast("timestamp").as("_6")) // watermark col must survive grouping
      .withWatermark("_6", "0 seconds")
      .as[(Long, Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, String, Long, Long, java.sql.Timestamp)],
         state: GroupState[CepState]) => {
          val wm = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(CepState(Nil, 0))
          val all = (st.events ++ it.map(e => Cep.Ev(e._1, e._2, e._3, e._4, e._5)))
            .sortBy(e => (e.tsMicros, e.eventId))
          val ms = Cep.matches(all.toIndexedSeq, pattern).toList
          val cutoff = wm - withinMicros // wm ≥ 0, within bounded → no overflow
          val kept = all.filter(_.tsMicros > cutoff)
          stateGauge.foreach(_.add(kept.length.toLong)) // per-batch buffered-events metric
          state.update(CepState(kept, ms.count(_.startTsMicros > cutoff)))
          ms.drop(st.emitted).iterator.map(m => CepOut(m.userId, m.startId, m.endId))
        })
      .toDF()
  }

  /** Streaming partitioned filesystem sink with PARTITION-TIME COMMIT —
    * ref FileSystemTableSink's `sink.partition-commit.trigger =
    * 'partition-time'` + the success-file commit policy
    * (flink-table-runtime-blink/.../filesystem/stream/
    * PartitionTimeCommitTigger.java, PartitionCommitter.java): each
    * micro-batch appends into `p_bucket=<epoch-sec>/` partition dirs, the
    * sink tracks the watermark (max event time − delay), and a partition
    * is COMMITTED — its `_SUCCESS` marker written — once the watermark
    * passes the partition's end time. Downstream batch readers (the whole
    * point of the feature) consume only committed partitions.
    *
    * Spark spelling: `foreachBatch` + `write.partitionBy` (dynamic
    * partition append) with the commit ledger maintained across batches in
    * the closure — the same driver-side role Flink's PartitionCommitter
    * plays on the JobManager. Late rows arriving after a partition
    * committed still land in the partition's files (Flink behaves the
    * same; the marker is not retracted).
    *
    * Returns the committed partition read-back (only dirs bearing
    * `_SUCCESS`), which at 100 TB is a selective-path read, never a full
    * dir scan. */
  def partitionCommitRun(s: SparkSession, src: DataFrame, outDir: String,
                         bucketSec: Long, delaySec: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    wipe(outDir)
    var wmSec = Long.MinValue
    val committed = scala.collection.mutable.Set[Long]()
    withStreamingConf(src)(src.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val withP = df.withColumn("p_bucket",
          (floor(unix_timestamp(col("ts").cast("timestamp")) / bucketSec) * bucketSec).cast("long"))
        // cluster by the partition key before the dynamic-partition write —
        // otherwise every task writes a sliver into every partition dir
        // (tasks × partitions small files, the classic 100 TB sink mistake)
        withP.repartition(col("p_bucket"))
          .write.mode("append").partitionBy("p_bucket").parquet(outDir)
        // advance the watermark from this batch's max event time (driver
        // scalar — one tiny agg per micro-batch, like the JM's wm tracking)
        val mx = withP.agg(max(unix_timestamp(col("ts").cast("timestamp")))).collect()(0)
        if (!mx.isNullAt(0)) wmSec = math.max(wmSec, mx.getLong(0) - delaySec)
        // commit every partition whose END the watermark has passed
        val base = java.nio.file.Paths.get(outDir)
        if (java.nio.file.Files.exists(base)) {
          import scala.jdk.CollectionConverters._
          // close the directory stream — one leaked fd per micro-batch
          // adds up across a long-lived verify/bench JVM
          val ls = java.nio.file.Files.list(base)
          try {
            ls.iterator().asScala
              .filter(_.getFileName.toString.startsWith("p_bucket="))
              .foreach { dir =>
                val bucket = dir.getFileName.toString.stripPrefix("p_bucket=").toLong
                if (bucket + bucketSec <= wmSec && !committed(bucket)) {
                  java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
                  committed += bucket
                }
              }
          } finally ls.close()
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", {
        val c = s"$scratchRoot/ckpt/${ProcessHandle.current().pid()}/pcommit_${counter.incrementAndGet()}"
        wipe(c); c
      })
      .start()
      .awaitTermination())
    val dirs = committed.toSeq.sorted.map(b => s"$outDir/p_bucket=$b")
    if (dirs.isEmpty) s.emptyDataFrame
    else s.read.option("basePath", outDir).parquet(dirs: _*)
  }
}
