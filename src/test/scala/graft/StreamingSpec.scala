package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Multi-batch INCREMENTAL semantics of the stateful streaming operators —
  * the part the bounded DuckDB oracle can't see (it only checks the
  * single-batch materialization). MemoryStream lets us control batch
  * boundaries, like the reference's operator harness tests. */
/** Deterministic stand-in for the wall clock (singleton survives closure
  * round-trips in local mode, so the test drives the operator's clock). */
object FakeClock { @volatile var now: Long = 0L }

class StreamingSpec extends SparkTestBase {

  case class Raw(user_id: Long, event_id: Long, event_type: String, tsSec: Long, value: Double)

  private def toEvents(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("ts", expr("timestamp_micros(tsSec * 1000000)")).drop("tsSec")

  test("topN state merges across micro-batches (bounded per-key state)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.topNPerType(s, toEvents(in.toDF()), 2)
      .writeStream.format("memory").queryName("topn_t").outputMode("update").start()
    in.addData(Raw(1, 10, "click", 0, 5.0), Raw(1, 11, "click", 1, 9.0), Raw(1, 12, "click", 2, 1.0))
    q.processAllAvailable()
    val b1 = s.table("topn_t").as[(String, Int, Long, Long)].collect().toSet
    assert(b1 == Set(("click", 1, 11L, 900L), ("click", 2, 10L, 500L)))
    // batch 2: a new top value displaces rank 2; state kept only top-2
    in.addData(Raw(1, 13, "click", 3, 7.0))
    q.processAllAvailable()
    val all = s.table("topn_t").as[(String, Int, Long, Long)].collect()
    q.stop()
    // update-mode sink accumulates; the LAST emission per key is the refreshed top-2
    val last = all.takeRight(2).toSet
    assert(last == Set(("click", 1, 11L, 900L), ("click", 2, 13L, 700L)))
  }

  test("ttlDedup re-admits a key after the event-time TTL; state survives batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.ttlDedup(s, toEvents(in.toDF()), 3600L * 1000000)
      .writeStream.format("memory").queryName("ttl_t").outputMode("append").start()
    // ts=10 not 0: a row AT the 0s-delay watermark (strict >) would be
    // dropped before the operator (see graft-spark4-pitfalls)
    in.addData(Raw(1, 1, "click", 10, 0.0), Raw(1, 2, "click", 600, 0.0))
    q.processAllAvailable()
    assert(s.table("ttl_t").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "click", 1L)))
    // batch 2: one more inside the TTL (dropped against the batch-1 state),
    // one past it (re-admitted), one inside the NEW admission's TTL (dropped)
    in.addData(Raw(1, 3, "click", 1800, 0.0), Raw(1, 4, "click", 5000, 0.0),
               Raw(1, 5, "click", 5500, 0.0))
    q.processAllAvailable()
    val out = s.table("ttl_t").as[(Long, String, Long)].collect().toSet
    q.stop()
    assert(out == Set((1L, "click", 1L), (1L, "click", 4L)))
  }

  test("transformWithState: ValueState/ListState/MapState carry across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val tws = StreamOps.twsKeyedProcess(s, toEvents(in.toDF()))
    val rows = StreamOps.withStreamingConf(tws) {
      val q = tws.writeStream.format("memory").queryName("tws_t").outputMode("append").start()
      try {
        in.addData(Raw(1, 1, "click", 10, 1.0), Raw(1, 2, "view", 20, 2.0))
        q.processAllAvailable()
        // batch 2: the running count, the last-3 ring and the per-type map
        // all continue from batch-1 state
        in.addData(Raw(1, 3, "click", 30, 3.0), Raw(1, 4, "click", 40, 4.0))
        q.processAllAvailable()
        s.table("tws_t").as[(Long, Long, Long, Long, Long)].collect().toSet
      } finally q.stop()
    }
    assert(rows == Set(
      (1L, 1L, 1L, 100L, 1L),        // first click: ring=[100]
      (1L, 2L, 2L, 300L, 1L),        // first view: ring=[200,100]
      (1L, 3L, 3L, 600L, 2L),        // second click: ring=[300,200,100]
      (1L, 4L, 4L, 900L, 3L)))       // third click: ring=[400,300,200]
  }

  test("transformWithState TTL: an untouched ValueState expires (StateTtlConfig analog)") {
    val s = spark
    import s.implicits._
    val base = s"${StreamOps.scratchRoot}/twsttl"
    StreamOps.wipeDir(base)
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit =
      StreamOps.stageBatch(base, src, name, rows.toDF("user_id", "event_id"))
    @annotation.nowarn("cat=deprecation")
    def run(): Unit = {
      // Trigger.Once two-run harness: processing-time mode always reports
      // shouldRunAnotherBatch, so AvailableNow / processAllAvailable would
      // never terminate (same trap as procTimeDebounce)
      val stream = s.readStream.schema("user_id LONG, event_id LONG").parquet(src)
      val tws = StreamOps.twsTtlCounter(s, stream, ttlMs = 1000)
      StreamOps.withStreamingConf(tws)(tws.writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once()).start()
        .awaitTermination())
    }
    addFile("f0", Seq((1L, 1L), (1L, 2L)))
    run() // counter reaches 2; TTL clock starts at the batch's write
    Thread.sleep(3000) // let the 1s TTL lapse while stopped (wide margin)
    addFile("f1", Seq((1L, 3L)))
    run() // restart: the stored counter has expired — restarts at 1
    val rows = s.read.parquet(out).as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 1L)))
  }

  test("transformWithState timers: delete+re-register supersedes; onTimer fires on watermark") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val tws = StreamOps.twsInactivityAlert(s, toEvents(in.toDF()), gapMs = 30000)
    val rows = StreamOps.withStreamingConf(tws) {
      val q = tws.writeStream.format("memory").queryName("twstimer_t").outputMode("append").start()
      try {
        // two events for key 1: the second DELETES the 10s+30s timer and
        // re-registers at 20s+30s (the Flink supersede idiom)
        in.addData(Raw(1, 1, "click", 10, 0.0), Raw(1, 2, "click", 20, 0.0))
        q.processAllAvailable()
        // key 2 at 100s pushes the watermark past key 1's 50s deadline → onTimer
        in.addData(Raw(2, 3, "click", 100, 0.0))
        q.processAllAvailable()
        assert(s.table("twstimer_t").as[(Long, Long)].collect().toSet == Set((1L, 50000L)))
        // key 2's own 130s deadline fires once the watermark passes it
        in.addData(Raw(3, 4, "click", 200, 0.0))
        q.processAllAvailable()
        s.table("twstimer_t").as[(Long, Long)].collect().toSet
      } finally q.stop()
    }
    assert(rows == Set((1L, 50000L), (2L, 130000L)))
  }

  test("streaming CEP emits only new matches per batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.cepClickPurchase(s, toEvents(in.toDF()), withinMinutes = 10)
      .writeStream.format("memory").queryName("cep_t").outputMode("update").start()
    in.addData(Raw(7, 1, "click", 0, 0.0), Raw(7, 2, "purchase", 30, 0.0))
    q.processAllAvailable()
    assert(s.table("cep_t").count() == 1)
    // batch 2: a second adjacent pair arrives later; first match NOT re-emitted
    in.addData(Raw(7, 3, "click", 100, 0.0), Raw(7, 4, "purchase", 130, 0.0))
    q.processAllAvailable()
    val rows = s.table("cep_t").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((7L, 1L, 2L), (7L, 3L, 4L)))
  }

  test("streaming CEP prunes state below watermark - within, same emissions") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val gauge = s.sparkContext.longAccumulator("cep_state_events")
    val q = StreamOps.cepClickPurchase(s, toEvents(in.toDF()), withinMinutes = 10,
        stateGauge = Some(gauge))
      .writeStream.format("memory").queryName("cep_p").outputMode("update").start()
    // batch 1: a match at t≈0 plus a dangling click
    in.addData(Raw(9, 1, "click", 0, 0.0), Raw(9, 2, "purchase", 30, 0.0),
               Raw(9, 3, "click", 60, 0.0))
    q.processAllAvailable()
    // batch 2: advance the watermark far past 600s (within) — the t≤wm-600s
    // prefix (events 1-3) must be evicted after this batch
    in.addData(Raw(9, 4, "click", 5000, 0.0))
    q.processAllAvailable()
    // batch 3: purchase pairs with the batch-2 click (cross-batch match
    // survives pruning); the ancient clicks must not re-match or re-emit
    in.addData(Raw(9, 5, "purchase", 5100, 0.0))
    q.processAllAvailable()
    val rows = s.table("cep_p").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((9L, 1L, 2L), (9L, 4L, 5L)))
    // bounded state: batches buffered ≤ 3+4+2 events total; unpruned history
    // would re-buffer all 5 events in batch 3 (sum ≥ 3+4+5)
    assert(gauge.value <= 9, s"state not pruned: ${gauge.value} events buffered")
  }

  test("changelog left-outer join: null-pad, retract on first right, restore on last-right retract") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Int, String, Long, Long)] // key, side, kind, id, seq
    val q = graft.streaming.StreamJoin.changelogJoin(
        s, in.toDF().toDF("key", "side", "kind", "id", "seq"), "left_outer")
      .writeStream.format("memory").queryName("clj").outputMode("update").start()
    def rows() = s.table("clj").as[(String, Long, Option[Long], Option[Long])].collect().toSeq

    in.addData((1L, 0, "+I", 100L, 1L)) // left arrives, no right yet
    q.processAllAvailable()
    assert(rows() == Seq(("+I", 1L, Some(100L), None)))

    in.addData((1L, 1, "+I", 200L, 2L)) // first right: retract null-pad, join
    q.processAllAvailable()
    assert(rows().drop(1) == Seq(("-D", 1L, Some(100L), None), ("+I", 1L, Some(100L), Some(200L))))

    in.addData((1L, 1, "-D", 200L, 3L)) // last right retracts: null-pad returns
    q.processAllAvailable()
    assert(rows().drop(3) == Seq(("-D", 1L, Some(100L), Some(200L)), ("+I", 1L, Some(100L), None)))
    q.stop()
  }

  test("changelog semi/anti join emit and retract on the 0<->1 right-count transitions") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def run(joinType: String): Seq[(String, Long, Option[Long], Option[Long])] = {
      val in = MemoryStream[(Long, Int, String, Long, Long)]
      val q = graft.streaming.StreamJoin.changelogJoin(
          s, in.toDF().toDF("key", "side", "kind", "id", "seq"), joinType)
        .writeStream.format("memory").queryName(s"clj_$joinType").outputMode("update").start()
      in.addData((1L, 0, "+I", 100L, 1L)); q.processAllAvailable() // left, no right
      in.addData((1L, 1, "+I", 200L, 2L)); q.processAllAvailable() // right count 0->1
      in.addData((1L, 1, "-D", 200L, 3L)); q.processAllAvailable() // right count 1->0
      val out = s.table(s"clj_$joinType").as[(String, Long, Option[Long], Option[Long])].collect().toSeq
      q.stop(); out
    }
    assert(run("semi") == Seq(("+I", 1L, Some(100L), None), ("-D", 1L, Some(100L), None)))
    assert(run("anti") == Seq(("+I", 1L, Some(100L), None), ("-D", 1L, Some(100L), None),
                              ("+I", 1L, Some(100L), None)))
  }

  test("retractable topN re-ranks on -U/+U and re-admits runner-up on -D") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(String, String, String, Long, Long)] // kind,pkey,id,value,seq
    val q = graft.streaming.RetractableTopN.retractableTopN(
        s, in.toDF().toDF("kind", "pkey", "id", "value", "seq"), 2)
      .writeStream.format("memory").queryName("rtopn").outputMode("update").start()
    def last(k: Int) = s.table("rtopn").as[(String, Long, Int, String, Long)]
      .collect().toSeq.sortBy(r => (r._2, r._3)).takeRight(k).map(r => (r._3, r._4, r._5))

    in.addData(("+I", "p", "a", 10L, 0L), ("+I", "p", "b", 8L, 0L), ("+I", "p", "c", 5L, 0L))
    q.processAllAvailable()
    assert(last(2) == Seq((1, "a", 10L), (2, "b", 8L)))
    // update flips the ranking: c overtakes a; b retracted entirely
    in.addData(("-U", "p", "c", 5L, 0L), ("+U", "p", "c", 20L, 1L), ("-D", "p", "b", 8L, 0L))
    q.processAllAvailable()
    assert(last(2) == Seq((1, "c", 20L), (2, "a", 10L)))
    // retracting the leader re-admits the runner-up set
    in.addData(("-D", "p", "c", 20L, 0L))
    q.processAllAvailable()
    val fin = last(1)
    q.stop()
    assert(fin == Seq((1, "a", 10L)))
  }

  test("bounded over-agg frames span batches; evicted rows leave the frame") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    // RANGE 100s trailing frame
    val q = StreamOps.boundedOverAgg(s, toEvents(in.toDF()), "range", 100L * 1000000)
      .writeStream.format("memory").queryName("bover").outputMode("update").start()
    in.addData(Raw(1, 1, "e", 0, 1.0), Raw(1, 2, "e", 50, 2.0))
    q.processAllAvailable()
    // batch 2: row at 120 sees row@50 (within 100s) but NOT row@0 (evicted
    // AND out of frame); row at 300 sees only itself
    in.addData(Raw(1, 3, "e", 120, 4.0), Raw(1, 4, "e", 300, 8.0))
    q.processAllAvailable()
    val rows = s.table("bover").as[(Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    q.stop()
    assert(rows(1L) == ((100L, 1L)))       // itself
    assert(rows(2L) == ((300L, 2L)))       // 0+50 both in frame
    assert(rows(3L) == ((600L, 2L)))       // 50+120, row@0 out of frame
    assert(rows(4L) == ((800L, 1L)))       // alone
  }

  test("streaming dropDuplicates keeps first across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val dd = toEvents(in.toDF()).dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_id"))
    val q = dd.writeStream.format("memory").queryName("dd_t").outputMode("append").start()
    in.addData(Raw(1, 1, "click", 0, 0.0))
    q.processAllAvailable()
    in.addData(Raw(1, 2, "click", 5, 0.0), Raw(2, 3, "click", 6, 0.0))
    q.processAllAvailable()
    val rows = s.table("dd_t").as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((1L, 1L), (2L, 3L))) // event 2 deduped by state from batch 1
  }

  test("temporal sort flushes below-watermark rows in event-time order") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.temporalSort(s, toEvents(in.toDF()))
      .writeStream.format("memory").queryName("tsort_t").outputMode("update").start()
    in.addData(Raw(1, 10, "a", 50, 0.0), Raw(1, 11, "a", 20, 0.0), Raw(1, 12, "a", 80, 0.0))
    q.processAllAvailable()
    assert(s.table("tsort_t").count() == 0) // watermark still behind — all buffered
    in.addData(Raw(1, 13, "a", 100, 0.0)) // advances watermark to 80s
    q.processAllAvailable()
    val rows2 = s.table("tsort_t").as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    q.stop()
    assert(rows2.map(_._2).toSeq == Seq(11L, 10L, 12L)) // event-time order, ts<=watermark only
    assert(rows2.map(_._4).toSeq == Seq(1L, 2L, 3L)) // per-key emission counter
  }

  test("processing-time timers fire after the wall-clock duration (onTimer flush)") {
    // two checkpointed AvailableNow runs — a ProcessingTimeTimeout query
    // under a continuous trigger re-batches forever (shouldRunAnotherBatch),
    // so the deterministic harness is stop + restart: the timer is armed in
    // run 1, survives the checkpoint, and fires on run 2's first batch.
    val s = spark
    import s.implicits._
    val base = "/tmp/graft_proctimer"
    StreamOps.wipeDir(base)
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit =
      StreamOps.stageBatch(base, src, name, rows.toDF("user_id", "event_id"))
    @annotation.nowarn("cat=deprecation")
    def run(): Unit = {
      val stream = s.readStream.schema("user_id LONG, event_id LONG").parquet(src)
      val q = StreamOps.procTimeDebounce(s, stream, durationMs = 500)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        // Trigger.Once, NOT AvailableNow: a ProcessingTimeTimeout query
        // always reports shouldRunAnotherBatch, so AvailableNow never
        // reaches its "done" condition; Once runs exactly one batch
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    addFile("f0", Seq((1L, 10L), (1L, 11L)))
    run() // arms key 1's 500ms timer; nothing flushed
    assert(s.read.parquet(out).count() == 0)
    Thread.sleep(800) // let the wall-clock deadline lapse while stopped
    addFile("f1", Seq((2L, 20L)))
    run() // restart: processes f1 AND fires key 1's expired timer
    val rows = s.read.parquet(out).as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 2L))) // buffered count flushed exactly once
  }

  test("event-time timers honor microsecond deadlines (no sub-ms early fire)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val src = in.toDF().select(col("_1").as("user_id"), col("_2").as("event_id"),
      expr("timestamp_micros(_3)").as("ts"))
    val q = StreamOps.inactivityTimeout(s, src, gapMicros = 500L)
      .writeStream.format("memory").queryName("ustimer_t").outputMode("update").start()
    val t = 1000000000L // 1000s in µs, ms-aligned
    in.addData((2L, 20L, t)) // batch 1: advances watermark to 1000000 ms
    q.processAllAvailable()
    // batch 2: user 1 at t+200µs (just above the watermark, same ms); its
    // timer lands at t+700µs — INSIDE the current-watermark millisecond. A
    // ms-truncated comparison would fire it immediately (~0.3ms early); the
    // µs comparison must keep it pending.
    in.addData((1L, 10L, t + 200L))
    q.processAllAvailable()
    assert(s.table("ustimer_t").count() == 0)
    // batch 3: watermark sweeps past both pending timers → both fire, with
    // the exact µs deadline in the payload
    in.addData((3L, 30L, t + 2000000L))
    q.processAllAvailable()
    val rows = s.table("ustimer_t").as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((1L, 10L, t + 200L, t + 700L), (2L, 20L, t, t + 500L)))
  }

  test("late events beyond the watermark are dropped from windowed aggs") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val agg = toEvents(in.toDF())
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_t").outputMode("append").start()
    in.addData(Raw(1, 1, "a", 10, 0.0), Raw(1, 2, "a", 90, 0.0)) // wm → 90s, window[0,60) closes
    q.processAllAvailable()
    in.addData(Raw(1, 3, "a", 15, 0.0)) // LATE: belongs to the closed window
    q.processAllAvailable()
    in.addData(Raw(1, 4, "a", 200, 0.0)) // close window [60,120)
    q.processAllAvailable()
    val rows = s.table("late_t").as[(java.sql.Timestamp, Long)].collect()
      .map { case (ts, n) => (ts.getTime / 1000, n) }.toMap
    q.stop()
    assert(rows(0L) == 1L)  // late event 3 did NOT reopen the closed window
    assert(rows(60L) == 1L)
  }

  test("streaming as-of join matches lefts to the latest right version at or before their ts") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    case class Tag(key: Long, side: Int, tsMicros: Long, id: Long, sec: Long)
    val in = MemoryStream[(Long, Int, Long, Long)] // key, side, sec, id
    val tagged = in.toDF().toDF("key", "side", "sec", "id")
      .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
      .withColumn("tsMicros", expr("sec * 1000000"))
    val q = StreamOps.streamingAsOf(s, tagged)
      .writeStream.format("memory").queryName("asof_t").outputMode("update").start()
    // batch 1: right versions at t=10, t=20; a left at t=15 (held: wm=0)
    in.addData((1L, 0, 10L, 100L), (1L, 0, 20L, 101L), (1L, 1, 15L, 500L))
    q.processAllAvailable()
    assert(s.table("asof_t").count() == 0)
    // batch 2: watermark advanced past 15 → left 500 matches version 100 (ts10 ≤ 15 < ts20)
    in.addData((1L, 1, 30L, 501L))
    q.processAllAvailable()
    val r1 = s.table("asof_t").as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((1L, 500L, 100L)))
    // batch 3: advance watermark past 30 → left 501 matches version 101
    in.addData((1L, 0, 100L, 102L))
    q.processAllAvailable()
    val r2 = s.table("asof_t").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(r2 == Set((1L, 500L, 100L), (1L, 501L, 101L)))
  }

  test("streaming as-of prunes right versions below the watermark; output unchanged") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Int, Long, Long)] // key, side, sec, id
    val tagged = in.toDF().toDF("key", "side", "sec", "id")
      .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
      .withColumn("tsMicros", expr("sec * 1000000"))
    val gauge = s.sparkContext.longAccumulator("asof_state")
    val q = StreamOps.streamingAsOf(s, tagged, Some(gauge))
      .writeStream.format("memory").queryName("asof_prune").outputMode("update").start()
    // batch 1: TEN right versions (t=1..10) + a held left at t=5; wm=0 → nothing prunes yet
    in.addData(((1L to 10L).map(i => (1L, 0, i, 100L + i)) :+ ((1L, 1, 5L, 500L))): _*)
    q.processAllAvailable()
    // batch 2: wm=10 → left(5) ripens against version t=5; versions 1..9 are
    // now superseded below the watermark and must be pruned to just t=10
    in.addData((1L, 1, 30L, 501L))
    q.processAllAvailable()
    // batch 3: wm=30 → left(30) must still match the KEPT survivor (t=10)
    in.addData((1L, 0, 100L, 200L))
    q.processAllAvailable()
    val rows = s.table("asof_prune").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((1L, 500L, 105L), (1L, 501L, 110L)))
    // state kept per batch: 11 (nothing prunable) + 2 (survivor + pending
    // left) + 2 (survivor + new above-wm right); unpruned history would
    // re-store all 10 versions every batch (≥ 11 + 11 + 12)
    assert(gauge.value <= 15, s"right-version state not pruned: ${gauge.value}")
  }

  test("windowed coGroup merges both side buffers across batches; empty sides emit") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Int, Long, Long)] // key, side, id, sec
    val tagged = in.toDF().toDF("key", "side", "id", "sec")
      .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
    val q = StreamOps.windowCoGroup(s, tagged, "10 seconds")
      .writeStream.format("memory").queryName("wcg").outputMode("complete").start()
    // batch 1: window [0,10) gets one left; window [10,20) gets one right
    in.addData((1L, 0, 100L, 2L), (1L, 1, 900L, 12L))
    q.processAllAvailable()
    // batch 2: both windows gain rows — buffers must MERGE, not reset
    in.addData((1L, 0, 101L, 3L), (1L, 1, 901L, 4L), (1L, 0, 102L, 13L))
    q.processAllAvailable()
    val rows = s.table("wcg").as[(Long, java.sql.Timestamp, Seq[Long], Seq[Long])]
      .collect().map(r => (r._2.getTime / 1000, r._3, r._4)).toSet
    q.stop()
    assert(rows == Set(
      (0L, Seq(100L, 101L), Seq(901L)),   // both sides
      (10L, Seq(102L), Seq(900L))))       // cross-batch sides
  }

  test("upsert source normalizes to +I/-U/+U/-D; null payload deletes; re-insert after delete") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Option[Long], Long)] // key, value (None = tombstone), seq
    val q = StreamOps.upsertChangelog(s, in.toDF().toDF("key", "value", "seq"))
      .writeStream.format("memory").queryName("upsert_t").outputMode("update").start()
    def rows() = s.table("upsert_t").as[(String, Long, Long)].collect().toSeq

    in.addData((1L, Some(10L), 1L)) // new key
    q.processAllAvailable()
    assert(rows() == Seq(("+I", 1L, 10L)))

    in.addData((1L, Some(20L), 2L), (1L, None, 3L)) // overwrite, then tombstone
    q.processAllAvailable()
    assert(rows().drop(1) == Seq(("-U", 1L, 10L), ("+U", 1L, 20L), ("-D", 1L, 20L)))

    in.addData((1L, None, 4L), (1L, Some(30L), 5L)) // absent-tombstone no-op; re-insert
    q.processAllAvailable()
    val fin = rows().drop(4)
    q.stop()
    assert(fin == Seq(("+I", 1L, 30L)))
  }

  test("changelog join idle-state TTL evicts idle keys; active keys unaffected") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def run(ttlMicros: Long): Set[(String, Long, Option[Long], Option[Long])] = {
      val in = MemoryStream[(Long, Int, String, Long, Long, Long)] // key side kind id seq sec
      val tagged = in.toDF().toDF("key", "side", "kind", "id", "seq", "sec")
        .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
      val q = graft.streaming.StreamJoin.changelogJoin(s, tagged, "inner", ttlMicros)
        .writeStream.format("memory").queryName(s"clj_ttl_$ttlMicros")
        .outputMode("update").start()
      // b1: a LEFT buffered for key 1 (goes idle) and key 2 (stays active)
      in.addData((1L, 0, "+I", 100L, 1L, 10L), (2L, 0, "+I", 200L, 2L, 10L))
      q.processAllAvailable()
      // b2+b3: only key 2 active; the watermark sweeps past key 1's
      // deadline (10s + 120s TTL) during b3 → its buffers evicted
      in.addData((2L, 0, "+I", 201L, 3L, 200L)); q.processAllAvailable()
      in.addData((2L, 0, "+I", 202L, 4L, 400L)); q.processAllAvailable()
      // b4: a RIGHT lands on both keys
      in.addData((1L, 1, "+I", 900L, 5L, 500L), (2L, 1, "+I", 901L, 6L, 500L))
      q.processAllAvailable()
      val out = s.table(s"clj_ttl_$ttlMicros")
        .as[(String, Long, Option[Long], Option[Long])].collect().toSet
      q.stop(); out
    }
    val active = Set[(String, Long, Option[Long], Option[Long])](
      ("+I", 2L, Some(200L), Some(901L)), ("+I", 2L, Some(201L), Some(901L)),
      ("+I", 2L, Some(202L), Some(901L)))
    // TTL on: key 1's idle left was dropped → its right joins nothing;
    // key 2's output identical to the no-TTL run
    assert(run(120L * 1000000) == active)
    // TTL off: the idle key's left is retained forever and still joins
    assert(run(0L) == active + (("+I", 1L, Some(100L), Some(900L))))
  }

  test("retractable topN idle-state TTL drops an idle partition's ranking; re-admits fresh") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def run(ttlMicros: Long): (Int, Seq[(Int, Long)]) = {
      val in = MemoryStream[(String, String, String, Long, Long, Long)] // kind,pkey,id,value,seq,sec
      val tagged = in.toDF().toDF("kind", "pkey", "id", "value", "seq", "sec")
        .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
      val q = graft.streaming.RetractableTopN.retractableTopN(s, tagged, 2, ttlMicros)
        .writeStream.format("memory").queryName(s"rtopn_ttl_$ttlMicros")
        .outputMode("update").start()
      in.addData(("+I", "p1", "a", 10L, 0L, 10L), ("+I", "p2", "x", 7L, 0L, 10L))
      q.processAllAvailable()
      in.addData(("+I", "p2", "y", 3L, 1L, 200L)); q.processAllAvailable()
      in.addData(("+I", "p2", "z", 1L, 2L, 400L)); q.processAllAvailable() // p1 evicts here
      in.addData(("+I", "p1", "b", 5L, 3L, 500L)); q.processAllAvailable()
      val all = s.table(s"rtopn_ttl_$ttlMicros")
        .as[(String, Long, Int, String, Long)].collect().toSeq.filter(_._1 == "p1")
      q.stop()
      // the rank b lands at discriminates eviction (the evicted partition
      // restarts its epoch, so max-epoch can't): rank 1 iff a was dropped
      (all.size, all.filter(_._4 == "b").map(r => (r._3, r._5)))
    }
    // TTL on: the idle p1 ranking was dropped — b rebuilds it from empty
    // at rank 1 (2 total p1 emissions: [a] then [b])
    assert(run(120L * 1000000) == ((2, Seq((1, 5L)))))
    // TTL off: a survives and outranks b (3 total: [a] then [a, b])
    assert(run(0L) == ((3, Seq((2, 5L)))))
  }

  test("keyed tumbling window aggregate via the DataStream facade") {
    val s = spark
    import s.implicits._
    val env = new graft.datastream.DataStreamEnv(s)
    val data = env.fromDataset(s.createDataset(Seq(
      (1L, 5000L, 2.0), (1L, 8000L, 3.0), (1L, 12000L, 10.0), (2L, 1000L, 7.0))))
    val out = data.keyByWindowed(_._1, _._2, sizeMillis = 10000L)
      .aggregate(0.0)((acc, t) => acc + t._3)((k, ws, a) => (k, ws, a))
      .collect().toSet
    assert(out == Set((1L, 0L, 5.0), (1L, 10000L, 10.0), (2L, 0L, 7.0)))
  }

  test("update-mode windowed agg emits early partials then refinements (early-fire)") {
    // Flink table.exec.emit.early-fire ≈ Spark Update mode: every
    // micro-batch emits the refreshed aggregate of each touched window —
    // an early partial before the window closes, refined by later batches
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val agg = toEvents(in.toDF())
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("user_id"), col("n"))
    val q = agg.writeStream.format("memory").queryName("earlyfire_t")
      .outputMode("update").start()
    in.addData(Raw(1, 10, "a", 5, 0.0), Raw(1, 11, "a", 20, 0.0))
    q.processAllAvailable()
    val first = s.table("earlyfire_t").as[(java.sql.Timestamp, Long, Long)].collect().toSeq
    assert(first.map(r => (r._2, r._3)) == Seq((1L, 2L))) // early partial: n=2
    in.addData(Raw(1, 12, "a", 40, 0.0)) // same 1-minute window
    q.processAllAvailable()
    val all = s.table("earlyfire_t").as[(java.sql.Timestamp, Long, Long)].collect().toSeq
    q.stop()
    assert(all.map(r => (r._2, r._3)) == Seq((1L, 2L), (1L, 3L))) // refinement emitted
  }

  test("watermarked tumbling agg finalizes windows in append mode") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val agg = toEvents(in.toDF())
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_t").outputMode("append").start()
    in.addData(Raw(1, 1, "click", 10, 0.0), Raw(1, 2, "click", 20, 0.0))
    q.processAllAvailable()
    assert(s.table("wm_t").count() == 0) // window [0,60) not yet below watermark
    in.addData(Raw(1, 3, "click", 90, 0.0)) // advances watermark past 60s
    q.processAllAvailable()
    val rows = s.table("wm_t").as[(java.sql.Timestamp, Long)].collect()
    q.stop()
    assert(rows.map(_._2).toSeq == Seq(2L)) // finalized first window only
  }

  test("procTimeOverAgg rows: ring state carries the trailing frame across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val src = toEvents(in.toDF()).withColumn("seq", col("event_id"))
    val q = StreamOps.procTimeOverAgg(s, src, "rows", 3L)
      .writeStream.format("memory").queryName("procrows_t").outputMode("update").start()
    in.addData(Raw(1, 1, "c", 0, 1.0), Raw(1, 2, "c", 1, 2.0))
    q.processAllAvailable()
    in.addData(Raw(1, 3, "c", 2, 3.0), Raw(1, 4, "c", 3, 4.0))
    q.processAllAvailable()
    val rows = s.table("procrows_t").as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    q.stop()
    // trailing-3 frames across the batch boundary: id3 sees (1,2,3), id4 sees (2,3,4)
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1L, 100L, 1L), (2L, 300L, 2L), (3L, 600L, 3L), (4L, 900L, 3L)))
  }

  test("procTimeOverAgg range: per-row proc-time stamps evict across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(Long, Long, Double, Long)] // user, id, value, arrival stamp (ms)
    val src = in.toDF().toDF("user_id", "event_id", "value", "seq")
    val q = StreamOps.procTimeOverAgg(s, src, "range", 500L)
      .writeStream.format("memory").queryName("procrange_t").outputMode("update").start()
    in.addData((1L, 1L, 1.0, 1000L))
    q.processAllAvailable()
    in.addData((1L, 2L, 2.0, 1400L)) // first row's stamp (1000) inside [900, 1400]
    q.processAllAvailable()
    in.addData((1L, 3L, 3.0, 2000L)) // both prior stamps outside [1500, 2000] — evicted
    q.processAllAvailable()
    val rows = s.table("procrange_t").as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    q.stop()
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1L, 100L, 1L), (2L, 300L, 2L), (3L, 300L, 1L)))
  }

  test("rangeUnboundedOverAgg: ties share a frame; accumulator folds across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.rangeUnboundedOverAgg(s, toEvents(in.toDF()))
      .writeStream.format("memory").queryName("rangeunb_t").outputMode("update").start()
    in.addData(Raw(1, 1, "c", 10, 1.0), Raw(1, 2, "c", 10, 2.0)) // tie at ts=10
    q.processAllAvailable()
    in.addData(Raw(1, 3, "c", 20, 3.0)) // tie group must fold into the accumulator
    q.processAllAvailable()
    val rows = s.table("rangeunb_t").as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    q.stop()
    // RANGE semantics: both tie rows see the full tie-group frame (300, n=2)
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1L, 300L, 2L), (2L, 300L, 2L), (3L, 600L, 3L)))
  }

  test("streaming CEP timeouts fire once, only for unmatched anchors") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Raw]
    val q = StreamOps.cepClickPurchaseWithTimeouts(s, toEvents(in.toDF()), 10)
      .writeStream.format("memory").queryName("cepto_t").outputMode("update").start()
    // two clicks; only the first gets a purchase (strict-next, inside 10 min)
    // (times start at 10s: a row at ts == the initial 0 watermark is dropped)
    in.addData(Raw(1, 1, "click", 10, 0.0), Raw(1, 2, "purchase", 70, 0.0),
               Raw(1, 3, "click", 130, 0.0))
    q.processAllAvailable()
    // advance the watermark far past click 3's deadline (130 + 600 = 730)
    in.addData(Raw(2, 9, "view", 2000, 0.0))
    q.processAllAvailable()
    val rows = s.table("cepto_t").as[(Int, Long, Long, Long)].collect().toSeq
    q.stop()
    val matches = rows.filter(_._1 == 0)
    val timeouts = rows.filter(_._1 == 1)
    assert(matches.map(r => (r._3, r._4)) == Seq((1L, 2L))) // click 1 → purchase 2
    // click 3 timed out exactly once with its deadline; click 1 did not
    assert(timeouts.map(r => (r._2, r._3, r._4)) == Seq((1L, 3L, 730L * 1000000)))
  }

  test("socketTextStream reads lines from a local socket (debug source)") {
    val s = spark
    import s.implicits._
    // the test is the SERVER; Spark's socket source connects as a client
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("to be or")
      out.println("not to be")
      out.flush()
      // leave the socket open; the query is stopped by the main thread
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val env = new graft.datastream.DataStreamEnv(s)
    val words = env.socketTextStream("localhost", server.getLocalPort)
      .flatMap(_.split(" ").toSeq).ds
      .groupBy(col("value")).count()
    val q = words.writeStream.format("memory").queryName("sock_t").outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var total = 0L
      while (total < 6 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        total = s.table("sock_t").as[(String, Long)].collect().map(_._2).sum
        if (total < 6) Thread.sleep(100)
      }
      val counts = s.table("sock_t").as[(String, Long)].collect().toMap
      assert(counts == Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
    } finally {
      q.stop()
      server.close()
    }
  }

  test("Flink metric groups map to df.observe: named metrics surface in the streaming progress") {
    // ref AbstractMetricGroup / OperatorMetricGroup counters+gauges: the
    // Spark spelling is Dataset.observe — metrics computed inside the
    // plan (no extra pass), reported per micro-batch on the progress/
    // listener bus exactly like Flink's metric reporters
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val observed = in.toDF().toDF("id", "v")
      .observe("op_metrics", count(lit(1)).as("numRecordsIn"),
               sum(when(col("v") < 0, 1).otherwise(0)).as("numNegative"))
      .filter(col("v") >= 0)
    val q = observed.writeStream.format("memory").queryName("obs_t").outputMode("append").start()
    in.addData((1L, 1.5), (2L, -2.0), (3L, 0.5))
    q.processAllAvailable()
    val m = q.lastProgress.observedMetrics.get("op_metrics")
    q.stop()
    assert(m != null && m.getAs[Long]("numRecordsIn") == 3L && m.getAs[Long]("numNegative") == 1L)
  }

  test("rolling policy: maxRecordsPerFile bounds file size like StreamingFileSink rollover") {
    // ref StreamingFileSink RollingPolicy (roll on size/interval): the
    // batch-writer spelling is maxRecordsPerFile — the sink rolls to a new
    // part file every N records
    val s = spark
    val out = graft.streaming.StreamOps.scratchRoot + "/rolling_spec_out"
    s.range(100).coalesce(1).write.mode("overwrite")
      .option("maxRecordsPerFile", 30).parquet(out)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(out)).iterator()
    val n = Iterator.continually(parts).takeWhile(_.hasNext).map(_.next())
      .count(_.toString.endsWith(".parquet"))
    assert(n == 4, s"100 rows / 30 per file should roll into 4 part files, got $n") // 30+30+30+10
    assert(s.read.parquet(out).count() == 100)
  }

  test("partition-time commit: _SUCCESS written exactly for watermark-passed partitions") {
    val s = spark
    import org.apache.spark.sql.functions._
    // 3 buckets of 600s at t=0,600,1200; max ts = 1230 → wm = 1230-600 = 630:
    // bucket 0 (ends 600 ≤ 630) commits; buckets 600 and 1200 do not
    val rows = Seq(10L, 20L, 610L, 620L, 1210L, 1230L).zipWithIndex
      .map { case (sec, i) => (i.toLong, sec) }
    val df = s.createDataFrame(rows).toDF("event_id", "sec")
      .withColumn("ts", expr("timestamp_seconds(sec)")).drop("sec")
    val srcDir = graft.streaming.StreamOps.stageBatches(s, "pcommit_spec", Seq(df))
    val stream = s.readStream.schema(df.schema).parquet(srcDir)
    val out = graft.streaming.StreamOps.scratchRoot + "/pcommit_spec_out"
    val back = graft.streaming.StreamOps.partitionCommitRun(s, stream, out, 600, 600)
    assert(back.select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    def marked(b: Long) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/p_bucket=$b/_SUCCESS"))
    assert(marked(0L) && !marked(600L) && !marked(1200L))
  }

  test("watermark idleness analog: an idle union side does not stall event time") {
    // ref WatermarkStrategy.withIdleness (flink-core eventtime): in the
    // reference, a two-input operator takes the MIN of input watermarks,
    // so a side with no events freezes event time forever unless marked
    // idle. In the micro-batch model with the watermark declared ON THE
    // UNION, event time is the global observed max minus the delay — an
    // idle side simply stops contributing, which IS the withIdleness
    // behavior, by default. This spec pins it: side B stops at t=50 and
    // windows far past B's last event still finalize in Append mode.
    val s = spark
    val sideA1 = s.createDataFrame(Seq((1L, 10L), (2L, 110L))).toDF("id", "sec")
    val sideA2 = s.createDataFrame(Seq((3L, 1000L))).toDF("id", "sec")
    val sideB1 = s.createDataFrame(Seq((100L, 50L))).toDF("id", "sec")
    val dirA = graft.streaming.StreamOps.stageBatches(s, "idle_a", Seq(sideA1, sideA2))
    val dirB = graft.streaming.StreamOps.stageBatches(s, "idle_b", Seq(sideB1))
    val a = s.readStream.schema(sideA1.schema).option("maxFilesPerTrigger", "1").parquet(dirA)
    val b = s.readStream.schema(sideB1.schema).parquet(dirB)
    val unioned = a.unionByName(b)
      .withColumn("ts", expr("timestamp_seconds(sec)"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "60 seconds")).count()
    val out = graft.streaming.StreamOps.runToMemory(
      s, unioned, org.apache.spark.sql.streaming.OutputMode.Append())
    val ends = out.select(expr("unix_seconds(window.end)")).collect().map(_.getLong(0)).sorted
    // windows [0,60) and [60,120) finalized — both end long after side B's
    // last event (t=50): B's idleness did not hold the watermark at 50
    assert(ends.toSeq == Seq(60L, 120L))
  }

  test("queryable state: the checkpointed store reads back as a DataFrame (asQueryableState analog)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[(String, Long)]
    val ckpt = graft.streaming.StreamOps.scratchRoot +
      s"/qstate_${ProcessHandle.current().pid()}"
    val q = in.toDF().toDF("k", "v").groupBy("k").count()
      .writeStream.format("memory").queryName("qstate_sink")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    in.addData(("a", 1L), ("a", 2L), ("b", 3L))
    q.processAllAvailable()
    in.addData(("b", 4L), ("c", 5L))
    q.processAllAvailable()
    q.stop()
    // out-of-band state read: key struct + aggregation buffer struct
    val state = graft.streaming.StreamOps.readState(s, ckpt)
      .select(col("key.*"), col("value.*"))
    val buf = state.columns.last // the count buffer field (name is internal)
    val kv = state.select(col(state.columns.head), col(buf)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kv == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("streamingLshDedup: bucket claims survive batches; smallest id wins within a batch") {
    val s = spark
    import s.implicits._
    def bands(rows: (Long, Int, String)*) =
      rows.toDF("doc_id", "band", "bkey")
    // batch 1: docs 1,2 share bucket (0,A) → 2 is dup in-batch
    // batch 2: doc 3 hits (0,A) from STATE; 4 opens (1,B); 5 dups 4 in-batch
    val srcDir = graft.streaming.StreamOps.stageBatches(s, "lshdedup_spec", Seq(
      bands((1L, 0, "A"), (2L, 0, "A")),
      bands((3L, 0, "A"), (4L, 1, "B"), (5L, 1, "B"))))
    val stream = s.readStream.schema(bands((0L, 0, "x")).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val claims = graft.streaming.StreamOps.runToMemory(
      s, graft.streaming.StreamOps.streamingLshDedup(s, stream),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = claims.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false, 5L -> true))
  }

  test("streamingLshDedup: bucket-claim state survives a stop/restart (checkpoint recovery)") {
    val s = spark
    import s.implicits._
    val base = graft.streaming.StreamOps.scratchRoot + "/lsh_restart"
    StreamOps.wipeDir(base)
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    def addFile(name: String, rows: Seq[(Long, Int, String)]): Unit =
      StreamOps.stageBatch(base, src, name, rows.toDF("doc_id", "band", "bkey"))
    def run(): Unit = {
      val stream = s.readStream.schema("doc_id LONG, band INT, bkey STRING").parquet(src)
      val q = graft.streaming.StreamOps.streamingLshDedup(s, stream)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("f0", Seq((1L, 0, "A")))
    run() // run 1 claims bucket (0, A) for doc 1, then STOPS
    addFile("f1", Seq((2L, 0, "A"), (3L, 1, "B")))
    run() // restart: recovered state must still hold the (0, A) claim
    val got = s.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dup_band")).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false),
      "doc 2 must be flagged by the RECOVERED claim from the pre-restart run")
  }
}
