package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Streaming fixed-cost attribution (VERDICT r15 #7, guide §1): one
  * profiled run over the `q_stream_*` family that splits each query's
  * wall-clock into micro-batch machinery (trigger planning, offset/WAL
  * commits, state-store commits) vs real work (addBatch execution), from
  * the engine's own `StreamingQueryProgress.durationMs` — so the standing
  * "the 48-query streaming family is trigger+state-commit fixed cost"
  * adjudication is a measured number, not a narrative.
  *
  * Usage: StreamProfile [sfDir] [query ...]  (no names = every q_stream_*)
  * Prints one line per query:
  *   <name> wall=..s batches=N trigger=..s plan=..s walCommit=..s
  *   offsetCommit=..s addBatch=..s stateCommit=..s outside=..s
  * (or `<name> FAILED: <error>` when the query throws)
  * where `outside` = wall - trigger (query start/stop, checkpoint dir
  * setup, memory-sink readback — cost the progress events cannot see) and
  * stateCommit is summed over state operators (a subset of addBatch).
  * Same session shape as the bench (local[$SPARK_GRAFT_CPUS], ambient
  * shuffle width from the same env contract) so the attribution matches
  * what BENCH records measure.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    sys.env.get("SPARK_GRAFT_STREAM_PARTS").foreach(v => sys.props("graft.stream.parts") = v)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("graft.graph.loopShufflePartitions",
        sys.env.getOrElse("SPARK_GRAFT_LOOP_PARTS", "4"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.streaming.StreamOps.scratchRoot + "/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    // warm-up parity with Bench: JVM/codegen/session init + file listing
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach(n => graft.Tables.load(spark, sfDir, n).count())
    val events = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.synchronized { events += e.progress; () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def drain(): Unit = { // listener bus is async; wait for quiescence
      var prev = -1
      while (events.synchronized(events.size) != prev) {
        prev = events.synchronized(events.size); Thread.sleep(200)
      }
    }
    names.foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { fn =>
        drain(); val mark = events.synchronized(events.size)
        val t0 = System.nanoTime()
        val error = try { fn(spark, sfDir).count(); None } catch { case NonFatal(e) => Some(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        // a query that throws is reported as failed, never as a profile
        error match {
          case Some(e) => println(f"$name%-36s FAILED: $e")
          case None =>
            val evs = events.synchronized(events.slice(mark, events.size).toVector)
            def dur(k: String) = evs.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum / 1e3
            val stateCommit = evs.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum / 1e3
            val trigger = dur("triggerExecution")
            println(f"$name%-36s wall=$wall%6.2fs batches=${evs.size}%3d " +
              f"trigger=$trigger%6.2fs plan=${dur("queryPlanning")}%5.2fs " +
              f"walCommit=${dur("walCommit")}%5.2fs offsetCommit=${dur("commitOffsets")}%5.2fs " +
              f"addBatch=${dur("addBatch")}%6.2fs stateCommit=$stateCommit%5.2fs " +
              f"outside=${wall - trigger}%6.2fs")
        }
      }
    }
    spark.stop()
  }
}
