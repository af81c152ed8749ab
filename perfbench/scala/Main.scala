package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Options the launcher (`run.py`) passes through. */
final case class Opts(
    mode: String = "bench", workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
    trace: Boolean = false, cores: Int = Runtime.getRuntime.availableProcessors(),
    data: String = "", work: String = "", expected: String = "", traceOut: String = "")

object Opts {
  def parse(args: Array[String]): Opts = args.grouped(2).foldLeft(Opts()) {
    case (o, Array("--mode", v))      => o.copy(mode = v)
    case (o, Array("--workload", v))  => o.copy(workload = v)
    case (o, Array("--seed", v))      => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v))   => o.copy(seconds = v.toDouble)
    case (o, Array("--trace", v))     => o.copy(trace = v == "1")
    case (o, Array("--cores", v))     => o.copy(cores = v.toInt)
    case (o, Array("--data", v))      => o.copy(data = v)
    case (o, Array("--work", v))      => o.copy(work = v)
    case (o, Array("--expected", v))  => o.copy(expected = v)
    case (o, Array("--trace-out", v)) => o.copy(traceOut = v)
    case (_, other)                   => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

/** What a run reports: the timed samples and the metrics derived from them. */
final case class Report(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)], samples: Seq[Sample]) {
  def metric(name: String): Double = metrics.collectFirst { case (`name`, v, _) => v }.get

  def json: String = {
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}"""
  }
}

/** One timed execution of an operation. Latencies in seconds. */
final case class Sample(op: String, seq: Int, pass: Int, traced: Boolean, ok: Boolean,
                        buildS: Double, actionS: Double, error: String) {
  def wallS: Double = buildS + actionS
}

object Main {
  val ResultTag = "PERFBENCH_RESULT "

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = Opts.parse(args)
        o.mode match {
          case "bench"  => Bench.run(o)
          case "expect" => Expect.run(o)
          case "selftest" => SelfTest.run(o)
          case other    => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case NonFatal(e) => System.err.println(s"perfbench: ${e.getMessage}"); e.printStackTrace(); 2
        case t: Throwable => System.err.println(s"perfbench: fatal: $t"); t.printStackTrace(); Runtime.getRuntime.halt(3); 3
      }
    System.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      // the same fixture-scale settings graft.Bench and build.sbt use
      .config("graft.graph.loopShufflePartitions", "4")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "64MB")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readExpected(path: String): Map[String, Digest.Value] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(name, rows, digest) = l.split('\t').take(3)
      name -> Digest.Value(rows.toLong, digest)
    }.toMap

  def nanos(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Peak resident set of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }
}

/** `--mode expect`: run every query of the query workloads' families once
  * and print `name, rows, digest, seconds` lines (the stored expected
  * values are this output at the seed commit). */
object Expect {
  def run(o: Opts): Unit = {
    val spark = Main.session(o)
    val names = if (o.workload.nonEmpty) Seq(o.workload) else Seq("tpcds_sql", "df_operators", "stream_jobs")
    names.flatMap(Workloads.family).foreach { q =>
      try {
        val t0 = System.nanoTime()
        graft.Queries.all(q).run(spark, o.data).write.format("noop").mode("overwrite").save()
        val t = Main.nanos(t0)
        val d = Digest.of(graft.Queries.all(q).run(spark, o.data))
        println(s"$q\t${d.rows}\t${d.digest}\t${"%.3f".format(t)}")
      } catch { case NonFatal(e) => println(s"# $q failed: ${e.getMessage.linesIterator.nextOption().getOrElse("")}") }
    }
    spark.stop()
  }
}

/** `--mode bench`: set up, check, run timed passes, report. */
object Bench {
  import Main._

  def run(o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val base = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val wl = Workloads(o.workload, o.seed, o.data, readExpected(o.expected))
    try {
      println(ResultTag + new Runner(base, wl, o, sessionS).run().json)
    } finally {
      wl.cleanup()
      graft.streaming.StreamOps.wipeDir(
        s"${graft.streaming.StreamOps.scratchRoot}/ckpt/${ProcessHandle.current().pid()}")
      base.stop()
    }
  }
}

final class Runner(base: SparkSession, wl: Workload, o: Opts, sessionS: Double) {
  import Main._

  private val Rounds = 3
  private var spark: SparkSession = base
  private val bad = scala.collection.mutable.Map[String, String]()
  private val samples = ArrayBuffer[Sample]()
  private var seq = 0
  private var untimedS = 0.0 // checks and GCs inside a pass
  private lazy val tracer = new Tracer(spark)

  def run(): Report = {
    // set-up rounds, each on a fresh session; the last one is timed on
    val prepS = (1 to Rounds).map { _ =>
      spark = base.newSession()
      val t0 = System.nanoTime(); wl.prepare(spark); nanos(t0)
    }
    // an untimed pass checks every result, unless the timed results
    // themselves are checked. An unchecked warm-up pass follows: after the
    // check pass alone the first timed pass was still 10-30% slower than
    // the later ones, by an amount that differed from JVM to JVM.
    val t0 = System.nanoTime()
    if (!wl.checksTimedResult) wl.ops.foreach { op =>
      try check(op, op.run(spark)).foreach(bad(op.name) = _)
      catch { case NonFatal(e) => bad(op.name) = s"threw ${e.getClass.getSimpleName}: ${firstLine(e)}" }
    }
    wl.ops.foreach { op =>
      try op.run(spark).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () } // a failing op fails again when timed
    }
    val warmS = nanos(t0)
    val setupS = sessionS + median(prepS) + warmS

    // --seconds sets the work, not a deadline: every run of a workload
    // makes the same number of whole passes however fast the host is, so a
    // faster host does not also mean a warmer JVM. Traced runs repeat the
    // pattern untraced, traced, traced, untraced, so that the JVM warming up
    // over the run favours neither side of the tracing overhead.
    val wanted = math.max(1, math.round(o.seconds / wl.passSeconds).toInt)
    val passes = if (o.trace) 4 * ((wanted + 3) / 4) else wanted
    val rng = new Random(o.seed)
    val passWall = ArrayBuffer[(Boolean, Double)]()
    for (pass <- 0 until passes) {
      val traced = o.trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) tracer.attach()
      untimedS = 0.0
      val p0 = System.nanoTime()
      rng.shuffle(wl.ops).foreach { op => settle(); samples += timed(op, pass, traced) }
      passWall += traced -> (nanos(p0) - untimedS)
      if (traced) { tracer.drain(); tracer.detach() }
    }
    samples.foreach { s =>
      System.err.println(f"perfbench: pass ${s.pass} ${s.op} ${if (s.ok) f"${s.wallS}%.3f s" else s"failed: ${s.error}"}")
    }

    val measured = samples.toSeq.filter(!_.traced)
    val okLat = measured.filter(_.ok).map(_.wallS)
    val untracedWall = passWall.collect { case (false, w) => w }
    val failed = measured.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("query_p50_s", percentile(okLat, 0.5), "s"),
        ("query_p90_s", percentile(okLat, 0.9), "s"),
        ("queries_per_min", okLat.size / (untracedWall.sum / 60.0), "1/min"),
        ("peak_rss_mb", peakRssMb(), "MiB"))
      else new Layers(wl, o, samples.toSeq, passWall.toSeq, tracer, spark,
        samples.count(!_.ok).toDouble / samples.size).metrics()

    System.err.println(f"perfbench: ${wl.name} seed=${o.seed} passes=$passes samples=${measured.size} failed=$failed " +
      f"session=$sessionS%.2fs prep=${prepS.map(p => f"$p%.2f").mkString("/")}s warm-up=$warmS%.2fs")
    metrics.foreach { case (n, v, u) => System.err.println(f"perfbench:   $n%-28s $v%14.4f $u") }
    Report(measured.size, failed, metrics, samples.toSeq)
  }

  private def firstLine(e: Throwable) =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** A full GC before each timed operation, outside the timed region, so
    * that no operation pays for collecting the garbage of the one before. */
  private def settle(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    untimedS += nanos(t0)
  }

  /** Check a result under a job group the tracer ignores. */
  private def check(op: Op, df: DataFrame): Option[String] = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    sc.setJobGroup("pbaux:check", op.name)
    try wl.check(op, df) finally { sc.clearJobGroup(); untimedS += nanos(t0) }
  }

  /** Time `op`: building its frame, then writing its full result to the
    * noop sink. `count()` would let Catalyst prune the result's columns.
    * A streaming op's result is then checked, outside the timed region. */
  private def timed(op: Op, pass: Int, traced: Boolean): Sample = {
    seq += 1
    val sc = spark.sparkContext
    val ot = if (traced) Some(tracer.begin(seq)) else None
    var buildS = 0.0
    try {
      sc.setJobGroup(s"pb:$seq:build", op.name)
      val t0 = System.nanoTime()
      val df = op.run(spark)
      buildS = nanos(t0)
      ot.foreach(tracer.frameBuilt(_, df))
      sc.setJobGroup(s"pb:$seq:exec", op.name)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val actionS = nanos(t1)
      if (wl.checksTimedResult) check(op, df).foreach(bad(op.name) = _)
      Sample(op.name, seq, pass, traced, !bad.contains(op.name), buildS, actionS, bad.getOrElse(op.name, ""))
    } catch {
      case NonFatal(e) =>
        Sample(op.name, seq, pass, traced, ok = false, buildS, 0.0, s"threw ${e.getClass.getSimpleName}: ${firstLine(e)}")
    } finally {
      sc.clearJobGroup()
      if (traced) tracer.end()
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    val s = v match {
      case d: Double  => num(d)
      case l: Long    => l.toString
      case i: Int     => i.toString
      case b: Boolean => b.toString
      case x          => "\"" + x.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    "\"" + k + "\": " + s
  }.mkString("{", ", ", "}")

  def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = new PrintWriter(path)
    try lines.foreach(w.println) finally w.close()
  }
}
