package graft

import graft.streaming.{NioCheckpointFileManager, NioPermissionFileSystem, StreamOps}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import scala.jdk.CollectionConverters._

/** Engine streaming queries write their checkpoints through
  * [[NioCheckpointFileManager]] (`StreamOps.withStreamingConf`): no Hadoop
  * `readlink` or `chmod` subprocess per checkpoint file, recovery, both
  * checksum sidecars and the default file modes intact, a
  * transformWithState query on RocksDB, and the session's settings
  * restored (`StreamOps.withConf`). */
class StreamCheckpointSpec extends SparkTestBase {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Three event slices staged as one parquet file each; returns the dir. */
  private def stage(s: SparkSession, id: String): String = {
    val ev = Tables.load(s, sfDir, "events")
    StreamOps.stageBatches(s, id, (0 until 3).map(i => ev.filter(col("event_id") % 3 === i)))
  }

  /** Copy staged slice `i` of `full` into the source dir `src`. */
  private def add(full: String, src: Path, i: Int): Unit =
    Files.copy(Paths.get(full, s"b$i.parquet"), src.resolve(s"b$i.parquet"), StandardCopyOption.COPY_ATTRIBUTES)

  private def source(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(Tables.load(s, sfDir, "events").schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** A stateful aggregation, re-emitted whole every micro-batch. */
  private def counts(in: DataFrame): DataFrame =
    in.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(expr("CAST(FLOOR(value * 100.0) AS BIGINT)")).as("cents"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Commands of every process the JVM started while `body` ran. */
  private def forks[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      val cmds = RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      (out, cmds)
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def runCounts(s: SparkSession, src: String, ckpt: String, name: String): DataFrame = {
    val q = counts(source(s, src))
    StreamOps.withStreamingConf(q)(q.writeStream.format("memory")
      .queryName(name).outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      .awaitTermination())
    s.table(name)
  }

  test("a stateful runToMemory forks no chmod or readlink on its checkpoint dir") {
    val s = spark.newSession()
    val src = stage(s, "ckpt_spec_forks")
    val control = Paths.get(s"${StreamOps.scratchRoot}/ckpt_spec_forks_control")
    StreamOps.wipeDir(control.toString)
    val (result, cmds) = try forks {
      val rows = sorted(StreamOps.runToMemory(s, counts(source(s, src)), OutputMode.Complete()))
      // positive control: a file created through the default local file
      // system in the same recording
      FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
        .create(new HPath(control.resolve("f").toString)).close()
      rows
    } finally StreamOps.wipeDir(control.toString)
    assert(result == sorted(counts(Tables.load(s, sfDir, "events"))))
    // runToMemory checkpoints under this JVM's own dir, and this run is the
    // only streaming query of the recording
    val ckpt = s"${StreamOps.scratchRoot}/ckpt/${ProcessHandle.current().pid()}/"
    val mine = cmds.filter(_.contains(ckpt))
    Seq("chmod", "readlink").foreach { tool =>
      val seen = mine.filter(_.startsWith(tool))
      assert(seen.isEmpty, s"${seen.size} $tool forks, e.g. ${seen.take(2)}")
    }
    // the recording does see forks: without libhadoop, the default
    // RawLocalFileSystem.setPermission runs chmod per file it creates
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(cmds.exists(c => c.startsWith("chmod") && c.contains(control.toString)),
        s"no chmod fork recorded for $control")
  }

  test("a restart from a checkpoint written under the helper equals a one-shot run") {
    val s = spark.newSession()
    val full = stage(s, "ckpt_spec_restart")
    val base = Paths.get(s"${StreamOps.scratchRoot}/ckpt_spec_restart")
    StreamOps.wipeDir(base.toString)
    val (src, ckpt) = (base.resolve("src"), base.resolve("ckpt").toString)
    Files.createDirectories(src)
    try {
      add(full, src, 0); add(full, src, 1)
      val first = runCounts(s, src.toString, ckpt, "ckpt_spec_first")
      assert(first.agg(sum(col("n"))).head().getLong(0) < Tables.load(s, sfDir, "events").count())
      add(full, src, 2)
      val restarted = runCounts(s, src.toString, ckpt, "ckpt_spec_restarted")
      val oneShot = StreamOps.runToMemory(s, counts(source(s, full)), OutputMode.Complete())
      assert(sorted(restarted) == sorted(oneShot))

      // both checksum sidecars of every state delta file are kept: Spark's
      // checkpoint-file checksum (N.delta.crc) and Hadoop's (.N.delta.crc)
      val part = Paths.get(ckpt, "state", "0", "0")
      val files = Files.list(part)
      val names = try files.iterator().asScala.map(_.getFileName.toString).toSet finally files.close()
      val deltas = names.filter(_.matches("\\d+\\.delta"))
      assert(deltas.size == 3, s"one delta per micro-batch, got ${names.toSeq.sorted}")
      deltas.foreach { d =>
        assert(names(s"$d.crc"), s"no Spark checksum for $d in ${names.toSeq.sorted}")
        assert(names(s".$d.crc"), s"no Hadoop checksum for $d in ${names.toSeq.sorted}")
      }
    } finally StreamOps.wipeDir(base.toString)
  }

  test("a restarted query's checkpoint files keep their checksums and the default file modes") {
    val s = spark.newSession()
    // a Hadoop umask unlike the usual process umask (022): a mode that
    // Hadoop asked for and that was not set would show
    s.conf.set("fs.permissions.umask-mode", "027")
    val full = stage(s, "ckpt_spec_files")
    val base = Paths.get(s"${StreamOps.scratchRoot}/ckpt_spec_files")
    StreamOps.wipeDir(base.toString)
    val (src, ckpt) = (base.resolve("src"), base.resolve("ckpt"))
    Files.createDirectories(src)
    try {
      add(full, src, 0); add(full, src, 1)
      runCounts(s, src.toString, ckpt.toString, "ckpt_spec_files_first")
      add(full, src, 2)
      runCounts(s, src.toString, ckpt.toString, "ckpt_spec_files_restarted")

      // the modes a file and a dir get from the default LocalFileSystem in
      // this JVM under the query's Hadoop conf
      val local = FileSystem.newInstance(java.net.URI.create("file:///"), s.sessionState.newHadoopConf())
      val (refFile, refDir) = (base.resolve("ref_file"), base.resolve("ref_dir"))
      try {
        local.create(new HPath(refFile.toString)).close()
        local.mkdirs(new HPath(refDir.toString))
      } finally local.close()
      val (fileMode, dirMode) = (Files.getPosixFilePermissions(refFile), Files.getPosixFilePermissions(refDir))
      assert(PosixFilePermissions.toString(fileMode) == "rw-r-----")
      assert(PosixFilePermissions.toString(dirMode) == "rwxr-x---")

      def names(dir: Path): Set[String] = {
        val ls = Files.list(dir)
        try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
      }
      // offset, commit and source logs hold one file per batch (0, 1, 2);
      // each state delta file also has Spark's checksum file
      val logs = Seq("offsets", "commits", "sources/0").map(l => ckpt.resolve(l) -> "\\d+")
      val state = ckpt.resolve("state/0/0") -> "\\d+\\.delta"
      (logs :+ state).foreach { case (dir, pattern) =>
        val all = names(dir)
        val files = all.filter(_.matches(pattern))
        assert(files.size == 3, s"one file per micro-batch in $dir, got ${all.toSeq.sorted}")
        assert(Files.getPosixFilePermissions(dir) == dirMode, s"mode of $dir")
        val sidecars = files.map(f => s".$f.crc") ++
          (if (dir == state._1) files.map(f => s"$f.crc") else Set.empty)
        (files ++ sidecars).foreach { f =>
          assert(all(f), s"no $f in $dir: ${all.toSeq.sorted}")
          assert(Files.getPosixFilePermissions(dir.resolve(f)) == fileMode, s"mode of $dir/$f")
        }
      }
    } finally StreamOps.wipeDir(base.toString)
  }

  test("the in-process setPermission throws on the sticky bit instead of dropping it") {
    val dir = Paths.get(s"${StreamOps.scratchRoot}/ckpt_spec_sticky")
    StreamOps.wipeDir(dir.toString)
    Files.createDirectories(dir)
    try {
      val fs = new NioPermissionFileSystem
      fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      val p = new HPath(dir.toString)
      fs.setPermission(p, new FsPermission("750"))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwxr-x---")
      val e = intercept[java.io.IOException](fs.setPermission(p, new FsPermission("1777")))
      assert(e.getMessage.contains(dir.toString))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwxr-x---")
    } finally StreamOps.wipeDir(dir.toString)
  }

  test("the session's checkpoint manager and shuffle partitions are restored") {
    val s = spark.newSession()
    val src = stage(s, "ckpt_spec_conf")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    assert(s.conf.getOption(ManagerKey).isEmpty)
    StreamOps.runToMemory(s, counts(source(s, src)), OutputMode.Complete())
    assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(s.conf.getOption(ManagerKey).isEmpty)

    val own = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    s.conf.set(ManagerKey, own)
    val seen = intercept[IllegalStateException](StreamOps.withStreamingConf(counts(source(s, src))) {
      throw new IllegalStateException(s.conf.get(ManagerKey) + " " + s.conf.get("spark.sql.shuffle.partitions"))
    }).getMessage
    assert(seen.endsWith(classOf[NioCheckpointFileManager].getName + " " +
      s.conf.get("graft.stream.parts", "4")))
    assert(s.conf.get(ManagerKey) == own)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
  }

  test("withConf restores a set and an unset value when the body throws") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    assert(!s.conf.getAll.contains(ProviderKey))
    val before = s.conf.getAll
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val seen = intercept[IllegalStateException](
      StreamOps.withConf(s, "spark.sql.shuffle.partitions" -> "3", ProviderKey -> rocks) {
        throw new IllegalStateException(s.conf.get("spark.sql.shuffle.partitions") + " " + s.conf.get(ProviderKey))
      }).getMessage
    assert(seen == s"3 $rocks")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(!s.conf.getAll.contains(ProviderKey), "an unset conf came back set (to its default)")
    assert(s.conf.getAll == before)
  }

  test("a transformWithState runToMemory runs on RocksDB and leaves the provider as it was") {
    val s = spark.newSession()
    val src = stage(s, "ckpt_spec_tws")
    val events = Tables.load(s, sfDir, "events").count()
    def tws(): Long =
      StreamOps.runToMemory(s, StreamOps.twsKeyedProcess(s, source(s, src)), OutputMode.Append()).count()
    assert(!s.conf.getAll.contains(ProviderKey))
    assert(tws() == events) // one output row per event
    assert(!s.conf.getAll.contains(ProviderKey), "the TWS run left the provider set on the session")
    // an explicit session choice is overridden for the TWS query only
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    s.conf.set(ProviderKey, hdfs)
    assert(tws() == events)
    assert(s.conf.get(ProviderKey) == hdfs)
  }
}
