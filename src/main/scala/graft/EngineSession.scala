package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine starts a Spark session — every main and every
  * spec — so the engine's settings live here and not in a launcher. The
  * analog of Flink's execution environment, which owns a program's
  * configuration however the program is started. */
object EngineSession {

  /** The core count `SPARK_GRAFT_CPUS` asks for, else `default`. */
  def envCores(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** A session on `local[cores]` with `cores` shuffle partitions, UTC
    * session time, no UI and spill scratch under `StreamOps.scratchRoot`.
    *
    * `fixtureWidths` (the corpus runs: `Bench`, `Verify`) narrows two
    * stage widths to fixture scale. The iterative graph loops
    * (`graft.graph.loopShufflePartitions`, env `SPARK_GRAFT_LOOP_PARTS`)
    * follow the ambient shuffle width by default: right at cluster scale,
    * pure task-scheduling overhead at sf≤1, where dozens of rounds × 32
    * tasks over ~60k-row frames dominate the runtime. The stateful
    * streaming stages (`graft.stream.parts`, env `SPARK_GRAFT_STREAM_PARTS`,
    * read by `StreamOps.withStreamingConf`): 4 partitions halve the
    * per-batch state-store commit overhead at sf≤1, but at 100× one state
    * partition holds 100× the keys and the keyed flatMapGroups sort
    * dominates (q_stream_cdc_join at sf10: 472 s at 4 parts, 331 s at 32).
    * Both default to 4; the sf10 smoke sets both to 32 to measure at
    * honest width. */
  def apply(cores: Int, fixtureWidths: Boolean = false, logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Runtime bloom-filter join gate: Spark's injection rule is on by
      // default but its 10 GiB application-side-scan gate never fires on
      // this suite below ~sf100. The crossover measured on the verbatim
      // TPC-DS fact-fact joins is between sf0.1 and sf1 (q72 1.7×, q22
      // 1.3× faster at sf1; a uniform ~13% loss when forced at sf0.1), so
      // gate on 64 MB: inert at sf0.1 by construction (the largest fixture
      // file is 11 MB — executed plans byte-identical, 0 might_contain)
      // and active from sf1 up (lineitem 124 MB). The threshold is
      // compared against the actual scan size, so it adapts to scale.
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "64MB")
      // shuffle/spill scratch on tmpfs when available (stands in for the
      // fast local SSD a real executor would mount here)
      .config("spark.local.dir", streaming.StreamOps.scratchRoot + "/local")
    if (fixtureWidths) builder
      .config("graft.graph.loopShufflePartitions", sys.env.getOrElse("SPARK_GRAFT_LOOP_PARTS", "4"))
      .config("graft.stream.parts", sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The queries `SPARK_GRAFT_ONLY` selects (a comma-separated subset for
    * local iteration; the driver leaves it unset), or None for all. Fails
    * on a name outside `known`, so a typo never looks like a complete
    * shorter run. */
  def only(known: collection.Set[String],
           list: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] =
    list.map { csv =>
      val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(known).toSeq.sorted
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
      names
    }
}
