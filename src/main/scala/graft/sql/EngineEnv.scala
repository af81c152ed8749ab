package graft.sql

import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `StreamTableEnvironment`-like facade over SparkSession (SURVEY.md §7
  * architecture item (a)).
  *
  * Reference surface: TableEnvironmentImpl.executeSql:659 / sqlQuery:639 —
  * DDL with `WITH ('connector'=…)` options (SqlCreateTable.java:70) and a
  * `WATERMARK FOR col AS col - INTERVAL 'n' unit` clause
  * (SqlWatermark.java:39). Here:
  *  - `executeSql(CREATE TABLE …)` registers a temp view backed by the
  *    connector (filesystem/parquet-csv-json, or datagen) and records the
  *    watermark spec in the catalog;
  *  - `sqlQuery` runs Flink-dialect SQL through [[FlinkSqlDialect]] then
  *    `spark.sql` — Catalyst owns everything downstream;
  *  - `fromStream(name)` re-reads a filesystem table as a stream and
  *    applies the declared watermark (`withWatermark`), the Spark spelling
  *    of the reference's WatermarkAssignerOperator.
  *
  * Only the connectors our environment can honor are implemented
  * (filesystem, datagen — SURVEY §2.1); kafka/jdbc/… would slot in as
  * additional cases with zero changes to the query path.
  *
  * `catalogDir`: when set, the env is backed by a PERSISTENT catalog (the
  * HiveCatalog role — ref flink-connector-hive HiveCatalog.java — minus
  * Hive): every successful catalog-mutating statement (CREATE/ALTER/DROP/
  * USE) is appended to a durable DDL commit log under the directory, and
  * a fresh env constructed over the same directory replays the log —
  * tables, views, databases, catalogs, and functions survive the session
  * instead of being re-declared every run (the GenericInMemoryCatalog →
  * persistent upgrade). Session properties (SET/RESET) and DML stay
  * session-scoped, as in the reference.
  */
final class EngineEnv(val spark: SparkSession, val catalogDir: Option[String] = None) {

  // the reference TableEnvironment exposes every built-in unconditionally
  // (BuiltInFunctionDefinitions loads with the env) — register the Flink-
  // only surface on construction so SQL never needs a manual registerAll
  graft.functions.FlinkFunctions.registerAll(spark)
  // scalar-cross planning parity with the reference's singleRowJoin path
  // (q77-class `cross join (select sum(..))`) — see ScalarCrossBroadcast
  graft.plans.ScalarCrossBroadcast.install(spark)

  case class TableSpec(path: String, format: String, watermarkCol: Option[String],
                       watermarkDelay: Option[String],
                       computedCols: Seq[(String, String)] = Nil,
                       partitions: Seq[String] = Nil,
                       physicalCols: Seq[(String, String)] = Nil,
                       metaCols: Seq[(String, String, String)] = Nil,
                       options: Map[String, String] = Map.empty)
  private val catalog = scala.collection.mutable.Map[String, TableSpec]()
  // registered VIEW keys (cat.db.view) — what SHOW VIEWS lists
  private val views = scala.collection.mutable.LinkedHashSet[String]()
  // catalog → its databases (ref CatalogManager: the identifier space is
  // three-part catalog.database.table; a fresh catalog starts with its
  // default database, like the reference's GenericInMemoryCatalog)
  private val catalogs =
    scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.LinkedHashSet[String]](
      "default_catalog" -> scala.collection.mutable.LinkedHashSet("default_database"))
  private var currentCat = "default_catalog"
  private var currentDb = "default_database"

  // TEMPORARY is accepted and means what every registration here already
  // is — session-scoped (ref SqlCreateTable.isTemporary)
  private val createHeadRe =
    """(?is)CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(.*)""".r
  private val watermarkRe =
    """(?is)WATERMARK\s+FOR\s+(\w+)\s+AS\s+\w+\s*-\s*INTERVAL\s+'(\d+)'\s+(\w+)""".r
  private val insertRe =
    """(?is)INSERT\s+(INTO|OVERWRITE)\s+([\w.]+)\s+((?:SELECT|VALUES).*)""".r
  // static-partition INSERT — ref flink-sql-parser RichSqlInsert (the
  // `INSERT INTO t PARTITION (k='v') SELECT …` form over partitioned sinks)
  private val insertPartRe =
    """(?is)INSERT\s+(INTO|OVERWRITE)\s+([\w.]+)\s+PARTITION\s*\(([^)]*)\)\s+((?:SELECT|VALUES).*)""".r
  private val createViewRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*)""".r
  private val dropRe =
    """(?is)DROP\s+(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val showRe = """(?is)SHOW\s+TABLES\s*""".r
  private val alterRenameRe = """(?is)ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  // view / database / constraint admin — ref ddl/SqlAlterViewRename.java,
  // SqlAlterViewAs.java, SqlAlterDatabase.java,
  // SqlAlterTableAddConstraint.java, SqlAlterTableDropConstraint.java
  private val alterViewRenameRe =
    """(?is)ALTER\s+VIEW\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  private val alterViewSetRe =
    """(?is)ALTER\s+VIEW\s+([\w.]+)\s+SET\s*\((.*)\)\s*""".r
  private val alterViewAsRe = """(?is)ALTER\s+VIEW\s+([\w.]+)\s+AS\s+(.*)""".r
  private val alterDbRe = """(?is)ALTER\s+DATABASE\s+([\w.]+)\s+SET\s*\((.*)\)\s*""".r
  // column DDL — ref ddl/SqlAddReplaceColumns.java, SqlChangeColumn.java
  private val addColsRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+(ADD|REPLACE)\s+COLUMNS\s*\((.*)\)\s*""".r
  private val changeColRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+CHANGE\s+(?:COLUMN\s+)?(\w+)\s+(\w+)\s+([A-Za-z]+(?:\s*\([^)]*\))?)\s*""".r
  private val addConstraintRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?:CONSTRAINT\s+(\w+)\s+)?PRIMARY\s+KEY\s*\([^)]*\)\s+NOT\s+ENFORCED\s*""".r
  private val dropConstraintRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:CONSTRAINT\s+(\w+)|PRIMARY\s+KEY)\s*""".r
  // partition-admin DDL — ref ddl/SqlAddPartitions.java, SqlDropPartitions
  // .java, dql/SqlShowPartitions.java
  private val addPartRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?((?:PARTITION\s*\([^)]*\)\s*)+)""".r
  private val dropPartRe =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(IF\s+EXISTS\s+)?((?:PARTITION\s*\([^)]*\)\s*,?\s*)+)""".r
  private val showPartRe =
    """(?is)SHOW\s+PARTITIONS\s+([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s*""".r
  private val alterSetRe = """(?is)ALTER\s+TABLE\s+([\w.]+)\s+SET\s*\((.*)\)\s*""".r
  private val createFnRe =
    """(?is)CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+'([^']+)'\s*""".r
  private val dropFnRe = """(?is)DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val describeRe = """(?is)DESC(?:RIBE)?\s+([\w.]+)\s*""".r
  private val explainRe = """(?is)EXPLAIN\s+(?:PLAN\s+FOR\s+)?(.*)""".r
  private val showFnRe = """(?is)SHOW\s+(?:USER\s+)?FUNCTIONS\s*""".r
  private val createDbRe = """(?is)CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val dropDbRe = """(?is)DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val useRe = """(?is)USE\s+([\w.]+)\s*""".r
  private val showDbRe = """(?is)SHOW\s+DATABASES\s*""".r
  // catalog statements — ref ddl/SqlCreateCatalog.java, SqlUseCatalog.java,
  // dql/SqlShowCatalogs.java, SqlShowCurrentCatalog.java/Database
  // view / database / catalog introspection — ref dql/SqlShowViews.java,
  // SqlDescribeDatabase.java, SqlDescribeCatalog.java; ALTER FUNCTION —
  // ref ddl/SqlAlterFunction.java
  private val showViewsRe = """(?is)SHOW\s+VIEWS\s*""".r
  private val descDbRe =
    """(?is)DESC(?:RIBE)?\s+DATABASE\s+(?:EXTENDED\s+)?([\w.]+)\s*""".r
  private val descCatRe = """(?is)DESC(?:RIBE)?\s+CATALOG\s+(\w+)\s*""".r
  private val alterFnRe =
    """(?is)ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?(\w+)\s+AS\s+'([^']+)'\s*""".r
  private val createCatRe =
    """(?is)CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(?:WITH\s*\(.*\))?\s*""".r
  private val dropCatRe = """(?is)DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val useCatRe = """(?is)USE\s+CATALOG\s+(\w+)\s*""".r
  private val showCatRe = """(?is)SHOW\s+CATALOGS\s*""".r
  private val showCurrentCatRe = """(?is)SHOW\s+CURRENT\s+CATALOG\s*""".r
  private val showCurrentDbRe = """(?is)SHOW\s+CURRENT\s+DATABASE\s*""".r
  // sql-client SET/RESET — ref SetOperation/ResetOperation (quoted and
  // bare key spellings both accepted, as the client does)
  // key and value are each EITHER fully quoted OR a bare token — never a
  // half-quoted mix, so `SET 'k' = v'` and values that would be silently
  // truncated (embedded quote/semicolon in a bare value) fail the match
  // and error as malformed instead of recording a mangled property
  private val setPropRe =
    """(?is)SET\s+(?:'([\w.\-]+)'|([\w.\-]+))\s*=\s*(?:'([^']*)'|([^'\s;][^';]*?))\s*""".r
  private val setShowRe = """(?is)SET\s*""".r
  private val resetPropRe = """(?is)RESET\s+'?([\w.\-]+)'?\s*""".r
  private val resetAllRe = """(?is)RESET\s*""".r

  /** The balanced `(...)` starting at `open`, honoring '…' string literals
    * (so a DECIMAL(10,2) column or a ')' inside an option value never
    * mis-splits — the round-1 greedy-regex hazard). Returns (content,
    * index after the close paren). */
  private def balanced(s: String, open: Int): (String, Int) = {
    require(open < s.length && s(open) == '(', s"expected '(' at $open in: $s")
    var depth = 0; var i = open; var inQ = false
    while (i < s.length) {
      val c = s(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(open + 1, i), i + 1)
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** Parsed CREATE TABLE body — ref SqlCreateTable.java:70: physical
    * columns (schema comes from the files; names recorded for DESCRIBE
    * fidelity), computed columns (`c AS expr` — virtual, derived on every
    * read), the WATERMARK clause, and PRIMARY KEY/constraints (accepted,
    * NOT ENFORCED — exactly the reference's constraint contract). */
  private case class CreateBody(watermark: Option[(String, String)],
                                computed: Seq[(String, String)],
                                physical: Seq[(String, String)],
                                meta: Seq[(String, String, String)] = Nil)

  /** Top-level comma split of a column list, balanced-paren + quote aware
    * (a DECIMAL(10,2) type or a ',' inside a computed expression never
    * mis-splits). */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var last = 0; var inQ = false
    s.zipWithIndex.foreach { case (c, i) =>
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(last, i); last = i + 1
        case _ =>
      }
    }
    (parts += s.substring(last)).map(_.trim).filter(_.nonEmpty).toSeq
  }

  private val computedColRe = """(?is)^(\w+)\s+AS\s+(.+?)\s*$""".r
  private val constraintRe = """(?is)^(PRIMARY\s+KEY|CONSTRAINT|UNIQUE)\b.*""".r
  // FLIP-107: `col TYPE METADATA [FROM 'key'] [VIRTUAL]` — ref
  // SqlTableColumn.java:177 (the METADATA column variant). Tried BEFORE
  // physColRe, whose open tail would swallow the METADATA suffix.
  private val metadataColRe =
    """(?is)^(\w+)\s+([A-Za-z]+(?:\s*\([^)]*\))?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(?:\s+VIRTUAL)?\s*$""".r
  private val physColRe = """(?is)^(\w+)\s+([A-Za-z]+(?:\s*\([^)]*\))?).*$""".r

  /** Classify each top-level item of the CREATE TABLE column body. */
  private def parseCreateBody(cols: String): CreateBody = {
    var wm: Option[(String, String)] = None
    val computed = scala.collection.mutable.ListBuffer[(String, String)]()
    val physical = scala.collection.mutable.ListBuffer[(String, String)]()
    val meta = scala.collection.mutable.ListBuffer[(String, String, String)]()
    splitTopLevel(cols).foreach {
      case item if item.toUpperCase.startsWith("WATERMARK") =>
        wm = watermarkRe.findFirstMatchIn(item)
          .map(m => (m.group(1), s"${m.group(2)} ${unitName(m.group(3))}"))
          .orElse(throw new IllegalArgumentException(s"unsupported WATERMARK clause '$item'"))
      case constraintRe(_) => // PRIMARY KEY (...) NOT ENFORCED — accepted, not enforced
      case computedColRe(name, expr0) => computed += ((name, expr0))
      // metadata column: key defaults to the column name (ref FLIP-107)
      case metadataColRe(name, tpe, key) =>
        meta += ((name, tpe, Option(key).getOrElse(name)))
      // physical column `name TYPE [...]` — file formats take schema from
      // the files; WIRE formats (CDC) need the declared payload schema
      case physColRe(name, tpe) => physical += ((name, tpe))
      case _ =>
    }
    CreateBody(wm, computed.toSeq, physical.toSeq, meta.toSeq)
  }

  private def normType(t: String): String =
    t.trim.replaceAll("(?i)TIMESTAMP\\s*\\(\\d+\\)", "TIMESTAMP")

  /** Declared physical schema → Spark StructType (Flink DDL types
    * normalized: TIMESTAMP(n) → TIMESTAMP). */
  private def declaredStruct(spec: TableSpec): org.apache.spark.sql.types.StructType = {
    require(spec.physicalCols.nonEmpty,
      s"format '${spec.format}' needs declared physical columns (the wire payload schema)")
    val ddl = spec.physicalCols.map { case (n, t) => s"$n ${normType(t)}" }.mkString(", ")
    org.apache.spark.sql.types.StructType.fromDDL(ddl)
  }

  private val cdcFormats = Set("debezium-json", "canal-json", "maxwell-json")

  /** FLIP-124 raw format — ref flink-table-runtime-blink
    * formats/raw/RawFormatFactory.java:56 ("read and write raw (byte
    * based) values as a single column") + RawFormatDeserializationSchema /
    * RawFormatSerializationSchema. The factory requires EXACTLY ONE
    * physical field; the filesystem staging frames one record per line,
    * so the text-framable payload types apply: STRING/CHAR/VARCHAR (the
    * line, 'raw.charset' honored as UTF-8) and BYTES/BINARY/VARBINARY
    * (the line's UTF-8 bytes). Numeric payloads need the byte-exact Kafka
    * framing the sandbox lacks — rejected with a clear message. */
  private def rawField(spec: TableSpec): (String, String) = {
    require(spec.physicalCols.size == 1,
      s"raw format requires a single physical column, found ${spec.physicalCols.size} " +
        "(ref RawFormatFactory.validateAndExtractSingleField)")
    val cs = spec.options.getOrElse("raw.charset", "UTF-8")
    require(cs.equalsIgnoreCase("UTF-8"),
      s"raw format: unsupported 'raw.charset'='$cs' — line-framed filesystem staging is UTF-8")
    val (n, t) = spec.physicalCols.head
    val up = t.trim.toUpperCase
    require(Seq("STRING", "CHAR", "VARCHAR", "BYTES", "BINARY", "VARBINARY").exists(up.startsWith),
      s"raw format: payload type '$t' is not line-framable here (use STRING or BYTES)")
    (n, up)
  }

  private def rawIsBinary(up: String): Boolean =
    up.startsWith("BYTES") || up.startsWith("BINARY") || up.startsWith("VARBINARY")

  private def readRaw(lines: DataFrame, spec: TableSpec): DataFrame = {
    val (name, tpe) = rawField(spec)
    if (rawIsBinary(tpe)) lines.select(encode(col("value"), "UTF-8").as(name))
    else lines.select(col("value").as(name))
  }

  /** CDC wire formats read line-delimited JSON and parse to the tagged
    * changelog (ref flink-formats/flink-json debezium/canal/maxwell
    * deserialization schemas — see [[graft.sources.CdcFormats]]). */
  private def readCdc(df: DataFrame, spec: TableSpec, tableKey: String): DataFrame = {
    val json = df.withColumnRenamed("value", "_cdc_json")
    val meta = spec.metaCols.map { case (n, _, key) => (n, key) }
    // format-prefixed options, the reference's spelling on the table DDL:
    // 'debezium-json.schema-include'='true',
    // '<format>.ignore-parse-errors'='false' (strict = reference default)
    val strict = spec.options.get(s"${spec.format}.ignore-parse-errors").contains("false")
    val schemaInclude = spec.options.get("debezium-json.schema-include").contains("true")
    // dropped-malformed accounting (batch only — Observation does not
    // support streaming Datasets); read back via [[cdcSourceMetrics]]
    val obs =
      if (df.isStreaming || strict) None
      else {
        val o = org.apache.spark.sql.Observation(
          s"cdc_${tableKey.replace('.', '_')}_${observationSeq.incrementAndGet()}")
        observations(tableKey) = o
        Some(o)
      }
    val parsed = spec.format match {
      case "debezium-json" =>
        graft.sources.CdcFormats.debezium(json, "_cdc_json", declaredStruct(spec), meta,
          schemaInclude = schemaInclude, strict = strict, malformedObs = obs)
      case "canal-json" =>
        graft.sources.CdcFormats.canal(json, "_cdc_json", declaredStruct(spec), meta,
          strict = strict, malformedObs = obs)
      case "maxwell-json" =>
        graft.sources.CdcFormats.maxwell(json, "_cdc_json", declaredStruct(spec), meta,
          strict = strict, malformedObs = obs)
    }
    // the declared metadata column TYPE wins (e.g. BIGINT over a key whose
    // natural type is TIMESTAMP) — the reference casts the same way
    spec.metaCols.foldLeft(parsed) { case (d, (n, t, _)) =>
      d.withColumn(n, col(n).cast(normType(t)))
    }
  }

  /** Filesystem readable metadata (the FLIP-107 keys a file connector can
    * honor): `file.path` / `file.name` via Spark's hidden `_metadata`
    * struct on file-source scans. */
  private def applyFileMeta(df: DataFrame, spec: TableSpec): DataFrame =
    spec.metaCols.foldLeft(df) { case (d, (n, t, key)) =>
      val src = key match {
        case "file.path" => col("_metadata.file_path")
        case "file.name" => col("_metadata.file_name")
        case "file.size" => col("_metadata.file_size")
        case "file.modification-time" => col("_metadata.file_modification_time")
        case other => throw new IllegalArgumentException(
          s"filesystem connector has no metadata key '$other' " +
          "(supported: file.path, file.name, file.size, file.modification-time)")
      }
      d.withColumn(n, src.cast(normType(t)))
    }

  /** `[ (cols) ] [ PARTITIONED BY (cols) ] [ WITH (opts) ] [ LIKE base ]`
    * tail of CREATE TABLE, tokenized clause by clause on the balanced
    * scanner (no whole-tail regex). */
  private def parseCreateTail(tail0: String)
      : (Option[String], Seq[String], Map[String, String], Option[(String, String)]) = {
    var tail = tail0.trim
    var cols: Option[String] = None
    if (tail.startsWith("(")) {
      val (c, next) = balanced(tail, 0)
      cols = Some(c); tail = tail.substring(next).trim
    }
    var partitions = Seq[String]()
    """(?is)^PARTITIONED\s+BY\s*""".r.findFirstMatchIn(tail).foreach { m =>
      val (p, next) = balanced(tail, m.end)
      partitions = splitTopLevel(p); tail = tail.substring(next).trim
    }
    var opts = Map[String, String]()
    """(?is)^WITH\s*""".r.findFirstMatchIn(tail).foreach { m =>
      val (o, next) = balanced(tail, m.end)
      opts = parseOptions(o); tail = tail.substring(next).trim
    }
    // LIKE [base] [( {INCLUDING|EXCLUDING} {ALL|OPTIONS|WATERMARKS|
    // GENERATED|CONSTRAINTS|PARTITIONS}, ... )] — ref SqlTableLike.java
    // FeatureOption/MergingStrategy; LIKE may also precede WITH
    val like = """(?is)^LIKE\s+([\w.]+)\s*(\(([^)]*)\))?""".r.findFirstMatchIn(tail)
      .map(m => (m.group(1), Option(m.group(3)).getOrElse("")))
    (cols, partitions, opts, like)
  }

  /** LIKE feature options → the set of EXCLUDED features. The default is
    * INCLUDING ALL (the reference's default merging strategy for
    * everything but options, which it also includes by default). */
  private def likeExclusions(features: String): Set[String] = {
    val fs = """(?i)(INCLUDING|EXCLUDING)\s+(ALL|OPTIONS|WATERMARKS|GENERATED|CONSTRAINTS|PARTITIONS)""".r
      .findAllMatchIn(features).map(m => (m.group(1).toUpperCase, m.group(2).toUpperCase)).toSeq
    fs.foldLeft(Set.empty[String]) {
      case (acc, ("EXCLUDING", "ALL")) =>
        Set("OPTIONS", "WATERMARKS", "GENERATED", "CONSTRAINTS", "PARTITIONS")
      case (acc, ("INCLUDING", "ALL")) => Set.empty
      case (acc, ("EXCLUDING", f)) => acc + f
      case (acc, ("INCLUDING", f)) => acc - f
    }
  }

  /** Identifier resolution (ref CatalogManager.qualifyIdentifier): a bare
    * name lives in the CURRENT catalog + database; `db.table` is explicit
    * in the current catalog; `cat.db.table` is fully qualified. The
    * catalog key is always the full `cat.db.table`; the backing Spark temp
    * view is the bare name in the default catalog+database (back-compat)
    * and `cat__db__table` elsewhere (Spark temp views are a flat
    * namespace). */
  private def qualify(name: String): (String, String, String) = name.split("\\.") match {
    case Array(t) => (currentCat, currentDb, t)
    case Array(db, t) =>
      if (!catalogs(currentCat)(db))
        throw new IllegalArgumentException(s"unknown database '$db' in catalog '$currentCat'")
      (currentCat, db, t)
    case Array(cat, db, t) =>
      val dbs = catalogs.getOrElse(cat,
        throw new IllegalArgumentException(s"unknown catalog '$cat'"))
      if (!dbs(db))
        throw new IllegalArgumentException(s"unknown database '$db' in catalog '$cat'")
      (cat, db, t)
    case _ => throw new IllegalArgumentException(s"bad table identifier '$name'")
  }
  private def keyOf(name: String): String = { val (c, d, t) = qualify(name); s"$c.$d.$t" }
  private def viewNameFor(cat: String, db: String, t: String): String =
    if (cat == "default_catalog" && db == "default_database") t else s"${cat}__${db}__$t"
  private def viewOf(name: String): String = {
    val (c, d, t) = qualify(name)
    viewNameFor(c, d, t)
  }

  /** Rewrite known table references (qualified `db.t` anywhere; bare `t` of
    * the current database) to their backing view names before Spark sees
    * the SQL. Word-boundary textual substitution — same class of rewrite as
    * [[FlinkSqlDialect]]. */
  private def resolveTables(sql: String): String = {
    var s = sql
    def q(x: String) = java.util.regex.Pattern.quote(x)
    val split = catalog.keys.toSeq.map { k =>
      val Array(cat, db, t) = k.split("\\.", 3)
      (cat, db, t, viewNameFor(cat, db, t))
    }
    // MOST-qualified references first — a shorter-form pass running
    // earlier would capture the tail of a longer qualified ref
    split.foreach { case (cat, db, t, view) =>
      s = s.replaceAll(s"""\\b${q(cat)}\\.${q(db)}\\.${q(t)}\\b""", view)
    }
    // db.table of the CURRENT catalog (never after a '.', which would be
    // the already-rewritten three-part form's tail)
    split.foreach { case (cat, db, t, view) =>
      if (cat == currentCat)
        s = s.replaceAll(s"""(?<!\\.)\\b${q(db)}\\.${q(t)}\\b""", view)
    }
    // then bare names of the CURRENT catalog + database
    split.foreach { case (cat, db, t, view) =>
      if (cat == currentCat && db == currentDb && view != t)
        s = s.replaceAll(s"""(?<!\\.)\\b${q(t)}\\b""", view)
    }
    s
  }

  /** Computed columns are VIRTUAL (ref SqlCreateTable computed-column
    * contract): derived on every read, never persisted. */
  private def applyComputed(df: DataFrame, spec: TableSpec): DataFrame =
    spec.computedCols.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, expr(FlinkSqlDialect.rewrite(e)))
    }

  private val dbProps = scala.collection.mutable.Map[String, Map[String, String]]()
  /** Properties set via ALTER DATABASE (ref SqlAlterDatabase). */
  def databaseProperties(name: String): Map[String, String] = {
    val (cat, db) = splitDb(name)
    dbProps.getOrElse(s"$cat.$db", Map.empty)
  }

  private val viewProps = scala.collection.mutable.Map[String, Map[String, String]]()
  /** Properties set via ALTER VIEW ... SET (ref SqlAlterViewProperties);
    * views carry no connector spec, so these are pure catalog metadata. */
  def viewProperties(name: String): Map[String, String] =
    viewProps.getOrElse(keyOf(name), Map.empty)

  // SQL-client session properties — ref flink-table/flink-sql-client
  // SetOperation/ResetOperation (`SET 'k' = 'v'` / bare `SET` listing /
  // `RESET ['k']`). Two keys map onto live Spark session conf (the rest
  // are recorded verbatim); RESET restores the conf captured at SET time.
  private val sessionProps = scala.collection.mutable.LinkedHashMap[String, String]()
  private val sessionPropUndo = scala.collection.mutable.Map[String, String]()
  private val sparkConfOf = Map(
    "table.exec.resource.default-parallelism" -> "spark.sql.shuffle.partitions",
    "table.local-time-zone" -> "spark.sql.session.timeZone")
  private def applySessionProp(k: String, v: String): Unit =
    sparkConfOf.get(k).foreach { sk =>
      if (!sessionPropUndo.contains(k)) sessionPropUndo(k) = spark.conf.get(sk)
      spark.conf.set(sk, v)
    }
  private def unapplySessionProp(k: String): Unit =
    sparkConfOf.get(k).foreach { sk =>
      sessionPropUndo.remove(k).foreach(prev => spark.conf.set(sk, prev))
    }

  private val observations =
    scala.collection.mutable.Map[String, org.apache.spark.sql.Observation]()
  private val observationSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Malformed-message accounting of a permissive CDC table: (malformed,
    * total messages) observed by the LAST completed action that scanned
    * it. The reference's non-ignore mode fails the job instead (declare
    * `'<format>.ignore-parse-errors'='false'` for that); this is the
    * visibility knob for the permissive default. */
  def cdcSourceMetrics(name: String): (Long, Long) = {
    val o = observations.getOrElse(keyOf(name), throw new IllegalStateException(
      s"no CDC observation for '$name' (strict tables and streaming reads have none)"))
    val m = o.get
    (m("malformed").asInstanceOf[Long], m("messages").asInstanceOf[Long])
  }

  /** Upsert ingestion as a declarable connector — the reference exposes
    * this as `'connector'='upsert-kafka'` (UpsertKafkaDynamicTableFactory);
    * here the keyed message stream is file-staged: (key, value, seq)
    * messages with NULL-value tombstones, normalized into the full
    * +I/-U/+U/-D changelog by [[graft.streaming.StreamOps.upsertChangelog]]
    * (the ChangelogNormalize analog). Batch reads replay the messages as
    * one batch; [[fromStream]] runs the real incremental normalize. */
  private def isUpsert(spec: TableSpec): Boolean =
    spec.options.get("connector").contains("upsert-files")

  /** INSERT-source binding — ref DynamicSinkUtils
    * .validateSchemaAndApplyImplicitCast: the source's columns bind to the
    * sink's BY POSITION (a VALUES row carries no names) with implicit
    * casts to the declared types; virtual (computed/metadata) columns are
    * dropped from the source when present by name, and `exclude` names
    * columns the writer synthesizes itself (static partition values). */
  private def alignToSink(src: DataFrame, name: String, exclude: Set[String]): DataFrame = {
    val spec = catalog(keyOf(name))
    val virtual = (spec.computedCols.map(_._1) ++ spec.metaCols.map(_._1)).toSet
    val dropped = virtual.foldLeft(src) { (d, n) =>
      if (d.columns.contains(n)) d.drop(n) else d
    }
    val target = spark.table(viewOf(name)).schema.fields
      .filterNot(f => virtual(f.name) || exclude(f.name))
    require(dropped.columns.length == target.length,
      s"INSERT into '$name': ${dropped.columns.length} columns provided, " +
      s"${target.length} expected (${target.map(_.name).mkString(", ")})")
    dropped.toDF(target.map(_.name).toIndexedSeq: _*)
      .select(target.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  /** The table's DataFrame for a given spec — shared by [[register]] and
    * the per-query OPTIONS-hint override (which builds a frame for a
    * MERGED spec without touching the catalog entry). */
  private def frameFor(spec: TableSpec, key: String): DataFrame = {
    val base =
      if (cdcFormats(spec.format)) readCdc(spark.read.text(spec.path), spec, key)
      else if (spec.format == "raw") readRaw(spark.read.text(spec.path), spec)
      else if (isUpsert(spec))
        graft.streaming.StreamOps.upsertChangelog(spark, read(spec.path, spec.format))
      else if (spec.format == "datagen") datagenFrame(spec.options)
      else applyFileMeta(read(spec.path, spec.format), spec)
    applyComputed(base, spec)
  }

  /** ref DataGenTableSourceFactory: deterministic generator (md5-based,
    * not RNG) so results are reproducible and oracle-checkable. */
  private def datagenFrame(opts: Map[String, String]): DataFrame = {
    val n = opts.getOrElse("number-of-rows", "1000").toLong
    spark.range(n).select(
      col("id"),
      expr("conv(substr(md5(concat('k_', id)), 1, 15), 16, 10)").cast("long").as("k"),
      expr("conv(substr(md5(concat('v_', id)), 1, 8), 16, 10)").cast("double").as("v"))
  }

  private def register(name: String, spec: TableSpec): Unit = {
    frameFor(spec, keyOf(name)).createOrReplaceTempView(viewOf(name))
    catalog(keyOf(name)) = spec
  }

  // ------------------------------------------------ persistent catalog log
  // one Base64 line per catalog-mutating statement (newline-safe; DDL is
  // frequently multi-line); replayed in order by the constructor epilogue
  private val ddlLogPath: Option[java.nio.file.Path] = catalogDir.map { d =>
    val p = java.nio.file.Paths.get(d)
    java.nio.file.Files.createDirectories(p)
    p.resolve("catalog_ddl.log")
  }
  private val persistableRe = """(?is)(CREATE|ALTER|DROP|USE)\b.*""".r
  private def persistDdl(sql: String): Unit =
    ddlLogPath.foreach { p =>
      if (persistableRe.matches(sql.trim))
        java.nio.file.Files.writeString(p,
          java.util.Base64.getEncoder.encodeToString(sql.getBytes("UTF-8")) + "\n",
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }

  /** DDL + commands — ref flink-sql-parser/.../ddl statement classes
    * (SqlCreateTable/SqlCreateTableLike/SqlAlterTableRename/
    * SqlAlterTableOptions/SqlCreateFunction/SqlCreateDatabase/…) mapped
    * onto the Spark temp catalog. Returns an empty DataFrame for DDL
    * (like the reference's TableResult for CREATE). Catalog-mutating
    * statements are appended to the DDL commit log AFTER succeeding (a
    * failed statement never pollutes the durable catalog). */
  def executeSql(sql: String): DataFrame = {
    val out = executeSqlImpl(sql)
    persistDdl(sql)
    out
  }

  private def executeSqlImpl(sql: String): DataFrame = sql.trim match {
    case createHeadRe(ifNotExists, name, tail) =>
      // IF NOT EXISTS on an existing registration is a NO-OP (SqlCreateTable
      // semantics — ADVICE r2), not a silent replace
      if (ifNotExists != null && catalog.contains(keyOf(name))) return spark.emptyDataFrame
      val (cols, partitions, opts, like) = parseCreateTail(tail)
      val body = cols.map(parseCreateBody).getOrElse(CreateBody(None, Nil, Nil))
      val wm = body.watermark
      (like, opts.get("connector")) match {
        // CREATE TABLE t [WITH (overrides)] LIKE base [(feature opts)] —
        // SqlCreateTableLike: clone the base spec per the merging
        // strategies (default INCLUDING ALL), apply option overrides,
        // keep/override watermark
        case (Some((base, features)), _) =>
          val excl = likeExclusions(features)
          val b = catalog.getOrElse(keyOf(base),
            throw new IllegalArgumentException(s"LIKE references unknown table '$base'"))
          val path = opts.getOrElse("path", {
            if (excl("OPTIONS")) throw new IllegalArgumentException(
              s"LIKE $base EXCLUDING OPTIONS: a 'path' option must be declared")
            b.path
          })
          val spec = TableSpec(
            path, opts.getOrElse("format", if (excl("OPTIONS")) "parquet" else b.format),
            wm.map(_._1).orElse(if (excl("WATERMARKS")) None else b.watermarkCol),
            wm.map(_._2).orElse(if (excl("WATERMARKS")) None else b.watermarkDelay),
            if (body.computed.nonEmpty) body.computed
            else if (excl("GENERATED")) Nil else b.computedCols,
            if (partitions.nonEmpty) partitions
            else if (excl("PARTITIONS")) Nil else b.partitions,
            if (body.physical.nonEmpty) body.physical else b.physicalCols,
            if (body.meta.nonEmpty) body.meta
            else if (excl("GENERATED")) Nil else b.metaCols,
            (if (excl("OPTIONS")) Map.empty[String, String] else b.options) ++ opts)
          register(name, spec)
        case (None, Some("filesystem")) | (None, Some("upsert-files")) =>
          register(name, TableSpec(opts("path"), opts.getOrElse("format", "parquet"),
            wm.map(_._1), wm.map(_._2), body.computed, partitions, body.physical, body.meta,
            opts))
        case (None, Some("datagen")) =>
          datagenFrame(opts).createOrReplaceTempView(viewOf(name))
          // options recorded so a per-query OPTIONS hint can re-generate
          // with overrides (e.g. 'number-of-rows')
          catalog(keyOf(name)) = TableSpec("", "datagen", None, None, options = opts)
        case (None, other) => throw new IllegalArgumentException(s"unsupported connector '$other'")
      }
      spark.emptyDataFrame
    // static-partition INSERT (ref RichSqlInsert static partition spec):
    // the literal values become constant columns, the dynamic writer lays
    // out their k=v dirs, and OVERWRITE is scoped to the WRITTEN
    // partitions (dynamic overwrite), not the whole table
    case insertPartRe(mode, name, partSpec, query) =>
      val spec = partitionedSpec(name)
      val statics = parsePartKv(partSpec)
      val df0 = alignToSink(sqlQuery(query), name, statics.keySet)
      val df = statics.foldLeft(df0) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
      StreamOps.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        df.repartition(spec.partitions.map(col): _*)
          .write.partitionBy(spec.partitions: _*)
          .mode(if (mode.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
          .format(spec.format).save(spec.path)
      }
      register(name, spec)
      spark.emptyDataFrame
    // INSERT INTO/OVERWRITE a registered filesystem table — the reference's
    // ModifyOperation → FileSystemTableSink path (SURVEY §3.1 step 2):
    // append/overwrite the table's files, refresh the view.
    case insertRe(mode, name, query) =>
      val spec = catalog.getOrElse(keyOf(name),
        throw new IllegalArgumentException(s"unknown sink table '$name'"))
      // computed + metadata columns are virtual — never persisted; the
      // remaining source columns bind to the sink positionally with
      // implicit casts (CDC sinks keep the source's own columns — their
      // payload is matched by name and may carry row_kind)
      val df =
        if (cdcFormats(spec.format))
          (spec.computedCols.map(_._1) ++ spec.metaCols.map(_._1))
            .foldLeft(sqlQuery(query)) { (d, n) => if (d.columns.contains(n)) d.drop(n) else d }
        else alignToSink(sqlQuery(query), name, Set.empty)
      // PARTITIONED BY → dynamic-partition layout; cluster on the partition
      // key first, else tasks × partitions small-files (ref
      // FileSystemTableSink's grouped dynamic partition writer)
      if (cdcFormats(spec.format)) {
        // CDC wire-format sink — ref Debezium/Canal/MaxwellJsonSerialization
        // Schema via [[graft.sources.CdcFormats.toDebezium]]/toCanal/
        // toMaxwell: payload = the table's declared columns; a plain
        // (non-changelog) SELECT is an all-insert changelog (+I per row)
        val payloadCols = spec.physicalCols.map(_._1)
        require(payloadCols.nonEmpty,
          s"CDC-format sink '$name' needs declared physical columns (the wire payload schema)")
        val tagged =
          if (df.columns.contains("row_kind")) df else df.withColumn("row_kind", lit("+I"))
        val wire = spec.format match {
          case "debezium-json" => graft.sources.CdcFormats.toDebezium(tagged, payloadCols)
          case "canal-json" => graft.sources.CdcFormats.toCanal(tagged, payloadCols)
          case "maxwell-json" => graft.sources.CdcFormats.toMaxwell(tagged, payloadCols)
        }
        wire.write.mode(if (mode.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
          .text(spec.path)
      } else if (spec.format == "raw") {
        // ref RawFormatSerializationSchema: the single payload field IS
        // the record; line framing on the filesystem sink
        val (nm, tpe) = rawField(spec)
        val line = if (rawIsBinary(tpe)) decode(col(nm), "UTF-8") else col(nm).cast("string")
        df.select(line.as("value"))
          .write.mode(if (mode.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
          .text(spec.path)
      } else if (spec.format == "avro") {
        // the Hadoop output format cannot append in place — INSERT
        // OVERWRITE only (AvroFormat.write clears the target itself)
        require(mode.equalsIgnoreCase("OVERWRITE"),
          "avro tables support INSERT OVERWRITE only (Hadoop output format)")
        graft.sources.AvroFormat.write(df, spec.path)
      } else {
        val writer =
          if (spec.partitions.nonEmpty)
            df.repartition(spec.partitions.map(col): _*).write.partitionBy(spec.partitions: _*)
          else df.write
        writer.mode(if (mode.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
          .format(spec.format).save(spec.path)
      }
      register(name, spec) // refresh the view (re-derives computed columns)
      spark.emptyDataFrame
    case createViewRe(name, query) =>
      sqlQuery(query).createOrReplaceTempView(viewOf(name))
      views += keyOf(name)
      spark.emptyDataFrame
    case alterViewRenameRe(from, to) => // SqlAlterViewRename
      val df = spark.table(viewOf(from))
      spark.catalog.dropTempView(viewOf(from))
      df.createOrReplaceTempView(viewOf(to))
      views -= keyOf(from); views += keyOf(to)
      spark.emptyDataFrame
    case alterViewSetRe(name, props) => // SqlAlterViewProperties
      if (!views.contains(keyOf(name)))
        throw new IllegalArgumentException(s"unknown view '$name'")
      viewProps(keyOf(name)) =
        viewProps.getOrElse(keyOf(name), Map.empty) ++ parseOptions(props)
      spark.emptyDataFrame
    case alterViewAsRe(name, query) => // SqlAlterViewAs
      sqlQuery(query).createOrReplaceTempView(viewOf(name))
      spark.emptyDataFrame
    case alterDbRe(n, props) => // SqlAlterDatabase: properties recorded
      val (cat, db) = splitDb(n)
      if (!catalogs.get(cat).exists(_(db)))
        throw new IllegalArgumentException(s"unknown database '$n'")
      dbProps(s"$cat.$db") = dbProps.getOrElse(s"$cat.$db", Map.empty) ++ parseOptions(props)
      spark.emptyDataFrame
    // sql-client session properties (SetOperation / ResetOperation)
    case setPropRe(kq, kb, vq, vb) =>
      val k = Option(kq).getOrElse(kb)
      val v = Option(vq).getOrElse(vb)
      sessionProps(k) = v
      applySessionProp(k, v)
      spark.emptyDataFrame
    case setShowRe() => // bare SET: list the session properties
      import spark.implicits._
      sessionProps.toSeq.sortBy(_._1).toDF("key", "value")
    case resetPropRe(k) =>
      sessionProps.remove(k)
      unapplySessionProp(k)
      spark.emptyDataFrame
    case resetAllRe() =>
      sessionProps.keys.toSeq.foreach(unapplySessionProp)
      sessionProps.clear()
      spark.emptyDataFrame
    // column DDL (ref SqlAddReplaceColumns / SqlChangeColumn): updates the
    // DECLARED column list — the payload schema of wire-format (CDC)
    // tables, where added fields read back NULL for older messages (schema
    // evolution), and the computed/metadata sets everywhere; filesystem
    // physical schemas stay file-driven
    case addColsRe(name, verb, cols) =>
      val spec = catalog.getOrElse(keyOf(name),
        throw new IllegalArgumentException(s"unknown table '$name'"))
      val body = parseCreateBody(cols)
      val next =
        if (verb.equalsIgnoreCase("REPLACE"))
          spec.copy(physicalCols = body.physical, computedCols = body.computed,
                    metaCols = body.meta)
        else spec.copy(physicalCols = spec.physicalCols ++ body.physical,
                       computedCols = spec.computedCols ++ body.computed,
                       metaCols = spec.metaCols ++ body.meta)
      register(name, next)
      spark.emptyDataFrame
    case changeColRe(name, oldCol, newCol, tpe) =>
      val spec = catalog.getOrElse(keyOf(name),
        throw new IllegalArgumentException(s"unknown table '$name'"))
      require(spec.physicalCols.exists(_._1 == oldCol),
        s"unknown column '$oldCol' in table '$name'")
      register(name, spec.copy(physicalCols =
        spec.physicalCols.map { case (n, t) => if (n == oldCol) (newCol, tpe) else (n, t) }))
      spark.emptyDataFrame
    // constraints are accepted NOT ENFORCED (the reference's only mode) —
    // add/drop validate the table and keep the declaration as metadata
    case addConstraintRe(name, _) =>
      if (!catalog.contains(keyOf(name)))
        throw new IllegalArgumentException(s"unknown table '$name'")
      spark.emptyDataFrame
    case dropConstraintRe(name, _) =>
      if (!catalog.contains(keyOf(name)))
        throw new IllegalArgumentException(s"unknown table '$name'")
      spark.emptyDataFrame
    // partition admin over the `k=v/` filesystem layout (ref
    // SqlAddPartitions / SqlDropPartitions on the Hive-style filesystem
    // connector): ADD creates the partition directory (empty partitions
    // are legal and visible to SHOW PARTITIONS), DROP removes it
    // recursively and refreshes the view so read-back loses the rows.
    case addPartRe(name, ifNotExists, specs) =>
      val spec = partitionedSpec(name)
      val fs = fileSystemOf(spec.path)
      partSpecsOf(specs).foreach { kv =>
        val dir = new org.apache.hadoop.fs.Path(spec.path, partPath(spec, kv))
        if (fs.exists(dir)) {
          if (ifNotExists == null)
            throw new IllegalArgumentException(s"partition already exists: ${partPath(spec, kv)}")
        } else fs.mkdirs(dir)
      }
      spark.emptyDataFrame
    case dropPartRe(name, ifExists, specs) =>
      val spec = partitionedSpec(name)
      val fs = fileSystemOf(spec.path)
      partSpecsOf(specs).foreach { kv =>
        val dir = new org.apache.hadoop.fs.Path(spec.path, partPath(spec, kv))
        if (!fs.exists(dir)) {
          if (ifExists == null)
            throw new IllegalArgumentException(s"no such partition: ${partPath(spec, kv)}")
        } else fs.delete(dir, true)
      }
      register(name, spec) // refresh: dropped rows disappear from read-back
      spark.emptyDataFrame
    case showPartRe(name, filter) =>
      import spark.implicits._
      val spec = partitionedSpec(name)
      val kvFilter = if (filter == null) Map.empty[String, String] else parsePartKv(filter)
      listPartitions(spec)
        .filter(p => kvFilter.forall { case (k, v) => p.split("/").contains(s"$k=$v") })
        .toDF("partition_name")
    case alterRenameRe(from, to) => // SqlAlterTableRename
      val spec = catalog.getOrElse(keyOf(from),
        throw new IllegalArgumentException(s"unknown table '$from'"))
      spark.catalog.dropTempView(viewOf(from)); catalog.remove(keyOf(from))
      register(to, spec)
      spark.emptyDataFrame
    case alterSetRe(name, withClause) => // SqlAlterTableOptions
      val spec = catalog.getOrElse(keyOf(name),
        throw new IllegalArgumentException(s"unknown table '$name'"))
      val opts = parseOptions(withClause)
      register(name, spec.copy(
        path = opts.getOrElse("path", spec.path),
        format = opts.getOrElse("format", spec.format),
        options = spec.options ++ opts))
      spark.emptyDataFrame
    // CREATE FUNCTION alias AS 'target' — SqlCreateFunction; the target is
    // any resolvable function name (built-in or graft-registered): the
    // builder emits an UnresolvedFunction the analyzer resolves per call
    case createFnRe(name, target) =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry.createOrReplaceTempFunction(
          name,
          exprs => org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq(target), exprs, isDistinct = false),
          "built-in")
      spark.emptyDataFrame
    case dropFnRe(name) =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      spark.emptyDataFrame
    // ALTER FUNCTION alias AS 'newTarget' — SqlAlterFunction: re-point the
    // alias (same registration mechanics as CREATE, replace semantics)
    case alterFnRe(name, target) =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry.createOrReplaceTempFunction(
          name,
          exprs => org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq(target), exprs, isDistinct = false),
          "built-in")
      spark.emptyDataFrame
    case dropRe(name) =>
      spark.catalog.dropTempView(viewOf(name))
      catalog.remove(keyOf(name)); views -= keyOf(name)
      spark.emptyDataFrame
    // SHOW TABLES lists the CURRENT catalog+database only (ref
    // SqlShowTables / CatalogManager listTables), stripping the flat-view
    // name mangling
    case showRe() =>
      import spark.implicits._
      val prefix =
        if (currentCat == "default_catalog" && currentDb == "default_database") ""
        else s"${currentCat}__${currentDb}__"
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => if (prefix.isEmpty) !n.contains("__") else n.startsWith(prefix))
        .map(_.stripPrefix(prefix)).sorted.toSeq.toDF("table_name")
    case showFnRe() => spark.sql("SHOW FUNCTIONS")
    // SHOW VIEWS lists the CURRENT catalog+database's views only (ref
    // SqlShowViews / CatalogManager.listViews)
    case showViewsRe() =>
      import spark.implicits._
      views.toSeq.filter(_.startsWith(s"$currentCat.$currentDb."))
        .map(_.split("\\.", 3)(2)).sorted.toDF("view_name")
    // DESCRIBE DATABASE — ref SqlDescribeDatabase result set: the db's
    // identity plus its ALTER DATABASE properties
    case descDbRe(n) =>
      import spark.implicits._
      val (cat, db) = splitDb(n)
      if (!catalogs.get(cat).exists(_(db)))
        throw new IllegalArgumentException(s"unknown database '$n'")
      (Seq(("name", db), ("catalog", cat)) ++
        dbProps.getOrElse(s"$cat.$db", Map.empty).toSeq.sorted
          .map { case (k, v) => (s"property:$k", v) })
        .toDF("info_name", "info_value")
    // DESCRIBE CATALOG — ref SqlDescribeCatalog
    case descCatRe(c) =>
      import spark.implicits._
      val dbs = catalogs.getOrElse(c,
        throw new IllegalArgumentException(s"unknown catalog '$c'"))
      Seq(("name", c), ("databases", dbs.mkString(", ")))
        .toDF("info_name", "info_value")
    // DESCRIBE of a REGISTERED table reports the reference's column view
    // (ref SqlRichDescribeTable result: name/type/null/extras/watermark):
    // computed columns as `AS expr`, metadata columns as `METADATA FROM`,
    // the watermark column flagged with its declared delay
    case describeRe(name) if catalog.contains(keyOf(name)) =>
      import spark.implicits._
      val spec = catalog(keyOf(name))
      val computed = spec.computedCols.toMap
      val metaKeys = spec.metaCols.map(m => m._1 -> m._3).toMap
      spark.table(viewOf(name)).schema.fields.toSeq.map { f =>
        val extras =
          if (computed.contains(f.name)) s"AS ${computed(f.name)}"
          else if (metaKeys.contains(f.name)) s"METADATA FROM '${metaKeys(f.name)}'"
          else ""
        val wm =
          if (spec.watermarkCol.contains(f.name))
            s"${f.name} - INTERVAL '${spec.watermarkDelay.getOrElse("")}'"
          else ""
        (f.name, f.dataType.simpleString.toUpperCase, f.nullable, extras, wm)
      }.toDF("name", "type", "null", "extras", "watermark")
    case describeRe(name) => spark.sql(s"DESCRIBE ${viewOf(name)}")
    case explainRe(query) => spark.sql("EXPLAIN " + FlinkSqlDialect.rewrite(query))
    // catalog statements BEFORE the database forms (USE CATALOG vs USE)
    case createCatRe(cat) => // options (`'type'=...`) accepted and ignored
      catalogs.getOrElseUpdate(cat, scala.collection.mutable.LinkedHashSet("default_database"))
      spark.emptyDataFrame
    case dropCatRe(cat) =>
      if (cat == currentCat)
        throw new IllegalArgumentException(s"cannot drop current catalog '$cat'")
      if (cat == "default_catalog")
        throw new IllegalArgumentException("cannot drop default_catalog")
      catalogs.remove(cat); spark.emptyDataFrame
    case useCatRe(cat) => // ref SqlUseCatalog: db resets to the catalog's default
      if (!catalogs.contains(cat))
        throw new IllegalArgumentException(s"unknown catalog '$cat'")
      currentCat = cat; currentDb = catalogs(cat).head
      spark.emptyDataFrame
    case showCatRe() =>
      import spark.implicits._
      catalogs.keys.toSeq.toDF("catalog_name")
    case showCurrentCatRe() =>
      import spark.implicits._
      Seq(currentCat).toDF("current_catalog_name")
    case showCurrentDbRe() =>
      import spark.implicits._
      Seq(currentDb).toDF("current_database_name")
    case createDbRe(n) =>
      val (cat, db) = splitDb(n)
      catalogs.getOrElse(cat,
        throw new IllegalArgumentException(s"unknown catalog '$cat'")) += db
      spark.emptyDataFrame
    case dropDbRe(n) =>
      val (cat, db) = splitDb(n)
      if (cat == currentCat && db == currentDb)
        throw new IllegalArgumentException(s"cannot drop current database '$db'")
      catalogs.getOrElse(cat,
        throw new IllegalArgumentException(s"unknown catalog '$cat'")) -= db
      spark.emptyDataFrame
    case useRe(n) => // USE [catalog.]database
      val (cat, db) = splitDb(n)
      if (!catalogs.get(cat).exists(_(db)))
        throw new IllegalArgumentException(s"unknown database '$n'")
      currentCat = cat; currentDb = db
      spark.emptyDataFrame
    case showDbRe() =>
      import spark.implicits._
      catalogs(currentCat).toSeq.toDF("database_name")
    // a CREATE/ALTER/DROP that matched no statement form is an unsupported
    // DDL shape — fail with the statement head instead of letting Spark's
    // parser produce a misleading error against the temp-view catalog
    case q if """(?is)\s*(CREATE|ALTER|DROP)\s.*""".r.matches(q) =>
      throw new IllegalArgumentException(
        s"unsupported DDL statement: '${q.trim.linesIterator.next().take(80)}'")
    case q => sqlQuery(q)
  }

  private def partitionedSpec(name: String): TableSpec = {
    val spec = catalog.getOrElse(keyOf(name),
      throw new IllegalArgumentException(s"unknown table '$name'"))
    require(spec.partitions.nonEmpty, s"table '$name' is not partitioned")
    spec
  }

  private def fileSystemOf(path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def parsePartKv(s: String): Map[String, String] =
    """(\w+)\s*=\s*'([^']*)'""".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap

  /** Every `PARTITION (k='v', ...)` group of a multi-partition statement. */
  private def partSpecsOf(specs: String): Seq[Map[String, String]] =
    """(?is)PARTITION\s*\(([^)]*)\)""".r.findAllMatchIn(specs)
      .map(m => parsePartKv(m.group(1))).toSeq

  /** The `k1=v1/k2=v2` subpath for a full partition spec, in the table's
    * declared partition-column order. */
  private def partPath(spec: TableSpec, kv: Map[String, String]): String =
    spec.partitions.map(p => s"$p=${kv.getOrElse(p, throw new IllegalArgumentException(
      s"partition spec must set '$p' (declared partition columns: ${spec.partitions.mkString(", ")})"))}")
      .mkString("/")

  /** Directory-layout listing (what SqlShowPartitions reports): each leaf
    * `k=v` chain at the declared nesting depth, INCLUDING empty partitions
    * just added. */
  private def listPartitions(spec: TableSpec): Seq[String] = {
    val fs = fileSystemOf(spec.path)
    def walk(dir: org.apache.hadoop.fs.Path, cols: Seq[String]): Seq[String] = cols match {
      case Nil => Seq("")
      case c +: rest =>
        fs.listStatus(dir).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith(c + "=")).sorted.toSeq
          .flatMap { d =>
            walk(new org.apache.hadoop.fs.Path(dir, d), rest)
              .map(t => if (t.isEmpty) d else s"$d/$t")
          }
    }
    walk(new org.apache.hadoop.fs.Path(spec.path), spec.partitions)
  }

  private def splitDb(n: String): (String, String) = n.split("\\.") match {
    case Array(db) => (currentCat, db)
    case Array(cat, db) => (cat, db)
    case _ => throw new IllegalArgumentException(s"bad database identifier '$n'")
  }

  def currentDatabase: String = currentDb
  def currentCatalog: String = currentCat

  private val lateralTableRe =
    """(?is),\s*LATERAL\s+TABLE\s*\(\s*(\w+\s*\([^)]*\))\s*\)\s+AS\s+(\w+)\s*\(\s*([\w,\s]+?)\s*\)""".r

  /** `FROM t, LATERAL TABLE(udtf(args)) AS T(c1[, c2])` — Flink's
    * TableFunction correlate join (ref SqlUserDefinedTableFunction /
    * CommonCorrelate): each input row cross-joins its UDTF rows. Spark
    * spelling: LATERAL VIEW. One output column explodes an array-returning
    * function directly; two columns take an array-of-structs or map via
    * `inline`/`explode` — here the array case, which covers the reference's
    * split-style UDTFs (its most common use). */
  private def rewriteLateralTable(sql: String): String =
    lateralTableRe.replaceAllIn(sql, m => {
      val call = m.group(1); val alias = m.group(2)
      val cols = m.group(3).split(",").map(_.trim).filter(_.nonEmpty)
      java.util.regex.Matcher.quoteReplacement(
        s" LATERAL VIEW explode($call) $alias AS ${cols.mkString(", ")}")
    })

  private val temporalJoinRe =
    ("""(?is)FROM\s+(\w+)\s+(?:AS\s+)?(\w+)\s+JOIN\s+(\w+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF""" +
     """\s+(\w+)\.(\w+)\s+(?:AS\s+(\w+)\s+)?ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""").r

  /** `FROM fact f JOIN dim FOR SYSTEM_TIME AS OF f.ts [AS d] ON f.k = d.k`
    * — Flink's event-time temporal (versioned-table) join, ref
    * TemporalRowTimeJoinOperator.java:77 / SqlSnapshot. The dim's declared
    * WATERMARK column is its version column (Flink derives the version from
    * the rowtime the same way); the versioned-table contract (primary key +
    * version unique) makes "the" version row well-defined.
    *
    * Rewritten to a fully KEYED plan: the latest-version lookup is built
    * over the fact's DISTINCT (key, ts) domain (hash join on the dim key
    * with the version bound as residual, rank-filtered to top-1 via
    * WindowGroupLimit) and equi-joined back to the fact on (key, ts).
    * Correlated-subquery spellings (LATERAL LIMIT 1 / scalar MAX) both
    * decorrelate into an UNKEYED nested-loop domain join — measured 100×
    * slower at sf0.1 — so the domain construction is done explicitly. */
  /** The keyed temporal-join plan both SQL spellings rewrite into (see
    * [[rewriteTemporalJoin]] for the plan rationale): latest dim version
    * per distinct (key, ts) fact domain, equi-joined back. */
  private def temporalJoinSql(fact: String, fAl: String, dim: String, dAl: String,
                              tsCol: String, fk: String, dk: String, vcol: String): String =
    s"FROM $fact AS $fAl JOIN (" +
    s"SELECT * FROM (" +
    s"SELECT __v.*, __f.$tsCol AS __fts, " +
    s"ROW_NUMBER() OVER (PARTITION BY __v.$dk, __f.$tsCol ORDER BY __v.$vcol DESC) AS __rn " +
    s"FROM (SELECT DISTINCT $fk, $tsCol FROM $fact) __f " +
    s"JOIN $dim __v ON __v.$dk = __f.$fk AND __v.$vcol <= __f.$tsCol) " +
    s"WHERE __rn = 1) AS $dAl " +
    s"ON $fAl.$fk = $dAl.$dk AND $fAl.$tsCol = $dAl.__fts"

  private def rewriteTemporalJoin(sql: String): String =
    temporalJoinRe.replaceAllIn(sql, m => {
      val fact = m.group(1); val fAl = m.group(2)
      val dim = m.group(3); val tsAl = m.group(4); val tsCol = m.group(5)
      val dAl = Option(m.group(6)).getOrElse(dim)
      val (l, lc, r, rc) = (m.group(7), m.group(8), m.group(9), m.group(10))
      require(tsAl == fAl, s"temporal join: AS OF must reference the fact alias '$fAl'")
      val vcol = watermarkOf(dim).map(_._1).getOrElse(throw new IllegalArgumentException(
        s"temporal join: versioned table '$dim' needs a declared WATERMARK (version) column"))
      // the ON side that names the dim alias carries the dim key
      val (dk, fk) = if (l == dAl) (lc, rc) else (rc, lc)
      java.util.regex.Matcher.quoteReplacement(
        temporalJoinSql(fact, fAl, dim, dAl, tsCol, fk, dk, vcol))
    })

  private case class TemporalFn(history: String, timeAttr: String, primaryKey: String)
  private val temporalFns = scala.collection.mutable.Map[String, TemporalFn]()

  /** Temporal table FUNCTION — ref TemporalTableFunction.java /
    * TemporalTableFunctionImpl.java (`table.createTemporalTableFunction(
    * timeAttribute, primaryKey)`): the pre-FLIP-132 spelling of the
    * versioned-table join, used as `FROM Orders o, LATERAL TABLE
    * (Rates(o.rowtime)) r WHERE o.ccy = r.ccy`. The registered function
    * carries the history table, its version (time) attribute and primary
    * key; the correlate + WHERE key equality together define the same
    * as-of semantics `FOR SYSTEM_TIME AS OF` declares, and both rewrite
    * onto the same keyed plan ([[temporalJoinSql]]). */
  def createTemporalTableFunction(name: String, historyTable: String,
                                  timeAttr: String, primaryKey: String): Unit = {
    require(catalog.contains(keyOf(historyTable)),
      s"temporal table function over unknown table '$historyTable'")
    temporalFns(name) = TemporalFn(historyTable, timeAttr, primaryKey)
  }

  private val temporalFnRe =
    ("""(?is)FROM\s+([\w.]+)\s+(?:AS\s+)?(\w+)\s*,\s*LATERAL\s+TABLE\s*\(\s*(\w+)\s*""" +
     """\(\s*(\w+)\.(\w+)\s*\)\s*\)\s+(?:AS\s+)?(\w+)\s+""" +
     """WHERE\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""").r

  /** Rewrite a temporal-table-function correlate (see
    * [[createTemporalTableFunction]]). A LATERAL TABLE over a name that is
    * NOT a registered temporal function is left for the generic UDTF
    * correlate rewrite. The matched key equality is consumed (it becomes
    * the join's ON clause); any further WHERE conjuncts survive as
    * `WHERE TRUE AND …`. */
  private def rewriteTemporalFn(sql: String): String =
    temporalFnRe.replaceAllIn(sql, m => temporalFns.get(m.group(3)) match {
      case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      case Some(fn) =>
        val fact = m.group(1); val fAl = m.group(2)
        val tsAl = m.group(4); val tsCol = m.group(5); val rAl = m.group(6)
        val (l, lc, r, rc) = (m.group(7), m.group(8), m.group(9), m.group(10))
        require(tsAl == fAl,
          s"temporal table function: the time argument must reference the fact alias '$fAl'")
        val (dk, fk) = if (l == rAl) (lc, rc) else (rc, lc)
        require(dk == fn.primaryKey || fk == fn.primaryKey,
          s"temporal table function '${m.group(3)}': the WHERE key equality must use " +
          s"primary key '${fn.primaryKey}'")
        java.util.regex.Matcher.quoteReplacement(
          temporalJoinSql(fact, fAl, fn.history, rAl, tsCol, fk, dk, fn.timeAttr) +
          " WHERE TRUE")
    })

  // FLIP-113 dynamic table options — ref planner/hint/FlinkHints.java:32
  // (HINT_NAME_OPTIONS) + FlinkHintStrategies: `t /*+ OPTIONS('k'='v') */`
  // merges the options into THIS query's read of the table only
  private val optionsHintRe =
    """(?is)([\w.]+)\s*/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/""".r
  private val hintSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Replace each `table /*+ OPTIONS(...) */` reference with a synthetic
    * view over the table's spec merged with the hint options (path/format
    * overrides included) — per-query scope, catalog entry untouched,
    * exactly the reference's dynamic-table-options contract. */
  private def rewriteOptionsHints(sql: String): String =
    optionsHintRe.replaceAllIn(sql, m => {
      val name = m.group(1)
      val opts = parseOptions(m.group(2))
      val spec0 = catalog.getOrElse(keyOf(name), throw new IllegalArgumentException(
        s"OPTIONS hint on unknown table '$name'"))
      val spec = spec0.copy(
        path = opts.getOrElse("path", spec0.path),
        format = opts.getOrElse("format", spec0.format),
        options = spec0.options ++ opts)
      val view = s"__hint_${hintSeq.incrementAndGet()}"
      frameFor(spec, keyOf(name)).createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  /** Flink-dialect query → DataFrame. MATCH_RECOGNIZE routes to the NFA
    * front-end; everything else is string-rewritten into Spark SQL. */
  def sqlQuery(flinkSql: String): DataFrame = {
    val resolved = resolveTables(rewriteTemporalJoin(rewriteLateralTable(
      rewriteTemporalFn(rewriteOptionsHints(flinkSql)))))
    if (MatchRecognize.isMatchRecognize(resolved)) MatchRecognize.run(spark, resolved)
    // NOTE on multi-referenced CTEs (TPC-DS q14/q23/q64-class): the
    // reference reuses identical-digest subplans at plan time
    // (SubplanReuser.scala:54); Spark's analog is AQE's runtime exchange
    // reuse — q14a's executed plan carries 37 ReusedExchange nodes
    // (OPTIMIZATION_r16.md), so its triple-referenced cross_items CTE
    // already computes its heavy shuffles once. A SQL-level
    // materialization pass (persist + temp view per multi-ref CTE) was
    // built and measured in round 13 and LOST at every scale — always-on:
    // +12 s on the 19-query CTE family at sf0.1; Flink-digest-gated
    // (materialize only optimizer-unspecialized references): +9 s incl.
    // the double-optimization cost; sf1: +14 s — because the cache is an
    // optimization barrier for specialized references and redundant with
    // exchange reuse for identical ones. Decision: keep CTEs inline.
    else spark.sql(FlinkSqlDialect.rewrite(resolved))
  }

  /** Streaming read of a registered filesystem table with its declared
    * watermark applied. */
  def fromStream(name: String): DataFrame = {
    val spec = catalog(keyOf(name))
    val base0 =
      if (cdcFormats(spec.format))
        readCdc(spark.readStream.text(graft.streaming.StreamOps.fileAsDir(spec.path)), spec,
                keyOf(name))
      else if (spec.format == "raw")
        readRaw(spark.readStream.text(graft.streaming.StreamOps.fileAsDir(spec.path)), spec)
      else if (isUpsert(spec)) {
        // incremental ChangelogNormalize over the staged message stream
        val schema = read(spec.path, spec.format).schema
        graft.streaming.StreamOps.upsertChangelog(spark,
          spark.readStream.schema(schema).format(spec.format)
            .load(graft.streaming.StreamOps.fileAsDir(spec.path)))
      } else if (spec.format == "avro") {
        // no spark-avro streaming DataSource in the container (batch reads
        // are special-cased to AvroFormat) — stage a one-shot parquet
        // snapshot and stream that, like the CDC staged-text path
        val snap = graft.sources.AvroFormat.read(spark, spec.path)
        val dir = s"${StreamOps.scratchRoot}/avro_stream/${StreamOps.san(spec.path)}"
        snap.write.mode("overwrite").parquet(dir)
        spark.readStream.schema(snap.schema).parquet(dir)
      } else {
        val schema = read(spec.path, spec.format).schema
        applyFileMeta(
          spark.readStream.schema(schema).format(spec.format)
            .load(graft.streaming.StreamOps.fileAsDir(spec.path)), spec)
      }
    val base = applyComputed(base0, spec)
    (spec.watermarkCol, spec.watermarkDelay) match {
      // Spark watermarks require TIMESTAMP (session-tz instant); parquet
      // naive timestamps arrive as TIMESTAMP_NTZ → cast (session is UTC,
      // values unchanged). Ref SURVEY §1.2: Flink ROWTIME ≈ the watermark col.
      case (Some(c), Some(d)) => base.withColumn(c, col(c).cast("timestamp")).withWatermark(c, d)
      case _ => base
    }
  }

  def watermarkOf(name: String): Option[(String, String)] =
    catalog.get(keyOf(name)).flatMap(s => s.watermarkCol.zip(s.watermarkDelay))

  private def read(path: String, fmt: String): DataFrame = fmt match {
    case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    case "json" => spark.read.json(path)
    // no spark-avro DataSource in the container — the Hadoop-format
    // implementation covers batch reads (ref flink-formats/flink-avro)
    case "avro" => graft.sources.AvroFormat.read(spark, path)
    case _ => spark.read.format(fmt).load(path)
  }

  private def unitName(u: String): String = u.toLowerCase match {
    case "second" => "seconds"; case "minute" => "minutes"
    case "hour" => "hours"; case "day" => "days"; case other => other
  }

  private def parseOptions(w: String): Map[String, String] =
    """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(w)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** FLIP-84 StatementSet — ref flink-table-api-java/.../StatementSet
    * .java:30 / internal/StatementSetImpl.java: buffered INSERTs submitted
    * together by one execute() and cleared afterwards. */
  def createStatementSet(): StatementSet = new StatementSet(this)

  // constructor epilogue: replay the persistent catalog's DDL commit log
  // (runs after every val above is initialized). Replays through
  // executeSqlImpl, so replayed statements are never re-appended.
  ddlLogPath.filter(java.nio.file.Files.exists(_)).foreach { p =>
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.foreach { line =>
      if (line.nonEmpty)
        executeSqlImpl(new String(java.util.Base64.getDecoder.decode(line), "UTF-8"))
    }
  }
}

/** A batch of INSERT statements executed as one submission — ref
  * StatementSet.java:30 (addInsertSql / addInsert / explain / execute).
  * The reference planner optimizes the set into one job graph so shared
  * scan/operator prefixes run once; here each INSERT is its own Spark
  * action and shared-prefix reuse is Catalyst's (exchange/subquery reuse
  * inside an action; cross-action reuse would need an explicit
  * `.persist`, deliberately not done — the sinks are independent and a
  * 100 TB run wants no surprise caching). Like the reference, the buffer
  * clears when execute() runs. */
final class StatementSet private[sql] (env: EngineEnv) {
  private val stmts = scala.collection.mutable.ListBuffer[String]()
  private val insHeadRe = """(?is)\s*INSERT\s+(?:INTO|OVERWRITE)\s+.*""".r

  /** Buffer an INSERT statement (ref StatementSet.addInsertSql). */
  def addInsertSql(statement: String): this.type = {
    require(insHeadRe.matches(statement),
      s"StatementSet accepts INSERT statements only, got: '${statement.trim.take(60)}'")
    stmts += statement
    this
  }

  /** Buffer a Table (DataFrame) insert into a registered sink table —
    * ref StatementSet.addInsert(targetPath, table[, overwrite]). */
  def addInsert(targetPath: String, table: DataFrame): this.type =
    addInsert(targetPath, table, overwrite = false)
  def addInsert(targetPath: String, table: DataFrame, overwrite: Boolean): this.type = {
    val view = s"__stmtset_${StatementSet.seq.incrementAndGet()}"
    table.createOrReplaceTempView(view)
    stmts += s"INSERT ${if (overwrite) "OVERWRITE" else "INTO"} $targetPath SELECT * FROM $view"
    this
  }

  /** The buffered statements' plans (ref StatementSet.explain). */
  def explain(): String = stmts.map { st =>
    val q = st.replaceFirst(
      """(?is)^\s*INSERT\s+(?:INTO|OVERWRITE)\s+[\w.]+\s+(?:PARTITION\s*\([^)]*\)\s+)?""", "")
    val plan = env.executeSql("EXPLAIN " + q).collect().map(_.getString(0)).mkString("\n")
    s"== ${st.trim.linesIterator.next().take(100)} ==\n$plan"
  }.mkString("\n\n")

  /** Execute all buffered statements; the buffer clears first (the
    * reference's contract) so a failed run does not double-insert on
    * retry of the same set object. */
  def execute(): Unit = {
    val run = stmts.toList
    stmts.clear()
    run.foreach(env.executeSql)
  }
}

private object StatementSet {
  val seq = new java.util.concurrent.atomic.AtomicLong(0)
}
