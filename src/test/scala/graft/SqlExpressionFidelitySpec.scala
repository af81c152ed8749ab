package graft

import graft.sql.{EngineEnv, FlinkSqlDialect}
import graft.streaming.StreamOps

/** SqlExpressionTest mirror — the reference's documented-SQL-surface
  * expectation table (flink-table-planner-blink SqlExpressionTest.scala,
  * "tests all SQL expressions that are currently supported according to
  * the documentation"), re-run through the dialect layer: each expression
  * evaluates via EngineEnv.sqlQuery and must render the value the
  * reference's table pins. Rows the Spark surface cannot express
  * faithfully are excluded and documented in COVERAGE.md (integer '/'
  * yields DOUBLE in Spark's non-ANSI dialect; comma-list CASE WHEN, ROW
  * literal rendering, TIME-typed FLOOR/CEIL, INTERVAL literal rendering).
  */
class SqlExpressionFidelitySpec extends SparkTestBase {

  private lazy val env = new EngineEnv(spark)

  private def render(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  private def check(expr: String, expected: String): Unit = {
    val got = render(env.sqlQuery(s"SELECT $expr").head().get(0))
    assert(got == expected, s"<$expr> rendered '$got', reference pins '$expected'")
  }

  test("comparison + logical rows") {
    Seq(
      "1 = 1" -> "true", "1 <> 1" -> "false", "5 > 2" -> "true",
      "2 >= 2" -> "true", "5 < 2" -> "false", "2 <= 2" -> "true",
      "x'0c' <= x'0b'" -> "false", "x'0c' > x'0b'" -> "true",
      "x'0c' = x'0c'" -> "true", "x'0c' <> x'0c'" -> "false",
      "1 IS NULL" -> "false", "1 IS NOT NULL" -> "true",
      "NULLIF(1,1) IS DISTINCT FROM NULLIF(1,1)" -> "false",
      "NULLIF(1,1) IS NOT DISTINCT FROM NULLIF(1,1)" -> "true",
      "12 BETWEEN 11 AND 13" -> "true",
      "12 NOT BETWEEN 11 AND 13" -> "false",
      "'TEST' LIKE '%EST'" -> "true",
      "'%EST' LIKE '.%EST' ESCAPE '.'" -> "true",
      "'TEST' NOT LIKE '%EST'" -> "false",
      "'%EST' NOT LIKE '.%EST' ESCAPE '.'" -> "false",
      "'TEST' SIMILAR TO '.EST'" -> "true", // '.' is a regex dot in the reference's walk
      "'TEST' NOT SIMILAR TO '.EST'" -> "false",
      "'TEST' IN ('west', 'TEST', 'rest')" -> "true",
      "'TEST' IN ('west', 'rest')" -> "false",
      "'TEST' NOT IN ('west', 'TEST', 'rest')" -> "false",
      "'TEST' NOT IN ('west', 'rest')" -> "true",
      "TRUE OR FALSE" -> "true", "TRUE AND FALSE" -> "false",
      "NOT TRUE" -> "false", "TRUE IS FALSE" -> "false",
      "TRUE IS NOT FALSE" -> "true", "TRUE IS TRUE" -> "true",
      "TRUE IS NOT TRUE" -> "false",
      "NULLIF(TRUE,TRUE) IS UNKNOWN" -> "true",
      "NULLIF(TRUE,TRUE) IS NOT UNKNOWN" -> "false",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("arithmetic rows") {
    Seq(
      "+5" -> "5", "-5" -> "-5", "5+5" -> "10", "5-5" -> "0", "5*5" -> "25",
      "5%2" -> "1",
      "POWER(5, 5)" -> "3125.0",
      "ABS(-5)" -> "5",
      "MOD(-26, 5)" -> "-1",
      "SQRT(4)" -> "2.0",
      "LN(1)" -> "0.0", "LOG10(1)" -> "0.0", "EXP(0)" -> "1.0",
      "CEIL(2.5)" -> "3", "CEILING(2.5)" -> "3", "FLOOR(2.5)" -> "2",
      "SIN(2.5)" -> "0.5984721441039564",
      "SINH(2.5)" -> "6.0502044810397875",
      "COS(2.5)" -> "-0.8011436155469337",
      "TAN(2.5)" -> "-0.7470222972386603",
      "COT(2.5)" -> "-1.3386481283041514",
      "ASIN(0.5)" -> "0.5235987755982989",
      "ACOS(0.5)" -> "1.0471975511965979",
      "ATAN(0.5)" -> "0.4636476090008061",
      "ATAN2(0.5, 0.5)" -> "0.7853981633974483",
      "COSH(2.5)" -> "6.132289479663686",
      "TANH(2.5)" -> "0.9866142981514303",
      "DEGREES(0.5)" -> "28.64788975654116",
      "RADIANS(0.5)" -> "0.008726646259971648",
      "ROUND(-12.345, 2)" -> "-12.35", // decimal HALF_UP, away from zero
      "PI()" -> "3.141592653589793",
      "E()" -> "2.718281828459045",
      "truncate(42.345, 2)" -> "42.34",
      "truncate(42.345)" -> "42",
      "truncate(-42.345)" -> "-42", // toward zero, not floor's -43
    ).foreach { case (e, want) => check(e, want) }
  }

  test("decimal division rows (Calcite result-type scale)") {
    // The two int-DIVISOR rows carry an explicit DECIMAL(10,0) cast:
    // Calcite promotes the operand's TYPE (INT → Decimal(10,0), result
    // scale 12), Spark promotes an integer LITERAL at its tight precision
    // (Decimal(1,0), result scale 6) — the cast pins the Calcite-typed
    // operand so the reference's rendered scale is reproduced.
    Seq(
      "1.0/8.0" -> "0.125000",        // Decimal(2,1)/Decimal(2,1) → Decimal(8,6)
      "2.0/3.0" -> "0.666667",
      "-2/3.0" -> "-0.666667",        // int dividend: scale 6 either way
      "2.0/CAST(-3 AS DECIMAL(10,0))" -> "-0.666666666667", // scale 12
      "-7.9/CAST(2 AS DECIMAL(10,0))" -> "-3.950000000000",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("string rows") {
    Seq(
      "'test' || 'string'" -> "teststring",
      "CHAR_LENGTH('string')" -> "6",
      "CHARACTER_LENGTH('string')" -> "6",
      "UPPER('string')" -> "STRING",
      "LOWER('STRING')" -> "string",
      "POSITION('STR' IN 'STRING')" -> "1",
      "TRIM(LEADING 'x' FROM 'xxxxSTRINGxxxx')" -> "STRINGxxxx",
      "TRIM(TRAILING 'x' FROM 'xxxxSTRINGxxxx')" -> "xxxxSTRING",
      "OVERLAY('This is a old string' PLACING 'new' FROM 11 FOR 3)" -> "This is a new string",
      "SUBSTRING('hello world', 2)" -> "ello world",
      "SUBSTRING('hello world', 2, 3)" -> "ell",
      "SUBSTRING('hello world', 2, 300)" -> "ello world",
      "SUBSTR('hello world', 2, 3)" -> "ell",
      "SUBSTR('hello world', 2)" -> "ello world",
      "SUBSTR('hello world', 0, 3)" -> "hel", // Calcite's 0-start quirk, shared by Spark
      "INITCAP('hello world')" -> "Hello World",
      "REGEXP_REPLACE('foobar', 'oo|ar', '')" -> "fb",
      "REGEXP_EXTRACT('foothebar', 'foo(.*?)(bar)', 2)" -> "bar",
      "REPEAT('This is a test String.', 2)" ->
        "This is a test String.This is a test String.",
      "REPLACE('hello world', 'world', 'flink')" -> "hello flink",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("conditional, cast, datetime, collection rows") {
    Seq(
      "CASE WHEN 1 = 2 THEN 2 WHEN 1 = 1 THEN 3 ELSE 3 END" -> "3",
      "NULLIF(1, 1)" -> "null",
      "COALESCE(NULL, 5)" -> "5",
      "CAST(2 AS DOUBLE)" -> "2.0",
      "DATE '1990-10-14'" -> "1990-10-14",
      "EXTRACT(DAY FROM DATE '1990-12-01')" -> "1",
      "QUARTER(DATE '2016-04-12')" -> "2",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("datetime long tail: FLOOR/CEIL TO unit (TemporalTypesTest.scala:738-757)") {
    // reference renders TIMESTAMP(0) results without fractional seconds;
    // CAST AS STRING reproduces that rendering in Spark
    def checkTs(expr: String, expected: String): Unit =
      check(s"CAST(($expr) AS STRING)", expected)
    Seq(
      "FLOOR(TIMESTAMP '2018-03-20 06:44:31' TO HOUR)" -> "2018-03-20 06:00:00",
      "FLOOR(TIMESTAMP '2018-03-20 06:44:31' TO DAY)" -> "2018-03-20 00:00:00",
      "FLOOR(TIMESTAMP '2018-03-20 00:00:00' TO DAY)" -> "2018-03-20 00:00:00",
      "FLOOR(TIMESTAMP '2018-04-01 06:44:31' TO MONTH)" -> "2018-04-01 00:00:00",
      "FLOOR(TIMESTAMP '2018-01-01 06:44:31' TO MONTH)" -> "2018-01-01 00:00:00",
      "FLOOR(TIMESTAMP '2018-03-20 06:44:31' TO MINUTE)" -> "2018-03-20 06:44:00",
      "CEIL(TIMESTAMP '2018-03-20 06:44:31' TO HOUR)" -> "2018-03-20 07:00:00",
      "CEIL(TIMESTAMP '2018-03-20 06:00:00' TO HOUR)" -> "2018-03-20 06:00:00",
      "CEIL(TIMESTAMP '2018-03-20 06:44:31' TO DAY)" -> "2018-03-21 00:00:00",
      "CEIL(TIMESTAMP '2018-03-01 00:00:00' TO DAY)" -> "2018-03-01 00:00:00",
      "CEIL(TIMESTAMP '2018-03-31 00:00:01' TO DAY)" -> "2018-04-01 00:00:00",
      "CEIL(TIMESTAMP '2018-03-01 21:00:01' TO MONTH)" -> "2018-03-01 00:00:00",
      "CEIL(TIMESTAMP '2018-03-01 00:00:00' TO MONTH)" -> "2018-03-01 00:00:00",
      "CEIL(TIMESTAMP '2018-12-02 00:00:00' TO MONTH)" -> "2019-01-01 00:00:00",
      "CEIL(TIMESTAMP '2018-01-01 21:00:01' TO YEAR)" -> "2018-01-01 00:00:00",
      "CEIL(TIMESTAMP '2018-01-02 21:00:01' TO YEAR)" -> "2019-01-01 00:00:00",
      "CEILING(TIMESTAMP '2018-03-20 06:44:31' TO HOUR)" -> "2018-03-20 07:00:00",
    ).foreach { case (e, want) => checkTs(e, want) }
    // numeric FLOOR/CEIL still untouched by the TO-unit rewrite
    check("FLOOR(2.5)", "2")
    check("CEIL(2.5)", "3")
  }

  test("datetime long tail: TIMESTAMPADD (ScalarFunctionsTest.scala:3248-3363)") {
    def checkTs(expr: String, expected: String): Unit =
      check(s"CAST(($expr) AS STRING)", expected)
    // the reference's (offset, unit) → rendered-value table, modern rows
    // (the -1000 rows land pre-1582 where SimpleDateFormat's hybrid
    // Julian calendar and proleptic-Gregorian engines disagree — excluded,
    // documented in COVERAGE.md)
    Seq(
      "TIMESTAMPADD(YEAR, 1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2018-11-29 22:58:58.998",
      "TIMESTAMPADD(YEAR, -61, TIMESTAMP '2017-11-29 22:58:58.998')" -> "1956-11-29 22:58:58.998",
      // month-end clamping: Nov 29 + 1 quarter = Feb 28 (not 29)
      "TIMESTAMPADD(QUARTER, 1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2018-02-28 22:58:58.998",
      "TIMESTAMPADD(QUARTER, 3, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2018-08-29 22:58:58.998",
      "TIMESTAMPADD(MONTH, 1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-12-29 22:58:58.998",
      "TIMESTAMPADD(MONTH, 3, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2018-02-28 22:58:58.998",
      "TIMESTAMPADD(MONTH, -61, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2012-10-29 22:58:58.998",
      "TIMESTAMPADD(WEEK, 1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-12-06 22:58:58.998",
      "TIMESTAMPADD(WEEK, -61, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2016-09-28 22:58:58.998",
      "TIMESTAMPADD(DAY, 3, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-12-02 22:58:58.998",
      "TIMESTAMPADD(HOUR, 3, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-11-30 01:58:58.998",
      "TIMESTAMPADD(HOUR, -61, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-11-27 09:58:58.998",
      "TIMESTAMPADD(MINUTE, -1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-11-29 22:57:58.998",
      "TIMESTAMPADD(SECOND, -61, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-11-29 22:57:57.998",
      // SQL_TSI_* spellings are unit aliases (Calcite TimeUnit)
      "TIMESTAMPADD(SQL_TSI_DAY, 3, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2017-12-02 22:58:58.998",
      "TIMESTAMPADD(SQL_TSI_YEAR, 1, TIMESTAMP '2017-11-29 22:58:58.998')" -> "2018-11-29 22:58:58.998",
      // DATE + whole-day interval stays a DATE (ScalarFunctionsTest:3380)
      "TIMESTAMPADD(DAY, 1, DATE '2016-06-15')" -> "2016-06-16",
      // null propagation (ScalarFunctionsTest:3368-3404)
      "TIMESTAMPADD(HOUR, CAST(NULL AS INTEGER), TIMESTAMP '2016-02-24 12:42:25')" -> "null",
      "TIMESTAMPADD(HOUR, -200, CAST(NULL AS TIMESTAMP))" -> "null",
      "TIMESTAMPADD(MONTH, 3, CAST(NULL AS TIMESTAMP))" -> "null",
    ).foreach { case (e, want) => checkTs(e, want) }
  }

  test("TIMESTAMPADD keeps the operand's type for DATE-typed COLUMNS (VERDICT r14 #5)") {
    // the reference returns DATE for day-or-coarser units on a DATE
    // operand whether it is a literal or a column (ScalarFunctionsTest:
    // 3380 + the f16/f18 field rows) — the interval-literal lowering is
    // type-polymorphic so columns now come out right too
    val s = spark
    import s.implicits._
    Seq("2016-06-15").toDF("ds").selectExpr("to_date(ds) AS d")
      .createOrReplaceTempView("dcol_t")
    def probe(e: String): (String, String) = {
      val df = env.sqlQuery(s"SELECT $e AS v FROM dcol_t")
      (df.schema("v").dataType.simpleString, render(df.head().get(0)))
    }
    assert(probe("TIMESTAMPADD(DAY, 1, d)") == ("date", "2016-06-16"))
    assert(probe("TIMESTAMPADD(WEEK, 1, d)") == ("date", "2016-06-22"))
    assert(probe("TIMESTAMPADD(MONTH, -1, d)") == ("date", "2016-05-15"))
    assert(probe("TIMESTAMPADD(QUARTER, 1, d)") == ("date", "2016-09-15"))
    assert(probe("TIMESTAMPADD(YEAR, 2, d)") == ("date", "2018-06-15"))
    // sub-day units promote to TIMESTAMP, reference-exact
    val (t, v) = probe("TIMESTAMPADD(HOUR, 3, d)")
    assert(t.startsWith("timestamp") && v == "2016-06-15 03:00:00.0")
    // month-end clamping rides Spark's interval arithmetic
    assert(probe("TIMESTAMPADD(MONTH, 1, DATE '2016-01-31')") == ("date", "2016-02-29"))
  }

  test("datetime long tail: TIMESTAMPDIFF (ScalarFunctionsTest.scala:3134-3244, TemporalTypesTest:1126-1138)") {
    // the reference's full unit × (ts,ts)/(date,ts)/(ts,date)/(date,date)
    // expectation table
    Seq(
      "TIMESTAMPDIFF(DAY, TIMESTAMP '2018-07-03 11:11:11', TIMESTAMP '2018-07-05 11:11:11')" -> "2",
      "TIMESTAMPDIFF(DAY, DATE '2016-06-15', TIMESTAMP '2016-06-16 11:11:11')" -> "1",
      "TIMESTAMPDIFF(DAY, TIMESTAMP '2016-06-15 11:00:00', DATE '2016-06-19')" -> "3",
      "TIMESTAMPDIFF(DAY, DATE '2016-06-15', DATE '2016-06-18')" -> "3",
      "TIMESTAMPDIFF(HOUR, TIMESTAMP '2018-07-03 11:11:11', TIMESTAMP '2018-07-04 12:12:11')" -> "25",
      "TIMESTAMPDIFF(HOUR, DATE '2016-06-15', TIMESTAMP '2016-06-16 11:11:11')" -> "35",
      "TIMESTAMPDIFF(HOUR, TIMESTAMP '2016-06-15 11:00:00', DATE '2016-06-19')" -> "85",
      "TIMESTAMPDIFF(HOUR, DATE '2016-06-15', DATE '2016-06-12')" -> "-72",
      "TIMESTAMPDIFF(MINUTE, TIMESTAMP '2018-07-03 11:11:11', TIMESTAMP '2018-07-03 12:10:11')" -> "59",
      "TIMESTAMPDIFF(MINUTE, DATE '2016-06-15', TIMESTAMP '2016-06-16 11:11:11')" -> "2111",
      "TIMESTAMPDIFF(MINUTE, TIMESTAMP '2016-06-15 11:00:00', DATE '2016-06-19')" -> "5100",
      "TIMESTAMPDIFF(MINUTE, DATE '2016-06-15', DATE '2016-06-18')" -> "4320",
      "TIMESTAMPDIFF(SECOND, TIMESTAMP '2018-07-03 11:11:11', TIMESTAMP '2018-07-03 11:12:12')" -> "61",
      "TIMESTAMPDIFF(SECOND, DATE '2016-06-15', TIMESTAMP '2016-06-16 11:11:11')" -> "126671",
      "TIMESTAMPDIFF(SECOND, TIMESTAMP '2016-06-15 11:00:00', DATE '2016-06-19')" -> "306000",
      "TIMESTAMPDIFF(SECOND, DATE '2016-06-15', DATE '2016-06-18')" -> "259200",
      "TIMESTAMPDIFF(WEEK, TIMESTAMP '2018-05-03 11:11:11', TIMESTAMP '2018-07-03 11:12:12')" -> "8",
      "TIMESTAMPDIFF(WEEK, DATE '2016-04-15', TIMESTAMP '2016-07-16 11:11:11')" -> "13",
      "TIMESTAMPDIFF(WEEK, TIMESTAMP '2016-04-15 11:00:00', DATE '2016-09-19')" -> "22",
      "TIMESTAMPDIFF(WEEK, DATE '2016-08-15', DATE '2016-06-18')" -> "-8",
      "TIMESTAMPDIFF(MONTH, TIMESTAMP '2018-07-03 11:11:11', TIMESTAMP '2018-09-05 11:11:11')" -> "2",
      "TIMESTAMPDIFF(MONTH, DATE '2016-06-15', TIMESTAMP '2018-06-16 11:11:11')" -> "24",
      "TIMESTAMPDIFF(MONTH, TIMESTAMP '2016-06-15 11:00:00', DATE '2018-05-19')" -> "23",
      "TIMESTAMPDIFF(MONTH, DATE '2016-06-15', DATE '2018-03-18')" -> "21",
      "TIMESTAMPDIFF(QUARTER, TIMESTAMP '2018-01-03 11:11:11', TIMESTAMP '2018-09-05 11:11:11')" -> "2",
      "TIMESTAMPDIFF(QUARTER, DATE '2016-06-15', TIMESTAMP '2018-06-16 11:11:11')" -> "8",
      "TIMESTAMPDIFF(QUARTER, TIMESTAMP '2016-06-15 11:00:00', DATE '2018-05-19')" -> "7",
      "TIMESTAMPDIFF(QUARTER, DATE '2016-06-15', DATE '2018-03-18')" -> "7",
      "TIMESTAMPDIFF(SQL_TSI_DAY, DATE '2016-06-15', DATE '2016-06-18')" -> "3",
      // month diffs around sign boundaries (TemporalTypesTest:1126-1138)
      "TIMESTAMPDIFF(MONTH, TIMESTAMP '2019-09-01 00:00:00', TIMESTAMP '2020-03-01 00:00:00')" -> "6",
      "TIMESTAMPDIFF(MONTH, TIMESTAMP '2019-09-01 00:00:00', TIMESTAMP '2016-08-01 00:00:00')" -> "-37",
      "TIMESTAMPDIFF(MONTH, DATE '2019-09-01', DATE '2020-03-01')" -> "6",
      "TIMESTAMPDIFF(MONTH, DATE '2019-09-01', DATE '2016-08-01')" -> "-37",
      // null propagation (ScalarFunctionsTest:3231-3243)
      "TIMESTAMPDIFF(DAY, CAST(NULL AS TIMESTAMP), TIMESTAMP '2016-02-24 12:42:25')" -> "null",
      "TIMESTAMPDIFF(DAY, TIMESTAMP '2016-02-24 12:42:25', CAST(NULL AS TIMESTAMP))" -> "null",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("datetime long tail: CONVERT_TZ incl. DST boundaries (TemporalTypesTest:871, SqlDateTimeUtils.convertTz)") {
    Seq(
      "CONVERT_TZ('2018-03-14 11:00:00', 'UTC', 'Asia/Shanghai')" -> "2018-03-14 19:00:00",
      // spring-forward GAP: 02:30 PST does not exist; SimpleDateFormat and
      // java.time both shift forward → 10:30 UTC
      "CONVERT_TZ('2021-03-14 02:30:00', 'America/Los_Angeles', 'UTC')" -> "2021-03-14 10:30:00",
      // fall-back OVERLAP: 01:30 happens twice; the reference's
      // GregorianCalendar resolves to the LATER offset (PST) → 09:30 UTC,
      // where plain java.time (and Spark's convert_timezone) would give
      // 08:30 — pinned to the REFERENCE behavior
      "CONVERT_TZ('2021-11-07 01:30:00', 'America/Los_Angeles', 'UTC')" -> "2021-11-07 09:30:00",
      // null / unparseable → null (TemporalTypesTest testNullableCases)
      "CONVERT_TZ(cast(NULL as varchar), 'UTC', 'Asia/Shanghai')" -> "null",
      "CONVERT_TZ('invalid value', 'UTC', 'Asia/Shanghai')" -> "null",
      // LENIENT parse (ADVICE r14 — the reference goes through default
      // SimpleDateFormat, SqlDateTimeUtils.toTimestamp:333): a rollover
      // date resolves by calendar arithmetic, not to null
      "CONVERT_TZ('2021-02-30 00:00:00', 'UTC', 'UTC')" -> "2021-03-02 00:00:00",
      // and trailing text beyond the pattern is ignored (parse-at-position)
      "CONVERT_TZ('2021-01-01 00:00:00.123', 'UTC', 'Asia/Shanghai')" -> "2021-01-01 08:00:00",
    ).foreach { case (e, want) => check(e, want) }
  }

  test("datetime long tail: DATE_FORMAT / UNIX_TIMESTAMP / FROM_UNIXTIME / TO_DATE") {
    Seq(
      "DATE_FORMAT(TIMESTAMP '2018-03-14 01:02:03', 'yyyy/MM/dd HH:mm:ss')" -> "2018/03/14 01:02:03",
      "DATE_FORMAT(cast(NULL as varchar), 'yyyy/MM/dd HH:mm:ss')" -> "null",
      "DATE_FORMAT('invalid value', 'yyyy/MM/dd HH:mm:ss')" -> "null",
      "TO_DATE('2018-03-18')" -> "2018-03-18",
      "TO_DATE(cast(NULL as varchar))" -> "null",
      "FROM_UNIXTIME(cast(NULL as bigInt))" -> "null",
      "EXTRACT(DAY FROM TO_DATE('2018-03-18'))" -> "18",
      "EXTRACT(MONTH FROM TO_DATE('2018-01-01'))" -> "1",
      "EXTRACT(YEAR FROM TO_DATE('2018-01-01'))" -> "2018",
      "EXTRACT(QUARTER FROM TO_DATE('2018-01-01'))" -> "1",
    ).foreach { case (e, want) => check(e, want) }
    // the MySQL-documented DST mapping the reference pins under MET
    // (TemporalTypesTest.testDaylightSavingTimeZone): two distinct local
    // times map to ONE epoch second across the spring-forward gap
    StreamOps.withConf(spark, "spark.sql.session.timeZone" -> "MET") {
      check("UNIX_TIMESTAMP('2005-03-27 03:00:00')" , "1111885200")
      check("UNIX_TIMESTAMP('2005-03-27 02:00:00')" , "1111885200")
      check("FROM_UNIXTIME(1111885200)", "2005-03-27 03:00:00")
    }
  }

  test("datetime long tail 2: FROM_UNIXTIME formats + zones, TO_TIMESTAMP null-on-invalid") {
    // TemporalTypesTest.testFromUnixTime (f21=44, f22=3, UTC session)
    Seq(
      "FROM_UNIXTIME(44)" -> "1970-01-01 00:00:44",
      "FROM_UNIXTIME(44, 'yyyy-MM-dd HH:mm:ss.SSS')" -> "1970-01-01 00:00:44.000",
      "FROM_UNIXTIME(44, 'yy-MM-dd HH-mm-ss')" -> "70-01-01 00-00-44",
      "FROM_UNIXTIME(3)" -> "1970-01-01 00:00:03",
      "FROM_UNIXTIME(3, 'yy-MM-dd HH-mm-ss')" -> "70-01-01 00-00-03",
      // TemporalTypesTest:1016,848: unparseable input is NULL (the
      // reference catches the parse failure; Spark's ANSI to_timestamp
      // would throw — the TO_TIMESTAMP registration routes through
      // try_to_timestamp)
      "TO_TIMESTAMP('abc')" -> "null",
      "TO_TIMESTAMP('invalid value', 'yyyy-mm-dd')" -> "null",
      "TO_TIMESTAMP(SUBSTRING('', 2, -1))" -> "null",
      "TO_DATE('invalid value')" -> "null",
      // TemporalTypesTest:1020 — format complements missing fields
      // (reference renders TIMESTAMP(3) with '.000'; the instant is equal)
      "CAST(TO_TIMESTAMP('2000020210', 'yyyyMMddHH') AS STRING)" -> "2000-02-02 10:00:00",
      // null propagation through the TO-unit FLOOR/CEIL rewrite
      // (TemporalTypesTest:560 FLOOR(f13 TO HOUR) with null f13)
      "CAST(FLOOR(CAST(NULL AS TIMESTAMP) TO HOUR) AS STRING)" -> "null",
      "CAST(CEIL(CAST(NULL AS TIMESTAMP) TO DAY) AS STRING)" -> "null",
    ).foreach { case (e, want) => check(e, want) }
    // TemporalTypesTest.testFromUnixTimeInTokyo — session-zone rendering
    StreamOps.withConf(spark, "spark.sql.session.timeZone" -> "Asia/Tokyo") {
      check("FROM_UNIXTIME(44)", "1970-01-01 09:00:44")
      check("FROM_UNIXTIME(44, 'yy-MM-dd HH-mm-ss')", "70-01-01 09-00-44")
    }
  }

  test("hash rows") {
    Seq(
      "MD5('')" -> "d41d8cd98f00b204e9800998ecf8427e",
      "MD5('test')" -> "098f6bcd4621d373cade4e832627b4f6",
      "SHA1('')" -> "da39a3ee5e6b4b0d3255bfef95601890afd80709",
      "SHA1('test')" -> "a94a8fe5ccb19ba61c4c0873d391e987982fbbd3",
      "SHA2('', 224)" -> "d14a028c2a3a2bc9476102bb288234c415a2b01f828ea62ac5b3e42f",
      "SHA2('test', 256)" ->
        "9f86d081884c7d659a2feaa0c55ad015a3bf4f1b2b0b822cd15d6c15b0f00a08",
      "SHA2('test',512)" ->
        ("ee26b0dd4af7e749aa1a8ee3c10ae9923f618980772e473f8819a5d4940e0" +
         "db27ac185f8a0e1d5f84f88bc887fd67b143732c304cc5fa9ad8e6f57f50028a8ff"),
      "MD5(CAST(NULL AS VARCHAR))" -> "null",
      "SHA1(CAST(NULL AS VARCHAR))" -> "null",
      "SHA2(CAST(NULL AS VARCHAR), 256)" -> "null",
      "FROM_BASE64(cast(NUll as varchar))" -> "null",
      "TO_BASE64(FROM_BASE64(cast(NUll as varchar)))" -> "null",
    ).foreach { case (e, want) => check(e, want) }
  }
}
