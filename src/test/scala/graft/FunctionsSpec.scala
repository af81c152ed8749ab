package graft

import graft.functions.FlinkFunctions
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Flink-name function surface: scalar wrappers + SINGLE_VALUE error
  * semantics (ref SingleValueAggFunction: >1 row per group must fail). */
class FunctionsSpec extends SparkTestBase {

  test("scalar wrappers match Flink semantics") {
    assert(FlinkFunctions.splitIndex("a,b,c", ",", 0) == "a")
    assert(FlinkFunctions.splitIndex("a,b,c", ",", 2) == "c")
    assert(FlinkFunctions.splitIndex("a,b,c", ",", 3) == null)
    assert(FlinkFunctions.splitIndex(null, ",", 0) == null)
    assert(FlinkFunctions.isDigit("123") && !FlinkFunctions.isDigit("12a") && !FlinkFunctions.isDigit(""))
    assert(FlinkFunctions.isAlpha("abC") && !FlinkFunctions.isAlpha("ab1"))
    assert(FlinkFunctions.isDecimal("-12.5") && FlinkFunctions.isDecimal("3") && !FlinkFunctions.isDecimal("1.2.3"))
    // ref SqlFunctionUtils.hashCode:890 absolutes the raw value
    assert(FlinkFunctions.hashCode("abc") == Math.abs("abc".hashCode))
    assert(FlinkFunctions.hashCode("hello world!") == 217287203) // raw is -217287203
    assert(FlinkFunctions.hashCode("") == 0)
  }

  test("scalar wrapper edges mirror SqlFunctionUtils exactly") {
    import graft.plans.SplitIndexEval
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    // empty input → ZERO tokens (commons splitByWholeSeparatorPreserveAllTokens)
    assert(FlinkFunctions.splitIndex("", ",", 0) == null)
    assert(SplitIndexEval.eval(u8(""), u8(","), 0) == null)
    // empty separator → per-whitespace-char split, empties preserved
    assert(FlinkFunctions.splitIndex("a  b", "", 1) == "")
    assert(FlinkFunctions.splitIndex("a  b", "", 2) == "b")
    assert(SplitIndexEval.eval(u8("a b"), u8(""), 1).toString == "b")
    // ...and "whitespace" is Character.isWhitespace (commons splitWorker),
    // which includes Unicode line separator U+2028 and ideographic space U+3000 --
    // NOT just ASCII \s (ADVICE r13)
    assert(FlinkFunctions.splitIndex("a\u3000b", "", 1) == "b")
    assert(SplitIndexEval.eval(u8("a\u2028b"), u8(""), 1).toString == "b")
    assert(SplitIndexEval.eval(u8("\u3000a"), u8(""), 1).toString == "a")
    // whole-separator, preserve-all-tokens
    assert(SplitIndexEval.eval(u8("a,,b"), u8(","), 1).toString == "")
    assert(SplitIndexEval.eval(u8("abab"), u8("ab"), 2).toString == "")
    // isAlpha is full-Unicode Character.isLetter (commons isAlpha)
    assert(FlinkFunctions.isAlpha("héllo") && FlinkFunctions.isAlpha("日本語"))
    // isDecimal accepts whatever Integer/Long/Double.parse accepts
    assert(FlinkFunctions.isDecimal("3.") && FlinkFunctions.isDecimal("1e10") &&
      FlinkFunctions.isDecimal("Infinity") && FlinkFunctions.isDecimal("NaN") &&
      FlinkFunctions.isDecimal("9223372036854775807") && !FlinkFunctions.isDecimal("abc"))
    // HASH_CODE: null in → null out (generateCallIfArgsNotNull)
    assert(FlinkFunctions.hashCode(null) == null)
  }

  test("SPLIT_INDEX is a native codegen expression (no ScalaUDF in plan)") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    Seq(("a,b,c", 0), ("a,b,c", 2), ("a,b,c", 7), ("x", 0)).toDF("str", "i")
      .createOrReplaceTempView("si_t")
    val df = s.sql("SELECT SPLIT_INDEX(str, ',', i) AS p FROM si_t")
    assert(df.as[Option[String]].collect().toSeq == Seq(Some("a"), Some("c"), None, Some("x")))
    // over a file scan the expression must survive in the codegen'd plan
    // (not a ScalaUDF wrapper)
    Tables.load(s, sfDir, "part").createOrReplaceTempView("part_si")
    val scan = s.sql("SELECT SPLIT_INDEX(p_type, ' ', 1) AS p FROM part_si")
    assert(scan.count() > 0)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && plan.contains("split_index"))
    // Column-API wrapper agrees
    import org.apache.spark.sql.functions.{col, lit}
    val viaCol = Seq("q|w|e").toDF("s")
      .select(graft.plans.SplitIndexExpr.splitIndex(col("s"), lit("|"), lit(1)).as("p"))
      .as[String].collect().toSeq
    assert(viaCol == Seq("w"))
  }

  test("SPLIT_INDEX generated code COMPILES (no interpreted fallback)") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    // with fallback disabled a doGenCode compile error fails the query
    // instead of silently degrading to the interpreted path
    StreamOps.withConf(s, "spark.sql.codegen.fallback" -> "false") {
      val out = Seq(("a,b,c", 1)).toDF("str", "i")
        .selectExpr("SPLIT_INDEX(str, ',', i) AS p").as[String].collect().toSeq
      assert(out == Seq("b"))
    }
  }

  test("SINGLE_VALUE returns the value for 1-row groups") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    Seq((1, 2.5), (2, 3.5)).toDF("k", "v").createOrReplaceTempView("sv_ok")
    val out = s.sql("SELECT k, SINGLE_VALUE(v) AS sv FROM sv_ok GROUP BY k ORDER BY k")
      .as[(Int, Double)].collect().toSeq
    assert(out == Seq((1, 2.5), (2, 3.5)))
  }

  test("SINGLE_VALUE errors on multi-row groups") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    Seq((1, 2.5), (1, 3.5)).toDF("k", "v").createOrReplaceTempView("sv_bad")
    val e = intercept[Exception] {
      s.sql("SELECT k, SINGLE_VALUE(v) AS sv FROM sv_bad GROUP BY k").collect()
    }
    assert(e.getMessage.contains("SINGLE_VALUE") ||
      Option(e.getCause).exists(_.getMessage.contains("SINGLE_VALUE")))
  }

  test("dot_product_q matches the zip_with/aggregate composition bit-for-bit") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Tables.load(s, sfDir, "embeddings").limit(200)
      .select(col("vec_id"), col("embedding").as("a"),
              reverse(col("embedding")).as("b"))
    val old = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => floor(x.cast("double") * y.cast("double") * 1000000.0).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val neu = graft.plans.DotProductQExpr.dotQ(col("a"), col("b"), 1000000.0)
    val diffs = df.select(old.as("o"), neu.as("n")).filter(col("o") =!= col("n")).count()
    assert(diffs == 0L)
  }

  test("dot_product_q: null element nulls the result; shorter prefix used on length mismatch") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (Seq[Option[Double]](Some(2.0)), Seq[Option[Double]](Some(3.0), Some(4.0)))
    ).toDF("a", "b")
    val out = df.select(graft.plans.DotProductQExpr.dotQ(col("a"), col("b"), 1.0).as("d"))
      .as[Option[Long]].collect().toSeq
    assert(out == Seq(Some(11L), None, Some(6L)))
  }

  test("DOT_PRODUCT_Q is callable from SQL with a numeric (DECIMAL-parsed) scale literal") {
    val s = spark
    import s.implicits._
    graft.functions.FlinkFunctions.registerAll(s)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("dpq_t")
    // the parser types 2.0 as DECIMAL(2,1); the registration casts to double
    val viaSql = s.sql("SELECT DOT_PRODUCT_Q(a, b, 2.0) AS d FROM dpq_t").as[Long].head()
    assert(viaSql == 22L) // floor(1*3*2) + floor(2*4*2)
    s.catalog.dropTempView("dpq_t")
  }

  test("dot_product_q participates in whole-stage codegen (no interpreted fallback)") {
    val df = Tables.load(spark, sfDir, "embeddings")
      .select(graft.plans.DotProductQExpr.dotQ(col("embedding"), col("embedding"), 1000000.0).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in the collapsed
    // plan string — the Project evaluating the expression must carry it
    assert(plan.linesIterator.exists(l => l.contains("dot_product_q") && l.trim.startsWith("*(")),
      plan.take(500))
    // and the expression itself evaluates: trigger one partition
    assert(df.limit(1).collect().head.getLong(0) > 0)
  }

  test("builtin aliases: WEEK / SHA-n family / TO_BASE64 / FROM_BASE64 / CONVERT_TZ") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    // known vectors: java.security.MessageDigest is the independent oracle
    def md(alg: String, in: String) =
      java.security.MessageDigest.getInstance(alg).digest(in.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val row = s.sql("""
      SELECT WEEK(DATE '1996-01-02') AS wk,
             SHA224('abc') AS s224, SHA256('abc') AS s256,
             SHA384('abc') AS s384, SHA512('abc') AS s512,
             TO_BASE64('hello graft') AS b64,
             FROM_BASE64(TO_BASE64('round trip')) AS rt,
             CONVERT_TZ('2021-04-15 14:00:00', 'UTC', 'Asia/Shanghai') AS tz1,
             CONVERT_TZ('1997-01-01 00:00:00', 'UTC', 'America/Los_Angeles') AS tz2
    """).head()
    assert(row.getAs[Int]("wk") == 1)
    assert(row.getAs[String]("s224") == md("SHA-224", "abc"))
    assert(row.getAs[String]("s256") == md("SHA-256", "abc"))
    assert(row.getAs[String]("s384") == md("SHA-384", "abc"))
    assert(row.getAs[String]("s512") == md("SHA-512", "abc"))
    assert(row.getAs[String]("b64") ==
      java.util.Base64.getEncoder.encodeToString("hello graft".getBytes("UTF-8")))
    assert(row.getAs[String]("rt") == "round trip")
    assert(row.getAs[String]("tz1") == "2021-04-15 22:00:00")
    assert(row.getAs[String]("tz2") == "1996-12-31 16:00:00") // PST, -8
    // aliases resolve to native codegen'd expressions, not ScalaUDFs
    val plan = s.sql("SELECT SHA256('x') AS a, TO_BASE64('y') AS b, WEEK(DATE '2020-01-01') AS c")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(400))
  }

  test("SINGLE_VALUE over a single NULL row returns NULL, not 0.0") {
    val s = spark
    import s.implicits._
    FlinkFunctions.registerAll(s)
    Seq((1, Some(2.5)), (2, None)).toDF("k", "v").createOrReplaceTempView("sv_null")
    val out = s.sql("SELECT k, SINGLE_VALUE(v) AS sv FROM sv_null GROUP BY k ORDER BY k")
      .as[(Int, Option[Double])].collect().toSeq
    assert(out == Seq((1, Some(2.5)), (2, None)))
  }
}
