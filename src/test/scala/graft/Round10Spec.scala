package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Round-10 specs: the iterative graph loops' shuffle width follows the
  * session conf (r9 VERDICT #3 — the loops used to hardcode
  * spark.sql.shuffle.partitions=4/8, capping the partitioned fallback's
  * every per-iteration exchange at toy parallelism on exactly the
  * cluster-sized graphs the fallback exists for). Contract: ambient width
  * by default, `graft.graph.loopShufflePartitions` narrows it for one
  * loop, and the override is restored afterwards. */
class Round10Spec extends SparkTestBase {

  private def lcgEdges(n: Int) = {
    val s = spark
    import s.implicits._
    var x = 11L
    val buf = scala.collection.mutable.ListBuffer[(Long, Long)]()
    for (a <- 0 until n; b <- a + 1 until n) {
      x = (x * 1103515245L + 12345L) % 2147483648L
      if (x % 10 < 3) buf += ((a.toLong, b.toLong))
    }
    buf.toSeq.toDF("src", "dst")
  }

  /** Output frame of a loop = the last iteration's shuffle, so its
    * partition count IS the loop's exchange width (AQE off so no
    * post-shuffle coalesce hides it). */
  private def loopWidth(parts: Option[String], ambient: String): Int = {
    val settings = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> ambient,
      "graft.graph.broadcastMaxRows" -> "0") ++ // force the partitioned path
      parts.map("graft.graph.loopShufflePartitions" -> _)
    StreamOps.withConf(spark, settings: _*) {
      val n = graft.operators.GraphOps.pageRank(lcgEdges(40), iters = 2).rdd.getNumPartitions
      assert(spark.conf.get("spark.sql.shuffle.partitions") == ambient,
        "loop override leaked into the session conf")
      n
    }
  }

  test("graph loop shuffle width follows the ambient conf when the knob is unset") {
    assert(loopWidth(None, ambient = "5") == 5)
    assert(loopWidth(None, ambient = "7") == 7)
  }

  test("graft.graph.loopShufflePartitions narrows the loop width and is restored") {
    // loopWidth checks the ambient width is back once the loop returns
    assert(loopWidth(Some("3"), ambient = "7") == 3)
  }

  /** The avgDigits oracle emulation (TpcdsVerbatim2Queries): the HUGEINT
    * (2A+n)//(2n) mean with A = |unscaled sum|·10⁴ must be EXACTLY Spark's
    * avg(DECIMAL(p,s)) → DECIMAL(p+4,s+4), digit for digit including the
    * java/python-BigDecimal scientific renders. The fixtures exercise the
    * fixed-point and '0E-10' zero arms (q_tpcds_v18 has real zero-coupon
    * groups); the sign, half-up-tie, and tiny-scientific arms are pinned
    * here on crafted operands — a double-based oracle rounds the .5 tie
    * cases wrong, and HALF_UP must go AWAY from zero for negative means. */
  test("avgDigits oracle emulation matches Spark's decimal avg digit-for-digit") {
    // BigInt transliteration of the SQL avgDigits emits (same arithmetic,
    // DuckDB // == BigInt / for the non-negative operands used)
    def emulate(vals: Seq[BigDecimal], inScale: Int, outScale: Int): String = {
      val su = vals.map(v => (v * BigDecimal(BigInt(10).pow(inScale))).toBigInt).sum
      val n = BigInt(vals.size)
      val shift = BigInt(10).pow(outScale - inScale)
      val p = BigInt(10).pow(outScale)
      val u = (BigInt(2) * su.abs * shift + n) / (BigInt(2) * n)
      val sign = if (su < 0) "-" else ""
      if (u == 0) { if (outScale <= 6) "0." + "0" * outScale else s"0E-$outScale" }
      else if (outScale > 6 && u < shift) {
        val d = u.toString
        sign + d.head + (if (d.length > 1) "." + d.tail else "") + "E-" + (outScale + 1 - d.length)
      } else sign + (u / p) + "." + (u % p).toString.reverse.padTo(outScale, '0').reverse
    }
    // the driver hashes PYTHON str() of the parquet-read decimal, which
    // follows java BigDecimal.toString's scientific rule (adjusted
    // exponent < -6 → 'd.dddE-k'; zero at scale>6 → '0E-10') — NOT
    // Spark's CAST-TO-STRING, which renders plain ('0.0000005000'); so
    // the pin collects the decimal value and renders it java-side.
    def sparkAvg(vals: Seq[String], decl: String): String =
      spark.sql(s"SELECT avg(CAST(v AS $decl)) FROM VALUES " +
        vals.map(v => s"($v)").mkString(",") + " t(v)").head().getDecimal(0).toString
    val cases: Seq[(Seq[String], Int, Int)] = Seq(
      (Seq("0.01") ++ Seq.fill(31)("0.00"), 2, 6),           // exact .5 tie → half-up
      (Seq("-0.01") ++ Seq.fill(31)("0.00"), 2, 6),          // negative tie → away from zero
      (Seq("-1.37", "-2.41", "-0.05"), 2, 6),                // plain negative mean
      (Seq.fill(3)("0.00"), 2, 6),                           // zero at scale 6 → fixed-point
      (Seq("1", "0", "0"), 2, 6),                            // repeating 1/3
      (Seq("0.000001", "0.000000"), 6, 10),                  // 5E-7 → scientific '5.000E-7'
      (Seq("0.000001") ++ Seq.fill(9)("0.000000"), 6, 10),   // 1E-7 → '1.000E-7'
      (Seq.fill(4)("0.000000"), 6, 10),                      // zero at scale 10 → '0E-10'
      (Seq("-0.000001", "0.000000"), 6, 10),                 // negative scientific
      (Seq("99999.99", "99999.97"), 2, 6))                   // widest DECIMAL(7,2) operands
    for ((vals, is, os) <- cases) {
      val decl = if (is == 2) "DECIMAL(7,2)" else "DECIMAL(12,6)"
      val got = sparkAvg(vals, decl)
      val want = emulate(vals.map(BigDecimal(_)), is, os)
      assert(got == want, s"avg($vals) as $decl: spark=$got emulated=$want")
    }
  }

  /** q64 hosting pins (r10): the verbatim query is only meaningful if the
    * derived schema keeps its predicates SATISFIABLE-BUT-SELECTIVE — every
    * arm below was provably degenerate under the pre-r10 derivation
    * (empty cs_ui intersection, always-equal demo keys), which left q64
    * green only by both engines agreeing on the empty set. */
  private def tpcdsViews(): Unit = {
    SparkEntry.queries.size // break the coverage-registry static-init cycle
    graft.coverage.TpcdsVerbatimQueries.register(spark, sfDir)
  }

  test("q64 derivation: cs_ui HAVING keeps a strict non-empty subset of items") {
    tpcdsViews()
    val Array(universe, kept) = spark.sql(
      """SELECT count(DISTINCT cs_item_sk),
                count(DISTINCT CASE WHEN pass THEN cs_item_sk END) FROM (
           SELECT cs_item_sk,
                  sum(cs_ext_list_price) >
                    2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit) AS pass
           FROM catalog_sales JOIN catalog_returns
             ON cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
           GROUP BY cs_item_sk)""").head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(kept > 0, "cs_ui empty: the refund rescale regressed")
    assert(kept < universe, "cs_ui degenerate: HAVING keeps every item")
  }

  test("q64 derivation: sale-time vs current demographics genuinely differ") {
    tpcdsViews()
    val differ = spark.sql(
      """SELECT count(*) FROM store_sales
         JOIN customer ON ss_customer_sk = c_customer_sk
         JOIN customer_demographics cd1 ON ss_cdemo_sk = cd1.cd_demo_sk
         JOIN customer_demographics cd2 ON c_current_cdemo_sk = cd2.cd_demo_sk
         WHERE cd1.cd_marital_status <> cd2.cd_marital_status""").head().getLong(0)
    assert(differ > 0, "ss_cdemo_sk re-correlated with the customer key: " +
      "q64's marital-status inequality is provably empty again")
  }

  test("q64 derivation: customer first-date surrogates resolve in date_dim") {
    tpcdsViews()
    val dangling = spark.sql(
      """SELECT count(*) FROM customer c
         LEFT ANTI JOIN date_dim d2 ON c.c_first_sales_date_sk = d2.d_date_sk""").head().getLong(0) +
      spark.sql(
      """SELECT count(*) FROM customer c
         LEFT ANTI JOIN date_dim d3 ON c.c_first_shipto_date_sk = d3.d_date_sk""").head().getLong(0)
    assert(dangling == 0L, s"$dangling customers with first-date surrogates outside date_dim")
  }

  test("q_tpcds_v64 is non-empty at sf0.01 with deduplicated output names") {
    val df = SparkEntry.queries("q_tpcds_v64")(spark, "/root/testdata/sf0.01")
    assert(df.columns.toSeq == Seq(
      "product_name", "store_name", "store_zip", "b_street_number",
      "b_street_name", "b_city", "b_zip", "c_street_number",
      "c_street_name", "c_city", "c_zip", "syear", "cnt",
      "s11", "s21", "s31", "s12", "s22", "s32", "syear2", "cnt2"))
    assert(df.count() >= 1, "q64 funnel collapsed to empty at sf0.01 — " +
      "the 1999↔2000 same-item-same-store self-join no longer matches")
  }
}
