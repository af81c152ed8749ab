package graft.coverage

import graft.{Q, Tables}
import org.apache.spark.sql.SparkSession

/** Verbatim TPC-DS dialect-fidelity corpus — VERDICT r7 next-round #3.
  *
  * The reference gates correctness on the 103 official TPC-DS queries run
  * as unmodified SQL text (ref flink-end-to-end-tests/flink-tpcds-test/
  * .../TpcdsTestProgram.java:77-86). This module runs 32 of those queries
  * BYTE-FOR-BYTE (the public TPC-DS benchmark text, qualified templates)
  * through [[graft.sql.EngineEnv.sqlQuery]], and the DuckDB oracle runs
  * the SAME verbatim text — so parser/dialect corners (comma joins,
  * INTERVAL arithmetic, rollup+grouping() windows, nested WITH, decimal
  * literals, substr, OR-of-AND residuals) are exercised as real query
  * text rather than hand-translated shapes (TPCDS_MAP.md covers the rest
  * of the 103 as planner-mechanic shapes).
  *
  * The TPC-DS star schema is HOSTED on the TPC-H-ish fixtures as derived
  * views: store_sales = lineitem ⋈ orders, item = part, store = supplier,
  * customer/address/demographics = customer, date_dim = the distinct
  * (order ∪ ship) dates shifted +36 months so the official queries'
  * literal year filters (1998-2001) land inside the fixtures' 1995-2001 span.
  * The Spark temp views and the DuckDB CTEs are dialect twins generated
  * from ONE column-derivation template (only the four date functions
  * differ per engine — verified value-identical conventions: dayname
  * 'Sunday' text, Sunday=0 dow, add_months leap handling, epoch day
  * counts). Every money column is an integral-valued DOUBLE (floor-
  * quantized cents-free dollars) so verbatim SUM/AVG/ratio aggregates are
  * order-independent and bit-identical across engines — the corpus-wide
  * float contract (Queries.dsum) applied at the SCHEMA level because the
  * query text cannot be touched.
  *
  * Scale: the fact view is a single lineitem⋈orders equi-join (the same
  * shuffle the TPC-H corpus carries); every dimension is small enough for
  * AQE to broadcast, exactly how the official kit's dimensions behave.
  */
object TpcdsVerbatimQueries {

  /** The engine-divergent spellings; everything else in the view template
    * is shared text. Values are verified identical cross-engine. */
  private final case class Dialect(
    tbl: String => String,             // fixture base-table spelling
    str: String,                       // string type token
    shift: String => String,           // date → date + 36 months
    days: String => String,            // date → days since 1970-01-05
    dayName: String => String,         // date → 'Sunday'-style name
    dow: String => String,             // date → day-of-week, Sunday = 0
    addDays: (String, String) => String, // date + n days
    secondsTable: String,              // 86400-row (n BIGINT) relation
    sortedList: String => String,      // expr → sorted-array aggregate
    elemAt: (String, String) => String) // (array, 1-based idx) → element

  private val sparkDialect = Dialect(t => s"th_$t", "STRING",
    d => s"add_months($d, 36)",
    d => s"datediff($d, DATE '1970-01-05')",
    d => s"date_format($d, 'EEEE')",
    d => s"(dayofweek($d) - 1)",
    (d, n) => s"date_add($d, CAST(($n) AS INT))",
    "(SELECT CAST(id AS BIGINT) AS n FROM range(86400))",
    e => s"array_sort(collect_list($e))",
    (a, i) => s"element_at($a, CAST($i AS INT))")

  private val duckDialect = Dialect(t => s"main.$t", "VARCHAR",
    d => s"CAST($d + INTERVAL 36 MONTH AS DATE)",
    d => s"($d - DATE '1970-01-05')",
    d => s"dayname($d)",
    d => s"dayofweek($d)",
    (d, n) => s"($d + CAST($n AS INT))",
    "(SELECT CAST(n AS BIGINT) AS n FROM generate_series(0, 86399) t(n))",
    e => s"list_sort(list($e))",
    (a, i) => s"$a[CAST($i AS INT)]")

  /** One derivation template, instantiated per engine. Order matters for
    * the DuckDB WITH-list (later CTEs may reference earlier ones).
    *
    * r10 (hosting q64): `ss_cdemo_sk` is DECORRELATED from the customer key
    * — when it equaled `o_custkey` it was always the same row as
    * `c_current_cdemo_sk`, so any sale-time-vs-current demographic
    * comparison (q64's `cd1.cd_marital_status <> cd2.cd_marital_status`)
    * was provably empty; the remap keeps the uniform 1..ncust domain.
    * `customer` gains `c_first_sales_date_sk`/`c_first_shipto_date_sk`,
    * deterministic picks FROM date_dim itself (1-row broadcast cross join,
    * the existing ncust idiom) so the d2/d3 equi-joins always land.
    * The three `cr_*` refund components (consumed only by q40/q64) are
    * scaled so `2*refund` straddles `sum(cs_ext_list_price)` with per-row
    * variance via `(l_orderkey % 7)`: q64's cs_ui HAVING keeps ~78% of
    * items (was ~3%, floor artifacts only, which left q64 permanently
    * empty at every fixture scale). */
  private def viewSql(t: Dialect): Seq[(String, String)] = {
    import t._
    val dateSk = (d: String) =>
      s"CAST(EXTRACT(YEAR FROM $d) * 512 + EXTRACT(MONTH FROM $d) * 32 + EXTRACT(DAY FROM $d) AS BIGINT)"
    Seq(
      "date_dim" -> s"""
        SELECT ${dateSk("d")} AS d_date_sk,
               d AS d_date,
               CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS d_year,
               CAST(EXTRACT(MONTH FROM d) AS BIGINT) AS d_moy,
               CAST(EXTRACT(DAY FROM d) AS BIGINT) AS d_dom,
               CAST((EXTRACT(YEAR FROM d) - 1900) * 12 + EXTRACT(MONTH FROM d) - 1 AS BIGINT) AS d_month_seq,
               CAST(FLOOR(${days("d")} / 7) AS BIGINT) AS d_week_seq,
               ${dayName("d")} AS d_day_name,
               CAST(${dow("d")} AS BIGINT) AS d_dow,
               CAST(FLOOR((EXTRACT(MONTH FROM d) + 2) / 3.0) AS BIGINT) AS d_qoy,
               CAST(EXTRACT(YEAR FROM d) AS $str) || 'Q' ||
                 CAST(CAST(FLOOR((EXTRACT(MONTH FROM d) + 2) / 3.0) AS BIGINT) AS $str) AS d_quarter_name
        FROM (SELECT DISTINCT ${shift("d0")} AS d FROM
               (SELECT CAST(o_orderdate AS DATE) AS d0 FROM ${tbl("orders")}
                UNION SELECT CAST(l_shipdate AS DATE) FROM ${tbl("lineitem")}) u) dts""",
      "store_sales" -> s"""
        SELECT ${dateSk("sd")} AS ss_sold_date_sk,
               CAST((l_orderkey * 7919 + l_linenumber * 104729) % 86400 AS BIGINT) AS ss_sold_time_sk,
               CAST(l_partkey AS BIGINT) AS ss_item_sk,
               CAST(o_custkey AS BIGINT) AS ss_customer_sk,
               CAST(1 + (o_custkey * 13 + l_orderkey * 7) % ncust AS BIGINT) AS ss_cdemo_sk,
               CAST(o_custkey AS BIGINT) AS ss_hdemo_sk,
               CASE WHEN (o_custkey * 7 + l_orderkey) % 19 = 0 THEN NULL
                    ELSE CAST(1 + (o_custkey * 7 + l_orderkey) % ncust AS BIGINT) END AS ss_addr_sk,
               CASE WHEN (l_orderkey * 3 + l_partkey) % 31 = 0 THEN NULL
                    ELSE CAST(l_suppkey % 12 + 1 AS BIGINT) END AS ss_store_sk,
               CAST(l_partkey % 30 + 1 AS BIGINT) AS ss_promo_sk,
               CAST(l_orderkey AS BIGINT) AS ss_ticket_number,
               CAST(l_quantity AS DOUBLE) AS ss_quantity,
               CAST(FLOOR(up / 10) AS DOUBLE) AS ss_sales_price,
               CAST(FLOOR(up / 9) AS DOUBLE) AS ss_list_price,
               CAST(FLOOR(up / 12) AS DOUBLE) AS ss_wholesale_cost,
               CAST(FLOOR(up / 10) * l_quantity AS DOUBLE) AS ss_ext_sales_price,
               CAST(FLOOR(up / 9) * l_quantity AS DOUBLE) AS ss_ext_list_price,
               CAST(FLOOR(up / 12) * l_quantity AS DOUBLE) AS ss_ext_wholesale_cost,
               CAST(FLOOR(l_discount * 100) * l_quantity AS DOUBLE) AS ss_ext_discount_amt,
               CAST(FLOOR(l_discount * 100) * l_quantity AS DOUBLE) AS ss_coupon_amt,
               CAST(FLOOR(l_tax * 100) * l_quantity AS DOUBLE) AS ss_ext_tax,
               CAST((FLOOR(up / 10) - FLOOR(up / 12)) * l_quantity AS DOUBLE) AS ss_net_profit,
               CAST((FLOOR(up / 10) - FLOOR(l_discount * 100)) * l_quantity AS DOUBLE) AS ss_net_paid
        FROM (SELECT l.*, ${shift("CAST(o_orderdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey, nc.ncust
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              CROSS JOIN (SELECT COUNT(*) AS ncust FROM ${tbl("customer")}) nc) fact""",
      "item" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS i_item_sk,
               'ITEM' || lpad(CAST(p_partkey AS $str), 8, '0') AS i_item_id,
               p_name || ' ' || CAST(p_partkey AS $str) AS i_item_desc,
               CAST(p_partkey % 40 + 1 AS BIGINT) AS i_brand_id,
               CASE p_partkey % 8 WHEN 0 THEN 'scholaramalgamalg #14'
                    WHEN 1 THEN 'scholaramalgamalg #7' WHEN 2 THEN 'exportiunivamalg #9'
                    WHEN 3 THEN 'scholaramalgamalg #9' WHEN 4 THEN 'amalgimporto #1'
                    WHEN 5 THEN 'edu packscholar #1' WHEN 6 THEN 'exportiimporto #1'
                    ELSE 'importoamalg #1' END AS i_brand,
               CAST(p_partkey % 1000 AS BIGINT) AS i_manufact_id,
               'Mfg#' || CAST(p_partkey % 1000 AS $str) AS i_manufact,
               CAST(p_partkey % 100 AS BIGINT) AS i_manager_id,
               CAST(p_partkey % 10 + 1 AS BIGINT) AS i_category_id,
               CASE p_partkey % 10 WHEN 0 THEN 'Sports' WHEN 1 THEN 'Books'
                    WHEN 2 THEN 'Home' WHEN 3 THEN 'Electronics' WHEN 4 THEN 'Jewelry'
                    WHEN 5 THEN 'Men' WHEN 6 THEN 'Music' WHEN 7 THEN 'Shoes'
                    WHEN 8 THEN 'Toys' ELSE 'Women' END AS i_category,
               CAST(p_partkey % 4 + 1 AS BIGINT) AS i_class_id,
               CASE p_partkey % 12 WHEN 0 THEN 'personal' WHEN 1 THEN 'portable'
                    WHEN 2 THEN 'reference' WHEN 3 THEN 'self-help'
                    WHEN 4 THEN 'accessories' WHEN 5 THEN 'classical'
                    WHEN 6 THEN 'fragrances' WHEN 7 THEN 'pants'
                    WHEN 8 THEN 'computers' WHEN 9 THEN 'stereo'
                    WHEN 10 THEN 'shirts' ELSE 'dresses' END AS i_class,
               CASE p_partkey % 16 WHEN 0 THEN 'slate' WHEN 1 THEN 'blanched'
                    WHEN 2 THEN 'burnished' WHEN 3 THEN 'powder' WHEN 4 THEN 'almond'
                    WHEN 5 THEN 'navy' WHEN 6 THEN 'rose' WHEN 7 THEN 'peru'
                    WHEN 8 THEN 'peach' WHEN 9 THEN 'khaki' WHEN 10 THEN 'brown'
                    WHEN 11 THEN 'honeydew' WHEN 12 THEN 'floral' WHEN 13 THEN 'deep'
                    WHEN 14 THEN 'light' ELSE 'cornflower' END AS i_color,
               p_name || '#' || CAST(p_partkey AS $str) AS i_product_name,
               CASE p_partkey % 7 WHEN 0 THEN 'small' WHEN 1 THEN 'medium'
                    WHEN 2 THEN 'large' WHEN 3 THEN 'extra large' WHEN 4 THEN 'economy'
                    WHEN 5 THEN 'N/A' ELSE 'petite' END AS i_size,
               CASE p_partkey % 6 WHEN 0 THEN 'Oz' WHEN 1 THEN 'Bunch' WHEN 2 THEN 'Ton'
                    WHEN 3 THEN 'Each' WHEN 4 THEN 'Case' ELSE 'Pallet' END AS i_units,
               CAST(1 + p_partkey % 97 AS DOUBLE) AS i_current_price,
               CAST(1 + p_partkey % 73 AS DOUBLE) AS i_wholesale_cost
        FROM ${tbl("part")}""",
      "store" -> s"""
        SELECT CAST(s_suppkey AS BIGINT) AS s_store_sk,
               'S' || lpad(CAST(s_suppkey AS $str), 4, '0') AS s_store_id,
               CASE WHEN s_suppkey % 3 = 0 THEN 'ese' ELSE 'store_' || CAST(s_suppkey AS $str) END AS s_store_name,
               CASE s_suppkey % 4 WHEN 0 THEN 'TN' WHEN 1 THEN 'TN'
                    WHEN 2 THEN 'OH' ELSE 'TX' END AS s_state,
               CASE s_suppkey % 5 WHEN 0 THEN 'Fairview' WHEN 1 THEN 'Midway'
                    WHEN 2 THEN 'Salem' WHEN 3 THEN 'Concord'
                    ELSE 'Clinton' END AS s_city,
               CASE WHEN s_suppkey % 2 = 0 THEN 'Williamson County'
                    ELSE 'Other County' END AS s_county,
               CAST(-5 AS DOUBLE) AS s_gmt_offset,
               CAST(200 + (s_suppkey * 7) % 100 AS BIGINT) AS s_number_employees,
               CASE WHEN s_suppkey % 2 = 0 THEN 'Unknown' ELSE 'ought' END AS s_company_name,
               CAST(s_suppkey % 3 + 1 AS BIGINT) AS s_company_id,
               CAST(100 + s_suppkey AS $str) AS s_street_number,
               CASE s_suppkey % 3 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak' ELSE 'Elm' END AS s_street_name,
               CASE WHEN s_suppkey % 2 = 0 THEN 'St' ELSE 'Ave' END AS s_street_type,
               'Suite ' || CAST(s_suppkey * 10 AS $str) AS s_suite_number,
               CAST(s_suppkey % 10 + 1 AS BIGINT) AS s_market_id,
               CASE s_suppkey % 4 WHEN 0 THEN '24001' WHEN 1 THEN '57002'
                    WHEN 2 THEN '13003' ELSE '78004' END AS s_zip
        FROM ${tbl("supplier")} WHERE s_suppkey <= 12""",
      "customer" -> s"""
        SELECT CAST(c_custkey AS BIGINT) AS c_customer_sk,
               'C' || lpad(CAST(c_custkey AS $str), 8, '0') AS c_customer_id,
               'First' || CAST(c_custkey % 97 AS $str) AS c_first_name,
               c_name AS c_last_name,
               CASE c_custkey % 4 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.'
                    WHEN 2 THEN 'Dr.' ELSE 'Ms.' END AS c_salutation,
               CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
               CAST(c_custkey AS BIGINT) AS c_current_addr_sk,
               CAST(c_custkey AS BIGINT) AS c_current_cdemo_sk,
               CAST(c_custkey AS BIGINT) AS c_current_hdemo_sk,
               CASE c_custkey % 6 WHEN 0 THEN 'UNITED STATES' WHEN 1 THEN 'CANADA'
                    WHEN 2 THEN 'GERMANY' WHEN 3 THEN 'JAPAN' WHEN 4 THEN 'BRAZIL'
                    ELSE 'FRANCE' END AS c_birth_country,
               CAST(1924 + c_custkey % 68 AS BIGINT) AS c_birth_year,
               CAST(1 + c_custkey % 12 AS BIGINT) AS c_birth_month,
               CAST(1 + c_custkey % 28 AS BIGINT) AS c_birth_day,
               'c' || CAST(c_custkey AS $str) || '@example.com' AS c_email_address,
               CAST(NULL AS $str) AS c_login,
               CAST(2450000 + c_custkey % 1000 AS BIGINT) AS c_last_review_date_sk,
               ${elemAt("dd.sks", "1 + c_custkey % dd.nd")} AS c_first_sales_date_sk,
               ${elemAt("dd.sks", "1 + (c_custkey * 7 + 3) % dd.nd")} AS c_first_shipto_date_sk
        FROM ${tbl("customer")} CROSS JOIN
             (SELECT ${sortedList("d_date_sk")} AS sks, COUNT(*) AS nd
              FROM date_dim) dd""",
      "customer_address" -> s"""
        SELECT CAST(c_custkey AS BIGINT) AS ca_address_sk,
               CASE c_custkey % 30 WHEN 0 THEN 'Edgewood' WHEN 1 THEN 'Fairview'
                    WHEN 2 THEN 'Midway'
                    ELSE 'city_' || CAST(c_custkey % 30 AS $str) END AS ca_city,
               CASE c_custkey % 12 WHEN 0 THEN 'TX' WHEN 1 THEN 'OH' WHEN 2 THEN 'OR'
                    WHEN 3 THEN 'NM' WHEN 4 THEN 'KY' WHEN 5 THEN 'VA' WHEN 6 THEN 'MS'
                    WHEN 7 THEN 'CA' WHEN 8 THEN 'MN' WHEN 9 THEN 'CO' WHEN 10 THEN 'TN'
                    ELSE 'GA' END AS ca_state,
               CASE c_custkey % 6 WHEN 0 THEN 'Williamson County'
                    WHEN 1 THEN 'Walker County' WHEN 2 THEN 'Ziebach County'
                    WHEN 3 THEN 'Luce County' WHEN 4 THEN 'Richland County'
                    ELSE 'Barrow County' END AS ca_county,
               'United States' AS ca_country,
               CAST(c_custkey % 1000 AS $str) AS ca_street_number,
               CASE c_custkey % 4 WHEN 0 THEN 'Oak' WHEN 1 THEN 'Maple'
                    WHEN 2 THEN 'Pine' ELSE 'Cedar' END AS ca_street_name,
               CASE WHEN c_custkey % 2 = 0 THEN 'St' ELSE 'Blvd' END AS ca_street_type,
               'Suite ' || CAST(c_custkey % 100 AS $str) AS ca_suite_number,
               CASE c_custkey % 3 WHEN 0 THEN 'apartment' WHEN 1 THEN 'condo'
                    ELSE 'single family' END AS ca_location_type,
               CASE c_custkey % 20 WHEN 0 THEN '24128' WHEN 1 THEN '57834'
                    WHEN 2 THEN '13354' WHEN 3 THEN '15734' WHEN 4 THEN '78668'
                    WHEN 5 THEN '76232' WHEN 6 THEN '62878' WHEN 7 THEN '45375'
                    WHEN 8 THEN '63435' WHEN 9 THEN '22245' WHEN 10 THEN '11111'
                    WHEN 11 THEN '22222' WHEN 12 THEN '33333' WHEN 13 THEN '44444'
                    WHEN 14 THEN '55555' WHEN 15 THEN '66666' WHEN 16 THEN '77777'
                    WHEN 17 THEN '88888' WHEN 18 THEN '99999'
                    ELSE '12121' END AS ca_zip,
               CAST(-5 AS DOUBLE) AS ca_gmt_offset
        FROM ${tbl("customer")}""",
      "household_demographics" -> s"""
        SELECT CAST(c_custkey AS BIGINT) AS hd_demo_sk,
               CAST(c_custkey % 10 AS BIGINT) AS hd_dep_count,
               CAST(c_custkey % 5 AS BIGINT) AS hd_vehicle_count,
               CASE c_custkey % 4 WHEN 0 THEN '>10000' WHEN 1 THEN 'Unknown'
                    WHEN 2 THEN '501-1000' ELSE '0-500' END AS hd_buy_potential,
               CAST(c_custkey % 19 + 1 AS BIGINT) AS hd_income_band_sk
        FROM ${tbl("customer")}""",
      "customer_demographics" -> s"""
        SELECT CAST(c_custkey AS BIGINT) AS cd_demo_sk,
               CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
               CASE c_custkey % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'S' WHEN 2 THEN 'W'
                    WHEN 3 THEN 'D' ELSE 'U' END AS cd_marital_status,
               CASE c_custkey % 7 WHEN 0 THEN 'College' WHEN 1 THEN 'Advanced Degree'
                    WHEN 2 THEN '2 yr Degree' WHEN 3 THEN '4 yr Degree'
                    WHEN 4 THEN 'Primary' WHEN 5 THEN 'Secondary'
                    ELSE 'Unknown' END AS cd_education_status,
               CAST(500 * (1 + c_custkey % 20) AS BIGINT) AS cd_purchase_estimate,
               CASE c_custkey % 4 WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good'
                    WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
               CAST(c_custkey % 7 AS BIGINT) AS cd_dep_count,
               CAST(c_custkey % 5 AS BIGINT) AS cd_dep_employed_count,
               CAST(c_custkey % 3 AS BIGINT) AS cd_dep_college_count
        FROM ${tbl("customer")}""",
      "web_sales" -> s"""
        SELECT ${dateSk("sd")} AS ws_sold_date_sk,
               CAST((l_orderkey * 6271 + l_linenumber * 104729) % 86400 AS BIGINT) AS ws_sold_time_sk,
               ${dateSk(addDays("sd", "(l_orderkey + l_linenumber * 3) % 60"))} AS ws_ship_date_sk,
               CAST(l_partkey AS BIGINT) AS ws_item_sk,
               CAST(o_custkey AS BIGINT) AS ws_bill_customer_sk,
               CASE WHEN (l_orderkey + l_partkey) % 29 = 0 THEN NULL
                    ELSE CAST(o_custkey AS BIGINT) END AS ws_ship_customer_sk,
               CAST(1 + (o_custkey * 7 + l_orderkey) % ncust AS BIGINT) AS ws_bill_addr_sk,
               CAST(1 + (o_custkey * 7 + l_orderkey) % ncust AS BIGINT) AS ws_ship_addr_sk,
               CAST(o_custkey AS BIGINT) AS ws_bill_cdemo_sk,
               CAST(o_custkey AS BIGINT) AS ws_ship_cdemo_sk,
               CAST(o_custkey AS BIGINT) AS ws_ship_hdemo_sk,
               CAST(1 + l_orderkey % 8 AS BIGINT) AS ws_web_site_sk,
               CAST(1 + l_orderkey % 20 AS BIGINT) AS ws_web_page_sk,
               CAST(1 + l_linenumber % 20 AS BIGINT) AS ws_ship_mode_sk,
               CAST(1 + l_partkey % 5 AS BIGINT) AS ws_warehouse_sk,
               CAST(l_partkey % 30 + 1 AS BIGINT) AS ws_promo_sk,
               CAST(l_orderkey AS BIGINT) AS ws_order_number,
               CAST(l_quantity AS DOUBLE) AS ws_quantity,
               CAST(FLOOR(up / 10) AS DOUBLE) AS ws_sales_price,
               CAST(FLOOR(up / 9) AS DOUBLE) AS ws_list_price,
               CAST(FLOOR(up / 12) AS DOUBLE) AS ws_wholesale_cost,
               CAST(FLOOR(up / 10) * l_quantity AS DOUBLE) AS ws_ext_sales_price,
               CAST(FLOOR(up / 9) * l_quantity AS DOUBLE) AS ws_ext_list_price,
               CAST(FLOOR(up / 12) * l_quantity AS DOUBLE) AS ws_ext_wholesale_cost,
               CAST(FLOOR(l_discount * 100) * l_quantity AS DOUBLE) AS ws_ext_discount_amt,
               CAST(FLOOR(up / 20) * l_quantity AS DOUBLE) AS ws_ext_ship_cost,
               CAST((FLOOR(up / 10) - FLOOR(l_discount * 100)) * l_quantity AS DOUBLE) AS ws_net_paid,
               CAST((FLOOR(up / 10) - FLOOR(up / 12)) * l_quantity AS DOUBLE) AS ws_net_profit
        FROM (SELECT l.*, ${shift("CAST(l_shipdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey, nc.ncust
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              CROSS JOIN (SELECT COUNT(*) AS ncust FROM ${tbl("customer")}) nc
              WHERE l_linenumber % 3 = 1) wfact""",
      "catalog_sales" -> s"""
        SELECT ${dateSk("sd")} AS cs_sold_date_sk,
               CAST((l_orderkey * 4253 + l_linenumber * 104729) % 86400 AS BIGINT) AS cs_sold_time_sk,
               ${dateSk(addDays("sd", "(l_orderkey * 2 + l_linenumber) % 60"))} AS cs_ship_date_sk,
               CAST(l_partkey AS BIGINT) AS cs_item_sk,
               CAST(o_custkey AS BIGINT) AS cs_bill_customer_sk,
               CAST(o_custkey AS BIGINT) AS cs_bill_cdemo_sk,
               CAST(o_custkey AS BIGINT) AS cs_bill_hdemo_sk,
               CASE WHEN (l_orderkey + l_partkey) % 29 = 0 THEN NULL
                    ELSE CAST(o_custkey AS BIGINT) END AS cs_ship_addr_sk,
               CASE WHEN (l_orderkey + l_partkey) % 29 = 0 THEN NULL
                    ELSE CAST(o_custkey AS BIGINT) END AS cs_ship_customer_sk,
               CAST(1 + (o_custkey * 7 + l_orderkey) % ncust AS BIGINT) AS cs_bill_addr_sk,
               CAST(1 + l_orderkey % 6 AS BIGINT) AS cs_call_center_sk,
               CAST(1 + l_orderkey % 12 AS BIGINT) AS cs_catalog_page_sk,
               CAST(1 + l_linenumber % 20 AS BIGINT) AS cs_ship_mode_sk,
               CAST(1 + l_partkey % 5 AS BIGINT) AS cs_warehouse_sk,
               CAST(l_partkey % 30 + 1 AS BIGINT) AS cs_promo_sk,
               CAST(l_orderkey AS BIGINT) AS cs_order_number,
               CAST(l_quantity AS DOUBLE) AS cs_quantity,
               CAST(FLOOR(up / 10) AS DOUBLE) AS cs_sales_price,
               CAST(FLOOR(up / 9) AS DOUBLE) AS cs_list_price,
               CAST(FLOOR(up / 12) AS DOUBLE) AS cs_wholesale_cost,
               CAST(FLOOR(l_discount * 100) * l_quantity AS DOUBLE) AS cs_coupon_amt,
               CAST(FLOOR(up / 10) * l_quantity AS DOUBLE) AS cs_ext_sales_price,
               CAST(FLOOR(up / 9) * l_quantity AS DOUBLE) AS cs_ext_list_price,
               CAST(FLOOR(up / 12) * l_quantity AS DOUBLE) AS cs_ext_wholesale_cost,
               CAST(FLOOR(l_discount * 100) * l_quantity AS DOUBLE) AS cs_ext_discount_amt,
               CAST(FLOOR(up / 20) * l_quantity AS DOUBLE) AS cs_ext_ship_cost,
               CAST((FLOOR(up / 10) - FLOOR(l_discount * 100)) * l_quantity AS DOUBLE) AS cs_net_paid,
               CAST((FLOOR(up / 10) - FLOOR(l_discount * 100) + FLOOR(l_tax * 100)) * l_quantity AS DOUBLE) AS cs_net_paid_inc_tax,
               CAST((FLOOR(up / 10) - FLOOR(up / 12)) * l_quantity AS DOUBLE) AS cs_net_profit
        FROM (SELECT l.*, ${shift("CAST(l_shipdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey, nc.ncust
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              CROSS JOIN (SELECT COUNT(*) AS ncust FROM ${tbl("customer")}) nc
              WHERE l_linenumber % 3 = 2) cfact""",
      "store_returns" -> s"""
        SELECT ${dateSk("sd")} AS sr_returned_date_sk,
               CAST(l_partkey AS BIGINT) AS sr_item_sk,
               CAST(o_custkey AS BIGINT) AS sr_customer_sk,
               CAST(o_custkey AS BIGINT) AS sr_cdemo_sk,
               CAST(l_orderkey AS BIGINT) AS sr_ticket_number,
               CASE WHEN (l_orderkey * 3 + l_partkey) % 31 = 0 THEN NULL
                    ELSE CAST(l_suppkey % 12 + 1 AS BIGINT) END AS sr_store_sk,
               CAST(l_orderkey % 35 + 1 AS BIGINT) AS sr_reason_sk,
               CAST(FLOOR(l_quantity / 2) AS DOUBLE) AS sr_return_quantity,
               CAST(FLOOR(up / 10) * FLOOR(l_quantity / 2) AS DOUBLE) AS sr_return_amt,
               CAST(FLOOR(up / 12) * FLOOR(l_quantity / 2) AS DOUBLE) AS sr_net_loss
        FROM (SELECT l.*, ${shift("CAST(l_shipdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R') rfact""",
      "web_returns" -> s"""
        SELECT ${dateSk("sd")} AS wr_returned_date_sk,
               CAST(l_partkey AS BIGINT) AS wr_item_sk,
               CAST(l_orderkey AS BIGINT) AS wr_order_number,
               CAST(o_custkey AS BIGINT) AS wr_returning_customer_sk,
               CAST(o_custkey AS BIGINT) AS wr_returning_addr_sk,
               CAST(o_custkey AS BIGINT) AS wr_returning_cdemo_sk,
               CAST(o_custkey AS BIGINT) AS wr_refunded_addr_sk,
               CAST(o_custkey AS BIGINT) AS wr_refunded_cdemo_sk,
               CAST(1 + l_orderkey % 35 AS BIGINT) AS wr_reason_sk,
               CAST(1 + l_orderkey % 20 AS BIGINT) AS wr_web_page_sk,
               CAST(FLOOR(l_quantity / 2) AS DOUBLE) AS wr_return_quantity,
               CAST(FLOOR(up / 10) * FLOOR(l_quantity / 2) AS DOUBLE) AS wr_return_amt,
               CAST(FLOOR(up / 11) * FLOOR(l_quantity / 2) AS DOUBLE) AS wr_refunded_cash,
               CAST(FLOOR(up / 50) AS DOUBLE) AS wr_fee,
               CAST(FLOOR(up / 12) * FLOOR(l_quantity / 2) AS DOUBLE) AS wr_net_loss
        FROM (SELECT l.*, ${shift("CAST(l_shipdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              WHERE l_linenumber % 3 = 1 AND l_returnflag = 'R') wrfact""",
      "catalog_returns" -> s"""
        SELECT ${dateSk("sd")} AS cr_returned_date_sk,
               CAST(l_partkey AS BIGINT) AS cr_item_sk,
               CAST(l_orderkey AS BIGINT) AS cr_order_number,
               CAST(o_custkey AS BIGINT) AS cr_returning_customer_sk,
               CAST(o_custkey AS BIGINT) AS cr_returning_addr_sk,
               CAST(1 + l_orderkey % 6 AS BIGINT) AS cr_call_center_sk,
               CAST(1 + l_orderkey % 12 AS BIGINT) AS cr_catalog_page_sk,
               CAST(FLOOR(l_quantity / 2) AS DOUBLE) AS cr_return_quantity,
               CAST(FLOOR(up / 10) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_return_amount,
               CAST((FLOOR(up / 10) + FLOOR(l_tax * 100)) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_return_amt_inc_tax,
               CAST(FLOOR(up * ((l_orderkey % 7) + 2) / 80) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_refunded_cash,
               CAST(FLOOR(up / 45) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_reversed_charge,
               CAST(FLOOR(up / 60) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_store_credit,
               CAST(FLOOR(up / 12) * FLOOR(l_quantity / 2) AS DOUBLE) AS cr_net_loss
        FROM (SELECT l.*, ${shift("CAST(l_shipdate AS DATE)")} AS sd,
                     l_extendedprice / l_quantity AS up, o_custkey
              FROM ${tbl("lineitem")} l JOIN ${tbl("orders")} o ON l_orderkey = o_orderkey
              WHERE l_linenumber % 3 = 2 AND l_returnflag = 'R') crfact""",
      "reason" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS r_reason_sk,
               'reason ' || CAST(p_partkey AS $str) AS r_reason_desc
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 35""",
      "promotion" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS p_promo_sk,
               'PROMO' || lpad(CAST(p_partkey AS $str), 4, '0') AS p_promo_id,
               CASE WHEN p_partkey % 7 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
               CASE WHEN p_partkey % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event,
               CASE WHEN p_partkey % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
               CASE WHEN p_partkey % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 30""",
      "warehouse" -> s"""
        SELECT CAST(s_suppkey AS BIGINT) AS w_warehouse_sk,
               'Warehouse ' || CAST(s_suppkey AS $str) AS w_warehouse_name,
               CAST(1000 * (s_suppkey + 1) AS BIGINT) AS w_warehouse_sq_ft,
               CASE s_suppkey % 3 WHEN 0 THEN 'TN' WHEN 1 THEN 'OH' ELSE 'TX' END AS w_state,
               CASE s_suppkey % 2 WHEN 0 THEN 'Fairview' ELSE 'Midway' END AS w_city,
               CASE WHEN s_suppkey % 2 = 0 THEN 'Williamson County'
                    ELSE 'Other County' END AS w_county,
               'United States' AS w_country
        FROM ${tbl("supplier")} WHERE s_suppkey <= 5""",
      "time_dim" -> s"""
        SELECT n AS t_time_sk,
               n AS t_time,
               CAST(FLOOR(n / 3600.0) AS BIGINT) AS t_hour,
               CAST(FLOOR((n % 3600) / 60.0) AS BIGINT) AS t_minute,
               CAST(n % 60 AS BIGINT) AS t_second,
               CASE WHEN n >= 21600 AND n < 32400 THEN 'breakfast'
                    WHEN n >= 39600 AND n < 50400 THEN 'lunch'
                    WHEN n >= 61200 AND n < 72000 THEN 'dinner'
                    ELSE NULL END AS t_meal_time
        FROM $secondsTable""",
      "web_page" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS wp_web_page_sk,
               'WP' || lpad(CAST(p_partkey AS $str), 4, '0') AS wp_web_page_id,
               CAST(4900 + p_partkey * 20 AS BIGINT) AS wp_char_count
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 20""",
      "web_site" -> s"""
        SELECT CAST(s_suppkey AS BIGINT) AS web_site_sk,
               'WEB' || lpad(CAST(s_suppkey AS $str), 4, '0') AS web_site_id,
               'site_' || CAST(s_suppkey % 4 AS $str) AS web_name,
               'pri' AS web_company_name
        FROM ${tbl("supplier")} WHERE s_suppkey <= 8""",
      "call_center" -> s"""
        SELECT CAST(s_suppkey AS BIGINT) AS cc_call_center_sk,
               'CC' || lpad(CAST(s_suppkey AS $str), 4, '0') AS cc_call_center_id,
               'call center ' || CAST(s_suppkey AS $str) AS cc_name,
               'Manager ' || CAST(s_suppkey % 3 AS $str) AS cc_manager,
               CASE WHEN s_suppkey % 2 = 0 THEN 'Williamson County'
                    ELSE 'Other County' END AS cc_county
        FROM ${tbl("supplier")} WHERE s_suppkey <= 6""",
      "catalog_page" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS cp_catalog_page_sk,
               'CP' || lpad(CAST(p_partkey AS $str), 4, '0') AS cp_catalog_page_id
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 12""",
      "ship_mode" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS sm_ship_mode_sk,
               CASE p_partkey % 5 WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'NEXT DAY'
                    WHEN 2 THEN 'OVERNIGHT' WHEN 3 THEN 'REGULAR'
                    ELSE 'LIBRARY' END AS sm_type,
               CASE p_partkey % 4 WHEN 0 THEN 'DHL' WHEN 1 THEN 'BARIAN'
                    WHEN 2 THEN 'UPS' ELSE 'FEDEX' END AS sm_carrier
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 20""",
      "income_band" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS ib_income_band_sk,
               CAST((p_partkey - 1) * 10000 AS BIGINT) AS ib_lower_bound,
               CAST(p_partkey * 10000 AS BIGINT) AS ib_upper_bound
        FROM ${tbl("part")} WHERE p_partkey BETWEEN 1 AND 20""",
      // r13 (hosting q39a/b): warehouse assignment is MONTH-STABLE
      // (p_partkey alone, not p+date — a per-Monday-rotating warehouse made
      // every (item,warehouse,moy) group a singleton, so stddev_samp was
      // NULL and q39's cov>1 filter was vacuously empty at every scale),
      // and quantity gets a 1-in-11 ×9 spike so the monthly cov straddles
      // BOTH official thresholds (sf0.01: 1668 of 4000 moy-1/2 groups pass
      // cov>1, 104 pass cov>1.5 → q39a 546 rows, q39b 36).
      "inventory" -> s"""
        SELECT CAST(p_partkey AS BIGINT) AS inv_item_sk,
               d_date_sk AS inv_date_sk,
               CAST(p_partkey % 5 + 1 AS BIGINT) AS inv_warehouse_sk,
               CAST(((p_partkey * 7 + d_date_sk) % 600) *
                 (CASE WHEN (p_partkey * 13 + d_date_sk) % 11 = 0 THEN 9 ELSE 1 END)
                 AS DOUBLE) AS inv_quantity_on_hand
        FROM ${tbl("part")}, date_dim WHERE d_dow = 1""")
  }

  /** Register the hosted TPC-DS schema as Spark temp views over `dir`
    * (once per session, see [[Tables.bind]]). Fixtures are bound under a
    * th_ prefix so the hosted TPC-DS view names (customer, ...) cannot
    * collide with their own base tables. */
  def register(s: SparkSession, dir: String): Unit =
    Tables.bind(s, "tpcds", dir,
      Seq("lineitem", "orders", "part", "supplier", "customer").map(t => s"th_$t" -> t),
      viewSql(sparkDialect))

  /** DuckDB oracle = the same verbatim text with the schema CTEs
    * prepended (merging into the query's own WITH list when present).
    * Backtick-quoted aliases — a Calcite-ism in some Flink-kit spellings
    * that Spark parses natively — are mechanically re-quoted as standard
    * double quotes for DuckDB's parser ONLY (the engine under test still
    * receives the verbatim text). */
  private[coverage] def oracleFor(query: String): String = {
    val ctes = viewSql(duckDialect)
      .map { case (n, sql) => s"$n AS ($sql)" }.mkString(",\n")
    val t = query.trim.replace('`', '"')
    if (t.take(4).equalsIgnoreCase("with")) s"WITH $ctes,\n${t.drop(4)}"
    else s"WITH $ctes\n$t"
  }

  private[coverage] def mk(qtext: String): Q = Q(
    run = (s, dir) => { register(s, dir); new graft.sql.EngineEnv(s).sqlQuery(qtext) },
    oracle = Some(oracleFor(qtext)))

  /** Verbatim Spark text, but the ORACLE wrapped in a type/name-normalizing
    * outer SELECT — for the queries whose bare COUNT(*)/SUM outputs hit the
    * engines' irreconcilable result conventions (DuckDB HUGEINT +
    * `count_star()` vs Spark BIGINT + `count(1)`). The dialect-fidelity
    * contract is about the engine under test; only DuckDB's output is
    * renamed/cast to Spark's convention. */
  private[coverage] def mkW(qtext: String, wrapSelect: String): Q = Q(
    run = (s, dir) => { register(s, dir); new graft.sql.EngineEnv(s).sqlQuery(qtext) },
    oracle = Some(s"SELECT $wrapSelect FROM (\n${oracleFor(qtext)}\n) oq"))

  /** Verbatim Spark text with targeted literal PATCHES applied to the
    * ORACLE text only — for official spellings DuckDB's binder rejects
    * (e.g. an unqualified ORDER BY column that Spark resolves by
    * output-column preference): the patch qualifies the reference to the
    * exact column Spark's binding picks, changing nothing else. */
  /** Apply literal oracle patches, failing LOUDLY at registration if a
    * pattern does not occur: the patches embed exact official-text
    * whitespace, so a silently-degraded no-op replace (String.replace on
    * a drifted text) would leave the oracle un-patched with only a
    * downstream verify red as the signal. */
  private[coverage] def applyPatches(text: String, patches: Seq[(String, String)]): String =
    patches.foldLeft(text) { case (t, (from, to)) =>
      require(t.contains(from), s"oracle patch pattern not found in query text: ${from.take(80)}")
      t.replace(from, to)
    }

  private[coverage] def mkP(qtext: String, patches: (String, String)*): Q = Q(
    run = (s, dir) => { register(s, dir); new graft.sql.EngineEnv(s).sqlQuery(qtext) },
    oracle = Some(applyPatches(oracleFor(qtext), patches)))

  /** mkP + mkW combined: targeted oracle-text patches AND a wrapping
    * SELECT over the patched oracle (for queries needing both a binder
    * qualification and a result-type normalization). */
  private[coverage] def mkPW(qtext: String, wrapSelect: String, patches: (String, String)*): Q = Q(
    run = (s, dir) => { register(s, dir); new graft.sql.EngineEnv(s).sqlQuery(qtext) },
    oracle = Some(s"SELECT $wrapSelect FROM (\n${applyPatches(oracleFor(qtext), patches)}\n) oq"))

  private val q3: String =
"""select  dt.d_year 
       ,item.i_brand_id brand_id 
       ,item.i_brand brand
       ,sum(ss_ext_sales_price) sum_agg
 from  date_dim dt 
      ,store_sales
      ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
   and store_sales.ss_item_sk = item.i_item_sk
   and item.i_manufact_id = 128
   and dt.d_moy=11
 group by dt.d_year
      ,item.i_brand
      ,item.i_brand_id
 order by dt.d_year
         ,sum_agg desc
         ,brand_id
 limit 100"""

  private val q13: String =
"""select avg(ss_quantity)
       ,avg(ss_ext_sales_price)
       ,avg(ss_ext_wholesale_cost)
       ,sum(ss_ext_wholesale_cost)
 from store_sales
     ,store
     ,customer_demographics
     ,household_demographics
     ,customer_address
     ,date_dim
 where s_store_sk = ss_store_sk
 and  ss_sold_date_sk = d_date_sk and d_year = 2001
 and((ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'M'
  and cd_education_status = 'Advanced Degree'
  and ss_sales_price between 100.00 and 150.00
  and hd_dep_count = 3   
     )or
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and ss_sales_price between 50.00 and 100.00   
  and hd_dep_count = 1
     ) or 
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'W'
  and cd_education_status = '2 yr Degree'
  and ss_sales_price between 150.00 and 200.00 
  and hd_dep_count = 1  
     ))
 and((ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('TX', 'OH', 'TX')
  and ss_net_profit between 100 and 200  
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('OR', 'NM', 'KY')
  and ss_net_profit between 150 and 300  
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('VA', 'TX', 'MS')
  and ss_net_profit between 50 and 250  
     ))"""

  private val q19: String =
"""select  i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
 	sum(ss_ext_sales_price) ext_price
 from date_dim, store_sales, item,customer,customer_address,store
 where d_date_sk = ss_sold_date_sk
   and ss_item_sk = i_item_sk
   and i_manager_id=8
   and d_moy=11
   and d_year=1998
   and ss_customer_sk = c_customer_sk 
   and c_current_addr_sk = ca_address_sk
   and substr(ca_zip,1,5) <> substr(s_zip,1,5) 
   and ss_store_sk = s_store_sk 
 group by i_brand
      ,i_brand_id
      ,i_manufact_id
      ,i_manufact
 order by ext_price desc
         ,i_brand
         ,i_brand_id
         ,i_manufact_id
         ,i_manufact
limit 100 """

  private val q73: String =
"""select c_last_name
       ,c_first_name
       ,c_salutation
       ,c_preferred_cust_flag 
       ,ss_ticket_number
       ,cnt from
   (select ss_ticket_number
          ,ss_customer_sk
          ,count(*) cnt
    from store_sales,date_dim,store,household_demographics
    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
    and store_sales.ss_store_sk = store.s_store_sk  
    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    and date_dim.d_dom between 1 and 2 
    and (household_demographics.hd_buy_potential = '>10000' or
         household_demographics.hd_buy_potential = 'Unknown')
    and household_demographics.hd_vehicle_count > 0
    and case when household_demographics.hd_vehicle_count > 0 then 
             cast(household_demographics.hd_dep_count as decimal(7, 2))/ cast(household_demographics.hd_vehicle_count as decimal(7, 2)) else null end > 1
    and date_dim.d_year in (1999,1999+1,1999+2)
    and store.s_county in ('Williamson County','Franklin Parish','Bronx County','Orange County')
    group by ss_ticket_number,ss_customer_sk) dj,customer
    where ss_customer_sk = c_customer_sk
      and cnt between 1 and 5
    order by cnt desc, c_last_name asc"""

  private val q36: String =
"""select  
    sum(ss_net_profit)/sum(ss_ext_sales_price) as gross_margin
   ,i_category
   ,i_class
   ,grouping(i_category)+grouping(i_class) as lochierarchy
   ,rank() over (
 	partition by grouping(i_category)+grouping(i_class),
 	case when grouping(i_class) = 0 then i_category end 
 	order by sum(ss_net_profit)/sum(ss_ext_sales_price) asc) as rank_within_parent
 from
    store_sales
   ,date_dim       d1
   ,item
   ,store
 where
    d1.d_year = 2001 
 and d1.d_date_sk = ss_sold_date_sk
 and i_item_sk  = ss_item_sk 
 and s_store_sk  = ss_store_sk
 and s_state in ('TN','TN','TN','TN','TN','TN','TN','TN')
 group by rollup(i_category,i_class)
 order by
   lochierarchy desc
  ,case when lochierarchy = 0 then i_category end
  ,rank_within_parent
  limit 100"""

  private val q42: String =
"""select  dt.d_year
 	,item.i_category_id
 	,item.i_category
 	,sum(ss_ext_sales_price)
 from 	date_dim dt
 	,store_sales
 	,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
 	and store_sales.ss_item_sk = item.i_item_sk
 	and item.i_manager_id = 1  	
 	and dt.d_moy=11
 	and dt.d_year=2000
 group by 	dt.d_year
 		,item.i_category_id
 		,item.i_category
 order by       sum(ss_ext_sales_price) desc,dt.d_year
 		,item.i_category_id
 		,item.i_category
limit 100 """

  private val q43: String =
"""select  s_store_name, s_store_id,
        sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
        sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
        sum(case when (d_day_name='Tuesday') then ss_sales_price else  null end) tue_sales,
        sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
        sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
        sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
        sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
 from date_dim, store_sales, store
 where d_date_sk = ss_sold_date_sk and
       s_store_sk = ss_store_sk and
       s_gmt_offset = -5 and
       d_year = 2000 
 group by s_store_name, s_store_id
 order by s_store_name, s_store_id,sun_sales,mon_sales,tue_sales,wed_sales,thu_sales,fri_sales,sat_sales
 limit 100"""

  private val q48: String =
"""select sum (ss_quantity)
 from store_sales, store, customer_demographics, customer_address, date_dim
 where s_store_sk = ss_store_sk
 and  ss_sold_date_sk = d_date_sk and d_year = 2000
 and
 (
  (
   cd_demo_sk = ss_cdemo_sk
   and
   cd_marital_status = 'M'
   and
   cd_education_status = '4 yr Degree'
   and
   ss_sales_price between 100.00 and 150.00
   )
 or
  (
  cd_demo_sk = ss_cdemo_sk
   and
   cd_marital_status = 'D'
   and
   cd_education_status = '2 yr Degree'
   and
   ss_sales_price between 50.00 and 100.00
  )
 or
 (
  cd_demo_sk = ss_cdemo_sk
   and
   cd_marital_status = 'S'
   and
   cd_education_status = 'College'
   and
   ss_sales_price between 150.00 and 200.00
 )
 )
 and
 (
  (
  ss_addr_sk = ca_address_sk
  and
  ca_country = 'United States'
  and
  ca_state in ('CO', 'OH', 'TX')
  and ss_net_profit between 0 and 2000
  )
 or
  (ss_addr_sk = ca_address_sk
  and
  ca_country = 'United States'
  and
  ca_state in ('OR', 'MN', 'KY')
  and ss_net_profit between 150 and 3000
  )
 or
  (ss_addr_sk = ca_address_sk
  and
  ca_country = 'United States'
  and
  ca_state in ('VA', 'CA', 'MS')
  and ss_net_profit between 50 and 25000
  )
 )"""

  private val q52: String =
"""select  dt.d_year
 	,item.i_brand_id brand_id
 	,item.i_brand brand
 	,sum(ss_ext_sales_price) ext_price
 from date_dim dt
     ,store_sales
     ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
    and store_sales.ss_item_sk = item.i_item_sk
    and item.i_manager_id = 1
    and dt.d_moy=11
    and dt.d_year=2000
 group by dt.d_year
 	,item.i_brand
 	,item.i_brand_id
 order by dt.d_year
 	,ext_price desc
 	,brand_id
limit 100 """

  private val q55: String =
"""select  i_brand_id brand_id, i_brand brand,
 	sum(ss_ext_sales_price) ext_price
 from date_dim, store_sales, item
 where d_date_sk = ss_sold_date_sk
 	and ss_item_sk = i_item_sk
 	and i_manager_id=28
 	and d_moy=11
 	and d_year=1999
 group by i_brand, i_brand_id
 order by ext_price desc, i_brand_id
limit 100 """

  private val q59: String =
"""with wss as 
 (select d_week_seq,
        ss_store_sk,
        sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
        sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
        sum(case when (d_day_name='Tuesday') then ss_sales_price else  null end) tue_sales,
        sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
        sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
        sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
        sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
 from store_sales,date_dim
 where d_date_sk = ss_sold_date_sk
 group by d_week_seq,ss_store_sk
 )
  select  s_store_name1,s_store_id1,d_week_seq1
       ,sun_sales1/sun_sales2,mon_sales1/mon_sales2
       ,tue_sales1/tue_sales2,wed_sales1/wed_sales2,thu_sales1/thu_sales2
       ,fri_sales1/fri_sales2,sat_sales1/sat_sales2
 from
 (select s_store_name s_store_name1,wss.d_week_seq d_week_seq1
        ,s_store_id s_store_id1,sun_sales sun_sales1
        ,mon_sales mon_sales1,tue_sales tue_sales1
        ,wed_sales wed_sales1,thu_sales thu_sales1
        ,fri_sales fri_sales1,sat_sales sat_sales1
  from wss,store,date_dim d
  where d.d_week_seq = wss.d_week_seq and
        ss_store_sk = s_store_sk and 
        d_month_seq between 1212 and 1212 + 11) y,
 (select s_store_name s_store_name2,wss.d_week_seq d_week_seq2
        ,s_store_id s_store_id2,sun_sales sun_sales2
        ,mon_sales mon_sales2,tue_sales tue_sales2
        ,wed_sales wed_sales2,thu_sales thu_sales2
        ,fri_sales fri_sales2,sat_sales sat_sales2
  from wss,store,date_dim d
  where d.d_week_seq = wss.d_week_seq and
        ss_store_sk = s_store_sk and 
        d_month_seq between 1212+ 12 and 1212 + 23) x
 where s_store_id1=s_store_id2
   and d_week_seq1=d_week_seq2-52
 order by s_store_name1,s_store_id1,d_week_seq1
limit 100"""

  private val q65: String =
"""select 
	s_store_name,
	i_item_desc,
	sc.revenue,
	i_current_price,
	i_wholesale_cost,
	i_brand
 from store, item,
     (select ss_store_sk, avg(revenue) as ave
 	from
 	    (select  ss_store_sk, ss_item_sk, 
 		     sum(ss_sales_price) as revenue
 		from store_sales, date_dim
 		where ss_sold_date_sk = d_date_sk and d_month_seq between 1176 and 1176+11
 		group by ss_store_sk, ss_item_sk) sa
 	group by ss_store_sk) sb,
     (select  ss_store_sk, ss_item_sk, sum(ss_sales_price) as revenue
 	from store_sales, date_dim
 	where ss_sold_date_sk = d_date_sk and d_month_seq between 1176 and 1176+11
 	group by ss_store_sk, ss_item_sk) sc
 where sb.ss_store_sk = sc.ss_store_sk and 
       sc.revenue <= 0.1 * sb.ave and
       s_store_sk = sc.ss_store_sk and
       i_item_sk = sc.ss_item_sk
 order by s_store_name, i_item_desc
limit 100"""

  private val q68: String =
"""select  c_last_name
       ,c_first_name
       ,ca_city
       ,bought_city
       ,ss_ticket_number
       ,extended_price
       ,extended_tax
       ,list_price
 from (select ss_ticket_number
             ,ss_customer_sk
             ,ca_city bought_city
             ,sum(ss_ext_sales_price) extended_price 
             ,sum(ss_ext_list_price) list_price
             ,sum(ss_ext_tax) extended_tax 
       from store_sales
           ,date_dim
           ,store
           ,household_demographics
           ,customer_address 
       where store_sales.ss_sold_date_sk = date_dim.d_date_sk
         and store_sales.ss_store_sk = store.s_store_sk  
        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        and store_sales.ss_addr_sk = customer_address.ca_address_sk
        and date_dim.d_dom between 1 and 2 
        and (household_demographics.hd_dep_count = 4 or
             household_demographics.hd_vehicle_count= 3)
        and date_dim.d_year in (1999,1999+1,1999+2)
        and store.s_city in ('Fairview','Midway')
       group by ss_ticket_number
               ,ss_customer_sk
               ,ss_addr_sk,ca_city) dn
      ,customer
      ,customer_address current_addr
 where ss_customer_sk = c_customer_sk
   and customer.c_current_addr_sk = current_addr.ca_address_sk
   and current_addr.ca_city <> bought_city
   and bought_city is not null
 order by c_last_name
         ,ss_ticket_number
 limit 100"""

  private val q79: String =
"""select 
  c_last_name,c_first_name,substr(s_city,1,30),ss_ticket_number,amt,profit
  from
   (select ss_ticket_number
          ,ss_customer_sk
          ,store.s_city
          ,sum(ss_coupon_amt) amt
          ,sum(ss_net_profit) profit
    from store_sales,date_dim,store,household_demographics
    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
    and store_sales.ss_store_sk = store.s_store_sk  
    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    and (household_demographics.hd_dep_count = 6 or household_demographics.hd_vehicle_count > 2)
    and date_dim.d_dow = 1
    and date_dim.d_year in (1999,1999+1,1999+2) 
    and store.s_number_employees between 200 and 295
    group by ss_ticket_number,ss_customer_sk,ss_addr_sk,store.s_city) ms,customer
    where ss_customer_sk = c_customer_sk
 order by c_last_name,c_first_name,substr(s_city,1,30), profit
limit 100"""

  private val q98: String =
"""select i_item_id
      ,i_item_desc 
      ,i_category 
      ,i_class 
      ,i_current_price
      ,sum(ss_ext_sales_price) as itemrevenue 
      ,sum(ss_ext_sales_price)*100/sum(sum(ss_ext_sales_price)) over
          (partition by i_class) as revenueratio
from	
	store_sales
    	,item 
    	,date_dim
where 
	ss_item_sk = i_item_sk 
  	and i_category in ('Sports', 'Books', 'Home')
  	and ss_sold_date_sk = d_date_sk
	and d_date between cast('1999-02-22' as date) 
				and (cast('1999-02-22' as date) + INTERVAL '30' day)
group by 
	i_item_id
        ,i_item_desc 
        ,i_category
        ,i_class
        ,i_current_price
order by 
	i_category
        ,i_class
        ,i_item_id
        ,i_item_desc
        ,revenueratio"""

  private val q25: String =
"""select  
 i_item_id
 ,i_item_desc
 ,s_store_id
 ,s_store_name
 ,sum(ss_net_profit) as store_sales_profit
 ,sum(sr_net_loss) as store_returns_loss
 ,sum(cs_net_profit) as catalog_sales_profit
 from
 store_sales
 ,store_returns
 ,catalog_sales
 ,date_dim d1
 ,date_dim d2
 ,date_dim d3
 ,store
 ,item
 where
 d1.d_moy = 4
 and d1.d_year = 2001
 and d1.d_date_sk = ss_sold_date_sk
 and i_item_sk = ss_item_sk
 and s_store_sk = ss_store_sk
 and ss_customer_sk = sr_customer_sk
 and ss_item_sk = sr_item_sk
 and ss_ticket_number = sr_ticket_number
 and sr_returned_date_sk = d2.d_date_sk
 and d2.d_moy               between 4 and  10
 and d2.d_year              = 2001
 and sr_customer_sk = cs_bill_customer_sk
 and sr_item_sk = cs_item_sk
 and cs_sold_date_sk = d3.d_date_sk
 and d3.d_moy               between 4 and  10 
 and d3.d_year              = 2001
 group by
 i_item_id
 ,i_item_desc
 ,s_store_id
 ,s_store_name
 order by
 i_item_id
 ,i_item_desc
 ,s_store_id
 ,s_store_name
 limit 100"""

  private val q29: String =
"""select   
     i_item_id
    ,i_item_desc
    ,s_store_id
    ,s_store_name
    ,sum(ss_quantity)        as store_sales_quantity
    ,sum(sr_return_quantity) as store_returns_quantity
    ,sum(cs_quantity)        as catalog_sales_quantity
 from
    store_sales
   ,store_returns
   ,catalog_sales
   ,date_dim             d1
   ,date_dim             d2
   ,date_dim             d3
   ,store
   ,item
 where
     d1.d_moy               = 9 
 and d1.d_year              = 1999
 and d1.d_date_sk           = ss_sold_date_sk
 and i_item_sk              = ss_item_sk
 and s_store_sk             = ss_store_sk
 and ss_customer_sk         = sr_customer_sk
 and ss_item_sk             = sr_item_sk
 and ss_ticket_number       = sr_ticket_number
 and sr_returned_date_sk    = d2.d_date_sk
 and d2.d_moy               between 9 and  9 + 3 
 and d2.d_year              = 1999
 and sr_customer_sk         = cs_bill_customer_sk
 and sr_item_sk             = cs_item_sk
 and cs_sold_date_sk        = d3.d_date_sk     
 and d3.d_year              in (1999,1999+1,1999+2)
 group by
    i_item_id
   ,i_item_desc
   ,s_store_id
   ,s_store_name
 order by
    i_item_id 
   ,i_item_desc
   ,s_store_id
   ,s_store_name
 limit 100"""

  private val q44: String =
"""select  asceding.rnk, i1.i_product_name best_performing, i2.i_product_name worst_performing
from(select *
     from (select item_sk,rank() over (order by rank_col asc) rnk
           from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col 
                 from store_sales ss1
                 where ss_store_sk = 4
                 group by ss_item_sk
                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                  from store_sales
                                                  where ss_store_sk = 4
                                                    and ss_addr_sk is null
                                                  group by ss_store_sk))V1)V11
     where rnk  < 11) asceding,
    (select *
     from (select item_sk,rank() over (order by rank_col desc) rnk
           from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col
                 from store_sales ss1
                 where ss_store_sk = 4
                 group by ss_item_sk
                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                  from store_sales
                                                  where ss_store_sk = 4
                                                    and ss_addr_sk is null
                                                  group by ss_store_sk))V2)V21
     where rnk  < 11) descending,
item i1,
item i2
where asceding.rnk = descending.rnk 
  and i1.i_item_sk=asceding.item_sk
  and i2.i_item_sk=descending.item_sk
order by asceding.rnk
limit 100"""

  private val q46: String =
"""select  c_last_name
       ,c_first_name
       ,ca_city
       ,bought_city
       ,ss_ticket_number
       ,amt,profit 
 from
   (select ss_ticket_number
          ,ss_customer_sk
          ,ca_city bought_city
          ,sum(ss_coupon_amt) amt
          ,sum(ss_net_profit) profit
    from store_sales,date_dim,store,household_demographics,customer_address 
    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
    and store_sales.ss_store_sk = store.s_store_sk  
    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    and store_sales.ss_addr_sk = customer_address.ca_address_sk
    and (household_demographics.hd_dep_count = 4 or
         household_demographics.hd_vehicle_count= 3)
    and date_dim.d_dow in (6,0)
    and date_dim.d_year in (1999,1999+1,1999+2) 
    and store.s_city in ('Fairview','Midway','Fairview','Fairview','Fairview')
    group by ss_ticket_number,ss_customer_sk,ss_addr_sk,ca_city) dn,customer,customer_address current_addr
    where ss_customer_sk = c_customer_sk
      and customer.c_current_addr_sk = current_addr.ca_address_sk
      and current_addr.ca_city <> bought_city
  order by c_last_name
          ,c_first_name
          ,ca_city
          ,bought_city
          ,ss_ticket_number
  limit 100"""

  private val q51: String =
"""WITH web_v1 as (
select
  ws_item_sk item_sk, d_date,
  sum(sum(ws_sales_price))
      over (partition by ws_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from web_sales
    ,date_dim
where ws_sold_date_sk=d_date_sk
  and d_month_seq between 1200 and 1200+11
  and ws_item_sk is not NULL
group by ws_item_sk, d_date),
store_v1 as (
select
  ss_item_sk item_sk, d_date,
  sum(sum(ss_sales_price))
      over (partition by ss_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from store_sales
    ,date_dim
where ss_sold_date_sk=d_date_sk
  and d_month_seq between 1200 and 1200+11
  and ss_item_sk is not NULL
group by ss_item_sk, d_date)
 select  *
from (select item_sk
     ,d_date
     ,web_sales
     ,store_sales
     ,max(web_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) web_cumulative
     ,max(store_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) store_cumulative
     from (select case when web.item_sk is not null then web.item_sk else store.item_sk end item_sk
                 ,case when web.d_date is not null then web.d_date else store.d_date end d_date
                 ,web.cume_sales web_sales
                 ,store.cume_sales store_sales
           from web_v1 web full outer join store_v1 store on (web.item_sk = store.item_sk
                                                          and web.d_date = store.d_date)
          )x )y
where web_cumulative > store_cumulative
order by item_sk
        ,d_date
limit 100"""

  private val q76: String =
"""select  channel, col_name, d_year, d_qoy, i_category, COUNT(*) sales_cnt, SUM(ext_sales_price) sales_amt FROM (
        SELECT 'store' as channel, 'ss_store_sk' col_name, d_year, d_qoy, i_category, ss_ext_sales_price ext_sales_price
         FROM store_sales, item, date_dim
         WHERE ss_store_sk IS NULL
           AND ss_sold_date_sk=d_date_sk
           AND ss_item_sk=i_item_sk
        UNION ALL
        SELECT 'web' as channel, 'ws_ship_customer_sk' col_name, d_year, d_qoy, i_category, ws_ext_sales_price ext_sales_price
         FROM web_sales, item, date_dim
         WHERE ws_ship_customer_sk IS NULL
           AND ws_sold_date_sk=d_date_sk
           AND ws_item_sk=i_item_sk
        UNION ALL
        SELECT 'catalog' as channel, 'cs_ship_addr_sk' col_name, d_year, d_qoy, i_category, cs_ext_sales_price ext_sales_price
         FROM catalog_sales, item, date_dim
         WHERE cs_ship_addr_sk IS NULL
           AND cs_sold_date_sk=d_date_sk
           AND cs_item_sk=i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
limit 100"""

  private val q93: String =
"""select  ss_customer_sk
            ,sum(act_sales) sumsales
      from (select ss_item_sk
                  ,ss_ticket_number
                  ,ss_customer_sk
                  ,case when sr_return_quantity is not null then (ss_quantity-sr_return_quantity)*ss_sales_price
                                                            else (ss_quantity*ss_sales_price) end act_sales
            from store_sales left outer join store_returns on (sr_item_sk = ss_item_sk
                                                               and sr_ticket_number = ss_ticket_number)
                ,reason
            where sr_reason_sk = r_reason_sk
              and r_reason_desc = 'reason 28') t
      group by ss_customer_sk
      order by sumsales, ss_customer_sk
limit 100"""

  private val q1: String =
"""with customer_total_return as
(select sr_customer_sk as ctr_customer_sk
,sr_store_sk as ctr_store_sk
,sum(sr_return_amt) as ctr_total_return
from store_returns
,date_dim
where sr_returned_date_sk = d_date_sk
and d_year = 2000
group by sr_customer_sk
,sr_store_sk)
 select  c_customer_id
from customer_total_return ctr1
,store
,customer
where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
from customer_total_return ctr2
where ctr1.ctr_store_sk = ctr2.ctr_store_sk)
and s_store_sk = ctr1.ctr_store_sk
and s_state = 'TN'
and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id
limit 100"""

  private val q15: String =
"""select  ca_zip
       ,sum(cs_sales_price)
 from catalog_sales
     ,customer
     ,customer_address
     ,date_dim
 where cs_bill_customer_sk = c_customer_sk
 	and c_current_addr_sk = ca_address_sk 
 	and ( substr(ca_zip,1,5) in ('85669', '86197','88274','83405','86475',
                                   '85392', '85460', '80348', '81792')
 	      or ca_state in ('CA','WA','GA')
 	      or cs_sales_price > 500)
 	and cs_sold_date_sk = d_date_sk
 	and d_qoy = 2 and d_year = 2001
 group by ca_zip
 order by ca_zip
 limit 100"""

  private val q31: String =
"""with ss as
 (select ca_county,d_qoy, d_year,sum(ss_ext_sales_price) as store_sales
 from store_sales,date_dim,customer_address
 where ss_sold_date_sk = d_date_sk
  and ss_addr_sk=ca_address_sk
 group by ca_county,d_qoy, d_year),
 ws as
 (select ca_county,d_qoy, d_year,sum(ws_ext_sales_price) as web_sales
 from web_sales,date_dim,customer_address
 where ws_sold_date_sk = d_date_sk
  and ws_bill_addr_sk=ca_address_sk
 group by ca_county,d_qoy, d_year)
 select 
        ss1.ca_county
       ,ss1.d_year
       ,ws2.web_sales/ws1.web_sales web_q1_q2_increase
       ,ss2.store_sales/ss1.store_sales store_q1_q2_increase
       ,ws3.web_sales/ws2.web_sales web_q2_q3_increase
       ,ss3.store_sales/ss2.store_sales store_q2_q3_increase
 from
        ss ss1
       ,ss ss2
       ,ss ss3
       ,ws ws1
       ,ws ws2
       ,ws ws3
 where
    ss1.d_qoy = 1
    and ss1.d_year = 2000
    and ss1.ca_county = ss2.ca_county
    and ss2.d_qoy = 2
    and ss2.d_year = 2000
 and ss2.ca_county = ss3.ca_county
    and ss3.d_qoy = 3
    and ss3.d_year = 2000
    and ss1.ca_county = ws1.ca_county
    and ws1.d_qoy = 1
    and ws1.d_year = 2000
    and ws1.ca_county = ws2.ca_county
    and ws2.d_qoy = 2
    and ws2.d_year = 2000
    and ws1.ca_county = ws3.ca_county
    and ws3.d_qoy = 3
    and ws3.d_year =2000
    and case when ws1.web_sales > 0 then ws2.web_sales/ws1.web_sales else null end 
       > case when ss1.store_sales > 0 then ss2.store_sales/ss1.store_sales else null end
    and case when ws2.web_sales > 0 then ws3.web_sales/ws2.web_sales else null end
       > case when ss2.store_sales > 0 then ss3.store_sales/ss2.store_sales else null end
 order by ss1.ca_county"""

  private val q33: String =
"""with ss as (
 select
          i_manufact_id,sum(ss_ext_sales_price) total_sales
 from
 	store_sales,
 	date_dim,
         customer_address,
         item
 where
         i_manufact_id in (select
  i_manufact_id
from
 item
where i_category in ('Electronics'))
 and     ss_item_sk              = i_item_sk
 and     ss_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 5
 and     ss_addr_sk              = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_manufact_id),
 cs as (
 select
          i_manufact_id,sum(cs_ext_sales_price) total_sales
 from
 	catalog_sales,
 	date_dim,
         customer_address,
         item
 where
         i_manufact_id               in (select
  i_manufact_id
from
 item
where i_category in ('Electronics'))
 and     cs_item_sk              = i_item_sk
 and     cs_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 5
 and     cs_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_manufact_id),
 ws as (
 select
          i_manufact_id,sum(ws_ext_sales_price) total_sales
 from
 	web_sales,
 	date_dim,
         customer_address,
         item
 where
         i_manufact_id               in (select
  i_manufact_id
from
 item
where i_category in ('Electronics'))
 and     ws_item_sk              = i_item_sk
 and     ws_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 5
 and     ws_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5
 group by i_manufact_id)
  select  i_manufact_id ,sum(total_sales) total_sales
 from  (select * from ss 
        union all
        select * from cs 
        union all
        select * from ws) tmp1
 group by i_manufact_id
 order by total_sales
limit 100"""

  private val q56: String =
"""with ss as (
 select i_item_id,sum(ss_ext_sales_price) total_sales
 from
 	store_sales,
 	date_dim,
         customer_address,
         item
 where i_item_id in (select
     i_item_id
from item
where i_color in ('slate','blanched','burnished'))
 and     ss_item_sk              = i_item_sk
 and     ss_sold_date_sk         = d_date_sk
 and     d_year                  = 2001
 and     d_moy                   = 2
 and     ss_addr_sk              = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_item_id),
 cs as (
 select i_item_id,sum(cs_ext_sales_price) total_sales
 from
 	catalog_sales,
 	date_dim,
         customer_address,
         item
 where
         i_item_id               in (select
  i_item_id
from item
where i_color in ('slate','blanched','burnished'))
 and     cs_item_sk              = i_item_sk
 and     cs_sold_date_sk         = d_date_sk
 and     d_year                  = 2001
 and     d_moy                   = 2
 and     cs_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_item_id),
 ws as (
 select i_item_id,sum(ws_ext_sales_price) total_sales
 from
 	web_sales,
 	date_dim,
         customer_address,
         item
 where
         i_item_id               in (select
  i_item_id
from item
where i_color in ('slate','blanched','burnished'))
 and     ws_item_sk              = i_item_sk
 and     ws_sold_date_sk         = d_date_sk
 and     d_year                  = 2001
 and     d_moy                   = 2
 and     ws_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5
 group by i_item_id)
  select  i_item_id ,sum(total_sales) total_sales
 from  (select * from ss 
        union all
        select * from cs 
        union all
        select * from ws) tmp1
 group by i_item_id
 order by total_sales,
          i_item_id
 limit 100"""

  private val q60: String =
"""with ss as (
 select
          i_item_id,sum(ss_ext_sales_price) total_sales
 from
 	store_sales,
 	date_dim,
         customer_address,
         item
 where
         i_item_id in (select
  i_item_id
from
 item
where i_category in ('Music'))
 and     ss_item_sk              = i_item_sk
 and     ss_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 9
 and     ss_addr_sk              = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_item_id),
 cs as (
 select
          i_item_id,sum(cs_ext_sales_price) total_sales
 from
 	catalog_sales,
 	date_dim,
         customer_address,
         item
 where
         i_item_id               in (select
  i_item_id
from
 item
where i_category in ('Music'))
 and     cs_item_sk              = i_item_sk
 and     cs_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 9
 and     cs_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5 
 group by i_item_id),
 ws as (
 select
          i_item_id,sum(ws_ext_sales_price) total_sales
 from
 	web_sales,
 	date_dim,
         customer_address,
         item
 where
         i_item_id               in (select
  i_item_id
from
 item
where i_category in ('Music'))
 and     ws_item_sk              = i_item_sk
 and     ws_sold_date_sk         = d_date_sk
 and     d_year                  = 1998
 and     d_moy                   = 9
 and     ws_bill_addr_sk         = ca_address_sk
 and     ca_gmt_offset           = -5
 group by i_item_id)
  select   
  i_item_id
,sum(total_sales) total_sales
 from  (select * from ss 
        union all
        select * from cs 
        union all
        select * from ws) tmp1
 group by i_item_id
 order by i_item_id
      ,total_sales
 limit 100"""

  private val q8: String =
"""select  s_store_name
      ,sum(ss_net_profit)
 from store_sales
     ,date_dim
     ,store,
     (select ca_zip
     from (
      SELECT substr(ca_zip,1,5) ca_zip
      FROM customer_address
      WHERE substr(ca_zip,1,5) IN (
                          '24128','57834','13354','15734','78668',
                          '76232','62878','45375','63435','22245',
                          '65084','49130','40558','25733','15798',
                          '87816','81096','56458','35474','27156',
                          '83926','18840','28286','24676','37930',
                          '77556','27700','45266','94627','62971',
                          '20548','23470','47305','53535','21337',
                          '26231','50412','69399','17879','51622',
                          '43848','21195','83921','15559','67853',
                          '15126','16021','26233','53268','10567',
                          '91137','76107','11101','59166','38415',
                          '61265','71954','15371','11928','15455',
                          '98294','68309','69913','59402','58263',
                          '25782','18119','35942','33282','42029',
                          '17920','98359','15882','45721','60279',
                          '18426','64544','25631','43933','37125',
                          '98235','10336','24610','68101','56240',
                          '40081','86379','44165','33515','88190',
                          '84093','27068','99076','36634','50308',
                          '28577','39736','33786','71286','26859',
                          '55565','98569','70738','19736','64457',
                          '17183','28915','26653','58058','89091',
                          '54601','24206','14328','55253','82136',
                          '67897','56529','72305','67473','62377',
                          '22752','57647','62496','41918','36233',
                          '86284','54917','22152','19515','63837',
                          '18376','42961','10144','36495','58078',
                          '38607','91110','64147','19430','17043',
                          '45200','63981','48425','22351','30010',
                          '21756','14922','14663','77191','60099',
                          '29741','36420','21076','91393','28810',
                          '96765','23006','18799','49156','98025',
                          '23932','67467','30450','50298','29178',
                          '89360','32754','63089','87501','87343',
                          '29839','30903','81019','18652','73273',
                          '25989','20260','68893','53179','30469',
                          '28898','31671','24996','18767','64034',
                          '91068','51798','51200','63193','39516',
                          '72550','72325','51211','23968','86057',
                          '10390','85816','45692','65164','21309',
                          '18845','68621','92712','68880','90257',
                          '47770','13955','70466','21286','67875',
                          '82636','36446','79994','72823','40162',
                          '41367','41766','22437','58470','11356',
                          '76638','68806','25280','67301','73650',
                          '86198','16725','38935','13394','61810',
                          '81312','15146','71791','31016','72013',
                          '37126','22744','73134','70372','30431',
                          '39192','35850','56571','67030','22461',
                          '88424','88086','14060','40604','19512',
                          '72175','51649','19505','24317','13375',
                          '81426','18270','72425','45748','55307',
                          '53672','52867','56575','39127','30625',
                          '10445','39972','74351','26065','83849',
                          '42666','96976','68786','77721','68908',
                          '66864','63792','51650','31029','26689',
                          '66708','11376','20004','31880','96451',
                          '41248','94898','18383','60576','38193',
                          '48583','13595','76614','24671','46820',
                          '82276','10516','11634','45549','88885',
                          '18842','90225','18906','13376','84935',
                          '78890','58943','15765','50016','69035',
                          '49448','39371','41368','33123','83144',
                          '14089','94945','73241','19769','47537',
                          '38122','28587','76698','22927','56616',
                          '34425','96576','78567','97789','94983',
                          '79077','57855','97189','46081','48033',
                          '19849','28488','28545','72151','69952',
                          '43285','26105','76231','15723','25486',
                          '39861','83933','75691','46136','61547',
                          '66162','25858','22246','51949','27385',
                          '77610','34322','51061','68100','61860',
                          '13695','44438','90578','96888','58048',
                          '99543','73171','56691','64528','56910',
                          '83444','30122','68014','14171','16807',
                          '83041','34102','51103','79777','17871',
                          '12305','22685','94167','28709','35258',
                          '57665','71256','57047','11489','31387',
                          '68341','78451','14867','25103','35458',
                          '25003','54364','73520','32213','35576')
     intersect
      select ca_zip
      from (SELECT substr(ca_zip,1,5) ca_zip,count(*) cnt
            FROM customer_address, customer
            WHERE ca_address_sk = c_current_addr_sk and
                  c_preferred_cust_flag='Y'
            group by ca_zip
            having count(*) > 10)A1)A2) V1
 where ss_store_sk = s_store_sk
  and ss_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 1998
  and (substr(s_zip,1,2) = substr(V1.ca_zip,1,2))
 group by s_store_name
 order by s_store_name
 limit 100"""

  private val q45: String =
"""select  ca_zip, ca_city, sum(ws_sales_price)
 from web_sales, customer, customer_address, date_dim, item
 where ws_bill_customer_sk = c_customer_sk
 	and c_current_addr_sk = ca_address_sk 
 	and ws_item_sk = i_item_sk 
 	and ( substr(ca_zip,1,5) in ('85669', '86197','88274','83405','86475', '85392', '85460', '80348', '81792')
 	      or 
 	      i_item_id in (select i_item_id
                             from item
                             where i_item_sk in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)
                             )
 	    )
 	and ws_sold_date_sk = d_date_sk
 	and d_qoy = 2 and d_year = 2001
 group by ca_zip, ca_city
 order by ca_zip, ca_city
 limit 100"""

  private val q37: String =
"""select  i_item_id
       ,i_item_desc
       ,i_current_price
 from item, inventory, date_dim, catalog_sales
 where i_current_price between 68 and 68 + 30
 and inv_item_sk = i_item_sk
 and d_date_sk=inv_date_sk
 and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) +  INTERVAL '60' day)
 and i_manufact_id in (677,940,694,808)
 and inv_quantity_on_hand between 100 and 500
 and cs_item_sk = i_item_sk
 group by i_item_id,i_item_desc,i_current_price
 order by i_item_id
 limit 100"""

  private val q82: String =
"""select  i_item_id
       ,i_item_desc
       ,i_current_price
 from item, inventory, date_dim, store_sales
 where i_current_price between 62 and 62+30
 and inv_item_sk = i_item_sk
 and d_date_sk=inv_date_sk
 and d_date between cast('2000-05-25' as date) and (cast('2000-05-25' as date) + INTERVAL '60' day)
 and i_manufact_id in (129, 270, 821, 423)
 and inv_quantity_on_hand between 100 and 500
 and ss_item_sk = i_item_sk
 group by i_item_id,i_item_desc,i_current_price
 order by i_item_id
 limit 100"""

  val all: Map[String, Q] = Map(
    "q_tpcds_v3" -> mk(q3),
    "q_tpcds_v13" -> mk(q13),
    "q_tpcds_v19" -> mk(q19),
    "q_tpcds_v73" -> mk(q73),
    "q_tpcds_v36" -> mk(q36),
    "q_tpcds_v42" -> mk(q42),
    "q_tpcds_v43" -> mk(q43),
    "q_tpcds_v48" -> mk(q48),
    "q_tpcds_v52" -> mk(q52),
    "q_tpcds_v55" -> mk(q55),
    "q_tpcds_v59" -> mk(q59),
    "q_tpcds_v65" -> mk(q65),
    "q_tpcds_v68" -> mk(q68),
    "q_tpcds_v79" -> mk(q79),
    "q_tpcds_v98" -> mk(q98),
    "q_tpcds_v37" -> mk(q37),
    "q_tpcds_v82" -> mk(q82),
    "q_tpcds_v8" -> mk(q8),
    "q_tpcds_v45" -> mk(q45),
    "q_tpcds_v1" -> mk(q1),
    "q_tpcds_v15" -> mk(q15),
    "q_tpcds_v31" -> mk(q31),
    "q_tpcds_v33" -> mk(q33),
    "q_tpcds_v56" -> mk(q56),
    "q_tpcds_v60" -> mk(q60),
    "q_tpcds_v25" -> mk(q25),
    "q_tpcds_v29" -> mk(q29),
    "q_tpcds_v44" -> mk(q44),
    "q_tpcds_v46" -> mk(q46),
    "q_tpcds_v51" -> mk(q51),
    "q_tpcds_v76" -> mk(q76),
    "q_tpcds_v93" -> mk(q93))
}
