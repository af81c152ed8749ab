package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT ntile without a global sort — the ntile killer.
  *
  * `ntile(k) OVER (ORDER BY v, tie)` on one-row-per-document data plans as
  * a single-partition WindowExec: a total sort of the whole corpus through
  * ONE task (VERDICT r14 #1 — the one genuine 100 TB scale-killer found in
  * the pipeline family). But an ntile bucket is fully determined by the
  * (v, tie) value at each bucket-boundary RANK, and an exact value-at-rank
  * needs no global sort: a value-range histogram locates the bin holding
  * each boundary rank, a rank inside that bin alone finds the boundary
  * point, and every row is tagged by comparing its (v, tie) against the
  * boundary points — the tie-break column makes the order total, so the
  * result is bit-identical to the ntile. [[ntileLazy]] builds all of it as
  * one lazy plan (no driver collect, no persist).
  *
  * Input columns must cast to BIGINT; arithmetic shiftright keeps negative
  * values correctly ordered.
  */
object RankSplit {

  /** Fully-LAZY exact ntile — one declarative DAG, one corpus scan.
    *
    * Adds `bucketCol` = `ntile(buckets) OVER (ORDER BY v [DESC], tie)`
    * without any driver collect and without a global sort. The plan has
    * three branches over the same input subtree — histogram,
    * per-target-bin rank, final tag — and because they embed the IDENTICAL
    * aggregate subtree, Spark's ReuseExchange computes the input's shuffle
    * ONCE and the other branches read the shuffle files (the TPC-DS
    * q14a-class mechanism; pinned by the golden plans' ReusedExchange-
    * friendly shape and RankSplitSpec's executed-plan checks).
    *
    * Structure:
    *   hist:    bin → count (bins are value-range-bounded, never
    *            corpus-bounded);
    *   targets: ONE one-row aggregate collects the (bounded) histogram as
    *            a rank-ordered array; the K-1 ntile boundary ranks
    *            (`base*b + least(b, n%K)` — the SQL sizing) and, per rank,
    *            the bin holding it plus the residual in-bin rank are a
    *            map-side `transform`/`aggregate` fold over that array.
    *            (r16: this replaces the r15 nDf/cum/bounds sub-lattice —
    *            an unpartitioned window over the bin table, a range scan
    *            and two joins with three broadcasts — with one aggregate
    *            and pure expressions; ~4 fewer tiny-frame stages per call,
    *            VERDICT r15 #4);
    *   thr:     value-at-rank per boundary — row_number INSIDE the target
    *            bin only, partitioned by (bin, boundary) so two boundaries
    *            landing in one bin rank independently;
    *   tag:     bucket = 1 + |{boundaries the row ranks AFTER}| — a pure
    *            map-side array expression over the broadcast 1-row
    *            threshold list.
    *
    * Bit-identical to ntile: rank(row) <= boundary_b ⇔ (v, tie)
    * at-or-before the boundary point, because the order is total.
    *
    * THE TETHER (why `_rs_v` adds `xxhash64(all columns) * 0`): the whole
    * lattice only computes the input subtree ONCE if Spark's ReuseExchange
    * can prove the tag branch's exchange and the slim branches' exchange
    * identical. Left alone, ColumnPruning SPECIALIZES the slim branches —
    * it rewrites the input's Aggregate down to just the value/tie
    * expressions, dropping or reordering the other aggregate functions, so
    * the partial-aggregate exchange no longer canonicalizes equal to the
    * tag branch's and the corpus pipeline executes twice (measured: 3
    * document scans in q_pipe_ccnet's final plan instead of 2). The tether
    * is a zero-valued term that references EVERY input column in output
    * order, first: pruning must then keep the input's aggregate exactly
    * as written (same functions, same order — the tether's argument order
    * pins the partial-buffer layout even if CollapseProject merges the
    * projection into the aggregate), the exchanges canonicalize equal, and
    * the input computes once with the other branches reading its shuffle
    * files. `xxhash64` is non-null for any input type, and `& 0` (unlike
    * `* 0`, which Catalyst folds for non-nullable children) survives the
    * optimizer; value semantics are untouched. Pinned by RankSplitSpec's
    * executed-plan scan-count assertions. */
  def ntileLazy(df: DataFrame, valueCol: String, tieCol: String, desc: Boolean,
                binShift: Int, buckets: Int, bucketCol: String): DataFrame = {
    if (buckets <= 1) return df.withColumn(bucketCol, lit(1)) // ntile(1) ≡ 1
    val spark = df.sparkSession
    val tether = xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(lit(0L))
    val binned = df.select((tether + col(valueCol).cast("long")).as("_rs_v"),
        col(tieCol).cast("long").as("_rs_tie"))
      .withColumn("_rs_bin", shiftright(col("_rs_v"), binShift))
    val hist = binned.groupBy("_rs_bin").agg(count(lit(1)).as("_rs_cnt"))
    // the occupied-bin histogram is bounded (value-range, not corpus), so
    // it fits ONE row; everything the r15 lattice derived from it via a
    // window + range + two joins is a fold over that row's array
    val histRow = hist.agg(
      array_sort(collect_list(struct(col("_rs_bin").as("b"), col("_rs_cnt").as("c"))))
        .as("_rs_arr"),
      sum(col("_rs_cnt")).cast("long").as("_rs_n"))
    val ordArr = if (desc) reverse(col("_rs_arr")) else col("_rs_arr") // rank order
    val base = expr(s"_rs_n DIV $buckets") // exact integer division at any n
    val rem = col("_rs_n") % buckets
    val nullL = lit(null).cast("long")
    val bs = array((1 until buckets).map(b => lit(b.toLong)): _*)
    val targets = histRow
      .select(explode(transform(bs, b => {
        val rank = base * b + least(b, rem)
        // locate the bin holding `rank` (first bin, in rank order, whose
        // cumulative count reaches it) and the residual in-bin rank
        val found = aggregate(ordArr,
          struct(lit(0L).as("cum"), nullL.as("tbin"), nullL.as("inbin")),
          (acc, x) => {
            val hit = acc.getField("tbin").isNull && acc.getField("cum") + x.getField("c") >= rank
            struct(
              (acc.getField("cum") + x.getField("c")).as("cum"),
              when(hit, x.getField("b")).otherwise(acc.getField("tbin")).as("tbin"),
              when(hit, rank - acc.getField("cum")).otherwise(acc.getField("inbin")).as("inbin"))
          })
        struct(b.as("_rs_b"), rank.as("_rs_rank"),
          found.getField("tbin").as("_rs_tbin"), found.getField("inbin").as("_rs_inbin"))
      })).as("_rs_t"))
      .select(col("_rs_t.*"))
      .filter(col("_rs_rank") >= 1) // n < buckets ⇒ some boundaries vanish
      .select(col("_rs_b"), col("_rs_tbin"), col("_rs_inbin"))
    val rowOrd =
      if (desc) Seq(col("_rs_v").desc, col("_rs_tie")) else Seq(col("_rs_v"), col("_rs_tie"))
    val thr = binned.join(broadcast(targets), col("_rs_bin") === col("_rs_tbin"))
      .withColumn("_rs_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_rs_bin"), col("_rs_b")).orderBy(rowOrd: _*)))
      .filter(col("_rs_rn") === col("_rs_inbin"))
      .agg(collect_list(struct(col("_rs_v").as("v"), col("_rs_tie").as("t"))).as("_rs_ths"))
    val v = col(valueCol).cast("long")
    val tie = col(tieCol).cast("long")
    df.crossJoin(broadcast(thr))
      .withColumn(bucketCol,
        (lit(1) + size(filter(col("_rs_ths"), e =>
          (if (desc) v < e.getField("v") else v > e.getField("v")) ||
            (v === e.getField("v") && tie > e.getField("t"))))).cast("int"))
      .drop("_rs_ths")
  }
}
