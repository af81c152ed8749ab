package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replica-shift fixture scaler for the sf1 scale-up smoke (VERDICT r6
  * next-round item 2): reads the sf0.1 fixtures and writes an N× (default
  * 10×) scale-up with the SAME schemas and per-row work characteristics,
  * so the heavy-query set can be smoked at ~sf1 without touching the
  * read-only driver fixtures.
  *
  * Scaling model — each output table is `reps` shifted replicas of the
  * source (replica 0 = identity, so every literal key the queries probe —
  * IVF seed vectors, probe ids — still exists):
  *  - surrogate keys shift by replica × (max(key)+1): referential joins
  *    stay intact WITHIN a replica, so join selectivities are preserved
  *    while cardinalities scale linearly;
  *  - `events.ts` shifts by replica × 45 days: the stream gets LONGER, not
  *    denser — per-window volumes (and the co-purchase graph's per-window
  *    pair counts) stay constant, which is how real traffic grows;
  *  - `documents.text` prefixes every word with a replica tag: replicas
  *    are textually disjoint, so planted near-dup clusters are preserved
  *    per replica and the LSH candidate-pair volume scales LINEARLY (10
  *    verbatim copies would grow every cluster 10× and the pair count
  *    ~45× — a quadratic artifact, not a scale-up);
  *  - `embeddings.embedding` rotates by the replica index: distinct
  *    vectors, same norm/coordinate distribution.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/dev/shm/graft/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = graft.EngineSession(graft.EngineSession.envCores(32))

    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def bound(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1L
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val wide = df.withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
      shifts.foldLeft(wide) { case (d, (c, m)) =>
        d.withColumn(c, col(c) + col("rep") * m)
      }
    }
    def write(df: DataFrame, n: String): Unit =
      df.drop("rep").repartition(16).write.mode("overwrite").parquet(s"$out/$n.parquet")

    val (mC, mS, mP) = (bound(t("customer"), "c_custkey"),
      bound(t("supplier"), "s_suppkey"), bound(t("part"), "p_partkey"))
    val mO = bound(t("orders"), "o_orderkey")

    t("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    t("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")
    write(replicate(t("customer"), "c_custkey" -> mC), "customer")
    write(replicate(t("supplier"), "s_suppkey" -> mS), "supplier")
    write(replicate(t("part"), "p_partkey" -> mP), "part")
    write(replicate(t("orders"), "o_orderkey" -> mO, "o_custkey" -> mC), "orders")
    write(replicate(t("lineitem"),
      "l_orderkey" -> mO, "l_partkey" -> mP, "l_suppkey" -> mS), "lineitem")

    val ev = t("events")
    write(replicate(ev, "event_id" -> bound(ev, "event_id"), "user_id" -> bound(ev, "user_id"))
      .withColumn("ts", expr("timestampadd(DAY, CAST(rep * 45 AS INT), ts)")), "events")

    val docs = t("documents")
    write(replicate(docs, "doc_id" -> bound(docs, "doc_id"))
      .withColumn("text", when(col("rep") === 0L, col("text"))
        .otherwise(array_join(
          transform(split(col("text"), " "), w => concat(lit("r"), col("rep"), w)), " ")))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    val emb = t("embeddings")
    write(replicate(emb, "vec_id" -> bound(emb, "vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(1, size(embedding)), " +
          "j -> element_at(embedding, CAST((j - 1 + rep) % size(embedding) + 1 AS INT)))")),
      "embeddings")

    println(s"wrote ${reps}x of $src to $out")
    spark.stop()
  }
}
