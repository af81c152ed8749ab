package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-fixture generator (VERDICT r7 next-round item 6): writes a
  * HOSTILE variant of an SF dir with the same schemas but the edge cases
  * the benign generator never emits, so the whole corpus can be re-proven
  * against inputs that stress null handling, empty inputs, degenerate
  * strings, and boundary timestamps. Both engines (Spark query + DuckDB
  * oracle) read the SAME hostile files, so the gate still compares
  * apples to apples — what the run flushes out is real brittleness
  * (crashes, null-key divergence, div-by-zero, head()-on-empty), not
  * fixture drift.
  *
  * Hostile classes injected (deterministic, keyed by surrogate-id mod):
  *  - EMPTY TABLE: region is written with 0 rows (empty-input joins and
  *    aggregates across the TPC-H family);
  *  - SINGLE-ROW TABLE: nation keeps exactly one row (dangling FKs from
  *    customer/supplier — inner joins must DROP, outer joins must NULL);
  *  - 1-CHAR / EMPTY STRINGS: c_name='X', p_name='P', o_orderpriority='',
  *    p_type='' on sampled rows (tokenizers, LIKE scans, split paths);
  *  - NULLS in optional columns: c_mktsegment, events.event_type,
  *    events.props, documents.text (null group keys, null JSON access,
  *    null-text dedup/shingling);
  *  - EPOCH-BOUNDARY TIMESTAMPS: o_orderdate / l_shipdate / events.ts
  *    set to 1970-01-01 00:00:00 on sampled rows (window arithmetic,
  *    date_sk derivations, negative-free day counts at the origin);
  *  - ZERO / DEGENERATE NUMERICS: o_totalprice=0, l_extendedprice=1 with
  *    l_quantity=1 and 0 discount/tax (floor-quantization floors at 0 —
  *    but the TPC-H invariant l_quantity ≥ 1 is KEPT: a 0 quantity is
  *    invalid input, not an edge case);
  *  - DEGENERATE VECTORS: all-zero and all-constant embeddings (cosine
  *    normalization guards, zero-variance dimensions);
  *  - DEGENERATE DOCUMENTS: empty text, 1-char text, null text (empty
  *    shingle sets through the whole MinHash/SimHash/LSH family).
  */
object HostileGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "/dev/shm/graft/hostile0.01"
    val spark = graft.EngineSession(graft.EngineSession.envCores(8))

    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    // single FILE per table, exactly like the driver fixtures — DuckDB's
    // read_parquet takes the literal file path, not a directory
    def write(df: DataFrame, n: String): Unit = {
      val tmp = java.nio.file.Paths.get(s"$out/_stage_$n")
      // single-file: fixture tables mirror the driver's one-file layout
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = java.nio.file.Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get finally ls.close()
      val dst = java.nio.file.Paths.get(s"$out/$n.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part, dst)
      val ls2 = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        ls2.iterator().asScala.toSeq.foreach(java.nio.file.Files.deleteIfExists)
      } finally ls2.close()
      java.nio.file.Files.deleteIfExists(tmp)
    }

    val epoch = "TIMESTAMP '1970-01-01 00:00:00'"

    // EMPTY table — still one schema-only part file via write()'s
    // coalesce(1), so readers (DuckDB read_parquet included) see the
    // schema, not ENOENT
    write(t("region").limit(0), "region")
    write(t("nation").filter(col("n_nationkey") === 0), "nation") // single row

    write(t("customer")
      .withColumn("c_name", when(col("c_custkey") % 97 === 0, lit("X")).otherwise(col("c_name")))
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 89 === 0, lit(null: String)).otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 97 === 0, lit(0.0)).otherwise(col("c_acctbal"))), "customer")

    write(t("supplier")
      .withColumn("s_name", when(col("s_suppkey") % 13 === 0, lit("S")).otherwise(col("s_name")))
      .withColumn("s_acctbal",
        when(col("s_suppkey") % 13 === 0, lit(0.0)).otherwise(col("s_acctbal"))), "supplier")

    write(t("part")
      .withColumn("p_name", when(col("p_partkey") % 97 === 0, lit("P")).otherwise(col("p_name")))
      .withColumn("p_type", when(col("p_partkey") % 97 === 0, lit("")).otherwise(col("p_type")))
      .withColumn("p_size", when(col("p_partkey") % 97 === 0, lit(0)).otherwise(col("p_size")))
      .withColumn("p_retailprice",
        when(col("p_partkey") % 97 === 0, lit(0.0)).otherwise(col("p_retailprice"))), "part")

    write(t("orders")
      .withColumn("o_orderdate",
        when(col("o_orderkey") % 101 === 0, expr(epoch)).otherwise(col("o_orderdate")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 101 === 0, lit("")).otherwise(col("o_orderpriority")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 101 === 0, lit(0.0)).otherwise(col("o_totalprice"))), "orders")

    write(t("lineitem")
      .withColumn("l_shipdate",
        when(col("l_orderkey") % 101 === 0, expr(epoch)).otherwise(col("l_shipdate")))
      .withColumn("l_quantity",
        when(col("l_orderkey") % 101 === 0, lit(1.0)).otherwise(col("l_quantity")))
      .withColumn("l_extendedprice",
        when(col("l_orderkey") % 101 === 0, lit(1.0)).otherwise(col("l_extendedprice")))
      .withColumn("l_discount",
        when(col("l_orderkey") % 101 === 0, lit(0.0)).otherwise(col("l_discount")))
      .withColumn("l_tax",
        when(col("l_orderkey") % 101 === 0, lit(0.0)).otherwise(col("l_tax"))), "lineitem")

    // mutate events.ts via a same-type value so the schema byte-layout is
    // preserved. Events get epoch+1s, NOT exact epoch: Spark's streaming
    // watermark initializes at 0ms and treats rows AT the watermark as
    // late, so a ts of exactly 1970-01-01T00:00:00 is born-late in every
    // stateful operator (a real engine-model boundary, documented in
    // FIXTURES.md) — epoch+1s keeps the boundary stress while staying
    // inside the processable domain.
    val ev = t("events")
    val epochTs = expr("TIMESTAMP '1970-01-01 00:00:01'").cast(ev.schema("ts").dataType)
    // r14 adversarial-streaming plants (VERDICT r13 #6), all
    // oracle-neutral (DuckDB reads the same mutated file):
    //  - ONE HOT KEY: half of all rows collapse onto user_id 7 — keyed
    //    state (changelog join / retract top-n / over / dedup) gets one
    //    giant group while the oracle stays value-identical; at 100 TB
    //    this is the skew profile the salting/AQE story targets;
    //  - CONTENT DUPLICATES: every 37th event is appended twice more with
    //    FRESH surrogate event_ids (same ts/user/type/value/props) —
    //    dedup, count and rank-tie paths see duplicated content while the
    //    fixture invariant the cross-engine determinism toolkit rests on
    //    (unique (ts, event_id) sort tie-breaks) stays intact;
    //    BYTE-identical duplicates are deliberately NOT planted here —
    //    they make every sequence-sensitive oracle (CEP/MATCH_RECOGNIZE/
    //    temporal sort) nondeterministic BETWEEN engines by construction
    //    (proven: 13 oracle divergences when tried) and are covered at
    //    the state-transition layer instead (HostileStreamingSpec);
    //  - EXTREME OUT-OF-ORDERNESS: the file is written in hash order,
    //    not ts order — a file-stream replay sees maximal event-time
    //    disorder (buffered operators must not depend on arrival order).
    val evHostile = ev
      .withColumn("ts", when(col("event_id") % 89 === 0, epochTs).otherwise(col("ts")))
      .withColumn("event_type",
        when(col("event_id") % 83 === 0, lit(null: String)).otherwise(col("event_type")))
      .withColumn("props",
        when(col("event_id") % 79 === 0, lit(null: String)).otherwise(col("props")))
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(7L)).otherwise(col("user_id")))
    val dupBase = evHostile.filter(col("event_id") % 37 === 0)
    val dup1 = dupBase.withColumn("event_id", col("event_id") + lit(100000000L))
    val dup2 = dupBase.withColumn("event_id", col("event_id") + lit(200000000L))
    write(evHostile.unionAll(dup1).unionAll(dup2).orderBy(hash(col("event_id"), col("ts"))),
      "events")

    val docs = t("documents")
    // LONG documents (700 words, > the old 500-position oracle cap): the
    // r11 ADVICE hazard — any constant-bound n-gram position enumeration
    // silently under-counts these. Oracles now enumerate exactly
    // (unnest(generate_series(1, len-k))); this plant keeps them honest.
    // Content cycles a doc_id-salted 13-word vocabulary so long docs are
    // neither exact dupes of each other nor single-token degenerate.
    val longText = expr(
      "array_join(transform(sequence(1, 700), " +
        "j -> concat('lw', pmod(j * (1 + pmod(doc_id, 11)), 13))), ' ')")
    val hostileText = when(col("doc_id") % 53 === 0, lit(""))
      .when(col("doc_id") % 53 === 1, lit("a"))
      .when(col("doc_id") % 53 === 2, lit(null: String))
      .when(col("doc_id") % 53 === 3, longText)
      .otherwise(col("text"))
    write(docs
      .withColumn("text", hostileText)
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    val emb = t("embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(emb
      .withColumn("embedding",
        when(col("vec_id") % 47 === 0,
          expr(s"transform(sequence(1, $dim), j -> CAST(0.0 AS FLOAT))"))
        .when(col("vec_id") % 47 === 1,
          expr(s"transform(sequence(1, $dim), j -> CAST(0.5 AS FLOAT))"))
        .otherwise(col("embedding"))), "embeddings")

    println(s"wrote hostile variant of $src to $out")
    spark.stop()
  }
}
