package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 pipeline additions — three passes every LLM pretraining-data
  * platform runs between curation and the trainer, none expressible by
  * the earlier dedup/retrieval families:
  *
  *  - SEQUENCE PACKING (GPT-style): concatenate the corpus in document
  *    order and cut fixed token-budget training sequences, reporting per
  *    document which chunks it lands in. The core is a corpus-wide PREFIX
  *    SUM, implemented as the textbook two-level distributed scan (local
  *    scans + a parallelism-sized carry table) — NOT a single-partition
  *    global window, which would serialize the whole corpus through one
  *    task at 100 TB;
  *  - DECONTAMINATION, set-overlap form: per-train-document COUNT and
  *    FRACTION of shingles occurring anywhere in the held-out eval set
  *    (the aggregate leakage score; the earlier q_pipe_decontaminate
  *    attributes each train doc to its top matching benchmark doc —
  *    pairwise attribution — while this one answers "how contaminated
  *    is this doc overall" with the eval side reduced to ONE broadcast
  *    set, so the train side streams through a single hash join);
  *  - REPETITION SIGNALS (Gopher-style quality rules): per-document
  *    duplicate-word fraction, top-word fraction, and top-bigram coverage,
  *    with the flag thresholds applied in-plan. Pure hash-agg pipelines.
  */
object Pipeline9Queries {

  /** Training-sequence budget (tokens per packed sequence). */
  private val SeqLen = 256L

  /** GPT-style sequence packing: documents are concatenated in `doc_id`
    * order and cut into [[SeqLen]]-token training sequences; each document
    * reports its first/last chunk and span width (a doc straddling a cut
    * contributes to both neighbors — the standard pack-then-chunk
    * pretraining layout, where nothing is padded and long docs span).
    *
    * The prefix sum is the interesting part at 100 TB: a bare
    * `Window.orderBy(doc_id)` is a SINGLE exchange to ONE partition — the
    * whole corpus through one task. Instead the classic two-level scan:
    * tokenize ONCE into a (doc_id, ntok) checkpoint — 16 B/doc, ~1% of
    * corpus width, the same static-frame materialization the graph loops
    * use; without it each scan consumer re-read and re-split the full
    * text column, and Catalyst cannot de-duplicate the subtrees itself
    * (the join's inferred null filter breaks sameResult — probed on
    * 4.1.2, single-text-scan pinned in Pipeline9Spec). Then bucket by a
    * deterministic id-range split (width from a one-row min/max admin
    * scalar over the narrow frame), scan locally inside each bucket
    * (window PARTITIONED by bucket — bounded by bucket size), aggregate
    * one carry per bucket, scan the carries (a window over #buckets
    * rows, not #docs), and broadcast them back. cum_before is the sum
    * over all smaller doc_ids regardless of the bucket width, so the
    * result is bucket-invariant. */
  val qPipeSeqPack: Q = Q(
    run = (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")).as("ntok"))
        .localCheckpoint()
      // 1-row admin scalar (over the narrow checkpoint): deterministic
      // bucket width targeting one bucket per shuffle partition on
      // roughly-dense ids (the corpus-ingest convention).
      val mm = toks.agg(count(lit(1)).as("n"), count(col("doc_id")).as("nkeys"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
      // ADVICE r12: min-is-NULL conflated "empty corpus" with "non-empty but
      // every doc_id NULL" — the latter would have returned ALL rows zeroed.
      // Guard on emptiness explicitly, and refuse NULL keys loudly (a NULL
      // doc_id would also silently drop out of the bucket equi-join below).
      require(mm.getLong(0) == mm.getLong(1),
        s"seq_pack: ${mm.getLong(0) - mm.getLong(1)} rows with NULL doc_id — the packer keys on doc_id")
      if (mm.getLong(0) == 0L) {
        // Empty corpus: emit zero rows with the operator's output schema
        // (the oracle's window over zero rows does the same) instead of
        // NPE-ing on the admin scalar.
        toks.select(col("doc_id"), col("ntok"), lit(0L).as("cum_before"),
          lit(0L).as("chunk_first"), lit(0L).as("chunk_last"), lit(0L).as("spans"))
      } else {
      val (lo, hi) = (mm.getLong(2), mm.getLong(3))
      val nb = s.conf.get("spark.sql.shuffle.partitions").toLong max 1L
      val width = 1L max ((hi - lo) / nb + 1L)
      val bucketed = toks.withColumn("bkt", expr(s"(doc_id - $lo) DIV $width"))
      val local = bucketed.withColumn("cum_in",
        sum(col("ntok")).over(Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val carries = bucketed.groupBy(col("bkt")).agg(sum(col("ntok")).as("btot"))
        .withColumn("boff", coalesce(
          sum(col("btot")).over(Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("boff"))
      local.join(broadcast(carries), "bkt")
        .withColumn("cum_before", col("boff") + col("cum_in") - col("ntok"))
        .withColumn("chunk_first", expr(s"cum_before DIV $SeqLen"))
        .withColumn("chunk_last",
          when(col("ntok") === 0, col("chunk_first"))
            .otherwise(expr(s"(cum_before + ntok - 1) DIV $SeqLen")))
        .withColumn("spans", (col("chunk_last") - col("chunk_first") + lit(1L)))
        .select(col("doc_id"), col("ntok"), col("cum_before"),
                col("chunk_first"), col("chunk_last"), col("spans"))
        .orderBy(col("doc_id"))
      }
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id,
                           CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS ntok
                    FROM documents),
      c AS (SELECT doc_id, ntok,
                   CAST(coalesce(SUM(ntok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM toks)
      SELECT doc_id, ntok, cum_before,
             cum_before // $SeqLen AS chunk_first,
             CASE WHEN ntok = 0 THEN cum_before // $SeqLen
                  ELSE (cum_before + ntok - 1) // $SeqLen END AS chunk_last,
             CASE WHEN ntok = 0 THEN CAST(1 AS BIGINT)
                  ELSE (cum_before + ntok - 1) // $SeqLen - cum_before // $SeqLen + 1 END AS spans
      FROM c ORDER BY doc_id"""))

  /** Decontamination by word-3-gram overlap: documents whose doc_id ≡ 0
    * (mod 97) stand in for the held-out EVAL set; every other (train)
    * document reports how many of its distinct shingles also occur
    * anywhere in the eval set, plus the contaminated fraction. Join key =
    * the 60-bit shingle hash (8-byte shuffle keys); the eval shingle set
    * is ~1% of the corpus → broadcast, so the train side streams through
    * one hash join with no shuffle of its own beyond the per-doc count.
    * (Real pipelines run 8–13-grams; the fixture's 40–90-word docs get
    * the same machinery at n=3.) */
  val qPipeDecontaminate: Q = Q(
    run = (s, dir) => {
      val sh = PipelineQueries.shingledOf(docs(s, dir))
        .select(col("doc_id"), hashStr(col("sh")).as("shid"))
      val evalSh = sh.filter(col("doc_id") % 97 === 0).select(col("shid")).distinct()
      val train = sh.filter(col("doc_id") % 97 =!= 0)
      val totals = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_total"))
      val shared = train.join(broadcast(evalSh), "shid")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      shared.join(totals, "doc_id")
        .withColumn("frac", qz6(col("n_shared").cast("double") / col("n_total").cast("double")))
        .select(col("doc_id"), col("n_shared"), col("n_total"), col("frac"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH raw AS (${PipelineQueries.oShinglesSql}),
      sh AS (SELECT doc_id, ${oHash("sh")} AS shid FROM raw),
      ev AS (SELECT DISTINCT shid FROM sh WHERE doc_id % 97 = 0),
      tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
      tot AS (SELECT doc_id, COUNT(*) AS n_total FROM tr GROUP BY doc_id),
      shr AS (SELECT doc_id, COUNT(*) AS n_shared FROM tr JOIN ev USING (shid) GROUP BY doc_id)
      SELECT doc_id, n_shared, n_total,
             ${oQz6("CAST(n_shared AS DOUBLE) / CAST(n_total AS DOUBLE)")} AS frac
      FROM shr JOIN tot USING (doc_id)
      ORDER BY doc_id"""))

  /** Gopher-style repetition signals per document: duplicate-word
    * fraction, most-frequent-word fraction, and the fraction of tokens
    * covered by the most frequent bigram, with the repetition FLAG
    * applied in-plan (dup_frac > 0.55 or top-bigram coverage > 0.18 —
    * the "remove documents made of the same line over and over" rule,
    * adapted to word granularity for the single-line fixture texts).
    * Three hash aggregations over the exploded words/bigrams, partial-
    * agg'd map-side; only counts are emitted (never the argmax word, so
    * ties cannot make the output order-dependent). */
  val qPipeRepSignals: Q = Q(
    run = (s, dir) => {
      val ws = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val words = ws.select(col("doc_id"), explode(col("ws")).as("w"))
      val wordStats = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("d"), max(col("c")).as("m1"))
      val bigrams = ws.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1)))).as("bg"))
      val bgTop = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("m2"))
      wordStats.join(bgTop, Seq("doc_id"), "left")
        .withColumn("dup_frac", qz6((col("n") - col("d")).cast("double") / col("n").cast("double")))
        .withColumn("top_word_frac", qz6(col("m1").cast("double") / col("n").cast("double")))
        .withColumn("top_bigram_frac",
          qz6(coalesce(col("m2"), lit(0L)).cast("double") * 2.0 / col("n").cast("double")))
        .withColumn("flagged",
          (col("dup_frac") > 0.55 || col("top_bigram_frac") > 0.18).cast("int"))
        .select(col("doc_id"), col("n"), col("d"), col("dup_frac"),
                col("top_word_frac"), col("top_bigram_frac"), col("flagged"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                 WHERE text IS NOT NULL),
      words AS (SELECT doc_id, unnest(ws) AS w FROM t),
      wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
      ws_stats AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d,
                          CAST(MAX(c) AS BIGINT) AS m1 FROM wc GROUP BY doc_id),
      bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS b
             FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                   FROM t WHERE len(ws) >= 2)),
      bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
      bt AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS m2 FROM bc GROUP BY doc_id)
      SELECT ws_stats.doc_id, n, d,
             ${oQz6("CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)")} AS dup_frac,
             ${oQz6("CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE)")} AS top_word_frac,
             ${oQz6("CAST(coalesce(m2, 0) AS DOUBLE) * 2.0 / CAST(n AS DOUBLE)")} AS top_bigram_frac,
             CAST(CASE WHEN ${oQz6("CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)")} > 0.55
                        OR ${oQz6("CAST(coalesce(m2, 0) AS DOUBLE) * 2.0 / CAST(n AS DOUBLE)")} > 0.18
                       THEN 1 ELSE 0 END AS INTEGER) AS flagged
      FROM ws_stats LEFT JOIN bt ON ws_stats.doc_id = bt.doc_id
      ORDER BY ws_stats.doc_id"""))

  val all: Map[String, Q] = Map(
    "q_pipe_seq_pack" -> qPipeSeqPack,
    "q_pipe_decontam_overlap" -> qPipeDecontaminate,
    "q_pipe_rep_signals" -> qPipeRepSignals)
}
