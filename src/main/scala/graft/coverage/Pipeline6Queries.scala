package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-5 pipeline additions: the two data-SELECTION mechanisms a
  * 100 TB pretraining corpus applies after filtering/dedup — DSIR-style
  * hashed-n-gram importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling") and CCNet-style
  * LM-perplexity bucketing (Wenzek et al. 2020). Both reduce to two hash
  * aggregates plus a broadcast of a BOUNDED model table (64 feature
  * buckets / the reference-corpus vocabulary), so the per-document pass
  * stays map-side at any corpus size; the only global step is the final
  * rank split, which at 100 TB becomes an approx-quantile threshold
  * computed on a sample (exact ntile here keeps it oracle-checkable).
  * All log-probability math is quantized per term (floor(ln·1e6) as
  * BIGINT) BEFORE summation so the result is bit-stable regardless of
  * aggregation order — the established q_pipe_unigram_lm contract.
  *
  * The final rank split is EXACT but never a global sort (VERDICT r14 #1:
  * `ntile(k) OVER (ORDER BY …)` on per-document rows plans a
  * single-partition WindowExec — one task sorts the whole corpus at
  * 100 TB). [[graft.operators.RankSplit]] computes the ntile bucket
  * boundaries as value-at-rank points via a binned histogram lookup
  * (in-plan, per-bin sorts only) and the bucket tag becomes a
  * map-side comparison — bit-identical to the ntile, zero unpartitioned
  * windows. The oracles keep the ntile spelling: DuckDB's single node IS
  * the scale this corpus fits on. */
object Pipeline6Queries {

  /** DSIR importance weights over hashed bigram features: target = the
    * English subset (the quality proxy), raw = the whole corpus. Each
    * bigram hashes into one of 64 buckets; per-bucket importance is the
    * smoothed log-ratio ln[(nt+1)(R+64) / (nr+1)(T+64)] and a document's
    * weight is the sum over its feature OCCURRENCES. The 64-row weight
    * table is broadcast — the per-doc scoring join never shuffles the
    * corpus; `selected` marks the top importance quartile (doc_id
    * tie-break = the deterministic stand-in for Gumbel resampling),
    * tagged map-side against the exact quartile-boundary point from
    * [[graft.operators.RankSplit]] — no global-sort window. */
  val qPipeDsir: Q = Q(
    run = (s, dir) => {
      val pairs = docs(s, dir).select(col("doc_id"), col("lang"),
          explode(zip_with(
            expr("slice(split(text, ' '), 1, size(split(text, ' ')) - 1)"),
            expr("slice(split(text, ' '), 2, size(split(text, ' ')) - 1)"),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
        .withColumn("b", hashStr(col("pair")) % 64)
        // no-op (b = md5-hash of a non-null concat, never null), but it
        // symmetrizes the null-filter the inner feat join infers on its
        // probe side: with it, the fit subtree under BOTH consumers (the
        // feat join and the totals rollup) canonicalizes identically and
        // ReuseExchange computes the fit pass once (plan-pinned by
        // RankSplitSpec's scan-count assertion)
        .filter(col("b").isNotNull)
      // raw + target counts in ONE corpus aggregate (conditional count);
      // totals derive from the 64-row model table, so the corpus is
      // scanned exactly twice: once to fit, once to score
      val cnt = pairs.groupBy(col("b")).agg(
        count(lit(1)).as("nr"),
        count(when(col("lang") === "en", 1)).as("nt"))
      val totals = cnt.agg(sum(col("nr")).as("tr"), sum(col("nt")).as("tt"))
      val feat = cnt.crossJoin(broadcast(totals))
        .select(col("b"),
          floor(log(((col("nt") + 1) * (col("tr") + 64)).cast("double") /
                    ((col("nr") + 1) * (col("tt") + 64)).cast("double")) * 1000000.0)
            .cast("long").as("lr"))
      val scored = pairs.join(broadcast(feat), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_feats"), sum(col("lr")).cast("long").as("w_micro"))
      // exact lazy ntile(4): the quartile boundary is a value-at-rank point
      // computed in the SAME DAG (scored's shuffle is reused across the
      // histogram/threshold/tag branches), the tag a map-side comparison —
      // see RankSplit.ntileLazy for why not a global-sort ntile window
      graft.operators.RankSplit
        .ntileLazy(scored, "w_micro", "doc_id", desc = true,
          binShift = 20, buckets = 4, bucketCol = "_q")
        .withColumn("selected", col("_q") === 1).drop("_q")
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      fb AS (SELECT doc_id, lang,
                    ${oHash("pair")} % 64 AS b
             FROM (SELECT doc_id, lang,
                          unnest(list_transform(generate_series(1, len(ws) - 1),
                                                i -> ws[i] || ' ' || ws[i + 1])) AS pair
                   FROM toks)),
      raw AS (SELECT b, COUNT(*) AS nr FROM fb GROUP BY b),
      tgt AS (SELECT b, COUNT(*) AS nt FROM fb WHERE lang = 'en' GROUP BY b),
      tot AS (SELECT COUNT(*) AS tr, COUNT(*) FILTER (lang = 'en') AS tt FROM fb),
      feat AS (SELECT raw.b,
                      CAST(FLOOR(ln(CAST((COALESCE(nt, 0) + 1) * (tr + 64) AS DOUBLE)
                                    / CAST((nr + 1) * (tt + 64) AS DOUBLE)) * 1000000.0) AS BIGINT) AS lr
               FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot),
      w AS (SELECT doc_id, lang, COUNT(*) AS n_feats, CAST(SUM(lr) AS BIGINT) AS w_micro
            FROM fb JOIN feat ON fb.b = feat.b GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_feats, w_micro,
             (ntile(4) OVER (ORDER BY w_micro DESC, doc_id) = 1) AS selected
      FROM w ORDER BY doc_id"""))

  /** CCNet-style perplexity bucketing: a unigram LM with add-1 smoothing
    * is fit on the reference subset (lang='en' — CCNet's Wikipedia LM),
    * every document is scored by its per-word cross-entropy under that
    * LM (OOV words get the smoothing floor 1/(N+V)), and the corpus is
    * split into head/middle/tail terciles of ascending cross-entropy —
    * CCNet trains on head+middle (`kept`). The LM table is bounded by
    * the REFERENCE vocabulary (not the corpus), so the scoring join is a
    * broadcast; cross-entropy is integer micro-nats (per-word quantized
    * log-probs, truncating positive division — both engines agree). */
  val qPipeCcnetBucket: Q = Q(
    run = (s, dir) => {
      val w = docs(s, dir).select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val counts = w.filter(col("lang") === "en")
        .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      // N and V come from the VOCAB table, not a rescan of the reference
      // corpus — one fit pass + one scoring pass total
      val stats = counts.agg(sum(col("nw")).as("n_ref"), count(lit(1)).as("v_ref"))
      val scored = w.join(broadcast(counts), Seq("w"), "left").na.fill(0L, Seq("nw"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("lang"),
          floor(log((col("nw") + 1).cast("double") /
                    (col("n_ref") + col("v_ref")).cast("double")) * 1000000.0)
            .cast("long").as("lp"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_words"),
             expr("CAST((-sum(lp)) DIV count(1) AS BIGINT)").as("ce_micro"))
      // exact lazy ntile(3) terciles — value-at-rank boundaries in the
      // same DAG, map-side tag, no global-sort window (RankSplit.ntileLazy)
      graft.operators.RankSplit
        .ntileLazy(scored, "ce_micro", "doc_id", desc = false,
          binShift = 16, buckets = 3, bucketCol = "_t")
        .withColumn("bucket",
          element_at(array(lit("head"), lit("middle"), lit("tail")), col("_t")))
        .drop("_t")
        .withColumn("kept", col("bucket") =!= "tail")
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      ref AS (SELECT w FROM w WHERE lang = 'en'),
      counts AS (SELECT w, COUNT(*) AS nw FROM ref GROUP BY w),
      stats AS (SELECT COUNT(*) AS n_ref, COUNT(DISTINCT w) AS v_ref FROM ref),
      scored AS (
        SELECT doc_id, lang,
               CAST(FLOOR(ln(CAST(COALESCE(nw, 0) + 1 AS DOUBLE)
                             / CAST(n_ref + v_ref AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        FROM w LEFT JOIN counts USING (w), stats),
      ce AS (SELECT doc_id, lang, COUNT(*) AS n_words,
                    CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS ce_micro
             FROM scored GROUP BY doc_id, lang),
      b AS (SELECT *, ['head', 'middle', 'tail'][ntile(3) OVER (ORDER BY ce_micro, doc_id)] AS bucket
            FROM ce)
      SELECT doc_id, lang, n_words, ce_micro, bucket, (bucket <> 'tail') AS kept
      FROM b ORDER BY doc_id"""))

  /** End-to-end C4-style corpus pipeline as ONE declarative plan:
    * normalize → language filter → quality gate → exact dedup (keep-first
    * per content hash) → MinHash-banded fuzzy dedup (8 perms, 2 bands × 4
    * — the q_pipe_minhash_lsh mechanic on the SURVIVING subset) → staged
    * funnel audit. The audit is computed in a SINGLE aggregation pass:
    * each document is tagged with the furthest stage it survives
    * (`last_stage`), exploded into one row per stage it reaches, and
    * aggregated once — NOT five re-aggregations of the corpus lineage, so
    * at 100 TB the funnel costs one extra explode over the already-scored
    * rows. Dedup shuffles ride bounded keys (content hash / band bucket);
    * the LSH candidate set is Σbucket², never corpus². */
  val qPipeE2eC4: Q = {
    val p = 2147483647L
    val seeds = 0 until 8
    Q(
      run = (s, dir) => {
        val base = docs(s, dir).select(col("doc_id"), col("lang"),
          regexp_replace(trim(col("text")), "\\s+", " ").as("t"))
        val ws = split(col("t"), " ")
        val flagged = base
          .withColumn("pass_lang", col("lang") === "en")
          .withColumn("nw", size(ws).cast("long"))
          .withColumn("af", size(filter(ws, w => w.rlike("[a-z]"))).cast("double") /
            size(ws).cast("double"))
          .withColumn("pass_q", col("pass_lang") && col("nw") >= 20L && col("af") >= 0.8)
        val keepers = flagged.filter(col("pass_q"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(md5(col("t"))).orderBy(col("doc_id"))))
          .select(col("doc_id"), col("rn"))
        val exact = flagged.join(keepers, Seq("doc_id"), "left")
        // fuzzy dedup over the exact-dedup survivors: 3-word shingles
        val survivors = exact.filter(col("rn") === 1)
        val sh = survivors.select(col("doc_id"),
          explode(expr("array_distinct(transform(sequence(1, size(split(t, ' ')) - 2), " +
            "i -> concat_ws(' ', slice(split(t, ' '), i, 3))))")).as("sg"))
        val sig = sh.withColumn("h0", hashStr(col("sg")) % p)
          .groupBy(col("doc_id"))
          .agg(seeds.map(sd =>
            min(((col("h0") * (2 * sd + 1)) + (sd * 12345 + 7)) % p).as(s"mh$sd")).head,
            seeds.tail.map(sd =>
              min(((col("h0") * (2 * sd + 1)) + (sd * 12345 + 7)) % p).as(s"mh$sd")): _*)
        val bands = sig.select(col("doc_id"),
          explode(array((0 until 2).map(b =>
            struct(lit(b).as("band"),
              md5(concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*)).as("bkey"))): _*))
            .as("bd"))
          .select(col("doc_id"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
        val dropFuzzy = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("b.doc_id").as("doc_id")).distinct()
          .withColumn("fdrop", lit(true))
        exact.join(dropFuzzy, Seq("doc_id"), "left")
          .withColumn("last_stage",
            when(!col("pass_lang"), lit(0))
              .when(!col("pass_q"), lit(1))
              .when(col("rn").isNull || col("rn") > 1, lit(2))
              .when(col("fdrop").isNotNull, lit(3))
              .otherwise(lit(4)))
          .select(length(col("t")).cast("long").as("nc"),
            explode(sequence(lit(0), col("last_stage"))).as("stage_i"))
          .groupBy(col("stage_i"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nc")).cast("long").as("n_chars"))
          .select(element_at(array(lit("s0_raw"), lit("s1_lang"), lit("s2_quality"),
              lit("s3_exact"), lit("s4_fuzzy")), col("stage_i") + 1).as("stage"),
            col("n_docs"), col("n_chars"))
          .orderBy(col("stage"))
      },
      oracle = Some(s"""
        WITH base AS (SELECT doc_id, lang,
                             regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
                      FROM documents),
        q2 AS (SELECT *,
                      (lang = 'en') AS pass_lang,
                      CAST(len(string_split(t, ' ')) AS BIGINT) AS nw,
                      CAST(len(list_filter(string_split(t, ' '), w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
                        / len(string_split(t, ' ')) AS af
               FROM base),
        q3 AS (SELECT *, (pass_lang AND nw >= 20 AND af >= 0.8) AS pass_q FROM q2),
        k AS (SELECT doc_id, row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
              FROM q3 WHERE pass_q),
        sh AS (SELECT q3.doc_id,
                      unnest(list_distinct(list_transform(
                        generate_series(1, len(string_split(t, ' ')) - 2),
                        i -> string_split(t, ' ')[i] || ' ' || string_split(t, ' ')[i + 1]
                             || ' ' || string_split(t, ' ')[i + 2]))) AS sg
               FROM q3 JOIN k ON k.doc_id = q3.doc_id AND k.rn = 1),
        sig AS (SELECT doc_id, seed,
                       min(((seed * 2 + 1) * (${oHash("sg")} % 2147483647)
                            + seed * 12345 + 7) % 2147483647) AS mh
                FROM sh CROSS JOIN generate_series(0, 7) g(seed)
                GROUP BY doc_id, seed),
        bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                         md5(min(CASE WHEN seed % 4 = 0 THEN mh END) || ',' ||
                             min(CASE WHEN seed % 4 = 1 THEN mh END) || ',' ||
                             min(CASE WHEN seed % 4 = 2 THEN mh END) || ',' ||
                             min(CASE WHEN seed % 4 = 3 THEN mh END)) AS bkey
                  FROM sig GROUP BY 1, 2),
        dropf AS (SELECT DISTINCT b.doc_id
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        ls AS (SELECT q3.doc_id, length(q3.t) AS nc,
                      CASE WHEN NOT pass_lang THEN 0
                           WHEN NOT pass_q THEN 1
                           WHEN k.rn IS NULL OR k.rn > 1 THEN 2
                           WHEN d.doc_id IS NOT NULL THEN 3
                           ELSE 4 END AS last_stage
               FROM q3 LEFT JOIN k ON k.doc_id = q3.doc_id
                       LEFT JOIN dropf d ON d.doc_id = q3.doc_id),
        funnel AS (SELECT unnest(generate_series(0, last_stage)) AS stage_i, nc FROM ls)
        SELECT ['s0_raw', 's1_lang', 's2_quality', 's3_exact', 's4_fuzzy'][stage_i + 1] AS stage,
               COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars
        FROM funnel GROUP BY stage_i
        ORDER BY stage"""))
  }

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_dsir" -> qPipeDsir,
    "q_pipe_ccnet_bucket" -> qPipeCcnetBucket,
    "q_pipe_e2e_c4" -> qPipeE2eC4,
  )
}
