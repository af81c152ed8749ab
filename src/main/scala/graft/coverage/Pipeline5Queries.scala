package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 pipeline additions: the dataset-assembly endgame steps a
  * 100 TB training corpus runs after filtering/dedup — the deterministic
  * train/val/test split and the output shard manifest. Both are pure
  * map-side hash assignment + one aggregate: no shuffle beyond the final
  * group-by, replayable on any cluster size (no RNG state, same rows →
  * same split on 1 or 1000 executors). */
object Pipeline5Queries {

  /** Deterministic stratified train/val/test split — 90/5/5 by document
    * hash, audited per (source, split): counts and char volume. The audit
    * row set is what a data-engineering review signs off on before a
    * training run; determinism (hash-gated, not RNG) makes the split
    * reproducible and leak-checkable forever after. */
  val qPipeSplit: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .withColumn("hv", hashStr(concat(lit("split_"), col("doc_id").cast("string"))) % 100)
        .withColumn("split",
          when(col("hv") < 90, lit("train")).when(col("hv") < 95, lit("val")).otherwise(lit("test")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars_total"),
             min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"), col("split")),
    oracle = Some(s"""
      WITH h AS (SELECT doc_id, source, n_chars,
                        ${oHash("'split_' || doc_id")} % 100 AS hv
                 FROM documents),
           sp AS (SELECT *, CASE WHEN hv < 90 THEN 'train'
                                 WHEN hv < 95 THEN 'val'
                                 ELSE 'test' END AS split FROM h)
      SELECT source, split, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM sp GROUP BY source, split ORDER BY source, split"""))

  /** Output shard manifest — hash-assign every document to one of 16
    * output shards and emit the per-shard manifest row (doc count, char
    * volume, id fingerprint). At 100 TB this is `repartition(shard)` +
    * `write.partitionBy(shard)`; the manifest aggregate is the bookkeeping
    * a tokenizer fleet consumes. The fingerprint (sum of doc hashes) makes
    * shard CONTENT — not just counts — comparable across reruns. */
  val qPipeShards: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .withColumn("shard", (hashStr(concat(lit("shard_"), col("doc_id").cast("string"))) % 16).cast("int"))
        // modular residues keep the SUM inside BIGINT at any corpus size
        // (ANSI overflow at ~9e12 rows even then — far past any shard)
        .withColumn("dh", hashStr(col("text")) % 1000003L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars_total"),
             sum(col("dh")).cast("long").as("content_fp"))
        .orderBy(col("shard")),
    oracle = Some(s"""
      SELECT CAST(${oHash("'shard_' || doc_id")} % 16 AS INT) AS shard,
             COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
             CAST(SUM(${oHash("text")} % 1000003) AS BIGINT) AS content_fp
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Adjacent token-pair statistics — the counting kernel of BPE-style
    * vocabulary induction (merge candidates = most frequent adjacent
    * pairs): per document, zip the token sequence with its own tail, then
    * one global hash-agg; top-100 by (count, pair). Map-side explode +
    * partial agg — the same one-shuffle shape at 100 TB, where this runs
    * per merge round over the whole corpus. Tokenization contract shared
    * with q_pipe_tokens (split on single space). */
  val qPipeBigramStats: Q = Q(
    run = (s, dir) => {
      docs(s, dir)
        .select(explode(zip_with(
          expr("slice(split(text, ' '), 1, size(split(text, ' ')) - 1)"),
          expr("slice(split(text, ' '), 2, size(split(text, ' ')) - 1)"),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(100)
    },
    oracle = Some("""
      WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
      pairs AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                                             i -> ws[i] || ' ' || ws[i + 1])) AS pair
                FROM toks)
      SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
      ORDER BY cnt DESC, pair LIMIT 100"""))

  /** Gopher-style document GATE (Rae et al. 2021 §A1.1, the rule-based
    * quality filter applied before training): word-count bounds, mean-
    * word-length bounds, alphabetic-word fraction, and the ≥2-stopword
    * requirement, conjoined into the keep/drop decision — the FILTER
    * composition step downstream of the scoring (q_pipe_quality) and
    * repetition (q_pipe_repetition) signals. Pure map-side column math
    * per document; at 100 TB this is a single pass with no shuffle
    * (the output ORDER BY here is oracle-comparison scaffolding). */
  val qPipeGopherGate: Q = Q(
    run = (s, dir) => {
      val ws = split(col("text"), " ")
      val stops = Seq("the", "a", "data", "table", "merge", "sort", "filter", "scan",
                      "spark", "query", "window", "stream")
      docs(s, dir).select(
          col("doc_id"), col("source"),
          size(ws).cast("long").as("n_words"),
          (aggregate(transform(ws, w => length(w).cast("long")), lit(0L), (a, x) => a + x)
            .cast("double") / size(ws).cast("double")).as("mwl"),
          (size(filter(ws, w => w.rlike("[a-z]"))).cast("double") /
            size(ws).cast("double")).as("alpha_frac"),
          size(array_distinct(filter(ws, w => w.isInCollection(stops))))
            .cast("long").as("stop_hits"))
        // COALESCE to FALSE: a null-text doc REJECTS (a quality gate has
        // no business keeping a doc it cannot measure), and null booleans
        // render differently across engines
        .withColumn("r_wc", coalesce(col("n_words").between(20L, 80L), lit(false)))
        .withColumn("r_mwl", coalesce(col("mwl").between(4.0, 5.0), lit(false)))
        .withColumn("r_alpha", coalesce(col("alpha_frac") >= 0.8, lit(false)))
        .withColumn("r_stop", coalesce(col("stop_hits") >= 2L, lit(false)))
        .withColumn("keep", col("r_wc") && col("r_mwl") && col("r_alpha") && col("r_stop"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH b AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      m AS (
        SELECT doc_id, source,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
               CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(ws) AS alpha_frac,
               CAST(len(list_distinct(list_filter(ws, w -> list_contains(
                 ['the','a','data','table','merge','sort','filter','scan','spark','query','window','stream'], w)))) AS BIGINT) AS stop_hits
        FROM b)
      SELECT doc_id, source, n_words, mwl, alpha_frac, stop_hits,
             COALESCE(n_words BETWEEN 20 AND 80, FALSE) AS r_wc,
             COALESCE(mwl BETWEEN 4.0 AND 5.0, FALSE) AS r_mwl,
             COALESCE(alpha_frac >= 0.8, FALSE) AS r_alpha,
             COALESCE(stop_hits >= 2, FALSE) AS r_stop,
             (COALESCE(n_words BETWEEN 20 AND 80, FALSE) AND COALESCE(mwl BETWEEN 4.0 AND 5.0, FALSE)
               AND COALESCE(alpha_frac >= 0.8, FALSE) AND COALESCE(stop_hits >= 2, FALSE)) AS keep
      FROM m ORDER BY doc_id"""))

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): embeddings are
    * clustered by a coarse quantizer (the IVF assignment — deterministic
    * first-8 centroids, broadcast, map-side nearest-centroid), then
    * near-duplicate pairs are detected ONLY within a cluster (cosine ≥
    * threshold on the quantized-dot kernel) and the higher id of each
    * pair is dropped. The cluster key bounds the pair join exactly like
    * LSH bands bound q_pipe_dedup_cosine — at 100 TB the candidate set
    * is Σ|cluster|², never |corpus|² (and the cluster id is the shuffle
    * partition key). */
  val qPipeSemDedup: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").withColumn("nq", PipelineQueries.normQ)
      val cent = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nq").as("cn")))
      val cdot = graft.plans.DotProductQExpr.dotQ(col("embedding"), col("ce"), 1000000.0)
      val assign = e.crossJoin(cent)
        .withColumn("sim", PipelineQueries.cosQ(cdot, col("nq"), col("cn")))
        .withColumn("crn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("sim").desc, col("cid"))))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"), col("nq"))
      val pdot = graft.plans.DotProductQExpr.dotQ(col("e1"), col("e2"), 1000000.0)
      val dropped = assign.as("a").join(assign.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("v2"), col("a.embedding").as("e1"),
                col("b.embedding").as("e2"), col("a.nq").as("n1"), col("b.nq").as("n2"))
        .withColumn("cosv", PipelineQueries.cosQ(pdot, col("n1"), col("n2")))
        .filter(col("cosv") >= 0.3)
        .select(col("v2")).distinct()
      assign.select(col("vec_id"), col("cid"))
        .join(dropped.withColumnRenamed("v2", "vec_id").withColumn("dropped", lit(true)),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"), coalesce(col("dropped"), lit(false)).as("dropped"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH norms AS (
        SELECT vec_id, SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS nq
        FROM embeddings, generate_series(1, 64) g(d) GROUP BY vec_id),
      cd AS (
        SELECT v.vec_id, c.vec_id AS cid,
               SUM(CAST(FLOOR(CAST(v.embedding[d] AS DOUBLE) * CAST(c.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM embeddings v, embeddings c, generate_series(1, 64) g(d)
        WHERE c.vec_id < 8 GROUP BY 1, 2),
      assign AS (
        SELECT vec_id, cid FROM (
          SELECT cd.vec_id, cid,
                 row_number() OVER (PARTITION BY cd.vec_id
                   ORDER BY CASE WHEN nv.nq > 0 AND nc.nq > 0
                     THEN CAST(dp AS DOUBLE) / (sqrt(CAST(nv.nq AS DOUBLE)) * sqrt(CAST(nc.nq AS DOUBLE)))
                     ELSE 0.0 END DESC, cid) AS crn
          FROM cd JOIN norms nv ON nv.vec_id = cd.vec_id JOIN norms nc ON nc.vec_id = cid)
        WHERE crn = 1),
      pairs AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               SUM(CAST(FLOOR(CAST(ea.embedding[d] AS DOUBLE) * CAST(eb.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
             JOIN embeddings ea ON ea.vec_id = a.vec_id
             JOIN embeddings eb ON eb.vec_id = b.vec_id,
             generate_series(1, 64) g(d)
        GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT v2 FROM pairs
        JOIN norms na ON na.vec_id = v1 JOIN norms nb ON nb.vec_id = v2
        WHERE CASE WHEN na.nq > 0 AND nb.nq > 0
                THEN CAST(dp AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
                ELSE 0.0 END >= 0.3)
      SELECT a.vec_id, a.cid, (d.v2 IS NOT NULL) AS dropped
      FROM assign a LEFT JOIN dropped d ON d.v2 = a.vec_id
      ORDER BY a.vec_id"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_split" -> qPipeSplit,
    "q_pipe_shards" -> qPipeShards,
    "q_pipe_bigram_stats" -> qPipeBigramStats,
    "q_pipe_gopher_gate" -> qPipeGopherGate,
    "q_pipe_semdedup" -> qPipeSemDedup,
  )
}
