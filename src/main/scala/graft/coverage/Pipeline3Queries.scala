package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import graft.operators.GraphOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 training-data pipeline additions: near-dup CLUSTER
  * canonicalization (pairs → connected components → keeper), IVF-style ANN
  * (coarse quantizer + probed lists — the scale path next to the LSH
  * variant), Gopher-style repetition signals, and deterministic
  * stratified + reservoir sampling.
  *
  * Same determinism toolkit as [[PipelineQueries]]: md5-derived hashes,
  * term-quantized integer dots, integer ratios.
  */
object Pipeline3Queries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Near-dup cluster canonicalization — the step AFTER pair generation in
    * every production dedup pipeline (minhash pairs are edges; transitive
    * closure groups them; one keeper per cluster survives). Pairs come from
    * [[PipelineQueries.minhashPairs]]; components from the O(log n)
    * large-star/small-star contraction (GraphOps) — both already
    * scale-shaped; the canonical id is the cluster min. */
  val qPipeDedupCluster: Q = Q(
    run = (s, dir) => {
      val pairs = PipelineQueries.minhashPairs(s, dir)
      val comp = GraphOps.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      docs(s, dir).select(col("doc_id"))
        .join(comp.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
        .withColumn("kept", col("doc_id") === col("canonical_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE
      ${PipelineQueries.oMinhashCtes},
      bi AS (SELECT d1 AS v, d2 AS u FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(v, u) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM bi)
        UNION
        SELECT r.v, bi.u FROM reach r JOIN bi ON r.u = bi.v),
      comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v)
      SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS canonical_id,
             (COALESCE(comp.c, d.doc_id) = d.doc_id) AS kept
      FROM documents d LEFT JOIN comp ON comp.v = d.doc_id
      ORDER BY d.doc_id"""))

  /** IVF-style ANN: a coarse quantizer (8 deterministic centroids — the
    * first 8 corpus vectors) assigns every vector to its nearest-centroid
    * list ONCE (broadcast centroids, map-side); each query probes its 2
    * nearest lists and scores exactly inside them. At 100 TB the lists are
    * the partition key — a query touches nprobe/nlist of the corpus, and
    * the centroid table stays broadcast-sized (real IVF trains k-means;
    * the assignment/probe dataflow is identical). */
  val qPipeAnnIvf: Q = Q(
    run = (s, dir) => {
      val e = emb(s, dir).withColumn("nq", PipelineQueries.normQ)
      val cent = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nq").as("cn")))
      val cdot = graft.plans.DotProductQExpr.dotQ(col("embedding"), col("ce"), 1000000.0)
      val sim = e.crossJoin(cent)
        .withColumn("sim", PipelineQueries.cosQ(cdot, col("nq"), col("cn")))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))))
      val assign = sim.filter(col("crn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"), col("nq"))
      val probes = sim.filter(col("crn") <= 2 && col("vec_id").between(100, 109))
        .select(col("vec_id").as("qid"), col("cid"), col("embedding").as("qe"), col("nq").as("qn"))
      val qdot = graft.plans.DotProductQExpr.dotQ(col("qe"), col("embedding"), 1000000.0)
      probes.join(assign, Seq("cid")).filter(col("vec_id") =!= col("qid"))
        .withColumn("cosv", PipelineQueries.cosQ(qdot, col("qn"), col("nq")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosv").desc, col("vec_id"))))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cosv"))
        .orderBy(col("qid"), col("rn"))
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
      sim AS (
        SELECT cd.vec_id, cid,
               row_number() OVER (PARTITION BY cd.vec_id
                 ORDER BY CAST(dp AS DOUBLE) / (sqrt(CAST(nv.nq AS DOUBLE)) * sqrt(CAST(nc.nq AS DOUBLE))) DESC, cid) AS crn
        FROM cd JOIN norms nv ON nv.vec_id = cd.vec_id JOIN norms nc ON nc.vec_id = cid),
      assign AS (SELECT vec_id, cid FROM sim WHERE crn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM sim WHERE crn <= 2 AND vec_id BETWEEN 100 AND 109),
      cand AS (SELECT p.qid, a.vec_id AS cv
               FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
      dots AS (
        SELECT qid, cv,
               SUM(CAST(FLOOR(CAST(q.embedding[d] AS DOUBLE) * CAST(c.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                  JOIN embeddings c ON c.vec_id = cand.cv,
             generate_series(1, 64) g(d)
        GROUP BY 1, 2),
      cos AS (
        SELECT qid, cv, CASE WHEN nq.nq > 0 AND nc.nq > 0 THEN CAST(dp AS DOUBLE) / (sqrt(CAST(nq.nq AS DOUBLE)) * sqrt(CAST(nc.nq AS DOUBLE))) ELSE 0.0 END AS cosv
        FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cv)
      SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY cosv DESC, cv) AS rn,
             cv AS cid, cosv
      FROM cos QUALIFY rn <= 3 ORDER BY qid, rn"""))

  /** Gopher-style repetition signals (Rae et al. 2021 quality filters):
    * duplicate-word fraction and top-bigram fraction per document, plus the
    * "repetitive" gate (top bigram > 20% of all bigrams). Pure map-side
    * n-gram build + one partial-agg'd shuffle per metric — integer ratios
    * (permille) keep the gate cross-engine exact. */
  val qPipeRepetition: Q = Q(
    run = (s, dir) => {
      val w = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val gstats = w.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1)))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_bigram_n"))
      w.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
               size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
        .join(gstats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          expr("((n_words - n_distinct) * 1000) DIV n_words").as("dup_word_permille"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          coalesce(col("top_bigram_n") * 5 > col("n_bigrams"), lit(false)).as("repetitive"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
            FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                  FROM w WHERE len(ws) >= 2)),
      gc AS (SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY 1, 2),
      gs AS (SELECT doc_id, SUM(n)::BIGINT AS n_bigrams, MAX(n)::BIGINT AS top_bigram_n
             FROM gc GROUP BY 1),
      ws AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
                    len(list_distinct(ws))::BIGINT AS n_distinct FROM w)
      SELECT ws.doc_id, n_words, n_distinct,
             ((n_words - n_distinct) * 1000) // n_words AS dup_word_permille,
             COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams,
             COALESCE(top_bigram_n, 0)::BIGINT AS top_bigram_n,
             COALESCE(top_bigram_n * 5 > n_bigrams, FALSE) AS repetitive
      FROM ws LEFT JOIN gs ON gs.doc_id = ws.doc_id
      ORDER BY ws.doc_id"""))

  /** Deterministic sampling, both flavors a data pipeline needs:
    * stratified Bernoulli (per-source rate, hash-gated — exact replay on
    * any cluster size, no RNG state) and reservoir-k per stratum (the k
    * smallest hashes — the order-independent distributed equivalent of
    * reservoir sampling; a top-k per group, never a global sort). */
  val qPipeSample: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .withColumn("hv", hashStr(concat(lit("smp_"), col("doc_id").cast("string"))) % 1000)
        .withColumn("rate",
          when(col("source").isin("src0", "src1", "src2"), lit(500))
            .when(col("source").isin("src3", "src4"), lit(200))
            .otherwise(lit(100)))
        .withColumn("bern", col("hv") < col("rate"))
        .withColumn("res_rank", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
        .withColumn("kept_res", col("res_rank") <= 10)
        .select(col("doc_id"), col("source"), col("hv"), col("bern"),
                col("res_rank"), col("kept_res"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH h AS (SELECT doc_id, source,
                        ${oHash("'smp_' || doc_id")} % 1000 AS hv,
                        CASE WHEN source IN ('src0', 'src1', 'src2') THEN 500
                             WHEN source IN ('src3', 'src4') THEN 200
                             ELSE 100 END AS rate
                 FROM documents)
      SELECT doc_id, source, hv, hv < rate AS bern,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS res_rank,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) <= 10 AS kept_res
      FROM h ORDER BY doc_id"""))

  /** PII redaction with audit counts — the masking pass every training-data
    * pipeline runs before tokenization: regex-replace emails and long digit
    * runs, count what was masked (map-side only, no shuffle). The corpus
    * fixture carries no PII, so the contact string is SYNTHESIZED
    * deterministically from doc_id — identically on both engines — and the
    * operator (global regex replace + regexp_count audit) is what's under
    * test. */
  val qPipeRedact: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("contact user"), col("doc_id"), lit("@example.com ref "),
                 (col("doc_id") * 7917) % 10000, lit(" "),
                 substring(col("text"), 1, 40)).as("raw"))
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("raw"), "[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
            "[0-9]{3,}", "<NUM>").as("redacted"),
          expr("regexp_count(raw, '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+')").as("n_emails"),
          expr("regexp_count(regexp_replace(raw, '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+', '<EMAIL>'), '[0-9]{3,}')").as("n_nums"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH raw AS (
        SELECT doc_id,
               'contact user' || doc_id || '@example.com ref ' ||
               (doc_id * 7917) % 10000 || ' ' || substr(text, 1, 40) AS raw
        FROM documents)
      SELECT doc_id,
             regexp_replace(regexp_replace(raw, '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                            '[0-9]{3,}', '<NUM>', 'g') AS redacted,
             CAST(len(regexp_extract_all(raw, '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(
               regexp_replace(raw, '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
               '[0-9]{3,}')) AS INT) AS n_nums
      FROM raw ORDER BY doc_id"""))

  /** Benchmark decontamination — flag training documents sharing ≥20% of
    * their 3-gram shingles with ANY held-out benchmark document (the
    * n-gram-overlap decontamination step of real LLM data pipelines;
    * sources src15-19 act as the benchmark suite). Inverted-index join on
    * the shingle hash (never corpus×corpus), per-pair overlap counted with
    * map-side partial agg, argmax benchmark doc by (overlap, min id). */
  val qPipeDecontaminate: Q = Q(
    run = (s, dir) => {
      val d = docs(s, dir)
      def sh(sub: org.apache.spark.sql.DataFrame) =
        PipelineQueries.shingledOf(sub).select(col("doc_id"), hashStr(col("sh")).as("shid"))
      val train = sh(d.filter(!col("source").rlike("^src1[5-9]$")))
      val bench = sh(d.filter(col("source").rlike("^src1[5-9]$")))
        .withColumnRenamed("doc_id", "bench_id")
      val tsz = train.groupBy(col("doc_id")).agg(count(lit(1)).as("tsz"))
      val overlap = train.join(bench, "shid")
        .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("inter"))
      overlap.join(tsz, "doc_id")
        .filter(col("inter") * 5 >= col("tsz"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("inter").desc, col("bench_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("bench_id"), col("inter"), col("tsz"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH sh AS (${PipelineQueries.oShinglesSql}),
      t AS (SELECT sh.doc_id, sh.sh FROM sh JOIN documents d ON d.doc_id = sh.doc_id
            WHERE NOT regexp_matches(d.source, '^src1[5-9]$$')),
      b AS (SELECT sh.doc_id AS bench_id, sh.sh FROM sh JOIN documents d ON d.doc_id = sh.doc_id
            WHERE regexp_matches(d.source, '^src1[5-9]$$')),
      tsz AS (SELECT doc_id, COUNT(*) AS tsz FROM t GROUP BY 1),
      ov AS (SELECT t.doc_id, b.bench_id, COUNT(*) AS inter
             FROM t JOIN b ON t.sh = b.sh GROUP BY 1, 2)
      SELECT doc_id, bench_id, inter, tsz FROM (
        SELECT ov.doc_id, ov.bench_id, ov.inter, tsz.tsz,
               row_number() OVER (PARTITION BY ov.doc_id ORDER BY ov.inter DESC, ov.bench_id) AS rn
        FROM ov JOIN tsz ON tsz.doc_id = ov.doc_id
        WHERE ov.inter * 5 >= tsz.tsz) x
      WHERE rn = 1
      ORDER BY doc_id"""))

  /** Unigram LM quality score — the perplexity-filter shape (KenLM scoring
    * in real pipelines, a corpus unigram model here): per-doc mean of
    * ln p(word) under the corpus unigram distribution; low scorers are the
    * filter's casualties. Two shuffles total (vocab counts; per-doc mean) —
    * the model side is a (word → count) table joined back on the token,
    * exactly how a sharded LM lookup lands at scale. Each term's log-prob
    * is floor-quantized to micros BEFORE the mean (integer sum DIV count),
    * so distributed reduction order cannot move the result. */
  val qPipeUnigramLm: Q = Q(
    run = (s, dir) => {
      val w = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val counts = w.groupBy(col("w")).agg(count(lit(1)).as("nw"))
      val total = w.agg(count(lit(1)).as("n_total"))
      w.join(counts, "w").crossJoin(broadcast(total))
        .select(col("doc_id"),
          floor(log(col("nw").cast("double") / col("n_total").cast("double")) * 1000000.0)
            .cast("long").as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
             // negate-divide-negate: the sum is NEGATIVE and Spark's DIV
             // truncates toward zero while DuckDB's // floors — on the
             // positive mirror they agree
             expr("CAST(-((-sum(lp)) DIV count(1)) AS BIGINT)").as("lm_score_micro"))
        .withColumn("low_quality", col("lm_score_micro") < -4500000L)
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      counts AS (SELECT w, COUNT(*) AS nw FROM w GROUP BY w),
      tot AS (SELECT COUNT(*) AS n FROM w),
      scored AS (
        SELECT doc_id,
               CAST(FLOOR(ln(CAST(nw AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        FROM w JOIN counts USING (w))
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(-((-SUM(lp)) // COUNT(*)) AS BIGINT) AS lm_score_micro,
             (CAST(-((-SUM(lp)) // COUNT(*)) AS BIGINT) < -4500000) AS low_quality
      FROM scored GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Sequence packing — the concat-then-chunk step that turns filtered
    * documents into fixed-length training sequences (pack docs back-to-back
    * per shard, cut every `seqLen` tokens; docs may span a cut — that is
    * the standard GPT-style packing contract). One window per shard
    * (running token sum ordered by doc_id) — at 100 TB the shard (source)
    * is the partition key, so no global sort ever happens; each task packs
    * its own shard stripe. All-integer arithmetic: positions are exact on
    * both engines. */
  val qPipePack: Q = Q(
    run = (s, dir) => {
      val seqLen = 4096L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum_end", sum(col("n_tokens")).over(w))
        .withColumn("start_pos", col("cum_end") - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("start_pos"),
          expr(s"start_pos DIV $seqLen").as("seq_id"),
          (col("start_pos") % seqLen).as("seq_off"),
          expr(s"(cum_end - 1) DIV $seqLen - start_pos DIV $seqLen + 1").as("n_seqs"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
        FROM t)
      SELECT doc_id, source, n_tokens,
             (cum_end - n_tokens)::BIGINT AS start_pos,
             ((cum_end - n_tokens) // 4096)::BIGINT AS seq_id,
             ((cum_end - n_tokens) % 4096)::BIGINT AS seq_off,
             ((cum_end - 1) // 4096 - (cum_end - n_tokens) // 4096 + 1)::BIGINT AS n_seqs
      FROM c ORDER BY doc_id"""))

  /** TF-IDF keyword extraction — per-document top-3 terms by tf·idf (the
    * keyword/topic-tagging pass of a corpus pipeline). Term frequencies and
    * document frequencies are two hash aggregations (map-side partials);
    * idf is floor-quantized to micros per TERM before the tf multiply, so
    * the per-(doc,term) score is an exact integer and the top-3 window is
    * tie-broken on the term itself — bit-identical on any cluster. */
  val qPipeTfidf: Q = Q(
    run = (s, dir) => {
      val d = docs(s, dir)
      val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      tf.join(df, "w").crossJoin(broadcast(n))
        .withColumn("idf_micro",
          floor(log(col("n_docs").cast("double") / col("df").cast("double")) * 1000000.0)
            .cast("long"))
        .withColumn("score", col("tf") * col("idf_micro"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("w").as("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.w, tf.tf,
               tf.tf * CAST(FLOOR(ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1000000.0) AS BIGINT) AS score
        FROM tf JOIN df ON df.w = tf.w)
      SELECT doc_id, rn, w AS term, tf, score FROM (
        SELECT doc_id, w, tf, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rn
        FROM scored) x
      WHERE rn <= 3 ORDER BY doc_id, rn"""))

  /** Domain-mixture resampling — given a target mixture weight per source,
    * derive the per-source acceptance rate that realizes it (rate ∝
    * weight/count, normalized so the scarcest-relative source keeps
    * everything) and hash-gate each document. The per-source counts are a
    * tiny aggregate broadcast back onto the corpus — one scan + one
    * map-side join at any scale; the keep decision replays exactly on any
    * cluster (md5 gate, no RNG state). All-integer rate arithmetic
    * (permille floors) so both engines agree bit-for-bit. */
  val qPipeMix: Q = Q(
    run = (s, dir) => {
      val d = docs(s, dir)
      val rates = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        .withColumn("w",
          when(col("source").isin("src0", "src1", "src2"), lit(50L))
            .when(col("source").rlike("^src[3-9]$"), lit(30L))
            .otherwise(lit(10L)))
        .withColumn("intensity", expr("w * 1000000000 DIV n_src"))
      val maxInt = rates.agg(max(col("intensity")).as("max_int"))
      val withRate = rates.crossJoin(broadcast(maxInt))
        .withColumn("keep_permille", expr("intensity * 1000 DIV max_int"))
        .select(col("source"), col("n_src"), col("w"), col("keep_permille"))
      d.select(col("doc_id"), col("source"))
        .join(broadcast(withRate), "source")
        .withColumn("hv", hashStr(concat(lit("mix_"), col("doc_id").cast("string"))) % 1000)
        .withColumn("kept", col("hv") < col("keep_permille"))
        .select(col("doc_id"), col("source"), col("n_src"), col("w"),
                col("keep_permille"), col("hv"), col("kept"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH n AS (SELECT source, COUNT(*)::BIGINT AS n_src FROM documents GROUP BY 1),
      r AS (SELECT source, n_src,
                   CASE WHEN source IN ('src0', 'src1', 'src2') THEN 50::BIGINT
                        WHEN regexp_matches(source, '^src[3-9]$$') THEN 30::BIGINT
                        ELSE 10::BIGINT END AS w
            FROM n),
      i AS (SELECT source, n_src, w, w * 1000000000 // n_src AS intensity FROM r),
      k AS (SELECT source, n_src, w,
                   intensity * 1000 // (SELECT MAX(intensity) FROM i) AS keep_permille
            FROM i)
      SELECT d.doc_id, d.source, k.n_src, k.w, k.keep_permille,
             ${oHash("'mix_' || d.doc_id")} % 1000 AS hv,
             ${oHash("'mix_' || d.doc_id")} % 1000 < k.keep_permille AS kept
      FROM documents d JOIN k ON k.source = d.source
      ORDER BY d.doc_id"""))

  /** Int8 embedding quantization — the compression step before shipping
    * embeddings to an ANN index or training shard: symmetric per-vector
    * scale (maxabs/127), elementwise floor-quantize, plus the integer
    * summaries (sum, sum-of-squares, min/max) and an md5 fingerprint of the
    * quantized vector that a downstream consumer would use to verify
    * shards. Map-side only — no shuffle at any scale. The quantized values
    * are exact integers from IEEE-identical double math, so both engines
    * agree bit-for-bit. */
  val qPipeQuantize: Q = Q(
    run = (s, dir) => {
      emb(s, dir)
        .withColumn("maxabs", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .withColumn("qarr", transform(col("embedding"), x =>
          when(col("maxabs") === 0.0, lit(0L))
            .otherwise(floor(x.cast("double") / col("maxabs") * 127.0).cast("long"))))
        .select(col("vec_id"),
          floor(col("maxabs") / 127.0 * 1000000.0).cast("long").as("scale_micro"),
          array_min(col("qarr")).as("qmin"),
          array_max(col("qarr")).as("qmax"),
          aggregate(col("qarr"), lit(0L), (acc, x) => acc + x).as("qsum"),
          aggregate(col("qarr"), lit(0L), (acc, x) => acc + x * x).as("qss"),
          md5(array_join(transform(col("qarr"), _.cast("string")), ",")).as("fp"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT vec_id, MAX(abs(CAST(embedding[d] AS DOUBLE))) AS maxabs
        FROM embeddings, generate_series(1, 64) g(d) GROUP BY vec_id),
      q AS (
        SELECT e.vec_id, d, m.maxabs,
               CASE WHEN m.maxabs = 0 THEN 0::BIGINT
                    ELSE CAST(FLOOR(CAST(e.embedding[d] AS DOUBLE) / m.maxabs * 127.0) AS BIGINT)
               END AS qv
        FROM embeddings e JOIN m ON m.vec_id = e.vec_id, generate_series(1, 64) g(d))
      SELECT vec_id,
             CAST(FLOOR(maxabs / 127.0 * 1000000.0) AS BIGINT) AS scale_micro,
             MIN(qv) AS qmin, MAX(qv) AS qmax,
             SUM(qv)::BIGINT AS qsum, SUM(qv * qv)::BIGINT AS qss,
             md5(string_agg(qv::VARCHAR, ',' ORDER BY d)) AS fp
      FROM q GROUP BY vec_id, maxabs ORDER BY vec_id"""))

  /** Line/paragraph-level dedup signals — the C4/RefinedWeb "drop
    * boilerplate repeated across the corpus" pass: chunk each document
    * into 10-word segments, count corpus-wide occurrences of each segment,
    * report per-document duplicated-segment ratios. One explode + two hash
    * aggregations + one equi-join on the segment — at 100 TB the segment
    * counts are the only shuffled state and shrink with a map-side partial
    * agg; no pairwise comparisons anywhere. */
  val qPipeLineDedup: Q = Q(
    run = (s, dir) => {
      val seg = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(
          transform(sequence(lit(0), ceil(size(col("w")) / 10.0).cast("int") - 1),
            i => array_join(slice(col("w"), i * lit(10) + 1, lit(10)), " "))).as("seg"))
      val counts = seg.groupBy(col("seg")).agg(count(lit(1)).as("occ"))
      seg.join(counts, "seg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segs"),
             sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_segs"))
        .withColumn("dup_permille", expr("n_dup_segs * 1000 DIV n_segs"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      seg AS (SELECT doc_id, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
              FROM (SELECT doc_id, w,
                           unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS i
                    FROM w)),
      c AS (SELECT seg, COUNT(*) AS occ FROM seg GROUP BY 1)
      SELECT s.doc_id, COUNT(*)::BIGINT AS n_segs,
             SUM(CASE WHEN c.occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_segs,
             (SUM(CASE WHEN c.occ > 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*))::BIGINT AS dup_permille
      FROM seg s JOIN c ON c.seg = s.seg
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_redact" -> qPipeRedact,
    "q_pipe_unigram_lm" -> qPipeUnigramLm,
    "q_pipe_pack" -> qPipePack,
    "q_pipe_tfidf" -> qPipeTfidf,
    "q_pipe_mix" -> qPipeMix,
    "q_pipe_quantize" -> qPipeQuantize,
    "q_pipe_line_dedup" -> qPipeLineDedup,
    "q_pipe_decontaminate" -> qPipeDecontaminate,
    "q_pipe_dedup_cluster" -> qPipeDedupCluster,
    "q_pipe_ann_ivf" -> qPipeAnnIvf,
    "q_pipe_repetition" -> qPipeRepetition,
    "q_pipe_sample" -> qPipeSample,
  )
}
