package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-5 pipeline additions, part 3 — the retrieval-side operators a
  * training-data platform runs next to its dedup/curation passes:
  *
  *  - BM25 ranked retrieval (Robertson & Spärck Jones probabilistic
  *    relevance; the lexical-search baseline every RAG/eval harness keeps
  *    alongside embedding ANN): corpus → inverted postings (term → tf per
  *    doc), query terms broadcast onto the postings, per-(query, doc)
  *    additive scores, windowed top-k. One shuffle for the tf agg, one for
  *    the df agg, one keyed join — never query×corpus;
  *  - winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, MOSS):
  *    the local-min-in-window guarantee picks O(2/(w+1)) of k-gram hashes
  *    while still catching every shared substring ≥ w+k-1 tokens — the
  *    edit-robust copy-detection sketch, vs. [[PipelineQueries]]' modular
  *    rolling-hash selection which an adversary shifts away;
  *  - sliding-window chunk generation (fixed window, fixed stride, tail
  *    drop): the pass that turns curated documents into training/RAG
  *    sequences. Pure map-side — sequence + transform + explode, no state.
  */
object Pipeline8Queries {

  /** BM25 top-10 per query (k1=1.2, b=0.75, Lucene-style idf
    * ln((N-df+0.5)/(df+0.5)+1) ≥ 0). Per-term scores are quantized to
    * integer micro-units *before* the per-(query,doc) sum (the corpus-wide
    * dsum convention) so the reduction is exact and shuffle-order-free:
    * idf is floored to a BIGINT once per term, and each posting contributes
    * floor(idf_q·tf·(k1+1)/(tf+k1·(1-b+b·dl/avgdl))) — identical IEEE
    * expression trees on both engines. At 100 TB the postings list is the
    * big side, partitioned by term; the query-term list is a broadcast and
    * the doc-length table joins on the doc key — no query×corpus product.
    *
    * ONE corpus-text pass (r15 scan census, corrected by the hostile
    * leg): df / dl / tot all derive from the (doc, term) -> tf aggregate,
    * so the text column is scanned, split and exploded exactly once and
    * every consumer reads tf's shuffle files via ReuseExchange.
    * Originally dl and st re-read the text column and dfq re-ran the
    * whole explode+aggregate (4 scans, 2 corpus shuffles): the count()
    * consumers referenced no tf column, so ColumnPruning specialized
    * their copy of the aggregate and its exchange no longer matched (the
    * RankSplit.ntileLazy tether class). dl rides the exploded pass as
    * max(size(ws)) — BIT-IDENTICAL to the original size(ws) definition
    * (an earlier dl = sum(tf) spelling was WRONG on hostile input:
    * NULL-text documents explode to zero rows, so they vanished from dl
    * and shrank n_docs — caught by the hostile-fixture leg, 40 score
    * diffs). n_docs therefore comes from a dedicated count of the
    * documents table (metadata-cheap: zero data columns at any scale) —
    * NULL-text docs count toward N but never join postings, exactly the
    * oracle's len(NULL)=NULL / COUNT(*) semantics. The `when(tf >= 1,
    * ...)` / `when(tf >= 0, dl0)` spellings and the `& 0` no-op dl0
    * reference keep every consumer reading BOTH aggregate outputs so
    * pruning cannot specialize any copy; the explicit isNotNull filters
    * (doc_id is the table key, term comes from split — neither is ever
    * null post-explode) pre-plant the join-inferred constraints. All
    * values are unchanged and the oracle text is untouched. */
  val qPipeBm25: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val tfa = t.select(col("doc_id"), size(col("ws")).cast("long").as("dl0"),
          explode(col("ws")).as("term"))
        .filter(col("doc_id").isNotNull && col("term").isNotNull)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl0")).as("dl0"))
      val tf = tfa.select(col("doc_id"), col("term"),
        (col("tf") + (coalesce(col("dl0"), lit(0L)).bitwiseAND(lit(0L)))).as("tf"))
      val dl = tfa.groupBy(col("doc_id"))
        .agg(max(when(col("tf") >= 0, col("dl0"))).as("dl"))
      val nd = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val st = dl.agg(sum(col("dl")).cast("long").as("tot")).crossJoin(broadcast(nd))
      val dfq = tf.groupBy(col("term")).agg(count(when(col("tf") >= 1, 1)).as("df"))
      val q = s.createDataFrame(Seq(
          (0L, "spark window join"), (1L, "customer order filter"),
          (2L, "hash merge sort table"), (3L, "stream batch vector")))
        .toDF("qid", "qtext")
      val qt = q.select(col("qid"), explode(split(col("qtext"), " ")).as("term")).distinct()
      val idfq = floor(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
        * lit(1000000.0)).cast("long")
      val avgdl = col("tot").cast("double") / col("n_docs")
      val contrib = floor(idfq.cast("double") * (col("tf") * lit(2.2))
        / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl)))).cast("long")
      val scored = tf
        .join(broadcast(qt), "term")
        .join(broadcast(dfq.join(broadcast(qt.select("term").distinct()), "term")), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .groupBy(col("qid"), col("doc_id")).agg(sum(contrib).as("score"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM t),
      st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
      tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM
               (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY doc_id, w),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      q(qid, qtext) AS (VALUES (0, 'spark window join'), (1, 'customer order filter'),
                               (2, 'hash merge sort table'), (3, 'stream batch vector')),
      qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
      scored AS (
        SELECT qt.qid, tf.doc_id,
               CAST(SUM(CAST(FLOOR(
                 CAST(CAST(FLOOR(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                      * 1000000.0) AS BIGINT) AS DOUBLE)
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(st.tot AS DOUBLE) / st.n_docs))))
               ) AS BIGINT)) AS BIGINT) AS score
        FROM tf JOIN qt ON qt.term = tf.term
                JOIN dfq ON dfq.term = tf.term
                JOIN dl ON dl.doc_id = tf.doc_id, st
        GROUP BY qt.qid, tf.doc_id)
      SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, score FROM (
        SELECT qid, doc_id, score,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Winnowing fingerprints: word 4-gram hashes, window w=5 — each window
    * of 5 consecutive k-gram hashes contributes its minimum, and the
    * per-document distinct minima are the fingerprint set (guaranteed to
    * share a fingerprint with any document that copies ≥ 8 consecutive
    * words, while keeping ~2/(w+1) of the hashes). The window min is a
    * bounded ROWS frame over the in-document position order — one shuffle
    * on doc_id, state bounded by w. Ref corpus analog: the reference has
    * no winnowing; Schleimer et al. 2003 §2. */
  val qPipeWinnow: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8) // k + w - 1
      val kg = t.select(col("doc_id"), (size(col("ws")) - 3).as("nk"),
          explode(expr("transform(sequence(1, size(ws) - 3), " +
            "i -> struct(i AS pos, concat_ws(' ', slice(ws, i, 4)) AS g))")).as("e"))
        .select(col("doc_id"), col("nk"), col("e.pos").as("pos"), hashStr(col("e.g")).as("h"))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 4)
      kg.withColumn("wmin", min(col("h")).over(wWin))
        .filter(col("pos") <= col("nk") - 4) // full windows only
        .select(col("doc_id"), col("wmin")).distinct()
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_fp"), min(col("wmin")).as("min_fp"), max(col("wmin")).as("max_fp"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      kg AS (SELECT doc_id, len(ws) - 3 AS nk, pe.pos AS pos, ${oHash("pe.g")} AS h FROM (
          SELECT doc_id, ws, unnest(list_transform(generate_series(1, len(ws) - 3),
                  i -> struct_pack(pos := i, g := array_to_string(ws[i:i+3], ' ')))) AS pe
          FROM t)),
      fp AS (SELECT DISTINCT doc_id, wmin FROM (
          SELECT doc_id, nk, pos,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin
          FROM kg) WHERE pos <= nk - 4)
      SELECT doc_id, COUNT(*) AS n_fp, MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
      FROM fp GROUP BY doc_id ORDER BY doc_id"""))

  /** Sliding-window chunking: 32-token windows at stride 24 (8-token
    * overlap), tail chunks under 8 tokens dropped. chunk_idx derives from
    * the start offset so the output is stable under any execution order.
    * Pure map-side (sequence + transform + explode); at 100 TB this is a
    * scan-shaped pass whose output partitioning follows the input. */
  val qPipeChunk: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
      t.select(col("doc_id"), size(col("ws")).as("n"),
          explode(expr("transform(sequence(1, size(ws), 24), " +
            "p -> struct(p AS start, concat_ws(' ', slice(ws, p, 32)) AS ctext))")).as("e"))
        .select(col("doc_id"),
          ((col("e.start") - 1) / 24).cast("long").as("chunk_idx"),
          col("e.start").cast("long").as("start"),
          least(lit(32), col("n") - col("e.start") + 1).cast("long").as("n_tok"),
          hashStr(col("e.ctext")).as("chash"))
        .filter(col("n_tok") >= 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ch AS (SELECT doc_id, len(ws) AS n, pe.start AS start, ${oHash("pe.ctext")} AS chash FROM (
          SELECT doc_id, ws, unnest(list_transform(generate_series(1, len(ws), 24),
                  p -> struct_pack(start := p, ctext := array_to_string(ws[p:p+31], ' ')))) AS pe
          FROM t))
      SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
             CAST(start AS BIGINT) AS start,
             CAST(LEAST(32, n - start + 1) AS BIGINT) AS n_tok, chash
      FROM ch WHERE LEAST(32, n - start + 1) >= 8
      ORDER BY doc_id, chunk_idx"""))

  /** End-to-end passage retrieval (the RAG indexing+query pass): documents
    * → 32-token chunks at stride 24 → deterministic hashed bag-of-words
    * embedding (8 dims, integer components: dim d of a token reads hex
    * chars [4d, 4d+4) of ONE md5 digest, %2001-1000 — the feature-hashing
    * trick with a single hash per token, exact under any add order)
    * → integer dot-product scoring against 3
    * query embeddings → top-3 chunks per query. The chunk-embedding side is
    * map-side generated and shuffles once on the 8 dim keys; the query side
    * is a broadcast; never query×corpus beyond the keyed join. At 100 TB
    * the chunk embedding pass is scan-shaped and the scoring join stays
    * bounded by |chunk-emb rows|·|queries|. */
  val qPipeRagE2e: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val chunks = t.select(col("doc_id"), size(col("ws")).as("n"),
          explode(expr("transform(sequence(1, size(ws), 24), " +
            "p -> struct(p AS start, slice(ws, p, 32) AS cw))")).as("e"))
        .filter(least(lit(32), col("n") - col("e.start") + 1) >= 8)
        .select(col("doc_id"), col("e.start").cast("long").as("start"), col("e.cw").as("cw"))
      // ONE md5 per token; dim d reads hex chars [4d, 4d+4) of the digest —
      // 8× less hashing than a per-(token, dim) hash at identical quality
      val cemb = chunks
        .select(col("doc_id"), col("start"), explode(col("cw")).as("w"))
        .select(col("doc_id"), col("start"), md5(col("w")).as("hh"))
        .select(col("doc_id"), col("start"), col("hh"),
          explode(expr("sequence(0, 7)")).as("d"))
        .groupBy(col("doc_id"), col("start"), col("d"))
        .agg(sum(conv(expr("substring(hh, d * 4 + 1, 4)"), 16, 10).cast("long")
          % 2001 - 1000).as("cv"))
      val q = s.createDataFrame(Seq(
          (0L, "spark window join stream"), (1L, "customer order merge sort"),
          (2L, "hash table scan filter")))
        .toDF("qid", "qtext")
      val qemb = q.select(col("qid"), explode(split(col("qtext"), " ")).as("w"))
        .select(col("qid"), md5(col("w")).as("hh"))
        .select(col("qid"), col("hh"), explode(expr("sequence(0, 7)")).as("d"))
        .groupBy(col("qid"), col("d"))
        .agg(sum(conv(expr("substring(hh, d * 4 + 1, 4)"), 16, 10).cast("long")
          % 2001 - 1000).as("qv"))
      val scored = cemb.join(broadcast(qemb), "d")
        .groupBy(col("qid"), col("doc_id"), col("start"))
        .agg(sum(col("cv") * col("qv")).as("score"))
      scored
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"), col("start"))))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("doc_id"), col("start"), col("score"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ch AS (SELECT doc_id, CAST(pe.start AS BIGINT) AS start, pe.cw AS cw FROM (
          SELECT doc_id, len(ws) AS n, unnest(list_transform(generate_series(1, len(ws), 24),
                  p -> struct_pack(start := p, cw := ws[p:p+31]))) AS pe
          FROM t) WHERE LEAST(32, n - pe.start + 1) >= 8),
      tok AS (SELECT doc_id, start, md5(unnest(cw)) AS hh FROM ch),
      cemb AS (SELECT doc_id, start, d,
                      CAST(SUM(('0x' || substr(hh, CAST(d * 4 + 1 AS INT), 4))::BIGINT
                          % 2001 - 1000) AS BIGINT) AS cv FROM (
          SELECT doc_id, start, hh, unnest(generate_series(0, 7)) AS d FROM tok)
        GROUP BY doc_id, start, d),
      q(qid, qtext) AS (VALUES (0, 'spark window join stream'),
                               (1, 'customer order merge sort'),
                               (2, 'hash table scan filter')),
      qtok AS (SELECT qid, md5(unnest(string_split(qtext, ' '))) AS hh FROM q),
      qemb AS (SELECT qid, d, CAST(SUM(('0x' || substr(hh, CAST(d * 4 + 1 AS INT), 4))::BIGINT
                                  % 2001 - 1000) AS BIGINT) AS qv FROM (
          SELECT qid, hh, unnest(generate_series(0, 7)) AS d FROM qtok)
        GROUP BY qid, d),
      scored AS (SELECT qemb.qid, cemb.doc_id, cemb.start,
                        CAST(SUM(cemb.cv * qemb.qv) AS BIGINT) AS score
                 FROM cemb JOIN qemb ON qemb.d = cemb.d
                 GROUP BY qemb.qid, cemb.doc_id, cemb.start)
      SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, start, score FROM (
        SELECT qid, doc_id, start, score,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc_id, start) AS rank
        FROM scored)
      WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Count-min-sketch heavy hitters: the corpus folds into a FIXED 4×256
    * counter table (one shuffle of at most 1024 keyed partials — the
    * mergeable-sketch contract: partials from any number of executors sum
    * into the same table), then candidate terms read their min-over-rows
    * estimate back from the broadcast sketch. Deterministic row hashes (md5
    * slices) make the sketch bit-identical on any engine — the oracle
    * rebuilds the same table in SQL, so estimates (INCLUDING collision
    * inflation) match exactly. Candidates = terms with exact count ≥ 200;
    * output compares estimate vs exact (est ≥ exact always; equality iff
    * no row collides). At 100 TB the sketch stays 4×256 longs while the
    * exact top-k would shuffle the full vocabulary. */
  val qPipeCmsHitters: Q = Q(
    run = (s, dir) => {
      val tok = docs(s, dir).select(explode(split(col("text"), " ")).as("w"))
        .select(col("w"), md5(col("w")).as("hh"))
      // row r counter index = hex chars [4r, 4r+4) of md5(w), mod 256
      val cells = tok
        .select(col("w"), explode(expr("sequence(0, 3)")).as("r"),
          col("hh"))
        .select(col("w"), col("r"),
          (conv(expr("substring(hh, r * 4 + 1, 4)"), 16, 10).cast("long") % 256).as("c"))
      val sketch = cells.groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
      val exact = tok.groupBy(col("w")).agg(count(lit(1)).as("exact"))
        .filter(col("exact") >= 200)
      val cand = exact
        .select(col("w"), col("exact"), md5(col("w")).as("hh"))
        .select(col("w"), col("exact"), explode(expr("sequence(0, 3)")).as("r"), col("hh"))
        .select(col("w"), col("exact"), col("r"),
          (conv(expr("substring(hh, r * 4 + 1, 4)"), 16, 10).cast("long") % 256).as("c"))
      cand.join(broadcast(sketch), Seq("r", "c"))
        .groupBy(col("w"), col("exact")).agg(min(col("cnt")).as("est"))
        .select(col("w"), col("exact"), col("est"), (col("est") - col("exact")).as("overcount"))
        .orderBy(col("w"))
    },
    oracle = Some("""
      WITH tok AS (SELECT md5(w) AS hh, w FROM
          (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
      cells AS (SELECT w, r, ('0x' || substr(hh, CAST(r * 4 + 1 AS INT), 4))::BIGINT % 256 AS c
                FROM (SELECT w, hh, unnest(generate_series(0, 3)) AS r FROM tok)),
      sketch AS (SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY r, c),
      exact AS (SELECT w, COUNT(*) AS exact FROM tok GROUP BY w HAVING COUNT(*) >= 200),
      cand AS (SELECT e.w, e.exact, ce.r, ce.c FROM exact e JOIN (
                 SELECT DISTINCT w, r, c FROM cells) ce ON ce.w = e.w)
      SELECT cand.w AS w, cand.exact, MIN(sketch.cnt) AS est,
             MIN(sketch.cnt) - cand.exact AS overcount
      FROM cand JOIN sketch ON sketch.r = cand.r AND sketch.c = cand.c
      GROUP BY cand.w, cand.exact ORDER BY w"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_bm25" -> qPipeBm25,
    "q_pipe_winnow" -> qPipeWinnow,
    "q_pipe_chunk" -> qPipeChunk,
    "q_pipe_rag_e2e" -> qPipeRagE2e,
    "q_pipe_cms_hitters" -> qPipeCmsHitters,
  )
}
