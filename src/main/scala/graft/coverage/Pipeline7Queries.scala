package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-5 pipeline additions, part 2 — the four remaining mechanisms a
  * 100 TB pretraining pipeline runs that the corpus did not yet cover:
  *
  *  - exact repeated-SUBSTRING dedup (the suffix-array pass of Lee et al.
  *    2022, "Deduplicating Training Data Makes Language Models Better"),
  *    re-expressed as a shingle-position inverted index + per-doc interval
  *    merge — no suffix array, no pairwise scan;
  *  - cross-corpus dedup behind a BLOOM prefilter (the "have we trained on
  *    this before" gate): the prior corpus is compressed to a bloom sketch
  *    that rides a broadcast, and only might-contain candidates reach the
  *    exact-confirm join, so the shuffled side is |true dups| + fpp·|new|;
  *  - BPE merge TRAINING (Sennrich et al. 2016): the corpus is reduced once
  *    to the word-frequency dictionary, then each merge round is a
  *    vocab-table pass + a 1-row argmax — the classic trainer loop, with
  *    the driver holding only the merge table (the GraphOps iteration
  *    contract);
  *  - k-means curation clustering (2 Lloyd iterations) in EXACT integer
  *    micro-unit math, so assignment and centroid update are bit-stable
  *    under any aggregation order — the cluster ids that SemDeDup-style
  *    selection and domain balancing consume upstream.
  */
object Pipeline7Queries {

  /** Exact repeated-substring spans: every word 8-gram that occurs in ≥2
    * documents marks its [pos, pos+8) span; overlapping/adjacent spans merge
    * per document (the lag-free island trick: a span opens an island iff its
    * start exceeds the running max end). The reference pass builds a suffix
    * array over the concatenated corpus (ref: flink has no analog; Lee et
    * al. §4); the Spark-first shape is an inverted index keyed by shingle
    * hash — the only shuffles are the shingle-hash agg + join and the
    * per-doc window, all linear in corpus size, never pairwise. */
  val qPipeSpanDedup: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
      val sh = t.select(col("doc_id"),
          explode(expr("transform(sequence(1, size(ws) - 7), " +
            "i -> struct(i AS pos, concat_ws(' ', slice(ws, i, 8)) AS sh))")).as("e"))
        .select(col("doc_id"), col("e.pos").as("pos"), hashStr(col("e.sh")).as("h"))
      // cross-doc duplication test as ONE pass over the inverted index:
      // a shingle hash is shared by ≥2 docs iff min(doc) ≠ max(doc) in its
      // hash partition — no countDistinct agg, no join-back, one shuffle
      val byHash = Window.partitionBy(col("h"))
      val hits = sh
        .withColumn("dmin", min(col("doc_id")).over(byHash))
        .withColumn("dmax", max(col("doc_id")).over(byHash))
        .filter(col("dmin") =!= col("dmax"))
        .select(col("doc_id"), col("pos"))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val prevEnd = max(col("pos") + 8).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      val spans = hits
        .withColumn("ni", when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
        .withColumn("g", sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("g"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + 8).as("e"))
      spans.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_spans"),
          sum(col("e") - col("s")).cast("long").as("dup_words"),
          min(col("s")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT doc_id, pe.pos AS pos, ${oHash("pe.sh")} AS h FROM (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
                  i -> struct_pack(pos := i, sh := array_to_string(ws[i:i+7], ' ')))) AS pe
          FROM t WHERE len(ws) >= 8)),
      dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (h)),
      isl AS (SELECT doc_id, pos,
              CASE WHEN MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR pos > MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni FROM hits),
      grp AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g FROM isl),
      spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + 8 AS e FROM grp GROUP BY doc_id, g)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s) AS BIGINT) AS dup_words,
             CAST(MIN(s) AS BIGINT) AS first_pos
      FROM spans GROUP BY doc_id ORDER BY doc_id"""))

  /** Cross-corpus dedup with a bloom prefilter: the "prior" corpus
    * (src0–src9) is sketched into a bloom filter (a distributed aggregate —
    * each partition builds a sketch, merge is a bitwise OR, so the result is
    * deterministic and fits the driver at any corpus size: ~1.2 GB holds
    * 1e9 keys at 1% fpp). Incoming docs (src10+) that the bloom rejects are
    * proven-new without touching a join; only might-contain candidates are
    * exact-confirmed against the prior keys, which removes the false
    * positives — the output is exact regardless of fpp. At 100 TB this is
    * the difference between shuffling the full new corpus and shuffling
    * ~|dups|. The bloom gate is a broadcast-riding scalar (a UDF here; the
    * native analog is the runtime-filter `might_contain` Spark injects for
    * join pruning). */
  val qPipeBloomDedup: Q = Q(
    run = (s, dir) => {
      val d = docs(s, dir)
        // null text → null sig (see q_pipe_dedup_exact): the bloom probe
        // and the oracle's equi-join then both report is_dup = false
        .withColumn("sig", when(col("text").isNull, lit(null: String))
          .otherwise(md5(concat_ws(" ", slice(split(col("text"), " "), 1, 10)))))
        .withColumn("sn", substring(col("source"), 4, 10).cast("int"))
      val prior = d.filter(col("sn") < 10).select(col("sig"))
      val incoming = d.filter(col("sn") >= 10).select(col("doc_id"), col("source"), col("sig"))
      // expectedNumItems would be estimated from prior-corpus row counts in
      // production; a fixed over-estimate keeps the sketch deterministic here
      val bf = prior.stat.bloomFilter("sig", 100000L, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val might = udf((x: String) => x != null && bfB.value.mightContainString(x))
      val pri = prior.distinct()
      val miss = incoming.filter(!might(col("sig")))
        .select(col("doc_id"), col("source"), lit(false).as("is_dup"))
      val flagged = incoming.filter(might(col("sig")))
        .join(pri.withColumn("hit", lit(true)), Seq("sig"), "left")
        .select(col("doc_id"), col("source"), coalesce(col("hit"), lit(false)).as("is_dup"))
      miss.union(flagged).orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH d AS (SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS sn,
                 md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS sig FROM documents),
      p AS (SELECT DISTINCT sig FROM d WHERE sn < 10)
      SELECT i.doc_id, i.source, (p.sig IS NOT NULL) AS is_dup
      FROM (SELECT * FROM d WHERE sn >= 10) i LEFT JOIN p ON i.sig = p.sig
      ORDER BY i.doc_id"""))

  /** BPE merge training, 5 rounds: reduce the corpus ONCE to the
    * word-frequency dictionary, then each round counts adjacent token pairs
    * weighted by word frequency, picks the argmax pair (tie-break: pair
    * string — deterministic), and merges it greedily left-to-right (padded
    * `replace` has exactly BPE's non-overlapping left-to-right semantics:
    * "a a a" + merge(a,a) → "aa a"). The driver holds only the merge table
    * (5 rows) — the same bounded-driver-state contract as the GraphOps
    * convergence loop; the vocab table (≤ millions of rows at 100 TB, vs
    * billions of corpus rows) would be checkpointed between rounds at scale.
    * Output: the final token inventory with corpus frequencies and the
    * round that minted each merged token. */
  /** Shared by q_pipe_bpe_train and q_pipe_tokenize_pack: run the 5-round
    * merge loop over the persisted word-frequency dict, returning the final
    * (word, cnt, tokstr) vocabulary and the merge table in order. */
  private def bpeFit(s: SparkSession, dir: String): (DataFrame, Seq[String]) = {
    // the word-freq dict is the trainer's working set (vocab-sized, not
    // corpus-sized) — materialize it once so the 5 argmax rounds and the
    // final tokenized inventory never rescan the corpus (1 corpus pass
    // total; at 100 TB this cache is the checkpointed dict)
    val base = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("tokstr", trim(regexp_replace(col("word"), "(.)", "$1 ")))
      .persist()
    var vocab = base
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 1 to 5) {
      val best = vocab
        .withColumn("ts", split(col("tokstr"), " "))
        .filter(size(col("ts")) >= 2)
        .select(col("cnt"), explode(expr(
          "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .collect()(0).getString(0)
      merges += best
      val merged = best.replace(" ", "")
      vocab = vocab.withColumn("tokstr",
        trim(expr(s"replace(concat(' ', tokstr, ' '), ' $best ', ' $merged ')")))
    }
    (vocab, merges.toSeq)
  }

  /** Oracle CTE chain `w, v0, p1..b1..v1, …, p5..b5..v5` — the SQL twin of
    * [[bpeFit]], ending at the final vocabulary `v5(word, cnt, tokstr)`. */
  private def oBpeRound(r: Int): String = {
    val p = r - 1
    s"""
      p$r AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT cnt, unnest(list_transform(generate_series(1, len(ts) - 1),
                                          i -> ts[i] || ' ' || ts[i + 1])) AS pair
        FROM (SELECT cnt, string_split(tokstr, ' ') AS ts FROM v$p)) GROUP BY pair),
      b$r AS (SELECT pair FROM p$r ORDER BY c DESC, pair LIMIT 1),
      v$r AS (SELECT word, cnt,
        trim(replace(' ' || tokstr || ' ',
                     ' ' || (SELECT pair FROM b$r) || ' ',
                     ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ')) AS tokstr FROM v$p)"""
  }
  private def oBpeV5Ctes: String = s"""w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      v0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
             trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS tokstr
             FROM w WHERE word <> '' GROUP BY word),
      ${(1 to 5).map(oBpeRound).mkString(",")}"""

  val qPipeBpeTrain: Q = Q(
    run = (s, dir) => {
      val (vocab, merges) = bpeFit(s, dir)
      val mergedToks = merges.map(_.replace(" ", ""))
      val roundOf = mergedToks.zipWithIndex.reverse.foldLeft(lit(0)) {
        case (acc, (tok, i)) => when(col("token") === tok, i + 1).otherwise(acc)
      }
      vocab.select(col("cnt"), explode(split(col("tokstr"), " ")).as("token"))
        .groupBy(col("token")).agg(sum(col("cnt")).cast("long").as("total"))
        .withColumn("merge_round", roundOf)
        .orderBy(col("token"))
    },
    oracle = Some(s"""
      WITH $oBpeV5Ctes,
      toks AS (SELECT t AS token, CAST(SUM(cnt) AS BIGINT) AS total FROM (
        SELECT cnt, unnest(string_split(tokstr, ' ')) AS t FROM v5) GROUP BY t)
      SELECT token, total,
        CASE token
          WHEN (SELECT replace(pair, ' ', '') FROM b5) THEN 5
          WHEN (SELECT replace(pair, ' ', '') FROM b4) THEN 4
          WHEN (SELECT replace(pair, ' ', '') FROM b3) THEN 3
          WHEN (SELECT replace(pair, ' ', '') FROM b2) THEN 2
          WHEN (SELECT replace(pair, ' ', '') FROM b1) THEN 1
          ELSE 0 END AS merge_round
      FROM toks ORDER BY token"""))

  /** K-means over embeddings, k=4, 2 Lloyd iterations, EXACT integer math:
    * each coordinate is quantized to micro-units (floor ·1e6 → BIGINT), so
    * squared distances, argmin tie-breaks, per-dimension centroid sums and
    * the floor-divided centroid update are all bit-stable regardless of
    * shuffle/aggregation order — no float drift between engines or between
    * cluster runs. Centroids (4×64 longs) broadcast both rounds; the
    * centroid update is a posexplode → (cid, dim) hash agg → array rebuild,
    * i.e. two narrow aggregates over dim·n rows — nothing pairwise. Seeds
    * are the first k vectors (deterministic; k-means‖ sampling would slot in
    * here at scale without changing the loop). */
  val qPipeKmeans: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("qe"))
      def dist2: Column = expr(
        "aggregate(zip_with(qe, ce, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val c0 = broadcast(e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("long").as("cid"), col("qe").as("ce")))
      val byDist = Window.partitionBy(col("vec_id")).orderBy(col("dd"), col("cid"))
      val a1 = e.crossJoin(c0).withColumn("dd", dist2)
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("qe"))
      val c1 = broadcast(a1
        .select(col("cid"), posexplode(col("qe")).as(Seq("d", "v")))
        .groupBy(col("cid"), col("d")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", floor(col("sv").cast("double") / col("n")).cast("long"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(d, cv))), p -> p.cv)").as("ce")))
      e.crossJoin(c1).withColumn("dd", dist2)
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("dd").as("d2"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
             FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, qe AS ce FROM e WHERE vec_id < 4),
      a1 AS (SELECT vec_id, cid, qe FROM (
        SELECT e.vec_id, c0.cid, e.qe,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   d -> (e.qe[d] - c0.ce[d]) * (e.qe[d] - c0.ce[d]))) ASC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      cs AS (SELECT cid, d, CAST(SUM(qe[d]) AS BIGINT) AS sv, COUNT(*) AS n
             FROM a1, generate_series(1, 64) g(d) GROUP BY cid, d),
      c1 AS (SELECT cid, list(CAST(FLOOR(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY d) AS ce
             FROM cs GROUP BY cid),
      a2 AS (SELECT vec_id, cid, d2 FROM (
        SELECT e.vec_id, c1.cid,
               list_sum(list_transform(generate_series(1, 64),
                 d -> (e.qe[d] - c1.ce[d]) * (e.qe[d] - c1.ce[d]))) AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   d -> (e.qe[d] - c1.ce[d]) * (e.qe[d] - c1.ce[d]))) ASC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1)
      SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2 FROM a2 ORDER BY vec_id"""))

  /** Product-quantization ANN (Jégou et al. 2011): 64 dims → 8 subspaces
    * of 8; per-subspace codebook (k=4, deterministic seeds = the first 4
    * vectors' subvectors); every corpus vector compresses to 8 two-bit
    * codes (the 100 TB story: 256 floats of payload become 8 bytes, and
    * the ADC scan touches only codes); queries build exact
    * query-to-centroid distance tables (10 queries × 8 subs × 4 codes =
    * 320 rows, broadcast), and asymmetric-distance top-5 is a broadcast
    * hash join on (sub, code) + a per-candidate sum — linear in corpus
    * size, no full-vector math after encoding. All distances in micro-unit
    * integer space → bit-stable ranking. */
  val qPipeAnnPq: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("qe"))
      val sv = e.select(col("vec_id"),
          explode(expr("transform(sequence(0, 7), s -> struct(s AS sub, slice(qe, s*8+1, 8) AS sv))")).as("p"))
        .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))
      val cb = broadcast(sv.filter(col("vec_id") < 4)
        .select(col("sub"), col("vec_id").cast("long").as("code"), col("sv").as("cv")))
      def subDist: Column = expr(
        "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val bySubDist = Window.partitionBy(col("vec_id"), col("sub")).orderBy(col("dd"), col("code"))
      val codes = sv.join(cb, Seq("sub")).withColumn("dd", subDist)
        .withColumn("rn", row_number().over(bySubDist)).filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("code"))
      val qt = broadcast(sv.filter(col("vec_id") < 10).join(cb, Seq("sub"))
        .withColumn("dq", subDist)
        .select(col("vec_id").as("qid"), col("sub"), col("code"), col("dq")))
      val topk = Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid"))
      codes.join(qt, Seq("sub", "code")).filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id").as("cid")).agg(sum(col("dq")).cast("long").as("adc"))
        .withColumn("rn", row_number().over(topk)).filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("cid"), col("adc"))
        .orderBy(col("qid"), col("rn"))
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
             FROM embeddings),
      sv AS (SELECT vec_id, p.s AS sub, p.sv AS sv FROM (
          SELECT vec_id, unnest(list_transform(generate_series(0, 7),
                  s -> struct_pack(s := s, sv := qe[s*8+1:s*8+8]))) AS p FROM e)),
      cb AS (SELECT sub, CAST(vec_id AS BIGINT) AS code, sv AS cv FROM sv WHERE vec_id < 4),
      codes AS (SELECT vec_id, sub, code FROM (
          SELECT sv.vec_id, sv.sub, cb.code,
                 row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
                   list_sum(list_transform(generate_series(1, 8),
                     d -> (sv.sv[d] - cb.cv[d]) * (sv.sv[d] - cb.cv[d]))) ASC, cb.code) AS rn
          FROM sv JOIN cb ON sv.sub = cb.sub) WHERE rn = 1),
      qt AS (SELECT sv.vec_id AS qid, sv.sub, cb.code,
                    list_sum(list_transform(generate_series(1, 8),
                      d -> (sv.sv[d] - cb.cv[d]) * (sv.sv[d] - cb.cv[d]))) AS dq
             FROM sv JOIN cb ON sv.sub = cb.sub WHERE sv.vec_id < 10),
      adc AS (SELECT qt.qid, codes.vec_id AS cid, CAST(SUM(dq) AS BIGINT) AS adc
              FROM codes JOIN qt ON codes.sub = qt.sub AND codes.code = qt.code
              WHERE codes.vec_id <> qt.qid GROUP BY 1, 2)
      SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid) AS rn, cid, adc
      FROM adc QUALIFY rn <= 5 ORDER BY qid, rn"""))

  /** The STREAMING form of MinHash-LSH dedup: documents arrive in ordered
    * micro-batches as their 4 (band, bkey) rows; the per-bucket keep-first
    * state ([[graft.streaming.StreamOps.streamingLshDedup]]) claims each
    * bucket for its smallest doc_id, and a document is a duplicate iff ANY
    * of its buckets was claimed earlier. With arrival ordered by doc_id the
    * materialized verdicts equal the BATCH banded dedup exactly — which is
    * what the oracle computes (bands/pairs CTEs shared with
    * q_pipe_minhash_lsh). The continuous-ingestion dedup a training-data
    * feed runs: per document only 4 small keyed rows shuffle, state is one
    * long per live bucket. */
  val qStreamMinhashDedup: Q = Q(
    run = (s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.StreamOps
      val bands = PipelineQueries.minhashBands(s, dir)
      // fixture staging: split into two ordered halves by doc_id (the
      // arrival-order contract that makes keep-first == smallest-id)
      val thr = bands.agg(max(col("doc_id"))).collect()(0).get(0)
        .asInstanceOf[Number].longValue / 2
      val stream = StreamOps.replay(s, "mhdedup", dir, Seq(
        bands.filter(col("doc_id") <= thr), bands.filter(col("doc_id") > thr)))
      val claims = StreamOps.runToMemory(
        s, StreamOps.streamingLshDedup(s, stream), OutputMode.Append())
      claims.groupBy(col("doc_id")).agg(max(col("dup_band")).as("is_dup"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH ${PipelineQueries.oMinhashCtes},
      dups AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
      base AS (SELECT DISTINCT doc_id FROM bands)
      SELECT base.doc_id, (dups.doc_id IS NOT NULL) AS is_dup
      FROM base LEFT JOIN dups ON base.doc_id = dups.doc_id
      ORDER BY base.doc_id"""))

  /** The continuous-ingestion CORPUS PIPELINE in one streaming query —
    * language filter → quality gate → exact dedup → MinHash near-dup gate
    * (the streaming form of q_pipe_e2e_c4's funnel):
    *
    *  - every per-document feature is computed STATELESSLY on the single
    *    doc row — the 16 minhashes are `array_min` over the shingle-hash
    *    array (no groupBy: a doc IS one row), so the whole prep is
    *    map-side expressions feeding ONE stateful operator;
    *  - exact dedup folds into the LSH gate as a pseudo-band (band −1,
    *    bkey = the first-10-words md5) — 5 keyed claim rows per doc, one
    *    keep-first long per live bucket ([[graft.streaming.StreamOps
    *    .streamingLshDedup]]);
    *  - semantics are dup-against-HISTORY (every arrival claims its
    *    buckets, kept or dropped): a doc near-dup of an already-dropped
    *    arrival is still a near-dup — the semantics a feed dedup wants,
    *    and exactly what the oracle's smaller-doc-exists SQL computes.
    *
    * Verdict per gate-passing doc: exact_dup / near_dup / kept. */
  val qStreamE2eCorpus: Q = Q(
    run = (s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.StreamOps
      val p = 2147483647L
      val prepped = docs(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .filter(col("lang") === "en" && size(col("ws")).between(20, 80))
        .withColumn("sig", md5(concat_ws(" ", slice(col("ws"), 1, 10))))
        .withColumn("h0s", expr(
          s"""transform(sequence(1, size(ws) - 2),
                i -> CAST(conv(substring(md5(concat_ws(' ',
                       element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))),
                     1, 15), 16, 10) AS BIGINT) % $p)"""))
        .withColumn("mh", expr(
          s"""transform(sequence(0, 15),
                sd -> array_min(transform(h0s, h -> (h * (2 * sd + 1) + sd * 12345 + 7) % $p)))"""))
        .select(col("doc_id"), col("sig"),
          explode(expr(
            """concat(array(struct(-1 AS band, sig AS bkey)),
                 transform(sequence(0, 3), b -> struct(CAST(b AS INT) AS band,
                   md5(concat_ws(',', element_at(mh, b * 4 + 1), element_at(mh, b * 4 + 2),
                                 element_at(mh, b * 4 + 3), element_at(mh, b * 4 + 4))) AS bkey)))""")).as("br"))
        .select(col("doc_id"), col("br.band").as("band"), col("br.bkey").as("bkey"))
      val thr = prepped.agg(max(col("doc_id"))).collect()(0).get(0)
        .asInstanceOf[Number].longValue / 2
      val stream = StreamOps.replay(s, "e2ecorpus", dir, Seq(
        prepped.filter(col("doc_id") <= thr), prepped.filter(col("doc_id") > thr)))
      val claims = StreamOps.runToMemory(
        s, StreamOps.streamingLshDedup(s, stream), OutputMode.Append())
      claims.groupBy(col("doc_id")).agg(
          max(col("band") === -1 && col("dup_band")).as("e"),
          max(col("band") >= 0 && col("dup_band")).as("n"))
        .select(col("doc_id"), col("e").as("exact_dup"),
          (!col("e") && col("n")).as("near_dup"),
          (!col("e") && !col("n")).as("kept"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH g AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                 WHERE lang = 'en' AND len(string_split(text, ' ')) BETWEEN 20 AND 80),
      sigs AS (SELECT doc_id, md5(array_to_string(ws[1:10], ' ')) AS sig FROM g),
      sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
             FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM g)),
      sig16 AS (SELECT doc_id, seed,
                  min(((seed * 2 + 1) * (${oHash("sh")} % 2147483647) + seed * 12345 + 7) % 2147483647) AS mh
                FROM sh CROSS JOIN generate_series(0, 15) g2(seed) GROUP BY doc_id, seed),
      bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                  md5(min(CASE WHEN seed % 4 = 0 THEN mh END) || ',' ||
                      min(CASE WHEN seed % 4 = 1 THEN mh END) || ',' ||
                      min(CASE WHEN seed % 4 = 2 THEN mh END) || ',' ||
                      min(CASE WHEN seed % 4 = 3 THEN mh END)) AS bkey
                FROM sig16 GROUP BY 1, 2),
      allb AS (SELECT doc_id, -1 AS band, sig AS bkey FROM sigs
               UNION ALL SELECT doc_id, band, bkey FROM bands),
      dup AS (SELECT DISTINCT b.doc_id, b.band FROM allb a JOIN allb b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      flags AS (SELECT doc_id, MAX(CASE WHEN band = -1 THEN 1 ELSE 0 END) AS e,
                       MAX(CASE WHEN band >= 0 THEN 1 ELSE 0 END) AS n FROM dup GROUP BY doc_id)
      SELECT g.doc_id, (COALESCE(e, 0) = 1) AS exact_dup,
             (COALESCE(e, 0) = 0 AND COALESCE(n, 0) = 1) AS near_dup,
             (COALESCE(e, 0) = 0 AND COALESCE(n, 0) = 0) AS kept
      FROM g LEFT JOIN flags ON g.doc_id = flags.doc_id ORDER BY g.doc_id"""))

  /** PPJoin-style prefix-filtered set-similarity join, oracle-gated —
    * word-5-gram sets driven through
    * [[graft.operators.SetSimJoin.jaccardSelfJoin]]. The prefix filter is
    * LOSSLESS (any J ≥ t pair shares an element in the first
    * ⌊(1−t)·|A|⌋+1 under the rarest-first canonical order), so the result
    * hash-matches the exact naive oracle — the proof the spec previously
    * asserted, now on the driver's cross-engine gate. 5-grams give the
    * diverse token space the design assumes (the fixture's deliberately
    * tiny 3-gram vocab floods ANY prefix index with stop-shingle
    * collisions; at 5-gram diversity the candidate set equals the true
    * near-dup pairs EXACTLY — 255/255 at sf0.1 — the sub-quadratic scale
    * story in its purest form). */
  val qPipePpjoin: Q = Q(
    run = (s, dir) => {
      val d = docs(s, dir)
      // no stop-shingle cap needed at 5-gram diversity (max df = 4 at
      // sf0.1) — the set table is a pure map-side explode + hash, so the
      // operator's multiple passes over it stay shuffle-free until its own
      // aggregates
      // materialized once: the operator scans the set table 5× (sizes, DF,
      // prefix, both intersection legs) and the 5-gram build (string
      // assembly + dedup + md5) is the CPU cost — 16-byte (doc, hash) rows
      // in memory, the checkpointed token index at 100 TB
      val sets = d.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"))).as("sh"))
        .select(col("doc_id"), hashStr(col("sh")).as("shid"))
        .persist()
      graft.operators.SetSimJoin.jaccardSelfJoin(sets, 0.8)
        .orderBy(col("d1"), col("d2"))
    },
    oracle = Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 5)),
      sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT d1, d2, inter,
             CAST(inter AS DOUBLE) / CAST(s1.s + s2.s - inter AS DOUBLE) AS jac
      FROM pr JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
      WHERE CAST(inter AS DOUBLE) / CAST(s1.s + s2.s - inter AS DOUBLE) >= 0.8
      ORDER BY d1, d2"""))

  /** Model-based quality scoring — the fastText-style linear classifier
    * family (the GPT-3 quality filter / FineWeb-Edu classifier shape,
    * complementing rule-based q_pipe_gopher_gate and perplexity-based
    * q_pipe_ccnet_bucket): unigram + word-bigram features hash into 128
    * buckets, each bucket carries a fixed md5-derived integer weight
    * (micro-units, the stand-in for trained coefficients), and the
    * document score is the feature-weight sum — logistic is monotone, so
    * thresholding the raw integer sum IS the classifier decision. Wholly
    * map-side: features explode per doc, the weight is an inline
    * expression (no table, no join), one hash agg — at 100 TB the scoring
    * pass costs one corpus scan. */
  val qPipeQualityClf: Q = Q(
    run = (s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val feats = t.select(col("doc_id"), explode(expr(
        "concat(ws, zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> concat(a, '_', b)))")).as("f"))
      val w = (hashStr(concat(lit("w_"), (hashStr(col("f")) % 128).cast("string"))) % 2001) - 1000
      feats.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(w).cast("long").as("score_micro"))
        .withColumn("kept", col("score_micro") >= -6000)
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      feats AS (
        SELECT doc_id, f FROM (
          SELECT doc_id, unnest(ws) AS f FROM t
          UNION ALL
          SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                                               i -> ws[i] || '_' || ws[i + 1])) AS f FROM t)),
      sc AS (SELECT doc_id, COUNT(*) AS n_feats,
               CAST(SUM((${oHash(s"'w_' || (${oHash("f")} % 128)")} % 2001) - 1000) AS BIGINT) AS score_micro
             FROM feats GROUP BY doc_id)
      SELECT doc_id, n_feats, score_micro, (score_micro >= -6000) AS kept
      FROM sc ORDER BY doc_id"""))

  /** End-to-end TOKENIZER APPLY + sequence packing: the trained BPE merge
    * table ([[bpeFit]] — the artifact q_pipe_bpe_train produces) tokenizes
    * the corpus by joining each word against the broadcast final
    * vocabulary (word → token count), then documents pack into fixed
    * 1024-token training sequences per source via the running-sum window
    * (the GPT-style concat-and-split layout of q_pipe_pack, now in REAL
    * post-BPE token units instead of whitespace words). One corpus scan
    * for the word-freq fit, one for the scoring join; the vocab mapping is
    * bounded by vocabulary size and rides a broadcast. */
  val qPipeTokenizePack: Q = Q(
    run = (s, dir) => {
      val (vocab, _) = bpeFit(s, dir)
      val mapping = broadcast(vocab.select(col("word"),
        size(split(col("tokstr"), " ")).cast("long").as("n_tok")))
      val perDoc = docs(s, dir)
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(mapping, Seq("word"))
        .groupBy(col("doc_id"), col("source")).agg(sum(col("n_tok")).as("n_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.withColumn("cum_end", sum(col("n_tokens")).over(w))
        .withColumn("start_pos", col("cum_end") - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
          expr("start_pos DIV 1024").as("seq_id"),
          (col("start_pos") % 1024).cast("long").as("seq_off"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH $oBpeV5Ctes,
      wl AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word FROM documents),
      perdoc AS (SELECT doc_id, source, CAST(SUM(len(string_split(v5.tokstr, ' '))) AS BIGINT) AS n_tokens
                 FROM wl JOIN v5 USING (word) WHERE word <> '' GROUP BY doc_id, source),
      c AS (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
            FROM perdoc)
      SELECT doc_id, source, n_tokens,
             CAST((cum_end - n_tokens) // 1024 AS BIGINT) AS seq_id,
             CAST((cum_end - n_tokens) % 1024 AS BIGINT) AS seq_off
      FROM c ORDER BY doc_id"""))

  /** Matryoshka-style two-stage retrieval (coarse-prefix search + exact
    * rerank — the MRL / multi-stage ANN pattern): stage 1 scores every
    * candidate on only the FIRST 16 dims (embeddings trained
    * coarse-to-fine make the prefix a usable coarse metric — 4× less
    * arithmetic and, at 100 TB, 4× less scan bandwidth with a
    * prefix-truncated column); stage 2 re-scores just the top-20 shortlist
    * with full 64-dim distances. Integer micro-unit math throughout; both
    * cuts tie-break on candidate id, so the pipeline is bit-stable. */
  val qPipeAnnMatryoshka: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("qe"))
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qq")))
      def d2(dims: Int): Column = expr(
        s"aggregate(zip_with(slice(qq, 1, $dims), slice(qe, 1, $dims), " +
          "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val coarse = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
        .withColumn("dc", d2(16))
        .withColumn("rn1", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dc"), col("vec_id"))))
        .filter(col("rn1") <= 20)
        .select(col("qid"), col("qq"), col("vec_id").as("cid"), col("qe"))
      coarse.withColumn("d2", d2(64))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("cid"), col("d2"))
        .orderBy(col("qid"), col("rn"))
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
             FROM embeddings),
      coarse AS (SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 16),
                   d -> (q.qe[d] - c.qe[d]) * (q.qe[d] - c.qe[d]))) ASC, c.vec_id) AS rn1
        FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rn1 <= 20),
      rr AS (SELECT qid, cid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rn FROM (
        SELECT coarse.qid, coarse.cid,
               list_sum(list_transform(generate_series(1, 64),
                 d -> (q.qe[d] - c.qe[d]) * (q.qe[d] - c.qe[d]))) AS d2
        FROM coarse JOIN e q ON q.vec_id = coarse.qid JOIN e c ON c.vec_id = coarse.cid))
      SELECT qid, rn, cid, CAST(d2 AS BIGINT) AS d2 FROM rr WHERE rn <= 5 ORDER BY qid, rn"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_span_dedup" -> qPipeSpanDedup,
    "q_pipe_bloom_dedup" -> qPipeBloomDedup,
    "q_pipe_bpe_train" -> qPipeBpeTrain,
    "q_pipe_kmeans" -> qPipeKmeans,
    "q_pipe_ann_pq" -> qPipeAnnPq,
    "q_pipe_ppjoin" -> qPipePpjoin,
    "q_pipe_quality_clf" -> qPipeQualityClf,
    "q_pipe_tokenize_pack" -> qPipeTokenizePack,
    "q_pipe_ann_matryoshka" -> qPipeAnnMatryoshka,
    "q_stream_minhash_dedup" -> qStreamMinhashDedup,
    "q_stream_e2e_corpus" -> qStreamE2eCorpus,
  )
}
