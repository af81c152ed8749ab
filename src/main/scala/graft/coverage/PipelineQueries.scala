package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators (SURVEY.md §7 M7): dedup
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash), embedding similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (language-ID,
  * quality, token counts, fingerprints) and multimodal binary plumbing.
  *
  * Scale design notes (the whole point of these ops is 100 TB):
  *  - All pair generation goes through inverted-index joins (token → doc)
  *    or LSH bucket joins — never a cartesian of the corpus.
  *  - Signatures (minhash/simhash/fingerprints) are map-side column
  *    expressions; one shuffle per group-by, partial aggregation applies.
  *  - Floating point is kept deterministic by quantizing each TERM to an
  *    integer before summing (floor(x·10⁶)): integer sums are
  *    order-independent, so a 1000-executor shuffle reduction hash-matches
  *    the serial DuckDB oracle bit-for-bit.
  *  - Cross-engine hash = [[Queries.hashStr]] (md5-derived 60-bit int).
  */
object PipelineQueries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  private val words: Column = split(col("text"), " ")

  /** Distinct word-3-gram shingles per doc (ref: standard MinHash shingling;
    * the reference has no dedup operator — this is the M7 extension).
    * The split is BOUND to a projected column first: an inline `split(...)`
    * referenced via element_at inside the transform lambda re-evaluates the
    * split per element (~300 splits/doc — measured 7× slower). */
  private[coverage] def shingledOf(d: DataFrame): DataFrame = shingled(d)
  private[coverage] def oShinglesSql: String = oShingles

  private def shingled(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("ws")) - 2),
          i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2)))
      )).as("sh"))

  // exact position enumeration: scalar-context generate_series returns a
  // LIST with per-row column bounds, so no constant cap is needed (a cap
  // silently under-counts any doc that outgrows it — ADVICE r11)
  private val oShingles: String = """
    SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          WHERE len(ws) >= 3)"""

  // ----------------------------------------------------------- dedup family

  /** Exact dedup on a normalization key (md5 of the first-10-words prefix —
    * the fixture's planted near-dup clusters share it). Hash-groupBy: one
    * shuffle of (hash → docid), partial-agg'd. */
  val qPipeDedupExact: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        // null text → null sig (Spark's concat_ws would silently fold a
        // null array into "" and merge null docs with empty docs; DuckDB's
        // array_to_string propagates NULL — pin the NULL contract)
        .withColumn("sig", when(col("text").isNull, lit(null: String))
          .otherwise(md5(concat_ws(" ", slice(words, 1, 10)))))
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("sig")),
    oracle = Some("""
      SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS sig,
             min(doc_id) AS keeper_id, COUNT(*) AS n_copies
      FROM documents GROUP BY sig HAVING COUNT(*) > 1 ORDER BY sig"""))

  /** N-gram Jaccard near-dup pairs via an inverted-index self-join on
    * shingles (doc pairs sharing ≥1 shingle), then |∩|/|∪|. At 100 TB the
    * join key is the shingle — high-DF shingles would be dropped by a DF
    * cap; the cartesian never happens. */
  val qPipeJaccard: Q = Q(
    run = (s, dir) => {
      // DF cap: shingles present in >20% of the corpus are stop-shingles —
      // they pair everything with everything (the quadratic blowup) while
      // carrying no near-dup signal. Cap BEFORE the self-join; sizes are
      // computed on the capped set so Jaccard stays internally consistent.
      // The cap is IN-PLAN: per-shingle DF via a window over the shingle key
      // (one shuffle, no driver count() action) against a broadcast 1-row
      // corpus total — no cache, no extra job, nothing driver-side.
      val total = docs(s, dir).agg(count(lit(1)).as("n_total"))
      // 60-bit shingle hashes as join keys (8-byte shuffle keys, collision
      // odds ~|shingles|²/2⁶¹ — immaterial). Direct inverted-index join:
      // on THIS corpus (tiny vocab → high overlap) it beats the
      // prefix-filtered SetSimJoin, whose pruning assumes low overlap —
      // SetSimJoinSpec proves both produce identical results; at real-corpus
      // shingle diversity the prefix variant is the scale path.
      val sh = shingled(docs(s, dir))
        .select(col("doc_id"), hashStr(col("sh")).as("shid"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shid"))))
        .crossJoin(broadcast(total))
        .filter(col("df") <= expr("n_total DIV 5"))
        .select(col("doc_id"), col("shid"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = sh.as("a").join(sh.as("b"), col("a.shid") === col("b.shid") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "s1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "s2"), "d2")
        .withColumn("jac", col("inter").cast("double") / (col("s1") + col("s2") - col("inter")).cast("double"))
        .filter(col("jac") >= 0.5)
        .select(col("d1"), col("d2"), col("inter"), col("jac"))
        .orderBy(col("d1"), col("d2"))
    },
    oracle = Some(s"""
      WITH raw AS ($oShingles),
           sh AS (SELECT raw.* FROM raw
                  JOIN (SELECT sh FROM raw GROUP BY sh
                        HAVING COUNT(*) <= (SELECT COUNT(*) FROM documents) // 5) r USING (sh)),
           sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
           pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
      SELECT d1, d2, inter,
             CAST(inter AS DOUBLE) / CAST(s1.s + s2.s - inter AS DOUBLE) AS jac
      FROM pr JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
      WHERE CAST(inter AS DOUBLE) / CAST(s1.s + s2.s - inter AS DOUBLE) >= 0.5
      ORDER BY d1, d2"""))

  /** MinHash + LSH candidate pairs: 16 permutations — ONE md5 per shingle
    * then a per-seed universal rehash ((2s+1)·h + 12345s + 7 mod p), min
    * per doc+seed — 4 bands × 4 rows, band-bucket join. The classic
    * sub-quadratic near-dup path: only docs colliding in a band bucket are
    * ever paired; the LCG rehash is 16× cheaper than hashing (seed,shingle)
    * pairs and just as oracle-reproducible. */
  /** MinHash-LSH candidate pair frame (d1 < d2, distinct) — shared by
    * q_pipe_minhash_lsh and the cluster-canonicalization query. */
  /** The (doc_id, band, bkey) LSH band table behind [[minhashPairs]] —
    * also the keyed input of the STREAMING near-dup gate
    * ([[graft.streaming.StreamOps.streamingLshDedup]]). */
  /** (doc_id, shid) 60-bit shingle-hash ids — the STAGEABLE artifact the
    * signature/exact-Jaccard passes share (real pipelines materialize it;
    * recomputing it per consumer would re-shingle raw text each time). */
  private[coverage] def shingleIds(s: SparkSession, dir: String): DataFrame =
    shingled(docs(s, dir)).select(col("doc_id"), hashStr(col("sh")).as("shid"))

  /** 16-seed signature from shingle ids: h0 = shid mod p (identical to
    * hashing the string directly — shid IS hashStr(sh)), then all 16
    * minhashes as 16 min-aggregates over the UN-exploded rows (partial agg
    * applies): 16× less shuffle volume than exploding a seed dimension,
    * same math as the oracle. */
  private[coverage] def sigFromShingleIds(ids: DataFrame): DataFrame = {
    val p = 2147483647L
    val seeds = 0 until 16
    ids
      .withColumn("h0", col("shid") % p)
      .groupBy(col("doc_id"))
      .agg(seeds.map(sd =>
        min(((col("h0") * (2 * sd + 1)) + (sd * 12345 + 7)) % p).as(s"mh$sd")).head,
        seeds.tail.map(sd =>
          min(((col("h0") * (2 * sd + 1)) + (sd * 12345 + 7)) % p).as(s"mh$sd")): _*)
  }

  /** Per-doc 16-seed MinHash signature (doc_id, mh0..mh15) — the wide
    * frame behind [[minhashBands]]; also the estimator input of the
    * calibration query (Round6Queries). */
  private[coverage] def minhashSig(s: SparkSession, dir: String): DataFrame =
    sigFromShingleIds(shingleIds(s, dir))

  /** 4×4 LSH band keys from a signature frame. */
  private[coverage] def bandsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*)).as("bkey"))): _*))
        .as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))

  private[coverage] def minhashBands(s: SparkSession, dir: String): DataFrame =
    bandsFromSig(minhashSig(s, dir))

  private[coverage] def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(s, dir)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Oracle CTE chain ending in `pairs(d1, d2)` — the SQL twin of
    * [[minhashPairs]]. */
  private[coverage] val oMinhashCtes: String = s"""
      sh AS ($oShingles),
      sig AS (SELECT doc_id, seed,
                     min(((seed * 2 + 1) * (${oHash("sh")} % 2147483647) + seed * 12345 + 7) % 2147483647) AS mh
              FROM sh CROSS JOIN generate_series(0, 15) g(seed)
              GROUP BY doc_id, seed),
      bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                       md5(min(CASE WHEN seed % 4 = 0 THEN mh END) || ',' ||
                           min(CASE WHEN seed % 4 = 1 THEN mh END) || ',' ||
                           min(CASE WHEN seed % 4 = 2 THEN mh END) || ',' ||
                           min(CASE WHEN seed % 4 = 3 THEN mh END)) AS bkey
                FROM sig GROUP BY 1, 2),
      pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  val qPipeMinhashLsh: Q = Q(
    run = (s, dir) => minhashPairs(s, dir).orderBy(col("d1"), col("d2")),
    oracle = Some(s"""
      WITH $oMinhashCtes
      SELECT d1, d2 FROM pairs ORDER BY d1, d2"""))

  /** Per-doc 60-bit SimHash signature (map-side reduction: explode bit
    * index → sign sum → bit vector). Shared by both simhash queries. */
  private def simhashSig(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(array_distinct(words)).as("w"))
      .withColumn("h", hashStr(col("w")))
      .withColumn("b", explode(sequence(lit(0), lit(59))))
      .withColumn("contrib", expr("CASE WHEN shiftright(h, b) & 1 = 1 THEN 1 ELSE -1 END"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("contrib")).as("sgn"))
      .withColumn("bitv", expr("CASE WHEN sgn > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"))
      .groupBy(col("doc_id")).agg(sum(col("bitv")).as("sig"))

  /** Banded candidate pairs at Hamming ≤ maxHam: split the 60-bit signature
    * into `nBands` equal bands and join on (band index, band value) — two
    * signatures within Hamming d share an untouched band whenever
    * d < nBands (pigeonhole), so the banding is LOSSLESS for
    * maxHam < nBands; candidates are then Hamming-verified exactly. Never
    * an all-pairs join: the join key is the band bucket. A pair colliding
    * in several bands is emitted only from its FIRST colliding band (a
    * map-side filter on s1^s2) — no distinct shuffle needed. */
  private def simhashPairs(sig: DataFrame, nBands: Int, maxHam: Int): DataFrame = {
    require(maxHam < nBands, s"banding is only lossless for maxHam < nBands")
    val bits = 60 / nBands
    val mask = (1L << bits) - 1
    val bands = sig
      .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("bval", expr(s"shiftright(sig, band * $bits) & $mask"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              col("a.band").as("band"), col("a.sig").as("s1"), col("b.sig").as("s2"))
      // first colliding band as an allocation-free when-chain over s1^s2
      .filter(col("band") === (0 until nBands).foldRight(lit(-1): Column) { (j, rest) =>
        when(expr(s"(shiftright(s1 ^ s2, ${j * bits}) & $mask) = 0"), lit(j)).otherwise(rest)
      })
      .withColumn("ham", expr("bit_count(s1 ^ s2)"))
      .filter(col("ham") <= maxHam)
      .select(col("d1"), col("d2"), col("ham"))
      .orderBy(col("d1"), col("d2"))
  }

  /** SimHash near-dup pairs at Hamming ≤ 5, banded 6 × 10 bits (5 < 6 →
    * lossless; 2¹⁰ bucket values → selective buckets). The radius is chosen
    * to sit inside banded-LSH's sub-quadratic regime: a radius like 12 on a
    * 60-bit signature needs ≥13 bands → ≤4-bit bands → 16-value buckets
    * whose bucket joins regenerate ~n² intermediate rows (measured 24s at
    * sf0.1 vs 4s for this design) — past that radius banding provably can't
    * help, which is why production simhash dedup uses small radii
    * (see [[qPipeSimhashK3]], the Manku/Jain/Sarma WWW'07 parameters). */
  val qPipeSimhash: Q = Q(
    run = (s, dir) => simhashPairs(simhashSig(docs(s, dir)), nBands = 6, maxHam = 5),
    oracle = Some(s"""
      WITH wd AS (SELECT DISTINCT doc_id, w
                  FROM documents, unnest(string_split(text, ' ')) u(w)),
           bits AS (SELECT doc_id, b, SUM(CASE WHEN (${oHash("w")} >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
                    FROM wd CROSS JOIN generate_series(0, 59) g(b)
                    GROUP BY doc_id, b),
           sig AS (SELECT doc_id, SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS sig
                   FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS d1, b.doc_id AS d2, bit_count(xor(a.sig, b.sig)) AS ham
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 5
      ORDER BY d1, d2"""))

  /** SimHash at the production near-dup radius (Hamming ≤ 3), banded
    * 4 × 15 bits — the Manku/Jain/Sarma web-dedup design (WWW'07): 3 < 4
    * bands → lossless, and 2¹⁵ bucket values make band buckets tiny, so
    * the candidate set is a sliver of n² — the real 100 TB path. */
  val qPipeSimhashK3: Q = Q(
    run = (s, dir) => simhashPairs(simhashSig(docs(s, dir)), nBands = 4, maxHam = 3),
    oracle = Some(s"""
      WITH wd AS (SELECT DISTINCT doc_id, w
                  FROM documents, unnest(string_split(text, ' ')) u(w)),
           bits AS (SELECT doc_id, b, SUM(CASE WHEN (${oHash("w")} >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
                    FROM wd CROSS JOIN generate_series(0, 59) g(b)
                    GROUP BY doc_id, b),
           sig AS (SELECT doc_id, SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS sig
                   FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS d1, b.doc_id AS d2, bit_count(xor(a.sig, b.sig)) AS ham
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
      ORDER BY d1, d2"""))

  // ------------------------------------------------------ similarity search

  /** Driver-side replica of `Queries.hashStr` (md5 hex first-15 → long) —
    * lets the hyperplane coefficient matrix be built ONCE on the driver and
    * shipped as literals instead of re-hashing per row×plane×dim (the md5s
    * were ~2M interpreted calls at sf0.1; the values are row-independent). */
  private def hashStrLocal(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Random-hyperplane sign bucket over `embedding` from md5-derived integer
    * coefficients (deterministic, no RNG) — identical values to the oracle's
    * `(oHash('pl'||p||'_'||d) % 2001) - 1000` coef table. */
  private def planeBucket(planes: Int): Column =
    (0 until planes).map { p =>
      val coefs = (1 to 64).map(d => hashStrLocal(s"pl${p}_$d") % 2001 - 1000)
      val dot = graft.plans.DotProductQExpr.dotQ(
        col("embedding"), array(coefs.map(lit): _*), 1000.0)
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Quantized-term L2-norm (long): order-independent, cross-engine exact —
    * the self-dot through the codegen'd [[graft.plans.DotProductQExpr]]
    * kernel (identical per-term floor quantization). */
  private[coverage] val normQ: Column =
    graft.plans.DotProductQExpr.dotQ(col("embedding"), col("embedding"), 1000000.0)

  /** Zero-norm guard: a degenerate all-zero vector has no direction, so
    * its cosine against anything is DEFINED as 0.0 on both engines (Spark
    * ANSI would raise DIVIDE_BY_ZERO, DuckDB would yield NULL — engines
    * must not diverge on hostile inputs). */
  private[graft] def cosQ(dot: Column, n1: Column, n2: Column): Column =
    when(n1 > 0 && n2 > 0,
      dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double"))))
      .otherwise(lit(0.0))

  /** Brute-force cosine top-5 for a query set (vec_id < 10) against the
    * whole corpus — the ANN correctness baseline. The query side is tiny →
    * broadcast; the corpus is scanned map-side exactly once; top-k is a
    * per-query window (at scale: per-partition top-k then re-rank, no
    * corpus shuffle). */
  val qPipeAnnBrute: Q = Q(
    run = (s, dir) => {
      val e = emb(s, dir).withColumn("nq", normQ)
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nq").as("qn")))
      val dot = graft.plans.DotProductQExpr.dotQ(col("qe"), col("embedding"), 1000000.0)
      val scored = q.join(e, col("vec_id") =!= col("qid"))
        .withColumn("cosv", cosQ(dot, col("qn"), col("nq")))
        .select(col("qid"), col("vec_id").as("cid"), col("cosv"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosv").desc, col("cid"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("cid"), col("cosv"))
        .orderBy(col("qid"), col("rn"))
    },
    oracle = Some("""
      WITH norms AS (
        SELECT vec_id, SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS nq
        FROM embeddings, generate_series(1, 64) g(d) GROUP BY vec_id),
      dots AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               SUM(CAST(FLOOR(CAST(q.embedding[d] AS DOUBLE) * CAST(c.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM embeddings q, embeddings c, generate_series(1, 64) g(d)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        GROUP BY 1, 2),
      cos AS (
        SELECT qid, cid, CASE WHEN nq.nq > 0 AND nc.nq > 0 THEN CAST(dp AS DOUBLE) / (sqrt(CAST(nq.nq AS DOUBLE)) * sqrt(CAST(nc.nq AS DOUBLE))) ELSE 0.0 END AS cosv
        FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
      SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY cosv DESC, cid) AS rn, cid, cosv
      FROM cos QUALIFY rn <= 5 ORDER BY qid, rn"""))

  /** LSH-bucketed ANN (random-hyperplane signs → bucket, search within
    * bucket): the 100 TB path — candidate set shrinks by the bucket factor,
    * join key is the bucket id. Hyperplane coefficients are md5-derived
    * integers (deterministic, no RNG). 4 planes → 16 buckets. */
  val qPipeAnnLsh: Q = Q(
    run = (s, dir) => {
      val planes = 4
      val e = emb(s, dir).withColumn("nq", normQ)
      val withBucket = e.withColumn("bucket", planeBucket(planes))
      val q = broadcast(withBucket.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nq").as("qn"), col("bucket")))
      val dot = graft.plans.DotProductQExpr.dotQ(col("qe"), col("embedding"), 1000000.0)
      q.join(withBucket, Seq("bucket")).filter(col("vec_id") =!= col("qid"))
        .withColumn("cosv", cosQ(dot, col("qn"), col("nq")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosv").desc, col("vec_id"))))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("bucket"), col("cosv"))
        .orderBy(col("qid"), col("rn"))
    },
    oracle = Some(s"""
      WITH coef AS (
        SELECT p, d, (${oHash("'pl' || p || '_' || d")} % 2001) - 1000 AS c
        FROM generate_series(0, 3) gp(p), generate_series(1, 64) gd(d)),
      pd AS (
        SELECT e.vec_id, p, SUM(CAST(FLOOR(CAST(e.embedding[d] AS DOUBLE) * CAST(c AS DOUBLE) * 1000.0) AS BIGINT)) AS dt
        FROM embeddings e, coef WHERE coef.d <= len(e.embedding)
        GROUP BY e.vec_id, p),
      bk AS (
        SELECT vec_id, SUM(CASE WHEN dt > 0 THEN (1 << p) ELSE 0 END)::INT AS bucket
        FROM pd GROUP BY vec_id),
      norms AS (
        SELECT vec_id, SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS nq
        FROM embeddings, generate_series(1, 64) g(d) GROUP BY vec_id),
      cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, qb.bucket,
               SUM(CAST(FLOOR(CAST(q.embedding[d] AS DOUBLE) * CAST(c.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM embeddings q JOIN bk qb ON qb.vec_id = q.vec_id,
             embeddings c JOIN bk cb ON cb.vec_id = c.vec_id,
             generate_series(1, 64) g(d)
        WHERE q.vec_id < 50 AND qb.bucket = cb.bucket AND c.vec_id <> q.vec_id
        GROUP BY 1, 2, 3),
      cos AS (
        SELECT qid, cid, bucket, CASE WHEN nq.nq > 0 AND nc.nq > 0 THEN CAST(dp AS DOUBLE) / (sqrt(CAST(nq.nq AS DOUBLE)) * sqrt(CAST(nc.nq AS DOUBLE))) ELSE 0.0 END AS cosv
        FROM cand JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
      SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY cosv DESC, cid) AS rn, cid, bucket, cosv
      FROM cos QUALIFY rn <= 3 ORDER BY qid, rn"""))

  /** Embedding-cosine near-duplicate PAIRS (the dedup-family variant of
    * ANN): corpus vectors bucketed by random-hyperplane signs, candidate
    * pairs from one bucket-key equi-join, exact quantized-cosine
    * verification — the sub-quadratic near-dup path. Like every LSH,
    * single-table recall is probabilistic, so the CONTRACT (and the
    * oracle) is bucket-candidates-then-verify: the oracle replicates the
    * deterministic md5-derived bucketing, exactly as q_pipe_ann_lsh does.
    * (This corpus plants no true near-dups — max pairwise cosine ≈ 0.51 —
    * so the demo threshold is 0.3.) */
  val qPipeDedupCosine: Q = Q(
    run = (s, dir) => {
      val planes = 6 // 64 buckets: ~16× fewer candidate pairs than 4 planes
      val e = emb(s, dir).withColumn("nq", normQ)
      val withBucket = e.withColumn("bucket", planeBucket(planes))
        .select(col("vec_id"), col("embedding"), col("nq"), col("bucket"))
      val dot = graft.plans.DotProductQExpr.dotQ(col("e1"), col("e2"), 1000000.0)
      withBucket.as("a").join(withBucket.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
                col("a.embedding").as("e1"), col("b.embedding").as("e2"),
                col("a.nq").as("n1"), col("b.nq").as("n2"))
        .withColumn("cosv", cosQ(dot, col("n1"), col("n2")))
        .filter(col("cosv") >= 0.3)
        .select(col("v1"), col("v2"), col("cosv"))
        .orderBy(col("v1"), col("v2"))
    },
    oracle = Some(s"""
      WITH coef AS (
        SELECT p, d, (${oHash("'pl' || p || '_' || d")} % 2001) - 1000 AS c
        FROM generate_series(0, 5) gp(p), generate_series(1, 64) gd(d)),
      pd AS (
        SELECT e.vec_id, p, SUM(CAST(FLOOR(CAST(e.embedding[d] AS DOUBLE) * CAST(c AS DOUBLE) * 1000.0) AS BIGINT)) AS dt
        FROM embeddings e, coef WHERE coef.d <= len(e.embedding)
        GROUP BY e.vec_id, p),
      bk AS (
        SELECT vec_id, SUM(CASE WHEN dt > 0 THEN (1 << p) ELSE 0 END)::INT AS bucket
        FROM pd GROUP BY vec_id),
      norms AS (
        SELECT vec_id, SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS nq
        FROM embeddings, generate_series(1, 64) g(d) GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               SUM(CAST(FLOOR(CAST(a.embedding[d] AS DOUBLE) * CAST(b.embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS dp
        FROM embeddings a JOIN bk ba ON ba.vec_id = a.vec_id,
             embeddings b JOIN bk bb ON bb.vec_id = b.vec_id,
             generate_series(1, 64) g(d)
        WHERE a.vec_id < b.vec_id AND ba.bucket = bb.bucket
        GROUP BY 1, 2)
      SELECT v1, v2, CASE WHEN na.nq > 0 AND nb.nq > 0 THEN CAST(dp AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) ELSE 0.0 END AS cosv
      FROM dots JOIN norms na ON na.vec_id = v1 JOIN norms nb ON nb.vec_id = v2
      WHERE CASE WHEN na.nq > 0 AND nb.nq > 0 THEN CAST(dp AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) ELSE 0.0 END >= 0.3
      ORDER BY v1, v2"""))

  // --------------------------------------------------------- text analysis

  private val stopLatin = Seq("the", "a", "data", "table")
  private val stopOps = Seq("merge", "sort", "filter", "scan")
  private val stopTech = Seq("spark", "query", "window", "stream")

  private def ratio(list: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(list))).cast("double") / size(words).cast("double")

  /** Heuristic language-ID: stopword-profile hit ratios, argmax with
    * alphabetical tie-break — n-gram/stopword scoring shape of real LID at
    * pipeline scale (pure map-side column math, no shuffle). */
  val qPipeLangid: Q = Q(
    run = (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        ratio(stopLatin).as("s_latin"),
        ratio(stopOps).as("s_ops"),
        ratio(stopTech).as("s_tech"))
        .withColumn("pred",
          when(col("s_latin") >= col("s_ops") && col("s_latin") >= col("s_tech"), "latin")
            .when(col("s_ops") >= col("s_tech"), "ops")
            .otherwise("tech"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH sc AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(ws, w -> list_contains(['the','a','data','table'], w))) AS DOUBLE) / len(ws) AS s_latin,
          CAST(len(list_filter(ws, w -> list_contains(['merge','sort','filter','scan'], w))) AS DOUBLE) / len(ws) AS s_ops,
          CAST(len(list_filter(ws, w -> list_contains(['spark','query','window','stream'], w))) AS DOUBLE) / len(ws) AS s_tech
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents))
      SELECT doc_id, lang, s_latin, s_ops, s_tech,
             CASE WHEN s_latin >= s_ops AND s_latin >= s_tech THEN 'latin'
                  WHEN s_ops >= s_tech THEN 'ops' ELSE 'tech' END AS pred
      FROM sc ORDER BY doc_id"""))

  /** Quality scoring: length, uniqueness ratio, stopword ratio, mean word
    * length → weighted score. All per-row column math (map-side). */
  val qPipeQuality: Q = Q(
    run = (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_uniq"),
        (size(array_distinct(words)).cast("double") / size(words).cast("double")).as("uniq_ratio"),
        (aggregate(transform(words, w => length(w).cast("long")), lit(0L), (a, x) => a + x).cast("double") /
          size(words).cast("double")).as("avg_wlen"),
        ratio(stopLatin).as("stop_ratio"))
        .withColumn("quality",
          lit(0.4) * col("uniq_ratio") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(col("avg_wlen") / 10.0, lit(1.0)))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH b AS (
        SELECT doc_id, length(text) AS n_chars_m, string_split(text, ' ') AS ws FROM documents),
      m AS (
        SELECT doc_id, n_chars_m, len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq,
               CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
               CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS avg_wlen,
               CAST(len(list_filter(ws, w -> list_contains(['the','a','data','table'], w))) AS DOUBLE) / len(ws) AS stop_ratio
        FROM b)
      SELECT doc_id, n_chars_m, n_words, n_uniq, uniq_ratio, avg_wlen, stop_ratio,
             0.4 * uniq_ratio + 0.3 * (1.0 - stop_ratio) + 0.3 * least(avg_wlen / 10.0, 1.0) AS quality
      FROM m ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + a BPE-ish estimate (⌈len/4⌉ per
    * word — the "chars/4" rule of thumb, exactly reproducible). */
  val qPipeTokens: Q = Q(
    run = (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(words).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("re_tokens"),
        aggregate(transform(words, w => ceil(length(w).cast("double") / 4.0).cast("long")),
          lit(0L), (a, x) => a + x).as("bpe_est"),
        length(col("text")).as("n_chars_m"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z]+')) AS re_tokens,
             list_sum(list_transform(string_split(text, ' '),
                      w -> CAST(ceil(CAST(length(w) AS DOUBLE) / 4.0) AS BIGINT)))::BIGINT AS bpe_est,
             length(text) AS n_chars_m
      FROM documents ORDER BY doc_id"""))

  /** Document fingerprinting: canonical sorted-unique-words md5 + a rolling
    * polynomial hash (mod 1,000,003) over the word sequence — both pure
    * map-side; the md5 fingerprint doubles as the exact-dedup key at scale. */
  val qPipeFingerprint: Q = Q(
    run = (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(words)), " ")).as("fp_set"),
        aggregate(transform(words, w => hashStr(w) % 1000003),
          lit(0L), (a, x) => (a * 31 + x) % 1000003).as("fp_roll"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_set,
             CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(text, ' '), w -> ${oHash("w")} % 1000003)),
               (a, b) -> (a * 31 + b) % 1000003) END AS fp_roll
      FROM documents ORDER BY doc_id"""))

  /** Multimodal column plumbing: opaque binary payload + typed metadata +
    * per-frame sampling. The DECODE IS A DETERMINISTIC STUB (md5-derived
    * width/height/frames — no image libs in this container); the Spark-side
    * contract (binary column, metadata struct, frame explode shape,
    * map-side partitioning) is the real, tested artifact. */
  val qPipeMultimodal: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .withColumn("payload", col("text").cast("binary"))
        // a null payload decodes to NOTHING (the typed mapPartitions path
        // agrees) — without the filter, least(NULL-1, 2) = 2 in BOTH
        // engines (least ignores NULLs) and 3 phantom frames appear
        .filter(col("payload").isNotNull)
        .withColumn("n_bytes", length(col("payload")))
        .withColumn("m", md5(col("text")))
        .withColumn("width", (conv(substring(col("m"), 1, 4), 16, 10).cast("long") % 320 + 16).as("width"))
        .withColumn("height", (conv(substring(col("m"), 5, 4), 16, 10).cast("long") % 240 + 16).as("height"))
        .withColumn("frames", (conv(substring(col("m"), 9, 2), 16, 10).cast("long") % 8 + 1).as("frames"))
        .withColumn("k", explode(sequence(lit(0L), least(col("frames") - 1, lit(2L)))))
        .withColumn("frame_fp", md5(concat(col("m"), lit("_"), col("k").cast("string"))))
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("frames"),
                col("k"), col("frame_fp"))
        .orderBy(col("doc_id"), col("k")),
    oracle = Some("""
      WITH d AS (SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS m FROM documents),
      meta AS (SELECT doc_id, n_bytes,
                      ('0x' || substr(m, 1, 4))::BIGINT % 320 + 16 AS width,
                      ('0x' || substr(m, 5, 4))::BIGINT % 240 + 16 AS height,
                      ('0x' || substr(m, 9, 2))::BIGINT % 8 + 1 AS frames, m
               FROM d)
      SELECT doc_id, n_bytes, width, height, frames, k,
             md5(m || '_' || k) AS frame_fp
      FROM meta CROSS JOIN generate_series(0, 2) g(k)
      WHERE m IS NOT NULL AND k <= least(frames - 1, 2)
      ORDER BY doc_id, k"""))

  /** Typed partition-wise decode variant of the multimodal pipeline (one
    * codec context per partition via mapPartitions — see
    * [[graft.operators.Multimodal]]); same deterministic stub, same oracle
    * math as q_pipe_multimodal. */
  val qPipeMultimodalTyped: Q = Q(
    run = (s, dir) =>
      graft.operators.Multimodal.decodeFrames(
        s, docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")))
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx")),
    oracle = Some("""
      WITH d AS (SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS m FROM documents),
      meta AS (SELECT doc_id, n_bytes,
                      ('0x' || substr(m, 1, 4))::BIGINT % 320 + 16 AS width,
                      ('0x' || substr(m, 5, 4))::BIGINT % 240 + 16 AS height,
                      ('0x' || substr(m, 9, 2))::BIGINT % 8 + 1 AS frames, m
               FROM d)
      SELECT doc_id, n_bytes, width, height, frames, k AS frame_idx,
             md5(m || '_' || k) AS frame_fp
      FROM meta CROSS JOIN generate_series(0, 2) g(k)
      WHERE m IS NOT NULL AND k <= least(frames - 1, 2)
      ORDER BY doc_id, frame_idx"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_multimodal_typed" -> qPipeMultimodalTyped,
    "q_pipe_dedup_exact" -> qPipeDedupExact,
    "q_pipe_jaccard" -> qPipeJaccard,
    "q_pipe_minhash_lsh" -> qPipeMinhashLsh,
    "q_pipe_simhash" -> qPipeSimhash,
    "q_pipe_simhash_k3" -> qPipeSimhashK3,
    "q_pipe_ann_brute" -> qPipeAnnBrute,
    "q_pipe_ann_lsh" -> qPipeAnnLsh,
    "q_pipe_dedup_cosine" -> qPipeDedupCosine,
    "q_pipe_langid" -> qPipeLangid,
    "q_pipe_quality" -> qPipeQuality,
    "q_pipe_tokens" -> qPipeTokens,
    "q_pipe_fingerprint" -> qPipeFingerprint,
    "q_pipe_multimodal" -> qPipeMultimodal,
  )
}
