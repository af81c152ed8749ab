package graft.coverage

import graft.{Q, Tables}
import graft.Queries.{hashStr, oHash}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth batch of training-data pipeline operators: text normalization
  * with audit counts, URL canonicalization + dedup, host-scoped
  * boilerplate detection, and prefix-containment dedup. All map-side or
  * hash-agg shaped (no pairwise scans); corpus features the fixture lacks
  * (URLs, dirty whitespace, truncated mirrors) are SYNTHESIZED
  * deterministically from doc_id/source — identically on both engines —
  * so the operator under test is the real one.
  */
object Pipeline4Queries {

  /** Text normalization — the first pass of every web-scraped corpus:
    * collapse whitespace runs, trim, audit how much was cleaned. Map-side
    * only (no shuffle at any scale). The dirty input is synthesized
    * (leading blank, double spaces, a tab) since the fixture text is
    * already clean; lengths are BIGINT on both engines. */
  val qPipeNormalize: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit(" "), substring(col("text"), 1, 50), lit("  "),
                 substring(col("text"), 11, 20), lit("\t"), lit("end ")).as("raw"))
        .select(col("doc_id"),
          trim(regexp_replace(col("raw"), "\\s+", " ")).as("clean"),
          length(col("raw")).cast("long").as("len_raw"),
          length(trim(regexp_replace(col("raw"), "\\s+", " "))).cast("long").as("len_clean"),
          regexp_count(col("raw"), lit("\\s{2,}")).cast("long").as("n_ws_runs"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH raw AS (
        SELECT doc_id,
               ' ' || substr(text, 1, 50) || '  ' || substr(text, 11, 20) || chr(9) || 'end ' AS raw
        FROM documents)
      SELECT doc_id,
             trim(regexp_replace(raw, '\s+', ' ', 'g')) AS clean,
             length(raw)::BIGINT AS len_raw,
             length(trim(regexp_replace(raw, '\s+', ' ', 'g')))::BIGINT AS len_clean,
             len(regexp_extract_all(raw, '\s{2,}'))::BIGINT AS n_ws_runs
      FROM raw ORDER BY doc_id"""))

  /** URL canonicalization + dedup — the crawl-frontier dedup step:
    * lowercase the scheme/host, strip tracking query params and fragments,
    * keep the lowest doc_id per canonical URL. One hash shuffle on the
    * canonical string (window keep-first), scale-free. URLs are
    * synthesized with mixed case, utm params (doc_id % 3) and fragments
    * (doc_id % 5); path collisions (doc_id % 40) create genuine dups. */
  val qPipeUrlDedup: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("https://WWW."), col("source"), lit(".Example.com/p/"),
                 (col("doc_id") % 40),
                 when(col("doc_id") % 3 === 0,
                      concat(lit("?utm_source=feed&utm_id="), col("doc_id"))).otherwise(lit("")),
                 when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit(""))).as("url"))
        .withColumn("canon",
          lower(regexp_replace(regexp_replace(col("url"), "\\?utm_[^#]*", ""), "#.*$", "")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("canon")).orderBy(col("doc_id"))))
        .select(col("doc_id"), col("url"), col("canon"), (col("rn") === 1).as("kept"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH u AS (
        SELECT doc_id,
               'https://WWW.' || source || '.Example.com/p/' || (doc_id % 40) ||
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_id=' || doc_id ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
        FROM documents),
      c AS (
        SELECT doc_id, url,
               lower(regexp_replace(regexp_replace(url, '\?utm_[^#]*', ''), '#.*$', '')) AS canon
        FROM u)
      SELECT doc_id, url, canon,
             row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1 AS kept
      FROM c ORDER BY doc_id"""))

  /** Host-scoped boilerplate detection — the RefinedWeb/C4 "drop the terms
    * -of-service header every page on the host repeats" pass: chunk each
    * doc into 10-word segments, call a segment boilerplate when ≥50% of
    * the host's docs contain it, report per-host boilerplate stats. The
    * per-host header is synthesized (exactly one 10-word segment shared by
    * all of the host's docs); segment counts shuffle once with map-side
    * partials — no pairwise doc comparisons. */
  val qPipeHostBoilerplate: Q = Q(
    run = (s, dir) => {
      val withHdr = docs(s, dir).select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        split(concat(lit("terms of service apply to all pages on host "),
                     col("source"), lit(" "), col("text")), " ").as("w"))
      val seg = withHdr.select(col("doc_id"), col("host"), explode(
          transform(sequence(lit(0), ceil(size(col("w")) / 10.0).cast("int") - 1),
            i => array_join(slice(col("w"), i * lit(10) + 1, lit(10)), " "))).as("seg"))
        .distinct()
      val hostDocs = withHdr.groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
      val boiler = seg.groupBy(col("host"), col("seg")).agg(count(lit(1)).as("nd"))
        .join(hostDocs, "host")
        .filter(col("nd") * 2 >= col("n_docs"))
      val affected = seg.join(boiler.select(col("host"), col("seg")), Seq("host", "seg"))
        .groupBy(col("host")).agg(countDistinct(col("doc_id")).as("n_affected"))
      boiler.groupBy(col("host"), col("n_docs")).agg(count(lit(1)).as("n_boiler_segs"))
        .join(affected, "host")
        .select(col("host"), col("n_docs"), col("n_boiler_segs"), col("n_affected"))
        .orderBy(col("host"))
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, source || '.example.com' AS host,
               string_split('terms of service apply to all pages on host ' || source || ' ' || text, ' ') AS w
        FROM documents),
      seg AS (
        SELECT DISTINCT doc_id, host, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
        FROM (SELECT doc_id, host, w,
                     unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS i
              FROM w)),
      hd AS (SELECT host, COUNT(*) AS n_docs FROM w GROUP BY 1),
      b AS (
        SELECT s.host, s.seg, hd.n_docs, COUNT(*) AS nd
        FROM seg s JOIN hd ON hd.host = s.host
        GROUP BY s.host, s.seg, hd.n_docs
        HAVING COUNT(*) * 2 >= hd.n_docs),
      aff AS (
        SELECT s.host, COUNT(DISTINCT s.doc_id) AS n_affected
        FROM seg s JOIN b ON b.host = s.host AND b.seg = s.seg
        GROUP BY s.host)
      SELECT b.host, b.n_docs, COUNT(*)::BIGINT AS n_boiler_segs, aff.n_affected
      FROM b JOIN aff ON aff.host = b.host
      GROUP BY b.host, b.n_docs, aff.n_affected
      ORDER BY b.host"""))

  /** Prefix-containment dedup — drop documents whose ENTIRE text is the
    * prefix of a longer document (truncated mirrors, feed snippets).
    * Candidates come from a 32-char-prefix bucket join (the fixture's min
    * doc length is 48, so every doc owns a full-width bucket key), then
    * exact prefix verification inside the bucket — the same
    * candidates-then-verify contract as dedup_cosine: containment across
    * DIFFERENT 32-prefixes is out of contract by design (a contained doc
    * shares its container's first 32 chars by definition of prefix ⊇ 32
    * chars — the contract is exact for docs ≥32 chars, which is all of
    * them). Truncated mirrors (doc_id % 7 = 0, +10000 id space) are
    * synthesized to guarantee real containment exists. */
  val qPipeContainDedup: Q = Q(
    run = (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val mirrors = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), substring(col("text"), 1, 40).as("text"))
      val corpus = base.unionByName(mirrors)
        .withColumn("p32", substring(col("text"), 1, 32))
        .withColumn("len", length(col("text")))
      val a = corpus.select(col("p32"), col("doc_id").as("a_id"), col("text").as("a_text"), col("len").as("a_len"))
      val b = corpus.select(col("p32"), col("doc_id").as("b_id"), col("text").as("b_text"), col("len").as("b_len"))
      val contained = a.join(b, Seq("p32"))
        .filter(col("a_id") =!= col("b_id"))
        .filter(expr("substring(b_text, 1, a_len) = a_text"))
        .filter(col("b_len") > col("a_len") ||
                (col("b_len") === col("a_len") && col("b_id") < col("a_id")))
        .groupBy(col("a_id")).agg(count(lit(1)).as("n_containers"))
      corpus.select(col("doc_id"))
        .join(contained.withColumnRenamed("a_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_containers"), lit(0L)).as("n_containers"))
        .withColumn("kept", col("n_containers") === 0)
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, substr(text, 1, 40) FROM documents WHERE doc_id % 7 = 0),
      k AS (SELECT doc_id, text, substr(text, 1, 32) AS p32, length(text) AS len FROM corpus),
      contained AS (
        SELECT a.doc_id AS a_id, COUNT(*) AS n_containers
        FROM k a JOIN k b ON a.p32 = b.p32 AND a.doc_id <> b.doc_id
        WHERE substr(b.text, 1, a.len) = a.text
          AND (b.len > a.len OR (b.len = a.len AND b.doc_id < a.doc_id))
        GROUP BY a.doc_id)
      SELECT k.doc_id, COALESCE(c.n_containers, 0)::BIGINT AS n_containers,
             COALESCE(c.n_containers, 0) = 0 AS kept
      FROM k LEFT JOIN contained c ON c.a_id = k.doc_id
      ORDER BY k.doc_id"""))

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Embedding norm filter — the sanity pass before an ANN index build:
    * per-vector exact sum-of-squares over TERM-QUANTIZED components
    * (floor(x·10⁴) — the dsum trick, so the reduction is order-independent
    * and engine-exact without touching sqrt), zero-component count, and
    * degenerate/outlier flags on integer thresholds. Map-side only — no
    * shuffle at any corpus size. */
  val qPipeNormFilter: Q = Q(
    run = (s, dir) =>
      emb(s, dir)
        .withColumn("q", transform(col("embedding"), x => floor(x.cast("double") * 10000.0).cast("long")))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("sumsq_q"),
          aggregate(col("q"), lit(0L), (acc, x) =>
            acc + when(x === 0L, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("degenerate", col("sumsq_q") < 1000000L)
        .withColumn("outlier", col("sumsq_q") > 3200000000L)
        .orderBy(col("vec_id")),
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 10000.0) AS BIGINT) AS qv
        FROM embeddings, generate_series(1, 64) g(d))
      SELECT vec_id,
             SUM(qv * qv)::BIGINT AS sumsq_q,
             SUM(CASE WHEN qv = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
             SUM(qv * qv) < 1000000 AS degenerate,
             SUM(qv * qv) > 3200000000 AS outlier
      FROM q GROUP BY vec_id ORDER BY vec_id"""))

  /** Cross-source contamination matrix — which sources share content with
    * which: distinct (shingle, source) pairs self-joined on the shingle
    * (inverted index — never doc×doc), aggregated to an ordered
    * source-pair co-occurrence count. The matrix is |sources|² tiny no
    * matter the corpus; the shuffled state is shingle-keyed with map-side
    * partials. The per-pair count weights each shared shingle once. */
  val qPipeSourceOverlap: Q = Q(
    run = (s, dir) => {
      val ss = PipelineQueries.shingledOf(docs(s, dir))
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), hashStr(col("sh")).as("shid"))
        .distinct()
      ss.as("a").join(ss.as("b"), col("a.shid") === col("b.shid") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    },
    oracle = Some(s"""
      WITH sh AS (${PipelineQueries.oShinglesSql}),
      ss AS (SELECT DISTINCT d.source, ${oHash("sh.sh")} AS shid
             FROM sh JOIN documents d ON d.doc_id = sh.doc_id)
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM ss a JOIN ss b ON a.shid = b.shid AND a.source < b.source
      GROUP BY a.source, b.source
      ORDER BY src_a, src_b"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_pipe_normalize" -> qPipeNormalize,
    "q_pipe_url_dedup" -> qPipeUrlDedup,
    "q_pipe_host_boilerplate" -> qPipeHostBoilerplate,
    "q_pipe_contain_dedup" -> qPipeContainDedup,
    "q_pipe_norm_filter" -> qPipeNormFilter,
    "q_pipe_source_overlap" -> qPipeSourceOverlap,
  )
}
