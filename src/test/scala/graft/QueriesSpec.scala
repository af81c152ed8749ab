package graft

/** Smoke + semantics checks for the coverage queries at sf0.001.
  * The cross-engine hash gate is tools/check.py against DuckDB; these specs
  * assert shape/invariants so `sbt test` catches regressions without DuckDB. */
class QueriesSpec extends SparkTestBase {

  test("q1_pricing_summary: 6 flag/status groups, positive sums") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length >= 4 && rows.length <= 6)
    val sumQty = rows.map(_.getAs[Double]("sum_qty")).sum
    assert(sumQty > 0)
    val counts = rows.map(_.getAs[Long]("count_order")).sum
    assert(counts <= 6000)
  }

  test("entry: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q_pipe_bm25: NULL/empty-text docs count toward N but never join postings " +
       "(hostile-leg regression, r15)") {
    // The r15 one-pass rewrite originally derived dl (and with it n_docs)
    // as sum(tf) over the exploded corpus — NULL-text documents explode to
    // ZERO rows, so they vanished from n_docs and every idf/avgdl shifted
    // (caught by the hostile fixture: 10 NULL-text plants, 40 score
    // diffs). Differential: the one-pass form must equal the naive
    // 4-scan reference spelling on a corpus that plants NULL text, empty
    // text, and whitespace-only text.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("bm25null").toString
    val docRows = (0L until 40L).map { i =>
      val text = i % 10 match {
        case 7 => null
        case 8 => ""
        case 9 => "   "
        case _ => s"spark window join customer order w$i t${i % 3}"
      }
      (i, text)
    }
    spark.createDataFrame(docRows).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q_pipe_bm25")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

    // naive reference: separate dl (= size(ws), null-text rows KEPT with
    // null dl), st over ALL docs, independent tf/df passes
    val t = spark.read.parquet(s"$tmp/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val dl = t.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("tot"))
    val tf = t.select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val q = spark.createDataFrame(Seq(
        (0L, "spark window join"), (1L, "customer order filter"),
        (2L, "hash merge sort table"), (3L, "stream batch vector")))
      .toDF("qid", "qtext")
    val qt = q.select(col("qid"), explode(split(col("qtext"), " ")).as("term")).distinct()
    val idfq = floor(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      * lit(1000000.0)).cast("long")
    val avgdl = col("tot").cast("double") / col("n_docs")
    val contrib = floor(idfq.cast("double") * (col("tf") * lit(2.2))
      / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl)))).cast("long")
    val scored = tf.join(qt, "term").join(dfq, "term").join(dl, "doc_id").crossJoin(st)
      .groupBy(col("qid"), col("doc_id")).agg(sum(contrib).as("score"))
    val exp = scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("qid"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == exp.toSeq,
      s"one-pass BM25 diverged from the naive reference on null/empty text:\n" +
      s"got ${got.toSeq}\nexp ${exp.toSeq}")
    // and the NULL-text docs must be inside N: 40 docs total, 4 null-text
    val n = st.collect()(0).getLong(0)
    assert(n == 40L, s"n_docs must count NULL-text docs, got $n")
  }

  test("documents fixture contract: doc_id is unique (one-pass BM25 key assumption)") {
    // The one-pass BM25 spelling derives dl as max over a doc_id group —
    // identical to the oracle's per-row dl ONLY when doc_id is the table
    // key (ADVICE r15). The fixtures honor that (and ScaleGen preserves
    // it by shifting keys per replica); pin the contract so a future
    // fixture change that plants duplicate keys fails here instead of
    // silently diverging at the oracle.
    import org.apache.spark.sql.functions._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      assume(new java.io.File(s"$dir/documents.parquet").exists, s"$dir/documents.parquet absent")
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val total = d.count()
      val distinctKeys = d.select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
      assert(distinctKeys == total,
        s"$dir/documents.parquet: ${total - distinctKeys} duplicate doc_id rows — " +
        "the one-pass BM25 dl derivation assumes doc_id is the table key")
    }
  }
}
