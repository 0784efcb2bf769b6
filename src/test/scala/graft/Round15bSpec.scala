package graft

import org.apache.spark.sql.functions._

/** Round-15 batch B: the production incremental-dedup loop
  * (dedup_incremental_bands), the LSH-vs-exact eval (dedup_lsh_eval), the
  * repeated-span coverage op (dedup_span_repeats), and the Spark-4 XML
  * round-trip. Planted corpora force every decision path: replica docs
  * must be rejected by the landed band store, novel docs admitted, shared
  * token runs merged into maximal spans.
  */
class Round15bSpec extends GraftSuite {
  import spark.implicits._

  /** 20 docs with pairwise-distinct ≥5-token texts; doc 7 (batch under the
    * % 10 = 7 split AND % 50 = 7 under the planting rule) will carry doc
    * 6's text after plantedDocs; doc 17 (batch, not planted) stays novel. */
  private lazy val bandDir: String = {
    val dir = TestSpark.tempDir("graft_r15_bands_")
    (0L until 20L).map(i =>
        (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_incremental_bands: replica rejected by the landed store, novel doc admitted, store grows") {
    val r = SparkEntry.queries("dedup_incremental_bands")(spark, bandDir)
      .collect().head
    assert(r.getAs[Long]("n_batch") === 2L)         // docs 7 and 17
    assert(r.getAs[Long]("n_rejected") === 1L)      // doc 7 = doc 6's text
    assert(r.getAs[Long]("n_admitted") === 1L)      // doc 17 is novel
    val before = r.getAs[Long]("n_store_before")
    val after = r.getAs[Long]("n_store_after")
    assert(before === 36L, s"18 base docs x 2 bands, all distinct: $before")
    assert(after === 38L, s"store must absorb the admitted doc's 2 bands: $after")
  }

  test("dedup_incremental_bands is idempotent: re-running against the updated store rejects everything") {
    // the production property the op exists for: re-delivering tonight's
    // already-admitted batch tomorrow must insert nothing. Simulate by
    // extending the corpus so yesterday's batch is now base (planted
    // replica rule hits doc 7 again) — every batch doc whose bands are
    // already landed is rejected. Build: same 20 docs; batch = {7, 17};
    // after run 1 the store holds 17's bands; a second run over the same
    // corpus rebuilds base from scratch (idempotent kernel), so instead
    // assert the KERNEL property directly: admitted keys ⊆ updated store.
    val docs = llm.DedupOps.plantedDocs(
      spark.read.parquet(s"$bandDir/documents.parquet"))
    val keys = llm.DedupOps.portableBands(llm.DedupOps.portableSignature(docs))
    val store = keys.filter(pmod(col("doc_id"), lit(10L)) =!= 7)
      .select("band", "bh").distinct()
    val batch = keys.filter(pmod(col("doc_id"), lit(10L)) === 7)
    val admitted = batch.join(store, Seq("band", "bh"), "left_anti")
    val updated = store.unionByName(admitted.select("band", "bh")).distinct()
    // every admitted doc's keys are in the updated store → a re-delivery
    // of the same batch matches the store on every band → zero admits
    val second = batch.join(updated, Seq("band", "bh"), "left_anti")
    assert(second.count() === 0L,
      "re-delivered batch keys must all hit the updated store")
  }

  test("dedup_lsh_eval: planted replica pair is the sole positive and is predicted (planted corpus)") {
    val r = SparkEntry.queries("dedup_lsh_eval")(spark, bandDir)
      .collect().head
    assert(r.getAs[Long]("n_pairs") === 190L)       // C(20, 2)
    assert(r.getAs[Long]("n_pos") === 1L)           // (6, 7) after planting
    assert(r.getAs[Long]("tp") === 1L)
    assert(r.getAs[Long]("fn") === 0L)
    assert(r.getAs[Long]("precision_ppm") === 1000000L)
    assert(r.getAs[Long]("recall_ppm") === 1000000L)
  }

  test("dedup_lsh_eval: documents without bands stay in the pair universe") {
    // empty and two-token documents have no 3-token shingle, hence no
    // minhash bands; the DuckDB oracle pairs every document with every
    // other, so the engine must too. Docs 1 and 2 share their text.
    val dir = TestSpark.tempDir("graft_r15_lsh_empty_")
    Seq((1L, "one two three four five"), (2L, "one two three four five"),
      (3L, ""), (4L, "six seven eight nine ten"), (5L, ""), (6L, "eleven twelve"),
      (8L, "thirteen fourteen fifteen sixteen"), (9L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_lsh_eval")(spark, dir).collect().head
    assert(r.getAs[Long]("n_pairs") === 28L)        // C(8, 2)
    assert(r.getAs[Long]("n_pos") === 1L)           // (1, 2)
    assert(r.getAs[Long]("n_pred") === 1L)
    assert(r.getAs[Long]("tp") === 1L)
  }

  test("dedup_span_repeats: shared mid-doc run merges to one maximal span with exact coverage") {
    val dir = TestSpark.tempDir("graft_r15_span_")
    // docs 1 and 2 share a 10-token run (→ three repeated 8-gram
    // positions each, gaps 1 ≤ 7 → ONE island, coverage = 10 tokens);
    // doc 4 is all-distinct noise. doc_id % 20 = 3 is absent so the
    // footer planting is inert here.
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    Seq(
      (1L, s"a1 a2 a3 $shared a4 a5"),
      (2L, s"b1 b2 $shared b3 b4 b5 b6"),
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_span_repeats")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("max_span_tok"),
        r.getAs[Long]("covered_tok"), r.getAs[Long]("covered_ppm")))
    assert(out === Seq(
      (1L, 15L, 1L, 10L, 10L, 666666L),
      (2L, 16L, 1L, 10L, 10L, 625000L)))
  }

  test("dedup_span_repeats: fixture footer planting yields repeated spans on real data") {
    val out = SparkEntry.queries("dedup_span_repeats")(spark, sfDir)
    assert(out.count() >= 2, "footer-planted docs must surface repeated spans")
  }

  test("sink_xml_roundtrip: read-back aggregate equals the direct source aggregate") {
    val viaXml = SparkEntry.queries("sink_xml_roundtrip")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = spark.read.parquet(s"$sfDir/supplier.parquet")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("cnt"), Helpers.decSumOut(col("s_acctbal")).as("sum_bal"),
        min(col("s_suppkey")).as("min_key"), max(col("s_suppkey")).as("max_key"))
      .orderBy("s_nationkey")
      .collect().map(_.toString).toSeq
    assert(viaXml === direct)
  }
}
