package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.SectionTagger
import graft.operators._
import graft.sources.TranscriptGen

/** Driver contract — one `queries` entry per operator family (SURVEY §2),
  * with a value-equivalent DuckDB oracle wherever ANSI SQL can express the
  * semantics (RE2's missing lookarounds and the ML/LSH ops get rows-only
  * checks; their correctness lives in the ScalaTest differential specs).
  *
  * Cross-engine determinism rules used throughout:
  *  - double sums go through per-row DECIMAL(18,4) casts (order-independent
  *    exact aggregation), then back to double;
  *  - rankings order on exact doubles, round only in the output;
  *  - every aggregate/computed column is aliased identically on both sides.
  */
object SparkEntry {

  // parquet layout metadata per path (bytes, row groups) — footer-only
  // reads, cached like Spark's own file-listing cache (metadata, never
  // results; keyed by path within this JVM session)
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

  private def parquetLayout(s: SparkSession, path: String): (Long, Int) =
    layoutCache.computeIfAbsent(path, { _ =>
      val conf = s.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
         else Seq(fs.getFileStatus(p)))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      var bytes = 0L
      var rgs = 0
      files.foreach { st =>
        bytes += st.getLen
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try rgs += in.getRowGroups.size() finally in.close()
      }
      (bytes, rgs)
    })

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scan-fanout loader (optimization guide §2.5, "input skew: one huge
    * unsplittable file"): parquet can only split at ROW-GROUP boundaries,
    * so a table written as a handful of large row groups serializes its
    * scan stage — and every operator fused into it — onto that many tasks
    * no matter how many splits Spark plans (the driver's testdata tables
    * are single-row-group files: measured with a stage listener, q04 spent
    * 940 ms of its 1.3 s in ONE task — decode 600k rows ≈ 100 ms, the
    * rest a serial sort). Callers that hang heavy per-row work off the
    * scan pass the downstream partitioning `key`; the hash repartition
    * then (a) parallelizes that work and (b) already satisfies the
    * window/groupBy/join distribution on `key`, so no second exchange
    * appears. HASH, never round-robin: `repartition(n)` pays a local sort
    * of the serialized scan output (sortBeforeRepartition) — the blanket
    * round-robin variant measured 5.5 s SLOWER across the headline set.
    *
    * Scale-adaptive, not a local[32] constant: partition count comes from
    * AQE (repartition-by-column with no explicit N), the guard is a no-op
    * on a properly laid-out table (row groups >= half the session cores),
    * and tables above 2048 MB never pay the extra exchange — at
    * warehouse scale the fix belongs at the writer, exactly as the guide
    * says.
    */
  private def tf(s: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = s.read.parquet(path)
    val cores = s.sparkContext.defaultParallelism
    val (bytes, rgs) = parquetLayout(s, path)
    if (cores > 1 && rgs < cores / 2 && bytes <= (2048L << 20)) df.repartition(col(key))
    else df
  }

  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  // single-slot memo (not a map: a map keyed by session would pin every
  // stopped session + its checkpoint blocks for the JVM's lifetime)
  @volatile private var entryMemo: (SparkSession, DataFrame) = null

  /** Drop the entry memo — the profiler (graft.Prof) calls this between
    * repeated runs so the second measurement re-runs the pipeline instead
    * of scanning checkpoint blocks.
    */
  def clearEntryCache(): Unit = entryMemo = null

  /** Flagship: the KG pipeline end-to-end on synthesized transcripts.
    * Memoized per session via localCheckpoint: q23, q31, q45 and q47 all
    * consume the same seed-pinned output, so Verify trains the tagger and
    * runs the pipeline once instead of four times (identical result —
    * the checkpoint only materializes it).
    */
  def entry(spark: SparkSession): DataFrame = {
    val memo = entryMemo
    if (memo != null && (memo._1 eq spark)) memo._2
    else {
      implicit val sp: SparkSession = spark
      val turns = TranscriptGen.dataset(spark, 100, seed = 42L, skewConvs = 1, skewTurns = 200)
      val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 120))
      val df = KgPipeline.computeTriples(turns, tagger).toDF().localCheckpoint(true)
      entryMemo = (spark, df)
      df
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational core ----------------
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("cnt"))
    }),
    "q02_revenue_by_nation" -> ((s, d) => {
      // fanout: the 4-way broadcast-join probe chain runs fused into the
      // scan stage; on a single-row-group lineitem that is one core
      val li = tf(s, d, "lineitem", "l_orderkey"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
    }),
    "q03_top_orders" -> ((s, d) => {
      // fanout on the groupBy key: the hash exchange both parallelizes the
      // decimal partial aggregation (measured 885 ms serial) and already
      // satisfies the aggregation's required distribution
      val li = tf(s, d, "lineitem", "l_orderkey"); val o = t(s, d, "orders")
      li.groupBy("l_orderkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }),
    "q04_supplier_first_shipments" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(asc("l_shipdate"), asc("l_orderkey"), asc("l_linenumber"))
      // fanout on the window key: moves the WindowGroupLimit sort (measured
      // 940 ms as ONE task on the single-row-group scan) behind a hash
      // exchange that the window requires anyway, so it runs per-partition
      tf(s, d, "lineitem", "l_suppkey").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity")).cast("bigint").as("first3_qty"), count(lit(1)).as("cnt"))
    }),
    "q05_customers_with_orders" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders"); val n = t(s, d, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("cnt"))
    }),
    "q06_customers_without_orders" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders"); val n = t(s, d, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("cnt"))
    }),
    "q07_distinct_part_supp" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"))
    }),
    "q08_events_by_type" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
          max(col("k")).as("max_k"))
    }),
    "q09_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      // ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast matches
      // DuckDB's epoch_us on the naive timestamp
      tf(s, d, "events", "user_id")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    // ---------------- text analysis ----------------
    "q10_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("text_norm"))),
    "q11_token_counts" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))),
    "q12_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q13_quality_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "q14_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q15_exact_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val u = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exact(u, "doc_id", "text")
    }),
    "q16_doc_stats" -> ((s, d) =>
      t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))),
    // ---------------- similarity / dedup over embeddings ----------------
    "q17_ann_brute_force" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilaritySearch.bruteForceTopK(e.filter(col("vec_id") < 20), e, 5)
    }),
    "q18_near_dup_count" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .filter(SimilaritySearch.cosine(col("va"), col("vb")) >= 0.3)
        .agg(count(lit(1)).as("n_pairs"))
    }),
    "q26_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).cast("bigint").as("sum_qty"))),
    "q27_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), Dedup.wordShingles(col("text"), 3).as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("source"), col("sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("source"), col("sh").as("sh_b"))
      a.join(b, "source").filter(col("id_a") < col("id_b"))
        .withColumn("jac", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jac") > 0.05)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
    }),
    "q28_set_ops" -> ((s, d) => {
      val withOrders = t(s, d, "orders").select(col("o_custkey").as("k")).distinct()
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      withOrders.intersect(rich).agg(count(lit(1)).as("cnt")).withColumn("op", lit("intersect"))
        .union(withOrders.except(rich).agg(count(lit(1)).as("cnt")).withColumn("op", lit("except")))
    }),
    "q29_having" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") > 20)),
    "q30_running_total" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events").select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("run_total"))
    }),
    // ---------------- rows-only checks (no ANSI-SQL equivalent) ----------------
    "q19_minhash_dedup" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "text")
      val u = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.minHashDedup(u, "doc_id", "text", maxDistance = 0.3)
    }),
    "q20_simhash_candidates" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "text")
      val u = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.simHashCandidates(u, "doc_id", "text", maxHamming = 3)
    }),
    "q21_ann_lsh" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val e = t(s, d, "embeddings")
      SimilaritySearch.lshTopK(e.filter(col("vec_id") < 20), e, 5)
    }),
    // features arrive as array<float> (hist/n); the driver's compare needs
    // sortable scalars, so recover the integer byte-histogram exactly:
    // round(f_k * n_bytes) is exact while n_bytes << 2^23 (float mantissa)
    "q22_multimodal_features" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val feats = Multimodal.extractFeatures(Multimodal.withFakeMedia(t(s, d, "documents")))
      val hs = (0 until 8).map(k =>
        round(element_at(col("features"), k + 1).cast("double") * col("n_bytes"))
          .cast("bigint").as(s"h$k"))
      feats.select((Seq(col("doc_id"), col("media_type"), col("n_bytes")) ++ hs): _*)
    }),
    "q23_kg_triples" -> ((s, d) => entry(s)),
    "q24_entity_linking" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val surfaces = sp.range(300)
        .flatMap(i => TranscriptGen.turnsFor(i, 42L, 0, 0)
          .flatMap(t => graft.rules.Rules.extractOrgs(t.text)))
        .toDF("surface")
      Linking.canonicalize(surfaces)
    }),
    "q25_clean_chain" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        CleanText.clean(col("text")).as("text_clean"))),
    "q31_wide_export" -> ((s, d) => WideExport.widen(entry(s))),
    // F5/E1: synthesize per-doc HTML from the documents table (sentence →
    // <p> node + a labeled boilerplate row), chunk with the stateful
    // parser, explode with the GLOBAL two-pass chunk id
    "q32_html_chunks" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select(
        col("doc_id").cast("string").as("data_point_id"),
        concat(lit("<html><body><td>Location:</td><td>Berlin</td><p>"),
          regexp_replace(col("text"), lit("\\. "), lit("</p><p>")),
          lit("</p></body></html>")).as("html"))
      HtmlChunk.explodeChunks(docs)
    }),
    "q33_lang_trigram" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langIdTrigram(col("text")).as("lang_pred"))),
    // F8: sentence chunks -> windowed translate protocol (5000-char API
    // slices over a '||' join) with the deterministic stub; re-joined to
    // one sortable scalar. The stub is char-local, so the composite has an
    // exact SQL twin even though the windowing genuinely executes.
    "q34_translate_chunks" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        array_join(
          graft.functions.Kernels.translate_chunks(split(col("text"), "\\. "),
            TextAnalysis.langId(col("text"))),
          "||").as("translated"))),
    // ------------- independent semantic oracles for the LSH family -------------
    // q35/q36: the LSH-candidate paths must reproduce the EXACT Jaccard
    // pair set at their thresholds — DuckDB recomputes that set directly
    // (the q27 machinery, unblocked), so a single pair lost by banding
    // fails the row/hash compare. These convert the q19/q20 golden pins
    // into true cross-engine semantic checks.
    "q35_minhash_pair_recall" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "text")
      val u = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.minHashCandidates(u, "doc_id", "text", maxDistance = 0.3)
        .select(col("id_a"), col("id_b"), round(lit(1.0) - col("dist"), 4).as("jac"))
    }),
    // threshold 0.0 = exact-duplicate pairs: that is the recall 4×16-bit
    // hamming banding GUARANTEES (identical text → hamming 0 → all four
    // bands collide); J≥0.9-but-not-identical pairs can land at hamming>3
    // (measured: 16 of 600 at sf0.01), so gating those would pin an
    // accident, not a property. Near-dup recall is q35's minhash gate.
    "q36_simhash_recall" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "text")
      val u = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val sh = u.select(col("doc_id").cast("long").as("id"),
        Dedup.wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      Dedup.simHashCandidates(u, "doc_id", "text", maxHamming = 3)
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jac", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(lit(1.0) - col("jac") <= 0.0)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
    }),
    // q37: at a high-recall band config the LSH ANN must return EXACTLY the
    // brute-force top-5 (deterministic seeded hashes) — the oracle is the
    // same DuckDB SQL that verifies q17, so ANN recall is now checked
    // cross-engine rather than only Spark-vs-Spark.
    "q37_ann_lsh_exact" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val e = t(s, d, "embeddings")
      SimilaritySearch.lshTopK(e.filter(col("vec_id") < 20), e, 5, bands = 64, bandBits = 4)
    }),
    // q40: the signed-projection-blocked embedding near-dup must reproduce
    // DuckDB's exact cosine pair set at the threshold (same cross-engine
    // recall contract as q35, over vectors instead of shingles)
    "q40_embedding_near_dup" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val e = t(s, d, "embeddings")
      // corpus ∪ exact copy (the q15/q19 union pattern): 1000 cos=1.0 pairs
      // that identical bucket signatures MUST catch, plus the corpus's one
      // natural cos≥0.5 pair exercising banding recall (16×4-bit bands,
      // deterministic seeded hyperplanes — verified exhaustive vs the
      // oracle at sf0.01)
      val u = e.select(col("vec_id"), col("embedding"))
        .union(e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDup(u, minCosine = 0.5, bands = 16, bandBits = 4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),
    // q41: probing EVERY inverted list makes IVF exhaustive, so its top-5
    // must equal brute force (the q17 SQL) — pins that the quantizer/list
    // plumbing loses NO corpus vector (a dropped or NaN-assigned row would
    // surface as a missing neighbor)
    "q41_ann_ivf_exhaustive" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val e = t(s, d, "embeddings")
      SimilaritySearch.ivfTopK(e.filter(col("vec_id") < 20), e, 5,
        nLists = 16, nProbe = 16)
    }),
    // q42: the S3 Excel surface end-to-end — a bounded slice of the
    // documents table written through the minimal OOXML sink and read back
    // through the scan (string cells, pandas shape); DuckDB recomputes the
    // same slice from the parquet source, so both the writer's XML
    // escaping and the reader's parsing are value-checked cross-engine.
    "q42_excel_roundtrip" -> ((s, d) => {
      import graft.sources.ExcelScan
      val slice = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(asc("doc_id")).limit(10)
        .collect() // bounded: 10 rows (xlsx is a small-file format)
        .map(r => Seq(r.get(0).toString, r.getString(1), r.get(2).toString).map(v => v: String))
      val path = java.nio.file.Files.createTempDirectory("graft-x")
        .resolve("q42.xlsx").toString
      ExcelScan.writeXlsx(path, Seq("doc_id", "lang", "n_chars"), slice.toSeq)
      ExcelScan.read(s, path)
    }),
    // q43: the §2.10 streaming surface end-to-end — the events table fed
    // through a MemoryStream into a watermarked tumbling-window streaming
    // aggregation (a REAL StreamingQuery: micro-batches, state store,
    // complete-mode memory sink), cross-checked against DuckDB's
    // time_bucket recomputation of the same windows from parquet.
    "q43_stream_windows" -> ((s, d) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sq = s.sqlContext
      val rows = t(s, d, "events")
        .select(col("event_type"), col("ts").cast("timestamp"))
        .as[(String, java.sql.Timestamp)].collect().toSeq // bounded feed: sf0.01 events
      val stream = MemoryStream[(String, java.sql.Timestamp)]
      val agg = stream.toDF().toDF("event_type", "ts")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("cnt"))
      val name = "q43tbl_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      stream.addData(rows)
      q.processAllAvailable()
      q.stop()
      s.table(name)
    }),
    // q44: the REAL pure-JDK media codecs (PNG via javax.imageio, WAV via
    // the RIFF parse) run distributed over the documents table; analytic
    // invariants — decoded dims == declared dims, sine RMS == A/√2, zero-
    // crossing rate == 2f/sr — are asserted per row and gated against a
    // constant-truth oracle (DuckDB cannot decode PNG/WAV, but physics can
    // say what the features must be).
    "q44_media_codecs" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id")
      // expected dims/amp/freq recomputed ANALYTICALLY from doc_id (the
      // same floorMod formulas the generators use) — no self-join back to
      // the media frame, so each codec lineage is evaluated exactly once,
      // and each frame is reduced by exactly one aggregation
      val img = Multimodal.extractImageFeatures(Multimodal.withPngMedia(docs))
      val dims = img
        .withColumn("exp_w", (pmod(col("doc_id"), lit(80)) + 16).cast("float"))
        .withColumn("exp_h", (pmod(col("doc_id") * 7, lit(80)) + 16).cast("float"))
        .agg((count(lit(1)) === sum(when(
          element_at(col("features"), 5) === col("exp_w") &&
          element_at(col("features"), 6) === col("exp_h"), 1).otherwise(0))).as("ok"))
        .select(lit("png_decoded_dims_match").as("invariant"), col("ok"))
      val au = Multimodal.extractAudioFeatures(Multimodal.withWavMedia(docs))
        .withColumn("amp", lit(0.25) + pmod(col("doc_id"), lit(4)) * lit(0.2))
        .withColumn("freq", lit(100.0) + pmod(col("doc_id"), lit(40)) * lit(10.0))
        .agg(
          (count(lit(1)) === sum(when(
            abs(element_at(col("features"), 1) - col("amp") / math.sqrt(2.0)) <= 0.01, 1)
            .otherwise(0))).as("rms_ok"),
          (count(lit(1)) === sum(when(
            abs(element_at(col("features"), 2) - col("freq") * 2.0 / 8000.0) <= 0.005, 1)
            .otherwise(0))).as("zcr_ok"))
      val rmsOk = au.select(lit("wav_rms_matches_analytic").as("invariant"), col("rms_ok").as("ok"))
      val zcrOk = au.select(lit("wav_zcr_matches_analytic").as("invariant"), col("zcr_ok").as("ok"))
      // GIF frame sampling (real container decode): every 3rd of 12 frames
      // per doc, and each sampled frame's pooled mean equals the analytic
      // gray the generator wrote (constant-gray frames survive the GIF
      // palette pixel-exactly; luma rounding keeps std at ~0, not exactly 0)
      val gifFrames = Multimodal.sampleFrames(
        Multimodal.withGifMedia(docs.filter(col("doc_id") < 200), nFrames = 12), everyNth = 3)
      // cache: sampledOk and grayOk are separate agg branches; uncached
      // they would each re-run the GIF encode/decode/PNG-re-encode chain
      val gf = Multimodal.extractFrameFeatures(gifFrames).cache()
      val sampledOk = gf.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), max("frame_idx").as("mx"),
          sum(pmod(col("frame_idx"), lit(3))).as("m"))
        .agg((count(lit(1)) === sum(when(
          col("n") === 4 && col("mx") === 9 && col("m") === 0, 1).otherwise(0))).as("ok"))
        .select(lit("gif_sampled_every_3rd_of_12").as("invariant"), col("ok"))
      val grayOk = gf
        .withColumn("exp_gray",
          pmod(col("doc_id") * 31 + col("frame_idx") * 17, lit(256)).cast("double") / 255.0)
        .agg((count(lit(1)) === sum(when(
          abs(element_at(col("features"), 1) - col("exp_gray")) <= 1e-6 &&
          element_at(col("features"), 4) <= 1e-3f, 1).otherwise(0))).as("ok"))
        .select(lit("gif_frame_mean_matches_analytic").as("invariant"), col("ok"))
      dims.union(rmsOk).union(zcrOk).union(sampledOk).union(grayOk)
    }),
    // ------------- live-output invariants (oracle = constant truth) -------------
    // The golden-parquet pins freeze cross-run determinism; these two
    // queries assert SEMANTIC invariants of the live outputs against a
    // CONSTANT oracle, so a bug frozen into a golden at dump time cannot
    // report green here.
    "q38_chunk_invariants" -> ((s, d) => {
      val c = queries("q32_html_chunks")(s, d)
      c.agg(count(lit(1)).as("n"), countDistinct(col("chunk_id")).as("d"),
          min(col("chunk_id")).as("mn"), max(col("chunk_id")).as("mx"))
        .select(lit("chunk_ids_dense_0_to_n").as("invariant"),
          (col("d") === col("n") && col("mn") === 0 && col("mx") === col("n") - 1).as("ok"))
    }),
    "q39_dedup_invariants" -> ((s, d) => {
      val q19 = queries("q19_minhash_dedup")(s, d)
      val q20 = queries("q20_simhash_candidates")(s, d)
      val q24 = queries("q24_entity_linking")(s, d)
      val keepLe = q19.agg((count(lit(1)) === sum(when(col("keep_id") <= col("id"), 1).otherwise(0))).as("ok"))
        .select(lit("q19_keep_le_id").as("invariant"), col("ok"))
      val keepClosed = q19.select(col("keep_id").as("k")).distinct()
        .join(q19.filter(col("id") === col("keep_id")).select(col("id").as("k")), Seq("k"), "left_anti")
        .agg((count(lit(1)) === 0).as("ok"))
        .select(lit("q19_keep_is_own_rep").as("invariant"), col("ok"))
      val ordered = q20.agg((count(lit(1)) === sum(when(col("id_a") < col("id_b"), 1).otherwise(0))).as("ok"))
        .select(lit("q20_pairs_ordered").as("invariant"), col("ok"))
      val nodup = q20.agg((count(lit(1)) === countDistinct(col("id_a"), col("id_b"))).as("ok"))
        .select(lit("q20_pairs_distinct").as("invariant"), col("ok"))
      val surfUnique = q24.agg((count(lit(1)) === countDistinct(col("surface"))).as("ok"))
        .select(lit("q24_surface_unique").as("invariant"), col("ok"))
      val canonSelf = q24.select(col("canonical").as("c")).distinct()
        .join(q24.filter(col("surface") === col("canonical")).select(col("surface").as("c")),
          Seq("c"), "left_anti")
        .agg((count(lit(1)) === 0).as("ok"))
        .select(lit("q24_canonical_self_mapped").as("invariant"), col("ok"))
      keepLe.union(keepClosed).union(ordered).union(nodup).union(surfUnique).union(canonSelf)
    }),
    "q45_triple_golden_pr" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // Independent semantic gate for the q23 golden pin: the distributed
      // pipeline's live triples vs graft.golden.GoldenPipeline — a pure
      // driver-side re-derivation of the reference's per-conversation loop
      // semantics (ProcessAndMergeInfo/MergeAndExportInfo row by row, a
      // disjoint code path from the Catalyst pipeline). This surfaces
      // BASELINE.json's P/R >= 0.95 criterion as a driver-visible
      // CORRECTNESS row; a bug frozen into the golden parquet at dump time
      // cannot report green here. Collect is size-gated by construction
      // (the entry window is 100 conversations).
      val got = queries("q23_kg_triples")(s, d)
        .select("subj", "pred", "obj").as[(String, String, String)]
        .collect().map { case (a, p, o) => graft.model.Triple(a, p, o) }.toSet
      val want = graft.golden.GoldenPipeline.allTriples(100L, 42L, 1, 200).toSet
      val tp = (got intersect want).size.toDouble
      val precision = if (got.nonEmpty) tp / got.size else 0.0
      val recall = if (want.nonEmpty) tp / want.size else 0.0
      val convIds = (0L until 100L).map(i => f"conv-$i%08d").toSet
      // single source of truth for the pred vocabulary (includes the X5
      // date preds, valid when --extract-dates is on)
      val allowedPreds = WideExport.preds.toSet
      // the north rule's per-row invariant: the pipeline carries turn text
      // unmodified under stable (conv_id, turn_idx) ordering
      val textEqual = {
        val carried = KgPipeline.cleanTurns(
            graft.sources.TranscriptGen.dataset(s, 20, seed = 42L, 1, 50))
          .select("conv_id", "turn_idx", "text").as[(String, Int, String)]
          .collect().sortBy(t => (t._1, t._2)).toSeq
        val original = (0L until 20L)
          .flatMap(i => graft.sources.TranscriptGen.turnsFor(i, 42L, 1, 50))
          .map(t => (t.conv_id, t.turn_idx, t.text)).sortBy(t => (t._1, t._2))
        carried == original
      }
      Seq(
        ("golden_precision_ge_095", precision >= 0.95),
        ("golden_recall_ge_095", recall >= 0.95),
        ("subjects_subset_of_conv_ids", got.forall(t => convIds.contains(t.subj))),
        ("preds_in_allowed_set", got.forall(t => allowedPreds.contains(t.pred))),
        ("no_null_or_empty_obj", got.forall(t => t.obj != null && t.obj.nonEmpty)),
        ("per_turn_text_equality", textEqual)
      ).toDF("invariant", "ok")
    }),
    "q46_clean_invariants" -> ((s, d) => {
      // Live-output invariants of the F3 clean chain vs a CONSTANT oracle
      // (complements the q25 golden pin): the chain's contract is
      // lowercase, tag-free, control-free, single-spaced, trimmed and
      // custom-punctuation-free output (the reference chain's final passes,
      // ExtractInfo.py:154-207).
      val c = queries("q25_clean_chain")(s, d)
      val tc = col("text_clean")
      def all(cond: Column): Column =
        (count(lit(1)) === sum(when(cond, 1).otherwise(0)))
      // ONE scan of the clean chain for all six flags (separate agg
      // branches would re-run the full chain per invariant), then stack
      // to (invariant, ok) rows
      c.agg(
          all(tc === lower(tc)).as("clean_lowercase"),
          all(!tc.contains("<") && !tc.contains(">")).as("clean_no_tags"),
          all(!tc.contains("\n") && !tc.contains("\r") && !tc.contains("\t"))
            .as("clean_no_control"),
          all(!tc.contains("  ")).as("clean_single_spaced"),
          all(tc === trim(tc)).as("clean_trimmed"),
          all(length(translate(tc, "!\"#;<=>?@[\\]^`{|}~", "")) === length(tc))
            .as("clean_no_custom_punct"))
        .selectExpr("""stack(6,
          'clean_lowercase', clean_lowercase,
          'clean_no_tags', clean_no_tags,
          'clean_no_control', clean_no_control,
          'clean_single_spaced', clean_single_spaced,
          'clean_trimmed', clean_trimmed,
          'clean_no_custom_punct', clean_no_custom_punct) AS (invariant, ok)""")
    }),
    "q47_wide_invariants" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // The J2 spine pivot (q31) checked as the inverse of the live triple
      // set: one row per triple subject, per-pred cell counts equal the
      // per-pred subject counts, and the '; '-joined skill cells conserve
      // the skill triple count (the round-1 comma-corruption class of bug
      // cannot pass this). Aggregates are O(preds) driver-side scalars.
      val wide = queries("q31_wide_export")(s, d)
      val triples = queries("q23_kg_triples")(s, d)
      // ONE job over the pivot for every scalar (count(col) skips nulls;
      // 17 separate count() actions would re-run the widen per scalar)
      val wideAggs = Seq(
        countDistinct(col("subj")).as("n_ids"),
        sum(when(col("skill").isNotNull, size(split(col("skill"), "; ")))
          .otherwise(0)).as("skill_vals")) ++
        WideExport.preds.map(p => count(col(p)).as(s"c_$p"))
      val wideRow = wide.agg(count(lit(1)).as("n_rows"), wideAggs: _*).head()
      val nWide = wideRow.getAs[Long]("n_rows")
      val idsUnique = wideRow.getAs[Long]("n_ids") == nWide
      val cellCounts: Map[String, Long] =
        WideExport.preds.map(p => p -> wideRow.getAs[Long](s"c_$p")).toMap
      val skillCells = wideRow.getAs[Long]("skill_vals")
      // one job over the triples for the per-pred subject counts + total
      val subjCounts: Map[String, Long] = triples.groupBy("pred")
        .agg(countDistinct(col("subj")).as("n")).as[(String, Long)].collect().toMap
      val nSubj = triples.agg(countDistinct(col("subj"))).as[Long].head()
      val cellsMatch = WideExport.preds.forall(p => cellCounts(p) == subjCounts.getOrElse(p, 0L))
      val skillTriples = triples.filter(col("pred") === "skill").count()
      Seq(
        ("wide_row_per_triple_subject", nWide == nSubj),
        ("wide_ids_unique", idsUnique),
        ("wide_cells_match_subject_counts", cellsMatch),
        ("wide_skill_cells_conserve_triples", skillCells == skillTriples)
      ).toDF("invariant", "ok")
    }),
    "q48_skill_dbscan" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // X17 (the reference's dead DBSCAN skill filter, utilities.py:525-648)
      // exercised over LIVE per-conversation skill sets from the q23
      // triples. The gates are derived INDEPENDENTLY of the kernel: the
      // zero-norm vocabulary comes straight from the taxonomy node counts
      // (a skill has nonzero NACE and ISCO level-1 mass), not from
      // SkillCluster's vectors; sklearn-equivalence of the sweep itself is
      // the SkillClusterSpec differential.
      val vocab = {
        val nace = graft.rules.DictRules.naceNodes
        val isco = graft.rules.DictRules.iscoLevels.head
        graft.sources.Dims.skills.map(_.label).filter(l =>
          nace.exists(_.counts.getOrElse(l, 0) > 0) &&
            isco.exists(_.counts.getOrElse(l, 0) > 0)).sorted
      }
      val triples = queries("q23_kg_triples")(s, d)
      val perConv = triples.filter(col("pred") === "skill")
        .groupBy(col("subj"))
        .agg(sort_array(collect_set(lower(col("obj")))).as("skills"))
        .withColumn("kept",
          graft.functions.Kernels.filter_skills_dbscan(col("skills")))
        .withColumn("in_vocab", array_intersect(col("skills"), typedLit(vocab)))
      def all(cond: Column): Column = (count(lit(1)) === sum(when(cond, 1).otherwise(0)))
      perConv.agg(
          all(forall(col("kept"), k => array_contains(col("skills"), k)))
            .as("kept_subset_of_input"),
          all(forall(col("kept"), k => array_contains(col("in_vocab"), k)))
            .as("kept_subset_of_taxonomy_vocab"),
          all(size(col("in_vocab")) > 2 || col("kept") === col("in_vocab"))
            .as("small_sets_keep_all_vocab_skills"),
          (max(size(col("in_vocab"))) > 2).as("dbscan_path_exercised"),
          (count(lit(1)) > 0).as("convs_nonempty"))
        .selectExpr("""stack(5,
          'kept_subset_of_input', kept_subset_of_input,
          'kept_subset_of_taxonomy_vocab', kept_subset_of_taxonomy_vocab,
          'small_sets_keep_all_vocab_skills', small_sets_keep_all_vocab_skills,
          'dbscan_path_exercised', dbscan_path_exercised,
          'convs_nonempty', convs_nonempty) AS (invariant, ok)""")
    }),
    "q50_stream_triples" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // Streaming KG construction end-to-end as a LIVE gate: a real
      // StructuredStreaming query (event-time timeout completion) must
      // emit, for every completed conversation, exactly the triples the
      // batch pipeline derives — orgs compared through the batch-side
      // canonical map (canonicalization is cross-conv, batch-owned).
      // The harness is SHARED with StreamingTriplesSpec (parityRun) so
      // the gate and the spec cannot drift.
      val nConvs = 25
      val (streamed, batch, canon) =
        graft.streaming.StreamingTriples.parityRun(nConvs)
      def nonOrg(t: Set[graft.model.Triple]) = t.filterNot(_.pred == "hiring_organization")
      val orgsCanon = streamed.filter(_.pred == "hiring_organization")
        .map(t => graft.model.Triple(t.subj, t.pred, canon.getOrElse(t.obj, t.obj)))
      Seq(
        ("stream_nonorg_equals_batch", nonOrg(streamed) == nonOrg(batch)),
        ("stream_orgs_equal_batch_via_canonical_map",
          orgsCanon == batch.filter(_.pred == "hiring_organization")),
        ("all_convs_completed", streamed.map(_.subj).size >= nConvs - 1),
        ("stream_nonempty", streamed.nonEmpty)
      ).toDF("invariant", "ok")
    }),
    "q49_similarity_join" -> ((s, d) => {
      // The Catalyst similarity-join rewrite exercised through the driver:
      // the query is the O(n²) DECLARATIVE form — a full cross join with a
      // token_jaccard threshold — and plans.SimilarityJoinRule turns it
      // into the exact inverted-index token join (ExtensionsSpec pins the
      // plan shape; this oracle pins the values against DuckDB's exact
      // quadratic evaluation of the same predicate).
      val docs = t(s, d, "documents")
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val tj = graft.functions.TokenJaccardFunctions.token_jaccard(col("sh_a"), col("sh_b"))
      a.crossJoin(b)
        .filter(tj > 0.05 && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), round(tj, 4).as("jac"))
    }),
    "q51_conv_path_parity" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // The s4 clustered fast path (ConvFinalize.runClustered — interior
      // conversations resolved map-side, per-turn payload never shuffled)
      // vs the order-insensitive salted path, over REAL extracted rows
      // (generator-labeled categories — no model in the loop, so the gate
      // isolates the aggregation operator). The clustered input is forced
      // through an awkward 7-way range split so conversations straddle
      // partition boundaries and the boundary-partial merge is exercised,
      // not just the interior path. Collect is bounded: 120 conversations.
      val nConvs = 120
      val labeled = sp.range(0, nConvs.toLong)
        .flatMap(i => graft.sources.TranscriptGen.labeledTurnsFor(i, 42L, 2, 150)
          .map { case (tn, c) => (tn.conv_id, tn.turn_idx, tn.role, tn.tool, tn.text, c) })
        .toDF("conv_id", "turn_idx", "role", "tool", "text", "category")
        .withColumn("text_clean", graft.functions.Kernels.clean_text(col("text")))
      val extracted = TurnExtract.extract(labeled)
      val salted = ConvFinalize.run(extracted).collect()
        .map(c => c.conv_id -> c).toMap
      // uncached: a range shuffle re-samples its bounds on each execution,
      // so runClustered must not trust a boundary pass over it and takes
      // the salted path whole. The cached copy is a verified layout with
      // straddlers: the narrow scan plus the salted path over them.
      val clusteredIn = extracted
        .repartitionByRange(7, col("conv_id"), col("turn_idx"))
        .sortWithinPartitions("conv_id", "turn_idx")
      def clusteredOf(in: DataFrame) = ConvFinalize.runClustered(in, bucketSize = 32)
        .collect().map(c => c.conv_id -> c).toMap
      val clustered = clusteredOf(clusteredIn)
      val cachedIn = clusteredIn.cache()
      val narrow = try clusteredOf(cachedIn) finally cachedIn.unpersist()
      Seq(
        ("clustered_equals_salted", clustered == salted && narrow == salted),
        ("all_convs_resolved", salted.size == nConvs && clustered.size == nConvs),
        ("skew_conv_present", salted.keySet.exists(_.endsWith("00000000")))
      ).toDF("invariant", "ok")
    }),
    // q52: manifest-level file skipping end-to-end — documents split into
    // three appended file groups by doc_id thirds, then a range read that
    // must (a) SKIP two of the three groups at the manifest layer (require
    // enforces it — a pruning regression fails the query, not just a
    // perf number) and (b) return value-exactly what DuckDB's full-scan
    // filter over the same parquet computes with the same cut points.
    "q52_versioned_prune" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * (hi - lo) / 3
      val table = java.nio.file.Files.createTempDirectory("graft-vt").toString
      VersionedTable.overwrite(docs.where(col("doc_id") <= c1), table)
      VersionedTable.append(docs.where(col("doc_id") > c1 && col("doc_id") <= c2), table)
      VersionedTable.append(docs.where(col("doc_id") > c2), table)
      val cur = VersionedTable.versions(table).last
      val (keep, skip) = VersionedTable.pruneDirs(table, cur, "doc_id", c1 + 1, c2)
      require(keep.size == 1 && skip.size == 2,
        s"manifest pruning regressed: kept ${keep.size} of ${cur.dirs.size} file groups")
      VersionedTable.readRange(table, "doc_id", c1 + 1, c2)
        .select("doc_id", "lang", "n_chars")
    }),
    // q53: row-level ops + exactly-once, cross-engine — build a versioned
    // table from `documents` in halves (the second half through a txn-keyed
    // appendOnce whose CRASH REPLAY, re-delivering the FULL table as its
    // payload, must no-op through the manifest ledger), DELETE the second
    // quarter by doc_id range, then MERGE-upsert a batch straddling the
    // delete boundary with n_chars shifted +1000 (updates survivors,
    // re-inserts deleted keys). DuckDB recomputes the identical final state
    // from documents.parquet alone — a bug in any of the four ops (or a
    // duplicate from the replayed txn) breaks the value match.
    "q53_versioned_rowops" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val mid = lo + (hi - lo) / 2
      val (d1, d2) = (lo + (hi - lo) / 4, mid)
      val (u1, u2) = (lo + 3 * (hi - lo) / 8, lo + 5 * (hi - lo) / 8)
      val table = java.nio.file.Files.createTempDirectory("graft-vt-rowops").toString
      VersionedTable.overwrite(docs.where(col("doc_id") <= mid), table)
      val (_, first) = VersionedTable.appendOnce(docs.where(col("doc_id") > mid), table, "load#1")
      val (_, replay) = VersionedTable.appendOnce(docs, table, "load#1")
      require(first && !replay,
        "exactly-once ledger regressed: first commit and its replay must be (true, false)")
      VersionedTable.deleteRange(table, "doc_id", d1, d2)
      VersionedTable.merge(
        docs.where(col("doc_id").between(u1, u2))
          .withColumn("n_chars", col("n_chars") + lit(1000L)), table, "doc_id")
      VersionedTable.read(table).select("doc_id", "lang", "n_chars")
    }),
    // q54: TIME TRAVEL past destructive rewrites — same table lifecycle as
    // q53 (overwrite, appendOnce, delete, merge), then read AS OF v2: the
    // old manifest must reconstruct the exact pre-delete/pre-merge table
    // even though later versions rewrote its file groups copy-on-write.
    // DuckDB's twin is the untouched source table itself.
    "q54_versioned_time_travel" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val mid = lo + (hi - lo) / 2
      val table = java.nio.file.Files.createTempDirectory("graft-vt-tt").toString
      VersionedTable.overwrite(docs.where(col("doc_id") <= mid), table)
      VersionedTable.appendOnce(docs.where(col("doc_id") > mid), table, "load#1")
      VersionedTable.deleteRange(table, "doc_id", lo + (hi - lo) / 4, mid)
      VersionedTable.merge(
        docs.where(col("doc_id").between(lo + 3 * (hi - lo) / 8, lo + 5 * (hi - lo) / 8))
          .withColumn("n_chars", col("n_chars") + lit(1000L)), table, "doc_id")
      VersionedTable.readAsOf(table, 2).select("doc_id", "lang", "n_chars")
    }),
    // q55: SORT-strategy rewrite_data_files — documents loaded as three
    // doc_id%3 slices, so every file group spans the full key range and the
    // manifest stats can skip NOTHING (require pins that too); after
    // rewriteSorted the same middle-third range read must skip at least
    // half the (now range-disjoint) groups AND value-match DuckDB's
    // full-scan filter with the q52 cut points. This is the maintenance op
    // that turns stats pruning exact on accreted layouts.
    "q55_versioned_sorted_rewrite" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * (hi - lo) / 3
      val table = java.nio.file.Files.createTempDirectory("graft-vt-sorted").toString
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 1), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 2), table)
      val before = VersionedTable.versions(table).last
      val (keepB, _) = VersionedTable.pruneDirs(table, before, "doc_id", c1 + 1, c2)
      require(keepB.size == 3,
        s"interleaved groups must all overlap the range: kept ${keepB.size} of 3")
      val after = VersionedTable.rewriteSorted(table, "doc_id", targetGroups = 8)
      require(after.snapshotId == before.snapshotId,
        "sorted rewrite must preserve the content snapshot id")
      val (keepA, skipA) = VersionedTable.pruneDirs(table, after, "doc_id", c1 + 1, c2)
      require(skipA.size >= after.dirs.size / 2,
        s"sorted layout should skip most groups: kept ${keepA.size} of ${after.dirs.size}")
      VersionedTable.readRange(table, "doc_id", c1 + 1, c2)
        .select("doc_id", "lang", "n_chars")
    }),
    // q56: the FileIndex seam — the SAME range predicate as q52 expressed
    // as a PLAIN declarative filter over VersionedTable.scan (no readRange
    // call): Catalyst pushes the filter into the scan and GraftFileIndex
    // answers with only the matching file group, asserted via lastKeptDirs.
    // The oracle is the identical DuckDB full-scan filter, so the pruned
    // declarative read is pinned value-exact every round.
    "q56_versioned_scan_pushdown" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * (hi - lo) / 3
      val table = java.nio.file.Files.createTempDirectory("graft-vt-scan").toString
      VersionedTable.overwrite(docs.where(col("doc_id") <= c1), table)
      VersionedTable.append(docs.where(col("doc_id") > c1 && col("doc_id") <= c2), table)
      VersionedTable.append(docs.where(col("doc_id") > c2), table)
      val (scan, idx) = VersionedTable.scanIndexed(table)
      val out = scan.where(col("doc_id").between(c1 + 1, c2))
        .select("doc_id", "lang", "n_chars")
      val n = out.count() // plans + executes: listFiles sees the pushed filter
      require(idx.lastKeptDirs.size == 1,
        s"pushdown pruning regressed: planned ${idx.lastKeptDirs.size} of 3 file groups")
      require(n > 0, "pruned scan returned no rows")
      out
    }),
    // q57: the FULL standing maintenance cycle — arrival-order accretion
    // (4 interleaved appends), sorted rewrite, expire to 1 version, vacuum
    // — must be invisible to readers: the post-maintenance scan value-
    // matches DuckDB's plain full-scan of the source, while the layout
    // assertions prove the maintenance actually happened (8 range-disjoint
    // groups, 4 versions expired, snapshot id unchanged throughout).
    "q57_versioned_maintenance" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val table = java.nio.file.Files.createTempDirectory("graft-vt-maint").toString
      (0 until 4).foreach(g => VersionedTable.append(
        docs.where(pmod(col("doc_id"), lit(4)) === g), table))
      val accreted = VersionedTable.versions(table).last
      val sorted = VersionedTable.rewriteSorted(table, "doc_id", targetGroups = 8)
      require(sorted.snapshotId == accreted.snapshotId, "sort changed content")
      val expired = VersionedTable.expire(table, keep = 1)
      require(expired.size >= 4, s"expected >= 4 expired dirs, got ${expired.size}")
      VersionedTable.vacuum(table, olderThanMillis = 0L)
      val vs = VersionedTable.versions(table)
      require(vs.size == 1 && vs.last.snapshotId == accreted.snapshotId,
        "maintenance must leave one retained version with identical content")
      VersionedTable.scan(table).select("doc_id", "lang", "n_chars")
    }),
    // q58: the bucketed co-located join (J1's target layout) — documents
    // and a per-lang dim written bucketBy(8, lang)+sortBy, joined with a
    // plan REQUIRED to contain no shuffle exchange and no sort, values
    // pinned against DuckDB's plain join.
    "q58_bucketed_join" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.SortExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val dim = docs.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
      val base = java.nio.file.Files.createTempDirectory("graft-bk").toString
      graft.sources.TableIO.writeBucketed(docs, s"$base/docs", "q58_docs", 8, Seq("lang"))
      graft.sources.TableIO.writeBucketed(dim, s"$base/dim", "q58_dim", 8, Seq("lang"))
      // Force the sort-merge path: under the session's 8 MB broadcast
      // threshold the tiny dim would broadcast-hash-join, which contains no
      // exchange/sort REGARDLESS of bucketing and would make both pins
      // vacuous. The legacy conf lets the scan report the sortBy ordering
      // (one file per bucket, guaranteed by writeBucketed) so the SMJ needs
      // no SortExec either — the full co-located layout, as a 100 TB
      // fact-fact join would use it.
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevOrd = s.conf.getOption(
        "spark.sql.legacy.bucketedTableScan.outputOrdering").getOrElse("false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val joined = s.table("q58_docs").join(s.table("q58_dim"), "lang")
          .select("doc_id", "lang", "n_chars", "lang_docs")
        // exchange/sort absence is a static planning property (AQE reuses
        // exchanges, it never removes them), so the initial physical plan
        // is the right object to inspect
        val executed = joined.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        require(executed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          "bucketed join shuffled — co-location regressed")
        require(executed.collect { case e: SortExec => e }.isEmpty,
          "bucketed join re-sorted — sortBy layout regressed")
        joined.cache().count() // materialize under the forced-SMJ confs
        joined
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
      }
    }),
    // q59: bloom-sidecar file skipping (the Iceberg Puffin analogue) — the
    // point-lookup case min/max stats can NEVER prune: documents keyed by
    // md5(doc_id) land in four groups split by doc_id % 4, so every
    // group's [min,max] key range spans the hex space (require asserts
    // it). The lookup for min(doc_id)'s key must open exactly one group
    // (bloom evidence, require-enforced) and value-match DuckDB's
    // full-scan filter computing the same md5 probe.
    "q59_bloom_point_lookup" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select(
        substring(md5(col("doc_id").cast("string")), 1, 16).as("key"),
        col("doc_id"), col("n_chars"))
      val table = java.nio.file.Files.createTempDirectory("graft-vt-bloom").toString
      VersionedTable.setBloomColumns(table, Seq("key"), fpp = 0.001)
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(4)) === 0), table)
      (1 to 3).foreach(k =>
        VersionedTable.append(docs.where(pmod(col("doc_id"), lit(4)) === k), table))
      val lo = docs.agg(min(col("doc_id")).cast("long")).collect()(0).getLong(0)
      val probe = java.security.MessageDigest.getInstance("MD5")
        .digest(lo.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
      val cur = VersionedTable.versions(table).last
      cur.dirs.foreach { dir => // prove range stats alone could not prune
        val cs = VersionedTable.groupStats(table, dir).get.cols("key")
        require(cs.min.get <= probe && probe <= cs.max.get,
          s"fixture broke: group key range excludes the probe — bloom not exercised")
      }
      val (scan, idx) = VersionedTable.scanIndexed(table)
      val out = scan.where(col("key") === probe).select("key", "doc_id", "n_chars")
      val n = out.count() // plans + executes: listFiles sees the pushed filter
      require(n >= 1, "bloom point lookup returned no rows")
      require(idx.lastKeptDirs.size == 1,
        s"bloom pruning regressed: planned ${idx.lastKeptDirs.size} of 4 file groups")
      out
    }),
    // q60: the ZORDER rewrite — documents accreted as three doc_id%3
    // slices (every group spans BOTH axes; stats prune nothing), then
    // rewriteZOrder(doc_id, n_chars) into 16 groups and a conjunctive 2-D
    // box (middle doc_id third × lower n_chars half). The rewrite must
    // preserve the content snapshot id, the box must open at most half
    // the groups (require — a single-column sort leaves one axis a full
    // scan; z-order is the layout that serves both), and the rows must
    // value-match DuckDB's full-scan filter with the same cut points.
    "q60_zorder_box" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val r = docs.agg(
        min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"),
        min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long")).collect()(0)
      val (lo, hi, nlo, nhi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val nMid = nlo + (nhi - nlo) / 2
      val table = java.nio.file.Files.createTempDirectory("graft-vt-z").toString
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      (1 to 2).foreach(k =>
        VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === k), table))
      val before = VersionedTable.versions(table).last
      val v = VersionedTable.rewriteZOrder(table, Seq("doc_id", "n_chars"), targetGroups = 16)
      require(v.snapshotId == before.snapshotId, "z-order rewrite changed content")
      val (scan, idx) = VersionedTable.scanIndexed(table)
      val out = scan
        .where(col("doc_id").between(c1 + 1, c2) && col("n_chars").between(nlo, nMid))
        .select("doc_id", "lang", "n_chars")
      val n = out.count()
      require(n > 0, "z-order box returned no rows")
      require(idx.lastKeptDirs.size <= v.dirs.size / 2,
        s"z-order pruning regressed: planned ${idx.lastKeptDirs.size} of ${v.dirs.size} groups")
      out
    }),
    // q61: the incremental append read (Iceberg incremental scan) —
    // documents committed as v1=slice0, v2=slice1, v3=COMPACTION (layout
    // only), v4=slice2; readChangesBetween(v1, v4] must deliver exactly
    // slices 1 and 2 — the compaction's rewritten file groups contribute
    // NOTHING even though they carry every v1 row — and value-match
    // DuckDB's recomputation of the same modulo slices.
    "q61_incremental_read" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val table = java.nio.file.Files.createTempDirectory("graft-vt-inc").toString
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 1), table)
      VersionedTable.compact(table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 2), table)
      val out = VersionedTable.readChangesBetween(table, 1, 4)
        .select("doc_id", "lang", "n_chars")
      require(out.count() > 0, "incremental read returned no rows")
      out
    }),
    // q62: TIME-RANGE file skipping — the transcripts schema's `ts` axis.
    // Events accrete as three contiguous time windows (the natural shape
    // of streaming ingest); a time-window read through the plain
    // declarative scan must open exactly 1 of 3 file groups (manifest
    // timestamp stats, stored as epoch micros — the domain Catalyst's
    // timestamp literals compare in) and value-match DuckDB's full-scan
    // filter with the same micros cut points.
    "q62_versioned_time_prune" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      // events.ts is TIMESTAMP_NTZ; under the session's pinned UTC the
      // naive micros equal epoch micros, and the BETWEEN literals must be
      // NTZ too or Spark wraps the attribute in a cast and the comparison
      // stops pushing down to the FileIndex
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val ev = t(s, d, "events").select("event_id", "ts", "event_type", "value")
      val r = ev.agg(min(tsUs), max(tsUs)).collect()(0)
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val table = java.nio.file.Files.createTempDirectory("graft-vt-ts").toString
      VersionedTable.overwrite(ev.where(tsUs <= c1), table)
      VersionedTable.append(ev.where(tsUs > c1 && tsUs <= c2), table)
      VersionedTable.append(ev.where(tsUs > c2), table)
      val (scan, idx) = VersionedTable.scanIndexed(table)
      val out = scan
        .where(col("ts").between(
          timestamp_micros(lit(c1 + 1)).cast("timestamp_ntz"),
          timestamp_micros(lit(c2)).cast("timestamp_ntz")))
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type"), col("value"))
      val n = out.count()
      require(n > 0, "time-window read returned no rows")
      require(idx.lastKeptDirs.size == 1,
        s"timestamp pruning regressed: planned ${idx.lastKeptDirs.size} of 3 file groups")
      out
    }),
    // q63: ROLLBACK as a driver-gated row — documents committed as three
    // modulo slices, then the third (the "bad emit") undone by rollbackTo:
    // the new tip must be a FOURTH version carrying v2's content snapshot
    // id by reference (history intact: readAsOf(3) still sees all rows,
    // history labels the commit 'rollback', filesMetadata's group ids
    // sum to the tip id), and the post-rollback scan must value-match
    // DuckDB's recomputation of the first two slices from the source.
    "q63_rollback_restore" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val table = java.nio.file.Files.createTempDirectory("graft-vt-rb").toString
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      val good = VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 1), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 2), table)
      val nAll = VersionedTable.read(table).count()
      val tip = VersionedTable.rollbackTo(table, good.seq)
      require(tip.seq == 4 && tip.snapshotId == good.snapshotId,
        s"rollback must commit v2's content as v4: got v${tip.seq}")
      require(VersionedTable.readAsOf(table, 3).count() == nAll,
        "rollback must not rewrite history — v3 stays time-travelable")
      val lastOp = VersionedTable.history(table)
        .orderBy(col("version").desc).select("operation").head().getString(0)
      require(lastOp == "rollback", s"history mislabels the rollback: $lastOp")
      // one row per FILE — dedupe to groups first; Scala Long addition
      // wraps (the id domain is mod 2^64), where an ANSI-mode SQL sum
      // would throw on overflow
      val fmSum = VersionedTable.filesMetadata(table)
        .select("file_group", "group_snapshot_id").distinct()
        .collect().map(_.getLong(1)).sum
      require(fmSum == tip.snapshotId,
        "filesMetadata group ids must sum (mod 2^64) to the tip snapshot id")
      VersionedTable.scan(table).select("doc_id", "lang", "n_chars")
    }),
    // q67: column-mapping schema evolution — rename + drop are metadata-
    // only commits (content id unchanged, zero data rewritten), appends
    // speak the evolved logical names, and the final scan must value-match
    // DuckDB's recomputation under the new names from the raw source.
    "q67_column_mapping" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
      val table = java.nio.file.Files.createTempDirectory("graft-vt-cm").toString
      val base = VersionedTable.overwrite(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), table)
      val ren = VersionedTable.renameColumn(table, "lang", "language")
      val drp = VersionedTable.dropColumn(table, "source")
      require(ren.snapshotId == base.snapshotId && drp.snapshotId == base.snapshotId,
        "schema evolution must be metadata-only (content id changed)")
      require(VersionedTable.filesMetadata(table).count() ==
        VersionedTable.filesMetadata(table, asOf = Some(base.seq)).count(),
        "schema evolution rewrote data files")
      // the pre-evolution version still time-travels under its own names
      val v1Cols = VersionedTable.readAsOf(table, base.seq).schema.fieldNames.toSet
      require(v1Cols == Set("doc_id", "lang", "source", "n_chars"),
        s"time travel lost the original schema: $v1Cols")
      // the second half appends under the EVOLVED logical schema
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("lang").as("language"), col("n_chars")), table)
      VersionedTable.scan(table).select("doc_id", "language", "n_chars")
    }),
    // q64-q66: deterministic content-hash sampling (operators.Sampling) —
    // the draw is a pure function of the key, so DuckDB recomputes the
    // SAME md5 prefix and the compare is value-exact, which is itself the
    // point: partition-layout-dependent df.sample() could never pass this.
    "q64_hash_sample" -> ((s, d) =>
      Sampling.hashSample(t(s, d, "documents"), col("doc_id"), 0.25, "s1")
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), "sp1"))
        .select("doc_id", "lang", "n_chars", "split")),
    "q65_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(t(s, d, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.125, salt = "s2")
        .select("doc_id", "lang", "source")),
    "q66_group_topk" -> ((s, d) =>
      Sampling.groupTopK(t(s, d, "documents"), col("lang"), col("doc_id"), 3, "s3")
        .select("doc_id", "lang", "rn")),
    // q68: CHANGE DATA FEED — a versioned table accretes two slices, loses
    // a doc_id band to a row-level delete, then takes a MERGE upsert; the
    // feed of (v1, v4] must replay exactly those changes typed
    // insert/delete/update_preimage/update_postimage, and DuckDB
    // recomputes the same change set purely from the source table. The
    // middle commits' captured rows come from sidecars written AT COMMIT
    // TIME (the touched groups were being read anyway) — the consumer
    // contract for keeping 100-TB derived tables current on row deltas.
    "q68_change_feed" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val mx = docs.agg(max("doc_id")).collect()(0).getLong(0)
      val (lo, hi) = (mx / 3, 2 * (mx / 3))
      val table = java.nio.file.Files.createTempDirectory("graft-vt-cdf").toString
      VersionedTable.setChangeCapture(table, enabled = true)
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 1), table)
      VersionedTable.deleteRange(table, "doc_id", lo, hi)
      val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      VersionedTable.merge(batch, table, "doc_id")
      val tip = VersionedTable.versions(table).last.seq
      require(tip == 4, s"expected 4 commits, got $tip")
      VersionedTable.readChangeFeed(table, 1, tip)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_change_type").as("change_type"),
          col("_commit_version").cast("long").as("commit_version"))
    }),
    // q69: SEQUENCE PACKING (concat-and-chunk) — documents laid out in
    // deterministic content-hash order, token offsets by a distributed
    // prefix sum (per-partition totals only to the driver), each doc
    // split into the 2048-token training sequences it overlaps. DuckDB
    // recomputes the IDENTICAL layout with a window prefix sum — a
    // partition-dependent pack could never pass a cross-engine exact
    // compare, and reproducible packing is what makes training runs
    // replayable and contamination audits possible.
    "q69_sequence_pack" -> ((s, d) =>
      Packing.packSequences(
          t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          col("doc_id"), col("n_chars"), seqLen = 2048, salt = "pk")
        .select("doc_id", "lang", "n_tokens", "start_offset",
          "seq_id", "span_begin", "span_len")),
    // q70: MERGE-ON-READ equality deletes (Iceberg v2 delete files) — the
    // delete commits ONE small key file and zero data rewrites (dirs
    // require-asserted identical), the content snapshot id stays exact via
    // the hash-sum adjustment, reads subtract keys above the pruned scan,
    // later appends of deleted keys survive (sequence-number scope), the
    // change feed replays the matched rows, and applyDeletes folds the
    // debt back gated on content identity. DuckDB recomputes the ENTIRE
    // final state from the source table.
    "q70_mor_delete" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
      val table = java.nio.file.Files.createTempDirectory("graft-vt-mor").toString
      VersionedTable.setChangeCapture(table, enabled = true)
      VersionedTable.overwrite(docs.where(pmod(col("doc_id"), lit(3)) === 0), table)
      val v2 = VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 1), table)
      // delete every doc_id % 5 == 0 — some keys live, some not yet present
      val v3 = VersionedTable.morDelete(
        docs.where(pmod(col("doc_id"), lit(5)) === 0).select("doc_id"), table)
      require(v3.dirs == v2.dirs, "morDelete must rewrite zero data files")
      require(v3.dels.size == 1 && v3.dels.head.matched > 0,
        "the delete must commit exactly one delete-file entry")
      require(VersionedTable.readChangeFeed(table, 2, 3)
        .where(col("_change_type") === "delete").count() == v3.dels.head.matched,
        "the change feed must replay the morDelete's matched rows")
      // sequence scope: post-delete appends survive, deleted keys included
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(3)) === 2), table)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(15)) === 0)
        .withColumn("n_chars", col("n_chars") + 5000L), table)
      // time travel: the pre-delete snapshot is intact
      require(VersionedTable.readAsOf(table, 2).count() ==
        VersionedTable.readAsOf(table, 3).count() + v3.dels.head.matched,
        "time travel across the equality delete lost rows")
      val tip = VersionedTable.versions(table).last
      val v6 = VersionedTable.applyDeletes(table)
      require(v6.snapshotId == tip.snapshotId && v6.dels.isEmpty,
        "applyDeletes must be layout-only and clear the delete debt")
      VersionedTable.scan(table).select("doc_id", "lang", "source", "n_chars")
    }),
    // q71: DECONTAMINATION vs an eval set — every training doc scored by
    // the fraction of its distinct 3-word shingles appearing anywhere in
    // the benchmark slice (doc_id % 7 == 0 stands in for the eval set, so
    // those docs must read 1.0). The eval vocabulary broadcasts; the
    // corpus is one narrow explode + one doc-keyed aggregation. DuckDB
    // recomputes the identical tokenization (the q27-pinned shingler) and
    // the compare is value-exact.
    "q71_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Decontam.contamination(docs,
          docs.where(pmod(col("doc_id"), lit(7)) === 0).select(col("text")),
          "doc_id", "text", k = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          round(col("contamination"), 4).as("contamination"))
    }),
    // q72: PII redaction — each row gets a deterministic synthetic header
    // embedding an email, an E.164 phone, a NANP phone and an IPv4 whose
    // last octet is doc_id % 300 (so ~15% are OUT OF RANGE and must stay
    // unredacted — the negative case rides the same oracle), followed by
    // the real corpus text; DuckDB applies the identical five-pattern
    // regexp_replace chain in RE2 and the compare is value-exact (the
    // scanner==java.util.regex pin lives in PiiScanSpec's fuzz).
    "q72_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val id = col("doc_id").cast("string")
      val synth = concat_ws(" ",
        concat(lit("user"), id, lit("@mail.example.com")),
        concat(lit("+4930"), lpad(id, 8, "5")),
        concat(lit("10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(300)).cast("string")),
        concat(lit("(555) 867-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")),
        col("text"))
      docs.select(col("doc_id"),
        graft.functions.Kernels.redact_pii(synth).as("redacted"))
    }),
    // q73: MIXTURE RESAMPLING with repetition (epoch reweighting) — de
    // rows 2.5x (2 guaranteed copies + a hash-drawn half), en 0.25x, the
    // rest 1x; DuckDB recomputes the IDENTICAL md5 draw, floor copies and
    // unnest(range(copies)) layout, so the training-mix membership AND
    // the repetition indices are value-exact cross-engine.
    "q73_epoch_mix" -> ((s, d) =>
      Sampling.epochMix(t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          col("doc_id"), col("lang"), Map("de" -> 2.5, "en" -> 0.25),
          defaultRate = 1.0, salt = "mx")
        .select("doc_id", "lang", "n_chars", "copy")),
    // q74: INTRA-DOC REPETITION signals (the Gopher quality-filter family)
    // — one regex-free codegen'd pass per document, zero shuffles; DuckDB
    // recomputes every signal independently from unnested token positions
    // (window ranking for the top gram, position-union for dup-5-grams),
    // so the per-doc fractions are value-exact cross-engine.
    "q74_repetition" -> ((s, d) => {
      val r = TextAnalysis.repetitionStats(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        r.getField("n_words").as("n_words"),
        round(r.getField("dup_word_frac"), 4).as("dup_word_frac"),
        round(r.getField("top2_char_frac"), 4).as("top2_char_frac"),
        round(r.getField("top3_char_frac"), 4).as("top3_char_frac"),
        round(r.getField("top4_char_frac"), 4).as("top4_char_frac"),
        round(r.getField("dup5_char_frac"), 4).as("dup5_char_frac"))
    }),
    // q75: KG NEGATIVE SAMPLING — type-consistent corrupt triples in the
    // filtered setting (Bordes et al. 2013) over a positives table built
    // from documents (two predicates, disjoint object vocabularies);
    // DuckDB recomputes the IDENTICAL md5 draw, row_number vocabulary
    // layout, self-corruption filter and filtered anti-join, so the
    // training negatives are value-exact cross-engine — a partition
    // -seeded rand() corruption could never pass this compare.
    "q75_kg_negatives" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pos = docs.select(col("doc_id").cast("string").as("subj"),
          lit("lang").as("pred"), col("lang").as("obj"))
        .unionAll(docs.select(col("doc_id").cast("string").as("subj"),
          lit("source").as("pred"), col("source").as("obj")))
      Negatives.corrupt(pos, k = 2, salt = "ng")
    }),
    // q76: ENTITY PAGERANK, value-exact cross-engine — 3 Pregel-style
    // supersteps of iterative DataFrame joins (checkpointed per superstep)
    // over the heterogeneous entity graph, with ALL arithmetic in DECIMAL
    // under a no-rounding scale budget, so the iterative fixed-point
    // computation itself is a pure function of the graph: DuckDB unrolls
    // the same three supersteps in decimal and the compare is value-exact
    // — a double-summed PageRank could never pass this (float sum order).
    // Emission is canonical BIGINT micro-units (rank × 10^15): the two
    // engines' DECIMAL(30,20) wire representations hash differently even
    // when the values are equal, so the query emits a representation-
    // stable integer instead (exact — the 3-superstep true scale is 13,
    // so the scale-15 narrowing never rounds; see GraphMetrics.rankFp15).
    "q76_entity_pagerank" -> ((s, d) =>
      GraphMetrics.rankFp15(
        GraphMetrics.pageRankExact(entityEdges(s, d), iters = 3))),
    // q77: degree centrality over the same entity graph — hub/leaf
    // signals for canonical-entity selection; sources and sinks keep
    // zero-coalesced rows through the full-outer join.
    "q77_entity_degrees" -> ((s, d) =>
      GraphMetrics.degrees(entityEdges(s, d))),
    // q78: CO-OCCURRENCE EDGE CONSTRUCTION (market-basket form) — parts
    // co-ordered within one order become counted relatedness edges with
    // true marginals; the group-size census cap never binds here (orders
    // hold ≤ 7 parts) so the DuckDB twin recomputes the full pair set
    // value-exact; the cap path itself is spec-gated (CooccurSpec).
    "q78_copurchase_edges" -> ((s, d) =>
      Cooccur.edges(t(s, d, "lineitem"), col("l_orderkey"), col("l_partkey"),
        minBoth = 2)),
    // q79: MULTI-SOURCE BFS over the reversed entity graph — hop distance
    // from the region hubs down to nations (1) and customers/suppliers
    // (2); market segments are unreachable and must be ABSENT, which the
    // recursive-CTE twin checks for free (all-integer, value-exact).
    "q79_entity_bfs" -> ((s, d) => {
      val e = entityEdges(s, d)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val seeds = e.select(col("dst").as("node"))
        .where(col("node").startsWith("r")).distinct()
      GraphMetrics.minHops(rev, seeds, maxHops = 4)
    }),
    // q80/q81: SHACL-lite CONSTRAINT VALIDATION over a triple table with
    // planted violations (every 7th document gets a second language) —
    // the functional check must flag exactly the planted fan-outs (with
    // `source` riding along as the zero-violation negative case) and the
    // range check must quarantine exactly the out-of-dim objects; DuckDB
    // recomputes both reports value-exact.
    "q80_functional_violations" -> ((s, d) =>
      Constraints.functionalViolations(constraintTriples(s, d),
        Seq("lang", "source"))),
    "q81_range_violations" -> ((s, d) =>
      Constraints.rangeViolations(constraintTriples(s, d), "lang",
        t(s, d, "documents").select("lang"))),
    // q82: KMV CARDINALITY SKETCH, value-exact cross-engine — per-lang
    // distinct-text estimates from a TypedImperativeAggregate keeping the
    // k smallest distinct md5 hashes (map-side combined: ≤ k longs per
    // task cross the wire). The sketch state is a pure function of the
    // key SET, so DuckDB recomputes sketch fill, k-th hash AND the
    // estimator division identically — an HLL approx_count_distinct
    // could never pass this compare. k=64 splits the branches on this
    // corpus: the small langs (~64-75 distinct texts) under-fill and
    // take the exact path, en (218) exercises the estimator division.
    "q82_kmv_distinct" -> ((s, d) =>
      Cardinality.kmvDistinct(t(s, d, "documents"), col("text"), k = 64,
        groupCols = Seq(col("lang")), salt = "cd")),
    // q83: KNOWLEDGE FUSION — conflict resolution over repeated
    // observations (events as (user, 'fav_event', event_type, ts)):
    // support desc → recency desc → obj asc, computed by struct-min
    // argmax with NO window sort; DuckDB recomputes the same rule with
    // a row_number window and the winner + provenance (support,
    // validity interval, n_alternatives) match value-exact.
    "q83_fusion" -> ((s, d) =>
      Fusion.resolve(t(s, d, "events").select(
        col("user_id").as("subj"), lit("fav_event").as("pred"),
        col("event_type").as("obj"), col("ts")))),
    // q84: DETERMINISTIC RANDOM WALKS over the entity graph — DeepWalk
    // corpus prep where each step is a content-hash draw onto the dense
    // per-source edge index, so the walk corpus is a pure function of
    // the graph; DuckDB replays every step of every walk via a recursive
    // CTE with the identical md5 draw, value-exact. Walks die at the
    // region sinks, exercising early termination.
    "q84_random_walks" -> ((s, d) =>
      GraphMetrics.randomWalks(entityEdges(s, d), length = 4, salt = "rw")),
    // q85: FUZZY SURFACE PAIRS — blocked Levenshtein candidate
    // generation over part ∪ supplier names: supplier names are a DENSE
    // block (sequential ids, ~every pair within distance 2), part names
    // a sparse one; both engines run the identical classic metric over
    // the identical blocks, value-exact.
    "q85_fuzzy_pairs" -> ((s, d) =>
      Linking.fuzzyPairs(
        t(s, d, "part").select(col("p_name").as("surface"))
          .unionAll(t(s, d, "supplier").select(col("s_name").as("surface"))),
        maxDist = 2, prefixLen = 2)),
    // q86: TRIANGLE COUNTS over the co-purchase relatedness graph —
    // degree-ordered orientation (each triangle counted once at its
    // lowest-order corner, wedge fanout bounded by oriented out-degree
    // ≤ O(√m)); DuckDB mirrors orientation, wedge join and count,
    // value-exact.
    "q86_triangle_counts" -> ((s, d) =>
      GraphMetrics.triangles(
        Cooccur.edges(t(s, d, "lineitem"), col("l_orderkey"),
            col("l_partkey"), minBoth = 2)
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // q87: LINK-PREDICTION candidates over the same relatedness graph —
    // non-adjacent part pairs ranked by common-neighbor count (KG
    // completion); all-integer, hub-capped wedge generation, existing
    // edges anti-joined away; DuckDB mirrors it value-exact.
    "q87_link_prediction" -> ((s, d) =>
      GraphMetrics.commonNeighbors(
        Cooccur.edges(t(s, d, "lineitem"), col("l_orderkey"),
            col("l_partkey"), minBoth = 2)
          .select(col("item_a").as("src"), col("item_b").as("dst")),
        minCommon = 2L)),
    // q88/q89: the multi-grain OLAP surface — CUBE with grouping_id over
    // the pricing dims, and ROLLUP down the (year, month) time hierarchy
    // (KG emission reports aggregate exactly like this). Decimal-cast
    // sums keep the aggregates order-independent; grouping-id bit order
    // (first column = MSB) verified identical across engines.
    "q88_cube_summary" -> ((s, d) =>
      t(s, d, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .select("l_returnflag", "l_linestatus", "gid", "cnt", "sum_price")),
    "q89_rollup_time" -> ((s, d) =>
      t(s, d, "events")
        .rollup(year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value"))
        .select("y", "m", "d", "gid", "cnt", "sum_value")),
    // q90: relational INTERSECT / EXCEPT (set semantics, the audience-
    // segmentation shapes) — clickers who also purchased vs clickers who
    // never did, tagged and unioned; both engines' set operators must
    // agree value-exact.
    "q90_set_ops" -> ((s, d) => {
      val ev = t(s, d, "events")
      def users(kind: String) = ev.filter(col("event_type") === kind)
        .select(col("user_id"))
      users("click").intersect(users("purchase"))
        .withColumn("kind", lit("both"))
        .unionAll(users("click").except(users("purchase"))
          .withColumn("kind", lit("click_only")))
    }),
    // q92: PERSONALIZED PageRank (related-entity retrieval) — teleport
    // mass only on nation-0's customers, three exact-decimal supersteps:
    // rank flows to their nation, segments and region; every node not
    // reachable from the seed set must sit at EXACTLY zero, and DuckDB
    // replays the seeded supersteps value-exact.
    // Emission: canonical BIGINT micro-units, same rationale as q76.
    "q92_personalized_ppr" -> ((s, d) =>
      GraphMetrics.rankFp15(
        GraphMetrics.personalizedPageRankExact(entityEdges(s, d),
          t(s, d, "customer").filter(col("c_nationkey") === 0)
            .select(concat(lit("c"), col("c_custkey")).as("node")),
          iters = 3))),
    // q91: JSON extraction from the events props column —
    // get_json_object path navigation, typed cast, grouped aggregation;
    // DuckDB's JSON extractor recomputes it value-exact (integer sums).
    "q91_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("cnt"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))),
    // q93: PROPERTY-PATH REACHABILITY (SPARQL `p+`) — semi-naive
    // transitive closure over the entity graph extended with
    // order→customer edges, so orders reach their region in exactly 3
    // hops and maxHops=4 exercises the empty-frontier early stop;
    // DuckDB's recursive CTE recomputes min-hop reachability value-exact.
    "q93_path_closure" -> ((s, d) => {
      val oc = t(s, d, "orders").select(
        concat(lit("o"), col("o_orderkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
      GraphQuery.transitiveClosure(entityEdges(s, d).unionAll(oc), maxHops = 4)
    }),
    // q94: BASIC GRAPH PATTERN matching (the SPARQL BGP core) — customer
    // and supplier co-located in the same European nation, expressed as
    // three triple patterns over a typed-pred triple view and compiled to
    // constant-filtered scans + shared-variable equi-joins; the DuckDB
    // twin is the equivalent three-way self-join.
    "q94_bgp_match" -> ((s, d) =>
      GraphQuery.bgpMatch(bgpTriples(s, d), Seq(
        GraphQuery.TriplePattern("?c", "cust_nation", "?n"),
        GraphQuery.TriplePattern("?s", "supp_nation", "?n"),
        GraphQuery.TriplePattern("?n", "in_region", "rEUROPE")))),
    // q125: SPARQL FILTER with string functions and arithmetic through
    // the text front-end — CONTAINS/STRLEN compile to codegen'd Column
    // predicates applied on the binding frame; DuckDB recomputes via
    // LIKE/length value-exact.
    "q125_sparql_filter_fn" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n .
          |  FILTER ( CONTAINS ( ?n , 'A' ) ) .
          |  FILTER ( STRLEN ( ?c ) - 1 <= 3 ) }""".stripMargin)),
    // q126: SPARQL BIND — a computed binding (STRLEN arithmetic) joins
    // the solution frame, filters see it, and it projects out like any
    // variable; the twin recomputes the expression in SQL.
    "q126_sparql_bind" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?score WHERE { ?c cust_nation ?n .
          |  BIND ( STRLEN ( ?n ) * 10 AS ?score ) .
          |  FILTER ( ?score >= 80 ) }""".stripMargin)),
    // q133: OPTIONAL + !BOUND — SPARQL's negation-by-failure idiom
    // (customers with no orders), compiled to a left join + null filter
    // that Catalyst rewrites into an anti-join shape; DuckDB recomputes
    // via ANTI JOIN.
    "q133_sparql_not_bound" -> ((s, d) =>
      SparqlLite.sparql(profilingTriples(s, d),
        """SELECT ?c WHERE { ?c cust_nation ?n .
          |  OPTIONAL { ?c placed ?o } .
          |  FILTER ( ! ( BOUND ( ?o ) ) ) }""".stripMargin)),
    // q137: SPARQL 1.1 SUBQUERY — an aggregate computed in a nested
    // SELECT (per-customer big-order counts) whose projected variables
    // join the enclosing graph; DuckDB recomputes with a grouped
    // derived table.
    "q137_sparql_subquery" -> ((s, d) =>
      SparqlLite.sparql(profilingTriples(s, d),
        """SELECT ?n ?cnt WHERE {
          |  ?c cust_nation ?n .
          |  { SELECT ?c (COUNT(*) AS ?cnt) WHERE { ?c placed ?o } GROUP BY ?c }
          |}""".stripMargin)),
    // q136: multi-variable VALUES — an inline binding TABLE broadcast-
    // joined on its variable columns; one tuple is deliberately absent
    // from the data and must produce no row. DuckDB joins the same
    // tuple relation.
    "q136_sparql_values_table" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n . ?n in_region ?r .
          |  VALUES ( ?n ?r ) { ( nNATION_0 rAFRICA ) ( nNATION_1 rAMERICA )
          |    ( nNATION_12 rASIA ) ( nNATION_0 rASIA ) } }""".stripMargin)),
    // q135: FILTER EXISTS — the SPARQL 1.1 correlated pattern test as a
    // semi-join (one row per solution, never multiplied by matches);
    // DuckDB recomputes via SEMI JOIN.
    "q135_sparql_exists" -> ((s, d) =>
      SparqlLite.sparql(profilingTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n .
          |  FILTER EXISTS { ?c placed ?o } }""".stripMargin)),
    // q134: FILTER INSIDE an OPTIONAL group — narrows the group before
    // the left join (c keeps its row with a null binding when no
    // filtered order matches), never removes required-graph solutions;
    // DuckDB recomputes via LEFT JOIN onto the pre-filtered subquery.
    "q134_sparql_optional_filter" -> ((s, d) =>
      SparqlLite.sparql(profilingTriples(s, d),
        """SELECT ?c ?o WHERE { ?c cust_nation ?n .
          |  OPTIONAL { ?c placed ?o . FILTER ( STRENDS ( ?o , '0' ) ) } }""".stripMargin)),
    // q131: GROUP_CONCAT — deterministic sorted-member concatenation
    // per group (SPARQL's order-free aggregate made cross-engine exact);
    // DuckDB recomputes via string_agg ORDER BY.
    "q131_sparql_group_concat" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?r (GROUP_CONCAT(?n) AS ?members)
          |WHERE { ?n in_region ?r } GROUP BY ?r""".stripMargin)),
    // q132: SAMPLE + HAVING — deterministic min-binding sample and a
    // post-aggregation predicate over the alias.
    "q132_sparql_sample_having" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?n (COUNT(*) AS ?cnt) (SAMPLE(?c) AS ?first)
          |WHERE { ?c cust_nation ?n }
          |GROUP BY ?n HAVING ( ?cnt >= 50 )""".stripMargin)),
    // q129: FILTER boolean connectives — (A || B) && !C over string
    // builtins, compiled to one codegen'd predicate; DuckDB recomputes
    // via LIKE algebra.
    "q129_sparql_connectives" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n .
          |  FILTER ( ( STRENDS ( ?n , '1' ) || STRENDS ( ?n , '2' ) )
          |    && ! ( CONTAINS ( ?c , '9' ) ) ) }""".stripMargin)),
    // q130: zero-or-one path `p?` composed in a chain — customers reach
    // their nation (zero) and its region (one optional in_region hop);
    // the twin unions the direct pairs with the one-hop join.
    "q130_sparql_path_opt" -> ((s, d) =>
      SparqlLite.sparql(pathTriples(s, d),
        "SELECT ?src ?dst WHERE { ?src cust_nation/in_region? ?dst }")),
    // q95: AS-OF JOIN (temporal alignment) — every purchase matched to
    // the user's latest click at or before it, via the union-tag/window
    // form: ONE shuffle on user_id, no |L|×|R| pair explosion. The DuckDB
    // twin takes the naive range-join + row_number road to the same rows.
    "q95_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      GraphQuery.asOfJoin(
        ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        ev.where(col("event_type") === "click")
          .select("user_id", "ts", "value"),
        keys = Seq("user_id"), tsCol = "ts", payload = Seq("value"))
    }),
    // q96: RDF N-TRIPLES serialization of a triple view whose every
    // object embeds quotes (the events props JSON) — the interchange
    // format a KG pipeline exports; escaping is a pure codegen'd replace
    // cascade mirrored operator-for-operator in the DuckDB twin.
    "q96_ntriples" -> ((s, d) =>
      GraphQuery.toNTriples(
        t(s, d, "events").select(
          concat(lit("e"), col("event_id")).as("subj"),
          lit("props").as("pred"), col("props").as("obj")),
        base = "urn:graft:")),
    // q97/q98: TEMPORAL KG — SCD2 validity intervals from the per-user
    // event-type observation stream (change points only; repeats extend
    // the open interval), then a point-in-time snapshot mid-window.
    // DuckDB rebuilds the intervals with lag/lead windows value-exact,
    // timestamps included.
    "q97_validity_intervals" -> ((s, d) =>
      GraphQuery.validityIntervals(eventObservations(s, d))),
    "q98_kg_snapshot" -> ((s, d) =>
      GraphQuery.snapshotAt(
        GraphQuery.validityIntervals(eventObservations(s, d)),
        lit("2024-01-15 00:00:00").cast("timestamp"))),
    // q99: SPARQL OPTIONAL — customer-nation bindings left-joined with
    // the customer's big-ticket orders (totalprice > 450k, so ~1/3 of
    // customers genuinely have none); unmatched customers keep exactly
    // one row with a null ?o binding, which the LEFT-JOIN twin
    // reproduces value-exact.
    "q99_bgp_optional" -> ((s, d) => {
      val oc = t(s, d, "orders").where(col("o_totalprice") > 450000)
        .select(
          concat(lit("o"), col("o_orderkey")).as("subj"),
          lit("ordered_by").as("pred"),
          concat(lit("c"), col("o_custkey")).as("obj"))
      GraphQuery.bgpMatchOptional(bgpTriples(s, d).unionAll(oc),
        patterns = Seq(GraphQuery.TriplePattern("?c", "cust_nation", "?n")),
        optionals = Seq(GraphQuery.TriplePattern("?o", "ordered_by", "?c")))
    }),
    // q100: LABEL-PROPAGATION COMMUNITIES — synchronous, ties to the
    // smallest label, so three supersteps over the undirected entity
    // graph are a pure function of the graph; DuckDB replays the same
    // three vote/argmax rounds and every (node, label) row matches
    // value-exact (a async/randomized LPA could never pass this gate).
    "q100_lpa_communities" -> ((s, d) =>
      GraphMetrics.labelPropagation(entityEdges(s, d), iters = 3)),
    // q101: PROPERTY-PATH ALGEBRA — the SPARQL 1.1 expression
    // `^placed / (in_nation | in_region)+` evaluated by the compiler
    // (every constructor exercised: Inv, Chain, Alt, bounded Plus);
    // orders reach their nation AND region. The DuckDB twin composes
    // the same inverse join over a recursive-CTE closure of the
    // alternation, set-semantics both sides.
    "q101_path_algebra" -> ((s, d) => {
      import GraphQuery.PathExpr._
      GraphQuery.pathPairs(pathTriples(s, d), Chain(Inv(Pred("placed")),
        Plus(Alt(Pred("cust_nation"), Pred("in_region")), maxHops = 3)))
    }),
    // q111: the SAME path, written as SPARQL 1.1 path SYNTAX through the
    // text front-end — covers the path tokenizer re-join, the
    // recursive-descent path parser and the pathPairs planner seam; the
    // oracle is q101's twin verbatim, so text == algebra == SQL.
    "q111_sparql_path" -> ((s, d) =>
      SparqlLite.sparql(pathTriples(s, d),
        "SELECT ?src ?dst WHERE { ?src ^placed/(cust_nation|in_region)+3 ?dst }")),
    // q140: PROPERTY PATH INSIDE A UNION BRANCH — groups compose paths
    // and plain patterns with the same frame machinery as the top-level
    // graph; DuckDB unions the two-hop join with the direct pairs.
    "q140_sparql_union_path" -> ((s, d) =>
      SparqlLite.sparql(pathTriples(s, d),
        """SELECT ?c ?x WHERE {
          |  { ?c cust_nation/in_region ?x } UNION { ?c placed ?x }
          |}""".stripMargin)),
    // q139: NEGATED PROPERTY SET — `!(p1|p2)` keeps every pair whose
    // predicate is OUTSIDE the set (one inverted constant-filtered
    // scan); DuckDB mirrors with NOT IN.
    "q139_sparql_negated_set" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        "SELECT ?a ?b WHERE { ?a !(cust_nation|supp_nation) ?b }")),
    // q123: UNBOUNDED `p+` through the text front-end — the SPARQL 1.1
    // arbitrary-length form users actually write, planned onto the
    // semi-naive transitiveClosure FIXPOINT (empty-frontier stop), not a
    // bounded unroll: ^placed puts orders three hops from their region,
    // so convergence takes exactly the graph's depth; DuckDB's
    // recursive CTE recomputes the closure value-exact.
    "q123_sparql_path_plus" -> ((s, d) =>
      SparqlLite.sparql(pathTriples(s, d),
        "SELECT ?src ?dst WHERE { ?src (^placed|cust_nation|in_region)+ ?dst }")),
    // q124: `p*` reflexive closure — SPARQL's zero-length path connects
    // every term IN THE GRAPH to itself (it does not constrain the
    // predicate), so the identity rows range over all subjects and
    // objects of the queried table, unioned with the unbounded closure.
    "q124_sparql_path_star" -> ((s, d) =>
      SparqlLite.sparql(pathTriples(s, d),
        "SELECT ?src ?dst WHERE { ?src (cust_nation|in_region)* ?dst }")),
    // q112: KG-EMBEDDING EVALUATION — TransE filtered tail ranks (the
    // Bordes et al. 2013 link-prediction protocol) over the co-purchase
    // triples with embeddings assigned by id-modulo from the embeddings
    // table; per-element DOUBLE arithmetic decimal-cast before an
    // order-independent sum makes every rank an integer BOTH engines
    // derive identically (ties break on candidate id, true triples
    // filtered from the competition).
    "q112_kge_tail_ranks" -> ((s, d) => {
      val f = kgeFixture(s, d)
      KgeEval.tailRanks(
        f.tri(f.pairs.where(pmod(col("item_a"), lit(3)) === 0)),
        f.tri(f.pairs), f.entEmb, f.relEmb)
    }),
    // q116: the HEAD side of the same protocol — candidates h' scored
    // ||E(h')+R(r)-E(t)||² over the per-relation head vocabulary, same
    // filtering and tie rules; DuckDB derives every head rank
    // identically.
    "q116_kge_head_ranks" -> ((s, d) => {
      val f = kgeFixture(s, d)
      KgeEval.headRanks(
        f.tri(f.pairs.where(pmod(col("item_b"), lit(3)) === 0)),
        f.tri(f.pairs), f.entEmb, f.relEmb)
    }),
    // q127/q128: DISTMULT through the same filtered-rank protocol —
    // trilinear dot product, HIGHER is better, identical filtering and
    // tie rules; the scorer is one Column function plugged into the
    // shared kernel, and DuckDB re-derives every rank with the product
    // computed in the same (h·r)·t order.
    "q127_kge_distmult_tails" -> ((s, d) => {
      val f = kgeFixture(s, d)
      KgeEval.distMultTailRanks(
        f.tri(f.pairs.where(pmod(col("item_a"), lit(3)) === 0)),
        f.tri(f.pairs), f.entEmb, f.relEmb)
    }),
    "q128_kge_distmult_heads" -> ((s, d) => {
      val f = kgeFixture(s, d)
      KgeEval.distMultHeadRanks(
        f.tri(f.pairs.where(pmod(col("item_b"), lit(3)) === 0)),
        f.tri(f.pairs), f.entEmb, f.relEmb)
    }),
    // q113: SPARQL ORDER BY + LIMIT — deterministic top-5 (count desc,
    // name asc tie-break) through the text front-end; the twin is the
    // same grouped top-k in SQL.
    "q113_sparql_topk" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?n (COUNT(?c) AS ?cnt) WHERE { ?c cust_nation ?n }
          |GROUP BY ?n ORDER BY DESC(?cnt) ?n LIMIT 5""".stripMargin)),
    // q114: SHACL CARDINALITY (sh:minCount/sh:maxCount) — every customer
    // must have exactly one nation and 1..2 big-ticket orders; the scope
    // grid is what surfaces ZERO-count subjects (they never appear in
    // the triple table at all), so min violations are the q99 null-branch
    // customers and max violations the 3+-order whales.
    "q114_shacl_cardinality" -> ((s, d) => {
      val cn = t(s, d, "customer").join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(concat(lit("c"), col("c_custkey")).as("subj"),
          lit("cust_nation").as("pred"),
          concat(lit("n"), col("n_name")).as("obj"))
      val big = t(s, d, "orders").where(col("o_totalprice") > 450000)
        .select(concat(lit("c"), col("o_custkey")).as("subj"),
          lit("placed_big").as("pred"),
          concat(lit("o"), col("o_orderkey")).as("obj"))
      Constraints.cardinalityViolations(cn.unionAll(big),
        t(s, d, "customer").select(concat(lit("c"), col("c_custkey"))),
        Seq(("cust_nation", 1, 1), ("placed_big", 1, 2)))
    }),
    // q117: SPARQL MINUS — European customers WITHOUT a big-ticket
    // order, as an anti-join on the shared ?c; the twin is the same
    // anti-join relationally (the q99 OPTIONAL-null population, derived
    // by negation instead).
    "q117_sparql_minus" -> ((s, d) => {
      val big = t(s, d, "orders").where(col("o_totalprice") > 450000)
        .select(concat(lit("o"), col("o_orderkey")).as("subj"),
          lit("placed_by").as("pred"),
          concat(lit("c"), col("o_custkey")).as("obj"))
      SparqlLite.sparql(bgpTriples(s, d).unionAll(big),
        """SELECT ?c ?n WHERE {
          |  ?c cust_nation ?n . ?n in_region rEUROPE .
          |  MINUS { ?o placed_by ?c }
          |}""".stripMargin)
    }),
    // q118: SPARQL pagination — ORDER BY + LIMIT + OFFSET slice of the
    // deterministic customer sequence; the twin pages identically.
    "q118_sparql_page" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n }
          |ORDER BY ?c LIMIT 20 OFFSET 10""".stripMargin)),
    // q119: SPARQL DESCRIBE — the outgoing triples of every European
    // customer (their cust_nation assertions), a semi-join of the triple
    // table against the solution bindings.
    "q119_sparql_describe" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """DESCRIBE ?c WHERE {
          |  ?c cust_nation ?n . ?n in_region rEUROPE
          |}""".stripMargin)),
    // q121: OWL-RL rules in the reasoner — placed/placed_by inverses and
    // a TransitiveProperty containment closed bounded; the twin derives
    // the same entailment with a recursive CTE + inverse projection.
    "q121_owl_closure" -> ((s, d) => {
      import s.implicits._
      val schema = Seq(
        ("placed", "inverseOf", "placed_by"),
        ("within", "type", "TransitiveProperty")
      ).toDF("subj", "pred", "obj")
      val cn = t(s, d, "customer").join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(concat(lit("c"), col("c_custkey")).as("subj"),
          lit("within").as("pred"), concat(lit("n"), col("n_name")).as("obj"))
      val nr = t(s, d, "nation").join(t(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(concat(lit("n"), col("n_name")).as("subj"),
          lit("within").as("pred"), concat(lit("r"), col("r_name")).as("obj"))
      val placed = t(s, d, "orders").where(col("o_totalprice") > 450000)
        .select(concat(lit("c"), col("o_custkey")).as("subj"),
          lit("placed").as("pred"),
          concat(lit("o"), col("o_orderkey")).as("obj"))
      Reasoner.rdfsClosure(cn.unionAll(nr).unionAll(placed), schema)
    }),
    // q138: owl:SymmetricProperty — (s p o) ⊢ (o p s), applied BEFORE
    // rdfs7 so the symmetric pairs inherit up the property hierarchy
    // too; DuckDB mirrors with a both-directions union feeding the
    // super-property projection.
    "q138_owl_symmetric" -> ((s, d) => {
      import s.implicits._
      val schema = Seq(
        ("borders", "type", "SymmetricProperty"),
        ("borders", "subPropertyOf", "connected")
      ).toDF("subj", "pred", "obj")
      val n = t(s, d, "nation")
      val m = n.select(col("n_nationkey").as("k2"), col("n_name").as("nm2"))
      val b = n.join(m, col("k2") === col("n_nationkey") + 1)
        .select(concat(lit("n"), col("n_name")).as("subj"),
          lit("borders").as("pred"), concat(lit("n"), col("nm2")).as("obj"))
      Reasoner.rdfsClosure(b, schema)
    }),
    // q122: the SEMANTIC PIPELINE COMPOSED — sameAs smushing feeds RDFS+
    // OWL entailment: alias customers collapse first, then cust_nation /
    // in_region inherit into a TRANSITIVE located_in, so every (possibly
    // alias-named) customer reaches its region through canonical ids
    // only. The twin chains the q106 canonical map into the q105-style
    // inherit + recursive closure.
    "q122_smush_then_entail" -> ((s, d) => {
      import s.implicits._
      val cn = t(s, d, "customer").join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("k"), col("n_name").as("nm"))
      def tri(subj: Column, pred: String, obj: Column) =
        Seq(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))
      val data = cn.select(tri(concat(lit("c"), col("k")), "cust_nation",
          concat(lit("n"), col("nm"))): _*)
        .unionAll(cn.where(pmod(col("k"), lit(7)) === 0)
          .select(tri(concat(lit("a"), col("k")), "cust_nation",
            concat(lit("n"), col("nm"))): _*))
        .unionAll(cn.where(pmod(col("k"), lit(7)) === 0)
          .select(tri(concat(lit("a"), col("k")), "sameAs",
            concat(lit("c"), col("k"))): _*))
        .unionAll(t(s, d, "nation").join(t(s, d, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .select(tri(concat(lit("n"), col("n_name")), "in_region",
            concat(lit("r"), col("r_name"))): _*))
      val schema = Seq(
        ("cust_nation", "subPropertyOf", "located_in"),
        ("in_region", "subPropertyOf", "located_in"),
        ("located_in", "type", "TransitiveProperty")
      ).toDF("subj", "pred", "obj")
      Reasoner.rdfsClosure(Reasoner.smushSameAs(data), schema)
    }),
    // q120: SPARQL UNION — customers and suppliers merged into one
    // located-in relation (same-var-set branches, bag union), then
    // joined down to the European region; the twin is the UNION ALL of
    // the two relational branches.
    "q120_sparql_union" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?x ?n WHERE {
          |  { ?x cust_nation ?n } UNION { ?x supp_nation ?n } .
          |  ?n in_region rEUROPE
          |}""".stripMargin)),
    // q115: SHACL DATATYPE (sh:datatype xsd:integer) — the k_value
    // literal predicate planted with a non-numeric value on every 10th
    // event; try_cast semantics mirrored so both engines quarantine the
    // same rows.
    "q115_shacl_datatype" -> ((s, d) =>
      Constraints.datatypeViolations(
        t(s, d, "events").select(
          concat(lit("e"), col("event_id")).as("subj"),
          lit("k_value").as("pred"),
          when(pmod(col("event_id"), lit(10)) === 0, col("event_type"))
            .otherwise(get_json_object(col("props"), "$.k")).as("obj")),
        "k_value", "integer")),
    // q102: WEIGHTED SHORTEST PATHS (bounded Bellman-Ford) — min
    // relatedness-distance from the first order's parts over the
    // co-purchase graph, weight = max(1, 100 - n_both), four relaxation
    // supersteps; all-integer so DuckDB's hop-bounded recursive CTE
    // reproduces every (node, cost) row value-exact.
    "q102_weighted_paths" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val co = Cooccur.edges(li, col("l_orderkey"), col("l_partkey"),
        minBoth = 2)
      val w = greatest(lit(1L), lit(100L) - col("n_both"))
      val e = co.select(col("item_a").as("src"), col("item_b").as("dst"),
          w.as("w"))
        .unionAll(co.select(col("item_b").as("src"), col("item_a").as("dst"),
          w.as("w")))
      val seeds = li
        .join(li.agg(min(col("l_orderkey")).as("mo")), col("l_orderkey") === col("mo"))
        .select(col("l_partkey").as("node"))
      GraphMetrics.minCost(e, seeds, maxIters = 4)
    }),
    // q103: INCREMENTAL VIEW MAINTENANCE — degrees materialized at v1 of
    // a versioned supplier→part edge table, then maintained purely from
    // the change feed across an append, a copy-on-write range delete and
    // a dst-rewiring MERGE (update pre/post images exercised); DuckDB
    // recomputes degrees from scratch over the FINAL table state, so the
    // compare proves fold(changes) == full recompute, value-exact.
    "q103_ivm_degrees" -> ((s, d) => {
      import graft.sources.VersionedTable
      implicit val sp: SparkSession = s
      val edges = t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"),
        concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"))
      val mx = edges.agg(max("eid")).collect()(0).getLong(0)
      val (lo, hi) = (mx / 3, 2 * (mx / 3))
      val table = java.nio.file.Files.createTempDirectory("graft-vt-ivm").toString
      VersionedTable.setChangeCapture(table, enabled = true)
      VersionedTable.overwrite(edges.where(pmod(col("eid"), lit(3)) === 0), table)
      VersionedTable.append(edges.where(pmod(col("eid"), lit(3)) === 1), table)
      VersionedTable.deleteRange(table, "eid", lo, hi)
      VersionedTable.merge(edges.where(pmod(col("eid"), lit(7)) === 0)
        .withColumn("dst", lit("p0")), table, "eid")
      val base = GraphMetrics.degrees(VersionedTable.readAsOf(table, 1))
      val tip = VersionedTable.versions(table).last.seq
      GraphMetrics.applyDegreeChanges(base,
        VersionedTable.readChangeFeed(table, 1, tip))
    }),
    // q104: the SPARQL-LITE TEXT FRONT-END — a query string (BGP +
    // VALUES + FILTER + DISTINCT) parsed and planned through the same
    // machinery as the programmatic API; the DuckDB twin is the
    // equivalent relational query, so the gate covers tokenizer, parser
    // and planner end to end.
    "q104_sparql_text" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT DISTINCT ?s ?n WHERE {
          |  ?s supp_nation ?n .
          |  ?n in_region ?r .
          |  VALUES ?r { rEUROPE rASIA } .
          |  FILTER ( ?n != nGERMANY )
          |}""".stripMargin)),
    // q105: RDFS-LITE INFERENCE — forward-chaining entailment of a
    // 12-row ontology (subPropertyOf chain, domain/range keyed to the
    // SUPER-property-inherited triples, 2-level subClassOf) over the
    // customer/nation containment triples; the rule set stratifies, so
    // both engines compute the fixpoint in one dependency-ordered pass
    // (schema closures via recursive CTEs in the twin) and the entailed
    // set matches value-exact.
    "q105_rdfs_closure" -> ((s, d) => {
      import s.implicits._
      val schema = Seq(
        ("cust_nation", "subPropertyOf", "located_in"),
        ("in_region", "subPropertyOf", "located_in"),
        ("located_in", "subPropertyOf", "related_to"),
        ("cust_nation", "domain", "Customer"),
        ("cust_nation", "range", "Nation"),
        ("in_region", "domain", "Nation"),
        ("in_region", "range", "Region"),
        ("Nation", "subClassOf", "Place"),
        ("Region", "subClassOf", "Place"),
        ("Customer", "subClassOf", "Agent"),
        ("Agent", "subClassOf", "Resource"),
        ("Place", "subClassOf", "Resource")
      ).toDF("subj", "pred", "obj")
      Reasoner.rdfsClosure(
        bgpTriples(s, d).where(col("pred") =!= "supp_nation"), schema)
    }),
    // q106: owl:sameAs SMUSHING — alias chains (b→a→canonical customer,
    // alias nations) collapse to their lexicographic-min representative,
    // duplicate assertions made under aliases merge into one row, alias
    // OBJECTS rewrite too, and the links themselves are consumed; DuckDB
    // recomputes the canonical map via a bounded undirected closure and
    // the smushed triple sets match value-exact.
    "q106_sameas_smush" -> ((s, d) => {
      val cn = t(s, d, "customer").join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("k"), col("n_name").as("nm"))
      def tri(subj: Column, pred: String, obj: Column) =
        Seq(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))
      val base = cn.select(tri(concat(lit("c"), col("k")), "cust_nation",
        concat(lit("n"), col("nm"))): _*)
      val aliasAssert = cn.where(pmod(col("k"), lit(7)) === 0)
        .select(tri(concat(lit("a"), col("k")), "cust_nation",
          concat(lit("n"), col("nm"))): _*)
      val aliasObj = cn.where(pmod(col("k"), lit(11)) === 0)
        .select(tri(concat(lit("c"), col("k")), "cust_nation",
          concat(lit("x"), col("nm"))): _*)
      val links = cn.where(pmod(col("k"), lit(7)) === 0)
        .select(tri(concat(lit("a"), col("k")), "sameAs",
          concat(lit("c"), col("k"))): _*)
        .unionAll(cn.where(pmod(col("k"), lit(14)) === 0)
          .select(tri(concat(lit("b"), col("k")), "sameAs",
            concat(lit("a"), col("k"))): _*))
        .unionAll(t(s, d, "nation")
          .select(tri(concat(lit("x"), col("n_name")), "sameAs",
            concat(lit("n"), col("n_name"))): _*))
      Reasoner.smushSameAs(
        base.unionAll(aliasAssert).unionAll(aliasObj).unionAll(links))
    }),
    // q107: SPARQL CONSTRUCT — derive a new graph (inverted hosts edges
    // + region containment hops) from a two-pattern match; the template
    // instantiates per solution and the constructed graph is a SET,
    // which the UNION-of-selects twin mirrors.
    "q107_sparql_construct" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """CONSTRUCT { ?n hosts ?s . ?s located_in ?r }
          |WHERE { ?s supp_nation ?n . ?n in_region ?r }""".stripMargin)),
    // q108: SPARQL aggregates — GROUP BY with COUNT + MIN through the
    // text front-end; all-integer/string results so the grouped SQL twin
    // matches value-exact.
    "q108_sparql_agg" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?n (COUNT(?c) AS ?cnt) (MIN(?c) AS ?first)
          |WHERE { ?c cust_nation ?n } GROUP BY ?n""".stripMargin)),
    // q141: SPARQL COUNT(DISTINCT) — per-region customer-link count
    // next to the DISTINCT nation count through the text front-end;
    // all-integer, the grouped SQL twin matches value-exact.
    "q141_sparql_count_distinct" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?r (COUNT(?c) AS ?links) (COUNT(DISTINCT ?n) AS ?nations)
          |WHERE { ?c cust_nation ?n . ?n in_region ?r } GROUP BY ?r""".stripMargin)),
    // q142: REGEX and STR inside FILTER — unanchored Java-regex find
    // over a binding, STR feeding a string predicate; DuckDB twin uses
    // regexp_matches/starts_with on identical operands.
    "q142_sparql_regex_str" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?c ?n WHERE { ?c cust_nation ?n .
          |  FILTER ( REGEX ( ?n , 'ION_1[0-9]$' ) && STRSTARTS ( STR ( ?c ) , 'c1' ) ) }""".stripMargin)),
    // q143: FILTER scoped INSIDE one UNION branch — narrows that branch
    // only (the other branch flows through unfiltered); bag semantics,
    // UNION ALL twin.
    "q143_sparql_union_filter" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?x ?n WHERE {
          |  { ?x cust_nation ?n . FILTER ( STRENDS ( ?n , '1' ) ) }
          |  UNION { ?x supp_nation ?n }
          |}""".stripMargin)),
    // q144: NESTED OPTIONAL — customers optionally carry orders, orders
    // optionally carry a big-ticket flag; two genuine null tiers the
    // chained-left-join twin mirrors.
    "q144_sparql_nested_optional" -> ((s, d) =>
      SparqlLite.sparql(orderTriples(s, d),
        """SELECT ?c ?o ?b WHERE { ?c cust_nation ?n .
          |  OPTIONAL { ?c placed ?o . OPTIONAL { ?o is_big ?b } }
          |}""".stripMargin)),
    // q145: owl:FunctionalProperty / InverseFunctionalProperty → derived
    // sameAs links (OWL RL prp-fp/prp-ifp, star form feeding the q106
    // smusher): suppliers asserting two HQ spellings merge the
    // spellings, customers sharing a contact key merge with each other.
    "q145_owl_functional_sameas" -> ((s, d) => {
      val (data, schema) = functionalFixture(s, d)
      Reasoner.functionalSameAs(data, schema)
    }),
    // q146: one deterministic FULL-BATCH TransE epoch over the
    // co-purchase graph (content-hash negative draws, order-free
    // scale-10 fixed-point gradient sums — the q76 BIGINT trick
    // promoted into the whole kernel); DuckDB replays the epoch.
    "q146_kge_transe_epoch" -> ((s, d) => kgeTrained(s, d).entUpd),
    // q147: filtered tail ranks computed from the TRAINED vectors —
    // the epoch's output feeds the shared filtered-rank kernel under
    // the FIXED-POINT scorer (trained vectors are 1e-10-quantized, so
    // their distances can straddle decimal digit-10 boundaries where
    // decimal casts diverge between engines — transEDistFp snaps at the
    // integer boundary instead); the twin replays epoch + ranking.
    "q147_kge_trained_ranks" -> ((s, d) => {
      val f = kgeFixture(s, d)
      val trained = kgeTrained(s, d)
      val entV = KgeTrain.assembleVecs(trained.entUpd, "node")
      val relV = KgeTrain.assembleVecs(trained.relUpd, "rel")
      KgeEval.tailRanksFp(
        f.tri(f.pairs.where(pmod(col("item_a"), lit(3)) === 0)),
        f.tri(f.pairs), entV, relV)
    }),
    // q148: CONSTANT-ENDPOINT path point query — `<c1> (containment)+
    // ?x` runs the SEEDED closure (frontier starts at c1, cost = its
    // reachable cone); the twin's recursive CTE is seeded at the same
    // constant, so the gate pins the seeded path end to end.
    "q148_sparql_seeded_path" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        "SELECT ?x WHERE { c1 (cust_nation|in_region)+ ?x }")),
    // q149: GROUP_CONCAT with an explicit SEPARATOR clause — sorted
    // members joined with ', ' per nation; string_agg ORDER BY twin.
    "q149_sparql_group_concat_sep" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        """SELECT ?n (GROUP_CONCAT ( ?c ; SEPARATOR= ', ' ) AS ?members)
          |WHERE { ?c cust_nation ?n } GROUP BY ?n""".stripMargin)),
    // q150: negated property set with INVERSE members (SPARQL 1.1
    // §9.1) — the forward part excludes the nation predicates, the
    // reversed part excludes in_region; union, set semantics.
    "q150_sparql_negated_inverse" -> ((s, d) =>
      SparqlLite.sparql(bgpTriples(s, d),
        "SELECT ?x ?y WHERE { ?x !(cust_nation|supp_nation|^in_region) ?y }")),
    // q109/q110: KG PROFILING — characteristic sets (Neumann & Moerkotte
    // SIGMOD'11; one row per entity SHAPE with its subject count — the
    // big-ticket order filter splits customers into {cust_nation} vs
    // {cust_nation, placed} shapes) and VoID-style per-predicate
    // partition statistics; all-integer, value-exact both.
    "q109_characteristic_sets" -> ((s, d) =>
      KgStats.characteristicSets(profilingTriples(s, d))),
    "q110_predicate_stats" -> ((s, d) =>
      KgStats.predicateStats(profilingTriples(s, d))))

  /** q109/q110 fixture: containment + big-ticket placed edges, giving
    * subjects heterogeneous predicate shapes.
    */
  private def profilingTriples(s: SparkSession, d: String): DataFrame =
    bgpTriples(s, d).where(col("pred") =!= "supp_nation")
      .unionAll(t(s, d, "orders").where(col("o_totalprice") > 450000)
        .select(concat(lit("c"), col("o_custkey")).as("subj"),
          lit("placed").as("pred"),
          concat(lit("o"), col("o_orderkey")).as("obj")))

  /** q112/q116 shared fixture: co-purchase pairs with modulo-assigned
    * entity embeddings and a fixed relation vector.
    */
  private final case class KgeFixture(pairs: DataFrame, entEmb: DataFrame,
      relEmb: DataFrame) {
    def tri(df: DataFrame): DataFrame = df.select(
      concat(lit("p"), col("item_a")).as("h"),
      lit("bought_with").as("r"),
      concat(lit("p"), col("item_b")).as("t"))
  }

  private def kgeFixture(s: SparkSession, d: String): KgeFixture = {
    val pairs = Cooccur.edges(t(s, d, "lineitem"), col("l_orderkey"),
        col("l_partkey"), minBoth = 2)
      .select(col("item_a"), col("item_b"))
    val emb = t(s, d, "embeddings")
    val parts = pairs.select(col("item_a").as("id"))
      .unionAll(pairs.select(col("item_b").as("id"))).distinct()
    val entEmb = parts.join(emb, pmod(col("id"), lit(500)) === col("vec_id"))
      .select(concat(lit("p"), col("id")).as("node"),
        col("embedding").as("vec"))
    val relEmb = emb.where(col("vec_id") === 7)
      .select(lit("bought_with").as("rel"), col("embedding").as("vec"))
    KgeFixture(pairs, entEmb, relEmb)
  }

  /** q144 fixture: cust_nation containment + placed edges + a big-ticket
    * flag on the expensive orders (two optional tiers).
    */
  private def orderTriples(s: SparkSession, d: String): DataFrame = {
    val cn = bgpTriples(s, d).where(col("pred") === "cust_nation")
    val placed = t(s, d, "orders").select(
      concat(lit("c"), col("o_custkey")).as("subj"),
      lit("placed").as("pred"),
      concat(lit("o"), col("o_orderkey")).as("obj"))
    val big = t(s, d, "orders").where(col("o_totalprice") > 450000)
      .select(concat(lit("o"), col("o_orderkey")).as("subj"),
        lit("is_big").as("pred"), lit("yes").as("obj"))
    cn.unionAll(placed).unionAll(big)
  }

  /** q145 fixture: a functional `hq` predicate where every fifth
    * supplier asserts a second spelling of its nation, and an
    * inverse-functional `contact` key shared by customers modulo 97 —
    * both violation shapes the OWL RL identity rules merge.
    */
  private def functionalFixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val sup = t(s, d, "supplier").join(t(s, d, "nation"),
      col("s_nationkey") === col("n_nationkey"))
    val hq = sup.select(concat(lit("s"), col("s_suppkey")).as("subj"),
        lit("hq").as("pred"), concat(lit("n"), col("n_name")).as("obj"))
      .unionAll(sup.where(pmod(col("s_suppkey"), lit(5)) === 0)
        .select(concat(lit("s"), col("s_suppkey")).as("subj"),
          lit("hq").as("pred"), concat(lit("x"), col("n_name")).as("obj")))
    val contact = t(s, d, "customer").select(
      concat(lit("c"), col("c_custkey")).as("subj"),
      lit("contact").as("pred"),
      concat(lit("e"), pmod(col("c_custkey"), lit(97))).as("obj"))
    val schema = Seq(("hq", "type", "FunctionalProperty"),
      ("contact", "type", "InverseFunctionalProperty"))
      .toDF("subj", "pred", "obj")
    (hq.unionAll(contact), schema)
  }

  /** q146/q147 shared step: the deterministic TransE epoch over the
    * kgeFixture graph with the arithmetic content-hash negative draw
    * (`item_a·31 + item_b·17 + 7` — replayable in plain SQL).
    */
  private def kgeTrained(s: SparkSession, d: String): KgeTrain.Trained = {
    val f = kgeFixture(s, d)
    val pos = f.pairs.select(
      concat(lit("p"), col("item_a")).as("h"),
      lit("bought_with").as("r"),
      concat(lit("p"), col("item_b")).as("t"),
      (col("item_a") * 31 + col("item_b") * 17 + 7).cast("long").as("negseed"))
    KgeTrain.transEEpoch(pos, f.entEmb, f.relEmb, col("negseed"))
  }

  /** q101/q111 fixture: containment triples + placed edges. */
  private def pathTriples(s: SparkSession, d: String): DataFrame =
    bgpTriples(s, d)
      .where(col("pred") =!= "supp_nation")
      .unionAll(t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"))
        .select(concat(lit("c"), col("c_custkey")).as("subj"),
          lit("placed").as("pred"),
          concat(lit("o"), col("o_orderkey")).as("obj")))

  /** q94 fixture: the entity graph as typed-predicate triples. */
  private def bgpTriples(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer"); val nat = t(s, d, "nation")
    val sup = t(s, d, "supplier"); val reg = t(s, d, "region")
    cust.join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("c"), col("c_custkey")).as("subj"),
        lit("cust_nation").as("pred"),
        concat(lit("n"), col("n_name")).as("obj"))
      .unionAll(sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(concat(lit("s"), col("s_suppkey")).as("subj"),
          lit("supp_nation").as("pred"),
          concat(lit("n"), col("n_name")).as("obj")))
      .unionAll(nat.join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(concat(lit("n"), col("n_name")).as("subj"),
          lit("in_region").as("pred"),
          concat(lit("r"), col("r_name")).as("obj")))
  }

  /** q97/q98 fixture: (subj, pred, obj, ts) observations from events —
    * grouped per (user, ts) with a min-type tie-break so the stream is
    * unique per (subj, pred, ts) by construction (mirrored in SQL).
    */
  private def eventObservations(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(concat(lit("u"), col("user_id")).as("subj"), col("ts"))
      .agg(min(col("event_type")).as("obj"))
      .select(col("subj"), lit("etype").as("pred"), col("obj"), col("ts"))

  /** The q80/q81 fixture: document lang/source triples with a planted
    * second language on every 7th document.
    */
  private def constraintTriples(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val subj = col("doc_id").cast("string").as("subj")
    docs.select(subj, lit("lang").as("pred"), col("lang").as("obj"))
      .unionAll(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(subj, lit("lang").as("pred"),
          concat(lit("alt_"), col("lang")).as("obj")))
      .unionAll(docs.select(subj, lit("source").as("pred"),
        col("source").as("obj")))
  }

  /** The q76/q77 entity graph: customers point at their nation and market
    * segment, suppliers at their nation, nations at their region —
    * out-degrees {1, 2}, real in-degree skew (nations collect ~60 edges,
    * regions 5), two-hop rank propagation customer→nation→region.
    */
  private def entityEdges(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer"); val nat = t(s, d, "nation")
    val sup = t(s, d, "supplier"); val reg = t(s, d, "region")
    val cn = cust.join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("c"), col("c_custkey")).as("src"),
        concat(lit("n"), col("n_name")).as("dst"))
    val cm = cust.select(concat(lit("c"), col("c_custkey")).as("src"),
      concat(lit("m"), col("c_mktsegment")).as("dst"))
    val sn = sup.join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(concat(lit("s"), col("s_suppkey")).as("src"),
        concat(lit("n"), col("n_name")).as("dst"))
    val nr = nat.join(reg, col("n_regionkey") === col("r_regionkey"))
      .select(concat(lit("n"), col("n_name")).as("src"),
        concat(lit("r"), col("r_name")).as("dst"))
    cn.unionAll(cm).unionAll(sn).unionAll(nr)
  }

  /** DuckDB twin of the LSH recall queries: the EXACT 3-word-shingle
    * Jaccard pair set over documents ∪ (documents + 1e6 ids), thresholded
    * as `1.0 - jac <= maxDistance` with the same operand shape as the
    * Spark side (identical IEEE ops → identical boundary behavior).
    */
  private def exactJaccardPairsSql(maxDistance: Double): String = {
    val toks = "regexp_split_to_array(lower(text), '[\\s\\x0b]+')"
    val sh = s"list_distinct(list_transform(range(0, greatest(len($toks) - 3, 0) + 1), i -> array_to_string(($toks)[i+1:i+3], ' ')))"
    s"""WITH u AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |sh AS (SELECT doc_id, $sh AS sh FROM u),
       |shf AS (SELECT * FROM sh WHERE len(sh) > 0),
       |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |   len(list_intersect(a.sh, b.sh))::DOUBLE /
       |   greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE AS jac
       |  FROM shf a JOIN shf b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, round(jac, 4) AS jac FROM j WHERE (1.0 - jac) <= $maxDistance""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity)::BIGINT AS sum_qty,
        | sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sum_price,
        | sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS sum_disc_price,
        | count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' GROUP BY 1, 2""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue,
        | count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q03_top_orders" ->
      """SELECT o_orderkey, o_orderpriority, revenue FROM (
        | SELECT l_orderkey, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
        | FROM lineitem GROUP BY 1) r JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q04_supplier_first_shipments" ->
      """SELECT l_suppkey, sum(l_quantity)::BIGINT AS first3_qty, count(*) AS cnt FROM (
        | SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) AS rn
        | FROM lineitem) WHERE rn <= 3 GROUP BY 1""".stripMargin,
    "q05_customers_with_orders" ->
      """SELECT n_name, count(*) AS cnt FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
    "q06_customers_without_orders" ->
      """SELECT n_name, count(*) AS cnt FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
    "q07_distinct_part_supp" ->
      "SELECT l_returnflag, count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp FROM lineitem GROUP BY 1",
    "q08_events_by_type" ->
      """SELECT event_type, count(*) AS cnt,
        | sum(value::DECIMAL(18,6))::DOUBLE AS sum_value,
        | max(regexp_extract(props, '"k": (\d+)', 1)::BIGINT) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q09_sessionize" ->
      """SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events FROM (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts, lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
        |       FROM events)) GROUP BY 1""".stripMargin,
    "q10_normalize" ->
      s"SELECT doc_id, ${TextAnalysis.normalizeSql("text")} AS text_norm FROM documents",
    "q11_token_counts" ->
      s"""SELECT doc_id, len(regexp_split_to_array(text, '[\\s\\x0b]+')) AS ws_tokens,
         | len(regexp_extract_all(text, '${TextAnalysis.bpeTokenPatternDuck}')) AS bpe_tokens
         |FROM documents""".stripMargin,
    "q12_lang_id" ->
      s"SELECT doc_id, ${TextAnalysis.langIdSql("text")} AS lang_pred FROM documents",
    "q33_lang_trigram" ->
      s"SELECT doc_id, ${TextAnalysis.langIdTrigramSql("text")} AS lang_pred FROM documents",
    // ASCII-uppercase is char-local → the windowed protocol composes to a
    // per-char map over the '||'-joined text; '. ' join/split == replace
    "q34_translate_chunks" -> {
      val lower = ('a' to 'z').mkString
      val upper = ('A' to 'Z').mkString
      s"""SELECT doc_id,
         | CASE WHEN ${TextAnalysis.langIdSql("text")} = 'en'
         |   THEN replace(text, '. ', '||')
         |   ELSE translate(replace(text, '. ', '||'), '$lower', '$upper') END AS translated
         |FROM documents""".stripMargin
    },
    "q13_quality_score" ->
      s"SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality FROM documents",
    "q14_fingerprint" ->
      s"SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fp FROM documents",
    "q15_exact_dedup" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
         |SELECT ${TextAnalysis.fingerprintSql("text")} AS fp,
         | min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM u GROUP BY 1""".stripMargin,
    "q16_doc_stats" ->
      """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        | count(DISTINCT lang) AS n_langs FROM documents GROUP BY 1""".stripMargin,
    "q17_ann_brute_force" -> {
      val dim = 64
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
      val nq = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))"
      val nc = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))"
      s"""SELECT query_id, neighbor_id, round(sim, 4) AS sim, rk FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  $dot / ($nq * $nc) AS sim,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $dot / ($nq * $nc) DESC, c.vec_id ASC) AS rk
         | FROM embeddings q, embeddings c
         | WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) WHERE rk <= 5""".stripMargin
    },
    "q26_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q27_ngram_jaccard" -> {
      val toks = "regexp_split_to_array(lower(text), '[\\s\\x0b]+')"
      val sh = s"list_distinct(list_transform(range(0, greatest(len($toks) - 3, 0) + 1), i -> array_to_string(($toks)[i+1:i+3], ' ')))"
      s"""WITH sh AS (SELECT doc_id, source, $sh AS sh FROM documents),
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   len(list_intersect(a.sh, b.sh))::DOUBLE /
         |   greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE AS jac
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(jac, 4) AS jac FROM j WHERE jac > 0.05""".stripMargin
    },
    "q28_set_ops" ->
      """SELECT count(*) AS cnt, 'intersect' AS op FROM
        | (SELECT DISTINCT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT count(*) AS cnt, 'except' AS op FROM
        | (SELECT DISTINCT o_custkey FROM orders EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin,
    "q29_having" ->
      "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1 HAVING count(*) > 20",
    // flagship KG output and its wide export are pure functions of
    // (seed, code) — partitioning-pinned (KgPipeline.taggerTrainingFrame),
    // reproduced at any parallelism. The committed golden parquet freezes
    // the verified behavior; semantic correctness vs the reference is the
    // differential ScalaTest suite (EndToEndSpec golden P/R >= 0.95).
    // Regenerate with graft.GoldenDump after intentional changes.
    "q23_kg_triples" ->
      "SELECT subj, pred, obj FROM read_parquet('/root/repo/golden/q23_triples.parquet')",
    "q31_wide_export" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q31_wide.parquet')",
    // golden-parquet regression pins for the ML/LSH/chunker ops over the
    // driver's deterministic sf0.01 tables (semantics live in the ScalaTest
    // differentials; regenerate via graft.GoldenDump after intended changes)
    "q19_minhash_dedup" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q19_minhash.parquet')",
    "q20_simhash_candidates" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q20_simhash.parquet')",
    "q21_ann_lsh" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q21_ann_lsh.parquet')",
    "q24_entity_linking" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q24_linking.parquet')",
    "q25_clean_chain" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q25_clean.parquet')",
    "q32_html_chunks" ->
      "SELECT * FROM read_parquet('/root/repo/golden/q32_chunks.parquet')",
    "q30_running_total" ->
      """SELECT user_id, event_id,
        | (sum(value::DECIMAL(18,6)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS run_total
        |FROM events""".stripMargin,
    // the multimodal stub's feature = byte-histogram/n over the UTF-8
    // payload; DuckDB recomputes the histogram from hex(encode(text))
    "q22_multimodal_features" -> {
      val buckets = "list_transform(range(1, octet_length(p)+1), " +
        "i -> ('0x' || substr(hex(p), 2*i-1, 2))::INT // 32)"
      val hs = (0 until 8)
        .map(k => s" len(list_filter($buckets, x -> x = $k))::BIGINT AS h$k")
        .mkString(",\n|")
      s"""WITH e AS (SELECT doc_id, encode(text) AS p FROM documents)
         |SELECT doc_id, 'image/png' AS media_type, octet_length(p)::INT AS n_bytes,
         |$hs
         |FROM e""".stripMargin
    },
    "q35_minhash_pair_recall" -> exactJaccardPairsSql(0.3),
    "q36_simhash_recall" -> exactJaccardPairsSql(0.0),
    "q37_ann_lsh_exact" -> {
      // identical to the q17 brute-force oracle: the high-band LSH config
      // must reproduce the exact top-5
      val dim = 64
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
      val nq = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))"
      val nc = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))"
      s"""SELECT query_id, neighbor_id, round(sim, 4) AS sim, rk FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  $dot / ($nq * $nc) AS sim,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $dot / ($nq * $nc) DESC, c.vec_id ASC) AS rk
         | FROM embeddings q, embeddings c
         | WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) WHERE rk <= 5""".stripMargin
    },
    "q40_embedding_near_dup" -> {
      val dim = 64
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
      val na = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
      val nb = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round($dot / ($na * $nb), 4) AS cos
         |FROM u a, u b
         |WHERE a.vec_id < b.vec_id AND $dot / ($na * $nb) >= 0.5""".stripMargin
    },
    "q41_ann_ivf_exhaustive" -> {
      // identical to the q17 brute-force oracle: full-probe IVF is exhaustive
      val dim = 64
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
      val nq = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))"
      val nc = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))"
      s"""SELECT query_id, neighbor_id, round(sim, 4) AS sim, rk FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  $dot / ($nq * $nc) AS sim,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $dot / ($nq * $nc) DESC, c.vec_id ASC) AS rk
         | FROM embeddings q, embeddings c
         | WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) WHERE rk <= 5""".stripMargin
    },
    "q42_excel_roundtrip" ->
      // limit BEFORE the varchar cast: aliasing doc_id::VARCHAR first would
      // bind ORDER BY to the alias and sort lexicographically
      """SELECT doc_id::VARCHAR AS doc_id, lang, n_chars::VARCHAR AS n_chars
        |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)""".stripMargin,
    "q43_stream_windows" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q44_media_codecs" ->
      """SELECT 'png_decoded_dims_match' AS invariant, true AS ok
        |UNION ALL SELECT 'wav_rms_matches_analytic', true
        |UNION ALL SELECT 'wav_zcr_matches_analytic', true
        |UNION ALL SELECT 'gif_sampled_every_3rd_of_12', true
        |UNION ALL SELECT 'gif_frame_mean_matches_analytic', true""".stripMargin,
    "q38_chunk_invariants" ->
      "SELECT 'chunk_ids_dense_0_to_n' AS invariant, true AS ok",
    "q39_dedup_invariants" ->
      """SELECT 'q19_keep_le_id' AS invariant, true AS ok
        |UNION ALL SELECT 'q19_keep_is_own_rep', true
        |UNION ALL SELECT 'q20_pairs_ordered', true
        |UNION ALL SELECT 'q20_pairs_distinct', true
        |UNION ALL SELECT 'q24_surface_unique', true
        |UNION ALL SELECT 'q24_canonical_self_mapped', true""".stripMargin,
    "q45_triple_golden_pr" ->
      """SELECT 'golden_precision_ge_095' AS invariant, true AS ok
        |UNION ALL SELECT 'golden_recall_ge_095', true
        |UNION ALL SELECT 'subjects_subset_of_conv_ids', true
        |UNION ALL SELECT 'preds_in_allowed_set', true
        |UNION ALL SELECT 'no_null_or_empty_obj', true
        |UNION ALL SELECT 'per_turn_text_equality', true""".stripMargin,
    "q46_clean_invariants" ->
      """SELECT 'clean_lowercase' AS invariant, true AS ok
        |UNION ALL SELECT 'clean_no_tags', true
        |UNION ALL SELECT 'clean_no_control', true
        |UNION ALL SELECT 'clean_single_spaced', true
        |UNION ALL SELECT 'clean_trimmed', true
        |UNION ALL SELECT 'clean_no_custom_punct', true""".stripMargin,
    "q47_wide_invariants" ->
      """SELECT 'wide_row_per_triple_subject' AS invariant, true AS ok
        |UNION ALL SELECT 'wide_ids_unique', true
        |UNION ALL SELECT 'wide_cells_match_subject_counts', true
        |UNION ALL SELECT 'wide_skill_cells_conserve_triples', true""".stripMargin,
    "q48_skill_dbscan" ->
      """SELECT 'kept_subset_of_input' AS invariant, true AS ok
        |UNION ALL SELECT 'kept_subset_of_taxonomy_vocab', true
        |UNION ALL SELECT 'small_sets_keep_all_vocab_skills', true
        |UNION ALL SELECT 'dbscan_path_exercised', true
        |UNION ALL SELECT 'convs_nonempty', true""".stripMargin,
    "q50_stream_triples" ->
      """SELECT 'stream_nonorg_equals_batch' AS invariant, true AS ok
        |UNION ALL SELECT 'stream_orgs_equal_batch_via_canonical_map', true
        |UNION ALL SELECT 'all_convs_completed', true
        |UNION ALL SELECT 'stream_nonempty', true""".stripMargin,
    "q49_similarity_join" -> {
      // DuckDB evaluates the SAME predicate the quadratic way (exact
      // all-pairs), so a pair lost by the inverted-index rewrite or a
      // boundary disagreement fails the value compare; the |∩|/|∪|
      // operand shape matches the Spark side IEEE-exactly (q27 pattern).
      val toks = "regexp_split_to_array(lower(text), '[\\s\\x0b]+')"
      val sh = s"list_distinct(list_transform(range(0, greatest(len($toks) - 3, 0) + 1), i -> array_to_string(($toks)[i+1:i+3], ' ')))"
      s"""WITH sh AS (SELECT doc_id, $sh AS sh FROM documents),
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   len(list_intersect(a.sh, b.sh))::DOUBLE /
         |   greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE AS jac
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(jac, 4) AS jac FROM j WHERE jac > 0.05""".stripMargin
    },
    "q51_conv_path_parity" ->
      """SELECT 'clustered_equals_salted' AS invariant, true AS ok
        |UNION ALL SELECT 'all_convs_resolved', true
        |UNION ALL SELECT 'skew_conv_present', true""".stripMargin,
    "q18_near_dup_count" -> {
      val dim = 64
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
      val na = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
      val nb = s"sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"
      s"""SELECT count(*) AS n_pairs FROM embeddings a, embeddings b
         |WHERE a.vec_id < b.vec_id AND b.vec_id < 500 AND a.vec_id < 500
         | AND $dot / ($na * $nb) >= 0.3""".stripMargin
    },
    // DuckDB recomputes the q52 thirds cut points from the same parquet
    // and full-scan-filters — the Spark side must return the identical
    // rows while opening only 1 of 3 file groups (`//` = floor division,
    // matching Long division on the non-negative doc_id range).
    "q52_versioned_prune" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id BETWEEN lo + (hi - lo) // 3 + 1 AND lo + 2 * (hi - lo) // 3""".stripMargin,
    // q53: DuckDB re-derives the post-(append ∪ delete ∪ upsert) state from
    // the source table with the same quantile cut points — upserted range
    // carries n_chars+1000 and re-inserts the deleted overlap; the rest
    // survives unless it sat in the deleted second quarter.
    "q53_versioned_rowops" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |c AS (SELECT lo + (hi - lo) // 4 AS d1, lo + (hi - lo) // 2 AS d2,
        |             lo + 3 * (hi - lo) // 8 AS u1, lo + 5 * (hi - lo) // 8 AS u2 FROM b)
        |SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents, c
        | WHERE doc_id BETWEEN u1 AND u2
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents, c
        | WHERE NOT doc_id BETWEEN d1 AND d2 AND NOT doc_id BETWEEN u1 AND u2""".stripMargin,
    // q54: v2 (pre-delete, pre-merge) must equal the untouched source.
    "q54_versioned_time_travel" ->
      "SELECT doc_id, lang, n_chars FROM documents",
    // q55: the sorted-rewrite range read must equal the same full-scan
    // filter q52 uses — the rewrite changes layout, never content.
    "q55_versioned_sorted_rewrite" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id BETWEEN lo + (hi - lo) // 3 + 1 AND lo + 2 * (hi - lo) // 3""".stripMargin,
    // q56: the declarative filter over the FileIndex-planned scan must
    // equal the same full-scan filter — pruning changes IO, never rows.
    "q56_versioned_scan_pushdown" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id BETWEEN lo + (hi - lo) // 3 + 1 AND lo + 2 * (hi - lo) // 3""".stripMargin,
    // q57: a maintenance cycle changes layout and retention, never rows.
    "q57_versioned_maintenance" ->
      "SELECT doc_id, lang, n_chars FROM documents",
    // q58: bucketing changes the plan (no exchange), never the rows.
    "q58_bucketed_join" ->
      """WITH dim AS (SELECT lang, count(*) AS lang_docs FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, dim.lang_docs
        |FROM documents d JOIN dim ON d.lang = dim.lang""".stripMargin,
    // q59: DuckDB recomputes the same md5 point-lookup by full scan — the
    // bloom-pruned versioned read changes IO (1 of 4 groups), never rows.
    "q59_bloom_point_lookup" ->
      """WITH p AS (SELECT substr(md5(cast(min(doc_id) AS varchar)), 1, 16) AS probe
        |           FROM documents)
        |SELECT substr(md5(cast(doc_id AS varchar)), 1, 16) AS key, doc_id, n_chars
        |FROM documents, p
        |WHERE substr(md5(cast(doc_id AS varchar)), 1, 16) = probe""".stripMargin,
    // q60: the z-ordered 2-D box must equal DuckDB's full-scan filter with
    // the same cut points — the rewrite changes layout/IO, never rows.
    "q60_zorder_box" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi,
        |                  min(n_chars) AS nlo, max(n_chars) AS nhi FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id BETWEEN lo + (hi - lo) // 3 + 1 AND lo + 2 * (hi - lo) // 3
        |  AND n_chars BETWEEN nlo AND nlo + (nhi - nlo) // 2""".stripMargin,
    // q61: the incremental read past a compaction must equal exactly the
    // two appended slices — never the compaction's rewritten rows.
    "q61_incremental_read" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0",
    // q62: the pruned time-window read must equal DuckDB's full-scan
    // filter with the same epoch-micros cut points.
    "q62_versioned_time_prune" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events)
        |SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events, b
        |WHERE epoch_us(ts) BETWEEN lo + (hi - lo) // 3 + 1 AND lo + 2 * (hi - lo) // 3""".stripMargin,
    // q63: the post-rollback tip must equal the first two slices exactly —
    // the undone third slice contributes nothing, nothing else is lost.
    "q63_rollback_restore" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 2",
    // q64-q66: DuckDB recomputes the identical md5-prefix draw — the
    // cutoffs are floor(rate * 2^32) in hex (0.25=40000000, 0.75=c0000000,
    // 0.875=e0000000, 0.5=80000000, 0.125=20000000), fixed-width lowercase
    // hex compares exactly like the 32-bit value it encodes.
    "q64_hash_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN substr(md5(coalesce(cast(doc_id AS varchar), '') || ':sp1'), 1, 8) < 'c0000000' THEN 'train'
        |       WHEN substr(md5(coalesce(cast(doc_id AS varchar), '') || ':sp1'), 1, 8) < 'e0000000' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |WHERE substr(md5(coalesce(cast(doc_id AS varchar), '') || ':s1'), 1, 8) < '40000000'""".stripMargin,
    "q65_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(coalesce(cast(doc_id AS varchar), '') || ':s2'), 1, 8) <
        |  CASE WHEN lang = 'de' THEN '40000000'
        |       WHEN lang = 'en' THEN '80000000'
        |       ELSE '20000000' END""".stripMargin,
    "q66_group_topk" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(coalesce(cast(doc_id AS varchar), '') || ':s3'), 1, 8), doc_id) AS rn
        |  FROM documents) WHERE rn <= 3""".stripMargin,
    // q67: rename/drop change names and visibility, never values — the
    // evolved table must equal the raw source under the new names.
    "q67_column_mapping" ->
      "SELECT doc_id, lang AS language, n_chars FROM documents",
    // q68: DuckDB recomputes the whole change set from the source table —
    // v2's insert slice, v3's deleted band (live rows in [lo,hi]), v4's
    // update pre/post images (batch keys live at v3) and pure inserts
    // (batch keys not live). Every engine-side sidecar row must match.
    "q68_change_feed" ->
      """WITH m AS (SELECT max(doc_id) // 3 AS lo, 2 * (max(doc_id) // 3) AS hi FROM documents),
        |live2 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 IN (0, 1)),
        |live3 AS (SELECT l.* FROM live2 l, m WHERE l.doc_id NOT BETWEEN m.lo AND m.hi),
        |batch AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, lang, n_chars, 'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
        |  FROM documents WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT l.doc_id, l.lang, l.n_chars, 'delete', 3 FROM live2 l, m
        |  WHERE l.doc_id BETWEEN m.lo AND m.hi
        |UNION ALL
        |SELECT l.doc_id, l.lang, l.n_chars, 'update_preimage', 4
        |  FROM live3 l JOIN batch b USING (doc_id)
        |UNION ALL
        |SELECT b.doc_id, b.lang, b.n_chars, 'update_postimage', 4
        |  FROM batch b JOIN live3 l USING (doc_id)
        |UNION ALL
        |SELECT b.doc_id, b.lang, b.n_chars, 'insert', 4
        |  FROM batch b ANTI JOIN live3 l USING (doc_id)""".stripMargin,
    // q69: the same md5 layout order and prefix sum, recomputed as one
    // window + unnest(range(...)) — value-exact or the pack is wrong.
    "q69_sequence_pack" ->
      """WITH o AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(n_chars) OVER (
        |      ORDER BY substr(md5(coalesce(cast(doc_id AS varchar), '') || ':pk'), 1, 8), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM documents WHERE n_chars > 0),
        |s AS (SELECT *, unnest(range(start_offset // 2048,
        |    (start_offset + n_tokens - 1) // 2048 + 1)) AS seq_id FROM o)
        |SELECT doc_id, lang, n_tokens, start_offset, seq_id,
        |  greatest(0, seq_id * 2048 - start_offset) AS span_begin,
        |  least(start_offset + n_tokens, (seq_id + 1) * 2048)
        |    - greatest(start_offset, seq_id * 2048) AS span_len
        |FROM s""".stripMargin,
    // q70: the final MOR state recomputed from the source — the first two
    // slices minus the deleted keys, the post-delete slices untouched
    // (sequence scope: %3=2 keeps its %5 ids, %15 re-adds survive).
    "q70_mor_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 3 = 2
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars + 5000 FROM documents
        |  WHERE doc_id % 15 = 0""".stripMargin,
    // q71: the identical 3-gram shingling (the q27 tokenizer), eval vocab
    // from the % 7 slice, hit counts via a left join — value-exact.
    "q71_decontam" -> {
      val toks = "regexp_split_to_array(lower(text), '[\\s\\x0b]+')"
      val sh = s"list_distinct(list_transform(range(0, greatest(len($toks) - 3, 0) + 1), i -> array_to_string(($toks)[i+1:i+3], ' ')))"
      s"""WITH sh AS (SELECT doc_id, $sh AS sh FROM documents),
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM (
         |  SELECT unnest(sh) AS g FROM sh WHERE doc_id % 7 = 0)),
         |rep AS (
         |  SELECT e.doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN v.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
         |  FROM ex e LEFT JOIN ev v USING (g) GROUP BY 1)
         |SELECT doc_id, n_shingles, n_hits,
         |  round(n_hits::DOUBLE / greatest(n_shingles, 1)::DOUBLE, 4) AS contamination
         |FROM rep""".stripMargin
    },
    // q72: the identical synthetic header + the same five-pattern replace
    // chain (RE2's \b and ASCII classes agree with java.util.regex here).
    "q72_pii_redact" -> {
      val oct = """(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"""
      s"""WITH synth AS (SELECT doc_id,
         |  'user' || doc_id || '@mail.example.com' || ' ' ||
         |  '+4930' || lpad(CAST(doc_id AS VARCHAR), 8, '5') || ' ' ||
         |  '10.0.' || (doc_id % 256) || '.' || (doc_id % 300) || ' ' ||
         |  '(555) 867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
         |  text AS t FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b$oct\\.$oct\\.$oct\\.$oct\\b', '<IP>', 'g'),
         |    '\\(\\d{3}\\) \\d{3}-\\d{4}', '<PHONE>', 'g'),
         |    '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         |    '\\+\\d{7,15}\\b', '<PHONE>', 'g') AS redacted
         |FROM synth""".stripMargin
    },
    // q73: the identical md5 draw (the q64 form), per-stratum floor copies
    // + fractional-cutoff extras, repetition indices via unnest(range()).
    "q73_epoch_mix" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    CASE WHEN lang = 'de' THEN 2 WHEN lang = 'en' THEN 0 ELSE 1 END AS base,
        |    CASE WHEN lang = 'de' THEN '80000000' WHEN lang = 'en' THEN '40000000'
        |         ELSE '00000000' END AS cut,
        |    substr(md5(coalesce(cast(doc_id AS varchar), '') || ':mx'), 1, 8) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars,
        |    base + CASE WHEN h < cut THEN 1 ELSE 0 END AS copies FROM r)
        |SELECT doc_id, lang, n_chars, CAST(unnest(range(copies)) AS INT) AS copy
        |FROM c""".stripMargin,
    // q74: independent recomputation of every repetition signal — token
    // positions unnested, n-grams per (position, n), top gram by window
    // ranking (count desc, gram asc — the Spark tie-break), dup-5-gram
    // coverage as a position-set union. Same `[\s\x0b]` class as every
    // other twin (RE2 \s lacks VT).
    "q74_repetition" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[\s\x0b]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w, len(w) AS nw,
        |    coalesce(list_sum(list_transform(w, x -> length(x))), 0)::DOUBLE AS tc,
        |    len(list_distinct(w)) AS nd
        |  FROM w0),
        |pn AS (SELECT b.doc_id, b.tc, b.w, ns.n, unnest(range(1, b.nw - ns.n + 2)) AS i
        |  FROM b, (SELECT unnest([2, 3, 4, 5]) AS n) ns WHERE b.nw >= ns.n),
        |g AS (SELECT doc_id, n, tc, i,
        |    array_to_string(w[i:i+n-1], ' ') AS gram,
        |    list_sum(list_transform(w[i:i+n-1], x -> length(x))) AS gc
        |  FROM pn),
        |cnt AS (SELECT doc_id, n, tc, gram, gc, count(*) AS c FROM g GROUP BY ALL),
        |top AS (SELECT doc_id, n, c * gc / tc AS frac FROM
        |    (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |       ORDER BY c DESC, gram ASC) AS rk FROM cnt WHERE tc > 0)
        |  WHERE rk = 1 AND n <= 4),
        |d5 AS (SELECT g.doc_id, g.i FROM g
        |  JOIN cnt ON g.doc_id = cnt.doc_id AND g.n = 5 AND cnt.n = 5
        |          AND g.gram = cnt.gram
        |  WHERE cnt.c > 1),
        |cov AS (SELECT DISTINCT d5.doc_id, d5.i + o.o AS p
        |  FROM d5, (SELECT unnest(range(0, 5)) AS o) o),
        |covc AS (SELECT cov.doc_id, sum(length(b.w[p]))::DOUBLE AS cc
        |  FROM cov JOIN b ON b.doc_id = cov.doc_id GROUP BY 1)
        |SELECT b.doc_id, b.nw::BIGINT AS n_words,
        |  round(CASE WHEN b.nw = 0 THEN 0 ELSE (b.nw - b.nd)::DOUBLE / b.nw END, 4) AS dup_word_frac,
        |  round(coalesce(t2.frac, 0), 4) AS top2_char_frac,
        |  round(coalesce(t3.frac, 0), 4) AS top3_char_frac,
        |  round(coalesce(t4.frac, 0), 4) AS top4_char_frac,
        |  round(coalesce(covc.cc / nullif(b.tc, 0), 0), 4) AS dup5_char_frac
        |FROM b
        |LEFT JOIN (SELECT doc_id, frac FROM top WHERE n = 2) t2 USING (doc_id)
        |LEFT JOIN (SELECT doc_id, frac FROM top WHERE n = 3) t3 USING (doc_id)
        |LEFT JOIN (SELECT doc_id, frac FROM top WHERE n = 4) t4 USING (doc_id)
        |LEFT JOIN covc USING (doc_id)""".stripMargin,
    "q75_kg_negatives" ->
      """WITH pos AS (
        |  SELECT doc_id::VARCHAR AS subj, 'lang' AS pred, lang AS obj FROM documents
        |  UNION ALL
        |  SELECT doc_id::VARCHAR, 'source', source FROM documents),
        |vocab AS (SELECT pred, obj,
        |    row_number() OVER (PARTITION BY pred ORDER BY obj) - 1 AS idx
        |  FROM (SELECT DISTINCT pred, obj FROM pos)),
        |vs AS (SELECT pred, count(*) AS vocab_n FROM vocab GROUP BY 1),
        |drawn AS (SELECT subj, pred, obj, k.neg_k,
        |    ('0x' || substr(md5(subj || ':' || pred || ':' || obj || ':'
        |       || neg_k::VARCHAR || ':ng'), 1, 8))::UBIGINT % vocab_n AS idx
        |  FROM pos JOIN vs USING (pred),
        |       (SELECT unnest(range(2)) AS neg_k) k),
        |neg AS (SELECT d.subj, d.pred, d.obj, d.neg_k, v.obj AS neg_obj
        |  FROM drawn d JOIN vocab v ON v.pred = d.pred AND v.idx = d.idx
        |  WHERE v.obj <> d.obj)
        |SELECT n.subj, n.pred, n.obj, n.neg_k, n.neg_obj FROM neg n
        |ANTI JOIN pos p
        |  ON p.subj = n.subj AND p.pred = n.pred AND p.obj = n.neg_obj""".stripMargin,
    "q76_entity_pagerank" ->
      (entityEdgesSql +
      """,
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ew AS (SELECT src, dst,
        |    (CASE outdeg WHEN 1 THEN 1.00 WHEN 2 THEN 0.50 WHEN 4 THEN 0.25
        |       WHEN 5 THEN 0.20 WHEN 10 THEN 0.10 WHEN 20 THEN 0.05
        |       WHEN 25 THEN 0.04 WHEN 50 THEN 0.02 WHEN 100 THEN 0.01
        |     END)::DECIMAL(5,2) * 0.85::DECIMAL(3,2) AS wd
        |  FROM e JOIN od USING (src)),
        |r0 AS (SELECT node, 1.0::DECIMAL(30,20) AS rank FROM nodes),
        |r1 AS (SELECT n.node, (0.15::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r0 r ON r.node = ew.src GROUP BY 1),
        |r2 AS (SELECT n.node, (0.15::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r1 r ON r.node = ew.src GROUP BY 1),
        |r3 AS (SELECT n.node, (0.15::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r2 r ON r.node = ew.src GROUP BY 1)
        |SELECT node, CAST(CAST(rank AS DECIMAL(19,15))
        |  * 1000000000000000::DECIMAL(16,0) AS BIGINT) AS rank_fp
        |FROM r3""".stripMargin),
    "q77_entity_degrees" ->
      (entityEdgesSql +
      """
        |SELECT node,
        |  coalesce(o.out_deg, 0)::BIGINT AS out_deg,
        |  coalesce(i.in_deg, 0)::BIGINT AS in_deg
        |FROM (SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)) n
        |LEFT JOIN (SELECT src, count(*) AS out_deg FROM e GROUP BY 1) o
        |  ON o.src = n.node
        |LEFT JOIN (SELECT dst, count(*) AS in_deg FROM e GROUP BY 1) i
        |  ON i.dst = n.node""".stripMargin),
    "q78_copurchase_edges" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |pairs AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_both
        |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |marg AS (SELECT i, count(*) AS n FROM gi GROUP BY 1)
        |SELECT item_a, item_b, n_both, ma.n AS n_a, mb.n AS n_b
        |FROM pairs JOIN marg ma ON ma.i = item_a
        |JOIN marg mb ON mb.i = item_b""".stripMargin,
    "q79_entity_bfs" ->
      (entityEdgesSql +
      """,
        |rev AS (SELECT dst AS src, src AS dst FROM e),
        |seeds AS (SELECT DISTINCT dst AS node FROM e WHERE dst LIKE 'r%')
        |SELECT node, min(hops)::INT AS hops FROM (
        |  WITH RECURSIVE bfs AS (
        |    SELECT node, 0 AS hops FROM seeds
        |    UNION
        |    SELECT rev.dst, bfs.hops + 1 FROM bfs
        |    JOIN rev ON rev.src = bfs.node WHERE bfs.hops < 4)
        |  SELECT * FROM bfs) GROUP BY 1""".stripMargin),
    "q80_functional_violations" ->
      (constraintTriplesSql +
      """
        |SELECT subj, pred, count(DISTINCT obj) AS n_values FROM tri
        |WHERE pred IN ('lang', 'source')
        |GROUP BY 1, 2 HAVING count(DISTINCT obj) > 1""".stripMargin),
    "q81_range_violations" ->
      (constraintTriplesSql +
      """,
        |dim AS (SELECT DISTINCT lang AS obj FROM documents
        |        WHERE lang IS NOT NULL)
        |SELECT subj, pred, obj FROM (SELECT * FROM tri WHERE pred = 'lang') l
        |ANTI JOIN dim USING (obj)""".stripMargin),
    "q82_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT lang,
        |    ('0x' || substr(md5(coalesce(text, '') || ':cd'), 1, 8))::UBIGINT AS h
        |  FROM documents),
        |r AS (SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |m AS (SELECT lang, count(*) AS k_used, max(h)::BIGINT AS kth
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT lang, k_used::INT AS k_used, kth,
        |  CASE WHEN k_used < 64 THEN k_used::DOUBLE
        |       ELSE 63 * 4294967296.0 / kth END AS est
        |FROM m""".stripMargin,
    "q83_fusion" ->
      """WITH obs AS (SELECT user_id AS subj, 'fav_event' AS pred,
        |    event_type AS obj, ts FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT subj, pred, obj, count(*) AS support,
        |    min(ts) AS first_seen, max(ts) AS last_seen
        |  FROM obs GROUP BY 1, 2, 3),
        |r AS (SELECT *,
        |    count(*) OVER (PARTITION BY subj, pred) AS n_alternatives,
        |    row_number() OVER (PARTITION BY subj, pred
        |      ORDER BY support DESC, last_seen DESC, obj ASC) AS rn
        |  FROM per)
        |SELECT subj, pred, obj, support, first_seen, last_seen,
        |  n_alternatives
        |FROM r WHERE rn = 1""".stripMargin,
    "q84_random_walks" ->
      (entityEdgesSql +
      """,
        |dis AS (SELECT DISTINCT src, dst FROM e
        |  WHERE src IS NOT NULL AND dst IS NOT NULL),
        |idx AS (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS eidx
        |  FROM dis),
        |od AS (SELECT src, count(*) AS outdeg FROM idx GROUP BY 1),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM dis UNION ALL SELECT dst FROM dis))
        |SELECT walk_id, step, cur AS node FROM (
        |  WITH RECURSIVE w AS (
        |    SELECT node AS walk_id, node AS cur, 0 AS step FROM nodes
        |    UNION ALL
        |    SELECT w.walk_id, i.dst, w.step + 1 FROM w
        |    JOIN od ON od.src = w.cur
        |    JOIN idx i ON i.src = w.cur
        |      AND i.eidx = ('0x' || substr(md5(w.walk_id || ':'
        |        || (w.step + 1)::VARCHAR || ':rw'), 1, 8))::UBIGINT
        |        % od.outdeg
        |    WHERE w.step < 4)
        |  SELECT * FROM w)""".stripMargin),
    "q85_fuzzy_pairs" ->
      """WITH s0 AS (
        |  SELECT DISTINCT lower(p_name) AS surface FROM part
        |  UNION SELECT DISTINCT lower(s_name) FROM supplier),
        |s AS (SELECT surface, substr(surface, 1, 2) AS pfx,
        |    length(surface) AS ln FROM s0),
        |keep AS (SELECT pfx FROM s GROUP BY pfx HAVING count(*) <= 10000),
        |sk AS (SELECT s.* FROM s JOIN keep USING (pfx))
        |SELECT a.surface AS surface_a, b.surface AS surface_b,
        |  levenshtein(a.surface, b.surface)::INT AS dist
        |FROM sk a JOIN sk b
        |  ON a.pfx = b.pfx AND a.surface < b.surface
        | AND abs(a.ln - b.ln) <= 2
        |WHERE levenshtein(a.surface, b.surface) <= 2""".stripMargin,
    "q86_triangle_counts" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |und AS (SELECT a.i AS a, b.i AS b
        |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS d FROM
        |  (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |         THEN a ELSE b END AS src,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |         THEN b ELSE a END AS dst
        |  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
        |wg AS (SELECT x.src AS u, x.dst AS v, y.dst AS t
        |  FROM o x JOIN o y ON x.src = y.src AND x.dst < y.dst),
        |tri AS (SELECT u, v, t FROM wg
        |  JOIN und ON least(v, t) = und.a AND greatest(v, t) = und.b)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT t FROM tri) GROUP BY 1""".stripMargin,
    "q87_link_prediction" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |und AS (SELECT a.i AS a, b.i AS b
        |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS n, b AS x FROM und
        |  UNION ALL SELECT b, a FROM und),
        |ctr AS (SELECT x FROM adj GROUP BY x HAVING count(*) <= 10000),
        |adjc AS (SELECT adj.* FROM adj JOIN ctr USING (x)),
        |pairs AS (SELECT p.n AS node_a, q.n AS node_b,
        |    count(*) AS n_common
        |  FROM adjc p JOIN adjc q ON p.x = q.x AND p.n < q.n
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT node_a, node_b, n_common FROM pairs
        |ANTI JOIN und ON node_a = und.a AND node_b = und.b""".stripMargin,
    "q88_cube_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
        |  count(*) AS cnt,
        |  sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sum_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q89_rollup_time" ->
      """SELECT year(ts)::INT AS y, month(ts)::INT AS m,
        |  day(ts)::INT AS d,
        |  GROUPING(year(ts), month(ts), day(ts))::BIGINT AS gid,
        |  count(*) AS cnt,
        |  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
        |FROM events
        |GROUP BY ROLLUP (year(ts), month(ts), day(ts))""".stripMargin,
    "q90_set_ops" ->
      """SELECT user_id, 'both' AS kind FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,
    "q91_json_extract" ->
      """SELECT event_type,
        |  count(k) AS cnt, sum(k)::BIGINT AS sum_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |    json_extract_string(props, '$.k')::INT AS k FROM events)
        |GROUP BY 1""".stripMargin,
    "q92_personalized_ppr" ->
      (entityEdgesSql +
      """,
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |seeds AS (SELECT DISTINCT 'c' || c_custkey AS node
        |  FROM customer WHERE c_nationkey = 0),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ew AS (SELECT src, dst,
        |    (CASE outdeg WHEN 1 THEN 1.00 WHEN 2 THEN 0.50 WHEN 4 THEN 0.25
        |       WHEN 5 THEN 0.20 WHEN 10 THEN 0.10 WHEN 20 THEN 0.05
        |       WHEN 25 THEN 0.04 WHEN 50 THEN 0.02 WHEN 100 THEN 0.01
        |     END)::DECIMAL(5,2) * 0.85::DECIMAL(3,2) AS wd
        |  FROM e JOIN od USING (src)),
        |r0 AS (SELECT n.node,
        |    (CASE WHEN s.node IS NOT NULL THEN 1.0 ELSE 0.0
        |     END)::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
        |r1 AS (SELECT n.node, ((CASE WHEN s.node IS NOT NULL
        |      THEN 0.15 ELSE 0.00 END)::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        |  LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r0 r ON r.node = ew.src GROUP BY n.node, s.node),
        |r2 AS (SELECT n.node, ((CASE WHEN s.node IS NOT NULL
        |      THEN 0.15 ELSE 0.00 END)::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        |  LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r1 r ON r.node = ew.src GROUP BY n.node, s.node),
        |r3 AS (SELECT n.node, ((CASE WHEN s.node IS NOT NULL
        |      THEN 0.15 ELSE 0.00 END)::DECIMAL(3,2)
        |    + coalesce(sum(r.rank * ew.wd), 0))::DECIMAL(30,20) AS rank
        |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        |  LEFT JOIN ew ON ew.dst = n.node
        |  LEFT JOIN r2 r ON r.node = ew.src GROUP BY n.node, s.node)
        |SELECT node, CAST(CAST(rank AS DECIMAL(19,15))
        |  * 1000000000000000::DECIMAL(16,0) AS BIGINT) AS rank_fp
        |FROM r3""".stripMargin),
    "q93_path_closure" ->
      (entityEdgesSql +
      """,
        |e2 AS (SELECT src, dst FROM e
        |  UNION ALL SELECT 'o' || o_orderkey, 'c' || o_custkey FROM orders)
        |SELECT src, dst, min(hops)::INT AS hops FROM (
        |  WITH RECURSIVE cl AS (
        |    SELECT src, dst, 1 AS hops FROM e2
        |    UNION
        |    SELECT cl.src, e2.dst, cl.hops + 1 FROM cl
        |    JOIN e2 ON e2.src = cl.dst WHERE cl.hops < 4)
        |  SELECT * FROM cl) GROUP BY 1, 2""".stripMargin),
    "q94_bgp_match" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || s_suppkey, 'supp_nation', 'n' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey)
        |SELECT t1.subj AS c, t1.obj AS n, t2.subj AS s
        |FROM tri t1
        |JOIN tri t2 ON t2.pred = 'supp_nation' AND t2.obj = t1.obj
        |JOIN tri t3 ON t3.pred = 'in_region' AND t3.subj = t1.obj
        |  AND t3.obj = 'rEUROPE'
        |WHERE t1.pred = 'cust_nation'""".stripMargin,
    "q137_sparql_subquery" ->
      """SELECT 'n' || n_name AS n, cnt
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN (SELECT o_custkey, count(*)::BIGINT AS cnt FROM orders
        |      WHERE o_totalprice > 450000 GROUP BY 1) big
        |  ON big.o_custkey = c_custkey""".stripMargin,
    "q136_sparql_values_table" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN (VALUES ('nNATION_0', 'rAFRICA'), ('nNATION_1', 'rAMERICA'),
        |      ('nNATION_12', 'rASIA'), ('nNATION_0', 'rASIA')) vt(vn, vr)
        |  ON vn = 'n' || n_name AND vr = 'r' || r_name""".stripMargin,
    "q135_sparql_exists" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |SEMI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |  ON o_custkey = c_custkey""".stripMargin,
    "q134_sparql_optional_filter" ->
      """SELECT 'c' || c_custkey AS c, big.o AS o
        |FROM customer
        |LEFT JOIN (SELECT 'c' || o_custkey AS c2, 'o' || o_orderkey AS o
        |    FROM orders
        |    WHERE o_totalprice > 450000
        |      AND ('o' || o_orderkey) LIKE '%0') big
        |  ON big.c2 = 'c' || c_custkey""".stripMargin,
    "q133_sparql_not_bound" ->
      """SELECT 'c' || c_custkey AS c
        |FROM customer
        |ANTI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |  ON o_custkey = c_custkey""".stripMargin,
    "q131_sparql_group_concat" ->
      """SELECT 'r' || r_name AS r,
        |  string_agg('n' || n_name, ' ' ORDER BY 'n' || n_name) AS members
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "q132_sparql_sample_having" ->
      """SELECT 'n' || n_name AS n, count(*)::BIGINT AS cnt,
        |  min('c' || c_custkey) AS first
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 HAVING count(*) >= 50""".stripMargin,
    "q129_sparql_connectives" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE (('n' || n_name) LIKE '%1' OR ('n' || n_name) LIKE '%2')
        |  AND NOT (('c' || c_custkey) LIKE '%9%')""".stripMargin,
    "q130_sparql_path_opt" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL SELECT 'c' || c_custkey, 'placed', 'o' || o_orderkey
        |    FROM customer JOIN orders ON c_custkey = o_custkey),
        |cn AS (SELECT DISTINCT subj, obj FROM tri WHERE pred = 'cust_nation'),
        |ir AS (SELECT DISTINCT subj, obj FROM tri WHERE pred = 'in_region')
        |SELECT DISTINCT src, dst FROM (
        |  SELECT subj AS src, obj AS dst FROM cn
        |  UNION ALL SELECT cn.subj, ir.obj FROM cn JOIN ir ON ir.subj = cn.obj)""".stripMargin,
    "q125_sparql_filter_fn" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE ('n' || n_name) LIKE '%A%'
        |  AND length('c' || c_custkey) - 1 <= 3""".stripMargin,
    "q126_sparql_bind" ->
      """SELECT 'c' || c_custkey AS c,
        |  length('n' || n_name) * 10.0 AS score
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE length('n' || n_name) * 10 >= 80""".stripMargin,
    "q95_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |    WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'click'),
        |m AS (SELECT l.event_id, r.ts AS r_ts, r.value AS r_value,
        |    row_number() OVER (PARTITION BY l.event_id
        |                       ORDER BY r.ts DESC) AS rn
        |  FROM l JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts)
        |SELECT l.event_id, l.user_id, l.ts, l.value, m.r_ts, m.r_value
        |FROM l LEFT JOIN (SELECT event_id, r_ts, r_value FROM m
        |                  WHERE rn = 1) m USING (event_id)""".stripMargin,
    "q96_ntriples" ->
      """SELECT '<urn:graft:' ||
        |  replace(replace(replace(replace(replace('e' || event_id,
        |    '%', '%25'), ' ', '%20'), '"', '%22'), '<', '%3C'), '>', '%3E')
        |  || '> <urn:graft:props> "' ||
        |  replace(replace(replace(replace(replace(props,
        |    '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'),
        |    chr(9), '\t')
        |  || '" .' AS ntriple
        |FROM events""".stripMargin,
    "q97_validity_intervals" ->
      (eventObservationsSql +
      """,
        |ch AS (SELECT subj, pred, obj, ts,
        |    lag(obj) OVER (PARTITION BY subj, pred ORDER BY ts) AS prev
        |  FROM obs),
        |cp AS (SELECT subj, pred, obj, ts AS valid_from FROM ch
        |    WHERE obj IS DISTINCT FROM prev)
        |SELECT subj, pred, obj, valid_from,
        |  lead(valid_from) OVER (PARTITION BY subj, pred
        |                         ORDER BY valid_from) AS valid_to
        |FROM cp""".stripMargin),
    "q98_kg_snapshot" ->
      (eventObservationsSql +
      """,
        |ch AS (SELECT subj, pred, obj, ts,
        |    lag(obj) OVER (PARTITION BY subj, pred ORDER BY ts) AS prev
        |  FROM obs),
        |cp AS (SELECT subj, pred, obj, ts AS valid_from FROM ch
        |    WHERE obj IS DISTINCT FROM prev),
        |iv AS (SELECT subj, pred, obj, valid_from,
        |    lead(valid_from) OVER (PARTITION BY subj, pred
        |                           ORDER BY valid_from) AS valid_to
        |  FROM cp)
        |SELECT subj, pred, obj FROM iv
        |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (valid_to IS NULL
        |       OR valid_to > TIMESTAMP '2024-01-15 00:00:00')""".stripMargin),
    "q99_bgp_optional" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'o' || o_orderkey, 'ordered_by', 'c' || o_custkey
        |    FROM orders WHERE o_totalprice > 450000)
        |SELECT t1.subj AS c, t1.obj AS n, t2.subj AS o
        |FROM tri t1
        |LEFT JOIN tri t2 ON t2.pred = 'ordered_by' AND t2.obj = t1.subj
        |WHERE t1.pred = 'cust_nation'""".stripMargin,
    "q100_lpa_communities" ->
      (entityEdgesSql +
      """,
        |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS node FROM und),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |v1 AS (SELECT u.dst AS node, l.label, count(*) AS cnt
        |  FROM und u JOIN l0 l ON l.node = u.src GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |                       ORDER BY cnt DESC, label) AS rn
        |  FROM v1) WHERE rn = 1),
        |v2 AS (SELECT u.dst AS node, l.label, count(*) AS cnt
        |  FROM und u JOIN l1 l ON l.node = u.src GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |                       ORDER BY cnt DESC, label) AS rn
        |  FROM v2) WHERE rn = 1),
        |v3 AS (SELECT u.dst AS node, l.label, count(*) AS cnt
        |  FROM und u JOIN l2 l ON l.node = u.src GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |                       ORDER BY cnt DESC, label) AS rn
        |  FROM v3) WHERE rn = 1)
        |SELECT node, label FROM l3""".stripMargin),
    "q101_path_algebra" -> pathAlgebraSql,
    // same path, text-syntax front-end — text == algebra == SQL
    "q111_sparql_path" -> pathAlgebraSql,
    "q140_sparql_union_path" ->
      """SELECT 'c' || c_custkey AS c, 'r' || r_name AS x
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |UNION ALL
        |SELECT 'c' || c_custkey, 'o' || o_orderkey
        |FROM customer JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "q139_sparql_negated_set" ->
      """SELECT DISTINCT subj AS a, obj AS b FROM (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || s_suppkey, 'supp_nation', 'n' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey)
        |WHERE pred NOT IN ('cust_nation', 'supp_nation')""".stripMargin,
    "q123_sparql_path_plus" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL SELECT 'c' || c_custkey, 'placed', 'o' || o_orderkey
        |    FROM customer JOIN orders ON c_custkey = o_custkey),
        |e AS (SELECT DISTINCT obj AS src, subj AS dst FROM tri
        |        WHERE pred = 'placed'
        |      UNION SELECT DISTINCT subj, obj FROM tri
        |        WHERE pred IN ('cust_nation', 'in_region'))
        |SELECT DISTINCT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst FROM e
        |    UNION
        |    SELECT c.src, e.dst FROM c JOIN e ON e.src = c.dst)
        |  SELECT * FROM c)""".stripMargin,
    "q124_sparql_path_star" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL SELECT 'c' || c_custkey, 'placed', 'o' || o_orderkey
        |    FROM customer JOIN orders ON c_custkey = o_custkey),
        |w AS (SELECT DISTINCT subj AS src, obj AS dst FROM tri
        |      WHERE pred IN ('cust_nation', 'in_region')),
        |cl AS (SELECT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst FROM w
        |    UNION
        |    SELECT c.src, w.dst FROM c JOIN w ON w.src = c.dst)
        |  SELECT * FROM c)),
        |terms AS (SELECT DISTINCT subj AS t FROM tri
        |          UNION SELECT DISTINCT obj FROM tri)
        |SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM cl
        |  UNION ALL SELECT t AS src, t AS dst FROM terms)""".stripMargin,
    "q112_kge_tail_ranks" -> kgeRanksSql(headSide = false),
    "q116_kge_head_ranks" -> kgeRanksSql(headSide = true),
    "q127_kge_distmult_tails" -> kgeRanksSql(headSide = false, distMult = true),
    "q128_kge_distmult_heads" -> kgeRanksSql(headSide = true, distMult = true),
    "q113_sparql_topk" ->
      """SELECT 'n' || n_name AS n, count(*)::BIGINT AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY cnt DESC, n LIMIT 5""".stripMargin,
    "q114_shacl_cardinality" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'c' || o_custkey, 'placed_big', 'o' || o_orderkey
        |    FROM orders WHERE o_totalprice > 450000),
        |scope AS (SELECT DISTINCT 'c' || c_custkey AS subj FROM customer),
        |cons AS (SELECT * FROM (VALUES
        |  ('cust_nation', 1, 1), ('placed_big', 1, 2)) v(pred, min_c, max_c)),
        |counts AS (SELECT subj, pred, count(DISTINCT obj) AS n
        |  FROM tri GROUP BY 1, 2)
        |SELECT s.subj, c.pred, coalesce(n, 0)::BIGINT AS n_values,
        |  CASE WHEN coalesce(n, 0) < min_c THEN 'min' ELSE 'max'
        |  END AS violation
        |FROM scope s CROSS JOIN cons c
        |LEFT JOIN counts ON counts.subj = s.subj AND counts.pred = c.pred
        |WHERE coalesce(n, 0) < min_c OR coalesce(n, 0) > max_c""".stripMargin,
    "q117_sparql_minus" ->
      """WITH cn AS (SELECT 'c' || c_custkey AS c, 'n' || n_name AS n,
        |    n_regionkey AS rk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |eu AS (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE'),
        |big AS (SELECT DISTINCT 'c' || o_custkey AS c FROM orders
        |  WHERE o_totalprice > 450000)
        |SELECT cn.c, cn.n FROM cn
        |JOIN eu ON eu.r_regionkey = cn.rk
        |ANTI JOIN big ON big.c = cn.c""".stripMargin,
    "q118_sparql_page" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c LIMIT 20 OFFSET 10""".stripMargin,
    "q119_sparql_describe" ->
      """SELECT DISTINCT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |  'n' || n_name AS obj
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'""".stripMargin,
    "q138_owl_symmetric" ->
      """WITH b AS (SELECT 'n' || a.n_name AS s, 'n' || c.n_name AS o
        |    FROM nation a JOIN nation c ON c.n_nationkey = a.n_nationkey + 1),
        |sym AS (SELECT s, o FROM b UNION SELECT o, s FROM b)
        |SELECT subj, pred, obj FROM (
        |  SELECT s AS subj, 'borders' AS pred, o AS obj FROM sym
        |  UNION
        |  SELECT s, 'connected', o FROM sym)""".stripMargin,
    "q121_owl_closure" ->
      """WITH base AS (
        |  SELECT 'c' || c_custkey AS subj, 'within' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'within', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL SELECT 'c' || o_custkey, 'placed', 'o' || o_orderkey
        |    FROM orders WHERE o_totalprice > 450000),
        |w AS (SELECT DISTINCT subj AS src, obj AS dst FROM base
        |      WHERE pred = 'within'),
        |cl AS (SELECT DISTINCT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst, 1 AS h FROM w
        |    UNION
        |    SELECT c.src, w.dst, c.h + 1 FROM c
        |    JOIN w ON w.src = c.dst WHERE c.h < 16)
        |  SELECT * FROM c))
        |SELECT subj, pred, obj FROM base
        |UNION SELECT src, 'within', dst FROM cl
        |UNION SELECT obj, 'placed_by', subj FROM base
        |  WHERE pred = 'placed'""".stripMargin,
    "q122_smush_then_entail" ->
      """WITH cn AS (SELECT c_custkey AS k, n_name AS nm
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |links AS (SELECT 'a' || k AS src, 'c' || k AS dst FROM cn
        |          WHERE k % 7 = 0),
        |canon AS (SELECT src AS node, least(src, dst) AS label FROM links
        |  UNION SELECT dst, least(src, dst) FROM links),
        |raw AS (
        |  SELECT 'c' || k AS subj, 'cust_nation' AS pred,
        |      'n' || nm AS obj FROM cn
        |  UNION ALL SELECT 'a' || k, 'cust_nation', 'n' || nm FROM cn
        |    WHERE k % 7 = 0
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey),
        |base AS (SELECT DISTINCT coalesce(c1.label, raw.subj) AS subj,
        |    raw.pred, coalesce(c2.label, raw.obj) AS obj
        |  FROM raw
        |  LEFT JOIN canon c1 ON c1.node = raw.subj
        |  LEFT JOIN canon c2 ON c2.node = raw.obj),
        |loc AS (SELECT DISTINCT subj AS src, obj AS dst FROM base
        |        WHERE pred IN ('cust_nation', 'in_region')),
        |cl AS (SELECT DISTINCT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst, 1 AS h FROM loc
        |    UNION
        |    SELECT c.src, l.dst, c.h + 1 FROM c
        |    JOIN loc l ON l.src = c.dst WHERE c.h < 16)
        |  SELECT * FROM c))
        |SELECT subj, pred, obj FROM base
        |UNION SELECT src, 'located_in', dst FROM cl""".stripMargin,
    "q120_sparql_union" ->
      """WITH u AS (
        |  SELECT 'c' || c_custkey AS x, 'n' || n_name AS n
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 's' || s_suppkey, 'n' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |eu AS (SELECT 'n' || n_name AS n
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT u.x, u.n FROM u JOIN eu ON eu.n = u.n""".stripMargin,
    "q115_shacl_datatype" ->
      """WITH tri AS (SELECT 'e' || event_id AS subj, 'k_value' AS pred,
        |    CASE WHEN event_id % 10 = 0 THEN event_type
        |         ELSE json_extract_string(props, '$.k') END AS obj
        |  FROM events)
        |SELECT subj, pred, obj FROM tri
        |WHERE NOT coalesce(try_cast(obj AS BIGINT) IS NOT NULL
        |  AND obj NOT LIKE '%.%' AND obj NOT LIKE '%e%'
        |  AND obj NOT LIKE '%E%', false)""".stripMargin,
    "q102_weighted_paths" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |pairs AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_both
        |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ed AS (SELECT item_a AS src, item_b AS dst,
        |    greatest(1, 100 - n_both)::BIGINT AS w FROM pairs
        |  UNION ALL SELECT item_b, item_a, greatest(1, 100 - n_both)::BIGINT
        |  FROM pairs),
        |seeds AS (SELECT DISTINCT l_partkey AS node FROM lineitem
        |    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem))
        |SELECT node, min(cost)::BIGINT AS cost FROM (
        |  WITH RECURSIVE p AS (
        |    SELECT node, 0::BIGINT AS cost, 0 AS h FROM seeds
        |    UNION
        |    SELECT ed.dst, p.cost + ed.w, p.h + 1 FROM p
        |    JOIN ed ON ed.src = p.node WHERE p.h < 4)
        |  SELECT * FROM p) GROUP BY 1""".stripMargin,
    "q103_ivm_degrees" ->
      """WITH e AS (SELECT l_orderkey * 10 + l_linenumber AS eid,
        |    's' || l_suppkey AS src, 'p' || l_partkey AS dst
        |  FROM lineitem),
        |mx AS (SELECT max(eid) AS m FROM e),
        |base AS (SELECT * FROM e
        |  WHERE eid % 3 IN (0, 1)
        |    AND NOT (eid >= (SELECT m // 3 FROM mx)
        |             AND eid <= (SELECT 2 * (m // 3) FROM mx))),
        |batch AS (SELECT eid, src, 'p0' AS dst FROM e WHERE eid % 7 = 0),
        |fin AS (SELECT src, dst FROM base
        |    WHERE eid NOT IN (SELECT eid FROM batch)
        |  UNION ALL SELECT src, dst FROM batch)
        |SELECT node,
        |  coalesce(o.out_deg, 0)::BIGINT AS out_deg,
        |  coalesce(i.in_deg, 0)::BIGINT AS in_deg
        |FROM (SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM fin UNION ALL SELECT dst FROM fin)) n
        |LEFT JOIN (SELECT src, count(*) AS out_deg FROM fin GROUP BY 1) o
        |  ON o.src = n.node
        |LEFT JOIN (SELECT dst, count(*) AS in_deg FROM fin GROUP BY 1) i
        |  ON i.dst = n.node""".stripMargin,
    "q104_sparql_text" ->
      """WITH tri AS (
        |  SELECT 's' || s_suppkey AS subj, 'supp_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey)
        |SELECT DISTINCT t1.subj AS s, t1.obj AS n
        |FROM tri t1
        |JOIN tri t2 ON t2.pred = 'in_region' AND t2.subj = t1.obj
        |  AND t2.obj IN ('rEUROPE', 'rASIA')
        |WHERE t1.pred = 'supp_nation' AND t1.obj <> 'nGERMANY'""".stripMargin,
    "q105_rdfs_closure" ->
      """WITH dp AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey),
        |sch AS (SELECT * FROM (VALUES
        |  ('cust_nation', 'subPropertyOf', 'located_in'),
        |  ('in_region', 'subPropertyOf', 'located_in'),
        |  ('located_in', 'subPropertyOf', 'related_to'),
        |  ('cust_nation', 'domain', 'Customer'),
        |  ('cust_nation', 'range', 'Nation'),
        |  ('in_region', 'domain', 'Nation'),
        |  ('in_region', 'range', 'Region'),
        |  ('Nation', 'subClassOf', 'Place'),
        |  ('Region', 'subClassOf', 'Place'),
        |  ('Customer', 'subClassOf', 'Agent'),
        |  ('Agent', 'subClassOf', 'Resource'),
        |  ('Place', 'subClassOf', 'Resource')) v(subj, pred, obj)),
        |sp AS (SELECT DISTINCT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT subj AS src, obj AS dst FROM sch
        |      WHERE pred = 'subPropertyOf'
        |    UNION
        |    SELECT c.src, s.obj FROM c JOIN sch s
        |      ON s.pred = 'subPropertyOf' AND s.subj = c.dst)
        |  SELECT * FROM c)),
        |sc AS (SELECT DISTINCT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT subj AS src, obj AS dst FROM sch WHERE pred = 'subClassOf'
        |    UNION
        |    SELECT c.src, s.obj FROM c JOIN sch s
        |      ON s.pred = 'subClassOf' AND s.subj = c.dst)
        |  SELECT * FROM c)),
        |allprop AS (SELECT DISTINCT subj, pred, obj FROM (
        |  SELECT * FROM dp
        |  UNION ALL SELECT d.subj, sp.dst, d.obj FROM dp d
        |    JOIN sp ON sp.src = d.pred)),
        |bt AS (
        |  SELECT d.subj, k.obj AS cls FROM allprop d
        |    JOIN sch k ON k.pred = 'domain' AND k.subj = d.pred
        |  UNION ALL
        |  SELECT d.obj, k.obj FROM allprop d
        |    JOIN sch k ON k.pred = 'range' AND k.subj = d.pred),
        |att AS (SELECT DISTINCT subj, 'type' AS pred, cls AS obj FROM (
        |  SELECT * FROM bt
        |  UNION ALL SELECT bt.subj, sc.dst FROM bt
        |    JOIN sc ON sc.src = bt.cls))
        |SELECT subj, pred, obj FROM allprop
        |UNION SELECT subj, pred, obj FROM att""".stripMargin,
    "q106_sameas_smush" ->
      """WITH cn AS (SELECT c_custkey AS k, n_name AS nm
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |tri AS (
        |  SELECT 'c' || k AS subj, 'cust_nation' AS pred,
        |      'n' || nm AS obj FROM cn
        |  UNION ALL SELECT 'a' || k, 'cust_nation', 'n' || nm FROM cn
        |    WHERE k % 7 = 0
        |  UNION ALL SELECT 'c' || k, 'cust_nation', 'x' || nm FROM cn
        |    WHERE k % 11 = 0),
        |links AS (
        |  SELECT 'a' || k AS src, 'c' || k AS dst FROM cn WHERE k % 7 = 0
        |  UNION ALL SELECT 'b' || k, 'a' || k FROM cn WHERE k % 14 = 0
        |  UNION ALL SELECT 'x' || n_name, 'n' || n_name FROM nation),
        |und AS (SELECT src, dst FROM links
        |  UNION SELECT dst, src FROM links),
        |cl AS (SELECT src, dst FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst, 1 AS h FROM und
        |    UNION
        |    SELECT c.src, u.dst, c.h + 1 FROM c
        |    JOIN und u ON u.src = c.dst WHERE c.h < 4)
        |  SELECT * FROM c)),
        |canon AS (SELECT node, min(lbl) AS label FROM (
        |    SELECT src AS node, dst AS lbl FROM cl
        |    UNION SELECT src, src FROM cl) GROUP BY 1)
        |SELECT DISTINCT coalesce(cs.label, t.subj) AS subj, t.pred,
        |  coalesce(co.label, t.obj) AS obj
        |FROM tri t
        |LEFT JOIN canon cs ON cs.node = t.subj
        |LEFT JOIN canon co ON co.node = t.obj""".stripMargin,
    "q107_sparql_construct" ->
      """WITH tri AS (
        |  SELECT 's' || s_suppkey AS subj, 'supp_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey),
        |sol AS (SELECT t1.subj AS s, t1.obj AS n, t2.obj AS r
        |  FROM tri t1 JOIN tri t2
        |    ON t2.pred = 'in_region' AND t2.subj = t1.obj
        |  WHERE t1.pred = 'supp_nation')
        |SELECT n AS subj, 'hosts' AS pred, s AS obj FROM sol
        |UNION
        |SELECT s, 'located_in', r FROM sol""".stripMargin,
    "q108_sparql_agg" ->
      """SELECT 'n' || n_name AS n, count(*)::BIGINT AS cnt,
        |  min('c' || c_custkey) AS first
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q141_sparql_count_distinct" ->
      """SELECT 'r' || r_name AS r, count(*)::BIGINT AS links,
        |  count(DISTINCT 'n' || n_name)::BIGINT AS nations
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "q142_sparql_regex_str" ->
      """SELECT 'c' || c_custkey AS c, 'n' || n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE regexp_matches('n' || n_name, 'ION_1[0-9]$')
        |  AND starts_with('c' || c_custkey, 'c1')""".stripMargin,
    "q143_sparql_union_filter" ->
      """WITH cn AS (SELECT 'c' || c_custkey AS x, 'n' || n_name AS n
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |sn AS (SELECT 's' || s_suppkey AS x, 'n' || n_name AS n
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT x, n FROM cn WHERE ends_with(n, '1')
        |UNION ALL SELECT x, n FROM sn""".stripMargin,
    "q144_sparql_nested_optional" ->
      """WITH cn AS (SELECT 'c' || c_custkey AS c
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |ord AS (SELECT 'c' || o_custkey AS c, 'o' || o_orderkey AS o
        |  FROM orders),
        |big AS (SELECT 'o' || o_orderkey AS o, 'yes' AS b
        |  FROM orders WHERE o_totalprice > 450000),
        |grp AS (SELECT ord.c, ord.o, big.b
        |  FROM ord LEFT JOIN big ON big.o = ord.o)
        |SELECT cn.c, g.o, g.b
        |FROM cn LEFT JOIN grp g ON g.c = cn.c""".stripMargin,
    "q145_owl_functional_sameas" ->
      """WITH hq AS (
        |  SELECT 's' || s_suppkey AS subj, 'n' || n_name AS obj
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 's' || s_suppkey, 'x' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE s_suppkey % 5 = 0),
        |contact AS (SELECT 'c' || c_custkey AS subj,
        |    'e' || (c_custkey % 97) AS obj FROM customer),
        |f AS (SELECT subj, obj,
        |    min(obj) OVER (PARTITION BY subj) AS rep FROM hq),
        |g AS (SELECT subj, obj,
        |    min(subj) OVER (PARTITION BY obj) AS rep FROM contact)
        |SELECT DISTINCT rep AS subj, 'sameAs' AS pred, obj
        |  FROM f WHERE obj <> rep
        |UNION
        |SELECT DISTINCT g.rep, 'sameAs', g.subj
        |  FROM g WHERE g.subj <> g.rep""".stripMargin,
    "q146_kge_transe_epoch" ->
      (kgeEpochSql +
      """
        |SELECT node, idx, val_fp FROM upd""".stripMargin),
    "q147_kge_trained_ranks" ->
      (kgeEpochSql +
      """,
        |entv AS (SELECT node, list(val_fp::DOUBLE / 1e10 ORDER BY idx) AS vec
        |  FROM upd GROUP BY 1),
        |relv AS (SELECT list(val_fp::DOUBLE / 1e10 ORDER BY idx) AS rv
        |  FROM relupd),
        |test AS (SELECT 'p' || item_a AS h, 'p' || item_b AS t
        |  FROM pairs WHERE item_a % 3 = 0),
        |cand AS (SELECT DISTINCT 'p' || item_b AS cand FROM pairs),
        |ex AS (SELECT DISTINCT 'p' || item_a AS h, 'p' || item_b AS t
        |  FROM pairs),
        |sc AS (SELECT te.h, te.t, c.cand,
        |    list_sum(list_transform(range(1, 65), i ->
        |      round((((he.vec[i] + r.rv[i]) - ce.vec[i]) *
        |       ((he.vec[i] + r.rv[i]) - ce.vec[i])) * 1e10)::BIGINT)) AS cdist,
        |    list_sum(list_transform(range(1, 65), i ->
        |      round((((he.vec[i] + r.rv[i]) - tte.vec[i]) *
        |       ((he.vec[i] + r.rv[i]) - tte.vec[i])) * 1e10)::BIGINT)) AS tdist
        |  FROM test te
        |  JOIN entv he ON he.node = te.h
        |  JOIN entv tte ON tte.node = te.t
        |  CROSS JOIN relv r
        |  CROSS JOIN cand c
        |  JOIN entv ce ON ce.node = c.cand
        |  LEFT JOIN ex ON ex.h = te.h AND ex.t = c.cand
        |  WHERE ex.h IS NULL OR c.cand = te.t)
        |SELECT h, 'bought_with' AS r, t,
        |  (1 + sum(CASE WHEN cdist < tdist OR (cdist = tdist AND cand < t)
        |    THEN 1 ELSE 0 END))::BIGINT AS rank
        |FROM sc GROUP BY 1, 3""".stripMargin),
    "q150_sparql_negated_inverse" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || s_suppkey, 'supp_nation', 'n' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey)
        |SELECT DISTINCT x, y FROM (
        |  SELECT subj AS x, obj AS y FROM tri
        |    WHERE pred NOT IN ('cust_nation', 'supp_nation')
        |  UNION ALL
        |  SELECT obj, subj FROM tri WHERE pred <> 'in_region')""".stripMargin,
    "q149_sparql_group_concat_sep" ->
      """SELECT 'n' || n_name AS n,
        |  string_agg('c' || c_custkey, ', ' ORDER BY 'c' || c_custkey)
        |    AS members
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q148_sparql_seeded_path" ->
      """WITH tri AS (
        |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
        |      'n' || n_name AS obj
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
        |    FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL SELECT 's' || s_suppkey, 'supp_nation', 'n' || n_name
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |e AS (SELECT DISTINCT subj AS src, obj AS dst FROM tri
        |      WHERE pred IN ('cust_nation', 'in_region'))
        |SELECT DISTINCT dst AS x FROM (
        |  WITH RECURSIVE c AS (
        |    SELECT src, dst FROM e WHERE src = 'c1'
        |    UNION
        |    SELECT c.src, e.dst FROM c JOIN e ON e.src = c.dst)
        |  SELECT * FROM c)""".stripMargin,
    "q109_characteristic_sets" ->
      (profilingTriplesSql +
      """,
        |sp AS (SELECT DISTINCT subj, pred FROM tri),
        |cs AS (SELECT subj, string_agg(pred, ' ' ORDER BY pred) AS char_set
        |  FROM sp GROUP BY 1)
        |SELECT char_set, count(*)::BIGINT AS n_subjects
        |FROM cs GROUP BY 1""".stripMargin),
    "q110_predicate_stats" ->
      (profilingTriplesSql +
      """
        |SELECT pred, count(*)::BIGINT AS n_triples,
        |  count(DISTINCT subj)::BIGINT AS n_subjects,
        |  count(DISTINCT obj)::BIGINT AS n_objects
        |FROM tri GROUP BY 1""".stripMargin))

  /** q101/q111 twin: the inverse join over a recursive-CTE closure of
    * the containment alternation — shared by the algebra-API gate and
    * the text-syntax gate.
    */
  private val pathAlgebraSql: String =
    """WITH tri AS (
      |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
      |      'n' || n_name AS obj
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
      |    FROM nation JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL SELECT 'c' || c_custkey, 'placed', 'o' || o_orderkey
      |    FROM customer JOIN orders ON c_custkey = o_custkey),
      |w AS (SELECT DISTINCT subj AS src, obj AS dst FROM tri
      |      WHERE pred IN ('cust_nation', 'in_region')),
      |cl AS (SELECT DISTINCT src, dst FROM (
      |  WITH RECURSIVE c AS (
      |    SELECT src, dst, 1 AS h FROM w
      |    UNION
      |    SELECT c.src, w.dst, c.h + 1 FROM c
      |    JOIN w ON w.src = c.dst WHERE c.h < 3)
      |  SELECT * FROM c)),
      |inv AS (SELECT DISTINCT obj AS src, subj AS dst FROM tri
      |        WHERE pred = 'placed')
      |SELECT DISTINCT i.src, cl.dst
      |FROM inv i JOIN cl ON cl.src = i.dst""".stripMargin

  /** q112/q116 twin builder — one parameterized SQL for both protocol
    * sides, mirroring [[kgeFixture]] (tail side ranks candidate tails
    * against the head, head side candidate heads against the tail).
    */
  /** Shared CTE head for q146/q147: the DuckDB replay of
    * KgeTrain.transEEpoch over the kgeFixture graph — deterministic
    * arithmetic negative draw, double per-element work, every summed
    * value snapped to a scale-10 fixed-point BIGINT via
    * `round(x · 1e10)` (integer-boundary rounding is the one
    * double→exact conversion both engines answer identically; a
    * DECIMAL(·,10) cast is NOT — its digit-10 half-way behavior
    * diverges between shortest-string and binary conversions), learning
    * rate folded into the double products (±0.02 = ±2·lr) so the
    * integer layer only ever adds. Ends with `upd` (updated entity
    * components) and `relupd` (updated relation components), both
    * (…, idx, val_fp BIGINT).
    */
  private val kgeEpochSql: String =
    """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
      |    FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |pairs AS (SELECT a.i AS item_a, b.i AS item_b
      |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |ents AS (SELECT DISTINCT i FROM (
      |  SELECT item_a AS i FROM pairs UNION SELECT item_b FROM pairs)),
      |vocab AS (SELECT 'p' || i AS node,
      |    row_number() OVER (ORDER BY 'p' || i) - 1 AS nrank FROM ents),
      |vsize AS (SELECT count(*) AS c FROM vocab),
      |emb AS (SELECT 'p' || i AS node, e.embedding AS vec
      |  FROM ents JOIN embeddings e ON e.vec_id = i % 500),
      |rel AS (SELECT embedding AS rv FROM embeddings WHERE vec_id = 7),
      |pos AS (SELECT 'p' || item_a AS h, 'p' || item_b AS t,
      |    (item_a * 31 + item_b * 17 + 7)::BIGINT AS seed FROM pairs),
      |neg AS (SELECT p.h, p.t, v.node AS tneg
      |  FROM pos p JOIN vocab v ON v.nrank = p.seed % (SELECT c FROM vsize)
      |  WHERE v.node <> p.t),
      |jd AS (SELECT n.h, n.t, n.tneg,
      |    list_transform(range(1, 65), i ->
      |      ((he.vec[i]::DOUBLE + rel.rv[i]::DOUBLE)
      |        - te.vec[i]::DOUBLE)) AS diff,
      |    list_transform(range(1, 65), i ->
      |      ((he.vec[i]::DOUBLE + rel.rv[i]::DOUBLE)
      |        - ne.vec[i]::DOUBLE)) AS diffn
      |  FROM neg n
      |  JOIN emb he ON he.node = n.h
      |  JOIN emb te ON te.node = n.t
      |  JOIN emb ne ON ne.node = n.tneg
      |  CROSS JOIN rel),
      |act AS (SELECT * FROM jd WHERE
      |  list_sum(list_transform(diff, x -> round((x * x) * 1e10)::BIGINT))
      |      + 10000000000
      |  > list_sum(list_transform(diffn, x -> round((x * x) * 1e10)::BIGINT))),
      |terms AS (
      |  SELECT h AS node, s.i - 1 AS idx,
      |      round((diff[s.i] * 0.02) * 1e10)::BIGINT AS term
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)
      |  UNION ALL
      |  SELECT h, s.i - 1, round((diffn[s.i] * -0.02) * 1e10)::BIGINT
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)
      |  UNION ALL
      |  SELECT t, s.i - 1, round((diff[s.i] * -0.02) * 1e10)::BIGINT
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)
      |  UNION ALL
      |  SELECT tneg, s.i - 1, round((diffn[s.i] * 0.02) * 1e10)::BIGINT
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)),
      |grads AS (SELECT node, idx, sum(term)::BIGINT AS grad
      |  FROM terms GROUP BY 1, 2),
      |upd AS (SELECT b.node, b.idx,
      |    (round(b.v0::DOUBLE * 1e10)::BIGINT
      |      - coalesce(g.grad, 0)) AS val_fp
      |  FROM (SELECT emb.node, s.i - 1 AS idx, emb.vec[s.i] AS v0
      |    FROM emb CROSS JOIN generate_series(1, 64) s(i)) b
      |  LEFT JOIN grads g ON g.node = b.node AND g.idx = b.idx),
      |relterms AS (
      |  SELECT s.i - 1 AS idx, round((diff[s.i] * 0.02) * 1e10)::BIGINT AS term
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)
      |  UNION ALL
      |  SELECT s.i - 1, round((diffn[s.i] * -0.02) * 1e10)::BIGINT
      |    FROM act CROSS JOIN generate_series(1, 64) s(i)),
      |relgrads AS (SELECT idx, sum(term)::BIGINT AS grad
      |  FROM relterms GROUP BY 1),
      |relupd AS (SELECT b.idx,
      |    (round(b.v0::DOUBLE * 1e10)::BIGINT
      |      - coalesce(g.grad, 0)) AS val_fp
      |  FROM (SELECT s.i - 1 AS idx, rel.rv[s.i] AS v0
      |    FROM rel CROSS JOIN generate_series(1, 64) s(i)) b
      |  LEFT JOIN relgrads g ON g.idx = b.idx)""".stripMargin

  private def kgeRanksSql(headSide: Boolean, distMult: Boolean = false): String = {
    // TransE squared distance (lower better) or the DistMult trilinear
    // product (higher better) — multiplication order (h·r)·t matches the
    // engine's left-assoc zip_with fold exactly
    def dist(h: String, t: String): String =
      if (distMult)
        s"list_sum(list_transform(range(1, 65), i -> " +
          s"(($h[i]::DOUBLE * rel.rv[i]::DOUBLE) * $t[i]::DOUBLE)" +
          "::DECIMAL(25,10)))"
      else
        s"list_sum(list_transform(range(1, 65), i -> " +
          s"((($h[i]::DOUBLE + rel.rv[i]::DOUBLE) - $t[i]::DOUBLE) * " +
          s"(($h[i]::DOUBLE + rel.rv[i]::DOUBLE) - $t[i]::DOUBLE))" +
          "::DECIMAL(25,10)))"
    val beats = if (distMult) "cdist > tdist" else "cdist < tdist"
    val (testFilter, candSel, cdist, exJoin, tieCol) =
      if (headSide)
        ("item_b % 3 = 0", "item_a AS cv",
          dist("ce.embedding", "tte.embedding"),
          "ex.item_a = c.cv AND ex.item_b = te.item_b",
          "te.item_a")
      else
        ("item_a % 3 = 0", "item_b AS cv",
          dist("he.embedding", "ce.embedding"),
          "ex.item_a = te.item_a AND ex.item_b = c.cv",
          "te.item_b")
    val anchor = if (headSide) "te.item_a" else "te.item_b"
    s"""WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
       |    FROM lineitem
       |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |pairs AS (SELECT a.i AS item_a, b.i AS item_b
       |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |test AS (SELECT item_a, item_b FROM pairs WHERE $testFilter),
       |rel AS (SELECT embedding AS rv FROM embeddings WHERE vec_id = 7),
       |cand AS (SELECT DISTINCT $candSel FROM pairs),
       |ex AS (SELECT DISTINCT item_a, item_b FROM pairs),
       |sc AS (
       |  SELECT te.item_a, te.item_b, c.cv,
       |    $cdist AS cdist,
       |    ${dist("he.embedding", "tte.embedding")} AS tdist
       |  FROM test te
       |  JOIN embeddings he ON he.vec_id = te.item_a % 500
       |  JOIN embeddings tte ON tte.vec_id = te.item_b % 500
       |  CROSS JOIN rel
       |  CROSS JOIN cand c
       |  JOIN embeddings ce ON ce.vec_id = c.cv % 500
       |  LEFT JOIN ex ON $exJoin
       |  WHERE ex.item_a IS NULL OR c.cv = $anchor)
       |SELECT 'p' || item_a AS h, 'bought_with' AS r,
       |  'p' || item_b AS t,
       |  (1 + sum(CASE WHEN $beats
       |      OR (cdist = tdist AND 'p' || cv < 'p' || ${tieCol.replace("te.", "")})
       |    THEN 1 ELSE 0 END))::BIGINT AS rank
       |FROM sc GROUP BY 1, 3""".stripMargin
  }

  /** Shared CTE head for q109/q110 — mirrors [[profilingTriples]]. */
  private val profilingTriplesSql: String =
    """WITH tri AS (
      |  SELECT 'c' || c_custkey AS subj, 'cust_nation' AS pred,
      |      'n' || n_name AS obj
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL SELECT 'n' || n_name, 'in_region', 'r' || r_name
      |    FROM nation JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL SELECT 'c' || o_custkey, 'placed', 'o' || o_orderkey
      |    FROM orders WHERE o_totalprice > 450000)""".stripMargin

  /** Shared CTE head for q97/q98 — mirrors [[eventObservations]]. */
  private val eventObservationsSql: String =
    """WITH obs AS (
      |  SELECT 'u' || user_id AS subj, 'etype' AS pred,
      |    min(event_type) AS obj, ts
      |  FROM events GROUP BY 1, 2, ts)""".stripMargin

  /** Shared CTE head for q80/q81 — the same planted triple fixture as
    * [[constraintTriples]].
    */
  private val constraintTriplesSql: String =
    """WITH tri AS (
      |  SELECT doc_id::VARCHAR AS subj, 'lang' AS pred, lang AS obj
      |    FROM documents
      |  UNION ALL
      |  SELECT doc_id::VARCHAR, 'lang', 'alt_' || lang
      |    FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id::VARCHAR, 'source', source FROM documents)""".stripMargin

  /** Shared CTE head for q76/q77 — the same entity graph [[entityEdges]]
    * declares on the Spark side.
    */
  private val entityEdgesSql: String =
    """WITH e AS (
      |  SELECT 'c' || c_custkey AS src, 'n' || n_name AS dst
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL SELECT 'c' || c_custkey, 'm' || c_mktsegment FROM customer
      |  UNION ALL SELECT 's' || s_suppkey, 'n' || n_name
      |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  UNION ALL SELECT 'n' || n_name, 'r' || r_name
      |    FROM nation JOIN region ON n_regionkey = r_regionkey)""".stripMargin
}
