package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane (signed-projection) LSH bucketed variant as the scale
  * path. Dot products are higher-order-function Columns — no UDF, stays in
  * codegen.
  */
object SimilaritySearch {

  /** Σ aᵢbᵢ in double precision (left-fold order = deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Production cosine — native fused expression (Spark HOFs evaluate
    * interpreted with per-element boxing); bit-identical to
    * [[cosineColumns]], pinned by OperatorSpec.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.Kernels.cosine_f(a, b)

  /** HOF-Column twin of [[cosine]] (differential pin only). Zero-norm
    * sides map to 0.0 like the native kernel (NaN would sort FIRST under
    * `desc(sim)` and crown zero vectors nearest-neighbors of everything).
    */
  def cosineColumns(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Exact top-k: broadcast the (small) query set against the corpus.
    * One narrow pass over the corpus, top-k via per-query window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    // order on the exact double; round only in the output (keeps cross-
    // engine tie-breaks deterministic)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rk"))
  }

  /** Deterministic random hyperplanes (seeded, dim × planes). */
  def hyperplanes(dim: Int, planes: Int, seed: Int = 42): Array[Array[Double]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { d =>
        val h = MurmurHash3.stringHash(s"$seed:$p:$d")
        (h.toDouble / Int.MaxValue) // uniform-ish in [-1, 1]
      }
    }

  /** Per-band signed-projection buckets as one array<long> Column: band b's
    * bucket packs the sign bits of its own `bandBits` planes. Unlike a
    * single packed signature there is no 64-plane ceiling — any
    * bands × bandBits family works. Native single-pass expression (the
    * bands × bandBits × dim fold is the ANN hot path); HOF twin kept for
    * the differential pin.
    */
  def bandBuckets(v: Column, planes: Array[Array[Double]],
      bands: Int, bandBits: Int): Column =
    graft.functions.Kernels.lsh_buckets.withConsts(planes.flatten, bands, bandBits)(v)

  /** HOF-Column twin of [[bandBuckets]] (differential pin only). */
  def bandBucketsColumns(v: Column, planes: Array[Array[Double]],
      bands: Int, bandBits: Int): Column =
    array((0 until bands).map { b =>
      (0 until bandBits).map { j =>
        when(dot(v, typedlit(planes(b * bandBits + j).toSeq)) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** IVF ANN — the second scale path beside LSH: a coarse k-means
    * quantizer (MLlib KMeans, seeded) partitions the corpus into nLists
    * inverted lists; each query probes its nProbe nearest centroids and
    * scores exact cosine only inside those lists. At 100 TB the quantizer
    * trains on a sample, the centroid table broadcasts (nLists × dim
    * floats), and the probe join shuffles on the list id — candidate
    * volume ≈ corpus × nProbe / nLists, never all-pairs. Recall vs the
    * exact baseline gated ≥ 0.9 in OperatorSpec.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 8, seed: Long = 42L,
      fitSampleCap: Long = 100000L)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // quantize in the L2-NORMALIZED space: the similarity metric is cosine,
    // and on unit vectors euclidean distance is monotone in cosine, so the
    // euclidean k-means cells and the probe ranking agree with the target
    // metric (clustering raw magnitudes would scatter true neighbors
    // across lists). The norm is computed ONCE per row (a sibling column —
    // folding norm(v) into the per-element lambda would be O(dim²)/row) and
    // floored so an all-zero embedding maps to the zero vector instead of
    // NaNs feeding the quantizer.
    def normalizedBy(v: Column, nrm: Column): Column =
      transform(v, x => x.cast("double") / greatest(nrm, lit(1e-12)))
    // materialize the normalized corpus ONCE (localCheckpoint, the
    // codebase's shared-stage idiom): it feeds the size gate, the k-means
    // fit and the list assignment — without it each would re-run the scan
    // plus the per-row normalize
    val corpusFv = corpus
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        array_to_vector(normalizedBy(col("embedding"), col("nrm"))).as("fv"))
      .localCheckpoint()
    // the quantizer trains on a bounded deterministic sample — centroid
    // quality needs thousands of rows per list, not the whole corpus, and
    // a full-corpus KMeans.fit would be the scale ceiling of the operator
    val nCorpus = corpusFv.count()
    val trainFv =
      if (nCorpus <= fitSampleCap) corpusFv
      else corpusFv.sample(withReplacement = false,
        fraction = math.min(1.0, fitSampleCap.toDouble * 1.2 / nCorpus), seed)
    val km = new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("fv")
      .setPredictionCol("list_id").fit(trainFv)
    val lists = km.transform(corpusFv).select("neighbor_id", "cv", "list_id")
    // centroids are tiny: rank them per query with a broadcast literal,
    // by EUCLIDEAN distance — the metric the k-means quantizer assigned
    // with (probing by a different metric visits the wrong lists)
    val centroids = km.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val centroidDf = spark.createDataFrame(centroids).toDF("list_id", "centroid")
    val sqDist = aggregate(
      zip_with(col("qnv"), col("centroid"), (x, y) => {
        val d = x - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    val probes = queries
      .withColumn("qnrm", norm(col("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        normalizedBy(col("embedding"), col("qnrm")).as("qnv"))
      .join(broadcast(centroidDf))
      .withColumn("cdist", sqDist)
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("cdist"), asc("list_id"))))
      .filter(col("crk") <= nProbe)
      .select("query_id", "qv", "list_id")
    val scored = probes.join(lists, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rk"))
  }

  /** LSH ANN: bucket by band of the signed-projection signature, search
    * exact cosine only within co-bucketed candidates. bands × bandBits =
    * total planes; more bands → higher recall, more candidates. Defaults
    * measured at recall@5 ≥ 0.9 vs the exact baseline on the testdata
    * embeddings (OperatorSpec).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bands: Int = 32, bandBits: Int = 4, seed: Int = 42)(
      implicit spark: SparkSession): DataFrame = {
    // head(1): an EMPTY corpus must yield an empty result, not a
    // NoSuchElementException from first()
    val dimRow = corpus.select(size(col("embedding"))).head(1)
    if (dimRow.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("sim"), lit(0).as("rk")).limit(0)
    val dim = dimRow.head.getInt(0)
    val planes = hyperplanes(dim, bands * bandBits, seed)
    def withBands(df: DataFrame, idAs: String, vAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(vAs),
        posexplode(bandBuckets(col("embedding"), planes, bands, bandBits))
          .as(Seq("band", "bucket")))
        .select(idAs, vAs, "band", "bucket")
    val qb = withBands(queries, "query_id", "qv")
    val cb = withBands(corpus, "neighbor_id", "cv")
    // dedup multi-band hits on the ID PAIR only (two scalars through the
    // shuffle), then fetch the vectors once per surviving pair: queries
    // broadcast back, corpus joined by neighbor_id
    val candidates = qb.drop("qv").join(cb.drop("cv"), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = candidates
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        Seq("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rk"))
  }
}
