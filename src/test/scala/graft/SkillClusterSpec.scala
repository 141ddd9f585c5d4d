package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{DictRules, SkillCluster}
import graft.sources.Dims

/** X17 — DBSCAN skill filter. The kernel's sklearn-equivalence is pinned
  * three ways: hand-computed label cases, a differential against an
  * independently-written union-find DBSCAN, and reference-quirk pins for
  * the ε-sweep control flow (utilities.py:584-611).
  */
class SkillClusterSpec extends SparkSpec {

  private def v(xs: Double*): Array[Double] = xs.toArray

  // ---------------- dbscanLabels: hand-computed cases ----------------

  test("dbscanLabels: min_samples=2 semantics — pairs are core, singletons noise") {
    // cos-dist(P0,P1) ~ 0.005, (P0,P2)=1.0, (P1,P2) ~ 0.9005
    val vecs = IndexedSeq(v(1, 0), v(1, 0.1), v(0, 1))
    assert(SkillCluster.dbscanLabels(vecs, 0.1).toSeq == Seq(0, 0, -1))
    // at eps 0.95 the chain P0-P1-P2 connects through P1
    assert(SkillCluster.dbscanLabels(vecs, 0.95).toSeq == Seq(0, 0, 0))
  }

  test("dbscanLabels: cluster ids follow first-point scan order (sklearn)") {
    val vecs = IndexedSeq(v(1, 0), v(0, 1), v(0, 1.5), v(1, 0.01))
    // P0+P3 form the cluster first seen at index 0; P1+P2 the next
    assert(SkillCluster.dbscanLabels(vecs, 0.1).toSeq == Seq(0, 1, 1, 0))
  }

  test("dbscanLabels: identical vectors are distance-0 neighbors (never noise)") {
    val vecs = IndexedSeq(v(0.3, 0.7), v(0.3, 0.7), v(1, 0))
    assert(SkillCluster.dbscanLabels(vecs, 0.1).toSeq == Seq(0, 0, -1))
  }

  // ---------------- differential: union-find twin ----------------

  /** Independent implementation: all-pairs edges -> union-find -> labels by
    * first appearance of each root in index order (no BFS, no queue).
    */
  private def unionFindLabels(vecs: IndexedSeq[Array[Double]], eps: Double): Array[Int] = {
    val n = vecs.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (i <- 0 until n; j <- i + 1 until n)
      if (SkillCluster.cosineDist(vecs(i), vecs(j)) <= eps) parent(find(j)) = find(i)
    val degree = Array.fill(n)(false)
    for (i <- 0 until n; j <- 0 until n if i != j)
      if (SkillCluster.cosineDist(vecs(i), vecs(j)) <= eps) degree(i) = true
    val rootLabel = scala.collection.mutable.Map.empty[Int, Int]
    var next = 0
    (0 until n).map { i =>
      if (!degree(i)) -1
      else rootLabel.getOrElseUpdate(find(i), { val l = next; next += 1; l })
    }.toArray
  }

  test("dbscanLabels == independent union-find DBSCAN on random vectors") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 30) {
      val n = 3 + rnd.nextInt(12)
      val dim = 2 + rnd.nextInt(4)
      val vecs = IndexedSeq.fill(n)(Array.fill(dim)(0.05 + rnd.nextDouble()))
      for (eps <- Seq(0.05, 0.1, 0.2, 0.4, 0.8)) {
        val a = SkillCluster.dbscanLabels(vecs, eps).toSeq
        val b = unionFindLabels(vecs, eps).toSeq
        assert(a == b, s"trial $trial eps $eps: $a vs $b")
      }
    }
  }

  // ---------------- ε-sweep control-flow quirks ----------------

  test("epsSweep keeps the labels of the LAST eps that still discriminated") {
    // (P0,P1) dist ~0.005; (P0,P2) ~0.2929; (P1,P2) ~0.2234
    // eps 0.1/0.2: [0,0,-1]; eps 0.3: all-zero -> sweep stops, 0.2 retained
    val vecs = IndexedSeq(v(1, 0), v(1, 0.1), v(0.5, 0.5))
    assert(SkillCluster.epsSweepLabels(vecs).toSeq == Seq(0, 0, -1))
  }

  test("epsSweep retains an all-zero FIRST fit (the e > 0.1 guard)") {
    val vecs = IndexedSeq(v(1, 0), v(1, 0.05))
    assert(SkillCluster.epsSweepLabels(vecs).toSeq == Seq(0, 0))
  }

  test("epsSweep caps at 10 fits when no fit is ever all-zero") {
    // orthogonal axes: every pairwise distance is exactly 1.0, but after 9
    // IEEE += 0.1 steps e is 0.9999999999999999 (same accumulation as the
    // CPython loop), so the pairs never connect — all 10 fits are all-noise
    // and the sweep terminates on the fit cap, returning [-1,-1,-1]
    val vecs = IndexedSeq(v(1, 0, 0), v(0, 1, 0), v(0, 0, 1))
    assert(SkillCluster.epsSweepLabels(vecs).toSeq == Seq(-1, -1, -1))
  }

  // ---------------- filterSkills over the fixture taxonomy ----------------

  test("filterSkills: zero-norm gate drops out-of-taxonomy skills first") {
    val known = Dims.occupationByIsco("251").essential.take(2)
    val out = SkillCluster.filterSkills(known :+ "quantum basket weaving")
    // 2 survivors after the gate -> the >2 gate skips DBSCAN entirely
    assert(out == known)
  }

  test("filterSkills: <=2 survivors bypass the sweep unchanged") {
    val two = Dims.occupationByIsco("251").essential.take(2)
    assert(SkillCluster.filterSkills(two) == two)
    assert(SkillCluster.filterSkills(two.take(1)) == two.take(1))
    assert(SkillCluster.filterSkills(Nil) == Nil)
  }

  test("filterSkills: order-preserving subset; duplicates are never noise") {
    val skills = Dims.occupationByIsco("251").essential ++
      Dims.occupationByIsco("721").essential.take(1)
    val out = SkillCluster.filterSkills(skills)
    assert(out.toSet.subsetOf(skills.toSet))
    // order preserved: out is a subsequence of the input
    val it = skills.iterator
    assert(out.forall(s => it.contains(s)), s"not a subsequence: $out of $skills")

    val withDup = skills ++ skills.take(1)
    val outDup = SkillCluster.filterSkills(withDup)
    // the duplicated skill has a distance-0 neighbor at every eps, so it
    // can never be -1; if its first copy survived, both survive
    assert(outDup.count(_ == skills.head) == (if (out.contains(skills.head)) 2 else 0))
  }

  test("filterSkills == sweep composition on a >2 set (white-box cross-check)") {
    val skills = (Dims.occupationByIsco("251").essential ++
      Dims.occupationByIsco("222").essential).distinct
    assume(skills.length > 2)
    val nace = DictRules.naceNodes
    val isco = DictRules.iscoLevels.head
    val naceV = skills.map(s => SkillCluster.probVector(s, nace))
    val iscoV = skills.map(s => SkillCluster.probVector(s, isco))
    def l2(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    val keep = skills.indices.filter(i => l2(naceV(i)) != 0 && l2(iscoV(i)) != 0)
    val nl = SkillCluster.epsSweepLabels(keep.map(naceV).toIndexedSeq)
    val il = SkillCluster.epsSweepLabels(keep.map(iscoV).toIndexedSeq)
    val expected =
      if (keep.length > 2)
        keep.indices.collect { case i if nl(i) != -1 && il(i) != -1 => skills(keep(i)) }.toSeq
      else keep.map(skills)
    assert(SkillCluster.filterSkills(skills) == expected)
  }

  // ---------------- the native expression ----------------

  test("filter_skills_dbscan expression == kernel, row by row") {
    import spark.implicits._
    val fixtures = Seq(
      Dims.occupationByIsco("251").essential,
      Dims.occupationByIsco("222").essential ++ Seq("nonexistent skill xyz"),
      (Dims.occupationByIsco("122").essential ++ Dims.occupationByIsco("721").essential).distinct,
      Seq("nonexistent skill xyz"),
      Seq.empty[String])
    val df = fixtures.zipWithIndex.map { case (sk, i) => (i, sk) }.toDF("id", "skills")
    val got = df.select(col("id"),
        graft.functions.Kernels.filter_skills_dbscan(col("skills")).as("kept"))
      .as[(Int, Seq[String])].collect().toMap
    fixtures.zipWithIndex.foreach { case (sk, i) =>
      assert(got(i) == SkillCluster.filterSkills(sk), s"row $i")
    }
  }
}
