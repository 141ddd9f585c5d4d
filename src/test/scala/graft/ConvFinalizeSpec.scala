package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.{ConvExtract, ConvFinalize, SalStruct}
import graft.operators.ConvFinalize.SlimTurn

/** Partition computes of the layout-shifting input below: a JVM-wide
  * counter, so executor-side closures share it in local mode.
  */
object ShiftingLayout { val computes = new AtomicInteger() }

/** Differential pin for the salted two-phase conv aggregation: the
  * production `run` (bounded buckets) must equal the single-phase fold on
  * skew-heavy fixtures, including the order-sensitive salary short-circuit
  * crossing bucket boundaries.
  */
class ConvFinalizeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def turn(cid: String, idx: Int, text: String = "plain body text",
      emp: Seq[String] = Nil, loc: Seq[String] = Nil, orgs: Seq[String] = Nil,
      edu: Seq[String] = Nil, sal: Option[SalStruct] = None, tool: String = null): SlimTurn =
    SlimTurn(cid, idx, tool, text, emp, loc, orgs, edu, sal, Nil, Nil)

  test("two-phase salted aggregation == single-phase fold on a 50k-turn skew conversation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // one monster conversation with order-sensitive facts sprinkled in,
    // plus a handful of ordinary ones
    val monster = (0 until 50000).map { i =>
      val sal =
        if (i == 17) Some(SalStruct(Seq(42000.0), Nil, Nil, sw_kw = true))
        else if (i == 33000) Some(SalStruct(Seq(50000.0), Seq("euro"), Seq(50000.0), sw_kw = true))
        else if (i > 33000 && i % 5000 == 0) Some(SalStruct(Seq(1234.0 + i), Nil, Nil, sw_kw = true))
        else None
      turn("conv_monster", i,
        text = s"turn $i body",
        emp = if (i % 9000 == 3) Seq("part-time") else if (i % 4000 == 1) Seq("full-time") else Nil,
        loc = if (i % 700 == 2) Seq(if (i % 3 == 0) "Germany" else "Poland") else Nil,
        orgs = if (i % 11000 == 5) Seq(s"Org ${i % 13}") else Nil,
        edu = if (i % 15000 == 7) Seq("bachelor degree") else Nil,
        sal = sal,
        tool = if (i % 21000 == 9) "search" else null)
    }
    val normal = (0 until 20).flatMap { c =>
      (0 until 5 + rnd.nextInt(10)).map { i =>
        turn(s"conv_$c", i,
          emp = if (i == 2) Seq("internship") else Nil,
          loc = if (i == 1) Seq("France") else Nil,
          sal = if (i == 3) Some(SalStruct(Seq(30000.0 + c), Nil, Nil, sw_kw = true)) else None)
      }
    }
    // shuffle input order: both paths must be insensitive to row order
    val df = rnd.shuffle(monster ++ normal).toDS().toDF()

    val twoPhase = ConvFinalize.run(df, bucketSize = 64).collect()
      .map(c => c.conv_id -> c).toMap
    val single = ConvFinalize.runSinglePhase(df).collect()
      .map(c => c.conv_id -> c).toMap

    assert(twoPhase.keySet == single.keySet)
    twoPhase.keySet.foreach { cid =>
      assert(twoPhase(cid) == single(cid), s"conv $cid")
    }
    // the salary short-circuit must have landed on the currency-associated
    // value, discarding earlier keyword-context accumulations
    assert(twoPhase("conv_monster").sal_values == Seq(50000.0))
  }

  test("salary short-circuit state merges correctly across bucket boundaries") {
    // broke in an EARLY bucket must suppress later buckets' values
    val early = Seq(
      turn("c", 1, sal = Some(SalStruct(Seq(40000.0), Seq("euro"), Seq(40000.0), sw_kw = true))),
      turn("c", 999, sal = Some(SalStruct(Seq(77000.0), Nil, Nil, sw_kw = true))))
    val p0 = ConvFinalize.partialOf("c", 0, Seq(early.head))
    val p1 = ConvFinalize.partialOf("c", 1, Seq(early(1)))
    val merged = ConvFinalize.mergePartials("c", Seq(p1, p0)) // unsorted on purpose
    val direct = ConvFinalize.finalizeConv("c", early)
    assert(merged == direct)
    assert(merged.sal_values == Seq(40000.0))
  }

  // ---------------- clustered-input fast path ----------------

  /** all messages down the cause chain (Spark wraps executor throws). */
  private def msgChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => s"${x.getClass.getName}: ${Option(x.getMessage).getOrElse("")}")
      .mkString(" | ")

  /** clustered layout: convs contiguous, turns sorted — what a transcript
    * table SORTED BY (conv_id, turn_idx) delivers per partition.
    */
  private def clusteredFixture: Seq[SlimTurn] = {
    val monster = (0 until 150).map { i =>
      turn("conv_x_monster", i,
        text = s"monster $i",
        emp = if (i % 41 == 3) Seq("full-time") else Nil,
        loc = if (i % 13 == 2) Seq(if (i % 2 == 0) "Germany" else "Poland") else Nil,
        sal =
          if (i == 9) Some(SalStruct(Seq(41000.0), Nil, Nil, sw_kw = true))
          else if (i == 97) Some(SalStruct(Seq(52000.0), Seq("euro"), Seq(52000.0), sw_kw = true))
          else None,
        tool = if (i % 77 == 5) "search" else null)
    }
    val normal = (0 until 12).flatMap { c =>
      (0 until 9).map { i =>
        turn(f"conv_$c%02d", i,
          emp = if (i == 2) Seq("internship") else Nil,
          loc = if (i == 1) Seq("France") else Nil,
          edu = if (i == 4 && c % 3 == 0) Seq("bachelor degree") else Nil,
          sal = if (i == 3) Some(SalStruct(Seq(30000.0 + c), Nil, Nil, sw_kw = true)) else None)
      }
    }
    normal.take(54) ++ monster ++ normal.drop(54) // monster mid-stream
  }

  test("clustered fast path == single-phase fold, convs straddling partition boundaries") {
    import spark.implicits._
    val rows = clusteredFixture
    // 7 positional slices over 258 rows cut mid-conversation several times,
    // and the 150-turn monster spans multiple slices end to end
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 7)).toDF()
    // bucketSize 16 forces multi-chunk runs inside each partition
    val clustered = ConvFinalize.runClustered(df, bucketSize = 16).collect()
      .map(c => c.conv_id -> c).toMap
    val single = ConvFinalize.runSinglePhase(df).collect()
      .map(c => c.conv_id -> c).toMap
    assert(clustered.keySet == single.keySet)
    clustered.keySet.foreach(cid => assert(clustered(cid) == single(cid), s"conv $cid"))
    // the monster's currency short-circuit crossed chunk AND partition edges
    assert(clustered("conv_x_monster").sal_values == Seq(52000.0))
  }

  test("clustered fast path: single-partition input (every run is boundary) still exact") {
    import spark.implicits._
    val df = spark.createDataset(spark.sparkContext.parallelize(clusteredFixture, 1)).toDF()
    val clustered = ConvFinalize.runClustered(df, bucketSize = 16).collect()
      .map(c => c.conv_id -> c).toMap
    val single = ConvFinalize.runSinglePhase(df).collect()
      .map(c => c.conv_id -> c).toMap
    assert(clustered == single)
  }

  test("clustered fast path resolves interleaved conv runs exactly") {
    import spark.implicits._
    val rows = Seq(turn("a", 0, text = "a0"), turn("b", 0), turn("b", 1),
      turn("a", 1, text = "a1"), turn("c", 0))
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 1)).toDF()
    assertSinglePhase(df, ConvFinalize.runClustered(df))
  }

  test("clustered fast path resolves unsorted turn_idx exactly") {
    import spark.implicits._
    val rows = Seq(turn("z", 0), turn("a", 5, text = "a5"), turn("a", 3, text = "a3"),
      turn("a", 7, text = "a7"), turn("q", 0))
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 1)).toDF()
    assertSinglePhase(df, ConvFinalize.runClustered(df))
  }

  test("a conversation's later turns before its earlier ones in one ascending partition resolve exactly") {
    // conv_ids ascend, so only the boundary pass's turn_idx check keeps
    // this partition off the narrow scan: one file half of "b" (turns
    // 10-19) packed before the other (turns 0-9)
    val b = (0 until 20).map(i => turn("b", i, text = s"b$i",
      loc = if (i % 7 == 1) Seq(if (i < 10) "Germany" else "Poland") else Nil))
    val df = partitioned(Seq(Seq(turn("a", 0)) ++ b.drop(10) ++ b.take(10) ++ Seq(turn("c", 0))))
    assertSinglePhase(df, ConvFinalize.runClustered(df, bucketSize = 4))
  }

  test("the salted path throws on a turn repeated inside a bucket") {
    import spark.implicits._
    val rows = Seq(turn("a", 0), turn("a", 1), turn("a", 2), turn("a", 1), turn("b", 0))
    val df = rows.toDS().toDF()
    val e = intercept[Exception](ConvFinalize.run(df, bucketSize = 16).collect())
    assert(msgChain(e).contains("ConvContractViolation"), msgChain(e))
  }

  test("clustered fast path throws when a conversation is duplicated across partitions") {
    import spark.implicits._
    val one = spark.createDataset(spark.sparkContext.parallelize(clusteredFixture, 2))
    val df = one.union(one).toDF() // same convs appear in both copies' partitions
    val e = intercept[Exception](ConvFinalize.runClustered(df, bucketSize = 16).collect())
    assert(msgChain(e).contains("ConvContractViolation"), msgChain(e))
  }

  test("SINGLE-turn conversation duplicated across partitions throws, not merges") {
    import spark.implicits._
    // both copies are boundary partials with the zero-width range [0,0] —
    // the inclusive-range overlap guard must catch the shared endpoint
    // (a strict '<' would silently merge the turn twice: text "t. t")
    val rows = Seq(turn("solo", 0, text = "only turn"))
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 1))
      .union(spark.createDataset(spark.sparkContext.parallelize(rows, 1))).toDF()
    val e = intercept[Exception](ConvFinalize.runClustered(df).collect())
    assert(msgChain(e).contains("ConvContractViolation"), msgChain(e))
  }

  test("duplicated boundary turn (shared range endpoint) throws, not double-merges") {
    import spark.implicits._
    // partition 1 ends conv "a" at turn 5; partition 2 repeats turn 5 —
    // partials [0,5] and [5,9] share an endpoint and must be rejected
    val p1 = (0 to 5).map(i => turn("a", i, text = s"t$i"))
    val p2 = (5 to 9).map(i => turn("a", i, text = s"t$i"))
    val df = spark.createDataset(spark.sparkContext.parallelize(p1, 1))
      .union(spark.createDataset(spark.sparkContext.parallelize(p2, 1))).toDF()
    val e = intercept[Exception](ConvFinalize.runClustered(df).collect())
    assert(msgChain(e).contains("ConvContractViolation"), msgChain(e))
  }

  test("duplicate turn_idx inside a run throws (uniqueness is part of the contract)") {
    import spark.implicits._
    val rows = Seq(turn("a", 0), turn("a", 1), turn("a", 1), turn("a", 2))
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 1)).toDF()
    val e = intercept[Exception](ConvFinalize.runClustered(df).collect())
    assert(msgChain(e).contains("ConvContractViolation") &&
      msgChain(e).contains("not sorted"), msgChain(e))
  }

  // ---------------- boundary pass + narrow scan ----------------

  /** One Spark partition per element of `parts`, in order. */
  private def partitioned(parts: Seq[Seq[SlimTurn]]): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)).toDF()
  }

  private def shuffleExchanges(ds: Dataset[_]): Int =
    collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  /** equal to the single-phase fold, each conversation resolved once */
  private def assertSinglePhase(df: DataFrame, ds: Dataset[ConvExtract]): Unit = {
    val clustered = ds.collect()
    val single = ConvFinalize.runSinglePhase(df).collect().map(c => c.conv_id -> c).toMap
    assert(clustered.length == single.size)
    assert(clustered.map(c => c.conv_id -> c).toMap == single)
  }

  /** the clustered fixture's conversations in ascending conv_id order, one
    * Seq of turns per conversation ("conv_05_monster" sorts between conv_05
    * and conv_06)
    */
  private def ascendingConvs: Seq[Seq[SlimTurn]] =
    clusteredFixture.map(t => if (t.conv_id == "conv_x_monster") t.copy(conv_id = "conv_05_monster") else t)
      .groupBy(_.conv_id).toSeq.sortBy(_._1).map(_._2.sortBy(_.turn_idx))

  test("ascending 4-partition input: no shuffle exchange, result == single-phase fold") {
    val convs = ascendingConvs
    val df = partitioned(convs.grouped((convs.size + 3) / 4).map(_.flatten).toSeq)
    assert(df.rdd.getNumPartitions == 4)
    val ds = ConvFinalize.runClustered(df, bucketSize = 16)
    assert(shuffleExchanges(ds) == 0, ds.queryExecution.executedPlan.toString)
    assertSinglePhase(df, ds)
  }

  test("a conversation spanning three partitions, the middle one holding only it, merges exactly") {
    val convs = ascendingConvs
    val (head, rest) = convs.splitAt(6) // conv_00..conv_05 | conv_05_monster, conv_06..
    val monster = rest.head
    assert(monster.head.conv_id == "conv_05_monster" && monster.size == 150)
    val df = partitioned(Seq(
      head.flatten ++ monster.take(40),
      monster.slice(40, 100),
      monster.drop(100) ++ rest.tail.flatten))
    val ds = ConvFinalize.runClustered(df, bucketSize = 16)
    assert(shuffleExchanges(ds) > 0, "the straddler must take the salted path")
    assertSinglePhase(df, ds)
    // the currency short-circuit at turn 97 sits in the middle partition
    assert(ds.collect().find(_.conv_id == "conv_05_monster").get.sal_values == Seq(52000.0))
  }

  test("partition boundaries that move between the boundary pass and the scan throw") {
    import spark.implicits._
    val a = (0 until 4).map(i => turn("a", i))
    val b = (0 until 6).map(i => turn("b", i, text = s"b$i"))
    val c = (0 until 4).map(i => turn("c", i))
    // the boundary pass sees [a, b] | [c]: no straddler. The scan then sees
    // b split across the boundary, so without the end-of-partition check
    // each half would resolve on its own as a complete conversation.
    val seen = Seq(a ++ b, c)
    val moved = Seq(a ++ b.take(3), b.drop(3) ++ c)
    ShiftingLayout.computes.set(0)
    val rdd = spark.sparkContext.parallelize(Seq(0, 1), 2).flatMap { p =>
      if (ShiftingLayout.computes.getAndIncrement() < 2) seen(p) else moved(p)
    }
    val df = spark.createDataset(rdd).toDF()
    val e = intercept[Exception](ConvFinalize.runClustered(df).collect())
    assert(msgChain(e).contains("ConvContractViolation") &&
      msgChain(e).contains("moved between the two passes"), msgChain(e))
  }

  test("non-ascending input (monster mid-stream) takes the salted path, == single-phase fold") {
    import spark.implicits._
    val df = spark.createDataset(spark.sparkContext.parallelize(clusteredFixture, 4)).toDF()
    val ds = ConvFinalize.runClustered(df, bucketSize = 16)
    assert(shuffleExchanges(ds) > 0, ds.queryExecution.executedPlan.toString)
    assertSinglePhase(df, ds)
  }

  test("uncached range-shuffled input takes the salted path and resolves exactly") {
    import org.apache.spark.sql.functions.col
    // q51's shape at spec size: a range split on (conv_id, turn_idx) cuts
    // through conversations, and each execution re-samples its bounds
    // (reservoir seeds follow the RDD id), so a boundary pass over it need
    // not match the scan's partitions
    val rows = (0 until 300).flatMap { c =>
      (0 until 1 + (c * 7) % 40).map(i => turn(f"conv_$c%04d", i, text = s"c$c t$i",
        sal = if (i == 3) Some(SalStruct(Seq(30000.0 + c), Nil, Nil, sw_kw = true)) else None))
    }
    val ranged = partitioned(rows.grouped(rows.size / 4 + 1).toSeq)
      .repartitionByRange(7, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx")
    (1 to 3).foreach { _ =>
      val ds = ConvFinalize.runClustered(ranged, bucketSize = 16)
      // the range shuffle + the salted path's two groupByKeys
      assert(shuffleExchanges(ds) == 3, ds.queryExecution.executedPlan.toString)
      assertSinglePhase(ranged, ds)
    }
  }

  test("a cached range-shuffled input takes the narrow scan") {
    import org.apache.spark.sql.functions.col
    val convs = ascendingConvs
    // ranged by conv_id alone, no conversation straddles
    val cached = partitioned(convs.grouped(3).map(_.flatten).toSeq)
      .repartitionByRange(5, col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .cache()
    try {
      val ds = ConvFinalize.runClustered(cached, bucketSize = 16)
      assert(shuffleExchanges(ds) == 0, ds.queryExecution.executedPlan.toString)
      assertSinglePhase(cached, ds)
    } finally cached.unpersist()
  }

  test("partitions holding disjoint ranges out of index order: no exchange, exact") {
    // a checkpoint scan packs files largest first: ranges disjoint, index order arbitrary
    val convs = ascendingConvs
    val parts = convs.grouped((convs.size + 3) / 4).map(_.flatten).toSeq
    val df = partitioned(Seq(parts(2), parts(0), parts(3), parts(1)))
    val ds = ConvFinalize.runClustered(df, bucketSize = 16)
    assert(shuffleExchanges(ds) == 0, ds.queryExecution.executedPlan.toString)
    assertSinglePhase(df, ds)
  }

  test("a local Seq input (partition id folded at plan time) takes the salted path, exactly") {
    import spark.implicits._
    // a LocalRelation: spark_partition_id() reads 0 in every partition, so
    // the partitions cannot be told apart and the layout is not verified
    val df = ascendingConvs.flatten.toDS().toDF()
    assert(df.rdd.getNumPartitions > 1)
    val ds = ConvFinalize.runClustered(df, bucketSize = 16)
    assert(shuffleExchanges(ds) > 0, ds.queryExecution.executedPlan.toString)
    assertSinglePhase(df, ds)
  }
}
