package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, spark_partition_id, struct}

import graft.rules.{DictRules, Rules}
import graft.sources.Dims

/** Per-conversation resolution result (S5 input). `skills` are the
  * X14-filtered preferred labels, lowercase (capitalization happens at
  * triple emission like the reference's `skill.capitalize()`,
  * extractor.py:87-90).
  */
final case class ConvExtract(
    conv_id: String,
    title: String,
    skills: Seq[String],
    employment: Option[String],
    location: Option[String],
    education: Option[String],
    sal_values: Seq[Double],
    currencies: Seq[String],
    work_hours: Option[Int],
    orgs: Seq[String],
    tools: Seq[String],
    start_dates: Seq[String],
    deadline_dates: Seq[String])

/** Thrown (from executors) when S4's input breaks its contract: a
  * repeated `(conv_id, turn_idx)`, or partition boundaries that moved
  * between [[ConvFinalize.runClustered]]'s two passes. A dedicated type,
  * so a caller can tell a contract break from other failures by class.
  */
final class ConvContractViolation(msg: String) extends IllegalStateException(msg)

/** S4 — per-conversation resolution: gather each conversation's turns and
  * resolve its facts (A1-A5 merges + the whole-document dictionary branch
  * X11-X14), like the reference's one merge per posting
  * (ProcessAndMergeInfo.py). Order-sensitivity is pinned by sorting on
  * turn_idx inside the conversation (collect order post-shuffle is
  * otherwise nondeterministic — SURVEY §7.4).
  *
  * The pipeline ships [[runClustered]], which has two routes: on a
  * conv-clustered, turn-sorted input it resolves each conversation where
  * it is scanned, and it sends whatever that scan cannot resolve — the
  * conversations that straddle a partition boundary, or the whole input
  * when its layout is not verified — through [[run]], the
  * order-insensitive salted path. Any input with unique
  * `(conv_id, turn_idx)` resolves.
  *
  * Skew (north_star: "salted joins for skew-heavy conversation keys"):
  * [[run]]'s aggregation is TWO-LEVEL. Phase 1 groups by the salted key
  * `(conv_id, turn_idx / bucketSize)` — every group is bounded by
  * `bucketSize` turns, so a 10^6-turn monster conversation never
  * materializes as one in-memory Seq. Phase 2 merges the ordered bucket
  * partials per conv_id; every A1-A5 fold is merge-associative over
  * contiguous turn ranges (the salary short-circuit carries its `broke`
  * flag in the partial, ordered-distinct sets merge by filtered concat,
  * the text join is plain concatenation). The single-phase fold
  * (`finalizeConv`) is kept verbatim as the differential oracle —
  * ConvFinalizeSpec pins `run == runSinglePhase` on skewed fixtures.
  */
object ConvFinalize {

  /** Shuffle payload: only what conv-level resolution needs (the cleaned
    * text, role and category columns stay behind — ~45% fewer shuffle
    * bytes at fact scale).
    */
  final case class SlimTurn(
      conv_id: String, turn_idx: Int, tool: String, text: String,
      emp_groups: Seq[String], locations: Seq[String], orgs: Seq[String],
      edu_phrases: Seq[String], sal: Option[SalStruct],
      start_dates: Seq[String], deadline_dates: Seq[String])

  def finalizeConv(convId: String, turnsUnsorted: Seq[SlimTurn]): ConvExtract = {
    val turns = turnsUnsorted.sortBy(_.turn_idx)

    // employment (A1 else-branch union + A5 priority-min)
    val empGroups = {
      val acc = scala.collection.mutable.LinkedHashSet.empty[String]
      turns.foreach(_.emp_groups.foreach(acc += _))
      acc.toSeq
    }
    val employment = Rules.priorityEmployment(empGroups)

    // location (A1 concat of per-chunk lists + A3 mode, first-occurrence tie)
    val location = Rules.modeLocation(turns.flatMap(_.locations))

    // education (A1 union + degree mapping + priority, ProcessAndMergeInfo.py:490-528)
    val eduPhrases = {
      val acc = scala.collection.mutable.LinkedHashSet.empty[String]
      turns.foreach(_.edu_phrases.foreach(acc += _))
      acc.toSeq
    }
    val education = Rules.priorityDegree(eduPhrases)

    // base salary (A1 short-circuit: first currency-associated chunk wins,
    // ProcessAndMergeInfo.py:176-186)
    var salVals = Seq.empty[Double]
    var broke = false
    turns.foreach { t =>
      t.sal.foreach { s =>
        if (!broke && (s.values.nonEmpty || s.cur_assoc.nonEmpty)) {
          if (s.cur_assoc.nonEmpty) { salVals = s.cur_assoc; broke = true }
          else if (s.sw_kw)
            salVals = salVals ++ s.values.distinct.filterNot(salVals.contains)
        }
      }
    }
    val currencies = turns.flatMap(_.sal.map(_.currencies).getOrElse(Seq.empty)).distinct

    // whole-document branch: X11 work hours + X12/X13/X14 dictionary ops
    val convText = turns.map(_.text).mkString(". ")
    val docClean = Rules.cleanString(convText)
    val spans = Rules.extractWorkHourSpans(docClean)
    val workHours =
      if (spans.isEmpty) None
      else Some(Rules.maxWorkHours(Rules.cleanedWorkHours(spans)))

    val pre = DictRules.preprocess(convText).toLowerCase
    val title = DictRules.extractTitle(pre)
    val skills = DictRules.filterSkillsByTitle(title, DictRules.extractSkills(pre))

    ConvExtract(
      conv_id = convId,
      title = title,
      skills = skills,
      employment = employment,
      location = location,
      education = education,
      sal_values = salVals,
      currencies = currencies,
      work_hours = workHours,
      orgs = turns.flatMap(_.orgs).distinct,
      tools = turns.flatMap(t => Option(t.tool)).distinct,
      start_dates = turns.flatMap(_.start_dates).distinct,
      deadline_dates = turns.flatMap(_.deadline_dates).distinct)
  }

  // ------------------------------------------------------------------
  // Two-level (salted) aggregation
  // ------------------------------------------------------------------

  /** Phase-1 partial: the merge-associative slice of one contiguous
    * turn-range bucket. `sal_broke` carries the salary short-circuit
    * state across buckets; ordered-distinct seqs merge by filtered concat.
    * `bucket` is the merge sort key (salted path: turn_idx / bucketSize;
    * narrow scan: the chunk's first turn_idx); `idx_lo`/`idx_hi` are the
    * covered turn_idx range, used by [[mergePartials]] to reject partials
    * whose ranges overlap. A repeated turn inside one bucket throws in
    * [[partialOf]], so a duplicated input fails on either route.
    */
  final case class ConvPartial(
      conv_id: String, bucket: Int,
      emp_groups: Seq[String], locations: Seq[String], edu_phrases: Seq[String],
      sal_values: Seq[Double], sal_broke: Boolean, currencies: Seq[String],
      text: String, orgs: Seq[String], tools: Seq[String],
      start_dates: Seq[String], deadline_dates: Seq[String],
      idx_lo: Int, idx_hi: Int)

  def partialOf(convId: String, bucket: Int, turnsUnsorted: Seq[SlimTurn]): ConvPartial = {
    val turns = turnsUnsorted.sortBy(_.turn_idx)
    // (conv_id, turn_idx) is unique: merging a repeated turn would
    // silently double its text and mentions
    if (turns.nonEmpty) turns.lazyZip(turns.tail).foreach { (a, b) =>
      if (a.turn_idx == b.turn_idx)
        throw new ConvContractViolation(
          s"ConvFinalize: turn_idx ${a.turn_idx} twice in conv_id=$convId - " +
            "the input is not sorted by unique (conv_id, turn_idx); it duplicated a turn")
    }
    val emp = scala.collection.mutable.LinkedHashSet.empty[String]
    turns.foreach(_.emp_groups.foreach(emp += _))
    val edu = scala.collection.mutable.LinkedHashSet.empty[String]
    turns.foreach(_.edu_phrases.foreach(edu += _))
    var salVals = Seq.empty[Double]
    var broke = false
    turns.foreach { t =>
      t.sal.foreach { s =>
        if (!broke && (s.values.nonEmpty || s.cur_assoc.nonEmpty)) {
          if (s.cur_assoc.nonEmpty) { salVals = s.cur_assoc; broke = true }
          else if (s.sw_kw)
            salVals = salVals ++ s.values.distinct.filterNot(salVals.contains)
        }
      }
    }
    ConvPartial(
      conv_id = convId,
      bucket = bucket,
      emp_groups = emp.toSeq,
      locations = turns.flatMap(_.locations),
      edu_phrases = edu.toSeq,
      sal_values = salVals,
      sal_broke = broke,
      currencies = turns.flatMap(_.sal.map(_.currencies).getOrElse(Seq.empty)).distinct,
      text = turns.map(_.text).mkString(". "),
      orgs = turns.flatMap(_.orgs).distinct,
      tools = turns.flatMap(t => Option(t.tool)).distinct,
      start_dates = turns.flatMap(_.start_dates).distinct,
      deadline_dates = turns.flatMap(_.deadline_dates).distinct,
      idx_lo = turns.head.turn_idx,
      idx_hi = turns.last.turn_idx)
  }

  private def orderedDedupConcat(seqs: Seq[Seq[String]]): Seq[String] = {
    val acc = scala.collection.mutable.LinkedHashSet.empty[String]
    seqs.foreach(_.foreach(acc += _))
    acc.toSeq
  }

  /** Phase-2 merge of the ordered bucket partials + the whole-document
    * branch (which inherently needs the full conv text).
    */
  def mergePartials(convId: String, partsUnsorted: Seq[ConvPartial]): ConvExtract = {
    val parts = partsUnsorted.sortBy(p => (p.bucket, p.idx_lo))
    // contiguous-range invariant: both merge strategies (salted buckets,
    // the narrow scan's chunks) produce disjoint turn_idx ranges; a proper
    // overlap means the same turns reached two partials and merging would
    // silently misorder the conversation text — fail instead
    // ranges are INCLUSIVE, so a shared endpoint ([0,5] then [5,9], or two
    // zero-width [0,0] partials from a duplicated single-turn conversation)
    // is already the same turn reaching two partials — hence <=, not <
    parts.iterator.sliding(2).withPartial(false).foreach { w =>
      if (w(1).idx_lo <= w.head.idx_hi)
        throw new ConvContractViolation(
          s"ConvFinalize.mergePartials: overlapping turn ranges for conv_id=$convId " +
            s"([${w.head.idx_lo},${w.head.idx_hi}] vs [${w(1).idx_lo},${w(1).idx_hi}]) - " +
            "the input violated the clustered/salted partitioning contract")
    }

    val empGroups = orderedDedupConcat(parts.map(_.emp_groups))
    val employment = Rules.priorityEmployment(empGroups)
    val location = Rules.modeLocation(parts.flatMap(_.locations))
    val education = Rules.priorityDegree(orderedDedupConcat(parts.map(_.edu_phrases)))

    var salVals = Seq.empty[Double]
    var broke = false
    parts.foreach { p =>
      if (!broke) {
        if (p.sal_broke) { salVals = p.sal_values; broke = true }
        else salVals = salVals ++ p.sal_values.filterNot(salVals.contains)
      }
    }
    val currencies = parts.flatMap(_.currencies).distinct

    val convText = parts.map(_.text).mkString(". ")
    val docClean = Rules.cleanString(convText)
    val spans = Rules.extractWorkHourSpans(docClean)
    val workHours =
      if (spans.isEmpty) None
      else Some(Rules.maxWorkHours(Rules.cleanedWorkHours(spans)))

    val pre = DictRules.preprocess(convText).toLowerCase
    val title = DictRules.extractTitle(pre)
    val skills = DictRules.filterSkillsByTitle(title, DictRules.extractSkills(pre))

    ConvExtract(
      conv_id = convId,
      title = title,
      skills = skills,
      employment = employment,
      location = location,
      education = education,
      sal_values = salVals,
      currencies = currencies,
      work_hours = workHours,
      orgs = parts.flatMap(_.orgs).distinct,
      tools = parts.flatMap(_.tools).distinct,
      start_dates = parts.flatMap(_.start_dates).distinct,
      deadline_dates = parts.flatMap(_.deadline_dates).distinct)
  }

  private val slimCols = Seq("conv_id", "turn_idx", "tool", "text", "emp_groups", "locations",
    "orgs", "edu_phrases", "sal", "start_dates", "deadline_dates")

  private def slim(extracted: org.apache.spark.sql.DataFrame)(
      implicit spark: SparkSession): Dataset[SlimTurn] = {
    import spark.implicits._
    extracted.select(slimCols.map(col): _*).as[SlimTurn]
  }

  /** Production path: salted two-phase aggregation — no per-conversation
    * Seq ever exceeds `bucketSize` turns (phase 1) or `maxTurns/bucketSize`
    * partials (phase 2).
    */
  def run(extracted: org.apache.spark.sql.DataFrame, bucketSize: Int = 256)(
      implicit spark: SparkSession): Dataset[ConvExtract] = {
    import spark.implicits._
    slim(extracted)
      .groupByKey(t => (t.conv_id, t.turn_idx / bucketSize))
      .mapGroups((key, it) => partialOf(key._1, key._2, it.toSeq))
      .groupByKey(_.conv_id)
      .mapGroups((cid, it) => mergePartials(cid, it.toSeq))
  }

  /** Single-phase fold — the differential oracle for the salted path. */
  def runSinglePhase(extracted: org.apache.spark.sql.DataFrame)(
      implicit spark: SparkSession): Dataset[ConvExtract] = {
    import spark.implicits._
    slim(extracted)
      .groupByKey(_.conv_id)
      .mapGroups((cid, it) => finalizeConv(cid, it.toSeq))
  }

  // ------------------------------------------------------------------
  // Clustered-input path
  // ------------------------------------------------------------------

  /** Folds each contiguous run of one conv_id into ordered `bucketSize`
    * chunk partials (bucket = the chunk's first turn_idx). A run `keep`
    * declines is only walked: its turns are order-checked but no partial
    * is built. Memory: at most one chunk of RAW turns at a time,
    * plus the current run's partials — whose conv-level payload
    * (concatenated text + mention arrays) grows with the conversation, the
    * same footprint as the salted path's phase-2 merge.
    */
  private def runsOf(rows: Iterator[SlimTurn], bucketSize: Int, keep: String => Boolean)
      : Iterator[(String, Seq[ConvPartial])] =
    new scala.collection.AbstractIterator[(String, Seq[ConvPartial])] {
      private val in = rows.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): (String, Seq[ConvPartial]) = {
        val convId = in.head.conv_id
        val folding = keep(convId)
        val partials = scala.collection.mutable.ArrayBuffer.empty[ConvPartial]
        val chunk = scala.collection.mutable.ArrayBuffer.empty[SlimTurn]
        var lastIdx = Int.MinValue
        while (in.hasNext && in.head.conv_id == convId) {
          val t = in.next()
          if (t.turn_idx <= lastIdx)
            throw new ConvContractViolation(
              s"ConvFinalize.runClustered: turn_idx ${t.turn_idx} after $lastIdx inside " +
                s"conv_id=$convId - the boundary pass saw its turns rise, so the input " +
                "changed between passes")
          lastIdx = t.turn_idx
          if (folding) {
            chunk += t
            if (chunk.length >= bucketSize) {
              partials += partialOf(convId, chunk.head.turn_idx, chunk.toSeq)
              chunk.clear()
            }
          }
        }
        if (chunk.nonEmpty) partials += partialOf(convId, chunk.head.turn_idx, chunk.toSeq)
        (convId, partials.toSeq)
      }
    }

  /** Boundary-pass row of one non-empty partition: its first and last
    * conv_id, and whether it is sorted for the narrow scan (no null, each
    * run's conv_id above the one before, turn_idx rising inside each run).
    */
  private final case class PartBounds(first: String, last: String, ascending: Boolean)

  /** Walks a physical plan through adaptive plans and query stages. An
    * in-memory scan is a leaf, so cached data hides the plan that built it.
    */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Whether executing `pass` (one of [[runClustered]]'s two passes over
    * its input) runs a shuffle outside cached data. Such an input need not
    * be cut into the same partitions on two executions: a range shuffle
    * re-samples its bounds, a round-robin one deals rows in arrival order,
    * and AQE coalesces by the bytes of the columns read, which the
    * narrow boundary pass shrinks. Its boundary pass would say nothing
    * about its scan, so it takes the salted path. A broadcast exchange
    * does not count: it leaves the streamed side's partitions as they are.
    */
  private def reshuffles(pass: Dataset[_]): Boolean =
    PlanWalk.find(pass.queryExecution.executedPlan)(_.isInstanceOf[ShuffleExchangeLike]).isDefined

  /** The boundary pass over `ids` (partition id, conv_id, turn_idx): one
    * [[PartBounds]] per non-empty partition, keyed by partition index.
    * Only the two key columns are selected from the input, so Catalyst
    * prunes every S1–S3 column expression; a partition stops being read
    * at its first row out of order. The narrow scan learns its index from
    * `spark_partition_id()`, so a partition where that column is not its
    * index counts as not ascending: over a local relation the optimizer
    * evaluates the column at plan time, every row reads 0, and the scan
    * could not tell its partitions apart.
    */
  private def partitionBounds(ids: DataFrame): Map[Int, PartBounds] =
    ids.queryExecution.toRdd
      .mapPartitionsWithIndex { (index, rows) =>
        if (!rows.hasNext) Iterator.empty
        else {
          val head = rows.next()
          // ids decode only where a run starts; the buffer behind a row's
          // UTF8String is reused, hence the clone
          var prev = Option(head.getUTF8String(1)).map(_.clone()).orNull
          val first = Option(prev).map(_.toString).orNull
          var last = first
          var prevIdx = head.getInt(2)
          var ascending = first != null && !head.isNullAt(2) && head.getInt(0) == index
          while (ascending && rows.hasNext) {
            val row = rows.next()
            val id = row.getUTF8String(1)
            if (id == null || row.isNullAt(2)) ascending = false
            else {
              val idx = row.getInt(2)
              if (id != prev) {
                val s = id.toString
                if (s.compareTo(last) > 0) { prev = id.clone(); last = s }
                else ascending = false
              } else if (idx <= prevIdx) ascending = false
              prevIdx = idx
            }
          }
          Iterator.single(index -> PartBounds(first, last, ascending))
        }
      }
      .collect().toMap

  /** The straddlers of a verified layout: with the partitions' conv_id
    * ranges in order, the ids that end one range and start the next. None
    * when the layout is not verified — some partition does not ascend, or
    * two ranges overlap beyond a shared endpoint. Ranges are ordered by
    * value, not by partition index: a file scan packs files into
    * partitions largest first, so a checkpoint's partitions hold disjoint
    * ranges in no particular index order.
    */
  private def straddlers(bounds: Map[Int, PartBounds]): Option[Set[String]] =
    if (!bounds.values.forall(_.ascending)) None
    else {
      val ordered = bounds.values.toSeq.sortBy(b => (b.first, b.last))
      val pairs = ordered.zip(ordered.drop(1))
      if (pairs.exists { case (a, b) => a.last.compareTo(b.first) > 0 }) None
      else Some(pairs.collect { case (a, b) if a.last == b.first => a.last }.toSet)
    }

  /** Per-partition scan of a verified layout: resolves every run in place
    * except the straddlers, which it only walks. It re-checks what the
    * boundary pass saw — each run's conv_id above the previous one,
    * turn_idx rising inside each run ([[runsOf]]), and,
    * at the end of the partition, the same first and last conv_id — so a
    * partition whose boundaries moved between the two passes throws
    * instead of resolving a split conversation twice.
    */
  private def narrowScan(rows: Iterator[(Int, SlimTurn)],
      bounds: Map[Int, PartBounds], cross: Set[String],
      bucketSize: Int): Iterator[ConvExtract] = {
    val in = rows.buffered
    if (!in.hasNext) Iterator.empty
    else {
      val part = in.head._1
      var first: String = null
      var last: String = null
      val runs = runsOf(in.map(_._2), bucketSize, cid => !cross(cid))
      runs.flatMap { case (convId, partials) =>
        if (convId == null || (last != null && convId.compareTo(last) <= 0))
          throw new ConvContractViolation(
            s"ConvFinalize.runClustered: conv_id=$convId after $last in partition $part - " +
              "the boundary pass saw its runs ascend, so the input changed between passes")
        if (first == null) first = convId
        last = convId
        if (!runs.hasNext) {
          val saw = bounds.get(part).map(b => (b.first, b.last))
          if (!saw.contains((first, last)))
            throw new ConvContractViolation(
              s"ConvFinalize.runClustered: partition $part scanned conv_ids [$first, $last] " +
                s"but the boundary pass saw ${saw.fold("it empty")(b => s"[${b._1}, ${b._2}]")} - " +
                "the input's partition boundaries moved between the two passes")
        }
        if (cross(convId)) Nil else Seq(mergePartials(convId, partials))
      }
    }
  }

  /** S4 for inputs clustered by conv_id and sorted by turn_idx within each
    * conversation — the natural layout of a transcript table (an Iceberg
    * table written with SORTED BY (conv_id, turn_idx), the stage
    * checkpoints, the generator).
    *
    * Two routes. The boundary pass ([[partitionBounds]]) reads `conv_id`
    * and `turn_idx` and returns each partition's first and last conv_id.
    * Where every partition is sorted (conv_id runs ascend, turn_idx rises
    * inside each run) and partition ranges meet only at endpoints,
    * [[narrowScan]] resolves every conversation where it is scanned — no
    * exchange — except the straddlers, the conv_ids shared by the ends of
    * two ranges. Everything the narrow scan does not resolve goes through
    * the salted path ([[run]]): the straddlers, over `extracted` filtered
    * to them and unioned in only when there are any, or the whole input
    * when its layout is not verified or its plan runs a shuffle outside
    * cached data ([[reshuffles]]) — such partitions may be cut differently
    * on each execution, so no boundary pass runs. Any input with unique
    * `(conv_id, turn_idx)` resolves, whatever its order.
    *
    * Safety: the contract is checked, not trusted. A repeated turn throws
    * in [[partialOf]] on either route; a partition whose boundaries moved
    * between the passes throws in [[narrowScan]] instead of resolving a
    * split conversation twice. No violation can silently corrupt a result.
    *
    * Cost: the boundary pass is a job run when this is called. It runs
    * `extracted`'s upstream a second time, pruned to the two key columns,
    * so a caller whose upstream is costly beyond its column expressions
    * pays that twice unless it caches `extracted` first. A shuffled input
    * pays no boundary pass; caching it lets it take the narrow scan. An
    * unverified layout pays the boundary pass on top of the salted path's
    * two exchanges. That includes an input hash-partitioned by conv_id
    * and sorted, whose conversations are whole in each partition but do
    * not ascend across runs; no caller in the pipeline produces one.
    */
  def runClustered(extracted: org.apache.spark.sql.DataFrame, bucketSize: Int = 256)(
      implicit spark: SparkSession): Dataset[ConvExtract] = {
    import spark.implicits._
    // fresh plans: they see a cache added after `extracted` was planned
    val ids = extracted.select(spark_partition_id(), col("conv_id"), col("turn_idx"))
    val scanIn = extracted
      .select(spark_partition_id().as("_1"), struct(slimCols.map(col): _*).as("_2"))
      .as[(Int, SlimTurn)]
    val layout =
      if (Seq(ids, scanIn).exists(reshuffles)) None
      else { val bounds = partitionBounds(ids); straddlers(bounds).map(bounds -> _) }
    layout match {
      case None => run(extracted, bucketSize)
      case Some((bounds, cross)) =>
        val narrow = scanIn.mapPartitions(it => narrowScan(it, bounds, cross, bucketSize))
        if (cross.isEmpty) narrow
        else narrow.union(run(extracted.filter(col("conv_id").isin(cross.toSeq: _*)), bucketSize))
    }
  }
}
