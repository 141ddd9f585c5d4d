package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ml.SectionTagger
import graft.model.Triple
import graft.operators.{ConvExtract, ConvFinalize, SalStruct, Scoring, TripleEmit, TurnExtract}

/** Streaming KG construction end-to-end: turns stream in, conversations
  * accumulate in keyed state, and when a conversation goes quiet (no turn
  * for `gapMs` of EVENT time, bounded by the watermark) its triples are
  * emitted — built from the SAME kernels as the batch path, so a completed
  * conversation produces bit-identical non-org triples either way:
  *
  *   clean (compiled expression) → tag (compiled LR serve) → per-turn
  *   extraction (TurnExtract) → stateful buffer per conv_id
  *   (flatMapGroupsWithState, event-time timeout) → ConvFinalize
  *   .finalizeConv → Scoring.enrich → TripleEmit.convTriples — the
  *   per-conversation scorer and emitter the batch KgPipeline.emitLinked
  *   runs too.
  *
  * The one documented divergence: `hiring_organization` objects are the
  * RAW surfaces here — canonicalization is a cross-conversation
  * computation (LSH blocking + connected components over all mentions)
  * that has no bounded-state streaming form; the batch compactor
  * re-canonicalizes (the standard lambda split). StreamingTriplesSpec
  * proves batch equality by applying the batch-side canonical map to the
  * streamed surfaces.
  *
  * Scale: state per conversation is its SlimTurn buffer — the same payload
  * the batch shuffle carries per conv — and completed conversations leave
  * state at the watermark, so state size is O(active conversations), not
  * O(stream length).
  */
object StreamingTriples {

  /** ConvFinalize.SlimTurn + the event-time column, in one flat encoder. */
  final case class SlimTs(
      conv_id: String, turn_idx: Int, tool: String, text: String,
      emp_groups: Seq[String], locations: Seq[String], orgs: Seq[String],
      edu_phrases: Seq[String], sal: Option[SalStruct],
      start_dates: Seq[String], deadline_dates: Seq[String], ts: Timestamp) {
    def slim: ConvFinalize.SlimTurn = ConvFinalize.SlimTurn(conv_id, turn_idx,
      tool, text, emp_groups, locations, orgs, edu_phrases, sal,
      start_dates, deadline_dates)
  }

  /** Buffered turns + the RUNNING max event time over all of them — the
    * timeout must be anchored to the max over the whole buffer, not the
    * current micro-batch: an in-lateness out-of-order turn arriving later
    * must never LOWER an already-set timeout (that would complete the
    * conversation early and split its emission).
    */
  final case class ConvBuf(turns: Seq[ConvFinalize.SlimTurn], maxTsMs: Long)

  /** Pure conv-level completion: batch ConvFinalize kernel + the batch
    * per-conversation scorer and emitter + surface-org triples.
    */
  def completeConv(convId: String, turns: Seq[ConvFinalize.SlimTurn]): Seq[Triple] = {
    val c: ConvExtract = ConvFinalize.finalizeConv(convId, turns)
    TripleEmit.convTriples(Scoring.enrich(c)) ++
      TripleEmit.orgTriplesOf(convId, c.orgs, identity)
  }

  /** Batch-vs-stream parity harness, shared by StreamingTriplesSpec and
    * the q50 driver gate (one implementation — the gate and the spec
    * cannot drift): generates `nConvs` conversations, derives the batch
    * truth + the batch-side org canonical map, streams the same turns
    * through [[triplesStream]] with two watermark nudges (advance, then
    * fire timeouts), and returns (streamed triples sans the nudge conv,
    * batch triples, canonical map).
    */
  def parityRun(nConvs: Int, gapMs: Long = 60000L, lateness: String = "1 minute")(
      implicit spark: SparkSession): (Set[Triple], Set[Triple], Map[String, String]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val allTurns = (0L until nConvs.toLong)
      .flatMap(i => graft.sources.TranscriptGen.turnsFor(i, 42L, 0, 0))
    val tagger = SectionTagger.train(graft.KgPipeline.taggerTrainingFrame(spark, nConvs = 120))
    val batch = graft.KgPipeline.computeTriples(allTurns.toDS(), tagger).collect().toSet
    val convs = ConvFinalize.run(TurnExtract.extract(
      SectionTagger.predict(tagger, graft.KgPipeline.cleanTurns(allTurns.toDS()))))
    val canon: Map[String, String] = graft.operators.Linking.canonicalize(
        graft.KgPipeline.orgMentions(convs))
      .select("surface", "canonical").as[(String, String)].collect().toMap
    val stream = MemoryStream[graft.model.Turn]
    val queryName = s"stream_parity_$nConvs"
    val query = triplesStream(stream.toDF(), tagger, gapMs, lateness)
      .writeStream.format("memory").queryName(queryName).outputMode("append").start()
    val streamed =
      try {
        stream.addData(allTurns)
        query.processAllAvailable()
        val maxTs = allTurns.map(_.ts.getTime).max
        // watermark advances after the batch that reads the new max event
        // time, and timeouts fire in the batch AFTER that — two nudges,
        // offset by gap + lateness (see flushOffsetsMs)
        flushOffsetsMs(gapMs, lateness).zipWithIndex.foreach { case (off, i) =>
          stream.addData(graft.model.Turn("dummy", i, "user", "x", null,
            new Timestamp(maxTs + off)))
          query.processAllAvailable()
        }
        spark.table(queryName).as[Triple].collect().toSet.filterNot(_.subj == "dummy")
      } finally query.stop()
    (streamed, batch, canon)
  }

  /** `lateness` (a Spark interval string) in milliseconds. Month-bearing
    * intervals are rejected — their length is calendar-dependent, and the
    * only consumer is flush-offset arithmetic that needs a fixed width.
    */
  def latenessMs(lateness: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(lateness))
    require(iv != null, s"unparseable lateness interval: '$lateness'")
    require(iv.months == 0,
      s"calendar-dependent lateness unsupported for flush arithmetic: '$lateness'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** The two event-time nudges that flush every real conversation: the
    * watermark advances to sentinelTs - lateness, and a conversation
    * times out once the watermark passes lastTurnTs + gap — so the FIRST
    * sentinel must sit beyond maxTs + gap + lateness (hardcoding a
    * constant silently leaves the newest conversations unflushed the
    * moment gap + lateness exceeds it), and the SECOND triggers the
    * follow-up batch in which the now-enabled timeouts actually fire.
    */
  def flushOffsetsMs(gapMs: Long, lateness: String): Seq[Long] = {
    val first = gapMs + latenessMs(lateness) + 60000L
    Seq(first, first + 60000L)
  }

  /** The streaming pipeline: `turns` must carry the input_hint columns
    * (conv_id, turn_idx, role, text, tool, ts). Emits each conversation's
    * triples once, when the watermark passes its last turn + gapMs.
    */
  def triplesStream(turns: DataFrame, tagger: SectionTagger.Trained,
      gapMs: Long = 30L * 60 * 1000, lateness: String = "10 minutes",
      extractDates: Boolean = false)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val tagged = SectionTagger.predict(tagger, graft.KgPipeline.cleanTurns(turns))
    val extracted = TurnExtract.extract(tagged, extractDates, keepTs = true)
    extracted
      .select("conv_id", "turn_idx", "tool", "text", "emp_groups", "locations",
        "orgs", "edu_phrases", "sal", "start_dates", "deadline_dates", "ts")
      .as[SlimTs]
      .withWatermark("ts", lateness)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, it: Iterator[SlimTs], state: GroupState[ConvBuf]) => {
          if (state.hasTimedOut) {
            val buf = state.get.turns
            state.remove()
            completeConv(convId, buf).iterator
          } else {
            val incoming = it.toSeq
            val prev = state.getOption
            val buf = prev.map(_.turns).getOrElse(Seq.empty) ++ incoming.map(_.slim)
            val maxTs = math.max(prev.map(_.maxTsMs).getOrElse(Long.MinValue),
              incoming.map(_.ts.getTime).max)
            state.update(ConvBuf(buf, maxTs))
            // timeout must sit beyond the current watermark or the runtime
            // rejects it; a conversation whose turns are all older than
            // watermark+gap completes at the next watermark advance
            state.setTimeoutTimestamp(
              math.max(maxTs + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }
}
