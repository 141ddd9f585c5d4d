package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.{KgPipeline, PipelineMain, Sessions}
import graft.golden.GoldenPipeline
import graft.ml.SectionTagger
import graft.model.{Triple, Turn}
import graft.operators.{ConvExtract, ConvFinalize, Linking, Scoring, TripleEmit, TurnExtract}
import graft.rules.{DictRules, Rules}
import graft.sources.{TableIO, TranscriptGen}

/** Benchmark process: one workload, one seed, one closed-loop caller.
  *
  *   graftbench.Main --workload W --seed S --seconds T --trace 0|1
  *     --model DIR --work DIR [--size full|smoke] [--spans-out FILE]
  *   graftbench.Main --prepare DIR      (train and save the section tagger)
  *
  * Prints a human-readable summary, an `ANNOTATION {...}` line, and as its
  * last line the result object `{"correct","attempted","failed","metrics"}`.
  * With `--trace 0` the metrics are the end-to-end ones, measured with no
  * spans; with `--trace 1` they are the per-layer ones of the traced run.
  */
object Main {

  /** Generator parameters of [[TranscriptGen.dataset]]. */
  final case class Gen(nConvs: Long, skewConvs: Int, skewTurns: Int)

  /** A workload: one generator shape, timed through the fused
    * `KgPipeline.computeTriples(turns, tagger).count()`.
    */
  final case class Workload(name: String, gen: Gen)

  private val workloads: Map[String, Map[String, Workload]] = Map(
    "full" -> Seq(
      Workload("kg_short_convs", Gen(5000, 4, 800)),
      Workload("kg_long_convs", Gen(300, 300, 200))),
    "smoke" -> Seq(
      Workload("kg_short_convs", Gen(200, 2, 40)),
      Workload("kg_long_convs", Gen(12, 12, 40)))
  ).map { case (size, ws) => size -> ws.map(w => w.name -> w).toMap }

  /** Training corpus of the tagger every workload serves (the size
    * graft.Bench trains on); the model is built once per build.
    */
  val taggerTrainConvs = 200

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    val a = Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    a.get("prepare") match {
      case Some(dir) => prepare(dir)
      case None =>
        val sizes = workloads(a.get("size").getOrElse("full"))
        val w = sizes.getOrElse(a("workload"), sys.error(
          s"unknown workload ${a("workload")}; known: ${sizes.keys.toSeq.sorted.mkString(", ")}"))
        val traced = a("trace") == "1"
        if (traced) {
          // every session, including the ones PipelineMain.main creates and
          // stops itself, reports tasks and executed plans to the trace
          System.setProperty("spark.extraListeners", classOf[TaskListener].getName)
          System.setProperty("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        }
        new Run(w, a("seed").toLong, a("seconds").toDouble, traced,
          a("model"), a("work"), a.get("spans-out")).run()
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val s = Sessions.local(cores, appName = "graftbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  /** Trains the tagger and saves it twice: as the PipelineModel directory
    * PipelineMain's s2 stage writes, and Java-serialized for the fused
    * workloads, whose set-up then skips PipelineModel.load's Spark jobs.
    * A small fused run afterwards loads the classes the workloads use, for
    * the class-data archive the build dumps when this JVM exits.
    */
  private def prepare(dir: String): Unit = {
    implicit val spark: SparkSession = session()
    val t = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = taggerTrainConvs))
    t.model.write.overwrite().save(dir)
    val out = new java.io.ObjectOutputStream(Files.newOutputStream(Paths.get(s"$dir.ser")))
    try out.writeObject(t) finally out.close()
    KgPipeline.computeTriples(TranscriptGen.dataset(spark, 20, 1L, 1, 40), loadTagger(dir)).count()
    spark.stop()
  }

  def loadTagger(dir: String): SectionTagger.Trained = {
    val in = new java.io.ObjectInputStream(Files.newInputStream(Paths.get(s"$dir.ser")))
    try in.readObject().asInstanceOf[SectionTagger.Trained] finally in.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
  }

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def stealTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu ")).get
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.toOption

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Runs `f` with `Console.out` captured; returns its result and the text. */
  def captured[A](f: => A): (A, String) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val r = Console.withOut(ps)(f)
    ps.flush()
    val text = buf.toString("UTF-8")
    System.err.print(text)
    (r, text)
  }

  /** rows_out PipelineMain reports for a stage table. */
  def rowsOut(log: String, stage: String): Option[Long] =
    s"""\\[graft\\] $stage rows_out=(\\d+)""".r.findFirstMatchIn(log).map(_.group(1).toLong)
}

/** One timed operation: wall and process CPU seconds, the triple count it
  * produced, and the JIT compile time, GC time and Janino compilations
  * that fell inside it.
  */
final case class Sample(wallS: Double, cpuS: Double, count: Option[Long], jitMs: Long,
    gcMs: Long, codegen: Long)

final class Run(w: Main.Workload, seed: Long, seconds: Double, traced: Boolean,
    modelDir: String, workDir: String, spansOut: Option[String]) {
  import Main._

  private val ckptDir = Paths.get(workDir, "ckpt").toAbsolutePath
  private val ckptOut = ckptDir.toString
  private def ckptArgs(from: String, to: String): Array[String] =
    Array("--out", ckptOut, "--from-stage", from, "--skip", "s2", "--to-stage", to,
      "--convs", w.gen.nConvs.toString, "--seed", seed.toString, "--cores", cores.toString)

  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0
  private var failed = 0
  private def check(ok: Boolean, what: String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] check failed: $what") }
    ok
  }
  private var correct = true
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { correct = false; System.err.println(s"[graftbench] check failed: $what") }

  // ---- inputs ------------------------------------------------------------

  private var tagger: SectionTagger.Trained = _
  private var turns: Dataset[Turn] = _
  private var nTurns = 0L

  private def fusedOp(): Long = KgPipeline.computeTriples(turns, tagger)(turns.sparkSession).count()

  // ---- timed loop ----------------------------------------------------------

  private def timedLoop(op: () => Long, after: () => Unit = () => ()): Seq[Sample] = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val steal0 = stealTicks()
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs = gcs.map(_.getCollectionTime).sum
    def codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    do {
      val (jit0, gc0, codegen0) = (jit.getTotalCompilationTime, gcMs, codegen)
      val cpu0 = processCpuSeconds()
      val w0 = System.nanoTime()
      val r = scala.util.Try(op())
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = processCpuSeconds() - cpu0
      r.failed.foreach(e => e.printStackTrace())
      out += Sample(wall, cpu, r.toOption, jit.getTotalCompilationTime - jit0, gcMs - gc0,
        codegen - codegen0)
      after()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    notes("timed_ops") = out.length.toString
    notes("samples_wall_s") = out.map(x => f"${x.wallS}%.3f").mkString(" ")
    notes("samples_cpu_s") = out.map(x => f"${x.cpuS}%.2f").mkString(" ")
    notes("samples_jit_s") = out.map(x => f"${x.jitMs / 1e3}%.2f").mkString(" ")
    notes("samples_gc_s") = out.map(x => f"${x.gcMs / 1e3}%.2f").mkString(" ")
    notes("samples_codegen_compiles") = out.map(_.codegen).mkString(" ")
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    for ((s0, a0) <- steal0; (s1, a1) <- stealTicks() if a1 > a0)
      notes("steal_pct") = f"${100.0 * (s1 - s0) / (a1 - a0)}%.2f"
    out.toSeq
  }
  private var heapPeakMb = 0.0

  // ---- run -----------------------------------------------------------------

  /** Times one part of set-up into the run annotation. */
  private def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    notes(s"setup.$name") = f"${(System.nanoTime() - t0) / 1e9}%.2f"
    r
  }

  def run(): Unit = {
    // ---- set-up: session, tagger, inputs ----
    val spark = phase("session")(session())
    tagger = phase("model")(loadTagger(modelDir))
    phase("inputs") {
      turns = TranscriptGen.dataset(spark, w.gen.nConvs, seed, w.gen.skewConvs, w.gen.skewTurns)
        .cache()
      nTurns = turns.count()
    }
    notes("turns") = nTurns.toString
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // the first timed operation is the process's first call, as a
    // spark-submit run of the pipeline makes it; a traced run keeps the
    // listener's account of each
    val tallies = scala.collection.mutable.ArrayBuffer.empty[Tally]
    val samples = timedLoop(() => fusedOp(), after = () => if (traced) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      tallies += Tally.take(-1)
    })
    // outputs are checked outside the timed region: one collected run is
    // scored against the golden triples, and every timed operation must
    // have produced as many triples as it
    val got = {
      import spark.implicits._
      KgPipeline.computeTriples(turns, tagger)(spark).collect().toSet
    }
    samples.foreach(s => check(s.count.contains(got.size.toLong),
      s"triple count ${s.count} vs collected ${got.size}"))
    val (p, r) = precisionRecall(got,
      GoldenPipeline.allTriples(w.gen.nConvs, seed, w.gen.skewConvs, w.gen.skewTurns).toSet)
    expect(p >= 0.95 && r >= 0.95, f"precision $p%.4f / recall $r%.4f below 0.95")
    if (!traced) endToEnd(setupS, samples, got.size, p, r)
    else tracedRun(got.size.toLong, samples.head, tallies.head)

    stopSession()
    spansOut.foreach(p => Files.write(Paths.get(p), Trace.toJson(s"${w.name}-$seed").getBytes("UTF-8")))
    emit()
  }

  private def precisionRecall(got: Set[Triple], gold: Set[Triple]): (Double, Double) = {
    val tp = got.count(gold.contains).toDouble
    (if (got.isEmpty) 0.0 else tp / got.size, if (gold.isEmpty) 0.0 else tp / gold.size)
  }

  private def endToEnd(setupS: Double, samples: Seq[Sample], triples: Int, precision: Double,
      recall: Double): Unit = {
    val wall = median(samples.map(_.wallS))
    put("setup_s", setupS, "s")
    put("wall_s", wall, "s")
    put("turns_per_s", nTurns / wall, "1/s")
    put("cpu_s", median(samples.map(_.cpuS)), "s")
    put("heap_peak_mb", heapPeakMb, "MB")
    put("triples", triples.toDouble, "count")
    put("triple_precision", precision, "ratio")
    put("triple_recall", recall, "ratio")
  }

  // ---- traced run ------------------------------------------------------------

  private def tracedRun(expected: Long, first: Sample, firstTally: Tally): Unit = {
    val spark = turns.sparkSession
    implicit val s: SparkSession = spark

    // the listener's account of the first timed (untraced) operation
    put("fused.task_cpu_s", firstTally.taskCpuNs / 1e9, "s")
    put("fused.gc_s", firstTally.gcMs / 1e3, "s")
    put("fused.shuffle_write_mb", firstTally.shuffleWriteBytes / 1e6, "MB")
    put("fused.spill_mb", firstTally.spillBytes / 1e6, "MB")
    put("fused.jobs", firstTally.jobs, "count")
    put("fused.stages", firstTally.stages, "count")
    put("fused.exchanges", firstTally.exchanges, "count")
    put("fused.sort_merge_joins", firstTally.sortMergeJoins, "count")
    put("fused.codegen_compiles", first.codegen.toDouble, "count")
    put("fused.jit_compile_s", first.jitMs / 1e3, "s")

    // the cost of tracing itself: a traced operation between two untraced
    // ones, so the JIT warming across the three cancels to first order
    def untraced(): Double = {
      val t0 = System.nanoTime()
      val n = fusedOp()
      check(n == expected, s"fused count $n vs $expected")
      (System.nanoTime() - t0) / 1e9
    }
    val before = untraced()
    val tracedCount = Trace.span("fused")(fusedOp())
    check(tracedCount == expected, s"traced fused count $tracedCount vs $expected")
    val fusedWall = (before + untraced()) / 2
    put("trace_overhead_s", Trace.byName("fused").seconds - fusedWall, "s")

    stageSplit(expected)
    put("stage_sum_minus_fused_s", Seq("s1_clean", "s2_tag", "s3_extract", "s4_conv",
      "s5_scoring", "s5_linking", "s6_emit").map(n => Trace.selfSeconds(Trace.byName(n))).sum - fusedWall, "s")

    kernels(turns.take(2000).toIndexedSeq)

    checkpointStages(expected)

    Trace.span("s2_train")(SectionTagger.train(
      KgPipeline.taggerTrainingFrame(session(), nConvs = taggerTrainConvs)))
    put("s2_train.busy_s", Trace.byName("s2_train").seconds, "s")
  }

  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.write.format("noop").mode("overwrite").save()
    c
  }

  private def busy(name: String): Double = Trace.selfSeconds(Trace.byName(name))

  /** S1–S6 one stage at a time, each materialized under its own span. The
    * wiring mirrors KgPipeline.triplesFromCleaned; the final triple count
    * must equal the fused run's, so the two cannot drift apart unnoticed.
    */
  private def stageSplit(expected: Long)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val nTriples = Trace.span("stages") {
      val cleaned = Trace.span("s1_clean")(materialize(KgPipeline.cleanTurns(turns)))
      val tagged = Trace.span("s2_tag")(materialize(SectionTagger.predict(tagger, cleaned)))
      val extracted = Trace.span("s3_extract")(materialize(TurnExtract.extract(tagged)))
      val convs = Trace.span("s4_conv")(materialize(ConvFinalize.runClustered(extracted).toDF()))
        .as[ConvExtract]
      val si = Trace.span("s5_scoring")(materialize(
        Scoring.sectorAndIsco(convs.select(col("conv_id"), explode(col("skills")).as("skill")))))
      val mentions = convs.toDF().select(explode(col("orgs")).as("surface"))
      val (canon, audit) = Trace.span("s5_linking") {
        val (c, a) = Linking.canonicalizeWithMetrics(mentions)
        (materialize(c), a.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val convLoc = convs.toDF().select(col("conv_id"), col("location"))
        .filter(col("location").isNotNull)
      val enriched = si.select(col("conv_id"), col("sector"), col("isco3"))
        .join(convLoc, Seq("conv_id"), "left")
        .join(broadcast(Scoring.estimateDim), Seq("location", "isco3"), "left")
        .select(col("conv_id"), col("sector"), col("estimated_salary"))
      val n = Trace.span("s6_emit")(TripleEmit.runEnriched(convs, enriched, canon).count())

      // counts taken outside the stage spans, from the cached stage outputs
      Seq("s1_clean" -> cleaned, "s2_tag" -> tagged, "s3_extract" -> extracted).foreach {
        case (name, df) =>
          put(s"$name.busy_s", busy(name), "s")
          put(s"$name.task_cpu_s", Tally(name).taskCpuNs / 1e9, "s")
          put(s"$name.rows_out", df.count().toDouble, "count")
      }
      val straddling = extracted.select(col("conv_id"), spark_partition_id().as("p")).distinct()
        .groupBy("conv_id").count().filter(col("count") > 1).count()
      val t4 = Tally("s4_conv")
      put("s4_conv.busy_s", busy("s4_conv"), "s")
      put("s4_conv.task_cpu_s", t4.taskCpuNs / 1e9, "s")
      put("s4_conv.shuffle_write_mb", t4.shuffleWriteBytes / 1e6, "MB")
      put("s4_conv.task_max_over_median", t4.taskMaxOverMedian, "ratio")
      put("s4_conv.convs_shuffled", t4.shuffleWriteRecords.toDouble, "count")
      put("s4_conv.convs_straddling", straddling.toDouble, "count")
      put("s4_conv.merge_useful_ratio",
        straddling.toDouble / math.max(t4.shuffleWriteRecords, 1L), "ratio")
      put("s5_scoring.busy_s", busy("s5_scoring"), "s")
      put("s5_scoring.shuffle_mb", Tally("s5_scoring").shuffleWriteBytes / 1e6, "MB")
      put("s5_linking.busy_s", busy("s5_linking"), "s")
      put("s5_linking.mentions_in", mentions.count().toDouble, "count")
      put("s5_linking.clusters_out", canon.select("canonical").distinct().count().toDouble, "count")
      put("s5_linking.oversized_buckets", audit.getOrElse("n_oversized_buckets", 0L).toDouble, "count")
      put("s5_linking.star_pairs", audit.getOrElse("n_star_pairs", 0L).toDouble, "count")
      val t6 = Tally("s6_emit")
      put("s6_emit.busy_s", busy("s6_emit"), "s")
      put("s6_emit.task_cpu_s", t6.taskCpuNs / 1e9, "s")
      put("s6_emit.shuffle_read_mb", t6.shuffleReadBytes / 1e6, "MB")
      Seq(cleaned, tagged, extracted, convs.toDF(), si, canon).foreach(_.unpersist())
      n
    }
    check(nTriples == expected, s"stage-split triple count $nTriples vs fused $expected")
  }

  /** Per-turn kernels, single-threaded over a fixed sample of the workload's
    * turns: nanoseconds per turn.
    */
  private def kernels(sample: IndexedSeq[Turn]): Unit = {
    val raw = sample.map(_.text)
    val cleaned = raw.map(Rules.cleanString)
    val lowered = raw.map(t => DictRules.preprocess(t).toLowerCase)
    val compiled = graft.functions.CompiledTagger.compile(tagger.model, tagger.labels)
      .getOrElse(sys.error("the tagger did not compile to the served form"))
    var sink = 0L
    def perTurnNs(inputs: IndexedSeq[String])(f: String => Int): Double = {
      def pass(): Unit = inputs.foreach(x => sink += f(x))
      (1 to 3).foreach(_ => pass())
      var passes = 0
      val t0 = System.nanoTime()
      while (passes < 3 || System.nanoTime() - t0 < 300000000L) { pass(); passes += 1 }
      (System.nanoTime() - t0).toDouble / (passes.toLong * inputs.length)
    }
    put("kernel.clean_ns", perTurnNs(raw)(Rules.cleanString(_).length), "ns/turn")
    put("kernel.gazetteer_ns", perTurnNs(cleaned)(Rules.scanGazetteer(_).length), "ns/turn")
    put("kernel.orgs_ns", perTurnNs(raw)(Rules.extractOrgs(_).length), "ns/turn")
    put("kernel.skill_dict_ns",
      perTurnNs(lowered)(DictRules.greedyMatches(DictRules.skillAutomaton, _).length), "ns/turn")
    put("kernel.tagger_ns", perTurnNs(cleaned)(compiled.predict(_).length), "ns/turn")
    notes("kernel_sample_turns") = s"${sample.length} (checksum $sink)"
  }

  /** Each checkpointed stage as its own PipelineMain.main call (which builds
    * and stops its own session), then the snapshot re-hash of its table.
    */
  private def checkpointStages(expected: Long)(implicit spark: SparkSession): Unit = {
    deleteTree(ckptDir)
    TableIO.writeSnapshot(turns.toDF(), s"$ckptOut/s0_transcripts", "s0_transcripts")
    copyTree(Paths.get(modelDir), ckptDir.resolve("s2_model"))
    val tables = Seq("s1" -> "s1_clean", "s3" -> "s3_extract", "s4" -> "s4_conv",
      "s5" -> "s5_entities", "s6" -> "s6_triples")
    stopSession()
    var s6Rows: Option[Long] = None
    Trace.span("ckpt") {
      tables.foreach { case (st, table) =>
        stopSession()
        val (_, log) = Trace.span(s"ckpt.$st")(captured(PipelineMain.main(ckptArgs(st, st))))
        if (st == "s6") s6Rows = rowsOut(log, table)
        val sess = session()
        Trace.span(s"ckpt.$st.rehash")(TableIO.snapshotId(sess.read.parquet(s"$ckptOut/$table")))
        put(s"ckpt.$st.busy_s", busy(s"ckpt.$st"), "s")
        put(s"ckpt.$st.bytes_written", treeBytes(ckptDir.resolve(table)).toDouble, "bytes")
        put(s"ckpt.$st.rehash_s", busy(s"ckpt.$st.rehash"), "s")
      }
    }
    val s6Write = Tally("ckpt.s6").writes.find(_._1.endsWith("/s6_triples"))
      .getOrElse(sys.error("no s6_triples write observed"))
    put("ckpt.s6.exchanges", s6Write._2, "count")
    put("ckpt.s6.sort_merge_joins", s6Write._3, "count")
    check(s6Rows.contains(expected), s"checkpointed s6 rows $s6Rows vs fused $expected")
    deleteTree(ckptDir)
  }

  // ---- output ------------------------------------------------------------------

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def emit(): Unit = {
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-34s ${num(v)}%s $u") }
    notes("attempted") = attempted.toString
    notes("failed") = failed.toString
    println("ANNOTATION " + notes.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${correct && failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
  }
}
