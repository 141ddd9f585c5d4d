package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.SectionTagger
import graft.model.Turn
import graft.operators._
import graft.sources.TranscriptGen

/** spark-submit driver: checkpointed, resumable stage orchestration
  * (mirrors the reference's execute_from/execute_to/execute_skip,
  * /root/reference/extract-info/ExtractMain.py:24-44). Each stage reads the
  * previous stage's table and writes its own — parquet here; the table
  * layout (one dir per stage, partition columns on the fact tables) is the
  * Iceberg design of SURVEY §7.1, with parquet standing in because the
  * sandbox classpath carries no Iceberg runtime.
  *
  * Usage:
  *   runMain graft.PipelineMain --out /tmp/kg --convs 1000 [--seed 42]
  *     [--from-stage s0] [--to-stage s6] [--skip s2,s3] [--cores 32]
  *     [--extract-dates true] [--merge-append true]
  *     [--jdbc-url jdbc:derby:memory:kg;create=true] [--jdbc-table kg_wide]
  *     [--jdbc-batchsize 1000]
  *     [--stream true [--stream-in TABLE] [--stream-gap-ms 60000]
  *      [--stream-lateness "1 minute"]
  *      [--bloom-cols subj[,col...] [--bloom-fpp 0.01]]]
  *     [--maintain TABLE [--maintain-sort-by COL | --maintain-zorder-by C1,C2]
  *      [--maintain-sort-groups 8]
  *      [--maintain-keep 3] [--maintain-compact-groups 1]
  *      [--maintain-vacuum-hours 24]]
  *     [--alter TABLE (--alter-rename FROM:TO | --alter-drop COL)]
  *     [--mor-delete TABLE --mor-col COL --mor-values v1,v2,...]
  *     [--history TABLE]
  *
  * `--stream true` replaces the s3-s6 batch stages with the STREAMING
  * construction path (StreamingTriples), table to table. Turns live in a
  * VersionedTable at `--stream-in` (default `<out>/s0_turns_v`, seeded
  * from s0 in one manifest commit when it has no version) and the query
  * tails its commits through the `graft-versioned` source: offsets are
  * version seqs, each micro-batch reads only the newly appended file
  * groups, and any Spark producer can add turns with
  * `write.format("graft-versioned").mode("append")`. Completed
  * conversations' triples land in the VersionedTable
  * `<out>/s6_stream_triples_v` through the `graft-versioned` sink, which
  * commits each micro-batch exactly once (VersionedTable.appendOnce keyed
  * `<checkpoint query id>#<batchId>`): a batch replayed after a crash
  * between sink commit and checkpoint commit no-ops through the manifest
  * txn ledger. The stream checkpoint is `<out>/stream_checkpoint`, so a
  * re-run resumes from the checkpointed source offset and lands nothing
  * twice. Per-batch cost is one appended file group + one manifest line;
  * `--maintain` folds the accreted groups back. The driver appends two
  * far-future sentinel turns at the end so quiet conversations flush
  * before it exits — once per input maximum: a re-run with no new turns
  * finds them in the table and appends none.
  */
object PipelineMain {

  val stageNames = Seq("s0_transcripts", "s1_clean", "s2_model", "s3_extract",
    "s4_conv", "s5_entities", "s6_triples")

  /** Builds the session, runs the driver on it, and stops it however the
    * run ends.
    */
  def main(args: Array[String]): Unit = {
    val cores = parseArgs(args).getOrElse("cores", "32").toInt
    implicit val spark: SparkSession = Sessions.local(cores, appName = "graft-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    try run(args) finally spark.stop()
  }

  /** The driver body on a caller-owned session (`--cores` only sizes the
    * session [[main]] builds).
    */
  def run(args: Array[String])(implicit spark: SparkSession): Unit = {
    val a = parseArgs(args)
    // --maintain/--rollback/--tag target a table directly and need no --out
    val out = a.getOrElse("out", a.getOrElse("maintain",
      a.getOrElse("rollback", a.getOrElse("tag-table", a.getOrElse("history",
        a.getOrElse("alter", a.getOrElse("mor-delete",
          throw new IllegalArgumentException("--out is required"))))))))
    val nConvs = a.getOrElse("convs", "1000").toLong
    val seed = a.getOrElse("seed", "42").toLong
    val from = a.getOrElse("from-stage", "s0")
    val to = a.getOrElse("to-stage", "s6")
    val skip = a.getOrElse("skip", "").split(',').filter(_.nonEmpty).toSet
    val runId = a.getOrElse("run-id", s"run-${System.currentTimeMillis()}")
    import spark.implicits._

    // ---- maintenance mode: the standing table-care recipe ----------------
    // `--maintain <versioned-table>` runs what a daily ops job runs as data
    // settles: optional SORT rewrite (--maintain-sort-by COL makes range
    // pruning exact on accreted layouts), binpack compaction (fold the
    // micro-batch groups a streaming writer accretes), expire_snapshots
    // (--maintain-keep N, default 3 — txn ledger preserved), and
    // remove_orphan_files (--maintain-vacuum-hours H, default 24; 0 sweeps
    // immediately for tests). Every step is content-identity safe by
    // construction and prints its evidence.
    // ---- publish / restore mode: tag + rollback without maintenance ------
    // `--tag <name> --tag-table <table> [--tag-version N]` names the tip
    // (or version N) as a durable publish point; `--rollback <table>
    // --rollback-to N|tag:NAME` restores a retained version as a NEW
    // metadata-only commit (history intact — the ops fix for a bad emit).
    a.get("rollback").foreach { table =>
      import graft.sources.VersionedTable
      val target = a.getOrElse("rollback-to", throw new IllegalArgumentException(
        "--rollback needs --rollback-to <version|tag:NAME>"))
      val v =
        if (target.startsWith("tag:")) VersionedTable.rollbackToTag(table, target.drop(4))
        else VersionedTable.rollbackTo(table, target.toInt)
      println(s"[graft] rollback $table -> v${v.seq} " +
        s"snapshot=${v.snapshotId} (${v.dirs.size} file groups)")
      return
    }
    a.get("tag").foreach { name =>
      import graft.sources.VersionedTable
      val table = a.getOrElse("tag-table", throw new IllegalArgumentException(
        "--tag needs --tag-table <versioned-table>"))
      val seq = a.get("tag-version").map(_.toInt)
        .getOrElse(VersionedTable.versions(table).last.seq)
      VersionedTable.tag(table, name, seq)
      println(s"[graft] tagged $table v$seq as '$name'")
      return
    }
    // `--history <table>`: DESCRIBE HISTORY + layout summary from the
    // manifest/sidecars alone (zero data reads) — the ops view of a table
    a.get("history").foreach { table =>
      import graft.sources.VersionedTable
      VersionedTable.history(table).orderBy("version").collect().foreach { r =>
        println(s"[graft] v${r.get(0)} op=${r.get(4)} groups=${r.get(2)} " +
          s"rows=${Option(r.get(3)).getOrElse("?")} snapshot=${r.get(1)}")
      }
      val fm = VersionedTable.filesMetadata(table)
        .agg(count(lit(1)), sum(col("bytes"))).head()
      println(s"[graft] tip layout: ${fm.getLong(0)} data files, " +
        s"${fm.getLong(1)} bytes; tags=${VersionedTable.tags(table)}")
      return
    }

    // `--alter <table>` + `--alter-rename from:to` | `--alter-drop col`:
    // metadata-only schema evolution (ALTER TABLE RENAME/DROP COLUMN)
    a.get("alter").foreach { table =>
      import graft.sources.VersionedTable
      val v = (a.get("alter-rename"), a.get("alter-drop")) match {
        case (Some(rt), None) => rt.split(':') match {
          case Array(from, to) =>
            val v = VersionedTable.renameColumn(table, from, to)
            println(s"[graft] alter rename $from -> $to committed v${v.seq}")
            v
          case _ => throw new IllegalArgumentException(
            s"--alter-rename wants from:to, got $rt")
        }
        case (None, Some(c)) =>
          val v = VersionedTable.dropColumn(table, c)
          println(s"[graft] alter drop $c committed v${v.seq}")
          v
        case _ => throw new IllegalArgumentException(
          "--alter needs exactly one of --alter-rename from:to | --alter-drop col")
      }
      println(s"[graft] $table schema now: " +
        s"${VersionedTable.tableSchema(table).fieldNames.mkString(", ")} " +
        s"(snapshot unchanged: ${v.snapshotId})")
      return
    }

    // `--mor-delete <table> --mor-col COL --mor-values v1,v2,...`:
    // merge-on-read equality delete — commits one small key file, zero
    // data rewrites (the GDPR/revocation fix on a 100-TB table); the debt
    // folds back on the next --maintain rewrite (or applyDeletes).
    a.get("mor-delete").foreach { table =>
      import graft.sources.VersionedTable
      val c = a.getOrElse("mor-col", throw new IllegalArgumentException(
        "--mor-delete needs --mor-col <column>"))
      val raw = a.getOrElse("mor-values", throw new IllegalArgumentException(
        "--mor-delete needs --mor-values v1,v2,...")).split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)
      require(raw.nonEmpty, "--mor-values is empty")
      import spark.implicits._
      // key type follows the table's column type so the anti-join never
      // falls back to a cast that would defeat bloom/stats evidence
      val dt = VersionedTable.tableSchema(table)(spark).apply(c).dataType
      val keys = dt match {
        case org.apache.spark.sql.types.StringType => raw.toDF(c)
        case _: org.apache.spark.sql.types.NumericType =>
          // parse via BigDecimal, not toLong: fractional values against a
          // double/float/decimal key column must key-match, not throw —
          // but a fractional value against an INTEGRAL column must fail
          // LOUDLY, not silently truncate into deleting the wrong keys
          val integral = dt match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          }
          raw.map { v =>
            val bd = scala.util.Try(BigDecimal(v)).getOrElse(
              throw new IllegalArgumentException(
                s"--mor-values: '$v' is not numeric for column $c ($dt)"))
            require(!integral || bd.isWhole,
              s"--mor-values: '$v' is fractional but column $c is $dt — " +
                "a truncating cast would delete the wrong keys")
            bd
          }.toDF(c).select(col(c).cast(dt))
        case other => throw new IllegalArgumentException(
          s"--mor-delete supports string/numeric key columns, $c is $other")
      }
      val before = VersionedTable.versions(table).last
      val v = VersionedTable.morDelete(keys, table)
      if (v.seq == before.seq)
        println(s"[graft] mor-delete $table: no key matched — nothing committed")
      else
        println(s"[graft] mor-delete $table -> v${v.seq} " +
          s"matched=${v.dels.last.matched} pending_delete_files=${v.dels.size} " +
          s"snapshot=${v.snapshotId} (0 data files rewritten)")
      return
    }

    a.get("maintain").foreach { table =>
      import graft.sources.VersionedTable
      val before = VersionedTable.versions(table)
      require(before.nonEmpty, s"no committed version in $table")
      println(s"[graft] maintain $table: v${before.last.seq}, " +
        s"${before.last.dirs.size} file groups, ${before.size} retained versions" +
        (if (before.last.dels.nonEmpty)
          s", ${before.last.dels.size} pending delete files (folding)" else ""))
      // z-order / sorted rewrite / binpack compaction are ALTERNATIVES:
      // the rewrites already fold every accreted group into targetGroups
      // clustered ones, and compacting afterwards would merge them back
      // into range-overlapping files, undoing exactly the layout the
      // rewrite bought (all are Iceberg rewrite_data_files strategies —
      // you pick one per run)
      require(a.get("maintain-zorder-by").isEmpty || a.get("maintain-sort-by").isEmpty,
        "--maintain-sort-by and --maintain-zorder-by are exclusive rewrite " +
          "strategies — pass one per run")
      (a.get("maintain-zorder-by"), a.get("maintain-sort-by")) match {
        case (Some(cols), _) =>
          val g = a.getOrElse("maintain-sort-groups", "8").toInt
          val cs = cols.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          val v = VersionedTable.rewriteZOrder(table, cs, g)
          println(s"[graft] maintain zorder-rewrite by ${cs.mkString(",")} -> v${v.seq} (${v.dirs.size} groups)")
        case (None, Some(col)) =>
          val g = a.getOrElse("maintain-sort-groups", "8").toInt
          val v = VersionedTable.rewriteSorted(table, col, g)
          println(s"[graft] maintain sorted-rewrite by $col -> v${v.seq} (${v.dirs.size} groups)")
        case (None, None) =>
          val c = VersionedTable.compact(table,
            a.getOrElse("maintain-compact-groups", "1").toInt)
          println(s"[graft] maintain compact -> v${c.seq} (${c.dirs.size} groups)")
      }
      val keep = a.getOrElse("maintain-keep", "3").toInt
      // keep=0 would drop EVERY retained version and data dir — an
      // irreversible one-character CLI mistake; Iceberg's
      // expire_snapshots has the same floor (retain_last >= 1)
      require(keep >= 1, s"--maintain-keep must be >= 1 (got $keep)")
      val retainedBefore = VersionedTable.versions(table).size
      val expiredPaths = VersionedTable.expire(table, keep)
      val vacuumHours = a.getOrElse("maintain-vacuum-hours", "24").toDouble
      // a negative horizon puts the cutoff in the future, sweeping dirs
      // that in-flight writers created moments ago
      require(vacuumHours >= 0, s"--maintain-vacuum-hours must be >= 0 (got $vacuumHours)")
      val vacuumMs = (vacuumHours * 3600 * 1000).toLong
      val orphans = VersionedTable.vacuum(table, vacuumMs)
      val after = VersionedTable.versions(table)
      println(s"[graft] maintain expired_versions=${retainedBefore - after.size} " +
        s"expired_paths=${expiredPaths.size} orphans=${orphans.size} " +
        s"retained=${after.size} tip=v${after.last.seq} " +
        s"snapshot=${after.last.snapshotId} (content unchanged: " +
        s"${after.last.snapshotId == before.last.snapshotId})")
      return
    }

    val fromIdx = stageNames.indexWhere(_.startsWith(from))
    val toIdx = stageNames.indexWhere(_.startsWith(to))
    require(fromIdx >= 0 && toIdx >= fromIdx, s"bad stage range $from..$to")
    def active(s: String): Boolean = {
      val i = stageNames.indexOf(s)
      i >= fromIdx && i <= toIdx && !skip.exists(s.startsWith)
    }

    def path(s: String) = s"$out/$s"

    // lineage rows carry the snapshot ids of the stage's input tables
    // (north_rule: input→output provenance per run) — TableIO records a
    // deterministic content snapshot id on every stage write
    def lineage(stage: String, df: DataFrame, inputs: Seq[String] = Nil): Unit = {
      val inputSnaps = inputs.map { in =>
        s"$in:${graft.sources.TableIO.readSnapshotId(path(in)).map(_.toString).getOrElse("-")}"
      }.mkString(",")
      // one scan: the per-partition counts (one row per read partition)
      // come back to the driver, then are written and summed there
      val perPartition = df.groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows_out")).as[(Int, Long)].collect().toSeq
      perPartition.toDF("partition_id", "rows_out")
        .withColumn("run_id", lit(runId)).withColumn("stage", lit(stage))
        .withColumn("input_snapshots", lit(inputSnaps))
        .write.mode(SaveMode.Append).parquet(s"$out/lineage")
      val total = perPartition.map(_._2).sum
      println(s"[graft] $stage rows_out=$total -> ${path(stage)}")
    }

    def write(stage: String, df: DataFrame, inputs: Seq[String] = Nil,
        partitionBy: Seq[String] = Nil): Unit = {
      graft.sources.TableIO.writeSnapshot(df, path(stage), stage, partitionBy)
      lineage(stage, spark.read.parquet(path(stage)), inputs)
    }

    // ---- s0: synthesize transcripts (the Iceberg-style input table) ----
    if (active("s0_transcripts")) {
      write("s0_transcripts", TranscriptGen.dataset(spark, nConvs, seed).toDF())
    }

    // ---- s1: clean chain ----
    if (active("s1_clean")) {
      val turns = spark.read.parquet(path("s0_transcripts")).as[Turn]
      write("s1_clean", KgPipeline.cleanTurns(turns), Seq("s0_transcripts"))
    }

    // ---- s2: train + persist the section tagger ----
    if (active("s2_model")) {
      val trained = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 300, seed = seed))
      trained.model.write.overwrite().save(path("s2_model"))
      println(s"[graft] s2_model saved -> ${path("s2_model")}")
    }

    // ---- streaming mode: the whole construction as one StreamingQuery ----
    if (a.getOrElse("stream", "false").toBoolean) {
      import graft.sources.VersionedTable
      val tagger = loadTagger(path("s2_model"))
      val streamIn = a.getOrElse("stream-in", s"$out/s0_turns_v")
      val outPath = path("s6_stream_triples_v")
      val gapMs = a.getOrElse("stream-gap-ms", "60000").toLong
      val lateness = a.getOrElse("stream-lateness", "1 minute")
      // the seed is one manifest commit: a crash mid-write leaves no
      // version, so the next run seeds again instead of streaming a
      // partial s0
      if (VersionedTable.versions(streamIn).isEmpty)
        VersionedTable.overwrite(spark.read.parquet(path("s0_transcripts")), streamIn)
      // --bloom-cols subj[,pred,...]: declare bloom-sidecar columns on the
      // landed triple table — every batch commit then carries blooms, so
      // "fetch one conversation's triples" opens only the bloom-positive
      // file groups (equality pruning where min/max stats never can; see
      // VersionedTable.setBloomColumns / q59)
      a.get("bloom-cols").foreach { cs =>
        VersionedTable.setBloomColumns(outPath,
          cs.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
          a.getOrElse("bloom-fpp", "0.01").toDouble)
      }
      // sentinel rows persist their event times into the checkpoint's
      // watermark (by design: that is what fires the timeouts), so a
      // RESUMED run treats backfilled turns older than
      // maxTs + gap + lateness as late data and drops them — standard
      // watermark semantics, widened by the flush offsets; backfills of
      // older event times belong on the batch path (--merge-append)
      val q = graft.streaming.StreamingTriples
        .triplesStream(spark.readStream.format("graft-versioned").load(streamIn),
          tagger, gapMs, lateness,
          extractDates = a.getOrElse("extract-dates", "false").toBoolean)
        .filter(col("subj") =!= "graft-sentinel")
        .writeStream
        .format("graft-versioned")
        .option("checkpointLocation", s"$out/stream_checkpoint")
        .start(outPath)
      q.processAllAvailable()
      // sentinel nudges: advance the event-time watermark past every
      // conversation's timeout, then let the timeouts fire
      val maxTs = VersionedTable.read(streamIn)
        .filter(col("conv_id") =!= "graft-sentinel")
        .agg(max(col("ts"))).head().getTimestamp(0)
      // max(ts) over an empty input is null; the sentinel arithmetic below
      // would NPE after the query already started — fail with the cause
      require(maxTs != null,
        "--stream true needs at least one input turn (the stream-in table " +
          "is empty) — run s0 first or pass --convs > 0")
      // offsets derived from gap + lateness: hardcoded constants would
      // silently leave the newest conversations unflushed (exit 0, rows
      // missing) as soon as gap + lateness exceeded them. A sentinel an
      // earlier run already appended for this maxTs is in the stream's
      // watermark; appending it again would only grow the input table
      // (the scan's stats pruning opens only the sentinel groups).
      val landedSentinels = VersionedTable.scan(streamIn)
        .where(col("conv_id") === "graft-sentinel")
        .select("ts").as[java.sql.Timestamp].collect().map(_.getTime).toSet
      graft.streaming.StreamingTriples.flushOffsetsMs(gapMs, lateness).zipWithIndex
        .filterNot { case (off, _) => landedSentinels(maxTs.getTime + off) }
        .foreach { case (off, i) =>
          val sentinel = Seq(Turn("graft-sentinel", i, "user", "flush", null,
            new java.sql.Timestamp(maxTs.getTime + off))).toDF()
          VersionedTable.append(sentinel, streamIn)
          q.processAllAvailable()
        }
      q.stop()
      val streamed = VersionedTable.read(outPath)
      println(s"[graft] s6_stream_triples_v rows=${streamed.count()} " +
        s"convs=${streamed.select("subj").distinct().count()} -> $outPath")
      return
    }

    // ---- s3: tag + per-turn mention extraction ----
    if (active("s3_extract")) {
      val cleaned = spark.read.parquet(path("s1_clean"))
      val tagged = SectionTagger.predict(loadTagger(path("s2_model")), cleaned)
      val extractDates = a.getOrElse("extract-dates", "false").toBoolean // X5 flag
      write("s3_extract", TurnExtract.extract(tagged, extractDates), Seq("s1_clean"))
    }

    // ---- s4: per-conversation resolve ----
    if (active("s4_conv")) {
      val extracted = spark.read.parquet(path("s3_extract"))
      // s3_extract preserves s0's conv-clustered, turn-sorted write order
      // (narrow stages, one parquet file per task), so runClustered
      // resolves it in the narrow scan. Where the reader breaks that layout
      // — it bin-packs files into partitions by size, so the two file
      // halves of a conversation that straddled an upstream rowgroup split
      // may land reordered in one partition — the boundary pass sees it
      // and runClustered takes the order-insensitive salted path instead.
      // The narrow scan keeps s3's partitions, cut for turns: rebalance its
      // conversation rows into AQE-sized files, or every s3 partition
      // lands an s4 file and s6 (partitioned by pred) multiplies them. A
      // narrow coalesce would merge the resolution's tasks too.
      write("s4_conv", ConvFinalize.runClustered(extracted).toDF().hint("rebalance"),
        Seq("s3_extract"))
    }

    // ---- s5: entity linking over org mentions ----
    if (active("s5_entities")) {
      val convs = spark.read.parquet(path("s4_conv")).as[ConvExtract]
      val (canon, blockingAudit) = Linking.canonicalizeWithMetrics(KgPipeline.orgMentions(convs))
      write("s5_entities", canon, Seq("s4_conv"))
      // blocking-skew audit beside the stage output (VERDICT r3 #5): on
      // the LSH path this records n_oversized_buckets / n_star_pairs —
      // the star-sampling recall trade, visible per run instead of
      // silent; melted into the metrics table's (pred=key, count) shape
      blockingAudit
        .select(col("metric").as("pred"), col("value").as("count"))
        .withColumn("run_id", lit(runId)).withColumn("stage", lit("s5_blocking"))
        .write.mode(SaveMode.Append).parquet(s"$out/metrics")
    }

    // ---- s6: scoring + triple emission, partitioned by pred ----
    if (active("s6_triples")) {
      val convs = spark.read.parquet(path("s4_conv")).as[ConvExtract]
      val triples = KgPipeline.emitTriples(convs, spark.read.parquet(path("s5_entities")))
      if (a.getOrElse("merge-append", "false").toBoolean) {
        // MERGE-style incremental emit: only triples of subjects not yet in
        // the table are appended (reference backup-table swap semantics,
        // MergeAndExportInfo.py:85-89); idempotent by snapshot id
        graft.sources.TableIO.mergeNewKeys(triples.toDF(), path("s6_triples"),
          Seq("subj"), "s6_triples", partitionBy = Seq("pred"))
        lineage("s6_triples", spark.read.parquet(path("s6_triples")),
          Seq("s4_conv", "s5_entities"))
      } else {
        // pred-partitioned + dynamic overwrite: a re-run replaces exactly the
        // pred partitions it produced (Iceberg overwritePartitions semantics)
        write("s6_triples", triples.toDF(), Seq("s4_conv", "s5_entities"),
          partitionBy = Seq("pred"))
      }
      // per-pred metrics
      spark.read.parquet(path("s6_triples")).groupBy("pred").count()
        .withColumn("run_id", lit(runId)).withColumn("stage", lit("s6_triples"))
        .write.mode(SaveMode.Append).parquet(s"$out/metrics")
      // wide-row TSV export (reference MySQL/TSV sink parity, S5/S6)
      val wide = WideExport.widen(spark.read.parquet(path("s6_triples")))
      WideExport.exportTsv(wide, path("s6_wide_tsv"))
      println(s"[graft] s6_wide_tsv -> ${path("s6_wide_tsv")}")
      // S6 JDBC sink (reference exports the wide table to MySQL,
      // MergeAndExportInfo.py:85-111): any JDBC url on the classpath
      a.get("jdbc-url").foreach { url =>
        graft.sources.TableIO.writeJdbc(wide, url,
          a.getOrElse("jdbc-table", "kg_wide"), a.get("jdbc-driver"),
          a.getOrElse("jdbc-batchsize", "1000").toInt)
        println(s"[graft] s6_jdbc -> $url")
      }
    }

    // ---- s7 (optional): entity-graph metrics over the landed triples ----
    // `--graph-metrics true`: degrees + PageRank over the conv→entity
    // graph (literal-valued preds excluded; objects namespaced by pred so
    // a surface shared across predicates stays two nodes). Entity
    // importance for canonical-entity selection, landed as its own
    // checkpointed stage table like every other stage.
    if (a.getOrElse("graph-metrics", "false").toBoolean) {
      val edges = spark.read.parquet(path("s6_triples"))
        .filter(!col("pred").isInCollection(TripleEmit.literalPreds))
        .select(col("subj").as("src"),
          concat(col("pred"), lit(":"), col("obj")).as("dst"))
      val iters = a.getOrElse("pagerank-iters", "5").toInt
      val base = GraphMetrics.degrees(edges)
        .join(GraphMetrics.pageRank(edges, iters), Seq("node"), "left")
      // `--lpa-iters N` additionally labels every node with its
      // label-propagation community (deterministic min-tie supersteps) —
      // the coarse grouping canonical-entity selection ranks within
      val metrics = a.get("lpa-iters").map(_.toInt) match {
        case Some(li) if li > 0 =>
          base.join(GraphMetrics.labelPropagation(edges, li)
            .withColumnRenamed("label", "community"), Seq("node"), "left")
        case _ => base
      }
      write("s7_graph", metrics, Seq("s6_triples"))
    }

    // ---- s8 (optional): embedding-training negatives over the triples ----
    // `--negatives K`: K type-consistent filtered corrupt triples per
    // positive (literal-valued preds excluded — corrupting a salary
    // number teaches an embedding nothing), deterministic content-hash
    // draws, landed pred-partitioned like s6 itself.
    a.get("negatives").map(_.toInt).foreach { kNeg =>
      val pos = spark.read.parquet(path("s6_triples"))
        .filter(!col("pred").isInCollection(TripleEmit.literalPreds))
        .select("subj", "pred", "obj")
      write("s8_negatives", Negatives.corrupt(pos, k = kNeg),
        Seq("s6_triples"), partitionBy = Seq("pred"))
    }
  }

  /** The section tagger an s2 stage saved under `dir`. */
  def loadTagger(dir: String): SectionTagger.Trained = {
    val m = PipelineModel.load(dir)
    val labels = m.stages.collectFirst { case s: StringIndexerModel => s.labelsArray(0) }.get
    SectionTagger.Trained(m, labels)
  }

  private val knownArgs = Set(
    "bloom-cols", "bloom-fpp", "convs", "cores", "extract-dates",
    "from-stage", "graph-metrics", "lpa-iters", "pagerank-iters",
    "jdbc-batchsize", "jdbc-driver", "jdbc-table", "jdbc-url",
    "maintain", "maintain-compact-groups", "maintain-keep",
    "maintain-sort-by", "maintain-sort-groups", "maintain-vacuum-hours",
    "maintain-zorder-by", "merge-append", "mor-delete", "mor-col",
    "mor-values", "negatives", "out", "rollback", "rollback-to",
    "run-id", "seed", "skip", "stream", "stream-gap-ms",
    "stream-in", "stream-lateness",
    "history", "tag", "tag-table", "tag-version", "to-stage",
    "alter", "alter-rename", "alter-drop")

  /** Strict --key value parser: a dangling flag, a value in key position
    * (one missing value shifts every later pair), or a typo'd key each
    * CHANGE RUN BEHAVIOR if silently dropped — '--maintain-keeps 5' would
    * expire with the default instead of erroring.
    */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --key value pairs; got an odd count: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("--"),
          s"expected a --key at '$k' (a previous flag is missing its value?)")
        val key = k.stripPrefix("--")
        require(knownArgs.contains(key), s"unknown flag --$key; known: " +
          knownArgs.toSeq.sorted.map("--" + _).mkString(", "))
        key -> v
    }.toMap
  }
}
