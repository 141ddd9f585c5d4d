package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamRelation
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftFileIndex, VersionedTable}

/** `spark.readStream.format("graft-versioned").load(table)` — subscribe
  * to a VersionedTable's commits (the Delta-source pattern, and the other
  * half of the `graft-versioned` sink's exactly-once story): offsets are
  * manifest version seqs, so the streaming checkpoint records "I have
  * delivered through v<N>" and a restart resumes from exactly there with
  * no re-listing, no dedup state, and no missed commit. Each micro-batch
  * reads ONLY the file groups appended in (start, end] — incremental
  * processing whose per-batch cost is O(new data), which at 100 TB is the
  * difference between re-scanning a petabyte table per cycle and reading
  * the morning's commits.
  *
  * Commit-kind handling per step, decided from manifest evidence alone:
  *   - append (dirs superset): deliver the new dirs;
  *   - layout-only rewrite — compact / rewriteSorted (dirs replaced but
  *     the content snapshot id UNCHANGED): deliver nothing, the rows all
  *     flowed through earlier versions;
  *   - data rewrite — overwrite / deleteRange / merge (dirs replaced AND
  *     id changed): throw. A row-level change cannot be expressed as an
  *     append-only stream; failing loudly at the exact version beats
  *     silently re-delivering or dropping rows (Delta's default too).
  *
  * An expired start version also throws, naming the fix (retain more
  * versions or reset the checkpoint) — replaying from an offset whose
  * manifest lines are gone cannot be answered correctly.
  */
final class VersionedTableSource(spark: SparkSession, table: String,
    maxVersionsPerTrigger: Option[Int] = None,
    metadataPath: Option[String] = None) extends Source {

  override val schema: StructType = {
    implicit val s: SparkSession = spark
    VersionedTable.tableSchema(table)
  }

  /** The engine hands `metadataPath` as a QUALIFIED URI (`file:/…/sources/0`,
    * or `hdfs://…` on a real cluster), so it must resolve through the Hadoop
    * filesystem of the checkpoint — `java.nio.Paths.get` would read the URI
    * as a relative local path and drop the file in the driver's cwd, which
    * both litters the working directory and loses the recovery state on any
    * restart from a different cwd or a non-local checkpoint FS.
    */
  private def seqFile: Option[org.apache.hadoop.fs.Path] =
    metadataPath.map(m => new org.apache.hadoop.fs.Path(m, "graft-last-end"))

  private def fsOf(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest end offset this source has already handed to getBatch — the
    * base the rate limit advances from. Persisted in the engine-provided
    * per-source metadata dir (the FileStreamSource seen-log mechanism) so
    * a RESTART against a long commit backlog is also capped — the case
    * the limit exists for; without the file the first trigger of a fresh
    * query is the initial snapshot, which is one version regardless.
    */
  @volatile private var lastEndSeq: Option[Int] =
    seqFile.flatMap { p =>
      scala.util.Try {
        val fs = fsOf(p)
        if (fs.exists(p)) {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
          finally in.close()
        } else None
      }.toOption.flatten
    }

  private def recordEnd(seq: Int): Unit = {
    lastEndSeq = Some(lastEndSeq.fold(seq)(math.max(_, seq)))
    // single-writer (the engine's microbatch thread); tmp+move keeps a
    // torn write from parsing, and a lost write only weakens the cap by
    // one trigger, never correctness (offsets live in the engine log)
    if (maxVersionsPerTrigger.isDefined) seqFile.foreach { p =>
      scala.util.Try {
        val fs = fsOf(p)
        fs.mkdirs(p.getParent)
        val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(lastEndSeq.get.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // FileContext rename is the atomic-overwrite primitive Spark's own
        // HDFSMetadataLog uses; plain FileSystem.rename won't overwrite
        org.apache.hadoop.fs.FileContext.getFileContext(
          p.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    }
  }

  /** Rate limiting (Delta's maxFilesPerTrigger analogue, at version
    * granularity — a version is the atomic unit of this source): cap how
    * far each micro-batch advances, so a restart against a long backlog
    * of commits drains in bounded batches instead of one giant one. The
    * cap never splits a version and never stalls: at least one new
    * version is always offered.
    */
  override def getOffset: Option[OffsetV1] = {
    val vs = VersionedTable.versions(table)
    (vs.lastOption.map(_.seq), maxVersionsPerTrigger) match {
      case (None, _) => None
      case (Some(l), None) => Some(LongOffset(l.toLong))
      case (Some(l), Some(k)) =>
        // base = what getBatch last consumed through (recovered from the
        // metadata file across restarts); with no base this is a fresh
        // query whose first batch is the initial snapshot — one version,
        // so the unthrottled offer is still version-bounded. The cap
        // advances along RETAINED seqs, not base+k arithmetic: tag-exempt
        // expire leaves gaps in the sequence, and an arithmetic cap could
        // name an expired seq and wedge every subsequent trigger on it.
        val capped = lastEndSeq match {
          case Some(base) =>
            vs.iterator.map(_.seq).filter(_ > base).take(k).reduceOption(math.max)
              .getOrElse(l)
          case None => l
        }
        Some(LongOffset(capped.toLong))
    }
  }

  /** Offsets arrive as LongOffset pre-restart and SerializedOffset after
    * checkpoint recovery; LongOffset's json is the bare number either way.
    */
  private def seqOf(o: OffsetV1): Int = o.json.trim.toInt

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    implicit val s: SparkSession = spark
    val endSeq = seqOf(end)
    recordEnd(endSeq)
    val vs = VersionedTable.versions(table)
    def at(seq: Int) = vs.find(_.seq == seq).getOrElse(throw new IllegalStateException(
      s"stream offset v$seq of $table expired before delivery — " +
        "retain more versions (expire keep) or reset the stream checkpoint"))
    val newDirs: Seq[String] = start.map(seqOf) match {
      case None =>
        // initial batch: the full snapshot at end. Raw file groups would
        // RESURRECT rows a pending equality-delete file (merge-on-read)
        // has removed — require the debt folded first; later versions'
        // morDelete commits fail loudly inside the walk below instead.
        val v0 = at(endSeq)
        if (v0.dels.nonEmpty) throw new IllegalStateException(
          s"$table v$endSeq has pending equality-delete files — the streaming " +
            "source delivers raw file groups; run applyDeletes (or compact) " +
            "before starting a stream from this snapshot")
        v0.dirs
      case Some(s0) =>
        at(s0) // loud expiry check with the STREAM remedy in the message
        // the shared manifest walk (also behind readChangesBetween),
        // fed the SAME `vs` read as the at() check — a second manifest
        // read could see a concurrent expire land in between and bypass
        // the stream-remedy error above
        VersionedTable.appendedDirsIn(vs, table, s0, endSeq)
    }
    val groups = VersionedTable.fileGroups(table, newDirs)
    // an append that EVOLVED the schema mid-stream would otherwise have
    // its new columns silently projected away by the construction-pinned
    // schema — fail loudly instead (Delta's behavior): a restart re-pins
    // the widened schema and resumes from the checkpointed offset. A
    // group WITHOUT a stats sidecar (pre-stats table format) must not
    // skip the guard — that would be the silent projection the guard
    // exists to prevent — so it pays one footer read instead.
    val pinned = schema.fieldNames.toSet
    for (g <- groups) {
      val sch = g.stats.flatMap(_.schema).getOrElse(
        spark.read.parquet(s"$table/${g.dir}").schema)
      val extra = sch.fieldNames.filterNot(pinned)
      if (extra.nonEmpty) throw new IllegalStateException(
        s"schema of $table evolved mid-stream (commit added ${extra.mkString(", ")} " +
          s"in ${g.dir}) — restart the stream to pick up the widened schema")
    }
    // the same FileIndex seam as the batch scan: data filters a streaming
    // query pushes down prune the batch's file groups too
    val idx = new GraftFileIndex(spark, table, groups)
    StreamRelation.streamingScan(spark, idx.relation(schema))
  }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"VersionedTableSource[$table]"
}

/** Registers `format("graft-versioned")` (via the DataSourceRegister
  * service entry) with the table path in `.load(path)` / `.start(path)` —
  * all four directions:
  *
  *  - `spark.read` plans the latest version (or `.option("versionAsOf",
  *    n)` for time travel) through the pruning FileIndex;
  *  - `spark.readStream` tails commits via [[VersionedTableSource]];
  *  - `df.write` commits a version per SaveMode (Append appends a file
  *    group, Overwrite snapshots, ErrorIfExists/Ignore honor existing
  *    commits);
  *  - `ds.writeStream` lands micro-batches through the exactly-once
  *    txn-keyed append ([[graft.sources.VersionedTable.appendOnce]] keyed
  *    `<txnAppId>#<batchId>`) — a crash-replayed batch no-ops through the
  *    manifest ledger. Structured Streaming's sinks are at-least-once:
  *    after a crash between the sink write and the checkpoint commit, the
  *    restarted query re-delivers the last batch with the same batchId, so
  *    exactness lives here (Iceberg/Delta's idempotent-writes pattern: the
  *    commit log is the dedup ledger). With a replayable source's
  *    checkpointed offsets this is end-to-end exactly-once. Each batch is
  *    one appended file group + one manifest line, O(1) in table size; the
  *    accreted groups fold back via [[graft.sources.VersionedTable.compact]].
  */
final class VersionedTableProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned needs the table path: readStream.format(\"graft-versioned\").load(<table>)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    implicit val s: SparkSession = sqlContext.sparkSession
    val table = VersionedTable.tableSchema(tablePath(parameters))
    // the engine binds source output to the declared schema POSITIONALLY,
    // so honoring a reordered/differing user schema would mis-bind columns
    // silently — the table's manifest owns the schema here
    schema.filter(_ != table).foreach(us => throw new IllegalArgumentException(
      s"graft-versioned streams the table's own schema ($table); " +
        s"a differing user-specified schema ($us) is not supported"))
    (shortName(), table)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    implicit val s: SparkSession = sqlContext.sparkSession
    val table = tablePath(parameters)
    require(!(parameters.contains("versionAsOf") && parameters.contains("tagAsOf")),
      "versionAsOf and tagAsOf are mutually exclusive — pass one")
    val asOf = parameters.get("versionAsOf").map(_.trim.toInt)
      .orElse(parameters.get("tagAsOf").map(VersionedTable.resolveTag(table, _)))
    VersionedTable.scanRelation(table, asOf)._1
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new VersionedTableSource(sqlContext.sparkSession, tablePath(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.trim.toInt).map { k =>
        require(k > 0, s"maxVersionsPerTrigger must be positive, got $k"); k
      }, Option(metadataPath))

  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]):
      org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    implicit val s: SparkSession = sqlContext.sparkSession
    val table = tablePath(parameters)
    val exists = VersionedTable.versions(table).nonEmpty
    mode match {
      case SaveMode.Append => VersionedTable.append(data.toDF(), table)
      case SaveMode.Overwrite => VersionedTable.overwrite(data.toDF(), table)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"$table already has committed versions (mode ErrorIfExists)")
        VersionedTable.overwrite(data.toDF(), table)
      case SaveMode.Ignore => if (!exists) VersionedTable.overwrite(data.toDF(), table)
    }
    VersionedTable.scanRelation(table)._1
  }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    val table = tablePath(parameters)
    // append-only sink: Update/Complete re-emit rows across batches, and
    // committing those as appends would silently duplicate — reject at
    // query start, not at the first corrupted batch
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-versioned sink supports Append output mode only, got $outputMode")
    // the idempotence namespace must be UNIQUE PER LOGICAL QUERY, stable
    // across its restarts, and RESET when batchIds reset — two queries
    // sharing a namespace would silently swallow each other's batches as
    // txn replays, and a namespace that survives a checkpoint wipe would
    // swallow the restarted batch 0. The query id Spark persists in the
    // checkpoint has exactly that lifetime (checkpointTxnNamespace,
    // resolved lazily per batch — the metadata file exists once the
    // query starts); an explicit txnAppId overrides
    // it for callers managing their own namespace lifetime.
    val explicitAppId = parameters.get("txnAppId")
    val checkpoint = parameters.get("checkpointLocation")
    if (explicitAppId.isEmpty && checkpoint.isEmpty)
      throw new IllegalArgumentException(
        "graft-versioned sink needs a txn namespace: set the " +
          "checkpointLocation WRITER OPTION (the session-level " +
          "spark.sql.streaming.checkpointLocation default resolves to a " +
          "per-query dir this sink cannot see) or an explicit txnAppId")
    // partitionBy on this sink would be silently ignored — data lands as
    // unpartitioned file groups — so reject the request loudly instead of
    // letting the user believe the layout request was honored
    require(partitionColumns.isEmpty,
      s"graft-versioned sink does not support partitionBy " +
        s"(got ${partitionColumns.mkString(", ")}); use --maintain-sort-by / " +
        "rewriteSorted or rewriteZOrder for layout clustering")
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        implicit val s: SparkSession = sqlContext.sparkSession
        val appId = explicitAppId.getOrElse(
          VersionedTableProvider.checkpointTxnNamespace(s, checkpoint.get))
        // the engine hands an IncrementalExecution-backed frame; re-wrap
        // its planned rows as a batch plan (ForeachBatchSink's trick).
        // Empty batches skip: stateful queries run no-data batches every
        // idle tick, and committing each would accrete one empty file
        // group + manifest line per tick (an unrecorded empty batch
        // replays as another empty no-op, so exactness holds)
        val batch = StreamRelation.asBatch(data)
        if (!batch.isEmpty)
          VersionedTable.appendOnce(batch, table, s"$appId#$batchId")
      }
      override def name(): String = s"graft-versioned[$table]"
      override def toString: String = name()
    }
  }
}

object VersionedTableProvider {

  /** The txn namespace for a checkpointed query: the query id Spark
    * persists at `<checkpoint>/metadata` on first start. That id has
    * EXACTLY the lifetime batchIds have — unique per logical query,
    * stable across restarts from the checkpoint, and regenerated when the
    * checkpoint is wiped — so keying txns on it can neither collide
    * across queries nor replay-swallow the restarted batch 0 after a
    * checkpoint reset (a name- or path-based key survives the reset and
    * does both). Resolved through the checkpoint's Hadoop filesystem
    * (the checkpoint may be a qualified URI on a real cluster); read
    * per batch, uncached — a tiny driver-side read, and a cache could
    * serve a stale id to a post-reset run in the same JVM. An unreadable
    * metadata file THROWS (failing the batch, which Spark retries): every
    * caller runs after query start, when the file exists, so a read
    * failure is a transient IO error — and falling back to any stable
    * string would key this batch in a namespace no other run uses,
    * silently breaking exactly-once in both directions (a replay of this
    * batch wouldn't be recognized; a fallback-keyed ledger entry would
    * swallow a future reset's batch of the same id).
    */
  private[graft] def checkpointTxnNamespace(spark: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val json =
      try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"cannot read the query id from $p — refusing to guess a txn " +
            "namespace (exactly-once would silently break); the batch will " +
            "be retried", e)
      }
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no query id in $p — malformed checkpoint metadata"))
  }
}
