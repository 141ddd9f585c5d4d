package graft.sources


import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-semantics table IO on parquet (SURVEY §7.1: the target is
  * partitioned Iceberg tables with `overwritePartitions`-style idempotent
  * replace; the sandbox classpath carries no Iceberg runtime, so the two
  * load-bearing semantics are modeled directly):
  *
  *  - **Partition-scoped replace**: partitioned writes use dynamic
  *    partition-overwrite — ONLY the partitions present in the incoming
  *    frame are replaced, like Iceberg's `overwritePartitions`. Re-running
  *    a stage never wipes partitions it did not produce.
  *  - **Snapshots**: every write computes a content snapshot id (an
  *    order-insensitive fold of per-row hashes — deterministic, so an
  *    idempotent re-run reproduces the SAME id) and records it in a
  *    `_graft_snapshot.json` marker the readers ignore. Lineage rows carry
  *    the input tables' snapshot ids, giving each stage run a verifiable
  *    input→output provenance edge (north_rule lineage mandate).
  */
object TableIO {

  /** Order-insensitive content hash: SUM (mod 2^64) of per-row xxhash64
    * over all columns — deterministic across partitioning/parallelism, and
    * multiplicity-sensitive (a bit_xor fold would let rows occurring an
    * even number of times cancel out, so a duplicate-everything bug would
    * snapshot identical to the correct table). decimal(38,0) holds the
    * exact sum past 10^19 rows.
    */
  def snapshotId(df: DataFrame): Long = {
    val h = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
    h.agg(sum("h")).collect()(0) match {
      case r if r.isNullAt(0) => 0L // empty table
      case r =>
        r.getDecimal(0).toBigInteger
          .mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
    }
  }

  private def markerPath(path: String) = s"$path/_graft_snapshot.json"

  /** Overwrite-write with snapshot marker. Partitioned tables replace only
    * the partitions present in `df` (dynamic overwrite).
    */
  def writeSnapshot(df: DataFrame, path: String, stage: String,
      partitionBy: Seq[String] = Nil)(implicit spark: SparkSession): Long = {
    val w = df.write.mode(SaveMode.Overwrite)
    if (partitionBy.nonEmpty)
      w.option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy: _*).parquet(path)
    else w.parquet(path)
    val sid = snapshotId(spark.read.parquet(path))
    VersionedTable.hwrite(VersionedTable.hpath(markerPath(path)),
      s"""{"snapshot_id":$sid,"stage":"$stage"}""")
    sid
  }

  /** Snapshot id recorded by the last writeSnapshot on this table. */
  def readSnapshotId(path: String): Option[Long] =
    VersionedTable.hreadOpt(VersionedTable.hpath(markerPath(path)))
      .flatMap(""""snapshot_id":(-?\d+)""".r.findFirstMatchIn(_).map(_.group(1).toLong))

  /** MERGE-style incremental append (the reference's backup-table swap,
    * MergeAndExportInfo.py:85-89, generalized to the triple table): rows
    * whose key already exists in the target are dropped by an anti-join
    * and only the remainder is APPENDED — never a full rewrite, so at
    * 10^12-turn scale an incremental batch costs one broadcast-or-shuffle
    * anti-join plus a write proportional to the NEW data. Re-running with
    * the same input appends nothing and reproduces the same content
    * snapshot id (idempotence, pinned in TableIOSpec).
    */
  def mergeNewKeys(df: DataFrame, path: String, keyCols: Seq[String], stage: String,
      partitionBy: Seq[String] = Nil)(implicit spark: SparkSession): Long = {
    val exists = VersionedTable.hexists(VersionedTable.hpath(markerPath(path)))
    if (!exists) return writeSnapshot(df, path, stage, partitionBy)
    val existing = spark.read.parquet(path)
    val existingKeys = existing.select(keyCols.map(col): _*).distinct()
    // null-SAFE key equality: a plain left_anti equality join never matches
    // null keys, so a row with a null key would be re-appended on EVERY
    // run — breaking the idempotence contract for exactly the malformed
    // rows most likely to recur
    val cond = keyCols.map(k => df(k) <=> existingKeys(k)).reduce(_ && _)
    val fresh = df.join(existingKeys, cond, "left_anti").cache()
    // INCREMENTAL snapshot id: the content hash is an order-independent
    // sum of per-row xxhash64 mod 2^64, so the post-merge id is exactly
    // old + hash(fresh rows) with native Long wrap-around — O(batch), not
    // a full-table rescan per merge (the docstring's cost contract at
    // 10^12-turn scale). Fresh rows are hashed in the TABLE's read column
    // order (partition columns trail in parquet read-back), which is what
    // the full recompute would hash; TableIOSpec pins incremental == full.
    // Hash BEFORE the append (also materializing the cache the write then
    // reuses): writing to `path` makes Spark invalidate cached plans that
    // scan `path`, and a post-append re-evaluation of the anti-join would
    // see its own output and hash an empty frame.
    val oldSid = readSnapshotId(path)
    val freshSid = snapshotId(fresh.select(existing.columns.map(col): _*))
    val w = fresh.write.mode(SaveMode.Append)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*).parquet(path)
    else w.parquet(path)
    fresh.unpersist()
    val sid = oldSid.map(_ + freshSid)
      .getOrElse(snapshotId(spark.read.parquet(path)))
    VersionedTable.hwrite(VersionedTable.hpath(markerPath(path)),
      s"""{"snapshot_id":$sid,"stage":"$stage"}""")
    sid
  }

  /** Bucketed catalog table (SURVEY J1 / §5's `bucket(conv_id)` layout):
    * `bucketBy(n, keys) + sortBy(keys)` into an external parquet table, so
    * TWO tables bucketed the same way join WITHOUT ANY EXCHANGE — each
    * task reads bucket i of both sides, the join co-locates by layout
    * (and sortBy removes the per-task sort too). At 10^12 turns this is
    * THE standing answer for the repeated conv_id equi-joins: the shuffle
    * is paid once at write time, then every join of the pipeline's
    * bucketed stage tables is narrow. Spark's bucketing lives in the
    * catalog, not the directory layout, hence saveAsTable + a stable
    * table name (the path keeps the data external/inspectable).
    */
  def writeBucketed(df: DataFrame, path: String, tableName: String,
      buckets: Int, keys: Seq[String])(implicit spark: SparkSession): Unit = {
    require(keys.nonEmpty, "bucketed write needs at least one key column")
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    // One writer task per bucket: repartition on the bucket keys with the
    // bucket count (same murmur3 hash as the bucket-id assignment) so each
    // bucket lands in exactly ONE file. Spark's scan only reports the
    // sortBy ordering (letting a sort-merge join skip its SortExec) when
    // every bucket is a single file; multi-file buckets also defeat
    // bucket-pruning locality at scale.
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** S6 JDBC sink (SURVEY §7.5 "a JDBC writer flag can exist for demo"):
    * the reference exports its wide table to MySQL in 1,000-row
    * executemany batches (MergeAndExportInfo.py:85-111, batch size :102);
    * `batchSize` is the parity knob. Any JDBC url on the session classpath
    * works — the spec exercises embedded Derby.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      driver: Option[String] = None, batchSize: Int = 1000): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
    // DriverManager only sees drivers that have been class-loaded; infer
    // the embedded-Derby class so a fresh JVM works without a flag
    driver.orElse(
      if (url.startsWith("jdbc:derby")) Some("org.apache.derby.jdbc.EmbeddedDriver")
      else None
    ).foreach(d => w.option("driver", d))
    // Derby accepts connection attributes as properties too; an attribute-
    // free derby url gets create=true so CLIs that cannot pass ';'-suffixed
    // urls (sbt splits command strings on ';') still work
    if (url.startsWith("jdbc:derby") && !url.contains(";")) w.option("create", "true")
    w.save()
  }
}
