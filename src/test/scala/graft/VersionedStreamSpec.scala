package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.sources.VersionedTable

/** The versioned streaming SOURCE: offsets are manifest version seqs,
  * micro-batches deliver exactly the appended file groups, compaction
  * delivers nothing, data rewrites fail loudly, restart resumes from the
  * checkpointed version, and source→sink composition is exactly-once
  * end-to-end.
  */
class VersionedStreamSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-vstream-$name").resolve("t").toString

  private def rows(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(1)
  }

  test("initial snapshot, then only appended commits, then compaction = nothing") {
    val p = tmp("tail")
    VersionedTable.overwrite(rows(1, 10), p)
    val delivered = mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft-versioned").load(p)
      .writeStream.trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSet
        delivered.synchronized { delivered += ids }; ()
      }.start()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.flatten.toSet) == (1L to 10L).toSet)
      VersionedTable.append(rows(11, 20), p)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.flatten.toSet) == (1L to 20L).toSet)
      // compaction rewrites layout, not content: nothing re-delivered
      VersionedTable.compact(p)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.flatten.toSet) == (1L to 20L).toSet)
      // appends after compaction flow normally
      VersionedTable.append(rows(21, 25), p)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.flatten.toSet) == (1L to 25L).toSet)
      val total = delivered.synchronized(delivered.map(_.size).sum)
      assert(total == 25, s"a row was delivered twice: $total != 25")
    } finally q.stop()
  }

  test("a streaming ungrouped aggregate accumulates — ManifestAggRule must not fold it") {
    // Regression: without the !isStreaming guard, the sidecar-stats rule
    // folded each micro-batch's Aggregate(Nil, count) into a batch
    // LocalRelation, so Complete-mode output showed the LAST BATCH's row
    // count instead of the running total.
    val p = tmp("streamagg")
    VersionedTable.overwrite(rows(1, 10), p)
    val q = spark.readStream.format("graft-versioned").load(p)
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("vstream_agg").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("vstream_agg").collect().map(_.getLong(0)).toSeq == Seq(10L))
      VersionedTable.append(rows(11, 13), p) // 3-row batch: the fold would report 3
      q.processAllAvailable()
      assert(spark.table("vstream_agg").collect().map(_.getLong(0)).toSeq == Seq(13L))
    } finally q.stop()
  }

  test("pushed-down filters prune the micro-batch's file groups too") {
    val p = tmp("prune")
    VersionedTable.overwrite(rows(1, 100), p)
    val got = mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-versioned").load(p)
      .where(col("id") > 90) // pushed into the batch scan
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    try {
      q.processAllAvailable()
      VersionedTable.append(rows(101, 110), p) // in range
      VersionedTable.append(rows(-50, -41), p) // stats-provably out of range
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) == (91L to 110L).toSet)
    } finally q.stop()
  }

  test("restart resumes from the checkpointed version — no re-delivery") {
    val p = tmp("restart")
    val ckpt = Files.createTempDirectory("graft-vstream-ckpt").toString
    VersionedTable.overwrite(rows(1, 5), p)
    val first = mutable.ArrayBuffer.empty[Long]
    val q1 = spark.readStream.format("graft-versioned").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0))
        first.synchronized { first ++= ids }; ()
      }.start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(first.synchronized(first.toSet) == (1L to 5L).toSet)

    VersionedTable.append(rows(6, 9), p) // lands while the stream is down
    val second = mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream.format("graft-versioned").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0))
        second.synchronized { second ++= ids }; ()
      }.start()
    try { q2.processAllAvailable() } finally q2.stop()
    // only the commit that landed while down — the snapshot is not replayed
    assert(second.synchronized(second.toSet) == (6L to 9L).toSet)
  }

  test("a data rewrite (deleteRange) fails the stream loudly") {
    val p = tmp("rewrite")
    VersionedTable.overwrite(rows(1, 10), p)
    val q = spark.readStream.format("graft-versioned").load(p)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) => b.count(); () }.start()
    try {
      q.processAllAvailable()
      VersionedTable.deleteRange(p, "id", 3L, 5L)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("rewrote data") ||
        Option(e.getCause).exists(_.getMessage.contains("rewrote data")))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger drains a commit backlog in capped batches, across restart") {
    val p = tmp("ratelimit")
    val ckpt = Files.createTempDirectory("graft-vstream-rate-ckpt").toString
    VersionedTable.overwrite(rows(0, 9), p)
    (1 to 6).foreach(k => VersionedTable.append(rows(k * 10, k * 10 + 9), p)) // backlog: 7 versions
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    def start() = spark.readStream.format("graft-versioned")
      .option("maxVersionsPerTrigger", "2").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSet
        batches.synchronized { batches += ids }; ()
      }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // initial snapshot (v7's full content is NOT what a fresh stream sees:
    // the first batch is the snapshot at the OFFERED offset, here the tip
    // since no base exists yet; every later trigger advances <= 2 versions)
    val afterFirst = batches.synchronized(batches.toList)
    assert(afterFirst.flatten.toSet == (0L to 69L).toSet)
    // append 6 more while the stream is DOWN — the restart backlog
    (7 to 12).foreach(k => VersionedTable.append(rows(k * 10, k * 10 + 9), p))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val tail = batches.synchronized(batches.toList).drop(afterFirst.size)
    assert(tail.flatten.toSet == (70L to 129L).toSet)
    // capped: 6 backlog versions drained in >= 3 batches of <= 2 versions
    // (20 rows) each — never one giant catch-up batch
    assert(tail.size >= 3, s"backlog drained in ${tail.size} batches: $tail")
    assert(tail.forall(_.size <= 20), s"a batch exceeded 2 versions: ${tail.map(_.size)}")
  }

  test("mid-stream schema evolution fails loudly; restart resumes with the widened schema") {
    import spark.implicits._
    val p = tmp("evolvestream")
    val ckpt = Files.createTempDirectory("graft-vstream-evo-ckpt").toString
    VersionedTable.overwrite(rows(1, 3), p)
    val cols = mutable.ArrayBuffer.empty[Set[String]]
    def start() = spark.readStream.format("graft-versioned").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val c = b.columns.toSet; b.count()
        cols.synchronized { cols += c }; ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      VersionedTable.append(
        Seq((10L, "x", 7L)).toDF("id", "v", "extra").repartition(1), p)
      val e = intercept[StreamingQueryException] { q1.processAllAvailable() }
      assert(e.toString.contains("evolved mid-stream") ||
        Option(e.getCause).exists(_.getMessage.contains("evolved mid-stream")))
    } finally q1.stop()
    // restart re-pins the widened schema and delivers the evolved commit
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(cols.synchronized(cols.last) == Set("id", "v", "extra"))
  }

  test("df.write.format(graft-versioned) honors every SaveMode") {
    val p = tmp("write")
    rows(1, 5).write.format("graft-versioned").save(p)   // ErrorIfExists default
    assert(VersionedTable.versions(p).map(_.seq) == Seq(1))
    intercept[IllegalStateException] {
      rows(1, 5).write.format("graft-versioned").save(p)
    }
    rows(6, 8).write.format("graft-versioned").mode("append").save(p)
    rows(9, 9).write.format("graft-versioned").mode("ignore").save(p) // no-op
    assert(VersionedTable.read(p).count() == 8)
    rows(10, 12).write.format("graft-versioned").mode("overwrite").save(p)
    assert(VersionedTable.read(p).select("id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L, 12L))
    assert(VersionedTable.versions(p).map(_.seq) == Seq(1, 2, 3)) // ignore committed nothing
  }

  test("writeStream.format(graft-versioned) is an exactly-once sink") {
    val src = tmp("sinksrc")
    val dst = tmp("sinkdst")
    val ckpt = Files.createTempDirectory("graft-vsink-ckpt").toString
    VersionedTable.overwrite(rows(1, 10), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft-versioned").load(src)
        .writeStream.format("graft-versioned")
        .option("checkpointLocation", ckpt).option("txnAppId", "vsink_spec")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    VersionedTable.append(rows(11, 20), src)
    run()
    assert(VersionedTable.read(dst).select("id").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet)
    // a full replay against the same checkpoint commits nothing new
    val sid = VersionedTable.versions(dst).last.snapshotId
    run()
    assert(VersionedTable.versions(dst).last.snapshotId == sid)
  }

  test("source -> sink composition is exactly-once table-to-table") {
    val p = tmp("src")
    val out = tmp("dst")
    val ckpt = Files.createTempDirectory("graft-vstream-e2e-ckpt").toString
    VersionedTable.overwrite(rows(1, 10), p)
    def run(): Unit = {
      val stream = spark.readStream.format("graft-versioned").load(p)
        .withColumn("doubled", col("id") * 2)
      val q = stream.writeStream.format("graft-versioned")
        .option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    VersionedTable.append(rows(11, 30), p)
    run() // restart: resumes mid-table, appends only the new commit
    val got = VersionedTable.read(out).orderBy("id")
      .select("id", "doubled").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 30L).map(i => (i, i * 2)))
    // replaying the whole second run against the same checkpoint is a no-op
    val sidBefore = VersionedTable.versions(out).last.snapshotId
    run()
    assert(VersionedTable.versions(out).last.snapshotId == sidBefore)
  }
}
