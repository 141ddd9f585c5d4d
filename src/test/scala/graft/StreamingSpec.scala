package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.TranscriptGen

class StreamingSpec extends SparkSpec {

  test("exactly-once sink: restart resumes, crash-replay deduplicates") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import graft.streaming.VersionedTableProvider
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-vsink")
    val table = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    val stream = MemoryStream[graft.model.Turn]
    def start() = stream.toDS().writeStream.format("graft-versioned")
      .option("checkpointLocation", ckpt).start(table)
    val q1 = start()
    try {
      stream.addData(TranscriptGen.turnsFor(0L, 42L, 0, 0))
      q1.processAllAvailable()
    } finally q1.stop()
    val n0 = TranscriptGen.turnsFor(0L, 42L, 0, 0).size
    assert(VersionedTable.read(table).count() == n0)

    // the crash window: sink committed batch 0, checkpoint didn't — on
    // restart Spark re-delivers batch 0 verbatim; the txn ledger absorbs
    // it (the replay carries the same namespace: the checkpoint-persisted
    // query id, which a restart from the same checkpoint preserves)
    val ns = VersionedTableProvider.checkpointTxnNamespace(spark, ckpt)
    assert(ns != ckpt, "query id not resolved from the checkpoint metadata")
    val replayed = VersionedTable.appendOnce(
      TranscriptGen.turnsFor(0L, 42L, 0, 0).toDF(), table, s"$ns#0")._2
    assert(!replayed, "replayed batch 0 was committed twice")
    assert(VersionedTable.read(table).count() == n0)

    // restart from the same checkpoint: only NEW data lands, exactly once
    val q2 = start()
    try {
      stream.addData(TranscriptGen.turnsFor(1L, 42L, 0, 0))
      q2.processAllAvailable()
    } finally q2.stop()
    val n1 = TranscriptGen.turnsFor(1L, 42L, 0, 0).size
    val all = VersionedTable.read(table)
    assert(all.count() == n0 + n1)
    assert(all.select("conv_id").distinct().count() == 2)
    // every row exactly once: per-(conv, turn) multiplicity is 1
    assert(all.groupBy("conv_id", "turn_idx").count()
      .where($"count" > 1).count() == 0)
    // the accreted micro-batch groups fold back losslessly
    val pre = VersionedTable.versions(table).last
    val c = VersionedTable.compact(table)
    assert(c.dirs.size == 1 && c.snapshotId == pre.snapshotId)

    // checkpoint RESET: batchIds restart at 0, and the fresh checkpoint
    // mints a fresh query id — so the restarted batch 0, carrying NEW
    // data, must LAND, not be swallowed as a replay of the old batch 0
    // (the failure a name- or path-keyed txn namespace would cause)
    {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val q3 = start()
    try {
      stream.addData(TranscriptGen.turnsFor(2L, 42L, 0, 0))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(VersionedTableProvider.checkpointTxnNamespace(spark, ckpt) != ns,
      "checkpoint reset must mint a fresh txn namespace")
    assert(VersionedTable.read(table)
      .select("conv_id").distinct().count() == 3)
  }
}
