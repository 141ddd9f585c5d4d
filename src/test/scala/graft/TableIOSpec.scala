package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableIO

/** Iceberg-semantics-on-parquet pins: deterministic snapshot ids under
  * re-run, partition-scoped (dynamic) overwrite that leaves untouched
  * partitions intact, and the JDBC sink round-tripping through embedded
  * Derby.
  */
class TableIOSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-tableio-$name").resolve("t").toString

  test("re-running the same write reproduces the same snapshot id and content") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
    val p = tmp("idempotent")
    val s1 = TableIO.writeSnapshot(df, p, "s_test")
    val s2 = TableIO.writeSnapshot(df, p, "s_test")
    assert(s1 == s2)
    assert(TableIO.readSnapshotId(p).contains(s2))
    assert(spark.read.parquet(p).count() == 100)
    // snapshot id is content-derived: different content -> different id
    val s3 = TableIO.writeSnapshot(df.filter(col("id") =!= 50), p, "s_test")
    assert(s3 != s1)
    // multiplicity-sensitive: duplicating every row must change the id
    // (an xor fold would cancel even-multiplicity rows to the same id)
    val s4 = TableIO.writeSnapshot(df.union(df), p, "s_test")
    assert(s4 != s1)
  }

  test("partitioned write replaces only the partitions present in the frame") {
    import spark.implicits._
    val p = tmp("dynpart")
    val full = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("b", 11L)).toDF("part", "v")
    TableIO.writeSnapshot(full, p, "s_test", partitionBy = Seq("part"))
    // rewrite ONLY partition a with new content; b must survive untouched
    val onlyA = Seq(("a", 99L)).toDF("part", "v")
    TableIO.writeSnapshot(onlyA, p, "s_test", partitionBy = Seq("part"))
    val back = spark.read.parquet(p).as[(Long, String)].collect()
      .map { case (v, part) => (part, v) }.toSet
    assert(back == Set(("a", 99L), ("b", 10L), ("b", 11L)))
  }

  test("mergeNewKeys: two incremental runs == one full run, same snapshot id; re-merge is a no-op") {
    import spark.implicits._
    val triples = (1L to 60L).flatMap(i =>
      Seq((s"conv-$i", "job_title", s"t$i"), (s"conv-$i", "sector", s"s${i % 5}")))
      .toDF("subj", "pred", "obj")
    // one-shot full write
    val pFull = tmp("merge-full")
    val sidFull = TableIO.writeSnapshot(triples, pFull, "s6", partitionBy = Seq("pred"))
    // incremental: first half, then the WHOLE frame (old subjects must be
    // anti-joined away, new ones appended)
    val pInc = tmp("merge-inc")
    val firstHalf = triples.filter(substring_index(col("subj"), "-", -1).cast("long") <= 30)
    TableIO.mergeNewKeys(firstHalf, pInc, Seq("subj"), "s6", partitionBy = Seq("pred"))
    val sidInc = TableIO.mergeNewKeys(triples, pInc, Seq("subj"), "s6", partitionBy = Seq("pred"))
    assert(sidInc == sidFull, "incremental content must equal the one-shot write")
    assert(spark.read.parquet(pInc).count() == 120)
    // idempotence: merging the same frame again appends nothing
    val sidAgain = TableIO.mergeNewKeys(triples, pInc, Seq("subj"), "s6", partitionBy = Seq("pred"))
    assert(sidAgain == sidInc)
    assert(spark.read.parquet(pInc).count() == 120)
    // null keys must be idempotent too (the join is null-SAFE; a plain
    // equality anti-join would re-append the null-key row every run)
    val withNull = triples.union(
      Seq((null: String, "job_title", "orphan")).toDF("subj", "pred", "obj"))
    TableIO.mergeNewKeys(withNull, pInc, Seq("subj"), "s6", partitionBy = Seq("pred"))
    val sidNull2 = TableIO.mergeNewKeys(withNull, pInc, Seq("subj"), "s6", partitionBy = Seq("pred"))
    assert(spark.read.parquet(pInc).count() == 121, "null-key row appended exactly once")
    assert(TableIO.mergeNewKeys(withNull, pInc, Seq("subj"), "s6",
      partitionBy = Seq("pred")) == sidNull2)
    // the O(batch) incremental id must equal a from-scratch full-table
    // hash after any number of merges (additive mod-2^64 content sum)
    assert(sidNull2 == TableIO.snapshotId(spark.read.parquet(pInc)),
      "incremental snapshot id diverged from the full recompute")
  }

  test("versioned table: overwrite/append commits, time travel, backup-swap read, expire") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned")
    val v1 = VersionedTable.overwrite((1L to 50L).toDF("id"), table)
    val v2 = VersionedTable.overwrite((100L to 120L).toDF("id"), table)
    val v3 = VersionedTable.append((200L to 209L).toDF("id"), table)
    assert(Seq(v1.seq, v2.seq, v3.seq) == Seq(1, 2, 3))
    // latest = v2's overwrite + v3's append
    assert(VersionedTable.read(table).as[Long].collect().sorted.toSeq ==
      ((100L to 120L) ++ (200L to 209L)).sorted)
    // time travel: every retained version reads exactly as committed
    assert(VersionedTable.readAsOf(table, 1).count() == 50)
    assert(VersionedTable.readAsOf(table, 2).as[Long].collect().sorted.toSeq ==
      (100L to 120L).toSeq)
    // the reference's backup-table dance = readAsOf(current - 1)
    val cur = VersionedTable.versions(table).last.seq
    assert(VersionedTable.readAsOf(table, cur - 1).count() == 21)
    // content snapshot ids are deterministic: re-committing v1's content
    // reproduces v1's snapshot id under a new seq
    val v4 = VersionedTable.overwrite((1L to 50L).toDF("id"), table)
    assert(v4.snapshotId == v1.snapshotId)
    // keep=0 would destroy the table including its tip — refused at the API
    intercept[IllegalArgumentException](VersionedTable.expire(table, keep = 0))
    // expire keeps the newest 2, deletes unreferenced dirs, kills v1 reads
    val deleted = VersionedTable.expire(table, keep = 2)
    assert(deleted.nonEmpty)
    assert(VersionedTable.versions(table).map(_.seq) == Seq(3, 4))
    intercept[IllegalArgumentException](VersionedTable.readAsOf(table, 1))
    // v3 (retained) must still read fully — its dirs survived the expire
    assert(VersionedTable.readAsOf(table, 3).count() == 31)
    // a torn manifest tail (crash mid-append) is an UNCOMMITTED version:
    // it must be skipped, never brick reads of committed versions
    val mf = java.nio.file.Paths.get(table, "_graft_manifest.jsonl")
    Files.writeString(mf, "{\"seq\":9,\"snap",
      java.nio.file.StandardOpenOption.APPEND)
    assert(VersionedTable.versions(table).map(_.seq) == Seq(3, 4))
    assert(VersionedTable.read(table).count() == 50)
  }

  test("versioned table: manifest column stats prune file groups; compact folds them") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_stats")
    // three appends = three file groups with disjoint id ranges + conv prefixes
    VersionedTable.overwrite(
      (1L to 100L).map(i => (i, f"conv-a$i%04d")).toDF("id", "conv_id"), table)
    VersionedTable.append(
      (1000L to 1100L).map(i => (i, f"conv-b$i%04d")).toDF("id", "conv_id"), table)
    VersionedTable.append(
      (5000L to 5100L).map(i => (i, f"conv-c$i%04d")).toDF("id", "conv_id"), table)
    val cur = VersionedTable.versions(table).last
    assert(cur.dirs.size == 3)
    // numeric range hits only the middle group: 2 of 3 dirs skipped
    val (keepN, skipN) = VersionedTable.pruneDirs(table, cur, "id", 1000L, 1100L)
    assert(keepN.size == 1 && skipN.size == 2)
    assert(VersionedTable.readRange(table, "id", 1000L, 1100L).count() == 101)
    // string range on conv_id prunes lexicographically
    val (keepS, skipS) = VersionedTable.pruneDirs(table, cur, "conv_id", "conv-c", "conv-d")
    assert(keepS.size == 1 && skipS.size == 2)
    assert(VersionedTable.readRange(table, "conv_id", "conv-c", "conv-d").count() == 101)
    // a range matching nothing opens zero groups and returns empty w/ schema
    val (keep0, _) = VersionedTable.pruneDirs(table, cur, "id", 7000L, 8000L)
    assert(keep0.isEmpty)
    val empty = VersionedTable.readRange(table, "id", 7000L, 8000L)
    assert(empty.columns.toSeq == Seq("id", "conv_id") && empty.count() == 0)
    // pruned read == full-scan filter (the correctness invariant of skipping)
    assert(VersionedTable.readRange(table, "id", 50L, 1050L).as[(Long, String)].collect().sorted.toSeq ==
      VersionedTable.read(table).where($"id".between(50L, 1050L)).as[(Long, String)].collect().sorted.toSeq)
    // compact: 3 groups -> 1, content-identical (same snapshot id), new version
    val compacted = VersionedTable.compact(table)
    assert(compacted.dirs.size == 1 && compacted.snapshotId == cur.snapshotId)
    assert(compacted.seq == cur.seq + 1)
    assert(VersionedTable.read(table).count() == 302)
    // old multi-group version still time-travelable until expire
    assert(VersionedTable.readAsOf(table, cur.seq).count() == 302)
    // stats were rewritten for the compacted group: pruning still exact
    assert(VersionedTable.readRange(table, "id", 1000L, 1100L).count() == 101)
    // compacting a single-group version is a no-op (no new commit)
    assert(VersionedTable.compact(table).seq == compacted.seq)
    // vacuum: a crashed writer's dir (data on disk, no manifest line) is
    // an orphan — deleted; every committed dir survives and still reads
    val orphan = java.nio.file.Paths.get(table, "data/v99-deadbeef")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-stray.parquet"), "not-committed")
    // the default older_than threshold protects an IN-FLIGHT writer's
    // still-young dir: a fresh orphan is NOT deleted
    assert(VersionedTable.vacuum(table).isEmpty)
    assert(Files.exists(orphan))
    // past the threshold it is debris — deleted, committed dirs untouched
    val vacuumed = VersionedTable.vacuum(table, olderThanMillis = 0L)
    assert(vacuumed == Seq("data/v99-deadbeef") && !Files.exists(orphan))
    assert(VersionedTable.read(table).count() == 302)
    assert(VersionedTable.vacuum(table, olderThanMillis = 0L).isEmpty) // idempotent
    // string pruning orders by UTF-8 bytes, not UTF-16 code units: a
    // supplementary-plane max (U+10000) must still satisfy range queries
    // at ￿ (Java compareTo would rank it BELOW and skip the group)
    val utable = tmp("versioned_utf8")
    VersionedTable.overwrite(
      Seq(("￿", 1L), ("𐀀", 2L)).toDF("k", "n"), utable)
    val ucur = VersionedTable.versions(utable).last
    val (ukeep, _) = VersionedTable.pruneDirs(utable, ucur, "k", "￿", "￿")
    assert(ukeep.size == 1, "UTF-8-ordered stats wrongly skipped the group")
    assert(VersionedTable.readRange(utable, "k", "￿", "￿").count() == 1)
  }

  test("versioned table: concurrent appends serialize losslessly; schema evolves on read") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = tmp("versioned_conc")
    VersionedTable.overwrite(Seq((0L, "seed")).toDF("id", "src"), table)
    // 6 appenders race the commit lock: every version must be present with
    // distinct consecutive seqs and NO appended dir lost to the classic
    // read-base-outside-the-lock race
    val fs = (1 to 6).map(i => Future {
      VersionedTable.append(Seq((i.toLong, s"writer-$i")).toDF("id", "src"), table)
    })
    Await.result(Future.sequence(fs), 5.minutes)
    val vs = VersionedTable.versions(table)
    assert(vs.map(_.seq) == (1 to 7))
    assert(vs.last.dirs.size == 7, "an appended file group was lost to a race")
    assert(VersionedTable.read(table).count() == 7)
    // the racing appends' additive snapshot id == a full recompute
    assert(vs.last.snapshotId ==
      graft.sources.TableIO.snapshotId(VersionedTable.read(table)))
    // schema evolution: an append carrying a NEW column surfaces it on
    // read, nulled for pre-evolution rows
    VersionedTable.append(Seq((100L, "writer-x", 0.9)).toDF("id", "src", "score"), table)
    val evolved = VersionedTable.read(table)
    assert(evolved.columns.toSet == Set("id", "src", "score"))
    assert(evolved.where($"score".isNull).count() == 7)
    assert(evolved.where($"score" === 0.9).count() == 1)
    // a pruned range read presents the SAME schema as the full read even
    // when the evolved column lives only in skipped groups (widened from
    // the sidecar union schema, no footer reads)...
    val preEvo = VersionedTable.readRange(table, "id", 0L, 6L)
    assert(preEvo.columns.toSet == Set("id", "src", "score"))
    assert(preEvo.count() == 7 && preEvo.where($"score".isNull).count() == 7)
    // ...including the nothing-matches case (zero groups opened)
    val none = VersionedTable.readRange(table, "id", 999L, 1000L)
    assert(none.columns.toSet == Set("id", "src", "score") && none.count() == 0)
    // compacting the schema-evolved version passes the content-identity
    // gate (xxhash64 skips null fields, so null-widened rows hash the
    // same) and doubles as schema normalization: one group, full schema
    val pre = VersionedTable.versions(table).last
    val c = VersionedTable.compact(table)
    assert(c.snapshotId == pre.snapshotId && c.dirs.size == 1)
    val compacted = VersionedTable.read(table)
    assert(compacted.columns.toSet == Set("id", "src", "score"))
    assert(compacted.count() == 8 && compacted.where($"score".isNull).count() == 7)
  }

  test("versioned table: copy-on-write deleteRange touches only intersecting groups") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_del")
    // three disjoint-range groups + a null-id row in the first group
    VersionedTable.overwrite(
      ((1L to 100L).map(i => (Some(i), s"a$i")) :+ ((None: Option[Long], "null-row")))
        .toDF("id", "v"), table)
    VersionedTable.append((1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "v"), table)
    VersionedTable.append((5000L to 5100L).map(i => (i, s"c$i")).toDF("id", "v"), table)
    val pre = VersionedTable.versions(table).last
    assert(pre.dirs.size == 3)

    // delete the middle group's range: groups 1 and 3 must carry over BY
    // REFERENCE (same dir names — zero rewrite IO), group 2 rewritten
    val v = VersionedTable.deleteRange(table, "id", 1000L, 1050L)
    assert(v.dirs.size == 3)
    assert(v.dirs.count(pre.dirs.contains) == 2, "an untouched group was rewritten")
    val after = VersionedTable.read(table)
    assert(after.count() == 202 + 50) // 303 - 51 deleted
    assert(after.where($"id".between(1000L, 1050L)).count() == 0)
    // NULL rows never match a BETWEEN — kept
    assert(after.where($"id".isNull).count() == 1)
    // additive snapshot id == full recompute
    assert(v.snapshotId == TableIO.snapshotId(after))
    // pre-delete version still time-travels
    assert(VersionedTable.readAsOf(table, pre.seq).count() == 303)

    // a range the stats prove absent: NO new commit at all
    val noop = VersionedTable.deleteRange(table, "id", 90000L, 99000L)
    assert(noop.seq == v.seq)

    // delete EVERYTHING: schema survives via the schema-carrying empty group
    val all = VersionedTable.deleteRange(table, "id", 0L, 10000L)
    val emptied = VersionedTable.read(table)
    // the null-id row survives a full-range delete too (BETWEEN is null)
    assert(emptied.count() == 1 && emptied.columns.toSeq == Seq("id", "v"))
    val wiped = VersionedTable.deleteRange(table, "v", "a", "z")
    assert(wiped.seq == all.seq + 1)
    val gone = VersionedTable.read(table)
    assert(gone.count() == 0 && gone.columns.toSeq == Seq("id", "v"))
    // the emptied table still accepts appends
    VersionedTable.append(Seq((7L, "fresh")).toDF("id", "v"), table)
    assert(VersionedTable.read(table).count() == 1)
  }

  test("versioned table: merge upserts through the pruned groups only") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_merge")
    VersionedTable.overwrite((1L to 100L).map(i => (i, s"old$i")).toDF("id", "v"), table)
    VersionedTable.append((1000L to 1100L).map(i => (i, s"old$i")).toDF("id", "v"), table)
    VersionedTable.append(
      ((5000L to 5100L).map(i => (Some(i), s"old$i")) :+ ((None: Option[Long], "null-key")))
        .toDF("id", "v"), table)
    val pre = VersionedTable.versions(table).last

    // batch: update 5000-5010, insert 6000-6005 and one null-key row —
    // key range [5000, 6005] intersects ONLY the third group
    val batch = ((5000L to 5010L).map(i => (Some(i), s"new$i")) ++
      (6000L to 6005L).map(i => (Some(i), s"ins$i")) :+
      ((None: Option[Long], "null-insert"))).toDF("id", "v")
    val v = VersionedTable.merge(batch, table, "id")
    assert(v.dirs.count(pre.dirs.contains) == 2, "a non-intersecting group was rewritten")
    val after = VersionedTable.read(table)
    // 303 original + 6 inserts + 1 null insert (11 updates replace in place)
    assert(after.count() == 310)
    assert(after.where($"v".startsWith("new")).count() == 11)
    assert(after.where($"id".between(5000L, 5010L) && $"v".startsWith("old")).count() == 0)
    assert(after.where($"v" === "ins6003").count() == 1)
    // table's null-key row survived; batch's null-key row inserted
    assert(after.where($"id".isNull).count() == 2)
    assert(v.snapshotId == TableIO.snapshotId(after))
    // pre-merge version intact
    assert(VersionedTable.readAsOf(table, pre.seq).where($"v".startsWith("new")).count() == 0)
    // empty batch: no-op, no commit
    assert(VersionedTable.merge(batch.where(lit(false)), table, "id").seq == v.seq)
    // re-merging the keyed rows is content-idempotent (same snapshot id);
    // the null-key row is excluded — null keys INSERT by contract, so
    // replaying one duplicates it (exactly-once replay is appendOnce's job)
    assert(VersionedTable.merge(batch.where($"id".isNotNull), table, "id")
      .snapshotId == v.snapshotId)
  }

  test("versioned table: deleteRange carries a group whose schema lacks the column") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_del_schema")
    // the base group predates the `score` column: merged reads surface it
    // as null there, and a BETWEEN never matches null
    VersionedTable.overwrite((1L to 50L).map(i => (i, s"a$i")).toDF("id", "v"), table)
    VersionedTable.append(
      (51L to 100L).map(i => (i, s"b$i", i * 10L)).toDF("id", "v", "score"), table)
    val pre = VersionedTable.versions(table).last
    val (lo, hi) = (600L, 800L)
    val expected = VersionedTable.read(table)
      .where($"score".isNull || !$"score".between(lo, hi))
      .select("id", "v", "score").as[(Long, String, Option[Long])].collect().sorted.toSeq
    val v = VersionedTable.deleteRange(table, "score", lo, hi)
    assert(v.dirs.size == 2 && v.dirs.head == pre.dirs.head,
      s"the score-less group was rewritten: ${pre.dirs} -> ${v.dirs}")
    assert(!v.dirs.contains(pre.dirs(1)), "the intersecting group was not rewritten")
    val after = VersionedTable.read(table)
    assert(after.select("id", "v", "score").as[(Long, String, Option[Long])]
      .collect().sorted.toSeq == expected)
    assert(expected.size == 79) // 100 rows - scores 600..800
    assert(v.snapshotId == TableIO.snapshotId(after))
  }

  test("versioned table: deleteRange with timestamp bounds rewrites only the window it covers") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import java.sql.Timestamp
    val table = tmp("versioned_del_time")
    def window(month: Int, tag: String) = (1 to 20).map { d =>
      (s"$tag$d", Option(Timestamp.valueOf(f"2024-$month%02d-$d%02d 12:00:00")))
    }
    // three disjoint monthly windows, plus a null-ts row in the middle one
    VersionedTable.overwrite(window(1, "jan").toDF("id", "ts"), table)
    VersionedTable.append(
      (window(2, "feb") :+ (("feb-null", Option.empty[Timestamp]))).toDF("id", "ts"), table)
    VersionedTable.append(window(3, "mar").toDF("id", "ts"), table)
    val pre = VersionedTable.versions(table).last
    assert(pre.dirs.size == 3)
    val (lo, hi) = (Timestamp.valueOf("2024-02-05 00:00:00"),
      Timestamp.valueOf("2024-02-10 23:59:59"))
    val expected = VersionedTable.read(table)
      .where($"ts".isNull || !$"ts".between(lo, hi))
      .select("id", "ts").as[(String, Option[Timestamp])].collect().sortBy(_._1).toSeq
    val v = VersionedTable.deleteRange(table, "ts", lo, hi)
    assert(v.dirs.count(pre.dirs.contains) == 2 &&
      v.dirs.contains(pre.dirs(0)) && v.dirs.contains(pre.dirs(2)),
      s"a window the bounds miss was rewritten: ${pre.dirs} -> ${v.dirs}")
    val after = VersionedTable.read(table)
    assert(after.select("id", "ts").as[(String, Option[Timestamp])]
      .collect().sortBy(_._1).toSeq == expected)
    assert(expected.size == 61 - 6)
    assert(v.snapshotId == TableIO.snapshotId(after))
  }

  test("versioned table: a rewrite commit against a stale read version refuses") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_conflict")
    VersionedTable.overwrite((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"), table)
    val cur = VersionedTable.versions(table).last
    // a commit lands between the op's read of `cur` and its commit
    VersionedTable.append((11L to 20L).map(i => (i, s"r$i")).toDF("id", "v"), table)
    val tip = VersionedTable.versions(table).last
    val e = intercept[IllegalStateException](
      VersionedTable.commitRewrite(table, cur, "compaction")(cur.dirs, cur.snapshotId))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(VersionedTable.versions(table).last == tip)
    assert(VersionedTable.read(table).as[(Long, String)].collect().sorted.toSeq ==
      (1L to 20L).map(i => (i, s"r$i")))
  }

  test("versioned table: appendOnce is exactly-once per txn key") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_txn")
    val (v1, did1) = VersionedTable.appendOnce((1L to 10L).toDF("id"), table, "sink#0")
    assert(did1 && v1.seq == 1)
    // the crash-replay delivery: same txn, same (or any) data — NO-OP
    val (v2, did2) = VersionedTable.appendOnce((1L to 10L).toDF("id"), table, "sink#0")
    assert(!did2 && v2.seq == 1)
    assert(VersionedTable.versions(table).size == 1)
    assert(VersionedTable.read(table).count() == 10)
    // the replayed writer's data dir was released, not leaked
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(table, "data"))
    val nDirs = try dataDirs.count() finally dataDirs.close()
    assert(nDirs == 1, "a replayed append leaked its orphan dir")
    // next batch commits normally and the ledger remembers both
    val (v3, did3) = VersionedTable.appendOnce((11L to 15L).toDF("id"), table, "sink#1")
    assert(did3 && v3.seq == 2 && VersionedTable.read(table).count() == 15)
    assert(VersionedTable.committedTxns(table) == Set("sink#0", "sink#1"))
    assert(v3.snapshotId == TableIO.snapshotId(VersionedTable.read(table)))
  }

  test("versioned table: expire preserves the exactly-once txn ledger") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_txn_expire")
    VersionedTable.appendOnce((1L to 5L).toDF("id"), table, "sink#0")
    VersionedTable.appendOnce((6L to 10L).toDF("id"), table, "sink#1")
    VersionedTable.appendOnce((11L to 15L).toDF("id"), table, "sink#2")
    // retention drops v1/v2 — their txn keys move to the sidecar ledger;
    // the retained v3's key stays inline on its verbatim manifest line.
    // (expire returns DELETED dirs; append-accreted versions share every
    // dir with the retained head, so nothing is deletable here — the
    // manifest truncation is what we assert)
    VersionedTable.expire(table, keep = 1)
    assert(VersionedTable.versions(table).map(_.seq) == Seq(3))
    assert(VersionedTable.committedTxns(table) == Set("sink#0", "sink#1", "sink#2"))
    // the crash-replay window AFTER a retention pass: every old batch
    // must still no-op — this is exactly where a re-rendered manifest
    // (or a dropped ledger) would silently duplicate rows
    for (t <- Seq("sink#0", "sink#1", "sink#2")) {
      val (_, did) = VersionedTable.appendOnce((1L to 5L).toDF("id"), table, t)
      assert(!did, s"replayed $t committed after expire")
    }
    assert(VersionedTable.read(table).count() == 15)
    // a second expire with nothing to drop leaves the ledger intact
    assert(VersionedTable.expire(table, keep = 1).isEmpty)
    assert(VersionedTable.committedTxns(table) == Set("sink#0", "sink#1", "sink#2"))
    // and genuinely new txns still commit
    val (_, did) = VersionedTable.appendOnce((16L to 20L).toDF("id"), table, "sink#3")
    assert(did && VersionedTable.read(table).count() == 20)
  }

  test("versioned table: sorted rewrite makes range pruning exact") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_sorted_rewrite")
    // three mod-3 slices: every file group spans the FULL key range, so
    // before the rewrite the manifest stats can skip nothing
    def slice(k: Long) =
      (1L to 999L).filter(_ % 3 == k).map(i => (Option(i), s"row$i")).toDF("k", "v")
    VersionedTable.overwrite(slice(0), table)
    VersionedTable.append(slice(1), table)
    VersionedTable.append(slice(2), table)
    // plus null-key rows: BETWEEN never matches them but they must survive
    VersionedTable.append(
      Seq((Option.empty[Long], "null1"), (Option.empty[Long], "null2")).toDF("k", "v"), table)
    val before = VersionedTable.versions(table).last
    val (keepB, skipB) = VersionedTable.pruneDirs(table, before, "k", 500L, 500L)
    assert(keepB.size == 3 && skipB.size == 1, // only the all-null group skips
      s"interleaved groups should all overlap: kept=$keepB skipped=$skipB")

    // the reserved staging column name fails fast, BEFORE the rewrite IO
    locally {
      val clash = java.nio.file.Files.createTempDirectory("graft-gclash")
        .resolve("t").toString
      VersionedTable.overwrite(Seq((1L, 2L)).toDF("k", "_g"), clash)
      val e = intercept[IllegalArgumentException](
        VersionedTable.rewriteSorted(clash, "k"))
      assert(e.getMessage.contains("_g"))
    }

    val after = VersionedTable.rewriteSorted(table, "k", targetGroups = 4)
    // content identity: same rows, same content snapshot id
    assert(after.snapshotId == before.snapshotId)
    assert(VersionedTable.read(table).count() == 1001)
    assert(VersionedTable.read(table).where(col("k").isNull).count() == 2)
    // range-disjoint groups: a single dense key now lives in EXACTLY one
    val (keepA, skipA) = VersionedTable.pruneDirs(table, after, "k", 500L, 500L)
    assert(keepA.size == 1 && skipA.size == after.dirs.size - 1,
      s"sorted rewrite should isolate one group: kept=$keepA of ${after.dirs.size}")
    // pruned read == exact filter
    val got = VersionedTable.readRange(table, "k", 100L, 200L)
      .select("k", "v").as[(Long, String)].collect().toSet
    val want = (100L to 200L).map(i => (i, s"row$i")).toSet
    assert(got == want)
    // the rewrite is a commit, not a rewrite of history: time travel to the
    // pre-rewrite version still reads the accreted layout
    assert(VersionedTable.readAsOf(table, before.seq).count() == 1001)
  }

  test("versioned table: full lifecycle — stream-accrete, compact, replay, sorted rewrite, narrow delete, merge, expire, vacuum") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = tmp("versioned_lifecycle")

    // -- stream accretion: 8 exactly-once micro-batches of INTERLEAVED keys
    // (id % 8) — the arrival-order layout real streaming ingest produces,
    // where every file group spans the full key range — plus one null-key row
    def batch(g: Long) = (0L until 800L).filter(_ % 8 == g)
      .map(i => (Option(i), s"v$i")).toDF("id", "v")
    for (g <- 0L until 8L) {
      val (_, did) = VersionedTable.appendOnce(batch(g), table, s"stream#$g")
      assert(did, s"batch $g should commit")
    }
    VersionedTable.appendOnce(
      Seq((Option.empty[Long], "null-row")).toDF("id", "v"), table, "stream#8")
    // a crash replay mid-stream no-ops
    assert(!VersionedTable.appendOnce(batch(3), table, "stream#3")._2)
    val accreted = VersionedTable.versions(table).last
    assert(accreted.dirs.size == 9)
    // on this layout the stats can skip only the all-null group
    val (keepAcc, _) = VersionedTable.pruneDirs(table, accreted, "id", 100L, 120L)
    assert(keepAcc.size == 8, s"accreted layout should keep 8 groups, kept ${keepAcc.size}")

    // -- binpack compaction: content identity gated; the txn ledger
    // survives the rewrite commit, so replays STILL no-op after it
    val compacted = VersionedTable.compact(table, targetGroups = 2)
    assert(compacted.snapshotId == accreted.snapshotId)
    assert(!VersionedTable.appendOnce(batch(5), table, "stream#5")._2,
      "replay committed after compaction")

    // -- sorted rewrite: same content, range-disjoint groups
    val sorted = VersionedTable.rewriteSorted(table, "id", targetGroups = 8)
    assert(sorted.snapshotId == accreted.snapshotId)
    val (keepSorted, _) = VersionedTable.pruneDirs(table, sorted, "id", 100L, 120L)
    assert(keepSorted.size <= 2,
      s"sorted layout should isolate the range, kept ${keepSorted.size}")

    // -- narrow delete: write amplification bounded by the sorted layout —
    // groups outside [100,120] carry over BY REFERENCE
    val del = VersionedTable.deleteRange(table, "id", 100L, 120L)
    assert(del.dirs.count(sorted.dirs.contains) >= sorted.dirs.size - 2,
      "delete rewrote groups outside its key range")

    // -- merge straddling the delete hole: restore one deleted key, insert one
    val merged = VersionedTable.merge(
      Seq((Option(110L), "restored110"), (Option(115L), "new115")).toDF("id", "v"),
      table, "id")
    assert(merged.dirs.count(del.dirs.contains) >= del.dirs.size - 2,
      "merge rewrote groups outside its batch key range")

    // -- independent truth: the final state re-derived in memory
    val expect = (0L until 800L).filterNot(i => i >= 100L && i <= 120L)
      .map(i => (i, s"v$i")).toMap + (110L -> "restored110") + (115L -> "new115")
    val rows = VersionedTable.read(table).as[(Option[Long], String)].collect()
    assert(rows.collect { case (None, v) => v }.toSeq == Seq("null-row"),
      "the null-key row must ride through rewrite/delete/merge untouched")
    assert(rows.collect { case (Some(k), v) => (k, v) }.toMap == expect)
    assert(merged.snapshotId == TableIO.snapshotId(VersionedTable.read(table)))

    // -- history: every stage is still time-travelable pre-expire
    assert(VersionedTable.readAsOf(table, accreted.seq).count() == 801)
    assert(VersionedTable.readAsOf(table, del.seq).count() == 780)

    // -- expire to the head: history gone, exactly-once ledger intact
    VersionedTable.expire(table, keep = 1)
    assert(VersionedTable.versions(table).map(_.seq) == Seq(merged.seq))
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(table, accreted.seq)
    }
    for (g <- 0L until 8L)
      assert(!VersionedTable.appendOnce(batch(g), table, s"stream#$g")._2,
        s"stream#$g replayed as a commit after expire")

    // -- vacuum reclaims a crash orphan without touching referenced data
    val orphan = java.nio.file.Paths.get(table, "data/crashed-writer-leftover")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-0.parquet"), "junk")
    val removed = VersionedTable.vacuum(table, olderThanMillis = -1000L)
    assert(removed == Seq("data/crashed-writer-leftover"))
    val finalRows = VersionedTable.read(table)
    assert(finalRows.count() == 782)
    assert(merged.snapshotId == TableIO.snapshotId(finalRows))
  }

  test("bucketed tables join with no exchange and no sort (J1 co-location)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val turns = (1 to 400).map(i => (s"conv${i % 50}", i, s"text$i")).toDF("conv_id", "turn_idx", "text")
    val facts = (0 until 50).map(i => (s"conv$i", s"title$i")).toDF("conv_id", "title")
    TableIO.writeBucketed(turns, tmp("bk-turns"), "bk_turns", 8, Seq("conv_id"))
    TableIO.writeBucketed(facts, tmp("bk-facts"), "bk_facts", 8, Seq("conv_id"))
    // Disable broadcast for the scope: these tiny sides would otherwise
    // broadcast-hash-join, which contains no exchange/sort REGARDLESS of
    // bucketing — the assertions below would pass with bucketing deleted.
    // The legacy conf makes the scan report the sortBy ordering (buckets
    // are single-file, writeBucketed guarantees it) so the forced SMJ
    // needs no SortExec either.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = spark.conf.getOption(
      "spark.sql.legacy.bucketedTableScan.outputOrdering").getOrElse("false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val joined = spark.table("bk_turns").join(spark.table("bk_facts"), "conv_id")
      assert(joined.count() == 400)
      // the join must be co-located by LAYOUT: no shuffle on either side,
      // and the bucket-local sortBy even removes the merge-join sorts
      val executed = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(executed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bucketed join shuffled:\n$executed")
      assert(executed.collect { case s: SortExec => s }.isEmpty,
        s"bucketed join re-sorted:\n$executed")
      assert(executed.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, s"expected a sort-merge join under broadcast=-1:\n$executed")
      // value parity with the plain (shuffling) join
      val plain = turns.join(facts, "conv_id").orderBy("conv_id", "turn_idx")
      assert(joined.orderBy("conv_id", "turn_idx").collect().toSeq ==
        plain.select(joined.columns.map(col): _*).collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
    }
  }

  test("JDBC sink (S6) round-trips the wide table through embedded Derby") {
    import spark.implicits._
    val wide = Seq(("conv-1", "Data Engineer", "Germany"), ("conv-2", "Nurse", "Poland"))
      .toDF("subj", "job_title", "job_location")
    val url = "jdbc:derby:memory:graftspec;create=true"
    TableIO.writeJdbc(wide, url, "kg_wide", batchSize = 1) // parity knob plumbed
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "kg_wide").load()
      .as[(String, String, String)].collect().toSet
    assert(back == Set(("conv-1", "Data Engineer", "Germany"), ("conv-2", "Nurse", "Poland")))
  }
}
