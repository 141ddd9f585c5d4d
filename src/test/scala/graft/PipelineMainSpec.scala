package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.model.{Triple, Turn}
import graft.operators.ConvExtract

/** The checkpointing driver on the shared session: a full s0→s6 run, a
  * resume from s4 and a resume whose s3 table breaks the clustered layout
  * (so s4 takes the salted path) all land the triples the fused
  * KgPipeline.computeTriples derives from the same s0 table and tagger;
  * `--stream true` lands the same set (orgs through the s5 canonical map)
  * and a re-run against its checkpoint lands nothing; the table-ops modes
  * (`--mor-delete`, `--rollback`, `--maintain`, `--history`) act on the
  * streamed table.
  */
class PipelineMainSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = Files.createTempDirectory("graft-pipeline-main").resolve("kg").toString
    PipelineMain.run(Array("--out", dir, "--convs", "40", "--run-id", "full"))
    dir
  }

  private lazy val fused: Set[Triple] = {
    import spark.implicits._
    val turns = spark.read.parquet(s"$out/s0_transcripts").as[Turn]
    KgPipeline.computeTriples(turns, PipelineMain.loadTagger(s"$out/s2_model"))
      .collect().toSet
  }

  /** A fresh `--out` holding the shared run's s0 and tagger, streamed once
    * with `--from-stage s3 --stream true`.
    */
  private val streamArgs = Array("--from-stage", "s3", "--stream", "true",
    "--run-id", "stream")
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-pipeline-stream").resolve("kg").toString
    Seq("s0_transcripts", "s2_model").foreach { s =>
      FileUtils.copyDirectory(new File(s"$out/$s"), new File(s"$dir/$s"))
    }
    PipelineMain.run(Array("--out", dir) ++ streamArgs)
    dir
  }

  private def landed(dir: String = out): Set[Triple] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/s6_triples").as[Triple].collect().toSet
  }

  private def assertSameTriples(got: Set[Triple], what: String): Unit = {
    val missing = (fused diff got).toSeq.sortBy(t => (t.subj, t.pred)).take(10)
    val extra = (got diff fused).toSeq.sortBy(t => (t.subj, t.pred)).take(10)
    assert(got == fused, s"$what: ${got.size} triples vs fused ${fused.size}; " +
      s"missing $missing; extra $extra")
  }

  test("s0→s6 lands the fused triple set; lineage rows_out sums match each table") {
    import spark.implicits._
    assert(fused.nonEmpty)
    assertSameTriples(landed(), "s6_triples")
    val rowsOut = spark.read.parquet(s"$out/lineage")
      .filter(col("run_id") === "full")
      .groupBy("stage").agg(sum("rows_out"))
      .as[(String, Long)].collect().toMap
    val written = Seq("s0_transcripts", "s1_clean", "s3_extract", "s4_conv",
      "s5_entities", "s6_triples")
    assert(rowsOut.keySet == written.toSet)
    written.foreach { stage =>
      assert(rowsOut(stage) == spark.read.parquet(s"$out/$stage").count(), stage)
    }
  }

  test("a resume from s4 lands the same s6 set") {
    PipelineMain.run(Array("--out", out, "--from-stage", "s4", "--to-stage", "s6",
      "--run-id", "resume"))
    assertSameTriples(landed(), "resume from s4")
  }

  test("s3 rows in random order: s4 falls back to the salted path, same s6 set") {
    val shuffled = Files.createTempDirectory("graft-pipeline-salted").resolve("kg").toString
    spark.read.parquet(s"$out/s3_extract").orderBy(rand(7))
      .write.parquet(s"$shuffled/s3_extract")
    FileUtils.copyDirectory(new File(s"$out/s2_model"), new File(s"$shuffled/s2_model"))
    PipelineMain.run(Array("--out", shuffled, "--from-stage", "s4", "--run-id", "salted"))
    def convs(dir: String): Set[ConvExtract] = {
      import spark.implicits._
      spark.read.parquet(s"$dir/s4_conv").as[ConvExtract].collect().toSet
    }
    assert(convs(shuffled) == convs(out), "salted s4 resolved other conversations")
    assertSameTriples(landed(shuffled), "salted s4")
  }

  test("--stream true lands the fused set table to table; a re-run lands nothing") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = s"$streamDir/s6_stream_triples_v"
    val streamed = VersionedTable.read(table).as[Triple].collect().toSet

    // orgs stream surface-level: cross-conversation canonicalization is
    // s5's, so they equal the fused org triples through its canonical map
    def isOrg(t: Triple) = t.pred == "hiring_organization"
    val (streamedNonOrg, fusedNonOrg) = (streamed.filterNot(isOrg), fused.filterNot(isOrg))
    assert(streamedNonOrg == fusedNonOrg,
      s"non-org triples: only-stream=${(streamedNonOrg diff fusedNonOrg).take(5)} " +
        s"only-fused=${(fusedNonOrg diff streamedNonOrg).take(5)}")
    val canon = spark.read.parquet(s"$out/s5_entities")
      .select("surface", "canonical").as[(String, String)].collect().toMap
    assert(streamed.filter(isOrg).map(t => t.copy(obj = canon.getOrElse(t.obj, t.obj))) ==
      fused.filter(isOrg), "org triples differ after the s5 canonical map")

    // the re-run resumes from the stream checkpoint: nothing lands twice,
    // and with no new turns it appends no second pair of flush sentinels
    val tip = VersionedTable.versions(table).last.snapshotId
    val rows = VersionedTable.read(table).count()
    val inputVersions = VersionedTable.versions(s"$streamDir/s0_turns_v").size
    PipelineMain.run(Array("--out", streamDir) ++ streamArgs)
    assert(VersionedTable.versions(table).last.snapshotId == tip)
    assert(VersionedTable.read(table).count() == rows)
    assert(VersionedTable.versions(s"$streamDir/s0_turns_v").size == inputVersions,
      "the re-run appended flush sentinels again")
  }

  test("table-ops modes on the streamed table: mor-delete, rollback, maintain, history") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val table = Files.createTempDirectory("graft-pipeline-ops").resolve("t").toString
    FileUtils.copyDirectory(new File(s"$streamDir/s6_stream_triples_v"), new File(table))
    def content(): Seq[Triple] = VersionedTable.read(table).as[Triple].collect()
      .toSeq.sortBy(t => (t.subj, t.pred, t.obj))
    val before = content()
    val pre = VersionedTable.versions(table).last
    val conv = before.map(_.subj).distinct.sorted.apply(1)
    val kept = before.filterNot(_.subj == conv)
    assert(kept.size < before.size && kept.nonEmpty)
    val deleteArgs = Array("--mor-delete", table, "--mor-col", "subj", "--mor-values", conv)

    // --mor-delete: one delete file, exactly that conversation's rows gone
    PipelineMain.run(deleteArgs)
    val deleted = VersionedTable.versions(table).last
    assert(deleted.seq == pre.seq + 1 && deleted.dels.size == 1 && deleted.dirs == pre.dirs)
    assert(content() == kept)

    // --rollback to the pre-delete version: its snapshot id and row count
    PipelineMain.run(Array("--rollback", table, "--rollback-to", pre.seq.toString))
    val restored = VersionedTable.versions(table).last
    assert(restored.seq == deleted.seq + 1 && restored.snapshotId == pre.snapshotId)
    assert(VersionedTable.read(table).count() == before.size)

    // --maintain folds a pending delete into one group, content unchanged
    PipelineMain.run(deleteArgs)
    val redeleted = VersionedTable.versions(table).last
    assert(redeleted.dels.size == 1)
    // six versions (two streamed, delete, rollback, delete, compact), keep 3
    assert(VersionedTable.versions(table).size == 5)
    val maintainOut = new ByteArrayOutputStream()
    Console.withOut(maintainOut) {
      PipelineMain.run(Array("--maintain", table, "--maintain-vacuum-hours", "0"))
    }
    assert(maintainOut.toString("UTF-8").contains("expired_versions=3 expired_paths="),
      maintainOut.toString("UTF-8"))
    val maintained = VersionedTable.versions(table).last
    assert(maintained.snapshotId == redeleted.snapshotId)
    assert(maintained.dirs.size == 1 && maintained.dels.isEmpty)
    assert(content() == kept)

    // --history: one line per retained version
    val stdout = new ByteArrayOutputStream()
    Console.withOut(stdout)(PipelineMain.run(Array("--history", table)))
    val lines = stdout.toString("UTF-8").linesIterator
      .filter(_.matches("""\[graft\] v\d+ op=.*""")).toSeq
    assert(lines.map(_.split(' ')(1)) ==
      VersionedTable.versions(table).map(v => s"v${v.seq}"), lines.mkString("\n"))
  }
}
