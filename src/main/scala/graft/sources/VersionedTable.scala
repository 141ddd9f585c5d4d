package graft.sources

import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, xxhash64}
import org.apache.spark.sql.types.{NullType, NumericType, StringType, StructType}

/** Iceberg snapshot/time-travel semantics modeled on parquet (the second
  * half of the S1 story beside TableIO's partition-scoped replace): data
  * files are IMMUTABLE — every commit writes a fresh `data/v<seq>-<id>/`
  * directory and atomically rewrites `_graft_manifest.jsonl` with a new
  * line naming the COMPLETE set of directories that make up the table at
  * that version (overwrite = just the new dir; append = previous dirs +
  * new dir). ALL metadata IO goes through the table path's Hadoop
  * FileSystem — the same layer the data files ride — so a table lives
  * wherever Spark can write (local disk here; HDFS/S3A on a cluster),
  * with atomic manifest replace via FileContext rename and the commit
  * lock on the store's atomic-create primitive (see [[withCommitLock]]).
  * Reads resolve a manifest, never a directory listing, so:
  *
  *  - `read`         = latest committed version (readers are isolated
  *    from in-flight writes — the manifest line is the commit point);
  *  - `readAsOf(v)`  = time travel to any retained version (the
  *    reference's backup-table dance, MergeAndExportInfo.py:85-89, is
  *    `readAsOf(current - 1)`);
  *  - `expire(keep)` = Iceberg's expire_snapshots: drops manifests older
  *    than the newest `keep` and deletes data dirs no retained version
  *    references;
  *  - `compact(...)`  = Iceberg's rewrite_data_files (binpack): folds the
  *    small file groups a streaming/incremental writer accretes into one,
  *    committed as a new version GATED on content-identity (same
  *    snapshot id) — at 100 TB the append path creates thousands of
  *    small commits per day and reads degrade linearly in file-group
  *    count without this;
  *  - per-commit column stats (`_graft_stats.json` beside the data, the
  *    underscore prefix keeps Spark's parquet reader from touching it) =
  *    Iceberg's manifest min/max metrics: `readRange` consults them and
  *    opens ONLY the file groups whose [min,max] intersects the
  *    predicate — manifest-level file skipping, the layer ABOVE parquet
  *    row-group pruning (a planner that never lists non-matching files
  *    beats one that opens each footer to discover the miss).
  *
  * Each manifest row carries the deterministic content snapshot id
  * (TableIO.snapshotId), so an idempotent re-commit is detectable and
  * lineage rows can cite exact versions.
  */
object VersionedTable {

  final case class Version(seq: Int, snapshotId: Long, dirs: Seq[String],
      colMap: Option[ColMapping] = None, dels: Seq[DeleteFile] = Seq.empty,
      dirSeqs: Seq[Int] = Seq.empty, changes: Option[String] = None) {
    /** TRUE commit seq of data dir `d` in this version: the birth the
      * manifest line records (authoritative — minted inside the commit
      * lock), falling back to the name-parsed seq for pre-dirseqs
      * tables. The name alone is NOT evidence: append/appendOnce mint
      * the dir name from a pre-lock manifest read, so when other
      * commits land between that read and the append's commit the name
      * seq LAGS the real one — scoping delete files by name would then
      * anti-join away rows appended after the delete.
      */
    def birthOf(d: String): Int = {
      val i = dirs.indexOf(d)
      if (i >= 0 && i < dirSeqs.length) dirSeqs(i) else dirSeq(d)
    }
  }

  /** One committed EQUALITY-DELETE file (Iceberg v2 merge-on-read): a
    * small parquet of key tuples under `deletes/`, applying to every data
    * file group committed STRICTLY BEFORE it (`dirSeq(group) < seq` — the
    * Iceberg sequence-number rule), so rows appended after the delete
    * survive even under a deleted key. `cols` are the PHYSICAL key column
    * names; `matched` is the number of then-live rows the keys matched at
    * commit time (what the commit subtracted from the content snapshot
    * id, and what [[history]] subtracts from the raw per-group row sums).
    */
  final case class DeleteFile(dir: String, seq: Int, cols: Seq[String], matched: Long)

  /** The commit seq a data dir was written at, parsed from the dir name
    * every writer mints (`data/v<seq>-...`) — the evidence that decides
    * which delete files apply to it.
    */
  private def dirSeq(dir: String): Int =
    """^data/v(\d+)-""".r.findFirstMatchIn(dir).map(_.group(1).toInt).getOrElse(
      throw new IllegalStateException(
        s"data dir '$dir' does not carry a version seq — cannot scope delete files"))

  /** The delete files of `v` that apply to data dir `d` — scoped by the
    * dir's RECORDED birth seq (Version.birthOf), never the name alone.
    */
  private def applicableDels(v: Version, d: String): Seq[DeleteFile] =
    if (v.dels.isEmpty) Seq.empty else v.dels.filter(df => v.birthOf(d) < df.seq)

  /** Column-mapping state of a version (Delta column-mapping / Iceberg
    * schema-evolution semantics, name-mode): data files keep their
    * ORIGINAL physical column names forever; renames and drops are
    * metadata-only commits that change how reads project them.
    *
    *   - `renames` maps each renamed LOGICAL name to the physical column
    *     that stores it (rename a→b ⇒ `b -> a`; un-renamed columns are
    *     their own physical name and are not listed);
    *   - `dropped` is the tombstone set of PHYSICAL names no read may
    *     surface. The bytes stay in the files (drop is O(1) metadata, no
    *     rewrite at any table size); a later append that re-uses a dropped
    *     logical name mints a FRESH physical name, so old values can never
    *     resurrect under the re-added column — Iceberg's new-field-id
    *     behavior.
    *
    * The mapping is carried per manifest line, so time travel reads each
    * version under ITS OWN schema. A rename is one Project-with-alias on
    * top of the physical scan: Catalyst pushes logical-name filters
    * through the alias down to physical columns, so manifest stats, bloom
    * sidecars and FileIndex pruning all keep working untouched, in
    * physical name space.
    */
  final case class ColMapping(renames: Map[String, String], dropped: Set[String]) {
    def isIdentity: Boolean = renames.isEmpty && dropped.isEmpty
    def physicalOf(logical: String): String = renames.getOrElse(logical, logical)
    /** Physical names no NEW logical column may claim as-is. */
    def claimed: Set[String] = renames.values.toSet ++ dropped
  }
  object ColMapping { val identity: ColMapping = ColMapping(Map.empty, Set.empty) }

  /** Txn ids already committed to `table` — the read side of exactly-once
    * appends: a manifest line may carry `"txn":"<b64>"` naming the
    * idempotence key its committer supplied (Iceberg's WAP / Flink-sink
    * `txn-id` pattern). A replayed micro-batch whose txn is in this set
    * must land as a no-op, never a duplicate append. Includes keys whose
    * versions [[expire]] dropped (they survive in the sidecar ledger —
    * a replay is MOST likely exactly when its version is old).
    */
  def committedTxns(table: String): Set[String] = manifestState(table).txns

  // ---- metadata IO: everything through the table path's Hadoop
  // FileSystem, like the data files Spark writes — so a table can live on
  // HDFS / S3A / any configured store, not just a POSIX local disk. Two
  // store-portability consequences are baked into the shapes below:
  // manifest commits REWRITE the whole file atomically (tmp + rename)
  // instead of appending (append() is unsupported on object stores and
  // on Hadoop's checksummed LocalFileSystem — and atomic-replace is
  // strictly better crash-safety: a reader sees the old manifest or the
  // new one, never a torn tail); and the commit lock uses the store's
  // atomic-create primitive (see withCommitLock). ----------------------

  private type HPath = org.apache.hadoop.fs.Path

  /** The Hadoop conf that resolves table paths. Sourced from the live
    * SparkSession so fs.defaultFS / credentials match what the data-file
    * writes used; the last session's conf is retained so metadata-only
    * calls after `spark.stop()` (ops CLIs reading tags/txns) still
    * resolve scheme-less paths against the SAME filesystem instead of
    * silently falling back to file:// and splitting the table's metadata
    * across two stores. A truly session-less JVM falls back to the
    * default Configuration (local paths only — documented).
    */
  @volatile private var lastKnownConf: org.apache.hadoop.conf.Configuration = _
  private def hconf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration) match {
      case Some(c) => lastKnownConf = c; c
      case None =>
        if (lastKnownConf != null) lastKnownConf
        else new org.apache.hadoop.conf.Configuration()
    }

  /** The java.nio path of `p` IF it resolves to the local filesystem
    * (scheme-less paths resolve through fs.defaultFS first, so on a
    * cluster whose default FS is HDFS this correctly answers None for a
    * scheme-less warehouse path). Local paths get java.nio's genuinely
    * atomic primitives — POSIX mkdir for the commit lock, ATOMIC_MOVE
    * for manifest replace — where Hadoop's local implementations are
    * check-then-act or delete-then-rename.
    */
  private def asLocalNio(p: HPath): Option[java.nio.file.Path] =
    p.getFileSystem(hconf) match {
      case l @ (_: org.apache.hadoop.fs.LocalFileSystem |
                _: org.apache.hadoop.fs.RawLocalFileSystem) =>
        Some(java.nio.file.Paths.get(l.makeQualified(p).toUri.getPath))
      case _ => None
    }

  private[sources] def fsOf(p: HPath): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hconf) match {
      // local paths: the RAW local FS, not the checksummed wrapper —
      // metadata files are tiny JSON whose .crc sidecars would be pure
      // clutter, and the checksum layer turns any out-of-band edit (ops
      // fixing a manifest by hand, tests simulating torn writes) into a
      // ChecksumException instead of a readable file
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  private[sources] def hpath(parts: String*): HPath = new HPath(parts.mkString("/"))

  private[sources] def hexists(p: HPath): Boolean = fsOf(p).exists(p)

  private[sources] def hread(p: HPath): String = {
    val in = fsOf(p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private[sources] def hreadOpt(p: HPath): Option[String] =
    if (hexists(p)) Some(hread(p)) else None

  /** Plain (non-atomic) write of a file that is invisible until the
    * manifest line naming its dir commits — sidecars inside a fresh data
    * dir. A crash mid-write leaves an uncommitted dir for [[vacuum]].
    */
  private[sources] def hwrite(p: HPath, content: String): Unit = {
    val out = fsOf(p).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[sources] def hmkdirs(p: HPath): Unit = { fsOf(p).mkdirs(p); () }

  private def deleteRecursively(p: HPath): Unit = { fsOf(p).delete(p, true); () }

  private def manifestPath(table: String) = hpath(table, "_graft_manifest.jsonl")
  private def txnLedgerPath(table: String) = hpath(table, "_graft_txns.jsonl")

  /** One committed manifest line parsed, or None for a malformed line
    * (e.g. torn by a crash mid-append) — an UNCOMMITTED version: the
    * manifest line is the commit point, so a torn tail must never brick
    * reads of previously committed versions.
    */
  private def parseLine(line: String): Option[Version] =
    for {
      seq <- """"seq":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
      sid <- """"snapshot_id":(-?\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
      dirsRaw <- """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(line).map(_.group(1))
      if line.endsWith("}")
    } yield Version(seq, sid,
      dirsRaw.split(',').filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq,
      """"colmap":"([^"]*)"""".r.findFirstMatchIn(line)
        .map(m => colMapFromJson(unb64(m.group(1)))),
      delEntryRe.findAllMatchIn(line).map(m =>
        DeleteFile(unb64(m.group(1)), m.group(2).toInt,
          m.group(3).split(',').filter(_.nonEmpty)
            .map(c => unb64(c.trim.stripPrefix("\"").stripSuffix("\""))).toSeq,
          m.group(4).toLong)).toSeq,
      """"dirseqs":\[([^\]]*)\]""".r.findFirstMatchIn(line)
        .map(_.group(1).split(',').filter(_.nonEmpty).map(_.trim.toInt).toSeq)
        .getOrElse(Seq.empty),
      """"changes":"([^"]*)"""".r.findFirstMatchIn(line).map(m => unb64(m.group(1))))

  /** Delete-file entry codec: dir and column names ride b64 (arbitrary
    * user column names can never tear the JSON), the whole entry is
    * self-delimiting so parsing needs no array isolation.
    */
  private val delEntryRe =
    """\{"d":"([^"]*)","s":(\d+),"c":\[([^\]]*)\],"m":(-?\d+)\}""".r

  private def delsJson(dels: Seq[DeleteFile]): String =
    if (dels.isEmpty) ""
    else dels.map(df =>
      s"""{"d":"${b64(df.dir)}","s":${df.seq},"c":[${df.cols.map(c => "\"" + b64(c) + "\"").mkString(",")}],"m":${df.matched}}""")
      .mkString(""","dels":[""", ",", "]")

  /** ColMapping codec — names ride b64 like every other user string in
    * the sidecar formats, so arbitrary column names can never tear the
    * JSON; the whole payload is b64'd again into the manifest line.
    */
  private def colMapToJson(m: ColMapping): String = {
    val r = m.renames.toSeq.sortBy(_._1)
      .map { case (l, p) => s"""["${b64(l)}","${b64(p)}"]""" }.mkString(",")
    val d = m.dropped.toSeq.sorted.map(p => "\"" + b64(p) + "\"").mkString(",")
    s"""{"r":[$r],"d":[$d]}"""
  }

  private def colMapFromJson(j: String): ColMapping = {
    val dAt = j.indexOf("\"d\":[")
    val renames = """\["([^"]*)","([^"]*)"\]""".r
      .findAllMatchIn(j.substring(0, math.max(dAt, 0)))
      .map(m => unb64(m.group(1)) -> unb64(m.group(2))).toMap
    val dropped =
      if (dAt < 0) Set.empty[String]
      else """"([^"]*)"""".r.findAllMatchIn(j.substring(dAt + 5))
        .map(m => unb64(m.group(1))).toSet
    ColMapping(renames, dropped)
  }

  private final case class ManifestState(lines: Seq[String],
      versions: Seq[Version], txns: Set[String])

  /** Versions + committed txn keys from ONE manifest read (plus the small
    * expired-txn ledger) — every commit-path consumer goes through here so
    * per-commit manifest IO is one file read, not one per question.
    */
  private def manifestState(table: String): ManifestState = {
    val ledger: Set[String] = hreadOpt(txnLedgerPath(table)) match {
      case None => Set.empty
      case Some(s) => s.linesIterator.filter(_.nonEmpty)
        .flatMap(l => scala.util.Try(unb64(l)).toOption).toSet
    }
    val txt = hreadOpt(manifestPath(table))
      .getOrElse(return ManifestState(Seq.empty, Seq.empty, ledger))
    val lines = txt.linesIterator.toSeq.filter(_.nonEmpty)
    val txns = lines.iterator.filter(_.endsWith("}"))
      .flatMap(l => """"txn":"([^"]*)"""".r.findFirstMatchIn(l).map(m => unb64(m.group(1))))
      .toSet ++ ledger
    ManifestState(lines, lines.flatMap(parseLine), txns)
  }

  def versions(table: String): Seq[Version] = manifestState(table).versions

  /** Optimistic-concurrency commit gate (Iceberg's atomic metadata-pointer
    * swap, expressed via the store's atomic-create primitive). Concurrent
    * committers serialize here, and the seq is (re)derived INSIDE the
    * critical section, so two writers racing an append can never mint the
    * same version. A crashed holder leaves the lock behind; the bounded
    * wait turns that into a loud error naming the path instead of a
    * silent hang.
    *
    * Primitive per store: on a local path, `java.nio` directory creation
    * (atomic on POSIX; Hadoop's RawLocalFileSystem `create(overwrite =
    * false)` is check-then-act and would race). On HDFS and kin,
    * `create(lock, overwrite = false)` IS the atomic namespace op. Object
    * stores without atomic create (plain S3) need an external lock
    * service for multi-writer commits — the same caveat Iceberg's
    * HadoopCatalog documents; single-writer pipelines (this driver) are
    * unaffected.
    */
  private def withCommitLock[T](table: String)(body: => T): T = {
    val hLock = hpath(table, "_graft_commit.lock")
    val localLock = asLocalNio(hLock) // None <=> the table lives on a cluster store
    hmkdirs(new HPath(table))
    def tryAcquire(): Boolean = localLock match {
      case Some(lp) =>
        try { Files.createDirectory(lp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case None =>
        try { fsOf(hLock).create(hLock, false).close(); true }
        catch {
          // ONLY already-exists means "someone else holds it" — any other
          // IOException (permissions, wrong FS, network) must surface as
          // itself, not be spun into a bogus 'crashed committer' verdict.
          // NOT cleaned up on the error path: we cannot tell whether the
          // path is our half-created file or another holder's live lock,
          // and deleting a live lock is worse than leaving debris the
          // error message already names.
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
          case e: org.apache.hadoop.ipc.RemoteException
            if e.getClassName != null && e.getClassName.contains("AlreadyExists") => false
        }
    }
    var attempts = 0
    while (!tryAcquire()) {
      attempts += 1
      if (attempts > 2000) throw new IllegalStateException(
        s"commit lock held too long — crashed committer? remove $hLock to recover")
      Thread.sleep(5)
    }
    try body finally {
      localLock match {
        case Some(lp) => Files.delete(lp)
        case None => fsOf(hLock).delete(hLock, false); ()
      }
    }
  }

  /** Default delete-file inheritance: the base version's delete files,
    * dropped once no retained data dir is old enough for them to apply —
    * so an append carries them verbatim (its new dir is younger), while a
    * full rewrite (compact/sort/zorder/overwrite, whose output dirs all
    * postdate every delete) sheds them automatically, having ALREADY
    * applied them by reading the resolved view.
    */
  private def carryDels(base: Option[Version], newDirs: Seq[String]): Seq[DeleteFile] =
    base.map(_.dels).getOrElse(Seq.empty)
      .filter(df => newDirs.exists(d =>
        // recorded birth for carried dirs; name-parse fallback for a dir
        // the base doesn't know (the committer's NEW dir) — which can
        // only under-report and thus KEEP the delete file, the safe
        // direction (applicableDels decides actual application by the
        // recorded birth)
        base.map(_.birthOf(d)).getOrElse(dirSeq(d)) < df.seq))

  /** Serialized commit: the new version's (dirs, snapshot id) are derived
    * FROM THE LATEST BASE INSIDE the critical section, so a concurrent
    * committer that landed first is folded in, never overwritten (the
    * classic lost-update append race). `f` must be cheap — no Spark jobs
    * under the lock; appenders use the snapshot id's additivity (sum of
    * per-row hashes mod 2^64 = Long wraparound addition) to combine a
    * pre-computed per-dir id with the base's instead of re-scanning.
    * `f` may ABORT by returning None (the committer saw, inside the
    * critical section, that its work is already represented — e.g. a
    * replayed txn), and `txn` attaches an idempotence key to the manifest
    * line. Returns None on abort.
    */
  private def commitWith(table: String, txn: Option[String] = None,
      colMapF: Option[ColMapping] => Option[ColMapping] = identity,
      delsF: (Option[Version], Seq[String]) => Seq[DeleteFile] = carryDels,
      changes: Option[String] = None)(
      f: Option[Version] => Option[(Seq[String], Long)]): Option[Version] =
    withCommitLock(table) {
      val st = manifestState(table) // ONE in-lock read: base + txn ledger
      // the idempotence re-check lives in the commit primitive itself —
      // two racers with the same txn serialize here and the loser aborts
      if (txn.exists(st.txns.contains)) None
      else f(st.versions.lastOption).map { case (dirs, sid) =>
        val base = st.versions.lastOption
        val seq = base.map(_.seq + 1).getOrElse(1)
        val txnJson = txn.map(t => s""","txn":"${b64(t)}"""").getOrElse("")
        // column mapping: inherited from the base verbatim by default
        // (every layout/row-level op preserves schema identity); only the
        // schema-evolution entry points and rollback/overwrite pass a
        // transform. Identity mappings stay OFF the line.
        val cm = colMapF(base.flatMap(_.colMap)).filter(!_.isIdentity)
        val cmJson = cm.map(m => s""","colmap":"${b64(colMapToJson(m))}"""").getOrElse("")
        val dels = delsF(base, dirs)
        // authoritative per-dir commit seqs, minted HERE inside the lock:
        // a dir already recorded by any retained line keeps its first
        // recorded birth (copied forward commit after commit, so expire
        // can never lose it); an unrecorded dir is new in THIS commit and
        // is born at `seq` — its pre-lock NAME may lag when other commits
        // interleaved, which is exactly why the name is not the evidence
        val known = st.versions.foldLeft(Map.empty[String, Int]) { (m, v) =>
          v.dirs.zipWithIndex.foldLeft(m) { case (mm, (d, i)) =>
            if (mm.contains(d)) mm
            else mm.updated(d, if (i < v.dirSeqs.length) v.dirSeqs(i)
                                else scala.util.Try(dirSeq(d)).getOrElse(v.seq))
          }
        }
        val dirSeqs = dirs.map(d => known.getOrElse(d, seq))
        val dirSeqsJson =
          if (dirs.isEmpty) "" else s""","dirseqs":[${dirSeqs.mkString(",")}]"""
        // the capture sidecar this commit OWNS (b64 like every user
        // string): the feed replays only recorded sidecars, so a crashed
        // op's orphan can never be claimed by an unrelated commit
        val chJson = changes.map(c => s""","changes":"${b64(c)}"""").getOrElse("")
        val line = s"""{"seq":$seq,"snapshot_id":$sid,"dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}]$dirSeqsJson$chJson${delsJson(dels)}$cmJson$txnJson}"""
        // whole-file atomic replace, never append: portable to stores
        // without append(), and a crash leaves the old or the new
        // manifest — no torn tail at all (parseLine still tolerates one
        // from pre-refactor tables)
        atomicWrite(manifestPath(table),
          (st.lines :+ line).mkString("", "\n", "\n"))
        Version(seq, sid, dirs, cm, dels, dirSeqs, changes)
      }
    }

  /** Commit the result of an op that read version `read` and derived its
    * whole file-group set from it (rewrite, row-level op, delete-file
    * commit). Iceberg's rewrite conflict rule: if anyone committed after
    * `read`, committing would erase their rows (or leave their keys
    * undeleted), so the commit fails loudly, names `op`, and the caller
    * retries against the new tip.
    */
  private[graft] def commitRewrite(table: String, read: Version, op: String,
      delsF: (Option[Version], Seq[String]) => Seq[DeleteFile] = carryDels,
      colMapF: Option[ColMapping] => Option[ColMapping] = identity,
      changes: Option[String] = None)(dirs: Seq[String], sid: Long): Version =
    commitWith(table, colMapF = colMapF, delsF = delsF, changes = changes) { base =>
      if (!base.exists(_.seq == read.seq)) throw new IllegalStateException(
        s"concurrent commit during $op of v${read.seq} " +
          s"(tip is now v${base.map(_.seq).getOrElse(0)}) — retry")
      Some((dirs, sid))
    }.get

  private def newDataDir(seq: Int): String =
    s"data/v$seq-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Snapshot-isolation overwrite: new data dir + manifest line naming
    * only it. Old versions stay readable until [[expire]].
    */
  def overwrite(df: DataFrame, table: String)(implicit spark: SparkSession): Version = {
    val dir = newDataDir(versions(table).lastOption.map(_.seq + 1).getOrElse(1))
    df.write.parquet(s"$table/$dir")
    val sid = writeStats(table, dir)
    // a full overwrite replaces the table's CONTENT, and with it the
    // schema lineage: the incoming names become the physical names and
    // the mapping resets (earlier versions keep theirs for time travel)
    commitWith(table, colMapF = _ => None)(_ => Some((Seq(dir), sid))).get
  }

  /** Append commit: the base version's dirs + one new dir. The base is
    * re-resolved inside the commit lock and the ids are combined
    * additively, so concurrent appenders each land as their own version
    * with BOTH dirs present — no lost update, and no Spark work while
    * holding the lock.
    */
  def append(df: DataFrame, table: String)(implicit spark: SparkSession): Version =
    appendWith(df, table, None)._1

  /** Exactly-once append: `txn` is the caller's idempotence key (for a
    * streaming sink, `<queryName>#<batchId>`). If a version carrying this
    * txn is already committed the call is a NO-OP returning the current
    * version — the foreachBatch replay a crashed streaming query performs
    * after restart (re-delivering the batch whose sink write succeeded but
    * whose checkpoint commit didn't) lands here and duplicates nothing.
    * The pre-lock check makes the replay path cheap (no Spark job); the
    * in-lock re-check makes it CORRECT under two racing committers with
    * the same txn — the loser's already-written data dir is released as an
    * orphan for [[vacuum]]. Returns (version, committedNow).
    */
  def appendOnce(df: DataFrame, table: String, txn: String)(
      implicit spark: SparkSession): (Version, Boolean) =
    appendWith(df, table, Some(txn))

  /** The one append body behind [[append]] (`txn = None`) and
    * [[appendOnce]]. Returns (version, committedNow).
    */
  private def appendWith(df: DataFrame, table: String, txn: Option[String])(
      implicit spark: SparkSession): (Version, Boolean) = {
    hmkdirs(new HPath(table))
    val st = manifestState(table) // ONE pre-lock read: replay check + seq
    val tip = st.versions.lastOption.getOrElse(Version(0, 0L, Seq.empty))
    if (txn.exists(st.txns.contains)) return (tip, false)
    // incoming batches speak LOGICAL names; data files store physical
    val (pdf, minted) = toPhysical(df, tip.colMap.getOrElse(ColMapping.identity))
    val dir = newDataDir(tip.seq + 1)
    pdf.write.parquet(s"$table/$dir")
    val dirSid = writeStats(table, dir)
    // commitWith itself re-checks the txn inside the lock and aborts
    commitWith(table, txn = txn, colMapF = extendMapping(minted)) { base =>
      Some((base.map(_.dirs).getOrElse(Seq.empty) :+ dir,
        base.map(_.snapshotId + dirSid).getOrElse(dirSid))) // mod-2^64 sum
    } match {
      case Some(v) => (v, true)
      case None => // lost the same-txn race; our dir is unreachable debris
        deleteRecursively(hpath(table, dir))
        (versions(table).lastOption.getOrElse(Version(0, 0L, Seq.empty)), false)
    }
  }

  // ---- column mapping (rename / drop schema evolution) -------------------

  /** The tip version's column mapping (identity for unmapped tables). */
  def currentMapping(table: String): ColMapping =
    versions(table).lastOption.flatMap(_.colMap).getOrElse(ColMapping.identity)

  /** The logical view of a physically-named DataFrame: dropped physical
    * columns vanish, renamed ones surface under their logical names. One
    * Project with aliases — Catalyst collapses it into the scan and
    * pushes logical-name filters through to the physical columns, so this
    * costs nothing and every pruning layer below stays untouched.
    */
  private def logicalView(df: DataFrame, cm: Option[ColMapping]): DataFrame =
    cm.filter(!_.isIdentity).fold(df) { m =>
      val p2l = m.renames.map(_.swap)
      df.select(df.schema.fieldNames.filterNot(m.dropped)
        .map(p => col(p).as(p2l.getOrElse(p, p))).toSeq: _*)
    }

  private def logicalSchema(phys: StructType, cm: Option[ColMapping]): StructType =
    cm.filter(!_.isIdentity).fold(phys) { m =>
      val p2l = m.renames.map(_.swap)
      StructType(phys.fields.filterNot(f => m.dropped(f.name))
        .map(f => f.copy(name = p2l.getOrElse(f.name, f.name))))
    }

  /** Logical→physical translation of an INCOMING batch: renamed columns
    * write under their stored physical names; a logical name that
    * collides with a tombstoned or otherwise-claimed physical name mints
    * a fresh physical name (returned so the commit can extend the
    * mapping) — the re-added-after-drop case, where writing under the old
    * physical name would resurrect dropped data on merged reads.
    */
  private def toPhysical(df: DataFrame, cm: ColMapping): (DataFrame, Map[String, String]) = {
    if (cm.isIdentity) return (df, Map.empty)
    val minted = scala.collection.mutable.Map.empty[String, String]
    val cols = df.schema.fieldNames.toSeq.map { l =>
      val p = cm.renames.get(l) match {
        case Some(p0) => p0
        case None if cm.claimed(l) =>
          val fresh = s"${l}__${java.util.UUID.randomUUID().toString.take(8)}"
          minted += (l -> fresh); fresh
        case None => l
      }
      col(l).as(p)
    }
    (df.select(cols: _*), minted.toMap)
  }

  private def extendMapping(minted: Map[String, String])(
      bc: Option[ColMapping]): Option[ColMapping] =
    if (minted.isEmpty) bc
    else Some(bc.getOrElse(ColMapping.identity) match {
      case m => m.copy(renames = m.renames ++ minted)
    })

  /** RENAME COLUMN (Iceberg/Delta `ALTER TABLE RENAME COLUMN`): a
    * metadata-only commit — same dirs, same content snapshot id, new
    * mapping. O(1) IO at any table size; every data file keeps its bytes
    * and its physical column name. Earlier versions time-travel under
    * their own names.
    */
  def renameColumn(table: String, from: String, to: String)(
      implicit spark: SparkSession): Version = {
    require(from != to, s"rename to self: $from")
    val logical = tableSchema(table).fieldNames.toSet
    require(logical.contains(from),
      s"no column $from in $table (have ${logical.toSeq.sorted.mkString(", ")})")
    require(!logical.contains(to), s"column $to already exists in $table")
    commitWith(table, colMapF = { bc =>
      val cm = bc.getOrElse(ColMapping.identity)
      Some(ColMapping(cm.renames - from + (to -> cm.physicalOf(from)), cm.dropped))
    }) { base =>
      val b = base.getOrElse(
        throw new IllegalStateException(s"no committed version in $table"))
      Some((b.dirs, b.snapshotId))
    }.get
  }

  /** DROP COLUMN: metadata-only tombstone of the physical column — no
    * rewrite, the bytes stay in the files, reads stop surfacing it, and a
    * later append re-using the logical name mints a fresh physical column
    * (old values never resurrect). Earlier versions still time-travel
    * with the column present.
    */
  def dropColumn(table: String, name: String)(
      implicit spark: SparkSession): Version = {
    val logical = tableSchema(table).fieldNames.toSet
    require(logical.contains(name),
      s"no column $name in $table (have ${logical.toSeq.sorted.mkString(", ")})")
    require(logical.size > 1, s"cannot drop the only column of $table")
    commitWith(table, colMapF = { bc =>
      val cm = bc.getOrElse(ColMapping.identity)
      Some(ColMapping(cm.renames - name, cm.dropped + cm.physicalOf(name)))
    }) { base =>
      val b = base.getOrElse(
        throw new IllegalStateException(s"no committed version in $table"))
      Some((b.dirs, b.snapshotId))
    }.get
  }

  // ---- manifest column stats (Iceberg manifest min/max metrics) ----------

  private final case class ColStats(typ: String, min: Option[String], max: Option[String])
  private final case class DirStats(rows: Long, schema: Option[StructType],
      cols: Map[String, ColStats], files: Option[Seq[(String, Long)]])

  private def statsPath(table: String, dir: String) =
    hpath(table, dir, "_graft_stats.json")

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), "UTF-8")

  /** tmp + atomic rename-with-overwrite: a crash mid-write or a
    * concurrent reader must never see torn OR MISSING content (shared by
    * every manifest commit, props/refs writes and expire's manifest
    * rewrite). Local paths use java.nio ATOMIC_MOVE — POSIX rename(2),
    * genuinely atomic; Hadoop's local FileContext implements
    * rename(OVERWRITE) as delete-then-rename, which opens a window where
    * the manifest does not exist at all (a crash there loses the table
    * pointer, a concurrent reader sees "no committed version"). Cluster
    * paths use FileContext.rename(OVERWRITE) — the primitive Spark's own
    * HDFSMetadataLog uses; HDFS implements it as one atomic NameNode op.
    */
  private def atomicWrite(target: HPath, content: String): Unit =
    asLocalNio(target) match {
      case Some(lp) =>
        val tmp = lp.resolveSibling(lp.getFileName.toString + ".tmp")
        Files.writeString(tmp, content)
        Files.move(tmp, lp,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      case None =>
        val tmp = new HPath(target.getParent, target.getName + ".tmp")
        hwrite(tmp, content)
        org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, hconf)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** NTZ literals carry NAIVE wall-clock micros; the only session where
    * `unix_micros(cast to ltz)` produces exactly that domain is UTC
    * (which Sessions pins). Under any other zone NTZ stats/blooms would
    * be offset-shifted and could WRONGLY SKIP boundary groups — so NTZ
    * columns are excluded there (conservative: groups are kept).
    */
  private def ntzStatsOk(spark: SparkSession): Boolean = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    tz == "UTC" || tz == "Etc/UTC"
  }

  /** ONE aggregate pass over the just-written file group computing the
    * whole manifest entry: row count, the dir's content snapshot id (the
    * same xxhash64-sum TableIO.snapshotId computes — folded in here so a
    * commit never scans its data twice), and per-column min/max for
    * numeric and string columns. Written as a sidecar INSIDE the data dir
    * (underscore prefix = invisible to the parquet reader) along with the
    * group's schema as DDL, so schema-union questions are answerable from
    * sidecars without touching parquet footers. Strings are Base64'd so
    * the sidecar stays valid JSON for any payload bytes. Returns the
    * dir's snapshot id. This is the write-side half of manifest-level
    * file skipping; [[GraftFileIndex.mayMatch]] is the half that reads
    * it, for scans and for the scoping of row-level ops alike.
    */
  private def writeStats(table: String, dir: String)(
      implicit spark: SparkSession): Long = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$table/$dir")
    val ntzOk = ntzStatsOk(spark)
    val statFields = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType ||
        f.dataType == TimestampType || f.dataType == DateType ||
        (f.dataType == TimestampNTZType && ntzOk))
    // timestamps/dates record as epoch micros / days — EXACTLY the domain
    // Catalyst literals compare in (Literal(_, TimestampType) is Long
    // micros, DateType is Int days), so the read side prunes time ranges
    // with zero special-casing; a seconds truncation here would round max
    // DOWN and wrongly skip boundary rows
    def statCol(f: org.apache.spark.sql.types.StructField): Column = f.dataType match {
      case TimestampType => org.apache.spark.sql.functions.unix_micros(col(f.name))
      case TimestampNTZType =>
        org.apache.spark.sql.functions.unix_micros(col(f.name).cast(TimestampType))
      case DateType => org.apache.spark.sql.functions.unix_date(col(f.name))
      case _ => col(f.name)
    }
    val aggs = count(lit(1)).as("_rows") +:
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")).as("_sid") +:
      statFields.flatMap(f => Seq(min(statCol(f)), max(statCol(f)))).toSeq
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getLong(0)
    val sid =
      if (row.isNullAt(1)) 0L // empty group
      else row.getDecimal(1).toBigInteger
        .mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
    val colsJson = statFields.zipWithIndex.map { case (f, i) =>
      val (typ, mn, mx) = f.dataType match {
        case StringType =>
          def s(j: Int) = if (row.isNullAt(j)) None else Some(b64(row.getString(j)))
          ("s", s(2 + 2 * i), s(3 + 2 * i))
        case _ =>
          def n(j: Int) = if (row.isNullAt(j)) None else Some(row.get(j).toString)
          ("n", n(2 + 2 * i), n(3 + 2 * i))
      }
      def v(o: Option[String]) = o.map("\"" + _ + "\"").getOrElse("null")
      s""""${f.name}":{"t":"$typ","min":${v(mn)},"max":${v(mx)}}"""
    }.mkString(",")
    // the manifest names the files (Iceberg's shape): one local listing at
    // write time makes every future planning pass zero-listing — the scan
    // builds its file set from sidecar entries alone, so a pruned query
    // never names the skipped groups' files, let alone stats them
    val filesJson = {
      val dp = hpath(table, dir)
      fsOf(dp).listStatus(dp).iterator
        .filter(f => f.isFile && {
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        .map(f => s"""{"n":"${b64(f.getPath.getName)}","b":${f.getLen}}""")
        .mkString(",")
    }
    hwrite(statsPath(table, dir),
      s"""{"rows":$rows,"sid":$sid,"schema":"${b64(df.schema.toDDL)}","files":[$filesJson],"cols":{$colsJson}}""")
    // every commit path funnels through here, so a configured bloom column
    // follows the data through append/compact/rewrite/delete/merge alike
    writeBlooms(table, dir, df, rows)
    sid
  }

  // ---- per-group bloom filters (Iceberg Puffin blob analogue) ------------
  //
  // Min/max stats prune RANGE predicates; a point lookup on a
  // high-cardinality, non-clustered key (conv_id, content hash) defeats
  // them — every accreted group's [min,max] spans the keyspace, so an
  // equality scan opens all of them. Iceberg's answer is a bloom-filter
  // blob per data file (Puffin); ours is a bloom sidecar per file group,
  // built at write time for the columns named in the table's props file
  // and consulted by GraftFileIndex for EqualTo / In / InSet. At 100 TB
  // this is what makes "fetch one conversation's triples" open a handful
  // of file groups instead of every commit since the last sorted rewrite.

  private def propsPath(table: String) = hpath(table, "_graft_props.json")
  private def bloomPath(table: String, dir: String) =
    hpath(table, dir, "_graft_blooms.json")

  /** Declare the columns every FUTURE commit writes a per-group bloom
    * sidecar for (strings and integral types; other types are skipped —
    * float equality is pathological and the hashing domain must be exact).
    * Already-committed groups keep pruning on stats alone until a rewrite
    * (compact / rewriteSorted) regenerates them with blooms — the same
    * "new config applies from the next rewrite" contract as Iceberg's
    * write properties.
    */
  def setBloomColumns(table: String, cols: Seq[String], fpp: Double = 0.01): Unit = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    hmkdirs(new HPath(table))
    // callers name LOGICAL columns; blooms (like stats) live in physical
    // name space — where the FileIndex's pushed-down filters also arrive
    // after Catalyst collapses the logical-view aliases
    val m = if (versions(table).nonEmpty) currentMapping(table) else ColMapping.identity
    val pCols = cols.map(m.physicalOf)
    // atomic: a torn props file parses as "no bloom columns" and every
    // later commit would silently stop building sidecars
    atomicWrite(propsPath(table),
      renderProps(pCols, fpp, changeCaptureEnabled(table)))
  }

  /** The single props-file renderer — every setter re-renders the WHOLE
    * file from (its own new value + the other settings read back), so
    * independent knobs never clobber each other.
    */
  private def renderProps(pBloomCols: Seq[String], fpp: Double, cdf: Boolean): String =
    s"""{"bloom_cols":[${pBloomCols.map(c => "\"" + b64(c) + "\"").mkString(",")}],"bloom_fpp":$fpp,"cdf":$cdf}"""

  /** The table's configured bloom columns + target false-positive rate. */
  def bloomColumns(table: String): (Seq[String], Double) = {
    val json = hreadOpt(propsPath(table)).getOrElse(return (Seq.empty, 0.01))
    val cols = """"bloom_cols":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1).split(',').iterator.map(_.trim).filter(_.nonEmpty)
        .map(s => unb64(s.stripPrefix("\"").stripSuffix("\""))).toSeq)
      .getOrElse(Seq.empty)
    val fpp = """"bloom_fpp":([0-9.eE+-]+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toDouble).getOrElse(0.01)
    (cols, fpp)
  }

  /** Build and write the group's bloom sidecar: ONE extra pass over the
    * just-written group computing every configured column's bloom
    * together (mapPartitions-shaped treeAggregate — the group is the unit
    * of maintenance IO, never the table). Hashing domain, shared with the
    * read side: strings as UTF-8 bytes (`putBinary`), integrals as Long
    * (`putLong`) — so an int32 column probed with a Long literal still
    * hits. Null values are not inserted (equality never matches null).
    */
  private def writeBlooms(table: String, dir: String, df: DataFrame, rows: Long): Unit = {
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}
    val (cols, fpp) = bloomColumns(table)
    if (cols.isEmpty || rows <= 0) return
    val ntzOk = ntzStatsOk(df.sparkSession)
    val present = cols.filter(c => df.schema.fields.exists(f => f.name == c &&
      (f.dataType == StringType || f.dataType == ByteType || f.dataType == ShortType ||
        f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == TimestampType || f.dataType == DateType ||
        (f.dataType == TimestampNTZType && ntzOk))))
    if (present.isEmpty) return
    val isStr = present.map(c => df.schema(c).dataType == StringType).toArray
    val n = present.size
    def zero() = Array.fill(n)(
      org.apache.spark.util.sketch.BloomFilter.create(math.max(rows, 64L), fpp))
    // timestamps/dates hash as epoch micros / days — the same Long domain
    // Catalyst equality literals arrive in on the read side
    val projected = present.map { c =>
      df.schema(c).dataType match {
        case TimestampType => org.apache.spark.sql.functions.unix_micros(col(c))
        case TimestampNTZType =>
          org.apache.spark.sql.functions.unix_micros(col(c).cast(TimestampType))
        case DateType => org.apache.spark.sql.functions.unix_date(col(c)).cast("long")
        case _ => col(c)
      }
    }
    val blooms = df.select(projected: _*).rdd.treeAggregate(zero())(
      (acc, row) => {
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) {
            if (isStr(i)) acc(i).putBinary(row.getString(i).getBytes("UTF-8"))
            else acc(i).putLong(row.get(i).asInstanceOf[Number].longValue())
          }
          i += 1
        }
        acc
      },
      (a, b) => { var i = 0; while (i < n) { a(i).mergeInPlace(b(i)); i += 1 }; a })
    val entries = present.zip(blooms).map { case (c, bf) =>
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      s""""${b64(c)}":"${Base64.getEncoder.encodeToString(bos.toByteArray)}""""
    }
    hwrite(bloomPath(table, dir), s"""{"cols":{${entries.mkString(",")}}}""")
  }

  /** Deserialized bloom for (table, dir, column), or None when the group
    * has no bloom sidecar / no entry for the column (pre-config groups,
    * unsupported types) — absence is conservative: the caller keeps the
    * group. Cached: committed file groups are immutable by design, so a
    * sidecar read once stays valid for the JVM's lifetime.
    */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), Option[org.apache.spark.util.sketch.BloomFilter]]()

  def groupBloom(table: String, dir: String, column: String):
      Option[org.apache.spark.util.sketch.BloomFilter] = {
    if (bloomCache.size > 4096) bloomCache.clear() // crude cap; re-read is cheap
    bloomCache.computeIfAbsent((table, dir, column), { _ =>
      hreadOpt(bloomPath(table, dir)).flatMap { json =>
        val re = ("\"" + java.util.regex.Pattern.quote(b64(column)) + "\":\"([^\"]*)\"").r
        re.findFirstMatchIn(json).map { m =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(Base64.getDecoder.decode(m.group(1))))
        }
      }
    })
  }

  // ---- change data feed (Delta CDF analogue) ------------------------------
  //
  // Row-level commits (deleteRange / merge) capture the rows they change
  // as a per-version sidecar at commit time — the touched file groups are
  // already being read for the copy-on-write rewrite, so capture costs one
  // extra write of the CHANGED rows, never an extra pass over the table.
  // [[readChangeFeed]] then answers "what changed in (v_from, v_to]" at
  // O(changed rows): appends stream their new file groups as inserts,
  // layout-only rewrites contribute nothing, row-level commits replay
  // their sidecars. This is the downstream-refresh primitive for a 100-TB
  // training-data table: a consumer keeps a derived table (an index, a
  // dedup state, a feature store) current by processing row deltas
  // instead of re-reading snapshots — the deletes/upserts the
  // append-only [[readChangesBetween]] must refuse.

  private def changesDir(table: String, seq: Int) = s"$table/changes/v$seq"

  /** Mint a UNIQUE capture-sidecar dir for one row-level commit. The seq
    * in the name is for humans only — identity comes from the uuid plus
    * the committed manifest line that records the dir (like delete
    * files). A pre-commit-seq NAME alone was the round-3 defect: after a
    * crash between capture and commit, an unrelated later commit could
    * claim the same seq and the feed would replay the orphan as ITS
    * changes; and a straight retry would hit ErrorIfExists on the
    * leftover dir. Unique names make retries collision-free and orphans
    * unclaimable; [[vacuum]] reclaims anything no manifest line records.
    */
  private def newChangesDir(seq: Int): String =
    s"changes/v$seq-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Enable/disable change capture for FUTURE row-level commits (Delta's
    * `delta.enableChangeDataFeed`). Appends need no capture (their file
    * groups ARE the change set); a delete/merge committed while disabled
    * has no sidecar, and a feed window crossing it fails loudly.
    */
  def setChangeCapture(table: String, enabled: Boolean): Unit = {
    hmkdirs(new HPath(table))
    val (cols, fpp) = bloomColumns(table)
    atomicWrite(propsPath(table), renderProps(cols, fpp, enabled))
  }

  def changeCaptureEnabled(table: String): Boolean =
    hreadOpt(propsPath(table)).exists(_.contains(""""cdf":true"""))

  /** Write one commit's change sidecar: each slice is (rows, change type)
    * in PHYSICAL name space, unioned by name (schema evolution can make
    * slices ragged) and written under `changes/v<seq>` BEFORE the manifest
    * commit — a crash in between leaves an uncommitted-version sidecar
    * that [[vacuum]] reclaims, never a committed version missing its
    * changes.
    */
  private def captureChanges(table: String, seq: Int,
      slices: Seq[(DataFrame, String)]): String = {
    val dir = newChangesDir(seq)
    val tagged = slices.map { case (df, kind) =>
      df.withColumn("_change_type", lit(kind)) }
    tagged.reduce(_.unionByName(_, allowMissingColumns = true))
      .write.parquet(s"$table/$dir")
    dir
  }

  /** The change data feed of versions (fromSeq, toSeq] (Delta's
    * `readChangeData`): one row per row-level change, tagged
    * `_change_type` (insert / delete / update_preimage / update_postimage)
    * and `_commit_version`. Planned from manifest evidence per step
    * ([[walkSteps]]):
    * an append's new file groups stream as inserts (no sidecar needed —
    * the data files ARE the change set); a layout-only rewrite
    * (compact / sort / z-order — content id unchanged) contributes
    * nothing; a row-level commit replays its capture sidecar; an
    * overwrite/rollback, or a delete/merge committed before
    * [[setChangeCapture]], fails loudly at the exact version (its diff
    * was never materialized and reconstructing it would cost two full
    * snapshot reads — the caller chooses that explicitly, never
    * implicitly). Rows surface under `toSeq`'s logical schema, like
    * [[readChangesBetween]].
    */
  def readChangeFeed(table: String, fromSeq: Int, toSeq: Int)(
      implicit spark: SparkSession): DataFrame = {
    require(fromSeq <= toSeq, s"fromSeq $fromSeq > toSeq $toSeq")
    val vs = versions(table)
    val to = retained(vs, table, toSeq); retained(vs, table, fromSeq)
    val slices: Seq[DataFrame] = walkSteps(vs, table, fromSeq, toSeq,
        "the change feed cannot be answered across the gap")(
      appended = (b, added) => Seq(spark.read.option("mergeSchema", "true")
        .parquet(added.map(d => s"$table/$d"): _*)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(b.seq))),
      rowLevel = b => b.changes match {
        // replay ONLY the sidecar the commit's own manifest line
        // records — a bare changes/v<seq> dir on disk is not
        // evidence (a crashed op's orphan could carry that name
        // for an unrelated commit) and is left to [[vacuum]]
        case Some(cd) =>
          Seq(spark.read.option("mergeSchema", "true")
            .parquet(s"$table/$cd")
            .withColumn("_commit_version", lit(b.seq)))
        // LEGACY lines (pre-dirseqs, pre-recorded-sidecar tables)
        // never named their sidecar: for those — and ONLY those,
        // matching vacuum/expire's legacy protection — fall back
        // to the bare-name dir. A post-record commit that owns a
        // sidecar always names it, so an unrecorded bare dir at a
        // modern commit's seq stays an unclaimable orphan.
        case None if b.dirSeqs.isEmpty &&
            hexists(hpath(changesDir(table, b.seq))) =>
          Seq(spark.read.option("mergeSchema", "true")
            .parquet(changesDir(table, b.seq))
            .withColumn("_commit_version", lit(b.seq)))
        case None => throw new IllegalStateException(
          s"commit v${b.seq} of $table changed rows without a recorded " +
            "change capture (overwrite/rollback, or a delete/merge/" +
            "morDelete before setChangeCapture) — the feed cannot " +
            "replay it; read snapshots instead")
      })
    val phys =
      if (slices.isEmpty) readPhysical(table, to).limit(0)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("int"))
      else slices.reduce(_.unionByName(_, allowMissingColumns = true))
    logicalView(phys, to.colMap) // feed columns pass through unmapped
  }

  // ---- merge-on-read equality deletes (Iceberg v2 delete files) -----------
  //
  // Copy-on-write row-level ops ([[deleteRange]], [[merge]]) rewrite every
  // file group the predicate touches — the right trade for batch upserts,
  // the wrong one for frequent small deletes against a 100-TB table (one
  // revoked conversation rewrites a multi-GB group). Merge-on-read inverts
  // it: [[morDelete]] commits only a SMALL parquet of key tuples under
  // `deletes/` plus a manifest entry; readers subtract the keys via a
  // broadcast anti-join layered ABOVE the scan (so manifest stats/bloom
  // pruning below is untouched); [[applyDeletes]] folds the debt back into
  // the data files during maintenance, rewriting only the groups the keys
  // can actually touch. Scope follows Iceberg's sequence-number rule: a
  // delete file applies to file groups committed STRICTLY BEFORE it, so
  // re-inserting a deleted key after the delete behaves exactly like an
  // upsert history should.
  //
  // The content snapshot id stays EXACT under MOR: the delete commit runs
  // one stats/bloom-pruned pass over the applicable groups computing the
  // matched rows' xxhash64 sum and commits `baseSid - matchedSum` (the
  // same mod-2^64 additivity appends use) — a read-only pass, no write
  // amplification — so content-identity gates (compaction, idempotent
  // re-emit, [[applyDeletes]]' own commit) keep holding and double as a
  // self-check of the delete accounting.

  private def deleteFileDir(seq: Int): String =
    s"deletes/v$seq-${java.util.UUID.randomUUID().toString.take(8)}"

  /** The tip version's uncompacted equality-delete files. */
  def pendingDeletes(table: String): Seq[DeleteFile] =
    versions(table).lastOption.map(_.dels).getOrElse(Seq.empty)

  /** The pruning predicate of a delete-key frame, for
    * [[GraftFileIndex.mayMatch]]: per key column `c BETWEEN min AND max`
    * and, when the column's distinct keys are few enough to collect (it
    * is a DELETE BATCH, not a table), `c IN (keys)`, which brings the
    * bloom sidecars in. None when the frame has no non-null key at all.
    * A group whose schema lacks a key column fails its BETWEEN (all-null
    * never equality-matches).
    */
  private def keyScope(keys: DataFrame, cols: Seq[String]): Option[Expression] = {
    val row = keys.agg(min(col(cols.head)), (cols.tail.flatMap(c =>
      Seq(min(col(c)), max(col(c)))) :+ max(col(cols.head))): _*).collect()(0)
    if (row.isNullAt(0)) return None
    val ranges = cols.zipWithIndex.map { case (c, i) =>
      // head's (min at 0, max at last); tail packed pairwise after 0
      if (i == 0) betweenPred(c, row.get(0), row.get(row.length - 1))
      else betweenPred(c, row.get(2 * i - 1), row.get(2 * i))
    }
    val sets = cols.flatMap { c =>
      val vs = keys.select(col(c)).where(col(c).isNotNull)
        .distinct().limit(4097).collect().map(_.get(0)).toSeq
      if (vs.isEmpty || vs.size > 4096) None
      else scala.util.Try(In(AttributeReference(c, NullType)(), vs.map(Literal(_)))).toOption
    }
    Some((ranges ++ sets).reduce(And(_, _)))
  }

  /** MERGE-ON-READ equality delete: every table row whose key tuple
    * appears in `keys` (logical column names; null keys never match) is
    * deleted from the CURRENT data — committed as one small delete file
    * plus a manifest entry, with ZERO data-file rewrites. Write cost is
    * one pruned read-only pass (stats + blooms scope it to the groups
    * that can hold the keys) computing the matched-row hash adjustment,
    * so the content snapshot id stays exact. Rows appended AFTER this
    * commit are out of scope even under a deleted key (Iceberg v2
    * sequence-number semantics). Keys matching nothing commit nothing
    * (the tip is returned unchanged). Change capture, when enabled,
    * records the matched rows as `delete` preimages from the same pass's
    * group set. Read-side cost until [[applyDeletes]] or a rewrite folds
    * the debt: one broadcast anti-join per delete file above the scan.
    */
  def morDelete(keys: DataFrame, table: String)(implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    val cm = cur.colMap.getOrElse(ColMapping.identity)
    val logical = tableSchema(table).fieldNames.toSet
    require(keys.columns.nonEmpty, "delete keys need at least one column")
    keys.columns.foreach(c => require(logical.contains(c),
      s"no column $c in $table (have ${logical.toSeq.sorted.mkString(", ")})"))
    val pCols = keys.columns.toSeq.map(cm.physicalOf)
    val seq = cur.seq + 1
    val delDir = deleteFileDir(seq)
    // the delete file stores DISTINCT non-null key tuples in physical
    // name space — the exact frame readers anti-join with
    keys.toDF(pCols: _*).na.drop("any", pCols).distinct()
      .write.parquet(s"$table/$delDir")
    val keyDf = spark.read.parquet(s"$table/$delDir")
    def abandon(): Version = { deleteRecursively(hpath(table, delDir)); cur }
    val scope = keyScope(keyDf, pCols).getOrElse(return abandon())
    // every current dir predates seq, so scope = dirs the evidence keeps
    val surviving = cur.dirs.filter(groupMayMatch(table, _, scope))
    if (surviving.isEmpty) return abandon()
    // matched-row hash adjustment: per dir IN ITS OWN column order (the
    // order its stats sidecar hashed under), semi-joined with the keys —
    // one job over only the surviving groups. Dirs lacking a key column
    // contribute nothing (all-null never matches).
    val usable = surviving.filter { d =>
      val cols = groupStats(table, d).flatMap(_.schema).map(_.fieldNames.toSet)
        .getOrElse(spark.read.parquet(s"$table/$d").columns.toSet)
      pCols.forall(cols)
    }
    if (usable.isEmpty) return abandon()
    val bcast = org.apache.spark.sql.functions.broadcast(keyDf)
    val hashed = usable.map { d =>
      val df = spark.read.parquet(s"$table/$d")
      df.select(pCols.map(col) :+
        xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("_h"): _*)
    }
    val aggRow = hashed.reduce(_.unionByName(_))
      .join(bcast, pCols, "left_semi")
      .agg(sum(col("_h")).as("_s"), count(lit(1)).as("_n")).collect()(0)
    val matched = aggRow.getLong(1)
    if (matched == 0L) return abandon()
    val adj = aggRow.getDecimal(0).toBigInteger
      .mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
    // CDF: the deleted rows are exactly the semi-join over the same dirs
    val chDir =
      if (!changeCaptureEnabled(table)) None
      else {
        val touchedDf = spark.read.option("mergeSchema", "true")
          .parquet(usable.map(d => s"$table/$d"): _*)
        Some(captureChanges(table, seq,
          Seq((touchedDf.join(bcast, pCols, "left_semi"), "delete"))))
      }
    val entry = DeleteFile(delDir, seq, pCols, matched)
    commitRewrite(table, cur, "equality delete",
      delsF = (base, nd) => carryDels(base, nd) :+ entry, changes = chDir)(
      cur.dirs, cur.snapshotId - adj) // Long wraparound = mod 2^64
  }

  /** MOR read resolution: the version's data dirs grouped into STRATA by
    * which delete files apply (the common case is two — pre-delete dirs
    * and post-delete appends), each stratum read through `reader` with
    * its delete files subtracted by broadcast anti-joins ABOVE the scan —
    * user filters still push below to manifest/bloom pruning. A stratum
    * lacking a key column skips that join (all-null never matches).
    */
  private def resolveMor(table: String, v: Version,
      reader: Seq[String] => DataFrame)(implicit spark: SparkSession): DataFrame = {
    if (v.dels.isEmpty) return reader(v.dirs)
    val strata = v.dirs.groupBy(d => applicableDels(v, d)).toSeq
      .sortBy { case (dels, _) => dels.map(_.seq).sum } // deterministic plan
    strata.map { case (dels, ds) =>
      dels.sortBy(_.seq).foldLeft(reader(ds)) { (df, del) =>
        if (!del.cols.forall(df.columns.contains)) df
        else df.join(
          org.apache.spark.sql.functions.broadcast(
            spark.read.parquet(s"$table/${del.dir}")),
          del.cols, "left_anti")
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Fold every pending delete file back into the data (Iceberg's
    * rewrite-with-delete-files maintenance): groups the stats/blooms
    * prove key-free carry over BY REFERENCE; each remaining group is
    * anti-joined and rewritten IN PLACE of itself (group boundaries kept,
    * no table-wide shuffle — O(groups touched) like the copy-on-write
    * ops). Committed GATED on content identity: carried + rewritten
    * snapshot ids must reproduce the tip's id exactly, so any drift in
    * the MOR hash accounting fails loudly here instead of corrupting.
    * The new version carries no delete files; the applied files stay on
    * disk for older versions' time travel until [[expire]] drops them.
    */
  def applyDeletes(table: String)(implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    if (cur.dels.isEmpty) return cur
    val seq = cur.seq + 1
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val delKeys: Map[String, DataFrame] = cur.dels.map(df =>
      df.dir -> spark.read.parquet(s"$table/${df.dir}")).toMap
    val delScope: Map[String, Option[Expression]] = cur.dels.map(del =>
      del.dir -> keyScope(delKeys(del.dir), del.cols)).toMap
    // an empty delete file (no scope) matches nothing
    def mayTouch(d: String, del: DeleteFile): Boolean =
      delScope(del.dir).exists(groupMayMatch(table, d, _))
    val (affected, untouched) = cur.dirs.partition(d =>
      applicableDels(cur, d).exists(del => mayTouch(d, del)))
    if (affected.isEmpty) // every group provably key-free: drop the debt
      return commitRewrite(table, cur, "applyDeletes", delsF = (_, _) => Seq.empty)(
        cur.dirs, cur.snapshotId)
    val rewritten = affected.zipWithIndex.map { case (d, i) =>
      val nd = s"data/v$seq-applydel$i-$sfx"
      val src = spark.read.parquet(s"$table/$d")
      val resolved = applicableDels(cur, d).filter(mayTouch(d, _)).sortBy(_.seq)
        .foldLeft(src) { (df, del) =>
          if (!del.cols.forall(df.columns.contains)) df
          else df.join(
            org.apache.spark.sql.functions.broadcast(delKeys(del.dir)),
            del.cols, "left_anti")
        }
      val (sid, rows) = writeGroup(table, nd, resolved)
      (nd, sid, rows)
    }
    // all-deleted groups contribute nothing — keep one empty group only
    // when it would be the last (the schema carrier for empty reads)
    val kept0 = rewritten.filter(_._3 > 0)
    val kept =
      if (kept0.nonEmpty || untouched.nonEmpty) kept0
      else rewritten.take(1)
    rewritten.filterNot(kept.contains).foreach(r => deleteRecursively(hpath(table, r._1)))
    val sid = untouched.map(d => dirSid(table, d)).sum + kept.map(_._2).sum
    if (sid != cur.snapshotId) {
      kept.foreach(r => deleteRecursively(hpath(table, r._1)))
      throw new IllegalStateException(
        s"applyDeletes accounting drift: resolved content id $sid != " +
          s"tip ${cur.snapshotId} — refusing to commit")
    }
    commitRewrite(table, cur, "applyDeletes", delsF = (_, _) => Seq.empty)(
      untouched ++ kept.map(_._1), cur.snapshotId)
  }

  /** A file group's content snapshot id, from its stats sidecar when
    * present (every dir written since sids were persisted) or recomputed
    * by one scan otherwise. Row-level commits ([[deleteRange]], [[merge]])
    * derive a new version's id as the mod-2^64 SUM of its dirs' ids — the
    * same additivity [[append]] uses — so carried-over file groups never
    * need re-reading to re-derive the table id.
    */
  private def dirSid(table: String, dir: String)(implicit spark: SparkSession): Long =
    statsSidecarSid(table, dir).getOrElse(
      TableIO.snapshotId(spark.read.parquet(s"$table/$dir")))

  private def statsSidecarSid(table: String, dir: String): Option[Long] =
    hreadOpt(statsPath(table, dir)).flatMap(
      """"sid":(-?\d+)""".r.findFirstMatchIn(_).map(_.group(1).toLong))

  /** Decoded manifest stats for one file group — the read-side contract
    * [[GraftFileIndex]] plans against: `rows`, the group's schema (absent
    * for pre-stats dirs), and per-column min/max with strings ALREADY
    * un-Base64'd (comparisons happen in UTF-8 byte order downstream).
    * `min == None` with `rows > 0` means the column is all-null in this
    * group; a column missing from `cols` but present in `schema` is a
    * non-stats type (keep conservatively); a column missing from `schema`
    * does not exist in the group at all — merged reads surface it as null.
    */
  final case class GroupColStats(isString: Boolean, min: Option[String], max: Option[String])
  final case class GroupStats(rows: Long, schema: Option[StructType],
      cols: Map[String, GroupColStats], files: Option[Seq[(String, Long)]] = None)

  def groupStats(table: String, dir: String): Option[GroupStats] =
    dirStats(table, dir).map { st =>
      GroupStats(st.rows, st.schema, st.cols.map { case (n, cs) =>
        val dec = if (cs.typ == "s") (s: String) => unb64(s) else identity[String] _
        n -> GroupColStats(cs.typ == "s", cs.min.map(dec), cs.max.map(dec))
      }, st.files)
    }

  private val colStatRe =
    """"([^"]+)":\{"t":"([ns])","min":(null|"[^"]*"),"max":(null|"[^"]*")\}""".r

  private def dirStats(table: String, dir: String): Option[DirStats] = {
    val json = hreadOpt(statsPath(table, dir)).getOrElse(return None)
    val rows = """"rows":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    val schema = """"schema":"([^"]*)"""".r.findFirstMatchIn(json)
      .flatMap(m => scala.util.Try(StructType.fromDDL(unb64(m.group(1)))).toOption)
    // pre-upgrade sidecars lack the files list: None = caller must list
    val files = """"files":\[([^\]]*)\]""".r.findFirstMatchIn(json).map(m =>
      """\{"n":"([^"]*)","b":(\d+)\}""".r.findAllMatchIn(m.group(1))
        .map(f => (unb64(f.group(1)), f.group(2).toLong)).toSeq)
    rows.map { r =>
      val cols = colStatRe.findAllMatchIn(json).map { m =>
        def v(g: String) =
          if (g == "null") None else Some(g.stripPrefix("\"").stripSuffix("\""))
        m.group(1) -> ColStats(m.group(2), v(m.group(3)), v(m.group(4)))
      }.toMap
      DirStats(r, schema, cols, files)
    }
  }

  /** Union schema of a version's file groups, answered purely from the
    * stats sidecars (no parquet footer reads) — None if any group lacks
    * one. Field order: first occurrence across dirs in manifest order.
    */
  private def unionSchema(table: String, v: Version): Option[StructType] = {
    val schemas = v.dirs.map(d => dirStats(table, d).flatMap(_.schema))
    if (schemas.exists(_.isEmpty)) None
    else Some(schemas.flatten.foldLeft(new StructType()) { (acc, sch) =>
      sch.fields.foldLeft(acc)((a, f) =>
        if (a.fieldNames.contains(f.name)) a else a.add(f))
    })
  }

  /** Manifest-level file skipping: split a version's file groups into
    * (mustRead, skippable) for the predicate `column BETWEEN lo AND hi`,
    * decided by [[GraftFileIndex.mayMatch]] — the evaluator scans plan
    * with. A dir is skippable only on positive evidence: no rows, an
    * all-null column, a column absent from the group's schema, or a
    * [min,max] disjoint from [lo,hi]; a missing sidecar or unstated
    * column keeps the dir (conservative). The bounds become literals the
    * way a pushed-down filter's do (`lit(v)`), so timestamps and
    * dates compare in the epoch micros/days the stats record, and
    * strings in unsigned UTF-8 byte order.
    */
  def pruneDirs(table: String, v: Version, column: String,
                lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val pred = betweenPred(column, lo, hi)
    v.dirs.partition(groupMayMatch(table, _, pred))
  }

  /** `column BETWEEN lo AND hi` as Catalyst hands it to a scan (the
    * bounds become literals the way `lit(v)` builds them), or TRUE (no
    * evidence, keep) when a bound has no literal form.
    */
  private def betweenPred(column: String, lo: Any, hi: Any): Expression = {
    val a = AttributeReference(column, NullType)()
    scala.util.Try[Expression](
      And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi))))
      .getOrElse(Literal.TrueLiteral)
  }

  /** Can file group `d` of `table` hold a row satisfying `pred`? */
  private def groupMayMatch(table: String, d: String, pred: Expression): Boolean =
    GraftFileIndex.mayMatch(table, FileGroup(d, groupStats(table, d), Seq.empty), pred)

  /** Range read through the manifest stats: opens ONLY the file groups
    * whose [min,max] can intersect `column BETWEEN lo AND hi`, then
    * applies the exact predicate (parquet row-group pruning still runs
    * below on whatever survives). At 100 TB this is the difference
    * between listing/planning thousands of file groups and a handful —
    * the planner never even names the non-matching files.
    */
  def readRange(table: String, column: String, lo: Any, hi: Any)(
      implicit spark: SparkSession): DataFrame =
    // one declarative filter over the FileIndex-planned scan: Catalyst
    // pushes the BETWEEN into GraftFileIndex.listFiles, which asks the
    // same evaluator as [[pruneDirs]] (with zero directory listings and
    // the nothing-matches empty case) — this method survives as the
    // named convenience for the planner seam
    scan(table).where(col(column).between(lit(lo), lit(hi)))

  /** remove_orphan_files: delete data dirs referenced by NO committed
    * version — the debris of crashed writers (data written, manifest line
    * never appended) and of an expire that died mid-delete. A dir becomes
    * reachable only via a manifest line, so an unreferenced dir is
    * invisible to every reader — but an IN-FLIGHT writer's dir is also
    * unreferenced until its commit lands, which is why (exactly like
    * Iceberg's remove_orphan_files `older_than`) only dirs whose newest
    * file is older than `olderThanMillis` qualify: a live writer's data
    * is always younger than any sane threshold. Returns the deleted dirs.
    */
  def vacuum(table: String,
      olderThanMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val dataRoot = hpath(table, "data")
    if (!hexists(dataRoot)) return Seq.empty
    val fs = fsOf(dataRoot)
    val referenced = versions(table).flatMap(_.dirs).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // a candidate can vanish between the listing and the mtime walk (a
    // racing expire's post-lock deletes, or a losing appendOnce racer
    // reclaiming its own debris) — treat it as "not an orphan" instead of
    // letting a missing-file error abort the sweep mid-way
    def newestMtime(root: HPath): Option[Long] =
      scala.util.Try {
        val it = fs.listFiles(root, true)
        var mx = fs.getFileStatus(root).getModificationTime
        while (it.hasNext) mx = math.max(mx, it.next().getModificationTime)
        mx
      }.toOption
    val orphans = scala.util.Try(fs.listStatus(dataRoot).toSeq).getOrElse(Seq.empty)
      .map(f => s"data/${f.getPath.getName}")
      .filterNot(referenced)
      .filter(d => newestMtime(hpath(table, d)).exists(_ <= cutoff))
      .toList
    // change-capture sidecars of UNCOMMITTED versions (a writer that
    // crashed between capture and manifest commit) are orphans too —
    // committed seqs keep theirs until [[expire]] drops the version
    val chRoot = hpath(table, "changes")
    // a sidecar survives only while a retained manifest line RECORDS it
    // (legacy pre-record tables: while its name-seq is a retained
    // version — those lines carry no pointer to check against)
    val recordedCh = versions(table).flatMap(_.changes)
      .map(_.stripPrefix("changes/")).toSet
    // bare v<seq> names are protected ONLY for genuinely legacy lines
    // (no dirseqs, no changes pointer — written before sidecars were
    // recorded); a post-record commit that owns a sidecar names it in
    // its line, so an unrecorded bare-name dir at a live seq is a
    // crashed op's orphan, not anyone's change set
    val legacySeqs = versions(table)
      .filter(v => v.changes.isEmpty && v.dirSeqs.isEmpty)
      .map(v => s"v${v.seq}").toSet
    val chOrphans =
      if (!hexists(chRoot)) Nil
      else scala.util.Try(fsOf(chRoot).listStatus(chRoot).toSeq).getOrElse(Seq.empty)
        .map(_.getPath.getName)
        .filterNot(n => recordedCh.contains(n) || legacySeqs.contains(n))
        .map(n => s"changes/$n")
        .filter(d => newestMtime(hpath(table, d)).exists(_ <= cutoff))
        .toList
    // equality-delete files referenced by NO retained version (a morDelete
    // that crashed between the key write and the manifest commit, or a
    // no-op delete whose cleanup died) are orphans like data dirs
    val delRoot = hpath(table, "deletes")
    val refDels = versions(table).flatMap(_.dels.map(_.dir)).toSet
    val delOrphans =
      if (!hexists(delRoot)) Nil
      else scala.util.Try(fsOf(delRoot).listStatus(delRoot).toSeq).getOrElse(Seq.empty)
        .map(f => s"deletes/${f.getPath.getName}")
        .filterNot(refDels)
        .filter(d => newestMtime(hpath(table, d)).exists(_ <= cutoff))
        .toList
    val all = orphans ++ chOrphans ++ delOrphans
    all.foreach(d => deleteRecursively(hpath(table, d)))
    all
  }

  /** rewrite_data_files (binpack): fold the latest version's accreted
    * file groups into `targetGroups` fresh dirs and commit the result as
    * a new version, GATED on content identity — the recomputed snapshot
    * id must equal the current version's or the commit is refused. Old
    * versions remain time-travelable until [[expire]]. Compacting a
    * schema-EVOLVED version passes the gate too — the rewrite widens
    * pre-evolution rows with null columns, and xxhash64 skips null
    * fields, so the widened rows hash identically and compaction doubles
    * as schema normalization (TableIOSpec pins this).
    */
  def compact(table: String, targetGroups: Int = 1)(
      implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    // a single-group table with pending MOR deletes still needs the
    // rewrite: compacting IS how the delete debt folds into the data
    if (cur.dirs.size <= 1 && cur.dels.isEmpty) return cur
    val seq = cur.seq + 1
    val dir = s"data/v$seq-compact-${java.util.UUID.randomUUID().toString.take(8)}"
    readVersion(table, cur).repartition(targetGroups).write.parquet(s"$table/$dir")
    val sid = writeStats(table, dir)
    if (sid != cur.snapshotId) {
      // clean up before throwing: the failed rewrite is a full table copy,
      // and leaving it as vacuum-horizon debris doubles disk until then
      deleteRecursively(hpath(table, dir))
      throw new IllegalStateException(
        s"compaction changed content: $sid != ${cur.snapshotId} — refusing to commit")
    }
    commitRewrite(table, cur, "compaction")(Seq(dir), sid)
  }

  /** rewrite_data_files (SORT strategy): re-cluster the latest version by
    * `column` into up to `targetGroups` RANGE-DISJOINT file groups — one
    * shuffle (`repartitionByRange` + a within-partition sort), each range
    * partition fanned into its own dir by a `partitionBy` staging write
    * (no per-group re-scan, no driver-side cut-point collection), then
    * committed as a new version GATED on content identity exactly like
    * [[compact]]. This is what turns the manifest stats from "sometimes
    * skips" into "names only the matching file groups": append/streaming
    * accretion interleaves key ranges so every group overlaps every
    * predicate and the manifest evaluator ([[GraftFileIndex.mayMatch]])
    * can skip nothing — after the sorted
    * rewrite a range predicate opens O(range/groupWidth) groups. At
    * 100 TB this is the standing maintenance op behind fast scans (run it
    * per partition/day as data settles), and a delete/merge keyed on
    * `column` gets the same benefit: write amplification drops to the
    * groups the key range actually touches. Null keys sort first (range
    * partitioner semantics) and land in the first group, whose stats then
    * show the column nullable-min — BETWEEN predicates never match null,
    * so pruning stays correct. Old versions stay time-travelable; the
    * commit appends a manifest line (txn keys untouched).
    */
  def rewriteSorted(table: String, column: String, targetGroups: Int = 8)(
      implicit spark: SparkSession): Version = {
    val pc = currentMapping(table).physicalOf(column)
    rewriteByRange(table, _ => Seq(col(pc)), targetGroups, "sort")
  }

  /** rewrite_data_files (ZORDER strategy): re-cluster the latest version
    * along SEVERAL dimensions at once by range-partitioning on a Morton
    * (bit-interleaved) key, so each resulting file group's [min,max] is
    * narrow on EVERY z-ordered column and a conjunctive multi-dimensional
    * range predicate prunes at the manifest layer — the case a
    * single-column sort structurally cannot serve (sorting by `a` leaves
    * every group spanning all of `b`). Same content-identity gate, commit
    * shape and time-travel story as [[rewriteSorted]].
    *
    * The z key buckets each column to 8 bits by its EMPIRICAL QUANTILES
    * (one approxQuantile pass — see [[zValue]] for why rank beats range
    * scaling) and interleaves the bucket bits. Quantization affects
    * CLUSTERING QUALITY only — the committed per-group stats are exact,
    * so pruning stays evidence-based no matter how coarse the key. Null
    * dimension values fold to the z origin (range comparisons never
    * match null, so the all-in-one-group placement costs nothing).
    * Dimensions must be numeric, string, timestamp or date — an
    * unsupported type throws rather than silently degenerating the
    * curve to a 1-D sort on the other axes. At 100 TB this is the
    * standing maintenance op for tables with two access axes — e.g.
    * triples probed by (conv range × time range) — where either
    * single-column layout leaves the other axis a full scan.
    */
  def rewriteZOrder(table: String, columns: Seq[String], targetGroups: Int = 8)(
      implicit spark: SparkSession): Version = {
    require(columns.size >= 2,
      s"z-order needs >= 2 columns, got $columns (use rewriteSorted for one)")
    require(columns.size <= 4, s"z-order interleaves at most 4 columns, got $columns")
    val m = currentMapping(table)
    rewriteByRange(table, df => Seq(zValue(df, columns.map(m.physicalOf))),
      targetGroups, "zorder")
  }

  /** The Morton key as a pure Column expression: each dimension is
    * quantized to an 8-bit bucket by its EMPIRICAL QUANTILES (one
    * approxQuantile pass), then the bucket bits interleave via codegen'd
    * shifts/masks — no UDF. Rank-based quantization is load-bearing, not
    * a nicety: scaling by [min,max] parks a long-tailed dimension's rows
    * (document lengths, timestamps with stragglers) in a sliver of the
    * bucket space, its interleaved bits go constant, and the curve
    * degenerates to a 1-D sort on the other axis — measured before this
    * design: a doc_id×n_chars box opened exactly as many groups as the
    * plain sort. Quantile buckets make every dimension uniform BY COUNT,
    * which is what balances the z cells (the same reason Delta's
    * OPTIMIZE ZORDER uses range-partition ids per column). Strings ride
    * a 2-byte-prefix numeric proxy (prefix locality — quality only; the
    * committed stats stay exact). Null raws bucket to 0 (the filter
    * lambda's null predicate keeps nothing).
    */
  private def zValue(df: DataFrame, columns: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{array, ascii, coalesce, filter, shiftleft, shiftright, size, substring}
    import org.apache.spark.sql.types.NumericType
    columns.foreach(c => require(df.schema.fieldNames.contains(c), s"no column $c"))
    val raws: Seq[Column] = columns.map { c =>
      df.schema(c).dataType match {
        case _: NumericType => col(c).cast("double")
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          col(c).cast(org.apache.spark.sql.types.TimestampType)
            .cast("double") // epoch seconds (quality only)
        case org.apache.spark.sql.types.DateType =>
          org.apache.spark.sql.functions.unix_date(col(c)).cast("double")
        case StringType =>
          // null propagates (excluded from the quantile summary); a
          // 1-char string's second byte is 0
          ((ascii(substring(col(c), 1, 1)).cast("long") % 256L) * 256L +
            coalesce(ascii(substring(col(c), 2, 1)), lit(0)).cast("long") % 256L)
            .cast("double")
        case other =>
          // a constant fallback would SILENTLY degenerate the curve to a
          // 1-D sort on the other axes — the advertised layout contract
          // would break with a success message
          throw new IllegalArgumentException(
            s"z-order dimension $c has unsupported type $other " +
              "(numeric, string, timestamp or date)")
      }
    }
    val names = raws.indices.map(i => s"_z$i")
    val proxy = df.select(raws.zip(names).map { case (r, nm) => r.as(nm) }: _*)
    val probs = (1 until 256).map(_ / 256.0).toArray
    val cuts = proxy.stat.approxQuantile(names.toArray, probs, 0.005)
    val u8s: Seq[Column] = raws.zip(cuts.toSeq).map { case (raw, q) =>
      // duplicate cut points are KEPT: a dimension with few distinct
      // values (or heavy ties) then still spreads across the full 8-bit
      // width (value v buckets to ~256·P(X<=v)), which keeps the
      // interleave power-of-two aligned — collapsing duplicates would
      // compress such a dimension into the low bits and fragment boxes
      val qs = q.sorted
      if (qs.isEmpty) lit(0L) // all-null dimension
      else size(filter(array(qs.map(lit(_)): _*), c => raw >= c)).cast("long")
    }
    val safe = u8s.map(u => coalesce(u, lit(0L)))
    val n = safe.size
    (0 until 8).flatMap { b =>
      safe.zipWithIndex.map { case (u, i) =>
        shiftleft(shiftright(u, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Shared body of the SORT and ZORDER rewrites: one
    * `repartitionByRange` shuffle on the cluster expressions, each range
    * partition fanned into its own file group by a `partitionBy` staging
    * write (no per-group re-scan, no driver-side cut-point collection),
    * committed as a new version GATED on content identity like
    * [[compact]]. `clusterExprs` sees the version's DataFrame so it can
    * derive bounds (z-order) before producing the expressions.
    */
  private def rewriteByRange(table: String, clusterExprs: DataFrame => Seq[Column],
      targetGroups: Int, tag: String)(implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    val seq = cur.seq + 1
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"data/v$seq-${tag}stage-$sfx"
    // the _g projection must sit ABOVE the range exchange (spark_partition_id
    // is nondeterministic, so Catalyst won't push it below); sorting by
    // (_g, exprs) is the same per-partition order as (exprs) — _g is
    // constant within a partition — while satisfying the file writer's
    // partition-column ordering requirement, so no second sort is inserted
    // and files come out key-ordered for parquet row-group pruning below
    // the manifest layer
    val src = readVersion(table, cur)
    // '_g' is this rewrite's reserved staging column: silently clobbering
    // a real column of that name would drop it from the rewritten files
    // and surface as a misleading content-identity failure AFTER the full
    // shuffle+write is paid — fail fast with the actual cause instead
    require(!src.columns.contains("_g"),
      s"$tag rewrite reserves the staging column name '_g', " +
        s"which $table already has — rename the column first")
    val exprs = clusterExprs(src)
    src
      .repartitionByRange(targetGroups, exprs: _*)
      .withColumn("_g", org.apache.spark.sql.functions.spark_partition_id())
      .sortWithinPartitions(col("_g") +: exprs: _*)
      .write.partitionBy("_g").parquet(s"$table/$staging")
    val stagingPath = hpath(table, staging)
    val stagingFs = fsOf(stagingPath)
    val groups = stagingFs.listStatus(stagingPath).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("_g=")).toList.sortBy(_.stripPrefix("_g=").toInt)
    val dirs = groups.map { g =>
      val d = s"data/v$seq-$tag${g.stripPrefix("_g=")}-$sfx"
      // Hadoop rename reports most failures by RETURNING FALSE, not
      // throwing — proceeding would let deleteRecursively(staging) below
      // destroy the un-moved group's only copy
      require(stagingFs.rename(new HPath(stagingPath, g), hpath(table, d)),
        s"rename of staging group $g to $d failed — aborting $tag rewrite " +
          "with the staging copy intact")
      d
    }
    deleteRecursively(stagingPath)
    if (dirs.isEmpty) return cur // 0-row table: keep its schema-carrying group
    var sid = 0L
    dirs.foreach(d => sid += writeStats(table, d)) // mod-2^64 additive
    if (sid != cur.snapshotId) {
      dirs.foreach(d => deleteRecursively(hpath(table, d)))
      throw new IllegalStateException(
        s"$tag rewrite changed content: $sid != ${cur.snapshotId} — refusing to commit")
    }
    commitRewrite(table, cur, s"$tag rewrite")(dirs, sid)
  }

  /** Write a file group and return (content snapshot id, row count). An
    * empty result still writes a schema-carrying parquet file (Spark's
    * writer runs at least one task), so reads of a version that deleted
    * everything keep their schema.
    */
  private def writeGroup(table: String, dir: String, df: DataFrame)(
      implicit spark: SparkSession): (Long, Long) = {
    df.write.parquet(s"$table/$dir")
    val sid = writeStats(table, dir)
    (sid, dirStats(table, dir).map(_.rows).getOrElse(0L))
  }

  /** Row-level DELETE, copy-on-write, SCOPED BY THE MANIFEST STATS: only
    * the file groups whose [min,max] intersects `column BETWEEN lo AND hi`
    * are read and rewritten; every other group is carried into the new
    * version by reference (same dir name, zero IO). Rows with a NULL
    * `column` never match a BETWEEN and are kept. At 100 TB a retention
    * delete (e.g. drop one day from a time-grouped table) touches the
    * handful of groups whose range intersects — the same pruning that
    * makes [[readRange]] O(groups matched) makes the delete's write
    * amplification O(groups matched) instead of O(table).
    */
  def deleteRange(table: String, column: String, lo: Any, hi: Any)(
      implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    // the touched-group rewrite reads raw parquet; pending MOR deletes
    // would resurrect their rows into the remainder — fold the debt first
    require(cur.dels.isEmpty,
      s"$table has pending equality-delete files — run applyDeletes " +
        "(or compact) before copy-on-write row-level ops")
    // `column` is the caller's LOGICAL name; the rewrite runs physical
    val pc = cur.colMap.getOrElse(ColMapping.identity).physicalOf(column)
    val (touched, untouched) = pruneDirs(table, cur, pc, lo, hi)
    if (touched.isEmpty) return cur // stats prove nothing matches
    val seq = cur.seq + 1
    val dir = s"data/v$seq-del-${java.util.UUID.randomUUID().toString.take(8)}"
    val touchedDf = spark.read.option("mergeSchema", "true")
      .parquet(touched.map(d => s"$table/$d"): _*)
    // change capture: the deleted rows are the complement of the remainder
    // over the SAME touched groups the rewrite reads anyway — one extra
    // write of the deleted rows, no extra groups opened
    val chDir =
      if (!changeCaptureEnabled(table)) None
      else Some(captureChanges(table, seq, Seq(
        (touchedDf.where(col(pc).isNotNull && col(pc).between(lit(lo), lit(hi))),
          "delete"))))
    val remainder = touchedDf.where(
      col(pc).isNull || !col(pc).between(lit(lo), lit(hi)))
    val (remSid, remRows) = writeGroup(table, dir, remainder)
    // an all-deleted rewrite contributes nothing — drop it unless it is
    // the only group left (then it carries the schema for empty reads)
    val keepRem = remRows > 0 || untouched.isEmpty
    if (!keepRem) deleteRecursively(hpath(table, dir))
    val newDirs = untouched ++ (if (keepRem) Seq(dir) else Seq.empty)
    val sid = untouched.map(d => dirSid(table, d)).sum + (if (keepRem) remSid else 0L)
    commitRewrite(table, cur, "delete", changes = chDir)(newDirs, sid)
  }

  /** MERGE (upsert) keyed on `key`: rows of `batch` replace same-key rows
    * of the table; keys the table lacks insert. Copy-on-write scoped by
    * the manifest stats — only file groups whose [min,max] intersects the
    * batch's key RANGE are anti-joined and rewritten (the batch is
    * broadcast: a merge batch is small next to a 100-TB table); groups
    * outside the range carry over by reference, unread. Batch rows with a
    * NULL key insert (no match is possible); table rows with a NULL key
    * are never replaced. One commit line lands the rewrite + the batch
    * atomically — readers see either the old version or the fully merged
    * one. This is the reference's backup-table merge dance
    * (MergeAndExportInfo.py:85-89) as a single snapshot commit.
    */
  def merge(batch: DataFrame, table: String, key: String)(
      implicit spark: SparkSession): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val cur = vs.last
    // same reason as [[deleteRange]]: the anti-join below reads raw groups
    require(cur.dels.isEmpty,
      s"$table has pending equality-delete files — run applyDeletes " +
        "(or compact) before copy-on-write row-level ops")
    // the batch speaks LOGICAL names; translate it and the key — the
    // rewrite below then runs entirely in physical name space
    val cm = cur.colMap.getOrElse(ColMapping.identity)
    val (pBatch, minted) = toPhysical(batch, cm)
    val pKey = cm.physicalOf(key)
    val seq = cur.seq + 1
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val batchDir = s"data/v$seq-mrg-new-$sfx"
    val (batchSid, batchRows) = writeGroup(table, batchDir, pBatch)
    if (batchRows == 0) { deleteRecursively(hpath(table, batchDir)); return cur }
    // the batch's key bounds come from the stats sidecar writeGroup just
    // produced — no second scan of data already aggregated once. Both
    // forms pass as strings: a string literal compares as a string
    // against string stats and as a BigDecimal against numeric ones, so
    // numeric bounds (timestamps/dates included, recorded as epoch
    // micros/days like the table's stats) compare exactly as recorded
    val (touched, untouched) = dirStats(table, batchDir).flatMap(_.cols.get(pKey)) match {
      case Some(cs) if cs.min.isEmpty =>
        (Seq.empty[String], cur.dirs) // all-null keys: pure insert
      case Some(cs) =>
        val (lo, hi) =
          if (cs.typ == "s") (unb64(cs.min.get), unb64(cs.max.get))
          else (cs.min.get, cs.max.get)
        pruneDirs(table, cur, pKey, lo, hi)
      case None => // key type outside the stats domain: one bounded scan
        val b = spark.read.parquet(s"$table/$batchDir")
          .agg(min(col(pKey)), max(col(pKey))).collect()(0)
        if (b.isNullAt(0)) (Seq.empty[String], cur.dirs)
        else pruneDirs(table, cur, pKey, b.get(0), b.get(1))
    }
    // change capture: preimages are the table rows the batch replaces
    // (semi-join inside the already-touched groups — stats pruning proves
    // untouched groups hold no batch key), postimages the batch rows that
    // matched, inserts the rest. The matched-key set is ≤ |batch| and
    // rides broadcast both ways.
    val chDir =
      if (!changeCaptureEnabled(table)) None
      else {
        import org.apache.spark.sql.functions.broadcast
        val pBatchDf = spark.read.parquet(s"$table/$batchDir")
        if (touched.isEmpty)
          Some(captureChanges(table, seq, Seq((pBatchDf, "insert"))))
        else {
          val touchedDf = spark.read.option("mergeSchema", "true")
            .parquet(touched.map(d => s"$table/$d"): _*)
          val batchKeys = broadcast(
            pBatchDf.select(col(pKey)).where(col(pKey).isNotNull).distinct())
          val pre = touchedDf.join(batchKeys, Seq(pKey), "left_semi")
          val matched = broadcast(pre.select(col(pKey)).distinct())
          Some(captureChanges(table, seq, Seq(
            (pre, "update_preimage"),
            (pBatchDf.join(matched, Seq(pKey), "left_semi"), "update_postimage"),
            (pBatchDf.join(matched, Seq(pKey), "left_anti"), "insert"))))
        }
      }
    val remDirKeptSid: Option[(String, Long)] = if (touched.isEmpty) None else {
      val remDir = s"data/v$seq-mrg-rem-$sfx"
      val touchedDf = spark.read.option("mergeSchema", "true")
        .parquet(touched.map(d => s"$table/$d"): _*)
      val keys = spark.read.parquet(s"$table/$batchDir")
        .select(col(pKey)).where(col(pKey).isNotNull).distinct()
      val remainder = touchedDf.join(
        org.apache.spark.sql.functions.broadcast(keys), Seq(pKey), "left_anti")
      val (remSid, remRows) = writeGroup(table, remDir, remainder)
      if (remRows > 0) Some((remDir, remSid))
      else { deleteRecursively(hpath(table, remDir)); None }
    }
    val newDirs = untouched ++ remDirKeptSid.map(_._1).toSeq :+ batchDir
    val sid = untouched.map(d => dirSid(table, d)).sum +
      remDirKeptSid.map(_._2).getOrElse(0L) + batchSid
    commitRewrite(table, cur, "merge", colMapF = extendMapping(minted),
      changes = chDir)(newDirs, sid)
  }

  /** Latest committed version. */
  def read(table: String)(implicit spark: SparkSession): DataFrame = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    readVersion(table, vs.last)
  }

  /** Latest version as a DataFrame whose scan plans through
    * [[GraftFileIndex]]: Catalyst's own pushed-down data filters drive
    * manifest-level file skipping, so a plain `scan(t).where(...)` (or the
    * same query via `spark.sql` over a temp view) opens only the file
    * groups whose stats can match — no special `readRange` call needed.
    * This is the Delta/Iceberg integration shape: the table format plugs
    * in at the FileIndex seam and the rest of the planner (column pruning,
    * parquet row-group pruning, AQE) composes above and below it.
    */
  def scan(table: String)(implicit spark: SparkSession): DataFrame = {
    val v = resolveVersion(table, None)
    if (v.dels.isEmpty) scanIndexed(table)._1
    else {
      // pending equality deletes: per-stratum FileIndex scans with the
      // anti-joins layered above — user filters still push down to
      // manifest/bloom pruning, deleted rows never surface
      val schema = physUnionSchema(table, v)
      logicalView(resolveMor(table, v, ds =>
        spark.baseRelationToDataFrame(
          new GraftFileIndex(spark, table, fileGroups(table, ds)).relation(schema))),
        v.colMap)
    }
  }

  /** [[scan]] plus its FileIndex, so callers (tests, metrics) can observe
    * which file groups the last query actually planned. `asOf` plans a
    * retained historical version instead of the latest (time travel with
    * full pruning — Delta's `versionAsOf`). Tables with pending equality
    * deletes have no single observable index (their scan is a union of
    * per-stratum plans) — use [[scan]] or [[applyDeletes]] first.
    */
  def scanIndexed(table: String, asOf: Option[Int] = None)(
      implicit spark: SparkSession): (DataFrame, GraftFileIndex) = {
    val v = resolveVersion(table, asOf)
    require(v.dels.isEmpty,
      s"$table v${v.seq} has pending equality-delete files — scanIndexed " +
        "exposes one plan index; read via scan (MOR-resolving) or applyDeletes first")
    val (rel, idx) = relationFor(table, v)
    (logicalView(spark.baseRelationToDataFrame(rel), v.colMap), idx)
  }

  /** The pruning-capable relation behind [[scan]] — also what the
    * `graft-versioned` format's batch read path hands the planner.
    */
  def scanRelation(table: String, asOf: Option[Int] = None)(implicit spark: SparkSession):
      (org.apache.spark.sql.execution.datasources.HadoopFsRelation, GraftFileIndex) = {
    val v = resolveVersion(table, asOf)
    // a BaseRelation's schema IS the files' schema — it has no seam to
    // alias physical names to logical ones, so serving a mapped table
    // through the format surface would expose stale physical names.
    // Refuse loudly; the library reads ([[scan]], [[read]], time travel)
    // fully support mapped tables.
    require(v.colMap.forall(_.isIdentity),
      s"$table has renamed/dropped columns (column mapping); the " +
        "graft-versioned format surface cannot serve it — read via " +
        "VersionedTable.scan/read instead")
    // a bare HadoopFsRelation would surface deleted rows: MOR resolution
    // needs the anti-join layer only the library reads can add
    require(v.dels.isEmpty,
      s"$table has pending equality-delete files; the graft-versioned " +
        "format surface cannot serve it — read via VersionedTable.scan/read " +
        "or run applyDeletes first")
    relationFor(table, v)
  }

  private def resolveVersion(table: String, asOf: Option[Int]): Version = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    asOf match {
      case None => vs.last
      case Some(seq) => vs.find(_.seq == seq).getOrElse(throw new IllegalArgumentException(
        s"version $seq not found (expired or never committed) in $table"))
    }
  }

  /** The physical pruning relation of one version (no logical view). */
  private def relationFor(table: String, v: Version)(implicit spark: SparkSession):
      (org.apache.spark.sql.execution.datasources.HadoopFsRelation, GraftFileIndex) = {
    val schema = physUnionSchema(table, v)
    val idx = new GraftFileIndex(spark, table, fileGroups(table, v.dirs))
    (idx.relation(schema), idx)
  }

  /** Dirs + their stats sidecars + data files, the FileIndex's planning
    * input — shared by the batch scan and the streaming source. The file
    * set comes from the sidecar's manifest entries (zero directory
    * listings at plan time — the Iceberg shape: skipped groups' files are
    * never even named); only pre-upgrade sidecars fall back to a listing.
    */
  private[graft] def fileGroups(table: String, dirs: Seq[String])(
      implicit spark: SparkSession): Seq[FileGroup] =
    dirs.map { d =>
      val st = groupStats(table, d)
      val files = st.flatMap(_.files) match {
        case Some(named) => named.map { case (name, bytes) =>
          new org.apache.hadoop.fs.FileStatus(bytes, false, 1, 128L * 1024 * 1024, 0L,
            new org.apache.hadoop.fs.Path(s"$table/$d/$name"))
        }
        case None => listDataFiles(table, d)
      }
      FileGroup(d, st, files)
    }

  /** The latest version's full union schema — from the stats sidecars
    * when every group carries one (no footer reads); pre-stats tables
    * fall back to one mergeSchema inference pass.
    */
  def tableSchema(table: String)(implicit spark: SparkSession): StructType = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    logicalSchema(
      unionSchema(table, vs.last).getOrElse(readPhysical(table, vs.last).schema),
      vs.last.colMap)
  }

  /** The parquet data files of one committed file group (sidecars and
    * hidden files excluded) — driver-side listing of exactly the dirs the
    * manifest names, the same O(groups) planner cost `readVersion` pays.
    */
  private[graft] def listDataFiles(table: String, dir: String)(
      implicit spark: SparkSession): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/$dir")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq.filter(f => f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
  }

  /** The one manifest walk behind [[appendedDirsIn]] and
    * [[readChangeFeed]]: the steps between consecutive retained versions in
    * [fromSeq, toSeq] of `vs`, each classified from manifest evidence
    * alone. An append (no dir removed, delete files unchanged) hands its
    * new dirs to `appended`; a layout-only rewrite — compact /
    * rewriteSorted / rewriteZOrder / applyDeletes, dirs replaced but the
    * content snapshot id UNCHANGED — contributes nothing (the rows all
    * flowed through earlier versions); any other step changed rows in
    * place (overwrite / deleteRange / merge / morDelete / rollback) and
    * goes to `rowLevel`.
    *
    * Tag-exempt expire can retain NON-ADJACENT commits (a tagged island
    * inside a dropped range): across such a gap the step is
    * unclassifiable — an interior data rewrite could hide behind a
    * dirs-superset (post-rewrite rows delivered as "appends") or an
    * interior compaction could masquerade as a data rewrite. A gap with
    * identical dirs and delete files is provably empty; any other gap
    * throws, naming `gapMsg`.
    */
  private def retained(vs: Seq[Version], table: String, seq: Int): Version =
    vs.find(_.seq == seq).getOrElse(throw new IllegalArgumentException(
      s"version $seq of $table not found (expired or never committed)"))

  private def walkSteps[A](vs: Seq[Version], table: String, fromSeq: Int, toSeq: Int,
      gapMsg: String)(appended: (Version, Seq[String]) => Seq[A],
      rowLevel: Version => Seq[A]): Seq[A] =
    vs.filter(v => v.seq >= fromSeq && v.seq <= toSeq).sortBy(_.seq)
      .sliding(2).flatMap {
        case Seq(a, b) =>
          val prior = a.dirs.toSet
          val added = b.dirs.filterNot(prior)
          val removed = prior -- b.dirs.toSet
          if (b.seq != a.seq + 1 && (added.nonEmpty || removed.nonEmpty || b.dels != a.dels))
            throw new IllegalStateException(
              s"versions between v${a.seq} and v${b.seq} of $table expired — $gapMsg")
          // a changed delete-file set is a row-level change even with the
          // dirs untouched (morDelete) — only dels-stable steps are appends
          else if (removed.isEmpty && added.nonEmpty && b.dels == a.dels) appended(b, added)
          else if (b.snapshotId == a.snapshotId) Seq.empty // noop / schema / layout-only
          else rowLevel(b)
        case _ => Seq.empty
      }.toSeq

  /** The file groups APPENDED across versions (fromSeq, toSeq] of `vs` —
    * the walk behind both the streaming source's micro-batches and
    * [[readChangesBetween]]. A row-level step throws: it is not
    * representable as appended rows, and failing loudly at the exact
    * version beats silently re-delivering or dropping. Both endpoints
    * must still be retained (expire makes the walk unanswerable).
    */
  private[graft] def appendedDirsIn(vs: Seq[Version], table: String, fromSeq: Int,
      toSeq: Int): Seq[String] = {
    require(fromSeq <= toSeq, s"fromSeq $fromSeq > toSeq $toSeq")
    retained(vs, table, fromSeq); retained(vs, table, toSeq)
    walkSteps(vs, table, fromSeq, toSeq,
        "the appended-rows walk cannot be answered across the gap; " +
          "retain more versions or read full snapshots")(
      appended = (_, added) => added,
      rowLevel = b => throw new IllegalStateException(
        s"commit v${b.seq} of $table rewrote data in place " +
          "(overwrite/delete/merge/morDelete/rollback) — the range is not " +
          "representable as appended rows; read versions instead"))
  }

  /** Incremental append read (Iceberg's incremental scan / Delta CDF's
    * insert slice): ONLY the rows appended in versions (fromSeq, toSeq],
    * planned purely from the manifests — the daily-batch consumer's
    * complement of the streaming source. A scheduled job records the last
    * version it processed and reads forward from there at O(new data)
    * cost, no streaming checkpoint, no re-scan of the table. Declarative
    * filters prune the delta's file groups through the same
    * [[GraftFileIndex]] seam as batch scans (stats + blooms); the schema
    * is `toSeq`'s union schema, so pre-evolution delta groups surface
    * evolved columns as null exactly like full reads.
    */
  def readChangesBetween(table: String, fromSeq: Int, toSeq: Int)(
      implicit spark: SparkSession): DataFrame = {
    // ONE manifest read feeds both the walk and the schema lookup — a
    // second read could see a concurrent expire land in between and turn
    // the designed "expired" error into a bare NoSuchElement
    val vs = versions(table)
    val dirs = appendedDirsIn(vs, table, fromSeq, toSeq)
    val to = vs.find(_.seq == toSeq).get // existence checked by the walk
    val schema = physUnionSchema(table, to)
    val idx = new GraftFileIndex(spark, table, fileGroups(table, dirs))
    // the delta surfaces under toSeq's LOGICAL schema — "the changes as
    // the table looked at the end of the window"
    logicalView(spark.baseRelationToDataFrame(idx.relation(schema)), to.colMap)
  }

  // ---- tags (Iceberg snapshot refs) ---------------------------------------

  private def refsPath(table: String) = hpath(table, "_graft_refs.json")

  /** Named tags → version seq (Iceberg's `tag` refs). */
  def tags(table: String): Map[String, Int] =
    hreadOpt(refsPath(table)).fold(Map.empty[String, Int])(json =>
      """"([^"]+)":(\d+)""".r.findAllMatchIn(json)
        .map(m => unb64(m.group(1)) -> m.group(2).toInt).toMap)

  private def writeTags(table: String, t: Map[String, Int]): Unit =
    atomicWrite(refsPath(table),
      t.toSeq.sortBy(_._1).map { case (n, s) => s""""${b64(n)}":$s""" }
        .mkString("{", ",", "}"))

  /** Tag a retained version with a durable name (Iceberg `create_tag`):
    * a tagged version SURVIVES [[expire]] no matter the retention count —
    * the publish-point semantics behind the reference's backup-table
    * dance (MergeAndExportInfo.py:85-89): tag what you published, expire
    * freely, roll back by reading the tag. Serialized under the commit
    * lock (two concurrent taggers must not lose each other's ref).
    */
  def tag(table: String, name: String, seq: Int): Unit = withCommitLock(table) {
    require(name.nonEmpty, "tag name must be non-empty")
    require(versions(table).exists(_.seq == seq),
      s"cannot tag version $seq of $table: not retained (or never committed)")
    writeTags(table, tags(table) + (name -> seq))
  }

  def dropTag(table: String, name: String): Unit = withCommitLock(table) {
    writeTags(table, tags(table) - name)
  }

  /** The version seq a tag names, or a loud error. */
  def resolveTag(table: String, name: String): Int =
    tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $table"))

  /** Time travel by tag name. */
  def readAsOfTag(table: String, name: String)(
      implicit spark: SparkSession): DataFrame =
    readAsOf(table, resolveTag(table, name))

  /** The table's named refs as a DataFrame (Iceberg's `refs` metadata
    * table beside [[history]] and [[filesMetadata]]): one row per tag.
    */
  def refs(table: String)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    tags(table).toSeq.sortBy(_._1).toDF("name", "version")
  }

  /** rollback_to_snapshot (Delta's RESTORE): make retained version `seq`
    * the CURRENT state again by committing a NEW version carrying exactly
    * its file groups and content snapshot id. History is never rewritten —
    * the versions being undone stay time-travelable until [[expire]], the
    * rollback itself is auditable ([[history]] labels it), and a second
    * rollback rolls forward. Data dirs are immutable and shared by
    * reference, so the commit is metadata-only: O(1) IO regardless of
    * table size — the operational fix for "yesterday's emit was bad" on a
    * 100-TB triple table. Rolling back to the current tip is a no-op (no
    * empty commit). The target resolves INSIDE the commit lock, so a
    * racing expire cannot delete the dirs between check and commit.
    */
  def rollbackTo(table: String, seq: Int): Version = {
    require(versions(table).nonEmpty, s"no committed version in $table")
    // the restore is TOTAL: dirs, content id, the column mapping AND the
    // delete files as of the target — rolling back past a rename/drop
    // restores the old names, past a morDelete restores (or re-arms) its
    // delete-file set
    commitWith(table,
        colMapF = _ => versions(table).find(_.seq == seq).flatMap(_.colMap),
        delsF = (_, _) =>
          versions(table).find(_.seq == seq).map(_.dels).getOrElse(Seq.empty)) { base =>
      val target = versions(table).find(_.seq == seq).getOrElse(
        throw new IllegalArgumentException(
          s"cannot roll back $table to version $seq: not retained (or never committed)"))
      if (base.exists(_.seq == seq)) None // already the tip
      else Some((target.dirs, target.snapshotId))
    }.getOrElse(versions(table).last)
  }

  /** [[rollbackTo]] by tag name — "roll back to what we published". */
  def rollbackToTag(table: String, name: String): Version =
    rollbackTo(table, resolveTag(table, name))

  /** Time travel: the table exactly as of version `seq`. */
  def readAsOf(table: String, seq: Int)(implicit spark: SparkSession): DataFrame = {
    val v = versions(table).find(_.seq == seq)
      .getOrElse(throw new IllegalArgumentException(
        s"version $seq not found (expired or never committed) in $table"))
    readVersion(table, v)
  }

  /** Version reads union-merge the file groups' schemas (Iceberg add-column
    * evolution: an append may carry columns older groups lack — merged
    * reads surface them with nulls for pre-evolution rows instead of
    * failing or silently projecting the first footer's schema).
    */
  private def readVersion(table: String, v: Version)(
      implicit spark: SparkSession): DataFrame =
    logicalView(readPhysical(table, v), v.colMap)

  private def readPhysical(table: String, v: Version)(
      implicit spark: SparkSession): DataFrame =
    resolveMor(table, v, ds =>
      spark.read.option("mergeSchema", "true")
        .parquet(ds.map(d => s"$table/$d"): _*))

  /** The version's union PHYSICAL schema — sidecars when complete, one
    * mergeSchema inference pass otherwise (raw, not MOR-resolved: a
    * delete never changes the schema).
    */
  private def physUnionSchema(table: String, v: Version)(
      implicit spark: SparkSession): StructType =
    unionSchema(table, v).getOrElse(
      spark.read.option("mergeSchema", "true")
        .parquet(v.dirs.map(d => s"$table/$d"): _*).schema)

  /** DESCRIBE HISTORY analogue: one row per retained version — seq,
    * content snapshot id, file-group count, exact row count from the
    * stats sidecars (null for pre-stats groups), and the commit KIND
    * inferred from manifest evidence alone: `overwrite` (fresh dir set),
    * `append` (superset), `rewrite` (dirs changed, content id unchanged —
    * compact/rewriteSorted), `rowlevel` (dirs partially replaced, id
    * changed — delete/merge). The first retained version reads `base`
    * (its predecessor may be expired, so its kind is unknowable).
    */
  def history(table: String)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      val prev = if (i == 0) None else Some(vs(i - 1))
      // raw per-group sums, minus the rows the version's pending equality-
      // delete files matched (a MOR version's logical count)
      val rowCounts = v.dirs.map(d => dirStats(table, d).map(_.rows))
      val nRows: Option[Long] =
        if (rowCounts.exists(_.isEmpty)) None
        else Some(rowCounts.flatten.sum - v.dels.map(_.matched).sum)
      val kind = prev match {
        case None => "base"
        // same data, new column mapping: a rename/drop evolution commit
        case Some(p) if v.dirs.toSet == p.dirs.toSet && v.colMap != p.colMap => "schema"
        case Some(p) if v.dirs.toSet == p.dirs.toSet &&
          v.snapshotId == p.snapshotId => "noop"
        // an exact (id, dirs) replay of a STRICTLY EARLIER version is a
        // [[rollbackTo]] commit — checked before the structural cases,
        // which would misread it (dirs usually shrink vs the undone tip)
        case Some(_) if vs.take(i).exists(e =>
          e.snapshotId == v.snapshotId && e.dirs.toSet == v.dirs.toSet) => "rollback"
        // dirs untouched but the content id moved: an equality-delete
        // commit (the only dirs-stable data change)
        case Some(p) if v.dirs.toSet == p.dirs.toSet => "rowlevel"
        case Some(p) if p.dirs.forall(v.dirs.contains) => "append"
        case Some(p) if v.snapshotId == p.snapshotId => "rewrite"
        case Some(p) if p.dirs.exists(v.dirs.contains) => "rowlevel"
        case Some(_) => "overwrite"
      }
      (v.seq, v.snapshotId, v.dirs.size, nRows, kind)
    }
    rows.toDF("version", "snapshot_id", "n_file_groups", "n_rows", "operation")
  }

  /** Iceberg's `files` metadata table: one row per DATA FILE of a version
    * (latest by default, `asOf` for history) — file group, file name,
    * bytes, plus the group-level manifest evidence (row count, content
    * snapshot id). Answered purely from the manifest + sidecars — zero
    * parquet reads, zero directory listings on post-upgrade sidecars — so
    * operators can audit layout health (group count, size skew,
    * compaction debt) on a 100-TB table from metadata alone.
    */
  def filesMetadata(table: String, asOf: Option[Int] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed version in $table")
    val v = asOf.fold(vs.last)(s => vs.find(_.seq == s).getOrElse(
      throw new IllegalArgumentException(
        s"version $s not found (expired or never committed) in $table")))
    fileGroups(table, v.dirs).flatMap { g =>
      val rows = g.stats.map(_.rows)
      val sid = statsSidecarSid(table, g.dir)
      g.files.map(f =>
        (g.dir, f.getPath.getName, f.getLen, rows, sid))
    }.toDF("file_group", "file", "bytes", "group_rows", "group_snapshot_id")
  }

  /** expire_snapshots: keep the newest `keep` versions, delete data dirs
    * referenced by no retained version. Returns the deleted dirs.
    */
  def expire(table: String, keep: Int)(implicit spark: SparkSession): Seq[String] = {
    // keep <= 0 would rewrite the manifest to empty and delete EVERY data
    // dir — irreversible table destruction from what reads like a
    // retention call (Iceberg's expire_snapshots has the same floor). The
    // guard belongs here, not just in the CLI: every API caller gets it.
    require(keep >= 1, s"expire keep must be >= 1 (got $keep): " +
      "keep=0 would drop every retained version including the current tip")
    // ONLY the manifest read→rewrite holds the commit lock (so a racing
    // append can't be erased by the replacement); the data-dir deletes
    // run AFTER release — they can be slow on large tables and would
    // otherwise make live committers time out on a healthy lock. Deleting
    // outside the lock is safe: by then the doomed dirs are unreferenced
    // by every manifest line, so no reader can reach them.
    val doomed = withCommitLock(table) {
      val st = manifestState(table)
      val vs = st.versions
      if (vs.size <= keep) Seq.empty
      else {
        // tagged versions are EXEMPT from retention (Iceberg ref
        // semantics): expire keeps the newest `keep` plus every version a
        // tag names, so a published snapshot survives any retention policy
        // until its tag is dropped
        val taggedSeqs = tags(table).values.toSet
        val suffixSeqs = vs.drop(vs.size - keep).map(_.seq).toSet
        val retainedSeqs = suffixSeqs ++ taggedSeqs
        val (retained, dropped) = vs.partition(v => retainedSeqs(v.seq))
        val keepDirs = retained.flatMap(_.dirs).toSet
        def lineSeq(l: String) = parseLine(l).map(_.seq)
        // retained versions keep their ORIGINAL manifest lines verbatim —
        // in particular their "txn" idempotence keys, which a re-rendered
        // line would silently erase (breaking exactly-once the moment a
        // retention job runs); dropped versions' txn keys survive in the
        // sidecar ledger, written FIRST (atomic old-plus-new rewrite) so a
        // crash between the two writes leaves at worst a duplicate key
        val keptLines = st.lines.filter(l => lineSeq(l).exists(retainedSeqs))
        val droppedTxnsB64 = st.lines
          .filter(l => l.endsWith("}") && lineSeq(l).exists(s => !retainedSeqs(s)))
          .flatMap(l => """"txn":"([^"]*)"""".r.findFirstMatchIn(l).map(_.group(1)))
        if (droppedTxnsB64.nonEmpty) {
          val existing = hreadOpt(txnLedgerPath(table)).getOrElse("")
          atomicWrite(txnLedgerPath(table),
            existing + droppedTxnsB64.mkString("", "\n", "\n"))
        }
        // COMMIT FIRST, delete after — and atomically, like every other
        // manifest write. Crash before the move: manifest
        // untouched, nothing deleted. Crash after the move, before/among
        // the deletes: dropped versions are already gone from the
        // manifest (readAsOf gives the clean "expired" error) and any
        // undeleted dirs are unreferenced storage-only orphans that
        // [[vacuum]] reclaims.
        atomicWrite(manifestPath(table), keptLines.mkString("", "\n", "\n"))
        // delete files referenced by ANY retained version must survive —
        // time travel to a MOR version needs them to resolve its reads
        val keepDels = retained.flatMap(_.dels.map(_.dir)).toSet
        dropped.flatMap(_.dirs).distinct.filterNot(keepDirs) ++
          dropped.flatMap(_.dels.map(_.dir)).distinct.filterNot(keepDels) ++
          // a dropped version's change-capture sidecar goes with it (the
          // feed already refuses windows crossing an expired version);
          // recorded dirs first, the bare name for legacy lines
          (dropped.flatMap(_.changes) ++
            dropped.filter(_.changes.isEmpty).map(v => s"changes/v${v.seq}"))
            .filterNot(retained.flatMap(_.changes).toSet)
            .filter(c => hexists(hpath(table, c)))
      }
    }
    doomed.foreach(d => deleteRecursively(hpath(table, d)))
    doomed
  }
}
