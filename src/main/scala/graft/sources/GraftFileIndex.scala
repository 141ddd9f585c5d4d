package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.VersionedTable.{GroupColStats, GroupStats}

/** One committed file group: manifest dir, its decoded stats sidecar
  * (None for pre-stats dirs), and its data files (listed once, driver
  * side — the same O(groups) metadata cost any manifest read pays).
  */
final case class FileGroup(dir: String, stats: Option[GroupStats], files: Seq[FileStatus])

/** The FileIndex seam (how Delta's TahoeFileIndex and Iceberg's
  * SparkScan integrate): `listFiles` receives the query's OWN pushed-down
  * data filters from FileSourceScanExec and answers with only the file
  * groups whose manifest min/max stats can satisfy them — so a plain
  * `scan(t).where($"ts" between (a, b))` skips at the manifest level with
  * no bespoke read API, and everything Catalyst does above (column
  * pruning, filter pushdown into parquet, AQE) composes unchanged.
  *
  * Pruning is evidence-based and conservative — [[GraftFileIndex.mayMatch]],
  * the same evaluator the table's write path scopes its rewrites and
  * delete keys with: a group is skipped only when its stats PROVE no row
  * can match — zero rows, an all-null column under a comparison/IsNotNull,
  * a column absent from the group's schema (schema evolution: merged reads
  * surface it as null), a [min,max] disjoint from the predicate's range,
  * or a bloom that excludes every equality value. Unknown columns, missing
  * sidecars, and unsupported expression shapes always keep the group.
  *
  * At 100 TB the difference is planner-side: thousands of accreted
  * commits mean thousands of file groups, and a scan that names only the
  * matching groups beats one that lists and footer-probes every file —
  * the same argument as readRange (BENCH_SCALING.md "file skipping"),
  * now triggered by ANY declarative filter instead of one blessed call.
  */
final class GraftFileIndex(spark: SparkSession, tablePath: String,
    groups: Seq[FileGroup]) extends FileIndex {

  /** Dirs the most recent `listFiles` kept — observability for specs and
    * metrics (Iceberg's scan-report analogue), not used for planning.
    */
  @volatile var lastKeptDirs: Seq[String] = groups.map(_.dir)

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // pushed filters are conjunctive: a group survives only if EVERY
    // filter can match it; a 0-row group never survives (safe even with
    // no filters — there is nothing to read)
    val pred = dataFilters.reduceOption(And(_, _)).getOrElse(Literal.TrueLiteral)
    val kept = groups.filter(GraftFileIndex.mayMatch(tablePath, _, pred))
    lastKeptDirs = kept.map(_.dir)
    Seq(PartitionDirectory(InternalRow.empty, kept.flatMap(_.files).toArray))
  }

  override def inputFiles: Array[String] =
    groups.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = groups.flatMap(_.files.map(_.getLen)).sum

  /** The scan as a parquet HadoopFsRelation planned through this index,
    * with the version's full union schema declared so groups missing an
    * evolved column read it as null (no mergeSchema inference pass — the
    * schema came from the sidecars).
    */
  def relation(schema: StructType): HadoopFsRelation =
    HadoopFsRelation(
      this, new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark)

  /** The table's exact row count from the manifest stats alone, or None
    * if any group lacks a sidecar — what lets `count(*)` answer without
    * touching a data file (plans.ManifestAggRule).
    */
  def totalRowsFromStats: Option[Long] = {
    val counts = groups.map(_.stats.map(_.rows))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Each group's stats sidecar in manifest order (None = no sidecar) —
    * the evidence plans.ManifestAggRule folds min/max over.
    */
  def groupStatsSeq: Seq[Option[GroupStats]] = groups.map(_.stats)
}

/** The one stats-vs-predicate evaluator of the versioned table format:
  * the scan's `listFiles`, the copy-on-write scoping of
  * [[VersionedTable.deleteRange]]/[[VersionedTable.merge]] (through
  * [[VersionedTable.pruneDirs]]) and the delete-key scoping of
  * [[VersionedTable.morDelete]]/[[VersionedTable.applyDeletes]] all ask
  * it, so a file group is provably matchless under one rule set.
  */
object GraftFileIndex {

  /** Can ANY row of file group `g` of `table` satisfy `pred`? False only
    * on evidence: a 0-row group, or stats/bloom sidecars that exclude
    * every value the predicate admits. Conservative: unsupported shapes
    * answer true. Literals arrive as Catalyst builds them (`lit(v)`:
    * strings as UTF8String, timestamps as epoch micros, dates as epoch
    * days — the domain the stats and blooms are written in).
    */
  def mayMatch(table: String, g: FileGroup, pred: Expression): Boolean =
    !g.stats.exists(_.rows == 0L) && matches(table, g, pred)

  /** What the stats know about one column in one group. */
  private sealed trait ColKnowledge
  private case object Unknown extends ColKnowledge // keep: no evidence
  private case object AllNull extends ColKnowledge // no non-null value exists
  private final case class Bounds(cs: GroupColStats) extends ColKnowledge

  private def knowledge(st: Option[GroupStats], name: String): ColKnowledge =
    st match {
      case None => Unknown
      case Some(s) => s.cols.get(name) match {
        case Some(cs) if cs.min.isEmpty || cs.max.isEmpty => AllNull
        case Some(cs) => Bounds(cs)
        // schema says the column does not exist in this group at all —
        // the merged read manufactures nulls for it (add-column evolution)
        case None if s.schema.exists(sch => !sch.fieldNames.contains(name)) => AllNull
        case None => Unknown
      }
    }

  /** A filter literal rendered into the stats' comparison domain, or None
    * for shapes the stats cannot reason about (null literal, exotic type).
    */
  private def litValue(v: Any): Option[String] = v match {
    case null => None
    case u: UTF8String => Some(u.toString)
    case d: Decimal => Some(d.toString)
    case (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => Some(v.toString)
    case d: java.math.BigDecimal => Some(d.toString)
    case _ => None
  }

  /** compare(bound, v) in the stats' ordering; None = incomparable (keep).
    * Strings compare in unsigned UTF-8 byte order (UTF8String's — the
    * ordering Spark's min/max produced the stats under; Java's UTF-16
    * compareTo disagrees above the BMP); numerics as BigDecimal, with
    * NaN/Infinity extremes failing the parse and so keeping the group.
    */
  private def cmp(bound: String, v: String, isString: Boolean): Option[Int] =
    if (isString) Some(UTF8String.fromString(bound).compareTo(UTF8String.fromString(v)))
    else scala.util.Try(BigDecimal(bound).compare(BigDecimal(v))).toOption

  // "can a row with column-value rel v exist in [min,max]?" — None/incomparable => true
  private def mayGe(b: GroupColStats, v: String, strict: Boolean): Boolean =
    cmp(b.max.get, v, b.isString).forall(c => if (strict) c > 0 else c >= 0)
  private def mayLe(b: GroupColStats, v: String, strict: Boolean): Boolean =
    cmp(b.min.get, v, b.isString).forall(c => if (strict) c < 0 else c <= 0)
  private def mayEq(b: GroupColStats, v: String): Boolean =
    mayGe(b, v, strict = false) && mayLe(b, v, strict = false)

  /** Does the group's bloom sidecar PROVE `v` absent from `colName`? The
    * probe hashes in the exact domain [[VersionedTable.writeBlooms]] put
    * values under: strings as UTF-8 bytes, integrals (and the micros/days
    * of timestamps/dates) widened to Long. A value outside that domain
    * (null, fractional, exotic) is no evidence. False = keep is the
    * bloom's one-sided contract — `mightContain` can false-positive (keep
    * a matchless group) but never false-negative.
    */
  private def bloomExcludes(table: String, g: FileGroup, colName: String, v: Any): Boolean =
    VersionedTable.groupBloom(table, g.dir, colName).exists { bf =>
      v match {
        case u: UTF8String => !bf.mightContainBinary(u.getBytes)
        case b: Byte => !bf.mightContainLong(b.toLong)
        case s: Short => !bf.mightContainLong(s.toLong)
        case i: Int => !bf.mightContainLong(i.toLong)
        case l: Long => !bf.mightContainLong(l)
        case _ => false
      }
    }

  /** Equality evidence = range stats AND bloom: the group may hold `v`
    * only if [min,max] admits it and (when a bloom exists) the bloom does
    * not prove it absent. The two are independent — a pre-stats group with
    * a bloom still prunes, a pre-bloom group still range-prunes.
    */
  private def mayEqOn(table: String, g: FileGroup, name: String, v: Any): Boolean =
    (knowledge(g.stats, name) match {
      case AllNull => false
      case Bounds(b) => litValue(v).forall(mayEq(b, _))
      case Unknown => true
    }) && !bloomExcludes(table, g, name, v)

  /** Comparison cases cover both operand orders (Catalyst does not
    * normalize literal position).
    */
  private def matches(table: String, g: FileGroup, e: Expression): Boolean = {
    val st = g.stats
    e match {
      case And(l, r) => matches(table, g, l) && matches(table, g, r)
      case Or(l, r) => matches(table, g, l) || matches(table, g, r)

      case IsNotNull(a: AttributeReference) => knowledge(st, a.name) match {
        case AllNull => false
        case _ => true
      }
      case IsNull(_) => true // min/max stats carry no null counts

      case EqualTo(a: AttributeReference, Literal(v, _)) => mayEqOn(table, g, a.name, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => mayEqOn(table, g, a.name, v)
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null =>
        mayEqOn(table, g, a.name, v)
      case EqualNullSafe(Literal(v, _), a: AttributeReference) if v != null =>
        mayEqOn(table, g, a.name, v)

      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        withBounds(st, a, v)(mayGe(_, _, strict = true))
      case GreaterThan(Literal(v, _), a: AttributeReference) =>
        withBounds(st, a, v)(mayLe(_, _, strict = true))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        withBounds(st, a, v)(mayGe(_, _, strict = false))
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        withBounds(st, a, v)(mayLe(_, _, strict = false))
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        withBounds(st, a, v)(mayLe(_, _, strict = true))
      case LessThan(Literal(v, _), a: AttributeReference) =>
        withBounds(st, a, v)(mayGe(_, _, strict = true))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        withBounds(st, a, v)(mayLe(_, _, strict = false))
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        withBounds(st, a, v)(mayGe(_, _, strict = false))

      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        knowledge(st, a.name) match {
          case AllNull => false
          case _ => vs.exists {
            case Literal(v, _) => mayEqOn(table, g, a.name, v)
            case _ => true
          }
        }
      case InSet(a: AttributeReference, hset) => knowledge(st, a.name) match {
        case AllNull => false
        case _ => hset.exists(v => mayEqOn(table, g, a.name, v))
      }

      // s startsWith p  <=>  p <= s < succ(p); overlap with [min,max] iff
      // max >= p and min's first |p| BYTES compare <= p (equivalently
      // min < succ(p), with no carry arithmetic needed)
      case StartsWith(a: AttributeReference, Literal(v, _)) =>
        knowledge(st, a.name) match {
          case AllNull => false
          case Bounds(b) if b.isString => litValue(v).forall { p =>
            val pb = UTF8String.fromString(p)
            val mn = UTF8String.fromString(b.min.get)
            val mnPrefix = mn.substring(0, math.min(mn.numChars(), pb.numChars()))
            mayGe(b, p, strict = false) &&
              (mnPrefix.compareTo(pb) <= 0 || mn.numChars() < pb.numChars())
          }
          case _ => true
        }

      case _ => true
    }
  }

  private def withBounds(st: Option[GroupStats], a: AttributeReference, v: Any)(
      f: (GroupColStats, String) => Boolean): Boolean =
    knowledge(st, a.name) match {
      case AllNull => false // a comparison never matches a null value
      case Bounds(b) => litValue(v).forall(f(b, _))
      case Unknown => true
    }
}
