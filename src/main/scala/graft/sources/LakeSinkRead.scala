package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The READ half of [[LakeSink]] — a DSv2 `Scan` over the connector's own
  * committed gzip JSON-lines lake, so the sink round-trips through the
  * connector in BOTH directions (write: stage→commit; read: list committed
  * files → parallel parse). This is the reference lake's read-back role
  * (`docs/phase3-kinesis-s3.md` — Athena/Glue over the S3 prefix), kept
  * inside the same connector.
  *
  * Scale shape: one InputPartition per committed file (each task streams
  * its own gzip member — the natural parallelism of an object-store lake);
  * `_staging`/`_graft_commits` are never listed, so in-flight writers are
  * invisible to readers; Hive `k=v/` partition directories are pruned at
  * PLANNING from pushed equality filters (a day-partitioned 100 TB lake
  * reads one day's files, not the listing of all of them), and partition
  * values are restored from directory names without touching row bytes.
  * Column pruning drops unreferenced fields at parse time.
  */
private[sources] class LakeSinkScanBuilder(fullSchema: StructType, path: String,
    partCols: Seq[String],
    onPlanned: Seq[String] => Unit = _ => (),
    // a time-travel read's version record; None = a live read of the
    // latest record, taken once per builder (scan planning, pushdown and
    // statistics then all see the same commit)
    snapshot: Option[LakeSnapshot] = None,
    allowAgg: Boolean = true,
    triggerLimits: (Option[Int], Option[Long], Option[Long]) = (None, None, None),
    includePositions: Map[String, Array[Long]] = Map.empty,
    onPlannedDeletes: Map[String, Array[Long]] => Unit = _ => ()) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  private var required: StructType = fullSchema
  private var partFilters: Array[Filter] = Array.empty
  private var dataFilters: Array[Filter] = Array.empty
  private var aggPushed: Option[(Seq[Array[Any]], StructType, String)] = None
  private lazy val snap: LakeSnapshot = snapshot.getOrElse(LakeSinkFiles.latest(path))
  // the live manifest, read once per builder: its column DEFAULTs and
  // partition-spec history serve time travel too, its evolution state
  // only live reads — a snapshot decodes under its own commit's aliases
  private lazy val manifest: LakeManifest =
    LakeManifest.read(path).getOrElse(LakeManifest.Empty)
  private lazy val evolution: (Map[String, String], Set[String]) =
    snapshot.fold(manifest.evolution)(_.evolution)
  // memoized metaRows: the engine calls supportCompletePushDown then
  // pushAggregation with the SAME Aggregation on one single-threaded
  // builder — without the cache each call re-folds the facts of every
  // file (O(#files), twice, on exactly the many-small-files tables the
  // facts exist to serve)
  private var metaCache: Option[(Aggregation, Option[(Seq[Array[Any]], StructType, String)])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept equality filters on PARTITION columns (evaluated at planning
    * against directory names — completely, so no residual re-evaluation is
    * needed) plus IsNotNull on partition columns (trivially true: the
    * writer refuses NULL partition values, and the engine plants one next
    * to every partition equality — leaving it residual would veto the
    * complete count pushdown below); everything else stays with the
    * engine — but is REMEMBERED: data filters drive per-file min/max
    * skipping at planning ([[LakeSinkStats.mayMatch]]). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (part, rest) = filters.partition {
      case EqualTo(a, _)  => partCols.contains(a)
      case IsNotNull(a)   => partCols.contains(a)
      case _              => false
    }
    partFilters = part
    dataFilters = rest
    rest
  }
  override def pushedFilters(): Array[Filter] = partFilters

  // --- aggregates from commit-time metadata ------------------------------------
  //
  // A lake table's gzip JSON files have no footer stats, so without
  // metadata `SELECT count(*)` (or min/max) decompresses EVERY byte; the
  // version record's per-file facts (row counts, column [lo, hi]) make
  // them O(#files) driver arithmetic. COMPLETE pushdown only — legal
  // exactly when every engine filter was consumed at planning (partition
  // equalities; pruning composes: the fold covers only kept files) and
  // every kept file has the needed fact (a file without one falls back to
  // scanning — never a guess). count(partition col) ≡ count(*): the
  // writer refuses NULL partition values.

  private def isPartCol(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case n: NamedReference => partCols.contains(n.fieldNames.mkString("."))
      case _                 => false
    }

  /** The metadata answer rows for a pushed aggregation — one row per
    * group (one group total when there is no GROUP BY), each carrying the
    * group's partition values followed by the per-function answers — or
    * None when anything is unanswerable (unsupported function, group-by
    * on a data column, residual filter, missing fact). GROUP BY partition
    * columns is answerable because a group IS a set of whole files:
    * per-group counts sum that set's recorded rows, per-group min/max
    * fold that set's stats intervals. */
  private def metaRows(agg: Aggregation): Option[(Seq[Array[Any]], StructType, String)] =
    metaCache match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = metaRows0(agg)
        metaCache = Some((agg, r))
        r
    }

  private def metaRows0(agg: Aggregation): Option[(Seq[Array[Any]], StructType, String)] = {
    // includePositions (a CDF row-subset read) can never answer from
    // file-granular facts
    if (!allowAgg || includePositions.nonEmpty || dataFilters.nonEmpty ||
        agg.aggregateExpressions.isEmpty)
      return None
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map {
      case n: NamedReference if partCols.contains(n.fieldNames.mkString(".")) =>
        n.fieldNames.mkString(".")
      case _ => return None
    }
    val root = Paths.get(path)
    val kept: Seq[(String, Seq[(String, String)])] = snap.files
      .map(rel => (rel, LakeSinkPartitions.kvsOf(root, root.resolve(rel), partCols)))
      .filter { case (_, kvs) => LakeSinkPartitions.keeps(fullSchema, kvs, partFilters) }
    // merge-on-read delete vectors: count(*) stays EXACT (subtract the
    // vector sizes); min/max/count(col)/partition-value folds FALL BACK
    // for any kept file carrying a vector — the recorded stats may
    // describe deleted rows (each fact kind decodes only when a function
    // needs it: a plain count(*) never touches the stats)
    val dels = snap.deletes
    // pre-rename files' stats entries carry PHYSICAL names — translate
    val aliasMap = evolution._1
    def hasVector(rels: Seq[String]): Boolean = rels.exists(dels.contains)

    def countOf(rels: Seq[String]): Option[Any] = {
      val cs = rels.map(rel => snap.counts.get(rel)
        .map(_ - dels.get(rel).map(_.length.toLong).getOrElse(0L)))
      if (cs.forall(_.isDefined)) Some(java.lang.Long.valueOf(cs.flatten.sum))
      else None
    }

    /** count(DATA col) = Σ per file (rows − nulls): needs a row count
      * AND a null-counting stats entry for EVERY kept file (legacy
      * entries without a null count ⇒ scan fallback, never a guess). */
    def countColOf(rels: Seq[String], f: StructField): Option[Any] = {
      if (hasVector(rels)) return None // deleted rows' null-ness unknown
      val per = rels.map { rel =>
        for {
          n <- snap.counts.get(rel)
          blob <- snap.stats.get(rel)
          cs <- LakeSinkStats.decode(blob, fullSchema, aliasMap).get(f.name)
          nulls <- cs.nulls
        } yield n - nulls
      }
      if (per.forall(_.isDefined)) Some(java.lang.Long.valueOf(per.flatten.sum))
      else None
    }

    /** min/max of a statable DATA column over a file set: the fold over
      * per-file [lo, hi] is exact iff EVERY file recorded the column
      * (all-null files record an empty interval and contribute nothing —
      * min/max ignore nulls). */
    def minmaxOf(rels: Seq[String], f: StructField, isMin: Boolean): Option[Any] = {
      if (hasVector(rels)) return None // a bound's row may be deleted
      val entries = rels.map(rel => snap.stats.get(rel)
        .flatMap(b => LakeSinkStats.decode(b, fullSchema, aliasMap).get(f.name)))
      if (entries.exists(_.isEmpty)) return None // some file unrecorded
      val bounds = entries.flatten.flatMap(_.bounds)
      Some(
        if (bounds.isEmpty) null // every file all-null (or no files)
        else if (isMin)
          LakeSinkStats.toInternal(f.dataType,
            bounds.map(_._1).reduce((a, b) => if (LakeSinkStats.cmp(a, b) <= 0) a else b))
        else
          LakeSinkStats.toInternal(f.dataType,
            bounds.map(_._2).reduce((a, b) => if (LakeSinkStats.cmp(a, b) >= 0) a else b)))
    }

    def statField(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case n: NamedReference =>
          val name = n.fieldNames.mkString(".")
          fullSchema.fields.find(_.name == name)
            .filter(f => !partCols.contains(name) && LakeSinkStats.statable(f.dataType))
        case _ => None
      }

    /** min/max of a PARTITION column over a file set: fold the decoded
      * directory values — no stats needed, values are never null. */
    def partMinmaxOf(files: Seq[(String, Seq[(String, String)])],
        f: StructField, isMin: Boolean): Option[Any] = {
      // a vector could hide every row of the boundary file
      if (hasVector(files.map(_._1))) return None
      val vals = files.map { case (_, kvs) =>
        LakeSinkPartitions.dirToInternal(f.dataType,
          kvs.find(_._1 == f.name).getOrElse(return None)._2)
      }
      Some(
        if (vals.isEmpty) null // zero kept files
        else vals.reduce((a, b) =>
          if (isMin == (LakeSinkStats.cmp(a, b) <= 0)) a else b))
    }

    def partField(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case n: NamedReference =>
          val name = n.fieldNames.mkString(".")
          if (partCols.contains(name)) fullSchema.fields.find(_.name == name) else None
        case _ => None
      }

    // validate every function ONCE; each yields (answer-builder, out type)
    type Group = Seq[(String, Seq[(String, String)])]
    val fns: Seq[(Group => Option[Any], DataType)] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => ((g: Group) => countOf(g.map(_._1)), LongType)
        case c: Count if !c.isDistinct && isPartCol(c.column) =>
          ((g: Group) => countOf(g.map(_._1)), LongType)
        case c: Count if !c.isDistinct && statField(c.column).isDefined =>
          val f = statField(c.column).get
          ((g: Group) => countColOf(g.map(_._1), f), LongType)
        case m: Min if partField(m.column).isDefined =>
          val f = partField(m.column).get
          ((g: Group) => partMinmaxOf(g, f, isMin = true), f.dataType)
        case m: Max if partField(m.column).isDefined =>
          val f = partField(m.column).get
          ((g: Group) => partMinmaxOf(g, f, isMin = false), f.dataType)
        case m: Min =>
          val f = statField(m.column).getOrElse(return None)
          ((g: Group) => minmaxOf(g.map(_._1), f, isMin = true), f.dataType)
        case m: Max =>
          val f = statField(m.column).getOrElse(return None)
          ((g: Group) => minmaxOf(g.map(_._1), f, isMin = false), f.dataType)
        case _ => return None
      }

    val groups: Seq[(Seq[String], Group)] =
      if (groupCols.isEmpty) Seq((Seq.empty, kept))
      else kept.groupBy { case (_, kvs) =>
        groupCols.map(g => kvs.find(_._1 == g).getOrElse(return None)._2)
      }.toSeq.sortBy(_._1.mkString("/"))

    val groupFields = groupCols.map(fullSchema(_))
    val rows = groups.map { case (gvals, files) =>
      val g = groupFields.zip(gvals).map { case (f, s) =>
        LakeSinkPartitions.dirToInternal(f.dataType, s) }
      val a = fns.map(_._1(files))
      if (a.exists(_.isEmpty)) return None
      (g ++ a.map(_.get)).toArray[Any]
    }
    val schema = StructType(
      groupFields.map(f => StructField(f.name, f.dataType, nullable = false)) ++
        fns.zipWithIndex.map { case ((_, dt), i) =>
          StructField(s"agg_$i", dt, nullable = rows.exists(_(groupCols.size + i) == null))
        })
    val desc = (groupCols.map(g => s"group:$g") ++
      agg.aggregateExpressions.map(_.toString)).mkString(", ")
    Some((rows, schema, desc))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metaRows(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    metaRows(agg) match {
      case Some(t) => aggPushed = Some(t); true
      case None    => false
    }

  override def build(): Scan = aggPushed match {
    case Some((rows, schema, fnDesc)) =>
      new LakeSinkAggScan(path, partFilters, fnDesc, rows, schema)
    case None =>
      new LakeSinkScan(fullSchema, required, path, partCols, partFilters,
        dataFilters, onPlanned, snap, snapshot.isDefined, triggerLimits,
        includePositions, onPlannedDeletes, manifest, evolution)
  }
}

/** The completely-pushed-down aggregate scan: one row PER GROUP folded
  * from the version record's facts — zero data files opened. */
private[sources] class LakeSinkAggScan(path: String, partFilters: Array[Filter],
    fnDesc: String, rows: Seq[Array[Any]], aggSchema: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-lake-agg path=$path partFilters=[${partFilters.mkString(",")}] " +
      s"PushedAggregates=[$fnDesc] groups=${rows.size}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeSinkAggPartition(rows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[LakeSinkAggPartition]
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < p.rows.length }
          override def get(): InternalRow = new GenericInternalRow(p.rows(i))
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] case class LakeSinkAggPartition(rows: Array[Array[Any]])
    extends InputPartition

/** Shared committed-file listing + partition-value matching — used by the
  * scan's planning, its statistics, and [[LakeSinkTable]]'s
  * partition-level DELETE. */
private[sources] object LakeSinkPartitions {

  /** Decode a Hive directory value string to the column's InternalRow
    * representation (the partition-column types
    * [[LakeSink.partitionExtractors]] writes). */
  def dirToInternal(dt: DataType, s: String): Any = dt match {
    case StringType  => UTF8String.fromString(s)
    case IntegerType => java.lang.Integer.valueOf(s.toInt)
    case LongType    => java.lang.Long.valueOf(s.toLong)
    case DateType    =>
      java.lang.Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
    case other => throw new IllegalStateException(s"unexpected partition type $other")
  }

  /** Decode a relative lake path's Hive `k=v/` directory pairs — keys are
    * the partition fields' DIRECTORY keys (`col` for identity,
    * `col_bucket` for bucket transforms, `col_day` etc. for temporal —
    * see [[LakePart]]). ALL pairs are returned, not just the active
    * spec's: after a partition-spec evolution, pre-evolution files carry
    * the OLD spec's dirs, and consumers match by the key they need (a
    * pair nothing asks for is inert — every lake subdir is either a
    * writer-created partition dir or a pruned hidden tree, so no foreign
    * `k=v` name can appear). */
  def kvsOf(root: Path, p: Path, partCols: Seq[String]): Seq[(String, String)] = {
    val _ = partCols // kept: call sites document which spec they serve
    val rel = root.relativize(p)
    (0 until rel.getNameCount - 1).map(rel.getName(_).toString).flatMap { d =>
      val eq = d.indexOf('=')
      if (eq > 0) Some(d.substring(0, eq) -> d.substring(eq + 1)) else None
    }
  }

  /** Every committed data file under `path` with its decoded `k=v`
    * directory pairs; `_staging`/`_graft_commits`/`_graft_versions`/
    * `_graft_retired` subtrees are PRUNED from the walk (not just
    * filtered), and a file that vanishes mid-walk (a concurrent
    * committer moving its temp artifacts) is skipped instead of failing
    * the whole listing — `Files.walk` would throw NoSuchFileException. */
  def listCommitted(path: String, partCols: Seq[String]): Seq[(Path, Seq[(String, String)])] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return Seq.empty
    val hidden = Seq(LakeSinkFiles.stagingDir(path), LakeSinkFiles.commitsDir(path),
      LakeSinkFiles.versionsDir(path), LakeSinkFiles.retiredDir(path))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Path, Seq[(String, String)])]
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      import java.nio.file.FileVisitResult
      override def preVisitDirectory(dir: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes): FileVisitResult =
        // dot-dirs are maintenance scratch (a crashed zorder's
        // `.zorder-*` temp lake) — their part files are NOT this table's
        if (hidden.exists(dir.startsWith(_)) ||
            (dir != root && dir.getFileName.toString.startsWith(".")))
          FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(p: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes): FileVisitResult = {
        val n = p.getFileName.toString
        if (attrs.isRegularFile && n.startsWith("part-") && n.endsWith(".json.gz"))
          out += ((p, kvsOf(root, p, partCols)))
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path,
          e: java.io.IOException): FileVisitResult = FileVisitResult.CONTINUE
    })
    out.toSeq
  }

  /** Equality against a decoded partition value, tolerant of the external
    * value types the v1 Filter API surfaces (java.sql.Date vs LocalDate,
    * Integer vs Long literals). */
  def matches(colType: DataType, dirValue: String, want: Any): Boolean =
    colType match {
      case StringType => dirValue == String.valueOf(want)
      case IntegerType | LongType =>
        try java.lang.Long.parseLong(dirValue) == (want match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long    => l.longValue
          case other                => return dirValue == String.valueOf(other)
        }) catch { case _: NumberFormatException => false }
      case DateType =>
        val wantDay = want match {
          case d: java.sql.Date        => d.toLocalDate.toString
          case d: java.time.LocalDate  => d.toString
          case other                   => String.valueOf(other)
        }
        dirValue == wantDay
      case _ => false
    }

  /** Does a file's partition-value set satisfy every (partition-column
    * equality / IN) filter? Other filter shapes keep everything — callers
    * gate them out beforehand. */
  def keeps(schema: StructType, kvs: Seq[(String, String)],
      filters: Array[Filter]): Boolean =
    filters.forall {
      case EqualTo(a, v) =>
        kvs.find(_._1 == a).exists { case (_, dv) =>
          matches(schema(a).dataType, dv, v) }
      case In(a, vs) => // IN () matches nothing — drops every file
        kvs.find(_._1 == a).exists { case (_, dv) =>
          vs.exists(v => matches(schema(a).dataType, dv, v)) }
      case _ => true
    }
}

private[sources] class LakeSinkScan(fullSchema: StructType, required: StructType,
    path: String, partCols: Seq[String], partFilters: Array[Filter],
    dataFilters: Array[Filter] = Array.empty,
    onPlanned: Seq[String] => Unit,
    // the record this scan plans from — the latest for a live read
    snap: LakeSnapshot,
    // a time-travel read (VERSION/TIMESTAMP AS OF) rather than a live one
    timeTravel: Boolean,
    triggerLimits: (Option[Int], Option[Long], Option[Long]),
    includePositions: Map[String, Array[Long]],
    onPlannedDeletes: Map[String, Array[Long]] => Unit,
    // the live manifest the builder read, and the evolution state this
    // scan decodes under (the snapshot's own for time travel)
    manifest: LakeManifest,
    evolution: (Map[String, String], Set[String]))
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // files pruned by per-file [lo, hi] stats at the last planning
  // (-1 = not yet planned); see planInputPartitions
  private var skippedFiles = -1

  // --- storage-partitioned joins (SPJ) ---------------------------------------
  //
  // Under `spark.sql.sources.v2.bucketing.enabled`, a partitioned lake
  // scan reports `KeyGroupedPartitioning(identity(partCols))` with ONE
  // input partition per partition DIRECTORY (its files chained in one
  // task, the directory's decoded values as the partition key) — so two
  // lake tables partitioned on the same key join or aggregate on it with
  // ZERO shuffle exchanges (the DSv2 bucketed-tables contract; at 100 TB
  // this is co-located day-keyed joins instead of re-shuffling the fact
  // table). Active only when every partition column survives column
  // pruning (the reported keys must resolve against readSchema) on a
  // non-grouped read; runtime filtering is disabled while active — the
  // reported partitioning must stay consistent with the planned groups
  // (the TelemetrySource daily-scan lesson).
  private val parts: Seq[LakePart] = LakePart.parseAll(partCols)
  // directory keys whose values restore into DATA columns on read —
  // identity fields only (a bucket id is a lossy hash, never a column)
  private val identityKeys: Set[String] =
    parts.filter(_.isIdentity).map(_.dirKey).toSet

  // prior partition specs of an evolved table (LakeMaintenance
  // .evolvePartitionSpec): pre-evolution files live under OLD-spec dirs
  private lazy val historicSpecs: Seq[Seq[String]] =
    manifest.partHistory.map(LakePart.split)

  private lazy val spjActive: Boolean =
    partCols.nonEmpty &&
      // a mixed-spec table stands down: the active KeyGroupedPartitioning
      // cannot describe pre-evolution files (they lack the active dirs)
      historicSpecs.isEmpty &&
      parts.forall(p => required.fieldNames.contains(p.name)) &&
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        parts.map {
          case LakePart(_, nm, Some(n), _) =>
            org.apache.spark.sql.connector.expressions.Expressions.bucket(n, nm)
              : org.apache.spark.sql.connector.expressions.Expression
          case LakePart(_, nm, _, Some("days")) =>
            org.apache.spark.sql.connector.expressions.Expressions.days(nm)
              : org.apache.spark.sql.connector.expressions.Expression
          case LakePart(_, nm, _, Some("hours")) =>
            org.apache.spark.sql.connector.expressions.Expressions.hours(nm)
              : org.apache.spark.sql.connector.expressions.Expression
          case LakePart(_, nm, _, Some("months")) =>
            org.apache.spark.sql.connector.expressions.Expressions.months(nm)
              : org.apache.spark.sql.connector.expressions.Expression
          case LakePart(_, nm, _, Some("years")) =>
            org.apache.spark.sql.connector.expressions.Expressions.years(nm)
              : org.apache.spark.sql.connector.expressions.Expression
          case LakePart(_, nm, _, _) =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(nm)
              : org.apache.spark.sql.connector.expressions.Expression
        }.toArray,
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planInputPartitions().length)

  // --- reported per-partition ordering (sort-free scans) ----------------------
  //
  // A scan whose every input partition is ONE file carrying a sort claim
  // in the record (written under `sortBy` — see [[LakeFacts]]) reports
  // that ordering ascending:
  // delete vectors / CDF include-lists only FILTER a file's row stream,
  // never reorder it, so the claim survives merge-on-read state. Combined
  // with SPJ's KeyGroupedPartitioning (one sorted file per bucket dir
  // after a clustered+sorted write), a merge join on the sort key needs
  // ZERO exchanges and ZERO sorts — the fully co-located layout a 100 TB
  // fact-fact join wants (t58 pins it under the differential). Recorded
  // names translate through the live alias map (a rename keeps ordering);
  // any unclaimed file, multi-file group, dropped/pruned column, or
  // disagreeing column list reports nothing (sound by construction —
  // files from unsorted producers simply never carry a claim).
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val none = Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    val claims = snap.sorted // empty on most tables
    if (claims.isEmpty) return none
    val perPart: Seq[Seq[String]] = planInputPartitions().toSeq.map {
      case p: LakeSinkInputPartition => Seq(p.file)
      case g: LakeSinkGroupPartition => g.files.map(_.file).toSeq
    }
    if (perPart.isEmpty || perPart.exists(_.length != 1)) return none
    val recorded: Seq[Option[Seq[String]]] =
      perPart.map(fs => claims.get(relOf(Paths.get(fs.head))))
    if (recorded.exists(_.isEmpty)) return none
    val lists = recorded.map(_.get).distinct
    if (lists.length != 1) return none
    // names were logical AT WRITE TIME — resolve renames to the live name
    val aliases = evolution._1
    val cols = lists.head.map(c => aliases.getOrElse(c, c))
    // every ordering column must survive pruning (the engine resolves
    // these refs against readSchema — the DPP filterAttributes lesson)
    if (!cols.forall(required.fieldNames.contains)) return none
    cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  // --- runtime filtering (DPP + stats-driven runtime skipping) ---------------
  //
  // The engine may hand this scan a join's build-side value set AFTER
  // planning (dynamic partition pruning). Partition-column filters prune
  // directories exactly; DATA-column filters flow into the same per-file
  // [lo, hi] stats skip as planned filters — so a selective dim join over
  // a range-clustered fact lake opens O(matching files) even though the
  // matching set is only knowable at execution. Unhandled shapes stay a
  // superset — the join still applies the filter exactly.
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // SPJ mode: no runtime filtering — a post-planning filter could drop
    // groups the reported KeyGroupedPartitioning already promised
    if (spjActive)
      return Array.empty[org.apache.spark.sql.connector.expressions.NamedReference]
    val statCols = fullSchema.fields
      .filter(f => !partCols.contains(f.name) && LakeSinkStats.statable(f.dataType))
      .map(_.name)
    // only columns in the PRUNED output — the engine resolves these refs
    // against the scan's readSchema (a ref to a pruned-away column fails
    // analysis); a join key is always in the output, so nothing is lost
    val visible = required.fieldNames.toSet
    (partCols ++ statCols).filter(visible.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }
  override def filter(filters: Array[Filter]): Unit = runtimeFilters = filters

  private def isPartFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _) => partCols.contains(a)
    case In(a, _)      => partCols.contains(a)
    case IsNotNull(a)  => partCols.contains(a)
    case _             => false
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-lake-scan path=$path partFilters=[${partFilters.mkString(",")}]" +
      (if (dataFilters.nonEmpty) s" dataFilters=[${dataFilters.mkString(",")}]" else "") +
      (if (skippedFiles >= 0) s" skippedFiles=$skippedFiles" else "") +
      (if (timeTravel) s" snapshot=${snap.files.length}files" else "")
  override def toBatch: Batch = this

  /** Every read plans its record's file list, each name resolved by
    * [[LakeSinkFiles.resolve]] (live, else retired, else vacuumed — a
    * loud failure). Resolved once per scan. */
  private lazy val resolvedFiles: Seq[(Path, Seq[(String, String)])] = {
    val root = Paths.get(path)
    snap.files.map { rel =>
      // partition values decode from the RELATIVE name (shared by the
      // live and retired locations)
      (LakeSinkFiles.resolve(path, rel, "recorded file"),
        LakeSinkPartitions.kvsOf(root, root.resolve(rel), partCols))
    }
  }

  /** On-disk bytes of the PRUNED file set (the same convention Spark's
    * file sources use — `fileCompressionFactor` corrects for gzip if the
    * user tunes it), so a small lake table auto-broadcasts in catalog
    * joins with no hint. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val planned = planInputPartitions().flatMap {
      case p: LakeSinkInputPartition => Seq(Paths.get(p.file))
      case g: LakeSinkGroupPartition => g.files.toSeq.map(f => Paths.get(f.file))
    }
    private val bytes = planned.map(Files.size(_)).sum
    // EXACT row count from the record's counts when every planned file
    // has one (pruned + skipped files excluded) — feeds the CBO the
    // number a parquet footer would; empty when any file lacks one. The
    // record's vectors are subtracted, and rel names resolve
    // retired-aware (a file under _graft_retired/ keys the facts by its
    // ORIGINAL relative name).
    private val rows: java.util.OptionalLong = {
      val counts = snap.counts
      val dels = snap.deletes
      val cs = planned.map { p =>
        val rel = relOf(p)
        counts.get(rel).map(_ - dels.get(rel).map(_.length.toLong).getOrElse(0L))
      }
      if (cs.nonEmpty && cs.forall(_.isDefined))
        java.util.OptionalLong.of(cs.flatten.sum)
      else java.util.OptionalLong.empty()
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes max 1L)
    override def numRows(): java.util.OptionalLong = rows

    /** Column-level statistics for the CBO (`spark.sql.cbo.enabled`):
      * distinctCount folds the per-file NDV registers (opt-in
      * `ndvColumns` writes — elementwise max, then one HLL estimate for
      * exactly the PRUNED file set), nullCount sums the recorded null
      * counts, min/max fold the [lo, hi] bounds. A column reports only
      * what EVERY planned file recorded (the facts' usual
      * complete-or-silent policy); with no recorded columns the map is
      * empty and the optimizer falls back to rows/bytes. This is what
      * lets join ORDER and broadcast decisions on lake tables stop
      * flying blind: a filtered fact side estimates through
      * FilterEstimation's ndv arithmetic instead of defaulting. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics]()
      // the engine consults columnStats() on EVERY logical-stats request
      // (transformV2Stats, unconditionally) — but only the CBO ever reads
      // attributeStats, so skip the stats decode entirely when it is off
      // (keeps default planning zero-overhead at 10k-file tables)
      if (!org.apache.spark.sql.internal.SQLConf.get.cboEnabled) return out
      // live scans only: a snapshot's facts serve the aggregate pushdown
      // path (LakeSinkScanBuilder); CBO column stats on time travel add
      // nothing a historical query plans on
      if (timeTravel) return out
      val blobs = snap.stats
      val aliasMap = evolution._1
      val decoded = planned.map(p =>
        blobs.get(relOf(p)).map(LakeSinkStats.decode(_, fullSchema, aliasMap)))
      if (decoded.isEmpty || decoded.exists(_.isEmpty)) return out
      val perFile = decoded.flatten
      fullSchema.fields.iterator
        .filter(f => !partCols.contains(f.name) &&
          LakeSinkStats.statable(f.dataType))
        .foreach { f =>
          val entries = perFile.map(_.get(f.name))
          if (entries.forall(_.isDefined)) {
            val stats = entries.flatten
            val bounded = stats.filter(_.bounds.isDefined)
            val ndvOpt: Option[Long] =
              if (bounded.isEmpty) Some(0L) // every file all-null
              else if (bounded.forall(_.ndv.isDefined))
                LakeSinkStats.ndvUnion(bounded.map(_.ndv.get))
                  .map(LakeSinkStats.ndvEstimate)
              else None
            val nullsOpt: Option[Long] =
              if (stats.forall(_.nulls.isDefined)) Some(stats.flatMap(_.nulls).sum)
              else None
            val bs = bounded.flatMap(_.bounds)
            val minOpt: Option[Any] = bs.map(_._1)
              .reduceOption((a, b) => if (LakeSinkStats.cmp(a, b) <= 0) a else b)
              .map(LakeSinkStats.toInternal(f.dataType, _))
            val maxOpt: Option[Any] = bs.map(_._2)
              .reduceOption((a, b) => if (LakeSinkStats.cmp(a, b) >= 0) a else b)
              .map(LakeSinkStats.toInternal(f.dataType, _))
            // HISTOGRAM for the CBO's selectivity path: fold the pruned
            // files' aligned-grid histograms (exact — the merge law) and
            // convert to the engine's equi-height model; transformV2Stats
            // hands it to FilterEstimation, so a SKEWED predicate stops
            // estimating uniformly (rows/ndv) and reads the actual mass
            val histOpt: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
              if (bounded.nonEmpty && bounded.forall(_.hist.isDefined))
                LakeSinkStats.histUnion(bounded.map(_.hist.get))
                  .flatMap { case (j, bs) =>
                    LakeSinkStats.toEquiHeight(j, bs, ndvOpt,
                      integral = f.dataType match {
                        case org.apache.spark.sql.types.DoubleType |
                             org.apache.spark.sql.types.FloatType => false
                        case _ => true
                      }) }
                  .map { case (h, bs) =>
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h
                      override def bins(): Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        bs.map { case (l, u, n) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = l
                            override def hi(): Double = u
                            override def ndv(): Long = n
                          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                        }
                    }
                  }
              else None
            if (ndvOpt.isDefined || nullsOpt.isDefined || minOpt.isDefined)
              out.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
                new ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    ndvOpt.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  override def nullCount(): java.util.OptionalLong =
                    nullsOpt.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  override def min(): java.util.Optional[Object] =
                    minOpt.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    maxOpt.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def histogram(): java.util.Optional[org.apache.spark.sql.connector.read.colstats.Histogram] =
                    histOpt.map(h => java.util.Optional.of(h))
                      .getOrElse(java.util.Optional.empty[
                        org.apache.spark.sql.connector.read.colstats.Histogram]())
                })
          }
        }
      out
    }
  }

  /** A planned file's RELATIVE name — the key of every fact and vector. */
  private def relOf(p: Path): String = {
    val retiredP = LakeSinkFiles.retiredDir(path)
    (if (p.startsWith(retiredP)) retiredP.relativize(p)
     else Paths.get(path).relativize(p)).toString
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val all = resolvedFiles
    val (rtPart, rtData) = runtimeFilters.partition(isPartFilter)
    val effPart = partFilters ++ rtPart
    val effData = dataFilters ++ rtData
    val kept = all
      .filter { case (_, kvs) => LakeSinkPartitions.keeps(fullSchema, kvs, effPart) }
    // per-file [lo, hi] stats skipping: drop files a residual (planned or
    // runtime) data filter PROVABLY cannot match (files are immutable once
    // committed, so a recorded stat is always current; unrecorded files are
    // kept — the engine still re-evaluates the filter on every surviving
    // row, so a skip is a pure I/O save, never a semantics change).
    // Temporal partition dirs prune through the SAME interval algebra: a
    // `days(ts)` file's dir value proves an inclusive epoch-micros
    // interval for ts, fed to mayMatch as a synthetic stat — so a plain
    // `ts BETWEEN` predicate opens only the matching day dirs (the hidden-
    // partitioning contract, no recorded stats needed).
    // temporal pruning covers EVERY generation of an evolved table: each
    // file matches the dirKey of whichever spec wrote it (a `ts BETWEEN`
    // skips old day-dirs AND new hour-dirs; a file matching none is kept)
    val temporalParts = (parts ++
      historicSpecs.flatten.map(LakePart.parse)).filter(_.temporal.isDefined)
      .distinctBy(_.spec)
    def temporalStats(kvs: Seq[(String, String)]): Option[LakeSinkStats.FileStats] =
      if (temporalParts.isEmpty) None
      else Some(temporalParts.flatMap { f =>
        // a historic spec's source column may have been dropped since —
        // its files then just keep (no synthetic stat, sound)
        fullSchema.fields.find(_.name == f.name).flatMap { sf =>
        kvs.find(_._1 == f.dirKey).map { case (_, v) =>
          val (lo, hi) = LakePart.temporalDirInterval(f.temporal.get, v)
          val b: (Any, Any) = sf.dataType match {
            case DateType => // date sources carry epoch-DAY bounds
              (java.lang.Long.valueOf(Math.floorDiv(lo, LakePart.MicrosPerDay)),
                java.lang.Long.valueOf(Math.floorDiv(hi, LakePart.MicrosPerDay)))
            case _ =>
              (java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi))
          }
          // nulls = 0: the writer refuses NULL partition-source values
          f.name -> LakeSinkStats.ColStat(Some(0L), Some(b))
        }
        }
      }.toMap)
    val taken =
      if (effData.isEmpty) kept
      else {
        val blobs = snap.stats
        val aliasMap = evolution._1
        kept.filter { case (p, kvs) =>
          val fs = blobs.get(relOf(p))
            .map(LakeSinkStats.decode(_, fullSchema, aliasMap))
          val synth = temporalStats(kvs)
          effData.forall(f => LakeSinkStats.mayMatch(fs, fullSchema, f) &&
            LakeSinkStats.mayMatch(synth, fullSchema, f))
        }
      }
    skippedFiles = kept.size - taken.size
    // row-level operations record the planned group (file) set — the
    // exact files a ReplaceData commit must swap out (last planning wins)
    onPlanned(taken.map(_._1.toString))
    // merge-on-read delete vectors: every read applies exactly its
    // record's vectors; in CDF delete-leg mode (includePositions) the read
    // is restricted to the listed positions instead
    val vecs: Map[String, Array[Long]] = snap.deletes
    // row-level operations also record the vector snapshot their rewrite
    // content was computed against — a concurrent merge-on-read DELETE
    // (which touches no data file) is then detected at their commit
    // (LakeSinkDeletes.requireUnchanged), not silently undone
    onPlannedDeletes(vecs)
    def mk(p: Path, kvs: Seq[(String, String)]): LakeSinkInputPartition = {
      val rel = if (vecs.isEmpty && includePositions.isEmpty) "" else relOf(p)
      // readers restore identity dir values into columns; bucket-id dirs
      // are layout only (the source column travels in the rows)
      val identKvs = kvs.filter { case (k, _) => identityKeys.contains(k) }
      if (includePositions.nonEmpty)
        LakeSinkInputPartition(p.toString, identKvs,
          includeOnly = Some(includePositions.getOrElse(rel, Array.empty)))
      else
        LakeSinkInputPartition(p.toString, identKvs,
          deletes = vecs.getOrElse(rel, Array.empty))
    }
    if (spjActive) {
      // one input partition per partition DIRECTORY, key = decoded values
      // in partition-field order (identity value or bucket id) — the
      // KeyGroupedPartitioning contract
      taken.groupBy { case (_, kvs) =>
        parts.map(f => kvs.find(_._1 == f.dirKey).map(_._2).getOrElse(
          throw new IllegalStateException(
            s"LakeSink SPJ: file missing partition dir ${f.dirKey}")))
      }.toSeq.sortBy(_._1.mkString("/")).map { case (vals, files) =>
        LakeSinkGroupPartition(
          files.map { case (p, kvs) => mk(p, kvs) }.toArray,
          parts.zip(vals).map {
            case (f, v) if f.isIdentity =>
              LakeSinkPartitions.dirToInternal(fullSchema(f.name).dataType, v)
            case (f, v) if f.temporal.isDefined => // days/hours/months/years key
              java.lang.Integer.valueOf(LakePart.temporalKeyOfDir(f.temporal.get, v))
            case (_, v) => java.lang.Integer.valueOf(v.toInt) // bucket id
          }.toArray)
          : InputPartition
      }.toArray
    } else
      taken.map { case (p, kvs) => mk(p, kvs): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // evolution state resolved at PLANNING on the driver (snapshot scans
    // carry their version's; live scans the manifest's) and shipped to
    // executors inside the factory
    val (aliases, ignored) = evolution
    new LakeSinkReaderFactory(fullSchema, required, partCols, aliases, ignored,
      LakeSinkDefaults.internalMap(manifest.defaults, LakeSink.dataSchema(fullSchema, partCols)))
  }

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LakeSinkMicroBatchStream(fullSchema, required, path, partCols,
      triggerLimits._1, triggerLimits._2, triggerLimits._3)
}

/** Streaming READ of a lake table (`spark.readStream.table("graft.lake.…")`)
  * — the FileStreamSource pattern re-expressed as a DSv2 MicroBatchStream:
  * an offset is a SNAPSHOT of the committed file set (names are
  * deterministic and collision-free across writers, so set difference IS
  * the new data), each micro-batch reads exactly `end − start`, and a
  * checkpoint restart replays the same difference. Contract: streaming
  * readers assume the lake is APPEND-ONLY while tailed (the reference's
  * telemetry lake is); DML rewrites (MERGE/UPDATE/DELETE) change history,
  * and a vanished recorded file fails the batch loudly rather than
  * silently dropping rows. A production lakehouse versioned manifest
  * would make offsets O(1) — here the file list IS the manifest,
  * checkpointed by the engine. */
private[sources] class LakeSinkMicroBatchStream(fullSchema: StructType,
    required: StructType, path: String, partCols: Seq[String],
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows}

  private def committed(snap: LakeSnapshot): Seq[String] =
    snap.files.map(Paths.get(path).resolve(_).toString).sorted

  // AvailableNow pins the availability horizon at query start: every
  // batch drains toward the SAME snapshot even while writers keep
  // committing, so the query terminates (the FileStreamSource contract)
  private var horizon: Option[Seq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    horizon = Some(committed(LakeSinkFiles.latest(path)))

  /** `maxFilesPerTrigger` / `maxRowsPerTrigger` read options bound the
    * ADMITTED backlog per micro-batch — tailing a 100 TB lake from an old
    * checkpoint must not plan one monster batch. Rows are bounded from
    * the latest record's row counts (whole files admit until the cap; an
    * unrecorded file closes its batch — progress is still guaranteed
    * because the first fresh file always admits). */
  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxRowsPerTrigger) match {
      case (Some(f), Some(r)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _               => ReadLimit.allAvailable()
    }

  private def admitted(fresh: Seq[String], limit: ReadLimit,
      counts: Map[String, Long]): Seq[String] = limit match {
    case _: ReadAllAvailable => fresh
    case f: ReadMaxFiles     => fresh.take(f.maxFiles)
    case r: ReadMaxRows =>
      val root = Paths.get(path)
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var acc = 0L
      val it = fresh.iterator
      while (it.hasNext && acc < r.maxRows) {
        val f0 = it.next()
        out += f0
        // an unrecorded file has unknown size: admit it, then stop
        acc += counts.get(root.relativize(Paths.get(f0)).toString)
          .getOrElse(Long.MaxValue / 2)
      }
      out.toSeq
    case c: CompositeReadLimit => // most restrictive member (admissions
      c.getReadLimits.map(l => admitted(fresh, l, counts)).minBy(_.size) // are prefixes)
    case _ => fresh
  }

  /** `maxBytesPerTrigger` has no ReadLimit type in the engine's admission
    * API, so it caps the fresh list directly (compressed on-disk sizes —
    * the unit a backlog is billed in); whole files admit, the first
    * always (progress), and the file-count/row ReadLimit then applies on
    * top — most-restrictive wins, like a composite. */
  private def byteCapped(fresh: Seq[String]): Seq[String] =
    maxBytesPerTrigger match {
      case None => fresh
      case Some(cap) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var acc = 0L
        val it = fresh.iterator
        while (it.hasNext && acc < cap) {
          val f = it.next()
          out += f
          acc += (try Files.size(Paths.get(f)) catch { case _: Exception => cap })
        }
        out.toSeq
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[LakeSinkOffset].files
    val snap = LakeSinkFiles.latest(path)
    val avail = horizon.getOrElse(committed(snap))
    val fresh = avail.filterNot(seen.toSet)
    LakeSinkOffset((seen ++ admitted(byteCapped(fresh), limit, snap.counts)).sorted)
  }

  override def initialOffset(): Offset = LakeSinkOffset(Seq.empty)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "LakeSinkMicroBatchStream uses latestOffset(start, limit)")
  override def deserializeOffset(json: String): Offset = LakeSinkOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[LakeSinkOffset].files.toSet
    val fresh = end.asInstanceOf[LakeSinkOffset].files.filterNot(seen)
    // vectors recorded BEFORE a file is admitted must apply (a row both
    // written and vector-deleted before its batch must not surface);
    // vectors landing AFTER admission are history the stream already
    // emitted — the documented append-only streaming contract
    val vecs = LakeSinkFiles.latest(path).deletes
    val identityKeys = LakePart.parseAll(partCols)
      .filter(_.isIdentity).map(_.dirKey).toSet
    fresh.map { f =>
      require(Files.isRegularFile(Paths.get(f)),
        s"LakeSink stream: committed file $f vanished mid-stream — " +
          "streaming reads require an append-only lake")
      val root = Paths.get(path)
      val rel = root.relativize(Paths.get(f))
      val kvs = LakeSinkPartitions.kvsOf(root, Paths.get(f), partCols)
        .filter { case (k, _) => identityKeys.contains(k) }
      LakeSinkInputPartition(f, kvs,
        deletes = vecs.getOrElse(rel.toString, Array.empty)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val m = LakeManifest.read(path).getOrElse(LakeManifest.Empty)
    val (aliases, ignored) = m.evolution
    new LakeSinkReaderFactory(fullSchema, required, partCols, aliases, ignored,
      LakeSinkDefaults.internalMap(m.defaults, LakeSink.dataSchema(fullSchema, partCols)))
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = the sorted committed file list, JSON-escaped one name per
  * line entry (the writer's own escape set — names are path strings). */
private[graft] case class LakeSinkOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.map(f => "\"" + LakeSink.jsonEscape(f) + "\"").mkString("[", ",", "]")
}

private[graft] object LakeSinkOffset {
  def fromJson(json: String): LakeSinkOffset = {
    val t = json.trim
    require(t.startsWith("[") && t.endsWith("]"),
      s"LakeSink stream: malformed offset $json")
    val body = t.substring(1, t.length - 1)
    if (body.isEmpty) LakeSinkOffset(Seq.empty)
    else {
      // names were written with jsonEscape: split on "," boundaries is
      // unsafe under escaped quotes, so scan properly
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < body.length) {
        require(body.charAt(i) == '"', s"LakeSink stream: malformed offset at $i")
        val b = new java.lang.StringBuilder
        i += 1
        while (body.charAt(i) != '"') {
          if (body.charAt(i) == '\\') {
            // full jsonEscape inverse (n/r/t/uXXXX, not just " and \):
            // a path with whitespace/control chars must round-trip to the
            // SAME string or checkpointed offsets stop matching committed()
            i += 1
            body.charAt(i) match {
              case 'n' => b.append('\n'); case 'r' => b.append('\r')
              case 't' => b.append('\t')
              case 'u' =>
                b.append(Integer.parseInt(body.substring(i + 1, i + 5), 16).toChar)
                i += 4
              case c   => b.append(c)
            }
          }
          else b.append(body.charAt(i))
          i += 1
        }
        out += b.toString
        i += 1
        if (i < body.length) { require(body.charAt(i) == ','); i += 1 }
      }
      LakeSinkOffset(out.toSeq)
    }
  }
}

/** One committed file to scan. `deletes` = sorted physical positions a
  * delete vector hides; `includeOnly` (CDF delete legs) restricts the
  * read to exactly those sorted positions instead. */
private[sources] case class LakeSinkInputPartition(file: String,
    partValues: Seq[(String, String)],
    deletes: Array[Long] = Array.empty,
    includeOnly: Option[Array[Long]] = None) extends InputPartition

/** One partition DIRECTORY's files as a single input partition, carrying
  * the directory's decoded partition values as the DSv2 partition key —
  * the unit of storage-partitioned-join co-location. */
private[sources] case class LakeSinkGroupPartition(
    files: Array[LakeSinkInputPartition], keyVals: Array[Any])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

private[sources] class LakeSinkReaderFactory(fullSchema: StructType,
    required: StructType, partCols: Seq[String],
    aliases: Map[String, String] = Map.empty,
    ignored: Set[String] = Set.empty,
    // EXISTS-default fill by logical name, resolved at planning on the
    // driver (see LakeSinkDefaults.internalMap) and shipped to executors
    defaults: Map[String, Any] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: LakeSinkInputPartition =>
        new LakeSinkPartitionReader(p.file, fullSchema, required, partCols,
          p.partValues, p.deletes, p.includeOnly, aliases, ignored,
          defaults = defaults)
      case g: LakeSinkGroupPartition =>
        // chain the directory's files sequentially in one task
        new PartitionReader[InternalRow] {
          private var i = -1
          private var cur: LakeSinkPartitionReader = _
          override def next(): Boolean = {
            while (cur == null || !cur.next()) {
              if (cur != null) cur.close()
              cur = null
              i += 1
              if (i >= g.files.length) return false
              cur = new LakeSinkPartitionReader(g.files(i).file, fullSchema,
                required, partCols, g.files(i).partValues, g.files(i).deletes,
                g.files(i).includeOnly, aliases, ignored, defaults = defaults)
            }
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
}

/** Streams one committed gzip JSON-lines file; each line is parsed with a
  * schema-typed scanner (the inverse of [[LakeSink.serializers]] — same
  * escape set, same micros-ISO timestamp format), partition-column values
  * are decoded ONCE from the directory names, and only `required` columns
  * are materialized. */
private[sources] class LakeSinkPartitionReader(file: String,
    fullSchema: StructType, required: StructType, partCols: Seq[String],
    partValues: Seq[(String, String)],
    deletes: Array[Long] = Array.empty,
    includeOnly: Option[Array[Long]] = None,
    aliases: Map[String, String] = Map.empty,
    ignored: Set[String] = Set.empty,
    // CDF mode: per-partition constant columns (internal representation)
    // the change-feed reader appends — _change_type / _commit_version
    cdfConsts: Map[String, Any] = Map.empty,
    // EXISTS-default fill by logical name (see LakeSinkDefaults)
    defaults: Map[String, Any] = Map.empty) extends PartitionReader[InternalRow] {

  private val dataSchema = LakeSink.dataSchema(fullSchema, partCols)
  private val parser = new JsonLineParser(dataSchema, aliases, ignored, defaults)
  private val parsed = new Array[Any](dataSchema.length)

  // typed partition values, decoded once per file
  private val partTyped: Map[String, Any] = partValues.map { case (k, v) =>
    k -> (fullSchema(k).dataType match {
      case StringType  => UTF8String.fromString(v)
      case IntegerType => java.lang.Integer.valueOf(v)
      case LongType    => java.lang.Long.valueOf(v)
      case DateType    => java.lang.Integer.valueOf(
        java.time.LocalDate.parse(v).toEpochDay.toInt)
      case other => throw new UnsupportedOperationException(
        s"LakeSink read: unsupported partition column type $other for $k")
    })
  }.toMap

  // required field i ← Left(dataSchema position) | Right(constant: a
  // partition value or the _file metadata column, both per-file);
  // PosSentinel marks the per-row _pos metadata column
  private val PosSentinel = Left(-1)
  private val extract: Array[Either[Int, Any]] = required.fields.map { f =>
    if (cdfConsts.contains(f.name)) Right(cdfConsts(f.name))
    else if (f.name == LakeSinkTable.FileMetaCol) Right(UTF8String.fromString(file))
    else if (f.name == LakeSinkTable.PosMetaCol) PosSentinel
    else if (partCols.contains(f.name)) Right(partTyped.getOrElse(f.name,
      throw new IllegalStateException(
        s"LakeSink read: partition column ${f.name} missing from ${file}'s path")))
    else Left(dataSchema.fieldIndex(f.name))
  }

  private val lines = new LakeLineCursor(Paths.get(file), deletes, includeOnly)

  override def next(): Boolean = lines.next()

  override def get(): InternalRow = {
    parser.parse(lines.line, parsed)
    val vals = new Array[Any](extract.length)
    var i = 0
    while (i < extract.length) {
      vals(i) = extract(i) match {
        case Left(-1) => java.lang.Long.valueOf(lines.pos)
        case Left(j)  => parsed(j)
        case Right(v) => v
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = lines.close()
}

/** The one reader of a committed gzip JSON-lines file (scans, compaction,
  * ANALYZE): `next()` advances to the next visible line, exposed as `line`
  * with its physical position `pos` (the line index — the address delete
  * vectors use). Positions in `deletes` (sorted) are skipped; with
  * `includeOnly` (CDF row-level legs, sorted) only the listed positions
  * surface and reading stops after the last. Sorted-pointer advances: no
  * allocation per row beyond the line itself. */
private[sources] final class LakeLineCursor(file: Path,
    deletes: Array[Long] = Array.empty,
    includeOnly: Option[Array[Long]] = None) extends java.io.Closeable {
  private val in = new BufferedReader(new InputStreamReader(
    LakeLineCursor.open(file), StandardCharsets.UTF_8))
  private val include = includeOnly.isDefined
  private val marks = includeOnly.getOrElse(deletes)
  private var mi = 0
  private var cur: String = _
  private var at = -1L

  def line: String = cur
  def pos: Long = at

  def next(): Boolean = {
    while (!include || mi < marks.length) {
      cur = in.readLine()
      if (cur == null) return false
      at += 1
      while (mi < marks.length && marks(mi) < at) mi += 1
      // a listed line surfaces in include mode and hides otherwise
      if ((mi < marks.length && marks(mi) == at) == include) {
        if (include) mi += 1
        return true
      }
    }
    false // past the last listed line
  }

  override def close(): Unit = in.close()
}

private[sources] object LakeLineCursor {
  /** A committed file's decompressed bytes — every gzip member in turn. */
  def open(file: Path): java.io.InputStream =
    new GZIPInputStream(Files.newInputStream(file), 1 << 13)
}

/** Group-based row-level operations (MERGE INTO / UPDATE / row-level
  * DELETE) for lake tables — the copy-on-write contract Iceberg calls
  * eager ReplaceData: Spark rewrites the command into "read the affected
  * GROUPS (files), compute their full post-command content, write
  * replacements"; the connector's job is (a) a scan that records exactly
  * which committed files it planned — partition-equality predicates the
  * engine pushes shrink that group set for free — and (b) a write whose
  * commit atomically-per-file promotes the staged replacements and drops
  * the recorded originals. Partition-equality DELETEs never get here
  * (SupportsDelete's metadata path wins); everything else rewrites.
  *
  * 100 TB story: the rewrite cost is proportional to the AFFECTED file
  * set, not the table, whenever the command's condition carries a
  * partition equality; the commit itself is O(#files) driver-side
  * renames. The promote→drop window is not a single atomic swap (a true
  * lakehouse closes it with a versioned file manifest) — documented, and
  * irrelevant to the single-writer semantics this sink promises. */
private[sources] class LakeSinkRowLevelOperation(schema: StructType,
    path: String, partCols: Seq[String], cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // the op's scan and write are built from ONE instance — these fields
  // are the group handshake between them (driver-side only): the planned
  // file set AND the delete-vector snapshot the scan filtered with (the
  // rewrite's content is only valid against exactly those vectors)
  @volatile private var plannedFiles: Seq[String] = Seq.empty
  @volatile private var plannedVecs: Map[String, Array[Long]] = Map.empty

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake-rowlevel-$cmd path=$path"
  /** Requiring `_file` is LOAD-BEARING, not an optimization hint: with no
    * metadata attributes Spark plans the plain writing task, which hands
    * the connector RAW (operation, data…) rows — only the
    * metadata-carrying task applies the data projection that strips the
    * operation column (verified against 4.1.2's ReplaceDataExec). */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      LakeSinkTable.FileMetaCol))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // allowAgg = false: the op's scan must PLAN data files (the group
    // handshake below) — a metadata-only agg scan would record nothing
    new LakeSinkScanBuilder(schema, path, partCols,
      onPlanned = fs => plannedFiles = fs, allowAgg = false,
      onPlannedDeletes = vs => plannedVecs = vs)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        LakeSink.serializers(LakeSink.dataSchema(info.schema(), partCols))
        override def description(): String = s"graft-lake-replace-data path=$path"
        override def toBatch: BatchWrite = new LakeSinkReplaceBatchWrite(
          info.schema(), path, partCols,
          java.util.UUID.randomUUID.toString.take(8), () => plannedFiles,
          () => plannedVecs)
      }
    }
}

/** ReplaceData commit: stage like any batch write, then replace the
  * operation's recorded group files through [[LakeSinkFiles.commitRewrite]]
  * — a concurrent commit (compaction, another DML) that rewrote a planned
  * file or vectored one makes this commit's foundation stale; it aborts
  * loudly with zero mutations instead of silently duplicating the
  * rewritten rows or resurrecting deleted ones. */
private[graft] class LakeSinkReplaceBatchWrite(schema: StructType,
    path: String, partCols: Seq[String], writeId: String,
    oldFiles: () => Seq[String],
    plannedDels: () => Map[String, Array[Long]] = () => Map.empty)
    extends BatchWrite {
  LakeSinkFiles.ensureDirs(path)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeSinkWriterFactory(schema, path, s"b$writeId", partCols)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case c: LakeSinkCommit => c }.toSeq
    val root = Paths.get(path)
    // a stale plan aborts with the table untouched; the sweep catches
    // staged files of task attempts that sent no message
    try LakeSinkFiles.commitRewrite(path,
      oldFiles().map(f => root.relativize(Paths.get(f)).toString), plannedDels(),
      committed.flatMap(_.staged), LakeFacts.of(committed), "row-level rewrite")
    catch { case e: java.util.ConcurrentModificationException =>
      LakeSinkFiles.sweep(path, s"b$writeId")
      throw e
    }
    Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    LakeSinkFiles.discard(path,
      messages.collect { case c: LakeSinkCommit => c.staged }.toSeq.flatten)
    LakeSinkFiles.sweep(path, s"b$writeId")
  }
}

/** MERGE-ON-READ row-level DELETE (the delta-based `SupportsDelta` /
  * WriteDelta tier — Iceberg positional delete files, Delta deletion
  * vectors): Spark rewrites `DELETE FROM t WHERE …` into "scan the
  * affected rows, hand the connector (operation, rowId) DELTAS", where
  * this table's rowId is the durable physical address `(_file, _pos)`.
  * The commit merges the collected positions into the delete-vector
  * ledger ([[LakeSinkDeletes]]) and records a version — ZERO data files
  * are rewritten; scans filter the vectors out until compaction
  * materializes them. Partition-equality DELETEs never get here
  * (SupportsDelete's metadata path wins); UPDATE/MERGE stay
  * copy-on-write ([[LakeSinkRowLevelOperation]]).
  *
  * 100 TB story: a 1-row DELETE is O(1) ledger bytes + one version
  * record instead of a whole-file rewrite — the write-amplification
  * answer for point deletes; the read-side price (a sorted-cursor
  * position check per scanned row of affected files) is bounded and
  * reclaimed by the next compaction. */
private[graft] class LakeSinkDeltaOperation(schema: StructType,
    path: String, partCols: Seq[String], cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  // the files whose rows the operation's scan planned — validated live at
  // commit (a concurrent compaction/rewrite invalidates the positions)
  @volatile private var plannedFiles: Seq[String] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake-mor-$cmd path=$path"
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeSinkTable.FileMetaCol),
      Expressions.column(LakeSinkTable.PosMetaCol))
  /** UPDATE/MERGE updates arrive as delete + insert pairs — the vector
    * hides the old row, the new row lands in a delta-written file. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeSinkScanBuilder(schema, path, partCols,
      onPlanned = fs => plannedFiles = fs, allowAgg = false)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        // validate insert-leg serializers at planning, like any write
        // (a pure DELETE has no insert columns — nothing to validate)
        if (info.schema().fields.nonEmpty)
          LakeSink.serializers(LakeSink.dataSchema(info.schema(), partCols))
        override def description(): String = s"graft-lake-delta path=$path"
        override def toBatch: DeltaBatchWrite =
          new LakeSinkDeltaBatchWrite(info.schema(), path, partCols,
            java.util.UUID.randomUUID.toString.take(8), () => plannedFiles)
      }
    }
}

/** Delta commit message: the vectored (absolute file, position) pairs
  * plus the ordinary staged-file message of the insert leg (if any). */
private[graft] case class LakeSinkDeleteCommit(positions: Seq[(String, Long)],
    inserts: Option[LakeSinkCommit] = None) extends WriterCommitMessage

private[graft] class LakeSinkDeltaBatchWrite(schema: StructType, path: String,
    partCols: Seq[String], writeId: String,
    planned: () => Seq[String]) extends DeltaBatchWrite {
  LakeSinkFiles.ensureDirs(path)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    // standalone factory: an anonymous inner class would drag this batch
    // write (and its non-serializable planned-files closure) to executors
    LakeSinkDeltaWriterFactory(schema, path, partCols, writeId)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // stale-plan conflict check BEFORE any mutation (same contract as
    // ReplaceData): positions address files that must still be live
    try LakeSinkFiles.requireAllLive(path, planned(), "merge-on-read DML")
    catch { case e: java.util.ConcurrentModificationException =>
      LakeSinkFiles.discard(path, messages.collect {
        case d: LakeSinkDeleteCommit => d.inserts.toSeq.flatMap(_.staged) }.toSeq.flatten)
      LakeSinkFiles.sweep(path, s"d$writeId")
      throw e
    }
    val root = Paths.get(path)
    val deltas = messages.collect { case d: LakeSinkDeleteCommit => d }.toSeq
    val adds: Map[String, Seq[Long]] = deltas.flatMap(_.positions)
      .groupBy(_._1)
      .map { case (abs, ps) =>
        root.relativize(Paths.get(abs)).toString -> ps.map(_._2)
      }
    val inserted = deltas.flatMap(_.inserts)
    // vectors BEFORE the insert-leg promote: a reader racing a
    // merge-on-read UPDATE/MERGE then transiently misses the updated row
    // instead of DOUBLE-seeing it (old row not yet hidden + new row
    // already promoted) — the safer side of the same promote→retire
    // window ReplaceData documents
    LakeSinkDeletes.update(path, adds, Seq.empty)
    LakeSinkFiles.promote(path, inserted.flatMap(_.staged))
    LakeSinkFiles.recordVersion(path, inserted.flatMap(_.staged), Seq.empty,
      LakeFacts.of(inserted))
    Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    LakeSinkFiles.discard(path, messages.collect {
      case d: LakeSinkDeleteCommit => d.inserts.toSeq.flatMap(_.staged) }.toSeq.flatten)
    LakeSinkFiles.sweep(path, s"d$writeId")
  }
}

private[sources] case class LakeSinkDeltaWriterFactory(schema: StructType,
    path: String, partCols: Seq[String], writeId: String)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeSinkDeltaWriter(schema, path, partCols,
      fileName = s"part-d$writeId-$partitionId.json.gz",
      attemptTag = s"d$writeId-$partitionId-a$taskId")
}

/** Task-side delta writer: buffers (absolute file, position) pairs of
  * deleted rows; insert legs (UPDATE/MERGE under merge-on-read) stream
  * through an ordinary staged data writer. Nothing is visible until the
  * driver commit. */
private[sources] class LakeSinkDeltaWriter(schema: StructType, path: String,
    partCols: Seq[String], fileName: String, attemptTag: String)
    extends DeltaWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private var dataWriter: LakeSinkDataWriter = _
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    buf += ((id.getUTF8String(0).toString, id.getLong(1)))
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "unreachable: representUpdateAsDeleteAndInsert splits updates")
  override def insert(row: InternalRow): Unit = {
    if (dataWriter == null)
      dataWriter = new LakeSinkDataWriter(schema, path, partCols, fileName, attemptTag)
    dataWriter.write(row)
  }
  override def commit(): WriterCommitMessage =
    LakeSinkDeleteCommit(buf.toSeq,
      if (dataWriter == null) None
      else dataWriter.commit() match {
        case c: LakeSinkCommit => Some(c)
        case _                 => None
      })
  override def abort(): Unit = if (dataWriter != null) dataWriter.abort()
  override def close(): Unit = if (dataWriter != null) dataWriter.close()
}

/** Minimal single-object JSON-lines scanner typed by the writer's own
  * schema — parses exactly the value grammar [[LakeSink.serializers]]
  * emits (null / number / true / false / escaped string / quoted
  * micros-ISO timestamp), field order free, unknown fields rejected
  * loudly (they would mean the manifest and the files drifted).
  *
  * Schema evolution: `aliases` maps PHYSICAL field names (what files
  * written before a RENAME carry) to their logical column; `ignored`
  * lists physical names a DROP COLUMN left behind in old files — their
  * values are skipped, any other unknown field still fails loudly. */
/** Decoding side of column DEFAULT values (see
  * [[LakeManifest.defaults]]): the stored token is the exact
  * writer encoding of the folded default, so the one-field typed parse
  * below is its inverse — zero new codec rules. */
private[sources] object LakeSinkDefaults {

  /** The default's INTERNAL value under `f`'s (possibly widened) type. */
  def decodeToken(f: org.apache.spark.sql.types.StructField, token: String): Any = {
    val p = new JsonLineParser(StructType(Seq(f)))
    val out = new Array[Any](1)
    p.parse(s"""{"${LakeSink.jsonEscape(f.name)}":$token}""", out)
    out(0)
  }

  /** logical name → internal default value, typed by `schema` (columns
    * absent from the schema — dropped, or not yet added in a snapshot's
    * generation — do not participate; a NULL default ≡ the plain
    * null-fill and is dropped too). Driver-side: the result is captured
    * by reader factories and shipped to executors. */
  def internalMap(ds: Seq[(String, String, String)], schema: StructType): Map[String, Any] = {
    if (ds.isEmpty) return Map.empty
    ds.iterator.flatMap { case (n, _, tok) =>
      schema.fields.find(_.name == n).flatMap { f =>
        Option(decodeToken(f, tok)).map(v => n -> v)
      }
    }.toMap
  }
}

private[sources] final class JsonLineParser(schema: StructType,
    aliases: Map[String, String] = Map.empty,
    ignored: Set[String] = Set.empty,
    // EXISTS-default fill (internal values by logical name): a field
    // ABSENT from a line reads its default — the writer always emits
    // explicit nulls for every column it writes, so absence means "file
    // predates the column (or a legal subset append)", never "null row"
    defaults: Map[String, Any] = Map.empty) {
  private val fieldIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    aliases.foreach { case (phys, logical) =>
      val li = m.get(logical)
      if (li != null) m.put(phys, li)
    }
    m
  }
  private val types: Array[DataType] = schema.fields.map(_.dataType)
  // per-parse prefill: defaults at defaulted positions, null elsewhere
  private val template: Array[AnyRef] = {
    val t = new Array[AnyRef](schema.length)
    defaults.foreach { case (n, v) =>
      val i = fieldIdx.get(n)
      if (i != null) t(i) = v.asInstanceOf[AnyRef]
    }
    t
  }

  private def fail(line: String, pos: Int, what: String): Nothing =
    throw new IllegalArgumentException(
      s"LakeSink read: malformed JSON line at pos $pos ($what): $line")

  /** Parse a quoted string starting at `pos` (at the opening '"');
    * returns (value, position after the closing quote). */
  private def parseString(line: String, pos: Int): (String, Int) = {
    var i = pos + 1
    val b = new java.lang.StringBuilder()
    while (i < line.length) {
      line.charAt(i) match {
        case '"' => return (b.toString, i + 1)
        case '\\' =>
          i += 1
          if (i >= line.length) fail(line, i, "dangling escape")
          line.charAt(i) match {
            case '"'  => b.append('"')
            case '\\' => b.append('\\')
            case '/'  => b.append('/')
            case 'n'  => b.append('\n')
            case 'r'  => b.append('\r')
            case 't'  => b.append('\t')
            case 'b'  => b.append('\b')
            case 'f'  => b.append('\f')
            case 'u'  =>
              if (i + 4 >= line.length) fail(line, i, "short \\u escape")
              b.append(Integer.parseInt(line.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => fail(line, i, s"unknown escape \\$c")
          }
          i += 1
        case c => b.append(c); i += 1
      }
    }
    fail(line, pos, "unterminated string")
  }

  private def micros(s: String): Long = {
    val inst = java.time.Instant.from(LakeSink.TsFormatter.parse(s))
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** Parse one line into `out` (length = schema size, filled with the
    * InternalRow representation: UTF8String / micros-Long / primitives). */
  def parse(line: String, out: Array[Any]): Unit = {
    System.arraycopy(template, 0, out.asInstanceOf[Array[AnyRef]], 0, template.length)
    var i = 0
    if (line.isEmpty || line.charAt(i) != '{') fail(line, i, "expected '{'")
    i += 1
    if (i < line.length && line.charAt(i) == '}') return // empty object
    var done = false
    while (!done) {
      if (i >= line.length || line.charAt(i) != '"') fail(line, i, "expected field name")
      val (name, afterName) = parseString(line, i)
      i = afterName
      if (i >= line.length || line.charAt(i) != ':') fail(line, i, "expected ':'")
      i += 1
      val fi = fieldIdx.get(name)
      if (fi == null && !ignored.contains(name))
        fail(line, i, s"unknown field '$name'")
      line.charAt(i) match {
        case 'n' =>
          if (!line.startsWith("null", i)) fail(line, i, "expected null")
          // EXPLICIT null overwrites a default prefill (defaults apply
          // only to ABSENT fields)
          if (fi != null) out(fi) = null
          i += 4
        case 't' =>
          if (!line.startsWith("true", i)) fail(line, i, "expected true")
          if (fi != null) out(fi) = java.lang.Boolean.TRUE
          i += 4
        case 'f' =>
          if (!line.startsWith("false", i)) fail(line, i, "expected false")
          if (fi != null) out(fi) = java.lang.Boolean.FALSE
          i += 5
        case '"' =>
          val (s, after) = parseString(line, i)
          i = after
          if (fi != null) out(fi) = types(fi) match {
            case StringType    => UTF8String.fromString(s)
            case TimestampType => java.lang.Long.valueOf(micros(s))
            case DateType      =>
              java.lang.Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
            case other => fail(line, i, s"quoted value for $other field '$name'")
          }
        case _ =>
          var j = i
          while (j < line.length && line.charAt(j) != ',' && line.charAt(j) != '}') j += 1
          val s = line.substring(i, j)
          i = j
          if (fi != null) out(fi) = types(fi) match {
            case LongType    => java.lang.Long.valueOf(s)
            case IntegerType => java.lang.Integer.valueOf(s)
            case DoubleType  => java.lang.Double.valueOf(s)
            case FloatType   => java.lang.Float.valueOf(s)
            case other => fail(line, i, s"bare value for $other field '$name'")
          }
      }
      if (i >= line.length) fail(line, i, "unterminated object")
      line.charAt(i) match {
        case ',' => i += 1
        case '}' => done = true
        case _   => fail(line, i, "expected ',' or '}'")
      }
    }
  }
}
