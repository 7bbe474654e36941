package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** A `VERSION AS OF` / `TIMESTAMP AS OF` view of a lake table — the
  * snapshot recorded by [[LakeSinkFiles.recordVersion]] at one commit:
  * that commit's schema (pre-evolution versions show pre-evolution
  * columns), partitioning, and exact file list, resolved live-first then
  * against `_graft_retired/` (see [[LakeSinkScan]]). Read-only by
  * construction: time travel over a mutable past is not a thing — DML
  * against a snapshot fails at analysis (no write capability).
  *
  * 100 TB story: a snapshot read plans the RECORDED O(#files) list — no
  * directory walk at all — with the same per-file task parallelism and
  * partition-equality pruning as a live read; this is the versioned-
  * manifest contract (Iceberg snapshots / Delta versions) at its minimal
  * useful surface. */
private[graft] class LakeSinkSnapshotTable(snap: LakeSnapshot, path: String,
    tableName: String,
    includePositions: Map[String, Array[Long]] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"$tableName@v${snap.version.get}"
  override def schema(): StructType = snap.schema
  override def partitioning(): Array[Transform] =
    snap.partCols.map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  // the version's OWN facts (count/min/max push down like a live read)
  // and its OWN schema-evolution state: a pre-rename snapshot shows
  // pre-rename names with no aliasing at all
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeSinkScanBuilder(schema, path, snap.partCols, snapshot = Some(snap),
      includePositions = includePositions)
}

/** Version-log read surfaces beyond plain time travel. */
object LakeVersions {

  /** File-level change-data feed between two recorded versions (the
    * Delta CDF / Iceberg incremental-read role for this copy-on-write
    * lake): rows in files ADDED between `from` and `to` surface as
    * `_change_type = 'insert'` (read under `to`'s schema), rows in files
    * REMOVED surface as `'delete'` (read under `from`'s schema; a
    * truncate or DML rewrite retired them — resolved from
    * `_graft_retired/` until vacuumed). Because every commit rewrites
    * whole files, the diff law is exact:
    * `snapshot(from) − deletes + inserts ≡ snapshot(to)` as multisets
    * (LakeVersionSpec pins it across an UPDATE) — a rewritten file's
    * CARRIED rows appear as delete+insert pairs, the documented
    * copy-on-write granularity (row-level CDC needs row tracking a
    * minimal lake does not carry).
    *
    * 100 TB story: an incremental consumer (the training-data refresh
    * case — process only what changed since the last snapshot) reads
    * O(changed files), never the table; the diff itself is a driver-side
    * set difference of two recorded name lists. */
  def changes(spark: SparkSession, path: String, from: Long, to: Long):
      org.apache.spark.sql.DataFrame = {
    require(from <= to, s"LakeVersions.changes: from=$from must be <= to=$to")
    val snapFrom = LakeSinkFiles.snapshot(path, from)
    val snapTo = LakeSinkFiles.snapshot(path, to)
    val (filesFrom, filesTo) = (snapFrom.files, snapTo.files)
    val added = filesTo.diff(filesFrom)
    val removed = filesFrom.diff(filesTo)
    def read(rels: Seq[String], v: Long) = spark.read
      .format(classOf[LakeSink].getName)
      .option("versionAsOf", v.toString)
      .option("snapshotFiles", rels.mkString("\n"))
      .load(path)
    import org.apache.spark.sql.functions.lit
    // merge-on-read legs: positions newly delete-vectored between the two
    // versions in files BOTH versions share surface as ROW-level delete
    // legs — the read replays exactly those (file, position) rows under
    // `from`'s visibility (they were live there by construction), so the
    // diff law stays exact without any file change
    val (delsFrom, delsTo) = (snapFrom.deletes, snapTo.deletes)
    val common = filesFrom.toSet.intersect(filesTo.toSet)
    val newlyDeleted: Map[String, Array[Long]] = common.iterator.flatMap { rel =>
      val before = delsFrom.getOrElse(rel, Array.empty[Long]).toSet
      val nd = delsTo.getOrElse(rel, Array.empty[Long]).filterNot(before)
      if (nd.isEmpty) None else Some(rel -> nd.sorted)
    }.toMap
    // …and the mirror image: positions REMOVED from a vector between the
    // two versions (RESTORE undoing a post-target mor DELETE) are rows
    // that went from hidden to live — they replay as row-level 'insert'
    // legs under `to`'s visibility, keeping the diff law exact across a
    // restore (without them a CDC replica would silently miss the
    // un-deleted rows)
    val unDeleted: Map[String, Array[Long]] = common.iterator.flatMap { rel =>
      val after = delsTo.getOrElse(rel, Array.empty[Long]).toSet
      val ud = delsFrom.getOrElse(rel, Array.empty[Long]).filterNot(after)
      if (ud.isEmpty) None else Some(rel -> ud.sorted)
    }.toMap
    def positionLegs(m: Map[String, Array[Long]], v: Long, tag: String) =
      spark.read.format(classOf[LakeSink].getName)
        .option("versionAsOf", v.toString)
        .option("snapshotFiles", m.keys.toSeq.sorted.mkString("\n"))
        .option("includePositions", LakeSinkDeletes.serialize(m))
        .load(path)
        .withColumn("_change_type", lit(tag))
    var out = read(added, to).withColumn("_change_type", lit("insert"))
      .unionByName(
        read(removed, from).withColumn("_change_type", lit("delete")),
        allowMissingColumns = true) // schema may have evolved between versions
    if (newlyDeleted.nonEmpty)
      out = out.unionByName(positionLegs(newlyDeleted, from, "delete"),
        allowMissingColumns = true)
    if (unDeleted.nonEmpty)
      out = out.unionByName(positionLegs(unDeleted, to, "insert"),
        allowMissingColumns = true)
    out
  }
}

/** Table-maintenance operations for lake tables — the OPTIMIZE/VACUUM pair
  * every real lakehouse grows once streaming writers produce many small
  * files (the reference's buffered sink flushes one object per interval,
  * `phase3-kinesis-s3.yaml:84` — at one file per epoch per task a year of
  * telemetry is millions of tiny objects).
  */
object LakeMaintenance {

  /** Minimum AGE before VACUUM treats a zero-length version reservation
    * as crashed (see the sweep in [[vacuum]]). */
  val ReservationSweepAge: java.time.Duration = java.time.Duration.ofMinutes(15)

  /** COMPACT (the OPTIMIZE bin-packing contract): rewrite each partition
    * directory's small files into BIN-PACKED merged files, without
    * changing a single row. With no `targetBytes` every directory folds
    * to ONE file; with a target, files first-fit-decreasing (by
    * compressed size) into bins whose input sum stays ≤ target — the
    * Iceberg/Delta `OPTIMIZE` file-size goal: merged outputs big enough
    * to amortize per-file overhead, small enough to keep scan
    * parallelism and bounded task memory at 100 TB (one monster file per
    * partition would serialize its readers). A bin of ONE vector-free
    * file is left untouched (already compact). The merge itself runs as
    * a Spark job — one task per output bin streams its files'
    * decompressed JSON lines into one staged gzip (row bytes are copied
    * verbatim, so reads hash-identically before and after — t40 pins
    * this under the DuckDB differential); the driver then commits the
    * staged replacements through [[LakeSinkFiles.commitRewrite]] (the
    * originals RETIRE, recorded versions stay readable).
    *
    * `partitions` scopes the rewrite to matching partition DIRECTORIES
    * (the `OPTIMIZE … WHERE` contract): keys are partition dir keys
    * (`p`, `ts_day`, `id_bucket` — what SHOW PARTITIONS prints), values
    * the dir values; a directory compacts only when it carries EVERY
    * listed pair. Real schedules compact yesterday's partition after its
    * stream closes instead of rewriting the whole table — untouched
    * partitions' files survive bit-identically (spec-pinned).
    *
    * Returns (partitions compacted, files in, files out).
    *
    * 100 TB story: merge bytes move executor-side with per-bin
    * parallelism; the driver does O(#files) renames at commit — the same
    * protocol as any other lake commit. Readers racing the commit see the
    * promote→retire window (same documented window as ReplaceData);
    * snapshot readers are unaffected. */
  def compact(spark: SparkSession, path: String, targetBytes: Option[Long] = None,
      partitions: Map[String, String] = Map.empty): (Int, Int, Int) = {
    val m = LakeManifest.read(path).getOrElse(
      throw new IllegalArgumentException(s"LakeMaintenance: no lake table at $path"))
    val (tblSchema, partCols) = (m.schema, m.partCols)
    val root = Paths.get(path)
    // planning reads the latest record once: files, vectors and facts
    val snap = LakeSinkFiles.latest(path)
    // merge-on-read delete vectors MATERIALIZE here: a compacted group's
    // survivors are line-filtered (position = line index in JSON-lines),
    // so a single-file directory carrying a vector is also a compaction
    // candidate — the rewrite reclaims the read-side filtering cost
    val dels = snap.deletes
    val dirGroups = scopedDirs(snap, partitions)
      .filter { case (_, rels) => rels.size > 1 || rels.exists(dels.contains) }
    // bin-pack within each directory: first-fit-decreasing on compressed
    // size keeps every merged input sum ≤ target (a single oversized
    // file stays its own bin); drop 1-file vector-free bins — rewriting
    // them would churn bytes for nothing
    def bins(rels: Seq[String]): Seq[Seq[String]] = targetBytes match {
      case None => Seq(rels)
      case Some(t) =>
        val bySize = rels.map(r => r -> Files.size(root.resolve(r)))
          .sortBy { case (r, sz) => (-sz, r) }
        val out = scala.collection.mutable.ArrayBuffer.empty[
          (scala.collection.mutable.ArrayBuffer[String], Long)]
        bySize.foreach { case (r, sz) =>
          out.indexWhere(_._2 + sz <= t) match {
            case -1 => out += ((scala.collection.mutable.ArrayBuffer(r), sz))
            case i  => out(i) = (out(i)._1 += r, out(i)._2 + sz)
          }
        }
        out.toSeq.map(_._1.toSeq.sorted)
    }
    val groups: Seq[(String, Seq[String])] = dirGroups.flatMap { case (dir, rels) =>
      bins(rels)
        .filter(b => b.size > 1 || b.exists(dels.contains))
        .map(dir -> _)
    }
    if (groups.isEmpty) return (0, 0, 0)
    LakeSinkFiles.ensureDirs(path)
    val tag = java.util.UUID.randomUUID.toString.take(8)
    val dataSchema = LakeSink.dataSchema(tblSchema, partCols)
    // evolution state captured driver-side: the materialize parser must
    // decode pre-rename physical names in old files (shipped to executors)
    val (evoAliases, evoIgnored) = m.evolution
    // column DEFAULTs too: a pre-evolution file's rows READ the default
    // for a field they lack, so the materialize path's FRESH stats
    // trackers must see the filled value — recording nulls=rows would
    // poison count(col) pushdown for the rewritten file
    val evoDefaults = LakeSinkDefaults.internalMap(m.defaults, dataSchema)
    // one merge task per output bin; a group whose originals carry delete
    // vectors takes the MATERIALIZE path: survivor lines are copied AND
    // re-parsed through fresh stats/count trackers, so the rewrite fully
    // restores metadata pushdown (the facts of a vector-free group carry
    // over arithmetically — no parse needed). The trackers re-declare the
    // group's stats coverage (the vector-free fold merges the original
    // parts instead — see LakeSinkStats.mergeBlobs); ONE decode pass per
    // original feeds every group's coverage (the stats decode dominates
    // metadata cost at many files — review r13)
    val decodedByRel = decodeStats(snap, groups.flatMap(_._2), tblSchema, evoAliases)
    val groupCover: Seq[Coverage] =
      groups.map { case (_, rels) => coverage(rels.flatMap(decodedByRel.get)) }
    // SORTEDNESS preservation: when EVERY input of a group carries the
    // SAME sort claim, the merge is a K-WAY MERGE on the claimed
    // key instead of a concatenation, and the output re-declares the
    // claim — routine maintenance must not silently demote t58's
    // zero-exchange-zero-sort merge joins back to sorting. (Z-order
    // rightly DROPS claims: it reorders by the z-value, not the key.)
    // Each entry: (recorded claim for re-declaration, live key columns
    // for comparison — recorded names pre-date renames).
    val groupSorted: Seq[Option[(Seq[String], Seq[String])]] =
      groups.map { case (_, rels) =>
        val claims = rels.map(snap.sorted.get)
        if (claims.forall(_.isDefined) && claims.flatten.distinct.size == 1 &&
            claims.head.get.nonEmpty) {
          val recorded = claims.head.get
          val live = recorded.map(c => evoAliases.getOrElse(c, c))
          if (live.forall(dataSchema.fieldNames.contains))
            Some((recorded, live))
          else None // a claim column was dropped — decline, stay sound
        } else None
      }
    val staged: Seq[(String, Option[(Long, String)])] = spark.sparkContext
      .parallelize(groups.zip(groupCover).zip(groupSorted).zipWithIndex, groups.size)
      .map { case ((((dirRel, rels), cover), gSort), i) =>
        val prefix = if (dirRel.isEmpty) "" else s"$dirRel/"
        val stagedRel = s"${prefix}part-c$tag-$i.json.gz"
        val out = LakeSinkFiles.stagingDir(path).resolve(s"$stagedRel.inprogress")
        Option(out.getParent).foreach(Files.createDirectories(_))
        val files = rels.sorted
        val materialize = rels.exists(dels.contains)
        val trackers =
          if (materialize) LakeSinkStats.trackers(dataSchema, cover.bloom, cover.ndv, cover.hist)
          else Array.empty[Option[LakeSinkStats.ColTracker]]
        val os = new GZIPOutputStream(new BufferedOutputStream(
          new FileOutputStream(out.toFile)))
        val liveRows = try {
          if (!materialize && gSort.isEmpty) {
            // vector-free concatenation: each member's bytes verbatim
            files.foreach { rel =>
              val in = LakeLineCursor.open(Paths.get(path).resolve(rel))
              try in.transferTo(os) finally in.close()
            }
            0L
          } else {
            // the K-WAY MERGE orders by Spark's own ascending (nulls
            // first) order on the claimed key — the order the `sortBy`
            // writers produced, so the output stays Spark-sorted
            val key = gSort.map { case (_, liveCols) =>
              new InterpretedOrdering(liveCols.map { c =>
                val k = dataSchema.fieldIndex(c)
                SortOrder(BoundReference(k, dataSchema(k).dataType, nullable = true),
                  Ascending)
              })
            }
            val w = new java.io.BufferedWriter(
              new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8))
            val n = mergeLines(files.map(Paths.get(path).resolve(_)),
              files.map(dels.getOrElse(_, Array.empty[Long])), key,
              new JsonLineParser(dataSchema, evoAliases, evoIgnored, evoDefaults),
              dataSchema.length, trackers, w)
            w.flush()
            n
          }
        } finally os.close()
        Files.move(out, LakeSinkFiles.stagingDir(path).resolve(stagedRel),
          StandardCopyOption.REPLACE_EXISTING)
        (stagedRel,
          if (materialize) Some((liveRows, LakeSinkStats.blobOf(trackers))) else None)
      }.collect().toSeq
    val stagedNames = staged.map(_._1)
    // fresh per-file metadata from the MATERIALIZE path (group had
    // vectors): exact live-row count + re-derived stats blob
    val fresh: Map[String, (Long, String)] =
      staged.collect { case (n, Some(cs)) => n -> cs }.toMap
    // merged facts per output file (staged in group order):
    //  - row counts: a MATERIALIZED group records its exact recount; a
    //    vector-free group carries the sum of the originals' counts
    //    (omitted when any original lacks one — count(*) then falls back
    //    to scanning, never lies);
    //  - column stats: a MATERIALIZED group records the re-derived blob
    //    (metadata pushdown fully restored after the rewrite); a
    //    vector-free group folds the originals' interval hulls (dropped
    //    when any original lacks stats — skipping/min-max then degrade,
    //    never lie);
    //  - sort claims: a k-way-merged group's output re-declares the
    //    originals' RECORDED column list (read-time alias translation
    //    keeps working); concatenated groups stay unclaimed.
    val merged = groups.zip(groupSorted).zipWithIndex.map {
      case (((dirRel, rels), sc), i) =>
        val name = s"${if (dirRel.isEmpty) "" else s"$dirRel/"}part-c$tag-$i.json.gz"
        def all[T](m: Map[String, T]): Option[Seq[T]] = {
          val vs = rels.map(m.get)
          if (vs.forall(_.isDefined)) Some(vs.flatten) else None
        }
        LakeFacts(
          fresh.get(name).map(_._1).orElse(all(snap.counts).map(_.sum))
            .map(name -> _).toMap,
          fresh.get(name).map(_._2)
            .orElse(all(snap.stats).map(LakeSinkStats.mergeBlobs(_, tblSchema)))
            .map(name -> _).toMap,
          sc.map { case (recorded, _) => name -> recorded }.toMap)
    }.foldLeft(LakeFacts())(_ ++ _)
    // the group listing AND the vector snapshot the materialize pass
    // filtered with are minutes stale by now: commitRewrite checks both
    // before any mutation (appends never conflict)
    LakeSinkFiles.commitRewrite(path, groups.flatMap(_._2), dels, stagedNames,
      merged, "compaction")
    (groups.size, groups.map(_._2.size).sum, stagedNames.size)
  }

  /** Copy the visible lines of `files` (each filtered by its delete
    * vector) to `out`, feeding every row to `trackers`: a K-WAY MERGE on
    * `key` when given (inputs are individually sorted by it — sound by
    * the sort claims' construction — and ties break by file index for
    * determinism), else the concatenation, which is the same merge
    * ordered by file index alone, one file open at a time. Returns the
    * rows written. */
  private def mergeLines(files: Seq[Path], vectors: Seq[Array[Long]],
      key: Option[Ordering[InternalRow]], parser: JsonLineParser, width: Int,
      trackers: Array[Option[LakeSinkStats.ColTracker]], out: java.io.Writer): Long = {
    final class Input(val idx: Int) {
      val lines = new LakeLineCursor(files(idx), vectors(idx))
      val row = new GenericInternalRow(width)
      def next(): Boolean = lines.next() && { parser.parse(lines.line, row.values); true }
    }
    val order: java.util.Comparator[Input] = key match {
      case Some(k) => (x, y) => {
        val c = k.compare(x.row, y.row)
        if (c != 0) c else Integer.compare(x.idx, y.idx)
      }
      case None => (x, y) => Integer.compare(x.idx, y.idx)
    }
    val heap = new java.util.PriorityQueue[Input](files.size.max(1), order)
    val opened = scala.collection.mutable.ArrayBuffer.empty[Input]
    // a keyed merge holds every input open, a concatenation one at a time
    def fill(): Unit =
      while (opened.size < files.size && (key.isDefined || heap.isEmpty)) {
        val in = new Input(opened.size)
        opened += in
        if (in.next()) heap.add(in) else in.lines.close()
      }
    var rows = 0L
    try {
      fill()
      while (!heap.isEmpty) {
        val in = heap.poll()
        out.write(in.lines.line)
        out.write('\n')
        rows += 1
        LakeSinkStats.observe(trackers, in.row)
        if (in.next()) heap.add(in) else { in.lines.close(); fill() }
      }
    } finally opened.foreach(_.lines.close())
    rows
  }

  /** Z-ORDER rewrite (the Delta `OPTIMIZE … ZORDER BY` / Iceberg
    * sort-order-rewrite contract): cluster a lake table's rows on the
    * interleaved-bit order of up to 8 numeric/timestamp columns so each
    * rewritten file covers a tight axis-aligned box in every dimension —
    * which is exactly what makes the per-file [lo, hi] stats
    * ([[LakeSinkStats]]) selective: a multi-dimensional box filter then
    * opens O(matching files) instead of every file (a 1-D sort gets this
    * for its one column only; bit interleaving shares the win across all
    * of them).
    *
    * Scope: an unpartitioned table is ONE scope, its whole file list. A
    * partitioned table needs `partitions` (dir keys → dir values —
    * compact's WHERE contract, the `OPTIMIZE … WHERE … ZORDER BY`
    * compose) and rewrites ONLY the matching directories, each into at
    * most `nFiles` files of its own (z bounds are directory-local, so
    * each partition's boxes stay tight); untouched partitions' files
    * survive bit-identically. Identity partition columns are refused as z
    * dimensions (constant within their directory); the temporal/bucket
    * transforms' SOURCE columns (`ts` under `days(ts)`) are exactly the
    * useful ones.
    *
    * Mechanics, per scope directory: one pass computes per-dimension
    * [min, max]; each row maps to an 8-bit equal-width bucket per
    * dimension (NULL → bucket 0); buckets interleave into a single
    * z-value; `repartitionByRange` on the z-value plus a within-partition
    * sort gives `nFiles` output tasks, each writing one file over a
    * contiguous z-range into a table-local temp lake that re-declares the
    * originals' bloom, NDV and histogram coverage. Equal-width buckets
    * keep the bucketing a broadcast-free scalar expression; skewed
    * dimensions only loosen per-file boxes, never correctness, and the
    * range partitioner still balances ROWS per file by sampling the
    * z-values. The commit is [[LakeSinkFiles.commitRewrite]]: a
    * concurrent rewrite or merge-on-read DELETE of an original aborts
    * loudly with the staged files swept; otherwise delete vectors
    * MATERIALIZE into the rewrite, the originals retire (the pre-rewrite
    * snapshot stays readable until VACUUM), and the manifest — schema
    * evolution included — is untouched.
    *
    * Returns (files before, files after) within the scope.
    *
    * 100 TB story: the rewrite is a shuffle of the scope ONCE, after which
    * every selective read skips; you z-order yesterday's partition when
    * its stream closes — one partition-sized shuffle, not a table-sized
    * one, and the rest of the table is not even listed. */
  def zorder(spark: SparkSession, path: String, cols: Seq[String], nFiles: Int,
      partitions: Map[String, String] = Map.empty): (Int, Int) = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size <= 8,
      s"zorder: 1..8 cluster columns, got ${cols.size}")
    require(nFiles > 0, "zorder: nFiles must be positive")
    val m = LakeManifest.read(path).getOrElse(
      throw new IllegalArgumentException(s"LakeMaintenance: no lake table at $path"))
    val (schema, partCols) = (m.schema, m.partCols)
    if (partitions.isEmpty)
      require(partCols.isEmpty,
        "zorder: partitioned tables cluster within partitions — give a scope; " +
          "compact() handles per-partition file counts")
    else require(partCols.nonEmpty, "zorder: a partition scope needs a partitioned table")
    val parsed = LakePart.parseAll(partCols)
    val idCols = parsed.filter(_.isIdentity).map(_.name).toSet
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"zorder: no column $c"))
      require(!idCols.contains(c),
        s"zorder: $c is an identity partition column — constant within " +
          "its directory, nothing to cluster")
      require(f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | TimestampType => true
        case _ => false
      }, s"zorder: column $c of type ${f.dataType} is not orderable-numeric")
    }
    val dirKeys = parsed.map(_.dirKey).toSet
    partitions.keys.foreach(k => require(dirKeys.contains(k),
      s"zorder: $k is not a partition dir key of ${partCols.mkString(",")}"))
    val root = Paths.get(path)
    val snap = LakeSinkFiles.latest(path)
    val dirGroups =
      if (partCols.isEmpty) Seq("" -> snap.files).filter(_._2.nonEmpty)
      else scopedDirs(snap, partitions)
    require(dirGroups.nonEmpty || partitions.isEmpty,
      s"zorder: no partition directory matches $partitions")
    val originals = dirGroups.flatMap(_._2)
    if (originals.isEmpty) return (0, 0)
    val vNow = snap.version.getOrElse(
      throw new IllegalStateException(s"zorder: no committed version at $path"))
    val cover = coverage(decodeStats(snap, originals, schema, m.evolution._1).values)
    val k = cols.size
    val stagedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    var addFacts = LakeFacts()
    dirGroups.zipWithIndex.foreach { case ((_, rels), di) =>
      // snapshot-read exactly this directory's files at the CURRENT
      // version — its recorded vectors apply, so the rewrite
      // materializes survivors (commitRewrite guards the race)
      val df = spark.read.format(classOf[LakeSink].getName)
        .option("versionAsOf", vNow.toString)
        .option("snapshotFiles", rels.mkString("\n")).load(path)
      // one aggregate for every dimension's [lo, hi]
      val loHi = df.agg(
        lit(1).as("_one"),
        cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"lo_$c"),
          max(col(c).cast("double")).as(s"hi_$c"))): _*).collect()(0)
      val z = cols.zipWithIndex.map { case (c, d) =>
        val lo = Option(loHi.getAs[Any](s"lo_$c")).fold(0.0)(_.asInstanceOf[Double])
        val hi = Option(loHi.getAs[Any](s"hi_$c")).fold(0.0)(_.asInstanceOf[Double])
        val width = if (hi > lo) (hi - lo) / 256.0 else 1.0
        val bucket = when(col(c).isNull, lit(0)).otherwise(
          least(lit(255), greatest(lit(0),
            floor((col(c).cast("double") - lit(lo)) / lit(width)).cast("int"))))
        // interleave: bit b of dimension d lands at position b*k + d
        (0 until 8).map(b =>
          shiftright(bucket, b).bitwiseAND(lit(1)).cast("long") * lit(1L << (b * k + d)))
          .reduce(_ + _)
      }.reduce(_ + _)
      // write the clustered directory through the ordinary sink into a
      // table-local temp lake (same filesystem — staging moves are
      // renames), under the SAME partition spec so rows land back in
      // their own k=v directory; distributionMode=none keeps the
      // z-range tasks as the file layout. Dot-prefixed so the table's
      // tree walks skip it even if a crash strands it (listCommitted
      // skips dot-dirs; VACUUM sweeps it); removed in finally
      val tmpT = root.resolve(s".zorder-$di-${java.util.UUID.randomUUID.toString.take(8)}")
      try {
        var w = df.withColumn("__graft_z", z)
          .repartitionByRange(nFiles, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
          .write.format(classOf[LakeSink].getName).mode("append")
          .option("partitionCols", partCols.mkString(","))
          .option("distributionMode", "none")
        if (cover.bloom.nonEmpty)
          w = w.option("bloomFilterColumns", cover.bloom.keys.toSeq.sorted.mkString(","))
            .option("bloomFilterBits", cover.bloom.values.max.toString)
        if (cover.ndv.nonEmpty)
          w = w.option("ndvColumns", cover.ndv.toSeq.sorted.mkString(","))
        if (cover.hist.nonEmpty)
          w = w.option("histogramColumns", cover.hist.toSeq.sorted.mkString(","))
        w.save(tmpT.toString)
        // the temp lake's record carries the rewritten files' facts
        val tmpSnap = LakeSinkFiles.latest(tmpT.toString)
        tmpSnap.files.foreach { rel =>
          val dest = LakeSinkFiles.stagingDir(path).resolve(rel)
          Option(dest.getParent).foreach(Files.createDirectories(_))
          Files.move(tmpT.resolve(rel), dest, StandardCopyOption.REPLACE_EXISTING)
          stagedNames += rel
        }
        addFacts = addFacts ++ tmpSnap.facts
      } finally {
        if (Files.exists(tmpT)) {
          val it = Files.walk(tmpT).sorted(java.util.Comparator.reverseOrder()).iterator()
          while (it.hasNext) Files.deleteIfExists(it.next())
        }
      }
    }
    LakeSinkFiles.commitRewrite(path, originals, snap.deletes, stagedNames.toSeq,
      addFacts, "zorder")
    (originals.size, stagedNames.size)
  }

  /** The record's files grouped by partition DIRECTORY (sorted), kept
    * when the directory carries every `partitions` (dir key → value) pair
    * — the `… WHERE` scope compaction and Z-order share. */
  private def scopedDirs(snap: LakeSnapshot,
      partitions: Map[String, String]): Seq[(String, Seq[String])] =
    snap.files
      .filter(rel => partitions.forall { case (k, v) =>
        Option(Paths.get(rel).getParent).exists(d =>
          d.iterator().asScala.exists(_.toString == s"$k=$v")) })
      .groupBy(rel => Option(Paths.get(rel).getParent).map(_.toString).getOrElse(""))
      .toSeq.sortBy(_._1)

  /** Decode the recorded stats of `rels` once (aliases applied) — the
    * input of every coverage re-declaration. */
  private def decodeStats(snap: LakeSnapshot, rels: Seq[String],
      schema: StructType, aliases: Map[String, String]): Map[String, LakeSinkStats.FileStats] =
    rels.distinct.flatMap(r => snap.stats.get(r).map(b =>
      r -> LakeSinkStats.decode(b, schema, aliases))).toMap

  /** Stats coverage beyond bounds: bloom columns with their filter size,
    * NDV and histogram columns. */
  private case class Coverage(bloom: Map[String, Int], ndv: Set[String], hist: Set[String])

  /** The coverage some files' recorded stats carry — the union, blooms
    * at their largest size. A rewrite re-declares its originals' coverage,
    * so routine maintenance never strips the stats any write or ANALYZE
    * gave a file; ANALYZE extends each file's own. */
  private def coverage(files: Iterable[LakeSinkStats.FileStats]): Coverage = {
    val cs = files.flatten
    Coverage(
      cs.collect { case (n, c) if c.bloom.isDefined => n -> c.bloom.get.length * 8 }
        .groupMapReduce(_._1)(_._2)(math.max),
      cs.collect { case (n, c) if c.ndv.isDefined => n }.toSet,
      cs.collect { case (n, c) if c.hist.isDefined => n }.toSet)
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE` role): a
    * zero-data-copy, fully INDEPENDENT copy of the source's CURRENT
    * state. Ownership rule — designed first, as the operation demands:
    * every live data file is HARD-LINKED into the clone (same
    * filesystem; committed lake files are immutable, so sharing inodes
    * is safe), which makes vacuum ownership trivial by construction:
    * each table deletes only its OWN directory entries, and an inode
    * survives as long as either table references it — the source can be
    * DML'd, compacted, and fully vacuumed without EVER breaking the
    * clone (no reference-counting, no pin protocol, no copy-on-vacuum
    * debt; the alternative — path indirection into the source — is what
    * object stores force on Delta, and its vacuum hazard is exactly
    * what this design avoids). Falls back to a byte copy if the
    * filesystem refuses the link. Facts (counts/stats/sort claims) and
    * delete vectors are copied from the source record; the manifest
    * carries the full evolution state (renames/dropped/constraints/
    * partition-spec history); the clone's history STARTS at version 1
    * (its version records are its own — time travel into pre-clone
    * source history happens at the source). Returns the linked file
    * count.
    *
    * 100 TB story: cloning is O(#live files) driver-side metadata ops
    * and ZERO data bytes — the branch-for-experiment primitive.
    *
    * `versionAsOf = Some(v)` clones the source's RECORDED version v
    * instead of the live state (branch-from-history): the file list,
    * schema, delete vectors, and facts are the version record's own,
    * names resolve through [[LakeSinkFiles.resolve]] (a vacuumed file
    * refuses loudly — no silently partial clone), and the clone's links
    * pin the historical inodes so a LATER source vacuum cannot take the
    * branch down either. Snapshot clones omit CHECK constraints — they
    * are the LIVE table's data contract, and v's rows were never
    * validated against checks added after v. */
  def clone(spark: SparkSession, srcPath: String, dstPath: String,
      versionAsOf: Option[Long] = None): Int = {
    val src = LakeManifest.read(srcPath).getOrElse(
      throw new IllegalArgumentException(s"LakeMaintenance: no lake table at $srcPath"))
    require(LakeManifest.read(dstPath).isEmpty,
      s"LakeMaintenance: clone destination $dstPath already holds a table")
    LakeSinkFiles.ensureDirs(dstPath)
    val dstRoot = Paths.get(dstPath)
    // files, vectors and facts come from ONE record: the requested
    // version's, or the latest for a live clone
    val snap = versionAsOf.map(LakeSinkFiles.snapshot(srcPath, _))
      .getOrElse(LakeSinkFiles.latest(srcPath))
    val files = snap.files.sorted
    files.foreach { rel =>
      val from = LakeSinkFiles.resolve(srcPath, rel,
        s"clone source (version ${versionAsOf.getOrElse("live")}) file")
      val to = dstRoot.resolve(rel)
      Option(to.getParent).foreach(Files.createDirectories(_))
      try Files.createLink(to, from)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    if (snap.deletes.nonEmpty)
      LakeSinkDeletes.update(dstPath,
        snap.deletes.map { case (k, v) => k -> v.toSeq }, Seq.empty)
    // partition-spec HISTORY travels on BOTH forms: a version whose file
    // list spans spec generations needs it so SPJ stands down and temporal
    // pruning matches each file's own generation (a superset history is
    // safe — consumers match what they need). Operational
    // config (props) travels too; defaults filter to the cloned schema (a
    // version clone may predate a defaulted column)
    val m = versionAsOf match {
      case Some(_) =>
        // schema, spec and evolution state are the version's own
        src.copy(schema = snap.schema, partCols = snap.partCols,
          renames = snap.renames, dropped = snap.dropped,
          constraints = Seq.empty, defaults = src.defaultsOf(snap.schema))
      case None => src
    }
    LakeManifest.write(dstPath, m)
    LakeSinkFiles.recordVersion(dstPath, files, Seq.empty, snap.facts, Some(m))
    files.size
  }

  /** VACUUM: reclaim the bytes time travel holds. The default drops every
    * version record but the newest and deletes every retired file — the
    * full wipe. `keepLast = Some(n)` is the RETENTION-HORIZON form every
    * real lakehouse schedules (Delta's `RETAIN`, Iceberg's
    * expire_snapshots): only records OLDER than the last `n` drop, and a
    * retired file survives as long as ANY kept record references it — so
    * `VERSION AS OF` and RESTORE keep working for the whole horizon, and
    * a routine maintenance call no longer destroys all time travel.
    * Snapshot reads of vacuumed versions fail loudly afterwards
    * ([[LakeSinkScan]]'s resolution order), as does a CDF stream whose
    * checkpointed offset predates the horizon
    * ([[LakeCdfMicroBatchStream]] refuses to silently skip dropped
    * versions). The live table is untouched either way. Returns (retired
    * files deleted, version records dropped).
    *
    * 100 TB story: vacuum cost is O(retired files) deletes + a set
    * membership against the horizon's recorded manifests — the standard
    * expire-snapshots shape; the horizon bounds both storage held for
    * time travel and the work to reclaim it.
    *
    * `olderThanMillis` is the RETAIN form real schedules run (Delta's
    * `VACUUM … RETAIN n HOURS`): a version record drops only when its
    * commit instant (record mtime, the `timestampAsOf` convention) is
    * before the cutoff — AND it is not among the `keepLast` newest (the
    * newest record never drops). The two horizons compose: a record
    * survives if EITHER keeps it. */
  def vacuum(path: String, keepLast: Option[Int] = None,
      olderThanMillis: Option[Long] = None): (Int, Int) = {
    val versions = LakeSinkFiles.listVersions(path)
    val keepN = math.max(keepLast.getOrElse(1), 1)
    val ageKept: Set[Long] = olderThanMillis match {
      case None => Set.empty
      case Some(cutoff) => versions.filter { v =>
        Files.getLastModifiedTime(
          LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v))).toMillis >= cutoff
      }.toSet
    }
    // TAGGED versions are part of every keep-set: the tag's record AND
    // the retired files it references (via `referenced` below) survive
    // any horizon — a tag is a durable zero-copy pin (drop_tag releases)
    val tagged = LakeSinkFiles.readTags(path).values.toSet
    val (drop, kept) = versions.partition(v =>
      !versions.takeRight(keepN).contains(v) && !ageKept.contains(v) &&
        !tagged.contains(v))
    // a retired file referenced by ANY kept record must stay restorable;
    // with the default horizon the kept (latest) record's files are all
    // live, so every retired file deletes — the original full wipe
    val referenced: Set[String] =
      kept.flatMap(v => LakeSinkFiles.readVersion(path, v)._3).toSet
    var nFiles = 0
    val retired = LakeSinkFiles.retiredDir(path)
    if (Files.isDirectory(retired)) {
      val it = Files.walk(retired).sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) {
          if (!referenced.contains(retired.relativize(p).toString)) {
            nFiles += 1
            Files.deleteIfExists(p)
          }
        } else if (p != retired) {
          // drop a directory only once emptied (reverse walk order puts
          // children first; kept files keep their parents alive)
          val ds = Files.list(p)
          val empty = !ds.iterator().hasNext
          ds.close()
          if (empty) Files.deleteIfExists(p)
        }
      }
    }
    drop.foreach { v =>
      Files.deleteIfExists(LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v)))
    }
    // crashed reservations (zero-length version markers whose commit never
    // finished) are garbage with no readable history behind them — but
    // AGE-GATED: a zero-length marker a live committer reserved moments ago
    // is mid-commit, not crashed; sweeping it would let another committer
    // re-reserve the same id and the first's REPLACE_EXISTING move would
    // then silently overwrite the second's record — exactly the lost-record
    // race the reservation protocol exists to prevent. The reserve→record
    // window is milliseconds of driver-local work; minutes of age is proof
    // of a crash, not a race.
    val vdir = LakeSinkFiles.versionsDir(path)
    if (Files.isDirectory(vdir)) {
      val staleBefore = java.time.Instant.now()
        .minus(ReservationSweepAge)
      val it = Files.list(vdir).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            Files.isRegularFile(p) && Files.size(p) == 0 &&
            Files.getLastModifiedTime(p).toInstant.isBefore(staleBefore))
          Files.deleteIfExists(p)
      }
    }
    // a hard-killed zorder strands its `.zorder-*` temp lake under
    // the table root (dot-dirs are invisible to every reader by design —
    // review r13); same age gate, the rewrite is minutes of work at most
    val rootDir = Paths.get(path)
    if (Files.isDirectory(rootDir)) {
      val staleBefore = java.time.Instant.now().minus(ReservationSweepAge)
      val it = Files.list(rootDir).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isDirectory(p) &&
            p.getFileName.toString.startsWith(".zorder-") &&
            Files.getLastModifiedTime(p).toInstant.isBefore(staleBefore)) {
          val w = Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
          while (w.hasNext) Files.deleteIfExists(w.next())
        }
      }
    }
    (nFiles, drop.size)
  }

  /** RESTORE TABLE … TO VERSION (the Delta `RESTORE` contract): roll the
    * LIVE table back to a recorded version AS A NEW COMMIT — history
    * moves only forward (post-restore snapshots of the rolled-over
    * versions stay readable; a later restore can roll FORWARD again).
    * Mechanics, all metadata + renames (zero data-byte rewrites):
    * retired files of the target version move back under their original
    * relative names (a vacuumed file fails the restore loudly — the
    * bytes are gone), live files outside the target retire, the
    * manifest returns to the target's schema + evolution state, and the
    * facts and delete vectors are SET from the target version's
    * record — so count(*)/min-max pushdown answer for the
    * restored state immediately, and merge-on-read deletes committed
    * AFTER the target are correctly undone. Single-writer maintenance,
    * like compaction. Returns (files returned, files retired).
    *
    * 100 TB story: restore cost is O(changed files) renames + one
    * version record — the accidental-TRUNCATE undo button at any scale. */
  /** TAG a recorded version with a durable name (`None` = the latest) —
    * the Iceberg-tag role: `VERSION AS OF 'name'` resolves it and VACUUM
    * pins the tagged record + the retired files it references, so the tag
    * costs zero copied bytes and survives any horizon. Tags are
    * IMMUTABLE (retagging refuses — a moving name would silently change
    * what a downstream consumer reads); [[dropTag]] releases the pin.
    * Returns the tagged version. */
  def tag(path: String, name: String, version: Option[Long] = None): Long = {
    require(name.nonEmpty && !name.contains("/") && !name.startsWith(".") &&
      !name.exists(_ < ' '),
      s"LakeSink: invalid tag name '$name' (plain names only)")
    // a name a numeric ref could claim would be ambiguous at resolution
    require(!name.forall(_.isDigit) &&
      !(name.startsWith("v") && name.length > 1 && name.drop(1).forall(_.isDigit)),
      s"LakeSink: tag name '$name' shadows numeric version references")
    val tags = LakeSinkFiles.readTags(path)
    require(!tags.contains(name),
      s"LakeSink: tag '$name' already exists (tags are immutable — " +
        "drop_tag first)")
    val vs = LakeSinkFiles.listVersions(path)
    val v = version.getOrElse(vs.lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"LakeSink: no recorded versions to tag at $path")))
    require(vs.contains(v),
      s"LakeSink: no recorded version $v to tag at $path " +
        s"(available: ${vs.mkString(",")})")
    LakeSinkFiles.writeTags(path, tags + (name -> v))
    v
  }

  /** Release a tag's pin; the next VACUUM may reclaim the version.
    * Returns the version the tag pointed at. */
  def dropTag(path: String, name: String): Long = {
    val tags = LakeSinkFiles.readTags(path)
    require(tags.contains(name),
      s"LakeSink: no tag '$name' at $path (tags: " +
        s"${tags.keys.toSeq.sorted.mkString(",")})")
    LakeSinkFiles.writeTags(path, tags - name)
    tags(name)
  }

  def restore(path: String, version: Long): (Int, Int) = {
    val target = LakeSinkFiles.snapshot(path, version)
    val (sch, partCols, wantRels) = (target.schema, target.partCols, target.files)
    val root = Paths.get(path)
    val live = LakeSinkFiles.latest(path).files.toSet
    val want = wantRels.toSet
    // 1. bring the target's retired files back (bytes are immutable; the
    // move leaves no retired residue, so a LATER rewrite can retire the
    // name again without tripping the collision guard)
    val returned = wantRels.filterNot(live.contains)
    // PRE-VALIDATE every returned file before the first move: a partially
    // vacuumed target must fail with ZERO filesystem mutation — failing
    // mid-loop would leave earlier files moved back with no version
    // recorded, and a retry would then trip the live-collision guard,
    // leaving the version unrestorable without manual cleanup
    val moves = returned.map(rel =>
      (rel, LakeSinkFiles.retiredDir(path).resolve(rel), root.resolve(rel)))
    moves.foreach { case (rel, from, to) =>
      require(Files.isRegularFile(from),
        s"LakeMaintenance.restore: file $rel of version $version was " +
          s"vacuumed from $path — its bytes are gone, the version is not restorable")
      require(!Files.exists(to),
        s"LakeMaintenance.restore: live name collision for $rel")
    }
    moves.foreach { case (_, from, to) =>
      Option(to.getParent).foreach(Files.createDirectories(_))
      Files.move(from, to)
    }
    // 2. retire everything the target doesn't have
    val removed = LakeSinkFiles.retire(path,
      (live -- want).toSeq.sorted.map(rel => root.resolve(rel).toString))
    // 3. manifest back to the target's schema + evolution state (the
    // retired post-target files are the only ones the rollback could
    // disagree with)
    // the pre-restore ACTIVE spec joins the history when the target's
    // spec differs — post-target files may still exist... they retire in
    // step 2, but the returned files were written under the TARGET's
    // spec, so the target's recorded partCols become active again; any
    // specs the live history carried stay recorded (harmless supersets)
    val current = LakeManifest.read(path).getOrElse(LakeManifest.Empty)
    val hist = (current.partHistory ++
      (if (current.partCols != partCols && current.partCols.nonEmpty)
        Seq(current.partCols.mkString(",")) else Seq.empty)).distinct
      .filterNot(_ == partCols.mkString(","))
    // constraint DDL and operational config are orthogonal to the data
    // rollback — the live sets survive a restore (matching Delta's
    // RESTORE); defaults filter to the restored schema
    val m = current.copy(schema = sch, partCols = partCols,
      renames = target.renames, dropped = target.dropped, partHistory = hist,
      defaults = current.defaultsOf(sch))
    LakeManifest.write(path, m)
    // 4. delete vectors: EXACTLY the target's state for its files — first
    // clear every live entry for them (update removes AFTER unioning
    // adds, so a single clear+add call would strip the adds too), then
    // append the target's recorded vectors
    LakeSinkDeletes.update(path, Map.empty, wantRels)
    val vDels = target.deletes.map { case (k, v) => k -> v.toSeq }
    if (vDels.nonEmpty) LakeSinkDeletes.update(path, vDels, Seq.empty)
    // 5. facts SET from the target's record (files are immutable, so
    // re-stating still-live files' facts is idempotent)
    LakeSinkFiles.recordVersion(path, returned, removed, target.facts, Some(m))
    (returned.size, removed.size)
  }

  /** PARTITION-SPEC EVOLUTION (the Iceberg `ALTER TABLE … ADD/REPLACE
    * PARTITION FIELD` contract): switch the table's ACTIVE spec — new
    * files land under the new layout, old files stay readable under the
    * layout they were written in, zero rewrites. The first thing a daily
    * table needs when it outgrows daily partitions.
    *
    * Supported specs are HIDDEN transforms only (bucket / days / hours /
    * months / years, or unpartitioned): their source columns travel IN
    * the rows, so the row schema is identical across generations and the
    * evolution is pure metadata. Identity partitioning is REFUSED in
    * either spec — identity values live in directory names, not rows, so
    * changing it would need a data rewrite.
    *
    * Read semantics on a mixed-spec table (spec-pinned):
    *  - pre-evolution files are simply kept by active-spec pruning (their
    *    dirs lack the active keys — a sound superset);
    *  - TEMPORAL pruning matches each file against its OWN generation's
    *    dir (the scan knows every historic spec), so a `ts BETWEEN` still
    *    skips both old day-dirs and new hour-dirs;
    *  - SPJ stands down while any historic spec exists (the active
    *    KeyGroupedPartitioning cannot describe old files);
    *  - snapshots read under the spec RECORDED at their commit.
    *
    * Returns the number of prior specs now in the history. */
  def evolvePartitionSpec(path: String, newPartCols: Seq[String]): Int = {
    val live = LakeManifest.read(path).getOrElse(
      throw new IllegalArgumentException(s"LakeMaintenance: no lake table at $path"))
    val (schema, oldParts) = (live.schema, live.partCols)
    def requireHidden(spec: Seq[String], which: String): Unit =
      LakePart.parseAll(spec).find(_.isIdentity).foreach { p =>
        throw new UnsupportedOperationException(
          s"LakeMaintenance.evolvePartitionSpec: $which spec has IDENTITY " +
            s"field '${p.spec}' — identity values live in directory names, " +
            "not rows; evolving them requires a table rewrite")
      }
    requireHidden(oldParts, "the current")
    requireHidden(newPartCols, "the new")
    require(newPartCols != oldParts,
      "LakeMaintenance.evolvePartitionSpec: the new spec equals the current one")
    // validate source columns + types BEFORE committing the manifest
    LakeSink.dataSchema(schema, newPartCols)
    LakeSink.partitionExtractors(schema, newPartCols)
    val hist = (live.partHistory ++
      (if (oldParts.nonEmpty) Seq(oldParts.mkString(",")) else Seq.empty))
      .distinct.filterNot(_ == newPartCols.mkString(","))
    val m = live.copy(partCols = newPartCols, partHistory = hist)
    LakeManifest.write(path, m)
    // a spec change is a version transition: snapshots at or before it
    // keep the pre-evolution spec (recordVersion snapshots the manifest)
    LakeSinkFiles.recordVersion(path, manifest = Some(m))
    hist.size
  }

  /** ANALYZE — backfill per-file column statistics for committed files
    * that LACK the requested coverage, without touching a data byte:
    * each needy file is re-read through the scanner's own parser
    * ([[JsonLineParser]] — renames/widening/DEFAULT prefills all apply)
    * and the writer's own trackers ([[LakeSinkStats.trackers]]), so the
    * stats blob an analyzed file gets is byte-compatible with one the
    * writer would have produced had the options been set at write time.
    * Covers: bounds/nulls for stats-absent files AND for files whose
    * never-dying-tracker (numeric/temporal) columns lack entries — the
    * post-evolution backfill; row counts for files the record lacks
    * (count-pushdown completeness); and opt-in NDV registers /
    * histograms / bloom filters per column. A requested bloom column
    * whose existing filter has a DIFFERENT size is re-analyzed at the
    * requested size (the sizing knob resizes — never a silent no-op);
    * otherwise a re-analyzed file KEEPS every part any earlier write or
    * analyze gave it (coverage is the union), and a file already
    * carrying all requested parts is skipped — the second run of the
    * same ANALYZE is a metadata-only no-op. (String columns join the
    * bounds backfill only when the file is needy for another reason or
    * named in the opt-ins: a StringTracker dies on >256-char values, so
    * entry absence can be permanent and an absence trigger would break
    * the no-op contract.)
    *
    * ANALYZE adds no version: it amends the LATEST record in place
    * ([[LakeSinkFiles.amendFacts]]), so the next plan sees the coverage
    * immediately, while older versions keep their RECORDED
    * (pre-analyze) facts — degrading to scans as they always did.
    * Stats cover ALL written rows (delete vectors are
    * not subtracted — the writer's own semantics; consumers already
    * treat vectored files specially). Returns (files analyzed, live
    * files skipped as already covered).
    *
    * 100 TB story: the CBO features (t71 NDV broadcast flips, t79
    * histogram selectivity) are only as good as their stats coverage,
    * and a table loaded before anyone set `graft.ndvColumns` has none —
    * ANALYZE is the retrofit path every warehouse has (one distributed
    * linear pass over exactly the uncovered files), instead of "rewrite
    * the table with the right options". */
  def analyze(spark: SparkSession, path: String,
      ndvColsIn: Seq[String] = Seq.empty, histColsIn: Seq[String] = Seq.empty,
      bloomColsIn: Seq[String] = Seq.empty,
      bloomBits: Int = LakeSinkStats.DefaultBloomBits): (Int, Int) = {
    val m = LakeManifest.read(path).getOrElse(
      throw new IllegalArgumentException(s"LakeMaintenance: no lake table at $path"))
    val (tblSchema, partCols) = (m.schema, m.partCols)
    val dataSchema = LakeSink.dataSchema(tblSchema, partCols)
    // validation mirrors the writer's (LakeSinkWrite) so the two paths
    // cannot disagree on what a column may carry — fail before any read.
    // Names resolve CASE-INSENSITIVELY to the schema's canonical case
    // (Spark's resolution rule; the r13 case-variant-property lesson) —
    // trackers and needs-work checks match on the canonical name.
    def field(c: String, what: String): StructField = {
      require(!partCols.exists(_.equalsIgnoreCase(c)),
        s"LakeMaintenance.analyze: $what apply to DATA columns; $c is a " +
          "partition column (its directory values already enumerate it)")
      dataSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"LakeMaintenance.analyze: column $c is not in the table schema"))
    }
    require(bloomBits > 0 && (bloomBits & (bloomBits - 1)) == 0,
      s"LakeMaintenance.analyze: bloomBits must be a power of 2, got $bloomBits")
    val ndvCols = ndvColsIn.map { c =>
      val f = field(c, "NDV registers")
      require(LakeSinkStats.statable(f.dataType),
        s"LakeMaintenance.analyze: NDV registers on $c are unsupported")
      f.name
    }
    val histCols = histColsIn.map { c =>
      val f = field(c, "histograms")
      require(f.dataType match {
        case StringType | BooleanType => false
        case dt                       => LakeSinkStats.statable(dt)
      }, s"LakeMaintenance.analyze: histogram on $c needs a numeric axis")
      f.name
    }
    val bloomCols = bloomColsIn.map { c =>
      val f = field(c, "bloom filters")
      require(f.dataType match {
        case DoubleType | FloatType => false
        case dt                     => LakeSinkStats.statable(dt)
      }, s"LakeMaintenance.analyze: bloom filter on $c is unsupported")
      f.name
    }
    val snap = LakeSinkFiles.latest(path)
    val rels = snap.files
    val (evoAliases, evoIgnored) = m.evolution
    val evoDefaults = LakeSinkDefaults.internalMap(m.defaults, dataSchema)
    val decoded = decodeStats(snap, rels, tblSchema, evoAliases)
    // a file needs work when: it has no stats at all; a requested
    // column's ENTRY or PART is missing (an entry can be missing because
    // the file pre-dates the column — the re-parse default/null-fills
    // it); a requested bloom column's filter has the WRONG SIZE (the
    // sizing knob must resize, not silently no-op — review r14); the
    // record has no row count for it (count-pushdown completeness); or a
    // CONVERGENT-tracker column (numeric/temporal — trackers that can
    // never die) lacks its bounds entry entirely, the post-evolution
    // bounds-backfill case. String columns are deliberately NOT part of
    // that last trigger: a StringTracker dies on >256-char values, so
    // entry absence can be permanent and the absence-trigger would
    // re-analyze such files on every call (the idempotent-no-op
    // contract). They still backfill when named in ndv/hist/bloom or
    // when the file is needy for any other reason.
    def needsPart(rel: String, c: String,
        part: LakeSinkStats.ColStat => Boolean): Boolean =
      !decoded(rel).get(c).exists(part)
    val convergentCols: Seq[String] = dataSchema.fields.collect {
      case f if (f.dataType match {
        case LongType | TimestampType | IntegerType | DateType |
             DoubleType | FloatType => true
        case _ => false
      }) => f.name
    }.toSeq
    val counts = snap.counts
    val needy = rels.filter { rel =>
      !decoded.contains(rel) ||
        !counts.contains(rel) ||
        convergentCols.exists(c => !decoded(rel).contains(c)) ||
        ndvCols.exists(needsPart(rel, _, _.ndv.isDefined)) ||
        histCols.exists(needsPart(rel, _, _.hist.isDefined)) ||
        bloomCols.exists(c => !decoded(rel).get(c).exists(
          _.bloom.exists(_.length * 8 == bloomBits)))
    }
    if (needy.isEmpty) return (0, rels.size)
    // per-file coverage = requested UNION already-recorded: a re-analyzed
    // file must not LOSE parts another write gave it (the compaction
    // materialize rule); a REQUESTED bloom column always takes the
    // requested size (resize semantics), other columns keep theirs
    val jobs: Seq[(String, Coverage)] = needy.map { rel =>
      val c = coverage(decoded.get(rel))
      rel -> Coverage(c.bloom ++ bloomCols.map(_ -> bloomBits), c.ndv ++ ndvCols,
        c.hist ++ histCols)
    }
    // one linear pass per needy file, one task each (compaction's layout)
    val fresh: Seq[(String, (Long, String))] = spark.sparkContext
      .parallelize(jobs, jobs.size)
      .map { case (rel, cover) =>
        val trackers = LakeSinkStats.trackers(dataSchema, cover.bloom, cover.ndv,
          cover.hist)
        val parser = new JsonLineParser(dataSchema, evoAliases, evoIgnored,
          evoDefaults)
        val row = new GenericInternalRow(dataSchema.length)
        var rows = 0L
        val lines = new LakeLineCursor(Paths.get(path).resolve(rel))
        try while (lines.next()) {
          parser.parse(lines.line, row.values)
          rows += 1
          LakeSinkStats.observe(trackers, row)
        } finally lines.close()
        rel -> ((rows, LakeSinkStats.blobOf(trackers)))
      }.collect().toSeq
    // amend the LATEST record in place (no new version): it keeps only
    // facts of its own files, so a file a concurrent rewrite retired
    // meanwhile gets none. Counts backfill rides the same pass, only for
    // files the record MISSED (recorded counts are already exact)
    val live = LakeSinkFiles.amendFacts(path, LakeFacts(
      counts = fresh.collect { case (r, (n, _)) if !counts.contains(r) => r -> n }.toMap,
      stats = fresh.map { case (r, (_, b)) => r -> b }.toMap))
    (fresh.count(e => live(e._1)), rels.size - needy.size)
  }

  /** Total committed data files of a lake table (maintenance metric). */
  def committedFileCount(path: String): Int = {
    val m = LakeManifest.read(path).getOrElse(return 0)
    LakeSinkFiles.listLive(path, m.partCols).size
  }
}
