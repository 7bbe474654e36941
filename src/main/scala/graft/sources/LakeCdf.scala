package graft.sources

import java.nio.file.Paths
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING change-data-feed over the lake's version log — the Delta
  * `readChangeFeed` streaming contract for this connector:
  *
  * {{{
  *   spark.readStream.format("graft.sources.LakeSink")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", "2")        // default: all history
  *     .option("maxFilesPerTrigger", "4")     // changed files per batch
  *     .load(path)
  * }}}
  *
  * OFFSETS ARE VERSION IDS (one `Long`, not a file list): micro-batch
  * `(start, end]` replays, for every committed version `v` in the range,
  * exactly the legs [[LakeVersions.changes]] computes for `(v−1, v)` —
  * files ADDED at `v` as `'insert'` rows, files REMOVED as `'delete'`
  * rows (resolved from `_graft_retired/` until vacuumed), and positions
  * newly delete-vectored in carried files as ROW-level `'delete'` legs —
  * each row tagged with `_change_type` and `_commit_version`. A
  * checkpoint restart replays the same version range bit-identically
  * (the version log is immutable history), which makes the stream the
  * true incremental twin of d58's batch CDF consumer.
  *
  * Schema contract (Delta's): the stream serves the CURRENT table schema
  * + the two CDF columns; pre-evolution files decode through the live
  * alias map like any other read. Admission: `maxFilesPerTrigger` bounds
  * the CHANGED FILES admitted per batch, advancing whole versions (the
  * first fresh version always admits — progress is guaranteed).
  *
  * 100 TB story: an offset is one integer; planning a batch reads
  * O(versions in range) recorded manifests and diffs name lists
  * driver-side — the incremental consumer never rescans the table, and
  * the version log IS the ingestion queue. */
private[graft] object LakeCdf {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Resolve the stream's first replayed version from `startingVersion`
    * or `startingTimestamp` (epoch millis, or `java.sql.Timestamp`
    * text "yyyy-mm-dd hh:mm:ss[.f…]") — the Delta option pair: a
    * timestamp positions at the first commit AT OR AFTER it (commit
    * instant = the version record's mtime, the `timestampAsOf`
    * convention). Returns the version to start FROM (inclusive). */
  def startingVersion(path: String,
      options: CaseInsensitiveStringMap): Option[Long] = {
    val byV = Option(options.get("startingVersion")).map(_.trim.toLong)
    val byT = Option(options.get("startingTimestamp")).map { raw =>
      val t = raw.trim
      val millis =
        if (t.forall(_.isDigit)) t.toLong
        else java.sql.Timestamp.valueOf(t).getTime
      require(byV.isEmpty,
        "LakeSink CDF: give startingVersion OR startingTimestamp, not both")
      // first version whose commit instant is >= the timestamp; a
      // timestamp after all history positions past the end (empty replay
      // until new commits land)
      // filter, not find: concurrent committers can record non-monotone
      // instants (v5 reserved first, finished after v6) — the FIRST
      // at-or-after commit is the min id over the whole log (review r13)
      LakeSinkFiles.listVersions(path).filter { v =>
        java.nio.file.Files.getLastModifiedTime(
          LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v)))
          .toMillis >= millis
      }.headOption
        .getOrElse(LakeSinkFiles.listVersions(path).lastOption.getOrElse(0L) + 1)
    }
    byV.orElse(byT)
  }

  /** Resolve the batch range's LAST replayed version from `endingVersion`
    * or `endingTimestamp` — the mirror of [[startingVersion]]: a
    * timestamp positions at the last commit AT OR BEFORE it (so the
    * [startingTimestamp, endingTimestamp] pair brackets exactly the
    * commits whose instants fall inside the window). A timestamp before
    * all history yields version 0 — an empty range, not an error. */
  def endingVersion(path: String,
      options: CaseInsensitiveStringMap): Option[Long] = {
    val byV = Option(options.get("endingVersion")).map(_.trim.toLong)
    val byT = Option(options.get("endingTimestamp")).map { raw =>
      val t = raw.trim
      val millis =
        if (t.forall(_.isDigit)) t.toLong
        else java.sql.Timestamp.valueOf(t).getTime
      require(byV.isEmpty,
        "LakeSink CDF: give endingVersion OR endingTimestamp, not both")
      // filter, not takeWhile: the LAST at-or-before commit must survive
      // a non-monotone instant in the middle of the log (review r13)
      LakeSinkFiles.listVersions(path).filter { v =>
        java.nio.file.Files.getLastModifiedTime(
          LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v)))
          .toMillis <= millis
      }.lastOption.getOrElse(0L)
    }
    byV.orElse(byT)
  }

  /** The legs of one version against its committed predecessor — exactly
    * [[LakeVersions.changes]]`(prev, v)`, as input partitions. Shared by
    * the streaming micro-batches and the batch range read. */
  private[sources] def legsFor(path: String, partCols: Seq[String],
      v: Long, prev: Option[Long]): Seq[LakeCdfInputPartition] = {
    val snapPrev = prev.map(LakeSinkFiles.snapshot(path, _))
    val snapV = LakeSinkFiles.snapshot(path, v)
    val filesPrev = snapPrev.map(_.files).getOrElse(Seq.empty)
    val filesV = snapV.files
    val delsPrev = snapPrev.map(_.deletes).getOrElse(Map.empty)
    val delsV = snapV.deletes
    val root = Paths.get(path)
    val identityKeys = LakePart.parseAll(partCols)
      .filter(_.isIdentity).map(_.dirKey).toSet
    def base(rel: String, deletes: Array[Long],
        includeOnly: Option[Array[Long]]): LakeSinkInputPartition = {
      // a removed file was retired by its rewrite; vacuuming it makes
      // this range unreadable — loud
      val p = LakeSinkFiles.resolve(path, rel, s"version $v's CDF file")
      val kvs = LakeSinkPartitions.kvsOf(root, root.resolve(rel), partCols)
        .filter { case (k, _) => identityKeys.contains(k) }
      LakeSinkInputPartition(p.toString, kvs, deletes, includeOnly)
    }
    val inserts = filesV.diff(filesPrev).sorted.map { rel =>
      // a row both written and vector-deleted by version v never surfaces
      LakeCdfInputPartition(
        base(rel, delsV.getOrElse(rel, Array.empty), None), "insert", v)
    }
    val removes = filesPrev.diff(filesV).sorted.map { rel =>
      // rows already hidden at prev were never live there — not deletes now
      LakeCdfInputPartition(
        base(rel, delsPrev.getOrElse(rel, Array.empty), None), "delete", v)
    }
    // merge-on-read legs: positions newly vectored in files BOTH versions
    // carry replay as row-level deletes (they were live at prev)…
    val common = filesPrev.toSet.intersect(filesV.toSet)
    val vectored = common.toSeq.sorted.flatMap { rel =>
      val before = delsPrev.getOrElse(rel, Array.empty[Long]).toSet
      val nd = delsV.getOrElse(rel, Array.empty[Long]).filterNot(before).sorted
      if (nd.isEmpty) None
      else Some(LakeCdfInputPartition(base(rel, Array.empty, Some(nd)), "delete", v))
    }
    // …and positions REMOVED from a vector (RESTORE undoing a mor DELETE)
    // replay as row-level inserts — they are live again at v; without
    // these legs a CDC replica silently misses every un-deleted row
    // (the diff law would break exactly at the restore version)
    val unVectored = common.toSeq.sorted.flatMap { rel =>
      val after = delsV.getOrElse(rel, Array.empty[Long]).toSet
      val ud = delsPrev.getOrElse(rel, Array.empty[Long]).filterNot(after).sorted
      if (ud.isEmpty) None
      else Some(LakeCdfInputPartition(base(rel, Array.empty, Some(ud)), "insert", v))
    }
    inserts ++ removes ++ vectored ++ unVectored
  }

  /** Plan every leg of the version range `(startV, endV]`, refusing
    * vacuumed gaps loudly — shared by batch and streaming planning. */
  private[sources] def planRange(path: String, partCols: Seq[String],
      startV: Long, endV: Long): Array[InputPartition] = {
    val all = LakeSinkFiles.listVersions(path)
    // retention-horizon contract: replaying version v needs v's
    // PREDECESSOR record to diff against, so a positioned consumer
    // (startV > 0) requires startV's own record to still exist — with
    // it gone, legsFor would diff against an older survivor (duplicated
    // legs) or against nothing (the whole table replayed as inserts).
    // startV == 0 is the FRESH full-history bootstrap: against a
    // vacuumed log it correctly emits the oldest surviving version's
    // snapshot as inserts, then diffs (the Delta fresh-consumer shape).
    // VACUUM only ever drops a PREFIX of records (keepLast and the age
    // cutoff both act on commit order), so startV's record existing
    // proves the whole chain from startV is intact.
    all.headOption.foreach { minV =>
      require(startV == 0 || startV >= minV,
        s"LakeSink CDF: version $startV of $path (this read's diff base) " +
          "was vacuumed — the change feed is no longer complete from " +
          "here; start later, restart from a fresh checkpoint, or vacuum " +
          "with a longer retention horizon")
    }
    all.filter(v => v > startV && v <= endV).flatMap { v =>
      legsFor(path, partCols, v, all.filter(_ < v).lastOption)
    }.toArray
  }

  /** The reader factory of batch and streaming change reads: the live
    * manifest's evolution state and defaults, read once at planning. */
  private[sources] def readerFactory(cdfSchema: StructType, path: String,
      partCols: Seq[String]): PartitionReaderFactory = {
    val m = LakeManifest.read(path).getOrElse(LakeManifest.Empty)
    val (aliases, ignored) = m.evolution
    val tableSchema = StructType(cdfSchema.fields.filterNot(f =>
      f.name == ChangeTypeCol || f.name == CommitVersionCol))
    new LakeCdfReaderFactory(tableSchema, cdfSchema, path, partCols, aliases, ignored,
      LakeSinkDefaults.internalMap(m.defaults, LakeSink.dataSchema(tableSchema, partCols)))
  }

  def cdfSchema(tableSchema: StructType): StructType = {
    Seq(ChangeTypeCol, CommitVersionCol).foreach { c =>
      require(!tableSchema.fieldNames.contains(c),
        s"LakeSink CDF: table already has a column named $c")
    }
    StructType(tableSchema.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))
  }
}

private[sources] class LakeCdfTable(tableSchema: StructType, path: String,
    partCols: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"graft_lake_cdf($path)"
  override def schema(): StructType = LakeCdf.cdfSchema(tableSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LakeCdfScan(schema(), path, partCols,
        LakeCdf.startingVersion(path, options),
        Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt),
        LakeCdf.endingVersion(path, options))
    }
}

/** Serves the change feed BOTH ways (the Delta parity): as a micro-batch
  * stream (offsets = version ids) and as a BATCH range read
  * (`spark.read … .option("readChangeFeed", "true")
  * .option("startingVersion", v)[.option("endingVersion", w)]` — the
  * whole `(v−1, w]` leg set planned at once, default w = latest). */
private[sources] class LakeCdfScan(cdfSchema: StructType, path: String,
    partCols: Seq[String], startingVersion: Option[Long],
    maxFilesPerTrigger: Option[Int],
    endingVersion: Option[Long] = None) extends Scan with Batch {
  override def readSchema(): StructType = cdfSchema
  override def description(): String = s"graft-lake-cdf $path" +
    startingVersion.map(v => s" from=v$v").getOrElse("") +
    endingVersion.map(v => s" to=v$v").getOrElse("")
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // ending options are BATCH range bounds — silently ignoring one on a
    // stream is the r12 dropped-option anti-pattern; refuse loudly (bound
    // a streaming run with Trigger.AvailableNow instead)
    require(endingVersion.isEmpty,
      "LakeSink CDF: endingVersion/endingTimestamp are batch range " +
        "bounds — a stream has no end (bound a run with Trigger.AvailableNow)")
    new LakeCdfMicroBatchStream(cdfSchema, path, partCols, startingVersion,
      maxFilesPerTrigger)
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val endV = endingVersion.getOrElse(
      LakeSinkFiles.listVersions(path).lastOption.getOrElse(0L))
    LakeCdf.planRange(path, partCols, startingVersion.map(_ - 1).getOrElse(0L), endV)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    LakeCdf.readerFactory(cdfSchema, path, partCols)
}

/** Offset = the last version whose changes have been emitted. */
private[graft] case class LakeCdfOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class LakeCdfMicroBatchStream(cdfSchema: StructType,
    path: String, partCols: Seq[String], startingVersion: Option[Long],
    maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // AvailableNow pins the horizon version at query start (the same
  // terminate-against-a-snapshot contract as the file-set stream)
  private var horizon: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    horizon = Some(LakeSinkFiles.listVersions(path).lastOption.getOrElse(0L))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Changed-file count of version `v` against its committed predecessor
    * — the admission currency (adds + removes + vector-leg files). */
  private def changedFiles(v: Long, prev: Option[Long]): Int = {
    val snapPrev = prev.map(LakeSinkFiles.snapshot(path, _))
    val snapV = LakeSinkFiles.snapshot(path, v)
    val filesPrev = snapPrev.map(_.files).getOrElse(Seq.empty)
    val filesV = snapV.files
    val delsPrev = snapPrev.map(_.deletes).getOrElse(Map.empty)
    val delsV = snapV.deletes
    val common = filesPrev.toSet.intersect(filesV.toSet)
    // a vector that changed in EITHER direction makes the file a changed
    // file: newly-vectored positions replay as deletes, un-vectored
    // positions (a RESTORE undoing a mor DELETE) as inserts
    val vectored = common.count { rel =>
      delsPrev.getOrElse(rel, Array.empty[Long]).toSet !=
        delsV.getOrElse(rel, Array.empty[Long]).toSet
    }
    filesV.diff(filesPrev).size + filesPrev.diff(filesV).size + vectored
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startV = start.asInstanceOf[LakeCdfOffset].version
    val all = LakeSinkFiles.listVersions(path)
    val avail = horizon.getOrElse(all.lastOption.getOrElse(0L))
    val fresh = all.filter(v => v > startV && v <= avail)
    if (fresh.isEmpty) return LakeCdfOffset(startV)
    limit match {
      case _: ReadAllAvailable => LakeCdfOffset(fresh.last)
      case f: ReadMaxFiles =>
        // whole versions admit IN ORDER until the changed-file budget is
        // spent; the first fresh version always admits (progress), and a
        // version that would blow the budget closes the batch — versions
        // can never be skipped over
        var acc = 0
        var end = startV
        val it = fresh.iterator
        var go = true
        while (go && it.hasNext) {
          val v = it.next()
          val c = changedFiles(v, all.filter(_ < v).lastOption)
          if (end == startV || acc + c <= f.maxFiles) {
            end = v; acc += c
            if (acc >= f.maxFiles) go = false
          } else go = false
        }
        LakeCdfOffset(end)
      case _ => LakeCdfOffset(fresh.last)
    }
  }

  override def initialOffset(): Offset =
    // startingVersion = v means "emit changes from version v on", so the
    // initial offset is its predecessor; the default replays ALL history
    LakeCdfOffset(startingVersion.map(_ - 1).getOrElse(0L))
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "LakeCdfMicroBatchStream uses latestOffset(start, limit)")
  override def deserializeOffset(json: String): Offset =
    LakeCdfOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    LakeCdf.planRange(path, partCols,
      start.asInstanceOf[LakeCdfOffset].version,
      end.asInstanceOf[LakeCdfOffset].version)

  override def createReaderFactory(): PartitionReaderFactory =
    LakeCdf.readerFactory(cdfSchema, path, partCols)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One changed file of one version: the underlying scan unit plus the
  * CDF tags its rows carry. */
private[sources] case class LakeCdfInputPartition(base: LakeSinkInputPartition,
    changeType: String, version: Long) extends InputPartition

private[sources] class LakeCdfReaderFactory(tableSchema: StructType,
    cdfSchema: StructType, path: String, partCols: Seq[String],
    aliases: Map[String, String], ignored: Set[String],
    // pre-evolution legs fill a defaulted column's DEFAULT, not null —
    // the CDF surface is live-named, so the fill matches live reads
    defaults: Map[String, Any] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case c: LakeCdfInputPartition =>
        new LakeSinkPartitionReader(c.base.file, tableSchema, cdfSchema,
          partCols, c.base.partValues, c.base.deletes, c.base.includeOnly,
          aliases, ignored,
          cdfConsts = Map(
            LakeCdf.ChangeTypeCol -> UTF8String.fromString(c.changeType),
            LakeCdf.CommitVersionCol -> java.lang.Long.valueOf(c.version)),
          defaults = defaults)
      case other => throw new IllegalStateException(
        s"LakeCdfReaderFactory: unexpected partition $other")
    }
}
