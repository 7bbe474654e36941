package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the DSv2 connector surface — the reference's core
  * sink is a buffered fault-tolerant S3 writer (gzip JSON batches with
  * at-least-once delivery dedup'd at the lake, `phase3-kinesis-s3.yaml:81-89`,
  * `docs/phase3-kinesis-s3.md:13,44`); this is that contract as a REAL
  * Spark `SupportsWrite` connector over the local filesystem (the
  * container's honest stand-in for S3 — same rename-based commit
  * protocol an object store's multipart-complete provides):
  *
  *   df.write.format("graft.sources.LakeSink").mode("append").save(dir)
  *   df.writeStream.format("graft.sources.LakeSink")
  *     .option("path", dir).option("checkpointLocation", ckpt).start()
  *
  * Commit protocol (the part a file sink hides and a connector must own):
  *
  *   - Each TASK writes gzip JSON-lines to `_staging/<name>.inprogress`,
  *     finalizes it to `_staging/<name>` on task commit (atomic rename),
  *     and deletes it on task abort — a failed/speculative attempt can
  *     never leak bytes into the destination.
  *   - The DRIVER's job commit moves every staged file into the
  *     destination; job abort deletes the staged files instead. Readers
  *     never see a partial job: `_staging` is underscore-hidden from
  *     Spark's file index.
  *   - STREAMING commits are exactly-once across restart: final names are
  *     deterministic per (epoch, partition) and an atomic commit-log
  *     marker `_graft_commits/<epoch>` records completion — a redelivered
  *     epoch (restart after a crash between sink commit and checkpoint
  *     write) sees its marker and discards the re-staged files; a crash
  *     MID-commit re-moves under the same names (REPLACE_EXISTING), so
  *     the retry converges file-by-file instead of duplicating.
  *   - Every commit then lands ONE version record
  *     `_graft_versions/v<n>` by temp + atomic move — the commit's
  *     visibility point and the only store of per-file facts. Fields:
  *     `schema`, `partitionCols` (+ optional `renames`/`dropped`),
  *     `deletes` (delete vectors), `counts` (rows per file), `stats`
  *     (column stat blobs), `sorted` (sort claims) and `files` (the
  *     full relative file list). Live reads plan from the latest record,
  *     `VERSION AS OF` from an older one (see [[LakeSinkFiles.recordVersion]]).
  *
  * 100 TB story: every byte moves task→staging→destination on the
  * executor/driver that owns it — the driver handles only O(#tasks)
  * rename messages per commit, state per writer is one open stream, and
  * the deterministic (epoch, partition) naming is what makes retried
  * epochs idempotent at any fan-out. Read back THROUGH the connector
  * ([[LakeSinkScanBuilder]] — every commit records a `_graft_schema.json`
  * manifest, so `spark.read.format("graft.sources.LakeSink").load(dir)`
  * needs no user schema), via [[GraftCatalog]] by name, or with
  * `spark.read.json` for interop.
  */
class LakeSink extends TableProvider {
  // on write the schema arrives from the query plan; on read it comes from
  // the `_graft_schema.json` manifest every committed write records — or,
  // with `.option("versionAsOf", n)`, from that version's snapshot record
  // (path-based time travel; the catalog's VERSION AS OF twin)
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    def manifestSchema: StructType =
      LakeManifest.read(options.get("path")).map(_.schema).getOrElse(
        throw new UnsupportedOperationException(
          "graft.sources.LakeSink: no _graft_schema.json manifest at " +
            s"'${options.get("path")}' — read an existing lake table, or pass " +
            "an explicit .schema(...)"))
    LakeSink.pathTravelVersion(k => Option(options.get(k)),
      options.get("path")) match {
      case Some(v) =>
        require(!options.getBoolean("readChangeFeed", false),
          "LakeSink: readChangeFeed cannot combine with versionAsOf/" +
            "timestampAsOf — use startingVersion/startingTimestamp to " +
            "position the change stream")
        LakeSinkFiles.readVersion(options.get("path"), v)._1
      case None if options.getBoolean("readChangeFeed", false) =>
        LakeCdf.cdfSchema(manifestSchema)
      case None => manifestSchema
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    LakeSink.pathTravelVersion(k => Option(properties.get(k)), path) match {
      case Some(v) =>
        // read-only snapshot: schema/partitioning/file list from the
        // recorded version; `snapshotFiles` (newline-joined relative
        // names) optionally narrows to a subset — the version-diff (CDC)
        // read path, see [[LakeVersions.changes]]
        val snap = LakeSinkFiles.snapshot(path, v)
        val narrowed = Option(properties.get("snapshotFiles"))
          .map(fs => snap.narrow(fs.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)))
          .getOrElse(snap)
        // CDF delete-leg mode: restrict the read to exactly the listed
        // (file, position) rows — see LakeVersions.changes
        val includes = Option(properties.get("includePositions"))
          .map(LakeSinkDeletes.parse).getOrElse(Map.empty[String, Array[Long]])
        new LakeSinkSnapshotTable(narrowed, path, s"graft_lake_sink($path)",
          includePositions = includes)
      case None if java.lang.Boolean.parseBoolean(properties.get("readChangeFeed")) =>
        // streaming change-data feed over the version log — see [[LakeCdf]]
        val m = LakeManifest.read(path).getOrElse(
          throw new UnsupportedOperationException(
            s"LakeSink CDF: no lake table at '$path'"))
        new LakeCdfTable(m.schema, path, m.partCols)
      case None =>
        new LakeSinkTable(schema, path,
          Option(properties.get("partitionCols")).map(LakePart.split)
            .orElse(LakeManifest.read(path).map(_.partCols))
            .getOrElse(Seq.empty))
    }
  }
}

object LakeSink {
  /** Micros-precision ISO-8601 UTC — the lake's wire timestamp format;
    * readers pass the same pattern as `timestampFormat`. */
  val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private[sources] val TsFormatter =
    java.time.format.DateTimeFormatter
      .ofPattern(TimestampFormat)
      .withZone(java.time.ZoneOffset.UTC)

  private[sources] def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.toString
  }

  /** One field serializer per column, resolved once per writer, not per
    * row. Unsupported types fail at PLANNING (factory construction), not
    * mid-write. */
  private[sources] def serializers(schema: StructType): Array[(InternalRow, Int) => String] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val ser: (InternalRow, Int) => String = f.dataType match {
        case LongType      => (r, j) => r.getLong(j).toString
        case IntegerType   => (r, j) => r.getInt(j).toString
        case DoubleType    => (r, j) => r.getDouble(j).toString
        case FloatType     => (r, j) => r.getFloat(j).toString
        case BooleanType   => (r, j) => r.getBoolean(j).toString
        case StringType    => (r, j) => "\"" + jsonEscape(r.getUTF8String(j).toString) + "\""
        case TimestampType => (r, j) =>
          "\"" + TsFormatter.format(java.time.Instant.EPOCH.plusNanos(r.getLong(j) * 1000L)) + "\""
        case DateType      => (r, j) =>
          "\"" + java.time.LocalDate.ofEpochDay(r.getInt(j).toLong).toString + "\""
        case other => throw new UnsupportedOperationException(
          s"LakeSink: unsupported column type $other for field ${f.name}")
      }
      val _ = i
      ser
    }

  /** Resolve a `VERSION AS OF` STRING: a number directly, anything else
    * as a TAG name (see [[LakeSinkFiles.readTags]]) — the named-ref
    * surface over the version log. */
  private[sources] def resolveVersionRef(path: String, ref: String): Long = {
    val t = ref.stripPrefix("v").trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else LakeSinkFiles.readTags(path).getOrElse(ref.trim,
      throw new IllegalArgumentException(
        s"LakeSink: no version or tag '$ref' at $path (tags: " +
          s"${LakeSinkFiles.readTags(path).keys.toSeq.sorted.mkString(",")})"))
  }

  /** Path-read TIME TRAVEL resolution: `versionAsOf` directly, or
    * `timestampAsOf` (epoch MILLIS or `java.sql.Timestamp` text — the CDF
    * option convention) resolved to the greatest version committed at or
    * before the instant, exactly like the catalog's `TIMESTAMP AS OF`.
    * Both together refuse. Previously `timestampAsOf` on a path read was
    * SILENTLY IGNORED — live rows served to a consumer who asked for
    * history (the r14 option audit's find; the r12 anti-pattern). */
  private[sources] def pathTravelVersion(get: String => Option[String],
      path: String): Option[Long] = {
    val byV = get("versionAsOf").map(resolveVersionRef(path, _))
    val byT = get("timestampAsOf").map { raw =>
      require(byV.isEmpty,
        "LakeSink: give versionAsOf OR timestampAsOf, not both")
      val t = raw.trim
      val micros =
        if (t.forall(_.isDigit)) t.toLong * 1000L
        else java.sql.Timestamp.valueOf(t).getTime * 1000L
      LakeSinkFiles.versionAtTimestamp(path, micros).getOrElse(
        throw new IllegalArgumentException(
          s"LakeSink: no version at or before timestampAsOf '$raw' at " +
            s"$path (earliest: " +
            s"${LakeSinkFiles.listVersions(path).headOption.getOrElse("none")})"))
    }
    byV.orElse(byT)
  }

  /** The writer's JSON token for a column DEFAULT value — exactly what
    * [[serializers]] would emit for the value, so the typed scanner's
    * one-field decode ([[LakeSinkDefaults.decodeToken]]) is its inverse.
    * Refuses unsupported column types at DDL time (serializers throws). */
  private[sources] def defaultToken(
      f: org.apache.spark.sql.types.StructField, internal: Any): String =
    if (internal == null) "null"
    else serializers(StructType(Seq(f)))(0)(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](internal)), 0)

  /** The FILE schema of a partitioned write — partition values live in the
    * directory names (Hive layout), not in the rows; Spark's partition
    * discovery restores them on read. */
  private[sources] def dataSchema(schema: StructType, partCols: Seq[String]): StructType = {
    val out = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    require(out.fields.nonEmpty, "LakeSink: every column is a partition column")
    out
  }

  /** One directory-value extractor per partition FIELD (identity value or
    * bucket id — see [[LakePart]]), resolved at planning. Values must be
    * path-safe (the Hive-escape protocol is out of scope — unsafe
    * characters and NULLs fail the task loudly rather than corrupting the
    * layout). */
  private[sources] def partitionExtractors(schema: StructType,
      partCols: Seq[String]): Seq[InternalRow => String] =
    LakePart.parseAll(partCols).map { part =>
      val c = part.name
      val i = schema.fieldIndex(c) // throws on a missing column
      def safe(v: String): String = {
        require(v.forall(ch => ch.isLetterOrDigit || ":._-+".contains(ch)),
          s"LakeSink: partition value '$v' for column $c is not path-safe")
        v
      }
      val f: InternalRow => String = (part.buckets, part.temporal) match {
        case (Some(n), _) => schema.fields(i).dataType match {
          case LongType    => r => LakePart.bucketOfLong(n, r.getLong(i)).toString
          case IntegerType => r => LakePart.bucketOfLong(n, r.getInt(i).toLong).toString
          case StringType  => r => LakePart.bucketOfString(n, r.getUTF8String(i)).toString
          case other => throw new UnsupportedOperationException(
            s"LakeSink: unsupported bucket column type $other for $c")
        }
        case (_, Some(kind)) => schema.fields(i).dataType match {
          // UTC truncation of the internal epoch-micros value — shared
          // arithmetic with the scan's SPJ keys and the V2 function
          case TimestampType => r => LakePart.temporalDirValue(kind, r.getLong(i))
          case DateType if kind != "hours" =>
            r => LakePart.temporalDirValue(kind, r.getInt(i).toLong * LakePart.MicrosPerDay)
          case other => throw new UnsupportedOperationException(
            s"LakeSink: unsupported $kind() column type $other for $c")
        }
        case _ => schema.fields(i).dataType match {
          case StringType  => r => safe(r.getUTF8String(i).toString)
          case IntegerType => r => r.getInt(i).toString
          case LongType    => r => r.getLong(i).toString
          case DateType    => r => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
          case other => throw new UnsupportedOperationException(
            s"LakeSink: unsupported partition column type $other for $c")
        }
      }
      (r: InternalRow) => {
        require(!r.isNullAt(i), s"LakeSink: NULL partition value for column $c")
        f(r)
      }
    }
}

private[graft] object LakeSinkTable {
  /** Hidden metadata column: the committed lake file each row came from
    * (queryable as `SELECT _file FROM …`; load-bearing for row-level
    * operations — see [[LakeSinkRowLevelOperation]]). */
  val FileMetaCol = "_file"
  /** Hidden metadata column: the row's PHYSICAL position (line index) in
    * its file — stable across delete vectors (positions of deleted rows
    * are never re-used), so (_file, _pos) is a durable row id: the
    * rowId of the merge-on-read DELETE path and the address the CDF's
    * row-level delete legs replay. */
  val PosMetaCol = "_pos"

  private[sources] def metaCols():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FileMetaCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "committed lake file holding this row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = PosMetaCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row position (line index) in _file"
      })
}

private[graft] class LakeSinkTable(writeSchema: StructType, path: String,
    partCols: Seq[String], tableName: Option[String] = None)
    extends Table with SupportsWrite with SupportsRead with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** The table's stored ENFORCED CHECK constraints (write-time data
    * quality — the Delta invariants/constraints role): the engine reads
    * these at write resolution and injects the predicate checks into the
    * write plan, so a violating row fails its task BEFORE commit — the
    * staged files are swept and the table is untouched (the existing
    * abort machinery; GraftCatalogSpec pins zero-mutation). Stored in the
    * manifest, evolved via ALTER TABLE ADD/DROP CONSTRAINT, validated
    * against existing rows at ADD time ([[GraftCatalog.alterTable]]). */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    LakeManifest.read(path).toSeq.flatMap(_.constraints).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .rely(true)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** SQL `TRUNCATE TABLE graft.lake.t` — the same metadata-only
    * retire-everything as a truncating overwrite, recorded as a version
    * (the pre-truncate snapshot stays readable until VACUUM). */
  override def truncateTable(): Boolean = {
    val removed = LakeSinkFiles.truncateDest(path)
    LakeSinkFiles.recordVersion(path, Seq.empty, removed)
    true
  }
  require(path != null && path.nonEmpty, "LakeSink requires a 'path' option")

  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    LakeSinkTable.metaCols()

  /** Row-level operations, two tiers: DELETE always runs MERGE-ON-READ
    * (delta-based — [[LakeSinkDeltaOperation]] records positional delete
    * vectors, no file is rewritten — strictly better: a DELETE has no
    * insert leg). MERGE INTO / UPDATE default to group-based
    * copy-on-write ReplaceData ([[LakeSinkRowLevelOperation]] — best for
    * matched-heavy rewrites) and switch to merge-on-read (vectors + a
    * small delta file of new rows — best for point updates) under
    * `spark.graft.lake.dml.mode = mor`, the Iceberg
    * write.update-mode/write.merge-mode role as a session conf.
    * Partition-equality DELETEs still take [[canDeleteWhere]]'s
    * metadata-only path first. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val mor = info.command() == RowLevelOperation.Command.DELETE ||
          org.apache.spark.sql.SparkSession.active.conf
            .get("spark.graft.lake.dml.mode", "cow") == "mor"
        if (mor)
          new LakeSinkDeltaOperation(writeSchema, path, partCols, info.command())
        else
          new LakeSinkRowLevelOperation(writeSchema, path, partCols, info.command())
      }
    }

  /** Partition-level metadata DELETE (the Iceberg/Hive `DROP PARTITION`
    * contract, reachable as `DELETE FROM graft.lake.t WHERE pcol = v`):
    * deletable iff every predicate is an equality on a partition column —
    * then whole matching files vanish without reading a row. Arbitrary
    * row-level predicates are refused at PLANNING (`canDeleteWhere` =
    * false → a clear engine error), never half-applied. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall {
      case org.apache.spark.sql.sources.EqualTo(a, _)  => partCols.contains(a)
      case org.apache.spark.sql.sources.In(a, _)       => partCols.contains(a)
      case org.apache.spark.sql.sources.IsNotNull(a)   => partCols.contains(a)
      case _: org.apache.spark.sql.sources.AlwaysTrue  => true
      case _ => false
    }
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val removed = LakeSinkFiles.retire(path,
      LakeSinkFiles.listLive(path, partCols)
        .filter { case (_, kvs) => LakeSinkPartitions.keeps(writeSchema, kvs, filters) }
        .map(_._1.toString))
    LakeSinkFiles.recordVersion(path, Seq.empty, removed)
  }
  override def name(): String = tableName.getOrElse(s"graft_lake_sink($path)")
  override def schema(): StructType = writeSchema

  /** V2 columns with stored DEFAULTs attached: the engine derives the
    * relation's field metadata (CURRENT_DEFAULT / EXISTS_DEFAULT) from
    * these, so `INSERT` statements missing a defaulted column get the
    * CURRENT default folded in by ResolveDefaultColumns — while the
    * scanner fills files that PREDATE the column with the same folded
    * value ([[LakeSinkDefaults]]). One declaration, both halves. */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column, ColumnDefaultValue}
    val byName = LakeManifest.read(path).toSeq.flatMap(_.defaults)
      .map(d => d._1 -> d).toMap
    writeSchema.fields.map { f =>
      byName.get(f.name) match {
        case Some((_, sql, tok)) =>
          val v = LakeSinkDefaults.decodeToken(f, tok)
          V2Column.create(f.name, f.dataType, f.nullable, null,
            new ColumnDefaultValue(sql,
              org.apache.spark.sql.graft.ConnectorBridge.literal(v, f.dataType)),
            null)
        case None => V2Column.create(f.name, f.dataType, f.nullable)
      }
    }
  }
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    LakePart.parseAll(partCols).map {
      case LakePart(_, nm, Some(n), _)         => Expressions.bucket(n, nm): Transform
      case LakePart(_, nm, _, Some("days"))    => Expressions.days(nm): Transform
      case LakePart(_, nm, _, Some("hours"))   => Expressions.hours(nm): Transform
      case LakePart(_, nm, _, Some("months"))  => Expressions.months(nm): Transform
      case LakePart(_, nm, _, Some("years"))   => Expressions.years(nm): Transform
      case LakePart(_, nm, _, _)               => Expressions.identity(nm): Transform
    }.toArray
  }

  // --- SupportsPartitionManagement (SHOW PARTITIONS / DROP PARTITION DDL) ----
  //
  // Partitions ARE the Hive k=v directories of committed files: listing is
  // a distinct over decoded directory pairs, dropping retires that
  // directory's files through the same metadata-only path as
  // [[deleteWhere]] (pre-drop snapshots stay readable until VACUUM).
  // Partitions come into existence by WRITING rows (dynamic partitioning)
  // — ADD PARTITION of an empty directory is refused, not faked: an empty
  // partition would be invisible to the file-listing scan anyway.

  override def partitionSchema(): StructType =
    StructType(LakePart.parseAll(partCols).map {
      case LakePart(_, nm, None, None) => writeSchema(nm)
      case p if p.temporal.isDefined =>
        // temporal dirs list as their human-readable value strings
        StructField(p.dirKey, StringType, nullable = false)
      case p => StructField(p.dirKey, IntegerType, nullable = false)
    })

  private def identDirVal(dt: DataType, ident: InternalRow, i: Int): String = {
    require(!ident.isNullAt(i), "LakeSink: NULL partition value")
    dt match {
      case StringType  => ident.getUTF8String(i).toString
      case IntegerType => ident.getInt(i).toString
      case LongType    => ident.getLong(i).toString
      case DateType    => java.time.LocalDate.ofEpochDay(ident.getInt(i).toLong).toString
      case other => throw new UnsupportedOperationException(
        s"LakeSink: unsupported partition type $other")
    }
  }

  private def matchingFiles(ident: InternalRow): Seq[String] = {
    val ps = partitionSchema()
    val want = LakePart.parseAll(partCols).zipWithIndex.map { case (p, i) =>
      p.dirKey -> identDirVal(ps(i).dataType, ident, i)
    }
    LakeSinkFiles.listLive(path, partCols)
      .filter { case (_, kvs) => want.forall(kvs.contains) }
      .map(_._1.toString)
  }

  override def partitionExists(ident: InternalRow): Boolean =
    matchingFiles(ident).nonEmpty

  override def dropPartition(ident: InternalRow): Boolean = {
    val files = matchingFiles(ident)
    if (files.isEmpty) false
    else {
      val removed = LakeSinkFiles.retire(path, files)
      LakeSinkFiles.recordVersion(path, Seq.empty, removed)
      true
    }
  }

  override def createPartition(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "LakeSink: partitions are created by writing rows (dynamic " +
        "partitioning) — ADD PARTITION has no empty-directory represention")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "LakeSink: partition metadata is not stored")

  override def loadPartitionMetadata(ident: InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  /** Distinct partition identifiers, optionally prefix-filtered by a
    * (names, values) partial spec — the `SHOW PARTITIONS t PARTITION(…)`
    * contract. Names may be any subset of the partition columns. */
  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    require(names.length == ident.numFields,
      s"LakeSink: ${names.length} names vs ${ident.numFields} values")
    val ps = partitionSchema()
    val parts = LakePart.parseAll(partCols)
    def keyIdx(n: String): Int = parts.indexWhere(_.dirKey == n)
    val want = names.zipWithIndex.map { case (n, i) =>
      val j = keyIdx(n)
      require(j >= 0, s"LakeSink: $n is not a partition column")
      n -> identDirVal(ps(j).dataType, ident, i)
    }
    // distinct decoded directory tuples, filtered by the partial spec;
    // pre-evolution files (missing the ACTIVE spec's dirs after a
    // partition-spec evolution) are not part of the active listing
    val tuples = LakeSinkFiles.listLive(path, partCols)
      .flatMap { case (_, kvs) =>
        val t = parts.map(p => kvs.find(_._1 == p.dirKey).map(_._2))
        if (t.forall(_.isDefined)) Some(t.map(_.get)) else None
      }
      .distinct
      .filter(t => want.forall { case (n, v) => t(keyIdx(n)) == v })
      .sortBy(_.mkString("/"))
    tuples.map { t =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        t.zipWithIndex.map { case (s, i) =>
          LakeSinkPartitions.dirToInternal(ps(i).dataType, s)
        }.toArray[Any])
      : InternalRow
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE … WITH SCHEMA EVOLUTION: the analyzer's
      // ResolveMergeIntoSchemaEvolution consults this capability, derives
      // AddColumn/widening TableChanges from the source schema, and routes
      // them through GraftCatalog.alterTable — the SAME manifest evolution
      // ALTER TABLE ADD COLUMNS and batch/streaming mergeSchema use (this
      // is the capability's ONLY consumer in Spark 4.1, verified against
      // the jars: DataSourceV2Relation.autoSchemaEvolution)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  /** SHOW TBLPROPERTIES serves the manifest's stored property set. */
  override def properties(): util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    LakeManifest.read(path).toSeq.flatMap(_.props).foreach { case (k, v) => m.put(k, v) }
    m
  }
  /** `graft.*` table properties act as per-TABLE default write options
    * (prefix stripped: graft.ndvColumns -> ndvColumns, …) — explicit
    * per-write options override them. The Delta table-properties role:
    * declare the stats configuration once at CREATE, every writer
    * (batch, streaming, CTAS) inherits it. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val merged = new java.util.HashMap[String, String]()
    val writeCols = info.schema().fieldNames.toSet
    LakeManifest.read(path).toSeq.flatMap(_.props).foreach { case (k, v) =>
      if (k.startsWith("graft.")) {
        // LOWERCASE the stripped key: info.options() keys arrive
        // lowercased (CaseInsensitiveStringMap), and a mixed-case twin
        // here would make "explicit options win" HashMap-order roulette
        // in the map constructor below (review finding, r13)
        val key = k.substring("graft.".length).toLowerCase(java.util.Locale.ROOT)
        // INHERITED column-list defaults adapt to the write: appends may
        // legally write a SUBSET of the table's columns, so intersect
        // ndv/bloom lists with the written columns (absent ⇒ simply not
        // tracked for these files) and stand sortBy down entirely if any
        // sort column is missing (a partial sort key is a different
        // ordering, not a weaker one). EXPLICIT per-write options stay
        // strict — a typo there should fail loudly.
        val value = key match {
          case "ndvcolumns" | "bloomfiltercolumns" | "histogramcolumns" =>
            v.split(",").map(_.trim).filter(_.nonEmpty)
              .filter(writeCols.contains).mkString(",")
          case "sortby" =>
            val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
            if (cols.forall(writeCols.contains)) v else ""
          case _ => v
        }
        if (value.nonEmpty) merged.put(key, value)
      }
    }
    merged.putAll(info.options())
    val explicitKeys = {
      val b = Set.newBuilder[String]
      info.options().forEach((k, _) => b += k.toLowerCase(java.util.Locale.ROOT))
      b.result()
    }
    new LakeSinkWriteBuilder(info.schema(), path, partCols, info.queryId(),
      new CaseInsensitiveStringMap(merged), explicitKeys)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeSinkScanBuilder(writeSchema, path, partCols,
      triggerLimits = (
        Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt),
        Option(options.get("maxRowsPerTrigger")).map(_.trim.toLong),
        Option(options.get("maxBytesPerTrigger")).map(_.trim.toLong)))
}

/** The write MODE a batch commit applies before promoting staged files. */
private[sources] sealed trait LakeWriteMode
private[sources] case object LakeAppend extends LakeWriteMode
private[sources] case object LakeTruncate extends LakeWriteMode
/** Static partition overwrite (`INSERT OVERWRITE … PARTITION`, Delta's
  * replaceWhere shape): retire exactly the files matching the
  * partition-equality filters, then promote. */
private[sources] case class LakeOverwriteWhere(
    filters: Array[org.apache.spark.sql.sources.Filter]) extends LakeWriteMode
/** Dynamic partition overwrite: retire the files of exactly the
  * partition directories the INCOMING data touches (an unpartitioned
  * table has one directory — dynamic ≡ truncate there, the Hive
  * `spark.sql.sources.partitionOverwriteMode=dynamic` semantics). */
private[sources] case object LakeDynamicOverwrite extends LakeWriteMode

private[sources] class LakeSinkWriteBuilder(schema: StructType, path: String,
    partCols: Seq[String], queryId: String = "",
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    // lowercased EXPLICIT per-write option keys (provenance the merged
    // map erases — inherited graft.* defaults adapt, explicit ones bind)
    explicitOptions: Set[String] = null)
    extends WriteBuilder
    with SupportsTruncate
    with SupportsOverwrite with SupportsDynamicOverwrite {
  private var mode: LakeWriteMode = LakeAppend
  override def truncate(): WriteBuilder = { mode = LakeTruncate; this }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    // a TRUE condition is a whole-table overwrite = truncate; anything
    // else must be partition equalities — refused at PLANNING otherwise
    // (a half-applied row-level overwrite would corrupt the table)
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) mode = LakeTruncate
    else {
      real.foreach {
        case org.apache.spark.sql.sources.EqualTo(a, _) if partCols.contains(a) => ()
        // the engine plants IsNotNull next to every equality; trivially
        // true here (the writer refuses NULL partition values)
        case org.apache.spark.sql.sources.IsNotNull(a) if partCols.contains(a) => ()
        case f => throw new UnsupportedOperationException(
          s"LakeSink: INSERT OVERWRITE supports partition-equality conditions only, got $f")
      }
      mode = LakeOverwriteWhere(real)
    }
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = LakeDynamicOverwrite; this
  }
  override def build(): Write = new LakeSinkWrite(schema, path, mode, partCols, queryId,
    sortCols = Option(options.get("sortBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
    clusterWrite = options.getOrDefault("distributionMode", "cluster") != "none",
    bloomCols = {
      val bits = Option(options.get("bloomFilterBits"))
        .map(_.trim.toInt).getOrElse(LakeSinkStats.DefaultBloomBits)
      Option(options.get("bloomFilterColumns")).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        .map(_ -> bits).toMap
    },
    mergeSchema = java.lang.Boolean.parseBoolean(
      options.getOrDefault("mergeSchema", "false")),
    ndvCols = Option(options.get("ndvColumns")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet,
    histCols = Option(options.get("histogramColumns")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet,
    explicitSortBy = (if (explicitOptions == null)
      options.containsKey("sortBy")
    else explicitOptions.contains("sortby")),
    txn = {
      // idempotent-writer handle (Delta's txnAppId/txnVersion): both or
      // neither — one alone is a silent no-protection trap
      val app = Option(options.get("txnAppId")).map(_.trim).filter(_.nonEmpty)
      val ver = Option(options.get("txnVersion")).map(_.trim.toLong)
      (app, ver) match {
        case (Some(a), Some(v)) =>
          require(a.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
            s"LakeSink: txnAppId must be [A-Za-z0-9_-]+, got '$a' " +
              "(it names commit markers and staged files)")
          // a NEGATIVE version would make the marker name txn-<app>-<v>
          // ambiguous against an appId ending in '-' (the r12 RTAS
          // prefix-ambiguity lesson): with v >= 0 the last '-'-segment
          // is always the version, so every (appId, version) pair maps
          // to a distinct marker
          require(v >= 0,
            s"LakeSink: txnVersion must be non-negative, got $v")
          Some((a, v))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "LakeSink: txnAppId and txnVersion must be given together")
      }
    })
}

/** The write's plan-side contract. Beyond serializer validation, this is
  * where the SMALL-FILES problem is prevented instead of compacted away:
  * a partitioned write REQUESTS clustering by its partition columns
  * (`RequiresDistributionAndOrdering` — the Iceberg
  * `write.distribution-mode=hash` role), so the engine inserts one
  * Exchange and every partition value's rows land in ONE task → one file
  * per partition directory per job, not one per (task × directory). An
  * unclustered 100-task append to a 5-partition lake would otherwise
  * spray 500 tiny objects per job for compaction to re-pay. Opt out with
  * `.option("distributionMode", "none")` (e.g. a single hot partition at
  * very high volume, where per-task parallelism beats file count);
  * `.option("sortBy", "a,b")` additionally requests a within-task sort —
  * written files then cover tight [lo, hi] ranges on those columns,
  * which is exactly what makes the per-file stats facts selective
  * ([[LakeSinkStats]]). */
private[sources] class LakeSinkWrite(schema: StructType, path: String,
    mode: LakeWriteMode, partCols: Seq[String], queryId: String = "",
    sortCols: Seq[String] = Seq.empty, clusterWrite: Boolean = true,
    bloomCols: Map[String, Int] = Map.empty, mergeSchema: Boolean = false,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty,
    txn: Option[(String, Long)] = None,
    // was sortBy given as an EXPLICIT per-write option (strict contract)
    // or inherited from graft.sortBy (adaptive — stands down where it
    // cannot apply)? newWriteBuilder records the provenance because the
    // merged option map erases it
    explicitSortBy: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {
  // the idempotent handle protects APPENDS (a replayed retire/truncate is
  // a different, non-idempotent animal) — refuse loudly, never drop
  require(txn.isEmpty || mode == LakeAppend,
    s"LakeSink: txnAppId/txnVersion only apply to append writes, not $mode")
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
  // validate at planning so an unsupported type / missing partition
  // column fails the job before any task runs
  LakeSink.serializers(LakeSink.dataSchema(schema, partCols))
  LakeSink.partitionExtractors(schema, partCols)
  sortCols.foreach(c => require(schema.fieldNames.contains(c),
    s"LakeSink: sortBy column $c is not in the write schema"))
  bloomCols.foreach { case (c, m) =>
    require(m > 0 && (m & (m - 1)) == 0,
      s"LakeSink: bloomFilterBits must be a power of 2, got $m")
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"LakeSink: bloomFilterColumns column $c is not in the write schema"))
    require(!partCols.contains(c),
      s"LakeSink: bloom filters apply to DATA columns; $c is a partition " +
        "column (directory pruning already serves it)")
    require(f.dataType match {
      case DoubleType | FloatType => false
      case dt                     => LakeSinkStats.statable(dt)
    }, s"LakeSink: bloom filter on $c of type ${f.dataType} is unsupported " +
      "(exact-match lookups on IEEE doubles are not a thing)")
  }
  ndvCols.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"LakeSink: ndvColumns column $c is not in the write schema"))
    require(!partCols.contains(c),
      s"LakeSink: NDV registers apply to DATA columns; $c is a partition " +
        "column (its distinct values are the directory values)")
    require(LakeSinkStats.statable(f.dataType),
      s"LakeSink: NDV registers on $c of type ${f.dataType} are unsupported")
  }
  histCols.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"LakeSink: histogramColumns column $c is not in the write schema"))
    require(!partCols.contains(c),
      s"LakeSink: histograms apply to DATA columns; $c is a partition " +
        "column (directory values already enumerate it)")
    require(f.dataType match {
      case StringType | BooleanType => false
      case dt                       => LakeSinkStats.statable(dt)
    }, s"LakeSink: histogram on $c of type ${f.dataType} is unsupported " +
      "(histograms need a numeric axis)")
  }

  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty || !clusterWrite) Distributions.unspecified()
    else Distributions.clustered(
      // bucket transforms cluster by their SOURCE column: equal keys land
      // in one task (so each task writes few bucket dirs) without needing
      // the engine to resolve the bucket function for path-based writes
      LakePart.parseAll(partCols).map(p =>
        Expressions.identity(p.name): org.apache.spark.sql.connector.expressions.Expression).toArray)
  // 0 = let the engine pick (AQE may coalesce); correctness only needs
  // co-location of equal partition values, not a task count
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering(): Array[SortOrder] =
    sortCols.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def description(): String =
    s"graft-lake-sink path=$path mode=$mode" +
      (if (partCols.nonEmpty) s" partitionedBy=[${partCols.mkString(",")}]" else "") +
      (if (sortCols.nonEmpty) s" sortBy=[${sortCols.mkString(",")}]" else "")
  override def toBatch: BatchWrite =
    new LakeSinkBatchWrite(schema, path, mode,
      java.util.UUID.randomUUID.toString.take(8), partCols, sortCols, bloomCols,
      mergeSchema, ndvCols, histCols, txn)
  override def toStreaming: StreamingWrite = {
    // a STREAM has its own exactly-once machinery (queryId-scoped epoch
    // markers); silently dropping txn options would be the r12
    // dropped-option anti-pattern — refuse instead
    require(txn.isEmpty,
      "LakeSink: txnAppId/txnVersion are batch-write options — streaming " +
        "writes are exactly-once per query already (use foreachBatch for " +
        "an idempotent batch append keyed on the batch id)")
    // an EXPLICIT sortBy on a stream refuses (epoch commits record no
    // sort claims, so the option's promise cannot hold — the
    // silent-drop anti-pattern); an INHERITED graft.sortBy default stands
    // down like it does on subset appends (r14 option audit)
    require(sortCols.isEmpty || !explicitSortBy,
      "LakeSink: sortBy is a batch-write option — streaming epoch commits " +
        "record no sort claims (write sorted batches via " +
        "foreachBatch, or compact afterwards: compaction preserves claims)")
    // mergeSchema on a stream: a restarted query whose upstream gained a
    // column evolves the manifest at its FIRST committed epoch, through
    // the same reconcileManifest path batch appends use. A query's schema
    // is fixed per run (Spark pins it at start), so "the epoch that first
    // carries the wider schema" is deterministic: the first non-redelivered
    // epoch of the evolved run. Exactly-once holds across a kill INSIDE
    // that epoch because the merge is idempotent (a replay finds zero
    // unknown columns and degrades to the ordinary subset check) and
    // redelivered epochs discard before ever touching the manifest.
    new LakeSinkStreamingWrite(schema, path, partCols, queryId, bloomCols,
      mergeSchema, ndvCols, histCols)
  }
}

private[graft] object LakeSinkFiles {
  def stagingDir(path: String): Path = Paths.get(path, "_staging")
  def commitsDir(path: String): Path = Paths.get(path, "_graft_commits")
  def manifestPath(path: String): Path = Paths.get(path, "_graft_schema.json")
  def versionsDir(path: String): Path = Paths.get(path, "_graft_versions")
  def retiredDir(path: String): Path = Paths.get(path, "_graft_retired")

  /** Manifest policy at commit: a TRUNCATING write owns the table and
    * replaces the manifest; an APPEND must leave an existing manifest
    * untouched — the table's logical schema is the source of truth, and a
    * query-derived schema would silently NARROW it (an INSERT of literals
    * marks every column NOT NULL, and a pre-evolution writer would drop
    * an added column — both would corrupt later reads of older files).
    * Appends against an existing manifest must write a SUBSET of its
    * columns under the same partition layout; anything else fails the
    * commit (Spark then aborts, discarding the staged files). Returns the
    * manifest the commit stands on, for its [[recordVersion]]. */
  def reconcileManifest(path: String, schema: StructType, partCols: Seq[String],
      replace: Boolean, mergeSchema: Boolean): LakeManifest = {
    val old = LakeManifest.read(path)
    (if (replace) None else old) match {
      case None =>
        // a truncating overwrite REPLACES schema/partitioning/evolution
        // state (and clears partColsHistory — every pre-evolution file
        // was just retired), but the table's CHECK constraints are data-
        // quality DDL and must SURVIVE a routine data refresh (the Delta
        // contract; every other manifest writer preserves them too).
        val prior = old.getOrElse(LakeManifest.Empty)
        // …but only if they still RESOLVE against the replacing schema:
        // a path-based overwrite skips the engine's constraint injection,
        // so a schema that drops a constrained column would otherwise
        // leave a manifest CHECK referencing a missing column and poison
        // every later catalog-routed write with an unresolved-column
        // analysis error. Refuse the overwrite loudly instead
        // (case-insensitive, matching Spark's resolution).
        prior.constraints.foreach { case (n, sql) =>
          val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.name
            }
          val missing = refs.filterNot(r =>
            schema.fieldNames.exists(_.equalsIgnoreCase(r)))
          require(missing.isEmpty,
            s"LakeSink: truncating overwrite drops column(s) " +
              s"${missing.mkString(",")} referenced by CHECK constraint $n " +
              "— DROP CONSTRAINT first or keep the column")
        }
        // defaults are PER-COLUMN state: keep those whose column survives
        // the replacing schema (a dropped column's default is
        // meaningless, unlike a CHECK, which references and refuses)
        val m = LakeManifest(schema, partCols, constraints = prior.constraints,
          props = prior.props, defaults = prior.defaultsOf(schema))
        LakeManifest.write(path, m)
        m
      case Some(existing) =>
        require(existing.partCols == partCols,
          s"LakeSink: append partitioning ${partCols.mkString(",")} does not " +
            s"match the table's ${existing.partCols.mkString(",")}")
        val unknown = schema.fieldNames.toSet -- existing.schema.fieldNames.toSet
        if (unknown.nonEmpty && mergeSchema) {
          // the Delta `mergeSchema` contract: a superset append AUTO-adds
          // the new columns (nullable — pre-evolution files null-fill on
          // read) through the SAME evolution state ALTER TABLE ADD
          // COLUMNS maintains; rename-alias / dropped names stay refused
          // (the one ambiguity name-based evolution cannot represent)
          val taken = existing.renames.values.flatten.toSet ++ existing.dropped
          val reused = unknown.intersect(taken)
          require(reused.isEmpty,
            s"LakeSink: mergeSchema cannot reuse names ${reused.mkString(",")} " +
              "(rename alias or dropped) — a table rewrite is required")
          val merged = StructType(existing.schema.fields ++
            schema.fields.filter(f => unknown.contains(f.name))
              .map(_.copy(nullable = true)))
          // validate the evolved schema serializes before committing it
          LakeSink.serializers(LakeSink.dataSchema(merged, partCols))
          val m = existing.copy(schema = merged)
          LakeManifest.write(path, m)
          m
        } else {
          require(unknown.isEmpty,
            s"LakeSink: appended columns ${unknown.mkString(",")} are not in the " +
              "table schema — evolve it first (ALTER TABLE ... ADD COLUMNS) " +
              "or append with .option(\"mergeSchema\", \"true\")")
          existing // preserved
        }
    }
  }

  /** Extract one escaped string field from a flat JSON object written with
    * [[LakeSink.jsonEscape]] — the shared scanner behind the schema
    * manifest and the version records. */
  private[sources] def jsonField(json: String, key: String, where: String): String = {
    val tag = s""""$key":""""
    val start = json.indexOf(tag) + tag.length
    require(start > tag.length - 1, s"LakeSink $where lacks '$key'")
    val b = new StringBuilder
    var i = start // the tag string ends with the value's opening quote
    while (json.charAt(i) != '"') {
      if (json.charAt(i) == '\\') {
        i += 1
        json.charAt(i) match {
          case 'n' => b.append('\n'); case 'r' => b.append('\r')
          case 't' => b.append('\t')
          case 'u' => b.append(Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar); i += 4
          case c   => b.append(c)
        }
      } else b.append(json.charAt(i))
      i += 1
    }
    b.toString
  }

  /** Render a flat JSON object of escaped string fields — the shape of
    * the manifest and of every version record ([[jsonField]] reads it). */
  private[sources] def renderFields(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":"${LakeSink.jsonEscape(v)}"""" }
      .mkString("{", ",", "}")

  /** [[jsonField]] for an optional field: None when the object lacks it. */
  private[sources] def jsonFieldOpt(json: String, key: String, where: String): Option[String] =
    if (json.contains(s""""$key":"""")) Some(jsonField(json, key, where)) else None

  // --- version log (time travel) ---------------------------------------------
  //
  // Every DATA-changing commit (batch job, streaming epoch, ReplaceData,
  // partition DELETE, compaction) appends a snapshot record
  // `_graft_versions/v<n>` — the minimal Iceberg/Delta versioned-manifest
  // contract, and the ONLY store of per-file facts. Its flat JSON fields:
  //   schema, partitionCols   the table AT THAT COMMIT (DDL, comma list)
  //   renames, dropped        schema-evolution state (optional)
  //   deletes                 delete vectors of its files ([[LakeSinkDeletes]])
  //   counts                  `rel:rows` lines (count(*) pushdown)
  //   stats                   `rel`, SOH, blob lines ([[LakeSinkStats]])
  //   sorted                  `rel:col,col` sort claims (sort-free scans)
  //   files                   the full committed RELATIVE file list
  // Live reads read the LATEST record ([[latest]]), time travel an older
  // one ([[snapshot]]) — one code path, so a commit becomes visible at the
  // one atomic move that lands its record. Rewrites RETIRE files (move
  // under `_graft_retired/`, same relative path) instead of deleting, so
  // older snapshots stay readable until VACUUM reclaims them.

  /** Move committed files out of the readable lake but keep their bytes
    * for recorded versions. A retired-name COLLISION (the same relative
    * name retired twice — only reachable if a deterministic name recurs
    * after a truncate, which queryId-scoped streaming names make
    * practically impossible) REFUSES loudly instead of overwriting: the
    * first retired bytes back recorded snapshots, and replacing them
    * would make `VERSION AS OF` silently return the wrong rows.
    * Returns the retired RELATIVE names — the `removes` delta the
    * caller's [[recordVersion]] applies to the manifest chain. */
  def retire(path: String, files: Seq[String]): Seq[String] = {
    val root = Paths.get(path)
    val retired = scala.collection.mutable.ListBuffer.empty[String]
    files.distinct.foreach { f =>
      val p = Paths.get(f)
      if (Files.isRegularFile(p)) {
        val rel = root.relativize(p)
        val target = retiredDir(path).resolve(rel)
        Option(target.getParent).foreach(Files.createDirectories(_))
        if (Files.exists(target))
          throw new IllegalStateException(
            s"LakeSink: retired-name collision for $rel at $path — a different " +
              "file with this name was already retired by an earlier version " +
              "transition; refusing to overwrite recorded history (VERSION AS OF " +
              "reads of older snapshots would silently return the wrong rows)")
        Files.move(p, target)
        retired += rel.toString
      }
    }
    LakeSinkDeletes.update(path, Map.empty, retired.toSeq)
    retired.toSeq
  }

  /** Conflict detection for commits whose retire set was planned EARLIER
    * than the commit itself (every [[commitRewrite]], merge-on-read DML's
    * planned files): a concurrent commit that rewrote any of
    * those files makes this commit's foundation stale — replacing rows
    * that are no longer where the plan saw them would silently duplicate
    * (or lose) data. Called BEFORE any mutation, so the loser aborts
    * loudly with the table untouched; re-planning against the current
    * state then succeeds. This is the optimistic-concurrency validation
    * step of the Delta/Iceberg commit protocol at this lake's file-set
    * granularity. */
  def requireAllLive(path: String, files: Seq[String], who: String): Unit = {
    val missing = files.distinct.filterNot(f => Files.isRegularFile(Paths.get(f)))
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"LakeSink: $who commit conflict at $path — ${missing.size} file(s) " +
          "this commit planned to replace were rewritten by a concurrent " +
          s"commit (first: ${missing.head}); aborting before any mutation — " +
          "re-run to plan against the current table state")
  }

  /** The one commit of every rewrite (ReplaceData, compaction, Z-order):
    * `staged` files replace `originals` (RELATIVE names, planned from a
    * record whose delete vectors `plannedDels` the rewrite's content was
    * filtered with). Conflict checks run BEFORE any mutation: a concurrent
    * commit rewrote an original ([[requireAllLive]]), or a concurrent
    * merge-on-read DELETE added vectors to one without touching it
    * ([[LakeSinkDeletes.requireUnchanged]] — a rewrite from the stale
    * vector set would resurrect the concurrently-deleted rows). The loser
    * discards its staged files and rethrows, the table untouched.
    * Otherwise the staged files promote, the originals RETIRE (recorded
    * versions stay readable until VACUUM) and one version records `facts`
    * for the new files. Returns the recorded version. */
  def commitRewrite(path: String, originals: Seq[String],
      plannedDels: Map[String, Array[Long]], staged: Seq[String],
      facts: LakeFacts, who: String): Long = {
    val root = Paths.get(path)
    val files = originals.map(rel => root.resolve(rel).toString)
    try {
      requireAllLive(path, files, who)
      LakeSinkDeletes.requireUnchanged(path, originals, plannedDels, who)
    } catch { case e: java.util.ConcurrentModificationException =>
      discard(path, staged)
      throw e
    }
    promote(path, staged)
    recordVersion(path, staged, retire(path, files), facts)
  }

  /** A recorded file's bytes: the live tree first, then `_graft_retired/`
    * (a rewrite moved it there — also a commit landing while a reader
    * plans the record before it). A name found in neither was vacuumed:
    * fail loudly rather than read a silently partial snapshot. */
  def resolve(path: String, rel: String, what: String): Path = {
    val live = Paths.get(path).resolve(rel)
    if (Files.isRegularFile(live)) live
    else {
      val r = retiredDir(path).resolve(rel)
      require(Files.isRegularFile(r), s"LakeSink: $what $rel was vacuumed from $path")
      r
    }
  }

  private[graft] def versionName(v: Long): String = f"v$v%09d"

  /** All version-named files, including empty RESERVATIONS mid-commit
    * (the reservation loop must see them to pick a fresh id). */
  private def rawVersions(path: String): Seq[(Long, Path)] = {
    val dir = versionsDir(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    val it = Files.list(dir).iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
        out += ((n.drop(1).toLong, p))
    }
    out.toSeq.sortBy(_._1)
  }

  /** COMMITTED versions only: a zero-length file is a reservation whose
    * commit is in flight (or crashed) — not readable history. */
  def listVersions(path: String): Seq[Long] =
    rawVersions(path).collect { case (v, p) if Files.size(p) > 0 => v }

  /** Reserve the next version id with an atomic `CREATE_NEW` marker —
    * the mutual-exclusion step of the optimistic-concurrency commit
    * protocol: two independent committers racing on one lake table each
    * win a DISTINCT id (the loser's createFile throws and it retries
    * v+1), so no committer can silently overwrite another's version
    * record. The probe-then-ATOMIC_MOVE this replaces was TOCTOU-racy
    * (POSIX rename REPLACES an existing target). */
  private def reserveVersion(path: String): Long = {
    val dir = versionsDir(path)
    Files.createDirectories(dir)
    var v = rawVersions(path).lastOption.map(_._1).getOrElse(0L) + 1
    var reserved = -1L
    while (reserved < 0) {
      try {
        Files.createFile(dir.resolve(versionName(v))) // atomic O_EXCL
        reserved = v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    reserved
  }

  /** Record the NEXT version snapshot (call after promote/retire and
    * manifest reconciliation), passing the commit's own file DELTA and
    * the facts its writers reported for the files it adds ([[LakeFacts]]).
    * Returns the recorded version id.
    *
    * The recorded file list AND its facts are MANIFEST ARITHMETIC, not a
    * directory walk (the Iceberg manifest-list move): our view = the
    * committed predecessor's recorded list − our retires + our adds, and
    * the same for each fact map. That makes the record a true SNAPSHOT
    * even while a peer is mid-promote — a peer's half-promoted files can
    * never leak into our version (the cross-committer isolation gap the
    * tree walk had) — and commit cost is O(record size), not O(walk of a
    * million-file tree).
    *
    * Concurrency contract: the id is RESERVED atomically (see
    * [[reserveVersion]]), so concurrent committers each durably record
    * their own snapshot. Arithmetic needs an intact predecessor chain:
    * if any reservation BETWEEN the latest committed record and our id is
    * still pending (a peer mid-commit), basing on the committed
    * predecessor would drop that peer's already-promoted files from the
    * chain — so we fall back to the tree walk for exactly that record
    * (the pre-r11 superset/subset behavior, never lost bytes); the next
    * uncontended commit re-converges the chain to walk-free arithmetic.
    * The peer's files then carry no facts in our record: readers scan
    * them (never a guess) until ANALYZE backfills them.
    *
    * The record snapshots `manifest` — the one the committing operation
    * just reconciled or wrote — or, when none is given, the live one. */
  def recordVersion(path: String, adds: Seq[String] = Seq.empty,
      removes: Seq[String] = Seq.empty, facts: LakeFacts = LakeFacts(),
      manifest: Option[LakeManifest] = None): Long = {
    val m = manifest.orElse(LakeManifest.read(path)).getOrElse(
      throw new IllegalStateException(
        s"LakeSink: recording a version at $path before any manifest"))
    val v = reserveVersion(path)
    // predecessor chain below OUR id (peers reserving after us get higher
    // ids, so everything relevant is already visible)
    val below = rawVersions(path).filter(_._1 < v)
    val base = below.collect { case (id, p) if Files.size(p) > 0 => id }
      .lastOption.map(snapshot(path, _))
    val pendingAboveBase = below.exists { case (id, p) =>
      Files.size(p) == 0 && base.forall(b => id > b.version.get) }
    val rels: Seq[String] = base match {
      case Some(b) if !pendingAboveBase =>
        ((b.files.toSet -- removes) ++ adds).toSeq.sorted
      case _ =>
        // bootstrap (first record) or a peer mid-commit: walk the tree
        val root = Paths.get(path)
        LakeSinkPartitions.listCommitted(path, m.partCols)
          .map { case (p, _) => root.relativize(p).toString }.sorted
    }
    val relSet = rels.toSet
    // the delete-vector union is snapshotted too, trimmed to this
    // version's files: `VERSION AS OF` applies exactly its commit's vectors
    val deletes = LakeSinkDeletes.read(path).filter { case (r, _) => relSet.contains(r) }
    // schema-evolution state rides into the record: snapshot reads decode
    // old files under the aliases of THEIR commit
    writeRecord(path, v, LakeManifest.layoutFields(m), deletes,
      (base.map(_.facts).getOrElse(LakeFacts()) ++ facts).only(relSet), rels, None)
    v
  }

  /** Write record `v` via temp + atomic move: the one step that makes a
    * commit visible. `mtime` pins the commit instant when an amendment
    * replaces an existing record ([[amendFacts]]). */
  private def writeRecord(path: String, v: Long, head: Seq[(String, String)],
      deletes: Map[String, Array[Long]], facts: LakeFacts, rels: Seq[String],
      mtime: Option[java.nio.file.attribute.FileTime]): Unit = {
    val dir = versionsDir(path)
    val json = renderFields(head ++
      Seq("deletes" -> LakeSinkDeletes.serialize(deletes)) ++ facts.fields ++
      Seq("files" -> rels.mkString("\n")))
    val tmp = dir.resolve(s".v.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    mtime.foreach(Files.setLastModifiedTime(tmp, _))
    // the name is ours to replace: our own empty reservation, or the
    // record an amendment rewrites
    Files.move(tmp, dir.resolve(versionName(v)), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Merge `facts` into the LATEST record IN PLACE, for its own files
    * only — ANALYZE's backfill, which adds no version. The rewrite keeps
    * the record's id and its mtime (the commit instant `timestampAsOf`
    * resolves by) and lands at one atomic move. A commit racing it may
    * base on the pre-amendment record; the backfill is advisory metadata
    * and the next ANALYZE redoes what such a race drops. Returns the
    * amended record's files. */
  def amendFacts(path: String, facts: LakeFacts): Set[String] = {
    val v = listVersions(path).lastOption.getOrElse(return Set.empty)
    val mtime = Files.getLastModifiedTime(versionsDir(path).resolve(versionName(v)))
    val snap = snapshot(path, v)
    val files = snap.files.toSet
    writeRecord(path, v,
      Seq("schema", "partitionCols", "renames", "dropped")
        .flatMap(k => snap.field(k).map(k -> _)),
      snap.deletes, (snap.facts ++ facts).only(files), snap.files, Some(mtime))
    files
  }

  /** The LATEST record — what every live reader plans from: a consistent
    * SNAPSHOT of the last commit (a peer's half-promoted files are
    * invisible until its own record lands), read in O(one record) instead
    * of an O(#files) directory walk. A directory with no recorded version
    * yet (bootstrap) falls back to the walk, with no facts. */
  def latest(path: String): LakeSnapshot =
    listVersions(path).lastOption match {
      case Some(v) => snapshot(path, v)
      case None =>
        val m = LakeManifest.read(path).getOrElse(LakeManifest.Empty)
        val root = Paths.get(path)
        new LakeSnapshot(None, m.schema, m.partCols,
          LakeSinkPartitions.listCommitted(path, m.partCols)
            .map { case (p, _) => root.relativize(p).toString }.sorted,
          "", s"unrecorded table at $path")
    }

  /** The live files with their decoded partition directories. */
  def listLive(path: String, partCols: Seq[String]): Seq[(Path, Seq[(String, String)])] = {
    val root = Paths.get(path)
    latest(path).files.map { rel =>
      val p = root.resolve(rel)
      (p, LakeSinkPartitions.kvsOf(root, p, partCols))
    }
  }

  /** Read one recorded version. */
  def snapshot(path: String, v: Long): LakeSnapshot = {
    val p = versionsDir(path).resolve(versionName(v))
    require(Files.isRegularFile(p),
      s"LakeSink: no recorded version $v at $path " +
        s"(available: ${listVersions(path).mkString(",")})")
    require(Files.size(p) > 0,
      s"LakeSink: version $v at $path is an unfinished reservation " +
        "(commit in flight or crashed) — not readable history")
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val where = s"version record $p"
    new LakeSnapshot(Some(v), StructType.fromDDL(jsonField(json, "schema", where)),
      LakePart.split(jsonField(json, "partitionCols", where)),
      jsonField(json, "files", where).split("\n").map(_.trim).filter(_.nonEmpty).toSeq,
      json, where)
  }

  /** One recorded snapshot's (schema, partition cols, relative files). */
  def readVersion(path: String, v: Long): (StructType, Seq[String], Seq[String]) = {
    val s = snapshot(path, v)
    (s.schema, s.partCols, s.files)
  }

  /** The latest record's sort claims (rel → columns its write ordered by). */
  def readSorted(path: String): Map[String, Seq[String]] = latest(path).sorted

  // --- named refs (tags) over the version log ---------------------------------
  //
  // `_graft_tags.json` maps tag NAMES to version ids — the Iceberg
  // tag/Delta named-snapshot role: `VERSION AS OF 'golden'` resolves by
  // name, and VACUUM treats every tagged version as part of its keep-set
  // (the record AND the retired files it references survive any horizon),
  // so a tag is a durable pin with zero copied bytes. Immutable once
  // created (retagging a name is refused — drop it first): a moving name
  // would silently change what downstream consumers read.

  def tagsPath(path: String): Path = Paths.get(path, "_graft_tags.json")

  def readTags(path: String): Map[String, Long] = {
    val p = tagsPath(path)
    if (!Files.isRegularFile(p)) return Map.empty
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    jsonField(json, "tags", s"tags at $p")
      .split("\u0002").iterator.filter(_.nonEmpty).map { e =>
        val i = e.indexOf('\u0001')
        e.substring(0, i) -> e.substring(i + 1).toLong
      }.toMap
  }

  def writeTags(path: String, tags: Map[String, Long]): Unit = {
    val body = tags.toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n\u0001$v" }.mkString("\u0002")
    val json = s"""{"tags":"${LakeSink.jsonEscape(body)}"}"""
    val tmp = Paths.get(path, s".tags.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, tagsPath(path), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Greatest recorded version whose commit instant is ≤ `micros` (file
    * mtime is the commit instant — same convention as Delta's
    * `timestampAsOf`). */
  def versionAtTimestamp(path: String, micros: Long): Option[Long] =
    listVersions(path).filter { v =>
      Files.getLastModifiedTime(versionsDir(path).resolve(versionName(v)))
        .toInstant.toEpochMilli * 1000L <= micros
    }.lastOption

  def ensureDirs(path: String): Unit = {
    Files.createDirectories(stagingDir(path))
    Files.createDirectories(commitsDir(path))
  }

  /** Move staged → destination under the staged file's FINAL relative
    * path (may carry `k=v/` partition directories, created on demand).
    * REPLACE_EXISTING makes a retried commit converge instead of failing
    * or duplicating; `.distinct` absorbs raced speculative attempts of
    * one (epoch, partition) whose commit messages both name the same
    * deterministic staged file. */
  def promote(path: String, staged: Seq[String]): Unit =
    staged.distinct.foreach { name =>
      val target = Paths.get(path, name)
      Option(target.getParent).foreach(Files.createDirectories(_))
      Files.move(stagingDir(path).resolve(name), target,
        StandardCopyOption.REPLACE_EXISTING)
    }

  def discard(path: String, staged: Seq[String]): Unit =
    staged.distinct.foreach(name => Files.deleteIfExists(stagingDir(path).resolve(name)))

  /** Sweep staging of every artifact carrying this write's tag — job
    * abort may not receive a message for every attempted task. Recursive:
    * partitioned staging nests `k=v/` directories. */
  def sweep(path: String, tag: String): Unit = {
    val dir = stagingDir(path)
    if (Files.isDirectory(dir)) {
      val it = Files.walk(dir).iterator()
      val hits = scala.collection.mutable.ListBuffer.empty[Path]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && p.getFileName.toString.contains(tag)) hits += p
      }
      hits.foreach(Files.deleteIfExists(_))
    }
  }

  /** RETIRE every committed part file under the destination (recursive —
    * partitioned lakes nest), leaving `_staging`/`_graft_commits`/
    * `_graft_versions`/`_graft_retired` alone: a truncating overwrite is a
    * version transition, not history destruction — recorded snapshots of
    * the pre-truncate table stay readable until VACUUM. Deliberately a
    * TREE WALK, not the manifest (the one mutation that should also
    * reclaim crashed commits' orphaned promotes). Returns retired rels. */
  def truncateDest(path: String): Seq[String] =
    retire(path,
      LakeSinkPartitions.listCommitted(path, Seq.empty).map(_._1.toString))
}

/** Per-file facts a version record carries, keyed by RELATIVE file name:
  * row counts, column-stat blobs ([[LakeSinkStats]]) and sort claims.
  * Files are immutable once committed, so a fact never goes stale; a file
  * missing from a map simply has no such fact and readers SCAN it — never
  * a guess. Sort claims are sound by construction: only producers that
  * actually order their output add them (a `sortBy` batch write, and
  * compaction's k-way merge of equally-claimed inputs); streaming epochs,
  * row-level rewrites and Z-order never do, so no invalidation logic
  * exists to forget. */
private[graft] case class LakeFacts(counts: Map[String, Long] = Map.empty,
    stats: Map[String, String] = Map.empty,
    sorted: Map[String, Seq[String]] = Map.empty) {
  /** Right-biased union (`o` wins per file and kind). */
  def ++(o: LakeFacts): LakeFacts =
    LakeFacts(counts ++ o.counts, stats ++ o.stats, sorted ++ o.sorted)
  def only(keep: String => Boolean): LakeFacts =
    LakeFacts(counts.filter(e => keep(e._1)), stats.filter(e => keep(e._1)),
      sorted.filter(e => keep(e._1)))
  /** The record fields (see the version-log notes in [[LakeSinkFiles]]). */
  def fields: Seq[(String, String)] = Seq(
    "counts" -> counts.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString("\n"),
    "stats" -> LakeSinkStats.encodeLines(stats),
    "sorted" -> sorted.toSeq.sortBy(_._1)
      .map { case (k, cols) => s"$k:${cols.mkString(",")}" }.mkString("\n"))
}

private[graft] object LakeFacts {
  /** The facts one commit's writers reported; a `sortBy` write claims
    * every file it wrote (each task's files are subsequences of its
    * sorted stream). */
  def of(commits: Seq[LakeSinkCommit], sortCols: Seq[String] = Seq.empty): LakeFacts =
    LakeFacts(commits.flatMap(_.counted).toMap, commits.flatMap(_.statted).toMap,
      if (sortCols.isEmpty) Map.empty
      else commits.flatMap(_.staged).map(_ -> sortCols).toMap)

  /** `rel:value` lines (rel may itself contain ':'). */
  private[sources] def lines(body: String): Iterator[(String, String)] =
    body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf(':')
      line.substring(0, i) -> line.substring(i + 1)
    }
}

/** One decoded version record ([[LakeSinkFiles.snapshot]] /
  * [[LakeSinkFiles.latest]]) — the unit every reader plans from. `version`
  * is None only for a table with no record yet. Every other field
  * decodes lazily and on its own: most reads need only the files, and
  * the stats blobs (bloom filters included) are by far the largest. */
private[graft] final class LakeSnapshot(val version: Option[Long],
    val schema: StructType, val partCols: Seq[String], val files: Seq[String],
    record: String, where: String) {
  def field(key: String): Option[String] =
    LakeSinkFiles.jsonFieldOpt(record, key, where)
  lazy val deletes: Map[String, Array[Long]] =
    field("deletes").map(LakeSinkDeletes.parse).getOrElse(Map.empty)
  lazy val counts: Map[String, Long] = field("counts").toSeq
    .flatMap(LakeFacts.lines).map { case (k, n) => k -> n.toLong }.toMap
  lazy val stats: Map[String, String] =
    field("stats").map(LakeSinkStats.decodeLines).getOrElse(Map.empty)
  lazy val sorted: Map[String, Seq[String]] = field("sorted").toSeq
    .flatMap(LakeFacts.lines).map { case (k, cs) => k -> cs.split(",").toSeq.filter(_.nonEmpty) }
    .toMap
  def facts: LakeFacts = LakeFacts(counts, stats, sorted)
  /** The manifest's (renames, dropped) evolution state AT this commit. */
  lazy val (renames, dropped) = LakeManifest.renamesOf(record, where)
  /** (physical → logical aliases, ignored physical names) AT this commit. */
  def evolution: (Map[String, String], Set[String]) =
    LakeManifest.evolution(renames, dropped)
  /** The same record restricted to a subset of its files (CDF legs). */
  def narrow(rels: Seq[String]): LakeSnapshot =
    new LakeSnapshot(version, schema, partCols, rels, record, where)
}

private[graft] case class LakeSinkCommit(staged: Seq[String],
    counts: Seq[Long] = Seq.empty, stats: Seq[String] = Seq.empty)
    extends WriterCommitMessage {
  /** (rel name → row count) pairs when the writer counted (always, for
    * this sink's own writers; possibly absent for hand-built messages). */
  def counted: Seq[(String, Long)] = staged.zip(counts)
  /** (rel name → encoded column min/max blob) pairs — the record's
    * stats facts (see [[LakeSinkStats]]). */
  def statted: Seq[(String, String)] = staged.zip(stats)
}
private[sources] case object LakeSinkNoData extends WriterCommitMessage

private[graft] class LakeSinkBatchWrite(schema: StructType, path: String,
    mode: LakeWriteMode, writeId: String,
    partCols: Seq[String] = Seq.empty,
    sortCols: Seq[String] = Seq.empty,
    bloomCols: Map[String, Int] = Map.empty,
    mergeSchema: Boolean = false,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty,
    txn: Option[(String, Long)] = None) extends BatchWrite {
  LakeSinkFiles.ensureDirs(path)
  // boolean-compat constructor (tests / streaming paths built pre-modes)
  def this(schema: StructType, path: String, truncateFirst: Boolean,
      writeId: String, partCols: Seq[String]) =
    this(schema, path, if (truncateFirst) LakeTruncate else LakeAppend,
      writeId, partCols)
  // an idempotent write's TAG is deterministic from (appId, version): a
  // crash-replayed attempt stages and promotes the SAME final names
  // (promote REPLACE_EXISTINGs → convergence, the streaming-epoch trick),
  // so no window between promote and the marker can duplicate rows
  private val tag = txn match {
    case Some((a, v)) => s"txn$a-$v"
    case None         => s"b$writeId"
  }
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeSinkWriterFactory(schema, path, tag, partCols, bloomCols,
      ndvCols, histCols)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case c: LakeSinkCommit => c }.toSeq
    val staged = committed.flatMap(_.staged)
    // idempotent-writer replay check (Delta's txnAppId/txnVersion): a
    // marker for this (appId, version) pair means a PREVIOUS attempt
    // fully committed — discard the re-run, record nothing (the no-op is
    // observable: no new version in .history)
    val txnMarker = txn.map { case (a, v) =>
      LakeSinkFiles.commitsDir(path).resolve(s"txn-$a-$v") }
    if (txnMarker.exists(Files.exists(_))) {
      LakeSinkFiles.discard(path, staged)
      // trailing '-' so sweeping (app, 1) can never match (app, 10)'s
      // staged files (the streaming tag's terminator trick)
      LakeSinkFiles.sweep(path, s"$tag-")
      return
    }
    val removed: Seq[String] = mode match {
      case LakeAppend   => Seq.empty
      case LakeTruncate => LakeSinkFiles.truncateDest(path)
      case LakeOverwriteWhere(filters) =>
        // retire exactly the files of the matching partitions — whole
        // untouched partitions' files survive bit-identically
        LakeSinkFiles.retire(path,
          LakeSinkFiles.listLive(path, partCols)
            .filter { case (_, kvs) => LakeSinkPartitions.keeps(schema, kvs, filters) }
            .map(_._1.toString))
      case LakeDynamicOverwrite =>
        // replace exactly the partition DIRECTORIES the incoming data
        // touched (staged rel names carry the k=v dirs)
        val touched = staged.map(rel =>
          Option(Paths.get(rel).getParent).map(_.toString).getOrElse("")).toSet
        val root = Paths.get(path)
        LakeSinkFiles.retire(path,
          LakeSinkFiles.listLive(path, partCols)
            .filter { case (p, _) =>
              val rel = root.relativize(p)
              touched.contains(
                Option(rel.getParent).map(_.toString).getOrElse(""))
            }.map(_._1.toString))
    }
    // crash-before-marker convergence under a DIFFERENT partitioning:
    // an interrupted attempt of this (appId, version) may have promoted
    // files whose partition indices this replay does not reuse (AQE can
    // re-plan the write's task count) — same-name files converge via
    // promote's REPLACE_EXISTING, but index-orphans would DUPLICATE
    // rows; retire them before recording (review r14)
    val txnRetired: Seq[String] =
      if (txn.isEmpty) Seq.empty
      else {
        val stagedSet = staged.toSet
        val root = Paths.get(path)
        val leftovers = LakeSinkFiles.listLive(path, partCols)
          .map { case (p, _) => root.relativize(p).toString }
          .filter(rel => Paths.get(rel).getFileName.toString
            .startsWith(s"part-$tag-"))
          .filterNot(stagedSet.contains)
          .map(rel => root.resolve(rel).toString)
        if (leftovers.isEmpty) Seq.empty
        else LakeSinkFiles.retire(path, leftovers)
      }
    LakeSinkFiles.promote(path, staged)
    val m = LakeSinkFiles.reconcileManifest(path, schema, partCols,
      replace = mode == LakeTruncate, mergeSchema = mergeSchema)
    LakeSinkFiles.recordVersion(path, staged, removed ++ txnRetired,
      LakeFacts.of(committed, sortCols), Some(m))
    // the txn marker is written LAST, via temp + atomic move: a crash
    // anywhere earlier leaves no marker, and the replay's deterministic
    // names re-converge the partial state before committing it
    txnMarker.foreach { m =>
      val tmp = LakeSinkFiles.commitsDir(path)
        .resolve(s".${m.getFileName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      Files.write(tmp, staged.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, m, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    LakeSinkFiles.discard(path,
      messages.collect { case c: LakeSinkCommit => c.staged }.toSeq.flatten)
    LakeSinkFiles.sweep(path, s"$tag-")
  }
}

/** Streaming write, exactly-once per QUERY: commit markers and
  * deterministic file names carry a queryId tag — the id is stable across
  * restarts of one query (it lives in the checkpoint), so redelivered
  * epochs still discard, while a genuinely NEW query (fresh checkpoint,
  * epochs restarting at 0) gets its own marker space instead of silently
  * discarding its first epochs against a previous query's markers (the
  * epoch-only keying this replaces LOST that data). */
private[graft] class LakeSinkStreamingWrite(schema: StructType, path: String,
    partCols: Seq[String] = Seq.empty, queryId: String = "",
    bloomCols: Map[String, Int] = Map.empty,
    mergeSchema: Boolean = false,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty) extends StreamingWrite {
  LakeSinkFiles.ensureDirs(path)
  // 8 hex chars of the query UUID: collision-safe per table in practice,
  // short enough to keep file names readable; empty tag = legacy layout
  private val qtag =
    if (queryId == null || queryId.isEmpty) ""
    else s"q${queryId.filter(_ != '-').take(8)}-"
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LakeSinkStreamingWriterFactory(schema, path, partCols, qtag, bloomCols,
      ndvCols, histCols)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val marker = LakeSinkFiles.commitsDir(path).resolve(s"$qtag$epochId")
    val committed = messages.collect { case c: LakeSinkCommit => c }.toSeq
    val staged = committed.flatMap(_.staged)
    if (Files.exists(marker)) {
      // redelivered epoch (restart between sink commit and checkpoint
      // write): the lake already holds these rows — discard the re-run
      LakeSinkFiles.discard(path, staged)
    } else {
      LakeSinkFiles.promote(path, staged)
      val m = LakeSinkFiles.reconcileManifest(path, schema, partCols, replace = false,
        mergeSchema = mergeSchema)
      // an epoch that staged nothing (a no-data batch) changes no file:
      // its record would copy the previous one, so only the marker lands
      if (staged.nonEmpty)
        LakeSinkFiles.recordVersion(path, staged, Seq.empty, LakeFacts.of(committed),
          Some(m))
      // marker via temp + atomic move: a crash can't leave a marker for
      // an epoch whose files never promoted
      val tmp = LakeSinkFiles.commitsDir(path).resolve(s".$qtag$epochId.tmp")
      Files.write(tmp, staged.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    LakeSinkFiles.discard(path,
      messages.collect { case c: LakeSinkCommit => c.staged }.toSeq.flatten)
    LakeSinkFiles.sweep(path, s"${qtag}e$epochId-")
  }
}

private[sources] class LakeSinkWriterFactory(schema: StructType, path: String,
    tag: String, partCols: Seq[String],
    bloomCols: Map[String, Int] = Map.empty,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeSinkDataWriter(schema, path, partCols,
      fileName = s"part-$tag-$partitionId.json.gz",
      attemptTag = s"$tag-$partitionId-a$taskId",
      bloomCols = bloomCols, ndvCols = ndvCols, histCols = histCols)
}

private[graft] class LakeSinkStreamingWriterFactory(schema: StructType,
    path: String, partCols: Seq[String] = Seq.empty, qtag: String = "",
    bloomCols: Map[String, Int] = Map.empty,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty)
    extends StreamingDataWriterFactory {
  // deterministic per (query, epoch, partition): re-execution of a crashed
  // epoch re-creates the SAME final names, so a mid-commit retry replaces
  // instead of duplicating — while distinct queries can never collide
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeSinkDataWriter(schema, path, partCols,
      fileName = s"part-${qtag}e$epochId-$partitionId.json.gz",
      attemptTag = s"${qtag}e$epochId-$partitionId-a$taskId",
      bloomCols = bloomCols, ndvCols = ndvCols, histCols = histCols)
}

/** Task-side writer: gzip JSON-lines into `_staging/<rel>.<attempt>
  * .inprogress`, finalized to `_staging/<rel>` on task commit, deleted on
  * abort; `<rel>` carries the Hive-style `k=v/` partition directories
  * when `partCols` is non-empty (one open stream per partition value the
  * task sees — dynamic partitioning; partition values are written to the
  * directory name and EXCLUDED from the rows, Spark partition discovery
  * restores them on read). The attempt-unique in-progress name keeps
  * speculative duplicates of the same partition from clobbering each
  * other; the commit coordinator guarantees only one reaches commit(). */
private[sources] class LakeSinkDataWriter(schema: StructType, path: String,
    partCols: Seq[String], fileName: String, attemptTag: String,
    bloomCols: Map[String, Int] = Map.empty,
    ndvCols: Set[String] = Set.empty,
    histCols: Set[String] = Set.empty)
    extends DataWriter[InternalRow] {
  private val dataSchema = LakeSink.dataSchema(schema, partCols)
  private val dataIdx = schema.fields.zipWithIndex
    .filterNot(fi => partCols.contains(fi._1.name)).map(_._2)
  private val fieldNames = dataSchema.fieldNames.map(LakeSink.jsonEscape)
  private val sers = LakeSink.serializers(dataSchema)
  private val partVals = LakeSink.partitionExtractors(schema, partCols)
  // one open stream per partition-value directory this task has seen
  private val streams =
    scala.collection.mutable.LinkedHashMap.empty[String, OutputStreamWriter]
  // rows written per staged file — the record's counts facts
  // (count(*) answers from metadata, see LakeSinkAggScan)
  private val rowCounts =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]
  // per-file column [lo, hi] trackers — the record's stats facts
  // (file skipping + min/max pushdown, see LakeSinkStats)
  private val statTrackers = scala.collection.mutable.LinkedHashMap
    .empty[String, Array[Option[LakeSinkStats.ColTracker]]]

  private val dirKeys = LakePart.parseAll(partCols).map(_.dirKey)

  private def relOf(row: InternalRow): String =
    if (partCols.isEmpty) ""
    else partCols.indices.map(i => s"${dirKeys(i)}=${partVals(i)(row)}")
      .mkString("", "/", "/")

  private def inProgressOf(rel: String) =
    LakeSinkFiles.stagingDir(path).resolve(s"$rel$fileName.$attemptTag.inprogress")

  /** Row-level ReplaceData hands carried-over rows as (metadata, row) —
    * the original-file metadata enables copy optimizations this sink does
    * not need; the row is written like any other. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val rel = relOf(row)
    val out = streams.getOrElseUpdate(rel, {
      val p = inProgressOf(rel)
      Option(p.getParent).foreach(Files.createDirectories(_))
      new OutputStreamWriter(new GZIPOutputStream(new BufferedOutputStream(
        new FileOutputStream(p.toFile))), StandardCharsets.UTF_8)
    })
    val b = new StringBuilder(64)
    b.append('{')
    var i = 0
    while (i < sers.length) {
      if (i > 0) b.append(',')
      b.append('"').append(fieldNames(i)).append("\":")
      if (row.isNullAt(dataIdx(i))) b.append("null")
      else b.append(sers(i)(row, dataIdx(i)))
      i += 1
    }
    b.append("}\n")
    out.write(b.toString)
    rowCounts.updateWith(rel) { c => Some(c.getOrElse(0L) + 1L) }
    val ts = statTrackers.getOrElseUpdate(rel,
      LakeSinkStats.trackers(dataSchema, bloomCols, ndvCols, histCols))
    i = 0
    while (i < ts.length) {
      if (ts(i).isDefined) {
        if (row.isNullAt(dataIdx(i))) ts(i).get.nullSeen()
        else ts(i).get.update(row, dataIdx(i))
      }
      i += 1
    }
  }

  override def commit(): WriterCommitMessage =
    if (streams.isEmpty) LakeSinkNoData
    else {
      val rels = streams.keys.toSeq
      streams.values.foreach(_.close())
      streams.clear()
      // atomic renames: each staged name appears complete or not at all
      rels.foreach { rel =>
        Files.move(inProgressOf(rel),
          LakeSinkFiles.stagingDir(path).resolve(s"$rel$fileName"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      LakeSinkCommit(rels.map(rel => s"$rel$fileName"),
        rels.map(rel => rowCounts.getOrElse(rel, 0L)),
        rels.map(rel => LakeSinkStats.blobOf(
          statTrackers.getOrElse(rel, Array.empty))))
    }

  override def abort(): Unit = {
    val rels = streams.keys.toSeq
    streams.values.foreach(_.close())
    streams.clear()
    rels.foreach(rel => Files.deleteIfExists(inProgressOf(rel)))
  }

  override def close(): Unit = {
    val rels = streams.keys.toSeq
    streams.values.foreach(_.close())
    streams.clear()
    rels.foreach(rel => Files.deleteIfExists(inProgressOf(rel)))
  }
}
