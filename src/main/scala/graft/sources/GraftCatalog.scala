package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` plugin — name-based resolution over the engine's
  * two storage layers, the reference's Glue-catalog-over-the-S3-lake role
  * (`docs/phase3-kinesis-s3.md`: Athena queries the lake by table NAME;
  * no per-query view prep). Register and query:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.ns.sf", "/root/testdata/sf0.01")
  * spark.conf.set("spark.sql.catalog.graft.lake", "/data/lake")
  * spark.sql("SELECT count(*) FROM graft.sf.lineitem")
  * spark.sql("CREATE TABLE graft.lake.alerts AS SELECT ...")   // CTAS
  * df.writeTo("graft.lake.alerts").append()
  * spark.table("graft.lake.alerts")                            // read back
  * }}}
  *
  * Two namespace families:
  *
  *   - `ns.<name> = <dir>`: a read-only parquet namespace — every
  *     `<table>.parquet` in the directory resolves as a table, served by
  *     Spark's own parquet connector (`ParquetTable` — the engine-grade
  *     scan: vectorized reader, filter/column pushdown, exact file-size
  *     statistics), exactly what the per-query `spark.read.parquet` path
  *     uses, now reached by NAME.
  *   - `lake = <root>`: managed [[LakeSink]] tables — every subdirectory
  *     holding a `_graft_schema.json` manifest is a table, readable
  *     (BATCH_READ via [[LakeSinkScanBuilder]]) and writable (BATCH_WRITE
  *     with dynamic Hive partitioning); `createTable`/CTAS provisions the
  *     directory + manifest, `dropTable` removes it.
  *
  * Namespace directories are re-resolved from the ACTIVE session's conf on
  * every call (falling back to the `initialize` snapshot): Spark caches
  * catalog INSTANCES per name for the session's lifetime, and the harness
  * points the same catalog at different scale-factor dirs — a stale
  * snapshot here would silently read the wrong scale.
  *
  * Scale story: the catalog itself is a thin name→Table resolver (one
  * directory listing per call, no data motion on the driver); all scan
  * planning/pushdown lives in the resolved tables' own connectors.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var initOpts: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOpts = options.asScala.toMap
  }
  override def name(): String = catalogName

  // --- namespace resolution (conf-first, see class doc) ----------------------

  private def confAll: Map[String, String] =
    SparkSession.active.conf.getAll

  private def opt(suffix: String): Option[String] =
    confAll.get(s"spark.sql.catalog.$catalogName.$suffix")
      .orElse(initOpts.get(suffix))

  private def parquetNsDir(ns: String): Option[String] = opt(s"ns.$ns")

  private def lakeRoot: Option[String] = opt("lake")

  /** The live lake root, for the view-resolution machinery
    * (graft.plans.GraftViewRules) — re-resolved per call like every
    * namespace dir (see class doc). */
  private[graft] def lakeRootOpt: Option[String] = lakeRoot

  private def parquetNamespaces: Seq[String] = {
    val prefixLive = s"spark.sql.catalog.$catalogName.ns."
    (confAll.keys.filter(_.startsWith(prefixLive)).map(_.drop(prefixLive.length)) ++
      initOpts.keys.filter(_.startsWith("ns.")).map(_.drop(3))).toSeq.distinct.sorted
  }

  private def ns1(namespace: Array[String]): String = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    namespace(0)
  }

  // --- SupportsNamespaces -----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    (parquetNamespaces.map(Array(_)) ++ lakeRoot.map(_ => Array("lake"))).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      (parquetNsDir(namespace(0)).isDefined ||
        (namespace(0) == "lake" && lakeRoot.isDefined))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val ns = ns1(namespace)
    val dir =
      if (ns == "lake") lakeRoot
      else parquetNsDir(ns)
    dir match {
      case Some(d) => Map(SupportsNamespaces.PROP_LOCATION -> d).asJava
      case None    => throw new NoSuchNamespaceException(namespace)
    }
  }

  // namespaces are conf-defined, not DDL-managed
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces are defined by spark.sql.catalog.$catalogName.* conf keys")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces are defined by conf keys")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces are defined by conf keys")

  // --- TableCatalog -----------------------------------------------------------

  private def lakeTableDir(name: String): Option[Path] =
    lakeRoot.map(r => Paths.get(r, name))

  /** Crash recovery for REPLACE TABLE AS SELECT's two-rename commit: a
    * crash between `dest → .replaced-<name>-<uuid>` and `tmp → dest`
    * leaves NO table at dest with the old bytes stranded under
    * `_staged/`. On a loadTable miss, roll the stranded old table back
    * (atomic rename) so the replace degrades to a no-op instead of a
    * table loss. Trash dirs are name-tagged so recovery never resurrects
    * a DIFFERENT table's replaced bytes; if the swap DID land (dest
    * exists) the trash is reclaimed by the successful committer, so a
    * surviving `.replaced-*` with dest missing is proof of the crash. */
  private def recoverReplaced(name: String, dest: Path): Unit = {
    val staged = lakeRoot.map(r => Paths.get(r, "_staged")).filter(Files.isDirectory(_))
    staged.foreach { sd =>
      // exact-name match: the tag is `.replaced-<12 hex chars>-<name>`
      // (uuid first, NAME LAST) so a table named "a" can never match
      // table "a-b"'s trash by prefix — hex carries no '-', making the
      // parse unambiguous for any identifier
      def trashNameOf(p: Path): Option[String] = {
        val n = p.getFileName.toString
        if (!n.startsWith(".replaced-") || n.length < 23) None
        else {
          val uuid = n.substring(10, 22)
          if (uuid.forall(c => c.isDigit || ('a' to 'f').contains(c)) &&
              n.charAt(22) == '-')
            Some(n.substring(23))
          else None
        }
      }
      // AGE GATE (the reservation-sweep argument): 'trash present + dest
      // missing' is ALSO the transient state between a healthy commit's
      // two renames — recovering inside that window would make the
      // committer's second rename fail. The window is milliseconds of
      // driver-local work; a minute of age is proof of a crash.
      val staleBefore = java.time.Instant.now().minusSeconds(60)
      val it = Files.list(sd)
      val candidates =
        try it.iterator().asScala.filter { p =>
          trashNameOf(p).contains(name) &&
            Files.isRegularFile(LakeSinkFiles.manifestPath(p.toString)) &&
            Files.getLastModifiedTime(p).toInstant.isBefore(staleBefore)
        }.toList
        finally it.close()
      // newest by mtime — a second crashed replace of the same table would
      // leave two; the newest is the most recent committed state
      candidates.sortBy(p => Files.getLastModifiedTime(p).toMillis)
        .lastOption.foreach { trash =>
          if (!Files.isRegularFile(LakeSinkFiles.manifestPath(dest.toString)))
            Files.move(trash, dest)
        }
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = ns1(namespace)
    if (ns == "lake" && lakeRoot.isDefined) {
      val root = Paths.get(lakeRoot.get)
      if (!Files.isDirectory(root)) return Array.empty
      Files.list(root).iterator().asScala
        .filter(p => Files.isRegularFile(LakeSinkFiles.manifestPath(p.toString)))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    } else parquetNsDir(ns) match {
      case Some(dir) =>
        val d = Paths.get(dir)
        if (!Files.isDirectory(d)) return Array.empty
        Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => Identifier.of(namespace,
            p.getFileName.toString.stripSuffix(".parquet")))
          .toArray
      case None => throw new NoSuchNamespaceException(namespace)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: NoSuchTableException => false }

  override def loadTable(ident: Identifier): Table = {
    val ns = ident.namespace()
    // Iceberg-style metadata tables: graft.lake.<table>.{files|history|partitions}
    // arrive as namespace ["lake", <table>] with the metadata kind as name
    if (ns.length == 2 && ns(0) == "lake" && lakeRoot.isDefined &&
        LakeMetadataTables.Kinds.contains(ident.name())) {
      val dir = lakeTableDir(ns(1)).get
      if (LakeManifest.read(dir.toString).isEmpty)
        throw new NoSuchTableException(ident)
      return new LakeMetaTable(ident.name(), dir.toString,
        s"$catalogName.lake.${ns(1)}.${ident.name()}")
    }
    if (ns.length != 1) throw new NoSuchTableException(ident)
    if (ns(0) == "lake" && lakeRoot.isDefined) {
      val dir = lakeTableDir(ident.name()).get
      LakeManifest.read(dir.toString).orElse {
        recoverReplaced(ident.name(), dir)
        LakeManifest.read(dir.toString)
      } match {
        case Some(m) =>
          new LakeSinkTable(m.schema, dir.toString, m.partCols,
            tableName = Some(s"$catalogName.lake.${ident.name()}"))
        case None => throw new NoSuchTableException(ident)
      }
    } else parquetNsDir(ns(0)) match {
      case Some(dir) =>
        val file = s"$dir/${ident.name()}.parquet"
        if (!Files.isRegularFile(Paths.get(file)))
          throw new NoSuchTableException(ident)
        ParquetTable(s"$catalogName.${ns(0)}.${ident.name()}",
          SparkSession.active,
          new CaseInsensitiveStringMap(Map("path" -> file).asJava),
          Seq(file), None, classOf[ParquetFileFormat])
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v>` — resolve a lake table AT a recorded commit
    * (see [[LakeSinkFiles.recordVersion]]): that commit's schema,
    * partitioning, and exact file list, served read-only by
    * [[LakeSinkSnapshotTable]]. Version ids are the `vNNN` records'
    * numbers (`1` and `'v1'` both accepted). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = lakeSnapshotDir(ident)
    // a non-numeric ref resolves as a TAG name (`VERSION AS OF 'golden'`)
    val v =
      try LakeSink.resolveVersionRef(dir, version)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"$catalogName: bad version '$version' for ${ident.name()} " +
            s"(available: ${LakeSinkFiles.listVersions(dir).mkString(",")}; " +
            s"${e.getMessage})") }
    new LakeSinkSnapshotTable(LakeSinkFiles.snapshot(dir, v), dir,
      s"$catalogName.lake.${ident.name()}")
  }

  /** `TIMESTAMP AS OF <ts>` — greatest version committed at or before the
    * instant (micros since epoch, Spark's convention). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = lakeSnapshotDir(ident)
    val v = LakeSinkFiles.versionAtTimestamp(dir, timestamp).getOrElse(
      throw new IllegalArgumentException(
        s"$catalogName: no version of ${ident.name()} at or before " +
          s"timestamp $timestamp (earliest: " +
          s"${LakeSinkFiles.listVersions(dir).headOption.getOrElse("none")})"))
    new LakeSinkSnapshotTable(LakeSinkFiles.snapshot(dir, v), dir,
      s"$catalogName.lake.${ident.name()}")
  }

  private def lakeSnapshotDir(ident: Identifier): String = {
    val ns = ident.namespace()
    if (ns.length != 1 || ns(0) != "lake" || lakeRoot.isEmpty)
      throw new UnsupportedOperationException(
        s"$catalogName: time travel is only supported for 'lake' tables " +
          s"(got ${ident.namespace().mkString(".")}.${ident.name()})")
    val dir = lakeTableDir(ident.name()).get
    if (!Files.isRegularFile(LakeSinkFiles.manifestPath(dir.toString)))
      throw new NoSuchTableException(ident)
    dir.toString
  }

  // ALTER TABLE ADD CONSTRAINT / DEFAULT column values route to this
  // catalog only when it declares them (the engine pre-refuses otherwise)
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createLake(ident, schema, partitions, Seq.empty, userProps(properties))

  /** `CREATE TABLE … (…, CONSTRAINT c CHECK (…))` — the TableInfo overload
    * carries the parsed constraint definitions (and column DEFAULTs). */
  override def createTable(ident: Identifier, info: TableInfo): Table =
    createLake(ident,
      StructType(info.columns().map(c =>
        org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable()))),
      info.partitions(), checkConstraints(info.constraints()),
      userProps(info.properties()),
      info.columns().toSeq.flatMap(c => Option(c.defaultValue())
        .map(dv => defaultTriple(c.name(), c.dataType(), dv))))

  /** One stored DEFAULT: (name, declared SQL, writer-token of the folded
    * value, cast to the COLUMN's type). The analyzer has already
    * constant-folded the default into a connector literal — a
    * non-foldable default never reaches the catalog. The token encode
    * refuses unsupported column types at DDL time. */
  private def defaultTriple(name: String,
      dt: org.apache.spark.sql.types.DataType,
      dv: org.apache.spark.sql.connector.catalog.ColumnDefaultValue)
      : (String, String, String) = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val lit = dv.getValue
    require(lit != null,
      s"$catalogName: DEFAULT for column $name has no folded literal value")
    val internal =
      if (lit.dataType() == dt) lit.value()
      else Cast(Literal(lit.value(), lit.dataType()), dt,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .eval(null)
    val sql = Option(dv.getSql).filter(_.nonEmpty)
      .getOrElse(Literal(internal, dt).sql)
    require(!sql.exists(_ < ' '),
      s"$catalogName: control characters are not allowed in DEFAULT " +
        s"expressions (column $name)")
    (name, sql, LakeSink.defaultToken(
      org.apache.spark.sql.types.StructField(name, dt), internal))
  }

  /** Engine-injected property keys (provider/owner/location/…) are not
    * USER table properties — storing them would make SHOW TBLPROPERTIES
    * echo machinery; everything else round-trips. */
  // 'comment' is NOT here: COMMENT 'x' / COMMENT ON TABLE is explicit
  // user DDL and stores as an ordinary property (review r14 — filtering
  // it silently dropped the comment with no error)
  private val EngineProps =
    Set("provider", "owner", "location", "external", "is_managed_location")
  private def userProps(m: util.Map[String, String]): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    m.forEach((k, v) =>
      if (!EngineProps.contains(k) && !k.startsWith("option.")) out += (k -> v))
    out.toSeq.sortBy(_._1)
  }

  /** `graft.*` properties configure writes (see
    * [[LakeSinkTable.newWriteBuilder]]) — validate the column-list ones
    * at DDL time so a typo fails HERE, not on every later write (the
    * truncate-preserved-constraint lesson). Returns the props with
    * column lists CANONICALIZED to the schema's case: validation is
    * case-insensitive (Spark resolution), but the write-time
    * intersection with the write schema is exact-match — storing
    * 'USER_ID' against schema 'user_id' would pass CREATE yet silently
    * never track a register (ADVICE r13). */
  private def validateGraftProps(schema: StructType, partCols: Seq[String],
      props: Seq[(String, String)]): Seq[(String, String)] = {
    // only IDENTITY partition columns are refused (constant within their
    // directory); hidden transforms' SOURCE columns (ts under days(ts))
    // are data columns the per-write options accept — the t58
    // clustered+sorted pattern (review r13)
    val partNames = LakePart.parseAll(partCols)
      .filter(_.isIdentity).map(_.name).toSet
    props.map {
      case (k, v) if k.exists(_ < ' ') || v.exists(_ < ' ') =>
        // the manifest pair codec joins on u0001/u0002 — a control
        // character in a key/value would corrupt LakeManifest.read's
        // split with no DDL-time signal (ADVICE r13); refuse all of
        // them (none has a legitimate use in a table property)
        throw new UnsupportedOperationException(
          s"$catalogName: control characters are not allowed in table " +
            s"property keys or values (key $k)")
      case (k @ ("graft.bloomFilterColumns" | "graft.ndvColumns" | "graft.histogramColumns" | "graft.sortBy"), v) =>
        val canon = v.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
          val hit = schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"$catalogName: $k references column $c, not in the table schema"))
          require(!partNames.exists(_.equalsIgnoreCase(c)),
            s"$catalogName: $k cannot reference partition column $c")
          hit
        }
        k -> canon.mkString(",")
      case p @ ("graft.bloomFilterBits", v) =>
        val m = v.trim.toInt
        require(m > 0 && (m & (m - 1)) == 0,
          s"$catalogName: graft.bloomFilterBits must be a power of 2, got $v")
        p
      case p @ ("graft.distributionMode", v) =>
        require(v == "cluster" || v == "none",
          s"$catalogName: graft.distributionMode must be cluster|none, got $v")
        p
      case (k, _) if k.startsWith("graft.") =>
        throw new UnsupportedOperationException(
          s"$catalogName: unknown graft.* table property $k")
      case p => p // arbitrary user properties round-trip unvalidated
    }
  }

  /** Validate + project the supported constraint set: named, ENFORCED
    * CHECK only — informational PK/FK/UNIQUE would silently not hold. */
  private def checkConstraints(
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Seq[(String, String)] =
    cs.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          s"$catalogName: NOT ENFORCED constraints are not stored — " +
            "an unenforced CHECK silently admits violating rows")
        val sql = Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
          throw new UnsupportedOperationException(
            s"$catalogName: CHECK constraint ${c.name()} has no SQL text"))
        c.name() -> sql
      case other => throw new UnsupportedOperationException(
        s"$catalogName: only CHECK constraints are supported " +
          s"(informational $other would not be enforced)")
    }

  private def createLake(ident: Identifier, schema: StructType,
      partitions: Array[Transform], constraints: Seq[(String, String)],
      tableProps: Seq[(String, String)] = Seq.empty,
      defaults: Seq[(String, String, String)] = Seq.empty): Table = {
    val ns = ident.namespace()
    if (ns.length != 1 || ns(0) != "lake")
      throw new UnsupportedOperationException(
        s"$catalogName: only the 'lake' namespace supports CREATE TABLE " +
          "(parquet namespaces are read-only testdata)")
    if (lakeRoot.isEmpty) throw new NoSuchNamespaceException(ns)
    val dir = lakeTableDir(ident.name()).get
    if (Files.isRegularFile(LakeSinkFiles.manifestPath(dir.toString)))
      throw new TableAlreadyExistsException(ident)
    if (GraftViews.exists(lakeRoot.get, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val partCols = parsePartitions(partitions)
    // a partition column's value comes from the directory name, never a
    // default; refuse at DDL instead of silently never applying
    defaults.foreach { case (n, _, _) =>
      require(!LakePart.parseAll(partCols).exists(_.name.equalsIgnoreCase(n)),
        s"$catalogName: partition column $n cannot have a DEFAULT value")
    }
    initLakeDir(dir, schema, partCols, constraints, tableProps, defaults)
    new LakeSinkTable(schema, dir.toString, partCols,
      tableName = Some(s"$catalogName.lake.${ident.name()}"))
  }

  private def parsePartitions(partitions: Array[Transform]): Seq[String] =
    partitions.map { t =>
      t.name match {
        case "identity" if t.references().length == 1 =>
          t.references()(0).fieldNames.mkString(".")
        case "bucket" if t.references().length == 1 =>
          // `PARTITIONED BY (bucket(N, col))` — the hidden bucket
          // transform (see [[LakePart]]): N arrives as the literal arg
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value() match {
                case i: java.lang.Number => i.intValue
                case other => throw new UnsupportedOperationException(
                  s"$catalogName: bad bucket count $other in $t")
              }
          }.getOrElse(throw new UnsupportedOperationException(
            s"$catalogName: bucket transform without a count: $t"))
          s"bucket($n,${t.references()(0).fieldNames.mkString(".")})"
        case k if LakePart.TemporalKinds.contains(k) && t.references().length == 1 =>
          // `PARTITIONED BY (days(ts))` — the hidden temporal transforms
          s"$k(${t.references()(0).fieldNames.mkString(".")})"
        case _ => throw new UnsupportedOperationException(
          s"$catalogName: only identity, bucket(n, col), and " +
            s"days/hours/months/years(col) partitioning are supported, got $t")
      }
    }.toSeq

  /** Validate + write the manifest of a fresh lake table directory. */
  private def initLakeDir(dir: Path, schema: StructType,
      partCols: Seq[String],
      constraints: Seq[(String, String)] = Seq.empty,
      tableProps: Seq[(String, String)] = Seq.empty,
      defaults: Seq[(String, String, String)] = Seq.empty): Unit = {
    // validate the partition fields exist + types supported, before any I/O
    LakeSink.dataSchema(schema, partCols)
    LakeSink.partitionExtractors(schema, partCols)
    val canonProps = validateGraftProps(schema, partCols, tableProps)
    Files.createDirectories(dir)
    LakeManifest.write(dir.toString, LakeManifest(schema, partCols,
      constraints = constraints, props = canonProps, defaults = defaults))
  }

  // --- StagingTableCatalog (atomic CTAS / REPLACE TABLE AS SELECT) ------------
  //
  // Without staging, Spark's RTAS is DROP-then-CREATE: a mid-write failure
  // has already destroyed the old table. Staged writes land in a hidden
  // `_staged/<uuid>` directory UNDER the lake root (same filesystem, never
  // listed — table listing keys on per-dir manifests); commit is two
  // renames (old table aside, staged dir in) and abort deletes only the
  // staged bytes — the original table survives any failure before commit
  // (GraftCatalogSpec plants a mid-write failure and reads the old rows
  // back). The replaced table's bytes are deleted only after the swap.
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = false, orCreate = true)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, info, replace = true, orCreate = false)
  }
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  private def stage(ident: Identifier, info: TableInfo,
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val ns = ident.namespace()
    if (ns.length != 1 || ns(0) != "lake")
      throw new UnsupportedOperationException(
        s"$catalogName: only the 'lake' namespace supports CREATE TABLE " +
          "(parquet namespaces are read-only testdata)")
    if (lakeRoot.isEmpty) throw new NoSuchNamespaceException(ns)
    val dest = lakeTableDir(ident.name()).get
    if (!replace && Files.isRegularFile(LakeSinkFiles.manifestPath(dest.toString)))
      throw new TableAlreadyExistsException(ident)
    if (GraftViews.exists(lakeRoot.get, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val schema = StructType(info.columns().map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    val partCols = parsePartitions(info.partitions())
    val tmp = Paths.get(lakeRoot.get, "_staged",
      java.util.UUID.randomUUID.toString.take(12))
    initLakeDir(tmp, schema, partCols, checkConstraints(info.constraints()),
      userProps(info.properties()))
    new GraftStagedTable(
      new LakeSinkTable(schema, tmp.toString, partCols,
        tableName = Some(s"$catalogName.lake.${ident.name()}")),
      tmp, dest, ident, replace, orCreate)
  }

  /** Schema evolution for lake tables — all metadata-only, zero file
    * rewrites (the Iceberg/Delta contract, field ids approximated by
    * name history — see [[LakeManifest]]):
    *
    *  - ADD COLUMNS: appended, nullable; the JSON-lines reader null-fills
    *    fields absent from pre-evolution files.
    *  - RENAME COLUMN: the old name joins the column's alias list —
    *    readers resolve it in old files; new writes use the new name;
    *    pre-rename SNAPSHOTS keep showing the old name (version records
    *    carry their own evolution state).
    *  - DROP COLUMN: the name (and its aliases) joins the ignored set —
    *    old files stay readable, the dropped bytes invisible.
    *
    *  - ALTER COLUMN TYPE (widening only): int→bigint / float→double —
    *    the JSON wire format is typeless decimal text, so old files (and
    *    their stats-ledger bounds) re-parse into the wider type exactly;
    *    pre-widening snapshots keep the narrow type.
    *
    * Refused: evolving a partition field (directory layout is physical),
    * reusing a dropped/aliased name (the one ambiguity name-based
    * evolution cannot represent — requires a rewrite), any non-widening
    * type change. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ns = ident.namespace()
    if (ns.length != 1 || ns(0) != "lake" || lakeRoot.isEmpty)
      throw new UnsupportedOperationException(
        s"$catalogName: ALTER TABLE is only supported for 'lake' tables")
    val dir = lakeTableDir(ident.name()).get
    val live = LakeManifest.read(dir.toString)
      .getOrElse(throw new NoSuchTableException(ident))
    val (schema, partCols) = (live.schema, live.partCols)
    val partNames = LakePart.parseAll(partCols).map(_.name).toSet
    def takenNames(sch: StructType, renames: Map[String, Seq[String]],
        dropped: Seq[String]): Set[String] =
      sch.fieldNames.toSet ++ renames.values.flatten ++ dropped
    // the columns a CHECK predicate references (unresolved names) — a
    // rename/drop of one would silently break the stored SQL text
    def consCols(sql: String): Set[String] =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }.toSet
    def requireUnconstrained(cons: Seq[(String, String)], colName: String,
        what: String): Unit =
      // CASE-INSENSITIVE: Spark resolves `CHECK (Temperature > 0)`
      // against column `temperature`, so the guard must too
      cons.find { case (_, sql) =>
        consCols(sql).exists(_.equalsIgnoreCase(colName))
      }.foreach {
        case (n, _) => throw new UnsupportedOperationException(
          s"$catalogName: cannot $what column $colName — CHECK constraint " +
            s"$n references it (DROP CONSTRAINT first)")
      }
    // SET/UNSET TBLPROPERTIES fold separately (they touch no schema state)
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    val (newSchema, newRenames, newDropped, newCons) =
      schemaChanges.foldLeft((schema, live.renames, live.dropped, live.constraints)) {
        case ((sch, ren, drp, cons), ac: TableChange.AddConstraint) =>
          ac.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
              require(c.name() != null && c.name().nonEmpty,
                s"$catalogName: constraints must be named")
              require(!cons.exists(_._1.equalsIgnoreCase(c.name())),
                s"$catalogName: constraint ${c.name()} already exists")
              require(c.enforced(),
                s"$catalogName: NOT ENFORCED constraints are not stored — " +
                  "an unenforced CHECK silently admits violating rows")
              val sql = Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
                throw new UnsupportedOperationException(
                  s"$catalogName: CHECK constraint ${c.name()} has no SQL text"))
              // EXISTING rows must satisfy the new constraint (the Delta
              // ADD CONSTRAINT contract): scan for violations — predicate
              // FALSE violates, TRUE or NULL passes (SQL CHECK semantics)
              import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
              val live = SparkSession.active.read
                .format(classOf[LakeSink].getName).load(dir.toString)
              require(live.filter(not(coalesce(expr(sql), lit(true)))).isEmpty,
                s"$catalogName: existing rows of ${ident.name()} violate " +
                  s"CHECK ${c.name()} ($sql) — constraint not added")
              (sch, ren, drp, cons :+ (c.name() -> sql))
            case other => throw new UnsupportedOperationException(
              s"$catalogName: only CHECK constraints are supported " +
                s"(informational $other would not be enforced)")
          }
        case ((sch, ren, drp, cons), dc: TableChange.DropConstraint) =>
          // same case-insensitive identity ADD uses for duplicates
          require(cons.exists(_._1.equalsIgnoreCase(dc.name())),
            s"$catalogName: no constraint ${dc.name()} on ${ident.name()}")
          (sch, ren, drp, cons.filterNot(_._1.equalsIgnoreCase(dc.name())))
        case ((sch, ren, drp, cons), add: TableChange.AddColumn) =>
          require(add.fieldNames().length == 1,
            s"$catalogName: nested column adds are not supported")
          val name = add.fieldNames()(0)
          require(!takenNames(sch, ren, drp).contains(name),
            s"$catalogName: column name $name is in use (live, a rename " +
              "alias, or dropped) — name reuse needs a table rewrite")
          // DEFAULT (if any) is folded into the defaults state below —
          // the schema fold only records the shape
          (StructType(sch.fields :+
            org.apache.spark.sql.types.StructField(name, add.dataType(), nullable = true)),
            ren, drp, cons)
        case ((sch, ren, drp, cons), rn: TableChange.RenameColumn) =>
          require(rn.fieldNames().length == 1,
            s"$catalogName: nested column renames are not supported")
          val from = rn.fieldNames()(0)
          val to = rn.newName()
          require(sch.fieldNames.contains(from),
            s"$catalogName: no column $from to rename")
          require(!partNames.contains(from),
            s"$catalogName: cannot rename partition field $from " +
              "(directory layout is physical)")
          require(!takenNames(sch, ren, drp).contains(to),
            s"$catalogName: column name $to is in use (live, a rename " +
              "alias, or dropped) — name reuse needs a table rewrite")
          requireUnconstrained(cons, from, "rename")
          (StructType(sch.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f)),
            (ren - from) + (to -> (from +: ren.getOrElse(from, Seq.empty))),
            drp, cons)
        case ((sch, ren, drp, cons), del: TableChange.DeleteColumn) =>
          require(del.fieldNames().length == 1,
            s"$catalogName: nested column drops are not supported")
          val name = del.fieldNames()(0)
          require(sch.fieldNames.contains(name),
            s"$catalogName: no column $name to drop")
          require(!partNames.contains(name),
            s"$catalogName: cannot drop partition field $name")
          val rest = StructType(sch.fields.filterNot(_.name == name))
          require(rest.fields.nonEmpty,
            s"$catalogName: cannot drop the last column")
          requireUnconstrained(cons, name, "drop")
          (rest, ren - name,
            drp ++ (name +: ren.getOrElse(name, Seq.empty)), cons)
        case ((sch, ren, drp, cons), up: TableChange.UpdateColumnType) =>
          // TYPE WIDENING (r11, the Iceberg promotion set): int→bigint and
          // float→double are METADATA-SAFE on a JSON-lines lake — the
          // wire format is typeless decimal text, so old files re-parse
          // into the wider type exactly (and the stats ledger's [lo, hi]
          // text decodes under the same rule, keeping skipping/min-max
          // sound). Anything else (narrowing, string↔numeric, …) would
          // change bytes' meaning → refused, needs a rewrite.
          require(up.fieldNames().length == 1,
            s"$catalogName: nested column type changes are not supported")
          val name = up.fieldNames()(0)
          require(sch.fieldNames.contains(name),
            s"$catalogName: no column $name to retype")
          require(!partNames.contains(name),
            s"$catalogName: cannot retype partition field $name " +
              "(directory encoding is physical)")
          val from = sch(name).dataType
          val to = up.newDataType()
          import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
          val widening = (from, to) match {
            case (IntegerType, LongType)  => true
            case (FloatType, DoubleType)  => true
            case _                        => false
          }
          require(widening,
            s"$catalogName: only widening int→bigint / float→double is " +
              s"metadata-safe, got $from → $to (a rewrite is required)")
          (StructType(sch.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f)),
            ren, drp, cons)
        case (st, _: TableChange.UpdateColumnDefaultValue) =>
          st // shape unchanged; the defaults fold below refuses it by name
        case (_, other) => throw new UnsupportedOperationException(
          s"$catalogName: only ADD COLUMNS / RENAME COLUMN / DROP COLUMN / " +
            s"widening ALTER COLUMN TYPE are supported, got $other")
      }
    // column DEFAULTs evolve alongside the schema: ADD COLUMN … DEFAULT
    // records one, RENAME renames its key, DROP drops it. ALTER COLUMN
    // SET DEFAULT is REFUSED: a later current-default would fork from
    // the exists-default old files read, and this engine keeps the two
    // identical by construction (immutable per column — which is also
    // what makes live defaults historically exact for snapshots).
    val newDefaults = schemaChanges.foldLeft(live.defaults) {
      case (ds, add: TableChange.AddColumn) if add.defaultValue() != null =>
        ds :+ defaultTriple(add.fieldNames()(0), add.dataType(), add.defaultValue())
      case (ds, ren: TableChange.RenameColumn) =>
        val from = ren.fieldNames()(0)
        ds.map(d => if (d._1 == from) (ren.newName(), d._2, d._3) else d)
      case (ds, del: TableChange.DeleteColumn) =>
        ds.filterNot(_._1 == del.fieldNames()(0))
      case (_, up: TableChange.UpdateColumnDefaultValue) =>
        throw new UnsupportedOperationException(
          s"$catalogName: ALTER COLUMN ${up.fieldNames().mkString(".")} SET " +
            "DEFAULT is not supported — defaults are immutable per column " +
            "(current ≡ exists by construction); drop and re-add the column")
      case (ds, _) => ds
    }
    val newProps = propChanges.foldLeft(live.props) {
      case (ps, sp: TableChange.SetProperty)
          if !EngineProps.contains(sp.property) &&
            !sp.property.startsWith("option.") =>
        ps.filterNot(_._1 == sp.property) :+ (sp.property -> sp.value)
      case (_, sp: TableChange.SetProperty) =>
        // at ALTER these keys are EXPLICIT user DDL — refuse loudly
        // instead of the silent drop (review r14; at CREATE the engine
        // injects them spuriously, so userProps filters there)
        throw new UnsupportedOperationException(
          s"$catalogName: table property '${sp.property}' is engine-" +
            "reserved and cannot be set")
      case (ps, rp: TableChange.RemoveProperty) =>
        ps.filterNot(_._1 == rp.property)
      case (ps, _) => ps
    }
    // graft.* column-list properties must still resolve after a
    // RENAME/DROP (and new SETs validate here too — the constraints
    // precedent: a dangling reference would fail every later write);
    // column lists are canonicalized to the NEW schema's case
    val canonProps = validateGraftProps(newSchema, partCols, newProps)
    // unsupported data types must fail the DDL, not the next write
    LakeSink.serializers(LakeSink.dataSchema(newSchema, partCols))
    val m = live.copy(schema = newSchema, renames = newRenames,
      dropped = newDropped, constraints = newCons, props = canonProps,
      defaults = newDefaults)
    LakeManifest.write(dir.toString, m)
    // a schema change is a version transition: snapshots at or before it
    // keep the pre-evolution schema + aliases
    LakeSinkFiles.recordVersion(dir.toString, manifest = Some(m))
    new LakeSinkTable(newSchema, dir.toString, partCols,
      tableName = Some(s"$catalogName.lake.${ident.name()}"))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val ns = ident.namespace()
    if (ns.length != 1 || ns(0) != "lake" || lakeRoot.isEmpty) return false
    val dir = lakeTableDir(ident.name()).get
    if (!Files.isRegularFile(LakeSinkFiles.manifestPath(dir.toString))) return false
    val it = Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).iterator()
    while (it.hasNext) Files.deleteIfExists(it.next())
    true
  }

  // --- FunctionCatalog ----------------------------------------------------------

  /** The engine's portable functions, SQL-addressable as
    * `graft.fns.<name>(…)` — each the EXACT twin of an existing in-repo
    * primitive, so results stay bit-identical whichever path a query
    * takes: `h60` ≡ `DedupLsh.h60`/`StreamOps.h60Scala` (the oracle-
    * portable 60-bit hash), `sqdist` ≡ the `graft_sqdist` Catalyst
    * kernel's null/length algebra. Both carry the `invoke` magic method,
    * so Catalyst calls them WITHOUT boxing an InternalRow per row (the
    * codegen-friendly path the DSv2 function API exists for). */
  private val catalogFunctions: Map[String, functions.UnboundFunction] = Map(
    "h60" -> GraftH60Function, "sqdist" -> GraftSqDistFunction,
    "dsum" -> GraftDsumFunction)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("fns")))
      catalogFunctions.keys.toSeq.sorted
        .map(n => Identifier.of(namespace, n)).toArray
    else if (namespaceExists(namespace) || namespace.isEmpty) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  // --- ViewCatalog (stored SQL views over lake tables) -----------------------
  //
  // Spark 4.1 ships the ViewCatalog API with ZERO engine consumers
  // (verified against the jars: no analyzer rule or exec node references
  // it), so the catalog implements the NATIVE interface and the engine
  // wiring lives in GraftViewExtensions: a parser hook routes
  // CREATE/DROP/SHOW/ALTER VIEW DDL to these methods, and an analyzer
  // rule substitutes stored view text at resolution time (see
  // org.apache.spark.sql.graft.GraftViewRules). Views share the lake
  // namespace's NAME SPACE with tables — a name is a table or a view,
  // never both (createLake/stage/renameTable refuse collisions).

  private def viewsRoot: String = lakeRoot.getOrElse(
    throw new UnsupportedOperationException(
      s"$catalogName: views need a lake root (spark.sql.catalog.$catalogName.lake)"))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (ns.sameElements(Array("lake")) && lakeRoot.isDefined)
      GraftViews.list(viewsRoot).map(n => Identifier.of(ns, n)).toArray
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().sameElements(Array("lake")) && lakeRoot.isDefined &&
      GraftViews.exists(viewsRoot, ident.name())

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    new GraftStoredView(GraftViews.read(viewsRoot, ident.name()).get)
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View =
    storeView(info, replace = false, orCreate = false)

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View =
    storeView(info, replace = true, orCreate = orCreate)

  private def storeView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      replace: Boolean, orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val name = ident.name()
    if (!ident.namespace().sameElements(Array("lake")) || lakeRoot.isEmpty)
      throw new NoSuchNamespaceException(ident.namespace())
    val root = viewsRoot
    require(GraftViews.validName(name),
      s"$catalogName: invalid view name '$name' (plain names only)")
    // views and tables share one name space — a stored view must never
    // shadow a table (resolution would become load-order roulette)
    if (Files.isRegularFile(LakeSinkFiles.manifestPath(lakeTableDir(name).get.toString)))
      throw new TableAlreadyExistsException(ident)
    val already = GraftViews.exists(root, name)
    if (!replace && already)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    if (replace && !orCreate && !already)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val comment = Option(info.properties().get(
      org.apache.spark.sql.connector.catalog.ViewCatalog.PROP_COMMENT))
    val props = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      info.properties().forEach((k, v) =>
        if (!org.apache.spark.sql.connector.catalog.ViewCatalog.RESERVED_PROPERTIES.contains(k))
          out += (k -> v))
      out.toSeq.sortBy(_._1)
    }
    props.foreach { case (k, v) =>
      require(!k.exists(_ < ' ') && !v.exists(_ < ' '),
        s"$catalogName: control characters are not allowed in view " +
          s"property keys or values (key $k)")
    }
    val aliases = Option(info.columnAliases()).map(_.toSeq).getOrElse(Seq.empty)
    val schema = Option(info.schema()).getOrElse(
      new StructType())
    require(aliases.isEmpty || schema.isEmpty || aliases.length == schema.fields.length,
      s"$catalogName: view $name declares ${aliases.length} column aliases " +
        s"but its query produces ${schema.fields.length} columns")
    val refs = viewRefs(info.sql())
    // a cycle can only enter through REPLACE (a plain CREATE's name does
    // not exist yet, so nothing stored can reference it)
    if (replace && already && GraftViews.wouldCycle(root, name,
        refs.filter(GraftViews.exists(root, _))))
      throw new IllegalStateException(
        s"$catalogName: CREATE OR REPLACE VIEW $name would create a " +
          "reference cycle through its stored dependencies")
    GraftViews.write(root, GraftViews.ViewDef(name, info.sql(), aliases,
      schema.toDDL, refs,
      Option(info.currentCatalog()).getOrElse(catalogName), comment, props,
      colComments = Option(info.columnComments()).map(_.toSeq.map(c =>
        Option(c).getOrElse(""))).getOrElse(Seq.empty)))
    loadView(ident)
  }

  /** Same-lake-root table/view NAMES a view text references (CTE names
    * excluded) — the dependency edges DROP refusal and REPLACE cycle
    * detection walk. Parsed with the active session's parser; name parts
    * normalize through the live CatalogManager, so `v`, `lake.v`, and
    * `graft.lake.v` all record as `v` when they resolve into THIS
    * catalog's lake root. */
  private def viewRefs(sql: String): Seq[String] = {
    val session = SparkSession.active
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val cte = scala.collection.mutable.Set.empty[String]
    val rels = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    parsed.foreachWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach(r => cte += r._1.toLowerCase(java.util.Locale.ROOT))
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        rels += r.multipartIdentifier
      case _ => ()
    }
    val cm = session.sessionState.analyzer.catalogManager
    def isSelf(c: org.apache.spark.sql.connector.catalog.CatalogPlugin): Boolean =
      c match {
        case g: GraftCatalog => g.lakeRoot.isDefined && g.lakeRoot == lakeRoot
        case _ => false
      }
    rels.toSeq
      .filterNot(p => p.length == 1 && cte.contains(p.head.toLowerCase(java.util.Locale.ROOT)))
      .flatMap {
        case Seq(n) if isSelf(cm.currentCatalog) &&
          cm.currentNamespace.sameElements(Array("lake")) => Some(n)
        case Seq(ns, n) if ns.equalsIgnoreCase("lake") &&
          isSelf(cm.currentCatalog) => Some(n)
        case Seq(cat, ns, n) if ns.equalsIgnoreCase("lake") &&
          scala.util.Try(cm.catalog(cat)).toOption.exists(isSelf) => Some(n)
        case _ => None
      }.distinct
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    import org.apache.spark.sql.connector.catalog.{ViewCatalog => VC, ViewChange => VCh}
    val vd = changes.foldLeft(GraftViews.read(viewsRoot, ident.name()).get) {
      case (vd, sp: VCh.SetProperty) =>
        require(!sp.property.exists(_ < ' ') && !sp.value.exists(_ < ' '),
          s"$catalogName: control characters are not allowed in view " +
            s"property keys or values (key ${sp.property})")
        if (sp.property == VC.PROP_COMMENT) vd.copy(comment = Some(sp.value))
        else vd.copy(props =
          vd.props.filterNot(_._1 == sp.property) :+ (sp.property -> sp.value))
      case (vd, rp: VCh.RemoveProperty) =>
        if (rp.property == VC.PROP_COMMENT) vd.copy(comment = None)
        else vd.copy(props = vd.props.filterNot(_._1 == rp.property))
      case (_, other) => throw new UnsupportedOperationException(
        s"$catalogName: unsupported view change $other")
    }
    GraftViews.write(viewsRoot, vd)
    new GraftStoredView(vd)
  }

  override def dropView(ident: Identifier): Boolean = {
    if (!viewExists(ident)) return false
    val deps = GraftViews.referencing(viewsRoot, ident.name(),
      except = Some(ident.name()))
    if (deps.nonEmpty) throw new IllegalStateException(
      s"$catalogName: cannot drop view ${ident.name()} — still referenced " +
        s"by view(s) ${deps.mkString(", ")}")
    GraftViews.delete(viewsRoot, ident.name())
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    // the TO identifier arrives unresolved exactly like RENAME TABLE's
    val rawNs = newIdent.namespace()
    val newNs =
      if (rawNs.isEmpty) oldIdent.namespace()
      else if (rawNs.headOption.contains(catalogName)) rawNs.drop(1)
      else rawNs
    require(newNs.sameElements(Array("lake")),
      s"$catalogName: views can only be renamed within the 'lake' namespace")
    val newName = newIdent.name()
    require(GraftViews.validName(newName),
      s"$catalogName: invalid view name '$newName' (plain names only)")
    val target = Identifier.of(Array("lake"), newName)
    if (viewExists(target))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(target)
    if (tableExists(target)) throw new TableAlreadyExistsException(target)
    val deps = GraftViews.referencing(viewsRoot, oldIdent.name(),
      except = Some(oldIdent.name()))
    require(deps.isEmpty,
      s"$catalogName: cannot rename view ${oldIdent.name()} — still " +
        s"referenced by view(s) ${deps.mkString(", ")} (their stored text " +
        "would dangle)")
    val vd = GraftViews.read(viewsRoot, oldIdent.name()).get
    // a rename can CLOSE a cycle no create saw: some stored view may
    // already reference the NEW name (recorded when a table of that name
    // existed) — landing this view there would make substitution unfold
    // forever (review r14)
    require(!GraftViews.wouldCycle(viewsRoot, newName,
      vd.refs.filter(GraftViews.exists(viewsRoot, _))),
      s"$catalogName: renaming view ${oldIdent.name()} to $newName would " +
        "create a reference cycle through its stored dependencies")
    GraftViews.write(viewsRoot, vd.copy(name = newName))
    GraftViews.delete(viewsRoot, oldIdent.name())
  }

  // --- ProcedureCatalog (CALL graft.system.<proc>) ---------------------------

  /** SQL-callable lake maintenance (the Iceberg `CALL cat.system.…`
    * contract through Spark 4.1's native ProcedureCatalog):
    * compact / vacuum / zorder / clone / restore / evolve_partition_spec,
    * each returning its result counts as a one-row relation. See
    * [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"$catalogName: procedures live in the 'system' namespace " +
        s"(CALL $catalogName.system.${ident.name()}(…))")
    val root = lakeRoot.getOrElse(throw new UnsupportedOperationException(
      s"$catalogName: procedures need a lake root " +
        s"(spark.sql.catalog.$catalogName.lake)"))
    GraftProcedures.load(ident.name(), root, catalogName)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) && lakeRoot.isDefined)
      GraftProcedures.Names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.namespace().sameElements(Array("fns")))
      catalogFunctions.getOrElse(ident.name(),
        throw new NoSuchFunctionException(ident))
    // the engine resolves a table's PARTITION TRANSFORM functions against
    // its catalog under the EMPTY namespace (V2ExpressionUtils) — this is
    // what lets it reason about bucket(n, col) compatibility for
    // storage-partitioned joins
    else if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else if (ident.namespace().isEmpty &&
        LakePart.TemporalKinds.contains(ident.name()))
      new GraftTemporalFunction(ident.name())
    else throw new NoSuchFunctionException(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // Spark hands the TO identifier UNRESOLVED: empty namespace (default
    // into the source's) or still carrying the catalog name as its first
    // part (`RENAME TO graft.lake.x` arrives as ns=[graft,lake]) — strip it
    val rawNs = newIdent.namespace()
    val newNs =
      if (rawNs.isEmpty) oldIdent.namespace()
      else if (rawNs.headOption.contains(catalogName)) rawNs.drop(1)
      else rawNs
    if (!(oldIdent.namespace().sameElements(Array("lake")) &&
        newNs.sameElements(Array("lake"))))
      throw new UnsupportedOperationException(
        s"$catalogName: RENAME is only supported within the 'lake' namespace " +
          s"(got ${oldIdent.namespace().mkString(".")} -> ${newNs.mkString(".")})")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    val target = Identifier.of(newNs, newIdent.name())
    if (tableExists(target)) throw new TableAlreadyExistsException(target)
    if (GraftViews.exists(lakeRoot.get, newIdent.name()))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(target)
    Files.move(lakeTableDir(oldIdent.name()).get, lakeTableDir(newIdent.name()).get)
  }
}

/** A lake table being written ATOMICALLY (CTAS/RTAS through
  * [[GraftCatalog.stageCreate]]/`stageReplace`): the inner
  * [[LakeSinkTable]] lives in a hidden `_staged/<uuid>` dir and receives
  * the full query output through the normal write path; `commit` swaps
  * directories (old table aside, staged in — each an atomic rename),
  * `abort` deletes only the staged bytes. A failure at ANY point before
  * commit leaves the original table untouched — the atomicity RTAS's
  * default drop-then-create cannot give. */
private[sources] class GraftStagedTable(inner: LakeSinkTable,
    tmp: Path, dest: Path, ident: Identifier, replace: Boolean,
    orCreate: Boolean) extends StagedTable with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }

  override def commitStagedChanges(): Unit = {
    val trash: Option[Path] =
      if (Files.isRegularFile(LakeSinkFiles.manifestPath(dest.toString))) {
        if (!replace) {
          // a concurrent CTAS won the name — the loser must not clobber it
          deleteTree(tmp)
          throw new TableAlreadyExistsException(ident)
        }
        // name-tagged so GraftCatalog.recoverReplaced can match a crashed
        // swap's stranded old table back to its identifier — uuid FIRST
        // (12 hex chars, never '-'), name LAST, so the parse is exact for
        // names that themselves contain '-'
        val t = tmp.getParent.resolve(
          s".replaced-${java.util.UUID.randomUUID.toString.filter(_ != '-').take(12)}-${ident.name()}")
        Files.move(dest, t) // old table aside (atomic)
        // rename preserves the directory's OWN mtime, so the trash of a
        // table that sat idle >60s before this REPLACE would look "stale"
        // the instant it is created — stamp the SWAP time so
        // recoverReplaced's age gate measures time-since-swap, not
        // time-since-last-write (a loadTable racing this two-rename
        // window must NOT roll the old table back under us)
        Files.setLastModifiedTime(t,
          java.nio.file.attribute.FileTime.from(java.time.Instant.now()))
        Some(t)
      } else None
    Files.move(tmp, dest) // staged table in (atomic)
    trash.foreach(deleteTree) // reclaim only after the swap landed
  }

  override def abortStagedChanges(): Unit = deleteTree(tmp)
}

/** `graft.fns.h60(string) → bigint` — the oracle-portable 60-bit hash
  * (top 60 bits of md5-utf8; ≡ `DedupLsh.h60`'s Column form, whose
  * DuckDB twin is `('0x' || substring(md5(x),1,15))::BIGINT`, and
  * `StreamOps.h60Scala`'s executor form — GraftCatalogSpec pins all
  * three bit-equal). */
private[sources] object GraftH60Function
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "h60"
  override def description(): String =
    "h60(string) -> bigint: portable 60-bit md5 hash (oracle-portable)"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType == org.apache.spark.sql.types.StringType,
      s"h60 expects one STRING argument, got ${inputType.toDDL}")
    new GraftH60Bound
  }
}

private[sources] class GraftH60Bound
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
  import org.apache.spark.sql.types._
  override def name(): String = "h60"
  override def canonicalName(): String = "graft.fns.h60"
  override def inputTypes(): Array[DataType] = Array(StringType)
  override def resultType(): DataType = LongType
  override def isResultNullable: Boolean = false
  /** magic method — Catalyst binds this statically (no per-row boxing) */
  def invoke(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Long =
    invoke(input.getUTF8String(0))
}

/** `graft.fns.dsum(double) → double` — the DSv2 AGGREGATE function tier
  * (`connector.catalog.functions.AggregateFunction`, the V2Aggregator
  * path with partial update + merge): an order-independent exact sum of
  * doubles, semantically `Num.dsum` = CAST(SUM(CAST(x AS
  * DECIMAL(38,10))) AS DOUBLE). Each input quantizes through
  * `BigDecimal.valueOf` (the SHORTEST decimal repr — exactly what
  * Spark's double→decimal cast applies, hence what every oracle-green
  * `dsum` query already proved portable) rounded to 10 dp HALF_UP;
  * decimal addition is exact, so update/merge order cannot change the
  * result — the property that makes the aggregate safe under Spark's
  * partial/final split at any parallelism.
  *
  * 100 TB story: the engine runs partial `update` map-side and `merge`
  * at the exchange like any built-in sum — state is ONE BigDecimal. */
private[sources] object GraftDsumFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "dsum"
  override def description(): String =
    "dsum(double) -> double: order-independent exact decimal(38,10) sum"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType == DoubleType,
      s"dsum expects one DOUBLE argument, got ${inputType.toDDL}")
    new GraftDsumBound
  }
}

private[sources] class GraftDsumBound
    extends org.apache.spark.sql.connector.catalog.functions.AggregateFunction[
      java.math.BigDecimal, java.lang.Double] {
  import org.apache.spark.sql.types._
  override def name(): String = "dsum"
  override def canonicalName(): String = "graft.fns.dsum"
  override def inputTypes(): Array[DataType] = Array(DoubleType)
  override def resultType(): DataType = DoubleType
  override def newAggregationState(): java.math.BigDecimal =
    java.math.BigDecimal.ZERO
  override def update(state: java.math.BigDecimal,
      input: org.apache.spark.sql.catalyst.InternalRow): java.math.BigDecimal =
    if (input.isNullAt(0)) state
    else {
      val d = input.getDouble(0)
      // mirror Spark's double→decimal cast: NaN/Infinity cast to NULL and
      // a null is skipped by SUM — BigDecimal.valueOf would throw instead.
      // Known divergence (documented): this state is an unbounded
      // BigDecimal, so a sum that would overflow DECIMAL(38,10) returns a
      // finite value here where the cast form returns NULL; unreachable
      // for any realistic double input (≥ 1e28 magnitude sums).
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) state
      else state.add(java.math.BigDecimal.valueOf(d)
        .setScale(10, java.math.RoundingMode.HALF_UP))
    }
  override def merge(left: java.math.BigDecimal,
      right: java.math.BigDecimal): java.math.BigDecimal = left.add(right)
  override def produceResult(state: java.math.BigDecimal): java.lang.Double =
    state.doubleValue()
}

/** `graft.fns.sqdist(array<double>, array<double>) → double` — squared
  * euclidean distance with EXACTLY the `graft_sqdist` Catalyst kernel's
  * null/length algebra (min-length fold, null elements skipped), so a
  * query can switch between the expression kernel and the catalog
  * function without a value-level diff (spec-pinned). */
private[sources] object GraftSqDistFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "sqdist"
  override def description(): String =
    "sqdist(array<double>, array<double>) -> double: squared L2 distance"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields.forall(f => f.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }),
      s"sqdist expects two ARRAY<DOUBLE> arguments, got ${inputType.toDDL}")
    new GraftSqDistBound
  }
}

private[sources] class GraftSqDistBound
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Double] {
  import org.apache.spark.sql.types._
  override def name(): String = "sqdist"
  override def canonicalName(): String = "graft.fns.sqdist"
  override def inputTypes(): Array[DataType] =
    Array(ArrayType(DoubleType), ArrayType(DoubleType))
  override def resultType(): DataType = DoubleType
  /** magic method — Catalyst binds this statically (no per-row boxing) */
  def invoke(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = a.getDouble(i) - b.getDouble(i)
        s += d * d
      }
      i += 1
    }
    s
  }
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Double =
    invoke(input.getArray(0), input.getArray(1))
}
