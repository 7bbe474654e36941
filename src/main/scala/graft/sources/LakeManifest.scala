package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types.StructType

/** A lake table's manifest `_graft_schema.json`: its LOGICAL schema (data
  * + partition columns, original order — DDL round-trips all supported
  * types) and the table-level DDL state, so the table is readable by name
  * with no user schema. Read once per operation ([[LakeManifest.read]])
  * and written whole ([[LakeManifest.write]], temp + atomic move): a
  * writer takes the value it read, `copy`s the fields it owns and writes
  * it back, so every field it does not own survives by construction.
  *
  * Schema EVOLUTION state (see [[GraftCatalog.alterTable]]): `renames`
  * maps each logical column to the PHYSICAL field names it carried in
  * files written before its rename(s) — readers resolve any alias to the
  * logical column, so a rename is metadata-only (zero file rewrites, the
  * Iceberg field-id contract approximated by name history); `dropped`
  * lists physical names whose bytes remain in old files but must be
  * IGNORED on read (a DROP COLUMN is metadata-only too). Name reuse after
  * a drop/rename is refused at DDL time — the one ambiguity name-based
  * evolution cannot represent.
  *
  * `constraints`: (name, CHECK predicate SQL) in definition order,
  * enforced at write time through [[LakeSinkTable.constraints]].
  * `partHistory`: PRIOR partition specs of an evolved table (newest last,
  * each one comma-joined spec) — pre-evolution files live under old-spec
  * directories ([[LakeMaintenance.evolvePartitionSpec]]). `props`:
  * TBLPROPERTIES in definition order; `graft.*` keys double as per-table
  * default write options ([[LakeSinkTable.newWriteBuilder]]). `defaults`:
  * column DEFAULTs as (logical name, declared SQL, writer-token of the
  * folded value) — the token is EXACTLY what the writer would emit for
  * the value, so the scanner's typed decode is its inverse
  * ([[LakeSinkDefaults]]); defaults are immutable per column, so live
  * defaults are historically exact for snapshots. */
private[graft] case class LakeManifest(
    schema: StructType,
    partCols: Seq[String],
    renames: Map[String, Seq[String]] = Map.empty,
    dropped: Seq[String] = Seq.empty,
    constraints: Seq[(String, String)] = Seq.empty,
    partHistory: Seq[String] = Seq.empty,
    props: Seq[(String, String)] = Seq.empty,
    defaults: Seq[(String, String, String)] = Seq.empty) {

  /** (physical → logical aliases, ignored physical names). */
  def evolution: (Map[String, String], Set[String]) =
    LakeManifest.evolution(renames, dropped)

  /** The defaults whose column `sch` still has (a dropped or not-yet-added
    * column's default is meaningless). */
  def defaultsOf(sch: StructType): Seq[(String, String, String)] =
    defaults.filter(d => sch.fieldNames.contains(d._1))
}

private[graft] object LakeManifest {
  /** The state of a directory without a manifest: no schema, no DDL. */
  val Empty: LakeManifest = LakeManifest(new StructType(), Seq.empty)

  /** Parse the manifest at `path`; None when the directory holds no
    * committed lake table. */
  def read(path: String): Option[LakeManifest] = {
    if (path == null) return None
    val p = LakeSinkFiles.manifestPath(path)
    if (!Files.isRegularFile(p)) return None
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val where = s"manifest at $p"
    def opt(key: String) = LakeSinkFiles.jsonFieldOpt(json, key, where)
    // the list codec: control-char separated entries of control-char
    // separated parts (neither can appear in identifiers or SQL text)
    def entries(key: String): Seq[Array[String]] =
      opt(key).toSeq.flatMap(_.split("\u0002")).filter(_.nonEmpty).map(_.split("\u0001", 3))
    def pairs(key: String) = entries(key).map(e => e(0) -> e.drop(1).mkString("\u0001"))
    val (renames, dropped) = renamesOf(json, where)
    Some(LakeManifest(
      StructType.fromDDL(LakeSinkFiles.jsonField(json, "schema", where)),
      LakePart.split(LakeSinkFiles.jsonField(json, "partitionCols", where)),
      renames, dropped,
      pairs("constraints"),
      opt("partColsHistory").toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty),
      pairs("tblprops"),
      entries("defaults").map(e => (e(0), e(1), e(2)))))
  }

  /** Write `m` as the manifest at `path` via temp + atomic move; last
    * writer wins. Optional fields are omitted when empty. */
  def write(path: String, m: LakeManifest): Unit = {
    def list(es: Seq[Seq[String]]) = es.map(_.mkString("\u0001")).mkString("\u0002")
    def opt(k: String, present: Boolean, v: => String) =
      if (present) Seq(k -> v) else Seq.empty
    val json = LakeSinkFiles.renderFields(
      layoutFields(m) ++
        opt("constraints", m.constraints.nonEmpty,
          list(m.constraints.map { case (n, sql) => Seq(n, sql) })) ++
        opt("partColsHistory", m.partHistory.nonEmpty, m.partHistory.mkString(";")) ++
        opt("tblprops", m.props.nonEmpty, list(m.props.map { case (k, v) => Seq(k, v) })) ++
        opt("defaults", m.defaults.nonEmpty,
          list(m.defaults.map { case (n, sql, tok) => Seq(n, sql, tok) })))
    val tmp = Paths.get(path, s".schema.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, LakeSinkFiles.manifestPath(path), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The schema, partitioning and optional `renames`/`dropped` fields —
    * shared by the manifest and the version records, which snapshot the
    * evolution state. Column defaults live in the `defaults` field: a
    * frame's CURRENT_DEFAULT metadata would render as `DEFAULT …`, which
    * `StructType.fromDDL` rejects (EXISTS_DEFAULT never renders). */
  private[sources] def layoutFields(m: LakeManifest): Seq[(String, String)] =
    Seq("schema" -> StructType(m.schema.fields.map(_.clearCurrentDefaultValue())).toDDL,
      "partitionCols" -> m.partCols.mkString(",")) ++
      (if (m.renames.isEmpty) Nil
      else Seq("renames" -> m.renames.toSeq.sortBy(_._1)
        .map { case (l, ps) => s"$l=${ps.mkString("|")}" }.mkString(";"))) ++
      (if (m.dropped.isEmpty) Nil else Seq("dropped" -> m.dropped.mkString(",")))

  /** [[layoutFields]]' evolution state read back from a manifest or version record. */
  private[sources] def renamesOf(json: String,
      where: String): (Map[String, Seq[String]], Seq[String]) =
    (LakeSinkFiles.jsonFieldOpt(json, "renames", where).map { body =>
      body.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { e =>
        val i = e.indexOf('=')
        e.substring(0, i) -> e.substring(i + 1).split("\\|").toSeq.filter(_.nonEmpty)
      }.toMap
    }.getOrElse(Map.empty),
      LakeSinkFiles.jsonFieldOpt(json, "dropped", where).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))

  private[sources] def evolution(renames: Map[String, Seq[String]],
      dropped: Seq[String]): (Map[String, String], Set[String]) =
    (renames.flatMap { case (logical, phys) => phys.map(_ -> logical) }, dropped.toSet)
}
