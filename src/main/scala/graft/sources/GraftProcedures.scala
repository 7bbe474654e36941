package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable maintenance procedures for lake tables — Spark 4.1's
  * native `ProcedureCatalog` surface (the Iceberg `CALL cat.system.…`
  * contract): every [[LakeMaintenance]] operation is reachable from pure
  * SQL, so a scheduler or a SQL-only operator can run the whole
  * maintenance cycle without JVM access:
  *
  * {{{
  *   CALL graft.system.compact(`table` => 'events', target_bytes => 1000000)
  *   CALL graft.system.vacuum(`table` => 'events', keep_last => 3)
  *   CALL graft.system.zorder(`table` => 'events', cols => 'x,y',
  *                            n_files => 8, scope => 'p=1')
  *   CALL graft.system.clone(`table` => 'events', dest => 'events_branch',
  *                           version => 2)
  *   CALL graft.system.restore(`table` => 'events', version => 1)
  *   CALL graft.system.evolve_partition_spec(`table` => 'ev',
  *                                           spec => 'hours(ts)')
  * }}}
  *
  * Each returns its result counts as a one-row relation (`LocalScan`),
  * so `SHOW PROCEDURES` / `DESCRIBE PROCEDURE` / named-argument CALL all
  * work through the engine's own resolution (`InvokeProcedures`).
  * Optional parameters default to sentinel values (-1 / '') rather than
  * NULL-typed defaults — the analyzer folds the default expression text,
  * and a sentinel keeps every parameter non-nullable.
  *
  * 100 TB story: maintenance is SCHEDULED work — the compact/zorder/
  * vacuum cadence belongs to an orchestrator speaking SQL, not to
  * whoever owns a JVM classpath; this is the missing operational surface
  * over the existing maintenance engine (zero new table semantics).
  */
private[sources] object GraftProcedures {

  val Names: Seq[String] =
    Seq("compact", "vacuum", "zorder", "clone", "restore",
      "evolve_partition_spec", "tag", "drop_tag", "analyze")

  private def in(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def inDef(n: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(default).build()

  private case class ResultScan(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  /** One self-binding procedure: the unbound and bound halves coincide
    * (parameters are static), `run` does the work on the driver. */
  private abstract class P(pname: String, desc: String,
      params: Array[ProcedureParameter], resSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // mutates table state
    def run(in: InternalRow): Array[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // An explicit NULL argument would NPE on getUTF8String / read an
      // undefined primitive slot through the sentinel Option — refuse by
      // name instead. (Every parameter is sentinel-defaulted, never NULL.)
      params.zipWithIndex.foreach { case (p, i) =>
        require(i >= input.numFields || !input.isNullAt(i),
          s"CALL $pname: parameter '${p.name}' must not be NULL " +
            "(omit it to take the default)")
      }
      java.util.List.of[Scan](ResultScan(resSchema, run(input))).iterator()
    }
  }

  private def row(vs: Any*): Array[InternalRow] =
    Array(new GenericInternalRow(vs.toArray))

  def load(name: String, lakeRoot: String, catalogName: String): UnboundProcedure = {
    def dirOf(table: String): String = {
      // A SQL-only caller must not escape the lake root: '../other/t'
      // would compact/vacuum/restore any manifest-bearing directory on
      // the machine. Same plain-name rule clone's dest already enforces.
      require(table.nonEmpty && !table.contains("/") &&
        !table.startsWith("."),
        s"$catalogName: table must be a plain lake table name, got '$table'")
      val d = java.nio.file.Paths.get(lakeRoot, table).toString
      require(LakeManifest.read(d).isDefined,
        s"$catalogName: no lake table '$table' under $lakeRoot")
      d
    }
    name match {
      case "compact" => new P("compact",
        "bin-pack small files (OPTIMIZE); scope = 'k=v[,k=v]' limits dirs",
        Array(in("table", StringType),
          inDef("target_bytes", LongType, "-1"),
          inDef("scope", StringType, "''")),
        StructType(Seq(StructField("partitions", IntegerType, nullable = false),
          StructField("files_in", IntegerType, nullable = false),
          StructField("files_out", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val target = Option(in.getLong(1)).filter(_ > 0)
          val scope = parseScope(in.getUTF8String(2).toString)
          val (p, fi, fo) =
            LakeMaintenance.compact(SparkSession.active, dir, target, scope)
          row(p, fi, fo)
        }
      }
      case "vacuum" => new P("vacuum",
        "reclaim retired files + version records beyond the horizon",
        Array(in("table", StringType),
          inDef("keep_last", IntegerType, "-1"),
          inDef("older_than_millis", LongType, "-1")),
        StructType(Seq(StructField("files_deleted", IntegerType, nullable = false),
          StructField("records_dropped", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val (f, r) = LakeMaintenance.vacuum(dir,
            Option(in.getInt(1)).filter(_ >= 0),
            Option(in.getLong(2)).filter(_ >= 0))
          row(f, r)
        }
      }
      case "zorder" => new P("zorder",
        "z-cluster on cols; scope = 'k=v[,k=v]' rewrites matching dirs only",
        Array(in("table", StringType), in("cols", StringType),
          inDef("n_files", IntegerType, "8"),
          inDef("scope", StringType, "''")),
        StructType(Seq(StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val (b, a) = LakeMaintenance.zorder(SparkSession.active, dir, cols,
            in.getInt(2), parseScope(in.getUTF8String(3).toString))
          row(b, a)
        }
      }
      case "clone" => new P("clone",
        "zero-copy shallow clone (hard links); version = -1 clones live",
        Array(in("table", StringType), in("dest", StringType),
          inDef("version", LongType, "-1")),
        StructType(Seq(StructField("files_linked", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val destName = in.getUTF8String(1).toString
          require(destName.nonEmpty && !destName.contains("/") &&
            !destName.startsWith("."),
            s"$catalogName: clone dest must be a plain table name")
          val dest = java.nio.file.Paths.get(lakeRoot, destName).toString
          val n = LakeMaintenance.clone(SparkSession.active, dir, dest,
            Option(in.getLong(2)).filter(_ >= 0))
          row(n)
        }
      }
      case "restore" => new P("restore",
        "RESTORE TABLE to a recorded version, as a new commit",
        Array(in("table", StringType), in("version", LongType)),
        StructType(Seq(StructField("files_restored", IntegerType, nullable = false),
          StructField("files_retired", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val (back, retired) = LakeMaintenance.restore(dir, in.getLong(1))
          row(back, retired)
        }
      }
      case "tag" => new P("tag",
        "pin a recorded version under a durable name (version = -1: latest)",
        Array(in("table", StringType), in("name", StringType),
          inDef("version", LongType, "-1")),
        StructType(Seq(StructField("tagged_version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val v = LakeMaintenance.tag(dir, in.getUTF8String(1).toString,
            Option(in.getLong(2)).filter(_ >= 0))
          row(v)
        }
      }
      case "drop_tag" => new P("drop_tag",
        "release a tag's pin; the next vacuum may reclaim the version",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("untagged_version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          row(LakeMaintenance.dropTag(dir, in.getUTF8String(1).toString))
        }
      }
      case "analyze" => new P("analyze",
        "backfill per-file stats ledgers (bounds/nulls always; " +
          "ndv_cols/hist_cols/bloom_cols = 'a,b' opt-ins) for files " +
          "lacking the coverage; already-covered files are skipped",
        Array(in("table", StringType),
          inDef("ndv_cols", StringType, "''"),
          inDef("hist_cols", StringType, "''"),
          inDef("bloom_cols", StringType, "''"),
          inDef("bloom_bits", IntegerType, "-1")),
        StructType(Seq(StructField("files_analyzed", IntegerType, nullable = false),
          StructField("files_skipped", IntegerType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          def cols(i: Int): Seq[String] = in.getUTF8String(i).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          // only the documented -1 sentinel means "default": any other
          // invalid size must refuse via analyze's own require, not be
          // silently replaced (review r14); a size with no bloom columns
          // would be validated then thrown away — refuse that too
          val rawBits = in.getInt(4)
          val bits = if (rawBits == -1) LakeSinkStats.DefaultBloomBits
            else rawBits
          require(rawBits == -1 || cols(3).nonEmpty,
            s"CALL analyze: bloom_bits is set but bloom_cols is empty — " +
              "the size would configure nothing")
          val (a, s) = LakeMaintenance.analyze(SparkSession.active, dir,
            cols(1), cols(2), cols(3), bits)
          row(a, s)
        }
      }
      case "evolve_partition_spec" => new P("evolve_partition_spec",
        "switch the active hidden-partition spec (metadata-only)",
        Array(in("table", StringType), in("spec", StringType)),
        StructType(Seq(StructField("new_spec", StringType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val dir = dirOf(in.getUTF8String(0).toString)
          val spec = in.getUTF8String(1).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          LakeMaintenance.evolvePartitionSpec(dir, spec)
          row(UTF8String.fromString(spec.mkString(",")))
        }
      }
      case other => throw new IllegalArgumentException(
        s"$catalogName: no procedure '$other' (have: ${Names.mkString(", ")})")
    }
  }

  /** 'k=v[,k=v]' → the partitions map compact/zorder scope with. */
  private def parseScope(s: String): Map[String, String] =
    s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"scope entries are k=v pairs, got '$kv'")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
}
