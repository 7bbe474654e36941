package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES for lake tables — the observability
  * surface every real lakehouse grows (`SELECT * FROM db.t.files` /
  * `.history` / `.partitions`): what a table physically is (files, their
  * partitions, recorded row counts and sizes), what happened to it
  * (versions and their commit instants), and its partition-level rollup
  * — all answered from commit-time metadata, zero data files opened.
  *
  * Resolved by [[GraftCatalog]] for 2-level identifiers under the lake
  * namespace: `graft.lake.<table>.files` etc.
  *
  * Scale shape: every row set is O(#files) / O(#versions) driver-side
  * metadata — the same listing the scan planner already does; a 100 TB
  * table's `files` listing is as cheap as planning one query over it. */
private[graft] object LakeMetadataTables {
  val Kinds: Set[String] = Set("files", "history", "partitions", "deletes")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("rows", LongType, nullable = true), // null = no recorded count
      StructField("size_bytes", LongType, nullable = false),
      StructField("has_stats", BooleanType, nullable = false)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("files", LongType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("rows", LongType, nullable = true))) // null = any unrecorded
    case "deletes" => StructType(Seq( // merge-on-read delete vectors
      StructField("file", StringType, nullable = false),
      StructField("deleted_rows", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = true))) // null = no recorded count
    case other => throw new IllegalArgumentException(s"no metadata table $other")
  }

  /** Compute the metadata rows — called at PLANNING from the latest
    * version record, so every query sees the table's last commit. */
  def rowsOf(kind: String, path: String): Seq[Array[Any]] = {
    val root = Paths.get(path)
    def partOf(rel: String): String =
      Option(Paths.get(rel).getParent).map(_.toString).getOrElse("")
    lazy val snap = LakeSinkFiles.latest(path)
    lazy val counts = snap.counts
    lazy val dels = snap.deletes
    kind match {
      case "files" =>
        val stats = snap.stats
        snap.files.sorted.map { rel =>
          Array[Any](
            UTF8String.fromString(rel),
            UTF8String.fromString(partOf(rel)),
            // LIVE rows: recorded count minus the delete vector
            counts.get(rel).map(n => java.lang.Long.valueOf(
              n - dels.get(rel).map(_.length.toLong).getOrElse(0L))).orNull,
            java.lang.Long.valueOf(Files.size(root.resolve(rel))),
            java.lang.Boolean.valueOf(stats.contains(rel)))
        }
      case "history" =>
        LakeSinkFiles.listVersions(path).map { v =>
          val (_, _, files) = LakeSinkFiles.readVersion(path, v)
          val mtimeMicros = Files.getLastModifiedTime(
            LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v))).toMillis * 1000L
          Array[Any](
            java.lang.Long.valueOf(v),
            java.lang.Long.valueOf(mtimeMicros),
            java.lang.Long.valueOf(files.size.toLong))
        }
      case "partitions" =>
        snap.files.groupBy(partOf).toSeq.sortBy(_._1)
          .map { case (part, rels) =>
            val cs = rels.map(rel => counts.get(rel)
              .map(_ - dels.get(rel).map(_.length.toLong).getOrElse(0L)))
            Array[Any](
              UTF8String.fromString(part),
              java.lang.Long.valueOf(rels.size.toLong),
              if (cs.forall(_.isDefined)) java.lang.Long.valueOf(cs.flatten.sum)
              else null)
          }
      case "deletes" =>
        // one row per LIVE file carrying a delete vector — the
        // compaction-candidate view of merge-on-read state (a file here
        // pays a read-side cursor and blocks min/max pushdown until
        // compaction materializes its vector)
        val live = snap.files.toSet
        dels.toSeq
          .filter { case (rel, vec) => vec.nonEmpty && live.contains(rel) }
          .sortBy(_._1)
          .map { case (rel, vec) =>
            Array[Any](
              UTF8String.fromString(rel),
              java.lang.Long.valueOf(vec.length.toLong),
              counts.get(rel).map(n =>
                java.lang.Long.valueOf(n - vec.length)).orNull)
          }
      case other => throw new IllegalArgumentException(s"no metadata table $other")
    }
  }
}

private[graft] class LakeMetaTable(kind: String, path: String, fullName: String)
    extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = LakeMetadataTables.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LakeMetaScan(kind, path, schema())
    }
}

private[sources] class LakeMetaScan(kind: String, path: String,
    outSchema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = outSchema
  override def description(): String = s"graft-lake-meta kind=$kind path=$path"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeMetaPartition(LakeMetadataTables.rowsOf(kind, path).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[LakeMetaPartition]
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < p.rows.length }
          override def get(): InternalRow = new GenericInternalRow(p.rows(i))
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] case class LakeMetaPartition(rows: Array[Array[Any]])
    extends InputPartition
