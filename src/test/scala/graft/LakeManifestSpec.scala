package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeManifest, LakeSinkFiles}

/** The table manifest `_graft_schema.json` as one value: its bytes are
  * the format existing lakes carry, a manifest without the optional
  * fields reads back with empty ones, and every writer rewrites only the
  * fields it owns. */
class LakeManifestSpec extends GraftSpec {

  private def manifestText(path: String): String =
    new String(Files.readAllBytes(LakeSinkFiles.manifestPath(path)), StandardCharsets.UTF_8)

  test("an all-fields manifest keeps its exact bytes, control characters in its SQL included") {
    val m = LakeManifest(
      StructType.fromDDL("id BIGINT NOT NULL, note STRING, ts TIMESTAMP, p INT"),
      Seq("p", "bucket(4,id)"),
      Map("note" -> Seq("memo", "remark")), Seq("old1", "old2"),
      Seq("pos" -> "id > 0",
        "ctl" -> "note <> 'a\t\"b\\c\u0003' AND ts IS NOT NULL\r\nOR p = 1"),
      Seq("p", "p,bucket(2,id)"),
      Seq("graft.ndvColumns" -> "id", "comment" -> "line1\nline2"),
      Seq(("note", "'n/a'", "\"n/a\"")))
    // the bytes existing lakes carry for this table, as the manifest
    // format has always written them (<n> stands for the JSON escape of
    // control character n)
    val golden = ("""{"schema":"id BIGINT NOT NULL,note STRING,ts TIMESTAMP,p INT",""" +
      """"partitionCols":"p,bucket(4,id)","renames":"note=memo|remark",""" +
      """"dropped":"old1,old2","constraints":"pos<1>id > 0<2>ctl<1>note <> """ +
      """'a\t\"b\\c<3>' AND ts IS NOT NULL\r\nOR p = 1",""" +
      """"partColsHistory":"p;p,bucket(2,id)",""" +
      """"tblprops":"graft.ndvColumns<1>id<2>comment<1>line1\nline2",""" +
      """"defaults":"note<1>'n/a'<1>\"n/a\""}""")
      .replace("<1>", "\\u0001").replace("<2>", "\\u0002").replace("<3>", "\\u0003")
    val dir = TempLakes.dir("graft_manifest_golden")
    LakeManifest.write(dir, m)
    assert(manifestText(dir) == golden)
    // and a manifest carrying those bytes reads back as the same value
    val old = TempLakes.dir("graft_manifest_old")
    Files.write(LakeSinkFiles.manifestPath(old), golden.getBytes(StandardCharsets.UTF_8))
    assert(LakeManifest.read(old).contains(m))
  }

  test("a manifest without the optional fields reads back with empty ones") {
    val dir = TempLakes.dir("graft_manifest_min")
    val bytes = """{"schema":"v BIGINT","partitionCols":""}"""
    Files.write(LakeSinkFiles.manifestPath(dir), bytes.getBytes(StandardCharsets.UTF_8))
    val m = LakeManifest.read(dir).get
    assert(m == LakeManifest(StructType.fromDDL("v BIGINT"), Seq.empty))
    assert(m.renames.isEmpty && m.dropped.isEmpty && m.constraints.isEmpty &&
      m.partHistory.isEmpty && m.props.isEmpty && m.defaults.isEmpty)
    LakeManifest.write(dir, m)
    assert(manifestText(dir) == bytes)
    assert(LakeManifest.read(TempLakes.dir("graft_manifest_none")).isEmpty)
  }

  test("every manifest rewrite keeps each field it does not own") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_manifest_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    val path = s"$lake/m"
    def read(p: String = path): LakeManifest = LakeManifest.read(p).get
    import spark.implicits._
    // CREATE TABLE writes the fresh manifest whole
    spark.sql("""CREATE TABLE graft.lake.m (id BIGINT, v STRING, w BIGINT,
                 tag STRING DEFAULT 'n/a') PARTITIONED BY (bucket(2, id))
                 TBLPROPERTIES ('graft.ndvColumns'='id')""")
    Seq((1L, "a", 10L, "x"), (2L, "b", 20L, "y")).toDF("id", "v", "w", "tag")
      .writeTo("graft.lake.m").append()
    // ALTER TABLE owns schema, evolution, constraints, props and defaults
    spark.sql("ALTER TABLE graft.lake.m ADD CONSTRAINT pos CHECK (id >= 0)")
    spark.sql("ALTER TABLE graft.lake.m RENAME COLUMN v TO v2")
    spark.sql("ALTER TABLE graft.lake.m DROP COLUMN w")
    // partition-spec evolution owns the spec and its history
    LakeMaintenance.evolvePartitionSpec(path, Seq("bucket(4,id)"))
    val m0 = read()
    assert(m0.renames == Map("v2" -> Seq("v")) && m0.dropped == Seq("w") &&
      m0.constraints.map(_._1) == Seq("pos") && m0.partHistory == Seq("bucket(2,id)") &&
      m0.props == Seq("graft.ndvColumns" -> "id") && m0.defaults.map(_._1) == Seq("tag"),
      m0.toString)
    spark.sql("ALTER TABLE graft.lake.m SET TBLPROPERTIES ('team'='ops')")
    val m1 = read()
    assert(m1 == m0.copy(props = m0.props :+ ("team" -> "ops")))
    LakeMaintenance.evolvePartitionSpec(path, Seq("bucket(8,id)"))
    val m2 = read()
    assert(m2 == m1.copy(partCols = Seq("bucket(8,id)"),
      partHistory = Seq("bucket(2,id)", "bucket(4,id)")))
    val vBeforeMerge = LakeSinkFiles.listVersions(path).last
    // a mergeSchema append owns the schema alone
    Seq((3L, "c", "z", 5L)).toDF("id", "v2", "tag", "x")
      .write.format("graft.sources.LakeSink").mode("append")
      .option("mergeSchema", "true").save(path)
    val m3 = read()
    assert(m3 == m2.copy(schema = m2.schema.add("x", LongType, nullable = true)))
    // a live clone copies every field; a version clone drops the CHECKs
    LakeMaintenance.clone(spark, path, s"$lake/cl")
    assert(read(s"$lake/cl") == m3)
    LakeMaintenance.clone(spark, path, s"$lake/vcl", Some(LakeSinkFiles.listVersions(path).last))
    assert(read(s"$lake/vcl") == m3.copy(constraints = Seq.empty))
    // RESTORE owns schema, spec and evolution state
    LakeMaintenance.restore(path, vBeforeMerge)
    assert(read() == m3.copy(schema = m2.schema))
    // a truncating overwrite replaces schema, spec and evolution state and
    // keeps the CHECKs, the props and the defaults of surviving columns
    Seq((4L, "d", "q")).toDF("id", "v2", "tag")
      .write.format("graft.sources.LakeSink").mode("overwrite").save(path)
    val t = read()
    assert(t.partCols == m3.partCols && t.renames.isEmpty && t.dropped.isEmpty &&
      t.partHistory.isEmpty && t.constraints == m3.constraints &&
      t.props == m3.props && t.defaults == m3.defaults, t.toString)
    assert(spark.table("graft.lake.m").select(col("id")).as[Long].collect().toSeq == Seq(4L))
    assert(Files.isRegularFile(Paths.get(path, "_graft_schema.json")))
  }
}
