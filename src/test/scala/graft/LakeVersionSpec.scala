package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeManifest, LakeSinkFiles}

/** The versioned-lake tier: VERSION/TIMESTAMP AS OF time travel
  * ([[graft.sources.LakeSinkSnapshotTable]]), retire-instead-of-delete
  * rewrite semantics, VACUUM reclamation, and OPTIMIZE-style compaction
  * ([[graft.sources.LakeMaintenance]]).
  */
class LakeVersionSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_ver_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def threeRows(tag: Int) = {
    import spark.implicits._
    Seq((1L + 10 * tag, s"a$tag"), (2L + 10 * tag, s"b$tag"), (3L + 10 * tag, s"c$tag"))
      .toDF("id", "v")
  }

  test("SHALLOW CLONE: zero-copy, reads ≡ source at clone time, fully vacuum-independent") {
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.csrc").create() // v1
      spark.sql("DELETE FROM graft.lake.csrc WHERE id = 42") // v2: mor vector
      val atClone = canon(spark.table("graft.lake.csrc"))
      val n = LakeMaintenance.clone(spark, s"$lake/csrc", s"$lake/ccl")
      assert(n == 4, s"linked $n files")
      // clone reads ≡ source at clone time, INCLUDING the hidden row
      assert(canon(spark.table("graft.lake.ccl")) == atClone)
      assert(spark.table("graft.lake.ccl").filter(col("id") === 42).count() == 0L)
      // ZERO-COPY: a sampled data file shares its inode with the source
      def firstFile(t: String): java.nio.file.Path = {
        val it = Files.walk(Paths.get(s"$lake/$t")).iterator()
        var out: java.nio.file.Path = null
        while (it.hasNext && out == null) {
          val p = it.next()
          if (p.toString.endsWith(".json.gz") && !p.toString.contains("_graft") &&
              !p.toString.contains("_staging")) out = p
        }
        out
      }
      // the clone's history is its OWN, starting at version 1
      assert(LakeSinkFiles.listVersions(s"$lake/ccl") == Seq(1L))
      val sf0 = firstFile("csrc")
      val cf0 = Paths.get(s"$lake/ccl").resolve(Paths.get(s"$lake/csrc").relativize(sf0))
      assert(Files.getAttribute(sf0, "unix:ino") == Files.getAttribute(cf0, "unix:ino"),
        "clone must hard-link, not copy")
      // count(*) still a metadata answer on the clone (ledgers carried)
      val c = spark.sql("SELECT count(*) AS n FROM graft.lake.ccl")
      assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(c.collect()(0).getLong(0) == 99L)
      // source mutates THEN fully vacuums: the clone must not move an inch
      spark.sql("UPDATE graft.lake.csrc SET v = 'patched' WHERE id < 50") // cow rewrite
      spark.sql("DELETE FROM graft.lake.csrc WHERE id % 7 = 0")
      LakeMaintenance.compact(spark, s"$lake/csrc")
      LakeMaintenance.vacuum(s"$lake/csrc") // full wipe of retired bytes
      assert(canon(spark.table("graft.lake.ccl")) == atClone,
        "source DML + compaction + FULL vacuum must never break a clone")
      // …and the mirror: clone DML + vacuum leaves the source untouched
      val srcNow = canon(spark.table("graft.lake.csrc"))
      spark.sql("DELETE FROM graft.lake.ccl WHERE id >= 90")
      Seq((1000L, "x")).toDF("id", "v").writeTo("graft.lake.ccl").append()
      LakeMaintenance.compact(spark, s"$lake/ccl")
      LakeMaintenance.vacuum(s"$lake/ccl")
      assert(canon(spark.table("graft.lake.csrc")) == srcNow)
      assert(spark.table("graft.lake.ccl").count() == 90L) // 99 - 10 + 1
      // cloning onto an existing table refuses loudly
      val e = intercept[IllegalArgumentException] {
        LakeMaintenance.clone(spark, s"$lake/csrc", s"$lake/ccl")
      }
      assert(e.getMessage.contains("already holds"), e.getMessage)
    }
  }

  test("SHALLOW CLONE at VERSION AS OF: branch-from-history survives source vacuum") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.vsrc").create() // v1
      threeRows(1).writeTo("graft.lake.vsrc").append() // v2
      spark.sql("UPDATE graft.lake.vsrc SET v = 'patched' WHERE id = 2") // v3 cow
      val v2Snap = canon(spark.sql("SELECT * FROM graft.lake.vsrc VERSION AS OF 2"))
      LakeMaintenance.clone(spark, s"$lake/vsrc", s"$lake/vcl", Some(2L))
      // the branch IS the snapshot (incl. the later-patched row's pre-image)
      assert(canon(spark.table("graft.lake.vcl")) == v2Snap)
      assert(spark.table("graft.lake.vcl")
        .filter(col("id") === 2 && col("v") === "b0").count() == 1L)
      // a LATER source vacuum cannot take the branch down: the clone's
      // links pinned the historical inodes
      LakeMaintenance.vacuum(s"$lake/vsrc")
      assert(canon(spark.table("graft.lake.vcl")) == v2Snap,
        "full source vacuum must not break a version clone")
      // …but cloning an ALREADY-vacuumed version refuses loudly (the
      // record was dropped by the full wipe — no silently partial
      // branch); no table lands at dst
      val e = intercept[IllegalArgumentException] {
        LakeMaintenance.clone(spark, s"$lake/vsrc", s"$lake/vcl2", Some(2L))
      }
      assert(e.getMessage.contains("no recorded version") ||
        e.getMessage.contains("was vacuumed"), e.getMessage)
      assert(LakeManifest.read(s"$lake/vcl2").isEmpty,
        "a refused clone must not leave a committed table")
      // the branch stays independently writable
      threeRows(9).writeTo("graft.lake.vcl").append()
      assert(spark.table("graft.lake.vcl").count() == 9L)
      // a version clone of a spec-EVOLVED table carries the partition
      // history (SPJ stands down, generation-matched pruning holds on
      // the branch — review r13); the data is the snapshot exactly
      import spark.implicits._
      (0 until 8).map(i =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-0${i % 4 + 1} 00:00:00")))
        .toDF("id", "ts").writeTo("graft.lake.esrc")
        .partitionedBy(org.apache.spark.sql.functions.days(col("ts"))).create()
      LakeMaintenance.evolvePartitionSpec(s"$lake/esrc", Seq("hours(ts)"))
      Seq((100L, java.sql.Timestamp.valueOf("2024-02-01 05:00:00")))
        .toDF("id", "ts").writeTo("graft.lake.esrc").append()
      val vLast = LakeSinkFiles.listVersions(s"$lake/esrc").last
      LakeMaintenance.clone(spark, s"$lake/esrc", s"$lake/ecl", Some(vLast))
      assert(LakeManifest.read(s"$lake/ecl").get.partHistory.nonEmpty,
        "a version clone of an evolved table must carry the spec history")
      assert(canon(spark.table("graft.lake.ecl")) ==
        canon(spark.sql(s"SELECT * FROM graft.lake.esrc VERSION AS OF $vLast")))
    }
  }

  test("RESTORE rolls back and forward as new commits; vacuum makes versions non-restorable") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.rst").create() // v1
      threeRows(1).writeTo("graft.lake.rst").append() // v2
      spark.sql("UPDATE graft.lake.rst SET v = 'patched' WHERE id = 2") // v3 (cow)
      spark.sql("DELETE FROM graft.lake.rst WHERE id = 11") // v4 (mor vectors)
      val v1 = canon(spark.sql("SELECT * FROM graft.lake.rst VERSION AS OF 1"))
      val v4 = canon(spark.table("graft.lake.rst"))
      // roll back to v1: rows exactly v1's, the later UPDATE and the mor
      // DELETE both undone (vectors reset to v1's empty state)
      val (ret1, rem1) = LakeMaintenance.restore(s"$lake/rst", 1L) // v5
      assert(canon(spark.table("graft.lake.rst")) == v1, "restore(1) must equal v1")
      assert(ret1 > 0 || rem1 > 0)
      assert(spark.sql("SELECT * FROM graft.lake.rst.deletes").isEmpty,
        "post-target delete vectors must be undone")
      // history moved FORWARD: the rolled-over snapshots stay readable
      assert(LakeSinkFiles.listVersions(s"$lake/rst") == (1L to 5L))
      assert(canon(spark.sql("SELECT * FROM graft.lake.rst VERSION AS OF 4")) == v4)
      // count(*) still metadata-answered for the restored state
      val cnt = spark.sql("SELECT count(*) AS n FROM graft.lake.rst")
      assert(cnt.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        cnt.queryExecution.executedPlan.toString.linesIterator.take(3).mkString("|"))
      assert(cnt.collect()(0).getLong(0) == 3)
      // roll FORWARD to v4: the post-target files return, vectors reapply
      LakeMaintenance.restore(s"$lake/rst", 4L) // v6
      assert(canon(spark.table("graft.lake.rst")) == v4, "restore(4) must equal v4")
      // reclaimed retired bytes make a version non-restorable LOUDLY:
      // delete the retired files (a partial vacuum) but keep the records
      LakeMaintenance.restore(s"$lake/rst", 1L) // v7 (back to v1 again)
      val retired = Paths.get(s"$lake/rst", "_graft_retired")
      val it = Files.walk(retired).sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) Files.delete(p) }
      val e = intercept[Exception](LakeMaintenance.restore(s"$lake/rst", 4L))
      assert(e.getMessage.contains("vacuumed"), e.getMessage)
      assert(canon(spark.table("graft.lake.rst")) == v1,
        "a failed restore must leave the live table readable")
    }
  }

  test("every data commit records a version; VERSION AS OF resolves each snapshot") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.tt").create() // v1
      threeRows(1).writeTo("graft.lake.tt").append() // v2
      threeRows(2).writeTo("graft.lake.tt").append() // v3
      assert(LakeSinkFiles.listVersions(s"$lake/tt") == Seq(1L, 2L, 3L))
      assert(spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 1").count() == 3)
      assert(canon(spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 2")) ==
        canon(threeRows(0).unionAll(threeRows(1))))
      assert(canon(spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 3")) ==
        canon(spark.table("graft.lake.tt")))
      // 'v2' spelling accepted; unknown version fails loudly
      assert(spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 'v2'").count() == 6)
      val e = intercept[Exception](
        spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 99").collect())
      assert(e.getMessage.contains("no recorded version 99"), e.getMessage)
    }
  }

  test("rewrites RETIRE files: pre-DML snapshots stay readable, live read is post-DML") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.dml").create() // v1: ids 1,2,3
      spark.sql("UPDATE graft.lake.dml SET v = 'patched' WHERE id = 2") // v2
      val live = canon(spark.table("graft.lake.dml"))
      assert(live.exists(_.contains("patched")), live.mkString(";"))
      val v1 = canon(spark.sql("SELECT * FROM graft.lake.dml VERSION AS OF 1"))
      assert(v1 == canon(threeRows(0)), s"v1 must show pre-update rows, got $v1")
      // the replaced original moved under _graft_retired, not deleted
      assert(Files.isDirectory(LakeSinkFiles.retiredDir(s"$lake/dml")))
      // row-level DELETE is also a version transition
      spark.sql("DELETE FROM graft.lake.dml WHERE id = 1") // v3
      assert(spark.table("graft.lake.dml").count() == 2)
      assert(spark.sql("SELECT * FROM graft.lake.dml VERSION AS OF 2").count() == 3)
    }
  }

  test("TIMESTAMP AS OF picks the greatest version at or before the instant") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.ts").create() // v1
      Thread.sleep(1100) // version mtimes carry millis; 1s margin is deterministic
      val between = java.time.Instant.now()
      Thread.sleep(1100)
      threeRows(1).writeTo("graft.lake.ts").append() // v2
      val atBetween = spark.sql(
        s"SELECT * FROM graft.lake.ts TIMESTAMP AS OF '$between'")
      assert(atBetween.count() == 3, "must resolve v1")
      val e = intercept[Exception](spark.sql(
        "SELECT * FROM graft.lake.ts TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
      assert(e.getMessage.contains("no version"), e.getMessage)
    }
  }

  test("snapshots pin the schema: pre-evolution versions show pre-evolution columns") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.evo").create() // v1 (id, v)
      spark.sql("ALTER TABLE graft.lake.evo ADD COLUMNS (extra BIGINT)")
      import spark.implicits._
      Seq((99L, "z", 7L)).toDF("id", "v", "extra")
        .writeTo("graft.lake.evo").append() // v2 (id, v, extra)
      assert(spark.sql("SELECT * FROM graft.lake.evo VERSION AS OF 1")
        .schema.fieldNames.toSeq == Seq("id", "v"))
      assert(spark.sql("SELECT * FROM graft.lake.evo VERSION AS OF 2")
        .schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    }
  }

  test("snapshots are read-only: DML against VERSION AS OF fails at analysis") {
    withLake { _ =>
      threeRows(0).writeTo("graft.lake.ro").create()
      val e = intercept[Exception](spark.sql(
        "DELETE FROM graft.lake.ro VERSION AS OF 1 WHERE id = 1"))
      assert(e.getMessage != null)
      // live table unaffected either way
      assert(spark.table("graft.lake.ro").count() == 3)
    }
  }

  test("compact merges multi-file partitions to one file, rows bit-identical") {
    withLake { lake =>
      import spark.implicits._
      // 8 partitions x 4 appends -> many files per partition dir
      val df = (0 until 200).map(i => (i.toLong, i % 4, s"r$i")).toDF("id", "p", "v")
        .repartition(8)
      df.writeTo("graft.lake.cp").partitionedBy(col("p")).create()
      df.withColumn("id", col("id") + 1000).writeTo("graft.lake.cp").append()
      val before = canon(spark.table("graft.lake.cp"))
      val filesBefore = LakeMaintenance.committedFileCount(s"$lake/cp")
      assert(filesBefore > 4, s"precondition: many small files, got $filesBefore")
      val (parts, fin, fout) = LakeMaintenance.compact(spark, s"$lake/cp")
      assert(parts == 4 && fout == 4 && fin == filesBefore,
        s"compacted $parts partitions $fin->$fout files")
      assert(LakeMaintenance.committedFileCount(s"$lake/cp") == 4)
      assert(canon(spark.table("graft.lake.cp")) == before,
        "compaction must not change a row")
      // pre-compaction snapshot still readable (originals retired, not deleted)
      val vs = LakeSinkFiles.listVersions(s"$lake/cp")
      assert(canon(spark.sql(
        s"SELECT * FROM graft.lake.cp VERSION AS OF ${vs.init.last}")) == before)
    }
  }

  test("compact with a size target bin-packs instead of folding to one file per dir") {
    withLake { lake =>
      import spark.implicits._
      // 8 ~equal small files in one (unpartitioned) directory; payloads
      // incompressible-ish so merged sizes ≈ input sums (the re-compaction
      // no-op leg depends on it — the SkewSpec MapStatus lesson)
      (0 until 4000).map(i => (i.toLong,
        (1 to 6).map(k => ((i + 13) * 2654435761L * k).toHexString).mkString("-")))
        .toDF("id", "v")
        .repartitionByRange(8, col("id"))
        .writeTo("graft.lake.bp").create()
      val path = s"$lake/bp"
      val before = canon(spark.table("graft.lake.bp"))
      val sizes = {
        val it = Files.walk(Paths.get(path)).iterator()
        var out = List.empty[Long]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (Files.isRegularFile(p) && n.startsWith("part-") && n.endsWith(".json.gz")
              && !p.startsWith(LakeSinkFiles.stagingDir(path))) out ::= Files.size(p)
        }
        out
      }
      assert(sizes.size == 8)
      // target ≈ 3 input files per bin → expect 3 merged outputs, not 1
      val target = sizes.sorted.take(3).sum + 1
      val (bins, fin, fout) = LakeMaintenance.compact(spark, path, Some(target))
      assert(fin == 8, s"all 8 inputs participate, got $fin")
      assert(fout >= 2 && fout < 8, s"bin-packing must merge to several files, got $fout")
      assert(bins == fout)
      assert(LakeMaintenance.committedFileCount(path) == fout)
      assert(canon(spark.table("graft.lake.bp")) == before, "bin-packing must not change a row")
      // min/max pushdown survives the per-bin stats folds
      val mm = spark.table("graft.lake.bp").agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      assert(mm.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(mm.collect()(0).toSeq == Seq(0L, 3999L))
      // already-compact: a second pass with the same target merges the
      // merged outputs further only if they still fit — with 3 outputs
      // near the target nothing fits together, so it is a no-op
      val (b2, _, f2) = LakeMaintenance.compact(spark, path, Some(target))
      assert(b2 == 0 && f2 == 0, s"re-compaction must be a no-op, got $b2/$f2")
    }
  }

  test("vacuum reclaims retired files and old versions; vacuumed snapshot fails loudly") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.vc").create() // v1
      spark.sql("UPDATE graft.lake.vc SET v = 'p' WHERE id = 2") // v2, v1's file retired
      val (files, versions) = LakeMaintenance.vacuum(s"$lake/vc")
      assert(files >= 1 && versions == 1, s"vacuumed $files files, $versions versions")
      val live = spark.table("graft.lake.vc")
      assert(live.count() == 3, "live table untouched by vacuum")
      val e = intercept[Exception](
        spark.sql("SELECT * FROM graft.lake.vc VERSION AS OF 1").collect())
      assert(e.getMessage.contains("no recorded version 1"), e.getMessage)
    }
  }

  test("path-based versionAsOf read equals catalog VERSION AS OF") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.pb").create() // v1
      threeRows(1).writeTo("graft.lake.pb").append() // v2
      val byPath = spark.read.format("graft.sources.LakeSink")
        .option("versionAsOf", "1").load(s"$lake/pb")
      assert(canon(byPath) == canon(threeRows(0)))
      assert(canon(spark.read.format("graft.sources.LakeSink")
        .option("versionAsOf", "2").load(s"$lake/pb")) ==
        canon(spark.sql("SELECT * FROM graft.lake.pb VERSION AS OF 2")))
    }
  }

  test("tags: named refs pin versions (and their retired files) through vacuum") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.tg").create() // v1
      val v1Rows = canon(spark.table("graft.lake.tg"))
      // a cow DELETE retires v1's files — the tag must pin THOSE bytes
      spark.sql("DELETE FROM graft.lake.tg WHERE id = 1") // v2 rewrite
      spark.sql("CALL graft.system.tag('tg', 'golden', version => 1)")
      // resolution by NAME ≡ by number, catalog and path forms
      assert(canon(spark.sql(
        "SELECT * FROM graft.lake.tg VERSION AS OF 'golden'")) == v1Rows)
      assert(canon(spark.read.format("graft.sources.LakeSink")
        .option("versionAsOf", "golden").load(s"$lake/tg")) == v1Rows)
      // FULL vacuum: the tagged version's record AND its retired files
      // survive — the snapshot reads back VALUE-exact afterwards
      graft.sources.LakeMaintenance.vacuum(s"$lake/tg")
      assert(canon(spark.sql(
        "SELECT * FROM graft.lake.tg VERSION AS OF 'golden'")) == v1Rows,
        "a full vacuum must not take a tagged snapshot down")
      // immutability + validation refusals
      val e1 = intercept[Exception](
        spark.sql("CALL graft.system.tag('tg', 'golden', version => 2)").collect())
      assert(e1.getMessage.contains("immutable"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("CALL graft.system.tag('tg', 'v7')").collect())
      assert(e2.getMessage.contains("shadows"), e2.getMessage)
      val e3 = intercept[Exception](
        spark.sql("CALL graft.system.tag('tg', 'nope', version => 99)").collect())
      assert(e3.getMessage.contains("99"), e3.getMessage)
      val e4 = intercept[Exception](spark.sql(
        "SELECT * FROM graft.lake.tg VERSION AS OF 'missing'").collect())
      assert(e4.getMessage.contains("missing"), e4.getMessage)
      // drop_tag releases the pin: the next vacuum reclaims, the name is
      // gone, and a re-tag of the name is legal again
      val dropped = spark.sql("CALL graft.system.drop_tag('tg', 'golden')")
        .collect()(0).getLong(0)
      assert(dropped == 1L)
      graft.sources.LakeMaintenance.vacuum(s"$lake/tg")
      val e5 = intercept[Exception](spark.sql(
        "SELECT * FROM graft.lake.tg VERSION AS OF 'golden'").collect())
      assert(e5 != null)
      spark.sql("CALL graft.system.tag('tg', 'golden')") // latest — legal
      assert(canon(spark.sql(
        "SELECT * FROM graft.lake.tg VERSION AS OF 'golden'")) ==
        canon(spark.table("graft.lake.tg")))
    }
  }

  test("path-based timestampAsOf resolves a version (was silently ignored)") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.pt").create() // v1
      val v1At = java.nio.file.Files.getLastModifiedTime(
        graft.sources.LakeSinkFiles.versionsDir(s"$lake/pt")
          .resolve(graft.sources.LakeSinkFiles.versionName(1L)))
        .toMillis
      Thread.sleep(1100) // distinct commit instants (mtime granularity)
      threeRows(1).writeTo("graft.lake.pt").append() // v2
      // an instant between the commits reads v1's SNAPSHOT, not live rows
      // (assert the VALUE: the r14 option-audit find — this option used
      // to be dropped and the live table served as history)
      val between = spark.read.format("graft.sources.LakeSink")
        .option("timestampAsOf", (v1At + 500).toString).load(s"$lake/pt")
      assert(canon(between) == canon(threeRows(0)),
        "timestampAsOf must serve the at-or-before snapshot")
      // SQL-timestamp text form resolves too (far future = latest)
      val late = spark.read.format("graft.sources.LakeSink")
        .option("timestampAsOf", "2999-01-01 00:00:00").load(s"$lake/pt")
      assert(late.count() == threeRows(0).count() + threeRows(1).count())
      // before all history: loud refusal, not an empty guess
      val e1 = intercept[Exception](spark.read.format("graft.sources.LakeSink")
        .option("timestampAsOf", "1000").load(s"$lake/pt").collect())
      assert(e1.getMessage.contains("timestampAsOf"), e1.getMessage)
      // both travel options together refuse
      val e2 = intercept[Exception](spark.read.format("graft.sources.LakeSink")
        .option("versionAsOf", "1").option("timestampAsOf", "2999-01-01 00:00:00")
        .load(s"$lake/pt").collect())
      assert(e2.getMessage.contains("not both"), e2.getMessage)
      // CDF combine refuses by name
      val e3 = intercept[Exception](spark.read.format("graft.sources.LakeSink")
        .option("readChangeFeed", "true")
        .option("timestampAsOf", (v1At + 500).toString)
        .load(s"$lake/pt").collect())
      assert(e3.getMessage.contains("timestampAsOf"), e3.getMessage)
    }
  }

  test("changes: append feeds inserts only; diff law holds across an UPDATE") {
    import graft.sources.LakeVersions
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.cdc").create() // v1
      threeRows(1).writeTo("graft.lake.cdc").append() // v2
      val appendFeed = LakeVersions.changes(spark, s"$lake/cdc", 1, 2)
      assert(appendFeed.filter(col("_change_type") === "delete").count() == 0,
        "an append removes no files")
      assert(canon(appendFeed.drop("_change_type")) == canon(threeRows(1)))

      spark.sql("UPDATE graft.lake.cdc SET v = 'patched' WHERE id = 2") // v3
      val feed = LakeVersions.changes(spark, s"$lake/cdc", 2, 3)
      val ins = feed.filter(col("_change_type") === "insert").drop("_change_type")
      val del = feed.filter(col("_change_type") === "delete").drop("_change_type")
      // copy-on-write diff law: snapshot(2) − deletes + inserts ≡ snapshot(3)
      val v2 = spark.sql("SELECT * FROM graft.lake.cdc VERSION AS OF 2")
      val v3 = spark.sql("SELECT * FROM graft.lake.cdc VERSION AS OF 3")
      val applied = (canon(v2).diff(canon(del)) ++ canon(ins)).sorted
      assert(applied == canon(v3), "applying the change feed to v2 must yield v3")
      // EXACT leg shapes (the r12 masked-off-by-one lesson): the insert
      // legs are precisely the delete legs with the UPDATE applied (a cow
      // rewrite replays carried rows as delete+insert PAIRS), and the
      // changed row itself is in the rewrite exactly once
      assert(canon(ins) == canon(del.withColumn("v",
        when(col("id") === 2, lit("patched")).otherwise(col("v")))),
        "insert legs must be the delete legs with the update applied")
      assert(del.filter(col("id") === 2).count() == 1L &&
        ins.filter(col("v") === "patched").count() == 1L)
    }
  }

  test("partition-scoped compaction (OPTIMIZE WHERE): only the named partition rewrites") {
    withLake { lake =>
      import spark.implicits._
      // two partitions, several small files each (clustering off so every
      // append sprays per-task files)
      (0 until 40).map(i => (i.toLong, i % 2, s"v$i")).toDF("id", "p", "v")
        .repartition(4)
        .write.format("graft.sources.LakeSink").mode("append")
        .option("distributionMode", "none") // per-task files: small-file spray
        .option("partitionCols", "p")
        .save(s"$lake/oc")
      def filesOf(dirKey: String): Seq[(String, Long, Long)] = {
        val it = Files.walk(Paths.get(s"$lake/oc")).iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f) && f.toString.contains(dirKey) &&
              !f.toString.contains("_graft_retired") &&
              !f.toString.contains("_staging") &&
              f.getFileName.toString.endsWith(".json.gz"))
            out += ((f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis))
        }
        out.sortBy(_._1).toSeq
      }
      val before0 = filesOf("p=0")
      val before1 = filesOf("p=1")
      assert(before0.size > 1 && before1.size > 1, s"${before0.size}/${before1.size}")
      val rows = canon(spark.read.format("graft.sources.LakeSink").load(s"$lake/oc"))
      // compact ONLY p=1
      val (nDirs, _, nOut) = LakeMaintenance.compact(spark, s"$lake/oc",
        None, Map("p" -> "1"))
      assert(nDirs == 1 && nOut == 1, s"dirs=$nDirs out=$nOut")
      assert(filesOf("p=0") == before0,
        "the untouched partition's files must survive bit-identically")
      assert(filesOf("p=1").size == 1)
      assert(canon(spark.read.format("graft.sources.LakeSink").load(s"$lake/oc")) == rows)
      // a non-matching scope compacts nothing
      assert(LakeMaintenance.compact(spark, s"$lake/oc", None,
        Map("p" -> "7")) == ((0, 0, 0)))
    }
  }

  test("vacuum with a retention horizon: versions inside the horizon stay readable and restorable") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.rh").create() // v1
      spark.sql("UPDATE graft.lake.rh SET v = 'p1' WHERE id = 1") // v2 (cow: retires v1 files)
      spark.sql("UPDATE graft.lake.rh SET v = 'p2' WHERE id = 2") // v3 (retires v2's rewrite)
      spark.sql("UPDATE graft.lake.rh SET v = 'p3' WHERE id = 3") // v4
      val v3Rows = canon(spark.sql("SELECT * FROM graft.lake.rh VERSION AS OF 3"))
      val liveRows = canon(spark.table("graft.lake.rh"))
      // keep the last 2 versions (v3, v4): v1/v2 records drop, and only
      // retired files no kept record references are reclaimed
      val (files, records) = LakeMaintenance.vacuum(s"$lake/rh", keepLast = Some(2))
      assert(records == 2, s"expected 2 records dropped, got $records")
      assert(files > 0, "pre-horizon retired files must be reclaimed")
      assert(LakeSinkFiles.listVersions(s"$lake/rh") == Seq(3L, 4L))
      // inside the horizon: time travel AND restore still work — v3 needs
      // a RETIRED file (v4's update rewrote it), which must have survived
      assert(canon(spark.sql("SELECT * FROM graft.lake.rh VERSION AS OF 3")) == v3Rows)
      LakeMaintenance.restore(s"$lake/rh", 3L) // v5
      assert(canon(spark.table("graft.lake.rh")) == v3Rows)
      LakeMaintenance.restore(s"$lake/rh", 4L) // v6: roll forward again
      assert(canon(spark.table("graft.lake.rh")) == liveRows)
      // outside the horizon: loud failures, never silent partials
      val e1 = intercept[Exception](
        spark.sql("SELECT * FROM graft.lake.rh VERSION AS OF 2").collect())
      assert(e1.getMessage.contains("no recorded version"), e1.getMessage)
      val e2 = intercept[Exception](LakeMaintenance.restore(s"$lake/rh", 1L))
      assert(e2.getMessage != null)
      // the default form still wipes: only the newest record remains
      val (_, dropped) = LakeMaintenance.vacuum(s"$lake/rh")
      assert(dropped == 3 && LakeSinkFiles.listVersions(s"$lake/rh") == Seq(6L))
    }
  }

  test("vacuum with an AGE horizon: recent records survive regardless of count") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.ah").create() // v1
      spark.sql("UPDATE graft.lake.ah SET v = 'p1' WHERE id = 1") // v2
      spark.sql("UPDATE graft.lake.ah SET v = 'p2' WHERE id = 2") // v3
      // age v1 and v2 artificially past the cutoff; v3 stays fresh
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L)
      Seq(1L, 2L).foreach { v =>
        Files.setLastModifiedTime(
          LakeSinkFiles.versionsDir(s"$lake/ah").resolve(f"v$v%09d"), old)
      }
      val cutoff = System.currentTimeMillis() - 1800_000L
      // RETAIN 30 minutes: v1/v2 drop (old), v3 survives by age
      val (_, dropped) = LakeMaintenance.vacuum(s"$lake/ah",
        keepLast = Some(1), olderThanMillis = Some(cutoff))
      assert(dropped == 2, s"expected v1+v2 dropped, got $dropped")
      assert(LakeSinkFiles.listVersions(s"$lake/ah") == Seq(3L))
      // the two horizons COMPOSE: keepLast keeps records the age would drop
      threeRows(1).writeTo("graft.lake.ah").append() // v4
      spark.sql("UPDATE graft.lake.ah SET v = 'p3' WHERE id = 3") // v5
      Seq(3L, 4L, 5L).foreach { v =>
        Files.setLastModifiedTime(
          LakeSinkFiles.versionsDir(s"$lake/ah").resolve(f"v$v%09d"), old)
      }
      val (_, dropped2) = LakeMaintenance.vacuum(s"$lake/ah",
        keepLast = Some(2), olderThanMillis = Some(cutoff))
      assert(dropped2 == 1 && LakeSinkFiles.listVersions(s"$lake/ah") == Seq(4L, 5L),
        s"keepLast=2 must keep v4+v5 even though both aged out (dropped $dropped2)")
      // v4 is restorable inside the keepLast horizon
      LakeMaintenance.restore(s"$lake/ah", 4L)
      assert(spark.table("graft.lake.ah").count() == 6)
    }
  }

  test("a CDF stream whose offset predates the vacuum horizon fails loudly, never skips") {
    withLake { lake =>
      import org.apache.spark.sql.streaming.Trigger
      threeRows(0).writeTo("graft.lake.vh").create() // v1
      val ckpt = TempLakes.dir("graft_vh_ckpt")
      val outDir = TempLakes.dir("graft_vh_out")
      // drains land in a lake table — memory sinks refuse checkpoint
      // recovery (the LakeCdfSpec lesson)
      def drain(): Unit = {
        val q = spark.readStream.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true")
          .load(s"$lake/vh")
          .writeStream.format("graft.sources.LakeSink")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // offset now at v1
      threeRows(1).writeTo("graft.lake.vh").append() // v2
      spark.sql("UPDATE graft.lake.vh SET v = 'x' WHERE id = 11") // v3
      threeRows(2).writeTo("graft.lake.vh").append() // v4
      // vacuum past the stream's offset: v1..v3 records drop
      LakeMaintenance.vacuum(s"$lake/vh", keepLast = Some(1))
      // the restarted stream must refuse — replaying v4 alone would
      // silently lose v2's inserts and v3's rewrite legs
      val e = intercept[Exception](drain())
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
      assert(rootMsg(e).contains("no longer complete"), rootMsg(e).take(400))
    }
  }

  test("partition-spec evolution: daily -> hourly, both generations readable and pruned") {
    withLake { lake =>
      // 2 day-partitioned files (2 UTC days), written under days(ts)
      spark.sql(
        """CREATE TABLE graft.lake.pe PARTITIONED BY (days(ts)) AS
           SELECT CAST(id AS BIGINT) AS id,
             timestamp'2026-03-01 01:00:00' + make_interval(0,0,0,0,12 * CAST(id AS INT)) AS ts
           FROM range(4)""") // days: 03-01, 03-01, 03-02, 03-02
      val gen1 = canon(spark.table("graft.lake.pe"))
      LakeMaintenance.evolvePartitionSpec(s"$lake/pe", Seq("hours(ts)")) // v2
      // appends now land under the HOURLY layout
      spark.sql(
        """INSERT INTO graft.lake.pe
           SELECT CAST(100 + id AS BIGINT) AS id,
             timestamp'2026-03-03 02:30:00' + make_interval(0,0,0,0,CAST(id AS INT)) AS ts
           FROM range(2)""") // hours: 02, 03
      // both directory generations exist on disk
      val dirs = Files.list(Paths.get(s"$lake/pe")).iterator()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (dirs.hasNext) names += dirs.next().getFileName.toString
      assert(names.exists(_.startsWith("ts_day=")) &&
        names.exists(_.startsWith("ts_hour=")), names.sorted.mkString(","))
      // the full read serves both generations
      val all = canon(spark.table("graft.lake.pe"))
      assert(all.size == 6 && gen1.forall(all.contains))
      // cross-generation TEMPORAL pruning: with the recorded stats gone, a
      // plain ts filter must still prune old DAY dirs and new HOUR dirs
      // through each file's own generation's interval
      LakeRecords.stripFacts(s"$lake/pe", "stats")
      val q = spark.table("graft.lake.pe")
        .filter(col("ts") >= expr("timestamp'2026-03-02 00:00:00'") &&
          col("ts") < expr("timestamp'2026-03-03 03:00:00'"))
      q.collect()
      val m = "skippedFiles=(\\d+)".r.findFirstMatchIn(
        q.queryExecution.executedPlan.toString)
      assert(m.isDefined && m.get.group(1).toInt == 2,
        s"one day dir (03-01) + one hour dir (03) must prune: ${m.map(_.group(1))}")
      assert(q.count() == 3) // the 03-02 day file (2 rows) + hour 02 (1 row)
      // pre-evolution snapshots read under the DAY spec they recorded
      assert(canon(spark.sql("SELECT * FROM graft.lake.pe VERSION AS OF 1")) == gen1)
      // SHOW PARTITIONS lists the ACTIVE spec's dirs only
      val parts = spark.sql("SHOW PARTITIONS graft.lake.pe")
        .collect().map(_.getString(0)).sorted
      assert(parts.toSeq == Seq("ts_hour=2026-03-03-02", "ts_hour=2026-03-03-03"),
        parts.mkString(","))
      // SPJ stands down on a mixed-spec table (no missing-dir crash, same rows)
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(key))
          Some(spark.conf.get(key)) else None
      try {
        spark.conf.set(key, "true")
        assert(canon(spark.table("graft.lake.pe")) == all)
      } finally prevB.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
      // identity specs refuse in either direction
      val e = intercept[Exception](
        LakeMaintenance.evolvePartitionSpec(s"$lake/pe", Seq("id")))
      assert(e.getMessage.contains("IDENTITY"), e.getMessage)
    }
  }

  test("changes across a RESTORE: un-vectored positions replay as INSERT legs (diff law)") {
    import graft.sources.LakeVersions
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.udl").create() // v1: ids 1,2,3
      spark.sql("DELETE FROM graft.lake.udl WHERE id = 2") // v2 (mor vector)
      LakeMaintenance.restore(s"$lake/udl", 1L) // v3: vector undone, files unchanged
      val feed = LakeVersions.changes(spark, s"$lake/udl", 2, 3)
      val ins = feed.filter(col("_change_type") === "insert").drop("_change_type")
      val del = feed.filter(col("_change_type") === "delete").drop("_change_type")
      assert(del.count() == 0, "restore undoing a mor DELETE removes nothing")
      assert(canon(ins) == canon(threeRows(0).filter(col("id") === 2)),
        "the un-deleted row must surface as an insert leg")
      // the diff law holds AT the restore version: v2 − deletes + inserts ≡ v3
      val v2 = spark.sql("SELECT * FROM graft.lake.udl VERSION AS OF 2")
      val v3 = spark.sql("SELECT * FROM graft.lake.udl VERSION AS OF 3")
      assert((canon(v2).diff(canon(del)) ++ canon(ins)).sorted == canon(v3),
        "applying the change feed to v2 must yield the restored v3")
    }
  }

  test("restore of a PARTIALLY vacuumed version fails with zero filesystem mutation") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.pvac").create() // v1
      threeRows(1).writeTo("graft.lake.pvac").append() // v2
      spark.sql("TRUNCATE TABLE graft.lake.pvac") // v3: every file retired
      threeRows(2).writeTo("graft.lake.pvac").append() // v4
      // simulate a PARTIAL vacuum: exactly one of v2's retired files is gone
      val retired = LakeSinkFiles.retiredDir(s"$lake/pvac")
      val it = Files.walk(retired).iterator()
      val victims = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) victims += p }
      assert(victims.size >= 2, s"need >=2 retired files, got ${victims.size}")
      Files.delete(victims.sortBy(_.toString).head)
      val liveBefore = canon(spark.table("graft.lake.pvac"))
      val retiredBefore = {
        val i2 = Files.walk(retired).iterator()
        var n = 0; while (i2.hasNext) { if (Files.isRegularFile(i2.next())) n += 1 }; n
      }
      val e = intercept[Exception](LakeMaintenance.restore(s"$lake/pvac", 2L))
      assert(e.getMessage.contains("vacuumed"), e.getMessage)
      // ZERO mutation: pre-validation must fail BEFORE the first move — no
      // retired file moved back, no version recorded, live table unchanged
      val retiredAfter = {
        val i2 = Files.walk(retired).iterator()
        var n = 0; while (i2.hasNext) { if (Files.isRegularFile(i2.next())) n += 1 }; n
      }
      assert(retiredAfter == retiredBefore,
        s"failed restore moved retired files: $retiredBefore -> $retiredAfter")
      assert(canon(spark.table("graft.lake.pvac")) == liveBefore)
      assert(LakeSinkFiles.listVersions(s"$lake/pvac") == (1L to 4L),
        "a failed restore must not record a version")
      // an INTACT version still restores after the failed attempt
      LakeMaintenance.restore(s"$lake/pvac", 3L) // v5: the empty truncated state
      assert(spark.table("graft.lake.pvac").count() == 0)
    }
  }

  test("SHOW PARTITIONS lists the k=v dirs; DROP PARTITION retires them as a version") {
    withLake { lake =>
      import spark.implicits._
      (0 until 60).map(i => (i.toLong, i % 3, java.sql.Date.valueOf(s"2026-02-0${1 + i % 2}")))
        .toDF("id", "p", "d")
        .writeTo("graft.lake.pm").partitionedBy(col("p"), col("d")).create()
      val parts = spark.sql("SHOW PARTITIONS graft.lake.pm")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(parts == Seq(
        "p=0/d=2026-02-01", "p=0/d=2026-02-02",
        "p=1/d=2026-02-01", "p=1/d=2026-02-02",
        "p=2/d=2026-02-01", "p=2/d=2026-02-02"), parts.mkString(";"))
      // partial spec narrows the listing
      val sub = spark.sql("SHOW PARTITIONS graft.lake.pm PARTITION (p = 1)")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(sub == Seq("p=1/d=2026-02-01", "p=1/d=2026-02-02"), sub.mkString(";"))
      // DROP PARTITION: metadata-only retire + version transition
      spark.sql("ALTER TABLE graft.lake.pm DROP PARTITION (p = 1, d = '2026-02-01')")
      assert(spark.sql("SHOW PARTITIONS graft.lake.pm").count() == 5)
      assert(spark.table("graft.lake.pm").count() == 50)
      val vs = LakeSinkFiles.listVersions(s"$lake/pm")
      assert(spark.sql(s"SELECT * FROM graft.lake.pm VERSION AS OF ${vs.init.last}")
        .count() == 60, "pre-drop snapshot must still read the dropped partition")
      // DELETE with an IN-list of partition values is metadata-only too:
      // no staging activity, two whole partitions vanish
      spark.sql("DELETE FROM graft.lake.pm WHERE p IN (0, 2)")
      assert(spark.table("graft.lake.pm").count() == 10,
        "only p=1's remaining partition survives")
      assert(spark.sql("SHOW PARTITIONS graft.lake.pm").count() == 1)
      // dropping a missing partition errors (no IF EXISTS)
      val e = intercept[Exception](spark.sql(
        "ALTER TABLE graft.lake.pm DROP PARTITION (p = 9, d = '2026-02-01')"))
      assert(e.getMessage != null)
      // ... and is silent with IF EXISTS
      spark.sql("ALTER TABLE graft.lake.pm DROP IF EXISTS PARTITION (p = 9, d = '2026-02-01')")
      // ADD PARTITION is refused: partitions exist by writing rows
      val a = intercept[Exception](spark.sql(
        "ALTER TABLE graft.lake.pm ADD PARTITION (p = 7, d = '2026-02-01')"))
      assert(a.getMessage.contains("dynamic partitioning") ||
        a.getMessage.contains("ADD PARTITION"), a.getMessage)
    }
  }

  test("partition overwrite: dynamic replaces touched dirs only; static replaceWhere; refusals") {
    withLake { lake =>
      import spark.implicits._
      def filesOf(dir: String): Seq[String] = {
        val p = Paths.get(dir)
        if (!Files.isDirectory(p)) Seq.empty
        else {
          val it = Files.list(p).iterator()
          var out = List.empty[String]
          while (it.hasNext) out ::= it.next().getFileName.toString
          out.sorted
        }
      }
      (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "p")
        .writeTo("graft.lake.ow").partitionedBy(col("p")).create() // v1
      val p2Before = filesOf(s"$lake/ow/p=2")
      assert(p2Before.nonEmpty)
      // DYNAMIC: incoming rows touch only p=0 and p=1
      (100 until 110).map(i => (i.toLong, i % 2)).toDF("id", "p")
        .writeTo("graft.lake.ow").overwritePartitions() // v2
      val t = spark.table("graft.lake.ow")
      assert(t.filter(col("p") === 2).count() == 10, "untouched partition intact")
      assert(t.filter(col("p") < 2).collect().map(_.getLong(0)).sorted.toSeq ==
        (100L until 110L), "touched partitions fully replaced")
      assert(filesOf(s"$lake/ow/p=2") == p2Before,
        "the untouched partition's files must survive bit-identically")
      // the pre-overwrite snapshot still reads the replaced rows
      val vs = LakeSinkFiles.listVersions(s"$lake/ow")
      assert(spark.sql(s"SELECT * FROM graft.lake.ow VERSION AS OF ${vs.init.last}")
        .count() == 30)
      // STATIC replaceWhere: only the named partition is replaced
      Seq((900L, 2)).toDF("id", "p")
        .writeTo("graft.lake.ow").overwrite(col("p") === 2) // v3
      val after = spark.table("graft.lake.ow")
      assert(after.filter(col("p") === 2).collect().map(_.getLong(0)).toSeq == Seq(900L))
      assert(after.count() == 11)
      // a non-partition condition is refused at planning, nothing changes
      val e = intercept[Exception](Seq((1L, 0)).toDF("id", "p")
        .writeTo("graft.lake.ow").overwrite(col("id") === 5L))
      assert(e.getMessage.contains("partition-equality"), e.getMessage)
      assert(spark.table("graft.lake.ow").count() == 11)
      // overwrite(TRUE) degenerates to truncate-and-replace
      Seq((7L, 7)).toDF("id", "p").writeTo("graft.lake.ow").overwrite(lit(true))
      assert(canon(spark.table("graft.lake.ow")) == Seq("[7,7]"))
    }
  }

  test("SQL TRUNCATE TABLE retires everything as a version; count ledger follows") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.tt2").create() // v1
      spark.sql("TRUNCATE TABLE graft.lake.tt2") // v2
      assert(spark.table("graft.lake.tt2").count() == 0)
      assert(canon(spark.sql("SELECT * FROM graft.lake.tt2 VERSION AS OF 1")) ==
        canon(threeRows(0)), "pre-truncate snapshot must survive")
      // the empty table still answers count(*) from metadata (zero files)
      val c = spark.sql("SELECT count(*) AS n FROM graft.lake.tt2")
      assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(c.collect()(0).getLong(0) == 0L)
      // and accepts new appends afterwards
      threeRows(1).writeTo("graft.lake.tt2").append()
      assert(spark.table("graft.lake.tt2").count() == 3)
    }
  }

  // --- optimistic concurrency (round-10) -------------------------------------

  /** Every live committed data file of a lake table, absolute paths. */
  private def dataFiles(path: String): Seq[String] = {
    val root = Paths.get(path)
    val it = Files.walk(root).iterator()
    var out = List.empty[String]
    while (it.hasNext) {
      val p = it.next(); val n = p.getFileName.toString
      if (Files.isRegularFile(p) && n.startsWith("part-") && n.endsWith(".json.gz")
          && !p.startsWith(LakeSinkFiles.stagingDir(path))
          && !p.startsWith(LakeSinkFiles.retiredDir(path))) out ::= p.toString
    }
    out.sorted
  }

  test("concurrent committers reserve DISTINCT versions — no record silently overwritten") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.cc").create() // v1
      val path = s"$lake/cc"
      val n = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val start = new java.util.concurrent.CountDownLatch(1)
      val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      try {
        val futs = (1 to n).map { _ =>
          pool.submit(new Runnable {
            def run(): Unit = { start.await(); ids.add(LakeSinkFiles.recordVersion(path)); () }
          })
        }
        start.countDown()
        futs.foreach(_.get())
      } finally pool.shutdown()
      import scala.jdk.CollectionConverters._
      val got = ids.asScala.toSeq.sorted
      assert(got == (2L to n + 1L), s"expected $n distinct reserved ids, got $got")
      assert(LakeSinkFiles.listVersions(path) == (1L to n + 1L),
        "every committer's record must survive — the probe-then-move race lost these")
      (1L to n + 1L).foreach { v =>
        val (_, _, fs) = LakeSinkFiles.readVersion(path, v)
        assert(fs.nonEmpty, s"version $v record must be complete")
      }
    }
  }

  test("two GENUINELY concurrent batch appenders: both data sets land, both versions survive") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.cw").create() // v1
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val futs = Seq(1, 2).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              threeRows(t).write.format("graft.sources.LakeSink")
                .mode("append").save(s"$lake/cw")
            }
          })
        }
        start.countDown()
        futs.foreach(_.get())
      } finally pool.shutdown()
      assert(canon(spark.table("graft.lake.cw")) ==
        canon(threeRows(0).unionAll(threeRows(1)).unionAll(threeRows(2))),
        "no appender's rows may be lost")
      val vs = LakeSinkFiles.listVersions(s"$lake/cw")
      assert(vs == Seq(1L, 2L, 3L),
        s"both committers' version records must survive with distinct ids: $vs")
      assert(spark.table("graft.lake.cw.history").count() == 3,
        ".history must show all three commits")
    }
  }

  test("a STALE row-level rewrite aborts loudly BEFORE mutating (commit conflict detection)") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.st").create() // v1
      threeRows(1).writeTo("graft.lake.st").append() // v2 — ≥2 files now
      val path = s"$lake/st"
      // a row-level operation records its planned group set NOW…
      val stale = dataFiles(path)
      assert(stale.size >= 2, s"precondition: multiple committed files, got $stale")
      // …then a concurrent compaction rewrites exactly those files (v3)
      val (_, fin, fout) = LakeMaintenance.compact(spark, path)
      assert(fin == stale.size && fout == 1)
      val before = canon(spark.table("graft.lake.st"))
      val vsBefore = LakeSinkFiles.listVersions(path)
      val filesBefore = dataFiles(path)
      // the stale operation's commit must detect the conflict and abort
      // loudly with ZERO mutations — silently skipping the vanished
      // originals would duplicate every row it meant to replace
      val w = new graft.sources.LakeSinkReplaceBatchWrite(
        spark.table("graft.lake.st").schema, path, Seq.empty, "stale", () => stale)
      val e = intercept[java.util.ConcurrentModificationException](
        w.commit(Array.empty))
      assert(e.getMessage.contains("conflict"), e.getMessage)
      assert(canon(spark.table("graft.lake.st")) == before, "table must be untouched")
      assert(LakeSinkFiles.listVersions(path) == vsBefore, "no version recorded")
      assert(dataFiles(path) == filesBefore, "file set unchanged — zero lost files")
    }
  }

  test("scan planning reads the latest recorded manifest, not the directory tree") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.mf").create() // v1
      threeRows(1).writeTo("graft.lake.mf").append() // v2
      val path = s"$lake/mf"
      val filesBefore = spark.table("graft.lake.mf.files").count()
      // plant an ORPHAN data file: a crashed peer's promoted-but-
      // unrecorded bytes (promote landed, recordVersion never did) — a
      // directory walk would read it; the manifest must not
      val orphanSrc = dataFiles(path).head
      Files.copy(Paths.get(orphanSrc), Paths.get(path, "part-orphan-0.json.gz"))
      assert(canon(spark.table("graft.lake.mf")) ==
        canon(threeRows(0).unionAll(threeRows(1))),
        "live reads must plan the recorded manifest, not the tree")
      assert(spark.table("graft.lake.mf.files").count() == filesBefore,
        ".files must list the manifest, not the tree")
      // the next commit's MANIFEST ARITHMETIC record (base − removes +
      // adds) still excludes the orphan — uncommitted bytes never enter
      // the version chain
      threeRows(2).writeTo("graft.lake.mf").append() // v3
      assert(canon(spark.table("graft.lake.mf")) ==
        canon(threeRows(0).unionAll(threeRows(1)).unionAll(threeRows(2))))
      val (_, _, rels) = LakeSinkFiles.readVersion(path, 3L)
      assert(!rels.contains("part-orphan-0.json.gz"),
        "arithmetic version records must not absorb orphaned promotes")
      // a truncating overwrite is the one deliberate tree walk — it also
      // reclaims the orphan (retire refuses a collision with recorded
      // history, so the orphan's unique name retires cleanly)
      threeRows(3).write.format("graft.sources.LakeSink")
        .mode("overwrite").save(path) // v4
      assert(canon(spark.table("graft.lake.mf")) == canon(threeRows(3)))
      assert(!Files.exists(Paths.get(path, "part-orphan-0.json.gz")),
        "truncate must sweep orphaned promotes out of the live tree")
    }
  }

  test("VERSION AS OF count/min/max answer from the version's recorded ledgers") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.sa").create() // v1: ids 1,2,3
      threeRows(1).writeTo("graft.lake.sa").append() // v2: + ids 11,12,13
      def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
      val v1cnt = spark.sql("SELECT count(*) AS n FROM graft.lake.sa VERSION AS OF 1")
      assert(plan(v1cnt).contains("graft-lake-agg"),
        s"snapshot count must push to the recorded ledgers:\n${plan(v1cnt)}")
      assert(v1cnt.collect()(0).getLong(0) == 3L)
      val v1mm = spark.sql(
        "SELECT min(id) AS lo, max(id) AS hi FROM graft.lake.sa VERSION AS OF 1")
      assert(plan(v1mm).contains("graft-lake-agg"), plan(v1mm))
      val r = v1mm.collect()(0)
      assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
      assert(spark.sql("SELECT max(id) AS hi FROM graft.lake.sa VERSION AS OF 2")
        .collect()(0).getLong(0) == 13L)
      // a LATER merge-on-read DELETE mutates the live ledgers, not
      // history: v2's metadata answers are frozen at its commit
      spark.sql("DELETE FROM graft.lake.sa WHERE id = 13") // v3: vectors only
      val v2cnt = spark.sql("SELECT count(*) AS n FROM graft.lake.sa VERSION AS OF 2")
      assert(plan(v2cnt).contains("graft-lake-agg"), plan(v2cnt))
      assert(v2cnt.collect()(0).getLong(0) == 6L,
        "a snapshot's count must not see later delete vectors")
      // …while v3's own snapshot subtracts ITS recorded vectors exactly
      val v3cnt = spark.sql("SELECT count(*) AS n FROM graft.lake.sa VERSION AS OF 3")
      assert(plan(v3cnt).contains("graft-lake-agg"), plan(v3cnt))
      assert(v3cnt.collect()(0).getLong(0) == 5L)
      // and a vectored file soundly refuses min/max metadata answers
      // (the bound's row may be the deleted one) — falls back to scanning
      val v3max = spark.sql("SELECT max(id) AS hi FROM graft.lake.sa VERSION AS OF 3")
      assert(!plan(v3max).contains("graft-lake-agg"),
        "min/max over a vectored snapshot must scan, not trust stale bounds")
      assert(v3max.collect()(0).getLong(0) == 12L)
    }
  }

  test("a rewrite racing a MERGE-ON-READ DELETE aborts loudly (stale vector set)") {
    import graft.sources.LakeSinkDeletes
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.vr").create() // v1
      val path = s"$lake/vr"
      // a row-level rewrite plans NOW: file set + the vector snapshot its
      // scan filtered with (none yet)
      val planned = dataFiles(path)
      val plannedVecs = LakeSinkDeletes.read(path)
      assert(plannedVecs.isEmpty, "precondition: no vectors at planning")
      // …then a concurrent merge-on-read DELETE commits vectors WITHOUT
      // touching a single data file — requireAllLive alone cannot see it
      spark.sql("DELETE FROM graft.lake.vr WHERE id = 2") // v2: vectors only
      assert(dataFiles(path) == planned,
        "precondition: the mor DELETE rewrote no files — the blind spot under test")
      assert(LakeSinkDeletes.read(path).nonEmpty, "precondition: vectors landed")
      val before = canon(spark.table("graft.lake.vr"))
      val vsBefore = LakeSinkFiles.listVersions(path)
      // the stale rewrite's commit must detect the vector drift and abort
      // with ZERO mutations — materializing survivors from the stale
      // vector set would silently resurrect the deleted row
      val w = new graft.sources.LakeSinkReplaceBatchWrite(
        spark.table("graft.lake.vr").schema, path, Seq.empty, "stalev",
        () => planned, () => plannedVecs)
      val e = intercept[java.util.ConcurrentModificationException](
        w.commit(Array.empty))
      assert(e.getMessage.contains("delete vectors"), e.getMessage)
      assert(canon(spark.table("graft.lake.vr")) == before, "table must be untouched")
      assert(LakeSinkFiles.listVersions(path) == vsBefore, "no version recorded")
      // compaction shares the same guard: its planning-time vector
      // snapshot is validated at commit, so a compaction planned before
      // the DELETE would abort the same way (here, planned AFTER — it
      // materializes the current vectors and succeeds)
      val (dirs, _, _) = LakeMaintenance.compact(spark, path)
      assert(dirs == 1)
      assert(canon(spark.table("graft.lake.vr")) == before,
        "post-DELETE compaction materializes the vectors losslessly")
    }
  }

  test("retired-name collision refuses loudly; the first retired bytes are preserved") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.rx").create()
      val path = s"$lake/rx"
      val f = dataFiles(path).head
      val rel = Paths.get(path).relativize(Paths.get(f))
      val orig = Files.readAllBytes(Paths.get(f))
      LakeSinkFiles.retire(path, Seq(f))
      // adversarially re-create the SAME relative name live, then retire it
      Files.write(Paths.get(f), "impostor".getBytes)
      val e = intercept[IllegalStateException](LakeSinkFiles.retire(path, Seq(f)))
      assert(e.getMessage.contains("collision"), e.getMessage)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(LakeSinkFiles.retiredDir(path).resolve(rel)), orig),
        "overwriting the first retired bytes would corrupt VERSION AS OF reads")
    }
  }

  test("an unfinished version reservation is invisible to readers and skipped by committers") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.rv").create() // v1
      val path = s"$lake/rv"
      // simulate a committer that crashed between reservation and record
      Files.createFile(LakeSinkFiles.versionsDir(path).resolve("v000000002"))
      assert(LakeSinkFiles.listVersions(path) == Seq(1L),
        "an empty reservation is not readable history")
      val e = intercept[Exception](LakeSinkFiles.readVersion(path, 2L))
      assert(e.getMessage.contains("reservation"), e.getMessage)
      // the next commit reserves PAST the crashed hole
      threeRows(1).writeTo("graft.lake.rv").append()
      assert(LakeSinkFiles.listVersions(path) == Seq(1L, 3L))
      assert(spark.table("graft.lake.rv").count() == 6)
      // a FRESH zero-length reservation is a LIVE mid-commit marker —
      // vacuum must NOT reclaim it (sweeping it would let another
      // committer re-reserve the id and be silently overwritten)
      LakeMaintenance.vacuum(path)
      assert(Files.exists(LakeSinkFiles.versionsDir(path).resolve("v000000002")),
        "vacuum must not sweep a reservation younger than the age gate")
      // once the marker is provably stale (older than the age gate), it
      // IS crashed garbage and the sweep reclaims it
      Files.setLastModifiedTime(
        LakeSinkFiles.versionsDir(path).resolve("v000000002"),
        java.nio.file.attribute.FileTime.from(java.time.Instant.now()
          .minus(LakeMaintenance.ReservationSweepAge).minusSeconds(60)))
      LakeMaintenance.vacuum(path)
      assert(!Files.exists(LakeSinkFiles.versionsDir(path).resolve("v000000002")),
        "vacuum must reclaim crashed reservations")
      assert(LakeSinkFiles.listVersions(path) == Seq(3L))
    }
  }

  test("merge-on-read DELETE: zero rewrites, vector-adjusted metadata, CDF law, compaction materializes") {
    import graft.sources.{LakeSinkDeletes, LakeVersions}
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.mor").create() // v1: 4 range files
      val path = s"$lake/mor"
      val filesBefore = dataFiles(path)
      val bytesBefore = filesBefore.map(f => Files.readAllBytes(Paths.get(f)).toSeq)
      spark.sql("DELETE FROM graft.lake.mor WHERE id = 42") // v2 — merge-on-read
      // the 1-row DELETE rewrote NOTHING: same files, same bytes
      assert(dataFiles(path) == filesBefore, "no file may be added or removed")
      assert(filesBefore.map(f => Files.readAllBytes(Paths.get(f)).toSeq) == bytesBefore,
        "a merge-on-read DELETE must not touch a data file")
      assert(LakeSinkDeletes.read(path).values.map(_.length).sum == 1)
      // the row is hidden from every live read
      assert(spark.table("graft.lake.mor").count() == 99)
      assert(spark.table("graft.lake.mor").filter(col("id") === 42).count() == 0)
      // count(*) still answers from metadata, vector-adjusted
      val c = spark.sql("SELECT count(*) AS n FROM graft.lake.mor")
      assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "count(*) must stay a metadata answer under vectors")
      assert(c.collect()(0).getLong(0) == 99L)
      // time travel applies each version's OWN vectors
      assert(spark.sql("SELECT * FROM graft.lake.mor VERSION AS OF 1").count() == 100)
      assert(spark.sql("SELECT * FROM graft.lake.mor VERSION AS OF 2").count() == 99)
      // CDF v1→v2: exactly the deleted ROW as a delete leg, zero inserts
      val feed = LakeVersions.changes(spark, path, 1, 2)
      assert(feed.filter(col("_change_type") === "insert").count() == 0)
      val del = feed.filter(col("_change_type") === "delete").drop("_change_type")
      assert(del.collect().map(_.getLong(0)).toSeq == Seq(42L),
        "the change feed must replay exactly the vectored row")
      // a second DELETE unions vectors across files
      spark.sql("DELETE FROM graft.lake.mor WHERE id IN (7, 43)") // v3
      assert(spark.table("graft.lake.mor").count() == 97)
      val feed23 = LakeVersions.changes(spark, path, 2, 3)
      assert(feed23.filter(col("_change_type") === "delete")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 43L))
      // full diff law v1→v3 (vector legs only)
      val v1 = canon(spark.sql("SELECT * FROM graft.lake.mor VERSION AS OF 1"))
      val f13 = LakeVersions.changes(spark, path, 1, 3)
      val dels13 = canon(f13.filter(col("_change_type") === "delete").drop("_change_type"))
      assert(v1.diff(dels13).sorted == canon(spark.table("graft.lake.mor")),
        "snapshot(1) − deletes ≡ snapshot(3)")
      // compaction MATERIALIZES: vectors cleared, rows identical, and the
      // rewritten file's fresh stats restore min/max pushdown
      val live = canon(spark.table("graft.lake.mor"))
      LakeMaintenance.compact(spark, path)
      assert(canon(spark.table("graft.lake.mor")) == live,
        "materialization must not change a visible row")
      assert(LakeSinkDeletes.read(path).isEmpty, "vectors cleared by compaction")
      val mm = spark.table("graft.lake.mor").agg(
        min(col("id")).as("mn"), max(col("id")).as("mx"), count(lit(1)).as("n"))
      assert(mm.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "re-derived stats must restore complete pushdown")
      assert(mm.collect()(0).toSeq == Seq(0L, 99L, 97L))
    }
  }

  test("concurrent merge-on-read DELETEs: no commit loses another's vectors") {
    import graft.sources.LakeSinkDeletes
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.cd").create() // v1
      val path = s"$lake/cd"
      // two genuinely concurrent delta commits on DISJOINT predicates —
      // with a single read-modify-write ledger one side's vectors could
      // vanish (deleted rows silently resurfacing); per-commit immutable
      // delete files make the append path race-free
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val futs = Seq(3, 7).map { m =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              spark.sql(s"DELETE FROM graft.lake.cd WHERE id % 10 = $m")
            }
          })
        }
        start.countDown()
        futs.foreach(_.get())
      } finally pool.shutdown()
      assert(spark.table("graft.lake.cd").count() == 80L,
        "both DELETEs' rows must stay hidden — a lost vector resurfaces rows")
      assert(spark.table("graft.lake.cd")
        .filter(col("id") % 10 === 3 || col("id") % 10 === 7).count() == 0L)
      assert(LakeSinkDeletes.read(path).values.map(_.length).sum == 20)
      assert(LakeSinkFiles.listVersions(path).size == 3,
        "both delta commits must record their own version")
      // count(*) metadata answer reflects the union
      val c = spark.sql("SELECT count(*) AS n FROM graft.lake.cd")
      assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(c.collect()(0).getLong(0) == 80L)
    }
  }

  test("merge-on-read UPDATE/MERGE (dml.mode=mor): vectors + delta files, no rewrite") {
    import graft.sources.LakeSinkDeletes
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.moru").create() // v1
      val path = s"$lake/moru"
      val before = dataFiles(path)
      val bytesBefore = before.map(f => Files.readAllBytes(Paths.get(f)).toSeq)
      try {
        spark.conf.set("spark.graft.lake.dml.mode", "mor")
        spark.sql("UPDATE graft.lake.moru SET v = 'patched' WHERE id = 7") // v2
        // originals untouched; exactly ONE new delta file with the new row
        val after = dataFiles(path)
        assert(after.filter(before.contains) == before, "no original removed")
        assert(before.map(f => Files.readAllBytes(Paths.get(f)).toSeq) == bytesBefore,
          "a merge-on-read UPDATE must not rewrite a data file")
        val fresh = after.filterNot(before.contains)
        assert(fresh.size == 1, s"one delta file expected, got $fresh")
        assert(LakeSinkDeletes.read(path).values.map(_.length).sum == 1)
        // semantics identical to copy-on-write
        val t = spark.table("graft.lake.moru")
        assert(t.count() == 100)
        assert(t.filter(col("id") === 7).collect().map(_.getString(1)).toSeq ==
          Seq("patched"))
        assert(spark.sql("SELECT v FROM graft.lake.moru VERSION AS OF 1 WHERE id = 7")
          .collect()(0).getString(0) == "v7", "pre-update snapshot intact")
        // MERGE under mor: one matched update + one not-matched insert
        Seq((13L, "merged"), (200L, "new")).toDF("id", "v")
          .createOrReplaceTempView("graft_moru_src")
        spark.sql("""MERGE INTO graft.lake.moru t USING graft_moru_src s
                     ON t.id = s.id
                     WHEN MATCHED THEN UPDATE SET v = s.v
                     WHEN NOT MATCHED THEN INSERT *""") // v3
        val t3 = spark.table("graft.lake.moru")
        assert(t3.count() == 101)
        assert(t3.filter(col("id").isin(7L, 13L, 200L))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
          Seq((7L, "patched"), (13L, "merged"), (200L, "new")))
        assert(LakeSinkDeletes.read(path).values.map(_.length).sum == 2)
        // compaction materializes everything; content stable
        val live = canon(spark.table("graft.lake.moru"))
        LakeMaintenance.compact(spark, path)
        assert(canon(spark.table("graft.lake.moru")) == live)
        assert(LakeSinkDeletes.read(path).isEmpty)
      } finally spark.conf.unset("spark.graft.lake.dml.mode")
    }
  }

  test("truncating overwrite is a version transition: pre-truncate snapshot readable") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.tr").create() // v1
      threeRows(1).write.format("graft.sources.LakeSink")
        .mode("overwrite").save(s"$lake/tr") // v2 (truncate + replace)
      assert(canon(spark.table("graft.lake.tr")) == canon(threeRows(1)))
      assert(canon(spark.sql("SELECT * FROM graft.lake.tr VERSION AS OF 1")) ==
        canon(threeRows(0)))
    }
  }
}
