package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TempLakes
import graft.streaming.{LocalCheckpointFileManager, Scored, StreamOps}
import LocalCheckpointFileManager.ConfKey

/** Every graft session checkpoints `file:` paths through
  * [[LocalCheckpointFileManager]]: Spark's rename protocol and Hadoop's
  * `.crc` sidecars, with no process forked per checkpoint file. */
class LocalCheckpointSpec extends GraftSpec {

  private def hadoopConf(s: org.apache.spark.sql.SparkSession): Configuration =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), hadoopConf(spark))

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** `batches` micro-batches of 20 wire frames through parseWire →
    * dedupQos1 → score → alertTransitions, checkpointed under `ckpt`; the
    * number of batches that read data. */
  private def alertStream(ckpt: String, batches: Int): Int = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val scored = StreamOps.score(StreamOps.dedupQos1(StreamOps.parseWire(in.toDF())))
      .select($"machineId", $"ts", $"severity").as[Scored]
    val q = StreamOps.alertTransitions(scored).writeStream
      .format("memory").queryName(s"ckpt_alerts_${ckpt.hashCode.abs}")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      (0 until batches).foreach { b =>
        in.addData((0 until 20).map { i =>
          val hot = (b + i) % 3 == 0
          s"""{"machineId":"m${i % 4}","temperature":${if (hot) 85.0 else 66.0},""" +
            s""""vibration":${if (hot) 3.5 else 1.2},"timestamp":${1754980000L + 60L * b + i}}"""
        }: _*)
        q.processAllAvailable()
      }
      q.recentProgress.count(_.numInputRows > 0)
    } finally q.stop()
  }

  test("graft sessions build the graft manager; an explicit class still wins") {
    assert(manager(Paths.get(TempLakes.dir("graft_ckpt_cls")))
      .isInstanceOf[LocalCheckpointFileManager])
    val own = spark.newSession()
    own.conf.set(ConfKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    val ownDir = Paths.get(TempLakes.dir("graft_ckpt_own"))
    assert(CheckpointFileManager.create(new Path(ownDir.toUri), hadoopConf(own))
      .getClass == classOf[FileSystemBasedCheckpointFileManager])
    // install never overrides a class set in the Hadoop conf (spark.hadoop.*)
    val c = new Configuration(false)
    c.set(ConfKey, "my.Manager")
    LocalCheckpointFileManager.install(c)
    assert(c.get(ConfKey) == "my.Manager")
  }

  test("a non-file path gets the manager Spark would have built") {
    val conf = hadoopConf(spark)
    val p = new Path("hdfs://localhost:1/graft_ckpt")
    val fm = CheckpointFileManager.create(p, conf).asInstanceOf[LocalCheckpointFileManager]
    val stock = new Configuration(conf)
    stock.unset(ConfKey)
    assert(fm.delegate.getClass == CheckpointFileManager.create(p, stock).getClass)
    assert(!fm.isLocal)
  }

  test("rename protocol: no overwrite of an existing file, cancel leaves no temp file") {
    val dir = Paths.get(TempLakes.dir("graft_ckpt_atomic"))
    val fm = manager(dir)
    val f = new Path(new Path(dir.toUri), "0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val again = fm.createAtomic(f, overwriteIfPossible = false)
    again.write(Array[Byte](4))
    intercept[FileAlreadyExistsException](again.close())
    assert(fm.open(f).readAllBytes().toSeq == Seq[Byte](1, 2, 3))
    val over = fm.createAtomic(f, overwriteIfPossible = true)
    over.write(Array[Byte](6))
    over.close()
    assert(fm.open(f).readAllBytes().toSeq == Seq[Byte](6))
    val fresh = Paths.get(TempLakes.dir("graft_ckpt_cancel"))
    val cancelled = manager(fresh).createAtomic(new Path(new Path(fresh.toUri), "1"),
      overwriteIfPossible = false)
    cancelled.write(Array[Byte](5))
    cancelled.cancel()
    val left = Files.list(fresh).iterator().asScala.map(_.getFileName.toString).toSet
    assert(left.isEmpty, s"left behind: $left")
  }

  test("files written by Spark's default manager read back, and the reverse") {
    val dir = Paths.get(TempLakes.dir("graft_ckpt_compat"))
    val root = new Path(dir.toUri)
    val stockConf = new Configuration(hadoopConf(spark))
    stockConf.unset(ConfKey)
    val stock = CheckpointFileManager.create(root, stockConf)
    val local = manager(dir)
    assert(stock.getClass != local.getClass)
    def put(fm: CheckpointFileManager, name: String): Unit = {
      val out = fm.createAtomic(new Path(root, name), overwriteIfPossible = false)
      out.write(s"v1\n{\"file\":\"$name\"}".getBytes("UTF-8"))
      out.close()
    }
    def get(fm: CheckpointFileManager, name: String): String = {
      val in = fm.open(new Path(root, name))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    put(stock, "0")
    put(local, "1")
    Seq(stock, local).foreach { fm =>
      assert(get(fm, "0") == "v1\n{\"file\":\"0\"}")
      assert(get(fm, "1") == "v1\n{\"file\":\"1\"}")
    }
  }

  test("checkpoint files keep their .crc sidecar, verified on read, and their modes") {
    val ckpt = Paths.get(TempLakes.dir("graft_ckpt_crc"))
    assert(alertStream(ckpt.toString, 3) == 3)
    Seq("offsets", "commits").foreach { log =>
      val dir = ckpt.resolve(log)
      assert(perms(dir) == "rwxr-xr-x", s"$log dir")
      (0 to 2).foreach { n =>
        assert(perms(dir.resolve(n.toString)) == "rw-r--r--", s"$log/$n")
        assert(Files.isRegularFile(dir.resolve(s".$n.crc")), s"$log/.$n.crc")
      }
    }
    val deltas = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".delta")).toSeq
    assert(deltas.nonEmpty)
    deltas.foreach { d =>
      assert(perms(d) == "rw-r--r--", d.toString)
      assert(Files.isRegularFile(d.resolveSibling(s".${d.getFileName}.crc")), s"$d sidecar")
    }
    // one flipped byte in an offset file fails its read
    val offset = ckpt.resolve("offsets").resolve("1")
    val bytes = Files.readAllBytes(offset)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offset, bytes)
    val fm = manager(ckpt)
    intercept[ChecksumException] {
      val in = fm.open(new Path(offset.toUri))
      try in.readAllBytes() finally in.close()
    }
  }

  test("a checkpointed alert stream forks no process through Hadoop's Shell") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val jfr = Files.createTempFile("graft_ckpt", ".jfr")
    rec.start()
    val batches = try alertStream(TempLakes.dir("graft_ckpt_jfr"), 3) finally {
      rec.stop()
      rec.dump(jfr)
      rec.close()
    }
    assert(batches == 3)
    val forks = RecordingFile.readAllEvents(jfr).asScala.filter(e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(forks.isEmpty, s"${forks.size} processes started through Hadoop's Shell, e.g. " +
      forks.headOption.map(_.getString("command")).getOrElse(""))
    Files.deleteIfExists(jfr)
  }
}
