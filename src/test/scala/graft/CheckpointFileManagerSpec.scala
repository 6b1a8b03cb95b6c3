package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.streaming.{NioCheckpointFileManager, StreamingOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `NioCheckpointFileManager`: the file primitives Spark's offset,
  * commit and state-store logs rely on, and checkpoints that move
  * between it and Spark's default manager across a restart.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_cfm_")
    try body(dir) finally NioCheckpointFileManager.deleteRecursively(dir)
  }

  private def manager(dir: JPath) = new NioCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("createAtomic publishes on close and leaves no temp file; list skips temp files") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(new Path(dir.toUri), "1.delta")
      val out = fm.createAtomic(target, overwriteIfPossible = true)
      out.write("first".getBytes(UTF_8))
      val open = names(dir)
      assert(open.size == 1 && open.head.startsWith(".1.delta.") && open.head.endsWith(".tmp"),
        s"expected one temp file beside the target, found $open")
      assert(!fm.exists(target))
      assert(fm.list(new Path(dir.toUri)).isEmpty, "list shows an unpublished temp file")
      out.close()
      assert(names(dir) == Set("1.delta"))
      assert(Files.readString(dir.resolve("1.delta")) == "first")
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("1.delta"))
      write(fm, target, "second", overwrite = true)
      assert(names(dir) == Set("1.delta"))
      assert(Files.readString(dir.resolve("1.delta")) == "second")
    }
  }

  test("a second no-overwrite create of one file gets Hadoop's FileAlreadyExistsException") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.toString, "0") // scheme-less
      write(fm, target, "winner", overwrite = false)
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      out.write("loser".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel() // what HDFSMetadataLog does next; a no-op after close
      assert(names(dir) == Set("0"))
      assert(Files.readString(dir.resolve("0")) == "winner")
    }
  }

  test("cancel leaves neither the temp file nor the target") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(new Path(dir.toUri), "2.snapshot"), overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // after cancel: publishes nothing
      assert(names(dir).isEmpty)
    }
  }

  test("directories, deletes and the conf key Spark reads") {
    withDir { dir =>
      val base = new Path(dir.resolve("ck").toString)
      val conf = new Configuration()
      conf.set(ManagerKey, classOf[NioCheckpointFileManager].getName)
      // Spark may wrap the manager in its checksum manager; the file
      // primitives below are this class's either way.
      val created = CheckpointFileManager.create(base, conf)
      val fm = new NioCheckpointFileManager(base, conf)
      assert(created.isInstanceOf[NioCheckpointFileManager] ||
        created.getClass.getSimpleName == "ChecksumCheckpointFileManager", created.getClass)
      val root = fm.createCheckpointDirectory()
      assert(root.toUri.getScheme == "file" && Files.isDirectory(dir.resolve("ck")))
      assert(fm.isLocal)
      intercept[java.io.FileNotFoundException](fm.list(new Path(root, "offsets")))
      fm.mkdirs(new Path(root, "state/0/1"))
      write(fm, new Path(root, "state/0/1/1.delta"), "d", overwrite = true)
      Files.writeString(dir.resolve("ck/state/0/1/.1.delta.crc"), "hadoop checksum")
      assert(fm.list(new Path(root, "state/0/1")).map(_.getPath.getName).toSeq == Seq("1.delta"))
      fm.delete(new Path(root, "state/0/1/1.delta"))
      assert(names(dir.resolve("ck/state/0/1")).isEmpty, "delete leaves the Hadoop checksum file")
      fm.delete(new Path(root, "state"))
      fm.delete(new Path(root, "state")) // missing: not an error
      assert(!fm.exists(new Path(root, "state")) && fm.exists(root))
    }
  }

  /** Leg of a stateful AvailableNow query over a text-file directory:
    * per-line counts in complete mode, returned from a memory sink.
    */
  private def leg(src: JPath, ck: JPath, name: String, nio: Boolean): Map[String, Long] = {
    val sdf = spark.readStream.text(src.toString).groupBy("value").count()
    def run(): Unit = sdf.writeStream
      .format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    if (nio) StreamingOps.withStreamConfs(spark, sdf)(run()) else run()
    try spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    finally spark.catalog.dropTempView(name)
  }

  private def restartAcrossManagers(firstNio: Boolean): Unit = withDir { dir =>
    val src = Files.createDirectories(dir.resolve("src"))
    val ck = dir.resolve("ck")
    Files.writeString(src.resolve("a.txt"), "x\ny\nx\n")
    assert(leg(src, ck, "cfm_leg1", firstNio) == Map("x" -> 2L, "y" -> 1L))
    Files.writeString(src.resolve("b.txt"), "x\nz\n")
    // Leg 2 reads only b.txt from the source log and adds to the state
    // leg 1 committed: a replayed file or a lost state store would
    // change the counts.
    assert(leg(src, ck, "cfm_leg2", !firstNio) == Map("x" -> 3L, "y" -> 1L, "z" -> 1L))
    // Hadoop's local file system writes a .crc beside each file; this
    // manager does not — so each leg's offset file shows who wrote it.
    val offsets = names(ck.resolve("offsets"))
    assert(offsets.contains("0") && offsets.contains("1"), offsets)
    assert(offsets.contains(".0.crc") == !firstNio && offsets.contains(".1.crc") == firstNio,
      s"offset files not written by the expected managers: $offsets")
    assert(!spark.conf.getAll.contains(ManagerKey), "the manager conf outlived the stream")
  }

  test("restart: a checkpoint written by Spark's default manager resumes exactly-once under this one") {
    restartAcrossManagers(firstNio = false)
  }

  test("restart: a checkpoint written by this manager resumes exactly-once under Spark's default") {
    restartAcrossManagers(firstNio = true)
  }
}
