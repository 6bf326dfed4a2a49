package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Connectors
import graft.streaming.{LocalCheckpointFiles, MinuteStream, StreamDefaults}

/** A local file system under another scheme, so the manager's scheme
  * rule can be exercised without a cluster. */
class StubSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("stub:///")
  override def getScheme: String = "stub"
}
class StubSchemeAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new StubSchemeFs, conf, "stub", false)

/** [[LocalCheckpointFiles]]: atomic publish on java.nio for `file:`
  * checkpoints, Spark's FileContext manager for every other scheme. */
class LocalCheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def manager(dir: NioPath) =
    new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())

  private def write(fm: LocalCheckpointFiles, p: Path, bytes: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes.getBytes("UTF-8"))
    out.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val list = Files.list(dir)
    try list.iterator.asScala.map(_.getFileName.toString).toSet finally list.close()
  }

  test("overwrite replaces the file and leaves no temp file") {
    val dir = Files.createTempDirectory("graft_lcf_overwrite")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = true)
    write(fm, p, "second", overwrite = true)
    assert(Files.readString(dir.resolve("0")) == "second")
    assert(names(dir) == Set("0"))
    assert(fm.exists(p) && fm.isLocal && fm.delegate.isEmpty)
  }

  test("no-overwrite onto an existing target fails and keeps the target's bytes") {
    val dir = Files.createTempDirectory("graft_lcf_exclusive")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = false)
    assertThrows[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(Files.readString(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"))
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = Files.createTempDirectory("graft_lcf_cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("sub/0").toUri), overwrite = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    out.close() // a close after cancel publishes nothing
    assert(names(dir.resolve("sub")).isEmpty)
  }

  test("a checkpoint on another scheme goes to Spark's FileContext manager") {
    val dir = Files.createTempDirectory("graft_lcf_stub")
    val conf = new Configuration()
    conf.set("fs.stub.impl", classOf[StubSchemeFs].getName)
    conf.setBoolean("fs.stub.impl.disable.cache", true)
    conf.set("fs.AbstractFileSystem.stub.impl", classOf[StubSchemeAfs].getName)
    val fm = new LocalCheckpointFiles(new Path(s"stub://${dir.toUri.getPath}"), conf)
    assert(fm.delegate.exists(_.isInstanceOf[FileContextBasedCheckpointFileManager]))
    assert(!fm.isLocal, "the FileContext manager answers for the stub file system")
    val out = fm.createAtomic(new Path(s"stub://${dir.toUri.getPath}/0"), overwrite = false)
    out.write(1)
    out.close()
    assert(Files.size(dir.resolve("0")) == 1L)
  }

  test("install keeps a manager the session already names") {
    val own = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(StreamDefaults.CheckpointManagerKey, own)
    try {
      StreamDefaults.install(spark)
      assert(spark.conf.get(StreamDefaults.CheckpointManagerKey) == own)
    } finally spark.conf.unset(StreamDefaults.CheckpointManagerKey)
    StreamDefaults.install(spark)
    assert(spark.conf.get(StreamDefaults.CheckpointManagerKey) == classOf[LocalCheckpointFiles].getName)
  }

  test("a drained trade stream's checkpoint has no Hadoop sidecars or temp files") {
    val log = Files.createTempDirectory("graft_lcf_log")
    val ckpt = Files.createTempDirectory("graft_lcf_ckpt")
    val out = Files.createTempDirectory("graft_lcf_out").toString
    val m0 = 1735732800000L
    val lines = (0 until 8).map { i =>
      s"""{"data": [{"p": ${100.0 + i}, "s": "AAPL", "t": ${m0 + i * 60000L + 1000}, "v": 10.0}]}"""
    }
    Files.write(log.resolve("trades.log"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val q = MinuteStream.start(
      Connectors.logStream(spark, log.toString).select(col("value")),
      ckpt.toString, out, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    assert(q.exception.isEmpty)
    val files = {
      val walk = Files.walk(ckpt)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
      finally walk.close()
    }
    assert(files.filter(n => n.startsWith(".") && n.endsWith(".crc")).isEmpty,
      s"Hadoop sidecars in the checkpoint: $files")
    assert(files.filter(_.endsWith(".tmp")).isEmpty, s"temp files left: $files")
    assert(files.exists(_.matches("""\d+\.delta\.crc""")),
      s"Spark's state checksum files must still be written: $files")
    assert(files.contains("0") && files.contains("metadata"))
  }
}
