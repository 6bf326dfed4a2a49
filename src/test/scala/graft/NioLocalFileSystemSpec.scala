package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NioLocalFileSystem

/** [[NioLocalFileSystem]]: the local file system the sink writes
  * through sets the same modes as Hadoop's, without a process. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private lazy val fs = {
    val f = new NioLocalFileSystem
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }

  test("setPermission round-trips all 512 rwx modes") {
    val p = new Path(Files.createTempFile("graft_nio_fs", ".bin").toUri)
    val started = Forks.programs {
      val wrong = (0 until 512).filter { m =>
        fs.setPermission(p, new FsPermission(m.toShort))
        fs.getFileStatus(p).getPermission.toShort != m
      }
      assert(wrong.isEmpty, s"modes that did not land: ${wrong.map(_.toOctalString)}")
    }
    assert(!started.contains("chmod"))
  }

  test("a sticky-bit mode lands through Hadoop's own path") {
    val p = new Path(Files.createTempDirectory("graft_nio_sticky").toUri)
    val sticky = new FsPermission("1777")
    val started = Forks.programs(fs.setPermission(p, sticky))
    assert(started.contains("chmod"))
    assert(fs.getFileStatus(p).getPermission == sticky)
  }

  test("a file created without a mode gets Hadoop's masked default, and a .crc sidecar") {
    // FileSystem.create passes the mode as FsCreateModes, whose toString
    // is not the nine rwx letters
    val dir = Files.createTempDirectory("graft_nio_create")
    val p = new Path(dir.resolve("f").toUri)
    val out = fs.create(p)
    out.write(1)
    out.close()
    assert(fs.getFileStatus(p).getPermission == new FsPermission("644"))
    assert(Files.exists(dir.resolve(".f.crc")))
  }
}
