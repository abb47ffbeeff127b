package graft.ops

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class StageOnceSpec extends AnyFunSuite {

  test("dropStaged deletes this pid's staged dirs, keeps other pids', and restages after") {
    val root = Files.createTempDirectory("graft-stage-once").toFile
    def dir(name: String): File = {
      val d = new File(root, name)
      new File(d, "part").mkdirs()
      Files.writeString(new File(d, "part/data").toPath, "x")
      d
    }
    val pid = StageOnce.pid
    val mine = Seq(dir(s"graft_ivf_index_${pid}_0123456789abcdef"),
      dir(s"graft_x_${pid}_fedcba9876543210"))
    val others = Seq(dir(s"graft_x_${pid + 1}_0123456789abcdef"),
      dir(s"graft_x_1${pid}_0123456789abcdef"), dir(s"other_${pid}_0123456789abcdef"))
    var writes = 0
    try {
      StageOnce(mine.head.getAbsolutePath)(writes += 1)
      StageOnce.dropStaged(root)
      assert(mine.forall(!_.exists()))
      assert(others.forall(new File(_, "part/data").exists()))
      StageOnce(mine.head.getAbsolutePath)(writes += 1)
      assert(writes === 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
