package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stale scratch: a JVM killed before its shutdown hooks leaves its
  * [[TempDirs]] behind, and the next JVM's sweep removes them.
  */
class TempDirsSpec extends AnyFunSuite {

  test("sweep removes the directories of an exited JVM and keeps this JVM's") {
    val child = new ProcessBuilder("true").start()
    assert(child.waitFor() == 0)
    val gone = child.pid()
    assert(ProcessHandle.of(gone).isEmpty, s"pid $gone is still alive")
    val stale = java.nio.file.Files.createTempDirectory(s"graft_sweep_pid${gone}_")
    java.nio.file.Files.write(stale.resolve("chunk"), Array[Byte](1, 2, 3))
    val own = TempDirs.create("graft_sweep")
    assert(own.contains(s"_pid${ProcessHandle.current().pid()}_"), own)

    assert(TempDirs.sweepStale() >= 1)
    assert(!java.nio.file.Files.exists(stale), s"$stale survived the sweep")
    assert(new java.io.File(own).isDirectory, s"$own was swept")
  }
}
