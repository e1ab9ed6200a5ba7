package graft

/** Per-JVM temporary directories removed by a shutdown hook — the single
  * home for the create-then-cleanup pattern the staging stores (zarr, tile
  * parquet, bucketed warehouse) share, so delete-ordering or safety fixes
  * happen in one place.
  *
  * A killed JVM runs no shutdown hook, so every directory name carries its
  * JVM's pid, and a JVM's first [[create]] removes the sibling directories
  * whose pid is no longer alive.
  */
object TempDirs {

  private val pid = ProcessHandle.current().pid()

  /** `<prefix>_pid<pid>_<random>`, the form [[create]] names directories. */
  private val Owned = """.*_pid(\d{1,18})_\d+""".r

  private lazy val swept: Unit = { sweepStale(); () }

  def create(prefix: String): String = {
    swept
    val p = java.nio.file.Files.createTempDirectory(s"${prefix}_pid${pid}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(p.toFile)))
    p.toAbsolutePath.toString
  }

  /** Remove the directories under `java.io.tmpdir` that [[create]] made in
    * a JVM that is gone; returns how many were removed.
    */
  private[graft] def sweepStale(): Int = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).count { f =>
      f.getName match {
        case Owned(owner) if f.isDirectory &&
            ProcessHandle.of(owner.toLong).isEmpty => rm(f); true
        case _ => false
      }
    }
  }

  private def rm(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
}
