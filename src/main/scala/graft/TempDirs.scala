package graft

/** Per-JVM temporary directories removed by a shutdown hook — the single
  * home for the create-then-cleanup pattern the staging stores (zarr, tile
  * parquet, bucketed warehouse) share, so delete-ordering or safety fixes
  * happen in one place.
  */
object TempDirs {

  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toAbsolutePath.toString
  }
}
