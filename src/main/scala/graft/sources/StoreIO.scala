package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Path-scheme-aware byte I/O for the zarr stores: every read, write, list,
  * and rename goes through `org.apache.hadoop.fs.FileSystem`, so a store
  * path can be a plain local directory, an explicit `file:` URI, or any
  * Hadoop-supported object store (`s3a://`, `hdfs://`, `abfs://`, ...) —
  * the access layer the 100 TB scenario actually runs on. Plain paths
  * resolve against `fs.defaultFS` exactly as before, keeping local behavior
  * bit-identical.
  *
  * Driver-side callers pass [[hadoopConf]] (the active session's Hadoop
  * configuration, carrying `spark.hadoop.*` credentials); executor-side
  * closures capture a [[broadcastConf]] of it — `Configuration` itself is
  * not serializable.
  *
  * Local paths: Hadoop's local file system sets the permission of every
  * file, checksum sibling and directory it creates, and without its native
  * library it does so by starting a `chmod` process each time (19–20 per
  * zarr write of a small 3-D image). Bytes are therefore created, read
  * and directories made through [[PlainLocalFileSystem]], Hadoop's raw
  * local file system without that step: files and directories get the
  * process umask's modes, and no `.crc` sibling is written or checked.
  * Listing, deletes and renames keep the checksummed file system, which
  * hides, removes and moves the `.crc` siblings an earlier write left.
  */
object StoreIO {

  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** A snapshot of `spark`'s Hadoop configuration for executor-side code,
    * as one broadcast per call (the pattern of Spark's own
    * `FileSourceScanExec`). A task then carries a broadcast id instead of
    * its own serialized copy of a conf of a thousand-odd entries, and each
    * executor deserializes the conf once per call rather than once per
    * task. Nothing is cached across calls, so each call sees the session's
    * conf as it is then.
    */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val sc = spark.sparkContext
    sc.broadcast(new SerializableConfiguration(new Configuration(sc.hadoopConfiguration)))
  }

  private def fsOf(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf)

  /** The file system that creates, reads and makes directories at `p`: a
    * [[PlainLocalFileSystem]] where `p`'s own is a local file system of the
    * `file` scheme (Hadoop's, or a subclass such as Hive's proxy), else
    * `p`'s own, so a local file system registered under another scheme
    * keeps its own behaviour.
    */
  private def bytesFsOf(p: Path, conf: Configuration): FileSystem = fsOf(p, conf) match {
    case fs @ (_: LocalFileSystem | _: RawLocalFileSystem) if fs.getUri.getScheme == "file" =>
      val plain = new PlainLocalFileSystem
      plain.initialize(fs.getUri, conf)
      plain
    case fs => fs
  }

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    fsOf(p, conf).exists(p)
  }

  def readAllBytes(conf: Configuration, path: String): Array[Byte] = {
    val p = new Path(path)
    val fs = bytesFsOf(p, conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$path: $len bytes exceeds one chunk buffer")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  def fileLen(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    fsOf(p, conf).getFileStatus(p).getLen
  }

  /** Open for positioned reads; the caller closes. One open stream serves
    * many [[readRange]] calls — the access pattern of a shard read (index
    * tail + a few inner-chunk ranges), which on an object store is one
    * connection issuing ranged GETs instead of a whole-object download.
    */
  def open(conf: Configuration, path: String): org.apache.hadoop.fs.FSDataInputStream = {
    val p = new Path(path)
    bytesFsOf(p, conf).open(p)
  }

  def readRange(in: org.apache.hadoop.fs.FSDataInputStream,
      off: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    in.readFully(off, buf)
    buf
  }

  /** Create (overwriting) with parent directories, like `Files.write` after
    * `mkdirs` on a local path.
    */
  def write(conf: Configuration, path: String, bytes: Array[Byte]): Unit = {
    val out = create(conf, path)
    try out.write(bytes) finally out.close()
  }

  /** Open `path` for writing, overwriting it and creating its parent
    * directories; the caller closes.
    */
  def create(conf: Configuration, path: String): org.apache.hadoop.fs.FSDataOutputStream = {
    val p = new Path(path)
    bytesFsOf(p, conf).create(p, true)
  }

  def mkdirs(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    bytesFsOf(p, conf).mkdirs(p); ()
  }

  def deleteRecursive(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p, conf)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Children of `path`; empty when the directory does not exist. */
  def list(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = fsOf(p, conf)
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
  }

  /** Move `src` under `dstDir/rel`, replacing any existing file. */
  def moveInto(conf: Configuration, src: Path, dstDir: Path, rel: String): Unit = {
    val target = new Path(dstDir, rel)
    val fs = fsOf(target, conf)
    Option(target.getParent).foreach(d => bytesFsOf(d, conf).mkdirs(d))
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(src, target), s"rename $src -> $target failed")
  }
}

/** Hadoop's raw local file system without its `setPermission`: a file or
  * directory keeps the modes the process umask gives it at creation,
  * instead of a `chmod` process per file ([[StoreIO]]).
  */
private[sources] final class PlainLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
