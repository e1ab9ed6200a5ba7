package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, PositionedReadable, Seekable}

/** A test-only Hadoop `FileSystem` registered under its own `cfs:` scheme
  * (local-disk backed), counting every `open` and every positioned read the
  * zarr stack issues — PER FILE, so specs can scope assertions to shard
  * objects (metadata like `zarr.json` is also read positionally). Proves
  * the I/O layer is genuinely scheme-aware — the code path an `s3a://`
  * store takes — and lets specs assert the ACCESS PATTERN: a pruned
  * sharded read must issue a handful of ranged reads, never whole-object
  * downloads.
  *
  * Register with `conf.set("fs.cfs.impl", "graft.CountingFileSystem")` and
  * address stores as `cfs:<absolute local path>`.
  */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: URI = URI.create("cfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.incrementAndGet()
    CountingFileSystem.bump(CountingFileSystem.opensByFile, f.toUri.getPath, 1)
    val in = super.open(f, bufferSize)
    new FSDataInputStream(
      new CountingFileSystem.CountingStream(in, f.toUri.getPath))
  }

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFileSystem.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
  val lists = new java.util.concurrent.atomic.AtomicLong(0)
  private val opensByFile =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val readsByFile =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val bytesByFile =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  def reset(): Unit = {
    opens.set(0); lists.set(0)
    opensByFile.clear(); readsByFile.clear(); bytesByFile.clear()
  }

  private def bump(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong],
      path: String, n: Long): Unit =
    m.computeIfAbsent(path,
      _ => new java.util.concurrent.atomic.AtomicLong(0)).addAndGet(n)

  private def total(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong],
      pred: String => Boolean): Long = {
    var n = 0L
    m.forEach((p, c) => if (pred(p)) n += c.get())
    n
  }

  /** `open` calls on files whose path satisfies `pred`. */
  def opensOf(pred: String => Boolean): Long = total(opensByFile, pred)

  /** Ranged reads against files whose path satisfies `pred`. */
  def rangedReads(pred: String => Boolean): Long = total(readsByFile, pred)

  /** Bytes moved by ranged reads against files satisfying `pred`. */
  def rangedBytes(pred: String => Boolean): Long = total(bytesByFile, pred)

  /** Wraps the underlying stream, counting positioned (ranged) reads —
    * `FSDataInputStream.readFully(pos, buf)` dispatches to the wrapped
    * stream's `PositionedReadable`, which is exactly what
    * [[graft.sources.StoreIO.readRange]] drives.
    */
  private final class CountingStream(in: FSDataInputStream, path: String)
      extends java.io.InputStream with Seekable with PositionedReadable {
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      in.read(b, off, len)
    override def close(): Unit = in.close()

    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      bump(readsByFile, path, 1); bump(bytesByFile, path, len)
      in.read(pos, buf, off, len)
    }
    override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      bump(readsByFile, path, 1); bump(bytesByFile, path, len)
      in.readFully(pos, buf, off, len)
    }
    override def readFully(pos: Long, buf: Array[Byte]): Unit =
      readFully(pos, buf, 0, buf.length)

    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      in.seekToNewSource(targetPos)
  }
}
