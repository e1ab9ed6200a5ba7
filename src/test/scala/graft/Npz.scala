package graft

import java.io.{DataInputStream, BufferedInputStream, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.ZipInputStream

/** Minimal NPZ/NPY reader for the reference golden fixtures
  * ([[Goldens.dir]]) — numeric dtypes only
  * (`|u1`, `<i4`, `<i8`), C-order, npy format v1.
  */
object Npz {

  final case class Arr(shape: Array[Int], data: Array[Long])

  def read(path: String): Map[String, Arr] = {
    val zin = new ZipInputStream(new BufferedInputStream(new FileInputStream(path)))
    val out = Map.newBuilder[String, Arr]
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        val name = entry.getName.stripSuffix(".npy")
        val bytes = zin.readAllBytes()
        out += name -> parseNpy(bytes)
        entry = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  private def parseNpy(bytes: Array[Byte]): Arr = {
    require(bytes(0) == 0x93.toByte && new String(bytes, 1, 5) == "NUMPY",
      "not an npy file")
    val major = bytes(6)
    val headerLen =
      if (major == 1) ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8))
      else ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val headerStart = if (major == 1) 10 else 12
    val header = new String(bytes, headerStart, headerLen)
    val descr = """'descr':\s*'([^']+)'""".r.findFirstMatchIn(header).get.group(1)
    val fortran = """'fortran_order':\s*(\w+)""".r.findFirstMatchIn(header).get.group(1)
    require(fortran == "False", "fortran order unsupported")
    val shapeStr = """'shape':\s*\(([^)]*)\)""".r.findFirstMatchIn(header).get.group(1)
    val shape = shapeStr.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
    val n = shape.foldLeft(1)(_ * _)
    val buf = ByteBuffer.wrap(bytes, headerStart + headerLen,
      bytes.length - headerStart - headerLen).order(ByteOrder.LITTLE_ENDIAN)
    val data = new Array[Long](n)
    descr match {
      case "|u1" => var i = 0; while (i < n) { data(i) = buf.get() & 0xffL; i += 1 }
      case "<i4" => var i = 0; while (i < n) { data(i) = buf.getInt().toLong; i += 1 }
      case "<i8" => var i = 0; while (i < n) { data(i) = buf.getLong(); i += 1 }
      case "<u2" => var i = 0; while (i < n) { data(i) = buf.getShort() & 0xffffL; i += 1 }
      case d => throw new UnsupportedOperationException(s"dtype $d")
    }
    Arr(shape, data)
  }
}
