package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Row-major N-d index math over flat arrays (dims = 2 or 3 in practice).
  *
  * The reference operates on per-chunk numpy arrays; here every tile is a flat
  * `Array[Long]` with an explicit `shape`. A `Box` is the Scala analogue of a
  * tuple of python slices (start inclusive, end exclusive per axis).
  */
object Nd {

  /** Row-major strides for `shape`. */
  def strides(shape: Array[Int]): Array[Int] = {
    val n = shape.length
    val st = new Array[Int](n)
    var acc = 1
    var i = n - 1
    while (i >= 0) { st(i) = acc; acc *= shape(i); i -= 1 }
    st
  }

  def size(shape: Array[Int]): Int = {
    var acc = 1; var i = 0
    while (i < shape.length) { acc *= shape(i); i += 1 }
    acc
  }

  /** A hyper-rectangle: per-axis [start, end). */
  final case class Box(start: Array[Int], end: Array[Int]) {
    def shape: Array[Int] = Array.tabulate(start.length)(a => end(a) - start(a))
    def numel: Int = Nd.size(shape)
  }

  /** Visit every flat index of `box` within an array of shape `shape`,
    * in row-major order. `f` receives the flat index.
    */
  def foreachIndex(shape: Array[Int], box: Box)(f: Int => Unit): Unit = {
    val dims = shape.length
    val st = strides(shape)
    val bs = box.shape
    val total = size(bs)
    if (total == 0) return
    // odometer over box coords
    val cur = box.start.clone()
    var base = 0
    var a = 0
    while (a < dims) { base += cur(a) * st(a); a += 1 }
    var count = 0
    while (count < total) {
      f(base)
      count += 1
      // increment odometer from the last axis
      var ax = dims - 1
      var carry = true
      while (carry && ax >= 0) {
        cur(ax) += 1
        base += st(ax)
        if (cur(ax) >= box.end(ax)) {
          base -= (cur(ax) - box.start(ax)) * st(ax)
          cur(ax) = box.start(ax)
          ax -= 1
        } else carry = false
      }
    }
  }

  /** Extract the contents of `box` from `src` (shape `srcShape`) into a new
    * row-major flat array.
    */
  def sliceBox(src: Array[Long], srcShape: Array[Int], box: Box): Array[Long] = {
    val out = new Array[Long](box.numel)
    var i = 0
    foreachRun(srcShape, box) { (from, n) => System.arraycopy(src, from, out, i, n); i += n }
    out
  }

  /** Paste `payload` (row-major, shaped as `box.shape`) into `dst` at `box`. */
  def pasteBox(dst: Array[Long], dstShape: Array[Int], box: Box,
               payload: Array[Long]): Unit = {
    var i = 0
    foreachRun(dstShape, box) { (from, n) => System.arraycopy(payload, i, dst, from, n); i += n }
  }

  /** Visit `box` as maximal contiguous runs: `f(flatStart, length)`. Trailing
    * axes the box spans in full fold into one run, so a full box is one run.
    */
  def foreachRun(shape: Array[Int], box: Box)(f: (Int, Int) => Unit): Unit = {
    if (box.numel == 0) return
    var k = shape.length - 1
    var run = box.end(k) - box.start(k)
    while (k > 0 && box.start(k) == 0 && box.end(k) == shape(k)) {
      k -= 1
      run *= box.end(k) - box.start(k)
    }
    val heads = Box(box.start,
      Array.tabulate(shape.length)(a => if (a >= k) box.start(a) + 1 else box.end(a)))
    foreachIndex(shape, heads)(flat => f(flat, run))
  }

  /** Narrowest wire width (1, 2, 4 or 8 bytes) holding every value of `a`
    * unsigned; a negative value or one >= 2^32 needs 8.
    */
  def packWidth(a: Array[Long]): Int = {
    var bits = 0L
    var i = 0
    while (i < a.length) { bits |= a(i); i += 1 }
    if (bits < 0L || (bits >>> 32) != 0L) 8
    else if ((bits >>> 16) != 0L) 4
    else if ((bits >>> 8) != 0L) 2
    else 1
  }

  /** [[sliceBox]] into the width-tagged wire format: byte 0 = `width`, then
    * `box.numel` little-endian values of `width` bytes each.
    */
  def packBox(src: Array[Long], srcShape: Array[Int], box: Box, width: Int): Array[Byte] = {
    val out = new Array[Byte](1 + box.numel * width)
    out(0) = width.toByte
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 1
    foreachRun(srcShape, box) { (from, n) =>
      var i = from
      var p = pos
      val end = from + n
      width match {
        case 1 => while (i < end) { out(p) = src(i).toByte; i += 1; p += 1 }
        case 2 => while (i < end) { buf.putShort(p, src(i).toShort); i += 1; p += 2 }
        case 4 => while (i < end) { buf.putInt(p, src(i).toInt); i += 1; p += 4 }
        case _ => buf.slice(p, n * 8).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(src, from, n)
      }
      pos += n * width
    }
    out
  }

  /** [[pasteBox]] from the wire format written by [[packBox]]. */
  def unpackBox(dst: Array[Long], dstShape: Array[Int], box: Box,
                packed: Array[Byte]): Unit = {
    val width = packed(0).toInt
    require(packed.length == 1 + box.numel * width,
      s"packed payload of ${packed.length} bytes does not hold ${box.numel} values of width $width")
    val buf = ByteBuffer.wrap(packed).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 1
    foreachRun(dstShape, box) { (from, n) =>
      var i = from
      var p = pos
      val end = from + n
      width match {
        case 1 => while (i < end) { dst(i) = packed(p) & 0xffL; i += 1; p += 1 }
        case 2 => while (i < end) { dst(i) = buf.getShort(p) & 0xffffL; i += 1; p += 2 }
        case 4 => while (i < end) { dst(i) = buf.getInt(p) & 0xffffffffL; i += 1; p += 4 }
        case _ => buf.slice(p, n * 8).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(dst, from, n)
      }
      pos += n * width
    }
  }

  /** Paste only non-zero payload values (`np.where(mask, v, dst)` painting). */
  def paintNonZero(dst: Array[Long], dstShape: Array[Int], box: Box,
                   payload: Array[Long]): Unit = {
    var i = 0
    foreachRun(dstShape, box) { (from, n) =>
      var f = from
      var j = i
      val end = from + n
      while (f < end) {
        val v = payload(j)
        if (v != 0L) dst(f) = v
        f += 1; j += 1
      }
      i = j
    }
  }

  /** Full-array box. */
  def fullBox(shape: Array[Int]): Box =
    Box(new Array[Int](shape.length), shape.clone())
}
