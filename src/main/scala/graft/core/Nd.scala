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

    /** The part of this box inside `o` (empty on an axis where they do
      * not meet).
      */
    def intersect(o: Box): Box = {
      val s = Array.tabulate(start.length)(a => math.max(start(a), o.start(a)))
      Box(s, Array.tabulate(start.length)(a => math.max(s(a), math.min(end(a), o.end(a)))))
    }

    /** This box in the coordinates of a frame whose origin is `origin`. */
    def relativeTo(origin: Array[Int]): Box =
      Box(Array.tabulate(start.length)(a => start(a) - origin(a)),
        Array.tabulate(start.length)(a => end(a) - origin(a)))
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
    widthOf(bits)
  }

  private def widthOf(bits: Long): Int =
    if (bits < 0L || (bits >>> 32) != 0L) 8
    else if ((bits >>> 16) != 0L) 4
    else if ((bits >>> 8) != 0L) 2
    else 1

  /** The wire frame `(width, base)` of `a`, chosen once per source array
    * in one pass: its [[packWidth]] and no base, unless a base narrows
    * that width. The base is `min - 1` of the non-zero values, so every
    * non-zero value crosses as `v - base >= 1` and zero stays free to mean
    * zero. Chunk-offset labels (every label of a tile in
    * `[lin * offset + 1, lin * offset + count]`) thus cross at the width
    * of their count, not of their offset.
    *
    * The pass keeps two branch-free reductions in unsigned order (`x ^
    * Long.MinValue` maps it onto signed order), so its cost does not
    * depend on where the zeros are: the max of `v`, whose highest set bit
    * is the OR's and so gives the width, and the min of `v - 1`, where
    * zero wraps to the top. Without negative values they are the non-zero
    * max and min. An array holding a negative value, which no label offset
    * gives, is scanned a second time for its non-zero range.
    */
  def packFrame(a: Array[Long]): (Int, Option[Long]) = {
    var high = Long.MinValue
    var low = Long.MaxValue
    var i = 0
    while (i < a.length) {
      val v = a(i)
      high = math.max(high, v ^ Long.MinValue)
      low = math.min(low, (v - 1) ^ Long.MinValue)
      i += 1
    }
    val top = high ^ Long.MinValue
    val width = widthOf(top)
    if (width == 1) return (width, None)
    // width > 1, so some value is non-zero; `top` is negative only when
    // some value is
    val (min, max) = if (top >= 0L) ((low ^ Long.MinValue) + 1, top) else nonZeroRange(a)
    // the span is unsigned, and a base is worth its 8 header bytes only
    // where it narrows the width
    val span = max - min
    if (span < 0L || span >= 0xffffffffL) return (width, None)
    val based = widthOf(span + 1)
    if (based < width) (based, Some(min - 1)) else (width, None)
  }

  /** The signed min and max of the non-zero values of `a`. */
  private def nonZeroRange(a: Array[Long]): (Long, Long) = {
    var min = Long.MaxValue
    var max = Long.MinValue
    var i = 0
    while (i < a.length) {
      val v = a(i)
      if (v != 0L) { if (v < min) min = v; if (v > max) max = v }
      i += 1
    }
    (min, max)
  }

  /** Byte 0's flag for a payload with a base, and such a payload's header
    * length (the flag byte and the base).
    */
  private final val BaseFlag = 0x80
  private final val BasedHeader = 9

  /** Byte 0's bit that belongs to the caller: [[packBox]] sets it when
    * asked to `mark` a payload, [[unpackBox]] ignores it, and [[marked]]
    * reads it. [[graft.ops.Halo]] marks a merge shard whose payload holds
    * only the part of its box inside the receiving chunk's core.
    */
  private final val MarkFlag = 0x40

  /** Whether `packed` was written with [[packBox]]'s `mark`. */
  def marked(packed: Array[Byte]): Boolean = (packed(0) & MarkFlag) != 0

  /** [[sliceBox]] into the halo wire format. Byte 0 is the width (1, 2, 4
    * or 8); without a base, `box.numel` little-endian values of `width`
    * bytes each follow. With a base (from [[packFrame]]), byte 0 also has
    * its high bit (`0x80`) set, the 8-byte little-endian base follows it,
    * and then the values, each non-zero `v` as `v - base` (zero stays
    * zero). With `mark`, byte 0 also has bit `0x40` set ([[marked]]). An
    * array packed without a base or a mark is byte-identical to the
    * format before either existed, so older payloads still decode.
    */
  def packBox(src: Array[Long], srcShape: Array[Int], box: Box, width: Int,
              base: Option[Long] = None, mark: Boolean = false): Array[Byte] = {
    val out = base match {
      case None => packPlain(src, srcShape, box, width)
      case Some(b) => packBased(src, srcShape, box, width, b)
    }
    if (mark) out(0) = (out(0) | MarkFlag).toByte
    out
  }

  private def packPlain(src: Array[Long], srcShape: Array[Int], box: Box,
                        width: Int): Array[Byte] = {
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

  private def packBased(src: Array[Long], srcShape: Array[Int], box: Box,
                        width: Int, base: Long): Array[Byte] = {
    val out = new Array[Byte](BasedHeader + box.numel * width)
    out(0) = (width | BaseFlag).toByte
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(1, base)
    var pos = BasedHeader
    foreachRun(srcShape, box) { (from, n) =>
      var i = from
      var p = pos
      val end = from + n
      width match {
        case 1 => while (i < end) { val v = src(i); out(p) = (if (v == 0L) 0L else v - base).toByte; i += 1; p += 1 }
        case 2 => while (i < end) { val v = src(i); buf.putShort(p, (if (v == 0L) 0L else v - base).toShort); i += 1; p += 2 }
        case 4 => while (i < end) { val v = src(i); buf.putInt(p, (if (v == 0L) 0L else v - base).toInt); i += 1; p += 4 }
        case _ => while (i < end) { val v = src(i); buf.putLong(p, if (v == 0L) 0L else v - base); i += 1; p += 8 }
      }
      pos += n * width
    }
    out
  }

  /** [[pasteBox]] from the wire format written by [[packBox]]. */
  def unpackBox(dst: Array[Long], dstShape: Array[Int], box: Box,
                packed: Array[Byte]): Unit = {
    val based = (packed(0) & BaseFlag) != 0
    val width = packed(0) & 0x3f
    val header = if (based) BasedHeader else 1
    require((width == 1 || width == 2 || width == 4 || width == 8) &&
      packed.length == header + box.numel * width,
      s"packed payload of ${packed.length} bytes does not hold ${box.numel} values of width $width" +
        (if (based) " after its 8-byte base" else ""))
    if (based) unpackBased(dst, dstShape, box, packed, width)
    else unpackPlain(dst, dstShape, box, packed, width)
  }

  private def unpackPlain(dst: Array[Long], dstShape: Array[Int], box: Box,
                          packed: Array[Byte], width: Int): Unit = {
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

  private def unpackBased(dst: Array[Long], dstShape: Array[Int], box: Box,
                          packed: Array[Byte], width: Int): Unit = {
    val buf = ByteBuffer.wrap(packed).order(ByteOrder.LITTLE_ENDIAN)
    val base = buf.getLong(1)
    var pos = BasedHeader
    foreachRun(dstShape, box) { (from, n) =>
      var i = from
      var p = pos
      val end = from + n
      width match {
        case 1 => while (i < end) { val s = packed(p) & 0xffL; dst(i) = if (s == 0L) 0L else s + base; i += 1; p += 1 }
        case 2 => while (i < end) { val s = buf.getShort(p) & 0xffffL; dst(i) = if (s == 0L) 0L else s + base; i += 1; p += 2 }
        case 4 => while (i < end) { val s = buf.getInt(p) & 0xffffffffL; dst(i) = if (s == 0L) 0L else s + base; i += 1; p += 4 }
        case _ => while (i < end) { val s = buf.getLong(p); dst(i) = if (s == 0L) 0L else s + base; i += 1; p += 8 }
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
