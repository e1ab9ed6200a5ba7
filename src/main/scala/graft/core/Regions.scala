package graft.core

/** Overlap-region enumeration and slice arithmetic.
  *
  * Re-expresses the reference's region combinatorics (`utils.py:64-143`):
  * each chunk has up to 3^d - 1 overlap regions against its neighbors —
  * faces, edges, vertices — identified by a per-axis *level*:
  * `-1` = axis not varying (python `None`), `0` = low side, `1` = high side.
  *
  * Enumeration ORDER is semantically significant: the removal kernel's
  * precedence rule (`chunkops.py:59-79`) keeps the first region (in this
  * order) that contains a label, so we replicate the exact
  * `itertools.combinations x unpackbits(little-endian)` order of
  * `utils.py:68-88`: regions of the highest dimensionality first
  * (vertices, then edges, then faces), combinations of fixed axes in
  * lexicographic order, and low/high assignments in little-endian counting
  * order of the varying axes.
  */
object Regions {

  final val NotVarying = -1

  /** U3 `get_valid_overlaps` (`utils.py:64-88`): all regions whose neighbor
    * exists in the grid, in reference enumeration order.
    */
  def validOverlaps(loc: Array[Int], grid: Array[Int]): IndexedSeq[Array[Int]] = {
    val dims = loc.length
    val out = IndexedSeq.newBuilder[Array[Int]]
    var nFixed = 0
    while (nFixed < dims) {
      val varyingCount = dims - nFixed
      for (comb <- (0 until dims).combinations(nFixed)) {
        var k = 0
        while (k < (1 << varyingCount)) {
          // little-endian unpack of k over the varying axes
          val levels = scala.collection.mutable.ArrayBuffer.tabulate(varyingCount)(i => (k >> i) & 1)
          // insert NotVarying at each fixed position (ascending, as the
          // reference's `indices[fixed:fixed] = [None]`)
          for (fixed <- comb) levels.insert(fixed, NotVarying)
          val arr = levels.toArray
          var ok = true
          var a = 0
          while (ok && a < dims) {
            val lv = arr(a)
            if (lv == 1) ok = loc(a) < grid(a) - 1
            else if (lv == 0) ok = loc(a) > 0
            a += 1
          }
          if (ok) out += arr
          k += 1
        }
      }
      nFixed += 1
    }
    out.result()
  }

  /** U4 `get_merging_overlaps` (`utils.py:91-112`): valid regions where at
    * least one varying-axis chunk coordinate is odd — the parity rule that
    * gives every chunk boundary a unique owner (odd chunks pull from even).
    */
  def mergingOverlaps(loc: Array[Int], grid: Array[Int]): IndexedSeq[Array[Int]] =
    validOverlaps(loc, grid).filter { levels =>
      levels.indices.exists(a => levels(a) != NotVarying && loc(a) % 2 != 0)
    }

  /** Parity drop flag used by the removal kernel (`chunkops.py:60-63`): drop
    * the label iff any varying axis of the region has an odd chunk coordinate.
    */
  def parityDrop(loc: Array[Int], levels: Array[Int]): Boolean =
    levels.indices.exists(a => levels(a) != NotVarying && loc(a) % 2 != 0)

  /** Region dimensionality = number of varying axes. */
  def regionDim(levels: Array[Int]): Int = levels.count(_ != NotVarying)

  /** U5 `get_source_selection` (`utils.py:131-143`) for one axis, resolved
    * against this tile's axis extent `len`. Border-aware: a chunk at the grid
    * edge has no halo on that side.
    */
  def sourceSel(coord: Int, axisChunks: Int, ov: Int, level: Int, len: Int): (Int, Int) =
    level match {
      case NotVarying =>
        (if (coord > 0) ov else 0, if (coord < axisChunks - 1) len - ov else len)
      case 1 =>
        (if (coord < axisChunks - 1) len - ov else 0, len)
      case 0 =>
        (0, if (coord > 0) ov else len)
    }

  /** U5 `get_dest_selection` (`utils.py:115-128`) for one axis against this
    * tile's axis extent `len` (the *un-expanded* overlapped tile frame).
    */
  def destSel(coord: Int, axisChunks: Int, ov: Int, level: Int, len: Int): (Int, Int) =
    level match {
      case NotVarying => (0, len)
      case 1 =>
        (len - ov * (if (coord < axisChunks - 1) 2 else 1),
         if (coord < axisChunks - 1) len - ov else len)
      case 0 =>
        (if (coord > 0) ov else 0, ov * (if (coord > 0) 2 else 1))
    }

  /** Source box of a region on this tile's own frame (used by the removal
    * kernel's region scan, `chunkops.py:67-70`).
    */
  def sourceBox(loc: Array[Int], grid: Array[Int], overlaps: Array[Int],
                levels: Array[Int], shape: Array[Int]): Nd.Box = {
    val dims = loc.length
    val start = new Array[Int](dims)
    val end = new Array[Int](dims)
    var a = 0
    while (a < dims) {
      val (s, e) = sourceSel(loc(a), grid(a), overlaps(a), levels(a), shape(a))
      start(a) = s; end(a) = e; a += 1
    }
    Nd.Box(start, end)
  }

  /** Destination box of a region on this tile's own frame (merge paint,
    * `chunkops.py:152-159`).
    */
  def destBox(loc: Array[Int], grid: Array[Int], overlaps: Array[Int],
              levels: Array[Int], shape: Array[Int]): Nd.Box = {
    val dims = loc.length
    val start = new Array[Int](dims)
    val end = new Array[Int](dims)
    var a = 0
    while (a < dims) {
      val (s, e) = destSel(loc(a), grid(a), overlaps(a), levels(a), shape(a))
      start(a) = s; end(a) = e; a += 1
    }
    Nd.Box(start, end)
  }

  /** Interior box: the tile minus `overlap` margin on every side that has a
    * neighbor (`chunkops.py:27-34`, also merge's `base_src_sel`).
    */
  def interiorBox(loc: Array[Int], grid: Array[Int], overlaps: Array[Int],
                  shape: Array[Int]): Nd.Box = {
    val dims = loc.length
    val start = new Array[Int](dims)
    val end = new Array[Int](dims)
    var a = 0
    while (a < dims) {
      start(a) = if (loc(a) > 0) overlaps(a) else 0
      end(a) = if (loc(a) < grid(a) - 1) shape(a) - overlaps(a) else shape(a)
      a += 1
    }
    Nd.Box(start, end)
  }

  /** The halo-expanded frame around a core of shape `core`: `overlap`
    * more on every side that has a neighbor, so that [[interiorBox]] of
    * the frame is the core.
    */
  def haloShape(loc: Array[Int], grid: Array[Int], overlaps: Array[Int],
                core: Array[Int]): Array[Int] =
    Array.tabulate(loc.length) { a =>
      core(a) + (if (loc(a) > 0) overlaps(a) else 0) +
        (if (loc(a) < grid(a) - 1) overlaps(a) else 0)
    }

  /** Linear chunk index, `np.ravel_multi_index(loc, grid)` row-major. */
  def linearIndex(loc: Array[Int], grid: Array[Int]): Long = {
    var acc = 0L
    var a = 0
    while (a < loc.length) { acc = acc * grid(a) + loc(a); a += 1 }
    acc
  }

  /** Chunk-disjoint global label offset (`chunkops.py:93-94`):
    * `ravel_multi_index(loc, grid) * (2^31 / prod(grid) + 2^31)`.
    */
  def labelOffset(loc: Array[Int], grid: Array[Int]): Long = {
    var prod = 1L
    var a = 0
    while (a < grid.length) { prod *= grid(a); a += 1 }
    linearIndex(loc, grid) * (2147483648L / prod + 2147483648L)
  }
}
