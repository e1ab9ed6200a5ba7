package graft.core

import graft.tiles.Tile

/** Per-tile kernels — pure Scala re-expressions of the reference's chunk
  * kernels. These run inside `Dataset.map`/`mapGroups` closures; they touch
  * no Spark API so they are unit-testable against the golden fixtures
  * without a session.
  */
object Kernels {

  /** O3 `remove_overlapped_objects` (`chunkops.py:11-101`).
    *
    * Per tile: classify every label by the fraction `p` of its pixels inside
    * the interior (non-margin) box; `p > 1-threshold` keeps, `p < threshold`
    * drops, and labels in between are owned by the first enumerated overlap
    * region containing them — dropped iff that region's parity is odd
    * (`chunkops.py:49-79`). Survivors get the chunk-disjoint global int64
    * offset (`chunkops.py:93-99`). The classes channel is masked by survival
    * (`relabeling.py:71`).
    *
    * Single pass for the histograms (the reference's per-label `np.where`
    * loops are O(labels*pixels) — its main single-node inefficiency,
    * BASELINE.md).
    */
  def removeOverlapped(tile: Tile, overlaps: Array[Int], threshold: Double): Tile = {
    // Dense fast path: fresh segmentation labels are 1..N per tile, so flat
    // arrays beat boxed hash maps by ~an order of magnitude in the hot
    // histogram pass. Sparse path covers pre-labeled inputs whose ids are
    // already spread over int64 (labels2geojson on global-id tiles).
    var maxL = 0L
    var minL = 0L
    var i = 0
    while (i < tile.data.length) {
      val v = tile.data(i)
      if (v > maxL) maxL = v
      if (v < minL) minL = v
      i += 1
    }
    // negative or huge ids (pre-labeled exotic inputs) -> hash-map path
    if (minL >= 0L && maxL <= (1 << 22)) removeDense(tile, overlaps, threshold, maxL.toInt)
    else removeSparse(tile, overlaps, threshold)
  }

  private def removeDense(tile: Tile, overlaps: Array[Int], threshold: Double,
                          maxL: Int): Tile = {
    val data = tile.data
    val n = data.length
    val shape = tile.shape
    val loc = tile.loc
    val grid = tile.grid
    val dims = tile.dims

    val total = new Array[Int](maxL + 1)
    val intr = new Array[Int](maxL + 1)
    var i = 0
    while (i < n) {
      val v = data(i)
      if (v != 0L) total(v.toInt) += 1
      i += 1
    }
    Nd.foreachRun(shape, Regions.interiorBox(loc, grid, overlaps, shape)) { (from, n) =>
      var f = from
      val end = from + n
      while (f < end) {
        val v = data(f)
        if (v != 0L) intr(v.toInt) += 1
        f += 1
      }
    }

    // codes: +/-(dims+1) firmly in/out (`chunkops.py:49-52`); 0 = band
    val codes = new Array[Int](maxL + 1)
    var l = 1
    while (l <= maxL) {
      if (total(l) > 0) {
        val p = intr(l).toDouble / total(l).toDouble
        codes(l) = if (p > 1.0 - threshold) dims + 1
                   else if (p < threshold) -(dims + 1)
                   else 0
      }
      l += 1
    }

    for (levels <- Regions.validOverlaps(loc, grid)) {
      val drop = Regions.parityDrop(loc, levels)
      val rdim = Regions.regionDim(levels)
      val box = Regions.sourceBox(loc, grid, overlaps, levels, shape)
      Nd.foreachRun(shape, box) { (from, n) =>
        var f = from
        val end = from + n
        while (f < end) {
          val v = data(f)
          if (v != 0L) {
            val li = v.toInt
            if (total(li) > 0 && math.abs(codes(li)) < rdim &&
                intr(li).toDouble / total(li).toDouble >= threshold)
              codes(li) = if (drop) -rdim else rdim
          }
          f += 1
        }
      }
    }

    val offset = Regions.labelOffset(loc, grid)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val v = data(i)
      if (v != 0L && codes(v.toInt) >= 0) out(i) = v + offset
      i += 1
    }
    maskClasses(tile, out)
  }

  /** Overlap-sufficiency diagnostic: labels present on BOTH opposite margin
    * faces of one expanded tile along some axis. That is the signature of an
    * object spanning the tile's whole core plus both halos — wider than the
    * overlap can cover — which the O3 parity rule then SILENTLY splits into
    * two differently-owned fragments. The reference inherits this
    * correctness constraint (objects must fit inside the overlap margin,
    * `chunkops.py:25-89` assumes every object lies fully inside at least one
    * expanded tile) but never detects a violation; this kernel makes the
    * failure observable at any scale, per tile, before merge.
    *
    * A margin face only exists where a neighbor actually shipped a halo
    * (`loc > 0` low side, `loc < grid-1` high side), so edge tiles cannot
    * false-positive. Returns (axis, label) pairs, deduplicated, in
    * deterministic (axis, label) order. One pass over the tile's rows;
    * a row on no leading margin face reads only its own margin ends.
    */
  def marginSpanViolations(tile: Tile, overlaps: Array[Int]): Array[(Int, Long)] = {
    val dims = tile.dims
    val shape = tile.shape
    val data = tile.data
    val hasLow = Array.tabulate(dims)(a => tile.loc(a) > 0 && overlaps(a) > 0)
    val hasHigh = Array.tabulate(dims)(a =>
      tile.loc(a) < tile.grid(a) - 1 && overlaps(a) > 0)
    if (!hasLow.exists(identity) && !hasHigh.exists(identity))
      return Array.empty
    val lowSeen = Array.fill(dims)(new java.util.HashSet[Long]())
    val highSeen = Array.fill(dims)(new java.util.HashSet[Long]())
    // walk rows of the last axis: the leading coordinates, and so which of
    // their margin faces a row lies in, change once per row
    val last = dims - 1
    val rowLen = shape(last)
    val lowCut = if (hasLow(last)) overlaps(last) else 0
    val highCut = if (hasHigh(last)) rowLen - overlaps(last) else rowLen
    val idx = new Array[Int](dims)
    val inLow = new Array[Boolean](dims)
    val inHigh = new Array[Boolean](dims)
    var rowStart = 0
    while (rowLen > 0 && rowStart < data.length) {
      var anyFace = false
      var a = 0
      while (a < last) {
        inLow(a) = hasLow(a) && idx(a) < overlaps(a)
        inHigh(a) = hasHigh(a) && idx(a) >= shape(a) - overlaps(a)
        anyFace ||= inLow(a) || inHigh(a)
        a += 1
      }
      var j = if (anyFace || lowCut > 0) 0 else highCut
      while (j < rowLen) {
        val v = data(rowStart + j)
        if (v != 0L) {
          if (anyFace) {
            a = 0
            while (a < last) {
              if (inLow(a)) lowSeen(a).add(v)
              if (inHigh(a)) highSeen(a).add(v)
              a += 1
            }
          }
          if (j < lowCut) lowSeen(last).add(v)
          if (j >= highCut) highSeen(last).add(v)
        }
        j += 1
        if (!anyFace && j == lowCut) j = math.max(j, highCut)
      }
      rowStart += rowLen
      a = last - 1
      while (a >= 0 && { idx(a) += 1; idx(a) == shape(a) }) { idx(a) = 0; a -= 1 }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var a = 0
    while (a < dims) {
      if (hasLow(a) && hasHigh(a)) {
        val it = lowSeen(a).iterator()
        val hits = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) { val l = it.next(); if (highSeen(a).contains(l)) hits += l }
        hits.sorted.foreach(l => out += ((a, l)))
      }
      a += 1
    }
    out.toArray
  }

  private def maskClasses(tile: Tile, out: Array[Long]): Tile = {
    val newClasses =
      if (!tile.hasClasses) tile.classes
      else tile.classes.map { ch =>
        val nc = new Array[Long](out.length)
        var j = 0
        while (j < out.length) { if (out(j) != 0L) nc(j) = ch(j); j += 1 }
        nc
      }
    tile.copy(data = out, classes = newClasses)
  }

  private def removeSparse(tile: Tile, overlaps: Array[Int], threshold: Double): Tile = {
    val data = tile.data
    val n = data.length
    val shape = tile.shape
    val loc = tile.loc
    val grid = tile.grid

    // label -> (total pixels, interior pixels)
    val total = new java.util.HashMap[java.lang.Long, Array[Int]]()
    var i = 0
    while (i < n) {
      val v = data(i)
      if (v != 0L) {
        var c = total.get(v)
        if (c == null) { c = new Array[Int](2); total.put(v, c) }
        c(0) += 1
      }
      i += 1
    }
    val interior = Regions.interiorBox(loc, grid, overlaps, shape)
    Nd.foreachRun(shape, interior) { (from, n) =>
      var f = from
      val end = from + n
      while (f < end) {
        val v = data(f)
        if (v != 0L) total.get(v)(1) += 1
        f += 1
      }
    }

    // region-dim codes (`chunkops.py:49-52`): +/-(dims+1) for firmly
    // interior/margin labels; 0 for the in-between band.
    val dims = tile.dims
    val codes = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    val props = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    val it0 = total.entrySet().iterator()
    while (it0.hasNext) {
      val e = it0.next()
      // float32 division in the reference (`chunkops.py:36-48`); ratios of
      // small integer counts are far from the threshold in either precision.
      val p = e.getValue()(1).toDouble / e.getValue()(0).toDouble
      props.put(e.getKey, p)
      val c = if (p > 1.0 - threshold) dims + 1
              else if (p < threshold) -(dims + 1)
              else 0
      codes.put(e.getKey, c)
    }

    // region scan in exact enumeration order (`chunkops.py:59-79`)
    for (levels <- Regions.validOverlaps(loc, grid)) {
      val drop = Regions.parityDrop(loc, levels)
      val rdim = Regions.regionDim(levels)
      val box = Regions.sourceBox(loc, grid, overlaps, levels, shape)
      val present = new java.util.HashSet[java.lang.Long]()
      Nd.foreachRun(shape, box) { (from, n) =>
        var f = from
        val end = from + n
        while (f < end) {
          val v = data(f)
          if (v != 0L) present.add(v)
          f += 1
        }
      }
      val it = present.iterator()
      while (it.hasNext) {
        val lbl = it.next()
        val p = props.get(lbl)
        val c = codes.get(lbl)
        if (p >= threshold && math.abs(c) < rdim)
          codes.put(lbl, if (drop) -rdim else rdim)
      }
    }

    // drop negatives, offset survivors (`chunkops.py:83-99`)
    val offset = Regions.labelOffset(loc, grid)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val v = data(i)
      if (v != 0L && codes.get(v) >= 0) out(i) = v + offset
      i += 1
    }
    maskClasses(tile, out)
  }

  /** O4 `merge_tiles` paint (`chunkops.py:132-189`), shard-based, on the
    * receiving tile's core.
    *
    * Rather than materializing the doubly-expanded array of `da.map_overlap`,
    * each merging region's source pixels arrive as a halo shard (keyed by the
    * region levels from this tile's perspective). `core` is the receiver
    * already cut to its interior: the reference paints the halo-expanded
    * tile and then trims it (`da.overlap.trim_overlap`,
    * `relabeling.py:97`), so only the core can reach the output. Each
    * region's dest box is clipped to the core, and in exact merging-region
    * order non-zero shard labels overwrite it; classes follow the same mask
    * (`chunkops.py:170-181`). The paint is a pointwise overwrite, so
    * clipping first gives the same voxels as painting and then trimming.
    * It paints in place: `core`'s arrays are the output.
    *
    * `shardFor(levels)` returns the (labels, classes-channels) payload for a
    * region, shaped as the region's dest box clipped to the core.
    */
  def mergePaint(core: Tile, overlaps: Array[Int],
                 shardFor: Array[Int] => (Array[Long], Array[Array[Long]])): Tile = {
    val shape = core.shape
    val frame = Regions.haloShape(core.loc, core.grid, overlaps, shape)
    val interior = Regions.interiorBox(core.loc, core.grid, overlaps, frame)
    val out = core.data
    val outClasses = core.classes
    val nCh = if (core.hasClasses) outClasses.length else 0

    for (levels <- Regions.mergingOverlaps(core.loc, core.grid)) {
      val dst = Regions.destBox(core.loc, core.grid, overlaps, levels, frame)
        .intersect(interior).relativeTo(interior.start)
      val (shard, shardClasses) = shardFor(levels)
      require(shard.length == dst.numel,
        s"shard size ${shard.length} != dest box ${dst.numel} for region ${levels.mkString(",")} of tile ${core.loc.mkString(",")}")
      var i = 0
      Nd.foreachRun(shape, dst) { (from, n) =>
        var flat = from
        var j = i
        val end = from + n
        while (flat < end) {
          val v = shard(j)
          if (v != 0L) {
            out(flat) = v
            var ch = 0
            while (ch < nCh) {
              outClasses(ch)(flat) = shardClasses(ch)(j)
              ch += 1
            }
          }
          flat += 1; j += 1
        }
        i = j
      }
    }
    core
  }

  /** Why an O10 remap can meet a label its rank pass never saw. Both
    * passes read one physical plan, so the only way left is a map stage
    * that Spark re-runs (after a shuffle fetch failure) computing
    * different labels than its first run.
    */
  val RankMissCause: String =
    "a map stage was re-run (e.g. after a shuffle fetch failure) under a " +
      "nondeterministic segmentation function; make the segmentation " +
      "deterministic or persist the input before sorting"

  /** O10 `sort_indices` (`chunkops.py:104-113`): remap every label to its
    * index in `sorted`, the globally sorted distinct-label list
    * (broadcast). A label is binary-searched only where it differs from the
    * previous voxel's, so runs of background or of one object pay one
    * lookup.
    */
  def sortRemap(tile: Tile, sorted: Array[Long]): Tile = remapRanks(tile, sorted, _.toLong)

  /** [[sortRemap]] over a tile's own sorted `labels`, where `ranks(i)` is
    * the global rank of `labels(i)`.
    */
  def sortRemap(tile: Tile, labels: Array[Long], ranks: Array[Long]): Tile =
    remapRanks(tile, labels, ranks(_))

  private def remapRanks(tile: Tile, labels: Array[Long], rankAt: Int => Long): Tile = {
    val data = tile.data
    val out = new Array[Long](data.length)
    var label = 0L
    var r = 0L
    var i = 0
    while (i < out.length) {
      if (i == 0 || data(i) != label) {
        label = data(i)
        val at = java.util.Arrays.binarySearch(labels, label)
        if (at < 0) throw new IllegalStateException(
          s"label $label of tile ${tile.loc.mkString("(", ",", ")")} " +
            s"has no rank: $RankMissCause")
        r = rankAt(at)
      }
      out(i) = r
      i += 1
    }
    tile.copy(data = out)
  }

  /** O10's label probe over one partition: the sorted distinct labels of
    * `tiles`, at most `limit` of the smallest. Only a label that differs
    * from the previous voxel's is buffered. A full buffer is sorted and
    * deduplicated in place, keeping at most `limit` values, and doubles
    * only when that leaves it more than half full.
    */
  def distinctLabels(tiles: Iterator[Tile], limit: Int): Array[Long] = {
    var buf = new Array[Long](1024)
    var n = 0
    tiles.foreach { t =>
      val d = t.data
      var i = 0
      while (i < d.length) {
        if (i == 0 || d(i) != d(i - 1)) {
          if (n == buf.length) {
            n = sortDistinct(buf, n, limit)
            if (n > buf.length / 2) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          }
          buf(n) = d(i)
          n += 1
        }
        i += 1
      }
    }
    java.util.Arrays.copyOf(buf, sortDistinct(buf, n, limit))
  }

  /** Sorts `a(0 until n)` in place and moves its distinct values, at most
    * `limit` of the smallest, to the front; returns how many there are.
    */
  private def sortDistinct(a: Array[Long], n: Int, limit: Int): Int = {
    java.util.Arrays.sort(a, 0, n)
    var k = 0
    var i = 0
    while (i < n && k < limit) {
      if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    k
  }

  /** The sorted distinct union of the sorted distinct `a` and `b`, at most
    * `limit` of the smallest.
    */
  def mergeDistinct(a: Array[Long], b: Array[Long], limit: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length.toLong + b.length, limit.toLong).toInt)
    var i, j, k = 0
    while (k < out.length && (i < a.length || j < b.length)) {
      val v =
        if (j == b.length || (i < a.length && a(i) <= b(j))) a(i)
        else b(j)
      if (i < a.length && a(i) == v) i += 1
      if (j < b.length && b(j) == v) j += 1
      out(k) = v
      k += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Zero-pad a tile on the high side to `target` shape
    * (`relabeling.py:175-178` — pad is high-side only).
    */
  def padTo(tile: Tile, target: Array[Int]): Tile = {
    if (java.util.Arrays.equals(tile.shape, target)) return tile
    val out = new Array[Long](Nd.size(target))
    Nd.pasteBox(out, target, Nd.Box(new Array[Int](tile.dims), tile.shape.clone()), tile.data)
    val classes =
      if (tile.hasClasses) tile.classes.map { ch =>
        val o = new Array[Long](Nd.size(target))
        Nd.pasteBox(o, target, Nd.Box(new Array[Int](tile.dims), tile.shape.clone()), ch)
        o
      } else tile.classes
    tile.copy(shape = target, data = out, classes = classes)
  }

  /** Crop a tile to `target` shape from the origin (the `image2labels` final
    * un-pad slice, `relabeling.py:237-240`).
    */
  def cropTo(tile: Tile, target: Array[Int]): Tile = {
    if (java.util.Arrays.equals(tile.shape, target)) return tile
    val box = Nd.Box(new Array[Int](tile.dims), target.clone())
    val classes =
      if (tile.hasClasses) tile.classes.map(ch => Nd.sliceBox(ch, tile.shape, box))
      else tile.classes
    tile.copy(shape = target, data = Nd.sliceBox(tile.data, tile.shape, box),
      classes = classes)
  }
}
