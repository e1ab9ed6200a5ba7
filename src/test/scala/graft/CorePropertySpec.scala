package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{CCL, Kernels, Nd, Regions}
import graft.tiles.Tile

/** Property tests the reference lacks (SURVEY.md §5 port plan): region-math
  * invariants, CCL vs brute-force flood fill, and pipeline invariants on
  * random images.
  */
class CorePropertySpec extends AnyFunSuite {

  /** Deterministic property driver (no scalatestplus bridge in the offline
    * cache): evaluate `f` over `n` seeded samples of `gen`.
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: ((A, B)) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(f)

  private val locGrid2d = for {
    ny <- Gen.choose(1, 4); nx <- Gen.choose(1, 4)
    y <- Gen.choose(0, ny - 1); x <- Gen.choose(0, nx - 1)
  } yield (Array(y, x), Array(ny, nx))

  private val locGrid3d = for {
    nz <- Gen.choose(1, 3); ny <- Gen.choose(1, 3); nx <- Gen.choose(1, 3)
    z <- Gen.choose(0, nz - 1); y <- Gen.choose(0, ny - 1); x <- Gen.choose(0, nx - 1)
  } yield (Array(z, y, x), Array(nz, ny, nx))

  test("validOverlaps: counts, uniqueness, dimension-descending order") {
    forAll(Gen.oneOf(locGrid2d, locGrid3d)) { case (loc, grid) =>
      val regions = Regions.validOverlaps(loc, grid)
      // each region's neighbor must exist
      regions.foreach { levels =>
        levels.indices.foreach { a =>
          levels(a) match {
            case 1 => assert(loc(a) < grid(a) - 1)
            case 0 => assert(loc(a) > 0)
            case _ =>
          }
        }
      }
      // unique and dimension-descending (the precedence rule relies on it)
      assert(regions.map(_.toSeq).distinct.size == regions.size)
      val dims = regions.map(Regions.regionDim)
      assert(dims == dims.sortBy(-_))
      // interior chunk of a big grid sees all 3^d - 1 regions
      if (loc.indices.forall(a => loc(a) > 0 && loc(a) < grid(a) - 1))
        assert(regions.size == math.pow(3, loc.length).toInt - 1)
    }
  }

  test("merging overlaps are exactly the odd-parity subset") {
    forAll(locGrid2d) { case (loc, grid) =>
      val all = Regions.validOverlaps(loc, grid).map(_.toSeq).toSet
      val merging = Regions.mergingOverlaps(loc, grid)
      merging.foreach(lv => assert(Regions.parityDrop(loc, lv)))
      assert((all -- merging.map(_.toSeq)).forall(lv =>
        !Regions.parityDrop(loc, lv.toArray)))
    }
  }

  test("every margin pixel belongs to at least one region source box") {
    forAll(locGrid2d, Gen.choose(1, 2)) { case ((loc, grid), ov) =>
      val shape = Array(6, 6)
      val overlaps = Array(ov, ov)
      val interior = Regions.interiorBox(loc, grid, overlaps, shape)
      val covered = Array.ofDim[Boolean](36)
      for (levels <- Regions.validOverlaps(loc, grid))
        Nd.foreachIndex(shape, Regions.sourceBox(loc, grid, overlaps, levels, shape))(
          covered(_) = true)
      val inInterior = Array.ofDim[Boolean](36)
      Nd.foreachIndex(shape, interior)(inInterior(_) = true)
      for (i <- 0 until 36 if !inInterior(i))
        assert(covered(i), s"margin pixel $i uncovered at loc=${loc.toSeq} grid=${grid.toSeq}")
    }
  }

  /** CCL against brute-force flood fill: components are the face-connected
    * sets of equal non-zero values, labelled 1..N by raster first
    * occurrence.
    */
  private def assertFloodFill(shape: Array[Int], data: Array[Long]): Unit = {
    val labels = CCL.label(data, shape)
    val st = Nd.strides(shape)
    def flood(seed: Int): Set[Int] = {
      val stack = scala.collection.mutable.Stack(seed)
      val seen = scala.collection.mutable.Set(seed)
      while (stack.nonEmpty) {
        val p = stack.pop()
        for (a <- shape.indices; step <- Seq(-1, 1)) {
          val c = p / st(a) % shape(a) + step
          val q = p + step * st(a)
          if (c >= 0 && c < shape(a) && data(q) == data(seed) && !seen(q)) { seen += q; stack.push(q) }
        }
      }
      seen.toSet
    }
    val ctx = s"${shape.mkString("x")} image ${data.mkString(",")}"
    for (i <- data.indices) {
      if (data(i) == 0L) assert(labels(i) == 0L, ctx)
      else {
        val comp = flood(i)
        assert(comp.map(labels(_)).size == 1, s"component split at $i: $ctx")
        assert(data.indices.filter(labels(_) == labels(i)).toSet == comp,
          s"component merged wrongly at $i: $ctx")
      }
    }
    // labels are 1..N by raster first-occurrence
    val firsts = labels.distinct.filter(_ != 0)
    assert(firsts.sameElements(1L to firsts.length), ctx)
  }

  test("CCL matches brute-force flood fill on random binary images") {
    val img = for {
      h <- Gen.choose(1, 9); w <- Gen.choose(1, 9)
      cells <- Gen.listOfN(h * w, Gen.oneOf(0L, 0L, 1L))
    } yield (Array(h, w), cells.toArray)
    forAll(img) { case (shape, data) => assertFloodFill(shape, data) }
  }

  test("CCL matches brute-force flood fill on 2-D and 3-D multi-valued images") {
    val img = for {
      dims <- Gen.oneOf(2, 3)
      shape <- Gen.listOfN(dims, Gen.choose(1, if (dims == 2) 9 else 5))
      cells <- Gen.listOfN(shape.product, Gen.oneOf(0L, 0L, 1L, 2L, 3L, -1L, Long.MaxValue))
    } yield (shape.toArray, cells.toArray)
    forAll(img) { case (shape, data) => assertFloodFill(shape, data) }
  }

  test("remove kernel: offsets are chunk-disjoint and survivors keep identity") {
    val tileGen = for {
      (loc, grid) <- locGrid2d
      data <- Gen.listOfN(36, Gen.choose(0L, 4L))
    } yield Tile(loc, grid, Array(6, 6), data.toArray)
    forAll(tileGen) { t =>
      val out = Kernels.removeOverlapped(t, Array(2, 2), 0.25)
      val offset = Regions.labelOffset(t.loc, t.grid)
      out.data.indices.foreach { i =>
        val v = out.data(i)
        assert(v == 0L || v == t.data(i) + offset,
          "survivors must be original label + chunk offset; dropped must be 0")
      }
      // per-label all-or-nothing: a label either fully survives or is erased
      val byLabel = t.data.zip(out.data).filter(_._1 != 0L).groupBy(_._1)
      byLabel.foreach { case (_, pairs) =>
        assert(pairs.map(_._2 != 0L).distinct.length == 1)
      }
      // the same tile with every label + 2^40 takes the sparse (hash-map)
      // path and must drop exactly what the dense path drops
      val shift = 1L << 40
      val far = Kernels.removeOverlapped(
        t.copy(data = t.data.map(v => if (v == 0L) 0L else v + shift)),
        Array(2, 2), 0.25)
      assert(far.data.toSeq == out.data.map(v => if (v == 0L) 0L else v + shift).toSeq,
        "sparse path must keep the dense path's survivors, each + 2^40")
    }
  }

  test("sliceBox/pasteBox round-trip") {
    // values of every wire width class: 1, 2, 4 and 8 bytes, negatives and
    // the Long extremes
    val valueClasses = Seq(Gen.choose(0L, 255L), Gen.choose(0L, 65535L),
      Gen.choose(0L, 0xffffffffL), Gen.choose(1L << 32, Long.MaxValue),
      Gen.choose(Long.MinValue, -1L), Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))
    val gen = for {
      h <- Gen.choose(1, 6); w <- Gen.choose(1, 6); d <- Gen.choose(1, 4)
      y0 <- Gen.choose(0, h - 1); x0 <- Gen.choose(0, w - 1); z0 <- Gen.choose(0, d - 1)
      y1 <- Gen.choose(y0 + 1, h); x1 <- Gen.choose(x0 + 1, w)
      z1 <- Gen.frequency((9, Gen.choose(z0 + 1, d)), (1, Gen.const(z0)))
      values <- Gen.oneOf(valueClasses)
      src <- Gen.listOfN(d * h * w, values)
    } yield (Array(d, h, w), Nd.Box(Array(z0, y0, x0), Array(z1, y1, x1)), src.toArray)
    val widths = scala.collection.mutable.Set.empty[Int]
    var zeroSize, subBox = 0
    forAll(gen) { case (shape, box, src) =>
      val cut = Nd.sliceBox(src, shape, box)
      assert(cut.length == box.numel)
      val dst = new Array[Long](src.length)
      Nd.pasteBox(dst, shape, box, cut)
      Nd.foreachIndex(shape, box) { flat => assert(dst(flat) == src(flat)) }
      assert(dst.sum == cut.sum)

      // the packed wire codec: narrowest width, same round-trip
      val width = Nd.packWidth(src)
      val expected =
        if (src.exists(v => v < 0L || v > 0xffffffffL)) 8
        else if (src.exists(_ > 65535L)) 4
        else if (src.exists(_ > 255L)) 2
        else 1
      assert(width == expected, s"width of ${src.mkString(",")}")
      val packed = Nd.packBox(src, shape, box, width)
      assert(packed.length == 1 + box.numel * width)
      val back = new Array[Long](src.length)
      Nd.unpackBox(back, shape, box, packed)
      assert(back.sameElements(dst))
      val flat = new Array[Long](box.numel)
      Nd.unpackBox(flat, box.shape, Nd.fullBox(box.shape), packed)
      assert(flat.sameElements(cut))
      widths += width
      if (box.numel == 0) zeroSize += 1
      else if (box.numel < src.length) subBox += 1
    }
    assert(widths == Set(1, 2, 4, 8))
    assert(zeroSize > 0 && subBox > 0, s"zero-size $zeroSize, strict sub-box $subBox")
  }

  test("box kernels equal their per-voxel definitions over foreachIndex") {
    def naiveSlice(src: Array[Long], shape: Array[Int], box: Nd.Box): Array[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      Nd.foreachIndex(shape, box)(out += src(_))
      out.toArray
    }
    def naivePaste(dst: Array[Long], shape: Array[Int], box: Nd.Box,
                   payload: Array[Long], nonZeroOnly: Boolean): Unit = {
      var i = 0
      Nd.foreachIndex(shape, box) { flat =>
        if (!nonZeroOnly || payload(i) != 0L) dst(flat) = payload(i)
        i += 1
      }
    }
    def naivePack(src: Array[Long], shape: Array[Int], box: Nd.Box, width: Int): Array[Byte] =
      width.toByte +: naiveSlice(src, shape, box).flatMap(v =>
        (0 until width).map(b => (v >>> (8 * b)).toByte))
    def naiveUnpack(dst: Array[Long], shape: Array[Int], box: Nd.Box,
                    packed: Array[Byte]): Unit = {
      val w = packed(0).toInt
      val values = Array.tabulate(box.numel)(i => (0 until w).foldLeft(0L)((acc, b) =>
        acc | ((packed(1 + i * w + b) & 0xffL) << (8 * b))))
      naivePaste(dst, shape, box, values, nonZeroOnly = false)
    }

    val rnd = new scala.util.Random(11)
    def randomValue(): Long = rnd.nextInt(4) match {
      case 0 => 0L
      case 1 => rnd.nextInt(256).toLong
      case 2 => rnd.nextInt() & 0xffffffffL
      case _ => rnd.nextLong()
    }
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (sample <- 0 until 400) {
      val dims = 1 + sample % 3
      val shape = Array.fill(dims)(1 + rnd.nextInt(if (dims == 1) 12 else 6))
      val start = shape.map(n => rnd.nextInt(n))
      val box = rnd.nextInt(4) match {
        case 0 => Nd.fullBox(shape)
        case 1 => // zero extent on one axis
          val a = rnd.nextInt(dims)
          Nd.Box(start, Array.tabulate(dims)(k =>
            if (k == a) start(k) else start(k) + 1 + rnd.nextInt(shape(k) - start(k))))
        case 2 => // one row: extent 1 on every leading axis
          Nd.Box(start, Array.tabulate(dims)(k =>
            if (k < dims - 1) start(k) + 1 else start(k) + 1 + rnd.nextInt(shape(k) - start(k))))
        case _ =>
          Nd.Box(start, Array.tabulate(dims)(k => start(k) + 1 + rnd.nextInt(shape(k) - start(k))))
      }
      val total = Nd.size(shape)
      kinds(
        if (box.numel == 0) "zero-size"
        else if (box.numel == total) "full"
        else if (dims > 1 && (0 until dims - 1).forall(k => box.end(k) - box.start(k) == 1)) "single-row"
        else "strict sub-box") += 1
      kinds(s"${dims}-D") += 1

      val src = Array.fill(total)(randomValue())
      val payload = Array.fill(box.numel)(randomValue())
      val dst0 = Array.fill(total)(randomValue())
      assert(Nd.sliceBox(src, shape, box).sameElements(naiveSlice(src, shape, box)))
      val pasted = dst0.clone(); Nd.pasteBox(pasted, shape, box, payload)
      val pastedRef = dst0.clone(); naivePaste(pastedRef, shape, box, payload, nonZeroOnly = false)
      assert(pasted.sameElements(pastedRef))
      val painted = dst0.clone(); Nd.paintNonZero(painted, shape, box, payload)
      val paintedRef = dst0.clone(); naivePaste(paintedRef, shape, box, payload, nonZeroOnly = true)
      assert(painted.sameElements(paintedRef))
      for (width <- Seq(1, 2, 4, 8)) {
        val mask = if (width == 8) -1L else (1L << (8 * width)) - 1L
        val narrow = src.map(_ & mask)
        val packed = Nd.packBox(narrow, shape, box, width)
        assert(packed.sameElements(naivePack(narrow, shape, box, width)),
          s"packBox width $width, shape ${shape.mkString("x")}")
        val back = dst0.clone(); Nd.unpackBox(back, shape, box, packed)
        val backRef = dst0.clone(); naiveUnpack(backRef, shape, box, packed)
        assert(back.sameElements(backRef), s"unpackBox width $width")
      }
    }
    Seq("zero-size", "full", "single-row", "strict sub-box", "1-D", "2-D", "3-D")
      .foreach(k => assert(kinds(k) > 0, s"no $k sample: $kinds"))
  }

  test("frame-of-reference packing: a base only where it narrows, today's bytes elsewhere") {
    def le(v: Long, width: Int): Seq[Byte] = (0 until width).map(b => (v >>> (8 * b)).toByte)
    // hand-written encoders: the untagged format (the width, then each value
    // little-endian) and the tagged one (width | 0x80, the base, then each
    // non-zero value minus the base)
    def untagged(values: Array[Long], width: Int): Array[Byte] =
      (width.toByte +: values.toSeq.flatMap(le(_, width))).toArray
    def tagged(values: Array[Long], width: Int, base: Long): Array[Byte] =
      ((width | 0x80).toByte +: (le(base, 8) ++
        values.toSeq.flatMap(v => le(if (v == 0L) 0L else v - base, width)))).toArray
    // the narrowest width holding `top`; 9 when no width does (a 2^64 span)
    def widthFor(top: BigInt): Int = Seq(1, 2, 4, 8).find(w => top < (BigInt(1) << (8 * w))).getOrElse(9)

    val maxOffset = Regions.labelOffset(Array(63, 63, 63), Array(64, 64, 64))
    val rnd = new scala.util.Random(17)
    def sparse(n: Int)(v: => Long): Array[Long] =
      Array.fill(n)(if (rnd.nextInt(3) == 0) v else 0L)
    def sample(kind: Int, n: Int): Array[Long] = {
      val k = 1 + rnd.nextInt(34)
      val b = rnd.nextLong(maxOffset + 1)
      kind match {
        case 0 => sparse(n)(b + 1 + rnd.nextLong((1L << k) - 1)) // zero-heavy offset labels
        case 1 => Array.fill(n)(b + 1 + rnd.nextLong((1L << k) - 1)) // no zeros
        case 2 => sparse(n)(-b - 1 - rnd.nextLong((1L << k) - 1)) // negatives
        case 3 => // next to one extreme, or spanning both
          val spread = 1 + rnd.nextInt(70000)
          val side = rnd.nextInt(3)
          sparse(n)(if (side == 0 || (side == 2 && rnd.nextBoolean()))
            Long.MinValue + (if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(spread))
          else Long.MaxValue - (if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(spread)))
        case 4 => sparse(n)(1 + rnd.nextLong(1L << k)) // small values: a base seldom narrows
        case _ => sparse(n)(rnd.nextLong()) // no narrow frame
      }
    }

    val seen = scala.collection.mutable.Set.empty[String]
    for (i <- 0 until 2000) {
      val kind = i % 6
      val shape = Array(1 + rnd.nextInt(6), 1 + rnd.nextInt(8))
      val src = sample(kind, shape.product)
      val nonZero = src.filter(_ != 0L)
      val width = Nd.packWidth(src)
      val (w, base) = Nd.packFrame(src)
      val top = if (nonZero.isEmpty) BigInt(0) else BigInt(nonZero.max) - BigInt(nonZero.min) + 1
      val based = widthFor(top)
      // a base is chosen exactly when it narrows the width, and it is min - 1
      val expected =
        if (width > 1 && based < width) (based, Some(nonZero.min - 1)) else (width, None)
      assert((w, base) == expected, s"frame of ${src.mkString(",")}")
      val full = Nd.fullBox(shape)
      val packed = Nd.packBox(src, shape, full, w, base)
      base match {
        case None =>
          assert(packed.sameElements(untagged(src, w)), s"untagged bytes of ${src.mkString(",")}")
          seen += s"plain $w"
        case Some(b) =>
          assert(packed.sameElements(tagged(src, w, b)), s"tagged bytes of ${src.mkString(",")}")
          seen += s"based $w"
          if (nonZero.exists(_ < 0L)) seen += "based negative"
          if (nonZero.contains(Long.MinValue) || nonZero.contains(Long.MaxValue)) seen += "based extreme"
      }
      // every width a base fits round-trips, over the full box and a sub-box
      val frames = base.toSeq.flatMap(b => Seq(1, 2, 4, 8).filter(_ >= w).map(ww => (ww, Some(b)))) :+
        ((width, None))
      val y0 = rnd.nextInt(shape(0)); val x0 = rnd.nextInt(shape(1))
      val sub = Nd.Box(Array(y0, x0),
        Array(y0 + 1 + rnd.nextInt(shape(0) - y0), x0 + 1 + rnd.nextInt(shape(1) - x0)))
      for ((ww, b) <- frames; box <- Seq(full, sub)) {
        val bytes = Nd.packBox(src, shape, box, ww, b)
        val back = new Array[Long](box.numel)
        Nd.unpackBox(back, box.shape, Nd.fullBox(box.shape), bytes)
        assert(back.sameElements(Nd.sliceBox(src, shape, box)),
          s"round trip at width $ww, base $b of ${src.mkString(",")}")
      }
    }
    Seq("plain 1", "plain 2", "plain 4", "plain 8", "based 1", "based 2", "based 4",
      "based negative", "based extreme").foreach(k => assert(seen(k), s"no $k sample: $seen"))
  }
}
