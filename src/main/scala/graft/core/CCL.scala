package graft.core

/** Connected-component labeling with connectivity=1 (4-neighborhood in 2D,
  * 6-neighborhood in 3D), matching `skimage.measure.label(img, connectivity=1)`
  * as used by the reference's test segmentation function
  * (`tests/fixtures.py:12-28`): two pixels join iff they share a face AND have
  * the same non-zero value; output labels are 1..N in raster-scan order of
  * each component's first pixel.
  *
  * Two-pass union-find, O(n alpha(n)); per-tile only (the cross-tile story is
  * the parity-ownership protocol, not a global union-find).
  */
object CCL {

  def label(data: Array[Long], shape: Array[Int]): Array[Long] = {
    val n = Nd.size(shape)
    val dims = shape.length
    val st = Nd.strides(shape)
    val parent = new Array[Int](n)
    java.util.Arrays.fill(parent, -1) // -1 = background / unvisited

    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      // path compression
      var y = x0
      while (parent(y) != y) { val t = parent(y); parent(y) = x; y = t }
      x
    }

    // first pass: union with the lower neighbor along each axis
    val coord = new Array[Int](dims)
    var flat = 0
    while (flat < n) {
      val v = data(flat)
      if (v != 0L) {
        parent(flat) = flat
        var a = 0
        while (a < dims) {
          if (coord(a) > 0) {
            val nb = flat - st(a)
            if (data(nb) == v && parent(nb) != -1) {
              val r1 = find(flat); val r2 = find(nb)
              if (r1 != r2) {
                // keep the smaller flat index as root => raster-first root
                if (r1 < r2) parent(r2) = r1 else parent(r1) = r2
              }
            }
          }
          a += 1
        }
      }
      flat += 1
      // odometer
      var ax = dims - 1
      var carry = true
      while (carry && ax >= 0) {
        coord(ax) += 1
        if (coord(ax) >= shape(ax)) { coord(ax) = 0; ax -= 1 } else carry = false
      }
    }

    // second pass: number roots by first occurrence in raster order. A
    // root is the raster-first pixel of its component, so the scan reaches
    // it before any other member and numbers it then; `out`, indexed by
    // root, is the root-to-label table
    val out = new Array[Long](n)
    var next = 1L
    flat = 0
    while (flat < n) {
      if (parent(flat) != -1) {
        val r = find(flat)
        if (r == flat) { out(flat) = next; next += 1 }
        else out(flat) = out(r)
      }
      flat += 1
    }
    out
  }
}
