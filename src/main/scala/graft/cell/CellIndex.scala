package graft.cell

/**
 * Packed-long hierarchical cell index (H3/S2-style, Morton-coded).
 *
 * This is the engine's analog of the reference's pixel/window grid
 * (geoRpro raster.py:287-291, 359-393, 450-455, 467-491): the affine
 * world<->pixel transform plus the block grid, generalized to a global
 * equirectangular hierarchical grid.
 *
 * Layout of the packed long (non-negative for every valid cell):
 *
 * {{{
 *   bit 63..58 : resolution r (0..26), 6 bits
 *   bit 57..2r : zero padding
 *   bit 2r-1..0: Morton interleave of (xi, yi); x occupies odd bits,
 *                y even bits:  m = (spread(xi) << 1) | spread(yi)
 * }}}
 *
 * At resolution r the world [-180,180) x [-90,90) is a 2^r x 2^r grid:
 *   xi = floor((lon+180)/360 * 2^r)   clamped to [0, 2^r-1]
 *   yi = floor((lat+ 90)/180 * 2^r)   clamped to [0, 2^r-1]
 *
 * Deliberately simple bit layout so the encoding is *independently
 * reproducible in ANSI-ish SQL* (the DuckDB oracle replicates it with
 * shift/mask CTEs) — the correctness gate verifies the encoder
 * bit-for-bit, not just statistically.
 *
 * Pure Scala (no Spark imports): unit-testable stand-alone, and callable
 * from generated code (each cell kernel is a static call into this
 * object, bound by graft.functions.Kernel through Spark's StaticInvoke).
 */
object CellIndex {
  val MaxRes = 26

  /** Spread the low 32 bits of v so bit i lands at bit 2i (Morton). */
  @inline def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Inverse of [[spread]]: collect every second bit (even positions). */
  @inline def compact(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1)) & 0x3333333333333333L
    v = (v | (v >> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >> 16)) & 0x00000000ffffffffL
    v
  }

  @inline private def clampIdx(i: Long, n: Long): Long =
    if (i < 0L) 0L else if (i >= n) n - 1L else i

  /** Grid x index of a longitude at resolution r. */
  def lonToX(lon: Double, r: Int): Long =
    clampIdx(math.floor((lon + 180.0) / 360.0 * (1L << r)).toLong, 1L << r)

  /** Grid y index of a latitude at resolution r. */
  def latToY(lat: Double, r: Int): Long =
    clampIdx(math.floor((lat + 90.0) / 180.0 * (1L << r)).toLong, 1L << r)

  def fromXY(xi: Long, yi: Long, r: Int): Long =
    (r.toLong << 58) | (spread(xi) << 1) | spread(yi)

  /** Encode a (lon, lat) pair into a packed cell id at resolution r. */
  def encode(lon: Double, lat: Double, r: Int): Long = {
    require(r >= 0 && r <= MaxRes, s"resolution $r out of [0,$MaxRes]")
    fromXY(lonToX(lon, r), latToY(lat, r), r)
  }

  def resolution(cell: Long): Int = ((cell >>> 58) & 0x3fL).toInt
  def morton(cell: Long): Long = cell & ((1L << 58) - 1L)
  def xOf(cell: Long): Long = compact(morton(cell) >>> 1)
  def yOf(cell: Long): Long = compact(morton(cell))

  /** Parent cell `steps` resolutions up (default 1). */
  def parent(cell: Long, steps: Int = 1): Long = {
    val r = resolution(cell)
    require(steps >= 0 && steps <= r, s"cannot go $steps above res $r")
    ((r - steps).toLong << 58) | (morton(cell) >>> (2 * steps))
  }

  /** The 4 children one resolution down, in Morton order. */
  def children(cell: Long): Array[Long] = {
    val r = resolution(cell)
    require(r < MaxRes, s"res $r has no children (max $MaxRes)")
    val base = ((r + 1).toLong << 58) | (morton(cell) << 2)
    Array(base, base | 1L, base | 2L, base | 3L)
  }

  /**
   * Disk of cells with Chebyshev distance <= k (kRing analog).
   * Longitude wraps (the grid is periodic in x); latitude clamps
   * (cells past a pole are dropped). Each cell appears once, also when
   * the disk is wider than the grid. Returned sorted ascending for
   * deterministic downstream plans.
   */
  def disk(cell: Long, k: Int): Array[Long] = {
    val r = resolution(cell)
    val n = 1L << r
    val cx = xOf(cell); val cy = yOf(cell)
    val width = math.min(2L * k + 1, n) // one full wrap at most
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dy = -k
    while (dy <= k) {
      val y = cy + dy
      if (y >= 0L && y < n) {
        var i = 0L
        while (i < width) {
          val x = java.lang.Math.floorMod(cx - k + i, n)
          out += fromXY(x, y, r)
          i += 1
        }
      }
      dy += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Ring: cells at exactly Chebyshev distance k (sorted). */
  def ring(cell: Long, k: Int): Array[Long] =
    if (k == 0) Array(cell)
    else {
      val inner = disk(cell, k - 1).toSet
      disk(cell, k).filterNot(inner.contains)
    }

  /** Cell center (lon, lat). */
  def centerLon(cell: Long): Double = {
    val r = resolution(cell)
    (xOf(cell) + 0.5) / (1L << r) * 360.0 - 180.0
  }
  def centerLat(cell: Long): Double = {
    val r = resolution(cell)
    (yOf(cell) + 0.5) / (1L << r) * 180.0 - 90.0
  }

  /** Cell bounds (lonMin, latMin, lonMax, latMax). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = resolution(cell)
    val n = (1L << r).toDouble
    val x = xOf(cell).toDouble; val y = yOf(cell).toDouble
    (x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
      (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)
  }

  /** Tile (x, y) of the enclosing cell at a coarser resolution tileRes. */
  def tileXY(cell: Long, tileRes: Int): (Long, Long) = {
    val r = resolution(cell)
    require(tileRes <= r)
    (xOf(cell) >>> (r - tileRes), yOf(cell) >>> (r - tileRes))
  }

  /**
   * Cells at resolution r covering the rectangle
   * [lonMin,lonMax] x [latMin,latMax] (inclusive of boundary cells).
   * The analog of rasterio windows.from_bounds (raster.py:287-291).
   * Caller picks r small enough that the cover is small (prefilter use).
   */
  def coverRect(lonMin: Double, latMin: Double, lonMax: Double,
                latMax: Double, r: Int): Array[Long] = {
    val x0 = lonToX(lonMin, r); val x1 = lonToX(lonMax, r)
    val y0 = latToY(latMin, r); val y1 = latToY(latMax, r)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var i = 0
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out(i) = fromXY(x, y, r); i += 1; x += 1 }
      y += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Inclusive morton range [lo, hi] of all res-`r` descendants of cell —
    * turns a coarse cell into a *range predicate* on a res-r cell column
    * (drives parquet min/max pruning; the load_window analog). */
  def descendantRange(cell: Long, r: Int): (Long, Long) = {
    val cr = resolution(cell)
    require(r >= cr)
    val shift = 2 * (r - cr)
    val lo = (r.toLong << 58) | (morton(cell) << shift)
    (lo, lo | ((1L << shift) - 1L))
  }

  /** Merge sorted inclusive ranges (adjacent/overlapping coalesce) into a
    * flattened [lo0,hi0, lo1,hi1, ...] array for binary-search probing. */
  def mergeRanges(ranges: Array[(Long, Long)]): Array[Long] = {
    val sorted = ranges.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    for ((l, h) <- sorted) {
      if (out.nonEmpty && l <= out(out.length - 1) + 1)
        out(out.length - 1) = math.max(out(out.length - 1), h)
      else { out += l; out += h }
    }
    out.toArray
  }

  /** Descendant ranges of a coarse cover at res r, merged and flattened. */
  def coverRanges(cover: Array[Long], r: Int): Array[Long] =
    mergeRanges(cover.map(descendantRange(_, r)))

  /** True iff cell lies in one of the flattened merged ranges — ONE
    * binary search per probe, so the cover prefilter stays a single
    * static call inside whole-stage codegen no matter how many ranges
    * the cover produced (a naive OR-of-BETWEEN disjunction re-inlines
    * the full derived-cell expression per disjunct and blows the JVM's
    * 64KB method limit). */
  def inRanges(cell: Long, flat: Array[Long]): Boolean = {
    var lo = 0
    var hi = (flat.length >>> 1) - 1
    var ans = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (flat(m << 1) <= cell) { ans = m; lo = m + 1 } else hi = m - 1
    }
    ans >= 0 && cell <= flat((ans << 1) + 1)
  }
}
