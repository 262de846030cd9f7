package graft.geo

/**
 * Minimal polygon model + edge-interval-indexed ray-casting PIP kernel
 * (SURVEY.md §4.3 item 2; reference semantics: rasterio mask-by-geometry,
 * geoRpro raster.py:396-422, and shapely Point.within at
 * script/filter_shapes.py:49).
 *
 * A polygon is a closed ring of (lon, lat) vertices (first != last; the
 * closing edge is implicit). Boundary convention: standard even-odd ray
 * casting with the half-open rule (a point exactly on a horizontal edge
 * counts via the lower-endpoint-inclusive test) — deterministic, matches
 * the SQL half-plane formulation used by the oracle for convex polygons.
 *
 * The kernel pre-buckets edges into latitude strips (the "interval tree"
 * — for the small polygon counts we broadcast, a flat strip index beats a
 * real tree) so a PIP probe touches only edges whose lat-span intersects
 * the probe's strip. Pure Scala + serializable: broadcast once, invoked
 * from codegen'd expressions via static-style calls.
 */
final case class Polygon(xs: Array[Double], ys: Array[Double]) extends Serializable {
  require(xs.length == ys.length && xs.length >= 3, "need >= 3 vertices")
  val n: Int = xs.length

  val (lonMin, latMin, lonMax, latMax) = {
    var x0 = xs(0); var x1 = xs(0); var y0 = ys(0); var y1 = ys(0)
    var i = 1
    while (i < n) {
      if (xs(i) < x0) x0 = xs(i); if (xs(i) > x1) x1 = xs(i)
      if (ys(i) < y0) y0 = ys(i); if (ys(i) > y1) y1 = ys(i)
      i += 1
    }
    (x0, y0, x1, y1)
  }

  /** Latitude-strip edge index: strip s -> edge indices overlapping it. */
  private val Strips = 16
  private val stripH = (latMax - latMin) / Strips match {
    case 0.0 => 1e-12
    case h => h
  }
  private val stripEdges: Array[Array[Int]] = {
    val buf = Array.fill(Strips)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val lo = math.min(ys(i), ys(j)); val hi = math.max(ys(i), ys(j))
      var s = math.max(0, ((lo - latMin) / stripH).toInt)
      val sHi = math.min(Strips - 1, ((hi - latMin) / stripH).toInt)
      while (s <= sHi) { buf(s) += i; s += 1 }
      i += 1
    }
    buf.map(_.toArray)
  }

  /** Even-odd ray-casting containment; bbox early-out, strip-local scan. */
  def contains(px: Double, py: Double): Boolean = {
    if (px < lonMin || px > lonMax || py < latMin || py > latMax) return false
    val s = math.max(0, math.min(Strips - 1, ((py - latMin) / stripH).toInt))
    val edges = stripEdges(s)
    var inside = false
    var k = 0
    while (k < edges.length) {
      val i = edges(k); val j = (i + 1) % n
      val yi = ys(i); val yj = ys(j)
      if ((yi > py) != (yj > py)) {
        val xInt = xs(i) + (py - yi) / (yj - yi) * (xs(j) - xs(i))
        if (px < xInt) inside = !inside
      }
      k += 1
    }
    inside
  }

  /** Brute-force PIP (no index) — test oracle for the strip kernel. */
  def containsBrute(px: Double, py: Double): Boolean = {
    if (px < lonMin || px > lonMax || py < latMin || py > latMax) return false
    var inside = false
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      if ((ys(i) > py) != (ys(j) > py)) {
        val xInt = xs(i) + (py - ys(i)) / (ys(j) - ys(i)) * (xs(j) - xs(i))
        if (px < xInt) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Cells at res r covering the bbox (prefilter; exact PIP refines). */
  def coverCells(r: Int): Array[Long] =
    graft.cell.CellIndex.coverRect(lonMin, latMin, lonMax, latMax, r)
}

object Polygon {
  def apply(pts: Seq[(Double, Double)]): Polygon =
    new Polygon(pts.map(_._1).toArray, pts.map(_._2).toArray)

  /** Axis-aligned box polygon (shapely.box analog, routines.py:147). */
  def box(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double): Polygon =
    apply(Seq((lonMin, latMin), (lonMax, latMin), (lonMax, latMax), (lonMin, latMax)))

  /** Registry of named fixture polygons usable from expressions by id.
    * Broadcast-free (tiny, ships with the jar); real deployments would
    * broadcast a polygon relation instead. */
  val registry: Map[String, Polygon] = Map(
    // convex pentagon over central Europe (oracle replicates via
    // half-plane tests — convexity is what makes it SQL-expressible)
    "europe_pentagon" -> apply(Seq(
      (2.0, 45.0), (14.0, 43.0), (22.0, 49.0), (12.0, 56.0), (1.0, 52.0))),
    // concave "L" over Asia — exercises ray casting beyond half-planes
    "asia_l" -> apply(Seq(
      (60.0, 10.0), (140.0, 10.0), (140.0, 45.0), (100.0, 45.0),
      (100.0, 70.0), (60.0, 70.0)))
  )
}
