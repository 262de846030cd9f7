package graft.geo

/**
 * Deterministic URL -> (lon, lat) geotagger (SURVEY.md §2.5 F16).
 *
 * The reference georeferences rasters via an affine transform
 * (geoRpro raster.py:450-455); web pages have no native coordinates, so
 * the graft derives them *purely* from the URL: the host's ccTLD picks a
 * country centroid and an md5-based jitter of the full host spreads pages
 * around it. Hosts with an unknown/generic TLD scatter uniformly.
 *
 * Everything here is reproducible in SQL (md5 hex + ascii arithmetic) so
 * the DuckDB oracle can replicate it bit-for-bit:
 *
 *   md   = md5_hex(host)                       (lowercase, 32 chars)
 *   h4(o)= hexval(md[o])*4096 + hexval(md[o+1])*256
 *        + hexval(md[o+2])*16 + hexval(md[o+3])        (0-based o)
 *   jlon = (h4(0)/65535.0 - 0.5) * 4.0
 *   jlat = (h4(4)/65535.0 - 0.5) * 4.0
 *   known tld:   lon = clamp(clon + jlon), lat = clamp(clat + jlat)
 *   unknown tld: lon = h4(8)/65535.0*360 - 180 ; lat = h4(12)/65535.0*140 - 70
 *
 * ccTLD centroid jitter makes hot cells (every *.de page lands within
 * +-2 degrees of one point) — deliberately pathological for skew testing
 * (SURVEY.md §4.3, salting + AQE).
 */
object GeoTag {

  /** ccTLD -> (centroid lon, centroid lat). Fixed public country
    * centroids; ordering irrelevant (pure lookup). */
  val centroids: Map[String, (Double, Double)] = Map(
    "de" -> (10.45, 51.17),
    "ru" -> (105.32, 61.52),
    "jp" -> (138.25, 36.20),
    "uk" -> (-3.44, 55.38),
    "fr" -> (2.21, 46.23),
    "br" -> (-51.93, -14.24),
    "in" -> (78.96, 20.59),
    "cn" -> (104.20, 35.86),
    "it" -> (12.57, 41.87),
    "nl" -> (5.29, 52.13),
    "pl" -> (19.15, 51.92),
    "es" -> (-3.75, 40.46),
    "au" -> (133.78, -25.27),
    "us" -> (-95.71, 37.09)
  )

  private val HostRe = java.util.regex.Pattern.compile("^https?://([^/]+)")

  def hostOf(url: String): String = {
    val m = HostRe.matcher(url)
    if (m.find()) m.group(1) else ""
  }

  def tldOf(host: String): String = {
    val i = host.lastIndexOf('.')
    if (i < 0) "" else host.substring(i + 1)
  }

  /** Per-thread MD5 instance — getInstance per call costs more than the
    * hash itself on the per-row hot path. digest() resets the instance. */
  private val mdTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Bytes(s: String): Array[Byte] =
    mdTL.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def md5Hex(s: String): String = {
    val d = md5Bytes(s)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  @inline private def hexval(c: Char): Int =
    if (c <= '9') c - '0' else c - 'a' + 10

  /** 16-bit int from 4 hex chars of md at 0-based offset o. */
  @inline def h4(md: String, o: Int): Int =
    hexval(md.charAt(o)) * 4096 + hexval(md.charAt(o + 1)) * 256 +
      hexval(md.charAt(o + 2)) * 16 + hexval(md.charAt(o + 3))

  @inline private def clampLon(v: Double): Double =
    math.max(-179.999, math.min(179.999, v))
  @inline private def clampLat(v: Double): Double =
    math.max(-89.999, math.min(89.999, v))

  /** Big-endian u16 at byte offset b — identical to h4(md5Hex, 2b)
    * without materializing the hex string (hot-path garbage). */
  @inline private def u16(d: Array[Byte], b: Int): Int =
    ((d(b) & 0xff) << 8) | (d(b + 1) & 0xff)

  /** (lon, lat) of a url. Pure; total (empty host hashes too). */
  def lonLat(url: String): (Double, Double) = {
    val host = hostOf(url)
    val d = md5Bytes(host)
    centroids.get(tldOf(host)) match {
      case Some((clon, clat)) =>
        (clampLon(clon + (u16(d, 0) / 65535.0 - 0.5) * 4.0),
          clampLat(clat + (u16(d, 2) / 65535.0 - 0.5) * 4.0))
      case None =>
        (u16(d, 4) / 65535.0 * 360.0 - 180.0,
          u16(d, 6) / 65535.0 * 140.0 - 70.0)
    }
  }

  // ---- allocation-free byte-level kernel (hot tiling path) -----------------

  /** centroid lookup keyed by ascii-packed tld bytes (tlds <= 8 chars;
    * longer tlds fall back to the unknown branch, which is correct for
    * every real ccTLD). */
  private val centroidByKey: java.util.HashMap[java.lang.Long, (Double, Double)] = {
    val m = new java.util.HashMap[java.lang.Long, (Double, Double)]()
    centroids.foreach { case (t, c) =>
      var k = 0L
      t.foreach(ch => k = (k << 8) | (ch.toLong & 0xff))
      m.put(k, c)
    }
    m
  }

  /** lonLat over the raw UTF-8 bytes of the url — identical output to
    * `lonLat(new String(bytes))` for ASCII urls (and for non-ASCII:
    * md5 hashes the same UTF-8 bytes either way), with no String, no
    * regex Matcher and no hex-string garbage per row. */
  def lonLatBytes(b: Array[Byte], off: Int, len: Int): (Double, Double) = {
    val end = off + len
    // "^https?://" anchored prefix (GeoTag.hostOf parity)
    var h = -1
    if (len >= 7 && b(off) == 'h' && b(off + 1) == 't' && b(off + 2) == 't' &&
        b(off + 3) == 'p') {
      val s = if (b(off + 4) == 's') off + 5 else off + 4
      if (end - s >= 3 && b(s) == ':' && b(s + 1) == '/' && b(s + 2) == '/' &&
          s + 3 < end) h = s + 3
    }
    var hostStart = if (h >= 0) h else off
    var hostEnd = hostStart
    if (h >= 0) {
      hostEnd = end
      var i = hostStart
      while (i < end) { if (b(i) == '/') { hostEnd = i; i = end } else i += 1 }
    } else { hostStart = off; hostEnd = off } // empty host
    val md = mdTL.get()
    md.update(b, hostStart, hostEnd - hostStart)
    val d = md.digest()
    // tld = bytes after the last '.' of the host
    var dot = -1
    var i = hostStart
    while (i < hostEnd) { if (b(i) == '.') dot = i; i += 1 }
    var centroid: (Double, Double) = null
    if (dot >= 0 && hostEnd - dot - 1 <= 8) {
      var k = 0L
      var j = dot + 1
      while (j < hostEnd) { k = (k << 8) | (b(j).toLong & 0xff); j += 1 }
      centroid = centroidByKey.get(k)
    }
    if (centroid != null)
      (clampLon(centroid._1 + (u16(d, 0) / 65535.0 - 0.5) * 4.0),
        clampLat(centroid._2 + (u16(d, 2) / 65535.0 - 0.5) * 4.0))
    else
      (u16(d, 4) / 65535.0 * 360.0 - 180.0,
        u16(d, 6) / 65535.0 * 140.0 - 70.0)
  }

  /** Byte-level fused url -> cell (the 10^12-row hot path). */
  def cellOfBytes(b: Array[Byte], off: Int, len: Int, r: Int): Long = {
    val (lo, la) = lonLatBytes(b, off, len)
    graft.cell.CellIndex.encode(lo, la, r)
  }
}
