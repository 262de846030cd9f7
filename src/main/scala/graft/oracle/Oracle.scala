package graft.oracle

import graft.geo.GeoTag
import graft.sources.Pages

/**
 * DuckDB-dialect SQL builders that *independently re-derive* the page
 * table, the geotag and the packed-long Morton cell encoding — so the
 * driver's DuckDB oracle verifies the engine's core expressions
 * bit-for-bit (not just row counts). Any drift between
 * `graft.cell.CellIndex`/`graft.geo.GeoTag` and these fragments fails
 * the correctness gate by construction.
 *
 * Only DuckDB runs this SQL (the Spark side uses the native
 * expressions), so DuckDB syntax (`<<`, `&`, `||`) is fine.
 */
object Oracle {

  /** Morton bit-spread replicated as nested shift/mask SQL
    * (CellIndex.spread). Keep `e` a bare column name — the expression
    * nests 2^5 copies of it. */
  private val spreadSteps = Seq(
    16 -> 281470681808895L,    // 0x0000FFFF0000FFFF
    8 -> 71777214294589695L,   // 0x00FF00FF00FF00FF
    4 -> 1085102592571150095L, // 0x0F0F0F0F0F0F0F0F
    2 -> 3689348814741910323L, // 0x3333333333333333
    1 -> 6148914691236517205L) // 0x5555555555555555
  def spread(e: String): String =
    spreadSteps.foldLeft(s"($e)") { case (acc, (sh, m)) =>
      s"((($acc) | (($acc) << $sh)) & $m)"
    }

  val Res58: Long = 288230376151711744L // 1 << 58

  /** hex char at 1-based position i of column `c` -> 0..15. */
  def hv(c: String, i: Int): String =
    s"(CASE WHEN substr($c,$i,1) BETWEEN '0' AND '9' " +
      s"THEN ascii(substr($c,$i,1))-48 ELSE ascii(substr($c,$i,1))-87 END)"

  /** 16-bit int from 4 hex chars at 0-based offset o0 (GeoTag.h4). */
  def h4(c: String, o0: Int): String =
    s"(${hv(c, o0 + 1)}*4096 + ${hv(c, o0 + 2)}*256 + " +
      s"${hv(c, o0 + 3)}*16 + ${hv(c, o0 + 4)})"

  /** Weighted tld ladder over an arbitrary mod-100 SQL expression. */
  def tldCaseOn(expr: String): String = {
    val whens = Pages.tldLadder.init
      .map { case (b, t) => s"WHEN $expr < $b THEN '$t'" }
    (Seq("CASE") ++ whens ++ Seq(s"ELSE '${Pages.tldLadder.last._2}' END"))
      .mkString(" ")
  }
  val tldCase: String = tldCaseOn("(doc_id % 100)")

  private def centroidCase(pick: ((Double, Double)) => Double): String = {
    val whens = GeoTag.centroids.toSeq.sortBy(_._1)
      .map { case (t, c) => s"WHEN '$t' THEN ${pick(c)}" }
    (Seq("CASE tld") ++ whens ++ Seq("ELSE NULL END")).mkString(" ")
  }

  /** `pages` CTE body: the deterministic page derivation
    * (mirror of Pages.fromDocuments — keep in sync). */
  val pagesCte: String =
    s"""pages AS (
       |  SELECT doc_id, text, lang, source, n_chars, tld,
       |    'https://h' || CAST(doc_id AS VARCHAR) || '.example.' || tld || '/p' AS url,
       |    'h' || CAST(doc_id AS VARCHAR) || '.example.' || tld AS host,
       |    ${Pages.Epoch} + (doc_id % 86400) * 37 AS ts_epoch,
       |    '<html><head><title>d' || CAST(doc_id AS VARCHAR) || '</title></head><body><p>' || text || '</p></body></html>' AS html_str
       |  FROM (SELECT *, $tldCase AS tld FROM documents)
       |)""".stripMargin

  /** Generic geo CTE chain: `src` (needs `host`, `tld` columns) ->
    * relation `out` with lon/lat (md5-jittered ccTLD centroid,
    * GeoTag.lonLat parity). */
  def geoChain(src: String, out: String): String =
    s"""${out}0 AS (SELECT *, md5(host) AS md FROM $src),
       |${out}1 AS (SELECT *, ${h4("md", 0)} AS j0, ${h4("md", 4)} AS j4,
       |  ${h4("md", 8)} AS j8, ${h4("md", 12)} AS j12,
       |  ${centroidCase(_._1)} AS clon, ${centroidCase(_._2)} AS clat
       |  FROM ${out}0),
       |$out AS (SELECT * EXCLUDE (md, j0, j4, j8, j12, clon, clat),
       |  CASE WHEN clon IS NULL THEN j8/65535.0*360.0 - 180.0
       |       ELSE greatest(-179.999, least(179.999, clon + (j0/65535.0 - 0.5)*4.0)) END AS lon,
       |  CASE WHEN clat IS NULL THEN j12/65535.0*140.0 - 70.0
       |       ELSE greatest(-89.999, least(89.999, clat + (j4/65535.0 - 0.5)*4.0)) END AS lat
       |  FROM ${out}1)""".stripMargin

  val geoCte: String = geoChain("pages", "geo")

  /** Generic cell-encode chain: relation `src` (lon/lat) -> `out` with
    * packed cell id at resolution r (CellIndex.encode parity). */
  def encChain(src: String, r: Int, out: String): String = {
    val n = 1L << r
    s"""${out}_xy AS (SELECT *,
       |  greatest(0, least(${n - 1}, CAST(floor((lon + 180.0) / 360.0 * $n.0) AS BIGINT))) AS xi,
       |  greatest(0, least(${n - 1}, CAST(floor((lat + 90.0) / 180.0 * $n.0) AS BIGINT))) AS yi
       |  FROM $src),
       |$out AS (SELECT * EXCLUDE (xi, yi), ($r * $Res58 + ${spread("xi")} * 2 + ${spread("yi")}) AS cell FROM ${out}_xy)""".stripMargin
  }

  def encCte(r: Int): String = encChain("geo", r, "enc")

  /** Full WITH prefix ending in relation `enc` (pages+geo+cell). */
  def geoPrefix(res: Int): String =
    s"WITH $pagesCte,\n$geoCte,\n${encCte(res)}"

  /** Same, continuing with more CTEs: geoPrefixAnd(res, "x AS (...)"). */
  def geoPrefixAnd(res: Int, more: String): String =
    s"${geoPrefix(res)},\n$more"

  /** Point table derivation from a keyed table (Points.fromTable
    * parity): key -> tld via ladder on (key*7)%100, host
    * '<prefix><key>.geo.<tld>'. Emits `out` with lon/lat. */
  def pointsChain(table: String, keyCol: String, extraCols: Seq[String],
                  prefix: String, out: String): String = {
    val extras = if (extraCols.isEmpty) "" else extraCols.mkString(", ", ", ", "")
    s"""${out}_t AS (SELECT $keyCol AS pid$extras,
       |  ${tldCaseOn(s"(($keyCol * 7) % 100)")} AS tld FROM $table),
       |${out}_h AS (SELECT *, '$prefix' || CAST(pid AS VARCHAR) || '.geo.' || tld AS host FROM ${out}_t),
       |${geoChain(s"${out}_h", out)}""".stripMargin
  }

  /** SQL for parent cell of a res-r cell, `steps` levels up
    * (CellIndex.parent parity). */
  def parentSql(cellCol: String, r: Int, steps: Int): String =
    s"(${r - steps} * $Res58 + (($cellCol % $Res58) >> ${2 * steps}))"

  /** Inverse Morton spread (CellIndex.compact) as nested SQL. */
  private val compactSteps = Seq(
    (0, 6148914691236517205L), // & 0x5555... first
    (1, 3689348814741910323L),
    (2, 1085102592571150095L),
    (4, 71777214294589695L),
    (8, 281470681808895L),
    (16, 4294967295L))
  def compactSql(e: String): String =
    compactSteps.foldLeft(s"($e)") { case (acc, (sh, m)) =>
      if (sh == 0) s"(($acc) & $m)"
      else s"((($acc) | (($acc) >> $sh)) & $m)"
    }

  /** numpy-float32 normalized difference, scaled x1000 and truncated
    * toward zero (norm_diff kernel + Indexes.scaled parity). `a`/`b` must be
    * REAL-typed SQL expressions. DuckDB's float 0/0 yields NULL (not
    * NaN) — coalesce maps it to the kernel's NaN->0. */
  def normDiffSql(a: String, b: String): String =
    s"CAST(trunc(CAST(coalesce((($a) - ($b)) / (($a) + ($b)), 0.0::REAL) " +
      "* 1000.0::REAL AS DOUBLE)) AS BIGINT)"

  def real(c: String): String = s"CAST($c AS REAL)"

  /** TextOps.h16 parity: 16-bit int from the first 4 hex chars of
    * md5(expr). Recomputes md5 per char — correctness over speed. */
  def h16Sql(expr: String): String = {
    def hvE(i: Int) =
      s"(CASE WHEN substr(md5($expr),$i,1) BETWEEN '0' AND '9' " +
        s"THEN ascii(substr(md5($expr),$i,1))-48 ELSE ascii(substr(md5($expr),$i,1))-87 END)"
    s"(${hvE(1)}*4096 + ${hvE(2)}*256 + ${hvE(3)}*16 + ${hvE(4)})"
  }

  /** 32-bit md5 word: 8 hex chars at 0-based offset o0 of an md5-hex
    * column (TextKernels.md5Words word o0/8 parity). */
  def h32FromMd(mdCol: String, o0: Int = 0): String =
    s"(CAST(${h4(mdCol, o0)} AS BIGINT) * 65536 + CAST(${h4(mdCol, o0 + 4)} AS BIGINT))"

  /** SimHash.h60 parity: 60-bit int from the first 15 hex chars of an
    * md5-hex column (big-endian nibbles, positive in signed BIGINT). */
  def h60FromMd(mdCol: String): String =
    s"(CAST(${h4(mdCol, 0)} AS BIGINT) * ${1L << 44} + " +
      s"CAST(${h4(mdCol, 4)} AS BIGINT) * ${1L << 28} + " +
      s"CAST(${h4(mdCol, 8)} AS BIGINT) * ${1L << 12} + " +
      s"CAST(${hv(mdCol, 13)} * 256 + ${hv(mdCol, 14)} * 16 + ${hv(mdCol, 15)} AS BIGINT))"

  /** Corpus.withDups parity — keep in sync. */
  val corpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' graft dup tail' FROM documents WHERE doc_id % 10 = 1
      |)""".stripMargin

  /** Quantized-embedding list (Ann.quantize parity). */
  def quantizeSql(vecCol: String): String =
    s"list_transform($vecCol, x -> CAST(trunc(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"

  /** Exact integer dot product of two quantized list columns. */
  def dotQSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2])) AS BIGINT)"

  /** Ann.cosineQ parity (NULL on zero norm, like try_divide). */
  def cosineQSql(a: String, b: String): String =
    s"CAST(${dotQSql(a, b)} AS DOUBLE) / " +
      s"(sqrt(CAST(${dotQSql(a, a)} AS DOUBLE)) * sqrt(CAST(${dotQSql(b, b)} AS DOUBLE)))"

  /** Even-odd ray-casting PIP as SQL over a FIXED polygon — the same
    * crossing test and IEEE arithmetic order as Polygon.containsBrute,
    * so booleans match bit-for-bit (works for concave rings too). */
  def pipSql(lonCol: String, latCol: String, poly: graft.geo.Polygon): String = {
    val terms = (0 until poly.n).map { i =>
      val j = (i + 1) % poly.n
      val (xi, yi) = (poly.xs(i), poly.ys(i))
      val (xj, yj) = (poly.xs(j), poly.ys(j))
      s"(CASE WHEN (($yi > $latCol) <> ($yj > $latCol)) AND " +
        s"($lonCol < $xi + ($latCol - $yi) / ($yj - $yi) * ($xj - $xi)) " +
        "THEN 1 ELSE 0 END)"
    }
    s"(((${terms.mkString(" + ")}) % 2) = 1)"
  }
}
