package graft.oracle

import graft.geo.Polygon
import Oracle._

/** The DuckDB oracle statement for every SparkEntry query (SURVEY.md §5:
  * the correctness contract). Dialect is DuckDB-only; Spark never runs
  * these. Integer sums are CAST to BIGINT (DuckDB sums to HUGEINT). */
object OracleQueries {

  private val Res = 12
  private val TileRes = 6
  private val JoinRes = 8
  private val firstTen = (0 until 10).map(i => s"'src$i'").mkString(", ")

  private lazy val extractSql: String =
    s"""${geoPrefixAnd(JoinRes,
      s"""raster AS (SELECT cell, count(*) AS n_pages,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM enc GROUP BY 1),
         |${pointsChain("customer", "c_custkey", Seq("c_mktsegment"), "c", "cpt")},
         |${encChain("cpt", JoinRes, "cptc")}""".stripMargin)}
       |SELECT p.pid, p.c_mktsegment AS segment, r.n_pages, r.sum_chars
       |FROM cptc p JOIN raster r ON p.cell = r.cell ORDER BY p.pid""".stripMargin

  private val core: Map[String, String] = Map(
    "q_tpch_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |count(*) AS n_rows FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_tpch_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_events_hourly" ->
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_sessions" -> {
      val gapUs = 30L * 60 * 1000000
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |l AS (SELECT *, lag(ts_us) OVER
         |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > $gapUs
         |    THEN 1 ELSE 0 END AS nf FROM l),
         |s AS (SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
         |  FROM f)
         |SELECT user_id, sid, min(ts_us) AS session_start_us,
         |  max(ts_us) AS session_end_us, count(*) AS n_events
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_geotag" ->
      s"""${geoPrefix(Res)}
         |SELECT doc_id, url, lon, lat, cell FROM enc ORDER BY doc_id""".stripMargin,

    "q_tile_density" ->
      s"""${geoPrefix(Res)}
         |SELECT ${parentSql("cell", Res, Res - TileRes)} AS tile,
         |  count(*) AS n_pages, count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mask_fill" ->
      s"""WITH $pagesCte
         |SELECT source, count(*) AS n,
         |  CAST(sum(CASE WHEN lang IN ('en','de') THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  CAST(sum(CASE WHEN lang IN ('en','de') THEN 9999 ELSE n_chars END) AS BIGINT) AS sum_b1
         |FROM pages GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_histogram" ->
      s"""WITH $pagesCte
         |SELECT lang, (n_chars // 100) AS bucket, count(*) AS n
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_low_cc" ->
      s"""WITH $pagesCte,
         |g AS (SELECT source,
         |  CAST(sum(CASE WHEN lang IN ('en','de') THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS cc
         |  FROM pages GROUP BY 1)
         |SELECT source, cc FROM g WHERE cc < 0.45 ORDER BY cc, source""".stripMargin,

    "q_clip_window" ->
      s"""${geoPrefix(Res)}
         |SELECT tld, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM enc
         |WHERE lon >= 0.0 AND lon <= 20.0 AND lat >= 40.0 AND lat <= 55.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_clip_poly" ->
      s"""${geoPrefix(Res)}
         |SELECT lang, count(*) AS n, count(DISTINCT tld) AS n_tlds,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM enc WHERE ${pipSql("lon", "lat", Polygon.registry("asia_l"))}
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_extent" ->
      s"""${geoPrefix(Res)}
         |SELECT source AS src, min(lon) AS lon_min, min(lat) AS lat_min,
         |  max(lon) AS lon_max, max(lat) AS lat_max
         |FROM geo GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overlaps" ->
      s"""${geoPrefixAnd(Res,
        """ext AS (SELECT source AS src, min(lon) AS lon_min, min(lat) AS lat_min,
          |  max(lon) AS lon_max, max(lat) AS lat_max FROM geo GROUP BY 1)""".stripMargin)}
         |SELECT a.src AS src_a, b.src AS src_b,
         |  greatest(a.lon_min, b.lon_min) AS ilon_min,
         |  greatest(a.lat_min, b.lat_min) AS ilat_min,
         |  least(a.lon_max, b.lon_max) AS ilon_max,
         |  least(a.lat_max, b.lat_max) AS ilat_max
         |FROM ext a JOIN ext b ON a.src < b.src
         |  AND a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max
         |  AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max
         |ORDER BY 1, 2""".stripMargin,

    // the cover-cell fallback is result-identical to the broadcast
    // all-pairs join — same oracle statement verifies it bit-for-bit
    "q_overlaps_cells" ->
      s"""${geoPrefixAnd(Res,
        """ext AS (SELECT source AS src, min(lon) AS lon_min, min(lat) AS lat_min,
          |  max(lon) AS lon_max, max(lat) AS lat_max FROM geo GROUP BY 1)""".stripMargin)}
         |SELECT a.src AS src_a, b.src AS src_b,
         |  greatest(a.lon_min, b.lon_min) AS ilon_min,
         |  greatest(a.lat_min, b.lat_min) AS ilat_min,
         |  least(a.lon_max, b.lon_max) AS ilon_max,
         |  least(a.lat_max, b.lat_max) AS ilat_max
         |FROM ext a JOIN ext b ON a.src < b.src
         |  AND a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max
         |  AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max
         |ORDER BY 1, 2""".stripMargin,

    // Catalog.entries parity (S9): same fixture derivation, same
    // regex grammar (DuckDB RE2 and Java regex agree on these
    // leftmost-first patterns — the gate verifies that bit-for-bit)
    "q_catalog" -> {
      val bands = Seq("B02", "B03", "B04", "B05", "B06", "B07", "B08",
        "B8A", "B09", "B11", "B12", "AOT", "SCL", "TCI", "WVP")
      val bandList = bands.map(b => s"'$b'").mkString("[", ", ", "]")
      val bandAttrRe =
        """^T\d{2}\D{3}_\d{8}.*_(B(?:02|03|04|05|06|07|08|8A|09|11|12)|AOT|SCL|TCI|WVP)(\w*)"""
      s"""WITH b AS (SELECT doc_id,
         |  'T' || CAST(10 + doc_id % 50 AS VARCHAR) ||
         |    chr(CAST(65 + doc_id % 26 AS INT)) ||
         |    chr(CAST(66 + (doc_id * 3) % 24 AS INT)) ||
         |    chr(CAST(67 + (doc_id * 7) % 22 AS INT)) AS tile,
         |  CAST(20200700 + doc_id % 30 AS VARCHAR) AS date_,
         |  ($bandList)[CAST(doc_id % 15 AS INT) + 1] AS band,
         |  CASE WHEN doc_id % 3 = 0 THEN '_10m'
         |       WHEN doc_id % 3 = 1 THEN '_20m' ELSE '' END AS attr
         |  FROM documents),
         |listing AS (SELECT CASE WHEN doc_id % 7 = 0
         |    THEN '/s2/readme_' || CAST(doc_id AS VARCHAR) || '.txt'
         |    ELSE '/s2/' || tile || '_' || date_ || '_' || band || attr || '.jp2'
         |  END AS path FROM b),
         |e AS (SELECT path, regexp_extract(path, '([^/]*)$$', 1) AS name FROM listing),
         |p AS (SELECT path,
         |  regexp_extract(name, '^(T\\d{2}\\D{3})_', 1) AS tile,
         |  regexp_extract(name, '^T\\d{2}\\D{3}_(\\d{8})', 1) AS "date",
         |  regexp_extract(name, '$bandAttrRe', 1) AS band,
         |  regexp_extract(name, '$bandAttrRe', 2) AS attr
         |  FROM e)
         |SELECT path, tile, "date", band, attr, band || attr AS key FROM p
         |WHERE tile <> '' AND "date" <> '' AND band <> ''
         |ORDER BY path""".stripMargin
    },

    // Overlaps.distinctBoxes parity: keeper = first (src_a, src_b) per
    // identical intersection box (window rank replays Spark's
    // min(struct) deterministically)
    "q_overlap_boxes" ->
      s"""${geoPrefixAnd(Res,
        """ext AS (SELECT source AS src, min(lon) AS lon_min, min(lat) AS lat_min,
          |  max(lon) AS lon_max, max(lat) AS lat_max FROM geo GROUP BY 1),
          |prs AS (SELECT a.src AS src_a, b.src AS src_b,
          |  greatest(a.lon_min, b.lon_min) AS ilon_min,
          |  greatest(a.lat_min, b.lat_min) AS ilat_min,
          |  least(a.lon_max, b.lon_max) AS ilon_max,
          |  least(a.lat_max, b.lat_max) AS ilat_max
          |  FROM ext a JOIN ext b ON a.src < b.src
          |  AND a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max
          |  AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max),
          |rk AS (SELECT *, row_number() OVER (
          |  PARTITION BY ilon_min, ilat_min, ilon_max, ilat_max
          |  ORDER BY src_a, src_b) AS r FROM prs)""".stripMargin)}
         |SELECT src_a, src_b, ilon_min, ilat_min, ilon_max, ilat_max
         |FROM rk WHERE r = 1 ORDER BY src_a, src_b""".stripMargin,

    "q_asset_udm2" ->
      """WITH b AS (SELECT doc_id, '/pl/' || source || '/' ||
        |    CAST(20200700 + doc_id % 30 AS VARCHAR) || '_' ||
        |    CAST(103000 + doc_id % 60 AS VARCHAR) || '_ssc' ||
        |    CAST(doc_id % 9 AS VARCHAR) || '_u' ||
        |    CAST(doc_id AS VARCHAR) AS base
        |  FROM documents),
        |listing AS (
        |  SELECT base || CASE WHEN doc_id % 5 = 0
        |    THEN '_ortho_panchromatic.tif' ELSE '_analytic.tif' END AS path FROM b
        |  UNION ALL SELECT base || CASE WHEN doc_id % 5 = 0 THEN '_panchromatic_udm2.tif'
        |    WHEN doc_id % 2 = 0 THEN '_ortho_udm2.tif' ELSE '_3_udm2.tif' END
        |    FROM b WHERE doc_id % 4 <> 0
        |  UNION ALL SELECT base || '_cloud_udm2.tif' FROM b WHERE doc_id % 7 = 0),
        |e AS (SELECT path,
        |    regexp_extract(path, '^(.*)/[^/]*$', 1) AS dir,
        |    regexp_extract(path, '([^/]*)$', 1) AS name FROM listing),
        |e2 AS (SELECT *,
        |    regexp_extract(name, '^([^_]+_[^_]+_[^_]+_[^_]+)_', 1) AS info,
        |    regexp_extract(name, '^(?:[^_]+_){4}(.+?)\.[^.]*$', 1) AS asset FROM e),
        |p AS (SELECT path AS asset_path, dir, info, asset FROM e2
        |  WHERE asset IN ('analytic', 'ortho_panchromatic')),
        |u AS (SELECT dir, info, name AS uname, path AS udm2_path FROM e2
        |  WHERE name LIKE '%udm2%')
        |SELECT asset_path, asset, udm2_path
        |FROM p JOIN u ON p.dir = u.dir AND p.info = u.info
        |WHERE (asset = 'analytic' AND (uname LIKE '%ortho_udm2.tif'
        |    OR regexp_matches(uname, '[0-9]_udm2\.tif$')))
        |  OR (asset = 'ortho_panchromatic' AND uname LIKE '%panchromatic_udm2.tif')
        |ORDER BY asset_path, udm2_path""".stripMargin,

    "q_overlap_pairing" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS i FROM nation),
        |t AS (SELECT i, 'T20M' || chr(CAST(66 + i % 8 AS INT)) ||
        |    chr(CAST(65 + (i * 3) % 26 AS INT)) AS tile FROM n),
        |refs AS (SELECT 'overlaps/T20MPA_poly_' || CAST(i * 2 AS VARCHAR) || '.tif' AS path FROM n),
        |tgts AS (SELECT 'overlaps/poly_' || CAST(i * 3 AS VARCHAR) || '_' || tile || '.tif' AS path, tile FROM t),
        |rr AS (SELECT path AS ref_path, row_number() OVER (ORDER BY
        |    CAST(regexp_replace(regexp_extract(path, '([^/]*)$', 1), '[^0-9]', '', 'g') AS DECIMAL(38,0)),
        |    regexp_extract(path, '([^/]*)$', 1)) AS rk FROM refs),
        |tr AS (SELECT path AS target_path, tile, row_number() OVER (ORDER BY
        |    CAST(regexp_replace(regexp_extract(path, '([^/]*)$', 1), '[^0-9]', '', 'g') AS DECIMAL(38,0)),
        |    regexp_extract(path, '([^/]*)$', 1)) AS rk FROM tgts),
        |st AS (SELECT 'stacks/' || tile || '_20200729.tif' AS stack_path, tile FROM t)
        |SELECT rr.rk AS rk, ref_path, target_path, stack_path
        |FROM rr JOIN tr ON rr.rk = tr.rk JOIN st ON tr.tile = st.tile
        |ORDER BY rr.rk""".stripMargin,

    "q_one_vs_all" ->
      s"""${geoPrefixAnd(Res,
        """ext AS (SELECT source AS src, min(lon) AS lon_min, min(lat) AS lat_min,
          |  max(lon) AS lon_max, max(lat) AS lat_max FROM geo GROUP BY 1)""".stripMargin)}
         |SELECT a.src AS src_a, b.src AS src_b,
         |  greatest(a.lon_min, b.lon_min) AS ilon_min,
         |  greatest(a.lat_min, b.lat_min) AS ilat_min,
         |  least(a.lon_max, b.lon_max) AS ilon_max,
         |  least(a.lat_max, b.lat_max) AS ilat_max
         |FROM ext a JOIN ext b ON a.src = 'src0' AND b.src <> 'src0'
         |  AND a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max
         |  AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max
         |ORDER BY src_b""".stripMargin,

    "q_semi_points" ->
      s"""${geoPrefixAnd(Res,
        s"""ext AS (SELECT source, lang, min(lon) AS lon_min, min(lat) AS lat_min,
           |  max(lon) AS lon_max, max(lat) AS lat_max FROM geo GROUP BY 1, 2),
           |${pointsChain("customer", "c_custkey", Nil, "c", "cpt")}""".stripMargin)}
         |SELECT source, lang FROM ext e WHERE EXISTS (
         |  SELECT 1 FROM cpt p WHERE p.tld = 'jp'
         |    AND p.lon >= e.lon_min AND p.lon <= e.lon_max
         |    AND p.lat >= e.lat_min AND p.lat <= e.lat_max)
         |ORDER BY 1, 2""".stripMargin,

    "q_resample" ->
      s"""${geoPrefixAnd(Res,
        "base AS (SELECT cell, count(*) AS v FROM enc GROUP BY 1)")}
         |SELECT ${parentSql("cell", Res, 2)} AS cell,
         |  CAST(sum(v) AS BIGINT) AS v_sum, min_by(v, cell) AS v_near
         |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_upsample" ->
      s"""${geoPrefixAnd(Res,
        s"tiles AS (SELECT ${parentSql("cell", Res, Res - TileRes)} AS tile, count(*) AS n_pages FROM enc GROUP BY 1)")}
         |SELECT (${TileRes + 1} * $Res58 + ((tile % $Res58) * 4 + u.i)) AS cell, n_pages
         |FROM tiles, (SELECT unnest([0, 1, 2, 3]) AS i) u ORDER BY 1""".stripMargin,

    "q_pyramid" -> {
      val base = "base AS (SELECT cell, count(*) AS v FROM enc GROUP BY 1)"
      val levels = (TileRes until Res).map { r =>
        s"UNION ALL SELECT $r, ${parentSql("cell", Res, Res - r)}, CAST(sum(v) AS BIGINT) FROM base GROUP BY 2"
      }.mkString("\n")
      s"""${geoPrefixAnd(Res, base)}
         |SELECT $Res AS level, cell, CAST(v AS BIGINT) AS v FROM base
         |$levels
         |ORDER BY level, cell""".stripMargin
    },

    "q_vectorize" -> {
      val x = compactSql(s"((tile % $Res58) >> 1)")
      val y = compactSql(s"(tile % $Res58)")
      val n = (1 << TileRes).toDouble
      s"""${geoPrefixAnd(Res,
        s"""tiles AS (SELECT ${parentSql("cell", Res, Res - TileRes)} AS tile, count(*) AS n_pages FROM enc GROUP BY 1),
           |dense AS (SELECT tile, n_pages FROM tiles WHERE n_pages >= 5),
           |xy AS (SELECT tile, n_pages, $x AS x, $y AS y FROM dense)""".stripMargin)}
         |SELECT tile, n_pages, $TileRes AS level,
         |  CAST(x AS DOUBLE) / $n * 360.0 - 180.0 AS lon_min,
         |  CAST(y AS DOUBLE) / $n * 180.0 - 90.0 AS lat_min,
         |  (CAST(x AS DOUBLE) + 1.0) / $n * 360.0 - 180.0 AS lon_max,
         |  (CAST(y AS DOUBLE) + 1.0) / $n * 180.0 - 90.0 AS lat_max,
         |  (CAST(x AS DOUBLE) + 0.5) / $n * 360.0 - 180.0 AS lon_c,
         |  (CAST(y AS DOUBLE) + 0.5) / $n * 180.0 - 90.0 AS lat_c
         |FROM xy ORDER BY tile""".stripMargin
    },

    "q_stack_indexes" -> {
      val bsiA = s"(${real("swir")} + ${real("red")})"
      val bsiB = s"(${real("nir")} + ${real("blue")})"
      s"""${geoPrefixAnd(10,
        """bands AS (SELECT cell, CAST(sum(n_chars) AS BIGINT) AS red,
          |  count(*) * 500 AS nir, CAST(sum(doc_id % 100) AS BIGINT) AS green,
          |  max(n_chars) AS swir, min(n_chars) AS blue FROM enc GROUP BY 1)""".stripMargin)}
         |SELECT cell,
         |  ${normDiffSql(real("nir"), real("red"))} AS ndvi,
         |  ${normDiffSql(real("nir"), real("swir"))} AS nbr,
         |  ${normDiffSql(bsiA, bsiB)} AS bsi,
         |  ${normDiffSql(real("green"), real("nir"))} AS ndwi
         |FROM bands ORDER BY cell""".stripMargin
    },

    "q_mosaic" ->
      s"""${geoPrefixAnd(Res,
        s"""a AS (SELECT cell, CAST(sum(n_chars) AS BIGINT) AS v FROM enc
           |  WHERE source IN ($firstTen) GROUP BY 1),
           |b AS (SELECT cell, CAST(sum(n_chars) AS BIGINT) AS v FROM enc
           |  WHERE source NOT IN ($firstTen) GROUP BY 1),
           |u AS (SELECT cell, v, 0 AS src_rank FROM a WHERE v % 10 <> 0
           |  UNION ALL SELECT cell, v, 1 AS src_rank FROM b WHERE v % 10 <> 0)""".stripMargin)}
         |SELECT cell, min_by(v, src_rank) AS v, min(src_rank) AS src_rank
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_calibrate" ->
      s"""${geoPrefixAnd(JoinRes,
        s"""x AS (SELECT cell, lang, count(*) AS x FROM enc
           |  WHERE source IN ($firstTen) GROUP BY 1, 2),
           |y AS (SELECT cell, lang, count(*) AS y FROM enc
           |  WHERE source NOT IN ($firstTen) GROUP BY 1, 2),
           |p AS (SELECT x.cell, x.lang, x.x, y.y FROM x JOIN y
           |  ON x.cell = y.cell AND x.lang = y.lang),
           |s AS (SELECT lang, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
           |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
           |  CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy
           |  FROM p GROUP BY 1)""".stripMargin)}
         |SELECT lang, n,
         |  CAST(n*sxy - sx*sy AS DOUBLE) / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0) AS slope,
         |  (CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE) / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
         |  CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE) / NULLIF(CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE), 0) AS r2
         |FROM s ORDER BY lang""".stripMargin,

    "q_calibrate_e2e" -> {
      // Calibrate.calibrationPipeline parity: fit from exact integer
      // sums; normalized mad from the integer numerator identity
      // |x_n - y_n| = |(x-minx)*Dy - (y-miny)*Dx| / (Dx*Dy);
      // array_correction = y - intercept w/ negative revert + uint16
      // (corrected is always >= 0, so plain % == pmod).
      // NULLIF on every denominator: Spark computes these with
      // try_divide (NULL on zero), while DuckDB's IEEE `/` would yield
      // inf/NaN — a degenerate band (constant x, y, or corrected side)
      // must compare NULL==NULL, not NULL-vs-NaN.
      val slope = "CAST(n*sxy - sx*sy AS DOUBLE) / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0)"
      val madE = "CAST(snum AS DOUBLE) / NULLIF(CAST(n*(maxx-minx)*(maxy-miny) AS DOUBLE), 0)"
      s"""${geoPrefixAnd(JoinRes,
        s"""x AS (SELECT cell, lang, count(*) AS x FROM enc
           |  WHERE source IN ($firstTen) GROUP BY 1, 2),
           |y AS (SELECT cell, lang, count(*) AS y FROM enc
           |  WHERE source NOT IN ($firstTen) GROUP BY 1, 2),
           |p AS (SELECT x.cell, x.lang, x.x, y.y FROM x JOIN y
           |  ON x.cell = y.cell AND x.lang = y.lang),
           |s AS (SELECT lang, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
           |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
           |  CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy
           |  FROM p GROUP BY 1),
           |f AS (SELECT lang, n, $slope AS slope,
           |  (CAST(sy AS DOUBLE) - ($slope) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           |  CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE) / NULLIF(CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE), 0) AS r2
           |  FROM s),
           |pc AS (SELECT p.lang, p.x, p.y,
           |  (CAST(trunc(CASE WHEN p.y - f.intercept < 0 THEN CAST(p.y AS DOUBLE)
           |    ELSE p.y - f.intercept END) AS BIGINT) % 65536) AS c
           |  FROM p JOIN f ON p.lang = f.lang),
           |st AS (SELECT lang, CAST(sum(abs(x - y)) AS BIGINT) AS sad,
           |  min(x) AS minx, max(x) AS maxx, min(y) AS miny, max(y) AS maxy,
           |  min(c) AS minc, max(c) AS maxc FROM pc GROUP BY 1),
           |nm AS (SELECT pc.lang,
           |  CAST(sum(abs((x - minx)*(maxy - miny) - (y - miny)*(maxx - minx))) AS BIGINT) AS snum,
           |  CAST(sum(abs((x - minx)*(maxc - minc) - (c - minc)*(maxx - minx))) AS BIGINT) AS snumc
           |  FROM pc JOIN st ON pc.lang = st.lang GROUP BY 1)""".stripMargin)}
         |SELECT f.lang, n, slope, intercept, r2,
         |  CAST(sad AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mad,
         |  $madE AS mad,
         |  ($madE > 0.05) AS needs_corr,
         |  CASE WHEN $madE > 0.05 THEN
         |    CAST(snumc AS DOUBLE) / NULLIF(CAST(n*(maxx-minx)*(maxc-minc) AS DOUBLE), 0)
         |  END AS mad_corr
         |FROM f JOIN st ON f.lang = st.lang JOIN nm ON f.lang = nm.lang
         |ORDER BY f.lang""".stripMargin
    },

    "q_minmax_norm" ->
      s"""WITH $pagesCte
         |SELECT doc_id, lang,
         |  (n_chars - min(n_chars) OVER (PARTITION BY lang)) /
         |  (max(n_chars) OVER (PARTITION BY lang) - min(n_chars) OVER (PARTITION BY lang)) AS norm
         |FROM pages ORDER BY doc_id""".stripMargin,

    "q_mean_abs_diff" ->
      s"""${geoPrefixAnd(JoinRes,
        s"""x AS (SELECT cell, lang, count(*) AS x FROM enc
           |  WHERE source IN ($firstTen) GROUP BY 1, 2),
           |y AS (SELECT cell, lang, count(*) AS y FROM enc
           |  WHERE source NOT IN ($firstTen) GROUP BY 1, 2),
           |p AS (SELECT x.x, y.y FROM x JOIN y
           |  ON x.cell = y.cell AND x.lang = y.lang)""".stripMargin)}
         |SELECT avg(abs(x - y)) AS mad FROM p""".stripMargin,

    "q_class_edit" ->
      s"""${geoPrefixAnd(JoinRes,
        s"""raster AS (SELECT cell, count(*) AS b1,
           |  CAST(sum(n_chars) AS BIGINT) AS b2 FROM enc GROUP BY 1),
           |${pointsChain("customer", "c_custkey", Seq("c_mktsegment"), "c", "cpt")},
           |${encChain("cpt", JoinRes, "cptc")},
           |xy AS (SELECT r.b1, r.b2,
           |  CAST(ascii(substring(p.c_mktsegment, 1, 1)) AS BIGINT) AS label_id
           |  FROM cptc p JOIN raster r ON p.cell = r.cell),
           |hist AS (SELECT label_id, count(*) AS n FROM xy GROUP BY 1),
           |st AS (SELECT max(label_id) AS max_id, max(n) AS max_n FROM hist),
           |agg AS (SELECT label_id, count(*) AS n,
           |    CAST(sum(b1) AS BIGINT) AS sum_b1, CAST(sum(b2) AS BIGINT) AS sum_b2
           |  FROM xy GROUP BY 1
           |  UNION ALL SELECT max_id + 1, max_n, 9999 * max_n, 9999 * max_n FROM st)""".stripMargin)}
         |SELECT label_id, n, sum_b1, sum_b2 FROM agg
         |WHERE label_id <> 70 ORDER BY label_id""".stripMargin,

    "q_correction" ->
      s"""${geoPrefixAnd(10,
        "base AS (SELECT cell, count(*) AS v FROM enc GROUP BY 1)")}
         |SELECT cell,
         |  (CASE WHEN v*7 - 10 < 0 THEN v*7 ELSE v*7 - 10 END) % 65536 AS corrected
         |FROM base ORDER BY cell""".stripMargin,

    "q_extract" -> extractSql,
    // the salted join is result-identical to the plain equi-join —
    // same oracle statement verifies the skew path bit-for-bit
    "q_salted_extract" -> extractSql,

    "q_extract_masked" ->
      s"""${geoPrefixAnd(JoinRes,
        s"""raster AS (SELECT cell, count(*) AS n_pages,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM enc GROUP BY 1),
           |masked AS (SELECT cell,
           |  CAST(CASE WHEN n_pages % 5 = 0 THEN 9999 ELSE n_pages END AS BIGINT) AS b1,
           |  CAST(CASE WHEN n_pages % 5 = 0 THEN 9999 ELSE sum_chars END AS BIGINT) AS b2
           |  FROM raster),
           |${pointsChain("customer", "c_custkey", Seq("c_mktsegment"), "c", "cpt")},
           |${encChain("cpt", JoinRes, "cptc")}""".stripMargin)}
         |SELECT p.pid, m.b1, m.b2
         |FROM cptc p JOIN masked m ON p.cell = m.cell
         |WHERE NOT (m.b1 = 9999 AND m.b2 = 9999) ORDER BY p.pid""".stripMargin,

    "q_knn" ->
      s"""${geoPrefixAnd(JoinRes,
        s"""${pointsChain("nation", "n_nationkey", Nil, "n", "npt")},
           |d AS (SELECT p.pid AS qid, e.doc_id AS id,
           |  ((e.lon - p.lon) * (e.lon - p.lon) + (e.lat - p.lat) * (e.lat - p.lat)) AS dist2
           |  FROM npt p CROSS JOIN enc e),
           |r AS (SELECT qid, id, dist2,
           |  row_number() OVER (PARTITION BY qid ORDER BY dist2, id) AS rank FROM d)""".stripMargin)}
         |SELECT qid, rank, id, dist2 FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
  )

  private val classification: Map[String, String] = Map(
    "q_confusion" ->
      s"""WITH $pagesCte
         |SELECT lang AS y, tld AS yhat, count(*) AS n
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_class_metrics" ->
      s"""WITH $pagesCte,
         |conf AS (SELECT lang AS y, tld AS yhat, count(*) AS n FROM pages GROUP BY 1, 2),
         |t AS (SELECT y AS cls, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
         |p AS (SELECT yhat AS cls, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
         |d AS (SELECT y AS cls, n AS n_correct FROM conf WHERE y = yhat),
         |pc AS (SELECT coalesce(t.cls, p.cls) AS cls,
         |    coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
         |    coalesce(n_correct, 0) AS n_correct
         |  FROM t FULL OUTER JOIN p ON t.cls = p.cls
         |  LEFT JOIN d ON coalesce(t.cls, p.cls) = d.cls),
         |s AS (SELECT CAST(sum(n_true) AS BIGINT) AS total,
         |    CAST(sum(n_correct) AS BIGINT) AS correct,
         |    CAST(sum(n_true * n_pred) AS BIGINT) AS xsum FROM pc),
         |sc AS (SELECT
         |    CAST(correct AS DOUBLE) / CAST(total AS DOUBLE) AS oa,
         |    (CAST(correct AS DOUBLE) / CAST(total AS DOUBLE) -
         |     CAST(xsum AS DOUBLE) / CAST(total * total AS DOUBLE)) /
         |    (1.0 - CAST(xsum AS DOUBLE) / CAST(total * total AS DOUBLE)) AS kappa
         |  FROM s)
         |SELECT cls, n_true, n_pred, n_correct,
         |  CASE WHEN n_pred = 0 THEN NULL
         |       ELSE CAST(n_correct AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS user_acc,
         |  CASE WHEN n_true = 0 THEN NULL
         |       ELSE CAST(n_correct AS DOUBLE) / CAST(n_true AS DOUBLE) END AS producer_acc,
         |  oa, kappa
         |FROM pc CROSS JOIN sc ORDER BY cls""".stripMargin
  )

  // ---- text / dedup / vector / lineage oracles ----------------------------

  /** corpus -> distinct (id, shingle) CTE chain (Dedup.docShingles). */
  private def shChainFrom(src: String): String =
    s"""tok AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM $src),
       |sh0 AS (SELECT id, unnest(list_transform(range(0, len(t)-2),
       |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle FROM tok),
       |sh AS (SELECT DISTINCT id, shingle FROM sh0)""".stripMargin
  private val shChain: String = shChainFrom("corpus")

  /** pairs (cand with id_a/id_b) -> exact jaccard over distinct
    * shingle sets: the reference pair-join formulation (Dedup.jaccard),
    * which Dedup.minhashLsh's per-document set verify and the
    * ngramJaccard scoring both equal row for row. */
  private def jaccardTail(threshold: Double): String =
    s"""sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
       |com AS (SELECT c.id_a, c.id_b, count(*) AS common FROM cand c
       |  JOIN sh sa ON sa.id = c.id_a
       |  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT com.id_a, com.id_b, common, na.n AS n_a, nb.n AS n_b,
       |  CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
       |  FROM com JOIN sizes na ON na.id = com.id_a
       |  JOIN sizes nb ON nb.id = com.id_b)
       |SELECT id_a, id_b, common, n_a, n_b, jaccard FROM jac
       |WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** Parameterized MinHash-LSH oracle (Dedup.minhashLsh): hash family =
    * md5 WORDS of salted shingles — hash i lives at hex offset 8*(i%4)
    * of md5(shingle [|| '#'||(i/4)]); numHashes/4 digests per shingle.
    * `corpusFilter`: optional predicate applied to the dup-planted
    * corpus (the wide config verifies on a subset to bound oracle
    * cost). */
  private def minhashLshSql(numHashes: Int, rowsPerBand: Int,
                            threshold: Double,
                            corpusFilter: Option[String],
                            maxBucket: Option[Int] = None,
                            salvageFactor: Option[Int] = None): String = {
    // same contract as Dedup.applyBucketPolicy — a salvage tier without
    // a cap would emit SQL referencing a ksub column that doesn't exist
    require(salvageFactor.isEmpty || maxBucket.isDefined,
      "salvageFactor requires maxBucket")
    val nSalts = numHashes / 4
    val nBands = numHashes / rowsPerBand
    val src = corpusFilter.map(_ => "corpusf").getOrElse("corpus")
    val filterCte = corpusFilter
      .map(f => s"corpusf AS (SELECT * FROM corpus WHERE $f),\n").getOrElse("")
    val mds = (0 until nSalts).map { s =>
      if (s == 0) "md5(shingle) AS md0" else s"md5(shingle || '#$s') AS md$s"
    }.mkString(", ")
    val mins = (0 until numHashes).map(i =>
      s"min(${h32FromMd(s"md${i / 4}", 8 * (i % 4))}) AS m$i").mkString(", ")
    val bandRows = (0 until nBands).map { b =>
      val ks = (0 until rowsPerBand)
        .map(r => s"m${b * rowsPerBand + r} AS k$r").mkString(", ")
      s"SELECT id, $b AS band, $ks FROM minh"
    }.mkString("\n  UNION ALL ")
    val keyEq = ((0 until rowsPerBand).map(r => s"a.k$r = b.k$r") ++
      (if (salvageFactor.isDefined) Seq("a.ksub = b.ksub") else Nil))
      .mkString(" AND ")
    // cap-aware: replay Dedup.capBuckets — a cap alone is its factor-1
    // keep/drop tier (count ids per band bucket, drop whole buckets
    // above the cap; the always-0 ksub is left out), with salvageFactor
    // the full three-tier policy including the md5-salted sub-bucket
    // assignment (trunc() around the int division: DuckDB CAST rounds
    // where Spark cast truncates)
    val keyCols = "band" +: (0 until rowsPerBand).map(r => s"k$r")
    val bandsSz =
      s"""bandsz AS (SELECT ${keyCols.mkString(", ")}, count(*) AS n
         |  FROM bands GROUP BY ALL)""".stripMargin
    val capJoinOn =
      keyCols.map(c => s"bands.$c = bandsz.$c").mkString(" AND ")
    val capCtes = (maxBucket, salvageFactor) match {
      case (Some(cap), Some(f)) =>
        s"""$bandsSz,
           |bandsk0 AS (SELECT bands.*, bandsz.n,
           |    md5(CAST(bands.id AS VARCHAR)) AS md
           |  FROM bands JOIN bandsz ON $capJoinOn
           |  WHERE bandsz.n <= ${cap.toLong * f}),
           |bandsk AS (SELECT id, ${keyCols.mkString(", ")},
           |    CASE WHEN n <= $cap THEN 0
           |      ELSE ${h32FromMd("md")} %
           |        CAST(trunc((n + ${cap - 1}) / $cap) AS BIGINT)
           |    END AS ksub
           |  FROM bandsk0),
           |""".stripMargin
      case (Some(cap), None) =>
        s"""$bandsSz,
           |bandsk AS (SELECT bands.* FROM bands JOIN bandsz
           |  ON $capJoinOn
           |  WHERE bandsz.n <= $cap),
           |""".stripMargin
      case (None, _) => ""
    }
    val candSrc = if (maxBucket.isEmpty) "bands" else "bandsk"
    s"""WITH $corpusCte,
       |$filterCte${shChainFrom(src)},
       |mh AS (SELECT id, shingle, $mds FROM sh),
       |minh AS (SELECT id, $mins FROM mh GROUP BY id),
       |bands AS ($bandRows),
       |${capCtes}cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM $candSrc a
       |  JOIN $candSrc b ON a.band = b.band AND $keyEq
       |  AND a.id < b.id),
       |${jaccardTail(threshold)}""".stripMargin
  }

  /** SimHash signature CTE chain over src(id, text) -> out(id, sig)
    * (SimHash.sig60 parity). */
  private def simhashChain(src: String, out: String): String =
    s"""${out}_tk AS (SELECT id, unnest(string_split(text, ' ')) AS tk FROM $src),
       |${out}_md AS (SELECT id, md5(tk) AS md FROM ${out}_tk),
       |${out}_h AS (SELECT id, ${h60FromMd("md")} AS h FROM ${out}_md),
       |$out AS (SELECT id, CAST($simhashBitSum AS BIGINT) AS sig FROM ${out}_h GROUP BY id)""".stripMargin

  /** Language-pred CTE chain over src(id, text) -> out(id, text, pred)
    * (TextOps.langId parity; mirrors the q_lang_id oracle). */
  private def langPredChain(src: String, out: String): String = {
    def score(markers: Seq[String]) = markers
      .map(m => s"len(list_filter(t, x -> x = '$m'))").mkString(" + ")
    val cols = graft.text.TextOps.langMarkers
      .map { case (l, ms) => s"CAST(${score(ms)} AS BIGINT) AS s_$l" }
      .mkString(",\n  ")
    val names = graft.text.TextOps.langMarkers.map(_._1)
    val best = s"greatest(${names.map("s_" + _).mkString(", ")})"
    val pred = names.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'unknown' END")
    s"""${out}_tok AS (SELECT id, text, string_split(text, ' ') AS t FROM $src),
       |${out}_sc AS (SELECT id, text, $cols FROM ${out}_tok),
       |$out AS (SELECT id, text, ${names.map("s_" + _).mkString(", ")},
       |  $pred AS pred FROM ${out}_sc)""".stripMargin
  }

  /** Connected-components closure over prs(id_a, id_b) ->
    * out(id, keeper) — min-label via the recursive walk (the enclosing
    * statement must say WITH RECURSIVE). Single source of truth for
    * every cluster-keeper oracle. */
  private def ccChain(prs: String, out: String): String =
    s"""${out}_e AS (SELECT id_a AS src, id_b AS dst FROM $prs
       |  UNION ALL SELECT id_b, id_a FROM $prs),
       |${out}_w(id, label) AS (
       |  SELECT src, src FROM ${out}_e
       |  UNION
       |  SELECT e.src, w.label FROM ${out}_e e JOIN ${out}_w w ON w.id = e.dst),
       |$out AS (SELECT id, min(label) AS keeper FROM ${out}_w GROUP BY 1)""".stripMargin

  /** Simhash candidate pairs over a sig relation sig(id, sig). */
  private def simhashPrs(sig: String, out: String): String =
    s"""$out AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM $sig a JOIN $sig b ON a.id < b.id
       |  AND bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin

  /** Dedup.simhashPairs parity (shared by the capped configuration —
    * the cap is survivor-neutral on the test corpus by construction). */
  private lazy val simhashPairsSql: String =
    s"""WITH $corpusCte,
       |c0 AS (SELECT doc_id AS id, text FROM corpus),
       |${simhashChain("c0", "sig")}
       |SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.id < b.id
       |  AND bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY 1, 2""".stripMargin

  private def simhashBitSum: String =
    (0 until graft.text.SimHash.Bits).map { b =>
      s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  private def lshSigSql(vcol: String,
                        numPlanes: Int = graft.vector.Ann.NumPlanes): String =
    (0 until numPlanes).map { p =>
      val w = graft.vector.Ann.planeArray(p, 64).mkString("[", ", ", "]")
      s"(CASE WHEN ${dotQSql(w, vcol)} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ---- IVF oracle fragments (Ann.ivf* parity) ----------------------------

  private def ivfScoreSql(c: Int, vcol: String): String = {
    val arr = graft.vector.Ann.centroidArray(c, 64)
    val n2 = arr.map(w => w * w).sum
    s"($n2 - 2 * ${dotQSql(arr.mkString("[", ", ", "]"), vcol)})"
  }

  /** CTE chain: src(idCol, vcol) -> out(idCol, vcol, cid[, cid2]). */
  private def ivfAssignSql(src: String, idCol: String, vcol: String,
                           out: String, withSecond: Boolean): String = {
    val n = graft.vector.Ann.NumCentroids
    val scores = (0 until n).map(c => s"${ivfScoreSql(c, vcol)} AS s$c")
      .mkString(",\n  ")
    val sCols = (0 until n).map(c => s"s$c").mkString(", ")
    val firstMatch = (0 until n)
      .map(c => s"WHEN s$c = m THEN $c").mkString("CASE ", " ", " END")
    val base =
      s"""${out}_s AS (SELECT $idCol, $vcol, $scores FROM $src),
         |${out}_m AS (SELECT *, least($sCols) AS m FROM ${out}_s),
         |${out}_1 AS (SELECT *, $firstMatch AS cid FROM ${out}_m)""".stripMargin
    if (!withSecond) base + s",\n$out AS (SELECT $idCol, $vcol, cid FROM ${out}_1)"
    else {
      val masked = (0 until n)
        .map(c => s"CASE WHEN cid = $c THEN 9223372036854775807 ELSE s$c END AS t$c")
        .mkString(",\n  ")
      val tCols = (0 until n).map(c => s"t$c").mkString(", ")
      val secondMatch = (0 until n)
        .map(c => s"WHEN t$c = m2 THEN $c").mkString("CASE ", " ", " END")
      base +
        s""",
           |${out}_2 AS (SELECT *, $masked FROM ${out}_1),
           |${out}_3 AS (SELECT *, least($tCols) AS m2 FROM ${out}_2),
           |$out AS (SELECT $idCol, $vcol, cid, $secondMatch AS cid2 FROM ${out}_3)""".stripMargin
    }
  }

  private val textVec: Map[String, String] = Map(
    "q_extract_text" ->
      s"""WITH $pagesCte
         |SELECT doc_id,
         |  substring(html_str, strpos(html_str, '<body><p>') + 9,
         |    length(html_str) - strpos(html_str, '<body><p>') - 26) AS extracted,
         |  (substring(html_str, strpos(html_str, '<body><p>') + 9,
         |    length(html_str) - strpos(html_str, '<body><p>') - 26) = text) AS ok
         |FROM pages ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH $corpusCte
         |SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS keeper
         |FROM corpus GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_minhash_lsh" -> minhashLshSql(8, 2, 0.4, None),

    // cap-aware capped config (mirror of q_simhash_capped): the oracle
    // replays the bucket drop, so the gate verifies which candidates
    // survive wherever the cap engages
    "q_minhash_capped" -> minhashLshSql(8, 2, 0.4, None,
      maxBucket = Some(graft.SparkEntry.MinhashMaxBucket)),

    // SALVAGE-AWARE minhash oracle (mirror of q_simhash_salvaged):
    // replays keep/salvage/drop including the sub-bucket hash
    "q_minhash_salvaged" -> minhashLshSql(8, 2, 0.4, None,
      maxBucket = Some(graft.SparkEntry.MinhashMaxBucket),
      salvageFactor = Some(graft.SparkEntry.MinhashSalvageFactor)),

    "q_minhash_wide" -> minhashLshSql(128, 8, 0.4, Some("doc_id % 3 = 0")),

    "q_simhash" -> simhashPairsSql,

    // CAP-AWARE oracle: replays the band-bucket size cap itself —
    // band keys, per-bucket counts, buckets above the cap dropped,
    // candidates from the survivors only. At sf0.01 no bucket exceeds
    // the cap (output == q_simhash); at sf0.1 the cap genuinely drops
    // hot buckets and the oracle reproduces exactly which pairs
    // survive — the drop semantics are verified, not assumed away
    "q_simhash_capped" -> {
      import graft.text.SimHash.{BandBits, NumBands}
      val mask = (1L << BandBits) - 1L
      val cap = graft.SparkEntry.SimhashMaxBucket
      s"""WITH $corpusCte,
         |c0 AS (SELECT doc_id AS id, text FROM corpus),
         |${simhashChain("c0", "sig")},
         |bnd AS (SELECT id, sig.sig AS sig, u.band,
         |    (sig.sig >> (u.band * $BandBits)) & $mask AS k0
         |  FROM sig, (SELECT unnest(range(0, $NumBands)) AS band) u),
         |sz AS (SELECT band, k0, count(*) AS n FROM bnd GROUP BY 1, 2),
         |kp AS (SELECT bnd.* FROM bnd JOIN sz
         |  ON bnd.band = sz.band AND bnd.k0 = sz.k0 WHERE sz.n <= $cap),
         |prs0 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM kp a JOIN kp b ON a.band = b.band AND a.k0 = b.k0
         |    AND a.id < b.id)
         |SELECT id_a, id_b, sig_a, sig_b,
         |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
         |FROM prs0 WHERE bit_count(xor(sig_a, sig_b)) <= 3
         |ORDER BY 1, 2""".stripMargin
    },

    // SALVAGE-AWARE oracle: replays the full three-tier bucket policy
    // — small buckets keep (ksub 0), mid buckets split into ceil(n/cap)
    // sub-buckets keyed by the id's first md5 word (h32FromMd parity
    // with Spark's md5_words kernel), oversize buckets drop — then
    // candidates join on (band, k0, ksub). Verifies the salvage
    // semantics themselves, not just the surviving pair values
    "q_simhash_salvaged" -> {
      import graft.text.SimHash.{BandBits, NumBands}
      val mask = (1L << BandBits) - 1L
      val cap = graft.SparkEntry.SimhashSalvageCap
      val factor = graft.SparkEntry.SimhashSalvageFactor
      s"""WITH $corpusCte,
         |c0 AS (SELECT doc_id AS id, text FROM corpus),
         |${simhashChain("c0", "sig")},
         |bnd AS (SELECT id, sig.sig AS sig, u.band,
         |    (sig.sig >> (u.band * $BandBits)) & $mask AS k0
         |  FROM sig, (SELECT unnest(range(0, $NumBands)) AS band) u),
         |sz AS (SELECT band, k0, count(*) AS n FROM bnd GROUP BY 1, 2),
         |kp0 AS (SELECT bnd.*, sz.n, md5(CAST(bnd.id AS VARCHAR)) AS md
         |  FROM bnd JOIN sz ON bnd.band = sz.band AND bnd.k0 = sz.k0
         |  WHERE sz.n <= ${cap.toLong * factor}),
         |kp AS (SELECT id, sig, band, k0,
         |    CASE WHEN n <= $cap THEN 0
         |      ELSE ${h32FromMd("md")} %
         |        CAST(trunc((n + ${cap - 1}) / $cap) AS BIGINT)
         |    END AS ksub
         |  FROM kp0),
         |prs0 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM kp a JOIN kp b ON a.band = b.band AND a.k0 = b.k0
         |    AND a.ksub = b.ksub AND a.id < b.id)
         |SELECT id_a, id_b, sig_a, sig_b,
         |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
         |FROM prs0 WHERE bit_count(xor(sig_a, sig_b)) <= 3
         |ORDER BY 1, 2""".stripMargin
    },

    // cluster keepers over the simhash pairs: the min-label closure
    // replayed as a recursive CTE (the walk enumerates every (id,
    // reachable-id) pair of a component; min = the keeper)
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $corpusCte,
         |c0 AS (SELECT doc_id AS id, text FROM corpus),
         |${simhashChain("c0", "sig")},
         |${simhashPrs("sig", "prs")},
         |${ccChain("prs", "keep")}
         |SELECT id, keeper FROM keep ORDER BY 1""".stripMargin,

    // composed dedup: the surviving corpus after dropping every
    // non-keeper member of each connected component
    "q_dedup_e2e" ->
      s"""WITH RECURSIVE $corpusCte,
         |c0 AS (SELECT doc_id AS id, text FROM corpus),
         |${simhashChain("c0", "sig")},
         |${simhashPrs("sig", "prs")},
         |${ccChain("prs", "keep")}
         |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
         |FROM corpus c LEFT JOIN keep k ON c.doc_id = k.id
         |WHERE k.id IS NULL OR k.keeper = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    // Clean.cleanCorpus parity: quality gate -> lang gate -> exact
    // dedup (min-id per md5) -> simhash CC near-dup removal, composed
    // in the SAME order as the Spark pipeline
    "q_clean_corpus" ->
      s"""WITH RECURSIVE $corpusCte,
         |c0 AS (SELECT doc_id AS id, text FROM corpus),
         |${langPredChain("c0", "lp")},
         |qf AS (SELECT id, text, pred,
         |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
         |  FROM lp),
         |f AS (SELECT * FROM qf WHERE n_tok >= 15
         |  AND (CAST(length(text) AS DOUBLE) - CAST(n_tok - 1 AS DOUBLE))
         |      / CAST(n_tok AS DOUBLE) <= 4.9
         |  AND pred <> 'unknown'),
         |ek AS (SELECT min(id) AS id FROM f GROUP BY md5(text)),
         |kept AS (SELECT f.* FROM f JOIN ek ON f.id = ek.id),
         |${simhashChain("kept", "ks")},
         |${simhashPrs("ks", "prs")},
         |${ccChain("prs", "keep2")}
         |SELECT kept.id AS doc_id, n_tok, pred AS pred_lang
         |FROM kept LEFT JOIN keep2 ON kept.id = keep2.id
         |WHERE keep2.id IS NULL OR keep2.keeper = kept.id
         |ORDER BY 1""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $corpusCte,
         |$shChain,
         |cand AS (SELECT DISTINCT sa.id AS id_a, sb.id AS id_b FROM sh sa
         |  JOIN sh sb ON sa.shingle = sb.shingle AND sa.id < sb.id),
         |${jaccardTail(0.3)}""".stripMargin,

    "q_ngram_capped" ->
      s"""WITH $corpusCte,
         |$shChain,
         |rare AS (SELECT id, shingle FROM sh WHERE shingle IN (
         |  SELECT shingle FROM sh GROUP BY 1
         |  HAVING count(*) <= ${graft.text.Dedup.NgramMaxDf})),
         |cand AS (SELECT DISTINCT sa.id AS id_a, sb.id AS id_b FROM rare sa
         |  JOIN rare sb ON sa.shingle = sb.shingle AND sa.id < sb.id),
         |${jaccardTail(0.3)}""".stripMargin,

    "q_lang_id" -> {
      val names = graft.text.TextOps.langMarkers.map(_._1)
      s"""WITH d0 AS (SELECT doc_id AS id, text FROM documents),
         |${langPredChain("d0", "lp")}
         |SELECT id AS doc_id, ${names.map("s_" + _).mkString(", ")}, pred
         |FROM lp ORDER BY doc_id""".stripMargin
    },

    "q_quality" ->
      """WITH q AS (SELECT doc_id, length(text) AS n_char,
        |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tok,
        |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
        |  FROM documents)
        |SELECT doc_id, CAST(n_char AS BIGINT) AS n_char,
        |  CAST(n_tok AS BIGINT) AS n_tok, CAST(n_dig AS BIGINT) AS n_dig,
        |  (CAST(n_char AS DOUBLE) - CAST(n_tok - 1 AS DOUBLE)) / CAST(n_tok AS DOUBLE) AS mean_tok_len
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(1, len(t)+1),
         |    i -> CAST(${h16Sql("t[i]")} AS BIGINT) * i)) % 2147483647 AS BIGINT) AS fp
         |FROM tok ORDER BY doc_id""".stripMargin,

    "q_embed_knn" ->
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |qv AS (SELECT id AS qid, v AS qv FROM cv WHERE id % 50 = 0),
         |d AS (SELECT qid, id, ${cosineQSql("qv", "v")} AS cos FROM qv CROSS JOIN cv),
         |r AS (SELECT qid, id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM d)
         |SELECT qid, rank, id, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |qv0 AS (SELECT id AS qid, v AS qv FROM cv WHERE id % 50 = 0),
         |cs AS (SELECT id, v, CAST(${lshSigSql("v")} AS BIGINT) AS sig FROM cv),
         |qs AS (SELECT qid, qv, CAST(${lshSigSql("qv")} AS BIGINT) AS sig FROM qv0),
         |d AS (SELECT qid, id, ${cosineQSql("qv", "v")} AS cos
         |  FROM qs JOIN cs ON qs.sig = cs.sig),
         |r AS (SELECT qid, id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM d)
         |SELECT qid, rank, id, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // Ann.lshTopKMultiProbe parity: per-plane dots, least-|dot| plane's
    // bit flipped as the second probe, exact re-rank over both buckets
    "q_ann_lsh_mp" -> {
      val n = graft.vector.Ann.NumPlanes
      val dots = (0 until n).map { p =>
        val w = graft.vector.Ann.planeArray(p, 64).mkString("[", ", ", "]")
        s"${dotQSql(w, "qv")} AS d$p"
      }.mkString(",\n  ")
      val sigFromDots = (0 until n)
        .map(p => s"(CASE WHEN d$p > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      val minAbs = s"least(${(0 until n).map(p => s"abs(d$p)").mkString(", ")})"
      val flipMask = (0 until n)
        .map(p => s"WHEN abs(d$p) = m THEN ${1L << p}")
        .mkString("CASE ", " ", " END")
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |qv0 AS (SELECT id AS qid, v AS qv FROM cv WHERE id % 50 = 0),
         |qd AS (SELECT qid, qv, $dots FROM qv0),
         |qm AS (SELECT *, $minAbs AS m FROM qd),
         |qs AS (SELECT qid, qv, CAST($sigFromDots AS BIGINT) AS sig,
         |  CAST($flipMask AS BIGINT) AS fm FROM qm),
         |qp AS (SELECT qid, qv, unnest([sig, xor(sig, fm)]) AS psig FROM qs),
         |cs AS (SELECT id, v, CAST(${lshSigSql("v")} AS BIGINT) AS sig FROM cv),
         |d AS (SELECT qid, id, ${cosineQSql("qv", "v")} AS cos
         |  FROM qp JOIN cs ON qp.psig = cs.sig),
         |r AS (SELECT qid, id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM d)
         |SELECT qid, rank, id, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },

    "q_ann_ivf" ->
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |qv0 AS (SELECT id AS qid, v AS qv FROM cv WHERE id % 50 = 0),
         |${ivfAssignSql("cv", "id", "v", "cs", withSecond = false)},
         |${ivfAssignSql("qv0", "qid", "qv", "qs", withSecond = true)},
         |qp AS (SELECT qid, qv, unnest([cid, cid2]) AS pcid FROM qs),
         |d AS (SELECT qid, id, ${cosineQSql("qv", "v")} AS cos
         |  FROM qp JOIN cs ON qp.pcid = cs.cid),
         |r AS (SELECT qid, id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM d)
         |SELECT qid, rank, id, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q_dedup_embed" ->
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |cs AS (SELECT id, v, CAST(${lshSigSql("v")} AS BIGINT) AS sig FROM cv)
         |SELECT a.id AS id_a, b.id AS id_b, ${cosineQSql("a.v", "b.v")} AS cos
         |FROM cs a JOIN cs b ON a.sig = b.sig AND a.id < b.id
         |WHERE ${cosineQSql("a.v", "b.v")} >= 0.2
         |ORDER BY 1, 2""".stripMargin,

    // Ann.cosineNearDupBanded parity: 16-plane signature, 2 bands x 8
    // bits, candidates share ANY band; exact cosine verify
    "q_dedup_embed_banded" -> {
      val planes = graft.SparkEntry.EmbedBandPlanes
      val rpb = graft.SparkEntry.EmbedBandRows
      val nBands = planes / rpb
      val mask = (1L << rpb) - 1L
      val bandRows = (0 until nBands)
        .map(b => s"SELECT id, $b AS band, (sig >> ${b * rpb}) & $mask AS k0 FROM cs")
        .mkString("\n  UNION ALL ")
      s"""WITH cv AS (SELECT vec_id AS id, ${quantizeSql("embedding")} AS v FROM embeddings),
         |cs AS (SELECT id, v, CAST(${lshSigSql("v", planes)} AS BIGINT) AS sig FROM cv),
         |bnd AS ($bandRows),
         |prs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bnd a
         |  JOIN bnd b ON a.band = b.band AND a.k0 = b.k0 AND a.id < b.id)
         |SELECT p.id_a, p.id_b, ${cosineQSql("va.v", "vb.v")} AS cos
         |FROM prs p JOIN cv va ON va.id = p.id_a JOIN cv vb ON vb.id = p.id_b
         |WHERE ${cosineQSql("va.v", "vb.v")} >= 0.2
         |ORDER BY 1, 2""".stripMargin
    },

    "q_multimodal" ->
      s"""WITH $pagesCte
         |SELECT doc_id,
         |  CAST(octet_length(CAST(html_str AS BLOB)) AS BIGINT) AS byte_len,
         |  md5(html_str) AS digest,
         |  (substring(html_str, 1, 6) = '<html>') AS is_html,
         |  CAST(octet_length(CAST(html_str AS BLOB)) % 256 AS BIGINT) AS f1,
         |  CAST((octet_length(CAST(html_str AS BLOB)) * 2654435761) % 65536 AS BIGINT) AS f2
         |FROM pages ORDER BY doc_id""".stripMargin,

    "q_lineage_resume" ->
      s"""${geoPrefixAnd(Res,
        s"tiles AS MATERIALIZED (SELECT DISTINCT ${parentSql("cell", Res, Res - TileRes)} AS cell FROM enc)")}
         |SELECT cell FROM tiles
         |WHERE (${compactSql(s"((cell % $Res58) >> 1)")}) % 2 = 1
         |ORDER BY cell""".stripMargin
  )

  val all: Map[String, String] = {
    val m = core ++ classification ++ textVec
    // the cell-cover fallback gates are result-identical to their theta
    // formulations BY CONSTRUCTION (a contained point's cell is always
    // among its extent's cover cells) — verified against the same oracle
    m + ("q_semi_points_cells" -> m("q_semi_points"))
  }
}
