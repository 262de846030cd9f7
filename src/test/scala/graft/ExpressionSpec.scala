package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.cell.CellIndex
import graft.geo.{GeoTag, Polygon}
import graft.functions._

/**
 * Codegen-path parity: every Catalyst expression evaluated THROUGH SPARK
 * (whole-stage codegen) must equal the pure kernel called directly, and
 * interpreted evaluation (the reflective path of `StaticInvoke`) must
 * equal generated code. Catches bugs that one path alone would miss.
 */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  val seeds: Seq[Long] = 0L until 300L

  lazy val coords = seeds.map { i =>
    val rnd = new scala.util.Random(i)
    (i, rnd.nextDouble() * 359.9 - 179.95, rnd.nextDouble() * 179.9 - 89.95)
  }.toDF("id", "lon", "lat")

  test("cell_of matches CellIndex.encode through codegen") {
    val got = coords.select($"id", cell_of($"lon", $"lat", 12).as("c"))
      .orderBy("id").collect().map(_.getLong(1))
    val want = coords.orderBy("id").collect()
      .map(r => CellIndex.encode(r.getDouble(1), r.getDouble(2), 12))
    assert(got.sameElements(want))
  }

  test("cell_parent / cell_x / cell_y / centers match kernels") {
    val rows = coords.select(
      cell_of($"lon", $"lat", 12).as("c"),
      cell_parent(cell_of($"lon", $"lat", 12), 3).as("p"),
      cell_x(cell_of($"lon", $"lat", 12)).as("x"),
      cell_y(cell_of($"lon", $"lat", 12)).as("y"),
      cell_center_lon(cell_of($"lon", $"lat", 12)).as("clon"),
      cell_center_lat(cell_of($"lon", $"lat", 12)).as("clat")).collect()
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(r.getLong(1) == CellIndex.parent(c, 3))
      assert(r.getLong(2) == CellIndex.xOf(c))
      assert(r.getLong(3) == CellIndex.yOf(c))
      assert(r.getDouble(4) == CellIndex.centerLon(c))
      assert(r.getDouble(5) == CellIndex.centerLat(c))
    }
  }

  test("cell_children / cell_disk / cell_ring match kernels") {
    val rows = coords.limit(50).select(
      cell_of($"lon", $"lat", 10).as("c"),
      cell_children(cell_of($"lon", $"lat", 10)).as("kids"),
      cell_disk(cell_of($"lon", $"lat", 10), 2).as("disk"),
      cell_ring(cell_of($"lon", $"lat", 10), 2).as("ring")).collect()
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(r.getSeq[Long](1) == CellIndex.children(c).toSeq)
      assert(r.getSeq[Long](2) == CellIndex.disk(c, 2).toSeq)
      assert(r.getSeq[Long](3) == CellIndex.ring(c, 2).toSeq)
    }
  }

  test("geotag_lon/lat match GeoTag kernel through codegen") {
    val urls = (0 until 200).map(i => (i.toLong,
      s"https://h$i.example.${if (i % 3 == 0) "de" else "zz"}/p"))
      .toDF("id", "url")
    val rows = urls.select($"url",
      geotag_lon($"url").as("lon"), geotag_lat($"url").as("lat")).collect()
    rows.foreach { r =>
      val (lon, lat) = GeoTag.lonLat(r.getString(0))
      assert(r.getDouble(1) == lon && r.getDouble(2) == lat)
    }
  }

  test("geotag_cell == cell_of(geotag_lon, geotag_lat) (fusion parity)") {
    val urls = (0 until 200).map(i => (i.toLong,
      s"https://h$i.example.${if (i % 3 == 0) "jp" else "zz"}/p"))
      .toDF("id", "url")
    val rows = urls.select(
      geotag_cell($"url", 12).as("fused"),
      cell_of(geotag_lon($"url"), geotag_lat($"url"), 12).as("composed"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("cell_in_ranges matches CellIndex.inRanges through codegen") {
    val flat = CellIndex.coverRanges(
      CellIndex.coverRect(0.0, 0.0, 90.0, 60.0, 6), 12)
    val rows = coords.select($"lon", $"lat",
      cell_in_ranges(cell_of($"lon", $"lat", 12), flat).as("in"))
      .collect()
    rows.foreach { r =>
      val c = CellIndex.encode(r.getDouble(0), r.getDouble(1), 12)
      assert(r.getBoolean(2) == CellIndex.inRanges(c, flat))
    }
  }

  test("point_in_poly matches kernel through codegen (concave)") {
    val poly = Polygon.registry("asia_l")
    val rows = coords.select($"lon", $"lat",
      point_in_poly($"lon", $"lat", poly).as("in")).collect()
    rows.foreach { r =>
      assert(r.getBoolean(2) == poly.contains(r.getDouble(0), r.getDouble(1)))
    }
  }

  test("expressions survive null inputs (nullIntolerant -> null out)") {
    val df = Seq((Some(1.0), Some(2.0)), (None, Some(2.0))).toDF("lon", "lat")
    val out = df.select(cell_of($"lon", $"lat", 5).as("c")).collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0))
  }

  test("SQL registration works (registerAll)") {
    registerAll(spark)
    val r = spark.sql(
      "SELECT cell_parent(cell_of(10.0D, 45.0D, 12), 6) AS p").collect()(0)
    assert(r.getLong(0) == CellIndex.parent(CellIndex.encode(10.0, 45.0, 12), 6))
    val iv = spark.sql(
      "SELECT ivf_cells(quantize_q(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))), 2) AS p")
      .collect()(0).getInt(0)
    assert((iv >> 8) >= 0 && (iv >> 8) < graft.vector.Ann.NumCentroids &&
      (iv & 255) != (iv >> 8))
  }

  test("GraftExtensions injects the surface at session build time") {
    // a fresh session over the SAME context picks up the extensions
    // (the spark.sql.extensions deployment path)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql("SELECT cell_of(10.0D, 20.0D, 8) AS c").collect()(0)
      assert(r.getLong(0) == CellIndex.encode(10.0, 20.0, 8))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  /** Every kernel in one projection over a generated (non-local)
    * relation, so it runs as a real plan; every 17th row is null. */
  def everyKernel = {
    val blank = $"id" % 17 === 3
    val in = spark.range(0, 300, 1, 3).select($"id",
      when(!blank, ($"id" * 37 % 3599 / 10.0 - 179.95)).as("lon"),
      ($"id" * 53 % 1799 / 10.0 - 89.95).as("lat"),
      when(!blank, concat(lit("https://h"), $"id", lit(".example."),
        when($"id" % 3 === 0, "de").otherwise("zz"), lit("/p"))).as("url"),
      when(!blank, concat_ws(" ", lit("the"), ($"id" % 7).cast("string"),
        lit("und der fox"), ($"id" % 5).cast("string"), lit("la"))).as("text"),
      array(($"id" % 13 / 7.0).cast("float"), (-$"id" % 5 / 3.0).cast("float"),
        lit(0.25f)).as("fv"),
      ($"id" % 11).cast("float").as("a"), ($"id" % 7 - 3).cast("float").as("b"))
    val cell = cell_of($"lon", $"lat", 10)
    val q = quantize_q($"fv")
    in.select($"id", geotag_lon($"url"), geotag_lat($"url"), geotag_cell($"url", 12),
      cell, cell_parent(cell, 3), cell_children(cell), cell_disk(cell, 1),
      cell_disk(cell, ($"id" % 3).cast("int")), cell_ring(cell, 2),
      cell_center_lon(cell), cell_center_lat(cell), cell_x(cell), cell_y(cell),
      simhash60($"text"), q, dot_q(q, q), shingles_k($"text", 2),
      minhash_sigs($"text", 3, 8), md5_words($"text"), lang_scores($"text"),
      doc_fingerprint($"text"), norm_diff($"a", $"b"),
      cell_in_ranges(cell, CellIndex.coverRanges(
        CellIndex.coverRect(0.0, 0.0, 90.0, 60.0, 6), 10)),
      point_in_poly($"lon", $"lat", Polygon.registry("asia_l")),
      ivf_cells_of(q, graft.vector.Ann.lcgCodebook(3)))
  }

  test("every kernel: interpreted evaluation == whole-stage codegen") {
    val codegen = everyKernel.orderBy("id").collect().toSeq
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    val interpreted = try {
      val df = everyKernel.orderBy("id")
      assert(!df.queryExecution.executedPlan.toString.contains("*("))
      df.collect().toSeq
    } finally keys.zip(prev).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(codegen.size == 300 && codegen.count(_.isNullAt(4)) == 18)
    assert(interpreted == codegen)
    codegen.filterNot(_.isNullAt(4)).take(20).foreach { r =>
      val id = r.getLong(0)
      val text = s"the ${id % 7} und der fox ${id % 5} la"
      assert(r.getLong(5) == CellIndex.parent(r.getLong(4), 3))
      assert(r.getLong(14) == graft.text.SimHash.sig60(text))
      assert(r.getLong(21) == graft.text.TextKernels.fingerprint(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)))
    }
  }

  test("plan stays in whole-stage codegen (no UDF fallback)") {
    val plan = everyKernel.queryExecution.executedPlan
    val text = plan.toString
    // '*' = inside WholeStageCodegen; every projection is in one
    assert(text.contains("*(1) Project"))
    assert(text.linesIterator.filter(_.contains("Project")).forall(_.contains("*(")))
    assert(!text.contains("BatchEvalPython") && !text.contains("ScalaUDF"))
    // the generated source compiles (a failure would fall back to
    // interpreted evaluation at run time) and calls each kernel directly
    val code = plan.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2 }
    code.foreach(CodeGenerator.compile)
    val body = code.map(_.body).mkString
    Seq("graft.cell.CellIndex.parent(", "graft.functions.kernels.normDiff(",
      "graft.text.TextKernels.minhashSigs(", "graft.functions.kernels.geotagCell(")
      .foreach(call => assert(body.contains(call), call))
  }

  test("SQL surface: the registered names, type checks and column names") {
    val s = spark.newSession()
    def names = s.catalog.listFunctions().collect().map(_.name).toSet
    val builtin = names
    registerAll(s)
    assert(names -- builtin == Set("geotag_lon", "geotag_lat", "geotag_cell", "cell_of", "cell_parent",
      "cell_children", "cell_disk", "cell_ring", "cell_center_lon", "cell_center_lat",
      "cell_x", "cell_y", "norm_diff", "simhash60", "shingles_k", "md5_words",
      "doc_fingerprint", "lang_scores", "dot_q", "quantize_q", "ivf_cells"))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      s.sql("SELECT cell_parent('x', 1)").queryExecution.assertAnalyzed())
    assert(err.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", err.getMessage)
    assert(s.sql("SELECT cell_parent(id, 1), norm_diff(1.0F, 2.0F) FROM range(1)")
      .columns.toSeq == Seq("cell_parent(id, 1)", "norm_diff(1.0, 2.0)"))
    assert(s.range(1).select(cell_parent($"id", 2), geotag_cell($"id".cast("string"), 12))
      .columns.toSeq == Seq("cell_parent(id, 2)", "geotag_cell(CAST(id AS STRING), 12)"))
  }
}
