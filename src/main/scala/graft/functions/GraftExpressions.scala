package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cell.CellIndex
import graft.geo.{GeoTag, Polygon}
import graft.text.{SimHash, TextKernels}

/**
 * Native Catalyst expressions for the cell index, geotagger, text and
 * vector kernels (SURVEY.md §2.11, §4.3). A scalar kernel is one static
 * method on a pure Scala object; [[Kernel]] binds it to Catalyst as a
 * `RuntimeReplaceable` whose replacement is Spark's own `StaticInvoke`
 * (the idiom of Spark's `base64` and `url_encode`). Generated code is
 * the single static call inside whole-stage codegen (no boxing, no UDF
 * serialization); interpreted evaluation calls the same method
 * reflectively. Each kernel is one [[Kernel.Decl]] (SQL name, target,
 * method, result and input types); the Column helpers and the SQL
 * function table are built from those declarations. Only expressions
 * that carry a plan-time payload into generated code (`addReferenceObj`:
 * [[PointInPoly]], [[CellInRanges]], [[IvfCellsOf]]) keep a class.
 *
 * Reference semantics grafted here:
 *  - cell encode/decode = the affine world<->pixel transform + block
 *    grid of geoRpro (raster.py:287-291, 450-455, 467-491)
 *  - point_in_poly = rasterio mask-by-geometry / shapely within
 *    (raster.py:396-422, script/filter_shapes.py:49)
 *  - norm_diff = the Indexes family's fused normalized difference with
 *    exact numpy float32 + NaN->0 semantics (raster.py:544-555)
 */
/** Static-call targets: adapters to Catalyst's argument and result
  * types (UTF8String, ArrayData) for kernels that live elsewhere, and
  * the kernels that have no other home. */
object kernels {
  def geotagLon(url: UTF8String): Double = {
    val b = url.getBytes
    GeoTag.lonLatBytes(b, 0, b.length)._1
  }
  def geotagLat(url: UTF8String): Double = {
    val b = url.getBytes
    GeoTag.lonLatBytes(b, 0, b.length)._2
  }
  /** Fused geotag + encode, one md5 per row (the tiling hot path). */
  def geotagCell(url: UTF8String, res: Int): Long = {
    val b = url.getBytes
    GeoTag.cellOfBytes(b, 0, b.length, res)
  }

  def children(cell: Long): ArrayData = new GenericArrayData(CellIndex.children(cell))
  def disk(cell: Long, k: Int): ArrayData = new GenericArrayData(CellIndex.disk(cell, k))
  def ring(cell: Long, k: Int): ArrayData = new GenericArrayData(CellIndex.ring(cell, k))
  def simhash60(text: UTF8String): Long = SimHash.sig60(text.toString)

  /** Exact integer dot product of two long arrays — one loop per row
    * (the interpreted zip_with+aggregate HOF pair costs ~20x on 64-dim
    * vectors). Equal lengths expected (vector contract); the shorter
    * length bounds the loop otherwise. */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** trunc(x_double * 10000) per element — identical to
    * (x.cast(double) * 10000.0).cast(long): toLong truncates toward 0. */
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = (v.getFloat(i).toDouble * 10000.0).toLong; i += 1 }
    new GenericArrayData(out)
  }

  /**
   * norm_diff(a, b): float32 (a-b)/(a+b) with numpy parity — computed in
   * single precision, divide-by-zero/invalid produce NaN/Inf which are
   * mapped to 0.0f (np.nan_to_num-free variant of raster.py:552-553:
   * `np.nanto..`, i.e. NaN->0 while +-Inf cannot arise since 0/0 is the
   * only singular case for equal-sign bands; we still map Inf->0
   * defensively). Scaling ×1000 + truncation toward zero
   * (raster.py:537-541) is composed downstream as cast(norm_diff*1000 as
   * long) — Spark's double->long cast truncates toward zero exactly like
   * numpy's astype(int).
   */
  def normDiff(a: Float, b: Float): Float = {
    val v = (a - b) / (a + b)
    if (java.lang.Float.isNaN(v) || java.lang.Float.isInfinite(v)) 0.0f else v
  }

  /** IVF cells: nearest and second-nearest centroid of a quantized
    * vector, packed as (cid1 << 8) | cid2 — ONE kernel loop over a
    * reference-object centroid matrix ([[IvfCellsOf]]). The
    * Column-combinator formulation (least() over 16 scores +
    * first-match CASE chains, each re-inlining a 64-literal dot
    * product) blows janino's 64KB method limit and silently drops the
    * whole stage to interpreted mode — the exact round-1 CellInRanges
    * failure shape, same fix.
    *
    * Argmin semantics (bit-matched by the oracle's least+CASE SQL):
    * score_c = |c|^2 - 2 c.v (exact Long), ties -> smaller centroid id;
    * cid2 = argmin over the rest, same tie rule. */
  def ivfCells(v: ArrayData, cents: Array[Array[Long]], norms: Array[Long]): Int = {
    var best = -1; var bestS = Long.MaxValue
    var second = -1; var secondS = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      val n = math.min(w.length, v.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += w(i) * v.getLong(i); i += 1 }
      val score = norms(c) - 2L * s
      if (score < bestS) {
        second = best; secondS = bestS
        best = c; bestS = score
      } else if (score < secondS) {
        second = c; secondS = score
      }
      c += 1
    }
    (best << 8) | second
  }
}

/** One scalar kernel call `target.method(children...)`: null in gives
  * null out, input types are checked at analysis, and an unaliased call
  * is named `name(args...)`. */
case class Kernel(name: String, target: Class[_], method: String,
    override val dataType: DataType, inputTypes: Seq[DataType],
    children: Seq[Expression]) extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = name
  override lazy val replacement: Expression = StaticInvoke(target, dataType, method,
    children, inputTypes, propagateNull = true, returnNullable = false)
  override def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Kernel =
    copy(children = c)
}

object Kernel {
  /** A kernel's declaration: SQL name, the object holding the static
    * method, result and input types. `expr` builds the expression from
    * Catalyst arguments (the SQL builder), `apply` from Columns. */
  case class Decl(name: String, target: AnyRef, method: String,
      dataType: DataType, inputTypes: DataType*) {
    def expr(args: Seq[Expression]): Expression = {
      require(args.length == inputTypes.length,
        s"$name takes ${inputTypes.length} arguments, got ${args.length}")
      Kernel(name, target.getClass, method, dataType, inputTypes, args)
    }
    def apply(args: Column*): Column = toCol(expr(args.map(toExpr)))
  }

  private val Longs = ArrayType(LongType, containsNull = false)
  val geotagLon = Decl("geotag_lon", kernels, "geotagLon", DoubleType, StringType)
  val geotagLat = Decl("geotag_lat", kernels, "geotagLat", DoubleType, StringType)
  val geotagCell = Decl("geotag_cell", kernels, "geotagCell", LongType, StringType, IntegerType)
  val cellOf = Decl("cell_of", CellIndex, "encode", LongType, DoubleType, DoubleType, IntegerType)
  val cellParent = Decl("cell_parent", CellIndex, "parent", LongType, LongType, IntegerType)
  val cellChildren = Decl("cell_children", kernels, "children", Longs, LongType)
  val cellDisk = Decl("cell_disk", kernels, "disk", Longs, LongType, IntegerType)
  val cellRing = Decl("cell_ring", kernels, "ring", Longs, LongType, IntegerType)
  val cellCenterLon = Decl("cell_center_lon", CellIndex, "centerLon", DoubleType, LongType)
  val cellCenterLat = Decl("cell_center_lat", CellIndex, "centerLat", DoubleType, LongType)
  val cellX = Decl("cell_x", CellIndex, "xOf", LongType, LongType)
  val cellY = Decl("cell_y", CellIndex, "yOf", LongType, LongType)
  val simhash60 = Decl("simhash60", kernels, "simhash60", LongType, StringType)
  val quantizeQ = Decl("quantize_q", kernels, "quantize", Longs, ArrayType(FloatType))
  val dotQ = Decl("dot_q", kernels, "dotQ", LongType, ArrayType(LongType), ArrayType(LongType))
  val shinglesK = Decl("shingles_k", TextKernels, "shingles",
    ArrayType(StringType, containsNull = false), StringType, IntegerType)
  val minhashSigs = Decl("minhash_sigs", TextKernels, "minhashSigs", Longs,
    StringType, IntegerType, IntegerType)
  val md5Words = Decl("md5_words", TextKernels, "md5Words", Longs, StringType)
  val langScores = Decl("lang_scores", TextKernels, "langScores", Longs, StringType)
  val docFingerprint = Decl("doc_fingerprint", TextKernels, "fingerprint", LongType, StringType)
  val normDiff = Decl("norm_diff", kernels, "normDiff", FloatType, FloatType, FloatType)

  /** The kernels callable from SQL: all but minhash_sigs, whose k and
    * hash count are plan-time constants of the Column API. */
  val sql: Seq[Decl] = Seq(geotagLon, geotagLat, geotagCell, cellOf, cellParent,
    cellChildren, cellDisk, cellRing, cellCenterLon, cellCenterLat, cellX, cellY,
    simhash60, quantizeQ, dotQ, shinglesK, md5Words, langScores, docFingerprint, normDiff)
}

/**
 * point_in_poly(lon, lat) against a polygon fixed at plan time.
 * The polygon rides along as a reference object in the generated class
 * (ctx.addReferenceObj), exactly how Spark's regexp expressions carry
 * their compiled Pattern — the strip-indexed ray-casting kernel runs
 * inside whole-stage codegen.
 */
case class PointInPoly(left: Expression, right: Expression, poly: Polygon)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_in_poly"
  protected override def nullSafeEval(lon: Any, lat: Any): Any =
    poly.contains(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("poly", poly, classOf[Polygon].getName)
    defineCodeGen(ctx, ev, (lon, lat) => s"$ref.contains($lon, $lat)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PointInPoly = copy(l, r)
}

/**
 * cell_in_ranges(cell): membership of a cell id in a plan-time set of
 * merged inclusive morton ranges (flattened [lo,hi,...], sorted). The
 * range table rides along as a reference object and each probe is one
 * binary search — keeping the cover prefilter a single compact call in
 * generated code (vs an OR-of-BETWEEN disjunction that re-inlines the
 * derived cell expression per disjunct and trips janino's 64KB limit).
 */
case class CellInRanges(child: Expression, flat: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_in_ranges"
  // Array fields compare by identity — without structural equality two
  // semantically identical cover predicates never satisfy
  // semanticEquals, so CSE/canonicalization silently re-evaluate them
  override def equals(other: Any): Boolean = other match {
    case CellInRanges(c, f) => c == child && java.util.Arrays.equals(f, flat)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(flat)
  protected override def nullSafeEval(cell: Any): Any =
    CellIndex.inRanges(cell.asInstanceOf[Long], flat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellRanges", flat, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.cell.CellIndex.inRanges($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): CellInRanges =
    copy(child = c)
}

/** ivf_cells_of(v, codebook): the packed nearest + second-nearest
  * argmin (kernels.ivfCells) over a centroid matrix held as a reference
  * object — the ONE IVF kernel: the LCG table (Ann.lcgCodebook, the
  * oracle-gated default and the SQL `ivf_cells` function) and a trained
  * codebook (Ann.trainCodebook's k-means output) both go through it.
  * `codebook` is a Seq (not Array) so case-class equality stays
  * structural for plan canonicalization. */
case class IvfCellsOf(child: Expression, codebook: Seq[Seq[Long]])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ivf_cells_of"
  @transient private lazy val cents: Array[Array[Long]] =
    codebook.map(_.toArray).toArray
  @transient private lazy val norms: Array[Long] =
    cents.map(_.map(x => x * x).sum)
  protected override def nullSafeEval(v: Any): Any =
    kernels.ivfCells(v.asInstanceOf[ArrayData], cents, norms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentsOf", cents, "long[][]")
    val nRef = ctx.addReferenceObj("ivfNormsOf", norms, "long[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.kernels.ivfCells($v, $cRef, $nRef)")
  }
  override protected def withNewChildInternal(c: Expression): IvfCellsOf =
    copy(child = c)
}
