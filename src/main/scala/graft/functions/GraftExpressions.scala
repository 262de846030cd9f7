package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cell.CellIndex
import graft.geo.{GeoTag, Polygon}

/**
 * Native Catalyst expressions for the cell index, geotagger and PIP
 * kernel (SURVEY.md §2.11, §4.3). All scalar expressions implement
 * `doGenCode` via `defineCodeGen` emitting a static call into the pure
 * Scala kernels — the same structure Spark uses for its own
 * regexp/url expressions: the generated code stays inside whole-stage
 * codegen (no boxing, no UDF serialization), while the kernel logic
 * lives in one unit-tested object.
 *
 * Reference semantics grafted here:
 *  - cell encode/decode = the affine world<->pixel transform + block
 *    grid of geoRpro (raster.py:287-291, 450-455, 467-491)
 *  - point_in_poly = rasterio mask-by-geometry / shapely within
 *    (raster.py:396-422, script/filter_shapes.py:49)
 *  - norm_diff = the Indexes family's fused normalized difference with
 *    exact numpy float32 + NaN->0 semantics (raster.py:544-555)
 */
object kernels { // static-call targets for generated code
  def geotagLon(url: UTF8String): Double = {
    val b = url.getBytes
    GeoTag.lonLatBytes(b, 0, b.length)._1
  }
  def geotagLat(url: UTF8String): Double = {
    val b = url.getBytes
    GeoTag.lonLatBytes(b, 0, b.length)._2
  }
  def geotagCell(url: UTF8String, res: Int): Long = {
    val b = url.getBytes
    GeoTag.cellOfBytes(b, 0, b.length, res)
  }
}

case class GeotagLon(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geotag_lon"
  protected override def nullSafeEval(url: Any): Any =
    kernels.geotagLon(url.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.kernels.geotagLon($c)")
  override protected def withNewChildInternal(c: Expression): GeotagLon = copy(c)
}

case class GeotagLat(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geotag_lat"
  protected override def nullSafeEval(url: Any): Any =
    kernels.geotagLat(url.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.kernels.geotagLat($c)")
  override protected def withNewChildInternal(c: Expression): GeotagLat = copy(c)
}

/** geotag_cell(url, res) -> packed long: fused geotag + encode, one
  * md5 per row (the hot path of the tiling pipeline). */
case class GeotagCell(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geotag_cell"
  protected override def nullSafeEval(url: Any, res: Any): Any =
    kernels.geotagCell(url.asInstanceOf[UTF8String], res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, r) =>
      s"graft.functions.kernels.geotagCell($u, $r)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GeotagCell = copy(l, r)
}

/** cell_of(lon, lat, res) -> packed long (CellIndex.encode). */
case class CellOf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_of"
  protected override def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    CellIndex.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, r) =>
      s"graft.cell.CellIndex.encode($lon, $lat, $r)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CellOf = copy(f, s, t)
}

/** cell_parent(cell, steps) -> packed long one-or-more levels up. */
case class CellParent(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(LongType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_parent"
  protected override def nullSafeEval(cell: Any, steps: Any): Any =
    CellIndex.parent(cell.asInstanceOf[Long], steps.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, s) => s"graft.cell.CellIndex.parent($c, $s)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellParent = copy(l, r)
}

case class CellChildren(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_children"
  protected override def nullSafeEval(cell: Any): Any =
    new GenericArrayData(CellIndex.children(cell.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.cell.CellIndex.children($c))")
  override protected def withNewChildInternal(c: Expression): CellChildren = copy(c)
}

/** cell_disk(cell, k): all cells within Chebyshev distance k (kRing disk). */
case class CellDisk(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(LongType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_disk"
  protected override def nullSafeEval(cell: Any, k: Any): Any =
    new GenericArrayData(CellIndex.disk(cell.asInstanceOf[Long], k.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.cell.CellIndex.disk($c, $k))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellDisk = copy(l, r)
}

/** cell_ring(cell, k): cells at exactly Chebyshev distance k. */
case class CellRing(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(LongType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_ring"
  protected override def nullSafeEval(cell: Any, k: Any): Any =
    new GenericArrayData(CellIndex.ring(cell.asInstanceOf[Long], k.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.cell.CellIndex.ring($c, $k))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellRing = copy(l, r)
}

case class CellCenterLon(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_center_lon"
  protected override def nullSafeEval(cell: Any): Any =
    CellIndex.centerLon(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cell.CellIndex.centerLon($c)")
  override protected def withNewChildInternal(c: Expression): CellCenterLon = copy(c)
}

case class CellCenterLat(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_center_lat"
  protected override def nullSafeEval(cell: Any): Any =
    CellIndex.centerLat(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cell.CellIndex.centerLat($c)")
  override protected def withNewChildInternal(c: Expression): CellCenterLat = copy(c)
}

/** cell_x / cell_y: decoded grid coordinates (for window predicates). */
case class CellX(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_x"
  protected override def nullSafeEval(cell: Any): Any =
    CellIndex.xOf(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cell.CellIndex.xOf($c)")
  override protected def withNewChildInternal(c: Expression): CellX = copy(c)
}

case class CellY(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_y"
  protected override def nullSafeEval(cell: Any): Any =
    CellIndex.yOf(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cell.CellIndex.yOf($c)")
  override protected def withNewChildInternal(c: Expression): CellY = copy(c)
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

/**
 * simhash60(text): 60-bit SimHash signature (graft.text.SimHash) — one
 * codegen'd kernel call per row (tokenize + md5-per-token + bit votes)
 * instead of 60 interpreted higher-order-function passes.
 */
case class SimHash60(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash60"
  protected override def nullSafeEval(text: Any): Any =
    graft.text.SimHash.sig60(text.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.SimHash.sig60($c.toString())")
  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(c)
}

/** dot_q(a, b): exact integer dot product of two long-array columns —
  * one codegen'd loop per row (the interpreted zip_with+aggregate HOF
  * pair costs ~20x on 64-dim vectors). Equal lengths expected (vector
  * contract); the shorter length bounds the loop otherwise. */
object veckernels {
  def dotQ(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** trunc(x_double * 10000) per element — identical to
    * (x.cast(double) * 10000.0).cast(long): toLong truncates toward 0. */
  def quantize(v: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = (v.getFloat(i).toDouble * 10000.0).toLong; i += 1 }
    new GenericArrayData(out)
  }
}

/**
 * IVF cells: nearest and second-nearest centroid of a quantized
 * vector, packed as (cid1 << 8) | cid2 — ONE kernel loop over a
 * reference-object centroid matrix (IvfCellsOf). The Column-combinator
 * formulation (least() over 16 scores + first-match CASE chains, each
 * re-inlining a 64-literal dot product) blows janino's 64KB method
 * limit and silently drops the whole stage to interpreted mode — the
 * exact round-1 CellInRanges failure shape, same fix.
 *
 * Argmin semantics (bit-matched by the oracle's least+CASE SQL):
 * score_c = |c|^2 - 2 c.v (exact Long), ties -> smaller centroid id;
 * cid2 = argmin over the rest, same tie rule.
 */
object ivfkernel {
  def cells(v: org.apache.spark.sql.catalyst.util.ArrayData,
            cents: Array[Array[Long]], norms: Array[Long]): Int = {
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

/** ivf_cells_of(v, codebook): the packed nearest + second-nearest
  * argmin (ivfkernel) over a centroid matrix held as a reference
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
    ivfkernel.cells(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cents, norms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentsOf", cents, "long[][]")
    val nRef = ctx.addReferenceObj("ivfNormsOf", norms, "long[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.ivfkernel.cells($v, $cRef, $nRef)")
  }
  override protected def withNewChildInternal(c: Expression): IvfCellsOf =
    copy(child = c)
}

/** quantize_q(v): float array -> trunc(x * 10000) long array (Ann
  * quantization; one loop/row instead of a per-element HOF). */
case class QuantizeQ(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(ArrayType(FloatType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantize_q"
  protected override def nullSafeEval(v: Any): Any =
    veckernels.quantize(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.veckernels.quantize($v)")
  override protected def withNewChildInternal(c: Expression): QuantizeQ = copy(c)
}

case class DotQ(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_q"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    veckernels.dotQ(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.veckernels.dotQ($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotQ = copy(l, r)
}

/** shingles_k(text, k): word-k-gram shingles (TextKernels.shingles). */
case class ShinglesK(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq(StringType, IntegerType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles_k"
  protected override def nullSafeEval(text: Any, k: Any): Any =
    graft.text.TextKernels.shingles(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.text.TextKernels.shingles($t, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ShinglesK = copy(l, r)
}

/** minhash_sigs(text, k, numHashes): the full per-document MinHash
  * signature as one kernel call (TextKernels.minhashSigs — round-6:
  * replaces the explode -> md5_words -> groupBy-min shuffle; md5 runs
  * once per DISTINCT in-document shingle+salt). Empty array when the
  * text has fewer than k tokens (callers filter size > 0, matching the
  * aggregated path's absent row). */
case class MinhashSigs(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes % 4 == 0, "numHashes must be a multiple of 4")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sigs"
  protected override def nullSafeEval(text: Any): Any =
    graft.text.TextKernels.minhashSigs(
      text.asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.text.TextKernels.minhashSigs($t, $k, $numHashes)")
  override protected def withNewChildInternal(c: Expression): MinhashSigs =
    copy(child = c)
}

/** md5_words(s): the 4 unsigned 32-bit words of md5(s) — one digest,
  * four independent hashes (the minhash family). */
case class Md5Words(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_words"
  protected override def nullSafeEval(s: Any): Any =
    graft.text.TextKernels.md5Words(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.text.TextKernels.md5Words($s)")
  override protected def withNewChildInternal(c: Expression): Md5Words = copy(c)
}

/** lang_scores(text): per-language marker-vote counts (one pass). */
case class LangScores(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lang_scores"
  protected override def nullSafeEval(text: Any): Any =
    graft.text.TextKernels.langScores(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.text.TextKernels.langScores($t)")
  override protected def withNewChildInternal(c: Expression): LangScores = copy(c)
}

/** doc_fingerprint(text): position-weighted rolling h16 sum mod 2^31-1. */
case class DocFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "doc_fingerprint"
  protected override def nullSafeEval(text: Any): Any =
    graft.text.TextKernels.fingerprint(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.text.TextKernels.fingerprint($t)")
  override protected def withNewChildInternal(c: Expression): DocFingerprint = copy(c)
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
object kernels2 {
  def normDiff(a: Float, b: Float): Float = {
    val v = (a - b) / (a + b)
    if (java.lang.Float.isNaN(v) || java.lang.Float.isInfinite(v)) 0.0f else v
  }
}

case class NormDiff(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = FloatType
  override def inputTypes = Seq(FloatType, FloatType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "norm_diff"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    kernels2.normDiff(a.asInstanceOf[Float], b.asInstanceOf[Float])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.kernels2.normDiff($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NormDiff = copy(l, r)
}
