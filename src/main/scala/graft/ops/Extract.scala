package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Zonal / point extraction (SURVEY.md J1; geoRpro `DataExtractor`,
 * extract.py:149-214) — the reference's nested per-geometry loop
 * re-expressed as a single equi-join on the packed cell id:
 *
 *   points.withColumn(cell) JOIN raster ON cell
 *
 * Out-of-raster points disappear via the inner join (the ValueError
 * skip, extract.py:193-198); fully-masked rows drop via the sentinel
 * re-detection filter (extract.py:205-207). The points side is small
 * (labeled training points): the planner broadcasts it when its
 * estimated size fits `spark.sql.autoBroadcastJoinThreshold`, and a
 * point set over that budget joins shuffled.
 */
object Extract {

  /** Labeled point table contract (extract.py:160-161 GeoDataFrame
    * schema `(geometry, classname: str, id: int)`). */
  def pointsWithCells(points: DataFrame, res: Int): DataFrame =
    points.withColumn("cell", cell_of(col("lon"), col("lat"), res))

  /**
   * J1: per-point band extraction. `raster` = (cell, band columns...).
   * Emits one row per (point x covered cell) with bands + label —
   * `X: [points, bands], y` in relational form (extract.py:55-60).
   */
  def extract(points: DataFrame, raster: DataFrame, res: Int,
              bands: Seq[String], sentinel: Option[Any] = None): DataFrame = {
    val joined = raster.join(pointsWithCells(points, res), Seq("cell"))
    sentinel match {
      case Some(s) => Mask.dropFullyMasked(joined, bands, s)
      case None => joined
    }
  }

  /** A2: label histogram (np.unique(return_counts=True), extract.py:60). */
  def labelHistogram(xy: DataFrame): DataFrame =
    xy.groupBy("label_id").agg(count(lit(1)).as("n"))

  /** U2 `add_class` (extract.py:70-97): append synthetic constant rows
    * with a fresh label id = max+1 and the max existing class count
    * (A9). `value` must match the band columns' type (e.g. `lit(9999L)`
    * for Long bands — a mismatched literal would widen the whole column
    * through the union). The synthetic rows come from the one-row
    * label statistics (`explode(sequence(1, max_n))`), so building the
    * plan runs no job; an empty `xy` has null statistics and adds no
    * rows. */
  def addClass(xy: DataFrame, bands: Seq[String], value: org.apache.spark.sql.Column,
               classname: String): DataFrame = {
    val synth = labelHistogram(xy)
      .agg(max("label_id").as("max_id"), max("n").as("max_n"))
      .select(explode(sequence(lit(1L), col("max_n"))).as("_i"),
        (col("max_id") + 1).as("label_id"))
      .select(bands.map(b => value.as(b)) ++
        Seq(lit(classname).as("classname"), col("label_id")): _*)
    xy.unionByName(synth, allowMissingColumns = true)
  }

  /** U3 `remove_class` (extract.py:99-124). */
  def removeClass(xy: DataFrame, labelId: Long): DataFrame =
    xy.filter(col("label_id") =!= labelId)

  /** S11 save of the extracted training set (extract.py:126-139
    * `DataExtractor.save`: X, y + labels_map): xy rows as parquet, the
    * labels_map as a companion relation. */
  def saveXy(xy: DataFrame, path: String): Unit = {
    xy.write.mode("overwrite").parquet(s"$path/xy")
    xy.select("label_id", "classname").distinct()
      .write.mode("overwrite").parquet(s"$path/labels_map")
  }

  /** S11 load (extract.py:141-147): (xy, labels_map). */
  def loadXy(spark: org.apache.spark.sql.SparkSession,
             path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/xy"), spark.read.parquet(s"$path/labels_map"))

  /** S10 JSON serde parity (extract.py:63-67 `DataExtractor.save` +
    * utils.py:9-20 NumpyEncoder): ONE json object
    * `{"X": [[band values]], "y": [label ids], "labels_map":
    * {classname: "label_id"}}` (the reference stringifies label ids in
    * the map). This is the reference's model-training exchange format —
    * X/y fit one file by design (numpy arrays in memory), so the
    * collect is training-set-scale and the rows are sorted
    * (label_id, bands) for a deterministic file; the 100-TB path stays
    * [[saveXy]] (parquet). */
  def saveXyJson(xy: DataFrame, bands: Seq[String], path: String): Unit = {
    // Python json.dumps parity is TYPE-gated, matching NumpyEncoder
    // (utils.py:9-20): np.integer -> int (renders "1"), np.floating ->
    // float (renders "1.0" even when integral). So each band renders by
    // its SOURCE column type, not its value (ADVICE r3 #4 — the prior
    // value-gated rendering printed float 1.0 as "1", breaking parity
    // for float bands). Float parity caveat: Java's shortest-round-trip
    // Double.toString matches Python repr in the plain-decimal range
    // (1e-3 <= |x| < 1e7); exponent-form values differ in spelling
    // ("1.0E10" vs "1e+10") while remaining exact on re-read.
    val fieldType = xy.schema.fields.map(f => f.name -> f.dataType).toMap
    val integral = bands.map { b =>
      fieldType(b) match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }
    val rows = xy
      .select((bands.map(b => col(b).cast("double")) :+
        col("label_id").cast("long") :+ col("classname")): _*)
      .orderBy((col("label_id").cast("long") +: bands.map(col)): _*)
      .collect()
    // non-finite values print BARE (NaN / Infinity — allow_nan is True
    // in the reference's encoder); loadXyJson reads them back via
    // Jackson's non-numeric-numbers feature
    def num(d: Double, asInt: Boolean): String =
      if (d.isNaN) "NaN"
      else if (d.isPosInfinity) "Infinity"
      else if (d.isNegInfinity) "-Infinity"
      else if (asInt && d == math.rint(d)) d.toLong.toString
      else d.toString
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val xStr = rows.map(r => bands.indices
      .map(i => num(r.getDouble(i), integral(i)))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val yStr = rows.map(_.getLong(bands.length)).mkString("[", ", ", "]")
    val labels = rows.map(r => (r.getString(bands.length + 1),
        r.getLong(bands.length))).distinct.sortBy(_._2)
      .map { case (name, id) => s""""${esc(name)}": "${id}"""" }
      .mkString("{", ", ", "}")
    val json = s"""{"X": $xStr, "y": $yStr, "labels_map": $labels}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes("UTF-8"))
  }

  /** S10 JSON load (extract.py:141-147 `load_xy`): (xy rows with the
    * given band column names + label_id, labels_map). Jackson with
    * non-numeric numbers enabled — the reference's encoder emits bare
    * NaN/Infinity for non-finite floats. */
  def loadXyJson(spark: org.apache.spark.sql.SparkSession, bands: Seq[String],
                 path: String): (DataFrame, Map[String, String]) = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.core.json.JsonReadFeature
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
      .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS.mappedFeature)
    val j = mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    val xs = j.get("X").elements.asScala
      .map(row => row.elements.asScala.map(_.asDouble).toSeq).toSeq
    val ys = j.get("y").elements.asScala.map(_.asLong).toSeq
    val labelsMap = j.get("labels_map").properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val rows = xs.zip(ys).map { case (x, y) =>
      org.apache.spark.sql.Row.fromSeq(x :+ y)
    }
    val schema = org.apache.spark.sql.types.StructType(
      bands.map(b => org.apache.spark.sql.types.StructField(b,
        org.apache.spark.sql.types.DoubleType)) :+
        org.apache.spark.sql.types.StructField("label_id",
          org.apache.spark.sql.types.LongType))
    (spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema), labelsMap)
  }
}
