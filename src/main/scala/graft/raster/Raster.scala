package graft.raster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.Geo

/** Raster analytics over a pixel-grid DataFrame `(x, y, band, value)`
  * plus a geotransform — the Spark re-expression of
  * `src/library/raster_analysis.cpp`, `volume.cpp`,
  * `raster_profile.cpp`, `vegetation.cpp`, `thermal.cpp`.
  *
  * Scale design: a 100 TB raster estate is pixels-as-rows partitioned
  * by (raster_id, tile) — every op below is partial-aggregatable
  * column math, so Spark's partial/final agg handles arbitrary raster
  * sizes; nothing collects pixels to the driver except final scalar
  * results (plane coefficients, profile samples).
  */
object Raster {

  /** Build a pixel-grid DataFrame from width×height and a value
    * function — dev/test generator (`spark.range(h*w)`, SURVEY §2.10:
    * generators). */
  def grid(s: SparkSession, width: Int, height: Int)(value: (Column, Column) => Column): DataFrame = {
    import s.implicits._
    s.range(width.toLong * height)
      .select(
        (col("id") % width).cast("int").as("x"),
        (col("id") / width).cast("int").as("y")
      )
      .withColumn("value", value($"x", $"y"))
  }

  /** Nodata/NaN filter — ref `raster_analysis.cpp:376-394`. */
  def validPixels(df: DataFrame, nodata: Option[Double]): DataFrame = {
    val base = df.filter(!isnan(col("value")) && col("value").isNotNull)
    nodata.map(nd => base.filter(col("value") =!= nd)).getOrElse(base)
  }

  /** Area stats: min/max/mean/stddev/median/count — ref
    * `raster_analysis.cpp:318-507`. Median is the exact sorted-middle
    * element (`raster_analysis.cpp:396-417`). */
  def areaStats(pixels: DataFrame, nodata: Option[Double] = None): DataFrame = {
    val v = validPixels(pixels, nodata)
    val base = v.agg(
      min("value").as("min"),
      max("value").as("max"),
      avg("value").as("mean"),
      stddev_pop("value").as("stddev"),
      count(lit(1)).as("pixelCount")
    )
    // Exact discrete median without sorting raw pixels through one
    // task: count per DISTINCT value (partial-agg shuffle), then a
    // cumulative-count window over the distinct values only — the
    // single-task window input is bounded by value cardinality, not
    // pixel count. Middle positions come from a broadcast total.
    val counts = v.groupBy(col("value")).agg(count(lit(1)).as("c"))
    val w = Window
      .orderBy(col("value").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counts
      .withColumn("hi", sum(col("c")).over(w))
      .withColumn("lo", col("hi") - col("c") + 1L)
    val total = v.agg(count(lit(1)).as("n"))
    val median = ranked
      .crossJoin(broadcast(total))
      .filter(
        (col("lo") <= expr("(n + 1) div 2") && expr("(n + 1) div 2") <= col("hi")) ||
          (col("lo") <= expr("(n + 2) div 2") && expr("(n + 2) div 2") <= col("hi"))
      )
      .agg(avg("value").as("median")) // even count → mean of the two middles, ref :414-416
    base.crossJoin(median)
  }

  /** Scale-path stats: same aggregate but `percentile_approx` for the
    * median — no global sort, fully partial-aggregatable, the variant
    * to use when the ROI is billions of pixels. `areaStats` keeps the
    * reference-exact sorted-middle median for correctness parity. */
  def areaStatsApprox(pixels: DataFrame, nodata: Option[Double] = None, accuracy: Int = 10000): DataFrame =
    validPixels(pixels, nodata).agg(
      min("value").as("min"),
      max("value").as("max"),
      avg("value").as("mean"),
      stddev_pop("value").as("stddev"),
      percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("median"),
      count(lit(1)).as("pixelCount")
    )

  /** Global min/max (GDALComputeRasterMinMax shape) — ref
    * `raster_analysis.cpp:105-117`. */
  def minMax(pixels: DataFrame, nodata: Option[Double] = None): DataFrame =
    validPixels(pixels, nodata).agg(min("value").as("min"), max("value").as("max"))

  /** Byte rescale (v−min)/(max−min)·255 with equal-min/max guard — ref
    * `tiler.cpp:106-131`. min/max supplied from a prior agg (two-pass,
    * like the reference's warp-then-scale). */
  def rescaleByte(v: Column, mn: Double, mx: Double): Column =
    if (mx - mn <= 0) lit(0)
    else least(lit(255), greatest(lit(0), round((v - mn) / (mx - mn) * 255.0).cast("int")))

  // ---------------------------------------------------------------- volume

  /** Base-plane methods for volume — ref `volume.cpp:63-77`, `323-365`. */
  sealed trait BasePlane
  case object LowestPoint extends BasePlane
  case object AveragePoint extends BasePlane
  case object BestFit extends BasePlane
  final case class FlatPlane(z: Double) extends BasePlane

  /** Least-squares plane fit over perimeter pixels: accumulate the
    * normal-equation sums distributed, solve the 3×3 system on the
    * driver — ref `volume.cpp:95-126`. Returns (a, b, c) for
    * z = a·x + b·y + c. */
  def fitPlane(perimeter: DataFrame): (Double, Double, Double) = {
    val x = col("x").cast("double")
    val y = col("y").cast("double")
    val r = perimeter
      .agg(
        sum(x * x).as("sxx"),
        sum(x * y).as("sxy"),
        sum(x).as("sx"),
        sum(y * y).as("syy"),
        sum(y).as("sy"),
        count(lit(1)).cast("double").as("n"),
        sum(x * col("value")).as("sxz"),
        sum(y * col("value")).as("syz"),
        sum(col("value")).as("sz")
      )
      .head()
    val m = Array(
      Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(6)),
      Array(r.getDouble(1), r.getDouble(3), r.getDouble(4), r.getDouble(7)),
      Array(r.getDouble(2), r.getDouble(4), r.getDouble(5), r.getDouble(8))
    )
    // 3×3 Gaussian elimination (ref volume.cpp:340-365)
    for (i <- 0 until 3) {
      val piv = (i until 3).maxBy(k => math.abs(m(k)(i)))
      val tmp = m(i); m(i) = m(piv); m(piv) = tmp
      for (k <- i + 1 until 3) {
        val f = m(k)(i) / m(i)(i)
        for (j <- i until 4) m(k)(j) -= f * m(i)(j)
      }
    }
    val c = m(2)(3) / m(2)(2)
    val b = (m(1)(3) - m(1)(2) * c) / m(1)(1)
    val a = (m(0)(3) - m(0)(1) * b - m(0)(2) * c) / m(0)(0)
    (a, b, c)
  }

  /** Volume cut/fill: Σ (z − base)·pixelArea split by sign — ref
    * `volume.cpp:380-457`. `perimeter` marks ring pixels for the
    * base-plane estimate. */
  def volume(
      pixels: DataFrame,
      perimeter: DataFrame,
      base: BasePlane,
      pixelArea: Double,
      nodata: Option[Double] = None
  ): DataFrame = {
    val v = validPixels(pixels, nodata)
    val baseZ: Column = base match {
      case LowestPoint => lit(validPixels(perimeter, nodata).agg(min("value")).head().getDouble(0))
      case AveragePoint => lit(validPixels(perimeter, nodata).agg(avg("value")).head().getDouble(0))
      case FlatPlane(z) => lit(z)
      case BestFit =>
        val (a, b, c) = fitPlane(validPixels(perimeter, nodata))
        col("x") * a + col("y") * b + c
    }
    v.withColumn("diff", (col("value") - baseZ) * pixelArea)
      .agg(
        coalesce(sum(when(col("diff") > 0, col("diff"))), lit(0.0)).as("cut"),
        coalesce(abs(sum(when(col("diff") < 0, col("diff")))), lit(0.0)).as("fill"),
        count(lit(1)).cast("double").as("areaPixels")
      )
      .withColumn("volume", col("cut") - col("fill"))
  }

  // --------------------------------------------------------------- profile

  /** Elevation profile: N equispaced samples along a line (clamped to
    * [2, 4096], default 256 — ref `raster_profile.cpp:28-31`), distance
    * accumulated by haversine, nodata → null — ref
    * `raster_profile.cpp:219-266`. Samples generated distributed via
    * `posexplode(sequence(...))`, values joined from the pixel grid. */
  def profile(
      s: SparkSession,
      pixels: DataFrame, // (x, y, value)
      gt: Array[Double], // GDAL geotransform
      lon1: Double,
      lat1: Double,
      lon2: Double,
      lat2: Double,
      samples: Int = 256,
      nodata: Option[Double] = None
  ): DataFrame = {
    import s.implicits._
    val n = math.max(2, math.min(4096, samples))
    val pts = s
      .range(n.toLong)
      .select(col("id").cast("int").as("i"))
      .withColumn("frac", col("i").cast("double") / (n - 1))
      .withColumn("lon", lit(lon1) + (lit(lon2) - lit(lon1)) * col("frac"))
      .withColumn("lat", lit(lat1) + (lit(lat2) - lit(lat1)) * col("frac"))
    val segMeters = Geo.haversine(lon1, lat1, lon2, lat2) / (n - 1)
    val withPix = pts
      .withColumn("px", floor((col("lon") - gt(0)) / gt(1)).cast("int"))
      .withColumn("py", floor((col("lat") - gt(3)) / gt(5)).cast("int"))
      .withColumn("distance", col("i") * segMeters)
    val joined = withPix.join(
      pixels.select(col("x").as("px"), col("y").as("py"), col("value")),
      Seq("px", "py"),
      "left_outer"
    )
    val nulled = nodata
      .map(nd => joined.withColumn("value", when(col("value") === nd, lit(null)).otherwise(col("value"))))
      .getOrElse(joined)
    nulled.select(col("i"), col("lon"), col("lat"), col("distance"), col("value")).orderBy("i")
  }

  // ------------------------------------------------------------- contours

  /** Contour interval resolve + level assignment — ref
    * `contour.cpp:95-116`, `159`: explicit interval or (max−min)/count,
    * levels aligned to the interval grid. Contour *tracing* is a GDAL
    * algorithm, out of relational scope (SURVEY §2.7); level
    * classification of pixels is the relational part. */
  def contourLevels(mn: Double, mx: Double, interval: Option[Double], count: Int = 10): Seq[Double] = {
    val iv = interval.getOrElse((mx - mn) / count)
    if (iv <= 0) Seq.empty
    else {
      val start = math.ceil(mn / iv) * iv
      Iterator.iterate(start)(_ + iv).takeWhile(_ <= mx).toSeq
    }
  }
}
