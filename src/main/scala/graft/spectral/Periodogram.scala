package graft.spectral

import graft.core.TimeseriesFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spectral density — the Spark re-expression of the reference's
  * `periodogram` / `periodogram_nonequispaced`
  * (`orangecontrib/timeseries/functions.py:76-174`).
  *
  * The equispaced path is a distributed DFT: the (tiny) frequency grid is
  * cross-joined against the series and each frequency's `Σ x·cos / Σ x·sin`
  * is one hash-aggregate group — embarrassingly parallel in both rows and
  * frequencies, no FFT needed because the reference only consumes the
  * one-sided density for peak-picking. Lomb–Scargle uses the same shape
  * with the 5-sum tau-shift identity, so it is a single pass as well.
  */
object Periodogram {

  /** Detrend per `_detrend` (`functions.py:52-60`): 'diff' (default),
    * 'constant', 'linear', 'quadratic', 'cubic' — the polynomial orders
    * are statsmodels `tsa.detrend(x, order)` vs the positional index. */
  def detrended(tsf: TimeseriesFrame, xCol: String, method: String): DataFrame = {
    val x = col(xCol).cast("double")
    method match {
      case "diff" =>
        val w = tsf.window
        tsf.df.select((x - lag(x, 1).over(w)).as("xd"),
          (row_number().over(w) - 2).cast("double").as("i"))
          .filter(col("xd").isNotNull)
      case "constant" =>
        val w = tsf.window
        val mu = tsf.df.agg(avg(x)).head().getDouble(0)
        tsf.df.select((x - mu).as("xd"),
          (row_number().over(w) - 1).cast("double").as("i"))
      case "linear" =>
        val w = tsf.window
        val idx = tsf.df.select(x.as("x"),
          (row_number().over(w) - 1).cast("double").as("i"))
        val fit = idx.agg(regr_slope(col("x"), col("i")).as("k"),
          regr_intercept(col("x"), col("i")).as("c")).head()
        val (k, c) = (fit.getDouble(0), fit.getDouble(1))
        idx.select((col("x") - (col("i") * k + c)).as("xd"), col("i"))
      case "quadratic" | "cubic" =>
        val w = tsf.window
        val idx = tsf.df.select(x.as("x"),
          (row_number().over(w) - 1).cast("double").as("i"))
        val order = if (method == "quadratic") 2 else 3
        idx.select(polyResidual(idx, col("x"), col("i"), order).as("xd"), col("i"))
      case m => throw new IllegalArgumentException(s"unknown detrend: $m")
    }
  }

  /** Residual of a least-squares polynomial fit of `x` on the 0-based
    * index `i` — statsmodels `tsa.detrend(x, order)` for order ≥ 2. The
    * index is affinely mapped to s∈[−1,1] before forming the normal
    * equations (same column space → identical fitted values; raw index
    * powers up to i⁶ would be hopelessly ill-conditioned), the (order+1)²
    * moment system is one map-side-combined aggregate, and the solve is a
    * driver-side Breeze LU on a ≤4×4 matrix. */
  private def polyResidual(df: DataFrame, x: Column, i: Column, order: Int): Column = {
    val n = df.count()
    require(n > order, s"polynomial detrend of order $order needs > $order rows")
    val scale = if (n > 1) (n - 1).toDouble else 1.0
    val s = i * lit(2.0 / scale) - lit(1.0)
    val momentCols = (0 to 2 * order).map(k => sum(pow(s, k)).as(s"m$k")) ++
      (0 to order).map(k => sum(x * pow(s, k)).as(s"c$k"))
    val r = df.agg(momentCols.head, momentCols.tail: _*).head()
    val a = breeze.linalg.DenseMatrix.tabulate(order + 1, order + 1)(
      (j, k) => r.getDouble(j + k))
    val c = breeze.linalg.DenseVector.tabulate(order + 1)(
      j => r.getDouble(2 * order + 1 + j))
    val b = a \ c
    x - (0 to order).map(k => pow(s, k) * b(k)).reduce(_ + _)
  }

  /** Per-key polynomial detrend residual (order 2 | 3) — the grouped twin
    * of [[polyResidual]], closing the README "polynomial detrend is
    * single-series" gap. Same conditioning trick (index affinely mapped
    * to s∈[−1,1] PER KEY); the (order+1)² moment system is one
    * map-side-combined aggregate per key, the ≤4×4 solves run on the
    * executors over the one-row-per-key moment frame (Breeze LU — no
    * driver collect), and the coefficients hash-join back on the keys.
    * Series with ≤ order rows (or an exactly singular system) keep their
    * values unchanged — the grouped degenerate-series rule used across
    * this library. Input needs `x` and a per-key 0-based index `i`;
    * output appends `__s` and the residual `__resid`. */
  private def polyDetrendByKey(df: DataFrame, keys: Seq[String],
      order: Int): DataFrame = {
    val keyCols = keys.map(col)
    val part = Window.partitionBy(keyCols: _*)
    val n = count(lit(1)).over(part)
    val s = when(n > 1, col("i") * 2.0 / (n - lit(1.0)) - 1.0).otherwise(lit(0.0))
    val withS = df.withColumn("__s", s)
    val momentCols = (0 to 2 * order).map(k => sum(pow(col("__s"), k)).as(s"m$k")) ++
      (0 to order).map(k => sum(col("x") * pow(col("__s"), k)).as(s"c$k"))
    val moments = withS.groupBy(keyCols: _*)
      .agg(momentCols.head, momentCols.tail: _*)
    val nk = keys.size
    val coefSchema = org.apache.spark.sql.types.StructType(
      keys.map(kn => moments.schema(kn)) ++ (0 to order).map(k =>
        org.apache.spark.sql.types.StructField(s"__b$k",
          org.apache.spark.sql.types.DoubleType)))
    val coefRdd = moments.rdd.map { r =>
      val zeros = Array.fill[Any](order + 1)(0.0)
      val bs =
        if (r.getDouble(nk) <= order) zeros // m0 = row count ≤ order
        else try {
          val a = breeze.linalg.DenseMatrix.tabulate(order + 1, order + 1)(
            (j, k) => r.getDouble(nk + j + k))
          val c = breeze.linalg.DenseVector.tabulate(order + 1)(
            j => r.getDouble(nk + 2 * order + 1 + j))
          (a \ c).toArray.map(x => x: Any)
        } catch { case _: breeze.linalg.MatrixSingularException => zeros }
      org.apache.spark.sql.Row.fromSeq((0 until nk).map(r.get) ++ bs)
    }
    val coefs = df.sparkSession.createDataFrame(coefRdd, coefSchema)
    withS.join(coefs, keys)
      .withColumn("__resid", col("x") -
        (0 to order).map(k => pow(col("__s"), k) * col(s"__b$k")).reduce(_ + _))
      .drop((0 to order).map(k => s"__b$k"): _*)
  }

  /** Min-max scale + `order`-neighborhood local maxima over the period axis
    * (`_significant_periods`, `functions.py:63-73`) — all window
    * expressions over the (small) spectrum frame. With `keys` nonempty the
    * windows partition per series, so every series scales and peak-picks
    * independently and in parallel. */
  private def scaleAndPeaks(spec: DataFrame, order: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val wAll =
      if (keys.isEmpty)
        Window.orderBy(col("period")).rowsBetween(Long.MinValue, Long.MaxValue)
      else Window.partitionBy(keyCols: _*)
    val scaled = spec.withColumn("pgram",
      (col("power") - min(col("power")).over(wAll)) /
        (max(col("power")).over(wAll) - min(col("power")).over(wAll)))
    val wOrd =
      if (keys.isEmpty) Window.orderBy(col("period"))
      else Window.partitionBy(keyCols: _*).orderBy(col("period"))
    val neighbors = (1 to order).flatMap(k =>
      Seq(lag(col("pgram"), k).over(wOrd), lead(col("pgram"), k).over(wOrd)))
    val isPeak = neighbors.map(nb => nb.isNull || col("pgram") > nb).reduce(_ && _) &&
      lag(col("pgram"), 1).over(wOrd).isNotNull &&
      lead(col("pgram"), 1).over(wOrd).isNotNull
    scaled.withColumn("__peak", isPeak)
      .filter(col("__peak"))
      .select(keyCols :+ col("period") :+ col("pgram"): _*)
  }

  /** Equispaced periodogram (scipy.signal.periodogram semantics: one-sided
    * density, fs=1, boxcar): returns (period, pgram) rows — scaled to [0,1]
    * with only `order=5` local maxima kept, periods ascending. */
  def periodogram(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame =
    scaleAndPeaks(spectrum(tsf, xCol, detrend), order = 5)

  /** The full (unscaled) one-sided spectrum (period, power) — exposed for
    * differential testing; [[periodogram]] adds the reference's scaling and
    * peak extraction. */
  def spectrum(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame = {
    val spark = tsf.df.sparkSession
    // the detrend index comes from a single-partition window; without an
    // explicit repartition the DFT cross join + partial aggregation would
    // inherit that ONE partition and run single-threaded. Lazy
    // localCheckpoint so the sizing count() below and the DFT aggregate
    // share ONE execution of that window (ContextCleaner frees the blocks
    // when the plan is dropped).
    val xd = detrended(tsf, xCol, detrend).select(col("xd"), col("i"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(false)
    val m = xd.count().toInt
    val half = m / 2
    // HACK preserved from the reference: drop the first len//1000 bins
    val skip = m / 1000
    // k=0 (period = ∞) is a border bin the reference's peak-picker can
    // never select; excluded here (ANSI division) — documented deviation:
    // the min-max scale omits the DC bin.
    val freqs = spark.range(math.max(skip, 1), half + 1)
      .select(col("id").cast("int").as("k"))
    val joined = xd.crossJoin(freqs)
    val theta = lit(2.0 * math.Pi) * col("k") * col("i") / m
    // one-sided density doubling: all bins except DC and (even-m) Nyquist
    val noDouble =
      if (m % 2 == 0) col("k") === 0 || col("k") === half else col("k") === 0
    val spec = joined
      .groupBy(col("k"))
      .agg(sum(col("xd") * cos(theta)).as("re"), sum(col("xd") * sin(theta)).as("im"))
      .select(col("k"),
        ((col("re") * col("re") + col("im") * col("im")) / m *
          when(noDouble, 1.0).otherwise(2.0)).as("power"))
      .select((lit(m.toDouble) / col("k").cast("double")).as("period"), col("power"))
    spec
  }

  /** Grouped per-series periodogram — the horizontal scale path the
    * reference (single-series, `functions.py:76-107`) lacks, mirroring
    * `acfByKey`/`seasonalDecomposeByKey`: every window and aggregate
    * partitions by `seriesKeys`, each series gets its OWN frequency grid
    * (`max(m/1000,1) .. m/2` from its own length), and the per-key DFT is
    * an `explode` into (row, k) contributions feeding one map-side-combined
    * hash aggregate — no single-partition stage anywhere, so the plan is
    * shuffle-parallel in both series and frequencies. Peaks via the keyed
    * [[scaleAndPeaks]]. Per-key detrends: 'diff' | 'constant' | 'linear'
    * (polynomial orders need a per-key dense solve — single-series only,
    * see README "Known gaps"). */
  def periodogramByKey(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame =
    scaleAndPeaks(spectrumByKey(tsf, xCol, detrend), order = 5, tsf.seriesKeys)

  /** The full (unscaled) per-series one-sided spectrum
    * (keys..., period, power) — [[periodogramByKey]] minus scaling/peaks;
    * exposed for differential testing and the hash gate. */
  def spectrumByKey(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame = {
    require(tsf.seriesKeys.nonEmpty, "spectrumByKey needs seriesKeys")
    val keys = tsf.seriesKeys
    val keyCols = keys.map(col)
    val w = tsf.window // partitioned per series
    val part = Window.partitionBy(keyCols: _*)
    val x = col(xCol).cast("double")
    val xd: DataFrame = detrend match {
      case "diff" =>
        tsf.df.select(keyCols :+ (x - lag(x, 1).over(w)).as("xd") :+
          (row_number().over(w) - 2).cast("double").as("i"): _*)
          .filter(col("xd").isNotNull)
      case "constant" =>
        tsf.df.select(keyCols :+ (x - avg(x).over(part)).as("xd") :+
          (row_number().over(w) - 1).cast("double").as("i"): _*)
      case "linear" =>
        val idx = tsf.df.select(keyCols :+ x.as("x") :+
          (row_number().over(w) - 1).cast("double").as("i"): _*)
        val k = regr_slope(col("x"), col("i")).over(part)
        val c = regr_intercept(col("x"), col("i")).over(part)
        idx.select(keyCols :+ (col("x") - (col("i") * k + c)).as("xd") :+
          col("i"): _*)
      case "quadratic" | "cubic" =>
        val order = if (detrend == "quadratic") 2 else 3
        val idx = tsf.df.select(keyCols :+ x.as("x") :+
          (row_number().over(w) - 1).cast("double").as("i"): _*)
        polyDetrendByKey(idx, keys, order)
          .select(keyCols :+ col("__resid").as("xd") :+ col("i"): _*)
      case m => throw new IllegalArgumentException(
        s"grouped detrend supports diff|constant|linear|quadratic|cubic, got: $m")
    }
    val withM = xd.withColumn("__m", count(lit(1)).over(part))
    // per-series frequency grid: k in [max(m/1000, 1), m/2]; an empty grid
    // (m < 2) must yield an empty array — sequence() counts DOWN otherwise
    val lo = greatest(floor(col("__m") / 1000).cast("int"), lit(1))
    val hi = floor(col("__m") / 2).cast("int")
    val ks = when(lo <= hi, sequence(lo, hi))
      .otherwise(array().cast("array<int>"))
    val theta = lit(2.0 * math.Pi) * col("__k") * col("i") / col("__m")
    withM
      .withColumn("__k", explode(ks))
      .groupBy(keyCols :+ col("__k"): _*)
      .agg(sum(col("xd") * cos(theta)).as("__re"),
        sum(col("xd") * sin(theta)).as("__im"),
        max(col("__m")).as("__mm"))
      .select(keyCols ++ Seq(
        (col("__mm").cast("double") / col("__k")).as("period"),
        ((col("__re") * col("__re") + col("__im") * col("__im")) / col("__mm") *
          when(col("__k") === (col("__mm") / 2).cast("int") && col("__mm") % 2 === 0,
            1.0).otherwise(2.0)).as("power")): _*)
  }

  /** Executor-side detrend for the FFT path — the same residual math as
    * [[detrended]]/[[polyDetrendByKey]] on a gathered series: 'diff'
    * drops the first point; index fits use the s∈[−1,1] affine map and a
    * local Breeze solve; series with ≤ order rows pass through unchanged
    * (the grouped degenerate-series rule). */
  private def detrendLocal(x: Array[Double], method: String): Array[Double] =
    method match {
      case "diff" =>
        if (x.length < 2) Array.empty
        else Array.tabulate(x.length - 1)(j => x(j + 1) - x(j))
      case "constant" =>
        val mu = x.sum / x.length
        x.map(_ - mu)
      case "linear" | "quadratic" | "cubic" =>
        val order = method match {
          case "linear" => 1; case "quadratic" => 2; case _ => 3
        }
        val n = x.length
        if (n <= order) x.clone()
        else {
          val scale = if (n > 1) 2.0 / (n - 1) else 0.0
          val s = Array.tabulate(n)(i => i * scale - 1.0)
          val mom = new Array[Double](2 * order + 1)
          val rhs = new Array[Double](order + 1)
          var i = 0
          while (i < n) {
            var p = 1.0
            var k = 0
            while (k <= 2 * order) {
              mom(k) += p
              if (k <= order) rhs(k) += x(i) * p
              p *= s(i); k += 1
            }
            i += 1
          }
          val a = breeze.linalg.DenseMatrix.tabulate(order + 1, order + 1)(
            (j, k) => mom(j + k))
          val c = breeze.linalg.DenseVector(rhs)
          val b =
            try (a \ c).toArray
            catch { case _: breeze.linalg.MatrixSingularException =>
              new Array[Double](order + 1) }
          Array.tabulate(n) { j =>
            var fit = 0.0; var p = 1.0; var k = 0
            while (k <= order) { fit += b(k) * p; p *= s(j); k += 1 }
            x(j) - fit
          }
        }
      case m => throw new IllegalArgumentException(s"unknown detrend: $m")
    }

  /** Executor-side FFT twin of [[spectrumByKey]] — the LONG-series scale
    * path. The explode-DFT form is shuffle-parallel in rows and
    * frequencies but inherently O(m²) work per series (m/2 grid points ×
    * m rows each); past a few thousand rows per series the asymptotic,
    * not the parallelism, is the bill. Here each series is gathered in
    * time order (`sort_array` of (time, tiebreak..., x) structs — one
    * map-side-combined shuffle, the [[graft.models.PerSeries]] recipe: at
    * 100 TB each series is small even when the table is not) and
    * transformed with a mixed-radix real FFT (JTransforms, shipped with
    * Spark MLlib) in O(m log m), emitting the identical
    * (keys..., period, power) surface: same per-series grid
    * k ∈ [max(m/1000,1), m/2], same one-sided doubling, same detrends.
    * Differential-spec'd against the explode form; the gate hash-checks
    * it against the DuckDB DFT oracle — cross-engine AND cross-algorithm. */
  def spectrumByKeyFft(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = tsf.df.sparkSession
    // null x rows are dropped BEFORE the gather (a gap series belongs to
    // the interpolation family first; the explode form's null-skipping
    // sums index across gaps, which is not a spectrum either)
    val g = graft.core.SeriesGather.gather(tsf, Seq(xCol), "spectrumByKeyFft",
      dropNulls = true)
    val outSchema = StructType(g.keySchema.fields ++ Seq(
      StructField("period", DoubleType), StructField("power", DoubleType)))
    val xField = g.xField
    // heavyPerSeries = false: the FFT spectrum is a streaming O(n log n)
    // pass, CPU ∝ gathered bytes — AQE's byte sizing is the right
    // balancer and the guard stage would be pure gate-scale overhead
    val outRdd = graft.core.SeriesGather.rows(g, heavyPerSeries = false)
      .flatMap { row =>
      val raw = graft.core.SeriesGather.values(row, xField)
      val xd = detrendLocal(raw, detrend)
      val m = xd.length
      val lo = math.max(m / 1000, 1)
      val hi = m / 2
      if (hi < lo) Iterator.empty
      else {
        val keyVals = graft.core.SeriesGather.keyVals(row)
        // realForwardFull: full complex spectrum in-place over 2m slots —
        // Re[k] = buf(2k), Im[k] = buf(2k+1); power uses Re²+Im², so
        // JTransforms' e^{-iθ} sign convention is immaterial
        val buf = java.util.Arrays.copyOf(xd, 2 * m)
        new org.jtransforms.fft.DoubleFFT_1D(m).realForwardFull(buf)
        (lo to hi).iterator.map { k =>
          val re = buf(2 * k); val im = buf(2 * k + 1)
          val dbl = if (m % 2 == 0 && k == hi) 1.0 else 2.0
          Row.fromSeq(keyVals ++ Seq[Any](m.toDouble / k,
            (re * re + im * im) / m * dbl))
        }
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }

  /** Single-series FFT spectrum — [[spectrumByKeyFft]] under a constant
    * key, for LONG single series where [[spectrum]]'s cross-join DFT is
    * O(m²/2): one gather into one executor task (an m-point series is
    * ~8m bytes — tens of millions of points fit a task comfortably; past
    * that, a single undivisible series is the data's own limit, not the
    * plan's), then the O(m log m) transform. Same grid, doubling, and
    * detrend semantics as [[spectrum]]; differentially pinned in
    * SpectralByKeySpec. */
  def spectrumFft(tsf: TimeseriesFrame, xCol: String,
      detrend: String = "diff"): DataFrame = {
    require(tsf.seriesKeys.isEmpty,
      "spectrumFft is the single-series form; use spectrumByKeyFft with seriesKeys")
    val keyed = tsf.copy(df = tsf.df.withColumn("__k", lit(1)),
      seriesKeys = Seq("__k"))
    spectrumByKeyFft(keyed, xCol, detrend).drop("__k")
  }

  /** Grouped per-series Lomb–Scargle: per-key Δt percentiles build each
    * series its OWN `nPeriods`-point frequency grid, the 5 tau-identity
    * sums are one map-side-combined hash aggregate over the exploded
    * (row, j) contributions, and the tau/power algebra + keyed
    * scale-and-peaks are pure column math — shuffle-parallel in series,
    * rows, and frequencies (the mapPartitions fold of the single-series
    * form is unnecessary here: each key's grid multiplies only its own
    * rows, and partial aggregation bounds the shuffle at
    * keys × nPeriods). */
  def lombScargleByKey(tsf: TimeseriesFrame, xCol: String,
      nPeriods: Int = 200, detrend: String = "linear"): DataFrame =
    scaleAndPeaks(lombSpectrumByKey(tsf, xCol, nPeriods, detrend),
      order = 5, tsf.seriesKeys)

  /** The full per-series Lomb–Scargle spectrum (keys..., period, power) —
    * [[lombScargleByKey]] minus scaling/peaks. */
  def lombSpectrumByKey(tsf: TimeseriesFrame, xCol: String,
      nPeriods: Int = 200, detrend: String = "linear"): DataFrame = {
    require(tsf.seriesKeys.nonEmpty, "lombScargleByKey needs seriesKeys")
    val keys = tsf.seriesKeys
    val keyCols = keys.map(col)
    val tCol = tsf.timeCol.getOrElse(
      throw new IllegalArgumentException("Lomb-Scargle needs a time column"))
    val base = tsf.df.select(keyCols :+ col(tCol).cast("double").as("t") :+
      col(xCol).cast("double").as("x"): _*)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("t"))
    val part = Window.partitionBy(keyCols: _*)
    val series: DataFrame = detrend match {
      case "diff" =>
        base.select(keyCols :+ col("t") :+
          (col("x") - lag(col("x"), 1).over(w)).as("x"): _*)
          .filter(col("x").isNotNull)
      case "constant" =>
        base.select(keyCols :+ col("t") :+
          (col("x") - avg(col("x")).over(part)).as("x"): _*)
      case "linear" =>
        val idx = base.select(keyCols :+ col("t") :+ col("x") :+
          (row_number().over(w) - 1).cast("double").as("i"): _*)
        val k = regr_slope(col("x"), col("i")).over(part)
        val c = regr_intercept(col("x"), col("i")).over(part)
        idx.select(keyCols :+ col("t") :+
          (col("x") - (col("i") * k + c)).as("x"): _*)
      case "quadratic" | "cubic" =>
        val order = if (detrend == "quadratic") 2 else 3
        val idx = base.select(keyCols :+ col("t") :+ col("x") :+
          (row_number().over(w) - 1).cast("double").as("i"): _*)
        polyDetrendByKey(idx, keys, order)
          .select(keyCols :+ col("t") :+ col("__resid").as("x"): _*)
      case m => throw new IllegalArgumentException(
        s"grouped detrend supports diff|constant|linear|quadratic|cubic, got: $m")
    }
    // per-key stats and Δt percentile grid bounds (one row per key)
    val stats = series.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__n"), var_pop(col("x")).as("__v"))
    val pct = base
      .select(keyCols :+ (col("t") - lag(col("t"), 1).over(w)).as("dt"): _*)
      .filter(col("dt").isNotNull)
      .groupBy(keyCols: _*)
      .agg(percentile(col("dt"), lit(0.05)).as("__p5"),
        percentile(col("dt"), lit(0.80)).as("__p80"))
      .select(keyCols :+ col("__p5").as("__plo") :+
        greatest(col("__p5") * 200, col("__p80")).as("__phi"): _*)
    val omega = lit(2.0 * math.Pi) /
      (col("__phi") + (col("__plo") - col("__phi")) * col("__j") / (nPeriods - 1.0))
    val sums = series
      .join(pct, keys)
      .withColumn("__j", explode(sequence(lit(0), lit(nPeriods - 1))))
      .withColumn("__w", omega)
      .groupBy(keyCols :+ col("__j"): _*)
      .agg(max(col("__w")).as("__wv"),
        sum(col("x") * cos(col("__w") * col("t"))).as("__xc"),
        sum(col("x") * sin(col("__w") * col("t"))).as("__xs"),
        sum(cos(col("__w") * col("t")) * cos(col("__w") * col("t"))).as("__cc"),
        sum(sin(col("__w") * col("t")) * sin(col("__w") * col("t"))).as("__ss"),
        sum(sin(col("__w") * col("t")) * cos(col("__w") * col("t"))).as("__cs"))
    val tau2 = atan2(lit(2.0) * col("__cs"), col("__cc") - col("__ss"))
    val cT = cos(tau2 / 2); val sT = sin(tau2 / 2)
    val xcT = cT * col("__xc") + sT * col("__xs")
    val xsT = cT * col("__xs") - sT * col("__xc")
    val ccT = cT * cT * col("__cc") + lit(2.0) * cT * sT * col("__cs") + sT * sT * col("__ss")
    val ssT = sT * sT * col("__cc") - lit(2.0) * cT * sT * col("__cs") + cT * cT * col("__ss")
    sums
      .join(stats, keys)
      .select(keyCols ++ Seq(
        (lit(2.0) * math.Pi / col("__wv")).as("period"),
        ((xcT * xcT / ccT + xsT * xsT / ssT) / 2.0 *
          (lit(2.0) / (col("__n") * col("__v")))).as("power")): _*)
  }

  /** Lomb–Scargle for non-equispaced series (`functions.py:109-174`):
    * frequency grid from the 5th/80th percentiles of Δt (`:154-162`),
    * classic tau-shifted power via the 5-sum identity, normalized by
    * `2/(n·var(x))` (`:168-171`), same scale-and-peaks output.
    *
    * Plan shape: ONE single-partition ordering window computes the
    * positional index, the lagged value (for 'diff') and Δt together,
    * is fanned back out and lazily localCheckpointed; the detrend fit,
    * the series stats, and BOTH Δt percentiles then come out of ONE
    * map-side-combined aggregate over it (the 'linear' residual variance
    * via the exact OLS identity var(x) − cov²/var(i)), and the 5-sum
    * fold is the second and final pass over the data. The previous shape
    * paid four actions, including a second full sort just for the Δt
    * percentiles. */
  def lombScargle(tsf: TimeseriesFrame, xCol: String,
      nPeriods: Int = 1000, detrend: String = "linear"): DataFrame = {
    val spark = tsf.df.sparkSession
    val tCol = tsf.timeCol.getOrElse(
      throw new IllegalArgumentException("Lomb-Scargle needs a time column"))
    val base0 = tsf.df.select(col(tCol).cast("double").as("t"),
      col(xCol).cast("double").as("x"))
    val wOrd = Window.orderBy(col("t"))
    val indexed = base0.select(col("t"), col("x"),
      (row_number().over(wOrd) - 1).cast("double").as("i"),
      lag(col("x"), 1).over(wOrd).as("xl"),
      (col("t") - lag(col("t"), 1).over(wOrd)).as("dt"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(false)
    // The Δt percentiles stay in-box `percentile(dt, p)` aggregates —
    // KEPT after a measured r16 A/B rejection of a histogram
    // radix-selection replacement. The in-box Percentile is a
    // TypedImperativeAggregate (interpreted boxed updates + a one-task
    // merge holding every distinct Δt — ~0.4 s of this job's 0.54 s at
    // sf0.1 and a genuine serial ceiling at much larger SFs), and a
    // bit-identical codegen selection (65536→n/4096-bucket histogram +
    // target-bucket collect) was built and measured: back-to-back
    // QueryProf min-of-3 read 1.15 s / 6.6 exec-s for this shape vs
    // 1.57 s / 12.1 exec-s for the selection — the two extra
    // checkpoint passes and jobs cost more than the interpreted
    // aggregate saves at gate scale. Revisit only when a single series'
    // Δt count approaches the one-task merge's memory ceiling.
    val pctCols = Seq(percentile(col("dt"), lit(0.05)).as("p5"),
      percentile(col("dt"), lit(0.80)).as("p80"))
    def aggRow(cols: Seq[Column]) = {
      val all = cols ++ pctCols
      indexed.agg(all.head, all.tail: _*).head()
    }

    // (n, var(detrended x), detrended-x expression over t/x/i/xl, p5, p80);
    // 'diff' drops the first time point (`functions.py:152-153`), the
    // index/poly fits regress on the 0-based position as statsmodels does.
    val (n, variance, resid, periodLow, p80) = detrend match {
      case "diff" =>
        val xd = col("x") - col("xl")
        val r = aggRow(Seq(count(xd), var_pop(xd)))
        (r.getLong(0), r.getDouble(1), xd, r.getDouble(2), r.getDouble(3))
      case "constant" =>
        val r = aggRow(Seq(count(lit(1)), avg(col("x")), var_pop(col("x"))))
        (r.getLong(0), r.getDouble(2), col("x") - r.getDouble(1),
          r.getDouble(3), r.getDouble(4))
      case "linear" =>
        val r = aggRow(Seq(count(lit(1)),
          regr_slope(col("x"), col("i")), regr_intercept(col("x"), col("i")),
          var_pop(col("x")), covar_pop(col("x"), col("i")), var_pop(col("i"))))
        val (k, c) = (r.getDouble(1), r.getDouble(2))
        val vi = r.getDouble(5)
        val v = if (vi > 0) r.getDouble(3) - r.getDouble(4) * r.getDouble(4) / vi
                else r.getDouble(3)
        (r.getLong(0), v, col("x") - (col("i") * k + c),
          r.getDouble(6), r.getDouble(7))
      case "quadratic" | "cubic" =>
        val order = if (detrend == "quadratic") 2 else 3
        val nn = indexed.count() // cheap: reads the checkpoint blocks
        require(nn > order, s"polynomial detrend of order $order needs > $order rows")
        val scale = if (nn > 1) (nn - 1).toDouble else 1.0
        val s = col("i") * lit(2.0 / scale) - lit(1.0)
        val r = aggRow((0 to 2 * order).map(k => sum(pow(s, k))) ++
          (0 to order).map(k => sum(col("x") * pow(s, k))) :+
          sum(col("x") * col("x")))
        val a = breeze.linalg.DenseMatrix.tabulate(order + 1, order + 1)(
          (j, k) => r.getDouble(j + k))
        val cv = breeze.linalg.DenseVector.tabulate(order + 1)(
          j => r.getDouble(2 * order + 1 + j))
        val b = a \ cv
        // residual variance from the same moments: the fit includes a
        // constant term so Σr = 0 and var = Σr²/n with
        // Σr² = Σx² − 2·bᵀc + bᵀM b
        val sse = r.getDouble(3 * order + 2) -
          2.0 * (0 to order).map(k => b(k) * r.getDouble(2 * order + 1 + k)).sum +
          (for (j <- 0 to order; k <- 0 to order)
            yield b(j) * b(k) * r.getDouble(j + k)).sum
        (nn, sse / nn,
          col("x") - (0 to order).map(k => pow(s, k) * b(k)).reduce(_ + _),
          r.getDouble(3 * order + 3), r.getDouble(3 * order + 4))
      case m => throw new IllegalArgumentException(s"unknown detrend: $m")
    }
    val periodHigh = math.max(200 * periodLow, p80)
    val periods = (0 until nPeriods).map(j =>
      periodHigh + (periodLow - periodHigh) * j / (nPeriods - 1.0))
    val omegas: Array[Double] = periods.map(p => 2.0 * math.Pi / p).toArray

    // The 5 tau-identity sums per ω, folded per partition (treeAggregate
    // shape): each task keeps a 200×5 local matrix and loops the frequency
    // grid per row — no 120M-row cross-join materialization, no hash-agg
    // probe per (row, ω). Reads the already-fanned-out checkpoint blocks.
    import spark.implicits._
    val m = omegas.length
    val partials = indexed
      .select(col("t"), resid.as("x"))
      .filter(col("x").isNotNull)
      .mapPartitions { it =>
        val acc = new Array[Double](m * 5)
        while (it.hasNext) {
          val r = it.next()
          val t = r.getDouble(0)
          val x = r.getDouble(1)
          var j = 0
          while (j < m) {
            val w = omegas(j)
            val c = math.cos(w * t)
            val s = math.sin(w * t)
            val o = j * 5
            acc(o) += x * c; acc(o + 1) += x * s
            acc(o + 2) += c * c; acc(o + 3) += s * s; acc(o + 4) += s * c
            j += 1
          }
        }
        Iterator.single(acc)
      }
      .collect()
    val tot = new Array[Double](m * 5)
    partials.foreach { p =>
      var i = 0
      while (i < m * 5) { tot(i) += p(i); i += 1 }
    }
    // tau-shifted power per ω — 200 values, computed on the driver
    val specRows: IndexedSeq[(Double, Double)] = (0 until m).map { j =>
      val o = j * 5
      val (xc, xs, cc, ss, cs) = (tot(o), tot(o + 1), tot(o + 2), tot(o + 3), tot(o + 4))
      val tau2 = math.atan2(2.0 * cs, cc - ss)
      val (cT, sT) = (math.cos(tau2 / 2), math.sin(tau2 / 2))
      val xcTau = cT * xc + sT * xs
      val xsTau = cT * xs - sT * xc
      val ccTau = cT * cT * cc + 2.0 * cT * sT * cs + sT * sT * ss
      val ssTau = sT * sT * cc - 2.0 * cT * sT * cs + cT * cT * ss
      val power = (xcTau * xcTau / ccTau + xsTau * xsTau / ssTau) / 2.0
      Tuple2(2.0 * math.Pi / omegas(j), power * (2.0 / (n * variance)))
    }
    spark.createDataFrame(lombPeaks(specRows)).toDF("period", "pgram")
  }

  /** Scale + 5-neighborhood peak-pick of a driver-resident Lomb–Scargle
    * spectrum, `(period, power)` rows in any order. Same expressions as
    * [[scaleAndPeaks]] (same (p−min)/(max−min) scaling, strict > against
    * the ≤5 lag/lead neighbors with out-of-range neighbors admitted,
    * ascending-period order), evaluated on the driver because the
    * nPeriods-row spectrum is already there: shipping it back through a
    * window costs ~3 jobs per action. Any NaN power yields no peaks, as in
    * the window path (SQL max is NaN, so every scaled value is NaN) and
    * the reference; so does a flat spectrum (max == min). */
  private[spectral] def lombPeaks(
      spec: IndexedSeq[(Double, Double)]): IndexedSeq[(Double, Double)] =
    if (spec.isEmpty || spec.exists(_._2.isNaN)) IndexedSeq.empty
    else {
      val mn = spec.map(_._2).min
      val mx = spec.map(_._2).max
      val asc = spec.sortBy(_._1)
      val g = asc.map { case (_, p) => (p - mn) / (mx - mn) }.toArray
      val nR = g.length
      (1 until nR - 1).filter { i =>
        (1 to 5).forall { k =>
          (i - k < 0 || g(i) > g(i - k)) && (i + k >= nR || g(i) > g(i + k))
        }
      }.map(i => (asc(i)._1, g(i)))
    }

}
