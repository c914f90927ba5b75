package graft.pipelines

import graft.functions.VectorOps
import graft.ml.Scorer
import graft.operators.{Integrate, Kde, Selection, SlidingWindows}
import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-series active-sampling pipeline — the reference's second driver
  * (`SDE_forecast_ActiveSampling.py`, SURVEY.md §3.2): simulate an
  * Ornstein–Uhlenbeck path, min-max scale, sliding-window featurize,
  * POD/SVD project, density-weighted init sample, then iterative top-k
  * augmentation by forecast error.
  */
object SdeForecast {

  /** Euler–Maruyama OU-process simulation (reference `SDE:23-40`):
    * x[i+1] = x[i] + dt*(-(theta*x[i] - mu)/tau) + sigmaHat*sqrt(dt)*xi.
    * A sequential recurrence — generated on the driver (SURVEY.md §2.1 S6:
    * "NOT parallelizable across time"), returned as a (t, y) DataFrame. */
  def simulateOU(spark: SparkSession, n: Int = 1000, dt: Double = 0.001,
                 theta: Double = 0.25, mu: Double = 2.0, tau: Double = 0.5,
                 sigma: Double = 2.0, seed: Long = 10): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val sigmaHat = sigma * math.sqrt(2.0 / tau)
    val xs = new Array[Double](n)
    var x = mu
    var i = 0
    while (i < n) {
      xs(i) = x
      x = x + dt * (-(theta * x - mu) / tau) + sigmaHat * math.sqrt(dt) * rnd.nextGaussian()
      i += 1
    }
    xs.toSeq.zipWithIndex.map { case (v, j) => (j * dt, j.toLong, v) }
      .toDF("t", "idx", "y")
  }

  /** POD: truncated SVD of the stacked [hist ‖ target] window matrix
    * (reference `SDE:90-98`), via mllib RowMatrix (executor-side Gram
    * matrix, driver-side eigensolve — the same split as the reference's
    * LAPACK call). Returns the per-window modal coefficients as array col
    * `coeff` (length nModes). */
  def podCoefficients(windows: DataFrame, nModes: Int = 5): DataFrame = {
    val assembled = windows.select(col("win_id"),
      concat(col("hist"), col("target")).as("v"))
    val rows = assembled.select("v").rdd
      .map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
    val mat = new RowMatrix(rows)
    val svd = mat.computeSVD(nModes, computeU = false)
    val vArr = svd.V.toArray // col-major (nCols x k); tiny — a plan literal
    val nCols = svd.V.numRows
    val k = svd.V.numCols
    // per-mode projection as codegen'd DotProduct expressions (the
    // Pca.project pattern) — no UDF, so Catalyst can prune/codegen through
    val coeffs = array((0 until k).map { m =>
      VectorOps.dot(col("v"), lit(vArr.slice(m * nCols, (m + 1) * nCols)))
    }: _*)
    assembled.withColumn("coeff", coeffs).drop("v")
  }

  /** Density-weighted initial window sample: per mode m, KDE the coefficient,
    * weight by inverse density, E-S sample k windows; union over modes and
    * dedup (reference `SDE:104-149`). */
  def initSample(windows: DataFrame, coeffs: DataFrame, nModes: Int, k: Int,
                 seed: Long): DataFrame = {
    val perMode = (0 until nModes).map { m =>
      val cm = coeffs.select(col("win_id"), col("coeff").getItem(m).as("c"))
      val kde = Kde.fit(cm, col("c"))
      val weighted = cm.withColumn("__w",
        lit(1.0) / greatest(kde.interpolate(col("c")), lit(1e-12)))
      Selection.weightedSample(weighted, col("__w"), k, seed + m).select("win_id")
    }
    val ids = perMode.reduce(_ unionByName _).dropDuplicates("win_id")
    // the reference permutes the initial training windows (`SDE:146-149`);
    // hash-key permutation — deterministic, no range-sort sampling pass
    Selection.shuffleByKey(windows.join(ids, Seq("win_id")), col("win_id"), "init")
  }

  case class SdeIteration(iter: Int, mae: Double, trainSize: Long)

  /** Full pipeline at reference defaults. `scorerFor(labelCol)` builds the
    * member scorer for ONE forecast horizon; run() fits `pred` per-horizon
    * models — the multi-output head of the reference's hist(10) → target(5)
    * LSTM (`SDE_forecast_ActiveSampling.py:57-71`) — and ranks pool windows
    * by the SUMMED per-horizon L1 error (`SDE:220`). All horizon models
    * score in one chained projection pass over the pool (a single scan).
    * Pinned: the windows and the init train set, once; pool and train after
    * each iteration. The pool is never copied at init: until iteration 1's
    * pin it is a broadcast anti-join of the init ids over the windows. */
  def run(spark: SparkSession, scorerFor: String => Scorer, n: Int = 1000,
          history: Int = 10, pred: Int = 5, nModes: Int = 5,
          initK: Int = 100, iterations: Int = 5, batch: Int = 20,
          seed: Long = 10): (DataFrame, Seq[SdeIteration]) = {
    val series = simulateOU(spark, n, seed = seed)
    val scaled = Integrate.minMaxScale(series, col("y"), "ys")
    val windows = SlidingWindows.featurizeByIndex(
      scaled.select(col("idx"), col("ys")), col("idx"), col("ys"),
      history, pred, blockSize = 65536).localCheckpoint()
    val coeffs = podCoefficients(windows, nModes)
    var train = initSample(windows, coeffs, nModes, initK, seed)
      .withColumn("explorer", lit("init")).localCheckpoint()
    var pool = Selection.removeById(windows, train, "win_id")

    // flatten hist features + ALL pred-horizon labels (y0..y{pred-1})
    val flat = (df: DataFrame) => df.select(col("*") +:
      ((0 until history).map(i => col("hist").getItem(i).as(s"h$i")) ++
        (0 until pred).map(h => col("target").getItem(h).as(s"y$h"))): _*)

    val iters = (1 to iterations).map { it =>
      val ft = flat(train)
      val models = (0 until pred).map(h => scorerFor(s"y$h").fit(ft))
      val withPreds = models.zipWithIndex.foldLeft(flat(pool)) { case (d, (m, h)) =>
        m.score(d)
          .withColumnRenamed("pred", s"pred$h")
          .withColumnRenamed("var", s"var$h")
      }
      val l1 = (0 until pred).map(h => abs(col(s"pred$h") - col(s"y$h"))).reduce(_ + _)
      val scored = withPreds.withColumn("err", l1)
        .select("win_id", "hist", "target", "err")
      val (p2, t2, _) = Selection.selectAndMove(scored, train,
        col("err"), batch, "win_id", s"iter$it", Seq(col("win_id")))
      val mae = scored.agg(avg("err")).head().getDouble(0)
      pool = p2.drop("err").localCheckpoint()
      train = t2.localCheckpoint()
      SdeIteration(it, mae, train.count())
    }
    (train, iters)
  }
}
