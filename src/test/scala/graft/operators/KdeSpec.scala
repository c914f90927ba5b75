package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KdeSpec extends SparkSpec {
  import spark.implicits._

  test("KDE of a point mass is the kernel itself") {
    val df = Seq.fill(500)(0.0).toDF("v")
    val r = Kde.fit(df, col("v"), gridSize = 101, bandwidth = Some(0.5),
      bounds = Some((-2.0, 2.0)))
    // peak at grid center = 1/(bw*sqrt(2pi))
    val peak = r.pdf(50)
    assert(math.abs(peak - 1.0 / (0.5 * math.sqrt(2 * math.Pi))) < 1e-9)
    // symmetric
    assert(math.abs(r.pdf(30) - r.pdf(70)) < 1e-12)
  }

  test("binned KDE matches the exact aggregator closely") {
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(3000)(rnd.nextGaussian() * 3 + 1).toDF("v")
    val binned = Kde.fit(df, col("v"), gridSize = 512)
    val exact = Kde.fit(df, col("v"), gridSize = 512, exact = true)
    assert(binned.bandwidth == exact.bandwidth)
    val maxDiff = binned.pdf.zip(exact.pdf).map { case (a, b) => math.abs(a - b) }.max
    val peak = exact.pdf.max
    assert(maxDiff < 0.02 * peak, s"maxDiff=$maxDiff peak=$peak")
  }

  test("exact and binned KDE agree under caller-narrowed bounds (off-grid rows excluded)") {
    // rows far outside the grid must not count toward the normalizing total
    // in EITHER path; before the fix the exact aggregator added their
    // weight while contributing no mass, deflating the density
    val rnd = new scala.util.Random(19)
    val inRange = Seq.fill(1000)(rnd.nextGaussian() * 0.5)
    val farOut = Seq.fill(500)(100.0 + rnd.nextGaussian())
    val df = (inRange ++ farOut).toDF("v")
    val bounds = Some((-3.0, 3.0))
    val binned = Kde.fit(df, col("v"), gridSize = 256, bandwidth = Some(0.3), bounds = bounds)
    val exact = Kde.fit(df, col("v"), gridSize = 256, bandwidth = Some(0.3),
      bounds = bounds, exact = true)
    val maxDiff = binned.pdf.zip(exact.pdf).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 0.02 * exact.pdf.max, s"maxDiff=$maxDiff peak=${exact.pdf.max}")
    // and the density over the grid still integrates to ~1 in the exact path
    val step = exact.step
    val integral = exact.pdf.sum * step
    assert(math.abs(integral - 1.0) < 0.05, s"integral=$integral")
  }

  test("KDE integrates to ~1 (trapz over grid)") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(2000)(rnd.nextGaussian()).toDF("v")
    val r = Kde.fit(df, col("v"), gridSize = 512)
    val gridDf = r.toDF(spark)
    val integral = Integrate.trapz(gridDf, col("grid_x"), col("pdf")).head().getDouble(0)
    assert(math.abs(integral - 1.0) < 0.01, s"integral=$integral")
  }

  test("Scott bandwidth matches sigma*n^(-1/5)") {
    val rnd = new scala.util.Random(3)
    val data = Seq.fill(1000)(rnd.nextGaussian() * 2.0)
    val df = data.toDF("v")
    val bw = Kde.scottBandwidth(df, col("v"))
    val n = data.size
    val mean = data.sum / n
    val sd = math.sqrt(data.map(x => (x - mean) * (x - mean)).sum / n)
    assert(math.abs(bw - sd * math.pow(n, -0.2)) < 1e-9)
  }

  private def assertSameKde(a: KdeResult, b: KdeResult): Unit = {
    assert((a.gridMin, a.gridMax, a.gridSize, a.bandwidth) ==
      (b.gridMin, b.gridMax, b.gridSize, b.bandwidth))
    assert(a.pdf.sameElements(b.pdf))
  }

  test("default bandwidth and bounds are Scott's rule and min/max -/+ 3bw, bit for bit") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(2000)(rnd.nextGaussian() * 1.5 - 0.5).toDF("v")
    val bw = Kde.scottBandwidth(df, col("v"))
    val r = df.agg(min("v"), max("v")).head()
    val given = Kde.fit(df, col("v"), gridSize = 256, bandwidth = Some(bw),
      bounds = Some((r.getDouble(0) - 3 * bw, r.getDouble(1) + 3 * bw)))
    assertSameKde(Kde.fit(df, col("v"), gridSize = 256), given)
  }

  test("NaN and infinite values are ignored by the bandwidth, bounds and density") {
    // dyadic values: every sum is exact, whatever the partitioning
    val clean = Seq(-0.5, 0.0, 0.25, 0.5, 1.0, 1.5, 2.0)
    val dirty = (clean :+ Double.NaN :+ Double.PositiveInfinity).toDF("v")
    val want = Kde.fit(clean.toDF("v"), col("v"), gridSize = 256)
    assert(!want.gridMax.isNaN && want.bandwidth != 1.0)
    assertSameKde(Kde.fit(dirty, col("v"), gridSize = 256), want)
    assert(Kde.scottBandwidth(dirty, col("v")) == want.bandwidth)
  }

  test("weighted KDE shifts mass toward weighted points") {
    val df = (Seq.fill(100)((0.0, 1.0)) ++ Seq.fill(100)((1.0, 3.0))).toDF("v", "w")
    val r = Kde.fit(df, col("v"), col("w"), gridSize = 201, bandwidth = Some(0.1),
      bounds = Some((-0.5, 1.5)))
    val at0 = r.interpolateValue(0.0)
    val at1 = r.interpolateValue(1.0)
    assert(at1 > 2.5 * at0, s"at0=$at0 at1=$at1")
  }

  test("interpolation matches np.interp semantics (clamp at edges)") {
    val r = KdeResult(0.0, 1.0, 2, 1.0, Array(1.0, 3.0))
    val df = Seq(-1.0, 0.0, 0.25, 0.5, 1.0, 2.0).toDF("y")
    val got = df.select(r.interpolate(col("y")).as("p")).as[Double].collect()
    assert(got.sameElements(Array(1.0, 1.0, 1.5, 2.0, 3.0, 3.0)), got.mkString(","))
  }
}
