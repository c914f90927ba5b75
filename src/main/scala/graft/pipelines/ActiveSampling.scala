package graft.pipelines

import graft.functions.Pdfs
import graft.ml.{Acquisition, Scorer, ScorerModel}
import graft.operators.{Kde, KdeResult, Selection}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-iteration convergence metrics — the reference's measurement stage
  * (`BigDataQualityAssessment_ActiveSampling.py:186-219`). */
case class IterationMetrics(iter: Int, mse: Double, meanVar: Double,
                            logPdfError: Double, trainSize: Long, poolSize: Long)

case class ActiveSamplingConfig(
    initSize: Int = 100,
    iterations: Int = 20,
    seed: Long = 42,
    kdeGridSize: Int = 1024,
    kdeBandwidth: Option[Double] = None,
    /** Oracle-parity init sampling: the Efraimidis–Spirakis uniform comes
      * from the 52-bit md5 of `id` (the q26/q54 device) instead of
      * `rand(seed)`, with an id tie-break — every init pick becomes a pure
      * deterministic function of the data, so a SQL engine can replay the
      * WHOLE run (q75). Default false = the seeded-rand production form. */
    portableInitSample: Boolean = false)

/** The flagship pipeline: Bayesian active sampling over a labeled pool —
  * the reference's main driver re-expressed as immutable DataFrame
  * transitions (`BigDataQualityAssessment_ActiveSampling.py:183-278`,
  * SURVEY.md §3.1).
  *
  * Each iteration is a pure function (train, pool, model) → (train', pool',
  * model'): score the pool once, run the three explorers (SE = squared
  * error, US = uncertainty, US-LW = likelihood-weighted uncertainty) as
  * top-1 select-and-moves over the SAME cached scored pool (one scan powers
  * all three — the fusion the reference does by reusing arrays), then refit.
  *
  * Scale notes: the pool is a broadcast anti-join over the caller's `df`,
  * never a copy. Pinned: the init train set; the scored pool, per
  * iteration; each explorer's pick ([[Selection.selectAndMove]]); pool and
  * train every 5th iteration, against union+anti-join lineage growth
  * (SURVEY.md §7). Each selection is TakeOrderedAndProject + a broadcast
  * anti-join, so iteration cost is O(one pool scan).
  */
object ActiveSampling {

  private val LogPdfClip = -6.0   // the reference's log-density floor (:213-214)
  private val CheckpointEvery = 5 // iterations between pool/train pins

  /** df must carry: id (long, unique), feature columns, y (double). `run`
    * does not copy df, yet reads it several times before the pool's first
    * pin (the y-KDE, the init sample, then every pool scan until the 5th
    * iteration), so pin an input that is expensive or nondeterministic to
    * recompute. */
  def run(spark: SparkSession, df: DataFrame, scorer: Scorer,
          cfg: ActiveSamplingConfig = ActiveSamplingConfig()): (DataFrame, Seq[IterationMetrics]) = {
    // stage 1-2: KDE density profile of y → inverse-density weighted init
    // sample (reference :34-56); also the log-pdf error's true density
    val yKde = Kde.fit(df, col("y"), gridSize = cfg.kdeGridSize, bandwidth = cfg.kdeBandwidth)
    val init =
      if (cfg.portableInitSample) {
        // E-S key in the log form: u^(1/w) desc ⇔ ln(u)·(1/w) desc, and
        // 1/w = the clamped density — ln avoids pow underflow (q26 lesson)
        val u = graft.functions.TextOps.portableUniform52(col("id").cast("string"))
        df.withColumn("__es", log(u) * greatest(yKde.interpolate(col("y")), lit(1e-12)))
          .orderBy(desc("__es"), col("id"))
          .limit(cfg.initSize)
          .drop("__es")
      } else {
        val weighted = df.withColumn("__w",
          lit(1.0) / greatest(yKde.interpolate(col("y")), lit(1e-12)))
        Selection.weightedSample(weighted, col("__w"), cfg.initSize, cfg.seed)
          .drop("__w")
      }
    var train = init.withColumn("explorer", lit("init")).localCheckpoint()
    var pool = Selection.removeById(df, train, "id")
    var model: ScorerModel = scorer.fit(train)

    val metrics = (1 to cfg.iterations).map { it =>
      val scored = model.score(pool).cache()

      // 4a: convergence metrics over the full scored pool (reference :186-219)
      val m = scored.agg(
        avg(pow(col("pred") - col("y"), 2)).as("mse"),
        avg(col("var")).as("mvar")).head()
      val predKde = Kde.fit(scored, col("pred"), gridSize = cfg.kdeGridSize,
        bandwidth = cfg.kdeBandwidth,
        bounds = Some((yKde.gridMin, yKde.gridMax)))
      val logPdfErr = logPdfError(yKde, predKde)

      // 4b-4d: three explorers off the same scored scan (reference :222-269)
      val explorers = Seq("se" -> pow(col("pred") - col("y"), 2),
        "us" -> Acquisition.us, "us_lw" -> Acquisition.usLw(predKde))
      val (p3, t3) = explorers.foldLeft((scored, train)) { case ((p, t), (name, score)) =>
        val (p2, t2, _) = Selection.selectAndMove(p, t, score, 1, "id", name, Seq(col("id")))
        (p2, t2)
      }

      val pin = (d: DataFrame) => if (it % CheckpointEvery == 0) d.localCheckpoint() else d
      pool = pin(p3.drop("pred", "var"))
      train = pin(t3.drop("pred", "var"))
      scored.unpersist()

      // 4e: refit on the grown train set (reference :271-273)
      model = scorer.fit(train)

      IterationMetrics(it, m.getDouble(0), m.getDouble(1), logPdfErr,
        train.count(), pool.count())
    }

    (train, metrics)
  }

  /** Trapezoid ∫ |log p_pred − log p_true| dx over the true grid (reference
    * :199-219): each density floors at 1e-300 before `StrictMath.log` (as
    * Spark's `log`) and clips at −6; non-finite points drop before
    * neighbours pair; segments sum in ascending grid order from 0.0. */
  private[pipelines] def logPdfError(trueKde: KdeResult, predKde: KdeResult): Double = {
    def logClip(p: Double) = math.max(LogPdfClip, StrictMath.log(math.max(p, 1e-300)))
    val xs = trueKde.gridX
    val pts = xs.indices.map(i => (xs(i),
        math.abs(logClip(predKde.interpolateValue(xs(i))) - logClip(trueKde.pdf(i)))))
      .filter { case (_, d) => !d.isNaN && !d.isInfinite }
    pts.zip(pts.drop(1)).foldLeft(0.0) { case (s, ((x0, d0), (x1, d1))) =>
      s + (d1 + d0) / 2.0 * (x1 - x0)
    }
  }

  /** Deterministic flagship-loop trace (the q54 oracle gate): runs the REAL
    * active-sampling machinery — inverse-density Efraimidis–Spirakis init
    * sample, then per iteration the three explorer [[Selection.selectAndMove]]
    * top-1 picks (SE / US / US-LW) over the shrinking pool — in the
    * oracle-parity configuration (the q25/q26 convention):
    *
    *   - fixture = the 50×50 grid + synthetic label (the q32 stage-0 set);
    *   - scorer surrogate = closed-form pred/var column expressions (the
    *     tree ensemble is not SQL-replayable; [[AnalyticScorer]] precedent);
    *   - density = a FIXED-parameter Gaussian N(0.5, 0.5) instead of the
    *     refit KDE (the KDE-weighted form stays the flagship `run`,
    *     exercised by unit tests and the entry smoke);
    *   - sampling uniform u = 52-bit md5 of the id (exact in a double on
    *     any engine — the q26 device) instead of rand(seed).
    *
    * Every selection is then a pure deterministic function of the fixture,
    * so DuckDB can replay the full 9-pick trace — init removal included —
    * with a recursive CTE, and any defect in the select-and-move loop
    * (scoring, tie-break, pool bookkeeping) breaks the hash equality.
    * Returns (iter, explorer, selected_id, score). */
  def deterministicTrace(spark: SparkSession, iterations: Int = 3,
                         initK: Int = 100): DataFrame = {
    import graft.operators.{Domain, Sources}
    import spark.implicits._
    def dens(v: Column): Column = {
      val t = (v - lit(0.5)) / lit(0.5)
      exp(lit(-0.5) * (t * t)) / (lit(0.5) * sqrt(lit(2.0) * lit(math.Pi)))
    }
    val pred = Pdfs.syntheticLabel(col("x1") * lit(0.9), col("x2") * lit(0.9))
    val vvar = lit(0.05) + lit(0.3) * (col("x1") * col("x1") + col("x2") * col("x2"))
    val u = graft.functions.TextOps.portableUniform52(col("id").cast("string"))
    val scored = Sources.grid(spark, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
      .select(col("id"), col("y"), pred.as("pred"), vvar.as("var"), u.as("u"))
      .withColumn("se", (col("pred") - col("y")) * (col("pred") - col("y")))
      .withColumn("us", col("var"))
      .withColumn("lw", col("var") / greatest(dens(col("pred")), lit(1e-12)))
      .withColumn("es_key", log(col("u")) * dens(col("y")))
      .localCheckpoint()
    val init = scored.orderBy(desc("es_key"), col("id")).limit(initK)
      .select("id").localCheckpoint()
    var pool = Selection.removeById(scored, init, "id").localCheckpoint()
    var train = scored.join(broadcast(init), Seq("id"))
      .withColumn("explorer", lit("init"))
    val picks = Seq.newBuilder[(Long, String, Long, Double)]
    for (it <- 1 to iterations) {
      for ((nm, sc) <- Seq("se" -> col("se"), "us" -> col("us"),
          "us_lw" -> col("lw"))) {
        val (p2, t2, sel) = Selection.selectAndMove(pool, train, sc, 1, "id",
          nm, Seq(col("id")))
        val r = sel.select(col("id"), sc.as("score")).head()
        picks += ((it.toLong, nm, r.getLong(0), r.getDouble(1)))
        pool = p2; train = t2
      }
    }
    picks.result().toDF("iter", "explorer", "selected_id", "score")
  }
}
