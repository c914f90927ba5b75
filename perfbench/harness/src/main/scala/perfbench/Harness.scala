package perfbench

import graft.GraftSession
import graft.ml.{Scorer, ScorerModel, TreeEnsembleScorer}
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig, SdeForecast}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: set up the session (several times, for
  * a median), make ONE timed call into a pipeline's public entry point, check
  * the result untimed, and print one raw JSON line (prefixed `PERFBENCH_RAW `)
  * for `perfbench/run.py`, which turns it into metrics.
  *
  * Usage: Harness <workload> <seed> <setups> <spawnEpochMs>
  *        Harness digest <workload> <firstSeed> <lastSeed>
  *
  * The harness lives in package `perfbench`, outside `graft`, so the job
  * attribution in `perfbench/analysis.py` never credits a job to it. */
object Harness {

  /** Workload sizes. `rows` is the pool size for the `as_*` workloads and
    * the series length for `sde_forecast`. */
  final case class Workload(name: String, rows: Long, iterations: Int)

  val workloads: Map[String, Workload] = Seq(
    Workload("as_paper", 10000L, 3),
    Workload("as_large_pool", 1000000L, 2),
    Workload("sde_forecast", 10000L, 1),
  ).map(w => w.name -> w).toMap

  val InitSize = 100
  val PicksPerIter = 3 // the three explorers: se, us, us_lw
  val SdeHistory = 10
  val SdeHorizon = 5
  val SdeModes = 5
  val SdeInitK = 100
  val SdeBatch = 20

  def main(args: Array[String]): Unit =
    if (args(0) == "digest") printDigests(workloads(args(1)), args(2).toLong to args(3).toLong)
    else run(args)

  /** Input digests of the `as_*` pools for a range of seeds, one JSON map. */
  def printDigests(w: Workload, seeds: Seq[Long]): Unit = {
    val spark = GraftSession.local()
    val ds = seeds.map(s => s.toString -> inputDigest(poolInput(spark, w.rows, s)))
    spark.stop()
    println("PERFBENCH_RAW " + json.writeValueAsString(ds.toMap))
  }

  def inputDigest(input: DataFrame): String = {
    val d = input.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("x1"), col("x2"), col("y")))).head()
    f"${d.getLong(0)}%d:${d.getLong(1)}%016x"
  }

  def run(args: Array[String]): Unit = {
    val Array(name, seedArg, setupsArg, spawnArg) = args
    val w = workloads.getOrElse(name, sys.error(s"unknown workload '$name'"))
    val seed = seedArg.toLong
    val spawnMs = spawnArg.toDouble
    val isPool = name.startsWith("as_")

    // --- set-up: session ready and, for as_*, the generated input pinned
    val setups = ArrayBuffer[Double]()
    val sessionStarts = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var input: DataFrame = null
    for (i <- 0 until setupsArg.toInt) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) spawnMs else Clock.nowMs
      val s0 = Clock.nowMs
      spark = GraftSession.local()
      sessionStarts += Clock.nowMs - s0
      if (isPool) input = poolInput(spark, w.rows, seed).localCheckpoint()
      setups += Clock.nowMs - t0
    }

    val rec = new Recorder(spark)
    val gcBefore = gcMs()
    val runStart = Clock.nowMs
    val (train, quality) =
      if (isPool) {
        val scorer = new TimedScorer(TreeEnsembleScorer(Seq("x1", "x2"), "y", n = 2), rec)
        val cfg = ActiveSamplingConfig(initSize = InitSize, iterations = w.iterations,
          seed = seed, portableInitSample = true)
        val (t, ms) = ActiveSampling.run(spark, input, scorer, cfg)
        (t, Left(ms))
      } else {
        val scorerFor = (label: String) => new TimedScorer(
          TreeEnsembleScorer((0 until SdeHistory).map(i => s"h$i"), label, n = 2), rec): Scorer
        val (t, its) = SdeForecast.run(spark, scorerFor, n = w.rows.toInt,
          history = SdeHistory, pred = SdeHorizon, nModes = SdeModes, initK = SdeInitK,
          iterations = w.iterations, batch = SdeBatch, seed = seed)
        (t, Right(its))
      }
    val runEnd = Clock.nowMs
    val gcRun = gcMs() - gcBefore

    // --- untimed: correctness checks and the input digest
    val failures = ArrayBuffer[String]()
    def check(ok: => Boolean, what: String): Unit =
      if (!(try ok catch { case e: Exception => failures += s"$what: $e"; true })) failures += what
    val out = ArrayBuffer[(String, Any)]()
    val idCol = if (isPool) "id" else "win_id"
    val trainRows = train.count()
    check(train.select(idCol).distinct().count() == trainRows, "train ids are distinct")
    rec.lastScored.foreach { case (pool, trainThen) =>
      check(pool.select(idCol).join(trainThen.select(idCol), idCol).isEmpty,
        "no id in both train and the last scored pool")
    }
    quality match {
      case Left(ms) =>
        check(ms.size == w.iterations, "one metrics row per iteration")
        check(trainRows == InitSize + PicksPerIter * w.iterations, "train size = init + 3 per iteration")
        check(ms.forall(m => m.trainSize + m.poolSize == w.rows), "train + pool = input rows on every iteration")
        check(ms.forall(m => Seq(m.mse, m.meanVar, m.logPdfError).forall(isFinite)), "every metric is finite")
        check(train.select("id").join(input.select("id"), Seq("id"), "left_anti").isEmpty,
          "every train id comes from the input")
        out += "input_digest" -> inputDigest(input)
        out += "iterations" -> ms.map(m => Map("iter" -> m.iter, "mse" -> m.mse, "mean_var" -> m.meanVar,
          "log_pdf_err" -> m.logPdfError, "train" -> m.trainSize, "pool" -> m.poolSize))
        out += "scored_rows" -> ms.map(_.poolSize + PicksPerIter).sum
      case Right(its) =>
        val windows = w.rows - SdeHistory - SdeHorizon + 1
        val initRows = train.filter(col("explorer") === "init").count()
        check(its.size == w.iterations, "one metrics row per iteration")
        check(trainRows == initRows + SdeBatch * w.iterations, "train size = init windows + 20 per iteration")
        check(its.map(_.trainSize) == (1 to w.iterations).map(i => initRows + SdeBatch * i),
          "per-iteration train sizes grow by the batch")
        check(its.forall(i => isFinite(i.mae)), "every MAE is finite")
        rec.lastScored.foreach { case (pool, trainThen) =>
          check(pool.count() == windows - its.last.trainSize + SdeBatch, "pool + train = all windows")
          // scale of the mean_quality_err ratio: the in-sample MAE of the
          // naive one-step (persistence) forecast over every window
          out += "naive_mae" -> pool.select("hist").unionByName(trainThen.select("hist"))
            .agg(avg(abs(col("hist").getItem(1) - col("hist").getItem(0)))).head().getDouble(0)
        }
        out += "iterations" -> its.map(i => Map("iter" -> i.iter, "mae" -> i.mae, "train" -> i.trainSize))
        // iteration i scores every window not yet in train
        out += "scored_rows" -> (initRows +: its.map(_.trainSize).init).map(windows - _).sum
    }
    spark.stop()

    out ++= Seq(
      "workload" -> name, "seed" -> seed, "rows" -> w.rows, "n_iterations" -> w.iterations,
      "setups_ms" -> setups.toSeq, "session_start_ms" -> sessionStarts.toSeq,
      "run_start_ms" -> runStart, "run_end_ms" -> runEnd, "gc_ms" -> gcRun,
      "fits" -> rec.fits.toSeq, "scores_ms" -> rec.scores.toSeq,
      "pinned_bytes" -> rec.pinnedBytes.toSeq, "persisted_rdds" -> rec.persisted.toSeq,
      "fits_per_iter" -> (if (isPool) 1 else SdeHorizon),
      "failures" -> failures.toSeq)
    println("PERFBENCH_RAW " + json.writeValueAsString(out.toMap))
  }

  /** The `as_*` pool: the reference's regular grid on [-1,1]² (G×G cells,
    * G = √rows, row-major ids) with each point drawn uniformly inside its
    * cell from a hash of (seed, id), and the label
    * y = x1³ − x1 + x2² + 0.5·sin(8·x1·x2). Stratifying by cell keeps the
    * seed from changing which regions the pool covers, so quality metrics
    * compare across seeds. Written here, not taken from the program, so a
    * program change cannot alter the data. */
  def poolInput(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val g = math.round(math.sqrt(rows.toDouble))
    require(g * g == rows, s"pool size $rows is not a square")
    def jitter(salt: Int) = shiftrightunsigned(
      xxhash64(lit(seed), col("id"), lit(salt)), 11).cast("double") * lit(math.pow(2, -53))
    def coord(cell: Column, salt: Int) = lit(-1.0) + lit(2.0 / g) * (cell.cast("double") + jitter(salt))
    val (x1, x2) = (col("x1"), col("x2"))
    spark.range(rows)
      .select(col("id"), coord(expr(s"id DIV $g"), 1).as("x1"), coord(col("id") % g, 2).as("x2"))
      .withColumn("y", pow(x1, 3) - x1 + pow(x2, 2) + lit(0.5) * sin(lit(8.0) * x1 * x2))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def isFinite(d: Double): Boolean = !d.isNaN && !d.isInfinite

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records what the pipelines do through the [[Scorer]] interface: fit spans
  * (whose returns are the iteration boundaries), score calls, storage samples
  * at each boundary, and the frames the last score saw (for the checks). */
final class Recorder(spark: SparkSession) {
  val fits = ArrayBuffer[(Double, Double)]()
  val scores = ArrayBuffer[Double]()
  val pinnedBytes = ArrayBuffer[Long]()
  val persisted = ArrayBuffer[Int]()
  private var lastFitInput: Option[DataFrame] = None
  /** (pool passed to the last score call, train of the model that scored it) */
  var lastScored: Option[(DataFrame, DataFrame)] = None

  def fitted(start: Double, end: Double, train: DataFrame): Unit = {
    fits += ((start, end))
    lastFitInput = Some(train)
    val sc = spark.sparkContext
    pinnedBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    persisted += sc.getPersistentRDDs.size
  }

  def scored(df: DataFrame): Unit = {
    scores += Clock.nowMs
    lastScored = lastFitInput.map(df -> _)
  }
}

final class TimedScorer(inner: Scorer, rec: Recorder) extends Scorer {
  def fit(train: DataFrame): ScorerModel = {
    val t0 = Clock.nowMs
    val model = inner.fit(train)
    rec.fitted(t0, Clock.nowMs, train)
    new ScorerModel {
      def score(df: DataFrame): DataFrame = { rec.scored(df); model.score(df) }
    }
  }
}
