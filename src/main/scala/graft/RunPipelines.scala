package graft

import graft.functions.Pdfs
import graft.ml.TreeEnsembleScorer
import graft.operators.{Domain, Sources}
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig, SdeForecast}
import org.apache.spark.sql.functions._

/** Runnable flagship pipelines (the reference's two driver scripts as CLI
  * entry points). Writes per-iteration metrics + the selected train set to
  * `outDir` as parquet — the S7 sink replacement for the reference's plots.
  *
  * Usage:
  *   run_class.sh graft.RunPipelines bdqa <outDir> [gridN] [iters]
  *   run_class.sh graft.RunPipelines sde  <outDir> [n] [iters]
  */
object RunPipelines {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("bdqa")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-pipelines"
    val spark = GraftSession.local()

    mode match {
      case "bdqa" =>
        // reference main demo: 100x100 grid (default scaled down), 2 features
        val gridN = if (args.length > 2) args(2).toInt else 40
        val iters = if (args.length > 3) args(3).toInt else 10
        val pool = Sources.grid(spark, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), gridN)
          .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
        val scorer = TreeEnsembleScorer(Seq("x1", "x2"), "y", n = 2)
        val cfg = ActiveSamplingConfig(initSize = 100, iterations = iters)
        val (train, metrics) = ActiveSampling.run(spark, pool, scorer, cfg)
        train.write.mode("overwrite").parquet(s"$outDir/bdqa_train")
        spark.createDataFrame(metrics)
          .write.mode("overwrite").parquet(s"$outDir/bdqa_metrics")
        metrics.foreach(m => println(
          f"iter ${m.iter}%2d  mse=${m.mse}%.6f  meanVar=${m.meanVar}%.6f  " +
          f"logPdfErr=${m.logPdfError}%.4f  train=${m.trainSize}  pool=${m.poolSize}"))

      case "sde" =>
        val n = if (args.length > 2) args(2).toInt else 1000
        val iters = if (args.length > 3) args(3).toInt else 5
        // one tree-ensemble member per forecast horizon (the reference's
        // 5-output LSTM head), all scored in one pool pass
        val scorerFor = (lbl: String) =>
          TreeEnsembleScorer((0 until 10).map(i => s"h$i"), lbl, n = 2)
        val (train, metrics) = SdeForecast.run(spark, scorerFor, n = n, iterations = iters)
        train.write.mode("overwrite").parquet(s"$outDir/sde_train")
        metrics.foreach(m => println(
          f"iter ${m.iter}%2d  mae=${m.mae}%.6f  train=${m.trainSize}"))

      case other => sys.error(s"unknown mode '$other' (bdqa | sde)")
    }
    spark.stop()
  }
}
