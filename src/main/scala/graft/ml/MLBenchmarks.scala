package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.clustering.{KMeans, LDA}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.regression.{GeneralizedLinearRegression, LinearRegression}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 9 spark.ml benchmark algorithms (reference `P/mllib` tree,
  * SURVEY §2.11): each = seeded synthetic data, timed Estimator.fit,
  * train/test scoring via an Evaluator
  * (`P/mllib/MLTransformerBenchmarkable.scala:28-89` loop).
  */
case class MLParams(
    numExamples: Long = 10000,
    numFeatures: Int = 10,
    k: Int = 5,
    vocabSize: Int = 50,
    numUsers: Int = 100,
    numItems: Int = 100,
    seed: Long = 42)

case class MLResult(
    name: String,
    trainingTimeMs: Double,
    trainMetric: Double,
    testMetric: Double,
    scoreTimeMs: Double)

trait BenchmarkAlgorithm {
  def name: String
  /** Training set; test set is the same generator at seed+1
    * (reference `P/mllib/BenchmarkAlgorithm.scala:107-112`). */
  def data(spark: SparkSession, params: MLParams, seed: Long): DataFrame
  def fit(df: DataFrame, params: MLParams): Transformer
  def score(model: Transformer, df: DataFrame): Double

  def run(spark: SparkSession, params: MLParams): MLResult = {
    val train = data(spark, params, params.seed).cache()
    val test = data(spark, params, params.seed + 1).cache()
    train.count(); test.count() // materialize before timing
    val t0 = System.nanoTime()
    val model = fit(train, params)
    val fitMs = (System.nanoTime() - t0) / 1e6
    val s0 = System.nanoTime()
    val trainMetric = score(model, train)
    val testMetric = score(model, test)
    val scoreMs = (System.nanoTime() - s0) / 1e6
    train.unpersist(); test.unpersist()
    MLResult(name, fitMs, trainMetric, testMetric, scoreMs)
  }
}

object MLBenchmarks {

  sealed trait Classification extends BenchmarkAlgorithm {
    def data(spark: SparkSession, p: MLParams, seed: Long): DataFrame =
      MLData.classification(spark, p.numExamples, p.numFeatures, seed)
    def score(model: Transformer, df: DataFrame): Double =
      new MulticlassClassificationEvaluator().setMetricName("accuracy")
        .evaluate(model.transform(df))
  }

  sealed trait Regression extends BenchmarkAlgorithm {
    def data(spark: SparkSession, p: MLParams, seed: Long): DataFrame =
      MLData.regression(spark, p.numExamples, p.numFeatures, seed)
    def score(model: Transformer, df: DataFrame): Double =
      new RegressionEvaluator().setMetricName("r2").evaluate(model.transform(df))
  }

  object LogisticRegressionBenchmark extends Classification {
    val name = "LogisticRegression"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new LogisticRegression().setMaxIter(20).fit(df)
    override def score(model: Transformer, df: DataFrame): Double =
      new BinaryClassificationEvaluator().setMetricName("areaUnderROC")
        .evaluate(model.transform(df))
  }

  object DecisionTreeBenchmark extends Classification {
    val name = "DecisionTreeClassification"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new DecisionTreeClassifier().setMaxDepth(8).setSeed(p.seed).fit(df)
  }

  object RandomForestBenchmark extends Classification {
    val name = "RandomForestClassification"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new RandomForestClassifier().setNumTrees(10).setMaxDepth(6).setSeed(p.seed).fit(df)
  }

  object GBTBenchmark extends Classification {
    val name = "GBTClassification"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new GBTClassifier().setMaxIter(10).setMaxDepth(4).setSeed(p.seed).fit(df)
  }

  object LinearRegressionBenchmark extends Regression {
    val name = "LinearRegression"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new LinearRegression().setMaxIter(20).fit(df)
  }

  object GLMBenchmark extends Regression {
    val name = "GLMRegression"
    def fit(df: DataFrame, p: MLParams): Transformer =
      new GeneralizedLinearRegression().setFamily("gaussian").setMaxIter(20).fit(df)
  }

  object KMeansBenchmark extends BenchmarkAlgorithm {
    val name = "KMeans"
    def data(spark: SparkSession, p: MLParams, seed: Long): DataFrame =
      MLData.clustering(spark, p.numExamples, p.numFeatures, p.k, seed)
    def fit(df: DataFrame, p: MLParams): Transformer =
      new KMeans().setK(p.k).setSeed(p.seed).fit(df)
    def score(model: Transformer, df: DataFrame): Double =
      new org.apache.spark.ml.evaluation.ClusteringEvaluator()
        .evaluate(model.transform(df))
  }

  object LDABenchmark extends BenchmarkAlgorithm {
    val name = "LDA"
    def data(spark: SparkSession, p: MLParams, seed: Long): DataFrame =
      MLData.corpus(spark, p.numExamples, p.vocabSize, p.k, seed)
    def fit(df: DataFrame, p: MLParams): Transformer =
      new LDA().setK(p.k).setMaxIter(5).setSeed(p.seed).fit(df)
    def score(model: Transformer, df: DataFrame): Double =
      model.asInstanceOf[org.apache.spark.ml.clustering.LDAModel].logPerplexity(df)
  }

  object ALSBenchmark extends BenchmarkAlgorithm {
    val name = "ALS"
    def data(spark: SparkSession, p: MLParams, seed: Long): DataFrame =
      MLData.ratings(spark, p.numUsers, p.numItems, p.numExamples, seed)
    def fit(df: DataFrame, p: MLParams): Transformer =
      new ALS().setMaxIter(5).setRank(4).setSeed(p.seed)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setColdStartStrategy("drop").fit(df)
    def score(model: Transformer, df: DataFrame): Double =
      new RegressionEvaluator().setMetricName("rmse")
        .setLabelCol("rating").setPredictionCol("prediction")
        .evaluate(model.transform(df))
  }

  val all: Seq[BenchmarkAlgorithm] = Seq(
    LogisticRegressionBenchmark, DecisionTreeBenchmark, RandomForestBenchmark,
    GBTBenchmark, LinearRegressionBenchmark, GLMBenchmark,
    KMeansBenchmark, LDABenchmark, ALSBenchmark)
}

object MLBenchmarksRunner {

  /** One experiment cell as a free-form benchmarkable: timed fit+score
    * flowing through the standard experiment/results machinery. */
  def cell(spark: org.apache.spark.sql.SparkSession, algoName: String,
      params: MLParams, label: String): graft.core.FreeformQuery = {
    val algo = MLBenchmarks.all.find(_.name == algoName).getOrElse(
      sys.error(s"unknown ML algorithm: $algoName " +
        s"(known: ${MLBenchmarks.all.map(_.name).mkString(", ")})"))
    new graft.core.FreeformQuery(label, s"$algoName $params",
      prepare = () => (),
      runBody = () => Some(algo.run(spark, params).testMetric))
  }

  /** Run a YAML config: the cartesian cells each become a FreeformQuery
    * and the whole set runs as one experiment into the JSON results
    * sink (reference yaml.scala + SparkPerfResults flow). */
  def runConfig(spark: org.apache.spark.sql.SparkSession,
      config: MLYaml.Config): graft.core.Benchmark#ExperimentStatus = {
    val queries = config.experiments.zipWithIndex.map { case ((name, p), i) =>
      cell(spark, name, p, f"$name%s#$i%03d")
    }
    val bench = new graft.core.Benchmark(spark, config.output)
    val exp = bench.runExperiment(queries,
      iterations = config.iterations,
      tags = Map("benchmark" -> "mllib-yaml"),
      timeoutMs = config.timeoutSeconds * 1000L)
    exp
  }
}

/** CLI: `--config <yaml>` runs the cartesian experiment grid through
  * the results sink; with no config, runs all (optionally filtered)
  * algorithms once at default params, one JSON line per result. */
object RunMLBenchmark {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    args.toSeq match {
      case Seq("--config", path, rest @ _*) =>
        val config = MLYaml.parseFile(path)
        val exp = MLBenchmarksRunner.runConfig(spark, config)
        // timeoutSeconds bounds ONE grid cell; the total wait must cover
        // the whole cartesian grid or a healthy long experiment throws
        // TimeoutException before the results path is printed
        val totalWait = (config.timeoutSeconds.toLong *
          math.max(1, config.experiments.size) * math.max(1, config.iterations))
          .min(Int.MaxValue).toInt
        exp.waitForFinish(rest.headOption.map(_.toInt).getOrElse(totalWait))
        println(s"results written to ${exp.resultPath}; ${exp.failures} failures")
        exp.summarize().show(200, truncate = false)
      case other =>
        val filter = other.headOption.getOrElse("")
        val params = MLParams()
        MLBenchmarks.all.filter(_.name.contains(filter)).foreach { algo =>
          val r = algo.run(spark, params)
          println(f"""{"algorithm":"${r.name}","trainMs":${r.trainingTimeMs}%.1f,""" +
            f""""trainMetric":${r.trainMetric}%.4f,"testMetric":${r.testMetric}%.4f}""")
        }
    }
    spark.stop()
  }
}
