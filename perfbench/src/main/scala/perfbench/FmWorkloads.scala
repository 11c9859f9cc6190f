package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.InternalCaches
import graft.fm.{FactorizationMachinesModel, FactorizationMachinesSGD, SamplePipeline}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.FMRegressor
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Seeded generators of FM inputs. Every value derives from the run
  * seed, so one seed always yields the same inputs. */
object FmData {
  /** Standard gaussian fully determined by (seed, a, b). */
  def gauss(seed: Long, a: Long, b: Long): Double =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ a * 0xBF58476D1CE4E5B9L ^ b)
      .nextGaussian()

  /** Rank in [0, vocab) with probability proportional to 1/(rank+1). */
  def skewedRank(rnd: SplittableRandom, vocab: Int): Int =
    math.min(vocab - 1, (math.exp(rnd.nextDouble() * math.log(vocab + 1.0)) - 1).toInt)

  /** Size of the MovieLens ml-latest-small movie-id pool (BASELINE.md). */
  val moviePool = 164979

  /** MovieLens-shaped ratings: ~150 distinct movies per user drawn by
    * skewed popularity from the movie pool (ids 1 to moviePool - 1), and
    * ratings of 3.5 plus a user bias, a movie bias and noise, rounded to
    * the 0.5 grid and clipped to [0.5, 5]. */
  def ratings(seed: Long, users: Int): Seq[(Int, Int, Double)] = {
    val rnd = new SplittableRandom(seed)
    (1 to users).flatMap { u =>
      val userBias = gauss(seed, 1, u)
      val n = 120 + rnd.nextInt(61)
      val movies = mutable.LinkedHashSet.empty[Int]
      while (movies.size < n) {
        val rank = skewedRank(rnd, moviePool - 1)
        movies += 1 + Math.floorMod(rank * 0x2545F491L + seed, (moviePool - 1).toLong).toInt
      }
      movies.toSeq.map { m =>
        val r = 3.5 + userBias + 0.5 * gauss(seed, 2, m) + 0.4 * rnd.nextGaussian()
        (u, m, math.min(5.0, math.max(0.5, math.rint(r * 2) / 2)))
      }
    }
  }

  /** Row `i` of the hashed input: `nnz` active features, each with
    * probability 1/4 a popular one (a rank drawn with probability
    * proportional to 1/(rank+1) from a vocabulary of `vocab` values) and
    * otherwise one of the long tail (a rank drawn uniformly from the
    * vocabulary), spread over [0, Int.MaxValue - 1) by a seeded hash. The
    * tail makes the parameter table grow with the input, as hashed
    * features do. Labels come from a planted FM teacher (bias, weights and
    * rank-4 factors derived from the seed) whose weights shrink with a
    * feature's popularity rank, so most of the signal sits in features
    * that a few iterations see often and the loss can fall. A row depends
    * only on (seed, i), so executors can generate the input in parallel.
    * Columns: rowId, label, features (size Int.MaxValue). */
  def hashedRow(seed: Long, i: Long, nnz: Int, vocab: Int): Row = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ i * 0xBF58476D1CE4E5B9L ^
      0x5DEECE66DL)
    val teacherK = 4
    def featureId(rank: Int): Int =
      Math.floorMod(new SplittableRandom(seed ^ rank.toLong * 0x9E3779B97F4A7C15L)
        .nextLong(), (Int.MaxValue - 1).toLong).toInt
    val byId = mutable.LinkedHashMap.empty[Int, Int]
    while (byId.size < nnz) {
      val rank = if (rnd.nextInt(4) == 0) skewedRank(rnd, vocab) else rnd.nextInt(vocab)
      byId.getOrElseUpdate(featureId(rank), rank)
    }
    val ranks = byId.values.toSeq
    def scale(r: Int) = 1.0 / math.sqrt(1.0 + r / 50.0)
    val linear = ranks.map(r => 0.6 * scale(r) * gauss(seed, 3, r)).sum
    val factors = ranks.map(r =>
      Array.tabulate(teacherK)(f => 0.3 * scale(r) * gauss(seed, 4 + f, r)))
    val sum = Array.tabulate(teacherK)(f => factors.map(_(f)).sum)
    val pairwise = 0.5 * (0 until teacherK).map { f =>
      sum(f) * sum(f) - factors.map(v => v(f) * v(f)).sum
    }.sum
    val label = 1.0 + linear + pairwise + 0.1 * rnd.nextGaussian()
    Row(i, label, Vectors.sparse(Int.MaxValue, byId.keys.toSeq.map(_ -> 1.0)))
  }

  val hashedSchema: StructType = StructType(Seq(
    StructField("rowId", LongType, nullable = false),
    StructField("label", DoubleType, nullable = false),
    StructField("features", org.apache.spark.ml.linalg.SQLDataTypes.VectorType,
      nullable = false)))
}

/** The FM workload at vector size Int.MaxValue, and the Sample-app run
  * that the traced battery run compares with Spark's own FM regressor.
  * Both share the output checks below. */
object FmWorkloads {
  private val activeIds = udf((v: Vector) => v.toSparse.indices)

  private def distinctFeatures(df: DataFrame): Long =
    df.select(explode(activeIds(col("features")))).distinct().count()

  private def activeEntries(df: DataFrame): Long =
    df.select(sum(size(activeIds(col("features"))))).head().getLong(0)

  private def meanLabelMae(train: DataFrame, test: DataFrame): Double = {
    val mean = train.select(avg(col("label"))).head().getDouble(0)
    test.select(avg(abs(col("label") - lit(mean)))).head().getDouble(0)
  }

  /** Checks of a fitted model: its losses and its parameter rows. */
  private def checkFit(run: Run, est: FactorizationMachinesSGD,
      model: FactorizationMachinesModel, train: DataFrame): Unit = {
    val losses = est.lastLossHistory
    run.values("fm.max_iter") = est.getMaxIter
    run.values("fm.fit.losses") = losses
    run.check("losses_finite_and_falling") {
      (losses.nonEmpty && losses.forall(l => !l.isNaN && !l.isInfinite) &&
        losses.last < losses.head, s"losses $losses")
    }
    val paramRows = model.dimensionStrength.count()
    val distinct = distinctFeatures(train)
    run.values("fm.fit.param_rows") = paramRows
    run.values("fm.fit.exploded_rows") = activeEntries(train)
    run.check("param_rows_equal_distinct_features") {
      (paramRows == distinct, s"$paramRows parameter rows, $distinct distinct features")
    }
  }

  /** Checks of scoring: every row scored, no null or NaN prediction, and
    * a held-out MAE below that of predicting the mean training label. */
  private def checkScores(run: Run, model: FactorizationMachinesModel,
      train: DataFrame, test: DataFrame): Unit = {
    val Row(n: Long, bad: Long, mae: Double) = model.transform(test).agg(
      count(lit(1)),
      sum(when(col("prediction").isNull || isnan(col("prediction")), 1)
        .otherwise(0)).cast("long"),
      avg(abs(col("prediction") - col("label")))).head()
    val rows = test.count()
    val baseline = meanLabelMae(train, test)
    run.check("scored_rows_equal_input_rows") { (n == rows, s"$n scored of $rows") }
    run.check("no_null_or_nan_predictions") { (bad == 0, s"$bad bad predictions") }
    run.values("test_mae") = mae
    run.values("mean_label_mae") = baseline
    run.check("test_mae_beats_mean_label") {
      (mae < baseline, s"test MAE $mae vs mean-label MAE $baseline")
    }
  }

  /** The Sample app's hyperparameters (BASELINE.md). The bias is trained,
    * as in Spark's FMRegressor by default, so both fit the same model;
    * predictions are clipped to [lo, hi], the range of the labels. */
  private def estimator(seed: Long, k: Int, lo: Double, hi: Double) =
    new FactorizationMachinesSGD()
      .setDimFactorization(k).setMaxIter(5).setMiniBatchFraction(0.2)
      .setStepSize(1.0).setInitialSd(0.01).setRegParam(1e-6)
      .setMinLabel(lo).setMaxLabel(hi).setFitIntercept(true).setSeed(seed)

  // --------------------------------------------------- fm_hashed_maxint --

  /** Input rows of fm_hashed_maxint, active features per row, and the
    * vocabulary the features come from. 50k rows give about 700k
    * parameter rows, which puts shuffles and the parameter merge, not the
    * driver gap, first in fit time; a larger input would not fit the
    * benchmark's run budget. */
  val hashedRows = 50000
  val hashedNnz = 20
  val hashedVocab = 4000000

  /** Vector size Int.MaxValue: fit, model write and load, and scoring of
    * the held-out rows with every input column written to the noop sink.
    * Set-up generates the input on the executors, one row per id. The
    * warm-up pass runs the same operations on a tenth of the rows: enough
    * to compile the code paths, at a fraction of a full pass's time. */
  def hashedMaxInt(run: Run): Unit = {
    val seed = run.settings.seed
    val (nnz, vocab) = (hashedNnz, hashedVocab)
    val modelDir = new File(run.settings.work, "fm_hashed_model").getAbsolutePath

    val (train, test, lo, hi) = run.setUp(3) { _ =>
      val rows = run.spark.sparkContext.range(0, hashedRows, 1, run.settings.cpus)
        .map(i => FmData.hashedRow(seed, i, nnz, vocab))
      val df = run.spark.createDataFrame(rows, FmData.hashedSchema)
      val tr = df.filter(col("rowId") % 10 =!= 0).persist(StorageLevel.MEMORY_AND_DISK)
      val te = df.filter(col("rowId") % 10 === 0).persist(StorageLevel.MEMORY_AND_DISK)
      tr.count(); te.count()
      val Row(l: Double, h: Double) = tr.agg(min(col("label")), max(col("label"))).head()
      (tr, te, l, h)
    }
    val testRows = hashedRows / 10
    run.values("train_rows") = hashedRows - testRows
    run.values("scored_rows") = testRows.toLong

    var last: Option[(FactorizationMachinesSGD, FactorizationMachinesModel,
      FactorizationMachinesModel)] = None
    var completed = 0
    run.timedLoop { pass =>
      val g = s"fm_hashed_maxint.%s#$pass"
      // what an earlier pass left in the engine's caches is not reused
      run.untimed(g.format("release"))(InternalCaches.releaseAll())
      val slice = if (pass == 0) col("rowId") % 100 < 10 else lit(true)
      val est = estimator(seed, 8, lo, hi)
      for {
        model <- run.op("fit", g.format("fit"), pass) { est.fit(train.filter(slice)) }
        _ <- run.op("save", g.format("save"), pass) {
          model.write.overwrite().save(modelDir)
        }
        loaded <- run.op("load", g.format("load"), pass) {
          FactorizationMachinesModel.load(modelDir)
        }
        _ <- run.op("score", g.format("score"), pass) {
          loaded.transform(test.filter(slice)).write.format("noop").mode("overwrite").save()
        }
      } {
        completed += 1
        if (pass > 0) last = Some((est, model, loaded))
      }
    }
    run.check("every_pass_completed") {
      (completed == run.values("passes").asInstanceOf[Int] + 1,
        s"$completed of ${run.values("passes")} timed passes and the warm-up completed")
    }
    last.foreach { case (est, model, loaded) =>
      run.untimed("check") {
        checkFit(run, est, model, train)
        checkScores(run, loaded, train, test)
        run.check("loaded_model_equals_fitted") {
          val (a, b) = (model.dimensionStrength.count(), loaded.dimensionStrength.count())
          (loaded.globalBias == model.globalBias && a == b,
            s"w0 ${loaded.globalBias} vs ${model.globalBias}, $b vs $a parameter rows")
        }
      }
    }
    if (run.settings.traced)
      run.values("mllib.fm.note") =
        "FMRegressor not attempted: its coefficients are dense in the " +
          "vector size, (k + 1) x Int.MaxValue doubles"
  }

  // ------------------------------------------------ Sample-app comparison --

  /** The reference Sample app once, at MovieLens ml-latest-small
    * proportions: features, a 90/10 split, fit, and scoring of every row
    * consumed by an MAE aggregate, each an operation of pass -1 (not
    * timed into any end-to-end metric); then Spark's FMRegressor on the
    * same training split. */
  def sampleAppComparison(run: Run): Unit = {
    val seed = run.settings.seed
    val users = 16
    val maxUserId = users + 1
    val pass = -1
    val spark = run.spark
    import spark.implicits._
    val ratings = FmData.ratings(seed, users).toDF("userId", "movieId", "rating")
      .repartition(run.settings.cpus).persist(StorageLevel.MEMORY_AND_DISK)
    run.values("sample.ratings") = ratings.count()
    val est = estimator(seed, 10, 0.5, 5.0)
    for {
      features <- run.op("features", "sample.features", pass) {
        val f = SamplePipeline.buildFeatures(ratings, maxUserId, FmData.moviePool)
          .persist(StorageLevel.MEMORY_AND_DISK)
        f.count(); f
      }
      (train, test, rows) <- run.op("split", "sample.split", pass) {
        val Array(tr, te) = features.randomSplit(Array(0.9, 0.1), seed)
        val n = tr.persist(StorageLevel.MEMORY_AND_DISK).count() +
          te.persist(StorageLevel.MEMORY_AND_DISK).count()
        (tr, te, n)
      }
      model <- run.op("fit", "sample.fit", pass) { est.fit(train) }
      _ <- run.op("score", "sample.score", pass) {
        model.transform(features).agg(avg(abs(col("prediction") - col("label"))))
          .collect()
      }
    } {
      run.values("scored_rows") = rows
      run.untimed("check") {
        checkFit(run, est, model, train)
        checkScores(run, model, train, test)
      }
      run.untimed("mllib")(fmRegressor(run, train, test))
    }
  }

  /** Spark's built-in FM regressor on the same training split, with the
    * same factor size, step size, iterations, mini-batch fraction and
    * regularization, as an external point of comparison. */
  private def fmRegressor(run: Run, train: DataFrame, test: DataFrame): Unit = {
    val fm = new FMRegressor()
      .setSolver("gd").setFactorSize(10).setStepSize(1.0).setMaxIter(5)
      .setMiniBatchFraction(0.2).setRegParam(1e-6).setInitStd(0.01)
      .setSeed(run.settings.seed)
    val t0 = System.nanoTime()
    val model = fm.fit(train)
    run.values("mllib.fm.fit_s") = (System.nanoTime() - t0) / 1e9
    run.values("mllib.fm.test_mae") = model.transform(test)
      .select(avg(abs(col("prediction") - col("label")))).head().getDouble(0)
  }
}
