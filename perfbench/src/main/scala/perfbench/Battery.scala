package perfbench

import java.io.File

import graft.{InternalCaches, SparkEntry}

/** A fixed mix of `graft.SparkEntry` queries, one from every engine
  * layer (run.py maps query-name prefixes to layers), over a seeded
  * fixture. Each query's prepare step and a cache release run untimed
  * before each run of the query. */
object Battery {
  /** One query per layer; sim_ingest_grow is also the ingest verb. */
  val mix: Seq[String] = Seq(
    "q3_top_revenue", "src_json_props", "adv_pagerank", "adv_asof_join",
    "fm_score_vs_sql_oracle", "dedup_minhash_lsh", "sim_ingest_grow",
    "ta_tfidf_top", "mm_features", "pipe_domain_mix", "st_tumbling_hourly")

  val scale = 0.01

  def run(run: Run): Unit = {
    val work = run.settings.work
    val dir = new File(work, "fixture").getAbsolutePath
    val queries = SparkEntry.queries
    val prepares = SparkEntry.prepares
    val prepareSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]

    def prepare(q: String, group: String): Unit = run.untimed(group) {
      val t0 = System.nanoTime()
      InternalCaches.releaseAll()
      run.spark.catalog.clearCache()
      prepares.get(q).foreach(_(run.spark, dir))
      prepareSeconds += (System.nanoTime() - t0) / 1e9
    }
    run.setUp(3) { rep =>
      Fixture.generate(run.spark, dir, scale, run.settings.seed)
      mix.foreach(q => prepare(q, s"setup#$rep"))
    }
    val setupPrepares = prepareSeconds.size
    run.values("scale") = scale

    // The warm-up round writes every query's output as parquet for run.py
    // to compare with the oracles; timed rounds write to the noop sink.
    val out = new File(work, "battery_out")
    run.values("battery.out_dir") = out.getAbsolutePath
    run.values("battery.oracle_sql") =
      SparkEntry.oracleSql.filter { case (q, _) => mix.contains(q) }
    run.timedLoop { round =>
      mix.foreach { q =>
        prepare(q, s"battery.prepare.$q#$round")
        run.op(q, s"battery.$q#$round", round) {
          val w = queries(q)(run.spark, dir).write.mode("overwrite")
          if (round == 0) w.parquet(new File(out, q).getAbsolutePath)
          else w.format("noop").save()
        }
      }
    }
    run.values("battery.prepare_s") = prepareSeconds.drop(setupPrepares + mix.size).sum
    if (run.settings.traced) FmWorkloads.sampleAppComparison(run)
  }
}
