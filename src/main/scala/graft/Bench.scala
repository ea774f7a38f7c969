package graft

/** Benchmark harness: warms the JVM/codegen caches with a full pass over
  * every query at a SMALL scale factor (sf0.001 by default — same code
  * paths, same codegen cache keys, ~100× less data), then times each
  * query REPS times (default 3) at the target scale factor and reports
  * the per-query MEDIAN (plus the min, for drill-down). A full-sized
  * warm-up pass (round 2) doubled wall-clock to ~9 min and blew the
  * driver's budget (BENCH_r02 rc=124); the small-SF warm-up keeps
  * end-to-end under the budget while still keeping first-query
  * JIT/codegen cost out of the measurements.
  *
  * Why median-of-N: this sandbox is contended — three consecutive
  * rounds' single-sample artifacts each contained one phantom multi-10×
  * outlier (r05: x16 recorded 38.26 s vs 2.45 s re-measured minutes
  * later, same code, same data). A median over 3 samples makes a single
  * descheduled run invisible and a REAL regression visible; the honest
  * full pass is ~27 s, so 3× fits any driver budget.
  *
  * Set SPARK_GRAFT_WARM_DIR="" to skip warm-up, SPARK_GRAFT_REPS to
  * change the sample count. A query that throws in any measured rep is
  * reported with value -1 and its error in the `errors` map — never a
  * fake timing.
  *
  * Round 22: bounded contention re-run — after the main pass, any query
  * whose med/min spread exceeds 1.5 gets up to SPARK_GRAFT_EXTRA_REPS
  * (default 2) more samples; its reported median is recomputed over all
  * its successful samples and its pre-re-run median is preserved in the
  * `remeasured` map. A failed extra rep is dropped ([[mergeSamples]]);
  * its error goes to the `extra_rep_errors` map, not `errors`. Quiet
  * runs re-run nothing; contended artifacts self-correct instead of
  * needing external adjudication.
  */
object Bench {

  /** Lower median of sorted samples; any failed (−1) sample poisons the
    * query. */
  def median(ts: Seq[Double]): Double =
    if (ts.head < 0) -1.0 else ts((ts.size - 1) / 2)

  /** A query's sorted main-pass samples merged with its contention
    * re-run: only the extra reps that succeeded (`Some`) join, so a
    * failed extra rep can never turn a query that passed every main rep
    * into an error. */
  def mergeSamples(main: Seq[Double], extra: Seq[Option[Double]]): Seq[Double] =
    (main ++ extra.flatten).sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Sessions.quietKnownWarnings()
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    // q28 is an end-to-end CORRECTNESS fixture (a 14-row two-file pipeline
    // cascade: ~25 tiny write/read jobs) — timing it measures scheduler
    // overhead, not operator throughput, and it alone costs ~80 s/pass.
    // It stays in the Verify/oracle gate; the bench reports the data-
    // proportional query surface (incl. q32, the data-proportional MERGE).
    // q35 is the same fixture driven through the streaming cascade —
    // same reasoning. x56/x57 are the training-data twins (the composed
    // five-store curation loop run twice over a 300-doc corpus: five
    // store builds + ~40 tiny jobs — ~16 s of pure scheduler fixed cost
    // at sf0.1); every STAGE of that cascade is separately timed via
    // x50/x34/x45/x52/x54, which is the data-proportional surface.
    // x72 is the same loop run THREE times to check the funnel-history
    // reader (itself a dashboard-sized unpivot over one row per batch) —
    // the same fixture precedent. x75 re-runs x66's entire recipe to
    // check its seven funnel counts: the recipe is timed once, as x66.
    // x90 re-runs the same recipe with only stage 7 swapped (the
    // classifier seam, whose scoring IS separately timed as x88/x89) —
    // the x75 precedent again: one recipe timing, x66's.
    val skip = Set("q28_pipeline_cascade", "q35_stream_cascade",
      "x56_curation_loop", "x57_curation_funnel", "x72_funnel_history",
      "x75_recipe_funnel", "x90_recipe_classifier_gate")
    // SPARK_GRAFT_BENCH_ONLY=x27,x34 limits the run (substring match on
    // query names) — perf-iteration convenience mirroring Verify's
    // SPARK_GRAFT_ONLY; the driver's full runs leave it unset
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.filterNot(skip)
      .filter(n => only.isEmpty || only.exists(n.contains)).sorted
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // one timed run: its seconds, or its error
    def attempt(name: String, dir: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, dir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    }
    def once(name: String, dir: String): Double =
      attempt(name, dir).fold(e => { errors(name) = e; -1.0 }, identity)
    // Release operator-persisted blocks between runs (the near-dup /
    // similarity operators persist signature tables and the caller owns
    // the lifetime): bounds cache accumulation across (1+reps)×N query
    // runs and keeps every measured timing an honest cold-cache number.
    if (warmDir.nonEmpty) names.foreach { n => once(n, warmDir); spark.catalog.clearCache() }
    errors.clear()         // only the measured passes' errors are reported
    val mainPass = names.map { n =>
      n -> (1 to reps).map { _ =>
        val t = once(n, sfDir); spark.catalog.clearCache(); t
      }.sorted
    }
    // Contention-robust bounded re-run (the r20/r21 verdicts' open ask:
    // two driver artifacts in a row were contended — med_over_min_p95
    // 1.54/1.56, untouched queries inflated up to 35× — and adjudicating
    // them needed an external quiet re-run). After the main pass, any
    // query whose med/min exceeds 1.5 gets up to SPARK_GRAFT_EXTRA_REPS
    // (default 2) more samples and its median is recomputed over ALL its
    // samples; a co-runner inflates a median but rarely survives 5
    // samples. Bounded: ≤ 2 extra runs per flagged query, and only
    // flagged queries re-run. Additions-only reporting: the pre-re-run
    // medians of the flagged queries are kept in `remeasured` (old
    // numbers preserved per the harness contract) and the summary line
    // carries `n_remeasured`; an un-contended run re-runs nothing and
    // reports byte-identical JSON shapes to prior rounds plus the two
    // new fields.
    val spreadBound = 1.5
    val extraReps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt.max(0)
    val remeasured = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a failed extra rep is recorded here, never merged into the samples
    val extraErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = mainPass.map { case (n, ts) =>
      if (extraReps > 0 && ts.head > 0.05 && median(ts) / ts.head > spreadBound) {
        remeasured(n) = median(ts)
        val more = (1 to extraReps).map { _ =>
          val t = attempt(n, sfDir); spark.catalog.clearCache(); t
        }
        more.collect { case Left(e) => e }.lastOption.foreach(extraErrors(n) = _)
        n -> mergeSamples(ts, more.map(_.toOption))
      } else n -> ts
    }
    val med = samples.map { case (n, ts) => n -> median(ts) }
    val mins = samples.map { case (n, ts) => n -> (if (ts.head < 0) -1.0 else ts.head) }
    def jm(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
    def jsonStrings(m: Seq[(String, String)]): String =
      m.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
    val es = jsonStrings(errors.toSeq)
    val total = med.filter(_._2 >= 0).map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jm(med)},"queries_min":${jm(mins)},"remeasured":${jm(remeasured.toSeq)},"reps":$reps,"errors":$es,"extra_rep_errors":${jsonStrings(extraErrors.toSeq)},"sf":"$sfDir"}""")
    // A second, SHORT summary line that survives the driver's 2000-char
    // artifact tail (round 6's big line lost its leading total to the
    // truncation). Splits the real streaming executions — whose ~1-5 s
    // each is fixed checkpoint/state-store setup, not data-proportional
    // operator time — from the batch surface, so a batch regression is
    // never drowned by streaming fixed cost.
    val streamingQs = Set("x17_stream_dedup", "x18_stream_windowed_agg",
      "x24_stream_enrich", "x27_stream_interval_join", "x32_stream_ohlc",
      "x33_stream_sessionize", "x37_stream_incremental_dedup",
      "x46_stream_vec_dedup", "x49_stream_vec_trained",
      "x51_stream_exact_dedup", "x76_stream_bench_ingest",
      "x93_stream_classifier_ingest", "x115_stream_winnow_ingest")
    val (streamMed, batchMed) = med.filter(_._2 >= 0).partition(m => streamingQs(m._1))
    val slowest = med.filter(_._2 >= 0).sortBy(-_._2).take(8)
    // MIN-of-reps for the same slowest queries (the round-18 lesson: two
    // rounds of driver artifacts were contended — med_over_min_p95 1.31,
    // 1.35 — and adjudicating "is this slow query a regression or a
    // co-runner?" required a quiet re-run. min-of-N is the contention-
    // robust statistic; carrying it in THIS line, which survives the
    // driver's 2000-char artifact-tail truncation, makes cross-round
    // comparison self-contained. A min ≈ its historical band with an
    // inflated median = contention, not a plan change.)
    val minByName = mins.toMap
    val slowestMin = slowest.map { case (n, _) => n -> minByName(n) }
    // Contention self-diagnosis (the round-11 lesson: a contended run
    // reported 115 s where a quiet one measures 46 s, and the spikes
    // read as plan regressions until re-measured). med/min per query is
    // ~1 on a quiet machine; a co-runner inflates the median but rarely
    // the min, so a large ratio on several queries = contended artifact,
    // re-measure before trusting. Reported: the 95th-percentile ratio
    // (robust to one genuinely bimodal query).
    val ratios = samples.collect { case (_, ts) if ts.head > 0.05 =>
      median(ts) / ts.head
    }.sorted
    val spreadP95 =
      if (ratios.isEmpty) 1.0 else ratios((ratios.size - 1) * 95 / 100)
    println(s"""{"metric":"summary","total":$total,"total_min":${mins.filter(_._2 >= 0).map(_._2).sum},"batch_total":${batchMed.map(_._2).sum},"streaming_total":${streamMed.map(_._2).sum},"n_queries":${med.count(_._2 >= 0)},"n_errors":${errors.size},"slowest":${jm(slowest)},"slowest_min":${jm(slowestMin)},"med_over_min_p95":$spreadP95,"n_remeasured":${remeasured.size},"unit":"sec","reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
