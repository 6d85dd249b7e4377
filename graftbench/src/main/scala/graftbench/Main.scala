package graftbench

/** One benchmark run in one JVM:
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --data <dir> --out <raw-result.json>
  * }}}
  * Set-up (session, install, fixtures, servers, sidecars) is repeated
  * [[SetupReps]] times and timed; one untimed warm-up pass follows; then the
  * timed loop; then the checks. The raw result (every operation's rows,
  * seconds and outcome, set-up times, checks, and in a traced run the
  * counters, probes and span file) goes to `--out`; `run.py` turns it into
  * metrics. */
object Main {
  val SetupReps = 3
  val Workloads = Seq("scalar_ladder", "short_queries")
  /** Corpus size of the funnel a traced run drives for the `ops` layer. */
  val FunnelDocs = 5000L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")

    val (spark, contextS) = Clock.time(Session.build(work))
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val wl: Workload = workload match {
      case "scalar_ladder" => new ScalarLadder(spark, work, seed)
      case "short_queries" => new ShortQueries(spark, work, seed, opt("data"))
    }

    val reps = (1 to SetupReps).map { rep =>
      val (_, t) = Clock.time(wl.setUp(rep))
      if (rep < SetupReps) wl.tearDown()
      t
    }
    val (_, warmS) = Clock.time { wl.warmUp(); (1 to 10).foreach(_ => Calibration.run()) }

    val recs = Runner.measure(spark, counters, wl.ops, seed, seconds, traced,
      rowsFromCounters = workload == "short_queries")
    val checks = wl.verify()
    counters.drain(spark)

    val (traceOut: Map[String, Any], funnelChecks: Seq[Check]) =
      if (!traced) (Map.empty, Nil) else {
      Trace.on = true
      Trace.currentOp = -1
      val probes = new Probes(spark, seed)
      probes.run()
      // the ops layer: one untimed funnel run, then the measured one
      val funnel = new Funnel(spark, work, seed, FunnelDocs)
      funnel.setUp()
      val report = try {
        funnel.run(counters, "graftbench-funnel-warmup", "warmup")
        funnel.run(counters, "graftbench-funnel", "probe")
      } finally funnel.tearDown()
      Trace.on = false
      counters.drain(spark)
      val spans = s"$work/spans.jsonl"
      Trace.write(spans)
      (Map(
        "spans_file" -> spans,
        "op_counters" -> recs.filter(_.traced).map(r => Map("op" -> r.op,
          "plan_s" -> Trace.planMs.getOrElse(r.op, 0L) / 1e3) ++
          counters.get(Runner.group(r.op)).toMap),
        "stage_counters" -> stageCounters(counters, "graftbench-funnel"),
        "probes" -> probes.scalars,
        "samples" -> probes.samples,
        "funnel" -> Map("docs" -> FunnelDocs, "stages" -> report.stages.toMap,
          "counts" -> report.counts, "violations" -> report.violations)),
        report.violations.map(v => Check("funnel", ok = false, v)))
    }

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> Host.nproc,
      "setup" -> Map("context_s" -> contextS, "reps_s" -> reps, "warmup_s" -> warmS),
      "ops" -> recs.map(r => Map("op" -> r.op, "name" -> r.name, "tier" -> r.tier,
        "round" -> r.round, "traced" -> r.traced, "rows" -> r.rows, "s" -> r.seconds,
        "calib_s" -> r.calibSeconds,
        "ok" -> r.ok, "error" -> r.error)),
      "checks" -> (checks ++ funnelChecks).map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "facts" -> wl.facts,
      "rss_peak_mb" -> Host.rssPeakMb,
      "trace" -> traceOut)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(raw))
    wl.tearDown()
    spark.stop()
  }

  private def stageCounters(c: SparkCounters, group: String): Map[String, Any] =
    Seq("load", "near_dedup", "lm_train", "lm_threshold", "clf_train", "flags",
      "span_dedup", "mix_pack").map(st => st -> c.get(s"$group.$st").toMap).toMap
}
