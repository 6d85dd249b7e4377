package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The timed loop: a closed loop with one client. Operations run in whole
  * rounds, each round one pass over the workload's operations in a
  * seed-derived order, until the time budget is spent (so every operation
  * is sampled equally). In a traced run, odd rounds record spans and even
  * rounds do not, so the two halves price the tracing itself. */
object Runner {
  final case class Rec(op: Int, name: String, tier: String, round: Int, traced: Boolean,
                       rows: Long, seconds: Double, calibSeconds: Double, ok: Boolean,
                       error: String)

  /** Build, plan and collect. In a traced round the build (graft calls,
    * analysis, planning, and any eager jobs the builder runs) and the
    * execution are spans, and the planner's own phase times (analysis,
    * optimization, planning) are added to the operation's plan time. */
  def collect(build: => DataFrame): Array[Row] = {
    val df = Trace.span("build", "spark") {
      val d = build
      if (Trace.on) {
        d.queryExecution.executedPlan
        Trace.addPlan(d.queryExecution.tracker.phases.values.map(_.durationMs).sum)
      }
      d
    }
    Trace.span("execute", "spark")(df.collect())
  }

  /** Untimed run with its result compared to the reference. */
  def runChecked(op: Op): Boolean =
    try op.run()._2 == op.expected()
    catch { case e: Throwable =>
      System.err.println(s"[graftbench] warm-up ${op.name} failed: ${e.getMessage}")
      false
    }

  def group(op: Int): String = s"graftbench-op-$op"

  def measure(spark: SparkSession, counters: SparkCounters, ops: IndexedSeq[Op], seed: Long,
              seconds: Double, traced: Boolean, rowsFromCounters: Boolean): Seq[Rec] = {
    val minRounds = if (traced) 2 else 1
    val recs = Seq.newBuilder[Rec]
    var n = 0
    val t0 = Clock.now()
    def spent = Clock.secondsSince(t0) >= seconds
    var round = 0
    while (!spent || round < minRounds) {
      val order = Gen.permutation(seed + round, ops.size)
      val tracedRound = traced && round % 2 == 1
      order.foreach { i =>
        val op = ops(i)
        val calib = Calibration.run()
        Trace.currentOp = n
        Trace.on = tracedRound
        val t = Clock.now()
        val (rows, value, err) =
          try {
            val (r, v) = counters.inGroup(spark, group(n))(Trace.span("op:" + op.name, "bench")(op.run()))
            (r, v, "")
          } catch { case e: Throwable => (0L, Long.MinValue, String.valueOf(e.getMessage).take(300)) }
        val secs = Clock.secondsSince(t)
        Trace.on = false
        val ok = err.isEmpty && value == op.expected()
        if (!ok) System.err.println(s"[graftbench] ${op.name} failed: " +
          (if (err.nonEmpty) err else s"result $value != reference ${op.expected()}"))
        recs += Rec(n, op.name, op.tier, round, tracedRound, rows, secs, calib, ok, err)
        n += 1
      }
      round += 1
    }
    val out = recs.result()
    if (!rowsFromCounters) out
    else {
      counters.drain(spark)
      out.map(r => r.copy(rows = counters.get(group(r.op)).recordsRead))
    }
  }
}
