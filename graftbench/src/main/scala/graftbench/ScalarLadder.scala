package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.IntegerType

/** `gcd(int, int)` over a seeded two-int parquet through all ten tiers.
  * Set-up: a fresh session with graft installed, the benchmark's own
  * registrations, the fixture, the servers and sidecars, and a session with
  * graft's extensions for the batched wasm tier. */
final class ScalarLadder(base: SparkSession, work: String, seed: Long) extends Workload {
  private val rowsPerFile = 65536
  private val nFiles = 32
  private var s: SparkSession = _
  private var x: SparkSession = _
  private var sc: Sidecars = _
  private var repDir: String = _
  private var fx: Fixture = _

  /** (tier, files scanned): sized for about a quarter of a second per
    * operation on a 4-core host. */
  val tiers: Seq[(String, Int)] = Seq(
    "codegen" -> 32, "columnar" -> 32, "invoke" -> 32, "wasm_batch" -> 8, "wasm" -> 4,
    "script" -> 8, "ipc" -> 8, "flight" -> 4, "js" -> 2, "python" -> 1)

  private def a(i: Long) = Gen.draw(seed, 1, i, 1000000) + 1
  private def b(i: Long) = Gen.draw(seed, 2, i, 1000000) + 1

  private def writeFixture(dir: String): Unit = {
    val sd = seed
    import base.implicits._
    base.range(0, rowsPerFile.toLong * nFiles, 1, nFiles).map { i =>
      val a = Gen.draw(sd, 1, i, 1000000) + 1
      val b = Gen.draw(sd, 2, i, 1000000) + 1
      (a, b, a.toLong, b.toLong)
    }.toDF("a", "b", "la", "lb").write.parquet(dir + "/gcd")
    fx = new Fixture(dir + "/gcd", rowsPerFile)
  }

  override def setUp(rep: Int): Unit = {
    Registrations.ensure()
    s = base.newSession()
    graft.Graft.install(s)
    repDir = s"$work/fixtures/rep$rep"
    writeFixture(repDir)
    sc = new Sidecars
    x = Session.withExtensions(base)
    graft.Graft.install(x)
  }

  override def tearDown(): Unit = {
    sc.close()
    Fixture.rmrf(new java.io.File(repDir))
  }

  private def one(build: => DataFrame): Long = {
    val r = Runner.collect(build).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  // plain-Scala references, per prefix of files (computed outside timing)
  private val gcdRef = collection.mutable.HashMap.empty[Int, Long]
  private val stepRef = collection.mutable.HashMap.empty[Int, Long]
  private def refGcd(files: Int) = gcdRef.getOrElseUpdate(files,
    fx.indexes(files).map(i => Gen.gcd(a(i), b(i))).sum)
  private def refStep(files: Int) = stepRef.getOrElseUpdate(files,
    fx.indexes(files).map { i => val bi = b(i); if (bi == 0) a(i).toLong else a(i).toLong % bi }.sum)

  private def query(tier: String, files: Int): DataFrame = {
    def in(sess: SparkSession) = fx.scan(sess, files)
    def g(df: DataFrame) = df.agg(sum(col("g")))
    def v(df: DataFrame) = df.agg(sum(col("value")))
    val ab = Seq("a", "b")
    tier match {
      case "codegen" => g(in(s).selectExpr("gcd(a, b) AS g"))
      case "invoke" => g(in(s).selectExpr("graftbench_gcd(a, b) AS g"))
      case "columnar" => g(graft.plans.ColumnarMap.withBatchColumn(in(s).select("a", "b"), "g",
        ab, IntegerType, graft.plans.ColumnarMap.GcdKernel))
      case "wasm" => g(in(s).selectExpr("wasm_gcd(la, lb) AS g"))
      case "wasm_batch" => g(in(x).selectExpr("wasm_gcd(la, lb) AS g"))
      case "script" => g(in(s).selectExpr("graftbench_step(la, lb) AS g"))
      case "ipc" => v(graft.remote.RemoteUdf.withRemoteColumn(in(s).select("a", "b"), sc.ipc,
        "gcd", ab, IntegerType))
      case "flight" => v(graft.remote.flight.FlightUdf.withFlightColumn(in(s).select("a", "b"),
        sc.flightEp, "gcd", ab, IntegerType))
      case "js" => v(graft.remote.JsUdf.withJsColumn(in(s).select("a", "b"), sc.jsEp,
        "gcd", ab, IntegerType))
      case "python" => v(graft.remote.RemoteUdf.withRemoteColumn(in(s).select("a", "b"), sc.pyEp,
        "gcd", ab, IntegerType))
    }
  }

  private def op(tier: String, files: Int): Op =
    Op(s"gcd.$tier", tier, () => (files.toLong * rowsPerFile, one(query(tier, files))),
      () => if (tier == "script") refStep(files) else refGcd(files))

  override def ops: IndexedSeq[Op] = tiers.map { case (t, f) => op(t, f) }.toIndexedSeq

  private var batchedPlan = false

  /** One untimed pass over every tier at full size, then a check that the
    * batched tier really lowered to the batched kernel. */
  override def warmUp(): Unit = {
    ops.foreach(Runner.runChecked)
    // adaptive execution applies the columnar rule per query stage, so the
    // kernel shows in the final plan, after execution
    val df = query("wasm_batch", 1)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    batchedPlan = plan.contains("WasmBatchKernel")
    if (!batchedPlan) System.err.println(s"[graftbench] wasm_batch plan:\n$plan")
  }

  override def verify(): Seq[Check] = Seq(Check("wasm_batch_lowered", batchedPlan,
    "wasm_batch must run on the batched kernel (GraftColumnarRule)"))

  override def facts: Map[String, Any] = Map("rows_per_file" -> rowsPerFile,
    "tiers" -> tiers.map { case (t, f) => Map("tier" -> t, "files" -> f) })
}
