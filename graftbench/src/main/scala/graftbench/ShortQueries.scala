package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** A fixed list of `SparkEntry` oracle queries over a small seeded
  * TPC-H-shaped dataset. Every query sits on the per-query floor: planning,
  * install, job scheduling, eager checkpoints and per-query connection
  * set-up dominate. One client, closed loop. */
final class ShortQueries(base: SparkSession, work: String, seed: Long, data: String)
    extends Workload {
  /** (query, function class or tier it covers) */
  val queries: Seq[(String, String)] = Seq(
    "q_gcd" -> "codegen", "q_div_error" -> "invoke.fallible", "q_columnar_gcd" -> "columnar",
    "q_script_agg" -> "script.agg", "q_wasm_table" -> "wasm.table",
    "q_remote_gcd" -> "ipc", "q_flight_setof" -> "flight.table", "q_js_gcd" -> "js",
    "q_python_sum_udaf" -> "python.agg", "q_topk" -> "tpch.topk")

  private var s: SparkSession = _
  private val warm = collection.mutable.HashMap.empty[String, Long]
  private val out = s"$work/query_out"

  override def setUp(rep: Int): Unit = {
    s = base.newSession()
    graft.Graft.install(s)
    // the wire tiers' shared pools start once per process, on first use
    graft.remote.RemoteFixture.port
    graft.remote.flight.FlightFixture.port
    graft.remote.PythonWorker.endpoints
    graft.remote.JsWorker.endpoints
    ()
  }

  override def tearDown(): Unit = ()

  private def checksum(rows: Array[Row]): Long = rows.map(r => Gen.mix(r.toString.hashCode)).sum

  private def op(q: String, tier: String): Op = Op(q, tier, () => {
    val rows = Runner.collect(graft.SparkEntry.queries(q)(s, data))
    (0L, checksum(rows))
  }, () => warm(q))

  override def ops: IndexedSeq[Op] = queries.map { case (q, t) => op(q, t) }.toIndexedSeq

  /** One untimed pass; its results are written out for the DuckDB oracle
    * comparison and become the reference every timed pass must match. */
  override def warmUp(): Unit = {
    Fixture.rmrf(new java.io.File(out))
    queries.foreach { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(s, data)
      val rows = df.collect()
      warm(q) = checksum(rows)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
        .write.parquet(s"$out/$q")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => warm.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(oracle))
  }

  override def facts: Map[String, Any] = Map("query_out" -> out, "data" -> data,
    "queries" -> queries.map { case (q, t) => Map("query" -> q, "covers" -> t) })
}
