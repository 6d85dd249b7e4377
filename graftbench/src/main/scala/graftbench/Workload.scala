package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `run` does the work and returns (rows crossing the
  * measured boundary, a result fingerprint); `expected` is the reference
  * fingerprint, computed outside the timed region. */
final case class Op(name: String, tier: String, run: () => (Long, Long), expected: () => Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: repeatable set-up, one untimed warm-up pass, the
  * timed operations (one round, in seed order), and the checks that run
  * after the timed region. */
trait Workload {
  def setUp(rep: Int): Unit
  def tearDown(): Unit
  def warmUp(): Unit
  def ops: IndexedSeq[Op]
  def verify(): Seq[Check] = Nil
  /** Workload-specific facts for the raw result (sizes, output paths). */
  def facts: Map[String, Any] = Map.empty
}

/** The servers and sidecar pools the ladder talks to: the in-process
  * Arrow-IPC server, a Flight server in front of it, and CPython and Node
  * worker pools of the engine's default size. */
final class Sidecars extends AutoCloseable {
  import graft.remote.{JsWorker, PythonWorker, UdfServer}
  private val poolSize = math.min(8, Host.nproc)
  val udf = new UdfServer()
  val flight = new graft.remote.flight.FlightServer(backendPort = () => udf.boundPort)
  val py: Seq[PythonWorker] = (1 to poolSize).map(_ => new PythonWorker())
  val jsw: Seq[JsWorker] = (1 to poolSize).map(_ => new JsWorker())
  py.foreach(_.boundPort)
  jsw.foreach(_.boundPort)

  private def local(p: Int) = ("127.0.0.1", p)
  def ipc: Seq[(String, Int)] = Seq(local(udf.boundPort))
  def flightEp: Seq[(String, Int)] = Seq(local(flight.boundPort))
  def pyEp: Seq[(String, Int)] = py.map(w => local(w.boundPort))
  def jsEp: Seq[(String, Int)] = jsw.map(w => local(w.boundPort))

  override def close(): Unit = {
    flight.close(0L)
    udf.close()
    py.foreach(_.close())
    jsw.foreach(_.close())
  }
}

/** A seeded parquet fixture written as files of `rowsPerFile` rows; file j
  * holds input indexes [j * rowsPerFile, (j + 1) * rowsPerFile). */
final class Fixture(dir: String, rowsPerFile: Int) {
  def paths: IndexedSeq[String] = {
    val d = new java.io.File(dir)
    d.listFiles().map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.map(n => s"$dir/$n").toIndexedSeq
  }

  /** A scan of the first `nFiles` files. */
  def scan(spark: SparkSession, nFiles: Int): DataFrame = spark.read.parquet(paths.take(nFiles): _*)

  def indexes(nFiles: Int): Iterator[Long] = Iterator.range(0L, nFiles.toLong * rowsPerFile)
}

object Fixture {
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }
}
