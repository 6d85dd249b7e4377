package graft.remote.flight

import graft.remote.{PartitionDriver, RemoteProtocol, ResultMode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType

/**
 * Spark-side Arrow Flight UDF integration — the partition-leased shape of
 * [[graft.remote.RemoteUdf]] (bounded batches per exchange, round-robin
 * across a server pool), but speaking the reference's ACTUAL wire: Arrow
 * Flight over gRPC (`arrow-udf-runtime/src/remote/mod.rs`). A user of the
 * reference can point these at their existing Java/Python `UdfServer`
 * deployments unchanged — this closes the one interop gap
 * `docs/FLIGHT_INTEROP.md` carried.
 *
 * Scale notes: parallelism rides Spark's partitioning (narrow inputs are
 * fanned to default parallelism first), but CONNECTIONS are multiplexed —
 * each partition leases a shared [[FlightClient]] from [[FlightClientCache]]
 * and its exchanges interleave as h2 streams with the other partitions', so
 * a 32-core executor holds a few sockets per UDF endpoint instead of 32
 * (per-executor sockets ≈ ⌈concurrent tasks / maxLeases⌉ — on a
 * 1000-executor cluster that's the difference between ~4k and ~32k
 * connections per endpoint). Each DoExchange carries one bounded batch so
 * the per-stream half-duplex exchange can never outgrow flow-control
 * windows.
 */
object FlightUdf {
  /** Resolve the return type of `fname` from the server's FlightInfo —
    * discovery-driven typing, like the reference resolving `Function.returns`
    * before planning (`remote/mod.rs:79-86`). */
  def returnTypeOf(endpoint: (String, Int), fname: String): DataType = {
    val c = new FlightClient(endpoint._1, endpoint._2)
    try {
      val rs = c.get(fname).returns
      // scalars carry one field; table functions (row_index, value); fallible
      // scalars (value, error) — the VALUE type is the one named "value" when
      // present, else the last non-error field, else the last field
      rs.find(_._1 == "value").map(_._2).getOrElse(
        if (rs.length >= 2 && rs.last._1 == "error") rs(rs.length - 2)._2
        else rs.last._2)
    } finally c.close()
  }

  /** Append the Flight server's function result to `df`; `mode` picks the
    * output shape. Each partition LEASES a shared multiplexed
    * [[FlightClient]] from [[FlightClientCache]] (released at task end) and
    * runs one bounded DoExchange per `batchRows` chunk
    * ([[graft.remote.PartitionDriver]] owns fan-out, endpoint rotation,
    * failover and chunk replay). Each client also replays an exchange on
    * its own endpoint after a transient failure ([[FlightClient]]
    * `maxRetries`) before the partition fails over.
    *
    * `dictEncodeStrings`: STRING argument columns travel dictionary-encoded
    * (inline DictionaryBatch per exchange) — the batch shape a
    * dictionary-preserving producer emits at scale, where parquet string
    * columns are dictionary pages. Results are identical; servers resolve
    * the dictionaries (graft's backend decodes them, the reference's SDK
    * readers resolve them in `FlightStream`).
    *
    * `streamed`: ONE long-lived DoExchange per partition — the reference's
    * multi-batch streaming shape ([[FlightClient.ExchangeStream]]): every
    * chunk ping-pongs over the same stream, so the per-exchange setup
    * (HEADERS, descriptor, schema message, trailers) is paid once per
    * PARTITION. Requires an incrementally-evaluating server — the reference
    * Java/Python servers, and graft's own [[FlightServer]]. A failure closes
    * the stream, fails over, and replays ONLY the in-flight chunk on a
    * fresh stream. Table functions stay per-chunk BY DESIGN: a
    * reference-shaped server may emit 0..N result batches per input batch
    * for a table function (yield chunking, empty-yield elision — e.g.
    * `tools/flightudf_server.py` `Table.eval_batch`), so a half-duplex
    * ping-pong client has no framing for "this input batch's results are
    * done" short of end-of-stream. The bounded per-chunk exchange IS that
    * framing.
    *
    * `batchRows` bounds each exchange of a scalar value call or a streamed
    * call (default [[RemoteProtocol.BatchSize]]). */
  def withFlightColumn(df: DataFrame, endpoints: Seq[(String, Int)], fname: String,
                       argCols: Seq[String], retType: DataType,
                       mode: ResultMode = ResultMode.Value,
                       dictEncodeStrings: Boolean = false, streamed: Boolean = false,
                       batchRows: Int = RemoteProtocol.BatchSize): DataFrame = {
    require(!(streamed && mode == ResultMode.Table),
      "table functions run one exchange per chunk, never streamed")
    require(!dictEncodeStrings || (mode == ResultMode.Value && !streamed),
      "dictionary-encoded arguments ride the per-chunk scalar value call only")
    require(batchRows == RemoteProtocol.BatchSize || mode == ResultMode.Value || streamed,
      "batchRows bounds scalar value calls and streamed calls only")
    PartitionDriver.withColumn(df, endpoints, argCols, retType, mode, batchRows) {
      (host, port, argTypes) =>
        val lease = FlightClientCache.acquire(host, port)
        val stream =
          if (!streamed) null
          else try lease.client.openExchange(fname, argTypes)
          catch {
            case e: java.io.IOException => lease.markDead(); lease.release(); throw e
          }
        new LeaseConn(lease, stream, fname, argTypes, dictEncodeStrings)
    }
  }

  /** A leased client: one DoExchange per chunk, or every chunk over
    * `stream` when the partition runs streamed. */
  private final class LeaseConn(lease: FlightClientCache.Lease,
      stream: FlightClient#ExchangeStream, fname: String, argTypes: Seq[DataType],
      dictEncodeStrings: Boolean) extends PartitionDriver.Conn {
    def call(rows: Seq[Seq[Any]]): Seq[Any] =
      if (stream != null) stream.call(rows).map(_.head)
      else lease.client.call(fname, argTypes, rows, Nil, dictEncodeStrings)
    def callWithErrors(rows: Seq[Seq[Any]]): Seq[(Any, String)] =
      if (stream != null) stream.call(rows).map(v => (v(0), v(1).asInstanceOf[String]))
      else lease.client.callWithErrors(fname, argTypes, rows)
    def callTable(rows: Seq[Seq[Any]]): Seq[(Int, Any)] =
      lease.client.callTable(fname, argTypes, rows)
    /** A dead lease evicts the shared client for new acquisitions; other
      * holders keep it until they release (their own retries may revive it). */
    def release(dead: Boolean): Unit = {
      if (stream != null) try stream.close() catch { case _: Exception => }
      if (dead) lease.markDead()
      lease.release()
    }
  }
}

/**
 * Executor-wide cache of SHARED multiplexed [[FlightClient]]s, keyed by
 * endpoint, bounding SOCKETS per endpoint: each partition task leases its
 * own connection while the per-endpoint count is below `MaxConns`; past the
 * cap, leases STACK onto the least-loaded live connection and their
 * exchanges interleave as h2 streams (the [[GrpcConn]] concurrency model —
 * how stock gRPC channels behave).
 *
 * Why a CAP at all: sockets are the fleet-level resource (per-endpoint
 * socket count = executors × MaxConns), streams are free. The cap sat at
 * 32 through r14 because graft's own [[FlightServer]] was
 * thread-per-connection — stacked streams serialized behind each other's
 * backend round-trips (measured 0.31 s → 0.54 s at 8 streams/conn). The
 * r15 server dispatches streams in parallel (per-stream workers), which
 * removed that penalty (`x_flight_throughput_5m` at exact parity, 8 conns
 * vs 32), so the cap dropped to 8: every supported server type — the
 * reference's grpc thread-pool servers and graft's own — now takes stacked
 * streams at full throughput, and a 1000-executor fleet holds ~8k sockets
 * per endpoint instead of ~32k. Idle connections are reused across task
 * waves, so the count tracks peak CONCURRENCY, not partition count.
 *
 * Failure discipline: a partition that exhausts [[FlightClient]]'s own
 * reconnect/replay marks its lease DEAD — the client is evicted for new
 * acquisitions and closed when its last lease releases (holders in flight
 * keep it; their own retries may still revive its internal connection).
 * Healthy clients persist for the executor lifetime, like the worker pools.
 */
private[flight] object FlightClientCache {
  /** Connections per endpoint before leases start stacking as multiplexed
    * streams (why 8: see above). */
  val MaxConns = 8

  private final class Entry(val client: FlightClient) {
    var leases = 0
    var dead = false
  }
  private val cache =
    scala.collection.mutable.Map.empty[(String, Int), scala.collection.mutable.ArrayBuffer[Entry]]

  final class Lease private[FlightClientCache] (val client: FlightClient,
      entry: Entry, key: (String, Int)) {
    def release(): Unit = FlightClientCache.synchronized {
      entry.leases -= 1
      if (entry.dead && entry.leases == 0)
        try entry.client.close() catch { case _: Exception => }
    }
    /** Evict this client for future acquisitions (endpoint judged dead). */
    def markDead(): Unit = FlightClientCache.synchronized {
      if (!entry.dead) {
        entry.dead = true
        cache.get(key).foreach(_ -= entry)
      }
    }
  }

  /** Dials in flight per endpoint: a slot reserved under the lock while the
    * eager connect runs OUTSIDE it (a dial can block up to the connect
    * timeout on a dead endpoint — holding the global monitor through it
    * would stall every acquire/release/markDead executor-wide, including
    * leases to perfectly healthy endpoints). */
  private val dialing =
    scala.collection.mutable.Map.empty[(String, Int), Int].withDefaultValue(0)

  /** Spec seam: lets a test substitute a blocking/failing dial to prove the
    * dial runs outside the cache monitor. Production always dials real
    * clients (None). */
  @volatile private[flight] var dialOverride: Option[(String, Int) => FlightClient] = None
  private def dial(host: String, port: Int): FlightClient =
    dialOverride match {
      case Some(f) => f(host, port)
      case None => new FlightClient(host, port)
    }

  /** Lease a client for `endpoint`: an IDLE cached connection first (task
    * waves reuse the previous wave's sockets), a fresh dial below the cap
    * (slot reserved under the lock, socket dialed outside it), else stack
    * onto the least-loaded live connection. Only when every slot is a dial
    * still in flight and no live connection exists does a caller briefly
    * park (re-checked as dials land). Propagates dial failures (caller
    * rotates endpoints). */
  def acquire(host: String, port: Int): Lease = {
    val key = (host, port)
    while (true) {
      var mustDial = false
      synchronized {
        val list = cache.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty)
        list.find(e => !e.dead && e.leases == 0) match {
          case Some(idle) =>
            idle.leases += 1
            return new Lease(idle.client, idle, key)
          case None =>
            val live = list.filter(!_.dead)
            if (live.size + dialing(key) < MaxConns) {
              dialing(key) += 1
              mustDial = true
            } else if (live.nonEmpty) {
              val e = live.minBy(_.leases)
              e.leases += 1
              return new Lease(e.client, e, key)
            } else {
              // every slot is a concurrent dial to this endpoint; park until
              // one lands (notifyAll below) — timed, so a hung dial can't
              // strand waiters past its own failure propagating
              wait(1000)
            }
        }
      }
      if (mustDial) {
        var c: FlightClient = null
        try c = dial(host, port)
        finally if (c == null) synchronized { dialing(key) -= 1; notifyAll() }
        synchronized {
          dialing(key) -= 1
          val list = cache.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty)
          val e = new Entry(c)
          e.leases += 1
          list += e
          notifyAll()
          return new Lease(c, e, key)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Lazily-started in-process Flight SERVER fixture — graft's registry over
  * the real wire on loopback, so oracle queries can gate the server side
  * end-to-end (the Flight analogue of [[graft.remote.RemoteFixture]]). */
object FlightFixture {
  lazy val shared: FlightServer = new FlightServer()
  def port: Int = shared.boundPort
}

/** Launches the REAL pyarrow Flight UDF server fixture
  * (`tools/flightudf_server.py` — grpc-core + `pyarrow.flight`, the same
  * stack a reference `arrow_udf.UdfServer` deployment runs) and exposes its
  * bound port. The interop proof: graft's from-scratch gRPC/Flight client
  * calling a stock Flight server it shares zero code with. */
final class FlightWorker extends AutoCloseable {
  private val script: java.io.File = {
    val fromCwd = new java.io.File(sys.props("user.dir"), "tools/flightudf_server.py")
    val fromEnv = sys.env.get("GRAFT_FLIGHTUDF").map(new java.io.File(_))
    fromEnv.filter(_.isFile).orElse(Some(fromCwd).filter(_.isFile)).getOrElse(
      throw new IllegalStateException(
        s"tools/flightudf_server.py not found from ${sys.props("user.dir")} (set GRAFT_FLIGHTUDF)"))
  }

  private val proc: Process = new ProcessBuilder("python3", script.getAbsolutePath)
    .redirectError(ProcessBuilder.Redirect.INHERIT)
    .start()

  lazy val boundPort: Int = {
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    val line = br.readLine()
    if (line == null || !line.startsWith("PORT "))
      throw new IllegalStateException(s"flight udf server failed to start (got: $line)")
    line.stripPrefix("PORT ").trim.toInt
  }

  override def close(): Unit = proc.destroy()
}

/** Shared lazily-started Flight server pool (one grpc-core server is
  * GIL-bound on the python side for CPU work, but its grpc threads keep
  * several exchanges in flight; a small pool matches the CPython worker
  * pool's local-mode shape). */
object FlightWorker {
  private val poolSize: Int =
    sys.env.get("GRAFT_FLIGHTUDF_WORKERS").map(_.toInt).getOrElse(
      math.min(4, Runtime.getRuntime.availableProcessors()))

  lazy val shared: Seq[FlightWorker] = {
    val ws = (1 to poolSize).map(_ => new FlightWorker())
    sys.addShutdownHook(ws.foreach(_.close()))
    ws.foreach(_.boundPort)
    ws
  }
  def endpoints: Seq[(String, Int)] = shared.map(w => ("127.0.0.1", w.boundPort))
  def port: Int = shared.head.boundPort
}
