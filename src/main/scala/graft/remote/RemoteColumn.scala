package graft.remote

import graft.remote.flight.GrpcStatusException
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** How a remote column call builds its output rows. */
sealed trait ResultMode
object ResultMode {
  /** Input columns plus `value`, one result per input row. */
  case object Value extends ResultMode
  /** Input columns plus `value` AND `error` — the fallible call: a row whose
    * guest evaluation throws carries (NULL, message) instead of failing the
    * partition, mirroring the in-process `FallibleScalarInvoke` error column. */
  case object ValueError extends ResultMode
  /** Each input row explodes into the table function's yields, input columns
    * plus `value` (generator semantics over the wire, reference
    * `call_table_function`). */
  case object Table extends ResultMode
}

/** The one partition driver behind every remote column call (raw Arrow-IPC,
  * JS and Flight wires) — the reference client (`remote/mod.rs:36-156`)
  * embedded in a `mapPartitions`. Each wire supplies only a [[Conn]]
  * adapter; the driver owns the rest:
  *
  *  - narrow inputs fan out to the scheduler's default parallelism (the
  *    exchange is latency-bound, so partitions are the throughput lever: a
  *    single-file scan arrives as ONE partition and would serialize every
  *    chunk);
  *  - partitions round-robin across `endpoints` by partition id; a dead
  *    endpoint at connect time is skipped, and a fully-dead ring is re-tried
  *    with exponential backoff (covers a restarting server's window) before
  *    the task fails and Spark's task retry takes over;
  *  - ONE bounded chunk per exchange — the no-deadlock invariant: a
  *    half-duplex client writes the whole request before reading, so
  *    request+response must stay bounded by a single batch;
  *  - after a transport `IOException` the endpoint is judged dead and the
  *    chunk in flight replays on the next endpoint (chunks are stateless and
  *    independent, so a replay is idempotent and already-emitted chunks are
  *    untouched). A deadline timeout, an ERR line or gRPC status (the server
  *    answered) or an auth refusal is never replayed;
  *  - the connection is released when the task completes. */
private[remote] object PartitionDriver {
  /** One wire's connection to one endpoint, opened on the executor. */
  trait Conn {
    def call(rows: Seq[Seq[Any]]): Seq[Any]
    def callWithErrors(rows: Seq[Seq[Any]]): Seq[(Any, String)]
    def callTable(rows: Seq[Seq[Any]]): Seq[(Int, Any)]
    /** Give the connection back; `dead` = its endpoint failed, do not reuse. */
    def release(dead: Boolean): Unit
  }

  private val ConnectPasses = 5

  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Evaluate `mode` over `argCols` of `df`; `open(host, port, argTypes)`
    * dials one endpoint (an `IOException` marks it dead). */
  def withColumn(df: DataFrame, endpoints: Seq[(String, Int)], argCols: Seq[String],
      retType: DataType, mode: ResultMode, batchRows: Int)(
      open: (String, Int, Seq[DataType]) => Conn): DataFrame = {
    require(endpoints.nonEmpty, "a remote column call needs at least one endpoint")
    val argTypes = argCols.map(c => df.schema(c).dataType)
    val argIdx = argCols.map(df.schema.fieldIndex)
    val extra = StructField("value", retType) +:
      (if (mode == ResultMode.ValueError) Seq(StructField("error", StringType)) else Nil)
    val enc = Encoders.row(StructType(df.schema.fields ++ extra))
    val eps = endpoints.toIndexedSeq
    fanOut(df).mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val ctx = Option(TaskContext.get())
        var epIdx = ctx.map(_.partitionId()).getOrElse(0) % eps.size
        var conn: Conn = null
        def drop(dead: Boolean): Unit =
          if (conn != null) { val c = conn; conn = null; c.release(dead) }
        def connect(): Unit = {
          var pass = 0
          var last: Throwable = null
          while (conn == null && pass < ConnectPasses) {
            var tries = 0
            while (conn == null && tries < eps.size) {
              val (host, port) = eps((epIdx + tries) % eps.size)
              try {
                conn = open(host, port, argTypes)
                epIdx = (epIdx + tries) % eps.size
              } catch {
                case e: java.io.IOException => last = e; tries += 1
              }
            }
            pass += 1
            if (conn == null && pass < ConnectPasses) Thread.sleep(250L << pass)
          }
          if (conn == null) throw last
        }
        connect()
        ctx.foreach(_.addTaskCompletionListener[Unit](_ => drop(dead = false)))
        it.grouped(batchRows).flatMap { chunk0 =>
          val chunk = chunk0.toIndexedSeq
          val rows = chunk.map(r => argIdx.map(r.get))
          var failedOver = 0
          var res: Iterator[Row] = null
          while (res == null) {
            try res = evaluate(conn, mode, chunk, rows)
            catch {
              case e: GrpcStatusException => throw e // server answered
              case e: java.net.SocketTimeoutException =>
                // deadline: the task stays aborted (containment), but the
                // endpoint just proved itself hung — drop it so no later
                // task inherits a connection whose server sat on a read
                drop(dead = true)
                throw e
              case e: java.io.IOException =>
                // this endpoint is dead past the client's own retries:
                // rotate (one full ring pass, plus one — a single-endpoint
                // pool gets a reconnect-with-backoff shot at its restarted
                // server) and replay the chunk there
                failedOver += 1
                if (failedOver > eps.size) throw e
                drop(dead = true)
                epIdx = (epIdx + 1) % eps.size
                connect()
            }
          }
          res
        }
      }
    }(enc)
  }

  /** One exchange; the wire call completes before any output row is built. */
  private def evaluate(conn: Conn, mode: ResultMode, chunk: IndexedSeq[Row],
      rows: Seq[Seq[Any]]): Iterator[Row] = mode match {
    case ResultMode.Value =>
      chunk.iterator.zip(conn.call(rows).iterator).map {
        case (r, v) => Row.fromSeq(r.toSeq :+ v)
      }
    case ResultMode.ValueError =>
      chunk.iterator.zip(conn.callWithErrors(rows).iterator).map {
        case (r, (v, e)) => Row.fromSeq(r.toSeq :+ v :+ e)
      }
    case ResultMode.Table =>
      conn.callTable(rows).iterator.map {
        case (rowIdx, v) => Row.fromSeq(chunk(rowIdx).toSeq :+ v)
      }
  }
}
