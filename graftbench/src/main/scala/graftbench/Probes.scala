package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.{IntegerType, LongType, Metadata}

/** Per-layer probes. Each is timed from outside, around a call into the
  * layer's public function, on the same generated rows and the same batch
  * size (8192 rows, the wire batch) the workloads use — calls made inside
  * Spark tasks cannot be timed from the driver, so the probe drives the
  * function directly. Scalars are medians; `samples` keep every call's
  * latency so the tail can be taken by the benchmark's percentile rule. */
final class Probes(spark: SparkSession, seed: Long) {
  private val Batch = 8192
  private val a = Array.tabulate(Batch)(i => Gen.draw(seed, 1, i, 1000000) + 1)
  private val b = Array.tabulate(Batch)(i => Gen.draw(seed, 2, i, 1000000) + 1)
  private val n = Array.tabulate(Batch)(i => Gen.draw(seed, 3, i, 199) + 1)
  private val v = Array.tabulate(Batch)(i => Gen.draw(seed, 5, i, 1000))
  private val abRows: Seq[Seq[Any]] = a.indices.map(i => Seq[Any](a(i), b(i)))
  /** Table-function calls fan out ~100x, so they send 1024 input rows. */
  private val nRows: Seq[Seq[Any]] = n.toSeq.take(1024).map(x => Seq[Any](x))
  private val vRows: Seq[Seq[Any]] = v.toSeq.map(x => Seq[Any](x))
  private val ii = Seq(IntegerType, IntegerType)

  val scalars = collection.mutable.LinkedHashMap.empty[String, Double]
  val samples = collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Time `body` `reps` times after `warm` untimed calls; seconds each. */
  private def times(reps: Int, warm: Int = 3)(body: => Any): Seq[Double] = {
    (1 to warm).foreach(_ => body)
    (1 to reps).map(_ => Clock.time(body)._2)
  }

  private def probe(metric: String, layer: String, scale: Double, reps: Int, warm: Int = 3)
                   (body: => Any): Unit =
    Trace.span("probe:" + metric, layer) {
      scalars(metric) = median(times(reps, warm)(body)) * scale
    }

  private def sampled(metric: String, layer: String, reps: Int)(body: => Any): Unit =
    Trace.span("probe:" + metric, layer) {
      samples(metric) = times(reps, 5)(body).map(_ * 1e3)
    }

  private val nsPerRow = 1e9 / 8192

  def run(): Unit = {
    Registrations.ensure()
    val reg = graft.sig.Registry.global

    // graft: a fresh session's full install, then the memo hit
    probe("graft.install_s", "graft", 1.0, 3, warm = 0) {
      graft.Graft.install(spark.newSession())
    }
    val installed = spark.newSession()
    graft.Graft.install(installed)
    probe("graft.install_repeat_us", "graft", 1e6 / 1000, 20) {
      var i = 0
      while (i < 1000) { graft.Graft.install(installed); i += 1 }
    }

    // sig: overload resolution
    val intArgs = Seq((IntegerType, Metadata.empty), (IntegerType, Metadata.empty))
    probe("sig.resolve_us", "sig", 1e6 / 10000, 20) {
      var i = 0
      while (i < 10000) { reg.resolve("gcd", intArgs); i += 1 }
    }

    // functions: native kernel, generic invoke, table function, typed aggregate
    probe("functions.kernel_ns_per_row", "functions", nsPerRow, 50) {
      var i = 0; var acc = 0L
      while (i < Batch) { acc += graft.functions.Kernels.gcd(a(i), b(i)); i += 1 }
      acc
    }
    val gcdFn = reg.lookup("graftbench_gcd").head.impl
      .asInstanceOf[graft.functions.ScalarImpl].f
    val invoke = graft.functions.ScalarInvoke("graftbench_gcd", gcdFn, IntegerType,
      Seq(BoundReference(0, IntegerType, nullable = false),
        BoundReference(1, IntegerType, nullable = false)))
    val abInternal: Array[InternalRow] =
      a.indices.map(i => new GenericInternalRow(Array[Any](a(i), b(i))): InternalRow).toArray
    probe("functions.invoke_ns_per_row", "functions", nsPerRow, 30) {
      var i = 0
      while (i < Batch) { invoke.eval(abInternal(i)); i += 1 }
    }
    val rangeFn = reg.lookup("range_setof").head.impl.asInstanceOf[graft.functions.TableImpl].f
    val table = graft.functions.TableFnInvoke("range_setof", rangeFn, IntegerType,
      Seq(BoundReference(0, IntegerType, nullable = false)))
    val nInternal: Array[InternalRow] =
      n.map(x => new GenericInternalRow(Array[Any](x)): InternalRow)
    val outRows = n.map(_.toLong).sum
    probe("functions.table_ns_per_out_row", "functions", 1e9 / outRows, 10) {
      var i = 0; var c = 0L
      while (i < Batch) { c += table.eval(nInternal(i)).iterator.size; i += 1 }
      c
    }
    val sumAgg = new graft.functions.SumAgg
    val vExt: Array[Row] = v.map(x => Row(x))
    probe("functions.agg_ns_per_row", "functions", nsPerRow, 30) {
      // four partial states (one per partition), then the merge
      val parts = (0 until 4).map { p =>
        var st = sumAgg.createState(); var i = p
        while (i < Batch) { st = sumAgg.accumulate(st, vExt(i)); i += 4 }
        st
      }
      sumAgg.finish(parts.reduce(sumAgg.merge))
    }

    // plans: the columnar kernel over one batch
    val ca = new OnHeapColumnVector(Batch, IntegerType)
    val cb = new OnHeapColumnVector(Batch, IntegerType)
    a.indices.foreach { i => ca.putInt(i, a(i)); cb.putInt(i, b(i)) }
    val cout = new OnHeapColumnVector(Batch, IntegerType)
    probe("plans.columnar_ns_per_row", "plans", nsPerRow, 50) {
      graft.plans.ColumnarMap.GcdKernel.apply(Seq(ca, cb), Batch, cout)
    }

    // wasm: per-call interpretation, pool borrow, module decode
    val bytes = graft.wasm.WasmKernels.moduleBytes
    val cfg = graft.wasm.WasmConfig()
    probe("wasm.decode_ms", "wasm", 1e3, 20)(graft.wasm.WasmModule.decode(bytes))
    val inst = new graft.wasm.WasmInstance(graft.wasm.WasmModule.decode(bytes), cfg)
    val bound = inst.bind(graft.wasm.WasmUdf.exportName("wasm_gcd(bigint,bigint) -> bigint"))
    val args = new Array[Long](2)
    probe("wasm.call_ns", "wasm", nsPerRow, 20) {
      var i = 0
      while (i < Batch) { args(0) = a(i); args(1) = b(i); inst.invokeBound(bound, args); i += 1 }
    }
    val key = graft.wasm.WasmPool.keyOf(bytes, cfg)
    probe("wasm.pool_us", "wasm", 1e6 / 10000, 20) {
      var i = 0
      while (i < 10000) {
        graft.wasm.WasmPool.release(key, graft.wasm.WasmPool.acquire(key, bytes, cfg)); i += 1
      }
    }

    // runtime: the graftscript SPI, batched scalar call and aggregate step
    val rt = new graft.runtime.ScriptRuntime()
    rt.addFunction("graftbench_step", LongType, graft.sig.CallMode.ReturnNullOnNullInput,
      Registrations.stepCode)
    val cols: Seq[Array[Any]] = Seq(a.map(x => x.toLong: Any), b.map(x => x.toLong: Any))
    probe("runtime.call_batch_ns_per_row", "runtime", nsPerRow, 10) {
      rt.callBatch("graftbench_step", cols, Batch)
    }
    rt.addAggregate("graftbench_sumsq", LongType, graft.runtime.AggregateCode(
      init = "(fn () 0)", accumulate = "(fn (s x) (+ s (* x x)))",
      retract = Some("(fn (s x) (- s (* x x)))"), merge = "(fn (a b) (+ a b))",
      finish = "(fn (s) s)"))
    val vLong: Array[Seq[Any]] = v.map(x => Seq[Any](x.toLong))
    probe("runtime.agg_ns_per_row", "runtime", nsPerRow, 10) {
      var st = rt.aggCreateState("graftbench_sumsq"); var i = 0
      while (i < Batch) { st = rt.aggAccumulate("graftbench_sumsq", st, vLong(i)); i += 1 }
      st
    }

    // remote: the raw Arrow-IPC wire and the CPython / Node sidecars
    val udf = new graft.remote.UdfServer()
    try {
      probe("remote.connect_ms", "remote", 1e3, 20) {
        val c = new graft.remote.UdfClient("127.0.0.1", udf.boundPort)
        try c.version() finally c.close()
      }
      val c = new graft.remote.UdfClient("127.0.0.1", udf.boundPort)
      try {
        sampled("remote.call_ms", "remote", 100)(c.call("gcd", ii, abRows))
        probe("remote.table_call_ms", "remote", 1e3, 10)(c.callTable("range_setof", Seq(IntegerType), nRows))
        val st0 = c.accCreate("sum_udaf")
        probe("remote.agg_call_ms", "remote", 1e3, 30)(c.accumulate("sum_udaf", st0, Seq(IntegerType), vRows))
      } finally c.close()

      probe("remote.worker_start_s", "remote", 1.0, 3, warm = 0) {
        val w = new graft.remote.PythonWorker()
        try w.boundPort finally w.close()
      }
      val py = new graft.remote.PythonWorker()
      try {
        val pc = new graft.remote.UdfClient("127.0.0.1", py.boundPort)
        try probe("remote.py_call_ms", "remote", 1e3, 20)(pc.call("gcd", ii, abRows))
        finally pc.close()
      } finally py.close()
      val js = new graft.remote.JsWorker()
      try {
        val jc = new graft.remote.JsUdfClient("127.0.0.1", js.boundPort)
        try probe("remote.js_call_ms", "remote", 1e3, 20)(jc.call("gcd", IntegerType, abRows))
        finally jc.close()
      } finally js.close()

      // remote.flight: server start, connect, call, one streamed chunk
      probe("flight.server_start_ms", "remote.flight", 1e3, 10) {
        new graft.remote.flight.FlightServer(backendPort = () => udf.boundPort).close(0L)
      }
      val fs = new graft.remote.flight.FlightServer(backendPort = () => udf.boundPort)
      try {
        probe("flight.connect_ms", "remote.flight", 1e3, 20) {
          new graft.remote.flight.FlightClient("127.0.0.1", fs.boundPort).close()
        }
        val fc = new graft.remote.flight.FlightClient("127.0.0.1", fs.boundPort)
        try {
          sampled("flight.call_ms", "remote.flight", 100)(fc.call("gcd", ii, abRows))
          val ex = fc.openExchange("gcd", ii)
          try probe("flight.stream_chunk_ms", "remote.flight", 1e3, 50)(ex.call(abRows))
          finally ex.close()
        } finally fc.close()
      } finally fs.close(0L)
    } finally udf.close()
  }
}

/** The benchmark's own registrations, through graft's public API. */
object Registrations {
  /** graftscript has no loops or recursion: one Euclid step instead of gcd. */
  val stepCode = "(fn (a b) (if (= b 0) a (% a b)))"

  def ensure(): Unit = {
    graft.functions.Builtins.ensureRegistered()
    graft.functions.Udf.scalar2[Int, Int, Int]("graftbench_gcd(int, int) -> int")(
      (a, b) => graft.functions.Kernels.gcd(a, b))
    graft.runtime.ScriptUdf.register("graftbench_step(bigint, bigint) -> bigint", stepCode)
  }
}
