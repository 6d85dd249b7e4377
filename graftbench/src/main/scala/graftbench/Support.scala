package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON rendering for the raw result file (no JSON library is on
  * the benchmark's classpath that graft does not already ship). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Seeded input generation. Every input value is a pure function of
  * (seed, stream, index), so the plain-Scala reference results below can be
  * recomputed without reading anything back from the engine. */
object Gen {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, bound). */
  def draw(seed: Long, stream: Int, i: Long, bound: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed * 1000003L + stream) + i), bound.toLong).toInt

  /** Seeded permutation of 0 until n. */
  def permutation(seed: Long, n: Int): IndexedSeq[Int] =
    (0 until n).sortBy(i => mix(seed * 7919L + i))

  /** Plain Euclid, independent of graft's kernels. */
  @annotation.tailrec
  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}

/** Wall-clock helpers. */
object Clock {
  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[A](f: => A): (A, Double) = {
    val t0 = now()
    val a = f
    (a, secondsSince(t0))
  }
}

/** In-memory span recorder. Spans are kept in a buffer and written out when
  * the run ends; recording is off unless [[on]] is set, so untraced code
  * paths pay one branch per boundary. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String, op: Int,
                        start: Long, var end: Long)

  @volatile var on: Boolean = false
  var currentOp: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val s = Span(spans.length, stack.headOption.getOrElse(-1), name, layer, currentOp,
        System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Planner phase time per operation, ms. */
  val planMs = mutable.HashMap.empty[Int, Long]
  def addPlan(ms: Long): Unit = planMs(currentOp) = planMs.getOrElse(currentOp, 0L) + ms

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "start" -> s.start, "end" -> s.end)))
    } finally w.close()
  }
}

/** Spark counters scoped by job group: every timed operation runs under its
  * own group, so task metrics attribute to it exactly. Counting happens on
  * the listener bus thread; [[drain]] waits for it before reading. */
final class SparkCounters extends SparkListener {
  final class C {
    var jobs = 0L; var tasks = 0L; var retries = 0L
    var schedWaitMs = 0L; var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var recordsRead = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "task_retries" -> retries,
      "sched_wait_s" -> schedWaitMs / 1e3, "task_busy_s" -> busyMs / 1e3,
      "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "records_read" -> recordsRead)
  }

  private val groups = mutable.HashMap.empty[String, C]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      groups.getOrElseUpdate(group, new C).jobs += 1
      e.stageIds.foreach(id => stageGroup(id) = group)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val c = groups.getOrElseUpdate(group, new C)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0) c.retries += 1
      stageSubmitted.get(e.stageId).foreach(t => c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        c.busyMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  /** Counters of `group` and of its sub-groups (`group.<stage>`). */
  def get(group: String): C = synchronized {
    val sum = new C
    groups.foreach { case (g, c) =>
      if (g == group || g.startsWith(group + ".")) {
        sum.jobs += c.jobs; sum.tasks += c.tasks; sum.retries += c.retries
        sum.schedWaitMs += c.schedWaitMs; sum.busyMs += c.busyMs; sum.cpuNs += c.cpuNs
        sum.gcMs += c.gcMs; sum.shuffleBytes += c.shuffleBytes; sum.spillBytes += c.spillBytes
        sum.recordsRead += c.recordsRead
      }
    }
    sum
  }

  /** Run `f` with every job it submits tagged with `group`. */
  def inGroup[A](spark: SparkSession, group: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }
}

/** Host speed: a fixed CPU-bound job on every core, run just before each
  * timed operation. On a shared host a neighbour's load slows this job and
  * the operation alike; the ratio of the two is what metrics.py reports. */
object Calibration {
  private val threads = Host.nproc
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
    (r: Runnable) => { val t = new Thread(r, "graftbench-calibration"); t.setDaemon(true); t })
  private val Words = 1 << 14 // 128 KiB per thread, within one core's cache
  private val Passes = 96
  @volatile private var sink = 0L

  /** Seconds one thread takes for its share of the job. */
  private def job(seed: Long): Double = {
    val t0 = System.nanoTime()
    val a = Array.tabulate(Words)(i => Gen.mix(seed + i))
    var acc = 0L; var p = 0
    while (p < Passes) {
      var i = 0
      while (i < Words) { acc = Gen.mix(acc ^ a(i)); a(i) = acc; i += 1 }
      p += 1
    }
    sink ^= acc
    (System.nanoTime() - t0) / 1e9
  }

  /** The median thread's time for the job run on every core at once. */
  def run(): Double = {
    val fs = (0 until threads).map(i => pool.submit(() => job(i.toLong)))
    val ts = fs.map(_.get()).sorted
    ts(ts.size / 2)
  }
}

/** Facts about the host and this JVM. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    catch { case _: Throwable => "" }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
}

/** Session construction: one local session per run, `local[nproc]`, with
  * every scratch directory inside the run's work directory. */
object Session {
  def build(work: String): SparkSession = {
    val n = Host.nproc.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A session with graft's extensions (GraftColumnarRule) on the running
    * context — the only place the batched wasm kernel lowers. */
  def withExtensions(base: SparkSession): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().withExtensions(new graft.GraftExtensions()(_)).getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }
}
