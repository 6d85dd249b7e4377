package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.registerTables` infers the ten tables once per session and
  * data snapshot, and registers them again whenever the directory, a data
  * file, an inference setting or one of the views has changed. */
class TableRegistrationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val source = java.nio.file.Paths.get("/root/testdata/sf0.001")
  private val tmp = Files.createTempDirectory("graft-registration")

  /** A writable copy of the sf0.001 tables, minus `omit`. */
  private def copy(name: String, omit: Set[String] = Set.empty): String = {
    val dir = Files.createDirectory(tmp.resolve(name))
    Files.list(source).forEach { f =>
      if (!omit(f.getFileName.toString)) Files.copy(f, dir.resolve(f.getFileName))
    }
    dir.toString
  }

  override def afterAll(): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
      Files.deleteIfExists(p)
    }
    rm(tmp)
  }

  private def session(): SparkSession = TestSpark.spark.newSession()

  /** Spark jobs started by `f` on this thread. The status store is fed by
    * the listener bus in order, so once a marker job run afterwards is
    * visible, every job `f` started is too. */
  private def jobs(s: SparkSession)(f: => Unit): Int = {
    val sc = s.sparkContext
    val g = s"registration-${java.util.UUID.randomUUID}"
    def inGroup(group: String)(body: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    inGroup(g)(f)
    inGroup(g + "-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(g + "-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status store")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(g).length
  }

  private def run(q: String, s: SparkSession, dir: String): Seq[Row] =
    SparkEntry.queries(q)(s, dir).collect().toSeq

  test("the second build on a session runs no schema-inference job") {
    val (s, dir) = (session(), copy("second"))
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) >= 10)
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) == 0)
    assert(jobs(s)(SparkEntry.queries("q_timestamptz")(s, dir)) == 0)
  }

  test("an overwritten table file is read again") {
    val (s, dir) = (session(), copy("overwrite"))
    val n = run("q_gcd", s, dir).size
    assert(n > 10)
    val lineitem = java.nio.file.Paths.get(dir, "lineitem.parquet")
    Files.delete(lineitem)
    s.read.parquet(source.resolve("lineitem.parquet").toString).limit(10).coalesce(1)
      .write.parquet(lineitem.toString)
    assert(run("q_gcd", s, dir).size == 10)
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) == 0)
  }

  test("a dropped or replaced view is registered again") {
    val dir = copy("views")
    val fresh = session()
    val (orders, lineitem) = (run("q_timestamptz", fresh, dir), run("q_gcd", fresh, dir))
    val s = session()
    run("q_gcd", s, dir)
    s.catalog.dropTempView("orders")
    assert(jobs(s)(assert(run("q_timestamptz", s, dir) == orders)) >= 10)
    s.range(3).toDF("l_orderkey").createOrReplaceTempView("lineitem")
    assert(jobs(s)(assert(run("q_gcd", s, dir) == lineitem)) >= 10)
    // a view over the same path, read again, is another view
    s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) >= 10)
  }

  test("changing an inference setting causes a miss") {
    val (s, dir) = (session(), copy("settings"))
    SparkEntry.queries("q_gcd")(s, dir)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) >= 10)
    assert(jobs(s)(SparkEntry.queries("q_gcd")(s, dir)) == 0)
  }

  test("another session on the same directory gets identical results") {
    val dir = copy("sessions")
    val (a, b) = (session(), session())
    val ra = run("q_gcd", a, dir)
    assert(jobs(b)(assert(run("q_gcd", b, dir) == ra)) >= 10)
    assert(run("q_timestamptz", a, dir) == run("q_timestamptz", b, dir))
  }

  test("a directory without lineitem.parquet still throws AnalysisException") {
    val (good, bad) = (copy("good"), copy("bad", omit = Set("lineitem.parquet")))
    intercept[AnalysisException](SparkEntry.queries("q_gcd")(session(), bad))
    val s = session()
    val rows = run("q_gcd", s, good)
    intercept[AnalysisException](SparkEntry.queries("q_gcd")(s, bad))
    assert(run("q_gcd", s, good) == rows)
  }
}
