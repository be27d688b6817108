package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** [[Memo]]'s two tiers: nested builds, first-call races, failed builds and
  * session eviction.
  */
class MemoSpec extends SparkSpec {

  // one namespace per spec run, so earlier runs' pointers never satisfy a build
  private val ns = s"graft-memo-spec-${java.util.UUID.randomUUID()}"
  private def nsDir: Path = Paths.get(System.getProperty("java.io.tmpdir"), ns)

  override def afterAll(): Unit = {
    Fs.deleteTree(nsDir)
    super.afterAll()
  }

  /** Entries of the namespace for `kind`: (pointer files, build dirs). */
  private def entries(kind: String): (Int, Int) = {
    val names = Fs.list(nsDir).map(_.getFileName.toString).filter(_.startsWith(s"$kind-"))
    (names.count(_.endsWith(".path")), names.count(!_.endsWith(".path")))
  }

  private def writeValue(dir: Path, v: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("v"), v)
  }

  private def readValue(dir: String): String = Files.readString(Paths.get(dir, "v"))

  test("a machine build that calls a session memo and another machine memo completes") {
    val dir = Memo.machine(spark, ns, "outer", "corpus-a", "#v1") { out =>
      val n = Memo.session(spark, s"$ns:inner-count")(41) + 1
      val inner = Memo.machine(spark, ns, "inner", "corpus-a") { in => writeValue(in, "x") }
      writeValue(out, s"$n:${readValue(inner)}")
    }
    assert(readValue(dir) == "42:x")
    assert(entries("outer") == ((1, 1)))
    assert(entries("inner") == ((1, 1)))
    // a second call is served from the session tier: no rebuild
    assert(Memo.machine(spark, ns, "outer", "corpus-a", "#v1")(_ => fail("rebuilt")) == dir)
  }

  test("4 threads racing the first call run the build once and leave no orphan build dir") {
    val builds = new AtomicInteger()
    val start = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val results = (0 until 4).map(_ => pool.submit(() => {
        start.await()
        Memo.machine(spark, ns, "race", "corpus-b") { dir =>
          builds.incrementAndGet()
          Thread.sleep(200)
          writeValue(dir, "built")
        }
      })).map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(results.distinct.size == 1)
      assert(entries("race") == ((1, 1)))
    } finally pool.shutdown()
  }

  test("two sessions racing one machine entry publish one build and drop the loser's") {
    // distinct sessions hold distinct session-tier cells, so both build —
    // the cross-JVM case: the pointer write decides, the loser cleans up
    val other: SparkSession = spark.newSession()
    val bothBuilding = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = Seq(spark, other).map(sess => pool.submit(() =>
        Memo.machine(sess, ns, "cross", "corpus-c") { dir =>
          bothBuilding.await(60, TimeUnit.SECONDS)
          writeValue(dir, "built")
        })).map(_.get(120, TimeUnit.SECONDS))
      assert(results.distinct.size == 1)
      assert(entries("cross") == ((1, 1)), "the race loser must delete its build dir")
    } finally pool.shutdown()
  }

  test("a build that throws is retried on the next call and leaves nothing behind") {
    val calls = new AtomicInteger()
    intercept[IllegalStateException] {
      Memo.machine(spark, ns, "flaky", "corpus-d") { dir =>
        calls.incrementAndGet()
        writeValue(dir, "half")
        throw new IllegalStateException("build failed")
      }
    }
    assert(entries("flaky") == ((0, 0)))
    val dir = Memo.machine(spark, ns, "flaky", "corpus-d") { dir =>
      calls.incrementAndGet()
      writeValue(dir, "ok")
    }
    assert(calls.get == 2 && readValue(dir) == "ok")

    intercept[IllegalStateException](Memo.session[Int](spark, s"$ns:flaky") {
      throw new IllegalStateException("compute failed")
    })
    assert(Memo.session(spark, s"$ns:flaky")(7) == 7)
  }

  test("stopping the session evicts the session tier") {
    // The suite's shared session must outlive this spec, so the stop runs
    // in a child JVM on this test classpath (MemoEvictionProbe).
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx512m", s"-Djava.io.tmpdir=${nsDir.toString}") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.core.MemoEvictionProbe")
    Files.createDirectories(nsDir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(300, TimeUnit.SECONDS))
    assert(out.linesIterator.contains("entries before stop: 3, after stop: 0"), out.takeRight(2000))
  }
}

/** Child-JVM half of the eviction spec: memoizes into both tiers, stops the
  * session and reports the session-tier entries before and after.
  */
object MemoEvictionProbe {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local("memo-eviction-probe", "1")
    Memo.session(s, "probe:a")(1)
    Memo.session(s, "probe:b")("b")
    Memo.machine(s, "graft-memo-probe", "probe", "input") { dir =>
      Files.createDirectories(dir); ()
    }
    val before = Memo.sessionEntries(s)
    s.stop()
    println(s"entries before stop: $before, after stop: ${Memo.sessionEntries(s)}")
  }
}
