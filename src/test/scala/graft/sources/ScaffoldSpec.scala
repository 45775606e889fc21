package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the build-once memo's contract: concurrent first callers build
  * once, a throwing build caches nothing, every hit is re-validated,
  * nested builds on other keys never deadlock, and no hand-written
  * `TrieMap` memo creeps back into the engine. */
class ScaffoldSpec extends AnyFunSuite {

  /** Runs `f` on its own thread so a deadlock fails the test instead of
    * hanging the suite. */
  private def within[T](seconds: Int)(f: => T): T = {
    @volatile var out: Either[Throwable, T] = null
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    t.join(seconds * 1000L)
    assert(out != null, s"no result within $seconds s (deadlock?)")
    out.fold(e => throw e, identity)
  }

  test("8 concurrent first callers of one key build once and share the value") {
    val key = "spec|latch"
    val builds = new AtomicInteger()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val got = new Array[AnyRef](8)
    val callers = (0 until 8).map(i => new Thread(() =>
      got(i) = Scaffold.once(key, (_: AnyRef) => true) {
        builds.incrementAndGet()
        entered.countDown()
        release.await()
        new Object
      }))
    try {
      callers.foreach(_.start())
      assert(entered.await(30, TimeUnit.SECONDS))
      // hold the first build until the other 7 callers wait on the key
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      def blocked = callers.count(_.getState == Thread.State.BLOCKED)
      while (blocked < 7 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(blocked == 7, "the 7 later callers must wait, not build")
    } finally release.countDown()
    callers.foreach(_.join(30000))
    assert(builds.get == 1)
    assert(got.forall(v => v != null && (v eq got(0))))
    Scaffold.forget("spec|")
  }

  test("a throwing build caches nothing; the next call builds") {
    val key = "spec|throw"
    intercept[IllegalStateException] {
      Scaffold.once(key, (_: String) => true)(throw new IllegalStateException("boom"))
    }
    var builds = 0
    assert(Scaffold.once(key, (_: String) => true) { builds += 1; "ok" } == "ok")
    assert(builds == 1)
    Scaffold.forget("spec|")
  }

  test("an invalid hit rebuilds; a valid hit never calls build") {
    var ok = true
    var builds = 0
    def call(): Int = Scaffold.once("spec|valid", (_: Int) => ok) { builds += 1; builds }
    assert(call() == 1)
    assert(call() == 1 && builds == 1)
    ok = false
    assert(call() == 2 && builds == 2)
    ok = true
    assert(call() == 2 && builds == 2)
    Scaffold.forget("spec|")
  }

  test("nested once calls on different keys do not deadlock") {
    val outer = within(30) {
      Scaffold.once("spec|outer", (_: String) => true) {
        Scaffold.once("spec|inner", (_: String) => true)("inner") + "+outer"
      }
    }
    assert(outer == "inner+outer")
    assert(Scaffold.once("spec|inner", (_: String) => true)(fail("inner rebuilt")) == "inner")
    Scaffold.forget("spec|")
  }

  test("no TrieMap memo in src/main: Scaffold.once is the one per-JVM memo") {
    val s = Files.walk(Paths.get("src/main"))
    val files: Seq[Path] =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.endsWith("graft/sources/Scaffold.scala")), "source tree not found")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("TrieMap")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
