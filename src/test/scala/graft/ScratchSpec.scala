package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Scratch

/** The staging memo and scratch dirs of [[graft.queries.Scratch]]. */
class ScratchSpec extends AnyFunSuite {

  private val ids = new AtomicInteger(0)
  /** A name no other test (or stage) uses. */
  private def fresh(): String = s"scratch_spec_${ids.incrementAndGet()}"

  test("once: 8 concurrent callers of one key build it once and share the value") {
    val name = fresh()
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            Scratch.once(name, "sf") {
              builds.incrementAndGet()
              Thread.sleep(200)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get() == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("once: a nested once on another key inside a build works") {
    val (outer, inner) = (fresh(), fresh())
    val v = Scratch.once(outer, "sf") {
      Scratch.once(inner, "sf")(20) + 1
    }
    assert(v == 21)
    assert(Scratch.once(inner, "sf")(-1) == 20)
    assert(Scratch.once(outer, "sf")(-1) == 21)
  }

  test("once: a build that throws is retried on the next call, not cached") {
    val name = fresh()
    val builds = new AtomicInteger(0)
    def build(): String =
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else "built"
    assertThrows[IllegalStateException](Scratch.once(name, "sf")(build()))
    assert(Scratch.once(name, "sf")(build()) == "built")
    assert(Scratch.once(name, "sf")(build()) == "built")
    assert(builds.get() == 2)
  }

  test("once: two names with the same sf dir do not collide") {
    val (a, b) = (fresh(), fresh())
    assert(Scratch.once(a, "sf")("a") == "a")
    assert(Scratch.once(b, "sf")("b") == "b")
    assert(Scratch.once(a, "sf")("x") == "a")
    assert(Scratch.once(a, "other")("c") == "c")
  }

  test("dir is a fresh dir under the run's root; delete removes a whole tree") {
    val d = Paths.get(Scratch.dir("graft_spec_"))
    assert(d.getParent == Scratch.root && Files.isDirectory(d))
    assert(Scratch.root.getFileName.toString.startsWith(s"graft_run_${ProcessHandle.current().pid()}_"))
    Files.createDirectories(d.resolve("a/b"))
    Files.writeString(d.resolve("a/b/f.txt"), "x")
    Scratch.delete(d.toString)
    assert(!Files.exists(d))
    Scratch.delete(d.toString) // a missing path is a no-op
  }
}
