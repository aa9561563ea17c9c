package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.BuildOnce

class BuildOnceSpec extends AnyFunSuite {

  test("concurrent callers on one key run the build once") {
    val builds = new AtomicInteger()
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            BuildOnce("spec_concurrent", "sf") {
              builds.incrementAndGet()
              Thread.sleep(100)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build that throws is not memoized: the next call retries it") {
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      BuildOnce("spec_throws", "sf") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(e.getMessage === "first build fails")
    val v = BuildOnce("spec_throws", "sf") { builds.incrementAndGet(); "built" }
    assert(v === "built")
    assert(BuildOnce("spec_throws", "sf") { builds.incrementAndGet(); "again" } === "built")
    assert(builds.get === 2)
  }

  test("keys are (name, sfDir): another sfDir is another build") {
    val a = BuildOnce("spec_keys", "sf_a") { "a" }
    val b = BuildOnce("spec_keys", "sf_b") { "b" }
    assert((a, b) === (("a", "b")))
  }

  test("clear() makes the next dir(key) write a new directory") {
    val writes = new AtomicInteger()
    def build(): String = BuildOnce.dir("spec_clear", "sf") { d =>
      writes.incrementAndGet()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "marker"), "x")
    }
    val d1 = build()
    assert(build() === d1)
    assert(writes.get === 1)
    BuildOnce.clear()
    val d2 = build()
    assert(d2 !== d1)
    assert(writes.get === 2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d2, "marker")))
    assert(new java.io.File(d2).getName.startsWith("spec_clear"))
  }

  test("clear() deletes the dirs dir(key) built") {
    val d = BuildOnce.dir("spec_clear_deletes", "sf") { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d, "sub"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "sub", "f"), "x")
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d, "sub", "f")))
    BuildOnce.clear()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
  }
}
