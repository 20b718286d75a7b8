package graft.sources

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The storage layer's one metadata cache: bounded with one-at-a-time
  * eviction, a hit only under an equal fingerprint, and counters that
  * account for every lookup. */
class MetaCacheSpec extends AnyFunSuite {

  test("writing twice the cap in distinct keys stays within the cap and counts evictions") {
    val cap = 64
    val c = new MetaCache[Int](cap)
    (0 until 2 * cap).foreach(i => c.get(s"k$i", "fp")(i): Unit)
    assert(c.size <= cap)
    assert(c.counters.evictions >= cap, c.counters)
    assert(c.counters.misses == 2L * cap && c.counters.hits == 0L)
    // the most recent insert is resident: a lookup hits without loading
    assert(c.get(s"k${2 * cap - 1}", "fp")(fail("the newest entry was evicted")) == 2 * cap - 1)
    assert(c.counters.hits == 1L)
  }

  test("a changed fingerprint reloads, counts a miss and replaces the entry") {
    val c = new MetaCache[String](8)
    assert(c.get("k", "1:10")("old") == "old")
    assert(c.get("k", "1:10")("unused") == "old")
    assert(c.get("k", "2:10")("new") == "new")
    assert(c.get("k", "2:10")("unused") == "new")
    assert(c.counters == MetaCache.Counters(hits = 2, misses = 2, evictions = 0))
  }

  test("\"absent\" is a fingerprint like any other") {
    val dir = java.nio.file.Files.createTempDirectory("graft-metacache")
    val f = new Path(dir.toString, "x.json")
    val fs = f.getFileSystem(new Configuration())
    val c = new MetaCache[Option[String]](8)
    val absent = MetaCache.fingerprint(fs, f)
    assert(absent == "absent")
    assert(c.get(f.toString, absent)(None).isEmpty)
    assert(c.get(f.toString, absent)(fail("an absent file must hit")).isEmpty)
    val out = fs.create(f)
    out.write("{}".getBytes("UTF-8"))
    out.close()
    val present = MetaCache.fingerprint(fs, f)
    assert(present.endsWith(":2"), present)
    assert(c.get(f.toString, present)(Some("{}")) == Some("{}"))
    assert(c.counters == MetaCache.Counters(hits = 1, misses = 2, evictions = 0))
  }

  test("8 threads reading one key all see the loaded value") {
    val c = new MetaCache[String](8)
    val loads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val results = (0 until 8).map { _ =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            (0 until 100).map(_ => c.get("k", "fp") { loads.incrementAndGet(); "v" })
          }
        })
      }
      start.countDown()
      assert(results.flatMap(_.get(1, TimeUnit.MINUTES)).forall(_ == "v"))
    } finally pool.shutdownNow(): Unit
    assert(loads.get() >= 1)
    assert(c.counters.hits + c.counters.misses == 800L)
    assert(c.counters.misses == loads.get().toLong)
  }
}
