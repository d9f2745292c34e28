package graft

import graft.queries.{FixtureOnce, RetrievalQueries}

/** FixtureOnce (queries/Fixture.scala): the session-scoped ingest
  * memoization must leave a re-run fixture's RESULTS identical — the
  * second run serves from the already-built index instead of rebuilding.
  */
class FixtureOnceSpec extends SparkTestBase {

  test("second run of an index-at-rest fixture skips the build, same rows") {
    val fx = RetrievalQueries.qBm25Index
    val first = fx.build(spark, sfDir).collect().map(_.toSeq).toSeq
    val second = fx.build(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(first == second && first.nonEmpty)
  }

  test("bodies run exactly once per key, always for new keys") {
    var n = 0
    FixtureOnce("fixture_once_spec_k1") { n += 1 }
    FixtureOnce("fixture_once_spec_k1") { n += 1 }
    FixtureOnce("fixture_once_spec_k2") { n += 1 }
    assert(n == 2)
  }

  test("a build that throws is not done: the next attempt rebuilds") {
    var n = 0
    intercept[IllegalStateException] {
      FixtureOnce("fixture_once_spec_fail") {
        n += 1
        throw new IllegalStateException("first build fails")
      }
    }
    FixtureOnce("fixture_once_spec_fail") { n += 1 }
    FixtureOnce("fixture_once_spec_fail") { n += 1 }
    assert(n == 2)
  }

  test("a concurrent caller waits for the running build instead of skipping it") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var built = false
    @volatile var sawBuilt = false
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val first = new Thread(() => FixtureOnce("fixture_once_spec_race") {
      runs.incrementAndGet(); started.countDown(); release.await(); built = true
    })
    val second = new Thread(() => {
      started.await()
      FixtureOnce("fixture_once_spec_race") { runs.incrementAndGet() }
      sawBuilt = built
    })
    first.start(); second.start()
    started.await()
    Thread.sleep(100)
    release.countDown()
    first.join(10000); second.join(10000)
    assert(runs.get == 1 && sawBuilt)
  }
}
