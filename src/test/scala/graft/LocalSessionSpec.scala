package graft

import graft.streaming.Streams

/** Every entry point builds its session through [[LocalSession]]; the test
  * base does too, so the suite's session is the factory's.
  */
class LocalSessionSpec extends SparkTestBase {

  test("the session factory sets UTC, the checkpoint file manager and the codegen cache size") {
    val s = LocalSession(cpus = 4)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get(Streams.checkpointFiles._1) == Streams.checkpointFiles._2)
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(LocalSession.DefaultCpus == 4)
  }
}
