package graft

import graft.queries.MvQueries

/** The per-window `transformWithState` operators (live funnel, pattern NFA)
  * arm one event-time timer per key, with the key's first state, and never
  * list timers. Spark's timer state logs a WARN for a timer registered
  * twice, so a fixture replay that logs none registered each timer once.
  */
class StreamingTimerSpec extends SparkTestBase {

  test("funnel-live and NFA replays register each key's timer once: no TimerStateImpl warnings") {
    var rows = Map.empty[String, Long]
    val warned = timerWarnings {
      rows = Seq(MvQueries.qStreamFunnelFinal, MvQueries.qStreamPatternNfa,
          MvQueries.qStreamPatternNfaAll)
        .map(f => f.name -> f.build(spark, sfDir).count()).toMap
    }
    assert(warned.isEmpty, warned.mkString("\n"))
    assert(rows("q_stream_funnel_final") > 0, rows)
  }
}
