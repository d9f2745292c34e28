package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator fixture: a Spark query plus (when SQL-expressible)
  * the equivalent DuckDB SQL the driver's oracle runs on the same parquet.
  * Column names/aliases MUST match between the two — the compare sorts columns
  * by name before hashing.
  */
final case class Fixture(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Session-scoped once-only execution for fixture INGEST work whose output
  * is immutable for the life of the JVM — index builds over per-sfDir
  * source tables (the tables never change, the build recipe is fixed at
  * compile time, and the table name is keyed by the sfDir hash). The bench
  * loop re-runs each fixture several times; re-paying the index build on
  * every warm iteration measures ingest, not serving — exactly the split
  * the at-rest fixtures exist to demonstrate. Verify still pays every
  * build once per JVM. NOT for fixtures that append or mutate: an append
  * run twice is a different index.
  *
  * A key counts as done only once its body has returned: a build that throws
  * (or is interrupted) is retried by the next caller instead of leaving a
  * missing or half-written index behind. A per-key lock makes a concurrent
  * caller wait for the running build rather than read its output early.
  */
object FixtureOnce {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def apply(key: String)(body: => Unit): Unit =
    if (!done.contains(key)) locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      if (!done.contains(key)) { body; done.add(key) }
    }
}

object SqlGen {
  /** DuckDB fragment: the largest multiple of `b` (> 0) that is ≤ `a`.
    * DuckDB's integer `//` and `%` truncate toward zero, so the floor is
    * taken through a non-negative remainder.
    */
  private def floorTo(a: String, b: Long): String = s"(($a) - ((($a) % $b) + $b) % $b)"

  /** DuckDB fragment: epoch seconds (floor) of a timestamp column, as
    * `TimeWindows.epochSeconds`, before 1970 too.
    */
  def es(tsCol: String): String =
    s"${floorTo(s"epoch_us($tsCol::TIMESTAMP)", 1000000)} // 1000000"

  /** DuckDB fragment that expands a row at epoch-second `es` to every
    * window-start `ws` of a (size, slide) sliding window containing it —
    * the declarative mirror of TimeWindows: ws ∈ [es − size + 1, es],
    * ws ≡ 0 (mod slide).
    */
  def wsExpand(size: Long, slide: Long): String =
    s"unnest(generate_series(${floorTo(s"es - $size + $slide", slide)}, ${floorTo("es", slide)}, $slide)) AS ws"

}
