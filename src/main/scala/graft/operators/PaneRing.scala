package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LightSaber's pane ring: one key's gcd(size, slide) pane partials in
  * event-time order, merged into (size, slide) windows. One kernel behind
  * both twins: level 2 of the batch [[TimeWindows.aggregatePaned]]
  * ([[windows]], one pane-ordered pass per partition) and the streaming
  * `Streams.windowAggPaned` operator (one ring per key in its state).
  *
  * Each window is merged directly from its size/pane panes, in pane order;
  * nothing is subtracted when a pane is evicted, so a window's value does
  * not depend on what the ring held before it.
  */
private[graft] object PaneRing {

  /** The rows the ring reads: `__pane` (start, epoch seconds), then per
    * aggregate j its value `__v<j>` in its lane type ([[kernel]]; null
    * for CNT), then, where rows are partials, per aggregate its count
    * `__n<j>` ([[countCols]]), then the key columns. A raw row counts 1 for
    * CNT and for each non-null value.
    */
  def valueCols(aggs: Seq[AggSpec])(value: (AggSpec, Int) => Column): Seq[Column] =
    aggs.zipWithIndex.map { case (a, j) => value(a, j).as(s"__v$j") }

  /** The counts of partial rows: the rows (CNT) or non-null inputs (AVG)
    * folded in; for SUM, MIN and MAX only whether it is 0 matters. A value
    * with count 0 is not read.
    */
  def countCols(aggs: Seq[AggSpec])(count: (AggSpec, Int) => Column): Seq[Column] =
    aggs.zipWithIndex.map { case (a, j) => count(a, j).as(s"__n$j") }

  /** The rows the ring emits: the key columns, `ws`, then per aggregate
    * its merged value (null when its count is 0) and count, named by
    * [[AggSpec.mergedNames]]. [[AggSpec.mergedCol]] finishes them.
    */
  def outputSchema(keys: StructType, aggs: Seq[AggSpec], lanes: Seq[DataType]): StructType =
    StructType(keys.fields ++ (StructField("ws", LongType, nullable = false) +:
      aggs.zip(lanes).flatMap { case (a, t) =>
        val (v, n) = a.mergedNames
        Seq(StructField(v, t), StructField(n, LongType, nullable = false))
      }))

  /** The kernel of (size, slide) windows of `aggs` over `df`, with each
    * aggregate's input type and lane type ([[laneType]]). SUM, AVG, MIN and
    * MAX take integral or floating-point inputs only.
    */
  def kernel(df: DataFrame, size: Long, slide: Long, aggs: Seq[AggSpec])
      : (Kernel, Seq[DataType], Seq[DataType]) = {
    val types = df.select(aggs.map(_.input): _*).schema.map(_.dataType)
    aggs.zip(types).foreach { case (a, t) =>
      require(a.fn == AggFn.Cnt || isIntegral(t) || t == FloatType || t == DoubleType,
        s"pane-sliced ${a.fn.sqlName} needs an integral or floating-point input, " +
          s"but ${a.input} (for ${a.alias}) is ${t.sql}")
    }
    val lanes = aggs.zip(types).map { case (a, t) => laneType(a, t) }
    (new Kernel(size, slide, aggs.map(_.fn).toArray, lanes.map(_ == LongType).toArray), types, lanes)
  }

  /** The final aggregate columns over [[outputSchema]]'s rows. */
  def merged(aggs: Seq[AggSpec], types: Seq[DataType]): Seq[Column] =
    aggs.zip(types).map { case (a, t) => a.mergedCol(t) }

  private def isIntegral(t: DataType): Boolean =
    t == ByteType || t == ShortType || t == IntegerType || t == LongType

  /** The lane an aggregate's values fold in: exact longs for CNT and
    * integral inputs, doubles for floating-point ones.
    */
  private def laneType(a: AggSpec, input: DataType): DataType =
    if (a.fn == AggFn.Cnt || isIntegral(input)) LongType else DoubleType

  /** One key's panes: pane i, for `lo` ≤ i < `hi`, starts at `start(i)`
    * (ascending), and its partial of aggregate j is `value(i·n + j)` and
    * `count(i·n + j)`. A double lane's value is stored as its bits.
    * `emitted` is the end of the last window emitted.
    */
  final class Ring(n: Int, cap: Int) {
    var start = new Array[Long](cap)
    var value = new Array[Long](cap * n)
    var count = new Array[Long](cap * n)
    var lo = 0
    var hi = 0
    var emitted = Long.MinValue
    def isEmpty: Boolean = lo == hi
  }

  object Ring {
    /** A ring over the panes held, full, in `start`, `value` and `count`. */
    def of(start: Array[Long], value: Array[Long], count: Array[Long], emitted: Long): Ring = {
      val r = new Ring(0, 0)
      r.start = start; r.value = value; r.count = count
      r.hi = start.length
      r.emitted = emitted
      r
    }
  }

  // fold rules, per aggregate: a value lane (long or double) and a combine
  private final val Cnt = 0
  private final val SumL = 1
  private final val SumD = 2
  private final val MinL = 3
  private final val MinD = 4
  private final val MaxL = 5
  private final val MaxD = 6

  /** The fold, merge and emit rules of `fns` over (size, slide) windows of
    * gcd panes; `long(j)` puts aggregate j in the long lane, where a SUM
    * that overflows fails, as Spark's ANSI `sum` does. Not thread safe: one
    * kernel per task (batch) or per processor (stream).
    */
  final class Kernel(val size: Long, val slide: Long, fns: Array[AggFn], long: Array[Boolean])
      extends Serializable {
    val pane: Long = TimeWindows.gcd(size, slide)
    val n: Int = fns.length
    private val op: Array[Int] = fns.indices.map { j =>
      val l = long(j)
      fns(j) match {
        case AggFn.Cnt => Cnt
        case AggFn.Sum | AggFn.Avg => if (l) SumL else SumD
        case AggFn.Min => if (l) MinL else MinD
        case AggFn.Max => if (l) MaxL else MaxD
      }
    }.toArray
    // the window being emitted
    @transient private lazy val accValue = new Array[Long](n)
    @transient private lazy val accCount = new Array[Long](n)

    // Spark's double order: NaN above everything.
    private def below(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)
    private def d(bits: Long): Double = java.lang.Double.longBitsToDouble(bits)

    /** Folds `c` inputs whose lane value is `x` into value/count slot `k`. */
    private def fold(v: Array[Long], cs: Array[Long], k: Int, j: Int, x: Long, c: Long): Unit =
      if (c > 0) {
        if (cs(k) == 0) v(k) = x
        else {
          val a = v(k)
          v(k) = (op(j): @annotation.switch) match {
            case SumL => Math.addExact(a, x)
            case SumD => java.lang.Double.doubleToRawLongBits(d(a) + d(x))
            case MinL => math.min(a, x)
            case MinD => if (below(d(x), d(a))) x else a
            case MaxL => math.max(a, x)
            case MaxD => if (below(d(a), d(x))) x else a
            case _ => a
          }
        }
        cs(k) += c
      }

    /** Index of the pane starting at `p` in `r`, added empty in order if absent. */
    def slot(r: Ring, p: Long): Int = {
      if (r.hi > r.lo && r.start(r.hi - 1) == p) return r.hi - 1
      var i = java.util.Arrays.binarySearch(r.start, r.lo, r.hi, p)
      if (i >= 0) return i
      i = -i - 1
      if (r.hi == r.start.length) {
        // compact to the front; grow when at least half full
        val live = r.hi - r.lo
        val cap = math.max(4, math.max(r.start.length, 2 * live))
        val (s, v, c) = (new Array[Long](cap), new Array[Long](cap * n), new Array[Long](cap * n))
        System.arraycopy(r.start, r.lo, s, 0, live)
        System.arraycopy(r.value, r.lo * n, v, 0, live * n)
        System.arraycopy(r.count, r.lo * n, c, 0, live * n)
        r.start = s; r.value = v; r.count = c
        i -= r.lo; r.hi = live; r.lo = 0
      }
      if (i < r.hi) {
        System.arraycopy(r.start, i, r.start, i + 1, r.hi - i)
        System.arraycopy(r.value, i * n, r.value, (i + 1) * n, (r.hi - i) * n)
        System.arraycopy(r.count, i * n, r.count, (i + 1) * n, (r.hi - i) * n)
      }
      r.start(i) = p
      java.util.Arrays.fill(r.value, i * n, (i + 1) * n, 0L)
      java.util.Arrays.fill(r.count, i * n, (i + 1) * n, 0L)
      r.hi += 1
      i
    }

    /** Folds one input row (layout of [[valueCols]], its values from
      * column `at`, followed by counts if `counted`) into its pane of `r`;
      * a row with no pane is skipped.
      */
    def foldRow(r: Ring, row: Row, at: Int, counted: Boolean): Unit = if (!row.isNullAt(0)) {
      val i = slot(r, row.getLong(0))
      var j = 0
      while (j < n) {
        val c = if (counted) row.getLong(at + n + j) else 1L
        if (op(j) == Cnt) fold(r.value, r.count, i * n + j, j, 0L, c)
        else if (!row.isNullAt(at + j)) {
          val x = if (long(j)) row.getLong(at + j)
            else java.lang.Double.doubleToRawLongBits(row.getDouble(at + j))
          fold(r.value, r.count, i * n + j, j, x, c)
        }
        j += 1
      }
    }

    private def floorTo(a: Long, b: Long): Long = a - Math.floorMod(a, b)
    private def ceilTo(a: Long, b: Long): Long = floorTo(a + b - 1, b)

    /** Start of the first window that holds data and ends after
      * `r.emitted`; `r` is not empty.
      */
    private def nextStart(r: Ring): Long = {
      val first = ceilTo(r.start(r.lo) + pane - size, slide)
      if (r.emitted == Long.MinValue) first else math.max(first, r.emitted - size + slide)
    }

    /** End of the next window `advance` would emit; `r` is not empty. */
    def nextEnd(r: Ring): Long = nextStart(r) + size

    /** Drops the panes that no window after `r.emitted` holds. */
    private def evict(r: Ring): Unit = if (r.emitted != Long.MinValue) {
      val keep = r.emitted - size + slide
      while (r.lo < r.hi && r.start(r.lo) < keep) r.lo += 1
    }

    /** Emits, in window order, every window that holds data, ends at or
      * below `limit` and ends after `r.emitted`, merging its panes and
      * passing `row(key, ws)` to `out`; evicts every pane whose last
      * window has been emitted.
      */
    def advance(r: Ring, key: Row, limit: Long)(out: Row => Unit): Unit = {
      evict(r)
      var more = true
      while (more && !r.isEmpty) {
        // every pane left is at or after ws: a window's panes start at lo
        val ws = nextStart(r)
        if (ws + size > limit) more = false
        else {
          java.util.Arrays.fill(accCount, 0L)
          var i = r.lo
          while (i < r.hi && r.start(i) < ws + size) {
            var j = 0
            var k = i * n
            while (j < n) { fold(accValue, accCount, j, j, r.value(k), r.count(k)); j += 1; k += 1 }
            i += 1
          }
          out(row(key, ws))
          r.emitted = ws + size
          evict(r)
        }
      }
    }

    /** The emitted row of window `ws` from the merged partials. */
    private def row(key: Row, ws: Long): Row = {
      val kn = key.length
      val cols = new Array[Any](kn + 1 + 2 * n)
      var i = 0
      while (i < kn) { cols(i) = key.get(i); i += 1 }
      cols(kn) = ws
      var j = 0
      while (j < n) {
        val c = accCount(j)
        cols(kn + 1 + 2 * j) =
          if (c == 0 || op(j) == Cnt) null
          else if (long(j)) accValue(j)
          else d(accValue(j))
        cols(kn + 2 + 2 * j) = c
        j += 1
      }
      new GenericRow(cols)
    }
  }

  /** The batch pass over one partition of pane partials sorted by pane
    * start (values and counts from column 1, keys from column `1 + 2n`).
    * Each key keeps a ring; a key's windows that end at or before an
    * arriving pane's start are emitted as that pane arrives.
    * Whenever the pane start has moved on by a window size, every ring
    * emits up to it and an emptied ring is dropped, so a partition holds
    * only the keys with data in the last two window spans. The rest is
    * emitted when the partition ends. Output is lazy.
    */
  def windows(k: Kernel, keys: StructType)(rows: Iterator[Row]): Iterator[Row] =
    new Iterator[Row] {
      private val keyAt = 1 + 2 * k.n
      private val binary = keys.fields.exists(_.dataType == BinaryType)
      private val rings = new java.util.HashMap[Row, (Row, Ring)]()
      private val out = new java.util.ArrayDeque[Row]()
      private val emit: Row => Unit = r => { out.add(r); () }
      private var swept = Long.MinValue
      private var done = false

      /** `key` with byte arrays wrapped, so that equal keys hash alike. */
      private def lookup(key: Row): Row =
        if (!binary) key
        else Row.fromSeq(key.toSeq.map {
          case b: Array[Byte] => ByteBuffer.wrap(b)
          case v => v
        })

      private def sweep(limit: Long): Unit = {
        val it = rings.values.iterator
        while (it.hasNext) {
          val (key, r) = it.next()
          k.advance(r, key, limit)(emit)
          if (r.isEmpty) it.remove()
        }
      }

      private def step(): Unit =
        if (!rows.hasNext) { sweep(Long.MaxValue); done = true }
        else {
          val row = rows.next()
          if (!row.isNullAt(0)) {
            val p = row.getLong(0)
            if (swept == Long.MinValue) swept = p
            else if (p - swept >= k.size) { sweep(p); swept = p }
            val kv = new Array[Any](row.length - keyAt)
            var i = 0
            while (i < kv.length) { kv(i) = row.get(keyAt + i); i += 1 }
            val key = new GenericRow(kv)
            val l = lookup(key)
            var e = rings.get(l)
            if (e == null) { e = (key, new Ring(k.n, 8)); rings.put(l, e) }
            else k.advance(e._2, e._1, p)(emit)
            k.foldRow(e._2, row, 1, counted = true)
          }
        }

      override def hasNext: Boolean = {
        while (out.isEmpty && !done) step()
        !out.isEmpty
      }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        out.poll()
      }
    }
}
