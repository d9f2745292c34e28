package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus.toString
    // Wall-clock time box (seconds). The r16 artifact was LOST to a driver
    // timeout (rc 124) after ~75 min: a bench that cannot finish inside its
    // caller's window is worth less than a truncated one that can. Every
    // phase below checks the remaining budget and degrades gracefully —
    // fewer interleave passes, a smaller isolated block, fewer stream
    // replays — and the artifact carries a "truncated" marker naming what
    // was cut. The budget clock starts HERE (JVM + sbt startup are the
    // caller's overhead, not the bench's).
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "3000").toDouble
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    def leftS: Double = budgetS - elapsedS
    val spark = LocalSession()
    // ERROR, not WARN: the r16 kill tail was a wall of streaming WARN lines
    // that pushed every parseable byte out of the driver's 2000-char stdout
    // window. With incremental emission (below) the LAST printed compact
    // line is the recovery point; log noise after it must be minimal.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the JVM/codegen/scan paths once so the first measured query isn't
    // charged for JIT + file-source initialization.
    try {
      spark.range(2000000L).selectExpr("sum(id)", "avg(id)").collect()
      graft.Tables.all.foreach { t =>
        try graft.Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }

    // Isolate queries from each other: drop any leftover cached relations,
    // then force a full GC and let the JVM settle, so query N's garbage (and
    // its collection pause) is not charged to query N+1's wall clock. This is
    // measurement hygiene only — it runs OUTSIDE the timed region.
    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(250)
    }

    // noop sink: forces full evaluation of every output column (a bare
    // count() lets Catalyst prune the query down to row counting).
    // Each QUERY gets a dedicated child session (own SQLConf/temp state)
    // shared by its attempts: cross-query isolation is preserved, while
    // attempt N+1 of the same query reuses the session warmed by attempt N —
    // measured per-attempt overhead of a FRESH session scales with plan
    // complexity (~1.5 s at sf0.01 for the largest plans vs ~0.1 s trivial),
    // which inflated exactly the queries worth watching. The median over
    // interleaved attempts then reflects warm steady-state, which is what a
    // long-running cluster job sees.
    val sessions = scala.collection.mutable.Map.empty[String, SparkSession]
    // Per-query wall cap: one pathological query must not eat the whole
    // schedule — r17's final commit carried a 459-s fixture that truncated
    // the driver's bench to ONE interleave pass and starved the isolated
    // block. An attempt that hits the cap is canceled through its job
    // group (and its session's streaming queries stopped), recorded AT the
    // cap, listed under "timed_out" in the artifact, and skipped for the
    // rest of the run — the capped number is an explicit floor, which is
    // all a >cap query can honestly contribute.
    val qCapS = sys.env.getOrElse("SPARK_GRAFT_BENCH_QCAP_S", "60").toDouble
    val timedOut = scala.collection.mutable.Set.empty[String]
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             hygiene: Boolean = true, force: Boolean = false): Double = {
      if (!force && timedOut(name)) return qCapS
      if (hygiene) settle()
      val session = sessions.getOrElseUpdate(name, spark.newSession())
      // job group is thread-local: set it in the worker thread that
      // submits the jobs, cancel it from here on timeout
      val group = s"bench_${name}_${System.nanoTime()}"
      val result = new java.util.concurrent.CompletableFuture[java.lang.Double]()
      val worker = new Thread(() => {
        session.sparkContext.setJobGroup(group, name,
          interruptOnCancel = true)
        val t0 = System.nanoTime()
        try {
          fn(session, sfDir).write.format("noop").mode("overwrite").save()
          result.complete((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => result.complete(-1.0) }
        finally session.sparkContext.clearJobGroup()
      }, s"bench-$name")
      worker.setDaemon(true)
      worker.start()
      try result.get((qCapS * 1000).toLong,
        java.util.concurrent.TimeUnit.MILLISECONDS).doubleValue
      catch {
        case _: java.util.concurrent.TimeoutException =>
          timedOut += name
          // batch jobs die with the group; streaming fixtures run their
          // micro-batches under the stream's own group, so stop those too.
          // The worker thread is then abandoned (daemon) — it unwinds as
          // its jobs cancel, and every attempt gets a fresh thread.
          try spark.sparkContext.cancelJobGroup(group)
          catch { case _: Throwable => () }
          try session.streams.active.foreach(_.stop())
          catch { case _: Throwable => () }
          // also interrupt the worker itself: cancelJobGroup only kills
          // jobs ALREADY submitted — driver-side fixture code that
          // swallows the cancellation (or submits follow-up jobs) would
          // keep the abandoned daemon running Spark work that contends
          // with every later measurement
          try worker.interrupt()
          catch { case _: Throwable => () }
          qCapS
        case _: Throwable => -1.0
      }
    }
    // Interleaved median-of-N: iterate queries in iteration-major order so a
    // transient host-load spike lands on ONE attempt of many queries instead
    // of EVERY attempt of one query (back-to-back attempts share correlated
    // noise — best-of-2 could not filter it). Median of the per-query samples
    // then discards the spike.
    //
    // ADAPTIVE attempts: a sub-2-second query's median does not need 4 warm
    // samples — at 250+ fixtures the quick majority's extra passes (plus
    // their per-run settle) were most of the r16 wall clock. Quickness is
    // decided from the FIRST measured sample; quick queries stop after
    // `quickIters` warm samples, heavy ones run all `iters`. 3 quick
    // samples, not 2: a median-of-2 is a mean, and with both samples drawn
    // from the two COLDEST measured passes it inflated 49 sub-2s queries
    // past the 1.2× drifter bar in the r17 shakedown (isolated re-measures
    // confirmed pure noise — e.g. 0.49 interleaved vs 0.12 isolated);
    // median-of-3 discards the one slow sample. Round-over-round
    // comparability is preserved by the drifter rule either way.
    // Default ITERS 3 (== quickIters): the r17 shakedowns measured the
    // full 4-iteration schedule at ~47 min wall at sf0.1 — the extra
    // heavy-only pass crowded the isolated block out of the budget, and
    // heavy medians-of-3 plus the isolated [min,max] spreads adjudicate
    // drift just as well. Raising SPARK_GRAFT_BENCH_ITERS re-enables the
    // deeper schedule; the adaptive quick/heavy split stays in place.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val quickIters = 3
    val quickBelowS = 2.0
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    def median(xs: Vector[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    def results: Map[String, Double] =
      samples.map { case (k, v) => k -> median(v) }.toMap

    // Previous round's interleaved medians (the drifter baseline) — read
    // BEFORE the first incremental emission overwrites bench_last.json.
    val prevTimes: Map[String, Double] =
      try baseline(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_last.json")),
          java.nio.charset.StandardCharsets.UTF_8), sfDir, cpus)
      catch { case _: Throwable => Map.empty[String, Double] }

    // ---- incremental artifact emission --------------------------------
    // The artifact is (re)written and (re)printed at every phase boundary —
    // end of each measured interleave pass, end of the isolated block, end
    // of each stream replay — so an external kill at ANY point leaves (a)
    // bench_last.json/tmp holding the last completed state and (b) a
    // complete compact JSON line inside the killer's stdout tail window.
    // Centisecond precision, trailing zeros stripped: the bench noise band
    // is ~35 %, so 2 decimals lose nothing, and every byte counts against
    // the driver's 2000-char stdout tail window.
    def fmt(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    case class StreamRun(tps: Long, p50: Long, p95: Long, p99: Long)
    var isolatedSamples = Map.empty[String, Seq[Double]]
    var drifterNames = Set.empty[String]
    var streamRuns = Seq.empty[StreamRun]
    var streamEarly: Option[StreamRun] = None
    var truncated = List.empty[String]
    def emit(phase: String, printFull: Boolean): Unit = {
      val res = results
      def medL(xs: Seq[Long]): Long =
        if (xs.isEmpty) -1L else xs.sorted.apply(xs.size / 2)
      val runs = streamRuns
      val (sTps, sP50, sP95, sP99) =
        (medL(runs.map(_.tps)), medL(runs.map(_.p50)),
          medL(runs.map(_.p95)), medL(runs.map(_.p99)))
      val (sTpsMin, sTpsMax) =
        if (runs.isEmpty) (-1L, -1L)
        else (runs.map(_.tps).min, runs.map(_.tps).max)
      val total = if (res.nonEmpty) res.values.sum else 0.0
      // Flat keys only (no nested objects before "queries"): the driver's
      // tail parser must be able to start at the first '{' it sees and
      // read one JSON object.
      val streamKeys = s""""stream_tps":$sTps,"stream_p50_ms":$sP50""" +
        s""","stream_p95_ms":$sP95,"stream_p99_ms":$sP99""" +
        s""","stream_tps_min":$sTpsMin,"stream_tps_max":$sTpsMax""" +
        s""","stream_runs":${runs.size}""" +
        s""","stream_early_tps":${streamEarly.map(_.tps).getOrElse(-1L)}""" +
        s""","stream_early_p50_ms":${streamEarly.map(_.p50).getOrElse(-1L)}""" +
        s""","stream_early_p99_ms":${streamEarly.map(_.p99).getOrElse(-1L)}"""
      val qs = res.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val isolated = isolatedSamples.map { case (name, ts) =>
        name -> (if (ts.isEmpty) -1.0 else ts.min)
      }
      val iso = isolated.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // per-query error bars: sorted warm attempts — [min, med, max]
      val isoSpread = isolatedSamples.toSeq.sortBy(_._1)
        .map { case (k, ts) =>
          "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
        }
        .mkString("{", ",", "}")
      val runsJson = runs.map(r =>
        s"""{"tps":${r.tps},"p50":${r.p50},"p95":${r.p95},"p99":${r.p99}}""")
        .mkString("[", ",", "]")
      val driftJson = drifterNames.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val truncJson = truncated.reverse.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val toJson = timedOut.toSeq.sorted.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
        s""","phase":"$phase","truncated":$truncJson""" +
        s""","timed_out":$toJson""" +
        s""","queries":$qs,"isolated":$iso,"isolated_spread":$isoSpread""" +
        s""","drifters":$driftJson,$streamKeys""" +
        s""","stream_trend":$runsJson,"sf":"$sfDir","cpus":"$cpus"}"""
      // Two lines, parse target last. The driver keeps only the LAST 2000
      // chars of stdout (BENCH_r08/r09 lost the head of the one-line
      // artifact): line 1 is the full artifact (also persisted for the
      // driver and for bench_last.json so it rides the round's commit);
      // line 2 is a compact line that ALWAYS fits the tail window —
      // totals, stream tps/latency, and as many per-query entries as fit
      // a strict byte budget, slowest first, with "queries_full" pointing
      // at the complete in-repo artifact. The visible tail of line 1 (the
      // sorted map's end) contains no '{', so the first '{' in the window
      // opens the parse target.
      val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
        s""","n_queries":${res.size},"phase":"$phase",$streamKeys""" +
        s""","sf":"$sfDir","cpus":"$cpus","queries_full":"bench_last.json","queries":{"""
      val budget = 1400 - head.length - 2
      val slowestFirst = res.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      val picked = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = 0
      for (e <- slowestFirst if used + e.length + 1 <= budget) {
        picked += e; used += e.length + 1
      }
      val compact = head + picked.mkString(",") + "}}"
      for (p <- Seq("/tmp/bench.json", "bench_last.json"))
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(p),
          full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      if (printFull) println(full)
      println(compact)
      System.out.flush()
    }

    // ---- one stream replay (shared by the early probe and the trend) --
    // Fresh RocksDB-backed child session per replay, changelog
    // checkpointing on (the large-state production posture — commit
    // uploads the per-batch delta, removing the periodic snapshot-upload
    // spike that otherwise lands on one unlucky trigger and sets the
    // tail). `warm = true` prepends a short UNTIMED replay so a replay
    // taken before the interleave phases (JVM cold on the streaming
    // path) is comparable to the post-interleave ones, which inherit
    // ~260 queries' worth of JIT warmth.
    val streamLoops = sys.env.getOrElse("SPARK_GRAFT_STREAM_LOOPS", "25").toInt
    // 3 replays when the budget allows (an odd count is a true median and
    // the per-replay guard below skips the third on a slow host); the r17
    // full runs ended with ~4 min of budget to spare at the default
    // schedule, so the usual case affords it
    val streamRunsN = sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "3").toInt
    def oneStreamReplay(warm: Boolean): Option[StreamRun] =
      try {
        settle()
        val ss = spark.newSession()
        graft.streaming.Streams.withRocksDb(ss) {
          val rows = StreamBench.loadRows(ss, sfDir)
          if (warm)
            StreamBench.tumblingReplay(ss, rows, math.max(2, streamLoops / 5))
          val (n, sec, lat) = StreamBench.tumblingReplay(ss, rows, streamLoops)
          Some(StreamRun((n / sec).toLong,
            StreamBench.pctOf(lat, 0.50), StreamBench.pctOf(lat, 0.95),
            StreamBench.pctOf(lat, 0.99)))
        }
      } catch { case _: Throwable => None }

    // ---- EARLY stream probe -------------------------------------------
    // One replay BEFORE any query runs (r18 verdict item 1): the trend
    // replays at the END of the run declined monotonically while the
    // batch side held flat, and the artifact could not separate
    // end-of-run JVM/state pressure from host drift. This probe is the
    // discriminator: measured on a fresh-but-warmed JVM under zero gate
    // pressure, reported under its own key (NOT folded into the
    // round-over-round stream_tps median, which stays end-positioned and
    // comparable to r14–r18). early ≫ late ⇒ end-of-run pressure;
    // early ≈ late ⇒ host-level drift.
    if (sys.env.getOrElse("SPARK_GRAFT_STREAM_EARLY", "1") == "1")
      streamEarly = oneStreamReplay(warm = true)

    // ---- interleaved passes -------------------------------------------
    // Iteration 0 is a DISCARDED warm-up pass: each query's first attempt on
    // its fresh child session pays codegen JIT + plan-cache fill, and that
    // cold cost is big enough (measured 10.5 s cold vs 2.0/2.5 s warm on
    // q_dedup_simhash at sf0.1) to drag a median across the driver's 2×
    // regression bar when host pressure stacks 2+ cold-ish attempts. Warm
    // steady-state is the number that projects to a long-running cluster job.
    // Deterministic per-iteration shuffle: with a FIXED order, a query's
    // attempts always run in the same JVM-pressure context (same
    // predecessors' garbage, same codegen-cache temperature), so position
    // bias survives the median — the r12 artifact inflated unchanged
    // mid-alphabet fixtures 1.4–1.7× this way. Shuffling per iteration
    // decorrelates position from query, so the median sees each query in
    // several contexts. Seeded by iteration index: runs stay reproducible.
    val quick = scala.collection.mutable.Set.empty[String]
    var it = 0
    var interleaveDone = false
    while (it <= iters && !interleaveDone) {
      // stop starting new passes when the remaining budget could not fit
      // one more pass over the still-active queries (estimated from the
      // medians so far, settle included) plus the tail phases (~300 s)
      if (it >= 2) {
        val active = ordered.filterNot { case (n, _) =>
          quick(n) && samples(n).size >= quickIters }
        val passCost = active.map { case (n, _) =>
          math.max(median(samples(n)), 0.0) + 0.6 }.sum
        if (leftS < passCost + 300) {
          truncated ::= s"interleave_stopped_after_pass_${it - 1}"
          interleaveDone = true
        }
      }
      if (!interleaveDone) {
        for ((name, fn) <- new scala.util.Random(it.toLong).shuffle(ordered)
             if it <= quickIters || !quick(name)) {
          // the warm-up pass is discarded — skip its per-query settle
          // (gc + sleep × 255 queries is minutes of pure overhead)
          val t = once(name, fn, hygiene = it > 0)
          if (it > 0) {
            samples(name) = samples(name) :+ t
            if (it == 1 && t >= -0.5 && t < quickBelowS) quick += name
          }
        }
        if (it > 0) emit(s"interleave_$it", printFull = false)
      }
      it += 1
    }

    // ---- isolated warm re-measures ------------------------------------
    // The interleave medians above still carry whole-gate JVM pressure.
    // Back-to-back attempts on the query's own already-warm session, with
    // the usual settle between, approximate the isolated shape inside one
    // run; emitting BOTH numbers lets a reader split plan cost (isolated)
    // from gate pressure (interleaved − isolated) without leaving the
    // artifact. MIN of the attempts, not median: this block runs AFTER the
    // full interleave, in the most-pressured JVM state of the whole run, so
    // any single attempt can still catch a GC/compaction tail; the minimum
    // over back-to-back warm attempts is the best-achievable warm time.
    // Isolated set = (N slowest) ∪ (every round-over-round DRIFTER >1.2×
    // its prior same-SF interleaved median): each carries its own sorted
    // [min, med, max] spread so a future delta outside the band is a real
    // plan change and one inside it is pressure/noise — attributable
    // without leaving the artifact. 2 attempts (was 3): the spread loses
    // its mid sample, but the r15/r16 adjudications only ever used min and
    // max, and the block's wall cost halves.
    val isoN = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED", "12").toInt
    val isoAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ISO_ATTEMPTS", "2").toInt
    val res1 = results
    drifterNames = res1.collect {
      case (name, t) if prevTimes.get(name).exists(p => p > 0 && t > 1.2 * p) =>
        name
    }.toSet
    // drifter re-measures are CAPPED (worst ratios first): a noisy run can
    // flag dozens of queries, and an uncapped set × attempts blows the
    // wall budget before the stream block — the r17 shakedown hit exactly
    // that (65 flagged, isolated block truncated). The cap keeps the
    // block bounded; anything past it simply waits for the next round's
    // baseline to stabilize.
    val driftCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_DRIFT_CAP", "12").toInt
    val worstDrifters = drifterNames.toSeq
      .sortBy(n => -(res1(n) / prevTimes(n))).take(driftCap)
    // a timed-out query's floor is already known — 2 more capped attempts
    // would cost 2×cap for no information
    val isolatedNames = (res1.toSeq.sortBy(-_._2).take(isoN).map(_._1) ++
      worstDrifters).distinct.filterNot(timedOut)
    val isoBuf = scala.collection.mutable.Map.empty[String, Seq[Double]]
    for (name <- isolatedNames) {
      // each isolated query costs ~attempts × its own time; skip the rest
      // when the budget cannot fit this one plus the stream block (~240 s)
      val est = math.max(res1.getOrElse(name, 0.0), 0.0) * isoAttempts + 1.0
      if (leftS < est + 240) {
        if (!truncated.exists(_.startsWith("isolated")))
          truncated ::= s"isolated_stopped_before_$name"
      } else {
        val fn = SparkEntry.queries(name)
        isoBuf(name) = (1 to isoAttempts).map(_ => once(name, fn))
          .filter(_ >= 0).sorted
      }
    }
    // one bounded RE-PROBE per timed-out query: the interleave records
    // only the cap floor, so without this a host stall on one attempt is
    // indistinguishable from a real regression. The re-probe rides the
    // isolated block's spread (its single sample next to the cap) at a
    // cost of ≤cap each; a second timeout simply re-records the cap.
    for (name <- timedOut.toSeq.sorted) {
      if (leftS >= qCapS + 240) {
        val t = once(name, SparkEntry.queries(name), force = true)
        isoBuf(name) = Seq(t).filter(_ >= 0)
      } else if (!truncated.exists(_.startsWith("isolated")))
        truncated ::= s"isolated_stopped_before_$name"
    }
    isolatedSamples = isoBuf.toMap
    emit("isolated", printFull = false)

    // ---- streaming throughput trend -----------------------------------
    // The tumbling replay core from StreamBench on a RocksDB-backed child
    // session, fixed loop count so the tps/latency numbers compare round-
    // over-round. 25 loops ⇒ ~25 data triggers: with fewer, ceil(.95n) and
    // ceil(.99n) index the SAME sample and p95==p99 by construction; ≥21
    // triggers keep the two percentile indices distinct. ≥2 INDEPENDENT
    // replays (fresh child session + query each), reported as median-of-
    // runs plus min/max spread — the same de-noising discipline as the
    // batch side: with a spread in the artifact a future delta is
    // attributable in place (outside the band ⇒ real; inside ⇒ noise).
    for (i <- 1 to streamRunsN) {
      // a replay is ~90-120 s at sf0.1: skip remaining replays rather than
      // blow the window (one replay still yields a comparable median)
      if (leftS < 150) {
        if (!truncated.exists(_.startsWith("stream")))
          truncated ::= s"stream_stopped_before_run_$i"
      } else {
        oneStreamReplay(warm = false).foreach { r =>
          streamRuns = streamRuns :+ r
          emit(s"stream_$i", printFull = false)
        }
      }
    }

    // final emission is the process's last bytes — logging off, session
    // stopped first, full artifact then the compact parse target
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    emit("final", printFull = true)
  }

  /** Per-query medians of a previous artifact, usable as the drifter
    * baseline only when it is comparable. Only a SAME-SF, SAME-CPUS artifact
    * is: a local smoke at another scale factor, or an 8-core run read by a
    * 32-core one, must not flag the whole gate as drifted. Only a
    * FINAL-phase artifact whose interleave ran ≥2 measured passes is a
    * baseline: a run killed (or budget-truncated) after pass 1 leaves
    * single-sample cold-heavy medians that spuriously flag dozens of
    * drifters the next round (the r17 artifact did exactly that — 19
    * flags, all in-band on isolated re-measure).
    */
  private[graft] def baseline(
      txt: String, sfDir: String, cpus: String): Map[String, Double] = {
    val parts = txt.split("\"queries\":\\{", 2)
    if (parts.length < 2 ||
        !txt.contains(s""""sf":"$sfDir"""") ||
        !txt.contains(s""""cpus":"$cpus"""") ||
        !txt.contains(""""phase":"final"""") ||
        txt.contains("interleave_stopped_after_pass_1")) Map.empty
    else "\"([^\"]+)\":(-?[0-9.]+)".r
      .findAllMatchIn(parts(1).takeWhile(_ != '}'))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }
}
