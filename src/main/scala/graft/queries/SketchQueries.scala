package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.functions.{Privacy, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Funnel, Quant}
import graft.similarity.Ann
import graft.streaming.Replay
import OracleSql._
import RetrievalQueries.qBm25

/** BPE vocabulary induction, the sketch-store families at rest (KMV,
  * CMS, hash-sample) with their IVM refresh loops, multi-granularity
  * reporting (cube / grouping sets / pivot), fuzzy join, hybrid RRF and
  * k-anonymity.
  */
object SketchQueries {

  // ---- BPE vocabulary induction ------------------------------------------

  /** Shared CTE chain for the BPE oracles: wf (word freqs), s0 (initial
    * double-space symbol sequences), then per round k: pair counts pk,
    * argmax mk, rewritten sequences sk. Mirrors functions.Bpe exactly —
    * integer counts + binary-string tie-break keep every round
    * cross-engine deterministic; see Bpe.scala for why the DOUBLE-space
    * encoding makes plain `replace` reproduce leftmost non-overlapping
    * BPE pairing in both engines.
    */
  private def bpeOracleCtes(n: Int): String = {
    val base =
      s"""WITH wf AS (SELECT word, count(*) AS freq FROM (
        |     SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        |     FROM documents)
        |   WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
        | s0 AS (SELECT ' ' || array_to_string(list_append(
        |          list_transform(generate_series(1, strlen(word)), i -> word[i]),
        |          '</w>'), '  ') || ' ' AS seq, freq FROM wf)""".stripMargin
    val rounds = (1 to n).map { k =>
      s""" p$k AS (SELECT u.lhs AS lhs, u.rhs AS rhs, freq FROM (
        |   SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |            i -> {'lhs': t[i], 'rhs': t[i+1]})) AS u, freq
        |   FROM (SELECT string_split(trim(seq), '  ') AS t, freq FROM s${k - 1})
        |   WHERE len(t) >= 2)),
        | m$k AS (SELECT $k AS merge_rank, lhs, rhs, sum(freq)::BIGINT AS cnt
        |   FROM p$k GROUP BY lhs, rhs ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        | s$k AS (SELECT replace(seq,
        |     coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM m$k), chr(1)),
        |     coalesce((SELECT ' ' || lhs || rhs || ' ' FROM m$k), chr(1))) AS seq,
        |   freq FROM s${k - 1})""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** BPE merge-table induction (functions/Bpe.scala): N rounds of
    * vocab-scale pair aggregation, driver-held N-row model. The oracle
    * unrolls the identical rounds as CTEs; the `coalesce(chr(1))` guard
    * makes an exhausted round a no-op rewrite so early stopping matches.
    */
  val qBpeMerges = Fixture(
    "q_bpe_merges",
    (s, d) => graft.functions.Bpe.train(Tables.documents(s, d), "text", 6),
    Some(s"""${bpeOracleCtes(6)}
      | SELECT * FROM (
      |   SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL
      |   SELECT * FROM m3 UNION ALL SELECT * FROM m4 UNION ALL
      |   SELECT * FROM m5 UNION ALL SELECT * FROM m6)
      | ORDER BY merge_rank""".stripMargin))

  /** Train → apply: per-document token count under the learned 6-merge
    * model. The merge chain folds into one projection over a single corpus
    * scan — the model rides as plan literals (Ann's centroid posture). The
    * oracle re-derives the same model in CTEs and applies it with the same
    * guarded replace chain.
    */
  val qBpeSegment = Fixture(
    "q_bpe_segment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.functions.Bpe.trainMerges(docs, "text", 6)
      graft.functions.Bpe.segmentTokenCount(docs, "text", "doc_id", model)
    },
    Some {
      val applyChain = (1 to 6).map { k =>
        s""" a$k AS (SELECT doc_id, replace(seq,
          |     coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM m$k), chr(1)),
          |     coalesce((SELECT ' ' || lhs || rhs || ' ' FROM m$k), chr(1))) AS seq
          |   FROM a${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""${bpeOracleCtes(6)},
        | d0 AS (SELECT doc_id, word FROM (
        |     SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        |     FROM documents)
        |   WHERE regexp_matches(word, '^[a-z]+$$')),
        | a0 AS (SELECT doc_id, ' ' || array_to_string(list_append(
        |          list_transform(generate_series(1, strlen(word)), i -> word[i]),
        |          '</w>'), '  ') || ' ' AS seq FROM d0),
        |$applyChain
        | SELECT doc_id, sum(len(string_split(trim(seq), '  ')))::BIGINT AS n_tok_bpe
        | FROM a6 GROUP BY doc_id""".stripMargin
    })

  /** Shared pair-extraction CTE body for the batched-BPE oracle. */
  private def bpePairsSql(from: String): String =
    s"""(SELECT u.lhs AS lhs, u.rhs AS rhs, freq FROM (
      |   SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |            i -> {'lhs': t[i], 'rhs': t[i+1]})) AS u, freq
      |   FROM (SELECT string_split(trim(seq), '  ') AS t, freq FROM $from)
      |   WHERE len(t) >= 2))""".stripMargin

  /** Batched-BPE oracle: per round, pair counts → per-symbol best
    * (window) → locally-dominant winners (best for EVERY touched symbol)
    * ranked and capped → a cap-deep guarded replace chain. Mirrors
    * [[graft.functions.Bpe.trainMergesBatched]] CTE-for-stage.
    */
  private def bpeBatchedCtes(rounds: Int, cap: Int): String = {
    val base =
      s"""WITH wf AS (SELECT word, count(*) AS freq FROM (
        |     SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        |     FROM documents)
        |   WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
        | s0 AS (SELECT ' ' || array_to_string(list_append(
        |          list_transform(generate_series(1, strlen(word)), i -> word[i]),
        |          '</w>'), '  ') || ' ' AS seq, freq FROM wf)""".stripMargin
    val blocks = (1 to rounds).map { r =>
      val apply = (1 to cap).foldLeft("seq") { (acc, k) =>
        s"""replace($acc,
          |     coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM w$r WHERE rank = $k), chr(1)),
          |     coalesce((SELECT ' ' || lhs || rhs || ' ' FROM w$r WHERE rank = $k), chr(1)))""".stripMargin
      }
      s""" p$r AS ${bpePairsSql(s"s${r - 1}")},
        | c$r AS (SELECT lhs, rhs, sum(freq)::BIGINT AS cnt FROM p$r GROUP BY 1, 2),
        | e$r AS (SELECT lhs, rhs, cnt, unnest(list_distinct([lhs, rhs])) AS sym FROM c$r),
        | b$r AS (SELECT lhs, rhs, cnt FROM (
        |     SELECT e$r.*, row_number() OVER (PARTITION BY sym
        |       ORDER BY cnt DESC, lhs, rhs) AS rn FROM e$r) WHERE rn = 1),
        | w$r AS (SELECT row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rank,
        |     lhs, rhs, cnt FROM (
        |     SELECT lhs, rhs, cnt, count(*) AS wins FROM b$r GROUP BY 1, 2, 3)
        |   WHERE wins = CASE WHEN lhs = rhs THEN 1 ELSE 2 END
        |   QUALIFY rank <= $cap),
        | s$r AS (SELECT $apply AS seq, freq FROM s${r - 1})""".stripMargin
    }
    (base +: blocks).mkString(",\n")
  }

  /** Batched BPE induction (Bpe.trainMergesBatched): each round takes ALL
    * locally-dominant pairs (capped) instead of one global argmax — the
    * winners are mutually disjoint so their merges commute and their
    * counts are exact at application time; a 32k-merge vocabulary costs
    * ~|symbols|-paced rounds instead of 32k sequential driver jobs. The
    * oracle unrolls the identical selection (explode→window→wins test)
    * and the cap-deep guarded replace chain per round.
    */
  val qBpeMergesBatched = Fixture(
    "q_bpe_merges_batched",
    (s, d) => graft.functions.Bpe.trainBatched(Tables.documents(s, d),
      "text", 3, 4),
    Some(s"""${bpeBatchedCtes(3, 4)}
      | SELECT row_number() OVER (ORDER BY round, rank)::INT AS merge_rank,
      |   lhs, rhs, cnt
      | FROM (SELECT 1 AS round, * FROM w1 UNION ALL
      |       SELECT 2, * FROM w2 UNION ALL SELECT 3, * FROM w3)""".stripMargin))

  /** Fixed reference vocabulary for the synthetic large-model stressor —
    * the posture of a production tokenizer: the model ships with the
    * vocabulary it was induced from and is APPLIED to whatever corpus
    * arrives (unknown symbols simply stay unmerged, in both engines).
    */
  private val bpeRefVocab = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "a", "spark", "part",
    "group", "big", "sort", "query", "fast", "the", "dup")

  /** ≥1024-merge APPLY-path stressor (Bpe.segmentUnitsExecutor): a
    * 1536-merge synthetic model ([[graft.functions.Bpe.prefixMerges]] over
    * [[bpeRefVocab]] word-pair units) applied to the corpus's adjacent-
    * word-pair units. At this depth the folded-expression path is
    * structurally unsound (Janino's 64KB ceiling), so segmentation runs
    * executor-side over DISTINCT units with the model broadcast once —
    * the plan is one corpus scan + a vocab-sized mapPartitions + one
    * join-back shuffle, and it is invariant in model depth. The oracle
    * replays the same 1536 literal replaces as a generated CTE chain
    * (MATERIALIZED barriers every 300 steps keep DuckDB's inliner under
    * its expression-depth limit); java/Spark/DuckDB `replace` share
    * leftmost non-overlapping literal semantics, so the chain agrees
    * byte-for-byte.
    */
  val qBpeSegmentLarge = Fixture(
    "q_bpe_segment_large",
    (s, d) => {
      val model = graft.functions.Bpe.prefixMerges(bpeRefVocab, 1536)
      require(model.size >= 1024, s"stressor needs >=1024 merges, got ${model.size}")
      val ws = filter(split(trim(lower(col("text"))), "\\s+"),
        w => w.rlike("^[a-z]+$"))
      val du = Tables.documents(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .where(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i),
            element_at(col("ws"), i + 1)))).as("unit"))
      val perDoc = du.groupBy("doc_id", "unit").agg(count(lit(1)).as("n_occ"))
      val seg = graft.functions.Bpe.segmentUnitsExecutor(
        du.select("unit"), "unit", model)
      perDoc.join(seg, "unit")
        .groupBy("doc_id").agg(sum(col("n_occ") * col("n_tok")).as("n_tok_bpe"))
    },
    Some {
      val model = graft.functions.Bpe.prefixMerges(bpeRefVocab, 1536)
      val steps = model.map { m =>
        val mat = if (m.merge_rank % 300 == 0) " MATERIALIZED" else ""
        s""" a${m.merge_rank} AS$mat (SELECT unit, replace(seq,
          |   ' ${m.lhs}  ${m.rhs} ', ' ${m.lhs}${m.rhs} ') AS seq
          |   FROM a${m.merge_rank - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id,
        |     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |       x -> regexp_matches(x, '^[a-z]+$$')) AS ws
        |   FROM documents),
        | du AS (SELECT doc_id, unnest(list_transform(
        |     generate_series(1, len(ws) - 1), i -> ws[i] || ws[i+1])) AS unit
        |   FROM w WHERE len(ws) >= 2),
        | v AS (SELECT DISTINCT unit FROM du),
        | a0 AS (SELECT unit, ' ' || array_to_string(list_append(
        |     list_transform(generate_series(1, strlen(unit)), i -> unit[i]),
        |     '</w>'), '  ') || ' ' AS seq FROM v),
        |$steps,
        | vn AS (SELECT unit, len(string_split(trim(seq), '  '))::BIGINT AS n_tok
        |   FROM a${model.size})
        | SELECT du.doc_id, sum(n_tok)::BIGINT AS n_tok_bpe
        | FROM du JOIN vn USING (unit) GROUP BY 1""".stripMargin
    })

  // ---- incremental view maintenance (operators/Ivm.scala) ----------------

  /** Shared CDC recipe over documents, keyed by lang on n_chars: deletes
    * doc_id % 13 = 5 plus EVERY n_chars < 100 row (which removes each
    * lang's minimum — forcing the min/max recompute arm at the gate, not
    * just in the spec), updates doc_id % 10 = 0 (+1000), inserts
    * doc_id % 7 = 3 as new rows (+7). One op per base row (delete wins
    * over update; inserts are new identities), so any partition of the
    * base induces a valid partition of the delta — what the streaming
    * twin's chunked replay relies on.
    */
  private def ivmDel = col("doc_id") % 13 === 5 || col("n_chars") < 100
  private def ivmUpd = col("doc_id") % 10 === 0
  private[queries] def ivmIns = col("doc_id") % 7 === 3

  private[queries] def ivmDelta(docs: DataFrame): DataFrame =
    docs.where(ivmDel).select(col("lang"), lit("D").as("op"),
        col("n_chars").as("old_v"), lit(null).cast("long").as("new_v"))
      .unionByName(docs.where(!ivmDel && ivmUpd).select(col("lang"),
        lit("U").as("op"), col("n_chars").as("old_v"),
        (col("n_chars") + 1000L).as("new_v")))
      .unionByName(docs.where(ivmIns).select(col("lang"), lit("I").as("op"),
        lit(null).cast("long").as("old_v"), (col("n_chars") + 7L).as("new_v")))

  /** DuckDB CTE: the post-CDC final state the maintained view must equal. */
  private[queries] val ivmFinSql =
    """WITH fin AS (
      |   SELECT lang, CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |     ELSE n_chars END AS v
      |   FROM documents WHERE NOT (doc_id % 13 = 5 OR n_chars < 100)
      |   UNION ALL
      |   SELECT lang, n_chars + 7 FROM documents WHERE doc_id % 7 = 3)""".stripMargin

  /** Algebraic IVM (Ivm.applyDelta): the lang rollup maintained purely
    * from the CDC delta — the plan contains NO scan of the base table
    * (applyDelta structurally takes none; IvmSpec pins the leaf count).
    * The oracle recomputes the final state from scratch, so the check is
    * exactly "maintained == recomputed". avg derives from sum/cnt, the
    * algebraic-aggregate story at 100 TB: a day's rollup refresh costs
    * O(|delta| + |view|), never a corpus scan.
    */
  val qIvmRollup = Fixture(
    "q_ivm_rollup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Ivm.applyDelta(
        graft.operators.Ivm.view(docs, Seq("lang"), "n_chars"),
        ivmDelta(docs), Seq("lang"))
        .select(col("lang"), col("cnt"), col("sum_v"),
          Quant.q4(col("sum_v").cast("double") / col("cnt")).as("avg_v"))
    },
    Some(s"""$ivmFinSql
      | SELECT lang, count(*) AS cnt, sum(v)::BIGINT AS sum_v,
      |   ${q4("sum(v)::DOUBLE / count(*)")} AS avg_v
      | FROM fin GROUP BY 1""".stripMargin))

  /** Min/max IVM (Ivm.applyDeltaFull): deletion can break a bound, so
    * broken groups — here every lang, because the recipe deletes each
    * group's minimum row — recompute from the post-CDC base via a
    * broadcast semi-join on the broken keys, while unbroken bounds
    * maintain as least/greatest against inserted values only. cnt/sum
    * stay delta-maintained in the same pass.
    */
  val qIvmMinmax = Fixture(
    "q_ivm_minmax",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val newBase = docs.where(!ivmDel)
        .select(col("lang"), when(ivmUpd, col("n_chars") + 1000L)
          .otherwise(col("n_chars")).as("v"))
        .unionByName(docs.where(ivmIns)
          .select(col("lang"), (col("n_chars") + 7L).as("v")))
      graft.operators.Ivm.applyDeltaFull(
        graft.operators.Ivm.viewFull(docs, Seq("lang"), "n_chars"),
        ivmDelta(docs), newBase, Seq("lang"), "v")
    },
    Some(s"""$ivmFinSql
      | SELECT lang, count(*) AS cnt, sum(v)::BIGINT AS sum_v,
      |   min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v
      | FROM fin GROUP BY 1""".stripMargin))

  /** Streaming IVM (streaming/StreamingIvm): the same delta split into two
    * micro-batches folds into the SnapshotLake-held view via foreachBatch —
    * version arithmetic makes the non-idempotent fold replay-safe (a
    * replayed batchId hits isCommitted and skips; StreamingIvmSpec pins
    * that directly). Final lake state == the batch oracle: the fold is
    * associative across any chunking of the delta.
    */
  val qStreamIvmRollup = Fixture(
    "q_stream_ivm_rollup",
    (s, d) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivmlake_${System.nanoTime}").getAbsolutePath
      val docs = Tables.documents(s, d)
      graft.sources.SnapshotLake.commit(
        graft.operators.Ivm.view(docs, Seq("lang"), "n_chars"), root, 0L)
      Replay.start(s, Replay.each(
          ivmDelta(docs.where(col("doc_id") % 2 === 0)),
          ivmDelta(docs.where(col("doc_id") % 2 === 1)))) {
        graft.streaming.StreamingIvm.start(_, root, Seq("lang"), s"${root}_ckpt")
      }
      graft.sources.SnapshotLake.read(s, root)
        .select(col("lang"), col("cnt"), col("sum_v"))
    },
    Some(s"""$ivmFinSql
      | SELECT lang, count(*) AS cnt, sum(v)::BIGINT AS sum_v
      | FROM fin GROUP BY 1""".stripMargin))

  // ---- multi-granularity reporting: cube / grouping sets / (un)pivot -----

  /** Full CUBE over (lang, source): all four granularities — detail, each
    * one-dimension margin, grand total — in ONE `Expand` pass over a
    * single scan (q_corpus_rollup's argument, one level further: the naive
    * spelling is four scans + unions). Rolled-up NULL keys coalesce to a
    * sentinel on both sides, `glevel` is the shared grouping_id bitmask.
    */
  val qCubeReport = Fixture(
    "q_cube_report",
    (s, d) => Tables.documents(s, d)
      .cube("lang", "source")
      .agg(grouping_id().cast("long").as("glevel"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("glevel"), col("n_docs"), col("total_chars")),
    Some("""SELECT coalesce(lang, '(all)') AS lang,
      |   coalesce(source, '(all)') AS source,
      |   GROUPING(lang, source)::BIGINT AS glevel,
      |   count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      | FROM documents GROUP BY CUBE(lang, source)""".stripMargin))

  /** Disjoint GROUPING SETS ((lang), (source)): two independent margin
    * reports from one scan — the non-hierarchical shape rollup/cube can't
    * spell (no detail level, no grand total). This is the "dashboard
    * refresh" plan: every per-dimension breakdown a report needs, one
    * Expand, one shuffle.
    */
  val qGroupingSets = Fixture(
    "q_grouping_sets",
    (s, d) => Tables.documents(s, d)
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source"))),
        col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("glevel"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("glevel"), col("n_docs"), col("total_chars")),
    Some("""SELECT coalesce(lang, '(all)') AS lang,
      |   coalesce(source, '(all)') AS source,
      |   GROUPING(lang, source)::BIGINT AS glevel,
      |   count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      | FROM documents GROUP BY GROUPING SETS ((lang), (source))""".stripMargin))

  /** PIVOT to a source × lang matrix with EXPLICIT pivot values — the
    * scale-critical form: values-free `.pivot(col)` runs a driver-side
    * distinct scan over the corpus to discover columns, this one compiles
    * straight to conditional aggregation (one pass, map-side partials).
    * sum over an absent (source, lang) cell is NULL in both engines,
    * which is why the fixture pivots a sum and not a count.
    */
  val qPivotLangMatrix = Fixture(
    "q_pivot_lang_matrix",
    (s, d) => Tables.documents(s, d)
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(sum(col("n_chars"))),
    Some("""SELECT source,
      |   sum(CASE WHEN lang = 'de' THEN n_chars END)::BIGINT AS de,
      |   sum(CASE WHEN lang = 'en' THEN n_chars END)::BIGINT AS en,
      |   sum(CASE WHEN lang = 'es' THEN n_chars END)::BIGINT AS es,
      |   sum(CASE WHEN lang = 'fr' THEN n_chars END)::BIGINT AS fr,
      |   sum(CASE WHEN lang = 'zh' THEN n_chars END)::BIGINT AS zh
      | FROM documents GROUP BY source""".stripMargin))

  /** UNPIVOT (melt) of a wide per-source stats row to (source, metric,
    * value) long form — the inverse reshape, constant-width row expansion
    * with no shuffle beyond the feeding aggregation. Wide→long is how a
    * metrics table feeds a generic drift monitor (q_stream_drift's input
    * shape) without one query per metric.
    */
  val qUnpivotMetrics = Fixture(
    "q_unpivot_metrics",
    (s, d) => Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        max("n_chars").as("max_chars"))
      .unpivot(Array(col("source")),
        Array(col("n_docs"), col("sum_chars"), col("max_chars")),
        "metric", "value"),
    Some("""WITH w AS (SELECT source, count(*) AS n_docs,
      |     sum(n_chars)::BIGINT AS sum_chars, max(n_chars) AS max_chars
      |   FROM documents GROUP BY 1)
      | SELECT source, 'n_docs' AS metric, n_docs AS value FROM w
      | UNION ALL SELECT source, 'sum_chars', sum_chars FROM w
      | UNION ALL SELECT source, 'max_chars', max_chars FROM w""".stripMargin))

  /** Edit-distance similarity join (dedup/FuzzyJoin.scala): probe keys are
    * each document key with ONE character deleted at a recipe position, so
    * every probe must find at least its own source row at Levenshtein ≤ 1.
    * The Spark side runs the deletion-neighborhood banding (index +
    * equi-join + pair-local verify); the DuckDB oracle runs the BRUTE
    * FORCE cross join with levenshtein ≤ 1 — so a hash match certifies
    * the candidate generator is complete, not merely self-consistent.
    * Keys are the [a-z]-stripped first 12 chars of text (ASCII-stable
    * across engines; zh rows fall out at the shared length gate).
    */
  val qFuzzyJoin = Fixture(
    "q_fuzzy_join_ed1",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val keys = docs.select(col("doc_id"),
        regexp_replace(lower(substring(col("text"), 1, 12)), "[^a-z]", "")
          .as("key"))
        .where(length(col("key")) >= 4)
      val p = col("doc_id") % 4 + 1
      val probes = keys.select((col("doc_id") + 5000000L).as("pid"),
        concat(col("key").substr(lit(1), p - 1),
          col("key").substr(p + 1, length(col("key")))).as("pkey"))
      graft.dedup.FuzzyJoin
        .joinWithin1(probes, "pid", "pkey", keys, "doc_id", "key")
        .groupBy(col("l_id").as("pid"))
        .agg(count(lit(1)).as("n_matches"), min(col("r_id")).as("first_match"))
    },
    Some("""WITH k AS (SELECT doc_id,
      |     regexp_replace(lower(substr(text, 1, 12)), '[^a-z]', '', 'g') AS key
      |   FROM documents),
      | kk AS (SELECT * FROM k WHERE strlen(key) >= 4),
      | pr AS (SELECT doc_id + 5000000 AS pid,
      |     substr(key, 1, (doc_id % 4 + 1) - 1)
      |       || substr(key, (doc_id % 4 + 1) + 1, 99) AS pkey
      |   FROM kk),
      | m AS (SELECT pid, doc_id FROM pr, kk WHERE levenshtein(pkey, key) <= 1)
      | SELECT pid, count(*) AS n_matches, min(doc_id) AS first_match
      | FROM m GROUP BY 1""".stripMargin))

  /** Hybrid retrieval via reciprocal-rank fusion (similarity/Fusion.scala):
    * the BM25 top-20 (the exact [[qBm25]] lexical ranking, rank attached)
    * fused with a cosine top-20 of the embedding corpus against a literal
    * query vector — the sparse+dense first stage of a RAG pipeline. RRF
    * score = Σ 1/(60 + rank), rank-only, so the two rankers' incompatible
    * score scales never need calibration (Cormack et al., SIGIR'09).
    * Corpus-sized work stays inside the rankers (one scan each, TakeOrdered
    * top-k); the fuse itself touches ≤40 rows. The oracle recomputes both
    * rankings and the fusion from scratch in DuckDB; doc_id aligns with
    * vec_id by generation, which is what makes fusing their ids meaningful.
    * Determinism: both ranks order by q4-quantized scores with id
    * tie-breaks; the fused sum has ≤2 addends (commutative-exact), q4 at
    * the boundary; final order by (raw fused desc, best_rank, id).
    */
  val qHybridRrf = Fixture(
    "q_hybrid_rrf",
    (s, d) => {
      val lex = qBm25.build(s, d)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("rank"))
      val qv = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
      val den = graft.similarity.Fusion.cosineRank(
          Tables.embeddings(s, d), "vec_id", "embedding", qv, 20,
          Quant.q4(_))
        .select(col("id"), col("rank"))
      graft.similarity.Fusion.rrf(Seq(lex, den), "id", "rank")
        .select(col("id"), Quant.q4(col("fused_score")).as("fused_score"),
          col("n_lists"), col("best_rank"), col("fused_rank"))
    },
    Some(s"""WITH lex AS (SELECT doc_id AS id,
      |     row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |   FROM (${qBm25.oracle.get})),
      | e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |       FROM embeddings),
      | qq AS (SELECT list_transform(generate_series(0, 63),
      |          i -> (((i * 37) % 19 - 9) / 10.0)::DOUBLE) AS q),
      | dc AS (SELECT vec_id AS id,
      |     ${q4(s"${dotSql("v", "q")} / (sqrt(${dotSql("v", "v")}) * sqrt(${dotSql("q", "q")}))")} AS cos
      |   FROM e, qq),
      | den AS (SELECT id,
      |     row_number() OVER (ORDER BY cos DESC, id) AS rank
      |   FROM (SELECT id, cos FROM dc ORDER BY cos DESC, id LIMIT 20)),
      | u AS (SELECT id, rank FROM lex UNION ALL SELECT id, rank FROM den),
      | fu AS (SELECT id, sum(1.0::DOUBLE / (60 + rank)) AS fs,
      |     count(*) AS n_lists, min(rank) AS best_rank
      |   FROM u GROUP BY 1)
      | SELECT id, ${q4("fs")} AS fused_score, n_lists, best_rank,
      |   row_number() OVER (ORDER BY fs DESC, best_rank, id) AS fused_rank
      | FROM fu ORDER BY fused_rank LIMIT 20""".stripMargin))

  /** KMV distinct-sketch store (functions/Kmv.scala): per-(lang, shard)
    * bottom-64 distinct-hash sketches persisted to parquet at ingest, then
    * per-lang distinct-token estimates — plus a grand-total row merged from
    * the per-lang sketches — computed entirely from the STORE (the token
    * corpus is scanned once at write time; queries touch only k-sized
    * arrays). This is the sketch the HLL fixture can't pin: KMV content is
    * deterministic engine-independent data, so the DuckDB oracle replays
    * sketch → merge → two-level union → (k−1)/u_k estimate bit-for-bit
    * (Beyer et al. SIGMOD'07). `n_exact` rides along with a computed ok25
    * accuracy bit (k=64 ⇒ rsd ≈ 13%); both engines derive the boolean from
    * the same numbers, so it is hash-stable by construction.
    */
  val qKmvSketchStore = Fixture(
    "q_kmv_sketch_store",
    (s, d) => {
      import graft.functions.Kmv
      val k = 64
      val toks = Tables.documents(s, d).select(col("lang"),
        (col("doc_id") % 4).as("shard"),
        explode(TextFunctions.words(lower(col("text")))).as("w"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_kmv/" +
        Integer.toHexString(d.hashCode)
      Kmv.sketch(toks, Seq("lang", "shard"), col("w"), k)
        .write.mode("overwrite").parquet(dir)
      val atRest = s.read.parquet(dir)
      val perLang = Kmv.merge(atRest, Seq("lang"), "kmv", k)
      val total = Kmv.merge(perLang.withColumn("lang", lit("(all)")),
        Seq("lang"), "kmv", k)
      val nPart = atRest.groupBy("lang").agg(count(lit(1)).as("n_partials"))
        .unionByName(atRest.agg(count(lit(1)).as("n_partials"))
          .withColumn("lang", lit("(all)")))
      val exact = toks.groupBy("lang").agg(countDistinct(col("w")).as("n_exact"))
        .unionByName(toks.agg(countDistinct(col("w")).as("n_exact"))
          .withColumn("lang", lit("(all)")))
      val est = Kmv.estimate(col("kmv"), k)
      perLang.unionByName(total)
        .join(broadcast(nPart), "lang").join(broadcast(exact), "lang")
        .select(col("lang"), col("n_partials"),
          size(col("kmv")).cast("long").as("sketch_size"),
          Quant.q4(est).as("est_distinct"), col("n_exact"),
          (abs(est - col("n_exact")) <= col("n_exact") * 0.25).as("ok25"))
    },
    Some(s"""WITH t AS (SELECT lang, doc_id % 4 AS shard,
      |       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      |     FROM documents),
      | hh AS (SELECT DISTINCT lang, shard, ${h64("w")} AS h FROM t),
      | sk AS (SELECT lang, shard, (list_sort(list(h)))[1:64] AS kmv
      |        FROM hh GROUP BY 1, 2),
      | m1 AS (SELECT lang, (list_sort(list(DISTINCT uh)))[1:64] AS kmv
      |        FROM (SELECT lang, unnest(kmv) AS uh FROM sk) GROUP BY 1),
      | m2 AS (SELECT '(all)' AS lang,
      |          (list_sort(list(DISTINCT uh)))[1:64] AS kmv
      |        FROM (SELECT unnest(kmv) AS uh FROM m1)),
      | m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2),
      | np AS (SELECT lang, count(*) AS n_partials FROM sk GROUP BY 1
      |        UNION ALL SELECT '(all)', count(*) FROM sk),
      | ex AS (SELECT lang, count(DISTINCT w) AS n_exact FROM t GROUP BY 1
      |        UNION ALL SELECT '(all)', count(DISTINCT w) FROM t),
      | est AS (SELECT lang, kmv,
      |     CASE WHEN len(kmv) < 64 THEN len(kmv)::DOUBLE
      |       ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE / kmv[64]::DOUBLE
      |     END AS e
      |   FROM m)
      | SELECT est.lang, np.n_partials, len(est.kmv)::BIGINT AS sketch_size,
      |   ${q4("e")} AS est_distinct, ex.n_exact,
      |   (abs(e - ex.n_exact) <= ex.n_exact * 0.25) AS ok25
      | FROM est JOIN np ON np.lang = est.lang
      |          JOIN ex ON ex.lang = est.lang""".stripMargin))

  /** Distinct-count views through the IVM loop via the KMV store
    * ([[graft.operators.Ivm.applyDeltaKmv]]): COUNT(DISTINCT) is the view
    * class both the algebraic IVM arm and the MV rewrite conservatively
    * skip (holistic, not delta-foldable) — but a bottom-k sketch IS
    * mergeable state, so an insert-only CDC delta refreshes the persisted
    * per-lang sketch with one delta-sized aggregation + k-array HOFs, the
    * corpus scanned only at materialization. Because KMV content is
    * deterministic, the oracle recomputes the post-CDC sketch FROM
    * SCRATCH and the refreshed store must match it hash-for-hash — the
    * maintained≡recomputed bar, applied to a distinct-count view.
    * Deletes are rejected by the operator (sketches are not subtractive);
    * IvmSpec pins the refusal.
    */
  val qIvmKmvDistinct = Fixture(
    "q_ivm_kmv_distinct",
    (s, d) => {
      import graft.functions.Kmv
      val k = 16
      val docs = Tables.documents(s, d)
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ivm_kmv/" +
        Integer.toHexString(d.hashCode)
      graft.operators.Ivm.viewKmv(docs, Seq("lang"), "source", k)
        .write.mode("overwrite").parquet(dir)
      // insert-only CDC: the usual insert recipe, but with SUFFIXED source
      // values so the refresh adds genuinely new distincts per group
      val delta = docs.where(ivmIns).select(col("lang"), lit("I").as("op"),
        concat(col("source"), lit("_x")).as("new_v"))
      val v2 = graft.operators.Ivm.applyDeltaKmv(
        s.read.parquet(dir), delta, Seq("lang"), k)
      // kmv_xor pins the refreshed sketch CONTENT hash-for-hash (the gate
      // can't compare raw array columns); size + estimate ride along
      v2.select(col("lang"),
        aggregate(col("kmv"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("kmv_xor"),
        size(col("kmv")).cast("long").as("sketch_size"),
        Quant.q4(Kmv.estimate(col("kmv"), k)).as("est_distinct"))
    },
    Some(s"""WITH fin AS (
      |   SELECT lang, source AS v FROM documents
      |   UNION ALL
      |   SELECT lang, source || '_x' FROM documents WHERE doc_id % 7 = 3),
      | hh AS (SELECT DISTINCT lang, ${h64("v")} AS h FROM fin),
      | sk AS (SELECT lang, (list_sort(list(h)))[1:16] AS kmv FROM hh GROUP BY 1)
      | SELECT lang,
      |   list_reduce(list_prepend(0::BIGINT, kmv), (a, x) -> xor(a, x)) AS kmv_xor,
      |   len(kmv)::BIGINT AS sketch_size,
      |   ${q4("CASE WHEN len(kmv) < 16 THEN len(kmv)::DOUBLE " +
          "ELSE 15.0::DOUBLE * 1152921504606846976.0::DOUBLE / kmv[16]::DOUBLE END")} AS est_distinct
      | FROM sk""".stripMargin))

  /** Streaming twin of [[qIvmKmvDistinct]]: the insert-only delta arrives
    * as TWO micro-batches through [[graft.streaming.StreamingIvm.startKmv]]
    * — each trigger union-merges the batch's hashes into the stored
    * per-lang sketches and commits the next lake version (v0→v2),
    * replay-safe via the pinned inception base. Deterministic sketch
    * content makes the check exact: the final stored state must equal
    * the from-scratch post-CDC recompute hash-for-hash, under ANY
    * chunking of the delta (bottom-k union is associative).
    */
  val qStreamIvmKmv = Fixture(
    "q_stream_ivm_kmv",
    (s, d) => {
      import graft.functions.Kmv
      val k = 16
      val docs = Tables.documents(s, d)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_kmvlake_${System.nanoTime}").getAbsolutePath
      graft.sources.SnapshotLake.commit(
        graft.operators.Ivm.viewKmv(docs, Seq("lang"), "source", k), root, 0L)
      def inserts(df: DataFrame) = df
        .select(col("lang"), lit("I").as("op"),
          concat(col("source"), lit("_x")).as("new_v"))
      Replay.start(s, Replay.each(
          inserts(docs.where(ivmIns && col("doc_id") % 2 === 0)),
          inserts(docs.where(ivmIns && col("doc_id") % 2 === 1)))) {
        graft.streaming.StreamingIvm.startKmv(_, root, Seq("lang"), k, s"${root}_ckpt")
      }
      graft.sources.SnapshotLake.read(s, root)
        .select(col("lang"),
          aggregate(col("kmv"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("kmv_xor"),
          size(col("kmv")).cast("long").as("sketch_size"),
          Quant.q4(Kmv.estimate(col("kmv"), k)).as("est_distinct"))
    },
    qIvmKmvDistinct.oracle)

  /** Shared CDC recipe for the CMS frequency view: the VALUE is `source`
    * (a string multiset per lang), deletes doc_id % 13 = 5, updates
    * % 10 = 0 rewrite source → source_u, inserts % 7 = 3 add source_x —
    * one op per base doc (delete wins), so delta partitions chunk
    * cleanly for the streaming twin.
    */
  private def cmsDelta(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 13 === 5).select(col("lang"),
        lit("D").as("op"), col("source").as("old_v"),
        lit(null).cast("string").as("new_v"))
      .unionByName(docs.where(col("doc_id") % 13 =!= 5 &&
          col("doc_id") % 10 === 0)
        .select(col("lang"), lit("U").as("op"), col("source").as("old_v"),
          concat(col("source"), lit("_u")).as("new_v")))
      .unionByName(docs.where(col("doc_id") % 7 === 3)
        .select(col("lang"), lit("I").as("op"),
          lit(null).cast("string").as("old_v"),
          concat(col("source"), lit("_x")).as("new_v")))

  /** DuckDB CTE: the post-CDC (lang, source-value) multiset. */
  private val cmsFinSql =
    """WITH fin AS (
      |   SELECT lang, CASE WHEN doc_id % 10 = 0 THEN source || '_u'
      |     ELSE source END AS v
      |   FROM documents WHERE NOT (doc_id % 13 = 5)
      |   UNION ALL
      |   SELECT lang, source || '_x' FROM documents WHERE doc_id % 7 = 3),
      | rs AS (SELECT unnest(generate_series(0, 3)) AS r)""".stripMargin

  /** FREQUENCY views through the IVM loop via the CMS store
    * ([[graft.operators.Ivm.applyDeltaCms]]): the counter-matrix sketch
    * is the member of the sketch-view family whose cells are plain
    * counts — SUBTRACTIVE — so unlike the KMV view (insert-only, deletes
    * refused) the FULL I/U/D delta folds exactly: each post-image +1,
    * each pre-image −1, summed cell-wise into the stored matrix with
    * zeroed cells dropped. The maintained store must equal a from-
    * scratch rebuild on the post-CDC base cell-for-cell (deterministic
    * shared-hash cells, 4×8 so collisions are real), which is what the
    * oracle recomputes. Refresh cost: delta-sized expansion ×depth plus
    * a sketch-sized join — the corpus appears nowhere.
    */
  val qIvmCmsFreq = Fixture(
    "q_ivm_cms_freq",
    (s, d) => {
      val (depth, width) = (4, 8)
      val docs = Tables.documents(s, d)
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ivm_cms/" +
        Integer.toHexString(d.hashCode)
      graft.operators.Ivm.viewCms(docs, Seq("lang"), "source", depth, width)
        .write.mode("overwrite").parquet(dir)
      graft.operators.Ivm.applyDeltaCms(
        s.read.parquet(dir), cmsDelta(docs), Seq("lang"), depth, width)
        .select(col("lang"), col("r").cast("long").as("r"), col("c"),
          col("cnt"))
    },
    Some(s"""$cmsFinSql
      | SELECT lang, r, ${h64("v || '#' || r::VARCHAR")} % 8 AS c,
      |   count(*) AS cnt
      | FROM fin CROSS JOIN rs GROUP BY 1, 2, 3""".stripMargin))

  /** Streaming twin of [[qIvmCmsFreq]]: the full I/U/D delta arrives as
    * TWO micro-batches through [[graft.streaming.StreamingIvm.startCms]]
    * — each trigger adds its signed cell matrix and commits the next
    * lake version (v0→v2, replay-safe via the pinned inception base, and
    * the fold is NOT idempotent, so the version guard is load-bearing).
    * Counter addition is associative, so the final store equals the
    * one-shot post-CDC rebuild under any delta chunking — cell-for-cell,
    * deletes included, the arm the KMV stream had to refuse.
    */
  val qStreamIvmCms = Fixture(
    "q_stream_ivm_cms",
    (s, d) => {
      val (depth, width) = (4, 8)
      val docs = Tables.documents(s, d)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_cmslake_${System.nanoTime}").getAbsolutePath
      graft.sources.SnapshotLake.commit(
        graft.operators.Ivm.viewCms(docs, Seq("lang"), "source", depth,
          width), root, 0L)
      Replay.start(s, Replay.each(
          cmsDelta(docs.where(col("doc_id") % 2 === 0)),
          cmsDelta(docs.where(col("doc_id") % 2 === 1)))) {
        graft.streaming.StreamingIvm.startCms(_, root, Seq("lang"), depth, width,
          s"${root}_ckpt")
      }
      graft.sources.SnapshotLake.read(s, root)
        .select(col("lang"), col("r").cast("long").as("r"), col("c"),
          col("cnt"))
    },
    qIvmCmsFreq.oracle)

  /** Row-level CDC for the sample store: full post-image rows for I/U,
    * the usual recipe mods, inserts as NEW keys (doc_id + 1 000 000 —
    * their sample membership is as deterministic as anyone's).
    */
  private def sampleDelta(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 13 === 5)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        lit("D").as("op"))
      .unionByName(docs.where(col("doc_id") % 13 =!= 5 &&
          col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), col("source"),
          (col("n_chars") + 1000L).as("n_chars"), lit("U").as("op")))
      .unionByName(docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("source"), (col("n_chars") + 7L).as("n_chars"),
          lit("I").as("op")))

  /** The RANK member of the sketch-store trio through the IVM loop
    * ([[graft.operators.Ivm.applyDeltaSample]]): the deterministic
    * hash-rate sample is a ROW store whose membership is a pure function
    * of the key hash, so a row-level I/U/D delta maintains it exactly —
    * filter the delta to its sample-member rows, anti-join the touched
    * keys out, union the I/U post-images in. Maintained == the sample of
    * the post-CDC base row-for-row (the oracle recomputes it), the
    * corpus appears nowhere, and with KMV (insert-only by refusal) and
    * CMS (fully subtractive) this closes the IVM story for all three
    * persisted sketch families.
    */
  val qIvmSampleStore = Fixture(
    "q_ivm_sample_store",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
      val denom = 4
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ivm_smp/" +
        Integer.toHexString(d.hashCode)
      graft.operators.Ivm.viewSample(docs,
          col("doc_id").cast("string"), denom)
        .write.mode("overwrite").parquet(dir)
      graft.operators.Ivm.applyDeltaSample(s.read.parquet(dir),
        sampleDelta(docs), "doc_id", col("doc_id").cast("string"), denom)
    },
    Some(s"""WITH fin AS (
      |   SELECT doc_id, lang, source, CASE WHEN doc_id % 10 = 0
      |       THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |   FROM documents WHERE NOT (doc_id % 13 = 5)
      |   UNION ALL
      |   SELECT doc_id + 1000000, lang, source, n_chars + 7
      |   FROM documents WHERE doc_id % 7 = 3)
      | SELECT doc_id, lang, source, n_chars FROM fin
      | WHERE ${graft.functions.HashSample.sampleSql("doc_id::VARCHAR", 4)}""".stripMargin))

  /** Streaming twin of [[qIvmSampleStore]]: the row-level delta arrives
    * as TWO micro-batches through
    * [[graft.streaming.StreamingIvm.startSample]] (v0→v2, replay-safe
    * via the pinned inception base). Membership determinism makes the
    * result chunking-invariant: the final store equals the one-shot
    * post-CDC sample exactly.
    */
  val qStreamIvmSample = Fixture(
    "q_stream_ivm_sample",
    (s, d) => {
      val denom = 4
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_smplake_${System.nanoTime}").getAbsolutePath
      graft.sources.SnapshotLake.commit(
        graft.operators.Ivm.viewSample(docs,
          col("doc_id").cast("string"), denom), root, 0L)
      Replay.start(s, Replay.each(
          sampleDelta(docs.where(col("doc_id") % 2 === 0)),
          sampleDelta(docs.where(col("doc_id") % 2 === 1)))) {
        graft.streaming.StreamingIvm.startSample(_, root, "doc_id",
          col("doc_id").cast("string"), denom, s"${root}_ckpt")
      }
      graft.sources.SnapshotLake.read(s, root)
        .select("doc_id", "lang", "source", "n_chars")
    },
    qIvmSampleStore.oracle)

  /** STREAMING hybrid retrieval — the serving form of [[qHybridRrf]]:
    * query rows arrive as a stream and are served against TWO indexes at
    * rest (the IVF cell-bucketed ANN index and the BM25 term-bucketed
    * posting index), candidates fused per query by RRF. Plan shape: both
    * candidate generators are STATELESS stream-static equi-joins (cell /
    * term bucket pruning on the static side); the only state is one
    * windowed aggregate holding two bounded [[graft.functions.TopKAgg]]
    * buffers (k=5 each) per query — ranks are array positions, because
    * rank-over-window does not exist in append streams — and fusion is a
    * post-aggregate HOF projection ([[graft.similarity.Fusion.rrfFuseArrays]]).
    * At serving scale nothing is corpus-sized: per-batch cost is candidate
    * rows, state is O(k) per live query. Each query's term comes from a
    * 4-term vocab by query_id; its vector is the query row itself. The
    * oracle re-derives dense candidates (cell assignment + 2-cell probe),
    * lexical BM25 over matched docs, both top-5 rankings, the RRF fold,
    * and the emission window arithmetic — streaming hybrid serving must
    * return exactly what the batch rankers + fusion would.
    */
  val qStreamHybridRrf = Fixture(
    "q_stream_hybrid_rrf",
    (s, d) => {
      import graft.functions.TopKAgg
      val h = Integer.toHexString(d.hashCode)
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val ivfTbl = s"graft_hyb_ivf_$h"
      val bmTbl = s"graft_hyb_bm_$h"
      FixtureOnce(ivfTbl) {
        Ann.ivfWriteIndex(emb, cents, ivfTbl,
          s"${sys.props("java.io.tmpdir")}/graft_hyb_ivf/$h", 8)
        graft.similarity.Bm25.writeIndex(Tables.documents(s, d), "doc_id",
          "text", bmTbl, s"${sys.props("java.io.tmpdir")}/graft_hyb_bm/$h", 8)
      }
      val vocab = Seq("table", "row", "window", "data")
      val posts = s.table(bmTbl).where(col("term").isin(vocab: _*))
      val termStats = posts.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(s.table(s"${bmTbl}_stats")
          .agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl")))
      val queries = emb.where(col("vec_id") < 30)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("qv"))
      Replay(s, Replay.parts(queries, 2, "query_id"), s"stream_hyb_$h") { q =>
        val qdf = q.withColumn("ts", timestamp_seconds(col("query_id") * 7))
        val den = Ann.ivfSearchStreamCandidates(s, ivfTbl, cents,
            qdf.select("query_id", "qv", "ts"), 2)
          .select(col("query_id"), col("ts"), lit(1).as("tag"),
            col("neighbor_id").as("id"), col("cos").as("score"))
        val idf = log((col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))
        val lex = qdf
          .withColumn("term", element_at(array(vocab.map(lit): _*),
            (col("query_id") % 4 + 1).cast("int")))
          .join(posts.select("term", "doc_id", "tf", "dl"), Seq("term"))
          .join(broadcast(termStats), Seq("term"))
          .withColumn("avgdl", col("sdl").cast("double") / col("n"))
          .select(col("query_id"), col("ts"), lit(0).as("tag"),
            col("doc_id").as("id"),
            Quant.q4(idf * (col("tf") * lit(2.2)) / (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))).as("score"))
        lex.unionByName(den)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"), col("query_id"))
          .agg(TopKAgg.topK(when(col("tag") === 0, col("score")), col("id"), 5)
              .as("lex5"),
            TopKAgg.topK(when(col("tag") === 1, col("score")), col("id"), 5)
              .as("den5"))
          .select(unix_timestamp(col("window.start")).as("ws"), col("query_id"),
            posexplode(graft.similarity.Fusion.rrfFuseArrays(
              col("lex5"), col("den5"), 60, 3)))
          .select(col("ws"), col("query_id"), (col("pos") + 1).cast("long")
              .as("fused_rank"), col("col.id").as("id"),
            Quant.q4(col("col.fused_score")).as("fused_score"),
            col("col.n_lists").as("n_lists"), col("col.best_rank").as("best_rank"))
      }
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | pc AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |          ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |        FROM e CROSS JOIN c),
      | sc AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pc),
      | cr AS (SELECT vec_id, cid,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |        FROM sc),
      | cell AS (SELECT vec_id, cid AS cell FROM cr WHERE rn = 1),
      | probe AS (SELECT vec_id AS query_id, cid AS cell FROM cr
      |           WHERE rn <= 2 AND vec_id < 30),
      | cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |          FROM probe p JOIN cell a ON a.cell = p.cell AND a.vec_id <> p.query_id),
      | pr AS (SELECT query_id, neighbor_id,
      |          ${dotSql("eq.v", "en.v")} AS ab, ${dotSql("eq.v", "eq.v")} AS aa,
      |          ${dotSql("en.v", "en.v")} AS bb
      |        FROM cand JOIN e eq ON eq.vec_id = cand.query_id
      |                  JOIN e en ON en.vec_id = cand.neighbor_id),
      | srd AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pr),
      | den AS (SELECT query_id, neighbor_id AS id,
      |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      |        FROM srd),
      | t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      |       FROM documents),
      | dw AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM t),
      | st AS (SELECT count(*) AS n, sum(dl)::BIGINT AS sdl FROM dw),
      | qs AS (SELECT vec_id AS query_id,
      |          CASE vec_id % 4 WHEN 0 THEN 'table' WHEN 1 THEN 'row'
      |            WHEN 2 THEN 'window' ELSE 'data' END AS term
      |        FROM e WHERE vec_id < 30),
      | tf AS (SELECT q.query_id, q.term, d.doc_id, d.dl,
      |          len(list_filter(d.w, x -> x = q.term))::BIGINT AS tf
      |        FROM qs q CROSS JOIN dw d),
      | dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
      |         WHERE tf > 0 GROUP BY 1),
      | lexsc AS (SELECT f.query_id, f.doc_id AS id,
      |     ${q4("ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))")} AS score
      |   FROM tf f JOIN dfx ON dfx.term = f.term, st WHERE f.tf > 0),
      | lex AS (SELECT query_id, id,
      |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rn
      |        FROM lexsc),
      | u AS (SELECT query_id, id, rn FROM lex WHERE rn <= 5
      |       UNION ALL SELECT query_id, id, rn FROM den WHERE rn <= 5),
      | fu AS (SELECT query_id, id, sum(1.0::DOUBLE / (60 + rn)) AS fs,
      |          count(*) AS n_lists, min(rn) AS best_rank
      |        FROM u GROUP BY 1, 2),
      | fr AS (SELECT query_id, id, fs, n_lists, best_rank,
      |          row_number() OVER (PARTITION BY query_id
      |            ORDER BY fs DESC, best_rank, id) AS fused_rank
      |        FROM fu),
      | mx AS (SELECT max(vec_id * 7) AS mx FROM e WHERE vec_id < 30)
      | SELECT (query_id * 7 // 60) * 60 AS ws, query_id, fused_rank, id,
      |   ${q4("fs")} AS fused_score, n_lists, best_rank
      | FROM fr WHERE fused_rank <= 3
      |   AND (query_id * 7 // 60) * 60 + 60 <= (SELECT mx FROM mx)""".stripMargin))

  /** KMV set algebra over stored sketches: per-source-PAIR union /
    * Jaccard / intersection estimates computed ENTIRELY from per-source
    * bottom-128 shingle sketches (functions/Kmv.scala — Beyer et al.
    * SIGMOD'07 §4: the union sketch's k smallest hashes are a uniform
    * sample of the union, so ρ = |L∩A∩B|/|L| estimates Jaccard and ρ·U
    * the intersection). This is the sketch-store answer to
    * [[qSourceOverlap]]'s question — cross-corpus contamination /overlap
    * triage at 100 TB compares 190 pairs of k-sized arrays, never
    * re-joining shingle relations; the corpus is scanned once when the
    * per-source sketches land. Exact pair intersections ride along via
    * the q_source_overlap mask-histogram (bit_or per shingle — never a
    * shingle self-join) so the estimates sit beside ground truth (the
    * estimator's accuracy itself is spec-pinned in KmvSpec). Every
    * number is deterministic shared-hash data — the oracle replays
    * sketch, union, ρ, and both estimates bit-for-bit.
    */
  val qKmvSetOps = Fixture(
    "q_kmv_set_ops",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.IntegerType
      import scala.jdk.CollectionConverters._
      import graft.functions.Kmv
      val k = 128
      val docs = Tables.documents(s, d)
      // source→bit dim, the sourceOverlap shape (≤64 sources per mask long)
      val collected = docs.select("source").distinct()
        .orderBy("source").limit(65).collect()
      require(collected.length <= 64, "mask path supports ≤64 sources")
      val srcIds = s.createDataFrame(
        collected.zipWithIndex.map { case (r, i) => Row(r.get(0), i) }
          .toSeq.asJava,
        docs.select("source").schema.add("sid", IntegerType, nullable = false))
      // shingling is compute-dense and sf-sized parquet is few splits —
      // repartition to parallelize it (the sourceOverlap rationale); hash
      // shingles to LONGs immediately so the cache and both aggregations
      // below never carry strings. No distinct: the sketch buffer and the
      // per-hash bit_or both collapse duplicates themselves.
      val tx = docs
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("source"),
          explode(TextFunctions.shingles(col("text"), 3)).as("sg"))
        .select(col("source"), TextFunctions.hash64(col("sg")).as("h"))
      graft.operators.Caching.withCached(tx) {
        val sk = tx.groupBy("source").agg(Kmv.bottomK(col("h"), k).as("kmv"))
        val pairs = sk.as("a")
          .join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            col("a.kmv").as("ka"), col("b.kmv").as("kb"))
        // exact pair intersections via the q_source_overlap mask histogram
        // (one aggregate per shingle + bit enumeration of mask-sized rows)
        // instead of a shingle self-join, which blows up on hot shingles
        val hist = tx.join(broadcast(srcIds), "source")
          .groupBy("h").agg(expr("bit_or(shiftleft(1L, sid))").as("mask"))
          .groupBy("mask").agg(count(lit(1)).as("cnt"))
        val bitsArr = expr("filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)")
        val ex = hist
          .select(col("cnt"), col("mask"), explode(bitsArr).as("ia"))
          .select(col("cnt"), col("ia"), explode(expr(
            "filter(sequence(0, 63), b -> b > ia AND (shiftright(mask, b) & 1) = 1)")).as("ib"))
          .join(broadcast(srcIds.select(col("sid").as("ia"),
            col("source").as("src_a"))), "ia")
          .join(broadcast(srcIds.select(col("sid").as("ib"),
            col("source").as("src_b"))), "ib")
          .groupBy("src_a", "src_b").agg(sum(col("cnt")).as("n_inter_exact"))
        pairs
          .select(col("src_a"), col("src_b"),
            Quant.q4(Kmv.estimate(Kmv.unionSketch(col("ka"), col("kb"), k), k))
              .as("union_est"),
            Quant.q4(Kmv.jaccardEstimate(col("ka"), col("kb"), k)).as("jacc_est"),
            Quant.q4(Kmv.intersectEstimate(col("ka"), col("kb"), k))
              .as("inter_est"))
          .join(ex, Seq("src_a", "src_b"), "left")
          .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      }
    },
    Some(s"""WITH w0 AS (SELECT source, $wordsSql AS w FROM documents),
      | shl AS (SELECT source, unnest($shinglesSql) AS sg FROM w0),
      | hh AS (SELECT DISTINCT source, ${h64("sg")} AS h FROM shl),
      | sk AS (SELECT source, (list_sort(list(h)))[1:128] AS kmv
      |        FROM hh GROUP BY 1),
      | p AS (SELECT a.source AS src_a, b.source AS src_b,
      |         a.kmv AS ka, b.kmv AS kb
      |       FROM sk a JOIN sk b ON a.source < b.source),
      | lu AS (SELECT src_a, src_b, ka, kb,
      |          (list_sort(list_distinct(list_concat(ka, kb))))[1:128] AS l
      |        FROM p),
      | es AS (SELECT src_a, src_b,
      |     CASE WHEN len(l) < 128 THEN len(l)::DOUBLE
      |       ELSE 127.0::DOUBLE * 1152921504606846976.0::DOUBLE / l[128]::DOUBLE
      |     END AS u_est,
      |     len(list_intersect(list_intersect(ka, kb), l))::DOUBLE / len(l) AS rho
      |   FROM lu),
      | ex AS (SELECT x.source AS src_a, y.source AS src_b,
      |          count(*) AS n_inter_exact
      |        FROM hh x JOIN hh y ON x.h = y.h AND x.source < y.source
      |        GROUP BY 1, 2)
      | SELECT es.src_a, es.src_b, ${q4("u_est")} AS union_est,
      |   ${q4("rho")} AS jacc_est, ${q4("rho * u_est")} AS inter_est,
      |   coalesce(ex.n_inter_exact, 0) AS n_inter_exact
      | FROM es LEFT JOIN ex ON ex.src_a = es.src_a AND ex.src_b = es.src_b""".stripMargin))

  /** Count-Min frequency-sketch store (functions/Cms.scala): per-shard
    * 4×8 counter matrices over tokens persisted relationally, merged by
    * (r, c) sum, then point-estimated for a 7-term probe vocabulary —
    * with the deliberately TINY width forcing collisions so the min-over-
    * rows recovery and the never-underestimate invariant (est ≥ exact,
    * Cormode & Muthukrishnan J.Alg'05) are exercised, not vacuous. The
    * probe joins a broadcast sketch (depth·width rows by construction);
    * exact counts ride along, plus an absent term pinning the
    * empty-cell → 0 path. Sketch cells are plain grouped counts of a
    * shared seeded hash — the oracle rebuilds matrix, merge, probe, and
    * invariant exactly.
    */
  val qCmsSketchStore = Fixture(
    "q_cms_sketch_store",
    (s, d) => {
      import s.implicits._
      import graft.functions.Cms
      val (depth, width) = (4, 8)
      val toks = Tables.documents(s, d).select((col("doc_id") % 4).as("shard"),
        explode(TextFunctions.words(lower(col("text")))).as("w"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_cms/" +
        Integer.toHexString(d.hashCode)
      Cms.build(toks, Seq("shard"), col("w"), depth, width)
        .write.mode("overwrite").parquet(dir)
      val merged = Cms.merge(s.read.parquet(dir), Seq())
      val vocab = Seq("table", "row", "window", "data", "stream", "the",
        "zzzabsent")
      val est = Cms.pointEstimate(merged, vocab.toDF("term"), "term",
        depth, width)
      val exact = toks.groupBy(col("w").as("term"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("term"), "left")
        .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
        .withColumn("never_under", col("est") >= col("n_exact"))
    },
    Some(s"""WITH t AS (SELECT doc_id % 4 AS shard,
      |       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      |     FROM documents),
      | rs AS (SELECT unnest(generate_series(0, 3)) AS r),
      | cm AS (SELECT r, ${h64("w || '#' || r::VARCHAR")} % 8 AS c,
      |          count(*) AS cnt
      |        FROM t CROSS JOIN rs GROUP BY 1, 2),
      | pv AS (SELECT unnest(['table', 'row', 'window', 'data', 'stream',
      |          'the', 'zzzabsent']) AS term),
      | pb AS (SELECT term, r, ${h64("term || '#' || r::VARCHAR")} % 8 AS c
      |        FROM pv CROSS JOIN rs),
      | est AS (SELECT term, min(coalesce(cm.cnt, 0)) AS est
      |         FROM pb LEFT JOIN cm ON cm.r = pb.r AND cm.c = pb.c
      |         GROUP BY 1),
      | ex AS (SELECT w AS term, count(*) AS n_exact FROM t GROUP BY 1)
      | SELECT est.term, est.est, coalesce(ex.n_exact, 0) AS n_exact,
      |   est.est >= coalesce(ex.n_exact, 0) AS never_under
      | FROM est LEFT JOIN ex ON ex.term = est.term""".stripMargin))

  /** k-anonymity generalization ladder ([[graft.functions.Privacy
    * .kAnonLevels]], Sweeney IJUFKS'02): every document is released at
    * the finest quasi-identifier granularity whose group reaches k=7 —
    * full (lang, source, length-bucket, long-doc flag), then source
    * generalized away, then the bucket too — or suppressed when even
    * (lang, isl) is too small (the rare long-doc flag persists down the
    * ladder, so suppression genuinely triggers). All level cardinalities
    * come from ONE grouping-sets scan (one Expand, one shuffle) with
    * model-sized count tables broadcast back — the release gate a corpus
    * report runs before publishing per-slice statistics. The recipe
    * exercises all four arms at sf0.01 (16/453/17/14 rows); the oracle
    * recomputes every level count and the CASE ladder.
    */
  val qKAnonymity = Fixture(
    "q_k_anonymity",
    (s, d) => {
      val staged = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("source"), expr("n_chars div 100").as("b100"),
        (col("n_chars") > 500).as("isl"))
      graft.functions.Privacy.kAnonLevels(staged,
        Seq(Seq("lang", "source", "b100", "isl"),
          Seq("lang", "b100", "isl"), Seq("lang", "isl")), 7)
        .select(col("doc_id"), col("anon_level"),
          when(col("anon_level") === 0, concat_ws("|", col("lang"),
            col("source"), col("b100"), col("isl")))
          .when(col("anon_level") === 1, concat_ws("|", col("lang"),
            lit("*"), col("b100"), col("isl")))
          .when(col("anon_level") === 2, concat_ws("|", col("lang"),
            lit("*"), lit("*"), col("isl")))
          .otherwise(lit("(suppressed)")).as("released"))
    },
    Some("""WITH d AS (SELECT doc_id, lang, source, n_chars // 100 AS b100,
      |       n_chars > 500 AS isl FROM documents),
      | c0 AS (SELECT lang, source, b100, isl, count(*) AS n
      |        FROM d GROUP BY 1, 2, 3, 4),
      | c1 AS (SELECT lang, b100, isl, count(*) AS n FROM d GROUP BY 1, 2, 3),
      | c2 AS (SELECT lang, isl, count(*) AS n FROM d GROUP BY 1, 2),
      | lv AS (SELECT d.doc_id, d.lang, d.source, d.b100, d.isl,
      |          CASE WHEN c0.n >= 7 THEN 0 WHEN c1.n >= 7 THEN 1
      |            WHEN c2.n >= 7 THEN 2 ELSE 3 END AS anon_level
      |        FROM d
      |        JOIN c0 ON c0.lang = d.lang AND c0.source = d.source
      |          AND c0.b100 = d.b100 AND c0.isl = d.isl
      |        JOIN c1 ON c1.lang = d.lang AND c1.b100 = d.b100
      |          AND c1.isl = d.isl
      |        JOIN c2 ON c2.lang = d.lang AND c2.isl = d.isl)
      | SELECT doc_id, anon_level::BIGINT AS anon_level,
      |   CASE anon_level
      |     WHEN 0 THEN lang || '|' || source || '|' || b100::VARCHAR || '|' || isl::VARCHAR
      |     WHEN 1 THEN lang || '|*|' || b100::VARCHAR || '|' || isl::VARCHAR
      |     WHEN 2 THEN lang || '|*|*|' || isl::VARCHAR
      |     ELSE '(suppressed)' END AS released
      | FROM lv""".stripMargin))

}
