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

/** Sequence packing, k-means, TF-IDF/LM scoring, the crawl tier (WARC,
  * robots, sitemaps, frontier, link graph, PageRank/HITS), curation
  * streams, storage-layout fixtures (z-order, compaction, schema
  * evolution) and audio/WAV analysis.
  */
object CrawlQueries {

  /** Sequence packing (concat-and-chunk, the standard pretraining packing):
    * documents are concatenated in (source, doc_id) order and cut into
    * training sequences of `B = 2048` tokens; each document is assigned to
    * the pack where it STARTS (pack = cumulative-start-offset div B), and the
    * result is the per-pack accounting (docs, tokens) a data loader consumes.
    *
    * Scale shape: one window cumulative sum partitioned by source — the sort
    * is per-source and the packing is deterministic, so shards can be packed
    * independently and reproducibly. A dominant source makes that one sorted
    * partition the critical path at 100 TB — [[qPackScalable]] runs the same
    * packing through the distributed two-phase prefix sum instead.
    */
  private val packSql =
    s"""WITH t AS (SELECT source, doc_id, len($wordsSql)::BIGINT AS n_tok
      |            FROM documents),
      | o AS (SELECT source, doc_id, n_tok,
      |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      |       FROM t)
      | SELECT source, (start_off // 2048)::BIGINT AS pack_id,
      |   count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tok_total
      | FROM o GROUP BY 1, 2""".stripMargin

  private def packInput(s: SparkSession, d: String) =
    Tables.documents(s, d).select(col("source"), col("doc_id"),
      TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))

  private def packAccounting(offsets: DataFrame): DataFrame = offsets
    .withColumn("pack_id", expr("start_off div 2048"))
    .groupBy("source", "pack_id")
    .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok_total"))

  val qPackSequences = Fixture(
    "q_pack_sequences",
    (s, d) => packAccounting(
      graft.operators.Packing.startOffsets(packInput(s, d), "source", "doc_id", "n_tok")),
    Some(packSql))

  /** The same packing through [[graft.operators.Packing.startOffsetsScalable]]
    * — per-(source, shard) prefix sums plus a broadcast of the cumulated
    * shard totals, no per-source total order. Same oracle: the offsets are
    * definitionally equal, only the plan differs (PackingSpec pins both).
    */
  val qPackScalable = Fixture(
    "q_pack_scalable",
    (s, d) => packAccounting(
      graft.operators.Packing.startOffsetsScalable(
        packInput(s, d), "source", "doc_id", "n_tok", shardWidth = 16L)),
    Some(packSql))

  /** Fixed-size token chunking: each document splits into ⌈n_tok / 64⌉
    * chunks; the output row carries the chunk's token count and first token —
    * the shape a tokenize-and-shard pass emits before packing. Pure explode
    * over a per-row sequence: no shuffle at all, linear in output chunks.
    */
  val qChunkDocs = Fixture(
    "q_chunk_docs",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .withColumn("n_tok", size(col("w")).cast("long"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr("(n_tok + 63) div 64 - 1"))))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        least(lit(64L), col("n_tok") - col("chunk_id") * 64L).as("n_tok_chunk"),
        element_at(col("w"), (col("chunk_id") * 64L + 1L).cast("int")).as("first_tok")),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | n AS (SELECT doc_id, w, len(w)::BIGINT AS n_tok FROM t),
      | c AS (SELECT doc_id, w, n_tok,
      |         unnest(generate_series(0, (n_tok + 63) // 64 - 1)) AS chunk_id
      |       FROM n)
      | SELECT doc_id, chunk_id,
      |   least(64, n_tok - chunk_id * 64) AS n_tok_chunk,
      |   w[(chunk_id * 64 + 1)] AS first_tok
      | FROM c""".stripMargin))

  /** Skew-resistant aggregation, oracle-checked: per-language corpus totals
    * through [[graft.operators.SaltedAgg]]'s two-phase (keys + salt → keys)
    * decomposition. The fixture's 5 languages over 32 reducers is exactly the
    * hot-key shape that pins a reducer at 100 TB — salting spreads each key
    * over 16 partials and the merge is exact for algebraic aggregates, which
    * the plain-GROUP-BY oracle pins.
    */
  val qSaltedAgg = Fixture(
    "q_salted_lang_totals",
    (s, d) => {
      import graft.operators.{AggFn, AggSpec, SaltedAgg}
      SaltedAgg.aggregate(
        Tables.documents(s, d).select(col("lang"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"),
          col("n_chars")),
        Seq("lang"),
        Seq(AggSpec(AggFn.Cnt, col("n_tok"), "n_docs"),
            AggSpec(AggFn.Sum, col("n_tok"), "total_tok"),
            AggSpec(AggFn.Max, col("n_chars"), "max_chars")))
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
      |   sum(len($wordsSql))::BIGINT AS total_tok,
      |   max(n_chars) AS max_chars
      | FROM documents GROUP BY 1""".stripMargin))

  /** One k-means Lloyd iteration over the embeddings ([[Ann.kmeansStep]]):
    * E-step assignment against a centroid plan-literal (no join, no
    * shuffle), M-step elementwise mean through the O(d)-state
    * [[graft.functions.VectorSumAgg]] — the corpus is scanned once and the
    * shuffle carries k·d partials, never a posexplode'd corpus. Elements are
    * 10⁴-scaled to integer-valued doubles before summing, so the mean is
    * order-independent and bit-identical to the oracle's (see the operator
    * doc). Output exploded to (centroid_id, dim) cells for the compare.
    */
  val qKmeansStep = Fixture(
    "q_kmeans_step",
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d)
      Ann.kmeansStep(emb, emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | p AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c),
      | s AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT vec_id, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |       FROM s),
      | a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
      | q AS (SELECT a.cid, list_transform(e.v, x -> floor(x * 10000 + 0.5)) AS qv
      |       FROM a JOIN e USING (vec_id)),
      | x AS (SELECT cid, u.dim AS dim, u.val AS val FROM
      |         (SELECT cid, unnest(list_transform(generate_series(1, len(qv)),
      |            i -> {'dim': i, 'val': qv[i]})) AS u FROM q))
      | SELECT cid AS centroid_id, dim, count(*) AS n_members,
      |   ${q4("sum(val) / count(*) / 10000")} AS coord
      | FROM x GROUP BY 1, 2""".stripMargin))

  /** The full Lloyd's LOOP under the oracle: [[Ann.kmeans]] runs iteration 1
    * (deterministic smallest-vec_id init, E-step against the centroid
    * literal, O(d)-state M-step, q4-quantized double coords collected back
    * into the next literal), and [[Ann.kmeansStep]] then computes iteration
    * 2's exploded cells from the fitted model. The DuckDB side unrolls the
    * SAME two rounds — every arithmetic step (double casts, q4 cosine,
    * (cos DESC, cid ASC) argmax, integer-quantized sums, q4 coords) is
    * bit-identical, including the empty-cluster keep-old coalesce. This
    * pins the loop's round-trip (model out of round N = literal into round
    * N+1), not just one step.
    */
  val qKmeansConverged = Fixture(
    "q_kmeans_converged",
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d)
      Ann.kmeansStep(emb, Ann.kmeans(emb, k = 8, maxIters = 1).centroidsDf(s))
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      | p1 AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c0 c),
      | s1 AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p1),
      | r1 AS (SELECT vec_id, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |       FROM s1),
      | a1 AS (SELECT vec_id, cid FROM r1 WHERE rn = 1),
      | q1 AS (SELECT a1.cid, list_transform(e.v, x -> floor(x * 10000 + 0.5)) AS qv
      |       FROM a1 JOIN e USING (vec_id)),
      | x1 AS (SELECT cid, u.dim AS dim, u.val AS val FROM
      |         (SELECT cid, unnest(list_transform(generate_series(1, len(qv)),
      |            i -> {'dim': i, 'val': qv[i]})) AS u FROM q1)),
      | m1 AS (SELECT cid, dim, ${q4("sum(val) / count(*) / 10000")} AS coord
      |       FROM x1 GROUP BY 1, 2),
      | cm AS (SELECT cid, list(coord ORDER BY dim) AS cv FROM m1 GROUP BY cid),
      | c1 AS (SELECT c0.cid, coalesce(cm.cv, c0.cv) AS cv
      |       FROM c0 LEFT JOIN cm USING (cid)),
      | p2 AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c1 c),
      | s2 AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p2),
      | r2 AS (SELECT vec_id, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |       FROM s2),
      | a2 AS (SELECT vec_id, cid FROM r2 WHERE rn = 1),
      | q2 AS (SELECT a2.cid, list_transform(e.v, x -> floor(x * 10000 + 0.5)) AS qv
      |       FROM a2 JOIN e USING (vec_id)),
      | x2 AS (SELECT cid, u.dim AS dim, u.val AS val FROM
      |         (SELECT cid, unnest(list_transform(generate_series(1, len(qv)),
      |            i -> {'dim': i, 'val': qv[i]})) AS u FROM q2))
      | SELECT cid AS centroid_id, dim, count(*) AS n_members,
      |   ${q4("sum(val) / count(*) / 10000")} AS coord
      | FROM x2 GROUP BY 1, 2""".stripMargin))

  /** Per-source characteristic terms by TF-IDF — the corpus-exploration /
    * source-tagging staple. tf is the (source, term) aggregate, df the
    * per-term distinct-source count computed FROM tf (vocabulary-sized
    * input, not the corpus), and the source count ships as a broadcast
    * 1-row relation — no driver-side action. The final per-source top-5 is
    * a row_number over (source), which sorts each source's VOCABULARY (not
    * its rows); at 100 TB the same query swaps the window for a
    * string-keyed variant of the bounded-heap TopKAgg pattern
    * (q_topk_per_group) with no upstream change. Ranking happens on the
    * QUANTIZED score in both engines, so rank order is cross-engine
    * deterministic (ties break on the term).
    */
  val qTfidfTopTerms = Fixture(
    "q_tfidf_top_terms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = graft.Tables.documents(s, d)
        .select(col("source"),
          explode(TextFunctions.words(lower(col("text")))).as("w"))
        .where(col("w") =!= "")
      val tf = words.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      graft.operators.Caching.withCached(tf) {
        val df = tf.groupBy("w").agg(countDistinct("source").as("df"))
        val ns = tf.agg(countDistinct("source").as("ns"))
        val win = Window.partitionBy("source")
          .orderBy(col("tfidf").desc, col("w").asc)
        tf.join(df, "w").crossJoin(broadcast(ns))
          .select(col("source"), col("w"), col("tf"),
            Quant.q4(col("tf") * log(col("ns") / col("df"))).as("tfidf"))
          .withColumn("rank", row_number().over(win))
          .where(col("rank") <= 5)
          .select(col("source"), col("rank").cast("long").as("rank"),
            col("w").as("term"), col("tf"), col("tfidf"))
      }
    },
    Some(s"""WITH t AS (SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      |            FROM documents),
      | tf AS (SELECT source, w, count(*) AS tf FROM t WHERE w <> '' GROUP BY 1, 2),
      | df AS (SELECT w, count(DISTINCT source) AS df FROM tf GROUP BY 1),
      | n AS (SELECT count(DISTINCT source) AS ns FROM tf),
      | sc AS (SELECT source, w, tf, ${q4("tf * ln(ns / df)")} AS tfidf
      |        FROM tf JOIN df USING (w) CROSS JOIN n),
      | r AS (SELECT source, w, tf, tfidf,
      |         row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, w) AS rank
      |       FROM sc)
      | SELECT source, rank, w AS term, tf, tfidf FROM r WHERE rank <= 5""".stripMargin))

  /** Bigram language-model table: the 50 most frequent word bigrams with
    * their continuation probability P(w₂|w₁) = c(w₁w₂)/c(w₁·). Bigrams come
    * from one per-row transform+explode (no self-join on position); c(w₁·)
    * is re-aggregated FROM the bigram counts (vocabulary-sized input) and
    * joined back keyed on w₁ — both sides hash-partition on w₁, and at
    * corpus scale neither is broadcastable, so the co-partitioned shuffle
    * join IS the right plan. Counts are integers, so P is cross-engine
    * deterministic; the global top-50 plans as TakeOrdered (per-partition
    * heap + k-merge, no global sort).
    */
  val qBigramLm = Fixture(
    "q_bigram_lm",
    (s, d) => {
      val pairs = graft.Tables.documents(s, d)
        .select(TextFunctions.words(lower(col("text"))).as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      graft.operators.Caching.withCached(c12) {
        val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
        c12.join(c1, "w1")
          .select(col("w1"), col("w2"), col("c12"), col("c1"),
            Quant.q4(col("c12") / col("c1")).as("p"))
          .orderBy(col("c12").desc, col("w1"), col("w2"))
          .limit(50)
      }
    },
    Some(s"""WITH w0 AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
      |             FROM documents),
      | b AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |         i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM w0 WHERE len(w) >= 2),
      | c12 AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      | c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1)
      | SELECT w1, w2, c12, c1, ${q4("c12 / c1")} AS p
      | FROM c12 JOIN c1 USING (w1)
      | ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin))

  /** Per-document LM scoring under the corpus bigram LM — the CCNet/KenLM
    * quality-filter posture: each document's average log P(w₂|w₁) under the
    * maximum-likelihood bigram model of the corpus itself (every doc bigram
    * is in the model by construction, so no smoothing term is needed).
    * Low scores flag gibberish / boilerplate; the score feeds the same
    * keep/drop policies as [[qTopkPerGroup]]'s heuristic quality.
    *
    * Plan shape at 100 TB: the model is the observed-bigram table (ONE
    * aggregation of the exploded corpus, vocabulary²-bounded in theory,
    * observed-bigrams-bounded in fact — the sharded-KenLM posture), and
    * scoring is ONE equi-join of the doc bigrams against it keyed on
    * (w1, w2) — co-partitioned with the aggregation that built the model,
    * so ReuseExchange serves both from a single corpus shuffle. Nothing
    * broadcasts at corpus scale; c12 is cached model-sized via withCached.
    *
    * Cross-engine determinism: ln(c12/c1) is computed on identical doubles
    * (integer÷integer) in both engines, then integer-scaled
    * (floor(·10⁶ + 0.5)) per BIGRAM before the per-doc sum — integer sums
    * are partial-merge-order-exact (the kmeansStep trick), so the only
    * cross-engine surface is a 1-ulp ln() difference crossing a 10⁻⁶ floor
    * boundary (P ≈ 10⁻¹⁰ per distinct bigram; ln(1) = 0 exactly for the
    * common c12 = c1 case).
    */
  val qLmDocScore = Fixture(
    "q_lm_doc_score",
    (s, d) => {
      val bi = graft.Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      graft.operators.Caching.withCached(c12) {
        val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
        val model = c12.join(c1, "w1")
          .select(col("w1"), col("w2"),
            floor(log(col("c12") / col("c1")) * lit(1e6) + lit(0.5)).as("lp6"))
        bi.join(model, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp6")).as("slp"))
          .select(col("doc_id"), col("n_bigrams"),
            Quant.q4(col("slp") / col("n_bigrams") / lit(1e6)).as("avg_logp"))
      }
    },
    Some(s"""WITH w0 AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      |             FROM documents),
      | b AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
      |         i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM w0 WHERE len(w) >= 2),
      | bi AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM b),
      | c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
      | c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
      | m AS (SELECT w1, w2, floor(ln(c12 / c1) * 1000000 + 0.5) AS lp6
      |       FROM c12 JOIN c1 USING (w1))
      | SELECT doc_id, count(*) AS n_bigrams,
      |   ${q4("sum(lp6) / count(*) / 1000000")} AS avg_logp
      | FROM bi JOIN m USING (w1, w2) GROUP BY doc_id""".stripMargin))

  /** robots.txt compliance gate ([[graft.sources.Robots]]): 40 synthetic
    * per-domain robots files — a `googlebot` group with `Disallow: /` that
    * MUST be skipped (broken group selection disallows everything and
    * fails every row), comments, an empty `Disallow:` (the allow-all
    * idiom), an unknown directive — and a frontier whose paths exercise
    * longest-match (`Allow: /privateK/ok` beating `Disallow: /privateK/`),
    * pure prefix semantics (`/tmp` blocks `/tmpfile`), the
    * shorter-than-rule miss (`/privateK` vs `/privateK/`), and the
    * no-match default. The oracle predicts each decision from doc_id
    * arithmetic alone, so equality proves parse → group selection →
    * longest-match → tie-break end-to-end. Rules are a domain-keyed
    * relation; the gate is one equi-join + per-URL window.
    */
  val qRobotsGate = Fixture(
    "q_robots_gate",
    (s, d) => {
      val kd = col("id").cast("string")
      val robots = s.range(0, 40).select(
        concat(lit("site"), kd, lit(".com")).as("domain"),
        concat(
          lit("# synthetic robots\nUser-agent: googlebot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /private"), kd,
          lit("/\nDisallow: /tmp\nAllow: /private"), kd, lit("/ok\n"),
          when(col("id") % 3 === 0, lit("Disallow:\n")).otherwise(lit("")),
          when(col("id") % 2 === 0, lit("Crawl-delay: 2\n")).otherwise(lit("")))
          .as("robots_txt"))
      val rules = graft.sources.Robots.parseRules(s, robots)
      val k = (col("doc_id") % 40).cast("string")
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("site"), k, lit(".com")).as("domain"),
        when(col("doc_id") % 6 === 0,
            concat(lit("/private"), k, lit("/ok/page"), col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 1, concat(lit("/private"), k, lit("/secret")))
          .when(col("doc_id") % 6 === 2, lit("/tmpfile"))
          .when(col("doc_id") % 6 === 3,
            concat(lit("/public/page"), col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 4, lit("/tmp/x"))
          .otherwise(concat(lit("/private"), k)).as("path"))
      graft.sources.Robots.gate(urls, rules)
        .select("doc_id", "domain", "path", "allowed")
    },
    Some("""SELECT doc_id, 'site' || (doc_id % 40) || '.com' AS domain,
      |   CASE doc_id % 6
      |     WHEN 0 THEN '/private' || (doc_id % 40) || '/ok/page' || doc_id
      |     WHEN 1 THEN '/private' || (doc_id % 40) || '/secret'
      |     WHEN 2 THEN '/tmpfile'
      |     WHEN 3 THEN '/public/page' || doc_id
      |     WHEN 4 THEN '/tmp/x'
      |     ELSE '/private' || (doc_id % 40) END AS path,
      |   doc_id % 6 IN (0, 3, 5) AS allowed
      | FROM documents""".stripMargin))

  /** Sitemap ingest ([[graft.sources.Sitemap]]): per-domain `<urlset>`
    * documents assembled from the corpus (entries whitespace-padded inside
    * `<loc>` to exercise trimming, `<priority>` present only on even ids,
    * plus one loc-less junk `<url>` block per sitemap that extraction must
    * DROP), then exploded back to the frontier feed. The oracle predicts
    * every (loc, lastmod, priority) from doc_id arithmetic — the junk
    * block and padding vanish only if the block extraction, per-field
    * recovery, trim, and loc-filter all work. Assembly sorts entries by
    * doc_id before concatenation so the per-domain XML is deterministic
    * at any parallelism; one sitemap = one row, fan-out bounded by the
    * protocol's 50 000-URL cap.
    */
  val qSitemapIngest = Fixture(
    "q_sitemap_ingest",
    (s, d) => {
      val k = (col("doc_id") % 40).cast("string")
      val entry = concat(
        lit("<url><loc>\n  http://site"), k, lit(".com/a/"),
        col("doc_id").cast("string"), lit(" </loc><lastmod>2024-01-"),
        lpad((col("doc_id") % 27 + 1).cast("string"), 2, "0"),
        lit("</lastmod>"),
        when(col("doc_id") % 2 === 0, lit("<priority>0.5</priority>"))
          .otherwise(lit("")),
        lit("</url>"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><lastmod>junk</lastmod></url>"),
        array_join(transform(
          sort_array(col("es")), e => e.getField("entry")), ""),
        lit("</urlset>"))
      Tables.documents(s, d)
        .select(concat(lit("site"), k, lit(".com")).as("domain"),
          struct(col("doc_id"), entry.as("entry")).as("e"))
        .groupBy("domain").agg(collect_list(col("e")).as("es"))
        .select(col("domain"),
          explode(graft.sources.Sitemap.sitemapUrls(xml)).as("u"))
        .select(col("domain"), col("u.loc").as("loc"),
          col("u.lastmod").as("lastmod"), col("u.priority").as("priority"))
    },
    Some("""SELECT 'site' || (doc_id % 40) || '.com' AS domain,
      |   'http://site' || (doc_id % 40) || '.com/a/' || doc_id AS loc,
      |   '2024-01-' || lpad((doc_id % 27 + 1)::VARCHAR, 2, '0') AS lastmod,
      |   CASE WHEN doc_id % 2 = 0 THEN '0.5' ELSE '' END AS priority
      | FROM documents""".stripMargin))

  /** Sitemap INDEX hierarchy ([[graft.sources.Sitemap.sitemapChildren]] →
    * [[graft.sources.Sitemap.sitemapUrls]]): large sites split their URL
    * inventory across leaf sitemaps and publish one `<sitemapindex>` root
    * (the protocol's 50 000-URL / 50 MB cap forces this) — discovery must
    * walk index → leaf → URL. Here: 40 per-domain leaf sitemaps assembled
    * from the corpus, one root index listing them (locs whitespace-padded
    * to exercise trim), children extracted and JOINED back to the leaf
    * relation, then leaf URLs exploded. The child→leaf join is
    * broadcast-sized (the index fan-out is site count, not URL count); the
    * URL fan-out stays in the leaf explode — the same shape at a million
    * sites. Oracle predicts every (sitemap, loc) from doc_id arithmetic:
    * rows survive only if index extraction, trim, the join, and leaf
    * extraction all agree.
    */
  val qSitemapIndex = Fixture(
    "q_sitemap_index",
    (s, d) => {
      val k = (col("doc_id") % 40).cast("string")
      val entry = concat(lit("<url><loc>http://site"), k, lit(".com/a/"),
        col("doc_id").cast("string"), lit("</loc></url>"))
      val leaf = Tables.documents(s, d)
        .select(concat(lit("http://site"), k, lit(".com/sitemap.xml")).as("sm_loc"),
          struct(col("doc_id"), entry.as("entry")).as("e"))
        .groupBy("sm_loc").agg(collect_list(col("e")).as("es"))
        .select(col("sm_loc"),
          concat(lit("<urlset>"),
            array_join(transform(sort_array(col("es")), e => e.getField("entry")), ""),
            lit("</urlset>")).as("xml"))
      val index = leaf
        .select(concat(lit("<sitemap><loc> "), col("sm_loc"),
          lit(" </loc></sitemap>")).as("entry"))
        .agg(concat(lit("<sitemapindex>"),
          array_join(sort_array(collect_list(col("entry"))), ""),
          lit("</sitemapindex>")).as("xml"))
      val children = index.select(
        explode(graft.sources.Sitemap.sitemapChildren(col("xml"))).as("sm_loc"))
      children.join(leaf, "sm_loc")
        .select(col("sm_loc").as("sitemap"),
          explode(graft.sources.Sitemap.sitemapUrls(col("xml"))).as("u"))
        .select(col("sitemap"), col("u.loc").as("loc"))
    },
    Some("""SELECT 'http://site' || (doc_id % 40) || '.com/sitemap.xml' AS sitemap,
      |   'http://site' || (doc_id % 40) || '.com/a/' || doc_id AS loc
      | FROM documents""".stripMargin))

  /** ORC lake roundtrip — the other columnar format in Spark's built-in
    * set (a 100 TB lake is rarely format-pure; Hive-era producers land
    * ORC). Stage a corpus projection as ORC, read it back with a
    * filter + narrow projection, aggregate. The VALUE contract is this
    * oracle (against the parquet original, so the write→read loop must be
    * lossless); the PLAN contract — predicate pushdown into the ORC
    * reader, ReadSchema pruned to the touched columns — is pinned by
    * `OrcSpec`, mirroring what q_partitioned_roundtrip does for parquet.
    */
  val qOrcRoundtrip = Fixture(
    "q_orc_roundtrip",
    (s, d) => {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_orc/docs_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .where(col("n_chars") >= 200L)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          max("doc_id").as("max_id"))
    },
    Some("""SELECT lang, source, count(*) AS n_docs,
      |   sum(n_chars)::BIGINT AS sum_chars, max(doc_id) AS max_id
      | FROM documents WHERE n_chars >= 200
      | GROUP BY 1, 2""".stripMargin))

  /** Frontier scheduling with per-domain politeness — the step after the
    * robots gate: a crawler may issue at most one request per domain per
    * round, so the frontier is striped into rounds by per-domain rank
    * (authority-ordered in production; doc_id here for determinism).
    * `fetch_round` = that rank: round r contains at most one URL of each
    * domain, total rounds = the largest domain's backlog — the standard
    * politeness shape. The window partitions BY DOMAIN (state = one
    * domain's URLs); the composition with [[qRobotsGate]]'s gate and
    * [[qDomainCaps]]' cap is three stages sharing the SAME domain-keyed
    * shuffle, which ReuseExchange serves once.
    */
  val qFrontierSchedule = Fixture(
    "q_frontier_schedule",
    (s, d) => {
      val k = (col("doc_id") % 40).cast("string")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("site"), k,
            when(col("doc_id") % 4 === 0, lit(".co.uk"))
              .otherwise(lit(".com"))).as("domain"))
        .withColumn("fetch_round", row_number().over(w).cast("long"))
    },
    Some("""SELECT doc_id,
      |   'site' || (doc_id % 40) ||
      |     (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS domain,
      |   row_number() OVER (PARTITION BY ('site' || (doc_id % 40) ||
      |     (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END))
      |     ORDER BY doc_id)::BIGINT AS fetch_round
      | FROM documents""".stripMargin))

  /** STREAMING frontier politeness ([[graft.streaming.StreamingFrontier]])
    * under the SAME oracle as the batch [[qFrontierSchedule]]: discovered
    * URLs replay in doc_id order across 4 micro-batches and each must
    * receive the fetch_round the batch ranking would give it — which holds
    * only if the per-domain counter survives across triggers (cross-batch
    * keyed state, the thing this fixture exists to pin). The streaming form
    * touches only arriving rows; the batch form re-ranks the accumulated
    * frontier per recompute — same contract, incremental cost.
    */
  val qStreamFrontier = Fixture(
    "q_stream_frontier",
    (s, d) => Replay(s, Replay.parts(Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id")), 4, "doc_id"),
        "stream_frontier") { ids =>
      val stream = ids
        .withColumn("domain", concat(lit("site"),
          (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 4 === 0, lit(".co.uk")).otherwise(lit(".com"))))
        // whole-second event times ((id+1) s past epoch): the emitted
        // Timestamp is ms-precision, so sub-ms offsets would truncate
        // BEHIND the already-advanced watermark and trip
        // EMITTING_ROWS_OLDER_THAN_WATERMARK on the chained stage
        .withColumn("ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
        .withWatermark("ts", "0 seconds")
      graft.streaming.StreamingFrontier
        .schedule(stream, "doc_id", "domain", "ts")
        .select(col("id").as("doc_id"), col("domain"), col("fetch_round"))
    },
    qFrontierSchedule.oracle)

  /** Politeness in TIME ([[graft.sources.Robots.parseCrawlDelay]] composed
    * with the frontier rounds): each domain's `Crawl-delay` (default 5 s
    * where robots.txt declares none — only even-k domains do here) spaces
    * its rounds into absolute offsets, `fetch_at_s = (round−1)·delay` —
    * what the fetcher actually consumes. The delay relation is
    * domain-keyed and joins the frontier on the SAME domain key the round
    * window partitions by: one shuffle serves both, and the delay side is
    * #domains-sized (broadcast at any scale). A planted star-group
    * `Crawl-delay` after a googlebot group proves group attribution; odd
    * domains prove the no-row → default path.
    */
  val qFrontierFetchAt = Fixture(
    "q_frontier_fetch_at",
    (s, d) => {
      val kd = col("id").cast("string")
      val robots = s.range(0, 40).select(
        concat(lit("site"), kd, lit(".com")).as("domain"),
        concat(
          lit("User-agent: googlebot\nCrawl-delay: 99\n\nUser-agent: *\nDisallow: /private\n"),
          when(col("id") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("id") % 7 + 1).cast("string"),
              lit("\n"))).otherwise(lit("")))
          .as("robots_txt"))
      val delays = graft.sources.Robots.parseCrawlDelay(s, robots)
      val k = (col("doc_id") % 40).cast("string")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), concat(lit("site"), k, lit(".com")).as("domain"))
        .withColumn("fetch_round", row_number().over(w).cast("long"))
        .join(delays, Seq("domain"), "left")
        .select(col("doc_id"), col("domain"), col("fetch_round"),
          ((col("fetch_round") - 1L) *
            coalesce(col("crawl_delay"), lit(5.0))).as("fetch_at_s"))
    },
    Some("""WITH f AS (SELECT doc_id, 'site' || (doc_id % 40) || '.com' AS domain,
      |     row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id)::BIGINT
      |       AS fetch_round
      |   FROM documents)
      | SELECT doc_id, domain, fetch_round,
      |   (fetch_round - 1) * (CASE WHEN doc_id % 40 % 2 = 0
      |      THEN (doc_id % 40 % 7 + 1)::DOUBLE ELSE 5.0 END) AS fetch_at_s
      | FROM f""".stripMargin))

  /** Point-in-interval join ([[graft.operators.IntervalJoin]]): events
    * against 200 synthetic "session" intervals (arithmetic starts/ends, some
    * overlapping) via the time-CHUNK decomposition — interval fan-out to
    * chunk ids + plain equi-join + exact filter — where the naive spelling
    * is a broadcast nested-loop over every (point, interval) pair. The
    * oracle IS that naive spelling (DuckDB `BETWEEN` theta join), so hash
    * equality proves the decomposition loses and invents nothing at chunk
    * boundaries (chunk 15000 vs interval lengths 3000–15000 exercises
    * intervals spanning 1–2 chunks). Same-unit integer `div` chunking —
    * no double rounding near boundaries.
    */
  val qIntervalJoin = Fixture(
    "q_interval_join",
    (s, d) => {
      val pts = Tables.events(s, d)
        .select(col("event_id"), col("ts").cast("long").as("t"))
      val iv = s.range(0, 200).select(col("id").as("iid"),
        (lit(1704067200L) + col("id") * 11000).as("s0"),
        (lit(1704067200L) + col("id") * 11000 + 3000 + (col("id") % 7) * 2000).as("e0"))
      graft.operators.IntervalJoin.pointInInterval(pts, "t", iv, "s0", "e0",
          chunk = 15000L)
        .select(col("event_id"), col("iid"))
    },
    Some(s"""WITH iv AS (SELECT j AS iid, 1704067200 + j * 11000 AS s0,
      |     1704067200 + j * 11000 + 3000 + (j % 7) * 2000 AS e0
      |   FROM (SELECT unnest(generate_series(0, 199)) AS j)),
      | p AS (SELECT event_id, ${SqlGen.es("ts")} AS t FROM events)
      | SELECT p.event_id, iv.iid FROM p JOIN iv ON p.t BETWEEN iv.s0 AND iv.e0""".stripMargin))

  /** CCNet-style quality bucketing: per-LANGUAGE perplexity terciles over
    * the corpus-LM document scores ([[qLmDocScore]]'s exact pipeline, by
    * composition) — head/middle/tail is the split CCNet publishes and
    * training mixtures key on ("train on head+middle, drop tail").
    * Per-language windows matter: absolute LM scores are not comparable
    * across languages, so bucketing must be within-lang. Ordering is the
    * quantized score (identical doubles both engines) with doc_id
    * tie-break — fully deterministic; `ntile` partitions are per-language
    * (never corpus-wide window state). Bucket 1 = most fluent.
    */
  val qCcnetBuckets = Fixture(
    "q_ccnet_buckets",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("avg_logp").desc, col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(qLmDocScore.build(s, d), "doc_id")
        .select(col("doc_id"), col("lang"),
          ntile(3).over(w).cast("long").as("bucket"))
    },
    Some(s"""WITH scored AS (${qLmDocScore.oracle.get})
      | SELECT d.doc_id, d.lang,
      |   ntile(3) OVER (PARTITION BY d.lang
      |                  ORDER BY s.avg_logp DESC, d.doc_id)::BIGINT AS bucket
      | FROM documents d JOIN scored s ON d.doc_id = s.doc_id""".stripMargin))

  /** DSIR-style hashed-unigram importance weights
    * ([[graft.functions.Importance]]): each document scored by the
    * log-likelihood ratio between the TARGET unigram model (the `en` slice,
    * standing in for a trusted reference corpus) and the RAW corpus model
    * over 1 024 hash buckets, add-one smoothed — the importance-resampling
    * selection signal of Xie et al. (NeurIPS 2023). The model is two
    * bucket-keyed histogram aggregations folded into a 1 024-long plan
    * literal; SCORING is one shuffle-free corpus scan (per-row fold over
    * the token buckets). `lw6` is the exact integer-scaled weight — the
    * oracle matches it bit-for-bit, pinning model counts, smoothing,
    * bucketing, and the per-doc fold in one comparison.
    */
  val qDsirWeights = Fixture(
    "q_dsir_weights",
    (s, d) => {
      import graft.functions.Importance
      val docs = Tables.documents(s, d)
      val lam = Importance.lambda6(docs.where(col("lang") === "en"), docs, "text", 1024)
      Importance.score(docs, Seq("doc_id"), "text", lam)
        .where(col("n_tok") > 0)
    },
    Some(s"""WITH tok AS (SELECT doc_id, lang, w
      |        FROM (SELECT doc_id, lang, unnest($wordsSql) AS w FROM documents)
      |        WHERE w <> ''),
      | b AS (SELECT doc_id, lang, ${h64("w")} % 1024 AS bk FROM tok),
      | cr AS (SELECT bk, count(*) AS c FROM b GROUP BY 1),
      | ct AS (SELECT bk, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1),
      | tots AS (SELECT (SELECT count(*) FROM b) AS r,
      |                 (SELECT count(*) FROM b WHERE lang = 'en') AS t),
      | lam AS (SELECT cr.bk,
      |     floor(ln(((coalesce(ct.c, 0) + 1) * (r + 1024))::DOUBLE /
      |              ((cr.c + 1) * (t + 1024))) * 1000000 + 0.5)::BIGINT AS l6
      |   FROM cr LEFT JOIN ct ON cr.bk = ct.bk CROSS JOIN tots)
      | SELECT doc_id, count(*) AS n_tok, sum(l6)::BIGINT AS lw6,
      |   ${q4("sum(l6) / count(*) / 1000000")} AS avg_lw
      | FROM b JOIN lam USING (bk) GROUP BY doc_id""".stripMargin))

  /** The DSIR SELECTION step on top of [[qDsirWeights]]' signal: keep the
    * top 25 % most-target-like documents per source by per-token importance
    * (lw6/n_tok, exact-integer ratio so the ordering is engine-identical;
    * ties by doc_id). Deterministic rank-quota selection is the
    * reproducible-pipeline variant of the paper's Gumbel resampling — same
    * marginal effect (keep high-weight docs, per-source quota), but
    * re-runnable bit-identically, which is what a training-data lineage
    * audit needs. Plan: the shuffle-free scoring scan, then ONE per-source
    * window shuffle shared by the rank and the quota count.
    */
  val qDsirSelect = Fixture(
    "q_dsir_select",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Importance
      val docs = Tables.documents(s, d)
      val lam = Importance.lambda6(docs.where(col("lang") === "en"), docs, "text", 1024)
      val scored = Importance.score(docs, Seq("doc_id", "source"), "text", lam)
        .where(col("n_tok") > 0)
      val byW = Window.partitionBy("source")
        .orderBy((col("lw6") / col("n_tok")).desc, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(byW).cast("long"))
        .withColumn("__ns", count(lit(1)).over(Window.partitionBy("source")))
        .where(col("rk") <= ceil(col("__ns") * lit(0.25)))
        .select(col("source"), col("doc_id"), col("rk"), col("avg_lw"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, source, lang, w
      |        FROM (SELECT doc_id, source, lang, unnest($wordsSql) AS w FROM documents)
      |        WHERE w <> ''),
      | b AS (SELECT doc_id, source, lang, ${h64("w")} % 1024 AS bk FROM tok),
      | cr AS (SELECT bk, count(*) AS c FROM b GROUP BY 1),
      | ct AS (SELECT bk, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1),
      | tots AS (SELECT (SELECT count(*) FROM b) AS r,
      |                 (SELECT count(*) FROM b WHERE lang = 'en') AS t),
      | lam AS (SELECT cr.bk,
      |     floor(ln(((coalesce(ct.c, 0) + 1) * (r + 1024))::DOUBLE /
      |              ((cr.c + 1) * (t + 1024))) * 1000000 + 0.5)::BIGINT AS l6
      |   FROM cr LEFT JOIN ct ON cr.bk = ct.bk CROSS JOIN tots),
      | pd AS (SELECT doc_id, source, count(*) AS n_tok, sum(l6)::BIGINT AS lw6
      |        FROM b JOIN lam USING (bk) GROUP BY 1, 2),
      | sel AS (SELECT doc_id, source, n_tok, lw6,
      |          row_number() OVER (PARTITION BY source
      |            ORDER BY lw6 / n_tok DESC, doc_id) AS rk,
      |          count(*) OVER (PARTITION BY source) AS ns
      |        FROM pd)
      | SELECT source, doc_id, rk, ${q4("lw6 / n_tok / 1000000")} AS avg_lw
      | FROM sel WHERE rk <= ceil(ns * 0.25)""".stripMargin))

  /** Per-source length z-scores with outlier flags — distribution-shift /
    * anomaly screening per source. The per-source moments come from ONE
    * aggregation of exact INTEGER sums (Σx, Σx², n — order-independent,
    * cross-engine identical; a float stddev aggregate is neither), shipped
    * back as a BROADCAST join: at 100 TB that is a tiny stats relation
    * against a corpus scan, where the window-function form
    * (avg/stddev OVER (PARTITION BY source)) would shuffle and buffer the
    * whole corpus per source. The outlier flag compares the QUANTIZED z in
    * both engines.
    */
  val qZscoreOutliers = Fixture(
    "q_zscore_outliers",
    (s, d) => {
      val docs = graft.Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
      val stats = docs.groupBy("source").agg(
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"),
        count(lit(1)).as("n"))
      val mu = col("sx") / col("n")
      val z = Quant.q4((col("n_chars") - mu) /
        sqrt(greatest(col("sxx") / col("n") - mu * mu, lit(1e-12))))
      docs.join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_chars"), z.as("z"))
        .withColumn("is_outlier", abs(col("z")) > lit(2.0))
    },
    Some(s"""WITH d AS (SELECT source, doc_id, n_chars FROM documents),
      | st AS (SELECT source, sum(n_chars) AS sx, sum(n_chars * n_chars) AS sxx,
      |          count(*) AS n FROM d GROUP BY 1),
      | z AS (SELECT doc_id, d.source, n_chars,
      |         ${q4("(n_chars - sx / n) / sqrt(greatest(sxx / n - (sx / n) * (sx / n), 1e-12))")} AS z
      |       FROM d JOIN st USING (source))
      | SELECT doc_id, source, n_chars, z, (abs(z) > 2.0) AS is_outlier FROM z""".stripMargin))

  /** Language-ID confusion matrix: predicted vs labeled language with
    * per-label fractions — the quality audit that closes the loop on
    * q_lang_id. Two tiny aggregations (|langs|² cells) off one corpus scan;
    * the per-label totals re-aggregate FROM the cell counts and broadcast
    * back. Counts are integers → fractions cross-engine deterministic.
    */
  val qLangConfusion = Fixture(
    "q_lang_confusion",
    (s, d) => {
      val cm = graft.Tables.documents(s, d)
        .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
      graft.operators.Caching.withCached(cm) {
        val tot = cm.groupBy("lang").agg(sum("cnt").as("total"))
        cm.join(broadcast(tot), "lang")
          .select(col("lang"), col("lang_pred"), col("cnt"),
            Quant.q4(col("cnt") / col("total")).as("frac"))
      }
    },
    Some(s"""WITH c AS (SELECT lang,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) AS en,
      |   len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b')) AS es,
      |   len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS de,
      |   len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS fr
      | FROM documents),
      | p AS (SELECT lang, CASE
      |   WHEN en + es + de + fr = 0 THEN 'und'
      |   WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |   WHEN es >= de AND es >= fr THEN 'es'
      |   WHEN de >= fr THEN 'de'
      |   ELSE 'fr' END AS lang_pred FROM c),
      | cm AS (SELECT lang, lang_pred, count(*) AS cnt FROM p GROUP BY 1, 2),
      | t AS (SELECT lang, sum(cnt)::BIGINT AS total FROM cm GROUP BY 1)
      | SELECT lang, lang_pred, cnt, ${q4("cnt / total")} AS frac
      | FROM cm JOIN t USING (lang)""".stripMargin))

  /** Weighted data-mixing sampler: each language is kept at its target rate
    * (per-10⁴) by a deterministic content-hash threshold — the knob that
    * turns raw corpus proportions into a training mixture. The rate table
    * rides in the plan as a map literal (no join, no shuffle, no driver
    * action); membership is reproducible under any partitioning, ordering,
    * or corpus growth, exactly like [[qSampleHash]]. Unknown languages fall
    * to rate 0 (fail-closed: an unconfigured source never leaks into the
    * mixture).
    */
  val qMixSample = Fixture(
    "q_mix_weighted_sample",
    (s, d) => {
      val rates = map(
        lit("en"), lit(10000L), lit("zh"), lit(4000L), lit("de"), lit(2500L),
        lit("fr"), lit(1000L), lit("es"), lit(500L))
      Tables.documents(s, d)
        .where(pmod(TextFunctions.hash64(col("doc_id").cast("string")), lit(10000)) <
          coalesce(element_at(rates, col("lang")), lit(0L)))
        .select("doc_id", "lang", "source")
    },
    Some(s"""SELECT doc_id, lang, source FROM documents
      | WHERE ${h64("doc_id::VARCHAR")} % 10000 <
      |   CASE lang WHEN 'en' THEN 10000 WHEN 'zh' THEN 4000 WHEN 'de' THEN 2500
      |        WHEN 'fr' THEN 1000 WHEN 'es' THEN 500 ELSE 0 END""".stripMargin))

  /** Heavy hitters through the Misra-Gries sketch
    * ([[graft.functions.HeavyHittersAgg]]): ONE pass, O(m) mergeable state —
    * versus the exact form, which aggregates the full item domain only to
    * read off its head. The fixture aggregates user cohorts (√-bucketed, so
    * cohort populations grow linearly — real skew on an otherwise uniform
    * testset) and checks the sketch CONTRACT on exactly the guaranteed set
    * (true count > n/m): present, never overcounting, undercount ≤ n/m.
    * Estimates themselves are partitioning-dependent; only the bounds are
    * deterministic, so the bounds are what the fixture (and oracle) pin —
    * same pattern as q_approx_distinct/q_approx_quantiles.
    */
  val qHeavyHitters = Fixture(
    "q_heavy_hitters",
    (s, d) => {
      val m = 8
      val items = Tables.events(s, d)
        .select(floor(sqrt(col("user_id") % 150)).cast("long").cast("string").as("bk"))
      val exact = items.groupBy("bk").agg(count(lit(1)).as("cnt"))
      val sketch = items
        .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("bk"), m).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.term").as("bk"), col("e.est").as("est"))
      graft.operators.Caching.withCached(exact) {
        val n = exact.agg(sum("cnt").as("n"))
        exact.crossJoin(broadcast(n))
          .where(col("cnt") * m > col("n"))
          .join(sketch, Seq("bk"), "left")
          .select(col("bk"), col("cnt"),
            (col("est").isNotNull && col("est") <= col("cnt") &&
              (col("cnt") - col("est")) * m <= col("n")).as("mg_ok"))
      }
    },
    Some(s"""WITH b AS (SELECT floor(sqrt(user_id % 150))::BIGINT::VARCHAR AS bk FROM events),
      | c AS (SELECT bk, count(*) AS cnt FROM b GROUP BY 1),
      | n AS (SELECT sum(cnt)::BIGINT AS n FROM c)
      | SELECT bk, cnt, TRUE AS mg_ok FROM c, n WHERE cnt * 8 > n""".stripMargin))

  /** STREAMING Misra-Gries heavy hitters per group
    * ([[graft.streaming.StreamingHeavyHitters]]): the events replay in 4
    * chunks through group-keyed `transformWithState` (capacity 16 per
    * event_type, O(capacity) state per group); each trigger emits the
    * group's refreshed sketch snapshot tagged with an update sequence
    * number, and the fixture reads the LATEST snapshot per group — the
    * dashboard consumption pattern. With capacity ≥ the 13-value item
    * domain no decrement ever fires, so the final sketch IS the exact
    * (event_type, bucket) count relation independent of chunking — the
    * oracle computes exactly that in SQL (the eviction path's
    * order-dependent estimates are spec territory, same split as the
    * batch q_heavy_hitters fixture).
    */
  val qStreamHeavyHitters = Fixture(
    "q_stream_heavy_hitters",
    (s, d) => {
      val out = Replay(s, Replay.parts(Tables.eventsWithEpoch(s, d)
          .select(col("event_type"),
            floor(sqrt(col("user_id") % 150)).cast("long").cast("string").as("bk"),
            col("es"), col("event_id")), 4, "es", "event_id"), "stream_hh") {
        graft.streaming.StreamingHeavyHitters.heavyHitters(_, "event_type", "bk", 16)
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      out
        .withColumn("__mx", max("seq").over(w))
        .where(col("seq") === col("__mx"))
        .select(col("grp").as("event_type"), col("term").as("bk"), col("est"))
    },
    Some("""SELECT event_type, floor(sqrt(user_id % 150))::BIGINT::VARCHAR AS bk,
      |   count(*) AS est
      | FROM events GROUP BY 1, 2""".stripMargin))

  /** STREAMING embedding drift monitor: the vector stream is assigned to
    * its nearest centroid by the SAME stateless plan-literal projection as
    * batch [[Ann.assignCentroids]] (online IVF ingest — no state, no join;
    * the model rides in the plan), then chained into a per-cell tumbling
    * 60 s count under a delay-0 watermark. The per-window cell histogram is
    * the drift signal a serving pipeline alarms on (cells drifting hot ⇒
    * re-train the coarse quantizer). Emission contract and oracle filter
    * are the q_stream_tumbling_agg standard: windows with
    * end ≤ max event time; event time = vec_id seconds, so the oracle is
    * the batch assignment relation + window arithmetic.
    */
  val qStreamDrift = Fixture(
    "q_stream_drift",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Replay(s, Replay.parts(emb.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")), 2, "vec_id"), "stream_drift") { vecs =>
        Ann.assignCentroids(vecs, cents)
          .withColumn("ts", timestamp_seconds(col("vec_id")))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"), col("centroid_id"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("ws"),
            col("centroid_id"), col("n"))
      }
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | p AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c),
      | sc AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |         ORDER BY cos DESC, cid) AS rn FROM sc),
      | asn AS (SELECT vec_id, cid FROM r WHERE rn = 1),
      | mx AS (SELECT max(vec_id) AS mx FROM embeddings)
      | SELECT (vec_id // 60) * 60 AS ws, cid AS centroid_id, count(*) AS n
      | FROM asn GROUP BY 1, 2
      | HAVING ws + 60 <= (SELECT mx FROM mx)""".stripMargin))

  /** JSONL landing-zone ingest ([[graft.sources.JsonIngest]]): events
    * round-trip through JSON Lines WITH two injected corrupt lines, read
    * back schema-EXPLICIT in PERMISSIVE mode, and the result is the ingest
    * accounting — per-type counts/sums over rows that parsed, plus a
    * `__corrupt__` row counting the lines that did not. The oracle computes
    * the same aggregation from the original parquet (+ the known corrupt
    * count), so a value that survives parquet → JSON → parse differently
    * (precision, nulls, type coercion) fails the hash. Sums use the
    * integer-scaling trick (floor(value·10⁴ + 0.5) summed as BIGINT) so
    * partial-merge order can't move a float boundary.
    */
  val qJsonlIngest = Fixture(
    "q_jsonl_ingest",
    (s, d) => {
      import org.apache.spark.sql.types._
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value")
      val dir = graft.sources.JsonIngest.stageJsonl(ev,
        "events_" + d.replaceAll("[^A-Za-z0-9.]", "_"),
        Seq("{\"event_id\": 1, broken", "not json at all"))
      val schema = new StructType()
        .add("event_id", LongType).add("event_type", StringType)
        .add("user_id", LongType).add("value", DoubleType)
      // one parse pass serves both consumers — also required: Spark rejects
      // an uncached query whose pruned scan would reference ONLY the
      // corrupt-record column (the `bad` count), since corrupt capture
      // happens at parse time, not per consumer
      val r = graft.sources.JsonIngest.readJsonl(s, dir, schema)
      graft.operators.Caching.withCached(r) {
        val good = r.where(col("_corrupt_record").isNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * lit(1e4) + lit(0.5))).cast("long").as("sum_v4"))
        val bad = r.where(col("_corrupt_record").isNotNull)
          .agg(count(lit(1)).as("n_events"))
          .select(lit("__corrupt__").as("event_type"), col("n_events"),
            lit(null).cast("long").as("sum_v4"))
        good.unionAll(bad)
      }
    },
    Some("""SELECT event_type, count(*) AS n_events,
      |   sum(floor(value * 10000 + 0.5))::BIGINT AS sum_v4
      | FROM events GROUP BY 1
      | UNION ALL SELECT '__corrupt__', 2, NULL""".stripMargin))

  /** CSV landing-zone ingest ([[graft.sources.CsvIngest]]): events
    * round-trip through headerless CSV WITH the `props` JSON column —
    * commas, quotes and escapes inside a quoted field — plus two injected
    * TYPE-corrupt lines (CSV token-count errors null-fill rather than
    * corrupt; only cast failures land in `_corrupt_record`, which is why
    * the injected lines break a LONG field). The accounting result adds
    * `sum_plen` (total props length) so a quoting/escape bug that mangles
    * one character of one field fails the hash, not just the row count.
    */
  val qCsvIngest = Fixture(
    "q_csv_ingest",
    (s, d) => {
      import org.apache.spark.sql.types._
      val ev = Tables.events(s, d)
        .select("event_id", "event_type", "user_id", "value", "props")
      val dir = graft.sources.CsvIngest.stageCsv(ev,
        "events_" + d.replaceAll("[^A-Za-z0-9.]", "_"),
        Seq("notalong,click,5,1.0,{}", "7,scroll,badid,2.5,{}"))
      val schema = new StructType()
        .add("event_id", LongType).add("event_type", StringType)
        .add("user_id", LongType).add("value", DoubleType)
        .add("props", StringType)
      val r = graft.sources.CsvIngest.readCsv(s, dir, schema)
      graft.operators.Caching.withCached(r) {
        val good = r.where(col("_corrupt_record").isNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * lit(1e4) + lit(0.5))).cast("long").as("sum_v4"),
            sum(length(col("props"))).cast("long").as("sum_plen"))
        val bad = r.where(col("_corrupt_record").isNotNull)
          .agg(count(lit(1)).as("n_events"))
          .select(lit("__corrupt__").as("event_type"), col("n_events"),
            lit(null).cast("long").as("sum_v4"),
            lit(null).cast("long").as("sum_plen"))
        good.unionAll(bad)
      }
    },
    Some("""SELECT event_type, count(*) AS n_events,
      |   sum(floor(value * 10000 + 0.5))::BIGINT AS sum_v4,
      |   sum(strlen(props))::BIGINT AS sum_plen
      | FROM events GROUP BY 1
      | UNION ALL SELECT '__corrupt__', 2, NULL, NULL""".stripMargin))

  /** STREAMING landing-zone ingest — the autoloader shape: the same
    * staged JSONL directory q_jsonl_ingest reads in batch is consumed as
    * a FILE-SOURCE STREAM (schema-explicit, PERMISSIVE, corrupt column),
    * one file per trigger so the accounting aggregation demonstrably
    * folds across micro-batches; complete-mode snapshot compared against
    * the BATCH oracle verbatim. At 100 TB this is the continuous-ingest
    * front door: new files land, each trigger parses only its files, and
    * the running corrupt/count accounting is the producer-health monitor.
    */
  val qStreamJsonlIngest = Fixture(
    "q_stream_jsonl_ingest",
    (s, d) => {
      import org.apache.spark.sql.types._
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value")
      val dir = graft.sources.JsonIngest.stageJsonl(ev,
        "events_stream_" + d.replaceAll("[^A-Za-z0-9.]", "_"),
        Seq("{\"event_id\": 1, broken", "not json at all"))
      val schema = new StructType()
        .add("event_id", LongType).add("event_type", StringType)
        .add("user_id", LongType).add("value", DoubleType)
      val stream = s.readStream
        .schema(schema.add("_corrupt_record", StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", "1")
        .json(dir)
      val out = stream
        .groupBy(coalesce(
          when(col("_corrupt_record").isNotNull, lit("__corrupt__")),
          col("event_type")).as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("_corrupt_record").isNull,
            floor(col("value") * lit(1e4) + lit(0.5)))).cast("long").as("sum_v4"))
      Replay.drain(s, out, "stream_jsonl", "complete")
    },
    Some("""SELECT event_type, count(*) AS n_events,
      |   sum(floor(value * 10000 + 0.5))::BIGINT AS sum_v4
      | FROM events GROUP BY 1
      | UNION ALL SELECT '__corrupt__', 2, NULL""".stripMargin))

  /** Incremental (new-crawl-vs-lake) exact dedup through
    * [[Dedup.incrementalExact]]. The testdata has no natural exact
    * duplicates, so the fixture constructs the re-crawl: the new batch is
    * the src0 shard plus renumbered copies (+100000) of every 7th corpus
    * document — copies of non-src0 docs must flag is_dup_in_corpus, copies
    * of src0 docs must flag is_dup_in_batch (their twin sits in the same
    * batch), and everything else keeps.
    */
  val qDedupIncremental = Fixture(
    "q_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val newBatch = docs.where(col("source") === "src0")
        .select(col("doc_id"), col("text"))
        .unionAll(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val corpus = docs.where(col("source") =!= "src0")
      Dedup.incrementalExact(newBatch, corpus, "doc_id", "text")
    },
    Some("""WITH f AS (SELECT doc_id, source,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |       FROM documents),
      | n AS (SELECT doc_id, fp FROM f WHERE source = 'src0'
      |       UNION ALL SELECT doc_id + 100000, fp FROM f WHERE doc_id % 7 = 0),
      | c AS (SELECT DISTINCT fp FROM f WHERE source <> 'src0'),
      | r AS (SELECT n.doc_id, n.fp, EXISTS (SELECT 1 FROM c WHERE c.fp = n.fp) AS dc,
      |         row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn
      |       FROM n)
      | SELECT doc_id, dc AS is_dup_in_corpus, rn > 1 AS is_dup_in_batch,
      |   (NOT dc AND rn = 1) AS keep FROM r""".stripMargin))

  /** The END-TO-END curation pipeline as one composed query — the artifact a
    * training run actually consumes: candidate docs (eval set excluded) →
    * quality gate (q ≥ 0.5) → exact-dup keeper → decontamination against
    * the eval set (drop frac > 0.10, on the quantized fraction both engines
    * compute identically) → deterministic 98/1/1 split → the TRAIN shard's
    * pack manifest (per-source cumulative token offsets div 2048). Every
    * stage is an already-oracle-proven operator (q_text_stats,
    * q_dedup_exact, q_decontaminate, q_split_assign, q_pack_sequences);
    * this fixture pins their COMPOSITION — stage ordering, column flow, and
    * the join/filter seams between them — which is what a user of the
    * library actually runs. Plan shape: one corpus scan feeds the quality +
    * fingerprint projection; the keeper and contamination stages are
    * fp-/shingle-keyed shuffles of the REDUCED survivor set; the pack
    * stage is [[graft.operators.Packing.startOffsetsScalable]] — the
    * distributed two-phase prefix sum (per-(source, shard) sorts plus the
    * tiny cumulated shard-base relation), NOT a per-source total-order
    * window, so the composite a user copies ships the form that survives a
    * crawl being 80 % of the corpus (q_pack_scalable pins the equality of
    * the two forms under this same oracle). Nothing rescans the corpus.
    */
  val qTrainingManifest = Fixture(
    "q_training_manifest",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val enriched = docs.where(col("doc_id") >= 25).select(
        col("doc_id"), col("source"), col("text"),
        Quant.q4(TextFunctions.qualityScore(col("text"))).as("q"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"),
        pmod(TextFunctions.fingerprint64(col("text")), lit(1000L)).as("band"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      val quality = enriched.where(col("q") >= 0.5)
      val keepers = quality.groupBy("fp").agg(min("doc_id").as("keeper"))
      val unique = quality.join(keepers, Seq("fp"))
        .where(col("doc_id") === col("keeper"))
      val evalSet = docs.where(col("doc_id") < 25)
      val tooContaminated = Dedup
        .contamination(unique.select("doc_id", "text"), evalSet, "doc_id", "text", 3)
        .where(col("frac") > 0.10)
        .select("doc_id")
      val clean = unique.join(tooContaminated, Seq("doc_id"), "left_anti")
      graft.operators.Packing
        .startOffsetsScalable(clean.where(col("band") < 980) /* train shard */,
          "source", "doc_id", "n_tok", shardWidth = 64L)
        .select(col("doc_id"), col("source"), col("q"), col("n_tok"),
          expr("start_off div 2048").as("pack_id"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id, source, text,
      |   len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
      |   ((${h64("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")}) % 1000 + 1000) % 1000 AS band
      | FROM documents WHERE doc_id >= 25),
      | e AS (SELECT doc_id, source, text, fp, band, n_tok::BIGINT AS n_tok,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS q
      | FROM t0),
      | ql AS (SELECT * FROM e WHERE q >= 0.5),
      | k AS (SELECT fp, min(doc_id) AS keeper FROM ql GROUP BY 1),
      | u AS (SELECT ql.* FROM ql JOIN k USING (fp) WHERE doc_id = keeper),
      | w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n_sh, s FROM sh WHERE len(s) > 0),
      | bench AS (SELECT DISTINCT unnest(s) AS sg FROM f WHERE doc_id < 25),
      | posts AS (SELECT doc_id, n_sh, unnest(s) AS sg FROM f
      |           WHERE doc_id IN (SELECT doc_id FROM u)),
      | contam AS (SELECT doc_id FROM (
      |     SELECT doc_id, ${q4("count(*) / any_value(n_sh)")} AS frac
      |     FROM posts JOIN bench USING (sg) GROUP BY doc_id)
      |   WHERE frac > 0.10),
      | clean AS (SELECT * FROM u WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      | tr AS (SELECT * FROM clean WHERE band < 980)
      | SELECT doc_id, source, q, n_tok,
      |   ((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) // 2048)::BIGINT AS pack_id
      | FROM tr""".stripMargin))

  /** Curriculum / difficulty binning: each document assigned to a quality
    * quartile WITHOUT a global sort — the boundaries come from ONE tiny
    * aggregation (exact interpolated percentiles here; `approx_percentile`
    * is the same-plan 100 TB swap, contract pinned by q_approx_quantiles)
    * broadcast back to the scan, and assignment is a scan-side CASE. The
    * ntile()-window alternative would range-shuffle and sort the entire
    * corpus. Quartiles compare on the QUANTIZED quality in both engines.
    */
  val qCurriculumBins = Fixture(
    "q_curriculum_bins",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          Quant.q4(TextFunctions.qualityScore(col("text"))).as("q"))
      val bounds = docs.agg(
        Quant.q4(expr("percentile(q, 0.25D)")).as("b1"),
        Quant.q4(expr("percentile(q, 0.5D)")).as("b2"),
        Quant.q4(expr("percentile(q, 0.75D)")).as("b3"))
      docs.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("q"),
          when(col("q") < col("b1"), 0L)
            .when(col("q") < col("b2"), 1L)
            .when(col("q") < col("b3"), 2L)
            .otherwise(3L).as("bin"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id,
      |   len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop
      | FROM documents),
      | t AS (SELECT doc_id,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS q
      | FROM t0),
      | b AS (SELECT ${q4("quantile_cont(q, 0.25)")} AS b1,
      |         ${q4("quantile_cont(q, 0.5)")} AS b2,
      |         ${q4("quantile_cont(q, 0.75)")} AS b3 FROM t)
      | SELECT doc_id, q,
      |   (CASE WHEN q < b1 THEN 0 WHEN q < b2 THEN 1
      |         WHEN q < b3 THEN 2 ELSE 3 END)::BIGINT AS bin
      | FROM t, b""".stripMargin))

  /** Z-ordered lake layout roundtrip (sources/ZOrder.scala): documents
    * rewritten as 12 Morton-clustered files on (n_chars, doc_id), then a
    * 2-D box predicate + aggregation over the clustered copy. Like
    * q_bucketed_join, the oracle runs on the RAW table — clustering must be
    * a pure layout change, invisible in the values; ZOrderSpec pins the
    * pruning payoff (file min/max stats actually shrink the candidate set).
    */
  val qZorderLayout = Fixture(
    "q_zorder_layout",
    (s, d) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_zorder_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      graft.sources.ZOrder.writeZOrdered(
        Tables.documents(s, d), Seq("n_chars", "doc_id"), out, 12)
      s.read.parquet(out)
        .where(col("n_chars").between(100, 300) && col("doc_id").between(100, 350))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    },
    Some("""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      | FROM documents
      | WHERE n_chars BETWEEN 100 AND 300 AND doc_id BETWEEN 100 AND 350
      | GROUP BY 1""".stripMargin))

  /** Compaction roundtrip (sources/Compaction.scala): the incremental-crawl
    * fragmentation case — 48 tiny files AQE-rebalanced into ~targetBytes
    * files — read back through the compacted layout and aggregated. Oracle
    * on the raw table: compaction must be value-invariant; CompactionSpec
    * pins the file-count mechanics (merge up, record-bound split down).
    */
  val qCompactRoundtrip = Fixture(
    "q_compact_roundtrip",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_compact_$h").getAbsolutePath
      Tables.documents(s, d).repartition(48)
        .write.mode("overwrite").parquet(s"$base/fragged")
      graft.sources.Compaction.compact(s, s"$base/fragged", s"$base/compacted")
      s.read.parquet(s"$base/compacted")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          max("doc_id").as("max_doc_id"))
    },
    Some("""SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |   max(doc_id) AS max_doc_id
      | FROM documents GROUP BY 1""".stripMargin))

  /** End-to-end STREAMING curation — the ingest-time mirror of
    * q_curation_funnel's batch composite: stateless quality filter →
    * first-seen exact dedup → tumbling per-source accepted-volume counts.
    * Two CHAINED stateful operators under ONE delay-0 watermark: the dedup
    * is [[graft.streaming.StreamingFirstSeen]]'s `transformWithState`
    * stage, whose horizon is state TTL rather than the watermark delay
    * (`dropDuplicatesWithinWatermark` couples the two, and a horizon long
    * enough for the corpus' 3600 s-apart duplicates would hold every
    * 60 s window open for the whole replay — watermark redefinition
    * between chained stateful operators is disallowed). Event time chains
    * through the processor's output, so windows finalize at delay 0.
    *
    * Emission contract (append mode): windows with end ≤ max event time of
    * the QUALITY-PASSING rows — the filter sits before the watermark node,
    * so rejected rows never advance event time; the oracle computes the
    * same cutoff from the filtered set. Dedup keeps the min-doc_id copy
    * *among quality passers* (a rejected earlier copy never reaches the
    * state store — ordering of filter vs dedup is observable and pinned).
    */
  val qStreamCuration = Fixture(
    "q_stream_curation",
    // 2 parts: the replay is doc_id-sorted, so first-seen keeps the
    // min-doc_id copy under ANY chunking (first arrival = smallest id;
    // within-batch ties go to minBy(doc_id)) — cross-batch state carry is
    // exercised at 2 triggers, extra triggers are overhead
    (s, d) => Replay(s, Replay.parts(Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source")),
        2, "doc_id"), "stream_curation") { docs =>
      // spread the replay across cores BEFORE the regex-heavy quality
      // scoring: a MemoryStream block is ONE partition (a real source's
      // scan splits provide this parallelism for free)
      val stream = docs.repartition(16)
        .withColumn("ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
        .where(Quant.q4(TextFunctions.qualityScore(col("text"))) >= 0.5)
        .withWatermark("ts", "0 seconds")
      graft.streaming.StreamingFirstSeen
        .firstSeen(stream, "text", "ts")
        .groupBy(window(col("ts"), "60 seconds"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
        .withColumn("ws", col("window.start").cast("long"))
        .select("ws", "source", "n_docs", "n_tok")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, text,
      |   len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      | FROM documents),
      | flt AS (SELECT doc_id, source, fp, n_tok::BIGINT AS n_tok FROM (
      |     SELECT *, ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS q
      |     FROM t)
      |   WHERE q >= 0.5),
      | k AS (SELECT fp, min(doc_id) AS keeper FROM flt GROUP BY 1),
      | kept AS (SELECT f.* FROM flt f JOIN k ON f.fp = k.fp AND f.doc_id = k.keeper),
      | mx AS (SELECT max(doc_id) + 1 AS maxts FROM flt)
      | SELECT ((doc_id + 1) // 60) * 60 AS ws, source,
      |   count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tok
      | FROM kept, mx
      | WHERE ((doc_id + 1) // 60) * 60 + 60 <= maxts
      | GROUP BY 1, 2""".stripMargin))

  /** Streaming curation replayed from a FILE SOURCE — same rationale as
    * [[qDedupStreamMinhashFiles]]: the regex-heavy quality scoring gets a
    * scan split per staged file instead of the driver's single-threaded
    * MemoryStream feed. The no-data trigger after the last file batch
    * applies its watermark, as in the replayed twin. Oracle unchanged.
    */
  val qStreamCurationFiles = Fixture(
    "q_stream_curation_files",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_replay_curation_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      graft.streaming.FileReplay.stageOrdered(docs, dir, "doc_id", 32)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, source STRING")
        .option("maxFilesPerTrigger", "16")
        .parquet(dir)
        .withColumn("ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
        .where(Quant.q4(TextFunctions.qualityScore(col("text"))) >= 0.5)
        .withWatermark("ts", "0 seconds")
      val out = graft.streaming.StreamingFirstSeen
        .firstSeen(stream, "text", "ts")
        .groupBy(window(col("ts"), "60 seconds"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
        .withColumn("ws", col("window.start").cast("long"))
        .select("ws", "source", "n_docs", "n_tok")
      Replay.drain(s, out, "stream_curation_files", "append")
    },
    qStreamCuration.oracle)

  /** Lake schema evolution — the read-compat half every long-lived corpus
    * needs: a crawl adds a metadata column mid-life, new files carry it,
    * the years of old files do not, and one scan must read BOTH — legacy
    * rows surfacing NULL for the new column, never an error, never a
    * silent drop. Staged as two parquet generations (evens = legacy
    * 3-column schema, odds = evolved 4-column) under one directory, read
    * with mergeSchema, aggregated per language with explicit legacy/
    * evolved accounting. The oracle predicts every count from doc_id
    * parity, so a miscounted generation or a non-null legacy `source`
    * fails the hash. Scale note: mergeSchema infers by sampling footers —
    * fine here; at 100 TB the schema lives in a catalog and this fixture
    * pins the READ semantics that catalog schema implies.
    */
  val qSchemaEvolution = Fixture(
    "q_schema_evolution",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_schema_evo_$h").getAbsolutePath
      val docs = Tables.documents(s, d)
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(dir)
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_legacy"),
          count(col("source")).as("n_evolved"),
          sum("n_chars").as("sum_chars"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
      |   sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_legacy,
      |   sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_evolved,
      |   sum(n_chars)::BIGINT AS sum_chars
      | FROM documents GROUP BY 1""".stripMargin))

  /** STREAMING read of the evolving landing zone — the continuous-ingest
    * form of [[qSchemaEvolution]]: a file-source stream declares the
    * EVOLVED schema (streams cannot infer or merge; the catalog schema is
    * the contract) and must read legacy files anyway, surfacing NULL for
    * the column they predate — parquet resolves columns by name, so a
    * missing column is null, not an error. Same oracle as the batch scan:
    * the feed mechanism and the generation mix must both be invisible in
    * the aggregate. Complete-mode snapshot, one file per trigger so the
    * fold demonstrably crosses generations mid-stream.
    */
  val qStreamSchemaEvolution = Fixture(
    "q_stream_schema_evolution",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_schema_evo_stream_$h").getAbsolutePath
      val docs = Tables.documents(s, d)
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .repartition(4)
        .write.mode("overwrite").parquet(dir)
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .repartition(4)
        .write.mode("append").parquet(dir)
      val stream = s.readStream
        .schema("doc_id LONG, lang STRING, n_chars LONG, source STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
      val out = stream.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_legacy"),
          count(col("source")).as("n_evolved"),
          sum("n_chars").as("sum_chars"))
      Replay.drain(s, out, "stream_schevo", "complete")
    },
    qSchemaEvolution.oracle)

  /** MERGE INTO upsert (operators/Upsert.scala): a re-crawl batch (changed
    * docs + brand-new docs) folded into the lake snapshot — replaced rows
    * take the batch values, new keys append, the rest carry over. One
    * anti-join + union; UpsertSpec pins the zero-lake-exchange plan on the
    * bucketed layout. The oracle recomputes the same snapshot from the raw
    * table.
    */
  val qMergeUpsert = Fixture(
    "q_merge_upsert",
    (s, d) => {
      val lake = Tables.documents(s, d)
      val updates = lake.where(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val fresh = lake.where(col("doc_id") % 7 === 3)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      graft.operators.Upsert
        .mergeByKey(lake, updates.unionByName(fresh), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum("doc_id").as("id_sum"))
    },
    Some("""WITH b AS (
      |   SELECT doc_id, text, lang, source, n_chars + 1000 AS n_chars
      |   FROM documents WHERE doc_id % 10 = 0
      |   UNION ALL
      |   SELECT doc_id + 1000000, text, lang, source, n_chars
      |   FROM documents WHERE doc_id % 7 = 3),
      | m AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM b)
      |       UNION ALL SELECT * FROM b)
      | SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |   sum(doc_id)::BIGINT AS id_sum
      | FROM m GROUP BY 1""".stripMargin))

  /** JL random projection 64 → 16 (VectorFunctions.rpProject): the
    * deterministic ±1 sketch that compresses embeddings 4× ahead of the
    * shuffle-heavy ANN stages. Every (row, component) pinned against the
    * DuckDB mirror of the same hash-derived matrix and left fold; RpSpec
    * pins the sign derivation and the similarity-preservation quality.
    */
  val qRpProject = Fixture(
    "q_rp_project",
    (s, d) => Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions
          .rpProject(col("embedding"), 64, 16)))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        Quant.q4(col("col")).as("comp")),
    Some(s"""SELECT vec_id, j,
      |   ${q4("0.25 * list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * (CASE WHEN ('0x' || substr(md5('rp#' || (i-1) || '#' || j), 1, 15))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END))), (a, x) -> a + x)")} AS comp
      | FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)""".stripMargin))

  /** Audio-tier plumbing (Multimodal.syntheticPcm/audioWindows): s16le PCM
    * born as REAL bytes executor-side, decoded back through a little-endian
    * ShortBuffer, reduced to per-window RMS + peak — the loudness/clipping
    * screen before transcription. The oracle recomputes every sample from
    * the integer recurrence without touching binary; the byte roundtrip is
    * exactly what it verifies (any endianness/offset slip shifts every
    * window's sum).
    */
  val qAudioEnergy = Fixture(
    "q_audio_energy",
    (s, d) => {
      val audio = Multimodal.syntheticPcm(s, Tables.documents(s, d))
      Multimodal.audioWindows(s, audio).toDF()
        .select(col("doc_id"), col("win_id"),
          Quant.q4(col("rms")).as("rms"), col("peak"))
    },
    Some(s"""WITH d AS (SELECT doc_id, 2048 + (doc_id % 5) * 1024 AS n FROM documents),
      | w AS (SELECT doc_id, unnest(generate_series(0, n // 1024 - 1)) AS win_id FROM d),
      | sm AS (SELECT doc_id, win_id,
      |          unnest(generate_series(win_id * 1024, win_id * 1024 + 1023)) AS k
      |        FROM w),
      | v AS (SELECT doc_id, win_id,
      |         ((doc_id * 1000003 + k * 7919) % 65536) - 32768 AS x FROM sm)
      | SELECT doc_id, win_id, ${q4("sqrt(sum(x * x) / 1024.0)")} AS rms,
      |   max(abs(x)) AS peak
      | FROM v GROUP BY 1, 2""".stripMargin))

  /** VAD-style audio segmentation on top of the decoded window features:
    * windows whose peak clears the activity gate are merged into maximal
    * CONSECUTIVE runs — the classic gaps-and-islands `win_id − row_number`
    * grouping — and each segment reports its span, length and peak. This
    * is the speech-curation step between loudness screening and
    * transcription: ship segments, not raw hours. The per-doc window
    * function is bounded by a single recording's window count (never
    * corpus-scaled state), and the segment aggregation shuffles only
    * gated windows. Gate = peak ≥ 32720 — an order statistic of the
    * synthetic waveform that splits windows ≈ 50/50, so runs and gaps are
    * both exercised; both engines compute it exactly (integer peak).
    */
  val qAudioSegments = Fixture(
    "q_audio_segments",
    (s, d) => {
      val wins = Multimodal.audioWindows(s,
        Multimodal.syntheticPcm(s, Tables.documents(s, d))).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("win_id")
      wins.where(col("peak") >= 32720)
        .withColumn("g", col("win_id") - row_number().over(w))
        .groupBy(col("doc_id"), col("g"))
        .agg(min(col("win_id")).as("seg_start"), max(col("win_id")).as("seg_end"),
          count(lit(1)).as("n_win"), max(col("peak")).as("seg_peak"))
        .select("doc_id", "seg_start", "seg_end", "n_win", "seg_peak")
    },
    Some("""WITH d AS (SELECT doc_id, 2048 + (doc_id % 5) * 1024 AS n FROM documents),
      | w AS (SELECT doc_id, unnest(generate_series(0, n // 1024 - 1)) AS win_id FROM d),
      | sm AS (SELECT doc_id, win_id,
      |          unnest(generate_series(win_id * 1024, win_id * 1024 + 1023)) AS k
      |        FROM w),
      | v AS (SELECT doc_id, win_id,
      |         ((doc_id * 1000003 + k * 7919) % 65536) - 32768 AS x FROM sm),
      | p AS (SELECT doc_id, win_id, max(abs(x)) AS peak FROM v GROUP BY 1, 2),
      | a AS (SELECT doc_id, win_id, peak,
      |         win_id - row_number() OVER (PARTITION BY doc_id ORDER BY win_id) AS g
      |       FROM p WHERE peak >= 32720)
      | SELECT doc_id, min(win_id) AS seg_start, max(win_id) AS seg_end,
      |   count(*) AS n_win, max(peak) AS seg_peak
      | FROM a GROUP BY doc_id, g""".stripMargin))

  /** REAL audio-container metadata ([[Multimodal.syntheticWavs]] →
    * [[Multimodal.wavMeta]]): every doc's recurrence samples wrapped in an
    * actual RIFF/WAVE file — per-doc sample rate in the `fmt ` chunk, every
    * third container carrying a `LIST`-INFO chunk before `data` — then
    * header-parsed back. The oracle predicts channels/rate/bits/frames from
    * stored columns, so hash equality proves the chunk WALK (not a fixed
    * byte offset) recovered the format fields; a parse failure would emit
    * the (-1, …) sentinel and mismatch. This is the screen-before-decode
    * step of an audio curation pass — header-only, no sample decode paid.
    */
  val qWavMeta = Fixture(
    "q_wav_meta",
    (s, d) => Multimodal.wavMeta(s,
        Multimodal.syntheticWavs(s, Tables.documents(s, d))).toDF(),
    Some("""SELECT doc_id, 1::BIGINT AS channels,
      |   (8000 + (doc_id % 3) * 4000)::BIGINT AS sample_rate,
      |   16::BIGINT AS bits, (2048 + (doc_id % 5) * 1024)::BIGINT AS n_frames
      | FROM documents""".stripMargin))

  /** Container-driven waveform decode end-to-end: [[Multimodal.wavAudio]]
    * locates each WAV's `data` chunk by RIFF parse (zero-copy slice, no
    * re-encode) and the shared [[Multimodal.audioWindows]] reducer computes
    * per-window RMS + peak from the sliced bytes. Oracle = the same integer
    * recurrence as `q_audio_energy`; equality through the CONTAINER proves
    * chunk-walk → data location → s16le decode, and any offset slip (e.g.
    * mis-skipping the LIST chunk present in a third of the files) shifts
    * every sample and fails the hash.
    */
  val qWavWindows = Fixture(
    "q_wav_windows",
    (s, d) => Multimodal.audioWindows(s,
        Multimodal.wavAudio(s,
          Multimodal.syntheticWavs(s, Tables.documents(s, d)))).toDF()
        .select(col("doc_id"), col("win_id"),
          Quant.q4(col("rms")).as("rms"), col("peak")),
    qAudioEnergy.oracle)

  /** Crawl-archive ingest end-to-end ([[graft.sources.Warc]]): documents
    * serialized into REAL multi-record WARC shards (warcinfo lead record +
    * one HTTP response per doc, status/content-type varying by id, body =
    * the document text), then exploded back by the Content-Length record
    * walk + HTTP unwrap. The oracle predicts every parsed field from stored
    * columns, so hash equality proves the full container path: record
    * framing, header parse, warcinfo skip, status-line split, byte-exact
    * UTF-8 body recovery. This is the entry format of a crawl-scale corpus
    * (Common Crawl ships exactly this shape); parallelism is per-FILE, the
    * unit Spark's binaryFile source hands out.
    */
  val qWarcIngest = Fixture(
    "q_warc_ingest",
    (s, d) => graft.sources.Warc.ingestResponses(s,
      graft.sources.Warc.syntheticWarcFiles(s, Tables.documents(s, d))),
    Some("""SELECT doc_id // 50 AS file_id,
      |   'http://example.com/doc/' || doc_id AS target_uri,
      |   CASE WHEN doc_id % 2 = 0 THEN 'text/plain' ELSE 'text/html' END AS content_type,
      |   (CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END)::BIGINT AS http_status,
      |   coalesce(text, '') AS body
      | FROM documents""".stripMargin))

  /** Deterministic MESSY url per doc — mixed-case scheme/host, default and
    * non-default ports, empty paths, tracking + empty + unsorted query
    * params, fragments — the input both the Spark fixture and the DuckDB
    * oracle construct IDENTICALLY (it is the shared test vector; keep the
    * two spellings in sync), then normalize with their own independent
    * implementations.
    */
  private def messyUrl: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
    lit("://WWW.Site"), (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 4 === 0, lit(".CO.UK")).otherwise(lit(".com")),
    when(col("doc_id") % 6 === 0, lit(":80"))
      .when(col("doc_id") % 6 === 3, lit(":8080"))
      .when(col("doc_id") % 6 === 1, lit(":443")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit(""))
      .otherwise(concat(lit("/a/"), col("doc_id").cast("string"))),
    when(col("doc_id") % 3 === 0, lit("?b=2&utm_source=x&&a=1"))
      .when(col("doc_id") % 3 === 1, lit("?single=1")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))

  /** The same construction in DuckDB SQL (column `url` over `documents`).
    * Single-line on purpose: it interpolates into templates that apply
    * stripMargin, which would eat the first char of a leading `||`.
    */
  private val messyUrlSql = Seq(
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)",
    "'://WWW.Site' || (doc_id % 40)",
    "(CASE WHEN doc_id % 4 = 0 THEN '.CO.UK' ELSE '.com' END)",
    "(CASE WHEN doc_id % 6 = 0 THEN ':80' WHEN doc_id % 6 = 3 THEN ':8080' WHEN doc_id % 6 = 1 THEN ':443' ELSE '' END)",
    "(CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/a/' || doc_id END)",
    "(CASE WHEN doc_id % 3 = 0 THEN '?b=2&utm_source=x&&a=1' WHEN doc_id % 3 = 1 THEN '?single=1' ELSE '' END)",
    "(CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END)").mkString(" || ")

  /** URL canonicalization ([[UrlFunctions.urlNormalize]]) — the
    * dedup-by-URL key every crawl pipeline computes before content dedup:
    * scheme/host lowercased, default port stripped, empty path → `/`,
    * fragment dropped, `utm_*`/empty params dropped and the rest sorted.
    * Spark side is pure built-in column functions (whole-stage codegen,
    * no UDF); the oracle re-derives the contract from RFC 3986 §6 spelled
    * in DuckDB string/list functions. Hash equality proves the two
    * independent implementations agree on every case the messy corpus
    * covers (http+https × 4 port shapes × empty/real path × 3 query
    * shapes × fragment).
    */
  val qUrlNormalize = Fixture(
    "q_url_normalize",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.UrlFunctions.urlNormalize(messyUrl).as("url_norm")),
    Some(s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
      | n AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u),
      | p AS (SELECT doc_id,
      |   lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |   regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM n),
      | q AS (SELECT doc_id, scheme,
      |   regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
      |   substr(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1) AS pathq FROM p),
      | r AS (SELECT doc_id, scheme,
      |   lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
      |   regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
      |   regexp_extract(pathq, '^([^?]*)', 1) AS path,
      |   regexp_extract(pathq, '\\?(.*)$$', 1) AS query FROM q),
      | s AS (SELECT doc_id, scheme, host,
      |   CASE WHEN port = '' THEN ''
      |        WHEN scheme = 'http' AND port = '80' THEN ''
      |        WHEN scheme = 'https' AND port = '443' THEN ''
      |        ELSE ':' || port END AS portn,
      |   CASE WHEN path = '' THEN '/' ELSE path END AS pathn,
      |   list_sort(list_filter(string_split(query, '&'),
      |     x -> x <> '' AND x NOT LIKE 'utm_%')) AS params FROM r)
      | SELECT doc_id, scheme || '://' || host || portn || pathn ||
      |   CASE WHEN len(params) = 0 THEN ''
      |        ELSE '?' || array_to_string(params, '&') END AS url_norm
      | FROM s""".stripMargin))

  /** Domain balance ([[UrlFunctions.urlHost]] + [[UrlFunctions.apexDomain]]
    * + per-domain cap): group the crawl by registrable domain (public-suffix
    * aware: `www.site.co.uk` → `site.co.uk`) and keep at most 8 docs per
    * domain in doc_id order — the cap that stops a handful of mega-domains
    * from dominating the token budget. The window partitions BY DOMAIN, so
    * per-partition state is one domain's docs (never corpus-scaled), and at
    * 100 TB the same plan runs with AQE skew splitting on the giants.
    */
  val qDomainCaps = Fixture(
    "q_domain_caps",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.UrlFunctions.apexDomain(
          graft.functions.UrlFunctions.urlHost(messyUrl)).as("domain"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 8)
        .select("domain", "doc_id")
    },
    Some(s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
      | h AS (SELECT doc_id, lower(regexp_extract(
      |     regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |     '^([^:]*)', 1)) AS host FROM u),
      | l AS (SELECT doc_id, string_split(host, '.') AS lab FROM h),
      | d AS (SELECT doc_id,
      |   CASE WHEN len(lab) >= 3 AND array_to_string(lab[len(lab)-1:], '.')
      |          IN ('co.uk', 'com.au', 'co.jp', 'com.br')
      |        THEN array_to_string(lab[len(lab)-2:], '.')
      |        ELSE array_to_string(lab[len(lab)-1:], '.') END AS domain FROM l),
      | a AS (SELECT domain, doc_id,
      |   row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn FROM d)
      | SELECT domain, doc_id FROM a WHERE rn <= 8""".stripMargin))

  /** Streaming crawl ingest — the PRODUCTION shape of WARC consumption: a
    * continuous crawler lands shard files and the pipeline parses them as
    * they arrive, not in a nightly batch. The stream carries whole WARC
    * FILES (the natural arrival unit — a file is sequential inside, so the
    * record walk is per-file executor work exactly as in batch), exploded
    * to response records by the same [[graft.sources.Warc.ingestResponses]]
    * path, so batch and stream share one parser. Stateless → ONE trigger;
    * many addData blocks so the per-file parse fans across cores
    * (MemoryStream = one partition per block). Oracle = the batch ingest
    * oracle: chunking cannot affect a stateless explode.
    */
  lazy val qStreamWarcIngest = Fixture(
    "q_stream_warc_ingest",
    (s, d) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val files = graft.sources.Warc
        .syntheticWarcFiles(s, Tables.documents(s, d))
        .map(f => (f.file_id, f.warc))
        .collect().sortBy(_._1)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Byte])]
      val out = graft.sources.Warc.ingestResponses(s,
        ms.toDS().map { case (id, bytes) => graft.sources.Warc.WarcFile(id, bytes) })
      val sink = s"stream_warc_${System.nanoTime}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      try {
        files.grouped(math.max(1, files.length / 8 + 1)).foreach(c => ms.addData(c.toSeq))
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    },
    qWarcIngest.oracle)

  /** Deterministic HTML wrapping of each document — title with an entity,
    * a style block, a script whose body contains `<`, `>` and quotes (the
    * classic naive-tag-strip desync), a comment, entity-quoted body text,
    * and two links — constructed IDENTICALLY by the Spark fixture and the
    * oracle (shared test vector; keep in sync with [[messyHtmlSql]]).
    */
  private def messyHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit(" &amp; friends</title><style>p { color: red; }</style>" +
      "<script>if (1 < 2 && x > 0) { y = \"</div>\"; }</script></head>" +
      "<body><!-- hidden --><h1 class=\"t\">Doc "),
    col("doc_id").cast("string"),
    lit("</h1><p>&quot;"), col("text"),
    lit("&quot; &amp;&nbsp;more</p><a href=\"HTTP://Site"),
    (col("doc_id") % 9).cast("string"),
    lit(".com:80/p?utm_a=1&b=2#f\">l1</a><a href='/rel'>l2</a></body></html>"))

  /** The same construction in DuckDB SQL (column `html` over `documents`). */
  private val messyHtmlSql = Seq(
    "'<html><head><title>Doc ' || doc_id || ' &amp; friends</title>'",
    "'<style>p { color: red; }</style>'",
    "'<script>if (1 < 2 && x > 0) { y = \"</div>\"; }</script></head>'",
    "'<body><!-- hidden --><h1 class=\"t\">Doc ' || doc_id || '</h1>'",
    "'<p>&quot;' || text || '&quot; &amp;&nbsp;more</p>'",
    "'<a href=\"HTTP://Site' || (doc_id % 9) || '.com:80/p?utm_a=1&b=2#f\">l1</a>'",
    "'<a href=''/rel''>l2</a></body></html>'").mkString(" || ")

  /** HTML → text extraction ([[HtmlFunctions]]) — the step between WARC
    * ingest and every downstream text operator: script/style/comment
    * bodies dropped, tags spaced out, core entities decoded (`&amp;`
    * last), whitespace collapsed; plus `<title>` recovery and the `href`
    * link list (the crawl-frontier feed). The script body embeds `<`,
    * `>`, `&&` and a literal `</div>` string — a tag-strip that doesn't
    * remove script elements FIRST emits fragments of code and fails the
    * hash. Spark side is all built-in column functions under whole-stage
    * codegen; the oracle re-derives extraction with RE2 regexes — the
    * patterns are deliberately backreference-free so both engines run
    * them.
    */
  val qHtmlExtract = Fixture(
    "q_html_extract",
    (s, d) => {
      import graft.functions.HtmlFunctions._
      Tables.documents(s, d).select(col("doc_id"),
        htmlTitle(messyHtml).as("title"),
        htmlToText(messyHtml).as("txt"),
        array_join(htmlLinks(messyHtml), " ").as("links"),
        size(htmlLinks(messyHtml)).cast("long").as("n_links"))
    },
    Some(s"""WITH u AS (SELECT doc_id, text, $messyHtmlSql AS html FROM documents),
      | s1 AS (SELECT doc_id, text, html,
      |   regexp_replace(html, '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g') AS h FROM u),
      | s2 AS (SELECT doc_id, text, html,
      |   regexp_replace(h, '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g') AS h FROM s1),
      | s3 AS (SELECT doc_id, text, html,
      |   regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
      | s4 AS (SELECT doc_id, text, html,
      |   regexp_replace(h, '(?s)</?[A-Za-z!][^>]*>', ' ', 'g') AS h FROM s3),
      | s5 AS (SELECT doc_id, text, html,
      |   replace(replace(replace(replace(replace(replace(h,
      |     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |     '&nbsp;', ' '), '&amp;', '&') AS h FROM s4),
      | fin AS (SELECT doc_id, html,
      |   trim(regexp_replace(h, '\\s+', ' ', 'g')) AS txt FROM s5)
      | SELECT doc_id,
      |   trim(regexp_replace(regexp_extract(html,
      |     '(?is)<title[^>]*>(.*?)</title', 1), '\\s+', ' ', 'g')) AS title,
      |   txt,
      |   array_to_string(list_filter(regexp_extract_all(html,
      |     '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"'']*)["'']', 1),
      |     x -> x <> ''), ' ') AS links,
      |   len(list_filter(regexp_extract_all(html,
      |     '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"'']*)["'']', 1),
      |     x -> x <> ''))::BIGINT AS n_links
      | FROM fin""".stripMargin))

  /** END-TO-END crawl manifest — the crawl tier's `q_training_manifest`:
    * one fixture chaining every stage seam instead of pinning each stage
    * alone. The corpus is wrapped in HTML pages (visible text = the
    * document text in quotes — deliberately doc_id-free so real duplicate
    * prefixes survive to the dedup stage), serialized into REAL WARC
    * shards, and then the pipeline runs exactly as production would:
    *
    *   1. WARC record walk + HTTP unwrap ([[graft.sources.Warc]]), keep
    *      status-200 fetches (the %17 404s drop here);
    *   2. HTML → text ([[HtmlFunctions.htmlToText]] — script/style/comment
    *      drop, entity decode, whitespace collapse);
    *   3. URL canonicalize + registrable domain ([[UrlFunctions]], the
    *      shared messy-URL vector) with the robots PATH taken from the
    *      NORMALIZED url (the seam: gate what you'd fetch, not the raw
    *      spelling);
    *   4. robots gate ([[graft.sources.Robots]]) over CRLF-terminated
    *      per-domain files (both TLD forms), star-group selection;
    *   5. frontier politeness rounds + per-domain cap (one domain-keyed
    *      window serves both);
    *   6. dedup handoff: normalized-prefix fingerprint, min-id keeper,
    *      duplicate count ([[Dedup.exact]]'s shape on the EXTRACTED text).
    *
    * The oracle re-derives all six stages in SQL from stored columns, so
    * a slip at ANY seam — record framing, tag strip, entity order, port
    * rules, apex labels, path extraction, group selection, window frame,
    * fingerprint bytes — changes the hash. Scale shape: per-file WARC
    * parallelism, codegen'd extraction, one domain-keyed shuffle for
    * gate+rounds+cap, one fp-keyed shuffle for dedup; nothing corpus-sized
    * on the driver.
    */
  val qCrawlManifest = Fixture(
    "q_crawl_manifest",
    (s, d) => {
      val pageHtml = concat(
        lit("<html><head><title>Page &amp; co</title>" +
          "<style>p { color: red; }</style>" +
          "<script>if (1 < 2 && x > 0) { y = \"</div>\"; }</script></head>" +
          "<body><!-- hidden --><p>&quot;"), col("text"),
        lit("&quot;</p></body></html>"))
      val pages = Tables.documents(s, d).select(col("doc_id"), pageHtml.as("text"))
      val fetched = graft.sources.Warc.ingestResponses(s,
          graft.sources.Warc.syntheticWarcFiles(s, pages))
        .where(col("http_status") === 200)
        .select(regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body"))
      val extracted = fetched.select(col("doc_id"),
        graft.functions.HtmlFunctions.htmlToText(col("body")).as("txt"))
      val urled = extracted
        .withColumn("url_norm",
          graft.functions.UrlFunctions.urlNormalize(messyUrl))
        .withColumn("domain", graft.functions.UrlFunctions.apexDomain(
          graft.functions.UrlFunctions.urlHost(messyUrl)))
        .withColumn("path",
          regexp_extract(col("url_norm"), "^[a-z]+://[^/]*(/.*)$", 1))
      val kd = col("id").cast("string")
      val robots = s.range(0, 40)
        .select(col("id"), explode(array(lit(".com"), lit(".co.uk"))).as("tld"))
        .select(concat(lit("site"), kd, col("tld")).as("domain"),
          concat(
            lit("User-agent: googlebot\r\nDisallow: /\r\n\r\nUser-agent: *\r\n"),
            when(col("id") % 3 === 0, lit("Disallow: /a\r\n"))
              .otherwise(lit("Disallow: /zzz\r\n"))).as("robots_txt"))
      val gated = graft.sources.Robots.gate(
          urled.select("doc_id", "domain", "path"),
          graft.sources.Robots.parseRules(s, robots))
        .where(col("allowed")).select("doc_id")
        .join(urled, Seq("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy("doc_id")
      val capped = gated
        .withColumn("fetch_round", row_number().over(w).cast("long"))
        .where(col("fetch_round") <= 8)
      val keyed = capped.withColumn("fp", md5(substring(col("txt"), 1, 64)))
      val keepers = keyed.groupBy("fp")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      keyed.select(col("doc_id"), col("domain"), col("url_norm"),
          col("fetch_round"), length(col("txt")).cast("long").as("n_chars"))
        .join(keepers.select("doc_id", "n_dups"), Seq("doc_id"))
    },
    Some(s"""WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
      | x AS (SELECT doc_id,
      |   'Page & co "' || regexp_replace(text, '\\s+', ' ', 'g') || '"' AS txt
      |   FROM src),
      | u AS (SELECT doc_id, txt, $messyUrlSql AS url FROM x),
      | n AS (SELECT doc_id, txt, regexp_replace(url, '#.*', '') AS nf FROM u),
      | p AS (SELECT doc_id, txt,
      |   lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |   regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM n),
      | q AS (SELECT doc_id, txt, scheme,
      |   regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
      |   substr(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1) AS pathq FROM p),
      | r AS (SELECT doc_id, txt, scheme,
      |   lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
      |   regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
      |   regexp_extract(pathq, '^([^?]*)', 1) AS path0,
      |   regexp_extract(pathq, '\\?(.*)$$', 1) AS query FROM q),
      | s AS (SELECT doc_id, txt, scheme, host,
      |   CASE WHEN port = '' THEN ''
      |        WHEN scheme = 'http' AND port = '80' THEN ''
      |        WHEN scheme = 'https' AND port = '443' THEN ''
      |        ELSE ':' || port END AS portn,
      |   CASE WHEN path0 = '' THEN '/' ELSE path0 END AS pathn,
      |   list_sort(list_filter(string_split(query, '&'),
      |     y -> y <> '' AND y NOT LIKE 'utm_%')) AS params FROM r),
      | nu AS (SELECT doc_id, txt, host,
      |   scheme || '://' || host || portn || pathn ||
      |   CASE WHEN len(params) = 0 THEN ''
      |        ELSE '?' || array_to_string(params, '&') END AS url_norm FROM s),
      | l AS (SELECT doc_id, txt, url_norm, string_split(host, '.') AS lab FROM nu),
      | dm AS (SELECT doc_id, txt, url_norm,
      |   CASE WHEN len(lab) >= 3 AND array_to_string(lab[len(lab)-1:], '.')
      |          IN ('co.uk', 'com.au', 'co.jp', 'com.br')
      |        THEN array_to_string(lab[len(lab)-2:], '.')
      |        ELSE array_to_string(lab[len(lab)-1:], '.') END AS domain FROM l),
      | pp AS (SELECT doc_id, txt, url_norm, domain,
      |   regexp_extract(url_norm, '^[a-z]+://[^/]*(/.*)$$', 1) AS path FROM dm),
      | g AS (SELECT * FROM pp
      |   WHERE NOT ((doc_id % 40) % 3 = 0 AND path LIKE '/a%')),
      | f AS (SELECT doc_id, txt, url_norm, domain, row_number() OVER
      |   (PARTITION BY domain ORDER BY doc_id)::BIGINT AS fetch_round FROM g),
      | c AS (SELECT * FROM f WHERE fetch_round <= 8),
      | k AS (SELECT md5(substr(txt, 1, 64)) AS fp, min(doc_id) AS doc_id,
      |   count(*) AS n_dups FROM c GROUP BY 1)
      | SELECT c.doc_id, c.domain, c.url_norm, c.fetch_round,
      |   length(c.txt)::BIGINT AS n_chars, k.n_dups
      | FROM c JOIN k USING (doc_id)""".stripMargin))

  /** Domain link-graph edges extracted the long way — page URL →
    * [[UrlFunctions.apexDomain]] source, every ABSOLUTE `href` in the HTML
    * ([[HtmlFunctions.htmlLinks]]) → destination domain — aggregated to a
    * weighted edge list, the crawl-frontier / authority-graph feed. The
    * oracle predicts the edges from doc_id arithmetic alone, so hash
    * equality proves HTML link scrape → relative-link drop → host parse →
    * apex mapping end-to-end. One corpus scan, one edge-sized shuffle.
    */
  val qLinkGraph = Fixture(
    "q_link_graph",
    (s, d) => {
      import graft.functions.{HtmlFunctions, UrlFunctions}
      Tables.documents(s, d)
        .select(
          UrlFunctions.apexDomain(UrlFunctions.urlHost(messyUrl)).as("src"),
          explode(HtmlFunctions.htmlLinks(messyHtml)).as("link"))
        .where(lower(col("link")).startsWith("http"))
        .select(col("src"),
          UrlFunctions.apexDomain(UrlFunctions.urlHost(col("link"))).as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    },
    Some("""SELECT 'site' || (doc_id % 40) ||
      |     (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS src,
      |   'site' || (doc_id % 9) || '.com' AS dst, count(*)::BIGINT AS cnt
      | FROM documents GROUP BY 1, 2""".stripMargin))

  /** Fixed-iteration PageRank over the extracted domain graph
    * ([[graft.operators.LinkGraph.pageRank]], 3 rounds, d = 0.85) — domain
    * authority, the curation signal that weights quality scores and orders
    * the crawl frontier. The oracle unrolls the same synchronous iteration
    * in SQL (r0 → r1 → r2 → r3, dangling mass dropped per the operator's
    * contract), so agreement pins the CONTRACT, not one engine's quirks.
    * Each Spark round is one node-sized shuffle joined to the static
    * out-degree relation; lineage is checkpoint-truncated per round — the
    * plan a 100 TB crawl graph needs (rank state is node-sized, driver
    * holds nothing).
    */
  val qDomainPagerank = Fixture(
    "q_domain_pagerank",
    (s, d) => {
      import graft.functions.{HtmlFunctions, UrlFunctions}
      val edges = Tables.documents(s, d)
        .select(
          UrlFunctions.apexDomain(UrlFunctions.urlHost(messyUrl)).as("src"),
          explode(HtmlFunctions.htmlLinks(messyHtml)).as("link"))
        .where(lower(col("link")).startsWith("http"))
        .select(col("src"),
          UrlFunctions.apexDomain(UrlFunctions.urlHost(col("link"))).as("dst"))
      graft.operators.LinkGraph.pageRank(s, edges, iters = 3)
        .select(col("node"), Quant.q4(col("rank")).as("rank"))
    },
    Some(s"""WITH raw AS (SELECT 'site' || (doc_id % 40) ||
      |     (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS src,
      |   'site' || (doc_id % 9) || '.com' AS dst FROM documents),
      | e AS (SELECT src, dst, count(*)::DOUBLE AS w FROM raw GROUP BY 1, 2),
      | o AS (SELECT src, sum(w) AS outdeg FROM e GROUP BY 1),
      | nd AS (SELECT DISTINCT node FROM
      |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      | nn AS (SELECT count(*)::DOUBLE AS n FROM nd),
      | r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd),
      | c1 AS (SELECT e.dst AS node, sum(r0.rank * e.w / o.outdeg) AS m
      |        FROM e JOIN o USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      | r1 AS (SELECT nd.node,
      |     (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c1.m, 0) AS rank
      |   FROM nd LEFT JOIN c1 USING (node)),
      | c2 AS (SELECT e.dst AS node, sum(r1.rank * e.w / o.outdeg) AS m
      |        FROM e JOIN o USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      | r2 AS (SELECT nd.node,
      |     (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c2.m, 0) AS rank
      |   FROM nd LEFT JOIN c2 USING (node)),
      | c3 AS (SELECT e.dst AS node, sum(r2.rank * e.w / o.outdeg) AS m
      |        FROM e JOIN o USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      | r3 AS (SELECT nd.node,
      |     (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c3.m, 0) AS rank
      |   FROM nd LEFT JOIN c3 USING (node))
      | SELECT node, ${q4("rank")} AS rank FROM r3""".stripMargin))

  /** HITS hubs-and-authorities over the extracted domain graph
    * ([[graft.operators.LinkGraph.hits]], 2 rounds, L1-normalized) — the
    * complementary authority signal to [[qDomainPagerank]]: hub scores
    * rank the directory/aggregator domains that seed frontier expansion,
    * authority scores rank canonical sources. The oracle unrolls both
    * half-rounds of both iterations in SQL (auth ← hubs then normalize,
    * hub ← fresh auths then normalize), so agreement pins the
    * mutual-reinforcement contract itself, not one engine's quirks. Per
    * half-round cost: one shuffle of the node-sized score relation against
    * the static weighted edge list; the L1 normalizer is a one-row
    * broadcast folded back in-plan — nothing driver-side, nothing
    * corpus-sized.
    */
  val qDomainHits = Fixture(
    "q_domain_hits",
    (s, d) => {
      import graft.functions.{HtmlFunctions, UrlFunctions}
      val edges = Tables.documents(s, d)
        .select(
          UrlFunctions.apexDomain(UrlFunctions.urlHost(messyUrl)).as("src"),
          explode(HtmlFunctions.htmlLinks(messyHtml)).as("link"))
        .where(lower(col("link")).startsWith("http"))
        .select(col("src"),
          UrlFunctions.apexDomain(UrlFunctions.urlHost(col("link"))).as("dst"))
      graft.operators.LinkGraph.hits(s, edges, iters = 2)
        .select(col("node"), Quant.q4(col("hub")).as("hub"),
          Quant.q4(col("auth")).as("auth"))
    },
    Some(s"""WITH raw AS (SELECT 'site' || (doc_id % 40) ||
      |     (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS src,
      |   'site' || (doc_id % 9) || '.com' AS dst FROM documents),
      | e AS (SELECT src, dst, count(*)::DOUBLE AS w FROM raw GROUP BY 1, 2),
      | nd AS (SELECT DISTINCT node FROM
      |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      | h0 AS (SELECT node, 1.0 AS hub FROM nd),
      | a1r AS (SELECT e.dst AS node, sum(h0.hub * e.w) AS s
      |         FROM e JOIN h0 ON h0.node = e.src GROUP BY 1),
      | a1u AS (SELECT nd.node, coalesce(a1r.s, 0) AS auth
      |         FROM nd LEFT JOIN a1r USING (node)),
      | a1 AS (SELECT node, auth / (SELECT sum(auth) FROM a1u) AS auth FROM a1u),
      | h1r AS (SELECT e.src AS node, sum(a1.auth * e.w) AS s
      |         FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
      | h1u AS (SELECT nd.node, coalesce(h1r.s, 0) AS hub
      |         FROM nd LEFT JOIN h1r USING (node)),
      | h1 AS (SELECT node, hub / (SELECT sum(hub) FROM h1u) AS hub FROM h1u),
      | a2r AS (SELECT e.dst AS node, sum(h1.hub * e.w) AS s
      |         FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
      | a2u AS (SELECT nd.node, coalesce(a2r.s, 0) AS auth
      |         FROM nd LEFT JOIN a2r USING (node)),
      | a2 AS (SELECT node, auth / (SELECT sum(auth) FROM a2u) AS auth FROM a2u),
      | h2r AS (SELECT e.src AS node, sum(a2.auth * e.w) AS s
      |         FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
      | h2u AS (SELECT nd.node, coalesce(h2r.s, 0) AS hub
      |         FROM nd LEFT JOIN h2r USING (node)),
      | h2 AS (SELECT node, hub / (SELECT sum(hub) FROM h2u) AS hub FROM h2u)
      | SELECT node, ${q4("hub")} AS hub, ${q4("auth")} AS auth
      | FROM h2 JOIN a2 USING (node)""".stripMargin))

  /** Snapshot time-travel diff ([[graft.sources.SnapshotLake.readVersion]]
    * + [[graft.sources.SnapshotLake.diff]]): commit v0 = the corpus, v1 =
    * an edited corpus (every 10th doc's n_chars bumped, every
    * (id % 7 = 3) doc added under a new id, every (id % 13 = 5) doc
    * dropped), then read BOTH pinned versions back and diff — the audit a
    * training run does between "the corpus my model saw" and today's.
    * Unchanged rows drop before moving; output is change-sized. The
    * oracle reconstructs the same edit arithmetic from the base table.
    */
  val qSnapshotDiff = Fixture(
    "q_snapshot_diff",
    (s, d) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sdiff_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      graft.sources.SnapshotLake.commit(docs, root, 0L)
      val v1 = docs.where(col("doc_id") % 13 =!= 5)
        .withColumn("n_chars",
          when(col("doc_id") % 10 === 0, col("n_chars") + 1000L)
            .otherwise(col("n_chars")))
        .unionByName(docs.where(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("n_chars")))
      graft.sources.SnapshotLake.commit(v1, root, 1L)
      graft.sources.SnapshotLake.diff(
        graft.sources.SnapshotLake.readVersion(s, root, 0L),
        graft.sources.SnapshotLake.readVersion(s, root, 1L),
        "doc_id", "n_chars")
    },
    Some("""WITH base AS (SELECT doc_id, n_chars FROM documents),
      | v1 AS (SELECT doc_id,
      |     CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |   FROM base WHERE doc_id % 13 <> 5
      |   UNION ALL
      |   SELECT doc_id + 1000000, n_chars FROM base WHERE doc_id % 7 = 3),
      | j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |         o.n_chars AS old_v, n.n_chars AS new_v
      |       FROM base o FULL OUTER JOIN v1 n ON o.doc_id = n.doc_id)
      | SELECT doc_id,
      |   CASE WHEN old_v IS NULL THEN 'added'
      |        WHEN new_v IS NULL THEN 'removed'
      |        WHEN old_v <> new_v THEN 'changed' END AS change,
      |   old_v, new_v
      | FROM j
      | WHERE old_v IS NULL OR new_v IS NULL OR old_v <> new_v""".stripMargin))

  /** Streaming CDC apply into the versioned snapshot lake
    * (streaming/StreamingUpsert + sources/SnapshotLake): two change batches
    * replayed through `foreachBatch`, each folded in with latest-wins merge
    * and committed pointer-last; the fixture reads the FINAL snapshot — so
    * the oracle checks the whole chain (merge semantics × version
    * arithmetic × pointer swap), and StreamingUpsertSpec separately pins
    * replayed-batch idempotence.
    */
  val qStreamCdcUpsert = Fixture(
    "q_stream_cdc_upsert",
    (s, d) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_cdclake_${System.nanoTime}").getAbsolutePath
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("n_chars"))
      graft.sources.SnapshotLake.commit(
        docs.withColumn("ver", lit(0L)), root, 0L)
      Replay.start(s, Replay.each(
          docs.where(col("doc_id") % 10 === 0)
            .withColumn("n_chars", col("n_chars") + 1000L).withColumn("ver", lit(1L)),
          docs.where(col("doc_id") % 20 === 0)
            .withColumn("n_chars", col("n_chars") + 2000L).withColumn("ver", lit(2L))
            .unionByName(docs.where(col("doc_id") % 7 === 3)
              .withColumn("doc_id", col("doc_id") + 1000000L)
              .withColumn("ver", lit(1L))))) {
        graft.streaming.StreamingUpsert.start(_, root, "doc_id", "ver", s"${root}_ckpt")
      }
      graft.sources.SnapshotLake.read(s, root)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum("doc_id").as("id_sum"), max("ver").as("max_ver"))
    },
    Some("""WITH base AS (SELECT doc_id, source, n_chars FROM documents),
      | fin AS (
      |   SELECT doc_id, source,
      |     CASE WHEN doc_id % 20 = 0 THEN n_chars + 2000
      |          WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |          ELSE n_chars END AS n_chars,
      |     CASE WHEN doc_id % 20 = 0 THEN 2
      |          WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS ver
      |   FROM base
      |   UNION ALL
      |   SELECT doc_id + 1000000, source, n_chars, 1 FROM base WHERE doc_id % 7 = 3)
      | SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |   sum(doc_id)::BIGINT AS id_sum, max(ver)::BIGINT AS max_ver
      | FROM fin GROUP BY 1""".stripMargin))

  /** MERGE-ON-READ CDC ([[graft.sources.SnapshotLake.commitNextMor]]) —
    * the copy-on-write upsert path above rewrites the whole snapshot per
    * batch (exact, but a 100 TB table cannot pay a table-sized write for
    * a row-sized trigger); the MoR layout commits ONLY the batch's add
    * rows and delete keys per version (REQUIREd structurally: v1's add
    * layer holds exactly the batch), resolves at read as
    * latest-add-wins-unless-a-later-delete, and
    * [[graft.sources.SnapshotLake.compactMor]] folds the layers into a
    * fresh base on the owner's cadence — exercised MID-SEQUENCE here, so
    * the second delta stacks on a compacted base and the final read must
    * still equal the one-shot post-CDC recompute.
    */
  val qLakeMorCdc = Fixture(
    "q_lake_mor_cdc",
    (s, d) => {
      import graft.sources.SnapshotLake
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_morlake_${System.nanoTime}").getAbsolutePath
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long"), col("source"),
          col("n_chars").cast("long"))
      // BUCKETED layers: every layer hash-bucketed by the key at write, so
      // the read-side resolution is a zero-exchange co-bucketed merge — at
      // 100 TB the un-bucketed alternative re-shuffles the table per read
      SnapshotLake.commitMorBase(docs, root, 0L, buckets = 8, key = "doc_id")
      // delta 1: update %10==0 (+1000), insert %7==3 twins (+1e6 ids,
      // +7 chars), delete %13==5
      val adds1 = docs.where(col("doc_id") % 10 === 0 &&
          col("doc_id") % 13 =!= 5)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(docs.where(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("n_chars", col("n_chars") + 7L))
      val dels1 = docs.where(col("doc_id") % 13 === 5).select("doc_id")
      SnapshotLake.commitNextMor(adds1, dels1, root, "w", 0L)
      val addCount = s.read.parquet(
        s"${SnapshotLake.versionPath(root, 1L)}/add").count()
      require(addCount == adds1.count(),
        s"MoR commit must be batch-sized: v1/add holds $addCount rows")
      // fold the layers into a fresh base mid-sequence
      SnapshotLake.compactMor(s, root, "doc_id")
      // delta 2 stacks on the compacted base: update %20==0 (+2000 over
      // the ORIGINAL chars — the later add shadows delta 1's), delete
      // %11==4 of the surviving un-updated rows
      val adds2 = docs.where(col("doc_id") % 20 === 0 &&
          col("doc_id") % 13 =!= 5)
        .withColumn("n_chars", col("n_chars") + 2000L)
      val dels2 = docs.where(col("doc_id") % 11 === 4 &&
          col("doc_id") % 13 =!= 5 && col("doc_id") % 20 =!= 0)
        .select("doc_id")
      SnapshotLake.commitNextMor(adds2, dels2, root, "w", 1L)
      require(SnapshotLake.currentVersion(root).contains(3L),
        s"base + delta + compaction + delta = v3; got " +
          s"${SnapshotLake.currentVersion(root)}")
      val resolved = SnapshotLake.readMor(s, root, "doc_id")
      val rp = resolved.queryExecution.executedPlan.toString
      require(!rp.contains("Exchange hashpartitioning"),
        s"bucketed MoR resolve must plan zero key shuffles:\n$rp")
      resolved
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum("doc_id").as("id_sum"))
    },
    Some("""WITH base AS (SELECT doc_id, source, n_chars FROM documents),
      | fin AS (
      |   SELECT doc_id, source,
      |     CASE WHEN doc_id % 20 = 0 THEN n_chars + 2000
      |          WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |          ELSE n_chars END AS n_chars
      |   FROM base
      |   WHERE NOT (doc_id % 13 = 5)
      |     AND NOT (doc_id % 11 = 4 AND doc_id % 20 <> 0)
      |   UNION ALL
      |   SELECT doc_id + 1000000, source, n_chars + 7 FROM base
      |   WHERE doc_id % 7 = 3)
      | SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |   sum(doc_id)::BIGINT AS id_sum
      | FROM fin GROUP BY 1""".stripMargin))

  /** Streaming twin of [[qLakeMorCdc]]
    * ([[graft.streaming.StreamingUpsert.startMor]]): the same I/U/D
    * recipe arrives as TWO CDC micro-batches; each trigger commits
    * O(|batch|) — the add rows and delete keys, never the table — and the
    * last batch is crash-replayed (same writer, same batchId, REQUIREd to
    * SKIP on the per-writer watermark). Final resolved content == the
    * one-shot post-CDC recompute, same oracle.
    */
  val qStreamLakeMor = Fixture(
    "q_stream_lake_mor",
    (s, d) => {
      import graft.sources.SnapshotLake
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_morstream_${System.nanoTime}").getAbsolutePath
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      SnapshotLake.commitMorBase(docs, root, 0L, buckets = 8, key = "doc_id")
      val b1 = docs.where(col("doc_id") % 10 === 0 &&
          col("doc_id") % 13 =!= 5)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000L).as("n_chars"), lit("U").as("op"),
          lit(1L).as("ver"))
        .unionByName(docs.where(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            (col("n_chars") + 7L).as("n_chars"), lit("I").as("op"),
            lit(1L).as("ver")))
        .unionByName(docs.where(col("doc_id") % 13 === 5)
          .select(col("doc_id"), col("source"), col("n_chars"),
            lit("D").as("op"), lit(1L).as("ver")))
      val b2 = docs.where(col("doc_id") % 20 === 0 &&
          col("doc_id") % 13 =!= 5)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 2000L).as("n_chars"), lit("U").as("op"),
          lit(2L).as("ver"))
        .unionByName(docs.where(col("doc_id") % 11 === 4 &&
            col("doc_id") % 13 =!= 5 && col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), col("source"), col("n_chars"),
            lit("D").as("op"), lit(2L).as("ver")))
      val ckpt = s"${root}_ckpt"
      Replay.start(s, Replay.each(b1, b2)) {
        graft.streaming.StreamingUpsert.startMor(_, root, "doc_id", "ver", ckpt)
      }
      // crash-replay of the last batch: the per-writer watermark must SKIP
      val replayed = graft.streaming.StreamingUpsert.applyBatchMor(b2,
        root, "doc_id", "ver", ckpt, 1L)
      require(!replayed, "a replayed MoR batch must SKIP, not double-commit")
      require(SnapshotLake.currentVersion(root).contains(2L),
        s"2 triggers = v1..v2; got ${SnapshotLake.currentVersion(root)}")
      SnapshotLake.readMor(s, root, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum("doc_id").as("id_sum"))
    },
    qLakeMorCdc.oracle)

  /** Same contract as q_zorder_layout, equal-frequency ranks
    * (ZOrder.writeZOrderedQuantile): the skew-robust clustering path must
    * also be invisible in query values. ZOrderSpec pins WHY this variant
    * exists (outlier-stretched ranges collapse equal-width binning).
    */
  val qZorderQuantile = Fixture(
    "q_zorder_quantile",
    (s, d) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_zorderq_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      graft.sources.ZOrder.writeZOrderedQuantile(
        Tables.documents(s, d), Seq("n_chars", "doc_id"), out, 12)
      s.read.parquet(out)
        .where(col("n_chars").between(100, 300) && col("doc_id").between(100, 350))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    },
    Some("""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      | FROM documents
      | WHERE n_chars BETWEEN 100 AND 300 AND doc_id BETWEEN 100 AND 350
      | GROUP BY 1""".stripMargin))

  /** Text cleaning (TextFunctions.cleanText) under the oracle: the corpus
    * is born clean, so the fixture CONSTRUCTS deterministic dirt — leading
    * spaces, tabs, a NUL, trailing run — identically in both engines, then
    * cleans it and fingerprints. A clean(dirty(text)) == normalized(text)
    * invariant is exactly what ingest relies on: whitespace/control noise
    * must not split exact-dedup fingerprints.
    */
  val qCleanText = Fixture(
    "q_clean_text",
    (s, d) => {
      val dirty = concat(lit("  "), col("text"), lit("\t\t"),
        lit("\u0000"), lit("end  "))
      Tables.documents(s, d).select(
        col("doc_id"),
        length(TextFunctions.cleanText(dirty)).cast("long").as("n_clean"),
        md5(TextFunctions.cleanText(dirty)).as("fp_clean"))
    },
    Some("""SELECT doc_id,
      |   strlen(trim(regexp_replace(regexp_replace(
      |     '  ' || text || chr(9) || chr(9) || chr(0) || 'end  ',
      |     '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')))::BIGINT AS n_clean,
      |   md5(trim(regexp_replace(regexp_replace(
      |     '  ' || text || chr(9) || chr(9) || chr(0) || 'end  ',
      |     '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g'))) AS fp_clean
      | FROM documents""".stripMargin))

  /** Temperature-weighted mixture planning — the α-sampling recipe step
    * (multilingual-LM style, α = 0.5): per-source sampling weights
    * wₛ = pₛ^α / Σ pₛ^α from token mass, and the implied epochs over each
    * source at a fixed token budget. Three TINY aggregations chained by
    * broadcast (source cardinality ≤ hundreds at any corpus size — the
    * q_source_overlap dimension-bound argument); the corpus is touched
    * ONCE for token counts. sqrt (α = ½) is IEEE-exact in both engines;
    * divisions quantize at the output.
    */
  val qMixTemperature = Fixture(
    "q_mix_temperature",
    (s, d) => {
      val counts = Tables.documents(s, d).groupBy("source")
        .agg(sum(TextFunctions.tokenCountWs(col("text")).cast("long")).as("n_tok"))
      graft.operators.Caching.withCached(counts) {
        val tot = counts.agg(sum("n_tok").as("tot"))
        // integer-scaled weights (the lm_doc_score trick): the weight SUM
        // must be merge-order-exact or w's q4 can flip cross-engine
        val raw = counts.crossJoin(broadcast(tot))
          .withColumn("w6",
            floor(sqrt(col("n_tok").cast("double") / col("tot")) * lit(1e6)
              + lit(0.5)).cast("long"))
        val wsum = raw.agg(sum("w6").as("wsum6"))
        raw.crossJoin(broadcast(wsum))
          .select(col("source"), col("n_tok"),
            Quant.q4(col("n_tok").cast("double") / col("tot")).as("p"),
            Quant.q4(col("w6").cast("double") / col("wsum6")).as("w"),
            Quant.q4(col("w6").cast("double") / col("wsum6") * lit(1000000.0) /
              col("n_tok")).as("epochs_at_1m"))
      }
    },
    Some(s"""WITH c AS (SELECT source, sum(len($wordsSql))::BIGINT AS n_tok
      |        FROM documents GROUP BY 1),
      | t AS (SELECT sum(n_tok)::BIGINT AS tot FROM c),
      | r AS (SELECT source, n_tok,
      |         floor(sqrt(n_tok / tot) * 1000000 + 0.5)::BIGINT AS w6 FROM c, t),
      | ws AS (SELECT sum(w6)::BIGINT AS wsum6 FROM r)
      | SELECT source, n_tok, ${q4("n_tok / (SELECT tot FROM t)")} AS p,
      |   ${q4("w6 / wsum6")} AS w,
      |   ${q4("w6 / wsum6 * 1000000.0 / n_tok")} AS epochs_at_1m
      | FROM r, ws""".stripMargin))

  /** EXECUTING the temperature-mixture plan ([[qMixTemperature]] computes
    * the weights; this draws the sample): per-source keep rate
    * rₛ = min(1, wₛ·B / tokₛ) at token budget B = 10 000, membership by the
    * deterministic id-hash threshold (`h64(doc_id) % 10⁶ < floor(rₛ·10⁶)`)
    * — the q_sample_hash rule with a COMPUTED per-source rate, so the drawn
    * corpus is reproducible bit-for-bit across runs, engines, and corpus
    * growth (a doc's membership never depends on other docs of its
    * source). Plan: two tiny aggregations broadcast-chained, then the rate
    * relation broadcast onto one corpus scan — the membership test is a
    * scan-side predicate, nothing shuffles. Threshold arithmetic keeps the
    * q_mix_temperature integer-scaled weights end-to-end: the only float
    * ops are identically-formed double chains, and the final compare is
    * integer vs integer.
    */
  val qMixExecute = Fixture(
    "q_mix_execute",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      val counts = docs.groupBy("source").agg(sum("n_tok").as("tok_s"))
      graft.operators.Caching.withCached(counts) {
        val tot = counts.agg(sum("tok_s").as("tot"))
        val raw = counts.crossJoin(broadcast(tot))
          .withColumn("w6",
            floor(sqrt(col("tok_s").cast("double") / col("tot")) * lit(1e6)
              + lit(0.5)).cast("long"))
        val wsum = raw.agg(sum("w6").as("wsum6"))
        val thr = raw.crossJoin(broadcast(wsum))
          .select(col("source"),
            least(
              floor(col("w6").cast("double") / col("wsum6") * lit(10000)
                / col("tok_s") * lit(1e6) + lit(0.5)).cast("long"),
              lit(1000000L)).as("thr"))
        docs.join(broadcast(thr), "source")
          .where(pmod(TextFunctions.hash64(col("doc_id").cast("string")),
            lit(1000000L)) < col("thr"))
          .select("source", "doc_id", "n_tok")
      }
    },
    Some(s"""WITH t AS (SELECT source, doc_id, len($wordsSql)::BIGINT AS n_tok
      |        FROM documents),
      | c AS (SELECT source, sum(n_tok)::BIGINT AS tok_s FROM t GROUP BY 1),
      | tt AS (SELECT sum(tok_s)::BIGINT AS tot FROM c),
      | w AS (SELECT source, tok_s,
      |         floor(sqrt(tok_s / tot) * 1000000 + 0.5)::BIGINT AS w6 FROM c, tt),
      | ws AS (SELECT sum(w6)::BIGINT AS wsum6 FROM w),
      | r AS (SELECT source,
      |         least(floor(w6 / wsum6 * 10000 / tok_s * 1000000 + 0.5),
      |           1000000)::BIGINT AS thr FROM w, ws)
      | SELECT t.source, doc_id, n_tok
      | FROM t JOIN r ON t.source = r.source
      | WHERE ${h64("doc_id::VARCHAR")} % 1000000 < thr""".stripMargin))

}
