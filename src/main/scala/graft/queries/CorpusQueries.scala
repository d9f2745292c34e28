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

/** Text-analysis, dedup (exact / n-gram / MinHash / SimHash / embedding),
  * similarity-search (brute force, LSH, IVF, PQ) and sampling/privacy
  * fixtures over `documents` / `embeddings`.
  */
object CorpusQueries {

  // ---- text analysis ------------------------------------------------------

  /** Token counting (whitespace + BPE-ish regex) and quality scoring. */
  val qTextStats = Fixture(
    "q_text_stats",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok_ws"),
      TextFunctions.tokenCountBpe(col("text")).cast("long").as("n_tok_bpe"),
      Quant.q4(TextFunctions.qualityScore(col("text"))).as("quality")),
    Some(s"""WITH t AS (SELECT doc_id, text,
      |   len($wordsSql)::DOUBLE AS n_tok,
      |   length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop
      | FROM documents)
      | SELECT doc_id, n_tok::BIGINT AS n_tok_ws, n_bpe::BIGINT AS n_tok_bpe,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS quality
      | FROM t""".stripMargin))

  /** Heuristic language-ID (stopword-family argmax). */
  val qLangId = Fixture(
    "q_lang_id",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred")),
    Some("""WITH c AS (SELECT doc_id,
      |   len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS en,
      |   len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS es,
      |   len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS de,
      |   len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS fr
      | FROM documents)
      | SELECT doc_id, CASE
      |   WHEN en + es + de + fr = 0 THEN 'und'
      |   WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |   WHEN es >= de AND es >= fr THEN 'es'
      |   WHEN de >= fr THEN 'de'
      |   ELSE 'fr' END AS lang_pred
      | FROM c""".stripMargin))

  /** Document fingerprinting (md5 + 64-bit of normalized text). */
  val qFingerprint = Fixture(
    "q_fingerprint",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"),
      TextFunctions.fingerprint64(col("text")).as("fp64")),
    Some(s"""SELECT doc_id,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
      |   ${h64("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS fp64
      | FROM documents""".stripMargin))

  // ---- dedup --------------------------------------------------------------

  val qDedupExact = Fixture(
    "q_dedup_exact",
    (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text"),
    Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |   min(doc_id) AS keeper_id, count(*) AS n_copies
      | FROM documents GROUP BY 1""".stripMargin))

  /** `documents`' (doc_id, text), the input of the doc-id-ordered dedup
    * streams.
    */
  private def docIdsAndText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id").cast("long").as("doc_id"), col("text"))

  /** Runs the MinHash dedup chain's query: its chained watermarked
    * stateful stages trip Spark's global-watermark heuristic, which is
    * sound here (see StreamingMinhashDedup's scaladoc).
    */
  private def withMinhashChain[T](s: SparkSession)(body: => T): T =
    graft.streaming.Streams.withConf(s,
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")(body)

  /** Streaming exact dedup under the batch oracle: the documents table is
    * replayed as four event-time-ordered micro-batches through
    * [[graft.streaming.StreamingDedup.firstSeen]] (watermark delay covers
    * the whole replay horizon, so no state evicts mid-run), and the kept
    * set's fingerprints must equal the batch distinct-fingerprint relation.
    * The driver-side collect feeds the REPLAY only (test-harness pattern,
    * same as StreamBench) — the operator under test shuffles by fingerprint
    * and holds one state row per distinct fp, exactly the ingest shape.
    * Output is the fp SET, not the winning doc ids: which copy wins inside
    * one micro-batch is parallelism-dependent; the kept set is not.
    */
  val qDedupStreamFirstSeen = Fixture(
    "q_dedup_stream_first_seen",
    (s, d) => Replay(s, Replay.parts(docIdsAndText(s, d), 4, "doc_id"),
        "stream_first_seen") { docs =>
      // +1s: the initial watermark is epoch 0, and a row AT the watermark is
      // already late — doc_id 0 at timestamp_micros(0) would be dropped
      val stream = docs.withColumn("ts", timestamp_micros(col("doc_id") + 1000000L))
      graft.streaming.StreamingDedup
        .firstSeen(stream, "text", "ts", "1 hour")
        .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
    },
    Some("""SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      | FROM documents""".stripMargin))

  /** Streaming NEAR-dup dedup under the batch oracle: the documents replay
    * in doc_id order through [[graft.streaming.StreamingMinhashDedup]]'s
    * PRODUCTION form — doc-id-only band buckets (capped), a doc-keyed
    * shingle store, exact-Jaccard verification in the arriving doc's own
    * micro-batch, and watermark-TTL eviction on every stage (the synthetic
    * event time is doc_id µs past epoch+1 s; the 1 h horizon covers the
    * whole replay, so nothing evicts mid-run and the kept set must equal
    * "documents minus the doc_b side of the exact pairwise τ = 0.8
    * relation" — the monotone first-seen contract, computed
    * pairwise-exactly by DuckDB). LSH recall at τ = 0.8 is 1−4e−8 per pair
    * (the same bound q_dedup_minhash_lsh banks on), so the sets coincide.
    */
  val qDedupStreamMinhash = Fixture(
    "q_dedup_stream_minhash",
    // 2 replay parts (not 4): the contract needs cross-batch state, a
    // mid-stream watermark advance, and timer eviction — all present at 2
    // triggers — while every extra trigger costs a fixed pass through FOUR
    // chained stateful stages
    (s, d) => withMinhashChain(s) {
      Replay(s, Replay.parts(docIdsAndText(s, d), 2, "doc_id"), "stream_minhash") { docs =>
        // +1s: the initial watermark is epoch 0, and a row AT the watermark
        // is already late (same convention as q_dedup_stream_first_seen)
        // spread the replay across cores BEFORE the signature projection: a
        // MemoryStream block is ONE partition, which would run the whole
        // 128-hash MinHash family single-threaded (a real source's scan
        // splits provide this parallelism for free)
        val stream = docs.repartition(16)
          .withColumn("ts", timestamp_micros(col("doc_id") + 1000000L))
        graft.streaming.StreamingMinhashDedup
          .firstSeen(s, stream, "doc_id", "text", n = 3, minJ = 0.8,
            tsCol = Some("ts"), horizon = "1 hour")
          .toDF("doc_id")
      }
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n, s FROM sh WHERE len(s) > 0),
      | e AS (SELECT doc_id, n, unnest(s) AS sg FROM f),
      | p AS (SELECT a.doc_id AS doc_a, a.n AS na, b.doc_id AS doc_b, b.n AS nb, count(*) AS inter
      |       FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2, 3, 4),
      | d AS (SELECT DISTINCT doc_b FROM
      |        (SELECT doc_b, ${q4("inter / (na + nb - inter)")} AS jac FROM p)
      |       WHERE jac >= 0.8)
      | SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM d)""".stripMargin))

  /** The SAME streaming near-dup pipeline replayed from a FILE SOURCE
    * ([[graft.streaming.FileReplay]]) instead of MemoryStream — the
    * landing-zone shape a production crawl actually has, and the replay
    * harness that scales: a MemoryStream is fed by the driver one block
    * at a time (single-threaded at any data size), while a file source
    * hands every micro-batch one scan split per file, so the 128-hash
    * signature computation parallelizes exactly as it would over a real
    * ingest directory. 32 staged files at 16 per trigger = the same
    * 2-ordered-chunk replay (cross-batch state, mid-stream watermark
    * advance) the MemoryStream fixture constructs driver-side. Oracle
    * unchanged: the feed mechanism must be invisible in the kept set.
    */
  val qDedupStreamMinhashFiles = Fixture(
    "q_dedup_stream_minhash_files",
    (s, d) => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_replay_minhash_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      graft.streaming.FileReplay.stageOrdered(
        docIdsAndText(s, d), dir, "doc_id", 32)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "16")
        .parquet(dir)
        .withColumn("ts", timestamp_micros(col("doc_id") + 1000000L))
      val kept = graft.streaming.StreamingMinhashDedup
        .firstSeen(s, stream, "doc_id", "text", n = 3, minJ = 0.8,
          tsCol = Some("ts"), horizon = "1 hour")
        .toDF("doc_id")
      withMinhashChain(s)(Replay.drain(s, kept, "stream_minhash_files", "append"))
    },
    qDedupStreamMinhash.oracle)

  /** Inverted-index exact n-gram Jaccard near-dup pairs (τ = 0.5). */
  val qDedupNgram = Fixture(
    "q_dedup_ngram_jaccard",
    (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5),
    Some(jaccardOracle("0.5")))

  /** Exact-substring duplication pairs ([[Dedup.substringPairs]], w = 8):
    * doc pairs sharing ≥ 1 run of 8 consecutive tokens, with shared-gram
    * counts and per-side duplicated fractions. Oracle replays the identical
    * distinct-8-gram inverted index in SQL (gram strings where Spark joins
    * their xxhash64s — a collision would perturb one count, P ≈ 2⁻⁶⁵·|sh|²,
    * the documented shingledHashed contract). maxDf stays at the default:
    * nothing in the fixture corpus is boilerplate-hot, so the cap is
    * exercised by SubstringDedupSpec's adversarial corpus instead.
    */
  val qDedupSubstring = Fixture(
    "q_dedup_substring",
    (s, d) => Dedup.substringPairs(Tables.documents(s, d), "doc_id", "text", 8),
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | g AS (SELECT doc_id, list_distinct(list_transform(
      |          generate_series(1, len(w) - 7),
      |          i -> array_to_string(w[i:i+7], ' '))) AS gs
      |       FROM w0 WHERE len(w) >= 8),
      | e AS (SELECT doc_id, len(gs) AS n, unnest(gs) AS s FROM g),
      | hot AS (SELECT s FROM e GROUP BY s HAVING count(*) > 1000),
      | cold AS (SELECT * FROM e WHERE s NOT IN (SELECT s FROM hot)),
      | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n AS na, b.n AS nb
      |       FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id)
      | SELECT doc_a, doc_b, count(*) AS n_shared,
      |   ${q4("count(*) / max(na)")} AS frac_a,
      |   ${q4("count(*) / max(nb)")} AS frac_b
      | FROM p GROUP BY 1, 2""".stripMargin))

  /** MinHash(128) + LSH(32×4) candidates, exact-Jaccard-verified (τ = 0.8).
    * Oracle is the full pairwise ground truth: LSH recall at τ=0.8 is
    * 1−(1−0.8⁴)³² ≈ 1−4e−8 per pair, so the outputs must coincide.
    */
  val qDedupMinhash = Fixture(
    "q_dedup_minhash_lsh",
    (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.8),
    Some(jaccardOracle("0.8")))

  /** The same near-dup components through O(diameter) MIN-LABEL propagation
    * ([[Dedup.clusters]]) — the small-graph variant kept alongside the
    * default logarithmic path of [[qDedupClusters]]. Min-label does fewer,
    * cheaper passes when components are tiny cliques (the common near-dup
    * shape), but a chain-shaped duplicate family (page-revision chains)
    * costs rounds equal to the chain length, so the composite fixtures
    * default to large-star/small-star. Identical output contract, so the
    * recursive-CTE oracle of [[qDedupClusters]] is reused verbatim;
    * LsssSpec pins the round-count separation on a path graph.
    */
  // lazy: reuses qDedupClusters.oracle, which is declared further down —
  // an eager val here would read null during object init
  lazy val qDedupClustersMinLabel = Fixture(
    "q_dedup_clusters_minlabel",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusters(docs, "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8))
    },
    qDedupClusters.oracle)

  /** Incremental near-dup against the PERSISTED MinHash band index
    * ([[Dedup.minhashWriteIndex]] / [[Dedup.minhashProbeIndex]]): the even
    * docs are the indexed lake, the odd docs the day's crawl; the probe
    * never re-scans the corpus — candidates come from the stored band
    * table (bucketed on bk, no index-side exchange) and verification joins
    * the stored shingle table. Oracle: exact cross-parity Jaccard pairs at
    * the same threshold — the near-dup analog of `q_dedup_incremental`'s
    * crawl-vs-lake posture, and recall 1 on this corpus like
    * `q_dedup_minhash_lsh`.
    */
  val qDedupIndexProbe = Fixture(
    "q_dedup_index_probe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tbl = "mh_idx_" + d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${sys.props("java.io.tmpdir")}/graft_mhidx/$tbl"
      Dedup.minhashWriteIndex(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, tbl, path, 8)
      Dedup.minhashProbeIndex(s, docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", 3, 0.8, tbl)
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n, s FROM sh WHERE len(s) > 0),
      | e AS (SELECT doc_id, n, unnest(s) AS sg FROM f),
      | p AS (SELECT a.doc_id AS corpus_id, a.n AS na,
      |         b.doc_id AS new_id, b.n AS nb, count(*) AS inter
      |       FROM e a JOIN e b ON a.sg = b.sg
      |         AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |       GROUP BY 1, 2, 3, 4)
      | SELECT new_id, corpus_id, jac FROM
      |   (SELECT new_id, corpus_id, ${q4("inter / (na + nb - inter)")} AS jac FROM p)
      | WHERE jac >= 0.8""".stripMargin))

  /** SimHash(60-bit) near-dup pairs, Hamming ≤ 3, chunk-banding (exact by
    * pigeonhole: 4 chunks × 15 bits). Oracle: all-pairs Hamming on
    * identically-computed SimHash.
    *
    * maxHam was 7 through round 2; measured at sf0.1 that made 32 % of ALL
    * doc pairs "near-dups" (4.04 M pairs from 5 000 docs) — a quadratic
    * output no plan shape can save, and narrow chunk keys saturate fast. At
    * maxHam 3 over the 60-bit fingerprint the 15-bit chunk keys hold to
    * |docs| ≈ 2¹⁵ per shuffle bucket and the output is near-linear.
    */
  val qDedupSimhash = Fixture(
    "q_dedup_simhash",
    (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 3)
      .select(col("doc_a"), col("doc_b"), col("ham").cast("long").as("ham")),
    Some {
      val bitSums = (0 until Dedup.SimhashBits)
        .map(b => s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(", ")
      val assemble = (0 until Dedup.SimhashBits)
        .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH wd AS (SELECT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents),
        | h AS (SELECT doc_id, ${h64("w")} AS hv FROM wd),
        | s AS (SELECT doc_id, $bitSums FROM h GROUP BY 1),
        | sh AS (SELECT doc_id, ($assemble)::BIGINT AS sim FROM s)
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   bit_count(xor(a.sim, b.sim))::BIGINT AS ham
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
    })

  /** Near-dup clustering: connected components over the τ=0.8 Jaccard pairs;
    * every doc labeled with its component's minimum doc id (canonical
    * keeper). DEFAULTS to the logarithmic-round large-star/small-star
    * contraction ([[Dedup.clustersLsss]], Kiveris et al. SoCC 2014) — the
    * composition a user should copy at 100 TB, where min-label's
    * O(diameter) rounds lose on chain-shaped duplicate families; the
    * min-label variant is covered by [[qDedupClustersMinLabel]].
    * Oracle: recursive-CTE transitive closure.
    */
  val qDedupClusters = Fixture(
    "q_dedup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clustersLsss(docs, "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8))
    },
    Some(s"""WITH RECURSIVE
      | w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n, s FROM sh WHERE len(s) > 0),
      | ex AS (SELECT doc_id, n, unnest(s) AS sg FROM f),
      | pr AS (SELECT a.doc_id AS doc_a, a.n AS na, b.doc_id AS doc_b, b.n AS nb, count(*) AS inter
      |        FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
      | p AS (SELECT doc_a, doc_b FROM
      |         (SELECT doc_a, doc_b, ${q4("inter / (na + nb - inter)")} AS jac FROM pr)
      |       WHERE jac >= 0.8),
      | e(a, b) AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
      | reach(a, b) AS (SELECT a, b FROM e
      |   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      | lab AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(reach.b), d.doc_id)) AS cluster
      |         FROM documents d LEFT JOIN reach ON reach.a = d.doc_id GROUP BY d.doc_id)
      | SELECT doc_id, cluster FROM lab""".stripMargin))

  /** The dedup pipeline's END PRODUCT: one keeper per near-dup cluster,
    * chosen by quality (ties to the smaller doc_id), with the member count —
    * what actually ships to training after near-dup detection. Composition
    * of [[Dedup.clustersLsss]] (the log-round scale path) over the
    * MinHash+LSH pairs with a quality argmax: the argmax is
    * `max(struct(quality, −doc_id))` inside the per-cluster
    * aggregate — fieldwise struct ordering, no per-cluster sort, map-side
    * partials. Oracle: the recursive-CTE closure of [[qDedupClusters]]
    * extended with a (quality DESC, doc_id) row_number.
    */
  val qDedupKeepers = Fixture(
    "q_dedup_keepers",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.clustersLsss(docs, "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8))
      val scored = docs.select(col("doc_id"),
        Quant.q4(TextFunctions.qualityScore(col("text"))).as("q"))
      clusters.join(scored, "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("cluster"), (-col("best.nid")).as("keeper_id"),
          col("n_members"), col("best.q").as("best_q"))
    },
    Some(s"""WITH RECURSIVE
      | w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n, s FROM sh WHERE len(s) > 0),
      | ex AS (SELECT doc_id, n, unnest(s) AS sg FROM f),
      | pr AS (SELECT a.doc_id AS doc_a, a.n AS na, b.doc_id AS doc_b, b.n AS nb, count(*) AS inter
      |        FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
      | p AS (SELECT doc_a, doc_b FROM
      |         (SELECT doc_a, doc_b, ${q4("inter / (na + nb - inter)")} AS jac FROM pr)
      |       WHERE jac >= 0.8),
      | e(a, b) AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
      | reach(a, b) AS (SELECT a, b FROM e
      |   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      | lab AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(reach.b), d.doc_id)) AS cluster
      |         FROM documents d LEFT JOIN reach ON reach.a = d.doc_id GROUP BY d.doc_id),
      | q0 AS (SELECT doc_id,
      |   len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop
      | FROM documents),
      | qs AS (SELECT doc_id,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS q
      | FROM q0),
      | m AS (SELECT lab.cluster, lab.doc_id, qs.q,
      |   row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn,
      |   count(*) OVER (PARTITION BY cluster) AS n_members
      | FROM lab JOIN qs USING (doc_id))
      | SELECT cluster, doc_id AS keeper_id, n_members, q AS best_q
      | FROM m WHERE rn = 1""".stripMargin))

  /** Paragraph-level exact dedup ([[Dedup.dedupParagraphs]], the
    * RefinedWeb/Dolma sub-document granularity): boilerplate repeats across
    * otherwise-distinct pages, so whole-document fingerprints never see it.
    * Paragraphs here are 10-word windows (the synthetic corpus has no
    * newline structure — same derivation convention as `q_chunk_docs`);
    * the corpus-wide first occurrence of each paragraph survives, later
    * copies are dropped, and each document is reassembled from its
    * surviving paragraphs in original order (151 drops at sf0.01). Oracle
    * mirrors the keep/reassemble contract with a row_number over the
    * paragraph partition and an ordered FILTERed string_agg.
    */
  val qDedupParagraph = Fixture(
    "q_dedup_paragraph",
    (s, d) => {
      val paras = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
        .withColumn("n_tok", size(col("w")).cast("long"))
        .withColumn("pos", explode(sequence(lit(0L), expr("(n_tok + 9) div 10 - 1"))))
        .select(col("doc_id"), col("pos"),
          array_join(slice(col("w"), (col("pos") * 10L + 1L).cast("int"), lit(10)),
            " ").as("para"))
      Dedup.dedupParagraphs(paras, "doc_id", "pos", "para")
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | n AS (SELECT doc_id, w, len(w)::BIGINT AS n_tok FROM w0),
      | p AS (SELECT doc_id, w,
      |         unnest(generate_series(0, (n_tok + 9) // 10 - 1)) AS pos FROM n),
      | t AS (SELECT doc_id, pos,
      |         array_to_string(w[(pos*10+1):(pos*10+10)], ' ') AS para FROM p),
      | r AS (SELECT doc_id, pos, para,
      |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      |       FROM t)
      | SELECT doc_id,
      |   coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
      |     AS text_deduped,
      |   count(*) FILTER (WHERE rn = 1) AS n_kept,
      |   count(*) FILTER (WHERE rn > 1) AS n_dropped
      | FROM r GROUP BY doc_id""".stripMargin))

  /** Embedding-cosine near-dup pairs within a coarse partition (label). */
  val qDedupEmbed = Fixture(
    "q_dedup_embed_cosine",
    (s, d) => Ann.nearDupPairs(Tables.embeddings(s, d), "label", 0.4),
    Some(s"""WITH e AS (SELECT vec_id, label,
      |     list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      | p AS (SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
      |         ${dotSql("a.v", "b.v")} AS ab,
      |         ${dotSql("a.v", "a.v")} AS aa,
      |         ${dotSql("b.v", "b.v")} AS bb
      |       FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      | SELECT vid_a, vid_b, cos FROM
      |   (SELECT vid_a, vid_b, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p)
      | WHERE cos >= 0.4""".stripMargin))

  /** STREAMING embedding near-dup dedup
    * (streaming/StreamingEmbedDedup.scala): the embeddings replay in vec_id
    * order through label-keyed `transformWithState`; an arrival is dropped
    * iff quantized cosine ≥ 0.4 against ANY previously-seen vector of its
    * label — by construction the kept set is exactly "vectors that are no
    * pair's later side" of the batch q_dedup_embed_cosine relation, which
    * is what the oracle computes (see the module scaladoc for why
    * seen-not-kept semantics is the curation-correct AND oracle-exact
    * choice; EmbedDedupStreamSpec pins the chain case).
    */
  val qDedupStreamEmbed = Fixture(
    "q_dedup_stream_embed",
    (s, d) => Replay(s, Replay.parts(Tables.embeddings(s, d)
        .select(col("label").cast("long").as("cell"),
          col("vec_id").cast("long").as("vec_id"), col("embedding").as("vec")),
        4, "vec_id"), "stream_embed_dedup") { stream =>
      graft.streaming.StreamingEmbedDedup.firstSeen(stream, 0.4)
        .select(col("vec_id"), col("cell").as("label"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label,
      |     list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      | p AS (SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
      |         ${dotSql("a.v", "b.v")} AS ab,
      |         ${dotSql("a.v", "a.v")} AS aa,
      |         ${dotSql("b.v", "b.v")} AS bb
      |       FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      | dup AS (SELECT vid_b FROM
      |     (SELECT vid_b, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p)
      |   WHERE cos >= 0.4)
      | SELECT vec_id, label::BIGINT AS label FROM embeddings
      | WHERE vec_id NOT IN (SELECT vid_b FROM dup)""".stripMargin))

  /** Two-stage RP-sketch ANN (Ann.rpRerankTopK): candidates from the 16-dim
    * JL sketch (top-24 by quantized sketch cosine), exact rerank on full
    * vectors. The oracle mirrors BOTH stages — sketch derivation, candidate
    * ranking with the (score desc, id asc) TopKAgg tie-break, exact
    * rerank — so the composite's recall is pinned exactly, not bounded.
    */
  val qAnnRpRerank = Fixture(
    "q_ann_rp_rerank",
    (s, d) => Ann.rpRerankTopK(Tables.embeddings(s, d), col("vec_id") < 10,
        k = 5, kCand = 24, dIn = 64, dOut = 16)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank")),
    Some {
      val skComp =
        """0.25 * list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
          |     i -> v[i] * (CASE WHEN ('0x' || substr(md5('rp#' || (i-1) || '#' || j), 1, 15))::BIGINT % 2 = 0
          |                  THEN 1.0 ELSE -1.0 END))), (a, x) -> a + x)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |        FROM embeddings),
        | sk AS (SELECT vec_id, list_transform(generate_series(0, 15), j -> $skComp) AS s
        |        FROM e),
        | q AS (SELECT e.vec_id AS query_id, e.v AS qv, sk.s AS qs
        |       FROM e JOIN sk USING (vec_id) WHERE e.vec_id < 10),
        | c1 AS (SELECT query_id, n.vec_id AS neighbor_id,
        |          ${q4(s"${dotSql("qs", "n.s")} / (sqrt(${dotSql("qs", "qs")}) * sqrt(${dotSql("n.s", "n.s")}))")} AS scos
        |        FROM sk n CROSS JOIN q WHERE n.vec_id <> query_id),
        | r1 AS (SELECT query_id, neighbor_id FROM (
        |          SELECT query_id, neighbor_id,
        |            row_number() OVER (PARTITION BY query_id
        |              ORDER BY scos DESC, neighbor_id) AS rn
        |          FROM c1) WHERE rn <= 24),
        | c2 AS (SELECT query_id, neighbor_id,
        |          ${q4(s"${dotSql("qv", "nv.v")} / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("nv.v", "nv.v")}))")} AS cos
        |        FROM r1 JOIN q USING (query_id)
        |             JOIN e nv ON nv.vec_id = r1.neighbor_id)
        | SELECT query_id, neighbor_id, cos, rank FROM (
        |   SELECT query_id, neighbor_id, cos,
        |     row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos DESC, neighbor_id) AS rank
        |   FROM c2) WHERE rank <= 5""".stripMargin
    })

  // ---- similarity search --------------------------------------------------

  /** Nearest-centroid assignment (k-means E-step / IVF coarse quantizer):
    * 8 corpus vectors (vec_id < 8) serve as centroids; every vector assigns
    * to its max-cosine centroid, ties to the smaller cid. One shuffle-free
    * projection over the corpus — see [[Ann.assignCentroids]].
    */
  val qAssignCentroids = Fixture(
    "q_assign_centroids",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.assignCentroids(emb, emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | p AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c),
      | s AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT vec_id, cid, cos,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |       FROM s)
      | SELECT vec_id, cid AS centroid_id, cos FROM r WHERE rn = 1""".stripMargin))

  /** SemDeDup over the embedding corpus ([[Ann.semDedup]]): cluster-blocked
    * semantic dedup — assign to the nearest of 8 seed centroids (the same
    * deterministic seeds as [[qAssignCentroids]]), drop any vector with
    * quantized cosine ≥ 0.4 to a lower-id vector of its cluster. The oracle
    * replays assignment (cos DESC, cid ASC argmax) and the closed-form
    * "some pair's later side" drop rule; `kept` is compared for EVERY
    * vector, so both the blocking and the pair threshold are pinned.
    */
  val qSemDedup = Fixture(
    "q_semdedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.semDedup(emb, emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")), 0.4)
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | p AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |         ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |       FROM e CROSS JOIN c),
      | s AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |         ORDER BY cos DESC, cid) AS rn FROM s),
      | asn AS (SELECT vec_id, cid FROM r WHERE rn = 1),
      | pr AS (SELECT y.vec_id AS vb, ${dotSql("ex.v", "ey.v")} AS ab,
      |          ${dotSql("ex.v", "ex.v")} AS aa, ${dotSql("ey.v", "ey.v")} AS bb
      |        FROM asn x JOIN asn y ON x.cid = y.cid AND x.vec_id < y.vec_id
      |        JOIN e ex ON ex.vec_id = x.vec_id
      |        JOIN e ey ON ey.vec_id = y.vec_id),
      | drp AS (SELECT DISTINCT vb FROM
      |          (SELECT vb, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS pcos FROM pr)
      |        WHERE pcos >= 0.4)
      | SELECT a.vec_id, a.cid AS centroid_id, (d.vb IS NULL) AS kept
      | FROM asn a LEFT JOIN drp d ON d.vb = a.vec_id""".stripMargin))

  /** Brute-force cosine top-k (k=5) for query vectors vec_id < 10. */
  val qAnnBrute = Fixture(
    "q_ann_brute_topk",
    (s, d) => Ann.bruteTopK(Tables.embeddings(s, d), col("vec_id") < 10, 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank")),
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      | p AS (SELECT query_id, e.vec_id AS neighbor_id,
      |         ${dotSql("qv", "e.v")} AS ab, ${dotSql("qv", "qv")} AS aa, ${dotSql("e.v", "e.v")} AS bb
      |       FROM q JOIN e ON e.vec_id <> q.query_id),
      | c AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM c)
      | SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5""".stripMargin))

  /** Bucketed (IVF-style sign-bit cells) top-k — the scale path. */
  val qAnnBucketed = Fixture(
    "q_ann_lsh_bucketed",
    (s, d) => Ann.bucketedTopK(Tables.embeddings(s, d), col("vec_id") < 50, 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank")),
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
      |     ${foldSum("list_transform(generate_series(0, 7), i -> CASE WHEN embedding[i + 1] > 0 THEN 2.0 ** i ELSE 0.0 END)")}::BIGINT AS bucket
      |   FROM embeddings),
      | q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 50),
      | p AS (SELECT query_id, e.vec_id AS neighbor_id,
      |         ${dotSql("qv", "e.v")} AS ab, ${dotSql("qv", "qv")} AS aa, ${dotSql("e.v", "e.v")} AS bb
      |       FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      | c AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM c)
      | SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3""".stripMargin))

  /** IVF top-k: 8 corpus vectors (vec_id < 8) as trained cells, queries
    * (vec_id < 30) probe their 2 nearest cells, exact top-5 within probed
    * cells — see [[Ann.ivfTopK]]. The oracle mirrors BOTH rankings (corpus
    * cell assignment and query probe) from one quantized-cosine relation,
    * so the probed candidate sets are engine-identical by construction.
    */
  val qAnnIvf = Fixture(
    "q_ann_ivf_probe",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfTopK(emb,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        col("vec_id") < 30, 5, 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
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
      | sr AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pr),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM sr)
      | SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5""".stripMargin))

  /** Train → index → search end-to-end under one oracle: [[Ann.kmeans]]
    * fits 8 centroids (one Lloyd round, the q_kmeans_converged recipe),
    * [[Ann.ivfTopK]] then builds the inverted file from the FITTED model
    * and answers top-3 probes. The DuckDB side unrolls the identical
    * training round (CTEs c0…c1 match q_kmeans_converged's) and re-ranks
    * cells/candidates from the fitted centroids — pinning that the model
    * handed from the trainer to the index is bit-identical in both engines,
    * not just each stage separately.
    */
  val qAnnIvfTrained = Fixture(
    "q_ann_ivf_trained",
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d)
      Ann.ivfTopK(emb, Ann.kmeans(emb, k = 8, maxIters = 1).centroidsDf(s),
        col("vec_id") < 20, 3, 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
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
      | pc AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |          ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |        FROM e CROSS JOIN c1 c),
      | sc AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pc),
      | cr AS (SELECT vec_id, cid,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |        FROM sc),
      | cell AS (SELECT vec_id, cid AS cell FROM cr WHERE rn = 1),
      | probe AS (SELECT vec_id AS query_id, cid AS cell FROM cr
      |           WHERE rn <= 2 AND vec_id < 20),
      | cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |          FROM probe p JOIN cell a ON a.cell = p.cell AND a.vec_id <> p.query_id),
      | pr AS (SELECT query_id, neighbor_id,
      |          ${dotSql("eq.v", "en.v")} AS ab, ${dotSql("eq.v", "eq.v")} AS aa,
      |          ${dotSql("en.v", "en.v")} AS bb
      |        FROM cand JOIN e eq ON eq.vec_id = cand.query_id
      |                  JOIN e en ON en.vec_id = cand.neighbor_id),
      | sr AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pr),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM sr)
      | SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3""".stripMargin))

  /** The IVF index AT REST ([[Ann.ivfWriteIndex]] → [[Ann.ivfSearchPersisted]]):
    * same centroids / queries / k / nprobe as [[qAnnIvf]], but the inverted
    * file is WRITTEN bucketed-by-cell and the search runs against the
    * persisted table, scanning only the probed buckets (the served-index
    * 100 TB shape — ivfTopK's per-search cell shuffle paid once at ingest).
    * Same oracle as q_ann_ivf_probe: persistence must be a pure layout
    * change, invisible in results. AnnPersistSpec pins the scan-side bucket
    * pruning (SelectedBucketsCount == probed cells).
    */
  val qAnnIvfPersisted = Fixture(
    "q_ann_ivf_persisted",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_ivf_$h").getAbsolutePath
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      FixtureOnce(s"graft_ivf_idx_$h") {
        Ann.ivfWriteIndex(emb, cents, s"graft_ivf_idx_$h", s"$base/idx", 8)
      }
      Ann.ivfSearchPersisted(s, s"graft_ivf_idx_$h", cents,
          emb.where(col("vec_id") < 30)
            .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          5, 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    },
    qAnnIvf.oracle)

  /** STREAMING ingest into the persisted IVF index
    * ([[graft.streaming.StreamingIndexIngest]]): the index is built on the
    * even half of the corpus in the `ingest_batch`-partitioned layout,
    * the odd half arrives as a 2-chunk stream whose micro-batches land as
    * partitions batchId 0/1 under dynamic partition overwrite, and then
    * the LAST batch is re-applied with the same batchId — the crash-replay
    * window. Search must equal the one-shot full-corpus IVF oracle
    * exactly: a double-append would surface duplicate candidates and
    * hash-mismatch, so the gate itself certifies replay idempotence, and
    * "indexes at rest" composes with "indexes kept fresh while the crawl
    * runs".
    */
  val qStreamIvfIngest = Fixture(
    "q_stream_ivf_ingest",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val tbl = s"graft_ivf_ing_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ivf_ing/$h/$run"
      Ann.ivfWriteIndexIngestable(emb.where(col("vec_id") % 2 === 0), cents,
        tbl, s"$dir/idx", 8)
      val chunks = Replay.parts(emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding")), 2, "vec_id")
      Replay.start(s, chunks) {
        graft.streaming.StreamingIndexIngest.startIvf(_, cents, tbl, s"$dir/cp")
      }
      // crash-replay of the last micro-batch: same batchId, same rows —
      // the partition overwrite must leave the index bit-identical
      graft.streaming.StreamingIndexIngest.applyIvfBatch(
        chunks.lastTrigger(s), cents, tbl, chunks.triggers.length - 1L)
      Ann.ivfSearchPersisted(s, tbl, cents,
          emb.where(col("vec_id") < 30)
            .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          5, 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    },
    qAnnIvf.oracle)

  /** Product-quantization ADC search ([[graft.similarity.Pq]], Jégou et al.
    * TPAMI 2011): m=4 subspaces × ksub=8 codes trained with one Lloyd round
    * (deterministic init from the 8 smallest vec_ids' subvectors), corpus
    * encoded to 4 codes/vector (a 64× compression of the 64-float column —
    * the memory-side scale path the IVF fixtures leave open), then top-5
    * ADC for 10 queries: score = ordered sum over subspaces of
    * dot(query_sub, codebook[code]). The oracle replays the ENTIRE path in
    * SQL — subvector split, per-subspace k-means (one relational pass
    * grouped by subspace), re-encode, ADC parts summed in subspace order —
    * so agreement pins init, assignment tie-breaks, the quantized-mean
    * M-step, and the fold discipline end-to-end. All floating folds are
    * 0.0-seeded ascending on both engines; assignment distances and final
    * scores are q4-quantized before any argmin/rank.
    */
  val qAnnPqAdc = Fixture(
    "q_ann_pq_adc",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.similarity.Pq.train(emb, m = 4, ksub = 8, iters = 1)
      graft.similarity.Pq.searchAdc(emb, model, col("vec_id") < 10, k = 5)
    },
    Some {
      def l2(a: String, b: String) = foldSum(
        s"list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | ss AS (SELECT unnest(generate_series(0, 3)) AS sub),
      | sv AS (SELECT vec_id, sub, v[sub*16+1 : sub*16+16] AS sv
      |        FROM e CROSS JOIN ss),
      | c0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 8),
      | d1 AS (SELECT a.vec_id, a.sub, c.cid, ${q4(l2("a.sv", "c.cv"))} AS dist
      |        FROM sv a JOIN c0 c ON c.sub = a.sub),
      | r1 AS (SELECT vec_id, sub, cid, row_number() OVER
      |          (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d1),
      | a1 AS (SELECT vec_id, sub, cid FROM r1 WHERE rn = 1),
      | q1 AS (SELECT a1.sub, a1.cid,
      |          list_transform(s.sv, x -> floor(x * 10000 + 0.5)) AS qv
      |        FROM a1 JOIN sv s ON s.vec_id = a1.vec_id AND s.sub = a1.sub),
      | x1 AS (SELECT sub, cid, u.dim AS dim, u.val AS val FROM
      |        (SELECT sub, cid, unnest(list_transform(generate_series(1, len(qv)),
      |           i -> {'dim': i, 'val': qv[i]})) AS u FROM q1)),
      | m1 AS (SELECT sub, cid, dim, ${q4("sum(val) / count(*) / 10000")} AS coord
      |        FROM x1 GROUP BY 1, 2, 3),
      | cm AS (SELECT sub, cid, list(coord ORDER BY dim) AS cv FROM m1 GROUP BY 1, 2),
      | c1 AS (SELECT c0.sub, c0.cid, coalesce(cm.cv, c0.cv) AS cv
      |        FROM c0 LEFT JOIN cm ON cm.sub = c0.sub AND cm.cid = c0.cid),
      | d2 AS (SELECT a.vec_id, a.sub, c.cid, ${q4(l2("a.sv", "c.cv"))} AS dist
      |        FROM sv a JOIN c1 c ON c.sub = a.sub),
      | r2 AS (SELECT vec_id, sub, cid, row_number() OVER
      |          (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d2),
      | enc AS (SELECT vec_id, sub, cid FROM r2 WHERE rn = 1),
      | part AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.sub,
      |            ${dotSql("q.sv", "c.cv")} AS p
      |          FROM enc n JOIN c1 c ON c.sub = n.sub AND c.cid = n.cid
      |               JOIN sv q ON q.sub = n.sub AND q.vec_id <> n.vec_id
      |          WHERE q.vec_id < 10),
      | sc AS (SELECT query_id, neighbor_id,
      |          ${q4("list_reduce(list_prepend(0.0, list(p ORDER BY sub)), (a, x) -> a + x)")} AS score
      |        FROM part GROUP BY 1, 2),
      | rk AS (SELECT query_id, neighbor_id, score, row_number() OVER
      |          (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |        FROM sc)
      | SELECT query_id, neighbor_id, score, rank FROM rk WHERE rank <= 5""".stripMargin
    })

  /** IVF-PQ composed ([[Ann.ivfPqTopK]]): coarse cells bound WHICH vectors
    * a query touches (nprobe=2 of 8 cosine cells, the q_ann_ivf_probe
    * contract), PQ codes bound WHAT is read per touched vector (the
    * q_ann_pq_adc codebook; ADC scoring, float corpus never read at search
    * time) — the billion-vector layout both halves exist for. The oracle
    * chains both proven CTE blocks and scores only in-probe candidates, so
    * agreement pins the COMPOSITION: one corpus pass computing cell+codes
    * together, candidate sets from the probe ranking, ADC fold order.
    */
  val qAnnIvfPq = Fixture(
    "q_ann_ivf_pq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.similarity.Pq.train(emb, m = 4, ksub = 8, iters = 1)
      Ann.ivfPqTopK(emb,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        model, col("vec_id") < 10, k = 5, nprobe = 2)
    },
    Some {
      def l2(a: String, b: String) = foldSum(
        s"list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings),
      | cc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      | cp AS (SELECT e.vec_id, c.cid, ${dotSql("e.v", "c.cv")} AS ab,
      |          ${dotSql("e.v", "e.v")} AS aa, ${dotSql("c.cv", "c.cv")} AS bb
      |        FROM e CROSS JOIN cc c),
      | cs AS (SELECT vec_id, cid, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM cp),
      | crk AS (SELECT vec_id, cid, row_number() OVER
      |           (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM cs),
      | cell AS (SELECT vec_id, cid AS cell FROM crk WHERE rn = 1),
      | probe AS (SELECT vec_id AS query_id, cid AS cell FROM crk
      |           WHERE rn <= 2 AND vec_id < 10),
      | ss AS (SELECT unnest(generate_series(0, 3)) AS sub),
      | sv AS (SELECT vec_id, sub, v[sub*16+1 : sub*16+16] AS sv
      |        FROM e CROSS JOIN ss),
      | c0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 8),
      | d1 AS (SELECT a.vec_id, a.sub, c.cid, ${q4(l2("a.sv", "c.cv"))} AS dist
      |        FROM sv a JOIN c0 c ON c.sub = a.sub),
      | r1 AS (SELECT vec_id, sub, cid, row_number() OVER
      |          (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d1),
      | a1 AS (SELECT vec_id, sub, cid FROM r1 WHERE rn = 1),
      | q1 AS (SELECT a1.sub, a1.cid,
      |          list_transform(s.sv, x -> floor(x * 10000 + 0.5)) AS qv
      |        FROM a1 JOIN sv s ON s.vec_id = a1.vec_id AND s.sub = a1.sub),
      | x1 AS (SELECT sub, cid, u.dim AS dim, u.val AS val FROM
      |        (SELECT sub, cid, unnest(list_transform(generate_series(1, len(qv)),
      |           i -> {'dim': i, 'val': qv[i]})) AS u FROM q1)),
      | m1 AS (SELECT sub, cid, dim, ${q4("sum(val) / count(*) / 10000")} AS coord
      |        FROM x1 GROUP BY 1, 2, 3),
      | cm AS (SELECT sub, cid, list(coord ORDER BY dim) AS cv FROM m1 GROUP BY 1, 2),
      | c1 AS (SELECT c0.sub, c0.cid, coalesce(cm.cv, c0.cv) AS cv
      |        FROM c0 LEFT JOIN cm ON cm.sub = c0.sub AND cm.cid = c0.cid),
      | d2 AS (SELECT a.vec_id, a.sub, c.cid, ${q4(l2("a.sv", "c.cv"))} AS dist
      |        FROM sv a JOIN c1 c ON c.sub = a.sub),
      | r2 AS (SELECT vec_id, sub, cid, row_number() OVER
      |          (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d2),
      | enc AS (SELECT vec_id, sub, cid FROM r2 WHERE rn = 1),
      | cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |          FROM probe p JOIN cell a ON a.cell = p.cell AND a.vec_id <> p.query_id),
      | part AS (SELECT cand.query_id, cand.neighbor_id, n.sub,
      |            ${dotSql("q.sv", "c.cv")} AS p
      |          FROM cand JOIN enc n ON n.vec_id = cand.neighbor_id
      |               JOIN c1 c ON c.sub = n.sub AND c.cid = n.cid
      |               JOIN sv q ON q.vec_id = cand.query_id AND q.sub = n.sub),
      | sc2 AS (SELECT query_id, neighbor_id,
      |          ${q4("list_reduce(list_prepend(0.0, list(p ORDER BY sub)), (a, x) -> a + x)")} AS score
      |        FROM part GROUP BY 1, 2),
      | rk AS (SELECT query_id, neighbor_id, score, row_number() OVER
      |          (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |        FROM sc2)
      | SELECT query_id, neighbor_id, score, rank FROM rk WHERE rank <= 5""".stripMargin
    })

  /** The IVF-PQ index AT REST ([[Ann.ivfPqWriteIndex]] →
    * [[Ann.ivfPqSearchPersisted]]): same centroids / codebook / queries /
    * k / nprobe as [[qAnnIvfPq]], but (cell, vec_id, codes) is WRITTEN
    * bucketed-by-cell and the search runs against the persisted table —
    * probed buckets only, codes only, the float corpus never read after
    * ingest (the full 100 TB serving shape; q_ann_ivf_persisted stops at
    * floats-at-rest). Same oracle as q_ann_ivf_pq: persistence must be a
    * pure layout change, invisible in results. AnnPersistSpec pins the
    * bucket pruning and the codes-only read schema.
    */
  val qAnnIvfPqPersisted = Fixture(
    "q_ann_ivf_pq_persisted",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_ivfpq_$h").getAbsolutePath
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val model = graft.similarity.Pq.train(emb, m = 4, ksub = 8, iters = 1)
      FixtureOnce(s"graft_ivfpq_idx_$h") {
        Ann.ivfPqWriteIndex(emb, cents, model, s"graft_ivfpq_idx_$h", s"$base/idx", 8)
      }
      Ann.ivfPqSearchPersisted(s, s"graft_ivfpq_idx_$h", cents, model,
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        k = 5, nprobe = 2)
    },
    qAnnIvfPq.oracle)

  /** STREAMING ingest into the persisted IVF-PQ codes index — the
    * [[qStreamIvfIngest]] protocol on the FIFTH persisted index family
    * (coarse cells + PQ codes, the billion-vector layout): the even half
    * is built ingestable ([[Ann.ivfPqWriteIndexIngestable]]), the odd
    * half streams in 2 micro-batches — each trigger assigns cells AND
    * encodes codes under the index's own models in one pass — and the
    * last batch is crash-replayed. The search (codes-only scan, float
    * corpus never read) must equal the one-shot full-corpus oracle: a
    * double-append would duplicate ADC candidates and shift ranks.
    */
  val qStreamIvfPqIngest = Fixture(
    "q_stream_ivf_pq_ingest",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val model = graft.similarity.Pq.train(emb, m = 4, ksub = 8, iters = 1)
      val tbl = s"graft_ivfpq_ing_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_ing/$h/$run"
      Ann.ivfPqWriteIndexIngestable(emb.where(col("vec_id") % 2 === 0),
        cents, model, tbl, s"$dir/idx", 8)
      val chunks = Replay.parts(emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding")), 2, "vec_id")
      Replay.start(s, chunks) {
        graft.streaming.StreamingIndexIngest.startIvfPq(_, cents, model, tbl, s"$dir/cp")
      }
      // crash-replay of the last micro-batch: partition overwrite, exact
      graft.streaming.StreamingIndexIngest.applyIvfPqBatch(
        chunks.lastTrigger(s), cents, model, tbl, chunks.triggers.length - 1L)
      Ann.ivfPqSearchPersisted(s, tbl, cents, model,
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        k = 5, nprobe = 2)
    },
    qAnnIvfPq.oracle)

  /** Streaming ANN serving over the PERSISTED CODES index
    * ([[Ann.ivfPqSearchStreamCandidates]]) — [[qStreamAnnProbe]]'s shape
    * with IVF-PQ economics: arriving queries probe 2 cells and
    * stream-static join the (cell, vec_id, codes) table, ADC-scored, then
    * a windowed argmax emits each query's top-1 neighbor. The static side
    * a trigger reads is codes-only (m bytes per candidate at rest) — the
    * float corpus is never opened while serving. Oracle = the chained
    * IVF-PQ relation at rank 1 + the standard emission-window arithmetic:
    * the serving stream must return exactly what the batch composition
    * would.
    */
  val qStreamAnnPqProbe = Fixture(
    "q_stream_ann_pq_probe",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val model = graft.similarity.Pq.train(emb, m = 4, ksub = 8, iters = 1)
      val tbl = s"graft_ivfpq_stream_$h"
      FixtureOnce(tbl) {
        Ann.ivfPqWriteIndex(emb, cents, model, tbl,
          s"${sys.props("java.io.tmpdir")}/graft_ivfpq_stream/$h", 8)
      }
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("qv"))
      Replay(s, Replay.parts(queries, 2, "query_id"), s"stream_annpq_$h") { q =>
        val qdf = q.withColumn("ts", timestamp_seconds(col("query_id") * 7))
        Ann.ivfPqSearchStreamCandidates(s, tbl, cents, model, qdf, 2)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"), col("query_id"))
          .agg(max(struct(col("score"), (-col("neighbor_id")).as("nn"))).as("b"))
          .select(unix_timestamp(col("window.start")).as("ws"), col("query_id"),
            (-col("b.nn")).as("neighbor_id"), col("b.score").as("score"))
      }
    },
    qAnnIvfPq.oracle.map { o =>
      val tail = "SELECT query_id, neighbor_id, score, rank FROM rk WHERE rank <= 5"
      require(o.endsWith(tail),
        "q_ann_ivf_pq oracle tail changed; update q_stream_ann_pq_probe")
      o.dropRight(tail.length) +
        """SELECT (query_id * 7 // 60) * 60 AS ws, query_id, neighbor_id, score
          | FROM rk WHERE rank = 1
          |   AND (query_id * 7 // 60) * 60 + 60 <=
          |       (SELECT max(vec_id * 7) FROM e WHERE vec_id < 10)""".stripMargin
    })

  /** PII-style scrubbing: redact digit runs and email-shaped tokens —
    * pure regexp_replace, linear, no shuffle.
    */
  val qRedact = Fixture(
    "q_redact_pii",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      regexp_replace(
        regexp_replace(col("props"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]+", "<NUM>").as("props_clean")),
    Some("""SELECT event_id,
      |   regexp_replace(
      |     regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |     '[0-9]+', '<NUM>', 'g') AS props_clean
      | FROM events""".stripMargin))

  /** Deterministic hash sampling (reproducible corpus subsetting): keep docs
    * whose content-independent id hash lands in a 10% bucket.
    */
  val qSampleHash = Fixture(
    "q_sample_hash",
    (s, d) => Tables.documents(s, d)
      .where(pmod(TextFunctions.hash64(col("doc_id").cast("string")), lit(100)) < 10)
      .select("doc_id", "lang", "n_chars"),
    Some(s"""SELECT doc_id, lang, n_chars FROM documents
      | WHERE ${h64("doc_id::VARCHAR")} % 100 < 10""".stripMargin))

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis, IPL 2006,
    * the A-ES scheme): each doc draws the deterministic uniform
    * u = (hash(id) mod 10⁶ + 0.5)/10⁶ and the selection key ln(u)/w with
    * weight w = n_chars — the k LARGEST keys are a size-k sample where
    * inclusion odds scale with w. This is how a quality-/length-weighted
    * training subsample is drawn reproducibly: one scan computes keys,
    * a distributed top-k (TakeOrdered — no full sort, no shuffle of the
    * corpus, exactly the q_topk pattern) selects, and the same 200 docs
    * come back on every run and every engine. Key scaled ×10⁶ before the
    * q4 quantization so 4 decimals still separate neighbors; ties (quantized
    * equal keys) break by doc_id on both sides.
    */
  val qSampleWeighted = Fixture(
    "q_sample_weighted",
    (s, d) => {
      val u = (pmod(TextFunctions.hash64(col("doc_id").cast("string")),
        lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
      val skey = Quant.q4(log(u) * lit(1000000.0) / col("n_chars"))
      Tables.documents(s, d)
        .where(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), skey.as("skey"))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(200)
    },
    Some(s"""SELECT doc_id, lang, n_chars,
      |   ${q4(s"ln(((${h64("doc_id::VARCHAR")} % 1000000) + 0.5) / 1000000.0) * 1000000.0 / n_chars")} AS skey
      | FROM documents WHERE n_chars > 0
      | ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin))

  /** STRATIFIED weighted sampling: the [[qSampleWeighted]] A-ES draw run
    * independently per language — 20 docs per lang, inclusion odds within
    * each stratum scaling with n_chars. This is the actual mixture-building
    * draw (per-language quotas with quality/length weighting inside each);
    * the window partitions BY LANG so per-partition state is one stratum,
    * and WindowGroupLimit keeps the rank partial before the shuffle.
    */
  val qSampleWeightedPerLang = Fixture(
    "q_sample_weighted_per_lang",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val u = (pmod(TextFunctions.hash64(col("doc_id").cast("string")),
        lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
      val skey = Quant.q4(log(u) * lit(1000000.0) / col("n_chars"))
      val w = Window.partitionBy("lang").orderBy(col("skey").desc, col("doc_id"))
      Tables.documents(s, d)
        .where(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), skey.as("skey"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 20)
        .select("lang", "rk", "doc_id", "skey")
    },
    Some(s"""WITH k AS (SELECT doc_id, lang,
      |   ${q4(s"ln(((${h64("doc_id::VARCHAR")} % 1000000) + 0.5) / 1000000.0) * 1000000.0 / n_chars")} AS skey
      | FROM documents WHERE n_chars > 0)
      | SELECT lang, rk, doc_id, skey FROM (
      |   SELECT lang, doc_id, skey, row_number() OVER
      |     (PARTITION BY lang ORDER BY skey DESC, doc_id) AS rk FROM k)
      | WHERE rk <= 20""".stripMargin))

  /** Deterministic fixed-size per-group sample: the k lowest content-hash
    * docs per source — the standard reproducible eval-set / spot-check draw
    * (hash order is a uniform shuffle, and the same k docs come back on
    * every run and every engine). One window per source partition; at scale
    * this is the partial TopK-per-key pattern — rank only sorts within each
    * source.
    */
  val qSamplePerSource = Fixture(
    "q_sample_per_source",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(TextFunctions.hash64(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .select("source", "rk", "doc_id", "lang")
    },
    Some(s"""SELECT source, rk, doc_id, lang FROM (
      |   SELECT source, doc_id, lang,
      |     row_number() OVER (PARTITION BY source
      |       ORDER BY ${h64("doc_id::VARCHAR")}, doc_id) AS rk
      |   FROM documents)
      | WHERE rk <= 10""".stripMargin))

  /** Corpus statistics per language: the summary pass every ingest pipeline
    * runs before filtering decisions.
    */
  val qCorpusStats = Fixture(
    "q_corpus_stats",
    (s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        Quant.q4(Quant.q4(sum(col("n_chars"))) / count(col("n_chars"))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"),
        sum(TextFunctions.tokenCountWs(col("text")).cast("long")).as("total_tokens")),
    Some(s"""SELECT lang, count(*) AS n_docs,
      |   ${q4(s"${q4("sum(n_chars)")} / count(n_chars)")} AS avg_chars,
      |   count(DISTINCT source) AS n_sources,
      |   sum(len($wordsSql))::BIGINT AS total_tokens
      | FROM documents GROUP BY lang""".stripMargin))

  /** Hierarchical corpus report via grouping sets: (lang, source) detail,
    * per-lang subtotals, and the grand total in ONE pass — Catalyst's
    * `Expand` replays each input row once per grouping level inside the
    * same scan, where the naive form is three scans + a union. At 100 TB
    * the difference is 2 full corpus reads. `glevel` is the grouping_id
    * bitmask (first rollup column = most significant bit — Spark and
    * DuckDB agree); NULL group keys from rolled-up levels are coalesced to
    * a sentinel on BOTH sides so the engines' null orderings never meet
    * the comparator.
    */
  val qCorpusRollup = Fixture(
    "q_corpus_rollup",
    (s, d) => Tables.documents(s, d)
      .rollup("lang", "source")
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
      | FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin))

  /** Differentially-private corpus release ([[Privacy.laplaceNoise]]):
    * per-language document counts published with Laplace(1/ε) noise,
    * ε = 0.5, sensitivity 1 (one document changes one count by one). The
    * noise is deterministic per (key, release-seed) — the reproducibility
    * discipline a recurring release needs (fresh draws per re-run would let
    * an observer average the noise away) — so the oracle replays the exact
    * inverse-CDF draw from the shared cross-engine hash. Noise is added
    * POST-aggregation on group-count-sized data: zero corpus-scale cost.
    */
  val qDpRelease = Fixture(
    "q_dp_release_counts",
    (s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_true"))
      .select(col("lang"),
        Quant.q4(col("n_true").cast("double") +
          Privacy.laplaceNoise(col("lang"), "rel1", 1.0, 0.5)).as("n_released")),
    Some(s"""WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents
      |   GROUP BY 1)
      | SELECT lang,
      |   ${q4("n + " + graft.functions.Privacy.laplaceNoiseSql("lang", "rel1", 1.0, 0.5))}
      |     AS n_released
      | FROM c""".stripMargin))

}
