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
import CorpusQueries.qDedupIndexProbe

/** Multimodal (image/video/audio signatures), BM25 lexical retrieval,
  * decontamination, quality scoring, winnowing, CDC chunking, and the
  * streaming index-ingest fixtures (BM25, MinHash, aHash families plus
  * the crawl→curate→index composite app).
  */
object RetrievalQueries {

  // ---- multimodal ---------------------------------------------------------

  /** Binary media column → partition-wise signature → features (the opaque
    * non-image media path; images have the real decode tiers below).
    */
  val qMultimodal = Fixture(
    "q_multimodal_features",
    (s, d) => Multimodal.extractFeatures(s,
      Multimodal.mediaTable(s, Tables.documents(s, d))).toDF(),
    Some(s"""SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
      |   ${h64("substr(text, 1, 16)")} AS sig,
      |   strlen(text) // 1000 + 1 AS n_frames
      | FROM documents""".stripMargin))

  /** Real image metadata decode (javax.imageio header parse) over a binary
    * media column: the payloads are genuine PNGs encoded executor-side with
    * dimensions derived from stored columns, and the oracle checks the
    * DECODED width/height/format against that stored metadata — end-to-end
    * proof that the binary-column plumbing carries real media and the decode
    * reads real headers.
    */
  val qImageMeta = Fixture(
    "q_image_meta",
    (s, d) => Multimodal.imageMeta(s,
      Multimodal.syntheticImages(s, Tables.documents(s, d))).toDF(),
    Some("""SELECT doc_id, (n_chars % 31 + 1)::BIGINT AS width,
      |   (doc_id % 17 + 1)::BIGINT AS height, 'png' AS format
      | FROM documents""".stripMargin))

  /** REAL pixel-level decode over the binary media column: `ImageIO.read`
    * decodes each synthetic PNG's full raster executor-side, and the
    * per-channel means must equal the stored-column prediction — the
    * payload is all-black except pixel (0,0) = doc_id's low 24 bits, so
    * mean_c = channel_c(doc_id) / (width · height). The hash compare proves
    * the features derive from DECODED PIXEL CONTENT (the color lives only
    * inside the PNG raster, not in any header or stored column). The
    * perceptual-hash outputs of the same decode pass are spec-pinned in
    * MultimodalSpec (their 8×8-grid arithmetic is not SQL-expressible).
    */
  val qImagePixelStats = Fixture(
    "q_image_pixel_stats",
    (s, d) => Multimodal.pixelFeatures(s,
        Multimodal.syntheticImages(s, Tables.documents(s, d))).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        Quant.q4(col("mean_r")).as("mean_r"),
        Quant.q4(col("mean_g")).as("mean_g"),
        Quant.q4(col("mean_b")).as("mean_b")),
    Some(s"""WITH m AS (SELECT doc_id,
      |   (n_chars % 31 + 1)::BIGINT AS width,
      |   (doc_id % 17 + 1)::BIGINT AS height,
      |   ((doc_id >> 16) & 255)::DOUBLE AS r,
      |   ((doc_id >> 8) & 255)::DOUBLE AS g,
      |   (doc_id & 255)::DOUBLE AS b
      | FROM documents)
      | SELECT doc_id, width, height,
      |   ${q4("r / (width * height)")} AS mean_r,
      |   ${q4("g / (width * height)")} AS mean_g,
      |   ${q4("b / (width * height)")} AS mean_b
      | FROM m""".stripMargin))

  /** DuckDB mirror of Multimodal.blockVal over every (doc, cell): the
    * lowbias32-style mix replayed verbatim (xor / shift / 32-bit-masked
    * multiply — every intermediate fits int64), yielding relation
    * (doc_id, i, v).
    */
  private val blockCellsSql =
    """SELECT doc_id, i, xor(x2, x2 >> 16) % 256 AS v FROM (
      |    SELECT doc_id, i, (xor(x1, x1 >> 16) * 73244475) & 4294967295 AS x2 FROM (
      |      SELECT doc_id, i, (xor(x0, x0 >> 16) * 73244475) & 4294967295 AS x1 FROM (
      |        SELECT doc_id, t.i AS i, (doc_id // 2) * 64 + t.i AS x0
      |        FROM documents, generate_series(0, 63) AS t(i))))""".stripMargin
  /** aHash from the v relation: strict mean threshold, bit 63 spelled as
    * the signed minimum (two's-complement, matching Scala's `1L << 63`).
    */
  private val blockAhashSql =
    s"""WITH c AS ($blockCellsSql),
      | m AS (SELECT doc_id, avg(v) AS mean FROM c GROUP BY doc_id),
      | h AS (SELECT c.doc_id,
      |         CAST(sum(CASE WHEN v > mean THEN
      |           CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
      |                ELSE (1::BIGINT << i) END ELSE 0 END) AS BIGINT) AS ahash
      |       FROM c JOIN m USING (doc_id) GROUP BY c.doc_id)""".stripMargin

  /** The PERCEPTUAL HASH under the oracle: block synthetic images put 8×8
    * uniform gray blocks exactly on the aHash grid (cell luma equals the
    * block value exactly — the Rec.601 weights sum to 1000), so the decoded
    * 64-bit hash is predictable from stored columns by pure SQL. Hash
    * equality proves decode → luma grid → mean threshold end-to-end, not
    * just channel sums.
    */
  val qImageAhash = Fixture(
    "q_image_ahash",
    (s, d) => Multimodal.pixelFeatures(s,
        Multimodal.syntheticBlockImages(s, Tables.documents(s, d))).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("ahash")),
    Some(s"""$blockAhashSql
      | SELECT doc_id, 64::BIGINT AS width, 64::BIGINT AS height, ahash
      | FROM h""".stripMargin))

  /** Image near-dup pairing under the oracle: Hamming-banded candidate
    * generation + bit_count verify ([[Multimodal.nearDupPairs]], recall 1
    * by pigeonhole) against DuckDB's brute-force all-pairs Hamming over the
    * SAME SQL-computed hashes. The mixed block content makes consecutive
    * doc_id pairs identical and everything else Hamming-far (measured zero
    * accidental cross-pairs at 2 500 bases), so the relation is |docs|/2
    * rows — linear at any scale.
    */
  val qImageNearDup = Fixture(
    "q_image_near_dup",
    (s, d) => Multimodal.nearDupPairs(
        Multimodal.pixelFeatures(s,
          Multimodal.syntheticBlockImages(s, Tables.documents(s, d))).toDF(),
        "doc_id", "ahash", maxHam = 3)
      .select(col("doc_a"), col("doc_b"), col("ham").cast("long").as("ham")),
    Some(s"""$blockAhashSql
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   bit_count(xor(a.ahash, b.ahash))::BIGINT AS ham
      | FROM h a JOIN h b ON a.doc_id < b.doc_id
      | WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin))

  /** Incremental image near-dup against the PERSISTED aHash band index
    * ([[Multimodal.ahashWriteIndex]] / [[Multimodal.ahashProbeIndex]]):
    * even docs are the indexed image lake, odd docs the day's crawl. The
    * banding shuffle is paid once at ingest (bucketed on bk); the probe
    * bands only the batch and verifies exact Hamming against the STORED
    * hash — the corpus is never re-decoded or re-hashed. Oracle: brute
    * cross-parity Hamming ≤ 3 over the same SQL-predicted hashes; the
    * block corpus's duplicate pairs are exactly (2k, 2k+1) — always
    * cross-parity — so the probe must surface every true pair (pigeonhole
    * recall 1, like [[qImageNearDup]]'s self-join form).
    */
  val qAhashIndexProbe = Fixture(
    "q_ahash_index_probe",
    (s, d) => {
      val feats = Multimodal.pixelFeatures(s,
          Multimodal.syntheticBlockImages(s, Tables.documents(s, d))).toDF()
        .select(col("doc_id"), col("ahash"))
      val tbl = "ah_idx_" + d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${sys.props("java.io.tmpdir")}/graft_ahidx/$tbl"
      Multimodal.ahashWriteIndex(feats.where(col("doc_id") % 2 === 0),
        "doc_id", "ahash", 3, tbl, path, 8)
      Multimodal.ahashProbeIndex(s, feats.where(col("doc_id") % 2 === 1),
        "doc_id", "ahash", 3, tbl)
        .select(col("new_id"), col("corpus_id"), col("ham").cast("long").as("ham"))
    },
    Some(s"""$blockAhashSql
      | SELECT b.doc_id AS new_id, a.doc_id AS corpus_id,
      |   bit_count(xor(a.ahash, b.ahash))::BIGINT AS ham
      | FROM h a JOIN h b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      | WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin))

  /** STREAMING ingest into the persisted aHash band index — the
    * [[qStreamIvfIngest]] protocol on the FOURTH persisted index family
    * (image near-dup): the `% 4 == 0` quarter of the image lake is built
    * in the ingestable layout
    * ([[Multimodal.ahashWriteIndexIngestable]]), the `% 4 == 2` quarter's
    * (doc_id, ahash) features arrive as a 2-chunk stream landing
    * `ingest_batch = batchId` partitions, then the LAST batch is
    * crash-replayed with the same batchId. Probe (odd docs, unchanged
    * [[Multimodal.ahashProbeIndex]]) must equal [[qAhashIndexProbe]]'s
    * brute cross-parity Hamming oracle over the full even half — the
    * probe's `distinct()` collapses band-level duplicates, so what the
    * oracle certifies here is the torn-free landing and that the final
    * index contains exactly the even half (a lost or doubled batch
    * partition would drop pairs or change nothing it shouldn't).
    */
  val qStreamAhashIngest = Fixture(
    "q_stream_ahash_index_ingest",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val feats = Multimodal.pixelFeatures(s,
          Multimodal.syntheticBlockImages(s, Tables.documents(s, d))).toDF()
        .select(col("doc_id"), col("ahash"))
      val tbl = s"graft_ah_ing_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_ah_ing/$h/$run"
      Multimodal.ahashWriteIndexIngestable(feats.where(col("doc_id") % 4 === 0),
        "doc_id", "ahash", 3, tbl, s"$dir/idx", 8)
      val chunks = Replay.parts(feats.where(col("doc_id") % 4 === 2)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ahash").cast("long").as("ahash")), 2, "doc_id")
      Replay.start(s, chunks) {
        graft.streaming.StreamingIndexIngest.startAhash(_, "doc_id", "ahash", 3, tbl,
          s"$dir/cp")
      }
      // crash-replay of the last micro-batch: partition overwrite, not append
      graft.streaming.StreamingIndexIngest.applyAhashBatch(
        chunks.lastTrigger(s), "doc_id", "ahash", 3, tbl, chunks.triggers.length - 1L)
      Multimodal.ahashProbeIndex(s, feats.where(col("doc_id") % 2 === 1),
        "doc_id", "ahash", 3, tbl)
        .select(col("new_id"), col("corpus_id"), col("ham").cast("long").as("ham"))
    },
    qAhashIndexProbe.oracle)

  /** REAL resize under the oracle, round-tripped: block PNGs (64×64, 8×8
    * uniform blocks) → [[Multimodal.resizeImages]] area-average downscale to
    * 8×8 → PNG re-encode → [[Multimodal.pixelFeatures]] decodes the RESIZED
    * payload. Each target pixel averages exactly one uniform block, so the
    * resized raster is the 8×8 block-value grid and the decoded channel
    * means must equal avg(blockVal) predicted by pure SQL from stored
    * columns — proving decode → resample → encode → decode end-to-end (the
    * block values live only inside the source PNG raster). width/height = 8
    * in the output pins that the payload really was rewritten, not passed
    * through.
    */
  val qImageResize = Fixture(
    "q_image_resize",
    (s, d) => Multimodal.pixelFeatures(s,
        Multimodal.resizeImages(s,
          Multimodal.syntheticBlockImages(s, Tables.documents(s, d)), 8, 8)).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        Quant.q4(col("mean_r")).as("mean_r"),
        Quant.q4(col("mean_g")).as("mean_g"),
        Quant.q4(col("mean_b")).as("mean_b")),
    Some(s"""WITH c AS ($blockCellsSql),
      | m AS (SELECT doc_id, avg(v) AS mv FROM c GROUP BY doc_id)
      | SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
      |   ${q4("mv")} AS mean_r, ${q4("mv")} AS mean_g, ${q4("mv")} AS mean_b
      | FROM m""".stripMargin))

  /** Strided frame sampling over the opaque media payload
    * ([[Multimodal.sampleFrames]], stub demux on the 1000-byte frame grid):
    * every 3rd frame, per-frame slice length and md5-prefix signature. The
    * oracle replays the identical slicing/hashing in SQL (`substr` + `md5`
    * over the same bytes), pinning the binary-column fan-out plumbing —
    * per-doc frame explosion bounded by the stride, narrow feature rows
    * out, payload bytes absent from the result.
    */
  val qFrameSample = Fixture(
    "q_frame_sample",
    (s, d) => Multimodal.sampleFrames(s,
        Multimodal.mediaTable(s, Tables.documents(s, d)),
        frameBytes = 1000, stride = 3).toDF(),
    Some(s"""WITH f AS (
      |   SELECT doc_id, text, strlen(text) AS len,
      |     unnest(range(0, strlen(text) // 1000 + 1, 3)) AS i
      |   FROM documents)
      | SELECT doc_id, i::BIGINT AS frame_idx,
      |   (len // 1000 + 1)::BIGINT AS n_frames,
      |   greatest(least(len - i * 1000, 1000), 0)::BIGINT AS frame_bytes,
      |   ${h64("substr(text, i * 1000 + 1, 1000)")} AS frame_sig
      | FROM f""".stripMargin))

  /** DuckDB replay of [[Multimodal.blockVal]] per (doc, frame, cell) for
    * [[Multimodal.syntheticBlockVideos]] content — base = doc_id·nFrames + f
    * — plus the per-frame mean and aHash (same signed-bit-63 spelling as
    * [[blockAhashSql]]). `frames` is the SQL list of frame ordinals the
    * query under test must emit.
    */
  private def videoFramesOracle(nFrames: Int, frames: String): String =
    s"""WITH fr AS (SELECT doc_id, unnest([$frames]) AS f FROM documents),
      | c AS (SELECT doc_id, f, i, xor(x2, x2 >> 16) % 256 AS v FROM (
      |    SELECT doc_id, f, i, (xor(x1, x1 >> 16) * 73244475) & 4294967295 AS x2 FROM (
      |      SELECT doc_id, f, i, (xor(x0, x0 >> 16) * 73244475) & 4294967295 AS x1 FROM (
      |        SELECT doc_id, f, t.i AS i, (doc_id * $nFrames + f) * 64 + t.i AS x0
      |        FROM fr, generate_series(0, 63) AS t(i))))),
      | m AS (SELECT doc_id, f, avg(v) AS mean FROM c GROUP BY 1, 2),
      | h AS (SELECT c.doc_id, c.f,
      |         CAST(sum(CASE WHEN v > mean THEN
      |           CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
      |                ELSE (1::BIGINT << i) END ELSE 0 END) AS BIGINT) AS ahash
      |       FROM c JOIN m USING (doc_id, f) GROUP BY 1, 2)
      | SELECT m.doc_id, m.f::BIGINT AS frame_idx, $nFrames::BIGINT AS n_frames,
      |   64::BIGINT AS width, 64::BIGINT AS height,
      |   ${q4("m.mean")} AS mean_luma, h.ahash AS ahash
      | FROM m JOIN h ON m.doc_id = h.doc_id AND m.f = h.f""".stripMargin

  /** REAL video keyframe extraction under the oracle: synthetic AVI/RIFF
    * containers ([[Multimodal.syntheticBlockVideos]] — 6 uncompressed
    * 64×64 block frames per doc, every 3rd flagged AVIIF_KEYFRAME in
    * `idx1`) → [[Multimodal.videoFrames]] parses the container INDEX and
    * decodes ONLY the flagged frames (0 and 3), emitting mean luma + aHash
    * of the DECODED rasters. The oracle predicts those rasters from stored
    * columns by replaying the block mix in SQL — frame signatures derive
    * from decoded frame content, so hash equality proves RIFF walk →
    * idx1 selection → bottom-up BGR decode → luma grid end-to-end.
    * Selective decode is the 100 TB posture: raster work scales with
    * keyframes, not frames.
    */
  val qVideoKeyframes = Fixture(
    "q_video_keyframes",
    (s, d) => Multimodal.videoFrames(s,
        Multimodal.syntheticBlockVideos(s, Tables.documents(s, d),
          nFrames = 6, keyframeEvery = 3),
        keyframesOnly = true).toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("width"), col("height"),
        Quant.q4(col("mean_luma")).as("mean_luma"), col("ahash")),
    Some(videoFramesOracle(6, "0, 3")))

  /** Strided REAL demux of the same containers, index-free: sequential
    * `movi` walk decoding every 2nd frame (0, 2, 4) — the streaming-demux
    * shape for containers without a usable index. Same decoded-content
    * oracle, different container path (chunk walk vs `idx1` seek), so the
    * two fixtures pin both demux modes.
    */
  val qVideoFramesStrided = Fixture(
    "q_video_frames_strided",
    (s, d) => Multimodal.videoFrames(s,
        Multimodal.syntheticBlockVideos(s, Tables.documents(s, d),
          nFrames = 6, keyframeEvery = 3),
        keyframesOnly = false, stride = 2).toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("width"), col("height"),
        Quant.q4(col("mean_luma")).as("mean_luma"), col("ahash")),
    Some(videoFramesOracle(6, "0, 2, 4")))

  /** Embedding preprocessing: L2-normalize then int8-quantize
    * (round(x/‖v‖·127)) — the standard store-shrink step before ANN at
    * corpus scale (4× smaller than float32). Oracle-comparable per-vector
    * summary (sum/min/max of the quantized codes are integer-exact) rather
    * than array outputs; zero-norm vectors are excluded, documented.
    */
  val qEmbedQuantize = Fixture(
    "q_embed_quantize",
    (s, d) => {
      import graft.functions.VectorFunctions
      // Stage nrm and qv as materialized columns: the norm is an O(d) fold,
      // and inlining it into the transform() lambda would make Catalyst
      // re-evaluate the full fold per ELEMENT (O(d²) per row — HOF lambdas
      // get no CSE); likewise qv is consumed by three aggregates and must be
      // built once. CollapseProject keeps multi-referenced non-cheap aliases
      // staged, so each fold runs exactly once per row.
      Tables.embeddings(s, d)
        .withColumn("__nrm", VectorFunctions.norm(col("embedding")))
        .where(col("__nrm") > 0)
        .withColumn("qv", transform(col("embedding"),
          x => floor(x.cast("double") / col("__nrm") * lit(127.0) + lit(0.5))))
        .select(col("vec_id"), Quant.q4(col("__nrm")).as("nrm"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("qv")).as("q_min"), array_max(col("qv")).as("q_max"))
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |            FROM embeddings),
      | n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
      | q AS (SELECT vec_id, nrm,
      |         list_transform(v, x -> floor(x / nrm * 127.0 + 0.5)::BIGINT) AS qv
      |       FROM n WHERE nrm > 0)
      | SELECT vec_id, ${q4("nrm")} AS nrm,
      |   list_reduce(list_prepend(0::BIGINT, qv), (a, x) -> a + x) AS q_sum,
      |   list_min(qv) AS q_min, list_max(qv) AS q_max
      | FROM q""".stripMargin))

  /** BM25 top-k retrieval for a literal 3-term query — the lexical-search
    * primitive a RAG/retrieval pipeline runs beside ANN (Robertson k1=1.2,
    * b=0.75; Lucene's +1 idf so unseen terms can't go negative). Plan
    * shape: ONE corpus scan computes per-doc term frequencies as HOF
    * filter-counts over the token array (no explode, no posting shuffle —
    * the query's terms are literals, so tf is a projection), corpus stats
    * (N, avgdl, per-term df) are ONE tiny aggregation broadcast back, and
    * the top-k is TakeOrdered (per-partition heap, no global sort). At
    * 100 TB: scan-bound, two jobs, zero corpus shuffles.
    *
    * Determinism: integer tf/dl/df; avgdl and every score term are
    * identically-formed double chains mirrored in the oracle; q4 on the
    * output score; ties by doc_id.
    */
  val qBm25 = Fixture(
    "q_bm25_topk",
    (s, d) => {
      val terms = Seq("table", "row", "window")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("w"))
        .withColumn("dl", size(col("w")).cast("long"))
      val tfs = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("w"), x => x === lit(t))).cast("long"))
      }.drop("w")
      graft.operators.Caching.withCached(tfs) {
        val stats = tfs.agg(
          count(lit(1)).as("n"), sum(col("dl")).as("sdl"),
          sum(when(col("tf0") > 0, 1L).otherwise(0L)).as("df0"),
          sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
          sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"))
        def part(i: Int): org.apache.spark.sql.Column = {
          val idf = log((col("n") - col(s"df$i") + lit(0.5)) /
            (col(s"df$i") + lit(0.5)) + lit(1.0))
          idf * (col(s"tf$i") * lit(2.2)) /
            (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        }
        tfs.crossJoin(broadcast(stats))
          .withColumn("avgdl", col("sdl").cast("double") / col("n"))
          .where(col("tf0") + col("tf1") + col("tf2") > 0)
          .select(col("doc_id"), col("dl"),
            Quant.q4(part(0) + part(1) + part(2)).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      }
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      |        FROM documents),
      | f AS (SELECT doc_id, len(w)::BIGINT AS dl,
      |         len(list_filter(w, x -> x = 'table'))::BIGINT AS tf0,
      |         len(list_filter(w, x -> x = 'row'))::BIGINT AS tf1,
      |         len(list_filter(w, x -> x = 'window'))::BIGINT AS tf2
      |       FROM t),
      | st AS (SELECT count(*) AS n, sum(dl)::BIGINT AS sdl,
      |          sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
      |          sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
      |          sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
      |        FROM f),
      | sc AS (SELECT doc_id, dl,
      |     ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) /
      |       (tf0 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
      |   + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) /
      |       (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
      |   + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) /
      |       (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl / n))) AS s
      |   FROM f, st WHERE tf0 + tf1 + tf2 > 0)
      | SELECT doc_id, dl, ${q4("s")} AS score FROM sc
      | ORDER BY score DESC, doc_id LIMIT 20""".stripMargin))

  /** Deterministic training-order shuffle — the reproducible global
    * permutation every trainer needs (same data order across reruns,
    * engines, and cluster sizes): each example's rank is a SEEDED hash of
    * its id, its shard is a fixed-width RANGE of that hash (uniform
    * hashes → balanced shards with no sampling pass and no global sort),
    * and its position is the rank order within the shard. Changing the
    * seed string is a fresh epoch permutation. Plan: one scan-side
    * projection + a per-shard sort — the only distributed-sort shape that
    * reproduces bit-identically at any parallelism, because both shard
    * boundary and in-shard order are pure functions of the id.
    */
  val qTrainShuffle = Fixture(
    "q_train_shuffle",
    (s, d) => {
      val rank = TextFunctions.hash64(
        concat(lit("shuf42#"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("rank", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), rank.as("rank"))
        // exact integer shard = rank >>> 57 (rank is a non-negative 60-bit
        // md5 prefix, so 8 shards of 2^57). Column `/` is DOUBLE division —
        // a rank within ~64 of a shard boundary could round across it and
        // disagree with the oracle's integer `rank // 2^57`.
        .withColumn("shard", shiftrightunsigned(col("rank"), 57))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    },
    Some(s"""WITH r AS (SELECT doc_id,
      |     ${h64("'shuf42#' || doc_id")} AS rank FROM documents),
      | sh AS (SELECT doc_id, rank, rank // 144115188075855872 AS shard FROM r)
      | SELECT doc_id, shard,
      |   row_number() OVER (PARTITION BY shard ORDER BY rank, doc_id) AS pos
      | FROM sh""".stripMargin))

  /** Per-source top-fraction quality gate — "keep the best 30 % of every
    * source" (the per-source form every mixture recipe uses so a
    * high-volume low-quality source can't flood the cut): exact
    * percent_rank within source over the (quantized) quality score,
    * doc_id tiebreak so ranks are total. The per-source window sort is
    * distributed by the source key; at 100 TB (or under source skew) the
    * same gate becomes a per-source approx_percentile threshold broadcast
    * back — one pass, no window — as q_length_percentiles documents.
    */
  val qSelectTopFrac = Fixture(
    "q_select_top_frac",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Quant.q4(TextFunctions.qualityScore(col("text"))).as("quality"))
        .withColumn("pr", Quant.q4(percent_rank().over(w)))
        .where(col("pr") <= 0.3)
    },
    Some(s"""WITH t AS (SELECT doc_id, source,
      |     len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |     len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |     len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop
      |   FROM documents),
      | sc AS (SELECT doc_id, source,
      |     ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS quality
      |   FROM t),
      | r AS (SELECT doc_id, source, quality,
      |     ${q4("percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)")} AS pr
      |   FROM sc)
      | SELECT doc_id, source, quality, pr FROM r WHERE pr <= 0.3""".stripMargin))

  /** Table profiling — the ingest-time data-quality snapshot every lake
    * keeps per partition drop (row/null/distinct counts, value ranges):
    * ONE aggregation pass over the fact table emits all metrics for all
    * profiled columns, then a constant-width unpivot (4 selects over the
    * single agg row) shapes one row per column. Exact distincts ride with
    * an HLL estimate pinned to ±10 % (`hll_ok`) — at 100 TB the exact
    * count(DISTINCT)s (whose multi-column form Expands the scan) drop out
    * and the mergeable HLL sketches are the profile, as in
    * q_approx_distinct. Numeric ranges quantize through q4; string ranges
    * stay raw — cross-engine double FORMATTING is the one thing a
    * profiler must never hash.
    */
  val qProfileColumns = Fixture(
    "q_profile_columns",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val nums = Seq("l_quantity", "l_extendedprice", "l_discount")
      val strs = Seq("l_returnflag")
      val aggs = (nums ++ strs).flatMap { c =>
        Seq(count(col(c)).as(s"n_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"),
          approx_count_distinct(col(c), 0.05).as(s"ne_$c"))
      } ++ nums.flatMap(c => Seq(
        Quant.q4(min(col(c))).as(s"mn_$c"), Quant.q4(max(col(c))).as(s"mx_$c"))) ++
        strs.flatMap(c => Seq(min(col(c)).as(s"ms_$c"), max(col(c)).as(s"xs_$c")))
      val one = li.agg(aggs.head, aggs.tail: _*)
      val rows = nums.map { c =>
        one.select(lit(c).as("col_name"), col(s"n_$c").as("n_rows"),
          col(s"nn_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
          (abs(col(s"ne_$c") - col(s"nd_$c")) <= col(s"nd_$c") * 0.1).as("hll_ok"),
          col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num"),
          lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
      } ++ strs.map { c =>
        one.select(lit(c).as("col_name"), col(s"n_$c").as("n_rows"),
          col(s"nn_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
          (abs(col(s"ne_$c") - col(s"nd_$c")) <= col(s"nd_$c") * 0.1).as("hll_ok"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col(s"ms_$c").as("min_str"), col(s"xs_$c").as("max_str"))
      }
      rows.reduce(_ unionAll _)
    },
    Some(s"""WITH p AS (
      |  SELECT 'l_quantity' AS col_name, count(l_quantity) AS n_rows,
      |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
      |    count(DISTINCT l_quantity) AS n_distinct, TRUE AS hll_ok,
      |    ${q4("min(l_quantity)")} AS min_num, ${q4("max(l_quantity)")} AS max_num,
      |    NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice', count(l_extendedprice),
      |    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
      |    count(DISTINCT l_extendedprice), TRUE,
      |    ${q4("min(l_extendedprice)")}, ${q4("max(l_extendedprice)")}, NULL, NULL FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', count(l_discount),
      |    sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT,
      |    count(DISTINCT l_discount), TRUE,
      |    ${q4("min(l_discount)")}, ${q4("max(l_discount)")}, NULL, NULL FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag', count(l_returnflag),
      |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT,
      |    count(DISTINCT l_returnflag), TRUE,
      |    NULL, NULL, min(l_returnflag), max(l_returnflag) FROM lineitem)
      | SELECT * FROM p""".stripMargin))

  /** Unicode NFC canonicalization ([[TextFunctions.nfc]], a codegen'd
    * custom Expression — Spark has no built-in; DuckDB's nfc_normalize is
    * the mirror). The fixture manufactures DECOMPOSED text from the corpus
    * (every 'e' becomes e + combining-acute U+0301) in both engines, then
    * normalizes: composed output must be shorter (combining pairs fuse to
    * one codepoint) and its md5 — i.e. its exact bytes — must agree
    * cross-engine. This is the canonicalization exact-dedup fingerprints
    * depend on: without it, composed and decomposed forms of the same
    * document hash apart and survive dedup.
    */
  val qNfcNormalize = Fixture(
    "q_nfc_normalize",
    (s, d) => {
      val decomposed = regexp_replace(col("text"), "e", "é")
      val normed = TextFunctions.nfc(decomposed)
      Tables.documents(s, d).select(
        col("doc_id"),
        length(decomposed).cast("long").as("n_decomposed"),
        length(normed).cast("long").as("n_nfc"),
        md5(normed).as("fp"))
    },
    Some("""WITH t AS (SELECT doc_id,
      |     regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dec
      |   FROM documents)
      | SELECT doc_id, length(dec)::BIGINT AS n_decomposed,
      |   length(nfc_normalize(dec))::BIGINT AS n_nfc,
      |   md5(nfc_normalize(dec)) AS fp
      | FROM t""".stripMargin))

  /** kNN majority-vote auto-labeling — semi-supervised label propagation,
    * the weak-labeling pass that turns a small hand-labeled seed set into
    * corpus-scale training labels: every unlabeled vector takes its k=5
    * nearest LABELED neighbors (exact cosine; ties (cos DESC, id ASC) via
    * TopKAgg's bounded heap) and adopts the majority label, ties to the
    * smallest label. Plan shape: the query batch broadcasts onto the
    * labeled corpus (one scan), top-k ids — |Q|·k rows — broadcast back
    * to fetch labels, and the vote is a tiny (query, label) aggregation
    * finished by an argmax struct-max. No corpus×corpus pass, no
    * rank-over-window on the big relation. At 100 TB the candidate stage
    * swaps to the persisted-IVF probe, votes unchanged.
    */
  val qKnnLabel = Fixture(
    "q_knn_label",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val labeled = emb.where(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
          col("label").cast("long").as("nlabel"))
      val q = emb.where(col("vec_id") % 3 =!= 0 && col("vec_id") < 60)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val pairs = labeled.join(broadcast(q), lit(true))
        .select(col("query_id"), col("neighbor_id"),
          Quant.q4(graft.functions.VectorFunctions.cosineFused(col("qv"), col("nv"))).as("cos"))
      val topk = pairs.groupBy("query_id")
        .agg(graft.functions.TopKAgg.topK(col("cos"), col("neighbor_id"), 5).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("t"))
        .select(col("query_id"), col("t.id").as("neighbor_id"))
      val votes = broadcast(topk)
        .join(labeled.select(col("neighbor_id"), col("nlabel")), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
      votes.groupBy("query_id")
        .agg(max(struct(col("votes"), (-col("nlabel")).as("nl"))).as("b"))
        .select(col("query_id"), (-col("b.nl")).as("pred_label"),
          col("b.votes").as("votes"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label,
      |     list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      | lab AS (SELECT vec_id AS neighbor_id, v AS nv, label::BIGINT AS nlabel
      |         FROM e WHERE vec_id % 3 = 0),
      | q AS (SELECT vec_id AS query_id, v AS qv FROM e
      |       WHERE vec_id % 3 <> 0 AND vec_id < 60),
      | p AS (SELECT query_id, neighbor_id, nlabel,
      |         ${dotSql("qv", "nv")} AS ab, ${dotSql("qv", "qv")} AS aa,
      |         ${dotSql("nv", "nv")} AS bb
      |       FROM q CROSS JOIN lab),
      | c AS (SELECT query_id, neighbor_id, nlabel,
      |         ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT query_id, neighbor_id, nlabel,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM c),
      | v AS (SELECT query_id, nlabel, count(*) AS votes FROM r
      |       WHERE rank <= 5 GROUP BY 1, 2),
      | w AS (SELECT query_id, nlabel, votes,
      |         row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nlabel) AS rn
      |       FROM v)
      | SELECT query_id, nlabel AS pred_label, votes FROM w WHERE rn = 1""".stripMargin))

  /** Streaming ANN serving over the PERSISTED IVF index
    * ([[Ann.ivfSearchStreamCandidates]]): query vectors arrive as a stream,
    * probe their 2 nearest cells via the plan-literal centroid model, and
    * join stream-static against the index at rest — stateless candidate
    * generation, then a windowed ARGMAX aggregate (max of (cos, −id)
    * structs: rank-over-window doesn't exist in append streams) emits each
    * query's top-1 neighbor. Event time = query_id·7 s so the replay
    * spans several tumbling windows; emission semantics are the
    * q_stream_tumbling_agg standard (window end ≤ max event time). The
    * oracle is the batch IVF relation at rank 1 + window arithmetic —
    * stream serving must return exactly what a batch probe would.
    */
  val qStreamAnnProbe = Fixture(
    "q_stream_ann_probe",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val emb = Tables.embeddings(s, d)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val tbl = s"graft_ivf_stream_$h"
      FixtureOnce(tbl) {
        Ann.ivfWriteIndex(emb, cents, tbl,
          s"${sys.props("java.io.tmpdir")}/graft_ivf_stream/$h", 8)
      }
      val queries = emb.where(col("vec_id") < 30)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("qv"))
      Replay(s, Replay.parts(queries, 2, "query_id"), s"stream_ann_$h") { q =>
        val qdf = q.withColumn("ts", timestamp_seconds(col("query_id") * 7))
        Ann.ivfSearchStreamCandidates(s, tbl, cents, qdf, 2)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"), col("query_id"))
          .agg(max(struct(col("cos"), (-col("neighbor_id")).as("nn"))).as("b"))
          .select(unix_timestamp(col("window.start")).as("ws"), col("query_id"),
            (-col("b.nn")).as("neighbor_id"), col("b.cos").as("cos"))
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
      | sr AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM pr),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM sr),
      | mx AS (SELECT max(vec_id * 7) AS mx FROM e WHERE vec_id < 30)
      | SELECT (query_id * 7 // 60) * 60 AS ws, query_id, neighbor_id, cos
      | FROM r WHERE rank = 1
      |   AND (query_id * 7 // 60) * 60 + 60 <= (SELECT mx FROM mx)""".stripMargin))

  /** Winnowing (MOSS) fingerprints ([[TextFunctions.winnow]], k=3 word
    * grams, window 4): the span-granular robust fingerprints — any shared
    * run of ≥ 6 tokens between two documents is guaranteed to share a
    * selected (pos-localizable) fingerprint. Pure scan-side HOFs; the
    * distinct collapses the consecutive-window reselections that give
    * winnowing its ~2/(w+1) density. Docs shorter than one full window
    * (< 6 tokens) have no fingerprint by definition.
    */
  val qWinnow = Fixture(
    "q_winnow_fingerprints",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .where(size(col("w")) >= 6)
      .withColumn("hs", TextFunctions.kgramHashes(col("w"), 3))
      .select(col("doc_id"),
        explode(TextFunctions.winnowFromHashes(col("hs"), 4)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
      .distinct(),
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | h AS (SELECT doc_id,
      |     list_transform(generate_series(1, len(w) - 2),
      |       i -> ${h64("array_to_string(w[i:i+2], ' ')")}) AS hs
      |   FROM w0 WHERE len(w) >= 6),
      | st AS (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - 3)) AS j
      |        FROM h),
      | sel AS (SELECT DISTINCT doc_id,
      |     j - 1 + list_position(hs[j:j+3], list_min(hs[j:j+3])) AS pos,
      |     list_min(hs[j:j+3]) AS fp
      |   FROM st)
      | SELECT doc_id, pos::BIGINT AS pos, fp FROM sel""".stripMargin))

  /** Content-defined chunking — the storage-dedup primitive (rsync/LBFS
    * lineage): a chunk boundary falls after token p wherever the rolling
    * fingerprint of the trailing 3-gram hits 0 mod 64, so boundaries are
    * a pure function of LOCAL content. Insert one sentence into a
    * document and only the chunk containing it changes fingerprint —
    * fixed-width chunking would shift every later chunk, defeating
    * incremental dedup/storage of re-crawled pages. Expected chunk
    * length = the modulus (64 tokens). Entirely scan-side HOFs over the
    * staged token array (each position hashed ONCE — the winnow staging
    * rule); emitted chunk rows land in an fp-keyed table where exact
    * dedup is a groupBy, as `q_dedup_exact` does for whole docs.
    */
  val qCdcChunks = Fixture(
    "q_cdc_chunks",
    (s, d) => {
      val n = size(col("w"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
        .where(size(col("w")) >= 1)
        .withColumn("bpos",
          when(n >= 4, filter(sequence(lit(3), n - 1), p =>
            pmod(TextFunctions.hash64(concat_ws(" ", slice(col("w"), p - 2, lit(3)))),
              lit(64L)) === 0))
            .otherwise(array().cast("array<int>")))
        .withColumn("starts",
          concat(array(lit(1)), transform(col("bpos"), b => b + 1)))
        .withColumn("ends", concat(col("bpos"), array(n)))
        .select(col("doc_id"), col("w"), col("starts"), col("ends"),
          explode(sequence(lit(1), size(col("starts")))).as("ci"))
        .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
          element_at(col("starts"), col("ci")).cast("long").as("start_tok"),
          (element_at(col("ends"), col("ci")) - element_at(col("starts"), col("ci")) + 1)
            .cast("long").as("n_tok"),
          TextFunctions.hash64(concat_ws(" ",
            slice(col("w"), element_at(col("starts"), col("ci")),
              element_at(col("ends"), col("ci")) - element_at(col("starts"), col("ci")) + 1)))
            .as("fp"))
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | wn AS (SELECT doc_id, w, len(w) AS n FROM w0 WHERE len(w) >= 1),
      | b AS (SELECT doc_id, w, n,
      |     CASE WHEN n >= 4 THEN list_filter(generate_series(3, n - 1),
      |       p -> ${h64("array_to_string(w[p-2:p], ' ')")} % 64 = 0)
      |     ELSE [] END AS bpos
      |   FROM wn),
      | c AS (SELECT doc_id, w, n,
      |     list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
      |     list_append(bpos, n) AS ends
      |   FROM b),
      | e AS (SELECT doc_id, w, starts, ends,
      |     unnest(generate_series(1, len(starts))) AS ci FROM c)
      | SELECT doc_id, ci::BIGINT AS chunk_idx, starts[ci]::BIGINT AS start_tok,
      |   (ends[ci] - starts[ci] + 1)::BIGINT AS n_tok,
      |   ${h64("array_to_string(w[starts[ci]:ends[ci]], ' ')")} AS fp
      | FROM e""".stripMargin))

  /** The storage payoff of content-defined chunking: a re-crawl arrives
    * with every 5th document EDITED (one token appended — the re-crawl
    * reality: pages change a little). Chunk both sides; for each edited
    * copy report how many of its chunks already exist in the original
    * corpus's chunk store. Because boundaries are content-defined, only
    * the final chunk changes — reuse is (n_chunks − 1)/n_chunks instead
    * of the ~0 a fixed-width chunker would get from the length shift.
    * Plan: chunk relations on both sides (scan-side HOFs), one fp-keyed
    * LEFT SEMI probe of the corpus chunk store, per-doc counts.
    */
  val qCdcChunkDedup = Fixture(
    "q_cdc_chunk_dedup",
    (s, d) => {
      def chunksOf(df: DataFrame): DataFrame = {
        val n = size(col("w"))
        df.select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
          .where(size(col("w")) >= 1)
          .withColumn("bpos",
            when(n >= 4, filter(sequence(lit(3), n - 1), p =>
              pmod(TextFunctions.hash64(concat_ws(" ", slice(col("w"), p - 2, lit(3)))),
                lit(64L)) === 0))
              .otherwise(array().cast("array<int>")))
          .withColumn("starts",
            concat(array(lit(1)), transform(col("bpos"), b => b + 1)))
          .withColumn("ends", concat(col("bpos"), array(n)))
          .select(col("doc_id"), col("w"), col("starts"), col("ends"),
            explode(sequence(lit(1), size(col("starts")))).as("ci"))
          .select(col("doc_id"),
            TextFunctions.hash64(concat_ws(" ",
              slice(col("w"), element_at(col("starts"), col("ci")),
                element_at(col("ends"), col("ci")) - element_at(col("starts"), col("ci")) + 1)))
              .as("fp"))
      }
      val docs = Tables.documents(s, d)
      val corpusChunks = chunksOf(docs).select("fp").distinct()
      val edited = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zzedit")).as("text"))
      val editedChunks = chunksOf(edited)
      val reused = editedChunks.join(corpusChunks, Seq("fp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_reused"))
      editedChunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(reused, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_reused"), lit(0L)).as("n_reused"))
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | wn AS (SELECT doc_id, w, len(w) AS n FROM w0 WHERE len(w) >= 1),
      | b AS (SELECT doc_id, w, n,
      |     CASE WHEN n >= 4 THEN list_filter(generate_series(3, n - 1),
      |       p -> ${h64("array_to_string(w[p-2:p], ' ')")} % 64 = 0)
      |     ELSE [] END AS bpos FROM wn),
      | c AS (SELECT doc_id, w, n,
      |     list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
      |     list_append(bpos, n) AS ends FROM b),
      | e AS (SELECT doc_id, w, starts, ends,
      |     unnest(generate_series(1, len(starts))) AS ci FROM c),
      | corpus_fp AS (SELECT DISTINCT
      |     ${h64("array_to_string(w[starts[ci]:ends[ci]], ' ')")} AS fp FROM e),
      | ew0 AS (SELECT doc_id + 100000 AS doc_id,
      |     string_split_regex(trim(text || ' zzedit'), '\\s+') AS w
      |   FROM documents WHERE doc_id % 5 = 0),
      | ewn AS (SELECT doc_id, w, len(w) AS n FROM ew0 WHERE len(w) >= 1),
      | eb AS (SELECT doc_id, w, n,
      |     CASE WHEN n >= 4 THEN list_filter(generate_series(3, n - 1),
      |       p -> ${h64("array_to_string(w[p-2:p], ' ')")} % 64 = 0)
      |     ELSE [] END AS bpos FROM ewn),
      | ec AS (SELECT doc_id, w, n,
      |     list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
      |     list_append(bpos, n) AS ends FROM eb),
      | ee AS (SELECT doc_id, w, starts, ends,
      |     unnest(generate_series(1, len(starts))) AS ci FROM ec),
      | ech AS (SELECT doc_id,
      |     ${h64("array_to_string(w[starts[ci]:ends[ci]], ' ')")} AS fp FROM ee)
      | SELECT doc_id, count(*) AS n_chunks,
      |   sum(CASE WHEN fp IN (SELECT fp FROM corpus_fp) THEN 1 ELSE 0 END)::BIGINT AS n_reused
      | FROM ech GROUP BY doc_id""".stripMargin))

  /** Span-overlap candidate pairs from the winnowing index — what MOSS
    * actually reports: documents sharing ≥ 2 selected fingerprints, i.e.
    * at least two independent ≥ 6-token runs in common (or one long one).
    * The inverted fingerprint self-join is bounded the same way the
    * n-gram Jaccard index is: fingerprints appearing in > 50 documents
    * (boilerplate) are dropped BEFORE pairing — MOSS's own over-common
    * exclusion — so no hot key can go quadratic; everything else is
    * |postings|² within rare fingerprints only. At 100 TB the fps
    * relation is the persisted winnow index (fp-bucketed), and this query
    * never rescans text.
    */
  val qWinnowOverlap = Fixture(
    "q_winnow_overlap",
    (s, d) => {
      val fps = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
        .where(size(col("w")) >= 6)
        .withColumn("hs", TextFunctions.kgramHashes(col("w"), 3))
        .select(col("doc_id"),
          explode(TextFunctions.winnowFromHashes(col("hs"), 4)).as("f"))
        .select(col("doc_id"), col("f.fp").as("fp")).distinct()
      val rare = fps.groupBy("fp").agg(count(lit(1)).as("nd"))
        .where(col("nd") <= 50).select("fp")
      val keep = fps.join(rare, Seq("fp"))
      keep.select(col("fp"), col("doc_id").as("doc_a"))
        .join(keep.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | h AS (SELECT doc_id,
      |     list_transform(generate_series(1, len(w) - 2),
      |       i -> ${h64("array_to_string(w[i:i+2], ' ')")}) AS hs
      |   FROM w0 WHERE len(w) >= 6),
      | st AS (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - 3)) AS j
      |        FROM h),
      | sel AS (SELECT DISTINCT doc_id, list_min(hs[j:j+3]) AS fp FROM st),
      | df AS (SELECT fp, count(*) AS nd FROM sel GROUP BY 1),
      | keep AS (SELECT doc_id, s.fp FROM sel s JOIN df USING (fp) WHERE nd <= 50),
      | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |       FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      | SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2""".stripMargin))

  /** Hard-negative mining — the contrastive-retrieval training-data shape:
    * for each query vector, the top neighbor is the pseudo-positive and
    * ranks 3..6 are the hard negatives (rank 2 is skipped as the classic
    * false-negative guard: the nearest non-positive is too often an
    * unlabeled true match). One ranked-candidates pass feeds both roles —
    * no second search. Candidate generation here is the exact brute
    * baseline so the oracle is closed-form; at 100 TB the SAME downstream
    * (rank-window + role split) runs off Ann.ivfSearchPersisted's
    * bucket-pruned candidates instead — mining cost is the index probe,
    * never a corpus×corpus pass.
    */
  val qHardNegatives = Fixture(
    "q_hard_negatives",
    (s, d) => Ann.bruteTopK(Tables.embeddings(s, d), col("vec_id") < 15, 6)
      .where(col("rank") === 1 || col("rank") >= 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"),
        when(col("rank") === 1, lit("pos")).otherwise(lit("neg")).as("role")),
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 15),
      | p AS (SELECT query_id, e.vec_id AS neighbor_id,
      |         ${dotSql("qv", "e.v")} AS ab, ${dotSql("qv", "qv")} AS aa, ${dotSql("e.v", "e.v")} AS bb
      |       FROM q JOIN e ON e.vec_id <> q.query_id),
      | c AS (SELECT query_id, neighbor_id, ${q4("ab / (sqrt(aa) * sqrt(bb))")} AS cos FROM p),
      | r AS (SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |       FROM c)
      | SELECT query_id, neighbor_id, cos, rank,
      |   CASE WHEN rank = 1 THEN 'pos' ELSE 'neg' END AS role
      | FROM r WHERE rank <= 6 AND (rank = 1 OR rank >= 3)""".stripMargin))

  /** Model-based quality filtering ([[TextFunctions.classifierProb]]):
    * hashed-feature linear classifier scored in ONE scan-side projection —
    * the plan shape of running a trained fastText-style keep/drop model
    * over 100 TB (the model rides the plan as a literal; no shuffle, no
    * join, no UDF). Output pins the probability AND the keep decision;
    * the threshold compares the quantized prob so both engines decide on
    * the same 4-decimal value.
    */
  val qQualityClassifier = Fixture(
    "q_quality_classifier",
    (s, d) => {
      val w = filter(TextFunctions.words(lower(col("text"))), x => x =!= "")
      val prob = Quant.q4(TextFunctions.classifierProb(col("w")))
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
          prob.as("prob"))
        .withColumn("keep", col("prob") >= lit(0.55))
    },
    Some(s"""WITH t AS (SELECT doc_id,
      |     list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
      |   FROM documents),
      | sc AS (SELECT doc_id, len(w)::BIGINT AS n_tok,
      |     ${foldSum(s"list_transform(w, x -> ((${h64("x")} % 1024) * 2654435761 % 1001 - 500) / 500.0)")} AS raw
      |   FROM t),
      | p AS (SELECT doc_id, n_tok,
      |     ${q4("1.0 / (1.0 + exp(-(raw / greatest(n_tok, 1) + 0.1)))")} AS prob
      |   FROM sc)
      | SELECT doc_id, n_tok, prob, prob >= 0.55 AS keep FROM p""".stripMargin))

  /** BM25 over the PERSISTED posting index ([[graft.similarity.Bm25]]):
    * same query, same top-20, but the corpus scan happened at index-build
    * time — the probe reads only the 3 query terms' buckets (bucket
    * pruning on the term key), derives df from those pruned postings, and
    * scores with the scan form's exact double chain. Oracle reused
    * verbatim from q_bm25_topk: the index must be invisible in the result.
    */
  val qBm25Index = Fixture(
    "q_bm25_index_topk",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val tbl = s"graft_bm25_idx_$h"
      FixtureOnce(tbl) {
        graft.similarity.Bm25.writeIndex(
          Tables.documents(s, d), "doc_id", "text", tbl,
          s"${sys.props("java.io.tmpdir")}/graft_bm25/$h", 8)
      }
      graft.similarity.Bm25.searchTopK(s, tbl, Seq("table", "row", "window"), 20)
    },
    qBm25.oracle)

  /** Index lifecycle: build the posting index on HALF the corpus, append
    * the other half incrementally ([[graft.similarity.Bm25.appendIndex]] —
    * only the batch shuffles, stats fold additively, no lake rescan), then
    * search. Result must equal the full-corpus scan-bound BM25 exactly
    * (oracle reused verbatim): the search cannot tell whether the index
    * was built in one shot or grown crawl-by-crawl.
    */
  val qBm25IndexAppend = Fixture(
    "q_bm25_index_append",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val tbl = s"graft_bm25_app_$h"
      val docs = Tables.documents(s, d)
      graft.similarity.Bm25.writeIndex(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", tbl,
        s"${sys.props("java.io.tmpdir")}/graft_bm25_app/$h", 8)
      graft.similarity.Bm25.appendIndex(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", tbl)
      graft.similarity.Bm25.searchTopK(s, tbl, Seq("table", "row", "window"), 20)
    },
    qBm25.oracle)

  /** STREAMING ingest into the persisted BM25 index — the
    * [[qStreamIvfIngest]] protocol on the three-table lexical index:
    * build on the even half ([[graft.similarity.Bm25.writeIndexIngestable]]),
    * stream the odd half in 2 micro-batches (each landing docs + postings
    * + stats partitions keyed by batchId), then crash-replay the last
    * batch. A double-append would double that batch's df and corpus
    * stats and shift every BM25 score — the full-corpus scan oracle
    * certifies the replay rewrote, not re-appended. This also closes
    * [[graft.similarity.Bm25.appendIndex]]'s residual crash window: a
    * batch that died between its three table writes is healed whole by
    * the replay's partition overwrites.
    */
  val qStreamBm25Ingest = Fixture(
    "q_stream_bm25_ingest",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val docs = Tables.documents(s, d)
      val tbl = s"graft_bm25_ing_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_bm25_ing/$h/$run"
      graft.similarity.Bm25.writeIndexIngestable(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", tbl, dir, 8)
      val chunks = Replay.parts(docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")), 2, "doc_id")
      Replay.start(s, chunks) {
        graft.streaming.StreamingIndexIngest.startBm25(_, "doc_id", "text", tbl, s"$dir/cp")
      }
      graft.streaming.StreamingIndexIngest.applyBm25Batch(
        chunks.lastTrigger(s), "doc_id", "text", tbl, chunks.triggers.length - 1L)
      graft.similarity.Bm25.searchTopK(s, tbl, Seq("table", "row", "window"), 20)
    },
    qBm25.oracle)

  /** STREAMING ingest into the persisted MinHash near-dup band index —
    * the [[qStreamIvfIngest]] protocol on the THIRD persisted index
    * family (near-dup, beside IVF dense and BM25 lexical): the lake is
    * the `doc_id % 4 == 0` quarter in the ingestable layout
    * ([[Dedup.minhashWriteIndexIngestable]]), the `% 4 == 2` quarter
    * arrives as a 2-chunk stream whose micro-batches land bands + shingle
    * store as `ingest_batch = batchId` partitions, then the LAST batch is
    * crash-replayed with the same batchId. The probe (odd docs, unchanged
    * [[Dedup.minhashProbeIndex]]) must equal [[qDedupIndexProbe]]'s exact
    * cross-parity Jaccard oracle over the full even half: a double-append
    * cannot change the pair SET (bands only add candidates; verification
    * is exact), but a TORN batch (bands landed, shingle store didn't)
    * would silently verify candidates against missing shingle rows and
    * drop pairs — the oracle certifies the two-table batch landed whole
    * and the replay rewrote rather than re-appended.
    */
  val qStreamMinhashIngest = Fixture(
    "q_stream_minhash_index_ingest",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val docs = Tables.documents(s, d)
      val tbl = s"graft_mh_ing_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_mh_ing/$h/$run"
      Dedup.minhashWriteIndexIngestable(docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", 3, tbl, s"$dir/idx", 8)
      val chunks = Replay.parts(docs.where(col("doc_id") % 4 === 2)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")), 2, "doc_id")
      Replay.start(s, chunks) {
        graft.streaming.StreamingIndexIngest.startMinhash(_, "doc_id", "text", 3, tbl,
          s"$dir/cp")
      }
      // crash-replay of the last micro-batch: same batchId, same rows —
      // both partition overwrites must leave the index bit-identical
      graft.streaming.StreamingIndexIngest.applyMinhashBatch(
        chunks.lastTrigger(s), "doc_id", "text", 3, tbl, chunks.triggers.length - 1L)
      Dedup.minhashProbeIndex(s, docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", 3, 0.8, tbl)
    },
    qDedupIndexProbe.oracle)

  /** The crawl→curate→index loop as ONE app — every stage is proven alone
    * elsewhere; this fixture runs them COMPOSED, because multi-sink
    * checkpoint coordination is where exactly-once stories actually
    * break. One source (the even-doc stream) flows through first-seen
    * exact dedup ([[graft.streaming.StreamingDedup.firstSeen]]) → a
    * quality gate (≥ 40 whitespace tokens) → a SINGLE foreachBatch that
    * lands the batch into TWO index families per trigger — BM25 lexical
    * ([[graft.streaming.StreamingIndexIngest.applyBm25Batch]], itself
    * three tables) and the MinHash near-dup band index
    * ([[graft.streaming.StreamingIndexIngest.applyMinhashBatch]], two) —
    * five tables total riding one batchId. The LAST batch is then
    * crash-replayed into BOTH families (the torn multi-sink batch: died
    * after some writes, re-delivered whole), and the final probes must
    * still match: `ingest_batch = batchId` partition overwrites heal
    * every table independently, so a batch is exactly-once across SINKS,
    * not just within one. Output = the two serving probes tag-unioned
    * (BM25 top-20 + τ = 0.8 near-dup pairs of the odd docs against the
    * curated index); the oracle recomputes both against the
    * dedup+quality-filtered even population from scratch.
    */
  val qStreamPipelineComposite = Fixture(
    "q_stream_pipeline_composite",
    (s, d) => {
      import graft.streaming.StreamingIndexIngest
      val h = Integer.toHexString(d.hashCode)
      val run = java.lang.Long.toHexString(System.nanoTime)
      val docs = Tables.documents(s, d)
      val quality = size(TextFunctions.words(col("text"))) >= 40
      val bmTbl = s"graft_pipe_bm_${h}_$run"
      val mhTbl = s"graft_pipe_mh_${h}_$run"
      val dir = s"${sys.props("java.io.tmpdir")}/graft_pipe/$h/$run"
      // seed both families with the already-curated %4==0 lake quarter
      // (batch path, same dedup+quality semantics — exact dedup is
      // fingerprint-idempotent and the gate is a pure predicate)
      val seed = docs.where(col("doc_id") % 4 === 0 && quality)
      graft.similarity.Bm25.writeIndexIngestable(
        seed, "doc_id", "text", bmTbl, s"$dir/bm", 8)
      Dedup.minhashWriteIndexIngestable(
        seed, "doc_id", "text", 3, mhTbl, s"$dir/mh", 8)
      // the live source: the %4==2 quarter, event-time ordered, replayed
      // from a STAGED FILE SET (graft.streaming.FileReplay) — one file
      // per trigger, so each micro-batch gets real scan splits and the
      // bench measures the pipeline, not a driver-side addData feed; the
      // staged dir is content-keyed and reused across bench attempts
      val replayDir = s"${sys.props("java.io.tmpdir")}/graft_replay_pipe_$h"
      graft.streaming.FileReplay.stageOrdered(
        docs.where(col("doc_id") % 4 === 2)
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
        replayDir, "doc_id", 2)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(replayDir)
        .withColumn("ts", timestamp_micros(col("doc_id") + 1000000L))
      val curated = graft.streaming.StreamingDedup.firstSeen(
          stream, "text", "ts", "1 hour")
        .where(quality)
        .select("doc_id", "text")
      Replay.drain(s) {
        curated.writeStream
          .option("checkpointLocation", s"$dir/cp")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // ONE batch, TWO families: both appends key their partition
            // overwrites on the same batchId
            val b = batch.persist()
            try {
              StreamingIndexIngest.applyBm25Batch(b, "doc_id", "text",
                bmTbl, batchId)
              StreamingIndexIngest.applyMinhashBatch(b, "doc_id", "text",
                3, mhTbl, batchId)
            } finally { b.unpersist(); () }
          }
          .start()
      }
      // crash-replay of the LAST batch into BOTH families: the last
      // staged file IS the last micro-batch (one file per trigger), its
      // post-pipeline rows re-derived (dedup is passthrough on this
      // corpus, the gate is deterministic), same batchId — every table
      // must come out bit-identical
      val replay = s.read.parquet(
          graft.streaming.FileReplay.stagedFiles(replayDir).last)
        .where(quality)
      StreamingIndexIngest.applyBm25Batch(replay, "doc_id", "text", bmTbl, 1L)
      StreamingIndexIngest.applyMinhashBatch(replay, "doc_id", "text", 3,
        mhTbl, 1L)
      // serving probes, tag-unioned: lexical top-k over the curated index
      // + near-dup screening of the odd docs against it
      val bm = graft.similarity.Bm25
        .searchTopK(s, bmTbl, Seq("table", "row", "window"), 20)
        .select(lit("bm25").as("part"), col("doc_id").cast("long").as("a"),
          col("dl").cast("long").as("b"), col("score").as("x"))
      val nd = Dedup.minhashProbeIndex(s, docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text", 3, 0.8, mhTbl)
        .select(lit("neardup").as("part"), col("new_id").cast("long").as("a"),
          col("corpus_id").cast("long").as("b"), col("jac").as("x"))
      bm.unionByName(nd)
    },
    Some(s"""WITH wq AS (SELECT doc_id, text FROM documents
      |   WHERE len(string_split_regex(trim(text), '\\s+')) >= 40
      |     AND doc_id % 2 = 0),
      | t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      |       FROM wq),
      | f AS (SELECT doc_id, len(w)::BIGINT AS dl,
      |         len(list_filter(w, x -> x = 'table'))::BIGINT AS tf0,
      |         len(list_filter(w, x -> x = 'row'))::BIGINT AS tf1,
      |         len(list_filter(w, x -> x = 'window'))::BIGINT AS tf2
      |       FROM t),
      | st AS (SELECT count(*) AS n, sum(dl)::BIGINT AS sdl,
      |          sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
      |          sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
      |          sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
      |        FROM f),
      | sc AS (SELECT doc_id, dl,
      |     ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) /
      |       (tf0 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
      |   + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) /
      |       (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
      |   + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) /
      |       (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl / n))) AS s
      |   FROM f, st WHERE tf0 + tf1 + tf2 > 0),
      | bm AS (SELECT 'bm25' AS part, doc_id AS a, dl AS b, ${q4("s")} AS x
      |        FROM sc ORDER BY x DESC, doc_id LIMIT 20),
      | w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f2 AS (SELECT doc_id, len(s) AS n, s FROM sh WHERE len(s) > 0),
      | e AS (SELECT doc_id, n, unnest(s) AS sg FROM f2),
      | p AS (SELECT a.doc_id AS corpus_id, a.n AS na,
      |         b.doc_id AS new_id, b.n AS nb, count(*) AS inter
      |       FROM e a JOIN e b ON a.sg = b.sg
      |         AND a.doc_id IN (SELECT doc_id FROM wq)
      |         AND b.doc_id % 2 = 1
      |       GROUP BY 1, 2, 3, 4),
      | nd AS (SELECT 'neardup' AS part, new_id AS a, corpus_id AS b, jac AS x
      |        FROM (SELECT new_id, corpus_id,
      |                ${q4("inter / (na + nb - inter)")} AS jac FROM p)
      |        WHERE jac >= 0.8)
      | SELECT part, a, b, x FROM bm
      | UNION ALL
      | SELECT part, a, b, x FROM nd""".stripMargin))

  /** Corpus vocabulary top-k: whitespace tokens of lowercased text, top 100
    * by (count desc, term asc). orderBy+limit plans as TakeOrdered — a
    * per-partition bounded heap then a k-merge, never a global sort; the
    * groupBy input is |corpus| but its output (the vocabulary) is what flows
    * into the top-k.
    */
  val qVocabTopK = Fixture(
    "q_vocab_topk",
    (s, d) => Tables.documents(s, d)
      .select(explode(TextFunctions.words(lower(col("text")))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(100),
    Some("""WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      | c AS (SELECT w, count(*) AS cnt FROM t WHERE w <> '' GROUP BY 1)
      | SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 100""".stripMargin))

  /** Benchmark decontamination: docs 0-24 stand in for the eval set; every
    * other doc reports how many of its distinct 3-gram shingles appear in it.
    */
  val qDecontaminate = Fixture(
    "q_decontaminate",
    (s, d) => {
      val all = Tables.documents(s, d)
      Dedup.contamination(
        all.where(col("doc_id") >= 25), all.where(col("doc_id") < 25),
        "doc_id", "text", 3)
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT doc_id, $shinglesSql AS s FROM w0),
      | f AS (SELECT doc_id, len(s) AS n_sh, s FROM sh WHERE len(s) > 0),
      | bench AS (SELECT DISTINCT unnest(s) AS sg FROM f WHERE doc_id < 25),
      | posts AS (SELECT doc_id, n_sh, unnest(s) AS sg FROM f WHERE doc_id >= 25)
      | SELECT doc_id, count(*) AS n_overlap,
      |        ${q4("count(*) / any_value(n_sh)")} AS frac
      | FROM posts JOIN bench USING (sg) GROUP BY doc_id""".stripMargin))

  /** SPAN-LEVEL decontamination — mask the contaminated n-gram spans
    * instead of dropping the document (the modern alternative to doc-level
    * removal when an otherwise-good page quotes an eval item): token p is
    * masked iff some 3-gram window covering p appears in the eval set, and
    * the document is re-emitted with those tokens replaced by `<MASK>`.
    *
    * Plan shape: POSITIONAL shingles (not the distinct set — spans need
    * starts) explode once; the eval-set shingle relation is distinct-ed and
    * broadcast (eval sets are small by definition) and a LEFT SEMI probe
    * keeps only contaminated starts, so the per-doc mask aggregation
    * shuffles contaminated positions only — orders of magnitude below the
    * posting count. The rebuild is a scan-side HOF over the token array.
    * The oracle replays positions, windows, and the rebuilt string, so the
    * masked TEXT itself is hash-compared.
    */
  val qDecontaminateMask = Fixture(
    "q_decontaminate_mask",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      val posts = docs.where(size(col("w")) >= 3)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("w")) - 2),
            i => concat_ws(" ", slice(col("w"), i, lit(3))))))
        .select(col("doc_id"), (col("pos") + 1).as("s"), col("col").as("sg"))
      val bench = posts.where(col("doc_id") < 25).select("sg").distinct()
      val mpos = posts.where(col("doc_id") >= 25)
        .join(broadcast(bench), Seq("sg"), "left_semi")
        .select(col("doc_id"),
          explode(array(col("s"), col("s") + 1, col("s") + 2)).as("p"))
        .groupBy("doc_id").agg(sort_array(collect_set(col("p"))).as("mp"))
      docs.join(mpos, "doc_id")
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
          size(col("mp")).cast("long").as("n_masked"),
          concat_ws(" ", transform(sequence(lit(1), size(col("w"))),
            p => when(array_contains(col("mp"), p), lit("<MASK>"))
              .otherwise(element_at(col("w"), p)))).as("text_masked"))
    },
    Some(s"""WITH w0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
      | st AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS s
      |        FROM w0 WHERE len(w) >= 3),
      | po AS (SELECT doc_id, s, array_to_string(w[s:s+2], ' ') AS sg FROM st),
      | bset AS (SELECT DISTINCT sg FROM po WHERE doc_id < 25),
      | cont AS (SELECT po.doc_id, po.s FROM po JOIN bset USING (sg)
      |          WHERE po.doc_id >= 25),
      | mp AS (SELECT doc_id, list_sort(list(p)) AS mp FROM
      |          (SELECT DISTINCT doc_id, s + o AS p
      |           FROM cont CROSS JOIN (VALUES (0), (1), (2)) AS t(o))
      |        GROUP BY doc_id)
      | SELECT w0.doc_id, len(w)::BIGINT AS n_tok, len(mp)::BIGINT AS n_masked,
      |   array_to_string(list_transform(generate_series(1, len(w)), p ->
      |     CASE WHEN list_contains(mp, p) THEN '<MASK>' ELSE w[p] END),
      |     ' ') AS text_masked
      | FROM w0 JOIN mp USING (doc_id)""".stripMargin))

  /** STREAMING decontamination at ingest: the document stream is probed
    * against the eval-set shingle set as a STATELESS projection — the
    * hashed eval shingles ride in the plan as a sorted array literal
    * (bounded by the EVAL set, the same smallness argument as the batch
    * broadcast; at eval sets too large to inline, chain the
    * contaminationBloom expression as a prefilter and sweep exact counts
    * in batch). No state store, no watermark: contamination flagging adds
    * no streaming machinery to the ingest path (the one round-robin
    * shuffle only spreads the driver-fed replay block across cores). Kept
    * semantics and output are identical to batch [[qDecontaminate]], so
    * its oracle is reused verbatim.
    */
  lazy val qStreamDecontaminate = Fixture(
    "q_stream_decontaminate",
    (s, d) => {
      val all = Tables.documents(s, d)
      val evalSet: Array[Long] = all.where(col("doc_id") < 25)
        .select(explode(TextFunctions.shingles(col("text"), 3)).as("s0"))
        .select(xxhash64(col("s0")).as("sg")).distinct()
        .collect().map(_.getLong(0)).sorted
      // membership probe = ONE codegen'd sorted-merge per row
      // (SortedIntersectSize against the sorted eval literal), not a
      // per-shingle linear array_contains over the |eval| literal — the
      // latter is O(|sh|·|eval|) interpreted work per document and
      // measured 24.6 s at sf0.1 for this replay; the merge form is
      // O(|sh| + |eval|) native. The hash array stages via withColumn so
      // the shingle transform runs once per row (winnow's staging rule).
      import org.apache.spark.sql.GraftColumnBridge
      val litSet = lit(evalSet) // ascending — the merge contract
      // ONE trigger (the probe is STATELESS — no state store, no
      // watermark — so batch boundaries cannot affect any row), spread
      // across cores before the shingle+hash+merge projection, which is
      // the cost: one replay block is ONE partition
      Replay(s, Replay.parts(all.where(col("doc_id") >= 25)
          .select("doc_id", "text"), 1, "doc_id"), "stream_decon") { docs =>
        docs.repartition(16)
          .withColumn("sh", TextFunctions.shingles(col("text"), 3))
          .where(size(col("sh")) > 0)
          .withColumn("shh", sort_array(transform(col("sh"), x => xxhash64(x))))
          .withColumn("n_overlap", GraftColumnBridge.column(
            graft.functions.SortedIntersectSize(
              GraftColumnBridge.expression(col("shh")),
              GraftColumnBridge.expression(litSet), 0.0)).cast("long"))
          .where(col("n_overlap") > 0)
          .select(col("doc_id"), col("n_overlap"),
            Quant.q4(col("n_overlap") / size(col("sh"))).as("frac"))
      }
    },
    qDecontaminate.oracle)

  /** Top-k rows per group (k best documents per source by quality) through
    * the bounded-heap aggregate ([[graft.functions.TopKAgg]]) instead of
    * rank-then-filter: a row_number window sorts EVERY row of each group
    * (full shuffle + per-group sort), while the heap keeps O(k) state that
    * partial-aggregates map-side — the per-group analog of TakeOrdered. The
    * oracle IS the rank-filter form, pinning the (score desc, id asc)
    * equivalence the aggregate documents.
    */
  val qTopkPerGroup = Fixture(
    "q_topk_per_group",
    (s, d) => Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        Quant.q4(TextFunctions.qualityScore(col("text"))).as("q"))
      .groupBy("source")
      .agg(graft.functions.TopKAgg.topK(col("q"), col("doc_id"), 3).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("quality")),
    Some(s"""WITH t0 AS (SELECT source, doc_id,
      |   len($wordsSql)::DOUBLE AS n_tok, length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop
      | FROM documents),
      | t AS (SELECT source, doc_id,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS quality
      | FROM t0),
      | r AS (SELECT source, doc_id, quality,
      |   row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
      | FROM t)
      | SELECT source, rank, doc_id, quality FROM r WHERE rank <= 3""".stripMargin))

  /** [[qDecontaminate]] through the Bloom-prefilter path
    * ([[Dedup.contaminationBloom]]): sketch broadcast + shuffled exact
    * verify instead of an exact-set broadcast — the shape for eval sets too
    * large for executor memory. Same oracle: the bloom's false positives are
    * removed by the exact semi-join, so the results must coincide.
    */
  val qDecontaminateBloom = Fixture(
    "q_decontaminate_bloom",
    (s, d) => {
      val all = Tables.documents(s, d)
      Dedup.contaminationBloom(
        all.where(col("doc_id") >= 25), all.where(col("doc_id") < 25),
        "doc_id", "text", 3, expectedItems = 1L << 16)
    },
    qDecontaminate.oracle)

  /** Deterministic train/val/test split assignment: each document lands in
    * a split by a fixed-width band of its content-hash (98 / 1 / 1 %),
    * independent of row order, partitioning, or corpus growth — re-running
    * on an extended corpus never reassigns an existing doc. Output is the
    * per-(source, split) accounting. Pure projection + one aggregation.
    * Bands come from the md5-prefix hash64 (cross-engine identical); the
    * modulus is 1000, so band edges are exact integers in both engines.
    */
  val qSplitAssign = Fixture(
    "q_split_assign",
    (s, d) => Tables.documents(s, d)
      .select(col("source"),
        pmod(TextFunctions.fingerprint64(col("text")), lit(1000L)).as("band"))
      .withColumn("split",
        when(col("band") < 980, "train")
          .when(col("band") < 990, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs")),
    Some(s"""WITH t AS (SELECT source,
      |   ((${h64("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")}) % 1000 + 1000) % 1000 AS band
      | FROM documents)
      | SELECT source,
      |   CASE WHEN band < 980 THEN 'train'
      |        WHEN band < 990 THEN 'val' ELSE 'test' END AS split,
      |   count(*) AS n_docs
      | FROM t GROUP BY 1, 2""".stripMargin))

  /** Partitioned-parquet write → pruned read roundtrip: documents written
    * `partitionBy(source)` (the standard layout for a curated corpus — one
    * directory per source), read back with a partition-key predicate, and
    * aggregated. The predicate must resolve at PLANNING time from the
    * directory listing (PartitionFilters, zero data files of other sources
    * opened) — the difference between scanning 1/20th and all of 100 TB.
    * PartitionSpec asserts the pruned-scan plan shape; this fixture pins the
    * roundtrip VALUES (partition-column type restoration included) against
    * the direct DuckDB aggregate.
    */
  val qPartitionedRoundtrip = Fixture(
    "q_partitioned_roundtrip",
    (s, d) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_part_${Integer.toHexString(d.hashCode)}").getAbsolutePath
      Tables.documents(s, d).write.mode("overwrite")
        .partitionBy("source").parquet(out)
      s.read.parquet(out)
        .where(col("source") === "src7")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    },
    Some("""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      | FROM documents WHERE source = 'src7' GROUP BY 1""".stripMargin))

  /** Bucketed-layout roundtrip → co-located fingerprint join: documents and
    * their exact-dedup keeper index both written `bucketBy(8, fp)` (the
    * shuffle paid once, at write time), read back through the catalog, and
    * joined + aggregated on `fp` — the join and BOTH aggregations plan with
    * ZERO shuffle exchanges because every operator's required distribution
    * is already the storage layout (BucketingSpec pins that plan shape).
    * This is the 100 TB curated-corpus layout: every fp-keyed pass the
    * pipeline makes (keeper joins, incremental crawl dedup, contamination)
    * reuses one ingest-time shuffle. This fixture pins the VALUES against
    * the direct DuckDB join on the raw parquet — bucketing must be a pure
    * layout change, invisible in the results.
    */
  val qBucketedJoin = Fixture(
    "q_bucketed_join",
    (s, d) => {
      val h = Integer.toHexString(d.hashCode)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_bucket_$h").getAbsolutePath
      val docs = Tables.documents(s, d).select(
        col("doc_id"), col("source"), col("lang"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"))
      graft.sources.Bucketing.writeBucketed(
        docs, s"graft_docs_b_$h", s"$base/docs", 8, "fp", Seq("fp"))
      val docsB = s.table(s"graft_docs_b_$h")
      val keepers = docsB.groupBy("fp").agg(min("doc_id").as("keeper_id"))
      graft.sources.Bucketing.writeBucketed(
        keepers, s"graft_keep_b_$h", s"$base/keepers", 8, "fp", Seq("fp"))
      docsB.join(s.table(s"graft_keep_b_$h"), Seq("fp"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("keeper_id"), 1L).otherwise(0L))
            .as("n_keepers"))
    },
    Some(s"""WITH f AS (SELECT doc_id, source, lang,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents),
      | k AS (SELECT fp, min(doc_id) AS keeper_id FROM f GROUP BY 1)
      | SELECT source, lang, count(*) AS n_docs,
      |   sum(CASE WHEN doc_id = keeper_id THEN 1 ELSE 0 END)::BIGINT AS n_keepers
      | FROM f JOIN k USING (fp) GROUP BY 1, 2""".stripMargin))

  /** Repetition ratio + type-token ratio — Gopher-style cheap quality
    * signals: top token frequency over total tokens, and distinct over total.
    */
  val qRepetition = Fixture(
    "q_repetition",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFunctions.words(lower(col("text")))).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"),
        Quant.q4(col("mx") / col("tot")).as("rep_ratio"),
        Quant.q4(col("n_distinct") / col("tot")).as("ttr")),
    Some("""WITH t AS (SELECT doc_id,
      |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |       FROM documents),
      | c AS (SELECT doc_id, w, count(*) AS c FROM t WHERE w <> '' GROUP BY 1, 2),
      | a AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot, count(*) AS n_distinct
      |       FROM c GROUP BY 1)
      | SELECT doc_id,
      |   floor((mx / tot) * 10000 + 0.5) / 10000 AS rep_ratio,
      |   floor((n_distinct / tot) * 10000 + 0.5) / 10000 AS ttr
      | FROM a""".stripMargin))

  /** End-to-end curation funnel per source — the composite query a real
    * corpus pipeline runs: total docs, docs passing the quality threshold,
    * docs whose predicted language matches the labeled one, exact-dedup
    * keepers, and the intersection (retained). One fingerprint shuffle +
    * a same-key join back + a tiny per-source aggregate.
    */
  val qCurationFunnel = Fixture(
    "q_curation_funnel",
    (s, d) => {
      val enriched = Tables.documents(s, d).select(
        col("doc_id"), col("source"), col("lang"),
        Quant.q4(TextFunctions.qualityScore(col("text"))).as("q"),
        TextFunctions.langId(col("text")).as("lp"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"))
      val keepers = enriched.groupBy("fp").agg(min("doc_id").as("keeper"))
      enriched.join(keepers, Seq("fp"))
        .withColumn("is_keeper", (col("doc_id") === col("keeper")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("total"),
          sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("lp") === col("lang"), 1L).otherwise(0L)).as("n_lang_ok"),
          sum(col("is_keeper")).as("n_unique"),
          sum(when(col("q") >= 0.5 && col("lp") === col("lang") &&
            col("is_keeper") === 1L, 1L).otherwise(0L)).as("n_retained"))
    },
    Some(s"""WITH t AS (SELECT doc_id, source, lang,
      |   len($wordsSql)::DOUBLE AS n_tok,
      |   length(text)::DOUBLE AS n_chars,
      |   len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS alpha,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))::DOUBLE AS stop,
      |   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) AS en,
      |   len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b')) AS es,
      |   len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS de,
      |   len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS fr,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      | FROM documents),
      | e AS (SELECT doc_id, source, lang, fp,
      |   ${q4("least(n_tok / 100.0, 1.0) * 0.3 + (alpha / greatest(n_chars, 1.0)) * 0.4 + least(stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3")} AS q,
      |   CASE WHEN en + es + de + fr = 0 THEN 'und'
      |        WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |        WHEN es >= de AND es >= fr THEN 'es'
      |        WHEN de >= fr THEN 'de' ELSE 'fr' END AS lp
      | FROM t),
      | k AS (SELECT fp, min(doc_id) AS keeper FROM e GROUP BY 1)
      | SELECT source, count(*) AS total,
      |   sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_quality,
      |   sum(CASE WHEN lp = lang THEN 1 ELSE 0 END)::BIGINT AS n_lang_ok,
      |   sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)::BIGINT AS n_unique,
      |   sum(CASE WHEN q >= 0.5 AND lp = lang AND doc_id = keeper THEN 1 ELSE 0 END)::BIGINT AS n_retained
      | FROM e JOIN k USING (fp) GROUP BY 1""".stripMargin))

  /** Per-source token-length percentiles — the corpus length profile a
    * pipeline reads before choosing truncation/packing parameters. Exact
    * `percentile` here (bit-matches DuckDB quantile_cont: both interpolate at
    * rank p·(n−1)); at 100 TB swap the same call for `approx_percentile` —
    * identical plan shape, one partial aggregation per source, no row
    * expansion either way.
    */
  val qLengthPercentiles = Fixture(
    "q_length_percentiles",
    (s, d) => Tables.documents(s, d)
      .select(col("source"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(Quant.q4(expr("percentile(n_tok, 0.5D)")).as("p50"),
           Quant.q4(expr("percentile(n_tok, 0.9D)")).as("p90"),
           Quant.q4(expr("percentile(n_tok, 0.99D)")).as("p99"),
           count(lit(1)).as("n_docs")),
    Some(s"""WITH t AS (SELECT source, len($wordsSql) AS n_tok FROM documents)
      | SELECT source, ${q4("quantile_cont(n_tok, 0.5)")} AS p50,
      |   ${q4("quantile_cont(n_tok, 0.9)")} AS p90,
      |   ${q4("quantile_cont(n_tok, 0.99)")} AS p99,
      |   count(*) AS n_docs
      | FROM t GROUP BY 1""".stripMargin))

  /** Sketch-based distinct counting (HyperLogLog++): per-source distinct
    * token count. The sketch is the 100 TB path — one pass, fixed-size
    * mergeable state per group, partial-aggregated map-side, while exact
    * `count(DISTINCT)` must shuffle every distinct value (Expand doubles the
    * input here just to co-compute both). DuckDB cannot reproduce Spark's
    * HLL++ registers, so the fixture pins the operational contract instead:
    * the estimate must land within 10 % of the exact count (2× the declared
    * rsd 0.05; HLL++ is deterministic for fixed input, so the boolean is
    * stable). The exact count rides along so the oracle still compares real
    * values, not just literals.
    */
  val qApproxDistinct = Fixture(
    "q_approx_distinct",
    (s, d) => Tables.documents(s, d)
      .select(col("source"),
        explode_outer(TextFunctions.words(col("text"))).as("w"))
      .groupBy("source")
      .agg(countDistinct(col("w")).as("n_exact"),
           approx_count_distinct(col("w"), 0.05).as("__est"))
      .select(col("source"), col("n_exact"),
        (abs(col("__est") - col("n_exact")) <= col("n_exact") * 0.1).as("hll_ok")),
    Some(s"""WITH t AS (SELECT source, unnest($wordsSql) AS w FROM documents)
      | SELECT source, count(DISTINCT w) AS n_exact, TRUE AS hll_ok
      | FROM t GROUP BY 1""".stripMargin))

  /** Sketch-based quantiles (Greenwald-Khanna via `approx_percentile`): the
    * 100 TB swap that [[qLengthPercentiles]]'s docstring names, made real and
    * accuracy-pinned. The sketch returns an actual data value at rank error
    * ≤ n/accuracy; the contract checked cross-engine is that each estimate
    * lands within max(10 %, ±2 tokens) of the exact interpolated percentile
    * (the slack absorbs discrete-vs-interpolated at small n; both engines'
    * exact interpolation already bit-matches in [[qLengthPercentiles]]).
    * `n_docs` rides along as the oracle's real-valued column.
    */
  val qApproxQuantiles = Fixture(
    "q_approx_quantiles",
    (s, d) => {
      def ok(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
        abs(est - exact) <= greatest(exact * 0.1, lit(2.0))
      Tables.documents(s, d)
        .select(col("source"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("approx_percentile(n_tok, array(0.5D, 0.9D, 0.99D), 10000)").as("__e"),
          expr("percentile(n_tok, 0.5D)").as("__x50"),
          expr("percentile(n_tok, 0.9D)").as("__x90"),
          expr("percentile(n_tok, 0.99D)").as("__x99"))
        .select(col("source"), col("n_docs"),
          ok(element_at(col("__e"), 1), col("__x50")).as("ok_p50"),
          ok(element_at(col("__e"), 2), col("__x90")).as("ok_p90"),
          ok(element_at(col("__e"), 3), col("__x99")).as("ok_p99"))
    },
    Some(s"""WITH t AS (SELECT source, len($wordsSql) AS n_tok FROM documents)
      | SELECT source, count(*) AS n_docs,
      |   TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
      | FROM t GROUP BY 1""".stripMargin))

  /** Per-doc vocabulary coverage: fraction of a document's tokens in the
    * corpus-wide top-k vocabulary — the cheap OOV-rate proxy used to filter
    * noisy documents before tokenizer training. The vocabulary is a
    * TakeOrdered over a word-count aggregate (no global sort; ties broken by
    * word for cross-engine determinism) and is broadcast to the scoring
    * join, so the raw corpus never shuffles: scan → broadcast-hash join →
    * per-doc aggregate.
    */
  val qVocabCoverage = Fixture(
    "q_vocab_coverage",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = docs
        .select(explode(TextFunctions.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(10)
        .select(col("w"), lit(1L).as("in_v"))
      docs.select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
             sum(coalesce(col("in_v"), lit(0L))).as("n_in"))
        .select(col("doc_id"), col("n_tok"), col("n_in"),
          Quant.q4(col("n_in") / col("n_tok")).as("coverage"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
      | v AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY 1)
      |        ORDER BY cnt DESC, w LIMIT 10)
      | SELECT doc_id, count(*) AS n_tok,
      |   sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END)::BIGINT AS n_in,
      |   ${q4("sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) / count(*)")} AS coverage
      | FROM tok GROUP BY 1""".stripMargin))

  /** Cross-document boilerplate coverage ([[Dedup.boilerplateCoverage]]):
    * per-doc fraction of distinct 3-gram shingles that appear in ≥ 2 docs
    * of the same source — the site-template signal. The cached doc-sized
    * shingle-array relation feeds both the per-source df aggregation and
    * the semi-join probe of its df-filtered boilerplate set; the oracle
    * replays the identical per-source df over the same distinct-shingle
    * relation.
    */
  val qBoilerplate = Fixture(
    "q_boilerplate",
    (s, d) => Dedup.boilerplateCoverage(
      Tables.documents(s, d), "source", "doc_id", "text", 3, 2),
    Some(s"""WITH w0 AS (SELECT source, doc_id, $wordsSql AS w FROM documents),
      | sh AS (SELECT source, doc_id, unnest($shinglesSql) AS sg
      |        FROM w0 WHERE len(w) >= 3),
      | df AS (SELECT source, sg, count(*) AS df FROM sh GROUP BY 1, 2)
      | SELECT sh.source, doc_id, count(*) AS n_sh,
      |   sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
      |   ${q4("sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) / count(*)")} AS boiler_frac
      | FROM sh JOIN df ON sh.source = df.source AND sh.sg = df.sg
      | GROUP BY 1, 2""".stripMargin))

  /** Inter-source n-gram overlap matrix: for each source pair, the count of
    * distinct 3-gram shingles in common and the shingle-set Jaccard — the
    * source-similarity accounting a curation pipeline uses to order crawls
    * before dedup.
    *
    * Scale shape — ONE wide shuffle, all-long hash aggregation: sources map
    * to bit positions (broadcast dim, ≤ 64 sources per run — shard the
    * matrix by source group beyond that), shingles hash to longs (collision
    * odds ≈ |shingles|²/2⁶⁵, at worst one count ±1), and a single
    * groupBy(sg).bit_or(1 << sid) folds the corpus to one LONG mask per
    * distinct shingle — dedup and co-occurrence in the same codegen'd
    * HashAggregate (no collect_set object aggregation, which falls back to
    * sort-based past ~128 k groups; no distinct + self-join, which would
    * shuffle the relation three times). The mask histogram is tiny
    * (≤ 2^|sources| in theory, thousands in practice); pair expansion and
    * per-source totals are HOF array work over its set bits, weighted by
    * count — never a join against the corpus.
    */
  val qSourceOverlap = Fixture(
    "q_source_overlap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      sourceOverlap(s, docs)
    },
    Some(s"""WITH w0 AS (SELECT source, $wordsSql AS w FROM documents),
      | sh AS (SELECT DISTINCT source, unnest($shinglesSql) AS sg
      |        FROM w0 WHERE len(w) >= 3),
      | n AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
      | p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      |       FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
      |       GROUP BY 1, 2)
      | SELECT src_a, src_b, n_common,
      |   ${q4("n_common / (na.n_sh + nb.n_sh - n_common)")} AS sim
      | FROM p JOIN n na ON na.source = p.src_a JOIN n nb ON nb.source = p.src_b""".stripMargin))

  /** Body of [[qSourceOverlap]], callable on any `(source, text)` frame.
    *
    * Fails fast when the frame carries more than 64 distinct sources: the
    * mask is one LONG and Spark (like the JVM) masks shift amounts mod 64,
    * so a 65th source would silently alias bit 0 and corrupt every overlap
    * involving source 0 — an error, not a wrong answer. Beyond 64, shard the
    * matrix by source group and run this per shard.
    *
    * The source→bit dim is collected to the driver through a hard
    * `limit(65)` bound (TakeOrdered — per-partition top-65, so the transfer
    * is capped even on a contract-violating frame) and re-shipped as a
    * literal local relation: ONE bounded job builds the dim, the guard, and
    * all four broadcast uses below. The previous shape (distinct + global
    * row_number window, plus a separate `count()` guard) re-ran the
    * distinct-source scan once per broadcast — five scans of the corpus'
    * source column per query (measured: the guard commit alone moved the
    * sf0.1 fixture 2.3 s → 5.7 s; this shape returns it).
    *
    * Wall-clock history: after this rewrite the fixture still measured
    * bimodal 3.5 s vs 13.9–21.4 s at sf0.1 — that was NOT this plan but the
    * withCached cache race (concurrent broadcast builds + the probe stage
    * re-computing the unpopulated `masks` cache up to 3×), fixed in
    * [[graft.operators.Caching.withCached]] by materializing before the body
    * runs. Warm-stable since: ~2.1–2.8 s median at sf0.1.
    */
  def sourceOverlap(s: SparkSession, docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.IntegerType
      import scala.jdk.CollectionConverters._
      val srcCol = docs.select("source")
      // sid order = ascending source (matches the oracle's pair orientation)
      val collected = srcCol.distinct().orderBy("source").limit(65).collect()
      require(collected.length <= 64,
        s"sourceOverlap supports at most 64 distinct sources per run (got " +
        s"${if (collected.length > 64) "more than 64" else collected.length}): " +
        s"the co-occurrence mask is a single LONG and shift amounts " +
        s"wrap mod 64. Shard the source set and run the overlap per shard.")
      val srcIds = s.createDataFrame(
        collected.zipWithIndex.map { case (r, i) => Row(r.get(0), i) }.toSeq.asJava,
        srcCol.schema.add("sid", IntegerType, nullable = false))
      val masks = docs
        .where(size(TextFunctions.words(col("text"))) >= 3)
        // same rationale as Dedup.shingled: shingling is compute-dense and a
        // small input is one parquet split — repartition to parallelize it
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("source"),
          explode_outer(TextFunctions.shingles(col("text"), 3)).as("sg0"))
        .select(col("source"), xxhash64(col("sg0")).as("sg"))
        .join(broadcast(srcIds), "source")
        .groupBy("sg").agg(expr("bit_or(shiftleft(1L, sid))").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
      graft.operators.Caching.withCached(masks) {
        // set-bit positions of each mask (≤ 64-element HOF filter; SQL-form
        // lambda because shiftright-by-a-column has no Column-DSL overload)
        val bitsArr = expr("filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)")
        val n = masks
          .select(col("cnt"), explode(bitsArr).as("sid"))
          .groupBy("sid").agg(sum(col("cnt")).as("n_sh"))
        // ordered (i < j) set-bit pairs, weighted by the mask's count
        val pairArr = flatten(transform(
          sequence(lit(1), size(col("bits")) - 1),
          i => transform(slice(col("bits"), i + 1, size(col("bits"))),
            b => struct(element_at(col("bits"), i).as("sa"), b.as("sb")))))
        val pairs = masks
          .withColumn("bits", bitsArr)
          .where(size(col("bits")) >= 2)
          .select(col("cnt"), explode(pairArr).as("p"))
          .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
          .agg(sum(col("cnt")).as("n_common"))
        pairs
          .join(broadcast(srcIds.select(col("source").as("src_a"), col("sid").as("sa"))), "sa")
          .join(broadcast(srcIds.select(col("source").as("src_b"), col("sid").as("sb"))), "sb")
          .join(broadcast(n.select(col("sid").as("sa"), col("n_sh").as("na"))), "sa")
          .join(broadcast(n.select(col("sid").as("sb"), col("n_sh").as("nb"))), "sb")
          .select(col("src_a"), col("src_b"), col("n_common"),
            Quant.q4(col("n_common") / (col("na") + col("nb") - col("n_common"))).as("sim"))
      }
  }

}
