package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Multimodal payloads: image decode and resize, perceptual-hash
  * near-duplicates, frame sampling and media features of the pages
  * corpus.
  *
  * Outside the record-linkage boundary: a candidate for deletion
  * together with its engine code and specs. */
object MultimodalQueries extends QueryFamily {
  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 8x8 aHash cells of the deterministic variant corpus: the oracle
    // re-derives bits/mean/Hamming from the cells, so hashing + banding +
    // pairing are value-checked (the decode itself is MultimodalSpec's)
    "image_phash" -> ((s, _) =>
      graft.multimodal.Multimodal.perceptualHashes(
          graft.multimodal.Multimodal.synthPngVariants(s, 40),
          "doc", "payload")
        .toDF().where(col("ok")).select(col("doc"), col("cells"))),
    // raw media payloads of the er_pages_media_features corpus (ASCII
    // html, so a string dump is byte-faithful); the oracle replays the
    // decode dispatch in SQL: no JDK image reader accepts these payloads,
    // so every row takes Multimodal.decodeStub, whose dims derive from
    // java.util.Arrays.hashCode — 32-bit wrap arithmetic DuckDB can
    // replay exactly (same pattern as the q_fingerprint FNV-1a oracle)
    "media_payloads" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(500, 500))
      pages.toDF().select(col("entity_id").cast("long").as("doc"),
        col("html").cast("string").as("payload"))
    }),
    // input payloads of q_resize_meta (real PNGs + junk rows); the oracle
    // replays the decode dispatch from the PNG magic in the blob's hex
    "resize_inputs" -> ((s, _) =>
      graft.multimodal.Multimodal.synthPngs(s, 40)),
  )

  val queries: Seq[Query] = Seq(
    // multimodal plumbing over the synthetic html binary column (stub decode)
    Query("er_pages_media_features", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(500, 500))
      graft.multimodal.Multimodal
        .extractFeatures(pages.toDF(), "entity_id", "html")
        .toDF().drop("feature").orderBy(col("doc"), col("width"))
    },
      // Multimodal metadata replayed from the raw payload dump: these ASCII
      // html payloads are rejected by every JDK image reader, so the decode
      // dispatch lands in decodeStub for all rows — dims are pure functions
      // of java.util.Arrays.hashCode(payload) (h=1; h=31*h+b, 32-bit wrap;
      // bytes are ASCII so unsigned ord == signed byte), and Java's
      // truncate-toward-zero / and % are replayed with explicit sign cases
      // (DuckDB's // floors). The luminance feature vector stays spec-gated
      // (MultimodalSpec) and is dropped from the query projection.
      s"""WITH h AS (
           SELECT doc,
             list_reduce(
               list_prepend(1::HUGEINT,
                 list_transform(range(1, length(payload) + 1),
                   i -> ord(substr(payload, i, 1))::HUGEINT)),
               (acc, b) -> (acc * 31 + b) % 4294967296::HUGEINT) AS hu
           FROM '$OracleAuxDir/media_payloads/*.parquet'),
         s AS (
           SELECT doc,
             CAST(CASE WHEN hu >= 2147483648::HUGEINT
                  THEN hu - 4294967296::HUGEINT ELSE hu END AS BIGINT) AS hs
           FROM h),
         d AS (
           SELECT doc, hs,
             CASE WHEN hs >= 0 THEN hs // 961 ELSE -((-hs) // 961) END AS q
           FROM s)
         SELECT doc,
           CAST(64 + abs(hs - q * 961) AS INT) AS width,
           CAST(64 + abs(q - (CASE WHEN q >= 0 THEN q // 961
                ELSE -((-q) // 961) END) * 961) AS INT) AS height,
           3 AS channels
         FROM d"""),
    // REAL image resize end-to-end: synthetic PNGs (+ junk rows) through
    // ImageIO decode -> bilinear scale -> PNG re-encode; the emitted dims
    // are parsed from the RE-ENCODED payload's IHDR bytes with pure
    // column functions (substring/hex/conv), never from what the resize
    // code claims, so a wrong output raster header fails the gate. The
    // oracle replays decode dispatch from the INPUT blob's PNG magic and
    // pins the expected header fields; the resampled pixels themselves
    // stay spec-gated (MultimodalSpec round-trip)
    Query("q_resize_meta", (s, _) => {
      val in = graft.multimodal.Multimodal.synthPngs(s, 40)
      val rz = graft.multimodal.Multimodal
        .resizeImages(in, "doc", "payload", outW = 24, outH = 20).toDF()
      // PNG layout: bytes 1-8 signature, IHDR width at 17-20, height at
      // 21-24 (big-endian u32), color type at byte 26 (2 = truecolor RGB)
      def hdrInt(from: Int, len: Int) =
        conv(hex(substring(col("resized"), from, len)), 16, 10).cast("int")
      rz.select(col("doc"), col("ok"),
          when(col("ok"), hdrInt(17, 4)).as("hdr_w"),
          when(col("ok"), hdrInt(21, 4)).as("hdr_h"),
          when(col("ok"), hdrInt(26, 1)).as("hdr_color_type"))
        .orderBy(col("doc"))
    },
      // resize gate: ok-dispatch replayed from the INPUT payload's PNG
      // magic (hex compare; this DuckDB build has no blob slicing) and the
      // re-encoded IHDR header fields pinned to the requested geometry /
      // RGB color model. The Spark side reads those fields from the actual
      // output bytes, so both sides are independent of the resize code.
      s"""WITH p AS (SELECT doc, hex(payload) AS hx
                     FROM '$OracleAuxDir/resize_inputs/*.parquet'),
         o AS (SELECT doc,
                 substring(hx, 1, 16) = '89504E470D0A1A0A' AS ok
               FROM p)
         SELECT doc, ok,
                CASE WHEN ok THEN 24 END AS hdr_w,
                CASE WHEN ok THEN 20 END AS hdr_h,
                CASE WHEN ok THEN 2 END AS hdr_color_type
         FROM o"""),
    // frame sampling over a binary payload (every 2nd 64-byte frame); the
    // documents are ASCII so the byte frames round-trip to strings and
    // DuckDB replays the slicing with substr arithmetic
    Query("q_frame_sample", (s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
          docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
          "doc_id", "payload", frameBytes = 64, stride = 2)
        .select(col("doc_id").as("doc"), col("frame_idx"),
          col("frame").cast("string").as("frame_text"))
        .orderBy(col("doc"), col("frame_idx")),
      // frame slicing replayed with substr arithmetic (ASCII corpus: byte
      // offsets == character offsets; empty-frame docs excluded both sides
      // by the same nFrames floor)
      """WITH f AS (
           SELECT doc_id AS doc, text,
                  unnest(range(0, length(text) // 64, 2)) AS frame_idx
           FROM documents)
         SELECT doc, CAST(frame_idx AS INT) AS frame_idx,
                substr(text, CAST(frame_idx AS INT) * 64 + 1, 64) AS frame_text
         FROM f"""),
    // image near-dup pairs by perceptual aHash (REAL ImageIO decode):
    // 4-band pigeonhole over the 64-bit hash (exact for dist<=3) + a
    // bit_count(xor) confirm — the multimodal twin of q_simhash_pairs
    Query("q_image_neardup", (s, _) =>
      graft.multimodal.Multimodal.imageNearDupPairs(
          graft.multimodal.Multimodal.synthPngVariants(s, 40),
          "doc", "payload", maxDist = 3)
        .orderBy(col("id0"), col("id1")),
      // all-pairs Hamming from the raw aHash cells (the banded Spark path
      // is exact for dist<=3 by pigeonhole, so all-pairs must agree);
      // bits re-derived from cells with the same floor-mean rule
      s"""WITH c AS (SELECT doc, cells
                     FROM '$OracleAuxDir/image_phash/*.parquet'),
         b AS (SELECT doc, cells, list_sum(cells) // 64 AS mean FROM c),
         bits AS (SELECT doc, list_transform(cells,
                    x -> CASE WHEN x > mean THEN 1 ELSE 0 END) AS bv
                  FROM b),
         p AS (SELECT a.doc AS id0, b2.doc AS id1,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN a.bv[i] <> b2.bv[i] THEN 1 ELSE 0 END))
                   AS INT) AS dist
               FROM bits a JOIN bits b2 ON a.doc < b2.doc)
         SELECT id0, id1, dist FROM p WHERE dist <= 3"""),
  )
}
