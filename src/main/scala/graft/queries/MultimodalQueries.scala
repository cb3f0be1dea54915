package graft
package queries

import graft.ext.Multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Binary media: decode plumbing and near-dup detection over
  * decoded pixels and audio. */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // ext: multimodal pipeline — binary payload + typed metadata through
    // the real mapPartitions decode path (decoder stubbed; metadata math
    // is oracle-checkable).
    Query("q41_multimodal_features", Family.Multimodal, (s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.ingestFromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.decodeAndFeaturize(media, dim = 16).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_frames").cast(LongType)).as("total_frames"),
          sum(col("thumb_w").cast(LongType)).as("total_thumb_w"))
        .orderBy(col("kind"))
    }, oracleSql =
      """SELECT kind, COUNT(*) AS n_media,
        |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
        |  CAST(SUM(thumb_w) AS BIGINT) AS total_thumb_w
        |FROM (
        |  SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    CASE WHEN doc_id % 3 = 2 THEN greatest(1, n_chars // 10)
        |      WHEN doc_id % 3 = 1 THEN greatest(1, n_chars)
        |      ELSE 1 END AS n_frames,
        |    CASE WHEN doc_id % 3 = 0 THEN greatest(1, ((n_chars % 64) + 1) // 8)
        |      ELSE 0 END AS thumb_w
        |  FROM documents) t
        |GROUP BY kind ORDER BY kind""".stripMargin),

    // Image near-dup detection over REAL decoded pixels: patterned 8×8
    // PNGs (planted per-family near-dups, integer pixel formula) round-
    // trip through ImageIO, average-hash to 64 bits by the integer
    // cross-multiplication `cellSum·64 > totalSum`, then pair up via the
    // 4×16-bit banded Hamming join — pigeonhole makes recall EXACT at
    // maxHamming 3 (≤3 differing bits can't touch all 4 bands), which is
    // what lets the oracle verify with a direct all-pairs replay of the
    // pixel/hash arithmetic (no PNG decode needed on its side). The
    // checksum pins WHICH pairs matched, not just how many.
    Query("q140_image_neardup", Family.Multimodal, (s, dir) => {
      implicit val sp: SparkSession = s
      val imgs = Multimodal.patternedImages(Tables.load(s, dir, "documents"))
      val hashes = Multimodal.imageAHash(imgs)
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
        .orderBy(col("hamming"))
    }, oracleSql =
      // Pure-arithmetic replay of the image pipeline: the patterned pixel
      // formula, the cellSum·64 > totalSum hash bits, and a direct
      // all-pairs Hamming count — equal to Spark's banded search because
      // ≤3-bit pairs always share a clean 16-bit band (pigeonhole).
      """WITH imgs AS (SELECT doc_id AS media_id, doc_id % 30 AS f,
        |    (doc_id // 30) % 64 AS pc
        |  FROM documents WHERE doc_id % 3 = 0),
        |cells AS (SELECT media_id, cs.c,
        |    CASE WHEN cs.c = pc THEN ((f * 73 + cs.c) * 131 % 256 + 96) % 256
        |         ELSE (f * 73 + cs.c) * 131 % 256 END AS g
        |  FROM imgs, (SELECT unnest(range(0, 64)) AS c) cs),
        |sums AS (SELECT media_id, SUM(g) AS total FROM cells GROUP BY 1),
        |bits AS (SELECT c.media_id, c.c,
        |    CASE WHEN c.g * 64 > s.total THEN 1 ELSE 0 END AS b
        |  FROM cells c JOIN sums s USING (media_id)),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b ON a.c = b.c AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT CAST(hamming AS INT) AS hamming,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(id_a + id_b) AS BIGINT) AS id_checksum
        |FROM pairs WHERE hamming <= 3 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Audio near-dup detection — q140's twin on the other real-decode
    // modality: patterned PCM-16 WAVs round-trip through AudioSystem,
    // the 64-window energy profile average-hashes by the same integer
    // bit rule, and the SAME modality-blind banded Hamming layer finds
    // the planted families. One shared near-dup engine across image and
    // audio is the design point; the oracle again replays the sample
    // arithmetic with no codec on its side.
    Query("q141_audio_neardup", Family.Multimodal, (s, dir) => {
      implicit val sp: SparkSession = s
      val wavs = Multimodal.patternedAudio(Tables.load(s, dir, "documents"))
      val hashes = Multimodal.audioAHash(wavs)
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
        .orderBy(col("hamming"))
    }, oracleSql =
      // Identical arithmetic to q140's replay — the unsigned top byte of
      // each PCM sample round-trips losslessly, so the pixel formula IS
      // the sample formula; only the id stripe (audio rows) changes.
      """WITH auds AS (SELECT doc_id AS media_id, doc_id % 30 AS f,
        |    (doc_id // 30) % 64 AS pc
        |  FROM documents WHERE doc_id % 3 = 1),
        |cells AS (SELECT media_id, cs.c,
        |    CASE WHEN cs.c = pc THEN ((f * 73 + cs.c) * 131 % 256 + 96) % 256
        |         ELSE (f * 73 + cs.c) * 131 % 256 END AS g
        |  FROM auds, (SELECT unnest(range(0, 64)) AS c) cs),
        |sums AS (SELECT media_id, SUM(g) AS total FROM cells GROUP BY 1),
        |bits AS (SELECT c.media_id, c.c,
        |    CASE WHEN c.g * 64 > s.total THEN 1 ELSE 0 END AS b
        |  FROM cells c JOIN sums s USING (media_id)),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b ON a.c = b.c AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT CAST(hamming AS INT) AS hamming,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(id_a + id_b) AS BIGINT) AS id_checksum
        |FROM pairs WHERE hamming <= 3 GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
