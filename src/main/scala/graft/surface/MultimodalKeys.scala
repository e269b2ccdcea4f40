package graft
package surface

import graft.ext.Multimodal
import org.apache.spark.sql.functions._

/** The image tier over the rendered PNG fixture corpus: decoded raster
  * features, nearest-neighbour resize, frame sampling and perceptual
  * (dHash) near-duplicate detection.
  */
object MultimodalKeys {

  val specs: Seq[QSpec] = Seq(

    QSpec("multimodal_features",
      // X-multimodal: a REAL image pipeline end to end — deterministic PNG
      // fixture corpus (one real PNG per document) → `binaryFile` scan →
      // javax.imageio decode in mapPartitions → decoded raster features.
      // width/height/channels come from the actual decoded image and
      // sample_sum is the sum of every raster sample; the oracle recomputes
      // all four from the generator parameters (PngFixtures scaladoc), so a
      // wrong decode or a lossy encoder breaks the hash compare.
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val fx = Multimodal.PngFixtures.ensure(docs, dir)
        Multimodal.extractFeatures(
          Multimodal.mediaFromBinaryFiles(s, fx, "*.png"))
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            col("checksum").as("sample_sum"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          |  CAST(3 AS INT) AS channels,
          |  CAST(list_sum(list_transform(range(w*h), k ->
          |    ((31*doc_id + 7*(k % w) + 13*(k // w)) % 256)
          |    + (((31*doc_id + 7*(k % w) + 13*(k // w)) % 256) + 85) % 256
          |    + (((31*doc_id + 7*(k % w) + 13*(k // w)) % 256) + 170) % 256)) AS BIGINT) AS sample_sum
          |FROM (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id*3) % 24 AS h
          |      FROM documents) d
          |ORDER BY doc_id""".stripMargin)),

    QSpec("multimodal_resize",
      // REAL nearest-neighbor pixel resample of the decoded PNG corpus to
      // 16×16: output pixel (x,y) takes the band-0 sample at source
      // (x·srcW/16, y·srcH/16) — integer division on both engines, so the
      // oracle replays the exact source coordinates and pixel values.
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val fx = Multimodal.PngFixtures.ensure(docs, dir)
        Multimodal.resizeStats(
          Multimodal.mediaFromBinaryFiles(s, fx, "*.png"), 16, 16)
          .select(col("doc_id"), col("width"), col("height"),
            col("thumb_bytes"), col("sample_sum"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
          |  CAST(256 AS INT) AS thumb_bytes,
          |  CAST(list_sum(list_transform(range(256), k ->
          |    (31*doc_id + 7*(((k % 16) * w) // 16) + 13*(((k // 16) * h) // 16)) % 256)) AS BIGINT) AS sample_sum
          |FROM (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id*3) % 24 AS h
          |      FROM documents) d
          |ORDER BY doc_id""".stripMargin)),

    QSpec("multimodal_frames",
      (s, dir) => {
        import s.implicits._
        Multimodal.sampleAllFrames(
          Multimodal.mediaFromDocuments(s, t(s, dir, "documents")), everyN = 4)
          .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, CAST(CEIL(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin)),

    QSpec("dedup_image_phash",
      // X68 — dHash over the DECODED raster corpus (real PNG decode +
      // 9×8 nearest-neighbor resample, the multimodal_resize kernel), four
      // 16-bit LSH bands, Hamming ≤ 10 verification over DISTINCT hashes,
      // keep-first manifest. The oracle replays pixel values from the
      // PngFixtures generator parameters (the multimodal_features
      // discipline — a wrong decode/resample breaks the hash compare) and
      // the band-share candidate condition as an OR-join.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val fx = Multimodal.PngFixtures.ensure(docs, dir)
        Multimodal.dHashKeepManifest(
          Multimodal.mediaFromBinaryFiles(s, fx, "*.png"), maxHamming = 10)
      },
      Some(
        """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id*3) % 24 AS h FROM documents),
          |p AS (SELECT doc_id, list_transform(range(72), k ->
          |    (31*doc_id + 7*(((k % 9) * w) // 9) + 13*(((k // 9) * h) // 8)) % 256) AS pix FROM d),
          |bits AS (SELECT doc_id, list_transform(range(64), k ->
          |    CASE WHEN pix[(k // 8) * 9 + (k % 8) + 2] > pix[(k // 8) * 9 + (k % 8) + 1]
          |      THEN 1 ELSE 0 END) AS bt FROM p),
          |hs AS (SELECT doc_id,
          |    CAST(list_sum(list_transform(range(16), i -> bt[i+1]  * (1 << i))) AS INT) AS b0,
          |    CAST(list_sum(list_transform(range(16), i -> bt[i+17] * (1 << i))) AS INT) AS b1,
          |    CAST(list_sum(list_transform(range(16), i -> bt[i+33] * (1 << i))) AS INT) AS b2,
          |    CAST(list_sum(list_transform(range(16), i -> bt[i+49] * (1 << i))) AS INT) AS b3
          |  FROM bits),
          |hd AS (SELECT b0, b1, b2, b3, MIN(doc_id) AS min_doc FROM hs GROUP BY 1, 2, 3, 4),
          |cand AS (SELECT a.b0, a.b1, a.b2, a.b3, MIN(b.min_doc) AS neigh_min
          |  FROM hd a JOIN hd b
          |    ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
          |   AND (a.b0 <> b.b0 OR a.b1 <> b.b1 OR a.b2 <> b.b2 OR a.b3 <> b.b3)
          |  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          |      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 10
          |  GROUP BY 1, 2, 3, 4)
          |SELECT hs.doc_id,
          |  printf('%04X%04X%04X%04X', hs.b0, hs.b1, hs.b2, hs.b3) AS hash_hex,
          |  CAST(CASE WHEN hs.doc_id = hd.min_doc
          |      AND (c.neigh_min IS NULL OR c.neigh_min > hs.doc_id)
          |    THEN 1 ELSE 0 END AS INT) AS kept
          |FROM hs JOIN hd USING (b0, b1, b2, b3)
          |LEFT JOIN cand c USING (b0, b1, b2, b3)
          |ORDER BY doc_id""".stripMargin)))
}
