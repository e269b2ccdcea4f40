package graft.ext

import graft.Memo
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, partition-friendly batch decode via mapPartitions.
  *
  * IMAGE decode is REAL since round 6: [[ImageCodec.decode]] parses the
  * payload with `javax.imageio` (PNG/JPEG/GIF/BMP readers ship in the JDK)
  * and emits actual raster width/height/band-count plus the sum of all
  * raster samples; [[ImageCodec.resize]] is a genuine nearest-neighbor
  * pixel resample. Payloads no registered reader claims (e.g. the
  * text-bytes fixture adapter, or audio/video containers — no JDK codec)
  * fall back to [[StubDecoder]], the documented deterministic fake.
  *
  * Scale design: decode runs inside mapPartitions (one decoder instance per
  * partition, amortized init — exactly how a JNI/codec handle would be
  * held; `ImageIO.setUseCache(false)` keeps the JDK reader off temp files);
  * media bytes never shuffle (features are extracted before any
  * aggregation); partition sizing is the caller's lever via
  * `spark.sql.files.maxPartitionBytes`.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, media_type: String, media: Array[Byte])

  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      width: Int,
      height: Int,
      channels: Int,
      checksum: Long)

  /** STUB decoder — deterministic fake dimensions derived from the payload.
    * A real implementation would parse the container header / decode frames
    * here; the signature (bytes in, typed features out) is the contract. */
  object StubDecoder {
    def decode(r: MediaRecord): MediaFeatures = {
      val len = r.media.length.toLong
      // cheap deterministic checksum of the payload (not a crypto hash)
      var cs = 1125899906842597L
      var i = 0
      while (i < r.media.length) { cs = 31 * cs + r.media(i); i += 1 }
      MediaFeatures(
        doc_id = r.doc_id,
        media_type = r.media_type,
        byte_len = len,
        width = (len % 640).toInt,
        height = ((len * 7) % 480).toInt,
        channels = 3,
        checksum = cs)
    }
  }

  /** REAL image path: `javax.imageio` decode + nearest-neighbor resize.
    *
    * Used by the declared `multimodal_features`/`multimodal_resize` keys over
    * the deterministic PNG fixture corpus ([[PngFixtures]]) — the decoded
    * width/height/channels and the raster sample sum are recomputed by the
    * DuckDB oracle from the generator parameters, so a wrong decode (or a
    * lossy write) breaks the hash compare. */
  object ImageCodec {

    /** Per-thread PNG reader (r14): `ImageIO.read` pays an SPI magic probe,
      * a fresh PNGImageReader AND a fresh image-input-stream per call —
      * ~1 ms fixed cost per image, which DOMINATES a small-image corpus
      * (the fixture's 268-byte PNGs, but equally any thumbnail-sized real
      * corpus). Reusing one reader per executor thread (bounded by thread
      * count; `setInput` resets reader state per image, and the same
      * PNGImageReader class decodes, so rasters are bit-identical to the
      * ImageIO.read path — the oracle hash compare pins that) cuts the
      * per-image fixed cost ~5×. Non-PNG payloads keep the general SPI
      * path; a reader that THREW is disposed and dropped (a failed decode
      * may leave dirty state). */
    private val pngReaderTL = new ThreadLocal[javax.imageio.ImageReader]

    private def isPng(b: Array[Byte]): Boolean =
      b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A

    private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
      try {
        if (isPng(bytes)) {
          var rd = pngReaderTL.get()
          if (rd == null) {
            val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
            if (!it.hasNext) return javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            rd = it.next()
            pngReaderTL.set(rd)
          }
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            rd.setInput(iis, true, true)
            rd.read(0)
          } catch {
            case e: Throwable =>
              rd.dispose(); pngReaderTL.remove(); throw e
          } finally iis.close()
        } else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      } catch { case _: java.io.IOException | _: RuntimeException => null }

    /** Decode via the JDK's registered readers; None when no reader claims
      * the bytes (caller falls back to [[StubDecoder]]). `checksum` carries
      * the sum of ALL raster samples (every band, every pixel) — a
      * content-sensitive, bit-exact statistic the oracle can replay. */
    def decode(r: MediaRecord): Option[MediaFeatures] = {
      // fast path (opt-r16): decode straight to unfiltered sample bytes —
      // the sum over every band of every pixel is the sum over the flat
      // array (8-bit samples ARE the bytes). Unsupported/corrupt shapes
      // return null and take the ImageIO path below, so coverage is
      // unchanged; MultimodalSpec pins byte-equality of both paths.
      val fp = FastPng.decode(r.media)
      if (fp != null) {
        val d = fp.data
        var sum = 0L
        var i = 0
        while (i < d.length) { sum += d(i) & 0xFF; i += 1 }
        return Some(MediaFeatures(r.doc_id, r.media_type, r.media.length.toLong,
          fp.width, fp.height, fp.bands, sum))
      }
      // a reader can CLAIM bytes (valid magic) and still throw on a
      // truncated/corrupt body — that must degrade to the stub fallback,
      // not abort the stage (one bad file in a 100 TB ingest is routine)
      val img = readImage(r.media)
      if (img == null) None
      else {
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        var b = 0
        while (b < bands) {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += raster.getSample(x, y, b); x += 1 }
            y += 1
          }
          b += 1
        }
        Some(MediaFeatures(r.doc_id, r.media_type, r.media.length.toLong, w, h, bands, sum))
      }
    }

    /** Nearest-neighbor resample to (w × h): output pixel (x, y) takes the
      * band-0 sample at source (x·srcW/w, y·srcH/h) — integer division, so
      * the oracle replays the exact source coordinates. Returns one byte per
      * output pixel. None when the payload doesn't decode. */
    def resize(r: MediaRecord, w: Int, h: Int): Option[Thumbnail] = {
      // fast path (opt-r16): band-0 sample at (sx, sy) is the byte at
      // sy*rowStride + sx*bands — same integer source coordinates, same
      // bytes as Raster.getSample (MultimodalSpec pins equality)
      val fp = FastPng.decode(r.media)
      if (fp != null) {
        val (sw, sh, bpp, stride, d) =
          (fp.width, fp.height, fp.bands, fp.rowStride, fp.data)
        val out = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          val srow = (y * sh / h) * stride
          var x = 0
          while (x < w) {
            out(y * w + x) = d(srow + (x * sw / w) * bpp)
            x += 1
          }
          y += 1
        }
        return Some(Thumbnail(r.doc_id, w, h, out))
      }
      val img = readImage(r.media)
      if (img == null) None
      else {
        val raster = img.getRaster
        val (sw, sh) = (img.getWidth, img.getHeight)
        val out = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) = raster.getSample(x * sw / w, y * sh / h, 0).toByte
            x += 1
          }
          y += 1
        }
        Some(Thumbnail(r.doc_id, w, h, out))
      }
    }
  }

  /** A decoded-and-resized thumbnail record. */
  final case class Thumbnail(doc_id: Long, width: Int, height: Int, thumb: Array[Byte])

  /** A sampled frame from a (fake) video payload. */
  final case class Frame(doc_id: Long, frame_idx: Int, offset: Long, frame: Array[Byte])

  /** STUB resize: a real implementation scales pixels; the stub takes a
    * deterministic byte stride so output size tracks the requested dims. */
  def resizeStub(r: MediaRecord, w: Int, h: Int): Thumbnail = {
    // empty payload → empty thumb (the old max(1, …) floor indexed media(-1))
    if (r.media.isEmpty) Thumbnail(r.doc_id, w, h, Array.emptyByteArray)
    else {
      val target = math.max(1, math.min(r.media.length, w * h / 64))
      val stride = math.max(1, r.media.length / target)
      val out = Array.tabulate(target)(i => r.media(math.min(i * stride, r.media.length - 1)))
      Thumbnail(r.doc_id, w, h, out)
    }
  }

  /** STUB frame sampling: every `everyN`-th 64-byte block stands in for a
    * decoded video frame (a real impl seeks keyframes in the container). */
  def sampleFramesStub(r: MediaRecord, everyN: Int): Iterator[Frame] = {
    // everyN <= 0 would make every offset 0 — an INFINITE iterator
    require(everyN > 0, s"everyN must be positive, got $everyN")
    val blockSize = 64
    Iterator.from(0)
      .map(_ * everyN * blockSize)
      .takeWhile(_ < r.media.length)
      .zipWithIndex
      .map { case (off, idx) =>
        Frame(r.doc_id, idx, off.toLong,
          r.media.slice(off, math.min(off + blockSize, r.media.length)))
      }
  }

  /** Frame sampling is a flatMap — one media row fans out to many frames;
    * downstream repartitioning (not here) controls frame-batch sizing. */
  def sampleAllFrames(media: Dataset[MediaRecord], everyN: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(sampleFramesStub(_, everyN)))
  }

  /** Fixture adapter: documents.text bytes stand in for media payloads. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), lit("image/fake").as("media_type"),
      col("text").cast("binary").as("media")).as[MediaRecord]
  }

  /** Small-file open cost for the ingest session, in bytes: Spark's 4 MB
    * default models HDFS seek cost and over-counts a local/NVMe small file
    * ~30×, shredding a many-small-files scan into thousands of near-empty
    * tasks (the 50k-PNG fixture corpus: 1563 tasks of ~4 ms work each).
    * 128 KB packs those scans to sane task sizes. SCOPED to the binaryFile
    * ingest on purpose (r14 verdict #2): set session-wide, the same value
    * lowers `maxSplitBytes`' floor for every REGULAR parquet scan, and at
    * high core counts (where bytes/core is small and the open cost IS the
    * floor) that shattered each single-file table scan into ~32× smaller
    * splits — the r14 local[32]-only bench regression. */
  val ingestOpenCostBytes: Long = 128L * 1024L

  /** The dedicated ingest session (one per parent session): shares the
    * SparkContext and inherits the builder-time conf (timezone, shuffle
    * partitions, extensions), but carries [[ingestOpenCostBytes]] so ONLY
    * plans rooted at the binaryFile listing see the low open cost — a
    * relation's split packing reads the conf of the session that CREATED
    * it, so frames built here keep small-file packing wherever they are
    * consumed, while every other scan in the parent session keeps Spark's
    * default. */
  private def ingestSession(parent: SparkSession): SparkSession =
    Memo(parent, "ingestsession") {
      val s = parent.newSession()
      s.conf.set("spark.sql.files.openCostInBytes", ingestOpenCostBytes.toString)
      s
    }

  /** Real ingestion path: a directory of raw media FILES → MediaRecord, via
    * Spark's built-in `binaryFile` source (how media actually lands in a
    * lakehouse before it has a table). doc_id is derived from the file name
    * (`<id>.<ext>`); media_type from the extension. The source is
    * scan-parallel, supports `pathGlobFilter`, and never materializes a
    * file on the driver — at 100 TB this is the bulk-ingest scan that
    * [[extractFeatures]] runs directly on top of.
    *
    * The listed dataset is memoized per (session, dir, glob) — the plan
    * only, deliberately NOT persisted: reusing it reuses the
    * InMemoryFileIndex inside its LogicalRelation, so repeated ingest calls
    * skip re-listing the directory (~5 s of the sf1 multimodal keys' 6.9 s
    * was re-listing the 50k-file corpus), while every action still scans
    * and decodes the payload bytes. Files added to or removed from the
    * directory stay invisible until [[Memo.clear]]. */
  def mediaFromBinaryFiles(spark: SparkSession, dir: String,
      glob: String = "*"): Dataset[MediaRecord] =
    Memo(spark, s"listing:$glob:$dir") {
      // read through the low-open-cost ingest session (scoping rationale on
      // [[ingestOpenCostBytes]]); the memo stays keyed on the PARENT session
      val ingest = ingestSession(spark)
      import ingest.implicits._
      ingest.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(dir)
        // One extraction, reused (Filter and Project are separate operators,
        // so Spark's subexpression elimination would not share three copies
        // of the regex across them on this bulk-ingest path). Stray
        // non-conforming files (_SUCCESS, .DS_Store, readme.txt) yield an
        // empty extraction → NULL doc_id → encoder crash on the primitive
        // field; skip them instead of killing the ingest. The overflow bound
        // is EXACT, not a crude length<=18 (which silently dropped valid
        // 19-digit and zero-padded ids): leading zeros are stripped, then a
        // 19-digit value admits iff it is <= Long.MaxValue by same-length
        // string compare; only genuinely unrepresentable ids are skipped.
        .withColumn("__id", regexp_extract(col("path"), "([0-9]+)\\.[^/.]+$", 1))
        .withColumn("__idn", regexp_replace(col("__id"), "^0+", ""))
        .where(col("__id") =!= "" &&
          (length(col("__idn")) < 19 ||
            (length(col("__idn")) === 19 &&
              col("__idn") <= lit(Long.MaxValue.toString))))
        .select(
          col("__id").cast("long").as("doc_id"),
          concat(lit("file/"), regexp_extract(col("path"), "\\.([^/.]+)$", 1)).as("media_type"),
          col("content").as("media"))
        .as[MediaRecord]
    }

  /** Batch feature extraction: one decoder per partition, media never
    * shuffles. Decode-first: payloads a JDK image reader claims get REAL
    * raster features ([[ImageCodec.decode]]); everything else falls back to
    * the deterministic [[StubDecoder]]. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init: keep ImageIO off disk-backed streams
      javax.imageio.ImageIO.setUseCache(false)
      it.map(r => ImageCodec.decode(r).getOrElse(StubDecoder.decode(r)))
    }
  }

  /** A 64-bit difference-hash (dHash) split into four 16-bit bands — the
    * band split IS the LSH scheme (two hashes within Hamming distance 10
    * of 64 bits share at least one exact 16-bit band with good
    * probability; sharing a band is the candidate condition the declared
    * key verifies exactly). Kept as four ints rather than one long so the
    * band join needs no bit slicing on either engine. */
  final case class DHashRecord(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** Perceptual dHash over the decoded raster (X68): nearest-neighbor
    * resample to 9×8 on band 0 ([[ImageCodec.resize]] — the same integer
    * source-coordinate contract the resize oracle replays), then bit
    * (y·8+x) = 1 iff pixel(x+1, y) > pixel(x, y) (unsigned, strict — ties
    * are 0 on every engine). Bit k lands in band k/16 at offset k mod 16.
    *
    * Non-decodable payloads are OMITTED (flatMap over the decode Option):
    * a payload with no raster has no perceptual identity, and inventing a
    * stub hash would let a corrupt file "duplicate" another corrupt file.
    * Same mapPartitions discipline as [[extractFeatures]] — one reader per
    * executor thread, media bytes never shuffle (64 bits + an id do). */
  def dHashes(media: Dataset[MediaRecord]): Dataset[DHashRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        ImageCodec.resize(r, 9, 8).map { th =>
          val p = th.thumb
          val bands = new Array[Int](4)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if ((p(y * 9 + x + 1) & 0xFF) > (p(y * 9 + x) & 0xFF)) {
                val k = y * 8 + x
                bands(k >> 4) |= 1 << (k & 15)
              }
              x += 1
            }
            y += 1
          }
          DHashRecord(r.doc_id, bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
  }

  /** Perceptual-dedup keeper manifest over [[dHashes]] (X68): one row per
    * decodable payload with its 64-bit dHash (hex) and kept ∈ {0,1} under
    * the keep-first policy — a doc drops iff ANY earlier (smaller doc_id)
    * decodable doc hashes within `maxHamming` bits AND shares at least one
    * exact 16-bit band (the LSH candidate condition; the declared
    * semantics, like dedup_minhash's banding, NOT brute-force all-pairs —
    * the oracle replays band-sharing too). Dropping against earlier docs
    * regardless of their own kept flag is the dedup_semantic d1 policy.
    *
    * Scale shape (the groupedSignatures discipline, ext/Dedup.scala): the
    * pair join runs over DISTINCT hashes only — a clone mass of any size
    * is ONE row in the band join and expands arithmetically at the final
    * per-doc join; band-bucket work is Σ bucket² over 16-bit values of
    * distinct hashes (a pathological single-motif corpus could sub-bucket
    * like SimSearch.boundedPairSides, not needed while hashes are
    * distinct-collapsed). Per-doc state after the kernel is 64 bits + an
    * id; rasters never shuffle. */
  def dHashKeepManifest(media: Dataset[MediaRecord], maxHamming: Int): DataFrame = {
    // opt-r16: checkpoint the hash frame. The manifest references `hs`
    // through THREE subtrees (hs itself, hd's aggregation, nb's band join
    // via hd) and only hd's exchange is deduped at runtime — measured at
    // sf1, the 50k-file binaryFile scan + decode executed ~3× per action
    // (9.0 s vs 2.5 s for one dHash pass; the raw scan alone is 2.9 s).
    // Truncating to a (doc_id, 4×int) checkpoint — 50k rows, KBs — makes
    // every downstream join read the hashes, not the corpus: ONE image
    // scan per action, the §8 "decide with small rows" shape. At 100 TB
    // the deleted re-scans are the whole payload.
    val hs = Dedup.truncate(dHashes(media).toDF())
    val bandCols = Seq("b0", "b1", "b2", "b3")
    val hd = hs.groupBy(bandCols.map(col): _*).agg(min("doc_id").as("min_doc"))
    val bands = hd.select(col("b0"), col("b1"), col("b2"), col("b3"), col("min_doc"),
      posexplode(array(bandCols.map(col): _*)).as(Seq("band_idx", "band_val")))
    val sameHash = bandCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val hamming = bandCols.map(c =>
      bit_count(col(s"a.$c").bitwiseXOR(col(s"b.$c")))).reduce(_ + _)
    // a hash pair sharing several bands joins several times; min() makes the
    // duplicates harmless, so no distinct shuffle is spent removing them
    val nb = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .where(!sameHash && hamming <= maxHamming)
      .groupBy(bandCols.map(c => col(s"a.$c").as(c)): _*)
      .agg(min(col("b.min_doc")).as("neigh_min"))
    val hashHex = concat(bandCols.map(c => lpad(hex(col(c)), 4, "0")): _*)
    hs.join(hd, bandCols).join(nb, bandCols, "left")
      .select(col("doc_id"), hashHex.as("hash_hex"),
        when(col("doc_id") === col("min_doc") &&
            (col("neigh_min").isNull || col("neigh_min") > col("doc_id")), 1)
          .otherwise(0).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** Per-thumbnail stats record for the oracle-checked resize key: byte count
    * plus the sum of the resized pixel bytes (unsigned). */
  final case class ThumbStats(doc_id: Long, width: Int, height: Int,
      thumb_bytes: Int, sample_sum: Long)

  /** Real-resample batch resize with stub fallback, emitting oracle-checkable
    * stats in the same mapPartitions pass (no second decode). */
  def resizeStats(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[ThumbStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val th = ImageCodec.resize(r, w, h).getOrElse(resizeStub(r, w, h))
        var sum = 0L
        var i = 0
        while (i < th.thumb.length) { sum += th.thumb(i) & 0xFF; i += 1 }
        ThumbStats(th.doc_id, th.width, th.height, th.thumb.length, sum)
      }
    }
  }

  /** Deterministic PNG fixture corpus: one real PNG per document, pixels a
    * pure function of (doc_id, x, y), so the DuckDB oracle recomputes every
    * decoded statistic from the generator parameters alone:
    *
    *   width  = 8 + doc_id mod 24          (8‥31)
    *   height = 8 + (3·doc_id) mod 24      (8‥31)
    *   R(x,y) = (31·doc_id + 7·x + 13·y) mod 256
    *   G = (R + 85) mod 256,  B = (R + 170) mod 256
    *
    * The three bands differ on purpose: an encoder that silently collapsed
    * equal channels to a grayscale PNG would change the decoded band count
    * and sample sum, and the hash compare would catch it.
    *
    * Generation is a one-time per-fixture-dir side artifact (same contract
    * as the bucketed-table layout in surface.LayoutKeys): files are written from
    * executors via `foreachPartition` into a staging dir, then atomically
    * renamed into place — a crashed half-write is invisible. Local-FS file
    * IO is fine here because fixtures are test scaffolding; a cluster
    * deployment would point the same generator at shared storage through
    * the Hadoop FS API (as the parquet sinks do). */
  object PngFixtures {
    import java.io.File

    def dims(docId: Long): (Int, Int) =
      ((8 + docId % 24).toInt, (8 + (docId * 3) % 24).toInt)

    def red(docId: Long, x: Int, y: Int): Int =
      ((31 * docId + 7 * x + 13 * y) % 256).toInt

    /** Render one document's PNG (RGB, lossless). */
    def render(docId: Long): Array[Byte] = {
      val (w, h) = dims(docId)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = red(docId, x, y)
          img.setRGB(x, y, (r << 16) | (((r + 85) % 256) << 8) | ((r + 170) % 256))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Materialize (once per fixture dir per JVM) the PNG corpus for `docs`
      * and return its directory — the input to [[mediaFromBinaryFiles]].
      *
      * The corpus population (count, min id, max id) is part of the
      * DIRECTORY NAME: a pre-existing tmpdir corpus from an earlier JVM is
      * reused only when it was rendered for this exact population — a
      * regenerated fixture set (the events.ts precedent) lands in a fresh
      * dir instead of silently joining against a stale corpus. */
    def ensure(docs: DataFrame, fixtureKey: String): String = {
      // memoized on the docs frame, so a cache-hit call runs no Spark job,
      // and recounted when its files change: a fixture regenerated at the
      // same path gets a new population, hence a fresh dir
      val manifest = Memo.of("pngmanifest", docs) {
        val pop = docs.agg(count(lit(1)),
            coalesce(min(col("doc_id")), lit(0L)), coalesce(max(col("doc_id")), lit(0L)))
          .collect()(0)
        s"${pop.getLong(0)}_${pop.getLong(1)}_${pop.getLong(2)}"
      }
      val tag = s"${fixtureKey.replaceAll("[^A-Za-z0-9._-]", "_")}_$manifest"
      cache.computeIfAbsent(tag, { _ =>
        // executors write into executor-local java.io.tmpdir and the driver
        // renames the staging dir — correct ONLY when driver and executors
        // share a filesystem. Guard it: on a non-local master this would
        // silently publish an empty/partial dir.
        val master = docs.sparkSession.sparkContext.master
        require(master.startsWith("local"),
          s"PngFixtures.ensure requires a local master (driver and executors " +
          s"must share java.io.tmpdir); got '$master' — write fixtures " +
          "through the Hadoop FS API to shared storage instead")
        val tmpRoot = System.getProperty("java.io.tmpdir")
        val out = new File(tmpRoot, s"graft_png_$tag")
        if (!out.isDirectory) {
          val staging = new File(tmpRoot,
            s"graft_png_${tag}_staging_${java.util.UUID.randomUUID}")
          staging.mkdirs()
          val stagingPath = staging.getAbsolutePath
          docs.select(col("doc_id")).foreachPartition {
            (it: Iterator[org.apache.spark.sql.Row]) =>
              javax.imageio.ImageIO.setUseCache(false)
              it.foreach { row =>
                val id = row.getLong(0)
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(stagingPath, s"$id.png"), render(id))
              }
          }
          // atomic publish; lose the race benignly (same deterministic bytes)
          if (!staging.renameTo(out)) {
            // another writer published first (or rename failed): drop staging
            staging.listFiles().foreach(_.delete()); staging.delete()
            if (!out.isDirectory)
              throw new java.io.IOException(s"cannot publish PNG fixtures to $out")
          }
        }
        out.getAbsolutePath
      })
    }
  }
}
