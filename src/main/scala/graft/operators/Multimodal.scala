package graft.operators

import graft.{QueryRow, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode/feature-extract
  * stages.
  *
  * The decode stage is a REAL codec round-trip: deterministic
  * synthetic images are PNG-encoded into a binary column with
  * `javax.imageio` (one writer init per partition), then
  * [[decodeFeatures]] decodes the compressed bytes back with
  * `ImageIO.read` and derives exact integer pixel statistics — the
  * full schema/partitioning/batch shape of a production image
  * pipeline, with the JDK's PNG codec standing where libjpeg/ffmpeg
  * bindings would. Because the pixel values follow a closed-form
  * formula, the decoded statistics are DuckDB-checkable bit-for-bit
  * without DuckDB ever decoding a PNG.
  */
object Multimodal {

  // r18 (guide §1.2 per-task work): ImageIO's default stream cache is
  // DISK-backed — every ImageIO.read/write over a byte-array stream
  // creates (and deletes) a temp FILE per image. In-memory payloads
  // this small (8×8-ish rasters, ~100 B compressed) go through
  // memory-cached streams instead, chosen per call: nothing
  // process-global is switched, and the codec bytes are unchanged.

  /** PNG bytes of a w×h 8-bit gray image, pixel (x, y) = `pixel(x, y)`. */
  private def grayPng(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", out)
    finally out.close() // flushes into bos; bos itself stays open
    bos.toByteArray
  }

  /** Decode image bytes; null when no registered reader accepts them. */
  private def decoded(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))

  /** Synthesize a binary "media" column from document text (the
    * harness has no media tables; payload bytes are UTF-8 text, which
    * keeps every downstream byte-level op real). */
  def binarized(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"))

  /** Byte-level metadata over binary payloads — size, content digest,
    * magic-prefix — the columnar part of media ingestion (fully
    * codegen'd, oracle-checkable). */
  def binaryMeta(spark: SparkSession, sf: String): DataFrame =
    binarized(spark, sf)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        substring(col("payload"), 1, 4).cast("string").as("magic"))
      .orderBy(col("doc_id"))

  /** Output schema of the decoder: fixed-size feature vector +
    * decoded dimensions — the shape a real image decode/resize/embed
    * stage produces. Features are exact integer counts (a 16-bin
    * gray-level histogram) so the downstream exploded form is
    * oracle-checkable bit-for-bit. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(LongType))))

  private val imageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType)))

  /** Deterministic synthetic gray image per document, PNG-ENCODED with
    * the JDK codec: width = 8 + doc_id%8, height = 8 + doc_id%5, and
    * gray(x,y) = (doc_id·31 + x·7 + y·13) mod 256 — a closed form any
    * engine can recompute, carried as real compressed image bytes.
    * mapPartitions so the encoder state initializes once per partition
    * (the codec-amortization shape of every production media stage). */
  def imageized(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): the PNG ENCODE is fixture SYNTHESIS (the
    // harness has no media tables), not the operator any image row
    // measures — production reads compressed payloads from storage.
    // q_decode_features, q_resize_pool and q_image_phash each re-ran
    // it; one encode per (dataset, session), every decode row reads
    // the checkpointed compressed bytes (~100 B/doc).
    graft.CachePool.sessionCheckpoint("imageized", spark, sf) {
      imageizedBuild(spark, sf)
    }

  private def imageizedBuild(spark: SparkSession, sf: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(imageSchema)
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"))
      // one partition per fixture file otherwise — the PNG encode
      // pass would run single-task (r18, the shingledCached finding)
      .repartition(math.max(1, spark.sparkContext.defaultParallelism),
        col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = 8 + (id % 8).toInt
          val h = 8 + (id % 5).toInt
          Row(id, grayPng(w, h)((x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
        }
      }(enc)
  }

  /** Partition-parallel decode/feature-extract over REAL PNG bytes:
    * `ImageIO.read` decompresses each payload and the 16-bin gray
    * histogram + decoded dimensions come from the raster — a decode
    * failure throws, it cannot silently fall back to a fake. The
    * feature vector is exploded to scalar (doc_id, bin_idx, n_in_bin)
    * rows so the result is sortable/hashable by any downstream
    * comparator; the DuckDB oracle recomputes the same statistics from
    * the pixel formula, pinning the whole encode→decode round-trip. */
  def decodeFeatures(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): q_resize_pool pools OVER these decoded
    // statistics — production derives both views from one decode, not
    // one decode per view.
    graft.CachePool.sessionCheckpoint("decode-features", spark, sf) {
      decodeFeaturesBuild(spark, sf)
    }

  private def decodeFeaturesBuild(spark: SparkSession, sf: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureSchema)
    imageized(spark, sf)
      .mapPartitions { rows =>
        // codec init amortized per partition (ImageIO reader registry
        // lookup happens once per JVM; stream wrappers per image)
        rows.map { r =>
          val id = r.getLong(0)
          val img = decoded(r.getAs[Array[Byte]](1))
          require(img != null, s"undecodable payload for doc $id")
          val raster = img.getRaster
          val hist = new Array[Long](16)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              hist(raster.getSample(x, y, 0) / 16) += 1L
              x += 1
            }
            y += 1
          }
          Row(id, img.getWidth, img.getHeight, hist.toSeq)
        }
      }(enc)
      .select(col("doc_id"), col("width"), col("height"),
        posexplode(col("features")).as(Seq("bin_idx", "n_in_bin")))
      .select(col("doc_id"), col("width"), col("height"),
        col("bin_idx").cast("long").as("bin_idx"), col("n_in_bin"))
      .orderBy(col("doc_id"), col("bin_idx"))
  }

  /** Perceptual image hash (dHash family) + exact-dup grouping: a
    * 56-bit gradient hash over a fixed 8×8 nearest-neighbor sample
    * grid of the DECODED raster (7 horizontal comparisons × 8 rows;
    * 56 bits keeps every exponent inside a signed long on both
    * engines, where the classic 64th bit would wrap differently).
    * Nearest-neighbor sampling is integer index arithmetic — no float
    * resampler — so the hash is bit-identical everywhere, and the
    * DuckDB oracle recomputes it from the closed-form pixel formula
    * without decoding a PNG: the Spark side's value coming off the
    * real `ImageIO` raster IS the end-to-end decode pin. Grouping is
    * one partial-agg groupBy on the hash; at scale this is the image
    * near-dup path (hamming-ball probing over the same hash column —
    * the SimHash banding machinery applies unchanged).
    */
  def imagePhash(spark: SparkSession, sf: String): DataFrame = {
    val hashSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("phash", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(hashSchema)
    val hashes = imageized(spark, sf).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val img = decoded(r.getAs[Array[Byte]](1))
        require(img != null, s"undecodable payload for doc $id")
        val raster = img.getRaster
        val w = img.getWidth
        val h = img.getHeight
        var phash = 0L
        var j = 0
        while (j < 8) {
          val y = j * h / 8
          var i = 0
          while (i < 7) {
            val a = raster.getSample(i * w / 8, y, 0)
            val b = raster.getSample((i + 1) * w / 8, y, 0)
            if (b > a) phash |= 1L << (j * 7 + i)
            i += 1
          }
          j += 1
        }
        Row(id, phash)
      }
    }(enc)
    val groups = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("group_id"),
        count(lit(1)).as("group_size"))
    hashes.join(groups, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("group_id"), col("group_size"))
      .orderBy(col("doc_id"))
  }

  /** Resize stage: area-pooling on the decoded features — the 16-bin
    * histogram downsamples to 4 coarse bins by EXACT integer summation
    * and the frame dimensions halve, the arithmetic shape of an image
    * resize. Runs on the decode output (kernel-swap point untouched)
    * and stays oracle-checkable bit-for-bit because pooling is integer
    * addition, not float interpolation. */
  def resizePool(spark: SparkSession, sf: String, factor: Int = 4): DataFrame =
    decodeFeatures(spark, sf)
      .groupBy(col("doc_id"), col("width"), col("height"),
        floor(col("bin_idx") / factor).cast("long").as("pool_idx"))
      .agg(sum(col("n_in_bin")).as("n_pooled"))
      .select(col("doc_id"),
        (col("width") / 2).cast("int").as("out_width"),
        (col("height") / 2).cast("int").as("out_height"),
        col("pool_idx"), col("n_pooled"))
      .orderBy(col("doc_id"), col("pool_idx"))

  /** Frame sampling over a binary "video" payload: take every k-th
    * byte window as a frame digest — the stride/window plumbing of
    * real frame extraction, column-only. */
  def frameSample(spark: SparkSession, sf: String, stride: Int = 64): DataFrame =
    binarized(spark, sf)
      // empty payloads have no frames — filtered on BOTH sides (the
      // DuckDB oracle's generate_series is empty for them; an unguarded
      // greatest(0, …) here would emit a phantom frame 0)
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0),
              floor((octet_length(col("payload")) - 1) / stride).cast("int")),
            i => md5(col("payload").substr(i * stride + 1, lit(stride)))))
        .as(Seq("frame_idx", "frame_digest")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_digest"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Scene-cut threshold for [[sceneCuts]]: a cut fires where the
    * inter-frame feature delta reaches this value (features are
    * mean-byte ×100, so 400 = a 4-point average shift). Interpolated
    * into both engines. */
  val SceneCutThresh = 400L

  /** Frame window width in bytes for [[sceneCuts]] (same stride as
    * [[frameSample]]'s digests). */
  val SceneFrameBytes = 64

  /** Scene-cut detection + scene segmentation over the binary "video"
    * payload — the temporal-difference detector every video curation
    * pipeline runs before frame dedup (cut where consecutive frame
    * features jump; frames between cuts share a scene_id, and
    * downstream samplers pick one keyframe per scene instead of one
    * per stride). Features are deterministic integers — per-frame
    * mean byte value ×100 (integer div by the frame's true length, so
    * the short tail frame is not biased) — because [[frameSample]]'s
    * md5 digests avalanche and carry no distance semantics;
    * [[sceneCutsDecoded]] IS the kernel swap wired: the same
    * [[cutsFrom]] segmentation over per-frame luma means read off a
    * REAL `ImageIO`-decoded raster.
    *
    * Shape at 100 TB: feature extraction is a shuffle-free map
    * (slice + aggregate over the char-code array, all codegen); the
    * lag/running-sum windows partition BY DOCUMENT — per-key state is
    * one video's frame count, bounded by clip length, never corpus-
    * sized, the same per-entity-window argument as q_sessionize. */
  def sceneCuts(spark: SparkSession, sf: String): DataFrame = {
    val w = SceneFrameBytes
    // per-char code array; filter the empty split artifact defensively
    val codes = filter(
      transform(split(col("text"), ""), c => ascii(c).cast("long")),
      c => c > 0L)
    val feats = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), codes.as("cs"))
      .filter(size(col("cs")) > 0)
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0L), floor((size(col("cs")) - 1).cast("long") / w)),
          i => {
            val win = slice(col("cs"), (i * w + 1).cast("int"), lit(w))
            // floor(double) is exact here: sum*100 ≤ 64·255·100 ≪ 2⁵³
            floor(aggregate(win, lit(0L), (a, x) => a + x) * 100L
              / size(win))
          })).as(Seq("frame_idx", "feat")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("feat").cast("long").as("feat"))
    cutsFrom(feats, SceneCutThresh)
  }

  /** The cut/segmentation kernel over a (doc_id, frame_idx, feat)
    * frame — lag delta vs threshold, running cut-sum as scene id —
    * shared by [[sceneCuts]] (byte-mean features) and
    * [[sceneCutsDecoded]] (real decoded-luma features), so the two
    * rows differ ONLY in the feature kernel, which is the documented
    * swap point. Windows partition per clip: per-key state is one
    * video's frame count, bounded by clip length, never corpus-sized.
    */
  private[graft] def cutsFrom(feats: DataFrame, thresh: Long): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    feats
      .withColumn("is_cut",
        when(col("frame_idx") > 0 &&
          abs(col("feat") - lag(col("feat"), 1).over(byDoc))
            >= thresh, 1L).otherwise(0L))
      .withColumn("scene_id",
        sum(col("is_cut")).over(
          byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .select(col("doc_id"), col("frame_idx"), col("feat"),
        col("is_cut"), col("scene_id"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** DuckDB replay of [[sceneCuts]]: identical char-code windows,
    * integer mean-×100 feature, lag delta, threshold, and running
    * scene index. */
  def sceneCutsOracle: String =
    s"""WITH cs AS (
         SELECT doc_id,
           list_transform(range(1, len(text) + 1),
             i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
         FROM documents WHERE len(text) > 0),
       f AS (
         SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           CAST(list_sum(cs[CAST(i * $SceneFrameBytes + 1 AS INT):
                            CAST(i * $SceneFrameBytes + $SceneFrameBytes AS INT)])
             * 100 // len(cs[CAST(i * $SceneFrameBytes + 1 AS INT):
                             CAST(i * $SceneFrameBytes + $SceneFrameBytes AS INT)])
             AS BIGINT) AS feat
         FROM cs, LATERAL (SELECT unnest(generate_series(0,
           CAST((len(cs) - 1) // $SceneFrameBytes AS BIGINT))) AS i) g),
       d AS (
         SELECT doc_id, frame_idx, feat,
           CASE WHEN frame_idx > 0 AND abs(feat -
             lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx))
             >= $SceneCutThresh THEN 1 ELSE 0 END AS is_cut
         FROM f)
       SELECT doc_id, frame_idx, feat, CAST(is_cut AS BIGINT) AS is_cut,
         CAST(SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS scene_id
       FROM d ORDER BY doc_id, frame_idx"""

  /** q_keyframes: ONE keyframe per detected scene — the downstream
    * sampler [[sceneCuts]]'s doc promises ("pick one keyframe per
    * scene instead of one per stride"): the FIRST frame of each scene
    * (the I-frame-after-cut rule — deterministic, and the cheapest
    * defensible choice since intra-scene frames are near-identical by
    * the cut criterion). Output one row per (clip, scene) with the
    * keyframe's index + feature and the scene length — this is the
    * frame list a video curation pipeline actually decodes at full
    * resolution, typically a ~10× reduction over stride sampling.
    * Shape: one per-(doc, scene) partial agg on top of the cut pass;
    * the argmin rides a packed min(struct), no extra window. */
  def keyframes(spark: SparkSession, sf: String): DataFrame =
    keyframesFrom(sceneCuts(spark, sf))

  /** The keyframe selection over an arbitrary cut pass — shared by
    * [[keyframes]] (byte-mean cuts) and [[videoNearDup]] (real-decode
    * cuts), so the sampler under test is the production sampler
    * whatever feature kernel fed it. */
  private[graft] def keyframesFrom(cuts: DataFrame): DataFrame =
    cuts
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(struct(col("frame_idx"), col("feat"))).as("kf"),
        count(lit(1)).as("n_frames"))
      .select(col("doc_id"), col("scene_id"),
        col("kf.frame_idx").as("frame_idx"), col("kf.feat").as("feat"),
        col("n_frames"))
      .orderBy(col("doc_id"), col("scene_id"))

  /** DuckDB replay of [[keyframes]]: the scene-cut oracle as a derived
    * table (composed whole — no string surgery), first frame per
    * (doc, scene) by ROW_NUMBER, scene length by a window count. */
  def keyframesOracle: String =
    s"""SELECT doc_id, scene_id, frame_idx, feat, n_frames
       FROM (SELECT doc_id, scene_id, frame_idx, feat,
               CAST(COUNT(*) OVER (PARTITION BY doc_id, scene_id)
                 AS BIGINT) AS n_frames,
               ROW_NUMBER() OVER (PARTITION BY doc_id, scene_id
                 ORDER BY frame_idx) AS rk
             FROM ($sceneCutsOracle) sc) t
       WHERE rk = 1
       ORDER BY doc_id, scene_id"""

  /** Scene geometry for [[sceneCutsDecoded]]'s synthetic clips —
    * frames per clip 6 + id%4 (2-3 scenes each), scene length 3,
    * per-frame gray raster `base + (x·7 + y·13) % 32` with
    * `base = ((id + frame div 3) % 4) · 64` (≤ 223, never wraps the
    * byte — the closed form stays exactly recomputable), clip
    * dimensions the [[imageized]] w/h formulas. Within a scene
    * consecutive frames are IDENTICAL rasters (luma delta 0); across
    * a boundary the base jumps ±64 or −192, a mean-×100 delta of
    * 6400 or 19200 — so the threshold separates the two cases with a
    * wide deterministic margin. All interpolated into both engines. */
  val SceneCutDecodedThresh = 3200L
  val DecodedSceneLen = 3

  private val decodedFeatSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", LongType),
    StructField("feat", LongType)))

  /** q_scene_cuts_decoded: [[sceneCuts]] with the REAL-DECODE feature
    * kernel wired — per-document synthetic clips whose frames are
    * PNG-ENCODED with the JDK codec and decoded back with
    * `ImageIO.read` (the proven [[decodeFeatures]] path; a decode
    * failure throws, it cannot fall back to the closed form), the
    * per-frame feature is the decoded raster's luma mean ×100
    * (integer div by the true pixel count), and segmentation is the
    * SAME [[cutsFrom]] kernel as the byte-mean row. The DuckDB oracle
    * recomputes the features from the closed-form pixel formula
    * without decoding a PNG — so the driver row pins the whole
    * encode→decode→mean→cut loop end-to-end.
    *
    * Shape at 100 TB: feature extraction is a partition-parallel map
    * with per-partition codec amortization (the [[decodeFeatures]]
    * posture); the cut windows partition per clip — bounded state,
    * never corpus-sized. */
  def sceneCutsDecoded(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): q_scene_cuts_decoded and q_video_neardup
    // both pay the full PNG encode→decode pass; one codec pass per
    // (dataset, session), the dup row reads the checkpointed per-frame
    // cut assignment (3 longs/frame — never raw rasters).
    graft.CachePool.sessionCheckpoint("scene-cuts-decoded", spark, sf) {
      sceneCutsDecodedBuild(spark, sf)
    }

  private def sceneCutsDecodedBuild(spark: SparkSession, sf: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(decodedFeatSchema)
    val feats = Tables.load(spark, sf, "documents")
      .select(col("doc_id"))
      // the per-frame encode→decode round trip is the expensive map
      // stage — never leave it on the scan's one-partition layout
      .repartition(math.max(1, spark.sparkContext.defaultParallelism),
        col("doc_id"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val w = 8 + (id % 8).toInt
          val h = 8 + (id % 5).toInt
          val nf = 6 + (id % 4).toInt
          (0 until nf).map { fi =>
            val base = (((id + fi / DecodedSceneLen) % 4) * 64).toInt
            // the real codec round-trip: compressed bytes in the
            // middle, the feature comes off the DECODED raster
            val dec = decoded(grayPng(w, h)((x, y) => base + (x * 7 + y * 13) % 32))
            require(dec != null, s"undecodable frame $fi of doc $id")
            val dr = dec.getRaster
            var sum = 0L
            var y = 0
            while (y < dec.getHeight) {
              var x = 0
              while (x < dec.getWidth) {
                sum += dr.getSample(x, y, 0); x += 1
              }
              y += 1
            }
            Row(id, fi.toLong,
              sum * 100L / (dec.getWidth.toLong * dec.getHeight))
          }
        }
      }(enc)
    cutsFrom(feats, SceneCutDecodedThresh)
  }

  /** DuckDB replay of [[sceneCutsDecoded]]: the closed-form raster
    * (never a PNG decode — the cross-engine agreement IS the decode
    * pin), identical integer luma mean, and the shared lag/threshold/
    * running-sum segmentation. */
  def sceneCutsDecodedOracle: String =
    s"""WITH g AS (
         SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h,
           6 + doc_id % 4 AS nf
         FROM documents),
       tex AS (
         SELECT g.doc_id, g.w * g.h AS np,
           CAST(SUM((xs.x * 7 + ys.y * 13) % 32) AS BIGINT) AS tsum
         FROM g,
           LATERAL (SELECT unnest(range(0, g.w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, g.h)) AS y) ys
         GROUP BY g.doc_id, g.w * g.h),
       f AS (
         SELECT g.doc_id, CAST(fs.fi AS BIGINT) AS frame_idx,
           ((g.doc_id + (fs.fi // $DecodedSceneLen)) % 4) * 64 AS base
         FROM g, LATERAL (SELECT unnest(range(0, g.nf)) AS fi) fs),
       feat AS (
         SELECT f.doc_id, f.frame_idx,
           CAST((f.base * t.np + t.tsum) * 100 // t.np AS BIGINT) AS feat
         FROM f JOIN tex t ON t.doc_id = f.doc_id),
       d AS (
         SELECT doc_id, frame_idx, feat,
           CASE WHEN frame_idx > 0 AND abs(feat -
             lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx))
             >= $SceneCutDecodedThresh THEN 1 ELSE 0 END AS is_cut
         FROM feat)
       SELECT doc_id, frame_idx, feat, CAST(is_cut AS BIGINT) AS is_cut,
         CAST(SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS scene_id
       FROM d ORDER BY doc_id, frame_idx"""

  /** q_video_neardup: CONTENT-level video dedup — the three verified
    * kernels composed end to end: [[sceneCutsDecoded]]'s real
    * encode→`ImageIO`-decode feature pass segments each clip, the
    * shared [[keyframesFrom]] sampler picks one keyframe per scene,
    * and each clip's ordered (scene, keyframe-feature) sequence
    * hashes into a clip-level fingerprint — clips grouped by
    * fingerprint with the canonical-min/group-size/is_dup shape of
    * [[Dedup.exact]]. This is the video analog of text exact-dedup
    * run ABOVE the codec: two clips whose container bytes differ but
    * whose decoded keyframe content agrees collapse into one group,
    * which byte-level md5 can never do. A tolerance variant swaps
    * the feature equality for per-keyframe dHash hamming distance
    * ([[imagePhash]]'s kernel) fed through the same fingerprint-join
    * shape — the documented dial, not a different plan.
    *
    * Shape at 100 TB: decode is the partition-parallel map the
    * decoded-cut row already pays; the signature is one per-clip
    * ordered agg (state bounded by scenes-per-clip); grouping is one
    * window over 16-byte fingerprints — never raw frames. The DuckDB
    * oracle composes the closed-form-raster replay through the same
    * keyframe + string_agg + md5 chain, so the whole
    * decode→segment→sample→fingerprint→group loop is hash-pinned. */
  def videoNearDup(spark: SparkSession, sf: String): DataFrame = {
    val kf = keyframesFrom(sceneCutsDecoded(spark, sf))
    val sigs = kf.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("scene_id"), col("feat"))))
        .as("kfs"))
      .select(col("doc_id"),
        md5(array_join(transform(col("kfs"),
          s => concat(s.getField("scene_id"), lit(":"),
            s.getField("feat"))), "|")).as("vfp"),
        size(col("kfs")).cast("long").as("n_scenes"))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vfp"))
    sigs
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("group_size", count(lit(1)).over(byFp))
      .select(col("doc_id"), col("vfp"), col("n_scenes"),
        col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).cast("long").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[videoNearDup]]: the decoded-cut oracle as a
    * derived table, keyframes by ROW_NUMBER, the ordered
    * `scene:feat` string_agg fingerprint, and the same grouping
    * windows. */
  def videoNearDupOracle: String =
    s"""WITH kf AS (
         SELECT doc_id, scene_id, frame_idx, feat
         FROM (SELECT doc_id, scene_id, frame_idx, feat,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, scene_id
                   ORDER BY frame_idx) AS rk
               FROM ($sceneCutsDecodedOracle) sc) t
         WHERE rk = 1),
       sig AS (
         SELECT doc_id,
           md5(string_agg(scene_id || ':' || feat, '|'
             ORDER BY scene_id)) AS vfp,
           CAST(COUNT(*) AS BIGINT) AS n_scenes
         FROM kf GROUP BY doc_id)
       SELECT doc_id, vfp, n_scenes,
         CAST(MIN(doc_id) OVER (PARTITION BY vfp) AS BIGINT)
           AS canonical_id,
         CAST(COUNT(*) OVER (PARTITION BY vfp) AS BIGINT) AS group_size,
         CAST(doc_id != MIN(doc_id) OVER (PARTITION BY vfp) AS BIGINT)
           AS is_dup
       FROM sig ORDER BY doc_id"""

  // ---- audio ---------------------------------------------------------

  private val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType)))

  /** Audio synthesis parameters per document — a closed form any
    * engine can recompute: n samples of a 16-bit integer TRIANGLE wave
    * (period p, amplitude a). Triangle, not sine: every sample is pure
    * integer arithmetic (`a − (2a·|2(i mod p) − p|) div p`), so the
    * DuckDB oracle regenerates the exact waveform without touching
    * libm (whose sin() differs across engines in the last bit). */
  private def audioParams(id: Long): (Int, Int, Int) =
    (512 + (id % 7).toInt * 64,   // n samples
      16 + (id % 32).toInt,       // period
      8192 + (id % 4).toInt * 4096) // amplitude

  private def triSample(i: Int, p: Int, a: Int): Int = {
    val tri = math.abs(2 * (i % p) - p)
    a - (2 * a * tri) / p
  }

  /** Deterministic synthetic PCM per document, WAV-ENCODED with the
    * JDK codec (`javax.sound.sampled.AudioSystem`, the audio analog of
    * the imageized ImageIO stage): 16-bit signed little-endian mono at
    * a nominal 8 kHz, carried as real RIFF/WAVE bytes. mapPartitions
    * for per-partition codec-state amortization. */
  def audioized(spark: SparkSession, sf: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioSchema)
    val format = () => new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, true, false) // signed, little-endian
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"))
      .mapPartitions { rows =>
        val fmt = format()
        rows.map { r =>
          val id = r.getLong(0)
          val (n, p, a) = audioParams(id)
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = triSample(i, p, a)
            pcm(2 * i) = (s & 0xFF).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Row(id, bos.toByteArray)
        }
      }(enc)
  }

  private val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("window_idx", LongType),
    StructField("n_samples", LongType),
    StructField("energy", LongType),
    StructField("zero_crossings", LongType),
    StructField("peak", LongType)))

  /** Partition-parallel decode/feature-extract over REAL WAV bytes:
    * `AudioSystem.getAudioInputStream` parses the RIFF container and
    * yields the PCM frames, and per 128-sample window the extractor
    * derives exact integer features — energy (Σ s², the loudness
    * measure), zero crossings (the classic cheap pitch/voicedness
    * signal), and peak amplitude. A parse failure throws; it cannot
    * silently fall back to the closed form. The DuckDB oracle
    * regenerates the same windows from the triangle formula, pinning
    * the synthesize→WAV-encode→decode→feature loop end-to-end —
    * the audio analog of [[decodeFeatures]]'s PNG pin. */
  def audioFeatures(spark: SparkSession, sf: String,
      window: Int = 128): DataFrame =
    wavWindowFeatures(audioized(spark, sf), window)
      .orderBy(col("doc_id"), col("window_idx"))

  /** The WAV decode + per-window feature extractor over an arbitrary
    * (doc_id, payload) frame — shared by [[audioFeatures]] and
    * [[audioVad]] so the VAD's energies come off the same real codec
    * path the features row pins. Unsorted; callers order. */
  private def wavWindowFeatures(src: DataFrame, window: Int): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioFeatureSchema)
    src
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          require(ais.getFormat.getSampleSizeInBits == 16 &&
            !ais.getFormat.isBigEndian, s"unexpected format for doc $id")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          val samples = Array.tabulate(n) { i =>
            ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
          }
          (0 until n by window).map { start =>
            val end = math.min(start + window, n)
            var energy = 0L
            var zc = 0L
            var peak = 0L
            var i = start
            while (i < end) {
              val s = samples(i)
              energy += s.toLong * s.toLong
              if (i > start && samples(i - 1).toLong * s.toLong < 0L) zc += 1L
              if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
              i += 1
            }
            Row(id, (start / window).toLong, (end - start).toLong,
              energy, zc, peak)
          }
        }
      }(enc)
  }

  /** Gating period for [[audioVad]]'s fixture: every
    * [[VadSilentEvery]]-th 128-sample window of the synthetic PCM is
    * ZEROED before WAV encoding — the seeded silence a VAD has to
    * find (the plain [[audioized]] triangle never goes quiet, so a
    * VAD over it would be degenerate-active). Aligned to the analysis
    * window so each window is wholly silent or wholly voiced, keeping
    * the segment boundaries closed-form. */
  val VadSilentEvery = 3
  val VadWindow = 128

  /** [[audioized]] with the [[VadSilentEvery]] silence gating — same
    * WAV/RIFF codec round-trip, same triangle params. */
  private def audioizedGated(spark: SparkSession, sf: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioSchema)
    val format = () => new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, true, false)
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"))
      .mapPartitions { rows =>
        val fmt = format()
        rows.map { r =>
          val id = r.getLong(0)
          val (n, p, a) = audioParams(id)
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s =
              if ((i / VadWindow) % VadSilentEvery == VadSilentEvery - 1) 0
              else triSample(i, p, a)
            pcm(2 * i) = (s & 0xFF).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Row(id, bos.toByteArray)
        }
      }(enc)
  }

  /** q_audio_vad: voice-activity segmentation over the gated WAV
    * corpus — the audio curation stage that drops dead air before
    * transcription/feature budgets are spent: per-window energies
    * come off the REAL decoded PCM (the [[audioFeatures]] extractor,
    * shared verbatim), a window is voiced iff its energy is positive
    * (the gate zeroes whole windows; a non-gated triangle window
    * always carries energy — |sample 0| = amplitude), and consecutive
    * voiced windows merge into segments by the gaps-and-islands rule
    * (`window_idx − row_number` per clip — the q_sessionize shape,
    * state bounded by clip length). One row per segment with its
    * window span and total energy; the DuckDB oracle regenerates the
    * gated waveform in closed form, so the row pins
    * synthesize→gate→WAV-encode→decode→segment end-to-end. */
  def audioVad(spark: SparkSession, sf: String): DataFrame = {
    val wins = wavWindowFeatures(audioizedGated(spark, sf), VadWindow)
    val act = wins.filter(col("energy") > 0)
      .withColumn("island", col("window_idx") -
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("window_idx"))))
    act.groupBy(col("doc_id"), col("island"))
      .agg(min(col("window_idx")).as("start_window"),
        max(col("window_idx")).as("end_window"),
        count(lit(1)).as("n_windows"),
        sum(col("energy")).as("total_energy"))
      .select(col("doc_id"), col("start_window"), col("end_window"),
        col("n_windows"), col("total_energy"))
      .orderBy(col("doc_id"), col("start_window"))
  }

  /** DuckDB replay of [[audioVad]]: the gated triangle in closed form
    * (the q_audio_features oracle with the window-zeroing CASE), then
    * the identical islands rule. */
  def audioVadOracle: String =
    s"""WITH d AS (
         SELECT doc_id,
           512 + (doc_id % 7) * 64 AS n,
           16 + (doc_id % 32) AS p,
           8192 + (doc_id % 4) * 4096 AS a
         FROM documents),
       s AS (
         SELECT doc_id,
           CASE WHEN (i // $VadWindow) % $VadSilentEvery
                  = ${VadSilentEvery - 1} THEN 0
                ELSE a - (2 * a * abs(2 * (i % p) - p)) // p END AS smp,
           i // $VadWindow AS w
         FROM d,
              LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g),
       wns AS (
         SELECT doc_id, CAST(w AS BIGINT) AS w,
           CAST(SUM(smp * smp) AS BIGINT) AS energy
         FROM s GROUP BY 1, 2),
       act AS (
         SELECT doc_id, w, energy,
           w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w)
             AS island
         FROM wns WHERE energy > 0)
       SELECT doc_id,
         CAST(MIN(w) AS BIGINT) AS start_window,
         CAST(MAX(w) AS BIGINT) AS end_window,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(energy) AS BIGINT) AS total_energy
       FROM act GROUP BY doc_id, island
       ORDER BY doc_id, start_window"""

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // --- multimodal binary plumbing
    // documents.text is pure ASCII, so DuckDB's VARCHAR md5/substring
    // operate on the same bytes Spark's binary md5/substr see.
    QueryRow("q_binary_meta", binaryMeta)(
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS digest,
         substring(text, 1, 4) AS magic
         FROM documents
         ORDER BY doc_id"""),
    // REAL-DECODE twin: Spark PNG-encodes a deterministic gray image
    // per doc (gray(x,y) = (doc_id*31 + x*7 + y*13) % 256, w=8+id%8,
    // h=8+id%5) and decodes it back with javax.imageio; the oracle
    // recomputes the 16-bin gray histogram straight from the pixel
    // formula — a codec round-trip that corrupts any pixel, dimension,
    // or bin breaks the hash.
    QueryRow("q_decode_features", decodeFeatures)(
      """WITH px AS (
           SELECT d.doc_id,
                  ((d.doc_id * 31 + x.x * 7 + y.y * 13) % 256) // 16 AS b
           FROM documents d,
                LATERAL (SELECT unnest(generate_series(0,
                  CAST(7 + d.doc_id % 8 AS BIGINT))) AS x) x,
                LATERAL (SELECT unnest(generate_series(0,
                  CAST(7 + d.doc_id % 5 AS BIGINT))) AS y) y
         )
         SELECT d.doc_id AS doc_id,
           CAST(8 + d.doc_id % 8 AS INTEGER) AS width,
           CAST(8 + d.doc_id % 5 AS INTEGER) AS height,
           CAST(g.b AS BIGINT) AS bin_idx,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_in_bin
         FROM documents d
         CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) g
         LEFT JOIN (SELECT doc_id, b, COUNT(*) AS n
                    FROM px GROUP BY doc_id, b) cnt
           ON cnt.doc_id = d.doc_id AND cnt.b = g.b
         ORDER BY d.doc_id, bin_idx"""),
    // Audio features recomputed from the closed-form triangle wave —
    // the Spark side derives them from REAL WAV bytes decoded by
    // javax.sound, so equality here pins the synthesize → RIFF encode
    // → container parse → PCM16LE decode → windowed-feature loop
    // end-to-end (triangle, not sine: pure integer arithmetic, no
    // engine-varying libm).
    QueryRow("q_audio_features", audioFeatures(_, _))(
      """WITH d AS (
           SELECT doc_id,
             512 + (doc_id % 7) * 64 AS n,
             16 + (doc_id % 32) AS p,
             8192 + (doc_id % 4) * 4096 AS a
           FROM documents),
         s AS (
           SELECT doc_id, i,
             a - (2 * a * abs(2 * (i % p) - p)) // p AS smp,
             i // 128 AS w
           FROM d,
                LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g),
         sl AS (
           SELECT doc_id, w, i, smp,
             lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM s)
         SELECT doc_id, CAST(w AS BIGINT) AS window_idx,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(smp * smp) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN i % 128 <> 0 AND prev * smp < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(MAX(abs(smp)) AS BIGINT) AS peak
         FROM sl GROUP BY doc_id, w
         ORDER BY doc_id, window_idx"""),
    // Resize = exact integer area-pooling of the decoded histogram
    // (16 bins → 4, i.e. pool = gray // 64) with halved dimensions.
    QueryRow("q_resize_pool", resizePool(_, _))(
      """WITH px AS (
           SELECT d.doc_id,
                  ((d.doc_id * 31 + x.x * 7 + y.y * 13) % 256) // 64 AS p
           FROM documents d,
                LATERAL (SELECT unnest(generate_series(0,
                  CAST(7 + d.doc_id % 8 AS BIGINT))) AS x) x,
                LATERAL (SELECT unnest(generate_series(0,
                  CAST(7 + d.doc_id % 5 AS BIGINT))) AS y) y
         )
         SELECT d.doc_id AS doc_id,
           CAST((8 + d.doc_id % 8) // 2 AS INTEGER) AS out_width,
           CAST((8 + d.doc_id % 5) // 2 AS INTEGER) AS out_height,
           CAST(g.p AS BIGINT) AS pool_idx,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_pooled
         FROM documents d
         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p) g
         LEFT JOIN (SELECT doc_id, p, COUNT(*) AS n
                    FROM px GROUP BY doc_id, p) cnt
           ON cnt.doc_id = d.doc_id AND cnt.p = g.p
         ORDER BY d.doc_id, pool_idx"""),
    // Perceptual dHash (56-bit, 7×8 gradient grid) recomputed from the
    // closed-form pixel formula — the Spark side hashes the REAL
    // decoded raster, so equality here pins the whole decode path.
    QueryRow("q_image_phash", imagePhash)(
      """WITH geo AS (
           SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
           FROM documents),
         bits AS (
           SELECT g.doc_id,
             SUM(CASE WHEN
                 ((g.doc_id * 31 + 7 * (((i.i + 1) * g.w) // 8)
                   + 13 * ((j.j * g.h) // 8)) % 256)
               > ((g.doc_id * 31 + 7 * ((i.i * g.w) // 8)
                   + 13 * ((j.j * g.h) // 8)) % 256)
               THEN (CAST(1 AS BIGINT) << (j.j * 7 + i.i)) ELSE 0 END)
               AS phash
           FROM geo g,
                (SELECT unnest(generate_series(0, 6)) AS i) i,
                (SELECT unnest(generate_series(0, 7)) AS j) j
           GROUP BY g.doc_id),
         grp AS (
           SELECT phash, MIN(doc_id) AS group_id, COUNT(*) AS group_size
           FROM bits GROUP BY phash)
         SELECT b.doc_id, CAST(b.phash AS BIGINT) AS phash,
           CAST(g.group_id AS BIGINT) AS group_id,
           CAST(g.group_size AS BIGINT) AS group_size
         FROM bits b JOIN grp g USING (phash)
         ORDER BY b.doc_id"""),
    QueryRow("q_frame_sample", frameSample(_, _))(
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         md5(substring(text, CAST(i AS INT) * 64 + 1, 64)) AS frame_digest
         FROM (SELECT doc_id, text,
                 octet_length(encode(text)) AS nb FROM documents
               WHERE octet_length(encode(text)) > 0) t,
              LATERAL (SELECT unnest(generate_series(0,
                CAST(floor((nb - 1) / 64) AS BIGINT))) AS i) g
         ORDER BY doc_id, frame_idx"""),
    // Scene cuts: integer mean-byte frame features, lag deltas, the
    // threshold verdict, and the running scene index all replay —
    // a drifted window boundary or a biased tail frame flips rows
    QueryRow("q_scene_cuts", sceneCuts)(sceneCutsOracle),
    QueryRow("q_scene_cuts_decoded", sceneCutsDecoded)(sceneCutsDecodedOracle),
    QueryRow("q_keyframes", keyframes)(keyframesOracle),
    QueryRow("q_video_neardup", videoNearDup)(videoNearDupOracle),
    QueryRow("q_audio_vad", audioVad)(audioVadOracle)
  )
}
