package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2 m1): media as an opaque
  * `binary` column with typed metadata, decoded/feature-extracted through a
  * real distributed per-partition batch path.
  *
  * The container has no image/audio codecs, so the decode is a
  * deterministic STUB (byte statistics + fake dimensions derived from the
  * content hash) — but everything around it is the real thing: a binary
  * payload column, a typed metadata struct, and a `mapPartitions` batch
  * loop with an `Encoder`'d row class, which is exactly the shape a Pandas
  * `mapInPandas` / JNI codec call takes at scale. Swap `decodeStub` for a
  * codec and nothing else changes.
  *
  * Scale: the payload never moves through a shuffle — ingest, decode and
  * stats are one narrow pass; only the (tiny) per-item feature row
  * survives. Batching is per-partition with constant memory.
  */
object Multimodal {

  /** Raw media row: payload + typed metadata. */
  final case class MediaItem(doc_id: Long, media_type: String, content: Array[Byte])

  /** Decoded feature row (the only thing that outlives the scan). */
  final case class MediaFeatures(
    doc_id: Long, media_type: String, n_bytes: Long, byte_sum: Long,
    first_byte: Long, width: Long, height: Long, channels: Long)

  /** Deterministic synthetic media table: a 64-byte binary payload derived
    * from the document's md5 (4x the 16-byte digest), typed by doc_id. At a
    * real deployment this is the blob/bytes column of an ingest table. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        unhex(repeat(md5(col("text")), 4)).as("content"))

  /** The stubbed codec: byte stats + md5-derived fake dimensions. Pure
    * function of the payload — replace with a real decoder at will. */
  def decodeStub(item: MediaItem): MediaFeatures = {
    val bytes = item.content
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    // fake dims from the first 60 bits of the payload's hex rendering —
    // reproducible as CAST('0x'||substr(hex,1,15) AS BIGINT) in any engine
    val hex = bytes.take(8).map("%02x".format(_)).mkString
    val h60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val channels = item.media_type match {
      case "audio" => 1L
      case _ => 3L
    }
    MediaFeatures(
      doc_id = item.doc_id,
      media_type = item.media_type,
      n_bytes = bytes.length.toLong,
      byte_sum = sum,
      first_byte = (bytes(0) & 0xff).toLong,
      width = 64L + h60 % 1856L,
      height = 64L + (h60 / 2048L) % 1056L,
      channels = channels)
  }

  /** `m1_multimodal_meta`: the distributed decode pass — typed Dataset,
    * per-partition batched iteration (batch size bounds peak memory the
    * way an Arrow batch would for mapInPandas). */
  def m1MultimodalMeta(spark: SparkSession, dir: String, batchSize: Int = 256): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaItem]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // a real codec would decode the whole batch in one native call
          batch.iterator.map(decodeStub)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Frame geometry of the synthetic payloads: 64 bytes = 4 "frames" of
    * 16; sampling takes every 2nd frame. At a real deployment the frame
    * size comes from the container metadata and the payload is a real
    * video — the plumbing (binary slicing per sampled index, one pass,
    * only frame features survive the scan) is what this operator is. */
  val FrameBytes = 16
  val FrameStride = 2

  /** `m2_frame_sample`: fixed-stride frame sampling over the video
    * payloads — the Spark-side shape of "sample every Nth frame": explode
    * a frame-index sequence per row, slice the binary payload per sampled
    * index (`substring` on BinaryType), and emit a fingerprint + byte
    * stats per frame. The payload is scanned once and never shuffled;
    * only the tiny per-frame feature rows leave the scan. The fingerprint
    * hashes the frame's lowercase-hex rendering (identical byte sequence
    * in both engines; DuckDB's md5 only accepts VARCHAR). */
  def m2FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val nFrames = (length(col("content")) / lit(FrameBytes)).cast("int")
    val frames = mediaTable(spark, dir)
      .filter(col("media_type") === "video")
      // a payload shorter than one frame yields zero rows, not a crash:
      // sequence(0, -1, 2) throws on start > stop, and real deployments
      // see truncated blobs
      .filter(length(col("content")) >= FrameBytes)
      .select(col("doc_id"), col("content"),
        explode(sequence(lit(0), nFrames - 1, lit(FrameStride))).as("frame_idx"))
      .withColumn("frame_hex", lower(hex(expr(
        s"substring(content, 1 + frame_idx * $FrameBytes, $FrameBytes)"))))
    frames.select(
      col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      md5(col("frame_hex")).as("frame_fp"),
      aggregate(
        transform(sequence(lit(0), lit(FrameBytes - 1)),
          i => conv(col("frame_hex").substr(lit(1) + i * 2, lit(2)), 16, 10).cast("long")),
        lit(0L), (acc, x) => acc + x).as("byte_sum"),
      conv(substring(col("frame_hex"), 1, 2), 16, 10).cast("long").as("first_byte"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val m1Oracle: String =
    """WITH m AS (
      | SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  repeat(md5(text), 4) AS hex
      | FROM documents)
      |SELECT doc_id, media_type,
      | CAST(length(hex) / 2 AS BIGINT) AS n_bytes,
      | CAST(list_sum(list_transform(range(1, length(hex) + 1, 2),
      |   i -> CAST(('0x' || substr(hex, i, 2)) AS BIGINT))) AS BIGINT) AS byte_sum,
      | CAST(('0x' || substr(hex, 1, 2)) AS BIGINT) AS first_byte,
      | 64 + CAST(('0x' || substr(hex, 1, 15)) AS BIGINT) % 1856 AS width,
      | 64 + (CAST(('0x' || substr(hex, 1, 15)) AS BIGINT) // 2048) % 1056 AS height,
      | CASE WHEN CAST(doc_id % 3 AS INTEGER) = 1 THEN 1 ELSE 3 END AS channels
      |FROM m ORDER BY doc_id""".stripMargin

  /** m2 oracle works in the hex domain throughout (the payload IS
    * repeat(md5(text), 4) rendered as hex): frame f = 32 hex chars at
    * offset 32f. The frame count is DERIVED from the payload length
    * (len(hex) / 2 bytes / FrameBytes), exactly like the Spark side's
    * `length(content) / FrameBytes` — the two can't drift if the frame
    * geometry changes. DuckDB range() has an exclusive stop, so
    * range(0, nFrames, stride) ≡ Spark sequence(0, nFrames-1, stride),
    * and an empty range drops the row like the Spark side's short-payload
    * filter. */
  private val m2Oracle: String =
    s"""WITH v AS (
       | SELECT doc_id, repeat(md5(text), 4) AS hex FROM documents
       | WHERE CAST(doc_id % 3 AS INTEGER) = 2),
       |fi AS (
       | SELECT doc_id, hex,
       |  unnest(range(0, len(hex) // ${2 * FrameBytes}, $FrameStride)) AS frame_idx
       | FROM v),
       |f AS (
       | SELECT doc_id, frame_idx,
       |  substr(hex, 1 + CAST(frame_idx AS INTEGER) * ${2 * FrameBytes}, ${2 * FrameBytes}) AS fh
       | FROM fi)
       |SELECT doc_id, frame_idx, md5(fh) AS frame_fp,
       | CAST(list_sum(list_transform(range(0, $FrameBytes),
       |   i -> CAST(('0x' || substr(fh, 1 + 2 * CAST(i AS INTEGER), 2)) AS BIGINT))) AS BIGINT) AS byte_sum,
       | CAST(('0x' || substr(fh, 1, 2)) AS BIGINT) AS first_byte
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** m3 window geometry: overlapping 16-byte windows, 8-byte hop (50%
    * overlap) — the STFT-like segmentation shape of audio feature
    * extraction. */
  val WinBytes = 16
  val HopBytes = 8

  /** Energy below this marks a window "quiet" (the synthetic payloads'
    * expected window energy is ~87k, so the flag splits them
    * deterministically rather than landing all-0 or all-1). */
  val QuietBelow = 60000L

  /** `m3_audio_windows`: overlapping-window segmentation over the audio
    * payloads — the Spark-side shape of STFT/VAD feature extraction:
    * explode the window-start sequence per row, slice the binary payload
    * per window, emit integer energy (sum of squared deviations from the
    * 8-bit midpoint), peak deviation, a window fingerprint and a
    * quiet-window flag. Windows OVERLAP (hop < width), which the frame
    * sampler (m2) cannot express; the payload is still scanned once and
    * never shuffled, and every statistic is integer arithmetic, exact in
    * any engine and any execution order. */
  def m3AudioWindows(spark: SparkSession, dir: String): DataFrame = {
    val nWins = ((length(col("content")) - lit(WinBytes)) / lit(HopBytes) + 1).cast("int")
    val wins = mediaTable(spark, dir)
      .filter(col("media_type") === "audio")
      .filter(length(col("content")) >= WinBytes) // truncated blobs: 0 rows, not a crash
      .select(col("doc_id"), col("content"),
        explode(sequence(lit(0), nWins - 1)).as("win_idx"))
      .withColumn("win_hex", lower(hex(expr(
        s"substring(content, 1 + win_idx * $HopBytes, $WinBytes)"))))
      .withColumn("devs",
        transform(sequence(lit(0), lit(WinBytes - 1)),
          i => conv(col("win_hex").substr(lit(1) + i * 2, lit(2)), 16, 10).cast("long") - 128L))
    wins.select(
      col("doc_id"),
      col("win_idx").cast("long").as("win_idx"),
      (col("win_idx") * HopBytes).cast("long").as("start_byte"),
      md5(col("win_hex")).as("win_fp"),
      aggregate(col("devs"), lit(0L), (acc, d) => acc + d * d).as("energy"),
      array_max(transform(col("devs"), d => abs(d))).as("peak"))
      .withColumn("is_quiet",
        when(col("energy") < QuietBelow, 1L).otherwise(0L))
      .orderBy(col("doc_id"), col("win_idx"))
  }

  /** m3 oracle: hex-domain windows like m2's, with the OVERLAPPING start
    * sequence (window w = 32 hex chars at offset 16w — half the window
    * width, because the hop is half the window). */
  private val m3Oracle: String =
    s"""WITH a AS (
       | SELECT doc_id, repeat(md5(text), 4) AS hex FROM documents
       | WHERE CAST(doc_id % 3 AS INTEGER) = 1),
       |wi AS (
       | SELECT doc_id, hex,
       |  unnest(range(0, (len(hex) // 2 - $WinBytes) // $HopBytes + 1)) AS win_idx
       | FROM a WHERE len(hex) // 2 >= $WinBytes),
       |w AS (
       | SELECT doc_id, win_idx,
       |  substr(hex, 1 + CAST(win_idx AS INTEGER) * ${2 * HopBytes}, ${2 * WinBytes}) AS wh
       | FROM wi),
       |d AS (
       | SELECT doc_id, win_idx, wh,
       |  list_transform(range(0, $WinBytes),
       |   i -> CAST(('0x' || substr(wh, 1 + 2 * CAST(i AS INTEGER), 2)) AS BIGINT) - 128) AS devs
       | FROM w)
       |SELECT doc_id, win_idx, CAST(win_idx * $HopBytes AS BIGINT) AS start_byte,
       | md5(wh) AS win_fp,
       | CAST(list_sum(list_transform(devs, x -> x * x)) AS BIGINT) AS energy,
       | CAST(list_max(list_transform(devs, x -> abs(x))) AS BIGINT) AS peak,
       | CAST(CASE WHEN list_sum(list_transform(devs, x -> x * x)) < $QuietBelow
       |   THEN 1 ELSE 0 END AS BIGINT) AS is_quiet
       |FROM d ORDER BY doc_id, win_idx""".stripMargin

  /** m4 image geometry: the 64-byte payload as an 8×8 single-channel
    * "image", tiled 4×4 — so each image yields a 2×2 grid of tiles. At a
    * real deployment the dimensions come from decoded metadata (m1's
    * width/height) and the tiles feed a patch-based vision encoder; the
    * plumbing — 2D row-major gather from an opaque binary column, one
    * pass, features only — is what this operator is. */
  val ImgW = 8
  val ImgH = 8
  val TileW = 4
  val TileH = 4
  private val TilesX = ImgW / TileW
  private val TilesY = ImgH / TileH

  /** `m4_image_tiles`: fixed-grid 2D tile extraction over the image
    * payloads — the patch-extraction shape of a vision pipeline, and a
    * gather neither m2 (contiguous frames) nor m3 (overlapping windows)
    * can express: a tile's bytes are NOT contiguous, they are TileH
    * row-fragments each ImgW bytes apart. The tile is assembled in the
    * hex domain (concat of row slices), fingerprinted and reduced to
    * integer stats; the payload is scanned once and never shuffled, and
    * the 4× tile fan-out carries only tiny feature rows. */
  def m4ImageTiles(spark: SparkSession, dir: String): DataFrame = {
    val tiles = mediaTable(spark, dir)
      .filter(col("media_type") === "image")
      .filter(length(col("content")) >= ImgW * ImgH) // truncated blobs: 0 rows
      .withColumn("hex", lower(hex(col("content"))))
      .select(col("doc_id"), col("hex"),
        explode(sequence(lit(0), lit(TilesX * TilesY - 1))).as("tile_idx"))
      .withColumn("tile_x", col("tile_idx") % TilesX)
      .withColumn("tile_y", expr(s"tile_idx div $TilesX"))
      // row-major 2D gather: tile row r lives at byte
      // (tile_y*TileH + r)*ImgW + tile_x*TileW, i.e. twice that in hex
      .withColumn("tile_hex", concat_ws("",
        transform(sequence(lit(0), lit(TileH - 1)), r =>
          col("hex").substr(
            ((col("tile_y") * TileH + r) * ImgW + col("tile_x") * TileW) * 2 + 1,
            lit(TileW * 2)))))
      .withColumn("pix",
        transform(sequence(lit(0), lit(TileW * TileH - 1)),
          i => conv(col("tile_hex").substr(lit(1) + i * 2, lit(2)), 16, 10).cast("long")))
    tiles.select(
      col("doc_id"),
      col("tile_x").cast("long").as("tile_x"),
      col("tile_y").cast("long").as("tile_y"),
      md5(col("tile_hex")).as("tile_fp"),
      aggregate(col("pix"), lit(0L), (acc, x) => acc + x).as("byte_sum"),
      array_min(col("pix")).as("pix_min"),
      array_max(col("pix")).as("pix_max"))
      .orderBy(col("doc_id"), col("tile_y"), col("tile_x"))
  }

  /** m4 oracle: the same row-major hex-domain gather — tile row r of tile
    * (tx, ty) is 2·TileW hex chars at offset 2·((ty·TileH+r)·ImgW+tx·TileW). */
  private val m4Oracle: String =
    s"""WITH img AS (
       | SELECT doc_id, repeat(md5(text), 4) AS hex FROM documents
       | WHERE CAST(doc_id % 3 AS INTEGER) = 0 AND len(repeat(md5(text), 4)) // 2 >= ${ImgW * ImgH}),
       |t AS (
       | SELECT doc_id, hex, unnest(range(0, ${TilesX * TilesY})) AS tile_idx FROM img),
       |g AS (
       | SELECT doc_id, tile_idx % $TilesX AS tile_x, tile_idx // $TilesX AS tile_y,
       |  array_to_string(list_transform(range(0, $TileH), r ->
       |    substr(hex, 1 + 2 * (((tile_idx // $TilesX) * $TileH + CAST(r AS INTEGER)) * $ImgW
       |      + (tile_idx % $TilesX) * $TileW), ${2 * TileW})), '') AS tile_hex
       | FROM t),
       |p AS (
       | SELECT doc_id, tile_x, tile_y, tile_hex,
       |  list_transform(range(0, ${TileW * TileH}),
       |    i -> CAST(('0x' || substr(tile_hex, 1 + 2 * CAST(i AS INTEGER), 2)) AS BIGINT)) AS pix
       | FROM g)
       |SELECT doc_id, CAST(tile_x AS BIGINT) AS tile_x, CAST(tile_y AS BIGINT) AS tile_y,
       | md5(tile_hex) AS tile_fp,
       | CAST(list_sum(pix) AS BIGINT) AS byte_sum,
       | CAST(list_min(pix) AS BIGINT) AS pix_min,
       | CAST(list_max(pix) AS BIGINT) AS pix_max
       |FROM p ORDER BY doc_id, tile_y, tile_x""".stripMargin

  /** `m5_payload_dedup`: binary-payload storage-dedup audit per modality —
    * the multimodal face of exact dedup: identical media BYTES (re-crawled
    * images, re-encoded copies landing bit-identical) found by content
    * hash of the payload column itself, never by any text field, plus the
    * per-modality accounting a storage layer acts on (dup items, largest
    * copy group, reclaimable bytes). d1 answers "same text"; this answers
    * "same bytes" — different normalization, different column, different
    * consumer (blob store GC / CAS layout vs corpus curation).
    *
    * Shape: one narrow pass over the payload (digest + length leave the
    * scan, bytes never shuffle), a group on (modality, digest) — the CAS
    * key, a constant-width 32-char md5 — then a modality-grained rollup.
    * Linear, two map-side-partial aggregations, no skew (digests are
    * uniform). The digest domain is the payload's lowercase-hex rendering
    * (hashed map-side inside the scan projection, so the 2x-width hex
    * string exists only transiently per row and never reaches the
    * exchange) because the oracle engine's `md5` is VARCHAR-only; a
    * production run hashes the raw bytes (`md5(content)`/xxhash) and
    * nothing else changes — either way only 32 bytes per row shuffle. */
  def m5PayloadDedup(spark: SparkSession, dir: String): DataFrame = {
    val groups = mediaTable(spark, dir)
      .select(col("doc_id"), col("media_type"),
        md5(lower(hex(col("content")))).as("digest"),
        length(col("content")).cast("long").as("n_bytes"))
      .groupBy(col("media_type"), col("digest"))
      .agg(count(lit(1)).as("n_copies"), max(col("n_bytes")).as("n_bytes"))
    groups.groupBy(col("media_type"))
      .agg(
        sum(col("n_copies")).as("n_items"),
        count(lit(1)).as("n_unique"),
        sum(col("n_copies") - 1).as("n_dup_items"),
        max(col("n_copies")).as("max_copies"),
        sum(col("n_copies") * col("n_bytes")).as("bytes_total"),
        sum((col("n_copies") - 1) * col("n_bytes")).as("bytes_reclaimable"))
      .orderBy(col("media_type"))
  }

  private val m5Oracle: String =
    """WITH m AS (
      | SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  repeat(md5(text), 4) AS hx
      | FROM documents),
      |g AS (
      | SELECT media_type, md5(hx) AS digest, CAST(count(*) AS BIGINT) AS n_copies,
      |  CAST(max(length(hx)) / 2 AS BIGINT) AS n_bytes
      | FROM m GROUP BY 1, 2)
      |SELECT media_type,
      | CAST(sum(n_copies) AS BIGINT) AS n_items,
      | CAST(count(*) AS BIGINT) AS n_unique,
      | CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_items,
      | CAST(max(n_copies) AS BIGINT) AS max_copies,
      | CAST(sum(n_copies * n_bytes) AS BIGINT) AS bytes_total,
      | CAST(sum((n_copies - 1) * n_bytes) AS BIGINT) AS bytes_reclaimable
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** m6 mix weights: image 3 : audio 2 : video 1, scale 6 (their lcm) —
    * the per-modality stride `K_m = scale / W_m` is exact integer. */
  val MixWeights: Seq[(String, Int)] = Seq(("image", 3), ("audio", 2), ("video", 1))
  val MixScale = 6

  /** `m6_mix_manifest`: deterministic ratio-targeted modality interleave —
    * the data-MIXING step of a multimodal training pipeline (the batch
    * stream must honor the 3:2:1 image/audio/video recipe in every
    * prefix, not just in aggregate, or a training run sees modality
    * bursts). Stride scheduling in exact integers: each modality ranks
    * its items in deterministic md5 shuffle order, item r of modality m
    * gets mix key `r · (scale/W_m)` — sorting by (key, modality, doc_id)
    * yields a global order whose prefixes track the target ratios while
    * all modalities have supply. For the SHIPPED 3:2:1 recipe with its
    * alphabetical tie-break the worst per-modality deviation is 5/6 of
    * an item (the schedule period is `scale`=6; max residue |c − L·w/6|
    * over a period is 5/6), so MultimodalSpec asserts the ±1 bound up to
    * the measured exhaustion horizon; for ARBITRARY weights a prefix cut
    * mid-key-group can hold one not-yet-balanced item per modality
    * sharing the boundary key, which is the looser ±|modalities| bound
    * PropertySpec asserts.
    *
    * Shape: one narrow scan; BOTH orders are [[PrefixSum]] row counts —
    * the per-modality shuffle ranks (grouped by modality; a bare
    * partitionBy(media_type) window would buffer a third of the corpus in
    * one sort task) and the global sequence number over the mix key —
    * the manifest is corpus-sized, so no single-task or
    * modality-task window appears anywhere and any cluster width yields
    * the byte-identical manifest. An unweighted media_type raises
    * instead of silently keying null (nulls would sort an unweighted
    * burst to the manifest front). */
  def m6MixManifest(spark: SparkSession, dir: String): DataFrame = {
    // unknown modality = raise, never a silent null key (nulls would sort
    // to the manifest FRONT as an unweighted burst — the exact invariant
    // violation this operator exists to prevent)
    val stride = MixWeights.foldLeft(
      raise_error(concat(lit("m6: unweighted media_type "), col("media_type")))
        .cast("long")) { case (acc, (m, w)) =>
      when(col("media_type") === m, lit((MixScale / w).toLong)).otherwise(acc)
    }
    // per-modality shuffle ranks, distributed: a bare
    // Window.partitionBy(media_type) would buffer a third of the corpus
    // in one sort task
    val shuffled = mediaTable(spark, dir)
      .select(col("doc_id"), col("media_type"),
        md5(col("doc_id").cast("string")).as("shuf"))
    val keyed = PrefixSum(shuffled, Seq(col("shuf"), col("doc_id")), Some("media_type"), 0)
      .runningCount("r")
      .withColumn("mix_key", col("r") * stride)
      .select(col("doc_id"), col("media_type"), col("r"), col("mix_key"))
    // distributed global sequence over (mix_key, media_type, doc_id)
    PrefixSum(keyed, Seq(col("mix_key"), col("media_type"), col("doc_id")), None, 0)
      .runningCount("seq")
      .select(col("seq"), col("doc_id"), col("media_type"), col("r"), col("mix_key"))
      .orderBy(col("seq"))
  }

  /** m7 planted-anomaly buckets (the d8/t5 md5-bucket convention, two
    * INDEPENDENT salts so caption- and media-side anomalies overlap
    * naturally): captions exist for cap-bucket < [[CapBucketMax]], with a
    * STALE recorded digest in [[StaleBucketMin]]..CapBucketMax-1 (the
    * caption was authored against a since-re-encoded v1 payload); media
    * exists for med-bucket < [[MedBucketMax]], with a truncated re-upload
    * DUPLICATE below [[DupBucketMax]]. */
  val CapBucketMax = 90
  val StaleBucketMin = 80
  val MedBucketMax = 95
  val DupBucketMax = 5

  /** `m7_pair_audit`: cross-modal pairing integrity — the data-loading
    * audit every paired-modality corpus (image+caption, audio+transcript)
    * needs before t12 packs it: a training pair is only as good as the
    * JOIN that binds its sides, and real pair stores drift (captions
    * written for payloads that were later re-encoded, uploads that never
    * got captions, double uploads). One row per pair key seen on either
    * side: caption/media presence, media copy count, distinct payload
    * digests, and whether the digest the caption was AUTHORED against
    * still matches any stored payload (m5's CAS digest as the pairing
    * fingerprint). Verdict precedence: no_caption → no_media →
    * dup_media → digest_mismatch → ok.
    *
    * Scale: payload bytes die in the media scan's projection (only the
    * constant-width digest + length survive — the m5 shape, plan-pinned);
    * the caption side never touches payloads at all (it recomputes the
    * authored digest from its own text — the registry it models stores
    * one). ONE pair_key equi-join (caption side is key-unique, so no
    * fan-out) and one map-side-partial aggregate to the key grain; at
    * 100 TB both sides hash-partition by pair_key and AQE handles a hot
    * key. All verdict inputs are exact integers. */
  def m7PairAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long60
    val docs = Tables.load(spark, dir, "documents")
    // caption registry: pair_key + the payload digest the caption was
    // authored against (stale slice records the digest of the 16-byte v1
    // payload the re-encode replaced)
    val cap = docs
      .withColumn("cbkt", md5Long60(concat(col("doc_id").cast("string"), lit(":cap"))) % 100)
      .filter(col("cbkt") < CapBucketMax)
      .select(col("doc_id").as("pair_key"),
        when(col("cbkt") >= StaleBucketMin, md5(md5(col("text"))))
          .otherwise(md5(repeat(md5(col("text")), 4))).as("want_digest"))
    // media store: digest + length leave the scan, payload bytes do not;
    // the dup slice carries a truncated (32-byte) re-upload beside the
    // original — same pair key, different bytes, different digest
    val med0 = mediaTable(spark, dir)
      .withColumn("mbkt", md5Long60(concat(col("doc_id").cast("string"), lit(":med"))) % 100)
    def medRows(df: DataFrame, content: Column): DataFrame = df.select(
      col("doc_id").as("pair_key"), col("media_type"),
      md5(lower(hex(content))).as("digest"),
      length(content).cast("long").as("n_bytes"))
    val med = medRows(med0.filter(col("mbkt") < MedBucketMax), col("content"))
      .unionByName(medRows(med0.filter(col("mbkt") < DupBucketMax),
        expr("substring(content, 1, 32)")))
    val joined = cap.join(med, Seq("pair_key"), "full_outer")
    joined.groupBy(col("pair_key"))
      .agg(
        max(col("media_type")).as("media_type"),
        max(when(col("want_digest").isNotNull, 1L).otherwise(0L)).as("n_captions"),
        count(col("digest")).as("n_media"),
        countDistinct(col("digest")).as("n_digests"),
        coalesce(sum(col("n_bytes")), lit(0L)).as("media_bytes"),
        max(when(col("digest") === col("want_digest"), 1L).otherwise(0L)).as("any_match"))
      .withColumn("digest_match",
        when(col("n_captions") === 0 || col("n_media") === 0, lit(null).cast("long"))
          .otherwise(col("any_match")))
      .withColumn("status",
        when(col("n_captions") === 0, "no_caption")
          .when(col("n_media") === 0, "no_media")
          .when(col("n_media") > 1, "dup_media")
          .when(col("digest_match") === 0, "digest_mismatch")
          .otherwise("ok"))
      .select(col("pair_key"), col("media_type"), col("n_captions"),
        col("n_media"), col("n_digests"), col("media_bytes"),
        col("digest_match"), col("status"))
      .orderBy(col("pair_key"))
  }

  /** m7 oracle: same buckets, same hex-domain digest algebra —
    * `lower(hex(unhex(repeat(md5(text),4)))) = repeat(md5(text),4)`, so
    * the stored digest is `md5(repeat(md5(text),4))` and the truncated
    * re-upload's is `md5(repeat(md5(text),2))`. */
  private val m7Oracle: String = {
    def bkt(salt: String) =
      s"CAST(('0x' || substr(md5(doc_id || ':$salt'), 1, 15)) AS BIGINT) % 100"
    s"""WITH d AS (
       | SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  text, ${bkt("cap")} AS cbkt, ${bkt("med")} AS mbkt
       | FROM documents),
       |cap AS (
       | SELECT doc_id AS pair_key,
       |  CASE WHEN cbkt >= $StaleBucketMin THEN md5(md5(text))
       |       ELSE md5(repeat(md5(text), 4)) END AS want_digest
       | FROM d WHERE cbkt < $CapBucketMax),
       |med AS (
       | SELECT doc_id AS pair_key, media_type,
       |  md5(repeat(md5(text), 4)) AS digest, CAST(64 AS BIGINT) AS n_bytes
       | FROM d WHERE mbkt < $MedBucketMax
       | UNION ALL
       | SELECT doc_id, media_type, md5(repeat(md5(text), 2)), 32
       | FROM d WHERE mbkt < $DupBucketMax),
       |g AS (
       | SELECT pair_key,
       |  max(media_type) AS media_type,
       |  max(CASE WHEN want_digest IS NOT NULL THEN 1 ELSE 0 END) AS n_captions,
       |  count(digest) AS n_media,
       |  count(DISTINCT digest) AS n_digests,
       |  coalesce(sum(n_bytes), 0) AS media_bytes,
       |  max(CASE WHEN digest = want_digest THEN 1 ELSE 0 END) AS any_match
       | FROM cap FULL OUTER JOIN med USING (pair_key)
       | GROUP BY pair_key)
       |SELECT pair_key, media_type,
       | CAST(n_captions AS BIGINT) AS n_captions,
       | CAST(n_media AS BIGINT) AS n_media,
       | CAST(n_digests AS BIGINT) AS n_digests,
       | CAST(media_bytes AS BIGINT) AS media_bytes,
       | CAST(CASE WHEN n_captions = 0 OR n_media = 0 THEN NULL
       |      ELSE any_match END AS BIGINT) AS digest_match,
       | CASE WHEN n_captions = 0 THEN 'no_caption'
       |      WHEN n_media = 0 THEN 'no_media'
       |      WHEN n_media > 1 THEN 'dup_media'
       |      WHEN any_match = 0 THEN 'digest_mismatch'
       |      ELSE 'ok' END AS status
       |FROM g ORDER BY pair_key""".stripMargin
  }

  private val m6Oracle: String = {
    val strideCase = MixWeights.map { case (m, w) =>
      s"WHEN '$m' THEN ${MixScale / w}"
    }.mkString("CASE media_type ", " ", " END")
    s"""WITH m AS (
       | SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  md5(CAST(doc_id AS VARCHAR)) AS shuf
       | FROM documents),
       |k AS (
       | SELECT doc_id, media_type,
       |  CAST(row_number() OVER (PARTITION BY media_type ORDER BY shuf, doc_id) AS BIGINT) AS r
       | FROM m),
       |x AS (
       | SELECT doc_id, media_type, r, r * ($strideCase) AS mix_key FROM k)
       |SELECT CAST(row_number() OVER (ORDER BY mix_key, media_type, doc_id) AS BIGINT) AS seq,
       | doc_id, media_type, r, CAST(mix_key AS BIGINT) AS mix_key
       |FROM x ORDER BY seq""".stripMargin
  }

  // ---------------------------------------------------------------- m9

  /** m9 bin width, in encoder tokens — the multimodal training-sequence
    * budget (the m-family analog of t12's [[TextAnalysis.BinTokens]],
    * sized to the synthetic items' 2-7 token costs so bins hold mixed
    * modality runs). */
  val MediaBinToks = 25L

  /** Per-modality encoder-token cost of an item with payload length
    * `len`: each modality's NATURAL grain count — m4's tile count for
    * images, m3's overlapping-window count for audio, m2's sampled-frame
    * count for video (truncated blobs cost what their extractor would
    * actually emit, down to 0). The spec pins these against the real
    * extractors' per-doc row counts, so the packer can never drift from
    * what the encoders consume. */
  private def costToks: Column =
    when(col("media_type") === "image",
      when(col("len") >= ImgW * ImgH, lit((TilesX * TilesY).toLong)).otherwise(0L))
    .when(col("media_type") === "audio",
      when(col("len") >= WinBytes,
        expr(s"(len - $WinBytes) div $HopBytes + 1")).otherwise(0L))
    .otherwise(
      when(col("len") >= FrameBytes,
        expr(s"(len div $FrameBytes + ${FrameStride - 1}) div $FrameStride"))
        .otherwise(0L))

  /** `m9_pack_interleaved`: modality-aware sequence packing — the step
    * that turns the ratio-balanced multimodal stream into fixed-budget
    * training sequences (the vision-language analog of t12: interleaved
    * image/audio/video corpora train on sequences where an image costs
    * its tile count, audio its window count, video its sampled frames —
    * not one "row" each). Items are laid on one token tape in m6's
    * ratio-controlled interleave order (so every bin inherits the 3:2:1
    * recipe's local balance), each item's tape offset is an EXCLUSIVE
    * PREFIX SUM of the preceding costs, and `bin_first`/`bin_last`
    * bracket the [[MediaBinToks]]-token bins the item lands in (items
    * straddle bin boundaries, GPT-pretraining style — t12's rule).
    *
    * Scale: the manifest order is m6's already-distributed machinery;
    * the cost prefix sum is a [[PrefixSum]] over the seq key — no
    * single-task window anywhere, any partition count yields the
    * byte-identical packing.
    * Payloads never move: the cost needs only the payload LENGTH, which
    * dies in the scan projection. */
  def m9PackInterleaved(spark: SparkSession, dir: String): DataFrame = {
    val lens = mediaTable(spark, dir)
      .select(col("doc_id"), length(col("content")).cast("long").as("len"))
    val items = m6MixManifest(spark, dir)
      .join(lens, Seq("doc_id"))
      .withColumn("cost_toks", costToks)
    PrefixSum(items, Seq(col("seq")), None, 0)
      .runningSums("cost_toks" -> "tape_end")
      .withColumn("tape_off", col("tape_end") - col("cost_toks"))
      .select(col("seq"), col("doc_id"), col("media_type"), col("cost_toks"),
        col("tape_off"),
        expr(s"tape_off div $MediaBinToks").as("bin_first"),
        // a zero-cost item (fully truncated blob) occupies no tokens:
        // it "lands" at its offset without advancing the tape
        expr(s"greatest(tape_off, tape_off + cost_toks - 1) div $MediaBinToks")
          .as("bin_last"))
      .orderBy(col("seq"))
  }

  // lazy: declared after the oracle map in source order, so a strict val
  // would still be null when the map initializes
  private lazy val m9Oracle: String = {
    val costCase =
      s"""CASE media_type
         |  WHEN 'image' THEN CASE WHEN len >= ${ImgW * ImgH} THEN ${TilesX * TilesY} ELSE 0 END
         |  WHEN 'audio' THEN CASE WHEN len >= $WinBytes THEN (len - $WinBytes) // $HopBytes + 1 ELSE 0 END
         |  ELSE CASE WHEN len >= $FrameBytes THEN (len // $FrameBytes + ${FrameStride - 1}) // $FrameStride ELSE 0 END
         | END""".stripMargin
    s"""WITH man AS (
       |$m6Oracle),
       |lenj AS (SELECT doc_id, len(repeat(md5(text), 4)) // 2 AS len FROM documents),
       |c AS (
       | SELECT man.seq, man.doc_id, man.media_type, CAST($costCase AS BIGINT) AS cost_toks
       | FROM man JOIN lenj USING (doc_id)),
       |o AS (
       | SELECT *, CAST(COALESCE(sum(cost_toks) OVER (ORDER BY seq
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tape_off
       | FROM c)
       |SELECT seq, doc_id, media_type, cost_toks, tape_off,
       | tape_off // $MediaBinToks AS bin_first,
       | greatest(tape_off, tape_off + cost_toks - 1) // $MediaBinToks AS bin_last
       |FROM o ORDER BY seq""".stripMargin
  }


  /** m8 planted-corruption buckets (the d8/t5 md5-bucket convention, two
    * INDEPENDENT salts): payloads in trunc-bucket < [[TruncBucketMax]]
    * are stored short (first 3 of 4 frames — a partial write); otherwise
    * payloads in rot-bucket < [[RotBucketMax]] have frame 2 zeroed in
    * place (a dead sector: same length, different bytes). The plant's
    * own precedence (truncation wins) keeps the two classes disjoint. */
  val TruncBucketMax = 4
  val RotBucketMax = 4

  /** `m8_scrub_audit`: CAS storage scrub — the integrity sweep every
    * content-addressed blob store runs continuously (the registry half of
    * m7's pairing audit turned on the STORE itself): re-derive each stored
    * payload's digest and length and compare them to what the object
    * registry recorded at write time. Detects the two silent-corruption
    * classes a scrubber exists for: short reads (partial write/truncated
    * replica — length drifts) and bitrot (dead sector, in-place flip —
    * length intact, digest drifts). Verdict precedence per object:
    * short_read → bitrot → ok; report at (media_type, status) grain with
    * item and byte accounting.
    *
    * Scale: the payload dies in the store scan's projection — only the
    * constant-width digest + length cross the join (the m5/m7 contract,
    * plan-pinned); the registry side is thin metadata (key, digest,
    * length) and never touches payloads. ONE doc_id equi-join (both
    * sides key-unique, so no fan-out; hash-partitioned at scale, AQE
    * broadcasts while the registry fits) and one map-side-partial
    * aggregate down to the ≤ |modalities|·|statuses| report grain. */
  def m8ScrubAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long60
    def bkt(salt: String): Column =
      md5Long60(concat(col("doc_id").cast("string"), lit(salt))) % 100
    // the object store: payloads with the planted corruption applied,
    // collapsed to (digest, length) inside the scan projection
    val stored = mediaTable(spark, dir)
      .withColumn("stored",
        when(bkt(":m8t") < TruncBucketMax,
          expr(s"substring(content, 1, ${3 * FrameBytes})"))
          .when(bkt(":m8z") < RotBucketMax,
            concat(expr(s"substring(content, 1, ${2 * FrameBytes})"),
              unhex(repeat(lit("00"), FrameBytes)),
              expr(s"substring(content, ${3 * FrameBytes + 1}, $FrameBytes)")))
          .otherwise(col("content")))
      .select(col("doc_id"), col("media_type"),
        md5(lower(hex(col("stored")))).as("digest"),
        length(col("stored")).cast("long").as("n_bytes"))
    // the object registry: digest + length recorded at write time
    // (re-derived here from the same deterministic source the synthetic
    // payloads come from; a deployment reads the stored registry table)
    val registry = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(repeat(md5(col("text")), 4)).as("want_digest"),
        lit(64L).as("want_bytes"))
    stored.join(registry, Seq("doc_id"))
      .withColumn("status",
        when(col("n_bytes") =!= col("want_bytes"), "short_read")
          .when(col("digest") =!= col("want_digest"), "bitrot")
          .otherwise("ok"))
      .groupBy(col("media_type"), col("status"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("stored_bytes"),
        sum(col("want_bytes")).as("expected_bytes"))
      .orderBy(col("media_type"), col("status"))
  }

  /** m8 oracle: same buckets, same hex-domain digest algebra as m5/m7 —
    * the truncated store is `repeat(md5(text),3)` (3 of 4 frames), the
    * zeroed store splices 32 '0' hex chars over frame 2. */
  private val m8Oracle: String = {
    def bkt(salt: String) =
      s"CAST(('0x' || substr(md5(doc_id || ':$salt'), 1, 15)) AS BIGINT) % 100"
    s"""WITH d AS (
       | SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  repeat(md5(text), 4) AS m, ${bkt("m8t")} AS tbkt, ${bkt("m8z")} AS zbkt
       | FROM documents),
       |s AS (
       | SELECT doc_id, media_type, m,
       |  CASE WHEN tbkt < $TruncBucketMax THEN substr(m, 1, ${3 * FrameBytes * 2})
       |       WHEN zbkt < $RotBucketMax THEN substr(m, 1, ${2 * FrameBytes * 2}) || repeat('00', $FrameBytes) || substr(m, ${3 * FrameBytes * 2 + 1}, ${FrameBytes * 2})
       |       ELSE m END AS sh
       | FROM d),
       |i AS (
       | SELECT media_type,
       |  CASE WHEN length(sh) // 2 <> 64 THEN 'short_read'
       |       WHEN md5(sh) <> md5(m) THEN 'bitrot'
       |       ELSE 'ok' END AS status,
       |  CAST(length(sh) // 2 AS BIGINT) AS n_bytes
       | FROM s)
       |SELECT media_type, status,
       | CAST(count(*) AS BIGINT) AS n_items,
       | CAST(sum(n_bytes) AS BIGINT) AS stored_bytes,
       | CAST(count(*) * 64 AS BIGINT) AS expected_bytes
       |FROM i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val BatchSize = 32L // m10: contrastive batch width (pairs per batch)

  /** `m10_batch_negatives`: contrastive batch construction + in-batch
    * negative integrity audit — the CLIP-training data-loading step. The
    * paired corpus (caption = document text, payload = media blob) is
    * dealt into fixed-width batches by a deterministic md5 shuffle; every
    * other pair in a batch serves as a negative, so two pairs from the
    * SAME source in one batch are correlated "negatives" (same-site
    * near-dups — the false-negative poison of contrastive training).
    * Per batch: pair count, modality mix, distinct sources, the largest
    * same-source clump, same-source pair collisions and their e6 rate.
    *
    * Scale: the shuffle key is md5 arithmetic; the global batch sequence
    * is a [[PrefixSum]] row count (no single-task window ever sees
    * row-grain input), and the audit is two grouped aggregations of the
    * SAME checkpointed assignment — (batch, source) grain then batch grain,
    * each map-side partial. Media types ride the manifest (the payload
    * dies in its scan, per the m1-m5 contract). The collision count is
    * exact integer arithmetic (Σ c·(c-1)/2), never a pair join. */
  def m10BatchNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long60
    val pairs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(mediaTable(spark, dir).select(col("doc_id"), col("media_type")),
        Seq("doc_id"))
      .withColumn("shuf",
        md5Long60(concat(col("doc_id").cast("string"), lit(":m10"))))
    val batched = PrefixSum(pairs, Seq(col("shuf"), col("doc_id")), None, 0)
      .runningCount("seq")
      .withColumn("batch_id", expr(s"(seq - 1) div $BatchSize"))
    val bySrc = batched.groupBy(col("batch_id"), col("source"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("media_type") === "image", 1L).otherwise(0L)).as("mi"),
        sum(when(col("media_type") === "audio", 1L).otherwise(0L)).as("ma"),
        sum(when(col("media_type") === "video", 1L).otherwise(0L)).as("mv"))
    bySrc.groupBy(col("batch_id"))
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(col("mi")).as("n_image"), sum(col("ma")).as("n_audio"),
        sum(col("mv")).as("n_video"),
        count(lit(1)).as("n_sources"), max(col("cnt")).as("max_source"),
        sum(expr("cnt * (cnt - 1) div 2")).as("collision_pairs"))
      .withColumn("collision_rate_e6", expr(
        "collision_pairs * 1000000 div greatest(n_pairs * (n_pairs - 1) div 2, 1)"))
      .select(col("batch_id"), col("n_pairs"), col("n_image"), col("n_audio"),
        col("n_video"), col("n_sources"), col("max_source"),
        col("collision_pairs"), col("collision_rate_e6"))
      .orderBy(col("batch_id"))
  }

  val m10Oracle: String =
    s"""WITH d AS (
       | SELECT doc_id, source,
       |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m10'), 1, 15))
       |    AS BIGINT) AS shuf
       | FROM documents),
       |sq AS (
       | SELECT doc_id, source, media_type,
       |  row_number() OVER (ORDER BY shuf, doc_id) AS seq
       | FROM d),
       |b AS (SELECT source, media_type, (seq - 1) // $BatchSize AS batch_id FROM sq),
       |pb AS (
       | SELECT batch_id, source, CAST(count(*) AS BIGINT) AS cnt,
       |  CAST(sum(CASE WHEN media_type = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS mi,
       |  CAST(sum(CASE WHEN media_type = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS ma,
       |  CAST(sum(CASE WHEN media_type = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS mv
       | FROM b GROUP BY 1, 2)
       |SELECT batch_id, CAST(sum(cnt) AS BIGINT) AS n_pairs,
       | CAST(sum(mi) AS BIGINT) AS n_image, CAST(sum(ma) AS BIGINT) AS n_audio,
       | CAST(sum(mv) AS BIGINT) AS n_video,
       | CAST(count(*) AS BIGINT) AS n_sources, CAST(max(cnt) AS BIGINT) AS max_source,
       | CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS collision_pairs,
       | CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) * 1000000
       |  // greatest(CAST(sum(cnt) AS BIGINT) * (CAST(sum(cnt) AS BIGINT) - 1) // 2, 1)
       |  AS collision_rate_e6
       |FROM pb GROUP BY batch_id ORDER BY batch_id""".stripMargin

  /** m11: the aspect-bucket ladder — SDXL's ~1-megapixel resolution
    * grid: one square, four landscape, four portrait targets. A model's
    * real ladder is config; the bucketing math is the operator. */
  val AspectLadder: Seq[(Long, Long)] = Seq(
    (1024L, 1024L), (1152L, 896L), (1216L, 832L), (1344L, 768L),
    (1536L, 640L), (896L, 1152L), (832L, 1216L), (768L, 1344L),
    (640L, 1536L))

  /** m11: images per training batch — batches never mix buckets (the
    * whole point of aspect bucketing: one static graph shape each). */
  val AspectBatchSize = 64L

  /** `m11_aspect_buckets`: aspect-ratio bucketing — the multimodal
    * batch-shaping step (NaViT / SDXL style) none of m1-m10 covers:
    * vision training wants static tensor shapes, so every image snaps to
    * the nearest of a fixed aspect ladder, is resized to FIT that bucket
    * and padded to fill it; batches are drawn per bucket. Per bucket:
    * image count, total padded pixels, padding rate (e6), and the batch
    * arithmetic at [[AspectBatchSize]] (batch count + tail slots) — plus
    * `~TOTAL`, whose padding rate is the number a ladder change is
    * judged by.
    *
    * Arithmetic is exact end-to-end. Nearest bucket = argmin over the
    * ladder of the scale-free aspect distance `max(w·bh, h·bw) /
    * min(w·bh, h·bw)` (the ratio-of-ratios — symmetric in orientation,
    * no logs); each candidate packs as the FLOORED e9 rational ·16 +
    * bucket_id, so `array_min` over the 9-element literal array IS the
    * deterministic argmin (ties → lowest id) and both engines compute
    * the identical Long. Fit is integer: the relatively-wider axis pins
    * to the bucket (`w·bh ≥ h·bw` → width pins, `sh = h·bw div w`), pad
    * = bucket area − scaled area. The e6 pad renders multiply pixel
    * sums by 1e6 — wraps Long past ~9·10¹² pixels, microscopic for an
    * image corpus — so they run in `Decimal(38,0)` (the q43 discipline;
    * `div` lands the exact floored quotient back in BIGINT).
    *
    * Scale: ONE documents scan (dims from the m1 decode stub, computed
    * in the scan projection — the payload never leaves it, m-family
    * contract); the argmin is a per-row array expression, no explode, no
    * join; the scan ends at the 9-group map-side-partial aggregate and
    * everything after is ladder-sized. */
  def m11AspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    val h60 = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val imgs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0) // m1's media_type = 'image' arm
      .select(col("doc_id"), h60.as("h60"))
      .select(col("doc_id"), expr("64 + h60 % 1856").as("w"),
        expr("64 + (h60 div 2048) % 1056").as("h"))
    val cand = AspectLadder.zipWithIndex.map { case ((bw, bh), i) =>
      expr(s"(greatest(w * $bh, h * $bw) * 1000000000" +
        s" div least(w * $bh, h * $bw)) * 16 + $i")
    }
    val bwArr = array(AspectLadder.map(t => lit(t._1)): _*)
    val bhArr = array(AspectLadder.map(t => lit(t._2)): _*)
    val perBucket = imgs
      .withColumn("bucket_id", array_min(array(cand: _*)) % 16)
      .withColumn("bw", element_at(bwArr, (col("bucket_id") + 1).cast("int")))
      .withColumn("bh", element_at(bhArr, (col("bucket_id") + 1).cast("int")))
      .withColumn("sw", when(col("w") * col("bh") >= col("h") * col("bw"),
        col("bw")).otherwise(expr("(w * bh) div h")))
      .withColumn("sh", when(col("w") * col("bh") >= col("h") * col("bw"),
        expr("(h * bw) div w")).otherwise(col("bh")))
      .groupBy(col("bucket_id"), col("bw"), col("bh"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("bw") * col("bh") - col("sw") * col("sh")).as("pad_px"))
      .withColumn("n_batches",
        expr(s"(n_images + ${AspectBatchSize - 1}) div $AspectBatchSize"))
      .withColumn("tail_slots",
        col("n_batches") * AspectBatchSize - col("n_images"))
      .localCheckpoint(true) // ladder-sized; per-bucket + total read it
    val perRow = perBucket.select(
      concat(col("bw").cast("string"), lit("x"), col("bh").cast("string"))
        .as("key"),
      col("bucket_id"), col("bw"), col("bh"), col("n_images"), col("pad_px"),
      expr("CAST(pad_px AS DECIMAL(38,0)) * 1000000" +
        " div (n_images * bw * bh)").as("pad_e6"),
      col("n_batches"), col("tail_slots"))
    val totRow = perBucket
      .agg(sum(col("n_images")).as("n_images"), sum(col("pad_px")).as("pad_px"),
        sum(col("n_images") * col("bw") * col("bh")).as("area_px"),
        sum(col("n_batches")).as("n_batches"),
        sum(col("tail_slots")).as("tail_slots"))
      .select(lit("~TOTAL").as("key"), lit(-1L).as("bucket_id"),
        lit(-1L).as("bw"), lit(-1L).as("bh"), col("n_images"), col("pad_px"),
        expr("CAST(pad_px AS DECIMAL(38,0)) * 1000000 div area_px")
          .as("pad_e6"),
        col("n_batches"), col("tail_slots"))
    perRow.unionByName(totRow).orderBy(col("key"))
  }

  private val m11Oracle: String = {
    val ladder = AspectLadder.zipWithIndex.map { case ((bw, bh), i) =>
      s"(CAST($i AS BIGINT), CAST($bw AS BIGINT), CAST($bh AS BIGINT))"
    }.mkString(",\n      |  ")
    s"""WITH img AS (
       | SELECT doc_id,
       |  64 + CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1856 AS w,
       |  64 + (CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) // 2048) % 1056 AS h
       | FROM documents WHERE doc_id % 3 = 0),
       |lad(bid, bw, bh) AS (VALUES
       |  $ladder),
       |pick AS (
       | SELECT doc_id, min((greatest(w * bh, h * bw) * 1000000000
       |   // least(w * bh, h * bw)) * 16 + bid) % 16 AS bid
       | FROM img CROSS JOIN lad GROUP BY 1),
       |x AS (
       | SELECT i.doc_id, l.bid, l.bw, l.bh,
       |  CASE WHEN i.w * l.bh >= i.h * l.bw THEN l.bw
       |   ELSE (i.w * l.bh) // i.h END AS sw,
       |  CASE WHEN i.w * l.bh >= i.h * l.bw THEN (i.h * l.bw) // i.w
       |   ELSE l.bh END AS sh
       | FROM pick p JOIN img i USING (doc_id) JOIN lad l USING (bid)),
       |b AS (
       | SELECT bid, bw, bh, CAST(count(*) AS BIGINT) AS n_images,
       |  CAST(sum(bw * bh - sw * sh) AS BIGINT) AS pad_px
       | FROM x GROUP BY 1, 2, 3)
       |SELECT key, bucket_id, bw, bh, n_images, pad_px, pad_e6, n_batches,
       | tail_slots FROM (
       | SELECT CAST(bw AS VARCHAR) || 'x' || CAST(bh AS VARCHAR) AS key,
       |  bid AS bucket_id, bw, bh, n_images, pad_px,
       |  CAST(CAST(pad_px AS HUGEINT) * 1000000
       |    // (n_images * bw * bh) AS BIGINT) AS pad_e6,
       |  (n_images + ${AspectBatchSize - 1}) // $AspectBatchSize AS n_batches,
       |  ((n_images + ${AspectBatchSize - 1}) // $AspectBatchSize)
       |    * $AspectBatchSize - n_images AS tail_slots
       | FROM b
       | UNION ALL
       | SELECT '~TOTAL', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(sum(n_images) AS BIGINT),
       |  CAST(sum(pad_px) AS BIGINT),
       |  CAST(CAST(sum(pad_px) AS HUGEINT) * 1000000
       |    // sum(n_images * bw * bh) AS BIGINT),
       |  CAST(sum((n_images + ${AspectBatchSize - 1}) // $AspectBatchSize)
       |    AS BIGINT),
       |  CAST(sum(((n_images + ${AspectBatchSize - 1}) // $AspectBatchSize)
       |    * $AspectBatchSize - n_images) AS BIGINT)
       | FROM b
       |) ORDER BY key""".stripMargin
  }

  /** m12: frame width for scene segmentation — deliberately NOT the
    * payload's 16-byte generator period (12 of 64 bytes → 5 frames whose
    * phases differ), so consecutive frame signatures actually vary; the
    * m2 sampler's 16-byte frames would all alias to the same digest. */
  val SceneFrameBytes = 12

  /** m12: hamming cut threshold on the 60-bit frame signatures — the
    * expected distance of two independent digests is 30, so >= 30
    * splits real transitions from near-identical frames down the
    * middle. */
  val SceneCutBits = 30

  /** `m12_scene_segmentation`: shot/scene detection over each video's
    * frame stream — consecutive-frame signature distance, a cut where
    * the hamming gap reaches [[SceneCutBits]], then scene count and the
    * longest run (the numbers a frame-sampling curriculum reads before
    * deciding how many frames per clip to keep). The "signature" is the
    * 60-bit md5 of each [[SceneFrameBytes]]-byte frame — the stubbed
    * stand-in for a perceptual hash, swap at will; everything downstream
    * is engine-exact integer arithmetic either way.
    *
    * Scale: ZERO shuffles and zero joins — the entire segmentation is a
    * per-row fold (transform → signature array, zip of neighbours →
    * hamming array, aggregate → cut count / longest run), so the
    * payload dies inside its own row's projection and the operator's
    * cost is exactly the video scan; the only exchange is the output
    * sort. No window: the per-video "lag" is an element_at on the
    * in-row array. */
  def m12SceneSegmentation(spark: SparkSession, dir: String): DataFrame = {
    val fb = SceneFrameBytes
    val sigs = expr(
      s"""transform(sequence(0, CAST(length(content) div $fb AS INT) - 1),
         | i -> CAST(conv(substring(md5(lower(hex(
         |        substring(content, 1 + i * $fb, $fb)))), 1, 15), 16, 10)
         |      AS LONG))""".stripMargin)
    mediaTable(spark, dir)
      .filter(col("media_type") === "video")
      .filter(length(col("content")) >= fb)
      .select(col("doc_id"), sigs.as("sigs"))
      .withColumn("hams", expr(
        // size(sigs)=1 would make sequence(2, 1) DESCEND (default step -1)
        // and element_at(sigs, 2) out-of-bounds — ANSI error. Guard with an
        // explicit empty-pair case (oracle: n_cuts=0, sum_ham=0, 1 scene).
        """IF(size(sigs) < 2, CAST(array() AS ARRAY<INT>),
          | transform(sequence(2, size(sigs)),
          |  i -> bit_count(element_at(sigs, i - 1) ^ element_at(sigs, i))))"""
          .stripMargin))
      .withColumn("cuts", expr(
        s"transform(hams, h -> CASE WHEN h >= $SceneCutBits THEN 1L ELSE 0L END)"))
      .select(col("doc_id"),
        size(col("sigs")).cast("long").as("n_frames"),
        expr("aggregate(cuts, 0L, (a, c) -> a + c)").as("n_cuts"),
        (expr("aggregate(cuts, 0L, (a, c) -> a + c)") + 1L).as("n_scenes"),
        expr(
          """aggregate(cuts, named_struct('run', 1L, 'mx', 1L),
            | (a, c) -> named_struct(
            |   'run', IF(c = 1L, 1L, a.run + 1L),
            |   'mx', greatest(a.mx, IF(c = 1L, 1L, a.run + 1L))),
            | a -> a.mx)""".stripMargin).as("max_scene_len"),
        expr("aggregate(hams, 0L, (a, h) -> a + h)").as("sum_ham"))
      .orderBy(col("doc_id"))
  }

  private val m12Oracle: String =
    s"""WITH v AS (
       | SELECT doc_id, repeat(md5(text), 4) AS hx FROM documents
       | WHERE CAST(doc_id % 3 AS INTEGER) = 2
       |  AND len(repeat(md5(text), 4)) // 2 >= $SceneFrameBytes),
       |f AS (
       | SELECT doc_id, i,
       |  CAST(('0x' || substr(md5(substr(hx,
       |    1 + CAST(i AS INTEGER) * ${2 * SceneFrameBytes},
       |    ${2 * SceneFrameBytes})), 1, 15)) AS BIGINT) AS sig
       | FROM (SELECT doc_id, hx,
       |   unnest(range(0, len(hx) // ${2 * SceneFrameBytes})) AS i FROM v)),
       |h AS (
       | SELECT doc_id, i, sig,
       |  lag(sig) OVER (PARTITION BY doc_id ORDER BY i) AS prev
       | FROM f),
       |c AS (
       | SELECT doc_id, i,
       |  CASE WHEN prev IS NULL THEN NULL
       |   ELSE bit_count(xor(sig, prev)) END AS ham,
       |  CASE WHEN prev IS NOT NULL
       |    AND bit_count(xor(sig, prev)) >= $SceneCutBits
       |   THEN 1 ELSE 0 END AS cut
       | FROM h),
       |s AS (
       | SELECT doc_id, i, ham, cut,
       |  sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS scene_id
       | FROM c),
       |sl AS (SELECT doc_id, scene_id, CAST(count(*) AS BIGINT) AS slen
       | FROM s GROUP BY 1, 2),
       |agg AS (
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(cut) AS BIGINT) AS n_cuts,
       |  CAST(sum(cut) + 1 AS BIGINT) AS n_scenes,
       |  CAST(COALESCE(sum(ham), 0) AS BIGINT) AS sum_ham
       | FROM s GROUP BY 1)
       |SELECT a.doc_id, n_frames, n_cuts, n_scenes,
       | m.max_scene_len, sum_ham
       |FROM agg a JOIN (SELECT doc_id, max(slen) AS max_scene_len
       | FROM sl GROUP BY 1) m ON a.doc_id = m.doc_id
       |ORDER BY a.doc_id""".stripMargin

  /** m13: pyramid floor — levels halve until the short side would drop
    * under this; the m1 dim stub guarantees level 0 qualifies. */
  val PyramidMinSide = 64L

  /** `m13_storage_pyramid`: the mip/thumbnail pyramid plan per image —
    * how many power-of-two levels each image carries (halving until the
    * short side falls under [[PyramidMinSide]]), the pixel cost of every
    * level, and the storage overhead vs the base image (e6; the
    * geometric-series theory says +1/3, truncation makes each image's
    * exact number its own) — the storage-planning arithmetic behind
    * multi-resolution vision training (NaViT-style random-res sampling
    * wants the pyramid precomputed) and preview serving. Dims come from
    * the m1 decode stub in the scan projection (the m11 idiom); all
    * level math is integer halving, identical in both engines.
    *
    * Scale: ONE documents scan; levels/pixels/overhead are per-row array
    * lambdas over a 7-element literal sequence (no explode reaches a
    * shuffle — the payload and its levels die in the row's projection);
    * the image-grained frame is checkpointed once for its two grain
    * consumers (per-image rows + the `~TOTAL` fold). */
  def m13StoragePyramid(spark: SparkSession, dir: String): DataFrame = {
    val h60 = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val per = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0) // m1's media_type = 'image' arm
      .select(col("doc_id"), h60.as("h60"))
      .select(col("doc_id"), expr("64 + h60 % 1856").as("w"),
        expr("64 + (h60 div 2048) % 1056").as("h"))
      .withColumn("lv", expr(
        "filter(transform(sequence(0, 6), k -> named_struct(" +
          "'mn', least(w div shiftleft(1L, k), h div shiftleft(1L, k)), " +
          "'px', (w div shiftleft(1L, k)) * (h div shiftleft(1L, k)))), " +
          s"s -> s.mn >= $PyramidMinSide)"))
      .select(col("doc_id"), col("w"), col("h"),
        size(col("lv")).cast("long").as("n_levels"),
        (col("w") * col("h")).as("base_px"),
        expr("aggregate(lv, 0L, (a, s) -> a + s.px)").as("total_px"))
      .localCheckpoint(true) // image-grained; per-image + ~TOTAL read it
    val rows = per.select(col("doc_id").cast("string").as("key"),
      col("w"), col("h"), col("n_levels"), col("base_px"), col("total_px"),
      expr("(total_px - base_px) * CAST(1000000 AS DECIMAL(38,0)) div base_px")
        .as("overhead_e6"))
    val tot = per.agg(sum(col("n_levels")).as("n_levels"),
        sum(col("base_px")).as("base_px"), sum(col("total_px")).as("total_px"))
      .select(lit("~TOTAL").as("key"), lit(null).cast("long").as("w"),
        lit(null).cast("long").as("h"), col("n_levels"), col("base_px"),
        col("total_px"),
        expr("(total_px - base_px) * CAST(1000000 AS DECIMAL(38,0)) div base_px")
        .as("overhead_e6"))
    rows.unionByName(tot).orderBy(col("key"))
  }

  private lazy val m13Oracle: String =
    s"""WITH img AS (
       | SELECT doc_id, 64 + h60 % 1856 AS w, 64 + (h60 // 2048) % 1056 AS h
       | FROM (SELECT doc_id,
       |   CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h60
       |  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 0)),
       |lv AS (
       | SELECT doc_id, w, h,
       |  (w // (1::BIGINT << k)) * (h // (1::BIGINT << k)) AS px
       | FROM (SELECT doc_id, w, h, unnest(range(0, 7)) AS k FROM img)
       | WHERE least(w // (1::BIGINT << k), h // (1::BIGINT << k))
       |   >= $PyramidMinSide),
       |per AS (
       | SELECT CAST(doc_id AS VARCHAR) AS key, w, h,
       |  CAST(count(*) AS BIGINT) AS n_levels,
       |  CAST(w * h AS BIGINT) AS base_px,
       |  CAST(sum(px) AS BIGINT) AS total_px
       | FROM lv GROUP BY 1, 2, 3)
       |SELECT * FROM (
       | SELECT key, w, h, n_levels, base_px, total_px,
       |  CAST((total_px - base_px) * 1000000 // base_px AS BIGINT)
       |    AS overhead_e6
       | FROM per
       | UNION ALL
       | SELECT '~TOTAL', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(sum(n_levels) AS BIGINT), CAST(sum(base_px) AS BIGINT),
       |  CAST(sum(total_px) AS BIGINT),
       |  CAST((sum(total_px) - sum(base_px)) * 1000000 // sum(base_px)
       |    AS BIGINT)
       | FROM per
       |) ORDER BY key""".stripMargin

  /** `m14_codec_audit`: container-vs-label integrity — the ingest QC
    * gate that catches mislabeled or corrupted payloads BEFORE a decode
    * fleet wastes GPU time on them (a real corpus always contains PNGs
    * declared as JPEG, MP3s in .wav rows, truncated containers). The
    * payload's container signature is SNIFFED from its leading bytes
    * (here the stub convention: first payload byte % 3, standing in for
    * the magic-number dispatch a real sniffer does — libmagic reads
    * exactly such a prefix) and cross-tabulated against the DECLARED
    * media_type per source: the (source, declared, sniffed) confusion
    * matrix with doc/byte mass, `mismatch_docs` per cell, and a `~TOTAL`
    * row footing the corpus-wide mismatch mass a triage dashboard
    * renders as a rate.
    *
    * Scale: ONE documents scan; the sniff reads a PREFIX of the payload
    * (at a real deployment a ranged read of the first KB — never the
    * full blob), the matrix is a map-side-partial aggregate at
    * |sources|x9 grain, and no payload byte survives the scan
    * projection (the m-family invariant PlanSpec pins). No joins. */
  def m14CodecAudit(spark: SparkSession, dir: String): DataFrame = {
    val firstByte = conv(substring(md5(col("text")), 1, 2), 16, 10)
      .cast("long")
    val types = array(lit("image"), lit("audio"), lit("video"))
    val per = Tables.load(spark, dir, "documents")
      .select(col("source"),
        element_at(types, (col("doc_id") % 3 + 1).cast("int")).as("declared"),
        element_at(types, (firstByte % 3 + 1).cast("int")).as("sniffed"),
        (length(repeat(md5(col("text")), 4)) / 2).cast("long").as("n_bytes"))
      .groupBy(col("source"), col("declared"), col("sniffed"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("n_bytes"))
      .withColumn("mismatch_docs",
        when(col("declared") =!= col("sniffed"), col("n_docs")).otherwise(0L))
      .localCheckpoint(true) // matrix-sized; cells + ~TOTAL read it
    val tot = per.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("mismatch_docs")).as("mismatch_docs"))
      .select(lit("~TOTAL").as("source"), lit("~TOTAL").as("declared"),
        lit("~TOTAL").as("sniffed"), col("n_docs"), col("n_bytes"),
        col("mismatch_docs"))
    per.select(col("source"), col("declared"), col("sniffed"), col("n_docs"),
        col("n_bytes"), col("mismatch_docs"))
      .unionByName(tot)
      .orderBy(col("source"), col("declared"), col("sniffed"))
  }

  private val m14Oracle: String =
    """WITH m AS (
      | SELECT source,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |   WHEN 1 THEN 'audio' ELSE 'video' END AS declared,
      |  CASE CAST(CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 3
      |    AS INTEGER) WHEN 0 THEN 'image'
      |   WHEN 1 THEN 'audio' ELSE 'video' END AS sniffed,
      |  CAST(length(repeat(md5(text), 4)) / 2 AS BIGINT) AS n_bytes
      | FROM documents),
      |per AS (
      | SELECT source, declared, sniffed,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes
      | FROM m GROUP BY 1, 2, 3),
      |w AS (
      | SELECT per.*, CAST(CASE WHEN declared <> sniffed THEN n_docs
      |  ELSE 0 END AS BIGINT) AS mismatch_docs
      | FROM per)
      |SELECT * FROM (
      | SELECT source, declared, sniffed, n_docs, n_bytes, mismatch_docs
      | FROM w
      | UNION ALL
      | SELECT '~TOTAL', '~TOTAL', '~TOTAL', CAST(sum(n_docs) AS BIGINT),
      |  CAST(sum(n_bytes) AS BIGINT), CAST(sum(mismatch_docs) AS BIGINT)
      | FROM w)
      |ORDER BY source, declared, sniffed""".stripMargin

  val ShardBytes = 8192L // m15: nominal shard payload budget

  /** `m15_shard_manifest`: the WebDataset-style shard-packing manifest —
    * training loaders stream TAR SHARDS, not files, so curation's last
    * step packs (text + media payload) onto a deterministic tape
    * (md5-of-doc_id order — t12's rerun-stable shuffle) and cuts
    * ~[[ShardBytes]] shards. The packing rule is start-offset
    * assignment: a document lands WHOLLY in the shard its first byte
    * falls in (`offset div ShardBytes`) — shards overflow their nominal
    * budget by at most one trailing document, and unlike the greedy
    * close-on-overflow fold (whose every boundary depends on the
    * previous one — inherently sequential) this rule is a pure function
    * of the exclusive prefix sum, so a 1000-executor run cuts
    * byte-identical shards. Per shard: docs, payload bytes, overflow vs
    * nominal, the modality mix (a loader wants balanced shards), and
    * the first doc (the shard's index key); `~TOTAL` foots.
    *
    * Scale: the tape offset is a [[PrefixSum]] over the tape key (t12's
    * shape); the manifest is a shard-grained aggregate of that.
    * Partition-count invariance is spec-pinned (3 vs 7 ranges,
    * byte-identical). */
  def m15ShardManifest(spark: SparkSession, dir: String): DataFrame =
    m15ShardManifestRanged(spark, dir, 0)

  /** [[m15ShardManifest]] with an explicit range count (0 = session
    * default) — the spec's partition-invariance hook. */
  def m15ShardManifestRanged(spark: SparkSession, dir: String,
                             ranges: Int): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        (col("n_chars") + length(repeat(md5(col("text")), 4)) / 2)
          .cast("long").as("n_bytes"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"))
    val per = PrefixSum(base, Seq(col("key"), col("doc_id")), None, ranges)
      .runningSums("n_bytes" -> "end")
      .withColumn("offset", col("end") - col("n_bytes"))
      .select(expr(s"offset div $ShardBytes").as("shard"), col("doc_id"),
        col("n_bytes"), col("media_type"), col("key"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("n_bytes"),
        sum(when(col("media_type") === "image", 1L).otherwise(0L)).as("n_image"),
        sum(when(col("media_type") === "audio", 1L).otherwise(0L)).as("n_audio"),
        sum(when(col("media_type") === "video", 1L).otherwise(0L)).as("n_video"),
        min(struct(col("key"), col("doc_id"))).as("f"))
      .select(col("shard"), col("n_docs"), col("n_bytes"),
        (col("n_bytes") - ShardBytes).as("overflow_bytes"),
        col("n_image"), col("n_audio"), col("n_video"),
        col("f.doc_id").as("first_doc"))
      .localCheckpoint(true) // shard-grained; rows + ~TOTAL read it
    val rows = per.select(col("shard").cast("string").as("shard"),
      col("n_docs"), col("n_bytes"), col("overflow_bytes"), col("n_image"),
      col("n_audio"), col("n_video"), col("first_doc"))
    val tot = per.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("overflow_bytes")).as("overflow_bytes"),
        sum(col("n_image")).as("n_image"), sum(col("n_audio")).as("n_audio"),
        sum(col("n_video")).as("n_video"))
      .select(lit("~TOTAL").as("shard"), col("n_docs"), col("n_bytes"),
        col("overflow_bytes"), col("n_image"), col("n_audio"),
        col("n_video"), lit(-1L).as("first_doc"))
    rows.unionByName(tot).orderBy(length(col("shard")), col("shard"))
  }

  private val m15Oracle: String =
    s"""WITH base AS (
      | SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key,
      |  CAST(n_chars + length(repeat(md5(text), 4)) / 2 AS BIGINT)
      |   AS n_bytes,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |   WHEN 1 THEN 'audio' ELSE 'video' END AS media_type
      | FROM documents),
      |tape AS (
      | SELECT base.*,
      |  CAST(COALESCE(sum(n_bytes) OVER (ORDER BY key, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |   AS off
      | FROM base),
      |per AS (
      | SELECT off // $ShardBytes AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
      |  CAST(sum(CASE WHEN media_type = 'image' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_image,
      |  CAST(sum(CASE WHEN media_type = 'audio' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_audio,
      |  CAST(sum(CASE WHEN media_type = 'video' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_video,
      |  CAST(min(key || ':' || lpad(CAST(doc_id AS VARCHAR), 12, '0'))
      |   AS VARCHAR) AS fk
      | FROM tape GROUP BY 1)
      |SELECT shard, n_docs, n_bytes, overflow_bytes, n_image, n_audio,
      | n_video, first_doc FROM (
      | SELECT CAST(shard AS VARCHAR) AS shard, n_docs, n_bytes,
      |  CAST(n_bytes - $ShardBytes AS BIGINT) AS overflow_bytes,
      |  n_image, n_audio, n_video,
      |  CAST(CAST(split_part(fk, ':', 2) AS BIGINT) AS BIGINT) AS first_doc
      | FROM per
      | UNION ALL
      | SELECT '~TOTAL', CAST(sum(n_docs) AS BIGINT),
      |  CAST(sum(n_bytes) AS BIGINT),
      |  CAST(sum(n_bytes - $ShardBytes) AS BIGINT),
      |  CAST(sum(n_image) AS BIGINT), CAST(sum(n_audio) AS BIGINT),
      |  CAST(sum(n_video) AS BIGINT), CAST(-1 AS BIGINT)
      | FROM per)
      |ORDER BY length(shard), shard""".stripMargin

  val oracle: Map[String, String] = Map(
    "m15_shard_manifest" -> m15Oracle,
    "m14_codec_audit" -> m14Oracle,
    "m13_storage_pyramid" -> m13Oracle,
    "m12_scene_segmentation" -> m12Oracle,
    "m11_aspect_buckets" -> m11Oracle,
    "m10_batch_negatives" -> m10Oracle,
    "m6_mix_manifest" -> m6Oracle,
    "m9_pack_interleaved" -> m9Oracle,
    "m4_image_tiles" -> m4Oracle,
    "m1_multimodal_meta" -> m1Oracle,
    "m2_frame_sample" -> m2Oracle,
    "m3_audio_windows" -> m3Oracle,
    "m5_payload_dedup" -> m5Oracle,
    "m7_pair_audit" -> m7Oracle,
    "m8_scrub_audit" -> m8Oracle)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m15_shard_manifest" -> (m15ShardManifest _),
    "m14_codec_audit" -> (m14CodecAudit _),
    "m13_storage_pyramid" -> (m13StoragePyramid _),
    "m12_scene_segmentation" -> (m12SceneSegmentation _),
    "m11_aspect_buckets" -> (m11AspectBuckets _),
    "m10_batch_negatives" -> (m10BatchNegatives _),
    "m9_pack_interleaved" -> (m9PackInterleaved _),
    "m1_multimodal_meta" -> ((s: SparkSession, d: String) => m1MultimodalMeta(s, d)),
    "m2_frame_sample" -> (m2FrameSample _),
    "m3_audio_windows" -> (m3AudioWindows _),
    "m4_image_tiles" -> (m4ImageTiles _),
    "m5_payload_dedup" -> (m5PayloadDedup _),
    "m6_mix_manifest" -> (m6MixManifest _),
    "m7_pair_audit" -> (m7PairAudit _),
    "m8_scrub_audit" -> (m8ScrubAudit _))
}
