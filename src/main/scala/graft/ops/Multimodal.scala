package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (prompt family: multimodal; SURVEY.md §1
  * ImageBlock / §2.1 S2).
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct —
  * the Spark-native shape for image/audio/video at 100 TB (payloads in
  * parquet binary or referenced by path; metadata columns prunable without
  * touching bytes). Decode/feature-extraction is a per-partition batch stage
  * (the Scala analog of `mapInPandas`); the actual codec call is STUBBED
  * (no image/audio libs in this container) behind `FeatureExtractor` with a
  * deterministic fake, so the distributed plumbing — schema, batching,
  * partition flow — is real and tested.
  */
object Multimodal {

  /** Wrap a string payload column as (binary payload, typed metadata). */
  def asMediaColumn(df: DataFrame, payloadCol: String, mediaType: String): DataFrame =
    df.withColumn("payload", col(payloadCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        (length(col(payloadCol)) % 640).cast("int").as("width"),
        (length(col(payloadCol)) % 480).cast("int").as("height"),
        length(col(payloadCol)).cast("long").as("n_bytes")))

  /** JPEG SOF dimension scan: unlike PNG/GIF/BMP, JPEG stores dimensions
    * in a Start-of-Frame segment at a VARIABLE offset behind arbitrary
    * APPn/COM/DQT segments, so the parse is a bounded marker walk, not a
    * fixed read. Modeled as an `aggregate` fold over `maxHops` steps
    * carrying the current marker offset: each step either freezes (SOF
    * found → negated offset; malformed byte or SOS/EOI → 0) or hops
    * `2 + big-endian segment length`. Returns (width, height) columns,
    * null when no SOF is found within the hop budget. Still map-only and
    * bounded: at most `maxHops` 1-2-byte reads from the payload prefix —
    * a real-world SOF sits behind ~4-6 segments, so 12 hops covers it.
    * (FF fill-byte padding between segments is out of scope — the walk
    * targets well-formed streams and fails to null, never garbage.) */
  private def jpegDims(payload: Column, maxHops: Int = 12): (Column, Column) = {
    def u8(pos: Column) = conv(hex(payload.substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def be16(pos: Column) = conv(hex(payload.substr(pos.cast("int"), lit(2))), 16, 10).cast("long")
    // SOF0-15 minus DHT (C4), JPG (C8), DAC (CC)
    def isSof(m: Column) = m.between(192L, 207L) && m =!= 196L && m =!= 200L && m =!= 204L
    val scan = aggregate(sequence(lit(1), lit(maxHops)), lit(3L), (acc, _) => {
      val m = u8(acc + 1)
      when(acc <= 0, acc) // frozen: found (<0) or failed (0)
        .when(u8(acc) =!= 255L, lit(0L)) // not at a marker → malformed
        .when(isSof(m), -acc)
        .when(m === 218L || m === 217L, lit(0L)) // SOS/EOI: no SOF ahead
        .otherwise(acc + 2 + be16(acc + 2))
    })
    // SOF layout from its FF byte: FF Cx | len(2) | precision(1) | h(2) | w(2)
    val sof = -scan
    (when(scan < 0, be16(sof + 7)), when(scan < 0, be16(sof + 5)))
  }

  /** TIFF dimension read — the one header family where ENDIANNESS itself
    * is data: the first two bytes ("II"/"MM") select little- or
    * big-endian for every later field. The IFD sits at a variable
    * offset; its 12-byte entries are tag-sorted, so ImageWidth (256) and
    * ImageLength (257) are found by a bounded scan over at most
    * `maxEntries` entries; values honor TIFF's left-justified short
    * (type 3) vs long (type 4) value-field layout. Fail-to-null, never
    * garbage (the [[imageDims]] contract); map-only byte expressions.
    *
    * `maxEntries = 4` is spec-sound, not a shortcut: entries are sorted
    * by tag and the only tags below ImageWidth(256) are NewSubfileType
    * (254) and SubfileType(255), so the dims always sit within the first
    * four entries of a well-formed IFD. Keeping the scan tight matters:
    * every extra entry re-inlines the ifd-offset subtree into each byte
    * read, and the whole [[imageDims]] expression must stay within
    * codegen limits. */
  private def tiffDims(payload: Column, maxEntries: Int = 4): (Column, Column) = {
    val isLe = substring(payload, 1, 2).cast("string") === "II"
    def u(pos: Column, len: Int): Column = {
      val be = conv(hex(payload.substr(pos.cast("int"), lit(len))), 16, 10).cast("long")
      val le = conv(concat((len - 1 to 0 by -1).map(i =>
        hex(payload.substr((pos + i).cast("int"), lit(1)))): _*), 16, 10).cast("long")
      // a hostile/corrupt offset can exceed int range — fail to null
      // before any int cast (CaseWhen short-circuits, so the casts in the
      // untaken branch never run)
      when(pos > lit(Int.MaxValue.toLong - len), lit(null).cast("long"))
        .otherwise(when(isLe, le).otherwise(be))
    }
    val ifd = u(lit(5L), 4) + 1 // stored offset is 0-based, substr is 1-based
    val n = u(ifd, 2)
    def entry(i: Column) = ifd + 2 + i * 12
    def find(tag: Long) = try_element_at(filter(
      transform(sequence(lit(0L), lit(maxEntries - 1L)), i => {
        val t = u(entry(i) + 2, 2)
        val v = when(t === 3L, u(entry(i) + 8, 2)).when(t === 4L, u(entry(i) + 8, 4))
        when(i < n && u(entry(i), 2) === tag, v)
      }), v => v.isNotNull), lit(1))
    (find(256L), find(257L))
  }

  /** REAL header-level metadata decode — no codec required: container
    * formats carry their dimensions in fixed magic-byte layouts, so width/
    * height parse as pure byte expressions (substring + hex + conv stay in
    * codegen; planning never touches more than the first 26 payload
    * bytes), plus the bounded [[jpegDims]] marker walk for JPEG's
    * variable-offset SOF. PNG (IHDR, big-endian), GIF (screen descriptor,
    * little-endian), BMP (BITMAPINFOHEADER, little-endian), JPEG (SOF
    * big-endian); anything else
    * → null (the pixel decode itself stays a [[FeatureExtractor]] stage). */
  def imageDims(payload: Column): Column = {
    // parse as LONG (8 hex digits can exceed Int.MaxValue; an ANSI int
    // cast would throw CAST_OVERFLOW on e.g. a top-down BMP's negative
    // two's-complement height), then sign-fold and validate
    def be(pos: Int, len: Int) =
      conv(hex(substring(payload, pos, len)), 16, 10).cast("long")
    def le(pos: Int, len: Int) =
      conv(concat((pos + len - 1 to pos by -1).map(i => hex(substring(payload, i, 1))): _*), 16, 10).cast("long")
    def signed32(v: Column) = when(v > Int.MaxValue, v - 4294967296L).otherwise(v)
    // a plausible dimension: positive and within 2^31-1; BMP height is
    // two's-complement (negative = top-down rows) → absolute value
    def dim(v: Column) = when(v >= 1 && v <= Int.MaxValue, v.cast("int"))
    def bmpDim(v: Column) = dim(abs(signed32(v)))
    val isPng = hex(substring(payload, 1, 8)) === "89504E470D0A1A0A"
    val sig6 = substring(payload, 1, 6).cast("string")
    val isGif = sig6 === "GIF87a" || sig6 === "GIF89a"
    // "BM" alone doesn't pin the DIB layout: the header-size field (bytes
    // 14-17 LE) selects it. 40/52/56/108/124 share 32-bit signed dims at
    // offset 18/22; an OS/2 BITMAPCOREHEADER (12) stores UNSIGNED 16-bit
    // dims at offset 18/20 — reading it as 32-bit yields a plausible-
    // looking wrong value (width16|height16<<16), so it gets its own branch
    // and any other header size returns null rather than garbage.
    val hasBmpMagic = substring(payload, 1, 2).cast("string") === "BM"
    val dibSize = le(15, 4)
    val isInfoBmp = hasBmpMagic && dibSize.isin(40, 52, 56, 108, 124)
    val isCoreBmp = hasBmpMagic && dibSize === 12
    val isJpeg = hex(substring(payload, 1, 2)) === "FFD8"
    val (jw, jh) = jpegDims(payload)
    val isTiff = hex(substring(payload, 1, 4)).isin("49492A00", "4D4D002A")
    val (tw, th) = tiffDims(payload)
    when(isPng, struct(lit("png").as("format"), dim(be(17, 4)).as("width"), dim(be(21, 4)).as("height")))
      .when(isGif, struct(lit("gif").as("format"), dim(le(7, 2)).as("width"), dim(le(9, 2)).as("height")))
      .when(isJpeg, struct(lit("jpeg").as("format"), dim(jw).as("width"), dim(jh).as("height")))
      .when(isTiff, struct(lit("tiff").as("format"), dim(tw).as("width"), dim(th).as("height")))
      .when(isInfoBmp, struct(lit("bmp").as("format"), bmpDim(le(19, 4)).as("width"), bmpDim(le(23, 4)).as("height")))
      .when(isCoreBmp, struct(lit("bmp").as("format"), dim(le(19, 2)).as("width"), dim(le(21, 2)).as("height")))
      .otherwise(lit(null).cast("struct<format:string,width:int,height:int>"))
  }

  /** Compiled [[imageDims]]: the native `image_dims` Expression — one JVM
    * byte walk per row instead of the five-format hex/conv branch tree
    * (which re-inlines its payload subtrees once per probe and pushes
    * janino against codegen size limits when composed). Same output,
    * bit-for-bit: Round6Spec sweeps both forms over the full fixture
    * family plus truncation/garbage corpora. The Column form stays as the
    * executable semantics spec; hot paths (m2/m6) use this one. */
  def imageDimsNative(payload: Column): Column = {
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("image_dims", payload)
  }

  /** WAV (RIFF) audio metadata — sample rate, channel count, bits per
    * sample — decoded from the `fmt ` chunk, which sits at a VARIABLE
    * offset behind optional LIST/JUNK/bext chunks: a bounded little-endian
    * chunk walk, the RIFF analog of [[jpegDims]]'s marker walk. Each hop
    * reads a 4-byte chunk id + 4-byte LE size and advances
    * `8 + size + (size % 2)` (RIFF word-aligns odd chunks with a pad
    * byte). Returns a (sample_rate, channels, bits) struct, null for
    * non-RIFF/WAVE payloads or when no fmt chunk appears within the hop
    * budget — fail-to-null, never garbage (the imageDims contract).
    * Map-only, codegen-friendly, reads at most a few dozen header bytes. */
  def wavMeta(payload: Column, maxHops: Int = 8): Column = {
    def leAt(pos: Column, len: Int) =
      conv(concat((len - 1 to 0 by -1).map(i =>
        hex(payload.substr((pos + i).cast("int"), lit(1)))): _*), 16, 10).cast("long")
    val isWav = substring(payload, 1, 4).cast("string") === "RIFF" &&
      substring(payload, 9, 4).cast("string") === "WAVE"
    val scan = aggregate(sequence(lit(1), lit(maxHops)), lit(13L), (acc, _) => {
      val id = payload.substr(acc.cast("int"), lit(4)).cast("string")
      val size = leAt(acc + 4, 4)
      when(acc <= 0, acc) // frozen: found (<0) or failed (0)
        .when(length(payload) < acc.cast("int") + 8, lit(0L)) // chunk header truncated
        .when(id === "fmt ", -acc)
        .otherwise(acc + 8 + size + size % 2)
    })
    // fmt data from its chunk start: id(4) size(4) | format(2) channels(2)
    // rate(4) byte_rate(4) block_align(2) bits(2), all little-endian
    val off = -scan + 8
    def field(v: Column) = when(scan < 0 && v >= 1 && v <= Int.MaxValue, v.cast("int"))
    when(isWav, struct(
        field(leAt(off + 4, 4)).as("sample_rate"),
        field(leAt(off + 2, 2)).as("channels"),
        field(leAt(off + 14, 2)).as("bits")))
      .otherwise(lit(null).cast("struct<sample_rate:int,channels:int,bits:int>"))
  }

  /** MP4/ISO-BMFF metadata — (timescale, duration, n_tracks) from the
    * moov/mvhd box walk (ISO 14496-12), handling metadata-at-end layouts
    * (mdat before moov), 64-bit largesize boxes, and both mvhd versions.
    * Implemented directly as the native `mp4_meta` Expression (the nested
    * parent/child walk would re-inline catastrophically as a Column fold —
    * the image_dims lesson, applied from the start). Fail-to-null, never
    * garbage; reads only box headers, O(boxes) not O(bytes). */
  def mp4Meta(payload: Column): Column = {
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("mp4_meta", payload)
  }

  /** Batch feature-extraction contract over raw payload bytes. */
  trait FeatureExtractor extends Serializable {
    def extractBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]]
  }

  /** STUB decoder: deterministic fake features (byte histogram moments) in
    * place of a real image/audio decode — same signature, batch shape, and
    * partition behavior as a real codec stage. */
  object StubExtractor extends FeatureExtractor {
    def extractBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { bytes =>
        val n = math.max(bytes.length, 1)
        val mean = bytes.foldLeft(0L)(_ + _ & 0xff).toFloat / n
        val mx = if (bytes.isEmpty) 0f else (bytes.map(_ & 0xff).max).toFloat
        Array(n.toFloat, mean, mx, bytes.count(_ == ' ').toFloat)
      }
  }

  /** Distributed decode/extract: per-partition batches through the
    * extractor, emitting a features array column. Partition count (and so
    * batch size) is controlled upstream via repartition. */
  def extractFeatures(df: DataFrame, extractor: FeatureExtractor, batchSize: Int = 256): DataFrame = {
    val payloadIdx = df.schema.fieldIndex("payload")
    val outSchema = df.schema.add("features", ArrayType(FloatType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    // bounded batches: media payloads are large, so never hold a whole
    // partition (let alone two copies of it) on the executor heap
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val feats = extractor.extractBatch(
          batch.iterator.map(r => r.getAs[Array[Byte]](payloadIdx))).toVector
        batch.iterator.zip(feats.iterator).map { case (r, f) => Row.fromSeq(r.toSeq :+ f.toSeq) }
      }
    }(enc)
  }

  /** Frame-sampling shape: explode a media row into k evenly-spaced frame
    * offsets (the video analog; offsets only, decode stays stubbed). */
  def sampleFrames(df: DataFrame, k: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(transform(sequence(lit(0), lit(k - 1)),
        i => (i * col("media_meta.n_bytes") / k).cast("long"))))

  /** Audio-window planning: fixed-size overlapping byte windows
    * (win, hop) over each media payload — the segmentation a speech
    * pipeline feeds to its decoder, as pure integer expressions (the
    * decode itself stays a [[FeatureExtractor]] stage). The final window
    * is truncated to the payload end; a payload shorter than one window
    * yields exactly one window covering it. Map-only: one row explodes to
    * its own windows, nothing shuffles. */
  def audioWindows(df: DataFrame, win: Long, hop: Long): DataFrame = {
    require(win > 0 && hop > 0 && hop <= win,
      s"need 0 < hop <= win (hop > win would emit windows past the payload " +
        s"end with non-positive lengths), got win=$win hop=$hop")
    val n = col("media_meta.n_bytes")
    val extra = greatest(n - win, lit(0L))
    // integral `div`, not double floor-division: exact for any long payload
    // (a double round-trip is only exact below 2^53), matching the
    // oracle's integer `//`
    val nWin = call_function("div", extra + lit(hop - 1), lit(hop)) + 1
    df.withColumn("w",
        explode(transform(sequence(lit(0L), nWin - 1),
          i => struct((i * hop).as("win_start"),
            least(lit(win), n - i * hop).as("win_len")))))
      .withColumn("win_start", col("w.win_start"))
      .withColumn("win_len", col("w.win_len"))
      .drop("w")
  }

  /** Resize stage: recompute target dimensions preserving aspect ratio
    * (fit inside maxW×maxH) and update the metadata struct. The pixel
    * resample itself belongs to the stubbed decode stage — this is the
    * metadata/planning half that a real codec stage would consume, kept as
    * pure Catalyst expressions so planning never touches payload bytes. */
  def resizeMeta(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("media_meta.width").cast("double")
    val h = col("media_meta.height").cast("double")
    val scale = least(lit(maxW) / greatest(w, lit(1.0)), lit(maxH) / greatest(h, lit(1.0)), lit(1.0))
    df.withColumn("media_meta", struct(
      col("media_meta.media_type").as("media_type"),
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"),
      col("media_meta.n_bytes").as("n_bytes")))
      .withColumn("resize_scale", scale)
  }
}
