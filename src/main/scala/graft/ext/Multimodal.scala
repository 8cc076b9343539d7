package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column support: image/audio/video payloads carried as
  * opaque `binary` columns with typed metadata, plus the
  * decode / feature-extract / frame-sample operators a training-data
  * pipeline runs over them.
  *
  * The Spark-side plumbing is real and tested — schema (binary payload +
  * metadata struct), partition-friendly batch iteration
  * (`mapPartitions` over a typed Dataset, the Scala analog of a
  * batch-shaped Pandas UDF), and deterministic frame sampling via binary
  * slicing. The actual codec step is a STUB: this container has no image
  * or audio libraries, so `decodeFeatures` derives features from the raw
  * bytes with a clearly-marked deterministic fake in place of a real
  * decoder. Swapping in a real codec changes only the body of
  * [[MediaCodec.decode]]; every schema, partitioning, and batching
  * decision stays.
  *
  * At 100 TB: payloads dominate row size, so media tables should be
  * written with a small `maxRecordsPerFile`/row-group target and the
  * metadata struct kept in separate columns for pruned, payload-free
  * scans (Parquet column pruning means metadata-only queries never read
  * the binary chunk).
  */
object Multimodal {

  /** Typed per-row media record (the Dataset view of the media table). */
  final case class MediaRow(
      doc_id: Long,
      kind: String,
      width: Int,
      height: Int,
      payload: Array[Byte])

  /** Extracted features: byte-level stats standing in for real
    * embeddings/histograms. */
  final case class MediaFeatures(
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      byte_sum: Long,
      head_byte: Int)

  /** STUB CODEC — deterministic fake. A real deployment replaces this
    * body with an actual decoder (JPEG/PNG/PCM); the signature — bytes
    * in, fixed-shape features out — is the contract the pipeline is
    * built against. */
  object MediaCodec {
    def decode(row: MediaRow): MediaFeatures = {
      // fake "decode": byte statistics instead of pixel decoding
      var s = 0L
      var i = 0
      while (i < row.payload.length) { s += row.payload(i) & 0xff; i += 1 }
      MediaFeatures(row.doc_id, row.kind, row.payload.length, s,
        if (row.payload.isEmpty) -1 else row.payload(0) & 0xff)
    }
  }

  /** Build the media table from `documents`: payload = UTF-8 bytes of
    * the text (deterministic fake for an image blob), metadata derived
    * deterministically from doc_id. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // pmod, not %: a negative doc_id under % yields index 0 (runtime
      // INVALID_INDEX) or a silently different kind from the array end
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      (lit(64) + pmod(col("doc_id"), lit(8)) * 16).cast("int").as("width"),
      (lit(48) + pmod(col("doc_id"), lit(5)) * 16).cast("int").as("height"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Metadata-only projection — never touches the payload column, so a
    * Parquet-backed media table serves it from pruned columns. The md5
    * digest doubles as a content id for exact media dedup. */
  def mediaMeta(docs: DataFrame): DataFrame =
    mediaTable(docs).select(
      col("doc_id"), col("kind"), col("width"), col("height"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("payload_md5"))

  /** Feature extraction: typed batch iteration per partition (the
    * Scala analog of `mapInPandas` — one JVM-side loop per partition,
    * no per-row lambda dispatch). */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map(MediaCodec.decode))
  }

  /** Resize: payload in → (targetW×targetH)-byte payload out with the
    * metadata updated — the same per-partition batch loop as
    * [[decodeFeatures]]. The resample is a STUB at the pixel level (1-D
    * nearest-neighbor over raw bytes — no image libs in this container)
    * but the contract a real codec drops into is exact: deterministic
    * output sized by the target geometry, row shape unchanged, so
    * downstream schema/partitioning/dedup logic is already built and
    * tested against it. */
  def resize(
      spark: SparkSession,
      media: DataFrame,
      targetW: Int,
      targetH: Int): Dataset[MediaRow] = {
    require(targetW > 0 && targetH > 0,
      s"target geometry ${targetW}x$targetH must be positive")
    import spark.implicits._
    val n = targetW * targetH
    media.as[MediaRow].mapPartitions(_.map { r =>
      val src = r.payload
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = if (src.isEmpty) 0 else src((i.toLong * src.length / n).toInt)
        i += 1
      }
      r.copy(width = targetW, height = targetH, payload = out)
    })
  }

  /** Frame sampling: slice `n` evenly-spaced fixed-width windows out of
    * the payload — pure binary arithmetic, one output row per frame.
    *
    * Oracle-determinism shape: the frame step uses INTEGER division
    * (`max(len/n, 1)` truncated — float division would round vs
    * truncate differently across engines), and the window fingerprint
    * is the lowercased hex of the bytes. Hex is byte-faithful AND
    * reproducible in ANSI SQL over `hex(encode(text))` sliced at
    * 2 chars/byte — DuckDB can neither md5 nor substring a BLOB, so a
    * digest column would be unverifiable there. */
  /** Windowed energy profile over the media payload — the
    * silence/clipping detector of an audio QC pass, run here on the
    * deterministic fake payload (bytes as 8-bit PCM samples): per
    * non-overlapping `windowBytes` window, the integer sum of byte
    * values plus the window's byte count (the tail window is short,
    * not padded — padding would fake energy). Like [[frameSample]] the
    * contract is byte-level and hex-faithful, so the DuckDB oracle
    * recomputes it from `hex(encode(text))` slices at 2 chars/byte;
    * a real deployment swaps the payload source for decoded PCM and
    * the arithmetic is unchanged.
    *
    * Scale shape: one hex projection + a bounded explode
    * (ceil(bytes/window) rows per doc) — no shuffle at all; the
    * per-window byte fold is an `aggregate` HOF over ATTRIBUTE
    * references only (the computed hex lands in a column before the
    * lambda touches it, so the documented HOF re-evaluation pitfall
    * does not bite). */
  def audioEnergy(media: DataFrame, windowBytes: Int = 32): DataFrame = {
    require(windowBytes > 0, s"windowBytes $windowBytes must be positive")
    val hexW = windowBytes * 2
    media.filter(col("payload").isNotNull && length(col("payload")) > 0)
      .select(col("doc_id"), col("kind"), lower(hex(col("payload"))).as("h"),
        expr(s"CAST((length(payload) + ${windowBytes - 1})" +
          s" DIV $windowBytes AS INT)").as("nwin"))
      .select(col("doc_id"), col("kind"), col("h"),
        explode(sequence(lit(0), col("nwin") - 1)).as("window_idx"))
      .select(col("doc_id"), col("kind"), col("window_idx"),
        expr(s"substring(h, window_idx * $hexW + 1, $hexW)").as("whex"))
      .select(col("doc_id"), col("kind"), col("window_idx"),
        expr("CAST(length(whex) DIV 2 AS BIGINT)").as("n_bytes"),
        expr("aggregate(sequence(1, CAST(length(whex) DIV 2 AS INT)), " +
          "CAST(0 AS BIGINT), (acc, i) -> acc + " +
          "CAST(conv(substring(whex, 2 * i - 1, 2), 16, 10) AS BIGINT))")
          .as("energy"))
  }

  /** 64-bit dHash-style perceptual signature over the payload — the
    * difference-hash construction image dedup uses (resize to a tiny
    * grid, emit 1 bit per adjacent-sample comparison; Krawetz's dHash
    * write-up is the public reference), computed here on the raw
    * payload bytes: 65 nearest-neighbor samples (the [[resize]]
    * downsample arithmetic — `pos_i = (i·len) div 65`, integer
    * truncation) and bit `i` = `sample_i > sample_{i+1}`. A real image
    * deployment decodes to grayscale 65×1 first and keeps every line
    * below unchanged.
    *
    * The signature is returned as FOUR 16-bit band ints (`b0..b3`,
    * bit `16k+j` of the signature = bit `j` of `b_k`) rather than one
    * BIGINT: the bands ARE the LSH blocking keys, and 16-bit values
    * sidestep the sign-bit hazards a packed 64-bit signature carries
    * cross-engine. Hex idiom throughout (`conv(substring(hex(payload)
    * ...), 16, 10)`), so the DuckDB oracle recomputes the signature
    * byte-for-byte from `hex(encode(text))` — the [[audioEnergy]]
    * convention. Empty/NULL payloads carry no signature. */
  def dhashSignature(media: DataFrame): DataFrame = {
    val n = DhashSamples
    val sampled = media
      .filter(col("payload").isNotNull && length(col("payload")) > 0)
      .select(col("doc_id"), hex(col("payload")).as("h"),
        length(col("payload")).as("len"))
      // samples land in a column BEFORE the band lambdas touch them
      // (the documented HOF re-evaluation pitfall); BIGINT in the
      // index product so a 2 GB payload cannot overflow the position
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${n - 1}), i -> " +
          "CAST(conv(substring(h, 2 * CAST((CAST(i AS BIGINT) * len)" +
          s" DIV $n AS INT) + 1, 2), 16, 10) AS INT))").as("s"))
    val bands = (0 until DhashBands).map { k =>
      expr(s"aggregate(sequence(0, ${DhashBandBits - 1}), 0, (acc, j) -> " +
        s"acc + IF(element_at(s, j + ${DhashBandBits * k + 1}) > " +
        s"element_at(s, j + ${DhashBandBits * k + 2}), shiftleft(1, j), 0))")
        .as(s"b$k")
    }
    sampled.select(col("doc_id") +: bands: _*)
  }

  /** Perceptual near-dup pairs at signature hamming distance ≤
    * `maxDist` (< 4) — the media-column dedup axis next to the exact
    * [[mediaMeta]] md5: X5's exact banded geometry (4×16-bit bands,
    * pigeonhole: ≤ 3 differing bits touch ≤ 3 of 4 bands, so every
    * true pair shares a band — exact recall, never all-pairs), with
    * the same [[graft.ext.BucketCap]] skew guard and the same
    * distinct-before-verify candidate join as
    * [[graft.ext.Dedup.simhashNeardup]]. Output: (doc_id_a <
    * doc_id_b, hamming), materialized from one checkpointed signature
    * ([[DhashSignatures]]). Scale: candidates ≈ 4·n²/2¹⁷ per shard on
    * unrelated payloads — the verify is 4 xor/bit_count adds, no
    * payload ever re-read. */
  def mediaNeardup(
      media: DataFrame,
      maxDist: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame =
    NeardupIndex.using(new DhashSignatures(media, maxBucket))(_.pairs(maxDist)
      .select(col("a_id").as("doc_id_a"), col("b_id").as("doc_id_b"), col("hamming")))

  private val DhashSamples = 65
  private val DhashBands = 4
  private val DhashBandBits = 16

  private def bandedSigs(sig: DataFrame): DataFrame =
    sig.select(col("doc_id") +: (0 until DhashBands).map(k => col(s"b$k")) :+
      posexplode(array((0 until DhashBands).map(k => col(s"b$k")): _*))
        .as(Seq("band", "band_val")): _*)

  /** One media frame's dHash signature — the [[DhashIndex]] family's
    * signed batch: [[dhashSignature]], pinned by ONE `localCheckpoint`,
    * whose banded rows ([[bandedSigs]]) the within-batch pairs, the
    * probe and the index frames all read. The pin matters beyond
    * reuse: without the barrier, join-key non-null constraint inference
    * pushes isnotnull(<band expr>) down to the batch scan, where
    * projection collapse inlines the interpreted HOF signature tree into
    * every reference — each element_at then re-evaluates the 65-sample
    * transform, and a 500-doc probe measured 18 s at sf0.1 (0.6 s
    * pinned). Stored bands never have the problem: they are parquet
    * columns. `maxBucket` caps the within-batch buckets. */
  private final class DhashSignatures(media: DataFrame, maxBucket: Int)
      extends NeardupIndex.Signed[Int] {
    private val sig = dhashSignature(media).localCheckpoint(true)

    def pairs(maxDist: Int): DataFrame = {
      val banded = graft.ext.BucketCap.keepSmall(
        bandedSigs(sig), Seq("band", "band_val"), maxBucket)
      verify(banded, banded, maxDist, Some(col("a_id") < col("b_id")))
    }

    def against(w: graft.sinks.StagingWriter, name: String, maxDist: Int): DataFrame =
      verify(w.read(s"${name}_dhash_bands"), bandedSigs(sig), maxDist, None)

    /** (a_id, b_id, hamming) over the (band, band_val) matches of two
      * banded signature frames at hamming ≤ `maxDist`, materialized —
      * candidates distinct before the filter, the verify 4 xor/bit_count
      * adds on the joined band ints. */
    private def verify(
        a: DataFrame, b: DataFrame, maxDist: Int, order: Option[Column]): DataFrame = {
      require(maxDist < DhashBands,
        s"$DhashBands-band blocking guarantees recall only for distance <= ${DhashBands - 1}")
      def side(df: DataFrame, tag: String) = df.select(
        col("band") +: col("band_val") +: col("doc_id").as(s"${tag}_id") +:
          (0 until DhashBands).map(k => col(s"b$k").as(s"$tag$k")): _*)
      val hamming = (0 until DhashBands)
        .map(k => bit_count(col(s"a$k").bitwiseXOR(col(s"b$k"))))
        .reduce(_ + _).cast("int")
      val cand = side(a, "a").join(side(b, "b"), Seq("band", "band_val"))
      order.fold(cand)(cand.filter)
        .select(col("a_id"), col("b_id"), hamming.as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxDist)
        .localCheckpoint(true)
    }

    def frames(keep: Option[DataFrame]): GrowingIndex.Frames = emit => {
      val rows = keep.fold(sig)(k => sig.join(k.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      emit(rows)
      emit(bandedSigs(rows))
    }

    def release(): Unit = graft.util.Checkpoints.release(sig)
  }

  /** Ingest-time dHash index ([[GrowingIndex]]) — the incremental leg
    * of [[mediaNeardup]]: signatures AND their banded blocking keys land
    * as parquet artifacts (`_dhash_sigs`, then `_dhash_bands` — the
    * existence gate), so a later batch near-dups against the standing
    * media corpus without ever re-reading or re-signing a corpus
    * payload. Both writes read the one checkpointed signature
    * ([[DhashSignatures]]), so the stored bands always derive from
    * exactly the stored signatures. */
  object DhashIndex extends NeardupIndex[Int] with GrowingIndex.NoSidecar {
    val artifacts = Seq("_dhash_sigs", "_dhash_bands")
    val idCol = "doc_id"
    val defaultThreshold = 3

    protected def sign(media: DataFrame, g: Unit): NeardupIndex.Signed[Int] =
      new DhashSignatures(media, Int.MaxValue)
  }

  /** Probe: the batch's perceptual near-dups AGAINST the stored index
    * at hamming ≤ `maxDist` — batch payloads are signed once, corpus
    * signatures come from the artifacts (structurally: this method
    * never sees the corpus frame). Same exact pigeonhole recall as
    * [[mediaNeardup]]; candidates are (band, band_val) matches, the
    * verify is 4 xor/bit_count adds on the joined band ints.
    * Output: (doc_id_corpus, doc_id_batch, hamming), materialized. */
  def dhashNeardupAgainstIndex(
      media: DataFrame,
      w: graft.sinks.StagingWriter,
      name: String,
      maxDist: Int = 3): DataFrame =
    NeardupIndex.using(new DhashSignatures(media, Int.MaxValue))(_.against(w, name, maxDist)
      .select(col("a_id").as("doc_id_corpus"), col("b_id").as("doc_id_batch"), col("hamming")))

  /** SHOT-BOUNDARY DETECTION over the sampled frame stream — the
    * video-curation row next to [[frameSample]]: a per-frame dHash-
    * style signature (bit i = byte i > byte i+1, 15 bits over a
    * 16-byte frame), then the hamming distance between CONSECUTIVE
    * frames of a document; a transition whose distance reaches
    * `threshold` is a cut. Real decoders would hand luma rows to the
    * same signature; the deterministic byte payload keeps the
    * Spark-side plumbing (frame plan, lag window, bit arithmetic)
    * real and hex-faithful so the DuckDB oracle recomputes every bit
    * from `hex(encode(text))` (the x17 technique). Short tail frames
    * (payload ends mid-frame) are excluded on both engines by the
    * exact-length guard; NULL payloads drop with them.
    *
    * Output per document: `n_transitions` (frames minus one),
    * `n_boundaries` (cuts at the threshold), `max_hamming` — exact
    * integers end to end.
    *
    * Scale shape: one projection computes signatures at the scan, one
    * lag window inside doc partitions (frame count is a literal), one
    * map-side-combinable per-doc aggregate. */
  def shotBoundaries(
      media: DataFrame, n: Int = 8, frameBytes: Int = 16,
      threshold: Int = 10): DataFrame = {
    require(n >= 2, s"frame count $n needs at least one transition")
    require(frameBytes >= 2 && frameBytes <= 64,
      s"frameBytes $frameBytes must fit a 63-bit signature")
    require(threshold >= 0, s"threshold $threshold must be non-negative")
    val frames = frameSample(media, n, frameBytes)
      .filter(col("frame_bytes") === frameBytes)
    def byteAt(i: Int) =
      expr(s"CAST(conv(substring(frame_hex, ${2 * i + 1}, 2), 16, 10)" +
        " AS BIGINT)")
    val sig = (0 until frameBytes - 1)
      .map(i => when(byteAt(i) > byteAt(i + 1), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("sig", sig)
      .withColumn("prev_sig", lag(col("sig"), 1).over(w))
      .filter(col("prev_sig").isNotNull)
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("prev_sig"))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_transitions"),
        sum((col("hamming") >= threshold).cast("long")).as("n_boundaries"),
        max(col("hamming")).as("max_hamming"))
  }

  def frameSample(media: DataFrame, n: Int = 4, frameBytes: Int = 16): DataFrame = {
    require(n > 0 && frameBytes > 0,
      s"frame plan n=$n frameBytes=$frameBytes must be positive")
    val step = greatest((length(col("payload")) / n).cast("int"), lit(1))
    media
      .select(col("doc_id"), col("kind"),
        posexplode(transform(sequence(lit(0), lit(n - 1)), i =>
          col("payload").substr(i * step + 1, lit(frameBytes))))
          .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("kind"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        lower(hex(col("frame"))).as("frame_hex"))
  }
}
