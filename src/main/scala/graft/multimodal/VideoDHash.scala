package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{StageLoader, Transformer}
import graft.param._
import graft.util.ReadWrite

/** Per-video perceptual signature: dHash of the first, middle and
  * last picture frame (fixed output schema of [[VideoDHasher]]). */
case class VideoSignature(fp_first: Long, fp_mid: Long, fp_last: Long)

/**
 * Frame-level video near-duplicate hashing — the video counterpart of
 * [[ImageDHasher]]/[[AudioDHasher]], completing the multimodal dedup
 * tier: a training-data pipeline dedups re-encoded / re-graded /
 * frame-rate-converted copies of the same clip that byte hashing
 * cannot see.
 *
 * Container: RIFF/AVI with one picture codec payload per frame chunk
 * (`00dc`/`00db` inside the `movi` LIST) — the MJPEG shape, walked
 * with the same hostile-bytes discipline as [[AudioDecoder.walkWav]]
 * (unsigned 32-bit sizes kept as Long, the offset always advances,
 * reads past the buffer end the walk instead of throwing). Each
 * sampled frame decodes through the SAME ImageIO seam as
 * [[DHash.dhashBytes]], so every format that seam reads (JPEG for
 * real MJPEG, PNG/BMP in the provable-fixture tests) rides one code
 * path.
 *
 * Signature: dHash of the first, middle and last frame BY POSITION
 * FRACTION (indices 0, n/2, n−1 of the frame list) — invariant to
 * integer frame-duplication stretch (s[k·n/2] is the same source
 * frame as F[n/2] for every k, so frame-rate conversion by repetition
 * moves zero bits), and per-frame dHash inherits brightness/re-encode
 * invariance from [[DHash]]. Trimming/reordering changes slot
 * alignment and is out of scope (a shot-boundary signature is the
 * escalation path). Two videos match when EVERY slot is within
 * maxHamming.
 *
 * Scale shape: hashing decodes exactly 3 frames per video regardless
 * of length, executor-local (payload bytes never cross a shuffle).
 * Candidates come from the banded equi-join on the FIRST slot — a
 * pair within maxHamming on every slot is within maxHamming on slot
 * 0, so [[graft.dedup.HammingJoin]]'s pigeonhole recall carries over
 * — with the mid/last fingerprints CARRIED through the band explode,
 * so the exact 3-slot filter runs inside the one join with no
 * join-back shuffles and no all-pairs comparison anywhere.
 */
object VideoDHash {

  /** Picture-frame chunks (offset, length) of stream 00 in a RIFF/AVI
    * payload — `00dc` (compressed) / `00db` (uncompressed) inside the
    * `movi` LIST. Stream 00 is the first declared stream, which is
    * the video stream in a standard AVI; other streams' chunks
    * (`01wb` audio, ...) are skipped by id. Null/garbage → empty. */
  private[multimodal] def aviFrameChunks(b: Array[Byte]): Seq[(Long, Long)] = try {
    if (b == null || b.length < 12) return Nil
    def le32(o: Long): Long = (b(o.toInt) & 0xffL) | ((b(o.toInt + 1) & 0xffL) << 8) |
      ((b(o.toInt + 2) & 0xffL) << 16) | ((b(o.toInt + 3) & 0xffL) << 24)
    def tag(o: Long): String = new String(b, o.toInt, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return Nil
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var off = 12L
    while (off + 8 <= b.length) {
      val id = tag(off)
      val sz = le32(off + 4) // unsigned: 0 <= sz < 2^32
      if (id == "LIST" && off + 12 <= b.length && tag(off + 8) == "movi") {
        var c = off + 12
        val end = math.min(off + 8 + sz, b.length.toLong)
        while (c + 8 <= end) {
          val cid = tag(c)
          val csz = le32(c + 4)
          if ((cid == "00dc" || cid == "00db") && c + 8 + csz <= end)
            frames += ((c + 8, csz))
          c += 8L + csz + (csz & 1L) // word-aligned; always advances >= 8
        }
      }
      off += 8L + sz + (sz & 1L)
    }
    frames.toSeq
  } catch { case _: RuntimeException => Nil }

  /** (first, mid, last)-frame dHash signature of an AVI payload. None
    * for null/non-AVI/frameless payloads or when any sampled frame
    * fails to decode (a partially decodable video must not silently
    * match on the slots that happened to parse). */
  def signature(payload: Array[Byte]): Option[VideoSignature] = {
    val chunks = aviFrameChunks(payload)
    if (chunks.isEmpty) return None
    def hashAt(i: Int): Option[Long] = {
      val (off, len) = chunks(i)
      DHash.dhashBytes(java.util.Arrays.copyOfRange(
        payload, off.toInt, (off + len).toInt))
    }
    val n = chunks.size
    for (f <- hashAt(0); m <- hashAt(n / 2); l <- hashAt(n - 1))
      yield VideoSignature(f, m, l)
  }
}

/**
 * Appends the (fp_first, fp_mid, fp_last) struct signature of a
 * binary AVI column; undecodable rows hash to null. `similarityJoin`
 * is the banded Hamming join on the first slot with the exact 3-slot
 * filter inline — full recall while maxHamming < numBands, no
 * all-pairs comparison.
 */
class VideoDHasher extends Transformer[VideoDHasher]
    with HasInputCol[VideoDHasher] with HasOutputCol[VideoDHasher] {

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val vh = udf { payload: Array[Byte] => VideoDHash.signature(payload) }
    Array(inputs.head.withColumn(getOutputCol, vh(col(getInputCol))))
  }

  /** All id pairs (a < b) within `maxHamming` bits ON EVERY SLOT;
    * output (id_a, id_b, hamming) with hamming = the max slot
    * distance (the binding constraint). Null signatures never pair.
    * Same banded construction as [[graft.dedup.HammingJoin.pairs]]
    * (cited there), with the mid/last fingerprints carried through
    * the band explode so the 3-slot filter needs no join-backs; the
    * full Hamming filter runs BEFORE the distinct for the same
    * shuffle-shrinking reason. */
  def similarityJoin(df: DataFrame, idCol: String, maxHamming: Int,
      numBands: Int = 4): DataFrame = {
    require(maxHamming < numBands,
      s"banding with $numBands bands only guarantees recall for Hamming distance < $numBands")
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64 so the bands cover every bit, got $numBands")
    val sig = getOutputCol
    val bits = 64 / numBands
    val slim = df.where(col(sig).isNotNull)
      .select(col(idCol).as("id"), col(s"$sig.fp_first").as("f"),
        col(s"$sig.fp_mid").as("m"), col(s"$sig.fp_last").as("l"))
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"), shiftrightunsigned(col("f"), b * bits)
        .bitwiseAND(lit((1L << bits) - 1)).as("chunk"))
    }
    val exploded = slim.select(col("id"), col("f"), col("m"), col("l"),
        explode(array(bands: _*)).as("bc"))
      .select(col("id"), col("f"), col("m"), col("l"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val a = exploded.select(col("id").as("id_a"), col("f").as("f_a"),
      col("m").as("m_a"), col("l").as("l_a"), col("band"), col("chunk"))
    val b = exploded.select(col("id").as("id_b"), col("f").as("f_b"),
      col("m").as("m_b"), col("l").as("l_b"), col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        greatest(
          bit_count(col("f_a").bitwiseXOR(col("f_b"))),
          bit_count(col("m_a").bitwiseXOR(col("m_b"))),
          bit_count(col("l_a").bitwiseXOR(col("l_b")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-id near-duplicate cluster report — the perceptual-dedup
    * query shape ([[graft.dedup.HammingJoin.clusterWithRep]] over the
    * 3-slot signature): `cluster_id` = min id among direct neighbors
    * and itself, `is_duplicate`, `rep_hamming` = max-slot distance to
    * the representative (0 for representatives and signatured
    * singletons, null for undecodable rows). Single-hop like
    * clusterWithRep — exact for clique-shaped duplicate groups. */
  def clusterWithRep(df: DataFrame, idCol: String, maxHamming: Int,
      numBands: Int = 4): DataFrame = {
    val p = similarityJoin(df, idCol, maxHamming, numBands)
    val neigh = p.select(col("id_a").as(idCol), col("id_b").as("__nb"), col("hamming"))
      .union(p.select(col("id_b").as(idCol), col("id_a").as("__nb"), col("hamming")))
    val slim = df.select(col(idCol), col(getOutputCol).isNotNull.as("__ok"))
    val mn = neigh.groupBy(idCol).agg(min("__nb").as("__mn"))
    val clustered = slim.join(mn, Seq(idCol), "left")
      .select(col(idCol), col("__ok"),
        least(coalesce(col("__mn"), col(idCol)), col(idCol)).as("cluster_id"))
    // the representative is a DIRECT neighbor by construction, so its
    // distance is already on the pair row — no fingerprint join-back
    clustered.join(neigh.withColumnRenamed("__nb", "cluster_id"),
        Seq(idCol, "cluster_id"), "left")
      .select(col(idCol), col("cluster_id"),
        (col("cluster_id") < col(idCol)).as("is_duplicate"),
        when(!col("__ok"), lit(null).cast("int"))
          .otherwise(coalesce(col("hamming"), lit(0))).as("rep_hamming"))
  }

  /** Transitive-closure variant of [[clusterWithRep]]
    * ([[graft.dedup.HammingJoin.clusterComponents]] over the 3-slot
    * signature): the 3-slot near-dup pairs feed
    * [[graft.dedup.ConnectedComponents.run]], so chain-shaped video
    * groups — re-encodes linked through intermediates whose endpoints
    * sit BEYOND maxHamming on some slot — still collapse to one
    * canonical `cluster_id` = the component min. `rep_hamming` is
    * absent, deliberately: on a chain the representative need not be
    * a direct neighbor, and measuring a max-slot distance to it would
    * require a full signature join-back for a number that exceeds the
    * threshold by construction. Null signatures cluster alone. */
  def clusterComponents(df: DataFrame, idCol: String, maxHamming: Int,
      numBands: Int = 4): DataFrame = {
    val p = similarityJoin(df, idCol, maxHamming, numBands)
    val comp = graft.dedup.ConnectedComponents.run(p, "id_a", "id_b").state
      .withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
      .withColumn("is_duplicate", col("cluster_id") < col(idCol))
  }
}

object VideoDHasher extends StageLoader[VideoDHasher] {
  def load(spark: SparkSession, path: String): VideoDHasher =
    ReadWrite.applyParams(new VideoDHasher, path)

  /** Minimal RIFF/AVI container around picture-frame payloads: a
    * `hdrl` LIST with the standard 56-byte `avih` main header and a
    * `movi` LIST with one `00dc` chunk per frame (word-padded). The
    * frame bytes are any format the ImageIO seam reads. */
  def aviBytes(frames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int = 25): Array[Byte] = {
    require(frames.nonEmpty, "an AVI needs at least one frame")
    require(fps > 0, s"fps must be positive, got $fps")
    val avihSize = 56
    val hdrlSize = 4 + 8 + avihSize // 'hdrl' + avih chunk
    val moviPayload = frames.map(f => 8 + f.length + (f.length & 1)).sum
    val moviSize = 4 + moviPayload // 'movi' + frame chunks
    val riffPayload = 4 + (8 + hdrlSize) + (8 + moviSize) // 'AVI ' + LISTs
    val buf = java.nio.ByteBuffer.allocate(8 + riffPayload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffPayload)
      .put("AVI ".getBytes("US-ASCII"))
    buf.put("LIST".getBytes("US-ASCII")).putInt(hdrlSize)
      .put("hdrl".getBytes("US-ASCII"))
    buf.put("avih".getBytes("US-ASCII")).putInt(avihSize)
      .putInt(1000000 / fps)                    // dwMicroSecPerFrame
      .putInt(0).putInt(0).putInt(0)            // maxBytesPerSec, padding, flags
      .putInt(frames.size)                      // dwTotalFrames
      .putInt(0).putInt(1)                      // initialFrames, streams
      .putInt(frames.map(_.length).max)         // suggestedBufferSize
      .putInt(width).putInt(height)
    (0 until 4).foreach(_ => buf.putInt(0))     // reserved
    buf.put("LIST".getBytes("US-ASCII")).putInt(moviSize)
      .put("movi".getBytes("US-ASCII"))
    frames.foreach { f =>
      buf.put("00dc".getBytes("US-ASCII")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  /**
   * Deterministic dedup-test video: `numFrames` distinct
   * [[ImageDHasher.syntheticCellImage]] frames (frame j uses cell
   * group `group * 1000003 + j`, so the first/mid/last slots carry
   * independent hashes), wrapped in [[aviBytes]]. The planted
   * variants move provably few bits per slot:
   *
   *   - brightness += c: every frame's cells shift equally → all
   *     three slots Hamming 0 (re-grade variant);
   *   - format "bmp"/"png": lossless → identical pixels → Hamming 0
   *     (re-encode variant);
   *   - stretch ×k: every frame repeated k times — position-fraction
   *     sampling lands on the same source frames → Hamming 0
   *     (frame-rate conversion by repetition);
   *   - flipMask: applied to EVERY frame → each slot moves exactly
   *     popcount(flipMask) bits.
   */
  def syntheticCellVideo(group: Long, numFrames: Int = 5, brightness: Int = 0,
      stretch: Int = 1, flipMask: Int = 0, format: String = "png"): Array[Byte] = {
    require(numFrames >= 1, s"numFrames must be >= 1, got $numFrames")
    require(stretch >= 1 && stretch <= 16, s"stretch must be in [1, 16], got $stretch")
    val frames = (0 until numFrames).flatMap { j =>
      val img = ImageDHasher.syntheticCellImage(
        group * 1000003L + j, brightness = brightness, flipMask = flipMask,
        format = format)
      Seq.fill(stretch)(img)
    }
    aviBytes(frames, 18, 16)
  }
}
