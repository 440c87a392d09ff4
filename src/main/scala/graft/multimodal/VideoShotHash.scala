package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{StageLoader, Transformer}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Shot-boundary video signature — the documented ESCALATION path of
 * [[VideoDHasher]]: the cheap 3-slot position-fraction signature is
 * provably fragile to trimming and shot reordering (slot alignment
 * moves), so this operator matches videos as SETS of shots instead.
 *
 * Signature: every frame of the RIFF/AVI payload is dHashed (the same
 * [[DHash.dhashBytes]] seam and [[VideoDHash.aviFrameChunks]] walk as
 * the 3-slot path), a shot boundary is declared wherever the
 * frame-to-frame dHash Hamming delta exceeds `boundaryBits` (within a
 * shot consecutive frames move few bits; a cut moves ~half the
 * fingerprint), and each shot is represented by the MINIMUM dHash
 * among its frames — order-invariant within the shot and stable under
 * mid-shot cuts that keep the minimum frame. The column value is the
 * sorted distinct array of shot representatives: a trimmed copy's set
 * is a SUBSET of the original's, a reordered copy's set is EQUAL, so
 * containment survives both edits that break slot alignment.
 *
 * Match rule ([[VideoShotHasher.containmentJoin]]): two videos pair
 * when |shots_a ∩ shots_b| / min(|shots_a|, |shots_b|) ≥ `minOverlap`
 * — CONTAINMENT, not Jaccard, so a clip trimmed to half its shots
 * still scores 1.0 against its source (the asymmetric-dup shape
 * corpus video dedup needs).
 *
 * Scale shape (100 TB design): hashing decodes every frame but stays
 * executor-local — payload bytes never cross a shuffle; only the
 * O(shots) long-array column does. The join is a plain equi-join on
 * individual shot hashes (exact equality: dHash is invariant to the
 * re-grade/re-encode perturbations this tier targets, so shared shots
 * share the long): candidates are bounded by near-dup density per
 * shot hash — a shot shared by K videos contributes C(K,2) candidate
 * rows, so ubiquitous "stop shots" (black frames, logo cards) must be
 * capped via `maxVideosPerShot` exactly like a stopword list (the
 * Swing purchaser-cap / MinHash-stop-shingle treatment). Cost vs the
 * 3-slot default: ~frames/3 × the decode work — use this path when
 * trims/re-cuts are in the threat model, the 3-slot default otherwise.
 */
object VideoShotHash {

  /** Test seam: shotHashes invocations in this JVM (local-mode specs
    * count decode passes to pin containmentJoin's single-decode
    * contract; one volatile add per VIDEO, noise next to decoding
    * every frame). */
  val decodeInvocations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Sorted distinct shot-representative dHashes of an AVI payload.
    * None for null/non-AVI/frameless payloads or when ANY frame fails
    * to decode — a partially decodable video must not silently match
    * on the shots that happened to parse (the [[VideoDHash.signature]]
    * failure discipline). */
  def shotHashes(payload: Array[Byte], boundaryBits: Int): Option[Seq[Long]] = {
    decodeInvocations.incrementAndGet()
    val chunks = VideoDHash.aviFrameChunks(payload)
    if (chunks.isEmpty) return None
    val hashes = new Array[Long](chunks.size)
    var i = 0
    while (i < chunks.size) {
      val (off, len) = chunks(i)
      DHash.dhashBytes(java.util.Arrays.copyOfRange(
        payload, off.toInt, (off + len).toInt)) match {
        case Some(h) => hashes(i) = h
        case None => return None
      }
      i += 1
    }
    val reps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var shotMin = hashes(0)
    i = 1
    while (i < hashes.length) {
      if (java.lang.Long.bitCount(hashes(i) ^ hashes(i - 1)) > boundaryBits) {
        reps += shotMin
        shotMin = hashes(i)
      } else if (hashes(i) < shotMin) {
        shotMin = hashes(i)
      }
      i += 1
    }
    reps += shotMin
    Some(reps.distinct.sorted.toSeq)
  }
}

/**
 * Appends the sorted-distinct shot-representative array of a binary
 * AVI column (see [[VideoShotHash]]); undecodable rows hash to null.
 */
class VideoShotHasher extends Transformer[VideoShotHasher]
    with HasInputCol[VideoShotHasher] with HasOutputCol[VideoShotHasher] {

  final val boundaryBits: Param[Int] =
    param[Int]("boundaryBits",
      "Frame-to-frame dHash Hamming delta that starts a new shot (a cut moves ~32 of 64 bits; within-shot motion moves few).",
      10, ParamValidators.inRange(0, 63))
  def getBoundaryBits: Int = get(boundaryBits)
  def setBoundaryBits(v: Int): VideoShotHasher = set(boundaryBits, v)

  final val minOverlap: Param[Double] =
    param[Double]("minOverlap",
      "Containment threshold for containmentJoin: |A intersect B| / min(|A|, |B|).",
      0.8, ParamValidators.inRange(0.0, 1.0))
  def getMinOverlap: Double = get(minOverlap)
  def setMinOverlap(v: Double): VideoShotHasher = set(minOverlap, v)

  final val maxVideosPerShot: Param[Int] =
    param[Int]("maxVideosPerShot",
      "Drop shot hashes appearing in more than this many videos before pairing (0 = off) — the stop-shot cap bounding a hot shot's C(K,2) candidate blow-up.",
      0, ParamValidators.gtEq(0))
  def getMaxVideosPerShot: Int = get(maxVideosPerShot)
  def setMaxVideosPerShot(v: Int): VideoShotHasher = set(maxVideosPerShot, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val bb = getBoundaryBits
    val sh = udf { payload: Array[Byte] => VideoShotHash.shotHashes(payload, bb) }
    Array(inputs.head.withColumn(getOutputCol, sh(col(getInputCol))))
  }

  /** All id pairs (id_a < id_b) with shot containment ≥ `minOverlap`:
    * (id_a, id_b, shared, n_a, n_b, overlap). One equi-join on the
    * exploded shot hash; shot arrays are distinct-deduped at hash
    * time, so `count(*)` per pair IS the intersection size — no
    * distinct, no join-backs. With `maxVideosPerShot` > 0, hot shot
    * hashes are removed from pairing first (one aggregation on the
    * same join key); n_a/n_b stay the FULL set sizes so a capped shot
    * lowers recall, never inflates overlap.
    *
    * Single decode: the slim (id, shots) projection is stored inside
    * this method, so decoding and dHashing every frame behind `df`'s
    * hash column runs once per video however many plan branches read
    * it; callers store nothing of their own. */
  def containmentJoin(df: DataFrame, idCol: String): DataFrame = Loop.scoped { stored =>
    val out = getOutputCol
    // the stored projection references the hash column exactly ONCE:
    // filtering on it or deriving size() in the same plan as the UDF
    // evaluates the (deterministic) UDF per reference on the codegen
    // path — measured 3× the all-frames decode at 200k videos
    val hashedOnce = stored(Loop.keep(df.select(col(idCol).as("id"), col(out).as("shots"))))
    val slim = hashedOnce
      .where(col("shots").isNotNull && size(col("shots")) > 0)
      .select(col("id"), col("shots"), size(col("shots")).as("n"))
    val exploded = slim.select(col("id"), col("n"),
      explode(col("shots")).as("shot"))
    val ex =
      if (getMaxVideosPerShot > 0) {
        val hot = exploded.groupBy("shot")
          .agg(count("*").as("__vids"))
          .where(col("__vids") > getMaxVideosPerShot)
          .select("shot")
        exploded.join(hot, Seq("shot"), "left_anti")
      } else exploded
    val a = ex.select(col("id").as("id_a"), col("n").as("n_a"), col("shot"))
    val b = ex.select(col("id").as("id_b"), col("n").as("n_b"), col("shot"))
    Loop.keep(a.join(b, Seq("shot"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count("*").as("shared"))
      .withColumn("overlap", col("shared") / least(col("n_a"), col("n_b")))
      .where(col("overlap") >= getMinOverlap)
      .select("id_a", "id_b", "shared", "n_a", "n_b", "overlap"))
  }
}

object VideoShotHasher extends StageLoader[VideoShotHasher] {
  def load(spark: SparkSession, path: String): VideoShotHasher =
    ReadWrite.applyParams(new VideoShotHasher, path)

  /**
   * Deterministic multi-shot dedup-test video: one shot per
   * `shotKeys` entry — `framesPerShot` IDENTICAL
   * [[ImageDHasher.syntheticCellImage]] frames keyed
   * `group * 1000003 + key` — wrapped in [[VideoDHasher.aviBytes]].
   * Within a shot the frame delta is 0 bits; across distinct cell
   * keys the delta is ~half the fingerprint, so `boundaryBits` in
   * [1, ~20] recovers the shot list exactly. The planted edits:
   *
   *   - trim  = drop keys (the shot set becomes a subset);
   *   - reorder = permute keys (the shot SET is unchanged);
   *   - re-grade = brightness shift (dHash-invariant, set unchanged).
   */
  def syntheticShotVideo(group: Long, shotKeys: Seq[Int],
      framesPerShot: Int = 3, brightness: Int = 0,
      format: String = "png"): Array[Byte] = {
    require(shotKeys.nonEmpty, "a video needs at least one shot")
    require(framesPerShot >= 1, s"framesPerShot must be >= 1, got $framesPerShot")
    val frames = shotKeys.flatMap { k =>
      val img = ImageDHasher.syntheticCellImage(
        group * 1000003L + k, brightness = brightness, format = format)
      Seq.fill(framesPerShot)(img)
    }
    VideoDHasher.aviBytes(frames, 18, 16)
  }

  /** Java/py4j-friendly overload (python lists arrive as
    * java.util.List). */
  def syntheticShotVideo(group: Long, shotKeys: java.util.List[Integer],
      framesPerShot: Int, brightness: Int, format: String): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    syntheticShotVideo(group, shotKeys.asScala.map(_.intValue()).toSeq,
      framesPerShot, brightness, format)
  }
}
