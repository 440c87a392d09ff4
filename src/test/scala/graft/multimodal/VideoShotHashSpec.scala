package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VideoShotHashSpec extends SparkSpec {

  private def mk(g: Long, keys: Seq[Int], fps: Int = 3, brightness: Int = 0): Array[Byte] =
    VideoShotHasher.syntheticShotVideo(g, keys, framesPerShot = fps,
      brightness = brightness)

  private def frameHash(g: Long, k: Int): Long =
    DHash.dhashBytes(ImageDHasher.syntheticCellImage(g * 1000003L + k)).get

  test("shotHashes recovers the planted shot list as a sorted distinct set") {
    val got = VideoShotHash.shotHashes(mk(1L, Seq(0, 1, 2, 3)), 10).get
    val want = Seq(0, 1, 2, 3).map(frameHash(1L, _)).distinct.sorted
    assert(got == want)
    // one shot only — no boundary ever fires
    assert(VideoShotHash.shotHashes(mk(1L, Seq(5)), 10).get == Seq(frameHash(1L, 5)))
    // repeated shot keys dedup into the set
    assert(VideoShotHash.shotHashes(mk(1L, Seq(0, 1, 0)), 10).get ==
      Seq(0, 1).map(frameHash(1L, _)).distinct.sorted)
  }

  test("trim / reorder / re-grade edits that break the 3-slot signature keep the shot set") {
    val base = VideoShotHash.shotHashes(mk(9L, Seq(0, 1, 2, 3)), 10).get
    // reorder: same SET
    assert(VideoShotHash.shotHashes(mk(9L, Seq(3, 2, 1, 0)), 10).get == base)
    // re-grade: dHash-invariant
    assert(VideoShotHash.shotHashes(mk(9L, Seq(0, 1, 2, 3), brightness = 40), 10).get == base)
    // frame-rate stretch within shots: same set
    assert(VideoShotHash.shotHashes(mk(9L, Seq(0, 1, 2, 3), fps = 7), 10).get == base)
    // trim: a SUBSET
    val trimmed = VideoShotHash.shotHashes(mk(9L, Seq(1, 2, 3)), 10).get
    assert(trimmed.toSet.subsetOf(base.toSet) && trimmed.size == 3)
    // ...and the 3-slot signature indeed breaks on the same edits
    // (slot alignment moves), which is why this escalation path exists
    val s0 = VideoDHash.signature(mk(9L, Seq(0, 1, 2, 3))).get
    val sR = VideoDHash.signature(mk(9L, Seq(3, 2, 1, 0))).get
    assert(s0 != sR)
  }

  test("failure discipline: garbage, truncation and a bad frame yield None") {
    assert(VideoShotHash.shotHashes(null, 10).isEmpty)
    assert(VideoShotHash.shotHashes("nope".getBytes("UTF-8"), 10).isEmpty)
    val good = mk(3L, Seq(0, 1))
    for (cut <- Seq(12, 40, good.length / 2, good.length - 3))
      VideoShotHash.shotHashes(java.util.Arrays.copyOf(good, cut), 10)
    val badFrame = VideoDHasher.aviBytes(
      Seq(ImageDHasher.syntheticCellImage(1L), "garbage".getBytes("UTF-8")), 18, 16)
    assert(VideoShotHash.shotHashes(badFrame, 10).isEmpty,
      "a partially decodable video must not match on the shots that parsed")
  }

  test("containmentJoin: trim scores 1.0, partial overlap scores its fraction, strangers never pair") {
    import spark.implicits._
    val df = Seq(
      (0L, mk(5L, Seq(0, 1, 2, 3))),       // base: 4 shots
      (1L, mk(5L, Seq(3, 1, 2))),          // trimmed + reordered: {1,2,3}
      (2L, mk(5L, Seq(2, 3, 8, 9))),       // half-overlapping: {2,3,8,9}
      (3L, mk(5L, Seq(4, 5, 6, 7))),       // stranger: disjoint shots
      (4L, Array.empty[Byte])              // undecodable: never pairs
    ).toDF("id", "video")
    val h = new VideoShotHasher().setInputCol("video").setOutputCol("shots")
    val hashed = h.transform(df).head
    // columns: id_a, id_b, shared, n_a, n_b, overlap
    val pairs = h.setMinOverlap(0.45).containmentJoin(hashed, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getInt(3), r.getInt(4), r.getDouble(5))).toMap
    assert(pairs.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    val (s01, na01, nb01, o01) = pairs((0L, 1L))
    assert(s01 == 3L && na01 == 4 && nb01 == 3 && o01 == 1.0)
    val (s02, _, _, o02) = pairs((0L, 2L))
    assert(s02 == 2L && o02 == 0.5)
    val (s12, _, _, o12) = pairs((1L, 2L))
    assert(s12 == 2L && math.abs(o12 - 2.0 / 3.0) < 1e-15)
    // raising the threshold drops the partial overlaps
    assert(h.setMinOverlap(0.9).containmentJoin(hashed, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("maxVideosPerShot stop-shot cap removes hot shots from pairing but not from set sizes") {
    import spark.implicits._
    // shot key 0 appears in ALL four videos (the logo-card shape);
    // keys 10+i are unique per video
    val df = (0 until 4).map(i => (i.toLong, mk(6L, Seq(0, 10 + i)))).toDF("id", "video")
    val h = new VideoShotHasher().setInputCol("video").setOutputCol("shots")
    val hashed = h.transform(df).head
    // uncapped: every pair shares the hot shot -> 6 pairs at overlap 1/2
    assert(h.setMinOverlap(0.4).containmentJoin(hashed, "id").count() == 6)
    // capped at 3: the hot shot is dropped, nothing else is shared;
    // n stays 2, so no pair can sneak past on a smaller denominator
    assert(h.setMaxVideosPerShot(3).containmentJoin(hashed, "id").count() == 0)
  }

  test("single-decode contract: containmentJoin decodes each video exactly once, cap on or off") {
    import spark.implicits._
    val df = (0 until 8).map(i => (i.toLong, mk(9L, Seq(0, 20 + i)))).toDF("id", "video")
    val h = new VideoShotHasher().setInputCol("video").setOutputCol("shots")
    // no caller-side checkpoint on purpose — the operator must
    // materialize its slim projection itself
    val hashed = h.transform(df).head

    VideoShotHash.decodeInvocations.set(0L)
    h.setMinOverlap(0.4).setMaxVideosPerShot(0).containmentJoin(hashed, "id").count()
    assert(VideoShotHash.decodeInvocations.get() == 8L,
      s"uncapped: self-join must not re-decode, got ${VideoShotHash.decodeInvocations.get()}")

    VideoShotHash.decodeInvocations.set(0L)
    h.setMaxVideosPerShot(3).containmentJoin(hashed, "id").count()
    assert(VideoShotHash.decodeInvocations.get() == 8L,
      s"capped: the hot-shot aggregation branch must not re-decode, got ${VideoShotHash.decodeInvocations.get()}")
  }

  test("containmentJoin's result is the call's only storage: clearCache frees it") {
    import spark.implicits._
    val df = (0 until 4).map(i => (i.toLong, mk(7L, Seq(0, 1, 10 + i)))).toDF("id", "video")
    val h = new VideoShotHasher().setInputCol("video").setOutputCol("shots").setMinOverlap(0.5)
    val residue = residueOf {
      h.containmentJoin(h.transform(df).head, "id").write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    assert(residue == (Set.empty, false), s"clearCache left (RDDs, cache entry) $residue")
  }

  test("containmentJoin's result survives lost blocks: a read recomputes them from lineage") {
    import spark.implicits._
    val df = (0 until 4).map(i => (i.toLong, mk(8L, Seq(0, 1, 10 + i)))).toDF("id", "video")
    val h = new VideoShotHasher().setInputCol("video").setOutputCol("shots").setMinOverlap(0.5)
    val out = h.containmentJoin(h.transform(df).head, "id")
    val rows = out.collect().toSet
    assert(rows.size == 6)
    dropStoredBlocks(out)
    assert(out.collect().toSet == rows)
    out.unpersist(blocking = true)
  }

  test("param save/load round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("vsh").toString
    new VideoShotHasher().setInputCol("v").setOutputCol("s")
      .setBoundaryBits(14).setMinOverlap(0.6).setMaxVideosPerShot(100).save(dir)
    val loaded = VideoShotHasher.load(spark, dir)
    assert(loaded.getInputCol == "v" && loaded.getOutputCol == "s" &&
      loaded.getBoundaryBits == 14 && loaded.getMinOverlap == 0.6 &&
      loaded.getMaxVideosPerShot == 100)
  }
}
