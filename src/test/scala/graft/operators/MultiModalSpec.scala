package graft.operators

import graft.SparkSuite
import graft.operators.MultiModal._

class MultiModalSpec extends SparkSuite {

  test("extractFeatures: mapPartitions batch over binary payloads") {
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, "image", Array[Byte](1, 2, 3, 4)),
      MediaRow(2L, "audio", Array.fill[Byte](100)(7))).toDS()
    val feats = extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.map(_.byte_len).toSeq == Seq(4L, 100L))
    assert(feats(0).checksum == FakeCodec.checksum(Array[Byte](1, 2, 3, 4)))
    assert(feats.forall(f => f.width > 0 && f.height == f.width * 3 / 4))
  }

  test("pHash63: grid/threshold vectors, sign bit always clear") {
    // all-equal bytes: no cell exceeds the mean → hash 0
    assert(FakeCodec.pHash63(Array.fill[Byte](63)(7)) == 0L)
    assert(FakeCodec.pHash63(Array.emptyByteArray) == 0L)
    // one hot byte at i: mean = 255/63 = 4 → only bit i set
    val one = new Array[Byte](63); one(5) = -1 // 0xFF unsigned
    assert(FakeCodec.pHash63(one) == (1L << 5))
    // unsigned byte handling: 0x80 (= -128 signed) must count as 128
    val neg = new Array[Byte](63); neg(62) = -128
    assert(FakeCodec.pHash63(neg) == (1L << 62))
    // sign bit clear on adversarial input
    assert(FakeCodec.pHash63(Array.fill[Byte](200)(-1)) >= 0L)
    // payload shorter than the grid zero-pads: tail bits can still set
    val short = Array[Byte](100, 1) // mean (101/63)=1 → bit 0 only
    assert(FakeCodec.pHash63(short) == 1L)
  }

  test("pHashNearDupPairs: equals brute force (band completeness ≤ 6)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = Array.fill[Byte](80)(rnd.nextInt(256).toByte)
    def mutate(n: Int): Array[Byte] = {
      val p = base.clone()
      (0 until n).foreach(i => p(rnd.nextInt(63)) = rnd.nextInt(256).toByte)
      p
    }
    val media = (0L until 40L).map { i =>
      MediaRow(i, "image",
        if (i < 20) mutate(i.toInt % 5) // clustered near-dups
        else Array.fill[Byte](80)(rnd.nextInt(256).toByte))
    }.toDS()
    val hashes = pHash(media).collect().map(h => h.media_id -> h.phash).toMap
    val brute = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if d <= 6
    } yield (a, b, d.toLong)).toSet
    val got = pHashNearDupPairs(media, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(brute.nonEmpty, "fixture produced no near pairs — not exercising the join")
    intercept[IllegalArgumentException](pHashNearDupPairs(media, maxHamming = 7))
  }

  test("BlobStore: multi-chunk round-trip is byte-identical and " +
    "checksum-verified; corruption flips intact; ranged reads slice " +
    "exactly and prune files") {
    import org.apache.spark.sql.functions._
    import graft.sources.{BlobStore, VersionedTable}
    val root = java.nio.file.Files
      .createTempDirectory("graft_blobstore").resolve("b").toString
    // payload sizes straddle the chunk boundary: 1 byte, exactly one
    // chunk, chunk+1, several chunks, and a large asset
    val rnd = new scala.util.Random(11)
    val payloads = Seq(1, 100, 101, 350, 5000).zipWithIndex.map {
      case (n, i) =>
        val b = new Array[Byte](n); rnd.nextBytes(b)
        (i.toLong, s"kind$i", b)
    }
    import spark.implicits._
    BlobStore.write(payloads.toDF("media_id", "kind", "payload"), root,
      chunkBytes = 100, numFiles = 4)
    // chunk rows bound every cell at chunkBytes and cover the payload
    val ch = VersionedTable.read(spark, s"$root/chunks")
    assert(ch.agg(max(length(col("chunk")))).head().getInt(0) <= 100)
    assert(ch.filter(col("media_id") === 4L).count() == 50)
    // round trip: byte-identical, every asset intact
    val back = BlobStore.readAssembled(spark, root).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Array[Byte]]("payload"), r.getAs[Boolean]("intact"))).toMap
    payloads.foreach { case (id, _, b) =>
      assert(back(id)._2, s"asset $id must verify")
      assert(java.util.Arrays.equals(back(id)._1, b),
        s"asset $id must round-trip byte-identically")
    }
    // ranged read: an arbitrary cross-chunk slice equals the original
    // slice, and only the asset's files open (media_id stats prune)
    val slice = BlobStore.readRange(spark, root, 4L, 250L, 777L)
      .head().getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(slice,
      payloads(4)._3.slice(250, 250 + 777)))
    val allFiles = VersionedTable.read(spark, s"$root/chunks")
      .inputFiles.length
    val opened = org.apache.spark.sql.graft.GraftScan.filesRead(
      BlobStore.readRange(spark, root, 0L, 0L, 1L), under = "/chunks/")
    info(s"ranged read opened $opened of $allFiles chunk files")
    assert(opened < allFiles)
    // past-the-end range truncates to the asset
    val tail = BlobStore.readRange(spark, root, 1L, 90L, 1000L)
      .head().getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(tail, payloads(1)._3.slice(90, 100)))
    // corruption: truncate one mid-asset chunk → only that asset's
    // intact flag flips (reassembled bytes no longer match the digest)
    val tampered = VersionedTable.read(spark, s"$root/chunks")
      .withColumn("chunk",
        when(col("media_id") === 3L && col("chunk_idx") === 1L,
          expr("substring(chunk, 1, 10)")).otherwise(col("chunk")))
    VersionedTable.overwrite(tampered, s"$root/chunks")
    val after = BlobStore.readAssembled(spark, root).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Boolean]("intact"))
      .toMap
    assert(!after(3L), "corrupted asset must fail verification")
    assert(Seq(0L, 1L, 2L, 4L).forall(after(_)),
      "other assets stay verified")
  }

  test("sampleFrameOffsets: evenly spaced plan, no codec needed") {
    import spark.implicits._
    val media = Seq((1L, Array.fill[Byte](1000)(0))).toDF("media_id", "payload")
    val got = sampleFrameOffsets(media, frames = 4).collect()
      .map(r => (r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((0, 0L), (1, 250L), (2, 500L), (3, 750L)))
  }
}
