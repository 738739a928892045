package graft

import graft.operators.Adpcm

/** The compressed-audio codec path: the oracle replays the whole
  * recursion in SQL, so this spec pins the kernel mechanics directly
  * (step math, both clamps, nibble packing order) and the corruption
  * posture. */
class AdpcmSpec extends SparkSessionSpec {

  test("step kernel: bit tests, sign, and both clamps") {
    // n=0 at idx 0 (step 7): diff = 0, index clamps at 0
    assert(Adpcm.step(100, 0, 0) == ((100, 0)))
    // n=7 sets all three magnitude bits: diff = s>>3+s>>2+s>>1+s
    val s20 = Adpcm.StepTable(20)
    assert(Adpcm.step(0, 20, 7) ==
      (((s20 >> 3) + (s20 >> 2) + (s20 >> 1) + s20, 28)))
    // n=15 mirrors n=7 with the sign bit
    assert(Adpcm.step(0, 20, 15) ==
      ((-((s20 >> 3) + (s20 >> 2) + (s20 >> 1) + s20), 28)))
    // predictor clamps both ways at the int16 rails
    assert(Adpcm.step(32700, 88, 7)._1 == 32767)
    assert(Adpcm.step(-32700, 88, 15)._1 == -32768)
    // index clamps at 88
    assert(Adpcm.step(0, 88, 4)._2 == 88)
  }

  test("decode equals a direct JVM recursion over the nibble stream") {
    (0L until 30L).foreach { id =>
      val nc = 17L + id % 50
      val info = Adpcm.decode(id, Adpcm.encode(id, nc)).get
      val nNib = Adpcm.nibblesOf(id, nc)
      var pred = Adpcm.predInitOfBlock(id, 0)
      var idx = Adpcm.idxInitOfBlock(id, 0)
      var sum = pred.toLong
      for (t <- 1 to nNib) {
        val (p2, i2) = Adpcm.step(pred, idx, Adpcm.nibbleOfBlock(id, 0, t))
        pred = p2; idx = i2; sum += pred
      }
      assert(info.n_samples == nNib + 1L, s"doc $id")
      assert(info.sum_samples == sum, s"doc $id")
      assert(info.final_pred == pred.toLong, s"doc $id")
    }
  }

  test("corruption posture: None, never garbage") {
    val good = Adpcm.encode(9L, 25L)
    // wrong format tag (PCM) refuses
    val pcm = good.clone(); pcm(20) = 1; pcm(21) = 0
    assert(Adpcm.decode(9L, pcm).isEmpty)
    // stereo refuses
    val st = good.clone(); st(22) = 2
    assert(Adpcm.decode(9L, st).isEmpty)
    // step index out of range refuses
    val bad = good.clone()
    // locate the data chunk header: "data" then len, then pred/idx
    val dAt = (0 until good.length - 4).find(i =>
      new String(good, i, 4, "US-ASCII") == "data").get
    bad(dAt + 8 + 2) = 120.toByte // idx > 88
    assert(Adpcm.decode(9L, bad).isEmpty)
    // truncations at every layer
    for (cut <- Seq(4, 20, 40, good.length - 3))
      assert(Adpcm.decode(9L, good.take(cut)).isEmpty, s"cut=$cut")
    // garbage
    assert(Adpcm.decode(9L, Array.fill(60)(3.toByte)).isEmpty)
  }

  test("multi-block decode: per-block state restart equals a direct walk") {
    (0L until 20L).foreach { id =>
      val nc = 11L + id % 40
      val nBlocks = Adpcm.blocksOf(id)
      val info = Adpcm.decode(id, Adpcm.encodeBlocks(id, nc, nBlocks)).get
      val nNib = Adpcm.nibblesOf(id, nc)
      var sum = 0L
      var pred = 0
      for (blk <- 0 until nBlocks) {
        pred = Adpcm.predInitOfBlock(id, blk)
        var idx = Adpcm.idxInitOfBlock(id, blk)
        sum += pred
        for (t <- 1 to nNib) {
          val (p2, i2) = Adpcm.step(pred, idx, Adpcm.nibbleOfBlock(id, blk, t))
          pred = p2; idx = i2; sum += pred
        }
      }
      assert(info.n_samples == nBlocks.toLong * (nNib + 1), s"doc $id")
      assert(info.sum_samples == sum, s"doc $id")
      assert(info.final_pred == pred.toLong, s"doc $id")
    }
    // a data chunk that is not a whole number of blocks refuses
    val good = Adpcm.encodeBlocks(7L, 25L, 2)
    assert(Adpcm.decode(7L, good.dropRight(1)).isEmpty)
    // the single-block encode is exactly block 0 of the multi forms
    assert(Adpcm.decode(3L, Adpcm.encode(3L, 30L)).get.final_pred ==
      Adpcm.decode(3L, Adpcm.encodeBlocks(3L, 30L, 1)).get.final_pred)
  }

  test("μ-law expansion: canonical values, symmetry, container gates") {
    // canonical anchor points of the G.711 table
    assert(Adpcm.ulawDecodeByte(0xff) == 0)      // +0
    assert(Adpcm.ulawDecodeByte(0x7f) == 0)      // −0
    assert(Adpcm.ulawDecodeByte(0x80) == 32124)  // max positive
    assert(Adpcm.ulawDecodeByte(0x00) == -32124) // max negative
    // complement symmetry: flipping the sign bit negates the sample
    (0 until 128).foreach { b =>
      assert(Adpcm.ulawDecodeByte(b) == -Adpcm.ulawDecodeByte(b | 0x80), b)
    }
    // round-trip vs direct recompute over corpus-shaped blobs
    (0L until 20L).foreach { id =>
      val nc = 3L + id * 7 % 50
      val info = Adpcm.decodeUlaw(id, Adpcm.encodeUlaw(id, nc)).get
      val n = Adpcm.ulawSamplesOf(nc)
      val pcm = (1 to n).map(i =>
        Adpcm.ulawDecodeByte(Adpcm.ulawByteOf(id, i)))
      assert(info.n_samples == n.toLong)
      assert(info.sum_pcm == pcm.map(_.toLong).sum)
      assert(info.sum_abs == pcm.map(s => math.abs(s).toLong).sum)
    }
    // container gates: PCM tag, stereo, truncation all refuse
    val good = Adpcm.encodeUlaw(9L, 25L)
    val pcmTag = good.clone(); pcmTag(20) = 1
    assert(Adpcm.decodeUlaw(9L, pcmTag).isEmpty)
    val st = good.clone(); st(22) = 2
    assert(Adpcm.decodeUlaw(9L, st).isEmpty)
    assert(Adpcm.decodeUlaw(9L, good.take(good.length - 2)).isEmpty)
  }

  test("mm_adpcm emits one row per document at sf0.001") {
    val df = Adpcm.mmAdpcm(spark, sf0001)
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(df.count() == n)
  }
}
