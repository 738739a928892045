package graft

import graft.operators.Gif

/** The GIF codec path: the oracle corpus pins geometry + the integer
  * pixel-index sum closed-form (driver gate), so this spec covers the
  * LZW machinery the oracle cannot see directly — exact raster
  * round-trips including code-width growth to 12 bits, table-full
  * clear/reset, the KwKwK case — and the corruption posture (None,
  * never garbage). */
class GifSpec extends SparkSessionSpec {

  test("corpus round-trip: decoded raster equals the synthesis pixels") {
    (0L until 40L).foreach { id =>
      val (w, h, px) = Gif.decodePixels(Gif.encode(id)).get
      assert(w == Gif.widthOf(id) && h == Gif.heightOf(id), s"doc $id")
      for (r <- 0 until h; j <- 0 until w)
        assert(px(r * w + j) == Gif.pixelOf(id, r, j), s"doc $id ($r,$j)")
    }
  }

  test("LZW growth: large repetitive image drives width to 12 bits and " +
       "through a table-full clear, raster exact") {
    // 128x128 with a slowly-varying pattern: long matches → dictionary
    // grows past 512/1024/2048 entries (width 10/11/12) and hits 4096
    // (clear-and-reset) — the full code path, verified pixel-exact
    val (w, h) = (128, 128)
    def px(r: Int, j: Int): Int = ((r * j) / 7 + r) % 256
    val blob = Gif.encodeWith(w, h, px)
    val (dw, dh, out) = Gif.decodePixels(blob).get
    assert(dw == w && dh == h)
    for (r <- 0 until h; j <- 0 until w)
      assert(out(r * w + j) == px(r, j), s"($r,$j)")
  }

  test("KwKwK: constant and abab rasters round-trip exactly") {
    val blobA = Gif.encodeWith(16, 4, (_, _) => 42)
    val (_, _, a) = Gif.decodePixels(blobA).get
    assert(a.forall(_ == 42) && a.length == 64)
    val blobB = Gif.encodeWith(16, 4, (r, j) => (r * 16 + j) % 2 * 7)
    val (_, _, b) = Gif.decodePixels(blobB).get
    assert(b.zipWithIndex.forall { case (v, i) => v == i % 2 * 7 })
  }

  test("animated: every frame round-trips with fresh LZW state") {
    (0L until 12L).foreach { id =>
      val frames = Gif.decodeFrames(Gif.encodeAnimated(id)).get
      assert(frames.size == Gif.framesOf(id), s"doc $id")
      frames.zipWithIndex.foreach { case ((w, h, px), f) =>
        assert(w == Gif.widthOf(id) && h == Gif.heightOf(id))
        for (r <- 0 until h; j <- 0 until w)
          assert(px(r * w + j) == Gif.framePixelOf(id, f, r, j),
            s"doc $id frame $f ($r,$j)")
      }
    }
    // a multi-frame blob truncated mid-frame or missing its trailer
    // refuses entirely — no partial frame list escapes
    val anim = Gif.encodeAnimated(2L) // 3 frames
    assert(Gif.decodeFrames(anim.dropRight(1)).isEmpty)
    assert(Gif.decodeFrames(anim.take(anim.length * 2 / 3)).isEmpty)
  }

  test("interlace: four-pass schedule is exact and decode undoes it") {
    // the schedule itself: a permutation of 0..h-1 with the canonical
    // GIF pass structure (checked against the spec'd strides)
    for (h <- 1 to 13) {
      val ord = Gif.interlaceRows(h)
      assert(ord.sorted.sameElements(0 until h), s"h=$h not a permutation")
      val expect = (0 until h by 8) ++ (4 until h by 8) ++
        (2 until h by 4) ++ (1 until h by 2)
      assert(ord.sameElements(expect), s"h=$h wrong pass order")
    }
    // round-trip: interlaced blobs decode to DISPLAY order, pixel-exact
    (0L until 20L).foreach { id =>
      val (w, h, px) = Gif.decodePixels(Gif.encodeInterlaced(id)).get
      assert(w == Gif.widthOf(id) && h == Gif.heightOf(id), s"doc $id")
      for (r <- 0 until h; j <- 0 until w)
        assert(px(r * w + j) == Gif.pixelOf(id, r, j), s"doc $id ($r,$j)")
    }
    // an interlaced blob differs from the sequential one on disk for
    // any h ≥ 2 image whose rows differ — yet decodes identically
    val seq7 = Gif.encode(7L) // h = 1 + 7%5 = 3
    val int7 = Gif.encodeInterlaced(7L)
    assert(!seq7.sameElements(int7))
    assert(Gif.decodePixels(seq7).get._3
      .sameElements(Gif.decodePixels(int7).get._3))
  }

  test("single-pixel image round-trips") {
    val (w, h, px) = Gif.decodePixels(Gif.encodeWith(1, 1, (_, _) => 9)).get
    assert(w == 1 && h == 1 && px.sameElements(Array(9)))
  }

  test("89a extension blocks are skipped; image still decodes") {
    val base = Gif.encode(3L)
    // splice a graphic-control extension right before the image
    // descriptor and rewrite the version to 89a
    val imgAt = base.indexWhere(_ == 0x2C.toByte, 13 + 768)
    assert(imgAt > 0)
    val ext = Array(0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00)
      .map(_.toByte)
    val spliced = base.take(imgAt) ++ ext ++ base.drop(imgAt)
    "GIF89a".getBytes("US-ASCII").zipWithIndex
      .foreach { case (c, i) => spliced(i) = c }
    val (w, h, px) = Gif.decodePixels(spliced).get
    assert(w == Gif.widthOf(3L) && h == Gif.heightOf(3L))
    assert(px.sum == (for (r <- 0 until h; j <- 0 until w)
      yield Gif.pixelOf(3L, r, j)).sum)
  }

  test("corruption posture: None, never garbage") {
    val good = Gif.encode(7L)
    // bad magic
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(Gif.decodePixels(badMagic).isEmpty)
    // truncation at every layer: header, GCT, descriptor, LZW data
    Seq(4, 10, 100, 13 + 768 + 5, good.length - 2).foreach { n =>
      assert(Gif.decodePixels(good.take(n)).isEmpty, s"truncate $n")
    }
    // trailer with no image
    val noImage = good.take(13 + 768) :+ 0x3B.toByte
    assert(Gif.decodePixels(noImage).isEmpty)
    // garbage that is not a GIF at all
    assert(Gif.decodePixels(Array.fill(50)(7.toByte)).isEmpty)
  }

  test("crafted giant header (65535x65535) maps to None on decode, " +
       "dispatch, and the stream-shared core — never an allocation") {
    // patch a valid blob's image descriptor dims to the u16 maximum:
    // iw*ih = 4.29G pixels — Int-overflows to negative and demands a
    // multi-GB raster if the cap is missing; the budget check must
    // refuse BEFORE allocating (the r10 fix this test pins)
    val good = Gif.encode(7L)
    val imgAt = good.indexWhere(_ == 0x2C.toByte, 13 + 768)
    assert(imgAt > 0)
    val giant = good.clone()
    (5 to 8).foreach(i => giant(imgAt + i) = 0xFF.toByte)
    assert(Gif.decodePixels(giant).isEmpty, "decodePixels must refuse")
    assert(Gif.decodeFrames(giant).isEmpty, "decodeFrames must refuse")
    assert(Gif.decodeInfo(7L, giant).isEmpty, "decodeInfo must refuse")
    // the magic-dispatch core behind mm_dispatch drops the record
    // instead of crashing the batch
    val spark2 = spark
    import spark2.implicits._
    val out = operators.Multimodal.dispatchDecode(
      Seq(operators.Multimodal.MediaRow(7L, giant),
          operators.Multimodal.MediaRow(8L, Gif.encode(8L))).toDS()).collect()
    assert(out.map(_.doc_id).toSeq == Seq(8L),
      "giant-header blob must be dropped, healthy sibling kept")
    // a LEGAL large-but-sane GIF still decodes (the cap is a budget,
    // not a blanket size refusal): 1280x1024 is ~1.3 MP
    val sane = Gif.encodeWith(1280, 1024, (r, j) => (r + j) % 256)
    val (w, h, px) = Gif.decodePixels(sane).get
    assert(w == 1280 && h == 1024 && px.length == 1280 * 1024)
  }

  test("mm_gif emits one row per document at sf0.001") {
    val df = Gif.mmGif(spark, sf0001)
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(df.count() == n)
  }
}
