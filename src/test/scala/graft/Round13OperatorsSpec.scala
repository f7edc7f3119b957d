package graft

/** Round-13 regression pins for the ADVICE r12 fixes. */
class Round13OperatorsSpec extends SparkSpec {

  // ------------------------------------------------- corpus cap, big ids

  test("corpus cap: doc_ids past 2^24 (ScaleGen offsets) still rank by quality") {
    import spark.implicits._
    // The r12 double-pack q_ppm*2^24 + (2^24-1-doc_id) went negative in the
    // id term once doc_id >= 2^24 and borrowed from the quality field: doc
    // 30_000_000 (quality 0.9) would lose to doc 1 (quality 0.8). The fix
    // ranks by (quality DESC, doc_id ASC) directly, with no packing.
    val big = 30000000L // a ScaleGen 3rd-copy id: 3*10^7 > 2^24
    val scored = Seq(
      (big, "src", 0.9, 100L),
      (1L, "src", 0.8, 50L),
      (2L, "src", 0.7, 40L))
      .toDF("doc_id", "source", "quality", "n_toks")
    val out = graft.queries.Text.corpusCap(scored, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    // kept must be the 0.9 and 0.8 docs: tokens kept 100+50, not 50+40
    assert(out.toSeq == Seq(("src", 3L, 2L, 190L, 150L)), out.mkString(";"))
  }

  test("corpus cap: quality tie at big ids still breaks by doc_id ASC") {
    import spark.implicits._
    val scored = Seq(
      (20000000L, "src", 0.8, 10L),
      (30000000L, "src", 0.8, 20L),
      (40000000L, "src", 0.8, 30L))
      .toDF("doc_id", "source", "quality", "n_toks")
    val out = graft.queries.Text.corpusCap(scored, cap = 2)
      .collect().map(r => (r.getLong(2), r.getLong(5)))
    // keeps the two SMALLEST doc_ids on the tie: tokens 10+20
    assert(out.toSeq == Seq((2L, 30L)), out.mkString(";"))
  }

  // -------------------------------------------------- bmp header hardening

  test("bmp: malformed headers fail with a clear message, not a raw AIOOBE") {
    val good = graft.multimodal.Bmp.encodeGray(8, 8, Array.fill(64)(128))
    def mutate(off: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
      b
    }
    // negative width
    val e1 = intercept[IllegalArgumentException] {
      graft.multimodal.Bmp.decodeGray(mutate(18, -8))
    }
    assert(e1.getMessage.contains("dimensions"), e1.getMessage)
    // zero height
    val e2 = intercept[IllegalArgumentException] {
      graft.multimodal.Bmp.decodeGray(mutate(22, 0))
    }
    assert(e2.getMessage.contains("dimensions"), e2.getMessage)
    // data offset pointing before the headers / past the file
    val e3 = intercept[IllegalArgumentException] {
      graft.multimodal.Bmp.decodeGray(mutate(10, 4))
    }
    assert(e3.getMessage.contains("offset"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      graft.multimodal.Bmp.decodeGray(mutate(10, good.length + 100))
    }
    assert(e4.getMessage.contains("offset"), e4.getMessage)
  }

  // -------------------------------------------------- scratch dir identity

  test("scratch dirs for sanitization-colliding paths stay distinct") {
    val a = graft.queries.Maintain.scratchDir("t", "/a/sf0.1")
    val b = graft.queries.Maintain.scratchDir("t", "/a_sf0.1")
    assert(a != b, s"collision: $a")
    // and the mapping is stable for the same input
    assert(a == graft.queries.Maintain.scratchDir("t", "/a/sf0.1"))
  }
}
