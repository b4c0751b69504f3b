package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** AudioCodecs: G.711 µ-law/A-law (exact table decode) and IMA/DVI
  * ADPCM (block-based differential decode). G.711 is pinned against
  * PUBLISHED endpoint values and the codec-consistency bijection;
  * ADPCM against published table entries, a hand-steppable block,
  * and the closed-loop encoder's measured error bound (the codec is
  * lossy by design — sample identity is never claimed).
  */
class AudioCodecsSpec extends AnyFunSuite {

  test("G.711 decode matches the published endpoints and symmetries") {
    import AudioCodecs._
    // µ-law: full-scale +-32124; both zero codes decode to 0
    assert(muLawDecode(0x80) === 32124)
    assert(muLawDecode(0x00) === -32124)
    assert(muLawDecode(0xff) === 0)
    assert(muLawDecode(0x7f) === 0)
    // complement symmetry: code ^ 0x80 negates the sample
    for (c <- 0 until 256)
      assert(muLawDecode(c ^ 0x80) === -muLawDecode(c), s"mu $c")
    // A-law: full-scale +-32256, smallest magnitude +-8 (no zero)
    assert(aLawDecode(0xaa) === 32256)
    assert(aLawDecode(0x2a) === -32256)
    assert(aLawDecode(0xd5) === 8)
    assert(aLawDecode(0x55) === -8)
    for (c <- 0 until 256)
      assert(aLawDecode(c ^ 0x80) === -aLawDecode(c), s"al $c")
  }

  test("G.711 codec consistency: encode(decode(code)) == code for " +
    "every code (mu-law's negative zero canonicalizes to 0xFF)") {
    import AudioCodecs._
    for (c <- 0 until 256) {
      assert(aLawEncode(aLawDecode(c)) === c, s"alaw $c")
      val expected = if (c == 0x7f) 0xff else c // -0 -> canonical +0
      assert(muLawEncode(muLawDecode(c)) === expected, s"ulaw $c")
    }
    // quantization error of a re-encoded arbitrary sample stays
    // inside the segment width (<= 1/16 magnitude + bias slack)
    val rnd = new scala.util.Random(3)
    (1 to 2000).foreach { _ =>
      val s = (rnd.nextInt(65536) - 32768).toShort
      val mu = muLawDecode(muLawEncode(s))
      val al = aLawDecode(aLawEncode(s))
      assert(math.abs(mu - s) <= math.abs(s.toInt) / 16 + 132, s"mu $s")
      assert(math.abs(al - s) <= math.abs(s.toInt) / 16 + 24, s"al $s")
    }
  }

  test("G.711 WAV roundtrip through samples(): code bytes decode " +
    "through the container exactly; hostile inputs -> None") {
    import AudioCodecs._
    val codes = Array.tabulate(256)(_.toByte)
    for (law <- Seq("ulaw", "alaw")) {
      val wav = synthesizeWavG711Codes(8000, codes, law)
      val dec = if (law == "ulaw") muLawDecode(_: Int) else aLawDecode(_: Int)
      val got = samples(wav).get
      assert(got.toSeq === (0 until 256).map(dec).toSeq, law)
      // the PCM16 entry point must NOT claim these bytes
      assert(AudioHeader.pcm16Samples(wav) === None, law)
    }
    // an encoder-built G.711 WAV decodes to the quantized signal
    val tone = Array.tabulate(500)(i =>
      (math.sin(i * 0.09) * 15000).toShort)
    val wav = synthesizeWavG711(8000, tone, "ulaw")
    val got = samples(wav).get
    assert(got.length === 500)
    tone.zip(got).foreach { case (s, d) =>
      assert(math.abs(d - s) <= math.abs(s.toInt) / 16 + 132) }
    assert(samples("junk".getBytes) === None)
    assert(samples(Array.empty[Byte]) === None)
  }

  test("PCM width conversions through samples(): 24-bit and float-32 " +
    "roundtrip exactly, 8-bit recovers the stored high byte") {
    import AudioCodecs._
    val tone = Array.tabulate(400)(i =>
      (math.sin(i * 0.11) * 21000).toShort)
    // 24-bit: stored v << 8, decoded back to v exactly
    assert(samples(synthesizeWavWidth(8000, tone, "pcm24")).get.toSeq
      === tone.toSeq)
    // float-32: v/32767 stored, round(f*32767) recovers v exactly
    assert(samples(synthesizeWavWidth(8000, tone, "float32")).get.toSeq
      === tone.toSeq)
    // 8-bit: (v>>8)+128 stored; decode = (stored-128)<<8 = v & 0xff00
    val got8 = samples(synthesizeWavWidth(8000, tone, "pcm8")).get
    assert(got8.toSeq === tone.map(v => ((v >> 8) << 8).toShort).toSeq)
    // float NaN clamps to 0, overscale clamps to full scale
    val weird = synthesizeWavWidth(8000, Array[Short](0, 0), "float32")
    val nanBits = java.lang.Float.floatToIntBits(Float.NaN)
    val bigBits = java.lang.Float.floatToIntBits(7.5f)
    def put(at: Int, bits: Int): Unit = (0 until 4).foreach(j =>
      weird(at + j) = ((bits >> (8 * j)) & 0xff).toByte)
    put(44, nanBits); put(48, bigBits)
    assert(samples(weird).get.toSeq === Seq[Short](0, 32767))
  }

  test("IMA ADPCM: published table entries, a hand-stepped block, " +
    "exact block-seed samples, and the closed-loop error bound") {
    import AudioCodecs._
    // published step-table endpoints + spot values
    assert(ImaStep(0) === 7 && ImaStep(88) === 32767)
    assert(ImaStep(44) === 494 && ImaStep(60) === 2272)
    assert(ImaIndexAdjust.toSeq === Seq(-1, -1, -1, -1, 2, 4, 6, 8))
    // hand-steppable: pred=0, index=0 (step 7)
    // nibble 0: diff = 7>>3 = 0 -> pred 0, index -1 -> clamp 0
    assert(imaStep(0, 0, 0) === ((0, 0)))
    // nibble 7: diff = 0 + 7 + 3 + 1 = 11 -> pred 11, index +8
    assert(imaStep(0, 0, 7) === ((11, 8)))
    // nibble 15: same magnitude, negative -> pred -11
    assert(imaStep(0, 0, 15) === ((-11, 8)))
    // clamping: max step, huge predictor
    assert(imaStep(32000, 88, 7)._1 === 32767)
    assert(imaStep(-32000, 88, 15)._1 === -32768)
    // container roundtrip: block seeds are EXACT, everything else
    // tracks within the adaptive quantizer's error
    val tone = Array.tabulate(2000)(i =>
      (math.sin(i * 0.05) * 12000 + math.sin(i * 0.21) * 3000).toShort)
    val wav = synthesizeWavImaAdpcm(8000, tone, blockAlign = 256)
    val got = samples(wav).get
    // samplesPerBlock = (256-4)*2+1 = 505; 2000 = 3*505 + 485 tail;
    // the odd tail pads one trailing decode sample
    assert(got.length === 2000 || got.length === 2001)
    val spb = 505
    for (b <- 0 until 3)
      assert(got(b * spb) === tone(b * spb), s"seed of block $b")
    // adaptive-quantizer tracking error on a smooth signal: the max
    // rides the onset slope-overload transient (the step table needs
    // ~7 samples to adapt from step 7 to a ~1200/sample slope —
    // measured 5238 here); steady state is what the mean bounds
    val errs = tone.indices.map(i => math.abs(got(i) - tone(i)))
    assert(errs.max <= 8192, s"max err ${errs.max}")
    assert(errs.sum.toDouble / errs.size <= 256,
      s"mean err ${errs.sum.toDouble / errs.size}")
    // malformed: step index > 88 in a block header -> None
    val bad = wav.clone()
    bad(44 + 2) = 90.toByte // first block's index byte
    assert(samples(bad) === None)
  }

  test("STEREO IMA ADPCM: channel-word interleave, per-channel seeds " +
    "exact, channel separation, error bound, ragged tails malformed") {
    import AudioCodecs._
    // frames per block at blockAlign 256 = 1 + 248 = 249; pick
    // 2 full blocks + a 9-frame tail (seed + one word) = 507 frames
    val frames = 2 * 249 + 9
    // left: a moving tone; right: CONSTANT (its closed-loop nibbles
    // stay tiny, so any cross-channel state bleed would show up as
    // right-channel drift)
    val stereo = new Array[Short](frames * 2)
    (0 until frames).foreach { i =>
      stereo(2 * i) = (math.sin(i * 0.07) * 11000).toShort
      stereo(2 * i + 1) = 1200
    }
    val wav = synthesizeWavImaAdpcmStereo(8000, stereo, 256)
    assert(AudioHeader.parse(wav).exists(i =>
      i.audioFormat == 17 && i.channels == 2))
    val got = samples(wav).get
    assert(got.length === frames * 2)
    // per-channel block seeds are verbatim
    for (b <- Seq(0, 249, 498)) {
      assert(got(2 * b) === stereo(2 * b), s"L seed of block at $b")
      assert(got(2 * b + 1) === stereo(2 * b + 1), s"R seed at $b")
    }
    // channel separation: the constant right channel never drifts
    // beyond the smallest quantizer steps
    val rErr = (0 until frames).map(i =>
      math.abs(got(2 * i + 1) - 1200))
    assert(rErr.max <= 32, s"right drift ${rErr.max}")
    // left tracks within the adaptive-quantizer bound
    val lErr = (0 until frames).map(i =>
      math.abs(got(2 * i) - stereo(2 * i)))
    assert(lErr.max <= 8192, s"max L err ${lErr.max}")
    assert(lErr.sum.toDouble / lErr.size <= 256,
      s"mean L err ${lErr.sum.toDouble / lErr.size}")
    // ragged tail (not seed + whole words) is malformed, never a
    // partial decode
    assert(imaAdpcmStereoSamples(wav.dropRight(3)) === None)
    // bad right-channel step index -> None
    val bad = wav.clone()
    bad(44 + 6) = 91.toByte
    assert(samples(bad) === None)
  }

  test("oggFlacStream: .oga decodes like its .flac twin; non-Ogg is None") {
    val tone = Array.tabulate(600)(i =>
      (math.sin(i * 0.06) * 9000).toShort)
    val flac = FlacDecode.synthesizeFlacPcm16(8000, tone,
      blockSize = 192, subframe = "lpc4")
    val oga = OggHeader.synthesizeOggFlac(flac)
    assert(OggHeader.oggFlacStream(oga).flatMap(FlacDecode.pcm16Samples)
      .map(_.toSeq) === FlacDecode.pcm16Samples(flac).map(_.toSeq))
    assert(OggHeader.oggFlacStream(flac) === None)
  }
}
