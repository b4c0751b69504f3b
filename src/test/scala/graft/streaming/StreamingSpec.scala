package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.pickaxe.AdductRow

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("stream-static peak search joins arriving peaks to compounds") {
    implicit val sqlCtx = spark.sqlContext
    val peaks = MemoryStream[(String, Double, String)]
    val compounds = Seq(
      ("C1", "CCO", "C2H6O", 46.041865, 0),
      ("C2", "CC(=O)O", "C2H4O2", 60.021130, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val hits = StreamingOps.peakSearchStream(
      peaks.toDF().toDF("name", "mz", "charge"), compounds,
      Seq(AdductRow("[M+H]+", 1.0, 1.007276)), tol = 0.01)
    val q = hits.writeStream.format("memory").queryName("peak_hits")
      .outputMode("append").start()
    try {
      peaks.addData(("p_etoh", 47.049141, "+"), ("p_miss", 999.0, "+"))
      q.processAllAvailable()
      val got = spark.table("peak_hits")
        .select("peak", "_id").as[(String, String)].collect().toSet
      assert(got === Set(("p_etoh", "C1")))
      // second micro-batch joins against the same static side
      peaks.addData(("p_acoh", 61.028406, "+"))
      q.processAllAvailable()
      assert(spark.table("peak_hits").count() === 2)
    } finally q.stop()
  }

  test("catalog-scale stream-static mass search: thousands of ppm " +
    "windows, batch parity with adductSearch, zero streaming state") {
    // the q_mass_search_scale geometry ONLINE: a 5k-compound catalog
    // (with a charged sliver and a halogen sliver the candidate
    // predicate must drop), 2k peaks -> ~7k (peak, adduct) ppm
    // windows at 20 ppm / bucketWidth 1.0, arriving over three
    // micro-batches. The stream-static bucketed interval join must
    // return EXACTLY the batch adductSearch hit set — and carry no
    // keyed state (stateless join: the static side never lates).
    implicit val sqlCtx = spark.sqlContext
    val compounds = spark.range(5000)
      .select(col("id").as("_id"),
        lit("C").as("SMILES"),
        when(col("id") % 7 === 0, concat(lit("C6Cl"), col("id") % 50))
          .otherwise(concat(lit("C"), col("id") % 50)).as("Formula"),
        (lit(100.0) + col("id") % 4000 * 0.37).as("Mass"),
        when(col("id") % 11 === 0, 1).otherwise(0).as("Charge"))
      .persist() // stream-static: re-read every micro-batch otherwise
    val adducts = Seq(
      AdductRow("[M+H]+", 1.0, 1.007276),
      AdductRow("[M+Na]+", 1.0, 22.989218),
      AdductRow("[M+2H]2+", 2.0, 2.014552),
      AdductRow("[M-H]-", 1.0, -1.007276),
      AdductRow("[M-2H]2-", 2.0, -2.014552),
      AdductRow("[2M-H]-", 0.5, -1.007276))
    // peaks aimed at the catalog's mass grid through the [M+H]+/[M-H]-
    // window arithmetic (a 20 ppm window at mass ~1500 is only
    // ±0.03 Da, so un-aimed peaks almost never hit; aimed peaks make
    // the parity set thousands of rows, and the multi-charge / dimer
    // adducts add off-grid coverage wherever their arithmetic lands)
    val peakRows = (1 to 2000).map { i =>
      val m = 100.0 + (i * 7 % 4000) * 0.37
      if (i % 2 == 0) (s"pk$i", m + 1.007276, "+")
      else (s"pk$i", m - 1.007276, "-")
    }
    val want = graft.pickaxe.MassSearch.adductSearch(spark, compounds,
        peakRows.toDF("name", "mz", "charge"), adducts,
        tol = 20.0, ppm = true, bucketWidth = 1.0)
      .select("peak", "adduct", "_id")
      .as[(String, String, Long)].collect().toSet
    assert(want.size > 1000, s"fixture too sparse: ${want.size}")
    val peaks = MemoryStream[(String, Double, String)]
    val hits = StreamingOps.peakSearchStream(
      peaks.toDF().toDF("name", "mz", "charge"), compounds, adducts,
      tol = 20.0, ppm = true, bucketWidth = 1.0)
    val q = hits.writeStream.format("memory").queryName("mass_scale")
      .outputMode("append").start()
    try {
      peakRows.grouped(700).foreach { chunk =>
        peaks.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("mass_scale")
        .select("peak", "adduct", "_id")
        .as[(String, String, Long)].collect().toSet
      assert(got === want)
      // the J6 discipline holds online with ZERO streaming state —
      // no stateful operator exists in the query at all
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally { q.stop(); compounds.unpersist() }
  }

  test("streaming image feature extraction (featuresColumn) matches " +
    "the batch withDecodedFeatures operator row for row") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Multimodal, PixelDecode}
    // a real PNG, opaque text bytes, and empty media — the decode,
    // stub-fallback, and empty branches all cross the parity check
    val png = PixelDecode.encodePngGray(6, 4, Array.tabulate(24)(_ * 10))
    val rows = Seq(("png", png), ("txt", "hello world".getBytes),
      ("empty", Array.empty[Byte]))
    val cols = Multimodal.featureSchema.fieldNames.toSeq
    val want = Multimodal
      .withDecodedFeatures(rows.toDF("id", "media"), "media")
      .select((Seq("id") ++ cols).map(col): _*)
      .collect().map(_.toSeq).toSet
    val media = MemoryStream[(String, Array[Byte])]
    val feats = media.toDF().toDF("id", "media")
      .withColumn("mf", Multimodal.featuresColumn(col("media")))
      .select((Seq(col("id")) ++ cols.map(c => col(s"mf.$c"))): _*)
    val q = feats.writeStream.format("memory").queryName("img_feats")
      .outputMode("append").start()
    try {
      media.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("img_feats").collect().map(_.toSeq).toSet
      assert(got === want)
      assert(q.lastProgress.stateOperators.isEmpty) // stateless map
    } finally q.stop()
  }

  test("mp4Cues is streaming-transparent: caption extraction from " +
    "arriving multi-track containers matches the batch rows across a " +
    "mid-stream split") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Multimodal, VideoHeader}
    def mp4For(id: Int): Array[Byte] = {
      val cues = (0 until 2 + id % 3).map(i => s"clip $id cue $i")
      val cueSamples: Seq[Array[Byte]] = cues.map { t =>
        val b = t.getBytes("UTF-8")
        Array[Byte](((b.length >> 8) & 0xff).toByte,
          (b.length & 0xff).toByte) ++ b
      }
      VideoHeader.synthesizeMp4Tracks("mp42", 600,
        cueSamples.length * 200L, Seq(
          VideoHeader.TrackSamples(
            VideoHeader.TrackSpec("vide", "avc1", 64, 64, 600, 200L),
            Seq(Array[Byte](1, 2, 3)), 200, 1),
          VideoHeader.TrackSamples(
            VideoHeader.TrackSpec("text", "tx3g", 0, 0, 1000,
              cueSamples.length * 200L), cueSamples, 200, 2)))
    }
    val clips = (0 until 6).map(id => id.toLong -> mp4For(id))
    val want = Multimodal.mp4Cues(clips.toDF("clip", "media"), "media")
      .select("clip", "cue_idx", "dts", "text")
      .collect().map(_.toSeq).toSet
    val feed = MemoryStream[(Long, Array[Byte])]
    val out = Multimodal.mp4Cues(
      feed.toDF().toDF("clip", "media"), "media")
      .select("clip", "cue_idx", "dts", "text")
    val q = out.writeStream.format("memory").queryName("cue_stream")
      .outputMode("append").start()
    try {
      clips.grouped(4).foreach { chunk =>
        feed.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("cue_stream").collect().map(_.toSeq).toSet
      assert(got === want)
      // stateless: no state store operator exists in the query
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("WARC streams relay through the Common Crawl front-end: " +
    "record walk + HTTP split + htmlText are stateless projections, " +
    "one windowed agg rolls up the quality verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{TextOps, Warc}
    def warcFor(id: Int): Array[Byte] = {
      val recs = (0 until 3).map { k =>
        val markers = if (id % 2 == 0) "the of is was here"
          else "le et les une ici"
        val html = s"<html><body><h1>Doc $id $k</h1>" +
          (if (id % 3 == 0) ""
           else s"<p>real body &amp; words $k</p><p>$markers</p>") +
          "<script>x()</script></body></html>"
        Warc.WarcRecord("response", s"https://s.ex.com/$id/$k",
          "application/http;msgtype=response",
          Warc.synthesizeHttp(200, "text/html", html))
      }
      if (id % 2 == 0) Warc.synthesizeWarc(recs)
      else Warc.synthesizeWarcGz(recs, 1)
    }
    val corpus = (0 until 6).map(id => id -> warcFor(id))
    val strip = udf((h: String) => TextOps.htmlText(h))
    val feed = MemoryStream[(Int, Array[Byte], Timestamp)]
    val out = Warc.warcDocuments(
        feed.toDF().toDF("doc", "blob", "ts")
          .withWatermark("ts", "2 hours"), "blob")
      .withColumn("text", strip(col("text")))
      .withColumn("ok", size(split(col("text"), "\\s+")) >= 5)
      // the CCNet langid stage, stateless like every step before the
      // one windowed rollup: marker-word scores over the page tokens
      .withColumn("t", expr("filter(split(text, '\\\\s+'), x -> x != '')"))
      .withColumn("s_en", expr("size(filter(t, x -> " +
        "array_contains(array('the','of','is','was'), x)))"))
      .withColumn("s_fr", expr("size(filter(t, x -> " +
        "array_contains(array('le','et','les','une'), x)))"))
      .withColumn("predicted",
        expr("case when s_en >= s_fr then 'en' else 'fr' end"))
      .groupBy(window(col("ts"), "1 hour"), col("doc"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("ok") && col("predicted") === "en", 1L)
          .otherwise(0L)).as("n_en"))
    val q = out.writeStream.format("memory").queryName("cc_stream")
      .outputMode("update").start()
    try {
      feed.addData(corpus.map { case (id, b) =>
        (id, b, Timestamp.valueOf("2024-01-01 10:00:00")) }: _*)
      q.processAllAvailable()
      val got = spark.table("cc_stream")
        .select("doc", "n_pages", "n_quality", "n_en").collect()
        .map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      for (id <- 0 until 6) {
        val nq = if (id % 3 == 0) 0L else 3L
        val nEn = if (id % 3 != 0 && id % 2 == 0) 3L else 0L
        assert(got(id) === ((3L, nq, nEn)), s"doc $id")
      }
    } finally q.stop()
  }

  test("ID3v2 APIC album art relays MP3 streams into the image " +
    "pipeline: stateless cover extraction + decode column, " +
    "brightness re-grades cluster to one pHash per cover") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AudioHeader, Multimodal, PixelDecode}
    // 6 MP3s, 2 covers, 3 brightness re-grades each (+0/+20/+40):
    // pHash is DC-invariant, so each cover must land on ONE hash
    def mp3For(id: Int): Array[Byte] = {
      val g = id / 3
      val art = Array.tabulate(1024)(i =>
        (g * 83 + i * 7 + (i * i) % 23) % 200 + (id % 3) * 20)
      AudioHeader.synthesizeId3v2(Seq("TIT2" -> s"t $id"),
        major = 3 + id % 2,
        apic = Seq(("image/png", 3,
          PixelDecode.encodePngGray(32, 32, art)))) ++
        AudioHeader.synthesizeMp3(mpeg1 = false, brIdx = 2,
          srIdx = 0, mono = true, nFrames = 2)
    }
    val corpus = (0 until 6).map(id => id.toLong -> mp3For(id))
    val feed = MemoryStream[(Long, Array[Byte], Timestamp)]
    val out = Multimodal.id3CoverArt(
        feed.toDF().toDF("doc", "media", "ts")
          .withWatermark("ts", "2 hours"), "media")
      .withColumn("mf", Multimodal.featuresColumn(col("art")))
      .groupBy(window(col("ts"), "1 hour"), col("mf.phash"))
      .agg(count(lit(1)).as("n"),
        collect_set(col("doc")).as("docs"))
    val q = out.writeStream.format("memory").queryName("apic_stream")
      .outputMode("update").start()
    try {
      feed.addData(corpus.map { case (id, m) =>
        (id, m, Timestamp.valueOf("2024-01-01 10:00:00")) }: _*)
      q.processAllAvailable()
      val got = spark.table("apic_stream")
        .select("phash", "n", "docs").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[Long](2).toSet)).toMap
      assert(got.size === 2, "two covers -> two hashes")
      assert(got.values.map(_._2).toSet ===
        Set(Set(0L, 1L, 2L), Set(3L, 4L, 5L)))
      // parity with the batch kernel's extraction
      val batch = corpus.map { case (id, m) =>
        val art = AudioHeader.id3ApicFrames(m).head._3
        id -> Multimodal.featuresOf(art, 256).phash
      }.toMap
      for ((ph, (_, docs)) <- got; d <- docs)
        assert(batch(d) === ph, s"batch parity doc $d")
    } finally q.stop()
  }

  test("streaming MS2 scoring: on-time peaks score identically to " +
    "batch; late-past-watermark peaks are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val compounds = Seq(
      ("C1", "CCO", "C2H6O", 46.041865, 0),
      ("C2", "CC(=O)O", "C2H4O2", 60.021130, 0),
      // batch-parity candidate predicate: a charged compound and a
      // chlorinated one at C1's mass must NOT hit (both carry a perfect
      // 1000-score spectrum, so either leaking through would out-score
      // C1's 949 and show up as best_id)
      ("C8", "CC[O-]", "C2H5O", 46.041865, -1),
      ("C9", "CCCl", "C2H5Cl", 46.041865, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val spectra = Seq(
      ("C1", Seq((50.0, 1.0), (70.0, 2.0))),
      ("C2", Seq((80.0, 1.0))),
      ("C8", Seq((50.0, 1.0), (70.0, 1.0))),
      ("C9", Seq((50.0, 1.0), (70.0, 1.0))))
      .toDF("c_id", "spectrum")
    val etohMs2 = Seq((50.0, 1.0), (70.0, 1.0))
    def t(s: String) = Timestamp.valueOf(s)
    val peaks =
      MemoryStream[(String, Double, String, Timestamp, Seq[(Double, Double)])]
    val scored = StreamingOps.ms2ScoreStream(
      peaks.toDF().toDF("name", "mz", "charge", "ts", "ms2"),
      compounds, spectra,
      Seq(AdductRow("[M+H]+", 1.0, 1.007276)),
      tolDa = 0.01, watermark = "30 minutes", windowDuration = "10 minutes")
    val q = scored.writeStream.format("memory").queryName("ms2_stream")
      .outputMode("update").start()
    try {
      // batch 1: on-time peak at 10:00
      peaks.addData(("p_etoh", 47.049141, "+", t("2024-01-01 10:00:00"),
        etohMs2))
      q.processAllAvailable()
      // batch 2: a later peak advances the watermark to 11:00
      peaks.addData(("p_acoh", 61.028406, "+", t("2024-01-01 11:30:00"),
        Seq((80.0, 1.0))))
      q.processAllAvailable()
      // batch 3: p_late WOULD match C1, but its window [10:00,10:10)
      // closed when the watermark passed — it must be dropped
      peaks.addData(("p_late", 47.049141, "+", t("2024-01-01 10:05:00"),
        etohMs2))
      q.processAllAvailable()
      val rows = spark.table("ms2_stream")
        .select("peak", "best_score", "best_id")
        .as[(String, Double, String)].collect()
      assert(rows.map(_._1).toSet === Set("p_etoh", "p_acoh"))
      val batchScore = graft.pickaxe.MassSearch.ms2Search(spark, compounds,
        Seq(("p_etoh", 47.049141, "+", etohMs2))
          .toDF("name", "mz", "charge", "ms2"),
        spectra, tol = 0.01)
        .select("spectral_score").as[Double].head()
      val streamEtoh = rows.filter(_._1 == "p_etoh").head
      assert(streamEtoh._2 === batchScore) // identical kernel, same score
      assert(streamEtoh._2 === 949.0) // 3/sqrt(10) * 1000 rounded
      assert(streamEtoh._3 === "C1")
    } finally q.stop()
  }

  test("streaming MS2 score ties break to the smallest id, like batch " +
    "rank ordering") {
    implicit val sqlCtx = spark.sqlContext
    // two candidates at the same mass with IDENTICAL spectra: the
    // score ties exactly, and batch ms2Search's rank orders by
    // (score desc, _id asc) -> C3 must win over C7 in the stream too
    val compounds = Seq(
      ("C7", "CCO", "C2H6O", 46.041865, 0),
      ("C3", "OCC", "C2H6O", 46.041865, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val sp = Seq((50.0, 1.0), (70.0, 1.0))
    val spectra = Seq(("C7", sp), ("C3", sp)).toDF("c_id", "spectrum")
    val peaks =
      MemoryStream[(String, Double, String, Timestamp, Seq[(Double, Double)])]
    val scored = StreamingOps.ms2ScoreStream(
      peaks.toDF().toDF("name", "mz", "charge", "ts", "ms2"),
      compounds, spectra,
      Seq(AdductRow("[M+H]+", 1.0, 1.007276)), tolDa = 0.01)
    val q = scored.writeStream.format("memory").queryName("ms2_tie")
      .outputMode("update").start()
    try {
      peaks.addData(("p_tie", 47.049141, "+",
        Timestamp.valueOf("2024-01-01 10:00:00"), sp))
      q.processAllAvailable()
      val (nHits, bestId) = spark.table("ms2_tie")
        .select("n_hits", "best_id").as[(Long, String)].head()
      assert(nHits === 2L)
      assert(bestId === "C3") // smallest id on tie — not largest
      val batchBest = graft.pickaxe.MassSearch.ms2Search(spark, compounds,
        Seq(("p_tie", 47.049141, "+", sp)).toDF("name", "mz", "charge", "ms2"),
        spectra, tol = 0.01)
        .where(col("rank") === 1).select("_id").as[String].head()
      assert(batchBest === bestId)
    } finally q.stop()
  }

  test("explicit persisted static side: caller owns the cache and can " +
    "unpersist it after the query stops") {
    implicit val sqlCtx = spark.sqlContext
    val compounds = Seq(("C1", "CCO", "C2H6O", 46.041865, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val sp = Seq((50.0, 1.0), (70.0, 1.0))
    val spectra = Seq(("C1", sp)).toDF("c_id", "spectrum")
    val staticDf = StreamingOps.ms2StaticSide(compounds, spectra).persist()
    val peaks =
      MemoryStream[(String, Double, String, Timestamp, Seq[(Double, Double)])]
    val scored = StreamingOps.ms2ScoreStream(
      peaks.toDF().toDF("name", "mz", "charge", "ts", "ms2"),
      compounds, spectra, Seq(AdductRow("[M+H]+", 1.0, 1.007276)),
      tolDa = 0.01, staticSide = Some(staticDf))
    val q = scored.writeStream.format("memory").queryName("ms2_own")
      .outputMode("update").start()
    try {
      peaks.addData(("p_etoh", 47.049141, "+",
        Timestamp.valueOf("2024-01-01 10:00:00"), sp))
      q.processAllAvailable()
      val got = spark.table("ms2_own")
        .select("peak", "best_id").as[(String, String)].collect().toSet
      assert(got === Set(("p_etoh", "C1")))
      assert(staticDf.storageLevel !==
        org.apache.spark.storage.StorageLevel.NONE)
    } finally q.stop()
    staticDf.unpersist(blocking = true)
    assert(staticDf.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("incremental dedup is streaming-transparent: the batch kernel " +
    "filters an arriving shard against the static prior corpus") {
    implicit val sqlCtx = spark.sqlContext
    val prior = Seq((100L, "alpha"), (101L, "zeta"), (102L, "beta"))
      .toDF("id", "text")
    val arriving = MemoryStream[(Long, String)]
    val out = graft.operators.IncrementalDedup.newRows(
      arriving.toDF().toDF("id", "text"), prior,
      md5(col("text")), expectedPriorItems = 100)
    val q = out.writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      arriving.addData((1L, "alpha"), (2L, "gamma"))
      q.processAllAvailable()
      // batch 2: the bloom + anti-join re-apply per micro-batch
      arriving.addData((3L, "beta"), (4L, "delta"), (5L, "zeta"))
      q.processAllAvailable()
      val got = spark.table("inc_dedup").select("id").as[Long]
        .collect().toSet
      val want = graft.operators.IncrementalDedup.newRows(
        Seq((1L, "alpha"), (2L, "gamma"), (3L, "beta"), (4L, "delta"),
          (5L, "zeta")).toDF("id", "text"),
        prior, md5(col("text")), expectedPriorItems = 100)
        .select("id").as[Long].collect().toSet
      assert(got === want && got === Set(2L, 4L),
        "stream kept set must equal the batch kernel's on the same rows")
    } finally q.stop()
  }
}
