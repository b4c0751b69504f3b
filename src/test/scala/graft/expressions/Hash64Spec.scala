package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Three-way bit-parity of the shared 60-bit hash: the fused Hash64
  * expression (what TextOps.hash64 now emits), the original SQL chain
  * (what the DuckDB oracles still compute, modulo syntax), and the
  * compiled Scala twin. Any drift here would silently change every
  * minhash band, fingerprint, winnow selection, and DSIR bucket.
  */
class Hash64Spec extends SparkSuite {
  import spark.implicits._

  private val sqlChain =
    "cast(conv(substring(md5(s),1,15),16,10) as bigint)"

  test("fused expression == SQL chain == compiled twin, edge cases " +
    "included") {
    val fixtures = Seq("", "a", "abc", "the quick brown fox",
      "héllo wörld", "世界 你好", "a" * 10000, "\u0000\u0001\t\n",
      "0123456789abcdef" * 8)
    val df = fixtures.toDF("s")
      .withColumn("fused", expr("graft_hash64(s)"))
      .withColumn("chain", expr(sqlChain))
      .collect()
    df.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"fused != chain for ${r.getString(0).take(30)}")
    }
    fixtures.foreach { s =>
      assert(Hash64.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) ===
        graft.operators.VectorOps.hash64Scala(s),
        s"compute != compiled twin for ${s.take(30)}")
    }
    // randomized sweep: deterministic LCG-generated strings
    var seed = 42L
    val rnd = (1 to 500).map { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val len = ((seed >>> 33) % 40).toInt
      (0 until len).map(i =>
        (33 + (((seed >>> (i % 48)) & 0x5f) % 94)).toChar).mkString
    }
    val rr = rnd.toDF("s")
      .withColumn("fused", expr("graft_hash64(s)"))
      .withColumn("chain", expr(sqlChain))
      .where(col("fused") =!= col("chain"))
    assert(rr.count() === 0)
  }

  test("GraftExtensions injects graft_hash64 into a config-built " +
    "session with no library call") {
    // a session wired ONLY through the extension — no Tables.load, no
    // operator entry point — must resolve the function. The
    // config-string route (`spark.sql.extensions=graft.GraftExtensions`)
    // is a STATIC conf read at SparkContext launch, which a shared
    // test context cannot re-set; `Builder.withExtensions` drives the
    // SAME injection machinery programmatically, so this pins the
    // extension class end to end on the live context.
    import org.apache.spark.sql.SparkSession
    val want = spark.sql(
      s"SELECT $sqlChain AS h FROM (SELECT 'abc' AS s)")
      .collect().head.getLong(0)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(ext => new graft.GraftExtensions().apply(ext))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val h = s2.sql("SELECT graft_hash64('abc') AS h")
        .collect().head.getLong(0)
      assert(h === want)
      // the fused shingle kernels must also resolve in an
      // extension-only session (TextOps emits these names)
      val gram = s2.sql("SELECT graft_hash64('abcdefgh') AS h")
        .collect().head.getLong(0)
      val fps = s2.sql("SELECT graft_char_fps('abcdefgh', 8, 4) AS f")
        .collect().head.getSeq[Long](0)
      assert(fps === Seq(gram))
      val win = s2.sql(
        "SELECT size(graft_winnow('abcdefghijk', 8, 11)) AS n")
        .collect().head.getInt(0)
      assert(win >= 1)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("an extension-only session resolves every name the imperative " +
    "registers write") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // the names the three imperative routes write into a session that
    // has none of them yet
    val plain = spark.newSession()
    val before = plain.sessionState.functionRegistry.listFunction().toSet
    Hash64.register(plain)
    NfcNormalize.register(plain)
    VecDot.ensureRegistered(plain)
    val written = plain.sessionState.functionRegistry.listFunction().toSet --
      before
    assert(written.map(_.funcName) === Set("graft_hash64", "graft_nfc",
      "graft_char_fps", "graft_winnow", "graft_sorted_overlap", "vec_dot"))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-names")
        .withExtensions(ext => new graft.GraftExtensions().apply(ext))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      written.foreach(id =>
        assert(s2.sessionState.functionRegistry.functionExists(
          FunctionIdentifier(id.funcName)), s"${id.funcName} is missing"))
      // resolved by name in a query, as TextQueries calls it
      assert(s2.sql("SELECT graft_sorted_overlap(array(1L, 2L, 3L), " +
        "array(2L, 3L, 4L)) AS n").collect().head.getInt(0) === 2)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("null propagates; 60-bit range holds; lambda context works") {
    val out = Seq(Option("x"), None).toDF("s")
      .selectExpr("graft_hash64(s) as h").collect()
    assert(out.exists(_.isNullAt(0)))
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) >= 0 &&
      r.getLong(0) < (1L << 60)))
    // inside an interpreted HOF lambda — the hot path this exists for
    val lam = Seq(Seq("a", "b", "c")).toDF("xs")
      .selectExpr("transform(xs, x -> graft_hash64(x)) as hs",
        s"transform(xs, x -> ${"cast(conv(substring(md5(x),1,15),16,10) as bigint)"}) as cs")
      .as[(Seq[Long], Seq[Long])].head()
    assert(lam._1 === lam._2)
  }

  test("fused graft_char_fps == the HOF transform chain, including " +
    "short and multibyte texts") {
    val fixtures = Seq("", "a", "short", "exactly8", "a bit longer text",
      "héllo wörld és ünïcode padding padding", "x" * 200,
      "the quick brown fox jumps over the lazy dog " * 5)
    for ((w, step) <- Seq((8, 4), (5, 1), (3, 7))) {
      val rows = fixtures.toDF("text")
        .selectExpr(
          s"graft_char_fps(text, $w, $step) as fused",
          s"transform(sequence(1, greatest(length(text) - ${w - 1}, 1), " +
            s"$step), i -> graft_hash64(substring(text, i, $w))) as hof")
        .as[(Seq[Long], Seq[Long])].collect()
      rows.zip(fixtures).foreach { case ((f, h), t) =>
        assert(f === h, s"w=$w step=$step text=${t.take(20)}")
      }
    }
  }

  test("byte-cursor kernels survive a randomized multibyte sweep") {
    // deterministic LCG strings mixing 1-, 2-, 3- and 4-byte UTF-8
    // characters (incl. surrogate pairs) — the rolling-cursor
    // arithmetic must agree with the HOF chain at every position
    var seed = 1234567L
    def next(): Long = { seed = seed * 6364136223846793005L +
      1442695040888963407L; seed >>> 16 }
    val alphabet = Array("a", "Z", "9", " ", "é", "ü", "世", "界",
      "ॐ", "😀", "🤖") // incl. U+1F600, U+1F916
    val fixtures = (1 to 120).map { _ =>
      val len = (next() % 60).toInt
      (0 until len).map(_ => alphabet((next() % alphabet.length).toInt))
        .mkString
    }
    val df = fixtures.toDF("text")
      .withColumn("hofW", graft.operators.TextOps.winnow("text", 5, 9))
      .selectExpr(
        "graft_char_fps(text, 8, 4) as fusedF",
        "transform(sequence(1, greatest(length(text) - 7, 1), 4), " +
          "i -> graft_hash64(substring(text, i, 8))) as hofF",
        "graft_winnow(text, 5, 9) as fusedW",
        "hofW")
      .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
    df.zip(fixtures).foreach { case ((ff, hf, fw, hw), t) =>
      assert(ff === hf, s"char_fps drift on ${t.take(20)}")
      assert(fw === hw, s"winnow drift on ${t.take(20)}")
    }
  }

  test("fused graft_winnow == the HOF winnow expression") {
    val fixtures = Seq("", "short", "exactly-eleven!", "x" * 11,
      "the quick brown fox jumps over the lazy dog " * 3,
      "aaaaaaaaaaaaaaaaaaaaaaaa", "héllo wörld és ünïcode padding")
    val rows = fixtures.toDF("text")
      .withColumn("fused", expr("graft_winnow(text, 8, 11)"))
      .withColumn("hof", graft.operators.TextOps.winnow("text", 8, 11))
      .as[(String, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (t, f, h) =>
      assert(f === h, s"winnow drift for ${t.take(20)}")
    }
    // guarantee property survives the fusion: docs sharing an 11-char
    // substring share a fingerprint
    val a = "prefix COMMON-SUBSTRING suffix one"
    val b = "other COMMON-SUBSTRING totally different"
    val Seq(fa, fb) = Seq(a, b).toDF("text")
      .select(expr("graft_winnow(text, 8, 11)")).as[Seq[Long]]
      .collect().toSeq
    assert(fa.toSet.intersect(fb.toSet).nonEmpty)
  }

  test("a second Hash64.register on the same session leaves each " +
    "name's lookupFunctionBuilder the same instance") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_hash64", "graft_char_fps", "graft_winnow",
      "graft_sorted_overlap")
    def builders = names.map(n =>
      registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    Hash64.register(spark)
    val first = builders
    assert(first.forall(_.isDefined))
    Hash64.register(spark)
    names.zip(first.zip(builders)).foreach { case (n, (a, b)) =>
      assert(a.get eq b.get, s"$n was registered again")
    }
  }
}
