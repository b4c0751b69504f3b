package graft

import org.apache.spark.sql.functions._

import graft.operators._

class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  test("intervalJoin matches naive non-equi join") {
    val facts = Seq(1.0, 2.5, 3.7, 8.1, 9.9, 15.0).toDF("v")
    val ranges = Seq((1, 2.0, 4.0), (2, 9.0, 16.0), (3, -1.0, 1.5))
      .toDF("id", "lo", "hi")
    val got = RangeJoin.intervalJoin(facts, ranges, "v", "lo", "hi", 4.0)
      .select("id", "v").as[(Int, Double)].collect().sorted
    val want = ranges.crossJoin(facts)
      .where($"v" > $"lo" && $"v" < $"hi")
      .select("id", "v").as[(Int, Double)].collect().sorted
    assert(got.toSeq === want.toSeq)
  }

  test("intervalOverlapJoin matches the naive overlap join exactly " +
    "once per pair, including multi-bucket spans") {
    // intervals spanning 1..5 buckets at width 4, touching bounds,
    // negatives, and identical intervals (duplicate-multiset check)
    val a = Seq((1, -6L, -2L), (2, 0L, 18L), (3, 3L, 3L), (4, 5L, 9L),
      (5, 5L, 9L))
      .toDF("ak", "alo", "ahi")
    val b = Seq((10, -3L, 0L), (11, 4L, 4L), (12, 9L, 20L),
      (13, -100L, 100L), (14, 19L, 19L))
      .toDF("bk", "blo", "bhi")
    val got = RangeJoin.intervalOverlapJoin(
        a, b, "alo", "ahi", "blo", "bhi", bucketWidth = 4.0)
      .select("ak", "bk").as[(Int, Int)].collect().sorted.toSeq
    val want = a.crossJoin(b)
      .where($"alo" <= $"bhi" && $"blo" <= $"ahi")
      .select("ak", "bk").as[(Int, Int)].collect().sorted.toSeq
    assert(got === want)
    assert(got.distinct.size === got.size) // exactly-once, no dedup
  }

  test("asOfLatest picks latest right ts <= left ts per key") {
    val left = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-01 09:00:00"))
      .toDF("k", "s").select($"k", $"s".cast("timestamp").as("ts"))
    val right = Seq((1L, "2024-01-01 09:30:00"), (1L, "2024-01-01 11:00:00"),
      (1L, "2024-01-01 13:00:00"), (3L, "2024-01-01 08:00:00"))
      .toDF("k", "s").select($"k", $"s".cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfLatest(left, right, "k", "ts")
      .select($"k", $"ts".cast("string"), $"__matched_ts".cast("string"))
      .as[(Long, String, Option[String])].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (1L, "2024-01-01 10:00:00", Some("2024-01-01 09:30:00")),
      (1L, "2024-01-01 12:00:00", Some("2024-01-01 11:00:00")),
      (2L, "2024-01-01 09:00:00", None)))
  }

  test("asOfLatest matches equal timestamps") {
    val left = Seq((1L, "2024-01-01 10:00:00")).toDF("k", "s")
      .select($"k", $"s".cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfLatest(left, left, "k", "ts")
    assert(out.where($"__matched_ts".isNotNull).count() === 1)
  }

  test("asOfNext picks the earliest right ts >= left, equal ts included") {
    val left = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-01 09:00:00"))
      .toDF("k", "s").select($"k", $"s".cast("timestamp").as("ts"))
    val right = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 11:00:00"),
      (3L, "2024-01-01 08:00:00"))
      .toDF("k", "s").select($"k", $"s".cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfNext(left, right, "k", "ts")
      .select($"k", $"ts".cast("string"), $"__matched_ts".cast("string"))
      .as[(Long, String, Option[String])].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      // equal-ts right row IS a forward match
      (1L, "2024-01-01 10:00:00", Some("2024-01-01 10:00:00")),
      // nothing after 12:00 for key 1
      (1L, "2024-01-01 12:00:00", None),
      (2L, "2024-01-01 09:00:00", None)))
  }

  test("weightedSample: deterministic, right size, favors heavy weights") {
    val df = (1 to 1000).toDF("id")
      .withColumn("w", when($"id" <= 100, 1000.0).otherwise(0.001))
    val sample = Sampling.weightedSample(df, $"w", $"id", 50)
    val ids = sample.select("id").as[Int].collect().toSet
    assert(ids.size === 50)
    // weight ratio 10^6: essentially all draws land in the heavy block
    assert(ids.count(_ <= 100) >= 45)
  }

  test("sessionize agrees with Spark's native session_window over the " +
    "real events table") {
    // Independent implementations of the same gap rule: our
    // window-lag sessionizer (new session when gap > g) vs Spark's
    // built-in session_window (half-open [start, last+g) — new
    // session when gap >= g). The rules differ only at EXACTLY g,
    // measure-zero for µs-random data, so per-user session counts
    // must agree on the driver's events table — two codebases
    // cross-checking each other.
    val ev = Tables.load(spark, sf, "events")
    val ours = Sessionize
      .sessionize(ev, "user_id", "ts", 3600, Seq("event_id"))
      .groupBy("user_id")
      .agg(max("session_id").as("n"))
      .as[(Long, Long)].collect().toMap
    val native = ev
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .count()
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(ours.nonEmpty)
    assert(ours === native)
  }

  test("stratifiedSample: exact quota per stratum, small groups whole, " +
    "deterministic") {
    val df = ((1 to 100).map(i => (i, "big")) ++
        Seq((201, "tiny"), (202, "tiny")))
      .toDF("id", "g").withColumn("w", lit(1.0))
    val s1 = Sampling.stratifiedSample(df, $"g", $"w", $"id", 10)
    val byG = s1.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG === Map("big" -> 10L, "tiny" -> 2L))
    // pure function of keys: a re-run and a repartition draw the same
    val s2 = Sampling.stratifiedSample(df.repartition(7), $"g", $"w",
      $"id", 10)
    assert(s1.select("id").as[Int].collect().sorted.toSeq ===
      s2.select("id").as[Int].collect().sorted.toSeq)
  }

  test("bipartiteClosure computes the reachable component") {
    // parts 1-2-3 connected through orders 10,20; part 9/order 90 separate
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L), (9L, 90L))
      .toDF("a", "b")
    val seeds = Seq(1L).toDF("a")
    val (as, bs) = GraphClosure.bipartiteClosure(edges, "a", "b", seeds)
    assert(as.as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(bs.as[Long].collect().toSet === Set(10L, 20L))
    // distributed path (gate forced off) must agree with the local path
    val (ad, bd) = withConf(LocalGate.key, "false")(
      GraphClosure.bipartiteClosure(edges, "a", "b", seeds))
    assert(ad.as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(bd.as[Long].collect().toSet === Set(10L, 20L))
  }

  test("bandKeys partitions the sketch into disjoint per-band keys") {
    // sketch 0xABCD: band i (4 bits each) must yield key i*16 + nibble i
    val df = Seq(0xABCDL).toDF("sketch")
      .select(explode(VectorOps.bandKeys("sketch", 4, 4)).as("k"))
    assert(df.as[Long].collect().toSeq ===
      Seq(0 * 16 + 0xD, 1 * 16 + 0xC, 2 * 16 + 0xB, 3 * 16 + 0xA))
    // rows agreeing on any one band collide on exactly that key
    val a = Seq(0x00F1L, 0x23F4L).toDF("sketch")
      .select(explode(VectorOps.bandKeys("sketch", 4, 4)).as("k"))
      .as[Long].collect()
    assert(a.toSeq.groupBy(identity).count(_._2.length == 2) === 1)
  }

  test("suggestedBandBits grows with table size, clamped to [4,15]") {
    assert(VectorOps.suggestedBandBits(500) === 4)
    assert(VectorOps.suggestedBandBits(2000) === 5)
    assert(VectorOps.suggestedBandBits(1000000) === 14)
    assert(VectorOps.suggestedBandBits(1L << 40) === 15) // cap
    assert(VectorOps.suggestedBandBits(1) === 4)         // floor
  }

  test("quantileBuckets: sketch deciles are monotone, balanced, and " +
    "match the exact cume_dist window away from bucket edges") {
    val rows = for (g <- Seq("en", "fr"); i <- 1 to 500)
      yield (g, i.toLong, (i * 7919 % 1000) / 1000.0)
    val df = rows.toDF("lang", "id", "v")
    val got = Quantiles.quantileBuckets(df, "lang", "v",
      buckets = 10, accuracy = 100000)
    assert(got.count() === 1000) // every row keeps exactly one bucket
    // buckets are monotone in value within each group
    val viol = got.as("a").join(got.as("b"),
      col("a.lang") === col("b.lang") && col("a.v") < col("b.v") &&
        col("a.bucket") > col("b.bucket")).count()
    assert(viol === 0)
    // near-exact balance: 500 distinct values/group -> ~50 per decile
    val sizes = got.groupBy("lang", "bucket").count()
      .select("count").as[Long].collect()
    assert(sizes.forall(n => n >= 45 && n <= 55), sizes.mkString(","))
    // parity with the exact window path away from the edges: only rows
    // within 2 ranks of a 50-rank decile edge may differ (GK edge
    // placement), everything else must match the exact decile
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("v"), col("id"))
    val exact = df
      .withColumn("rnk", row_number().over(w))
      .withColumn("exact_decile",
        least(ceil(cume_dist().over(w) * 10) - 1, lit(9L)).cast("long"))
    val offEdge = exact.join(got, Seq("lang", "id", "v"))
      .withColumn("edge_dist",
        least(pmod(col("rnk"), lit(50)), lit(50) - pmod(col("rnk"), lit(50))))
      .where(col("edge_dist") > 2)
    assert(offEdge.where(col("exact_decile") =!= col("bucket")).count()
      === 0)
    // null values rank nowhere: null bucket, row preserved
    val withNull = Seq(("en", 1L, Some(0.5)), ("en", 2L, None))
      .toDF("lang", "id", "v")
    val g2 = Quantiles.quantileBuckets(withNull, "lang", "v", buckets = 2)
      .select("id", "bucket").as[(Long, Option[Long])].collect().toMap
    assert(g2(1L).isDefined && g2(2L).isEmpty)
  }

  test("suggestedCentroids is sqrt-of-n capped — never linear in n") {
    assert(VectorOps.suggestedCentroids(500) === 23)
    assert(VectorOps.suggestedCentroids(2000) === 45)
    assert(VectorOps.suggestedCentroids(1000000) === 1000)
    assert(VectorOps.suggestedCentroids(1L << 40) === 4096) // cap
    assert(VectorOps.suggestedCentroids(1) === 2)           // floor
    // the broadcast stays bounded: 1000x the corpus, same k at cap
    assert(VectorOps.suggestedCentroids(1L << 50) ===
      VectorOps.suggestedCentroids(1L << 40))
  }

  test("saltedAgg equals plain groupBy on a skewed key distribution") {
    // hot key "h" holds 90% of rows; verify exactness of every combine
    val rows = (1 to 900).map(i => ("h", i.toLong)) ++
      (1 to 50).map(i => ("a", i.toLong)) ++
      (1 to 50).map(i => ("b", (i + 1000).toLong))
    val df = rows.toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(sum("v").as("v_sum"), count("v").as("v_cnt"),
        min("v").as("v_min"), max("v").as("v_max"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val salted = Skew.saltedAgg(
        df.withColumn("v_sum", $"v").withColumn("v_cnt", $"v")
          .withColumn("v_min", $"v").withColumn("v_max", $"v"),
        Seq("k"),
        Map("v_sum" -> "sum", "v_cnt" -> "count",
          "v_min" -> "min", "v_max" -> "max"), salts = 8)
      .select("k", "v_sum", "v_cnt", "v_min", "v_max")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(salted === plain)
    // the partial phase genuinely spreads the hot key across sub-keys —
    // including the worst case of IDENTICAL duplicate rows, which a
    // row-content-only salt would collapse into one bucket
    val dup = Seq.fill(1000)(("h", 1L)).toDF("k", "v")
    val dupAgg = Skew.saltedAgg(
        dup.withColumn("v_cnt", $"v").withColumn("v_sum", $"v"),
        Seq("k"), Map("v_cnt" -> "count", "v_sum" -> "sum"), salts = 8)
      .select("v_cnt", "v_sum").as[(Long, Long)].collect().head
    assert(dupAgg === ((1000L, 1000L)))
    val spread = dup.withColumn("__salt",
        pmod(xxhash64(col("k"), col("v"),
          monotonically_increasing_id()), lit(8L)))
      .select("__salt").distinct().count()
    assert(spread > 1)
    // passthrough columns of unhashable types (xxhash64 rejects MapType)
    // must not break the salt: only key + value columns are hashed
    val withMap = df.withColumn("v_sum", $"v")
      .withColumn("meta", map(lit("src"), $"k"))
    val mapAgg = Skew.saltedAgg(withMap, Seq("k"),
        Map("v_sum" -> "sum"), salts = 8)
      .select("k", "v_sum").as[(String, Long)].collect().toMap
    assert(mapAgg("h") === (1 to 900).map(_.toLong).sum)
    // an input that already carries __salt is rejected, not clobbered
    val boom = intercept[IllegalArgumentException] {
      Skew.saltedAgg(df.withColumn("__salt", lit(0)), Seq("k"),
        Map("v" -> "sum"))
    }
    assert(boom.getMessage.contains("__salt"))
  }

  test("connected components by group: local and distributed paths agree " +
    "on a multi-hop chain") {
    // chain 1-2-3-4 via three overlapping groups (needs >1 propagation
    // round), a separate pair, and a singleton
    val m = Seq((1L, "g1"), (2L, "g1"), (2L, "g2"), (3L, "g2"),
      (3L, "g3"), (4L, "g3"), (10L, "h"), (11L, "h"), (20L, "z"))
      .toDF("node", "grp")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    val local = ConnectedComponents.byGroup(m, "node", "grp")
      .as[(Long, Long)].collect().toMap
    assert(local === expect)
    val dist = withConf(LocalGate.key, "false")(
        ConnectedComponents.byGroup(m, "node", "grp"))
      .as[(Long, Long)].collect().toMap
    assert(dist === expect)
    // string node ids order lexicographically in both paths
    val sm = Seq(("b", "g"), ("a", "g"), ("c", "g2"), ("b", "g2"))
      .toDF("node", "grp")
    val sLocal = ConnectedComponents.byGroup(sm, "node", "grp")
      .as[(String, String)].collect().toMap
    val sDist = withConf(LocalGate.key, "false")(
        ConnectedComponents.byGroup(sm, "node", "grp"))
      .as[(String, String)].collect().toMap
    assert(sLocal === Map("a" -> "a", "b" -> "a", "c" -> "a"))
    assert(sDist === sLocal)
    // empty membership: empty result with the right schema, no crash
    val none = ConnectedComponents.byGroup(
      Seq.empty[(Long, String)].toDF("node", "grp"), "node", "grp")
    assert(none.columns.toSeq === Seq("node", "component"))
    assert(none.isEmpty)
    // null node/group rows are dropped on BOTH paths (a null group is
    // "no membership", a null node is not a node): without the filter
    // the local HashMap would glue all null-group nodes into one bogus
    // component while the distributed equi-joins leave them singletons
    val withNulls = Seq(
      (java.lang.Long.valueOf(1L), "g1"),
      (java.lang.Long.valueOf(2L), "g1"),
      (java.lang.Long.valueOf(7L), null),
      (java.lang.Long.valueOf(8L), null),
      (null.asInstanceOf[java.lang.Long], "g9"))
      .toDF("node", "grp")
    val expectNulls = Map(1L -> 1L, 2L -> 1L)
    val nLocal = ConnectedComponents.byGroup(withNulls, "node", "grp")
      .as[(Long, Long)].collect().toMap
    val nDist = withConf(LocalGate.key, "false")(
        ConnectedComponents.byGroup(withNulls, "node", "grp"))
      .as[(Long, Long)].collect().toMap
    assert(nLocal === expectNulls)
    assert(nDist === expectNulls)
  }

  test("bandedDocs passes conflicting input columns through untouched") {
    val docs = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog", "keepme", 7),
      ("d2", "the quick brown fox jumps over the lazy dog", "keepme2", 8))
      .toDF("doc_id", "text", "sig", "toks")
    val out = TextOps.bandedDocs(docs, "text")
    // user columns named like the old internals survive with their values
    assert(out.columns.sorted.toSeq ===
      Seq("band_key", "doc_id", "sig", "text", "toks"))
    assert(out.select("sig").distinct().as[String].collect().sorted
      === Array("keepme", "keepme2"))
    // identical texts share every band key
    val perDoc = out.groupBy("doc_id")
      .agg(sort_array(collect_list("band_key")).as("ks"))
      .select("ks").as[Seq[String]].collect()
    assert(perDoc(0) === perDoc(1))
    val boom = intercept[IllegalArgumentException] {
      TextOps.bandedDocs(docs.withColumn("band_key", lit("x")), "text")
    }
    assert(boom.getMessage.contains("band_key"))
  }

  test("savePartitioned: one directory per value, pruned reads, honest " +
    "manifest") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val dir = java.nio.file.Files.createTempDirectory("docsink").toString
    val manifest = DocumentSink.savePartitioned(docs, dir)
      .as[(String, Long)].collect().toMap
    val want = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(manifest === want)
    // partition pruning: the lang filter must resolve at directory
    // level, not as a row-level data filter after a full scan
    val one = DocumentSink.readPartition(spark, dir, "lang", "en")
    assert(one.count() === want("en"))
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"lang filter did not prune partitions:\n$scan")
  }

  test("savePartitioned spreads a hot partition value over multiple " +
    "files (no single-task straggler) with an unchanged manifest") {
    // one dominant lang (en = 90%) — the 100 TB skew shape
    val docs = (1 to 1000).map { i =>
      (i.toLong, if (i % 10 == 0) "fr" else "en", s"text $i")
    }.toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("docsink2").toString
    val manifest = DocumentSink.savePartitioned(
        docs, dir, numTasks = 8)
      .as[(String, Long)].collect().toMap
    assert(manifest === Map("en" -> 900L, "fr" -> 100L))
    val enFiles = new java.io.File(s"$dir/lang=en")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(enFiles > 1,
      s"hot partition value wrote $enFiles file(s) — straggler layout")
    // pruned read still returns exactly the partition's rows
    assert(DocumentSink.readPartition(spark, dir, "lang", "en").count()
      === 900L)
  }

  test("saltedJoin equals the plain join and spreads the hot key") {
    val big = ((1 to 900).map(i => ("h", i)) ++
      (1 to 50).map(i => ("a", i)) ++ (1 to 20).map(i => ("z", i)))
      .toDF("k", "v")
    val small = Seq(("h", "hot"), ("a", "cold"), ("m", "miss"))
      .toDF("k", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "label").as[(String, Int, String)].collect()
        .toSeq.sorted
    assert(rows(Skew.saltedJoin(big, small, Seq("k"), salts = 8)) ===
      rows(big.join(small, Seq("k"))))
    assert(rows(Skew.saltedJoin(big, small, Seq("k"), "left", 8)
        .na.fill("null", Seq("label"))) ===
      rows(big.join(small, Seq("k"), "left")
        .na.fill("null", Seq("label"))))
    // semi/anti keep big-side semantics
    assert(Skew.saltedJoin(big, small, Seq("k"), "left_anti", 8).count()
      === big.join(small, Seq("k"), "left_anti").count())
    // right/full decompose into salted-inner + anti-recovered rows;
    // equality vs the plain join covers matched multiplicity AND the
    // exactly-once survival of unmatched rows on each side
    def rowsN(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "label")
        .na.fill(-1, Seq("v")).na.fill("null", Seq("label"))
        .as[(String, Int, String)].collect().toSeq.sorted
    assert(rowsN(Skew.saltedJoin(big, small, Seq("k"), "right", 8)) ===
      rowsN(big.join(small, Seq("k"), "right")))
    assert(rowsN(Skew.saltedJoin(big, small, Seq("k"), "full_outer", 8)) ===
      rowsN(big.join(small, Seq("k"), "full_outer")))
    // the hot key genuinely occupies several salt sub-keys
    val spread = big.where($"k" === "h")
      .withColumn("__salt", pmod(xxhash64(monotonically_increasing_id()),
        lit(8L)))
      .select("__salt").distinct().count()
    assert(spread > 1)
    // colliding non-key names cannot build the null-extension by name
    val boom = intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, big, Seq("k"), "right")
    }
    assert(boom.getMessage.contains("must be disjoint"))
  }

  test("simhashCompiled is bit-identical to the simhash expression") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "a a a b b c", "one-token")
    val df = texts.toDF("text").withColumn("t", TextOps.tokens("text"))
    for (bits <- Seq(16, 32)) {
      val diff = df
        .withColumn("e", TextOps.simhash("t", bits))
        .withColumn("c", TextOps.simhashCompiled(bits)(col("t")))
        .where(col("e") =!= col("c")).count()
      assert(diff === 0L, s"bits=$bits")
    }
    // null propagation matches the expression twins: null in, null out
    // (the expression simhash of a null array is null; tokens() of a
    // null text is null)
    val nulls = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .withColumn("t", TextOps.tokens("text"))
    val r = nulls
      .withColumn("c", TextOps.simhashCompiled(32)(col("t")))
      .withColumn("ss", TextOps.shinglesAndSignature(3, 9)(col("text")))
      .select(col("c").isNull, col("ss").isNull).as[(Boolean, Boolean)]
      .head()
    assert(r === ((true, true)))
  }

  test("topTokenCountCompiled equals the array-expression form") {
    val texts = Seq(
      "the quick brown fox the quick the",
      "a a a a a",
      "unique tokens only here",
      "x")
    val df = texts.toDF("text").withColumn("t", TextOps.tokens("text"))
    val diff = df
      .withColumn("e", expr("array_max(transform(array_distinct(t), " +
        "x -> cast(size(filter(t, y -> y = x)) as bigint)))"))
      .withColumn("c", TextOps.topTokenCountCompiled()(col("t")))
      .where(col("e") =!= col("c")).count()
    assert(diff === 0L)
    // null tokens -> null count
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .withColumn("t", TextOps.tokens("text"))
      .select(TextOps.topTokenCountCompiled()(col("t")).isNull)
      .as[Boolean].head()
    assert(n)
  }

  test("winnowCompiled is bit-identical to the winnow expression") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog at dawn today",
      "pack my box with five dozen liquor jugs",
      "aaaaaaaaaaaaaaaa", // degenerate: one repeated gram hash
      "exactly11ch", // length == t: exactly one window
      "tooshort", // length in [k, t): grams exist, no window
      "tiny") // length < k: no grams at all
    val df = texts.toDF("text")
    val diff = df
      .withColumn("e", TextOps.winnow("text", k = 8, t = 11))
      .withColumn("c", TextOps.winnowCompiled(8, 11)(col("text")))
      .where(col("e") =!= col("c")).count()
    assert(diff === 0L)
    // null text: the HOF expression's null guard lands in the else
    // branch (empty array); the fused kernel propagates SQL NULL —
    // consumers treat the two alike (explode drops the row,
    // size(null) > 0 is not true)
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .withColumn("e", TextOps.winnow("text", k = 8, t = 11))
      .withColumn("c", TextOps.winnowCompiled(8, 11)(col("text")))
      .selectExpr("size(e)", "c is null", "size(c) > 0")
      .as[(Int, Boolean, Option[Boolean])].head()
    assert(n === ((0, true, None)))
  }

  test("winnowPositionsCompiled is bit-identical to the positional " +
    "winnow expression, and each pair's fp hashes its own gram") {
    // real corpus text plus the same edge shapes as the winnow parity
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(40)
    val edges = Seq(
      "aaaaaaaaaaaaaaaa", // duplicate min VALUES: leftmost-min tie rule
      "exactly11ch", "tooshort", "tiny").toDF("text")
    val df = real.union(edges)
      .withColumn("e", TextOps.winnowPositions("text", k = 8, t = 11))
      .withColumn("c", TextOps.winnowPositionsCompiled(8, 11)(col("text")))
    // positions agree exactly (same selection AND same dedup order)
    assert(df.where(expr("transform(c, p -> p._1) != e")).count() === 0L)
    // every compiled pair's fp is the hash of the gram at its position
    val badFp = df
      .select(explode(col("c")).as("p"), col("text"))
      .where(expr("p._2 != " +
        TextOps.hash64("substring(text, p._1, 8)")))
      .count()
    assert(badFp === 0L)
    // null text: empty pairs, matching the expression's empty array
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .withColumn("e", TextOps.winnowPositions("text", k = 8, t = 11))
      .withColumn("c", TextOps.winnowPositionsCompiled(8, 11)(col("text")))
      .selectExpr("size(e)", "size(c)").as[(Int, Int)].head()
    assert(n === ((0, 0)))
  }

  test("runningTotal (two-phase scan) matches the window cumsum, " +
    "including groups spanning partition boundaries") {
    // hot group of 400 rows forced across 4 range partitions
    val rows = for (g <- Seq("a", "b", "hot");
        i <- 1 to (if (g == "hot") 400 else 50))
      yield (g, i.toLong, ((i * 13) % 7 + 1).toLong)
    val df = rows.toDF("g", "o", "v")
    val got = PrefixSum.runningTotal(df, "g", "o", "v",
        numPartitions = 4)
      .select("g", "o", "cum_before").as[(String, Long, Long)]
      .collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("o")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val want = df
      .withColumn("cum_before", coalesce(sum("v").over(w), lit(0L)))
      .select("g", "o", "cum_before").as[(String, Long, Long)]
      .collect().toSet
    assert(got === want)
    assert(got.size === 500)
    // stress the boundary-only phase-1 collection: 50 groups whose
    // rows land arbitrarily against partition boundaries, at both a
    // coarse and a finer-than-the-data partitioning (empty partitions)
    val many = (for (g <- 1 to 50; i <- 1 to 10)
      yield (f"g$g%02d", i.toLong, (g * i % 5 + 1).toLong))
      .toDF("g", "o", "v")
    val wantMany = many
      .withColumn("cum_before", coalesce(sum("v").over(w), lit(0L)))
      .select("g", "o", "cum_before").as[(String, Long, Long)]
      .collect().toSet
    for (p <- Seq(8, 64)) {
      val gotMany = PrefixSum.runningTotal(many, "g", "o", "v",
          numPartitions = p)
        .select("g", "o", "cum_before").as[(String, Long, Long)]
        .collect().toSet
      assert(gotMany === wantMany, s"numPartitions=$p")
    }
    val boom = intercept[IllegalArgumentException] {
      PrefixSum.runningTotal(
        df.withColumn("cum_before", lit(0L)), "g", "o", "v")
    }
    assert(boom.getMessage.contains("cum_before"))
  }

  test("withDenseRank matches the global row_number window on a " +
    "composite desc/asc order, dense 1..n at any partitioning") {
    val df = (1 to 500)
      .map(i => (i.toLong, (i * 37 % 100).toLong, s"k$i"))
      .toDF("id", "score", "key")
    val order = Seq(col("score").desc, col("key").asc)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("key").asc)
    val want = df.withColumn("rk", row_number().over(w).cast("long"))
      .select("id", "rk").as[(Long, Long)].collect().toSet
    for (p <- Seq(0, 3, 64)) {
      val got = DenseIds.withDenseRank(df, order, numPartitions = p)
        .select(col("id"), col("__rank")).as[(Long, Long)]
        .collect().toSet
      assert(got === want, s"numPartitions=$p")
    }
    // dense: exactly 1..n
    val ranks = DenseIds.withDenseRank(df, Seq(col("id")))
      .select("__rank").as[Long].collect().sorted.toSeq
    assert(ranks === (1L to 500L))
    // empty input stays empty, collision on outCol fails loudly
    assert(DenseIds.withDenseRank(df.limit(0), Seq(col("id")))
      .count() === 0L)
    val boom = intercept[IllegalArgumentException] {
      DenseIds.withDenseRank(df.withColumn("__rank", lit(1L)),
        Seq(col("id")))
    }
    assert(boom.getMessage.contains("__rank"))
  }

  test("product quantizer: codes bounded by the codebook, sampled " +
    "members self-encode at distance 0, ADC is exact on codebook hits") {
    // 16-dim vectors, m=4 subspaces x 4 dims, k=4 codebook entries
    // 23 invertible mod 101 -> all 20 vectors (and all their
    // subvectors) pairwise distinct: no accidental codebook collisions
    val vecs = (1L to 20L).map(i =>
      (i, (0 until 16).map(d => ((i * 23 + d * 3) % 101) - 50L)))
      .toDF("vec_id", "qe")
    val cb = ProductQuantizer.codebook(vecs, m = 4, subLen = 4, k = 4)
      .localCheckpoint()
    val cbRows = cb.select("j", "cidx").as[(Int, Int)].collect()
    assert(cbRows.length === 16) // 4 subspaces x 4 entries
    assert(cbRows.forall { case (j, c) => j >= 0 && j < 4 && c >= 0 && c < 4 })
    val codes = ProductQuantizer.encode(vecs, cb, m = 4, subLen = 4)
    assert(codes.count() === 80) // 20 vectors x 4 subspaces
    assert(codes.where(col("code") < 0 || col("code") >= 4).count() === 0)
    // which vec_ids got sampled into the codebook?
    val sampleIds = ProductQuantizer.codebook(vecs, 4, 4, 4)
      .join(vecs.select(col("vec_id"),
        explode(expr("sequence(0, 3)")).as("j"),
        expr("slice(qe, j * 4 + 1, 4)").as("cvec")), Seq("j", "cvec"))
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(sampleIds.size === 4)
    // a sampled member queries itself: every subspace hits its own
    // subvector (dist 0) -> ADC distance exactly 0
    val qid = sampleIds.min
    val q = vecs.where(col("vec_id") === qid)
      .select(col("vec_id").as("query_id"), col("qe"))
    val ad = ProductQuantizer.adcScore(q, codes, cb, m = 4, subLen = 4)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(ad(qid) === 0L)
    // ADC against ANOTHER codebook member x is the exact decomposed
    // distance sum_j ||q_j - x_j||^2 (x's codes are its own subvectors)
    val other = (sampleIds - qid).min
    val byId = vecs.as[(Long, Seq[Long])].collect().toMap
    val exact = (0 until 16).map { d =>
      val diff = byId(qid)(d) - byId(other)(d); diff * diff
    }.sum
    assert(ad(other) === exact)
    // one Lloyd round: refined codebook keeps the (j, code) keyspace
    // bounded, subvector width intact, and is deterministic
    val cb1 = ProductQuantizer.refineCodebook(vecs, codes, m = 4,
      subLen = 4).localCheckpoint()
    val rows1 = cb1.select("j", "cidx", "cvec")
      .as[(Int, Int, Seq[Long])].collect()
    assert(rows1.nonEmpty && rows1.length <= 16)
    assert(rows1.forall { case (j, c, v) =>
      j >= 0 && j < 4 && c >= 0 && c < 4 && v.length === 4 })
    val again = ProductQuantizer.refineCodebook(vecs, codes, m = 4,
      subLen = 4).select("j", "cidx", "cvec")
      .as[(Int, Int, Seq[Long])].collect()
    assert(rows1.sortBy(r => (r._1, r._2)).toSeq ===
      again.sortBy(r => (r._1, r._2)).toSeq)
    // Lloyd monotonicity on the grid: total quantization error after
    // refine + re-encode does not exceed the original (the fixture's
    // sums are far from the 0.5-rounding edge)
    def totalErr(cbX: org.apache.spark.sql.DataFrame): Long = {
      val cds = ProductQuantizer.encode(vecs, cbX, m = 4, subLen = 4)
      vecs.select(col("vec_id"),
          explode(expr("sequence(0, 3)")).as("j"), col("qe"))
        .select(col("vec_id"), col("j"),
          expr("slice(qe, j * 4 + 1, 4)").as("svec"))
        .withColumn("snorm", graft.operators.VectorOps.normSq("svec"))
        .join(cds, Seq("vec_id", "j"))
        .join(cbX.withColumnRenamed("cidx", "code"), Seq("j", "code"))
        .withColumn("dist", col("snorm") + col("cnorm") -
          lit(2L) * graft.operators.VectorOps.dot("svec", "cvec"))
        .agg(sum("dist")).head.getLong(0)
    }
    assert(totalErr(cb1) <= totalErr(cb))
  }

  test("removeSpans cuts k-gram spans: overlap merges, boundary clips, " +
    "null/empty pass through") {
    // 16-char doc, k=8; positions are 1-based starts of 8-char spans
    val rows = Seq(
      ("abcdefghijklmnop", Some(Seq(1, 3)), "klmnop"), // overlap -> 1..10
      ("abcdefghijklmnop", Some(Seq(9)), "abcdefgh"), // tail span
      ("abcdefghijklmnop", Some(Seq(1, 9)), ""), // adjacent covers all
      ("abcdefghijklmnop", Some(Seq(1, 11)), "ij"), // gap keeps middle
      ("abcdefghijklmnop", Some(Seq(11)), "abcdefghij"), // clip past end
      ("abcdefghijklmnop", Some(Seq.empty[Int]), "abcdefghijklmnop"),
      ("abcdefghijklmnop", None, "abcdefghijklmnop")) // null ps
    val got = rows.map { case (t, ps, _) => (t, ps.orNull) }
      .toDF("text", "ps")
      .withColumn("cleaned", TextOps.removeSpans("text", "ps", 8))
      .select("cleaned").as[String].collect()
    assert(got.toSeq === rows.map(_._3))
  }

  test("sessionize splits on gap") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "s")
      .select($"user_id", $"s".cast("timestamp").as("ts"))
    val out = Sessionize.sessionize(ev, "user_id", "ts", 3600)
      .groupBy("user_id").agg(max("session_id").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 2L -> 1L))
  }
}
