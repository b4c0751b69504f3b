package pickbench

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._


import graft.chem.Chem
import graft.pickaxe._
import Main.{Ctx, PassOut, Workload, deleteTree, secondsSince, treeBytes}

/** Public fixture chemistry of the reference test data: ATP/ADP and the
  * explicit-H phosphorylation rule 2.7.1.a.
  */
object Fixtures {
  val atp = "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)OP(=O)" +
    "(O)O)[C@@H](O)[C@H]1O"
  val adp = "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)O)" +
    "[C@@H](O)[C@H]1O"
  val phosphorylation = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6]" +
    "[#8;H0D2:5][#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  lazy val coreactants: Seq[CoreactantRow] = PickaxeEngine.parseCoreactants(
    Seq(s"ATP\tATP\t$atp", s"ADP\tADP\t$adp"))
  lazy val rules: Seq[RuleRow] = PickaxeEngine.parseRules(
    Seq(s"2.7.1.a\tATP;Any\t$phosphorylation\tAny;ADP\t-"), coreactants)
  def coreMap: Map[String, (String, String)] =
    coreactants.map(c => c.name -> (c.smiles, c._id)).toMap

  def engine(ctx: Ctx): PickaxeEngine =
    new PickaxeEngine(ctx.spark, rules, coreactants, explicitH = true)
}

/** Driver-side replay of `RuleKernel.applyAll`: the kernel layer timed
  * without Spark, and the oracle the engine's networks are checked against.
  */
object Kernel {
  final case class Gen(frontier: Int, cpuNs: Long, attempts: Long,
      predicted: Seq[RuleKernel.Predicted])

  /** applyAll with the fixture rule over one frontier, on `threads`
    * threads; cpuNs sums the per-compound call times.
    */
  def replay(frontier: Seq[(String, String)], threads: Int): Gen = {
    val rules = Fixtures.rules
    val core = Fixtures.coreMap
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = frontier.map { case (id, smi) =>
        pool.submit(new Callable[(Long, Seq[RuleKernel.Predicted])] {
          def call() = {
            val t0 = System.nanoTime()
            val out = RuleKernel.applyAll(id, smi, rules, core,
              explicitH = true)
            (System.nanoTime() - t0, out)
          }
        })
      }
      val res = futures.map(_.get())
      Gen(frontier.size, res.map(_._1).sum,
        frontier.size.toLong * rules.size, res.flatMap(_._2))
    } finally pool.shutdown()
  }

  /** Breadth-first expansion of `seeds` by the kernel alone: the compound
    * and reaction id sets the engine must reproduce.
    */
  def bfs(seeds: Seq[String], gens: Int, threads: Int)
      : (Set[String], Set[String], Seq[Gen]) = {
    val start = seeds.flatMap(Chem.standardize(_)).filter(Chem.isOrganic)
      .distinct.map(s => Chem.compoundHash(s, 'C') -> s).distinctBy(_._1)
    var known = start.map(_._1).toSet ++ Fixtures.coreactants.map(_._id)
    var rxns = Set.empty[String]
    var frontier = start
    val perGen = (0 until gens).map { _ =>
      val g = replay(frontier, threads)
      rxns ++= g.predicted.map(_.rxnId)
      val fresh = g.predicted.flatMap(_.productSmiles).distinctBy(_._1)
        .filterNot(p => known(p._1))
      known ++= fresh.map(_._1)
      frontier = fresh
      g
    }
    (known, rxns, perGen)
  }

  /** The network `PickaxeEngine.pruneToTargets` keeps: reactions on a
    * production path to a target, their compound members, the targets
    * and the coreactants (compound ids, reaction ids).
    */
  def pruned(gens: Seq[Gen], targets: Seq[String]): (Set[String], Set[String]) = {
    val rxns = gens.flatMap(_.predicted).map(p => p.rxnId -> p).toMap
    val producedBy = rxns.values.toSeq
      .flatMap(p => p.products.map(_.c_id -> p.rxnId))
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val keepC = collection.mutable.Set[String](targets: _*)
    val keepR = collection.mutable.Set.empty[String]
    val queue = collection.mutable.Queue[String](targets: _*)
    while (queue.nonEmpty)
      producedBy.getOrElse(queue.dequeue(), Nil).foreach { r =>
        if (keepR.add(r))
          rxns(r).reactants.map(_.c_id).filter(_.startsWith("C"))
            .foreach(c => if (keepC.add(c)) queue.enqueue(c))
      }
    val members = keepR.flatMap(r =>
      (rxns(r).reactants ++ rxns(r).products).map(_.c_id))
      .filter(_.startsWith("C"))
    (keepC.toSet ++ members ++ Fixtures.coreactants.map(_._id), keepR.toSet)
  }

  /** Kernel-layer counters of one generation (traced passes only). */
  def record(ctx: Ctx, g: Gen, newCpds: Long): Unit = {
    ctx.add("kernel.cpu_s", g.cpuNs / 1e9)
    ctx.add("kernel.frontier", g.frontier)
    ctx.add("kernel.attempts", g.attempts.toDouble)
    ctx.add("kernel.emitted", g.predicted.size)
    ctx.add("kernel.products", g.predicted.map(_.productSmiles.size).sum)
    ctx.add("engine.new_cpds", newCpds.toDouble)
  }
}

/** Pickaxe end to end, one pass per seeded batch: expand 16 generated
  * chains two generations with rule 2.7.1.a, run a permissive ThermoFilter
  * pass, prune to three generation-2 compounds with dense ids, save the
  * MINE with MineSink, then serve two peak-list requests against the saved
  * core compounds (adductSearch + peakStats; the first also ms2Search).
  * The network, the prune and the ids are checked against a driver-side
  * kernel BFS, the requests against a scan of the saved catalog.
  */
final class ExpandQuery(ctx: Ctx) extends Workload {
  import Mass._
  private val RequestsPerPass = 2
  private val tol = 0.002
  private val batches = ctx.lines("seeds.tsv").map(_.split("\t"))
    .groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(_(1)).toSeq)
  private val stored = ctx.lines("spectra.tsv")
    .map(l => parseSpectrum(l.split("\t")(1))).toIndexedSeq
  private val specs = ctx.lines("requests.tsv").map(_.split("\t"))
    .groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.toSeq).toIndexedSeq
  private val thermo = ThermoFilter(dgMax = 1e7) // scores all, deletes none
  private var engine: PickaxeEngine = _

  def setup(): Unit = {
    engine = Fixtures.engine(ctx)
    // the starting compounds of every batch pass standardization once
    val all = batches.flatten
    val t0 = System.nanoTime()
    val std = all.map(s => Chem.standardize(s).map(Chem.compoundHash(_, 'C')))
    ctx.layer("chem.standardize_us") = (System.nanoTime() - t0) / 1e3 / all.size
    if (std.exists(_.isEmpty)) sys.error("a generated seed did not standardize")
  }

  def pass(i: Int): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    // the last batches (and their requests) are the warm-up's
    val b = if (i < 0) batches.size + i
      else i % (batches.size - Main.WarmupPasses)
    val batch = batches(b)
    val dir = ctx.work.resolve(s"mine-$i")
    var wall = 0.0
    def timed[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally wall += secondsSince(t0)
    }
    val st = timed {
      val st0 = ctx.span("initialState")(engine.initialState(batch))
      val st1 = ctx.span("expandOnce")(engine.expandOnce(st0))
      val st2 = ctx.span("expandOnce")(engine.expandOnce(st1))
      ctx.span("applyFilters")(engine.applyFilters(st2, Seq(thermo)))
    }
    val cpds = st.compounds.select("_id", "Generation", "SMILES")
      .as[(String, Int, String)].collect()
    // prune targets: three generation-2 compounds, picked from the result
    val targets = cpds.filter(_._2 == 2).sortBy(_._1).take(3)
    val (keptC, keptR) = timed {
      val pruned = ctx.span("pruneToTargets")(
        engine.pruneToTargets(st, targets.map(_._3).toSeq))
      ctx.span("assignIds") {
        val ided = engine.assignIds(pruned)
        (ided.compounds.select("_id", "ID").as[(String, String)].collect(),
          ided.reactions.select("_id", "ID").as[(String, String)].collect())
      }
    }
    timed(ctx.span("save")(MineSink.save(spark, st, dir.toString, "bench")))

    // the client's view of the saved MINE: core compounds and spectra
    val catalog = spark.read.parquet(s"$dir/core_compounds")
    val rows = catalog.select("_id", "Formula", "Mass", "Charge")
      .as[(String, String, Double, Int)].collect().sortBy(_._1)
      .map(Cpd.tupled).toIndexedSeq
    val spectra = rows.indices.map(k => rows(k).id -> stored(k % stored.size))
      .toMap
    val spectraDf = spectra.toSeq.toDF("c_id", "spectrum")
    val lat = (0 until RequestsPerPass).map { k =>
      val r = b * RequestsPerPass + k
      val peaks = request(specs(r), rows, spectra)
      val peaksDf = peaks.map(p => (p._1, p._2, p._3))
        .toDF("name", "mz", "charge")
      val t0 = System.nanoTime()
      val (hits, stats, ms2) = ctx.span("request") {
        val hitsDf = MassSearch.adductSearch(spark, catalog, peaksDf,
          Adducts, tol)
        val hits = ctx.span("adductSearch")(hitsDf
          .select("peak", "adduct", "_id").as[(String, String, String)]
          .collect().toSet)
        val stats = ctx.span("peakStats")(MassSearch.peakStats(hitsDf)
          .select("peak", "total_hits", "n_formulas", "n_compounds")
          .as[(String, Long, Long, Long)].collect().toSet)
        val ms2 = if (k != 0) None else Some(ctx.span("ms2Search") {
          val q = peaks.toDF("name", "mz", "charge", "ms2")
          MassSearch.ms2Search(spark, catalog, q, spectraDf, Adducts, tol)
            .select("peak", "adduct", "_id", "spectral_score", "rank")
            .as[(String, String, String, Double, Int)].collect().toSet
        })
        (hits, stats, ms2)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      wall += ms / 1e3

      val expected = scanHits(peaks, rows, tol)
      ctx.check(hits == expected,
        s"request $r: ${hits.size} hits, the scan finds ${expected.size}")
      ctx.check(stats == scanStats(expected, rows),
        s"request $r: peakStats differ from the scan")
      ms2.foreach { got =>
        ctx.check(got == scanMs2(expected, peaks, spectra),
          s"request $r: ms2Search differs from the scan")
      }
      ctx.add("mass.hits", hits.size)
      ms
    }

    val rxns = st.reactions.select("_id").as[String].collect().toSet
    val (oc, or, gens) = Kernel.bfs(batch, 2, ctx.cores)
    ctx.check(cpds.map(_._1).toSet == oc && rxns == or,
      s"pass $i: engine ${cpds.length}/${rxns.size} vs " +
        s"kernel BFS ${oc.size}/${or.size} compounds/reactions")
    val (expC, expR) = Kernel.pruned(gens, targets.map(_._1).toSeq)
    val gen = cpds.map(c => c._1 -> c._2).toMap
    val idOrder = expC.toSeq.sortBy(c => (gen.getOrElse(c, -1), c))
      .zipWithIndex.map { case (c, k) => c -> f"pkc${k + 1}%07d" }
    val rxnOrder = expR.toSeq.sorted
      .zipWithIndex.map { case (r, k) => r -> f"pkr${k + 1}%07d" }
    ctx.check(targets.length == 3 && keptC.toSet == idOrder.toSet &&
      keptR.toSet == rxnOrder.toSet,
      s"pass $i: pruned to ${keptC.length}/${keptR.length}, " +
        s"kernel BFS keeps ${expC.size}/${expR.size}")
    ctx.check(rows.size == cpds.count(_._1.startsWith("C")),
      s"pass $i: saved ${rows.size} core compounds")
    gens.zipWithIndex.foreach { case (g, k) =>
      Kernel.record(ctx, g, cpds.count(_._2 == k + 1))
    }
    ctx.add("sink.bytes", treeBytes(dir).toDouble)
    ctx.add("sink.cpds", rows.size.toDouble)
    ctx.add("sink.np_stub_cpds", rows.size.toDouble) // npModelPath = None
    ctx.add("engine.rxns", rxns.size)
    deleteTree(dir)
    PassOut(wall, rxns.size, lat)
  }
}

/** Peak-list requests and the driver-side scan they are checked against. */
object Mass {
  final case class Cpd(id: String, formula: String, mass: Double, charge: Int)
  type Peak = (String, Double, String, Seq[(Double, Double)])

  val Adducts: Seq[AdductRow] = Seq(
    AdductRow("[M+H]+", 1.0, 1.007276),
    AdductRow("[M+Na]+", 1.0, 22.989218),
    AdductRow("[M-H]-", 1.0, -1.007276))

  def parseSpectrum(s: String): Seq[(Double, Double)] =
    s.split(",").toSeq.map { p =>
      val Array(mz, it) = p.split(":"); (mz.toDouble, it.toDouble)
    }

  /** The peaks (name, m/z, polarity, MS2 spectrum) of one request spec
    * (see gen.requests), resolved against the catalog.
    */
  def request(spec: Seq[Array[String]], rows: IndexedSeq[Cpd],
      spectra: Map[String, Seq[(Double, Double)]]): Seq[Peak] =
    spec.map { f =>
      val (name, kind, ref, adduct, jitter) =
        (f(1), f(2), f(3), f(4), f(5).toDouble)
      val a = Adducts.find(_.name == adduct).get
      val factors = f(7).split(",").map(_.toDouble)
      val (mass, spec) =
        if (kind == "hit") {
          val c = rows((ref.toDouble * rows.size).toInt)
          (c.mass, spectra(c.id))
        } else {
          val k = f(6).toInt % spectra.size
          (ref.toDouble, spectra(rows(k).id))
        }
      (name, mass * a.mult + a.ionMass + jitter,
        if (a.ionMass > 0) "+" else "-",
        spec.zip(factors).map { case ((mz, it), x) => (mz, it * x) })
    }

  private val halogen = java.util.regex.Pattern.compile("F[^e]|Cl|Br")

  /** Driver-side scan of the catalog: the adduct windows of every peak. */
  def scanHits(peaks: Seq[Peak], rows: IndexedSeq[Cpd], tol: Double)
      : Set[(String, String, String)] =
    (for {
      (name, mz, charge, _) <- peaks
      a <- Adducts
      if (charge == "+" && a.ionMass > 0) || (charge == "-" && a.ionMass < 0)
      pm = (mz - a.ionMass) / a.mult
      c <- rows
      if c.charge == 0 && !halogen.matcher(c.formula).find() &&
        c.mass >= pm - tol && c.mass <= pm + tol
    } yield (name, a.name, c.id)).toSet

  def scanStats(hits: Set[(String, String, String)], rows: IndexedSeq[Cpd])
      : Set[(String, Long, Long, Long)] = {
    val formula = rows.map(c => c.id -> c.formula).toMap
    hits.groupBy(_._1).map { case (p, hs) =>
      (p, hs.size.toLong, hs.map(h => formula(h._3)).size.toLong,
        hs.map(_._3).size.toLong)
    }.toSet
  }

  def scanMs2(hits: Set[(String, String, String)], peaks: Seq[Peak],
      spectra: Map[String, Seq[(Double, Double)]])
      : Set[(String, String, String, Double, Int)] = {
    val ms2 = peaks.map(p => p._1 -> p._4).toMap
    hits.toSeq.map { case (p, a, id) =>
      (p, a, id, math.round(dot(spectra(id), ms2(p), 0.1) * 1000).toDouble)
    }.groupBy(_._1).values.flatMap { hs =>
      hs.map(h => (h._1, h._2, h._3, h._4,
        1 + hs.count(o => o._4 > h._4 || (o._4 == h._4 && o._3 < h._3))))
    }.toSet
  }

  /** Cosine of two spectra, matching fragments within `tol` by a
    * both-advance merge over m/z-sorted lists.
    */
  def dot(a: Seq[(Double, Double)], b: Seq[(Double, Double)],
      tol: Double): Double = {
    val sa = a.sortBy(_._1).toIndexedSeq; val sb = b.sortBy(_._1).toIndexedSeq
    val na = sa.map(t => t._2 * t._2).sum; val nb = sb.map(t => t._2 * t._2).sum
    var (i, j, z) = (0, 0, 0.0)
    while (i < sa.length && j < sb.length) {
      val d = sa(i)._1 - sb(j)._1
      if (math.abs(d) <= tol) { z += sa(i)._2 * sb(j)._2; i += 1; j += 1 }
      else if (d < 0) i += 1
      else j += 1
    }
    if (na == 0 || nb == 0) 0.0 else z / math.sqrt(na * nb)
  }
}

/** Operator layer: four registry queries with DuckDB oracles, each
  * timed with the `count()` action; results are checked by run.py.
  */
final class OperatorMix(ctx: Ctx) extends Workload {
  private val dir = ctx.inputs.resolve("tables").toString
  private val results = ctx.work.resolve("results")
  /** (pass, query, rows, ms) of every execution. */
  private val runs =
    collection.mutable.ArrayBuffer.empty[(Int, String, Long, Double)]

  def setup(): Unit = {
    graft.expressions.Hash64.register(ctx.spark)
    OperatorMix.Queries.foreach(q =>
      require(graft.SparkEntry.queries.contains(q), s"no query $q"))
  }

  def pass(i: Int): PassOut = {
    val lat = OperatorMix.Queries.map { q =>
      val t0 = System.nanoTime()
      // passes use the count() action of graft.Bench; the first warm-up
      // pass collects the rows instead, for the oracle compare
      val (n, rows) = ctx.span("query") {
        val df = graft.SparkEntry.queries(q)(ctx.spark, dir)
        if (i != -1) (df.count(), Nil)
        else { val r = df.collect(); (r.length.toLong, r.toSeq) }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      runs += ((i, q, n, ms))
      if (rows.nonEmpty) {
        Files.createDirectories(results)
        Files.write(results.resolve(s"$q.jsonl"), rows.map(_.json).asJava)
      }
      ms
    }
    PassOut(lat.sum / 1e3, lat.size, lat)
  }

  override def extra: Map[String, Any] = Map(
    "results_dir" -> results.toString,
    "oracle_sql" -> OperatorMix.Queries.map(q =>
      q -> graft.SparkEntry.oracleSql(q)).toMap,
    "query_runs" -> runs.map { case (i, q, n, ms) =>
      Json.obj("i" -> i, "query" -> q, "rows" -> n, "ms" -> ms) })
}

object OperatorMix {
  val Queries: Seq[String] = Seq("q_itemsets", "q_agg_hll_setops",
    "q_join_salted", "q_text_tfidf")
}
