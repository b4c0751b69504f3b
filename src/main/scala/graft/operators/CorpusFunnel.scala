package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared corpus-build funnel combinator — the one shape all four
  * modality funnels (text q_pipeline_corpus, image q_pipeline_images,
  * video q_pipeline_video, audio q_pipeline_audio) instantiate:
  * decode/demux gate -> kernel-derived quality gate -> banded near-dup
  * keep-smallest -> per-group funnel counts. Each
  * modality plugs its own kernel, gate predicates, band geometry, and
  * verify discipline; the funnel algebra (candidate generation over
  * band collisions only — never all-pairs, keep-smallest
  * canonicalization via anti-join, the stage-count rollup) lives here
  * once.
  *
  * Scale shape: [[alignedDupIds]] / [[verifiedDupIds]] join banded
  * collision SLIVERS on the band key (an equi-join Spark shuffles on
  * the key), and the rollup is one keyed aggregation per stage frame —
  * at 100 TB the only skew surface is a hot band, which the plugs
  * bound by band width (9-bit pHash bands, 512 landmark buckets,
  * base-M shingle folds).
  *
  * Reference analog: none — the reference has no corpus pipeline;
  * this is the LLM-training-data surface the survey adds beyond it.
  */
object CorpusFunnel {

  /** One funnel stage for [[stageCounts]]: either a frame whose rows
    * are counted per group under `name`, or a pre-aggregated frame
    * contributing `cols` (already keyed by the group column).
    */
  sealed trait Stage
  final case class CountStage(name: String, df: DataFrame) extends Stage
  final case class AggStage(df: DataFrame, cols: Seq[String]) extends Stage

  /** The per-group funnel-count rollup: one column per stage, in the
    * given order, joined on `groupCol` and ordered by it. The media
    * funnels use inner joins (every source survives every gate at the
    * tested scales — a vanished group should fail the count gate, not
    * be padded); the text funnel sets `sparse = true` for left joins
    * with coalesce-0 (a language CAN lose every doc to a stage).
    */
  def stageCounts(
      groupCol: String,
      stages: Seq[Stage],
      sparse: Boolean = false): DataFrame = {
    require(stages.nonEmpty, "at least one stage")
    val frames = stages.map {
      case CountStage(n, df) =>
        (df.groupBy(groupCol).agg(count(lit(1)).as(n)), Seq(n))
      case AggStage(df, cols) => (df, cols)
    }
    val joined = frames.map(_._1).reduce((a, b) =>
      a.join(b, Seq(groupCol), if (sparse) "left" else "inner"))
    val outCols = frames.flatMap(_._2)
    val sel = col(groupCol) +: outCols.map { c =>
      if (!sparse) col(c)
      else joined.schema(c).dataType match {
        // only numeric columns have a meaningful zero; a sparse
        // string column (e.g. a min-uri pin) stays null
        case _: org.apache.spark.sql.types.NumericType =>
          coalesce(col(c), lit(0L)).as(c)
        case _ => col(c)
      }
    }
    joined.select(sel: _*).orderBy(groupCol)
  }

  /** Aligned-offset near-dup drops — the video/audio verify: evidence
    * rows (id, t, band) self-join on the band key (collision slivers
    * only), and an id is dropped when some SMALLER id matches it at
    * >= `minAligned` collisions of one constant offset dt = t_b - t_a
    * (a true duplicate concentrates its collisions at one offset —
    * the fingerprints are shift-covariant — while chance collisions
    * spread thin). Returns the dropped ids, one column named `idCol`.
    */
  def alignedDupIds(
      ev: DataFrame, idCol: String, tCol: String, bandCol: String,
      minAligned: Int): DataFrame =
    ev.as("a")
      .join(ev.as("b"),
        col(s"a.$bandCol") === col(s"b.$bandCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("__ca"),
        col(s"b.$idCol").as("__cb"),
        (col(s"b.$tCol") - col(s"a.$tCol")).as("__dt"))
      .agg(count(lit(1)).as("__n_al"))
      .where(col("__n_al") >= minAligned)
      .select(col("__cb").as(idCol)).distinct()

  /** Band-candidate + pairwise-verified near-dup drops — the image
    * verify: band rows (id, bandCols...) generate distinct candidate
    * pairs from band equality (smaller id first), each pair fetches
    * its two feature values from `feats` and must pass `verify`
    * (e.g. pHash hamming <= 6). Returns the dropped (larger) ids.
    */
  def verifiedDupIds(
      bands: DataFrame, feats: DataFrame, idCol: String,
      bandCols: Seq[String], featCol: String,
      verify: (Column, Column) => Column): DataFrame = {
    val cand = bands.as("a")
      .join(bands.as("b"),
        bandCols.map(c => col(s"a.$c") === col(s"b.$c"))
          .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__ia"), col(s"b.$idCol").as("__ib"))
      .distinct()
    cand
      .join(feats.select(col(idCol).as("__ia"),
        col(featCol).as("__fa")), Seq("__ia"))
      .join(feats.select(col(idCol).as("__ib"),
        col(featCol).as("__fb")), Seq("__ib"))
      .where(verify(col("__fa"), col("__fb")))
      .select(col("__ib").as(idCol)).distinct()
  }

  /** Keep-smallest survivors: the quality frame minus the drop set. */
  def survivors(
      quality: DataFrame, dupIds: DataFrame, idCol: String): DataFrame =
    quality.join(dupIds, Seq(idCol), "left_anti")
}
