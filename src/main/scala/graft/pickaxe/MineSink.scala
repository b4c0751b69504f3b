package graft.pickaxe

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chem.{Formula, NPModel, NPScore, Smiles}
import graft.expressions.BitTanimoto
import graft.operators.Par

/** The MINE storage layer (databases.py:263-602) re-expressed as parquet
  * tables: per-run `compounds`/`reactions` plus a cross-run enriched
  * `core` table with `$addToSet`-style MINES membership merge.
  *
  * Mongo's 10k-doc bulk batching and 1.4 MB adjacency shards are
  * unnecessary under parquet (SURVEY §4) — writers are per-partition
  * columnar; adjacency stays as logical arrays.
  */
object MineSink {

  /** Core-compound enrichment (databases.py:536-572): Mass, Charge,
    * Formula, fingerprint as sparse bit-index array + packed bits +
    * length, NP score; `MINES` membership array.
    */
  def coreCompounds(
      state: NetworkState,
      mineName: String,
      npModelPath: Option[String] = None): DataFrame = {
    val fpUdf = udf { smiles: String =>
      Formula.fingerprint(Smiles.parse(smiles))
    }
    val packUdf = udf { bits: Seq[Int] =>
      BitTanimoto.pack(bits.toArray)
    }
    // with the reference's publicnp.model.gz, NP_likeness is bit-exact
    // (NPScoreParitySpec); without it, the deterministic stub scores
    val npModelB = npModelPath.map { p =>
      state.compounds.sparkSession.sparkContext.broadcast(NPModel.load(p))
    }
    val npUdf = npModelB match {
      case Some(b) => udf { smiles: String =>
        NPScore.score(Smiles.parse(smiles),
          (bit: Long) => b.value.getOrElse(bit, 0.0))
      }
      case None => udf { smiles: String => NPScore.score(smiles) }
    }
    state.compounds
      .where(col("Type") =!= "Coreactant")
      .withColumn("RDKit_fp", fpUdf(col("SMILES")))
      .withColumn("len_RDKit_fp", size(col("RDKit_fp")))
      .withColumn("packed_fp", packUdf(col("RDKit_fp")))
      .withColumn("NP_likeness", round(npUdf(col("SMILES")), 6))
      // databases.py:562 stores Crippen logP on every core compound;
      // here the documented estimator (Formula.logPEstimate scaladoc)
      .withColumn("logP", udf { smiles: String =>
        Formula.logPEstimate(Smiles.parse(smiles))
      }.apply(col("SMILES")))
      .withColumn("MINES", array(lit(mineName)))
      .select("_id", "SMILES", "Formula", "Charge", "Mass",
        "RDKit_fp", "len_RDKit_fp", "packed_fp", "NP_likeness", "logP",
        "MINES")
  }

  /** Cross-run upsert (databases.py:506-533): insert-if-absent on `_id`
    * ($setOnInsert) + MINES set-union ($addToSet) — as one full-outer
    * merge, shuffle-partitioned on the content hash.
    *
    * packed_fp is WIDTH-NORMALIZED on the way through: stores written
    * before the 2048-bit pack width (64-byte rows) are repacked from
    * their sparse RDKit_fp indices, so a merged table can never hold
    * mixed widths — BitTanimoto.tanimoto on mismatched widths silently
    * degrades to prefix-only overlap by its documented rule.
    */
  def mergeCore(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val cols = incoming.columns.toIndexedSeq
      .filter(c => c != "_id" && c != "MINES")
    val repackUdf = udf { (packed: Array[Byte], fp: Seq[Int]) =>
      if (packed != null && packed.length == BitTanimoto.packedBytes) packed
      // null fingerprint stays null — fabricating an all-zero pack would
      // turn "fingerprint unknown" into "similarity 0" downstream
      else if (fp != null) BitTanimoto.pack(fp.toArray)
      else null
    }
    val merged = existing.as("old")
      .join(incoming.as("new"), Seq("_id"), "full_outer")
      .select(
        col("_id") +:
          cols.map(c =>
            coalesce(col(s"old.$c"), col(s"new.$c")).as(c)) :+
          array_sort(array_distinct(concat(
            coalesce(col("old.MINES"), array()),
            coalesce(col("new.MINES"), array())))).as("MINES"): _*)
    if (merged.columns.contains("packed_fp") &&
      merged.columns.contains("RDKit_fp"))
      merged.withColumn("packed_fp",
        repackUdf(col("packed_fp"), col("RDKit_fp")))
    else merged
  }

  /** Bucketed variant of the per-run tables, for repeated co-located id
    * joins (the MINE query surface joins compounds to reactions through
    * the adjacency on almost every request — mass search, pathway
    * traversal, cascades). `bucketBy(_id)`+`sortBy(_id)` pre-partitions
    * both sides of the join at WRITE time, so each read-side join on
    * `_id` is exchange-free: with `n` queries against one network the
    * shuffle is paid once instead of `n` times. The adjacency is also
    * written as a flat (c_id, r_id, role, stoich) table bucketed on the
    * COMPOUND id — the array-typed `Reactants`/`Products` columns can't
    * carry bucketing, the exploded relation can.
    *
    * Bucketing metadata lives in the session catalog (`saveAsTable`);
    * pass `path` to keep the files external to the warehouse dir. On a
    * cluster the same call against a shared metastore gives every later
    * job the co-located layout.
    */
  def saveBucketed(
      spark: SparkSession,
      state: NetworkState,
      mineName: String,
      buckets: Int = 8,
      path: Option[String] = None): Unit = {
    def write(df: DataFrame, table: String): Unit = {
      val w = df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "_id").sortBy("_id")
      path.fold(w)(p => w.option("path", s"$p/$table"))
        .saveAsTable(s"${mineName}_$table")
    }
    write(state.compounds, "compounds")
    write(state.reactions, "reactions")
    val adj = state.reactions
      .select(col("_id").as("r_id"), lit("reactant").as("role"),
        explode(col("Reactants")).as("m"))
      .unionByName(state.reactions
        .select(col("_id").as("r_id"), lit("product").as("role"),
          explode(col("Products")).as("m")))
      .select(col("m.c_id").as("_id"), col("r_id"), col("role"),
        col("m.stoich").as("stoich"))
    write(adj, "adjacency")
  }

  /** save_to_mine (pickaxe.py:1165-1242): write the per-run tables and
    * merge the core table in `outDir`.
    */
  def save(
      spark: SparkSession,
      state: NetworkState,
      outDir: String,
      mineName: String,
      npModelPath: Option[String] = None): Unit = {
    val st = state
    val incoming = coreCompounds(st, mineName, npModelPath)
    val corePath = s"$outDir/core_compounds"
    val hadoopPath = new org.apache.hadoop.fs.Path(corePath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(hadoopPath)) {
        val existing = spark.read.parquet(corePath)
        mergeCore(existing, incoming)
      } else incoming
    // parquet cannot overwrite its own input: stage, then swap via the
    // Hadoop FS API (checked — a failed rename must not lose the table)
    val tmp = new org.apache.hadoop.fs.Path(s"$corePath.tmp")
    // the two per-run tables and the staged core table are independent
    // writes: overlap them. Each write finishes before the first failure
    // is rethrown as it was raised, so the swap below runs only after
    // all three succeeded
    val (cpds, (rxns, core)) = Par.concurrently(
      Try(st.compounds.write.mode("overwrite")
        .parquet(s"$outDir/$mineName/compounds")),
      Par.concurrently(
        Try(st.reactions.write.mode("overwrite")
          .parquet(s"$outDir/$mineName/reactions")),
        Try(merged.write.mode("overwrite").parquet(tmp.toString))))
    Seq(cpds, rxns, core).foreach(_.get)
    val old = new org.apache.hadoop.fs.Path(s"$corePath.old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(hadoopPath) && !fs.rename(hadoopPath, old))
      sys.error(s"MineSink: could not stage out $corePath")
    if (!fs.rename(tmp, hadoopPath)) {
      // restore the previous table before failing
      if (fs.exists(old)) fs.rename(old, hadoopPath)
      sys.error(s"MineSink: rename $tmp -> $corePath failed")
    }
    if (fs.exists(old)) fs.delete(old, true)
  }
}
