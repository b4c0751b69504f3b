package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the validation pass a
  * production table runs before anything consumes it (the
  * Deequ / Great Expectations capability): each rule declares a
  * constraint, evaluation computes every scalar metric in ONE
  * aggregate over ONE scan (completeness, uniqueness, ranges all ride
  * the same map-side-combined pass), and referential rules add one
  * LEFT ANTI join each against their parent table. Output is one row
  * per rule: (rule, column, metric, threshold, pass) — integer-exact
  * metrics, so a gate oracle reproduces the verdicts bit for bit.
  */
object Expectations {

  sealed trait Rule { def name: String; def column: String }
  /** Fraction of NULLs must be 0. */
  final case class NotNull(column: String) extends Rule {
    val name = "not_null"
  }
  /** Column values must be globally unique. */
  final case class Unique(column: String) extends Rule {
    val name = "unique"
  }
  /** min(column) >= lo AND max(column) <= hi (inclusive, long). */
  final case class InRange(column: String, lo: Long, hi: Long)
      extends Rule { val name = "in_range" }
  /** Every non-null child value exists in parent's key column. */
  final case class ForeignKey(
      column: String, parent: DataFrame, parentCol: String)
      extends Rule { val name = "foreign_key" }

  /** Evaluate all rules. Scalar rules share one aggregate; each
    * ForeignKey adds one anti-join count. Returns
    * (rule, col_name, violations, pass) — `violations` is the count
    * of offending rows (not-null: nulls; unique: duplicate rows;
    * in_range: out-of-range rows; foreign_key: orphans), so
    * pass == (violations == 0) uniformly. The per-rule scalars (one
    * long each) land on the driver — the report is rule-sized by
    * definition; the scans stay distributed.
    */
  /** Row-level violation labeling — the expect-or-drop half of the
    * expectations surface (the Delta Live Tables / Deequ "quarantine"
    * pattern): annotate every row with the list of rules it violates,
    * so callers can split the table into a clean publishable side and
    * an auditable reject side WITHOUT a second scan per rule.
    *
    * Per-rule label = "rule:column". NotNull / InRange are pure row
    * predicates (stay inside codegen); Unique marks every row whose key
    * occurs more than once (one self-aggregate producing the MINORITY
    * dup-key table, equi-joined back — never a window over the full
    * table); ForeignKey marks orphans via a left join against the
    * parent's distinct keys. A NULL child key is not an FK violation
    * (matching SQL FK semantics and [[check]]), and a NULL is not an
    * InRange violation (NotNull owns nullness) — so the two label
    * families compose without double counting.
    *
    * Violation labels are emitted in RULE-LIST ORDER (the caller's
    * declaration order), making the reason string deterministic and
    * oracle-reproducible via ordered concat_ws.
    */
  def withViolations(
      df: DataFrame, rules: Seq[Rule],
      out: String = "violations"): DataFrame = {
    val (cur, indicators, markers) = ruleIndicators(df, rules)
    val labeled = cur.withColumn(out,
      filter(
        array(indicators.map { case (rule, c, bad) =>
          when(bad, lit(s"$rule:$c")).otherwise(lit(null))
        }: _*),
        _.isNotNull))
    markers.foldLeft(labeled)(_ drop _)
  }

  /** Per-row indicator kernel behind [[withViolations]]: returns the
    * (possibly join-augmented) frame, one (rule, column, bad) triple
    * per rule — `bad` a never-null boolean column on that frame — and
    * the helper marker columns to drop afterwards. NotNull and InRange
    * are pure codegen'd predicates; Unique equi-joins the minority
    * dup-key table; ForeignKey left-joins the parent's distinct keys.
    */
  private def ruleIndicators(df: DataFrame, rules: Seq[Rule])
      : (DataFrame, Seq[(String, String, Column)], Seq[String]) = {
    require(rules.nonEmpty, "ruleIndicators: no rules")
    var cur = df
    val markers = scala.collection.mutable.ArrayBuffer.empty[String]
    // marker names carry the rule INDEX, not just the column: the same
    // rule family declared twice on one column (e.g. two ForeignKey
    // rules against different parents) must get distinct, unambiguous
    // helper columns
    val indicators: Seq[(String, String, Column)] =
      rules.zipWithIndex.map {
        case (NotNull(c), _) => ("not_null", c, col(c).isNull)
        case (InRange(c, lo, hi), _) =>
          ("in_range", c,
            coalesce(col(c) < lo || col(c) > hi, lit(false)))
        case (Unique(c), i) =>
          val m = s"__dup_${i}_$c"
          markers += m
          val dups = df.groupBy(col(c)).agg(count(lit(1)).as("__n"))
            .where(col("__n") > 1).select(col(c).as(m))
          cur = cur.join(dups, cur(c) === dups(m), "left")
          ("unique", c, col(m).isNotNull)
        case (ForeignKey(c, parent, pc), i) =>
          val m = s"__pk_${i}_$c"
          markers += m
          val pk = parent.select(col(pc).as(m)).distinct()
          cur = cur.join(pk, cur(c) === pk(m), "left")
          ("foreign_key", c, col(c).isNotNull && col(m).isNull)
      }
    (cur, indicators, markers.toSeq)
  }

  /** Split into (clean, quarantined): clean rows carry the original
    * schema; quarantined rows keep the `violations` label array.
    */
  def quarantine(
      df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val labeled = withViolations(df, rules)
    (labeled.where(size(col("violations")) === 0).drop("violations"),
      labeled.where(size(col("violations")) > 0))
  }

  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val spark = df.sparkSession
    require(rules.nonEmpty, "check: no rules")
    val scalarAggs: Seq[(Rule, Column)] = rules.collect {
      case r @ NotNull(c) =>
        r -> sum(when(col(c).isNull, 1L).otherwise(0L))
      case r @ Unique(c) =>
        r -> (count(col(c)) - countDistinct(col(c)))
      case r @ InRange(c, lo, hi) =>
        r -> sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L))
    }
    val scalarRows: Seq[(String, String, Long)] =
      if (scalarAggs.isEmpty) Seq.empty
      else {
        val row = df.agg(scalarAggs.head._2,
          scalarAggs.tail.map(_._2): _*).head()
        scalarAggs.zipWithIndex.map { case ((r, _), i) =>
          (r.name, r.column,
            if (row.isNullAt(i)) 0L else row.getLong(i))
        }
      }
    val fkRows: Seq[(String, String, Long)] = rules.collect {
      case ForeignKey(c, parent, pc) =>
        val orphans = df.select(col(c)).where(col(c).isNotNull)
          .join(parent.select(col(pc).as(c)), Seq(c), "left_anti")
          .count()
        ("foreign_key", c, orphans)
    }
    import spark.implicits._
    (scalarRows ++ fkRows).toDF("rule", "col_name", "violations")
      .withColumn("pass", col("violations") === 0L)
  }
}
