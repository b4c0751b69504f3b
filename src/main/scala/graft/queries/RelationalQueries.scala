package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** The relational operator inventory of SURVEY.md §2 expressed over the
  * driver's synthetic star schema, each with a DuckDB oracle. Every query
  * is a deliberately scale-shaped plan: dims broadcast, non-equi joins
  * bucketed, top-k via limit (partial top-k, no global sort of the fact
  * table), cumulative windows only over pre-aggregated smalls.
  *
  * Doubles in outputs are rounded (both sides identically) so the driver's
  * hash compare is stable across summation orders.
  */
object RelationalQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  override def queries: Seq[GraftQuery] = Seq(

    // ----- aggregations ---------------------------------------------------

    GraftQuery(
      "q_agg_pricing_summary", Seq("A8", "P6"),
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity),2) AS sum_qty,
        round(sum(l_extendedprice),2) AS sum_base_price,
        round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        round(avg(l_quantity),4) AS avg_qty,
        round(avg(l_discount),6) AS avg_disc,
        count(*) AS count_order
        FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""),
      "TPC-H Q1 shape: map-side partial agg, 6 aggregates, tiny result."),

    GraftQuery(
      "q_agg_group_count", Seq("A4", "A8"),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderpriority", "o_orderstatus"),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        round(sum(o_totalprice),2) AS sum_price
        FROM orders GROUP BY 1,2 ORDER BY 1,2""")),

    GraftQuery(
      "q_agg_salted", Seq("A8", "D9"),
      (s, dir) => {
        // Skew.saltedAgg through the correctness gate: l_returnflag is
        // a 3-value (hot) grouping key — the salted two-phase plan must
        // equal plain GROUP BY row for row. Integer-exact aggregates
        // only (float sums reorder under salting; TPC-H quantities are
        // integral so the bigint cast is lossless).
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty_sum"),
            col("l_quantity").cast("long").as("qty_cnt"),
            col("l_quantity").cast("long").as("qty_min"),
            col("l_quantity").cast("long").as("qty_max"))
        graft.operators.Skew.saltedAgg(li, Seq("l_returnflag"),
            Map("qty_sum" -> "sum", "qty_cnt" -> "count",
              "qty_min" -> "min", "qty_max" -> "max"), salts = 16)
          .select("l_returnflag", "qty_sum", "qty_cnt", "qty_min",
            "qty_max")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
          sum(l_quantity::BIGINT)::BIGINT AS qty_sum,
          count(l_quantity) AS qty_cnt,
          min(l_quantity::BIGINT) AS qty_min,
          max(l_quantity::BIGINT) AS qty_max
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "Skew-salted two-phase aggregation (hot 3-value key spread over " +
        "16 deterministic sub-keys, partials combined exactly) vs the " +
        "plain GROUP BY oracle."),

    GraftQuery(
      "q_join_salted", Seq("J9", "D9"),
      (s, dir) => {
        // Skew.saltedJoin through the correctness gate: lineitem joined
        // to orders on the (skew-prone) order key with the big side
        // spread over 16 deterministic salts and orders replicated —
        // the result must equal the plain join row for row. Summarized
        // per order priority so the gate output stays small.
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("long")
            .as("qty"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority"))
        graft.operators.Skew.saltedJoin(li, ord, Seq("l_orderkey"),
            salts = 16)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sum("qty").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o.o_orderpriority,
          count(*) AS n_items,
          sum(l.l_quantity::BIGINT)::BIGINT AS sum_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1 ORDER BY 1"""),
      "Skew-salted equi-join (big side salted, dimension replicated " +
        "across 16 sub-keys) vs the plain join oracle — the manual " +
        "fallback where AQE's skew split cannot kick in."),

    GraftQuery(
      "q_agg_set_union", Seq("A1", "D2"),
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(array_join(array_sort(collect_set("l_returnflag")), ";")
            .as("flag_set"))
          .groupBy("flag_set")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("flag_set")
      },
      Some("""WITH g AS (
          SELECT l_orderkey,
            array_to_string(list_sort(list_distinct(list(l_returnflag))), ';') AS flag_set
          FROM lineitem GROUP BY 1)
        SELECT flag_set, count(*) AS n_orders FROM g GROUP BY 1 ORDER BY 1"""),
      "The reference's per-reaction Operators set-union (collect_set + sort)."),

    GraftQuery(
      "q_agg_stats", Seq("A9", "A12"),
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            round(avg("value"), 4).as("avg_value"),
            round(stddev_samp("value"), 4).as("std_value"),
            round(median(col("value")), 4).as("med_value"),
            round(min("value"), 4).as("min_value"),
            round(max("value"), 4).as("max_value"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
        round(avg(value),4) AS avg_value,
        round(stddev_samp(value),4) AS std_value,
        round(median(value),4) AS med_value,
        round(min(value),4) AS min_value,
        round(max(value),4) AS max_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ----- joins ----------------------------------------------------------

    GraftQuery(
      "q_join_star", Seq("J3", "J9"),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1,2 ORDER BY 1,2"""),
      "Star join: fact-fact shuffle join + broadcast dims."),

    GraftQuery(
      "q_join_semi", Seq("J7"),
      (s, dir) => {
        val o = t(s, dir, "orders")
        val disc = t(s, dir, "lineitem").where(col("l_discount") > 0.05)
        o.join(disc, o("o_orderkey") === disc("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        GROUP BY 1 ORDER BY 1""")),

    GraftQuery(
      "q_join_anti", Seq("J7", "A7"),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY 1 ORDER BY 1""")),

    GraftQuery(
      "q_join_range", Seq("J6"),
      (s, dir) => {
        val part = t(s, dir, "part")
        val ranges = part
          .where(col("p_partkey") % 200 === 0)
          .select(col("p_partkey").as("range_id"),
            (col("p_retailprice") - 2.0).as("lo"),
            (col("p_retailprice") + 2.0).as("hi"))
        RangeJoin.intervalJoin(
            part.select("p_partkey", "p_retailprice"), ranges,
            "p_retailprice", "lo", "hi", bucketWidth = 4.0)
          .groupBy("range_id")
          .agg(count(lit(1)).as("n_hits"))
          .orderBy("range_id")
      },
      Some("""SELECT r.range_id, count(*) AS n_hits
        FROM part p
        JOIN (SELECT p_partkey AS range_id, p_retailprice-2.0 AS lo,
                p_retailprice+2.0 AS hi
              FROM part WHERE p_partkey % 200 = 0) r
          ON p.p_retailprice > r.lo AND p.p_retailprice < r.hi
        GROUP BY 1 ORDER BY 1"""),
      "Mass/adduct-window interval join (J6) via bucketed equi-join rewrite."),

    GraftQuery(
      "q_join_asof", Seq("J10"),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "ts")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "ts")
        AsOfJoin.asOfLatest(purchases, views, "user_id", "ts")
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_purchases"),
            count(col("__matched_ts")).as("n_matched"),
            round(avg((unix_micros(col("ts")) - unix_micros(col("__matched_ts")))
              / 1000000.0), 3).as("avg_gap_s"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id, ts FROM events WHERE event_type='purchase'),
             v AS (SELECT user_id, ts FROM events WHERE event_type='view'),
             j AS (SELECT p.user_id, p.ts AS pts, v.ts AS vts
                   FROM p ASOF LEFT JOIN v
                     ON p.user_id = v.user_id AND p.ts >= v.ts)
        SELECT user_id, count(*) AS n_purchases, count(vts) AS n_matched,
          round(avg((epoch_us(pts)-epoch_us(vts))/1000000.0),3) AS avg_gap_s
        FROM j GROUP BY 1 ORDER BY 1"""),
      "As-of join (latest view <= each purchase) via union + running window."),

    GraftQuery(
      "q_join_jaccard", Seq("J11", "A9", "D7"),
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .select("l_returnflag", "l_partkey").distinct()
        val sizes = m.groupBy("l_returnflag").agg(count(lit(1)).as("sz"))
        val inter = m.as("a")
          .join(m.as("b"),
            col("a.l_partkey") === col("b.l_partkey") &&
              col("a.l_returnflag") < col("b.l_returnflag"))
          .groupBy(col("a.l_returnflag").as("flag_a"),
            col("b.l_returnflag").as("flag_b"))
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(sizes).withColumnRenamed("l_returnflag", "flag_a")
            .withColumnRenamed("sz", "sz_a"), Seq("flag_a"))
          .join(broadcast(sizes).withColumnRenamed("l_returnflag", "flag_b")
            .withColumnRenamed("sz", "sz_b"), Seq("flag_b"))
          .select(col("flag_a"), col("flag_b"), col("n_common"),
            round(col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")), 6)
              .as("jaccard"))
          .orderBy("flag_a", "flag_b")
      },
      Some("""WITH m AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
             s AS (SELECT l_returnflag, count(*) AS sz FROM m GROUP BY 1),
             i AS (SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
                     count(*) AS n_common
                   FROM m a JOIN m b ON a.l_partkey = b.l_partkey
                     AND a.l_returnflag < b.l_returnflag
                   GROUP BY 1,2)
        SELECT flag_a, flag_b, n_common,
          round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
        FROM i JOIN s sa ON sa.l_returnflag = flag_a
               JOIN s sb ON sb.l_returnflag = flag_b
        ORDER BY 1,2"""),
      "Pairwise model Jaccard (Scripts/model_jacquard.py) done relationally."),

    // ----- windows / sorts / top-k ---------------------------------------

    GraftQuery(
      "q_win_cdf", Seq("S6", "W2", "W3", "A5"),
      (s, dir) => {
        val counts = t(s, dir, "part")
          .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        val ord = Seq(col("cnt").desc, col("p_brand").asc)
        val running = Window.orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val total = Window.orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        counts
          .withColumn("cdf", sum("cnt").over(running) / sum("cnt").over(total))
          .where(col("cdf") <= 0.9)
          .select(col("p_brand"), col("cnt"), round(col("cdf"), 6).as("cdf"))
          .orderBy(ord: _*)
      },
      Some("""WITH c AS (SELECT p_brand, count(*) AS cnt FROM part GROUP BY 1),
             k AS (SELECT p_brand, cnt,
                     sum(cnt) OVER (ORDER BY cnt DESC, p_brand
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1.0 / sum(cnt) OVER () AS cdf
                   FROM c)
        SELECT p_brand, cnt, round(cdf,6) AS cdf FROM k
        WHERE cdf <= 0.9 ORDER BY cnt DESC, p_brand"""),
      "Rule-coverage CDF cut (rules.py:169-196): groupBy + cumulative window."),

    GraftQuery(
      "q_win_topk_rank", Seq("W4", "W3"),
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("totalprice"))
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""SELECT o_orderpriority, rnk, o_orderkey,
        round(o_totalprice,2) AS totalprice
        FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders)
        WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""")),

    GraftQuery(
      "q_win_assign_ids", Seq("W1"),
      (s, dir) => {
        // distributed dense ids (DenseIds two-pass rank): NO
        // `row_number() over (order by ...)` global window — that plan
        // funnels the whole table through one task; the two-pass form
        // range-partitions on the order and adds per-partition offsets
        graft.operators.DenseIds.withDenseRank(
            t(s, dir, "supplier"),
            Seq(col("s_acctbal").desc, col("s_suppkey").asc))
          .withColumn("pk_id", format_string("pks%07d", col("__rank")))
          .select("pk_id", "s_suppkey")
          .orderBy("pk_id")
      },
      Some("""SELECT printf('pks%07d', CAST(row_number() OVER
          (ORDER BY s_acctbal DESC, s_suppkey) AS INT)) AS pk_id, s_suppkey
        FROM supplier ORDER BY 1"""),
      "assign_ids (pickaxe.py:1046-1102): dense export ids via the " +
        "distributed two-pass rank — no single-task global window."),

    GraftQuery(
      "q_win_lag", Seq("W8"),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("prev", lag("value", 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            count(when(col("value") > col("prev"), 1)).as("n_increasing"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
        count(CASE WHEN value > prev THEN 1 END) AS n_increasing
        FROM (SELECT user_id, value, lag(value) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events)
        GROUP BY 1 ORDER BY 1"""),
      "Increasing-similarity gate (similarity.py:662-667) as lag comparison."),

    GraftQuery(
      "q_topk", Seq("W3", "W5"),
      (s, dir) =>
        t(s, dir, "supplier")
          .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
          .limit(10)
          .select(col("s_suppkey"), col("s_name"),
            round(col("s_acctbal"), 2).as("acctbal")),
      Some("""SELECT s_suppkey, s_name, round(s_acctbal,2) AS acctbal
        FROM supplier ORDER BY s_acctbal DESC, s_suppkey LIMIT 10"""),
      "Global top-k: orderBy+limit plans as partial top-k, no full sort."),

    // ----- set ops / dedup / sampling / graph -----------------------------

    GraftQuery(
      "q_set_algebra", Seq("D7", "D3"),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
          .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        val tagged = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("l_partkey")
          .agg(
            max(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0))
              .as("in_b"),
            max(when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0))
              .as("in_a"))
        tagged.agg(
          sum("in_b").as("n_building"),
          sum("in_a").as("n_automobile"),
          sum(col("in_b") * col("in_a")).as("n_intersect"),
          sum(col("in_b") * (lit(1) - col("in_a"))).as("n_building_only"),
          count(lit(1)).as("n_union"))
      },
      Some("""WITH tagged AS (
          SELECT l_partkey,
            max(CASE WHEN c_mktsegment='BUILDING' THEN 1 ELSE 0 END) AS in_b,
            max(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 ELSE 0 END) AS in_a
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
          GROUP BY 1)
        SELECT sum(in_b)::BIGINT AS n_building,
          sum(in_a)::BIGINT AS n_automobile,
          sum(in_b*in_a)::BIGINT AS n_intersect,
          sum(in_b*(1-in_a))::BIGINT AS n_building_only,
          count(*) AS n_union
        FROM tagged"""),
      "Set algebra (∩ ∪ ∖) in one pass via membership flags — no N scans."),

    GraftQuery(
      "q_orphans", Seq("A7", "D6"),
      (s, dir) => {
        val p = t(s, dir, "part")
        val li = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_orphans"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n_orphans FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '2000-01-01')
        GROUP BY 1 ORDER BY 1"""),
      "Orphan detection (pickaxe.py:928-940): anti join on adjacency."),

    GraftQuery(
      "q_adjacency", Seq("A13", "E6"),
      (s, dir) => {
        t(s, dir, "lineitem")
          .where(col("l_partkey") % 97 === 0)
          .groupBy(col("l_partkey").as("part_key"))
          .agg(
            countDistinct("l_orderkey").as("n_orders"),
            array_join(
              transform(sort_array(collect_set("l_orderkey")),
                _.cast("string")), ";").as("order_ids"))
          .orderBy("part_key")
      },
      Some("""SELECT l_partkey AS part_key,
        count(DISTINCT l_orderkey) AS n_orders,
        array_to_string(list_sort(list_distinct(list(l_orderkey))), ';')
          AS order_ids
        FROM lineitem WHERE l_partkey % 97 = 0
        GROUP BY 1 ORDER BY 1"""),
      "Adjacency build (pickaxe.py:1507-1522): explode→collect_set per node."),

    GraftQuery(
      "q_dedup_exact", Seq("D1", "P10"),
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"),
            (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
        count(DISTINCT md5(text)) AS n_distinct,
        count(*) - count(DISTINCT md5(text)) AS n_dupes
        FROM documents GROUP BY 1 ORDER BY 1"""),
      "Exact dedup by content hash — the reference's compound identity (D1)."),

    GraftQuery(
      "q_sample_weighted", Seq("D8"),
      (s, dir) => {
        val part = t(s, dir, "part")
        Sampling.weightedSample(
            part.select("p_partkey", "p_retailprice"),
            pow(col("p_retailprice"), 4.0), col("p_partkey"), n = 50)
          .select(col("p_partkey"), round(col("p_retailprice"), 2).as("price"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, round(p_retailprice,2) AS price FROM (
          SELECT p_partkey, p_retailprice FROM part
          ORDER BY -ln((('0x' || substr(md5(p_partkey::VARCHAR),1,8))::UBIGINT
            + 1.0) / 4294967296.0) / pow(p_retailprice, 4.0)
          LIMIT 50)
        ORDER BY p_partkey"""),
      "Weighted sampling w/o replacement: deterministic exponential-clocks " +
        "top-k (similarity.py:217-356 made reproducible & distributed)."),

    GraftQuery(
      "q_graph_closure", Seq("D4", "D5"),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val seeds = t(s, dir, "part")
          .where(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("l_partkey"))
        val (parts, ordersReached) = GraphClosure.bipartiteClosure(
          li.select("l_partkey", "l_orderkey"), "l_partkey", "l_orderkey", seeds)
        parts.agg(count(lit(1)).as("n_parts"))
          .crossJoin(ordersReached.agg(count(lit(1)).as("n_orders")))
      },
      Some("""WITH RECURSIVE reach(pk) AS (
          SELECT p_partkey FROM part WHERE p_partkey % 97 = 0
          UNION
          SELECT l2.l_partkey FROM reach
            JOIN lineitem l1 ON l1.l_partkey = reach.pk
            JOIN lineitem l2 ON l2.l_orderkey = l1.l_orderkey)
        SELECT (SELECT count(*) FROM reach) AS n_parts,
          (SELECT count(DISTINCT l_orderkey) FROM lineitem
           JOIN reach ON l_partkey = pk) AS n_orders"""),
      "find_minimal_set reverse BFS (pickaxe.py:995-1044): iterative " +
        "semi-join closure with localCheckpoint lineage truncation."),

    // ----- time / sessionization / json -----------------------------------

    GraftQuery(
      "q_time_buckets", Seq("W2"),
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
          .orderBy("bucket", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
          AS bucket, event_type, count(*) AS n,
          round(sum(value),3) AS sum_value
        FROM events GROUP BY 1,2 ORDER BY 1,2"""),
      "Windowed-by-time aggregation."),

    GraftQuery(
      "q_sessionize", Seq("W8", "E1"),
      (s, dir) => {
        val sess = Sessionize.sessionize(
          t(s, dir, "events"), "user_id", "ts", gapSeconds = 3600,
          tieBreakCols = Seq("event_id"))
        sess.groupBy("user_id")
          .agg(
            max("session_id").as("n_sessions"),
            count(lit(1)).as("n_events"),
            round(count(lit(1)).cast("double") / max("session_id"), 4)
              .as("avg_session_events"))
          .orderBy("user_id")
      },
      Some("""WITH flagged AS (
          SELECT user_id,
            CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) > 3600000000 THEN 1
                 ELSE 0 END AS is_new
          FROM (SELECT user_id, ts, lag(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events)),
        agg AS (SELECT user_id, sum(is_new)::BIGINT AS n_sessions,
                  count(*) AS n_events
                FROM flagged GROUP BY 1)
        SELECT user_id, n_sessions, n_events,
          round(n_events * 1.0 / n_sessions, 4) AS avg_session_events
        FROM agg ORDER BY 1"""),
      "Gap sessionization — batch twin of flatMapGroupsWithState sessions."),

    GraftQuery(
      "q_json_extract", Seq("P6"),
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(avg("k"), 4).as("avg_k"),
            min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
        round(avg(k),4) AS avg_k, min(k) AS min_k, max(k) AS max_k
        FROM (SELECT event_type,
                json_extract_string(props, '$.k')::INT AS k FROM events)
        GROUP BY 1 ORDER BY 1"""),
      "Semi-structured props column → typed metric (nested access family).",
    ),

    GraftQuery(
      "q_events_funnel", Seq("W8", "J7", "A8"),
      (s, dir) => {
        // Ordered WINDOWED conversion funnel view → click → purchase:
        // greedy first-touch semantics — anchor on the user's earliest
        // view, convert a step only with an event strictly after the
        // previous step's conversion AND within 6 hours of it (the
        // window is what makes the funnel discriminative; unwindowed,
        // a month of dense activity converts everyone). Three
        // min-reductions chained by equi-joins on user_id — every
        // shuffle keys on user_id so the exchanges line up, and
        // per-user state is one timestamp per step regardless of how
        // many events a hot user has (the collect-and-sort-per-user
        // alternative is skew-unsafe at 100 TB: a bot user's event
        // list has no size bound). Timestamp arithmetic is µs-exact on
        // both engines, so the window boundary is bit-identical.
        val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
        def step(prev: DataFrame, et: String, tPrev: String, tOut: String) =
          ev.where(col("event_type") === et)
            .join(prev.select("user_id", tPrev), Seq("user_id"))
            .where(col("ts") > col(tPrev) &&
              col("ts") <= col(tPrev) + expr("INTERVAL 6 HOUR"))
            .groupBy("user_id").agg(min("ts").as(tOut))
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("tv"))
        val c = step(v, "click", "tv", "tc")
        val p = step(c, "purchase", "tc", "tp")
        ev.agg(countDistinct("user_id").as("n_users"))
          .crossJoin(broadcast(v.agg(count(lit(1)).as("n_view"))))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("n_view_click"))))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("n_funnel"))))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS tv FROM events
            WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(ts) AS tc FROM events e
            JOIN v USING (user_id)
            WHERE event_type = 'click' AND ts > tv
              AND ts <= tv + INTERVAL 6 HOUR GROUP BY 1),
          p AS (SELECT e.user_id, min(ts) AS tp FROM events e
            JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND ts > tc
              AND ts <= tc + INTERVAL 6 HOUR GROUP BY 1)
        SELECT (SELECT count(DISTINCT user_id) FROM events)::BIGINT
            AS n_users,
          (SELECT count(*) FROM v)::BIGINT AS n_view,
          (SELECT count(*) FROM c)::BIGINT AS n_view_click,
          (SELECT count(*) FROM p)::BIGINT AS n_funnel"""),
      "Ordered windowed conversion funnel (sequence-pattern family): " +
        "per-step strictly-later-within-6h min-timestamp chain, one " +
        "timestamp of state per user per step — skew-safe where " +
        "per-user event collection is not."),

    GraftQuery(
      "q_retention_cohort", Seq("W2", "A8"),
      (s, dir) => {
        // Day-7 retention by signup cohort: cohort = a user's first
        // active day; retained = active again exactly 7 days later.
        // distinct (user, day) first — all later joins and counts run
        // on the deduplicated activity relation, which at 100 TB is
        // orders of magnitude smaller than the raw event log. Date
        // arithmetic only (no epoch math): both engines agree on
        // calendar days under the UTC session.
        val d = t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohort = d.groupBy("user_id").agg(min("day").as("cohort"))
        val d7 = d.join(cohort, Seq("user_id"))
          .where(col("day") === date_add(col("cohort"), 7))
          .select("user_id", "cohort")
        cohort.groupBy("cohort").agg(count(lit(1)).as("n_users"))
          .join(d7.groupBy("cohort").agg(count(lit(1)).as("n_d7")),
            Seq("cohort"), "left")
          .select(col("cohort").cast("string").as("cohort"),
            col("n_users"), coalesce(col("n_d7"), lit(0L)).as("n_d7"))
          .orderBy("cohort")
      },
      Some("""WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day
            FROM events),
          cohort AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1),
          d7 AS (SELECT d.user_id, cohort FROM d JOIN cohort USING (user_id)
            WHERE day = cohort + INTERVAL 7 DAY),
          base AS (SELECT cohort, count(*)::BIGINT AS n_users
            FROM cohort GROUP BY 1),
          ret AS (SELECT cohort, count(*)::BIGINT AS n_d7 FROM d7 GROUP BY 1)
        SELECT strftime(base.cohort, '%Y-%m-%d') AS cohort, n_users,
          coalesce(ret.n_d7, 0)::BIGINT AS n_d7
        FROM base LEFT JOIN ret USING (cohort) ORDER BY 1"""),
      "Day-7 retention cohorts (W2 bucketing + A8 network counts): " +
        "dedup to the (user, day) activity relation before any join; " +
        "calendar-exact date math portable across engines."),

    GraftQuery(
      "q_graph_pagerank", Seq("A13", "D4", "J9"),
      (s, dir) => {
        // PageRank over the part co-purchase graph (parts sharing an
        // order are linked — the adjacency family of A13, iterated the
        // way D4's closure iterates reachability). FIXED-POINT INTEGER
        // arithmetic throughout: ranks live at SCALE=1e12, each
        // iteration is r'(v) = (15*(SCALE div n) + 85*sum_{u->v}
        // (r(u) div outdeg(u))) div 100 — every op an integral
        // div/mul/sum of positive bigints, so three unrolled
        // iterations are bit-identical in the oracle with NO float
        // summation-order hazard (a double PageRank would hash-drift
        // under Spark's unordered partial aggregation). Scale shape:
        // the per-order self-join is bounded by order size (TPC-H
        // lineitems per order <= 7), edges/degrees hash-partition on
        // node, each iteration is one shuffle on dst; the graph is
        // symmetric so every node has out-edges (no dangling mass).
        // Top-10 via TakeOrdered.
        val Scale = 1000000000000L
        val li = t(s, dir, "lineitem")
          .where(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val edges = li.toDF("ok", "src")
          .join(li.toDF("ok", "dst"), Seq("ok"))
          .where(col("src") =!= col("dst"))
          .select("src", "dst").distinct()
          .localCheckpoint(eager = false) // reused by 3 iterations + degrees
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg"))
        val nDf = deg.agg(count(lit(1)).as("n"))
        val r0 = deg.select(col("node")).crossJoin(broadcast(nDf))
          .withColumn("r", expr(s"$Scale div n")).select("node", "r")
        val rFinal = (1 to 3).foldLeft(r0) { (ranks, _) =>
          val contribs = edges
            .join(ranks.join(deg, Seq("node")),
              col("src") === col("node"))
            .withColumn("c", expr("r div outdeg"))
            .groupBy(col("dst").as("node")).agg(sum("c").as("sc"))
          deg.select("node").join(contribs, Seq("node"), "left")
            .crossJoin(broadcast(nDf))
            .withColumn("r", expr(
              s"(15 * ($Scale div n) + 85 * coalesce(sc, 0)) div 100"))
            .select("node", "r")
        }
        rFinal.join(deg, Seq("node"))
          .orderBy(col("r").desc, col("node").asc).limit(10)
          .select(col("node"), col("outdeg"), col("r"))
          .orderBy(col("r").desc, col("node").asc)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem WHERE l_orderkey % 11 = 0),
          e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b USING (ok) WHERE a.pk <> b.pk),
          deg AS (SELECT src AS node, count(*)::BIGINT AS outdeg
            FROM e GROUP BY 1),
          n AS (SELECT count(*)::BIGINT AS n FROM deg),
          r0 AS (SELECT node, (1000000000000 // n.n)::BIGINT AS r
            FROM deg, n),
          s1 AS (SELECT e.dst AS node,
              sum(r0.r // deg.outdeg)::BIGINT AS sc
            FROM e JOIN r0 ON r0.node = e.src
              JOIN deg ON deg.node = e.src GROUP BY 1),
          r1 AS (SELECT deg.node, ((15 * (1000000000000 // n.n))
              + 85 * coalesce(s1.sc, 0)) // 100 AS r
            FROM deg LEFT JOIN s1 ON s1.node = deg.node, n),
          s2 AS (SELECT e.dst AS node,
              sum(r1.r // deg.outdeg)::BIGINT AS sc
            FROM e JOIN r1 ON r1.node = e.src
              JOIN deg ON deg.node = e.src GROUP BY 1),
          r2 AS (SELECT deg.node, ((15 * (1000000000000 // n.n))
              + 85 * coalesce(s2.sc, 0)) // 100 AS r
            FROM deg LEFT JOIN s2 ON s2.node = deg.node, n),
          s3 AS (SELECT e.dst AS node,
              sum(r2.r // deg.outdeg)::BIGINT AS sc
            FROM e JOIN r2 ON r2.node = e.src
              JOIN deg ON deg.node = e.src GROUP BY 1),
          r3 AS (SELECT deg.node, ((15 * (1000000000000 // n.n))
              + 85 * coalesce(s3.sc, 0)) // 100 AS r
            FROM deg LEFT JOIN s3 ON s3.node = deg.node, n)
        SELECT r3.node, deg.outdeg, r3.r
        FROM r3 JOIN deg ON deg.node = r3.node
        ORDER BY r3.r DESC, r3.node LIMIT 10"""),
      "Fixed-point integer PageRank (damping 0.85, 3 iterations) over " +
        "the part co-purchase graph: order-bounded pair generation, " +
        "one dst-keyed shuffle per iteration, integral div/sum only — " +
        "bit-identical across engines with no float summation-order " +
        "hazard; top-10 via TakeOrdered."),

    GraftQuery(
      "q_graph_triangles", Seq("A13", "D4", "A8"),
      (s, dir) => {
        // Exact triangle counting over the same part co-purchase graph
        // as q_graph_pagerank, with the DEGREE-ORDERED orientation that
        // makes it survive skew at scale: orient every undirected edge
        // low→high by (degree, id), so wedge generation per node is
        // bounded by its ORIENTED out-degree — O(sqrt(E)) max even for
        // a celebrity hub (vs the raw-degree square that melts a
        // naive neighbor self-join). The orientation is a total order,
        // so each triangle materializes exactly once at its
        // smallest-(deg,id) apex; closure is one (v,w) equi-join back
        // to the oriented edge set. The result SET is
        // orientation-independent, so the oracle counts the identical
        // triangles from the plain id-ordered 3-way join.
        val li = t(s, dir, "lineitem")
          .where(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val und = li.toDF("ok", "a").join(li.toDF("ok", "b"), Seq("ok"))
          .where(col("a") < col("b"))
          .select("a", "b").distinct()
          .localCheckpoint(eager = false) // reused by degrees + wedges + closure
        val deg = und.select(col("a").as("node"))
          .union(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val aFirst = // (deg, id) order decides the orientation
          col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b"))
        val oriented = und
          .join(deg.toDF("a", "da"), Seq("a"))
          .join(deg.toDF("b", "db"), Seq("b"))
          .select(
            when(aFirst, col("a")).otherwise(col("b")).as("src"),
            when(aFirst, col("b")).otherwise(col("a")).as("dst"),
            when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
          .localCheckpoint(eager = false)
        val wedges = oriented.toDF("u", "v", "dv")
          .join(oriented.toDF("u", "w", "dw"), Seq("u"))
          .where(col("dv") < col("dw") ||
            (col("dv") === col("dw") && col("v") < col("w")))
          .select("u", "v", "w")
        val tri = wedges.join(
          oriented.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"))
        val total = tri.agg(count(lit(1)).as("n_triangles"))
        tri.select(explode(array(col("u"), col("v"), col("w")))
            .as("node"))
          .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
          .orderBy(col("tri_cnt").desc, col("node").asc).limit(10)
          .crossJoin(broadcast(total))
          .orderBy(col("tri_cnt").desc, col("node").asc)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem WHERE l_orderkey % 11 = 0),
          und AS (SELECT DISTINCT a.pk AS a, b.pk AS b
            FROM li a JOIN li b USING (ok) WHERE a.pk < b.pk),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
          tot AS (SELECT count(*)::BIGINT AS n_triangles FROM tri),
          pern AS (SELECT node, count(*)::BIGINT AS tri_cnt FROM (
              SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
            GROUP BY 1),
          top AS (SELECT node, tri_cnt FROM pern
            ORDER BY tri_cnt DESC, node LIMIT 10)
        SELECT t.node, t.tri_cnt, tot.n_triangles FROM top t, tot
        ORDER BY tri_cnt DESC, node"""),
      "Exact triangle counting with degree-ordered edge orientation: " +
        "per-node wedge work bounded by oriented out-degree (hub-" +
        "safe), each triangle found once at its min-(deg,id) apex, " +
        "closure as one equi-join; per-node top-10 plus global total."),

    GraftQuery(
      "q_graph_kcore", Seq("D4", "A13", "A8"),
      (s, dir) => {
        // Degeneracy peel toward the k=10 core of the co-purchase
        // graph: 3 UNROLLED rounds of drop-degree-<k, recompute —
        // each round one count-shaped aggregation plus two semi-joins
        // (never a node×node product), with the tiny edge survivor
        // set checkpointed between rounds so the final plan stays
        // shallow. Fixed depth keeps both engines bit-identical (a
        // to-fixpoint peel is the GraphClosure-style size-gated loop
        // — same per-round plan, driver-controlled stop; 3 rounds is
        // the oracle-replayable slice and already cascades: removing
        // a weak node drags its neighbors' degrees down next round).
        val k = 10
        val li = t(s, dir, "lineitem")
          .where(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val e0 = li.toDF("ok", "a").join(li.toDF("ok", "b"), Seq("ok"))
          .where(col("a") =!= col("b"))
          .select(col("a").as("src"), col("b").as("dst")).distinct()
          .localCheckpoint(eager = false)
        val e3 = (1 to 3).foldLeft(e0) { (e, _) =>
          val keep = e.groupBy("src").agg(count(lit(1)).as("c"))
            .where(col("c") >= k).select("src")
          e.join(keep, Seq("src"), "left_semi")
            .join(keep.toDF("dst"), Seq("dst"), "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager = false)
        }
        val deg = e3.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val tot = deg.agg(count(lit(1)).as("n_core"))
        deg.orderBy(col("deg").desc, col("node").asc).limit(20)
          .crossJoin(broadcast(tot))
          .orderBy(col("deg").desc, col("node").asc)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem WHERE l_orderkey % 11 = 0),
          e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b USING (ok) WHERE a.pk <> b.pk),
          k1 AS (SELECT src FROM e0 GROUP BY 1 HAVING count(*) >= 10),
          e1 AS (SELECT src, dst FROM e0
            WHERE src IN (SELECT src FROM k1)
              AND dst IN (SELECT src FROM k1)),
          k2 AS (SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 10),
          e2 AS (SELECT src, dst FROM e1
            WHERE src IN (SELECT src FROM k2)
              AND dst IN (SELECT src FROM k2)),
          k3 AS (SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 10),
          e3 AS (SELECT src, dst FROM e2
            WHERE src IN (SELECT src FROM k3)
              AND dst IN (SELECT src FROM k3)),
          deg AS (SELECT src AS node, count(*)::BIGINT AS deg
            FROM e3 GROUP BY 1),
          tot AS (SELECT count(*)::BIGINT AS n_core FROM deg),
          top AS (SELECT node, deg FROM deg
            ORDER BY deg DESC, node LIMIT 20)
        SELECT t.node, t.deg, tot.n_core FROM top t, tot
        ORDER BY deg DESC, node"""),
      "3-round k=10 degeneracy peel: per round one degree aggregation " +
        "+ two semi-joins over the shrinking edge set (checkpointed), " +
        "cascading removals, top-20 core nodes + core size — the " +
        "fixed-depth oracle-replayable slice of the k-core fixpoint."),

    GraftQuery(
      "q_events_anomaly", Seq("A9", "W2", "W8"),
      (s, dir) => {
        // Rolling z-score anomaly detection on the hourly event-count
        // series — the ops-dashboard staple (trailing-baseline spike
        // detection). The trailing window is the PREVIOUS 6 observed
        // hourly buckets (rows frame, so the current point never
        // contaminates its own baseline). Float discipline: m, S, SS
        // are exact integer window sums, and z = (6x - S) /
        // sqrt(6*SS - S^2) — numerator and radicand exact ints, ONE
        // sqrt + ONE division + round(4), so both engines compute the
        // identical double. Zero-variance baselines emit NULL z (not
        // +-inf). Scale shape: the global-ordered window runs over the
        // POST-AGGREGATION hourly rollup (one row per hour — a few
        // thousand rows even at 100 TB of raw events), never the raw
        // table; the only big-data pass is the hash-partitioned
        // groupBy(hour).
        val hourly = t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy("hr").rowsBetween(-6, -1)
        hourly
          .withColumn("m", count("cnt").over(w))
          .withColumn("s", sum("cnt").over(w))
          .withColumn("ss", sum(col("cnt") * col("cnt")).over(w))
          .where(col("m") === 6)
          .withColumn("z", when(expr("6 * ss - s * s > 0"),
            round(expr("(6 * cnt - s)").cast("double") /
              sqrt(expr("6 * ss - s * s").cast("double")), 4)))
          .select(
            date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
            col("cnt"), col("z"),
            coalesce(col("z") < -2.0 || col("z") > 2.0, lit(false))
              .as("is_anomaly"))
          .orderBy("bucket")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS hr,
              count(*)::BIGINT AS cnt
            FROM events GROUP BY 1),
          win AS (SELECT hr, cnt,
              count(cnt) OVER f AS m,
              sum(cnt) OVER f AS s,
              sum(cnt * cnt) OVER f AS ss
            FROM hourly
            WINDOW f AS (ORDER BY hr
              ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
          sc AS (SELECT hr, cnt,
              CASE WHEN 6 * ss - s * s > 0 THEN
                round((6 * cnt - s)::DOUBLE /
                  sqrt((6 * ss - s * s)::DOUBLE), 4)
              END AS z
            FROM win WHERE m = 6)
        SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS bucket, cnt, z,
          coalesce(z < -2.0 OR z > 2.0, false) AS is_anomaly
        FROM sc ORDER BY 1"""),
      "Trailing-baseline z-score anomaly detection over the hourly " +
        "event series: exact integer window sums feed one sqrt + one " +
        "division (cross-engine-identical doubles), current point " +
        "excluded from its own baseline, window only over the tiny " +
        "post-aggregation series."),

    GraftQuery(
      "q_agg_rollup", Seq("A8", "P6"),
      (s, dir) =>
        // Multidimensional subtotal aggregation — the OLAP ROLLUP the
        // pricing-summary family implies but never materializes:
        // (flag, status) leaf groups, per-flag subtotals, and the
        // grand total in ONE pass (Spark plans rollup as a single
        // Expand + hash aggregate — each input row feeds all three
        // grouping sets map-side, so the subtotals cost no extra scan
        // and no extra shuffle beyond the widened key space).
        // grouping_id uses the same bit order in both engines
        // (leftmost column = most significant bit); measures are
        // exact-int counts and 2-decimal rounded sums.
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            grouping_id().as("gid"))
          // subtotal rows coalesce their rolled-up dimension to 'ALL':
          // the gid column already encodes which levels rolled up, and
          // non-float NULLs defeat the gate's row-equality compare
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("n"), col("sum_qty"), col("gid"))
          .orderBy("gid", "flag", "status"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
          coalesce(l_linestatus, 'ALL') AS status,
          count(*)::BIGINT AS n,
          round(sum(l_quantity), 2) AS sum_qty,
          grouping(l_returnflag, l_linestatus)::BIGINT AS gid
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, flag, status"""),
      "OLAP ROLLUP subtotals: leaf, per-flag, and grand-total groups " +
        "in one Expand + hash-aggregate pass (no extra scans), " +
        "cross-engine grouping_id bit parity pinned by the oracle."),

    GraftQuery(
      "q_agg_hll", Seq("A8", "A9"),
      (s, dir) => {
        // HyperLogLog distinct-count sketch, per group — the 100 TB
        // answer to "distinct orders per flag": exact countDistinct
        // shuffles every key; the sketch shuffles at most 4096
        // registers per group (map-side partial max) and merges across
        // shards by max with no re-scan. Registers are integer-exact
        // (graft_hash64 top-12-bit bucket, binary-digit-length rho) so
        // the oracle rebuilds the IDENTICAL sketch; the estimate is
        // the raw harmonic-mean formula from an exact bigint-scaled
        // denominator (one IEEE multiply/divide — no libm ln, see
        // Sketches.hllEstimate). The exact count rides along as the
        // audit: the query MEASURES the sketch error per group.
        val li = t(s, dir, "lineitem")
        val regs = Sketches.hllRegisters(
          li, col("l_orderkey"), Seq("l_returnflag"), p = 12)
        val est = Sketches.hllEstimate(regs, Seq("l_returnflag"), p = 12)
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct("l_orderkey").as("exact_nd"))
        est.join(broadcast(exact), Seq("l_returnflag"))
          .withColumn("err_pct", expr(
            "round((hll_est - CAST(exact_nd AS DOUBLE)) / " +
              "CAST(exact_nd AS DOUBLE) * 100.0, 2)"))
          .select("l_returnflag", "nonempty", "z_scaled", "hll_est",
            "exact_nd", "err_pct")
          .orderBy("l_returnflag")
      },
      Some("""WITH k AS (SELECT DISTINCT l_returnflag, l_orderkey
              FROM lineitem),
          h AS (SELECT l_returnflag,
              ('0x' || substr(md5(l_orderkey::VARCHAR),1,15))::BIGINT
                AS hh FROM k),
          r AS (SELECT l_returnflag, hh // 281474976710656 AS bucket,
              hh % 281474976710656 AS w FROM h),
          regs AS (SELECT l_returnflag, bucket,
              max(CASE WHEN w = 0 THEN 49
                ELSE 49 - length(bin(w)) END)::BIGINT AS reg
            FROM r GROUP BY 1, 2),
          z AS (SELECT l_returnflag, count(*)::BIGINT AS nonempty,
              sum(1::BIGINT << (49 - reg))::BIGINT AS zpart
            FROM regs GROUP BY 1),
          e AS (SELECT l_returnflag, nonempty,
              (zpart + (4096 - nonempty) *
                (1::BIGINT << 49))::BIGINT AS z_scaled FROM z),
          x AS (SELECT l_returnflag, nonempty, z_scaled,
              round((0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0 *
                562949953421312.0 / z_scaled::DOUBLE, 1) AS hll_est
            FROM e),
          ex AS (SELECT l_returnflag,
              count(DISTINCT l_orderkey)::BIGINT AS exact_nd
            FROM lineitem GROUP BY 1)
        SELECT x.l_returnflag, nonempty, z_scaled, hll_est, exact_nd,
          round((hll_est - exact_nd::DOUBLE) / exact_nd::DOUBLE
            * 100.0, 2) AS err_pct
        FROM x JOIN ex USING (l_returnflag) ORDER BY 1"""),
      "HyperLogLog distinct sketch (p=12) with bit-reproducible " +
        "registers and an exact bigint-scaled denominator; raw " +
        "estimate plus the exact distinct count as the measured " +
        "error audit — registers, not keys, cross the shuffle."),

    GraftQuery(
      "q_agg_hll_setops", Seq("A8", "D7"),
      (s, dir) => {
        // Sketch SET ALGEBRA: how many distinct orders appear under
        // BOTH of two return flags — answered from the per-flag HLL
        // registers alone. Union sketches are exact sketch-of-union
        // (bucket-wise max, the merge law); the intersection estimate
        // is inclusion-exclusion est(x)+est(y)-est(x∪y) on the raw
        // estimates. At 100 TB this answers any overlap question
        // from the register tables without re-scanning — the exact
        // overlap rides along as the measured error, because I-E
        // error compounds and should be REPORTED, not assumed.
        //
        // Every flag row carries its own label and the labels of the
        // two pairs that hold it, so one register aggregation by
        // (label, bucket) builds the three flag sketches and the three
        // union sketches (the union's bucket maximum is the maximum
        // over both flags' rows) and hllEstimate runs once. The exact
        // side is the distinct (label, order) count per label, and the
        // exact overlap is its inclusion-exclusion |x|+|y|-|x∪y|. Both
        // sides read the one distinct (label, order) table and meet in
        // a shuffled hash join on the label, whose two inputs share the
        // label partitioning: no broadcast, so no stage whose creation
        // waits on only one side. The estimates join as the optional
        // side: every label has one, and a plan that reads none
        // (count()) drops the sketch branch.
        val li = t(s, dir, "lineitem")
        val pairs = Seq(("A", "N"), ("A", "R"), ("N", "R"))
        def pair(x: String, y: String) = s"$x+$y"
        val labels = typedLit(pairs.flatMap(p => Seq(p._1, p._2)).distinct
          .map(f => f -> (f +: pairs.collect {
            case (x, y) if x == f || y == f => pair(x, y) })).toMap)
        // each label's (pair, role) slots: x and y are the pair's
        // flags, u its union
        val roles = typedLit(pairs.flatMap { case (x, y) =>
            val p = pair(x, y)
            Seq(x -> (p, "x"), y -> (p, "y"), p -> (p, "u"))
          }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) })
        val keys = li
          .select(col("l_orderkey").as("ok"),
            explode(element_at(labels, col("l_returnflag"))).as("label"))
          .distinct()
        val exact = keys.groupBy("label").agg(count(lit(1)).as("exact"))
        def slot(role: String, c: String) =
          max(when(col("r._2") === role, col(c)))
        Sketches.hllEstimate(
            Sketches.hllRegisters(keys, col("ok"), Seq("label"), p = 12),
            Seq("label"))
          .hint("shuffle_hash")
          .join(exact, Seq("label"), "right")
          .select(col("hll_est"), col("exact"),
            explode(element_at(roles, col("label"))).as("r"))
          .groupBy(col("r._1").as("pair"))
          .agg(slot("x", "hll_est").as("est_x"),
            slot("y", "hll_est").as("est_y"),
            slot("u", "hll_est").as("est_union"),
            (slot("x", "exact") + slot("y", "exact") - slot("u", "exact"))
              .as("exact_both"))
          // pairs that share no order have no overlap row
          .where(col("exact_both") > 0)
          .select(col("pair"), col("est_x"), col("est_y"),
            col("est_union"),
            expr("round(est_x + est_y - est_union, 1)").as("est_both"),
            col("exact_both"))
          .orderBy("pair")
      },
      Some("""WITH k AS (SELECT DISTINCT l_returnflag AS f,
              l_orderkey AS ok FROM lineitem),
          h AS (SELECT f, ('0x' || substr(md5(ok::VARCHAR),1,15))
              ::BIGINT AS hh FROM k),
          r AS (SELECT f, hh // 281474976710656 AS bucket,
              hh % 281474976710656 AS w FROM h),
          regs AS (SELECT f, bucket,
              max(CASE WHEN w = 0 THEN 49
                ELSE 49 - length(bin(w)) END)::BIGINT AS reg
            FROM r GROUP BY 1, 2),
          est AS (SELECT f,
              round((0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                * 562949953421312.0 /
                (sum(1::BIGINT << (49 - reg)) +
                 (4096 - count(*)) * (1::BIGINT << 49))::DOUBLE, 1)
                AS hll_est
            FROM regs GROUP BY 1),
          pr(pair, fx, fy) AS (VALUES ('A+N', 'A', 'N'),
            ('A+R', 'A', 'R'), ('N+R', 'N', 'R')),
          uregs AS (SELECT pr.pair, regs.bucket,
              max(regs.reg)::BIGINT AS reg
            FROM pr JOIN regs ON regs.f IN (pr.fx, pr.fy)
            GROUP BY 1, 2),
          uest AS (SELECT pair,
              round((0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                * 562949953421312.0 /
                (sum(1::BIGINT << (49 - reg)) +
                 (4096 - count(*)) * (1::BIGINT << 49))::DOUBLE, 1)
                AS est_union
            FROM uregs GROUP BY 1),
          exact AS (SELECT a.f AS fx, b.f AS fy,
              count(DISTINCT a.ok)::BIGINT AS exact_both
            FROM k a JOIN k b ON a.ok = b.ok AND a.f < b.f
            GROUP BY 1, 2)
        SELECT pr.pair, ex.hll_est AS est_x, ey.hll_est AS est_y,
          uest.est_union,
          round(ex.hll_est + ey.hll_est - uest.est_union, 1)
            AS est_both,
          exact.exact_both
        FROM pr JOIN est ex ON ex.f = pr.fx
          JOIN est ey ON ey.f = pr.fy
          JOIN uest USING (pair)
          JOIN exact ON exact.fx = pr.fx AND exact.fy = pr.fy
        ORDER BY pair"""),
      "HLL set algebra: union sketches by bucket-wise max (exact " +
        "sketch-of-union), intersection by inclusion-exclusion on " +
        "raw estimates, with the exact overlap reported alongside — " +
        "overlap questions answered from registers, not re-scans."),

    GraftQuery(
      "q_agg_cms", Seq("A8"),
      (s, dir) => {
        // Count-Min point-frequency sketch: d=4 hash rows x w=1024
        // buckets of partial-sum cells — fixed memory whatever the
        // key universe, mergeable by cell-wise sum. The probe joins
        // the exact top-10 parts (the audit candidates) against the
        // BROADCAST sketch and takes the min over the 4 cells; the
        // one-sided guarantee est >= true is visible in the
        // overcount column (collisions only ever inflate).
        val li = t(s, dir, "lineitem")
        val exact = li
          .groupBy(col("l_partkey").cast("string").as("key"))
          .agg(count(lit(1)).as("true_cnt"))
        // the 4x1024-cell sketch and the exact top-10 are independent
        // aggregations over the same scan: materialize both from two
        // driver threads (guide §2.6). top was already checkpointed
        // (10 rows, two consumers); the bounded sketch rides along.
        val (sk, top) = graft.operators.Par.concurrently(
          Sketches.cmsSketch(li, col("l_partkey"), d = 4, w = 1024)
            .localCheckpoint(),
          exact
            .orderBy(col("true_cnt").desc, col("key").asc).limit(10)
            .localCheckpoint())
        Sketches.cmsEstimate(sk, top.select("key"), d = 4, w = 1024)
          .join(broadcast(top), Seq("key"))
          .withColumn("overcount", col("cms_est") - col("true_cnt"))
          .select("key", "true_cnt", "cms_est", "overcount")
          .orderBy(col("true_cnt").desc, col("key").asc)
      },
      Some("""WITH keys AS (SELECT l_partkey::VARCHAR AS key,
              count(*)::BIGINT AS true_cnt FROM lineitem GROUP BY 1),
          top AS (SELECT key, true_cnt FROM keys
            ORDER BY true_cnt DESC, key LIMIT 10),
          cells AS (SELECT r.i AS row,
              ('0x' || substr(md5(r.i::VARCHAR || ':' ||
                l_partkey::VARCHAR),1,15))::BIGINT % 1024 AS bucket,
              count(*)::BIGINT AS cnt
            FROM lineitem, range(4) r(i) GROUP BY 1, 2),
          est AS (SELECT t.key, min(c.cnt)::BIGINT AS cms_est
            FROM top t CROSS JOIN range(4) r(i)
            JOIN cells c ON c.row = r.i AND c.bucket =
              ('0x' || substr(md5(r.i::VARCHAR || ':' ||
                t.key),1,15))::BIGINT % 1024
            GROUP BY 1)
        SELECT t.key, t.true_cnt, e.cms_est,
          e.cms_est - t.true_cnt AS overcount
        FROM top t JOIN est e USING (key)
        ORDER BY true_cnt DESC, key"""),
      "Count-Min frequency sketch (4x1024 cells, graft_hash64 rows): " +
        "fixed-size mergeable cells, broadcast probe for the exact " +
        "top-10 candidates, one-sided overcount audited per key."),

    GraftQuery(
      "q_agg_heavyhitters", Seq("A8", "A9"),
      (s, dir) =>
        // EXACT threshold heavy hitters without shuffling the key
        // universe: pass 1 runs per-partition Misra-Gries summaries
        // (k=2047 counters, narrow mapPartitions — the §7.3-sanctioned
        // imperative kernel), whose union provably contains every key
        // with total frequency > N/2048; pass 2 recounts candidates
        // exactly and applies the cross-multiplied integer threshold.
        // The result EQUALS the oracle's group-everything answer —
        // the point is the plan shape: at 100 TB the groupBy-all
        // shuffle carries billions of keys, this one carries only
        // the bounded candidate set.
        Sketches.heavyHitters(
            t(s, dir, "lineitem"), col("l_partkey"), k = 2047)
          .orderBy(col("cnt").desc, col("key").asc),
      Some("""WITH c AS (SELECT l_partkey::VARCHAR AS key,
              count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1),
          n AS (SELECT count(*)::BIGINT AS n_total FROM lineitem)
        SELECT key, cnt, n_total FROM c, n
        WHERE cnt * 2048 > n_total ORDER BY cnt DESC, key"""),
      "Two-pass exact heavy hitters: per-partition Misra-Gries " +
        "candidates (superset guarantee above N/(k+1)), exact " +
        "candidate recount, integer cross-multiplied threshold — " +
        "identical answer to a full groupBy at a fraction of the " +
        "shuffle."),

    GraftQuery(
      "q_sample_stratified", Seq("D8", "A8"),
      (s, dir) =>
        // Stratified sampling with exact per-stratum quotas — the
        // training-data sampling mode a GLOBAL weighted draw
        // (q_sample_weighted) cannot provide over skewed strata (a
        // dominant language would starve the rest). Same deterministic
        // exponential clocks (md5-derived U(0,1], so the oracle
        // recomputes the draw bit for bit), quota enforced by ONE
        // hash-partitioned per-language window — no global sort.
        Sampling.stratifiedSample(
            t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
            col("lang"), col("n_chars").cast("double"), col("doc_id"),
            nPerGroup = 8)
          .orderBy("lang", "doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, n_chars,
            row_number() OVER (PARTITION BY lang ORDER BY
              -ln((('0x' || substr(md5(doc_id::VARCHAR),1,8))::UBIGINT
                + 1.0) / 4294967296.0) / n_chars, doc_id) AS rk
          FROM documents)
        WHERE rk <= 8 ORDER BY lang, doc_id"""),
      "Per-stratum weighted sampling without replacement: exact " +
        "8-doc quota per language via deterministic exponential " +
        "clocks and one partitioned window — reproducible across " +
        "runs, engines, and repartitionings."),

    GraftQuery(
      "q_profile_table", Seq("A8", "A9", "P6"),
      (s, dir) => {
        // Table profiling — the data-quality pass every warehouse
        // runs before trusting a feed: per-column row/null/distinct
        // counts and min/max. The null/min/max measures share ONE
        // scan; each EXACT distinct count runs as its own
        // single-column aggregation over a PRUNED scan (map-side
        // partial distinct, narrow shuffle) — a combined
        // multi-distinct agg plans an Expand that multiplies every
        // row by the distinct count (measured 3x slower at bench
        // scale than the four narrow jobs). The 1-row results stitch
        // by broadcast. Min/max stringify through per-type
        // DETERMINISTIC formats (ints as ints, integral doubles via
        // bigint, timestamps via explicit format) so the oracle
        // cannot drift on float/timestamp rendering.
        val li = t(s, dir, "lineitem")
        def nd(c: String, alias: String) =
          broadcast(li.select(c).distinct()
            .agg(count(lit(1)).as(alias)))
        val a = li.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
            .as("nn_ok"),
          min("l_orderkey").cast("string").as("mn_ok"),
          max("l_orderkey").cast("string").as("mx_ok"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
            .as("nn_q"),
          min("l_quantity").cast("bigint").cast("string").as("mn_q"),
          max("l_quantity").cast("bigint").cast("string").as("mx_q"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L))
            .as("nn_rf"),
          min("l_returnflag").as("mn_rf"),
          max("l_returnflag").as("mx_rf"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
            .as("nn_sd"),
          date_format(min("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
            .as("mn_sd"),
          date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
            .as("mx_sd"))
          .crossJoin(nd("l_orderkey", "nd_ok"))
          .crossJoin(nd("l_quantity", "nd_q"))
          .crossJoin(nd("l_returnflag", "nd_rf"))
          .crossJoin(nd("l_shipdate", "nd_sd"))
        a.selectExpr(
          """stack(4,
            'l_orderkey', n, nn_ok, nd_ok, mn_ok, mx_ok,
            'l_quantity', n, nn_q, nd_q, mn_q, mx_q,
            'l_returnflag', n, nn_rf, nd_rf, mn_rf, mx_rf,
            'l_shipdate', n, nn_sd, nd_sd, mn_sd, mx_sd)
            as (col_name, n_rows, n_null, n_distinct, min_s, max_s)""")
          .orderBy("col_name")
      },
      Some("""WITH a AS (SELECT count(*)::BIGINT AS n,
            sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
              AS nn_ok,
            count(DISTINCT l_orderkey) AS nd_ok,
            min(l_orderkey)::VARCHAR AS mn_ok,
            max(l_orderkey)::VARCHAR AS mx_ok,
            sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT
              AS nn_q,
            count(DISTINCT l_quantity) AS nd_q,
            min(l_quantity)::BIGINT::VARCHAR AS mn_q,
            max(l_quantity)::BIGINT::VARCHAR AS mx_q,
            sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
              ::BIGINT AS nn_rf,
            count(DISTINCT l_returnflag) AS nd_rf,
            min(l_returnflag) AS mn_rf,
            max(l_returnflag) AS mx_rf,
            sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT
              AS nn_sd,
            count(DISTINCT l_shipdate) AS nd_sd,
            strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS mn_sd,
            strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS mx_sd
          FROM lineitem)
        SELECT 'l_orderkey' AS col_name, n AS n_rows, nn_ok AS n_null,
            nd_ok AS n_distinct, mn_ok AS min_s, mx_ok AS max_s FROM a
        UNION ALL SELECT 'l_quantity', n, nn_q, nd_q, mn_q, mx_q FROM a
        UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf, mn_rf, mx_rf
          FROM a
        UNION ALL SELECT 'l_shipdate', n, nn_sd, nd_sd, mn_sd, mx_sd
          FROM a
        ORDER BY col_name"""),
      "One-scan table profiling: per-column null/distinct counts and " +
        "min/max with per-type deterministic string rendering — the " +
        "data-quality audit pass, unpivoted via stack (no extra " +
        "scans).")
    ,

    GraftQuery(
      "q_events_twa", Seq("W8", "A9", "W2"),
      (s, dir) => {
        // Time-weighted average of a sampled signal — the IoT/finance
        // aggregation a plain avg gets wrong when sampling is uneven
        // (sample-and-hold: each reading holds until the next one).
        // Exactness: the 2-decimal `value` scales to an exact 1e2
        // integer, hold durations are exact µs longs from lead(ts),
        // so sum(v100 * dur) and sum(dur) are exact integer sums
        // (order-independent) and TWA leaves integer land in ONE
        // division. A user's last reading has no hold window and is
        // excluded (n_holds counts the weighted ones). Scale shape:
        // one user-partitioned window (hash-partitioned, no global
        // sort), one aggregation.
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("v100",
            expr("cast(round(value * 100) as bigint)"))
          .withColumn("us", expr("unix_micros(ts)"))
          .withColumn("dur", lead("us", 1).over(w) - col("us"))
          .where(col("dur").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_holds"),
            sum("dur").as("total_us"),
            round(sum(col("v100") * col("dur")).cast("double") /
              (sum("dur") * lit(100.0)), 4).as("twa"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
              round(value * 100)::BIGINT AS v100,
              epoch_us(ts) AS us,
              lead(epoch_us(ts)) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) - epoch_us(ts) AS dur
            FROM events)
        SELECT user_id, count(*)::BIGINT AS n_holds,
          sum(dur)::BIGINT AS total_us,
          round(sum(v100 * dur)::DOUBLE / (sum(dur) * 100.0), 4) AS twa
        FROM e WHERE dur IS NOT NULL
        GROUP BY 1 ORDER BY 1"""),
      "Sample-and-hold time-weighted average per user: exact 1e2 " +
        "integer values x exact µs hold durations, one division at " +
        "the end — the uneven-sampling aggregation plain avg gets " +
        "wrong; one partitioned window + one aggregation."),

    GraftQuery(
      "q_scd2_orders", Seq("W8", "E6", "A8"),
      (s, dir) => {
        // SCD Type-2 snapshot merge — the warehouse versioned-
        // dimension pattern: fold a revision feed into the base table
        // and derive validity intervals per business key with ONE
        // key-partitioned window (valid_to = lead(valid_from), open
        // interval = current). The revision feed is synthesized
        // deterministically (every 7th order re-prices +100.00 thirty
        // days later) so the oracle reproduces it exactly; prices are
        // 2-decimal doubles summed as exact 1e2 integers.
        val base = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            col("o_orderstatus").as("status"),
            expr("cast(round(o_totalprice * 100) as bigint)")
              .as("p100"),
            col("o_orderdate").as("valid_from"))
        val rev = base.where(col("k") % 7 === 0)
          .withColumn("p100", col("p100") + lit(10000L))
          .withColumn("valid_from",
            expr("valid_from + interval 30 days"))
        val w = Window.partitionBy("k").orderBy("valid_from")
        val scd = base.unionByName(rev)
          .withColumn("valid_to", lead("valid_from", 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
        scd.groupBy("status")
          .agg(count(lit(1)).as("n_versions"),
            sum(when(col("is_current"), 1L).otherwise(0L))
              .as("n_current"),
            (sum(when(col("is_current"), col("p100"))
              .otherwise(0L)) / 100.0).as("current_total"))
          .orderBy("status")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
              o_orderstatus AS status,
              round(o_totalprice * 100)::BIGINT AS p100,
              o_orderdate AS valid_from
            FROM orders),
          rev AS (SELECT k, status, p100 + 10000 AS p100,
              valid_from + INTERVAL 30 DAY AS valid_from
            FROM base WHERE k % 7 = 0),
          u AS (SELECT * FROM base UNION ALL SELECT * FROM rev),
          scd AS (SELECT *, lead(valid_from) OVER (PARTITION BY k
                ORDER BY valid_from) AS valid_to
            FROM u)
        SELECT status, count(*)::BIGINT AS n_versions,
          sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)::BIGINT
            AS n_current,
          sum(CASE WHEN valid_to IS NULL THEN p100 ELSE 0 END) / 100.0
            AS current_total
        FROM scd GROUP BY 1 ORDER BY 1"""),
      "SCD Type-2 versioned-dimension merge: deterministic revision " +
        "feed folded into the base, validity intervals from one " +
        "key-partitioned lead window, current-snapshot totals as " +
        "exact integer sums."),

    GraftQuery(
      "q_join_asof_fwd", Seq("J10", "W8"),
      (s, dir) => {
        // Forward as-of: each view matches the user's NEXT purchase —
        // time-to-convert, the mirror of q_join_asof's attribution
        // direction. Same union + one-window-pass kernel
        // (AsOfJoin.asOfNext), one key shuffle, no nested loop; an
        // equal-timestamp purchase is a valid match (rights sort
        // after lefts at ties). Gap math in exact µs before ONE
        // division.
        val ev = t(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "ts")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "ts")
        AsOfJoin.asOfNext(views, purchases, "user_id", "ts")
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_views"),
            count(col("__matched_ts")).as("n_converted"),
            round(avg((unix_micros(col("__matched_ts")) -
              unix_micros(col("ts"))) / 1000000.0), 3)
              .as("avg_ttc_s"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (SELECT user_id, ts FROM events
              WHERE event_type='view'),
            p AS (SELECT user_id, ts FROM events
              WHERE event_type='purchase'),
            j AS (SELECT v.user_id, v.ts AS vts, p.ts AS pts
                  FROM v ASOF LEFT JOIN p
                    ON v.user_id = p.user_id AND v.ts <= p.ts)
        SELECT user_id, count(*) AS n_views,
          count(pts) AS n_converted,
          round(avg((epoch_us(pts)-epoch_us(vts))/1000000.0),3)
            AS avg_ttc_s
        FROM j GROUP BY 1 ORDER BY 1"""),
      "Forward as-of join (next purchase >= each view): time-to-" +
        "convert via the mirrored union + running-window kernel."),

    GraftQuery(
      "q_join_fuzzy", Seq("J11", "J6", "D1"),
      (s, dir) => {
        // Blocked fuzzy entity-resolution join: distinct part names
        // that are within edit distance 2 of each other. Candidates
        // come from a shared-TOKEN blocking key (the ER classic —
        // explode each name's words, equi-join on the word), NEVER
        // all-pairs: a hot block of k names costs k rows into the
        // bucket join. Levenshtein runs only on candidate pairs;
        // pair dedup by name_a < name_b; the per-distance pair count
        // plus an order-independent md5-derived pair fingerprint
        // prove the MATCHED PAIR SET (not just counts) is identical
        // across engines.
        val names = t(s, dir, "part").select("p_name").distinct()
          .withColumn("tok", explode(split(col("p_name"), " ")))
        val cands = names.toDF("a", "tok")
          .join(names.toDF("b", "tok"), Seq("tok"))
          .where(col("a") < col("b"))
          .select("a", "b").distinct()
        cands
          .withColumn("dist", levenshtein(col("a"), col("b")))
          .where(col("dist") <= 2)
          .groupBy("dist")
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr(graft.operators.TextOps.hash64(
              "concat(a, '|', b)") + " % 1000000007")).as("pairs_fp"))
          .orderBy("dist")
      },
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part),
          tok AS (SELECT p_name, unnest(string_split(p_name, ' '))
              AS tok FROM n),
          cand AS (SELECT DISTINCT a.p_name AS a, b.p_name AS b
            FROM tok a JOIN tok b ON a.tok = b.tok AND a.p_name < b.p_name),
          m AS (SELECT a, b, levenshtein(a, b) AS dist FROM cand
            WHERE levenshtein(a, b) <= 2)
        SELECT dist, count(*)::BIGINT AS n_pairs,
          sum(('0x' || substr(md5(a || '|' || b),1,15))::BIGINT
            % 1000000007)::BIGINT AS pairs_fp
        FROM m GROUP BY 1 ORDER BY 1"""),
      "Blocked fuzzy join (edit distance <= 2 on part names): " +
        "shared-token blocking feeds the bucket equi-join (k rows " +
        "per hot block, never all-pairs), Levenshtein only on " +
        "candidates, pair-set fingerprint pinned cross-engine."),

    GraftQuery(
      "q_agg_pivot", Seq("A8", "P6"),
      (s, dir) =>
        // PIVOT — long-to-wide reshaping with an EXPLICIT value list
        // (the deterministic form; discovery-mode pivot needs an extra
        // pass to enumerate values and makes the output schema
        // data-dependent). Spark plans explicit-values pivot as one
        // hash aggregate with per-value conditional aggregates — one
        // scan, one shuffle, exactly the CASE-WHEN matrix the oracle
        // spells out. Measures stay exact (integer counts + 2-decimal
        // rounded sums).
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum("l_quantity"), 2).as("qty"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
            AS "F_qty",
          count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F_n",
          round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
            AS "O_qty",
          count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O_n"
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "Explicit-values PIVOT: long-to-wide in one hash-aggregate pass " +
        "(per-value conditional aggregates, no second scan), " +
        "deterministic output schema."),

    GraftQuery(
      "q_events_gapfill", Seq("W2", "W8", "A8"),
      (s, dir) => {
        // Time-series regularization — the resampling step every
        // dashboard/feature pipeline runs on irregular event data:
        // generate the COMPLETE hourly spine between the observed min
        // and max (sequence + explode over a 1-row aggregate — the
        // spine derives from data, no driver-side date math), left
        // join the observed hourly rollup, zero-fill counts, and
        // forward-fill the last observed hourly value-sum (an
        // unbounded-preceding last(ignoreNulls) window — the
        // sample-and-hold twin of q_events_twa). Value sums are exact
        // 1e2 integers; the window runs over the post-aggregation
        // spine only (one row per hour). n_gap flags synthesized
        // hours so downstream knows filled from observed.
        val hourly = t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("cnt"),
            sum(expr("cast(round(value * 100) as bigint)")).as("v100"))
        val spine = hourly
          .agg(min("hr").as("lo"), max("hr").as("hi"))
          .select(explode(expr(
            "sequence(lo, hi, interval 1 hour)")).as("hr"))
        val w = Window.orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, 0)
        spine.join(hourly, Seq("hr"), "left")
          .withColumn("is_gap", col("cnt").isNull)
          .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          .withColumn("held_v", last("v100", ignoreNulls = true).over(w))
          .groupBy(lit(1).as("g"))
          .agg(count(lit(1)).as("n_hours"),
            sum(when(col("is_gap"), 1L).otherwise(0L)).as("n_gaps"),
            sum("cnt").as("n_events"),
            (sum("held_v") / 100.0).as("held_sum"))
          .drop("g")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS hr,
              count(*)::BIGINT AS cnt,
              sum(round(value * 100)::BIGINT)::BIGINT AS v100
            FROM events GROUP BY 1),
          bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
          spine AS (SELECT unnest(generate_series(lo, hi,
              INTERVAL 1 HOUR)) AS hr FROM bounds),
          f AS (SELECT spine.hr, hourly.cnt IS NULL AS is_gap,
              coalesce(hourly.cnt, 0) AS cnt,
              last_value(hourly.v100 IGNORE NULLS) OVER
                (ORDER BY spine.hr ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS held_v
            FROM spine LEFT JOIN hourly ON hourly.hr = spine.hr)
        SELECT count(*)::BIGINT AS n_hours,
          sum(CASE WHEN is_gap THEN 1 ELSE 0 END)::BIGINT AS n_gaps,
          sum(cnt)::BIGINT AS n_events,
          sum(held_v) / 100.0 AS held_sum
        FROM f"""),
      "Hourly gap filling: data-derived spine via sequence+explode, " +
        "zero-filled counts, forward-filled (sample-and-hold) exact " +
        "integer value sums — the resampling pass over the tiny " +
        "post-aggregation series, gaps flagged."),

    GraftQuery(
      "q_agg_corr", Seq("A9", "A8"),
      (s, dir) =>
        // Pearson correlation WITHOUT the built-in corr(): the
        // built-in accumulates running double moments whose partial-
        // merge order varies run to run (and differs from DuckDB's),
        // so its last ulps are not gate-stable. Instead: the five
        // sufficient statistics as EXACT integer sums over 1e2-scaled
        // values (order-independent at any parallelism), widened to
        // decimal(38,0) for the n*Sxy - Sx*Sy products (they pass
        // 2^63 at bench scale), ONE conversion chain to double at the
        // end. Per-returnflag grouping keeps it a plain hash
        // aggregate.
        t(s, dir, "lineitem")
          .withColumn("x", expr("cast(round(l_quantity * 100) as bigint)"))
          .withColumn("y",
            expr("cast(round(l_extendedprice * 100) as bigint)"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .withColumn("corr_qty_price", round(
            (col("n").cast("decimal(38,0)") *
              col("sxy").cast("decimal(38,0)") -
              col("sx").cast("decimal(38,0)") *
              col("sy").cast("decimal(38,0)")).cast("double") /
            (sqrt((col("n").cast("decimal(38,0)") *
              col("sxx").cast("decimal(38,0)") -
              col("sx").cast("decimal(38,0)") *
              col("sx").cast("decimal(38,0)")).cast("double")) *
             sqrt((col("n").cast("decimal(38,0)") *
              col("syy").cast("decimal(38,0)") -
              col("sy").cast("decimal(38,0)") *
              col("sy").cast("decimal(38,0)")).cast("double"))), 6))
          .select("l_returnflag", "n", "corr_qty_price")
          .orderBy("l_returnflag"),
      Some("""WITH m AS (SELECT l_returnflag,
              round(l_quantity * 100)::BIGINT AS x,
              round(l_extendedprice * 100)::BIGINT AS y
            FROM lineitem),
          a AS (SELECT l_returnflag, count(*)::BIGINT AS n,
              sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
              sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
              sum(x * y)::BIGINT AS sxy
            FROM m GROUP BY 1)
        SELECT l_returnflag, n,
          round((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE /
            (sqrt((n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE) *
             sqrt((n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)), 6)
            AS corr_qty_price
        FROM a ORDER BY 1"""),
      "Gate-stable Pearson correlation: five exact integer sufficient " +
        "statistics (order-independent), 128-bit-exact moment " +
        "products, one double conversion chain — where the built-in " +
        "corr()'s merge-order-dependent ulps would hash-drift.")
    ,

    GraftQuery(
      "q_itemsets", Seq("J9", "A8", "W3"),
      (s, dir) => {
        // Frequent-itemset mining at the pair level (market-basket
        // support counts): top-10 part pairs by the number of orders
        // containing both. Pair generation is bounded by basket size
        // (TPC-H lineitems per order <= 7 — the same order-bounded
        // self-join as q_graph_pagerank's edges), direction fixed by
        // a < b so each pair counts once per order, supports via one
        // hash-partitioned (a, b) aggregation, top-10 by TakeOrdered.
        // Confidence-style ratios stay exact: support counts are
        // ints; the lift display does ONE division chain from exact
        // counts.
        //
        // One chain of stages: each side of the self-join carries its
        // part's support (a broadcast lookup of the per-part counts),
        // so the (a, b) aggregation yields the whole row and the top-10
        // needs no join back, and the order count is a scalar subquery
        // (a plan of its own). Branches that run side by side and meet
        // later let adaptive execution number the stages after them in
        // the order the branches finish, and each new numbering
        // compiles new classes. The lookup is a left join: every part
        // has its count, and a plan that reads no support (count())
        // drops the lookup instead of computing it.
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val nOrders = li.select("ok").distinct().agg(count(lit(1))).scalar()
        val withSupp = li.join(
          li.groupBy("pk").agg(count(lit(1)).as("supp")), Seq("pk"), "left")
        withSupp.toDF("a", "ok", "supp_a")
          .join(withSupp.toDF("b", "ok", "supp_b"), Seq("ok"))
          .where(col("a") < col("b"))
          .groupBy("a", "b")
          .agg(count(lit(1)).as("supp_ab"), max("supp_a").as("supp_a"),
            max("supp_b").as("supp_b"))
          .orderBy(col("supp_ab").desc, col("a").asc, col("b").asc)
          .limit(10)
          .withColumn("lift", round(
            (col("supp_ab") * nOrders).cast("double") /
              (col("supp_a") * col("supp_b")), 4))
          .select("a", "b", "supp_ab", "supp_a", "supp_b", "lift")
          .orderBy(col("supp_ab").desc, col("a").asc, col("b").asc)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem),
          n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM li),
          isupp AS (SELECT pk, count(*)::BIGINT AS supp FROM li
            GROUP BY 1),
          p AS (SELECT a.pk AS a, b.pk AS b, count(*)::BIGINT AS supp_ab
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2),
          top AS (SELECT * FROM p
            ORDER BY supp_ab DESC, a, b LIMIT 10)
        SELECT top.a, top.b, top.supp_ab,
          sa.supp AS supp_a, sb.supp AS supp_b,
          round((top.supp_ab * n.n_orders)::DOUBLE /
            (sa.supp * sb.supp), 4) AS lift
        FROM top JOIN isupp sa ON sa.pk = top.a
          JOIN isupp sb ON sb.pk = top.b, n
        ORDER BY supp_ab DESC, a, b"""),
      "Market-basket pair mining: order-bounded pair self-join (never " +
        "all-parts quadratic), exact support counts, top-10 via " +
        "TakeOrdered, lift from one exact-count division."),

    GraftQuery(
      "q_join_pit", Seq("J10", "W8", "A8"),
      (s, dir) => {
        // Point-in-time join — the feature-store correctness problem:
        // each fact must see the dimension version valid AT ITS OWN
        // timestamp, never a later one (training-serving skew is
        // exactly this join done wrong). Dimension = the q_scd2_orders
        // versioned feed (same deterministic revision rule: every 7th
        // order re-prices +100.00 thirty days after the order date);
        // facts = lineitems at their ship date. The interval lookup
        // IS an as-of join (latest valid_from <= fact ts per key), so
        // it rides the shared union + one-window kernel — one key
        // shuffle, no per-fact range scan. Version attribution and
        // price sums stay exact integers.
        val base = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("p100"),
            col("o_orderdate").as("valid_from"),
            lit(1L).as("version"))
        val rev = base.where(col("k") % 7 === 0)
          .withColumn("p100", col("p100") + lit(10000L))
          .withColumn("valid_from",
            expr("valid_from + interval 30 days"))
          .withColumn("version", lit(2L))
        val dim = base.unionByName(rev)
        val facts = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"),
            col("l_shipdate").as("ts"))
        val matched = AsOfJoin.asOfLatest(
          facts, dim.select(col("k"), col("valid_from").as("ts")),
          "k", "ts")
        matched
          .join(dim.select(col("k"), col("valid_from").as("__matched_ts"),
            col("version"), col("p100")),
            Seq("k", "__matched_ts"), "left")
          .groupBy(coalesce(col("version"), lit(0L)).as("version"))
          .agg(count(lit(1)).as("n_lineitems"),
            countDistinct("k").as("n_orders"),
            (sum(coalesce(col("p100"), lit(0L))) / 100.0)
              .as("seen_price_sum"))
          .orderBy("version")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
              round(o_totalprice * 100)::BIGINT AS p100,
              o_orderdate AS valid_from, 1::BIGINT AS version
            FROM orders),
          rev AS (SELECT k, p100 + 10000, valid_from + INTERVAL 30 DAY,
              2::BIGINT
            FROM base WHERE k % 7 = 0),
          dim AS (SELECT * FROM base UNION ALL SELECT * FROM rev),
          f AS (SELECT l_orderkey AS k, l_shipdate AS ts FROM lineitem),
          m AS (SELECT f.k, f.ts, d.version, d.p100
            FROM f ASOF LEFT JOIN dim d
              ON f.k = d.k AND f.ts >= d.valid_from)
        SELECT coalesce(version, 0) AS version,
          count(*)::BIGINT AS n_lineitems,
          count(DISTINCT k) AS n_orders,
          sum(coalesce(p100, 0)) / 100.0 AS seen_price_sum
        FROM m GROUP BY 1 ORDER BY 1"""),
      "Point-in-time dimension lookup (the feature-store join): each " +
        "fact sees the SCD2 version valid at its own timestamp via " +
        "the shared as-of kernel — no training-serving leakage, no " +
        "per-fact range scan; version attribution and sums exact."),

    GraftQuery(
      "q_events_abtest", Seq("A8", "A9", "W8"),
      (s, dir) => {
        // Experiment analysis — the A/B readout every event pipeline
        // ultimately feeds: hash-split users into variants (md5-stable
        // — assignment survives re-runs and corpus growth, the
        // q_pipeline_split discipline), measure view→purchase
        // conversion per variant, and test the difference with the
        // pooled two-proportion z statistic. Conversion = a purchase
        // strictly after the user's FIRST view and within ONE DAY of
        // it (unwindowed, this dense synthetic log converts every
        // user — p=1 has zero variance and z is undefined; the window
        // makes the metric discriminative, the funnel-gate reasoning).
        // Two tiny per-user min-aggregations joined on user_id — no
        // event collection, skew-safe. Counts are exact ints; rates
        // and z leave integer land in one fixed-order double chain,
        // rounded once.
        val ev = t(s, dir, "events")
        val firstView = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v0"))
        val converted = ev.where(col("event_type") === "purchase")
          .join(firstView, Seq("user_id"))
          .where(col("ts") > col("v0") &&
            col("ts") <= col("v0") + expr("interval 1 day"))
          .select("user_id").distinct()
        val variants = firstView
          .withColumn("variant", when(
            expr(s"${graft.operators.TextOps.hash64("cast(user_id as string)")} % 2")
              === 0, "A").otherwise("B"))
          .join(converted.withColumn("c", lit(1L)), Seq("user_id"),
            "left")
          .groupBy("variant")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("c"), lit(0L))).as("conv"))
        val wide = variants.groupBy()
          .agg(
            sum(when(col("variant") === "A", col("n"))).as("n_a"),
            sum(when(col("variant") === "A", col("conv"))).as("conv_a"),
            sum(when(col("variant") === "B", col("n"))).as("n_b"),
            sum(when(col("variant") === "B", col("conv"))).as("conv_b"))
        wide.select(
          col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(col("conv_a").cast("double") / col("n_a"), 4)
            .as("cr_a"),
          round(col("conv_b").cast("double") / col("n_b"), 4)
            .as("cr_b"),
          round(
            (col("conv_a").cast("double") / col("n_a") -
              col("conv_b").cast("double") / col("n_b")) /
            sqrt(
              ((col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)
            .as("z"))
      },
      Some(s"""WITH fv AS (SELECT user_id, min(ts) AS v0 FROM events
            WHERE event_type = 'view' GROUP BY 1),
          conv AS (SELECT DISTINCT e.user_id FROM events e
            JOIN fv ON fv.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > fv.v0
              AND e.ts <= fv.v0 + INTERVAL 1 DAY),
          va AS (SELECT fv.user_id,
              CASE WHEN ('0x' || substr(md5(fv.user_id::VARCHAR),1,15))
                ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
              CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END AS c
            FROM fv LEFT JOIN conv ON conv.user_id = fv.user_id),
          g AS (SELECT
              sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)::BIGINT
                AS n_a,
              sum(CASE WHEN variant = 'A' THEN c ELSE 0 END)::BIGINT
                AS conv_a,
              sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)::BIGINT
                AS n_b,
              sum(CASE WHEN variant = 'B' THEN c ELSE 0 END)::BIGINT
                AS conv_b
            FROM va)
        SELECT n_a, conv_a, n_b, conv_b,
          round(conv_a::DOUBLE / n_a, 4) AS cr_a,
          round(conv_b::DOUBLE / n_b, 4) AS cr_b,
          round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
            sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
              (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
              (1.0 / n_a + 1.0 / n_b)), 4) AS z
        FROM g"""),
      "A/B experiment readout: md5-stable variant assignment, " +
        "view→purchase conversion from two per-user min-aggregations " +
        "(no event collection), exact counts, pooled two-proportion " +
        "z in one fixed-order double chain."),

    GraftQuery(
      "q_events_decay", Seq("A8", "W2"),
      (s, dir) => {
        // Exponentially time-decayed event counts (one-day half-life)
        // — the recency-weighted popularity score feature stores keep
        // per key. The decay weight 2^-age_days is DYADIC, so the
        // whole aggregation stays exact: each event contributes the
        // bigint 2^(30-age) (0 beyond 30 days — below 1e-9 weight),
        // the per-type sum is integer-exact in any summation order
        // (no float decay-factor drift under Spark's unordered
        // partial aggregation), and ONE terminal division renders the
        // score. The reference day is data-derived (global max day,
        // 1-row broadcast); at 100 TB this is a map-side-combined
        // count-shaped aggregation — no window, no per-key state.
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts").cast("date").as("day"))
        val mx = ev.agg(max("day").as("max_day"))
        ev.crossJoin(broadcast(mx))
          .withColumn("age", datediff(col("max_day"), col("day")))
          .withColumn("term", when(col("age") <= 30,
            expr("shiftleft(1L, 30 - age)")).otherwise(lit(0L)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum("term").as("decayed_scaled"))
          .withColumn("decayed", expr(
            "round(CAST(decayed_scaled AS DOUBLE) / 1073741824.0, 6)"))
          .select("event_type", "n_events", "decayed_scaled", "decayed")
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, ts::DATE AS day
              FROM events),
          mx AS (SELECT max(day) AS max_day FROM ev),
          ages AS (SELECT event_type,
              date_diff('day', day, max_day) AS age FROM ev, mx)
        SELECT event_type, count(*)::BIGINT AS n_events,
          sum(CASE WHEN age <= 30 THEN 1::BIGINT << (30 - age)
            ELSE 0 END)::BIGINT AS decayed_scaled,
          round(sum(CASE WHEN age <= 30 THEN 1::BIGINT << (30 - age)
            ELSE 0 END)::DOUBLE / 1073741824.0, 6) AS decayed
        FROM ages GROUP BY 1 ORDER BY 1"""),
      "Half-life decayed counts: dyadic 2^-age weights keep the " +
        "recency-weighted sum integer-exact under any partial-agg " +
        "order; data-derived reference day via 1-row broadcast, one " +
        "terminal division — a plain mergeable aggregation at scale."),

    GraftQuery(
      "q_events_attribution", Seq("J6", "W8", "A8"),
      (s, dir) => {
        // Linear multi-touch attribution: every purchase splits one
        // unit of credit equally across the user's clicks in the
        // 24 h before it — the marketing-analytics staple between
        // last-touch (as-of join) and position-weighted. The
        // user×time window join follows the RangeJoin bucket
        // discipline: each conversion explodes into its 2 covering
        // calendar days, the join is a plain (user_id, day)
        // equi-join (fan-out exactly 2, never a per-user cross), and
        // the exact window predicate filters after. Credit is the
        // integer 1e6 div n per touch — deterministic under any
        // order (documented truncation: a conversion's credits sum
        // to ≤ 1e6) — rolled up to the touch's hour-of-day.
        val ev = t(s, dir, "events")
        val conv = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("conv_ts"))
          .withColumn("day", explode(array(
            expr("date_trunc('day', conv_ts)"),
            expr("date_trunc('day', conv_ts - interval 1 day)"))))
        val touch = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("ts").as("touch_ts"))
          .withColumn("day", expr("date_trunc('day', touch_ts)"))
        val matched = conv.join(touch, Seq("user_id", "day"))
          .where(col("touch_ts") < col("conv_ts") &&
            col("touch_ts") >= col("conv_ts") - expr("interval 1 day"))
        val withN = matched.withColumn("n", count(lit(1)).over(
          Window.partitionBy("conv_id")))
        withN
          .groupBy(hour(col("touch_ts")).cast("long").as("hr"))
          .agg(count(lit(1)).as("n_touches"),
            countDistinct("conv_id").as("n_convs"),
            sum(expr("1000000L div n")).as("credit_scaled"))
          .orderBy("hr")
      },
      Some("""WITH conv AS (SELECT event_id AS conv_id, user_id,
              ts AS conv_ts FROM events WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts
            FROM events WHERE event_type = 'click'),
          m AS (SELECT conv_id, touch_id, touch_ts,
              count(*) OVER (PARTITION BY conv_id) AS n
            FROM conv JOIN tch ON conv.user_id = tch.user_id
              AND tch.touch_ts < conv.conv_ts
              AND tch.touch_ts >= conv.conv_ts - INTERVAL 1 DAY)
        SELECT extract(hour FROM touch_ts)::BIGINT AS hr,
          count(*)::BIGINT AS n_touches,
          count(DISTINCT conv_id)::BIGINT AS n_convs,
          sum(1000000 // n)::BIGINT AS credit_scaled
        FROM m GROUP BY 1 ORDER BY 1"""),
      "Linear multi-touch attribution in a 24h lookback: bucketed " +
        "(user, day) equi-join with fan-out 2 — never a per-user " +
        "cross — exact window predicate after, integer 1e6 div n " +
        "credit split rolled up by touch hour."),

    GraftQuery(
      "q_events_transitions", Seq("W8", "A8"),
      (s, dir) => {
        // First-order user-journey transition matrix: which event
        // follows which, per user timeline — the Markov-chain summary
        // behind funnel design (funnel/retention/attribution ask
        // about chosen steps; this surfaces ALL observed step pairs).
        // One lead() per user ordered by (ts, event_id) — the id
        // tie-break makes equal-timestamp ordering deterministic in
        // both engines — then a 25-cell count aggregation; row
        // probabilities leave integer land exactly once (cnt/total,
        // round 4). Scale: the window partitions by user (the
        // sessionize family's bucketing story), everything after is
        // a tiny grouped table.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = t(s, dir, "events")
          .select("user_id", "ts", "event_id", "event_type")
          .withColumn("next_type", lead("event_type", 1).over(w))
          .where(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("cnt"))
        val totals = pairs.groupBy("event_type")
          .agg(sum("cnt").as("row_total"))
        pairs.join(broadcast(totals), Seq("event_type"))
          .withColumn("p", round(
            col("cnt").cast("double") / col("row_total"), 4))
          .select("event_type", "next_type", "cnt", "row_total", "p")
          .orderBy("event_type", "next_type")
      },
      Some("""WITH pairs AS (SELECT event_type,
              lead(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS next_type
            FROM events),
          cells AS (SELECT event_type, next_type,
              count(*)::BIGINT AS cnt
            FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT event_type, sum(cnt)::BIGINT AS row_total
            FROM cells GROUP BY 1)
        SELECT c.event_type, c.next_type, c.cnt, t.row_total,
          round(c.cnt::DOUBLE / t.row_total, 4) AS p
        FROM cells c JOIN tot t USING (event_type)
        ORDER BY 1, 2"""),
      "User-journey transition matrix: one deterministic lead() per " +
        "user timeline (id tie-break), 25-cell count aggregation, " +
        "row-stochastic probabilities with one exact division each."),

    GraftQuery(
      "q_zorder", Seq("P6", "A8", "W5"),
      (s, dir) => {
        // Z-order (Morton) clustering key over (l_partkey, l_suppkey):
        // the data-skipping layout primitive behind ZOrder.clusteredWrite
        // (lakehouse OPTIMIZE ZORDER BY), driven through the gate as
        // integer-exact arithmetic. Per-dim min/max arrive as a 1-row
        // broadcast (map-side-combined at scale), quantize is integer
        // `div` onto a 2^16 grid, interleave is a sum of 32 disjoint
        // single-bit terms — all codegen'd builtins, bit-identical to
        // the generated DuckDB twin. The query folds the curve into 64
        // coarse buckets (top 6 z-bits = the 8x8 top-level grid) with
        // per-bucket extents: the histogram a file planner would use
        // to cut range boundaries, and a full-precision pin on every
        // row's z-value via min/max/sum.
        val z = ZOrder.withZValue(
          t(s, dir, "lineitem").select("l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey")
        z.groupBy(shiftright(col("zval"), 26).as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("zval").as("zmin"), max("zval").as("zmax"),
            sum("zval").as("zsum"))
          .orderBy("bucket")
      },
      Some(s"""WITH st AS (SELECT min(l_partkey) AS pmn,
              max(l_partkey) AS pmx, min(l_suppkey) AS smn,
              max(l_suppkey) AS smx FROM lineitem),
          g AS (SELECT
              ${ZOrder.duckGrid("l_partkey", "pmn", "pmx")} AS gp,
              ${ZOrder.duckGrid("l_suppkey", "smn", "smx")} AS gs
            FROM lineitem, st),
          z AS (SELECT ${ZOrder.duckInterleave("gp", "gs")} AS zval
            FROM g)
        SELECT (zval >> 26)::BIGINT AS bucket,
          count(*)::BIGINT AS n, min(zval)::BIGINT AS zmin,
          max(zval)::BIGINT AS zmax, sum(zval)::BIGINT AS zsum
        FROM z GROUP BY 1 ORDER BY 1"""),
      "Z-order clustering key: integer quantize to a 2^16 grid + " +
        "32-term bit interleave (sum of disjoint bits == OR), folded " +
        "into the 8x8 top-grid histogram with exact per-bucket extents."),

    GraftQuery(
      "q_graph_sssp", Seq("D4", "A13", "J9"),
      (s, dir) => {
        // Hop-bounded weighted shortest paths (Bellman-Ford, 4
        // relaxation rounds) from a seed set over the part
        // co-purchase graph — the "how close is everything to these
        // products" query pagerank's popularity and closure's
        // reachability don't answer. Edge weight is data-derived and
        // integer-exact: 10 - min(9, shared_orders), so heavily
        // co-purchased parts are cheaper to traverse. Each round is
        // one equi-join frontier relaxation + a min-combine keyed on
        // node (both shuffles on the node key, the Pregel shape);
        // localCheckpoint truncates the 4-round lineage exactly like
        // the closure/k-core family. The 4-edge hop bound makes the
        // result well-defined and lets the oracle replay it as a
        // depth-bounded recursive CTE.
        val li = t(s, dir, "lineitem")
          .where(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val edges = li.toDF("ok", "src")
          .join(li.toDF("ok", "dst"), Seq("ok"))
          .where(col("src") =!= col("dst"))
          .groupBy("src", "dst")
          .agg((lit(10L) - least(lit(9L), count(lit(1)))).as("w"))
          .localCheckpoint(eager = false) // reused by all 4 relaxation rounds
        var d = t(s, dir, "part")
          .where(col("p_partkey") % 191 === 0)
          .select(col("p_partkey").as("v"), lit(0L).as("dist"))
        for (_ <- 1 to 4) {
          val relaxed = d.withColumnRenamed("v", "src")
            .join(edges, Seq("src"))
            .select(col("dst").as("v"),
              (col("dist") + col("w")).as("dist"))
          d = d.union(relaxed).groupBy("v").agg(min("dist").as("dist"))
            .localCheckpoint(eager = false)
        }
        d.select(col("v").as("node"), col("dist"))
          .orderBy("dist", "node").limit(50)
      },
      Some("""WITH RECURSIVE
          le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % 11 = 0),
          edges AS (SELECT a.pk AS src, b.pk AS dst,
              (10 - least(9, count(*)))::BIGINT AS w
            FROM le a JOIN le b ON a.ok = b.ok AND a.pk != b.pk
            GROUP BY a.pk, b.pk),
          seeds AS (SELECT p_partkey AS v FROM part
            WHERE p_partkey % 191 = 0),
          paths(v, d, k) AS (
            SELECT v, 0::BIGINT, 0 FROM seeds
            UNION
            SELECT e.dst, p.d + e.w, p.k + 1
            FROM paths p JOIN edges e ON e.src = p.v WHERE p.k < 4)
        SELECT v AS node, min(d)::BIGINT AS dist FROM paths
        GROUP BY v ORDER BY dist, node LIMIT 50"""),
      "Hop-bounded Bellman-Ford shortest paths from a seed set: " +
        "integer co-purchase weights, 4 join+min-combine relaxation " +
        "rounds with checkpointed lineage, top-50 nearest — the " +
        "oracle replays it as a depth-bounded recursive CTE."),

    GraftQuery(
      "q_merge_upsert", Seq("E6", "D1", "J7"),
      (s, dir) => {
        // MERGE INTO semantics (Merge.cdcMerge): apply a CDC change
        // feed — upserts, deletes, MULTIPLE versions of the same key
        // in one batch, latest wins — onto a base table as pure
        // relational algebra. The feed is synthesized from orders so
        // the oracle can replay it: v1 touches every %5 key (+100,
        // delete where %15), v2 re-touches every %10 key (+200) and
        // must win over v1 — including resurrecting %30 keys v1
        // deleted. Verified in aggregate per order status (count +
        // exact 2-decimal price sum), which any wrong
        // survivor/version/delete set shifts.
        val base = t(s, dir, "orders")
        val v1 = base.where(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") + 100, 2))
          .withColumn("op", when(col("o_orderkey") % 15 === 0, "d")
            .otherwise("u"))
          .withColumn("seq", lit(1L))
        val v2 = base.where(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") + 200, 2))
          .withColumn("op", lit("u"))
          .withColumn("seq", lit(2L))
        Merge.cdcMerge(base, v1.unionByName(v2), Seq("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH merged AS (
          SELECT * FROM orders WHERE o_orderkey % 5 != 0
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus,
            round(o_totalprice + 200, 2) AS o_totalprice, o_orderdate,
            o_orderpriority
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus,
            round(o_totalprice + 100, 2) AS o_totalprice, o_orderdate,
            o_orderpriority
          FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 != 0
            AND o_orderkey % 15 != 0)
        SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
          round(sum(o_totalprice), 2) AS sum_price
        FROM merged GROUP BY 1 ORDER BY 1"""),
      "CDC MERGE INTO: latest-wins version reduce (max-of-struct, " +
        "version leading), LEFT ANTI base survival, upsert union — " +
        "deletes drop, later versions override, deleted-then-upserted " +
        "keys resurrect; verified by exact per-status aggregates."),

    GraftQuery(
      "q_agg_histogram", Seq("A8", "A9", "P6"),
      (s, dir) => {
        // Equi-width histogram of order value — the profiling staple
        // (width_bucket) done integer-exact: prices move to cents
        // once (the pack's shared round-to-grid device), the 20-bin
        // width derives from a 1-row min/max broadcast, and
        // bucket = ((c - mn) * 20) div (mx - mn + 1) is pure integer
        // division (the +1 keeps the max value in the last bin
        // without a special case). One scan, one 1-row agg, one
        // 20-row group — at 100 TB this is a map-side-combined
        // count with a broadcast constant.
        val o = t(s, dir, "orders")
          .select(expr("cast(round(o_totalprice * 100) as long)")
            .as("c"))
        val mm = o.agg(min("c").as("mn"), max("c").as("mx"))
        o.crossJoin(broadcast(mm))
          .withColumn("bucket",
            expr("((c - mn) * 20) div (mx - mn + 1)"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(min("c") / 100.0, 2).as("lo_price"),
            round(max("c") / 100.0, 2).as("hi_price"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT round(o_totalprice * 100)::BIGINT AS c
            FROM orders),
          mm AS (SELECT min(c) AS mn, max(c) AS mx FROM c)
        SELECT (((c - mn) * 20) // (mx - mn + 1))::BIGINT AS bucket,
          count(*)::BIGINT AS n,
          round(min(c) / 100.0, 2) AS lo_price,
          round(max(c) / 100.0, 2) AS hi_price
        FROM c, mm GROUP BY 1 ORDER BY 1"""),
      "Equi-width 20-bin histogram (width_bucket) in exact integer " +
        "cents: 1-row min/max broadcast, integer-div bucketing, " +
        "map-side-combined counts with observed per-bin extents."),

    GraftQuery(
      "q_events_rfm", Seq("A8", "W8", "P6"),
      (s, dir) => {
        // RFM segmentation (recency / frequency / monetary) — the
        // marketing-warehouse classic, shaped for scale: one per-user
        // aggregate (exact integer partials: max event micros,
        // purchase count, cent-sum of purchase value), one 1-row
        // corpus-max broadcast anchoring recency, then FIXED integer
        // thresholds cut the 8-segment cube (r: last seen within 7
        // hours of corpus end — microsecond-exact integer div, no
        // engine-specific calendar-boundary semantics; f >= 14
        // purchases; m >= 600.00). No global ntile window —
        // quantile-based scoring belongs to the sketch family; fixed
        // cuts keep every comparison exact and the plan window-free.
        // Output: the segment cube with counts and exact per-segment
        // totals.
        val ev = t(s, dir, "events")
        val user = ev.groupBy("user_id")
          .agg(max(expr("unix_micros(ts)")).as("last_us"),
            sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("f"),
            sum(when(col("event_type") === "purchase",
              expr("cast(round(value * 100) as long)"))
              .otherwise(0L)).as("m"))
        val anchor = ev.agg(max(expr("unix_micros(ts)")).as("max_us"))
        user.crossJoin(broadcast(anchor))
          .withColumn("r_hours",
            expr("(max_us - last_us) div 3600000000"))
          .withColumn("r_hot", (col("r_hours") <= 7L).cast("int"))
          .withColumn("f_hot", (col("f") >= 14L).cast("int"))
          .withColumn("m_hot", (col("m") >= 60000L).cast("int"))
          .groupBy("r_hot", "f_hot", "m_hot")
          .agg(count(lit(1)).as("n_users"),
            sum("f").as("sum_purchases"),
            round(sum("m") / 100.0, 2).as("sum_monetary"))
          .orderBy("r_hot", "f_hot", "m_hot")
      },
      Some("""WITH u AS (SELECT user_id,
              max(epoch_us(ts))::BIGINT AS last_us,
              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END)::BIGINT AS f,
              sum(CASE WHEN event_type = 'purchase'
                THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS m
            FROM events GROUP BY 1),
          a AS (SELECT max(epoch_us(ts))::BIGINT AS max_us FROM events)
        SELECT
          (((max_us - last_us) // 3600000000) <= 7)::INT AS r_hot,
          (f >= 14)::INT AS f_hot, (m >= 60000)::INT AS m_hot,
          count(*)::BIGINT AS n_users, sum(f)::BIGINT AS sum_purchases,
          round(sum(m) / 100.0, 2) AS sum_monetary
        FROM u, a GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "RFM segmentation: one exact per-user aggregate, 1-row " +
        "corpus-max broadcast recency anchor (microsecond-exact), " +
        "fixed integer thresholds cutting the 8-segment cube — " +
        "window-free and integer-exact."),

    GraftQuery(
      "q_agg_incremental", Seq("A8", "E6", "A1"),
      (s, dir) => {
        // Incremental view maintenance (Ivm): the materialized
        // aggregate refreshed from three delta batches must equal the
        // full recompute BIT FOR BIT — the refresh path a 100 TB
        // warehouse runs nightly without rescanning the base. The
        // base splits into three arrival batches (orderkey mod 3);
        // each folds into the keyed state with one delta-sized
        // aggregate + one state combine, and the finalized view is
        // checked against a plain full-scan GROUP BY oracle. Partials
        // are integers (quantity as long, price in cents), so merge
        // order cannot drift the result; avg leaves integer land in
        // exactly one terminal division.
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("qty"),
          expr("cast(round(l_extendedprice * 100) as long)").as("cents"))
        val keys = Seq("l_returnflag", "l_linestatus")
        val specs = Seq("qty" -> "sum", "qty" -> "count",
          "cents" -> "avg", "cents" -> "max")
        val batches = (0 to 2).map(i =>
          li.where(pmod(col("cents"), lit(3)) === i))
        val state = batches.map(b => Ivm.aggState(b, keys, specs))
          .reduce((a, b) => Ivm.merge(a, b, keys, specs))
        Ivm.finalize(state, keys, specs)
          .withColumn("avg_price", round(col("cents_avg") / 100.0, 4))
          .withColumn("max_price", round(col("cents_max") / 100.0, 2))
          .drop("cents_avg", "cents_max")
          .orderBy(keys.map(col): _*)
      },
      Some("""SELECT l_returnflag, l_linestatus,
          sum(l_quantity)::BIGINT AS qty_sum,
          count(*)::BIGINT AS qty_count,
          round(avg(round(l_extendedprice * 100)::BIGINT) / 100.0, 4)
            AS avg_price,
          round(max(round(l_extendedprice * 100)::BIGINT) / 100.0, 2)
            AS max_price
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Incremental view maintenance: three delta batches folded into " +
        "a keyed partial state (integer sum/count/min/max, avg as its " +
        "pair) finalize bit-identically to the full-scan GROUP BY — " +
        "refresh cost is delta + state, never the base."),

    GraftQuery(
      "q_agg_cube_incremental", Seq("A8", "A4", "E6"),
      (s, dir) => {
        // Incremental CUBE maintenance (Ivm.cubeFromState): fold the
        // same three delta batches into the FINEST-grain state, then
        // derive every one of the 2^d cube grains by re-combining the
        // state table — the base is never rescanned. At 100 TB a cube
        // refresh costs |delta| + 2^d·|keys| instead of 2^d·|base|;
        // the whole cube here is 24 rows derived from a 15-row state.
        // Rolled-up dimensions carry the '__all__' sentinel (uniform
        // string schema instead of GROUPING-bit nullable columns);
        // the oracle replays it as a plain GROUP BY CUBE.
        val o = t(s, dir, "orders").select(
          col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"),
          expr("cast(round(o_totalprice * 100) as long)").as("cents"))
        val keys = Seq("priority", "status")
        val specs = Seq("cents" -> "sum", "cents" -> "count",
          "cents" -> "max")
        val batches = (0 to 2).map(i =>
          o.where(pmod(col("cents"), lit(3)) === i))
        val state = batches.map(b => Ivm.aggState(b, keys, specs))
          .reduce((a, b) => Ivm.merge(a, b, keys, specs))
        // Ivm "count" is count(col), null-skipping: the n_rows rename
        // against the count(*) oracle is sound ONLY because cents
        // derives from o_totalprice, which is non-null by schema — a
        // nullable measure would need its count spec'd on a key column
        Ivm.cubeFromState(state, keys, specs)
          .withColumn("avg_price",
            round(col("cents_sum") / col("cents_count"), 4))
          .withColumnRenamed("cents_count", "n_rows")
          .orderBy("priority", "status")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS priority,
            o_orderstatus AS status,
            round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        SELECT coalesce(priority, '__all__') AS priority,
          coalesce(status, '__all__') AS status,
          sum(cents)::BIGINT AS cents_sum,
          count(*)::BIGINT AS n_rows,
          max(cents)::BIGINT AS cents_max,
          round(sum(cents)::DOUBLE / count(*), 4) AS avg_price
        FROM o GROUP BY CUBE(priority, status) ORDER BY 1, 2"""),
      "Incremental cube: deltas fold into the finest-grain state once; " +
        "all four grouping sets derive from the 15-row state by " +
        "partial re-combine, bit-equal to a full-scan GROUP BY CUBE."),

    GraftQuery(
      "q_quantile_exact", Seq("A9", "W2", "A8"),
      (s, dir) => {
        // EXACT global quantiles with NO global sort
        // (Quantiles.exactQuantile): two bucket-refinement passes —
        // histogram into 2^16 integer bins, rank-walk the tiny bin
        // table, then rank-walk the distinct values of the one target
        // bin. The sort-based equivalent shuffles and sorts the whole
        // column; this plan sorts nothing bigger than pre-aggregated
        // smalls, which is the only shape that survives a 100 TB
        // column. Median and p90 of order value in integer cents; the
        // oracle computes the same ceil(p*n)-th smallest by LIMIT.
        val c = t(s, dir, "lineitem")
          .select(expr("cast(round(l_extendedprice * 100) as long)")
            .as("v"))
        val q50 = Quantiles.exactQuantile(c, "v", 1, 2)
          .withColumn("p", lit("p50"))
        val q90 = Quantiles.exactQuantile(c, "v", 9, 10)
          .withColumn("p", lit("p90"))
        q50.unionByName(q90)
          .select(col("p"), round(col("value") / 100.0, 2).as("value"))
          .orderBy("p")
      },
      Some("""WITH c AS (SELECT round(l_extendedprice * 100)::BIGINT
            AS v FROM lineitem),
          n AS (SELECT count(*)::BIGINT AS n FROM c),
          q50 AS (SELECT 'p50' AS p, max(v) AS cents FROM
            (SELECT v FROM c ORDER BY v LIMIT (SELECT (n + 1) // 2
              FROM n))),
          q90 AS (SELECT 'p90' AS p, max(v) AS cents FROM
            (SELECT v FROM c ORDER BY v LIMIT (SELECT (9 * n + 9) // 10
              FROM n)))
        SELECT p, round(cents / 100.0, 2) AS value FROM q50
        UNION ALL
        SELECT p, round(cents / 100.0, 2) AS value FROM q90
        ORDER BY p"""),
      "Exact global median/p90 via two bucket-refinement passes — " +
        "rank walks over pre-aggregated smalls only, no global sort; " +
        "the oracle takes the same ceil(p*n)-th smallest by LIMIT."),

    GraftQuery(
      "q_join_overlap", Seq("J6", "A8", "P6"),
      (s, dir) => {
        // INTERVAL × INTERVAL overlap join
        // (RangeJoin.intervalOverlapJoin) — the temporal-overlap shape
        // (validity windows × promo windows) the point-in-interval
        // join can't express. Two order-activity window sets (day
        // epochs are exact integer micros div — no calendar-boundary
        // semantics), bucketed by 7-day chunks; a pair can share
        // several buckets, so the CANONICAL-BUCKET rule (keep the
        // pair only where the overlap STARTS) makes the equi-join
        // emit every overlapping pair exactly once — no dedup
        // shuffle. The oracle is the naive inequality join.
        val o = t(s, dir, "orders")
          .withColumn("day", expr(
            // o_orderdate reads as TIMESTAMP_NTZ; the UTC-session cast
            // is value-identical and unlocks the exact micros epoch
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
        val a = o.where(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey").as("ak"),
            col("o_orderpriority").as("prio"), col("day").as("alo"),
            (col("day") + col("o_orderkey") % 7).as("ahi"))
        val b = o.where(col("o_orderkey") % 17 === 0)
          .select(col("o_orderkey").as("bk"), col("day").as("blo"),
            (col("day") + col("o_orderkey") % 5).as("bhi"))
        RangeJoin.intervalOverlapJoin(a, b, "alo", "ahi", "blo", "bhi",
            bucketWidth = 7.0)
          .groupBy("prio")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct("ak").as("n_a"),
            countDistinct("bk").as("n_b"))
          .orderBy("prio")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
              (epoch_us(o_orderdate) // 86400000000)::BIGINT AS day
            FROM orders),
          a AS (SELECT o_orderkey AS ak, o_orderpriority AS prio,
              day AS alo, day + o_orderkey % 7 AS ahi
            FROM o WHERE o_orderkey % 13 = 0),
          b AS (SELECT o_orderkey AS bk, day AS blo,
              day + o_orderkey % 5 AS bhi
            FROM o WHERE o_orderkey % 17 = 0),
          j AS (SELECT prio, ak, bk FROM a JOIN b
            ON alo <= bhi AND blo <= ahi)
        SELECT prio, count(*)::BIGINT AS n_pairs,
          count(DISTINCT ak)::BIGINT AS n_a,
          count(DISTINCT bk)::BIGINT AS n_b
        FROM j GROUP BY 1 ORDER BY 1"""),
      "Interval-overlap join: both sides explode into 7-day buckets, " +
        "plain equi-join + exact predicate + canonical-start-bucket " +
        "rule (each overlapping pair emitted exactly once, no dedup) " +
        "— checked against the naive inequality-join oracle."),

    GraftQuery(
      "q_topk_agg", Seq("W3", "W4", "A8"),
      (s, dir) => {
        // Per-group top-k as a TYPED map-side-combining Aggregator
        // (operators.TopKAgg, §2.9's custom-UDAF surface) — the same
        // answer as q_win_topk_rank's window, from a fundamentally
        // better plan: partial buffers carry at most k tuples per
        // group per map task (ObjectHashAggregate partials), so the
        // shuffle moves k·groups·partitions tiny rows instead of
        // co-locating and SORTING every group — the hot-group
        // straggler fix at 100 TB. Prices move to exact integer cents
        // inside the aggregator and back out for display.
        import s.implicits._
        val agg = TopKAgg(3)
        t(s, dir, "orders")
          .select(col("o_orderpriority"),
            expr("cast(round(o_totalprice * 100) as long)").as("cents"),
            col("o_orderkey"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .agg(agg.column)
          .toDF("o_orderpriority", "topk")
          .select(col("o_orderpriority"),
            posexplode(col("topk")).as(Seq("i", "t")))
          .select(col("o_orderpriority"),
            (col("i") + 1).cast("long").as("rnk"),
            col("t._2").as("o_orderkey"),
            round(col("t._1") / 100.0, 2).as("totalprice"))
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""SELECT o_orderpriority, rnk, o_orderkey,
          round(cents / 100.0, 2) AS totalprice
        FROM (SELECT o_orderpriority, o_orderkey,
                round(o_totalprice * 100)::BIGINT AS cents,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY round(o_totalprice * 100)::BIGINT DESC,
                    o_orderkey) AS rnk
              FROM orders)
        WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""),
      "Per-group top-3 via a typed map-side-combining Aggregator: at " +
        "most k buffer tuples per group per map task cross the " +
        "shuffle (no partitioned sort) — equals the window oracle " +
        "row for row."),

    GraftQuery(
      "q_table_diff", Seq("J7", "D7", "A8"),
      (s, dir) => {
        // Snapshot reconciliation (TableDiff.diff): the before/after
        // audit of the CDC merge — diffing orders against the merged
        // result must report EXACTLY the changes the feed carried:
        // the inserted keys as added, the net-deleted keys as removed,
        // the re-priced survivors as changed, and the untouched
        // majority not at all (difference-sized output). Null-safe
        // struct comparison; one full-outer key join. The feed
        // extends q_merge_upsert's with brand-new keys so all three
        // statuses appear.
        val base = t(s, dir, "orders")
        val v1 = base.where(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") + 100, 2))
          .withColumn("op", when(col("o_orderkey") % 15 === 0, "d")
            .otherwise("u"))
          .withColumn("seq", lit(1L))
        val v2 = base.where(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") + 200, 2))
          .withColumn("op", lit("u"))
          .withColumn("seq", lit(2L))
        val ins = base.where(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("op", lit("u"))
          .withColumn("seq", lit(1L))
        val merged = Merge.cdcMerge(base,
          v1.unionByName(v2).unionByName(ins), Seq("o_orderkey"))
        TableDiff.diff(base, merged, Seq("o_orderkey"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("status")
      },
      Some("""WITH merged AS (
          SELECT * FROM orders WHERE o_orderkey % 5 != 0
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus,
            round(o_totalprice + 200, 2), o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus,
            round(o_totalprice + 100, 2), o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 != 0
            AND o_orderkey % 15 != 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 100 = 0),
        d AS (
          SELECT m.o_orderkey AS k, 'added' AS status
            FROM merged m LEFT JOIN orders o USING (o_orderkey)
            WHERE o.o_orderkey IS NULL
          UNION ALL
          SELECT o.o_orderkey, 'removed'
            FROM orders o LEFT JOIN merged m USING (o_orderkey)
            WHERE m.o_orderkey IS NULL
          UNION ALL
          SELECT o.o_orderkey, 'changed'
            FROM orders o JOIN merged m USING (o_orderkey)
            WHERE (o.o_custkey, o.o_orderstatus, o.o_totalprice,
                o.o_orderdate, o.o_orderpriority) IS DISTINCT FROM
              (m.o_custkey, m.o_orderstatus, m.o_totalprice,
                m.o_orderdate, m.o_orderpriority))
        SELECT status, count(*)::BIGINT AS n, min(k)::BIGINT AS min_key,
          max(k)::BIGINT AS max_key
        FROM d GROUP BY 1 ORDER BY 1"""),
      "Snapshot diff audit of the CDC merge: full-outer key join, " +
        "null-safe struct change detection, difference-sized output — " +
        "added/removed/changed counts match the feed exactly."),

    GraftQuery(
      "q_expectations", Seq("A8", "J7", "P6"),
      (s, dir) => {
        // Declarative data-quality expectations
        // (operators.Expectations) — the validation pass a production
        // table runs before consumers touch it: every scalar rule
        // (completeness, uniqueness, range) computes in ONE aggregate
        // over ONE scan; the referential rule adds one LEFT ANTI
        // join. The rule set includes a deliberately FAILING check
        // (o_custkey is not unique across orders) so both verdicts
        // flow through the gate, and all violation counts are exact
        // integers the oracle recomputes.
        val o = t(s, dir, "orders").withColumn("cents",
          expr("cast(round(o_totalprice * 100) as long)"))
        val cust = t(s, dir, "customer")
        Expectations.check(o, Seq(
            Expectations.NotNull("o_custkey"),
            Expectations.Unique("o_orderkey"),
            Expectations.Unique("o_custkey"),
            Expectations.InRange("cents", 0L, 60000000L),
            Expectations.ForeignKey("o_custkey", cust, "c_custkey")))
          .orderBy("rule", "col_name")
      },
      Some("""WITH c AS (SELECT o_custkey, o_orderkey,
              round(o_totalprice * 100)::BIGINT AS cents FROM orders),
          rows0 AS (
            SELECT 'foreign_key' AS rule, 'o_custkey' AS col_name,
              (SELECT count(*) FROM c LEFT JOIN customer
                 ON o_custkey = c_custkey
               WHERE o_custkey IS NOT NULL AND c_custkey IS NULL)
                ::BIGINT AS violations
            UNION ALL
            SELECT 'in_range', 'cents',
              (SELECT count(*) FROM c WHERE cents < 0
                 OR cents > 60000000)::BIGINT
            UNION ALL
            SELECT 'not_null', 'o_custkey',
              (SELECT count(*) FROM c WHERE o_custkey IS NULL)::BIGINT
            UNION ALL
            SELECT 'unique', 'o_custkey',
              (SELECT count(o_custkey) - count(DISTINCT o_custkey)
               FROM c)::BIGINT
            UNION ALL
            SELECT 'unique', 'o_orderkey',
              (SELECT count(o_orderkey) - count(DISTINCT o_orderkey)
               FROM c)::BIGINT)
        SELECT rule, col_name, violations, violations = 0 AS pass
        FROM rows0 ORDER BY rule, col_name"""),
      "Data-quality expectations: one shared aggregate for all scalar " +
        "rules + one anti-join per referential rule, exact violation " +
        "counts, uniform pass = zero-violations verdicts (one rule " +
        "deliberately failing)."),

    GraftQuery(
      "q_pipeline_entity", Seq("J11", "D4", "D1", "A8"),
      (s, dir) => {
        // End-to-end entity resolution — the composed pipeline the
        // blocked fuzzy join (q_join_fuzzy) and the CC clustering
        // (q_dedup_cluster) are stages of: shared-token BLOCKING →
        // Levenshtein ≤ 2 on candidates only → transitive closure via
        // the membership-shaped connected components (each match edge
        // is a 2-member group — the hub trick keeps hot names linear)
        // → golden-record clusters keyed by the min (canonical) name.
        // Output: cluster-size histogram with an order-independent
        // member fingerprint, so the oracle pins the exact CLUSTER
        // ASSIGNMENT, not just counts.
        val names = t(s, dir, "part").select("p_name").distinct()
          .withColumn("tok", explode(split(col("p_name"), " ")))
        val cands = names.toDF("a", "tok")
          .join(names.toDF("b", "tok"), Seq("tok"))
          .where(col("a") < col("b"))
          .select("a", "b").distinct()
        val edges = cands
          .where(levenshtein(col("a"), col("b")) <= 2)
          .withColumn("edge", concat(col("a"), lit("|"), col("b")))
        val membership = edges.select(col("a").as("name"), col("edge"))
          .unionByName(edges.select(col("b").as("name"), col("edge")))
        val comp = ConnectedComponents.byGroup(membership, "name", "edge")
        val sizes = comp.groupBy("component")
          .agg(count(lit(1)).as("sz"),
            sum(expr(graft.operators.TextOps.hash64("name") +
              " % 1000000007")).as("members_fp"))
        sizes.groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"),
            sum("members_fp").as("fp"))
          .orderBy("sz")
      },
      Some("""WITH RECURSIVE
          n0 AS (SELECT DISTINCT p_name FROM part),
          tok AS (SELECT p_name, unnest(string_split(p_name, ' '))
              AS tok FROM n0),
          cand AS (SELECT DISTINCT a.p_name AS a, b.p_name AS b
            FROM tok a JOIN tok b ON a.tok = b.tok
              AND a.p_name < b.p_name),
          m AS (SELECT a, b FROM cand WHERE levenshtein(a, b) <= 2),
          nodes AS (SELECT a AS name FROM m UNION SELECT b FROM m),
          e AS (SELECT a, b FROM m UNION SELECT b AS a, a AS b FROM m),
          walk(name, comp) AS (
            SELECT name, name FROM nodes
            UNION
            SELECT e.b, walk.comp FROM walk JOIN e ON e.a = walk.name
              WHERE walk.comp < e.b),
          comp AS (SELECT name, min(comp) AS component FROM walk
            GROUP BY 1),
          sizes AS (SELECT component, count(*)::BIGINT AS sz,
              sum(('0x' || substr(md5(name),1,15))::BIGINT
                % 1000000007)::BIGINT AS members_fp
            FROM comp GROUP BY 1)
        SELECT sz, count(*)::BIGINT AS n_clusters,
          sum(members_fp)::BIGINT AS fp
        FROM sizes GROUP BY 1 ORDER BY 1"""),
      "Composed entity resolution: token blocking, candidate-only " +
        "Levenshtein, membership-shaped connected components, " +
        "canonical min-name clusters — cluster-size histogram with " +
        "an exact member fingerprint, oracle via recursive CTE."),

    GraftQuery(
      "q_graph_lpa", Seq("A13", "D4", "A8"),
      (s, dir) => {
        // Synchronous min-label propagation, 3 rounds, over the part
        // co-purchase graph (same edge family as q_graph_pagerank).
        // This is the bounded-round community pass used at web scale
        // where full convergence (q_graph_closure's fixpoint) is too
        // expensive: label'(v) = min(label(v), min_{u~v} label(u)),
        // all integer, so every round is bit-reproducible and the
        // oracle replays the identical 3 unrolled rounds. Output is
        // the community-size histogram plus an exact member
        // fingerprint per size class — pinning the ASSIGNMENT, not
        // just the counts.
        //
        // Scale shape: edges are order-bounded pairs (TPC-H orders
        // hold <= 7 parts), symmetric by construction; each round is
        // ONE shuffle — edges join labels on src (node-keyed), then a
        // min-combine on dst with map-side partial aggregation. No
        // iteration-count data dependence, no driver loop over
        // collect(): 3 static rounds = 3 shuffles regardless of
        // graph size. Labels stay (node, bigint) — the frontier
        // never widens.
        val li = t(s, dir, "lineitem")
          .where(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val edges = li.toDF("ok", "src")
          .join(li.toDF("ok", "dst"), Seq("ok"))
          .where(col("src") =!= col("dst"))
          .select("src", "dst").distinct()
          .localCheckpoint(eager = false) // reused by all 3 rounds
        val nodes = edges.select(col("src").as("node")).distinct()
        val l0 = nodes.withColumn("lab", col("node"))
        val lFinal = (1 to 3).foldLeft(l0) { (labs, _) =>
          val nbrMin = edges
            .join(labs.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(min("lab").as("nl"))
          labs.join(nbrMin, Seq("node"), "left")
            .withColumn("lab", least(col("lab"),
              coalesce(col("nl"), col("lab"))))
            .select("node", "lab")
        }
        val sizes = lFinal.groupBy("lab")
          .agg(count(lit(1)).as("sz"),
            sum(col("node") % 1000000007L).as("members_fp"))
        sizes.groupBy("sz")
          .agg(count(lit(1)).as("n_communities"),
            sum("members_fp").as("fp"))
          .orderBy("sz")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem WHERE l_orderkey % 11 = 0),
          e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b USING (ok) WHERE a.pk <> b.pk),
          nodes AS (SELECT DISTINCT src AS node FROM e),
          l0 AS (SELECT node, node AS lab FROM nodes),
          m1 AS (SELECT e.dst AS node, min(l0.lab) AS nl
            FROM e JOIN l0 ON l0.node = e.src GROUP BY 1),
          l1 AS (SELECT l0.node,
              least(l0.lab, coalesce(m1.nl, l0.lab)) AS lab
            FROM l0 LEFT JOIN m1 ON m1.node = l0.node),
          m2 AS (SELECT e.dst AS node, min(l1.lab) AS nl
            FROM e JOIN l1 ON l1.node = e.src GROUP BY 1),
          l2 AS (SELECT l1.node,
              least(l1.lab, coalesce(m2.nl, l1.lab)) AS lab
            FROM l1 LEFT JOIN m2 ON m2.node = l1.node),
          m3 AS (SELECT e.dst AS node, min(l2.lab) AS nl
            FROM e JOIN l2 ON l2.node = e.src GROUP BY 1),
          l3 AS (SELECT l2.node,
              least(l2.lab, coalesce(m3.nl, l2.lab)) AS lab
            FROM l2 LEFT JOIN m3 ON m3.node = l2.node),
          sizes AS (SELECT lab, count(*)::BIGINT AS sz,
              sum(node % 1000000007)::BIGINT AS members_fp
            FROM l3 GROUP BY 1)
        SELECT sz, count(*)::BIGINT AS n_communities,
          sum(members_fp)::BIGINT AS fp
        FROM sizes GROUP BY 1 ORDER BY 1"""),
      "Bounded-round min-label propagation (3 synchronous rounds) " +
        "over the part co-purchase graph: one node-keyed shuffle per " +
        "round with map-side min-combine, integer labels throughout — " +
        "community-size histogram with exact member fingerprints.")
    ,

    GraftQuery(
      "q_join_bloom", Seq("J9", "J7", "A8"),
      (s, dir) => {
        // Bloom-runtime-filtered fact join — the explicit form of the
        // runtime-filter pushdown that keeps a 100-TB shuffle join
        // alive: the small side (suppliers of 3 nations) builds a
        // driver-side Bloom sketch over its join keys (bounded: dim
        // cardinality, never the fact table), the codegen'd
        // BloomMightContain probe prunes the fact SCAN before any
        // shuffle, and the exact broadcast join afterwards removes
        // the false positives — so the result is IDENTICAL to the
        // plain join (no false negatives), which is exactly what the
        // oracle checks. The Bloom prunes ~88%% of lineitem rows
        // before they reach the join here; at a 1000-executor scale
        // the same plan turns a full-fact shuffle into a
        // selectivity-bounded one.
        import graft.expressions.BloomMightContain
        import org.apache.spark.util.sketch.{BloomFilter => BF}
        val sup = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .where(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
            .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val keys = sup.select(col("s_suppkey").cast("string"))
          .collect().map(_.getString(0))
        val bf = BF.create(math.max(keys.length.toLong, 1L), 0.01)
        keys.foreach(bf.putString)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val probe = ColumnBridge.column(BloomMightContain(
          ColumnBridge.expression(col("l_suppkey").cast("string")),
          bos.toByteArray))
        t(s, dir, "lineitem")
          .where(probe) // scan-side prune, inside WholeStageCodegen
          .join(broadcast(sup),
            col("l_suppkey") === col("s_suppkey")) // exact FP removal
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_items"),
            sum(expr("cast(round(l_extendedprice * 100) as long)"))
              .as("revenue_cents"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, count(*)::BIGINT AS n_items,
          sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS revenue_cents
        FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        GROUP BY 1 ORDER BY 1"""),
      "Bloom-runtime-filtered fact join: driver-built dim-key sketch, " +
        "codegen'd scan-side probe, exact broadcast join removing the " +
        "false positives — result provably equal to the plain join, " +
        "plan shuffles only the pre-pruned fact rows."),

    GraftQuery(
      "q_events_entropy", Seq("A8", "A9", "W2"),
      (s, dir) => {
        // Per-user behavioral entropy — the predictability feature of
        // user-modeling pipelines: H = Σ_type (c/n)·ln(n/c) over the
        // user's event-type distribution, reported at 1e6 scale.
        // Determinism discipline (same as the perplexity family):
        // each per-type term is rounded to an INTEGER once, so the
        // only float ops are per-row (c, n) → ln — identical on both
        // engines — and the cross-row SUM is pure bigint, immune to
        // Spark's unordered partial aggregation. Scale shape: two
        // user-keyed aggregations (type counts, then the entropy
        // reduce), both map-side combining; nothing quadratic, no
        // windows, no driver loops.
        val ev = t(s, dir, "events")
        val counts = ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c"))
        val totals = counts.groupBy("user_id")
          .agg(sum("c").as("n"), count(lit(1)).as("n_types"))
        counts.join(totals, Seq("user_id"))
          .withColumn("term", expr(
            "cast(round(ln(cast(n as double) / cast(c as double)) " +
              "* c * 1000000 / n) as bigint)"))
          .groupBy("user_id")
          .agg(max("n").as("n_events"), max("n_types").as("n_types"),
            sum("term").as("h_x1e6"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, event_type,
              count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2),
          tot AS (SELECT user_id, sum(c)::BIGINT AS n,
              count(*)::BIGINT AS n_types
            FROM c GROUP BY 1)
        SELECT c.user_id, max(n)::BIGINT AS n_events,
          max(n_types)::BIGINT AS n_types,
          sum(round(ln(n::DOUBLE / c::DOUBLE) * c * 1000000 / n)
            ::BIGINT)::BIGINT AS h_x1e6
        FROM c JOIN tot ON tot.user_id = c.user_id
        GROUP BY 1 ORDER BY 1"""),
      "Per-user event-type Shannon entropy at 1e6 scale: per-term " +
        "integer rounding then exact bigint summation — the " +
        "behavioral-predictability feature with no float " +
        "summation-order hazard, two map-side-combining aggregations."),

    GraftQuery(
      "q_agg_pmi", Seq("J1", "A8", "W3"),
      (s, dir) => {
        // Pointwise mutual information over part co-purchases — the
        // association score embedding/recommender pipelines derive
        // from co-occurrence counts (word2vec's SGNS objective
        // factorizes a shifted PMI matrix): PMI(a,b) =
        // ln(n_ab·N / (n_a·n_b)) at 1e6 scale over order baskets.
        // All counts are exact integers; ln is the single per-row
        // float op (same discipline as the entropy/perplexity
        // family), and the top-20 is TakeOrdered — never a global
        // sort. Support floor n_ab >= 3 kills the noise pairs that
        // dominate raw PMI (its textbook failure mode).
        //
        // Scale shape: basket pairs are order-bounded (TPC-H orders
        // hold <= 7 parts → <= 21 pairs per order), so the pair
        // stream is linear in lineitem volume; everything downstream
        // is key-partitioned aggregation; the marginal join keys on
        // part id. No n² anywhere.
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          // one scan+distinct feeds FOUR consumers (order count, the
          // marginals, and both self-join sides) -- without the barrier
          // the distinct re-runs per consumer
          .localCheckpoint(eager = false)
        val nOrders = li.select("ok").distinct()
          .agg(count(lit(1)).as("n_orders"))
        val marg = li.groupBy(col("pk"))
          .agg(count(lit(1)).as("n_one"))
        val pairs = li.toDF("ok", "a")
          .join(li.toDF("ok", "b"), Seq("ok"))
          .where(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
          .where(col("n_ab") >= 3)
        pairs
          .join(marg.select(col("pk").as("a"), col("n_one").as("n_a")),
            Seq("a"))
          .join(marg.select(col("pk").as("b"), col("n_one").as("n_b")),
            Seq("b"))
          .crossJoin(broadcast(nOrders))
          .withColumn("pmi_x1e6", expr(
            "cast(round(ln(cast(n_ab as double) * n_orders / " +
              "(cast(n_a as double) * n_b)) * 1000000) as bigint)"))
          .orderBy(col("pmi_x1e6").desc, col("a").asc, col("b").asc)
          .limit(20)
          .select("a", "b", "n_ab", "n_a", "n_b", "pmi_x1e6")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
              l_partkey AS pk FROM lineitem),
          n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM li),
          marg AS (SELECT pk, count(*)::BIGINT AS n_one
            FROM li GROUP BY 1),
          pairs AS (SELECT x.pk AS a, y.pk AS b,
              count(*)::BIGINT AS n_ab
            FROM li x JOIN li y USING (ok) WHERE x.pk < y.pk
            GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT a, b, n_ab, ma.n_one AS n_a, mb.n_one AS n_b,
          round(ln(n_ab::DOUBLE * n.n_orders /
            (ma.n_one::DOUBLE * mb.n_one)) * 1000000)::BIGINT
            AS pmi_x1e6
        FROM pairs JOIN marg ma ON ma.pk = a
          JOIN marg mb ON mb.pk = b, n
        ORDER BY pmi_x1e6 DESC, a, b LIMIT 20"""),
      "Co-purchase PMI at 1e6 scale with a support floor: " +
        "order-bounded pair generation, exact integer counts, one ln " +
        "per surviving pair, top-20 via TakeOrdered — the " +
        "co-occurrence association score of embedding pipelines."),

    GraftQuery(
      "q_win_running_distinct", Seq("W2", "A8", "D1"),
      (s, dir) => {
        // Running COUNT(DISTINCT) over a user's event timeline — the
        // window Spark (and ANSI SQL engines generally) refuse to
        // plan directly, and the naive self-join emulation of which
        // is O(n²) per user. The scale-safe rewrite: a distinct type
        // contributes exactly at its FIRST occurrence, so reduce to
        // one row per (user, type) via min(ts) — one map-side-
        // combining shuffle that also collapses the data to the
        // distinct-key cardinality — then rank first-occurrences
        // per user. The window partitions by user (bounded
        // partitions), never a global sort; ties broken by type for
        // a total order.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("first_ts", "event_type")
        t(s, dir, "events")
          .groupBy("user_id", "event_type")
          .agg(min("ts").as("first_ts"))
          .withColumn("nth_distinct",
            row_number().over(w).cast("bigint"))
          .where(col("user_id") % 53 === 0)
          .select("user_id", "event_type", "first_ts", "nth_distinct")
          .orderBy("user_id", "nth_distinct")
      },
      Some("""WITH firsts AS (SELECT user_id, event_type,
              min(ts) AS first_ts
            FROM events GROUP BY 1, 2)
        SELECT user_id, event_type, first_ts,
          row_number() OVER (PARTITION BY user_id
            ORDER BY first_ts, event_type)::BIGINT AS nth_distinct
        FROM firsts WHERE user_id % 53 = 0
        ORDER BY user_id, nth_distinct"""),
      "Running distinct-count rewrite: first-occurrence reduction " +
        "(one combining shuffle to distinct-key cardinality) + " +
        "per-user rank — the linear plan for the window COUNT" +
        "(DISTINCT) engines cannot express, quadratic-free at any " +
        "scale."),

    GraftQuery(
      "q_agg_grouping_sets", Seq("A8", "P6"),
      (s, dir) => {
        // Explicit GROUPING SETS — the OLAP report shape rollup/cube
        // cannot express: exactly (priority, year), (priority), and
        // (year) — NO grand total, no other combination. Spark plans
        // it as the same single Expand + hash aggregate as rollup
        // (each row feeds its 3 sets map-side; one shuffle on the
        // widened key), so the subtotal views cost no extra scan.
        // Money leaves float land per-row (exact integer cents), so
        // subtotal sums are summation-order-free; grouping_id bit
        // parity with the oracle as in q_agg_rollup.
        val o = t(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("bigint"))
          .withColumn("cents",
            expr("cast(round(o_totalprice * 100) as bigint)"))
        o.groupingSets(
            Seq(Seq(col("o_orderpriority"), col("yr")),
              Seq(col("o_orderpriority")), Seq(col("yr"))),
            col("o_orderpriority"), col("yr"))
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
            grouping_id().as("gid"))
          .select(
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            coalesce(col("yr"), lit(-1L)).as("yr"),
            col("n"), col("cents"), col("gid"))
          .orderBy("gid", "priority", "yr")
      },
      Some("""WITH o AS (SELECT o_orderpriority,
              year(o_orderdate)::BIGINT AS yr,
              round(o_totalprice * 100)::BIGINT AS cents
            FROM orders)
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          coalesce(yr, -1) AS yr, count(*)::BIGINT AS n,
          sum(cents)::BIGINT AS cents,
          grouping(o_orderpriority, yr)::BIGINT AS gid
        FROM o
        GROUP BY GROUPING SETS ((o_orderpriority, yr), (o_orderpriority),
          (yr))
        ORDER BY gid, priority, yr"""),
      "Explicit GROUPING SETS (two subtotal views + leaf, no grand " +
        "total) in one Expand + hash-aggregate pass, exact-cents " +
        "measures, cross-engine grouping_id parity.")
  ,

    GraftQuery(
      "q_events_disorder", Seq("W8", "A8"),
      (s, dir) => {
        // Event-time disorder audit — the measurement that SIZES a
        // streaming watermark: how late do events actually arrive?
        // Arrival order is the monotone ingest id (event_id);
        // lateness of an event = how far its event time sits behind
        // the max event time already ingested FOR THAT USER. One
        // running-max window per user (bounded partitions, id-unique
        // order — never a global sort), then an exact integer
        // aggregation per event type: late fraction in ppm, worst
        // and total lateness in micros. All integer micros — no
        // float anywhere.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("m"))
          .withColumn("late_us",
            greatest(lit(0L), max("m").over(w) - col("m")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("late_us") > 0, 1L).otherwise(0L))
              .as("n_late"),
            max("late_us").as("max_late_us"),
            sum("late_us").as("sum_late_us"))
          .withColumn("late_ppm",
            expr("n_late * 1000000 div n_events"))
          .select("event_type", "n_events", "n_late", "late_ppm",
            "max_late_us", "sum_late_us")
          .orderBy("event_type")
      },
      Some("""WITH l AS (SELECT event_type,
              greatest(0, coalesce(max(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                - epoch_us(ts)) AS late_us
            FROM events)
        SELECT event_type, count(*)::BIGINT AS n_events,
          sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT
            AS n_late,
          (sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
            * 1000000 // count(*))::BIGINT AS late_ppm,
          max(late_us)::BIGINT AS max_late_us,
          sum(late_us)::BIGINT AS sum_late_us
        FROM l GROUP BY 1 ORDER BY 1"""),
      "Watermark-sizing disorder audit: per-user running-max window " +
        "over the arrival order (bounded partitions), exact integer " +
        "lateness stats per event type — late ppm, worst and total " +
        "lateness in micros."),

    GraftQuery(
      "q_events_winsorized", Seq("A9", "A8", "W7"),
      (s, dir) => {
        // Winsorized (clipped) robust statistics per event type — the
        // outlier-tolerant feature scaling a metrics pipeline applies
        // before averaging heavy-tailed values: clip each value to its
        // group's [p10, p90], report clip counts and the clipped sum.
        // Quantiles come from the GK sketch (percentile_approx) run at
        // accuracy >= the table size, where its cuts are EXACT and
        // equal DuckDB's quantile_disc (the q_text_quantile_sketch
        // pin); the premise is gate-asserted, not assumed. Scale
        // shape: one sketch aggregation (mergeable partials), a
        // broadcast of the 5-row cut table, one combining
        // aggregation — no window, no sort, all-integer micros.
        val acc = math.min(math.max(10000L,
          Tables.rowCount(s, dir, "events")), 10000000L).toInt
        if (s.conf.getOption("graft.gate").contains("true")) {
          val n = Tables.rowCount(s, dir, "events")
          require(n <= acc, s"q_events_winsorized: table ($n rows) " +
            s"exceeds sketch accuracy $acc — cuts no longer exact")
        }
        val v = t(s, dir, "events")
          .select(col("event_type"),
            expr("cast(round(value * 1000000) as bigint)").as("v6"))
        val cuts = v.groupBy("event_type")
          .agg(expr(s"percentile_approx(v6, array(0.1, 0.9), $acc)")
            .as("c"))
          .select(col("event_type"), col("c")(0).as("lo"),
            col("c")(1).as("hi"))
        v.join(broadcast(cuts), Seq("event_type"))
          .withColumn("w", least(greatest(col("v6"), col("lo")),
            col("hi")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            first("lo").as("lo_v6"), first("hi").as("hi_v6"),
            sum(when(col("v6") < col("lo"), 1L).otherwise(0L))
              .as("n_clip_lo"),
            sum(when(col("v6") > col("hi"), 1L).otherwise(0L))
              .as("n_clip_hi"),
            sum("w").as("sum_w6"))
          .orderBy("event_type")
      },
      Some("""WITH v AS (SELECT event_type,
              round(value * 1000000)::BIGINT AS v6 FROM events),
          c AS (SELECT event_type,
              quantile_disc(v6, 0.1) AS lo,
              quantile_disc(v6, 0.9) AS hi
            FROM v GROUP BY 1)
        SELECT v.event_type, count(*)::BIGINT AS n,
          first(c.lo)::BIGINT AS lo_v6, first(c.hi)::BIGINT AS hi_v6,
          sum(CASE WHEN v6 < c.lo THEN 1 ELSE 0 END)::BIGINT
            AS n_clip_lo,
          sum(CASE WHEN v6 > c.hi THEN 1 ELSE 0 END)::BIGINT
            AS n_clip_hi,
          sum(least(greatest(v6, c.lo), c.hi))::BIGINT AS sum_w6
        FROM v JOIN c USING (event_type)
        GROUP BY 1 ORDER BY 1"""),
      "Winsorized robust stats: exact GK cuts (gate-asserted " +
        "accuracy) broadcast onto one combining clip-and-sum pass — " +
        "no window, no sort, integer micros end to end."),

    GraftQuery(
      "q_events_cuped", Seq("A9", "A8", "J9"),
      (s, dir) => {
        // CUPED variance-reduced experiment readout (Deng et al.,
        // WSDM 2013) — the industry-standard upgrade of the plain A/B
        // comparison (q_events_abtest): regress the experiment-period
        // metric Y on a PRE-period covariate X (per-user event count
        // before Jan 16), pool θ = cov(X,Y)/var(X) over all users,
        // and report per-variant means of Y and of the adjusted
        // Y − θ(X − X̄); ρ² is the variance fraction CUPED removes.
        // Float discipline: every sum (n, ΣX, ΣY, ΣX², ΣXY, ΣY²) is
        // an EXACT integer (counts and cents), so partial aggregation
        // order cannot perturb anything; θ/means/ρ² leave integer
        // land in one fixed-order double chain each, rounded once.
        // Scale shape: one per-user aggregation (combining shuffle),
        // a 2-row per-variant integer aggregation, a 1-row pooled
        // aggregate broadcast back onto it — no window, no sort.
        val ev = t(s, dir, "events")
        val perUser = ev.groupBy("user_id")
          .agg(
            sum(when(col("ts") < lit("2024-01-16").cast("timestamp"),
              1L).otherwise(0L)).as("x"),
            sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"),
              expr("cast(round(value * 100) as bigint)"))
              .otherwise(0L)).as("y"))
          .withColumn("variant", when(
            expr(s"${graft.operators.TextOps.hash64("cast(user_id as string)")} % 2")
              === 0, "A").otherwise("B"))
        val byVariant = perUser.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum("y").as("sy"), sum(expr("x * x")).as("sxx"),
            sum(expr("x * y")).as("sxy"),
            sum(expr("y * y")).as("syy"))
        val pooled = byVariant
          .agg(sum("n").as("pn"), sum("sx").as("psx"),
            sum("sy").as("psy"), sum("sxx").as("psxx"),
            sum("sxy").as("psxy"), sum("syy").as("psyy"))
        byVariant.crossJoin(broadcast(pooled))
          .withColumn("theta", expr(
            "(cast(pn as double) * psxy - cast(psx as double) * psy)" +
              " / (cast(pn as double) * psxx " +
              "- cast(psx as double) * psx)"))
          .withColumn("xbar", expr("cast(psx as double) / pn"))
          .withColumn("mean_y_c", expr(
            "round(cast(sy as double) / n, 2)"))
          .withColumn("mean_yadj_c", expr(
            "round(cast(sy as double) / n - theta * " +
              "(cast(sx as double) / n - xbar), 2)"))
          .withColumn("rho2_ppm", expr(
            "cast(round((cast(pn as double) * psxy " +
              "- cast(psx as double) * psy) " +
              "* (cast(pn as double) * psxy " +
              "- cast(psx as double) * psy) " +
              "/ ((cast(pn as double) * psxx " +
              "- cast(psx as double) * psx) " +
              "* (cast(pn as double) * psyy " +
              "- cast(psy as double) * psy)) * 1000000) as bigint)"))
          .withColumn("theta_x1e6",
            expr("cast(round(theta * 1000000) as bigint)"))
          .select("variant", "n", "mean_y_c", "mean_yadj_c",
            "theta_x1e6", "rho2_ppm")
          .orderBy("variant")
      },
      Some(s"""WITH u AS (SELECT user_id,
              sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1
                ELSE 0 END)::BIGINT AS x,
              sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT
                AS y
            FROM events GROUP BY 1),
          v AS (SELECT CASE WHEN
                ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
                  ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
              x, y
            FROM u),
          bv AS (SELECT variant, count(*)::BIGINT AS n,
              sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
              sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
              sum(y * y)::BIGINT AS syy
            FROM v GROUP BY 1),
          p AS (SELECT sum(n)::BIGINT AS pn, sum(sx)::BIGINT AS psx,
              sum(sy)::BIGINT AS psy, sum(sxx)::BIGINT AS psxx,
              sum(sxy)::BIGINT AS psxy, sum(syy)::BIGINT AS psyy
            FROM bv)
        SELECT variant, n,
          round(sy::DOUBLE / n, 2) AS mean_y_c,
          round(sy::DOUBLE / n
            - ((pn::DOUBLE * psxy - psx::DOUBLE * psy)
               / (pn::DOUBLE * psxx - psx::DOUBLE * psx))
              * (sx::DOUBLE / n - psx::DOUBLE / pn), 2)
            AS mean_yadj_c,
          round(((pn::DOUBLE * psxy - psx::DOUBLE * psy)
            / (pn::DOUBLE * psxx - psx::DOUBLE * psx))
            * 1000000)::BIGINT AS theta_x1e6,
          round((pn::DOUBLE * psxy - psx::DOUBLE * psy)
            * (pn::DOUBLE * psxy - psx::DOUBLE * psy)
            / ((pn::DOUBLE * psxx - psx::DOUBLE * psx)
              * (pn::DOUBLE * psyy - psy::DOUBLE * psy))
            * 1000000)::BIGINT AS rho2_ppm
        FROM bv, p ORDER BY variant"""),
      "CUPED variance-reduced A/B readout: exact integer sufficient " +
        "statistics (counts + cents), pooled θ and ρ² in one " +
        "fixed-order double chain each, per-variant adjusted means — " +
        "one combining shuffle plus tiny aggregates.")
    ,

    GraftQuery(
      "q_events_bootstrap", Seq("A9", "A8", "W3"),
      (s, dir) => {
        // Poisson-bootstrap confidence interval for the per-user spend
        // mean, per event type (Chamandy et al., "Estimating Uncertainty
        // for Massive Data Streams", Google TR 2012): instead of
        // resampling n users WITH replacement (which needs global
        // coordination), each (user, replicate) pair draws an
        // independent Poisson(1) weight — at 100 TB the B=100
        // replicates are one explode away, and the partial aggregation
        // collapses each partition to at most |types|×B rows before the
        // only shuffle, so the wire carries replicate partial sums, not
        // events. Determinism discipline: the weight comes from the
        // low-60-bit md5 hash of (type, user, b) compared against
        // FLOOR(CDF_Poisson(1)(k) · 2^60) integer thresholds — both
        // engines branch on identical integers, no float RNG anywhere;
        // replicate means leave integer land in one double division,
        // and the CI bounds are ORDER STATISTICS (ranks 3/98 of the
        // 100 replicate means — ≈ the 2.5th/97.5th percentiles)
        // rather than interpolated quantiles, so no engine-specific
        // interpolation enters the hash compare.
        val B = 100
        val ev = t(s, dir, "events")
        val base = ev.groupBy("event_type", "user_id")
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y_c"))
          // consumed by BOTH the replicate pipeline and the point
          // estimate: materialize once or the events scan+shuffle
          // behind it runs twice
          .localCheckpoint(eager = false)
        val h = graft.operators.TextOps.hash64(
          "concat(event_type, ':', cast(user_id as string), ':', " +
            "cast(b as string))")
        val wCase =
          s"""CASE WHEN $h < 424136118829305344L THEN 0L
                WHEN $h < 848272237658610688L THEN 1L
                WHEN $h < 1060340297073263360L THEN 2L
                WHEN $h < 1131029650211480960L THEN 3L
                WHEN $h < 1148701988496035328L THEN 4L
                WHEN $h < 1152236456152946176L THEN 5L
                WHEN $h < 1152825534095764608L THEN 6L
                ELSE 7L END"""
        val repMeans = base
          .select(col("event_type"), col("user_id"), col("y_c"),
            explode(expr(s"sequence(0, ${B - 1})")).as("b"))
          .withColumn("w", expr(wCase))
          .groupBy("event_type", "b")
          .agg(sum(expr("w * y_c")).as("swy"), sum("w").as("sw"))
          .withColumn("rep_mean", expr("cast(swy as double) / sw"))
        val ranked = repMeans.withColumn("r",
          row_number().over(Window.partitionBy("event_type")
            .orderBy(col("rep_mean"), col("b"))))
        val ci = ranked.groupBy("event_type").agg(
          max(when(col("r") === 3, col("rep_mean"))).as("lo"),
          max(when(col("r") === 98, col("rep_mean"))).as("hi"))
        base.groupBy("event_type")
          .agg(count(lit(1)).as("n_users"), sum("y_c").as("sy"))
          .join(ci, Seq("event_type"))
          .select(col("event_type"), col("n_users"),
            expr("round(cast(sy as double) / n_users, 2)")
              .as("mean_cents"),
            expr("round(lo, 2)").as("boot_lo_cents"),
            expr("round(hi, 2)").as("boot_hi_cents"))
          .orderBy("event_type")
      },
      Some("""WITH base AS (SELECT event_type, user_id,
              sum(round(value * 100)::BIGINT)::BIGINT AS y_c
            FROM events GROUP BY 1, 2),
          reps AS (SELECT event_type, b, y_c,
              ('0x' || substr(md5(event_type || ':' ||
                user_id::VARCHAR || ':' || b::VARCHAR), 1, 15))::BIGINT
                AS h
            FROM base, (SELECT range AS b FROM range(100)) r),
          w AS (SELECT event_type, b, y_c,
              CASE WHEN h < 424136118829305344 THEN 0
                WHEN h < 848272237658610688 THEN 1
                WHEN h < 1060340297073263360 THEN 2
                WHEN h < 1131029650211480960 THEN 3
                WHEN h < 1148701988496035328 THEN 4
                WHEN h < 1152236456152946176 THEN 5
                WHEN h < 1152825534095764608 THEN 6
                ELSE 7 END AS wt
            FROM reps),
          rm AS (SELECT event_type, b,
              sum(wt * y_c)::BIGINT AS swy, sum(wt)::BIGINT AS sw
            FROM w GROUP BY 1, 2),
          rk AS (SELECT event_type, b, swy::DOUBLE / sw AS rep_mean,
              row_number() OVER (PARTITION BY event_type
                ORDER BY swy::DOUBLE / sw, b) AS r
            FROM rm),
          ci AS (SELECT event_type,
              max(CASE WHEN r = 3 THEN rep_mean END) AS lo,
              max(CASE WHEN r = 98 THEN rep_mean END) AS hi
            FROM rk GROUP BY 1),
          pt AS (SELECT event_type, count(*)::BIGINT AS n_users,
              sum(y_c)::BIGINT AS sy
            FROM base GROUP BY 1)
        SELECT pt.event_type, pt.n_users,
          round(pt.sy::DOUBLE / pt.n_users, 2) AS mean_cents,
          round(ci.lo, 2) AS boot_lo_cents,
          round(ci.hi, 2) AS boot_hi_cents
        FROM pt JOIN ci USING (event_type)
        ORDER BY event_type"""),
      "Poisson-bootstrap CI for the per-user spend mean: hash-seeded " +
        "integer Poisson(1) weights (no RNG), B=100 replicates " +
        "collapsed map-side to |types|×B partial sums, CI from order " +
        "statistics of the replicate means — uncertainty without a " +
        "single collect."),

    GraftQuery(
      "q_events_bootstrap_diff", Seq("A9", "A8", "W3"),
      (s, dir) => {
        // The decision-relevant experiment readout: a Poisson-
        // bootstrap CI on the A−B DIFFERENCE of per-user spend means
        // under the standard md5 variant split (the one
        // q_events_abtest / q_events_cuped / q_events_srm share).
        // Each replicate resamples USERS (weights keyed on user and
        // replicate only, so a user's weight is common to its variant
        // aggregates — the unit of resampling is the randomization
        // unit, as bootstrap theory requires), computes both variant
        // means and their difference, and ranks 3/98 of the 100
        // replicate diffs bound the ~95% CI; `significant` = the CI
        // excludes zero. Same determinism discipline as
        // q_events_bootstrap: integer thresholds, one double division
        // per (variant, replicate), order-statistic bounds.
        val B = 100
        val ev = t(s, dir, "events")
        val vExpr = s"${graft.operators.TextOps.hash64(
          "cast(user_id as string)")} % 2"
        val base = ev.groupBy("user_id")
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y_c"))
          .withColumn("v", expr(vExpr))
          .localCheckpoint(eager = false)
        val h = graft.operators.TextOps.hash64(
          "concat(cast(user_id as string), '#', cast(b as string))")
        val wCase =
          s"""CASE WHEN $h < 424136118829305344L THEN 0L
                WHEN $h < 848272237658610688L THEN 1L
                WHEN $h < 1060340297073263360L THEN 2L
                WHEN $h < 1131029650211480960L THEN 3L
                WHEN $h < 1148701988496035328L THEN 4L
                WHEN $h < 1152236456152946176L THEN 5L
                WHEN $h < 1152825534095764608L THEN 6L
                ELSE 7L END"""
        val reps = base
          .select(col("user_id"), col("y_c"), col("v"),
            explode(expr(s"sequence(0, ${B - 1})")).as("b"))
          .withColumn("w", expr(wCase))
          .groupBy("b", "v")
          .agg(sum(expr("w * y_c")).as("swy"), sum("w").as("sw"))
          .groupBy("b")
          .agg(
            max(when(col("v") === 0,
              expr("cast(swy as double) / sw"))).as("ma"),
            max(when(col("v") === 1,
              expr("cast(swy as double) / sw"))).as("mb"))
          .withColumn("d", expr("ma - mb"))
        val ranked = reps.withColumn("r",
          row_number().over(Window.orderBy(col("d"), col("b"))))
        val ci = ranked.agg(
          max(when(col("r") === 3, col("d"))).as("lo"),
          max(when(col("r") === 98, col("d"))).as("hi"))
        base.groupBy("v").agg(count(lit(1)).as("n"),
            sum("y_c").as("sy"))
          .agg(
            max(when(col("v") === 0,
              expr("cast(sy as double) / n"))).as("mean_a"),
            max(when(col("v") === 1,
              expr("cast(sy as double) / n"))).as("mean_b"),
            sum(when(col("v") === 0, col("n"))).as("n_a"),
            sum(when(col("v") === 1, col("n"))).as("n_b"))
          .crossJoin(ci)
          .select(
            col("n_a"), col("n_b"),
            expr("round(mean_a - mean_b, 2)").as("diff_cents"),
            expr("round(lo, 2)").as("boot_lo_cents"),
            expr("round(hi, 2)").as("boot_hi_cents"),
            expr("lo > 0 OR hi < 0").as("significant"))
      },
      Some("""WITH base AS (SELECT user_id,
              sum(round(value * 100)::BIGINT)::BIGINT AS y_c,
              ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2
                AS v
            FROM events GROUP BY 1),
          reps AS (SELECT user_id, y_c, v, b,
              ('0x' || substr(md5(user_id::VARCHAR || '#' ||
                b::VARCHAR), 1, 15))::BIGINT AS h
            FROM base, (SELECT range AS b FROM range(100)) r),
          w AS (SELECT v, b, y_c,
              CASE WHEN h < 424136118829305344 THEN 0
                WHEN h < 848272237658610688 THEN 1
                WHEN h < 1060340297073263360 THEN 2
                WHEN h < 1131029650211480960 THEN 3
                WHEN h < 1148701988496035328 THEN 4
                WHEN h < 1152236456152946176 THEN 5
                WHEN h < 1152825534095764608 THEN 6
                ELSE 7 END AS wt
            FROM reps),
          bv AS (SELECT b, v, sum(wt * y_c)::BIGINT AS swy,
              sum(wt)::BIGINT AS sw
            FROM w GROUP BY 1, 2),
          d AS (SELECT b,
              max(CASE WHEN v = 0 THEN swy::DOUBLE / sw END)
                - max(CASE WHEN v = 1 THEN swy::DOUBLE / sw END) AS d
            FROM bv GROUP BY 1),
          rk AS (SELECT d, row_number() OVER (ORDER BY d, b) AS r
            FROM d),
          ci AS (SELECT max(CASE WHEN r = 3 THEN d END) AS lo,
              max(CASE WHEN r = 98 THEN d END) AS hi
            FROM rk),
          pt AS (SELECT
              max(CASE WHEN v = 0 THEN sy::DOUBLE / n END) AS mean_a,
              max(CASE WHEN v = 1 THEN sy::DOUBLE / n END) AS mean_b,
              sum(CASE WHEN v = 0 THEN n END)::BIGINT AS n_a,
              sum(CASE WHEN v = 1 THEN n END)::BIGINT AS n_b
            FROM (SELECT v, count(*)::BIGINT AS n,
                sum(y_c)::BIGINT AS sy FROM base GROUP BY 1))
        SELECT n_a, n_b,
          round(mean_a - mean_b, 2) AS diff_cents,
          round(lo, 2) AS boot_lo_cents,
          round(hi, 2) AS boot_hi_cents,
          (lo > 0 OR hi < 0) AS significant
        FROM pt, ci"""),
      "Poisson-bootstrap CI on the A-B spend difference under the " +
        "shared hash variant split: users are the resampling unit, " +
        "both variant means share each user's replicate weight, and " +
        "the significance verdict is the order-statistic CI vs zero."),

    GraftQuery(
      "q_events_srm", Seq("A8", "A9"),
      (s, dir) => {
        // Sample-ratio-mismatch guardrail (Fabijan et al., "Diagnosing
        // Sample Ratio Mismatch", KDD 2019): per activity day, the
        // users active that day should split 50/50 across the hash
        // variants of q_events_abtest/q_events_cuped; a skewed split
        // means the assignment or logging pipeline is dropping one arm
        // (the single most common invalidator of A/B readouts). The
        // chi-square statistic against the expected equal split is an
        // exact rational in the observed integer counts — scaled to
        // ×1e6 and floored into a BIGINT so both engines hash the same
        // value — and the flag applies the 95% critical value for one
        // degree of freedom (3.841). Scale shape: one distinct over
        // (day, user) — a combining shuffle — then a per-day integer
        // aggregation; no window, no sort beyond the output's.
        val ev = t(s, dir, "events")
        val vExpr = s"${graft.operators.TextOps.hash64(
          "cast(user_id as string)")} % 2"
        val dayUser = ev
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("user_id"))
          .distinct()
          .withColumn("v", expr(vExpr))
        dayUser.groupBy("day")
          .agg(
            sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"))
          .withColumn("chi2_x1e6", expr(
            "cast(floor(cast((n_a - n_b) as double) * (n_a - n_b) " +
              "/ (n_a + n_b) * 1000000) as bigint)"))
          .withColumn("srm_flag", expr("chi2_x1e6 > 3841000"))
          .select("day", "n_a", "n_b", "chi2_x1e6", "srm_flag")
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT
              strftime(ts, '%Y-%m-%d') AS day, user_id
            FROM events),
          v AS (SELECT day,
              ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2
                AS v
            FROM du),
          c AS (SELECT day,
              sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
              sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
            FROM v GROUP BY 1)
        SELECT day, n_a, n_b,
          floor((n_a - n_b)::DOUBLE * (n_a - n_b) / (n_a + n_b)
            * 1000000)::BIGINT AS chi2_x1e6,
          floor((n_a - n_b)::DOUBLE * (n_a - n_b) / (n_a + n_b)
            * 1000000)::BIGINT > 3841000 AS srm_flag
        FROM c ORDER BY day"""),
      "Per-day sample-ratio-mismatch guardrail: distinct active users " +
        "per hash variant, exact integer chi-square ×1e6 against the " +
        "50/50 design, flagged at the 95% critical value.")
  )
}
