package graft.queries

import graft.model.TableCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline analytical queries (TPC-H-shaped) — the bench's scale signal.
  * Plans are the ones a 1000-executor cluster wants: dimension sides
  * broadcast, date filters pushed to the lineitem scan, one shuffle per
  * aggregation, decimal arithmetic for cross-engine exactness.
  */
object TpchQueries extends Registry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    TableCache.parquet(s, s"$dir/$n.parquet")

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  val all: Seq[Q] = Seq(
    // Q1-style pricing summary: one scan, one agg shuffle, filter pushed
    Q("q1_pricing", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Q3-style shipping priority: broadcast customer dim, top-10 revenue
    Q("q3_topk", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(broadcast(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"), col("revenue"))
    },
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS orderdate_ms,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // Q4-style: EXISTS as a LEFT SEMI join — orders with any lineitem
    // shipped > 30 days after the order date, counted per priority. The
    // semi-join shuffles both sides on the order key ONCE and never
    // materializes the match multiplicity (a plain join + distinct would
    // blow up |matches| first); the extra lateness predicate rides the
    // join, not a post-filter.
    Q("q4_priority", (s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late
        |FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // NOT EXISTS as a LEFT ANTI join — parts with no shipment since
    // 2001-06-01, per brand. The date filter prunes the probe side AT THE
    // SCAN (PushedFilters), so the anti-join's build input is the slim
    // recent slice, not all of lineitem.
    Q("q16_quiet_parts", (s, dir) => {
      val p = t(s, dir, "part")
      val recent = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-06-01"))
        .select("l_partkey")
      p.join(recent, col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_quiet"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_quiet
        |FROM part p WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_partkey = p.p_partkey
        |    AND l.l_shipdate >= TIMESTAMP '2001-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Q10-style returned-item revenue: the one deliberately NON-broadcast
    // big join — lineitem('R') ⋈ orders shuffles on the order key (at
    // scale neither side broadcasts); customer⋈nation stays a broadcast
    // dim chain on top. Top-20 by revenue.
    Q("q10_returns", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
      val dims = broadcast(t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // Q18-style large orders: aggregate-then-join. The HAVING aggregate
    // hash-partitions lineitem on l_orderkey, and the subsequent join to
    // orders reuses that partitioning (no second lineitem shuffle).
    Q("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(dec("l_quantity")).as("__qty"))
        .filter(col("__qty") > lit(200).cast("decimal(18,2)"))
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("__qty").cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, epoch_ms(o_orderdate) AS orderdate_ms,
        |CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM orders JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200) ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // Q5-style local supplier volume: the full dim chain broadcast
    Q("q5_region", (s, dir) => {
      val dims = broadcast(
        t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey")))
      t(s, dir, "lineitem")
        .join(dims, col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Q7-style cross-nation volume: TWO copies of the nation dim (supplier
    // side and customer side), both broadcast, with the nation-pair
    // disjunction evaluated as a residual on the broadcast-joined row —
    // the one fact-fact shuffle is lineitem ⋈ orders on the order key.
    Q("q7_nations", (s, dir) => {
      val sn = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cn = broadcast(t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Q9-style profit by nation and year: the part filter (name contains
    // "red") prunes the broadcast build side BEFORE the join, so the big
    // lineitem scan joins against a slim dim — and Catalyst turns the
    // inner join into a filter on the fact scan's partkey via DPP at
    // scale. No partsupp table in this corpus, so profit is the
    // discounted price (the join shape, not the cost arithmetic, is the
    // point).
    Q("q9_profit", (s, dir) => {
      val reds = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("red")).select("p_partkey"))
      val sn = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
      t(s, dir, "lineitem")
        .join(reds, col("l_partkey") === col("p_partkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("sum_profit"))
        .orderBy("nation", "o_year")
    },
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Q14-style promo share, one month: numerator and denominator emitted
    // as SEPARATE decimal sums (a cross-engine-exact ratio would divide
    // two doubles — the reader can). Conditional aggregation rides the
    // same single agg shuffle; the month predicate is pushed to the scan.
    Q("q14_promo", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1998-02-01"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("promo_revenue"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").as("total_revenue")),
      """SELECT
        |CAST(sum(CASE WHEN p_type = 'PROMO'
        |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-02-01'""".stripMargin),

    // Q15-style top supplier: aggregate once, then select the argmax rows
    // by equi-joining the 1-row broadcast max back onto the aggregate —
    // never a global sort or window over all suppliers.
    Q("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
        .groupBy("l_suppkey")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .as("total_rev"))
      rev.join(broadcast(rev.agg(max(col("total_rev")).as("__mx"))),
          col("total_rev") === col("__mx"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // Q17-style below-average small orders: per-part aggregate joined back
    // to the fact on the SAME key (partitioning reuse, as q18), with the
    // 0.2·avg threshold rewritten to multiply-through integer-exact form:
    // qty < sum/(5·cnt)  ⇔  5·qty·cnt < sum  (cnt > 0) — no division, no
    // cross-engine decimal-avg typing drift.
    Q("q17_small_qty", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val brand = broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1").select("p_partkey"))
      val stats = li.join(brand, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("__pk"))
        .agg(sum(dec("l_quantity")).as("__sq"), count(lit(1)).as("__cnt"))
      li.join(brand, col("l_partkey") === col("p_partkey"))
        .join(stats, col("l_partkey") === col("__pk"))
        .filter(dec("l_quantity") * 5 * col("__cnt") < col("__sq"))
        .agg(sum(dec("l_extendedprice")).cast("double").as("small_qty_revenue"),
          count(lit(1)).as("n_small"))
    },
      """WITH brand AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
        |stats AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem JOIN brand ON l_partkey = p_partkey GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
        |  CAST(count(*) AS BIGINT) AS n_small
        |FROM lineitem
        |JOIN brand ON l_partkey = p_partkey
        |JOIN stats ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq""".stripMargin),

    // Q19-style disjunctive-predicate join: equality on the part key
    // carries the broadcast hash join; the OR-of-ANDs over (brand, size,
    // quantity) stays a RESIDUAL on the matched row — never a nested-loop
    // fallback, because the equi-conjunct is extractable.
    Q("q19_disjunct", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && dec("l_quantity").between(1, 15)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) && dec("l_quantity").between(10, 25)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) && dec("l_quantity").between(20, 35))))
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_matched")),
      """SELECT
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_matched
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 20 AND 35)""".stripMargin),

    // Q13-style customer order-count distribution: LEFT OUTER join so
    // zero-order customers keep a 0 bucket, then a second aggregation over
    // the first's output — the histogram-of-aggregates shape. The first
    // agg shuffles on the join key it already has; the second moves only
    // |distinct counts| rows.
    Q("q13_custdist", (s, dir) => {
      val perCust = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // Q21-style waiting suppliers: the decorrelated EXISTS/NOT-EXISTS
    // chain — a LEFT SEMI (some OTHER supplier contributed to the order)
    // and a LEFT ANTI (no OTHER supplier was ALSO late) against the same
    // order-keyed fact, so both auxiliary joins reuse the l_orderkey
    // partitioning. "Late" = shipped > 45 days after the order date (this
    // corpus has no commit/receipt dates).
    Q("q21_waiting", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("__late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
        .select("l_orderkey", "l_suppkey", "__late")
      val l1 = l.filter(col("__late"))
      val others = l.select(col("l_orderkey").as("__ok"), col("l_suppkey").as("__sk"))
      val lateOthers = l1.select(col("l_orderkey").as("__ok"), col("l_suppkey").as("__sk"))
      val waiting = l1
        .join(others,
          col("l_orderkey") === col("__ok") && col("l_suppkey") =!= col("__sk"), "left_semi")
        .join(lateOthers,
          col("l_orderkey") === col("__ok") && col("l_suppkey") =!= col("__sk"), "left_anti")
      waiting
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 45 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
        |    AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
        |    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    // Q22-style idle rich customers: the global mean threshold is a 1-row
    // broadcast crossed onto customers with the comparison multiplied
    // through (bal·N > S — exact decimals, no avg typing drift), then a
    // LEFT ANTI join drops anyone with a RECENT order (this corpus gives
    // every customer some order, so classic "never ordered" is empty —
    // the date filter also prunes the anti-join's build side at the scan).
    // Q2-style correlated min: cheapest regional supplier per part. The
    // correlated subquery decorrelates into one slim per-part min agg and
    // an equi-join back on (part, cost) — the offers frame is computed
    // once; all dimension sides broadcast, so the only exchange is the
    // per-part agg over the part-filtered offers slice. DISTINCT collapses
    // same-supplier-same-price repeat line items.
    Q("q2_min_cost_supplier", (s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val regNat = t(s, dir, "nation")
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      val regSupp = t(s, dir, "supplier")
        .join(broadcast(regNat), col("s_nationkey") === col("n_nationkey"))
      val parts = t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
      val offers = t(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(regSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"), dec("l_extendedprice").as("cost"))
      val minCost = offers.groupBy(col("p_partkey").as("pk"))
        .agg(min("cost").as("min_cost"))
      offers.join(broadcast(minCost),
          col("p_partkey") === col("pk") && col("cost") === col("min_cost"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("min_cost").cast("double").as("min_cost"))
        .distinct()
        .orderBy("p_partkey", "s_suppkey")
    },
      """WITH offers AS (SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS cost
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size <= 15 AND p_type = 'LARGE' AND r_name = 'EUROPE')
        |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, n_name,
        |  CAST(min_cost AS DOUBLE) AS min_cost
        |FROM offers JOIN (SELECT p_partkey AS pk, min(cost) AS min_cost
        |  FROM offers GROUP BY 1) m ON p_partkey = pk AND cost = min_cost
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // Q8-style market share: one nation's volume share of a region's
    // market per year. Two roles for nation (customer region filter,
    // supplier name) — both broadcast; the ratio is emitted as exact
    // numerator/denominator (the q14 posture: never divide doubles the
    // oracle must reproduce bit-for-bit).
    Q("q8_market_share", (s, dir) => {
      val vol = dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount"))
      val custAmerica = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk"))),
          col("c_nationkey") === col("cnk"))
        .select("c_custkey")
      val suppNamed = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select(
          col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAmerica), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNamed), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("nation_volume"),
          sum(vol).cast("double").as("total_volume"))
        .orderBy("o_year")
    },
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_volume
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Q11-style important parts: per-part value over a nation group's
    // suppliers, kept when above a fraction of the GLOBAL total. The
    // global scalar is a 1-row aggregate of the same per-part frame,
    // broadcast back via cross-join (the q22 threshold pattern); the
    // comparison is decimal-exact (val·1000 > total — never a double
    // division).
    Q("q11_important_parts", (s, dir) => {
      val suppNat = t(s, dir, "supplier").filter(col("s_nationkey") < 5)
        .select("s_suppkey")
      val v = t(s, dir, "lineitem")
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(dec("l_extendedprice")).as("val"))
      v.crossJoin(broadcast(v.agg(sum(col("val")).as("total"))))
        .filter(col("val") * 1000 > col("total"))
        .select(col("l_partkey"), col("val").cast("double").as("val"))
        .orderBy(col("val").desc, col("l_partkey"))
    },
      """WITH v AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey < 5 GROUP BY 1)
        |SELECT l_partkey, CAST(val AS DOUBLE) AS val
        |FROM v, (SELECT sum(val) AS total FROM v) t
        |WHERE val * 1000 > total
        |ORDER BY val DESC, l_partkey""".stripMargin),

    // Q12-style two-level conditional aggregation: late shipments split
    // into high/low priority counts per return flag — the CASE rides the
    // single agg shuffle; the lateness predicate rides the join.
    Q("q12_priority_class", (s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, li("l_orderkey") === ord("o_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Q20-style nested semi-join chain: suppliers (of a nation slice) who
    // shipped > 50 units of any red part in 1997. The inner agg-HAVING
    // reduces lineitem to slim (suppkey, partkey) rows before the
    // EXISTS — which is a LEFT SEMI against the 100-row supplier dim, so
    // the big side never re-materializes matches.
    Q("q20_excess_suppliers", (s, dir) => {
      val pp = t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey")
      val agg = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(dec("l_quantity")).as("qty"))
        .filter(col("qty") > 50)
        .select("l_suppkey")
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_nationkey") < 8)),
          col("s_nationkey") === col("n_nationkey"))
        .join(agg, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
        |agg AS (SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem JOIN pp ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 8 AND EXISTS (SELECT 1 FROM agg WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),

    Q("q22_idle_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val thr = cust.filter(dec("c_acctbal") > lit(0).cast("decimal(18,2)"))
        .agg(sum(dec("c_acctbal")).as("__s"), count(lit(1)).as("__n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01")).select("o_custkey")
      cust.crossJoin(broadcast(thr))
        .filter(dec("c_acctbal") * col("__n") > col("__s"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec("c_acctbal")).cast("double").as("total_bal"))
        .orderBy("c_nationkey")
    },
      """WITH thr AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, thr
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * thr.n > thr.s
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin))
}
