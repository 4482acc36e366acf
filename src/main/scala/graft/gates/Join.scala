package graft.gates

import org.apache.spark.sql.functions._

import graft.core.{GTable, SortKey}

import Fixtures._

/** Join gates: inner, outer, semi/anti, as-of, range, salted, multi-key
  * and chained joins, and the typed-`Dataset` path (OPERATORS.md §2.3). */
object JoinGates extends Family {

  /** Inner equi-join with small-side broadcast (reference join with
    * auto-created hash indexes, littletable.py:2353-2507). */
  gate("q_join_inner", Budget(2),
    """SELECT c_custkey, c_name, count(*) AS n_orders,
      | round(sum(o_totalprice),2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey, c_name""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .joinBroadcast(t(s, dir, "customer"), "o_custkey" -> "c_custkey")
      .groupbyWithSummaries(Seq("c_custkey", "c_name"),
        "n_orders" -> count(lit(1)),
        "revenue" -> round(sum(col("o_totalprice")), 2)).df
  }

  /** Typed Dataset[T] path (reference typed Table[T] with row_class →
    * `as[T]` with a case-class Encoder): typed filter + typed groupByKey/
    * mapGroups, result re-joined to SQL semantics for the oracle. */
  gate("q_typed_dataset", Budget(2),
    """SELECT l_returnflag, count(*) AS n,
      | round(CAST(sum(l_quantity) AS DOUBLE),2) AS sum_qty
      |FROM lineitem WHERE l_quantity > 30
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ds = t(s, dir, "lineitem").df
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .as[LineitemSlim]
    ds.filter((r: LineitemSlim) => r.l_quantity > 30.0)
      .groupByKey(_.l_returnflag)
      .mapGroups { (flag, rows) =>
        var n = 0L; var q = 0.0
        rows.foreach { r => n += 1; q += r.l_quantity }
        (flag, n, math.round(q * 100) / 100.0)
      }
      .toDF("l_returnflag", "n", "sum_qty")
      .orderBy(col("l_returnflag"))
  }

  /** Backward as-of join: each purchase event matched to the same user's
    * most recent view at or before it (union-window plan, one shuffle on
    * the key). DuckDB's native ASOF LEFT JOIN is the oracle. */
  gate("q_join_asof", Budget(2),
    """SELECT p.user_id, epoch_us(p.ts) AS p_us, p.value AS p_value,
      | epoch_us(v.ts) AS v_us, v.value AS v_value
      |FROM (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type='view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.user_id, p_us, p_value""".stripMargin) { (s, dir) =>
    val ev = events(s, dir)
    val purchases = GTable(ev.df.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value"), "purchases")
    val views = GTable(ev.df.filter(col("event_type") === "view")
      .select("user_id", "ts", "value"), "views")
    purchases.joinAsOf(views, "user_id", "user_id", "ts", "ts").df
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"), col("value").as("p_value"),
        unix_micros(col("asof_ts")).as("v_us"), col("asof_value").as("v_value"))
      .orderBy(col("user_id"), col("p_us"), col("p_value"))
  }

  /** Banded range join: purchase↔view pairs of the same user within ±5
    * minutes (equi-join on (key, time-band) + exact filter — no
    * nested-loop degeneration). */
  gate("q_join_range", Budget(1),
    """SELECT p.user_id, epoch_us(p.ts) AS p_us, epoch_us(v.ts) AS v_us,
      | v.value AS v_value
      |FROM (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
      |JOIN (SELECT user_id, ts, value FROM events WHERE event_type='view') v
      |  ON p.user_id = v.user_id
      | AND v.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
      |ORDER BY p.user_id, p_us, v_us, v_value""".stripMargin) { (s, dir) =>
    val ev = events(s, dir)
    val fiveMinUs = 5L * 60 * 1000 * 1000
    val purchases = GTable(ev.df.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value"), "purchases")
    val views = GTable(ev.df.filter(col("event_type") === "view")
      .select("user_id", "ts", "value"), "views")
    purchases.joinRange(views, "user_id", "user_id", "ts", "ts",
        fiveMinUs, fiveMinUs, rightPrefix = "v_").df
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        unix_micros(col("v_ts")).as("v_us"), col("v_value"))
      .orderBy(col("user_id"), col("p_us"), col("v_us"), col("v_value"))
  }

  /** Custom Aggregator[IN,BUF,OUT] summaries (the reference's arbitrary
    * per-group callables, littletable.py:3546-3580) — typed UDAFs with
    * map-side partial aggregation; both SQL-expressible, so fully
    * oracle-checked. */
  gate("q_udaf_summaries", Budget(2),
    """SELECT l_returnflag,
      | round(sum(l_extendedprice*l_quantity)/sum(l_quantity),4) AS wavg_price,
      | round(exp(avg(ln(l_quantity))),4) AS gmean_qty,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import graft.functions.Aggregators.{geometric_mean, weighted_mean}
    t(s, dir, "lineitem").df
      .groupBy(col("l_returnflag"))
      .agg(
        round(weighted_mean(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"),
        round(geometric_mean(col("l_quantity")), 4).as("gmean_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Skew-salted fact-fact join (GTable.joinSalted): hot keys spread over
    * 8 salted reducers; same answer as the plain equi-join, so the oracle
    * is ordinary SQL. */
  gate("q_join_salted", Budget(2),
    """SELECT o_orderpriority, count(*) AS n_items,
      | round(sum(l_extendedprice),2) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .joinSalted(t(s, dir, "orders"), 4, "l_orderkey" -> "o_orderkey").df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** 3-way join, TPC-H-Q3 style: filter → join → join → agg → top-k.
    * Dim side broadcast; fact-fact join shuffles on the key. */
  gate("q_join3_revenue", Budget(1),
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_odate,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM customer
      | JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_odate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer").whereEq("c_mktsegment" -> "BUILDING")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    ord.joinBroadcast(cust, "o_custkey" -> "c_custkey")
      .join(li, "o_orderkey" -> "l_orderkey")
      .computeField("o_odate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .groupbyWithSummaries(Seq("o_orderkey", "o_odate"),
        "revenue" -> round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2))
      .orderby("revenue desc, o_orderkey")
      .head(10).df
  }

  /** Multi-attribute equi-join (reference multi-key join,
    * littletable.py:2466-2478): lineitem ⋈ (partkey,suppkey) summary. */
  gate("q_join_multikey", Budget(3),
    """WITH ps AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |    round(avg(l_quantity),4) AS avg_qty
      |  FROM lineitem GROUP BY 1, 2
      |)
      |SELECT partkey, count(*) AS n_above
      |FROM ps JOIN lineitem ON partkey = l_partkey AND suppkey = l_suppkey
      |WHERE l_quantity > avg_qty * 1.5
      |GROUP BY partkey HAVING count(*) >= 3
      |ORDER BY partkey""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val ps = li.df.groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
      .agg(round(avg(col("l_quantity")), 4).as("avg_qty"))
    GTable(ps, "ps")
      .joinTyped(t(s, dir, "lineitem"), "inner",
        "partkey" -> "l_partkey", "suppkey" -> "l_suppkey")
      .where(col("l_quantity") > col("avg_qty") * 1.5)
      .groupbyWithSummaries(Seq("partkey"),
        "n_above" -> count(lit(1)))
      .where(col("n_above") >= 3)
      .orderby(SortKey.asc("partkey"))
      .df.select(col("partkey"), col("n_above"))
  }

  /** LEFT OUTER (SQL semantics; the reference's inverted naming is
    * documented, not replicated — littletable.py:2631-2646, SURVEY §2.3). */
  gate("q_join_left", Budget(2),
    """SELECT n_nationkey, n_name, count(c_custkey) AS n_rich
      |FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
      |  ON n_nationkey = c_nationkey
      |GROUP BY n_nationkey, n_name ORDER BY n_nationkey, n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "nation")
      .joinTyped(t(s, dir, "customer").where(col("c_acctbal") > 9000), "left",
        "n_nationkey" -> "c_nationkey")
      .groupbyWithSummaries(Seq("n_nationkey", "n_name"),
        "n_rich" -> count(col("c_custkey"))).df
  }

  /** RIGHT OUTER. */
  gate("q_join_right", Budget(2),
    """SELECT c_custkey, count(o_orderkey) AS n_big
      |FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
      | RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").where(col("o_totalprice") > 400000)
      .joinTyped(t(s, dir, "customer"), "right", "o_custkey" -> "c_custkey")
      .groupbyWithSummaries(Seq("c_custkey"),
        "n_big" -> count(col("o_orderkey"))).df
  }

  /** FULL OUTER with genuinely disjoint key sets (nulls on both sides). */
  gate("q_join_full", Budget(3),
    """SELECT coalesce(a.n_nationkey, b.nk_b) AS nk, a.name_a, b.name_b
      |FROM (SELECT n_nationkey, n_name AS name_a FROM nation WHERE n_regionkey=0) a
      |FULL OUTER JOIN (SELECT n_nationkey AS nk_b, n_name AS name_b FROM nation WHERE n_regionkey=1) b
      |  ON a.n_nationkey = b.nk_b
      |ORDER BY nk""".stripMargin) { (s, dir) =>
    val n = t(s, dir, "nation")
    val a = n.whereEq("n_regionkey" -> 0).select(col("n_nationkey"), col("n_name").as("name_a"))
    val b = n.whereEq("n_regionkey" -> 1).select(col("n_nationkey").as("nk_b"), col("n_name").as("name_b"))
    a.joinTyped(b, "full", "n_nationkey" -> "nk_b")
      .select(coalesce(col("n_nationkey"), col("nk_b")).as("nk"),
              col("name_a"), col("name_b"))
      .orderby(SortKey.asc("nk"))
      .df
  }

  /** LEFT SEMI (EXISTS) — reference recipe via outer join + filter
    * (unit_tests.py:1765-1771); native semi join here. */
  gate("q_join_semi", Budget(1),
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .joinTyped(t(s, dir, "orders").where(col("o_totalprice") > 450000),
        "left_semi", "c_custkey" -> "o_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderby(SortKey.asc("c_custkey"))
      .df
  }

  /** LEFT ANTI (NOT EXISTS). */
  gate("q_join_anti", Budget(1),
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .joinTyped(t(s, dir, "orders").whereEq("o_orderstatus" -> "P"),
        "left_anti", "c_custkey" -> "o_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderby(SortKey.asc("c_custkey"))
      .df
  }

  /** join_on / `+` chain builder (littletable.py:2711-2722, 4602-4683):
    * region ⋈ nation ⋈ customer via the fluent composition sugar. */
  gate("q_join_chain", Budget(2),
    """SELECT r_name, n_name, count(*) AS n_cust, round(avg(c_acctbal),4) AS avg_bal
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      | JOIN customer ON n_nationkey = c_nationkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    val chained = (t(s, dir, "region").joinOn("r_regionkey") +
      t(s, dir, "nation").joinOn("n_regionkey")).apply()
    chained
      .joinTyped(t(s, dir, "customer"), "inner", "n_nationkey" -> "c_nationkey")
      .groupbyWithSummaries(Seq("r_name", "n_name"),
        "n_cust" -> count(lit(1)),
        "avg_bal" -> round(avg(col("c_acctbal")), 4)).df
  }
}
