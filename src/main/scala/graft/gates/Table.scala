package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Cmp, SortKey}

import Fixtures._

/** The littletable table surface: aggregation and pivot, projection and
  * filter, sort and slice, set, window and scalar-function gates
  * (OPERATORS.md §2.2, §2.4–§2.8). */
object TableGates extends Family {

  // ------------------------------------------------------------------
  // §2.5 Aggregations / grouping / pivot / stats
  // ------------------------------------------------------------------

  /** TPC-H-Q1-style pricing summary — groupbyWithSummaries (reference
    * groupby_with_summaries, littletable.py:3546-3580). */
  gate("q1_agg", Budget(2),
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_extendedprice),4) AS avg_price,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupbyWithSummaries(
        Seq("l_returnflag", "l_linestatus"),
        "sum_qty" -> round(sum(col("l_quantity")), 2),
        "sum_base_price" -> round(sum(col("l_extendedprice")), 2),
        "sum_disc_price" -> round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2),
        "sum_charge" -> round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2),
        "avg_qty" -> round(avg(col("l_quantity")), 4),
        "avg_price" -> round(avg(col("l_extendedprice")), 4),
        "avg_disc" -> round(avg(col("l_discount")), 4),
        "count_order" -> count(lit(1))).df
  }

  /** Per-group named summaries over a join key (groupby_with_summaries). */
  gate("q_groupby_summaries", Budget(2),
    """SELECT c_nationkey, count(*) AS n_customers,
      | round(avg(c_acctbal),4) AS avg_acctbal,
      | round(max(c_acctbal),2) AS max_acctbal,
      | min(c_name) AS first_name
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .groupbyWithSummaries(
        Seq("c_nationkey"),
        "n_customers" -> count(lit(1)),
        "avg_acctbal" -> round(avg(col("c_acctbal")), 4),
        "max_acctbal" -> round(max(col("c_acctbal")), 2),
        "first_name" -> min(col("c_name"))).df
  }

  /** Pivot cross-tab with explicit values (reference pivot().dump_counts,
    * littletable.py:4395-4454): one shuffle, deterministic columns. */
  gate("q_pivot_counts", Budget(3),
    """SELECT o_orderpriority,
      | count(*) FILTER (WHERE o_orderstatus='F') AS "F",
      | count(*) FILTER (WHERE o_orderstatus='O') AS "O",
      | count(*) FILTER (WHERE o_orderstatus='P') AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .pivotCounts("o_orderpriority", "o_orderstatus", Seq("F", "O", "P")).df
  }

  /** Cross-tab with row/column totals (pivot().dump_counts margins,
    * littletable.py:4395-4454) — one cube pass. */
  gate("q_pivot_totals", Budget(2),
    """SELECT
      | CASE WHEN GROUPING(o_orderpriority)=1 THEN 'ALL' ELSE o_orderpriority END
      |   AS o_orderpriority,
      | count(*) FILTER (WHERE o_orderstatus='F') AS "F",
      | count(*) FILTER (WHERE o_orderstatus='O') AS "O",
      | count(*) FILTER (WHERE o_orderstatus='P') AS "P",
      | count(*) FILTER (WHERE o_orderstatus='F')
      |   + count(*) FILTER (WHERE o_orderstatus='O')
      |   + count(*) FILTER (WHERE o_orderstatus='P') AS row_total
      |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), ())
      |ORDER BY (CASE WHEN GROUPING(o_orderpriority)=1 THEN 1 ELSE 0 END),
      | o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .pivotCountsWithTotals("o_orderpriority", "o_orderstatus", Seq("F", "O", "P")).df
  }

  /** Pivot with a value aggregate per cell (pivot().as_table(sum, col)). */
  gate("q_pivot_sum", Budget(3),
    """SELECT o_orderpriority,
      | coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus='F'),2),0.0) AS "F",
      | coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus='O'),2),0.0) AS "O",
      | coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus='P'),2),0.0) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .pivotAgg("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"),
        round(sum(col("o_totalprice")), 2))
      .df.na.fill(0.0)
  }

  /** 3-attribute pivot tree, flat `as_table` shape (reference
    * littletable.py:2724-2742 + 4457-4505): key-lattice rows — level-1/2
    * keys global, level-3 keys per level-1 branch — with zero-filled
    * empty cells. One aggregation pass + broadcast key joins. */
  gate("q_pivot_3level", Budget(5,
      bnlj = Some("pivot key-lattice grid: product of two broadcast DISTINCT-KEY sets, bounded by pivot-key cardinality")),
    """WITH base AS (
      |  SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS o_year
      |  FROM orders),
      |flat AS (
      |  SELECT o_orderstatus, o_orderpriority, o_year, count(*) AS n
      |  FROM base GROUP BY 1, 2, 3),
      |k1 AS (SELECT DISTINCT o_orderstatus FROM base),
      |k2 AS (SELECT DISTINCT o_orderpriority FROM base),
      |k3 AS (SELECT DISTINCT o_orderstatus, o_year FROM base)
      |SELECT k1.o_orderstatus, k2.o_orderpriority, k3.o_year,
      | coalesce(f.n, 0) AS "count"
      |FROM k1 CROSS JOIN k2
      |JOIN k3 ON k3.o_orderstatus = k1.o_orderstatus
      |LEFT JOIN flat f ON f.o_orderstatus = k1.o_orderstatus
      | AND f.o_orderpriority = k2.o_orderpriority AND f.o_year = k3.o_year
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .computeField("o_year", year(col("o_orderdate")).cast("long"))
      .pivot("o_orderstatus", "o_orderpriority", "o_year")
      .summary().df
  }

  /** Data-profiling report: per-field row/null/distinct counts and
    * native-ordered min/max, all from ONE wide aggregate. */
  gate("q_profile", Budget(2),
    """WITH t AS (SELECT count(*) AS total FROM customer)
      |SELECT * FROM (
      |  SELECT 'c_acctbal' AS field, total AS n_rows,
      |    total - count(c_acctbal) AS n_null,
      |    count(DISTINCT c_acctbal) AS n_distinct,
      |    CAST(min(c_acctbal) AS VARCHAR) AS min_value,
      |    CAST(max(c_acctbal) AS VARCHAR) AS max_value
      |  FROM customer, t GROUP BY total
      |  UNION ALL
      |  SELECT 'c_custkey', total, total - count(c_custkey),
      |    count(DISTINCT c_custkey),
      |    CAST(min(c_custkey) AS VARCHAR), CAST(max(c_custkey) AS VARCHAR)
      |  FROM customer, t GROUP BY total
      |  UNION ALL
      |  SELECT 'c_name', total, total - count(c_name),
      |    count(DISTINCT c_name),
      |    CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
      |  FROM customer, t GROUP BY total
      |  UNION ALL
      |  SELECT 'c_nationkey', total, total - count(c_nationkey),
      |    count(DISTINCT c_nationkey),
      |    CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
      |  FROM customer, t GROUP BY total)
      |ORDER BY field""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .profile(Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
      .df.orderBy(col("field"))
  }

  /** Reference stats(): mean/median/min/max/variance/stdev/count/missing
    * (littletable.py:3832-3915) — one single-pass wide aggregate. */
  gate("q_stats", Budget(1),
    """SELECT
      | round(avg(l_quantity),4) AS q_mean,
      | round(median(l_quantity),4) AS q_median,
      | round(min(l_quantity),2) AS q_min,
      | round(max(l_quantity),2) AS q_max,
      | round(var_samp(l_quantity),4) AS q_var,
      | round(stddev_samp(l_quantity),4) AS q_std,
      | count(l_quantity) AS q_count,
      | count(*) - count(l_quantity) AS q_missing,
      | round(avg(l_extendedprice),4) AS p_mean,
      | round(median(l_extendedprice),4) AS p_median,
      | round(avg(l_discount),6) AS d_mean,
      | round(stddev_samp(l_discount),6) AS d_std
      |FROM lineitem""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").stats(Seq("l_quantity", "l_extendedprice", "l_discount"))
      .select(
        round(col("l_quantity_mean"), 4).as("q_mean"),
        round(col("l_quantity_median"), 4).as("q_median"),
        round(col("l_quantity_min"), 2).as("q_min"),
        round(col("l_quantity_max"), 2).as("q_max"),
        round(col("l_quantity_variance"), 4).as("q_var"),
        round(col("l_quantity_stdev"), 4).as("q_std"),
        col("l_quantity_count").as("q_count"),
        col("l_quantity_missing").as("q_missing"),
        round(col("l_extendedprice_mean"), 4).as("p_mean"),
        round(col("l_extendedprice_median"), 4).as("p_median"),
        round(col("l_discount_mean"), 6).as("d_mean"),
        round(col("l_discount_stdev"), 6).as("d_std")).df
  }

  /** Beyond-reference: ROLLUP with grouping id (free on Spark; SURVEY §2.5
    * notes the reference lacks grouping sets). */
  gate("q_rollup", Budget(2),
    """SELECT o_orderpriority, o_orderstatus,
      | round(sum(o_totalprice),2) AS total, count(*) AS n,
      | CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").df
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"),
           count(lit(1)).as("n"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
               col("o_orderstatus").asc_nulls_first)
  }

  /** Beyond-reference: CUBE over lineitem flags. */
  gate("q_cube", Budget(2),
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty, count(*) AS n,
      | CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").df
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
           count(lit(1)).as("n"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)
  }

  /** Reference groupby() run-semantics (consecutive runs of equal keys in
    * table order — unit_tests.py:1950-1954): run-id via ordered window,
    * then per-flag run statistics. */
  // run-semantics oracle (kept separate for readability)
  gate("q_groupby_runs", Budget(5),
    """WITH tagged AS (
      |  SELECT l_returnflag,
      |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_returnflag) AS rn,
      |    CASE WHEN lag(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber, l_returnflag) IS NULL
      |           OR lag(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber, l_returnflag) <> l_returnflag
      |         THEN 1 ELSE 0 END AS chg
      |  FROM lineitem
      |), runs AS (
      |  SELECT l_returnflag,
      |    sum(chg) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM tagged
      |), per_run AS (
      |  SELECT run_id, min(l_returnflag) AS flag, count(*) AS run_len
      |  FROM runs GROUP BY run_id
      |)
      |SELECT flag, count(*) AS n_runs, CAST(sum(run_len) AS BIGINT) AS total_rows,
      |  max(run_len) AS max_run
      |FROM per_run GROUP BY flag ORDER BY flag""".stripMargin) { (s, dir) =>
    val runs = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderby("l_orderkey, l_linenumber, l_returnflag")
      .groupbyRuns("l_returnflag").df
    runs.groupBy(col("__run").as("run_id"))
      .agg(min(col("l_returnflag")).as("flag"), count(lit(1)).as("run_len"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_runs"),
           sum(col("run_len")).as("total_rows"),
           max(col("run_len")).as("max_run"))
      .orderBy(col("flag"))
  }

  // ------------------------------------------------------------------
  // §2.2 Projections / filters / predicates
  // ------------------------------------------------------------------

  /** Comparator DSL conjunction (reference where(**kwargs) with
    * lt/within/in_range/is_in/startswith — littletable.py:998-1139). */
  gate("q_where_comparators", Budget(1),
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
      |FROM lineitem
      |WHERE l_quantity >= 10 AND l_quantity <= 20
      |  AND l_discount >= 0.02 AND l_discount < 0.08
      |  AND l_returnflag IN ('A','R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .where(
        "l_quantity" -> Cmp.within(10, 20),
        "l_discount" -> Cmp.inRange(0.02, 0.08),
        "l_returnflag" -> Cmp.isIn("A", "R"),
        "l_shipdate" -> Cmp.ge(lit("1996-01-01").cast("timestamp")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_discount"), col("l_returnflag"))
      .orderby("l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag")
      .df
  }

  /** select with computed columns (reference select(name=template) /
    * compute_field — string template + arithmetic). */
  gate("q_select_computed", Budget(1),
    """SELECT o_orderkey,
      | o_orderpriority || '/' || o_orderstatus AS pri_status,
      | o_totalprice * 0.1 AS fee
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .computeField("pri_status", format_string("%s/%s", col("o_orderpriority"), col("o_orderstatus")))
      .computeField("fee", col("o_totalprice") * 0.1)
      .select(col("o_orderkey"), col("pri_status"), col("fee"))
      .orderby(SortKey.asc("o_orderkey"))
      .df
  }

  /** delete(**kwargs) → anti-filter (littletable.py:2167-2182). */
  gate("q_delete", Budget(2),
    """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS total
      |FROM orders WHERE NOT (o_orderstatus = 'F')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .delete(col("o_orderstatus") === "F")
      .groupbyWithSummaries(Seq("o_orderpriority"),
        "n" -> count(lit(1)),
        "total" -> round(sum(col("o_totalprice")), 2)).df
  }

  /** splitby (littletable.py:3630-3771) — matching half, aggregated. */
  gate("q_splitby", Budget(2),
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
      |FROM lineitem WHERE l_discount > 0.05
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val (_, hi) = t(s, dir, "lineitem").splitby(col("l_discount") > 0.05)
    hi.groupbyWithSummaries(Seq("l_returnflag"),
      "n" -> count(lit(1)),
      "sum_qty" -> round(sum(col("l_quantity")), 2)).df
  }

  /** compute_field with exception→default (littletable.py:3494-3544):
    * try_cast + coalesce — errors become the default, tasks never fail. */
  gate("q_compute_field", Budget(1),
    """SELECT event_id, event_type,
      | coalesce(try_cast(json_extract_string(props, '$.k') AS INTEGER), -1) AS k_val
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    events(s, dir)
      .computeField("k_val",
        expr("try_cast(get_json_object(props, '$.k') AS INT)"),
        default = Some(lit(-1)))
      .select(col("event_id"), col("event_type"), col("k_val"))
      .orderby(SortKey.asc("event_id"))
      .df
  }

  /** format() row templating (littletable.py:2345-2351). */
  gate("q_format", Budget(1),
    """SELECT n_name || ': region ' || CAST(n_regionkey AS VARCHAR) AS formatted
      |FROM nation ORDER BY formatted""".stripMargin) { (s, dir) =>
    t(s, dir, "nation")
      .formatted("{}: region {}", col("n_name"), col("n_regionkey"))
      .orderby(SortKey.asc("formatted"))
      .df
  }

  // ------------------------------------------------------------------
  // §2.7 Sorts / limits / slices / batching
  // ------------------------------------------------------------------

  /** orderby string-DSL + head (top-k → TakeOrdered physical op). */
  gate("q_orderby_limit", Budget(0),
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderby("l_extendedprice desc, l_orderkey, l_linenumber")
      .head(100)
      .df
  }

  /** tail(n) in established order (littletable.py:3816-3830): inverted
    * TakeOrdered, then restore — no global window. */
  gate("q_tail", Budget(0),
    """SELECT o_orderkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  ORDER BY o_orderkey DESC LIMIT 50
      |) ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderby(SortKey.asc("o_orderkey"))
      .tail(50)
      .df
  }

  /** Python-style slice rows [100,200) via scale-safe ordinal. */
  gate("q_slice", Budget(1),
    """SELECT o_orderkey, o_custkey FROM orders
      |ORDER BY o_orderkey LIMIT 100 OFFSET 100""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .orderby(SortKey.asc("o_orderkey"))
      .slice(100, 200)
      .df
  }

  /** batched(n) pagination (littletable.py:3616-3628) — batch stats. */
  gate("q_batched", Budget(3),
    """SELECT batch, count(*) AS n, round(sum(o_totalprice),2) AS total
      |FROM (
      |  SELECT o_totalprice,
      |    CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 1000) AS BIGINT) AS batch
      |  FROM orders
      |) GROUP BY batch ORDER BY batch""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderby(SortKey.asc("o_orderkey"))
      .batched(1000)
      .groupbyWithSummaries(Seq("batch"),
        "n" -> count(lit(1)),
        "total" -> round(sum(col("o_totalprice")), 2)).df
  }

  /** rank() ordinal in current order (littletable.py:2248-2257) —
    * two-pass zipWithIndex ordinal, not a one-partition window. */
  gate("q_rank", Budget(1),
    """SELECT c_custkey, c_acctbal,
      | row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |FROM customer ORDER BY rnk LIMIT 100""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderby("c_acctbal desc, c_custkey")
      .rank("rnk")
      .head(100)
      .df
  }

  /** shuffle(seed) (littletable.py:2184-2190): seeded deterministic
    * permutation. The oracle-checkable property is bag preservation —
    * shuffling then re-sorting equals the source (no row lost, duplicated
    * or mutated); permutation determinism is pinned in GTableSpec. */
  gate("q_shuffle", Budget(1),
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "nation").shuffle(seed = 7L)
      .orderby("n_nationkey")
      .df.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  // ------------------------------------------------------------------
  // §2.4 Set operations / unique
  // ------------------------------------------------------------------

  /** Bag union `t1 + t2` (littletable.py:1445-1462). */
  gate("q_union_all", Budget(2),
    """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS total
      |FROM (
      |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderpriority = '5-LOW'
      |) GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val urgent = o.whereEq("o_orderpriority" -> "1-URGENT")
    val low = o.whereEq("o_orderpriority" -> "5-LOW")
    (urgent + low)
      .groupbyWithSummaries(Seq("o_orderpriority"),
        "n" -> count(lit(1)),
        "total" -> round(sum(col("o_totalprice")), 2)).df
  }

  /** Beyond-reference: INTERSECT (distinct semantics, both engines). */
  gate("q_intersect", Budget(2),
    """SELECT o_custkey FROM orders WHERE o_orderstatus='O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    o.whereEq("o_orderstatus" -> "O").select(col("o_custkey"))
      .intersect(o.whereEq("o_orderstatus" -> "F").select(col("o_custkey")))
      .orderby(SortKey.asc("o_custkey")).df
  }

  /** Beyond-reference: EXCEPT (distinct semantics, both engines). */
  gate("q_except", Budget(2),
    """SELECT o_custkey FROM orders WHERE o_orderstatus='O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus='P'
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    o.whereEq("o_orderstatus" -> "O").select(col("o_custkey"))
      .except(o.whereEq("o_orderstatus" -> "P").select(col("o_custkey")))
      .orderby(SortKey.asc("o_custkey")).df
  }

  /** unique(key) keeping FIRST occurrence in a stated order — the
    * reference's dedup-preserving-order (littletable.py:3773-3795), made
    * deterministic distributedly (per-key row_number, one shuffle). */
  gate("q_unique_first", Budget(2),
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .unique(Seq("o_custkey"), Seq(col("o_orderkey").asc))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderby(SortKey.asc("o_custkey"))
      .df
  }

  // ------------------------------------------------------------------
  // §2.6 Window-function analogues
  // ------------------------------------------------------------------

  /** Top-k per group (reference recipe orderby+slice per pivot subtable). */
  gate("q_topk_per_group", Budget(2),
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders").df
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Running sum per partition (beyond-reference analytic frame). */
  gate("q_window_running", Budget(2),
    """SELECT o_custkey, o_orderkey,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders").df
      .withColumn("running", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // ------------------------------------------------------------------
  // §2.8 Scalar functions
  // ------------------------------------------------------------------

  /** parse_timedelta (littletable.py:1262-1284): duration strings →
    * DayTimeIntervalType via try_to_timestamp minus a reference time;
    * the gate outputs the interval's total seconds (extracted FROM the
    * parsed interval) against DuckDB's direct time-of-day arithmetic. */
  gate("q_parse_timedelta", Budget(2),
    """SELECT strftime(ts, '%H:%M:%S') AS s,
      | CAST(hour(ts)*3600 + minute(ts)*60
      |   + CAST(floor(second(ts)) AS BIGINT) AS BIGINT) AS delta_secs,
      | count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY s""".stripMargin) { (s, dir) =>
    val strs = events(s, dir).df
      .select(date_format(col("ts"), "HH:mm:ss").as("s"))
    val delta = graft.sources.Sources.parseTimedelta("HH:mm:ss")(col("s"))
    strs.withColumn("__d", delta)
      .select(col("s"),
        (expr("extract(HOUR FROM __d)") * 3600 +
          expr("extract(MINUTE FROM __d)") * 60 +
          expr("extract(SECOND FROM __d)").cast("long")).as("delta_secs"))
      .groupBy(col("s"), col("delta_secs"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("s"))
  }
}
