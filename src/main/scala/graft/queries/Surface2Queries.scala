package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Relational

/** Round-6 surface battery: the two remaining classic decorrelation
  * shapes (TPC-H Q21/Q22), blocked fuzzy record linkage, time-series
  * gap-fill, and the bloom-pruned incremental anti-join — each an
  * operator family a 100 TB curation engine is expected to carry
  * beyond the reference's own inventory (SURVEY §2.4 extensions).
  */
object Surface2Queries {

  val defs: Map[String, QueryDef] = Map(

    // TPC-H Q21 shape: EXISTS + NOT EXISTS correlated on the SAME
    // fact table — suppliers who were the ONLY supplier with a
    // returned line on a finished multi-supplier order. Catalyst must
    // decorrelate BOTH subqueries (RewritePredicateSubquery →
    // LeftSemi + LeftAnti against lineitem re-scans, no per-row
    // probes); QueryPlanSpec asserts the executed plan carries one
    // semi and one anti join and zero InSubquery/Exists nodes.
    // Deterministic: counts + full (numwait DESC, s_name) tiebreak —
    // s_name is unique, so the LIMIT boundary cannot straddle a tie.
    "sql_q21" -> QueryDef(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""SELECT s_name, count(*) AS numwait
          |FROM v_supplier
          |JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
          |JOIN v_orders ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM v_lineitem l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
      },
      Some("""SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // TPC-H Q22 shape: uncorrelated scalar aggregate subquery (the
    // global positive-balance mean — planned once, broadcast as a
    // literal) + correlated NOT EXISTS (dormant since 2000-06-01 →
    // LeftAnti on a date-filtered orders scan). The segment IN-list
    // plays Q22's phone-prefix role. Threshold discipline: the mean
    // is an exact-decimal sum / count with the IDENTICAL IEEE divide
    // on both engines, so the c_acctbal > mean row set cannot drift
    // on summation order.
    "sql_q22" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        QueryDef.graftSql(s, """SELECT c_mktsegment AS segment, count(*) AS numcust,
          |  dsum_exact(c_acctbal)
          |    AS totacctbal
          |FROM v_customer c
          |WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
          |  AND c_acctbal > (
          |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(25,6)))
          |        AS DOUBLE) / count(*)
          |    FROM v_customer c2 WHERE c2.c_acctbal > 0.0
          |      AND c2.c_mktsegment IN
          |        ('AUTOMOBILE','BUILDING','MACHINERY'))
          |  AND NOT EXISTS (SELECT 1 FROM v_orders o
          |    WHERE o.o_custkey = c.c_custkey
          |      AND o.o_orderdate >= DATE '2000-06-01')
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer c
        |WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
        |  AND c_acctbal > (
        |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(25,6)))
        |        AS DOUBLE) / count(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0.0
        |      AND c2.c_mktsegment IN
        |        ('AUTOMOBILE','BUILDING','MACHINERY'))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= DATE '2000-06-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // Blocked fuzzy record linkage (dedupe-then-link): collapse the
    // corpus to its distinct-name vocabulary FIRST (linear aggregate,
    // carrying multiplicities), then run the quadratic edit-distance
    // stage on |vocab|² within blocks — the canonical scale posture
    // for linkage (at 100 TB the vocabulary of a name-like column is
    // orders of magnitude smaller than the corpus; the block key —
    // here the noun token — bounds each comparison set like
    // blockedSetSimilarityPairs' blocks, and a maxBlockSize cap + HAVING
    // mirror is the documented escape hatch if a vocabulary ever
    // explodes). levenshtein is codegen'd on both engines;
    // pair_mult = cnt_a · cnt_b is the number of corpus-row pairs the
    // vocab pair represents — the quadratic work the dedupe avoided.
    "fuzzy_link_blocked" -> QueryDef(
      (s, d) => {
        // totality guard: a single-token name has no noun block —
        // Spark's getItem(1) yields NULL there while DuckDB's
        // split_part yields '' — so both sides exclude it explicitly
        // (none exist in this corpus; the guard keeps the oracle
        // equivalence independent of that data property)
        val names = Tables.part(s, d)
          .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
          .withColumn("blk", split(col("p_name"), " ").getItem(1))
          .filter(col("blk").isNotNull && col("blk") =!= "")
        val a = names.select(col("blk"), col("p_name").as("name_a"),
          col("cnt").as("cnt_a"))
        val b = names.select(col("blk"), col("p_name").as("name_b"),
          col("cnt").as("cnt_b"))
        a.join(b, Seq("blk")).filter(col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist").between(1, 2))
          .select(col("blk"), col("name_a"), col("name_b"), col("dist"),
            (col("cnt_a") * col("cnt_b")).as("pair_mult"))
          .orderBy("blk", "name_a", "name_b")
      },
      Some("""WITH names AS (SELECT p_name, count(*) AS cnt,
        |    split_part(p_name, ' ', 2) AS blk FROM part GROUP BY p_name
        |  HAVING split_part(p_name, ' ', 2) <> '')
        |SELECT a.blk AS blk, a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS dist,
        |  a.cnt * b.cnt AS pair_mult
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
        |ORDER BY blk, name_a, name_b""".stripMargin)),

    // Time-series gap-fill: explode each type's [min, max] hour span
    // into a complete grid (sequence() — rows appear for hours with
    // ZERO events, which no plain GROUP BY can produce), left-join the
    // observed hourly counts, and zero-fill. The trailing mean then
    // runs on the GRID, so a 24-ROWS frame IS 24 wall-clock hours —
    // gap-filling converts ROWS-frame semantics into RANGE semantics
    // (the events_anomaly scaladoc's documented production
    // alternative, realized). Shuffle shape: one type-key aggregate +
    // one type-key window; the grid explode is a narrow map off a
    // per-type 2-row bound aggregate. Determinism: integer counts,
    // one IEEE divide, round 6dp; hour emitted as a string.
    "gapfill_resample" -> QueryDef(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
        val grid = hourly.groupBy("event_type")
          .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
          .select(col("event_type"), explode(
            sequence(col("mn"), col("mx"),
              expr("interval 1 hour"))).as("h"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(-23, 0)
        grid.join(hourly, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("n"), lit(0L)).as("n"),
            col("n").isNull.as("is_gap"))
          .withColumn("trail24",
            round(sum(col("n")).over(w).cast("double") /
              count(col("n")).over(w), 6))
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
            col("n"), col("is_gap"), col("trail24"))
          .orderBy("event_type", "hour_ts")
      },
      Some("""WITH hourly AS (SELECT event_type,
        |    date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS mn, max(h) AS mx
        |  FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM b),
        |f AS (SELECT g.event_type, g.h, coalesce(hourly.n, 0) AS n,
        |    (hourly.n IS NULL) AS is_gap
        |  FROM grid g LEFT JOIN hourly
        |    ON g.event_type = hourly.event_type AND g.h = hourly.h)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |  n, is_gap,
        |  round(CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w, 6)
        |    AS trail24
        |FROM f WINDOW w AS (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, hour_ts""".stripMargin)),

    // TPC-H Q4 shape: EXISTS semi-join under a date-window group-count
    // (orders in 1996Q1 with ≥1 returned line, by priority; the
    // returnflag condition plays commitdate<receiptdate's role). The
    // EXISTS must plan as ONE LeftSemi against lineitem — never a
    // per-order probe — and the date window must reach the orders
    // scan as pushed range filters.
    "sql_q4" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS order_count
          |FROM v_orders
          |WHERE o_orderdate >= DATE '1996-01-01'
          |  AND o_orderdate < DATE '1996-04-01'
          |  AND EXISTS (SELECT 1 FROM v_lineitem
          |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q19 shape: disjunctive OR-of-ANDs spanning BOTH join
    // sides — the optimizer stress is predicate DECOMPOSITION:
    // Catalyst must derive the part-only disjunction
    // (brand ∧ size-range per branch) and push it into the part scan,
    // and the lineitem-only quantity bounds likewise, leaving only
    // the cross-side residual on the join — a plan property
    // QueryPlanSpec asserts (Or(...) inside the part scan's
    // PushedFilters). One broadcast join, exact-decimal revenue.
    "sql_q19" -> QueryDef(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """SELECT dsum_exact(l_extendedprice * (1 - l_discount)
          |) AS revenue
          |FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q15 shape: aggregate CTE consumed TWICE — once as the
    // join input, once inside the uncorrelated MAX scalar subquery
    // that selects the top-revenue supplier(s). The revenue doubles
    // are exact-decimal sums, so the `total_revenue = max(...)`
    // EQUALITY on doubles is safe cross-engine (bit-identical values
    // on both sides of the comparison).
    "sql_q15" -> QueryDef(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    dsum_exact(l_extendedprice * (1 - l_discount)
          |) AS total_revenue
          |  FROM v_lineitem
          |  WHERE l_shipdate >= DATE '1996-01-01'
          |    AND l_shipdate < DATE '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM v_supplier JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
      },
      Some("""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // Numerically-portable correlation/covariance per group — feature
    // diagnostics for a training-data pipeline WITHOUT trusting either
    // engine's streaming-moment implementation (Spark and DuckDB both
    // use Welford-style updates whose accumulation order is partition-
    // dependent): compute the five raw moments as ONE-PASS exact-
    // decimal sums (order-independent by construction), then apply the
    // IDENTICAL closed-form IEEE expression on both sides —
    //   corr = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²)),
    //   covar_pop = (n·Σxy − Σx·Σy) / n²
    // — so the only non-exact steps are the same sqrt/divide in the
    // same order (rounded-transcendental class, 6 dp). One partial+
    // final aggregate, map-side products; FeatureStatsSpec cross-
    // checks the closed form against Spark's built-in corr/covar_pop.
    "feature_corr" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val xy = col("l_quantity") * col("l_extendedprice")
        val agg = li.groupBy(col("l_returnflag")).agg(
          count(lit(1)).cast("double").as("n"),
          QueryDef.dsum(col("l_quantity")).as("sx"),
          QueryDef.dsum(col("l_extendedprice")).as("sy"),
          QueryDef.dsum(xy).as("sxy"),
          QueryDef.dsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          QueryDef.dsum(col("l_extendedprice") * col("l_extendedprice"))
            .as("syy"))
        // zero-variance guard: Spark's double x/0.0 yields NULL while
        // DuckDB yields ±inf — a degenerate group (all-equal x or y)
        // must therefore short-circuit to NULL on BOTH engines before
        // the divide, not rely on either engine's convention
        val varX = col("n") * col("sxx") - col("sx") * col("sx")
        val varY = col("n") * col("syy") - col("sy") * col("sy")
        agg.select(col("l_returnflag"),
            col("n").cast("bigint").as("n_rows"),
            when(varX > 0 && varY > 0,
              round((col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(varX) * sqrt(varY)), 6))
              .as("corr_qty_price"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("n")), 6).as("covar_pop_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
        |      AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice
        |      AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity
        |      AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice
        |      AS DECIMAL(25,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy) /
        |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |  END AS corr_qty_price,
        |  round((n * sxy - sx * sy) / (n * n), 6)
        |    AS covar_pop_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Bloom-pruned incremental anti-join — the steady-state 100 TB
    // form of R5's "load if new" (see antiJoinNewKeysBloom scaladoc:
    // provably-new rows bypass the join via a narrow bloom probe; only
    // might-contain rows pay the exact anti-join). Row-identical to
    // the plain anti-join for any fpp, so it shares the NOT EXISTS
    // oracle; RelationalSpec asserts exact equality AND that the
    // probe actually prunes (the join input is a strict subset).
    "anti_join_bloom" -> QueryDef(
      (s, d) => Relational.antiJoinNewKeysBloom(
          Tables.customer(s, d),
          Tables.orders(s, d).filter(col("o_totalprice") > 300000)
            .select(col("o_custkey").as("c_custkey")),
          "c_custkey", expectedKeys = 100000L)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)))
}
