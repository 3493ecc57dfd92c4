package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the scale
  * extensions) is a [[Registry]] row: a named query over a scale-factor
  * directory with the DuckDB-equivalent SQL for the driver's
  * hash-compare correctness gate. Column names/aliases match
  * the Spark side exactly (the driver sorts columns by name before
  * hashing), and float aggregates go through exact decimal sums
  * (graft.util.Num) so both engines agree bitwise.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SalesAnalytics.q1RevenueByCustomer(spark, "/root/testdata/sf0.001")

  /** One registry row: a named query over a scale-factor directory and
    * the DuckDB SQL that computes the same result on the same parquet
    * tables.
    */
  private[graft] final case class QuerySpec(
    key: String, fn: (SparkSession, String) => DataFrame, oracle: String)

  /** One row per implemented operator from SURVEY.md §2, each query
    * declared once with its oracle. Lazy because the rows read the
    * oracle fragments further down (`toksSql`, `shinglesSql`, …), which
    * a strict val up here would capture as null.
    */
  private[graft] lazy val Registry: Seq[QuerySpec] = validated(Seq(
    // Reference's five analytic queries (SURVEY.md §2.3-2.5)
    QuerySpec("q1", SalesAnalytics.q1RevenueByCustomer _,
      """SELECT c.c_custkey, c.c_name,
         CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue
         FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_custkey, c.c_name
         ORDER BY revenue DESC, c.c_custkey"""),
    QuerySpec("q2", SalesAnalytics.q2AvgTicketByPart _,
      """SELECT p.p_partkey, p.p_name,
         CAST(COALESCE(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE)
           / COUNT(l.l_orderkey) AS ticket_medio
         FROM lineitem l INNER JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY p.p_partkey, p.p_name
         ORDER BY p.p_partkey"""),
    QuerySpec("q3", SalesAnalytics.q3CountByType _,
      """SELECT p.p_type, COUNT(l.l_orderkey) AS quantidade_vendas
         FROM lineitem l INNER JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY p.p_type
         ORDER BY quantidade_vendas DESC, p.p_type"""),
    QuerySpec("q4", SalesAnalytics.q4Top5Customers _,
      """SELECT c.c_custkey, c.c_name,
         CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue
         FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_custkey, c.c_name
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 5"""),
    QuerySpec("q5", SalesAnalytics.q5SalesByMonth _,
      """SELECT strftime(o_orderdate, '%Y-%m') AS periodo,
         COUNT(o_orderkey) AS total_vendas,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
         FROM orders
         WHERE o_orderdate IS NOT NULL
         GROUP BY 1 ORDER BY 1"""),
    // Operator inventory (SURVEY.md §2.2-2.8)
    QuerySpec("dex", RelationalOps.dedupExact _,
      "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"),
    QuerySpec("mgrp", RelationalOps.medianByGroup _,
      """SELECT p_brand, median(CAST(p_retailprice AS DOUBLE)) AS median_price
         FROM part GROUP BY 1 ORDER BY 1"""),
    QuerySpec("imed", RelationalOps.imputeGroupMedian _,
      """WITH masked AS (
           SELECT p_partkey, p_brand,
                  CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_retailprice END AS pr
           FROM part),
         med AS (
           SELECT p_brand, median(CAST(pr AS DOUBLE)) AS m
           FROM masked WHERE pr IS NOT NULL GROUP BY 1)
         SELECT k.p_partkey, k.p_brand,
                round(COALESCE(k.pr, d.m), 2) AS price_filled,
                k.pr IS NULL AS imputed
         FROM masked k LEFT JOIN med d USING (p_brand)
         ORDER BY k.p_partkey"""),
    QuerySpec("scal", RelationalOps.scalarFuncs _,
      """SELECT p_partkey,
         'Part ' || CAST(p_partkey AS VARCHAR) AS display_name,
         CASE WHEN p_type = 'widget' THEN 'gadget' ELSE p_type END AS type_fixed,
         CAST(NULLIF(regexp_extract(p_name, '(\d+)', 1), '') AS INT) AS name_number,
         least(greatest(p_size, 5), 40) AS size_clamped,
         (p_size < 5 OR p_size > 40) AS size_adjusted,
         round(p_retailprice * 1.1, 2) AS price_bumped,
         COALESCE(NULLIF(p_brand, 'Brand#1'), 'UNBRANDED') AS brand_or_default
         FROM part ORDER BY p_partkey"""),
    QuerySpec("dts", RelationalOps.dateFuncs _,
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m') AS month_str,
         CAST(year(o_orderdate) AS BIGINT) AS order_year,
         CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
         CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
         CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS BIGINT) AS age_days
         FROM orders ORDER BY o_orderkey"""),
    QuerySpec("enr", RelationalOps.joinLeftEnrich _,
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
         l.l_partkey, p.p_type, p.p_brand
         FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
         ORDER BY l.l_orderkey, l_linenumber"""),
    QuerySpec("jse", RelationalOps.joinSemi _,
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("jan", RelationalOps.joinAnti _,
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),
    // the bloom filter has no false negatives, so the
    // pruned-then-exact semi-join result is provably the plain
    // semi-join DuckDB computes; the candidate-set bounds are
    // Spark-side machine checks the oracle asserts as TRUE.
    QuerySpec("blm", RelationalOps.bloomPruneJoin _,
      """SELECT COUNT(*) AS n_match,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         TRUE AS cand_ge_match, TRUE AS fp_bounded
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')"""),
    QuerySpec("jfu", RelationalOps.joinFullOuter _,
      """SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
         FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
         ORDER BY n.n_nationkey, s.s_suppkey"""),
    QuerySpec("tko", RelationalOps.topKOrders _,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    QuerySpec("push", RelationalOps.filterPushdown _,
      """SELECT l_orderkey, l_partkey, l_quantity, l_discount FROM lineitem
         WHERE l_quantity > 40 AND l_discount >= 0.05 AND l_returnflag <> 'R'
         ORDER BY l_orderkey, l_partkey"""),
    QuerySpec("isect", RelationalOps.setIntersect _,
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY 1"""),
    QuerySpec("sexc", RelationalOps.setExcept _,
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY 1"""),
    QuerySpec("rlup", RelationalOps.aggRollup _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("tkg", RelationalOps.windowTopKPerGroup _,
      """SELECT p_brand, rk, p_partkey, p_retailprice FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
           FROM part) t
         WHERE rk <= 3 ORDER BY p_brand, rk"""),
    QuerySpec("rsum", RelationalOps.windowRunningSum _,
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("wlag", RelationalOps.windowLag _,
      """SELECT o_custkey, o_orderkey,
         CAST(datediff('day',
           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    // Time-series / events (batch twins of graft.streaming)
    QuerySpec("tumb", EventOps.tumblingWindow _,
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("sld", EventOps.slidingWindow _,
      """WITH b AS (SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b0, value
                    FROM events)
         SELECT window_start, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM (SELECT b0 AS window_start, value FROM b
               UNION ALL SELECT b0 - 300, value FROM b) t
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("sess", EventOps.sessionize _,
      """WITH e AS (SELECT user_id, event_id, ts,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events),
         l AS (SELECT *, lag(es) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM e),
         s AS (SELECT *, SUM(CASE WHEN prev IS NULL OR es - prev > 1800 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
               FROM l)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                MIN(es) AS session_start, MAX(es) AS session_end,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("evj", EventOps.jsonExtract _,
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
         FROM events ORDER BY 1"""),
    // both engines print compact JSON with explicit nulls, so the
    // round-trip strings compare byte-for-byte.
    QuerySpec("jsf", EventOps.jsonFuncs _,
      """SELECT event_id,
         json_extract_string(props, '$.k') AS k_str,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
         to_json(struct_pack(k := CAST(json_extract(props, '$.k') AS BIGINT))) AS rt_obj,
         to_json([CAST(json_extract(props, '$.k') AS BIGINT),
                  CAST(json_extract(props, '$.k') AS BIGINT) + 1]) AS rt_arr,
         json_extract(props, '$.missing') IS NULL AS miss_null
         FROM events WHERE event_id % 10 = 0 ORDER BY event_id"""),
    // DuckDB replicates the typed reads with its JSON functions,
    // and COMPUTES the inferred-schema string per row from
    // json_structure (two-sided gate: a payload deviating from
    // {"k": int} changes this derivation AND Spark's
    // schema_of_variant, instead of only failing against a pinned
    // literal). DuckDB reports non-negative ints as UBIGINT, signed
    // as BIGINT; both land in Spark's BIGINT. Any other type falls
    // through as its upper-cased DuckDB name and fails the hash —
    // exactly the alarm a schema drift should raise.
    QuerySpec("vart", EventOps.variantFuncs _,
      """SELECT event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
         CAST(json(props) AS VARCHAR) AS rt,
         'OBJECT<' || array_to_string(list_transform(
             json_keys(json_structure(props)),
             key -> key || ': ' ||
               CASE json_extract_string(json_structure(props), '$.' || key)
                 WHEN 'UBIGINT' THEN 'BIGINT'
                 WHEN 'BIGINT'  THEN 'BIGINT'
                 ELSE upper(json_extract_string(json_structure(props), '$.' || key))
               END), ', ') || '>' AS sch,
         json_extract(props, '$.missing') IS NULL AS miss_null
         FROM events WHERE event_id % 10 = 0 ORDER BY event_id"""),
    QuerySpec("attr", EventOps.clickAttribution _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id, COUNT(*) AS n_clicks
         FROM e p JOIN e c ON c.user_id = p.user_id
           AND c.event_type = 'click'
           AND c.es BETWEEN p.es - 1800 AND p.es
         WHERE p.event_type = 'purchase'
         GROUP BY 1, 2 ORDER BY 1"""),
    QuerySpec("strs", RelationalOps.stringFuncs _,
      """SELECT p_partkey,
         upper(p_name) AS up, lower(p_brand) AS lo,
         substring(p_name, 1, 4) AS sub,
         CAST(length(p_name) AS BIGINT) AS len,
         lpad(p_brand, 10, '_') AS pad,
         reverse(p_name) AS rev,
         regexp_replace(p_name, '\s+', '-', 'g') AS dashed,
         CAST(strpos(p_name, 'e') AS BIGINT) AS pos_e,
         CAST(levenshtein(p_name, 'widget') AS BIGINT) AS dist
         FROM part ORDER BY p_partkey"""),
    QuerySpec("cagg", RelationalOps.condAgg _,
      """SELECT l_linestatus, COUNT(*) AS n,
         COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
         CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
                            ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS returned_value,
         bool_or(l_quantity > 45) AS any_bulk,
         bool_and(l_quantity > 0) AS all_positive
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QuerySpec("unpv", RelationalOps.unpivotLong _,
      """SELECT p_partkey, metric, value FROM (
           SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
           UNION ALL
           SELECT p_partkey, 'retailprice', p_retailprice FROM part) t
         ORDER BY p_partkey, metric"""),
    QuerySpec("mdg", RelationalOps.modeByGroup _,
      """SELECT p_brand, mode_type, n FROM (
           SELECT p_brand, p_type AS mode_type, COUNT(*) AS n,
                  row_number() OVER (PARTITION BY p_brand
                    ORDER BY COUNT(*) DESC, p_type) AS rk
           FROM part GROUP BY p_brand, p_type) t
         WHERE rk = 1 ORDER BY p_brand"""),
    // Statistical & join-shape extensions
    QuerySpec("amoms", StatOps.aggMoments _,
      """WITH s AS (
           SELECT l_returnflag, COUNT(*) AS n,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx2
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n, sx / n AS mean,
                round((sx2 - sx * sx / n) / (n - 1), 0) AS variance,
                round(sqrt((sx2 - sx * sx / n) / (n - 1)), 4) AS stddev
         FROM s ORDER BY l_returnflag"""),
    QuerySpec("pvt", StatOps.pivotWide _,
      """SELECT l_returnflag,
         CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
                       AS DECIMAL(18,2))) AS DOUBLE) AS F,
         CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
                       AS DECIMAL(18,2))) AS DOUBLE) AS O
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QuerySpec("cube", StatOps.aggCube _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("gst", StatOps.aggGroupingSets _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("cds", StatOps.aggCountDistinct _,
      """SELECT l_returnflag,
         COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QuerySpec("rkd", StatOps.windowRankDense _,
      """SELECT p_brand, p_partkey, p_retailprice,
         CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS BIGINT) AS rnk,
         CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS BIGINT) AS drnk
         FROM part ORDER BY p_brand, p_partkey"""),
    QuerySpec("pct", StatOps.windowPercentRank _,
      """SELECT p_brand, p_partkey,
         percent_rank() OVER (PARTITION BY p_brand
           ORDER BY p_retailprice, p_partkey) AS pct_rank,
         cume_dist() OVER (PARTITION BY p_brand
           ORDER BY p_retailprice, p_partkey) AS cum_dist
         FROM part ORDER BY p_brand, p_partkey"""),
    QuerySpec("csort", StatOps.aggCollectSorted _,
      """SELECT p_brand,
         string_agg(p_type, '|' ORDER BY p_type) AS types_cat,
         COUNT(*) AS n
         FROM part GROUP BY 1 ORDER BY 1"""),
    // the bounded MinKStrings aggregate ≡ first k of the sorted
    // multiset (binary order matches DuckDB's default collation on
    // this ASCII column).
    QuerySpec("ccap", StatOps.aggCollectCapped _,
      s"""SELECT p_brand,
          array_to_string(list_slice(list_sort(list(p_type)), 1, ${StatOps.CollectCap}), '|')
            AS types_cat,
          COUNT(*) AS n
          FROM part GROUP BY 1 ORDER BY 1"""),
    QuerySpec("ntl", StatOps.ntileQuartiles _,
      """SELECT p_brand, p_partkey,
         CAST(ntile(4) OVER (PARTITION BY p_brand
           ORDER BY p_retailprice, p_partkey) AS BIGINT) AS quartile
         FROM part ORDER BY p_brand, p_partkey"""),
    QuerySpec("crg", StatOps.corrByGroup _,
      """WITH s AS (
           SELECT l_returnflag, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                round((n * sxy - sx * sy) /
                  (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 9) AS corr
         FROM s ORDER BY l_returnflag"""),
    QuerySpec("qnt", StatOps.quantilesByGroup _,
      """SELECT p_brand,
         quantile_cont(CAST(p_retailprice AS DOUBLE), 0.25) AS p25,
         quantile_cont(CAST(p_retailprice AS DOUBLE), 0.5) AS p50,
         quantile_cont(CAST(p_retailprice AS DOUBLE), 0.75) AS p75,
         quantile_cont(CAST(p_retailprice AS DOUBLE), 0.95) AS p95
         FROM part GROUP BY 1 ORDER BY 1"""),
    QuerySpec("hst", StatOps.histogram _,
      """SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket, COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),
    QuerySpec("salt", StatOps.saltedAgg _,
      """SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QuerySpec("jrng", StatOps.joinRange _,
      """SELECT t.tier, COUNT(*) AS n
         FROM orders o JOIN (VALUES
           ('bronze', 0.0, 1000.0), ('silver', 1000.0, 5000.0),
           ('gold', 5000.0, 20000.0), ('platinum', 20000.0, 1e12))
           t(tier, lo, hi)
           ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("rjb", StatOps.rangeBinIncidents _,
      """WITH inc AS (SELECT ts AS lo, ts + INTERVAL 15 MINUTE AS hi
                      FROM events WHERE event_type = 'error' AND value >= 150),
              p AS (SELECT ts, value FROM events WHERE event_type = 'purchase')
         SELECT inc.lo, inc.hi, COUNT(*) AS n_purch,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj_binned
         FROM p JOIN inc ON p.ts >= inc.lo AND p.ts < inc.hi
         GROUP BY 1, 2 ORDER BY 1"""),
    QuerySpec("rjv", StatOps.rangeOverlapBursts _,
      """WITH a AS (SELECT ts AS elo, ts + INTERVAL 5 MINUTE AS ehi
                    FROM events WHERE event_type = 'error'),
              b AS (SELECT ts AS clo, ts + INTERVAL 3 MINUTE AS chi
                    FROM events WHERE event_type = 'click')
         SELECT strftime(date_trunc('day', greatest(a.elo, b.clo)), '%Y-%m-%d') AS day,
                COUNT(*) AS n_pairs,
                COUNT(DISTINCT a.elo) AS n_err,
                COUNT(DISTINCT b.clo) AS n_clk,
                TRUE AS rj_binned
         FROM a JOIN b ON a.elo < b.chi AND b.clo < a.ehi
         GROUP BY 1 ORDER BY 1"""),
    // the SQL-hint surface must agree with the DataFrame form AND the
    // oracle — same SQL text as rj_bin, byte-identical on purpose
    QuerySpec("rjs", StatOps.rangeBinIncidentsSql _,
      """WITH inc AS (SELECT ts AS lo, ts + INTERVAL 15 MINUTE AS hi
                      FROM events WHERE event_type = 'error' AND value >= 150),
              p AS (SELECT ts, value FROM events WHERE event_type = 'purchase')
         SELECT inc.lo, inc.hi, COUNT(*) AS n_purch,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj_binned
         FROM p JOIN inc ON p.ts >= inc.lo AND p.ts < inc.hi
         GROUP BY 1, 2 ORDER BY 1"""),
    // keyed (equi + band): the hint composes the user key with the bin
    QuerySpec("rjk", StatOps.rangeBinIncidentsKeyed _,
      """WITH inc AS (SELECT user_id AS i_uid, ts AS lo,
                             ts + INTERVAL 2 HOUR AS hi
                      FROM events WHERE event_type = 'error'),
              p AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase')
         SELECT p.user_id, COUNT(*) AS n_hits,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj_keyed_bin
         FROM p JOIN inc
           ON p.user_id = inc.i_uid AND p.ts >= inc.lo AND p.ts < inc.hi
         GROUP BY 1 ORDER BY 1"""),
    // LEFT OUTER: every purchase row survives; n_win=0 rows pin the
    // null-emission side of the contract
    QuerySpec("rjo", StatOps.rangeBinPurchasesOuter _,
      """WITH inc AS (SELECT ts AS lo, ts + INTERVAL 15 MINUTE AS hi
                      FROM events WHERE event_type = 'error' AND value >= 150),
              p AS (SELECT event_id, ts FROM events
                    WHERE event_type = 'purchase')
         SELECT p.event_id, COUNT(inc.lo) AS n_win, TRUE AS rj_outer_bin
         FROM p LEFT JOIN inc ON p.ts >= inc.lo AND p.ts < inc.hi
         GROUP BY 1 ORDER BY 1"""),
    // 2-D point-in-box: the double band predicate (four inequalities,
    // no equi-keys) against the naive DuckDB join
    QuerySpec("rjx", StatOps.rangeBinBoxes _,
      """WITH b AS (SELECT user_id AS b_uid,
                           CAST(floor(epoch(ts)) AS BIGINT) AS xlo,
                           CAST(floor(epoch(ts)) AS BIGINT) + 28800 AS xhi,
                           value - 300.0 AS ylo, value + 300.0 AS yhi
                    FROM events WHERE event_type = 'error'),
              p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
                    FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, COUNT(*) AS n_hits,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj_boxk_bin
         FROM p JOIN b ON p.user_id = b.b_uid
                      AND p.es >= b.xlo AND p.es < b.xhi
                      AND p.value >= b.ylo AND p.value < b.yhi
         GROUP BY 1 ORDER BY 1"""),
    // the un-keyed box fixture (rj_box's pre-r15 shape) through the
    // SQL hint: RANGE_BIN2 ≡ pointInBox ≡ the naive DuckDB join
    QuerySpec("rj2d", StatOps.rangeBinBoxesSql _,
      """WITH b AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS xlo,
                           CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS xhi,
                           value - 200.0 AS ylo, value + 200.0 AS yhi
                    FROM events WHERE event_type = 'error' AND value >= 100),
              p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value
                    FROM events WHERE event_type = 'purchase')
         SELECT b.xlo, b.ylo, COUNT(*) AS n_purch,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj2d_bin
         FROM p JOIN b ON p.es >= b.xlo AND p.es < b.xhi
                      AND p.value >= b.ylo AND p.value < b.yhi
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // the stats-driven pick: band join against a 4-row inline tier
    // dim under the hint — the claim pins the DECLINE (genuinely tiny
    // side → nested loop kept, no explode); constant-size dim keeps
    // the choice deterministic at every SF
    QuerySpec("rja", StatOps.rangeBinTiersAuto _,
      """WITH p AS (SELECT value FROM events WHERE event_type = 'purchase')
         SELECT t.tier, COUNT(*) AS n,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                TRUE AS rj_auto_bnlj
         FROM p JOIN (VALUES ('bronze', 0.0, 100.0),
             ('silver', 100.0, 300.0), ('gold', 300.0, 1e12))
           t(tier, lo, hi)
           ON p.value >= t.lo AND p.value < t.hi
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("asj", StatOps.asofJoin _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es) AS last_signup_es
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // identical contract to asof_join — the custom merge-scan
    // operator must reproduce the window twin's oracle
    // byte-for-byte
    QuerySpec("asnt", StatOps.asofJoinNative _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es) AS last_signup_es
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // full-row payload — latest signup's (es, event_id) per
    // purchase, ties broken highest-event-id, exactly the
    // engine's composite-time merge order
    QuerySpec("as2", StatOps.asofJoinPayload _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id, t.es AS signup_es,
                t.event_id AS signup_event_id
         FROM e p LEFT JOIN LATERAL (
           SELECT s.es, s.event_id FROM e s
           WHERE s.user_id = p.user_id AND s.event_type = 'signup'
             AND s.es <= p.es
           ORDER BY s.es DESC, s.event_id DESC LIMIT 1) t ON TRUE
         WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // the gap-bounded variant — for a MAX-es payload, "latest within
    // [es-tol, es]" is the same row as "latest at-or-before, nulled
    // when older than tol"
    QuerySpec("ast", StatOps.asofJoinTolerance _, {
      val tol = graft.operators.StatOps.AsofToleranceSec
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es AND p.es - s.es <= $tol) AS last_signup_es
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""
    }),
    // the same contract reached through the asof_join table-valued
    // function — the SQL surface itself under the hash gate (oracle
    // shared with asof_join/asof_nat)
    QuerySpec("ass", StatOps.asofJoinSql _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es) AS last_signup_es
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // the broadcast physical form — same values as the merge-scan
    // oracle, plus the zero-shuffle plan claim as a hash-checked
    // boolean the oracle expects TRUE
    QuerySpec("asbc", StatOps.asofJoinBroadcast _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es) AS last_signup_es,
                TRUE AS bcast_no_shuffle
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // NO hint — the strategy's stats-driven choice itself under the
    // hash gate: auto_broadcast must be TRUE (the planner noticed
    // the small right side and chose the zero-shuffle broadcast
    // probe on its own, like JoinSelection)
    QuerySpec("asa", StatOps.asofJoinAuto _,
      """WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id,
                (SELECT MAX(s.es) FROM e s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND s.es <= p.es) AS last_signup_es,
                TRUE AS auto_broadcast
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    // direction='nearest' (pandas merge_asof's third direction) —
    // the signup closest in absolute time within the tolerance,
    // equidistant ties going BACKWARD (ORDER BY abs(Δ), s.es ASC
    // pins the same rule in the oracle); the payload is the matched
    // time itself, so equal-time right rows cannot make the hash
    // flap
    QuerySpec("asn", StatOps.asofJoinNearest _, {
      val tol = graft.operators.StatOps.AsofToleranceSec
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
         SELECT p.event_id, p.user_id, t.es AS near_signup_es
         FROM e p LEFT JOIN LATERAL (
           SELECT s.es FROM e s
           WHERE s.user_id = p.user_id AND s.event_type = 'signup'
             AND abs(s.es - p.es) <= $tol
           ORDER BY abs(s.es - p.es), s.es LIMIT 1) t ON TRUE
         WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""
    }),
    // Training-data pipeline: text analysis (SURVEY.md §7.4)
    QuerySpec("toks", TextOps.textTokens _,
      s"""SELECT doc_id,
          CAST(len($toksSql) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_uniq_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_text
          FROM documents ORDER BY doc_id"""),
    QuerySpec("bpe", TextOps.textTokensBpe _, {
      val pat = TextOps.bpePattern.replace("'", "''")
      s"""WITH p AS (SELECT doc_id,
            regexp_extract_all(text, '$pat') AS pt, $toksSql AS toks
          FROM documents)
          SELECT doc_id,
            CAST(len(pt) AS BIGINT) AS n_pretokens,
            CAST(len(list_distinct(pt)) AS BIGINT) AS n_uniq_pretokens,
            CAST(len(pt) AS DOUBLE) / NULLIF(len(toks), 0) AS fertility
          FROM p ORDER BY doc_id"""
    }),
    QuerySpec("bpet", (s: SparkSession, d: String) => TextOps.bpeTrain(s, d),
      bpeTrainSql),
    QuerySpec("bpenc", (s: SparkSession, d: String) => TextOps.bpeEncode(s, d),
      bpeEncodeSql),
    QuerySpec("tid", TextOps.bpeTokenIds _, bpeTokenIdsSql),
    QuerySpec("tdc", TextOps.bpeDecode _, bpeDecodeSql),
    // same k-gram rows, 40-bit md5-prefix hash packed with the
    // position (hash·2²⁰+pos — min = leftmost minimal hash, the
    // tie-break law), full windows only, distinct
    QuerySpec("wfp", TextOps.winnowFingerprints _,
      s"""WITH $winnowCtes
          SELECT doc_id, CAST(wm & 1048575 AS BIGINT) AS fpos,
                 CAST(wm >> 20 AS BIGINT) AS fp
          FROM sel ORDER BY doc_id, fpos"""),
    // the same selection CTEs, distinct (doc_id, fp),
    // stop-fingerprints with df > cap dropped, pairs blocked by
    // fingerprint with the shared count
    QuerySpec("wsim", TextOps.winnowOverlapPairs _,
      s"""WITH $winnowCtes,
          fps AS (SELECT DISTINCT doc_id, CAST(wm >> 20 AS BIGINT) AS fp
                  FROM sel),
          k AS (SELECT doc_id, fp FROM (
                  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
                  FROM fps) WHERE df <= ${TextOps.WinnowMaxDf})
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= ${TextOps.WinnowMinShared}
          ORDER BY 1, 2"""),
    // the incremental probe must find EXACTLY the full attribution
    // query's delta-touching pairs, with identical shared counts —
    // probe-vs-index ≡ self-join restricted to the delta, because
    // both paths read the same kept selection.
    QuerySpec("winc", TextOps.winnowOverlapDelta _,
      s"""WITH $winnowCtes,
          fps AS (SELECT DISTINCT doc_id, CAST(wm >> 20 AS BIGINT) AS fp
                  FROM sel),
          k AS (SELECT doc_id, fp FROM (
                  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
                  FROM fps) WHERE df <= ${TextOps.WinnowMaxDf})
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
          WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
          GROUP BY 1, 2 HAVING count(*) >= ${TextOps.WinnowMinShared}
          ORDER BY 1, 2"""),
    // kept shared fingerprints WITH positions, gaps-and-islands over
    // the (pa, pb) order — a new run whenever either position fails to
    // advance or jumps more than w — then per-run spans (token end =
    // gram pos + k − 1), ≥2 fps per extent, pairs restricted to the
    // flagged set. WHERE runs before window functions in the final
    // SELECT, matching Spark's filter-then-rank.
    QuerySpec("wext", TextOps.winnowExtents _, {
      val (k, g) = (TextOps.WinnowK, TextOps.WinnowW)
      s"""WITH $winnowCtes,
          fps AS (SELECT DISTINCT doc_id, CAST(wm >> 20 AS BIGINT) AS fp
                  FROM sel),
          kk AS (SELECT doc_id, fp FROM (
                  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
                  FROM fps) WHERE df <= ${TextOps.WinnowMaxDf}),
          pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM kk a JOIN kk b ON a.fp = b.fp AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING count(*) >= ${TextOps.WinnowMinShared}),
          sl AS (SELECT s.doc_id, CAST(s.wm & 1048575 AS BIGINT) AS fpos,
                        CAST(s.wm >> 20 AS BIGINT) AS fp
                 FROM sel s JOIN kk
                   ON kk.doc_id = s.doc_id AND kk.fp = CAST(s.wm >> 20 AS BIGINT)),
          m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.fpos AS pa, b.fpos AS pb
                FROM sl a JOIN sl b ON a.fp = b.fp AND a.doc_id < b.doc_id
                JOIN pr ON pr.doc_a = a.doc_id AND pr.doc_b = b.doc_id),
          fl AS (SELECT *, CASE WHEN ppa IS NULL
                   OR pa <= ppa OR pa - ppa > $g
                   OR pb <= ppb OR pb - ppb > $g THEN 1 ELSE 0 END AS brk
                 FROM (SELECT *, lag(pa) OVER wo AS ppa, lag(pb) OVER wo AS ppb
                       FROM m
                       WINDOW wo AS (PARTITION BY doc_a, doc_b ORDER BY pa, pb))),
          rn AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY doc_a, doc_b
                   ORDER BY pa, pb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS run
                 FROM fl),
          ex AS (SELECT doc_a, doc_b, run,
                   MIN(pa) AS a_start, MAX(pa) AS ma,
                   MIN(pb) AS b_start, MAX(pb) AS mb,
                   CAST(COUNT(*) AS BIGINT) AS n_fp
                 FROM rn GROUP BY 1, 2, 3)
          SELECT doc_a, doc_b,
                 CAST(row_number() OVER (PARTITION BY doc_a, doc_b
                   ORDER BY a_start, b_start) AS BIGINT) AS ext,
                 a_start, ma + ${k - 1} AS a_end,
                 b_start, mb + ${k - 1} AS b_end, n_fp
          FROM ex WHERE n_fp >= 2
          ORDER BY doc_a, doc_b, ext"""
    }),
    // the wext chain's extents cut from the higher doc of each pair;
    // kept tokens rejoin in position order under the shared token law,
    // so cleaned_text hash-matches byte-for-byte.
    QuerySpec("wct", TextOps.winnowCut _, winnowCutSql(touchedOnly = false)),
    // the SAME cut law restricted to the delta-touched set
    // (endpoints of delta-touching flagged pairs + every arriving
    // doc): the oracle IS "full wct restricted to touched docs",
    // which is exactly the incremental contract.
    QuerySpec("wci", TextOps.winnowCutDelta _,
      winnowCutSql(touchedOnly = true)),
    QuerySpec("qual", TextOps.textQuality _, {
      val stops = TextOps.langLexicon.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(toks, x -> x IN ($stops))) AS BIGINT) AS stop_hits,
          CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE)
            / NULLIF(len(toks), 0) AS stop_ratio,
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / NULLIF(len(toks), 0) AS avg_token_len,
          least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
            (CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE)
              / NULLIF(len(toks), 0)) * 0.5
            AS quality_score
          FROM t ORDER BY doc_id"""
    }),
    QuerySpec("lid", TextOps.textLangId _, langIdSql),
    QuerySpec("tfp", TextOps.textFingerprint _,
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id"),
    // Gopher-family repetition signals over token bigrams; fractions
    // are a single long→double division so both engines agree
    // bitwise. Docs with <2 tokens have no bigrams and drop out on
    // both sides.
    QuerySpec("reps", TextOps.textRepSignals _,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          bg AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS bigram
                 FROM t WHERE len(toks) >= 2),
          c AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
          a AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_n,
                  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bigram_n
                FROM c GROUP BY 1)
          SELECT doc_id, n_bigrams, top_bigram_n, dup_bigram_n,
                 CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
                 CAST(dup_bigram_n AS DOUBLE) / n_bigrams AS dup_bigram_frac
          FROM a ORDER BY doc_id"""),
    // Training-data pipeline: deduplication
    QuerySpec("dtext", DedupOps.dedupExactText _,
      """SELECT md5(lower(trim(text))) AS fp, COUNT(*) AS n_docs,
         MIN(doc_id) AS first_doc
         FROM documents GROUP BY 1 ORDER BY 1"""),
    QuerySpec("jac", DedupOps.dedupNgramJaccard _,
      s"""$shinglesSql
          SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
            FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
          WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""),
    QuerySpec("mhl", DedupOps.dedupMinhashLsh _,
      s"""$minhashPairsSql
          SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""),
    // the incremental probe must find EXACTLY the full pair query's
    // delta-touching pairs — probe-vs-index ≡ all-pairs restricted to
    // the delta, by LSH symmetry.
    QuerySpec("dinc", DedupOps.dedupDelta _,
      s"""$minhashPairsSql
          SELECT doc_a, doc_b, jaccard FROM pairs
          WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
          ORDER BY doc_a, doc_b"""),
    QuerySpec("smh", DedupOps.textSimhash _,
      s"""$simhashSql
          SELECT doc_id, simhash FROM sig ORDER BY doc_id"""),
    QuerySpec("simp", DedupOps.dedupSimhashPairs _, {
      val segBits = DedupOps.SimhashBits / DedupOps.SimhashSegments
      val mask = (1L << segBits) - 1
      val segs = (0 until DedupOps.SimhashSegments).map { s =>
        s"SELECT doc_id, simhash, $s AS seg, (simhash >> ${s * segBits}) & $mask AS sv FROM sig"
      }.mkString(" UNION ALL ")
      s"""$simhashSql,
          blk AS ($segs)
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM blk a JOIN blk b
            ON a.seg = b.seg AND a.sv = b.sv AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
          ORDER BY doc_a, doc_b"""
    }),
    QuerySpec("cwork", DedupOps.candidateGates _, candWorkSql),
    // Training-data pipeline: similarity search
    QuerySpec("brt", EmbeddingOps.annBruteTopK _, bruteAnnSql()),
    QuerySpec("ant", EmbeddingOps.annBruteTopKNative _, bruteAnnSql()),
    QuerySpec("alsh", EmbeddingOps.annLshBucket _, lshAnnSql()),
    QuerySpec("aivf", EmbeddingOps.annIvf _, ivfSql(nprobe = 1)),
    QuerySpec("iv2", EmbeddingOps.annIvfProbe2 _, ivfSql(nprobe = 2)),
    // engine-parity recall gate on the RAW (uniform-random, so
    // near-chance-recall) corpus.
    QuerySpec("anr", EmbeddingOps.annRecall _, annRecallSql(rawCorpusCtes)),
    // the DISCRIMINATING quality gate on the planted-cluster corpus
    // view — the oracle recomputes recall identically and expects
    // every floor gate TRUE, so a broken coarse quantizer (recall
    // collapses toward chance) fails the hash outright.
    QuerySpec("arcl", EmbeddingOps.annRecallClustered _, annRecallSql(clusteredCorpusCtes, {
      val floorCase = EmbeddingOps.ClusterRecallFloors.toSeq.sortBy(_._1)
        .map { case (m, f) => s"WHEN method = '$m' THEN CAST($f AS DOUBLE)" }
        .mkString(" ")
      s""",
                 CASE $floorCase END AS recall_floor,
                 TRUE AS recall_ok"""
    })),
    QuerySpec("ivft", EmbeddingOps.annRecallTrained _,
      annRecallTrainedSql(clusteredCorpusCtes)),
    // the memory tier — recall floor plus the bytes/vector
    // compression claim, both in hash-checked rows.
    QuerySpec("ivq", EmbeddingOps.annRecallPq _, ivfPqSql(clusteredCorpusCtes)),
    QuerySpec("pqt", EmbeddingOps.annRecallPqTrained _,
      ivfPqtSql(clusteredCorpusCtes)),
    QuerySpec("pqf", EmbeddingOps.annRecallPqFull _,
      ivfPqfSql(clusteredCorpusCtes)),
    QuerySpec("pinc", EmbeddingOps.pqCodesIncremental _,
      pqIncSql(clusteredCorpusCtes)),
    QuerySpec("endup", EmbeddingOps.embNeardupPairs _, {
      // replicate the banded sign-LSH blocking (8 bands × 8 sign bits)
      // so the oracle checks the operator's exact candidate semantics
      val bands = (0 until EmbeddingOps.NeardupBands).map { t =>
        val bucket = (0 until EmbeddingOps.NeardupBandBits).map { i =>
          s"CASE WHEN v[${t * EmbeddingOps.NeardupBandBits + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END"
        }.mkString(" + ")
        s"SELECT vec_id, $t AS band, CAST($bucket AS BIGINT) AS bh FROM c"
      }.mkString(" UNION ALL ")
      s"""WITH c AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
          bands AS ($bands),
          cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id)
          SELECT vec_a, vec_b FROM (
            SELECT cand.vec_a, cand.vec_b,
                   list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
                   (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
                    sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos
            FROM cand JOIN c a ON a.vec_id = cand.vec_a
                      JOIN c b ON b.vec_id = cand.vec_b) p
          WHERE cos > 0.45 ORDER BY vec_a, vec_b"""
    }),
    QuerySpec("sdd", EmbeddingOps.semanticDedup _,
      semanticDedupSql(clusteredCorpusCtes)),
    QuerySpec("sinc", EmbeddingOps.semanticDedupDelta _,
      semanticDeltaSql(clusteredCorpusCtes)),
    QuerySpec("sref", EmbeddingOps.semanticRefresh _,
      semanticRefreshSql(clusteredCorpusCtes)),
    // Training-data pipeline: multimodal plumbing
    QuerySpec("mmm", MultimodalOps.mmMeta _,
      """SELECT doc_id,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         md5(text) AS content_hash,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_kind
         FROM documents ORDER BY doc_id"""),
    // Replicates MultimodalOps.decodeOne's deterministic non-PNG path
    // byte-for-byte (the corpus carries text payloads, never a PNG
    // signature — asserted by MultimodalSpec): mean_byte is the exact
    // integer byte sum (extracted via hex pairs) over length, and the
    // pseudo-dimensions are the documented stub formulas; mean_signal
    // is NULL on the stub path by contract. The real decode paths
    // (PNG pixel decode, WAV PCM decode) are gated by constructed
    // fixtures in MultimodalSpec.
    QuerySpec("mmdec", MultimodalOps.mmDecodeFeatures _,
      """WITH d AS (SELECT doc_id,
                      octet_length(CAST(text AS BLOB)) AS n,
                      hex(CAST(text AS BLOB)) AS hx
                    FROM documents)
         SELECT doc_id,
           (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_kind,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(n % 640 + 1 AS BIGINT) AS width,
           CAST((n * 7) % 480 + 1 AS BIGINT) AS height,
           round(CASE WHEN n = 0 THEN 0.0
                      ELSE CAST(list_sum(list_transform(range(0, n), i ->
                        CAST(('0x' || substring(hx, 2*i + 1, 2)) AS BIGINT))) AS DOUBLE) / n
                 END, 4) AS mean_byte,
           CAST(NULL AS DOUBLE) AS mean_signal,
           CAST(NULL AS DOUBLE) AS thumb_mean,
           CAST(NULL AS VARCHAR) AS frame_ts
         FROM d ORDER BY doc_id"""),
    // Training-data pipeline: ingest-side transforms (PipelineOps)
    // same deterministic contact-line injection, same three
    // RE2/Java-compatible patterns, same redaction order (emails, then
    // IPs, then phones). Patterns are derived from the one Scala
    // constant set so the two engines cannot drift.
    QuerySpec("pii", PipelineOps.piiRedact _, {
      val email = PipelineOps.EmailRe
      val ipv4 = PipelineOps.Ipv4Re
      val phone = PipelineOps.PhoneRe
      s"""WITH a AS (SELECT doc_id,
               text || ' contact: user' || doc_id || '@example.com tel +1 555-010'
                    || (doc_id % 10) || ' host 10.0.0.' || (doc_id % 256) AS aug
             FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '$ipv4')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(aug,
             '$email', '<EMAIL>', 'g'),
             '$ipv4', '<IP>', 'g'),
             '$phone', '<PHONE>', 'g') AS redacted
         FROM a ORDER BY doc_id"""
    }),
    // the sampling decision is a pure function of (doc_id, lang) via
    // md5 — both engines agree on md5 hex, so the sampled set is
    // identical by construction.
    QuerySpec("srt", PipelineOps.sampleStratified _,
      """SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
               < (CASE WHEN lang = 'en' THEN '1a' ELSE '80' END)
         ORDER BY doc_id"""),
    // score = tf * (N / df) uses only correctly-rounded IEEE ops (÷
    // then ×), so the doubles — and the rank order they induce — are
    // bitwise identical on both engines.
    QuerySpec("tfi", PipelineOps.tfidfTopK _,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          toks AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                            tf.tf * (n.n_docs / df.df) AS score,
                            row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf * (n.n_docs / df.df) DESC, tf.term) AS rk
                     FROM tf JOIN df USING (term), n)
          SELECT doc_id, term, tf, df, score, rk
          FROM scored WHERE rk <= 3 ORDER BY doc_id, rk"""),
    // stage-k users' earliest qualifying event must be strictly
    // after their stage-(k-1) anchor.
    QuerySpec("fnl", PipelineOps.eventsFunnel _,
      """WITH v AS (SELECT user_id, min(ts) AS prev_ts FROM events
                    WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(e.ts) AS prev_ts FROM events e
                JOIN v USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > v.prev_ts GROUP BY 1),
          p AS (SELECT e.user_id, min(e.ts) AS prev_ts FROM events e
                JOIN c USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > c.prev_ts GROUP BY 1)
         SELECT stage, users FROM (
           SELECT '1_view' AS stage, count(*) AS users FROM v
           UNION ALL SELECT '2_click', count(*) FROM c
           UNION ALL SELECT '3_purchase', count(*) FROM p)
         WHERE users > 0 ORDER BY stage"""),
    // updated-wins upsert with deterministic update/insert batches
    // derived from the base table itself.
    QuerySpec("ups", PipelineOps.mergeUpsert _,
      """WITH bumped AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 10 = 0),
          inserts AS (
           SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
                  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 10 = 1),
          updates AS (SELECT * FROM bumped UNION ALL SELECT * FROM inserts)
         SELECT * FROM orders
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
         UNION ALL SELECT * FROM updates
         ORDER BY o_orderkey"""),
    // concat-then-chunk packing — bin = floor(start_offset / budget),
    // cumsum partitioned per (lang, md5-hex bucket) so a dominant
    // language parallelizes 16 ways instead of funneling through one
    // window partition. Sums and bins are pure integer math; DuckDB's
    // HUGEINT window sum is cast back to BIGINT to match Spark's long.
    QuerySpec("pack", PipelineOps.packSequences _,
      s"""WITH t AS (SELECT doc_id, lang,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
                CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
          c AS (SELECT doc_id, lang, bucket, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY lang, bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS start_off
                FROM t WHERE n_tokens IS NOT NULL)
          SELECT doc_id, lang, bucket, n_tokens, start_off,
                 CAST(floor(start_off / ${PipelineOps.PackBudget}) AS BIGINT) AS bin
          FROM c ORDER BY lang NULLS LAST, bucket, doc_id"""),
    // the interpolation is spelled out (rank lookup + lo +
    // (hi-lo)*frac) instead of quantile_cont — Spark percentile and
    // DuckDB quantile_cont round their algebraically-equal formulas
    // differently (1-ulp divergence observed at sf0.1), while this
    // explicit form is the same IEEE ops on both engines.
    QuerySpec("wnsr", PipelineOps.winsorizeByGroup _,
      """WITH r AS (SELECT p_type, p_retailprice AS v,
                CAST(row_number() OVER (PARTITION BY p_type ORDER BY p_retailprice)
                     AS BIGINT) - 1 AS rn
              FROM part WHERE p_retailprice IS NOT NULL),
          c AS (SELECT p_type, count(*) AS n FROM r GROUP BY 1),
          j AS (SELECT r.p_type, v, rn,
                CAST(n - 1 AS DOUBLE) * CAST(0.05 AS DOUBLE) AS i05,
                CAST(n - 1 AS DOUBLE) * CAST(0.95 AS DOUBLE) AS i95
              FROM r JOIN c USING (p_type)),
          b AS (SELECT p_type,
                min(CASE WHEN rn = CAST(floor(i05) AS BIGINT) THEN v END) AS lo05,
                min(CASE WHEN rn = CAST(ceil(i05) AS BIGINT) THEN v END) AS hi05,
                min(CASE WHEN rn = CAST(floor(i95) AS BIGINT) THEN v END) AS lo95,
                min(CASE WHEN rn = CAST(ceil(i95) AS BIGINT) THEN v END) AS hi95,
                min(i05) AS i05, min(i95) AS i95
              FROM j GROUP BY 1),
          t AS (SELECT p_type,
                lo05 + (hi05 - lo05) * (i05 - floor(i05)) AS lo,
                lo95 + (hi95 - lo95) * (i95 - floor(i95)) AS hi
              FROM b)
         SELECT p_partkey, p_type, p_retailprice,
                greatest(least(p_retailprice, hi), lo) AS winsorized
         FROM part JOIN t USING (p_type) ORDER BY p_partkey"""),
    // NOT EXISTS (not NOT IN) so a NULL fingerprint behaves like
    // Spark's anti-join (kept), though the corpus carries none.
    QuerySpec("dcn", PipelineOps.decontaminate _,
      """WITH d AS (SELECT doc_id, lang, md5(lower(trim(text))) AS fp FROM documents),
          e AS (SELECT fp FROM d WHERE doc_id % 50 = 0)
         SELECT doc_id, lang, fp FROM d
         WHERE doc_id % 50 <> 0
           AND NOT EXISTS (SELECT 1 FROM e WHERE e.fp = d.fp)
         ORDER BY doc_id"""),
    // drop train docs sharing any word 8-gram with the eval split. The
    // gram-concat expression is built from the same DecontamK constant
    // as the operator (anti-drift).
    QuerySpec("dcng", PipelineOps.decontaminateNgram _, {
      val k = PipelineOps.DecontamK
      val parts = (1 to k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_transform(range(0, len(toks) - ${k - 1}),
                    i -> $parts)) AS gram
                FROM t WHERE len(toks) >= $k),
          h AS (SELECT doc_id, md5(gram) AS g FROM g),
          ev AS (SELECT DISTINCT g FROM h WHERE doc_id % 50 = 0),
          bad AS (SELECT DISTINCT doc_id FROM h
                  WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM ev))
          SELECT doc_id, lang FROM documents
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM bad)
          ORDER BY doc_id"""
    }),
    // same gram CTE as decon_ngram (same DecontamK constant),
    // distinct per doc, gram doc-frequency, per-doc dup counts.
    // Integer counts — exact on both engines.
    QuerySpec("spn", PipelineOps.dupSpans _, {
      val k = PipelineOps.DecontamK
      val parts = (1 to k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          gr AS (SELECT doc_id,
                  unnest(list_transform(range(0, len(toks) - ${k - 1}),
                    i -> $parts)) AS gram
                FROM t WHERE len(toks) >= $k),
          h AS (SELECT DISTINCT doc_id, md5(gram) AS g FROM gr),
          s AS (SELECT g, COUNT(*) AS gdf FROM h GROUP BY g),
          p AS (SELECT doc_id, COUNT(*) AS n_grams,
                       COUNT(CASE WHEN gdf >= 2 THEN 1 END) AS n_dup
                FROM h JOIN s USING (g) GROUP BY doc_id)
          SELECT d.doc_id, d.lang,
                 COALESCE(p.n_grams, 0) AS n_grams,
                 COALESCE(p.n_dup, 0) AS n_dup
          FROM documents d LEFT JOIN p USING (doc_id)
          ORDER BY d.doc_id"""
    }),
    // bigram-LM self-scoring. Same tokenization CTE; P floored to
    // 1e12-scaled BIGINTs before summing (order- independent; ln
    // would drift across libms). DuckDB SUM(BIGINT) widens to
    // HUGEINT — cast back before the integer division.
    QuerySpec("lms", TextOps.lmScore _,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          bg AS (SELECT doc_id,
                   unnest(list_transform(range(0, len(toks) - 1),
                     i -> md5(toks[i+1] || ' ' || toks[i+2]))) AS b,
                   unnest(list_transform(range(0, len(toks) - 1),
                     i -> md5(toks[i+1]))) AS w1
                 FROM t WHERE len(toks) >= 2),
          bc AS (SELECT b, max(w1) AS w1, COUNT(*) AS c2 FROM bg GROUP BY b),
          uc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc GROUP BY w1),
          bs AS (SELECT b, CAST(floor(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)
                   * 1e12) AS BIGINT) AS ps
                 FROM bc JOIN uc USING (w1)),
          pd AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                        CAST(SUM(ps) AS BIGINT) AS s
                 FROM bg JOIN bs USING (b) GROUP BY doc_id)
          SELECT d.doc_id, d.lang,
                 COALESCE(pd.n_bigrams, 0) AS n_bigrams,
                 COALESCE(pd.s // pd.n_bigrams, 0) AS lm_avg_scaled
          FROM documents d LEFT JOIN pd USING (doc_id)
          ORDER BY d.doc_id"""),
    QuerySpec("ccn", TextOps.pplBuckets _, pplBucketsSql),
    // the composed pipeline — each CTE is the standalone operator's
    // oracle logic (same fingerprint, same md5 rank, same constants),
    // chained.
    QuerySpec("corp", PipelineOps.corpusPipeline _,
      s"""WITH b AS (SELECT doc_id, source, lang,
                  len($toksSql) AS n_tokens,
                  md5(lower(trim(text))) AS fp
                FROM documents),
          q AS (SELECT * FROM b WHERE n_tokens >= ${PipelineOps.CorpusMinTokens}),
          d AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM q),
          ev AS (SELECT DISTINCT fp FROM q WHERE doc_id % 50 = 0),
          tr AS (SELECT * FROM d WHERE rn = 1 AND doc_id % 50 <> 0
                   AND fp NOT IN (SELECT fp FROM ev)),
          r AS (SELECT doc_id, source, lang, n_tokens,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                FROM tr)
          SELECT doc_id, source, lang, n_tokens FROM r
          WHERE rk <= ${PipelineOps.SourceQuota} ORDER BY doc_id"""),
    QuerySpec("tdata", (s: SparkSession, d: String) => PipelineOps.trainingData(s, d),
      trainingDataSql),
    QuerySpec("ftd", (s: SparkSession, d: String) => PipelineOps.trainingDataFtq(s, d),
      ftdSql),
    QuerySpec("pksq", (s: SparkSession, d: String) => PipelineOps.packedSequences(s, d),
      packedSequencesSql),
    // the artifact round-trip must carry EXACTLY the in-memory frame,
    // so its oracle IS packedSequences' — any divergence introduced by
    // the write/read path (partition-value coercion, column reorder,
    // lost rows) breaks the shared hash
    QuerySpec("pkw", PipelineOps.packedCorpusRoundTrip _, packedSequencesSql),
    QuerySpec("pki", (s: SparkSession, d: String) => PipelineOps.packedSequencesDelta(s, d),
      pkiSql),
    // connected components over the verified MinHash-LSH pair graph —
    // every clustered doc labeled with its component's min doc_id. The
    // oracle computes reachability closure with a recursive CTE (min
    // reachable id ≡ the min-label fixpoint the Spark loop converges
    // to).
    QuerySpec("clus", DedupOps.dedupClusters _,
      s"""${minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
          n AS (SELECT DISTINCT src AS id FROM e),
          r AS (SELECT id, id AS lbl FROM n
                UNION
                SELECT e.dst AS id, r.lbl FROM r JOIN e ON e.src = r.id)
          SELECT id AS doc_id, min(lbl) AS cluster FROM r
          GROUP BY 1 ORDER BY 1"""),
    // clusters + quality composed into the per-document retention
    // verdict — keep the highest-quality member of each near-dup
    // cluster (ties → min doc_id), singletons keep.
    QuerySpec("dkp", DedupOps.dedupKeep _, {
      val stops = TextOps.langLexicon.head._2.map(w => s"'$w'").mkString(", ")
      s"""${minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
          n AS (SELECT DISTINCT src AS id FROM e),
          r AS (SELECT id, id AS lbl FROM n
                UNION
                SELECT e.dst AS id, r.lbl FROM r JOIN e ON e.src = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM r GROUP BY 1),
          qt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          qs AS (SELECT doc_id,
                   least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
                     (CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE)
                       / NULLIF(len(toks), 0)) * 0.5 AS quality_score
                 FROM qt),
          a AS (SELECT qs.doc_id, COALESCE(cl.cluster, qs.doc_id) AS cluster,
                       qs.quality_score
                FROM qs LEFT JOIN cl ON qs.doc_id = cl.doc_id)
          SELECT doc_id, cluster, quality_score,
            (row_number() OVER wq = 1) AS keep,
            first_value(doc_id) OVER
              (PARTITION BY cluster
               ORDER BY quality_score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS kept_doc,
            count(*) OVER (PARTITION BY cluster) AS n_members
          FROM a
          WINDOW wq AS (PARTITION BY cluster
                        ORDER BY quality_score DESC NULLS LAST, doc_id)
          ORDER BY doc_id"""
    }),
    // standing verdicts + delta pairs assembled incrementally must
    // equal the from-scratch chain. The oracle recomputes everything
    // from scratch AND derives `reelected` independently (a cluster is
    // touched iff it contains a delta-pair node), so the hash gate pins
    // that the incremental path re-elected exactly the touched clusters
    // and carried every other row bit-identical from the standing
    // table.
    QuerySpec("linc", DedupOps.dedupKeepIncremental _, {
      val stops = TextOps.langLexicon.head._2.map(w => s"'$w'").mkString(", ")
      s"""${minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
          n AS (SELECT DISTINCT src AS id FROM e),
          r AS (SELECT id, id AS lbl FROM n
                UNION
                SELECT e.dst AS id, r.lbl FROM r JOIN e ON e.src = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM r GROUP BY 1),
          dp AS (SELECT doc_a AS d FROM pairs WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
                 UNION
                 SELECT doc_b FROM pairs WHERE doc_a % 5 = 0 OR doc_b % 5 = 0),
          tc AS (SELECT DISTINCT cl.cluster FROM cl JOIN dp ON cl.doc_id = dp.d),
          qt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          qs AS (SELECT doc_id,
                   least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
                     (CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE)
                       / NULLIF(len(toks), 0)) * 0.5 AS quality_score
                 FROM qt),
          a AS (SELECT qs.doc_id, COALESCE(cl.cluster, qs.doc_id) AS cluster,
                       qs.quality_score
                FROM qs LEFT JOIN cl ON qs.doc_id = cl.doc_id)
          SELECT doc_id, cluster, quality_score,
            (row_number() OVER wq = 1) AS keep,
            first_value(doc_id) OVER
              (PARTITION BY cluster
               ORDER BY quality_score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS kept_doc,
            count(*) OVER (PARTITION BY cluster) AS n_members,
            (a.cluster IN (SELECT cluster FROM tc)) AS reelected
          FROM a
          WINDOW wq AS (PARTITION BY cluster
                        ORDER BY quality_score DESC NULLS LAST, doc_id)
          ORDER BY doc_id"""
    }),
    // seeded hash split — the assignment is a pure function of (seed,
    // doc_id), so both engines deal the same train/val/test partition
    // by construction.
    QuerySpec("split", (s: SparkSession, d: String) => PipelineOps.splitCorpus(s, d),
      """SELECT doc_id, lang,
           substr(md5('graft:v1:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           CASE WHEN substr(md5('graft:v1:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                WHEN substr(md5('graft:v1:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),
    // the position is the global rank of md5(seed:epoch:doc_id) with
    // a doc_id tie-break — a total order both engines compute
    // identically; the oracle's one window IS the naive form of the
    // operator's offset+local-index plan.
    QuerySpec("esh", (s: SparkSession, d: String) => PipelineOps.epochShuffle(s, d),
      """WITH k AS (SELECT doc_id, lang,
           md5('graft:v1:0:' || CAST(doc_id AS VARCHAR)) AS ek FROM documents)
         SELECT doc_id, lang, ek,
           CAST(row_number() OVER (ORDER BY ek, doc_id) AS BIGINT) AS pos
         FROM k ORDER BY doc_id"""),
    // shares/rates are sqrt + one division + one multiplication
    // chain — every op correctly-rounded IEEE, so the doubles AND the
    // floor'd thresholds agree bitwise. z sums floor(sqrt·1e6) terms
    // as exact integers (order- independent) — a float sum's merge
    // order is engine- and run-dependent (r14 advice), and fractional
    // round(x, 6) is itself engine-divergent (decimal-repr HALF_UP vs
    // float-space), so the grid snap is floor over an identical IEEE
    // chain.
    QuerySpec("tmix", (s: SparkSession, d: String) => PipelineOps.sampleTemperature(s, d),
      """WITH s AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs
                    FROM documents GROUP BY 1),
          t AS (SELECT CAST(sum(CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT))
                            AS DOUBLE) AS z,
                       sum(n_docs) AS n_total FROM s),
          r1 AS (SELECT lang, n_docs, floor(sqrt(n_docs) * 1e6) / z AS share, n_total
                 FROM s, t),
          r AS (SELECT lang, share,
                       least(1.0, share * 0.4 * n_total / n_docs) AS rate
                FROM r1)
         SELECT d.doc_id, d.lang, r.share, r.rate
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               < CAST(floor(r.rate * 65536) AS BIGINT)
         ORDER BY d.doc_id"""),
    // deterministic per-source cap — md5-of-id rank inside each
    // source, keep rank <= quota.
    QuerySpec("qta", PipelineOps.sampleSourceQuota _,
      s"""WITH r AS (SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
               FROM documents)
          SELECT doc_id, source, rk FROM r
          WHERE rk <= ${PipelineOps.SourceQuota} ORDER BY doc_id"""),
    // keep-probability ∝ min(1, n_chars/2000), decided by integer
    // compare of a salted-md5 hash slice against an integer
    // threshold — exact on both engines.
    QuerySpec("imps", PipelineOps.sampleImportance _,
      """SELECT doc_id, n_chars,
         LEAST(65536, n_chars * 65536 // 2000) AS thr
         FROM documents
         WHERE CAST(('0x' || substring(md5('imp|' || CAST(doc_id AS VARCHAR)), 1, 4))
                 AS BIGINT) < LEAST(65536, n_chars * 65536 // 2000)
         ORDER BY doc_id"""),
    // Time-series shaping & SCD2 history
    // first-seen-day cohorts × day offset.
    QuerySpec("coh", EventOps.cohortRetention _,
      """WITH e AS (SELECT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
          c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
         SELECT c.cohort_day, e.day - c.cohort_day AS offset_days,
                COUNT(DISTINCT e.user_id) AS n_users
         FROM e JOIN c ON e.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // time-RANGE frame (peers-by-value), exact decimal sum cast
    // back to double.
    QuerySpec("rfrm", EventOps.windowRangeFrame _,
      """WITH e AS (SELECT event_id, event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
         SELECT event_id, event_type, es,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY event_type ORDER BY es
                  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS rolling_value
         FROM e ORDER BY event_id"""),
    // dense calendar spine per priority, zero-fill counts,
    // forward-fill revenue.
    QuerySpec("gapf", TimeSeriesOps.tsGapfill _,
      """WITH d AS (SELECT o_orderpriority,
                  CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
                FROM orders GROUP BY 1, 2),
          span AS (SELECT o_orderpriority, MIN(day) AS lo, MAX(day) AS hi
                   FROM d GROUP BY 1),
          cal AS (SELECT o_orderpriority, unnest(generate_series(lo, hi)) AS day
                  FROM span)
         SELECT c.o_orderpriority, c.day,
                COALESCE(d.n, 0) AS n,
                COALESCE(d.total_value, 0.0) AS total_value,
                last_value(d.total_value IGNORE NULLS) OVER (
                  PARTITION BY c.o_orderpriority ORDER BY c.day
                  ROWS UNBOUNDED PRECEDING) AS ffill_value
         FROM cal c LEFT JOIN d
           ON c.o_orderpriority = d.o_orderpriority AND c.day = d.day
         ORDER BY 1, 2"""),
    // change rows (lag filter) → versioned intervals (lead), open
    // version flagged current.
    QuerySpec("scd2", TimeSeriesOps.scd2Build _,
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderpriority,
                  CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS od
                FROM orders),
          l AS (SELECT *, lag(o_orderpriority) OVER
                  (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS prev
                FROM o),
          ch AS (SELECT * FROM l
                 WHERE prev IS NULL OR prev <> o_orderpriority),
          v AS (SELECT o_custkey, o_orderpriority, od AS valid_from,
                  lead(od) OVER (PARTITION BY o_custkey
                    ORDER BY od, o_orderkey) AS valid_to
                FROM ch)
         SELECT o_custkey, o_orderpriority, valid_from, valid_to,
                valid_to IS NULL AS is_current
         FROM v ORDER BY o_custkey, valid_from"""),
    // Entity resolution & regression
    // distinct-name vocabulary, dual (first ∨ last token) blocking
    // with the lossless length-band prune, levenshtein <= 3 verify,
    // canonical a < b pairs (DISTINCT: a pair may collide on both
    // block keys).
    QuerySpec("fzy", RelationalOps.joinFuzzyEdit _,
      """WITH n AS (SELECT DISTINCT p_name FROM part),
          k AS (SELECT p_name, unnest(list_distinct(
                  [(string_split(p_name, ' '))[1], (string_split(p_name, ' '))[-1]]))
                  AS blk FROM n),
          cand AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
                   FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
                   WHERE abs(length(a.p_name) - length(b.p_name)) <= 3)
         SELECT name_a, name_b,
                CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         FROM cand
         WHERE levenshtein(name_a, name_b) <= 3
         ORDER BY name_a, name_b"""),
    // normal equations over exact decimal power sums — identical
    // IEEE expression tree on both engines, 9dp.
    QuerySpec("regr", StatOps.regrByGroup _,
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
                FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                floor((n * sxy - sx * sy) / nullif(n * sx2 - sx * sx, 0)
                      * CAST(1e9 AS DOUBLE)) / CAST(1e9 AS DOUBLE) AS slope,
                floor((sy - (n * sxy - sx * sy) / nullif(n * sx2 - sx * sx, 0) * sx)
                      / n * CAST(1e9 AS DOUBLE)) / CAST(1e9 AS DOUBLE) AS intercept,
                floor((n * sxy - sx * sy) * (n * sxy - sx * sy) /
                      (nullif(n * sx2 - sx * sx, 0) * nullif(n * sy2 - sy * sy, 0))
                      * CAST(1e9 AS DOUBLE)) / CAST(1e9 AS DOUBLE) AS r2
         FROM s ORDER BY l_returnflag"""),
    // Sketch accuracy gates (the 100 TB cardinality/quantile tools)
    // oracle computes the exact distinct count and expects both
    // sketch gates TRUE — a sketch drifting past 5% fails the hash,
    // same contract as ann_recall.
    QuerySpec("skd", StatOps.sketchDistinctGate _,
      """SELECT l_returnflag,
         COUNT(DISTINCT l_orderkey) AS n_exact,
         TRUE AS acd_within_5pct,
         TRUE AS hll_within_5pct
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // GK rank error <= n/accuracy under any merge order, so the 1%
    // gate is deterministic.
    QuerySpec("skq", StatOps.sketchQuantileGate _,
      """SELECT l_returnflag, COUNT(*) AS n,
         TRUE AS p50_within_1pct
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // KMV/theta-sketch set operations — exact |A|, |B|, |A∩B|, |A∪B|
    // per returnflag pair recomputed by the oracle; the sketch
    // estimates (the intersection is the estimate HLL cannot
    // produce) ship as within-tolerance booleans, and the
    // exact-merge gate (k smallest of two retained sets ≡ the
    // from-scratch union sketch) as a TRUE boolean.
    QuerySpec("theta", StatOps.thetaSetOps _,
      """WITH d AS (SELECT DISTINCT l_returnflag AS flag,
                           l_orderkey AS k FROM lineitem
                    WHERE l_orderkey IS NOT NULL),
              c AS (SELECT flag, COUNT(*) AS n FROM d GROUP BY 1),
              p AS (SELECT ca.flag AS fa, cb.flag AS fb
                    FROM c ca JOIN c cb ON ca.flag < cb.flag),
              i AS (SELECT a.flag AS fa, b.flag AS fb, COUNT(*) AS ni
                    FROM d a JOIN d b ON a.k = b.k AND a.flag < b.flag
                    GROUP BY 1, 2)
         SELECT p.fa AS flag_a, p.fb AS flag_b,
                ca.n AS exact_a, cb.n AS exact_b,
                COALESCE(i.ni, 0) AS exact_inter,
                ca.n + cb.n - COALESCE(i.ni, 0) AS exact_union,
                ca.n - COALESCE(i.ni, 0) AS exact_diff,
                TRUE AS a_within_5pct, TRUE AS b_within_5pct,
                TRUE AS inter_within_10pct, TRUE AS union_within_10pct,
                TRUE AS diff_within_20pct,
                TRUE AS merge_exact
         FROM p JOIN c ca ON ca.flag = p.fa JOIN c cb ON cb.flag = p.fb
              LEFT JOIN i ON i.fa = p.fa AND i.fb = p.fb
         ORDER BY 1, 2"""),
    // HLL union over disjoint halves must equal the from-scratch
    // sketch (registers are per-value maxima — deterministic) and
    // land within 5% of exact. Oracle emits the exact count and
    // literal TRUE for both gates.
    QuerySpec("skm", StatOps.sketchMergeGate _,
      """SELECT COUNT(DISTINCT user_id) AS n_exact,
         TRUE AS merge_eq_full,
         TRUE AS merged_within_5pct
         FROM events"""),
    // the hot-key fold is a deterministic expression, so the oracle
    // reproduces the same skewed join and the AQE skew-split's
    // result-preservation claim is hash-checked.
    QuerySpec("skj", StatOps.skewJoin _,
      """WITH e AS (SELECT CASE WHEN user_id % 10 < 5 THEN 0
                                ELSE user_id END AS jk,
                          value FROM events)
         SELECT c.c_mktsegment, COUNT(*) AS n_events,
                CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value
         FROM e JOIN customer c ON c.c_custkey = e.jk
         GROUP BY 1 ORDER BY 1"""),
    // Profiling / data-quality / graph
    // one-scan long-format column profile.
    QuerySpec("prof", QualityOps.profileTable _, {
      val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_sec")
      val str = Seq("o_orderstatus", "o_orderpriority")
      val rows = (num ++ str).map { c =>
        val minNum = if (num.contains(c)) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val maxNum = if (num.contains(c)) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val minStr = if (str.contains(c)) s"MIN($c)" else "CAST(NULL AS VARCHAR)"
        val maxStr = if (str.contains(c)) s"MAX($c)" else "CAST(NULL AS VARCHAR)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
            COUNT(*) FILTER (WHERE $c IS NULL) AS n_null,
            COUNT(DISTINCT $c) AS n_distinct,
            $minNum AS min_num, $maxNum AS max_num,
            $minStr AS min_str, $maxStr AS max_str FROM o"""
      }.mkString(" UNION ALL ")
      s"""WITH o AS (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_sec
                     FROM orders)
          $rows ORDER BY col_name"""
    }),
    // long-format profile with the HLL++ distinct estimate gated
    // within 5% of exact — the oracle emits exact counts and literal
    // TRUE, sk_distinct's contract. (The production plan is the
    // un-expanded one-pass approx aggregation; the exact pass exists
    // as the gate's reference and the emitted n_distinct.)
    QuerySpec("papx", QualityOps.profileApprox _, {
      val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_sec")
      val str = Seq("o_orderstatus", "o_orderpriority")
      val rows = (num ++ str).map { c =>
        val minNum = if (num.contains(c)) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val maxNum = if (num.contains(c)) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val minStr = if (str.contains(c)) s"MIN($c)" else "CAST(NULL AS VARCHAR)"
        val maxStr = if (str.contains(c)) s"MAX($c)" else "CAST(NULL AS VARCHAR)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
            COUNT(*) FILTER (WHERE $c IS NULL) AS n_null,
            COUNT(DISTINCT $c) AS n_distinct,
            TRUE AS acd_within_5pct,
            $minNum AS min_num, $maxNum AS max_num,
            $minStr AS min_str, $maxStr AS max_str FROM o"""
      }.mkString(" UNION ALL ")
      s"""WITH o AS (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_sec
                     FROM orders)
          $rows ORDER BY col_name"""
    }),
    // order-independent content fingerprint (XOR + exact decimal sum
    // of 60-bit row hashes). Both engines sum as DECIMAL(38,0) —
    // DuckDB's HUGEINT would be value-identical but degrades to float
    // through the compare harness's pandas bridge.
    QuerySpec("cks", QualityOps.tableChecksum _,
      """WITH h AS (SELECT l_returnflag,
                      CAST(('0x' || substring(md5(concat_ws('|',
                        l_orderkey, l_partkey, l_suppkey,
                        l_returnflag, l_linestatus)), 1, 15)) AS BIGINT) AS h
                    FROM lineitem)
         SELECT l_returnflag, COUNT(*) AS n_rows,
                bit_xor(h) AS xor_sig,
                CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS sum_sig
         FROM h GROUP BY 1 ORDER BY 1"""),
    QuerySpec("ftq", QualityOps.ftqClassifier _, ftqSql),
    // hashed unigram+bigram target/source importance weights
    // (smoothed ratio per md5 cell, floored to a 1e6-scaled
    // BIGINT — the lms quantization; the one ratio is a fixed-order
    // double expression both engines replay bitwise), integer-mean
    // per doc, global top-quarter by (weight DESC, doc_id)
    QuerySpec("dsir", QualityOps.dsirSelect _, {
      val b = graft.operators.QualityOps.DsirBuckets
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, (lang = 'en') AS tgt,
                  unnest(toks || list_transform(range(0, len(toks) - 1),
                    i -> toks[i+1] || ' ' || toks[i+2])) AS g
                FROM t),
          o AS (SELECT doc_id, tgt,
                  CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $b AS b
                FROM g),
          m AS (SELECT b, CAST(COUNT(*) AS BIGINT) cs,
                  CAST(COUNT(CASE WHEN tgt THEN 1 END) AS BIGINT) ct
                FROM o GROUP BY b),
          tt AS (SELECT CAST(SUM(cs) AS BIGINT) ns,
                   CAST(SUM(ct) AS BIGINT) nt FROM m),
          p AS (SELECT b, CAST(floor(
                  CAST(ct + 1 AS DOUBLE) * CAST(ns + $b AS DOUBLE) /
                  (CAST(cs + 1 AS DOUBLE) * CAST(nt + $b AS DOUBLE)) * 1e6)
                  AS BIGINT) ps
                FROM m, tt),
          pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams,
                   SUM(ps) s
                 FROM o JOIN p USING (b) GROUP BY doc_id),
          sc AS (SELECT d.doc_id, d.lang,
                   COALESCE(pd.n_grams, 0) AS n_grams,
                   COALESCE(CAST(pd.s AS BIGINT) // pd.n_grams, 0) AS w_scaled
                 FROM documents d LEFT JOIN pd USING (doc_id)),
          r AS (SELECT *, CAST(row_number() OVER
                   (ORDER BY w_scaled DESC, doc_id) AS BIGINT) rk,
                 COUNT(*) OVER () n_docs
                FROM sc)
          SELECT doc_id, lang, n_grams, w_scaled, rk,
                 rk <= (n_docs + 3) // 4 AS selected
          FROM r ORDER BY doc_id"""
    }),
    QuerySpec("tkf", TextOps.tokenizerFertility _, tkfSql),
    QuerySpec("tvu", TextOps.tokenVocabUsage _, tvuSql),
    QuerySpec("pke", (s: SparkSession, d: String) => PipelineOps.packingEfficiency(s, d),
      pkeSql),
    // fixed check suite, one row per constraint.
    QuerySpec("dq", QualityOps.dqChecks _,
      """SELECT 'orders_custkey_null' AS check_name,
                (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_bad
         UNION ALL SELECT 'orders_custkey_orphan',
                (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         UNION ALL SELECT 'orders_orderkey_dup',
                (SELECT COUNT(*) FROM
                  (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
         UNION ALL SELECT 'orders_totalprice_negative',
                (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
         UNION ALL SELECT 'lineitem_orderkey_orphan',
                (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         UNION ALL SELECT 'lineitem_quantity_nonpositive',
                (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
         UNION ALL SELECT 'lineitem_discount_range',
                (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
         ORDER BY check_name"""),
    // unrolled fixed-iteration PageRank; every float constant CAST to
    // DOUBLE (DuckDB parses bare 0.85 as DECIMAL, which would
    // silently switch the arithmetic), and per-step contributions
    // floored to 1e15-scaled longs so the only order-sensitive
    // reduction is an exact integer sum.
    QuerySpec("prk", GraphOps.pageRank _, {
      val step = (i: Int, j: Int) =>
        s"""c$j AS (SELECT e.b AS node, CAST(floor(r.rank/d.deg*1e15) AS BIGINT) AS c
               FROM r$i r JOIN d ON r.node=d.a JOIN e ON r.node=e.a),
            r$j AS (SELECT node,
                 (CAST(1 AS DOUBLE)-CAST(${GraphOps.Damping} AS DOUBLE))/(SELECT n FROM nn)
                 + CAST(${GraphOps.Damping} AS DOUBLE)*(SUM(c)/CAST(1e15 AS DOUBLE)) AS rank
               FROM c$j GROUP BY node)"""
      val steps = (1 to GraphOps.PageRankIters)
        .map(j => step(j - 1, j)).mkString(",\n ")
      s"""WITH li AS (SELECT DISTINCT 's'||CAST(l_suppkey AS VARCHAR) AS a,
                             'p'||CAST(l_partkey AS VARCHAR) AS b FROM lineitem),
          e AS (SELECT a,b FROM li UNION ALL SELECT b AS a, a AS b FROM li),
          d AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY 1),
          nn AS (SELECT COUNT(*) AS n FROM d),
          r0 AS (SELECT a AS node, CAST(1 AS DOUBLE)/(SELECT n FROM nn) AS rank FROM d),
          $steps
          SELECT node, CAST(round(rank*1e9) AS BIGINT) AS rank_e9
          FROM r${GraphOps.PageRankIters} ORDER BY node"""
    }),
    // SQL-surface completeness: value windows, incremental aggregation
    // first/last/nth need the explicit unbounded-both-ends frame in
    // both engines (the default frame makes last_value ≡ current row);
    // cume_dist ties are peer-counting, deterministic without a
    // tiebreaker.
    QuerySpec("winv", RelationalOps.windowValueFuncs _,
      """SELECT o_orderkey, o_custkey,
         first_value(o_totalprice) OVER w AS first_price,
         last_value(o_totalprice) OVER w AS last_price,
         nth_value(o_totalprice, 2) OVER w AS second_price,
         cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey"""),
    // the oracle recomputes from scratch — merge-of-partials must
    // equal the full recompute exactly.
    QuerySpec("iagg", RelationalOps.incrAgg _,
      """SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1 ORDER BY 1"""),
    // HOF lambda surface vs DuckDB list functions.
    QuerySpec("arrf", TextOps.arrayFuncs _,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
                     WHERE text IS NOT NULL)
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_toks,
                 array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
                 array_to_string(list_slice(list_sort(toks), 1, 3), ' ') AS sorted3,
                 CAST(len(list_filter(toks, x -> length(x) > 5)) AS BIGINT) AS n_long,
                 CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                   AS BIGINT) AS total_chars,
                 list_contains(toks, 'data') AS has_data
          FROM t ORDER BY doc_id"""),
    // map/struct surface — DuckDB has no map HOFs, so every value is
    // replicated through list functions over the same distinct-token
    // set (semantic parity of VALUES; map-order effects never reach
    // the hash). struct_nk is the struct field-access path; data_len
    // pins element_at's NULL-on-missing.
    QuerySpec("mapf", TextOps.mapFuncs _,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
                     WHERE text IS NOT NULL),
          k AS (SELECT doc_id, toks, list_distinct(toks) AS ks FROM t)
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_toks,
                 CAST(len(ks) AS BIGINT) AS n_keys,
                 CAST(COALESCE(list_sum(list_transform(ks, x -> length(x))), 0)
                   AS BIGINT) AS len_sum,
                 CAST(len(list_filter(ks, x -> length(x) > 5)) AS BIGINT) AS n_long_keys,
                 CASE WHEN list_contains(ks, 'data')
                      THEN CAST(4 AS BIGINT) ELSE NULL END AS data_len,
                 list_contains(ks, 'data') AS has_data,
                 array_to_string(list_slice(list_sort(ks), 1, 3), ' ') AS first3_keys,
                 CAST(len(ks) + 1 AS BIGINT) AS n_concat,
                 CAST(COALESCE(list_sum(list_transform(ks, x -> length(x) * 2 + 1)), 0)
                   AS BIGINT) AS dbl_sum,
                 CAST(len(ks) AS BIGINT) AS struct_nk
          FROM k ORDER BY doc_id"""),
    // |z| > 3 per event type; mean/σ from exact decimal sums, z as
    // the identical IEEE op chain on both engines. floor-scaled to
    // 6dp (fractional round() is engine-divergent within an ULP of a
    // decimal grid boundary; floor is not).
    QuerySpec("outl", StatOps.outliers _,
      """WITH s AS (SELECT event_type, COUNT(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx2
                FROM events GROUP BY 1),
          m AS (SELECT event_type, sx / n AS mean,
                  sqrt(greatest(sx2 / n - (sx / n) * (sx / n),
                                CAST(0 AS DOUBLE))) AS sd FROM s)
         SELECT e.event_id, e.event_type, e.value,
                floor((e.value - m.mean) / nullif(m.sd, 0)
                      * CAST(1e6 AS DOUBLE)) / CAST(1e6 AS DOUBLE) AS z
         FROM events e JOIN m ON e.event_type = m.event_type
         WHERE abs((e.value - m.mean) / nullif(m.sd, 0)) > 3.0
         ORDER BY e.event_id"""),
    // Training-data shaping: windowed chunking + lexical retrieval
    // sliding token windows, geometry from the shared
    // ChunkSize/ChunkStride constants. DuckDB list slicing is
    // 1-based inclusive and clamps past the end — same contract as
    // Spark's slice(start, length), so end = start + Size − 1.
    QuerySpec("chk", TextOps.docChunks _, {
      val (cs, st) = (TextOps.ChunkSize, TextOps.ChunkStride)
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks,
                  unnest(range(0, (nt - 1) // $st + 1)) AS chunk_id FROM n),
          s AS (SELECT doc_id, chunk_id,
                  toks[chunk_id * $st + 1 : chunk_id * $st + $cs] AS ctoks FROM c)
          SELECT doc_id, chunk_id, CAST(len(ctoks) AS BIGINT) AS n_tok,
                 md5(array_to_string(ctoks, ' ')) AS chunk_md5
          FROM s ORDER BY doc_id, chunk_id""".stripMargin
    }),
    // ratio-form idf (no ln — libm-divergent), identical IEEE op
    // chains, contributions floored to 1e9-scaled BIGINTs before
    // the exact order-independent sum. Constants and the term list
    // interpolate from the same Scala vals as the operator
    // (anti-drift).
    QuerySpec("bm25", TextOps.bm25Search _, {
      val terms = TextOps.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val (k1, b, k1p1) = (TextOps.Bm25K1, TextOps.Bm25B, TextOps.Bm25K1 + 1.0)
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
          st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                        CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          tk AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tk
                 WHERE term IN ($terms) GROUP BY doc_id, term),
          dfr AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
          sc AS (SELECT tf.doc_id,
                   CAST(floor(
                     (st.n_docs - dfr.df + CAST(0.5 AS DOUBLE))
                       / (dfr.df + CAST(0.5 AS DOUBLE))
                     * (tf.tf * CAST($k1p1 AS DOUBLE))
                     / (tf.tf + CAST($k1 AS DOUBLE)
                         * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
                            + CAST($b AS DOUBLE) * (dl.dl / st.avgdl)))
                     * CAST(1e9 AS DOUBLE)) AS BIGINT) AS contrib
                 FROM tf, dfr, dl, st
                 WHERE tf.term = dfr.term AND tf.doc_id = dl.doc_id)
          SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_s,
                 COUNT(*) AS n_terms
          FROM sc GROUP BY doc_id
          ORDER BY score_s DESC, doc_id LIMIT ${TextOps.Bm25TopK}""".stripMargin
    }),
    // both rankings recomputed with the same floor-quantized
    // contributions (ratio at 1e9, ln at 1e6 — the quantization is
    // what makes a libm last-ulp divergence unable to flip a rank),
    // so the overlap COUNT matches exactly and the >=3/4-overlap gate
    // is expected TRUE.
    QuerySpec("bmln", TextOps.bm25LnGate _, {
      val terms = TextOps.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val (k1, b, k1p1) = (TextOps.Bm25K1, TextOps.Bm25B, TextOps.Bm25K1 + 1.0)
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
          st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                        CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          tk AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tk
                 WHERE term IN ($terms) GROUP BY doc_id, term),
          dfr AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
          ra AS (SELECT tf.doc_id,
                   SUM(CAST(floor(
                     (st.n_docs - dfr.df + CAST(0.5 AS DOUBLE))
                       / (dfr.df + CAST(0.5 AS DOUBLE))
                     * (tf.tf * CAST($k1p1 AS DOUBLE))
                     / (tf.tf + CAST($k1 AS DOUBLE)
                         * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
                            + CAST($b AS DOUBLE) * (dl.dl / st.avgdl)))
                     * CAST(1e9 AS DOUBLE)) AS BIGINT)) AS s
                 FROM tf, dfr, dl, st
                 WHERE tf.term = dfr.term AND tf.doc_id = dl.doc_id
                 GROUP BY tf.doc_id
                 ORDER BY s DESC, tf.doc_id LIMIT ${TextOps.Bm25TopK}),
          lna AS (SELECT tf.doc_id,
                   SUM(CAST(floor(
                     ln(CAST(1.0 AS DOUBLE)
                        + (st.n_docs - dfr.df + CAST(0.5 AS DOUBLE))
                          / (dfr.df + CAST(0.5 AS DOUBLE)))
                     * (tf.tf * CAST($k1p1 AS DOUBLE))
                     / (tf.tf + CAST($k1 AS DOUBLE)
                         * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
                            + CAST($b AS DOUBLE) * (dl.dl / st.avgdl)))
                     * CAST(1e6 AS DOUBLE)) AS BIGINT)) AS s
                 FROM tf, dfr, dl, st
                 WHERE tf.term = dfr.term AND tf.doc_id = dl.doc_id
                 GROUP BY tf.doc_id
                 ORDER BY s DESC, tf.doc_id LIMIT ${TextOps.Bm25TopK})
          SELECT (SELECT COUNT(*) FROM ra) AS n_ratio,
                 (SELECT COUNT(*) FROM lna) AS n_ln,
                 (SELECT COUNT(*) FROM ra JOIN lna USING (doc_id)) AS n_overlap,
                 TRUE AS overlap_ge_3q""".stripMargin
    }),
    // the oracle recomputes the exact top-10 (same user_id
    // tie-break) and expects the CMS guarantee gates TRUE — an
    // estimate below exact or past the eps·N bound fails the hash,
    // the sk_distinct contract.
    QuerySpec("hh", StatOps.sketchHeavyHitters _,
      """SELECT user_id, COUNT(*) AS n_exact,
         TRUE AS est_ge_exact, TRUE AS est_within_eps
         FROM events GROUP BY user_id
         ORDER BY n_exact DESC, user_id LIMIT 10"""),
    // Morton interleave as pure integer shift/mask arithmetic —
    // the SQL spread is generated from the same step table as the
    // Column chain (anti-drift). DuckDB's & | << on BIGINT are
    // two's-complement like the JVM's, and ((v−min)·65535) //
    // range is the same exact normalization as Spark's
    // floor(double-div) (gap ≥ 1/range ≫ rounding error).
    QuerySpec("zord", LayoutOps.zorderKeys _,
      s"""WITH o AS (SELECT o_orderkey, o_custkey AS cx,
            (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS cy
          FROM orders),
          st AS (SELECT MIN(cx) AS cxmin, MAX(cx) AS cxmax,
                        MIN(cy) AS cymin, MAX(cy) AS cymax FROM o),
          z AS (SELECT o_orderkey,
                  ((cx - cxmin) * 65535) // greatest(cxmax - cxmin, 1) AS zx,
                  ((cy - cymin) * 65535) // greatest(cymax - cymin, 1) AS zy
                FROM o, st)
          SELECT o_orderkey, zx, zy,
                 ${LayoutOps.zValueSql("zx", "zy")} AS zval
          FROM z ORDER BY o_orderkey""".stripMargin),
    // the oracle joins the RAW parquet tables — result preservation of
    // the bucketed layout is exactly what the hash checks.
    // bucketed_no_exchange is computed Spark-side from the planned
    // join (TRUE only for an SMJ with zero Exchanges); the oracle
    // expects the claim to hold.
    QuerySpec("bktj", LayoutOps.bucketedJoin _,
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         TRUE AS bucketed_no_exchange
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // the oracle computes the plain filtered join — result
    // preservation under runtime bloom pruning is exactly what the
    // hash checks. bloom_injected is computed Spark-side from the
    // optimized plan (TRUE only if the bloom_filter_might_contain
    // probe was injected); the oracle expects the claim to hold.
    QuerySpec("rblm", LayoutOps.runtimeBloomJoin _,
      """SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         TRUE AS bloom_injected
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'"""),
    // top-5 order revenues cross-joined with the global stats that
    // consume the SAME grouped frame; the oracle recomputes both from
    // scratch. exchange_reused is computed Spark-side (TRUE only if
    // the static plan carries a ReusedExchange node); the oracle
    // expects the claim to hold.
    QuerySpec("xreu", LayoutOps.exchangeReuse _,
      """WITH g AS (SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_rev
           FROM lineitem GROUP BY l_orderkey)
         SELECT t.l_orderkey, t.order_rev, s.n_orders, s.total_rev,
           TRUE AS exchange_reused
         FROM (SELECT * FROM g ORDER BY order_rev DESC, l_orderkey LIMIT 5) t
         CROSS JOIN (SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(order_rev AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
           FROM g) s
         ORDER BY t.order_rev DESC, t.l_orderkey"""),
    // the oracle recomputes the in-flight observed aggregates as a
    // dedicated counting query — observed side-channel ≡
    // declarative result.
    QuerySpec("obs", PipelineOps.observedMetrics _,
      """SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_empty,
         MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents"""),
  ))

  /** Fails on the two mistakes a map literal hides: a key declared
    * twice (the later row would silently win) and a blank oracle.
    */
  private def validated(rows: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = rows.groupBy(_.key).collect { case (k, rs) if rs.size > 1 => k }
    require(dups.isEmpty,
      s"registry keys declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    val blank = rows.collect { case r if r.oracle.trim.isEmpty => r.key }
    require(blank.isEmpty, s"registry keys with blank oracle SQL: ${blank.mkString(", ")}")
    rows
  }

  /** Each key's query over a scale-factor directory. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.map(s => s.key -> s.fn).toMap

  /** Each key's DuckDB oracle SQL, for the driver's hash-compare gate. */
  lazy val oracleSql: Map[String, String] =
    Registry.map(s => s.key -> s.oracle).toMap

  // ---- programmatic oracle fragments (keep Spark & SQL in lockstep) --

  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

  private val shinglesSql =
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
        s AS (SELECT doc_id, lang,
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
              FROM t WHERE len(toks) >= 3)"""

  private val simhashSql: String = {
    val votes = (0 until DedupOps.SimhashBits)
      .map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS v$b").mkString(", ")
    val recompose = (0 until DedupOps.SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        hh AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tk),
        vv AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($recompose AS BIGINT) AS simhash FROM vv)"""
  }

  private val minhashSql: String = {
    val rows = DedupOps.MinhashSeeds / DedupOps.MinhashBands
    val mins = (0 until DedupOps.MinhashSeeds)
      .map(s => s"min(md5('$s' || '|' || shingle)) AS h$s").mkString(", ")
    val bands = (0 until DedupOps.MinhashBands).map { bd =>
      val hs = (0 until rows).map(r => s"h${bd * rows + r}").mkString(" || ")
      s"SELECT doc_id, $bd AS band, md5($hs) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shinglesSql,
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        sig AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
        bands AS ($bands),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)"""
  }

  /** MinHash candidates + exact-Jaccard verification as a `pairs` CTE
    * — shared by dedup_minhash_lsh and dedup_clusters so the cluster
    * oracle's edge set cannot drift from the pair oracle.
    */
  private val minhashPairsSql: String =
    s"""$minhashSql,
        pairs AS (SELECT doc_a, doc_b, jaccard FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                     len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
            FROM cand c
            JOIN s sa ON sa.doc_id = c.doc_a
            JOIN s sb ON sb.doc_id = c.doc_b) p
          WHERE jaccard >= 0.5)"""

  /** DedupOps.candidateGates oracle: recompute every candidate-stage
    * pair count independently — tokenHash-ordered PPJoin (60-bit
    * md5-prefix longs, same derivation both engines), MinHash bands,
    * SimHash segments, sign-LSH bands — plus n·(n−1)/2 and the ≤5%
    * `subq` bound (factor shared from DedupOps.CandSubqFactor). CTE
    * names are prefixed/renamed to avoid colliding with the fragment
    * vals reused elsewhere.
    */
  private def candWorkSql: String = {
    val rowsPerBand = DedupOps.MinhashSeeds / DedupOps.MinhashBands
    val mins = (0 until DedupOps.MinhashSeeds)
      .map(s => s"min(md5('$s' || '|' || shingle)) AS h$s").mkString(", ")
    val mbands = (0 until DedupOps.MinhashBands).map { bd =>
      val hs = (0 until rowsPerBand).map(r => s"h${bd * rowsPerBand + r}").mkString(" || ")
      s"SELECT doc_id, $bd AS band, md5($hs) AS bh FROM msig"
    }.mkString(" UNION ALL ")
    val votes = (0 until DedupOps.SimhashBits)
      .map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS v$b").mkString(", ")
    val recompose = (0 until DedupOps.SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val segBits = DedupOps.SimhashBits / DedupOps.SimhashSegments
    val segMask = (1L << segBits) - 1
    val segs = (0 until DedupOps.SimhashSegments)
      .map(sg => s"SELECT doc_id, $sg AS seg, (simhash >> ${sg * segBits}) & $segMask AS sv FROM ssig")
      .mkString(" UNION ALL ")
    val ebands = (0 until EmbeddingOps.NeardupBands).map { t =>
      val bucket = (0 until EmbeddingOps.NeardupBandBits).map { i =>
        s"CASE WHEN v[${t * EmbeddingOps.NeardupBandBits + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS band, CAST($bucket AS BIGINT) AS bh FROM c"
    }.mkString(" UNION ALL ")
    val f = DedupOps.CandSubqFactor
    s"""$shinglesSql,
        exj AS (SELECT doc_id, lang, len(sh) AS n,
                       unnest(list_transform(sh, x ->
                         CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT))) AS s
                FROM s),
        dfq AS (SELECT lang, s, COUNT(*) AS df FROM exj
                GROUP BY 1, 2 HAVING COUNT(*) > 1),
        pre AS (SELECT * FROM (
            SELECT exj.lang, exj.s, exj.doc_id, exj.n,
                   row_number() OVER (PARTITION BY exj.doc_id
                                      ORDER BY coalesce(dfq.df, 1), exj.s) AS rk
            FROM exj LEFT JOIN dfq ON dfq.lang = exj.lang AND dfq.s = exj.s) z
          WHERE rk <= n // 2 + 1),
        candj AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                         COUNT(*) AS cp, MAX(a.rk) AS i2, MAX(b.rk) AS j2
                  FROM pre a JOIN pre b
                    ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2, 3, 4
                  HAVING 2 * least(na, nb) >= greatest(na, nb)
                     AND cp + least(na - i2, nb - j2) >= (na + nb + 2) // 3),
        mex AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        msig AS (SELECT doc_id, $mins FROM mex GROUP BY doc_id),
        mbands AS ($mbands),
        candm AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM mbands x JOIN mbands y
                    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
        stk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        shh AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM stk),
        svv AS (SELECT doc_id, $votes FROM shh GROUP BY doc_id),
        ssig AS (SELECT doc_id, CAST($recompose AS BIGINT) AS simhash FROM svv),
        blk AS ($segs),
        cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM blk a JOIN blk b
                    ON a.seg = b.seg AND a.sv = b.sv AND a.doc_id < b.doc_id),
        c AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        ebands AS ($ebands),
        cande AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
                  FROM ebands x JOIN ebands y
                    ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
        gates AS (
          SELECT 'jaccard' AS algo, (SELECT COUNT(*) FROM s) AS n_items,
                 (SELECT COUNT(*) FROM candj) AS n_cand
          UNION ALL SELECT 'minhash', (SELECT COUNT(*) FROM s),
                 (SELECT COUNT(*) FROM candm)
          UNION ALL SELECT 'simhash', (SELECT COUNT(*) FROM ssig),
                 (SELECT COUNT(*) FROM cands)
          UNION ALL SELECT 'neardup', (SELECT COUNT(*) FROM c),
                 (SELECT COUNT(*) FROM cande))
        SELECT algo, n_items, n_cand,
               n_items * (n_items - 1) // 2 AS max_pairs,
               n_cand * $f <= n_items * (n_items - 1) // 2 AS subq
        FROM gates ORDER BY algo"""
  }

  /** Corpus CTE chains for the ANN oracles — each must end by
    * defining `c(vec_id, v)`. RAW: the embeddings table as doubles.
    * CLUSTERED: the deterministic planted-cluster view
    * (EmbeddingOps.clusteredCorpus — centroid + integer-hash jitter,
    * identical BIGINT-then-double arithmetic in both engines).
    */
  private val rawCorpusCtes: String =
    """c AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings)"""

  private val clusteredCorpusCtes: String =
    s"""emb0 AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
        cent0 AS (SELECT vec_id AS cid, v AS cv FROM emb0
               WHERE vec_id < ${EmbeddingOps.ClusterPlantedK}),
        c AS (SELECT b.vec_id,
                list_transform(range(1, len(ct.cv) + 1), i -> ct.cv[i] +
                  CAST(${EmbeddingOps.ClusterEps} AS DOUBLE) *
                  (CAST((b.vec_id * 1103515245 + i * 12345 + 54321) % 1048576 AS DOUBLE)
                   / CAST(1048576 AS DOUBLE) - CAST(0.5 AS DOUBLE))) AS v
              FROM emb0 b JOIN cent0 ct
                ON ct.cid = b.vec_id % ${EmbeddingOps.ClusterPlantedK})"""

  /** Brute-force ANN oracle body — shared by ann_brute, its
    * native-expression twin, and the recall gates' exact reference
    * sets.
    */
  private def bruteAnnSql(corpusCtes: String = rawCorpusCtes): String =
    s"""WITH $corpusCtes,
        q AS (SELECT vec_id AS query_id, v AS qv FROM c
              WHERE vec_id < ${EmbeddingOps.QueryCount}),
        sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(c.v) + 1), i -> q.qv[i] * c.v[i])) /
                 (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
                  sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos
               FROM c, q WHERE c.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
          FROM sc) r
        WHERE rank <= ${EmbeddingOps.TopK} ORDER BY query_id, rank"""

  /** Sign-LSH bucketed ANN oracle body — shared by ann_lsh and
    * the recall gates.
    */
  private def lshAnnSql(corpusCtes: String = rawCorpusCtes): String = {
    val bucket = (0 until 8)
      .map(i => s"CASE WHEN v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH $corpusCtes,
        cb AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM c),
        q AS (SELECT bucket, vec_id AS query_id, v AS qv FROM cb
              WHERE vec_id < ${EmbeddingOps.QueryCount}),
        sc AS (SELECT q.query_id, cb.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(cb.v) + 1), i -> q.qv[i] * cb.v[i])) /
                 (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
                  sqrt(list_sum(list_transform(range(1, len(cb.v) + 1), i -> cb.v[i] * cb.v[i])))) AS cos
               FROM cb JOIN q ON cb.bucket = q.bucket
               WHERE cb.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
          FROM sc) r
        WHERE rank <= ${EmbeddingOps.TopK} ORDER BY query_id, rank"""
  }

  /** The deterministic seed-sample centroid CTE (must bind `cents`). */
  private def seedCentCtes: String =
    s"""cents AS (SELECT vec_id AS cent_id, v AS cv FROM c
                  ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648,
                           vec_id
                  LIMIT ${EmbeddingOps.IvfCentroidK})"""

  /** Lloyd-trained centroid CTE chain (must bind `cents`): the seed
    * sample, then LloydIters unrolled spherical-k-means steps — each
    * is the cosine argmin assignment plus the exact-integer update
    * (per-dim 2²⁴-scaled unit-vector component sums, two IEEE
    * divisions at the end) that EmbeddingOps.lloydStep computes; the
    * double unnest zips positions with scaled components (the
    * lm_score oracle's established pattern).
    */
  private def trainedCentCtes: String = {
    val scale = s"${EmbeddingOps.LloydScale.toLong}.0"
    def assignCte(prev: String, out: String) =
      s"""$out AS (SELECT cell, v FROM (
             SELECT c.vec_id, c.v, ct.cent_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY
                 (list_sum(list_transform(range(1, len(c.v) + 1), i -> ct.cv[i] * c.v[i])) /
                  (sqrt(list_sum(list_transform(range(1, len(ct.cv) + 1), i -> ct.cv[i] * ct.cv[i]))) *
                   sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i]))))) DESC,
                 ct.cent_id) AS arank
             FROM c, $prev ct) WHERE arank = 1)"""
    def updateCtes(asg: String, out: String, n: Int) =
      s"""tx$n AS (SELECT cell,
                unnest(range(1, len(v) + 1)) AS i,
                unnest(list_transform(range(1, len(v) + 1), j ->
                  CAST(floor(v[j] / nrm * $scale) AS BIGINT))) AS xs
              FROM (SELECT cell, v,
                      sqrt(list_sum(list_transform(range(1, len(v) + 1), j -> v[j] * v[j]))) AS nrm
                    FROM $asg)),
          $out AS (SELECT cell AS cent_id,
                     list(CAST(s AS DOUBLE) / n / $scale ORDER BY i) AS cv
                   FROM (SELECT cell, i, CAST(SUM(xs) AS BIGINT) AS s,
                           COUNT(*) AS n
                         FROM tx$n GROUP BY cell, i)
                   GROUP BY cell)"""
    val steps = (1 to EmbeddingOps.LloydIters).map { n =>
      assignCte(s"tc${n - 1}", s"ta$n") + ",\n" + updateCtes(s"ta$n", s"tc$n", n)
    }.mkString(",\n")
    s"""tc0 AS (SELECT vec_id AS cent_id, v AS cv FROM c
               ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648,
                        vec_id
               LIMIT ${EmbeddingOps.IvfCentroidK}),
        $steps,
        cents AS (SELECT cent_id, cv FROM tc${EmbeddingOps.LloydIters})"""
  }

  /** Parameterized IVF oracle — single source for every nprobe,
    * corpus, and centroid variant so the SQL cannot drift from
    * EmbeddingOps.annIvfNprobeOn / annRecallTrained.
    */
  private def ivfSql(nprobe: Int, corpusCtes: String = rawCorpusCtes,
                     centCtes: String = seedCentCtes): String =
    s"""WITH $corpusCtes,
        $centCtes,
        rk AS (SELECT c.vec_id, c.v, ct.cent_id,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (list_sum(list_transform(range(1, len(c.v) + 1), i -> ct.cv[i] * c.v[i])) /
                    (sqrt(list_sum(list_transform(range(1, len(ct.cv) + 1), i -> ct.cv[i] * ct.cv[i]))) *
                     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i]))))) DESC,
                   ct.cent_id) AS arank
               FROM c, cents ct),
        asg AS (SELECT vec_id, v, cent_id AS cell FROM rk WHERE arank = 1),
        q AS (SELECT cent_id AS cell, vec_id AS query_id, v AS qv FROM rk
              WHERE arank <= $nprobe AND vec_id < ${EmbeddingOps.QueryCount}),
        sc AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(a.v) + 1), i -> q.qv[i] * a.v[i])) /
                 (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
                  sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))) AS cos
               FROM asg a JOIN q ON a.cell = q.cell
               WHERE a.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
          FROM sc) r
        WHERE rank <= ${EmbeddingOps.TopK} ORDER BY query_id, rank"""

  /** Recall-gate oracle, parameterized by corpus — each variant's full
    * oracle body is inlined as a subquery (DuckDB allows a WITH inside
    * a parenthesized FROM), so the gate cannot drift from the
    * per-variant oracles. `extraCols` appends gate columns (floors +
    * literal-TRUE booleans) for the clustered variant.
    */
  private def annRecallSql(corpusCtes: String, extraCols: String = ""): String = {
    def hits(name: String, sub: String) =
      s"""SELECT '$name' AS method, CAST(count(*) AS BIGINT) AS n_hits
          FROM ($sub) a JOIN brute b
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"""
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM (${bruteAnnSql(corpusCtes)})),
        h AS (${hits("ivf_p1", ivfSql(1, corpusCtes))}
              UNION ALL ${hits("ivf_p2", ivfSql(2, corpusCtes))}
              UNION ALL ${hits("lsh_bucket", lshAnnSql(corpusCtes))}),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute)
        SELECT method, n_hits, n_brute,
               CAST(n_hits AS DOUBLE) / n_brute AS recall$extraCols
        FROM h, d WHERE n_brute > 0 ORDER BY method"""
  }

  /** Trained-quantizer recall oracle: brute reference + the two
    * trained-IVF probe settings, floors from the same constants as the
    * operator, literal-TRUE gate booleans.
    */
  private def annRecallTrainedSql(corpusCtes: String): String = {
    val floorCase = EmbeddingOps.TrainedRecallFloors.toSeq.sortBy(_._1)
      .map { case (m, f) => s"WHEN method = '$m' THEN CAST($f AS DOUBLE)" }
      .mkString(" ")
    def hits(name: String, sub: String) =
      s"""SELECT '$name' AS method, CAST(count(*) AS BIGINT) AS n_hits
          FROM ($sub) a JOIN brute b
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"""
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM (${bruteAnnSql(corpusCtes)})),
        h AS (${hits("ivf_t1", ivfSql(1, corpusCtes, trainedCentCtes))}
              UNION ALL ${hits("ivf_t2", ivfSql(2, corpusCtes, trainedCentCtes))}),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute)
        SELECT method, n_hits, n_brute,
               CAST(n_hits AS DOUBLE) / n_brute AS recall,
               CASE $floorCase END AS recall_floor,
               TRUE AS recall_ok
        FROM h, d WHERE n_brute > 0 ORDER BY method"""
  }

  /** IVF-PQ recall oracle — replicates EmbeddingOps.annRecallPq over
    * the clustered corpus: coarse seed-centroid assignment with
    * residuals, the seed-residual codebook, L2 min-id encoding, ADC
    * cosine against the reconstruction (per-sub-space terms folded in
    * j ORDER — list_sum over an ORDER BY j list, matching the Spark
    * side's sort-collect fold; a bare SUM's accumulation order is
    * engine-dependent), top-k, recall vs brute, and the literal floor
    * + compression claims.
    */
  /** The seed codebook CTE (must bind `cb`): residual sub-vectors of
    * the first PqCodebookK corpus vectors.
    */
  private def pqSeedCbCte: String = {
    val m = EmbeddingOps.PqSubspaces
    val sub = 64 / m
    s"""cb AS (SELECT vec_id AS code, unnest(range(0, $m)) AS j,
                 unnest(list_transform(range(0, $m),
                   jj -> r[jj*$sub+1 : jj*$sub+$sub])) AS sv
               FROM asg WHERE vec_id < ${EmbeddingOps.PqCodebookK})"""
  }

  /** Lloyd-TRAINED codebook CTE chain (must bind `cb`): the seed
    * codebook, then PqLloydIters unrolled per-sub-space k-means steps —
    * assignment is the exact encoding law (L2 min-id over qcb entries),
    * the update is the exact-integer mean (2²⁴-scaled floored longs,
    * two IEEE divisions) EmbeddingOps.pqLloydStep computes; the same
    * unroll device as [[trainedCentCtes]].
    */
  private def pqTrainedCbCtes: String = {
    val m = EmbeddingOps.PqSubspaces
    val sub = 64 / m
    val scale = s"${EmbeddingOps.LloydScale.toLong}.0"
    val rounds = (1 to EmbeddingOps.PqLloydIters).map { n =>
      s"""qa$n AS (SELECT j, code, rv FROM (
             SELECT r.vec_id, r.j, r.rv, cb.code,
               row_number() OVER (PARTITION BY r.vec_id, r.j ORDER BY
                 list_sum(list_transform(range(1, $sub + 1),
                   i -> (r.rv[i] - cb.sv[i]) * (r.rv[i] - cb.sv[i]))),
                 cb.code) AS rnk
             FROM rsub r JOIN qcb${n - 1} cb ON cb.j = r.j) WHERE rnk = 1),
          qx$n AS (SELECT j, code, unnest(range(1, $sub + 1)) AS i,
                     unnest(list_transform(range(1, $sub + 1),
                       ii -> CAST(floor(rv[ii] * $scale) AS BIGINT))) AS x
                   FROM qa$n),
          qcb$n AS (SELECT code, j,
                      list(CAST(s AS DOUBLE) / n_ / $scale ORDER BY i) AS sv
                    FROM (SELECT j, code, i, CAST(SUM(x) AS BIGINT) AS s,
                            COUNT(*) AS n_
                          FROM qx$n GROUP BY j, code, i)
                    GROUP BY code, j)"""
    }.mkString(",\n")
    s"""qcb0 AS (SELECT vec_id AS code, unnest(range(0, $m)) AS j,
                   unnest(list_transform(range(0, $m),
                     jj -> r[jj*$sub+1 : jj*$sub+$sub])) AS sv
                 FROM asg WHERE vec_id < ${EmbeddingOps.PqCodebookK}),
        rsub AS (SELECT vec_id, unnest(range(0, $m)) AS j,
                   unnest(list_transform(range(0, $m),
                     jj -> r[jj*$sub+1 : jj*$sub+$sub])) AS rv
                 FROM asg),
        $rounds,
        cb AS (SELECT code, j, sv FROM qcb${EmbeddingOps.PqLloydIters})"""
  }

  /** Shared IVF-PQ oracle prefix — corpus → coarse assignment →
    * residuals → the given codebook chain → encoding → ADC scoring →
    * ranking. Both PQ gates (seed `ivfpq`, trained `pqt`) compose it,
    * so the encoding law and the j-ordered fold live once.
    */
  private def pqAdcCtes(corpusCtes: String, cbCtes: String,
      centCtes: String = seedCentCtes): String = {
    val m = EmbeddingOps.PqSubspaces
    val sub = 64 / m
    s"""$corpusCtes,
        $centCtes,
        rk AS (SELECT c.vec_id, c.v, ct.cent_id, ct.cv,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (list_sum(list_transform(range(1, len(c.v) + 1), i -> ct.cv[i] * c.v[i])) /
                    (sqrt(list_sum(list_transform(range(1, len(ct.cv) + 1), i -> ct.cv[i] * ct.cv[i]))) *
                     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i]))))) DESC,
                   ct.cent_id) AS arank
               FROM c, cents ct),
        asg AS (SELECT vec_id, cent_id AS cell,
                  list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS r
                FROM rk WHERE arank = 1),
        $cbCtes,
        codes AS (SELECT vec_id, cell, j, code FROM (
            SELECT a.vec_id, a.cell, cb.j, cb.code,
              row_number() OVER (PARTITION BY a.vec_id, cb.j ORDER BY
                list_sum(list_transform(range(1, $sub + 1),
                  i -> (a.r[(cb.j*$sub)+i] - cb.sv[i]) * (a.r[(cb.j*$sub)+i] - cb.sv[i]))),
                cb.code) AS rnk
            FROM asg a, cb) WHERE rnk = 1),
        q AS (SELECT cent_id AS cell, vec_id AS query_id FROM rk
              WHERE arank <= 2 AND vec_id < ${EmbeddingOps.QueryCount}),
        qsub AS (SELECT vec_id AS query_id,
                   sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS qn,
                   unnest(range(0, $m)) AS j,
                   unnest(list_transform(range(0, $m),
                     jj -> v[jj*$sub+1 : jj*$sub+$sub])) AS qvj
                 FROM rk WHERE arank = 1 AND vec_id < ${EmbeddingOps.QueryCount}),
        centsub AS (SELECT cent_id AS cell, unnest(range(0, $m)) AS j,
                      unnest(list_transform(range(0, $m),
                        jj -> cv[jj*$sub+1 : jj*$sub+$sub])) AS ccv
                    FROM cents),
        parts AS (SELECT q.query_id, cd.vec_id, cd.j, qs.qn,
                    list_sum(list_transform(range(1, $sub + 1),
                      i -> qs.qvj[i] * (cs.ccv[i] + cb.sv[i]))) AS nj,
                    list_sum(list_transform(range(1, $sub + 1),
                      i -> (cs.ccv[i] + cb.sv[i]) * (cs.ccv[i] + cb.sv[i]))) AS dj
                  FROM q JOIN codes cd ON cd.cell = q.cell AND cd.vec_id <> q.query_id
                  JOIN cb ON cb.j = cd.j AND cb.code = cd.code
                  JOIN centsub cs ON cs.cell = cd.cell AND cs.j = cd.j
                  JOIN qsub qs ON qs.query_id = q.query_id AND qs.j = cd.j),
        sc AS (SELECT query_id, vec_id AS neighbor_id,
                 list_sum(list(nj ORDER BY j)) /
                 (any_value(qn) * sqrt(list_sum(list(dj ORDER BY j)))) AS cos
               FROM parts GROUP BY 1, 2),
        ranked AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
                   FROM sc),
        pq AS (SELECT query_id, neighbor_id FROM ranked
               WHERE rank <= ${EmbeddingOps.TopK})"""
  }

  /** IVF-PQ recall oracle — replicates EmbeddingOps.annRecallPq over
    * the clustered corpus: [[pqAdcCtes]] with the SEED codebook, the
    * exact re-rank of the ADC top-PqShortlist, recall vs brute, and
    * the literal floor + compression claims.
    */
  private def ivfPqSql(corpusCtes: String): String = {
    val m = EmbeddingOps.PqSubspaces
    val k = EmbeddingOps.PqCodebookK
    val bytesPq = (m * (64 - java.lang.Long.numberOfLeadingZeros(k - 1L).toInt) + 7) / 8
    s"""WITH ${pqAdcCtes(corpusCtes, pqSeedCbCte)},
        sl AS (SELECT query_id, neighbor_id FROM ranked
               WHERE rank <= ${EmbeddingOps.PqShortlist}),
        rrsc AS (SELECT sl.query_id, sl.neighbor_id,
                   (list_sum(list_transform(range(1, len(x.v) + 1), i -> qq.qv[i] * x.v[i])) /
                    (sqrt(list_sum(list_transform(range(1, len(qq.qv) + 1), i -> qq.qv[i] * qq.qv[i]))) *
                     sqrt(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * x.v[i]))))) AS cos
                 FROM sl JOIN c x ON x.vec_id = sl.neighbor_id
                 JOIN (SELECT vec_id AS query_id, v AS qv FROM c) qq
                   ON qq.query_id = sl.query_id),
        rr AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank
                FROM rrsc) WHERE rank <= ${EmbeddingOps.TopK}),
        brute AS (SELECT query_id, neighbor_id FROM (${bruteAnnSql(corpusCtes)})),
        h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
              FROM pq a JOIN brute b
                ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        h2 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits_rr
               FROM rr a JOIN brute b
                 ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
        braw AS (SELECT CAST(max(len(v)) * 4 AS BIGINT) AS bytes_raw FROM c)
        SELECT 'ivf_pq' AS method, n_hits, n_hits_rr, n_brute, bytes_raw,
               CAST(n_hits AS DOUBLE) / n_brute AS recall,
               CAST(${EmbeddingOps.PqRecallFloor} AS DOUBLE) AS recall_floor,
               TRUE AS recall_ok,
               CAST(n_hits_rr AS DOUBLE) / n_brute AS recall_rr,
               CAST(${EmbeddingOps.PqRerankFloor} AS DOUBLE) AS rr_floor,
               TRUE AS rr_ok,
               CAST($bytesPq AS BIGINT) AS bytes_pq,
               CAST(bytes_raw AS DOUBLE) / $bytesPq AS compression
        FROM h, h2, d, braw WHERE n_brute > 0"""
  }

  /** Trained-codebook IVF-PQ oracle (`pqt`) — [[pqAdcCtes]] with the
    * Lloyd-trained codebook chain, recall vs brute, floor +
    * compression claims; no re-rank tier (raw-vector re-rank would
    * mask codebook quality — this gate pins exactly that).
    */
  private def ivfPqtSql(corpusCtes: String): String = {
    val m = EmbeddingOps.PqSubspaces
    val k = EmbeddingOps.PqCodebookK
    val bytesPq = (m * (64 - java.lang.Long.numberOfLeadingZeros(k - 1L).toInt) + 7) / 8
    s"""WITH ${pqAdcCtes(corpusCtes, pqTrainedCbCtes)},
        brute AS (SELECT query_id, neighbor_id FROM (${bruteAnnSql(corpusCtes)})),
        h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
              FROM pq a JOIN brute b
                ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
        braw AS (SELECT CAST(max(len(v)) * 4 AS BIGINT) AS bytes_raw FROM c)
        SELECT 'ivf_pqt' AS method, n_hits, n_brute, bytes_raw,
               CAST(n_hits AS DOUBLE) / n_brute AS recall,
               CAST(${EmbeddingOps.PqtRecallFloor} AS DOUBLE) AS recall_floor,
               TRUE AS recall_ok,
               CAST($bytesPq AS BIGINT) AS bytes_pq,
               CAST(bytes_raw AS DOUBLE) / $bytesPq AS compression
        FROM h, d, braw WHERE n_brute > 0"""
  }

  /** Fully-trained IVF-PQ oracle (`pqf`) — [[pqAdcCtes]] with BOTH
    * tiers trained: the Lloyd coarse-centroid chain in place of the
    * seed sample AND the Lloyd codebook chain (whose residuals now
    * come from the trained assignment, because `asg` derives from the
    * trained `cents`). Same recall/floor/compression claims as `pqt`.
    */
  private def ivfPqfSql(corpusCtes: String): String = {
    val m = EmbeddingOps.PqSubspaces
    val k = EmbeddingOps.PqCodebookK
    val bytesPq = (m * (64 - java.lang.Long.numberOfLeadingZeros(k - 1L).toInt) + 7) / 8
    s"""WITH ${pqAdcCtes(corpusCtes, pqTrainedCbCtes, trainedCentCtes)},
        brute AS (SELECT query_id, neighbor_id FROM (${bruteAnnSql(corpusCtes)})),
        h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
              FROM pq a JOIN brute b
                ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
        braw AS (SELECT CAST(max(len(v)) * 4 AS BIGINT) AS bytes_raw FROM c)
        SELECT 'ivf_pqf' AS method, n_hits, n_brute, bytes_raw,
               CAST(n_hits AS DOUBLE) / n_brute AS recall,
               CAST(${EmbeddingOps.PqfRecallFloor} AS DOUBLE) AS recall_floor,
               TRUE AS recall_ok,
               CAST($bytesPq AS BIGINT) AS bytes_pq,
               CAST(bytes_raw AS DOUBLE) / $bytesPq AS compression
        FROM h, d, braw WHERE n_brute > 0"""
  }

  /** Shared CTE chain for the SemDeDup oracles (`sdd`/`sinc`): the
    * clustered corpus, the Lloyd-trained centroid chain, the fused
    * cell assignment with the centroid cosine RETAINED
    * (EmbeddingOps.semanticMembers' exact op chains — index-order
    * dots, hoisted norms, desc-cosine/asc-id tie-break), and the
    * within-cell verified pair set at SemDedupTau. Binds `sasg` and
    * `sp`.
    */
  private def semanticPairCtes(corpusCtes: String): String =
    s"""$corpusCtes,
        $trainedCentCtes,
        snb AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS nrm
               FROM c),
        scn AS (SELECT cent_id, cv,
                 sqrt(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i]))) AS cnrm
               FROM cents),
        sasg AS (SELECT vec_id, v, nrm, cell, ccos FROM (
            SELECT snb.vec_id, snb.v, snb.nrm, scn.cent_id AS cell,
              list_sum(list_transform(range(1, len(snb.v) + 1), i -> scn.cv[i] * snb.v[i]))
                / (scn.cnrm * snb.nrm) AS ccos,
              row_number() OVER (PARTITION BY snb.vec_id ORDER BY
                (list_sum(list_transform(range(1, len(snb.v) + 1), i -> scn.cv[i] * snb.v[i]))
                 / (scn.cnrm * snb.nrm)) DESC, scn.cent_id) AS arank
            FROM snb, scn) WHERE arank = 1),
        sp AS (SELECT vec_a, vec_b, cos FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                / (a.nrm * b.nrm) AS cos
            FROM sasg a JOIN sasg b
              ON a.cell = b.cell AND a.vec_id < b.vec_id) p
          WHERE cos >= ${EmbeddingOps.SemDedupTau})"""

  /** EmbeddingOps.semanticDedup's oracle — the SemDeDup verdict table:
    * within-cell pairs, recursive-CTE connected components (min
    * reachable id ≡ the propagateLabels fixpoint), and the
    * keep-farthest-from-centroid election (ccos ASC, vec_id) per
    * semantic cluster.
    */
  private def semanticDedupSql(corpusCtes: String): String =
    s"""WITH RECURSIVE ${semanticPairCtes(corpusCtes)},
        se AS (SELECT vec_a AS src, vec_b AS dst FROM sp
               UNION ALL SELECT vec_b, vec_a FROM sp),
        sn AS (SELECT DISTINCT src AS id FROM se),
        sr AS (SELECT id, id AS lbl FROM sn
               UNION
               SELECT se.dst AS id, sr.lbl FROM sr JOIN se ON se.src = sr.id),
        scl AS (SELECT id, min(lbl) AS lbl FROM sr GROUP BY 1),
        sa AS (SELECT sasg.vec_id, sasg.cell, sasg.ccos,
                 COALESCE(scl.lbl, sasg.vec_id) AS cluster
               FROM sasg LEFT JOIN scl ON sasg.vec_id = scl.id)
        SELECT vec_id, cell, ccos, cluster,
          (row_number() OVER wq = 1) AS keep,
          first_value(vec_id) OVER
            (PARTITION BY cluster ORDER BY ccos ASC, vec_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept_vec,
          count(*) OVER (PARTITION BY cluster) AS n_members
        FROM sa
        WINDOW wq AS (PARTITION BY cluster ORDER BY ccos ASC, vec_id)
        ORDER BY vec_id"""

  /** EmbeddingOps.semanticRefresh's oracle — the incremental merge
    * must equal the FROM-SCRATCH SemDeDup verdict table, with
    * `reelected` derived INDEPENDENTLY (a cluster is touched iff it
    * contains a delta-pair node), so the hash gate pins that the
    * incremental path re-elected exactly the touched clusters and
    * carried every other row bit-identical from the standing state
    * (the linc contract for the semantic tier).
    */
  private def semanticRefreshSql(corpusCtes: String): String =
    s"""WITH RECURSIVE ${semanticPairCtes(corpusCtes)},
        se AS (SELECT vec_a AS src, vec_b AS dst FROM sp
               UNION ALL SELECT vec_b, vec_a FROM sp),
        sn AS (SELECT DISTINCT src AS id FROM se),
        sr AS (SELECT id, id AS lbl FROM sn
               UNION
               SELECT se.dst AS id, sr.lbl FROM sr JOIN se ON se.src = sr.id),
        scl AS (SELECT id, min(lbl) AS lbl FROM sr GROUP BY 1),
        dp AS (SELECT vec_a AS d FROM sp WHERE vec_a % 5 = 0 OR vec_b % 5 = 0
               UNION
               SELECT vec_b FROM sp WHERE vec_a % 5 = 0 OR vec_b % 5 = 0),
        sa AS (SELECT sasg.vec_id, sasg.cell, sasg.ccos,
                 COALESCE(scl.lbl, sasg.vec_id) AS cluster
               FROM sasg LEFT JOIN scl ON sasg.vec_id = scl.id),
        tc AS (SELECT DISTINCT sa.cluster FROM sa JOIN dp ON sa.vec_id = dp.d)
        SELECT vec_id, cell, ccos, cluster,
          (row_number() OVER wq = 1) AS keep,
          first_value(vec_id) OVER
            (PARTITION BY cluster ORDER BY ccos ASC, vec_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept_vec,
          count(*) OVER (PARTITION BY cluster) AS n_members,
          (sa.cluster IN (SELECT cluster FROM tc)) AS reelected
        FROM sa
        WINDOW wq AS (PARTITION BY cluster ORDER BY ccos ASC, vec_id)
        ORDER BY vec_id"""

  /** EmbeddingOps.semanticDedupDelta's oracle — the FULL within-cell
    * pair query restricted to delta-touching pairs: the Spark side
    * does only |delta|·cell-size probe work, so the hash gate pins
    * probe ≡ full restriction (the dinc/pinc incremental theorem for
    * the semantic tier).
    */
  private def semanticDeltaSql(corpusCtes: String): String =
    s"""WITH ${semanticPairCtes(corpusCtes)}
        SELECT vec_a, vec_b, cos FROM sp
        WHERE vec_a % 5 = 0 OR vec_b % 5 = 0
        ORDER BY vec_a, vec_b"""

  /** EmbeddingOps.pqCodesIncremental's oracle — deliberately the FULL
    * re-encode path: standing centroids/codebook from the BASE corpus
    * (vec_id % 5 <> 0), EVERY vector assigned and encoded against
    * them, then restricted to the delta. The Spark side does only
    * delta-scale work, so the hash gate pins the incremental
    * maintenance theorem: append-path codes ≡ full re-encode.
    */
  private def pqIncSql(corpusCtes: String): String = {
    val m = EmbeddingOps.PqSubspaces
    val sub = 64 / m
    s"""WITH $corpusCtes,
        bsel AS (SELECT vec_id, v FROM c WHERE vec_id % 5 <> 0),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM bsel
                  ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648,
                           vec_id
                  LIMIT ${EmbeddingOps.IvfCentroidK}),
        rk AS (SELECT c.vec_id, c.v, ct.cent_id, ct.cv,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (list_sum(list_transform(range(1, len(c.v) + 1), i -> ct.cv[i] * c.v[i])) /
                    (sqrt(list_sum(list_transform(range(1, len(ct.cv) + 1), i -> ct.cv[i] * ct.cv[i]))) *
                     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i]))))) DESC,
                   ct.cent_id) AS arank
               FROM c, cents ct),
        asg AS (SELECT vec_id, cent_id AS cell,
                  list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS r
                FROM rk WHERE arank = 1),
        cb AS (SELECT vec_id AS code, unnest(range(0, $m)) AS j,
                 unnest(list_transform(range(0, $m),
                   jj -> r[jj*$sub+1 : jj*$sub+$sub])) AS sv
               FROM asg WHERE vec_id < ${EmbeddingOps.PqCodebookK} AND vec_id % 5 <> 0),
        codes AS (SELECT vec_id, cell, j, code FROM (
            SELECT a.vec_id, a.cell, cb.j, cb.code,
              row_number() OVER (PARTITION BY a.vec_id, cb.j ORDER BY
                list_sum(list_transform(range(1, $sub + 1),
                  i -> (a.r[(cb.j*$sub)+i] - cb.sv[i]) * (a.r[(cb.j*$sub)+i] - cb.sv[i]))),
                cb.code) AS rnk
            FROM asg a, cb) WHERE rnk = 1)
        SELECT vec_id, cell, j, code FROM codes WHERE vec_id % 5 = 0
        ORDER BY vec_id, j"""
  }

  /** TextOps.bpeTrain's oracle: the [[TextOps.BpeMergeRounds]] merge
    * rounds unrolled as chained CTEs (w0 → p1/t1/w1 → … — the same
    * fixed-iteration unroll device as `ivft`). Each round's top pair
    * is deterministic (count DESC, lexicographic — binary collation
    * agrees on ASCII), counts are exact BIGINTs (sum cast down from
    * DuckDB's HUGEINT), and the merge is the SAME literal
    * `replace(' a  b ' → ' ab ')` both engines scan left-to-right
    * non-overlapping (greedy BPE order — see bpeTrain's scaladoc for
    * why the double-space encoding is what makes adjacency exact).
    */
  /** The winnowing selection CTEs (bind `sel(doc_id, wm)` — packed
    * hash·2²⁰+pos minima, full windows only, distinct): shared by the
    * fingerprint gate (`wfp`) and the attribution gate (`wsim`) so the
    * selection law lives once.
    */
  private def winnowCtes: String = {
    val (k, w) = (TextOps.WinnowK, TextOps.WinnowW)
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        g AS (SELECT doc_id,
                unnest(range(0, len(toks) - $k + 1)) AS pos,
                unnest(list_transform(range(0, len(toks) - $k + 1),
                  i -> array_to_string(toks[i+1:i+$k], ' '))) AS gr
              FROM t WHERE len(toks) >= $k),
        ky AS (SELECT doc_id, pos,
                 CAST(('0x' || substring(md5(gr), 1, 10)) AS BIGINT) * 1048576
                   + pos AS key
               FROM g),
        wm AS (SELECT doc_id, pos,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wm,
                 count(*) OVER (PARTITION BY doc_id) AS n
               FROM ky),
        sel AS (SELECT DISTINCT doc_id, wm FROM wm WHERE pos <= n - $w)"""
  }

  /** The BPE training CTE chain — word counts, round-0 padded vocab,
    * then one p/t/w CTE triple per merge round (t$r = round r's learned
    * rule). Shared by the trainer's oracle (`bpet`) and the encoder's
    * (`bpenc`), so the learned table both gates replay is ONE text.
    * Each merge CTE (w$r here, e$r in the encoder) LEFT JOINs its t$r:
    * if training exhausts before BpeMergeRounds (fully-merged vocab —
    * the case bpeTrainOn guards), t$r is EMPTY and a cross join would
    * silently empty every later CTE while Spark returns real rows; the
    * LEFT JOIN passes the vocab through unchanged instead, matching
    * the exhausted trainer exactly.
    */
  private def bpeTrainCtes: String = {
    val mark = TextOps.BpeEndMark
    val rounds = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""p$r AS (SELECT pr[1] AS sym_a, pr[2] AS sym_b,
                    CAST(sum(cnt) AS BIGINT) AS pair_n
                  FROM (SELECT unnest(list_transform(range(1, len(syms)),
                          i -> [syms[i], syms[i+1]])) AS pr, cnt
                        FROM (SELECT string_split(trim(w), '  ') AS syms, cnt
                              FROM w${r - 1}))
                  GROUP BY 1, 2),
          t$r AS (SELECT sym_a, sym_b, pair_n FROM p$r
                  ORDER BY pair_n DESC, sym_a, sym_b LIMIT 1),
          w$r AS (SELECT CASE WHEN t.sym_a IS NULL THEN v.w
                    ELSE replace(v.w, ' ' || t.sym_a || '  ' || t.sym_b || ' ',
                                 ' ' || t.sym_a || t.sym_b || ' ') END AS w,
                    v.cnt
                  FROM w${r - 1} v LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    s"""wc AS (SELECT tok, count(*) AS cnt
               FROM (SELECT unnest($toksSql) AS tok FROM documents)
               GROUP BY 1),
        w0 AS (SELECT ' ' || array_to_string(
                 list_transform(range(1, length(tok) + 1), i -> tok[i:i]),
                 '  ') || '  $mark ' AS w, cnt FROM wc),
        $rounds"""
  }

  private def bpeTrainSql: String = {
    val union = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, sym_a, sym_b,
                 sym_a || sym_b AS merged, pair_n FROM t$r"""
    }.mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
        SELECT * FROM ($union) ORDER BY merge_rank"""
  }

  /** TextOps.bpeEncode's oracle: the training chain's learned rules
    * (t1..tN — the same CTE text `bpet` gates) replayed over every
    * document word in merge-rank order, then the per-doc counts with
    * textTokens' NULL/zero contract.
    */
  private def bpeEncodeSql: String = {
    val mark = TextOps.BpeEndMark
    val chain = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, s0,
                    CASE WHEN t.sym_a IS NULL THEN v.w
                      ELSE replace(v.w, ' ' || t.sym_a || '  ' || t.sym_b || ' ',
                              ' ' || t.sym_a || t.sym_b || ' ') END AS w
                  FROM e${r - 1} v LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
        dw AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        e0 AS (SELECT doc_id, CAST(length(tok) + 1 AS BIGINT) AS s0,
                 ' ' || array_to_string(
                   list_transform(range(1, length(tok) + 1), i -> tok[i:i]),
                   '  ') || '  $mark ' AS w
               FROM dw),
        $chain,
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_w,
                  CAST(sum(s0) AS BIGINT) AS n_s0,
                  CAST(sum(len(string_split(trim(w), '  '))) AS BIGINT) AS n_t
                FROM e${TextOps.BpeMergeRounds} GROUP BY 1)
        SELECT d.doc_id,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(a.n_w, 0) END AS n_words,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(a.n_s0, 0) END AS n_syms0,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(a.n_t, 0) END AS n_tokens
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        ORDER BY d.doc_id"""
  }

  /** TextOps.bpeTokenIds' oracle: the training chain's learned rules
    * replayed per word INSTANCE with word position carried, symbols
    * split with their in-word position, and the deterministic
    * vocabulary id law (alphabet chars + end-mark in binary order →
    * 0..A−1; merge rank r → A+r−1; min id per symbol string). The id
    * sequence is reassembled in (wpos, spos) order and compared as a
    * comma-joined string — the hash gate pins the full arrays.
    */
  /** The duplicated-span-removal oracle: the wext extent chain's
    * cuts applied to the higher doc of each pair, kept tokens
    * rejoined in position order. touchedOnly=false is `wct` (whole
    * corpus); touchedOnly=true is `wci` — the IDENTICAL law
    * restricted to the delta-touched set (endpoints of
    * delta-touching flagged pairs plus every arriving doc), which is
    * precisely the incremental operator's contract: delta cut ≡ full
    * cut restricted to touched docs.
    */
  /** QualityOps.ftqClassifier's oracle — the WHOLE training chain
    * unrolled: hashed integer-ratio features, the centroid-difference
    * init, and per round the batch-perceptron gradient, the exact
    * power-of-two weight update, and the accuracy-optimal threshold
    * re-pick (cumulative-window argmax, ties to the lowest
    * threshold). Every arithmetic step is either integer-exact
    * (feature DIV, gradient sums of integral doubles, threshold
    * counts) or the same IEEE chain both engines replay (index-order
    * score fold, power-of-two updates), so the gate pins TRAINING,
    * not just the verdict row.
    */
  /** The ftq TRAINING chain as CTE text with every name prefixed `p` —
    * shared by the standalone `ftq` oracle (p = "") and the gated
    * composite's `ftd` oracle (p = "q": the survivor/token CTEs it
    * composes with use `tt`/`tb`/`w0..wN` themselves), so the two
    * gates replay ONE training law by construction. Terminal CTEs a
    * consumer reads: `${p}sc<T>` (per-doc scores under the final
    * weights), `${p}th<T>` (the final threshold), plus `${p}sc0` /
    * `${p}th0` for the init twin.
    */
  private def ftqChainCtes(p: String): String = {
    val d = graft.operators.QualityOps.FtqBuckets
    val refs = graft.operators.QualityOps.FtqRefLexicon
      .map(w => s"'$w'").mkString(", ")
    val lr = graft.operators.QualityOps.FtqLr
    val scale = graft.operators.QualityOps.FtqScale
    def thetaCte(t: Int) = s"""
        ${p}dd$t AS (SELECT s, CAST(SUM(y) AS BIGINT) p,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) ng
                 FROM ${p}sc$t WHERE istrain GROUP BY s),
        ${p}cc$t AS (SELECT s AS th,
                   COALESCE(SUM(p) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) pb,
                   COALESCE(SUM(ng) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) nb
                 FROM ${p}dd$t
                 UNION ALL
                 SELECT max(s) + 1, sum(p), sum(ng) FROM ${p}dd$t),
        ${p}tot$t AS (SELECT SUM(p) totp FROM ${p}dd$t),
        ${p}th$t AS (SELECT th FROM ${p}cc$t, ${p}tot$t
                 ORDER BY (totp - pb + nb) DESC, th ASC LIMIT 1)"""
    def scoreCte(t: Int) = s"""
        ${p}sc$t AS MATERIALIZED (SELECT f.doc_id, f.y, f.istrain, f.fv,
                   CAST(floor(list_sum(list_transform(range(1, ${d + 1}),
                     i -> w.w[i] * f.fv[i]))) AS BIGINT) s
                 FROM ${p}fvv f, ${p}w$t w)"""
    val rounds = (1 to graft.operators.QualityOps.FtqRounds).map { t =>
      s"""${p}g$t AS (SELECT list(gs ORDER BY j) grad FROM (
                  SELECT j, CAST(sum(r * q) AS DOUBLE) gs FROM (
                    SELECT unnest(range(0, $d)) j, unnest(s.fv) r,
                           CAST(s.y - (CASE WHEN s.s >= th.th THEN 1 ELSE 0 END)
                             AS BIGINT) q
                    FROM ${p}sc${t - 1} s, ${p}th${t - 1} th WHERE s.istrain)
                  GROUP BY j)),
        ${p}w$t AS (SELECT list_transform(range(1, ${d + 1}),
                  i -> w.w[i] + g.grad[i] * $lr) w FROM ${p}w${t - 1} w, ${p}g$t g),${scoreCte(t)},${thetaCte(t)}"""
    }.mkString(",\n")
    s"""${p}tt AS (SELECT doc_id, $toksSql toks FROM documents
                    WHERE text IS NOT NULL),
        ${p}tb AS (SELECT doc_id, toks, len(toks) n,
                 len(list_filter(toks, x -> x IN ($refs))) hits
               FROM ${p}tt WHERE len(toks) > 0),
        ${p}fvv AS MATERIALIZED (SELECT doc_id,
                  CAST(hits * 4 >= n AS INT) y,
                  (doc_id % 4 <> 0) istrain,
                  list_transform(range(0, $d), j ->
                    CAST((len(list_filter(toks, x ->
                      CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % $d = j))
                      * $scale) // n AS DOUBLE)) fv
                FROM ${p}tb),
        ${p}n01 AS (SELECT CAST(SUM(y) AS BIGINT) n1,
                  CAST(COUNT(*) - SUM(y) AS BIGINT) n0
                FROM ${p}fvv WHERE istrain),
        ${p}c0 AS (SELECT j,
                 CAST(SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS DOUBLE) s1,
                 CAST(SUM(CASE WHEN y = 0 THEN r ELSE 0 END) AS DOUBLE) s0
               FROM (SELECT unnest(range(0, $d)) j, unnest(fv) r, y
                     FROM ${p}fvv WHERE istrain)
               GROUP BY j),
        ${p}w0 AS (SELECT list(s1 / n1 - s0 / n0 ORDER BY j) w FROM ${p}c0, ${p}n01),${scoreCte(0)},${thetaCte(0)},
        $rounds"""
  }

  private def ftqSql: String = {
    val floorV = graft.operators.QualityOps.FtqAccFloor
    val T = graft.operators.QualityOps.FtqRounds
    s"""WITH ${ftqChainCtes("")},
        fin AS (SELECT sc.y, sc.istrain,
                  (sc.s >= thf.th) = (sc.y = 1) ok,
                  (s0sc.s >= th00.th) = (sc.y = 1) ok0
                FROM sc$T sc, sc0 s0sc, th$T thf, th0 th00
                WHERE s0sc.doc_id = sc.doc_id)
        SELECT CASE WHEN istrain THEN 'train' ELSE 'test' END split,
               CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(CASE WHEN ok THEN 1 END) AS BIGINT) n_correct,
               CAST(COUNT(CASE WHEN ok THEN 1 END) AS DOUBLE) / COUNT(*) acc,
               CAST(COUNT(CASE WHEN ok0 THEN 1 END) AS DOUBLE) / COUNT(*) acc0,
               CAST(greatest(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END),
                 SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)) AS DOUBLE)
                 / COUNT(*) base_acc,
               CAST($floorV AS DOUBLE) acc_floor,
               CAST(COUNT(CASE WHEN ok THEN 1 END) AS DOUBLE) / COUNT(*)
                 >= $floorV floor_met,
               COUNT(CASE WHEN ok THEN 1 END) >
                 greatest(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)) beats_base,
               COUNT(CASE WHEN ok THEN 1 END) >=
                 COUNT(CASE WHEN ok0 THEN 1 END) trained_ge_init
        FROM fin GROUP BY 1 ORDER BY 1"""
  }

  private def winnowCutSql(touchedOnly: Boolean): String = {
    val (k, g) = (TextOps.WinnowK, TextOps.WinnowW)
    val touchedCtes = if (!touchedOnly) "" else s"""
          tpr AS (SELECT doc_a, doc_b FROM pr
                  WHERE doc_a % 5 = 0 OR doc_b % 5 = 0),
          tch AS (SELECT doc_a AS doc_id FROM tpr
                  UNION SELECT doc_b FROM tpr
                  UNION SELECT doc_id FROM documents WHERE doc_id % 5 = 0),"""
    val spine = if (touchedOnly) "documents JOIN tch USING (doc_id)"
      else "documents"
    s"""WITH $winnowCtes,
        fps AS (SELECT DISTINCT doc_id, CAST(wm >> 20 AS BIGINT) AS fp
                FROM sel),
        kk AS (SELECT doc_id, fp FROM (
                SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
                FROM fps) WHERE df <= ${TextOps.WinnowMaxDf}),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM kk a JOIN kk b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= ${TextOps.WinnowMinShared}),
        sl AS (SELECT s.doc_id, CAST(s.wm & 1048575 AS BIGINT) AS fpos,
                      CAST(s.wm >> 20 AS BIGINT) AS fp
               FROM sel s JOIN kk
                 ON kk.doc_id = s.doc_id AND kk.fp = CAST(s.wm >> 20 AS BIGINT)),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.fpos AS pa, b.fpos AS pb
              FROM sl a JOIN sl b ON a.fp = b.fp AND a.doc_id < b.doc_id
              JOIN pr ON pr.doc_a = a.doc_id AND pr.doc_b = b.doc_id),
        fl AS (SELECT *, CASE WHEN ppa IS NULL
                 OR pa <= ppa OR pa - ppa > $g
                 OR pb <= ppb OR pb - ppb > $g THEN 1 ELSE 0 END AS brk
               FROM (SELECT *, lag(pa) OVER wo AS ppa, lag(pb) OVER wo AS ppb
                     FROM m
                     WINDOW wo AS (PARTITION BY doc_a, doc_b ORDER BY pa, pb))),
        rn AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY doc_a, doc_b
                 ORDER BY pa, pb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS run
               FROM fl),
        ex AS (SELECT doc_a, doc_b, run,
                 MIN(pb) AS b_start, MAX(pb) + ${k - 1} AS b_end,
                 CAST(COUNT(*) AS BIGINT) AS n_fp
               FROM rn GROUP BY 1, 2, 3),
        cuts AS (SELECT doc_b AS doc_id, b_start, b_end FROM ex
                 WHERE n_fp >= 2),$touchedCtes
        tt AS (SELECT doc_id, $toksSql AS toks FROM $spine),
        tk AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
                      unnest(toks) AS tok
               FROM tt),
        keepk AS (SELECT tk.* FROM tk
                  WHERE NOT EXISTS (SELECT 1 FROM cuts c
                    WHERE c.doc_id = tk.doc_id
                      AND tk.pos BETWEEN c.b_start AND c.b_end)),
        ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                      string_agg(tok, ' ' ORDER BY pos) AS cleaned
               FROM keepk GROUP BY doc_id)
        SELECT tt.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(toks) - COALESCE(ag.n_kept, 0) AS BIGINT) AS n_cut,
               COALESCE(ag.cleaned, '') AS cleaned_text
        FROM tt LEFT JOIN ag USING (doc_id)
        ORDER BY tt.doc_id"""
  }

  /** TextOps.bpeDecode's oracle — the encode chain (same CTEs as
    * `tid`), the INVERSE id map, and the reassembly: symbols
    * concatenate in sequence order, the end-of-word mark becomes the
    * word boundary, and the per-doc `roundtrip` boolean pins
    * decode(encode(text)) = normalized text for every document.
    */
  private def bpeDecodeSql: String = {
    val mark = TextOps.BpeEndMark
    val chain = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, wpos,
                    CASE WHEN t.sym_a IS NULL THEN v.w
                      ELSE replace(v.w, ' ' || t.sym_a || '  ' || t.sym_b || ' ',
                              ' ' || t.sym_a || t.sym_b || ' ') END AS w
                  FROM e${r - 1} v LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    val mergeRows = (1 to TextOps.BpeMergeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, sym_a, sym_b FROM t$r"
    }.mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes,
        dw AS (SELECT doc_id,
                 unnest(range(0, len(toks))) AS wpos, unnest(toks) AS tok
               FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
        e0 AS (SELECT doc_id, wpos,
                 ' ' || array_to_string(
                   list_transform(range(1, length(tok) + 1), i -> tok[i:i]),
                   '  ') || '  $mark ' AS w
               FROM dw),
        $chain,
        syms AS (SELECT doc_id, wpos,
                   unnest(range(0, len(ss))) AS spos, unnest(ss) AS sym
                 FROM (SELECT doc_id, wpos, string_split(trim(w), '  ') AS ss
                       FROM e${TextOps.BpeMergeRounds})),
        alpha AS (SELECT DISTINCT unnest(list_transform(
                    range(1, length(tok) + 1), i -> tok[i:i])) AS sym FROM wc
                  UNION SELECT '$mark'),
        aid AS (SELECT sym,
                  CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
                FROM alpha),
        naa AS (SELECT COUNT(*) AS na FROM aid),
        mid AS (SELECT r.sym_a || r.sym_b AS sym,
                  CAST(naa.na + r.merge_rank - 1 AS BIGINT) AS id
                FROM ($mergeRows) r, naa),
        idm AS (SELECT sym, MIN(id) AS id
                FROM (SELECT * FROM aid UNION ALL SELECT * FROM mid)
                GROUP BY sym),
        til AS (SELECT s.doc_id, list(i.id ORDER BY s.wpos, s.spos) AS idl
                FROM syms s JOIN idm i ON i.sym = s.sym
                GROUP BY s.doc_id),
        inv AS (SELECT id, MIN(sym) AS sym FROM idm GROUP BY id),
        dz AS (SELECT doc_id, unnest(range(0, len(idl))) AS pos,
                      unnest(idl) AS id
               FROM til),
        ds AS (SELECT dz.doc_id, dz.pos, inv.sym FROM dz JOIN inv USING (id)),
        dd AS (SELECT doc_id,
                 trim(replace(string_agg(sym, '' ORDER BY pos), '$mark', ' '))
                   AS decoded
               FROM ds GROUP BY doc_id)
        SELECT d.doc_id,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(dd.decoded, '') END AS decoded_text,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(dd.decoded, '')
                      = array_to_string($toksSql, ' ') END AS roundtrip
        FROM documents d LEFT JOIN dd USING (doc_id)
        ORDER BY d.doc_id"""
  }

  /** The WHOLE-CORPUS token-id CTE chain (training → per-word merge
    * replay → symbol explode → id law → per-doc `ti(doc_id, n_t,
    * ids)`) — one law shared by the `tid` oracle and the fertility
    * report's (`tkf`).
    */
  private def bpeCorpusTokenIdCtes: String = {
    val mark = TextOps.BpeEndMark
    val chain = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, wpos,
                    CASE WHEN t.sym_a IS NULL THEN v.w
                      ELSE replace(v.w, ' ' || t.sym_a || '  ' || t.sym_b || ' ',
                              ' ' || t.sym_a || t.sym_b || ' ') END AS w
                  FROM e${r - 1} v LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    val mergeRows = (1 to TextOps.BpeMergeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, sym_a, sym_b FROM t$r"
    }.mkString(" UNION ALL ")
    s"""$bpeTrainCtes,
        dw AS (SELECT doc_id,
                 unnest(range(0, len(toks))) AS wpos, unnest(toks) AS tok
               FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
        e0 AS (SELECT doc_id, wpos,
                 ' ' || array_to_string(
                   list_transform(range(1, length(tok) + 1), i -> tok[i:i]),
                   '  ') || '  $mark ' AS w
               FROM dw),
        $chain,
        syms AS (SELECT doc_id, wpos,
                   unnest(range(0, len(ss))) AS spos, unnest(ss) AS sym
                 FROM (SELECT doc_id, wpos, string_split(trim(w), '  ') AS ss
                       FROM e${TextOps.BpeMergeRounds})),
        alpha AS (SELECT DISTINCT unnest(list_transform(
                    range(1, length(tok) + 1), i -> tok[i:i])) AS sym FROM wc
                  UNION SELECT '$mark'),
        aid AS (SELECT sym,
                  CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
                FROM alpha),
        naa AS (SELECT COUNT(*) AS na FROM aid),
        mid AS (SELECT r.sym_a || r.sym_b AS sym,
                  CAST(naa.na + r.merge_rank - 1 AS BIGINT) AS id
                FROM ($mergeRows) r, naa),
        idm AS (SELECT sym, MIN(id) AS id
                FROM (SELECT * FROM aid UNION ALL SELECT * FROM mid)
                GROUP BY sym),
        ti AS (SELECT s.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_t,
                 array_to_string(
                   list(CAST(i.id AS VARCHAR) ORDER BY s.wpos, s.spos),
                   ',') AS ids
               FROM syms s JOIN idm i ON i.sym = s.sym
               GROUP BY s.doc_id)"""
  }

  private def bpeTokenIdsSql: String =
    s"""WITH $bpeCorpusTokenIdCtes
        SELECT d.doc_id,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(t.n_t, 0) END AS n_tokens,
               CASE WHEN d.text IS NOT NULL
                    THEN COALESCE(t.ids, '') END AS token_ids
        FROM documents d LEFT JOIN ti t ON t.doc_id = d.doc_id
        ORDER BY d.doc_id"""

  /** TextOps.tokenizerFertility's oracle: the corpus token-id chain's
    * per-doc counts joined to the documents' char counts, rolled up
    * per language with integer-scaled chars-per-token (fertility's
    * inverse) and tokens-per-doc — every division an integral DIV of
    * exact sums.
    */
  private def tkfSql: String =
    s"""WITH $bpeCorpusTokenIdCtes
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(t.n_t) AS BIGINT) AS sum_tokens,
               CAST(SUM(d.n_chars) AS BIGINT) * 1000
                 // CAST(SUM(t.n_t) AS BIGINT) AS cpt_scaled,
               CAST(SUM(t.n_t) AS BIGINT) * 1000
                 // COUNT(*) AS tpd_scaled
        FROM documents d JOIN ti t ON t.doc_id = d.doc_id
        WHERE d.text IS NOT NULL AND t.n_t > 0
        GROUP BY d.lang ORDER BY d.lang"""

  /** TextOps.tokenVocabUsage's oracle: the corpus token-id stream
    * (tid's own CTE chain) exploded and counted per id, LEFT-joined
    * from the full id map so never-used vocabulary entries surface
    * with 0, ranked by (count DESC, id) with the ppm share as an
    * integral division.
    */
  private def tvuSql: String =
    s"""WITH $bpeCorpusTokenIdCtes,
        u AS (SELECT CAST(unnest(string_split(ids, ',')) AS BIGINT) AS id
              FROM ti WHERE ids <> ''),
        c AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_uses
              FROM u GROUP BY id),
        v AS (SELECT i.id, i.sym, COALESCE(c.n_uses, 0) AS n_uses
              FROM idm i LEFT JOIN c ON c.id = i.id),
        tot AS (SELECT CAST(SUM(n_uses) AS BIGINT) AS t FROM v)
        SELECT v.id, v.sym, v.n_uses,
               CAST(row_number() OVER (ORDER BY v.n_uses DESC, v.id)
                 AS BIGINT) AS rnk,
               v.n_uses * 1000000 // tot.t AS share_ppm
        FROM v, tot ORDER BY rnk"""

  /** PipelineOps.packingEfficiency's oracle: the full packing law
    * (pksq's own CTEs) rolled up per stratum — window count, token
    * count, exactly-full windows, and the integer-scaled fill rate.
    */
  private def pkeSql: String = {
    val b = PipelineOps.PackBudget
    s"""SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(COUNT(CASE WHEN n_tokens = $b THEN 1 END) AS BIGINT)
                 AS n_full,
               CAST(SUM(n_tokens) AS BIGINT) * 10000
                 // (COUNT(*) * $b) AS fill_scaled
        FROM ($packedSequencesSql)
        GROUP BY lang, bucket ORDER BY lang, bucket"""
  }

  /** Shared oracle CTE chain for the training-data composites —
    * BPE training, the semantic drop set (sdrop), the corpus
    * survivor chain (tsf), and the survivors' per-symbol frames
    * through the id map (dw/e0/merge chain/syms/alpha/aid/naa/mid/
    * idm) — exactly the standalone oracles' logic, consumed by both
    * `tdata` (per-doc id sequences + split/shuffle tail) and `pksq`
    * (the packed fixed-window materialization), so the two gates
    * share one survivor-and-tokenizer law.
    *
    * `extraAfterTsf` injects additional CTEs between the survivor
    * chain and the tokenizer frames, and `spine` names the survivor
    * CTE the token chain restricts to — the `ftd` oracle gates `tsf`
    * through the trained classifier's keep set and points the
    * tokenizer at the gated spine; everything else is shared text.
    */
  private def survivorTokenCtes(extraAfterTsf: String = "",
      spine: String = "tsf"): String = {
    val mark = TextOps.BpeEndMark
    val chain = (1 to TextOps.BpeMergeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, wpos,
                    CASE WHEN t.sym_a IS NULL THEN v.w
                      ELSE replace(v.w, ' ' || t.sym_a || '  ' || t.sym_b || ' ',
                              ' ' || t.sym_a || t.sym_b || ' ') END AS w
                  FROM e${r - 1} v LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    val mergeRows = (1 to TextOps.BpeMergeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, sym_a, sym_b FROM t$r"
    }.mkString(" UNION ALL ")
    s"""$bpeTrainCtes,
        ${semanticPairCtes(clusteredCorpusCtes)},
        se AS (SELECT vec_a AS src, vec_b AS dst FROM sp
               UNION ALL SELECT vec_b, vec_a FROM sp),
        sn AS (SELECT DISTINCT src AS id FROM se),
        sr AS (SELECT id, id AS lbl FROM sn
               UNION
               SELECT se.dst AS id, sr.lbl FROM sr JOIN se ON se.src = sr.id),
        scl AS (SELECT id, min(lbl) AS lbl FROM sr GROUP BY 1),
        ssa AS (SELECT sasg.vec_id, sasg.ccos,
                  COALESCE(scl.lbl, sasg.vec_id) AS cluster
                FROM sasg LEFT JOIN scl ON sasg.vec_id = scl.id),
        sdrop AS (SELECT vec_id FROM (
                    SELECT vec_id, row_number() OVER (PARTITION BY cluster
                      ORDER BY ccos ASC, vec_id) AS rw FROM ssa)
                  WHERE rw > 1),
        tb AS (SELECT doc_id, source, lang, len($toksSql) AS n_ws,
                 md5(lower(trim(text))) AS fp
               FROM documents),
        tq AS (SELECT * FROM tb WHERE n_ws >= ${PipelineOps.CorpusMinTokens}),
        tdd AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM tq),
        tev AS (SELECT DISTINCT fp FROM tq WHERE doc_id % 50 = 0),
        ttr AS (SELECT * FROM tdd WHERE rn = 1 AND doc_id % 50 <> 0
                  AND fp NOT IN (SELECT fp FROM tev)),
        tsv AS (SELECT doc_id, source, lang FROM (
                  SELECT doc_id, source, lang,
                    row_number() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                  FROM ttr) WHERE rk <= ${PipelineOps.SourceQuota}),
        tsf AS (SELECT * FROM tsv
                WHERE doc_id NOT IN (SELECT vec_id FROM sdrop)),$extraAfterTsf
        dw AS (SELECT doc_id,
                 unnest(range(0, len(toks))) AS wpos, unnest(toks) AS tok
               FROM (SELECT d.doc_id, $toksSql AS toks
                     FROM documents d JOIN $spine USING (doc_id))),
        e0 AS (SELECT doc_id, wpos,
                 ' ' || array_to_string(
                   list_transform(range(1, length(tok) + 1), i -> tok[i:i]),
                   '  ') || '  $mark ' AS w
               FROM dw),
        $chain,
        syms AS (SELECT doc_id, wpos,
                   unnest(range(0, len(ss))) AS spos, unnest(ss) AS sym
                 FROM (SELECT doc_id, wpos, string_split(trim(w), '  ') AS ss
                       FROM e${TextOps.BpeMergeRounds})),
        alpha AS (SELECT DISTINCT unnest(list_transform(
                    range(1, length(tok) + 1), i -> tok[i:i])) AS sym FROM wc
                  UNION SELECT '$mark'),
        aid AS (SELECT sym,
                  CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
                FROM alpha),
        naa AS (SELECT COUNT(*) AS na FROM aid),
        mid AS (SELECT r.sym_a || r.sym_b AS sym,
                  CAST(naa.na + r.merge_rank - 1 AS BIGINT) AS id
                FROM ($mergeRows) r, naa),
        idm AS (SELECT sym, MIN(id) AS id
                FROM (SELECT * FROM aid UNION ALL SELECT * FROM mid)
                GROUP BY sym)"""
  }

  /** PipelineOps.trainingData's oracle — the end-to-end composite:
    * the corpus survivor chain (same CTE logic as the `corpus`
    * oracle, names prefixed to avoid colliding with the training
    * CTEs), the token-id chain restricted to survivors (same law as
    * `tid`), the pack window over the EOS-inclusive stream, the
    * seeded split, and the epoch-shuffle rank — every stage the
    * standalone oracle's exact logic.
    */
  private def trainingDataSql: String = trainingCompositeSql()

  /** PipelineOps.trainingDataFtq's oracle — the composite with the
    * TRAINED classifier gating the survivors: the whole ftq training
    * chain (q-prefixed — init, every gradient, every threshold)
    * replayed up front, its final keep verdict semi-joined into the
    * survivor spine, and the shared tokenizer tail run on the gated
    * set — so the gate pins the trained filter itself inside the
    * end-to-end composite.
    */
  private def ftdSql: String = {
    val T = graft.operators.QualityOps.FtqRounds
    trainingCompositeSql(
      prelude = s"${ftqChainCtes("q")},\n",
      extraAfterTsf = s"""
        qkeep AS (SELECT sc.doc_id FROM qsc$T sc, qth$T th
                  WHERE sc.s >= th.th),
        tsg AS (SELECT * FROM tsf
                WHERE doc_id IN (SELECT doc_id FROM qkeep)),""",
      spine = "tsg")
  }

  private def trainingCompositeSql(prelude: String = "",
      extraAfterTsf: String = "", spine: String = "tsf"): String =
    s"""WITH RECURSIVE $prelude${survivorTokenCtes(extraAfterTsf, spine)},
        ti AS (SELECT s.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 array_to_string(
                   list(CAST(i.id AS VARCHAR) ORDER BY s.wpos, s.spos),
                   ',') AS token_ids
               FROM syms s JOIN idm i ON i.sym = s.sym
               GROUP BY s.doc_id),
        tf AS (SELECT s.doc_id, s.source, s.lang, t.n_tokens, t.token_ids,
                 substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 1) AS bucket,
                 substr(md5('graft:v1:' || CAST(s.doc_id AS VARCHAR)), 1, 2) AS sb,
                 md5('graft:v1:0:' || CAST(s.doc_id AS VARCHAR)) AS ek
               FROM $spine s JOIN ti t USING (doc_id)),
        tc AS (SELECT *, CAST(sum(n_tokens + 1) OVER (PARTITION BY lang, bucket
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - (n_tokens + 1) AS BIGINT) AS start_off
               FROM tf)
        SELECT doc_id, source, lang, n_tokens, token_ids, bucket,
               CAST(floor(start_off / ${PipelineOps.PackBudget}) AS BIGINT) AS bin,
               CASE WHEN sb < 'cc' THEN 'train'
                    WHEN sb < 'e6' THEN 'val' ELSE 'test' END AS split,
               CAST(row_number() OVER (ORDER BY ek, doc_id) AS BIGINT) AS pos
        FROM tc ORDER BY doc_id"""

  /** PipelineOps.packedSequences' oracle: the shared survivor/token
    * CTEs, each survivor's id LIST with the EOS separator appended
    * (naa.na + R — the same one-past-the-vocabulary id law as
    * TextOps.bpeEosFrame), doc-granularity stream offsets per
    * (lang, bucket), and the PackBudget window aggregation.
    */
  /** The shared packing-stream CTEs (per-survivor EOS-appended id
    * lists, stratum, doc-granularity offsets) — one law for the full
    * packer's and the incremental re-packer's oracles.
    */
  private def packedStreamCtes: String =
    s"""til AS (SELECT s.doc_id, list(i.id ORDER BY s.wpos, s.spos) AS idl
                FROM syms s JOIN idm i ON i.sym = s.sym
                GROUP BY s.doc_id),
        pf AS (SELECT s.doc_id, s.lang,
                 substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 1) AS bucket,
                 list_append(t.idl,
                   CAST(naa.na + ${TextOps.BpeMergeRounds} AS BIGINT)) AS ids
               FROM tsf s JOIN til t USING (doc_id), naa),
        pc AS (SELECT *, CAST(sum(len(ids)) OVER (PARTITION BY lang, bucket
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - len(ids) AS BIGINT) AS start_off
               FROM pf)"""

  /** The shared window aggregation over an exploded-position CTE
    * (columns doc_id, lang, bucket, wp, gpos, tid) — seq_id grouping,
    * doc_starts, doc_ids: one law for both packing oracles.
    */
  private def packedWindowSelect(from: String): String =
    s"""SELECT lang, bucket,
               CAST(floor(gpos / ${PipelineOps.PackBudget}) AS BIGINT) AS seq_id,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               array_to_string(list(CAST(tid AS VARCHAR) ORDER BY gpos),
                 ',') AS token_ids,
               COALESCE(array_to_string(
                 list(CAST(gpos - CAST(floor(gpos / ${PipelineOps.PackBudget})
                   AS BIGINT) * ${PipelineOps.PackBudget} AS VARCHAR)
                   ORDER BY gpos) FILTER (WHERE wp = 0),
                 ','), '') AS doc_starts,
               array_to_string(list_transform(
                 list_sort(list(DISTINCT doc_id)),
                 x -> CAST(x AS VARCHAR)), ',') AS doc_ids
        FROM $from GROUP BY 1, 2, 3
        ORDER BY lang, bucket, seq_id"""

  private def packedSequencesSql: String =
    s"""WITH RECURSIVE ${survivorTokenCtes()},
        $packedStreamCtes,
        px AS (SELECT doc_id, lang, bucket,
                 unnest(range(0, len(ids))) AS wp,
                 start_off + unnest(range(0, len(ids))) AS gpos,
                 unnest(ids) AS tid
               FROM pc)
        ${packedWindowSelect("px")}"""

  /** PipelineOps.packedSequencesDelta's oracle — the FULL packing
    * restricted to (stratum with an arrival, seq_id ≥ the standing
    * stream's tail index), so the hash gate pins the incremental
    * re-pack against the from-scratch law window for window. The cut
    * (max doc_id · 9 ⁄ 10, integer division) and the tail index
    * (standing token count ⁄ budget, integer division) replay the
    * engine's exact arithmetic.
    */
  private def pkiSql: String = {
    val b = PipelineOps.PackBudget
    s"""WITH RECURSIVE ${survivorTokenCtes()},
        $packedStreamCtes,
        mx AS (SELECT CAST(max(doc_id) * 9 // 10 AS BIGINT) AS cut
               FROM documents),
        ps AS (SELECT pc.*,
                 CAST(SUM(CASE WHEN pc.doc_id <= mx.cut THEN len(pc.ids)
                   ELSE 0 END) OVER (PARTITION BY lang, bucket) AS BIGINT)
                   AS baselen,
                 MAX(CASE WHEN pc.doc_id > mx.cut THEN 1 ELSE 0 END)
                   OVER (PARTITION BY lang, bucket) AS hasdelta
               FROM pc, mx),
        pt AS (SELECT *, baselen // $b AS taili FROM ps
               WHERE hasdelta = 1),
        px AS (SELECT doc_id, lang, bucket, taili,
                 unnest(range(0, len(ids))) AS wp,
                 start_off + unnest(range(0, len(ids))) AS gpos,
                 unnest(ids) AS tid
               FROM pt
               WHERE start_off + len(ids) > taili * $b),
        pw AS (SELECT * FROM px WHERE floor(gpos / $b) >= taili)
        ${packedWindowSelect("pw")}"""
  }

  private def langIdSql: String = {
    val hitCols = TextOps.langLexicon.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, x -> x IN ($inList))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val cases = TextOps.langLexicon.map { case (l, _) =>
      val others = TextOps.langLexicon.filter(_._1 != l)
        .map(o => s"hits_$l >= hits_${o._1}").mkString(" AND ")
      s"WHEN hits_$l > 0 AND $others THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        h AS (SELECT doc_id, $hitCols FROM t)
        SELECT doc_id, ${TextOps.langLexicon.map(l => s"hits_${l._1}").mkString(", ")},
               CASE $cases ELSE 'und' END AS lang_pred
        FROM h ORDER BY doc_id"""
  }

  /** TextOps.pplBuckets' oracle — the composed CCNet chain: the langid
    * argmax CASE over per-language stopword hits, the bigram-LM score
    * chain (the `lms` oracle's exact CTEs), and the SQL-standard
    * ntile(3) tercile per PREDICTED language with the head+middle
    * keep verdict.
    */
  private def pplBucketsSql: String = {
    val hitCols = TextOps.langLexicon.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, x -> x IN ($inList))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val cases = TextOps.langLexicon.map { case (l, _) =>
      val others = TextOps.langLexicon.filter(_._1 != l)
        .map(o => s"hits_$l >= hits_${o._1}").mkString(" AND ")
      s"WHEN hits_$l > 0 AND $others THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        h AS (SELECT doc_id, $hitCols FROM t),
        lid AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM h),
        bg AS (SELECT doc_id,
                 unnest(list_transform(range(0, len(toks) - 1),
                   i -> md5(toks[i+1] || ' ' || toks[i+2]))) AS b,
                 unnest(list_transform(range(0, len(toks) - 1),
                   i -> md5(toks[i+1]))) AS w1
               FROM t WHERE len(toks) >= 2),
        bc AS (SELECT b, max(w1) AS w1, COUNT(*) AS c2 FROM bg GROUP BY b),
        uc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc GROUP BY w1),
        bs AS (SELECT b, CAST(floor(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)
                 * 1e12) AS BIGINT) AS ps
               FROM bc JOIN uc USING (w1)),
        pd AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                      CAST(SUM(ps) AS BIGINT) AS s
               FROM bg JOIN bs USING (b) GROUP BY doc_id),
        lm AS (SELECT d.doc_id,
                 COALESCE(pd.s // pd.n_bigrams, 0) AS lm_avg_scaled
               FROM documents d LEFT JOIN pd USING (doc_id)),
        j AS (SELECT lid.doc_id, lid.lang_pred, lm.lm_avg_scaled,
                ntile(3) OVER (PARTITION BY lid.lang_pred
                  ORDER BY lm.lm_avg_scaled DESC, lid.doc_id) AS trc
              FROM lid JOIN lm USING (doc_id))
        SELECT doc_id, lang_pred, lm_avg_scaled,
          CASE WHEN trc = 1 THEN 'head' WHEN trc = 2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket,
          (trc <= 2) AS keep
        FROM j ORDER BY doc_id"""
  }

  /** old→new key bridge parsed from `scripts/renames.json` (the
    * spec-pinned rename ledger, chains allowed). The ledger is looked
    * up under the repo root named by the `graft.repo.root` system
    * property or `GRAFT_REPO_ROOT` env var, falling back to the
    * working directory — a caller running from elsewhere would
    * otherwise silently get an empty bridge and a confusing
    * "unknown query" on a legacy key (r14 advice). Parsed with the
    * Jackson that ships in Spark, not a regex, so formatting drift
    * (whitespace, extra fields) can't silently drop entries. Empty —
    * with a stderr note — when the file is absent; the bridge is a
    * caller convenience, the live registry stays authoritative.
    */
  private lazy val renameLedgerPath: java.nio.file.Path = {
    val root = sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .getOrElse(".")
    java.nio.file.Paths.get(root, "scripts", "renames.json")
  }

  private lazy val legacyRenames: Map[String, String] = {
    val p = renameLedgerPath
    if (!java.nio.file.Files.exists(p)) {
      // silent here: an absent ledger only matters if a legacy key is
      // actually looked up — resolveName warns at that point (a
      // jar-only deployment that never uses legacy keys stays quiet)
      Map.empty
    } else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val renames = mapper.readTree(p.toFile).path("renames")
      val it = renames.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val k = it.next()
        val nw = renames.path(k).path("new").asText("")
        if (nw.nonEmpty) b += k -> nw
      }
      b.result()
    }
  }

  /** Resolve a possibly-legacy registry key to its live name: a name
    * missing from [[queries]] is bridged through the rename ledger
    * (following chains, e.g. `agg_collect_sorted` → `collect_sort` →
    * `csort`) with a stderr deprecation note, so an external caller
    * invoking SparkEntry by a pre-rename key keeps working instead of
    * erroring (r13 advice). `None` means the name never existed.
    */
  def resolveName(name: String): Option[String] = {
    @annotation.tailrec
    def follow(n: String, hops: Int): Option[String] =
      if (queries.contains(n)) Some(n)
      else if (hops > 10) None // ledger corruption guard, not a real path
      else legacyRenames.get(n) match {
        case Some(nw) => follow(nw, hops + 1)
        case None =>
          if (!java.nio.file.Files.exists(renameLedgerPath))
            System.err.println(s"[graft] rename ledger not found at " +
              s"$renameLedgerPath - legacy query keys cannot resolve " +
              "(set -Dgraft.repo.root or GRAFT_REPO_ROOT)")
          None
      }
    val r = follow(name, 0)
    r.filter(_ != name).foreach { live =>
      System.err.println(s"[graft] deprecated query key '$name' - resolved " +
        s"to '$live' via scripts/renames.json; update the caller")
    }
    r
  }

  /** [[queries]] lookup with legacy-name bridging — the entry point
    * external tooling should prefer over raw map access.
    */
  def query(name: String): Option[(SparkSession, String) => DataFrame] =
    resolveName(name).map(queries)
}
