package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.explore.Stats
import graft.model.Metrics
import graft.ops.{Dedup, Events, Features, Graph, Layout, Materialize, Mining, Multimodal, Privacy, Relational, Similarity, Text, TimeSeries, Validate}
import graft.ops.Dedup.{combine2Sql, combine3Sql, polyFoldSql, polyHashSql, tokenHashCtes, wideKeySql}
import graft.ops.Layout.centsSql
import graft.ops.Similarity.{cosSimSql, dimsSql, dotSql, embDoubleSql, embNormCtes, normSql, sumDimsSql, topKSql}
import graft.ops.Text.tokensSql
import graft.sources.Tables

/** One declared query: its name, its declarative DataFrame plan builder
  * `(spark, sfDir) => DataFrame`, and, when its semantics are
  * deterministic and ANSI-SQL-expressible, the DuckDB SQL twin its
  * result is hash-checked against (SURVEY.md §5.2.4). `oracle = None`
  * marks a rows-only query.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** The fixed entry contract — see SURVEY.md §7.
  *
  * [[registry]] is the one list of declared queries: Verify and
  * ContractSpec iterate it, and [[queries]] / [[oracleSql]] are views over
  * it for Bench, the other mains and perfbench. Adding a query is one
  * [[QuerySpec]] entry holding its builder and its oracle SQL. An entry with `oracle = None` must also be enlisted in
  * ContractSpec's `rowsOnlyContract`, with the reason DuckDB cannot
  * replay it and the spec that checks it instead.
  *
  * Column names and ordering are engineered to match exactly on both
  * engines: every computed column is aliased identically, float
  * aggregates are rounded, and each query ends in a total ORDER BY with
  * unique tiebreakers.
  *
  * An oracle fragment with a Scala twin is built by the SQL builder
  * beside that twin, so the two engines' definitions sit side by side:
  * the token poly-hash ([[Dedup.polyHashSql]], [[Dedup.polyFoldSql]]),
  * the whitespace tokenizer ([[Text.tokensSql]]), tokenize-then-hash
  * ([[Dedup.tokenHashCtes]]), the embedding-width vector folds and
  * cosine ranking ([[Similarity.dotSql]], [[Similarity.normSql]],
  * [[Similarity.embNormCtes]], [[Similarity.cosSimSql]],
  * [[Similarity.topKSql]]), exact cents ([[Layout.centsSql]]), the
  * planted snapshot versions ([[Layout.ttVersionCtes]]), the trade fact
  * join ([[Graph.tradeJoinSql]], [[Graph.tradePairsSql]]) and the media payload
  * ([[Multimodal.mediaGeometrySql]] and its siblings). Fragments shared
  * only between twins are the private builders below the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every declared query, one entry per implemented operator from
    * SURVEY.md §2. Names are distinct (ContractSpec). Lazy: a strict val
    * would run before the private vals declared below it are set, and
    * capture their nulls as oracle SQL. */
  lazy val registry: Seq[QuerySpec] = Seq(
    // relational pack [EXT] (SURVEY §2.B)
    QuerySpec("q1_pricing_summary", (s, d) => Relational.pricingSummary(s, d),
      Some(pricingSummarySql)),
    QuerySpec("q3_top_revenue_orders", (s, d) => Relational.topRevenueOrders(s, d),
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q5_nation_revenue", (s, d) => Relational.nationRevenue(s, d),
      Some("""SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)),
    QuerySpec("q_topk_parts_per_brand", (s, d) => Relational.topPartsPerBrand(s, d),
      Some(topkBrandSql)),
    // the bounded-heap aggregate form must equal the window form exactly
    QuerySpec("q_topk_brand_agg", (s, d) => Relational.topPartsPerBrandAgg(s, d),
      Some(topkBrandSql)),
    QuerySpec("q_bloom_join_revenue", (s, d) => Relational.bloomFilteredJoinRevenue(s, d),
      Some("""SELECT CAST(year(l_shipdate) AS INT) AS yr,
        | CAST(month(l_shipdate) AS INT) AS mo,
        | round(sum(floor(l_extendedprice*(1-l_discount)*100 + 0.5))/100, 2) AS rev,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q_distinct_counts", (s, d) => Relational.distinctCounts(s, d),
      Some("""SELECT count(*) AS n_rows,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem""".stripMargin)),
    QuerySpec("q16_part_supplier_breadth", (s, d) => Relational.partSupplierBreadth(s, d),
      Some("""SELECT p_brand, p_type, p_size,
        | count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45'
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    QuerySpec("q_supplier_revenue", (s, d) => Relational.supplierRevenue(s, d),
      Some("""SELECT s_suppkey, s_name,
        | round(sum(floor(l_extendedprice*(1-l_discount)*100 + 0.5))/100, 2) AS rev,
        | count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY rev DESC, s_suppkey LIMIT 10""".stripMargin)),
    QuerySpec("q_intersect_customers", (s, d) => Relational.customersWithOrders(s, d),
      Some("""SELECT c_custkey FROM customer
        |INTERSECT
        |SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_anti_customers_no_orders", (s, d) => Relational.customersWithoutOrders(s, d),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_union_nation_keys", (s, d) => Relational.activeNationKeys(s, d),
      Some("""SELECT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION
        | SELECT s_nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin)),
    QuerySpec("q_rollup_acctbal", (s, d) => Relational.rollupAcctbal(s, d),
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
        | round(sum(c_acctbal),2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)),
    QuerySpec("q_semi_orders_big_lines", (s, d) => Relational.ordersWithBigLines(s, d),
      Some("""SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000.0)
        |ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_fn_string_date", (s, d) => Relational.stringDateFuncs(s, d),
      Some("""SELECT lower(o_orderstatus) || '_' || substr(o_orderpriority, 1, 3) AS tag,
        | CAST(year(o_orderdate) AS INT) AS yr,
        | CAST(month(o_orderdate) AS INT) AS mo,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1, 2, 3 ORDER BY tag, yr, mo""".stripMargin)),
    QuerySpec("q_grouping_sets", (s, d) => Relational.groupingSetsRevenue(s, d),
      Some("""SELECT n_name, c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin)),
    QuerySpec("q_except_all", (s, d) => Relational.urgentMinusBigLines(s, d),
      Some("""SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT ALL
        |SELECT l_orderkey AS o_orderkey FROM lineitem
        |WHERE l_extendedprice > 90000.0
        |ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_pivot_quantity", (s, d) => Relational.pivotQuantity(s, d),
      Some("""SELECT l_returnflag,
        | round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
        | round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_fn_math", (s, d) => Relational.mathFuncs(s, d),
      Some("""SELECT l_returnflag,
        | round(avg(sqrt(l_quantity)), 6) AS avg_sqrt_qty,
        | round(avg(ln(l_extendedprice)), 6) AS avg_ln_price,
        | round(max(pow(l_discount, 2)), 6) AS max_disc_sq,
        | round(avg(abs(l_quantity - 25.0)), 6) AS avg_abs_dev,
        | round(max(greatest(l_tax, l_discount)), 6) AS max_rate
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_percentiles", (s, d) => Relational.percentiles(s, d),
      Some("""SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_bucket_join_revenue", (s, d) => Relational.bucketedJoinRevenue(s, d),
      Some("""SELECT o_orderkey, o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY rev DESC, o_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q_sub_scalar_q17", (s, d) => Relational.smallQuantityRevenue(s, d),
      Some("""SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),
    QuerySpec("q_sub_corr_in", (s, d) => Relational.lateShippedOrders(s, d),
      Some("""SELECT o_orderkey, o_orderpriority
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     WHERE l_shipdate > o_orderdate + INTERVAL 100 DAY)
        |ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_sub_not_in_naaj", (s, d) => Relational.customersNoUrgentOrders(s, d),
      Some("""SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_sub_lateral_topn", (s, d) => Relational.regionTopNationsLateral(s, d),
      Some("""SELECT r_name, n_name, bal
        |FROM region r, LATERAL (
        |  SELECT n_name, round(sum(c_acctbal), 2) AS bal
        |  FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  WHERE n_regionkey = r.r_regionkey
        |  GROUP BY n_name ORDER BY bal DESC, n_name LIMIT 2) t
        |ORDER BY r_name, bal DESC, n_name""".stripMargin)),
    QuerySpec("q7_nation_trade", (s, d) => Relational.nationTradeVolume(s, d),
      Some("""WITH s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |           JOIN nation ON s_nationkey = n_nationkey
        |           WHERE n_name IN ('NATION_1', 'NATION_2')),
        |c AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |      JOIN nation ON c_nationkey = n_nationkey
        |      WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT supp_nation, cust_nation,
        | CAST(year(l_shipdate) AS INT) AS l_year,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN s ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN c ON o_custkey = c_custkey
        |WHERE supp_nation <> cust_nation
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // rows-only: HLL++/t-digest estimates are engine-specific by design;
    // specs assert tolerance vs the exact twins
    QuerySpec("q_approx_distinct", (s, d) => Relational.approxDistinctCounts(s, d)),
    QuerySpec("q_approx_percentiles", (s, d) => Relational.approxPercentiles(s, d)),
    // rows-only: DataSketches HLL estimates are engine-specific; spec
    // asserts union==direct and error bound vs exact
    QuerySpec("q_sketch_rollup", (s, d) => Relational.hllSketchRollup(s, d)),
    QuerySpec("q_part_pruned_revenue", (s, d) => Relational.partitionPrunedRevenue(s, d),
      Some("""SELECT CAST(month(o_orderdate) AS INT) AS mo, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("q_win_rank_breadth", (s, d) => Relational.customerBalanceWindows(s, d),
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal, drnk, quartile, pct_rnk, cume, top_bal
        |FROM (
        | SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rnk,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(c_acctbal) OVER w AS top_bal
        | FROM customer
        | WINDOW w AS (PARTITION BY c_mktsegment
        |              ORDER BY c_acctbal DESC, c_custkey)) t
        |WHERE drnk <= 5 ORDER BY c_mktsegment, c_custkey""".stripMargin)),
    QuerySpec("q_skew_salted_join", (s, d) => Relational.saltedJoinRevenue(s, d),
      Some("""SELECT o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // two-phase value-salted aggregate: exact count(distinct) that fans
    // a hot group key across `salts` reducers (round-11 verdict #4); it
    // must equal the PLAIN single-phase aggregate the twin runs — that
    // equality is the whole correctness contract of the salting rewrite
    QuerySpec("q_agg_salted_skew", (s, d) => Relational.saltedSkewedAgg(s, d),
      Some("""SELECT o_custkey,
        | count(DISTINCT l_partkey) AS n_parts,
        | round(sum(floor(l_extendedprice*(1-l_discount)*100 + 0.5))/100, 2)
        |   AS rev,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the same engine driven entirely through spark.sql over views —
    // the SQL-first user's surface, oracle-checked like the API surface.
    // The segment twin replays the same CTE + window text over the base
    // tables — exact cents, (cents desc, custkey) determinism
    QuerySpec("q_sql_topk_segment", (s, d) => Relational.sqlTopCustomersPerSegment(s, d),
      Some("""WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey),
        |rk AS (
        |  SELECT c_mktsegment, c_custkey, cents,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY cents DESC, c_custkey) AS rnk
        |  FROM rev JOIN customer ON c_custkey = o_custkey)
        |SELECT c_mktsegment, c_custkey,
        |  round(CAST(cents AS DOUBLE) / 100, 2) AS rev,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM rk WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk""".stripMargin)),
    // SQL-surface breadth (round-13 verdict #7): flagships as SQL TEXT,
    // each hash-checked against the SAME twin as its DataFrame sibling
    QuerySpec("q_sql_pricing_summary", (s, d) => Relational.sqlPricingSummary(s, d),
      Some(pricingSummarySql)),
    QuerySpec("q_sql_topk_brand", (s, d) => Relational.sqlTopPartsPerBrand(s, d),
      Some(topkBrandSql)),
    QuerySpec("q_sql_time_travel", (s, d) => Layout.sqlTimeTravelDiff(s, d), Some(timeTravelSql)),
    QuerySpec("q_outer_nation_parties", (s, d) => Relational.nationPartiesOuter(s, d),
      Some("""WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust,
        |            round(sum(c_acctbal), 2) AS cust_bal
        |           FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1),
        |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp,
        |       round(sum(s_acctbal), 2) AS supp_bal
        |      FROM supplier WHERE s_acctbal > 9000.0 GROUP BY 1)
        |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(cust_bal, 0.0) AS cust_bal,
        | coalesce(n_supp, 0) AS n_supp, coalesce(supp_bal, 0.0) AS supp_bal
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin)),
    QuerySpec("q_csv_json_sources", (s, d) => Relational.csvJsonSourceJoin(s, d),
      Some("""SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QuerySpec("q_unpivot_measures", (s, d) => Relational.unpivotMeasureStats(s, d),
      Some("""SELECT measure, n, sum_val,
        | floor(sum_val / n * 1000000 + 0.5) / 1000000 AS avg_val, max_val
        |FROM (
        | SELECT measure, count(*) AS n, round(sum(val), 2) AS sum_val,
        |  round(max(val), 2) AS max_val
        | FROM (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem) t
        | GROUP BY measure) g
        |ORDER BY measure""".stripMargin)),
    QuerySpec("q_sample_stratified", (s, d) => Relational.stratifiedSample(s, d), Some {
      val caseChain = Relational.stratRates.map { case (l, k) =>
        s"WHEN '$l' THEN $k"
      }.mkString("CASE lang ", " ", " ELSE 1 END")
      s"""SELECT doc_id, lang FROM documents
         |WHERE doc_id % ($caseChain) = 0
         |ORDER BY doc_id""".stripMargin
    }),
    QuerySpec("q_sample_group_k", (s, d) => Relational.groupReservoirSample(s, d),
      Some(s"""WITH h AS (
        | SELECT event_type, event_id, user_id, round(value, 2) AS value,
        |  ${polyHashSql("CAST(event_id AS VARCHAR)")} AS rk
        | FROM events),
        |r AS (
        | SELECT event_type, event_id, user_id, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |         ORDER BY rk, event_id) AS BIGINT) AS rnk
        | FROM h)
        |SELECT event_type, rnk, event_id, user_id, value
        |FROM r WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin)),
    // rows-only: sampleBy's per-row RNG is engine-specific; spec asserts
    // per-class proportions and seed-determinism
    QuerySpec("q_sample_bernoulli", (s, d) => Relational.bernoulliStratifiedSample(s, d)),
    // EDA / stats (reference R15-R16, SURVEY §2.A)
    QuerySpec("q_corr_stats", (s, d) => Stats.corrStats(s, d),
      Some("""SELECT count(*) AS n,
        | round(avg(l_extendedprice),4) AS mean_price,
        | round(stddev_samp(l_extendedprice),4) AS sd_price,
        | round(avg(l_discount),6) AS mean_disc,
        | round(stddev_samp(l_discount),6) AS sd_disc,
        | round(corr(l_extendedprice,l_discount),6) AS corr_price_disc,
        | round(corr(l_extendedprice,l_quantity),6) AS corr_price_qty
        |FROM lineitem""".stripMargin)),
    QuerySpec("q_corr_matrix", (s, d) => Stats.corrMatrix(s, d), Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rows = for { x <- cols; y <- cols } yield
        s"SELECT '$x' AS col_x, '$y' AS col_y, round(corr($x,$y),6) AS r FROM lineitem"
      rows.mkString("SELECT col_x, col_y, r FROM (", " UNION ALL ",
        ") t ORDER BY col_x, col_y")
    }),
    QuerySpec("q_histogram_price", (s, d) => Stats.histogram(s, d),
      Some("""WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |           FROM lineitem)
        |SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 20)), 19) AS BIGINT) AS bucket,
        |       count(*) AS n
        |FROM lineitem, b GROUP BY 1 ORDER BY 1""".stripMargin)),
    // rows-only by necessity (hash-RNG generation is not SQL-replayable);
    // its verify DUMP is the input table the two dump-backed oracles
    // below read, promoting them to full hash checks (round-5 VERDICT #5)
    QuerySpec("q_synth_features", (s, _) =>
      graft.datagen.SyntheticFeatures.generate(s, 10000)),
    // dump-backed oracle: DuckDB reads the q_synth_features verify dump
    // (Verify substitutes the absolute path token) and replays the bucket
    // arithmetic over the exact rows Spark generated, so the aggregation
    // is hash-checked even though the generator itself is engine-specific
    QuerySpec("q_histogram_features", (s, _) => Stats.featureHistograms(s),
      Some(Stats.featureHistogramsSql())),
    // dump-backed oracle, same pattern: Silverman-bandwidth Gaussian KDE
    // replayed over the q_synth_features dump (6dp rounding absorbs
    // summation-order ulps, as in q_kde_discount)
    QuerySpec("q_kde_features", (s, _) => Stats.featureKde(s), Some(Stats.featureKdeSql())),
    QuerySpec("q_kde_discount", (s, d) =>
      Stats.kdeDensity(s, d, kdeColumn, kdeBandwidth, kdePoints),
      Some(kdeOracle)),
    // events pack [EXT] (SURVEY §2.B streaming/window rows)
    QuerySpec("q_evt_tumbling", (s, d) => Events.tumblingCounts(s, d),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
        | event_type, count(*) AS n_events,
        | round(sum(value),2) AS sum_value,
        | floor(round(sum(value),2) / count(*) * 10000 + 0.5) / 10000 AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q_evt_sliding", (s, d) => Events.slidingValue(s, d),
      Some("""WITH x AS (
        | SELECT unnest([date_trunc('hour', ts),
        |                date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w, value
        | FROM events)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S.%f') AS win_start,
        | count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("q_evt_session", (s, d) => Events.sessionize(s, d),
      Some(s"""WITH ${Events.sessionCtes(", value")}
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),
    QuerySpec("q_evt_lag_features", (s, d) => Events.lagFeatures(s, d),
      Some("""SELECT event_id, user_id,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | lag(value, 1) OVER w AS prev_value,
        | epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap_ms,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 2) AS roll3
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin)),
    QuerySpec("q_evt_json_props", (s, d) => Events.jsonPropsAgg(s, d),
      Some("""SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_evt_asof_click", (s, d) => Events.asofLastClick(s, d),
      Some("""WITH u AS (
        | SELECT event_id, user_id, ts, value, event_type,
        |  CASE WHEN event_type = 'click' THEN value END AS click_value
        | FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        | SELECT *, last_value(click_value IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value
        | FROM u)
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        | round(value, 2) AS purchase_value,
        | round(last_click_value, 2) AS last_click_value
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),
    QuerySpec("q_evt_trailing_1h", (s, d) => Events.trailingHourSum(s, d),
      Some("""SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 2) AS trail_1h_sum,
        | count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS trail_1h_n
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("q_evt_range_join", (s, d) => Events.sessionEventOverlap(s, d),
      Some(s"""WITH ${Events.sessionCtes("", " WHERE user_id < 100")},
        |s AS (SELECT user_id AS s_user, min(ts) AS s_start, max(ts) AS s_end
        |      FROM g GROUP BY user_id, sid)
        |SELECT s_user AS user_id,
        | strftime(s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | count(*) AS n_window_events
        |FROM s JOIN events e ON e.ts >= s_start AND e.ts <= s_end
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q_evt_funnel", (s, d) => Events.funnelStages(s, d),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
        |SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT '2_view', count(*) FROM s2
        |UNION ALL SELECT '3_click', count(*) FROM s3
        |UNION ALL SELECT '4_purchase', count(*) FROM s4
        |ORDER BY stage""".stripMargin)),
    QuerySpec("q_evt_retention", (s, d) => Events.retentionCohorts(s, d),
      Some("""WITH d AS (SELECT user_id, date_trunc('day', ts) AS day,
        |            count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, day,
        |       min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        | CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        | count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q_evt_transitions", (s, d) => Events.typeTransitions(s, d),
      Some("""WITH l AS (
        | SELECT event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS prev_type
        | FROM events),
        |g AS (SELECT prev_type, event_type, count(*) AS n FROM l
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        | round(n / (sum(n) OVER (PARTITION BY prev_type)), 6) AS p
        |FROM g ORDER BY prev_type, event_type""".stripMargin)),
    QuerySpec("q_evt_scd2", (s, d) => Events.scd2UserStates(s, d),
      Some("""WITH e AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        | SELECT user_id, ts, event_type, CAST(sum(chg) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        | FROM e),
        |g AS (
        | SELECT user_id, version, min(event_type) AS state,
        |  min(ts) AS open_ts, count(*) AS n_events
        | FROM r GROUP BY 1, 2)
        |SELECT user_id, version, state,
        | strftime(open_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        | strftime(lead(open_ts) OVER wv, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        | CASE WHEN lead(open_ts) OVER wv IS NULL THEN 1 ELSE 0 END AS is_current,
        | n_events
        |FROM g WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin)),
    QuerySpec("q_evt_attribution", (s, d) => Events.linearAttribution(s, d),
      Some("""WITH t AS (SELECT user_id, ts AS touch_ts, event_type AS channel
        |           FROM events WHERE event_type IN ('click', 'view')),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT p.purchase_id, t.channel FROM p JOIN t
        |      ON p.user_id = t.user_id AND t.touch_ts < p.p_ts
        |       AND t.touch_ts >= p.p_ts - INTERVAL 7 DAY),
        |c AS (SELECT purchase_id, channel,
        |       1000000 // count(*) OVER (PARTITION BY purchase_id) AS credit_micro
        |      FROM m),
        |touched AS (SELECT channel, count(*) AS n_touches,
        |             count(DISTINCT purchase_id) AS n_purchases,
        |             CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        |            FROM c GROUP BY 1),
        |untouched AS (SELECT '(none)' AS channel, 0 AS n_touches,
        |               count(*) AS n_purchases, count(*) * 1000000 AS credit_micro
        |              FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM m))
        |SELECT channel, CAST(n_touches AS BIGINT) AS n_touches,
        | CAST(n_purchases AS BIGINT) AS n_purchases,
        | CAST(credit_micro AS BIGINT) / 1000000.0 AS attributed
        |FROM (SELECT * FROM touched UNION ALL SELECT * FROM untouched)
        |ORDER BY channel""".stripMargin)),
    // A/B readout: arm and conversion are exact integers; rate and z
    // doubles are written in the SAME operation order as the Spark
    // side, and the significance verdict compares the ROUNDED |z|
    QuerySpec("q_evt_ab_test", (s, d) => Events.abTestConversion(s, d),
      Some("""WITH u AS (
        | SELECT user_id,
        |  CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    > 60000 THEN 1 ELSE 0 END AS c
        | FROM events GROUP BY user_id),
        |a AS (
        | SELECT user_id % 2 AS arm, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS k
        | FROM u GROUP BY 1),
        |w AS (
        | SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |  max(CASE WHEN arm = 0 THEN k END) AS conv_a,
        |  max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |  max(CASE WHEN arm = 1 THEN k END) AS conv_b
        | FROM a),
        |z0 AS (
        | SELECT *, CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
        | FROM w),
        |z1 AS (
        | SELECT *, CASE WHEN se > 0 THEN
        |   (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |    / se END AS zr
        | FROM (SELECT *,
        |   sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)) AS se
        |  FROM z0) t2)
        |SELECT n_a, conv_a, n_b, conv_b,
        | round(CAST(conv_a AS DOUBLE) / n_a, 6) AS cr_a,
        | round(CAST(conv_b AS DOUBLE) / n_b, 6) AS cr_b,
        | round(zr, 6) AS z,
        | CASE WHEN abs(round(zr, 6)) > 1.96 THEN 1 ELSE 0 END
        |   AS significant
        |FROM z1""".stripMargin)),
    QuerySpec("q_evt_paths", (s, d) => Events.topEventPaths(s, d),
      Some("""WITH p AS (
        | SELECT event_type || '>' || lead(event_type, 1) OVER w
        |   || '>' || lead(event_type, 2) OVER w AS path
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT path, count(*) AS n FROM p WHERE path IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)),
    QuerySpec("q_graph_pagerank", (s, d) => Graph.nationTradePageRank(s, d), Some(pagerankSql(5))),
    QuerySpec("q_valid_cdc_apply", (s, d) => Validate.cdcMergeApply(s, d), Some {
      val (_, chgM, remM) = Validate.snapshotDiffMods
      s"""WITH $changeBatchCtes,
         |applied AS (
         | SELECT * FROM o WHERE k % $remM <> 0 AND k % $chgM <> 0
         | UNION ALL SELECT * FROM upd
         | UNION ALL SELECT * FROM ins)
         |SELECT prio, count(*) AS n_rows,
         | CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM applied GROUP BY 1 ORDER BY prio""".stripMargin
    }),
    // pattern mining + view maintenance + sparse retrieval [EXT]
    QuerySpec("q_assoc_rules", (s, d) => Mining.brandAssociationRules(s, d),
      Some(s"""WITH items AS (
         | SELECT DISTINCT l_orderkey AS basket, p_brand AS item
         | FROM lineitem JOIN part ON l_partkey = p_partkey),
         |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
         |freq AS (
         | SELECT item, count(*) AS n_i FROM items GROUP BY item
         | HAVING CAST(count(*) AS DOUBLE) >=
         |   ${Mining.assocMinSupport} * (SELECT n_baskets FROM nb)),
         |pi AS (SELECT i.basket, i.item FROM items i JOIN freq f USING (item)),
         |pairs AS (
         | SELECT a.item AS a, b.item AS b, count(*) AS n_ab
         | FROM pi a JOIN pi b ON a.basket = b.basket AND a.item < b.item
         | GROUP BY 1, 2)
         |SELECT p.a, p.b, p.n_ab, fa.n_i AS n_a, fb.n_i AS n_b, nb.n_baskets,
         | floor(p.n_ab / fa.n_i * 1e6 + 0.5) / 1e6 AS conf_ab,
         | floor(p.n_ab / fb.n_i * 1e6 + 0.5) / 1e6 AS conf_ba,
         | floor((p.n_ab * nb.n_baskets) / (fa.n_i * fb.n_i) * 1e6 + 0.5) / 1e6
         |   AS lift
         |FROM pairs p JOIN freq fa ON p.a = fa.item
         |JOIN freq fb ON p.b = fb.item CROSS JOIN nb
         |ORDER BY lift DESC, a, b LIMIT ${Mining.assocTopK}""".stripMargin)),
    QuerySpec("q_mv_refresh", (s, d) => Materialize.incrementalRevenueRefresh(s, d),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS mo, o_orderpriority,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |   AS rev,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q_text_sparse_sim", (s, d) => Text.sparseSimilarPairs(s, d),
      Some(sparsePairCtes +
        s"""
         |SELECT doc_a, doc_b, n_shared FROM spairs
         |ORDER BY n_shared DESC, doc_a, doc_b
         |LIMIT ${Text.sparseSimTopK}""".stripMargin)),
    QuerySpec("q_er_clusters", (s, d) => Mining.entityClusters(s, d),
      Some(sparsePairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
        |${componentCtes("spairs", "doc")}
        |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_graph_triangles", (s, d) => Graph.tradeTriangles(s, d),
      Some(s"""WITH $tradeUndCtes,
        |strong AS (SELECT a, b FROM und, tot WHERE w * ne > sw),
        |tri AS (
        | SELECT e1.a, e1.b, e2.b AS c
        | FROM strong e1 JOIN strong e2 ON e1.b = e2.a
        |  JOIN strong e3 ON e1.a = e3.a AND e2.b = e3.b),
        |pn AS (
        | SELECT node, count(*) AS n_triangles FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        | GROUP BY node)
        |SELECT n_name, CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles
        |FROM nation LEFT JOIN pn ON n_nationkey = node
        |ORDER BY n_triangles DESC, n_name""".stripMargin)),
    // deterministic synchronous LPA communities over the strong trade
    // graph (fixed rounds, weighted vote, (weight desc, label) tie). The
    // twin applies the triangles twin's strong-edge cut (weights kept),
    // then unrolls Graph.lpaIters vote/update CTE pairs GENERATED from the
    // same constant — weighted vote sums are exact integers, tie-break
    // (vote desc, label asc) via row_number.
    QuerySpec("q_graph_communities", (s, d) => Graph.tradeCommunities(s, d), Some {
      val rounds = (1 to Graph.lpaIters).map { i =>
        val prev = s"l${i - 1}"
        s"""v$i AS (SELECT sym.src, $prev.lbl, CAST(sum(sym.w) AS BIGINT) AS vw
           | FROM sym JOIN $prev ON sym.dst = $prev.node GROUP BY 1, 2),
           |b$i AS (SELECT src AS node, lbl FROM (
           |  SELECT src, lbl,
           |   row_number() OVER (PARTITION BY src ORDER BY vw DESC, lbl) AS r
           |  FROM v$i) WHERE r = 1),
           |l$i AS (SELECT $prev.node, COALESCE(b$i.lbl, $prev.lbl) AS lbl
           | FROM $prev LEFT JOIN b$i ON $prev.node = b$i.node)""".stripMargin
      }.mkString(",\n")
      val last = s"l${Graph.lpaIters}"
      s"""WITH $tradeUndCtes,
         |strong AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, w
         |           FROM und, tot WHERE w * ne > sw),
         |sym AS (SELECT a AS src, b AS dst, w FROM strong
         |        UNION ALL SELECT b, a, w FROM strong),
         |l0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |        CAST(n_nationkey AS BIGINT) AS lbl FROM nation),
         |$rounds,
         |cs AS (SELECT lbl, count(*) AS community_size FROM $last GROUP BY lbl)
         |SELECT n_name, $last.lbl AS community, cs.community_size
         |FROM nation JOIN $last ON n_nationkey = $last.node
         |     JOIN cs ON $last.lbl = cs.lbl
         |ORDER BY n_name""".stripMargin
    }),
    // bounded-hop cheapest routes: the recursive CTE enumerates every
    // ≤4-leg walk from the source — the exact walk set the Spark side's
    // 4 Bellman-Ford relaxation rounds minimize over
    QuerySpec("q_graph_shortest", (s, d) => Graph.boundedShortestPaths(s, d),
      Some(s"""WITH RECURSIVE e0 AS (
        | SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
        | ${Graph.tradePairsSql}),
        |mx AS (SELECT max(w) AS mw FROM e0),
        |ce AS (SELECT src, dst, CAST(mw + 1 - w AS BIGINT) AS ecost
        |  FROM e0, mx),
        |walk(node, cost, hops) AS (
        | SELECT 0, CAST(0 AS BIGINT), 0
        | UNION ALL
        | SELECT e.dst, walk.cost + e.ecost, walk.hops + 1
        | FROM walk JOIN ce e ON e.src = walk.node
        | WHERE walk.hops < 4),
        |best AS (SELECT node, min(cost) AS cost FROM walk GROUP BY node),
        |bh AS (
        | SELECT w.node, b.cost, CAST(min(w.hops) AS INT) AS hops
        | FROM walk w JOIN best b ON w.node = b.node AND w.cost = b.cost
        | GROUP BY w.node, b.cost)
        |SELECT n_name, cost, hops
        |FROM nation JOIN bh ON n_nationkey = node
        |ORDER BY cost, n_name""".stripMargin)),
    // PPJoin oracle: the BRUTE-FORCE join over the SAME hashed shingle
    // sets as the dedup family (dedupCtes' hsh) — prefix filtering is
    // exact (no false negatives), so the filtered Spark plan must
    // reproduce the full quadratic answer bit-for-bit; thresholds are
    // the same all-integer τ = 3/5 comparisons on both engines
    QuerySpec("q_text_ppjoin", (s, d) => Text.prefixFilterJoin(s, d),
      Some(dedupCtes +
        """
        |, j AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS i,
        |  CAST(len(a.hs) AS BIGINT) AS na, CAST(len(b.hs) AS BIGINT) AS nb
        | FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        | round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jac
        |FROM j WHERE i * 5 >= (na + nb - i) * 3
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // forecast backtest: integer-cents series; drift slope's integer
    // division wrapped in the same trunc-toward-zero sign split as the
    // Spark side's `div`
    QuerySpec("q_ts_forecast", (s, d) => TimeSeries.revenueForecastBacktest(s, d),
      Some("""WITH mo AS (
        | SELECT c_nationkey AS nk,
        |  year(o_orderdate) * 12 + month(o_orderdate) AS mk,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2),
        |s AS (
        | SELECT c.nk, c.mk, c.cents,
        |  row_number() OVER (PARTITION BY c.nk ORDER BY c.mk) AS idx,
        |  count(*) OVER (PARTITION BY c.nk) AS m,
        |  p.cents AS snv
        | FROM mo c LEFT JOIN mo p ON p.nk = c.nk AND p.mk = c.mk - 12),
        |sf AS (SELECT * FROM s WHERE m >= 18),
        |an AS (
        | SELECT nk, max(CASE WHEN idx = 1 THEN cents END) AS y1,
        |  max(CASE WHEN idx = m - 6 THEN cents END) AS yT
        | FROM sf WHERE idx = 1 OR idx = m - 6 GROUP BY nk),
        |er AS (
        | SELECT sf.nk, count(*) AS n_test,
        |  CAST(sum(abs(cents - snv)) AS BIGINT) AS sae_snaive_cents,
        |  CAST(sum(abs(cents - (yT + (CASE WHEN yT - y1 >= 0
        |    THEN ((idx - (m - 6)) * (yT - y1)) // (m - 7)
        |    ELSE -(((idx - (m - 6)) * (y1 - yT)) // (m - 7)) END))))
        |   AS BIGINT) AS sae_drift_cents
        | FROM sf JOIN an ON sf.nk = an.nk
        | WHERE idx > m - 6
        | GROUP BY sf.nk)
        |SELECT n_name, n_test, sae_snaive_cents, sae_drift_cents,
        | round(CAST(sae_snaive_cents AS DOUBLE) / (n_test * 100), 6)
        |   AS mae_snaive,
        | round(CAST(sae_drift_cents AS DOUBLE) / (n_test * 100), 6)
        |   AS mae_drift,
        | CASE WHEN sae_drift_cents < sae_snaive_cents THEN 'drift'
        |   WHEN sae_snaive_cents IS NULL THEN 'drift'
        |   ELSE 'snaive' END AS best_method
        |FROM nation JOIN er ON n_nationkey = nk
        |ORDER BY n_name""".stripMargin)),
    QuerySpec("q_profile_skew", (s, d) => Stats.keySkewProfile(s, d),
      Some("""WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem
        |           GROUP BY l_orderkey),
        |s AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows,
        |       max(cnt) AS max_cnt, avg(cnt) AS avg_cnt FROM c),
        |r AS (SELECT l_orderkey, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, l_orderkey)
        |            AS BIGINT) AS rnk
        |      FROM c)
        |SELECT rnk, l_orderkey, cnt,
        | round(cnt * 100.0 / n_rows, 6) AS share_pct, n_keys,
        | round(max_cnt / avg_cnt, 4) AS skew_factor
        |FROM r, s WHERE rnk <= 10 ORDER BY rnk""".stripMargin)),
    QuerySpec("q_cube_revenue", (s, d) => Relational.cubeRevenue(s, d),
      Some("""SELECT r_name, c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, c_mktsegment)
        |ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin)),
    // z-order layout audit [EXT]: exact-integer Morton clustering of
    // orders over (custkey, day) — the multi-dimensional stats-pruning
    // layout. The twin rank-scales both dims by exact integer arithmetic,
    // Morton-interleaves (the 32-term shift/mask expression is GENERATED
    // from Layout.zBits — it cannot drift from the engine), buckets by the
    // top 8 z-bits and reports per-bucket envelopes.
    QuerySpec("q_layout_zorder", (s, d) => Layout.zorderBucketStats(s, d),
      Some(s"""WITH od AS (SELECT o_orderkey, o_custkey,
         |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         | FROM orders),
         |st AS (SELECT min(o_custkey) AS mn_c, max(o_custkey) AS mx_c,
         |        min(day) AS mn_d, max(day) AS mx_d FROM od),
         |zv AS (SELECT o_orderkey, o_custkey, day,
         |  COALESCE(((o_custkey - mn_c) * 65535) // NULLIF(mx_c - mn_c, 0), 0) AS u,
         |  COALESCE(((day - mn_d) * 65535) // NULLIF(mx_d - mn_d, 0), 0) AS v
         | FROM od CROSS JOIN st),
         |z AS (SELECT o_orderkey, o_custkey, day,
         |  (${graft.ops.Layout.interleaveSql("u", "v")}) AS zval FROM zv)
         |SELECT zval >> 24 AS bucket, count(*) AS n,
         | min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
         | min(day) AS min_day, max(day) AS max_day
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // snapshot time travel: two-version planted history in the
    // Snapshots store, read back by id and full-outer diffed. The twin
    // recomputes both versions from raw orders (v1 = date-truncated, minus
    // 1-URGENT, plus the synthetic 0-LEGACY row; v2 = full), then the same
    // status diff, so the hash check proves publish/readVersion fidelity
    QuerySpec("q_layout_time_travel", (s, d) => Layout.timeTravelDiff(s, d), Some(timeTravelSql)),
    // schema evolution: v1 narrow (INT count, no cents), v2 evolved —
    // both read back reconciled to the evolved schema and diffed. The twin
    // recomputes all three version DEFINITIONS from raw orders (v1 cast
    // through INT exactly like the stored narrow schema), reconciled in
    // BIGINT with the added column NULL on the v1 side — cents_old is the
    // -1 sentinel everywhere by construction — and the RENAME resolved the
    // way stable column ids demand: cnt_renamed_v2 IS v2's n_orders
    // surfacing under v3's order_cnt name (a by-name read would yield the
    // -1 sentinel and break the hash)
    QuerySpec("q_layout_schema_evo", (s, d) => Layout.schemaEvolutionDiff(s, d),
      Some(s"""WITH v1 AS (
        | SELECT o_orderpriority,
        |  CAST(CAST(count(*) AS INT) AS BIGINT) AS n_orders,
        |  CAST(NULL AS BIGINT) AS cents
        | FROM orders
        | WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |   AND o_orderpriority <> '1-URGENT'
        | GROUP BY 1),
        |v2 AS (
        | SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(${centsSql("o_totalprice")})
        |    AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |v3 AS (
        | SELECT o_orderpriority, count(*) AS order_cnt
        | FROM orders
        | WHERE o_orderdate < TIMESTAMP '1998-01-01'
        | GROUP BY 1)
        |SELECT coalesce(v1.o_orderpriority, v2.o_orderpriority)
        |    AS o_orderpriority,
        |  CASE WHEN v1.o_orderpriority IS NULL THEN 'added'
        |       WHEN v2.o_orderpriority IS NULL THEN 'removed'
        |       WHEN v1.n_orders IS DISTINCT FROM v2.n_orders
        |         OR v1.cents IS DISTINCT FROM v2.cents THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(v1.n_orders, -1) AS n_old,
        |  coalesce(v2.n_orders, -1) AS n_new,
        |  coalesce(v1.cents, -1) AS cents_old,
        |  coalesce(v2.cents, -1) AS cents_new,
        |  coalesce(v2.n_orders, -1) AS cnt_renamed_v2,
        |  coalesce(v3.order_cnt, -1) AS cnt_v3
        |FROM v1 FULL OUTER JOIN v2
        |  ON v1.o_orderpriority = v2.o_orderpriority
        |LEFT JOIN v3
        |  ON v3.o_orderpriority
        |     = coalesce(v1.o_orderpriority, v2.o_orderpriority)
        |ORDER BY 1""".stripMargin)),
    // compaction skip audit: file-stats pruning before vs after
    // bin-packing — arrival-cut files scan everything, clustered files
    // scan only the day-range slice. The twin uses the same broadcast
    // stats row, the same ((x-mn)*16) // (mx-mn+1) integer bin arithmetic
    // for both layout models and the same envelope-intersects-predicate
    // pruning rule
    QuerySpec("q_layout_compact", (s, d) => Layout.compactionSkipAudit(s, d), Some {
      val b = graft.ops.Layout.compactBins
      s"""WITH od AS (SELECT o_orderkey,
         |  CAST(date_diff('day', DATE '1992-01-01',
         |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         | FROM orders),
         |st AS (SELECT min(day) AS mn_d, max(day) AS mx_d,
         |  min(o_orderkey) AS mn_k, max(o_orderkey) AS mx_k FROM od),
         |w AS (SELECT o_orderkey, day,
         |  ((day - mn_d) * $b) // (mx_d - mn_d + 1) AS bin_c,
         |  ((o_orderkey - mn_k) * $b) // (mx_k - mn_k + 1) AS bin_a,
         |  mn_d + 100 AS lo, mn_d + 130 AS hi
         | FROM od CROSS JOIN st),
         |ca AS (SELECT bin_c AS bin, count(*) AS n,
         |  min(day) AS mnd, max(day) AS mxd, max(lo) AS lo, max(hi) AS hi,
         |  CAST(sum(CASE WHEN day >= lo AND day <= hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS matched
         | FROM w GROUP BY 1),
         |aa AS (SELECT bin_a AS bin, count(*) AS n,
         |  min(day) AS mnd, max(day) AS mxd, max(lo) AS lo, max(hi) AS hi,
         |  CAST(sum(CASE WHEN day >= lo AND day <= hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS matched
         | FROM w GROUP BY 1)
         |SELECT 'arrival' AS layout, count(*) AS n_files,
         | CAST(sum(CASE WHEN mxd >= lo AND mnd <= hi THEN 1 ELSE 0 END)
         |   AS BIGINT) AS files_scanned,
         | CAST(sum(CASE WHEN mxd >= lo AND mnd <= hi THEN n ELSE 0 END)
         |   AS BIGINT) AS rows_scanned,
         | CAST(sum(matched) AS BIGINT) AS rows_matched
         |FROM aa
         |UNION ALL
         |SELECT 'clustered', count(*),
         | CAST(sum(CASE WHEN mxd >= lo AND mnd <= hi THEN 1 ELSE 0 END)
         |   AS BIGINT),
         | CAST(sum(CASE WHEN mxd >= lo AND mnd <= hi THEN n ELSE 0 END)
         |   AS BIGINT),
         | CAST(sum(matched) AS BIGINT)
         |FROM ca
         |ORDER BY 1""".stripMargin
    }),
    // REAL footer-stats pruning audit: per-file row counts + day
    // envelopes read from actual parquet footers of stored snapshot
    // versions (arrival-cut vs genuinely compacted), with the pruning
    // decision for a selective 31-day window. DuckDB groups the same
    // physical snapshot files by filename (write UUID removed) and
    // recomputes each file's row count and day envelope FROM THE DATA —
    // footer statistics must agree with physical reality file by file,
    // and the pruning rule (envelope intersects the min+100..min+130
    // window) is shared
    QuerySpec("q_layout_file_stats", (s, d) => Layout.fileStatsAudit(s, d),
      Some(s"""WITH f1 AS (
         | SELECT regexp_replace(regexp_extract(filename, '[^/]*$$'),
         |   '${Layout.writeUuidRegex}', '') AS file,
         |   count(*) AS n_rows, min(day) AS min_day, max(day) AS max_day
         | FROM read_parquet('${graft.ops.Layout.fstatsV1Token}/*.parquet',
         |                   filename=true)
         | GROUP BY 1),
         |f2 AS (
         | SELECT regexp_replace(regexp_extract(filename, '[^/]*$$'),
         |   '${Layout.writeUuidRegex}', '') AS file,
         |   count(*) AS n_rows, min(day) AS min_day, max(day) AS max_day
         | FROM read_parquet('${graft.ops.Layout.fstatsV2Token}/*.parquet',
         |                   filename=true)
         | GROUP BY 1),
         |b AS (SELECT min(min_day) + 100 AS lo FROM f1),
         |a AS (SELECT CAST(1 AS BIGINT) AS version, * FROM f1
         |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM f2)
         |SELECT version, file, n_rows, min_day, max_day,
         |  CAST(max_day >= b.lo AND min_day <= b.lo + 30 AS BIGINT) AS hit
         |FROM a CROSS JOIN b
         |ORDER BY version, file""".stripMargin)),
    // change data feed between snapshot versions: insert/delete/update
    // pre+post image rows off the planted history. The twin recomputes
    // both planted versions from raw orders, then applies the Delta-CDF
    // row rules — inserts carry new values, deletes old, updates one
    // preimage + one postimage
    QuerySpec("q_layout_cdf", (s, d) => Layout.changeFeedBetweenVersions(s, d),
      Some(s"""WITH ${Layout.ttVersionCtes},
        |j AS (SELECT coalesce(v1.o_orderpriority, v2.o_orderpriority) AS p,
        |  v1.n_orders AS o_n, v1.cents AS o_c,
        |  v2.n_orders AS n_n, v2.cents AS n_c,
        |  CASE WHEN v1.o_orderpriority IS NULL THEN 'insert'
        |       WHEN v2.o_orderpriority IS NULL THEN 'delete'
        |       WHEN v1.n_orders IS DISTINCT FROM v2.n_orders
        |         OR v1.cents IS DISTINCT FROM v2.cents THEN 'update'
        |       ELSE 'same' END AS t
        | FROM v1 FULL OUTER JOIN v2
        |   ON v1.o_orderpriority = v2.o_orderpriority)
        |SELECT p AS o_orderpriority, n_n AS n_orders, n_c AS cents,
        |  'insert' AS change_type FROM j WHERE t = 'insert'
        |UNION ALL
        |SELECT p, o_n, o_c, 'delete' FROM j WHERE t = 'delete'
        |UNION ALL
        |SELECT p, o_n, o_c, 'update_preimage' FROM j WHERE t = 'update'
        |UNION ALL
        |SELECT p, n_n, n_c, 'update_postimage' FROM j WHERE t = 'update'
        |ORDER BY 1, 4""".stripMargin)),
    // MERGE INTO as a versioned snapshot: copy-on-write merge published
    // as the next version, verified by reading both stored versions back
    // and change-feeding between them. The twin recomputes the pre- and
    // post-merge states from raw orders with the shared pmod change
    // families, then the CDF classification — value-change detection (not
    // the pmod rule) decides 'update', so a change row whose new cents
    // equal the old (cents*110//100 == cents) correctly emits nothing,
    // exactly like the engine's changeFeedOf
    QuerySpec("q_snap_merge", (s, d) => Layout.mergeIntoSnapshot(s, d), Some(snapMergeSql)),
    // MERGE as a lightweight DELTA version reconciled at read time
    // (merge-on-read): same change batch, same declared output as
    // q_snap_merge by construction — the hash check proves the two
    // write paths (copy-on-write rewrite vs O(batch) delta publish +
    // lazy anti-join/union reconcile) are state-equivalent end to end
    QuerySpec("q_snap_merge_mor", (s, d) => Layout.mergeIntoSnapshotMoR(s, d), Some(snapMergeSql)),
    // MERGE as a POSITIONAL-DELETE delta: the publish resolves touched
    // keys to (file, pos) once and stores a deletion vector, so the
    // merged read is live-files minus ONE fixed-width anti-join however
    // deep the stack — third write path, same declared output, same twin
    QuerySpec("q_snap_merge_dv", (s, d) => Layout.mergeIntoSnapshotDV(s, d), Some(snapMergeSql)),
    // schema evolution COMPOSED with merge-on-read (round-15 verdict #2):
    // the DV-stacked state read under a later version's RENAMED schema,
    // resolved by stable column id through the merged reconcile — the
    // renamed column surfaces the delta-merged data. The twin recomputes
    // the merged state from raw orders and reports it under the evolved
    // name; by-name resolution would read amount_cents as a NULL sum and
    // break the hash
    QuerySpec("q_snap_schema_evo_dv", (s, d) => Layout.schemaEvolutionOverDV(s, d),
      Some(s"""$snapMergeStateCtes
         |SELECT prio, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS total_amount_cents
         |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin)),
    // MERGE driven from SQL TEXT: TVF version read + the same two-branch
    // anti-join/union MERGE shape + the shared summary grid, all in one
    // spark.sql — bit-identical to q_snap_merge, same twin
    QuerySpec("q_sql_merge", (s, d) => Layout.sqlMergeSummary(s, d), Some(snapMergeSql)),
    QuerySpec("q_text_token_accounting", (s, d) => Text.tokenAccounting(s, d),
      Some(s"""SELECT doc_id,
        | CAST(len(${tokensSql("text")}) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(${tokensSql("text")},
        |     t -> CAST(ceil(len(t) / 4.0) AS BIGINT))),
        |   (acc, x) -> acc + x) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // IVF top-k, oracle-checked via the q_sim_ivf_centroids dump: ONLY
    // the k-means fit is engine-specific; given the dumped centroids the
    // twin recomputes cell assignment (argmin |c|²−2·v·c, lowest-cell
    // tie-break = Spark's array_position-of-min), probe ranking
    // (cosine-to-centroid DESC, cell — nProbe = 8 of nlist = 16), and the
    // exact-cosine top-10 from RAW embeddings — the dump is input, not the
    // answer. Literals mirror ivfTopKCosine's defaults.
    QuerySpec("q_sim_ivf_topk", (s, d) => Similarity.ivfTopKCosine(s, d),
      Some(s"""WITH ${embNormCtes("e", "n")},
         |${ivfCtes("n")},
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |scored AS (${ivfScored("q", 8)})
         |${topKSql("scored", 10)} ORDER BY q_id, rnk""".stripMargin)),
    // IVF recall-vs-probe operating curve: recall@10 vs exact at probe
    // levels 1/2/4/8. The twin sweeps the probe cutoff over the same ladder
    // with brute ground truth (simTopkCtes) and the q_sim_ivf_topk twin's
    // centroid-dump arithmetic, one recall row per level, floor-half-up
    // rounding shared with the Spark side — the whole tradeoff curve is
    // oracle-checked, not a single operating point
    QuerySpec("q_sim_probe_curve", (s, d) => Similarity.ivfProbeRecallCurve(s, d), Some {
      val levels = Seq(1, 2, 4, 8)
      val shared = simTopkCtes + ",\n" + ivfCtes("n") + ",\n" +
        "qq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10)"
      val perLevel = levels.map { p =>
        s""",
           |sc$p AS (${ivfScored("qq", p)}),
           |tp$p AS (${topKSql(s"sc$p", 10, "q_id, cand_id")}),
           |ht$p AS (SELECT count(*) AS n FROM topk
           |         JOIN tp$p USING (q_id, cand_id))""".stripMargin
      }.mkString
      val rows = levels.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS n_probe,
           | (SELECT count(*) FROM topk) AS n_true,
           | (SELECT n FROM ht$p) AS n_hit,
           | floor(CAST((SELECT n FROM ht$p) AS DOUBLE)
           |   / (SELECT count(*) FROM topk) * 1e6 + 0.5) / 1e6 AS recall"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      shared + perLevel + "\n" + rows + "\nORDER BY n_probe"
    }),
    // the dump behind the twin above: the coarse-quantizer centroids
    // (rows-only — the k-means fit itself is engine-specific by nature)
    QuerySpec("q_sim_ivf_centroids", (s, d) => Similarity.ivfCentroidsDump(s, d)),
    // product quantization (Jégou et al. 2011): codebook dump (rows-only —
    // per-subspace k-means fit), then THREE hash-checked replays off it:
    // the code assignment itself, ADC top-k, and the composed IVF-PQ plan
    QuerySpec("q_sim_pq_codebooks", (s, d) => Similarity.pqCodebooksDump(s, d)),
    // PQ code assignment replay over the q_sim_pq_codebooks dump: given
    // the per-subspace centroids, normalization and the argmin are exact
    // replayable arithmetic — the published 8-byte/row code layout itself
    // is hash-checked, not just the retrieval built on it.
    QuerySpec("q_sim_pq_codes", (s, d) => Similarity.pqCodesDump(s, d),
      Some(s"""WITH $pqCtes
         |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
         |       CAST(code AS BIGINT) AS code
         |FROM pasg ORDER BY vec_id, subspace""".stripMargin)),
    // PQ ADC top-k replay (Jégou et al. 2011): per-query subspace
    // distance tables off the dumped codebooks, ADC = ordered 8-term
    // fold of table lookups, shortlist 64 by (adc, cand_id), exact
    // cosine re-rank from raw embeddings. Literals mirror
    // pqTopKCosine's defaults.
    QuerySpec("q_sim_pq_topk", (s, d) => Similarity.pqTopKCosine(s, d),
      Some(s"""WITH $pqCtes,
         |padc AS (SELECT pdt.q_id, pasg.vec_id AS cand_id,
         |  list_reduce(list(pdt.term ORDER BY pdt.subspace), (x,y) -> x+y) AS adc
         | FROM pasg JOIN pdt ON pasg.subspace = pdt.subspace AND pasg.code = pdt.code
         | WHERE pasg.vec_id <> pdt.q_id
         | GROUP BY pdt.q_id, pasg.vec_id),
         |${pqRerankTail("padc")}""".stripMargin)),
    // IVF-PQ replay: coarse-cell assignment + probe ranking from the
    // q_sim_ivf_centroids dump (the shared ivfCtes block, as in the
    // q_sim_ivf_topk twin), PQ codes + ADC from the q_sim_pq_codebooks dump, ADC
    // restricted to candidates in the query's 8 probed cells, then the
    // shared shortlist + exact re-rank tail.
    QuerySpec("q_sim_ivfpq_topk", (s, d) => Similarity.ivfPqTopKCosine(s, d),
      Some(s"""WITH $pqCtes,
         |${ivfCtes("pw")},
         |iprobed AS (SELECT q_id, cell FROM ipr WHERE cr <= 8),
         |iadc AS (SELECT pdt.q_id, pasg.vec_id AS cand_id,
         |  list_reduce(list(pdt.term ORDER BY pdt.subspace), (x,y) -> x+y) AS adc
         | FROM pasg
         | JOIN iasg ON iasg.vec_id = pasg.vec_id
         | JOIN iprobed ON iprobed.cell = iasg.cell
         | JOIN pdt ON pdt.q_id = iprobed.q_id
         |   AND pdt.subspace = pasg.subspace AND pdt.code = pasg.code
         | WHERE pasg.vec_id <> iprobed.q_id
         | GROUP BY pdt.q_id, pasg.vec_id),
         |${pqRerankTail("iadc")}""".stripMargin)),
    // hard-negative mining (DPR recipe): top-5 most-similar
    // different-label candidates per labeled query, ranked by exact
    // cosine (score desc, cand_id)
    QuerySpec("q_sim_hard_negatives", (s, d) => Similarity.hardNegatives(s, d),
      Some(s"""WITH ${embNormCtes("e", "n", extra = ", label")},
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |  c.vec_id AS cand_id, c.label AS cand_label,
        |  ${cosSimSql("q", "c")} AS cos_sim
        | FROM n q, n c
        | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.label <> c.label)
        |${topKSql("p", 5, "q_id, q_label, cand_id, cand_label, cos_sim, CAST(rnk AS BIGINT) AS rnk")}
        |ORDER BY q_id, rnk""".stripMargin)),
    // PCA: rows-only model dump + hash-checked centered projection
    QuerySpec("q_sim_pca_components", (s, d) => Similarity.pcaComponentsDump(s, d)),
    // PCA projection replay over the q_sim_pca_components dump:
    // y_k = Σ_i (v_i − mean_i)·c_{k,i}, left-fold order, round 6dp
    QuerySpec("q_sim_pca_project", (s, d) => Similarity.pcaProject(s, d),
      Some(s"""WITH pc AS (SELECT component, list(value ORDER BY dim) AS c
         | FROM '${graft.explore.Stats.verifyOutToken}/q_sim_pca_components/*.parquet'
         | WHERE component >= 0 GROUP BY component),
         |mu AS (SELECT list(value ORDER BY dim) AS m
         | FROM '${graft.explore.Stats.verifyOutToken}/q_sim_pca_components/*.parquet'
         | WHERE component = -1),
         |e AS (SELECT vec_id, $embDoubleSql FROM embeddings)
         |SELECT e.vec_id, CAST(pc.component AS BIGINT) AS component,
         | round(${sumDimsSql("(e.v[i] - mu.m[i]) * pc.c[i]")}, 6) AS value
         |FROM e CROSS JOIN pc CROSS JOIN mu
         |ORDER BY vec_id, component""".stripMargin)),
    // residual IVF-PQ (IVFADC proper): codes quantize nv − cn(cell);
    // codebook dump rows-only, codes + retrieval hash-checked from it
    QuerySpec("q_sim_rpq_codebooks", (s, d) => Similarity.rpqCodebooksDump(s, d)),
    // residual code assignment replay over the q_sim_rpq_codebooks +
    // q_sim_ivf_centroids dumps: normalization, raw-vector coarse
    // argmin, centroid normalization, rv = w − cn, per-subspace argmin
    // — the published residual layout itself is hash-checked.
    QuerySpec("q_sim_rpq_codes", (s, d) => Similarity.rpqCodesDump(s, d),
      Some(s"""WITH $rpqCtes
         |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
         |       CAST(code AS BIGINT) AS code
         |FROM rasg ORDER BY vec_id, subspace""".stripMargin)),
    // residual IVF-PQ (IVFADC) replay: probe ranking from the centroid
    // dump (the shared ivfCtes block), PER-(query, probed
    // cell) residual distance tables (qrv = qw − cn), candidates scored
    // via their own cell's table, shared shortlist + exact re-rank.
    QuerySpec("q_sim_ivfrpq_topk", (s, d) => Similarity.ivfRpqTopKCosine(s, d),
      Some(s"""WITH $rpqCtes,
         |pq AS (SELECT vec_id AS q_id, w AS qw FROM pw WHERE vec_id < 10),
         |iprobed AS (SELECT q_id, cell FROM ipr WHERE cr <= 8),
         |rqd AS (SELECT pq.q_id, iprobed.cell,
         |  ${dimsSql("pq.qw[i] - icn.cn[i]")} AS qrv
         | FROM pq JOIN iprobed USING (q_id) JOIN icn USING (cell)),
         |rdt AS (SELECT rqd.q_id, rqd.cell, rcb.subspace, rcb.code,
         |  ${adcTermSql("rqd.qrv", "rcb")} AS term
         | FROM rqd CROSS JOIN rcb),
         |radc AS (SELECT rdt.q_id, rasg.vec_id AS cand_id,
         |  list_reduce(list(rdt.term ORDER BY rdt.subspace), (x,y) -> x+y) AS adc
         | FROM rasg
         | JOIN iasg ON iasg.vec_id = rasg.vec_id
         | JOIN rdt ON rdt.cell = iasg.cell
         |   AND rdt.subspace = rasg.subspace AND rdt.code = rasg.code
         | WHERE rasg.vec_id <> rdt.q_id
         | GROUP BY rdt.q_id, rasg.vec_id),
         |${pqRerankTail("radc")}""".stripMargin)),
    // text-analysis pack [EXT] (SURVEY §2.B text-analysis row)
    QuerySpec("q_text_tokens", (s, d) => Text.tokenCounts(s, d),
      Some(s"""SELECT token, count(*) AS n FROM (
        | SELECT unnest(${tokensSql("text")}) AS token
        | FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),
    QuerySpec("q_text_doc_stats", (s, d) => Text.docStats(s, d),
      Some(s"""SELECT lang, source, count(*) AS n_docs,
        | round(avg(n_chars), 4) AS avg_chars,
        | round(avg(n_tokens), 4) AS avg_tokens,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM (SELECT lang, source, n_chars,
        |       CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        |      FROM documents) t
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),
    QuerySpec("q_text_quality", (s, d) => Text.qualityScore(s, d),
      Some(s"""WITH q AS (
        | SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len_chars,
        |  ${tokensSql("text")} AS toks
        | FROM documents),
        |r AS (
        | SELECT doc_id, lang, len_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop
        | FROM q)
        |SELECT doc_id, lang, len_chars, n_tokens, n_distinct, n_stop,
        | round(n_distinct / n_tokens, 6) AS diversity,
        | round(n_stop / n_tokens, 6) AS stop_ratio,
        | $qualitySql AS quality
        |FROM r ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_langid", (s, d) => Text.langIdConfusion(s, d), Some(langIdOracle)),
    QuerySpec("q_text_fingerprint", (s, d) => Text.fingerprintPoly(s, d),
      Some(s"""SELECT doc_id, ${polyHashSql("text")} AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_bigrams", (s, d) => Text.bigramCounts(s, d), Some(bigramOracle)),
    QuerySpec("q_text_length_filter", (s, d) => Text.lengthFilteredStats(s, d),
      Some("""WITH d AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |b AS (SELECT quantile_cont(n_tokens, 0.05) AS p_lo,
        |       quantile_cont(n_tokens, 0.95) AS p_hi FROM d)
        |SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
        |FROM d, b WHERE n_tokens >= p_lo AND n_tokens <= p_hi
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    QuerySpec("q_text_repetition", (s, d) => Text.repetitionSignals(s, d), Some(repetitionOracle)),
    QuerySpec("q_text_decontaminate", (s, d) => Text.decontaminate(s, d),
      Some("""SELECT doc_id, lang FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents b
        |                  WHERE b.doc_id % 100 = 0 AND b.text = d.text)
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_decon_ngram", (s, d) => Text.decontaminateNgram(s, d),
      Some(dedupCtes +
        """
        |, bset AS (SELECT DISTINCT unnest(hs) AS h FROM hsh
        |           WHERE doc_id % 50 = 0),
        |ex AS (SELECT doc_id, unnest(hs) AS h FROM hsh WHERE doc_id % 50 <> 0),
        |shr AS (SELECT e.doc_id, count(*) AS n_shared
        |        FROM ex e JOIN bset b ON e.h = b.h GROUP BY e.doc_id)
        |SELECT s.doc_id, d.source, s.n_shared
        |FROM shr s JOIN documents d ON s.doc_id = d.doc_id
        |WHERE s.n_shared >= 3 ORDER BY s.doc_id""".stripMargin)),
    QuerySpec("q_text_split", (s, d) => Text.corpusSplit(s, d),
      Some(s"""WITH h AS (
         | SELECT doc_id, ${polyHashSql("text")} AS fp
         | FROM documents)
         |SELECT doc_id,
         | CASE WHEN fp % 10 <= 7 THEN 'train'
         |      WHEN fp % 10 = 8 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_packing", (s, d) => Text.packChunks(s, d),
      Some(s"""WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
        | FROM documents)
        |SELECT doc_id, source, n_tok,
        | CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256) AS BIGINT) AS chunk_id
        |FROM t ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_normalize_numbers", (s, d) => Text.normalizeNumbers(s, d),
      Some("""WITH n AS (
        | SELECT source,
        |  CASE WHEN regexp_replace(text, '[0-9]+', '<num>', 'g') <> text
        |       THEN 1 ELSE 0 END AS changed,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
        |  length(regexp_replace(text, '[0-9]+', '<num>', 'g')) AS norm_len
        | FROM documents)
        |SELECT source, count(*) AS n_docs, CAST(sum(changed) AS BIGINT) AS n_changed,
        | CAST(sum(digit_chars) AS BIGINT) AS digit_chars,
        | CAST(sum(norm_len) AS BIGINT) AS norm_chars
        |FROM n GROUP BY source ORDER BY source""".stripMargin)),
    QuerySpec("q_text_lm_score", (s, d) => Text.lmQualityScore(s, d),
      Some(s"""WITH ${tokenHashCtes(2)},
         |tru AS (
         | SELECT doc_id, th, unnest(generate_series(1, len(th)-1)) AS i FROM th),
         |tr AS (
         | SELECT doc_id, th[i] AS h1,
         |  ${combine2Sql("th[i]", "th[i+1]")} AS bh
         | FROM tru),
         |lm AS (SELECT h1, bh, count(*) AS c12 FROM tr GROUP BY 1, 2),
         |ctx AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY 1),
         |v AS (SELECT count(DISTINCT h) AS v
         |      FROM (SELECT unnest(th) AS h FROM th)),
         |s AS (
         | SELECT tr.doc_id,
         |  CAST(floor(ln((lm.c12 + 0.5) / (ctx.c1 + 0.5 * v.v)) * 1e9 + 0.5)
         |    AS BIGINT) AS lp9
         | FROM tr JOIN lm ON tr.h1 = lm.h1 AND tr.bh = lm.bh
         |         JOIN ctx ON tr.h1 = ctx.h1 CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_trans,
         | floor(CAST(sum(lp9) AS DOUBLE) / count(*) / 1e3 + 0.5) / 1e6
         |   AS lm_score
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_text_mix_sample", (s, d) => Text.temperatureMix(s, d),
      Some(s"""WITH s AS (SELECT source, count(*) AS n_docs FROM documents
         |           GROUP BY source),
         |w AS (SELECT max(pow(CAST(n_docs AS DOUBLE), ${Text.mixExponent})) AS w_max
         |      FROM s),
         |p AS (SELECT source, n_docs,
         |       pow(CAST(n_docs AS DOUBLE), ${Text.mixExponent}) / w_max AS p
         |      FROM s, w),
         |acc AS (
         | SELECT d.source, count(*) AS n_sampled
         | FROM documents d JOIN p ON d.source = p.source
         | WHERE ${polyHashSql("CAST(d.doc_id AS VARCHAR)")} % 1000000 < floor(p.p * 1e6)
         | GROUP BY d.source)
         |SELECT p.source, p.n_docs, round(p.p, 6) AS p_accept, acc.n_sampled
         |FROM p JOIN acc ON p.source = acc.source
         |ORDER BY p.source""".stripMargin)),
    QuerySpec("q_text_chunk_windows", (s, d) => Text.chunkWindows(s, d),
      Some(s"""WITH t AS (
         | SELECT doc_id,
         |  CAST(len(${tokensSql("text")})
         |    AS BIGINT) AS n_tok
         | FROM documents),
         |w AS (
         | SELECT doc_id, n_tok,
         |  CASE WHEN n_tok <= ${Text.chunkWindowTokens} THEN 1
         |       ELSE CAST(floor((n_tok - ${Text.chunkWindowTokens}
         |         + ${Text.chunkStride - 1}) / ${Text.chunkStride}.0)
         |         AS BIGINT) + 1
         |  END AS n_win
         | FROM t WHERE n_tok > 0),
         |u AS (
         | SELECT doc_id, n_tok,
         |  CAST(unnest(generate_series(0, n_win - 1)) AS BIGINT) AS win_id
         | FROM w)
         |SELECT doc_id, win_id,
         | win_id * ${Text.chunkStride} AS start_tok,
         | least(CAST(${Text.chunkWindowTokens} AS BIGINT),
         |   n_tok - win_id * ${Text.chunkStride}) AS win_tokens
         |FROM u ORDER BY doc_id, win_id""".stripMargin)),
    QuerySpec("q_text_boilerplate", (s, d) => Text.boilerplateSpans(s, d),
      Some(s"""WITH $boilSpanCtes,
         |g AS (
         | SELECT sh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
         |  min(doc_id) AS first_doc
         | FROM sp GROUP BY sh)
         |SELECT sh, n_docs, n_occ, first_doc FROM g
         |WHERE n_docs >= 2 ORDER BY n_docs DESC, sh LIMIT 50""".stripMargin)),
    QuerySpec("q_text_boiler_ratio", (s, d) => Text.boilerplateRatio(s, d),
      Some(s"""WITH $boilSpanCtes,
         |shared AS (
         | SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         |x AS (
         | SELECT d.source,
         |  CASE WHEN shared.sh IS NOT NULL THEN 1 ELSE 0 END AS is_shared
         | FROM sp JOIN documents d ON sp.doc_id = d.doc_id
         |         LEFT JOIN shared ON sp.sh = shared.sh)
         |SELECT source, count(*) AS n_windows,
         | CAST(sum(is_shared) AS BIGINT) AS n_shared,
         | floor(CAST(sum(is_shared) AS DOUBLE) * 1e6 / count(*) + 0.5) / 1e6
         |   AS shared_ratio
         |FROM x GROUP BY source ORDER BY source""".stripMargin)),
    // greedy BPE subword tokenization (Sennrich et al. ACL'16): the
    // bounded corpus-fit merge table (rows-only dump, enlisted) feeds
    // the hash-checked per-doc encode — counts + full subword rendering
    QuerySpec("q_text_bpe_merges", (s, d) => Text.bpeMergesDump(s, d)),
    // BPE encode replay over the q_text_bpe_merges dump: the IDENTICAL
    // rewriting algorithm as graft.functions.BpeTable — sep-wrapped
    // code points (chr(31)), merges in rank order, each applied as
    // leftmost-non-overlapping replace until fixpoint (a recursive CTE
    // whose step either replaces once more at the current rank or
    // advances the rank) — then per-doc reassembly in token order.
    // Distinct words encode once; the join back restores positions.
    QuerySpec("q_text_bpe", (s, d) => Text.bpeEncodedDocs(s, d),
      Some(s"""WITH RECURSIVE
         |$bpeCtes
         |SELECT t.doc_id,
         | CAST(coalesce(d.n_words, 0) AS BIGINT) AS n_words,
         | CAST(coalesce(d.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
         | coalesce(d.bpe_text, '') AS bpe_text
         |FROM t LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // per-language fertility (subwords per word) — the token-budget
    // multiplier a multilingual data mix is costed with; the twin folds
    // the shared encode CTEs to one row per language with integer sums
    // and a single rounded division
    QuerySpec("q_text_bpe_fertility", (s, d) => Text.bpeFertilityByLang(s, d),
      Some(s"""WITH RECURSIVE
         |$bpeCtes
         |SELECT doc.lang, count(*) AS n_docs,
         | CAST(sum(coalesce(d.n_words, 0)) AS BIGINT) AS n_words,
         | CAST(sum(coalesce(d.n_bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens,
         | round(CAST(sum(coalesce(d.n_bpe_tokens, 0)) AS DOUBLE)
         |   / nullif(sum(coalesce(d.n_words, 0)), 0), 6) AS fertility
         |FROM t LEFT JOIN d USING (doc_id)
         |     JOIN documents doc ON doc.doc_id = t.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // tokenizer-as-artifact APPLY: encode under the PUBLISHED merge table
    // (no refit) + per-doc token-id fold against the sorted-piece vocab.
    // The twin runs the same recursive encode off the q_text_bpe_merges
    // dump (the same fitted table), then ids = 1-based ranks of the sorted
    // distinct marked pieces and the per-doc poly fold of the ids in token
    // order (Dedup.polyFoldSql)
    QuerySpec("q_text_bpe_apply", (s, d) => Text.bpeApplyTokenIds(s, d),
      Some(s"""WITH RECURSIVE
         |$bpeCtes,
         |pl AS (SELECT doc_id,
         |  ${tokensSql("bpe_text")} AS ps
         | FROM d),
         |vv AS (SELECT p, CAST(row_number() OVER (ORDER BY p) AS BIGINT)
         |    AS pid
         | FROM (SELECT DISTINCT unnest(ps) AS p FROM pl)),
         |vn AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM vv),
         |px0 AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, len(ps)),
         |    i -> {'pos': CAST(i AS BIGINT), 'p': ps[i]})) AS u
         | FROM pl),
         |px AS (SELECT doc_id, u.pos AS pos, u.p AS p FROM px0),
         |pf AS (SELECT doc_id,
         |  ${polyFoldSql("list(pid ORDER BY pos)")} AS id_fold
         | FROM px JOIN vv USING (p) GROUP BY doc_id)
         |SELECT t.doc_id,
         | CAST(coalesce(d.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
         | CAST(coalesce(pf.id_fold, 0) AS BIGINT) AS id_fold,
         | vn.vocab_size
         |FROM t LEFT JOIN d USING (doc_id)
         |     LEFT JOIN pf ON pf.doc_id = t.doc_id
         |     CROSS JOIN vn
         |ORDER BY t.doc_id""".stripMargin)),
    // exact-substring dedup audit (Lee et al. ACL'22): maximal per-doc
    // spans whose every 16-token window recurs verbatim in another doc.
    // The twin replays stride-1 rolling 16-gram WIDE window hashes (the
    // NGramHashesWide two-fold key h1·P+h2, generated from the same
    // constants — single-fold keys birthday-collide past ~1e7 windows and
    // a collision fabricates a duplicate span invisibly, round-11 ADVICE
    // #1), the cross-doc window set and the per-doc island merge by one
    // sorted window pass — positions and extents bit-for-bit.
    QuerySpec("q_text_substr_spans", (s, d) => Text.substringDupSpans(s, d), Some {
      val w = Text.substrWindowTokens
      s"""WITH ${tokenHashCtes(w)},
         |wn0 AS (
         | SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
         |  unnest(list_transform(generate_series(1, len(th) - ${w - 1}),
         |    i -> {'pos': CAST(i - 1 AS BIGINT), 'wh': (${wideKeySql(w)})})) AS u
         | FROM th),
         |wn AS (SELECT doc_id, n_tokens, u.pos AS pos, u.wh AS wh FROM wn0),
         |dh AS (SELECT wh FROM wn GROUP BY wh
         |       HAVING count(DISTINCT doc_id) >= 2),
         |dup AS (SELECT wn.doc_id, wn.n_tokens, wn.pos
         |        FROM wn JOIN dh USING (wh)),
         |sp AS (SELECT doc_id, n_tokens, pos,
         |  CASE WHEN pos > COALESCE(lag(pos) OVER
         |    (PARTITION BY doc_id ORDER BY pos), ${-(w + 1)}) + $w
         |   THEN 1 ELSE 0 END AS ns
         | FROM dup),
         |si AS (SELECT doc_id, n_tokens, pos,
         |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS span_id
         | FROM sp),
         |sg AS (SELECT doc_id, n_tokens, span_id,
         |  min(pos) AS s, max(pos) + ${w - 1} AS e
         | FROM si GROUP BY doc_id, n_tokens, span_id)
         |SELECT doc_id, count(*) AS n_spans,
         | CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens, n_tokens,
         | round(CAST(sum(e - s + 1) AS DOUBLE) / n_tokens, 6) AS dup_frac,
         | CAST(min(s) AS BIGINT) AS first_start
         |FROM sg GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin
    }),
    // the rewrite half: excise duplicated spans everywhere except the
    // min-doc_id canonical owner, rebuild the surviving text. The twin
    // replays dup-window owners over the same WIDE window key, redundant
    // occurrences, island merge, coverage and the per-doc ordered token
    // rebuild — clean_text strings compared byte-for-byte.
    QuerySpec("q_text_substr_excise", (s, d) => Text.substringExcisedCorpus(s, d), Some {
      val w = Text.substrWindowTokens
      s"""WITH ${tokenHashCtes(w)},
         |wn0 AS (
         | SELECT doc_id,
         |  unnest(list_transform(generate_series(1, len(th) - ${w - 1}),
         |    i -> {'pos': CAST(i - 1 AS BIGINT), 'wh': (${wideKeySql(w)})})) AS u
         | FROM th),
         |wn AS (SELECT doc_id, u.pos AS pos, u.wh AS wh FROM wn0),
         |own AS (SELECT wh, min(doc_id) AS owner FROM wn GROUP BY wh
         |        HAVING count(DISTINCT doc_id) >= 2),
         |red AS (SELECT wn.doc_id, wn.pos FROM wn JOIN own USING (wh)
         |        WHERE wn.doc_id > own.owner),
         |sp AS (SELECT doc_id, pos,
         |  CASE WHEN pos > COALESCE(lag(pos) OVER
         |    (PARTITION BY doc_id ORDER BY pos), ${-(w + 1)}) + $w
         |   THEN 1 ELSE 0 END AS ns
         | FROM red),
         |si AS (SELECT doc_id, pos,
         |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS span_id
         | FROM sp),
         |sg AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + ${w - 1} AS e
         | FROM si GROUP BY doc_id, span_id),
         |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS p
         | FROM sg),
         |tk0 AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, len(toks)),
         |    i -> {'p': CAST(i - 1 AS BIGINT), 'tok': toks[i]})) AS u
         | FROM t),
         |tk AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tk0),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY p) AS clean_text
         | FROM tk ANTI JOIN cov USING (doc_id, p)
         | GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         | CAST(len(t.toks) - coalesce(kept.n_kept, 0) AS BIGINT) AS n_excised,
         | coalesce(kept.clean_text, '') AS clean_text
         |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin
    }),
    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed n-gram
    // importance weights vs the target source's profile, exact integer
    // micro-unit weights, per-source top-20% quota selection. The twin
    // uses the same unigram+bigram buckets (same polyHash/combine
    // constants) and add-one-smoothed bucket log-ratios, with
    // per-(doc,bucket) terms rounded to integer micro-units BEFORE the
    // per-doc sum (exact BIGINT — ln ulp noise absorbed, addition order
    // irrelevant).
    QuerySpec("q_text_dsir", (s, d) => Text.dsirWeights(s, d), Some {
      val b = Text.dsirBuckets
      s"""WITH ${tokenHashCtes(1, keep = "doc_id, source")},
         |f0 AS (
         | SELECT doc_id, source, unnest(list_concat(th,
         |   list_transform(generate_series(1, len(th)-1),
         |     i -> ${combine2Sql("th[i]", "th[i+1]")}))) AS h
         | FROM th),
         |db AS (SELECT doc_id, source, CAST(h % $b AS INT) AS bucket,
         |        count(*) AS c
         |       FROM f0 GROUP BY 1, 2, 3),
         |dist AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS rc,
         |  CAST(sum(CASE WHEN source = '${Text.dsirTargetSource}' THEN c
         |            ELSE 0 END) AS BIGINT) AS tc
         | FROM db GROUP BY bucket),
         |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt,
         |        CAST(sum(tc) AS BIGINT) AS tt FROM dist),
         |r AS (SELECT bucket,
         |  ln((tc + 1.0) / (tt + $b.0)) - ln((rc + 1.0) / (rt + $b.0)) AS lr
         | FROM dist, tot),
         |w AS (SELECT db.doc_id, db.source,
         |  CAST(sum(CAST(floor(CAST(c AS DOUBLE) * lr * 1e6 + 0.5) AS BIGINT))
         |    AS BIGINT) AS logw_micro
         | FROM db JOIN r USING (bucket) GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY source ORDER BY logw_micro DESC, doc_id) AS src_rank,
         |  count(*) OVER (PARTITION BY source) AS n_src FROM w)
         |SELECT doc_id, source, logw_micro, CAST(src_rank AS BIGINT) AS src_rank,
         | CAST(CASE WHEN src_rank <= ceil(n_src * ${Text.dsirSelectFrac})
         |      THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM rk ORDER BY doc_id""".stripMargin
    }),
    QuerySpec("q_text_vocab", (s, d) => Text.vocabStats(s, d),
      Some(s"""WITH $sourceTokenCtes
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_types,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        | floor(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5)
        |   / 1e6 AS ttr
        |FROM g GROUP BY source ORDER BY source""".stripMargin)),
    QuerySpec("q_text_zipf", (s, d) => Text.zipfSlope(s, d),
      Some(s"""WITH $sourceTokenCtes,
         |r AS (SELECT source, n,
         |       row_number() OVER (PARTITION BY source
         |         ORDER BY n DESC, token) AS rnk
         |      FROM g),
         |q AS (
         | SELECT source,
         |  CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS x9,
         |  CAST(floor(ln(CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS y9,
         |  CAST(floor(ln(CAST(rnk AS DOUBLE)) * ln(CAST(n AS DOUBLE)) * 1e12
         |    + 0.5) AS BIGINT) AS xy12,
         |  CAST(floor(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) * 1e12
         |    + 0.5) AS BIGINT) AS xx12
         | FROM r WHERE rnk <= ${Text.zipfTopK}),
         |s AS (SELECT source, count(*) AS n_top,
         |       CAST(sum(x9) AS BIGINT) AS sx, CAST(sum(y9) AS BIGINT) AS sy,
         |       CAST(sum(xy12) AS BIGINT) AS sxy,
         |       CAST(sum(xx12) AS BIGINT) AS sxx
         |      FROM q GROUP BY source)
         |SELECT source, n_top,
         | CASE WHEN n_top > 1 THEN
         |  floor((n_top * (CAST(sxy AS DOUBLE) / 1e12) -
         |      (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
         |    (n_top * (CAST(sxx AS DOUBLE) / 1e12) -
         |      (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))
         |    * 1e6 + 0.5) / 1e6
         | END AS slope
         |FROM s ORDER BY source""".stripMargin)),
    QuerySpec("q_text_oov", (s, d) => Text.oovRate(s, d),
      Some(s"""WITH $sourceTokenCtes,
         |v AS (SELECT token FROM (
         |       SELECT token, count(*) AS n FROM tk GROUP BY token
         |       ORDER BY n DESC, token LIMIT ${Text.oovVocabSize}))
         |SELECT g.source, CAST(sum(g.n) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN v.token IS NULL THEN g.n ELSE 0 END) AS BIGINT)
         |   AS n_oov,
         | floor(CAST(sum(CASE WHEN v.token IS NULL THEN g.n ELSE 0 END)
         |     AS DOUBLE) / CAST(sum(g.n) AS DOUBLE) * 1e6 + 0.5) / 1e6
         |   AS oov_rate
         |FROM g LEFT JOIN v ON g.token = v.token
         |GROUP BY g.source ORDER BY g.source""".stripMargin)),
    QuerySpec("q_text_pmi", (s, d) => Text.pmiCollocations(s, d),
      Some(s"""WITH t AS (
         | SELECT ${tokensSql("text")} AS t
         | FROM documents),
         |t2 AS (SELECT t FROM t WHERE len(t) >= 2),
         |b AS (SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |        i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u FROM t2),
         |p AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS n_xy FROM b
         |      GROUP BY u.w1, u.w2),
         |nx AS (SELECT w1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM p
         |       GROUP BY w1),
         |ny AS (SELECT w2, CAST(sum(n_xy) AS BIGINT) AS n_y FROM p
         |       GROUP BY w2),
         |tt AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_tot FROM p)
         |SELECT p.w1, p.w2, CAST(p.n_xy AS BIGINT) AS n_xy,
         | floor(ln(CAST(p.n_xy * tt.n_tot AS DOUBLE)
         |   / CAST(nx.n_x * ny.n_y AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS pmi
         |FROM p JOIN nx USING (w1) JOIN ny USING (w2) CROSS JOIN tt
         |WHERE p.n_xy >= ${Text.pmiMinCount}
         |ORDER BY pmi DESC, w1, w2 LIMIT ${Text.pmiTopK}""".stripMargin)),
    QuerySpec("q_ml_logloss", (s, d) => Metrics.linearLogLoss(s, d), Some {
      val names = mlScoreNames
      val yCase = (0 until Metrics.numClasses)
        .map(c => s"WHEN $c THEN score_$c").mkString(" ")
      s"""$mlScoreCtes,
         |sm AS (SELECT label, greatest(${names.mkString(", ")}) AS m,
         |  ${names.mkString(", ")}
         | FROM s),
         |ll AS (
         | SELECT m + ln(${names.map(n => s"exp($n - m)").mkString(" + ")})
         |  - (CASE label $yCase END) AS ll
         | FROM sm)
         |SELECT count(*) AS n,
         | floor(CAST(sum(CAST(floor(ll * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |   / count(*) + 0.5) / 1e6 AS log_loss
         |FROM ll""".stripMargin
    }),
    QuerySpec("q_ml_auc", (s, d) => Metrics.linearAucOvr(s, d), Some {
      val melt = (0 until Metrics.numClasses).map { c =>
        s"SELECT $c AS cls, score_$c AS score, " +
          s"CASE WHEN label = $c THEN 1 ELSE 0 END AS pos FROM s"
      }.mkString("\n  UNION ALL ")
      s"""$mlScoreCtes,
         |m AS (
         |  $melt),
         |g AS (SELECT cls, score, CAST(sum(pos) AS BIGINT) AS np,
         |       CAST(sum(1 - pos) AS BIGINT) AS nn
         |      FROM m GROUP BY cls, score),
         |c AS (SELECT cls, np, nn,
         |       CAST(coalesce(sum(nn) OVER (PARTITION BY cls ORDER BY score
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS BIGINT) AS cum_nn
         |      FROM g)
         |SELECT CAST(cls AS BIGINT) AS cls,
         | CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
         | CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
         |  floor(CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE)
         |   / CAST(2 * sum(np) * sum(nn) AS DOUBLE) * 1e6 + 0.5) / 1e6
         | END AS auc
         |FROM c GROUP BY cls ORDER BY cls""".stripMargin
    }),
    QuerySpec("q_ml_calibration", (s, d) => Metrics.linearCalibration(s, d), Some {
      val names = mlScoreNames
      s"""$mlScoreCtes,
         |x AS (SELECT label,
         |  CAST(CASE$mlCaseChain END AS BIGINT) AS pred,
         |  greatest(${names.mkString(", ")}) AS mx,
         |  ${names.mkString(", ")}
         | FROM s),
         |cf AS (SELECT label, pred,
         |  1.0 / (${names.map(n => s"exp($n - mx)").mkString(" + ")}) AS conf
         | FROM x),
         |b AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin,
         |       conf, CASE WHEN label = pred THEN 1 ELSE 0 END AS hit
         |      FROM cf)
         |SELECT bin, count(*) AS n,
         | floor(CAST(sum(CAST(floor(conf * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |   / count(*) + 0.5) / 1e6 AS avg_conf,
         | floor(CAST(sum(hit) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
         |   AS accuracy
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin
    }),
    QuerySpec("q_ml_fold_eval", (s, d) => Metrics.foldAccuracy(s, d),
      Some(mlPredCte +
        s"""
         |SELECT vec_id % ${Metrics.cvFolds} AS fold, count(*) AS n,
         | CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_hit,
         | floor(CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
         |FROM p GROUP BY vec_id % ${Metrics.cvFolds}
         |ORDER BY fold""".stripMargin)),
    QuerySpec("q_feat_psi", (s, d) => Features.psiDrift(s, d), Some {
      val nb = Features.psiBins
      s"""WITH mm AS (
         | SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
         |  CAST(max(o_totalprice) AS DOUBLE) AS mx FROM orders),
         |b AS (
         | SELECT CASE WHEN mx > mn THEN
         |    least(CAST(floor((CAST(o_totalprice AS DOUBLE) - mn) * $nb
         |      / (mx - mn)) AS BIGINT), ${nb - 1})
         |   ELSE 0 END AS bin,
         |  CASE WHEN o_orderdate < DATE '${Features.psiDateCut}'
         |   THEN 1 ELSE 0 END AS is_ref
         | FROM orders CROSS JOIN mm),
         |g0 AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
         |       CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
         |      FROM b GROUP BY bin),
         |bins AS (SELECT unnest(generate_series(0, ${nb - 1})) AS bin),
         |g AS (SELECT bins.bin AS bin,
         |       coalesce(g0.n_ref, 0) AS n_ref,
         |       coalesce(g0.n_cur, 0) AS n_cur
         |      FROM bins LEFT JOIN g0 ON bins.bin = g0.bin),
         |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
         |       CAST(sum(n_cur) AS BIGINT) AS t_cur FROM g),
         |x AS (
         | SELECT bin, n_ref, n_cur,
         |  (CAST(n_ref AS DOUBLE) + 0.5)
         |    / (CAST(t_ref AS DOUBLE) + ${0.5 * nb}) AS p,
         |  (CAST(n_cur AS DOUBLE) + 0.5)
         |    / (CAST(t_cur AS DOUBLE) + ${0.5 * nb}) AS q
         | FROM g CROSS JOIN t)
         |SELECT bin, n_ref, n_cur,
         | floor((p - q) * ln(p / q) * 1e6 + 0.5) / 1e6 AS psi_term
         |FROM x ORDER BY bin""".stripMargin
    }),
    // data-validation gates: declarative constraint suite, FK audit,
    // nonparametric per-source drift, trailing-window volume anomaly.
    // The constraint-suite twin is generated from the same name list +
    // predicates as the Spark side
    QuerySpec("q_valid_constraints", (s, d) => Validate.constraintSuite(s, d),
      Some(Validate.constraintSuiteSql)),
    QuerySpec("q_valid_refint", (s, d) => Validate.refIntegrity(s, d),
      Some {
      // one orphan count per (fact, fk, dim, pk), each table aliased by
      // its initial; the first row names the columns
      val rels = Seq(("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"))
      val rows = rels.zipWithIndex.map { case ((f, fk, dim, pk), i) =>
        def as(name: String) = if (i == 0) s" AS $name" else ""
        val (fa, da) = (f.take(1), dim.take(1))
        s"""SELECT '$f.$fk->$dim'${as("relation")},
           |  (SELECT count(*) FROM $f)${as("fact_rows")},
           |  (SELECT count(*) FROM $f $fa WHERE NOT EXISTS
           |    (SELECT 1 FROM $dim $da WHERE $da.$pk = $fa.$fk))${as("orphans")}""".stripMargin
      }.mkString("\n UNION ALL\n ")
      s"""WITH r AS (
        | $rows)
        |SELECT relation, fact_rows, orphans,
        | floor(CAST(orphans AS DOUBLE) / CAST(fact_rows AS DOUBLE)
        |   * 1e6 + 0.5) / 1e6 AS orphan_rate
        |FROM r ORDER BY relation""".stripMargin
    }),
    QuerySpec("q_valid_ks_drift", (s, d) => Validate.ksDrift(s, d),
      Some("""WITH c AS (SELECT source, n_chars AS v, count(*) AS c
        |      FROM documents GROUP BY 1, 2),
        |g AS (SELECT s.source, vv.v
        |      FROM (SELECT DISTINCT source FROM c) s
        |      CROSS JOIN (SELECT DISTINCT v FROM c) vv),
        |f AS (SELECT g.source, g.v, coalesce(c.c, 0) AS c
        |      FROM g LEFT JOIN c ON c.source = g.source AND c.v = g.v),
        |cum AS (SELECT source, v, c,
        |       CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
        |        AS cum_s FROM f),
        |cum2 AS (SELECT source, v, cum_s,
        |       CAST(sum(cum_s) OVER (PARTITION BY v) AS BIGINT) AS cum_all
        |      FROM cum),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_s
        |      FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t_all FROM c)
        |SELECT cum2.source, t.t_s AS n_source,
        | tt.t_all - t.t_s AS n_rest,
        | floor(max(CASE WHEN tt.t_all > t.t_s THEN
        |   abs(CAST(cum_s AS DOUBLE) / CAST(t.t_s AS DOUBLE)
        |     - CAST(cum_all - cum_s AS DOUBLE)
        |       / CAST(tt.t_all - t.t_s AS DOUBLE)) END) * 1e6 + 0.5) / 1e6
        |  AS ks_stat
        |FROM cum2 JOIN t ON t.source = cum2.source CROSS JOIN tt
        |GROUP BY cum2.source, t.t_s, tt.t_all
        |ORDER BY cum2.source""".stripMargin)),
    QuerySpec("q_valid_anomaly", (s, d) => Validate.dailyAnomaly(s, d), Some {
      val w = Validate.anomalyWindow
      s"""WITH d0 AS (SELECT event_type AS grp,
         |   strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |mx AS (SELECT max(CAST(day AS DATE)) AS mxd FROM d0),
         |g AS (SELECT grp, min(CAST(day AS DATE)) AS mnd FROM d0 GROUP BY 1),
         |grid AS (SELECT grp, strftime(unnest(generate_series(mnd, mxd,
         |   INTERVAL 1 DAY)), '%Y-%m-%d') AS day FROM g, mx),
         |d AS (SELECT grid.grp, grid.day,
         |   CAST(coalesce(d0.n, 0) AS BIGINT) AS n
         |  FROM grid LEFT JOIN d0 ON grid.grp = d0.grp
         |   AND grid.day = d0.day),
         |s AS (SELECT grp, day, n,
         |   count(n) OVER w AS w_n,
         |   CAST(CAST(sum(n) OVER w AS BIGINT) AS DOUBLE) AS w_sum,
         |   CAST(CAST(sum(n * n) OVER w AS BIGINT) AS DOUBLE) AS w_sumsq
         |  FROM d WINDOW w AS (PARTITION BY grp ORDER BY day
         |   ROWS BETWEEN $w PRECEDING AND 1 PRECEDING)),
         |m AS (SELECT grp, day, n, w_n,
         |   w_sum / $w.0 AS mu0,
         |   (w_sumsq - w_sum * w_sum / $w.0) / ${w - 1}.0 AS vr
         |  FROM s),
         |z AS (SELECT grp, day, n,
         |   CASE WHEN w_n = $w
         |    THEN floor(mu0 * 1e6 + 0.5) / 1e6 END AS mu,
         |   CASE WHEN w_n = $w AND vr > 0
         |    THEN floor((CAST(n AS DOUBLE) - mu0) / sqrt(vr) * 1e6 + 0.5)
         |      / 1e6 END AS z
         |  FROM m)
         |SELECT grp, day, n, mu, z,
         | coalesce(abs(z) > 3.0, false) AS is_anomaly
         |FROM z ORDER BY grp, day""".stripMargin
    }),
    QuerySpec("q_valid_freshness", (s, d) => Validate.freshness(s, d),
      Some("""WITH per AS (SELECT event_type AS grp, count(*) AS n,
        |   max(ts) AS mx FROM events GROUP BY 1),
        |g AS (SELECT max(mx) AS gmx FROM per)
        |SELECT grp, n, strftime(mx, '%Y-%m-%d %H:%M:%S') AS last_seen,
        | epoch_ms(gmx) - epoch_ms(mx) AS staleness_ms
        |FROM per CROSS JOIN g ORDER BY grp""".stripMargin)),
    QuerySpec("q_valid_snapshot_diff", (s, d) => Validate.snapshotDiff(s, d), Some {
      val (addM, chgM, remM) = Validate.snapshotDiffMods
      s"""WITH oldv AS (
         | SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % $chgM = 0 THEN o_totalprice + 1.0
         |   ELSE o_totalprice END AS v
         | FROM orders WHERE o_orderkey % $addM <> 0
         | UNION ALL
         | SELECT -(o_orderkey + 1), o_totalprice FROM orders
         | WHERE o_orderkey % $remM = 0),
         |newv AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |j AS (SELECT CASE WHEN o.k IS NULL THEN 'added'
         |       WHEN n.k IS NULL THEN 'removed'
         |       WHEN o.v IS DISTINCT FROM n.v THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |  FROM oldv o FULL OUTER JOIN newv n ON o.k = n.k)
         |SELECT status, count(*) AS n_rows FROM j
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    QuerySpec("q_valid_benford", (s, d) => Validate.benfordScreen(s, d), Some(Validate.benfordSql)),
    QuerySpec("q_valid_consistency", (s, d) => Validate.consistencyAudit(s, d),
      Some("""WITH s AS (SELECT l_orderkey,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 + CAST(l_tax AS DECIMAL(4,2)))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS recomputed
        | FROM lineitem GROUP BY 1),
        |j AS (SELECT o_totalprice, recomputed,
        |  CASE WHEN o_totalprice > 0 THEN
        |   CAST(abs(CAST(o_totalprice AS DECIMAL(18,2)) - recomputed)
        |     AS DOUBLE) / o_totalprice END AS rel
        | FROM orders LEFT JOIN s ON l_orderkey = o_orderkey)
        |SELECT count(*) AS n_orders,
        | CAST(sum(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_childless,
        | CAST(sum(CASE WHEN rel < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_within_1pct,
        | CAST(sum(CASE WHEN rel < 0.10 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_within_10pct,
        | CAST(sum(CASE WHEN recomputed IS NOT NULL
        |   AND (rel IS NULL OR rel >= 0.10) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_beyond_10pct,
        | floor(max(rel) * 1e6 + 0.5) / 1e6 AS max_rel_dev
        |FROM j""".stripMargin)),
    QuerySpec("q_valid_doc_checks", (s, d) => Validate.docChecks(s, d),
      Some(Validate.docChecksSql)),
    // the full stage→audit→promote WAP gate, report + promote verdict
    QuerySpec("q_valid_wap", (s, d) => Validate.wapGate(s, d), Some(Validate.wapSql)),
    // privacy pack: k-anonymity audit over (segment, $2000 balance
    // bin) — the nation key is deliberately excluded, see
    // Privacy.kAnonymityAudit — and the pseudonymized suppressed export.
    // The audit twin's bin arithmetic is exact-cents integer before any
    // division
    QuerySpec("q_priv_kanon", (s, d) => Privacy.kAnonymityAudit(s, d),
      Some(s"""WITH b AS (SELECT c_mktsegment,
         |  CAST(floor(floor(c_acctbal * 100 + 0.5) / ${Privacy.balBinCents}.0)
         |    AS BIGINT) AS bal_bin
         | FROM customer)
         |SELECT c_mktsegment, bal_bin,
         | count(*) AS group_n,
         | CAST(CASE WHEN count(*) >= ${Privacy.kAnon} THEN 1 ELSE 0 END
         |   AS BIGINT) AS meets_k
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // pseudonymized k-anonymous export replay: the WIDE two-fold name
    // pseudonym (forward + reversed-name 31-folds combined h1·P+h2 —
    // a single fold birthday-collides at SF1's 150k names, silently
    // merging identities) character-for-character, same bins, groups
    // < k suppressed; tie-break keys keep row order engine-neutral
    QuerySpec("q_priv_export", (s, d) => Privacy.anonymizedExport(s, d),
      Some(s"""WITH c AS (SELECT
         |  ${polyHashSql("c_name")} * ${Dedup.P} +
         |  ${polyHashSql("reverse(c_name)")} AS pseudonym,
         |  c_mktsegment,
         |  CAST(floor(floor(c_acctbal * 100 + 0.5) / ${Privacy.balBinCents}.0)
         |    AS BIGINT) AS bal_bin
         | FROM customer),
         |g AS (SELECT c_mktsegment, bal_bin FROM c
         |      GROUP BY 1, 2 HAVING count(*) >= ${Privacy.kAnon})
         |SELECT pseudonym, c_mktsegment, bal_bin
         |FROM c JOIN g USING (c_mktsegment, bal_bin)
         |ORDER BY pseudonym, c_mktsegment, bal_bin""".stripMargin)),
    // GDPR erasure: request list applied to the dimension + FK cascade
    // through orders, per-segment compliance audit. The twin derives the
    // request list from the same name-fold residue and splits the
    // dimension with semi/anti joins — exact-cents balances
    QuerySpec("q_priv_erasure", (s, d) => Privacy.erasureAudit(s, d),
      Some(s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal,
         |  ${polyHashSql("c_name")} % ${Privacy.erasureMod}
         |    AS h
         | FROM customer),
         |r AS (SELECT c_custkey FROM c WHERE h = 0),
         |e AS (SELECT c_mktsegment, count(*) AS n_erased,
         |  CAST(sum(${centsSql("c_acctbal")}) AS BIGINT)
         |    AS erased_bal_cents
         | FROM c SEMI JOIN r USING (c_custkey) GROUP BY 1),
         |kp AS (SELECT c_mktsegment, count(*) AS n_kept
         | FROM c ANTI JOIN r USING (c_custkey) GROUP BY 1),
         |cs AS (SELECT c.c_mktsegment, count(*) AS n_erased_orders
         | FROM orders o JOIN r ON o.o_custkey = r.c_custkey
         |      JOIN c ON c.c_custkey = o.o_custkey
         | GROUP BY 1)
         |SELECT c_mktsegment,
         | coalesce(e.n_erased, 0) AS n_erased,
         | coalesce(kp.n_kept, 0) AS n_kept,
         | coalesce(e.erased_bal_cents, 0) AS erased_bal_cents,
         | coalesce(cs.n_erased_orders, 0) AS n_erased_orders
         |FROM e FULL JOIN kp USING (c_mktsegment)
         |       FULL JOIN cs USING (c_mktsegment)
         |ORDER BY 1""".stripMargin)),
    // erasure APPLY: the purged customer/orders published as snapshot v2,
    // both versions read back and diffed. The twin recomputes the whole
    // post-erasure state from the raw tables + the residue rule and pins
    // the surviving-keys column to literal 0, so one un-erased key (or
    // any publish-fidelity drift) hash-fails
    QuerySpec("q_priv_erasure_apply", (s, d) => Privacy.erasureApply(s, d),
      Some(s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |  ${centsSql("c_acctbal")} AS bal_cents,
         |  ${polyHashSql("c_name")} % ${Privacy.erasureMod}
         |    AS h
         | FROM customer),
         |r AS (SELECT c_custkey FROM c WHERE h = 0),
         |b AS (SELECT c_mktsegment, count(*) AS n_before,
         |  CAST(sum(bal_cents) AS BIGINT) AS cents1 FROM c GROUP BY 1),
         |a AS (SELECT c_mktsegment, count(*) AS n_after,
         |  CAST(sum(bal_cents) AS BIGINT) AS cents2
         | FROM c ANTI JOIN r USING (c_custkey) GROUP BY 1),
         |ob AS (SELECT c.c_mktsegment, count(*) AS n_orders_before
         | FROM orders o JOIN c ON c.c_custkey = o.o_custkey GROUP BY 1),
         |oo AS (SELECT o_custkey FROM orders ANTI JOIN r
         |  ON o_custkey = c_custkey),
         |oa AS (SELECT c.c_mktsegment, count(*) AS n_orders_after
         | FROM oo JOIN c ON c.c_custkey = oo.o_custkey GROUP BY 1)
         |SELECT b.c_mktsegment, b.n_before,
         | coalesce(a.n_after, 0) AS n_after,
         | b.n_before - coalesce(a.n_after, 0) AS n_erased,
         | b.cents1 - coalesce(a.cents2, 0) AS erased_bal_cents,
         | coalesce(ob.n_orders_before, 0) AS n_orders_before,
         | coalesce(oa.n_orders_after, 0) AS n_orders_after,
         | CAST(0 AS BIGINT) AS n_requested_surviving
         |FROM b LEFT JOIN a USING (c_mktsegment)
         | LEFT JOIN ob USING (c_mktsegment)
         | LEFT JOIN oa USING (c_mktsegment)
         |ORDER BY 1""".stripMargin)),
    QuerySpec("q_sim_dim_stats", (s, d) => Similarity.dimensionStats(s, d),
      Some(s"""WITH e AS (
        | SELECT $embDoubleSql FROM embeddings),
        |u AS (
        | SELECT CAST(unnest(generate_series(1, len(v))) - 1 AS BIGINT) AS dim,
        |  v FROM e),
        |x AS (SELECT dim, v[CAST(dim AS INT) + 1] AS x FROM u),
        |g AS (
        | SELECT dim, count(*) AS n,
        |  CAST(sum(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
        |  CAST(sum(CAST(floor(x * x * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS s2,
        |  min(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS mnq,
        |  max(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS mxq
        | FROM x GROUP BY dim)
        |SELECT dim, n,
        | floor(CAST(s1 AS DOUBLE) / n / 1e3 + 0.5) / 1e6 AS mean,
        | floor(sqrt((CAST(s2 AS DOUBLE) / 1e12 -
        |   (CAST(s1 AS DOUBLE) / 1e9) * (CAST(s1 AS DOUBLE) / 1e9) / n)
        |   / (n - 1)) * 1e6 + 0.5) / 1e6 AS sd,
        | CAST(mnq AS DOUBLE) / 1e9 AS min_x,
        | CAST(mxq AS DOUBLE) / 1e9 AS max_x
        |FROM g ORDER BY dim""".stripMargin)),
    // the end-to-end composition: near-dup keep-list ∩ quality floor ∩
    // train split, one declarative plan (each piece oracle-checked alone)
    QuerySpec("q_text_corpus_final", (s, d) => Text.trainingCorpus(s, d),
      Some(clusterLabCtes +
        s"""
         |, tq AS (
         | SELECT doc_id, lang, source, n_chars, text,
         |  ${tokensSql("text")} AS toks
         | FROM documents),
         |qr AS (
         | SELECT doc_id, lang, source, n_chars, text,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_filter(toks, t -> t IN (${Text.stopwords.map(s => s"'$s'").mkString(", ")}))) AS BIGINT) AS n_stop
         | FROM tq),
         |qs AS (
         | SELECT doc_id, lang, source, n_chars,
         |  $qualitySql AS quality,
         |  ${polyHashSql("text")} % 10 AS bucket
         | FROM qr)
         |SELECT doc_id, lang, source, n_chars, quality
         |FROM qs
         |WHERE bucket <= 7 AND quality >= 0.70
         |  AND doc_id NOT IN (SELECT doc_id FROM lab WHERE cluster_rep <> doc_id)
         |ORDER BY doc_id""".stripMargin)),
    // rows-only: xxhash64 values are engine-specific by design
    QuerySpec("q_text_fingerprint_fast", (s, d) => Text.fingerprintFast(s, d)),
    // similarity pack [EXT] (SURVEY §2.B similarity-search row)
    QuerySpec("q_sim_topk", (s, d) => Similarity.topKCosine(s, d),
      Some(simTopkCtes +
        """
        |SELECT q_id, cand_id, cos_sim, rnk FROM topk ORDER BY q_id, rnk""".stripMargin)),
    // RRF hybrid fusion: the dense topk CTE and the sparse posting-pair
    // CTE composed (CTE names are collision-free by construction), then
    // the standard 1/(60+rank) fuse over a full-outer rank join
    QuerySpec("q_sim_rrf_fusion", (s, d) => Similarity.hybridRrfFusion(s, d),
      Some(simTopkCtes + ",\n" +
        sparsePairCtes.replaceFirst("^WITH ", "") +
        """
        |, ssym AS (
        | SELECT doc_a AS q_id, doc_b AS cand_id, n_shared FROM spairs
        | UNION ALL
        | SELECT doc_b, doc_a, n_shared FROM spairs),
        |stop AS (
        | SELECT q_id, cand_id, CAST(rnk AS BIGINT) AS sparse_rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY n_shared DESC, cand_id) AS rnk
        |  FROM ssym WHERE q_id < 10) t2
        | WHERE rnk <= 10),
        |f AS (
        | SELECT coalesce(d.q_id, s.q_id) AS q_id,
        |  coalesce(d.cand_id, s.cand_id) AS cand_id,
        |  d.rnk AS dense_rnk, s.sparse_rnk
        | FROM (SELECT q_id, cand_id, rnk FROM topk) d
        | FULL OUTER JOIN stop s
        |  ON d.q_id = s.q_id AND d.cand_id = s.cand_id)
        |SELECT q_id, cand_id,
        | round(coalesce(1.0 / (dense_rnk + 60), 0) +
        |       coalesce(1.0 / (sparse_rnk + 60), 0), 6) AS rrf,
        | dense_rnk, sparse_rnk
        |FROM f ORDER BY q_id, rrf DESC, cand_id""".stripMargin)),
    QuerySpec("q_knn_vote", (s, d) => Similarity.knnLabelVote(s, d),
      Some(simTopkCtes +
        """
        |, v AS (
        | SELECT topk.q_id, l.label AS nbr_label, count(*) AS n_votes
        | FROM topk JOIN embeddings l ON topk.cand_id = l.vec_id
        | GROUP BY 1, 2),
        |pick AS (
        | SELECT *, row_number() OVER (PARTITION BY q_id
        |                              ORDER BY n_votes DESC, nbr_label) AS rk
        | FROM v)
        |SELECT p.q_id, ql.label AS true_label, p.nbr_label AS pred_label, p.n_votes
        |FROM pick p JOIN embeddings ql ON p.q_id = ql.vec_id
        |WHERE p.rk = 1 ORDER BY p.q_id""".stripMargin)),
    QuerySpec("q_sim_pair_cosine", (s, d) => Similarity.pairCosine(s, d),
      Some(s"""WITH ${embNormCtes("e", "n")},
        |a AS (SELECT CAST(vec_id // 2 AS BIGINT) AS pair_id, v AS va, nrm AS na
        |      FROM n WHERE vec_id % 2 = 0),
        |b AS (SELECT CAST((vec_id - 1) // 2 AS BIGINT) AS pair_id, v AS vb, nrm AS nb
        |      FROM n WHERE vec_id % 2 = 1)
        |SELECT pair_id,
        | round(${dotSql("va", "vb")}
        |  / (na * nb), 6) AS cos_sim
        |FROM a JOIN b USING (pair_id) ORDER BY pair_id""".stripMargin)),
    QuerySpec("q_sim_quantize", (s, d) => Similarity.quantizeEmbeddings(s, d),
      Some(s"""WITH e AS (SELECT vec_id, $embDoubleSql FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        | FROM e),
        |q AS (SELECT vec_id, v, scale,
        |  list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
        | FROM s WHERE scale > 0),
        |m AS (SELECT vec_id, scale, list_min(qv) AS qmin, list_max(qv) AS qmax,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(v)),
        |      i -> (v[i] - qv[i]*scale) * (v[i] - qv[i]*scale))),
        |    (a, b) -> a + b) / len(v) AS mse
        | FROM q)
        |SELECT vec_id, round(scale, 9) AS scale, qmin, qmax,
        | round(mse, 12) AS mse
        |FROM m ORDER BY vec_id""".stripMargin)),
    QuerySpec("q_sim_centroids", (s, d) => Similarity.labelCentroidStats(s, d),
      Some(s"""WITH e AS (SELECT vec_id, label, $embDoubleSql
        |           FROM embeddings),
        |u AS (SELECT label, unnest(v) AS x,
        |       unnest(generate_series(1, len(v))) AS i FROM e),
        |cd AS (SELECT label, i,
        |        floor(avg(x) * 1e9 + 0.5) / 1e9 AS cx FROM u GROUP BY 1, 2),
        |cent AS (SELECT label, list(cx ORDER BY i) AS cv FROM cd GROUP BY label),
        |cn AS (SELECT label, cv,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(cv, c -> c * c)), (a, b) -> a + b)) AS cnrm
        | FROM cent),
        |nn AS (SELECT label, count(*) AS n FROM e GROUP BY label),
        |cohx AS (
        | SELECT e.label, CAST(floor(
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |     list_transform(generate_series(1, len(v)), i -> v[i] * cv[i])),
        |     (a, b) -> a + b)
        |   / nullif(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |       list_transform(v, q -> q * q)), (a, b) -> a + b)) * cnrm, 0.0)
        |   * 1e12 + 0.5) AS BIGINT) AS c12
        | FROM e JOIN cn ON e.label = cn.label),
        |coh AS (
        | SELECT label, sum(c12) / (count(c12) * 1e12) AS coh
        | FROM cohx GROUP BY label),
        |sep AS (
        | SELECT a.label, b.label AS other,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(a.cv)), i -> a.cv[i] * b.cv[i])),
        |    (x, y) -> x + y) / nullif(a.cnrm * b.cnrm, 0.0), 6) AS cos
        | FROM cn a JOIN cn b ON a.label <> b.label),
        |nb AS (
        | SELECT label, other AS nearest_label, cos AS nearest_cos,
        |  row_number() OVER (PARTITION BY label
        |                     ORDER BY cos DESC, other) AS rk
        | FROM sep)
        |SELECT cn.label, nn.n, round(cn.cnrm, 6) AS centroid_norm,
        | round(coh.coh, 6) AS avg_cos_to_centroid,
        | nb.nearest_label, nb.nearest_cos
        |FROM cn JOIN nn ON cn.label = nn.label
        |JOIN coh ON cn.label = coh.label
        |JOIN nb ON cn.label = nb.label AND nb.rk = 1
        |ORDER BY cn.label""".stripMargin)),
    // ANN top-k, oracle-checked via the q_sim_sign_index dump (round-8
    // verdict #6, the signBandPairCtes pattern): this family's twins
    // replay the hamming shortlist/radius arithmetic over the EXACT
    // published sign bits, then re-rank/verify by exact cosine from the
    // raw embeddings — the dump is input, not the answer. Literals mirror
    // the declared queries' default args; recall vs brute is additionally
    // spec-asserted.
    QuerySpec("q_sim_ann_topk", (s, d) => Similarity.annTopKCosine(s, d),
      Some("WITH " + annTopkCtes + """
         |SELECT q_id, cand_id, cos_sim, rnk FROM atopk
         |ORDER BY q_id, rnk""".stripMargin)),
    // retrieval-quality dashboard: recall@10 / MRR / graded nDCG of the
    // ANN ranking vs the exact ranking, micro-unit-exact per query. The
    // twin left-joins the exact and ANN CTEs per (q_id, cand_id); every
    // DCG/MRR term is micro-rounded BEFORE the sum (log2 ulp noise
    // absorbed), ideal DCG embedded as the same library constant the
    // Spark side normalizes by
    QuerySpec("q_sim_rank_eval", (s, d) => Similarity.annRankEval(s, d),
      Some(simTopkCtes + ",\n" + annTopkCtes + s"""
         |, j AS (SELECT a.q_id, a.cand_id, a.rnk AS ann_rnk,
         |          t.rnk AS exact_rnk
         |        FROM atopk a LEFT JOIN topk t
         |          ON a.q_id = t.q_id AND a.cand_id = t.cand_id),
         |g AS (SELECT q_id,
         |  CAST(sum(CASE WHEN exact_rnk IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CAST(floor(COALESCE(11 - exact_rnk, 0)
         |    / log2(ann_rnk + 1) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS dcg_micro,
         |  CAST(max(CASE WHEN exact_rnk = 1
         |    THEN CAST(floor(1e6 / ann_rnk + 0.5) AS BIGINT)
         |    ELSE 0 END) AS BIGINT) AS mrr_micro
         | FROM j GROUP BY q_id)
         |SELECT q_id, n_hits,
         | round(CAST(n_hits AS DOUBLE) / 10, 6) AS recall,
         | round(CAST(mrr_micro AS DOUBLE) / 1e6, 6) AS mrr,
         | round(CAST(dcg_micro AS DOUBLE) / ${graft.ops.Similarity.idcgMicro(10)}, 6)
         |   AS ndcg
         |FROM g ORDER BY q_id""".stripMargin)),
    // ORACLE-CHECKED via the same dump twin: radius cutoff + exact
    // cosine verify replay; precision exact by construction
    QuerySpec("q_sim_range", (s, d) => Similarity.annRangeSearch(s, d), Some {
      // annRangeSearch defaults: nQueries = 10, minCos = 0.3; the cutoff
      // is the ENGINE'S OWN shared hamCutFor (binomial mean + 2σ —
      // round-9 ADVICE #5 unified the range margin with the banding one)
      val hamCut = Dedup.hamCutFor(64, 0.3)
      s"""WITH $signQueryCtes,
         |cand AS (
         | SELECT q.q_id, s.vec_id AS cand_id
         | FROM s JOIN q ON s.vec_id <> q.q_id
         |  AND bit_count(xor(s.sign_bits, q.q_bits)) <= $hamCut),
         |${embNormCtes("se", "sn")},
         |scored AS (
         | SELECT cand.q_id, cand.cand_id,
         |  ${cosSimSql("a", "b")} AS cos_sim
         | FROM cand JOIN sn a ON cand.q_id = a.vec_id
         |           JOIN sn b ON cand.cand_id = b.vec_id)
         |SELECT q_id, cand_id, cos_sim FROM scored
         |WHERE cos_sim >= 0.3 ORDER BY q_id, cos_sim DESC, cand_id""".stripMargin
    }),
    // ORACLE-CHECKED: both sides of the comparison are replayable (the
    // exact top-k from raw embeddings, the ANN side from the published
    // sign-bit dump), so recall@k itself is hash-checked; the spec
    // additionally pins the recall floor and determinism
    QuerySpec("q_sim_ann_recall", (s, d) => Similarity.annRecallAtK(s, d),
      Some(simTopkCtes + ",\n" + annTopkCtes + """
         |, nt AS (SELECT q_id, count(*) AS n_true FROM topk GROUP BY q_id),
         |nh AS (SELECT t.q_id, count(*) AS n_hit
         |       FROM topk t JOIN atopk a
         |         ON t.q_id = a.q_id AND t.cand_id = a.cand_id
         |       GROUP BY t.q_id)
         |SELECT nt.q_id, nt.n_true, coalesce(nh.n_hit, 0) AS n_hit,
         | floor(CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / nt.n_true * 1e6 + 0.5) / 1e6 AS recall
         |FROM nt LEFT JOIN nh ON nt.q_id = nh.q_id ORDER BY nt.q_id""".stripMargin)),
    // dedup pack [EXT] (SURVEY §2.B dedup row)
    QuerySpec("q_dedup_exact", (s, d) => Dedup.exactDedup(s, d),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),
    QuerySpec("q_dedup_corpus", (s, d) => Dedup.dedupedCorpus(s, d),
      Some(clusterLabCtes +
        """
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE cluster_rep <> doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    QuerySpec("q_dedup_minhash_sig", (s, d) => Dedup.minhashSignatures(s, d),
      Some(dedupCtes +
        s"""
         |SELECT doc_id, ${Dedup.A.indices.map(j => s"sig_$j").mkString(", ")}
         |FROM sig ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dedup_minhash_pairs", (s, d) => Dedup.minhashDupPairs(s, d),
      Some(minhashPairsCtes +
        """
        |SELECT doc_a, doc_b, jac FROM pairs ORDER BY doc_a, doc_b""".stripMargin)),
    // observability half of the degenerate-bucket cap (round-8 verdict
    // #3): per-band bucket occupancy + what the maxBandBucket guard
    // would drop from pair mining (0 everywhere on healthy corpora)
    QuerySpec("q_dedup_band_guard", (s, d) => Dedup.bandBucketAudit(s, d),
      Some(minhashPairsCtes +
        s"""
         |, occ AS (
         | SELECT band, s1, s2, count(*) AS members
         | FROM bands0 GROUP BY band, s1, s2)
         |SELECT band, count(*) AS n_buckets,
         | max(members) AS max_bucket,
         | CAST(sum(CASE WHEN members > ${Dedup.maxBandBucket}
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_buckets,
         | CAST(sum(CASE WHEN members > ${Dedup.maxBandBucket}
         |   THEN members ELSE 0 END) AS BIGINT) AS n_dropped_rows
         |FROM occ GROUP BY band ORDER BY band""".stripMargin)),
    QuerySpec("q_dedup_clusters", (s, d) => Dedup.dupClusters(s, d),
      Some(clusterLabCtes +
        """
        |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dedup_incremental", (s, d) => Dedup.incrementalAssign(s, d),
      Some(incrementalOracle)),
    QuerySpec("q_dedup_inc_writeback", (s, d) => Dedup.mergedIncrementalLabels(s, d),
      Some(incWritebackOracle)),
    // the scheduled HEAL republish that closes the incremental loop: the
    // corpus-version full contraction published as the chain's next label
    // base, read back here — oracle'd with the same recursive-CTE twin as
    // q_dedup_clusters, because identical content IS the heal contract
    // (healing must converge the bridge-approximate chain back to the
    // exact full contraction; the A–bridge–B spec proves the merge)
    QuerySpec("q_dedup_heal", (s, d) =>
      s.table(Dedup.healIncrementalBase(s, d)).orderBy("doc_id"),
      Some(clusterLabCtes +
        """
        |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dedup_jaccard_brute", (s, d) => Dedup.jaccardPairsBrute(s, d),
      Some(dedupCtes +
        s"""
         |, $bruteOverlapCte
         |SELECT doc_a, doc_b, $jacSql AS jac
         |FROM j WHERE $jacSql >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)),
    QuerySpec("q_dedup_containment", (s, d) => Dedup.containmentPairsBrute(s, d),
      Some(dedupCtes +
        s"""
         |, $bruteOverlapCte
         |SELECT doc_a, doc_b, round(inter / na, 6) AS cont_a_in_b,
         | round(inter / nb, 6) AS cont_b_in_a
         |FROM j
         |WHERE greatest(round(inter / na, 6), round(inter / nb, 6)) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)),
    QuerySpec("q_dedup_containment_lsh", (s, d) => Dedup.containmentPairsLsh(s, d),
      Some(containmentLshOracle)),
    QuerySpec("q_dedup_simhash", (s, d) => Dedup.simhash(s, d), Some(simhashOracle)),
    QuerySpec("q_dedup_simhash_pairs", (s, d) => Dedup.simhashDupPairs(s, d), Some {
      // single-block key scheme: n = 500 ≤ Dedup.mankuThreshold at the
      // oracle gate — and the Manku multi-block scheme is spec-asserted
      // output-identical, so this twin is valid under either
      val blocks = 4
      val bits = Dedup.simhashBits / blocks + 1
      val mask = (1L << bits) - 1
      val bandSelects = (0 until blocks).map(i =>
        s"SELECT doc_id, simhash, $i AS blk, (simhash >> ${i * bits}) & $mask AS key FROM s")
        .mkString("\n  UNION ALL ")
      s"""WITH s AS ($simhashOracle),
         |bands0 AS (
         |  $bandSelects),
         |${cappedBandsCte("bands", "doc_id, simhash, blk, key", "blk, key")},
         |cand AS (
         | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.simhash, y.simhash)) AS hamming
         | FROM bands x JOIN bands y
         |   ON x.blk = y.blk AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
    }),
    QuerySpec("q_dedup_embed", (s, d) => Dedup.embeddingDupPairs(s, d),
      Some(s"""WITH $embedPairCtes
        |SELECT vec_a, vec_b, cos_sim FROM p
        |WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin)),
    QuerySpec("q_dedup_source_matrix", (s, d) => Dedup.sourceDupMatrix(s, d),
      Some(minhashPairsCtes +
        """
        |, m AS (
        | SELECT least(da.source, db.source) AS source_lo,
        |        greatest(da.source, db.source) AS source_hi
        | FROM pairs p JOIN documents da ON p.doc_a = da.doc_id
        |              JOIN documents db ON p.doc_b = db.doc_id)
        |SELECT source_lo, source_hi, count(*) AS n_pairs
        |FROM m GROUP BY source_lo, source_hi
        |ORDER BY source_lo, source_hi""".stripMargin)),
    QuerySpec("q_sim_semdedup", (s, d) => Similarity.semanticDedup(s, d),
      Some(s"""WITH RECURSIVE $embedPairCtes,
        |pr AS (SELECT vec_a, vec_b FROM p WHERE cos_sim >= 0.4),
        |${componentCtes("pr", "vec")}
        |$semKeepSql
        |WHERE emb.vec_id < 1000 ORDER BY emb.vec_id""".stripMargin)),
    // the 100 TB SemDeDup scale path: banded sign-LSH edges read off the
    // PUBLISHED 16 B/row sign index (layout reuse — no corpus re-signing)
    // into the same contraction. ORACLE-CHECKED via the q_sim_sign_index
    // dump twin (banding + cosine verify + recursive contraction replayed
    // over the exact published bits); planted-near-dup co-cluster recall
    // >= 0.9 additionally spec-asserted (SimilaritySpec), mirroring the
    // q_dedup_embed / q_dedup_embed_lsh brute/scale pair. bands = 0 ⇒
    // CORPUS-ADAPTIVE geometry (Dedup.adaptiveIndexGeometry): 8×8 at the
    // sf0.01 oracle gate (n = 500 — exactly the twin's geometry), 4×16
    // above 2048 rows, and the layout-v2 wide index (512 planes, 16×32
    // bands) past 512 Ki rows so the random band-collision term stays
    // linear at any rung (round-9 verdict #4).
    QuerySpec("q_sim_semdedup_lsh", (s, d) =>
      Similarity.semanticDedupLsh(s, d, minCos = 0.4, bands = 0),
      Some("WITH RECURSIVE " +
        signBandPairCtes("q_sim_sign_index", 0.4) +
        s""",
        |${componentCtes("pr", "vec")}
        |$semKeepSql
        |ORDER BY emb.vec_id""".stripMargin)),
    // the dump behind the twin above: the published sign index itself
    // (rows-only — plane geometry is engine-specific by nature)
    QuerySpec("q_sim_sign_index", (s, d) => Similarity.signIndexDump(s, d)),
    // ORACLE-CHECKED via the q_dedup_embed_signs dump twin (round-7
    // verdict #5: banding + exact cosine verify replayed over the exact
    // live-signed bits); precision exact by construction (cosine verify),
    // recall spec vs the brute baseline.
    // Geometry is CORPUS-ADAPTIVE (Dedup.adaptiveGeometry, round-8
    // verdict #1): at the sf0.01 oracle gate (n = 500 ≤ 2048) it
    // resolves to exactly the prune-first 8×8 profile the twin replays;
    // above 2048 rows bits-per-band grows with log2(n) (128 planes ×
    // 8 bands × 16 bits, then 512 × 16 × 32) so the random
    // band-collision term bands·n²/2^bits stays linear in n instead of
    // quadratic. The minCos-derived auto geometry (Dedup.autoBands) is
    // deliberately NOT used here: at minCos = 0.4 it rightly refuses to
    // prune near orthogonality (~64% of the cross product survives),
    // while the corpus-size rungs keep the prune-first profile and hold
    // real-regime recall ≥ 0.9 by band count (spec-asserted on planted
    // near-dups at every rung).
    QuerySpec("q_dedup_embed_lsh", (s, d) =>
      Dedup.embeddingDupPairsLshAdaptive(s, d, minCos = 0.4),
      Some("WITH " +
        signBandPairCtes("q_dedup_embed_signs", 0.4, sigExpr = "word",
          whereSql = "WHERE word_idx = 0") +
        """
        |SELECT vec_a, vec_b, cos_sim FROM pr
        |ORDER BY vec_a, vec_b""".stripMargin)),
    // the dump behind the twin above: the live operator's seeded sign
    // bits (rows-only — plane geometry is engine-specific by nature)
    QuerySpec("q_dedup_embed_signs", (s, d) => Dedup.embeddingSignBits(s, d)),
    // rows-only: xxhash64 grouping, engine-specific hash by design
    QuerySpec("q_dedup_exact_hash", (s, d) => Dedup.exactDedupByHash(s, d)),
    // ML metrics pack (reference R9–R11 shapes, SURVEY §2.A)
    QuerySpec("q_ml_confusion", (s, d) => Metrics.linearConfusion(s, d),
      Some(mlPredCte +
        """
        |SELECT label, pred, count(*) AS n FROM p
        |GROUP BY label, pred ORDER BY label, pred""".stripMargin)),
    QuerySpec("q_ml_accuracy", (s, d) => Metrics.linearAccuracy(s, d),
      Some(mlPredCte +
        """
        |SELECT round(avg(CASE WHEN label = pred THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
        | count(*) AS n FROM p""".stripMargin)),
    QuerySpec("q_ml_report", (s, d) => Metrics.linearReport(s, d),
      Some(mlPredCte +
        """
        |, act AS (SELECT label AS cls, count(*) AS support FROM p GROUP BY 1),
        |prd AS (SELECT pred AS cls, count(*) AS n_pred FROM p GROUP BY 1),
        |tp AS (SELECT label AS cls, count(*) AS n_tp FROM p WHERE label = pred GROUP BY 1),
        |cls AS (SELECT label AS cls FROM p UNION SELECT pred FROM p),
        |j AS (
        | SELECT cls.cls, CAST(coalesce(support, 0) AS BIGINT) AS support,
        |  coalesce(n_pred, 0) AS n_pred, coalesce(n_tp, 0) AS n_tp,
        |  CASE WHEN coalesce(n_pred, 0) > 0
        |       THEN CAST(coalesce(n_tp, 0) AS DOUBLE) / n_pred ELSE 0.0 END AS p,
        |  CASE WHEN coalesce(support, 0) > 0
        |       THEN CAST(coalesce(n_tp, 0) AS DOUBLE) / support
        |       ELSE 0.0 END AS r
        | FROM cls LEFT JOIN act ON cls.cls = act.cls
        |          LEFT JOIN prd ON cls.cls = prd.cls
        |          LEFT JOIN tp ON cls.cls = tp.cls),
        |m AS (
        | SELECT cls, support, n_tp,
        |  CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS p6,
        |  CAST(floor(r * 1e6 + 0.5) AS BIGINT) AS r6,
        |  CAST(floor((CASE WHEN p + r > 0.0 THEN 2.0 * p * r / (p + r)
        |              ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS f6
        | FROM j),
        |t AS (
        | SELECT count(*) AS c, CAST(sum(support) AS BIGINT) AS n,
        |  sum(n_tp) AS s_tp,
        |  sum(p6) AS sp, sum(r6) AS sr, sum(f6) AS sf,
        |  sum(support * p6) AS wp, sum(support * r6) AS wr,
        |  sum(support * f6) AS wf
        | FROM m),
        |rep AS (
        |SELECT CAST(cls AS VARCHAR) AS cls, p6 / 1e6 AS precision,
        | r6 / 1e6 AS recall, f6 / 1e6 AS f1, support FROM m
        |UNION ALL SELECT 'accuracy', NULL, NULL,
        | floor(CAST(s_tp AS DOUBLE) / n * 1e6 + 0.5) / 1e6, n FROM t
        |UNION ALL SELECT 'macro avg',
        | floor(CAST(sp AS DOUBLE) / c + 0.5) / 1e6,
        | floor(CAST(sr AS DOUBLE) / c + 0.5) / 1e6,
        | floor(CAST(sf AS DOUBLE) / c + 0.5) / 1e6, n FROM t
        |UNION ALL SELECT 'weighted avg',
        | floor(CAST(wp AS DOUBLE) / n + 0.5) / 1e6,
        | floor(CAST(wr AS DOUBLE) / n + 0.5) / 1e6,
        | floor(CAST(wf AS DOUBLE) / n + 0.5) / 1e6, n FROM t)
        |SELECT * FROM rep
        |ORDER BY CASE WHEN cls IN ('accuracy', 'macro avg', 'weighted avg')
        |  THEN 1 ELSE 0 END, TRY_CAST(cls AS DOUBLE), cls""".stripMargin)),
    // rows-only: real MLlib RF train/predict (R8/R9), not portable SQL
    QuerySpec("q_ml_rf_confusion", (s, d) => Metrics.rfConfusion(s, d)),
    // multimodal pack [EXT] (SURVEY §2.B multimodal row)
    QuerySpec("q_mm_meta", (s, d) => Multimodal.mediaMeta(s, d),
      Some("""SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        | CAST(length(text) AS INT) AS n_bytes,
        | CAST(16 + length(text) % 32 AS INT) AS width,
        | CAST(16 + (length(text) // 7) % 32 AS INT) AS height,
        | CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + length(text) % 24 ELSE 1 END AS INT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin)),
    QuerySpec("q_mm_frames", (s, d) => Multimodal.frameSample(s, d),
      Some("""SELECT media_id, CAST(frame_idx AS INT) AS frame_idx FROM (
        | SELECT doc_id AS media_id,
        |  unnest(generate_series(0, CAST(length(text) % 24 AS INT), 4)) AS frame_idx
        | FROM documents WHERE doc_id % 3 = 2) t
        |ORDER BY media_id, frame_idx""".stripMargin)),
    QuerySpec("q_mm_decode", (s, d) => Multimodal.decodeSummary(s, d),
      Some(s"""WITH m AS (
        | SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  ${Multimodal.mediaGeometrySql},
        |  ${Multimodal.mediaUnitsSql}
        | FROM documents),
        |x AS (
        | SELECT media_id,
        |  CASE WHEN media_type = 'audio' THEN greatest(n, 1) ELSE w * h END AS n_units,
        |  CASE WHEN n = 0 THEN 0
        |       WHEN media_type = 'audio' THEN list_reduce(u, (a,b) -> a+b)
        |       ELSE list_reduce(list_transform(generate_series(0, w*h - 1),
        |              i -> u[(i % n) + 1]), (a,b) -> a+b)
        |  END AS s
        | FROM m)
        |SELECT media_id, n_units, round(CAST(s AS DOUBLE) / n_units, 6) AS mean_unit
        |FROM x ORDER BY media_id""".stripMargin)),
    QuerySpec("q_mm_audio_features", (s, d) => Multimodal.audioFeatures(s, d),
      Some(s"""WITH m AS (
        | SELECT doc_id AS media_id,
        |  ${Multimodal.mediaUnitsSql}
        | FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT media_id,
        |       CASE WHEN n = 0 THEN [CAST(0 AS BIGINT)] ELSE u END AS u
        |      FROM m),
        |w AS (
        | SELECT media_id,
        |  CAST(unnest(generate_series(0, (len(u) - 1) // 64)) AS BIGINT) AS win_id,
        |  u
        | FROM s),
        |x AS (
        | SELECT media_id, win_id,
        |  list_transform(list_slice(u, win_id * 64 + 1,
        |    least((win_id + 1) * 64, len(u))), v -> v - 128) AS xs
        | FROM w),
        |f AS (
        | SELECT media_id, win_id, CAST(len(xs) AS BIGINT) AS n_samples,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(xs, v -> CAST(v * v AS DOUBLE))),
        |    (a, b) -> a + b) / len(xs)), 6) AS rms,
        |  CASE WHEN len(xs) > 1 THEN
        |    round(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, len(xs) - 1),
        |        i -> CAST(CASE WHEN (xs[i] >= 0) <> (xs[i+1] >= 0)
        |                  THEN 1 ELSE 0 END AS BIGINT))),
        |      (a, b) -> a + b) / CAST(len(xs) - 1 AS DOUBLE), 6)
        |  ELSE 0.0 END AS zcr
        | FROM x)
        |SELECT media_id, win_id, n_samples, rms, zcr
        |FROM f ORDER BY media_id, win_id""".stripMargin)),
    QuerySpec("q_mm_image_features", (s, d) => Multimodal.imageFeatures(s, d),
      Some(s"""WITH $posterMediaCte,
        |p AS (
        | SELECT media_id, w, h, w * h AS np,
        |  ${Multimodal.mediaPixelsSql}
        | FROM m),
        |a AS (
        | SELECT media_id, w, np, px,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), px), (x, y) -> x + y)
        |    / CAST(np AS DOUBLE) AS mean_px
        | FROM p),
        |f AS (
        | SELECT media_id,
        |  mean_px,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(px, v -> (v - mean_px) * (v - mean_px))),
        |    (x, y) -> x + y) / np) AS contrast,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(0, CAST(np AS INT) - 2),
        |      i -> CASE WHEN i % w < w - 1 THEN abs(px[i+2] - px[i+1])
        |                ELSE CAST(0 AS BIGINT) END)),
        |    (x, y) -> x + y)
        |    / CAST((np // w) * (w - 1) AS DOUBLE) AS edge_density
        | FROM a)
        |SELECT media_id, round(mean_px, 6) AS mean_px,
        | round(contrast, 6) AS contrast, round(edge_density, 6) AS edge_density
        |FROM f ORDER BY media_id""".stripMargin)),
    // replays the encode arithmetic: images/video posters are w×h-pixel
    // BMPs with pixel i = codepoint(i mod n) & 255; audio is one WAV
    // sample per codepoint. The JDK decoders recover exactly these units.
    QuerySpec("q_mm_dhash", (s, d) => Multimodal.imageDHash(s, d), Some {
      val rows = graft.ops.Multimodal.dhashRows
      val cols = graft.ops.Multimodal.dhashCols
      val perRow = cols - 1
      val sigBits = rows * perRow
      s"""WITH $posterMediaCte,
         |p AS (
         | SELECT media_id, w, h,
         |  ${Multimodal.mediaPixelsSql}
         | FROM m)
         |SELECT media_id,
         | list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(generate_series(0, ${sigBits - 1}), b ->
         |   CASE WHEN px[(b // $perRow) * h // $rows * w
         |                 + ((b % $perRow) + 1) * w // $cols + 1] >
         |             px[(b // $perRow) * h // $rows * w
         |                 + (b % $perRow) * w // $cols + 1]
         |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
         |  (x, y) -> x + y) AS dhash
         |FROM p ORDER BY media_id""".stripMargin
    }),
    QuerySpec("q_mm_resize", (s, d) => Multimodal.resizeMeta(s, d),
      Some("""WITH m AS (
        | SELECT doc_id AS media_id,
        |  16 + length(text) % 32 AS width,
        |  16 + (length(text) // 7) % 32 AS height
        | FROM documents)
        |SELECT media_id,
        | CAST(floor(width * (16.0 / greatest(width, height))) AS INT) AS out_w,
        | CAST(floor(height * (16.0 / greatest(width, height))) AS INT) AS out_h
        |FROM m ORDER BY media_id""".stripMargin)),
    // feature-engineering pack (SURVEY §2.C feature-engineering rows):
    // the transforms between raw tables and model input
    QuerySpec("q_feat_scale", (s, d) => Features.standardize(s, d),
      Some("""WITH sums AS (
        | SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS s_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,0))
        |         * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS s2_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2_price,
        |  min(l_discount) AS mn_disc, max(l_discount) AS mx_disc
        | FROM lineitem),
        |s AS (
        | SELECT s_qty / n AS m_qty,
        |  sqrt((s2_qty - s_qty * s_qty / n) / (n - 1)) AS sd_qty,
        |  s_price / n AS m_price,
        |  sqrt((s2_price - s_price * s_price / n) / (n - 1)) AS sd_price,
        |  mn_disc, mx_disc
        | FROM sums)
        |SELECT l_orderkey, l_linenumber,
        | floor((l_quantity - s.m_qty) / s.sd_qty * 1e4 + 0.5) / 1e4 AS z_qty,
        | floor((l_extendedprice - s.m_price) / s.sd_price * 1e4 + 0.5) / 1e4
        |   AS z_price,
        | floor((l_discount - s.mn_disc) / (s.mx_disc - s.mn_disc) * 1e6 + 0.5)
        |   / 1e6 AS mm_disc
        |FROM lineitem CROSS JOIN s
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q_feat_winsorize", (s, d) => Features.winsorize(s, d),
      Some("""WITH b AS (
        | SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        | FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, lo, hi, count(*) AS n,
        | CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_lo,
        | CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_hi,
        | round(avg(l_extendedprice), 4) AS mean_raw,
        | round(avg(least(greatest(l_extendedprice, lo), hi)), 4)
        |   AS mean_winsor
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1, 2, 3 ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_feat_bins", (s, d) => Features.quantileBins(s, d),
      Some("""WITH b AS (SELECT quantile_cont(l_quantity, 0.25) AS q1,
        |                  quantile_cont(l_quantity, 0.5)  AS q2,
        |                  quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem)
        |SELECT CAST(1 + CAST(l_quantity > b.q1 AS INT)
        |              + CAST(l_quantity > b.q2 AS INT)
        |              + CAST(l_quantity > b.q3 AS INT) AS BIGINT) AS bin,
        |       count(*) AS n,
        |       round(min(l_quantity), 2) AS min_qty,
        |       round(max(l_quantity), 2) AS max_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem CROSS JOIN b
        |GROUP BY 1 ORDER BY bin""".stripMargin)),
    QuerySpec("q_feat_target_enc", (s, d) => Features.targetEncode(s, d),
      Some("""WITH j AS (SELECT c_mktsegment, o_totalprice
        |           FROM orders JOIN customer ON o_custkey = c_custkey),
        |     g AS (SELECT avg(o_totalprice) AS gm FROM j),
        |     seg AS (SELECT c_mktsegment, count(*) AS n_orders,
        |                    sum(o_totalprice) AS s
        |             FROM j GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n_orders,
        |       round(s / n_orders, 4) AS seg_mean,
        |       round((s + 100.0 * g.gm) / (n_orders + 100.0), 4) AS enc_smooth
        |FROM seg CROSS JOIN g ORDER BY c_mktsegment""".stripMargin)),
    QuerySpec("q_feat_onehot", (s, d) => Features.oneHot(s, d),
      Some("""SELECT l_orderkey, l_linenumber,
        | CAST(l_returnflag = 'A' AS INT) AS flag_a,
        | CAST(l_returnflag = 'N' AS INT) AS flag_n,
        | CAST(l_returnflag = 'R' AS INT) AS flag_r,
        | CAST(l_linestatus = 'O' AS INT) AS status_o,
        | CAST(l_linestatus = 'F' AS INT) AS status_f
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin)),
    QuerySpec("q_feat_hash", (s, d) => Features.hashedBagOfWords(s, d),
      Some(s"""SELECT doc_id,
        | CAST(${polyHashSql("token")} % 16 AS INT) AS bucket,
        | count(*) AS n
        |FROM (SELECT doc_id,
        |        unnest(${tokensSql("text")}) AS token
        |      FROM documents) t
        |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin)),
    QuerySpec("q_text_tfidf", (s, d) => Features.tfidfTopTerms(s, d),
      Some(s"""WITH tok AS (SELECT doc_id,
        |        unnest(${tokensSql("text")}) AS token
        |      FROM documents),
        |     tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |            GROUP BY doc_id, token),
        |     df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
        |            GROUP BY token),
        |     n AS (SELECT count(*) AS n_total FROM documents),
        |     s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |             round(tf.tf * ln(CAST(n.n_total AS DOUBLE) / df.df), 6) AS tfidf
        |           FROM tf JOIN df USING (token) CROSS JOIN n),
        |     r AS (SELECT *, row_number() OVER (
        |             PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        |           FROM s)
        |SELECT doc_id, rk, token, tf, df, tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),
    QuerySpec("q_feat_user_profile", (s, d) => Features.userProfile(s, d),
      Some("""WITH g AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
        |p AS (SELECT user_id, count(*) AS n_events,
        |        count(*) FILTER (WHERE event_type = 'click')    AS n_click,
        |        count(*) FILTER (WHERE event_type = 'view')     AS n_view,
        |        count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |        count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
        |        count(*) FILTER (WHERE event_type = 'error')    AS n_error,
        |        round(sum(value), 2) AS sum_value,
        |        round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
        |          AS sum_purchase,
        |        max(epoch_ms(ts)) AS last_ms
        |      FROM events GROUP BY user_id)
        |SELECT user_id, n_events, n_click, n_view, n_purchase, n_signup,
        |       n_error, sum_value, sum_purchase, (g.mx - last_ms) AS recency_ms
        |FROM p CROSS JOIN g ORDER BY user_id""".stripMargin)),
    QuerySpec("q_feat_pit_training", (s, d) => Features.pitTrainingSet(s, d),
      Some("""SELECT event_id, user_id, n_prior, n_prior_purchases,
        |       prior_value_sum, label_value
        |FROM (SELECT event_id, user_id, event_type, value AS label_value,
        |        count(*) OVER w AS n_prior,
        |        count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER w
        |          AS n_prior_purchases,
        |        round(sum(value) OVER w, 2) AS prior_value_sum
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin)),
    QuerySpec("q_feat_cross", (s, d) => Features.crossFeatures(s, d),
      Some(s"""SELECT CAST(${polyHashSql("c_mktsegment || '|' || o_orderpriority")} % 32 AS INT) AS bucket,
        | count(*) AS n,
        | count(DISTINCT c_mktsegment || '|' || o_orderpriority) AS n_crosses,
        | round(avg(o_totalprice), 2) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY bucket ORDER BY bucket""".stripMargin)),
    QuerySpec("q_feat_latest", (s, d) => Features.latestEventSnapshot(s, d),
      Some("""SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
        | event_id AS last_event_id, event_type AS last_event_type,
        | round(value, 2) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    QuerySpec("q_feat_assoc", (s, d) => Features.categoricalAssociation(s, d),
      Some("""WITH j AS (SELECT l_returnflag, l_linestatus, count(*) AS n_xy
        |           FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
        |       count(DISTINCT l_returnflag) AS r,
        |       count(DISTINCT l_linestatus) AS c FROM j),
        |mx AS (SELECT l_returnflag, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM j GROUP BY 1),
        |my AS (SELECT l_linestatus, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM j GROUP BY 1),
        |grid AS (
        | SELECT mx.l_returnflag, my.l_linestatus, mx.n_x, my.n_y,
        |  coalesce(j.n_xy, 0) AS n_xy
        | FROM mx CROSS JOIN my
        | LEFT JOIN j ON j.l_returnflag = mx.l_returnflag
        |            AND j.l_linestatus = my.l_linestatus),
        |s AS (
        | SELECT any_value(n) AS n,
        |  round(sum(CASE WHEN n_xy > 0 THEN
        |    (n_xy / CAST(n AS DOUBLE)) *
        |    ln((n_xy / CAST(n AS DOUBLE)) /
        |       ((n_x / CAST(n AS DOUBLE)) * (n_y / CAST(n AS DOUBLE))))
        |    ELSE 0.0 END), 6) AS mi,
        |  round(sum(pow(n_xy - (n_x / CAST(n AS DOUBLE)) * (n_y / CAST(n AS DOUBLE)) * n, 2)
        |            / ((n_x / CAST(n AS DOUBLE)) * (n_y / CAST(n AS DOUBLE)) * n)), 4) AS chi2,
        |  any_value(r) AS r, any_value(c) AS c
        | FROM grid CROSS JOIN t)
        |SELECT n, mi, chi2,
        | round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
        |FROM s""".stripMargin)),
    QuerySpec("q_feat_anova", (s, d) => Features.anovaScreen(s, d),
      Some("""WITH g AS (SELECT l_returnflag, count(*) AS n_g,
        |            avg(l_extendedprice) AS mean_g,
        |            var_samp(l_extendedprice) AS var_g
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
        |       sum(n_g * mean_g) / sum(n_g) AS grand,
        |       sum((n_g - 1) * var_g) AS ssw FROM g),
        |f AS (SELECT any_value(n) AS n, any_value(k) AS k,
        |       any_value(ssw) AS ssw,
        |       sum(n_g * pow(mean_g - grand, 2)) AS ssb
        |      FROM g CROSS JOIN t)
        |SELECT g.l_returnflag, g.n_g, round(g.mean_g, 4) AS mean_g,
        | round(sqrt(g.var_g), 4) AS sd_g,
        | round((f.ssb / (f.k - 1)) / (f.ssw / (f.n - f.k)), 6) AS f_stat
        |FROM g CROSS JOIN f ORDER BY g.l_returnflag""".stripMargin)),
    QuerySpec("q_profile_orders", (s, d) => Stats.columnProfile(s, d),
      Some("""WITH t AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT 'o_orderkey' AS "column", t.n_rows,
        | count(o_orderkey) AS n_nonnull,
        | count(DISTINCT o_orderkey) AS n_distinct,
        | round(CAST(min(o_orderkey) AS DOUBLE), 2) AS min_num,
        | round(CAST(max(o_orderkey) AS DOUBLE), 2) AS max_num,
        | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders, t GROUP BY t.n_rows
        |UNION ALL
        |SELECT 'o_custkey', t.n_rows, count(o_custkey),
        | count(DISTINCT o_custkey),
        | round(CAST(min(o_custkey) AS DOUBLE), 2),
        | round(CAST(max(o_custkey) AS DOUBLE), 2), NULL, NULL
        |FROM orders, t GROUP BY t.n_rows
        |UNION ALL
        |SELECT 'o_totalprice', t.n_rows, count(o_totalprice),
        | count(DISTINCT o_totalprice),
        | round(CAST(min(o_totalprice) AS DOUBLE), 2),
        | round(CAST(max(o_totalprice) AS DOUBLE), 2), NULL, NULL
        |FROM orders, t GROUP BY t.n_rows
        |UNION ALL
        |SELECT 'o_orderstatus', t.n_rows, count(o_orderstatus),
        | count(DISTINCT o_orderstatus), NULL, NULL,
        | min(o_orderstatus), max(o_orderstatus)
        |FROM orders, t GROUP BY t.n_rows
        |UNION ALL
        |SELECT 'o_orderpriority', t.n_rows, count(o_orderpriority),
        | count(DISTINCT o_orderpriority), NULL, NULL,
        | min(o_orderpriority), max(o_orderpriority)
        |FROM orders, t GROUP BY t.n_rows
        |UNION ALL
        |SELECT 'o_orderdate', t.n_rows, count(o_orderdate),
        | count(DISTINCT o_orderdate), NULL, NULL,
        | strftime(min(o_orderdate), '%Y-%m-%d'),
        | strftime(max(o_orderdate), '%Y-%m-%d')
        |FROM orders, t GROUP BY t.n_rows
        |ORDER BY "column"""".stripMargin)),
  )

  /** The builders by name: a view of [[registry]] (SURVEY.md §7.1). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** The DuckDB twins by name, rows-only queries omitted: a view of
    * [[registry]] (SURVEY.md §7.1). */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The 10x64-term score expressions and the argmax CASE chain shared by
    * every ML oracle twin - ONE generator so an edit to [[Metrics.weight]]
    * or the tie-break rule can never desynchronize a subset of the SQL
    * twins from the Spark scorer. */
  private def mlScoreExprs: String = (0 until Metrics.numClasses).map { c =>
    val terms = (1 to Tables.embeddingDim)
      .map(i => s"v[$i]*(${Metrics.weight(c, i - 1)}.0)").mkString(" + ")
    s"($terms) AS score_$c"
  }.mkString(",\n  ")

  private def mlScoreNames: Seq[String] = (0 until Metrics.numClasses).map(c => s"score_$c")

  private def mlCaseChain: String = (0 until Metrics.numClasses - 1).map { c =>
    val conds = ((c + 1) until Metrics.numClasses)
      .map(r => s"score_$c >= score_$r").mkString(" AND ")
    s"WHEN $conds THEN $c"
  }.mkString("\n   ", "\n   ", s"\n   ELSE ${Metrics.numClasses - 1}")

  /** DuckDB twin of [[Metrics.linearPredictions]] — scores and argmax
    * generated from the same weight formula, explicit left-assoc sums so
    * the fold order matches Spark's `aggregate` exactly. */
  private def mlPredCte: String =
    s"""$mlScoreCtes,
       |p AS (SELECT vec_id, label,
       |  CAST(CASE$mlCaseChain END AS BIGINT) AS pred
       | FROM s)""".stripMargin

  /** The `e` (vec_id, label, v) and `s` (vec_id, label, score_0..) CTEs
    * every ML twin starts from. */
  private def mlScoreCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |  $embDoubleSql FROM embeddings),
       |s AS (SELECT vec_id, label,
       |  $mlScoreExprs
       | FROM e)""".stripMargin

  /** [[tokenHashCtes]] and CTEs `u`/`sp`: every stride-spaced window of
    * [[Text.boilWindowTokens]] token hashes folded by the [[Dedup.combine2]]
    * multiplier to one span key `sh`, as in [[Text.boilerplateSpans]]. */
  private def boilSpanCtes: String = {
    val (w, st) = (Text.boilWindowTokens, Text.boilStride)
    s"""${tokenHashCtes(w)},
       |u AS (
       | SELECT doc_id, th,
       |  unnest(generate_series(0,
       |    CAST(floor((len(th) - $w)
       |      / $st.0) AS BIGINT))) AS j
       | FROM th),
       |sp AS (
       | SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_slice(th, j * $st + 1,
       |      j * $st + $w)),
       |    (acc, h) -> (acc * ${Dedup.shingleMult} + h) % ${Dedup.P}) AS sh
       | FROM u)""".stripMargin
  }

  /** CTEs `und` (the undirected cross-nation trade edges a < b with
    * weight w) and `tot` (their count and weight sum): the input of the
    * strong-edge cut of [[Graph.tradeTriangles]] and
    * [[Graph.tradeCommunities]]. */
  private def tradeUndCtes: String =
    s"""und AS (
       | SELECT least(c_nationkey, s_nationkey) AS a,
       |  greatest(c_nationkey, s_nationkey) AS b, count(*) AS w
       | ${Graph.tradePairsSql}),
       |tot AS (SELECT count(*) AS ne, CAST(sum(w) AS BIGINT) AS sw FROM und)""".stripMargin

  /** CTEs `tk` (one row per whitespace token and its source) and `g`
    * (each source's token counts). */
  private def sourceTokenCtes: String =
    s"""tk AS (
       | SELECT source,
       |  unnest(${tokensSql("text")}) AS token
       | FROM documents),
       |g AS (SELECT source, token, count(*) AS n FROM tk
       |      GROUP BY source, token)""".stripMargin

  /** [[Text.qualityScore]]'s blend of token diversity, stopword share
    * and length, over n_distinct, n_stop and n_tokens. */
  private def qualitySql: String =
    """round(0.4 * (n_distinct / n_tokens) + 0.3 * (1.0 - n_stop / n_tokens)
      |        + 0.3 * least(1.0, n_tokens / 60.0), 6)""".stripMargin

  /** CTE `m`: geometry and units of every image and video poster
    * ([[Multimodal.mediaTable]] rows with doc_id % 3 <> 1). */
  private def posterMediaCte: String =
    s"""m AS (
       | SELECT doc_id AS media_id,
       |  ${Multimodal.mediaGeometrySql},
       |  ${Multimodal.mediaUnitsSql}
       | FROM documents WHERE doc_id % 3 <> 1)""".stripMargin

  /** Shared DuckDB CTE chain replaying [[Dedup]]'s tokenize → shingle →
    * poly-hash → MinHash-signature pipeline from the same constants, so
    * engine and oracle cannot drift. */
  private def dedupCtes: String =
    s"""WITH ${tokenHashCtes(3)},
       |hsh AS (
       | SELECT doc_id, list_distinct(${combine3Sql("th")}) AS hs
       | FROM th),
       |sig AS (
       | SELECT doc_id, hs,
       |  ${minhashSigSql("hs")}
       | FROM hsh)""".stripMargin

  /** The MinHash signature columns sig_0.. of the shingle-set list `set`:
    * the minimum of each [[Dedup.A]]/[[Dedup.B]] affine image. */
  private def minhashSigSql(set: String): String = Dedup.A.indices.map { j =>
    s"list_aggregate(list_transform($set, h -> (h*${Dedup.A(j)}+${Dedup.B(j)}) % ${Dedup.P}), 'min') AS sig_$j"
  }.mkString(",\n  ")

  /** One (doc_id, band, s1, s2) row per doc and band of the signature
    * CTE `sig`: band b keys on sig_2b and sig_2b+1. */
  private def bandSelectsSql(sig: String): String = (0 until Dedup.numBands).map(b =>
    s"SELECT doc_id, $b AS band, sig_${2 * b} AS s1, sig_${2 * b + 1} AS s2 FROM $sig")
    .mkString("\n  UNION ALL ")

  /** CTE `name`: the rows (`cols`) of CTE `name`0 whose band bucket
    * (`key`) holds at most [[Dedup.maxBandBucket]] members — the
    * degenerate-bucket guard of LSH candidate mining. */
  private def cappedBandsCte(name: String, cols: String, key: String): String =
    s"""$name AS (
       | SELECT $cols FROM (
       |  SELECT *, count(*) OVER (PARTITION BY $key) AS bmembers
       |  FROM ${name}0) WHERE bmembers <= ${Dedup.maxBandBucket})""".stripMargin

  /** CTE `name`: every ordered doc pair that shares a band key in the
    * band CTE `bands`. */
  private def bandCandCte(name: String, bands: String): String =
    s"""$name AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM $bands x JOIN $bands y
       |   ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
       |  AND x.doc_id < y.doc_id)""".stripMargin

  /** DuckDB twin of [[Dedup.simhash]], generated from the same constants:
    * 60-bit signature fed by two 30-bit token hashes. */
  private def simhashOracle: String = {
    val half = Dedup.simhashBits / 2
    val votes = ((0 until Dedup.simhashBits).map { b =>
      val src = if (b < half) s"(h1 >> $b)" else s"(h2 >> ${b - half})"
      s"sum(cnt * ($src & 1)) AS s_$b"
    } :+ "sum(cnt) AS t").mkString(",\n  ")
    val bits = (0 until Dedup.simhashBits).map(b =>
      s"(CASE WHEN s_$b * 2 > t THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (
       | SELECT doc_id, unnest(${tokensSql("text")}) AS tok
       | FROM documents),
       |c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY doc_id, tok),
       |h AS (
       | SELECT doc_id, cnt, ${polyHashSql("tok")} AS h1
       | FROM c),
       |h2 AS (SELECT doc_id, cnt, h1, (h1*${Dedup.A2} + ${Dedup.B2}) % ${Dedup.P} AS h2 FROM h),
       |v AS (SELECT doc_id,
       |  $votes
       | FROM h2 GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[Text.langIdConfusion]], generated from the same
    * [[Text.langMarkers]] profile so scorer and oracle can't drift. */
  private def langIdOracle: String = {
    val langs = Text.langMarkers.map(_._1)
    val scoreExprs = Text.langMarkers.map { case (lang, ms) =>
      ms.map(m =>
        s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}")
        .mkString("(", " + ", s") AS s_$lang")
    }.mkString(",\n  ")
    val caseChain = langs.init.zipWithIndex.map { case (lang, i) =>
      val conds = langs.drop(i + 1).map(r => s"s_$lang >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n   ", "\n   ", s"\n   ELSE '${langs.last}'")
    s"""WITH p AS (SELECT lang, ' ' || text || ' ' AS p FROM documents),
       |s AS (SELECT lang,
       |  $scoreExprs
       | FROM p)
       |SELECT lang,
       |  CASE$caseChain END AS pred_lang,
       |  count(*) AS n
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Shared by the window form (`q_topk_parts_per_brand`) and the
    * bounded-heap aggregate form (`q_topk_brand_agg`): both must produce
    * exactly this. */
  /** Unrolled integer-unit PageRank oracle — the same exact arithmetic
    * as [[graft.ops.Graph.nationTradePageRank]] (`div`/`//` integer
    * division throughout, so summation order cannot drift), one chained
    * CTE per power-iteration step. */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (SELECT nd.node, (150000000 // nd.n) + coalesce(t.s, 0) AS units
         | FROM nd LEFT JOIN (
         |  SELECT e.dst AS node,
         |   CAST(sum((r.units * e.w * 85) // (100 * e.out_w)) AS BIGINT) AS s
         |  FROM e JOIN r${k - 1} r ON e.src = r.node GROUP BY 1) t USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       | SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
       | ${Graph.tradeJoinSql} GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e0 GROUP BY 1),
       |e AS (SELECT e0.src, e0.dst, e0.w, ow.out_w FROM e0 JOIN ow USING (src)),
       |nd AS (SELECT n_nationkey AS node, n_name,
       |        (SELECT count(*) FROM nation) AS n FROM nation),
       |r0 AS (SELECT node, 1000000000 // n AS units FROM nd),
       |$steps
       |SELECT nd.n_name, r$iters.units, r$iters.units / 1000000000.0 AS pagerank
       |FROM nd JOIN r$iters USING (node)
       |ORDER BY r$iters.units DESC, nd.n_name""".stripMargin
  }

  private val topkBrandSql: String =
    """SELECT p_brand, p_partkey, p_name, p_retailprice, rnk FROM (
      | SELECT p_brand, p_partkey, p_name, p_retailprice,
      |  row_number() OVER (PARTITION BY p_brand
      |                     ORDER BY p_retailprice DESC, p_partkey) AS rnk
      | FROM part) t
      |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin

  /** KDE constants shared by the declared query and its generated oracle
    * so scorer and oracle can't drift. */
  private val kdeColumn = "l_discount"
  private val kdeBandwidth = 0.02
  private val kdePoints = 11

  /** DuckDB twin of [[Stats.kdeDensity]], generated from the same
    * constants: identical grid arithmetic and Gaussian fold, with the
    * JVM-computed double constants embedded via toString (IEEE
    * round-trip) so both engines evaluate bit-identical expressions. */
  private def kdeOracle: String = {
    val c2 = 2.0 * kdeBandwidth * kdeBandwidth
    val norm = 1.0 / (kdeBandwidth * math.sqrt(2.0 * math.Pi))
    s"""WITH b AS (SELECT min($kdeColumn) AS mn, max($kdeColumn) AS mx FROM lineitem),
       |g AS (SELECT mn + (mx - mn) * i / ${(kdePoints - 1).toDouble} AS pt
       |      FROM b, (SELECT unnest(generate_series(0, ${kdePoints - 1})) AS i) t),
       |d AS (SELECT pt, round(avg(exp((l_discount - pt) * (pt - l_discount) / $c2) * $norm), 6) AS density
       |      FROM lineitem, g GROUP BY pt)
       |SELECT round(pt, 6) AS pt, density FROM d ORDER BY pt""".stripMargin
  }

  /** Exact Jaccard of an [[overlapCte]] row, 6dp like the engine's. */
  private def jacSql: String = "round(inter / (na + nb - inter), 6)"

  /** A doc pair's hashed-shingle overlap over `hsh` aliases `a`/`b`: the
    * intersection size and both set sizes. */
  private def overlapSql: String =
    """CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) AS inter,
      |  len(a.hs) AS na, len(b.hs) AS nb""".stripMargin

  /** CTE `name`: every (doc_a, doc_b) candidate of CTE `cand` with its
    * [[overlapSql]]. */
  private def overlapCte(name: String, cand: String): String =
    s"""$name AS (
       | SELECT doc_a, doc_b,
       |  $overlapSql
       | FROM $cand JOIN hsh a ON $cand.doc_a = a.doc_id
       |            JOIN hsh b ON $cand.doc_b = b.doc_id)""".stripMargin

  /** CTE `j`: the [[overlapSql]] of every doc pair below id 500 — the
    * brute-force Jaccard and containment baselines. */
  private def bruteOverlapCte: String =
    s"""j AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  $overlapSql
       | FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       | WHERE a.doc_id < 500 AND b.doc_id < 500)""".stripMargin

  /** [[dedupCtes]] extended through LSH banding and exact-Jaccard verify
    * to a `pairs` CTE — shared by the pair query and the cluster query. */
  private def minhashPairsCtes: String = dedupCtes +
    s"""
       |, bands0 AS (
       |  ${bandSelectsSql("sig")}),
       |${cappedBandsCte("bands", "doc_id, band, s1, s2", "band, s1, s2")},
       |${bandCandCte("cand", "bands")},
       |${overlapCte("j", "cand")},
       |pairs AS (
       | SELECT doc_a, doc_b, $jacSql AS jac
       | FROM j WHERE $jacSql >= 0.8)""".stripMargin

  /** Shared CTE block for the sign-LSH dump twins (round-7 verdict #5):
    * read a (vec_id, signature) verify dump, slice the 64-bit signature
    * into 8 bands of 8 bits with the same arithmetic-shift+mask
    * arithmetic as [[graft.ops.Dedup.bandedVerifiedPairs]], emit each
    * ordered pair once (DISTINCT ≡ the engine's first-match band), and
    * exact-cosine verify against the embeddings table — `pr` holds the
    * verified ≥ minCos pairs. `sigExpr`/`whereSql` adapt to the dump
    * layout: the published index carries one `sign_bits` long per row;
    * the live-signing dump is EXPLODED to (vec_id, word_idx, word)
    * scalar rows (round-9 verdict #1 — harness-safe schema), carrying
    * exactly one word at the rung the sf0.01 corpus sizes to (n = 500
    * ≤ 2048 ⇒ rung 1, 64 planes / 8 bands; see
    * [[graft.ops.Dedup.adaptiveGeometry]] — [[Verify]] warns loudly if
    * the gate corpus ever outgrows the rung these literals assume).
    * The hamming cutoff is the ENGINE'S OWN
    * [[graft.ops.Dedup.hamCutFor]] (binomial mean + 2σ), so the twin
    * tracks the margin arithmetic by construction. */
  private def signBandPairCtes(dumpName: String, minCos: Double,
                               sigExpr: String = "sign_bits",
                               whereSql: String = ""): String = {
    val hamCut = Dedup.hamCutFor(64, minCos)
    s"""s AS (SELECT vec_id, $sigExpr AS sign_bits
       | FROM '${graft.explore.Stats.verifyOutToken}/$dumpName/*.parquet' $whereSql),
       |sbands0 AS (
       | SELECT vec_id, sign_bits, band, (sign_bits >> (band * 8)) & 255 AS key
       | FROM s, (SELECT unnest(generate_series(0, 7)) AS band) bb),
       |${cappedBandsCte("sbands", "vec_id, sign_bits, band, key", "band, key")},
       |cand AS (
       | SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       | FROM sbands x JOIN sbands y
       |   ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
       |  AND bit_count(xor(x.sign_bits, y.sign_bits)) <= $hamCut),
       |${embNormCtes("se", "sn")},
       |vp AS (
       | SELECT vec_a, vec_b,
       |  ${cosSimSql("a", "b")} AS cos_sim
       | FROM cand JOIN sn a ON cand.vec_a = a.vec_id
       |           JOIN sn b ON cand.vec_b = b.vec_id),
       |pr AS (SELECT vec_a, vec_b, cos_sim FROM vp WHERE cos_sim >= $minCos)""".stripMargin
  }

  /** CTEs `s` (the q_sim_sign_index dump) and `q` (its first 10 rows as
    * queries): the input of the ANN twins. */
  private def signQueryCtes: String =
    s"""s AS (SELECT vec_id, sign_bits
       | FROM '${Stats.verifyOutToken}/q_sim_sign_index/*.parquet'),
       |q AS (SELECT vec_id AS q_id, sign_bits AS q_bits
       |      FROM s WHERE vec_id < 10)""".stripMargin

  /** Shared ANN-shortlist CTE block (no leading WITH): hamming top-c
    * per query over the q_sim_sign_index dump + exact-cosine re-rank
    * from raw embeddings, ending in `atopk` (q_id, cand_id, cos_sim,
    * rnk ≤ 10). Literals mirror [[graft.ops.Similarity.annTopKCosine]]'s
    * default args (nQueries = 10, k = 10, shortlist c = 128). */
  private def annTopkCtes: String = {
    val c = 128
    s"""$signQueryCtes,
       |short AS (
       | SELECT q_id, cand_id FROM (
       |  SELECT q.q_id, s.vec_id AS cand_id,
       |   row_number() OVER (PARTITION BY q.q_id
       |     ORDER BY bit_count(xor(s.sign_bits, q.q_bits)), s.vec_id) AS hr
       |  FROM s JOIN q ON s.vec_id <> q.q_id) WHERE hr <= $c),
       |${embNormCtes("se", "sn")},
       |scored AS (
       | SELECT short.q_id, short.cand_id,
       |  ${cosSimSql("a", "b")} AS cos_sim
       | FROM short JOIN sn a ON short.q_id = a.vec_id
       |            JOIN sn b ON short.cand_id = b.vec_id),
       |atopk AS (${topKSql("scored", 10)})""".stripMargin
  }

  /** Shared DuckDB CTEs for the BPE family: merge table from the
    * `q_text_bpe_merges` dump, the recursive replace-until-fixpoint
    * encode per DISTINCT word (the graft.functions.BpeTable contract,
    * see that scaladoc), and the per-doc reassembly frame `d` plus the
    * tokenized base `t`. Composed by `q_text_bpe` (per-doc) and
    * `q_text_bpe_fertility` (per-language). Must run under
    * `WITH RECURSIVE`. */
  private def bpeCtes: String =
    s"""m AS (SELECT CAST(rank AS BIGINT) AS r, a, b
         |      FROM '${graft.explore.Stats.verifyOutToken}/q_text_bpe_merges/*.parquet'),
         |mm AS (SELECT r, chr(31) || a || chr(31) || b || chr(31) AS pat,
         |               chr(31) || a || b || chr(31) AS rep FROM m),
         |mx AS (SELECT COALESCE(max(r), 0) AS mx FROM mm),
         |t AS (SELECT doc_id, ${tokensSql("text")} AS toks
         |      FROM documents),
         |w0 AS (SELECT DISTINCT unnest(toks) AS w FROM t),
         |enc(w, s, r) AS (
         |  SELECT w, chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g'),
         |         CAST(1 AS BIGINT)
         |  FROM w0
         |  UNION ALL
         |  SELECT e.w,
         |    CASE WHEN contains(e.s, mm.pat) THEN replace(e.s, mm.pat, mm.rep)
         |         ELSE e.s END,
         |    CASE WHEN contains(e.s, mm.pat) THEN e.r ELSE e.r + 1 END
         |  FROM enc e JOIN mm ON mm.r = e.r),
         |wenc AS (SELECT w, s FROM enc, mx WHERE enc.r = mx.mx + 1),
         |wd AS (SELECT w,
         |        ${tokensSql("s", "chr(31)")} AS pieces
         |       FROM wenc),
         |wdd AS (SELECT w, array_to_string(pieces, '@@ ') AS disp,
         |         CAST(len(pieces) AS BIGINT) AS np FROM wd),
         |tp0 AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(toks)),
         |           i -> {'p': CAST(i AS BIGINT), 'tok': toks[i]})) AS u
         |        FROM t),
         |tp AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tp0),
         |d AS (SELECT tp.doc_id, count(*) AS n_words,
         |        CAST(sum(wdd.np) AS BIGINT) AS n_bpe_tokens,
         |        string_agg(wdd.disp, ' ' ORDER BY tp.p) AS bpe_text
         |      FROM tp JOIN wdd ON tp.tok = wdd.w GROUP BY tp.doc_id)""".stripMargin

  /** Shared DuckDB CTEs for the PQ family: codebooks rebuilt from the
    * `q_sim_pq_codebooks` dump, L2-normalized embeddings, and the
    * per-(vector, subspace) code assignment — the exact arithmetic of
    * [[graft.ops.Similarity.ensurePqCodes]] (normalize → per-subspace
    * argmin of |c|²−2·w_m·c, lowest-code tie-break), plus the query-side
    * ADC distance tables (`pdt`). M = 8 subspaces × 8 dims is pinned
    * (the library constant [[graft.ops.Similarity.pqM]]); ksub comes off
    * the dump, so the twin tracks [[graft.ops.Similarity.adaptivePqKsub]]
    * without a literal. */
  private def pqCtes: String =
    s"""${codebookCte("cb", "q_sim_pq_codebooks")},
       |$pqNormCtes,
       |${codeAssignCtes("pw", "w", "cb", "psub", "pasg")},
       |pq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, w AS qw
       |       FROM pw WHERE vec_id < 10),
       |pdt AS (SELECT pq.q_id, cb.subspace, cb.code,
       |  ${adcTermSql("pq.qw", "cb")} AS term
       | FROM pq CROSS JOIN cb)""".stripMargin

  /** CTE `name`: a codebook dump's centroids as (subspace, code, c). */
  private def codebookCte(name: String, dump: String): String =
    s"""$name AS (SELECT subspace, code, list(value ORDER BY dim) AS c
       | FROM '${Stats.verifyOutToken}/$dump/*.parquet'
       | GROUP BY subspace, code)""".stripMargin

  /** CTEs `sub` and `asg`: every row of CTE `rows` gets, per subspace, the
    * code of codebook CTE `cb` nearest its list column `vec` — argmin of
    * |c|²−2·x·c, lowest code on ties, as [[Similarity.ensurePqCodes]]. */
  private def codeAssignCtes(rows: String, vec: String, cb: String, sub: String,
                             asg: String): String = {
    val d = Similarity.pqSubDim
    s"""$sub AS (SELECT $rows.vec_id, $cb.subspace, $cb.code,
       |  ${sumDimsSql(s"$cb.c[i]*$cb.c[i]", d)}
       |  - 2.0 * ${sumDimsSql(s"$rows.$vec[$cb.subspace*$d+i]*$cb.c[i]", d)} AS dist
       | FROM $rows CROSS JOIN $cb),
       |$asg AS (SELECT vec_id, subspace, code FROM (
       |  SELECT vec_id, subspace, code,
       |   row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code) AS r
       |  FROM $sub) WHERE r = 1)""".stripMargin
  }

  /** ADC table term of the query list `qv` for each code of codebook CTE
    * `cb`: the squared distance of its subvector to the code. */
  private def adcTermSql(qv: String, cb: String): String = {
    val d = Similarity.pqSubDim
    sumDimsSql(s"($qv[$cb.subspace*$d+i] - $cb.c[i]) * ($qv[$cb.subspace*$d+i] - $cb.c[i])", d)
  }

  /** The `pe`/`pn` [[Similarity.embNormCtes]] pair plus `pw`, its
    * nonzero-norm rows L2-normalized as `w` — the frame the PQ codes are
    * fitted and assigned on. */
  private def pqNormCtes: String =
    s"""${embNormCtes("pe", "pn")},
       |pw AS (SELECT vec_id, v, nrm,
       |  ${dimsSql("v[i]/nrm")} AS w
       | FROM pn WHERE nrm > 0)""".stripMargin

  /** Shared CTE block for the residual IVF-PQ twins: residual codebooks
    * from the `q_sim_rpq_codebooks` dump, coarse centroids (+ their
    * normalized form `cn`) from `q_sim_ivf_centroids`, raw-vector coarse
    * assignment (the [[graft.ops.Similarity.assignCells]] ‖c‖²−2·v·c
    * argmin), residual rv = w − cn, and the per-(vector, subspace)
    * residual code argmin — everything [[graft.ops.Similarity
    * .rpqCodesDump]] publishes, replayed from the two dumps. */
  private def rpqCtes: String =
    s"""${codebookCte("rcb", "q_sim_rpq_codebooks")},
       |$pqNormCtes,
       |${ivfCtes("pw")},
       |icn AS (SELECT cell, c, list_transform(c, x ->
       |  x / ${normSql("c")}) AS cn
       | FROM icent),
       |rres AS (SELECT pw.vec_id, iasg.cell,
       |  ${dimsSql("pw.w[i] - icn.cn[i]")} AS rv
       | FROM pw JOIN iasg USING (vec_id) JOIN icn USING (cell)),
       |${codeAssignCtes("rres", "rv", "rcb", "rsub", "rasg")}""".stripMargin

  /** Shared IVF CTE block for the IVF-family twins, replayed from the
    * `q_sim_ivf_centroids` dump: `icent` (centroid vectors), `iasg`
    * (every `src` row's cell — argmin ‖c‖²−2·v·c, lowest-cell tie-break,
    * [[graft.ops.Similarity.assignCells]]) and `ipr` (each query's cells
    * ranked `cr` by cosine-to-centroid DESC, cell — the probe ranking).
    * `src` is the (vec_id, v, nrm) CTE the engine side reads: `n` (every
    * row, embWithNorm) or `pw` (nrm > 0 only, embNormalized). The caller
    * applies the probe cutoff `cr <= p` (the probe curve sweeps it). */
  private def ivfCtes(src: String): String =
    s"""icent AS (SELECT cell, list(value ORDER BY dim) AS c
       | FROM '${graft.explore.Stats.verifyOutToken}/q_sim_ivf_centroids/*.parquet'
       | GROUP BY cell),
       |iad AS (SELECT $src.vec_id, icent.cell,
       |  ${dotSql("icent.c", "icent.c")}
       |  - 2.0 * ${dotSql(s"$src.v", "icent.c")} AS dist
       | FROM $src CROSS JOIN icent),
       |iasg AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |  FROM iad) WHERE r = 1),
       |ipr AS (SELECT q_id, cell,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cdist DESC, cell) AS cr
       | FROM (SELECT $src.vec_id AS q_id, icent.cell,
       |  ${dotSql(s"$src.v", "icent.c")}
       |   / nullif($src.nrm * ${normSql("icent.c")}, 0.0) AS cdist
       |  FROM $src CROSS JOIN icent WHERE $src.vec_id < 10))""".stripMargin

  /** Rounded exact cosine (q_id, cand_id, cos_sim) of each query in CTE
    * `q` (q_id, qv, qn) against the `n` rows in its `probes` best-ranked
    * [[ivfCtes]] cells, self excluded. */
  private def ivfScored(q: String, probes: Int): String =
    s"""SELECT $q.q_id, n.vec_id AS cand_id,
       |  round(${dotSql(s"$q.qv", "n.v")}
       |   / nullif($q.qn * n.nrm, 0.0), 6) AS cos_sim
       | FROM ipr JOIN $q ON ipr.q_id = $q.q_id
       |      JOIN iasg ON iasg.cell = ipr.cell
       |      JOIN n ON n.vec_id = iasg.vec_id
       | WHERE ipr.cr <= $probes AND n.vec_id <> $q.q_id""".stripMargin

  /** ADC-shortlist (by adc asc, cand_id tie-break) + exact-cosine
    * re-rank tail shared by the `q_sim_pq_topk` / `q_sim_ivfpq_topk`
    * twins — mirrors [[graft.ops.Similarity.exactRerank]]. `adcCte` is
    * the name of the (q_id, cand_id, adc) CTE to shortlist from. The
    * shortlist depth is [[graft.ops.Similarity.pqTwinShortlist]] — the
    * engine's own adaptiveShortlist at the gate rung, never a hand
    * literal (round-12 ADVICE). */
  private def pqRerankTail(adcCte: String): String =
    s"""psl AS (SELECT q_id, cand_id FROM (
       |  SELECT q_id, cand_id,
       |   row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS r
       |  FROM $adcCte) WHERE r <= ${Similarity.pqTwinShortlist}),
       |pscored AS (SELECT psl.q_id, psl.cand_id,
       |  round(${dotSql("a.v", "b.v")}
       |   / nullif(a.nrm * b.nrm, 0.0), 6) AS cos_sim
       | FROM psl JOIN pn a ON psl.q_id = a.vec_id
       |          JOIN pn b ON psl.cand_id = b.vec_id)
       |${topKSql("pscored", 10)} ORDER BY q_id, rnk""".stripMargin

  /** DuckDB twin of [[Text.sparseCandidatePairs]]: WIDE-keyed
    * rare-shingle postings (per-token poly-hash fold + TWO independent
    * rolling n-gram combines → h1·P + h2, the
    * [[graft.functions.NGramHashesWide]] arithmetic) → df-capped
    * self-join → pair shared counts. Shared by the sparse-sim ranking
    * query and the ER clustering query. Both combine chains are BUILT
    * from [[Text.sparseSimShingleWords]] (round-8 ADVICE #2: a
    * hand-written 4-term chain would silently diverge if the constant
    * changed). */
  private def sparsePairCtes: String = {
    val n = Text.sparseSimShingleWords
    s"""WITH ${tokenHashCtes(n)},
       |tk AS (
       | SELECT doc_id, unnest(list_distinct(list_transform(
       |   generate_series(1, len(th) - ${n - 1}),
       |   i -> ${wideKeySql(n)})))
       |  AS token
       | FROM th),
       |rare AS (SELECT token FROM tk GROUP BY token
       |         HAVING count(*) BETWEEN 2 AND ${Text.sparseSimDfCap}),
       |rp AS (SELECT tk.doc_id, tk.token FROM tk JOIN rare USING (token)),
       |spairs AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       | FROM rp a JOIN rp b ON a.token = b.token AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 HAVING count(*) >= ${Text.sparseSimMinShared})""".stripMargin
  }

  /** Connected components of the pair CTE `pairs` (`key`_a, `key`_b) —
    * the contraction behind [[Dedup.dupClusters]] — as three CTEs named
    * with `prefix`: `sym` (both directions), the recursive `reach`, and
    * `lab`, which gives every paired `key`_id its component's minimum id
    * as `rep`. Must run under `WITH RECURSIVE`. */
  private def componentCtes(pairs: String, key: String, prefix: String = "",
                            rep: String = "cluster_rep"): String =
    s"""${prefix}sym AS (
       | SELECT ${key}_a AS src, ${key}_b AS dst FROM $pairs
       | UNION SELECT ${key}_b, ${key}_a FROM $pairs),
       |${prefix}reach AS (
       | SELECT src, dst FROM ${prefix}sym
       | UNION
       | SELECT r.src, s.dst FROM ${prefix}reach r JOIN ${prefix}sym s ON r.dst = s.src),
       |${prefix}lab AS (SELECT src AS ${key}_id, least(src, min(dst)) AS $rep
       |        FROM ${prefix}reach GROUP BY src)""".stripMargin

  /** [[minhashPairsCtes]] extended to cluster labels (recursive CTE) — the
    * `lab` CTE gives every clustered doc its component's min doc_id;
    * shared by the cluster query, the deduped-corpus query and the
    * end-to-end corpus composition. */
  private def clusterLabCtes: String =
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      componentCtes("pairs", "doc")

  /** DuckDB twin of [[Dedup.incrementalAssign]], generated from the same
    * constants: the corpus cut, old-corpus labels (recursive CTE), verified
    * new→old anchors, batch-internal components (second recursive CTE),
    * and the adopt-or-fresh label rule — identical arithmetic end to end. */
  private def incrementalOracle: String = incrementalCtes + """
    |SELECT wc.doc_id, coalesce(ca.comp_anchor, wc.comp) AS cluster_rep,
    | CAST(ca.comp_anchor IS NOT NULL AS INT) AS attached
    |FROM wc JOIN ca ON wc.comp = ca.comp
    |ORDER BY wc.doc_id""".stripMargin

  /** DuckDB twin of [[Dedup.mergedIncrementalLabels]] — the write-back
    * half of the daily loop: yesterday's labels (`olab`) concatenated with
    * today's assignments, same CTEs as [[incrementalOracle]]. */
  private def incWritebackOracle: String = incrementalCtes + """
    |SELECT doc_id, cluster_rep FROM olab
    |UNION ALL
    |SELECT wc.doc_id AS doc_id,
    | coalesce(ca.comp_anchor, wc.comp) AS cluster_rep
    |FROM wc JOIN ca ON wc.comp = ca.comp
    |ORDER BY doc_id""".stripMargin

  private def incrementalCtes: String =
    dedupCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
       |, cutv AS (SELECT CAST(floor(max(doc_id) * ${1.0 - Dedup.incNewFrac})
       |                  AS BIGINT) AS cut FROM documents),
       |bands AS (
       |  ${bandSelectsSql("sig")}),
       |oldb AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id < cut),
       |newb AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id >= cut),
       |${bandCandCte("ocand", "oldb")},
       |${overlapCte("oj", "ocand")},
       |opairs AS (SELECT doc_a, doc_b FROM oj WHERE $jacSql >= 0.8),
       |${componentCtes("opairs", "doc", prefix = "o")},
       |xcand AS (
       | SELECT DISTINCT n.doc_id AS doc_a, o.doc_id AS doc_b
       | FROM newb n JOIN oldb o
       |   ON n.band = o.band AND n.s1 = o.s1 AND n.s2 = o.s2),
       |${overlapCte("xj", "xcand")},
       |xver AS (SELECT doc_a, doc_b FROM xj WHERE $jacSql >= 0.8),
       |anch AS (
       | SELECT x.doc_a AS doc_id, min(coalesce(l.cluster_rep, x.doc_b)) AS anchor
       | FROM xver x LEFT JOIN olab l ON x.doc_b = l.doc_id
       | GROUP BY x.doc_a),
       |${bandCandCte("ncand", "newb")},
       |${overlapCte("nj", "ncand")},
       |npairs AS (SELECT doc_a, doc_b FROM nj WHERE $jacSql >= 0.8),
       |${componentCtes("npairs", "doc", prefix = "n", rep = "comp0")},
       |wc AS (
       | SELECT d.doc_id, coalesce(nl.comp0, d.doc_id) AS comp
       | FROM (SELECT doc_id FROM documents, cutv WHERE doc_id >= cut) d
       | LEFT JOIN nlab nl ON d.doc_id = nl.doc_id),
       |ca AS (
       | SELECT wc.comp, min(a.anchor) AS comp_anchor
       | FROM wc LEFT JOIN anch a ON wc.doc_id = a.doc_id
       | GROUP BY wc.comp)""".stripMargin

  /** DuckDB twin of [[Dedup.containmentPairsLsh]], generated from the same
    * constants: windowed MinHash re-signing (stride = W/2), 4×2 banding on
    * window signatures, exact whole-doc containment verify on candidates —
    * identical integer arithmetic end to end, so even the LSH scale path
    * is hash-checked, not just rows-counted. */
  private def containmentLshOracle: String = {
    val w = Dedup.contWindowTokens
    val step = w / 2
    dedupCtes + s"""
       |, w AS (
       | SELECT doc_id, unnest(list_transform(
       |   list_distinct(list_append(
       |     generate_series(1, greatest(len(th) - $w + 1, 1), $step),
       |     greatest(len(th) - $w + 1, 1))),
       |   st -> list_slice(th, st, st + ${w - 1}))) AS wth
       | FROM th),
       |wh AS (
       | SELECT doc_id, list_distinct(${combine3Sql("wth")}) AS whs
       | FROM w WHERE len(wth) >= 3),
       |wsig AS (
       | SELECT doc_id,
       |  ${minhashSigSql("whs")}
       | FROM wh),
       |wbands AS (
       |  ${bandSelectsSql("wsig")}),
       |${bandCandCte("wcand", "wbands")},
       |${overlapCte("cj", "wcand")}
       |SELECT doc_a, doc_b, round(inter / na, 6) AS cont_a_in_b,
       | round(inter / nb, 6) AS cont_b_in_a
       |FROM cj
       |WHERE greatest(round(inter / na, 6), round(inter / nb, 6)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB twin of [[Text.bigramCounts]], generated from the same hash
    * constants: counts group on the combined 8-byte token-hash key (the
    * engine's shuffle key) and the tiebreak is that key, so the selected
    * top-k set matches the engine exactly even on count ties; the string
    * per key is min(bigram) on both engines. */
  private def bigramOracle: String =
    s"""WITH t AS (
       | SELECT ${tokensSql("text")} AS toks
       | FROM documents),
       |th AS (
       | SELECT toks, list_transform(toks, tok -> ${polyHashSql("tok")}) AS th
       | FROM t WHERE len(toks) >= 2),
       |o AS (
       | SELECT unnest(list_transform(generate_series(1, len(th)-1), i ->
       |   struct_pack(bh := ${combine2Sql("th[i]", "th[i+1]")},
       |               bg := toks[i] || ' ' || toks[i+1]))) AS u
       | FROM th),
       |g AS (SELECT u.bh AS bh, count(*) AS n, min(u.bg) AS bigram
       |      FROM o GROUP BY u.bh)
       |SELECT bigram, n FROM g ORDER BY n DESC, bh LIMIT 50""".stripMargin

  /** DuckDB twin of [[Text.repetitionSignals]], generated from the same
    * hash constants: per-doc duplicate-3-gram fraction and top-bigram
    * share over the hashed-token representation. */
  private def repetitionOracle: String =
    s"""WITH ${tokenHashCtes(3)},
       |tri AS (
       | SELECT doc_id, CAST(len(th)-2 AS BIGINT) AS n_tri,
       |  CAST(len(list_distinct(${combine3Sql("th")}))
       |   AS BIGINT) AS n_tri_distinct
       | FROM th),
       |bo AS (
       | SELECT doc_id, CAST(len(th)-1 AS BIGINT) AS n_bi,
       |  unnest(list_transform(generate_series(1, len(th)-1),
       |    i -> ${combine2Sql("th[i]", "th[i+1]")})) AS bh
       | FROM th),
       |bc AS (SELECT doc_id, n_bi, bh, count(*) AS c FROM bo GROUP BY 1, 2, 3),
       |bt AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / any_value(n_bi), 6)
       |        AS top_bigram_frac
       |       FROM bc GROUP BY doc_id)
       |SELECT tri.doc_id, n_tri, n_tri_distinct,
       | round(CAST(n_tri - n_tri_distinct AS DOUBLE) / n_tri, 6) AS dup_tri_frac,
       | top_bigram_frac
       |FROM tri JOIN bt ON tri.doc_id = bt.doc_id
       |ORDER BY tri.doc_id""".stripMargin

  /** Exact cosine top-k as a `topk` CTE — shared by `q_sim_topk` and the
    * kNN label-vote oracle. */
  private def simTopkCtes: String =
    s"""WITH ${embNormCtes("e", "n")},
      |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |  ${cosSimSql("q", "c")} AS cos_sim
      | FROM n q, n c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |topk AS (${topKSql("p", 10)})""".stripMargin

  /** SemDeDup's keep-list over the [[componentCtes]] `lab` of vector
    * pairs: every embedding with its cluster representative, kept iff it
    * is its own representative. */
  private def semKeepSql: String =
    """SELECT emb.vec_id, CAST(emb.label AS BIGINT) AS label,
      | coalesce(lab.cluster_rep, emb.vec_id) AS cluster_rep,
      | CAST(emb.vec_id = coalesce(lab.cluster_rep, emb.vec_id) AS INT)
      |   AS keep
      |FROM embeddings emb LEFT JOIN lab ON emb.vec_id = lab.vec_id""".stripMargin

  /** CTEs `e`/`n` over the first 1000 embeddings and `p`, the rounded
    * exact cosine of every pair — the brute-force embedding dedup. */
  private def embedPairCtes: String =
    s"""${embNormCtes("e", "n", where = " WHERE vec_id < 1000")},
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosSimSql("a", "b")} AS cos_sim
       | FROM n a JOIN n b ON a.vec_id < b.vec_id)""".stripMargin

  /** MERGE replay shared by `q_snap_merge` (copy-on-write) and
    * `q_snap_merge_mor` (merge-on-read): the twin recomputes pre/post
    * states from raw orders and replays the CDF classification — both
    * write paths must land the same state, so one twin pins both. */
  /** The pre-merge state `o` and post-merge state `v2` CTEs the MERGE
    * twins share — the deterministic pmod change batch replayed over
    * raw orders in exact integer cents. */
  private def snapMergeStateCtes: String = {
    val (_, _, remM) = Validate.snapshotDiffMods
    s"""WITH $changeBatchCtes,
       |del AS (SELECT k FROM o WHERE k % $remM = 0),
       |touched AS (SELECT k FROM upd UNION SELECT k FROM ins
       |            UNION SELECT k FROM del),
       |v2 AS (SELECT * FROM o
       |        WHERE k NOT IN (SELECT k FROM touched)
       |       UNION ALL SELECT * FROM upd
       |       UNION ALL SELECT * FROM ins)""".stripMargin
  }

  /** CTEs `o` (orders as (k, prio, exact cents)), `upd` and `ins`: the
    * deterministic change batch of [[Validate.snapshotDiffMods]] that the
    * CDC and MERGE twins apply. */
  private def changeBatchCtes: String = {
    val (addM, chgM, remM) = Validate.snapshotDiffMods
    s"""o AS (
       | SELECT o_orderkey AS k, o_orderpriority AS prio,
       |  ${centsSql("o_totalprice")} AS cents
       | FROM orders),
       |upd AS (SELECT k, prio, cents * 110 // 100 AS cents FROM o
       |        WHERE k % $chgM = 0 AND k % $remM <> 0),
       |ins AS (SELECT -(k + 1) AS k, prio, cents FROM o WHERE k % $addM = 0)""".stripMargin
  }

  private def snapMergeSql: String = {
    s"""$snapMergeStateCtes,
       |j AS (SELECT o.prio AS op, o.cents AS oc,
       |  v2.prio AS np, v2.cents AS nc,
       |  CASE WHEN o.k IS NULL THEN 'insert'
       |       WHEN v2.k IS NULL THEN 'delete'
       |       WHEN o.prio IS DISTINCT FROM v2.prio
       |         OR o.cents IS DISTINCT FROM v2.cents THEN 'update'
       |       ELSE 'same' END AS t
       | FROM o FULL OUTER JOIN v2 ON o.k = v2.k)
       |SELECT 'delete' AS change_type, count(*) AS n_rows,
       |  coalesce(CAST(sum(oc) AS BIGINT), 0) AS total_cents
       | FROM j WHERE t = 'delete'
       |UNION ALL
       |SELECT 'insert', count(*), coalesce(CAST(sum(nc) AS BIGINT), 0)
       | FROM j WHERE t = 'insert'
       |UNION ALL
       |SELECT 'update_preimage', count(*),
       |  coalesce(CAST(sum(oc) AS BIGINT), 0)
       | FROM j WHERE t = 'update'
       |UNION ALL
       |SELECT 'update_postimage', count(*),
       |  coalesce(CAST(sum(nc) AS BIGINT), 0)
       | FROM j WHERE t = 'update'
       |UNION ALL
       |SELECT 'v2_state', count(*), coalesce(CAST(sum(cents) AS BIGINT), 0)
       | FROM v2
       |ORDER BY 1""".stripMargin
  }

  private val pricingSummarySql: String =
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val timeTravelSql: String =
      s"""WITH ${Layout.ttVersionCtes}
        |SELECT coalesce(v1.o_orderpriority, v2.o_orderpriority)
        |    AS o_orderpriority,
        |  CASE WHEN v1.o_orderpriority IS NULL THEN 'added'
        |       WHEN v2.o_orderpriority IS NULL THEN 'removed'
        |       WHEN v1.n_orders <> v2.n_orders OR v1.cents <> v2.cents
        |         THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(v1.n_orders, -1) AS n_old,
        |  coalesce(v2.n_orders, -1) AS n_new
        |FROM v1 FULL OUTER JOIN v2
        |  ON v1.o_orderpriority = v2.o_orderpriority
        |ORDER BY 1""".stripMargin
}
