package graft.operators

import org.apache.spark.sql.functions._
import Q._

/** The reference's analytics view layer, re-expressed over the test tables
  * (SURVEY.md §2.9 / VERDICT "What's missing" #2, #7):
  *
  *  - q27: the flagship `MV_CAMPAIGN_PERFORMANCE` funnel shape
  *    (`scripts/12_materialized_views.sql:178-228`) — one dim joined to THREE
  *    pre-aggregated daily facts on a composite key where the later facts'
  *    join conditions are anchored on the FIRST fact's date (`i.date_key`),
  *    a COALESCE date spine, and NULLIF-guarded ratio metrics. Mapped:
  *    customer=dim, orders=impressions, lineitem=clicks, events=conversions.
  *    Pre-aggregate-before-join is the scale-safe MV variant (each fact is
  *    reduced to |keys×days| before any join; the joins then shuffle only
  *    aggregated rows).
  *  - q28: J9 label-join count comparison with MATCH/MISMATCH verdict
  *    (`scripts/90_validation_queries.sql:149-168`) — the same counts
  *    computed through two independent paths, joined on the table label.
  *  - q29: U2 many-way UNION ALL literal report
  *    (`scripts/90_validation_queries.sql:258-286`) — literal lines
  *    interleaved with computed scalar counts.
  *  - q35: U3 UNION-inside-a-CTE then joined to a dimension — two labeled
  *    entity sets unioned first, the union joined to `nation` and
  *    aggregated per (nation, label). The union is map-side (no shuffle);
  *    the only shuffles are the broadcast-dim join and the final group-by.
  */
object Views {

  val queries: Map[String, QFn] = Map(
    "q27_funnel_mv" -> { (s, dir) =>
      import s.implicits._
      val orders = t(s, dir, "orders")
      val od = orders
        .groupBy($"o_custkey".as("od_k"), to_date($"o_orderdate").as("od_d"))
        .agg(count(lit(1)).as("n_orders"), decSum($"o_totalprice").as("spend"),
          decCents($"o_totalprice").as("spend_c"))
      val ld = t(s, dir, "lineitem")
        .join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey".as("ld_k"), to_date($"o_orderdate").as("ld_d"))
        .agg(count(lit(1)).as("n_items"), decSum($"l_extendedprice").as("item_value"),
          decCents($"l_extendedprice").as("item_value_c"))
      val ed = t(s, dir, "events")
        .groupBy($"user_id".as("ed_k"), to_date($"ts").as("ed_d"))
        .agg(count(lit(1)).as("n_events"), decSum($"value").as("event_value"))
      t(s, dir, "customer")
        .join(od, $"c_custkey" === $"od_k", "left")
        // the ld/ed joins are anchored on od's date (the reference's
        // `i.date_key` subtlety): items/events on days with no orders vanish.
        .join(ld, $"ld_k" === $"c_custkey" && $"ld_d" === $"od_d", "left")
        .join(ed, $"ed_k" === $"c_custkey" && $"ed_d" === $"od_d", "left")
        .filter($"od_d".isNotNull || $"ld_d".isNotNull || $"ed_d".isNotNull)
        .select(
          $"c_custkey", $"c_name",
          coalesce($"od_d", $"ld_d", $"ed_d").as("date_key"),
          coalesce($"n_orders", lit(0L)).as("n_orders"),
          coalesce($"spend", lit(0.0)).as("spend"),
          coalesce($"n_items", lit(0L)).as("n_items"),
          coalesce($"item_value", lit(0.0)).as("item_value"),
          coalesce($"n_events", lit(0L)).as("n_events"),
          coalesce($"event_value", lit(0.0)).as("event_value"),
          // ratio metrics in exact integer basis points (see Q.decCents);
          // avg_order_value is a single raw double division (bit-identical
          // across engines — no ROUND, which is where divergence lives).
          expr("(coalesce(n_items, 0) * 10000) div nullif(n_orders, 0)")
            .as("items_per_order_bp"),
          expr("(coalesce(item_value_c, 0) * 10000) div nullif(spend_c, 0)")
            .as("value_pct_bp"),
          expr("(coalesce(n_events, 0) * 10000) div nullif(n_orders, 0)")
            .as("events_per_order_bp"),
          ($"spend" / expr("nullif(n_orders, 0)")).as("avg_order_value"))
        .orderBy($"c_custkey", $"date_key")
    },

    "q28_count_compare" -> { (s, dir) =>
      import s.implicits._
      // path A: direct counts; path B: the same counts re-derived through a
      // group-by-then-sum (two independent routes to the same data, as the
      // reference compares EXT vs CLD access paths).
      val direct = Seq(
        ("customer", t(s, dir, "customer")),
        ("orders", t(s, dir, "orders")),
        ("lineitem", t(s, dir, "lineitem")))
        .map { case (n, df) => df.agg(count(lit(1)).as("n_direct")).select(lit(n).as("tbl"), $"n_direct") }
        .reduce(_ unionAll _)
      val derived = Seq(
        ("customer", t(s, dir, "customer").groupBy($"c_nationkey").agg(count(lit(1)).as("c"))),
        ("orders", t(s, dir, "orders").groupBy($"o_orderpriority").agg(count(lit(1)).as("c"))),
        ("lineitem", t(s, dir, "lineitem").groupBy($"l_returnflag").agg(count(lit(1)).as("c"))))
        .map { case (n, df) => df.agg(sum($"c").as("n_derived")).select(lit(n).as("tbl2"), $"n_derived") }
        .reduce(_ unionAll _)
      direct.join(derived, $"tbl" === $"tbl2")
        .select(
          $"tbl", $"n_direct", $"n_derived",
          when($"n_direct" === $"n_derived", "MATCH").otherwise("MISMATCH").as("verdict"))
        .orderBy($"tbl")
    },

    "q29_union_report" -> { (s, dir) =>
      import s.implicits._
      def line(no: String, txt: String) =
        s.range(1).select(lit(no).as("line"), lit(txt).as("txt"))
      def countLine(no: String, tbl: String) =
        t(s, dir, tbl).agg(count(lit(1)).as("n"))
          .select(lit(no).as("line"),
            concat(lit(s"$tbl rows: "), $"n".cast("string")).as("txt"))
      Seq(
        line("01", "REPORT: engine validation"),
        line("02", "tables checked: 5"),
        countLine("03", "customer"),
        countLine("04", "orders"),
        countLine("05", "lineitem"),
        countLine("06", "events"),
        countLine("07", "documents"),
        line("08", "checks: row counts visible"),
        line("09", "drift: see q08_theta_hash_drift"),
        line("10", "status: COMPLETE"))
        .reduce(_ unionAll _)
        .orderBy($"line")
    },

    "q35_union_cte_join" -> { (s, dir) =>
      import s.implicits._
      val parties = t(s, dir, "customer")
        .select($"c_nationkey".as("nk"), lit("customer").as("kind"), $"c_acctbal".as("bal"))
        .unionAll(t(s, dir, "supplier")
          .select($"s_nationkey".as("nk"), lit("supplier").as("kind"), $"s_acctbal".as("bal")))
      parties
        .join(broadcast(t(s, dir, "nation")), $"nk" === $"n_nationkey")
        .groupBy($"n_name", $"kind")
        .agg(count(lit(1)).as("n_parties"), decSum($"bal").as("total_bal"))
        .orderBy($"n_name", $"kind")
    })

  val oracle: Map[String, String] = Map(
    "q27_funnel_mv" ->
      """WITH od AS (
           SELECT o_custkey AS od_k, CAST(o_orderdate AS DATE) AS od_d,
                  count(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS spend_c
           FROM orders GROUP BY 1, 2),
         ld AS (
           SELECT o_custkey AS ld_k, CAST(o_orderdate AS DATE) AS ld_d,
                  count(*) AS n_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS item_value,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS item_value_c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         ed AS (
           SELECT user_id AS ed_k, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS ed_d,
                  count(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS event_value
           FROM events GROUP BY 1, 2)
         SELECT c_custkey, c_name,
                COALESCE(od_d, ld_d, ed_d) AS date_key,
                COALESCE(n_orders, 0) AS n_orders,
                COALESCE(spend, CAST(0 AS DOUBLE)) AS spend,
                COALESCE(n_items, 0) AS n_items,
                COALESCE(item_value, CAST(0 AS DOUBLE)) AS item_value,
                COALESCE(n_events, 0) AS n_events,
                COALESCE(event_value, CAST(0 AS DOUBLE)) AS event_value,
                (COALESCE(n_items, 0) * 10000) // NULLIF(n_orders, 0) AS items_per_order_bp,
                (COALESCE(item_value_c, 0) * 10000) // NULLIF(spend_c, 0) AS value_pct_bp,
                (COALESCE(n_events, 0) * 10000) // NULLIF(n_orders, 0) AS events_per_order_bp,
                spend / NULLIF(n_orders, 0) AS avg_order_value
         FROM customer
         LEFT JOIN od ON c_custkey = od_k
         LEFT JOIN ld ON ld_k = c_custkey AND ld_d = od_d
         LEFT JOIN ed ON ed_k = c_custkey AND ed_d = od_d
         WHERE od_d IS NOT NULL OR ld_d IS NOT NULL OR ed_d IS NOT NULL
         ORDER BY c_custkey, date_key""",

    "q28_count_compare" ->
      """WITH direct AS (
           SELECT 'customer' AS tbl, count(*) AS n_direct FROM customer
           UNION ALL SELECT 'orders', count(*) FROM orders
           UNION ALL SELECT 'lineitem', count(*) FROM lineitem),
         derived AS (
           SELECT 'customer' AS tbl2, CAST(SUM(c) AS BIGINT) AS n_derived
             FROM (SELECT count(*) AS c FROM customer GROUP BY c_nationkey)
           UNION ALL SELECT 'orders', CAST(SUM(c) AS BIGINT)
             FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderpriority)
           UNION ALL SELECT 'lineitem', CAST(SUM(c) AS BIGINT)
             FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_returnflag))
         SELECT tbl, n_direct, n_derived,
                CASE WHEN n_direct = n_derived THEN 'MATCH' ELSE 'MISMATCH' END AS verdict
         FROM direct JOIN derived ON tbl = tbl2
         ORDER BY tbl""",

    "q29_union_report" ->
      """SELECT '01' AS line, 'REPORT: engine validation' AS txt
         UNION ALL SELECT '02', 'tables checked: 5'
         UNION ALL SELECT '03', 'customer rows: ' || CAST((SELECT count(*) FROM customer) AS VARCHAR)
         UNION ALL SELECT '04', 'orders rows: ' || CAST((SELECT count(*) FROM orders) AS VARCHAR)
         UNION ALL SELECT '05', 'lineitem rows: ' || CAST((SELECT count(*) FROM lineitem) AS VARCHAR)
         UNION ALL SELECT '06', 'events rows: ' || CAST((SELECT count(*) FROM events) AS VARCHAR)
         UNION ALL SELECT '07', 'documents rows: ' || CAST((SELECT count(*) FROM documents) AS VARCHAR)
         UNION ALL SELECT '08', 'checks: row counts visible'
         UNION ALL SELECT '09', 'drift: see q08_theta_hash_drift'
         UNION ALL SELECT '10', 'status: COMPLETE'
         ORDER BY line""",

    "q35_union_cte_join" ->
      """WITH parties AS (
           SELECT c_nationkey AS nk, 'customer' AS kind, c_acctbal AS bal FROM customer
           UNION ALL
           SELECT s_nationkey, 'supplier', s_acctbal FROM supplier)
         SELECT n_name, kind, count(*) AS n_parties,
                CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM parties JOIN nation ON nk = n_nationkey
         GROUP BY n_name, kind
         ORDER BY n_name, kind""")
}
