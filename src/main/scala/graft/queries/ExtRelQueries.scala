package graft.queries

import graft.Tables
import graft.ext.{Skew, Stats, TimeJoin}
import org.apache.spark.sql.functions._


/** Relational family: pivot/cube/rollup, star join, set ops,
  * as-of / range joins, sessionize, skew-salted join, sliding
  * windows, grouped top-k.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtRelQueries {

  val all: Seq[Declared] = Seq(

    // --- Relational extensions (SURVEY §2.3.4 / §2.3.7: categories
    // absent from the reference, free in Spark) ------------------------

    // Hierarchical aggregate (ROLLUP): subtotal + grand-total rows.
    // NULLS FIRST pinned explicitly — Spark defaults nulls-first on
    // ASC, DuckDB defaults nulls-last.
    Declared(
      "ext_rel_rollup",
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            FixedPoint.outCents(FixedPoint.sumCents(col("l_quantity"))).as("qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS qty
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // The ranking window-function family under one gate: rank /
    // dense_rank / percent_rank over a TIES-BEARING ordering
    // (balance cents only — tied rows must agree on all three across
    // engines) plus ntile over a UNIQUE ordering (ntile splits ties
    // by underlying row order, so determinism REQUIRES the tiebreak —
    // that asymmetry is the documented point of the two windows).
    // percent_rank's (rank−1)/(n−1) is one exactly-rounded double
    // division of small integers — identical on both engines —
    // rounded at 9 per the float discipline. One shuffle on the
    // segment; each partition ranks independently (the scale shape
    // of any per-group ranking).
    Declared(
      "ext_rel_rank_funcs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cents = round(col("c_acctbal") * 100).cast("long")
        val wTies = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("bal_cents").desc)
        val wUnique = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("bal_cents").desc, col("c_custkey"))
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), cents.as("bal_cents"))
          .withColumn("rnk", rank().over(wTies))
          .withColumn("drnk", dense_rank().over(wTies))
          .withColumn("prk", round(percent_rank().over(wTies), 9))
          .withColumn("tile", ntile(4).over(wUnique))
          .where(col("c_custkey") % 25 === 0)
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (
                SELECT c_custkey, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                FROM customer),
              r AS (
                SELECT c_custkey, c_mktsegment, bal_cents,
                       RANK() OVER (PARTITION BY c_mktsegment
                         ORDER BY bal_cents DESC) AS rnk,
                       DENSE_RANK() OVER (PARTITION BY c_mktsegment
                         ORDER BY bal_cents DESC) AS drnk,
                       ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                         ORDER BY bal_cents DESC), 9) AS prk,
                       NTILE(4) OVER (PARTITION BY c_mktsegment
                         ORDER BY bal_cents DESC, c_custkey) AS tile
                FROM c)
              SELECT * FROM r WHERE c_custkey % 25 = 0
              ORDER BY c_custkey""")),

    // Four-dimension star join over the fact table (region → nation →
    // supplier and part, TPC-H flavor): every dimension is broadcast,
    // so the lineitem fact never shuffles before the final small
    // aggregate — the canonical 100 TB star-join plan. Also the only
    // queries exercising the part and region tables.
    Declared(
      "ext_rel_star_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"))
        val nat = broadcast(Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey"))
        val reg = broadcast(Tables.region(s, d).select("r_regionkey", "r_name"))
        val prt = broadcast(Tables.part(s, d).select("p_partkey", "p_brand"))
        li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .join(prt, col("l_partkey") === col("p_partkey"))
          .groupBy("r_name", "p_brand")
          .agg(count(lit(1)).as("n"),
            FixedPoint.outCents(FixedPoint.sumCents(col("l_extendedprice"))).as("revenue"))
          .orderBy("r_name", "p_brand")
      },
      Some("""SELECT r_name, p_brand, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS revenue
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              JOIN part ON l_partkey = p_partkey
              GROUP BY r_name, p_brand
              ORDER BY r_name, p_brand""")),

    // Pivot (wide crosstab): event-type counts per user decile, via
    // Spark's native pivot with explicit value list (no extra
    // distinct-discovery job — the 100 TB discipline); the oracle is
    // the equivalent FILTER aggregation.
    Declared(
      "ext_rel_pivot",
      (s, d) =>
        Tables.events(s, d)
          .groupBy((col("user_id") % 10).as("bucket"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("bucket"),
      Some("""SELECT user_id % 10 AS bucket,
                     COUNT(*) FILTER (event_type = 'click') AS click,
                     COUNT(*) FILTER (event_type = 'error') AS error,
                     COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                     COUNT(*) FILTER (event_type = 'signup') AS signup,
                     COUNT(*) FILTER (event_type = 'view') AS view
              FROM events GROUP BY 1 ORDER BY 1""")),

    // CUBE: all 2^2 grouping combinations over (returnflag,
    // linestatus) — subtotal rows carry NULL group keys on both
    // engines; ORDER BY pins NULLS FIRST explicitly (Spark's ASC
    // default) so row order agrees.
    Declared(
      "ext_rel_cube",
      (s, d) =>
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            FixedPoint.outCents(FixedPoint.sumCents(col("l_quantity")))
              .as("qty_sum"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS qty_sum
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // Arbitrary GROUPING SETS — the general form rollup/cube are
    // sugar for: the two single-column marginals plus the grand
    // total, WITHOUT the (flag, status) cross cells a cube would add.
    // The gid column is the explicit grouping(flag)·2 + grouping(
    // status) formula ON BOTH ENGINES (not the engines' native
    // grouping_id/GROUPING bit packing, whose bit order is
    // convention) — it disambiguates a subtotal NULL from a data
    // NULL, the reason GROUPING exists. Same one-Expand plan shape as
    // cube: the scan is read once and expanded 3×, partial-aggregated
    // map-side.
    Declared(
      "ext_rel_grouping_sets",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg((grouping(col("l_returnflag")) * 2 +
              grouping(col("l_linestatus"))).cast("long").as("gid"),
            count(lit(1)).as("n"),
            FixedPoint.outCents(FixedPoint.sumCents(col("l_quantity"))).as("qty"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS gid,
                     l_returnflag, l_linestatus, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS qty
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // UNPIVOT (wide → long): three measure columns melted into
    // (metric, val) rows — the inverse of ext_rel_pivot, and the
    // standard first step of a metrics-lake normalization. Spark's
    // native unpivot is a zero-shuffle Expand (the scan read once,
    // emitted 3×); the gate aggregates per metric with an
    // orderkey-weighted cents checksum that pins every (row, metric,
    // value) ALIGNMENT — a melt that shifted values across ids or
    // metrics hashes differently even where the per-metric totals
    // happen to collide. The oracle replays the melt as the
    // equivalent 3-way UNION ALL.
    Declared(
      "ext_rel_unpivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .unpivot(Array(col("l_orderkey")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "metric", "val")
          .groupBy("metric")
          .agg(count(lit(1)).as("n"),
            FixedPoint.outCents(FixedPoint.sumCents(col("val"))).as("total"),
            sum((col("l_orderkey") % 1000003) *
              round(col("val") * 100).cast("long")).as("align_checksum"))
          .orderBy("metric"),
      Some("""WITH long AS (
                SELECT l_orderkey, 'l_discount' AS metric, l_discount AS val FROM lineitem
                UNION ALL SELECT l_orderkey, 'l_quantity', l_quantity FROM lineitem
                UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
              SELECT metric, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(val*100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS total,
                     CAST(SUM((l_orderkey % 1000003) * CAST(round(val*100) AS BIGINT)) AS BIGINT) AS align_checksum
              FROM long GROUP BY metric ORDER BY metric""")),

    // Several EXACT count-distincts with different arguments in ONE
    // aggregation — the dashboard staple whose plan is qualitatively
    // different from a single distinct: Catalyst expands each input
    // row once per distinct argument (tagged Expand), de-dups each
    // (group, arg) stream partial-aggregated, and folds the streams
    // back into one row per group — one pipeline, no N separate scans
    // / self-joins. The exact twin of the approximate ext_stats_hll
    // path; plan pinned to a single Expand by PlanShapeSpec.
    Declared(
      "ext_rel_multi_distinct",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("nu"),
            countDistinct(to_date(col("ts"))).as("nd"),
            countDistinct(round(col("value") * 100).cast("long")).as("nv"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
                     COUNT(DISTINCT user_id) AS nu,
                     COUNT(DISTINCT CAST(ts AS DATE)) AS nd,
                     COUNT(DISTINCT CAST(round(value*100) AS BIGINT)) AS nv
              FROM events GROUP BY 1 ORDER BY 1""")),

    // Set operations: INTERSECT / EXCEPT (distinct semantics on both
    // engines).
    Declared(
      "ext_rel_setops",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey"))
        val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
        val ni = c.intersect(o).agg(count(lit(1)).as("n_intersect"))
        val ne = c.except(o).agg(count(lit(1)).as("n_except"))
        ni.crossJoin(ne)
      },
      Some("""SELECT
                (SELECT COUNT(*) FROM
                  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)) AS n_intersect,
                (SELECT COUNT(*) FROM
                  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)) AS n_except""")),

    // As-of join ([[TimeJoin.asofJoin]]): each click matched to the
    // user's latest at-or-before view, aggregated per user with an
    // id-product checksum + exact millisecond gap sum that pin every
    // individual (click, view) pairing. The oracle is a portable
    // window formulation (verified equal to DuckDB's native ASOF
    // JOIN on this data); timestamps are globally unique in events,
    // so the match is tie-free on both engines.
    Declared(
      "ext_rel_asof",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "ts", "event_id")
        TimeJoin.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
            payload = Seq("event_id", "ts"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_clicks"),
            count(col("asof_event_id")).as("n_matched"),
            // ids reduce mod a prime BEFORE the product: raw ids carry
            // the scale-copy shift (c·10⁹), whose products overflow
            // BIGINT — the checksum must survive any @k
            coalesce(sum((col("event_id") % 1000003L) *
              (col("asof_event_id") % 1000003L)), lit(0L))
              .as("pair_checksum"),
            coalesce(sum(unix_millis(col("ts")) - unix_millis(col("asof_ts"))),
              lit(0L)).as("gap_ms_sum"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN event_type='click' THEN 1 ELSE 0 END AS is_l
                FROM events WHERE event_type IN ('click','view')
              ), w AS (
                SELECT user_id, ts, event_id, is_l,
                       last_value(CASE WHEN is_l=0 THEN event_id END IGNORE NULLS)
                         OVER win AS m_id,
                       last_value(CASE WHEN is_l=0 THEN epoch_ms(ts) END IGNORE NULLS)
                         OVER win AS m_ms
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_l
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              )
              SELECT user_id, COUNT(*) AS n_clicks, COUNT(m_id) AS n_matched,
                     CAST(COALESCE(SUM((event_id % 1000003) * (m_id % 1000003)), 0)
                       AS BIGINT) AS pair_checksum,
                     CAST(COALESCE(SUM(epoch_ms(ts) - m_ms), 0) AS BIGINT)
                       AS gap_ms_sum
              FROM w WHERE is_l = 1
              GROUP BY user_id ORDER BY user_id""")),

    // Forward as-of: each click matched to the user's EARLIEST
    // at-or-after view — the other direction of the same operator,
    // exercised end to end (the spec pins all four modes on synthetic
    // data; this pins forward on the real table against its own
    // oracle, a DESC-traversal mirror of the backward formulation).
    Declared(
      "ext_rel_asof_fwd",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "ts", "event_id")
        TimeJoin.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
            payload = Seq("event_id", "ts"), forward = true)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_clicks"),
            count(col("asof_event_id")).as("n_matched"),
            // mod-prime before the product — see ext_rel_asof
            coalesce(sum((col("event_id") % 1000003L) *
              (col("asof_event_id") % 1000003L)), lit(0L))
              .as("pair_checksum"),
            coalesce(sum(unix_millis(col("asof_ts")) - unix_millis(col("ts"))),
              lit(0L)).as("gap_ms_sum"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN event_type='click' THEN 1 ELSE 0 END AS is_l
                FROM events WHERE event_type IN ('click','view')
              ), w AS (
                SELECT user_id, ts, event_id, is_l,
                       last_value(CASE WHEN is_l=0 THEN event_id END IGNORE NULLS)
                         OVER win AS m_id,
                       last_value(CASE WHEN is_l=0 THEN epoch_ms(ts) END IGNORE NULLS)
                         OVER win AS m_ms
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts DESC, is_l
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              )
              SELECT user_id, COUNT(*) AS n_clicks, COUNT(m_id) AS n_matched,
                     CAST(COALESCE(SUM((event_id % 1000003) * (m_id % 1000003)), 0)
                       AS BIGINT) AS pair_checksum,
                     CAST(COALESCE(SUM(m_ms - epoch_ms(ts)), 0) AS BIGINT)
                       AS gap_ms_sum
              FROM w WHERE is_l = 1
              GROUP BY user_id ORDER BY user_id""")),

    // Batch gap sessionization ([[TimeJoin.sessionize]]): 30-minute
    // gap sessions per user; per-session event counts and exact
    // durations pin the session SEGMENTATION, not just counts. The
    // streaming twin is [[graft.streaming.Sessionize]].
    Declared(
      "ext_rel_sessionize",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "ts")
        TimeJoin.sessionize(ev, Seq("user_id"), "ts", gapMs = 1800000L)
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (unix_millis(max(col("ts"))) - unix_millis(min(col("ts"))))
              .as("dur_ms"),
            unix_millis(min(col("ts"))).as("start_ms"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_events"),
            sum(col("dur_ms")).as("dur_ms_sum"),
            (sum(col("start_ms")) % 1000000007L).as("start_checksum"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                            OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
              ), s AS (
                SELECT user_id, ts,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM g
              ), agg AS (
                SELECT user_id, sid, COUNT(*) AS n_events,
                       epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS dur_ms,
                       epoch_ms(MIN(ts)) AS start_ms
                FROM s GROUP BY user_id, sid
              )
              SELECT user_id, COUNT(*) AS n_sessions,
                     CAST(MAX(n_events) AS BIGINT) AS max_events,
                     CAST(SUM(dur_ms) AS BIGINT) AS dur_ms_sum,
                     CAST(SUM(start_ms) % 1000000007 AS BIGINT) AS start_checksum
              FROM agg GROUP BY user_id ORDER BY user_id""")),

    // Banded range join ([[TimeJoin.rangeJoin]]): clicks in the two
    // hours before each error, same user. The oracle states the raw
    // inequality join; the Spark plan is the banded equi-join (the
    // ≤2-band probe), so a green row proves banding loses no pair.
    Declared(
      "ext_rel_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.where(col("event_type") === "error")
          .select("user_id", "ts", "event_id")
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        TimeJoin.rangeJoin(errors, clicks, Seq("user_id"), "ts", "ts",
            lowerMs = -7200000L, upperMs = 0L)
          .groupBy(col("l_user_id").as("user_id"))
          .agg(countDistinct(col("l_event_id")).as("n_errors_matched"),
            count(lit(1)).as("n_pairs"),
            // mod-prime before the product — see ext_rel_asof
            sum((col("l_event_id") % 1000003L) *
              (col("r_event_id") % 1000003L)).as("pair_checksum"))
          .orderBy("user_id")
      },
      Some("""SELECT e.user_id,
                     COUNT(DISTINCT e.event_id) AS n_errors_matched,
                     COUNT(*) AS n_pairs,
                     CAST(SUM((e.event_id % 1000003) * (c.event_id % 1000003))
                       AS BIGINT) AS pair_checksum
              FROM events e JOIN events c
                ON c.user_id = e.user_id AND c.event_type = 'click'
               AND c.ts >= e.ts - INTERVAL 120 MINUTE AND c.ts < e.ts
              WHERE e.event_type = 'error'
              GROUP BY e.user_id ORDER BY e.user_id""")),

    // Left-outer banded range join ([[TimeJoin.rangeJoin]]
    // joinType="left") on the real events table: every error keeps a
    // row even with no click in its 2-hour window. Runs the
    // `leftIdCol` (natural-unique-key) variant — the fully lazy,
    // no-materialization 100 TB path — with event_id as the identity
    // the anti-join needs; n_unmatched pins the null-padded rows the
    // inner query can't see.
    Declared(
      "ext_rel_range_join_left",
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.where(col("event_type") === "error")
          .select("user_id", "ts", "event_id")
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        TimeJoin.rangeJoin(errors, clicks, Seq("user_id"), "ts", "ts",
            lowerMs = -7200000L, upperMs = 0L, joinType = "left",
            leftIdCol = Some("event_id"))
          .groupBy(col("l_user_id").as("user_id"))
          .agg(countDistinct(col("l_event_id")).as("n_errors"),
            sum(when(col("r_event_id").isNull, 1L).otherwise(0L))
              .as("n_unmatched"),
            // mod-prime before the product — see ext_rel_asof
            coalesce(sum((col("l_event_id") % 1000003L) *
              (col("r_event_id") % 1000003L)), lit(0L))
              .as("pair_checksum"))
          .orderBy("user_id")
      },
      Some("""SELECT e.user_id,
                     COUNT(DISTINCT e.event_id) AS n_errors,
                     CAST(SUM(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_unmatched,
                     CAST(COALESCE(SUM((e.event_id % 1000003) * (c.event_id % 1000003)), 0)
                       AS BIGINT) AS pair_checksum
              FROM (SELECT * FROM events WHERE event_type = 'error') e
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = e.user_id
               AND c.ts >= e.ts - INTERVAL 120 MINUTE AND c.ts < e.ts
              GROUP BY e.user_id ORDER BY e.user_id""")),

    // Salted skew join ([[Skew.saltedJoin]]) surfaced as an
    // oracle-checked query: events (the big, potentially hot-keyed
    // side) join a derived event_type dim, salted 8 ways — result is
    // row-identical to the plain join, which is exactly what the
    // oracle asserts. The replicated dim stays broadcast-small
    // (|dim| × salt), so the big side never shuffles for the join.
    Declared(
      "ext_rel_skew_salted",
      (s, d) => {
        val ev = Tables.events(s, d)
        val dim = ev.select("event_type").distinct()
          .withColumn("type_code", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("event_type")))
        Skew.saltedJoin(ev, dim, "event_type", salt = 8, distributeBy = "event_id")
          .groupBy("event_type", "type_code")
          .agg(count(lit(1)).as("n"),
            FixedPoint.sumCents(col("value")).as("__cents"))
          .select(col("event_type"), col("type_code"), col("n"),
            FixedPoint.outCents(col("__cents")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""WITH dim AS (
                SELECT event_type,
                       ROW_NUMBER() OVER (ORDER BY event_type) AS type_code
                FROM (SELECT DISTINCT event_type FROM events)),
              j AS (
                SELECT e.event_type, d.type_code, e.value
                FROM events e JOIN dim d USING (event_type))
              SELECT event_type, type_code, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
              FROM j GROUP BY event_type, type_code ORDER BY event_type""")),

    // Sliding event-time windows (batch): 2-hour windows every hour —
    // each event contributes to exactly width/slide = 2 overlapping
    // windows. Spark's native window(ts, width, slide) generates the
    // window structs map-side (a Generate, no join, no shuffle beyond
    // the aggregation); the oracle reproduces the window lattice by
    // unnesting the 2 per-event window starts. Complements
    // dq14_tumbling_window (slide = width) — the overlap is what a
    // rolling-rate monitor needs.
    Declared(
      "ext_rel_sliding_window",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            FixedPoint.sumCents(col("value")).as("__cents"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("event_type"), col("n"),
            FixedPoint.outCents(col("__cents")).as("v"))
          .orderBy("ws", "event_type"),
      Some("""WITH x AS (
                SELECT event_type, value,
                       date_trunc('hour', ts) - unnest([INTERVAL 0 HOUR, INTERVAL 1 HOUR]) AS w
                FROM events)
              SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS ws, event_type,
                     COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS v
              FROM x GROUP BY ws, event_type ORDER BY ws, event_type""")),

    // Per-group bounded top-k ([[graft.functions.TopK]]): top-5 events
    // by value within each event_type through the k-heap typed
    // Aggregator — the buffer never exceeds k, partials merge
    // map-side, k rows per group cross the shuffle (the window-rank
    // formulation the ORACLE uses sorts whole groups instead — fine
    // for DuckDB at sf0.1, the thing this operator exists to avoid at
    // 100 TB).
    Declared(
      "ext_rel_group_topk",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        ev.groupBy("event_type")
          .agg(graft.functions.TopK.topK(5)(col("cents"), col("event_id")).as("top"))
          .select(col("event_type"), posexplode(col("top")))
          .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
            col("col.id").as("event_id"), col("col.score").as("cents"))
          .orderBy("event_type", "rk")
      },
      Some("""WITH v AS (
                SELECT event_type, event_id,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id) AS rk
                FROM events)
              SELECT event_type, rk, event_id, cents FROM v
              WHERE rk <= 5 ORDER BY event_type, rk""")),

    // Fixed-grid resampling with gap fill ([[TimeJoin.resample]]):
    // the rare high-value slice (value ≥ 200, ~1.7 k of 100 k events
    // at sf0.1) on a 15-minute grid — most grid cells are EMPTY, so
    // the row pins the densification itself (every 900 s cell between
    // each type's first and last event, zero-filled), not just the
    // aggregation. Buckets are integer epoch floor-div end to end
    // (band()); the one full shuffle is the partial-agged groupBy,
    // everything downstream is post-agg-sized.
    Declared(
      "ext_rel_resample",
      (s, d) => {
        val ev = Tables.events(s, d).where(col("value") >= 200)
        TimeJoin.resample(ev, Seq("event_type"), "ts", 900L,
            Seq(count(lit(1)).as("n"),
              FixedPoint.sumCents(col("value")).as("__c")))
          .select(col("event_type"),
            date_format(timestamp_seconds(col("bucket_s")),
              "yyyy-MM-dd HH:mm:ss").as("h"),
            coalesce(col("n"), lit(0L)).as("n"),
            FixedPoint.outCents(coalesce(col("__c"), lit(0L))).as("v"))
          .orderBy("event_type", "h")
      },
      Some("""WITH f AS (SELECT * FROM events WHERE value >= 200),
              a AS (SELECT event_type,
                           (epoch_us(ts) // 900000000) * 900 AS b,
                           COUNT(*) AS n,
                           SUM(CAST(round(value*100) AS BIGINT)) AS c
                    FROM f GROUP BY 1, 2),
              s AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi
                    FROM a GROUP BY 1),
              g AS (SELECT event_type, unnest(generate_series(lo, hi, 900)) AS b
                    FROM s)
              SELECT g.event_type,
                     strftime(make_timestamp(g.b * 1000000), '%Y-%m-%d %H:%M:%S') AS h,
                     COALESCE(n, 0) AS n,
                     ROUND(CAST(COALESCE(c, 0) AS DOUBLE)/100.0, 2) AS v
              FROM g LEFT JOIN a USING (event_type, b)
              ORDER BY event_type, h""")),

    // Per-row trailing event-time window ([[TimeJoin.trailingWindow]]):
    // each event annotated with its user's activity over the CLOSED
    // last hour as of that event — the rolling-feature frame, distinct
    // from ext_rel_sliding_window's fixed grid (that row buckets time;
    // this one re-anchors the window at EVERY row). Exact integer
    // microsecond range arithmetic; one key shuffle + one sort serve
    // both aggregates, evaluated by Spark's sliding two-pointer frame
    // pass.
    Declared(
      "ext_rel_rolling",
      (s, d) => {
        val w = TimeJoin.trailingWindow(Seq("user_id"), "ts", 3600000L)
        Tables.events(s, d).select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum(round(col("value") * 100).cast("long")).over(w).as("cents_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
                     COUNT(*) OVER win AS n_1h,
                     CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER win AS BIGINT) AS cents_1h
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
              ORDER BY event_id"""))
  ,

    // Two-step funnel: per user, first signup and the first purchase
    // STRICTLY after it within 24 h — composed entirely from existing
    // ops (filtered min-aggs + ONE equi-join + conditional min), no
    // non-equi join anywhere: the time predicate rides inside the
    // post-join aggregate, so the plan is partial-agged groupBys and
    // a key join that broadcasts its small anchor side. Conversion
    // timestamps and flags pinned per user.
    Declared(
      "ext_rel_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        val su = ev.where(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
        val pu = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        su.join(pu, Seq("user_id"), "left")
          .groupBy(col("user_id"), col("s_ts"))
          .agg(min(when(col("ts") > col("s_ts") &&
              col("ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"),
            col("ts"))).as("c_ts"))
          .select(col("user_id"),
            date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("first_signup"),
            date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("conv"),
            when(col("c_ts").isNotNull, 1L).otherwise(0L).as("converted"))
          .orderBy("user_id")
      },
      Some("""WITH su AS (
                SELECT user_id, MIN(ts) AS s_ts FROM events
                WHERE event_type = 'signup' GROUP BY 1),
              pu AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
              j AS (
                SELECT su.user_id, su.s_ts,
                       MIN(CASE WHEN pu.ts > su.s_ts
                                 AND pu.ts <= su.s_ts + INTERVAL 24 HOUR
                                THEN pu.ts END) AS c_ts
                FROM su LEFT JOIN pu ON su.user_id = pu.user_id
                GROUP BY 1, 2)
              SELECT user_id,
                     strftime(s_ts, '%Y-%m-%d %H:%M:%S') AS first_signup,
                     strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS conv,
                     CASE WHEN c_ts IS NULL THEN 0 ELSE 1 END AS converted
              FROM j ORDER BY user_id""")),

    // First-order event-type transition matrix
    // ([[TimeJoin.transitions]]): per user, every consecutive
    // (previous type, type) pair ordered by (ts, event_id), counted
    // globally and by distinct users — the Markov-chain census of the
    // event stream. One keys shuffle serves the lag; the pair census
    // partial-aggregates into a |types|²-bounded groupBy. All-integer
    // output.
    Declared(
      "ext_rel_transitions",
      (s, d) =>
        TimeJoin.transitions(Tables.events(s, d), Seq("user_id"), "ts",
            "event_type", tieCols = Seq("event_id"))
          .orderBy("from_state", "to_state"),
      Some("""WITH seq AS (
                SELECT user_id, event_type,
                       LAG(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_type
                FROM events)
              SELECT prev_type AS from_state, event_type AS to_state,
                     COUNT(*) AS n_transitions,
                     COUNT(DISTINCT user_id) AS n_keys
              FROM seq WHERE prev_type IS NOT NULL
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Rolling anomaly detection ([[Stats.rollingZOutliers]]): each
    // event's cents value vs the trailing 48 h of its event type,
    // |x − μ| > 3σ decided by the integer cross-multiplication
    // (n·x − s)² > 9(n·q − s²) in DECIMAL/HUGEINT over EXCLUSIVE
    // trailing frames — live-metric monitoring with zero float
    // anywhere, so borderline rows cannot flip across engines. The
    // census pins flag counts AND which events fire (id checksum).
    Declared(
      "ext_rel_anomaly",
      (s, d) =>
        Stats.rollingZOutliers(
            Tables.events(s, d)
              .withColumn("cents", round(col("value") * 100).cast("long")),
            Seq("event_type"), "ts", col("cents"),
            windowMs = 172800000L, z = 3, minN = 10)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_flagged"),
            sum(when(col("is_outlier"), col("event_id")).otherwise(0L))
              .as("flagged_checksum"))
          .orderBy("event_type"),
      Some("""WITH e AS (
                SELECT event_type, event_id, epoch_ms(ts) AS ms,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events),
              m AS (
                SELECT event_type, event_id, c,
                       COUNT(c) OVER w AS n,
                       SUM(CAST(c AS HUGEINT)) OVER w AS s,
                       SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) OVER w AS q
                FROM e
                WINDOW w AS (PARTITION BY event_type ORDER BY ms
                             RANGE BETWEEN 172800000 PRECEDING AND 1 PRECEDING)),
              f AS (
                SELECT event_type, event_id,
                       CASE WHEN n < 10 THEN FALSE
                            ELSE (n * c - s) * (n * c - s) > 9 * (n * q - s * s)
                       END AS flag
                FROM m)
              SELECT event_type, COUNT(*) AS n_events,
                     CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
                     CAST(SUM(CASE WHEN flag THEN event_id ELSE 0 END) AS BIGINT) AS flagged_checksum
              FROM f GROUP BY 1 ORDER BY event_type""")),

    // Cohort retention: users grouped by first-activity day, each
    // cohort's distinct active users at day-offset k — the retention
    // matrix. Two partial-agged aggregates (first day per user,
    // distinct activity days) joined on the user key; day arithmetic
    // in whole dates under the pinned UTC session, so offsets are
    // exact integers on both engines.
    Declared(
      "ext_rel_cohort",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val first = ev.groupBy("user_id").agg(min(col("day")).as("c_day"))
        ev.join(first, Seq("user_id"))
          .groupBy(col("c_day"), datediff(col("day"), col("c_day")).as("k"))
          .agg(countDistinct(col("user_id")).as("users"))
          .select(date_format(col("c_day"), "yyyy-MM-dd").as("cohort"),
            col("k"), col("users"))
          .orderBy("cohort", "k")
      },
      Some("""WITH e AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
              f AS (SELECT user_id, MIN(day) AS c_day FROM e GROUP BY 1)
              SELECT strftime(c_day, '%Y-%m-%d') AS cohort,
                     (day - c_day) AS k,
                     COUNT(DISTINCT e.user_id) AS users
              FROM e JOIN f ON e.user_id = f.user_id
              GROUP BY 1, 2 ORDER BY cohort, k""")),

    // --- Correlated subqueries (SQL surface) ---------------------------
    // Users write correlated predicates constantly; the engine's
    // contract is that Catalyst DECORRELATES them to hash joins — a
    // per-row subquery execution or a nested-loop join would be a
    // 100 TB death sentence. These three rows run the SQL text
    // through spark.sql over registered views (the exact path a
    // JDBC/PySpark user takes) and PlanShapeSpec pins the decorrelated
    // shapes: EXISTS → hash LEFT SEMI, NOT EXISTS → hash LEFT ANTI,
    // correlated scalar aggregates → one grouped aggregate joined
    // back (never BroadcastNestedLoop/CartesianProduct).

    // Correlated EXISTS: segments censused over customers having at
    // least one high-value order. Aggregated output keeps the row
    // compact while the EXISTS predicate still gates every customer.
    Declared(
      "ext_rel_exists",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_corr_customer")
        Tables.orders(s, d).createOrReplaceTempView("graft_corr_orders")
        s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
                        CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
                 FROM graft_corr_customer c
                 WHERE EXISTS (SELECT 1 FROM graft_corr_orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_totalprice > 200000)
                 GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
                     CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
              FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 200000)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Correlated NOT EXISTS: customers with no order since a date (1998-01-01 splits the sf0.01 fixture 8/1492) —
    // the churn query. Decorrelates to a hash LEFT ANTI join (dq11
    // covers only the uncorrelated NOT IN form).
    Declared(
      "ext_rel_not_exists",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_corr_customer")
        Tables.orders(s, d).createOrReplaceTempView("graft_corr_orders")
        s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
                        CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
                 FROM graft_corr_customer c
                 WHERE NOT EXISTS (SELECT 1 FROM graft_corr_orders o
                                   WHERE o.o_custkey = c.c_custkey
                                     AND o.o_orderdate >= DATE '1998-01-01')
                 GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
                     CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
              FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate >= DATE '1998-01-01')
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Correlated scalar subqueries: orders 1.5x above their own
    // customer's average order value. TWO correlated scalar
    // aggregates over the same relation — Catalyst must decorrelate
    // each into a grouped aggregate joined back on o_custkey (and
    // merge them; never execute per row). The threshold is the
    // integer cross-multiplication 2*price*n > 3*sum(price) — exact
    // decimal arithmetic on both engines, no float-membership flip.
    Declared(
      "ext_rel_scalar_subq",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_corr_orders")
        s.sql("""SELECT o_orderpriority, COUNT(*) AS n,
                        CAST(SUM(o_orderkey) AS BIGINT) AS id_checksum
                 FROM graft_corr_orders o
                 WHERE 2 * o.o_totalprice *
                         (SELECT COUNT(*) FROM graft_corr_orders o2
                          WHERE o2.o_custkey = o.o_custkey)
                     > 3 * (SELECT SUM(o2.o_totalprice) FROM graft_corr_orders o2
                            WHERE o2.o_custkey = o.o_custkey)
                 GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(o_orderkey) AS BIGINT) AS id_checksum
              FROM orders o
              WHERE 2 * o.o_totalprice *
                      (SELECT COUNT(*) FROM orders o2
                       WHERE o2.o_custkey = o.o_custkey)
                  > 3 * (SELECT SUM(o2.o_totalprice) FROM orders o2
                         WHERE o2.o_custkey = o.o_custkey)
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Correlated IN subquery with a NON-EQUI correlation: customers
    // whose nation has a supplier RICHER than themselves. The IN
    // membership contributes the equi key (nationkey); the
    // correlated predicate is an inequality over the outer row —
    // Catalyst must decorrelate BOTH into one hash LEFT SEMI join
    // (equi key hashed, inequality as residual join condition), never
    // a per-outer-row probe. PlanShapeSpec pins the shape.
    Declared(
      "ext_rel_in_subq",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_corr_customer")
        Tables.supplier(s, d).createOrReplaceTempView("graft_corr_supplier")
        s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
                        CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
                 FROM graft_corr_customer c
                 WHERE c.c_nationkey IN
                       (SELECT s.s_nationkey FROM graft_corr_supplier s
                        WHERE s.s_acctbal > c.c_acctbal)
                 GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
                     CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
              FROM customer c
              WHERE c.c_nationkey IN
                    (SELECT s.s_nationkey FROM supplier s
                     WHERE s.s_acctbal > c.c_acctbal)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Correlated EXISTS under a DISJUNCTION — the decorrelation shape
    // Catalyst handles worst: the subquery cannot gate the outer scan
    // as a semi join (the OR keeps non-matching rows alive), so the
    // right plan is an EXISTENCE join — a hash join emitting a
    // boolean "exists" column the disjunctive filter then consumes,
    // one pass, never a nested loop. PlanShapeSpec pins ExistenceJoin
    // and the no-BNLJ rule.
    Declared(
      "ext_rel_exists_or",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_corr_customer")
        Tables.orders(s, d).createOrReplaceTempView("graft_corr_orders")
        s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
                        CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
                 FROM graft_corr_customer c
                 WHERE c.c_acctbal < 0
                    OR EXISTS (SELECT 1 FROM graft_corr_orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_totalprice > 300000)
                 GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
                     CAST(SUM(c_custkey) AS BIGINT) AS id_checksum
              FROM customer c
              WHERE c.c_acctbal < 0
                 OR EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 300000)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // NOT IN over a NULLABLE subquery column — SQL's classic
    // three-valued-logic trap, and the correlated-subquery family's
    // most common production incident: `x NOT IN (S)` is NULL (hence
    // filtered) for every non-member once S contains a single NULL,
    // and Catalyst must emit a NULL-AWARE hash anti-join for it —
    // degrading to BroadcastNestedLoopJoin is the 100 TB death
    // sentence PlanShapeSpec pins against. Three scenarios pin the
    // whole truth table: (a) a nullable-TYPED but null-free subquery
    // (the common case — the planner can't prove non-null, the rows
    // must still flow), (b) a subquery with real NULLs (result
    // collapses to zero rows), (c) an empty subquery (every outer row
    // passes, NULL or not).
    Declared(
      "ext_rel_not_in_null",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_nin_customer")
        Tables.orders(s, d).createOrReplaceTempView("graft_nin_orders")
        s.sql("""SELECT 'a_nullable_type' AS scenario, COUNT(*) AS n,
                        CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS id_checksum
                 FROM graft_nin_customer c
                 WHERE c.c_custkey NOT IN
                       (SELECT CASE WHEN o.o_custkey < 0 THEN NULL
                                    ELSE o.o_custkey END
                        FROM graft_nin_orders o WHERE o.o_totalprice > 100000)
                 UNION ALL
                 SELECT 'b_null_present', COUNT(*),
                        CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
                 FROM graft_nin_customer c
                 WHERE c.c_custkey NOT IN
                       (SELECT CASE WHEN o.o_orderstatus = 'F' THEN NULL
                                    ELSE o.o_custkey END
                        FROM graft_nin_orders o WHERE o.o_totalprice > 100000)
                 UNION ALL
                 SELECT 'c_empty_sub', COUNT(*),
                        CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
                 FROM graft_nin_customer c
                 WHERE c.c_custkey NOT IN
                       (SELECT CASE WHEN o.o_custkey < 0 THEN NULL
                                    ELSE o.o_custkey END
                        FROM graft_nin_orders o WHERE o.o_totalprice < 0)
                 ORDER BY scenario""")
      },
      Some("""SELECT 'a_nullable_type' AS scenario, COUNT(*) AS n,
                     CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS id_checksum
              FROM customer c
              WHERE c.c_custkey NOT IN
                    (SELECT CASE WHEN o.o_custkey < 0 THEN NULL
                                 ELSE o.o_custkey END
                     FROM orders o WHERE o.o_totalprice > 100000)
              UNION ALL
              SELECT 'b_null_present', COUNT(*),
                     CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
              FROM customer c
              WHERE c.c_custkey NOT IN
                    (SELECT CASE WHEN o.o_orderstatus = 'F' THEN NULL
                                 ELSE o.o_custkey END
                     FROM orders o WHERE o.o_totalprice > 100000)
              UNION ALL
              SELECT 'c_empty_sub', COUNT(*),
                     CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
              FROM customer c
              WHERE c.c_custkey NOT IN
                    (SELECT CASE WHEN o.o_custkey < 0 THEN NULL
                                 ELSE o.o_custkey END
                     FROM orders o WHERE o.o_totalprice < 0)
              ORDER BY scenario"""))
  )
}
