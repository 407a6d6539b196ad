package graft.queries

import graft.Tables
import graft.ext.{Sampling, Stats}
import org.apache.spark.sql.functions._


/** Profiling/statistics family: cardinality, profile, histogram,
  * skew, correlation, count-min, outliers.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtStatsQueries {

  val all: Seq[Declared] = Seq(

    // Cardinality profile ([[Stats.cardinality]]): exact per-type
    // event/user counts — the oracle-checkable baseline of the
    // sketch family; the mergeable DataSketches HLL path
    // ([[Stats.hllSketches]]/[[Stats.hllUnion]]) is spec-pinned
    // against this within HLL error bounds (estimates are
    // engine-specific, so no DuckDB twin can exist for them).
    Declared(
      "ext_stats_cardinality",
      (s, d) =>
        Stats.cardinality(Tables.events(s, d), Seq("event_type"), col("user_id"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n_rows,
                     COUNT(DISTINCT user_id) AS n_distinct
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // THE 100 TB cardinality path under the gate, probe-contract
    // style (the ivf_nprobe pattern): per-group DataSketches HLL
    // estimates ([[Stats.hllSketches]], lgK=12 → ~2.5% standard
    // error) checked within a ±5% bound of the exact count Spark
    // computes alongside, AND the union-rollup contract — the per-
    // group sketches merged losslessly ([[Stats.hllUnion]]) must
    // estimate the GLOBAL distinct within the same bound, the
    // mergeability property exact countDistinct lacks. HLL register
    // state is an order-independent max, so every boolean is
    // deterministic at a given corpus: the oracle replays the exact
    // counts and pins the booleans TRUE — a broken sketch build,
    // union, or estimate flips its own row red.
    Declared(
      "ext_stats_hll",
      (s, d) => {
        val ev = Tables.events(s, d)
        val sk = Stats.hllSketches(ev, Seq("event_type"), col("user_id"))
        val est = sk.select(col("event_type"),
          hll_sketch_estimate(col("sketch")).cast("long").as("__est"))
        val exact = Stats.cardinality(ev, Seq("event_type"), col("user_id"))
          .select(col("event_type"), col("n_distinct"))
        val perGroup = exact.join(est, "event_type")
          .select(col("event_type"), col("n_distinct"),
            (abs(col("__est") - col("n_distinct")) * 20 <=
              col("n_distinct")).as("hll_ok"))
        val unionEst = Stats.hllUnion(sk)
          .select(col("estimate").cast("long").as("__uest"))
        val globalExact = ev.agg(countDistinct(col("user_id")).as("n_distinct"))
        val globalRow = globalExact.crossJoin(unionEst)
          .select(lit("*").as("event_type"), col("n_distinct"),
            (abs(col("__uest") - col("n_distinct")) * 20 <=
              col("n_distinct")).as("hll_ok"))
        perGroup.unionByName(globalRow).orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct,
                     TRUE AS hll_ok
              FROM events GROUP BY event_type
              UNION ALL
              SELECT '*', COUNT(DISTINCT user_id), TRUE FROM events
              ORDER BY event_type""")),

    // The 100 TB quantile path under the gate, same probe-contract
    // pattern: per-language approx_percentile ([[Stats.
    // approxQuantiles]], t-digest-style mergeable summaries, bounded
    // memory) pinned within 5% relative + 2-token absolute of the
    // EXACT type-7 quantiles Spark computes alongside — far outside
    // the sketch's rank-error envelope (1e-4 of rank at accuracy
    // 10000) at any plausible corpus, so the booleans are stable
    // while a broken summary merge still reds its own row. The exact
    // values themselves are oracle-replayed (quantile_cont ≡ type-7),
    // so the row checks BOTH paths: exact values equal across
    // engines, sketch within bounds of them.
    Declared(
      "ext_stats_approx_quantiles",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("lang"),
          size(split(col("text"), " ")).as("__n"))
        val exact = Stats.quantiles(toks, Seq("lang"), col("__n"),
          Seq(0.5, 0.9))
        val approx = Stats.approxQuantiles(toks, Seq("lang"), col("__n"),
            Seq(0.5, 0.9))
          .select(col("lang"), col("p50").as("__a50"), col("p90").as("__a90"))
        def ok(e: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column) =
          abs(a - e) <= e * 0.05 + 2.0
        exact.join(approx, "lang")
          .select(col("lang"),
            round(col("p50").cast("double"), 2).as("p50"),
            round(col("p90").cast("double"), 2).as("p90"),
            ok(col("p50"), col("__a50")).as("p50_ok"),
            ok(col("p90"), col("__a90")).as("p90_ok"))
          .orderBy("lang")
      },
      Some("""SELECT lang,
                     round(quantile_cont(n, 0.5), 2) AS p50,
                     round(quantile_cont(n, 0.9), 2) AS p90,
                     TRUE AS p50_ok, TRUE AS p90_ok
              FROM (SELECT lang, len(string_split(text, ' ')) AS n
                    FROM documents)
              GROUP BY lang ORDER BY lang""")),

    // Per-column data-quality profile ([[Stats.profile]]): one pass,
    // one row per column — completeness / key-ness / domain bounds,
    // the "validate the snapshot before training on it" gate. Exact
    // distinct is the oracle baseline; [[Stats.profileApprox]] (no
    // Expand, single scan) is the 100 TB path, spec-pinned.
    Declared(
      "ext_stats_profile",
      (s, d) =>
        Stats.profile(Tables.documents(s, d),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
          .orderBy("column"),
      Some {
        def one(c: String, integral: Boolean) = {
          val mn = if (integral) s"COALESCE(CAST(MIN($c) AS BIGINT), -1)"
                   else "CAST(-1 AS BIGINT)"
          val mx = if (integral) s"COALESCE(CAST(MAX($c) AS BIGINT), -1)"
                   else "CAST(-1 AS BIGINT)"
          s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                     CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                     $mn AS min_int, $mx AS max_int,
                     COALESCE(CAST(MAX(LEN(CAST($c AS VARCHAR))) AS BIGINT), -1) AS max_strlen
              FROM documents"""
        }
        Seq(one("doc_id", true), one("text", false), one("lang", false),
          one("source", false), one("n_chars", true))
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // THE 100 TB profile path under the gate, probe-contract style
    // (the ext_stats_skew_approx template): [[Stats.profileApprox]]
    // swaps exact multi-column COUNT(DISTINCT) — whose Expand
    // multiplies shuffle volume by |cols| — for approx_count_distinct
    // (HLL++, partial-aggregated, ONE plain scan for any column
    // count). The row carries the EXACT profile (replayable by the
    // oracle) plus a per-column boolean pinning the sketch estimate
    // within ±5% + 2 of it; a broken sketch path flips its own row
    // red. HLL++ is hash-deterministic (no RNG), so the flag is
    // replay-stable; at fixture cardinalities the sparse-mode
    // estimate is exact, and the 5% bound is ~2.5× the configured
    // 2% rsd at any corpus size. Retires the last spec-only sketch
    // path — every approx operator now has a gated row.
    Declared(
      "ext_stats_profile_approx",
      (s, d) => {
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        val docs = Tables.documents(s, d)
        val exact = Stats.profile(docs, cols)
        val approx = Stats.profileApprox(docs, cols)
          .select(col("column"), col("n_distinct").as("__nda"))
        exact.join(approx, "column")
          .select(col("column"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_int"), col("max_int"),
            col("max_strlen"),
            (abs(col("__nda") - col("n_distinct")) <=
              greatest(round(col("n_distinct") * 0.05), lit(2L))).as("nd_ok"))
          .orderBy("column")
      },
      Some {
        def one(c: String, integral: Boolean) = {
          val mn = if (integral) s"COALESCE(CAST(MIN($c) AS BIGINT), -1)"
                   else "CAST(-1 AS BIGINT)"
          val mx = if (integral) s"COALESCE(CAST(MAX($c) AS BIGINT), -1)"
                   else "CAST(-1 AS BIGINT)"
          s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                     CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                     $mn AS min_int, $mx AS max_int,
                     COALESCE(CAST(MAX(LEN(CAST($c AS VARCHAR))) AS BIGINT), -1) AS max_strlen,
                     TRUE AS nd_ok
              FROM documents"""
        }
        Seq(one("doc_id", true), one("text", false), one("lang", false),
          one("source", false), one("n_chars", true))
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // Equi-width length histogram per language ([[Stats.histogram]]):
    // integral-div bucketing end to end (bucket edges cannot drift
    // between engines), last bucket absorbs the tail. Shuffle rows
    // bounded by groups × buckets at any input size.
    Declared(
      "ext_stats_histogram",
      (s, d) =>
        Stats.histogram(Tables.documents(s, d), Seq("lang"), col("n_chars"),
          width = 100, nBuckets = 8)
          .select(col("lang"), col("bucket"), col("bucket_lo"), col("n"))
          .orderBy("lang", "bucket"),
      Some("""SELECT lang, LEAST(7, n_chars // 100) AS bucket,
                     LEAST(7, n_chars // 100) * 100 AS bucket_lo,
                     COUNT(*) AS n
              FROM documents GROUP BY 1, 2, 3 ORDER BY lang, bucket""")),

    // Key-frequency skew profile ([[Stats.keySkew]]) of the fact
    // table's supplier key — the pre-join shuffle diagnostic (max vs
    // p99 exposes hot keys BEFORE they become one straggler task).
    // Exact percentile over per-key counts is the oracle baseline;
    // approxTail=true is the bounded-memory 100 TB path.
    Declared(
      "ext_stats_skew",
      (s, d) => Stats.keySkew(Tables.lineitem(s, d), col("l_suppkey")),
      Some("""WITH c AS (
                SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY 1)
              SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
                     MAX(c) AS max_key_rows,
                     CAST(round(quantile_cont(c, 0.5) * 100) AS BIGINT) AS p50_x100,
                     CAST(round(quantile_cont(c, 0.99) * 100) AS BIGINT) AS p99_x100
              FROM c""")),

    // THE 100 TB skew-diagnostic path under the gate, probe-contract
    // style (the ext_stats_approx_quantiles pattern): keySkew's
    // `approxTail = true` variant swaps the exact percentile — which
    // buffers all n_keys counts in one reducer — for
    // `approx_percentile` (GK sketch, bounded memory at any key
    // cardinality). The row carries the EXACT profile (replayable by
    // the oracle) plus booleans pinning the sketch tail within
    // ±5% + 2 count units of it; a broken sketch path flips its own
    // row red. Counts are integral, so the only cross-engine delta
    // is interpolation (exact) vs nearest-member (sketch) — inside
    // the bound by construction at any corpus size.
    Declared(
      "ext_stats_skew_approx",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val exact = Stats.keySkew(li, col("l_suppkey"))
        val approx = Stats.keySkew(li, col("l_suppkey"), approxTail = true)
          .select(col("p50_x100").as("__a50"), col("p99_x100").as("__a99"))
        def ok(e: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column) =
          abs(a - e) <= e * 0.05 + 200
        exact.crossJoin(approx)
          .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
            col("p50_x100"), col("p99_x100"),
            ok(col("p50_x100"), col("__a50")).as("p50_ok"),
            ok(col("p99_x100"), col("__a99")).as("p99_ok"))
      },
      Some("""WITH c AS (
                SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY 1)
              SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
                     MAX(c) AS max_key_rows,
                     CAST(round(quantile_cont(c, 0.5) * 100) AS BIGINT) AS p50_x100,
                     CAST(round(quantile_cont(c, 0.99) * 100) AS BIGINT) AS p99_x100,
                     TRUE AS p50_ok, TRUE AS p99_ok
              FROM c""")),

    // Exact-moment Pearson correlation ([[Stats.corrExact]]): the five
    // moment sums accumulate as exact longs (partial-aggregated, one
    // shuffle row per group), doubles appear only in the final
    // one-row-per-group formula — so both engines compute THE SAME
    // doubles and the 1e-6 integer projection is noise-free, unlike
    // native corr() whose streaming accumulation is order-dependent.
    Declared(
      "ext_stats_corr",
      (s, d) =>
        Stats.corrExact(Tables.lineitem(s, d), Seq("l_returnflag"),
          round(col("l_quantity")), round(col("l_discount") * 100))
          .orderBy("l_returnflag"),
      Some("""WITH m AS (
                SELECT l_returnflag, COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
                       CAST(SUM(x*y) AS BIGINT) AS sxy
                FROM (SELECT l_returnflag,
                             CAST(round(l_quantity) AS BIGINT) AS x,
                             CAST(round(l_discount * 100) AS BIGINT) AS y
                      FROM lineitem)
                GROUP BY l_returnflag)
              SELECT l_returnflag, n,
                     CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
                       CAST(round(CAST(n*sxy - sx*sy AS DOUBLE)
                         / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                            * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) * 1e6) AS BIGINT)
                     END AS corr_e6
              FROM m ORDER BY l_returnflag""")),

    // Count-min heavy-hitter screen ([[Stats.countMin]]): the sketch
    // builds distributed (treeAggregate merge; only the finished
    // width×depth table reaches the driver), then two probe panels
    // pin BOTH halves of the CMS contract. (1) The true top-10 tokens
    // (oracle states their identities and exact counts with a
    // count-desc/token tie-break): `over_ok` = estimate ≥ truth
    // ALWAYS (structural, never fails), `bound_ok` = estimate ≤
    // truth + eps·N. (2) Five keys PROVABLY absent from the corpus —
    // they contain a space, and no token of a split-on-space
    // tokenization can — whose truth is 0, pinning the half of the
    // contract the heavy-hitter probe cannot see: an absent key's
    // estimate is pure collision mass and must still sit ≤ eps·N.
    // The oracle re-derives absence (COUNT(*) per absent key over the
    // token relation — a present key would red the true_cnt column,
    // not just the booleans). bound_ok is probabilistic by theory but
    // deterministic given the fixed seed, and at depth 10
    // (confidence 0.9999) the per-key failure odds are ~5e-5 — the
    // ivf_nprobe recall-floor pattern: Spark flipping false
    // hash-mismatches loudly.
    Declared(
      "ext_stats_countmin",
      (s, d) => {
        import s.implicits._
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
        val eps = 0.01
        val sketch = Stats.countMin(words, "w", eps = eps,
          confidence = 0.9999, seed = 42)
        val bound = math.ceil(eps * sketch.totalCount).toLong
        // top-10 probe keys: k driver rows, the bounded-artifact
        // collect discipline (same as IVF centroids / bloom bytes)
        val top = words.groupBy("w").agg(count(lit(1)).as("true_cnt"))
          .orderBy(desc("true_cnt"), asc("w")).limit(10).collect()
        val hitters = top.toSeq.map { r =>
          val est = sketch.estimateCount(r.getString(0))
          (r.getString(0), r.getLong(1),
            est >= r.getLong(1), est <= r.getLong(1) + bound)
        }
        val absent = (0 until 5).map { i =>
          val k = s"absent key $i" // contains a space ⇒ never a token
          (k, 0L, sketch.estimateCount(k) >= 0L,
            sketch.estimateCount(k) <= bound)
        }
        (hitters ++ absent)
          .toDF("token", "true_cnt", "over_ok", "bound_ok")
          .orderBy(desc("true_cnt"), asc("token"))
      },
      Some("""WITH w AS (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents),
              c AS (
                SELECT token, COUNT(*) AS true_cnt FROM w GROUP BY token
                ORDER BY true_cnt DESC, token LIMIT 10),
              a AS (
                SELECT 'absent key ' || CAST(i AS VARCHAR) AS token,
                       (SELECT COUNT(*) FROM w
                        WHERE w.token = 'absent key ' || CAST(i AS VARCHAR)) AS true_cnt
                FROM range(5) t(i))
              SELECT token, true_cnt, TRUE AS over_ok, TRUE AS bound_ok FROM c
              UNION ALL
              SELECT token, true_cnt, TRUE AS over_ok, TRUE AS bound_ok FROM a
              ORDER BY true_cnt DESC, token""")),

    // Exact z-score anomaly gate ([[Stats.zOutlierFlags]]) over event
    // values in cents: |x−μ| > 3σ decided by integer cross-
    // multiplication ((n·x−s)² > 9·(n·q−s²), DECIMAL/HUGEINT exact on
    // both engines) — no division, no sqrt, no float, so a borderline
    // event cannot flip across engines. Per-type outlier counts + id
    // checksums pin exact membership.
    Declared(
      "ext_stats_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
        Stats.zOutlierFlags(ev, Seq("event_type"), col("cents"), z = 3)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("__is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
            sum(when(col("__is_outlier"), col("event_id")).otherwise(0L)).as("id_checksum"))
          .orderBy("event_type")
      },
      Some("""WITH v AS (
                SELECT event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events),
              m AS (
                SELECT event_type, COUNT(c) AS n,
                       CAST(SUM(c) AS BIGINT) AS s,
                       CAST(SUM(c * c) AS BIGINT) AS q
                FROM v GROUP BY event_type),
              f AS (
                SELECT v.event_id, v.event_type,
                       (CAST(n AS HUGEINT) * CAST(c AS HUGEINT) - CAST(s AS HUGEINT))
                         * (CAST(n AS HUGEINT) * CAST(c AS HUGEINT) - CAST(s AS HUGEINT))
                         > 9 * (CAST(n AS HUGEINT) * CAST(q AS HUGEINT)
                                - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS is_out
                FROM v JOIN m USING (event_type))
              SELECT event_type, COUNT(*) AS n,
                     CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                     CAST(SUM(CASE WHEN is_out THEN event_id ELSE 0 END) AS BIGINT) AS id_checksum
              FROM f GROUP BY event_type ORDER BY event_type""")),

    // Join pre-flight ([[Stats.joinCardinality]]): the EXACT output
    // size of the same-part lineitem self-join — the classic blow-up
    // a 100 TB pipeline wants answered from (key, count) profiles
    // (counts cross the exchanges, never payloads) BEFORE launching
    // the join, plus the hottest key and its quadratic contribution
    // (the salt-or-cap signal). All integers, one row.
    Declared(
      "ext_stats_join_card",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        Stats.joinCardinality(li, "l_partkey", li, "l_partkey")
      },
      Some("""WITH ca AS (
                SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem
                WHERE l_partkey IS NOT NULL GROUP BY 1),
              p AS (SELECT a.k, a.c * b.c AS p FROM ca a JOIN ca b USING (k)),
              hot AS (SELECT k, p FROM p ORDER BY p DESC, k DESC LIMIT 1)
              SELECT CAST((SELECT SUM(p) FROM p) AS BIGINT) AS join_rows,
                     (SELECT COUNT(*) FROM p) AS n_shared_keys,
                     (SELECT k FROM hot) AS hot_key,
                     CAST((SELECT p FROM hot) AS BIGINT) AS hot_product""")),

    // Declarative quality gate ([[Stats.checkConstraints]]): five
    // rules over orders — null check, key uniqueness, value-set and
    // range membership, regex shape — ALL evaluated in one
    // partial-aggregated scan (the per-rule rows are a map-side
    // unpivot of the single aggregate row). The fixture mixes passing
    // and failing rules on purpose: the in_set rule counts the 'P'
    // status rows and the range rule the >300k orders, so the row
    // pins real violation counts, not just five zeros.
    Declared(
      "ext_stats_constraints",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("price_cents",
            round(col("o_totalprice") * 100).cast("long"))
        Stats.checkConstraints(o, Seq(
            Stats.Check.notNull("o_custkey"),
            Stats.Check.unique("o_orderkey"),
            Stats.Check.inSet("o_orderstatus", Seq("O", "F")),
            Stats.Check.inRange("price_cents", 0L, 30000000L),
            Stats.Check.matches("o_orderpriority", "[1-5]-[A-Z ]+")))
          .orderBy("rule")
      },
      Some("""WITH o AS (
                SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
                FROM orders),
              m AS (SELECT
                CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_notnull,
                CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
                CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
                CAST(SUM(CASE WHEN price_cents IS NOT NULL
                          AND (price_cents < 0 OR price_cents > 30000000) THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
                CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority, '[1-5]-[A-Z ]+') THEN 1 ELSE 0 END) AS BIGINT) AS v_match
                FROM o)
              SELECT rule, violations,
                     CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
              FROM (
                SELECT 'not_null:o_custkey' AS rule, v_notnull AS violations FROM m
                UNION ALL SELECT 'unique:o_orderkey', v_unique FROM m
                UNION ALL SELECT 'in_set:o_orderstatus', v_set FROM m
                UNION ALL SELECT 'range:price_cents', v_range FROM m
                UNION ALL SELECT 'matches:o_orderpriority', v_match FROM m)
              ORDER BY rule""")),

    // Population stability index ([[Stats.psi]]) between the train
    // and val splits' length distributions — the dataset-version
    // drift alarm, here doubling as a SPLIT-QUALITY check (a hash
    // split should NOT drift: psi ≈ 0). Two partial-aggregated
    // histogram scans; each bucket's (p−q)·ln(p/q) term rounds ONCE
    // to an e9 BIGINT and the cross-bucket sum is integer, so float
    // summation order cannot flip the gate.
    Declared(
      "ext_stats_psi",
      (s, d) => {
        val sp = Sampling.withSplit(Tables.documents(s, d), col("doc_id"),
          valPct = 10, testPct = 10)
        Stats.psi(sp.where(col("split") === "train"),
          sp.where(col("split") === "val"),
          col("n_chars"), width = 50, nBuckets = 16)
      },
      Some("""WITH s AS (
                SELECT n_chars,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8) AS BIGINT) % 100 AS sb
                FROM documents),
              e AS (SELECT least(15, n_chars // 50) AS b, COUNT(*) AS ne
                    FROM s WHERE sb >= 20 GROUP BY 1),
              a AS (SELECT least(15, n_chars // 50) AS b, COUNT(*) AS na
                    FROM s WHERE sb < 10 GROUP BY 1),
              g AS (SELECT unnest(range(16)) AS b),
              j AS (SELECT g.b, coalesce(e.ne, 0) AS ne, coalesce(a.na, 0) AS na
                    FROM g LEFT JOIN e USING (b) LEFT JOIN a USING (b)),
              t AS (SELECT SUM(ne) AS te, SUM(na) AS ta FROM j),
              terms AS (SELECT ne, na,
                          CAST(round((greatest(ne / te, 1e-6) - greatest(na / ta, 1e-6))
                            * ln(greatest(ne / te, 1e-6) / greatest(na / ta, 1e-6)) * 1e9) AS BIGINT) AS term_e9
                        FROM j, t)
              SELECT CAST(SUM(term_e9) AS BIGINT) AS psi_e9,
                     CAST(SUM(ne) AS BIGINT) AS n_expected,
                     CAST(SUM(na) AS BIGINT) AS n_actual
              FROM terms""")),

    // Exact two-sample Kolmogorov–Smirnov per language ([[Stats.ks]]):
    // the rational-arithmetic drift test — max |cumA·n_b − cumB·n_a|
    // over distinct n_chars values, an INTEGER, so the statistic is
    // bit-exact on both engines with no bucketing choice. Same
    // train-vs-val pairing as ext_stats_psi, per stratum.
    Declared(
      "ext_stats_ks",
      (s, d) => {
        val sp = Sampling.withSplit(Tables.documents(s, d), col("doc_id"),
          valPct = 10, testPct = 10)
        Stats.ks(sp.where(col("split") === "train"),
            sp.where(col("split") === "val"),
            Seq("lang"), col("n_chars"))
          .orderBy("lang")
      },
      Some("""WITH s AS (
                SELECT lang, n_chars,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8) AS BIGINT) % 100 AS sb
                FROM documents),
              u AS (SELECT lang, n_chars AS v,
                           SUM(CASE WHEN sb >= 20 THEN 1 ELSE 0 END) AS ca,
                           SUM(CASE WHEN sb < 10 THEN 1 ELSE 0 END) AS cb
                    FROM s WHERE sb >= 20 OR sb < 10
                    GROUP BY 1, 2),
              c AS (SELECT lang,
                           SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cuma,
                           SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS cumb,
                           SUM(ca) OVER (PARTITION BY lang) AS na,
                           SUM(cb) OVER (PARTITION BY lang) AS nb
                    FROM u)
              SELECT lang,
                     CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
                     CAST(MAX(na) * MAX(nb) AS BIGINT) AS ks_den,
                     CAST(MAX(na) AS BIGINT) AS n_a,
                     CAST(MAX(nb) AS BIGINT) AS n_b
              FROM c GROUP BY lang ORDER BY lang""")),

    // Pearson chi-square homogeneity ([[Stats.chiSquare]]) of the
    // event-type distribution between the even/odd event-id cohorts —
    // the NOMINAL-column drift test completing the family (psi
    // quantizes a numeric metric, ks needs an ordering; neither is
    // meaningful for a categorical). The id-parity cohorts are
    // scale-copy-stable (the @k shift is c·10⁹, parity-preserving)
    // and drift-free by construction, so the statistic also doubles
    // as a pipeline-health floor (chi2 ≈ 0 expected, the exact value
    // gated). Same e9 discipline as psi: one rounded BIGINT term per
    // category, integer cross-category sum — float summation order
    // cannot flip the gate.
    Declared(
      "ext_stats_chisq",
      (s, d) =>
        Stats.chiSquare(Tables.events(s, d),
          col("event_id") % 2 === 0, col("event_type")),
      Some("""WITH obs AS (
                SELECT event_type AS cat,
                       SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS oa,
                       SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS ob
                FROM events GROUP BY 1),
              tot AS (SELECT SUM(oa) AS ta, SUM(ob) AS tb, SUM(oa+ob) AS n FROM obs),
              terms AS (
                SELECT oa, ob,
                  CAST(round((
                      (oa - (CAST(ta AS DOUBLE) * (oa+ob)) / n)
                        * (oa - (CAST(ta AS DOUBLE) * (oa+ob)) / n)
                        / ((CAST(ta AS DOUBLE) * (oa+ob)) / n)
                    + (ob - (CAST(tb AS DOUBLE) * (oa+ob)) / n)
                        * (ob - (CAST(tb AS DOUBLE) * (oa+ob)) / n)
                        / ((CAST(tb AS DOUBLE) * (oa+ob)) / n)
                  ) * 1e9) AS BIGINT) AS term_e9
                FROM obs, tot)
              SELECT CAST(SUM(term_e9) AS BIGINT) AS chi2_e9,
                     CAST(COUNT(*) - 1 AS BIGINT) AS dof,
                     CAST(SUM(oa) AS BIGINT) AS n_a,
                     CAST(SUM(ob) AS BIGINT) AS n_b
              FROM terms"""))
  )
}
