package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextFunctions
import graft.operators.AsofJoin

/** Relational gates: `qNN_*` is the Spark SQL surface (SURVEY §2.2
  * categories), `asN_*` the as-of joins, `rjN_*` the range and
  * interval joins. */
object RelationalGates extends GateFamily {
  import GateSupport._

  /** Hourly resample + forward fill of each user's event values over
    * their own span — the gap-filling grid the oracle replays bucket by
    * bucket with generate_series. See [[graft.operators.Timeseries]]. */
  gate("q44_resample",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             value, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
           FROM events),
         lastv AS (SELECT user_id, h, value FROM
           (SELECT *, row_number() OVER (PARTITION BY user_id, h
              ORDER BY ts DESC, event_id DESC) AS rn FROM e)
           WHERE rn = 1),
         bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1
           FROM e GROUP BY user_id),
         grid AS (SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM bounds),
         j AS (SELECT g.user_id, g.h, l.value,
             l.value IS NOT NULL AS had_event
           FROM grid g LEFT JOIN lastv l
             ON g.user_id = l.user_id AND g.h = l.h)
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value,
           had_event
         FROM j ORDER BY user_id, hour""") { (s, dir) =>
    graft.operators.Timeseries.resampleFfill(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "value")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("value"), col("had_event"))
      .orderBy("user_id", "hour")
  }

  /** Exact join-cardinality pre-flight (no join executed): a self-join
    * estimate on l_partkey (the pair-dedup price) and a PK-FK estimate
    * against orders — totals, matched keys and the heaviest key, from
    * count tables only. See [[graft.operators.Skew.joinCardinality]]. */
  gate("q45_join_card",
      """WITH ca AS (SELECT CAST(l_partkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         p1 AS (SELECT k, CAST(c AS BIGINT) * CAST(c AS BIGINT) AS pairs FROM ca),
         s1 AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(MAX(pairs) AS BIGINT) AS max_key_pairs FROM p1),
         t1 AS (SELECT min(k) AS top_key FROM p1
           WHERE pairs = (SELECT max(pairs) FROM p1)),
         cl AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
         co AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
         p2 AS (SELECT cl.k, CAST(cl.c AS BIGINT) * CAST(co.c AS BIGINT) AS pairs
           FROM cl JOIN co USING (k)),
         s2 AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(MAX(pairs) AS BIGINT) AS max_key_pairs FROM p2),
         t2 AS (SELECT min(k) AS top_key FROM p2
           WHERE pairs = (SELECT max(pairs) FROM p2))
         SELECT 'li_self_partkey' AS relation, s1.*, t1.* FROM s1, t1
         UNION ALL
         SELECT 'li_orders', s2.*, t2.* FROM s2, t2
         ORDER BY relation""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    graft.operators.Skew.joinCardinality(li, "l_partkey", li, "l_partkey")
      .withColumn("relation", lit("li_self_partkey"))
      .unionByName(graft.operators.Skew
        .joinCardinality(li, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .withColumn("relation", lit("li_orders")))
      // the operator's decimal(38,0) totals guard 1e19-pair pathologies at
      // scale; the GATE narrows to BIGINT (values fit at any test SF) so the
      // oracle's HUGEINT sums can be CAST identically — wide-integer oracle
      // outputs stringify differently across DuckDB client fetch paths
      .select(col("relation"), col("total_pairs").cast("long").as("total_pairs"),
        col("matched_keys"), col("max_key_pairs").cast("long").as("max_key_pairs"),
        col("top_key"))
      .orderBy("relation")
  }

  /** Blocked fuzzy entity-resolution join: part names corrupted by one
    * deterministic character deletion are re-linked to their source rows
    * through multi-pass blocking (first token ∪ last token ∪ 3-char
    * prefix) + exact Levenshtein ≤ 1 + best-match. The oracle is the
    * BRUTE-FORCE all-pairs join, so the gate proves the blocking loses no
    * true pair. See [[graft.operators.Linkage]]. */
  gate("q49_fuzzy_link",
      // brute-force all-pairs linkage: the blocked join must equal it exactly
      """WITH d AS (SELECT p_partkey + 9000000 AS dirty_id,
             concat(substr(p_name, 1, pos - 1), substr(p_name, pos + 1))
               AS dirty_name
           FROM (SELECT p_partkey, p_name,
                   CAST(2 + p_partkey % (length(p_name) - 2) AS INT) AS pos
                 FROM part WHERE p_partkey % 3 = 0)),
         pairs AS (SELECT dirty_id, p_partkey,
             levenshtein(dirty_name, p_name) AS distance
           FROM d CROSS JOIN part
           WHERE levenshtein(dirty_name, p_name) <= 1),
         best AS (SELECT *, row_number() OVER (PARTITION BY dirty_id
             ORDER BY distance, p_partkey) AS rn FROM pairs)
         SELECT dirty_id, p_partkey AS match_key, distance
         FROM best WHERE rn = 1 ORDER BY dirty_id""") { (s, dir) =>
    val clean = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
    val dirty = clean.filter(col("p_partkey") % 3 === 0)
      .withColumn("__pos",
        expr("cast(2 + p_partkey % (length(p_name) - 2) as int)"))
      .select((col("p_partkey") + 9000000L).as("dirty_id"),
        concat(expr("substring(p_name, 1, __pos - 1)"),
          expr("substring(p_name, __pos + 1)")).as("dirty_name"))
    val pairs = graft.operators.Linkage.fuzzyJoin(
      dirty, "dirty_id", "dirty_name", clean, "p_partkey", "p_name",
      maxDistance = 1)
    graft.operators.Linkage.bestMatch(pairs, "dirty_id", "p_partkey")
      .select(col("dirty_id"), col("p_partkey").as("match_key"),
        col("distance"))
      .orderBy("dirty_id")
  }

  /** First-order event-type Markov transition matrix with EXACT
    * parts-per-million probabilities (pure integer arithmetic — see
    * [[graft.operators.Funnel.transitions]]). */
  gate("q50_transitions",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             event_type FROM events),
         p AS (SELECT event_type AS from_event,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_event
           FROM e),
         m AS (SELECT from_event, to_event, count(*) AS n FROM p
           WHERE to_event IS NOT NULL GROUP BY 1, 2)
         SELECT from_event, to_event, n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_event)
             AS BIGINT) AS per_million
         FROM m ORDER BY from_event, to_event""") { (s, dir) =>
    graft.operators.Funnel.transitions(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy("from_event", "to_event")
  }

  /** Rolling z-score anomaly flags over each user's event values — the
    * |z| > 3 decision evaluated entirely in BIGINT arithmetic, so the
    * oracle replays it bit-for-bit (no float boundary can flip a flag).
    * See [[graft.operators.Timeseries.anomalies]]. */
  gate("q51_anomaly",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v FROM events),
         w AS (SELECT user_id, event_id, v,
             count(v) OVER win AS w_n,
             sum(v) OVER win AS w_sum,
             sum(v * v) OVER win AS w_sumsq
           FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, v AS v_scaled, w_n,
           CAST(w_sum AS BIGINT) AS w_sum,
           (w_n >= 8 AND (w_n*v - w_sum)*(w_n*v - w_sum)*(w_n - 1)
              > 9*w_n*(w_n*w_sumsq - w_sum*w_sum)) AS is_anomaly
         FROM w ORDER BY user_id, event_id""") { (s, dir) =>
    graft.operators.Timeseries.anomalies(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")
  }

  /** Two-sample KS drift between click and view `value` distributions
    * ([[graft.operators.Profile.ksDrift]]): one row, all-integer —
    * `d_num/d_den` is the exact statistic, `at_bin` the smallest bin
    * attaining it. The oracle replays bins, CDFs and the cross-
    * multiplied max bit-for-bit. */
  gate("q52_ks_drift",
      // bins -> per-side counts -> running CDFs -> cross-multiplied max
      """WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS bin,
             event_type AS side FROM events
           WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
         pb AS (SELECT bin,
             CAST(sum(CASE WHEN side = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN side = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
           FROM v GROUP BY bin),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pb),
         c AS (SELECT bin,
             CAST(sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
             CAST(sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
           FROM pb),
         d AS (SELECT bin, abs(cuma * nb - cumb * na) AS dnum
           FROM c CROSS JOIN t)
         SELECT na AS n_a, nb AS n_b,
           (SELECT max(dnum) FROM d) AS d_num,
           na * nb AS d_den,
           (SELECT min(bin) FROM d
            WHERE dnum = (SELECT max(dnum) FROM d)) AS at_bin
         FROM t""") { (s, dir) =>
    graft.operators.Profile.ksDrift(
      Fixtures.events(s, dir), "value", "event_type", "click", "view")
  }

  /** Exact half-life EWMA over each user's event values (cent-scaled,
    * horizon 8): `(ewma_num, ewma_den)` integer fractions at every
    * event position, heads renormalizing automatically
    * ([[graft.operators.Timeseries.ewmaHalfLife]]). The oracle unrolls
    * the same 8 lag terms. */
  gate("q53_ewma",
      // the 8 half-life lag terms unrolled; heads renormalize via the den
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 100) AS BIGINT) AS v FROM events)
         SELECT event_id,
           COALESCE(v * 128, 0)
             + COALESCE(lag(v, 1) OVER win * 64, 0)
             + COALESCE(lag(v, 2) OVER win * 32, 0)
             + COALESCE(lag(v, 3) OVER win * 16, 0)
             + COALESCE(lag(v, 4) OVER win * 8, 0)
             + COALESCE(lag(v, 5) OVER win * 4, 0)
             + COALESCE(lag(v, 6) OVER win * 2, 0)
             + COALESCE(lag(v, 7) OVER win * 1, 0) AS ewma_num,
           CASE WHEN v IS NULL THEN 0 ELSE 128 END
             + CASE WHEN lag(v, 1) OVER win IS NULL THEN 0 ELSE 64 END
             + CASE WHEN lag(v, 2) OVER win IS NULL THEN 0 ELSE 32 END
             + CASE WHEN lag(v, 3) OVER win IS NULL THEN 0 ELSE 16 END
             + CASE WHEN lag(v, 4) OVER win IS NULL THEN 0 ELSE 8 END
             + CASE WHEN lag(v, 5) OVER win IS NULL THEN 0 ELSE 4 END
             + CASE WHEN lag(v, 6) OVER win IS NULL THEN 0 ELSE 2 END
             + CASE WHEN lag(v, 7) OVER win IS NULL THEN 0 ELSE 1 END AS ewma_den
         FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""") { (s, dir) =>
    graft.operators.Timeseries.ewmaHalfLife(
        Fixtures.events(s, dir).withColumn("v_scaled",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", col("v_scaled"), horizon = 8)
      .select("event_id", "ewma_num", "ewma_den")
      .orderBy("event_id")
  }

  /** CUSUM changepoint statistics per user (cent-scaled values, target
    * 5000 = the series' rough in-control mean, threshold 100000):
    * up/down statistics and shift flags, all BIGINT
    * ([[graft.operators.Timeseries.cusum]]). The oracle replays the
    * closed-form running-sum/min/max windows. */
  gate("q54_cusum",
      // closed-form CUSUM: running residual sum minus its prefix min
      // (incl. the virtual R0 = 0), and the mirror for downward shifts
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 100) AS BIGINT) - 5000 AS r FROM events),
         w1 AS (SELECT event_id, user_id, ts,
             CAST(sum(r) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
           FROM e),
         w AS (SELECT event_id, run,
             CAST(min(run) OVER win2 AS BIGINT) AS runmin,
             CAST(max(run) OVER win2 AS BIGINT) AS runmax
           FROM w1 WINDOW win2 AS (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
         SELECT event_id,
           run - least(CAST(0 AS BIGINT), runmin) AS cusum_up,
           greatest(CAST(0 AS BIGINT), runmax) - run AS cusum_down,
           run - least(CAST(0 AS BIGINT), runmin) > 100000 AS is_shift_up,
           greatest(CAST(0 AS BIGINT), runmax) - run > 100000 AS is_shift_down
         FROM w ORDER BY event_id""") { (s, dir) =>
    graft.operators.Timeseries.cusum(
        Fixtures.events(s, dir).withColumn("v_scaled",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", col("v_scaled"),
        target = 5000L, threshold = 100000L)
      .select("event_id", "cusum_up", "cusum_down",
        "is_shift_up", "is_shift_down")
      .orderBy("event_id")
  }

  /** Exact pairwise correlation structure over three lineitem measures
    * ([[graft.operators.Regression.corrMatrixExact]]): every pair's
    * Pearson numerator and squared-denominator factors as BIGINTs from
    * ONE aggregation; the oracle replays the moment sums. */
  gate("q56_corr",
      // pairwise moment sums replayed; num/den factors exact BIGINTs
      """WITH m AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
             CAST(floor(l_extendedprice / 10) AS BIGINT) AS p,
             CAST(floor(l_discount * 10000) AS BIGINT) AS d
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(q * q) AS BIGINT) AS sqq,
             CAST(sum(q * p) AS BIGINT) AS sqp,
             CAST(sum(q * d) AS BIGINT) AS sqd,
             CAST(sum(p * p) AS BIGINT) AS spp,
             CAST(sum(p * d) AS BIGINT) AS spd,
             CAST(sum(d * d) AS BIGINT) AS sdd
           FROM m)
         SELECT col_i, col_j, n, num, den_i, den_j FROM (
           SELECT 'qty' AS col_i, 'qty' AS col_j, n,
               n * sqq - sq * sq AS num,
               n * sqq - sq * sq AS den_i, n * sqq - sq * sq AS den_j FROM g
           UNION ALL SELECT 'qty', 'price10', n, n * sqp - sq * sp,
               n * sqq - sq * sq, n * spp - sp * sp FROM g
           UNION ALL SELECT 'qty', 'disc_bp', n, n * sqd - sq * sd,
               n * sqq - sq * sq, n * sdd - sd * sd FROM g
           UNION ALL SELECT 'price10', 'price10', n, n * spp - sp * sp,
               n * spp - sp * sp, n * spp - sp * sp FROM g
           UNION ALL SELECT 'price10', 'disc_bp', n, n * spd - sp * sd,
               n * spp - sp * sp, n * sdd - sd * sd FROM g
           UNION ALL SELECT 'disc_bp', 'disc_bp', n, n * sdd - sd * sd,
               n * sdd - sd * sd, n * sdd - sd * sd FROM g)
         ORDER BY col_i, col_j""") { (s, dir) =>
    graft.operators.Regression.corrMatrixExact(
        t(s, dir, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("qty"),
          floor(col("l_extendedprice") / 10).cast("long").as("price10"),
          floor(col("l_discount") * 10000).cast("long").as("disc_bp")),
        Seq("qty", "price10", "disc_bp"))
      .orderBy("col_i", "col_j")
  }

  /** Per-user spend-trend slopes as exact integer fractions
    * ([[graft.operators.Regression.groupTrend]]): x = epoch day of the
    * event, y = cents. `slope_num > 0` IS "trending up" — no float
    * anywhere; the oracle replays the five-sum arithmetic. */
  gate("q55_trend",
      // the five-sum OLS slope fraction replayed in BIGINTs
      """WITH e AS (SELECT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS x,
             CAST(floor(value * 100) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM e GROUP BY user_id)
         SELECT user_id, n, n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den
         FROM g ORDER BY user_id""") { (s, dir) =>
    graft.operators.Regression.groupTrend(
        Fixtures.events(s, dir), "user_id",
        datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long"),
        floor(col("value") * 100).cast("long"))
      .orderBy("user_id")
  }

  /** Equi-width histogram of order totals with loud under/overflow
    * sentinel buckets. See [[graft.operators.Profile.histogram]]. */
  gate("q36_histogram",
      // identical IEEE subtract/divide/floor bucket arithmetic
      """WITH b AS (SELECT CASE
             WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN -1
             WHEN CAST(o_totalprice AS DOUBLE) >= 500000.0 THEN 20
             ELSE CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 25000.0)
               AS BIGINT) END AS bucket
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket, 0.0 + bucket * 25000.0 AS bucket_lo,
           0.0 + (bucket + 1) * 25000.0 AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM b GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
    graft.operators.Profile.histogram(t(s, dir, "orders"),
        "o_totalprice", lo = 0.0, hi = 500000.0, buckets = 20)
      .orderBy("bucket")
  }

  /** 2-D equi-width histogram (quantity × price heatmap) — one cell-table
    * aggregation, out-of-range sentinels per axis. */
  gate("q46_histogram2d",
      """WITH b AS (SELECT
             CASE WHEN CAST(l_quantity AS DOUBLE) < 0.0 THEN -1
                  WHEN CAST(l_quantity AS DOUBLE) >= 50.0 THEN 10
                  ELSE CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0)
                    AS BIGINT) END AS bx,
             CASE WHEN CAST(l_extendedprice AS DOUBLE) < 0.0 THEN -1
                  WHEN CAST(l_extendedprice AS DOUBLE) >= 100000.0 THEN 10
                  ELSE CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
                    / 10000.0) AS BIGINT) END AS by
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
         SELECT bx, by,
           0.0 + bx * 5.0 AS x_lo, 0.0 + (bx + 1) * 5.0 AS x_hi,
           0.0 + by * 10000.0 AS y_lo, 0.0 + (by + 1) * 10000.0 AS y_hi,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM b GROUP BY bx, by ORDER BY bx, by""") { (s, dir) =>
    graft.operators.Profile.histogram2d(t(s, dir, "lineitem"),
        "l_quantity", 0.0, 50.0, 10, "l_extendedprice", 0.0, 100000.0, 10)
      .orderBy("bx", "by")
  }

  gate("q1_agg",
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2))) * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
      dsum(col("l_quantity")).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_base_price"),
      sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("sum_disc_price"),
      sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
        * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
      (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
      count(lit(1)).as("count_order"))
    .orderBy("l_returnflag", "l_linestatus")
  }

  gate("q2_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_quantity < 30
         ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_quantity") < 30)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Adjudicated (r7, warm medians at sf0.1): Spark 4.1 plans a SINGLE
    * distinct aggregate via planAggregateWithOneDistinct — a partial
    * aggregate keyed (group, distinct) BEFORE the shuffle, NO Expand (the
    * row-doubling Expand only appears with multiple distinct groups). The
    * r6 hand-written two-phase rollup compiled to the byte-identical
    * physical plan (same 3 exchanges, same 147k partial rows shuffled,
    * warm medians 0.61 s vs 0.60 s — noise), so the readable countDistinct
    * form is kept and the r5→r6 "regression" was measurement noise.
    * PlanSpec pins the properties that matter at 100×: no Expand, one data
    * shuffle of per-order partials. */
  gate("q3_join_agg",
      """SELECT c_mktsegment,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT o_orderkey) AS n_orders, COUNT(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, dir) =>
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  }

  gate("q4_semijoin",
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         ORDER BY o_orderkey""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
  }

  gate("q5_antijoin",
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""") { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Rank-prune FIRST, then compute the frame functions: lag(1) and the
    * running sum at rn <= 3 only ever reference rows rn-1 and 1..rn, all
    * inside the kept prefix, so filtering before the lag/sum window is
    * semantically identical — and the standalone row_number + filter plans
    * a map-side WindowGroupLimit that cuts the shuffle from every lineitem
    * row to ~3 rows per supplier per mapper. The second window reuses the
    * same (l_suppkey) exchange: one shuffle total, frame functions run
    * over 3 rows/key instead of the whole table. */
  gate("q6_window",
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_quantity, prev_qty, run_qty
         FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             row_number() OVER w AS rn,
             lag(l_quantity, 1) OVER w AS prev_qty,
             CAST(SUM(CAST(l_quantity AS DECIMAL(10,2)))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
           FROM lineitem
           WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
         ) sub WHERE rn <= 3 ORDER BY l_suppkey, rn""") { (s, dir) =>
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .withColumn("prev_qty", lag("l_quantity", 1).over(w))
      .withColumn("run_qty", sum(dec(col("l_quantity")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_quantity",
        "prev_qty", "run_qty")
      .orderBy("l_suppkey", "rn")
  }

  gate("q7_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""") { (s, dir) =>
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(20)
  }

  gate("q8_setops",
      """SELECT o_custkey FROM (
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         ) sub ORDER BY o_custkey""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val c = o.filter(col("o_totalprice") > 400000).select("o_custkey")
    a.intersect(b).except(c).orderBy("o_custkey")
  }

  gate("q9_distinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_returnflag").agg(
      countDistinct("l_partkey").as("n_parts"),
      countDistinct("l_suppkey").as("n_supps"),
      count(lit(1)).as("n"))
    .orderBy("l_returnflag")
  }

  gate("q10_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""") { (s, dir) =>
    t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  gate("q18_cube",
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pr,
         COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY st, pr""") { (s, dir) =>
    t(s, dir, "orders").cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("sum_price"))
      .orderBy("st", "pr")
  }

  gate("q11_string",
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 8) AS name8,
         CAST(length(p_name) AS BIGINT) AS name_len,
         concat(p_brand, '#', p_type) AS bt,
         replace(p_type, ' ', '_') AS type_u,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4
         FROM part ORDER BY p_partkey""") { (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 8).as("name8"),
      length(col("p_name")).cast("long").as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
      expr("replace(p_type, ' ', '_')").as("type_u"),
      lpad(col("p_size").cast("string"), 4, "0").as("size4"))
    .orderBy("p_partkey")
  }

  gate("q12_date",
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(day(o_orderdate) AS BIGINT) AS d,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         last_day(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders ORDER BY o_orderkey""") { (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      last_day(col("o_orderdate")).as("month_end"))
    .orderBy("o_orderkey")
  }

  gate("q13_case",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                     WHEN o_totalprice < 150000 THEN 'mid'
                     ELSE 'high' END AS band, COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY band""") { (s, dir) =>
    t(s, dir, "orders").select(
      when(col("o_totalprice") < 50000, "low")
        .when(col("o_totalprice") < 150000, "mid")
        .otherwise("high").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n"))
      .orderBy("band")
  }

  gate("q14_having",
      """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_partkey
         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) > 100
         ORDER BY l_partkey""") { (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_partkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 100)
      .orderBy("l_partkey")
  }

  gate("q15_math",
      """SELECT l_orderkey, l_linenumber,
         CAST(floor(l_discount * 100) AS BIGINT) AS fl,
         CAST(ceil(l_tax * 100) AS BIGINT) AS ce,
         abs(l_quantity - 25) AS ab,
         l_partkey % 7 AS m7
         FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_discount") * 100).as("fl"),
      ceil(col("l_tax") * 100).as("ce"),
      abs(col("l_quantity") - 25).as("ab"),
      (col("l_partkey") % 7).as("m7"))
    .orderBy("l_orderkey", "l_linenumber")
  }

  gate("q16_array",
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         CAST(embedding[1] AS DOUBLE) AS e1, label
         FROM embeddings ORDER BY vec_id""") { (s, dir) =>
    t(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("e1"),
      col("label"))
    .orderBy("vec_id")
  }

  gate("q17_json",
      """SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""") { (s, dir) =>
    Fixtures.events(s, dir).select(
      col("event_id"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    .orderBy("event_id")
  }

  gate("q20_multijoin",
      """SELECT r_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""") { (s, dir) =>
    val r = t(s, dir, "region"); val n = t(s, dir, "nation")
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name")
  }

  /** The engine's SQL-text entry point: the same relational surface through
    * spark.sql over temp views (grouping sets, correlated and scalar
    * subqueries — shapes not expressible through the fluent API alone). */
  private def sqlOn(s: SparkSession, dir: String, tables: Seq[String], sql: String): DataFrame = {
    tables.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  gate("q21_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         ORDER BY rf, ls""") { (s, dir) =>
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         ORDER BY rf, ls""")
  }

  gate("q22_corr_subquery",
      """SELECT o_custkey, COUNT(*) AS n_big
         FROM orders o
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
                                 / COUNT(*) * 1.5 FROM orders
                               WHERE o_custkey = o.o_custkey)
         GROUP BY o_custkey ORDER BY o_custkey""") { (s, dir) =>
    sqlOn(s, dir, Seq("orders"),
      """SELECT o_custkey, COUNT(*) AS n_big
         FROM orders o
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
                                 / COUNT(*) * 1.5 FROM orders
                               WHERE o_custkey = o.o_custkey)
         GROUP BY o_custkey ORDER BY o_custkey""")
  }

  gate("q23_scalar_subquery",
      """SELECT l_returnflag, COUNT(*) AS n
         FROM lineitem
         WHERE l_quantity > (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
                               / COUNT(*) FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT l_returnflag, COUNT(*) AS n
         FROM lineitem
         WHERE l_quantity > (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
                               / COUNT(*) FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  gate("q26_cte",
      """WITH big AS (SELECT o_custkey, COUNT(*) AS n
                      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
         seg AS (SELECT c_custkey, c_mktsegment FROM customer)
         SELECT s.c_mktsegment, COUNT(*) AS n_customers,
                CAST(SUM(b.n) AS BIGINT) AS n_big_orders
         FROM big b JOIN seg s ON b.o_custkey = s.c_custkey
         GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""") { (s, dir) =>
    sqlOn(s, dir, Seq("orders", "customer"),
      """WITH big AS (SELECT o_custkey, COUNT(*) AS n
                      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
         seg AS (SELECT c_custkey, c_mktsegment FROM customer)
         SELECT s.c_mktsegment, COUNT(*) AS n_customers,
                CAST(SUM(b.n) AS BIGINT) AS n_big_orders
         FROM big b JOIN seg s ON b.o_custkey = s.c_custkey
         GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""")
  }

  gate("q27_union_all",
      """SELECT o_orderkey, bucket FROM (
           SELECT o_orderkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderkey, 'lo' AS bucket FROM orders WHERE o_totalprice < 10000
         ) u ORDER BY o_orderkey, bucket""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), lit("hi").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 10000)
      .select(col("o_orderkey"), lit("lo").as("bucket"))
    hi.unionAll(lo).orderBy("o_orderkey", "bucket")
  }

  gate("q28_pivot",
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN l_returnflag = 'A'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "A",
           CAST(sum(CASE WHEN l_returnflag = 'N'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "N",
           CAST(sum(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_quantity")))
      .orderBy("l_linestatus")
  }

  /** Rolling 30-day sum per customer — RANGE frame over days-since-epoch
    * (integer range frames agree across engines; interval frames differ in
    * syntax). */
  gate("q29_range_window",
      """SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
         FROM orders ORDER BY o_orderkey""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(datediff(col("o_orderdate"), lit("1970-01-01")))
      .rangeBetween(-30, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("rolling_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "rolling_30d")
      .orderBy("o_orderkey")
  }

  /** Sliding ROWS frame: mean of the last 3 orders per customer, ordered by
    * (date, key) — the unique key tiebreak makes the frame deterministic. */
  gate("q32_rows_window",
      """SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER w AS DOUBLE)
             / count(*) OVER w AS avg_last3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    // determinism rule: cast the exact decimal sum to DOUBLE BEFORE dividing
    // (Spark's decimal/decimal division rounds at a different scale than
    // DuckDB's decimal/int→double promotion — last-ulp hash mismatches)
    t(s, dir, "orders")
      .withColumn("avg_last3",
        sum(dec(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w))
      .select("o_orderkey", "o_custkey", "avg_last3")
      .orderBy("o_orderkey")
  }

  /** Time-hierarchy ROLLUP over the event log: (year, month, day) with
    * subtotal rows at every level — the OLAP drill-down companion to
    * q14's dimension rollup, on UTC calendar parts both engines extract
    * identically. */
  gate("q48_time_rollup",
      """SELECT EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)) AS y,
           EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)) AS m,
           EXTRACT(DAY FROM CAST(ts AS TIMESTAMP)) AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY ROLLUP (
           EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)),
           EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)),
           EXTRACT(DAY FROM CAST(ts AS TIMESTAMP)))
         ORDER BY y NULLS FIRST, m NULLS FIRST, d NULLS FIRST""") { (s, dir) =>
    Fixtures.events(s, dir)
      .select(year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), col("value"))
      .rollup("y", "m", "d")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first,
        col("d").asc_nulls_first)
  }

  /** Ranking/navigation window suite — the window functions no other gate
    * exercises: `ntile`, `percent_rank`, `cume_dist`, `lag`, `lead` over one
    * per-customer ordered window. The (date, key) tiebreak makes every peer
    * group a singleton, so rank arithmetic is deterministic; percent_rank /
    * cume_dist are small-integer IEEE divisions, bit-identical across
    * engines; lag/lead pass raw parquet doubles through untouched.
    * ONE shuffle on `o_custkey` serves all five functions. */
  gate("q40_window_suite",
      """SELECT o_orderkey, o_custkey,
           CAST(ntile(4) OVER w AS INT) AS tile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_orderkey""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("tile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy("o_orderkey")
  }

  /** UNPIVOT / melt: wide per-flag measure columns back to long
    * (measure, value) rows via `stack` — the inverse of q28's pivot.
    * The melt is a zero-shuffle generator over the tiny aggregated frame;
    * at 100 TB the same shape melts a wide metrics table map-side. */
  gate("q41_unpivot",
      """WITH a AS (SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS sum_disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM a
         ORDER BY l_returnflag, measure""") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .select(col("l_returnflag"),
        expr("stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price," +
          " 'sum_disc', sum_disc) AS (measure, value)"))
      .orderBy("l_returnflag", "measure")
  }

  /** Robust outlier detection per group: median + MAD (both exact
    * interpolated percentiles) of customer balances per market segment,
    * outlier = |x − median| > 3 × 1.4826 × MAD (the normal-consistent
    * MAD scale). Two grouped percentile aggregations over the SAME
    * `c_mktsegment` shuffle (the deviation pass reuses the first's
    * partitioning via a broadcast stats join), never a per-row sort.
    * The comparison replays with identical operand order in the oracle,
    * so the IEEE arithmetic is bit-equal. */
  gate("q42_outliers",
      """WITH med AS (SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.5) AS med
           FROM customer GROUP BY c_mktsegment),
         dev AS (SELECT c.c_mktsegment, m.med,
             abs(c.c_acctbal - m.med) AS adev
           FROM customer c JOIN med m USING (c_mktsegment)),
         mad AS (SELECT c_mktsegment, min(med) AS med,
             quantile_cont(adev, 0.5) AS mad,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM dev GROUP BY c_mktsegment),
         o AS (SELECT d.c_mktsegment,
             CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           FROM dev d JOIN mad m USING (c_mktsegment)
           GROUP BY d.c_mktsegment)
         SELECT m.c_mktsegment, m.n, m.med, m.mad, o.n_outliers
         FROM mad m JOIN o USING (c_mktsegment)
         ORDER BY m.c_mktsegment""") { (s, dir) =>
    val c = t(s, dir, "customer")
    val med = c.groupBy("c_mktsegment")
      .agg(expr("percentile(c_acctbal, 0.5)").as("med"))
    val dev = c.join(broadcast(med), "c_mktsegment")
      .withColumn("adev", abs(col("c_acctbal") - col("med")))
    val mad = dev.groupBy("c_mktsegment")
      .agg(first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"),
        count(lit(1)).as("n"))
    dev.join(broadcast(mad.select("c_mktsegment", "mad")), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .join(mad, "c_mktsegment")
      .select("c_mktsegment", "n", "med", "mad", "n_outliers")
      .orderBy("c_mktsegment")
  }

  /** Equi-depth (quantile) binning — the complement of q36's equi-width
    * histogram: exact p25/p50/p75 boundaries over order totals, then one
    * counting pass with the three boundaries broadcast as a one-row stats
    * frame (the documented crossJoin-on-stats shape). Bins are half-open
    * on the boundary value: bin k holds (q_{k-1}, q_k]. */
  gate("q43_equidepth",
      """WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.5) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
           FROM orders),
         b AS (SELECT CASE WHEN o_totalprice <= q.q1 THEN 0
             WHEN o_totalprice <= q.q2 THEN 1
             WHEN o_totalprice <= q.q3 THEN 2
             ELSE 3 END AS bin, q.q1, q.q2, q.q3
           FROM orders, q)
         SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           min(q1) AS q1, min(q2) AS q2, min(q3) AS q3
         FROM b GROUP BY bin ORDER BY bin""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val qs = o.agg(
      expr("percentile(o_totalprice, 0.25)").as("q1"),
      expr("percentile(o_totalprice, 0.5)").as("q2"),
      expr("percentile(o_totalprice, 0.75)").as("q3"))
    o.crossJoin(broadcast(qs))
      .select(
        when(col("o_totalprice") <= col("q1"), 0)
          .when(col("o_totalprice") <= col("q2"), 1)
          .when(col("o_totalprice") <= col("q3"), 2)
          .otherwise(3).as("bin"),
        col("q1"), col("q2"), col("q3"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), first(col("q1")).as("q1"),
        first(col("q2")).as("q2"), first(col("q3")).as("q3"))
      .orderBy("bin")
  }

  /** Batch sessionization: 6-hour-gap sessions per user over the event
    * log (median per-user inter-event gap at this SF is ~7.3 h, so the
    * threshold splits streams non-degenerately), with per-session event
    * counts and exact-decimal value totals. One shuffle on `user_id`
    * serves the lag window, the running session counter, and the rollup
    * — see [[graft.operators.Sessionize]]. */
  gate("q33_sessionize",
      // same lag+running-sum replay as st2, plus the session ordinal, end
      // bound and exact-decimal value total; integer-microsecond gap
      // arithmetic mirrors the operator bit-for-bit
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(ts) AS us, value FROM events),
         x AS (SELECT user_id, ts, us, value,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                  <= 21600000000 THEN 0 ELSE 1 END AS ns FROM e),
         y AS (SELECT user_id, ts, value,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM x)
         SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
         FROM y GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""") { (s, dir) =>
    graft.operators.Sessionize.sessionize(
        Fixtures.events(s, dir), "user_id", "ts", gapSeconds = 21600,
        measures = Seq("value" -> "value"))
      .select(col("user_id"), col("session_seq"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Bloom semi-join reduction: lineitem (probe) pre-filtered by a Bloom
    * filter of a selective orders key set BEFORE the join shuffle —
    * results are EXACT (false positives drop in the real join), so the
    * oracle is the plain join. See [[graft.operators.Skew.bloomJoin]]. */
  gate("q34_bloom_join",
      // the bloom pre-filter never changes join RESULTS (only shuffle
      // volume), so the truth is the plain join
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
         FROM lineitem l JOIN
           (SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000) o
           ON l.l_orderkey = o.o_orderkey
         ORDER BY l.l_orderkey, l.l_linenumber""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val ords = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select("o_orderkey", "o_totalprice")
    graft.operators.Skew.bloomJoin(li, ords, "l_orderkey", "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Sweep-line concurrency: events become [ts, ts + floor(value·10) s]
    * intervals; the profile counts active intervals at every boundary
    * instant via the distributed prefix-sum (per-day windows + tiny
    * day-offset carry — no global event sort). floor() on both sides:
    * Spark's double→long cast truncates where DuckDB's rounds. */
  gate("q35_concurrency",
      // the oracle's one global window over unique instants IS the spec;
      // the engine reaches the same sums through per-day windows + carry
      """WITH iv AS (SELECT epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value*10) AS BIGINT)*1000000 AS e
           FROM events),
         d AS (SELECT s AS us, 1 AS dd FROM iv
               UNION ALL SELECT e + 1, -1 FROM iv),
         g AS (SELECT us, CAST(SUM(dd) AS BIGINT) AS dd FROM d GROUP BY us)
         SELECT make_timestamp(us) AS ts,
           CAST(SUM(dd) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS active
         FROM g ORDER BY ts""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select(col("ts").as("start_ts"),
      timestamp_micros(unix_micros(col("ts")) +
        floor(col("value") * 10).cast("long") * 1000000L).as("end_ts"))
    graft.operators.Sweep.concurrency(e, "start_ts", "end_ts")
      .select(col("ts").cast("timestamp_ntz").as("ts"), col("active"))
      .orderBy("ts")
  }

  gate("q30_posexplode",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents WHERE doc_id < 20)
         SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos,
           unnest(ws) AS word
         FROM w ORDER BY doc_id, pos""") { (s, dir) =>
    t(s, dir, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions.words(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))
      .orderBy("doc_id", "pos")
  }

  gate("q31_array_quantifiers",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents)
         SELECT doc_id, list_contains(ws, 'the') AS has_the,
           len(list_filter(ws, x -> length(x) > 1)) = len(ws) AS all_longer_1,
           CAST(len(ws) AS BIGINT) AS n
         FROM w ORDER BY doc_id""") { (s, dir) =>
    val staged = t(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.words(col("text")).as("__w"))
    staged.select(col("doc_id"),
        exists(col("__w"), w => w === "the").as("has_the"),
        forall(col("__w"), w => length(w) > 1).as("all_longer_1"),
        size(col("__w")).cast("long").as("n"))
      .orderBy("doc_id")
  }

  gate("q25_semi_anti_combo",
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 48)
           AND NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o_orderkey AND l_quantity < 2)
         ORDER BY o_orderkey""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") > 48)
    val small = t(s, dir, "lineitem").filter(col("l_quantity") < 2)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .join(small, o("o_orderkey") === small("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
  }

  gate("q24_percentile",
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_extendedprice, 0.9) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT l_returnflag,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
         percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
         percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** Daily new + cumulative distinct users over the event log — the
    * growth curve companion to q39's retention matrix. */
  gate("q47_cumulative_distinct",
      """WITH fd AS (SELECT user_id,
             min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT))
               AS fday
           FROM events GROUP BY user_id),
         d AS (SELECT fday, CAST(COUNT(*) AS BIGINT) AS new_keys
           FROM fd GROUP BY fday)
         SELECT CAST(DATE '1970-01-01' + to_days(CAST(fday AS INT)) AS DATE)
             AS day,
           new_keys,
           CAST(SUM(new_keys) OVER (ORDER BY fday
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_keys
         FROM d ORDER BY day""") { (s, dir) =>
    graft.operators.Funnel.newAndCumulative(
        Fixtures.events(s, dir), "user_id", "ts")
      .orderBy("day")
  }

  /** NEAREST as-of: same deterministic right side as as1, but each event
    * takes the CLOSEST order in time (backward wins distance ties) —
    * two as-of merges + an id-keyed recombination. The oracle picks the
    * same row with a lateral min-|Δt| (backward-preferring) query. */
  gate("as4_asof_nearest",
      // lateral min-|Δt| with the backward-preferring tie rule the
      // operator's recombination applies
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
             ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, n.o_orderkey, n.o_totalprice
         FROM events e LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM r
           WHERE r.o_custkey = e.user_id
           ORDER BY abs(epoch_us(CAST(r.o_orderdate AS TIMESTAMP))
               - epoch_us(CAST(e.ts AS TIMESTAMP))),
             CASE WHEN CAST(r.o_orderdate AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)
               THEN 0 ELSE 1 END
           LIMIT 1) n ON TRUE
         ORDER BY e.event_id""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast(e.schema("ts").dataType).as("o_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofNearest(e, o, "event_id", "ts", "o_ts", "user_id",
        "o_custkey", Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Tolerance-bounded as-of (the pandas `merge_asof(tolerance=…)`
    * contract): as1's enrichment, but matches staler than ~25.4 years
    * are nulled — a bound that genuinely splits this fixture (orders
    * span the 1990s, events sit in 2024). One merge + a codegen mask. */
  gate("as5_asof_tolerance",
      // the as1 ASOF replay with the staleness mask applied to BOTH payload
      // columns from the matched row's own time (micros, inclusive bound)
      """WITH r AS (SELECT o_custkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_ts, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
             ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id,
           CASE WHEN r.o_ts IS NOT NULL AND
               epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(r.o_ts)
                 <= 800000000000000
             THEN r.o_orderkey END AS o_orderkey,
           CASE WHEN r.o_ts IS NOT NULL AND
               epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(r.o_ts)
                 <= 800000000000000
             THEN r.o_totalprice END AS o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND CAST(e.ts AS TIMESTAMP) >= r.o_ts
         ORDER BY e.event_id""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast(e.schema("ts").dataType).as("o_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinTolerance(e, o, "ts", "o_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"), toleranceSeconds = 800000000L)
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Leading-edge debounce at the q33 gap: exactly the session-opening
    * events; event_id pins equal-timestamp ties. */
  gate("q37_debounce",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
         x AS (SELECT event_id, user_id,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) <= 21600000000
             THEN 0 ELSE 1 END AS k FROM e)
         SELECT event_id, user_id FROM x WHERE k = 1 ORDER BY event_id""") { (s, dir) =>
    graft.operators.Sessionize.debounce(
        Fixtures.events(s, dir).select("event_id", "user_id", "ts"),
        "user_id", "ts", gapSeconds = 21600, tieCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"))
      .orderBy("event_id")
  }

  /** Ordered-step funnel view→click→purchase per user: each step's first
    * strictly-later completion, one shuffle, stacked same-partition
    * windows. See [[graft.operators.Funnel]]. */
  gate("q38_funnel",
      // chained window CTEs: each step's conditional MIN references the
      // previous step's (partition-constant) completion time
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS t
                    FROM events),
         s1 AS (SELECT *, MIN(CASE WHEN t = 'view' THEN us END)
                  OVER (PARTITION BY user_id) AS v FROM e),
         s2 AS (SELECT *, MIN(CASE WHEN t = 'click' AND us > v THEN us END)
                  OVER (PARTITION BY user_id) AS c FROM s1),
         s3 AS (SELECT *, MIN(CASE WHEN t = 'purchase' AND us > c THEN us END)
                  OVER (PARTITION BY user_id) AS p FROM s2)
         SELECT DISTINCT user_id,
           CAST((CASE WHEN v IS NULL THEN 0 ELSE 1 END) +
                (CASE WHEN c IS NULL THEN 0 ELSE 1 END) +
                (CASE WHEN p IS NULL THEN 0 ELSE 1 END) AS INT)
             AS steps_completed,
           make_timestamp(v) AS step_1_ts, make_timestamp(c) AS step_2_ts,
           make_timestamp(p) AS step_3_ts
         FROM s3 ORDER BY user_id""") { (s, dir) =>
    graft.operators.Funnel.funnel(Fixtures.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("steps_completed"),
        col("step_1_ts").cast("timestamp_ntz").as("step_1_ts"),
        col("step_2_ts").cast("timestamp_ntz").as("step_2_ts"),
        col("step_3_ts").cast("timestamp_ntz").as("step_3_ts"))
      .orderBy("user_id")
  }

  /** Cohort retention over events: users cohorted by first-seen UTC day,
    * distinct-active counts per (cohort, day offset). */
  gate("q39_retention",
      // epoch-day integer arithmetic on both sides; offset 0 = cohort size
      """WITH d AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
         SELECT CAST(make_timestamp(c.cohort * 86400000000) AS DATE)
             AS cohort_date,
           d.day - c.cohort AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
         FROM d JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    graft.operators.Funnel.retention(Fixtures.events(s, dir), "user_id", "ts")
      .orderBy("cohort_date", "day_offset")
  }

  gate("as1_asof",
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    // deterministic right side: one order per (custkey, date) — largest key
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    AsofJoin.asofJoin(e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Same query as as1 through the native plan node (AsofJoinExec) —
    * o_orderdate is cast to timestamp because the native merge requires
    * identical time types (the union composition coerced implicitly).
    * The orders side is repartitioned by custkey FIRST: HashPartitioning
    * (custkey) satisfies both the dedup window's (custkey, orderdate)
    * clustering and the join's ClusteredDistribution(custkey), so the
    * whole right side rides ONE exchange end-to-end. */
  gate("as2_asof_native",
      // identical semantics to as1 — the native plan node must reproduce the
      // composition's results exactly
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .repartition(col("o_custkey"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinNative(e, o, "ts", "o_date_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Payload-consuming aggregate over the NATIVE as-of join. Exists so the
    * bench has an as-of entry whose `count()` cannot be optimized into
    * join elimination (as1/as2's bare counts elide the join entirely, on
    * both the composition and — via AsofJoinPushdown's left-preserving
    * rule — the native node): the per-user sum references the right
    * payload, so this measures the actual co-partitioned merge. Decimal
    * cast before the sum keeps the oracle comparison order-independent. */
  gate("as3_asof_sum",
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1),
         j AS (SELECT e.user_id, r.o_orderkey, r.o_totalprice
           FROM events e ASOF LEFT JOIN r
             ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate)
         SELECT user_id, COUNT(o_orderkey) AS n_matched,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS matched_total
         FROM j GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinNative(e, o, "ts", "o_date_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .groupBy("user_id")
      .agg(count(col("o_orderkey")).as("n_matched"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("matched_total"))
      .orderBy("user_id")
  }

  gate("rj1_range_join",
      """SELECT e.event_id, COUNT(*) AS n_parts
         FROM (SELECT event_id, value * 1000 AS p FROM events) e
         JOIN (SELECT p_partkey, p_retailprice - 100 AS lo, p_retailprice + 100 AS hi
               FROM part) r
           ON e.p >= r.lo AND e.p <= r.hi
         GROUP BY e.event_id ORDER BY e.event_id""") { (s, dir) =>
    import graft.operators.RangeJoin
    val points = Fixtures.events(s, dir)
      .select(col("event_id"), (col("value") * 1000).as("p"))
    val ranges = t(s, dir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice") - 100).as("lo"), (col("p_retailprice") + 100).as("hi"))
    RangeJoin.pointInInterval(points, ranges, "p", "lo", "hi", bucketWidth = 200.0)
      .groupBy("event_id").agg(count(lit(1)).as("n_parts"))
      .orderBy("event_id")
  }

  /** Interval-OVERLAP join, blocking proven lossless: "which shipments
    * were in flight during each audit window" — lineitem
    * [l_shipdate, l_receiptdate] (epoch days) against 25 synthetic
    * 15-day windows spread over the data range. The oracle is the
    * BRUTE-FORCE overlap theta-join, so a pair lost to bucket
    * fragmentation, or duplicated by a missing canonical-bucket cut,
    * breaks the hash. Counts per window keep the output bounded. */
  gate("rj2_interval_join",
      // brute-force interval-overlap theta-join: fragmentation must lose
      // nothing and the canonical-bucket cut must duplicate nothing
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             date_diff('day', DATE '1970-01-01', l_shipdate) AS s,
             date_diff('day', DATE '1970-01-01', l_shipdate)
               + l_linenumber * 5 AS e
           FROM lineitem),
         w AS (SELECT CAST(n_nationkey AS BIGINT) AS window_id,
             date_diff('day', DATE '1970-01-01', DATE '1992-01-01')
               + n_nationkey * 100 AS ws,
             date_diff('day', DATE '1970-01-01', DATE '1992-01-01')
               + n_nationkey * 100 + 15 AS we
           FROM nation)
         SELECT window_id, CAST(count(*) AS BIGINT) AS n_in_flight
         FROM li JOIN w ON li.s <= w.we AND w.ws <= li.e
         GROUP BY window_id ORDER BY window_id""") { (s, dir) =>
    import graft.operators.RangeJoin
    val epoch = to_date(lit("1970-01-01"))
    val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), epoch).cast("long").as("s"))
      // no receipt date in this testdata: a deterministic 5-25 day transit
      .withColumn("e", col("s") + col("l_linenumber").cast("long") * 5L)
    val base = datediff(to_date(lit("1992-01-01")), epoch).cast("long")
    val w = t(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("window_id"),
      (base + col("n_nationkey") * 100L).as("ws"),
      (base + col("n_nationkey") * 100L + 15L).as("we"))
    RangeJoin.intervalOverlap(li, w, "s", "e", "ws", "we", bucketWidth = 32.0)
      .groupBy("window_id").agg(count(lit(1)).as("n_in_flight"))
      .orderBy("window_id")
  }

  /** HLL++ distinct counts, emitted ORACLE-COMPARABLY: per group the EXACT
    * distinct counts (recomputable in any engine) plus `within_band`
    * booleans asserting |approx − exact|/exact ≤ 5% computed IN-QUERY from
    * the HLL++ estimate. The estimates themselves are engine-specific
    * register states that can never hash-match another engine — the band
    * booleans CAN, so the gate is machine-checkable end-to-end: an HLL
    * seed/rsd/merge regression beyond the band flips a boolean and the
    * hash goes red (the raw-estimate properties — determinism,
    * partition-invariance, the band itself — stay pinned in ApproxSpec).
    * rsd = 0.02 (4096 registers — still O(1) per group at any corpus
    * size) puts the 5% band at 2.5σ; the default rsd = 0.05 measurably
    * exceeds it on this data (8.6% on one group). The exact countDistinct
    * columns are GATE scaffolding — a 100 TB job runs the approx alone
    * (that being the point of HLL); the gate pays them to make the band
    * hash-checkable. */
  gate("q19_approx_hll",
      // the HLL gate's band booleans: the oracle recomputes the EXACT counts
      // and expects every within-band flag true — Spark's in-query band
      // check makes the approximate operator hash-comparable (the estimates
      // themselves are engine-specific and never would be)
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(DISTINCT l_orderkey) AS exact_orders,
         true AS parts_in_band, true AS orders_in_band
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("__ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("__ao"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("__ap") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("parts_in_band"),
        (abs(col("__ao") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.05).as("orders_in_band"))
      .orderBy("l_returnflag")
  }
}
