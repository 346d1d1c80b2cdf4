package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextFunctions
import graft.operators.Graph

/** Graph and ML gates: `gN_*` is graph algorithms, `mlN_*` model
  * training and evaluation. */
object GraphMlGates extends GateFamily {
  import GateSupport._

  /** Linear quality probe, fit and applied in one gate: exact normal
    * equations over INTEGER features (char count, whitespace token count;
    * label = is-English), so every sufficient statistic is an exact decimal
    * sum and the Cramer solve + scoring are fixed IEEE expression
    * sequences — the oracle replays training AND scoring bit-for-bit, no
    * rounding tolerance anywhere. */
  gate("ml1_linprobe",
      """WITH f AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x1,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x2,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s00,
             CAST(SUM(x1) AS DOUBLE) AS s01, CAST(SUM(x2) AS DOUBLE) AS s02,
             CAST(SUM(x1*x1) AS DOUBLE) AS s11,
             CAST(SUM(x1*x2) AS DOUBLE) AS s12,
             CAST(SUM(x2*x2) AS DOUBLE) AS s22,
             CAST(SUM(y) AS DOUBLE) AS b0, CAST(SUM(x1*y) AS DOUBLE) AS b1,
             CAST(SUM(x2*y) AS DOUBLE) AS b2
           FROM f),
         w AS (SELECT
             (s00 * (s11 * s22 - s12 * s12) - s01 * (s01 * s22 - s12 * s02)
               + s02 * (s01 * s12 - s11 * s02)) AS det,
             (b0 * (s11 * s22 - s12 * s12) - s01 * (b1 * s22 - s12 * b2)
               + s02 * (b1 * s12 - s11 * b2)) AS n0,
             (s00 * (b1 * s22 - s12 * b2) - b0 * (s01 * s22 - s12 * s02)
               + s02 * (s01 * b2 - b1 * s02)) AS n1,
             (s00 * (s11 * b2 - b1 * s12) - s01 * (s01 * b2 - b1 * s02)
               + b0 * (s01 * s12 - s11 * s02)) AS n2
           FROM g),
         ww AS (SELECT n0 / det AS w0, n1 / det AS w1, n2 / det AS w2 FROM w)
         SELECT f.doc_id, ww.w0 + ww.w1 * f.x1 + ww.w2 * f.x2 AS score
         FROM f, ww ORDER BY doc_id""") { (s, dir) =>
    val f = t(s, dir, "documents").select(col("doc_id"),
      col("n_chars").cast("long").as("x1"),
      TextFunctions.tokenCountWhitespace(col("text")).cast("long").as("x2"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val model = graft.operators.Regression.fitLinearExact(f, Seq("x1", "x2"), "y")
    f.select(col("doc_id"),
        graft.operators.Regression.linearScore(model,
          Seq(col("x1"), col("x2"))).as("score"))
      .orderBy("doc_id")
  }

  /** Logistic quality classifier: 3 full-batch GD iterations, each ONE
    * distributed gradient aggregation; weights round to 6 decimals per
    * iteration (the cross-engine resync — float sums and exp differ in the
    * last ulp), scores round the same way. The oracle replays all three
    * iterations and the sigmoid scoring. */
  gate("ml2_logreg",
      """WITH f AS (SELECT doc_id, n_chars / 100.0 AS x1,
             len(regexp_split_to_array(trim(text), '\s+')) / 20.0 AS x2,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
         p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
         i1 AS (SELECT
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p),
         i2 AS (SELECT
             ROUND(w.w0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i1 w GROUP BY w.w0, w.w1, w.w2),
         i3 AS (SELECT
             ROUND(w.w0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i2 w GROUP BY w.w0, w.w1, w.w2)
         SELECT f.doc_id,
           ROUND(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))), 6) AS score
         FROM f, i3 w ORDER BY doc_id""") { (s, dir) =>
    val f = t(s, dir, "documents").select(col("doc_id"),
      (col("n_chars") / 100.0).as("x1"),
      (TextFunctions.tokenCountWhitespace(col("text")) / 20.0).as("x2"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val model = graft.operators.Regression.fitLogisticGD(f,
      Seq(col("x1"), col("x2")), col("y"), iterations = 3, lr = 0.5)
    f.select(col("doc_id"),
        graft.operators.Regression.logisticScore(model,
          Seq(col("x1"), col("x2"))).as("score"))
      .orderBy("doc_id")
  }

  /** Clamped-seed label propagation: six seed communities spread over the
    * g3 event graph for three synchronous rounds; the oracle replays
    * every round's neighbor-vote argmax (count desc, label asc). */
  gate("g5_label_prop",
      // three synchronous clamped-seed rounds, each replayed: labeled-
      // neighbor votes, count-desc/label-asc argmax, seeds immutable
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT event_id % 60 AS s,
             (event_id // 60) % 60 AS d
           FROM events WHERE (event_id % 60) <> ((event_id // 60) % 60)),
         und AS MATERIALIZED (SELECT DISTINCT s, d FROM
           (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0)),
         nodes AS (SELECT DISTINCT s AS node FROM und),
         l0 AS (SELECT node,
             CASE WHEN node < 6 THEN node END AS label FROM nodes),
         m1 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l0 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c1 AS (SELECT node, nl, COUNT(*) AS c FROM m1 GROUP BY node, nl),
         p1 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c1)
           WHERE rn = 1),
         l1 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l0 l LEFT JOIN p1 p ON p.node = l.node),
         m2 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l1 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c2 AS (SELECT node, nl, COUNT(*) AS c FROM m2 GROUP BY node, nl),
         p2 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c2)
           WHERE rn = 1),
         l2 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l1 l LEFT JOIN p2 p ON p.node = l.node),
         m3 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l2 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c3 AS (SELECT node, nl, COUNT(*) AS c FROM m3 GROUP BY node, nl),
         p3 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c3)
           WHERE rn = 1),
         l3 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l2 l LEFT JOIN p3 p ON p.node = l.node)
         SELECT node, label FROM l3 ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
    val seeds = s.range(6).select(col("id").as("node"), col("id").as("label"))
    Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label",
        iterations = 3)
      .orderBy("node")
  }

  /** Multinomial naive Bayes classifying each document's `source` from
    * its tokens: fully distributed train + score, per-(doc, class)
    * rounded log-scores and the rounded-argmax prediction. The oracle
    * retrains from scratch relationally — counts, add-1 likelihoods,
    * priors, the rounded decision — so the whole estimator is replayed,
    * not just the scores. See [[graft.operators.NaiveBayes]]. */
  gate("ml3_naive_bayes",
      """WITH w AS (SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents WHERE trim(text) <> ''),
         tok AS (SELECT doc_id, source, unnest(ws) AS t FROM w),
         labels AS (SELECT DISTINCT source AS label FROM documents),
         v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vv FROM tok),
         ct AS (SELECT l.label, COALESCE(t0.tot0, 0) AS tot
           FROM labels l LEFT JOIN (SELECT source AS label,
             CAST(count(*) AS BIGINT) AS tot0 FROM tok GROUP BY source) t0
           USING (label)),
         wc AS (SELECT t, source AS label, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY t, source),
         dtf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, t),
         pri AS (SELECT source AS label,
             ln(CAST(count(*) AS DOUBLE) /
               (SELECT count(*) FROM documents)) AS lp
           FROM documents GROUP BY source),
         contrib AS (SELECT d.doc_id, l.label,
             d.tf * ln((COALESCE(wc.c, 0) + 1.0) /
               (ct.tot + 1.0 * CAST(v.vv AS DOUBLE))) AS x
           FROM dtf d CROSS JOIN labels l
           LEFT JOIN wc ON wc.t = d.t AND wc.label = l.label
           JOIN ct ON ct.label = l.label
           CROSS JOIN v),
         sc AS (SELECT c.doc_id, c.label,
             round(p.lp + sum(c.x), 6) AS score
           FROM contrib c JOIN pri p ON p.label = c.label
           GROUP BY c.doc_id, c.label, p.lp),
         pred AS (SELECT doc_id, label AS predicted FROM
           (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, label) AS rn FROM sc)
           WHERE rn = 1)
         SELECT s.doc_id, s.label, s.score, p.predicted
         FROM sc s JOIN pred p USING (doc_id)
         ORDER BY s.doc_id, s.label""") { (s, dir) =>
    graft.operators.NaiveBayes.trainScore(t(s, dir, "documents"),
        "doc_id", "text", "source")
      .orderBy("doc_id", "label")
  }

  /** Reliability bins + ECE ([[graft.operators.Regression.calibrationBins]])
    * over a hash-scored classifier whose labels are drawn so that
    * P(label=1 | score) ≈ score — a nearly-calibrated fixture, so acc
    * tracks conf per bin and the exact integer-micro arithmetic is
    * what the oracle checks: per-bin sums are exact integers in both
    * engines, only the final divisions round. */
  gate("ml4_calibration",
      // micro-unit integer sums per bin (exact in any engine), then the
      // three final divisions round
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT least(m * 10 // 1000000, 9) AS bin, m,
             CASE WHEN lm < m THEN 1 ELSE 0 END AS y
           FROM sc),
         b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(m) AS BIGINT) AS s
           FROM r GROUP BY bin),
         tot AS (SELECT
             CAST(sum(abs(s - n_pos * 1000000)) AS BIGINT) AS num,
             CAST(sum(n) AS BIGINT) AS nn
           FROM b)
         SELECT bin, n, n_pos,
           round(CAST(s AS DOUBLE) / (n * 1000000), 6) AS conf,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS acc,
           round(CAST(num AS DOUBLE) / (nn * 1000000), 6) AS ece
         FROM b, tot ORDER BY bin""") { (s, dir) =>
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.calibrationBins(scored, "score", "label",
        nBins = 10)
      .orderBy("bin")
  }

  /** Exact tie-corrected ROC-AUC over the ml4 fixture
    * ([[graft.operators.Regression.aucExact]]): labels are drawn with
    * P(y=1 | score) ≈ score, giving a discriminative-but-imperfect
    * scorer whose exact rank statistic the oracle replays — the
    * doubled numerator is an exact integer in both engines, so the
    * hash pins every tie's ½ credit. */
  gate("ml5_auc",
      // the Mann-Whitney statistic replayed on distinct micro-scores:
      // one ordered prefix sum, the doubled numerator an exact integer
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT m, CASE WHEN lm < m THEN 1 ELSE 0 END AS y FROM sc),
         g AS (SELECT m AS s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p
           FROM r GROUP BY m),
         gg AS (SELECT s, n, p, n - p AS neg,
             CAST(COALESCE(sum(n - p) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS negbelow
           FROM g),
         t AS (SELECT
             CAST(sum(p * (negbelow * 2 + neg)) AS BIGINT) AS num2,
             CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg
           FROM gg)
         SELECT n_pos, n_neg,
           round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
             ELSE CAST(num2 AS DOUBLE) / (n_pos * n_neg * 2) END, 6) AS auc
         FROM t""") { (s, dir) =>
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.aucExact(scored, "score", "label")
  }

  /** Operating-point metrics at threshold 0.5 over the ml4 fixture
    * ([[graft.operators.Regression.confusionAtThreshold]]): exact
    * micro-unit split, integer-rational F1, every division final. */
  gate("ml6_confusion",
      // the exact micro-unit split at t=0.5, then only final divisions
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT CASE WHEN m >= 500000 THEN 1 ELSE 0 END AS p,
             CASE WHEN lm < m THEN 1 ELSE 0 END AS y
           FROM sc),
         c AS (SELECT
             CAST(sum(p * y) AS BIGINT) AS tp,
             CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
             CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn,
             CAST(sum((1 - p) * y) AS BIGINT) AS fn
           FROM r)
         SELECT tp, fp, tn, fn,
           round(CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           round(CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
             ELSE CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6) AS f1,
           round(CASE WHEN tp + fp + tn + fn = 0 THEN NULL
             ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) END, 6)
             AS accuracy
         FROM c""") { (s, dir) =>
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.confusionAtThreshold(scored,
      "score", "label", threshold = 0.5)
  }

  /** The threshold SWEEP over the ml4 fixture
    * ([[graft.operators.Regression.confusionSweep]]): five operating
    * points in one aggregate — the table a filter designer reads to
    * pick the cut ml5's AUC only says exists. Thresholds key as exact
    * micro-units; the oracle replays each point's conditional sums. */
  gate("ml7_confusion_sweep",
      // each operating point's conditional sums replayed per micro-unit
      // threshold — the ml6 arithmetic swept over a VALUES table
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         th(t) AS (VALUES (100000), (250000), (500000), (750000),
           (900000)),
         r AS (SELECT th.t,
             CASE WHEN sc.m >= th.t THEN 1 ELSE 0 END AS p,
             CASE WHEN sc.lm < sc.m THEN 1 ELSE 0 END AS y
           FROM sc, th),
         c AS (SELECT t,
             CAST(sum(p * y) AS BIGINT) AS tp,
             CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
             CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn,
             CAST(sum((1 - p) * y) AS BIGINT) AS fn
           FROM r GROUP BY t)
         SELECT CAST(t AS BIGINT) AS t_micro, tp, fp, tn, fn,
           round(CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           round(CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
             ELSE CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6)
             AS f1,
           round(CASE WHEN tp + fp + tn + fn = 0 THEN NULL
             ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) END, 6)
             AS accuracy
         FROM c ORDER BY t_micro""") { (s, dir) =>
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.confusionSweep(scored, "score", "label",
        thresholds = Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      .orderBy("t_micro")
  }

  /** PageRank gate: a deterministic 200-node link graph derived from the
    * events table (src = event_id mod 200, dst = event_id·48271 mod 200 — a
    * Lehmer-style mixing constant so the graph is irregular), 5 exact
    * fixed-point iterations. The oracle replays the derivation AND every
    * iteration with the same integer arithmetic — bit-exact, no float
    * tolerance anywhere. */
  gate("g1_pagerank",
      """WITH e AS (SELECT DISTINCT event_id % 200 AS src,
             (event_id * 48271) % 200 AS dst FROM events),
         o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         p AS (SELECT COUNT(*) AS n FROM nodes),
         r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, p),
         c1 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node, p),
         c2 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node, p),
         c3 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node, p),
         c4 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node, p),
         c5 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node, p)
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r5 ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    Graph.pageRank(edges, "src", "dst", iterations = 5)
      .orderBy("node")
  }

  /** TrustRank over g1's graph ([[graft.operators.Graph.trustRank]]):
    * four trusted seeds, trust mass seeded and teleported ONLY there —
    * nodes far from every seed score near zero whatever their in-degree
    * (the link-spam demotion contract). The oracle replays all five
    * iterations of the seed-restricted integer arithmetic, g1's CTE
    * machinery with the seed-modified init and teleport. */
  gate("g7_trustrank",
      """WITH e AS (SELECT DISTINCT event_id % 200 AS src,
             (event_id * 48271) % 200 AS dst FROM events),
         o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node,
             CASE WHEN node IN (0, 50, 100, 150)
               THEN 1000000000 // 4 ELSE 0 END AS r
           FROM nodes),
         c1 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node),
         c2 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node),
         c3 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node),
         c4 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node),
         c5 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node)
         SELECT node, CAST(r AS BIGINT) AS trust_ppb FROM r5 ORDER BY node""") { (s, dir) =>
    import s.implicits._
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    val seeds = Seq(0L, 50L, 100L, 150L).toDF("host_id")
    Graph.trustRank(edges, "src", "dst", seeds, "host_id", iterations = 5)
      .orderBy("node")
  }

  /** Triangle counting: degree-oriented wedge join
    * ([[graft.operators.Graph.triangleCounts]] — Σ outdeg² bounded by
    * O(m^1.5) under ANY skew). The edges decompose event_id as a base-60
    * digit pair, thinned by a pair-deterministic keep rule — g1's
    * multiplicative derivation is a PERMUTATION of the node set (cycles
    * only, zero triangles), which would make this gate vacuous; the digit
    * graph is triangle-rich with irregular per-node counts. Counts are
    * orientation-independent, so the oracle enumerates canonical u<y<z
    * triples directly. */
  gate("g2_triangles",
      // canonical u<y<z triple enumeration — orientation-independent truth
      // for the engine's degree-oriented wedge join
      """WITH raw AS (SELECT s, d FROM
             (SELECT event_id % 60 AS s, (event_id // 60) % 60 AS d
              FROM events)
           WHERE (s * 31 + d * 17) % 5 <> 0),
         e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
               FROM raw WHERE s <> d),
         n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                 FROM e a JOIN e b ON b.u = a.u AND b.v > a.v
                 JOIN e c ON c.u = a.v AND c.v = b.v),
         corners AS (SELECT x AS node FROM tri
                     UNION ALL SELECT y FROM tri
                     UNION ALL SELECT z FROM tri),
         cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                 FROM corners GROUP BY node)
         SELECT n.node, coalesce(cnt.n_triangles, 0) AS n_triangles
         FROM n LEFT JOIN cnt USING (node) ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
      .filter((col("src") * 31 + col("dst") * 17) % 5 =!= 0)
    Graph.triangleCounts(edges, "src", "dst").orderBy("node")
  }

  /** k-core over an irregular-degree digit graph ((s·d) mod 7 thinning:
    * degrees 24–59): k=25 peels to a 35-node core in 4 cascade rounds —
    * a proper nonempty subset, so the gate pins real peeling, not a
    * no-op or a collapse. Oracle replays 6 peel rounds (fixpoint + 2). */
  gate("g3_kcore",
      // six chained peel rounds (fixpoint at 4, +2 idempotent) — each round
      // recomputes degrees over the induced subgraph exactly as the engine
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
           FROM (SELECT event_id % 60 AS s, (event_id // 60) % 60 AS d
                 FROM events)
           WHERE s <> d AND (s * d) % 7 < 3),
         k1 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e0 UNION ALL
                 SELECT v FROM e0) GROUP BY node HAVING count(*) >= 25),
         e1 AS MATERIALIZED (SELECT e0.u, e0.v FROM e0
                JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v),
         k2 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e1 UNION ALL
                 SELECT v FROM e1) GROUP BY node HAVING count(*) >= 25),
         e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
                JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v),
         k3 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e2 UNION ALL
                 SELECT v FROM e2) GROUP BY node HAVING count(*) >= 25),
         e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2
                JOIN k3 a ON a.node = e2.u JOIN k3 b ON b.node = e2.v),
         k4 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e3 UNION ALL
                 SELECT v FROM e3) GROUP BY node HAVING count(*) >= 25),
         e4 AS MATERIALIZED (SELECT e3.u, e3.v FROM e3
                JOIN k4 a ON a.node = e3.u JOIN k4 b ON b.node = e3.v),
         k5 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e4 UNION ALL
                 SELECT v FROM e4) GROUP BY node HAVING count(*) >= 25),
         e5 AS MATERIALIZED (SELECT e4.u, e4.v FROM e4
                JOIN k5 a ON a.node = e4.u JOIN k5 b ON b.node = e4.v),
         k6 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e5 UNION ALL
                 SELECT v FROM e5) GROUP BY node HAVING count(*) >= 25),
         e6 AS MATERIALIZED (SELECT e5.u, e5.v FROM e5
                JOIN k6 a ON a.node = e5.u JOIN k6 b ON b.node = e5.v)
         SELECT node FROM (SELECT u AS node FROM e6 UNION SELECT v FROM e6)
         ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
      .filter((col("src") * col("dst")) % 7 < 3)
    Graph.kCore(edges, "src", "dst", k = 25).orderBy("node")
  }

  /** Bounded BFS on g1's permutation graph (disjoint cycles, so hops
    * genuinely layer instead of saturating): everything within 6 hops of
    * node 1, with minimal hop counts. */
  gate("g4_bfs",
      // layered expansion, MIN over hop labels = BFS distance (≤ 6)
      """WITH raw AS (SELECT event_id % 200 AS s,
             (event_id * 48271) % 200 AS d FROM events),
         adj AS (SELECT DISTINCT s AS a, d AS b FROM raw WHERE s <> d
                 UNION SELECT DISTINCT d, s FROM raw WHERE s <> d),
         h0 AS (SELECT CAST(1 AS BIGINT) AS node),
         h1 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h0 ON adj.a = h0.node),
         h2 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h1 ON adj.a = h1.node),
         h3 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h2 ON adj.a = h2.node),
         h4 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h3 ON adj.a = h3.node),
         h5 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h4 ON adj.a = h4.node),
         h6 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h5 ON adj.a = h5.node),
         r AS (SELECT node, 0 AS hops FROM h0
               UNION ALL SELECT node, 1 FROM h1
               UNION ALL SELECT node, 2 FROM h2
               UNION ALL SELECT node, 3 FROM h3
               UNION ALL SELECT node, 4 FROM h4
               UNION ALL SELECT node, 5 FROM h5
               UNION ALL SELECT node, 6 FROM h6)
         SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
         FROM r GROUP BY node ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    Graph.reachableFrom(edges, "src", "dst", Seq(1L), maxHops = 6)
      .orderBy("node")
  }

  /** Bounded weighted SSSP over the g4 synthetic graph (weights
    * `event_id % 7 + 1`): exact shortest distances among paths of ≤ 6
    * edges from node 1 ([[graft.operators.Graph.boundedShortestPaths]]).
    * The round-bounded contract is what makes an unrolled SQL replay
    * possible whether or not the graph converged. */
  gate("g6_sssp",
      // six Bellman-Ford relaxation rounds unrolled: dist after round R =
      // exact shortest distance among paths of <= R edges
      """WITH raw AS (SELECT event_id % 200 AS s,
             (event_id * 48271) % 200 AS d,
             CAST((event_id % 7) + 1 AS BIGINT) AS w FROM events),
         adj AS (SELECT s AS a, d AS b, w FROM raw WHERE s <> d
                 UNION ALL SELECT d, s, w FROM raw WHERE s <> d),
         d0 AS (SELECT CAST(n AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
                FROM (VALUES (1), (2), (3)) AS t(n)),
         d1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d0 UNION ALL
             SELECT adj.b, d0.dist + adj.w FROM adj JOIN d0 ON adj.a = d0.node)
           GROUP BY node),
         d2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d1 UNION ALL
             SELECT adj.b, d1.dist + adj.w FROM adj JOIN d1 ON adj.a = d1.node)
           GROUP BY node),
         d3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d2 UNION ALL
             SELECT adj.b, d2.dist + adj.w FROM adj JOIN d2 ON adj.a = d2.node)
           GROUP BY node),
         d4 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d3 UNION ALL
             SELECT adj.b, d3.dist + adj.w FROM adj JOIN d3 ON adj.a = d3.node)
           GROUP BY node),
         d5 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d4 UNION ALL
             SELECT adj.b, d4.dist + adj.w FROM adj JOIN d4 ON adj.a = d4.node)
           GROUP BY node),
         d6 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d5 UNION ALL
             SELECT adj.b, d5.dist + adj.w FROM adj JOIN d5 ON adj.a = d5.node)
           GROUP BY node)
         SELECT node, dist FROM d6 ORDER BY node""") { (s, dir) =>
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"),
        (col("event_id") % 7 + 1).as("w"))
    Graph.boundedShortestPaths(edges, "src", "dst", "w", Seq(1L, 2L, 3L),
        maxRounds = 6)
      .orderBy("node")
  }
}
