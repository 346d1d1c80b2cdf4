package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023 — public knowledge): score every raw document by the
  * log-likelihood ratio of a hashed-ngram bag model fit on a small
  * TARGET corpus (the distribution you want more of) against one fit on
  * the raw corpus itself, then keep the top scorers. The standard
  * domain-targeted pretraining-data selector.
  *
  * 100 TB shape — the whole pipeline is two bounded aggregations and
  * one scoring pass:
  *  1. gram extraction is the codegen'd multiset kernel
  *     ([[graft.functions.WordGramsExpr]], every gram size concatenated
  *     into one array and exploded once) + the t31 md5-prefix bucket
  *     hash, map-side;
  *  2. the raw and target bucket DISTRIBUTIONS aggregate to
  *     `numBuckets` rows each (map-side partial combine; the result is
  *     broadcast-sized BY CONSTRUCTION, whatever the corpus size); the
  *     two meet in one full join of ≤ 2·`numBuckets` rows, whose
  *     unpartitioned window sums the totals, so each distribution is
  *     aggregated and shuffled once;
  *  3. per-doc scoring is one broadcast join of gram instances against
  *     the `numBuckets`-row log-ratio table plus a partial-aggregated
  *     sum per doc — the corpus shuffles only (id, partial-sum) rows.
  *     The raw side is read twice (once per aggregation), never more;
  *  4. selection is a distributed TakeOrdered, never a global sort.
  *
  * Determinism: per-bucket log-ratios round to `scale` decimals BEFORE
  * summation (identical summands in every engine) and each doc's sum
  * rounds again, the t10b/t12 cross-engine convention. The convention
  * REDUCES cross-engine drift, it does not eliminate it: double
  * summation is order-dependent, so a doc whose true sum sits within
  * an ulp of a `scale`-decimal rounding boundary can still round
  * differently under Spark's partial-aggregation order than under
  * another engine's — ~2⁻⁴⁵-per-doc unlikely at `scale = 6`, not
  * impossible. If bit-identical replay is a hard requirement, sum an
  * order-canonical form instead (sort the per-doc contributions, or
  * sum scaled integers); the gate-scale fixture never hits a boundary.
  *
  * The bucket hash is t31's md5-prefix so external engines replay the
  * whole estimator bit-for-bit; md5-per-gram is the dominant 10× cost
  * (measured slope 0.50 — compute-linear, no shuffle artifact). A
  * deployment that doesn't need cross-engine replay passes
  * `hashMode = "xxhash64"` — same distributional behavior, roughly an
  * order of magnitude less hash work per gram, cross-validated against
  * the md5 mode in DsirHashModeSpec. The d23 gate stays on md5.
  */
object Dsir {

  /** One row per gram INSTANCE (multiset, the bag-model contract):
    * `keep` columns + `bucket`. Grams are all sliding `n`-windows for
    * each n in `ns` (paper default: unigrams + bigrams), concatenated
    * into ONE array per doc so the side is read by one explode, and
    * hashed by the t31 convention `md5-prefix-32-bit mod numBuckets`.
    * `outer` keeps a doc with zero grams as one row with a null bucket. */
  private def gramBuckets(df: DataFrame, textCol: String, numBuckets: Int,
      ns: Seq[Int], keep: Seq[Column], hashMode: String,
      outer: Boolean): DataFrame = {
    val all = concat(ns.map(n => graft.functions.WordGramsExpr(col(textCol), n)): _*)
    val bucket = hashMode match {
      case "md5" =>
        pmod(conv(substring(md5(col("__g")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong))
      case "xxhash64" => pmod(xxhash64(col("__g")), lit(numBuckets.toLong))
      case other => throw new IllegalArgumentException(
        s"hashMode must be md5 or xxhash64, got $other")
    }
    // the guard keeps a zero-gram row's bucket null: xxhash64 of null is
    // its seed
    df.select(keep :+ (if (outer) explode_outer(all) else explode(all))
        .as("__g"): _*)
      .select(keep :+ when(col("__g").isNotNull, bucket).as("bucket"): _*)
  }

  /** Importance weight per raw doc: Σ over its gram instances of the
    * smoothed per-bucket log-likelihood ratio
    * `ln((tgt_n+1)/(tgt_total+B)) − ln((raw_n+1)/(raw_total+B))`
    * (Laplace smoothing over B = `numBuckets`). Returns one row per
    * distinct raw `idCol` value `(idCol, weight)`; docs yielding zero
    * grams weigh 0, and so does the null id.
    *
    * `hashMode` selects the gram→bucket hash: `"md5"` (default) is the
    * t31 cross-engine convention the d23 gate's DuckDB oracle replays
    * bit-for-bit; `"xxhash64"` is the production swap — roughly an
    * order of magnitude less hash work per gram (the dominant measured
    * cost of the operator), same distributional behavior, NOT
    * replayable by engines without Spark's xxhash64. DsirHashModeSpec
    * cross-validates that both modes select the same documents on a
    * clear-signal fixture. */
  def importanceWeights(
      raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      numBuckets: Int = 4096, ns: Seq[Int] = Seq(1, 2),
      scale: Int = 6, hashMode: String = "md5"): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad gram sizes: $ns")
    def grams(df: DataFrame, text: String, keep: Seq[Column], outer: Boolean) =
      gramBuckets(df, text, numBuckets, ns, keep, hashMode, outer)
    // NOTE (r20 optimization round): pre-aggregating gram instances to
    // (doc, bucket, cnt) so one extraction pass feeds both consumers via
    // exchange reuse was tried and REVERTED — grams are mostly distinct
    // per doc, so the "aggregate" shuffles ~every instance as a
    // fixed-width row, and at 10× that shuffle cost MORE than the saved
    // extraction pass (d23 tN 12.1 s → 19.2 s). The instance stream
    // stays map-side: one extraction pass for the distribution, one for
    // the broadcast-join scoring, zero instance-sized shuffles.
    val rawN = grams(raw, textCol, Nil, outer = false).groupBy("bucket")
      .agg(count(lit(1)).cast("double").as("raw_n"))
    val tgtN = grams(target, targetTextCol, Nil, outer = false).groupBy("bucket")
      .agg(count(lit(1)).cast("double").as("tgt_n"))
    // the totals are sums of the bucket rows, taken by one unpartitioned
    // window over the ≤ 2·B-row full join of the two distributions, so
    // each distribution is aggregated (and shuffled) once (exact: counts
    // are integers < 2^53, their double sum is the value count() gives)
    val everyBucket = Window.partitionBy()
    val b = lit(numBuckets.toDouble)
    val ratios = rawN.join(tgtN, Seq("bucket"), "full")
      .select(col("bucket"), col("raw_n"),
        coalesce(col("tgt_n"), lit(0.0)).as("tgt_n"),
        sum("raw_n").over(everyBucket).as("raw_total"),
        coalesce(sum("tgt_n").over(everyBucket), lit(0.0)).as("tgt_total"))
      // every bucket that appears in ANY raw doc has raw_n >= 1 (the
      // counts come from the same gram rows being scored), so the raw
      // buckets cover the scoring domain exactly
      .where(col("raw_n").isNotNull)
      .select(col("bucket"),
        round(
          log((col("tgt_n") + 1.0) / (col("tgt_total") + b)) -
          log((col("raw_n") + 1.0) / (col("raw_total") + b)),
          scale).as("log_ratio"))
    // a zero-gram doc's one null-bucket row finds no ratio: its sum is
    // null and its weight 0
    grams(raw, textCol, Seq(col(idCol)), outer = true)
      .join(broadcast(ratios), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(round(sum("log_ratio"), scale).as("weight"))
      .select(col(idCol), when(col(idCol).isNull, lit(0.0))
        .otherwise(coalesce(col("weight"), lit(0.0))).as("weight"))
  }

  /** The resampling step in its deterministic top-k form: the `k`
    * highest-weight docs (ties to the smaller id), ranked 1..k. The
    * limit plans as a distributed TakeOrdered; the rank window runs
    * over k rows only. */
  def selectTopK(weights: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    weights.orderBy(col("weight").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("weight").desc, col(idCol))))
  }
}
