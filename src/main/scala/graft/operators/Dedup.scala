package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.core.JsonFile
import graft.functions.TextFunctions

/** Deduplication operators for 100 TB-scale corpora. Design notes:
  *
  *  - Exact dedup is a single hash-aggregate (one shuffle on the content
  *    hash; map-side partial aggregation kicks in automatically).
  *  - MinHash/SimHash/embedding near-dup all follow the LSH pattern:
  *    per-row signature (narrow, codegen'd, no shuffle) → explode to
  *    (bucket, id) → self-equi-join on bucket (the only shuffle, keyed on
  *    bucket so it scales out) → exact verification on the candidate pairs
  *    only. Candidate verification carries fixed-width hash signatures, not
  *    raw text, so shuffle volume is bounded by O(rows × signature), never
  *    O(rows × document).
  *  - Hot buckets are CAPPED: any real crawl has pathological near-identical
  *    content (empty docs, boilerplate headers, zero vectors) whose bucket
  *    would otherwise produce O(b²) candidate pairs inside one shuffle
  *    partition — the classic LSH skew death. Buckets above `maxBucketSize`
  *    are dropped before the self-join, and the drop is OBSERVED (Spark
  *    `observe` metrics, logged after the first action) — never silent.
  *  - All operators return LAZY DataFrames. The minhash intermediate cache
  *    is released by a one-shot QueryExecutionListener after the first
  *    completed action on the result, so long-lived sessions never
  *    accumulate cached frames (and no non-fault-tolerant checkpoint blocks
  *    are involved — a lost executor just recomputes lineage).
  *  - All hash families are deterministically seeded — results are stable
  *    across runs and cluster sizes.
  */
object Dedup {

  private val log = LoggerFactory.getLogger(getClass)

  /** Default hot-bucket cap. A bucket of b members yields b(b-1)/2 candidate
    * pairs in one task; 4096 bounds that at ~8.4M pairs (~130 MB of id
    * pairs) — large but safe. Corpora with bigger legitimate near-dup
    * clusters should raise it (or pre-dedup exactly first: exact dedup
    * collapses identical docs, the usual cause of mega-buckets). */
  val DefaultMaxBucketSize: Int = 4096

  /** Exact dedup: keep the smallest id per identical content. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** [[exact]] keeping the BEST copy instead of the smallest id: real
    * curation keeps the highest-quality member of a duplicate family —
    * best source, richest metadata — not the accidental min-id. The
    * score must come from OUTSIDE the text (identical text means
    * identical text-derived metrics, so a meaningful score is source
    * priority, fetch recency, licence rank…). Still ONE hash-aggregate:
    * `max(struct(score, −id))` picks the argmax with ties to the
    * SMALLEST id, deterministically, with no window and no second
    * shuffle. Returns one row per distinct content:
    * `(content_hash, idCol, scoreCol, n_copies)`.
    *
    * Contract (r15 ADVICE): `idCol` must be an INTEGRAL column — the
    * tie-break negates it, which on a string id would silently compare
    * under a decimal coercion; refused at plan time instead. An id of
    * `Long.MinValue` fails loudly (ANSI negation overflow), not
    * silently. Null scores lose to any non-null score (struct max
    * orders nulls first); a family whose scores are ALL null keeps its
    * min-id member and reports a null score — deterministic, and
    * visible to the caller as the null in `scoreCol`. */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"exactKeepBest: id column '$idCol' must be integral for the " +
        s"negated tie-break, got ${idType.sql} — cast or map ids first")
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("ni")))
        .as("__b"), count(lit(1)).as("n_copies"))
      .select(col("content_hash"), (-col("__b.ni")).as(idCol),
        col("__b.s").as(scoreCol), col("n_copies"))
  }

  // ------------------------------------------------------------- minhash

  private[graft] val HashDomain = (1L << 31) - 1 // Mersenne prime 2^31-1

  /** k affine hash functions h_i(x) = (a_i*x + b_i) mod p over a base
    * xxhash64 reduced to a 31-bit domain: with a,b,x < 2^31 the product
    * stays under 2^62, so the arithmetic never overflows a long (Spark 4
    * runs ANSI mode by default — silent wraparound would throw). Seeded,
    * so signatures are reproducible anywhere.
    *
    * FORMAT NOTE: switching math.abs to `& Long.MaxValue` (the abs fix —
    * abs(Long.MinValue) is negative and violated the <2^62 bound) changed
    * the generated (a,b) pairs for roughly half the draws, so signatures and
    * band keys differ from pre-fix releases. Persisted signatures/pair lists
    * from those releases are not comparable and must be regenerated. */
  private[graft] def hashFamily(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    Seq.fill(numHashes)(((rnd.nextLong() & Long.MaxValue) % (HashDomain - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % HashDomain))
  }

  /** array<long> minhash signature from an ALREADY-MATERIALIZED column of
    * shingle hashes (reduced to the 31-bit domain). Taking the hash column
    * rather than raw text matters: the signature references its input 64
    * times, and Catalyst will not collapse a multi-referenced non-cheap
    * projection — so the text→shingle→hash pipeline runs once per row, not
    * once per hash function. */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int = 64,
      seed: Long = 42L): Column =
    graft.functions.MinhashSignatureExpr(hashes, numHashes, seed)

  /** (id, shingle_set) — words staged as a materialized column (one
    * tokenizer pass per row), then ONE fused kernel call builds the
    * distinct shingle-hash set ([[graft.functions.ShingleHashSetExpr]]:
    * no per-shingle string building, no intermediate arrays). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"), TextFunctions.words(col(textCol)).as("__words"))
      .select(col("id"),
        graft.functions.ShingleHashSetExpr(col("__words"), shingleSize)
          .as("shingle_set"))

  /** Column: array<long> minhash signature of a text column (convenience;
    * hot paths should stage words via [[shingleSets]] first). Built on the
    * SAME fused shingle kernel as [[shingleSets]]/[[minhashPairs]], so
    * signatures from this form and the pipeline are comparable — duplicate
    * shingles cannot affect a minimum, so the kernel's built-in distinct
    * leaves signatures unchanged. */
  def minhashSignature(text: Column, shingleSize: Int = 3, numHashes: Int = 64,
      seed: Long = 42L): Column =
    minhashSignatureFromHashes(
      graft.functions.ShingleHashSetExpr(TextFunctions.words(text), shingleSize),
      numHashes, seed)

  /** LSH banding: numHashes/rowsPerBand band keys per row, as LONGS —
    * xxhash64 over (band index, signature slice). Long keys shuffle and
    * join cheaper than the previous "b:v1,v2,…" strings; different bands
    * cannot collide because the band index is part of the hash input. */
  private def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val numBands = numHashes / rowsPerBand
    array((0 until numBands).map { b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)
  }

  /** Drop rows belonging to buckets with more than `cap` members, counting
    * per bucket with a window over the bucket key — ONE shuffle on the same
    * key the candidate self-join uses, and no per-bucket memory blowup (a
    * groupBy+collect of a mega-bucket would materialize it in one task).
    *
    * Returns ONE observed capped frame, meant to be self-joined by the
    * caller. Self-joining the SAME frame matters for performance: both join
    * sides share one canonical plan, so the bucket-key shuffle under the
    * window is computed once and the second side is a ReusedExchange — the
    * whole upstream pipeline (scan → signature → explode) runs once, not
    * twice. The analyzer allows the duplicated observe node because both
    * occurrences carry the same name over the same canonicalized subtree.
    * Metrics (rows that were in over-cap buckets + max bucket size) are
    * logged by [[capWarning]] after the first action — caps are never
    * silent. */
  private def capBuckets(buckets: DataFrame, cap: Int,
      metricName: String): DataFrame =
    buckets.withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("bucket")))
      .observe(metricName,
        sum(when(col("__bucket_n") > cap, lit(1L)).otherwise(lit(0L)))
          .as("rows_in_dropped_buckets"),
        max(col("__bucket_n")).as("max_bucket_size"))
      .filter(col("__bucket_n") <= cap).drop("__bucket_n")

  /** The bucket-cap warning a capped operator passes to
    * [[CacheRelease.afterFirstAction]]: after the first completed action on
    * its result, log the [[capBuckets]] metric if any bucket was dropped. */
  private def capWarning(metricName: String, cap: Int): QueryExecution => Unit =
    qe => qe.observedMetrics.get(metricName).foreach { m =>
      val dropped = Option(m.get(0)).fold(0L)(_.toString.toLong)
      val maxB = Option(m.get(1)).fold(0L)(_.toString.toLong)
      if (dropped > 0)
        log.warn(s"[graft] $metricName: dropped $dropped bucket-rows in " +
          s"buckets over cap=$cap (max bucket size seen: $maxB); " +
          "near-duplicates confined to dropped buckets are not candidates")
    }

  /** Pick rowsPerBand for a target jaccard threshold: the LSH S-curve's
    * steepest point sits near (1/b)^(1/r) with b = numHashes/r bands, so we
    * choose the divisor r of numHashes whose midpoint is closest to the
    * threshold. Lower thresholds → fewer rows per band (more, shorter
    * bands → more candidate generosity); higher thresholds → longer bands.
    * Driver-side arithmetic only. */
  def tuneRowsPerBand(numHashes: Int, threshold: Double): Int = {
    require(numHashes > 0 && threshold > 0 && threshold < 1, "0 < threshold < 1")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.minBy { r =>
      val b = numHashes.toDouble / r
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** True iff no operator in `df`'s analyzed plan carries a nondeterministic
    * expression (rand(), monotonically_increasing_id, nondeterministic UDF).
    * A mutating external source is invisible here — this guards only against
    * nondeterminism expressed in the plan itself. */
  private[graft] def planIsDeterministic(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case p if p.expressions.exists(e => e.exists(!_.deterministic)) => p
    }.isEmpty

  /** Candidate near-duplicate pairs via MinHash + LSH, verified with exact
    * Jaccard over shingle-hash sets. Returns (idA, idB, jaccard), idA < idB.
    *
    * LAZY: nothing executes until the caller acts on the result. The shingle
    * intermediate is consumed three times (signature/bucket branch + both
    * sides of the verification attach), and each consumer recomputes
    * text→shingle→hash from the source scan. Three scans sound wasteful,
    * but the scan is a pruned columnar read and the shingle pipeline is
    * cheap codegen, while caching a corpus-sized array column pays a
    * columnar cache encode + storage-memory pressure + eviction churn at
    * scale — measured 1.3s encode vs 3×0.2s recompute at sf0.1, and at
    * 100 TB the cache write/read IO matches the re-scan IO it saves.
    *
    * The one exception is a plan carrying a nondeterministic EXPRESSION
    * (rand()-derived columns, nondeterministic UDFs): recomputed, the
    * three consumers would bucket signatures against one snapshot but
    * verify shingles against another, so such a plan is detected and its
    * shingles persisted MEMORY_AND_DISK (with a log line), released after
    * the first completed action ([[CacheRelease.afterFirstAction]]). A
    * mutating external source can't be seen from the plan and remains the
    * caller's responsibility. The pinned snapshot covers only that first
    * action — a second action recomputes the nondeterministic lineage
    * unpinned; callers needing several actions over such an input should
    * persist/collect the result once themselves.
    * Buckets above `maxBucketSize` are dropped-and-logged ([[capBuckets]]). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // hashes materialized once per consumer; signature derives from the
    // hash column
    val withHashes0 = shingleSets(df, idCol, textCol, shingleSize)
    // recompute is only sound when re-executing the lineage yields the same
    // rows; a plan with a nondeterministic expression (rand(), monotonically
    // _increasing_id, nondeterministic UDF) would hand each of the three
    // consumers a different snapshot, so force the persist path for those
    val inputDeterministic = planIsDeterministic(df)
    if (!inputDeterministic)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft_lsh_minhash: input plan has nondeterministic expressions; " +
          "persisting shingles to pin one snapshot across consumers")
    val withHashes =
      if (inputDeterministic) withHashes0
      else withHashes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withSig = withHashes.select(col("id"),
      minhashSignatureFromHashes(col("shingle_set"), numHashes, seed).as("sig"))

    // candidate generation carries IDs ONLY (16 bytes/pair through the
    // bucket self-join); shingle sets attach after pair-dedup, bounding
    // shuffle volume by distinct candidates, not bucket-collision count
    val buckets = withSig
      .select(col("id"), explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bucket"))
    val capped = capBuckets(buckets, maxBucketSize, "graft_lsh_minhash")
    val candidates = capped.select(col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val sets = withHashes
    val verified = candidates
      .join(sets.select(col("id").as("id_a"), col("shingle_set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingle_set").as("set_b")), Seq("id_b"))
      .withColumn("jaccard",
        // one merge pass over the sorted shingle sets — the composable
        // array_intersect/array_union form builds two hash structures per
        // candidate pair (unsorted input auto-falls back, stays exact)
        graft.functions.SortedJaccardExpr(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

    CacheRelease.afterFirstAction(verified,
      if (inputDeterministic) Nil else Seq(withHashes),
      capWarning("graft_lsh_minhash", maxBucketSize))
  }

  /** Greedy dedup from a pair list: drop every id that pairs with a smaller
    * surviving id (single pass; standard LSH-dedup policy — see
    * [[connectedComponents]] for the transitive-closure-correct variant). */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val toDrop = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(toDrop, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicates]] upgraded to the curation decision real
    * pipelines make (the d21/exactKeepBest convention, transposed to
    * NEAR-dup clusters): within each [[connectedComponents]] cluster,
    * keep the member with the HIGHEST `scoreCol` (ties to the smallest
    * id) instead of blindly the smallest id — when a boilerplate-ridden
    * scrape and a clean mirror near-duplicate each other, the cleaner
    * copy should survive. Docs in no pair survive untouched. One CC
    * pass (pair-list-sized, not corpus-sized) + two component-grain
    * aggregates + one semi-join back to the corpus; the corpus text
    * never rides a shuffle (the member frame is pruned to
    * (comp, id, score)). The argmax is ARITHMETIC-FREE — max score per
    * component, then min id among the ties — so idCol may be any
    * orderable type (a string id under the old `id * -1` trick cast to
    * null, making the tie-break silently nondeterministic). A paired
    * doc with a NULL score is refused loudly: null can neither win nor
    * lose an ordering deterministically. Ties beyond (score, id)
    * cannot occur — id is unique. */
  def dropNearDuplicatesKeepBest(df: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
      .select(col("id").as(idCol), col("comp"))
    // the guard references comp (the join's other side) so Catalyst
    // cannot push it below the join — an UNPAIRED null-score doc never
    // enters the argmax and must not trip it
    val member = df.join(comps, Seq(idCol))
      .select(col("comp"), col(idCol),
        when(col("comp").isNotNull && col(scoreCol).isNull,
          raise_error(concat(
            lit("dropNearDuplicatesKeepBest: null score for paired doc "),
            col(idCol).cast("string"))))
          .otherwise(col(scoreCol)).as("__s"))
    val winners = member.groupBy(col("comp"))
      .agg(max(col("__s")).as("__smax"))
      .join(member, Seq("comp"))
      .filter(col("__s") === col("__smax"))
      .groupBy(col("comp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val unpaired = df.join(comps, Seq(idCol), "left_anti")
    unpaired.unionByName(df.join(winners, Seq(idCol), "left_semi"))
  }

  /** Connected components over an undirected pair list — the
    * transitive-closure-correct grouping for near-duplicate clusters (a~b
    * and b~c put a,c in one cluster even when a,c themselves don't pair).
    * Returns (id, comp) where comp = the minimum node id in the component,
    * for every node that appears in at least one pair.
    *
    * Algorithm: min-label propagation with per-round path compression
    * (comp := comp(comp)) — the pointer-jumping step makes convergence
    * O(log diameter) rounds rather than O(diameter), the property that
    * matters when a 100 TB corpus chains long near-dup runs. Every round
    * cuts ([[Generations.cut]]: persist, one action, LogicalRDD barrier):
    * the round's self-join references its input twice, so WITHOUT the
    * barrier the logical plan doubles every round (exponential
    * analysis/codegen cost); with it each round's plan is O(1) and the
    * persisted RDD bounds recompute. The previous round's cache is
    * released only after the next one is materialized. */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val gens = new Generations(Seq(edges))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node takes the min label among itself and its neighbors
      val prop = edges.join(labels.select(col("id").as("src"), col("comp")), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("nbr"))
      val stepped = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          col("comp").as("__old"))
      // path compression: follow the label one hop (labels are node ids, so
      // the inner self-join is total); the round's one action counts the
      // labels that changed against `__old`, the label before the round
      val (next, changed) = gens.cut(stepped
        .join(stepped.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"))
        .select(col("id"), col("comp2").as("comp"), col("__old")),
        _.filter(col("comp") =!= col("__old")).count())
      labels = next.select("id", "comp")
      converged = changed == 0
      iter += 1
    }
    if (!converged) gens.release()
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // the final round's cache backs the returned frame; release it (and the
    // edges) after the caller's first action
    gens.releaseAfterFirstAction(labels)
  }

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash over word-level shingle hashes: bit i of the result is
    * the sign of sum over tokens of (bit i set ? +1 : -1). Composable
    * higher-order expressions (zip_with/aggregate) — no UDF, but NOTE:
    * Catalyst HOFs are interpreted (no whole-stage codegen), so this
    * formulation is the parity REFERENCE, not the hot path — production
    * callers get the fused [[graft.functions.SimHash64Expr]] kernel via
    * [[simhash64]]. */
  /** Per-bit vote counts over the token hashes (array<int> of length 64). */
  def simhashCounts(hashes: Column): Column = {
    // bit positions are static Scala ints so shifts stay compile-time
    val perHashBits = transform(hashes, h =>
      array((0 until 64).map(i =>
        when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1)): _*))
    aggregate(
      perHashBits,
      array_repeat(lit(0), 64),
      (acc, bits) => zip_with(acc, bits, (a, b) => a + b))
  }

  /** Fold the vote counts into the 64-bit hash. `counts` should be a
    * materialized column — it is referenced 64 times. */
  def simhashFromCounts(counts: Column): Column =
    (0 until 64).map { i =>
      when(element_at(counts, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Column: 64-bit SimHash of a text column, via the fused kernel
    * ([[graft.functions.SimHash64Expr]] — one pass over the window hashes,
    * no per-shingle bit-array allocation). Comparable with [[simhashPairs]]
    * output. The HOF formulation above ([[simhashCounts]] +
    * [[simhashFromCounts]]) remains as the composable reference for callers
    * bringing their own hash column; its string-shingle hashes differ from
    * the kernel's word-hash chain, so the two forms' BITS are not
    * comparable across formulations. */
  def simhash64(text: Column, shingleSize: Int = 2): Column =
    graft.functions.SimHash64Expr(TextFunctions.words(text), shingleSize)

  /** Near-dup pairs by SimHash: LSH on the 4 16-bit chunks (a pair within
    * Hamming distance <= 3 of a 64-bit hash must agree on at least one of 4
    * chunks — pigeonhole), verified with exact bit_count(xor). Buckets over
    * `maxBucketSize` are dropped-and-logged (see [[capBuckets]]); lazy. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      shingleSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val withSig = df
      .select(col(idCol).as("id"), TextFunctions.words(col(textCol)).as("__words"))
      .select(col("id"),
        graft.functions.SimHash64Expr(col("__words"), shingleSize).as("sim"))
    hashPairs64(withSig, "id", "sim", maxHamming, maxBucketSize,
      "graft_lsh_simhash")
  }

  /** Near-dup pairs over ANY 64-bit signature column — the 4×16-bit
    * pigeonhole band join behind [[simhashPairs]], exposed for other
    * 64-bit perceptual/structural signatures (image dHash, audio
    * gradient fingerprints, rolling-hash sketches): a pair within
    * Hamming distance ≤ 3 must agree on at least one of the 4 chunks, so
    * the equi-join on chunk keys is LOSSLESS for `maxHamming ≤ 3` (the
    * m14 gate proves it against the brute-force pair set) and never
    * compares all-pairs. Larger bounds remain valid BEST-EFFORT
    * candidate generation — pairs must still collide on a chunk, so
    * pairs differing in every chunk are (correctly, by the LSH
    * trade-off) never compared; recall beyond the pigeonhole bound is
    * data-dependent — the historical simhash contract. Buckets over
    * `maxBucketSize` drop-and-log (the shared LSH cap/metric contract).
    * Returns (id_a < id_b, hamming). */
  def hashPairs64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize,
      metricName: String = "graft_lsh_hash64"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming must be in [0, 64], got $maxHamming")
    val withSig = df.select(col(idCol).as("id"), col(hashCol).as("sim"))
    // long bucket key: (chunk index << 16) | chunk value — the mask keeps
    // the arithmetic-shift sign extension out of the high chunk
    val chunked = withSig.select(col("id"), col("sim"),
      explode(array((0 until 4).map { c =>
        lit(c.toLong << 16) + shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL)
      }: _*)).as("bucket"))
    val capped = capBuckets(chunked, maxBucketSize, metricName)
    val pairs = capped.select(col("bucket"), col("id").as("id_a"), col("sim").as("sim_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b"), col("sim").as("sim_b")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    CacheRelease.afterFirstAction(pairs, Nil,
      capWarning(metricName, maxBucketSize))
  }

  // --------------------------------------------------- embedding near-dup

  /** Near-duplicate pairs over an embedding column via random-hyperplane
    * LSH (seeded) + exact cosine verification. `vecCol` is array<float>.
    * Buckets over `maxBucketSize` (e.g. the all-zeros bucket a real corpus
    * always has) are dropped-and-logged; lazy. */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numPlanes: Int = 16,
      threshold: Double = 0.95,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sketch = Ann.hyperplaneSketch(col(vecCol), dim, numPlanes, seed)
    val withB = df.select(col(idCol).as("id"), col(vecCol).as("vec"), sketch.as("bucket"))
    val capped = capBuckets(withB, maxBucketSize, "graft_lsh_embedding")
    val pairs = capped.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Ann.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    CacheRelease.afterFirstAction(pairs, Nil,
      capWarning("graft_lsh_embedding", maxBucketSize))
  }

  // ------------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al., arXiv:2303.09540): k-means-cluster the
    * embedding space, then prune semantic near-duplicates WITHIN each
    * cluster only — the cluster partitioning is what makes semantic dedup
    * tractable at corpus scale (pair cost is Σ|cluster|² instead of n²,
    * and clusters are the natural unit of distribution: one shuffle by
    * `gr_cluster` co-locates every candidate pair).
    *
    * Takes a built [[Ann.IvfIndex]] (its k-means assignment IS the
    * clustering — one machinery for serving and curation). Drop rule,
    * chosen for determinism and replayability: row `x` is dropped iff some
    * row `y` in the same cluster has `y.id < x.id` and
    * `cosine(x, y) ≥ eps`; the smallest such `y` is recorded as the
    * representative. The rule is non-recursive (a dropped `y` still
    * disqualifies `x`), so the result is a pure function of the pair set —
    * no union-find iteration — at the cost of occasionally dropping a row
    * whose only near-neighbors were themselves dropped (the conservative
    * direction for training-data curation: semantically redundant text).
    *
    * Returns (id, gr_cluster, kept, rep_id) for every input row. Clusters
    * over `maxClusterSize` are dropped-and-logged like every LSH family
    * cap ([[capBuckets]]); at 100 TB, cap pressure means nlist is too
    * small for the corpus — rebuild with more clusters rather than raising
    * the cap (SemDeDup's own recipe scales nlist with corpus size). */
  def semDedup(
      index: graft.operators.Ann.IvfIndex,
      idCol: String,
      eps: Double = 0.95,
      maxClusterSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(index.assignTop == 1,
      "semDedup needs a single-assignment index (assignTop = 1): soft " +
        "copies would emit several verdicts per id and double-count pairs")
    val rows = index.clustered.select(col(idCol).as("id"),
      col(index.vecCol).as("vec"), col("gr_cluster").as("bucket"))
    val capped = capBuckets(rows, maxClusterSize, "graft_semdedup")
    val reps = capped
      .select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
      .join(capped.select(col("bucket"), col("id").as("id_a"),
        col("vec").as("vec_a")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Ann.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= eps)
      .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("rep_id"))
    val out = rows.select(col("id"), col("bucket").as("gr_cluster"))
      .join(reps, Seq("id"), "left")
      .select(col("id"), col("gr_cluster"),
        col("rep_id").isNull.as("kept"), col("rep_id"))
    CacheRelease.afterFirstAction(out, Nil,
      capWarning("graft_semdedup", maxClusterSize))
  }

  /** Incremental [[semDedup]]: verdicts for an APPENDED batch without
    * re-running the full corpus — the semantic-dedup analog of the
    * minhash incremental index (`d11`) and the IVF append path (`a3b`).
    *
    * New vectors are clustered with the index's FROZEN centroids (the
    * exact [[Ann.ivfAppend]] assignment kernel, same tie-break), and only
    * the clusters the batch TOUCHES are read back — on the persisted
    * `partitionBy(gr_cluster)` layout that is a partition-pruned scan, so
    * batch cost scales with batch size × cluster width, not corpus size.
    * Within a touched cluster the batch row competes against EVERY
    * resident row (kept or dropped — [[semDedup]]'s rule is
    * non-recursive, so a dropped resident still disqualifies) and against
    * earlier-id rows of its own batch.
    *
    * Returned verdicts for the batch EQUAL the batch rows' verdicts under
    * a full [[semDedup]] re-run over (corpus ∪ batch) with the same
    * centroids — the `d19` gate proves it against the brute-force oracle.
    * Verdicts PREVIOUSLY issued for resident rows stay valid only when
    * every batch id sorts after every resident id (append-only id
    * discipline); `requireMonotonicIds` (default on) enforces that with
    * one aggregation over the touched clusters and refuses loudly,
    * because the alternative is silently stale keep-lists.
    *
    * Returns (id, gr_cluster, kept, rep_id) for batch rows only. */
  def semDedupAppend(
      index: graft.operators.Ann.IvfIndex,
      newRows: DataFrame,
      idCol: String,
      eps: Double = 0.95,
      maxClusterSize: Int = DefaultMaxBucketSize,
      requireMonotonicIds: Boolean = true): DataFrame = {
    require(index.assignTop == 1,
      "semDedupAppend needs a single-assignment index (assignTop = 1)")
    val batch = graft.operators.Ann.assignClusters(
        newRows.select(col(idCol), col(index.vecCol)),
        index.centroids, index.vecCol)
      .select(col(idCol).as("id"), col(index.vecCol).as("vec"),
        col("gr_cluster").as("bucket"), lit(true).as("__new"))
      .persist()
    // touched cluster ids: bounded by nlist, the one driver-side collect
    // that buys partition pruning on the resident scan
    val touched = batch.select("bucket").distinct()
      .collect().map(_.get(0)).toSeq
    val resident = index.clustered
      .filter(col("gr_cluster").isInCollection(touched))
      .select(col(idCol).as("id"), col(index.vecCol).as("vec"),
        col("gr_cluster").as("bucket"), lit(false).as("__new"))
    if (requireMonotonicIds) {
      // engine-side comparison: id ordering stays whatever the id TYPE's
      // ordering is (long, string, ...), matching the drop rule's `<`
      val row = resident.agg(max(col("id")).as("mx"))
        .crossJoin(batch.agg(min(col("id")).as("mn")))
        .select(coalesce(col("mn") > col("mx"), lit(true)).as("ok"),
          col("mn"), col("mx")).head()
      require(row.getBoolean(0),
        s"batch min id ${row.get(1)} does not sort after resident max id " +
          s"${row.get(2)} in the touched clusters — earlier semDedup " +
          "verdicts for resident rows would be silently stale. Re-id the " +
          "batch append-only, or pass requireMonotonicIds = false if no " +
          "old keep-list is held.")
    }
    val all = resident.unionByName(batch)
    val capped = capBuckets(all, maxClusterSize, "graft_semdedup_append")
    val reps = capped
      .select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
      .join(capped.filter(col("__new"))
        .select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Ann.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= eps)
      .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("rep_id"))
    val out = batch.select(col("id"), col("bucket").as("gr_cluster"))
      .join(reps, Seq("id"), "left")
      .select(col("id"), col("gr_cluster"),
        col("rep_id").isNull.as("kept"), col("rep_id"))
    CacheRelease.afterFirstAction(out, Seq(batch),
      capWarning("graft_semdedup_append", maxClusterSize))
  }

  /** Persist-ready minhash index of a corpus: (id, shingle_set, sig).
    * Write it once with [[minhashIndexBuildAndWrite]] and every later ingest
    * matches against it with [[minhashPairsAgainst]] — the corpus text is
    * never re-read or re-shingled. Rebuild only when the hash parameters
    * change; append new batches' index rows after ingest to keep it
    * current. */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L): DataFrame =
    shingleSets(df, idCol, textCol, shingleSize)
      .select(col("id"), col("shingle_set"),
        minhashSignatureFromHashes(col("shingle_set"), numHashes, seed).as("sig"))

  // ---------------------------------------------- persisted minhash index

  /** The hash parameters a minhash index was built with. `numHashes` is
    * recoverable from a stored signature's length, but `shingleSize` and
    * `seed` are NOT recoverable from the data — matching with mismatched
    * values surfaces only as silently low recall, the worst failure mode
    * there is. [[minhashIndexBuildAndWrite]] persists all three in a
    * `_graft_minhash_params.json` sidecar inside the index directory
    * (underscore prefix: parquet scans ignore it) and
    * [[minhashIndexRead]] restores them, so matching through the
    * [[MinhashIndex]] handle cannot mismatch. */
  final case class MinhashParams(shingleSize: Int, numHashes: Int, seed: Long) {
    /** Loud per-parameter check against caller-requested values. */
    def requireMatches(shingleSize: Int, numHashes: Int, seed: Long): Unit = {
      def die(name: String, stored: Any, requested: Any) = require(false,
        s"minhash index was built with $name=$stored but the call requests " +
          s"$name=$requested — a mismatch surfaces as silently low recall; " +
          "rebuild the index or use the stored parameters")
      if (this.shingleSize != shingleSize) die("shingleSize", this.shingleSize, shingleSize)
      if (this.numHashes != numHashes) die("numHashes", this.numHashes, numHashes)
      if (this.seed != seed) die("seed", this.seed, seed)
    }
  }

  /** A persisted minhash index restored by [[minhashIndexRead]]: the index
    * rows plus the sidecar parameters. Matching through this handle reuses
    * the stored parameters, so no mismatch is possible and no validation
    * probe job runs. */
  final case class MinhashIndex(data: DataFrame, params: MinhashParams) {
    /** [[Dedup.minhashPairsAgainst]] with the index's own parameters. */
    def pairsAgainst(
        newDocs: DataFrame,
        idCol: String,
        textCol: String,
        rowsPerBand: Int = 4,
        threshold: Double = 0.7,
        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
      minhashPairsAgainstImpl(newDocs, idCol, textCol, data,
        params.shingleSize, params.numHashes, rowsPerBand, threshold,
        params.seed, maxBucketSize, validateSigLen = false)

    /** [[Dedup.dropNearDuplicatesAgainst]] with the index's own parameters. */
    def dropNearDuplicates(
        newDocs: DataFrame,
        idCol: String,
        textCol: String,
        rowsPerBand: Int = 4,
        threshold: Double = 0.7,
        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
      val dupIds = pairsAgainst(newDocs, idCol, textCol, rowsPerBand, threshold, maxBucketSize)
        .select(col("id_a").as(idCol)).distinct()
      newDocs.join(dupIds, Seq(idCol), "left_anti")
    }

    /** Index rows for a batch of new docs, built with the stored
      * parameters — the rows to append after an ingest admits them. */
    def rowsFor(newDocs: DataFrame, idCol: String, textCol: String): DataFrame =
      minhashIndex(newDocs, idCol, textCol,
        params.shingleSize, params.numHashes, params.seed)
  }

  /** Sidecar file carrying [[MinhashParams]] inside an index directory. */
  val MinhashParamsSidecar = "_graft_minhash_params.json"

  /** Read the parameter sidecar of an index directory, None when absent. */
  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[MinhashParams] = {
    val sidecar = new org.apache.hadoop.fs.Path(path, MinhashParamsSidecar)
    if (!fs.exists(sidecar)) None
    else {
      val node = JsonFile.read(fs, sidecar)
      Seq("shingleSize", "numHashes", "seed").foreach(f =>
        require(node.hasNonNull(f), s"$MinhashParamsSidecar at $path lacks field '$f'"))
      Some(MinhashParams(
        node.get("shingleSize").asInt, node.get("numHashes").asInt,
        node.get("seed").asLong))
    }
  }

  private def writeIndexWithSidecar(index: DataFrame, path: String,
      params: MinhashParams, mode: String): Unit = {
    val required = Seq("id", "shingle_set", "sig")
    require(required.forall(index.columns.contains),
      s"index must carry ${required.mkString(", ")} (from minhashIndex); " +
        s"got ${index.columns.mkString(", ")}")
    val spark = index.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.core.Discovery.fileSystemFor(path, conf)
    // Appending onto an existing sidecar-carrying index: the new rows'
    // parameters must equal the stored ones, or the directory becomes a
    // mixed-parameter index that the (rewritten) sidecar misdescribes.
    if (mode == "append")
      readSidecar(fs, path).foreach(
        _.requireMatches(params.shingleSize, params.numHashes, params.seed))
    index.write.mode(mode).parquet(path)
    JsonFile.write(fs, new org.apache.hadoop.fs.Path(path, MinhashParamsSidecar),
      "shingleSize" -> params.shingleSize, "numHashes" -> params.numHashes,
      "seed" -> params.seed)
  }

  /** Build a corpus's minhash index AND persist it (parquet + parameter
    * sidecar) in one call. The sidecar values are by construction the
    * values the index rows were hashed with — there is no way to write a
    * wrong sidecar through this API, which is why it is THE recommended
    * persistence path. Returns the [[MinhashIndex]] handle over the
    * just-written files (matching reads the persisted parquet, not the
    * build lineage, so the corpus text is read exactly once — here).
    * `mode="append"` requires the stored sidecar's parameters to match. */
  def minhashIndexBuildAndWrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L,
      mode: String = "overwrite"): MinhashIndex = {
    val params = MinhashParams(shingleSize, numHashes, seed)
    writeIndexWithSidecar(
      minhashIndex(df, idCol, textCol, shingleSize, numHashes, seed),
      path, params, mode)
    MinhashIndex(df.sparkSession.read.parquet(path), params)
  }

  /** Restore a persisted minhash index and its parameters. Fails loudly
    * when the sidecar is missing (an index persisted some other way has
    * unrecoverable shingleSize/seed — rewrite it with
    * [[minhashIndexBuildAndWrite]]). `expect` cross-checks caller-
    * remembered parameters against the stored ones, failing per-parameter. */
  def minhashIndexRead(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      expect: Option[MinhashParams] = None): MinhashIndex = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.core.Discovery.fileSystemFor(path, conf)
    val params = readSidecar(fs, path).getOrElse(throw new IllegalArgumentException(
      s"no $MinhashParamsSidecar sidecar at $path — not a graft minhash index " +
        "(persist with minhashIndexBuildAndWrite so shingleSize/seed survive)"))
    expect.foreach(e => params.requireMatches(e.shingleSize, e.numHashes, e.seed))
    MinhashIndex(spark.read.parquet(path), params)
  }

  // --------------------------------------- replay-idempotent tagged append

  /** Delete whatever a previous [[minhashIndexTaggedAppend]] attempt under
    * `tag` left in the index — all of its part files, some of them (a crash
    * can stop mid-rename), or just the staging directory. Call this BEFORE
    * re-reading the index on a replay of the same logical append, so the
    * replayed decision pass never sees the failed attempt's own rows
    * ([[graft.streaming.Streams.minhashIngestGate]] does exactly that);
    * an id-based anti-join could not distinguish them from a legitimate
    * earlier ingest of the same id. Idempotent; returns the number of
    * committed part files removed. */
  def minhashIndexAbortTaggedAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      tag: String): Int =
    graft.core.TaggedAppend.abort(
      graft.core.Discovery.fileSystemFor(path, spark.sessionState.newHadoopConf()),
      path, tag)

  /** Append `newDocs`' index rows to a persisted index such that a REPLAY
    * of the same logical append (same `tag`) cannot duplicate rows — the
    * staged-rename protocol of [[graft.core.TaggedAppend]]. A crash at ANY
    * point followed by [[minhashIndexAbortTaggedAppend]] + retry (or just
    * a retry, which aborts internally) converges to exactly one copy of
    * the batch's rows; plain `mode("append")` cannot offer this
    * ([[graft.streaming.Streams.minhashIngestGate]] is the consumer this
    * exists for). Parameters come from the open [[MinhashIndex]] handle
    * (sidecar-backed), so no mismatch is possible and the sidecar is not
    * rewritten. Single writer per (index, tag) assumed. Returns the number
    * of part files committed. */
  def minhashIndexTaggedAppend(
      index: MinhashIndex,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      tag: String): Int = {
    val spark = newDocs.sparkSession
    val fs = graft.core.Discovery.fileSystemFor(path, spark.sessionState.newHadoopConf())
    require(fs.exists(new org.apache.hadoop.fs.Path(path, MinhashParamsSidecar)),
      s"no $MinhashParamsSidecar at $path — tagged append targets an index " +
        "persisted with minhashIndexBuildAndWrite")
    graft.core.TaggedAppend.append(
      index.rowsFor(newDocs, idCol, textCol), path, tag)
  }

  /** Incremental near-duplicate detection: a NEW batch against an EXISTING
    * corpus index (the ingest shape — daily batches must not re-process
    * the 100 TB corpus). Returns (id_a, id_b, jaccard): id_a from the new
    * batch, id_b from the index, exact-jaccard-verified at `threshold`.
    *
    * The index side only pays its band-key explosion and the bucket join;
    * its text was shingled once, at index-build time. A small new batch
    * broadcasts into the bucket join under AQE sizing, making the whole
    * match map-side over the index scan. Bucket capping applies to the
    * index side (where the mega-buckets live), same policy and observed
    * metric as [[minhashPairs]].
    *
    * The index MUST have been built with the same shingleSize/numHashes/
    * seed — this raw-DataFrame variant verifies numHashes against the
    * stored signature length (an EAGER one-row probe job at call time;
    * null-sig rows from null-text docs are skipped), but shingleSize and
    * seed cannot be recovered from the data, so mismatches there surface
    * as silently low recall. Prefer the persisted-index path —
    * [[minhashIndexBuildAndWrite]] / [[minhashIndexRead]] then
    * [[MinhashIndex.pairsAgainst]] — which carries all three parameters
    * in a sidecar and needs no probe. */
  def minhashPairsAgainst(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    minhashPairsAgainstImpl(newDocs, idCol, textCol, index, shingleSize,
      numHashes, rowsPerBand, threshold, seed, maxBucketSize, validateSigLen = true)

  private def minhashPairsAgainstImpl(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      shingleSize: Int,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      seed: Long,
      maxBucketSize: Int,
      validateSigLen: Boolean): DataFrame = {
    val required = Seq("id", "shingle_set", "sig")
    require(required.forall(index.columns.contains),
      s"index must carry ${required.mkString(", ")} (from minhashIndex); " +
        s"got ${index.columns.mkString(", ")}")
    if (validateSigLen) {
      // An empty probe = empty index = the bootstrap ingest (nothing to
      // match): the main path then yields zero pairs naturally, and
      // dropNearDuplicatesAgainst keeps every doc.
      val sigLen0 = index.filter(col("sig").isNotNull).select(size(col("sig"))).head(1)
      sigLen0.headOption.foreach { r =>
        require(r.getInt(0) == numHashes,
          s"index signatures carry ${r.getInt(0)} hashes but numHashes=$numHashes — " +
            "rebuild the index or pass the parameters it was built with")
      }
    }
    val newIdx0 = minhashIndex(newDocs, idCol, textCol, shingleSize, numHashes, seed)
    // same nondeterministic-input hazard as minhashPairs: the new batch's
    // lineage feeds the band explode AND the verification join (and the
    // caller's anti-join) — divergent snapshots would pair wrong rows
    val newIdx =
      if (planIsDeterministic(newDocs)) newIdx0
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "graft_lsh_incremental: new-batch plan has nondeterministic " +
            "expressions; persisting its index to pin one snapshot")
        newIdx0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val newBuckets = newIdx
      .select(col("id"), explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bucket"))
    val idxBuckets = index
      .select(col("id"), explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bucket"))
    val cappedIdx = capBuckets(idxBuckets, maxBucketSize, "graft_lsh_incremental")
    val candidates = newBuckets.select(col("bucket"), col("id").as("id_a"))
      .join(cappedIdx.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val verified = candidates
      .join(newIdx.select(col("id").as("id_a"), col("shingle_set").as("set_a")), Seq("id_a"))
      .join(index.select(col("id").as("id_b"), col("shingle_set").as("set_b")), Seq("id_b"))
      .withColumn("jaccard",
        // one merge pass over the sorted shingle sets — the composable
        // array_intersect/array_union form builds two hash structures per
        // candidate pair (unsorted input auto-falls back, stays exact)
        graft.functions.SortedJaccardExpr(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    CacheRelease.afterFirstAction(verified,
      if (planIsDeterministic(newDocs)) Nil else Seq(newIdx),
      capWarning("graft_lsh_incremental", maxBucketSize))
  }

  /** The ingest gate built on [[minhashPairsAgainst]]: keep only new-batch
    * docs that near-match NOTHING in the corpus index. One anti-join over
    * the verified pairs; the typical daily-ingest call is
    * `dropNearDuplicatesAgainst(batch, ...)` then append the survivors'
    * [[minhashIndex]] rows to the index. */
  def dropNearDuplicatesAgainst(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val dupIds = minhashPairsAgainst(newDocs, idCol, textCol, index,
        shingleSize, numHashes, rowsPerBand, threshold, seed, maxBucketSize)
      .select(col("id_a").as(idCol)).distinct()
    newDocs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Substring-level duplication signal (the span-dedup modality of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): for each doc, how many of its distinct n-token spans also
    * appear in at least `minDocs - 1` OTHER docs. Docs with a high
    * `share_ratio` are boilerplate-heavy (licenses, navigation chrome,
    * templated text) even when no whole-document near-dup exists —
    * exactly what MinHash at document granularity cannot see.
    *
    * Returns (idCol, n_spans, n_shared, share_ratio); docs shorter than
    * `n` tokens carry no span and are absent (same contract as the
    * oracle's). A span repeated WITHIN one doc counts once
    * (`array_distinct` before the explode).
    *
    * Plan — one pass over the span index, NO full-frame join, bounded
    * state on every key. The frequent spans are PRECISELY the target of
    * the analysis (boilerplate, licenses), so hot keys are guaranteed;
    * a count-over-window on the span key would funnel every occurrence
    * of a hot span into ONE WindowExec partition that AQE cannot split,
    * and the obvious fix (count per span, join back onto the span rows)
    * re-shuffles the ENTIRE exploded frame a second time and — worse —
    * invites AQE to broadcast the O(distinct spans) count side, which is
    * a driver OOM at scale (observed at a 10× replication of sf0.1).
    * Instead the attribution is inverted:
    *
    *  1. `n_spans` per doc is just `size(spans)` — computed BEFORE the
    *     explode, no aggregation at all.
    *  2. One `groupBy(spanKey)` computes the exact doc-count per span
    *     AND enough doc ids to reconstruct every NON-shared span's
    *     complete doc set: `min`/`max` for `minDocs <= 3` (pure codegen'd
    *     HashAggregate), a [[graft.functions.CappedCollect]] of at most
    *     `minDocs` ids otherwise — either way bounded aggregation state
    *     per key (a span shared by 10M docs still ships O(1) values),
    *     map-side combined.
    *  3. Spans with `count < minDocs` (NOT shared) have, by that very
    *     count, a COMPLETE capped list; exploding those lists and
    *     re-counting by doc id yields each doc's non-shared span count,
    *     and `n_shared = n_spans - n_nonshared`. Shared (hot) spans
    *     never attribute back at all — the skew evaporates instead of
    *     being handled.
    *
    * Every shuffle is a partial-aggregated id-only stream (no span
    * strings cross an exchange except the one groupBy on the span key);
    * the final join is doc-level × doc-level. With `hashSpans=true` the
    * span key itself is `xxhash64(span)` instead of the string — at
    * 100 TB that cuts the one remaining wide exchange several-fold; the
    * 64-bit collision rate is negligible for counting, but the gate
    * keeps exact strings so the oracle stays bit-true.
    *
    * The per-doc span frame feeds BOTH the `n_spans` projection and the
    * span-key aggregate, so it is persisted MEMORY_AND_DISK inside the
    * operator and released after the first completed action
    * ([[CacheRelease.afterFirstAction]]): the corpus is scanned and
    * tokenized exactly once, and both branches see one pinned snapshot (a
    * nondeterministic input lineage cannot diverge between them). */
  def spanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDocs: Int = 2,
      hashSpans: Boolean = false): DataFrame = {
    require(n >= 1, "span length n must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (a span always appears in its own doc)")
    // fused codegen'd kernel, NOT the composable words+transform+array_join
    // form: Catalyst HOFs are interpreted (no codegen) and
    // InferFiltersFromGenerate clones them into a pushed-down interpreted
    // Filter — measured ~25× slower than the kernel on this exact path
    val perDoc = df
      .select(col(idCol),
        graft.functions.WordSpansExpr(col(textCol), n).as("__spans"))
      .withColumn("n_spans", size(col("__spans")).cast("long"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = perDoc
      .select(col(idCol), explode(col("__spans")).as("span"))
      .withColumn("__k", if (hashSpans) xxhash64(col("span")) else col("span"))
    // Rows per (span, doc) are distinct (array_distinct'd per doc), so the
    // count per key is the exact doc frequency. Non-shared spans have
    // count < minDocs, so recovering ALL their doc ids needs at most
    // minDocs-1 values per key. For minDocs <= 3 the min/max order
    // statistics ARE that complete set (nd==1 -> min==max, nd==2 -> both),
    // and min/max/count stay inside whole-stage-codegen'd HashAggregate;
    // larger minDocs falls back to the bounded (but interpreted)
    // capped_collect buffer. Both shapes carry O(1) state per key.
    val nonShared = (if (minDocs <= 3) {
        keyed.groupBy(col("__k")).agg(
            count(lit(1)).as("__nd"),
            min(col(idCol)).as("__d1"), max(col(idCol)).as("__d2"))
          .filter(col("__nd") < minDocs)
          .select(explode(array_distinct(array(col("__d1"), col("__d2"))))
            .as(idCol))
      } else {
        keyed.groupBy(col("__k")).agg(
            count(lit(1)).as("__nd"),
            graft.functions.CappedCollect.cappedCollect(col(idCol), minDocs)
              .as("__docs"))
          .filter(col("__nd") < minDocs)
          .select(explode(col("__docs")).as(idCol))
      })
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n_uniq"))
    // the doc-length exclusion (docs shorter than n carry no span) applies
    // on the doc-level branch only — explode drops empty arrays for free,
    // and filtering perDoc itself would make Catalyst clone the span kernel
    // into a pushed-down predicate, re-evaluating it per row
    val result = perDoc.select(col(idCol), col("n_spans"))
      .filter(col("n_spans") >= 1L)
      .join(nonShared, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        (col("n_spans") - coalesce(col("__n_uniq"), lit(0L))).as("n_shared"))
      .withColumn("share_ratio",
        col("n_shared").cast("double") / col("n_spans"))
    CacheRelease.afterFirstAction(result, Seq(perDoc))
  }

  /** Corpus-level boilerplate removal — the REWRITE counterpart of
    * [[spanStats]] (which only measures): partition each document into
    * disjoint `n`-word chunks, drop every chunk whose exact text occurs in
    * at least `minDocs` distinct documents (licenses, navigation chrome,
    * repeated headers — the cross-document duplicated substrings that
    * exact-substring dedup [Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"] targets, at chunk rather than suffix
    * granularity so it stays one aggregation instead of a suffix array),
    * and reassemble the surviving chunks in document order. Removal hits
    * EVERY occurrence in every document (no keep-one winner — boilerplate
    * is noise, not content), so there is no per-key winner selection and
    * therefore no window over a hot key anywhere in the plan.
    *
    * Returns `(idCol, text_clean, n_chunks, n_removed)` — one row per
    * input document (a document whose every chunk is shared comes back
    * with `text_clean = ""`).
    *
    * Plan, sized for a 100 TB corpus:
    *  1. ONE tokenize pass: the fused [[graft.functions.WordChunksExpr]]
    *     kernel builds the chunk array per row map-side (codegen'd; the
    *     HOF formulation is interpreted — see the kernel's scaladoc).
    *     The per-doc frame feeds both branches below, so it is persisted
    *     MEMORY_AND_DISK inside the operator and released after the first
    *     completed action (same one-snapshot rationale as [[spanStats]]).
    *  2. Shared-chunk discovery: `array_distinct` per doc (map-side, no
    *     shuffle), explode, ONE `groupBy(key).count()` — partial-aggregated,
    *     bounded state per key — then `count >= minDocs`. The surviving
    *     set is small by nature (it IS the boilerplate).
    *  3. A left-anti join of the exploded (id, pos, chunk) stream against
    *     that set. AQE broadcasts the shared side when it fits (the common
    *     case); when it doesn't, both sides hash-partition on the key and
    *     a hot boilerplate chunk is still skew-benign — the build side
    *     holds ONE row per key.
    *  4. Doc-level reassembly: `collect_list(struct(pos, chunk))` bounded
    *     by document size, sorted per group, joined back onto the per-doc
    *     chunk counts (doc-level × doc-level).
    *
    * `hashKeys=true` runs steps 2-3 on `xxhash64(chunk)` instead of the
    * chunk string — at 100 TB that shrinks the count shuffle and the
    * anti-join build side several-fold; a 64-bit collision falsely
    * removing a chunk is negligible (and the gate keeps exact strings so
    * the oracle stays bit-true — `d12b` pins that both configurations
    * produce identical output). */
  def stripSharedChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50,
      minDocs: Int = 2,
      hashKeys: Boolean = false): DataFrame = {
    require(n >= 1, "chunk length n must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (a chunk always occurs in its own doc)")
    val perDoc = df
      .select(col(idCol),
        graft.functions.WordChunksExpr(col(textCol), n).as("__chunks"))
      .withColumn("n_chunks", size(col("__chunks")).cast("long"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def key(c: Column): Column = if (hashKeys) xxhash64(c) else c
    val shared = perDoc
      .select(explode(array_distinct(col("__chunks"))).as("__c"))
      .groupBy(key(col("__c")).as("__k"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__k"))
    val kept = perDoc
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("__pos", "__c")))
      .join(shared, key(col("__c")) === shared("__k"), "left_anti")
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__c")))),
            x => x.getField("__c")),
          " ").as("text_clean"))
    val result = perDoc.select(col(idCol), col("n_chunks"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
    CacheRelease.afterFirstAction(result, Seq(perDoc))
  }

  /** Keep-FIRST exact chunk dedup — the C4/line-dedup semantic
    * ([Raffel et al. 2020, "Exploring the Limits of Transfer Learning"]
    * §2.2 deduplicates three-sentence spans this way): a chunk occurring
    * in several documents survives only in its canonical owner (the
    * minimum id) and is stripped from every later document, so exactly
    * one copy of each duplicated passage remains in the corpus. The
    * REMOVAL counterpart of [[stripSharedChunks]], which treats shared
    * chunks as boilerplate and deletes all copies; here shared chunks are
    * CONTENT and one copy must survive.
    *
    * Returns `(idCol, text_clean, n_chunks, n_removed)` — one row per
    * input document; the owner keeps its chunks (`n_removed` counts only
    * losses to an earlier document).
    *
    * Plan, sized for a 100 TB corpus (steps 1, 2 and 4 are
    * [[stripSharedChunks]]'s, documented there):
    *  3'. Ownership discovery needs `min(id)` per duplicated chunk — one
    *      `groupBy(key).agg(count, min)` over per-doc-distinct chunks,
    *      same bounded-state shuffle as the boilerplate count. The
    *      surviving `(key, owner)` set holds only chunks that ARE
    *      duplicated (nd >= 2) — at trillion-chunk scale the build side
    *      is the duplicate vocabulary, not the corpus. The decision join
    *      is a LEFT join (not anti): a matched row still survives when
    *      `id == owner`, so the filter is `owner IS NULL OR owner = id`.
    *      AQE broadcasts the owner side when it fits; a hot chunk is
    *      skew-benign — ONE build row per key.
    *
    * `hashKeys=true` (the 100 TB path) runs discovery + join on
    * `xxhash64(chunk)` — identical result modulo 64-bit collisions,
    * which at worst strip a chunk from a non-owner (never corrupt text). */
  def keepFirstChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50,
      hashKeys: Boolean = false): DataFrame = {
    require(n >= 1, "chunk length n must be >= 1")
    val perDoc = df
      .select(col(idCol),
        graft.functions.WordChunksExpr(col(textCol), n).as("__chunks"))
      .withColumn("n_chunks", size(col("__chunks")).cast("long"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def key(c: Column): Column = if (hashKeys) xxhash64(c) else c
    val owners = perDoc
      .select(col(idCol).as("__id"), explode(array_distinct(col("__chunks"))).as("__c"))
      .groupBy(key(col("__c")).as("__k"))
      .agg(count(lit(1)).as("__nd"), min(col("__id")).as("__owner"))
      .filter(col("__nd") >= 2)
      .select(col("__k"), col("__owner"))
    val kept = perDoc
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("__pos", "__c")))
      .join(owners, key(col("__c")) === owners("__k"), "left")
      .filter(col("__owner").isNull || col("__owner") === col(idCol))
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__c")))),
            x => x.getField("__c")),
          " ").as("text_clean"))
    val result = perDoc.select(col(idCol), col("n_chunks"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
    CacheRelease.afterFirstAction(result, Seq(perDoc))
  }

  /** Cross-document repeated-SPAN dedup (the ExactSubstr recipe of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, at word granularity): any n-word run appearing in
    * ≥ 2 distinct documents is cut from every document except its owner
    * (min id), at EVERY alignment. This is what [[keepFirstChunks]]'s
    * disjoint chunking cannot do — a duplicated passage that straddles a
    * chunk boundary, or sits at a different offset in each document,
    * slips through fixed chunks but never through sliding spans.
    *
    * Semantics: spans are the sliding n-word windows of
    * [[graft.functions.TextFunctions.shingles]] over `\s+` tokens;
    * documents shorter than n contribute no spans (whole-short-doc
    * duplication is [[exact]]'s job); duplication means ≥ 2 DISTINCT
    * documents (within-document self-repetition is a repetition-metrics
    * concern, and the owner keeps all its occurrences); overlapping cut
    * spans merge before cutting. Returns one row per input document:
    * `(idCol, text_clean, n_words, n_removed)` with `text_clean` the
    * kept words re-joined single-spaced (the [[keepFirstChunks]]
    * reassembly contract).
    *
    * Spark shape at 100 TB: span keys explode map-side (one row per
    * word, like the minhash shingle stream); ownership is ONE
    * `groupBy(key)` with `(count distinct, min)` partial aggregation —
    * the surviving build side holds only keys duplicated ACROSS
    * documents, the duplicate vocabulary, not the corpus; the decision
    * join ships `(id, position)` hits only; the per-document cut is a
    * bounded collect_list (positions ≤ words, the same bounded-state
    * argument as the chunk reassembly) through ONE kernel pass.
    * `hashKeys=true` (the 100 TB path) keys on `xxhash64(span)` —
    * identical modulo 64-bit collisions, which at worst cut a span from
    * a non-owner (never corrupt text mid-word). */
  def dropRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50,
      hashKeys: Boolean = false): DataFrame = {
    require(n >= 1, s"span length n must be >= 1, got $n")
    val perDoc = df
      .select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def key(c: Column): Column = if (hashKeys) xxhash64(c) else c
    val spans = perDoc
      .filter(size(col("__w")) >= n)
      .select(col(idCol).as("__id"),
        posexplode(TextFunctions.shingles(col("__w"), n))
          .as(Seq("__pos", "__s")))
      .select(col("__id"), col("__pos"), key(col("__s")).as("__k"))
    val owners = spans
      .groupBy(col("__k"))
      .agg(countDistinct(col("__id")).as("__nd"), min(col("__id")).as("__owner"))
      .filter(col("__nd") >= 2)
      .select(col("__k"), col("__owner"))
    val cuts = spans
      .join(owners, Seq("__k"))
      .filter(col("__owner") =!= col("__id"))
      .groupBy(col("__id").as(idCol))
      .agg(collect_list(col("__pos").cast("int")).as("__starts"))
    val out = perDoc
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        graft.functions.DropSpansExpr(col("__w"),
          coalesce(col("__starts"),
            lit(Array.empty[Int])), n).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_clean").as("text_clean"),
        size(col("__w")).cast("long").as("n_words"),
        col("__r").getField("n_removed").cast("long").as("n_removed"))
    CacheRelease.afterFirstAction(out, Seq(perDoc))
  }

  /** Multi-SCALE repeated-span dedup — [[dropRepeatedSpans]] run at
    * several window lengths in one pass, cut intervals merged BEFORE
    * cutting. A single fixed n trades two blind spots against each
    * other: duplicated runs shorter than n are invisible, while
    * shrinking n makes every common short phrase a cut. Composing
    * scales (e.g. `ns = Seq(25, 50)`) recovers the variable-length
    * spirit of the ExactSubstr recipe: each scale contributes the
    * duplicated runs it can see, the union covers runs of any length ≥
    * min(ns), and overlapping cuts from different scales merge into one
    * interval (the `d20b` gate plants a duplicate shorter than the
    * coarse scale that the fixed-n operator provably misses).
    *
    * Semantics per scale are EXACTLY [[dropRepeatedSpans]]'s (sliding
    * windows, ≥ 2 distinct documents, min-id owner keeps); ownership is
    * grouped by `(scale, span)` so scales never alias — even under
    * `hashKeys`, where a cross-scale 64-bit collision could otherwise
    * merge two unrelated vocabularies. Spark shape is one union of
    * per-scale map-side span streams through the same
    * ownership-aggregate → hits-join → bounded per-document cut as the
    * fixed-n path; cost scales with Σ|ns| passes over the word stream,
    * all map-side until the one ownership shuffle. */
  def dropRepeatedSpansMulti(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ns: Seq[Int],
      hashKeys: Boolean = false): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct.size == ns.size,
      s"ns must be non-empty distinct positive window lengths, got $ns")
    val perDoc = df
      .select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def key(c: Column): Column = if (hashKeys) xxhash64(c) else c
    val spans = ns.map { n =>
      perDoc
        .filter(size(col("__w")) >= n)
        .select(col(idCol).as("__id"),
          posexplode(TextFunctions.shingles(col("__w"), n))
            .as(Seq("__pos", "__s")))
        .select(col("__id"), col("__pos"), lit(n).as("__n"),
          key(col("__s")).as("__k"))
    }.reduce(_ unionByName _)
    val owners = spans
      .groupBy(col("__n"), col("__k"))
      .agg(countDistinct(col("__id")).as("__nd"), min(col("__id")).as("__owner"))
      .filter(col("__nd") >= 2)
      .select(col("__n"), col("__k"), col("__owner"))
    val cuts = spans
      .join(owners, Seq("__n", "__k"))
      .filter(col("__owner") =!= col("__id"))
      .groupBy(col("__id").as(idCol))
      .agg(collect_list(struct(col("__pos").cast("int").as("s"),
        col("__n").cast("int").as("l"))).as("__cuts"))
    val noCuts = array().cast("array<struct<s:int,l:int>>")
    val out = perDoc
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        graft.functions.DropVarSpansExpr(col("__w"),
          coalesce(col("__cuts"), noCuts)).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_clean").as("text_clean"),
        size(col("__w")).cast("long").as("n_words"),
        col("__r").getField("n_removed").cast("long").as("n_removed"))
    CacheRelease.afterFirstAction(out, Seq(perDoc))
  }

  /** Arbitrary-length EXACT substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the ExactSubstr recipe at word granularity):
    * every maximal run of ≥ `minLen` words that occurs more than once
    * in the corpus keeps exactly its FIRST occurrence (corpus order =
    * smallest `(id, position)`) and is cut everywhere else — INCLUDING
    * the second copy inside the same document, the case
    * [[dropRepeatedSpans]] deliberately excludes (its owner-doc-keeps-
    * all contract). Runs shorter than `minLen` are never cut, exactly:
    * a cut window is itself a repeated ≥ minLen substring, and every
    * token of a repeated ≥ minLen run lies under one of its repeated
    * minLen-windows, so coverage equals the policy with no ladder of
    * scales to tune (the suffix-array recipe's guarantee, reached with
    * the bucketed span-hash shape instead).
    *
    * Spark shape at 100 TB: window keys come from ONE map-side
    * [[graft.functions.RunWindowHashExpr]] pass — O(words · log minLen)
    * long-mixes per document and 8-byte keys into the shuffle, never
    * minLen-word strings (at the ExactSubstr standard's minLen = 50
    * that is 6 levels vs 50 chained mixes per position, and a ~50×
    * smaller shuffle payload than string spans); first-occurrence
    * election is ONE `groupBy(key)` with partial-aggregable
    * `(count, min(struct(id, pos)))` whose surviving build side is the
    * repeated-window vocabulary, not the corpus; the decision join
    * ships hits only; the per-document cut is the same bounded
    * collect_list → [[graft.functions.DropSpansExpr]] merge pass as
    * [[dropRepeatedSpans]]. A 64-bit key collision cuts a
    * non-duplicate span (never corrupts text mid-word) — the standard
    * content-key contract.
    *
    * Self-overlapping repeats (period < minLen, e.g. a 100-token run
    * of one repeated word) degenerate as in the published recipe: the
    * kept first WINDOW survives only up to the next cut's coverage —
    * deterministic, and such runs are [[graft.operators]] repetition-
    * filter fodder long before dedup. Returns the
    * [[dropRepeatedSpans]] contract: one row per input document
    * `(idCol, text_clean, n_words, n_removed)`. `idCol` must be
    * orderable (first-occurrence election is `min(struct(id, pos))`);
    * ids unique per document, as everywhere in this family. */
  def dropRepeatedRuns(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 50): DataFrame = {
    require(minLen >= 2,
      s"minLen must be >= 2 (1 would cut every repeated word), got $minLen")
    val perDoc = df
      .select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
    perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = perDoc
      .filter(size(col("__w")) >= minLen)
      .select(col(idCol).as("__id"),
        posexplode(graft.functions.RunWindowHashExpr(col("__w"), minLen))
          .as(Seq("__pos", "__k")))
    val firsts = occ
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__id").as("i"), col("__pos").as("p"))).as("__f"))
      .filter(col("__n") >= 2)
      .select(col("__k"), col("__f.i").as("__fid"), col("__f.p").as("__fpos"))
    val cuts = occ
      .join(firsts, Seq("__k"))
      .filter(!(col("__id") === col("__fid") && col("__pos") === col("__fpos")))
      .groupBy(col("__id").as(idCol))
      .agg(collect_list(col("__pos").cast("int")).as("__starts"))
    val out = perDoc
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        graft.functions.DropSpansExpr(col("__w"),
          coalesce(col("__starts"),
            lit(Array.empty[Int])), minLen).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_clean").as("text_clean"),
        size(col("__w")).cast("long").as("n_words"),
        col("__r").getField("n_removed").cast("long").as("n_removed"))
    CacheRelease.afterFirstAction(out, Seq(perDoc))
  }

  /** Corpus version diff: `(id, status)` for every id in either corpus —
    * `added` (only in `b`), `removed` (only in `a`), `changed` (both,
    * text differs), `unchanged`. The dataset-versioning primitive: what
    * moved between crawl N and crawl N+1, what a re-processing step
    * actually touched, what an incremental pipeline must re-embed.
    *
    * Spark shape, sized for two 100 TB corpora: each side projects to
    * `(id, xxhash64(text))` map-side, so the ONE full-outer join carries
    * 16 bytes per row, never documents. Status is hash-equality — a
    * 64-bit collision can misreport `changed` as `unchanged` at ~2⁻⁶⁴
    * per pair (the standard content-hash contract; pipe `changed` ids
    * into an exact recheck when that matters). CONTRACT: `idCol` is
    * unique within each corpus — a duplicated id multiplies through the
    * full-outer join and reports one row per pairing. */
  def corpusDiff(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val ha = a.select(col(idCol).as("__id"), xxhash64(col(textCol)).as("__ha"))
    val hb = b.select(col(idCol).as("__id"), xxhash64(col(textCol)).as("__hb"))
    ha.join(hb, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") === col("__hb"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** ASYMMETRIC containment `|S(quote) ∩ S(ref)| / |S(quote)|` over
    * word n-gram shingles — the subset/quotation measure Jaccard can't
    * express: a short passage fully inside a long document scores 1.0
    * here but near 0 on Jaccard (the union is dominated by the long
    * side). The quote/ref pairing comes from the CALLER (`refIdCol`
    * names the corpus doc each quote row compares against) — at 100 TB
    * candidates come from LSH/banding, never all pairs, so this scores
    * ONE equi-join of the pair lists with per-doc-bounded shingle sets.
    * Shingle construction follows the d4 contract (documents shorter
    * than n collapse to one whole-text shingle). */
  def shingleContainment(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusTextCol: String,
      quotes: DataFrame,
      quoteIdCol: String,
      refIdCol: String,
      quoteTextCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val cs = corpus.select(col(corpusIdCol).as("__rid"),
      array_distinct(TextFunctions.shingles(
        TextFunctions.words(col(corpusTextCol)), n)).as("__cs"))
    val qs = quotes.select(col(quoteIdCol), col(refIdCol).as("__rid"),
      array_distinct(TextFunctions.shingles(
        TextFunctions.words(col(quoteTextCol)), n)).as("__qs"))
    qs.join(cs, "__rid")
      .select(col(quoteIdCol), col("__rid").as(refIdCol),
        (size(array_intersect(col("__qs"), col("__cs"))).cast("double") /
          size(col("__qs"))).as("containment"))
  }

  /** EXACT set-similarity join via prefix filtering (the Vernica/Carey/Li
    * MapReduce design, SIGMOD'10): all `(query, corpus)` pairs whose
    * shingle-set Jaccard (word `shingleSize`-grams; 1 = bag of words;
    * short docs collapse to one whole-document shingle, matching
    * [[graft.functions.TextFunctions.shingles]]) is ≥
    * `thresholdNum/thresholdDen` — exactly, unlike
    * the MinHash family, and without the all-pairs product the naive
    * formulation implies.
    *
    * Prefix-filter principle: order every document's distinct tokens by one
    * GLOBAL total order and keep only each set's first
    * `|A| − ⌈t·|A|⌉ + 1` tokens as its "prefix". If `J(A,B) ≥ t` the two
    * prefixes must share a token (pigeonhole on the required overlap), so
    * the equi-join on prefix tokens loses NOTHING — the `d17` gate proves
    * it: the DuckDB oracle computes brute-force all-pairs Jaccard and the
    * hashes must match. Any consistent total order is CORRECT; lexicographic
    * keeps the whole build map-side (the classic rare-token-first frequency
    * order is a candidate-count optimization that would add a vocabulary
    * aggregation + join — worth it only when token frequencies are very
    * skewed, documented not defaulted).
    *
    * The threshold is a RATIONAL (`num/den`) and verification compares
    * `inter · den ≥ num · union` in integers — no float boundary anywhere.
    *
    * Spark shape: tokenize + sort + slice are one map-side projection per
    * side; candidates come from ONE shuffle equi-join on the prefix token
    * (merge-hinted — the exploded sides' true size is orders of magnitude
    * above the pre-explode file-stat estimate the planner sees, and a
    * broadcast of either OOMs at the 10× fixture already, never mind
    * 100 TB); exact Jaccard runs only on candidates via a merge of the
    * two sorted arrays.
    *
    * Two candidate-stream layouts, `carryArrays` selecting:
    *
    *  - DEFAULT (false, the INVERTED / corpus-scale layout): the token
    *    join ships `(id, |set|, token)` only — the integer length filter
    *    prunes before the pair dedup, and the sorted arrays attach to the
    *    DEDUPLICATED pairs by two id equi-joins (also merge-hinted). One
    *    extra shuffle, but every in-flight row before the final attach is
    *    a few dozen bytes: shuffle bytes are set-size-LINEAR. This is the
    *    layout that survives the 10× bench leg in a 1 GiB heap and the
    *    one to run at corpus scale.
    *  - `carryArrays = true`: each exploded row carries its full sorted
    *    array, so verification needs no join-back — fewer shuffles,
    *    bytes ≈ Σ(prefix-length × set-size). Right only for SMALL sets
    *    (chunk-level dedup) on memory-rich executors; spec-pinned equal
    *    to the default.
    *
    * Returns `(queryId, corpusId, inter, uni)`. */
  def jaccardJoin(
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      thresholdNum: Int,
      thresholdDen: Int,
      shingleSize: Int = 3,
      carryArrays: Boolean = false): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0,1]: $thresholdNum/$thresholdDen")
    require(shingleSize >= 1, s"shingle size must be >= 1, got $shingleSize")
    require(queryIdCol != corpusIdCol,
      "query and corpus id column names must differ (rename before joining)")
    def prepared(df: DataFrame, idCol: String, textCol: String,
        setName: String): DataFrame =
      df.select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
        .filter(size(col("__w")) > 0)
        // fused kernel: one pass + in-place sort per row, replacing the
        // four-expression array_sort(array_distinct(shingles(...))) chain
        // (the d18 profile put ~85% of the join's cost in that prep)
        .select(col(idCol),
          graft.functions.SortedShingleSetExpr(col("__w"), shingleSize)
            .as(setName))
        // prefix length |A| - ceil(t|A|) + 1, with ceil in integers:
        // ceil(num·n / den) = (num·n + den − 1) div den
        .withColumn("__pfx", slice(col(setName), lit(1),
          size(col(setName)) - expr(
            s"cast((size($setName) * $thresholdNum + $thresholdDen - 1) " +
              s"div $thresholdDen as int)") + 1))
    val qp = prepared(queries, queryIdCol, queryTextCol, "__qs")
    val cp = prepared(corpus, corpusIdCol, corpusTextCol, "__cs")
    // merge-count over the two sorted arrays: no per-row hash set, unlike
    // size(array_intersect(...))
    val inter = graft.functions.SortedIntersectCountExpr(
      col("__qs"), col("__cs"))
    val uni = size(col("__qs")) + size(col("__cs")) - inter
    // length filter (the standard Vernica refinement): J(A,B) ≥ t forces
    // min(|A|,|B|)·den ≥ max(|A|,|B|)·num, because the intersection can
    // never exceed the smaller set. Two integer comparisons prune a
    // candidate BEFORE the pair-dedup shuffle and the merge verification
    // — on low-entropy vocabularies (heavy prefix-token collisions) this
    // is most of the candidate stream; lossless by construction, so the
    // d18 brute-force gate is unaffected
    def lengthOk(qn: Column, cn: Column): Column =
      cn * thresholdDen >= qn * thresholdNum &&
        qn * thresholdDen >= cn * thresholdNum
    val verdict = (pairs: DataFrame) => pairs
      .select(col(queryIdCol), col(corpusIdCol),
        inter.as("inter"), uni.as("uni"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
    if (carryArrays) {
      val q = qp.select(col(queryIdCol), col("__qs"),
        explode(col("__pfx")).as("__tok"))
      val c = cp.select(col(corpusIdCol), col("__cs"),
        explode(col("__pfx")).as("__tok"))
      verdict(q.hint("merge").join(c, "__tok")
        .filter(lengthOk(size(col("__qs")), size(col("__cs"))))
        .dropDuplicates(queryIdCol, corpusIdCol))
    } else {
      val q = qp.select(col(queryIdCol), size(col("__qs")).as("__qn"),
        explode(col("__pfx")).as("__tok"))
      val c = cp.select(col(corpusIdCol), size(col("__cs")).as("__cn"),
        explode(col("__pfx")).as("__tok"))
      val cand = q.hint("merge").join(c, "__tok")
        .filter(lengthOk(col("__qn"), col("__cn")))
        .select(col(queryIdCol), col(corpusIdCol))
        .dropDuplicates(queryIdCol, corpusIdCol)
      // attach the sorted sets to the deduplicated pairs only; the set
      // frames are corpus-sized at corpus scale — merge-hinted for the
      // same estimate-blindness reason as the token join
      verdict(cand
        .join(qp.select(col(queryIdCol), col("__qs")).hint("merge"),
          queryIdCol)
        .join(cp.select(col(corpusIdCol), col("__cs")).hint("merge"),
          corpusIdCol))
    }
  }

  /** Cross-document boilerplate LINE removal, the C4 / CCNet recipe
    * (Raffel et al. 2020 §2.2 drop repeated spans corpus-wide; CCNet
    * removes paragraphs duplicated across shards): any line whose
    * corpus-wide occurrence count reaches `minCount` is boilerplate —
    * cookie banners, nav bars, "subscribe" footers — and EVERY
    * occurrence is dropped; the per-document remainder re-joins in
    * original line order. Differs from [[exact]]/keep-first chunk dedup
    * (d14): those keep one representative of a duplicate family; a
    * boilerplate line has no representative worth keeping.
    *
    * Shape at 100 TB: explode to (id, pos, line_hash) — narrow rows, the
    * raw line never shuffles twice; ONE hash-aggregate on the line hash
    * (map-side partial combine) filtered to count ≥ minCount, which is
    * OUTPUT-bounded (distinct boilerplate lines, tiny next to the
    * corpus) so AQE turns the anti-join into a broadcast when it fits
    * and a shuffle anti-join when it doesn't — both correct, neither
    * all-pairs; then one reassembly aggregate keyed on the document id.
    * Frequency keys on `xxhash64(line)`: a 64-bit collision silently
    * merging two distinct lines' counts is the documented trade for
    * never shuffling raw line text into the count table (the C4
    * pipeline makes the same trade).
    *
    * Documents whose every line is boilerplate survive with
    * `text_clean = ""` — dropping them would silently lose document
    * identity mid-pipeline (the [[Chunk]] contract). Returns
    * `(idCol, text_clean, n_lines, n_kept, n_dropped)`. */
  def dropFrequentLines(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, sep: String = "\n"): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2; got $minCount")
    // coalesce null text to "" so posexplode still emits one row and the
    // document keeps its identity (the documented always-survives contract)
    val lines = df
      .select(col(idCol), posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
    val frequent = lines
      .groupBy(xxhash64(col("__line")).as("__lh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__lh"))
    val kept = lines.join(frequent,
      xxhash64(col("__line")) === frequent("__lh"), "left_anti")
    val perDoc = lines.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"))
    perDoc.join(
        kept.groupBy(col(idCol)).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s("__line")), sep).as("text_clean"),
          count(lit(1)).as("n_kept")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
