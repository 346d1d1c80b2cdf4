package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField}

/** Byte-pair-encoding tokenization: a tiny trainable merges table plus a
  * merge-loop token counter, for real (not regex-approximated) token budget
  * accounting in training-data pipelines.
  *
  * Training is driver-side over a BOUNDED corpus sample (tokenizer training
  * is always a sampled offline step — never a distributed pass over 100 TB);
  * counting is distributed via a mapPartitions batch with the small model
  * shipped in the task closure, so the hot path stays one iterator pass per
  * partition. The whitespace counter (`TextFunctions.tokenCountWhitespace`)
  * remains the oracle-checked entry; BPE counts are not SQL-expressible.
  */
object Bpe {

  /** An ordered merges table (rank = position). Deterministic encode: the
    * lowest-rank adjacent pair is merged (all occurrences, left to right)
    * until no learned pair remains. */
  final case class BpeModel(merges: Seq[(String, String)]) extends Serializable {
    @transient private lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    /** Encode one word into BPE symbols. */
    def encodeWord(word: String): Vector[String] = {
      var symbols = word.map(_.toString).toVector
      var done = symbols.length < 2
      while (!done) {
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < symbols.length - 1) {
          val r = ranks.getOrElse((symbols(i), symbols(i + 1)), Int.MaxValue)
          if (r < bestRank) { bestRank = r; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) done = true
        else {
          val pair = (symbols(bestIdx), symbols(bestIdx + 1))
          symbols = mergeAll(symbols, pair)
          if (symbols.length < 2) done = true
        }
      }
      symbols
    }

    /** Token count of a whitespace-pre-tokenized text. */
    def countTokens(text: String): Long = {
      val t = text.trim
      if (t.isEmpty) 0L
      else t.split("\\s+").foldLeft(0L)((acc, w) => acc + encodeWord(w).length)
    }
  }

  /** Merge every left-to-right occurrence of `pair` in one pass. */
  private[graft] def mergeAll(symbols: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < symbols.length) {
      if (i < symbols.length - 1 && symbols(i) == pair._1 && symbols(i + 1) == pair._2) {
        out += (pair._1 + pair._2); i += 2
      } else { out += symbols(i); i += 1 }
    }
    out.result()
  }

  /** Train a merges table from word frequencies: repeatedly merge the most
    * frequent adjacent symbol pair, ties broken lexicographically so the
    * model is reproducible anywhere. */
  def train(wordFreq: Map[String, Long], numMerges: Int): BpeModel = {
    var vocab: Seq[(Vector[String], Long)] =
      wordFreq.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = Vector.newBuilder[(String, String)]
    var n = 0
    var exhausted = false
    while (n < numMerges && !exhausted) {
      val pairCounts = mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val best = pairCounts.toSeq.minBy { case (p, c) => (-c, p._1, p._2) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => (mergeAll(syms, best), f) }
        n += 1
      }
    }
    BpeModel(merges.result())
  }

  /** True iff sequential replay — applying the merges in rank order, each
    * merged to fixpoint — provably equals [[BpeModel.encodeWord]]'s
    * lowest-rank-first loop for EVERY input. Applying merge r (output
    * string z = l+r) only creates new adjacencies involving z, so it can
    * re-enable an earlier-ranked pair q<r only when z IS a component of
    * that pair — which requires training to have produced the same string
    * via two different merge paths. Absent that collision, the lowest
    * applicable rank is non-decreasing over the encode, and the two
    * strategies take identical steps. The DuckDB oracle for
    * `t3b_tokens_bpe` replays merges sequentially, so the gate asserts
    * this before persisting a model as its fixture. */
  def sequentialReplaySafe(merges: Seq[(String, String)]): Boolean = {
    val earlier = mutable.Set.empty[String]
    merges.forall { case (l, r) =>
      val ok = !earlier.contains(l + r)
      earlier += l
      earlier += r
      ok
    }
  }

  /** Train from a corpus DataFrame: collects a bounded sample of documents
    * (`sampleDocs`) to the driver and learns `numMerges` merges from their
    * whitespace-word frequencies. Kept for cheap exploratory training;
    * [[trainFromCorpusExact]] is the production trainer — its histogram is
    * a corpus-exact distributed aggregate, not a document sample. */
  def trainFromCorpus(df: DataFrame, textCol: String, numMerges: Int = 200,
      sampleDocs: Int = 256): BpeModel = {
    val texts = df.select(textCol).limit(sampleDocs).collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
    val freq = mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val tr = t.trim
      if (tr.nonEmpty) tr.split("\\s+").foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1L)
    }
    train(freq.toMap, numMerges)
  }

  /** The corpus-EXACT word histogram feeding [[trainFromCorpusExact]]:
    * one distributed `groupBy(word).agg(sum)` over every whitespace word
    * in the corpus (map-side partial combine — the shuffle carries one
    * row per distinct word per partition, never the corpus), capped to
    * the `maxVocab` most frequent words with ties broken by word
    * ascending so the cap boundary is deterministic in any engine.
    * Returns `(word, freq, vocab_rank)` with `vocab_rank` 1-based.
    * The cap is `orderBy.limit` — Catalyst plans it as a DISTRIBUTED
    * TakeOrderedAndProject (per-partition top-N, merged at the driver),
    * never a single-partition sort of the distinct-word table (a
    * web-scale corpus has billions of distinct words; the LanguageModel
    * top-N idiom) — and only the ALREADY-CAPPED `maxVocab` rows see the
    * rank window (the post-limit bounded-window idiom). */
  def wordHistogram(df: DataFrame, textCol: String,
      maxVocab: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(maxVocab >= 1, s"maxVocab must be >= 1; got $maxVocab")
    df.select(explode(split(trim(coalesce(col(textCol), lit(""))),
        "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("word"))
      .limit(maxVocab)
      .withColumn("vocab_rank",
        row_number().over(Window.orderBy(desc("freq"), col("word")))
          .cast("long"))
  }

  /** Corpus-exact BPE training: the merge loop runs on the driver (it is
    * inherently sequential — each merge conditions the next pair counts)
    * but its INPUT is [[wordHistogram]]'s exact distributed aggregate,
    * not a document sample, so the learned merges are a deterministic
    * function of the whole corpus. Driver state is the capped histogram
    * (`maxVocab` rows), the same bounded-model-pull contract as the
    * langid / backoff-LM / logistic-GD trainers. A sampled trainer can
    * miss corpus-frequent words entirely (BpeSpec plants such a skew);
    * this one cannot. */
  def trainFromCorpusExact(df: DataFrame, textCol: String,
      numMerges: Int = 200, maxVocab: Int = 65536): BpeModel = {
    val freq = wordHistogram(df, textCol, maxVocab)
      .select("word", "freq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    train(freq, numMerges)
  }

  /** Distributed BPE token counting: one iterator pass per partition, the
    * model shipped once per task (mapPartitions batch shape — counting is
    * imperative per-word work no Catalyst expression covers). */
  /** Per-document BPE token SEQUENCES (the trainer-facing output
    * [[tokenCount]] only summarizes): each whitespace word encoded
    * independently (the pre-tokenization contract), word token runs
    * concatenated in document order. Same priority-merge segmentation as
    * `countTokens` — and therefore, for `sequentialReplaySafe` models,
    * the same segmentation an external rank-order replay produces, which
    * is what makes the id sequences oracle-checkable. Null/empty texts
    * yield empty sequences. */
  def encodeTokens(df: DataFrame, textCol: String, model: BpeModel,
      outCol: String = "bpe_tokens"): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(
      StructField(outCol, ArrayType(StringType, containsNull = false),
        nullable = false))
    val idx = inSchema.fieldIndex(textCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(idx)
        val toks: Seq[String] =
          if (t == null || t.trim.isEmpty) Seq.empty
          else t.trim.split("\\s+").toSeq.flatMap(w => model.encodeWord(w))
        Row.fromSeq(r.toSeq :+ toks)
      }
    }
  }

  def tokenCount(df: DataFrame, textCol: String, model: BpeModel,
      outCol: String = "n_bpe"): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(outCol, LongType, nullable = false))
    val idx = inSchema.fieldIndex(textCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(idx)
        Row.fromSeq(r.toSeq :+ (if (t == null) 0L else model.countTokens(t)))
      }
    }
  }
}
