package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines, built
  * entirely from codegen'd native functions (split / higher-order array
  * functions / hashes) — no UDFs, so every operator stays inside whole-stage
  * codegen and scales linearly with executors.
  */
object TextFunctions {

  /** Standard pre-dedup normalization: optional unicode compatibility +
    * accent folding ([[UnicodeFoldExpr]]: NFKD, strip combining marks, NFC
    * — so 'Café', 'Café' and full-width variants shingle
    * identically), lowercase, strip ASCII control characters (to spaces),
    * optionally strip ASCII punctuation, collapse space runs, trim. Regex
    * classes are written to mean the same thing in Java regex AND RE2
    * ([[:punct:]]-equivalent explicit class; whitespace collapse uses a
    * literal space because controls are already spaces — Java's \\s and
    * RE2's \\s disagree on \\x0B, so neither is used). The fold runs FIRST
    * so compatibility expansions (ligatures → ASCII letters) reach the
    * later stages. */
  def normalize(text: Column, dropPunct: Boolean = false,
      foldUnicode: Boolean = false): Column = {
    val folded = if (foldUnicode) UnicodeFoldExpr(text) else text
    val lowered = lower(folded)
    val noCtl = regexp_replace(lowered, "[\\x00-\\x1f\\x7f]", " ")
    val noPunct =
      if (dropPunct) regexp_replace(noCtl, "[!-/:-@\\[-`{-~]", " ") else noCtl
    trim(regexp_replace(noPunct, " +", " "))
  }

  /** Whitespace tokenization; empty string => empty array. Backed by the
    * fused [[WordsExpr]] kernel (one charwise pass, no per-row regex);
    * bit-exact with [[wordsComposable]], property-pinned. */
  def words(text: Column): Column = WordsExpr(text)

  /** The composable regex formulation `words` replaced — kept as the
    * parity REFERENCE the kernel is property-tested against (and as
    * executable documentation of the tokenizer contract). */
  private[graft] def wordsComposable(text: Column): Column = {
    val w = split(trim(text), "\\s+")
    when(trim(text) === "", array().cast("array<string>")).otherwise(w)
  }

  /** Word-level n-gram shingles; documents shorter than n collapse to a
    * single whole-document shingle.
    *
    * PERFORMANCE: `wordsCol` is captured inside a lambda, and Catalyst
    * re-evaluates a captured non-attribute expression per array element —
    * pass a MATERIALIZED column (a prior projection's attribute), never
    * `split(...)` inline, or the tokenizer runs once per shingle. Operators
    * in graft.operators stage their projections accordingly. */
  def shingles(wordsCol: Column, n: Int): Column =
    when(size(wordsCol) < n, array(concat_ws(" ", wordsCol)))
      .otherwise(transform(
        sequence(lit(0), size(wordsCol) - n),
        i => concat_ws(" ", slice(wordsCol, i + 1, lit(n)))))

  /** Whitespace token count. */
  def tokenCountWhitespace(text: Column): Column = size(words(text)).cast("long")

  /** BPE-ish token count: alphanumeric runs, everything else a separator.
    * `array_remove` drops the empty boundary tokens without a lambda —
    * `filter(_ =!= "")` would pay interpreted HOF dispatch per element
    * (split never emits nulls, so the two are equivalent here). */
  def tokenCountBpe(text: Column): Column =
    size(array_remove(split(text, "[^a-zA-Z0-9]+"), "")).cast("long")

  private val punctClass = "[^.!?,;:]"

  /** Quality metrics: char/word counts, mean word length, punctuation and
    * stopword ratios. All exact arithmetic (int counts + one final double
    * division) so an SQL oracle can reproduce them bit-for-bit. */
  def qualityMetrics(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val w = words(text)
    val nChars = length(text).cast("long")
    val nWords = size(w).cast("long")
    val nPunct = length(regexp_replace(text, punctClass, "")).cast("long")
    val nStop = element_at(TermSetCountsExpr(w, Seq(stopwords)), 1)
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "avg_word_len" ->
        (when(nWords === 0, lit(0.0))
          .otherwise((nChars - (nWords - 1)).cast("double") / nWords)),
      "punct_ratio" ->
        when(nChars === 0, lit(0.0)).otherwise(nPunct.cast("double") / nChars),
      "stopword_ratio" ->
        when(nWords === 0, lit(0.0)).otherwise(nStop.cast("double") / nWords))
  }

  /** Default English stopword set used by quality scoring. */
  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "was")

  /** Per-language marker words for the n-gram/stopword language heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "que", "un", "una", "en"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "人", "这", "不"))

  /** Language-ID heuristic: argmax over per-language marker-token counts
    * (deterministic lexicographic tiebreak; "und" = undetermined when no
    * marker hits). A real deployment would swap in char-n-gram profiles;
    * the operator shape (pure Column expression, no shuffle) is the point.
    */
  def langId(text: Column, markers: Map[String, Seq[String]] = langMarkers): Column = {
    // ONE fused count-and-argmax pass ([[TermSetBestExpr]]): the earlier
    // Column-composed argmax over a shared counts array re-evaluated the
    // counts subtree at EVERY element_at/when reference (~50
    // re-tokenizations per row once the tie-break tree expanded —
    // measured 2.0 s for 5k docs at sf0.1; this kernel is one pass).
    // Label order is lexicographic, strictly-greater wins, so ties keep
    // the lexicographically-first language — semantics unchanged (the
    // t1 oracle pins them).
    val ordered = markers.toSeq.sortBy(_._1)
    TermSetBestExpr(words(lower(text)), ordered.map(_._2),
      ordered.map(_._1), default = "und")
  }

  /** Distinct character 1..maxN-grams of whitespace-normalized, lowercased,
    * space-padded text — the classic mixed-n-gram language-profile unit
    * (Cavnar & Trenkle 1994). Mixed sizes matter: trigrams capture latin
    * morphology ("ier", "ung", "cio") while unigrams/bigrams carry scripts
    * without word spacing (hanzi). Backed by the fused
    * [[CharNgramsExpr]] kernel (one normalization + one code-point window
    * pass); bit-exact with [[charNgramsComposable]], property-pinned. */
  def charNgrams(text: Column, maxN: Int = 3): Column =
    CharNgramsExpr(text, maxN)

  /** The composable HOF formulation [[charNgrams]] replaced — kept as the
    * parity REFERENCE the kernel is property-tested against. The
    * normalized string is staged through a one-element array lambda
    * binding so it evaluates ONCE, not once per n-gram (the lambda-capture
    * note on [[shingles]]). */
  private[graft] def charNgramsComposable(text: Column, maxN: Int = 3): Column = {
    val padded = concat(lit(" "), regexp_replace(lower(trim(text)), "\\s+", " "), lit(" "))
    element_at(transform(array(padded), p => {
      val perSize = (1 to maxN).map(n =>
        transform(sequence(lit(0), greatest(length(p) - n, lit(0))),
          i => substr(p, i + 1, lit(n))))
      array_distinct(concat(perSize: _*))
    }), 1)
  }

  /** Train per-language char-n-gram profiles from (lang, sampleText) pairs:
    * top-`k` 1..maxN-grams by frequency (ties broken lexicographically, so a
    * given corpus yields the same profile anywhere). Same offline shape as
    * [[Bpe.trainFromCorpus]]: training is a bounded driver-side pass over a
    * sample corpus; the resulting profiles are plain data, shippable to any
    * cluster. */
  def trainNgramProfiles(corpus: Seq[(String, String)], k: Int = 150,
      maxN: Int = 3): Map[String, Seq[String]] =
    corpus.groupBy(_._1).map { case (lang, texts) =>
      val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((_, t) <- texts) {
        val padded = " " + t.trim.toLowerCase.replaceAll("\\s+", " ") + " "
        for (n <- 1 to maxN; i <- 0 to math.max(padded.length - n, 0))
          counts(padded.substring(i, math.min(i + n, padded.length))) += 1
      }
      lang -> counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(k).map(_._1)
    }

  /** Small built-in multilingual seed corpus (original sample sentences) the
    * default trigram profiles are trained from; swap in a real corpus via
    * [[trainTrigramProfiles]] for production use. */
  val ngramSeedCorpus: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog in the garden",
    "en" -> "there is nothing better than a warm summer evening with friends and family",
    "en" -> "we should always try to learn something new every single day",
    "en" -> "this kind of thinking will lead to better results for everyone involved",
    "en" -> "a long walk along the river is a good way to clear your head",
    "en" -> "she was reading an interesting story about a journey around the world",
    "en" -> "they found a small house near the old bridge and stayed for a week",
    "en" -> "good food and good company make any evening feel special",
    "fr" -> "le petit garcon mange une pomme rouge dans le jardin",
    "fr" -> "nous devons toujours essayer de apprendre quelque chose de nouveau chaque jour",
    "fr" -> "il y a beaucoup de choses que nous pouvons faire ensemble ce soir",
    "fr" -> "cette maniere de penser donnera de meilleurs resultats pour tout le monde",
    "fr" -> "une longue promenade au bord de la riviere aide a se vider la tete",
    "fr" -> "elle lisait une histoire interessante sur un voyage autour du monde",
    "fr" -> "ils ont trouve une petite maison pres du vieux pont et sont restes une semaine",
    "fr" -> "un bon repas et une bonne compagnie rendent chaque soiree speciale",
    "de" -> "der kleine junge isst einen roten apfel im garten",
    "de" -> "wir sollten immer versuchen jeden tag etwas neues zu lernen",
    "de" -> "es gibt viele dinge die wir heute abend zusammen machen koennen",
    "de" -> "diese denkweise wird zu besseren ergebnissen fuer alle beteiligten fuehren",
    "de" -> "ein langer spaziergang am fluss ist eine gute art den kopf frei zu bekommen",
    "de" -> "sie las eine interessante geschichte ueber eine reise um die welt",
    "de" -> "sie fanden ein kleines haus bei der alten bruecke und blieben eine woche",
    "de" -> "gutes essen und gute gesellschaft machen jeden abend besonders",
    "es" -> "el nino pequeno come una manzana roja en el jardin",
    "es" -> "siempre debemos intentar aprender algo nuevo cada dia",
    "es" -> "hay muchas cosas que podemos hacer juntos esta noche",
    "es" -> "esta manera de pensar dara mejores resultados para todos los involucrados",
    "es" -> "un largo paseo junto al rio es una buena forma de despejar la cabeza",
    "es" -> "ella leia una historia interesante sobre un viaje alrededor del mundo",
    "es" -> "encontraron una casa pequena cerca del puente viejo y se quedaron una semana",
    "es" -> "buena comida y buena compania hacen especial cualquier noche",
    "zh" -> "小男孩在花园里吃一个红苹果",
    "zh" -> "我们应该每天都努力学习新的东西",
    "zh" -> "今晚我们可以一起做很多事情",
    "zh" -> "这种思维方式会为所有人带来更好的结果",
    "zh" -> "沿着河边散步是放松心情的好方法",
    "zh" -> "她在读一个关于环游世界的有趣故事",
    "zh" -> "他们在老桥附近找到了一座小房子住了一个星期",
    "zh" -> "好的食物和好的朋友让每个晚上都很特别")

  /** Default profiles: top-150 mixed 1..3-grams per language from the seed. */
  lazy val defaultNgramProfiles: Map[String, Seq[String]] =
    trainNgramProfiles(ngramSeedCorpus)

  /** Language ID via char-n-gram profile overlap: score(lang) = |distinct
    * document 1..3-grams ∩ profile n-grams|, argmax with the same
    * deterministic contract as [[langId]] (lexicographically-first language
    * on ties; "und" when nothing overlaps). Still a pure Column expression —
    * no shuffle, no UDF — but robust on short / shared-vocabulary sentences
    * where whole-word markers miss (trigrams see morphology: "ier ", "ung ",
    * "cio"; unigrams carry unspaced scripts). [[charNgrams]] emits
    * DISTINCT n-grams and profiles are distinct, so per-set membership
    * counts ([[TermSetBestExpr]]'s one fused pass) equal the
    * intersection sizes the argmax contract is defined over — and the
    * langId re-evaluation trap cannot re-enter. */
  def langIdNgram(text: Column,
      profiles: Map[String, Seq[String]] = defaultNgramProfiles): Column = {
    val ordered = profiles.toSeq.sortBy(_._1)
    TermSetBestExpr(charNgrams(text), ordered.map(_._2),
      ordered.map(_._1), default = "und")
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021, §A1.1 —
    * public heuristics): per-rule booleans plus the conjunction `keep`.
    * Bounds are parameters because the right values are corpus-dependent.
    * All exact arithmetic (long counts, one double division per rule) so a
    * SQL oracle reproduces the booleans bit-for-bit. `wordsCol` must be a
    * STAGED projection attribute (lambda-capture rule, see [[shingles]]). */
  def gopherRules(
      text: Column,
      wordsCol: Column,
      stopwords: Seq[String] = englishStopwords,
      minWords: Long = 20,
      maxWords: Long = 200,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Long = 2): Seq[(String, Column)] = {
    val nWords = size(wordsCol).cast("long")
    val sumLen = aggregate(wordsCol, lit(0L), (acc, x) => acc + length(x))
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise(sumLen.cast("double") / nWords)
    val nSymbol = (length(text) - length(regexp_replace(text, "[#…]", ""))).cast("long")
    val nAlpha = size(filter(wordsCol, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nStop = element_at(TermSetCountsExpr(wordsCol, Seq(stopwords)), 1)
    val rules = Seq(
      "word_count_ok" -> (nWords >= minWords && nWords <= maxWords),
      "mean_word_len_ok" -> (meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen),
      "symbol_ratio_ok" ->
        (when(nWords === 0, lit(0.0)).otherwise(nSymbol.cast("double") / nWords)
          <= maxSymbolRatio),
      "alpha_frac_ok" ->
        (when(nWords === 0, lit(0.0)).otherwise(nAlpha.cast("double") / nWords)
          >= minAlphaFrac),
      "stopword_ok" -> (nStop >= minStopwords))
    rules :+ ("keep" -> rules.map(_._2).reduce(_ && _))
  }

  /** Intra-document repetition metrics over a STAGED words column:
    *  - dup_word_ratio: 1 - |distinct words| / |words|
    *  - top_word_frac: occurrences of the most frequent word / |words|
    * High values flag boilerplate/keyword-stuffed documents (the C4/Gopher
    * repetition family). The top-word count is the fused
    * [[MaxTokenFreqExpr]] hash pass — the composable
    * transform(distinct)+filter-per-distinct form is O(distinct × words)
    * INTERPRETED work per row, quadratic on exactly the long repetitive
    * documents this metric exists to flag. Embarrassingly parallel, no
    * shuffle. */
  def repetitionMetrics(wordsCol: Column): Seq[(String, Column)] = {
    val nWords = size(wordsCol).cast("long")
    Seq(
      "dup_word_ratio" -> when(nWords === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(wordsCol)).cast("double") / nWords),
      "top_word_frac" -> when(nWords === 0, lit(0.0))
        .otherwise(MaxTokenFreqExpr(wordsCol).cast("double") / nWords))
  }

  /** PII patterns (name, regex, replacement) — kept to RE2-compatible
    * syntax (no lookarounds) so DuckDB/Java regex engines agree. Applied in
    * order: email first, then IPv4, then phone (phone digits never overlap
    * the earlier placeholders). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+?\\d[\\d() -]{6,}\\d", "<PHONE>"))

  /** Text with all [[piiPatterns]] replaced by their placeholders. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, p, r)) => regexp_replace(t, p, r) }

  /** Per-pattern match counts, each counted on the text AFTER the previous
    * patterns were redacted (mirrors the replacement pass exactly — an email
    * is never double-counted as a phone). */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val (cols, _) = piiPatterns.foldLeft((Seq.empty[(String, Column)], text)) {
      case ((acc, t), (name, p, r)) =>
        (acc :+ (s"n_$name" -> regexp_count(t, lit(p))), regexp_replace(t, p, r))
    }
    cols
  }

  /** Deterministic dataset split (train/val/test and friends): the first 4
    * hex chars of md5(key||salt) are uniform over 65536 buckets, and a
    * lexicographic threshold chain assigns labels — the same row lands in
    * the same split on any engine, any cluster size, any run (the
    * reproducibility property a training pipeline needs; change `salt` to
    * re-deal). Weights are realized as floor(cumWeight·65536) bucket
    * boundaries, so proportions are exact to 1/65536. Pure Column
    * expression; portable to SQL oracles because md5 hex and string
    * comparison agree across engines. */
  def deterministicSplit(key: Column, weights: Seq[(String, Double)],
      salt: String = ""): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val bucket = substring(md5(concat(key.cast("string"), lit(salt)).cast("binary")), 1, 4)
    val bounds = splitBounds(weights)
    bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((label, bound), elseCol) => when(bucket < lit(bound), label).otherwise(elseCol)
    }
  }

  /** LEAKAGE-SAFE train/val/test split: the split key is the NORMALIZED
    * text (lowercased, punctuation/control folded, whitespace collapsed
    * — [[normalize]] with dropPunct), not the row id, so a document and
    * its trivial variants (case, punctuation, spacing — the commonest
    * web-duplicate classes) always land in the SAME split and can never
    * leak train content into eval. Same md5-bound arithmetic as
    * [[deterministicSplit]], fully engine-replayable; for NEAR-duplicate
    * safety beyond normalization, key on a duplicate-cluster
    * representative instead (connectedComponents min-id ∘ minhashPairs —
    * the same one-argument call, a cluster id for `key`). */
  def leakageSafeSplit(text: Column, weights: Seq[(String, Double)],
      salt: String = ""): Column =
    deterministicSplit(normalize(text, dropPunct = true), weights, salt)

  /** (label, upperHexBound) pairs for [[deterministicSplit]] — the last
    * label's bound is itself (catch-all). Exposed so SQL oracles can be
    * generated from the same arithmetic. */
  def splitBounds(weights: Seq[(String, Double)]): Seq[(String, String)] = {
    val cum = weights.scanLeft(0.0)(_ + _._2).tail
    weights.zip(cum).map { case ((label, _), c) =>
      label -> f"${math.min(65535, math.floor(c * 65536).toLong)}%04x"
    }
  }

  /** Content fingerprint: md5 over the sorted distinct token set — stable
    * under word reordering and duplication (bag-of-words identity). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))).cast("binary"))

  /** Rolling-hash winnowing fingerprint: min xxhash64 over character
    * k-grams — robust to small edits; not SQL-oracle-expressible. */
  def winnowFingerprint(text: Column, k: Int = 8): Column =
    array_min(transform(
      sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => xxhash64(substr(text, i + 1, lit(k)))))

  /** Sentence segmentation by terminator runs: maximal `[^.!?]+[.!?]*`
    * spans, trimmed, empties dropped. Deliberately regex-simple (no
    * abbreviation model — "Dr. Smith" splits) so the SAME pattern runs
    * in Java regex and RE2-family engines with identical boundaries —
    * the cross-engine-replayable tokenizer contract, one level up from
    * [[words]]. Sentence counts/lengths feed quality heuristics
    * (mean sentence length is a classic boilerplate discriminator). */
  def sentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= "")

  /** Markup (HTML-ish) → clean text: tags stripped (block tags →
    * newlines), script/style/comments dropped, entities decoded,
    * whitespace collapsed. The crawl-ingest front door ahead of
    * boilerplate stripping / quality scoring / dedup — full grammar on
    * [[MarkupExtractExpr]]. */
  def extractMarkup(text: Column): Column = MarkupExtractExpr(text)

  /** Markup → MAIN-CONTENT text only: [[extractMarkup]]'s grammar plus
    * block-level boilerplate classification (WSDM 2010 densitometry +
    * HTML5 landmark pruning) — nav bars, footers, sidebars and link
    * lists drop; article text stays. Full contract on
    * [[MainContentExpr]]. */
  def mainContent(html: Column): Column = MainContentExpr(html)

  /** [[mainContent]]'s per-block feature table:
    * `array<struct<text, words, anchor_words, chrome, is_content>>` in
    * page order — the shallow classifier features as data. */
  def mainContentBlocks(html: Column): Column = MainContentBlocksExpr(html)

  /** Canonical URL normalization — the key URL-level dedup and
    * host-level grouping both stand on (two crawls of one page differ
    * by case, default ports, trailing slashes, tracker params and
    * fragments far more often than by content):
    *
    *  - scheme and host lowercase (paths stay case-SENSITIVE per RFC
    *    3986); default ports strip (`:80` for http, `:443` for https);
    *  - trailing path slashes strip (the root path stays `/`; an empty
    *    path becomes `/`);
    *  - the query splits on `&`, drops empty and tracker params
    *    (`utm_*`, `fbclid*`, `gclid*`), SORTS the rest (param order is
    *    presentation, not identity) and rejoins; an emptied query drops
    *    its `?`;
    *  - the fragment drops (never sent to the server).
    *
    * Composed entirely from codegen'd built-ins (regexp extracts + one
    * array sort per row — no custom expression needed), and every step
    * is SQL-replayable: the `t51` gate normalizes fixture-built messy
    * URLs in both engines independently and the hashes must agree.
    * Non-URL input (no `scheme://`) passes through lower-trimmed. */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort =
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val rawPath =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "" || rawPath === "/", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    val params = filter(split(regexp_extract(url, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.startsWith("utm_") && !p.startsWith("fbclid") &&
        !p.startsWith("gclid"))
    val qnorm = array_join(array_sort(params), "&")
    when(scheme === "", lower(trim(url)))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(qnorm === "", lit("")).otherwise(concat(lit("?"), qnorm))))
  }

  /** The lowercase host of a URL (port stripped) — the grouping key for
    * per-site crawl policies (caps, quality priors, licence tags). */
  def urlHost(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      ":[0-9]+$", "")

  /** The registrable domain (eTLD+1) of a URL against a caller-pinned
    * public-suffix list — the per-SITE key domain-level curation policy
    * hangs on (C4/RefinedWeb blocklists, per-domain quality priors,
    * spam-farm caps): `news.example.co.uk` under a list carrying
    * `co.uk` keys as `example.co.uk`, not as the meaningless
    * `news.example.co.uk` or the over-broad `co.uk`.
    *
    * Longest listed suffix wins (the PSL rule); a host not under any
    * listed suffix falls to the PSL's implicit `*` rule (last label is
    * the suffix → last two labels are the domain); a host that IS a
    * listed suffix (or a single bare label) has no registrable domain
    * and yields null. Wildcard/exception PSL rules are out of scope —
    * the caller pins the explicit list. Composed from codegen'd
    * built-ins only (one split + per-length array slices); the list is
    * a plan-time literal, so there is no join and no shuffle. */
  def registrableDomain(url: Column, suffixes: Seq[String]): Column = {
    require(suffixes.nonEmpty, "registrableDomain needs a suffix list")
    require(suffixes.forall(s => s.nonEmpty && !s.startsWith(".") &&
      !s.endsWith(".") && s == s.toLowerCase),
      s"suffixes must be bare lowercase dotted labels; got $suffixes")
    val labels = split(urlHost(url), "\\.")
    val n = size(labels)
    val default = when(n >= 2, concat_ws(".", slice(labels, -2, 2)))
    // fold ASCENDING so the longest suffix length lands outermost in the
    // CASE chain — longest match wins
    suffixes.groupBy(_.count(_ == '.') + 1).toSeq.sortBy(_._1)
      .foldLeft(default) { case (acc, (m, sfx)) =>
        when(n >= m && concat_ws(".", slice(labels, -m, m))
            .isin(sfx: _*),
          when(n >= m + 1, concat_ws(".", slice(labels, -(m + 1), m + 1))))
          .otherwise(acc)
      }
  }

  /** The JSON-LD blocks of a page — the
    * `<script type="application/ld+json">` payloads carrying
    * schema.org structured data (articles, products, breadcrumbs…),
    * the machine-readable metadata a crawl pipeline harvests alongside
    * t60's meta tags. One case-insensitive regexp pass per page
    * (script elements never nest, so the non-greedy body IS the
    * grammar, the sitemap-loc argument), whitespace-trimmed; parse
    * fields from each block with `get_json_object` (codegen'd —
    * malformed JSON yields null, never a task kill). Map-side only. */
  def jsonLdBlocks(html: Column): Column =
    transform(
      regexp_extract_all(html,
        lit("(?is)<script[^>]*type\\s*=\\s*[\"']application/ld\\+json[\"']" +
          "[^>]*>(.*?)</script>"), lit(1)),
      // trim() strips SPACES only — script bodies wrap in newlines
      b => regexp_replace(b, "^\\s+|\\s+$", ""))

  /** The `<loc>` URLs of a sitemap XML body (sitemaps.org protocol —
    * the discovery leg robots.txt's `Sitemap:` lines point at), entity-
    * decoded as the protocol requires (`&amp;` is MANDATORY escaping in
    * sitemap URLs) and whitespace-trimmed. One regexp pass + the markup
    * entity decoder per URL; `<loc>` elements never nest, so the
    * non-greedy element regex IS the grammar. */
  def sitemapUrls(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("<loc>\\s*([^<]*?)\\s*</loc>"), lit(1)),
      u => MarkupExtractExpr(u))

  /** [[sitemapUrls]] with the protocol's change signal attached: per
    * `<url>` block, `(loc, lastmod)` — `lastmod` raw (W3C datetime by
    * spec; the feedEntryTimestamp stance on dialect parsing) and null
    * when the block omits it. A sitemap with lastmods schedules like a
    * feed (fetch what changed since the last poll) instead of like a
    * URL list (fetch everything); entries without a `<loc>` are
    * dropped — nothing to fetch. One block extraction + two per-block
    * extractions, map-side. */
  def sitemapEntries(xml: Column): Column =
    filter(
      transform(
        regexp_extract_all(xml,
          lit("(?is)<url\\s*>(.*?)</url\\s*>"), lit(1)),
        b => struct(
          MarkupExtractExpr(nullIfEmpty(regexp_extract(b,
            "(?is)<loc\\s*>\\s*([^<]*?)\\s*</loc\\s*>", 1))).as("loc"),
          nullIfEmpty(regexp_extract(b,
            "(?is)<lastmod\\s*>\\s*([^<]*?)\\s*</lastmod\\s*>", 1))
            .as("lastmod"))),
      e => e.getField("loc").isNotNull)

  /** The `<entry>`/`<item>` blocks of an Atom (RFC 4287) or RSS 2.0 feed
    * body — the third discovery leg next to sitemaps and outlinks: a
    * feed names the pages that CHANGED recently, so polling it finds
    * fresh content without recrawling the site. One regexp pass per
    * feed; entry/item elements never nest (both specs), so the
    * non-greedy block regex IS the grammar, and feed-level metadata
    * (channel links, the feed's own `<updated>`) stays outside the
    * blocks by construction. */
  def feedEntryBlocks(xml: Column): Column =
    regexp_extract_all(xml,
      lit("(?is)<(entry|item)\\b[^>]*>(.*?)</\\1\\s*>"), lit(2))

  /** One entry block's target URL: Atom's `<link href="…">` (first link
    * element — plant the alternate first; rel-qualified self links are
    * feed plumbing) or RSS's text-content `<link>…</link>`, whichever
    * matches first, entity-decoded (the sitemapUrls contract — `&amp;`
    * is mandatory XML escaping) and whitespace-trimmed. Null when the
    * block carries no link. */
  def feedEntryUrl(block: Column): Column =
    MarkupExtractExpr(coalesce(
      nullIfEmpty(regexp_extract(block,
        s"""(?is)<link\\b[^>]*${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["']""",
        1)),
      nullIfEmpty(regexp_extract(block,
        "(?is)<link\\s*>\\s*([^<]*?)\\s*</link\\s*>", 1))))

  /** One entry block's change timestamp, as the raw feed string: Atom's
    * `<updated>` (ISO 8601 by spec) falling back to RSS's `<pubDate>`
    * (RFC 822 by spec) — surfaced untouched so the caller chooses the
    * parse (to_timestamp formats differ per feed dialect and real feeds
    * violate both specs; a failed parse should be the caller's policy,
    * not a silent drop here). Null when the block carries neither. */
  def feedEntryTimestamp(block: Column): Column =
    coalesce(
      nullIfEmpty(regexp_extract(block,
        "(?is)<updated\\s*>\\s*([^<]*?)\\s*</updated\\s*>", 1)),
      nullIfEmpty(regexp_extract(block,
        "(?is)<pubDate\\s*>\\s*([^<]*?)\\s*</pubDate\\s*>", 1)))

  /** RFC 9111 `Cache-Control` response directives — the three a crawl
    * scheduler acts on: `max_age` (seconds the server declares the
    * response fresh; null when absent or malformed), `no_store` (do not
    * keep a copy — conditional revalidation is pointless without one)
    * and `immutable` (RFC 8246: the representation will not change
    * within its freshness lifetime). Directive names match
    * case-insensitively at token positions (the NoAttrPrefix guard
    * rejects `x-max-age`), values may be quoted per the header grammar.
    * One regexp pass per directive, map-side. */
  def cacheControl(header: Column): Column = struct(
    nullIfEmpty(regexp_extract(header,
      s"""(?i)${NoAttrPrefix}max-age\\s*=\\s*"?(\\d+)""", 1))
      .cast("long").as("max_age"),
    coalesce(header.rlike(s"""(?i)${NoAttrPrefix}no-store\\b"""),
      lit(false)).as("no_store"),
    coalesce(header.rlike(s"""(?i)${NoAttrPrefix}immutable\\b"""),
      lit(false)).as("immutable"))

  /** RFC 9110 §10.2.3 `Retry-After`, delta-seconds form — the value a
    * 429/503 response uses to say WHEN to come back. Null when absent,
    * malformed, or in the HTTP-date form (see [[retryAfterDateEpoch]]
    * for that — RFC 9110 allows both, and the caller composes them as
    * `coalesce(ts + delta, dateEpoch)` since a delta is relative to the
    * response time while a date is already absolute; real rate limiters
    * overwhelmingly send delta-seconds, so the delta parse keeps
    * precedence). Whitespace-tolerant, digits only (a negative or
    * fractional value is malformed per the ABNF). */
  def retryAfterSeconds(header: Column): Column =
    nullIfEmpty(regexp_extract(header, "^\\s*(\\d+)\\s*$", 1)).cast("long")

  /** RFC 9110 §10.2.3 `Retry-After`, HTTP-date form — the IMF-fixdate
    * grammar (§5.6.7: `Sun, 06 Nov 1994 08:49:37 GMT`), parsed to epoch
    * SECONDS; null when absent or malformed (`try_to_timestamp`
    * underneath, so a garbage value falls back to the caller's generic
    * backoff instead of raising — header fields are untrusted input).
    * The zone token must name GMT/UTC per the RFC; the obsolete
    * rfc850/asctime forms stay unparsed (a server emitting them in 2026
    * is itself malformed). Day-of-week names are VALIDATED against the
    * date — Spark's post-3.0 parser can't PARSE 'EEE' (format-only
    * symbol), so the name is split off by regex and checked against the
    * epoch's day-of-week in timezone-free integer arithmetic
    * (1970-01-01 was a Thursday) — stricter than C `strptime` (which
    * ignores %a consistency), deterministic either way. */
  def retryAfterDateEpoch(header: Column): Column = {
    val cleaned = trim(header)
    val full = "^(Mon|Tue|Wed|Thu|Fri|Sat|Sun), " +
      "(\\d{2} [A-Z][a-z]{2} \\d{4} \\d{2}:\\d{2}:\\d{2} GMT)$"
    val dname = regexp_extract(cleaned, full, 1)
    val body = nullIfEmpty(regexp_extract(cleaned, full, 2))
    val ep = unix_timestamp(
      try_to_timestamp(body, lit("dd MMM yyyy HH:mm:ss zzz")))
    val dow = pmod(floor(ep / lit(86400)) + 4, lit(7)).cast("int")
    val names = array(lit("Sun"), lit("Mon"), lit("Tue"), lit("Wed"),
      lit("Thu"), lit("Fri"), lit("Sat"))
    when(element_at(names, dow + 1) === dname, ep)
  }

  /** The `Sitemap:` lines of a robots.txt body (RFC 9309 §2.3 — they
    * bind to the whole host, independent of any user-agent group, which
    * is why this is a separate extraction and not part of
    * [[RobotsRulesExpr]]'s group selection). Case-insensitive field
    * name, one URL per line, comments stripped by the value regex
    * (a sitemap URL never contains whitespace or `#`). */
  def robotsSitemaps(robotsTxt: Column): Column =
    regexp_extract_all(robotsTxt,
      lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^\\s#]+)"), lit(1))

  // ------------------------------------------------------- HTML metadata
  // The curation signals a page carries OUTSIDE its visible text — title,
  // meta description, canonical URL, declared language. All composed from
  // codegen'd regexp built-ins (+ the markup entity decoder where text
  // can carry entities), so they fuse into the ingest scan alongside
  // extractMarkup; and all SQL-replayable, so gates hash them.

  // Tag names end at a word boundary (`<a\b` rejects `<article`) and
  // attribute names must NOT be preceded by a word char or '-'
  // ((?<![\w-]) rejects `data-href`/`data-name`) — without both, a page
  // carrying <article data-href="/tracker"> would feed phantom URLs
  // into the frontier. Java-regex lookbehind is fine here: these run
  // Spark-side only (gates reconstruct fields in closed form).
  private val NoAttrPrefix = """(?<![\w-])"""

  /** `<title>` text, whitespace-trimmed, entities decoded. */
  def htmlTitle(html: Column): Column =
    MarkupExtractExpr(
      trim(regexp_extract(html, "(?is)<title\\b[^>]*>(.*?)</title>", 1)))

  /** A `<meta name=... content=...>` value (description, keywords,
    * robots…), tolerating either attribute order; entities decoded. */
  def htmlMetaContent(html: Column, name: String): Column = {
    val n = java.util.regex.Pattern.quote(name)
    MarkupExtractExpr(coalesce(
      nullIfEmpty(regexp_extract(html,
        s"""(?is)<meta\\b[^>]*${NoAttrPrefix}name\\s*=\\s*["']$n["'][^>]*${NoAttrPrefix}content\\s*=\\s*["']([^"']*)["']""",
        1)),
      nullIfEmpty(regexp_extract(html,
        s"""(?is)<meta\\b[^>]*${NoAttrPrefix}content\\s*=\\s*["']([^"']*)["'][^>]*${NoAttrPrefix}name\\s*=\\s*["']$n["']""",
        1)),
      lit("")))
  }

  /** The `<link rel="canonical">` href — the dedup key SEO-aware sites
    * publish themselves; either attribute order. */
  def htmlCanonical(html: Column): Column =
    coalesce(
      nullIfEmpty(regexp_extract(html,
        s"""(?is)<link\\b[^>]*${NoAttrPrefix}rel\\s*=\\s*["']canonical["'][^>]*${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["']""",
        1)),
      nullIfEmpty(regexp_extract(html,
        s"""(?is)<link\\b[^>]*${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["'][^>]*${NoAttrPrefix}rel\\s*=\\s*["']canonical["']""",
        1)),
      lit(""))

  /** The `<html lang=…>` declaration — the author's language claim, the
    * prior a language-ID stage starts from. */
  def htmlLang(html: Column): Column =
    regexp_extract(html,
      s"""(?is)<html\\b[^>]*${NoAttrPrefix}lang\\s*=\\s*["']?([A-Za-z][A-Za-z0-9-]*)""",
      1)

  /** All `<a href=…>` targets, entities decoded — the outlink harvest
    * [[UrlResolveExpr]] absolutizes into frontier candidates. */
  def htmlLinks(html: Column): Column =
    transform(
      regexp_extract_all(html,
        lit(s"""(?is)<a\\b[^>]*${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["']"""),
        lit(1)),
      h => MarkupExtractExpr(h))

  /** `(href, anchor)` pairs — the link TEXT harvest: anchor text is the
    * label humans (and retrieval trainers — DPR/anchor-text pretraining)
    * read for a target page, so it pairs each outlink with a natural
    * query-like description. Two aligned extractions of one pattern
    * (open tag, inner markup) zip positionally; the inner markup runs
    * through the full [[MarkupExtractExpr]] state machine (nested tags
    * stripped, entities decoded, whitespace collapsed) with any
    * remaining newlines flattened to spaces — one label, one line.
    * Nested `<a>` tags don't exist in valid HTML (browsers auto-close),
    * so the non-greedy inner IS the grammar, the htmlLinks stance. */
  def htmlAnchors(html: Column): Column = {
    val pat = "(?is)(<a\\b[^>]*>)(.*?)</a\\s*>"
    val hrefIn =
      s"""(?is)${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["']"""
    zip_with(
      regexp_extract_all(html, lit(pat), lit(1)),
      regexp_extract_all(html, lit(pat), lit(2)),
      (t, i) => struct(
        MarkupExtractExpr(regexp_extract(t, hrefIn, 1)).as("href"),
        trim(regexp_replace(MarkupExtractExpr(i), "\\s+", " "))
          .as("anchor")))
  }

  /** [[htmlLinks]] minus the links the page asked crawlers not to
    * endorse: an `<a>` tag whose `rel` carries a `nofollow`,
    * `sponsored` or `ugc` token (quoted, list-valued or bare —
    * `rel="ugc nofollow"` and `rel=nofollow` both count) is dropped —
    * the per-LINK half of the compliance contract whose per-PAGE half
    * is [[graft.operators.Frontier.pageDirectives]]. Same one-pass
    * shape: the tag list extracts once, the rel test and the href
    * extraction run per tag. The rel test runs on a copy of the tag
    * with every OTHER attribute's value blanked first, so a token like
    * `nofollow` hiding inside another attribute's value — e.g.
    * `<a href="/out?rel=nofollow">` — cannot masquerade as a rel
    * directive; href extraction still reads the original tag. */
  def htmlFollowableLinks(html: Column): Column = {
    val tags = regexp_extract_all(html, lit("(?is)<a\\b[^>]*>"), lit(0))
    // blank the values of all attributes except rel (quoted or bare) so
    // the rel test below only ever sees genuine rel attribute values
    val nonRelValues =
      s"""(?is)${NoAttrPrefix}((?!rel\\b)[\\w-]+)\\s*=\\s*("[^"]*"|'[^']*'|[^\\s"'>]+)"""
    val noFollowRel =
      s"""(?is).*${NoAttrPrefix}rel\\s*=\\s*("[^"]*\\b(nofollow|sponsored|ugc)\\b[^"]*"|'[^']*\\b(nofollow|sponsored|ugc)\\b[^']*'|(nofollow|sponsored|ugc)\\b).*"""
    val hrefIn =
      s"""(?is)${NoAttrPrefix}href\\s*=\\s*["']([^"']*)["']"""
    filter(
      transform(
        filter(tags,
          t => !regexp_replace(t, nonRelValues, "$1=x").rlike(noFollowRel)),
        t => MarkupExtractExpr(regexp_extract(t, hrefIn, 1))),
      h => h =!= "")
  }

  private def nullIfEmpty(c: Column): Column = when(c === "", null).otherwise(c)
}
