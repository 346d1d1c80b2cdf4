package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Closes the silent-interpreted-fallback defect class (round-15 verdict:
  * `term_set_best`'s generated cast used a JVM array descriptor, Janino
  * rejected it, and the whole curation projection stage silently ran
  * interpreted while results stayed bit-correct — no test could see it).
  *
  * Two layers of defense, because PLAN-STRING assertions cannot catch this
  * (the plan still prints `WholeStageCodegen`; the fallback happens at
  * Janino-compile time inside `CodeGeneratorWithInterpretedFallback`):
  *
  *  1. a direct `GenerateUnsafeProjection.generate` call, which has NO
  *     interpreted fallback — a codegen bug throws here;
  *  2. a sweep of one gate per custom-kernel family under
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (the mode Spark's own
  *     test suite uses for exactly this purpose) plus
  *     `spark.sql.codegen.fallback=false` (whole-stage layer), so ANY
  *     expression in those paths that fails to compile aborts the query
  *     instead of degrading it.
  */
class CodegenCompileSpec extends SparkSpec {

  test("term_set_best generated code compiles under Janino and evaluates") {
    val expr = graft.functions.TermSetBestExpr(
      BoundReference(0, ArrayType(StringType), nullable = true),
      sets = Seq(Seq("the", "and"), Seq("le", "la")),
      labels = Seq("en", "fr"), default = "und")
    // throws CompileException on a bad generated cast — no fallback here
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    def run(words: String*): String = {
      val arr = new GenericArrayData(
        words.toArray[Any].map(w => UTF8String.fromString(w.toString)))
      proj(InternalRow(arr)).getUTF8String(0).toString
    }
    assert(run("the", "and", "x") == "en")
    assert(run("le", "la", "la") == "fr")
    assert(run("zzz") == "und")
  }

  // one gate per custom-Expression family in graft/functions/
  private val kernelGates = Seq(
    "t1_langid",            // TermFreqs (term_set_best / term_set_counts)
    "t1b_langid_ngram",     // CharNgrams
    "t64_curation_pipeline",// composed curation hot path
    "t63_unigram_tokens",   // Unigram (model reference obj)
    "t57_dictionary_tag",   // DictionaryMatch (AhoCorasick reference obj)
    "t59_http_payload",     // Http
    "t59b_http_chunked",    // Http chunked decode
    "t52_warc_roundtrip",   // Warc
    "t48_markup_extract",   // MarkupExtract
    "t50_pdf_extract",      // Pdf
    "t55_charset",          // CharsetDecode
    "t62_nfc_normalize",    // NfcNormalize, UnicodeFold
    "t58_compressibility",  // Compressibility
    "t51_url_normalize",    // UrlResolve
    "t54b_robots_wildcard", // Robots
    "t6_redact_pii",        // SpanMask / WordSpans
    "t18c_chunk_cdc",       // CdcChunks
    "d2_dedup_minhash",     // MinhashSignature + ShingleHashSet
    "d3_dedup_simhash",     // fused simhash
    "d18_jaccard_join",     // SortedShingles + SortedJaccard
    "a1_ann_brute",         // CosineSimilarity
    "a2_ann_lsh",           // HyperplaneSketch
    "a3_ann_ivf",           // NearestCentroids (centroid matrix reference obj)
    "p1_ann_pq",            // PqCodes (double[][][] reference objs)
    "t65_main_content",     // MainContent (r16)
    "t67_crawl_backedge",   // composed Http+MainContent+UrlResolve (r16)
    "d23_dsir_select",      // WordGrams multiset kernel (r16)
    "m16_interleave",       // Chunk/Pack composition incl. encoders (r16)
    "t65b_main_content_blocks", // array<struct> block-table kernel (r16)
    "m16b_interleave_media",    // image decode feeding assembly (r16)
    "d24_substr_dedup",         // RunHash doubling ladder (r17)
    "t73_docx_extract",         // Docx zip/XML codec (r17)
  )

  /** The families whose generated code references model OBJECTS (word-list
    * sets, automata, codebooks) or array<struct> rows — the shapes Janino
    * has actually rejected (the r15 term_set_best defect was this class).
    * This subset stays in the default `sbt test` run; the full one-gate-
    * per-family sweep below is tagged Slow (volume variant of the same
    * defect-class check, ~60 s of the suite's budget). */
  private val referenceObjGates = Seq(
    "t1_langid", "t63_unigram_tokens", "t57_dictionary_tag", "p1_ann_pq",
    "d2_dedup_minhash", "t65b_main_content_blocks", "a3_ann_ivf")

  private def codegenOnlySweep(gates: Seq[String]): Unit = {
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (q <- gates) {
        val rows =
          try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect()
          catch {
            case e: Throwable =>
              fail(s"$q failed under CODEGEN_ONLY — an expression in its " +
                s"path does not compile under Janino: ${e.getMessage}", e)
          }
        assert(rows.nonEmpty, s"$q returned no rows at sf0.001")
      }
    } finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        v => conf.set("spark.sql.codegen.factoryMode", v))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        v => conf.set("spark.sql.codegen.fallback", v))
    }
  }

  test("reference-object kernel gates run under CODEGEN_ONLY (default gate)") {
    codegenOnlySweep(referenceObjGates)
  }

  test("kernel gates run end-to-end under CODEGEN_ONLY (fallback would throw)",
      Slow) {
    codegenOnlySweep(kernelGates.filterNot(referenceObjGates.contains))
  }
}
