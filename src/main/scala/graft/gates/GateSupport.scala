package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextFunctions
import graft.operators.Ann

/** Helpers that more than one gate family reads. */
private[graft] object GateSupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal image of a 2-decimal-place double measure. */
  def dec(c: Column): Column = c.cast("decimal(10,2)")
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  def queryVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  /** embeddings ∪ ten planted copies of the query vector scaled by exact
    * powers of two (2^-5 … 2^4): direction is preserved BIT-EXACTLY (power-
    * of-two scaling is an exponent shift), so each planted row's cosine with
    * the query is exactly 1.0 and the true top-10 is the planted id range in
    * id order. Approximate search over this corpus is therefore fully
    * oracle-expressible, and the hash match IS the recall gate: any
    * sketch/routing inconsistency (e.g. driver-side vs executor-side sketch
    * drift, mis-probed cluster) loses a planted row and goes red. */
  def annCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + 9000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit("planted").as("label"))
    e.unionByName(planted)
  }

  val AnnPlanesFixture = "/tmp/graft_fixtures/ann_planes.parquet"

  /** The seeded hyperplanes persisted for DuckDB's sketch replay. Written
    * by EVERY gate whose oracle reads it (a6 AND h1) — an oracle fixture
    * owned by a different gate's runner desyncs the moment that gate's
    * parameters change, and breaks filtered verify runs on a clean host. */
  def writeAnnPlanesFixture(s: SparkSession): Unit = {
    import s.implicits._
    Ann.hyperplanes(64, 8, 42L).zipWithIndex
      .map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(AnnPlanesFixture)
  }

  /** The d26/st23 fixture: every document re-lined into 6-word
    * newline-lines, a "subscribe" footer planted on doc_id % 4 == 0. */
  def linedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ws = graft.functions.TextFunctions.words(col("text"))
    docs
      .select(col("doc_id"), ws.as("__w"),
        greatest(lit(1L), ceil(size(ws) / lit(6.0)).cast("long")).as("__nl"))
      .select(col("doc_id"),
        concat_ws("\n", transform(sequence(lit(0L), col("__nl") - 1),
          i => concat_ws(" ",
            slice(col("__w"), (i * 6 + 1).cast("int"), lit(6))))).as("__body"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("__body"), lit("\nsubscribe to our newsletter today")))
          .otherwise(col("__body")).as("text"))
  }

  /** The query TABLE for the lexical join gates: constructed as a
    * DataFrame (the operator's contract — no driver literals inside the
    * operator), replayed verbatim as a VALUES list in the oracle. */
  def bm25JoinQueries(s: SparkSession) = {
    import s.implicits._
    Seq(
      (0L, Seq("agg", "scan", "window")),
      (1L, Seq("join", "key")),
      (2L, Seq("vector", "batch", "stream")),
      (3L, Seq("the", "a")),
      (4L, Seq("merge", "sort", "filter"))
    ).toDF("query_id", "terms")
  }
}
