package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.NearestCentroids
import graft.operators.Ann

/** The IVF assignment contract of the fused nearest-centroid kernel, and
  * the build's single read of its input. */
class IvfAssignSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  /** One `cosine(v, lit(c))` struct per centroid: the spelling the kernel
    * replaced, kept as its reference. */
  private def scoredStructs(v: Column, cs: Seq[(Int, Array[Double])]): Seq[Column] =
    cs.map { case (cid, c) => struct(Ann.cosine(v, lit(c)).as("cos"), lit(cid).as("cid")) }

  /** The reference ranking: a descending struct sort, i.e. the order
    * `greatest` picks rank 1 by. */
  private def structRanked(v: Column, cs: Seq[(Int, Array[Double])], k: Int): Column =
    slice(sort_array(array(scoredStructs(v, cs): _*), asc = false), 1, k)

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The kernel's two evaluation paths. Generated code must compile (no
    * silent interpreted fallback), and a projection over a local relation
    * must not be folded away by the optimizer's interpreted evaluation. */
  private val evalPaths = Seq(
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("nearest-centroid kernel equals the per-centroid struct spelling, every rank") {
    val rnd = new scala.util.Random(20261019L)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian())
    val dim = 6
    val b = Seq.fill(6)(gauss(dim))
    val e1 = Array(1.0, 0, 0, 0, 0, 0)
    val e2 = Array(0.0, 1, 0, 0, 0, 0)
    // unsorted cids; 17/42 are the same centroid (exact ties), 8 is shorter
    // and 25 longer than the rows, e1/e2 score 0.0 on rows along axis 3
    val organic = Seq(17 -> b(0), 3 -> b(1), 42 -> b(0), 8 -> b(2).take(4),
      25 -> (b(3) :+ 0.5), 1 -> e1, 2 -> e2, 30 -> b(4), 11 -> b(5))
    // a zero centroid scores NaN against every row
    val withNaN = organic :+ (5 -> Array.fill(dim)(0.0))
    val rows: Seq[Option[Seq[Double]]] =
      Seq.fill(40)(Some(gauss(dim).toSeq)) ++
        Seq(0, 3, 7, 9).map(n => Some(gauss(n).toSeq)) ++
        Seq(None, Some(Seq.fill(dim)(0.0)), Some(Seq.empty[Double]),
          Some(Seq(-0.0, -0.0, 1.0, 0.0, -0.0, 0.0)), Some(Seq(0.0, 0.0, -2.0, 0, 0, 0)),
          Some(b(0).toSeq), Some(b(0).map(_ * 4).toSeq))
    val base = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (cs <- Seq(organic, withNaN); elem <- Seq(FloatType, DoubleType, IntegerType);
         (path, conf) <- evalPaths) {
      val df = base.select(col("id"),
        (if (elem == IntegerType) transform(col("v"), x => x * 3) else col("v"))
          .cast(ArrayType(elem)).as("v"))
      val ks = 1 to cs.size
      val cols = col("id") +: greatest(scoredStructs(col("v"), cs): _*).as("g") +:
        ks.flatMap(k => Seq(NearestCentroids(col("v"), cs, k).as(s"n$k"),
          structRanked(col("v"), cs, k).as(s"r$k")))
      val out = withConf(conf: _*)(df.select(cols: _*).collect())
      assert(out.length == rows.length)
      for (r <- out; k <- ks) {
        val got = r.getSeq[Row](r.fieldIndex(s"n$k")).map(x => (x.getInt(0), bits(x, 1)))
        val want = r.getSeq[Row](r.fieldIndex(s"r$k")).map(x => (x.getInt(1), bits(x, 0)))
        assert(got == want, s"row ${r.getLong(0)}, $elem, k=$k, $path")
        val g = r.getAs[Row]("g")
        assert(got.head == ((g.getInt(1), bits(g, 0))), s"rank 1 is the argmax, row ${r.getLong(0)}")
      }
    }
  }

  test("NaN scores rank first and equal scores go to the larger cid, at every rank") {
    val cs = Seq(0 -> Array(0.0, 0.0), 1 -> Array(1.0, 0.0), 2 -> Array(0.0, 1.0),
      3 -> Array(1.0, 1.0), 5 -> Array(2.0, 0.0))
    val df = Seq((1L, Some(Seq(1.0, 0.2))), (2L, Some(Seq(0.0, 0.0))), (3L, None),
      (4L, Some(Seq(-0.0, 1.0)))).toDF("id", "v")
    for ((path, conf) <- evalPaths) {
      val got = withConf(conf: _*)(
        df.select(col("id"), NearestCentroids(col("v"), cs, cs.size).as("n")).collect())
        .map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap
      def cids(id: Long) = got(id).map(_.getInt(0))
      // the zero centroid's NaN outranks cosine 0.98; 5 and 1 tie exactly
      assert(cids(1) == Seq(0, 5, 1, 3, 2))
      assert(got(1).head.getDouble(1).isNaN)
      // a zero row scores NaN everywhere and a null row null: ranked by cid
      assert(cids(2) == Seq(5, 3, 2, 1, 0) && got(2).forall(_.getDouble(1).isNaN))
      assert(cids(3) == Seq(5, 3, 2, 1, 0) && got(3).forall(_.isNullAt(1)))
      // -0.0 in the row: 5 and 1 both score 0.0, the larger cid first
      assert(cids(4) == Seq(0, 2, 3, 5, 1))
      assert(got(4).map(_.getDouble(1)).slice(3, 5) == Seq(0.0, 0.0), path)
    }
  }

  test("nlist = 1024 and nlist = 1 builds plan and run; the plan does not grow with nlist") {
    val df = (0 until 1100).map(i => (i.toLong, randVec(i, 8))).toDF("id", "v")
    val idx = Ann.ivfBuild(df, "id", "v", nlist = 1024, iterations = 1)
    assert(idx.centroids.size == 1024)
    val got = idx.clustered.select("id", "gr_cluster").collect()
    assert(got.length == 1100 && got.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 1024))
    // one centroid: every row lands in cluster 0 (`greatest` refused one argument)
    val one = Ann.ivfBuild(df, "id", "v", nlist = 1).clustered
      .select("gr_cluster").distinct().collect().map(_.getInt(0))
    assert(one.toSeq == Seq(0))
    def planChars(nlist: Int): Int = {
      val c = Ann.ivfBuild(df, "id", "v", nlist = nlist, iterations = 0).clustered
      c.collect()
      c.queryExecution.analyzed.toString.length
    }
    val (small, large) = (planChars(4), planChars(1024))
    assert(large < small + 16, s"plan chars: nlist=4 $small, nlist=1024 $large")
  }

  /** Rows parquet scans produced across `qes`. A cached scan is one plan
    * node shared by every execution that reads the cache, so each scan is
    * counted once, by its metric's id. */
  private def parquetRowsRead(qes: Seq[QueryExecution]): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    qes.flatMap(qe => scans(qe.executedPlan)).map(_.metrics("numOutputRows"))
      .distinctBy(_.id).map(_.value).sum
  }

  test("ivfBuild plus its first consumer reads the input from parquet once") {
    val dir = tmpDir("ivf_once")
    val n = 600
    (0 until n).map(i => (i.toLong, randVec(i, 8))).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def buildAndProbe(): Array[Row] = {
      val idx = Ann.ivfBuild(spark.read.parquet(dir), "id", "v", nlist = 4, iterations = 2)
      Ann.ivfTopK(idx, "id", "v", randVec(7, 8), k = 3, nprobe = 2).collect()
    }
    val (top, qes) = executionsDuring(buildAndProbe())
    assert(top.length == 3)
    // sample, two Lloyd rounds and the probe: 4 reads without the cache
    assert(parquetRowsRead(qes) == n)
    assert(spark.read.parquet(dir).storageLevel == StorageLevel.NONE,
      "the build's cache is released after its first consumer's action")
    // an input the caller cached is read as is and stays the caller's
    val cached = spark.read.parquet(dir).persist()
    try {
      assert(buildAndProbe().toSeq == top.toSeq)
      assert(cached.storageLevel != StorageLevel.NONE)
    } finally cached.unpersist()
  }

  test("annCorpus keeps embeddings.label's type; a plan reading label runs") {
    val dir = tmpDir("ann_corpus")
    Seq((0L, Seq(1f, 0f), 3), (1L, Seq(0f, 1f), 4)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val corpus = graft.gates.GateSupport.annCorpus(spark, dir)
    assert(corpus.schema("label").dataType == IntegerType)
    val labels = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(labels.size == 12 && labels(0L).contains(3) && labels(1L).contains(4))
    assert((0 until 10).forall(i => labels(9000000L + i).isEmpty))
  }
}
