package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path

import graft.api.Graft
import graft.core.JsonFile
import graft.operators.{Ann, Dedup, GraphAnn, Pq, Retrieval}

/** The index sidecars, drift records and `writeObject`'s orient branch all
  * spell JSON through [[graft.core.JsonFile]]: non-finite numbers are
  * written as `null`, names and values are escaped, a sidecar's file
  * system comes from the session's Hadoop conf, and files written in the
  * older hand-built spelling (a bare `NaN`, a field left out) still read. */
class SidecarSpec extends SparkSpec {
  import spark.implicits._

  private def vec(id: Long, dim: Int): Array[Float] =
    Array.tabulate(dim) { j =>
      val h = id * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
      (((h >>> 40) & 0x3FF) / 512.0f) - 1f
    }

  private def corpus(n: Int, idCol: String = "vec_id", vecCol: String = "embedding") =
    (0L until n.toLong).map(i => (i, vec(i, 8))).toDF(idCol, vecCol)

  private def text(path: String, name: String): String =
    Files.readString(Paths.get(path, name))

  private def fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())

  /** Overwrite through Hadoop, so the local file system's checksum follows. */
  private def put(path: String, name: String, json: String): Unit = {
    val out = fs.create(new Path(path, name), true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
  }

  test("JsonFile: non-finite numbers write as null and read back as null") {
    val p = new Path(tmpDir("jsonfile"), "x.json")
    JsonFile.write(fs, p, "a" -> 1, "b" -> Double.NaN, "c" -> Float.PositiveInfinity,
      "d" -> null, "e" -> "q\"\\", "f" -> 2.5, "a" -> 3)
    assert(Files.readString(Paths.get(p.toString)) ==
      """{"a":3,"b":null,"c":null,"d":null,"e":"q\"\\","f":2.5}""")
    put(p.getParent.toString, p.getName, """{"x":NaN,"y":-Infinity,"z":1.0}""")
    val n = JsonFile.read(fs, p)
    assert(!n.hasNonNull("x") && !n.hasNonNull("y") && n.get("z").asDouble == 1.0)
    // a missing field and null read alike through a defaulted path
    assert(n.path("x").asDouble(-1.0) == -1.0 && n.path("w").asDouble(-1.0) == -1.0)
    assert(n.path("x").asInt(7) == 7 && n.path("x").asText("d") == "d")
  }

  test("JsonFile: the reader is strict") {
    val p = new Path(tmpDir("jsonfile_strict"), "x.json")
    for (bad <- Seq("""{"a":1,"a":2}""", """{"a":1} {"b":2}""", """[1]""", ""))
      withClue(bad) {
        put(p.getParent.toString, p.getName, bad)
        intercept[Exception](JsonFile.read(fs, p))
      }
  }

  test("an IVF corpus with a zero vector writes, reads, and refuses drift clearly") {
    val path = tmpDir("ivf_zero")
    val df = corpus(60).unionByName(Seq((999L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    Ann.ivfWrite(Ann.ivfBuild(df, "vec_id", "embedding", nlist = 3), path)
    assert(text(path, Ann.IvfParamsSidecar).contains("\"build_mean_cos\":null"))
    assert(Ann.ivfRead(spark, path).clustered.count() == 61)
    // an appended zero vector's drift record holds null, not NaN
    Ann.ivfAppend(spark, path, Seq((1000L, Array.fill(8)(0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "zero")
    assert(text(s"$path/${Ann.IvfDriftDir}", "zero.json") ==
      """{"tag":"zero","rows":1,"mean_cos":null}""")
    val e = intercept[IllegalArgumentException](Ann.ivfDriftReport(spark, path))
    assert(e.getMessage.contains("no finite build-time baseline"), e.getMessage)
  }

  test("ivfWrite and nswWrite round-trip a quote and a backslash in column names") {
    val (idCol, vecCol) = ("id\"x\\y", "v\"e\\c")
    val path = tmpDir("nsw_escape")
    val idx = Ann.ivfBuild(corpus(60, idCol, vecCol), idCol, vecCol, nlist = 2)
    GraphAnn.nswWrite(GraphAnn.nswBuild(idx, idCol, m = 4, efConstruction = 8), path)
    val back = GraphAnn.nswRead(spark, path)
    assert(back.idCol == idCol && back.base.vecCol == vecCol)
    assert(Ann.ivfRead(spark, path).vecCol == vecCol)
  }

  test("writeObject orient records and columns escape column names") {
    val dir = tmpDir("orient_names")
    val df = Seq((1, "x")).toDF("a\"b", "c\\d")
    val mapper = new ObjectMapper()
    Graft.writeObject(df, s"$dir/r.json", options = Map("orient" -> "records"))
    val r = mapper.readTree(Files.readString(Paths.get(s"$dir/r.json")))
    assert(r.get(0).get("a\"b").asInt == 1 && r.get(0).get("c\\d").asText == "x")
    Graft.writeObject(df, s"$dir/c.json", options = Map("orient" -> "columns"))
    val c = mapper.readTree(Files.readString(Paths.get(s"$dir/c.json")))
    assert(c.get("a\"b").get("0").asInt == 1 && c.get("c\\d").get("0").asText == "x")
  }

  test("pqWrite and pqRead work on a file system known only to the session conf") {
    val dir = tmpDir("pq_session_fs")
    val data = corpus(200)
    val model = Pq.pqTrain(data, "vec_id", "embedding", m = 2, k = 4)
    spark.conf.set("fs.sessionfs.impl", classOf[SessionOnlyFileSystem].getName)
    spark.conf.set("fs.sessionfs.impl.disable.cache", "true")
    try {
      val path = s"sessionfs://$dir"
      Pq.pqWrite(Pq.pqEncode(data, "vec_id", "embedding", model), model, path)
      val (back, codes) = Pq.pqRead(spark, path)
      assert(back.m == 2 && back.k == 4 && codes.count() == 200)
      assert(Files.isRegularFile(Paths.get(dir, Pq.PqParamsSidecar)))
    } finally {
      spark.conf.unset("fs.sessionfs.impl")
      spark.conf.unset("fs.sessionfs.impl.disable.cache")
    }
  }

  test("sidecars and drift records in the older hand-built spelling still read") {
    // IVF: no generation and a bare NaN baseline
    val ivf = tmpDir("ivf_parent")
    Ann.ivfWrite(Ann.ivfBuild(corpus(60), "vec_id", "embedding", nlist = 3), ivf)
    assert(text(ivf, Ann.IvfParamsSidecar).matches(
      """\{"dim":8,"nlist":3,"vec_col":"embedding","build_mean_cos":[-0-9.E]+,"assign_top":1\}"""))
    put(s"$ivf/${Ann.IvfDriftDir}", "t.json", """{"tag":"t","rows":4,"mean_cos":NaN}""")
    val drift = Ann.ivfDriftReport(spark, ivf).collect()
    assert(drift.length == 1 && drift.head.getLong(1) == 4L && drift.head.isNullAt(2))
    put(ivf, Ann.IvfParamsSidecar,
      """{"dim":8,"nlist":3,"vec_col":"embedding","build_mean_cos":NaN,"assign_top":1}""")
    assert(Ann.ivfRead(spark, ivf).centroids.size == 3)
    intercept[IllegalArgumentException](Ann.ivfDriftReport(spark, ivf))
    Ann.ivfRebuild(spark, ivf, "vec_id")
    val rebuilt = new ObjectMapper().readTree(text(ivf, Ann.IvfParamsSidecar))
    assert(rebuilt.get("generation").asInt == 2 &&
      rebuilt.get("build_mean_cos").isDouble, rebuilt.toString)

    // PQ: no train_mse; its drift report refuses, its retrain bumps generation
    val pq = tmpDir("pq_parent")
    val data = corpus(200)
    val model = Pq.pqTrain(data, "vec_id", "embedding", m = 2, k = 4)
    Pq.pqWrite(Pq.pqEncode(data, "vec_id", "embedding", model), model, pq)
    assert(text(pq, Pq.PqParamsSidecar) ==
      s"""{"m":2,"k":4,"dsub":4,"train_mse":${model.trainMse}}""")
    put(pq, Pq.PqParamsSidecar, """{"m":2,"k":4,"dsub":4}""")
    assert(Pq.pqRead(spark, pq)._1.trainMse.isNaN)
    assert(intercept[IllegalArgumentException](Pq.pqDriftReport(spark, pq))
      .getMessage.contains("train_mse"))
    Pq.pqRetrain(spark, pq, data, "vec_id", "embedding")
    assert(text(pq, Pq.PqParamsSidecar).endsWith(""","generation":2}"""))
    put(s"$pq/${Pq.PqDriftDir}", "t.json", """{"tag":"t","sample_n":0,"mse":null}""")
    val rep = Pq.pqDriftReport(spark, pq).collect()
    assert(rep.length == 1 && rep.head.getLong(1) == 0L && rep.head.isNullAt(2))

    // NSW, minhash and BM25 write exactly the older spelling
    val nsw = tmpDir("nsw_parent")
    GraphAnn.nswWrite(GraphAnn.nswBuild(
      Ann.ivfBuild(corpus(60), "vec_id", "embedding", nlist = 2), "vec_id",
      m = 4, efConstruction = 8), nsw)
    assert(text(nsw, GraphAnn.NswParamsSidecar).matches(
      """\{"id_col":"vec_id","m":4,"ef_construction":8,"rows":60,"id_xor":-?\d+\}"""))
    val mh = tmpDir("mh_parent")
    Dedup.minhashIndexBuildAndWrite(Seq((1L, "a b c d e f")).toDF("id", "text"),
      "id", "text", mh, shingleSize = 5, numHashes = 32, seed = 7L)
    assert(text(mh, Dedup.MinhashParamsSidecar) ==
      """{"shingleSize":5,"numHashes":32,"seed":7}""")
    val bm = tmpDir("bm25_parent")
    Retrieval.invertedIndexBuildAndWrite(Seq((1L, "a b")).toDF("id", "text"),
      "id", "text", bm, numBuckets = 8)
    assert(text(bm, "_graft_bm25_stats.json") == """{"numBuckets":8}""")
  }
}

/** The local file system under the `sessionfs` scheme, for a scheme that
  * only the session's SQL conf registers. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("sessionfs:///")
    }) {
  override def getScheme: String = "sessionfs"
}
