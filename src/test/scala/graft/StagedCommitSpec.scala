package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.operators.{Ann, Pq}

/** The whole-set swap's refusal ([[graft.core.StagedCommit.SwapKind]]):
  * every caller refuses while a previous swap's retired copy is left over,
  * before it touches the live copy. */
class StagedCommitSpec extends SparkSpec {
  import spark.implicits._

  /** Every file under `root` with its bytes' hash, the `retired` dir aside. */
  private def tree(root: String, retired: Path): Map[String, Int] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.startsWith(retired))
      .map((p: Path) => Paths.get(root).relativize(p).toString ->
        java.util.Arrays.hashCode(Files.readAllBytes(p)))
      .toMap

  test("a leftover retired dir refuses all four swap callers; the live copy is untouched") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 17 - 8).toFloat))
    }.toDF("vec_id", "embedding")

    val table = tmpDir("swap_relayout") + "/t"
    Graft.writePartitionedTable(
      (1 to 30).map(i => (i.toLong, s"k${i % 3}", s"p${i % 4}")).toDF("id", "a", "b"),
      table, Seq("a"))
    val agg = tmpDir("swap_agg") + "/sums"
    Graft.maintainAggregate(spark, agg, Seq((1L, 2.0)).toDF("k", "v"), Seq("k"), Seq("v"))
    val ivf = tmpDir("swap_ivf")
    Ann.ivfWrite(Ann.ivfBuild(vecs, "vec_id", "embedding", nlist = 2), ivf)
    val pq = tmpDir("swap_pq")
    val model = Pq.pqTrain(vecs, "vec_id", "embedding", m = 2, k = 4)
    Pq.pqWrite(Pq.pqEncode(vecs, "vec_id", "embedding", model), model, pq)

    val cases: Seq[(String, String, () => Any)] = Seq(
      (table, s"$table/.graft_relayout_retired",
        () => Graft.relayoutPartitionedTable(spark, table, Seq("b"))),
      (agg, agg + ".graft_agg_retired",
        () => Graft.maintainAggregate(spark, agg, Seq((1L, 3.0)).toDF("k", "v"),
          Seq("k"), Seq("v"))),
      (ivf, s"$ivf/.graft_rebuild_retired", () => Ann.ivfRebuild(spark, ivf, "vec_id")),
      (pq, s"$pq/.graft_retrain_retired",
        () => Pq.pqRetrain(spark, pq, vecs, "vec_id", "embedding")))
    for ((live, retired, call) <- cases) {
      val retiredPath = Files.createDirectories(Paths.get(retired))
      val before = tree(live, retiredPath)
      assert(before.nonEmpty, live)
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("crashed mid-swap"), e.getMessage)
      assert(tree(live, retiredPath) == before, s"$live changed")
      assert(Files.isDirectory(retiredPath), s"$retired was removed")
    }
  }

  test("writeObject refuses a failed rename and keeps the old object readable") {
    val dir = tmpDir("wo_norename")
    val target = s"$dir/out.csv"
    Graft.writeObject(Seq((1, "old")).toDF("k", "s"), target)
    val before = Files.readString(Paths.get(target))
    // the same file through a scheme whose move-in renames fail
    val e = intercept[IllegalArgumentException](
      Graft.writeObject(Seq((2, "new")).toDF("k", "s"), s"norename://$target",
        fsConf = Map("fs.norename.impl" -> classOf[NoMoveInFileSystem].getName,
          "fs.norename.impl.disable.cache" -> "true")))
    assert(e.getMessage.contains("rename failed"), e.getMessage)
    assert(Files.readString(Paths.get(target)) == before)
    assert(spark.read.option("header", "true").csv(target).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "old")))
    // no retired copy left to refuse the next write, no staging left over
    assert(Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSeq == Seq("out.csv"))
    Graft.writeObject(Seq((3, "next")).toDF("k", "s"), target)
    assert(spark.read.option("header", "true").csv(target).collect()
      .map(_.getString(1)).toSeq == Seq("next"))
  }
}

/** The local file system under the `norename` scheme, whose rename of a
  * file out of a `.graft_tmp_` staging dir (an object's move-in) returns
  * false; every other rename, Spark's task commit among them, works. */
class NoMoveInFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("norename:///")
    }) {
  override def getScheme: String = "norename"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getParent.getName.startsWith(".graft_tmp_") && super.rename(src, dst)
}
