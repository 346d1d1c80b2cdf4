package graft.core

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The crash-safe commit protocol of every rename-committed write, and the
  * owner of every staging and retired name it puts on disk. Both shapes
  * move the new copy in before the old one goes, so a crash leaves an
  * extra copy, never a missing one: file move-in ([[moveIn]],
  * [[moveInTagged]]) renames staged files into place, then deletes the old
  * files and the staging dir; a whole-set swap ([[SwapKind]]) moves the
  * live copy aside into a retired dir and the staged copy in, then deletes
  * both dirs (a leftover retired dir refuses the next swap). [[residue]]
  * classifies staging dirs for [[graft.api.Graft.vacuum]]; a retired dir
  * may hold the only complete copy and is never swept. */
object StagedCommit {

  private val IngestPrefix = ".graft_ingest_staging_"
  private val RoutePrefix = ".graft_route_staging_"
  private val CompactPrefix = ".graft_compact_"
  private val MergePrefix = ".graft_merge_"
  private val ObjectPrefix = ".graft_tmp_"
  private val ObjectRetiredPrefix = ".graft_retired_"

  private def freshId(): String = UUID.randomUUID().toString.take(8)

  def ingestStaging(root: Path, tag: String): Path = new Path(root, IngestPrefix + tag)
  def routeStaging(root: Path, tag: String): Path = new Path(root, RoutePrefix + tag)
  def compactStaging(dir: String): Path = new Path(dir, CompactPrefix + freshId())
  def mergeStaging(url: String): String = s"$url/$MergePrefix${freshId()}"
  def objectStaging(parent: Path): Path = new Path(parent, ObjectPrefix + freshId())

  /** The entries of `dir` a reader sees: no `_` metadata, no `.` hidden names. */
  def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot { st =>
      val n = st.getPath.getName; n.startsWith("_") || n.startsWith(".")
    }

  /** Rename each visible file of `staging` into `dest` under its own
    * (job-unique) name, then delete each of `old`. Returns the number
    * moved; the caller deletes the staging dir after its last move-in. */
  def moveIn(fs: FileSystem, staging: Path, dest: Path, old: Seq[Path]): Int = {
    val staged = visible(fs, staging).filter(_.isFile).map(_.getPath)
    staged.foreach { src =>
      val t = new Path(dest, src.getName)
      require(fs.rename(src, t), s"rename failed: $src -> $t")
    }
    old.foreach(fs.delete(_, false))
    staged.length
  }

  /** Replace the single file `target` with `staged`: the old file moves
    * aside to a hidden retired name, the new one moves in, then the
    * retired copy goes. A failed move-in moves the old file back before
    * refusing; a crash between the moves leaves the old file under its
    * retired name, which refuses the next replace until it is recovered. */
  def replaceFile(fs: FileSystem, staged: Path, target: Path): Unit = {
    val retired = new Path(target.getParent, ObjectRetiredPrefix + target.getName)
    require(!fs.exists(retired),
      s"$retired exists — a previous replace of $target crashed mid-swap; " +
        "recover manually (inspect which copy is complete) before retrying")
    val replacing = fs.exists(target)
    if (replacing) require(fs.rename(target, retired), s"rename failed: $target -> $retired")
    val moved = fs.rename(staged, target)
    if (!moved && replacing) fs.rename(retired, target)
    require(moved, s"rename failed: $staged -> $target")
    if (replacing) fs.delete(retired, false)
  }

  /** Rename the `part-` files staged under `staged` (and its `key=value`
    * dirs), in (partition path, name) order, onto
    * `<dest>/<partition path>/<prefix>NNNNN.parquet`, creating a missing
    * partition dir first. Returns the number moved. */
  def moveInTagged(fs: FileSystem, staged: Path, dest: Path, prefix: String): Int = {
    def partFiles(dir: Path, rel: Seq[String]): Seq[(Path, Seq[String])] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isFile && st.getPath.getName.startsWith("part-")) Seq((st.getPath, rel))
        else if (st.isDirectory && st.getPath.getName.contains("="))
          partFiles(st.getPath, rel :+ st.getPath.getName)
        else Nil
      }
    val parts = partFiles(staged, Nil).sortBy { case (p, rel) => (rel.mkString("/"), p.getName) }
    parts.zipWithIndex.foreach { case ((src, rel), i) =>
      val destDir = rel.foldLeft(dest)(new Path(_, _))
      if (rel.nonEmpty && !fs.exists(destDir)) fs.mkdirs(destDir)
      val d = new Path(destDir, f"$prefix$i%05d.parquet")
      require(fs.rename(src, d), s"tagged move-in: rename $src -> $d failed")
    }
    parts.length
  }

  /** A whole-set swap: `inside` keeps staging and retired as dot-children
    * of the live root and swaps named children, otherwise as siblings
    * swapping the whole dir. `op` names the operation in the refusal. */
  final class SwapKind private[StagedCommit] (name: String, op: String, inside: Boolean) {
    private[StagedCommit] val stagingName = s".graft_${name}_staging"
    private[StagedCommit] val retiredName = s".graft_${name}_retired"
    private def at(live: Path, suffix: String): Path =
      if (inside) new Path(live, suffix) else new Path(live.getParent, live.getName + suffix)

    def residueOf(live: Path): Seq[Path] = Seq(at(live, stagingName), at(live, retiredName))

    /** Step 1: refuse if a previous swap of `live` left its retired copy. */
    def open(fs: FileSystem, live: Path): Swap = {
      val swap = new Swap(fs, live)
      require(!fs.exists(swap.retired),
        s"${swap.retired} exists — a previous $op crashed mid-swap; recover " +
          "manually (inspect which copy is complete) before retrying")
      swap
    }

    final class Swap private[SwapKind] (fs: FileSystem, live: Path) {
      val staging: Path = at(live, stagingName)
      val retired: Path = at(live, retiredName)

      /** Step 2; the caller then stages into [[staging]] and verifies. */
      def sweep(): this.type = { fs.delete(staging, true); this }

      private def move(src: Path, dst: Path): Unit =
        require(fs.rename(src, dst), s"$op swap: rename $src -> $dst failed")

      /** Steps 4–5 inside: the `children` of the live root move into the
        * retired dir, then those of staging into the root (each listed when
        * its move starts); `afterSwap` runs while staging is still readable. */
      def swapChildren(children: Path => Seq[String])(afterSwap: => Unit = ()): Unit = {
        fs.mkdirs(retired)
        children(live).foreach(c => move(new Path(live, c), new Path(retired, c)))
        children(staging).foreach(c => move(new Path(staging, c), new Path(live, c)))
        afterSwap
        fs.delete(staging, true)
        fs.delete(retired, true)
      }

      /** Steps 4–5 beside; a live dir not there yet is just moved in. */
      def swapWhole(): Unit =
        if (fs.exists(live)) {
          move(live, retired)
          move(staging, live)
          fs.delete(retired, true)
        } else move(staging, live)
    }
  }

  val Aggregate = new SwapKind("agg", "maintenance", inside = false)
  val Relayout = new SwapKind("relayout", "relayout", inside = true)
  val Rebuild = new SwapKind("rebuild", "rebuild", inside = true)
  val Retrain = new SwapKind("retrain", "retrain", inside = true)
  private val SwapKinds = Seq(Aggregate, Relayout, Rebuild, Retrain)

  /** Crash residue kinds, as [[graft.api.Graft.vacuum]] counts them. */
  object Residue extends Enumeration { val Staging, Compaction, SparkTemporary = Value }

  def residue(name: String): Option[Residue.Value] =
    if (name.startsWith(CompactPrefix)) Some(Residue.Compaction)
    else if (Seq(IngestPrefix, RoutePrefix, MergePrefix, ObjectPrefix).exists(name.startsWith) ||
        SwapKinds.exists(k => name.endsWith(k.stagingName))) Some(Residue.Staging)
    else if (name == "_temporary") Some(Residue.SparkTemporary)
    else None

  def isRetired(name: String): Boolean =
    name.startsWith(ObjectRetiredPrefix) || SwapKinds.exists(k => name.endsWith(k.retiredName))
}
