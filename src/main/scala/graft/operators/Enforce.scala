package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Discovery, StagedCommit, TaggedAppend}

/** Write-time constraint ENFORCEMENT — the routing complement of
  * [[Expect.audit]] (which only reports): every row either lands in the
  * clean table or in a quarantine table with the names of the checks it
  * failed, and nothing is silently dropped (`n_clean + n_quarantined =
  * n_input` by construction — the split is one exhaustive partition
  * routing, not a filter pair that could disagree at NULL boundaries).
  *
  * Spark shape, built for 100 TB ingest: tagging is pure codegen'd row
  * arithmetic (a `when` per check feeding one `concat_ws`), and the split
  * is ONE write job `partitionBy`-routed on the verdict — the input is
  * scanned ONCE, with no persist/cache of the corpus and no second pass
  * for the quarantine side (the two-filtered-writes alternative scans
  * twice or caches 100 TB). Files then move into both destinations as a
  * [[graft.core.TaggedAppend]] does, so a replay under the same tag
  * converges to exactly one copy of the batch in each.
  */
object Enforce {

  /** Tag every row with its verdict: adds `gr_ok` ("ok"/"bad") and
    * `gr_reasons` (comma-joined names of the checks the row FAILS, in
    * caller order; empty string when clean). A check fails when its
    * predicate is false OR null — the [[Expect]] audit convention. */
  def tag(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    Expect.validate(checks)
    require(!df.columns.contains("gr_ok") && !df.columns.contains("gr_reasons"),
      "input already carries gr_ok/gr_reasons — refusing to overwrite verdicts")
    // concat_ws skips NULL arguments, so each failed check contributes its
    // name and each passed one vanishes — no array building, pure codegen
    val reasons = concat_ws(",", checks.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    }: _*)
    df.withColumn("gr_reasons", reasons)
      .withColumn("gr_ok", when(col("gr_reasons") === "", lit("ok"))
        .otherwise(lit("bad")))
  }

  /** Route `df` through `checks` into `cleanPath` (passing rows) and
    * `quarantinePath` (failing rows, with `gr_reasons` populated) in ONE
    * scan. Returns (cleanFiles, quarantinedFiles) committed. Replaying
    * the same `tag` replaces that batch in BOTH destinations (the
    * TaggedAppend window); both paths must live on the same filesystem
    * (the commit is rename-based). */
  def writeRouted(
      df: DataFrame,
      checks: Seq[(String, Column)],
      cleanPath: String,
      quarantinePath: String,
      tag: String): (Int, Int) = {
    TaggedAppend.requireSafeTag(tag)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val fs = Discovery.fileSystemFor(cleanPath, conf)
    require(fs.getUri == Discovery.fileSystemFor(quarantinePath, conf).getUri,
      "clean and quarantine paths must share a filesystem (rename commit)")
    // close any prior attempt's window in BOTH destinations first — a
    // partial commit from a crashed run must not survive the replay
    TaggedAppend.abort(fs, cleanPath, tag)
    TaggedAppend.abort(fs, quarantinePath, tag)
    val stage = StagedCommit.routeStaging(fs.makeQualified(new Path(cleanPath)), tag)
    fs.delete(stage, true)
    Enforce.tag(df, checks).write.mode("overwrite")
      .partitionBy("gr_ok").parquet(stage.toString)
    def commit(verdict: String, destPath: String): Int = {
      val sub = new Path(stage, s"gr_ok=$verdict")
      if (!fs.exists(sub)) 0
      else {
        val dest = fs.makeQualified(new Path(destPath))
        if (!fs.exists(dest)) fs.mkdirs(dest)
        StagedCommit.moveInTagged(fs, sub, dest, TaggedAppend.filePrefix(tag))
      }
    }
    val nClean = commit("ok", cleanPath)
    val nBad = commit("bad", quarantinePath)
    fs.delete(stage, true)
    // an all-clean (or all-bad) batch must still leave BOTH destinations
    // readable tables: land a schema-only parquet file in the empty side
    // so spark.read doesn't refuse with "unable to infer schema"
    def ensureReadable(destPath: String, n: Int): Unit = if (n == 0) {
      val dest = fs.makeQualified(new Path(destPath))
      if (!fs.exists(dest) || fs.listStatus(dest)
          .forall(st => !st.isFile || !st.getPath.getName.endsWith(".parquet"))) {
        Enforce.tag(df.limit(0), checks).drop("gr_ok")
          .coalesce(1).write.mode("append").parquet(dest.toString)
      }
    }
    ensureReadable(cleanPath, nClean)
    ensureReadable(quarantinePath, nBad)
    (nClean, nBad)
  }
}
