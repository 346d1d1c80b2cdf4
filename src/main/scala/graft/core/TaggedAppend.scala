package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Replay-idempotent parquet append, shared by the persisted-index
  * families (minhash flat layout, IVF `key=value`-partitioned layout).
  *
  * Plain `mode("append")` gives every attempt fresh random part-file
  * names, so a crash-then-retry doubles the appended rows. Here any files
  * a previous attempt under the same tag committed are deleted, then the
  * rows are staged and moved in under deterministic
  * `ingest-<tag>-NNNNN.parquet` names ([[StagedCommit.moveInTagged]], per
  * `key=value` subdirectory for partitioned layouts). A crash at ANY point
  * followed by a retry of the same `tag` converges to exactly one copy.
  *
  * Cost model at 100 TB: abort/append pay METADATA-only listings — the
  * target's first level plus, for partitioned layouts, one listing per
  * partition directory — never a data read. Single writer per
  * (target, tag) assumed; concurrent writers need distinct tags.
  *
  * A tag's idempotency window ends at the next compaction, ATOMICALLY
  * for the whole table: rewrites strip tag prefixes, and compaction
  * renames any tagged file the size heuristic skipped to `retired-…` —
  * so a tag is never PARTIALLY addressable (a subset-read or
  * subset-sweep would be silently wrong for incremental consumers,
  * Graft.readTaggedBatch). After compaction, re-appending (or aborting)
  * a pre-compaction tag double-commits (or no-ops) silently — the
  * window is closed, not transferable. Use a fresh tag per logical batch
  * (a unique batch id); the streaming ingest layer additionally guards
  * replay-across-compaction with commit markers
  * (graft.streaming.Streams.appendIngestBatch). IngestProtocolSpec pins
  * the composed behavior under randomized interleavings.
  */
object TaggedAppend {

  /** File-name prefix of the part files a tagged append commits. */
  def filePrefix(tag: String): String = s"ingest-$tag-"

  def requireSafeTag(tag: String): Unit =
    // ASCII-only, matching listIngestTags' filename pattern exactly: a
    // tag accepted here but invisible to the consumer poll (e.g. a
    // Unicode letter, which Char.isLetterOrDigit would admit) would
    // commit batches nobody ever processes
    require(tag.nonEmpty && tag.forall(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '-' || c == '_'),
      s"append tag must match [A-Za-z0-9_-]+; got '$tag'")

  /** Delete whatever a previous [[append]] attempt under `tag` left in
    * `path` — all of its part files, some of them (a crash can stop
    * mid-rename), or just the staging directory. Scans the root's files
    * and recurses into every subdirectory whose name contains `=` (every
    * level of a `key=value` partition tree). Idempotent; returns the
    * number of committed part files removed. */
  def abort(fs: FileSystem, path: String, tag: String): Int = {
    requireSafeTag(tag)
    val root = new Path(path)
    if (!fs.exists(root)) 0
    else {
      val prefix = filePrefix(tag)
      var removed = 0
      def sweep(dir: Path): Unit =
        fs.listStatus(dir).foreach { st =>
          if (st.isFile && st.getPath.getName.startsWith(prefix)) {
            fs.delete(st.getPath, false); removed += 1
          } else if (st.isDirectory && st.getPath.getName.contains("=")) {
            sweep(st.getPath)
          }
        }
      sweep(root)
      val staging = StagedCommit.ingestStaging(root, tag)
      if (fs.exists(staging)) fs.delete(staging, true)
      removed
    }
  }

  /** Stage `rows` then rename them into `path` under deterministic
    * tagged names, aborting any prior attempt first. `partitionCols`
    * non-empty writes (and renames within) a hive `key=value` layout.
    * Returns the number of part files committed. */
  def append(rows: DataFrame, path: String, tag: String,
      partitionCols: Seq[String] = Nil): Int = {
    requireSafeTag(tag)
    val fs = Discovery.fileSystemFor(path,
      rows.sparkSession.sessionState.newHadoopConf())
    abort(fs, path, tag)
    val root = new Path(path)
    val staging = StagedCommit.ingestStaging(root, tag)
    val writer = rows.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(staging.toString)
    val n = StagedCommit.moveInTagged(fs, staging, root, filePrefix(tag))
    fs.delete(staging, true)
    n
  }
}
