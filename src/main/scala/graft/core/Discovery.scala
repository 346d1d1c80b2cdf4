package graft.core

import java.util.concurrent.ForkJoinPool
import java.util.concurrent.RecursiveTask
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Driver-side recursive partition discovery: per level, either *generate*
  * the expected dir names from the parser's grammar (skipping the filesystem
  * listing entirely — the key S3 LIST-cost optimization) or list the
  * directory; parse dir names into partition columns; prune whole subtrees
  * with `query.evalAvailable` (partial evaluation) BEFORE descending; at
  * terminal levels, gate files with `query.evalAll` (per-file when the parser
  * parses filenames, else per-partition).
  *
  * Logic mirrors /root/reference/src/fsql/partition_discovery.py:48-90, with
  * two deliberate upgrades for scale:
  *  - subtree exploration is parallelized on a ForkJoin pool (the reference
  *    has a "parallelisation opportunity" NOTE at partition_discovery.py:71 —
  *    sequential crawls dominate wall-clock on high-latency object stores);
  *  - listing a non-existent generated directory yields an empty listing
  *    rather than an error (generation can overshoot, e.g. day=31 in a
  *    30-day month's tree).
  *
  * Listings are sorted (files and dirs independently) for deterministic
  * output order, matching the reference's contract
  * (partition_discovery.py:36-45, tests/test_listing_sorted.py).
  */
object Discovery {

  /** Filesystem `ls` calls performed — the reference-implied efficiency
    * metric (BASELINE.md "listing efficiency"). */
  val listingCalls = new AtomicLong(0)
  def resetListingCounter(): Unit = listingCalls.set(0)

  /** A file name plus the metadata the listing already paid for; meta is
    * None only for generated (never-listed) names. */
  final case class ListedFile(name: String, meta: Option[FileMeta])

  /** `self` is set when the listed url is itself a FILE (a listing of a
    * file returns that file's own status): its metadata, and no entries. */
  final case class DirectoryListing(files: Seq[ListedFile], directories: Seq[String],
      self: Option[FileMeta] = None)

  object DirectoryListing {
    def generated(fileNames: Seq[String], dirNames: Seq[String]): DirectoryListing =
      DirectoryListing(fileNames.map(ListedFile(_, None)), dirNames)
  }

  def listDirectory(url: String, fs: FileSystem): DirectoryListing = {
    listingCalls.incrementAndGet()
    val path = new Path(url)
    // ONE RPC per directory: no pre-flight `exists` (which would double the
    // per-directory cost on object stores) — a missing dir, e.g. a
    // generated-grammar overshoot like day=31 in a 30-day month, is the
    // FileNotFoundException path of the single listStatus call.
    // Names starting with "_" or "." are metadata (_SUCCESS, .crc, ...) and
    // never data — same convention Spark's own FileIndex applies.
    val statuses =
      try fs.listStatus(path)
      catch { case _: java.io.FileNotFoundException => return DirectoryListing(Nil, Nil) }
    // a listing of a FILE returns that file's own status (the name test
    // first: it spares the leaf directories that hold one file each)
    statuses match {
      case Array(st) if st.isFile && st.getPath.getName == path.getName &&
          st.getPath == fs.makeQualified(path) =>
        return DirectoryListing(Nil, Nil, Some(FileMeta(st.getLen, st.getModificationTime)))
      case _ =>
    }
    val filtered = statuses
      .filterNot(st => { val n = st.getPath.getName; n.startsWith("_") || n.startsWith(".") })
    val (dirs, files) = filtered.partition(_.isDirectory)
    DirectoryListing(
      files.sortBy(_.getPath.getName).map(st => ListedFile(st.getPath.getName,
        Some(FileMeta(st.getLen, st.getModificationTime)))).toSeq,
      directories = dirs.map(_.getPath.getName).sorted.toSeq)
  }

  /** Discover all leaf-file partitions under `partition.url` that satisfy
    * `query`, using `parser` to interpret path levels. Every returned
    * Partition's url points at a single data FILE (never a directory). */
  def discoverPartitions(
      query: PartitionQuery,
      parser: ColumnParser,
      partition: Partition,
      fs: FileSystem): Seq[Partition] = {
    val task = new DiscoverTask(query, parser, partition, fs)
    // invoke() on a free-standing task uses the common pool's work-stealing,
    // so nested join() calls do not deadlock.
    ForkJoinPool.commonPool().invoke(task)
  }

  private final class DiscoverTask(
      query: PartitionQuery,
      parser: ColumnParser,
      partition0: Partition,
      fs: FileSystem) extends RecursiveTask[Seq[Partition]] {

    override def compute(): Seq[Partition] = {
      val partition =
        if (partition0.url.endsWith("/")) partition0
        else partition0.copy(url = partition0.url + "/")

      val listing = parser.generate match {
        case Some(generated) if parser.isTerminalLevel =>
          DirectoryListing.generated(fileNames = generated, dirNames = Nil)
        case Some(generated) =>
          DirectoryListing.generated(fileNames = Nil, dirNames = generated)
        case None => listDirectory(partition.url, fs)
      }
      // a url that lists as a file (a single-file root) is itself the one
      // partition: its own url, the listing's metadata, the columns so far
      if (listing.self.isDefined)
        return Seq(partition.copy(url = partition.url.stripSuffix("/"), meta = listing.self))
          .filter(p => query.evalAll(p.columns))

      val subTasks = listing.directories.iterator
        .map(d => partition.expandBy(d + "/", Some(parser.parse(d))))
        .filter(p => query.evalAvailable(p.columns))
        .map { p =>
          val t = new DiscoverTask(query, parser.tail(p), p, fs)
          t.fork()
          t
        }
        .toVector

      val filePartitions: Seq[Partition] =
        if (!parser.isTerminalLevel) Nil
        else if (parser.parsesFilenames) {
          listing.files
            .map(f => partition.expandBy(f.name, Some(parser.parse(f.name))).withMeta(f.meta))
            .filter(p => query.evalAll(p.columns))
        } else if (!query.evalAll(partition.columns)) Nil
        else listing.files.map(f => partition.expandBy(f.name, None).withMeta(f.meta))

      subTasks.flatMap(_.join()) ++ filePartitions
    }
  }

  /** Resolve a url to its Hadoop FileSystem. */
  def fileSystemFor(url: String, conf: Configuration): FileSystem =
    new Path(url).getFileSystem(conf)

  /** Uncached resolve: `FileSystem.get` caches instances per (scheme,
    * authority) and IGNORES conf differences, so a per-call configuration
    * (reference `fs=...` argument, api.py:70-76) must bypass the cache.
    * Caller owns the instance and should close() it after use. */
  def newFileSystemFor(url: String, conf: Configuration): FileSystem = {
    val uri = new Path(url).toUri
    FileSystem.newInstance(
      if (uri.getScheme == null) FileSystem.getDefaultUri(conf) else uri, conf)
  }
}
