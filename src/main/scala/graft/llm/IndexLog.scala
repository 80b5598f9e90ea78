package graft.llm

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Paths}

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit log of every persisted index — the one place that numbers
  * versions: [[DeltaChain]] (so [[LineDedupIndex]], [[CmsIndex]],
  * [[SpanDedupIndex]], [[FamilyIndex]]), [[Bm25Index]], [[FrontierIndex]],
  * and through [[IndexMaintenance]] the band-key indexes
  * ([[MinHashIndex]], [[SimHashIndex]], [[WinnowIndex]],
  * [[EmbeddingLshIndex]], [[graft.multimodal.PHashIndex]]) and every
  * tombstone table, [[IvfIndex]]'s included.
  *
  * '''Commit.''' A writer lands its data in directories only it names
  * ([[Log.newDir]]: `<index>/<table>/<seq>-<random>`), then commits ONE
  * entry `<index>/_log/<seq>`: the sequence number, the index version
  * it produces, its kind, the directories it adds (by table) and those
  * it supersedes. An index is its committed entries, read with one
  * `_log` listing; a directory no entry names does not exist for
  * readers, and a table is its [[Log.live]] directories.
  *
  * '''Put-if-absent.''' The complete entry is written to a temp file
  * and hard-linked to its name (`Files.createLink` fails atomically if
  * the name exists). Hadoop's local `create(overwrite = false)` is not
  * enough: `RawLocalFileSystem` checks `exists()` and then creates, so
  * two writers can both pass. Other filesystems use `rename`, which
  * HDFS refuses atomically for an existing target; an object store
  * without that needs a conditional put here.
  *
  * '''Retry.''' [[commit]] runs the writer against a log snapshot and
  * proposes its entry at the next sequence number. The loser of a race
  * deletes its directories and runs again against the new head, so all
  * it derived from the head — the version, Bm25's df/stats merge,
  * FamilyIndex's assignment, WinnowIndex's indexed ids, a compaction's
  * snapshot — is recomputed.
  *
  * '''Crash.''' A writer that dies before its entry lands leaves only
  * unnamed directories and perhaps a `.tmp` entry, invisible to
  * readers; an attempt whose job throws deletes its directories first.
  * A torn build, append, forget or compaction is thus not there at
  * all, and the one rule for a writer that cannot tell whether its
  * commit landed is to run it again. A repeat that lands twice is
  * absorbed where it can occur: duplicate band keys only add
  * candidate-join work, duplicate tombstones fold into the anti-join,
  * WinnowIndex skips indexed ids, a second compaction rewrites the same
  * rows, and the versioned folds run under [[IndexMaintenance.foldOnce]].
  *
  * '''Compaction.''' A compaction reads one snapshot and commits an
  * entry that adds the rewritten tables and supersedes every live
  * directory it read, tombstones included; anything committed after
  * its snapshot stays live. It keeps the index's version, as a
  * tombstone entry does: only builds, appends and folds advance it.
  *
  * '''Vacuum.''' [[vacuum]] deletes what committed entries supersede
  * and `.tmp` entries (a commit that loses its temp file reruns), and
  * empties entries left with no live directory (never the head) to
  * zero-byte stubs that readers skip. A stub keeps its sequence number
  * taken, so a writer holding an older snapshot loses its race instead
  * of committing below a newer compaction; the log's names thus grow
  * by one per commit. Vacuum never touches an unnamed directory (an
  * in-flight writer's, or a crashed one's), but it does remove
  * superseded ones a reader of an older snapshot may still be scanning.
  */
object IndexLog {

  /** One committed (or proposed) entry; `adds` and `supersedes` hold
    * absolute paths (stored relative to the index when under it).
    */
  final case class Entry(seq: Long, version: Int, kind: String,
      adds: Map[String, String], supersedes: Seq[String] = Nil)

  /** A snapshot of an index's log, and the writer's handle for one
    * commit attempt against it.
    */
  final class Log private[IndexLog] (val root: String,
      val entries: Seq[Entry], head: Long) {
    def latestVersion: Option[Int] = entries.map(_.version).maxOption
    def nextVersion: Int = latestVersion.getOrElse(0) + 1
    /** The newest entry producing `version`. */
    def at(version: Int): Option[Entry] =
      entries.filter(_.version == version).lastOption
    /** The directories of `table` an entry adds and none supersedes. */
    def live(table: String): Seq[String] = {
      val dead = entries.flatMap(_.supersedes).toSet
      entries.flatMap(_.adds.get(table)).filterNot(dead)
    }
    private[IndexLog] def nextSeq: Long = head + 1
    private lazy val token = java.util.UUID.randomUUID.toString.take(8)
    private[IndexLog] val named = scala.collection.mutable.ArrayBuffer.empty[String]

    /** A fresh data directory for `table`, owned by this attempt. */
    def newDir(table: String): String = {
      val d = s"$root/$table/$nextSeq-$token"
      named += d
      d
    }

    def propose(version: Int, kind: String, adds: Map[String, String],
        supersedes: Seq[String] = Nil): Entry =
      Entry(nextSeq, version, kind, adds, supersedes)
  }

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  /** `p` on the local filesystem, for java.nio's atomic primitives. */
  private def local(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (fs.getScheme == "file") Some(Paths.get(fs.makeQualified(p).toUri)) else None

  private def rmDir(d: String): Boolean = fsOf(new Path(d)).delete(new Path(d), true)

  private def logDir(root: String) = new Path(s"$root/_log")

  private def entryPath(root: String, seq: Long) =
    new Path(logDir(root), f"$seq%010d")

  /** Every file in `_log`: entries, stubs and temp entries. */
  private def listing(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  private def isEntry(st: FileStatus) = st.getPath.getName.matches("[0-9]+")

  private def render(root: String, e: Entry): String = {
    def rel(p: String) = p.stripPrefix(s"$root/")
    (Seq(s"seq ${e.seq}", s"version ${e.version}", s"kind ${e.kind}") ++
      e.adds.toSeq.sorted.map { case (t, p) => s"add $t ${rel(p)}" } ++
      e.supersedes.map(p => s"supersedes ${rel(p)}")).mkString("", "\n", "\n")
  }

  private def parse(root: String, text: String): Entry = {
    def abs(p: String) = if (p.startsWith("/") || p.contains(":")) p else s"$root/$p"
    val kv = text.linesIterator.filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" ", 2); k -> v }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }.get
    Entry(one("seq").toLong, one("version").toInt, one("kind"),
      kv.collect { case ("add", v) => val Array(t, p) = v.split(" ", 2); t -> abs(p) }
        .toMap,
      kv.collect { case ("supersedes", v) => abs(v) })
  }

  /** The committed entries of the index at `path`, in log order; an
    * empty log for a path that was never committed to.
    */
  def read(path: String): Log = {
    val root = path.stripSuffix("/")
    val fs = fsOf(logDir(root))
    val names = listing(fs, logDir(root)).filter(isEntry).sortBy(_.getPath.getName)
    // a stub, or an entry vacuum empties while it is read, reads short
    new Log(root, names.filter(_.getLen > 0).flatMap { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      if (bytes.length < st.getLen) None else Some(parse(root, new String(bytes, UTF_8)))
    }, names.lastOption.fold(0L)(_.getPath.getName.toLong))
  }

  /** Atomically create entry `e` unless its sequence number is taken. */
  private[llm] def tryCommit(path: String, e: Entry): Boolean = {
    val root = path.stripSuffix("/")
    val target = entryPath(root, e.seq)
    val fs = fsOf(target)
    fs.mkdirs(target.getParent)
    val bytes = render(root, e).getBytes(UTF_8)
    val tmpName = s".${target.getName}.${java.util.UUID.randomUUID}.tmp"
    local(fs, target) match {
      case Some(dst) =>
        val tmp = dst.resolveSibling(tmpName)
        Files.write(tmp, bytes)
        // NoSuchFile: vacuum deleted the temp entry; lose and rerun
        try { Files.createLink(dst, tmp); true }
        catch { case _: FileAlreadyExistsException | _: NoSuchFileException => false }
        finally Files.deleteIfExists(tmp)
      case None =>
        val tmp = new Path(target.getParent, tmpName)
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        try fs.rename(tmp, target) finally fs.delete(tmp, false)
    }
  }

  /** Run `attempt` against the current log and commit the entry it
    * proposes ([[Log.propose]]); on a lost race, delete the attempt's
    * directories and run it again against the new head. An attempt
    * that returns an entry already in its snapshot commits nothing
    * (e.g. a compaction with nothing left to fold). Returns the entry.
    */
  @tailrec def commit(path: String)(attempt: Log => Entry): Entry = {
    val log = read(path)
    val e = try attempt(log) catch { case t: Throwable => log.named.foreach(rmDir); throw t }
    if (log.entries.contains(e) || tryCommit(path, e)) e
    else {
      log.named.foreach(rmDir)
      commit(path)(attempt)
    }
  }

  /** Delete every directory a committed entry supersedes, stub the
    * entries all of whose directories are gone (never the head) and
    * delete `.tmp` entries. Returns the number of data directories
    * removed; 0 for a missing index.
    */
  def vacuum(path: String): Int = {
    val log = read(path)
    val dead = log.entries.flatMap(_.supersedes).toSet
    val removed = dead.count(rmDir)
    val fs = fsOf(logDir(log.root))
    log.entries.dropRight(1)
      .filter(e => e.adds.nonEmpty && e.adds.values.forall(dead))
      .map(e => entryPath(log.root, e.seq)).foreach { p =>
        local(fs, p).fold(fs.create(p, true).close())(Files.write(_, Array.emptyByteArray))
      }
    listing(fs, logDir(log.root)).map(_.getPath)
      .filter(_.getName.endsWith(".tmp")).foreach(fs.delete(_, false))
    removed
  }
}
