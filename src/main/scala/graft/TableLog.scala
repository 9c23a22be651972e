package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The manifest log behind the sink family's tables (the Delta/Iceberg
  * transaction-log shape, reduced to its committing primitive). This
  * module alone knows the on-disk format:
  *
  *  - `path/_commits/v%05d.manifest`: one committed version, `# key=value`
  *    marker lines on top, then one data line per live file (a delta log
  *    writes `+file` / `-file` lines instead);
  *  - `path/_commits/v%05d.checkpoint` plus the `_last_checkpoint`
  *    pointer: full snapshots of a delta log;
  *  - `path/_commits/vacuum_%05d.tombstone` and `.done`: the vacuum's
  *    committed work lists and their completion marks;
  *  - `path/_refs/<ref>/%05d.ref` and `path/_pairs/%05d.pair`: append-only
  *    pointer logs whose last entry wins.
  *
  * Data files land first; then ONE claimed entry publishes them. A writer
  * that dies before its claim leaves orphans no reader sees, readers get
  * snapshot isolation because an entry never mutates, and old manifests
  * stay time-travel points.
  *
  * One write rule: every entry is CLAIMED through [[claim]], never renamed
  * over. A writer that computed its content from snapshot `v` claims
  * exactly `v + 1` and fails loudly if it loses ([[commit]],
  * [[commitNext]]); only append-only entries whose content does not depend
  * on the entries before them retry at the next number ([[commitCas]],
  * which rebases, and the ref, pair and tombstone logs). `_last_checkpoint`
  * is the one replaceable file, a read optimization that degrades to a
  * listing scan.
  */
object TableLog {

  /** One committed version: its data lines and its `# key=value` markers,
    * in file order.
    */
  final case class Snapshot(version: Int, files: Seq[String],
      markers: Seq[(String, String)]) {
    def values(key: String): Seq[String] =
      markers.collect { case (`key`, v) => v }
    def marker(key: String): Option[String] = values(key).lastOption
  }

  /** A numbered entry name: `prefix`, the number as `%05d`, `suffix`. */
  private final case class Kind(prefix: String, suffix: String) {
    def name(n: Int): String = f"$prefix$n%05d$suffix"
    def parse(name: String): Option[Int] =
      if (name.startsWith(prefix) && name.endsWith(suffix) &&
        name.length > prefix.length + suffix.length)
        name.substring(prefix.length, name.length - suffix.length)
          .toIntOption.filter(_ >= 0)
      else None
    def in(names: Seq[String]): Seq[Int] = names.flatMap(parse).sorted
  }

  private val Manifest = Kind("v", ".manifest")
  private val Checkpoint = Kind("v", ".checkpoint")
  private val Tombstone = Kind("vacuum_", ".tombstone")
  private val Done = Kind("vacuum_", ".done")
  private val Ref = Kind("", ".ref")
  private val Pair = Kind("", ".pair")

  private def fs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def commits(path: String) = new Path(path, "_commits")

  /** The directory holding a table's committed manifests — the file-stream
    * source `stream_changefeed_ivm` tails. Pair with [[manifestVersion]].
    */
  def commitsDir(path: String): String = commits(path).toString

  /** The version a file name in [[commitsDir]] commits, None for any
    * other file there (checkpoints, tombstones, temps).
    */
  def manifestVersion(name: String): Option[Int] = Manifest.parse(name)

  private def names(f: FileSystem, dir: Path): Seq[String] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName).toSeq

  private def text(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def lines(f: FileSystem, p: Path): Seq[String] =
    text(f, p).split("\n").toSeq.filter(_.nonEmpty)

  private def parse(version: Int, ls: Seq[String]): Snapshot = {
    val (meta, files) = ls.partition(_.startsWith("#"))
    Snapshot(version, files, meta.map { l =>
      val kv = l.drop(1).trim
      kv.indexOf('=') match {
        case -1 => (kv, "")
        case i => (kv.take(i).trim, kv.drop(i + 1).trim)
      }
    })
  }

  private def render(files: Seq[String],
      markers: Seq[(String, String)]): String =
    (markers.map { case (k, v) => s"# $k=$v" } ++ files).mkString("\n")

  // ---- the claim ------------------------------------------------------

  /** Atomically claim `dst` with the content at `tmp`; true iff this
    * writer won. On `file:` the claim is a hard link: `link(2)` fails with
    * EEXIST atomically in the kernel, so it arbitrates ACROSS PROCESSES,
    * where a rename onto an existing entry may replace it (whether it does
    * depends on which `FileSystem` class serves `file:`). Elsewhere it is
    * rename-if-absent, atomic on HDFS-contract stores. Callable bare so the
    * race spec can drive two claims WITHOUT any JVM lock.
    */
  private[graft] def claimVersion(fs: FileSystem, tmp: Path,
      dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      def local(p: Path) =
        java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !fs.exists(dst) && fs.rename(tmp, dst)

  /** Write `content` to an attempt-unique temp beside `dir/name` and claim
    * the name with it; true iff this writer won. A won claim is read back:
    * on a store whose rename neither refuses nor atomically replaces, a
    * concurrent writer can land on the same name after the claim, and
    * losing silently is the one outcome a log must never have — so bytes
    * that are not this writer's fail loudly. Every entry of the log goes
    * through here.
    */
  private[graft] def claim(f: FileSystem, dir: Path, name: String,
      content: String): Boolean = {
    f.mkdirs(dir)
    val bytes = content.getBytes(UTF_8)
    val dst = new Path(dir, name)
    val tmp = new Path(dir, s".$name.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    // winner on `file:`: the second link goes; loser: its temp goes
    val won = try claimVersion(f, tmp, dst) finally f.delete(tmp, false)
    if (won && text(f, dst) != content)
      throw new IllegalStateException(
        s"$dst was overwritten by a concurrent writer after its claim — " +
          "this filesystem's rename cannot arbitrate multi-process " +
          "commits; use an atomic-rename store or an external arbiter")
    won
  }

  /** Claim the next free number of an append-only entry log, retrying at
    * the following number on a lost race (the content does not depend on
    * the entries before it). Returns the number won.
    */
  private def append(f: FileSystem, dir: Path, kind: Kind,
      content: String): Int = {
    var attempt = 0
    while (attempt < 50) {
      val n = kind.in(names(f, dir)).lastOption.fold(0)(_ + 1)
      if (claim(f, dir, kind.name(n), content)) return n
      attempt += 1
    }
    throw new IllegalStateException(
      s"append to $dir starved after $attempt attempts")
  }

  // ---- manifests ------------------------------------------------------

  /** Committed manifest versions under `path`, ascending. */
  def versions(s: SparkSession, path: String): Seq[Int] =
    Manifest.in(names(fs(s, path), commits(path)))

  private def read(f: FileSystem, path: String, v: Int): Snapshot =
    try parse(v, lines(f, new Path(commits(path), Manifest.name(v))))
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"version $v was never committed")
    }

  /** The latest committed snapshot, None for an empty log. */
  def latest(s: SparkSession, path: String): Option[Snapshot] =
    versions(s, path).lastOption.map(read(fs(s, path), path, _))

  /** The snapshot at `asOf` (a committed version) or the latest; a version
    * never committed (or aged out by [[vacuumLog]]) fails loudly.
    */
  def snapshot(s: SparkSession, path: String, asOf: Option[Int]): Snapshot =
    asOf match {
      case Some(v) => read(fs(s, path), path, v)
      case None => latest(s, path).getOrElse(throw
        new IllegalArgumentException(s"no committed manifest under $path"))
    }

  /** Scan the table at `asOf` or its latest version. Only the listed files
    * are read — the data directory is never globbed, which is exactly why
    * orphans and in-flight writes are invisible.
    */
  def scan(s: SparkSession, path: String, asOf: Option[Int]): DataFrame =
    s.read.parquet(snapshot(s, path, asOf).files: _*)

  /** Commit `files` as exactly `version`. The writer computed them from
    * `version - 1`, so losing the claim means another writer committed a
    * different history: fail loudly, never overwrite.
    */
  def commit(s: SparkSession, path: String, version: Int,
      files: Seq[String], markers: Seq[(String, String)] = Nil): Unit =
    if (!claim(fs(s, path), commits(path), Manifest.name(version),
      render(files, markers)))
      throw new IllegalStateException(
        s"manifest v$version under $path is already committed; this " +
          s"writer's files were computed from v${version - 1}")

  /** [[commit]] the version after `base` (v0 for an empty log). */
  def commitNext(s: SparkSession, path: String, base: Option[Snapshot],
      files: Seq[String], markers: Seq[(String, String)]): Unit =
    commit(s, path, base.fold(0)(_.version + 1), files, markers)

  // one lock per log path: a cheap in-process serializer so same-driver
  // CAS writers don't burn claims against each other
  private val casLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Optimistic-concurrency append (compare-and-swap): base the new file
    * list on the CURRENT latest version and claim the next version; the
    * loser re-reads the log, REBASES its appended files onto the winner's
    * list, and retries. Append-only (no conflicting rewrites), so a rebase
    * is always safe; a rewrite-class transaction would instead have to
    * re-validate its read set. The next version is parse-last+1, never
    * the entry count, which under-counts after [[vacuumLog]]. Returns the
    * version won.
    */
  def commitCas(s: SparkSession, path: String, newFiles: Seq[String],
      markers: Seq[(String, String)] = Nil): Int = {
    val f = fs(s, path)
    val lock = casLocks.computeIfAbsent(path, _ => new Object)
    var attempt = 0
    while (attempt < 50) {
      val won = lock.synchronized {
        val base = latest(s, path)
        val v = base.fold(0)(_.version + 1)
        val content = render(base.fold(Seq.empty[String])(_.files) ++
          newFiles, markers)
        if (claim(f, commits(path), Manifest.name(v), content)) Some(v)
        else None
      }
      won match {
        case Some(v) => return v
        case None => attempt += 1 // lost the race: rebase and retry
      }
    }
    throw new IllegalStateException(
      s"CAS commit starved after $attempt attempts under $path")
  }

  // ---- data files -----------------------------------------------------

  /** The `part-` files directly under `dir`, as sorted path strings. */
  def partFiles(s: SparkSession, dir: String): Seq[String] =
    fs(s, dir).listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .map(_.toString).sorted.toSeq

  /** Every `part-` file under `path/data` that none of the last `retain`
    * versions references. With `inflightGuard`, files newer than the
    * latest manifest are kept too: a concurrent writer's staged-but-
    * uncommitted files are younger than the latest commit, while a
    * crashed writer's orphans age past it. O(#files) metadata, no data
    * read.
    */
  def unreferenced(s: SparkSession, path: String, retain: Int,
      inflightGuard: Boolean): Seq[String] = {
    require(retain >= 1, "retention must keep at least the live version")
    val f = fs(s, path)
    val vs = versions(s, path)
    require(vs.nonEmpty, s"no committed manifest under $path")
    val keep = vs.takeRight(retain).flatMap(read(f, path, _).files)
      .map(new Path(_).toString).toSet
    val cutoff =
      if (!inflightGuard) Long.MaxValue
      else f.getFileStatus(new Path(commits(path), Manifest.name(vs.last)))
        .getModificationTime
    val dataDir = new Path(path, "data")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.startsWith("part-") &&
          !keep.contains(st.getPath.toString) &&
          st.getModificationTime <= cutoff) out += st.getPath.toString
      }
    }
    out.sorted.toSeq
  }

  // ---- retention VACUUM -----------------------------------------------
  //
  // Versioned manifests keep every superseded and failed write's files on
  // disk forever. The protocol is tombstone-then-delete, the only
  // crash-safe order: the tombstone (a committed file list) is claimed
  // BEFORE any physical delete, so a vacuum that dies mid-delete leaves a
  // readable table plus a resumable work list — deletes are idempotent,
  // so replaying the tombstone finishes the job. Manifests are aged out
  // separately ([[vacuumLog]], Delta's split): expired versions fail on
  // their missing FILES, not on a missing log entry.

  /** Data files deletable under retention-N (see [[unreferenced]]). */
  def vacuumPlan(s: SparkSession, path: String, retain: Int): Seq[String] =
    unreferenced(s, path, retain, inflightGuard = true)

  /** Claim the vacuum's work list as the next tombstone and return it;
    * None when nothing is deletable. A tombstoned file is CONDEMNED —
    * readers at retained versions never referenced it, so publishing the
    * list before deleting loses nothing and gains restartability.
    */
  def vacuumTombstone(s: SparkSession, path: String,
      retain: Int): Option[Seq[String]] = {
    val doomed = vacuumPlan(s, path, retain)
    if (doomed.isEmpty) None
    else {
      append(fs(s, path), commits(path), Tombstone,
        render(doomed, Seq("retain" -> retain.toString)))
      Some(doomed)
    }
  }

  /** Execute (or finish, after a crash) every tombstone that has no
    * `.done` mark: delete its files — idempotent, a missing file is
    * already-done work — then mark it done. Returns the number of files
    * deleted. Run at vacuum start AND at recovery.
    */
  def vacuumResume(s: SparkSession, path: String): Int = {
    val f = fs(s, path)
    val dir = commits(path)
    val ns = names(f, dir)
    val done = Done.in(ns).toSet
    var deleted = 0
    Tombstone.in(ns).filterNot(done).foreach { n =>
      parse(n, lines(f, new Path(dir, Tombstone.name(n)))).files.foreach {
        file => if (f.delete(new Path(file), false)) deleted += 1
      }
      claim(f, dir, Done.name(n), "") // lost: another resume marked it
    }
    deleted
  }

  /** Retention-N vacuum: finish any interrupted run, tombstone the
    * currently deletable set, delete it. Returns (files condemned this
    * run, deletes including resumed work).
    */
  def vacuumRetention(s: SparkSession, path: String,
      retain: Int): (Int, Int) = {
    val resumed = vacuumResume(s, path)
    val condemned = vacuumTombstone(s, path, retain).fold(0)(_.size)
    val deleted = vacuumResume(s, path)
    (condemned, resumed + deleted)
  }

  /** LOG retention: keep the newest `keepLast` manifests, delete the older
    * ones. Time travel beyond the horizon fails LOUDLY ("never
    * committed"), and the data vacuum stays safe because it derives its
    * keep-set from the manifests that still exist. Each delete is
    * independent and idempotent, so no tombstone is needed. Tombstones
    * and done marks are kept.
    */
  def vacuumLog(s: SparkSession, path: String, keepLast: Int): Int = {
    require(keepLast >= 1, "log retention must keep the live version")
    val f = fs(s, path)
    val old = versions(s, path).dropRight(keepLast)
    old.foreach(v =>
      f.delete(new Path(commits(path), Manifest.name(v)), false))
    old.size
  }

  // ---- refs and pairs -------------------------------------------------

  /** Point `ref` at `version` by appending to the ref's own log (last
    * entry wins): an append-only log always leaves the previous publish
    * serving reads, where a mutate-in-place pointer has a crash window
    * with no pointer at all.
    */
  def publishRef(s: SparkSession, path: String, ref: String,
      version: Int): Unit =
    append(fs(s, path), new Path(s"$path/_refs", ref), Ref, version.toString)

  /** The version `ref` was last published at, None if never published. */
  def readRef(s: SparkSession, path: String, ref: String): Option[Int] =
    lastEntry(s, new Path(s"$path/_refs", ref), Ref).map(_.toInt)

  /** Append a (factVersion, viewVersion) record to the pair log. A fact
    * table and its materialized view each have their own manifest log;
    * committing them one at a time opens the window where a reader
    * resolves NEW fact + OLD view. One pair entry carries BOTH versions,
    * so the pair advances atomically or not at all: a writer that dies
    * between the two single-table commits has published nothing.
    */
  def pairCommit(s: SparkSession, path: String, factV: Int,
      viewV: Int): Unit =
    append(fs(s, path), new Path(path, "_pairs"), Pair, s"$factV,$viewV")

  /** The latest atomically-published (fact, view) version pair. */
  def readPair(s: SparkSession, path: String): Option[(Int, Int)] =
    lastEntry(s, new Path(path, "_pairs"), Pair).map { txt =>
      val Array(f, v) = txt.split(",")
      (f.toInt, v.toInt)
    }

  private def lastEntry(s: SparkSession, dir: Path,
      kind: Kind): Option[String] = {
    val f = fs(s, dir.toString)
    kind.in(names(f, dir)).lastOption
      .map(n => text(f, new Path(dir, kind.name(n))).trim)
  }

  // ---- delta log with checkpoints -------------------------------------
  //
  // A full-list manifest re-states every live file per version; a DELTA
  // log records only +added / -removed paths, so commits are O(changed
  // files) — and a reader is O(versions) unless checkpoints exist: a
  // periodic full snapshot plus the `_last_checkpoint` pointer, so a read
  // opens the pointer, one checkpoint, and exactly (v − ck) deltas.

  /** Commit a delta manifest: `-removed` then `+added` lines. */
  def deltaCommit(s: SparkSession, path: String, version: Int,
      added: Seq[String], removed: Seq[String]): Unit =
    commit(s, path, version, removed.map("-" + _) ++ added.map("+" + _))

  /** Claim the full snapshot at `version`, then point `_last_checkpoint`
    * at it — pointer LAST, so a crash between the two leaves readers on
    * the previous checkpoint (slower, never wrong).
    */
  def writeCheckpoint(s: SparkSession, path: String, version: Int,
      files: Seq[String]): Unit = {
    val f = fs(s, path)
    val dir = commits(path)
    if (!claim(f, dir, Checkpoint.name(version), files.mkString("\n")))
      throw new IllegalStateException(
        s"checkpoint v$version under $path already exists")
    // the pointer is written to a temp first: an in-place create() leaves
    // a torn/empty pointer on a mid-write crash
    val ptmp = new Path(dir, "._last_checkpoint.tmp")
    val p = f.create(ptmp, true)
    try p.write(version.toString.getBytes(UTF_8)) finally p.close()
    val ptr = new Path(dir, "_last_checkpoint")
    // delete-then-rename is NOT atomic: a crash or failed rename in this
    // window leaves no pointer until the next checkpoint, and the latest
    // read degrades to the listing scan in [[checkpointResolve]]. So a
    // failed delete (the stale pointer survives: still correct, extra
    // deltas replay) or a failed rename is reported, not fatal: the
    // pointer is a read optimization, the claimed checkpoint is the commit.
    if (f.delete(ptr, false) || !f.exists(ptr)) {
      if (!f.rename(ptmp, ptr))
        System.err.println("[checkpoint] _last_checkpoint rename failed — " +
          "latest-read falls back to the listing scan until the next publish")
    } else {
      System.err.println(s"[checkpoint] _last_checkpoint delete failed — " +
        s"stale pointer (pre-v$version) kept; extra deltas replay until " +
        "the next successful publish")
      try f.delete(ptmp, false) catch { case _: Throwable => () }
    }
  }

  /** Resolve the live file set at `asOf` (None = latest): a latest read
    * follows `_last_checkpoint` (no listing scan for the checkpoint; a
    * missing or torn pointer degrades to it), time travel takes the newest
    * checkpoint ≤ asOf from the listing; then exactly (asOf − ck) delta
    * manifests replay on top. Returns (files, checkpointVersion,
    * deltasOpened).
    */
  def checkpointResolve(s: SparkSession, path: String,
      asOf: Option[Int]): (Seq[String], Int, Int) = {
    val f = fs(s, path)
    val dir = commits(path)
    val ns = names(f, dir)
    val target = asOf.getOrElse(Manifest.in(ns).max)
    val listed = Checkpoint.in(ns).filter(_ <= target).lastOption
    val ck = asOf match {
      case None =>
        val p = new Path(dir, "_last_checkpoint")
        val pointed =
          if (!f.exists(p)) None else text(f, p).trim.toIntOption
        pointed.orElse(listed).getOrElse(-1)
      case Some(_) => listed.getOrElse(-1)
    }
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    if (ck >= 0) live ++= lines(f, new Path(dir, Checkpoint.name(ck)))
    val deltas = (ck + 1) to target
    deltas.foreach { v =>
      read(f, path, v).files.foreach { l =>
        if (l.startsWith("+")) live += l.drop(1)
        else if (l.startsWith("-")) live -= l.drop(1)
      }
    }
    (live.toSeq, ck, deltas.size)
  }
}
