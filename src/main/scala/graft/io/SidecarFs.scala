package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Sidecar + commit-protocol I/O through the Hadoop `FileSystem` API.
  *
  * The index layers (ANN centroids/params/drift/tombstones, MinHash
  * params/commit marker, kv table meta) write their parquet payloads
  * through Spark — any Hadoop filesystem — but their small sidecar
  * files and directory-swap commit protocols used to go through
  * `java.nio.file`, pinning every index to the driver's LOCAL disk. At
  * cluster scale an index lives on shared storage (HDFS, S3, …) next
  * to its data, so all sidecar I/O funnels through here instead: paths
  * are plain strings (scheme-qualified or not), each op resolves the
  * owning `FileSystem` from the active session's Hadoop conf, and the
  * semantics match what the crash-recovery state machines assumed from
  * `java.nio.file.Files` (move fails when the source vanished or the
  * destination exists; recursive delete; read/write whole small files).
  *
  * Atomicity notes, by backend: rename is atomic on HDFS and local
  * disk — the 4-step directory-swap commits rely only on rename plus
  * re-checks, so they hold there. On object stores without atomic
  * rename (raw S3A) the swap degrades to fail-loud, never
  * silent-corrupt: the `_SUCCESS`-marker checks and the bounded
  * re-verify in the swap reject a half-applied state.
  */
object SidecarFs {

  /** Hadoop conf: the active session's (so `spark.hadoop.*` settings
    * apply to sidecars exactly as to the parquet payloads), else a
    * plain default. A session's conf is cached per session —
    * `newHadoopConf()` clones the full conf and meta reads happen per
    * query plan. Threads without a session (Spark task threads) share
    * ONE default conf built once per JVM: a fresh `Configuration`
    * parses the default XML resources on first read (milliseconds per
    * task), and the two kinds of thread keep separate slots so they
    * never evict each other. */
  @volatile private var cached: (SparkSession, Configuration) = null
  private lazy val defaultConf: Configuration = new Configuration()
  def hadoopConf: Configuration = SparkSession.getActiveSession match {
    case Some(s) =>
      val c = cached
      if (c != null && (c._1 eq s)) c._2
      else {
        val conf = s.sessionState.newHadoopConf()
        cached = (s, conf)
        conf
      }
    case None => defaultConf
  }

  /** Owning FileSystem, with the LOCAL scheme unwrapped to the RAW
    * (checksum-free) implementation. The checksummed LocalFileSystem
    * would shadow every store file with a `.crc` twin, and the store's
    * commit protocols rename/replace files through POSIX-atomic nio
    * fast paths that cannot keep those shadows in sync — a stale crc
    * beside renamed content poisons later checksummed reads. Raw local
    * matches `java.nio.file` semantics one-for-one, which is exactly
    * what the crash-recovery state machines were built on. */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(hadoopConf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case fs => fs
    }

  /** `true` when `path` resolves to the local scheme — the store keeps
    * POSIX nio fast paths there (hard-link CAS, atomic replace) whose
    * exact failure atomicity Hadoop's local connector does not give. */
  private def isLocal(qp: Path): Boolean =
    "file".equals(qp.toUri.getScheme)
  private def localPath(qp: Path): java.nio.file.Path =
    java.nio.file.Paths.get(qp.toUri.getPath)

  /** `dir/name` with the scheme of `dir` preserved. */
  def child(dir: String, name: String): String =
    new Path(dir, name).toString

  /** Fully-qualified canonical form — stable lock/caching key for a
    * path however it was spelled (relative, absolute, with scheme). */
  def qualified(path: String): String = {
    val p = new Path(path)
    fsOf(p).makeQualified(p).toString
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  def isDirectory(path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Local paths go through `java.nio`: without Hadoop's native
    * library the raw local filesystem forks a `chmod` process per
    * created directory or file. */
  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    val qp = fs.makeQualified(p)
    if (isLocal(qp)) java.nio.file.Files.createDirectories(localPath(qp)): Unit
    else fs.mkdirs(qp): Unit
  }

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Recognizes the crash-strandable temp files this object's atomic
    * write / CAS primitives create: `.<origName>.tmp-<uuid8>`. Every
    * sweeper (VACUUM's unmanifested sweep, DROP TABLE) must reclaim
    * strands through THIS predicate, never a hand-kept prefix list —
    * the r15 review found `_graft_segments.v<N>` and already-dotted
    * marker names (`._graft_epoch-…` → temp `.._graft_epoch-….tmp-x`)
    * had drifted outside the lists and would strand forever. In-flight
    * (non-crashed) temps are protected by the callers' age cutoffs,
    * not by this predicate. */
  def isTempArtifact(name: String): Boolean = {
    val i = name.lastIndexOf(".tmp-")
    name.startsWith(".") && i > 0 && i + 5 < name.length
  }

  /** Whole-file overwrite — ATOMIC by default (delegates to
    * [[writeStringAtomic]]): every current caller's sidecars are small
    * and none needs in-place semantics, while a future call site that
    * forgot the torn-read analysis would otherwise be a loaded footgun
    * (r14 verdict). The non-atomic raw write survives only as the
    * private temp-file step inside the atomic publish. */
  def writeString(path: String, content: String): Unit =
    writeStringAtomic(path, content)

  private def writeStringRaw(path: String, content: String): Unit = {
    val p = new Path(path)
    val out = fsOf(p).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Write to a hidden temp sibling, then rename OVER the target: a
    * racing reader — same JVM or another OS process — sees either the
    * old or the new complete file, never a half-written one and never
    * a missing one.
    *
    * Scheme split: HDFS's overwrite-rename is atomic, so remote
    * schemes go through `FileContext.rename(OVERWRITE)`. The LOCAL
    * AbstractFileSystem implements overwrite-rename as
    * delete-then-rename (ChecksumFs further splits it into data + crc
    * sub-renames) — concurrent committers half-win and readers see a
    * missing-file window, which the kv meta CAS protocol (concurrent
    * committers are its NORMAL case, cross-process included) cannot
    * tolerate. Local targets therefore publish through
    * `java.nio.file.Files.move(ATOMIC_MOVE, REPLACE_EXISTING)` — the
    * POSIX rename(2) guarantee — with the temp ALSO written via nio so
    * no checksum shadow is ever created for these files (a stale crc
    * paired with new content would poison later checksummed reads;
    * absent crc files are simply not verified). */
  def writeStringAtomic(path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    val qp = fs.makeQualified(p)
    if ("file".equals(qp.toUri.getScheme)) {
      val dst = java.nio.file.Paths.get(qp.toUri.getPath)
      // parent auto-creation matches the Hadoop create() behavior the
      // raw overwrite had (callers never pre-make sidecar dirs)
      java.nio.file.Files.createDirectories(dst.getParent): Unit
      val tmp = dst.resolveSibling(
        s".${qp.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp,
        content.getBytes(StandardCharsets.UTF_8))
      // drop any stale checksum shadow from an earlier Hadoop-written
      // generation BEFORE the move: a brief crc-less old file verifies
      // fine, old-crc-with-new-content does not
      java.nio.file.Files.deleteIfExists(
        dst.resolveSibling(s".${qp.getName}.crc"))
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(qp.getParent,
        s".${qp.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      writeStringRaw(tmp.toString, content)
      val fc = FileContext.getFileContext(qp.toUri, hadoopConf)
      fc.rename(tmp, qp, Options.Rename.OVERWRITE)
    }
  }

  /** Delete a file if present (non-recursive); no-op when absent. */
  def deleteIfExists(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).delete(p, false): Unit
  }

  def deleteRecursively(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).delete(p, true): Unit
  }

  /** Rename that tolerates losing a cross-process race — `false` when
    * the source is missing or the destination already exists (the
    * `java.nio` `Files.move` failure modes the recovery state machines
    * re-evaluate on), `true` on success. Never moves INTO an existing
    * destination directory: on the local scheme the check-then-rename
    * window would let Hadoop's rename NEST src under a destination a
    * racing recovery created, so local paths rename through
    * `java.nio.file.Files.move` (atomic failure on missing src /
    * existing dst — the exact semantics the swap machines were built
    * on); remote schemes keep the pre-checked Hadoop rename, where
    * HDFS rename onto an existing path returns false rather than
    * nesting. */
  def moveQuiet(src: String, dst: String): Boolean = {
    val sp = new Path(src)
    val fs = fsOf(sp)
    val qsp = fs.makeQualified(sp)
    val qdp = fs.makeQualified(new Path(dst))
    if ("file".equals(qsp.toUri.getScheme)) {
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(qsp.toUri.getPath),
          java.nio.file.Paths.get(qdp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.NoSuchFileException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.DirectoryNotEmptyException => false
      }
    } else if (!fs.exists(qsp) || fs.exists(qdp)) false
    else fs.rename(qsp, qdp)
  }

  /** Strict rename — for single-maintainer swaps where losing the race
    * is a caller bug, not a tolerated outcome. */
  def move(src: String, dst: String): Unit =
    require(moveQuiet(src, dst), s"rename $src -> $dst failed " +
      "(source missing or destination exists)")

  // ── store-layer ops (segment payloads, packs, commit protocols) ────────
  // The kv STORE speaks these instead of java.nio.file so a table can
  // live on any Hadoop filesystem next to its parquet neighbors. Local
  // paths keep nio fast paths where the commit protocols need exact
  // POSIX atomicity (hard-link CAS, atomic replace).

  /** Open a file for sequential reading. The returned stream's `skip`
    * seeks (never decodes) on every backend, so sparse-index floor
    * seeks stay O(1) in skipped bytes. */
  def open(path: String): java.io.InputStream = {
    val p = new Path(path)
    fsOf(p).open(p)
  }

  /** Create (overwrite) a file for sequential writing; parents are
    * created as needed (Hadoop semantics — the store always writes
    * into an existing table dir anyway). Unbuffered: callers wrap it.
    * Local files are written through `java.nio` (no `.crc` shadow, no
    * forked `chmod`), like [[writeStringAtomic]]. */
  def create(path: String): java.io.OutputStream = {
    val p = new Path(path)
    val fs = fsOf(p)
    val qp = fs.makeQualified(p)
    if (isLocal(qp)) {
      val lp = localPath(qp)
      java.nio.file.Files.createDirectories(lp.getParent)
      java.nio.file.Files.newOutputStream(lp)
    } else fs.create(qp, true)
  }

  def size(path: String): Long = {
    val p = new Path(path)
    fsOf(p).getFileStatus(p).getLen
  }

  /** Modification time in millis; 0 when the file is absent (the
    * `java.io.File.lastModified` convention the retention sweeps use —
    * an absent file compares "older than any cutoff" and its delete is
    * a no-op). */
  def mtime(path: String): Long = {
    val p = new Path(path)
    try fsOf(p).getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Mtime touch; throws on failure (lease refresh must KNOW the touch
    * landed — callers doing best-effort retention aging wrap it). */
  def setMtime(path: String, millis: Long): Unit = {
    val p = new Path(path)
    fsOf(p).setTimes(p, millis, -1)
  }

  private[graft] val listCalls = new java.util.concurrent.atomic.AtomicLong()

  /** Child NAMES of a directory; empty when absent or not a directory
    * (the `java.io.File.list` null convention, already flattened).
    * Every call bumps `listCalls`: a listing stats every child, so
    * tests and the benchmark pin cold planning paths on NOT listing
    * (SegmentFile's durable version hint). */
  def list(dir: String): Seq[String] = {
    listCalls.incrementAndGet()
    val p = new Path(dir)
    val fs = fsOf(p)
    try fs.listStatus(p).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Stable identity string for cache keys — changes whenever the file
    * is replaced, even by same-sized content: local files carry the
    * inode (nio fileKey), remote ones path+length+mtime. None when
    * absent. */
  def identity(path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(p)
    val qp = fs.makeQualified(p)
    try {
      if (isLocal(qp)) {
        val a = java.nio.file.Files.readAttributes(localPath(qp),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        Some(s"${a.fileKey}:${a.size}:${a.lastModifiedTime.toMillis}")
      } else {
        val st = fs.getFileStatus(qp)
        Some(s"$qp:${st.getLen}:${st.getModificationTime}")
      }
    } catch { case _: java.io.IOException => None }
  }

  /** Atomic move that REPLACES the destination — for single-writer
    * pack publishes where the content for a given name is immutable
    * (identical bytes from identical inputs), so any winner is
    * correct. Local: POSIX rename(2); remote: FileContext
    * OVERWRITE rename (atomic on HDFS). */
  def moveReplace(src: String, dst: String): Unit = {
    val sp = new Path(src)
    val fs = fsOf(sp)
    val qsp = fs.makeQualified(sp)
    val qdp = fs.makeQualified(new Path(dst))
    if (isLocal(qsp))
      java.nio.file.Files.move(localPath(qsp), localPath(qdp),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    else {
      val fc = FileContext.getFileContext(qdp.toUri, hadoopConf)
      fc.rename(qsp, qdp, Options.Rename.OVERWRITE)
    }
  }

  /** Non-recursive delete that tolerates a non-empty directory (the
    * `java.io.File.delete` convention dropTable's final rmdir relies
    * on — leave the dir alone when user files remain). */
  def deleteQuiet(path: String): Unit = {
    val p = new Path(path)
    try fsOf(p).delete(p, false): Unit
    catch { case _: java.io.IOException => () }
  }

  /** Zero-copy share of one immutable file: hard link where the
    * backend has them (local POSIX — same inode, separate directory
    * entry), byte copy elsewhere (HDFS/object stores have no links).
    * Cross-filesystem src/dst falls back to a streamed copy too. */
  def shareOrCopy(src: String, dst: String): Unit = {
    val sp = new Path(src)
    val fs = fsOf(sp)
    val qsp = fs.makeQualified(sp)
    val qdp = fsOf(new Path(dst)).makeQualified(new Path(dst))
    if (isLocal(qsp) && isLocal(qdp)) {
      try java.nio.file.Files.createLink(localPath(qdp), localPath(qsp)): Unit
      catch {
        case _: Exception =>
          java.nio.file.Files.copy(localPath(qsp), localPath(qdp)): Unit
      }
    } else {
      val in = open(qsp.toString)
      try {
        val out = create(qdp.toString)
        try in.transferTo(out): Unit finally out.close()
      } finally in.close()
    }
  }

  /** Atomic create-if-absent publish — the manifest CAS primitive: the
    * full `body` appears at `dst` iff no committer beat us to it, and
    * a loser NEVER clobbers the winner. Local: hard link from a fully
    * written temp (POSIX link(2) fails EEXIST atomically), falling
    * back to `CREATE_NEW` on linkless filesystems. Remote: fully
    * written temp + rename-if-absent — on HDFS rename onto an existing
    * path returns false without touching it, the same primitive. */
  def createIfAbsent(dst: String, body: Array[Byte]): Boolean = {
    val p = new Path(dst)
    val fs = fsOf(p)
    val qp = fs.makeQualified(p)
    if (isLocal(qp)) {
      val target = localPath(qp)
      val tmp = target.resolveSibling(
        s".${qp.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, body)
      try {
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          try {
            java.nio.file.Files.write(target, body,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally java.nio.file.Files.deleteIfExists(tmp): Unit
    } else {
      val tmp = new Path(qp.getParent,
        s".${qp.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(body) finally out.close()
      try moveQuiet(tmp.toString, qp.toString)
      finally { fs.delete(tmp, false): Unit }
    }
  }
}
