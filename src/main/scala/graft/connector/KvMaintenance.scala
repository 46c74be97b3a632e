package graft.connector

import graft.io.SidecarFs

/** Cross-process SINGLE-WRITER LEASE + intent-marker protocol for
  * derived-artifact maintenance (secondary-index / materialized-view
  * refresh).
  *
  * Why: a refresh applies a CDC delta computed against the watermark it
  * READ — two refreshes interleaved with base commits can each apply a
  * correct-in-isolation delta whose COMPOSITION is wrong (the matview's
  * relative counts double-apply; the index strands ghost entries whose
  * tombstones nobody will ever write) while the last meta write claims
  * the artifact in sync. Refreshes therefore serialize per artifact:
  * one holder at a time, everyone else SKIPS (staleness — the rewrite
  * simply keeps not using the artifact — is the documented degradation;
  * wrong answers are not).
  *
  * Mechanics: create-if-absent of `._graft_maint_lease` (hard-link CAS
  * with an exclusive-create fallback, the manifest-commit primitive). A
  * fresh lease blocks acquisition; a lease older than `leaseMs` is a
  * crashed/stalled holder and is STOLEN by an atomic rename whose
  * moved content is VERIFIED against what the stealer observed — a
  * rename that turns out to have displaced a different (fresh) lease
  * is restored, so concurrent stealers cannot both win. A holder that
  * lost its lease and kept writing is the ZOMBIE case: refreshers
  * re-check `stillHeld` just before publishing and QUARANTINE (suspect
  * marker) instead.
  *
  * ZOMBIE PUBLISHES ARE FENCED (round 7; closes the residual window
  * rounds 5-6 documented): artifact meta no longer publishes by
  * replace-rename but through [[casPublishMeta]] — a versioned CAS
  * keyed on the meta content the holder read under its lease, with an
  * exclusive-create of the next version file as the linearization
  * point. A zombie that passed `stillHeld`, stalled past expiry, and
  * woke after a successor published now loses the create (or fails
  * the re-read expectation) DETERMINISTICALLY and quarantines. The
  * other half — a zombie's late DATA append composing into a
  * successor's published artifact — is closed by the meta recording
  * the artifact table's own manifest version at publish
  * (`dataVersion`): any append after that bumps the version and the
  * artifact self-invalidates out of planning until the next refresh
  * rebuilds (KvIndex.inSync / KvMatView.inSync check it O(1)).
  */
object KvMaintenance {

  /** Default lease: generous vs any sane refresh, small vs a wedged
    * process holding maintenance hostage. */
  val DefaultLeaseMs: Long = 30L * 60 * 1000

  final case class Lease(path: String, token: String)

  private def leasePath(artifactDir: String): String =
    SidecarFs.child(artifactDir, "._graft_maint_lease")

  /** Atomic exclusive create of `p` with `content` —
    * [[SidecarFs.createIfAbsent]] (hard-link / CREATE_NEW locally,
    * rename-if-absent on HDFS). False = the path already existed
    * (someone else won). */
  private def createExclusive(p: String, content: String): Boolean =
    SidecarFs.createIfAbsent(p,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def tryCreate(p: String, token: String): Boolean =
    createExclusive(p, token)

  /** Acquire the artifact's maintenance lease, or None when a live
    * holder exists. A stale lease (older than `leaseMs`) is stolen via
    * an atomic rename, and the MOVED CONTENT is verified against the
    * stale content observed — a steal that displaced someone else's
    * fresh lease (the observe-to-move race) restores it and retries.
    *
    * CLOCK ASSUMPTION: staleness compares this process's clock against
    * the lease file's mtime, which a shared/network filesystem stamps
    * with the WRITER's (or the server's) clock — the age is only
    * meaningful when writers share a clock domain to within a skew far
    * smaller than `leaseMs` (30 min default dwarfs NTP-grade skew; an
    * unsynchronized fleet must raise `leaseMs` accordingly). A
    * skew-induced wrong steal degrades to the ordinary two-holders
    * case: publishes go through the versioned CAS (`casPublish`), so
    * the loser's meta write fails cleanly rather than corrupting. */
  def acquire(artifactDir: String,
      leaseMs: Long = DefaultLeaseMs): Option[Lease] = {
    val p = leasePath(artifactDir)
    val token = java.util.UUID.randomUUID().toString
    var attempts = 0
    while (attempts < 3) {
      if (tryCreate(p, token)) return Some(Lease(p, token))
      val observed =
        try {
          val mt = SidecarFs.mtime(p)
          val age = System.currentTimeMillis() - mt
          if (mt > 0 && age < leaseMs) return None // live holder
          Some(SidecarFs.readString(p))
        } catch { case _: Exception => None } // vanished — retry create
      observed match {
        case None => ()
        case Some(staleContent) =>
          val moved = SidecarFs.child(artifactDir,
            s"._graft_maint_lease.stolen-${token.take(8)}")
          try {
            if (SidecarFs.moveQuiet(p, moved)) {
              // verify we moved the lease we OBSERVED as stale — losing
              // this check would let two stealers both acquire (one by
              // displacing the other's fresh lease)
              if (SidecarFs.readString(moved) == staleContent)
                SidecarFs.deleteIfExists(moved)
              else {
                // displaced a fresh lease — put it back if the slot is
                // still free; otherwise leave the file for the sweeper
                // (its holder's stillHeld check fails safe)
                SidecarFs.moveQuiet(moved, p)
                return None
              }
            }
          } catch { case _: Exception => () } // lost the move race — loop
      }
      attempts += 1
    }
    None
  }

  /** Does `l` still name the CURRENT lease? A holder must re-check this
    * immediately before publishing anything irreversible — a stolen
    * lease means a successor may have run, and the holder's writes are
    * suspect (the refresh implementations quarantine instead). */
  def stillHeld(l: Lease): Boolean =
    try SidecarFs.exists(l.path) && SidecarFs.readString(l.path) == l.token
    catch { case _: Exception => false }

  /** Release — removes only OUR lease, atomically: the lease file is
    * MOVED to a private name first (single winner), its content
    * verified, and a foreign lease (a thief's, stolen after ours
    * expired) is moved back if the slot is still free. When the slot
    * was re-taken the displaced lease file is LEFT ON DISK (aged tmp
    * sweep reclaims it) — its holder's `stillHeld` check fails safe;
    * deleting it would tell us nothing and lose the record. */
  def release(l: Lease): Unit =
    try {
      val trash = SidecarFs.child(
        new org.apache.hadoop.fs.Path(l.path).getParent.toString,
        s"._graft_maint_lease.rel-${l.token.take(8)}")
      if (SidecarFs.moveQuiet(l.path, trash)) {
        if (SidecarFs.readString(trash) == l.token)
          SidecarFs.deleteIfExists(trash)
        else SidecarFs.moveQuiet(trash, l.path): Unit // leave for the sweep
      }
    } catch { case _: Exception => () }

  /** [[acquire]] with bounded exponential-backoff retry — for callers
    * whose maintenance ops are short and frequent (index ingest
    * microbatches racing a compactor) where "skip" would mean dropping
    * a batch. Throws after `timeoutMs` so a wedged holder surfaces
    * loudly instead of stalling ingest forever. */
  def acquireBlocking(artifactDir: String, timeoutMs: Long = 120000L,
      leaseMs: Long = DefaultLeaseMs): Lease = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var backoff = 10L
    while (true) {
      acquire(artifactDir, leaseMs) match {
        case Some(l) => return l
        case None =>
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"maintenance lease on $artifactDir not acquired " +
                s"within ${timeoutMs} ms")
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 250L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // reentrancy: withLease bodies compose (appendAndMaintain → append →
  // rebuildInPlace all guard the same dir) — track per-thread holds so
  // the inner calls run under the outer lease instead of deadlocking
  private val heldByThread = new ThreadLocal[Set[String]] {
    override def initialValue: Set[String] = Set.empty
  }

  /** Run `body` under the artifact's maintenance lease, serializing
    * MUTATORS of one artifact across threads AND OS processes (readers
    * stay lock-free). Reentrant per thread: a body that calls another
    * lease-guarded op on the same dir runs it under the outer lease.
    * The lease lives inside `artifactDir` — ops that SWAP a whole
    * directory must pass a stable sibling scope (see
    * AnnIndex.maintScope), never the swapped dir itself. */
  def withLease[T](artifactDir: String, timeoutMs: Long = 120000L)(
      body: => T): T = {
    val key = SidecarFs.qualified(artifactDir)
    if (heldByThread.get.contains(key)) body
    else {
      SidecarFs.mkdirs(artifactDir)
      val l = acquireBlocking(artifactDir, timeoutMs)
      heldByThread.set(heldByThread.get + key)
      try body
      finally { heldByThread.set(heldByThread.get - key); release(l) }
    }
  }

  // ── intent markers (shared by index and matview refresh) ──────────────
  // One marker file per artifact. Content semantics:
  //  - a lease TOKEN: an incremental apply is (or was) in flight under
  //    that lease — plus watermark-in-sync it means "completed but died
  //    before the clear" (reclaimable);
  //  - "suspect-<id>": a zombie detected its own writes may be corrupt —
  //    NEVER reclaimable; the next refresh must rebuild absolutely.

  private val SuspectPrefix = "suspect"

  def markerPath(artifactDir: String): String =
    SidecarFs.child(artifactDir, "._graft_maint_intent")

  def markerExists(artifactDir: String): Boolean =
    SidecarFs.exists(markerPath(artifactDir))

  /** Marker content at refresh start (None = absent; unreadable reads
    * as a fresh suspect so the caller rebuilds). */
  def readMarker(artifactDir: String): Option[String] =
    try {
      if (!SidecarFs.exists(markerPath(artifactDir))) None
      else Some(SidecarFs.readString(markerPath(artifactDir)).trim)
    } catch { case _: Exception => Some(s"$SuspectPrefix-unreadable") }

  def isSuspect(content: Option[String]): Boolean =
    content.exists(_.startsWith(SuspectPrefix))

  /** Write the in-flight marker for an incremental apply (content = the
    * holder's lease token, so only this holder's publish clears it). */
  def markInFlight(artifactDir: String, l: Lease): Unit =
    SidecarFs.writeStringAtomic(markerPath(artifactDir), l.token)

  /** Quarantine: unique suspect content — never equal to any token or
    * to a previously-observed marker, so no publish tail clears it. */
  def quarantine(artifactDir: String): Unit =
    SidecarFs.writeStringAtomic(markerPath(artifactDir),
      s"$SuspectPrefix-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Clear the marker iff its CURRENT content is ours to clear: our
    * lease token, or exactly the content we observed at start (our
    * rebuild healed it). A concurrent zombie's fresh marker — different
    * content by construction — survives. */
  def clearIfOwned(artifactDir: String, l: Lease,
      observedAtStart: Option[String]): Unit = {
    val ours =
      try !SidecarFs.exists(markerPath(artifactDir)) || {
        val c = SidecarFs.readString(markerPath(artifactDir)).trim
        c == l.token || observedAtStart.contains(c)
      } catch { case _: Exception => false }
    if (ours) SidecarFs.deleteIfExists(markerPath(artifactDir))
  }

  // ── fenced meta publish (versioned CAS) ───────────────────────────────
  // Small artifact-meta files (index/matview definitions) publish as
  // `<name>.v%020d` with monotonically increasing versions; the newest
  // parseable version is current. Publishing EXCLUSIVELY CREATES the
  // next version file after an expectation over the current content —
  // the create is the linearization point (same discipline as
  // SegmentFile.commitManifest), so a publisher holding a stale view
  // loses the race deterministically instead of replace-renaming over a
  // successor.

  private def versionedMetaFile(dir: String, name: String, v: Long): String =
    SidecarFs.child(dir, f"$name%s.v$v%020d")

  private def metaVersions(dir: String, name: String): Seq[Long] =
    SidecarFs.list(dir)
      .filter(_.startsWith(name + ".v"))
      .flatMap(f => f.substring(name.length + 2).toLongOption)
      .sorted

  /** Current meta content: the newest readable version, else None.
    * Readers never block publishers. */
  def readVersionedMeta(dir: String, name: String): Option[String] =
    metaVersions(dir, name).reverseIterator
      .map { v =>
        try Some(SidecarFs.readString(versionedMetaFile(dir, name, v)))
        catch { case _: Exception => None } // pruned mid-read — try older
      }
      .collectFirst { case Some(c) => c }

  /** Publish `content` as the next meta version IFF `expect` accepts
    * the CURRENT content (None = no meta yet). Retries version-number
    * collisions (a concurrent publish that does not change what
    * `expect` sees); returns false as soon as the expectation fails —
    * the stale-publisher (zombie) outcome. The caller's `expect` must
    * encode its fencing condition, e.g. "the watermark is still the one
    * I read under my lease". */
  def casPublishMeta(dir: String, name: String, content: String)(
      expect: Option[String] => Boolean): Boolean = {
    var attempts = 0
    while (attempts < 100) {
      val versions = metaVersions(dir, name)
      if (!expect(readVersionedMeta(dir, name))) return false
      val next = versions.lastOption.getOrElse(0L) + 1L
      if (createExclusive(versionedMetaFile(dir, name, next), content)) {
        // keep a couple of predecessors for slow readers
        versions.dropRight(2).foreach(v =>
          try SidecarFs.deleteIfExists(versionedMetaFile(dir, name, v))
          catch { case _: Exception => () })
        return true
      }
      attempts += 1 // lost the create — re-read, re-check, re-try
    }
    false
  }
}
