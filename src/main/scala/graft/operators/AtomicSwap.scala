package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-atomic directory replacement — the commit-marker + roll-forward
  * discipline for every whole-table swap in the storage layer (the daily
  * driver's decision table and signature index re-layout, q132's cached
  * index root; anything else that replaces a directory wholesale).
  *
  * Why delete-then-rename alone is not enough: a crash between the two
  * leaves NO live copy of the table. The marker turns the swap into a
  * two-phase commit against the filesystem:
  *
  *  1. write the replacement under `dst__new` (crash here: debris with no
  *     marker — uncommitted, the old table still serves reads);
  *  2. create the commit marker `dst__commit` (crash after: the
  *     replacement is durable — every later open rolls FORWARD);
  *  3. delete `dst`, rename `dst__new` → `dst` (crash between: repair
  *     re-drives both — each step is idempotent);
  *  4. remove the marker.
  *
  * [[repair]] is cheap (one existence probe when healthy) and must run
  * before every read of a swap-managed directory — the open-repairs
  * contract DailyDriverCrashSpec pins for the driver tables.
  *
  * Repair is DESTRUCTIVE (it deletes the old table once the marker is
  * durable), so it must never race the writer's own marker window or a
  * second repair: both the marker window of [[swap]] and the body of
  * [[repair]] run under a short-lived TABLE lock (`dst__lock`,
  * create-no-overwrite). The lock is held only around metadata
  * operations (seconds), never around the replacement write, so a
  * healthy reader hitting a marker waits briefly for the writer to
  * finish; a marker left by a CRASH comes with a lock whose heartbeat
  * has stopped — broken after `lockStaleMs` (default 60 s, far above
  * any healthy delete+rename) and repaired.
  *
  * Reader contract: this is a single-writer, read-RETRY discipline — a
  * reader racing the swap's delete+rename window can observe a missing
  * directory for the instant between the two renames; `repair` + retry
  * always lands on a complete table (the replacement is durable before
  * the old table is touched). Workloads that need lock-free snapshot
  * reads across mutations use the versioned-manifest layout instead
  * ([[LexIndex]] and, since round 8, [[VecIndex]]), where published
  * versions are immutable, readers pin one, and the `gc` grace window
  * keeps a pinned version's files alive until in-flight scans are done;
  * this helper is for tables swapped between protocol steps (the daily
  * driver's), not under live concurrent scans.
  */
object AtomicSwap {

  private def tmpPath(dst: String) = new Path(dst + "__new")
  private def markerPath(dst: String) = new Path(dst + "__commit")
  private def lockPath(dst: String) = new Path(dst + "__lock")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `dst` with whatever `write` puts under the temp directory,
    * atomically under crashes. `write` receives the temp path and must
    * fully materialize the replacement there (e.g.
    * `df.write.parquet(tmp)` — Spark's job commit makes the directory
    * complete-or-absent). */
  def swap(spark: SparkSession, dst: String)(write: String => Unit): Unit = {
    val dstP = new Path(dst)
    val fs = fsOf(spark, dstP)
    repair(spark, dst) // finish any interrupted predecessor first
    val tmp = tmpPath(dst)
    fs.delete(tmp, true) // uncommitted debris from an earlier crash
    write(tmp.toString)
    // the marker window: metadata ops only, guarded by the table lock so
    // a concurrent reader's repair can never interleave its delete/rename
    // with ours
    withTableLock(fs, dst) {
      fs.create(markerPath(dst), false).close() // THE commit point
      fs.delete(dstP, true)
      require(fs.rename(tmp, dstP), s"swap rename failed: $tmp -> $dstP")
      fs.delete(markerPath(dst), false)
    }
  }

  /** Roll an interrupted [[swap]] forward. Marker present + tmp present →
    * the replacement is durable but unpublished: re-drive delete+rename.
    * Marker present + tmp absent → only the marker removal remained.
    * Marker absent → any tmp debris is uncommitted and stays invisible
    * (the next swap overwrites it). Idempotent — repair may itself crash
    * and re-run; serialized against the writer and other repairs by the
    * table lock (the marker is re-checked under it — a repair that
    * merely waited out a healthy writer finds it gone and does nothing).
    *
    * @param lockStaleMs age past which a lock counts as a crashed
    *                    holder's and is broken (specs shrink it)
    * @param deadlineMs  bound on waiting for a LIVE lock holder */
  def repair(spark: SparkSession, dst: String,
             lockStaleMs: Long = 60000L, deadlineMs: Long = 120000L): Unit = {
    val dstP = new Path(dst)
    val fs = fsOf(spark, dstP)
    if (!fs.exists(markerPath(dst))) return
    withTableLock(fs, dst, lockStaleMs, deadlineMs) {
      if (fs.exists(markerPath(dst))) { // re-check under the lock
        val tmp = tmpPath(dst)
        if (fs.exists(tmp)) {
          fs.delete(dstP, true)
          require(fs.rename(tmp, dstP), s"repair rename failed: $tmp -> $dstP")
        }
        fs.delete(markerPath(dst), false)
      }
    }
  }

  /** Short-lived mutual exclusion on `dst`'s metadata window: poll the
    * create-no-overwrite lock (genuinely atomic on `file:` via NIO
    * `CREATE_NEW` — see [[Lease.tryCreate]]), breaking locks whose
    * recorded creation millis is older than `lockStaleMs` (their holder
    * crashed mid-window), giving up after `deadlineMs` if a LIVE holder
    * never finishes.
    *
    * Breaking is the [[Lease.acquire]] tombstone discipline, NOT a bare
    * delete: two contenders reading the same stale timestamp must not
    * both "break" it — the slower one would delete the faster one's
    * freshly-created lock and both would enter the window. The break
    * RENAMES the lock to a unique tombstone (atomic — one winner) and
    * verifies the tombstone still holds the stale content the decision
    * was based on; content that changed means a competitor already broke
    * and re-created the lock, so the move is undone and this contender
    * goes back to polling. Release verifies the stored nonce first: a
    * holder whose window outlived `lockStaleMs` (misconfiguration) must
    * not delete its breaker's fresh lock. */
  private[operators] def withTableLock[T](fs: FileSystem, dst: String,
                                          lockStaleMs: Long = 60000L,
                                          deadlineMs: Long = 120000L)(body: => T): T = {
    val p = lockPath(dst)
    val nonce = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + deadlineMs
    def readRaw(at: Path): Option[String] = Lease.readRawBytes(fs, at)
    var acquired = false
    while (!acquired) {
      acquired = Lease.tryCreate(fs, p,
        s"${System.currentTimeMillis()}|$nonce")
      if (!acquired) {
        val observed = readRaw(p)
        // a torn or empty lock ages by its file mtime: CREATE_NEW makes
        // the file before it writes the body, so a contender can read a
        // live holder's lock empty; vanished → stale by definition
        val ts = observed.flatMap(_.split('|').headOption)
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .orElse(
            try Some(fs.getFileStatus(p).getModificationTime)
            catch { case _: java.io.IOException => None })
          .getOrElse(0L)
        if (System.currentTimeMillis() - ts > lockStaleMs) {
          // Breakers are SERIALIZED through the break token ([[Lease
          // .acquire]]'s discipline — see its takeover comment): a
          // contender renaming the lock path on a stale read could move
          // a competitor's FRESH lock aside, and the momentary absence
          // would admit a third contender into the window. Only the
          // token winner may rename, after re-confirming the lock still
          // holds the stale content the decision was based on; while the
          // token is held nothing else can change the lock path (fresh
          // locks are only created on an absent path).
          val breakTok = new Path(dst + "__lock_break")
          if (Lease.tryCreate(fs, breakTok,
            s"${System.currentTimeMillis()}|$nonce")) {
            try {
              if (readRaw(p) == observed) {
                val tomb = new Path(dst + "__lock_tomb_" +
                  java.util.UUID.randomUUID().toString)
                if (Lease.atomicRename(fs, p, tomb)) {
                  if (readRaw(tomb) == observed) fs.delete(tomb, false)
                  else { // backstop — unreachable while the token holds
                    Lease.atomicRename(fs, tomb, p)
                    ()
                  }
                }
              } // else: the lock moved on under us — poll again
            } finally fs.delete(breakTok, false)
          } else {
            // a breaker is mid-flight — or crashed holding the token:
            // age it out by its recorded ts, falling back to the FILE's
            // mtime when the content is torn/empty (a breaker killed
            // between create and write must not bar breaking forever —
            // the torn-lock convention, token edition). None = vanished
            // under us: just poll again. Removal is the tombstone
            // discipline ([[Lease.sweepStaleToken]]) — a bare delete
            // could land on a competitor's FRESH token created after a
            // parallel sweep, admitting two breakers.
            val rawTok = readRaw(breakTok)
            val tokTs = rawTok
              .flatMap(_.split('|').headOption)
              .flatMap(s => scala.util.Try(s.toLong).toOption)
              .orElse(
                try Some(fs.getFileStatus(breakTok).getModificationTime)
                catch { case _: java.io.IOException => None })
            if (tokTs.exists(System.currentTimeMillis() - _ > lockStaleMs))
              Lease.sweepStaleToken(fs, breakTok, rawTok)
            else if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"table lock $p stale but its break token is held past " +
                  s"${deadlineMs} ms — live breaker stuck?")
            Thread.sleep(50)
          }
        } else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"table lock $p held past ${deadlineMs} ms — live holder stuck?")
        else Thread.sleep(200)
      }
    }
    try body finally {
      if (readRaw(p).exists(_.endsWith(nonce))) fs.delete(p, false)
    }
  }
}

/** Single-writer fencing for a storage-protocol root: a lease FILE under
  * the directory, acquired with create-no-overwrite (atomic on HDFS and
  * object stores with conditional put; on `file:` URIs via NIO
  * `CREATE_NEW` — one atomic O_CREAT|O_EXCL open, so the local case is
  * genuinely atomic too, LeaseHammerSpec races N threads to prove it).
  * A second writer fails FAST instead of interleaving its swaps/appends
  * with a live step.
  *
  * Staleness: a crashed writer leaves its lease behind by design — the
  * lease carries an epoch-millis heartbeat, and an acquirer may TAKE OVER
  * a lease whose NEWEST heartbeat is older than `staleMs` (default
  * 30 min). [[withLease]] RENEWS the heartbeat every `staleMs / 3` from
  * a daemon thread, so staleness means "the holder stopped beating",
  * not "the step ran long" — a legitimate multi-hour compaction stays
  * fenced while a genuinely dead writer ages out in one bound. Renewals
  * are uniquely-named sidecar files (`.lease-hb-<uuid>`, same
  * `owner|ts|nonce` body), never overwrites: a reader can at worst see
  * a torn COPY of the newest beat and fall back to the previous one, so
  * no renewal race can make a live lease look stale. Only beats whose
  * nonce matches the live lease count — debris from a fenced-out former
  * holder refreshes nothing. Takeover remains a dead-writer protocol,
  * not preemption: a writer alive-but-frozen past `staleMs` (renewal
  * thread starved too) is still taken over, and the table-level
  * [[AtomicSwap]] lock bounds that misconfiguration to loud swap
  * failures rather than silent interleaving.
  *
  * Takeover is a two-step break: the contender first wins the BREAK
  * TOKEN (`.lease-break`, create-no-overwrite — one breaker at a time;
  * without it, racing breakers renaming on stale reads momentarily
  * vacate the lease path and several creates win, LeaseHammerSpec
  * recorded six concurrent "holders"), then re-reads the lease, confirms
  * it still carries the stale content the decision was based on, renames
  * it to a tombstone (NIO ATOMIC_MOVE on `file:` — Hadoop's local rename
  * has a copy fallback that can clone a reappeared file), verifies the
  * tombstone, and creates its own lease before releasing the token. A
  * breaker that crashes holding the token ages out after 60 s. Release
  * verifies the stored nonce first: a writer that lost its lease to a
  * takeover must not delete the new owner's lease.
  */
object Lease {

  final case class Token(dir: String, nonce: String)

  /** Acquisition CONTENTION — a live holder, a lost takeover race, or a
    * competing breaker mid-flight. Its own type so [[withLeaseWait]] can
    * retry exactly this and nothing else: an `IllegalStateException` a
    * lease-holding body throws (an epoch fence, a protocol guard) must
    * propagate, never be mistaken for "try the lock again". */
  final class LeaseHeldException(msg: String, cause: Throwable = null)
    extends IllegalStateException(msg, cause)

  private def leasePath(dir: String) = new Path(dir + "/__lease")
  private val hbPrefix = ".lease-hb-"

  /** Newest parseable heartbeat for `nonce` under `dir`, or None. A
    * half-written beat parses as torn and is skipped — the previous
    * complete beat (or the lease's own ts) still stands. */
  private def newestBeat(fs: FileSystem, dir: String, nonce: String): Option[Long] = {
    val beats =
      try fs.listStatus(new Path(dir)).toSeq
        .filter(_.getPath.getName.startsWith(hbPrefix))
      catch { case _: java.io.IOException => Seq.empty }
    beats.flatMap(st => readLease(fs, st.getPath))
      .collect { case (_, ts, n) if n == nonce => ts }
      .sorted.lastOption
  }

  private def dropBeats(fs: FileSystem, dir: String, nonce: String,
                        keepNewest: Boolean): Unit = {
    val mine =
      try fs.listStatus(new Path(dir)).toSeq
        .filter(_.getPath.getName.startsWith(hbPrefix))
        .flatMap(st => readLease(fs, st.getPath)
          .collect { case (_, ts, n) if n == nonce => (ts, st.getPath) })
        .sortBy(_._1)
      catch { case _: java.io.IOException => Seq.empty }
    val victims = if (keepNewest) mine.dropRight(1) else mine
    victims.foreach { case (_, p) =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Raw content read, scheme-aware: `file:` goes through NIO so the
    * lease layer NEVER reads via ChecksumFileSystem — its NIO-created
    * files have no `.crc` sidecar, and an orphaned sidecar from an
    * fs.create'd predecessor would make a checksum-verified open throw
    * and a live lease parse as torn. None = vanished or unreadable. */
  private[operators] def readRawBytes(fs: FileSystem, p: Path): Option[String] =
    if (fs.getScheme == "file") {
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8"))
      catch { case _: java.io.IOException => None }
    } else try {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      Some(new String(bytes, "UTF-8"))
    } catch { case _: java.io.IOException => None }

  private def readLease(fs: FileSystem, p: Path): Option[(String, Long, String)] =
    readRawBytes(fs, p).flatMap(_.split('|') match {
      case Array(owner, ts, nonce) =>
        scala.util.Try((owner, ts.toLong, nonce)).toOption
      case _ => None // torn write → treat as stale garbage
    })

  /** Create-no-overwrite with `body` as content. On `file:` URIs Hadoop's
    * RawLocalFileSystem `create(p, false)` is check-then-create — two
    * concurrent creators can both "win" — so the local scheme goes
    * through NIO `CREATE_NEW`, which is a single atomic open(2) with
    * O_CREAT|O_EXCL; cluster filesystems keep the Hadoop path (atomic on
    * HDFS, conditional put on object stores). Exposed to [[AtomicSwap]]
    * so its table lock shares the same atomicity. */
  private[operators] def tryCreate(fs: FileSystem, p: Path, body: String): Boolean =
    if (fs.getScheme == "file") {
      try {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        val parent = local.getParent
        if (parent != null) java.nio.file.Files.createDirectories(parent)
        java.nio.file.Files.write(local, body.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else try {
      val out = fs.create(p, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException => false // raw local fs throws plain IOE
    }

  /** Atomic file move for the tombstone protocol. Hadoop's local
    * `rename` is NOT safe here: when `File.renameTo` fails (e.g. the
    * source just vanished), RawLocalFileSystem falls back to
    * FileUtil.copy(deleteSource=true) — which can "rename" a DIFFERENT
    * file that reappeared at the source path after the check, deleting a
    * live lock/lease out from under its holder (LeaseHammerSpec caught
    * exactly this: racing stale-breakers cloned each other's fresh locks
    * away). On `file:` URIs use NIO ATOMIC_MOVE — one rename(2), fails
    * cleanly when the source is missing, never copies. Cluster
    * filesystems keep `fs.rename` (HDFS rename is atomic, no copy
    * fallback). */
  private[operators] def atomicRename(fs: FileSystem, src: Path, dst: Path): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(src.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.io.IOException => false }
    } else {
      try fs.rename(src, dst)
      catch { case _: java.io.IOException => false }
    }

  /** Sweep a break token judged STALE, the tombstone way. A bare delete
    * is check-then-delete: between reading the token's stale timestamp
    * and the delete, a competitor can sweep the stale token and a fresh
    * breaker create its own — which the late delete then removes,
    * admitting two concurrent breakers and losing the serialization the
    * token exists to provide. Instead: rename the token to a unique
    * tombstone (atomic — at most one sweeper wins the file), verify the
    * tombstone still holds the content the staleness decision was based
    * on, and only then drop it. Content that changed means a FRESH
    * token was moved aside — restore it via create-no-overwrite (never
    * a clobbering rename-back: the path may hold an even newer token by
    * the time the mismatch is noticed) and back off; if the restore
    * loses the create race, safety degrades to the pre-token discipline
    * (the lease/lock re-read-before-rename guard still prevents extra
    * holders), which is the documented fallback. */
  private[operators] def sweepStaleToken(fs: FileSystem, tok: Path,
                                         observed: Option[String]): Unit = {
    val tomb = new Path(tok.getParent,
      tok.getName + ".tomb-" + java.util.UUID.randomUUID().toString)
    if (atomicRename(fs, tok, tomb)) {
      // the tombstone name is unique to THIS sweeper, so a read failure
      // here is transient IO, never a race — retry before judging
      var content = readRawBytes(fs, tomb)
      var tries = 0
      while (content.isEmpty && observed.nonEmpty && tries < 3) {
        Thread.sleep(10L); content = readRawBytes(fs, tomb); tries += 1
      }
      if (content.isEmpty && observed.nonEmpty) {
        // CANNOT VERIFY what the rename captured: if it was a
        // competitor's fresh token, deleting would destroy the only
        // copy unverified (content=None vs observed=Some takes the
        // mismatch branch below, but restore-from-None restores
        // nothing). Leave the tombstone — inert debris no protocol
        // path reads, preserved for a later manual look — and back
        // off; the token path is already vacated either way.
        return
      }
      if (content != observed)
        content.foreach(c => tryCreate(fs, tok, c))
      fs.delete(tomb, false)
    }
  }

  /** Acquire the writer lease for `dir` or throw `IllegalStateException`
    * naming the current holder (fail-fast — the caller's step must NOT
    * queue behind a live writer; retries are an orchestrator decision). */
  def acquire(spark: SparkSession, dir: String, owner: String,
              staleMs: Long = 30L * 60 * 1000): Token = {
    val p = leasePath(dir)
    val fs = fsOf(spark, p)
    val nonce = java.util.UUID.randomUUID().toString
    def body = s"$owner|${System.currentTimeMillis()}|$nonce"
    if (tryCreate(fs, p, body)) return Token(dir, nonce)
    readLease(fs, p) match {
      case Some((holder, ts, heldNonce))
          if System.currentTimeMillis() -
            newestBeat(fs, dir, heldNonce).getOrElse(0L).max(ts) <= staleMs =>
        throw new LeaseHeldException(
          s"writer lease for $dir held by '$holder' (last beat " +
            s"${System.currentTimeMillis() -
              newestBeat(fs, dir, heldNonce).getOrElse(0L).max(ts)} ms ago); " +
            s"a step is in flight — fail-fast by contract")
      case None if !existsQuiet(fs, p) =>
        // VANISHED (released or a crashed breaker's absence window): no
        // live holder to protect — the atomic create decides the winner
        if (tryCreate(fs, p, body)) Token(dir, nonce)
        else throw new LeaseHeldException(
          s"writer lease for $dir lost the takeover race — another writer won")
      case observed => // stale or torn: break it, SERIALIZED
        // Breakers must not race each other: a contender renaming the
        // lease path based on a stale read can move a competitor's FRESH
        // lease aside — verify+undo restores the content, but the
        // momentary ABSENCE lets a third contender's create win, ending
        // with several live "holders" (LeaseHammerSpec recorded 6 before
        // this token existed). So breaking requires first winning the
        // BREAK TOKEN (create-no-overwrite — one breaker at a time); the
        // token holder re-reads the lease, confirms it is still the
        // stale content the decision was based on, and only then renames
        // it to a tombstone. While the token is held nothing else can
        // legitimately change the lease path (fresh leases are only
        // created on an ABSENT path, and the path stays occupied by the
        // stale lease until the token holder moves it), so the
        // tombstone verify is a pure backstop now.
        val breakTok = new Path(dir + "/.lease-break")
        if (!tryCreate(fs, breakTok,
          s"${System.currentTimeMillis()}|$nonce")) {
          // a breaker is mid-flight — or crashed holding the token: age
          // it out (break work is sub-second; 60 s = dead breaker). A
          // token with TORN/empty content (breaker killed between create
          // and write) ages by its file mtime — unparseable must mean
          // "old enough goes", not "blocks takeover forever". Removal is
          // the tombstone discipline ([[sweepStaleToken]]) — a bare
          // delete could land on a competitor's FRESH token created
          // after a parallel sweep, admitting two breakers.
          val rawTok = readRawBytes(fs, breakTok)
          val tokTs = rawTok
            .flatMap(_.split('|').headOption)
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .orElse(
              try Some(fs.getFileStatus(breakTok).getModificationTime)
              catch { case _: java.io.IOException => None })
          if (tokTs.exists(System.currentTimeMillis() - _ > 60000L))
            sweepStaleToken(fs, breakTok, rawTok)
          throw new LeaseHeldException(
            s"writer lease for $dir is being broken by a competitor — retry")
        }
        try {
          val still = readLease(fs, p)
          val sameAsObserved = (still, observed) match {
            case (Some((_, _, a)), Some((_, _, b))) => a == b
            case (None, None) => true // torn then, torn now
            case _ => false
          }
          if (!sameAsObserved)
            throw new LeaseHeldException(
              s"writer lease for $dir lost the takeover race — another writer won")
          val tomb = new Path(dir + "/.lease-tomb-" +
            java.util.UUID.randomUUID().toString)
          if (atomicRename(fs, p, tomb)) {
            val tombContent = readLease(fs, tomb)
            val tombSame = (tombContent, observed) match {
              case (Some((_, _, a)), Some((_, _, b))) => a == b
              case (None, None) => true
              case _ => false
            }
            if (!tombSame) { // backstop — unreachable while the token holds
              atomicRename(fs, tomb, p)
              throw new LeaseHeldException(
                s"writer lease for $dir lost the takeover race — another writer won")
            }
            fs.delete(tomb, false)
            // the broken holder's beat debris must not refresh anything
            observed.foreach { case (_, _, n) => dropBeats(fs, dir, n, keepNewest = false) }
          }
          if (tryCreate(fs, p, body)) Token(dir, nonce)
          else throw new LeaseHeldException(
            s"writer lease for $dir lost the takeover race — another writer won")
        } finally fs.delete(breakTok, false)
    }
  }

  private def existsQuiet(fs: FileSystem, p: Path): Boolean =
    try fs.exists(p) catch { case _: java.io.IOException => false }

  /** Refresh `token`'s heartbeat: write a fresh uniquely-named beat
    * file, then sweep our older beats. A no-op if the lease no longer
    * carries our nonce (we were taken over — the new owner's fence must
    * stand and our debris must not refresh it). Safe to call from a
    * renewal thread: nothing is overwritten, so a concurrent reader at
    * worst ignores the half-written new beat and keeps the old one. */
  def renew(spark: SparkSession, token: Token, owner: String): Unit = {
    val p = leasePath(token.dir)
    val fs = fsOf(spark, p)
    readLease(fs, p) match {
      case Some((_, _, n)) if n == token.nonce =>
        val beat = new Path(token.dir + "/" + hbPrefix +
          java.util.UUID.randomUUID().toString)
        if (tryCreate(fs, beat,
          s"$owner|${System.currentTimeMillis()}|${token.nonce}"))
          dropBeats(fs, token.dir, token.nonce, keepNewest = true)
      case _ => () // fenced out; do not manufacture freshness
    }
  }

  /** Release `token` if still ours; a lease lost to a stale takeover is
    * left untouched (the new owner's fence must stand). Our beat files
    * are swept either way — with a foreign nonce they refresh nothing,
    * but they are garbage. */
  def release(spark: SparkSession, token: Token): Unit = {
    val p = leasePath(token.dir)
    val fs = fsOf(spark, p)
    readLease(fs, p) match {
      case Some((_, _, n)) if n == token.nonce => fs.delete(p, false)
      case _ => ()
    }
    dropBeats(fs, token.dir, token.nonce, keepNewest = false)
  }

  /** Run `body` under the `dir` writer lease, renewing the heartbeat
    * every `staleMs / 3` from a daemon thread so a long-running step is
    * never mistaken for a dead writer, and releasing on every exit
    * path. A process CRASH skips the release on purpose — the beats
    * stop, the lease ages out, and the staleness takeover reclaims it. */
  def withLease[T](spark: SparkSession, dir: String, owner: String,
                   staleMs: Long = 30L * 60 * 1000)(body: => T): T =
    held(spark, acquire(spark, dir, owner, staleMs), owner, staleMs)(body)

  /** [[acquire]] with bounded patience: poll until the lease frees or
    * `deadlineMs` passes. ONLY [[LeaseHeldException]] (contention) is
    * retried; staleness takeover still runs inside each [[acquire]]
    * attempt, so a dead holder is reclaimed on the first poll after it
    * ages out. For callers whose own step is short and whose contention
    * is transient — a streaming micro-batch fencing against a minutes-
    * long maintenance pass must WAIT it out, not die — while the
    * fail-fast default stands everywhere else (queueing a second
    * maintenance step behind a live one is an orchestrator decision). */
  def acquireWait(spark: SparkSession, dir: String, owner: String,
                  staleMs: Long = 30L * 60 * 1000,
                  deadlineMs: Long = 10L * 60 * 1000,
                  pollMs: Long = 200L): Token = {
    val deadline = System.currentTimeMillis() + deadlineMs
    while (true) {
      try return acquire(spark, dir, owner, staleMs)
      catch {
        case e: LeaseHeldException =>
          if (System.currentTimeMillis() >= deadline)
            throw new LeaseHeldException(
              s"writer lease for $dir still contended after $deadlineMs ms", e)
          Thread.sleep(pollMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[withLease]] with [[acquireWait]]'s bounded patience at the
    * acquisition step; renewal/release semantics identical. The BODY's
    * failures propagate unretried — only lock contention waits. */
  def withLeaseWait[T](spark: SparkSession, dir: String, owner: String,
                       staleMs: Long = 30L * 60 * 1000,
                       deadlineMs: Long = 10L * 60 * 1000)(body: => T): T =
    held(spark, acquireWait(spark, dir, owner, staleMs, deadlineMs), owner,
      staleMs)(body)

  /** Renew-while-running + release-on-exit around an already-acquired
    * token — [[withLease]]/[[withLeaseWait]]'s shared second half. */
  private def held[T](spark: SparkSession, t: Token, owner: String,
                      staleMs: Long)(body: => T): T = {
    val beats = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val th = new Thread(r, s"lease-hb-$owner"); th.setDaemon(true); th })
    val period = math.max(staleMs / 3, 25L)
    beats.scheduleAtFixedRate(
      () => try renew(spark, t, owner) catch { case _: Exception => () },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body finally {
      beats.shutdownNow()
      // drain an in-flight renew so release's beat sweep is the last word
      beats.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
      release(spark, t)
    }
  }
}
