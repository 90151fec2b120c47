package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.matching.Regex

/** The engine's one commit-marker protocol. Every store that DailyDriver
  * keeps crash-atomic commits through the numbered markers this object
  * names, lists, writes, parses and ages:
  *
  *  - a marker is a small `key:value`-lines file whose name carries a
  *    number (`v=N.txt`, `r=K.ok`, ...); the highest-numbered marker
  *    present is the live one ([[numbered]]);
  *  - it is written to `.tmp-<name>` beside itself and renamed in by
  *    [[Lease.commitFile]] — one atomic same-directory move, the only
  *    step that changes what readers see ([[publishMarker]]), so a crash
  *    before it leaves invisible debris the replay overwrites;
  *  - its entries are read back by [[readEntries]];
  *  - superseded markers, stranded `.tmp-` files and the version
  *    directories nothing references are swept once aged from the live
  *    marker's mtime ([[agedRule]], [[gcSweep]]).
  *
  * The index stores keep their current version in `path/manifest/v=N.txt`
  * ([[currentVersion]], [[entriesAt]], [[publishEntries]]): [[LexIndex]]
  * stores its bucket → version map there; the cell stores
  * ([[CellStore]]: [[VecIndex]], [[PqIndex]]) store the (base, epoch,
  * cents) triple ([[current]], [[publish]]) — the bulk cells version (0 =
  * none), the current append epoch, and the quantizer version (0 = none
  * — VecIndex's coarse centroids, PqIndex's coarse+codebook row). The
  * unpublished default is epoch 1, so a pure-stream index has a
  * well-defined append target without a manifest write a streaming sink
  * could not make transactional. [[Snapshots]] keeps its own seal,
  * revision and shard-export layout but commits, lists and reads those
  * markers through the same primitives.
  */
private[operators] object Versioned {

  final case class Man(v: Long, base: Long, epoch: Long, cents: Long)

  /** Broadcast ceiling for takedown victim-id sets — the
    * [[graft.pipelines.Curation.Config.maxBroadcastShingles]] pattern
    * applied to the retraction paths: doc-grain takedowns (the common
    * case) are a handful of ids and broadcast; a SOURCE-scale
    * retraction (an entire license class — millions of ids at 100 TB)
    * must not be collected onto the driver, so past this count the
    * victim joins run as shuffle semi/anti joins instead
    * (result-identical; the gate costs one count() on the distinct
    * ids, cheap next to the scans either branch pays). */
  val DefaultMaxBroadcastIds: Long = 5000000L

  /** The count-gated victim side: broadcast below the ceiling, plain
    * (shuffle-joined) above it. Materialized ONCE (eager local
    * checkpoint) before the gate count: the uncollected plan would
    * otherwise be recomputed per consumer (count + the semi-join + the
    * anti-join — three runs per delete), and a non-deterministic victim
    * source could make the gate decision diverge from the rows the
    * joins actually read. */
  def gatedIds(ids: DataFrame, maxBroadcast: Long): DataFrame = {
    val once = ids.localCheckpoint(true)
    if (once.count() <= maxBroadcast) broadcast(once) else once
  }

  // ------------------------------------------------- numbered markers

  /** The entries of `dir` whose names match `name` (one digits group),
    * as (number, status) ascending by number; empty when `dir` is
    * absent. Names that do not match are skipped, never parsed. */
  def numbered(f: FileSystem, dir: Path, name: Regex): Seq[(Long, FileStatus)] =
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case name(n) => Some(n.toLong -> st)
      case _ => None
    }).sortBy(_._1)

  /** Marker bytes for `entries`: one `key:value` line each, each line
    * newline-terminated (no entries = a lone newline). */
  def entryText(entries: Seq[(String, Long)]): String =
    entries.map { case (k, v) => s"$k:$v" }.mkString("", "\n", "\n")

  /** The lines of marker (or manifest) file `p`. */
  def readLines(f: FileSystem, p: Path): List[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The `key:value` lines of marker `p` (blank and colon-free lines
    * skipped; the value is everything after the first colon). */
  def readEntries(f: FileSystem, p: Path): Map[String, String] =
    readLines(f, p).flatMap(line => line.split(":", 2) match {
      case Array(k, v) => Some(k -> v.trim)
      case _ => None
    }).toMap

  /** Commit marker `dst` with `entries` via its `.tmp-<name>` sibling. */
  def publishMarker(f: FileSystem, dst: Path, entries: Seq[(String, Long)]): Unit =
    Lease.commitFile(f, new Path(dst.getParent, s".tmp-${dst.getName}"), dst,
      entryText(entries))

  // ------------------------------------------------- index manifests

  private val ManifestName = "v=(\\d+)\\.txt".r
  private val TmpManifestName = "\\.tmp-v=(\\d+)\\.txt".r

  private def manifestDir(path: String): String = s"$path/manifest"
  private def manifestFile(path: String, v: Long): Path =
    new Path(manifestDir(path), s"v=$v.txt")

  /** The published version the index currently reads at (0 = no
    * successful publish yet). */
  def currentVersion(spark: SparkSession, path: String): Long =
    numbered(fsOf(spark, new Path(path)), new Path(manifestDir(path)), ManifestName)
      .lastOption.fold(0L)(_._1)

  /** Manifest `v`'s entries; empty for `v` = 0. */
  def entriesAt(spark: SparkSession, path: String, v: Long): Map[String, String] =
    if (v == 0L) Map.empty
    else readEntries(fsOf(spark, new Path(path)), manifestFile(path, v))

  /** Publish `entries` as manifest version `v` — the store's one atomic
    * step ([[publishMarker]]). */
  def publishEntries(spark: SparkSession, path: String, v: Long,
                     entries: Seq[(String, Long)]): Unit =
    publishMarker(fsOf(spark, new Path(path)), manifestFile(path, v), entries)

  def current(spark: SparkSession, path: String): Man = {
    val v = currentVersion(spark, path)
    val kv = entriesAt(spark, path, v)
    def at(k: String, dflt: Long) = kv.get(k).fold(dflt)(_.toLong)
    Man(v, at("base", 0L), at("epoch", 1L), at("cents", 0L))
  }

  def publish(spark: SparkSession, path: String, v: Long, base: Long,
              epoch: Long, cents: Long): Unit =
    publishEntries(spark, path, v,
      Seq("base" -> base, "epoch" -> epoch, "cents" -> cents))

  /** The live manifest `v`'s mtime — the supersession bound of every
    * version it retired; None when unreadable. */
  def manifestMtime(spark: SparkSession, path: String, v: Long): Option[Long] =
    try Some(fsOf(spark, new Path(path)).getFileStatus(manifestFile(path, v))
      .getModificationTime)
    catch { case _: java.io.IOException => None }

  /** The grace-aging rule for gc sweeps, SUPERSESSION-bounded: a
    * directory is collectible only when both its own mtime and the
    * current manifest file's mtime (the lower bound on when anything
    * unreferenced was retired) are older than `graceMs` — a reader's
    * pin strictly precedes the publish that supersedes its version, so
    * deletion implies a full grace since the pin (see [[CellStore.gc]]).
    * Returns the predicate over a candidate's mtime. */
  def agedRule(spark: SparkSession, path: String, curV: Long,
               graceMs: Long, now: Long): Long => Boolean = {
    val bound = manifestMtime(spark, path, curV).getOrElse(now)
    (mtime: Long) => now - math.max(mtime, bound) >= graceMs
  }

  /** Sweep each `prefix`-numbered directory family (`prefix` then
    * digits), deleting entries the keep-rule rejects once aged; then
    * sweep superseded manifest files themselves, and the `.tmp-v=N.txt`
    * a publish that crashed between its tmp write and its rename
    * strands: a same-version replay overwrites it, but a crashed
    * version-N publish followed by a successful N+1 never revisits the
    * name (the aged rule keeps an in-flight publish's seconds-old tmp
    * safe, and gc runs under the writer lease so no publish races the
    * sweep). Also sweeps aged `..tmp-*.crc` sidecars
    * ([[sweepTmpSidecars]]). */
  def gcSweep(spark: SparkSession, path: String, curV: Long, graceMs: Long,
              families: Seq[(String, String, Long => Boolean)]): Unit = {
    val f = fsOf(spark, new Path(path))
    val aged = agedRule(spark, path, curV, graceMs, System.currentTimeMillis())
    def sweep(dir: String, name: Regex, gone: Long => Boolean): Unit =
      for ((v, st) <- numbered(f, new Path(dir), name)
           if gone(v) && aged(st.getModificationTime))
        f.delete(st.getPath, true)
    for ((dir, prefix, keep) <- families)
      sweep(dir, s"${Regex.quote(prefix)}(\\d+)".r, v => !keep(v))
    sweep(manifestDir(path), ManifestName, _ != curV)
    sweep(manifestDir(path), TmpManifestName, _ => true)
    sweepTmpSidecars(f, new Path(manifestDir(path)), aged)
  }

  /** Delete the `..tmp-*.crc` checksum sidecars in `dir` whose mtime
    * `aged` accepts: a commit made before [[Lease.commitFile]] wrote its
    * tmp unchecksummed left the tmp's sidecar behind (the rename never
    * moved it). Listed through the raw file system — a checksummed
    * listing hides `.crc` files. */
  def sweepTmpSidecars(f: FileSystem, dir: Path, aged: Long => Boolean): Unit = {
    val raw = Lease.unchecksummed(f)
    if (raw.exists(dir)) for (st <- raw.listStatus(dir)) {
      val n = st.getPath.getName
      if (n.startsWith("..tmp-") && n.endsWith(".crc") &&
          aged(st.getModificationTime))
        raw.delete(st.getPath, false)
    }
  }
}
