package graft.operators

import graft.sources.DriverParquet
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
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
  * stores its bucket → version map there; [[VecIndex]] and [[PqIndex]],
  * whose bulk side is rewritten whole, store the (base, epoch, cents)
  * triple ([[current]], [[publish]]) — the bulk cells version (0 =
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
  /** The checksum sidecar an older [[Lease.commitFile]] stranded beside
    * its tmp on `file:` (the tmp's `.crc`, which the rename never moved). */
  private val TmpSidecarName = "\\.\\.tmp-v=(\\d+)\\.txt\\.crc".r

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

  /** The families' shared on-disk layout: celled bulk versions and
    * LSM delta epochs. Owning the names here keeps the two vector
    * stores (and any future celled family) byte-compatible in layout
    * and lets the measurements below work on either. */
  def cellsDir(path: String): String = s"$path/cells"
  def cellsPath(path: String, v: Long): String = s"$path/cells/v=$v"
  def deltaPath(path: String, e: Long): String = s"$path/delta/e=$e"

  // --------------------- per-cell ownership (pruned takedowns) -------

  /** Sidecar name inside a cells version dir mapping each effective
    * cid to the version whose dir physically holds its files. Written
    * by [[deleteCells]] BEFORE the manifest publish (torn writes are
    * invisible debris); a version WITHOUT the sidecar is FULL — it owns
    * every cid dir physically present (build/compact/retrain/rebuild
    * and every pre-ownership version), so the format is fully backward
    * compatible. */
  private val CellManifest = "_cells.txt"

  /** The cid→owner map of cells version `v` when it carries an
    * ownership sidecar; None for a FULL version. */
  def cellOwnersIfManifested(spark: SparkSession, path: String,
                             v: Long): Option[Map[Long, Long]] = {
    val f = fsOf(spark, new Path(path))
    val p = new Path(cellsPath(path, v), CellManifest)
    if (!f.exists(p)) None
    else Some(readEntries(f, p).map { case (c, o) => c.toLong -> o.toLong })
  }

  private val CidName = "cid=(-?\\d+)".r

  private def listCids(f: FileSystem, dir: String): Seq[Long] =
    numbered(f, new Path(dir), CidName).map(_._1)

  /** The cid→owner map of cells version `v`, resolved: the sidecar when
    * present, else (FULL version) every physically present cid dir,
    * owned by `v` itself. Empty for v=0. */
  def cellOwners(spark: SparkSession, path: String, v: Long): Map[Long, Long] =
    if (v == 0L) Map.empty
    else cellOwnersIfManifested(spark, path, v).getOrElse(
      listCids(fsOf(spark, new Path(path)), cellsPath(path, v)).map(_ -> v).toMap)

  private def writeCellOwners(f: FileSystem, path: String, v: Long,
                              owners: Map[Long, Long]): Unit = {
    val dir = new Path(cellsPath(path, v))
    f.mkdirs(dir)
    val out = f.create(new Path(dir, CellManifest), true)
    try out.write(entryText(owners.toSeq.sorted.map { case (c, o) =>
      c.toString -> o }).getBytes("UTF-8"))
    finally out.close()
  }

  /** Every cells version the `base` chain references — gc's keep set:
    * a version dir referenced by the LIVE manifest's ownership chain
    * must survive any grace decision (the delete-only refcount rule the
    * snapshot store established). Includes `base` itself: a pruned
    * delete that emptied every rewritten cell still owns the sidecar. */
  def referencedCellVersions(spark: SparkSession, path: String,
                             base: Long): Set[Long] =
    if (base == 0L) Set.empty
    else cellOwners(spark, path, base).values.toSet + base

  /** The bulk side at cells version `base`, ownership-resolved: a FULL
    * version reads its own dir (the historical single-scan plan); a
    * pruned-delete version reads exactly the referenced (owner, cid)
    * leaf dirs in ONE parquet relation rooted at `cells/` — partition
    * pruning sees both `v` and `cid`, so a probed search still scans
    * only its cells' bytes. None when the version holds no rows. */
  def openBulkResolved(spark: SparkSession, path: String,
                       base: Long): Option[DataFrame] =
    if (base == 0L) None
    else cellOwnersIfManifested(spark, path, base) match {
      case None =>
        if (hasCells(spark, cellsPath(path, base)))
          Some(DriverParquet.read(spark).option("basePath", cellsDir(path))
            .load(cellsPath(path, base)).drop("v"))
        else None
      case Some(owners) if owners.isEmpty => None
      case Some(owners) =>
        val leafs = owners.toSeq.sorted.map { case (c, o) =>
          s"${cellsPath(path, o)}/cid=$c"
        }
        Some(DriverParquet.read(spark).option("basePath", cellsDir(path))
          .load(leafs: _*).drop("v"))
    }

  /** Remove `ids` from a celled index, CELL-PRUNED: one column-pruned
    * census finds the victim-bearing cids, ONLY those cells (plus the
    * live delta's, which this folds — a delete is also a mini-compact,
    * keeping the published state a single bulk side) are rewritten
    * under `v=N+1`, and the new version's ownership sidecar references
    * every untouched cell where it already lives. The whole-index
    * clustered rewrite the old delete paid is gone: with a compacted
    * delta the write cost is the victim cells' bytes, not the corpus.
    *
    * Publish contract unchanged: everything before the manifest rename
    * is invisible debris a replay overwrites; the epoch bumps so the
    * folded delta drops out atomically; pinned readers keep their
    * version's files (gc keeps every chain-referenced dir — see
    * [[referencedCellVersions]]). Ids absent from the index (and an
    * empty delta) make this a PUBLISH-FREE no-op — probe cost, no
    * version burned. Caller holds the store's writer lease.
    *
    * The chain CANNOT grow unboundedly across takedown histories: each
    * cid references exactly ONE owner version, so the live reference
    * set never exceeds the cell count — a retired overlay whose every
    * rewritten cell was later re-rewritten drops out of the set and gc
    * collects it, with no depth policy needed.
    *
    * The victim side is COUNT-GATED ([[gatedIds]]): below
    * `maxBroadcastIds` distinct ids it broadcasts (the doc-grain
    * takedown fast path); above it the census and the rewrite join run
    * as shuffle semi/anti joins — a source-scale retraction cannot OOM
    * the driver. */
  def deleteCells(spark: SparkSession, path: String, idCol: String,
                  ids: DataFrame,
                  maxBroadcastIds: Long = DefaultMaxBroadcastIds): Unit = {
    val f = fsOf(spark, new Path(path))
    val m = current(spark, path)
    val bulk = openBulkResolved(spark, path, m.base)
    val delta =
      if (hasCells(spark, deltaPath(path, m.epoch)))
        Some(DriverParquet.read(spark).load(deltaPath(path, m.epoch)).drop("b"))
      else None
    val all = (bulk.toSeq ++ delta.toSeq).reduceOption(_.unionByName(_))
      .getOrElse(throw new IllegalArgumentException(
        s"no index layout under $path"))
    val vIds = gatedIds(ids.select(col(idCol)).distinct(), maxBroadcastIds)
    val victimCids = all.join(vIds, Seq(idCol), "left_semi")
      .select(col("cid")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    val deltaCids = delta.map(_.select(col("cid")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet).getOrElse(Set.empty)
    val rewrite = victimCids ++ deltaCids
    if (rewrite.isEmpty) return // nothing to move: publish-free no-op
    val n = m.v + 1
    f.delete(new Path(cellsPath(path, n)), true) // torn predecessor debris
    all.filter(col("cid").isin(rewrite.toSeq.sorted: _*))
      .join(vIds, Seq(idCol), "left_anti")
      .hint("rebalance", col("cid"))
      .sortWithinPartitions(col("cid"), col(idCol))
      .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, n))
    val present = listCids(f, cellsPath(path, n))
    val owners = cellOwners(spark, path, m.base)
      .filter { case (c, _) => !rewrite(c) } ++ present.map(_ -> n)
    if (owners.isEmpty)
      // the delete emptied the index — publish the well-defined empty
      // state (base 0) instead of a sidecar referencing nothing
      publish(spark, path, n, base = 0L, epoch = m.epoch + 1L,
        cents = m.cents)
    else {
      writeCellOwners(f, path, n, owners)
      publish(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = m.cents)
    }
  }

  /** Byte share of the current delta epoch vs the whole index — the
    * LSM-debt measurement the stores gate their folds on. Two content
    * summaries, no data read. */
  def deltaShare(spark: SparkSession, path: String): Double = {
    val m = current(spark, path)
    val f = fsOf(spark, new Path(path))
    def bytes(dir: String): Long = {
      val p = new Path(dir)
      if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
    }
    val delta = bytes(deltaPath(path, m.epoch))
    // a pruned-delete base owns only its rewritten cells physically —
    // sum the chain's referenced leaf dirs so the debt ratio measures
    // the EFFECTIVE bulk, not one overlay's slice
    val base =
      if (m.base == 0L) 0L
      else cellOwnersIfManifested(spark, path, m.base) match {
        case None => bytes(cellsPath(path, m.base))
        case Some(owners) =>
          // one summary call per OWNER version (not per cid): when every
          // physically present cell of an owner dir is referenced, the
          // whole-dir summary covers them in one RPC (maintain runs this
          // every pass; per-cid calls are an RPC each on an object
          // store). Partially referenced owners — some of their cells
          // were re-rewritten by a later overlay — fall back to per-cid
          // sums. The whole-dir path over-counts by the tiny ownership
          // sidecar / marker files; the debt RATIO this feeds is
          // threshold-gated, so bytes-level noise is immaterial.
          owners.groupBy(_._2).map { case (o, cids) =>
            val dir = cellsPath(path, o)
            val present = listCids(f, dir)
            if (present.nonEmpty && present.forall(cids.contains))
              bytes(dir)
            else cids.keysIterator.map(c => bytes(s"$dir/cid=$c")).sum
          }.sum
      }
    if (delta + base == 0L) 0.0 else delta.toDouble / (delta + base).toDouble
  }

  /** Resolved on-disk bytes of the given cells: the bulk side through
    * the ownership chain plus the live delta epoch's matching cid dirs —
    * metadata-only (content summaries, no data read). This is what a
    * probed search of exactly those cells would SCAN, the I/O
    * measurement the auto-depth search policy gates on
    * ([[graft.pipelines.DailyDriver.hybridSearch]]). Cids the index
    * doesn't hold contribute 0. */
  def cellBytes(spark: SparkSession, path: String, cids: Seq[Long]): Long = {
    val m = current(spark, path)
    val f = fsOf(spark, new Path(path))
    def bytes(dir: String): Long = {
      val p = new Path(dir)
      if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
    }
    val want = cids.toSet
    val bulk = cellOwners(spark, path, m.base).iterator.collect {
      case (c, o) if want(c) => bytes(s"${cellsPath(path, o)}/cid=$c")
    }.sum
    // the live delta: a batch epoch keys cid= at the top; a
    // stream-governed epoch nests them under b=B — sum both shapes
    val dd = new Path(deltaPath(path, m.epoch))
    def cidBytes(st: org.apache.hadoop.fs.FileStatus): Long = {
      val n = st.getPath.getName
      if (n.startsWith("cid=") && want(n.stripPrefix("cid=").toLong))
        f.getContentSummary(st.getPath).getLength
      else 0L
    }
    val delta =
      if (!f.exists(dd)) 0L
      else f.listStatus(dd).iterator.map { st =>
        if (st.getPath.getName.startsWith("b="))
          f.listStatus(st.getPath).iterator.map(cidBytes).sum
        else cidBytes(st)
      }.sum
    bulk + delta
  }

  /** Cell-occupancy skew of an opened celled index: the hottest cell's
    * share of all rows (1/k balanced, →1.0 the degenerate drift end
    * state). One column-pruned scan of `cid`; 0.0 on an absent/empty
    * index. */
  def cellSkewOf(idx: Option[DataFrame]): Double = idx match {
    case None => 0.0
    case Some(i) =>
      val occ = i.groupBy(col("cid")).count()
        .agg(max(col("count")).as("mx"), sum(col("count")).as("n"))
        .collect().head
      if (occ.isNullAt(1) || occ.getLong(1) == 0L) 0.0
      else occ.getLong(0).toDouble / occ.getLong(1).toDouble
  }

  /** The ids the CURRENT delta epoch's STREAM LINEAGE landed — a
    * DELTA-bounded read of the epoch's `b=` batch dirs, None when the
    * epoch is not stream-governed (batch-governed, empty, or already
    * adopted/folded). This is the day-end reconcile's landed-work
    * census: each micro-batch's append is atomic (one `b=` dynamic
    * overwrite), so an id here is definitively landed — the reconcile
    * probes this instead of the whole index and touches the full index
    * only for the unlanded remainder. */
  def streamDeltaIds(spark: SparkSession, path: String,
                     idCol: String): Option[DataFrame] = {
    val m = current(spark, path)
    val dir = deltaPath(path, m.epoch)
    val f = fsOf(spark, new Path(path))
    val p = new Path(dir)
    val bDirs =
      if (!f.exists(p)) Array.empty[Path]
      else f.listStatus(p).map(_.getPath)
        .filter(_.getName.startsWith("b="))
    if (bDirs.isEmpty) None
    else Some(DriverParquet.read(spark).option("basePath", dir)
      .load(ArraySeq.unsafeWrapArray(bDirs.map(_.toString).sorted): _*)
      .select(col(idCol)))
  }

  /** The subset of `ids` present anywhere in an opened index — the
    * reconcile's EXACT repair probe for the rare census-miss case (a
    * mid-day fold moved lineage batches into the bulk): a full
    * column-pruned scan, paid only when the cheap census disagrees
    * with [[containsAnyIn]]. Joins on `ids`' first column; empty
    * relation for an unbuilt index. */
  def presentIdsIn(idx: Option[DataFrame], ids: DataFrame): DataFrame =
    idx match {
      case None => ids.limit(0)
      case Some(i) =>
        i.select(col(ids.columns.head))
          .join(broadcast(ids.distinct()), Seq(ids.columns.head), "left_semi")
          .distinct()
    }

  /** Whether any of `ids` appears in an opened index — the
    * landed-or-not probe a retried job-committed append needs; false on
    * a never-built index. Joins on `ids`' first column. */
  def containsAnyIn(idx: Option[DataFrame], ids: DataFrame): Boolean =
    idx match {
      case None => false
      case Some(i) =>
        !i.select(col(ids.columns.head))
          .join(broadcast(ids.distinct()), Seq(ids.columns.head), "left_semi")
          .isEmpty
    }

  /** The one-discipline-per-epoch guard BATCH appends take: a
    * stream-governed epoch (legacy `_spark_metadata` sink log, or the
    * `b=` lineage layout) must not receive interleaved batch files — a
    * replayed micro-batch's partition overwrite could clobber them. */
  def requireBatchEpoch(spark: SparkSession, path: String, epoch: Long): Unit = {
    val dir = new Path(deltaPath(path, epoch))
    val f = fsOf(spark, new Path(path))
    val streamGoverned = f.exists(new Path(dir, "_spark_metadata")) ||
      (f.exists(dir) && f.listStatus(dir)
        .exists(_.getPath.getName.startsWith("b=")))
    require(!streamGoverned,
      s"delta epoch $epoch is governed by a stream lineage — a replayed " +
        s"micro-batch's partition overwrite could clobber interleaved " +
        s"batch appends; compact first")
  }

  /** The adoption preflight a STREAM runs at start, the reverse
    * direction of [[requireBatchEpoch]]: the epoch must not be governed
    * by a legacy sink log, must not hold batch-appended `cid=` files (a
    * lineage's replay overwrite cannot govern them), and a FRESH
    * checkpoint must not adopt another lineage's `b=` batches (batch
    * numbering would restart at 0 and overwrite them). */
  def requireStreamAdoptable(spark: SparkSession, path: String, epoch: Long,
                             checkpoint: String): Unit = {
    val dir = deltaPath(path, epoch)
    val f = fsOf(spark, new Path(path))
    val names =
      if (!f.exists(new Path(dir))) Array.empty[String]
      else f.listStatus(new Path(dir)).map(_.getPath.getName)
    require(!names.contains("_spark_metadata"),
      s"delta epoch $epoch is governed by a legacy streaming sink log — " +
        s"readers honoring the log would never see this lineage's " +
        s"batches; compact first")
    require(!names.exists(_.startsWith("cid=")),
      s"delta epoch $epoch holds batch-appended files — a streaming " +
        s"lineage's replay overwrite cannot govern them; compact first")
    // the checkpoint may live on a DIFFERENT filesystem than the index
    // (hdfs checkpoint, object-store index) — resolve its FS from its
    // own path, not the index's
    val ckOffsets = new Path(s"$checkpoint/offsets")
    require(!names.exists(_.startsWith("b=")) ||
      fsOf(spark, ckOffsets).exists(ckOffsets),
      s"delta epoch $epoch already holds a stream lineage's batches and " +
        s"this checkpoint is fresh — batch numbering would restart at 0 " +
        s"and overwrite them; resume the original checkpoint or compact first")
  }

  /** Hand a STREAM-governed delta epoch back to the batch discipline in
    * O(delta): re-key the lineage's rows into a fresh epoch directory as
    * ONE job-committed batch write (plain `cid=` layout, no `b=` replay
    * keys) and bump the epoch in the manifest — cells and quantizer
    * versions are untouched, so the corpus-linear fold is NOT paid here
    * (that stays compact's business). The old epoch directory becomes
    * retired garbage for the store's gc (graced); a reader pinned on
    * the old manifest finishes against its immutable files.
    *
    * Call with the stream STOPPED and drained (the day-end contract —
    * a live micro-batch racing this would land in a dying directory);
    * after the bump a zombie checkpoint's next batch fails its epoch
    * fence loudly. No-op on a batch-governed (or absent) epoch, so a
    * replayed caller is probe-cost. Crash-safe: the manifest publish is
    * the commit — a crash after the copy leaves an unreferenced next-
    * epoch dir the replay deletes and rewrites.
    *
    * @return true iff a stream lineage was re-keyed */
  def adoptStreamDelta(spark: SparkSession, path: String): Boolean = {
    val m = current(spark, path)
    val f = fsOf(spark, new Path(path))
    val dir = new Path(deltaPath(path, m.epoch))
    val streamGoverned = f.exists(new Path(dir, "_spark_metadata")) ||
      (f.exists(dir) && f.listStatus(dir)
        .exists(_.getPath.getName.startsWith("b=")))
    if (!streamGoverned) return false
    val next = new Path(deltaPath(path, m.epoch + 1L))
    f.delete(next, true) // a torn predecessor's uncommitted debris
    if (hasCells(spark, dir.toString))
      DriverParquet.read(spark).load(dir.toString).drop("b")
        .write.partitionBy("cid").parquet(next.toString)
    publish(spark, path, m.v + 1L, m.base, m.epoch + 1L, m.cents)
    true
  }

  /** Whether a side directory holds actual cell partitions: an EMPTY
    * write (a zero-row batch append, a delete that emptied the index)
    * leaves a bare directory with just _SUCCESS, and scanning that
    * fails parquet schema inference instead of reading as zero rows —
    * the shared guard [[VecIndex]]/[[PqIndex]] open through. A
    * stream-governed delta epoch nests its cells one level down
    * (`b=B/cid=N` — the per-micro-batch replay-overwrite key), so a
    * `b=` child counts when IT holds cells. */
  def hasCells(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val f = fsOf(spark, p)
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n.startsWith("cid=") || (n.startsWith("b=") &&
        f.listStatus(st.getPath).exists(_.getPath.getName.startsWith("cid=")))
    }
  }

  /** The grace-aging rule for gc sweeps, SUPERSESSION-bounded: a
    * directory is collectible only when both its own mtime and the
    * current manifest file's mtime (the lower bound on when anything
    * unreferenced was retired) are older than `graceMs` — a reader's
    * pin strictly precedes the publish that supersedes its version, so
    * deletion implies a full grace since the pin (see [[VecIndex.gc]]).
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
    * sweep). Also sweeps the `..tmp-v=N.txt.crc` sidecars that commits
    * made before [[Lease.commitFile]] wrote its tmp unchecksummed. */
  def gcSweep(spark: SparkSession, path: String, curV: Long, graceMs: Long,
              families: Seq[(String, String, Long => Boolean)]): Unit = {
    val f = fsOf(spark, new Path(path))
    val aged = agedRule(spark, path, curV, graceMs, System.currentTimeMillis())
    def sweep(dir: String, name: Regex, gone: Long => Boolean,
              fs: FileSystem = f): Unit =
      for ((v, st) <- numbered(fs, new Path(dir), name)
           if gone(v) && aged(st.getModificationTime))
        fs.delete(st.getPath, true)
    for ((dir, prefix, keep) <- families)
      sweep(dir, s"${Regex.quote(prefix)}(\\d+)".r, v => !keep(v))
    sweep(manifestDir(path), ManifestName, _ != curV)
    sweep(manifestDir(path), TmpManifestName, _ => true)
    // a checksummed listing hides `.crc` files
    sweep(manifestDir(path), TmpSidecarName, _ => true, Lease.unchecksummed(f))
  }
}
