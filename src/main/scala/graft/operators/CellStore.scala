package graft.operators

import graft.sources.DriverParquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** The one lifecycle of a celled, versioned store. [[VecIndex]] (raw
  * vectors) and [[PqIndex]] (PQ codes) share one on-disk layout and
  * commit it through [[Versioned]]'s manifest triple:
  * {{{
  *   path/cells/v=V/cid=N/part-*.parquet   // bulk side: build/compact/delete/re-cell
  *   path/delta/e=E/cid=N/part-*.parquet   // batch appends (job-committed)
  *   path/delta/e=E/b=B/cid=N/...          // OR a stream lineage (per-micro-batch key)
  *   path/<quantDir>/v=V/part-*.parquet    // the quantizer the cells were assigned under
  *   path/manifest/v=V.txt                 // "base:B", "epoch:E", "cents:Q"
  * }}}
  * The CURRENT store is the highest-numbered manifest: cells version
  * `B` (0 = no bulk side yet — a pure-stream store), delta epoch `E`
  * (appends land under `delta/e=E`), quantizer version `Q` (0 = none
  * persisted). A mutation writes under the NEXT version — fresh paths
  * the live store never references — then publishes ONE manifest file
  * via a same-directory rename, the single atomic step. A crash before
  * that rename leaves orphan `v=N+1` debris the old manifest never
  * references (the next mutation overwrites it); a crash after it IS
  * the new store.
  *
  * Reader contract — pinned snapshots: [[open]] resolves the manifest
  * once and returns a frame over immutable paths, so a long-running
  * search is never perturbed by a concurrent compact/delete/re-cell:
  * the mutation publishes a NEW version set and leaves the old one in
  * place as garbage that graced [[gc]] collects once in-flight scans
  * are done.
  *
  * The cells/delta split is an LSM pair: streams append to the current
  * `delta/e=E` (one job-committed write per micro-batch under a
  * `b=batchId` partition, so a checkpoint replay overwrites its own
  * batch — [[appendStreamBatch]], with its per-batch EPOCH FENCE), bulk
  * writes own their `cells/v=B`, [[open]] unions the two, and
  * [[compact]] folds the delta into a new cells version, bumping the
  * epoch in the same publish (rows are never counted from both sides).
  * One append discipline per epoch: a batch append refuses a
  * stream-governed epoch ([[requireBatchEpoch]]) and a stream refuses
  * an epoch holding batch files ([[pinStreamAppend]]).
  *
  * Mutations are single-writer under the path [[Lease]]; the owner is
  * `<leasePrefix>-build`, `-append`, `-maintenance` or `-gc`. This class
  * owns every step of that lifecycle once; each store keeps only what
  * differs — how rows are assigned, encoded, searched and re-celled,
  * and the guards on its quantizer.
  *
  * @param leasePrefix the lease-owner prefix (`vecindex`, `pqindex`)
  * @param quantDir    the quantizer directory's name under `path`
  */
private[graft] abstract class CellStore(leasePrefix: String, quantDir: String) {

  /** The published state — the (base, epoch, cents) triple plus the
    * manifest version ([[Versioned.Man]]); an unpublished path reads
    * epoch 1, the well-defined append target of a pure-stream store. */
  private[graft] type Manifest = Versioned.Man

  /** What the superseded-manifest failure of [[appendStreamBatch]] tells
    * the operator to do — the one message part that differs per store. */
  protected def staleStreamAdvice: String

  protected def owner(op: String): String = s"$leasePrefix-$op"

  protected def cellsPath(path: String, v: Long): String = s"$path/cells/v=$v"
  protected def deltaPath(path: String, e: Long): String = s"$path/delta/e=$e"
  protected def quantPath(path: String, v: Long): String = s"$path/$quantDir/v=$v"

  // ---------------------------------------------------- reads and state

  /** The published manifest version the store currently reads at
    * (0 = no successful publish yet). */
  def currentVersion(spark: SparkSession, path: String): Long =
    Versioned.currentVersion(spark, path)

  /** The current delta epoch — operability readouts only (epoch bumps
    * mark compact and re-cell generations). */
  def currentEpoch(spark: SparkSession, path: String): Long =
    Versioned.current(spark, path).epoch

  private[graft] def currentManifest(spark: SparkSession, path: String): Manifest =
    Versioned.current(spark, path)

  /** The full store at the CURRENT manifest: cells ∪ delta, whichever
    * sides exist. The returned frame is a PINNED SNAPSHOT — it reads the
    * resolved version's immutable paths (see the class doc's reader
    * contract). */
  def open(spark: SparkSession, path: String): DataFrame =
    tryOpen(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no index layout under $path"))

  /** [[open]] for callers probing a possibly-unbuilt store. */
  def tryOpen(spark: SparkSession, path: String): Option[DataFrame] =
    openAt(spark, path, currentManifest(spark, path))

  protected def openAt(spark: SparkSession, path: String,
                       m: Manifest): Option[DataFrame] = {
    // a side counts only when it holds cell directories ([[hasCells]]);
    // the bulk read is ownership-resolving (a cell-pruned [[delete]]'s
    // version holds rewritten cells and references the rest)
    val bulk = openBulkResolved(spark, path, m.base)
    (bulk.toSeq ++ deltaRows(spark, path, m.epoch).toSeq)
      .reduceOption(_.unionByName(_))
  }

  /** Delta epoch `e`'s rows, None when it holds no cells; the stream
    * lineage's per-micro-batch replay key is dropped (a no-op on a
    * batch-appended epoch, which has no b= level). */
  private def deltaRows(spark: SparkSession, path: String,
                        e: Long): Option[DataFrame] =
    if (hasCells(spark, deltaPath(path, e)))
      Some(DriverParquet.read(spark).load(deltaPath(path, e)).drop("b"))
    else None

  // ------------------------------------------------------------- probes

  /** Whether ANY of `ids` is already stored — the landed-or-not probe a
    * RETRIED job-committed append needs. Column-pruned scan of the id
    * column only (cells + current delta); false on a never-built store.
    * Joins on `ids`' first column. */
  def containsAny(spark: SparkSession, path: String, ids: DataFrame): Boolean =
    tryOpen(spark, path) match {
      case None => false
      case Some(i) =>
        !i.select(col(ids.columns.head))
          .join(broadcast(ids.distinct()), Seq(ids.columns.head), "left_semi")
          .isEmpty
    }

  /** The subset of `ids` present anywhere in the store — the
    * reconcile's EXACT repair probe for the rare census-miss case (a
    * mid-day fold moved lineage batches into the bulk): a full
    * column-pruned scan, paid only when the cheap [[streamDeltaIds]]
    * census disagrees with [[containsAny]]. Joins on `ids`' first
    * column; empty relation for an unbuilt store. */
  def presentIds(spark: SparkSession, path: String, ids: DataFrame): DataFrame =
    tryOpen(spark, path) match {
      case None => ids.limit(0)
      case Some(i) =>
        i.select(col(ids.columns.head))
          .join(broadcast(ids.distinct()), Seq(ids.columns.head), "left_semi")
          .distinct()
    }

  /** The ids the CURRENT delta epoch's STREAM LINEAGE landed — a
    * DELTA-bounded read of the epoch's `b=` batch dirs, None when the
    * epoch is not stream-governed (batch-governed, empty, or already
    * adopted/folded). This is the day-end reconcile's landed-work
    * census: each micro-batch's append is atomic (one `b=` dynamic
    * overwrite), so an id here is definitively landed — the reconcile
    * probes this instead of the whole store and touches the full store
    * only for the unlanded remainder. */
  def streamDeltaIds(spark: SparkSession, path: String,
                     idCol: String): Option[DataFrame] = {
    val dir = deltaPath(path, currentManifest(spark, path).epoch)
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

  /** Share of store bytes sitting in the CURRENT delta epoch — the
    * unfolded-append debt [[compact]] pays down. Driver-side content
    * summaries only (no data read), so a maintenance window can measure
    * every time. 0.0 with no delta; 1.0 for a pure-stream store that has
    * never compacted. Retired epochs and superseded cells versions are
    * GARBAGE, not debt — they are [[gc]]'s business. */
  def deltaShare(spark: SparkSession, path: String): Double = {
    val m = currentManifest(spark, path)
    val f = fsOf(spark, new Path(path))
    val delta = dirBytes(f, deltaPath(path, m.epoch))
    // a pruned-delete base owns only its rewritten cells physically —
    // sum the chain's referenced leaf dirs so the debt ratio measures
    // the EFFECTIVE bulk, not one overlay's slice
    val base =
      if (m.base == 0L) 0L
      else cellOwnersIfManifested(spark, path, m.base) match {
        case None => dirBytes(f, cellsPath(path, m.base))
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
              dirBytes(f, dir)
            else cids.keysIterator.map(c => dirBytes(f, s"$dir/cid=$c")).sum
          }.sum
      }
    if (delta + base == 0L) 0.0 else delta.toDouble / (delta + base).toDouble
  }

  /** Cell-occupancy skew of the live store: the hottest cell's share of
    * all rows (1/k is perfectly balanced, →1.0 is the degenerate drift
    * end state where search decays toward a serial scan of one giant
    * cell). One column-pruned scan of `cid` — at fleet scale a
    * per-partition count, no payloads move. 0.0 on an empty store. */
  def cellSkew(spark: SparkSession, path: String): Double =
    tryOpen(spark, path) match {
      case None => 0.0
      case Some(i) =>
        val occ = i.groupBy(col("cid")).count()
          .agg(max(col("count")).as("mx"), sum(col("count")).as("n"))
          .collect().head
        if (occ.isNullAt(1) || occ.getLong(1) == 0L) 0.0
        else occ.getLong(0).toDouble / occ.getLong(1).toDouble
    }

  // ----------------------------------------------------- stream appends

  /** Pin the stream-append coordinates: resolve the manifest ONCE and
    * enforce the one-discipline-per-epoch rule in the stream's
    * direction ([[requireBatchEpoch]] is the batch side): the epoch must
    * not be governed by a legacy sink log, must not hold batch-appended
    * `cid=` files (a lineage's replay overwrite cannot govern them), and
    * a FRESH checkpoint must not adopt another lineage's `b=` batches
    * (batch numbering would restart at 0 and overwrite them). Composite
    * ingest pipelines (the daily driver's single-query stepStream) call
    * this at start and feed micro-batches through [[appendStreamBatch]]. */
  private[graft] def pinStreamAppend(spark: SparkSession, path: String,
                                     checkpoint: String): Manifest = {
    val m0 = currentManifest(spark, path)
    val dir = deltaPath(path, m0.epoch)
    val f = fsOf(spark, new Path(path))
    val names =
      if (!f.exists(new Path(dir))) Array.empty[String]
      else f.listStatus(new Path(dir)).map(_.getPath.getName)
    require(!names.contains("_spark_metadata"),
      s"delta epoch ${m0.epoch} is governed by a legacy streaming sink log — " +
        s"readers honoring the log would never see this lineage's " +
        s"batches; compact first")
    require(!names.exists(_.startsWith("cid=")),
      s"delta epoch ${m0.epoch} holds batch-appended files — a streaming " +
        s"lineage's replay overwrite cannot govern them; compact first")
    // the checkpoint may live on a DIFFERENT filesystem than the store
    // (hdfs checkpoint, object-store index) — resolve its FS from its
    // own path, not the store's
    val ckOffsets = new Path(s"$checkpoint/offsets")
    require(!names.exists(_.startsWith("b=")) ||
      fsOf(spark, ckOffsets).exists(ckOffsets),
      s"delta epoch ${m0.epoch} already holds a stream lineage's batches and " +
        s"this checkpoint is fresh — batch numbering would restart at 0 " +
        s"and overwrite them; resume the original checkpoint or compact first")
    m0
  }

  /** ONE micro-batch of a stream append — fence-then-write under the
    * store lease, the same lease every maintenance mutation holds. A
    * bare re-read would be check-then-write: a compact publishing
    * between the manifest read and the parquet write (plus the offset
    * commit that follows a normal return) would lose this batch
    * SILENTLY into the retired directory, the exact loss the fence
    * exists to make loud. The lease is acquired with BOUNDED PATIENCE
    * (withLeaseWait): a maintenance pass holding it for minutes must
    * not kill the stream — the batch waits it out, then the manifest
    * check decides (retired → throw before writing, offsets stay
    * uncommitted, the restarted stream replays against the current
    * epoch; kept → write proceeds, no interleaving possible under the
    * lease). BOTH coordinates are fenced: a compact retires the epoch
    * (batches there turn invisible), and a quantizer install swaps the
    * quantizer — rows this stream assigned or encoded under the pinned
    * one would be unreachable or wrongly scored. `batch` must already
    * carry the store's row columns and `cid`; the batch id becomes the
    * `b=` partition its replay dynamically overwrites. */
  private[graft] def appendStreamBatch(spark: SparkSession, path: String,
                                       m0: Manifest, batch: DataFrame,
                                       batchId: Long): Unit =
    Lease.withLeaseWait(spark, path, owner("append")) {
      val cur = currentManifest(spark, path)
      if (cur.epoch != m0.epoch || cur.cents != m0.cents)
        throw new IllegalStateException(
          s"append stream's pinned manifest (epoch ${m0.epoch}, quantizer " +
            s"${m0.cents}) was superseded (now epoch ${cur.epoch}, " +
            s"quantizer ${cur.cents}) — $staleStreamAdvice")
      batch.withColumn("b", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b", "cid")
        .parquet(deltaPath(path, m0.epoch))
    }

  /** The one-discipline-per-epoch guard BATCH appends take: a
    * stream-governed epoch (legacy `_spark_metadata` sink log, or the
    * `b=` lineage layout) must not receive interleaved batch files — a
    * replayed micro-batch's partition overwrite could clobber them. */
  protected def requireBatchEpoch(spark: SparkSession, path: String,
                                  epoch: Long): Unit =
    require(!streamGoverned(spark, path, epoch),
      s"delta epoch $epoch is governed by a stream lineage — a replayed " +
        s"micro-batch's partition overwrite could clobber interleaved " +
        s"batch appends; compact first")

  private def streamGoverned(spark: SparkSession, path: String,
                             epoch: Long): Boolean = {
    val dir = new Path(deltaPath(path, epoch))
    val f = fsOf(spark, new Path(path))
    f.exists(new Path(dir, "_spark_metadata")) ||
      (f.exists(dir) && f.listStatus(dir)
        .exists(_.getPath.getName.startsWith("b=")))
  }

  // -------------------------------------------------------- maintenance

  /** The rebalance-hinted, cid-clustered cells write every re-cluster
    * shares: one range shuffle on (cid, id) gives each cell a contiguous
    * run — a partition holds at most a couple of cells, a cell receives
    * at most a couple of files. */
  protected def writeCells(df: DataFrame, idCol: String, path: String,
                           v: Long): Unit =
    df.hint("rebalance", col("cid"))
      .sortWithinPartitions(col("cid"), col(idCol))
      .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, v))

  /** Offline compaction: fold the current delta epoch into a fresh
    * cells version ([[writeCells]]) and bump the epoch in the same
    * manifest publish. Every micro-batch/daily append lands a file per
    * touched `cid=N/` directory, so a long-running ingest accumulates
    * files whose per-file overhead eventually dominates the scan. Rows
    * and the cid layout are unchanged by a second run (VecIndexSpec
    * asserts row identity and that searches keep pruning); pinned
    * readers of the previous version are untouched — their directories
    * become garbage [[gc]] collects after `gcGraceMs`.
    *
    * LSM handoff discipline: run with NO active append stream, and
    * restart streams with a fresh checkpoint afterwards — the epoch
    * bump retires the directory the old checkpoint governed. */
  def compact(spark: SparkSession, path: String, idCol: String,
              gcGraceMs: Long = 0L): Unit =
    Lease.withLease(spark, path, owner("maintenance")) {
      val m = currentManifest(spark, path)
      val rows = openAt(spark, path, m).getOrElse(
        throw new IllegalArgumentException(s"no index layout under $path"))
      val n = m.v + 1
      writeCells(rows, idCol, path, n)
      Versioned.publish(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = m.cents)
      gcLocked(spark, path, gcGraceMs)
    }

  /** The POLICY form of [[compact]] — [[LexIndex.compactIfGarbage]]'s
    * LSM sibling: fold the delta only when it holds more than
    * `maxDeltaShare` of the store's bytes. Below the threshold the
    * content summaries are the whole cost (no rewrite, no new version),
    * so a maintenance window calls this unconditionally and the
    * corpus-linear re-cluster runs only once appends carry real weight.
    * Same no-active-writer handoff contract as [[compact]].
    *
    * @return true iff a compaction ran */
  def compactIfDelta(spark: SparkSession, path: String, idCol: String,
                     maxDeltaShare: Double = 0.2,
                     gcGraceMs: Long = 0L): Boolean = {
    val share = deltaShare(spark, path)
    if (share <= maxDeltaShare) false
    else { compact(spark, path, idCol, gcGraceMs); true }
  }

  /** Day-end handback from stream to batch discipline: re-key a
    * STREAM-governed delta epoch into a fresh batch-governed one in
    * O(delta) — ONE job-committed batch write (plain `cid=` layout, no
    * `b=` replay keys) and an epoch bump in the manifest; cells and
    * quantizer versions are untouched. The cheap alternative to
    * [[compact]] when the only need is "tomorrow's batch append must not
    * meet the lineage's replay keys" (the corpus-linear fold stays the
    * maintenance window's call). The old epoch directory becomes retired
    * garbage for graced [[gc]]; a reader pinned on the old manifest
    * finishes against its immutable files.
    *
    * Call with the stream STOPPED and drained (a live micro-batch racing
    * this would land in a dying directory); after the bump a zombie
    * checkpoint's next batch fails its epoch fence loudly. No-op (probe
    * cost) on a batch-governed or absent epoch. Crash-safe: the manifest
    * publish is the commit — a crash after the copy leaves an
    * unreferenced next-epoch dir the replay deletes and rewrites.
    *
    * @return true iff a stream lineage was re-keyed */
  def adoptStreamDelta(spark: SparkSession, path: String): Boolean =
    Lease.withLease(spark, path, owner("maintenance")) {
      val m = currentManifest(spark, path)
      if (!streamGoverned(spark, path, m.epoch)) false
      else {
        val next = new Path(deltaPath(path, m.epoch + 1L))
        fsOf(spark, next).delete(next, true) // a torn predecessor's debris
        deltaRows(spark, path, m.epoch)
          .foreach(_.write.partitionBy("cid").parquet(next.toString))
        Versioned.publish(spark, path, m.v + 1L, m.base, m.epoch + 1L, m.cents)
        true
      }
    }

  /** Remove `ids` from the store — the retraction path (takedowns,
    * decontamination), [[LexIndex.delete]]'s cell-store counterpart,
    * CELL-PRUNED: one column-pruned census finds the victim-bearing
    * cids, ONLY those cells (plus the live delta's, which this folds — a
    * delete is also a mini-compact, keeping the published state a single
    * bulk side) are rewritten under `v=N+1`, and the new version's
    * ownership sidecar references every untouched cell where it already
    * lives. Cell assignment is per-row, so surviving rows keep their cid
    * and `delete(build(A ∪ B), ids(B))` row-equals `build(A)`
    * (VecIndexSpec) — a single-victim takedown moves one cell's bytes,
    * not the corpus.
    *
    * Shares [[compact]]'s publish contract: everything before the
    * manifest rename is invisible debris a replay overwrites; the epoch
    * bumps so the folded delta drops out atomically; pinned readers keep
    * their version's files (gc keeps every chain-referenced dir —
    * [[referencedCellVersions]]). Ids absent from the store (and an
    * empty delta) make this a PUBLISH-FREE no-op — probe cost, no
    * version burned. Same LSM handoff discipline (no active writer).
    *
    * The chain CANNOT grow unboundedly across takedown histories: each
    * cid references exactly ONE owner version, so the live reference set
    * never exceeds the cell count — a retired overlay whose every
    * rewritten cell was later re-rewritten drops out of the set and gc
    * collects it, with no depth policy needed.
    *
    * The victim side is COUNT-GATED ([[Versioned.gatedIds]]): below
    * `maxBroadcastIds` distinct ids it broadcasts (the doc-grain
    * takedown fast path); above it the census and the rewrite join run
    * as shuffle semi/anti joins — a source-scale retraction cannot OOM
    * the driver. */
  def delete(spark: SparkSession, path: String, idCol: String,
             ids: DataFrame,
             maxBroadcastIds: Long = Versioned.DefaultMaxBroadcastIds): Unit =
    Lease.withLease(spark, path, owner("maintenance")) {
      val f = fsOf(spark, new Path(path))
      val m = currentManifest(spark, path)
      val bulk = openBulkResolved(spark, path, m.base)
      val delta = deltaRows(spark, path, m.epoch)
      val all = (bulk.toSeq ++ delta.toSeq).reduceOption(_.unionByName(_))
        .getOrElse(throw new IllegalArgumentException(
          s"no index layout under $path"))
      val vIds = Versioned.gatedIds(ids.select(col(idCol)).distinct(),
        maxBroadcastIds)
      val victimCids = all.join(vIds, Seq(idCol), "left_semi")
        .select(col("cid")).distinct().collect()
        .map(_.getAs[Number](0).longValue).toSet
      val deltaCids = delta.map(_.select(col("cid")).distinct().collect()
        .map(_.getAs[Number](0).longValue).toSet).getOrElse(Set.empty)
      val rewrite = victimCids ++ deltaCids
      if (rewrite.nonEmpty) { // else nothing to move: publish-free no-op
        val n = m.v + 1
        f.delete(new Path(cellsPath(path, n)), true) // torn predecessor debris
        writeCells(all.filter(col("cid").isin(rewrite.toSeq.sorted: _*))
          .join(vIds, Seq(idCol), "left_anti"), idCol, path, n)
        val present = listCids(f, cellsPath(path, n))
        val owners = cellOwners(spark, path, m.base)
          .filter { case (c, _) => !rewrite(c) } ++ present.map(_ -> n)
        if (owners.isEmpty)
          // the delete emptied the store — publish the well-defined empty
          // state (base 0) instead of a sidecar referencing nothing
          Versioned.publish(spark, path, n, base = 0L, epoch = m.epoch + 1L,
            cents = m.cents)
        else {
          writeCellOwners(f, path, n, owners)
          Versioned.publish(spark, path, n, base = n, epoch = m.epoch + 1L,
            cents = m.cents)
        }
      }
    }

  /** Collect version directories the live manifest no longer references
    * — superseded cells/quantizer versions and retired delta epochs.
    * With the default `graceMs = 0` everything superseded goes at once —
    * the OFFLINE discipline (no readers in flight). A positive grace is
    * the vacuum rule for live readers, and it ages from SUPERSESSION,
    * not creation: a directory's own mtime is its publication time,
    * which can be arbitrarily LONG before it was superseded (a version
    * that stayed current for a week would be deleted the instant a new
    * one published, under the reader's feet, if its mtime alone aged
    * it). The supersession lower bound is the CURRENT manifest file's
    * mtime — the publish that retired whatever is unreferenced now
    * happened no later than the latest publish — so an unreferenced
    * directory is deleted only when BOTH its mtime and the current
    * manifest's mtime are more than `graceMs` old ([[Versioned.agedRule]]).
    * A reader pins the then-current manifest at [[open]]; the publish
    * superseding its version happens strictly after that pin, so
    * deletion implies at least `graceMs` has passed since the pin.
    * Referenced directories are never deleted regardless of age. Runs
    * under the writer lease (the manifest must not advance mid-sweep). */
  def gc(spark: SparkSession, path: String, graceMs: Long = 0L): Unit =
    Lease.withLease(spark, path, owner("gc")) {
      gcLocked(spark, path, graceMs)
    }

  /** [[gc]]'s body, for callers already holding the `path` lease —
    * [[Versioned.gcSweep]] with this layout's three directory families
    * (superseded manifest files are swept by the shared rule too). */
  protected def gcLocked(spark: SparkSession, path: String, graceMs: Long): Unit = {
    val m = currentManifest(spark, path)
    if (m.v == 0L) return
    // a cell-pruned delete's chain references OLDER cells versions —
    // every one of them is live data, not garbage (delete-only
    // refcount, the snapshot store's rule)
    val cellRefs = referencedCellVersions(spark, path, m.base)
    Versioned.gcSweep(spark, path, m.v, graceMs, Seq(
      (s"$path/cells", "v=", (v: Long) => cellRefs(v)),
      (s"$path/delta", "e=", (v: Long) => v == m.epoch),
      (s"$path/$quantDir", "v=", (v: Long) => v == m.cents)))
  }

  // ------------------------------------------- per-cell ownership (pruned deletes)

  /** Sidecar name inside a cells version dir mapping each effective
    * cid to the version whose dir physically holds its files. Written
    * by [[delete]] BEFORE the manifest publish (torn writes are
    * invisible debris); a version WITHOUT the sidecar is FULL — it owns
    * every cid dir physically present (build/compact/re-cell and every
    * pre-ownership version), so the format is fully backward
    * compatible. */
  private val CellManifest = "_cells.txt"

  private val CidName = "cid=(-?\\d+)".r

  private def listCids(f: FileSystem, dir: String): Seq[Long] =
    Versioned.numbered(f, new Path(dir), CidName).map(_._1)

  /** The cid→owner map of cells version `v` when it carries an
    * ownership sidecar; None for a FULL version. */
  private def cellOwnersIfManifested(spark: SparkSession, path: String,
                                     v: Long): Option[Map[Long, Long]] = {
    val f = fsOf(spark, new Path(path))
    val p = new Path(cellsPath(path, v), CellManifest)
    if (!f.exists(p)) None
    else Some(Versioned.readEntries(f, p).map { case (c, o) => c.toLong -> o.toLong })
  }

  /** The cid→owner map of cells version `v`, resolved: the sidecar when
    * present, else (FULL version) every physically present cid dir,
    * owned by `v` itself. Empty for v=0. */
  protected def cellOwners(spark: SparkSession, path: String, v: Long): Map[Long, Long] =
    if (v == 0L) Map.empty
    else cellOwnersIfManifested(spark, path, v).getOrElse(
      listCids(fsOf(spark, new Path(path)), cellsPath(path, v)).map(_ -> v).toMap)

  private def writeCellOwners(f: FileSystem, path: String, v: Long,
                              owners: Map[Long, Long]): Unit = {
    val dir = new Path(cellsPath(path, v))
    f.mkdirs(dir)
    val out = f.create(new Path(dir, CellManifest), true)
    try out.write(Versioned.entryText(owners.toSeq.sorted.map { case (c, o) =>
      c.toString -> o }).getBytes("UTF-8"))
    finally out.close()
  }

  /** Every cells version the `base` chain references — gc's keep set:
    * a version dir referenced by the LIVE manifest's ownership chain
    * must survive any grace decision (the delete-only refcount rule the
    * snapshot store established). Includes `base` itself: a pruned
    * delete that emptied every rewritten cell still owns the sidecar. */
  private def referencedCellVersions(spark: SparkSession, path: String,
                                     base: Long): Set[Long] =
    if (base == 0L) Set.empty
    else cellOwners(spark, path, base).values.toSet + base

  /** The bulk side at cells version `base`, ownership-resolved: a FULL
    * version reads its own dir (the historical single-scan plan); a
    * pruned-delete version reads exactly the referenced (owner, cid)
    * leaf dirs in ONE parquet relation rooted at `cells/` — partition
    * pruning sees both `v` and `cid`, so a probed search still scans
    * only its cells' bytes. None when the version holds no rows. */
  private def openBulkResolved(spark: SparkSession, path: String,
                               base: Long): Option[DataFrame] =
    if (base == 0L) None
    else cellOwnersIfManifested(spark, path, base) match {
      case None =>
        if (hasCells(spark, cellsPath(path, base)))
          Some(DriverParquet.read(spark).option("basePath", s"$path/cells")
            .load(cellsPath(path, base)).drop("v"))
        else None
      case Some(owners) if owners.isEmpty => None
      case Some(owners) =>
        val leafs = owners.toSeq.sorted.map { case (c, o) =>
          s"${cellsPath(path, o)}/cid=$c"
        }
        Some(DriverParquet.read(spark).option("basePath", s"$path/cells")
          .load(leafs: _*).drop("v"))
    }

  /** Whether a side directory holds actual cell partitions: an EMPTY
    * write (a zero-row batch append, a delete that emptied the store)
    * leaves a bare directory with just _SUCCESS, and scanning that
    * fails parquet schema inference instead of reading as zero rows. A
    * stream-governed delta epoch nests its cells one level down
    * (`b=B/cid=N` — the per-micro-batch replay-overwrite key), so a
    * `b=` child counts when IT holds cells. */
  protected def hasCells(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val f = fsOf(spark, p)
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n.startsWith("cid=") || (n.startsWith("b=") &&
        f.listStatus(st.getPath).exists(_.getPath.getName.startsWith("cid=")))
    }
  }

  /** The on-disk bytes under `dir` (0 when absent) — one content
    * summary, no data read. */
  protected def dirBytes(f: FileSystem, dir: String): Long = {
    val p = new Path(dir)
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }
}
