package graft.operators

import graft.sources.DriverParquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import scala.collection.immutable.ArraySeq

/** Sealed, versioned TRAINING-SET snapshots — the reproducibility
  * record a corpus owner cuts before every training run: "run T trained
  * on snapshot v=N" must stay answerable (and auditable) months later,
  * after thousands of daily steps have rewritten the live decision
  * table the run was actually fed from.
  *
  * [[Versioned]] owns the marker protocol this store commits through:
  * every seal, revision, export and high-water marker below is listed
  * ([[Versioned.numbered]]), committed by a tmp-write and atomic rename
  * ([[Versioned.publishMarker]]; the high-water mark keeps its fixed
  * `.tmp-hwm` name) and read back ([[Versioned.readEntries]]) there.
  * What this store keeps is its own layout: an index has ONE
  * live version and superseded debris, but a snapshot history is
  * APPEND-ONLY — every sealed version stays independently readable
  * until an explicit retention decision retires it. Layout under `root`:
  *
  *  - `snap/v=N/r=K/`   — the sealed rows (decision columns + the
  *    per-doc content fingerprint) at DATA REVISION K. r=0 is the
  *    create; each [[redact]] publishes r=K+1 and never touches r=K —
  *    a reader pinned mid-scan on the pre-takedown revision finishes
  *    against immutable files, the same vacuum rule as every other
  *    store (the old in-place rewrite could yank `snap/v=N` out from
  *    under a concurrent open/diff/verify)
  *  - `snap/v=N/r=K.ok` — the revision's publish marker, whose atomic
  *    rename IS the commit: the live revision is the HIGHEST K with a
  *    marker, so a redact that crashes after the data write leaves
  *    invisible debris its replay overwrites. The marker carries the
  *    revision's `rows:` count — [[sealedRows]] reads the LIVE
  *    revision's marker, so the readout tracks takedowns instead of
  *    over-reporting the create-time count forever
  *  - `seal/v=N.txt`    — the seal marker whose atomic rename commits
  *    the VERSION: a version exists iff its marker does, so a create
  *    that crashes mid-write leaves only invisible `snap/` debris the
  *    next create overwrites (same version number — `versions` never
  *    counted the unsealed dir) and gc eventually sweeps
  *  - `seal/.retired-v=N.txt` — gc's two-phase retirement: pass 1
  *    un-publishes (fresh-mtime retired marker, seal deleted), pass 2
  *    deletes the data only after `graceMs` has passed SINCE THE
  *    RETIREMENT — a reader that checked the seal just before the
  *    retention decision gets a full grace to finish, aged from the
  *    un-publish the marker records instead of an unknowable policy
  *    flip
  *
  * Mutators (create / gc / redact) serialize through the root's writer
  * [[Lease]]; readers never take it and are never perturbed by one:
  * every read resolves to an immutable `r=K` directory whose files only
  * gc deletes, under the grace. [[redact]] is the takedown cascade
  * through sealed history: a forgotten document's rows leave every
  * sealed version too — version numbers, seal markers, and "run T ←
  * snapshot N" records survive, minus exactly the forgotten rows.
  */
object Snapshots {

  private val SealName = "v=(\\d+)\\.txt".r
  private val RetiredName = "\\.retired-v=(\\d+)\\.txt".r
  private val SnapDirName = "v=(\\d+)".r
  private val RevOkName = "r=(\\d+)\\.ok".r
  private val RevDirName = "r=(\\d+)".r
  private val ManifestName = "r=(\\d+)\\.manifest".r
  private val BatchDirName = "batch=(-?\\d+)".r
  private val HwmName = "\\.hwm-(\\d+)".r

  private def snapDir(root: String, v: Long) = s"$root/snap/v=$v"
  private def revDir(root: String, v: Long, k: Long) = s"$root/snap/v=$v/r=$k"
  private def revOk(root: String, v: Long, k: Long) =
    new Path(snapDir(root, v), s"r=$k.ok")
  private def sealRoot(root: String) = s"$root/seal"
  private def sealFile(root: String, v: Long) =
    new Path(sealRoot(root), s"v=$v.txt")

  /** The content fingerprint a snapshot seals per document — the
    * engine's portable polynomial hash ([[graft.functions.TextFunctions
    * .strHash]]), so [[verify]]'s "is the corpus the run saw still the
    * corpus" check is cheap (two longs per doc, no text retained in the
    * snapshot) and the sealed value is reproducible bit-for-bit by the
    * DuckDB oracle. */
  def fingerprint(text: Column): Column =
    graft.functions.TextFunctions.strHash(text)

  /** `(doc_id, fp, len)` for a corpus relation — the frame the driver's
    * incremental fingerprint store appends per delta (ONE text scan per
    * delta, never per snapshot). */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"),
      length(col(textCol)).cast(LongType).as("len"))

  /** Sealed versions, ascending. Only the seal marker counts — an
    * unsealed `snap/` dir is a crashed create, invisible here. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    Versioned.numbered(fsOf(spark, new Path(root)), new Path(sealRoot(root)),
      SealName).map(_._1)

  /** Published data revisions of version `v`, ascending (markers only —
    * a data dir without its `.ok` is a torn redact, invisible). */
  private def revisions(f: FileSystem, root: String, v: Long): Seq[Long] =
    Versioned.numbered(f, new Path(snapDir(root, v)), RevOkName).map(_._1)

  private def liveRevision(f: FileSystem, root: String, v: Long): Long =
    revisions(f, root, v).lastOption.getOrElse {
      // LEGACY (pre-revision-layout) versions read as revision 0: their
      // exports tie to r=0 and the first redact (publishing r=1) makes
      // those exports stale through the ordinary fence — "legacy history
      // stays readable, redactable, and exportable"
      val d = new Path(snapDir(root, v))
      require(f.exists(d) && f.listStatus(d).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")),
        s"snapshot v=$v at $root has no published data revision")
      0L
    }

  /** The live data directory of sealed `v` — the highest published
    * revision, or the PRE-REVISION layout (data files directly under
    * `snap/v=N`, sealed by an earlier engine): legacy history stays
    * readable and redactable; the first [[redact]] that touches such a
    * version publishes `r=1` and gc then sweeps the superseded root
    * files under the usual grace. */
  private def liveDataDir(f: FileSystem, root: String, v: Long): String =
    revisions(f, root, v).lastOption match {
      case Some(k) => revDir(root, v, k)
      case None =>
        val d = new Path(snapDir(root, v))
        require(f.exists(d) && f.listStatus(d).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")),
          s"snapshot v=$v at $root has no published data revision")
        // root-FILE glob, not the dir: a torn legacy-upgrade redact may
        // have left an unpublished r=1 subdir, and reading the dir
        // would trip partition discovery over it — the legacy data is
        // exactly the root parquet files
        s"${snapDir(root, v)}/*.parquet"
    }

  /** Publish revision `k` of version `v`: write the marker (with the
    * footer-derived row count) to a tmp name and atomically rename it
    * in — THE commit point for the revision's data. */
  private def publishRevision(spark: SparkSession, root: String, v: Long,
                              k: Long, tag: String): Unit =
    publishRevisionCounted(spark, root, v, k, tag,
      footerRowsDeep(fsOf(spark, new Path(root)), new Path(revDir(root, v, k)),
        spark.sparkContext.hadoopConfiguration))

  /** [[publishRevision]] with the row count supplied by the caller —
    * the manifest path's form (the count is the manifest's own sum; a
    * footer walk would miss rows living in other versions' dirs). */
  private def publishRevisionCounted(spark: SparkSession, root: String,
                                     v: Long, k: Long, tag: String,
                                     n: Long): Unit =
    Versioned.publishMarker(fsOf(spark, new Path(root)), revOk(root, v, k),
      Seq("rows" -> n, tag -> System.currentTimeMillis()))

  // ----------------------------------------- incremental (manifest) seals

  /** One sealed batch partition's entry in a revision MANIFEST: the
    * (`ownerV`, `ownerR`) whose physical `batch=` directory holds the
    * rows — possibly an EARLIER version's (unchanged batches are
    * referenced, never recopied) — plus the batch's row count and an
    * order-free 64-bit content checksum (xor of a per-row hash) the
    * next incremental seal compares against. Pointers are always FLAT
    * (straight at the owning physical dir, never chained through
    * intermediate manifests). */
  private final case class BatchRef(batch: Long, ownerV: Long, ownerR: Long,
                                    rows: Long, sum: Long)

  private def manifestPath(root: String, v: Long, k: Long) =
    new Path(snapDir(root, v), s"r=$k.manifest")

  private def readManifestRefs(f: FileSystem, root: String, v: Long,
                               k: Long): Seq[BatchRef] =
    Versioned.readLines(f, manifestPath(root, v, k)).filter(_.nonEmpty)
      .map { line =>
        val kv = line.split("\\s+").map { tok =>
          val Array(key, value) = tok.split("=", 2); key -> value
        }.toMap
        BatchRef(kv("batch").toLong, kv("v").toLong, kv("r").toLong,
          kv("rows").toLong, kv("sum").toLong)
      }

  /** The manifest file is plain content under the unpublished revision —
    * the `r=K.ok` marker rename is what commits it, so a torn write is
    * invisible debris the replay overwrites. */
  private def writeManifest(f: FileSystem, root: String, v: Long, k: Long,
                            refs: Seq[BatchRef]): Unit = {
    val out = f.create(manifestPath(root, v, k), true)
    try out.write(refs.sortBy(_.batch).map(b =>
        s"batch=${b.batch} v=${b.ownerV} r=${b.ownerR} rows=${b.rows} " +
          s"sum=${b.sum}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Every (ownerV, ownerR, batch) a manifest PRESENT ON DISK still
    * references — gc's delete-only refcount: a physical batch dir with
    * a referrer anywhere (a live version, a superseded-in-grace
    * revision, a retiring-in-grace version) is not garbage. */
  private def allManifestRefs(f: FileSystem,
                              root: String): Set[(Long, Long, Long)] = {
    val sd = new Path(s"$root/snap")
    if (!f.exists(sd)) return Set.empty
    (for {
      vd <- f.listStatus(sd).toSeq if vd.isDirectory
      vs <- SnapDirName.unapplySeq(vd.getPath.getName).toSeq.flatten
      mf <- f.listStatus(vd.getPath).toSeq if mf.isFile
      ks <- ManifestName.unapplySeq(mf.getPath.getName).toSeq.flatten
      r <- readManifestRefs(f, root, vs.toLong, ks.toLong)
    } yield (r.ownerV, r.ownerR, r.batch)).toSet
  }

  /** Sweep revision dir (v, k)'s physical content that no present
    * manifest references; deletes the dir when nothing survives.
    * @return true iff the dir is gone afterwards */
  private def sweepRevisionDirUnreferenced(
      f: FileSystem, root: String, v: Long, k: Long,
      refs: Set[(Long, Long, Long)]): Boolean = {
    val dir = new Path(revDir(root, v, k))
    if (!f.exists(dir)) return true
    var kept = false
    for (st <- f.listStatus(dir)) st.getPath.getName match {
      case BatchDirName(bs) if st.isDirectory =>
        if (refs((v, k, bs.toLong))) kept = true
        else f.delete(st.getPath, true)
      case _ =>
        // physical (non-manifest) revisions' own parquet files and job
        // debris — unreferenced by definition (manifests only ever
        // point at batch= dirs)
        f.delete(st.getPath, true)
    }
    if (!kept) f.delete(dir, true)
    !kept
  }

  /** The canonical per-batch content summary an incremental seal
    * compares: (row count, order-free MULTISET checksum of a 64-bit
    * whole-row hash) per batch — ONE aggregate scan, column set sorted
    * by name so the checksum is layout-independent. The checksum is the
    * component-wise sum of the hash's two 32-bit halves, each mod 2³²,
    * recombined into one long: order-free like xor but multiplicity-
    * sensitive — a plain xor cancels duplicate rows ({A,A}→{C,C} keeps
    * both count and xor), whereas the half-sums move unless the hash
    * halves collide mod 2³² under the multiplicity, a collision-scale
    * event. Overflow-free under ANSI for < 2³¹ rows per batch (a batch
    * is one arrival day — enforced below, not assumed). A false
    * "unchanged" would silently reference stale rows; that residual
    * 2⁻⁶⁴-scale risk is the usual content-address trade every manifest
    * store makes. */
  private def batchSums(rows: DataFrame,
                        batchCol: String): Map[Long, (Long, Long)] = {
    val dataCols = rows.columns.filterNot(_ == batchCol).sorted
    val h = xxhash64(ArraySeq.unsafeWrapArray(dataCols.map(col)): _*)
    val m32 = lit(4294967296L) // 2^32
    rows.groupBy(col(batchCol).cast(LongType).as("__b"))
      .agg(count(lit(1)).as("__n"),
        shiftleft(pmod(sum(shiftrightunsigned(h, 32)), m32), 32)
          .bitwiseOR(pmod(sum(h.bitwiseAND(m32 - lit(1L))), m32)).as("__x"))
      .collect().map { r =>
        require(r.getLong(1) < 2147483648L,
          s"batch ${r.getLong(0)} holds ${r.getLong(1)} rows — the " +
            s"half-sum checksum is overflow-proven only below 2^31 rows " +
            s"per batch; split the batch key finer")
        r.getLong(0) -> (r.getLong(1), r.getLong(2))
      }.toMap
  }

  /** Version allocation is STRICTLY monotone across the store's whole
    * life — "run T trained on snapshot N" must never become ambiguous,
    * so a number is not re-used even after its retirement has fully
    * aged out and every trace of its data is collected. The on-disk
    * high-water mark carries the history the markers no longer do
    * (listing seals + retired-in-grace markers alone would re-allocate
    * a fully-collected number — caught by the randomized protocol
    * spec). The mark is a VERSIONED file (`.hwm-N`) renamed in before
    * older ones are deleted: there is no instant without a mark on
    * disk, so no crash window re-opens the re-allocation hole (a
    * delete-then-rename single name had one); a crash between the bump
    * and the seal burns a number, which is harmless. */
  private def allocVersion(spark: SparkSession, f: FileSystem,
                           root: String): Long = {
    val dir = new Path(sealRoot(root))
    val hwmFiles = Versioned.numbered(f, dir, HwmName)
    // versions mid-retirement (gc phase 1 done, data not yet aged out)
    // count too: re-using a retired-in-grace number would overwrite data
    // a pinned reader was promised, and its pending marker would
    // schedule the fresh seal's data for deletion
    val v = (versions(spark, root) ++
      Versioned.numbered(f, dir, RetiredName).map(_._1) ++ hwmFiles.map(_._1))
      .foldLeft(0L)(math.max) + 1L
    // the one fixed tmp name: a crashed bump strands no per-number debris
    Lease.commitFile(f, new Path(dir, ".tmp-hwm"), new Path(dir, s".hwm-$v"),
      s"$v\n")
    for ((w, st) <- hwmFiles if w < v) f.delete(st.getPath, false)
    v
  }

  /** The seal-marker commit shared by [[create]]/[[createIncremental]]:
    * the atomic rename IS the version's single commit point. */
  private def sealVersion(f: FileSystem, root: String, v: Long): Unit =
    Versioned.publishMarker(f, sealFile(root, v),
      Seq("created" -> System.currentTimeMillis()))

  /** Seal `rows` as the next version INCREMENTALLY: physical copies are
    * written only for batches whose content CHANGED since the previous
    * sealed version (an order-free per-batch checksum against the
    * previous manifest — no read of the previous data); unchanged
    * batches are REFERENCED where they already live. The seal's write
    * cost is therefore delta-proportional — the full-copy [[create]]
    * paid the whole corpus-rows table per seal — while every read-side
    * guarantee is unchanged: published revisions and their physical
    * dirs stay immutable, [[open]] resolves the manifest to a union of
    * immutable dirs, and [[gc]] deletes a physical batch dir only when
    * NO manifest on disk references it (delete-only refcount — a
    * pinned reader of any sealed version keeps its files through every
    * later retention decision, which is strictly stronger than the
    * graced sweep alone).
    *
    * `rows` must carry `batchCol` (the driver's decision table is
    * batch-partitioned by arrival day — the same key). The PHYSICAL
    * layout is always `batch=` regardless of the caller's column name —
    * a non-default batchCol is normalized via rename before the write,
    * because every reader ([[open]]'s manifest paths), the gc sweep,
    * and [[redact]] resolve `batch=` dirs; sealed data therefore reads
    * back with the partition column named `batch`. When the previous
    * version has no manifest (a legacy full seal, or no previous
    * version at all), every batch counts as changed and this seal
    * writes a full self-owned copy — later seals go incremental.
    * Crash story = [[create]]'s: an unsealed version's debris (data,
    * manifest, revision marker) is invisible and overwritten by the
    * next create.
    *
    * CHECKSUM-FORMAT MIGRATION NOTE: round 11 changed the per-batch
    * checksum from xor to the multiset half-sum ([[batchSums]]). The
    * first incremental seal over a manifest written with the OLD
    * format compares new half-sums against stored xor values, so every
    * batch reads as changed and that one seal writes a full self-owned
    * copy of the table — a one-time corpus-sized write, in the SAFE
    * direction (false-changed re-copies; a false-unchanged would
    * reference stale rows). Later seals are delta-proportional again.
    * Any future checksum change pays the same one-time full reseal;
    * that is the intended migration path (no version field needed —
    * the mismatch itself forces the safe copy). */
  def createIncremental(spark: SparkSession, root: String, rowsIn: DataFrame,
                        batchCol: String = "batch"): Long =
    Lease.withLease(spark, root, "snapshot-create") {
      val f = fsOf(spark, new Path(root))
      require(rowsIn.columns.contains(batchCol),
        s"createIncremental needs the '$batchCol' column (the partition " +
          s"key unchanged batches are deduplicated on); use create for " +
          s"unpartitioned rows")
      require(batchCol == "batch" || !rowsIn.columns.contains("batch"),
        s"batchCol='$batchCol' clashes with an existing 'batch' column — " +
          s"the sealed layout reserves that name for the partition key")
      val rows = if (batchCol == "batch") rowsIn
        else rowsIn.withColumnRenamed(batchCol, "batch")
      val sums = batchSums(rows, "batch")
      val v = allocVersion(spark, f, root)
      f.delete(new Path(snapDir(root, v)), true)
      if (sums.isEmpty) {
        // empty relation: no batches to reference — the plain physical
        // shape keeps the schema readable (create's convention)
        rows.write.mode("overwrite").parquet(revDir(root, v, 0L))
        publishRevision(spark, root, v, 0L, "created")
      } else {
        val prevRefs: Map[Long, BatchRef] =
          versions(spark, root).lastOption.flatMap { pv =>
            revisions(f, root, pv).lastOption
              .filter(k => f.exists(manifestPath(root, pv, k)))
              .map(k => readManifestRefs(f, root, pv, k)
                .map(b => b.batch -> b).toMap)
          }.getOrElse(Map.empty)
        val changed = sums.keySet.filter(b =>
          !prevRefs.get(b).exists(p =>
            p.rows == sums(b)._1 && p.sum == sums(b)._2))
        if (changed.nonEmpty) {
          // all-changed (the first manifest seal) skips the IN-literal —
          // a multi-year history has thousands of batches and the
          // predicate would cost more than it prunes
          val copied =
            if (changed == sums.keySet) rows
            else rows.filter(col("batch").isin(changed.toSeq: _*))
          copied.withColumn("batch", col("batch").cast(LongType))
            .write.partitionBy("batch").parquet(revDir(root, v, 0L))
        }
        val refs = sums.toSeq.sortBy(_._1).map { case (b, (n, x)) =>
          if (changed(b)) BatchRef(b, v, 0L, n, x)
          else prevRefs(b).copy(rows = n, sum = x)
        }
        writeManifest(f, root, v, 0L, refs)
        publishRevisionCounted(spark, root, v, 0L, "created",
          refs.map(_.rows).sum)
      }
      sealVersion(f, root, v)
      v
    }

  /** Seal `rows` as the next snapshot version and return it. The data
    * write is job-committed into `snap/v=N/r=0` and its revision marker
    * published; the seal marker's atomic rename is the VERSION's single
    * commit point (crash before it → the next create re-derives the
    * SAME version number and its overwrite-mode write replaces the
    * debris). Runs under the root's writer lease — two concurrent
    * creates cannot both allocate N. */
  def create(spark: SparkSession, root: String, rows: DataFrame): Long =
    Lease.withLease(spark, root, "snapshot-create") {
      val f = fsOf(spark, new Path(root))
      val v = allocVersion(spark, f, root)
      // v is unsealed by construction, so anything under its dir is a
      // crashed create's debris (possibly the pre-revision loose-file
      // layout) — clear it so the sealed version holds exactly r=0
      f.delete(new Path(snapDir(root, v)), true)
      rows.write.mode("overwrite").parquet(revDir(root, v, 0L))
      publishRevision(spark, root, v, 0L, "created")
      sealVersion(f, root, v)
      v
    }

  /** Read sealed version `v` — the LIVE (highest-published) data
    * revision. The returned frame scans immutable directories only: a
    * concurrent [[redact]] publishes a NEW revision and never rewrites
    * these, so a scan pinned here finishes (gc's grace — and, for
    * manifest revisions, the delete-only refcount — keeps the files
    * alive, the vacuum rule). A MANIFEST revision resolves to a union
    * of the referenced owners' `batch=` dirs (one read per owner
    * version — owner count is bounded by the sealed-history length). */
  def open(spark: SparkSession, root: String, v: Long): DataFrame = {
    val f = fsOf(spark, new Path(root))
    require(f.exists(sealFile(root, v)),
      s"snapshot v=$v at $root is not sealed")
    openLiveData(spark, f, root, v)
  }

  private def openLiveData(spark: SparkSession, f: FileSystem, root: String,
                           v: Long): DataFrame = {
    legacySwapRepair(spark, f, root, v)
    revisions(f, root, v).lastOption match {
      case Some(k) if f.exists(manifestPath(root, v, k)) =>
        val refs = readManifestRefs(f, root, v, k)
        require(refs.nonEmpty,
          s"snapshot v=$v r=$k at $root has an empty manifest")
        refs.groupBy(r => (r.ownerV, r.ownerR)).toSeq.sortBy(_._1)
          .map { case ((ov, or), rs) =>
            val base = revDir(root, ov, or)
            // basePath recovers `batch` as a partition column even
            // though only a SUBSET of the owner's batch dirs is read
            DriverParquet.read(spark).option("basePath", base)
              .load(rs.map(b => s"$base/batch=${b.batch}").sorted: _*)
          }
          .reduce(_ unionByName _)
          .withColumn("batch", col("batch").cast(LongType))
      case _ => DriverParquet.read(spark).load(liveDataDir(f, root, v))
    }
  }

  /** Roll forward a PRE-UPGRADE torn in-place redact: the old engine
    * redacted sealed versions through `AtomicSwap.swap(snap/v=N)` and
    * relied on open()-time repair as the roll-forward — a legacy store
    * upgraded with such a swap's commit marker still pending would
    * otherwise be forever unreadable (dir renamed away) or forever
    * serve the PRE-redact victim-bearing rows (dir not yet replaced).
    * Only legacy versions (no published revision) can carry one; one
    * existence probe when healthy. */
  private def legacySwapRepair(spark: SparkSession, f: FileSystem,
                               root: String, v: Long): Unit =
    if (revisions(f, root, v).isEmpty)
      AtomicSwap.repair(spark, snapDir(root, v))

  /** Row count recorded in the LIVE revision's publish marker —
    * [[create]]/[[redact]] stamp it from the written files' footers, so
    * status readouts need no data scan and a takedown-redacted version
    * reports its post-redaction count, not the create-time one. */
  def sealedRows(spark: SparkSession, root: String, v: Long): Long = {
    val f = fsOf(spark, new Path(root))
    require(f.exists(sealFile(root, v)),
      s"snapshot v=$v at $root is not sealed")
    legacySwapRepair(spark, f, root, v)
    def rowsLine(p: Path): Option[Long] =
      Versioned.readEntries(f, p).get("rows").map(_.toLong)
    revisions(f, root, v).lastOption match {
      case Some(k) => rowsLine(revOk(root, v, k)).getOrElse(0L)
      case None =>
        // legacy layout: the old engine stamped rows: in the seal
        // marker itself; fall back to footers if even that is absent
        rowsLine(sealFile(root, v)).getOrElse(
          footerRowsDeep(f, new Path(snapDir(root, v)),
            spark.sparkContext.hadoopConfiguration))
    }
  }

  /** What changed between two sealed versions, keyed by `idCol`: one
    * `'removed'` / `'added'` / `'changed'` row per differing document
    * (unchanged documents emit nothing — on a daily corpus the diff is
    * delta-sized, not corpus-sized). `'changed'` compares exactly the
    * `compare` columns null-safely (split is null on non-kept rows by
    * contract); each comes back as a `_a`/`_b` pair. One full outer
    * sort-merge join on the id — O(|A|+|B|) shuffle, no text. */
  def diff(spark: SparkSession, root: String, vA: Long, vB: Long,
           compare: Seq[String] = Seq("keep", "split", "component",
             "dedup_keep", "fp"),
           idCol: String = "doc_id"): DataFrame = {
    def side(v: Long, tag: String) =
      open(spark, root, v).select(
        col(idCol) +: lit(true).as(s"in_$tag") +:
          compare.map(c => col(c).as(s"${c}_$tag")): _*)
    val joined = side(vA, "a").join(side(vB, "b"), Seq(idCol), "full_outer")
    val changed = compare
      .map(c => !(col(s"${c}_a") <=> col(s"${c}_b")))
      .reduce(_ || _)
    joined.withColumn("status",
        when(col("in_b").isNull, "removed")
          .when(col("in_a").isNull, "added")
          .when(changed, "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select(col(idCol) +: col("status") +:
        compare.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Audit sealed version `v` against the live corpus: every sealed
    * document whose text is gone (`'missing'`), no longer hashes to
    * the sealed fingerprint (`'changed'`), or was sealed WITHOUT one
    * (`'unverifiable'` — a pre-fingerprint-store row of an upgraded
    * driver dir; silently passing a row the audit cannot check would
    * turn "intact" into a lie) — the "is the corpus this training run
    * saw still reproducible" check, O(sealed) ids joined against one
    * fingerprint pass over `docs`, empty result = intact. Documents
    * added since the seal are not the snapshot's concern. */
  def verify(spark: SparkSession, root: String, v: Long, docs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val live = fingerprints(docs, idCol, textCol)
      .select(col(idCol), col("fp").as("live_fp"))
    open(spark, root, v).select(col(idCol), col("fp"))
      .join(live, Seq(idCol), "left_outer")
      .withColumn("status",
        when(col("fp").isNull, "unverifiable")
          .when(col("live_fp").isNull, "missing")
          .when(col("fp") =!= col("live_fp"), "changed")
          .otherwise("ok"))
      .filter(col("status") =!= "ok")
      .select(col(idCol), col("status"), col("fp"), col("live_fp"))
  }

  /** Retention sweep, two-phase so readers keep the index families'
    * vacuum guarantee: versions `keep` rejects are first UN-PUBLISHED
    * (fresh retired marker, seal deleted — [[open]] refuses from here
    * on), and their data is deleted only once the retired marker is
    * `graceMs` old. Also sweeps, under the same grace: data revisions
    * a [[redact]] superseded (aged from the LIVE revision's publish
    * marker — always at or after the moment each older revision
    * stopped being the one [[open]] resolves), torn-redact data dirs
    * that never published, and crashed-create debris (unsealed `snap/`
    * dirs, `.tmp-*` markers) and the `..tmp-*.crc` sidecars older
    * marker commits stranded in `seal/` and `snap/v=N/`
    * ([[Versioned.sweepTmpSidecars]]), aged by their own mtime. */
  def gc(spark: SparkSession, root: String, keep: Long => Boolean,
         graceMs: Long = 0L): Unit =
    Lease.withLease(spark, root, "snapshot-gc") {
      val f = fsOf(spark, new Path(root))
      val now = System.currentTimeMillis()
      val sr = new Path(sealRoot(root))
      // phase 1: un-publish rejected versions (marker create is the
      // retirement timestamp; crash between the two steps leaves both
      // markers and the replay finishes the delete)
      for (v <- versions(spark, root) if !keep(v)) {
        val retired = new Path(sr, s".retired-v=$v.txt")
        val out = f.create(retired, true)
        try out.write(s"retired:$now\n".getBytes("UTF-8"))
        finally out.close()
        f.delete(sealFile(root, v), false)
      }
      // phase 2: delete data whose retirement has aged past the grace.
      // Fresh clock reading — phase 1's markers were created after
      // `now`, and a grace-0 sweep must collect them in THIS call.
      // A marker whose version is STILL SEALED is a torn phase 1 whose
      // version the current keep() re-accepted (phase 1 above would
      // have re-deleted the seal otherwise): cancel the retirement —
      // deleting the data under a live seal is never legal.
      val now2 = System.currentTimeMillis()
      val agedRetired = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Path)]
      if (f.exists(sr)) for (st <- f.listStatus(sr))
        st.getPath.getName match {
          case RetiredName(vs) =>
            val v = vs.toLong
            if (f.exists(sealFile(root, v))) f.delete(st.getPath, false)
            else if (now2 - st.getModificationTime >= graceMs)
              agedRetired += v -> st.getPath
          case n if n.startsWith(".tmp-") && n.endsWith(".txt") &&
            now2 - st.getModificationTime >= graceMs =>
            f.delete(st.getPath, false)
          case _ => ()
        }
      Versioned.sweepTmpSidecars(f, sr, now2 - _ >= graceMs)
      // scaffolding of EVERY aged retired version first (their
      // manifests stop pinning anything — the versions are
      // unpublished), so one pass converges even when retired versions
      // reference each other's copies; THEN one reference census, and
      // every physical batch dir a manifest still present on disk
      // references SURVIVES: the delete-only refcount that makes
      // cross-version copy reuse safe under retention.
      for ((v, _) <- agedRetired) {
        val vd = new Path(snapDir(root, v))
        if (f.exists(vd)) for (s2 <- f.listStatus(vd))
          s2.getPath.getName match {
            case RevOkName(_) | ManifestName(_) =>
              f.delete(s2.getPath, false)
            case _ => ()
          }
      }
      // ONE reference census per gc invocation (lazily when nothing
      // retired): re-reading every manifest per sealed version would
      // make the sweep O(versions²) in metadata reads on a years-long
      // history. sweepRevisions recomputes locally only when its own
      // pass deleted a manifest this call.
      var census: Set[(Long, Long, Long)] = null
      def censusRefs: Set[(Long, Long, Long)] = {
        if (census == null) census = allManifestRefs(f, root)
        census
      }
      if (agedRetired.nonEmpty) {
        census = allManifestRefs(f, root)
        val refs = census
        for ((v, marker) <- agedRetired) {
          val vd = new Path(snapDir(root, v))
          var fullyGone = true
          if (f.exists(vd)) for (s2 <- f.listStatus(vd))
            s2.getPath.getName match {
              case RevDirName(ks) =>
                if (!sweepRevisionDirUnreferenced(f, root, v,
                  ks.toLong, refs)) fullyGone = false
              case _ => f.delete(s2.getPath, true) // legacy/tmp debris
            }
          // a retired version's shard export retires with it
          f.delete(new Path(shardsVDir(root, v)), true)
          // legacy in-place-redact era AtomicSwap siblings (and any
          // hand-made debris shaped like them) would otherwise
          // strand forever once the version is unopenable — open's
          // repair was their only owner
          for (sfx <- Seq("__new", "__commit", "__lock"))
            f.delete(new Path(snapDir(root, v) + sfx), true)
          // the retired marker persists until every copy this
          // version owns has lost its last referrer — a later gc
          // (after the referencing manifests age out or retire)
          // finishes the job and only then frees the number's data
          if (fullyGone) {
            f.delete(vd, true)
            f.delete(marker, false)
          }
        }
      }
      // crashed-create debris: snap dirs that never sealed and are not
      // mid-retirement (phase 2 owns those). Exact-name match only —
      // loose prefix parses would throw on foreign names and abort
      // retention forever.
      val sd = new Path(s"$root/snap")
      if (f.exists(sd)) for (st <- f.listStatus(sd))
        st.getPath.getName match {
          case SnapDirName(vs) =>
            val v = vs.toLong
            val isSealed = f.exists(sealFile(root, v))
            val retiring = f.exists(new Path(sr, s".retired-v=$v.txt"))
            if (!isSealed && !retiring &&
              now2 - st.getModificationTime >= graceMs)
              f.delete(st.getPath, true)
            else if (isSealed) {
              sweepRevisions(f, root, v, graceMs, now2, censusRefs)
              Versioned.sweepTmpSidecars(f, st.getPath, now2 - _ >= graceMs)
            }
          case _ => ()
        }
      // shard-export debris and superseded export revisions, same rules
      val shd = new Path(s"$root/shards")
      if (f.exists(shd)) for (st <- f.listStatus(shd))
        st.getPath.getName match {
          case SnapDirName(vs) =>
            val v = vs.toLong
            val isSealed = f.exists(sealFile(root, v))
            val retiring = f.exists(new Path(sr, s".retired-v=$v.txt"))
            if (!isSealed && !retiring &&
              now2 - st.getModificationTime >= graceMs)
              f.delete(st.getPath, true)
            else if (isSealed)
              sweepShardRevisions(f, root, v, graceMs, now2)
          case _ => ()
        }
    }

  /** [[sweepRevisions]]'s sibling for a version's shard exports: keep
    * the newest published export (even a STALE one — it records that
    * shards exist and carries the re-export params), sweep older ones
    * once the newest marker has aged past the grace, and torn exports
    * (data without a marker) by their own mtime. */
  private def sweepShardRevisions(f: FileSystem, root: String, v: Long,
                                  graceMs: Long, now: Long): Unit = {
    val rs = shardRevisions(f, root, v)
    if (rs.isEmpty) {
      // no published export at all: any data dirs are torn exports
      for (st <- f.listStatus(new Path(shardsVDir(root, v)))
           if now - st.getModificationTime >= graceMs)
        f.delete(st.getPath, true)
      return
    }
    val live = rs.last
    val liveAged =
      now - f.getFileStatus(shardOk(root, v, live)).getModificationTime >= graceMs
    for (st <- f.listStatus(new Path(shardsVDir(root, v))))
      st.getPath.getName match {
        case RevOkName(ks) if ks.toLong < live && liveAged =>
          f.delete(st.getPath, false)
        case RevDirName(ks) =>
          val k = ks.toLong
          if (k < live && liveAged) f.delete(st.getPath, true)
          else if (k > live && now - st.getModificationTime >= graceMs)
            f.delete(st.getPath, true)
        case n if n.startsWith(".tmp-") &&
          now - st.getModificationTime >= graceMs =>
          f.delete(st.getPath, false)
        case _ => ()
      }
  }

  /** Within a sealed version: delete superseded data revisions once the
    * LIVE revision's publish marker has aged past the grace (every
    * older revision was superseded at or before that moment), and
    * torn-redact debris (data dirs that never published, tmp markers)
    * by their own mtime. The live revision is never touched. */
  private def sweepRevisions(f: FileSystem, root: String, v: Long,
                             graceMs: Long, now: Long,
                             refs0: => Set[(Long, Long, Long)]): Unit = {
    val rs = revisions(f, root, v)
    if (rs.isEmpty) return
    val live = rs.last
    val liveAged =
      now - f.getFileStatus(revOk(root, v, live)).getModificationTime >= graceMs
    // pass 1 — scaffolding: superseded revisions' markers and manifests
    // go first (their references stop pinning), torn manifests (never
    // published) and tmp debris by their own mtime; the LIVE revision's
    // marker and manifest are never touched
    var manifestsDeleted = false
    for (st <- f.listStatus(new Path(snapDir(root, v))))
      st.getPath.getName match {
        case RevOkName(ks) =>
          if (ks.toLong < live && liveAged) f.delete(st.getPath, false)
        case ManifestName(ks) =>
          val k = ks.toLong
          if ((k < live && liveAged) ||
            (k > live && now - st.getModificationTime >= graceMs)) {
            f.delete(st.getPath, false)
            manifestsDeleted = true
          }
        case n if n.startsWith(".tmp-") &&
          now - st.getModificationTime >= graceMs =>
          f.delete(st.getPath, false)
        case _ => ()
      }
    // pass 2 — physical data, REFERENCE-AWARE: a superseded revision's
    // batch dir survives while any manifest still on disk references it
    // (an incremental seal's unchanged-batch pointers, another version's
    // redact-surviving copies); everything unreferenced goes once the
    // supersession has aged. Torn revision dirs (k > live, never
    // published) were never referenceable — wholesale by own mtime.
    // The caller's one-census-per-gc snapshot serves unless pass 1
    // just deleted a manifest (its refs must stop pinning THIS pass —
    // a superseded revision's self-references would keep its own data
    // alive forever otherwise).
    val refs = if (manifestsDeleted) allManifestRefs(f, root) else refs0
    for (st <- f.listStatus(new Path(snapDir(root, v))))
      st.getPath.getName match {
        case RevDirName(ks) =>
          val k = ks.toLong
          if (k < live && liveAged)
            sweepRevisionDirUnreferenced(f, root, v, k, refs)
          else if (k > live && now - st.getModificationTime >= graceMs)
            f.delete(st.getPath, true) // torn redact that never published
        case n if st.isFile && !n.endsWith(".ok") &&
          !n.endsWith(".manifest") && !n.startsWith(".tmp-") && liveAged =>
          // pre-revision-layout root data files, superseded by the
          // legacy-upgrade redact that published `live` (only
          // reachable with a published revision above them)
          f.delete(st.getPath, false)
        case _ => ()
      }
  }

  // ------------------------------------------------------ shard exports

  private def shardsVDir(root: String, v: Long) = s"$root/shards/v=$v"
  private def shardRevDir(root: String, v: Long, k: Long) =
    s"$root/shards/v=$v/r=$k"
  private def shardOk(root: String, v: Long, k: Long) =
    new Path(shardsVDir(root, v), s"r=$k.ok")

  private def shardRevisions(f: FileSystem, root: String, v: Long): Seq[Long] =
    Versioned.numbered(f, new Path(shardsVDir(root, v)), RevOkName).map(_._1)

  /** Row count across a directory's parquet files (recursing into
    * partition subdirs) from the FOOTERS alone — metadata-only, one
    * footer read per file, never a row-group scan: the count a publish
    * marker records must not cost a second pass over sealed data that
    * can be 10⁹ rows. */
  private def footerRowsDeep(f: FileSystem, dir: Path,
                             conf: org.apache.hadoop.conf.Configuration): Long =
    f.listStatus(dir).map { st =>
      if (st.isDirectory) footerRowsDeep(f, st.getPath, conf)
      else if (st.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      } else 0L
    }.sum

  /** EXPORT sealed version `v`'s kept documents as training shards —
    * the call that closes the loop from curation to a consumable
    * training set: token-balanced shard assignment + chunked
    * context-window packing ([[ShardExport.pack]]) written under
    * `shards/v=N/r=K` partitioned by `shard`, where K is the DATA
    * revision the export was derived from — the marker rename commits
    * it, and [[openShards]] refuses an export whose K is no longer the
    * live data revision (a takedown redacted the version after the
    * export; re-run this call — [[reexportStaleShards]] does it for
    * every stale version at once, reading the params back from the
    * markers). Sealed and immutable like the snapshot itself: later
    * steps/forgets never touch it except through the redact → stale →
    * re-export cycle, and gc sweeps superseded export revisions under
    * the same grace as data revisions.
    *
    * `docs` must cover every kept sealed doc's text (the manifest is
    * reproducibility-bearing; a silent partial export would be a lie —
    * refuse loudly, the restore/reembed convention). */
  def exportShards(spark: SparkSession, root: String, v: Long,
                   docs: DataFrame,
                   ctx: Int = ShardExport.DefaultCtx,
                   chunk: Int = ShardExport.DefaultChunk,
                   shards: Int = ShardExport.DefaultShards,
                   groups: Int = ShardExport.DefaultGroups): Unit =
    Lease.withLease(spark, root, "snapshot-shards") {
      val f = fsOf(spark, new Path(root))
      require(f.exists(sealFile(root, v)),
        s"snapshot v=$v at $root is not sealed")
      val k = liveRevision(f, root, v)
      val kept = openLiveData(spark, f, root, v)
        .filter(col("keep"))
        .select(col("doc_id"), col("split"), col("fp"))
      val keptDocs = kept.join(
        docs.select(col("doc_id"), col("lang"), col("text")),
        Seq("doc_id"), "left")
      val missing = keptDocs.filter(col("text").isNull)
        .select(col("doc_id"))
      require(missing.isEmpty,
        s"docs do not cover every kept document of snapshot v=$v — a " +
          s"partial shard export would silently drop training data; " +
          s"missing e.g. ${missing.limit(5).collect().mkString(", ")}")
      val out = shardRevDir(root, v, k)
      ShardExport.pack(keptDocs, ctx, chunk, shards, groups)
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      val n = footerRowsDeep(f, new Path(out),
        spark.sparkContext.hadoopConfiguration)
      Versioned.publishMarker(f, shardOk(root, v, k), Seq("rows" -> n,
        "ctx" -> ctx.toLong, "chunk" -> chunk.toLong, "shards" -> shards.toLong,
        "groups" -> groups.toLong, "exported" -> System.currentTimeMillis()))
    }

  /** Read sealed version `v`'s shard manifest. Refuses when no export
    * exists, or when the newest export predates a takedown redaction
    * (its data revision is no longer the live one) — serving chunks of
    * forgotten documents to a trainer is exactly what the staleness
    * fence is for. */
  def openShards(spark: SparkSession, root: String, v: Long): DataFrame = {
    val f = fsOf(spark, new Path(root))
    require(f.exists(sealFile(root, v)),
      s"snapshot v=$v at $root is not sealed")
    val revs = shardRevisions(f, root, v)
    require(revs.nonEmpty, s"snapshot v=$v at $root has no shard export")
    val live = liveRevision(f, root, v)
    if (revs.last != live)
      throw new IllegalStateException(
        s"shard export of snapshot v=$v at $root is STALE (exported " +
          s"from data revision r=${revs.last}, live is r=$live — a " +
          s"takedown redacted the version since): re-export before " +
          s"serving it to a trainer")
    DriverParquet.read(spark).load(shardRevDir(root, v, live))
  }

  /** True iff `v` has a shard export whose source data revision is
    * still the live one. */
  def shardsFresh(spark: SparkSession, root: String, v: Long): Boolean = {
    val f = fsOf(spark, new Path(root))
    val revs = shardRevisions(f, root, v)
    revs.nonEmpty && revs.last == liveRevision(f, root, v)
  }

  /** Per-(lang, shard) packing health of sealed `v`'s shard export —
    * document/chunk/token counts, bin count, and the bin-fill share
    * (`n_tokens / (n_bins · ctx)`, the padding-waste complement): the
    * readout an owner checks before mounting an export (a skewed
    * token column means the serpentine deal's sub-groups are too
    * coarse; a low fill share means the context window is burning
    * padding). Manifest-only aggregation — no text, no decision scan —
    * behind [[openShards]]' staleness fence; `ctx` comes back from the
    * export's own marker. */
  def shardReport(spark: SparkSession, root: String, v: Long): DataFrame = {
    val f = fsOf(spark, new Path(root))
    val m = openShards(spark, root, v)
    val k = shardRevisions(f, root, v).last
    val ctx = Versioned.readEntries(f, shardOk(root, v, k)).get("ctx")
      .fold(ShardExport.DefaultCtx)(_.toInt)
    m.groupBy(col("lang"), col("shard").cast(IntegerType).as("shard"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("n_tokens"),
        (max(col("bin")) + 1L).as("n_bins"))
      .withColumn("fill_share",
        col("n_tokens").cast(DoubleType) /
          (col("n_bins") * ctx).cast(DoubleType))
      .orderBy(col("lang"), col("shard"))
  }

  /** Per-split composition of sealed `v`'s KEPT set — the dataset card
    * cut alongside a training run: document and dedup-component counts,
    * total content length (off the sealed per-doc `len`, no text scan),
    * and each split's share of the sealed bytes. A pure read of the
    * sealed store: the card stays printable months later, after the
    * live decision table has moved on. */
  def card(spark: SparkSession, root: String, v: Long): DataFrame = {
    val agg = open(spark, root, v).filter(col("keep"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"),
        sum(col("len")).as("total_len"))
    val tot = agg.agg(sum(col("total_len")).as("len_tot"))
    agg.crossJoin(broadcast(tot))
      .withColumn("len_share",
        col("total_len").cast(DoubleType) / col("len_tot").cast(DoubleType))
      .drop("len_tot")
      .orderBy(col("split"))
  }

  /** Re-export every sealed version whose shard export went stale
    * (a [[redact]] published a newer data revision) — the takedown
    * cascade's second half for exported versions, reading each
    * export's own params back from its marker so the re-export is the
    * same packing over the surviving docs. */
  def reexportStaleShards(spark: SparkSession, root: String,
                          docs: DataFrame): Unit = {
    val f = fsOf(spark, new Path(root))
    for (v <- versions(spark, root)) {
      val revs = shardRevisions(f, root, v)
      if (revs.nonEmpty && revs.last != liveRevision(f, root, v)) {
        val params = Versioned.readEntries(f, shardOk(root, v, revs.last))
        def p(key: String, dflt: Int): Int = params.get(key).fold(dflt)(_.toInt)
        // `docs` here is forget's (doc_id, text) contract — the lang
        // each surviving doc was packed under comes back from the STALE
        // manifest itself (text is immutable under a seal, so a doc
        // absent from it carried no trainable chunks and its lang is
        // irrelevant: pack drops zero-token docs before the deal)
        val langMap = DriverParquet.read(spark).load(shardRevDir(root, v, revs.last))
          .select(col("doc_id"), col("lang")).distinct()
        val docsWithLang = docs.select(col("doc_id"), col("text"))
          .join(langMap, Seq("doc_id"), "left")
          .withColumn("lang", coalesce(col("lang"), lit("")))
        exportShards(spark, root, v, docsWithLang,
          ctx = p("ctx", ShardExport.DefaultCtx),
          chunk = p("chunk", ShardExport.DefaultChunk),
          shards = p("shards", ShardExport.DefaultShards),
          groups = p("groups", ShardExport.DefaultGroups))
      }
    }
  }

  /** Takedown cascade through sealed history: rewrite every sealed
    * version that contains a victim id WITHOUT it — version numbers,
    * seal markers, and every untouched version survive, so existing
    * "run T ← snapshot N" records stay valid (minus exactly the
    * forgotten rows). Each rewrite publishes a FRESH data revision
    * (`r=K+1`, marker rename as the commit) and leaves the superseded
    * one for gc's graced sweep — a concurrent reader pinned on the old
    * revision is never yanked mid-scan. Absent ids are a probe-cost
    * no-op, so the call is replay-idempotent; a crash after the data
    * write but before the marker leaves invisible debris the replay
    * overwrites. */
  def redact(spark: SparkSession, root: String, victims: DataFrame,
             idCol: String = "doc_id"): Unit =
    Lease.withLease(spark, root, "snapshot-redact") {
      val f = fsOf(spark, new Path(root))
      val vIds = victims.select(col(idCol)).distinct().localCheckpoint(true)
      for (v <- versions(spark, root)) {
        legacySwapRepair(spark, f, root, v)
        val liveK = revisions(f, root, v).lastOption
        val manifested =
          liveK.exists(k => f.exists(manifestPath(root, v, k)))
        if (manifested) {
          // MANIFEST version: rewrite only victim-bearing batches — the
          // new revision owns fresh survivor copies of exactly those,
          // keeps referencing everything else where it lives, and a
          // batch emptied of all rows simply leaves the manifest. Other
          // versions sharing a victim-bearing copy contain the same
          // victims, so this loop rewrites their manifests too — after
          // the pass no live manifest references a victim-bearing dir.
          val k = liveK.get
          val cur = openLiveData(spark, f, root, v)
          val hit = cur.join(vIds, Seq(idCol), "left_semi")
            .select(col("batch")).distinct().collect()
            .map(_.getLong(0)).toSet
          if (hit.nonEmpty) {
            val next = k + 1L
            f.delete(new Path(revDir(root, v, next)), true) // torn debris
            val survivors = cur.filter(col("batch").isin(hit.toSeq: _*))
              .join(vIds, Seq(idCol), "left_anti")
              .localCheckpoint() // read thrice: probe + write + checksums
            val refs = readManifestRefs(f, root, v, k)
            val anySurvivor = !survivors.isEmpty
            if (anySurvivor)
              survivors.withColumn("batch", col("batch").cast(LongType))
                .write.partitionBy("batch").parquet(revDir(root, v, next))
            val sums =
              if (anySurvivor) batchSums(survivors, "batch")
              else Map.empty[Long, (Long, Long)]
            val newRefs = refs.flatMap { r =>
              if (!hit(r.batch)) Some(r)
              else sums.get(r.batch).map { case (n, x) =>
                BatchRef(r.batch, v, next, n, x)
              } // None: the batch held only victims — drop the ref
            }
            if (newRefs.isEmpty) {
              // every batch everywhere emptied: an all-victims version —
              // the plain physical shape keeps the schema readable at
              // zero rows (a manifest may not be empty)
              survivors.write.mode("overwrite")
                .parquet(revDir(root, v, next))
              publishRevision(spark, root, v, next, "redacted")
            } else {
              writeManifest(f, root, v, next, newRefs)
              publishRevisionCounted(spark, root, v, next, "redacted",
                newRefs.map(_.rows).sum)
            }
          }
        } else {
          // PHYSICAL or LEGACY (pre-revision layout) version: the
          // whole-table anti-join rewrite; a legacy version publishes
          // r=1 — the in-place upgrade; gc sweeps the superseded root
          // files under the grace afterwards
          val next = liveK.map(_ + 1L).getOrElse(1L)
          val sealedRows = DriverParquet.read(spark).load(liveDataDir(f, root, v))
          if (!sealedRows.join(vIds, Seq(idCol), "left_semi").isEmpty) {
            sealedRows.join(vIds, Seq(idCol), "left_anti")
              .write.mode("overwrite").parquet(revDir(root, v, next))
            publishRevision(spark, root, v, next, "redacted")
          }
        }
      }
    }
}
