package graft.operators

import graft.sources.DriverParquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent inverted index: the storage half of lexical retrieval —
  * [[VecIndex]]'s counterpart for BM25.
  *
  * q111/q113 demonstrate the SEARCH plan with the tf relation built
  * inline; at fleet scale retrieval does not re-shuffle a 100 TB corpus
  * per query batch — the postings live in storage, partitioned by a
  * term bucket, and every search reads only its query terms' buckets
  * (the VecIndex rule).
  *
  * Layout — versioned bucket directories published by an immutable
  * manifest, so every mutation is crash-atomic:
  * {{{
  *   path/buckets/v=V/tb=B/part-*.parquet // bucket B as (re)written by version V
  *   path/stats/v=V/part-*.parquet        // 1 row (n_docs, t_total, avgdl_s)
  *   path/docmap/v=V/tb=B/part-*.parquet  // (doc_id, tb) sidecar — delete's probe
  *   path/manifest/v=V.txt                // lines "B:V_B" — bucket → its live version
  * }}}
  * The manifest is [[Versioned]]'s: that object owns the commit-marker
  * protocol — how `v=V.txt` is named, listed, written, committed, parsed
  * and aged — and this store only supplies its `B:V_B` entries and its
  * per-bucket gc sweep. The CURRENT index is defined by the
  * highest-numbered manifest file, nothing else. A mutation
  * ([[merge]]/[[delete]]/[[compact]]) writes its new bucket data and
  * stats under the NEXT version — fresh paths the live index never
  * references — and then publishes ONE new manifest file via a
  * same-directory rename, the single atomic step.
  * A crash anywhere before that rename leaves the old manifest as the
  * maximum, so readers still see the old index fully consistent
  * (buckets, df, stats all from one version set), and the interrupted
  * mutation can simply be replayed: its orphan `v=N+1` data is
  * overwritten, and no bucket it half-wrote was ever reachable.
  * After the rename the mutation is COMPLETE — replaying a *published*
  * merge would double-count its delta (the disjoint-ids contract), so
  * "did my merge land?" is answered by [[currentVersion]] or the
  * [[containsAny]] probe, not by retrying blindly. Superseded version
  * directories are garbage, not corruption; [[compact]] collects them.
  * Mutations are single-writer: each runs under the [[Lease]] for
  * `path`, so a second concurrent merge/delete/compact fails fast
  * instead of racing the same `v=N+1` paths.
  *
  * Document length and document frequency are DENORMALIZED into the
  * posting rows — df is constant per term and dl per document, so
  * search needs no doc-length join and no df dimension: one
  * bucket-pruned scan, one broadcast probe join, one per-query top-k
  * window. The denormalization is the classic posting-list trade: ~2
  * extra longs per posting buys a search plan whose only corpus-sized
  * input is the pruned posting scan itself. Because a term's bucket is
  * deterministic, every posting whose df a mutation changes lives in a
  * touched bucket — which is what makes bucket-grain rewrites exact.
  */
object LexIndex {

  /** Term-bucket count. Search cost per query term ≈ 1/Buckets of the
    * postings; more buckets prune harder but make more, smaller
    * partition directories. */
  val Buckets = 64L

  private def bucketsDir(path: String) = s"$path/buckets"
  private def statsDir(path: String) = s"$path/stats"
  private def docmapDir(path: String) = s"$path/docmap"

  private def tb(term: Column): Column =
    pmod(graft.functions.TextFunctions.strHash(term), lit(Buckets))

  /** The published version the index currently reads at (0 = no
    * successful build yet); the one-line readout VecIndex and PqIndex
    * carry too. */
  def currentVersion(spark: SparkSession, path: String): Long =
    Versioned.currentVersion(spark, path)

  /** bucket id → the version whose directory holds that bucket's live
    * rows: manifest `v`'s `B:V_B` entries. Empty map = empty index (a
    * build over zero documents). */
  private def bucketsAt(spark: SparkSession, path: String, v: Long): Map[Long, Long] =
    Versioned.entriesAt(spark, path, v).map { case (b, bv) => b.toLong -> bv.toLong }

  private def publishBuckets(spark: SparkSession, path: String, v: Long,
                             man: Map[Long, Long]): Unit =
    Versioned.publishEntries(spark, path, v,
      man.toSeq.sorted.map { case (b, bv) => b.toString -> bv })

  private def bucketPath(path: String, b: Long, v: Long): String =
    s"${bucketsDir(path)}/v=$v/tb=$b"

  /** Read the given buckets at their manifest versions. `basePath`
    * keeps v/tb as partition columns; the path list itself is the
    * pruning — only the named bucket directories are ever listed. */
  private def readBuckets(spark: SparkSession, path: String,
                          manifest: Map[Long, Long], buckets: Seq[Long]): DataFrame = {
    val live = buckets.filter(manifest.contains).sorted
    require(live.nonEmpty, s"no live buckets to read under $path")
    // The path list is the real pruning (unlisted buckets don't exist to
    // the scan); the isin on the raw partition column keeps an explicit
    // PartitionFilters entry in the plan (asserted by LexIndexSpec).
    // Partition-column type inference reads tb back as int — filter
    // first (predicates over partition attrs prune regardless of the
    // literal widening), then pin long to match the written schema.
    DriverParquet.read(spark).option("basePath", bucketsDir(path))
      .load(live.map(b => bucketPath(path, b, manifest(b))): _*)
      .filter(col("tb").isin(live: _*))
      .drop("v")
      .withColumn("tb", col("tb").cast("long"))
  }

  /** Every live posting row (term, doc_id, tf, dl, df, tb) at the
    * current manifest — the full-index accessor the equivalence specs
    * compare with. Empty index → empty frame with the posting schema. */
  def openPostings(spark: SparkSession, path: String): DataFrame = {
    val man = bucketsAt(spark, path, currentVersion(spark, path))
    if (man.isEmpty) emptyPostings(spark)
    else readBuckets(spark, path, man, man.keys.toSeq)
  }

  private def emptyPostings(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("term", StringType), StructField("doc_id", LongType),
        StructField("tf", LongType), StructField("dl", LongType),
        StructField("df", LongType), StructField("tb", LongType))))
  }

  /** Write posting rows (already carrying term/doc_id/tf/dl/df) into
    * version `v`'s directory, partitioned by term bucket; returns the
    * bucket ids written. The write is to fresh paths — the live index
    * is untouched until the caller publishes the manifest. */
  private def writeVersion(spark: SparkSession, path: String, v: Long,
                           rows: DataFrame, st: DataFrame): Array[Long] = {
    val dst = s"${bucketsDir(path)}/v=$v"
    // Cluster on tb before the partitioned write: an unclustered
    // partitionBy emits one file per (task × bucket) — up to
    // shufflePartitions small files per bucket directory, paid on every
    // later search of that bucket. REBALANCE(tb), not
    // repartitionByRange (round 13, guide §2.1/§6.2): range
    // partitioning runs a SAMPLING job that re-executes the whole
    // `rows` lineage (the tf⋈dl⋈df joins, or a merge/delete's bucket
    // read + rewrite) once more before the real shuffle. The hash
    // rebalance is one pass, still lands each bucket in ~one task (AQE
    // splits a bucket bigger than the advisory size into several files
    // and coalesces small ones — the scale-adaptive sizing the range
    // shuffle approximated), and the explicit local sort keeps
    // postings term-clustered within each file for rowgroup pruning.
    rows.withColumn("tb", tb(col("term")))
      .hint("rebalance", col("tb"))
      .sortWithinPartitions(col("tb"), col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("tb").parquet(dst)
    st.write.mode("overwrite").parquet(s"${statsDir(path)}/v=$v")
    // cheap driver-side listing (≤ Buckets dirs): which buckets the
    // write actually produced — a bucket whose rows all vanished in a
    // delete writes nothing and must leave the manifest
    val f = fsOf(spark, new Path(path))
    val written = f.listStatus(new Path(dst)).map(_.getPath.getName)
      .collect { case s if s.startsWith("tb=") => s.stripPrefix("tb=").toLong }
    // doc→bucket SIDECAR for the version's buckets: one (doc_id, tb)
    // row per document per touched bucket — what [[delete]] probes to
    // find victim buckets without scanning postings. Derived by reading
    // BACK the just-written files (a column-pruned scan of the new
    // version only, never of the live index or the mutation's lineage),
    // versioned and published exactly like the buckets themselves.
    if (written.nonEmpty)
      DriverParquet.read(spark).option("basePath", dst).load(dst)
        .select(col("doc_id"), col("tb"))
        // ONE exchange (round 14, guide §2.4): hash-cluster on tb, then
        // dedup in place — HashPartitioning(tb) satisfies the
        // distinct's ClusteredDistribution(doc_id, tb), so the former
        // distinct-then-rebalance pair's second shuffle (and its AQE
        // stage job) is gone. One task per bucket matches the
        // partitioned layout; the docmap is doc-grain per bucket, an
        // order of magnitude under the postings the same bucket hash
        // already spreads.
        .repartition(col("tb"))
        .dropDuplicates("doc_id", "tb")
        .sortWithinPartitions(col("tb"), col("doc_id"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"${docmapDir(path)}/v=$v")
    written
  }

  private def docmapPath(path: String, b: Long, v: Long): String =
    s"${docmapDir(path)}/v=$v/tb=$b"

  /** The live doc→bucket sidecar at `manifest` — (doc_id, tb) pairs for
    * every live bucket — or None when any live bucket predates the
    * sidecar (an index written by an older engine version: [[delete]]
    * then falls back to the postings scan). Driver cost: ≤ Buckets
    * existence probes. */
  private[graft] def openDocmap(spark: SparkSession, path: String,
                                manifest: Map[Long, Long]): Option[DataFrame] = {
    if (manifest.isEmpty) return None
    val f = fsOf(spark, new Path(path))
    val paths = manifest.toSeq.sorted.map { case (b, v) => docmapPath(path, b, v) }
    if (!paths.forall(p => f.exists(new Path(p)))) None
    else Some(DriverParquet.read(spark).option("basePath", docmapDir(path)).load(paths: _*)
      .select(col("doc_id"), col("tb").cast("long").as("tb")))
  }

  /** Build from a (doc_id, term, tf) relation: derive dl/df/stats,
    * denormalize into postings, persist as version 1. Three
    * aggregations over tf (doc-grain, term-grain, 1-row) and one
    * partitioned write — no collect, no corpus-sized driver state. An
    * EMPTY tf builds a valid empty index (zero-filled stats, empty
    * manifest) that later merges grow. */
  def build(tf: DataFrame, path: String): Unit = rebuild(tf, path)

  /** [[build]]'s general form — wholesale REPLACEMENT from an external
    * tf relation ([[VecIndex.rebuild]]'s discipline for the lexical
    * store, the snapshot-restore path's primitive): write a complete
    * fresh version of every bucket + stats + docmap and publish a
    * manifest referencing ONLY the new version in one atomic rename.
    * On a fresh root this IS build (v=1); on a live index the old
    * bucket versions drop out of the manifest atomically (graced [[gc]]
    * collects them later) while pinned readers keep their resolved old
    * manifest. Same stream discipline as every wholesale mutation: no
    * live [[appendStream]] across it (the per-batch docmap fence makes
    * a violation loud). */
  def rebuild(tf: DataFrame, path: String): Unit = {
    val spark = tf.sparkSession
    // fenced like every other mutator: two racing builds would
    // interleave writes under the same v=N paths
    Lease.withLease(spark, path, "lexindex-build") {
      // wholesale replacement supersedes ANY live stream delta (a
      // restore rolls the whole store back; composing an old lineage's
      // rows over the new corpus would be silent corruption) — locked
      // form: this body already holds the store's one lease
      clearStreamDeltaLocked(spark, path)
      val n = currentVersion(spark, path) + 1L
      // dl and df denormalize via WINDOW sums, not aggregate+join
      // (round 13, guide §2.4): each aggregate+join pair paid TWO
      // exchanges of the corpus tf (the agg's partials plus the join's
      // re-key) and a merge-join sort pass; the window pays exactly ONE
      // exchange per grain (doc_id, then term) with the same sort the
      // join needed anyway. Integer sums/counts — bitwise identical
      // postings (LexIndexSpec pins merge/build equivalence; the
      // q111/q121 oracle rows pin the scores downstream).
      val wd = Window.partitionBy(col("doc_id"))
      val wt = Window.partitionBy(col("term"))
      // restore the pre-window-denormalization inner-join semantics
      // (ADVICE r13): a null term/doc_id row would hash to a null
      // bucket (tb=__HIVE_DEFAULT_PARTITION__, which the manifest
      // listing's toLong rejects) and shift the stats' distinct count;
      // the former dl/df joins on Seq("term")/Seq("doc_id") silently
      // dropped such rows
      val tfKeyed = tf.filter(col("term").isNotNull && col("doc_id").isNotNull)
      val rows = tfKeyed
        .withColumn("dl", sum(col("tf")).over(wd))
        .withColumn("df", count(lit(1)).over(wt))
        // pin the historical on-disk field order (the agg+join form put
        // the join keys first) — merge unions old files with new rows
        // by name, but identical layouts keep row-group readers exact
        .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"))
      // the 1-row stats come from ONE direct aggregation of tf
      // (count_distinct doc + total tf — integer-exact equal to the
      // former doc-grain-then-aggregate path, without persisting a
      // doc-grain relation across two consumers)
      val written = writeVersion(spark, path, n, rows, Bm25.statsFromTf(tfKeyed))
      publishBuckets(spark, path, n, written.map(_ -> n).toMap)
    }
  }

  /** The pinned corpus statistics of the current version. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    require(v > 0L, s"no published index under $path")
    DriverParquet.read(spark).load(s"${statsDir(path)}/v=$v")
  }

  /** Incremental maintenance: fold a DELTA tf relation (NEW documents
    * only — ids must be disjoint from the indexed corpus) into the
    * index, rewriting only the delta's term buckets. Exact, not
    * approximate: touched buckets are rebuilt (old rows ∪ delta rows,
    * df recounted over the union), untouched buckets keep their rows
    * AND their df by keeping their old version directories, and the
    * 1-row stats advance by integer monoid sums.
    * `merge(build(A), tf(B)) ≡ build(A ∪ B)` row-for-row (LexIndexSpec),
    * the same exact-incremental discipline as `UnigramLm.merge` and
    * `Curation.curateIncremental`; daily cost ∝ touched buckets + delta,
    * never the full corpus. Publication is the atomic manifest rename —
    * see the object doc for the crash contract. */
  def merge(spark: SparkSession, path: String, deltaTf: DataFrame): Unit =
    Lease.withLease(spark, path, "lexindex-merge") {
      mergeLocked(spark, path, deltaTf)
    }

  /** [[merge]]'s body, for callers already holding the `path` lease
    * ([[appendStream]]'s probe+merge pair must be one critical
    * section). `precomputed` is the streaming fast path: (touched
    * buckets, delta doc count, delta token total) already known from
    * the fence's shape aggregate — skips two delta-sized driver jobs
    * per micro-batch. */
  /** `beforePublish` runs after every new version directory is written
    * but before the atomic manifest rename — the mid-stream fold hooks
    * its marker-write + generation bump here so the composed-read gap
    * (new generation visible, merge not yet published) lasts two
    * metadata operations instead of the whole bucket merge. A no-op
    * for every other caller. */
  private def mergeLocked(spark: SparkSession, path: String,
                          deltaTf0: DataFrame,
                          precomputed: Option[(IndexedSeq[Long], Long, Long)]
                            = None,
                          beforePublish: () => Unit = () => ()): Unit = {
    // same null-key guard as [[rebuild]] (ADVICE r13): the window
    // denormalization must not admit rows the former joins dropped
    val deltaTf = deltaTf0.filter(col("term").isNotNull && col("doc_id").isNotNull)
    val cur = currentVersion(spark, path)
    require(cur > 0L, s"no published index under $path — build first")
    val man = bucketsAt(spark, path, cur)
    val touched = precomputed.map(_._1.toArray).getOrElse(
      deltaTf.select(tb(col("term")).as("tb")).distinct()
        .collect().map(_.getLong(0)))
    if (touched.isEmpty) return
    val oldLive = touched.filter(man.contains)
    val oldPost =
      if (oldLive.isEmpty) emptyPostings(spark).select("term", "doc_id", "tf", "dl")
      else readBuckets(spark, path, man, oldLive.toIndexedSeq)
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    // dl over the delta and df over the union denormalize via WINDOW
    // sums (round 13, guide §2.4 — the rebuild discipline): one
    // exchange per grain instead of each aggregate+join pair's two,
    // and the unioned relation is computed ONCE instead of feeding a
    // df aggregation and the join as two separate executions.
    val unioned = oldPost.unionByName(
      deltaTf
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
        .select(col("term"), col("doc_id"), col("tf"), col("dl")))
    val withDf = unioned
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    val oldSt = {
      val r = stats(spark, path).select(col("n_docs"), col("t_total")).head()
      (r.getLong(0), r.getLong(1))
    }
    val dSt = precomputed.map { case (_, n, t) => (n, t) }.getOrElse {
      val r = deltaTf.agg(count_distinct(col("doc_id")).as("n"),
        coalesce(sum(col("tf")), lit(0L)).as("t")).head()
      (r.getLong(0), r.getLong(1))
    }
    val newN = oldSt._1 + dSt._1
    val newT = oldSt._2 + dSt._2
    val written = writeVersion(spark, path, cur + 1L, withDf,
      statsRow(spark, newN, newT))
    beforePublish()
    publishBuckets(spark, path, cur + 1L,
      man ++ written.map(_ -> (cur + 1L)))
  }

  // ------------------- streaming LSM delta (the composite-ingest side)

  private def deltaDir(path: String) = s"$path/delta"
  private def deltaGenDir(path: String, g: Long) = s"${deltaDir(path)}/g=$g"

  /** The delta side's LINEAGE GENERATION — the lex analog of the vector
    * stores' epoch fence. [[clearStreamDelta]] bumps it; a stream pins
    * it at start and every [[appendStreamDeltaBatch]] re-checks it
    * under the index lease, so a ZOMBIE checkpoint's late micro-batch
    * after a reconcile fails loudly instead of landing rows that the
    * composed search would double-count against the folded bulk.
    *
    * Stored as MAX-NUMBERED MARKER FILES (`_gen-N`, absent = 0) — the
    * manifest's own publish shape: a bump CREATES a higher-numbered
    * file (atomically visible or not), so there is no replace/delete
    * window in which an unleased reader could observe an OLDER
    * generation and resurrect retired delta dirs, and no crash state
    * loses the counter (a torn create leaves the previous max
    * standing). Superseded marker files are swept with the retired
    * dirs in [[gcLocked]]. */
  private val DeltaGenName = "_gen-(\\d+)".r

  /** Digits-only dir-name shapes for the delta layout. Parsed by regex,
    * never by `stripPrefix(...).toLong` in a guard: one stray
    * non-numeric `g=`/`b=` entry (an editor backup, a half-typed
    * manual copy) would otherwise make every subsequent gc sweep or
    * stream start throw NumberFormatException — permanently blocking
    * both. Non-matching names are simply skipped. */
  private val DeltaGenDirName = "g=(\\d+)".r
  private val DeltaBatchDirName = "b=(\\d+)".r

  private[graft] def deltaGen(spark: SparkSession, path: String): Long =
    deltaGenStatus(fsOf(spark, new Path(path)), path).map(_._1).getOrElse(0L)

  /** (generation, marker mtime) of the newest marker — the mtime is the
    * RETIREMENT instant of everything below it, gc's supersession
    * bound. None before any bump. */
  private def deltaGenStatus(f: FileSystem, path: String): Option[(Long, Long)] =
    Versioned.numbered(f, new Path(deltaDir(path)), DeltaGenName).lastOption
      .map { case (g, st) => g -> st.getModificationTime }

  private def bumpDeltaGen(f: FileSystem, path: String, g: Long): Unit = {
    f.mkdirs(new Path(deltaDir(path)))
    require(Lease.tryCreate(f, new Path(deltaDir(path), s"_gen-$g"), s"$g\n"),
      s"delta generation bump to $g under $path lost a create race — " +
        s"bumps run under the store lease, so a contender here means " +
        s"the single-writer invariant broke")
  }

  /** The CURRENT generation's `b=` batch dirs. Retired generations'
    * dirs may still exist on disk (reader grace — see
    * [[clearStreamDelta]]) but are invisible to every read. A
    * pre-generation FLAT layout (`delta/b=` directly, written by an
    * older engine) is refused loudly — silently ignoring it would drop
    * a live un-reconciled day from search and from [[delete]]'s
    * guard. */
  private[graft] def deltaBatchPaths(spark: SparkSession, path: String): Seq[String] = {
    val f = fsOf(spark, new Path(path))
    val root = new Path(deltaDir(path))
    if (f.exists(root))
      require(!f.listStatus(root).exists(_.getPath.getName.startsWith("b=")),
        s"legacy pre-generation delta layout under ${deltaDir(path)} " +
          s"(bare b= dirs) — reconcile the streamed day with the engine " +
          s"version that wrote it, or fold/clear it manually")
    Versioned.numbered(f, new Path(deltaGenDir(path, deltaGen(spark, path))),
      DeltaBatchDirName).map(_._2.getPath.toString).sorted
  }

  /** The live stream lineage(s)' delta rows (term, doc_id, tf, dl) —
    * None when no delta exists. Day-sized: the composite ingest lands
    * one `b=` batch per trigger here instead of paying the
    * whole-bucket merge per micro-batch (which re-reads and rewrites
    * every touched bucket — at any real scale a micro-batch's terms
    * touch ALL buckets, so the old per-trigger cost was the whole
    * postings index, CORPUS-proportional per trigger). [[Pinned]]
    * composes these rows into search/df/stats EXACTLY (spec:
    * delta-composed search ≡ the merged index); the day-end reconcile
    * folds the day through one ordinary [[merge]] from the driver's
    * staging table and [[clearStreamDelta]]s this side.
    *
    * Read-side dedup: a fresh-checkpoint restart with at-least-once
    * re-delivery lands a doc in TWO `b=` partitions (batch keys are
    * offset past anything present, the staging table's convention, so
    * nothing is ever overwritten) — each doc's rows are taken from its
    * LOWEST batch only. Exact, because a re-delivered doc carries the
    * same text (re-crawled content is deduped upstream by the ingest
    * gate), so either copy's rows are identical. */
  private def readDeltaPaths(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    // all dirs share one generation dir — its path is the basePath, so
    // only `b` surfaces as a partition column
    val raw = DriverParquet.read(spark)
      .option("basePath", new Path(dirs.head).getParent.toString)
      .load(dirs: _*)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("b").cast("long").as("b"))
    val first = raw.groupBy(col("doc_id")).agg(min(col("b")).as("b"))
    raw.join(first, Seq("doc_id", "b"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
  }

  private[graft] def openDelta(spark: SparkSession, path: String): Option[DataFrame] = {
    val dirs = deltaBatchPaths(spark, path)
    if (dirs.isEmpty) None else Some(readDeltaPaths(spark, dirs))
  }

  /** The next free delta batch key — the staging table's offset
    * convention: a restarted lineage (fresh checkpoint after a crash)
    * re-numbers from 0, so the composite ingest keys its delta batches
    * PAST anything already present and re-delivery lands as duplicate
    * partitions (converged by [[openDelta]]'s dedup) instead of
    * overwriting an earlier lineage's batch. */
  private[graft] def deltaBatchBase(spark: SparkSession, path: String): Long =
    deltaBatchPaths(spark, path)
      .flatMap(p => new Path(p).getName match {
        case DeltaBatchDirName(b) => Some(b.toLong)
        case _ => None
      })
      .foldLeft(-1L)(math.max) + 1L

  /** Default LSM-debt gate for the stream delta (see
    * [[appendStreamDeltaBatch]]): fold when the delta's bytes pass this
    * share of delta+bulk, or when the `b=` batch-dir count passes
    * [[DefaultMaxDeltaBatches]] (each dir is a listing + a task-split
    * floor per composed read — many tiny triggers add file-count cost
    * long before byte share moves). */
  val DefaultMaxDeltaShare: Double = 0.25
  val DefaultMaxDeltaBatches: Int = 512

  /** Byte floor under which the share gate never fires (and never pays
    * the bulk summary): a small delta is cheap to compose regardless of
    * its share — on a small corpus the share is dominated by per-file
    * parquet overhead and would trip the gate spuriously. */
  val MinFoldBytes: Long = 64L << 20

  /** A lineage that had a mid-stream FOLD (part of its day merged into
    * the bulk) is marked with `_folded-<gen>` for the generation the
    * fold opened: a fresh-checkpoint restart RE-DELIVERING the day
    * would land folded docs on the delta side again and composed
    * searches would double-count them against the bulk — so a new
    * stream start on a fold-marked lineage is refused (reconcile
    * first). The marker goes stale the moment a reconcile bumps past
    * its generation; [[gcLocked]] sweeps stale ones with the retired
    * dirs. */
  private val FoldMarkerName = "_folded-(\\d+)".r

  /** True when the CURRENT delta generation was opened by a mid-stream
    * fold — [[graft.pipelines.DailyDriver.stepStream]]'s start guard. */
  private[graft] def hasLiveFoldMarker(spark: SparkSession, path: String): Boolean = {
    val cur = deltaGen(spark, path)
    Versioned.numbered(fsOf(spark, new Path(path)), new Path(deltaDir(path)),
      FoldMarkerName).exists(_._1 == cur)
  }

  /** Bulk bytes of the CURRENT manifest's referenced bucket dirs —
    * memoized per (path, version, manifest mtime): the debt gate reads
    * this once per trigger, and the referenced set only changes on a
    * publish. The mtime in the key guards the one case version
    * numbering cannot: a same-path store replacement (wipe + rebuild)
    * whose versions restart at the old numbers — its fresh manifest
    * file has a fresh mtime, so the stale byte total can never serve.
    * Bounded: cleared wholesale past 1024 entries (a long-lived driver
    * touching many stores). */
  private val bulkBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  private def bulkBytes(spark: SparkSession, f: FileSystem, path: String,
                        v: Long, man: Map[Long, Long]): Long = {
    if (bulkBytesMemo.size > 1024) bulkBytesMemo.clear()
    val mtime = Versioned.manifestMtime(spark, path, v).getOrElse(-1L)
    bulkBytesMemo.computeIfAbsent((path, v, mtime), { _ =>
      man.map { case (b, bv) =>
        val p = new Path(bucketPath(path, b, bv))
        if (f.exists(p)) f.getContentSummary(p).getLength else 0L
      }.sum
    })
  }

  /** (delta bytes of generation `g`, byte share vs delta+bulk) — the
    * ONE share computation both [[deltaShare]] and the fold gate read,
    * so the readout and the policy can never silently diverge.
    * Metadata only: one content summary over the generation dir plus
    * the memoized bulk sum. */
  private def deltaShareOf(spark: SparkSession, path: String,
                           g: Long): (Long, Double) = {
    val f = fsOf(spark, new Path(path))
    val dp = new Path(deltaGenDir(path, g))
    val delta = if (f.exists(dp)) f.getContentSummary(dp).getLength else 0L
    if (delta == 0L) return (0L, 0.0)
    val cur = currentVersion(spark, path)
    val bulk =
      if (cur <= 0L) 0L
      else bulkBytes(spark, f, path, cur, bucketsAt(spark, path, cur))
    (delta, delta.toDouble / (delta + bulk).toDouble)
  }

  /** Byte share of the live stream delta vs delta+bulk — the
    * [[Versioned.deltaShare]] measurement for the lexical store, the
    * LSM-debt number the mid-stream fold gates on (and the aging run's
    * readout column). 0.0 with no delta; 1.0 on a delta-only
    * (unpublished-bulk) root. */
  def deltaShare(spark: SparkSession, path: String): Double =
    deltaShareOf(spark, path, deltaGen(spark, path))._2

  /** ONE micro-batch landed on the DELTA side — O(batch): tokenize to
    * tf, denormalize dl, one `b=<key>` dynamic-overwrite write (the
    * caller passes `deltaBatchBase + batchId` and the generation it
    * pinned at stream start). A replayed batch (crash before the
    * offset commit) overwrites its own partition with identical
    * content — exactly-once without a presence probe. The GENERATION
    * FENCE runs under the index lease (fence-then-write, the vector
    * stores' discipline): a zombie checkpoint firing after a reconcile
    * retired its lineage fails loudly here, where an unfenced write
    * would land rows the composed search silently double-counts
    * against the folded bulk.
    *
    * DEBT GATE + AUTO-FOLD: before landing, the existing delta's debt
    * is measured ([[deltaShare]] + batch-dir count); past either bound
    * the delta-so-far folds through ONE ordinary [[mergeLocked]] under
    * the SAME lease hold and the batch lands in a fresh generation —
    * so an owner who never calls the day-end reconcile (or streams one
    * lineage across days) keeps composed-search cost bounded instead of
    * re-running an ever-growing lowest-batch dedup per search. Fold
    * order: write the merge's new version dirs, then (the
    * `beforePublish` hook) fold marker + generation bump, then the
    * atomic manifest publish, then land the batch — a concurrent
    * pinned reader's visibility dip spans two metadata ops, not the
    * bucket merge. Only PRIOR batches fold — the in-flight batch lands
    * in the new generation, so a same-checkpoint replay of it
    * converges as a duplicate partition exactly as before. Crash
    * anywhere inside the fold costs at worst a search-visibility dip
    * for the retired-unmerged rows plus a loud reconcile-first refusal
    * of fresh-checkpoint stream starts ([[hasLiveFoldMarker]]); never
    * a double count — the reconcile re-lands from staging through the
    * docmap remainder probe, which skips exactly the folded docs, and
    * RE-DELIVERED docs are closed out at two layers (the fold input's
    * docmap anti-join; the marked lineage's per-append docmap filter).
    *
    * @return the LIVE generation after the call (bumped past `gen`
    *         when a fold ran) — the stream threads it into its next
    *         trigger's fence. */
  private[graft] def appendStreamDeltaBatch(spark: SparkSession, path: String,
                                            batch: DataFrame,
                                            batchKey: Long,
                                            gen: Long,
                                            maxDeltaShare: Double =
                                              DefaultMaxDeltaShare,
                                            maxDeltaBatches: Int =
                                              DefaultMaxDeltaBatches): Long =
    Lease.withLeaseWait(spark, path, "lexindex-delta-append") {
      val cur = deltaGen(spark, path)
      if (cur != gen)
        throw new IllegalStateException(
          s"delta lineage generation $gen under $path was retired (now " +
            s"$cur) — a reconcile folded this stream's day; a late " +
            s"batch landing here would double-count every one of its " +
            s"docs in composed searches. Restart the stream with a " +
            s"fresh checkpoint")
      val dirs = deltaBatchPaths(spark, path)
      // fold only off a PUBLISHED bulk (mergeLocked's precondition; a
      // delta-only root has nothing to fold into) and only when prior
      // batches exist — the in-flight batch never folds itself. Gate
      // order is cheap-first: the dir count is already listed; the
      // share pays one delta content summary, and the bulk summary
      // (memoized per version) only runs past the byte floor.
      val fold = dirs.nonEmpty && currentVersion(spark, path) > 0L &&
        (dirs.size >= maxDeltaBatches || {
          val (db, share) = deltaShareOf(spark, path, gen)
          db > MinFoldBytes && share > maxDeltaShare
        })
      val liveGen =
        if (!fold) gen
        else {
          // RE-DELIVERY SAFETY: after a fresh-checkpoint restart the
          // lineage can carry docs an EARLIER fold already merged into
          // the bulk — handing those to mergeLocked would break its
          // disjoint-ids contract (duplicate postings, inflated df — a
          // corruption no reconcile can undo). Anti-join the fold's
          // rows against the docmap remainder probe (the reconcile's
          // own discipline): one probe per fold, never per trigger.
          // Materialized once — mergeLocked consumes its input ~4
          // times (touched-bucket collect, stats head, two writeVersion
          // subtrees), and each lazy pass would re-read every batch
          // file and re-run the dedup shuffle inside a live trigger.
          val rows = readDeltaPaths(spark, dirs)
            .select(col("term"), col("doc_id"), col("tf"))
          val safe = rows.join(
            presentIds(spark, path, rows.select(col("doc_id")).distinct()),
            Seq("doc_id"), "left_anti")
            .localCheckpoint(true)
          val f = fsOf(spark, new Path(path))
          def markAndBump(): Unit = {
            val mk = new Path(deltaDir(path), s"_folded-${gen + 1L}")
            if (!f.exists(mk)) Lease.tryCreate(f, mk, s"${gen + 1L}\n")
            bumpDeltaGen(f, path, gen + 1L)
          }
          if (safe.isEmpty)
            // pure re-delivery (every doc already in bulk): nothing to
            // merge — retiring the dirs alone loses no rows
            markAndBump()
          else
            // the marker + bump run BETWEEN the version write and the
            // manifest publish: a reader pinning inside that two-
            // metadata-op window sees a brief dip (new empty
            // generation, old bulk) instead of a dip lasting the whole
            // bucket merge; a crash before the publish leaves the
            // folded rows invisible until the reconcile re-lands them
            // from staging (marker live → fresh stream starts refused,
            // same-checkpoint resumes fine)
            mergeLocked(spark, path, safe,
              beforePublish = () => markAndBump())
          gen + 1L
        }
      // ON A FOLD-MARKED LINEAGE every landing batch is docmap-filtered:
      // a re-delivering restart re-sends docs an earlier fold merged,
      // and landing them on the delta side would double-count them in
      // every composed read. Unmarked lineages (the overwhelmingly
      // common case) skip the probe entirely — the O(batch) landing
      // stays probe-free.
      val marked = hasLiveFoldMarker(spark, path)
      val toLand =
        if (!marked) batch
        else batch.join(
          presentIds(spark, path, batch.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_anti")
      val tf = UnigramLm.termFreq(toLand, "doc_id", "text")
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      tf.join(dl, Seq("doc_id"))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .withColumn("b", lit(batchKey))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b")
        .parquet(deltaGenDir(path, liveGen))
      liveGen
    }

  /** RETIRE the delta lineage — the reconcile's fold precursor: the
    * day's texts live in the driver's staging table, so the reconcile
    * retires this side FIRST and then lands the day through one
    * ordinary [[merge]] (retire-then-merge: a crash between the two
    * costs a brief search-visibility dip for the day, never a
    * double-count — the replayed reconcile re-merges from staging).
    * Retirement is PURELY a generation bump — no physical delete here
    * at all: a pinned reader captured the old generation's `b=` paths
    * and must finish against intact files (the store-wide vacuum
    * rule), and a replayed reconcile bumping again must not strip a
    * seconds-old retirement's grace. The physical sweep belongs to
    * [[gc]], which ages retired generations from the newest marker's
    * mtime (the retirement instant — the correct supersession bound,
    * NOT the bucket manifest's). Runs under the index lease —
    * serialized against the per-batch fence checks. */
  private[graft] def clearStreamDelta(spark: SparkSession, path: String): Unit =
    Lease.withLeaseWait(spark, path, "lexindex-delta-clear") {
      clearStreamDeltaLocked(spark, path)
    }

  /** [[clearStreamDelta]]'s body for callers already holding the path
    * lease (one lease file per store — nested acquisition would
    * deadlock; [[rebuild]] retires the delta inside its own lease). */
  private def clearStreamDeltaLocked(spark: SparkSession, path: String): Unit = {
    val f = fsOf(spark, new Path(path))
    val g1 = deltaGen(spark, path) + 1L
    bumpDeltaGen(f, path, g1)
    // a retirement clears every fold marker at or below the new
    // generation: re-delivery AFTER a reconcile is safe (the docmap
    // remainder probe skips landed docs), and a torn fold's orphan
    // marker (created before its bump; merge never published) must not
    // spuriously refuse tomorrow's stream once the generation numbering
    // catches up to it. Markers are advisory metadata, not pinned data —
    // no grace needed.
    val dir = new Path(deltaDir(path))
    if (f.exists(dir)) f.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case FoldMarkerName(m) if m.toLong <= g1 =>
          f.delete(st.getPath, false); ()
        case _ => ()
      }
    }
  }

  private def requireNoDelta(spark: SparkSession, path: String, op: String): Unit =
    require(deltaBatchPaths(spark, path).isEmpty,
      s"$op under $path with a live stream delta — its rows would " +
        s"survive/resurrect outside the manifest protocol; reconcile " +
        s"the streamed day first")

  /** Streaming incremental ingest — `VecIndex.appendStream`'s lexical
    * sibling, completing stream parity across the three index families:
    * each arriving micro-batch of documents is tokenized to a delta tf
    * relation ([[UnigramLm.termFreq]], the build path's tokenizer) and
    * folded in with [[merge]]'s exact-incremental discipline — only the
    * batch's term buckets rebuild, one atomic manifest publish per
    * batch, so stream-ingested ≡ batch-built row-for-row AND
    * stats-for-stats (LexIndexSpec).
    *
    * Exactly-once WITHOUT a sink log: bucket rebuilds are not
    * replay-overwritable like the vector deltas' `b=` layout (a
    * re-merge would double-count postings), so a replayed micro-batch —
    * a restart between the manifest publish and the offset commit — is
    * fenced by a docmap PRESENCE COUNT over the batch's TF-DERIVED ids
    * (docs that would actually land postings — a zero-term doc writes
    * nothing and must not count), probing only the batch's own term
    * buckets (a landed doc has rows in every bucket its terms hash to,
    * so the probe stays delta-bounded as the corpus grows): under the
    * stream-wide contract that arriving doc ids are DISJOINT from the
    * indexed corpus (the daily driver's contract for every append),
    * ALL ids present means
    * the batch landed whole (the publish is atomic) and the replay is a
    * no-op; NONE present means it never landed and merges; a MIXED
    * batch can only mean the id contract broke or the batch boundaries
    * were re-formed (a fresh checkpoint after a crash — the trap
    * `VecIndex.appendStream` refuses at start), and skipping it would
    * silently drop the unlanded documents, so it fails loudly instead.
    * The probe and the merge run under ONE lease acquire — no
    * concurrent mutator can publish between them — taken with bounded
    * patience (`Lease.withLeaseWait`) so a batch firing during a
    * minutes-long compact waits it out instead of dying.
    *
    * The fence keys on id PRESENCE, so a retraction ([[delete]]) over
    * ids of a batch that may still replay would let the replay
    * resurrect them — the same interim-delete caveat as the vector
    * stores' replay overwrite: quiesce the stream (stop + drain) before
    * taking down ids it may have in flight.
    *
    * SCOPE of the fence, stated honestly: the probe reads only the
    * batch's own term buckets, which is what keeps the per-batch cost
    * delta-bounded as the corpus grows (a full-sidecar scan per
    * micro-batch would dominate ingest at fleet scale). Any REPLAY is
    * caught — a landed doc's rows live in exactly its text's buckets,
    * and a replay carries the same text. What delta cost cannot catch
    * is a CONTRACT VIOLATION where an already-indexed id re-arrives
    * with entirely different text (disjoint buckets): it is
    * indistinguishable from a new document and would double-count. The
    * disjoint-arrival-ids contract is load-bearing — police re-crawls
    * upstream (`StreamOps.streamingCurate` dedups them), where the
    * arrival stream's own state makes the check O(delta).
    *
    * The index must already exist ([[build]] day 0 first — [[merge]]'s
    * own contract, re-checked per batch). */
  def appendStream(docs: DataFrame, idCol: String, textCol: String,
                   path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    require(currentVersion(spark, path) > 0L,
      s"no published index under $path — build first, then stream")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendStreamBatch(spark, path, batch)
        ()
      }
      .start()
  }

  /** ONE micro-batch of [[appendStream]] — the probe-fenced merge,
    * callable from a composite ingest pipeline's foreachBatch. `batch`
    * carries (doc_id, text). */
  private[graft] def appendStreamBatch(spark: SparkSession, path: String,
                                       batch: DataFrame): Unit = {
    // micro-batch-sized; persist-with-lineage, not localCheckpoint:
    // the replay probe and the tokenize+merge each scan it, but a
    // per-batch localCheckpoint leaks non-replicated executor
    // blocks across a long-running stream (nothing unpersists
    // them) and cannot recompute after an executor loss
    val b = batch.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try if (!b.isEmpty) {
      val tf = UnigramLm.termFreq(b, "doc_id", "text")
      // the fence keys on the ids the merge would actually LAND —
      // tf-derived, not the raw batch's: a doc whose text tokenizes
      // to zero terms writes no postings, no docmap row, and no
      // stats delta, so counting it would misread every replay of
      // its batch as MIXED (present < nIds forever — a wedged
      // stream that no restart can clear)
      val ids = tf.select(col("doc_id")).distinct()
      // the probe only ever needs the batch's own term buckets: a
      // landed doc has docmap/posting rows in EVERY bucket its
      // terms hash to, so one of them answers presence — delta-
      // bounded, where the full sidecar scan would grow with the
      // corpus and dominate each micro-batch. One aggregate job
      // yields both probe inputs (id count + touched buckets) — a
      // long-running stream pays this per trigger, so every saved
      // driver action is a slice off the micro-batch constant.
      // ... and the merge's own driver inputs ride the SAME aggregate:
      // the touched-bucket set (mergeLocked would otherwise re-collect
      // it) and the stats delta (n docs = the fence's id count; t =
      // sum(tf), since t_total is the sum of per-doc dl = per-doc
      // sum(tf)) — two fewer jobs per trigger on a path a continuous
      // stream pays forever.
      val shape = tf.agg(count_distinct(col("doc_id")).as("n"),
          collect_set(tb(col("term"))).as("tbs"),
          coalesce(sum(col("tf")), lit(0L)).as("t")).collect().head
      val nIds = shape.getLong(0)
      val touched = shape.getSeq[Long](1).toIndexedSeq
      val tTotal = shape.getLong(2)
      Lease.withLeaseWait(spark, path, "lexindex-append") {
        val present = presentIdCount(spark, path, ids, touched)
        if (present == 0L)
          mergeLocked(spark, path, tf, Some((touched, nIds, tTotal)))
        else if (present != nIds)
          throw new IllegalStateException(
            s"micro-batch mixes $present already-indexed ids with " +
              s"${nIds - present} new ones under $path — a replay " +
              s"lands whole or not at all, so either the " +
              s"disjoint-arrival-ids contract broke or the batch " +
              s"boundaries were re-formed (fresh checkpoint after a " +
              s"crash); skipping would silently drop the new " +
              s"documents — resume the original checkpoint, or " +
              s"ingest the unlanded documents via a batch merge")
        // present == nIds: the batch landed whole — replay no-op
      }
    } finally b.unpersist()
  }

  /** How many of `ids` already have postings, probing ONLY the given
    * term buckets — the [[appendStream]] fence's whole/none/mixed
    * discriminator. `touched` must cover every bucket the ids' terms
    * hash to (the batch's own tf derives both), which makes the probe
    * delta-bounded: sidecar partitions for the touched buckets when
    * every one has a sidecar, their posting directories otherwise
    * (pre-sidecar indexes); 0 on an unbuilt index. */
  private def presentIdCount(spark: SparkSession, path: String,
                             ids: DataFrame, touched: Seq[Long]): Long = {
    val cur = currentVersion(spark, path)
    if (cur == 0L) return 0L
    val man = bucketsAt(spark, path, cur)
    val live = touched.filter(man.contains).sorted
    if (live.isEmpty) return 0L
    val f = fsOf(spark, new Path(path))
    val dmPaths = live.map(b => docmapPath(path, b, man(b)))
    val pairs =
      if (dmPaths.forall(p => f.exists(new Path(p))))
        DriverParquet.read(spark).option("basePath", docmapDir(path)).load(dmPaths: _*)
          .select(col("doc_id"))
      else readBuckets(spark, path, man, live).select(col("doc_id"))
    pairs.join(broadcast(ids.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct().count()
  }

  /** Remove documents from the index — the retraction path a
    * decontamination or takedown pipeline needs. Rewrites ONLY the
    * buckets holding the victims' postings: remaining rows keep their
    * dl, df is recounted over the survivors (exact — a term's rows all
    * share its bucket), terms whose every document vanishes disappear,
    * and a bucket left empty leaves the manifest. Stats shrink by the
    * victims' document count and summed length, with `avgdl_s`
    * recomputed by the same integer division as a fresh build — so
    * `delete(build(A ∪ B), ids(B)) ≡ build(A)` row-for-row AND
    * stats-for-stats (LexIndexSpec). Finding the victims' buckets
    * probes the doc→bucket SIDECAR every write maintains — one row per
    * (document, bucket) instead of one per posting, so the probe reads
    * ~terms-per-doc× fewer bytes than a postings scan and the whole
    * retraction touches only sidecar + victim buckets (plan-asserted by
    * LexIndexSpec). Indexes written before the sidecar existed fall
    * back to the postings scan. Ids absent from the index are no-ops.
    * Same atomic manifest publication as [[merge]]. The victim side is
    * COUNT-GATED ([[Versioned.gatedIds]]): doc-grain takedowns
    * broadcast; past `maxBroadcastIds` distinct ids (a source-scale
    * retraction) the probe and both rewrite joins run as shuffle
    * semi/anti joins instead — result-identical, driver-safe. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             maxBroadcastIds: Long = Versioned.DefaultMaxBroadcastIds): Unit =
   Lease.withLease(spark, path, "lexindex-delete") {
    requireNoDelta(spark, path, "delete")
    val cur = currentVersion(spark, path)
    require(cur > 0L, s"no published index under $path — build first")
    val man = bucketsAt(spark, path, cur)
    if (man.isEmpty) return
    val victims = Versioned.gatedIds(
      ids.select(col("doc_id")).distinct(), maxBroadcastIds)
    val touched = victimBuckets(spark, path, man, victims)
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val touchedRows = readBuckets(spark, path, man, touched.toIndexedSeq)
    // one row per victim doc: its denormalized dl (constant across the
    // doc's postings — min is just the deterministic pick)
    val gone = touchedRows.join(victims, Seq("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head()
    val remaining = touchedRows
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfreq = remaining.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val oldSt = stats(spark, path).select(col("n_docs"), col("t_total")).head()
    val written = writeVersion(spark, path, cur + 1L,
      remaining.join(dfreq, Seq("term")),
      statsRow(spark, oldSt.getLong(0) - gone.getLong(0),
        oldSt.getLong(1) - gone.getLong(1)))
    publishBuckets(spark, path, cur + 1L,
      (man -- touched.filterNot(written.contains)) ++ written.map(_ -> (cur + 1L)))
  }

  /** Spec accessors: the live sidecar / victim-bucket probe at the
    * current manifest. */
  private[graft] def openDocmap(spark: SparkSession, path: String): Option[DataFrame] =
    openDocmap(spark, path, bucketsAt(spark, path, currentVersion(spark, path)))

  private[graft] def victimBuckets(spark: SparkSession, path: String,
                                   victims: DataFrame): DataFrame =
    victimBuckets(spark, path,
      bucketsAt(spark, path, currentVersion(spark, path)),
      broadcast(victims))

  /** The subset of `ids` that already carries postings — the day-end
    * reconcile's REMAINDER probe: where [[containsAny]] answers
    * all-or-nothing for a whole day, this returns the landed ids so a
    * partially streamed day merges exactly its unlanded tail. One
    * column-pruned docmap scan (postings fallback for pre-sidecar
    * indexes); `ids` is day-bounded, so its side broadcasts. */
  private[graft] def presentIds(spark: SparkSession, path: String,
                                ids: DataFrame): DataFrame = {
    val empty = ids.select(col("doc_id")).limit(0)
    if (currentVersion(spark, path) == 0L) return empty
    val man = bucketsAt(spark, path, currentVersion(spark, path))
    if (man.isEmpty) return empty
    val pairs = openDocmap(spark, path, man).getOrElse(
      readBuckets(spark, path, man, man.keys.toSeq)
        .select(col("tb"), col("doc_id")))
    pairs.select(col("doc_id"))
      .join(broadcast(ids.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .distinct()
  }

  /** Whether ANY of `ids` already has postings in the current index —
    * the landed-or-not probe a RETRIED mutation needs (the daily driver
    * replays a crashed step whose merge may or may not have published;
    * with disjoint daily ids, one present id means it did). Cost = the
    * sidecar probe, or the postings fallback for pre-sidecar indexes. */
  def containsAny(spark: SparkSession, path: String, ids: DataFrame): Boolean = {
    if (currentVersion(spark, path) == 0L) return false
    val man = bucketsAt(spark, path, currentVersion(spark, path))
    if (man.isEmpty) return false
    !victimBuckets(spark, path, man,
      broadcast(ids.select(col("doc_id")).distinct())).isEmpty
  }

  /** The distinct bucket ids holding any victim's postings — sidecar
    * probe when available, postings fallback otherwise. Exposed
    * (package-private) so LexIndexSpec can assert the probe's plan
    * reads ONLY docmap files. */
  private[graft] def victimBuckets(spark: SparkSession, path: String,
                                   manifest: Map[Long, Long],
                                   victims: DataFrame): DataFrame = {
    val pairs = openDocmap(spark, path, manifest).getOrElse(
      readBuckets(spark, path, manifest, manifest.keys.toSeq)
        .select(col("tb"), col("doc_id")))
    // no broadcast hint here: the caller decides (delete passes the
    // count-gated frame; the bounded-id probes pre-wrap in broadcast)
    pairs.join(victims, Seq("doc_id")).select(col("tb")).distinct()
  }

  private def statsRow(spark: SparkSession, nDocs: Long, tTotal: Long): DataFrame =
    spark.range(1).select(lit(nDocs).as("n_docs"), lit(tTotal).as("t_total"),
      lit(if (nDocs > 0L) tTotal * Bm25.Scale / nDocs else 0L).as("avgdl_s"))

  /** Offline compaction: rewrite every live bucket into ONE fresh
    * version and garbage-collect everything older. Two jobs for two
    * kinds of growth: repeated merges/deletes (a) land several small
    * files per rewritten bucket (one per write task) — writeVersion's
    * rebalance on tb clusters each bucket into a contiguous run so a
    * bucket receives at most a couple of right-sized files —
    * and (b) strand superseded `v=W` directories that no manifest
    * references — deleted here, after the new manifest is live, so a
    * crash mid-GC only leaves garbage (re-collected by the next
    * compact), never a dangling reference. Rows, df, dl, and stats are
    * all unchanged: `merge → compact → search` is row-identical to the
    * uncompacted index (LexIndexSpec). `gcGraceMs` is handed to [[gc]]:
    * 0 (the offline default) collects everything superseded at once; a
    * positive grace leaves recently-published versions for in-flight
    * pinned readers (see [[gc]] for the vacuum rule). */
  def compact(spark: SparkSession, path: String, gcGraceMs: Long = 0L): Unit =
   Lease.withLease(spark, path, "lexindex-compact") {
    val cur = currentVersion(spark, path)
    require(cur > 0L, s"no published index under $path — build first")
    val man = bucketsAt(spark, path, cur)
    val next = cur + 1L
    if (man.nonEmpty) {
      // no pre-shuffle here: writeVersion clusters on (tb, term,
      // doc_id) itself — the old repartitionByRange was a second full
      // shuffle of the corpus (plus its sampling pass) per compact
      val rows = readBuckets(spark, path, man, man.keys.toSeq)
        .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"))
      val st = stats(spark, path)
      val written = writeVersion(spark, path, next, rows, st)
      publishBuckets(spark, path, next, written.map(_ -> next).toMap)
    } else publishBuckets(spark, path, next, Map.empty)
    // GC: every version directory and manifest below the one just
    // published is unreferenced now — collect what the grace allows
    gcLocked(spark, path, gcGraceMs)
  }

  /** Collect version directories the live manifest no longer references.
    * With the default `graceMs = 0` everything superseded goes at once —
    * the OFFLINE discipline (no readers in flight). A positive grace is
    * the vacuum rule for live readers, aging from SUPERSESSION rather
    * than creation: a bucket version's own mtime is its publication
    * time, which can be arbitrarily long before a later merge finally
    * superseded it — mtime alone would delete a long-current bucket the
    * instant it was replaced, under a just-pinned reader. So an
    * unreferenced directory is deleted only when BOTH its mtime and the
    * CURRENT manifest file's mtime (the supersession lower bound: the
    * publish that retired it happened no later than the latest publish)
    * are more than `graceMs` old. A reader pins the then-current
    * manifest at open; the publish superseding its version is strictly
    * after that pin, so deletion implies ≥ `graceMs` since the pin.
    * Referenced versions are never deleted regardless of age. Runs
    * under the writer lease (the manifest must not advance mid-sweep). */
  def gc(spark: SparkSession, path: String, graceMs: Long = 0L): Unit =
   Lease.withLease(spark, path, "lexindex-gc") {
    gcLocked(spark, path, graceMs)
  }

  /** [[gc]]'s body, for callers already holding the `path` lease. */
  private def gcLocked(spark: SparkSession, path: String, graceMs: Long): Unit = {
    val cur = currentVersion(spark, path)
    if (cur <= 0L) return
    val man = bucketsAt(spark, path, cur)
    val f = fsOf(spark, new Path(path))
    val now = System.currentTimeMillis()
    val aged = Versioned.agedRule(spark, path, cur, graceMs, now)
    // buckets + docmap are referenced at (version, bucket) grain — a
    // still-referenced v=W dir can hold superseded tb dirs, so sweep
    // per bucket and drop version dirs only once emptied
    def sweepBucketed(dir: String): Unit = {
      val d = new Path(dir)
      if (!f.exists(d)) return
      for (vSt <- f.listStatus(d) if vSt.getPath.getName.startsWith("v=")) {
        val v = vSt.getPath.getName.stripPrefix("v=").toLong
        var left = 0
        for (bSt <- f.listStatus(vSt.getPath)
             if bSt.getPath.getName.startsWith("tb=")) {
          val b = bSt.getPath.getName.stripPrefix("tb=").toLong
          if (!man.get(b).contains(v) && aged(bSt.getModificationTime))
            f.delete(bSt.getPath, true)
          else left += 1
        }
        if (left == 0 && v != cur && aged(vSt.getModificationTime))
          f.delete(vSt.getPath, true)
      }
    }
    sweepBucketed(bucketsDir(path))
    sweepBucketed(docmapDir(path))
    // stats are referenced at the current version only; the shared
    // sweep also collects superseded manifests and stranded publish tmps
    Versioned.gcSweep(spark, path, cur, graceMs,
      Seq((statsDir(path), "v=", (v: Long) => v == cur)))
    // RETIRED stream-delta generations: the reconcile's clear is a
    // pure generation bump (reader grace), so the physical sweep lives
    // here. The supersession bound for a retired generation is the
    // NEWEST MARKER's mtime — the retirement instant — not the bucket
    // manifest's mtime (a bump can happen long after the last merge
    // publish, and aging from the manifest would delete a seconds-old
    // retirement under a pinned reader). Superseded marker files
    // themselves are swept once aged the same way.
    deltaGenStatus(f, path).foreach { case (curGen, bumpMtime) =>
      def genAged(st: org.apache.hadoop.fs.FileStatus): Boolean =
        now - math.max(st.getModificationTime, bumpMtime) >= graceMs
      val dRoot = new Path(deltaDir(path))
      if (f.exists(dRoot))
        for (st <- f.listStatus(dRoot)) st.getPath.getName match {
          case DeltaGenDirName(g) if g.toLong < curGen && genAged(st) =>
            f.delete(st.getPath, true)
          case DeltaGenName(g) if g.toLong < curGen && genAged(st) =>
            f.delete(st.getPath, false)
          case FoldMarkerName(g) if g.toLong < curGen && genAged(st) =>
            f.delete(st.getPath, false)
          case _ => ()
        }
    }
  }

  /** Share of bucket bytes the live manifest does NOT reference —
    * superseded bucket versions stranded by merges/deletes, the garbage
    * [[compact]] collects. Driver-side listing only (≤ versions ×
    * buckets directory entries, file lengths from the listing itself) —
    * no data is read, so a maintenance window can measure every time.
    * With a positive `graceMs` only GC-ELIGIBLE garbage counts (same
    * aging rule as [[gc]]) — what a sweep could actually reclaim now,
    * so a policy on this share never re-triggers for bytes the grace
    * still protects. 0.0 on an empty or garbage-free index. */
  def garbageShare(spark: SparkSession, path: String,
                   graceMs: Long = 0L): Double = {
    val cur = currentVersion(spark, path)
    val man = bucketsAt(spark, path, cur)
    val f = fsOf(spark, new Path(path))
    val root = new Path(bucketsDir(path))
    if (!f.exists(root)) return 0.0
    // same supersession-bounded aging as [[gc]], so the policy's
    // eligible-bytes count matches what a sweep could reclaim now
    val aged = Versioned.agedRule(spark, path, cur, graceMs,
      System.currentTimeMillis())
    var live = 0L
    var dead = 0L
    for (vDir <- f.listStatus(root) if vDir.getPath.getName.startsWith("v=")) {
      val v = vDir.getPath.getName.stripPrefix("v=").toLong
      for (bDir <- f.listStatus(vDir.getPath)
           if bDir.getPath.getName.startsWith("tb=")) {
        val b = bDir.getPath.getName.stripPrefix("tb=").toLong
        val bytes = f.listStatus(bDir.getPath).map(_.getLen).sum
        if (man.get(b).contains(v)) live += bytes
        else if (aged(bDir.getModificationTime)) dead += bytes
      }
    }
    if (live + dead == 0L) 0.0 else dead.toDouble / (live + dead).toDouble
  }

  /** The POLICY form of [[compact]] — [[graft.operators.VecIndex
    * .maintainIfSkewed]]'s lexical sibling: compact only when
    * superseded bucket versions hold more than `maxGarbageShare` of
    * the index's bytes. Below the threshold the listing is the whole
    * cost (no rewrite, no version bump), so a maintenance window can
    * call this unconditionally and the full-index rewrite runs only
    * once enough merges/deletes have stranded real weight. The same
    * rewrite also re-clusters each bucket into few files, so the two
    * growth modes repeated mutation causes — small files and stranded
    * versions — are paid down together.
    *
    * With a positive `gcGraceMs` both halves respect it: the trigger
    * counts only GC-eligible bytes (never re-firing for garbage the
    * grace still protects) and the compaction's sweep leaves pinned
    * readers' versions alive.
    *
    * @return true iff a compaction ran */
  def compactIfGarbage(spark: SparkSession, path: String,
                       maxGarbageShare: Double = 0.3,
                       gcGraceMs: Long = 0L): Boolean = {
    val share = garbageShare(spark, path, gcGraceMs)
    if (share <= maxGarbageShare) false
    else { compact(spark, path, gcGraceMs); true }
  }

  /** A PINNED read view: every accessor resolves against the ONE
    * manifest captured at creation, so a caller composing several index
    * reads into one workload (the driver's hybrid search: term df +
    * corpus stats + the posting scan) can never mix versions across a
    * concurrent merge/delete/compact publish — df from one version
    * scored against another version's postings would be silently wrong
    * BM25, not an error. Graced [[gc]] keeps a pinned version's files
    * alive for in-flight readers (the vacuum rule). */
  final class Pinned private[LexIndex] (spark: SparkSession, path: String,
                                        val version: Long,
                                        man: Map[Long, Long],
                                        deltaPaths: Seq[String]) {

    /** The pinned stream-delta rows (see [[openDelta]] — lowest-batch
      * dedup applied); None when the lineage is empty. Pinned like the
      * manifest: the `b=` path list is captured at [[pinned]] time, and
      * retirement is a generation bump whose physical sweep is graced —
      * the captured files outlive any in-flight read.
      *
      * MATERIALIZED once per view (non-eager local checkpoint): the
      * day-sized lowest-batch dedup join runs on the FIRST action and
      * every later consumer on this view — a hybridSearch workload's
      * many searches, or one search's stats + df + candidate reads —
      * reuses the stored blocks instead of re-running it per action.
      * The blocks are executor-local and non-replicated, which is the
      * right trade for a WORKLOAD-lifetime view (an executor loss fails
      * the in-flight action; the caller re-pins and retries) — NOT for
      * stream-lifetime state, where the same pattern is forbidden
      * ([[graft.pipelines.DailyDriver.stepStream]]'s benchRow note).
      * Block cleanup is the ContextCleaner's: when the view is
      * unreachable the RDD blocks go with it, so a recurring caller
      * leaks nothing. */
    private lazy val deltaRows: Option[DataFrame] =
      if (deltaPaths.isEmpty) None
      else Some(readDeltaPaths(spark, deltaPaths).localCheckpoint(false))

    /** The pinned corpus statistics — COMPOSED with the live stream
      * delta when one exists: bulk sums + the delta's doc-count and
      * token-total, recombined through the build path's exact
      * [[statsRow]] arithmetic (same integer avgdl division), so a
      * search over bulk+delta scores with the statistics the merged
      * index would carry. Delta absent → the plain pinned read. */
    def stats: DataFrame = {
      require(version > 0L, s"no published index under $path")
      val bulk = DriverParquet.read(spark).load(s"${statsDir(path)}/v=$version")
      deltaRows match {
        case None => bulk
        case Some(d) =>
          val b = bulk.select(col("n_docs"), col("t_total")).head()
          val ds = d.select(col("doc_id"), col("dl")).distinct()
            .agg(count(lit(1)).as("n"),
              coalesce(sum(col("dl")), lit(0L)).as("t")).head()
          statsRow(spark, b.getLong(0) + ds.getLong(0),
            b.getLong(1) + ds.getLong(1))
      }
    }

    /** Document frequency of the given terms, off the pinned postings —
      * the df relation [[graft.operators.Bm25.queryTerms]] needs,
      * WITHOUT a corpus scan: the read is bucket-pruned to the terms'
      * live buckets exactly like [[search]] (df is constant per term,
      * so `distinct` collapses each term's postings to one row). Terms
      * absent from the index produce no row — queryTerms' inner join
      * then drops them, which is also what a zero-df term's score
      * contribution would be. With a live stream delta, each term's df
      * is the bulk df plus its delta posting count — the value the
      * merged index would store. */
    def termDf(terms: DataFrame): DataFrame = {
      val buckets = terms.select(tb(col("term")).as("tb")).distinct()
        .collect().map(_.getLong(0)).filter(man.contains)
      val post =
        if (buckets.isEmpty) emptyPostings(spark)
        else readBuckets(spark, path, man, buckets.toIndexedSeq)
      val bulkDf = post
        .join(broadcast(terms.select(col("term")).distinct()), Seq("term"))
        .select(col("term"), col("df")).distinct()
      deltaRows match {
        case None => bulkDf
        case Some(d) =>
          val deltaDf = d
            .join(broadcast(terms.select(col("term")).distinct()), Seq("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("ddf"))
          bulkDf.join(deltaDf, Seq("term"), "full_outer")
            .select(col("term"),
              (coalesce(col("df"), lit(0L)) +
                coalesce(col("ddf"), lit(0L))).as("df"))
      }
    }

    /** BM25 top-k over the pinned postings. `qterms` is (q_id, term) —
      * workload-sized. The path list read is exactly the query terms'
      * live buckets (pruning at its strongest: unprobed buckets are
      * never listed, and the `tb` partition filter on top is asserted
      * by LexIndexSpec); scoring is [[Bm25.scoreExpr]] — identical
      * arithmetic to the inline and streaming forms. With a live
      * stream delta the candidate rows are bulk ∪ delta (delta side
      * term-pruned to the query terms), the per-term df is the
      * composed [[termDf]], and the stats row is the composed
      * [[stats]] — value-equal to searching the merged index
      * (LexIndexDeltaSpec); with no delta the plan is exactly the
      * historical bucket-pruned one. */
    def search(qterms: DataFrame, k: Int): DataFrame = {
      val buckets = qterms.select(tb(col("term")).as("tb")).distinct()
        .collect().map(_.getLong(0)).filter(man.contains)
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("bm25_s").desc, col("doc_id").asc)
      val post =
        if (buckets.isEmpty) emptyPostings(spark)
        else readBuckets(spark, path, man, buckets.toIndexedSeq)
      val scored = deltaRows match {
        case None =>
          post
            .join(broadcast(qterms.select(col("q_id"), col("term"))), Seq("term"))
            .crossJoin(broadcast(stats))
            .withColumn("sc", Bm25.scoreExpr(col("tf"), col("dl"), col("df"),
              col("n_docs"), col("avgdl_s")))
        case Some(d) =>
          // the composed per-term df is derived from the SAME post and
          // delta relations the candidate rows come from (term-pruned
          // to the query terms) — not via termDf, which would re-read
          // the buckets and rebuild the delta a second time per search
          val qt = broadcast(qterms.select(col("term")).distinct())
          val dPruned = d.join(qt, Seq("term"))
            .select(col("term"), col("doc_id"), col("tf"), col("dl"))
          val bulkDf = post
            .join(qt, Seq("term")).select(col("term"), col("df")).distinct()
          val deltaDf = dPruned.groupBy(col("term"))
            .agg(count(lit(1)).as("ddf"))
          val dfEff = bulkDf.join(deltaDf, Seq("term"), "full_outer")
            .select(col("term"),
              (coalesce(col("df"), lit(0L)) +
                coalesce(col("ddf"), lit(0L))).as("df"))
          post.select(col("term"), col("doc_id"), col("tf"), col("dl"))
            .unionByName(dPruned)
            .join(broadcast(qterms.select(col("q_id"), col("term"))), Seq("term"))
            .join(broadcast(dfEff), Seq("term"))
            .crossJoin(broadcast(stats))
            .withColumn("sc", Bm25.scoreExpr(col("tf"), col("dl"), col("df"),
              col("n_docs"), col("avgdl_s")))
      }
      scored
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_hit"), sum(col("sc")).as("bm25_s"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("rk"), col("doc_id"), col("n_hit"), col("bm25_s"))
    }
  }

  /** Pin the index at its current manifest — ONE resolution for every
    * read composed off the returned view (the live stream-delta batch
    * list is pinned with it). */
  def pinned(spark: SparkSession, path: String): Pinned = {
    val v = currentVersion(spark, path)
    new Pinned(spark, path, v, bucketsAt(spark, path, v),
      deltaBatchPaths(spark, path))
  }

  /** [[Pinned.termDf]] at the current manifest — single-read callers. */
  def termDf(spark: SparkSession, path: String, terms: DataFrame): DataFrame =
    pinned(spark, path).termDf(terms)

  /** [[Pinned.search]] at the current manifest — single-read callers
    * (each call pins its own one resolution; compose multiple reads
    * through ONE [[pinned]] view instead). */
  def search(spark: SparkSession, path: String, qterms: DataFrame,
             k: Int): DataFrame =
    pinned(spark, path).search(qterms, k)
}
