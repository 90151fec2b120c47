package graft.operators

import graft.sources.DriverParquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF vector index: the storage half of the ANN family.
  *
  * q55/q77/q80 demonstrate the SEARCH plan with the index built inline;
  * at fleet scale an ANN index is not a query-local relation but a
  * PARTITIONED TABLE — build once, then every search reads only its
  * probed cells through partition pruning. This operator owns that
  * lifecycle (the q76 lesson: queries over an index must not own
  * corpus-sized state — the index lives in storage, partitioned, and
  * the cell filter prunes at the file-listing level, so a search over a
  * 100 TB corpus reads nprobe/k of it).
  *
  * Layout — versioned directories published by an immutable manifest
  * (the [[LexIndex]] discipline, ported so vector readers get the same
  * lock-free pinned-version snapshots):
  * {{{
  *   path/cells/v=V/cid=N/part-*.parquet   // bulk side: build/compact/delete/retrain
  *   path/delta/e=E/cid=N/part-*.parquet   // append side: streaming sink or batch appends
  *   path/centroids/v=V/part-*.parquet     // the quantizer (retrain installs new versions)
  *   path/manifest/v=V.txt                 // "base:B", "epoch:E", "cents:C"
  * }}}
  * The CURRENT index is defined by the highest-numbered manifest file:
  * cells version `B` (0 = no bulk side yet — a pure-stream index),
  * delta epoch `E` (appends land under `delta/e=E`), centroids version
  * `C` (0 = none persisted). A mutation writes its new cells (and, for
  * [[retrain]], centroids) under the NEXT version — fresh paths the
  * live index never references — then publishes ONE new manifest file
  * via a same-directory rename, the single atomic step. A crash before
  * that rename leaves orphan `v=N+1` debris the old manifest never
  * references (the next mutation overwrites it); a crash after it IS
  * the new index. There is no repair, no commit marker, and no
  * destructive roll-forward a concurrent open could race — the
  * delete-then-rename window of the previous in-place layout is gone.
  *
  * Reader contract — pinned snapshots: [[open]] resolves the manifest
  * once and returns a frame over immutable paths, so a long-running
  * search is never perturbed by a concurrent compact/delete/retrain:
  * the mutation publishes a NEW version set and leaves the old one in
  * place as garbage. [[gc]]'s grace window (the LexIndex vacuum rule)
  * keeps a pinned version's files alive until in-flight scans are done:
  * an unreferenced version directory is collected only once its mtime
  * is older than the grace, and published directories never change
  * after publication, so mtime ≈ publication time ≤ any reader's pin
  * time.
  *
  * The cells/delta split is an LSM pair and is load-bearing: streams
  * append to the current `delta/e=E` (one job-committed write per
  * micro-batch under a `b=batchId` partition, so a checkpoint replay
  * overwrites its own batch instead of duplicating it — see
  * [[appendStream]], including the per-batch EPOCH FENCE against a
  * concurrent compact retiring the directory), bulk writes own their
  * `cells/v=B`, [[open]] unions the two, and [[compact]] folds the
  * delta into a new cells version, bumping the epoch in the same
  * manifest publish (so rows are never counted from both sides). One
  * append discipline per epoch: a batch [[append]] refuses a
  * stream-governed epoch and vice versa — a replayed micro-batch's
  * partition overwrite and interleaved batch-append files cannot share
  * a directory safely. Search cost per probe = the probed cells' bytes
  * only; the scan's PartitionFilters prove it (asserted by
  * VecIndexSpec).
  *
  * Mutations are single-writer: each runs under the [[Lease]] for
  * `path`, so a second concurrent build/append/compact/delete/retrain
  * fails fast instead of racing the same `v=N+1` paths.
  */
object VecIndex {

  private def cellsDir(path: String) = s"$path/cells"
  private def deltaDir(path: String) = s"$path/delta"
  private def centsDir(path: String) = s"$path/centroids"

  private def cellsPath(path: String, v: Long) = Versioned.cellsPath(path, v)
  private def deltaPath(path: String, e: Long) = Versioned.deltaPath(path, e)
  private def centsPath(path: String, v: Long) = s"${centsDir(path)}/v=$v"

  /** The published state: manifest version `v` (0 = never published),
    * cells version `base` (0 = none), delta epoch, centroids version
    * (0 = none). The default for an unpublished path is epoch 1 — a
    * pure-stream index ([[appendStream]] without a prior [[build]])
    * needs a well-defined append target without a manifest write a
    * streaming sink could not make transactional. The protocol itself
    * lives in [[Versioned]], shared with [[PqIndex]]. */
  private[graft] type Manifest = Versioned.Man

  /** The published manifest version the index currently reads at
    * (0 = no successful publish yet). */
  def currentVersion(spark: SparkSession, path: String): Long =
    Versioned.currentVersion(spark, path)

  /** The current delta epoch — operability readouts only (epoch bumps
    * mark compact/retrain generations; see the class doc's layout). */
  def currentEpoch(spark: SparkSession, path: String): Long =
    Versioned.current(spark, path).epoch

  private[graft] def currentManifest(spark: SparkSession, path: String): Manifest =
    Versioned.current(spark, path)

  private def publishManifest(spark: SparkSession, path: String,
                              v: Long, base: Long, epoch: Long,
                              cents: Long): Unit =
    Versioned.publish(spark, path, v, base, epoch, cents)

  /** Assign every vector to its nearest-by-cosine centroid and persist
    * partitioned by cell id as the next cells version. One broadcast
    * centroid-array fold ([[KMeans.withTopCells]]) + one partitioned
    * write — no exchange, no corpus-sized cache, no collect. The
    * delta side (if any) is untouched — build replaces the BULK side
    * only, exactly like the previous layout's base overwrite.
    *
    * @param persistCentroids install `centroids` as the index's pinned
    *        quantizer in the same manifest publish — what a pipeline
    *        needs when later [[append]]s must assign against the build's
    *        own cells ([[openCentroids]] reads it back) */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, path: String,
            persistCentroids: Boolean = false): Unit = {
   val spark = emb.sparkSession
   // fenced like the maintenance ops: two racing builds would
   // interleave writes under the same v=N+1 paths
   Lease.withLease(spark, path, "vecindex-build") {
    val m = currentManifest(spark, path)
    // a quantizer SWAP over a LIVE delta would strand the delta's rows
    // celled under the old centroids — probes assigned by the new
    // quantizer never scan their cells, and a later compact fossilizes
    // the wrong cids with no repair path (the per-batch stream fence
    // only stops FUTURE batches). PqIndex.requireDeltaCompatible's
    // discipline: refuse loudly; compact (or retrain, which re-cells
    // base+delta wholesale) first. A CONTENT-EQUAL re-install (an
    // interrupted build's replay, a standardized-quantizer rebuild) is
    // not a swap and stays allowed; an index with NO persisted
    // quantizer but a live delta is refused conservatively — its rows
    // were celled by centroids the manifest never saw.
    val swapping = persistCentroids &&
      !centsAt(spark, path, m).exists(centroidsContentEqual(_, centroids))
    require(!(swapping && Versioned.hasCells(spark, deltaPath(path, m.epoch))),
      s"build would install a different quantizer over a live delta " +
        s"epoch ${m.epoch} under $path — its rows are celled under the " +
        s"previous layout and would be silently unreachable; compact " +
        s"or retrain first")
    val n = m.v + 1
    val cents = centroids
      .select(col("cid"), col("centroid").as("c_vec"))
      .withColumn("c_norm", sqrt(callDot(col("c_vec"), col("c_vec"))))
    // map-side nearest-cell fold (KMeans.withTopCells, round 13): the
    // former crossJoin + assign window paid a local sort of n·k rows
    // plus a corpus exchange (vectors included) before the write; the
    // fold assigns each row alone against the broadcast centroid array
    KMeans.withTopCells(KMeans.prep(emb, idCol, vecCol), cents, 1)
      .select(col("__id").as(idCol), col("__v").as(vecCol),
        col("__norm").as("norm"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, n))
    val centsV =
      if (persistCentroids) {
        centroids.write.mode("overwrite").parquet(centsPath(path, n))
        n
      } else m.cents
    publishManifest(spark, path, n, base = n, epoch = m.epoch, cents = centsV)
   }
  }

  /** The full index at the CURRENT manifest: cells ∪ delta, whichever
    * sides exist (a pure-stream index has no cells version until its
    * first compaction; a never-appended one has no delta). The returned
    * frame is a PINNED SNAPSHOT — it reads the resolved version's
    * immutable paths, so concurrent maintenance never perturbs it (see
    * the object doc's reader contract). */
  def open(spark: SparkSession, path: String): DataFrame =
    tryOpen(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no index layout under $path"))

  /** [[open]] for callers probing a possibly-unbuilt index. */
  def tryOpen(spark: SparkSession, path: String): Option[DataFrame] =
    openAt(spark, path, currentManifest(spark, path))

  private def openAt(spark: SparkSession, path: String,
                     m: Manifest): Option[DataFrame] = {
    // a side counts only when it holds cell directories — the shared
    // empty-write guard ([[Versioned.hasCells]]); the bulk read is
    // ownership-resolving (a cell-pruned [[delete]]'s version holds
    // rewritten cells physically and references the rest — see
    // [[Versioned.openBulkResolved]])
    val bulk = Versioned.openBulkResolved(spark, path, m.base)
    val delta =
      if (Versioned.hasCells(spark, deltaPath(path, m.epoch)))
        // drop the stream lineage's per-micro-batch replay key (a no-op
        // on a batch-appended epoch, which has no b= level)
        Some(DriverParquet.read(spark).load(deltaPath(path, m.epoch)).drop("b"))
      else None
    (bulk.toSeq ++ delta.toSeq).reduceOption(_.unionByName(_))
  }

  /** The pinned quantizer (cid, centroid) at the current manifest, or
    * None when no centroids version was ever installed ([[retrain]] or
    * a `persistCentroids` [[build]] installs one). */
  def openCentroids(spark: SparkSession, path: String): Option[DataFrame] =
    centsAt(spark, path, currentManifest(spark, path))

  /** STRUCTURAL content equality of two (cid, centroid) quantizers —
    * cid-sorted elementwise comparison, never Row.toString (nested
    * array formatting must not decide a correctness guard). Quantizer-
    * sized collects. */
  private[graft] def centroidsContentEqual(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame): Array[(Int, Seq[Float])] =
      df.select(col("cid").cast("int"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val (ra, rb) = (rows(a), rows(b))
    ra.length == rb.length && ra.indices.forall(i => ra(i) == rb(i))
  }

  private def centsAt(spark: SparkSession, path: String,
                      m: Manifest): Option[DataFrame] =
    if (m.cents == 0L) None
    else Some(DriverParquet.read(spark).load(centsPath(path, m.cents))
      .select(col("cid"), col("centroid")))

  /** A PINNED read view — [[LexIndex.Pinned]]'s vector sibling: the
    * quantizer AND the index rows resolve against the ONE manifest
    * captured at creation. A caller composing both into one workload
    * (assign probes against the centroids, then scan the assigned
    * cells — the driver's hybrid search) must read them through one
    * resolution: resolving each separately lets a concurrent retrain
    * publish land BETWEEN the two, pairing the old quantizer with the
    * re-celled rows — probes then get assigned to cells that no longer
    * match the index's cell layout and the search silently returns
    * wrong neighbors. Graced [[gc]] keeps a pinned version's files
    * alive for in-flight readers (the vacuum rule). */
  final class Pinned private[VecIndex] (spark: SparkSession, path: String,
                                        private[graft] val man: Manifest) {

    /** The index rows at the pinned manifest ([[VecIndex.open]]'s
      * contract, same snapshot as [[centroids]]). */
    def index: DataFrame = tryIndex.getOrElse(
      throw new IllegalArgumentException(s"no index layout under $path"))

    def tryIndex: Option[DataFrame] = openAt(spark, path, man)

    /** The quantizer paired with [[index]]'s cell layout (None when no
      * centroids version was installed at the pinned manifest). */
    def centroids: Option[DataFrame] = centsAt(spark, path, man)
  }

  /** Pin the index at its current manifest — ONE resolution for every
    * read composed off the returned view. */
  def pinned(spark: SparkSession, path: String): Pinned =
    new Pinned(spark, path, currentManifest(spark, path))

  /** In-cell exact-cosine top-k over the persisted index.
    *
    * @param index  `open(...)` result
    * @param probes (q_id, q_vec, q_cid) — the probe set with its cell
    *               assignments (one row per (probe, probed cell) for
    *               multi-probe). BOUNDED by definition of a probe batch;
    *               its cell list is collected (tiny) to drive partition
    *               pruning — the pushed `cid IN (...)` is what keeps the
    *               scan to nprobe/k of the corpus.
    * @param cells  the probes' distinct `q_cid` values when the caller
    *               already collected them (None: collected here) */
  def search(index: DataFrame, probes: DataFrame,
             idCol: String, vecCol: String, k: Int,
             cells: Option[Seq[Any]] = None): DataFrame =
    topK(index, probes, None, idCol, vecCol, k, cells)

  /** [[search]] restricted to a CANDIDATE set — the exact-rerank half
    * of an IVFADC stack: an approximate generator (the [[PqIndex]] code
    * table) nominates (q_id, id) pairs, and this scores ONLY those
    * against the raw vectors, with [[search]]'s exact arithmetic, cell
    * pruning, ranking, and self-exclusion. With candidates ⊇ every
    * probed-cell pair this IS [[search]] row-for-row (the degenerate
    * full-depth case rerank specs pin); with a bounded candidate depth
    * the scan cost is unchanged (same pruned cells) but only nominated
    * pairs reach the scorer. A nominated pair outside the probes' cells
    * is NOT scored — the probe's cell set, not the generator, bounds
    * what search can see (so a generator whose cell layout drifted from
    * this index's degrades recall only, never correctness of returned
    * scores).
    *
    * @param candidates (q_id, idCol) nominations, workload-sized
    * @param cells      as in [[search]] */
  def rerank(index: DataFrame, probes: DataFrame, candidates: DataFrame,
             idCol: String, vecCol: String, k: Int,
             cells: Option[Seq[Any]] = None): DataFrame =
    topK(index, probes, Some(candidates), idCol, vecCol, k, cells)

  private def topK(index: DataFrame, probes: DataFrame,
                   candidates: Option[DataFrame],
                   idCol: String, vecCol: String, k: Int,
                   knownCells: Option[Seq[Any]]): DataFrame = {
    val cells = knownCells.getOrElse(
      probes.select(col("q_cid")).distinct().collect().toSeq.map(_.get(0)))
    // zero-norm guard, matching build/assignFold's indexed-side filter:
    // an unguarded zero probe makes cos = 0/0 = NaN, and Spark sorts NaN
    // ABOVE every double, so the descending top-k window would rank the
    // garbage rows first — a degenerate probe must return no rows, not
    // arbitrary ones
    val pr = probes
      .withColumn("q_norm", sqrt(callDot(col("q_vec"), col("q_vec"))))
      .filter(col("q_norm") > 0.0)
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col(idCol).asc)
    val scanned = index
      // literal IN list → partition pruning at file listing; the
      // broadcast-join residual below re-checks per-probe membership
      .filter(col("cid").isin(cells: _*))
      .join(broadcast(pr), col("cid") === col("q_cid") && col(idCol) =!= col("q_id"))
    val nominated = candidates match {
      case None => scanned
      case Some(c) => scanned.join(
        broadcast(c.select(col("q_id"), col(idCol)).distinct()),
        Seq("q_id", idCol), "left_semi")
    }
    nominated
      .withColumn("cos",
        callDot(col(vecCol), col("q_vec")) / (col("norm") * col("q_norm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  /** In-cell cosine RANGE search: every indexed vector at or above
    * `minCos` of a probe, in the probe's cells — the threshold-query
    * sibling of [[search]] (ANN range query). Same partition-pruned
    * scan (`cid IN (...)` at file listing, ~nprobe/k of the corpus),
    * but NO window at all: the result is an open-ended match set, so
    * the plan is scan → broadcast probe join → filter — strictly
    * map-side after the pruned read. Unlike [[search]] there is no
    * self-exclusion: a probe finding its own stored copy IS a match
    * (the decontamination semantics — [[SemanticDecontam.flagIndexed]]).
    *
    * @param probes (q_id, q_vec, q_cid), one row per (probe, probed
    *               cell) for multi-probe — bounded by definition */
  def rangeSearch(index: DataFrame, probes: DataFrame,
                  idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val cells = probes.select(col("q_cid")).distinct()
      .collect().map(_.get(0))
    val pr = probes
      .withColumn("q_norm", sqrt(callDot(col("q_vec"), col("q_vec"))))
      .filter(col("q_norm") > 0.0)
    index
      .filter(col("cid").isin(cells.toIndexedSeq: _*))
      .join(broadcast(pr), col("cid") === col("q_cid"))
      .withColumn("cos",
        callDot(col(vecCol), col("q_vec")) / (col("norm") * col("q_norm")))
      .filter(col("cos") >= minCos)
      .select(col("q_id"), col(idCol), col("cos"))
  }

  /** Streaming-safe cell assignment: a map-side fold over the collected
    * centroid array — no window and no aggregation on the vector stream,
    * so it composes with any streaming sink (rank windows are illegal in
    * streaming plans). Semantics match the window-based assign exactly:
    * highest cosine wins, ties break toward the lowest cell id (the
    * fold compares `struct(cos, -cid)` structs, so the comparison is
    * one lexicographic op per centroid). Works on batch frames too —
    * VecIndexSpec asserts batch equivalence against `KMeans.assign`. */
  def assignFold(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val centArr = centroids
      .select(col("cid").cast("int").as("cid"), col("centroid").as("c_vec"))
      .withColumn("c_norm", sqrt(callDot(col("c_vec"), col("c_vec"))))
      .agg(collect_list(struct(col("cid"), col("c_vec"), col("c_norm"))).as("__cents"))
    val init = struct(lit(Double.NegativeInfinity).as("cos"),
      lit(Int.MinValue).as("neg"))
    emb
      .select(col(idCol), col(vecCol).cast(ArrayType(FloatType)).as(vecCol))
      .withColumn("norm", sqrt(callDot(col(vecCol), col(vecCol))))
      .filter(col("norm") > 0.0)
      .crossJoin(broadcast(centArr))
      .withColumn("__best", aggregate(col("__cents"), init, (acc, c) => {
        val cand = struct(
          (callDot(col(vecCol), c.getField("c_vec")) /
            (col("norm") * c.getField("c_norm"))).as("cos"),
          (-c.getField("cid")).as("neg"))
        when(cand > acc, cand).otherwise(acc)
      }))
      .withColumn("cid", (-col("__best.neg")).cast("int"))
      .withColumn("cos", col("__best.cos"))
      .drop("__cents", "__best")
  }

  /** Incremental index maintenance: assign arriving vectors with
    * [[assignFold]] and append them to the CURRENT DELTA EPOCH, one
    * job-committed write per micro-batch under `delta/e=E/b=B/cid=N/`
    * (the batch id is a partition column, so a checkpoint-replayed
    * batch DYNAMICALLY OVERWRITES its own `b=B` partitions instead of
    * duplicating them — exactly-once at the directory level, without a
    * sink log governing the epoch directory). Searches over
    * `open(path)` keep pruning correctly as the index grows;
    * [[compact]] folds the epoch into the cells side offline and bumps
    * the epoch, exactly like any LSM-flavored index.
    *
    * MANIFEST FENCE, both coordinates: the manifest is resolved once
    * at stream start, and every micro-batch re-reads it before
    * writing — a concurrent [[compact]] retires the EPOCH (a stream
    * that outlived it would keep writing batches no reader can see
    * into a directory graced [[gc]] eventually deletes), and a
    * concurrent `persistCentroids` [[build]] swaps the QUANTIZER
    * without bumping the epoch (rows celled under the start-time
    * centroids would sit in cells the new quantizer's probes never
    * scan). Either movement turns silent loss into a loud stream
    * failure: the batch throws, the query dies, and the operator
    * restarts it (fresh checkpoint) against the new manifest. One stream lineage per epoch:
    * a FRESH checkpoint restarts batch numbering at 0, so adopting an
    * epoch that already holds another lineage's `b=` directories would
    * overwrite them — refused at start (resume the original
    * checkpoint, or compact first). */
  def appendStream(embStream: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, path: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = embStream.sparkSession
    val m0 = pinStreamAppend(spark, path, checkpoint)
    assignFold(embStream, idCol, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("norm"), col("cid"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendStreamBatch(spark, path, m0, batch, batchId)
        ()
      }
      .start()
  }

  /** Pin the stream-append coordinates: resolve the manifest ONCE and
    * enforce the one-discipline-per-epoch rule in both directions
    * ([[append]] refuses a stream-governed epoch; a stream must not
    * adopt an epoch holding batch-appended files — the epoch's replay
    * overwrite by `b=` only protects files the stream itself governs).
    * Composite ingest pipelines (the daily driver's single-query
    * stepStream) call this at start and feed micro-batches through
    * [[appendStreamBatch]]. */
  private[graft] def pinStreamAppend(spark: SparkSession, path: String,
                                     checkpoint: String): Manifest = {
    val m0 = currentManifest(spark, path)
    Versioned.requireStreamAdoptable(spark, path, m0.epoch, checkpoint)
    m0
  }

  /** ONE micro-batch of [[appendStream]] — fence-then-write under the
    * index lease, the same lease every maintenance mutation holds. A
    * bare re-read would be check-then-write: a compact publishing
    * between the manifest read and the parquet write (plus the offset
    * commit that follows a normal return) would lose this batch
    * SILENTLY into the retired directory, the exact loss the fence
    * exists to make loud. The lease is acquired with BOUNDED PATIENCE
    * (withLeaseWait): a maintenance pass holding it for minutes must
    * not kill the stream — the batch waits it out, then the epoch
    * check decides (retired → throw before writing, offsets stay
    * uncommitted, the restarted stream replays against the current
    * epoch; kept → write proceeds, no interleaving possible under the
    * lease). BOTH coordinates are fenced: a compact retires the epoch
    * (batches there turn invisible), and a concurrent persistCentroids
    * build swaps the QUANTIZER without bumping the epoch — rows this
    * stream cells under the start-time centroids would land in cells
    * the new quantizer's probes never scan (silent recall loss).
    * `batch` must already carry (idCol, vecCol, norm, cid). */
  private[graft] def appendStreamBatch(spark: SparkSession, path: String,
                                       m0: Manifest, batch: DataFrame,
                                       batchId: Long): Unit =
    Lease.withLeaseWait(spark, path, "vecindex-append") {
      val cur = currentManifest(spark, path)
      if (cur.epoch != m0.epoch || cur.cents != m0.cents)
        throw new IllegalStateException(
          s"append stream's pinned manifest (epoch ${m0.epoch}, quantizer " +
            s"${m0.cents}) was superseded (now epoch ${cur.epoch}, " +
            s"quantizer ${cur.cents}) — batches written there would be " +
            s"invisible to readers or celled under a retired layout; " +
            s"restart the stream with a fresh checkpoint (after an " +
            s"epoch retirement or an empty-delta quantizer swap), or " +
            s"resume this checkpoint against re-read centroids (a " +
            s"content-equal quantizer re-install — build refuses a " +
            s"true swap over a live delta)")
      batch.withColumn("b", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b", "cid")
        .parquet(deltaPath(path, m0.epoch))
    }

  /** BATCH incremental append — the daily-driver form of
    * [[appendStream]]: assign the arrival batch with [[assignFold]] and
    * append it to the current delta epoch in one job-committed write
    * (the files land whole or not at all, so a replayed step can probe
    * [[containsAny]] to decide whether its append already landed — the
    * disjoint-daily-ids discipline the driver's other appends use).
    * Guarded against the sink-log trap: a streaming sink's epoch
    * directory is governed by `_spark_metadata`, which would silently
    * hide batch-written files from readers — one epoch has one append
    * discipline, so compact (epoch bump) before switching. */
  def append(emb: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    Lease.withLease(spark, path, "vecindex-append") {
      val e = currentManifest(spark, path).epoch
      Versioned.requireBatchEpoch(spark, path, e)
      assignFold(emb, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("norm"), col("cid"))
        .write.mode("append").partitionBy("cid").parquet(deltaPath(path, e))
    }
  }

  /** Whether ANY of `ids` is already indexed — the landed-or-not probe
    * a RETRIED append needs. Column-pruned scan of the id column only
    * (cells + current delta); false on a never-built index. */
  def containsAny(spark: SparkSession, path: String, ids: DataFrame): Boolean =
    Versioned.containsAnyIn(tryOpen(spark, path), ids)

  /** Offline compaction: fold the current delta epoch into a fresh
    * cells version and bump the epoch in the same manifest publish.
    * Every micro-batch/daily append lands a file per touched
    * `cid=N/` directory, so a long-running ingest accumulates files
    * whose per-file overhead eventually dominates the scan. One range
    * shuffle on (cid, id) clusters each cell into a contiguous run — a
    * partition holds at most a couple of cells, a cell receives at most
    * a couple of files. Rows and the cid layout are unchanged by a
    * second run (VecIndexSpec asserts row identity and that searches
    * keep pruning); pinned readers of the previous version are
    * untouched — their directories become garbage [[gc]] collects after
    * `gcGraceMs`.
    *
    * LSM handoff discipline: run with NO active append stream, and
    * restart streams with a fresh checkpoint afterwards — the epoch
    * bump retires the directory the old checkpoint governed. */
  def compact(spark: SparkSession, path: String, idCol: String,
              gcGraceMs: Long = 0L): Unit =
    Lease.withLease(spark, path, "vecindex-maintenance") {
      val m = currentManifest(spark, path)
      val rows = openAt(spark, path, m).getOrElse(
        throw new IllegalArgumentException(s"no index layout under $path"))
      val n = m.v + 1
      rows.hint("rebalance", col("cid"))
      .sortWithinPartitions(col("cid"), col(idCol))
        .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, n))
      publishManifest(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = m.cents)
      gcLocked(spark, path, gcGraceMs)
    }

  /** Day-end handback from stream to batch discipline: re-key a
    * STREAM-governed delta epoch into a fresh batch-governed one in
    * O(delta) — [[Versioned.adoptStreamDelta]] under this store's
    * lease. The cheap alternative to [[compact]] when the only need is
    * "tomorrow's batch [[append]] must not meet the lineage's replay
    * keys" (the corpus-linear fold stays the maintenance window's
    * call). Stream must be stopped and drained; no-op (probe cost) on
    * a batch-governed epoch.
    * @return true iff a stream lineage was re-keyed */
  def adoptStreamDelta(spark: SparkSession, path: String): Boolean =
    Lease.withLease(spark, path, "vecindex-maintenance") {
      Versioned.adoptStreamDelta(spark, path)
    }

  /** Remove vectors from the index — the retraction path (takedowns,
    * decontamination) — [[graft.operators.LexIndex.delete]]'s vector
    * counterpart, CELL-PRUNED: one column-pruned census finds the
    * victim-bearing cids, only those cells (plus the live delta's,
    * which the delete folds) are rewritten, and the published version's
    * ownership sidecar references every untouched cell dir where it
    * already lives ([[Versioned.deleteCells]]). Cell assignment is
    * per-row, so surviving rows keep their cid and
    * `delete(build(A ∪ B), ids(B))` row-equals `build(A)` (VecIndexSpec)
    * — but a single-victim takedown now moves one cell's bytes, not the
    * corpus. Shares [[compact]]'s publish contract (new version +
    * atomic manifest rename; pinned readers unperturbed — gc keeps
    * every chain-referenced version dir) and its LSM handoff discipline
    * (no active writer; restart streams on a fresh checkpoint). Ids
    * absent from the index are publish-free no-ops. The victim side is
    * count-gated: past `maxBroadcastIds` distinct ids the joins run as
    * shuffle semi/anti instead of broadcast, so a source-scale
    * retraction cannot OOM the driver ([[Versioned.gatedIds]]). */
  def delete(spark: SparkSession, path: String, idCol: String,
             ids: DataFrame,
             maxBroadcastIds: Long = Versioned.DefaultMaxBroadcastIds): Unit =
    Lease.withLease(spark, path, "vecindex-maintenance") {
      Versioned.deleteCells(spark, path, idCol, ids, maxBroadcastIds)
    }

  /** Wholesale REPLACEMENT from an EXTERNAL source — the
    * embedding-model-migration primitive ([[PqIndex.refresh]]'s
    * discipline for the raw store): re-cell `emb` under the given
    * `centroids` and publish cells + quantizer + a delta-epoch BUMP in
    * ONE manifest rename. The bump is load-bearing where [[build]]'s
    * epoch-preserving publish would be silent corruption: the current
    * delta's rows live in the PREVIOUS embedding space (possibly a
    * different dimension), so the retired epoch must drop out of
    * [[open]] atomically with the swap — graced [[gc]] collects it
    * later, pinned readers keep their matched old (cells, quantizer)
    * pair, and a live append stream fails its next batch loudly (both
    * fenced manifest coordinates change). The source must cover every
    * id the index should keep serving — the caller owns coverage (a
    * replacement build cannot re-derive rows it was never given). */
  def rebuild(emb: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    Lease.withLease(spark, path, "vecindex-maintenance") {
      val m = currentManifest(spark, path)
      val n = m.v + 1
      assignFold(emb, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("norm"), col("cid"))
        .hint("rebalance", col("cid"))
      .sortWithinPartitions(col("cid"), col(idCol))
        .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, n))
      centroids.write.mode("overwrite").parquet(centsPath(path, n))
      publishManifest(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = n)
    }
  }

  /** Re-train the coarse quantizer against the CURRENT rows and re-cell
    * the index — the drift-maintenance half [[compact]]/[[delete]] leave
    * open: appends assign against day-0 centroids, so a drifting corpus
    * piles into few cells and search degrades toward a serial scan of
    * one giant cell. Retraining runs [[KMeans.lloyd]] over the live rows
    * (deterministic, RNG-free), re-assigns every row with the
    * streaming-safe [[assignFold]], and publishes the re-celled cells
    * version AND the new centroids version in ONE manifest rename — a
    * crash at any point leaves the old or the complete new pair, never
    * new cells with the old quantizer or vice versa.
    *
    * The vector SET is untouched (same ids, same vectors, same norms —
    * only `cid` moves; VecIndexSpec proves row identity and that
    * post-drift cell skew drops). Probe assignment and future appends
    * pick the new quantizer up via [[openCentroids]]. Same handoff
    * discipline as [[compact]]: no active writer, restart append
    * streams on a fresh checkpoint.
    *
    * @return the trained centroids (cid, centroid) — materialized, safe
    *         to use after the publish */
  def retrain(spark: SparkSession, path: String, idCol: String, vecCol: String,
              k: Int, iters: Int = 5): DataFrame =
    Lease.withLease(spark, path, "vecindex-maintenance") {
      val m = currentManifest(spark, path)
      val rows = openAt(spark, path, m).getOrElse(
        throw new IllegalArgumentException(s"no index layout under $path"))
      // contiguous: lloyd drops emptied cells, and publishing a GAPPED
      // cid set would wedge every positional consumer downstream —
      // PqIndex.quantFrom hard-fails on gaps, so a skew-triggered
      // retrain in a PQ-paired deployment would leave maintenance
      // permanently unable to re-derive the shared quantizer
      val cents = KMeans.contiguous(
        KMeans.lloyd(rows, idCol, vecCol, k, iters)).localCheckpoint()
      val n = m.v + 1
      assignFold(rows, idCol, vecCol, cents)
        .select(col(idCol), col(vecCol), col("norm"), col("cid"))
        .hint("rebalance", col("cid"))
      .sortWithinPartitions(col("cid"), col(idCol))
        .write.mode("overwrite").partitionBy("cid").parquet(cellsPath(path, n))
      cents.write.mode("overwrite").parquet(centsPath(path, n))
      publishManifest(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = n)
      cents
    }

  /** Collect version directories the live manifest no longer references
    * — superseded cells/centroids versions and retired delta epochs.
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
    * manifest's mtime are more than `graceMs` old. A reader pins the
    * then-current manifest at [[open]]; the publish superseding its
    * version happens strictly after that pin, so deletion implies at
    * least `graceMs` has passed since the pin. Referenced directories
    * are never deleted regardless of age. Runs under the writer lease
    * (the manifest must not advance mid-sweep). */
  def gc(spark: SparkSession, path: String, graceMs: Long = 0L): Unit =
    Lease.withLease(spark, path, "vecindex-gc") {
      gcLocked(spark, path, graceMs)
    }

  /** [[gc]]'s body, for callers already holding the `path` lease —
    * [[Versioned.gcSweep]] with this layout's three directory families
    * (superseded manifest files are swept by the shared rule too). */
  private def gcLocked(spark: SparkSession, path: String, graceMs: Long): Unit = {
    val m = currentManifest(spark, path)
    if (m.v == 0L) return
    // a cell-pruned delete's chain references OLDER cells versions —
    // every one of them is live data, not garbage (delete-only
    // refcount, the snapshot store's rule)
    val cellRefs = Versioned.referencedCellVersions(spark, path, m.base)
    Versioned.gcSweep(spark, path, m, graceMs, Seq(
      (cellsDir(path), "v=", (v: Long) => cellRefs(v)),
      (deltaDir(path), "e=", (v: Long) => v == m.epoch),
      (centsDir(path), "v=", (v: Long) => v == m.cents)))
  }

  /** Share of index bytes sitting in the CURRENT delta epoch — the
    * unfolded-append debt [[compact]] pays down. Driver-side content
    * summaries only (two metadata calls, no data read), so a
    * maintenance window can measure every time. 0.0 with no delta;
    * 1.0 for a pure-stream index that has never compacted. Retired
    * epochs and superseded cells versions are GARBAGE, not debt — they
    * are [[gc]]'s business and do not count here. */
  def deltaShare(spark: SparkSession, path: String): Double =
    Versioned.deltaShare(spark, path)

  /** Resolved on-disk bytes of the given cells (bulk side through the
    * ownership chain + the live delta's matching cid dirs) —
    * metadata-only content summaries: what a probed search of exactly
    * those cells would scan. [[graft.pipelines.DailyDriver
    * .hybridSearch]]'s auto-depth policy measures this against its
    * memory budget. */
  def cellBytes(spark: SparkSession, path: String, cids: Seq[Long]): Long =
    Versioned.cellBytes(spark, path, cids)

  /** The ids the current delta epoch's stream lineage landed (`b=`
    * census; None when the epoch is not stream-governed) — the day-end
    * reconcile's delta-bounded landed-work probe
    * ([[Versioned.streamDeltaIds]]). */
  def streamDeltaIds(spark: SparkSession, path: String,
                     idCol: String): Option[DataFrame] =
    Versioned.streamDeltaIds(spark, path, idCol)

  /** The subset of `ids` present anywhere in the index — the
    * reconcile's exact repair probe for the rare census-miss case
    * ([[Versioned.presentIdsIn]]). */
  def presentIds(spark: SparkSession, path: String, ids: DataFrame): DataFrame =
    Versioned.presentIdsIn(tryOpen(spark, path), ids)

  /** The POLICY form of [[compact]] — [[LexIndex.compactIfGarbage]]'s
    * LSM sibling: fold the delta only when it holds more than
    * `maxDeltaShare` of the index's bytes. Below the threshold the two
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

  /** Cell-occupancy skew of the live index: the hottest cell's share of
    * all rows (1/k is perfectly balanced, →1.0 is the degenerate drift
    * end state where search decays toward a serial scan of one giant
    * cell). One column-pruned scan of `cid` — at fleet scale this is a
    * per-partition count, no vector payloads move. 0.0 on an empty
    * index (nothing to rebalance). */
  def cellSkew(spark: SparkSession, path: String): Double =
    Versioned.cellSkewOf(tryOpen(spark, path))

  /** The POLICY form of [[retrain]] — the call a maintenance window
    * makes: measure [[cellSkew]] and re-train only when the hottest
    * cell holds more than `maxCellShare` of the index. Below the
    * threshold the index is untouched (no publish, no new version — the
    * measurement is the whole cost), so running this every window is
    * cheap and the expensive re-cell happens only when drift has
    * actually concentrated the corpus. Same no-active-writer handoff
    * contract as [[retrain]].
    *
    * @return true iff a retrain ran */
  def maintainIfSkewed(spark: SparkSession, path: String, idCol: String,
                       vecCol: String, k: Int, maxCellShare: Double = 0.25,
                       iters: Int = 5): Boolean = {
    val skew = cellSkew(spark, path)
    if (skew <= maxCellShare) false
    else { retrain(spark, path, idCol, vecCol, k, iters); true }
  }

  private def callDot(a: Column, b: Column): Column =
    call_function("float_dot", a, b)
}
