package graft.operators

import graft.sources.DriverParquet
import org.apache.hadoop.fs.{FileStatus, Path}
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
  * Layout and lifecycle — the [[CellStore]], one copy shared with
  * [[PqIndex]]: raw rows (id, vector, norm, cid) under `cells/v=V` and
  * `delta/e=E`, the coarse quantizer under `centroids/v=V`, one atomic
  * `manifest/v=V.txt` publish per mutation, pinned-snapshot reads
  * ([[open]], [[pinned]]), and the shared [[compact]], [[delete]],
  * [[adoptStreamDelta]] and graced [[gc]]. This object keeps what is
  * particular to raw vectors: the max-cosine cell assignment
  * ([[assignFold]]), [[build]]'s quantizer-swap guard, the batch and
  * stream appends ([[append]], [[appendStream]]), the exact-cosine
  * searches, and the re-cells ([[rebuild]], [[retrain]]). Search cost
  * per probe = the probed cells' bytes only; the scan's PartitionFilters
  * prove it (asserted by VecIndexSpec).
  */
object VecIndex extends CellStore("vecindex", "centroids") {

  protected val staleStreamAdvice: String =
    "batches written there would be invisible to readers or celled " +
      "under a retired layout; restart the stream with a fresh " +
      "checkpoint (after an epoch retirement or an empty-delta quantizer " +
      "swap), or resume this checkpoint against re-read centroids (a " +
      "content-equal quantizer re-install — build refuses a true swap " +
      "over a live delta)"

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
   Lease.withLease(spark, path, owner("build")) {
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
    require(!(swapping && hasCells(spark, deltaPath(path, m.epoch))),
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
        centroids.write.mode("overwrite").parquet(quantPath(path, n))
        n
      } else m.cents
    Versioned.publish(spark, path, n, base = n, epoch = m.epoch, cents = centsV)
   }
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
    else Some(DriverParquet.read(spark).load(quantPath(path, m.cents))
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
    Lease.withLease(spark, path, owner("append")) {
      val e = currentManifest(spark, path).epoch
      requireBatchEpoch(spark, path, e)
      assignFold(emb, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("norm"), col("cid"))
        .write.mode("append").partitionBy("cid").parquet(deltaPath(path, e))
    }
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
    Lease.withLease(spark, path, owner("maintenance")) {
      val m = currentManifest(spark, path)
      val n = m.v + 1
      writeCells(assignFold(emb, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("norm"), col("cid")), idCol, path, n)
      centroids.write.mode("overwrite").parquet(quantPath(path, n))
      Versioned.publish(spark, path, n, base = n, epoch = m.epoch + 1L,
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
    Lease.withLease(spark, path, owner("maintenance")) {
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
      writeCells(assignFold(rows, idCol, vecCol, cents)
        .select(col(idCol), col(vecCol), col("norm"), col("cid")), idCol, path, n)
      cents.write.mode("overwrite").parquet(quantPath(path, n))
      Versioned.publish(spark, path, n, base = n, epoch = m.epoch + 1L,
        cents = n)
      cents
    }

  /** Resolved on-disk bytes of the given cells (bulk side through the
    * ownership chain + the live delta's matching cid dirs) —
    * metadata-only content summaries: what a probed search of exactly
    * those cells would scan. [[graft.pipelines.DailyDriver
    * .hybridSearch]]'s auto-depth policy measures this against its
    * memory budget. */
  def cellBytes(spark: SparkSession, path: String, cids: Seq[Long]): Long = {
    val m = currentManifest(spark, path)
    val f = fsOf(spark, new Path(path))
    val want = cids.toSet
    val bulk = cellOwners(spark, path, m.base).iterator.collect {
      case (c, o) if want(c) => dirBytes(f, s"${cellsPath(path, o)}/cid=$c")
    }.sum
    // the live delta: a batch epoch keys cid= at the top; a
    // stream-governed epoch nests them under b=B — sum both shapes
    val dd = new Path(deltaPath(path, m.epoch))
    def cidBytes(st: FileStatus): Long = {
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
