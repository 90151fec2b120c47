package graft.operators

import graft.sources.DriverParquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ (IVFADC) index — the production 100 TB ANN shape
  * PERSISTED: [[VecIndex]] stores raw float vectors per cell, which is
  * the exact-rerank layout; at fleet scale the corpus-resident search
  * state is the PQ CODE table instead — m code bytes + a cell id per
  * vector (~32× smaller than float32 embeddings), with the quantizers
  * pinned beside it. q95 demonstrates the full search plan inline
  * (`pq_encode`/`pq_dtab`/`pq_adc` kernels); this operator owns the
  * storage lifecycle so the recurring workload reads ~nprobe/nc of the
  * code table and nothing corpus-sized is ever re-derived per batch.
  *
  * Layout and lifecycle — the [[CellStore]], one copy shared with
  * [[VecIndex]] (open, probes, stream appends, compact, delete, adopt,
  * gc):
  * {{{
  *   path/cells/v=V/cid=N/part-*.parquet   // (id, codes) — the code table
  *   path/delta/e=E/cid=N/part-*.parquet   // batch appends (job-committed)
  *   path/delta/e=E/b=B/cid=N/...          // OR a stream lineage ([[appendStream]])
  *   path/quant/v=V/part-*.parquet         // ONE row: g_cents, g_ccs, cents, ccs
  *   path/manifest/v=V.txt                 // "base:B", "epoch:E", "cents:Q"
  * }}}
  * Mutations write fresh `v=N+1` paths and publish one atomic manifest
  * rename; readers resolve the manifest once and get pinned snapshots;
  * [[gc]] uses the shared supersession-bounded grace rule. Codes are
  * meaningful only under the quantizer that produced them, so the
  * quantizer row and the code table always publish from the SAME
  * manifest — [[build]] installs both in one rename, and [[append]]
  * encodes against the pinned row ([[openQuant]]).
  *
  * Quantizer shape: `g_cents`/`g_ccs` is the coarse quantizer as ONE
  * 1×nc "subspace" codebook (coarse assignment IS `pq_encode` with a
  * single whole-vector subspace — q95's trick), `cents`/`ccs` the m
  * sub-codebooks over the RESIDUAL (vec − coarse centroid). Build it
  * from [[PQ.trainCodebooks]] output via [[PQ.codebookRow]], or any
  * deterministic convention (the specs use q95's donor-id convention).
  *
  * Quantizer refresh: unlike [[VecIndex.retrain]], the code table is
  * LOSSY — codes cannot be re-encoded from the index's own contents —
  * so refreshing the quantizer against a drifted corpus is a re-encode
  * from the SOURCE embeddings with the new quantizer row: [[refresh]]
  * (one encode scan, the same cost build always pays, published as a
  * drop-in replacement under live readers) gated by [[refreshIfSkewed]]
  * on the measured [[cellSkew]]. A refresh bumps the delta EPOCH in the
  * same publish — delta codes were encoded under the superseded
  * quantizer and are meaningless under the new one, so the retired
  * epoch must never union with the re-encoded cells. ([[build]] keeps
  * the epoch, like [[VecIndex.build]] — it is the fresh-path install;
  * replacing the quantizer of an index that HAS a live delta is
  * refresh's job, not build's.)
  *
  * External cell assignment — the `...Assigned` variants: [[build]]/
  * [[append]]/[[search]] self-assign coarse cells with `pq_encode`
  * (min-L2, q95's convention). A deployment pairing the code table
  * with a raw-vector [[VecIndex]] for exact rerank (the driver's
  * IVFADC stack) must keep ONE cell layout across both stores, and
  * VecIndex assigns by max-cosine — so [[buildAssigned]]/
  * [[appendAssigned]]/[[searchAssigned]]/[[refreshAssigned]] take the
  * caller's assignment as input instead. The ADC math is valid for any
  * assignment rule: codes are always the residual against the ASSIGNED
  * cell's centroid, and a probe's distance table is built against the
  * same cell — only the cell-selection metric is the caller's.
  */
object PqIndex extends CellStore("pqindex", "quant") {

  protected val staleStreamAdvice: String =
    "its batches would be invisible or encoded under a retired " +
      "quantizer; restart the stream with a fresh checkpoint"

  /** The pinned quantizer row (g_cents, g_ccs, cents, ccs) at the
    * current manifest. */
  def openQuant(spark: SparkSession, path: String): DataFrame =
    quantAt(spark, path, currentManifest(spark, path))

  private def quantAt(spark: SparkSession, path: String,
                      m: Manifest): DataFrame = {
    require(m.cents > 0L, s"no quantizer published under $path — build first")
    DriverParquet.read(spark).load(quantPath(path, m.cents))
  }

  /** The coarse centroid of `cell`, off the quantizer row's columns —
    * the residual arithmetic every encode/search site shares. */
  private def coarseCent(cell: Column): Column =
    element_at(element_at(col("g_cents"), 1), cell + lit(1))

  private def residual(vec: Column, cell: Column): Column =
    call_function("float_sub", vec, coarseCent(cell))

  /** Encode a vector relation against a quantizer row: coarse cell +
    * residual PQ codes — ONE map-side kernel pass, no shuffle. */
  private def encode(emb: DataFrame, idCol: String, vecCol: String,
                     quant: DataFrame): DataFrame =
    emb.crossJoin(broadcast(quant))
      .withColumn("cid",
        element_at(call_function("pq_encode", col(vecCol),
          col("g_cents"), col("g_ccs")), 1).cast("int"))
      .withColumn("codes",
        call_function("pq_encode", residual(col(vecCol), col("cid")),
          col("cents"), col("ccs")))
      .select(col(idCol), col("codes"), col("cid"))

  /** [[encode]] with the caller's cell assignment: `assigned` carries a
    * `cid` column (the external layout — e.g. `VecIndex.assignFold`'s
    * cosine cells), codes are the residual against THAT cell. Same
    * map-side single-pass shape; with a [[quantLocal]] row it reads no
    * storage — the composite ingest's per-trigger form. */
  private[graft] def encodeAssigned(assigned: DataFrame, idCol: String,
                                    vecCol: String, quant: DataFrame): DataFrame =
    assigned
      .select(col(idCol), col(vecCol), col("cid").cast("int").as("cid"))
      .crossJoin(broadcast(quant))
      .withColumn("codes",
        call_function("pq_encode", residual(col(vecCol), col("cid")),
          col("cents"), col("ccs")))
      .select(col(idCol), col("codes"), col("cid"))

  /** Land an encoded code table + its quantizer as the next version and
    * publish both in ONE manifest rename — the shared install step of
    * [[build]]/[[buildAssigned]] (epoch kept) and the refresh family
    * (epoch bumped: the delta's codes belong to the superseded
    * quantizer). Caller holds the path lease. */
  private def installLocked(spark: SparkSession, path: String,
                            encoded: DataFrame, idCol: String,
                            quant: DataFrame, bumpEpoch: Boolean): Unit = {
    val m = currentManifest(spark, path)
    val n = m.v + 1
    writeCells(encoded, idCol, path, n)
    quant.write.mode("overwrite").parquet(quantPath(path, n))
    Versioned.publish(spark, path, n, base = n,
      epoch = if (bumpEpoch) m.epoch + 1L else m.epoch, cents = n)
  }

  /** [[build]]'s live-delta guard: build keeps the epoch, so a live
    * delta's codes stay visible — valid ONLY if the quantizer content
    * is unchanged (the delta was encoded under the pinned row). A
    * rebuild that swaps the quantizer over a live delta would pair the
    * old quantizer's codes with the new row — silently wrong ADC
    * distances, the class doc's exact hazard — so refuse loudly and
    * point at [[refresh]], which re-encodes from source and retires
    * the epoch in the same publish. One-row collects. */
  private def requireDeltaCompatible(spark: SparkSession, path: String,
                                     quant: DataFrame): Unit = {
    val m = currentManifest(spark, path)
    if (m.cents > 0L && hasCells(spark, deltaPath(path, m.epoch))) {
      val same = quantContentEquals(quant, quantAt(spark, path, m))
      require(same,
        s"rebuild under a DIFFERENT quantizer with a live delta under " +
          s"$path — the epoch's codes belong to the pinned quantizer and " +
          s"would score silently wrong under the new one; use refresh")
    }
  }

  /** STRUCTURAL content equality of two quantizer rows — field-by-field
    * comparison of the four codebook columns (Spark returns nested Seqs,
    * whose equality is elementwise), never `Row.toString` (formatting of
    * nested arrays and column ORDER would silently decide a correctness
    * guard). One-row collects. */
  private[graft] def quantContentEquals(a: DataFrame, b: DataFrame): Boolean = {
    val cols = Seq("g_cents", "g_ccs", "cents", "ccs")
    val (ra, rb) = (a.select(cols.map(col): _*).collect(),
      b.select(cols.map(col): _*).collect())
    ra.length == rb.length && ra.zip(rb).forall { case (x, y) =>
      cols.indices.forall(i => x.get(i) == y.get(i))
    }
  }

  /** Build the code table from scratch: encode every vector (one
    * map-side kernel scan), land it partitioned by coarse cell, install
    * the quantizer row, publish — codes and quantizer in ONE manifest
    * step. The delta side (if any) is untouched, like [[VecIndex.build]]
    * — guarded: a live delta is only kept under an UNCHANGED quantizer
    * ([[requireDeltaCompatible]]).
    *
    * @param quant ONE row (g_cents, g_ccs, cents, ccs) — see the class
    *              doc; materialized small, broadcast into the encode */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            quant: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    Lease.withLease(spark, path, owner("build")) {
      requireDeltaCompatible(spark, path, quant)
      installLocked(spark, path, encode(emb, idCol, vecCol, quant),
        idCol, quant, bumpEpoch = false)
    }
  }

  /** [[build]] with the caller's cell assignment (`assigned` =
    * (idCol, vecCol, cid)) — the class doc's external-layout variant. */
  def buildAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                    quant: DataFrame, path: String): Unit = {
    val spark = assigned.sparkSession
    Lease.withLease(spark, path, owner("build")) {
      requireDeltaCompatible(spark, path, quant)
      installLocked(spark, path,
        encodeAssigned(assigned, idCol, vecCol, quant),
        idCol, quant, bumpEpoch = false)
    }
  }

  /** Batch incremental append: encode the arrivals against the PINNED
    * quantizer and land them in the current delta epoch in one
    * job-committed write — [[VecIndex.append]]'s discipline, including
    * the replay probe ([[containsAny]]) and the sink-log guard. */
  def append(emb: DataFrame, idCol: String, vecCol: String,
             path: String): Unit = {
    val spark = emb.sparkSession
    Lease.withLease(spark, path, owner("append")) {
      val m = currentManifest(spark, path)
      requireBatchEpoch(spark, path, m.epoch)
      encode(emb, idCol, vecCol, quantAt(spark, path, m))
        .write.mode("append").partitionBy("cid").parquet(deltaPath(path, m.epoch))
    }
  }

  /** [[append]] with the caller's cell assignment (`assigned` =
    * (idCol, vecCol, cid)); codes still come from the PINNED quantizer —
    * only the cell layout is external. Same one-discipline guard and
    * job-committed replay discipline. */
  def appendAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit = {
    val spark = assigned.sparkSession
    Lease.withLease(spark, path, owner("append")) {
      val m = currentManifest(spark, path)
      requireBatchEpoch(spark, path, m.epoch)
      encodeAssigned(assigned, idCol, vecCol, quantAt(spark, path, m))
        .write.mode("append").partitionBy("cid").parquet(deltaPath(path, m.epoch))
    }
  }

  /** Streaming incremental append — [[VecIndex.appendStream]]'s
    * code-table sibling: encode each arriving micro-batch against the
    * quantizer PINNED AT STREAM START and land it under
    * `delta/e=E/b=batchId/cid=N` (the batch-id partition makes a
    * checkpoint replay overwrite its own batch — exactly-once at the
    * directory level).
    *
    * Per-batch fence, BOTH coordinates: a concurrent [[compact]]
    * retires the epoch (batches written there are invisible and
    * eventually collected), and a concurrent [[build]]/[[refresh]]
    * swaps the QUANTIZER — codes this stream encodes under the pinned
    * row are meaningless under the new one even if the epoch survived.
    * Either movement fails the batch loudly; restart the stream (fresh
    * checkpoint) against the current manifest. One lineage per epoch:
    * a fresh checkpoint refuses an epoch already holding `b=` batches
    * (numbering would restart at 0 and overwrite them), and adopting
    * an epoch holding batch-appended `cid=` files is refused in the
    * other direction, like [[append]]'s guard. */
  def appendStream(embStream: DataFrame, idCol: String, vecCol: String,
                   path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = embStream.sparkSession
    val m0 = pinStreamAppend(spark, path, checkpoint)
    // the sink fences then writes under the index lease
    // ([[VecIndex.appendStream]]'s rationale): maintenance mutations hold
    // the same lease, so a compact/build/refresh can never publish
    // between the manifest check and the write — a bare re-read would
    // lose the batch silently (written into a retired directory, offsets
    // then committed, never replayed). Bounded-patience acquire: a
    // minutes-long maintenance pass holding the lease must not kill the
    // stream — the batch waits, then the manifest check decides loudly.
    encode(embStream, idCol, vecCol, quantAt(spark, path, m0))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendStreamBatch(spark, path, m0, batch, batchId)
        ()
      }
      .start()
  }

  /** The pinned quantizer row materialized as a DRIVER-LOCAL relation —
    * a composite ingest loads it ONCE at stream start (the per-batch
    * fence already pins `cents`, so the row cannot change under a live
    * lineage) instead of re-reading the quantizer parquet inside every
    * micro-batch's encode. One row: coarse centroids + sub-codebooks. */
  private[graft] def quantLocal(spark: SparkSession, path: String,
                                m0: Manifest): DataFrame = {
    val q = quantAt(spark, path, m0)
    spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
  }

  /** Quantizer refresh — the class doc's drift-repair path: re-encode
    * the SOURCE embeddings under the new quantizer row and publish the
    * re-built code table, the new quantizer, AND a delta-epoch bump in
    * ONE manifest rename. The bump is load-bearing: the current delta's
    * codes were produced by the superseded quantizer and scoring them
    * against the new one is silently wrong distances, so the retired
    * epoch must drop out of [[open]] atomically with the quantizer
    * swap (graced [[gc]] collects it later). Pinned readers keep their
    * matched old pair. The source must cover every id the index should
    * keep serving — the caller owns it (a lossy table cannot re-derive
    * its own vectors).
    *
    * Mutation cost = [[build]]'s one encode scan + the quantizer
    * training the caller did to produce `quant` — corpus-linear, which
    * is why [[refreshIfSkewed]] gates it on the measured [[cellSkew]]. */
  def refresh(emb: DataFrame, idCol: String, vecCol: String,
              quant: DataFrame, path: String, gcGraceMs: Long = 0L): Unit = {
    val spark = emb.sparkSession
    Lease.withLease(spark, path, owner("maintenance")) {
      installLocked(spark, path, encode(emb, idCol, vecCol, quant),
        idCol, quant, bumpEpoch = true)
      gcLocked(spark, path, gcGraceMs)
    }
  }

  /** [[refresh]] with the caller's cell assignment (`assigned` =
    * (idCol, vecCol, cid)) — the external-layout variant, for the
    * driver's shared-coarse-quantizer stack. */
  def refreshAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                      quant: DataFrame, path: String,
                      gcGraceMs: Long = 0L): Unit = {
    val spark = assigned.sparkSession
    Lease.withLease(spark, path, owner("maintenance")) {
      installLocked(spark, path,
        encodeAssigned(assigned, idCol, vecCol, quant),
        idCol, quant, bumpEpoch = true)
      gcLocked(spark, path, gcGraceMs)
    }
  }

  /** The POLICY form of [[refresh]] — [[VecIndex.maintainIfSkewed]] for
    * the lossy table: measure [[cellSkew]] and re-encode only when the
    * hottest cell holds more than `maxCellShare` of the codes. Below
    * the threshold the one cid scan is the whole cost and `quant` is
    * NEVER evaluated (quantizer training is the expensive half — the
    * by-name parameter keeps the below-threshold call measurement-only).
    *
    * @param emb   the source embeddings ([[refresh]]'s contract)
    * @param quant the NEW quantizer row, by name — trained only when
    *              the policy fires
    * @return true iff a refresh ran */
  def refreshIfSkewed(emb: DataFrame, idCol: String, vecCol: String,
                      path: String, maxCellShare: Double = 0.5,
                      gcGraceMs: Long = 0L)(quant: => DataFrame): Boolean = {
    val spark = emb.sparkSession
    val skew = cellSkew(spark, path)
    if (skew <= maxCellShare) false
    else { refresh(emb, idCol, vecCol, quant, path, gcGraceMs); true }
  }

  /** Derive a quantizer row from a GIVEN coarse quantizer plus training
    * embeddings: `coarse` (cid, centroid) becomes the 1×nc whole-vector
    * codebook, and the m sub-codebooks train on the RESIDUALS of
    * `assigned` (idCol, vecCol, cid — each row's vector minus ITS
    * ASSIGNED cell's centroid) via [[PQ.trainCodebooks]]. This is how a
    * deployment shares ONE coarse layout between this table and a
    * raw-vector [[VecIndex]] built from the same centroids: train here,
    * then [[buildAssigned]] with the same assignment.
    *
    * Coarse cids must be exactly 0..nc−1: `g_cents` is positional, so a
    * gapped cid set (a Lloyd cell that lost every member) would silently
    * index the wrong centroid — fail loudly instead.
    *
    * @param m     subspace count (vector dim must divide evenly)
    * @param k     centroids per sub-codebook
    * @param iters Lloyd rounds for the sub-codebooks */
  def quantFrom(coarse: DataFrame, assigned: DataFrame, idCol: String,
                vecCol: String, m: Int, k: Int, iters: Int): DataFrame = {
    val shape = coarse
      .agg(min(col("cid")).cast("long").as("lo"),
        max(col("cid")).cast("long").as("hi"), count(lit(1)).as("n"),
        count_distinct(col("cid")).as("nd"),
        min(size(col("centroid"))).as("dim"))
      .collect().head
    require(!shape.isNullAt(2) && shape.getLong(2) > 0L,
      "quantFrom needs a non-empty coarse quantizer")
    // distinct-count too: duplicates satisfy min/max/count bounds only
    // together with a gap, but a duplicated row alone (a join fan-out)
    // would shift every later centroid's position just the same
    require(shape.getLong(0) == 0L && shape.getLong(1) == shape.getLong(2) - 1L &&
      shape.getLong(3) == shape.getLong(2),
      s"coarse cids must be contiguous, duplicate-free 0..n-1 (g_cents is " +
        s"positional); got [${shape.getLong(0)}, ${shape.getLong(1)}], " +
        s"${shape.getLong(3)} distinct over ${shape.getLong(2)} rows")
    val dim = shape.getInt(4)
    require(m > 0 && dim % m == 0, s"vector dim $dim not divisible into m=$m subspaces")
    val coarseRow = PQ.codebookRow(coarse.select(lit(0).as("j"),
        col("cid").cast("int").as("c_id"), col("centroid").as("cent"),
        call_function("float_dot", col("centroid"), col("centroid")).as("cc")))
      .select(col("cents").as("g_cents"), col("ccs").as("g_ccs"))
      .localCheckpoint() // 1 row, read by the residual scan and the final pair
    val resid = assigned
      .select(col(idCol), col(vecCol), col("cid").cast("int").as("cid"))
      .crossJoin(broadcast(coarseRow))
      .select(col(idCol), residual(col(vecCol), col("cid")).as("__res"))
    val cb = PQ.trainCodebooks(
        PQ.subspaces(resid, idCol, "__res", m, dim / m), k, iters)
      .select(col("j"), col("cid").as("c_id"), col("cent"), col("cc"))
    // 1 row, checkpointed: consumers evaluate the quantizer several
    // times (delta-compat guard, encode broadcast, the persisted write)
    // — each would re-run codebookRow's aggregation off the trainer's
    // last checkpointed round otherwise
    coarseRow.crossJoin(PQ.codebookRow(cb)).localCheckpoint()
  }

  /** ADC top-k over the persisted code table: the probes' cells and
    * per-cell asymmetric distance tables derive from the PINNED
    * quantizer (workload-sized, broadcast); the code scan prunes to the
    * probed cells at file listing; `pq_adc` folds the m code lookups
    * per candidate. Identical arithmetic to q95's inline plan —
    * PqIndexSpec pins row equality.
    *
    * @param probes (q_id, q_vec) — workload-sized
    * @param k      results per probe
    * @param nprobe coarse cells searched per probe */
  def search(spark: SparkSession, path: String, probes: DataFrame,
             idCol: String, k: Int, nprobe: Int): DataFrame = {
    // ONE manifest resolution pins quantizer AND code table to the same
    // published version — resolving them separately could pair new codes
    // with an old quantizer across a concurrent build's publish, and
    // pq_adc would score silently wrong distances
    val m = Versioned.current(spark, path)
    val quant = quantAt(spark, path, m)
    val idx = openAt(spark, path, m).getOrElse(
      throw new IllegalArgumentException(s"no index layout under $path"))
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("qc_d2").asc, col("cid").asc)
    // workload-sized; materialized ONCE (the cell-id collect below and
    // the broadcast join would otherwise each re-run the probes × nc
    // coarse table and its rank window)
    val probeCells = probes.crossJoin(broadcast(quant))
      .select(col("q_id"), col("q_vec"), col("g_cents"), col("cents"), col("ccs"),
        posexplode(element_at(call_function("pq_dtab", col("q_vec"),
          col("g_cents"), col("g_ccs")), 1)).as(Seq("cid", "qc_d2")))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nprobe)
      .withColumn("dtab",
        call_function("pq_dtab", residual(col("q_vec"), col("cid")),
          col("cents"), col("ccs")))
      .select(col("q_id"), col("cid"), col("dtab"))
      .localCheckpoint()
    adcTopK(idx, probeCells, idCol, k)
  }

  /** [[search]] with the caller's cell assignment: `probes` arrive as
    * (q_id, q_vec, q_cid) — one row per (probe, probed cell), the
    * multi-probe shape [[VecIndex.search]] takes — and the ADC scan
    * runs over exactly those cells instead of self-selecting by coarse
    * L2. The distance tables still come from the PINNED quantizer (ONE
    * manifest resolution pairs them with the codes). Contract: q_cid
    * must index the pinned quantizer's coarse cells — i.e. the caller's
    * assignment layout is the one the index was built/appended with
    * (the `...Assigned` mutators' layout). */
  def searchAssigned(spark: SparkSession, path: String, probes: DataFrame,
                     idCol: String, k: Int): DataFrame = {
    val m = Versioned.current(spark, path)
    val quant = quantAt(spark, path, m)
    val idx = openAt(spark, path, m).getOrElse(
      throw new IllegalArgumentException(s"no index layout under $path"))
    val probeCells = probes
      .select(col("q_id"), col("q_vec"), col("q_cid").cast("int").as("cid"))
      .crossJoin(broadcast(quant))
      .withColumn("dtab",
        call_function("pq_dtab", residual(col("q_vec"), col("cid")),
          col("cents"), col("ccs")))
      .select(col("q_id"), col("cid"), col("dtab"))
      .localCheckpoint()
    adcTopK(idx, probeCells, idCol, k)
  }

  /** The shared ADC scan: prune the code table to the probed cells
    * (tiny cell-id collect → pushed partition filter), broadcast-join
    * the per-(probe, cell) distance tables, fold the m code lookups
    * per candidate, top-k per probe. */
  private def adcTopK(idx: DataFrame, probeCells: DataFrame,
                      idCol: String, k: Int): DataFrame = {
    // tiny collect (≤ probes × nprobe cell ids) drives partition pruning
    val cells = probeCells.select(col("cid")).distinct()
      .collect().map(_.get(0))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d2").asc, col(idCol).asc)
    idx
      .filter(col("cid").isin(cells.toIndexedSeq: _*))
      .join(broadcast(probeCells), Seq("cid"))
      .withColumn("approx_d2",
        call_function("pq_adc", col("codes"), col("dtab")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cid"),
        col("approx_d2"))
  }
}
