package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Deterministic Lloyd k-means over embedding columns — the trainer for
  * the IVF coarse quantizer (q55 demonstrates the SEARCH plan with fixed
  * centroids; this produces trained ones from the corpus itself).
  *
  * RNG-free by construction: initialization takes the k lowest-id
  * vectors, assignment breaks cosine ties toward the lowest cell id.
  * The one nondeterminism left is IEEE reduction order inside the
  * per-cell mean (partial-aggregate order over partitions) — last-bit
  * jitter, the same caveat as any distributed float mean; cell
  * MEMBERSHIP is stable because assignments compare cosines whose gaps
  * dwarf that jitter on real corpora.
  *
  * ID precondition: `idCol` must be unique per input row. The kernel
  * assignment emits `nprobe` cells per input ROW (the former
  * `row_number` window partitioned by id would have collapsed
  * duplicate-id rows to one set per id); KMeansSpec pins the
  * kernel-vs-window equality, ties/NaN/nprobe>k included.
  *
  * Scale shape per round: centroids BROADCAST to the assignment (map
  * work, same as q55's plan); the update is one shuffle keyed on
  * (cell, dim index) — both grow with data/k, never with iteration
  * count. The training input is materialized ONCE (localCheckpoint)
  * and every round's plan references only that constant-size relation
  * plus the previous round's k-row centroid subtree, so the logical
  * plan stays bounded across iterations (the DedupGroups lesson) while
  * the per-round localCheckpoint ACTIONS round 13 paid — one driver
  * job per round for k-row relations — are gone (round 14, guide
  * §1.5/§5: at toy scale the trainer was driver-job-constant-bound).
  */
object KMeans {

  /** @param emb     (idCol, vecCol: array<float>) input vectors —
    *                idCol unique (see the object doc)
    * @param k       number of cells
    * @param iters   Lloyd rounds (fixed count — IVF trainers run a small
    *                constant number; convergence detection would add one
    *                action per round for little benefit)
    * @return trained centroids (cid, centroid: array<float>) —
    *         materialized (one k-row localCheckpoint), so consumers'
    *         plans see a bounded relation and repeated consumption
    *         never re-evaluates the training run */
  def lloyd(emb: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): DataFrame =
    lloydPrepared(prepSpread(emb, idCol, vecCol), k, iters)

  /** Prepared + spread + MATERIALIZED training input — exposed
    * (package-private) so composed operators (SemanticDedup's
    * train+assign+size, q77's train-then-search) prep and shuffle the
    * corpus ONCE instead of once per stage (round 14, guide §1.2: the
    * k-sizing count, the trainer checkpoint and the assignment spread
    * each re-ran prep over the scan). */
  private[graft] def prepSpread(emb: DataFrame, idCol: String,
                                vecCol: String): DataFrame =
    maybeSpread(prep(emb, idCol, vecCol)).localCheckpoint()

  /** [[lloyd]] over an already-prepared (__id, __v, __norm) relation
    * from [[prepSpread]]. */
  private[graft] def lloydPrepared(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    var centroids = initCentroids(vecs, k)
    for (i <- 0 until iters) {
      val assigned = withTopCells(vecs, centroids, 1)
        .select(col("cid"), col("__v"))
      // elementwise mean via posexplode: one shuffle keyed on (cid, dim)
      val means = assigned
        .select(col("cid"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("cid"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("__d"), col("__m")))).as("__dm"))
        .select(col("cid"),
          transform(col("__dm"), e => e.getField("__m").cast(FloatType)).as("c_vec"))
      centroids = means
        .withColumn("c_norm", sqrt(callDot(col("c_vec"), col("c_vec"))))
      // NO per-round localCheckpoint (round 14): each round's centroid
      // relation is consumed exactly once — as the NEXT round's packed
      // broadcast — so the eager per-round materialization was one pure
      // driver-job constant per round. The plan grows by one bounded
      // k-row subtree per round (vecs itself is checkpointed); a long
      // trainer run still truncates lineage every few rounds so
      // analysis cost stays bounded.
      if (i % 4 == 3 && i != iters - 1) centroids = centroids.localCheckpoint()
    }
    // ONE final checkpoint (round 14, measured): consumers embed the
    // trained centroids in their own plans (search joins, assignment
    // broadcasts) — an un-truncated trainer subtree re-enters THEIR
    // analysis/planning on every action and measurably gives back the
    // per-round job savings (q77 slice A/B); it also keeps the
    // evaluate-once float semantics for multi-consumer callers.
    centroids.select(col("cid"), col("c_vec").as("centroid")).localCheckpoint()
  }

  /** Renumber a quantizer's cids to contiguous 0..n−1 in cid order.
    * [[lloyd]] drops a cell that loses every member (its groupBy key
    * simply vanishes), and POSITIONAL consumers of a coarse quantizer —
    * `PqIndex.quantFrom`'s `g_cents` row indexes centroids by cid — hard-
    * require 0..n−1, so every path that PUBLISHES trained centroids
    * (`VecIndex.retrain`, the daily driver's init) renumbers first. The
    * window is partition-less but bounded: a coarse quantizer is k rows
    * by construction. Identity whenever no cell emptied. */
  def contiguous(centroids: DataFrame): DataFrame =
    centroids.select(col("cid"), col("centroid"))
      .withColumn("cid", (row_number().over(
        Window.orderBy(col("cid").asc)) - 1).cast("int"))

  /** Normalized training input: (__id, __v: array<float>, __norm), zero
    * vectors dropped. Exposed (package-private) so PlanContractSpec can
    * audit the un-checkpointed init plan. */
  private[graft] def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      .select(col(idCol).as("__id"), col(vecCol).cast(ArrayType(FloatType)).as("__v"))
      .withColumn("__norm", sqrt(callDot(col("__v"), col("__v"))))
      .filter(col("__norm") > 0.0)

  /** Init = the k lowest-id vectors. orderBy(..).limit(k) plans as a
    * distributed TakeOrdered (per-partition top-k + driver merge of k·P
    * rows) — the earlier row_number() over a partition-less window pulled
    * EVERY vector through one task. The window below runs over the
    * already-reduced k rows only, so its single partition is bounded. */
  private[graft] def initCentroids(vecs: DataFrame, k: Int): DataFrame = {
    val w = Window.orderBy(col("__id").asc)
    vecs
      .orderBy(col("__id").asc).limit(k)
      .withColumn("__rn", row_number().over(w))
      .select((col("__rn") - 1).cast("int").as("cid"), col("__v").as("c_vec"),
        col("__norm").as("c_norm"))
  }

  /** Cell assignment with trained centroids — the q55 plan's front half,
    * exposed so an index build can persist (vec, cell) partitioned by
    * cell. `idCol` unique per row (object doc). */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame =
    assignTop(emb, idCol, vecCol, centroids, nprobe = 1).drop("prb")

  /** Top-`nprobe` cell assignment: each vector's `nprobe` nearest cells
    * with their probe rank (`prb` = 1 is the primary cell [[assign]]
    * returns). Multi-cell assignment is the recall knob for
    * cluster-BLOCKED operators ([[SemanticDedup]]): a pair straddling a
    * cell boundary still co-locates when either member's second-nearest
    * cell is the other's — the dedup-side analog of q80's multi-probe
    * IVF search. Candidate volume grows ~nprobe², so the knob trades
    * exactly like LSH band width. `idCol` unique per row (object doc:
    * the kernel emits nprobe cells per input ROW). */
  def assignTop(emb: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, nprobe: Int): DataFrame =
    assignTopPrepared(maybeSpread(prep(emb, idCol, vecCol)), idCol,
      centroids, nprobe)

  /** [[assignTop]] over an already-prepared (and spread/materialized)
    * vector relation — the shared-prep fast path ([[prepSpread]]). */
  private[graft] def assignTopPrepared(vecs: DataFrame, idCol: String,
                                       centroids: DataFrame,
                                       nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1; got $nprobe")
    val cents = centroids
      .select(col("cid"), col("centroid").as("c_vec"))
      .withColumn("c_norm", sqrt(callDot(col("c_vec"), col("c_vec"))))
    withTopCells(vecs, cents, nprobe)
      .select(col("__id").as(idCol), col("cid"), col("cos"), col("prb"))
  }

  /** CONDITIONAL deterministic-key spread of a prepared vector relation
    * across the session's shuffle parallelism — EXPLICIT partition count
    * so AQE's byte-based coalescing cannot fold a small relation with a
    * large downstream fan-out into one task (scale-adaptive: the count
    * tracks the resolved shuffle parallelism, cores-sized locally,
    * AQE-advisory on a cluster).
    *
    * Round 14 (VERDICT #2): the round-13 spread was UNCONDITIONAL and
    * cost q77 a third of its kernel win — one extra exchange + a
    * 32-task stage over rows that were parallel enough. Now the spread
    * applies only when the input is demonstrably narrow-and-skinny:
    *  - a NARROW plan (any leaf relation — V1 or V2 scan, checkpoint,
    *    local rows — under project/filter only) whose
    *    partition count is below half the session parallelism gets the
    *    spread (the 1-2-partition small-file scan that single-threaded
    *    q92's fan-out in round 13 — and, at corpus scale, a scan
    *    already exceeds the parallelism, so the spread vanishes there
    *    ENTIRELY instead of re-shuffling the corpus);
    *  - a WIDE plan (join/aggregate upstream — the daily driver's
    *    candidate join) keeps the spread: its output partitioning is
    *    whatever AQE coalesced the upstream exchange to, which
    *    round 13 measured as the q134/q135 single-threading.
    * The partition probe runs ONLY on narrow plans, where building the
    * scan RDD is metadata work (file listing, no job). */
  private[operators] def maybeSpread(vecs: DataFrame): DataFrame = {
    val p = vecs.sparkSession.sessionState.conf.numShufflePartitions
    val narrow = vecs.queryExecution.optimizedPlan.find {
      case _: org.apache.spark.sql.catalyst.plans.logical.Project => false
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter => false
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => false
      case _ => true
    }.isEmpty
    if (narrow && vecs.rdd.getNumPartitions * 2 >= p) vecs
    else vecs.repartition(p, col("__id"))
  }

  /** Top-`nprobe` cells per prepared vector — MAP-SIDE: the centroid
    * relation (cid, c_vec, c_norm) collapses to ONE broadcast row of
    * cid-sorted parallel arrays and each vector runs the native
    * `cell_top` codegen kernel over it, so NOTHING crosses an exchange
    * (round 13, guide §2.4 + the expressions/codegen rule — a
    * higher-order-function fold here would run interpreted per row).
    * The former shape — crossJoin(broadcast(cents)) + row_number window
    * over __id — paid a local sort of n·k rows plus a full n-row
    * exchange per call (and per LLOYD ITERATION, there carrying the
    * embedding arrays), for an argmax each row can compute alone;
    * InferWindowGroupLimit bounded the exchange's row count but not the
    * exchange or the sorts.
    *
    * Exactness: the kernel evaluates the SAME cosine tree and selects
    * by the window's own SortOrder comparator (descending
    * SQLOrderingUtil.compareDoubles, ties → lower cid via the sorted
    * positions) — see [[graft.expressions.CellTop]]; KMeansSpec and the
    * q77/q90/q92/q99 oracle rows pin the equality bitwise.
    *
    * @param vecs (__id, __v, __norm) from [[prep]]
    * @return (__id, __v, __norm, cid, cos, prb) — prb = 1 is nearest */
  private[graft] def withTopCells(vecs: DataFrame, centroids: DataFrame,
                                  nprobe: Int): DataFrame = {
    val packed = broadcast(centroids
      .agg(array_sort(collect_list(
        struct(col("cid"), col("c_vec"), col("c_norm")))).as("__c"))
      .select(
        transform(col("__c"), c => c.getField("cid")).as("__cids"),
        transform(col("__c"), c => c.getField("c_vec")).as("__cvecs"),
        transform(col("__c"), c => c.getField("c_norm")).as("__cnorms")))
    vecs
      .crossJoin(packed)
      .select(col("__id"), col("__v"), col("__norm"), col("__cids"),
        posexplode(call_function("cell_top",
          col("__v"), col("__cvecs"), col("__cnorms"), lit(nprobe)))
          .as(Seq("__p", "__s")))
      .select(col("__id"), col("__v"), col("__norm"),
        element_at(col("__cids"), col("__s").getField("pos") + 1).as("cid"),
        col("__s").getField("cos").as("cos"),
        (col("__p") + 1).as("prb"))
  }

  private def callDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("float_dot", a, b)
}
