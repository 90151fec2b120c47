package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-dup PAIRS → dedup DECISIONS: connected components over the pair
  * graph, each document assigned the minimum doc id of its component as
  * canonical representative; `doc_id == canonical_id` is the keep rule.
  *
  * The component structure is computed by iterative min-label
  * propagation (a join-based Pregel analog): every vertex starts as its
  * own label, each round takes the minimum label among itself and its
  * neighbors, and the loop stops when a round changes nothing. Rounds
  * needed = component diameter — near-dup clusters are small and
  * chain-like at worst, so convergence is a handful of rounds; each
  * round is ONE shuffle join keyed on doc id, so the operator scales
  * with the pair set, never materializing anything quadratic.
  */
object DedupGroups {

  /** @param pairs near-dup pairs (from LSH/SimHash/cosine verification)
    * @return (doc_id, canonical_id) for every doc appearing in a pair
    * @throws IllegalStateException when the label propagation has not
    *         converged within maxIters — silently returning 20-hop-ball
    *         minima would yield multiple keepers per component and
    *         canonical ids pointing at dropped docs */
  def canonicalize(pairs: DataFrame, aCol: String, bCol: String,
                   maxIters: Int = 50,
                   driverEdgeGate: Int = maxDriverEdges): DataFrame = {
    // Iterative algorithms MUST truncate lineage each round: verts_n's
    // plan references verts_{n-1} twice (once directly, once through the
    // neighbor aggregate), so with plain caching the logical plan tree —
    // and with it analysis/cache-lookup time — doubles per round
    // (measured: 2 s, 1.4 s, 3 s, 15 s, 263 s per round before this).
    // localCheckpoint materializes the round eagerly and replaces the
    // plan with the materialized RDD: constant plan size, constant
    // per-round cost.
    // Round 0 + CONTRACTION, computed in PAIR space (one row per pair,
    // not per direction). Near-dup graphs are clique-heavy (a k-way
    // duplicate family contributes k² pairs: sf0.1 measured 6.4M pairs
    // over 4.9k docs), and iterating over the raw edge set pays that k²
    // every round (13 s for 8 rounds at sf0.1). One round of
    // label₀ = min(id, min neighbor) collapses every clique onto its
    // minimum, so re-keying pairs to label space and dropping self-loops
    // shrinks the edge set by orders of magnitude before the loop runs
    // (8 rounds × 12.7M edge-joins → 1 pre-pass + 2 rounds × ~1k).
    // Correct because contraction preserves connectivity, labels are
    // original vertex ids, a component's minimum m always survives as
    // its own label (all of m's neighbors exceed m), and duplicate or
    // bidirectional input pairs only feed idempotent mins. A pair with a
    // null endpoint is no edge: it is dropped here, so every path below
    // sees the same graph.
    val p = pairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint()
    // RAW-pair driver gate (round 14, guide §1.5/§5): when the
    // checkpointed pair set itself is metadata-sized (the incremental
    // and takedown deltas' pair sets — even a mega-component's k²
    // re-decide clique — are delta-sized by construction), the whole
    // label0 + clique-contraction + gated-collect cascade — ~6 driver
    // jobs of k-row work — collapses into ONE bounded collect of the
    // in-memory checkpoint plus an in-memory union-find. The gate
    // probes with a COUNT over the checkpointed blocks (no data to the
    // driver), so an over-gate corpus pays one metadata-cheap job and
    // the collect itself only ever runs under the same 2M-edge driver
    // bound the contracted path carries. Result-identical
    // (DedupGroupsSpec pins all three paths on the same graphs).
    if (p.count() <= driverEdgeGate) {
      val mapping = unionFindAll(p.collect().iterator
        .map(r => (r.getLong(0), r.getLong(1))))
      val session = pairs.sparkSession
      import session.implicits._
      // broadcast-sized by the gate (≤ 2·maxDriverEdges vertices) —
      // the same bound the contracted path's mapping relation carries
      return broadcast(mapping.toSeq.toDF("doc_id", "canonical_id"))
    }
    val label0 = p.select(col("a").as("id"), col("b").as("nbr"))
      .union(p.select(col("b").as("id"), col("a").as("nbr")))
      .groupBy(col("id")).agg(min(col("nbr")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("label"))
      .localCheckpoint()
    // label0 is vertex-sized (one row per distinct doc in any pair) —
    // broadcast it into the relabel joins: the checkpointed pair set has
    // no stats, so Catalyst would otherwise sort-merge the full pair
    // relation twice. At vertex counts beyond the broadcast ceiling drop
    // the hints for the co-located shuffle join (the q32 pattern).
    val contracted = p
      .join(broadcast(label0.select(col("id").as("a"), col("label").as("la"))), "a")
      .join(broadcast(label0.select(col("id").as("b"), col("label").as("lb"))), "b")
      .select(col("la").as("src"), col("lb").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // SIZE-GATED driver union-find on the CONTRACTED graph (round 13,
    // guide §1.2/§2.4). The clique contraction above shrinks the edge
    // set by orders of magnitude (sf0.1: 6.5M pairs → 1,952 contracted
    // edges), after which the join loop's cost is pure per-round JOB
    // overhead: measured 2.9 s of verts0 + 4×(checkpoint+count) rounds
    // against ~0.2 s for one bounded collect + in-memory union-find.
    // The gate keeps the 100 TB contract: a contracted graph past
    // `maxDriverEdges` (an adversarial chain-heavy corpus — contraction
    // leaves ~inter-cluster edges, normally ≪ vertices) falls back to
    // the distributed min-label loop below, which is result-identical
    // (DedupGroupsSpec pins both paths on the same graphs). limit(n+1)
    // bounds the collect itself, so the probe never pulls an oversized
    // edge set into the driver even when the gate loses.
    val gathered = contracted.limit(driverEdgeGate + 1).collect()
    val canonRel: DataFrame =
      if (gathered.length <= driverEdgeGate) {
        val mapping = unionFindMin(gathered.iterator
          .map(r => (r.getLong(0), r.getLong(1))))
        val session = pairs.sparkSession
        import session.implicits._
        // LocalRelation: broadcast-sized by the gate (≤ 2·maxDriverEdges
        // labels), joined below against the vertex-sized label0
        broadcast(mapping.toSeq.toDF("label", "canon"))
      } else {
        val edges = contracted
          .union(contracted.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .localCheckpoint()
        var verts = edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
          .localCheckpoint()
        var changed = 1L
        var i = 0
        while (changed > 0 && i < maxIters) {
          val nbrMin = edges.join(verts, edges("dst") === verts("id"))
            .groupBy(col("src")).agg(min(col("label")).as("nbr"))
            .select(col("src").as("id"), col("nbr"))
          val updated = verts.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("label"),
              least(col("label"), coalesce(col("nbr"), col("label"))).as("next"))
            .localCheckpoint()
          changed = updated.filter(col("next") =!= col("label")).count()
          verts = updated.select(col("id"), col("next").as("label"))
          i += 1
        }
        if (changed > 0)
          throw new IllegalStateException(
            s"component labels not converged after $maxIters rounds " +
              s"($changed still changing) — component diameter exceeds maxIters")
        verts.select(col("id").as("label"), col("label").as("canon"))
      }
    // compose: doc → round-0 label → contracted-graph component minimum
    label0
      .join(canonRel, Seq("label"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("canon"), col("label")).as("canonical_id"))
  }

  /** Driver-edge ceiling for the post-contraction union-find: past this
    * many contracted edges the operator stays fully distributed. 2M
    * edges ≈ 32 MB of longs — metadata-sized next to the pair set the
    * contraction consumed, and overridable for constrained drivers. */
  private[graft] val maxDriverEdges: Int =
    sys.env.getOrElse("SPARK_GRAFT_MAX_DRIVER_EDGES", "2000000").toInt

  /** Min-label union-find: each connected component of the edge set maps
    * every member label to the component's MINIMUM label — exactly the
    * converged fixpoint of the distributed min-label propagation loop.
    * Path-halving + union-by-min keeps it near-linear. */
  private[graft] def unionFindMin(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      var px = parent.getOrElse(x, x)
      while (px != x) {
        val ppx = parent.getOrElse(px, px)
        parent(x) = ppx // path halving
        x = ppx
        px = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min: the smaller label stays the root, so the root of
        // every tree IS its component minimum at all times
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val keys = parent.keys.toArray
    keys.iterator.map(k => k -> find(k)).toMap
  }

  /** [[unionFindMin]] emitting EVERY vertex of the edge set (component
    * roots included, mapped to themselves) — the raw-pair driver path
    * returns this directly as the (doc_id, canonical_id) relation, so
    * the documented "every doc appearing in a pair" contract holds
    * without the distributed label0 compose. */
  private[graft] def unionFindAll(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val verts = scala.collection.mutable.HashSet.empty[Long]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    edges.foreach { e => verts += e._1; verts += e._2; buf += e }
    val m = unionFindMin(buf.iterator)
    verts.iterator.map(v => v -> m.getOrElse(v, v)).toMap
  }

  /** Full keep/drop decision over a corpus: docs in no pair keep
    * themselves; paired docs keep only the component minimum. */
  def keepDecisions(docs: DataFrame, idCol: String,
                    pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = canonicalize(pairs, aCol, bCol)
    docs.select(col(idCol).as("doc_id"))
      .join(canon, Seq("doc_id"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("keep", col("doc_id") === col("canonical_id"))
  }

  /** Keep decision with an explicit preference: each component keeps the
    * member MAXIMIZING `prefCol` (ties → lowest id) — what a curation
    * pipeline ships when the near-dups differ in quality. `docs` must
    * carry (idCol, prefCol); every input column passes through, plus
    * `component` and `keep`. The per-component window is scale-safe:
    * component ids grow with the corpus. */
  def keepBest(docs: DataFrame, idCol: String, prefCol: String,
               pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = canonicalize(pairs, aCol, bCol)
      .withColumnRenamed("doc_id", idCol)
    val w = Window.partitionBy(col("component"))
      .orderBy(col(prefCol).desc, col(idCol).asc)
    docs
      .join(canon, Seq(idCol), "left")
      .withColumn("component", coalesce(col("canonical_id"), col(idCol)))
      .drop("canonical_id")
      .withColumn("keep", row_number().over(w) === 1)
  }
}
