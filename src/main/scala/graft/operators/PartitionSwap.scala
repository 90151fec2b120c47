package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-atomic replacement of a SUBSET of a partitioned table's
  * partitions — [[AtomicSwap]]'s commit-marker + roll-forward
  * discipline, generalized from "replace the whole directory" to
  * "replace exactly these `key=value` partition directories (and
  * delete those)". The delta-grain persistence primitive: a daily
  * step over a batch-partitioned decision table publishes only the
  * arrivals' partition plus the partitions its re-decided components
  * live in, instead of rewriting the corpus-rows table wholesale.
  *
  * Why Spark's dynamic partition overwrite is not enough on its own:
  * its per-partition commits are independent, so a crash mid-publish
  * leaves SOME partitions new and some old — a torn table a replayed
  * step would then read as its `prev`, breaking the recompute's input
  * contract. Here the publish is two-phase against the filesystem:
  *
  *  1. the writer materializes the replacement partitions under
  *     `dst__stage/<key>=<v>/…` (crash here: debris with no marker —
  *     uncommitted, the old table serves reads; the next swap clears
  *     it);
  *  2. the commit marker `dst__pcommit` is created listing the
  *     partitions to DELETE (emptied ones — they have no staged dir to
  *     announce them); from this instant the change is durable and
  *     every later open rolls FORWARD;
  *  3. apply: each staged partition dir replaces its live counterpart
  *     (delete old + atomic rename in), each listed delete-partition
  *     is removed — every step idempotent, re-driven by [[repair]]
  *     after a crash at any point (a staged dir already renamed away
  *     is simply absent; a delete already done is a no-op);
  *  4. the marker and the (now empty) stage dir are removed.
  *
  * [[repair]] must run before every read of a table managed this way
  * (the open-repairs contract, same as [[AtomicSwap.repair]] — the two
  * compose on the driver's tables: AtomicSwap owns wholesale
  * rebuilds/restores, PartitionSwap owns the daily delta-grain
  * publishes). The marker window and repair body serialize through
  * [[AtomicSwap.withTableLock]] on the same `dst`, so the two
  * protocols can never interleave their metadata windows on one
  * table. Like AtomicSwap, this is a single-writer, read-retry
  * discipline for tables mutated BETWEEN protocol steps, not under
  * live concurrent scans.
  */
object PartitionSwap {

  private def stagePath(dst: String) = new Path(dst + "__stage")
  private def markerPath(dst: String) = new Path(dst + "__pcommit")

  /** Replace the partitions `write` stages (every `<key>=<value>` dir
    * it leaves under the stage path) and delete the partitions named
    * by `drop`, atomically under crashes. `write` receives the stage
    * directory and must fully materialize complete replacement
    * partitions there — e.g.
    * `df.write.partitionBy("batch").parquet(stage)`; Spark's job
    * commit makes the staged set complete-or-absent. Partition dir
    * names in `drop` are the literal `key=value` strings. */
  def swap(spark: SparkSession, dst: String, drop: Seq[String] = Seq.empty)
          (write: String => Unit): Unit = {
    val dstP = new Path(dst)
    val fs = fsOf(spark, dstP)
    repair(spark, dst) // finish any interrupted predecessor first
    val stage = stagePath(dst)
    fs.delete(stage, true) // uncommitted debris from an earlier crash
    write(stage.toString)
    AtomicSwap.withTableLock(fs, dst) {
      // THE commit point: the marker carries the delete-set (staged
      // partitions announce themselves; deletions have nothing on disk
      // to speak for them after a crash), so it must appear ATOMICALLY
      // — a bare create-then-write torn mid-write would leave an empty
      // marker that repair treats as a full commit with a LOST drop
      // list (an emptied victim partition silently kept). Write-tmp +
      // atomic rename, the content-bearing-marker discipline (the tmp
      // unchecksummed, as Lease.commitFile writes it: the rename would
      // strand a `.crc` sidecar).
      val tmp = new Path(dst + "__pcommit.tmp")
      val out = Lease.unchecksummed(fs).create(tmp, true)
      try out.write(drop.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      require(Lease.atomicRename(fs, tmp, markerPath(dst)),
        s"partition-set commit failed: $tmp -> ${markerPath(dst)}")
      apply(fs, dst)
      fs.delete(markerPath(dst), false)
      fs.delete(stage, true)
    }
  }

  /** Roll an interrupted [[swap]] forward. Marker present → the staged
    * set is durable: re-drive the per-partition replaces and the
    * marker's deletes (all idempotent), then clear marker + stage.
    * Marker absent → any stage debris is uncommitted and stays
    * invisible (the next swap clears it). Serialized against writers
    * and other repairs by the table lock; one existence probe when
    * healthy. */
  def repair(spark: SparkSession, dst: String,
             lockStaleMs: Long = 60000L, deadlineMs: Long = 120000L): Unit = {
    val dstP = new Path(dst)
    val fs = fsOf(spark, dstP)
    if (!fs.exists(markerPath(dst))) return
    AtomicSwap.withTableLock(fs, dst, lockStaleMs, deadlineMs) {
      if (fs.exists(markerPath(dst))) { // re-check under the lock
        apply(fs, dst)
        fs.delete(markerPath(dst), false)
        fs.delete(stagePath(dst), true)
      }
    }
  }

  /** The apply phase, idempotent: every partition dir still under the
    * stage replaces its live counterpart; every partition the marker
    * lists is deleted. Spark job-commit artifacts (`_SUCCESS`) in the
    * stage root are ignored. */
  private def apply(fs: FileSystem, dst: String): Unit = {
    val stage = stagePath(dst)
    if (fs.exists(stage))
      for (st <- fs.listStatus(stage)
           if st.isDirectory && st.getPath.getName.contains("=")) {
        val target = new Path(dst, st.getPath.getName)
        fs.delete(target, true)
        require(Lease.atomicRename(fs, st.getPath, target),
          s"partition publish failed: ${st.getPath} -> $target")
      }
    for (name <- Lease.readRawBytes(fs, markerPath(dst)).toSeq
         .flatMap(_.split('\n')).map(_.trim) if name.nonEmpty)
      fs.delete(new Path(dst, name), true)
  }
}
