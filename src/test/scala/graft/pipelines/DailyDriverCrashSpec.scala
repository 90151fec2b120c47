package graft.pipelines

import graft.SparkSpecBase
import graft.operators.{AtomicSwap, Lease}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash + fencing contracts for the daily driver's storage protocol:
  *
  *  - the decision-table and sig-index swaps are CRASH-ATOMIC — a kill at
  *    any point of [[graft.operators.AtomicSwap.swap]] leaves the next
  *    open serving either the complete old or the complete new table
  *    (both crash directions injected below, mirroring VecIndexSpec's
  *    interrupted-swap test);
  *  - a second concurrent writer FAILS FAST on the lease and mutates
  *    nothing; a CRASHED writer's stale lease is taken over.
  */
class DailyDriverCrashSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  private def freshDriver(): (String, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-crash")
    DailyDriver.init(spark, a, bench, dir, cfg)
    (dir, docs.filter(col("doc_id") % 4 === 0), bench)
  }

  test("interrupted decision-table swap: pre-commit rolls back, post-commit rolls forward") {
    val (dir, _, _) = freshDriver()
    val dec = s"$dir/decisions"
    val fs = fsOf(dec)
    val before = canon(DailyDriver.openDecisions(spark, dir))

    // --- crash BEFORE the commit marker: replacement debris, no marker —
    // the old table must serve reads unchanged (debris invisible)
    spark.read.parquet(dec).limit(2).write.parquet(dec + "__new")
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(before),
      "uncommitted swap debris leaked into the decision table")

    // --- crash AFTER the commit marker, before the delete: a complete
    // distinguishable replacement + marker, old dst still present — the
    // next open must roll FORWARD to the replacement
    val repl = spark.read.parquet(dec).drop("batch")
      .filter(col("doc_id") % 2 === 0).localCheckpoint()
    val want = canon(repl)
    fs.delete(new Path(dec + "__new"), true)
    repl.write.parquet(dec + "__new")
    fs.create(new Path(dec + "__commit"), true).close()
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want),
      "post-marker crash did not roll forward")
    assert(!fs.exists(new Path(dec + "__new")), "roll-forward left tmp")
    assert(!fs.exists(new Path(dec + "__commit")), "roll-forward left marker")

    // --- crash BETWEEN delete(dst) and rename: dst gone, tmp + marker
    // remain — without the marker discipline this is the lost-table state
    val repl2 = spark.read.parquet(dec).drop("batch").limit(3).localCheckpoint()
    val want2 = canon(repl2)
    repl2.write.parquet(dec + "__new")
    fs.create(new Path(dec + "__commit"), true).close()
    fs.delete(new Path(dec), true)
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(want2),
      "delete/rename gap lost the decision table")
  }

  test("interrupted sig-index re-layout (maintain) repairs on the next open") {
    val (dir, _, _) = freshDriver()
    val idx = s"$dir/sig_index"
    val fs = fsOf(idx)
    val before = canon(DailyDriver.openSigIndex(spark, dir))
    // post-commit crash with dst already deleted — the worst direction
    val repl = spark.read.parquet(idx).localCheckpoint()
    repl.write.parquet(idx + "__new")
    fs.create(new Path(idx + "__commit"), true).close()
    fs.delete(new Path(idx), true)
    assert(canon(DailyDriver.openSigIndex(spark, dir)).sameElements(before),
      "sig-index roll-forward diverged (pure re-layout must keep rows)")
    // and maintain itself still lands cleanly afterwards
    DailyDriver.maintain(spark, dir)
    assert(canon(DailyDriver.openSigIndex(spark, dir)).sameElements(before),
      "maintain after repair changed the signature index rows")
  }

  test("second concurrent writer fails fast and mutates nothing") {
    val (dir, delta, bench) = freshDriver()
    val decBefore = canon(spark.read.parquet(s"$dir/decisions"))
    val sigBefore = canon(spark.read.parquet(s"$dir/sig_index"))
    val held = Lease.acquire(spark, dir, "in-flight-step")
    val e = intercept[IllegalStateException] {
      DailyDriver.step(spark, delta, bench, dir, cfg)
    }
    assert(e.getMessage.contains("in-flight-step"), s"lease holder not named: $e")
    assert(canon(spark.read.parquet(s"$dir/decisions")).sameElements(decBefore),
      "fenced-out step mutated the decision table")
    assert(canon(spark.read.parquet(s"$dir/sig_index")).sameElements(sigBefore),
      "fenced-out step mutated the signature index")
    intercept[IllegalStateException] { DailyDriver.maintain(spark, dir) }
    Lease.release(spark, held)
    // with the lease released the same step succeeds
    DailyDriver.step(spark, delta, bench, dir, cfg)
  }

  test("a crashed writer's stale lease is taken over; release is nonce-fenced") {
    val (dir, delta, bench) = freshDriver()
    val fs = fsOf(dir)
    // forge a lease whose heartbeat is past the staleness bound — the
    // on-disk state a killed step leaves behind
    val p = new Path(s"$dir/__lease")
    val out = fs.create(p, true)
    out.write(s"dead-step|${System.currentTimeMillis() - 31L * 60 * 1000}|old-nonce"
      .getBytes("UTF-8"))
    out.close()
    DailyDriver.step(spark, delta, bench, dir, cfg) // takes the lease over
    assert(!fs.exists(p), "takeover step did not release its lease")
    // nonce fencing: releasing a token that lost its lease must not
    // delete the CURRENT holder's lease
    val loser = Lease.Token(dir, "stale-nonce")
    val winner = Lease.acquire(spark, dir, "live")
    Lease.release(spark, loser)
    assert(fs.exists(p), "release deleted a lease it no longer owns")
    Lease.release(spark, winner)
    assert(!fs.exists(p), "owner release failed")
  }

  test("AtomicSwap.swap survives repeated use and repair is idempotent") {
    import spark.implicits._
    val dir = tempDir("swap-unit")
    val t = s"$dir/t"
    AtomicSwap.swap(spark, t)(tmp => Seq(1, 2, 3).toDF("x").write.parquet(tmp))
    AtomicSwap.swap(spark, t)(tmp => Seq(4, 5).toDF("x").write.parquet(tmp))
    AtomicSwap.repair(spark, t); AtomicSwap.repair(spark, t)
    assert(spark.read.parquet(t).as[Int].collect().sorted.sameElements(Array(4, 5)))
  }

  test("repair defers to a live marker-window lock and breaks a crashed one") {
    import spark.implicits._
    val dir = tempDir("swap-lock")
    val t = s"$dir/t"
    val fs = fsOf(t)
    AtomicSwap.swap(spark, t)(tmp => Seq(1).toDF("x").write.parquet(tmp))
    // forge a post-marker crash WITH the window lock still held
    spark.read.parquet(t).localCheckpoint().write.parquet(t + "__new")
    fs.create(new Path(t + "__commit"), true).close()
    def writeLock(ts: Long): Unit = {
      val o = fs.create(new Path(t + "__lock"), true)
      o.write(ts.toString.getBytes("UTF-8")); o.close()
    }
    // live holder (fresh heartbeat): repair must NOT interleave — it
    // waits out the deadline and fails loudly instead of deleting the
    // table under the holder
    writeLock(System.currentTimeMillis())
    intercept[IllegalStateException] {
      AtomicSwap.repair(spark, t, lockStaleMs = 60000L, deadlineMs = 800L)
    }
    assert(fs.exists(new Path(t + "__commit")), "repair ran despite a live lock")
    // crashed holder (stale heartbeat): repair breaks the lock and rolls
    // forward
    writeLock(System.currentTimeMillis() - 120000L)
    AtomicSwap.repair(spark, t, lockStaleMs = 1000L)
    assert(!fs.exists(new Path(t + "__commit")), "repair did not land")
    assert(!fs.exists(new Path(t + "__lock")), "repair left the broken lock")
    assert(spark.read.parquet(t).as[Int].collect().sameElements(Array(1)))
  }

  test("a step replayed after a crash before the decisions swap converges (no double merge/append)") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-crash-replay")
    DailyDriver.init(spark, a, bench, dir, cfg, Some(emb))
    val fs = fsOf(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    // save the pre-step decision table, run the step cleanly, capture
    // the converged end state of all four stores
    val saved = new Path(s"$dir/__decisions_saved")
    FileUtil.copy(fs, new Path(s"$dir/decisions"), fs, saved, false, conf)
    DailyDriver.step(spark, delta, bench, dir, cfg, Some(emb))
    val wantDec = canon(DailyDriver.openDecisions(spark, dir))
    val wantSig = canon(DailyDriver.openSigIndex(spark, dir))
    def postings() = graft.operators.LexIndex
      .openPostings(spark, s"$dir/lex_index").collect().map(_.toString).sorted
    val wantLex = postings()
    def vecRows() = DailyDriver.openVecIndex(spark, dir)
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val wantVec = vecRows()
    def pqRows() = graft.operators.PqIndex
      .open(spark, DailyDriver.pqIndexDir(dir))
      .select(col("doc_id"), col("cid"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).sortBy(_._1)
    val wantPq = pqRows()
    // reproduce the crash state "appends landed, swap didn't": restore
    // the OLD decision table; sig + lex + vec + pq indexes keep the
    // step's work
    fs.delete(new Path(s"$dir/decisions"), true)
    FileUtil.copy(fs, saved, fs, new Path(s"$dir/decisions"), true, conf)
    // the RETRY must skip every landed half and still swap decisions in
    DailyDriver.step(spark, delta, bench, dir, cfg, Some(emb))
    assert(canon(DailyDriver.openDecisions(spark, dir)).sameElements(wantDec),
      "replayed step's decision table diverged from the clean run")
    assert(canon(DailyDriver.openSigIndex(spark, dir)).sameElements(wantSig),
      "replayed step double-appended the signature index")
    assert(postings().sameElements(wantLex),
      "replayed step double-merged the lexical index")
    assert(vecRows().sameElements(wantVec),
      "replayed step double-appended the vector index")
    assert(pqRows().length == wantVec.length && pqRows().sameElements(wantPq),
      "replayed step double-appended the PQ code table")
  }

  test("a crash between a committed vec retrain and the pq refresh re-arms persistently") {
    import graft.operators.{PqIndex, VecIndex}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-crash-desync")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb))
    val vdir = DailyDriver.vecIndexDir(dir)
    val pqdir = DailyDriver.pqIndexDir(dir)
    def layout(open: => org.apache.spark.sql.DataFrame): Array[(Long, Int)] =
      open.select(col("doc_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
    // simulate the torn maintain: the raw index's retrain COMMITTED
    // (new quantizer + re-celled rows published), then the process died
    // before the PQ refresh — the state an in-memory trigger forgets.
    // k differs from init's so the committed layout actually moves
    // (lloyd is deterministic: same k over the same rows would land on
    // init's own quantizer and the fixture would be vacuous)
    VecIndex.retrain(spark, vdir, "doc_id", "embedding", k = 5, iters = 2)
    assert(!layout(DailyDriver.openVecIndex(spark, dir))
      .sameElements(layout(PqIndex.open(spark, pqdir))),
      "fixture vacuous: retrain did not move the shared cell layout")
    // while desynced, the PQ search path GATES itself off: nominations
    // from the stranded layout would silently lose recall, so the call
    // must serve the exact scan's rows instead
    val qs = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 300)
      .select(col("doc_id").as("q_id"), col("text"))
    val ps = emb.join(qs.select(col("q_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    def fused(pqDepth: Int): Array[String] =
      DailyDriver.hybridSearch(spark, dir, qs, ps, pqDepth = pqDepth)
        .collect().map(_.toString).sorted
    assert(fused(DailyDriver.ExhaustiveRerank).sameElements(fused(0)),
      "desynced PQ path did not fall back to the exact scan")
    // the operability readout surfaces the desync on the pq row (and
    // only there) — what a scheduler polls to know the next maintain
    // needs a source
    val stDesync = DailyDriver.status(spark, dir).map(s => s.store -> s).toMap
    assert(!stDesync("pq_index").aligned,
      s"status missed the persisted desync: $stDesync")
    assert(stDesync("vec_index").aligned && stDesync("lex_index").aligned,
      s"desync leaked onto other stores' rows: $stDesync")
    // a STEP in the desync window must neither crash nor deepen the
    // desync: its cids come from the retrained layout while the code
    // table still pins the OLD quantizer, so appendAssigned would
    // residualize against the wrong (possibly shorter — ANSI
    // out-of-range) centroid row. The gated step skips the PQ half —
    // searches fall back to the exact scan anyway — and the pending
    // sourced refresh re-encodes the arrivals from the decision table.
    val deltaDocs = docs.filter(col("doc_id") % 7 === 3).limit(5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val deltaEmb = emb.withColumn("doc_id", col("doc_id") + 1000000L)
    val pqRowsAtDesync = layout(PqIndex.open(spark, pqdir))
    DailyDriver.step(spark, deltaDocs, bench, dir, cfg, Some(deltaEmb))
    assert(layout(PqIndex.open(spark, pqdir)).sameElements(pqRowsAtDesync),
      "a step in the desync window appended to the stranded code table")
    val allEmb = emb.unionByName(deltaEmb)
    // a maintain WITHOUT a source must refuse loudly: the compact-only
    // fallback cannot heal a persisted desync, so a green-looking pass
    // would leave every pqDepth search silently degraded forever
    val vecBefore = layout(DailyDriver.openVecIndex(spark, dir))
    val pqBefore = layout(PqIndex.open(spark, pqdir))
    val noSrc = intercept[IllegalArgumentException] {
      DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0,
        vecGcGraceMs = 0L)
    }
    assert(noSrc.getMessage.contains("DESYNCED"), noSrc.getMessage)
    assert(layout(DailyDriver.openVecIndex(spark, dir))
      .sameElements(vecBefore) &&
      layout(PqIndex.open(spark, pqdir)).sameElements(pqBefore),
      "a refused maintain still mutated a vector store")
    // the next maintain reads the PERSISTED alignment (quantizer
    // content comparison), re-arms the refresh, and re-syncs — no
    // retrain fires this pass, so an in-memory flag would skip it
    val rep = DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0,
      vecGcGraceMs = 0L, embeddings = Some(allEmb))
    assert(!rep.pqAlignedBefore && rep.pqRefreshed && !rep.vecRetrained,
      s"repair pass misreported itself: $rep")
    assert(layout(DailyDriver.openVecIndex(spark, dir))
      .sameElements(layout(PqIndex.open(spark, pqdir))),
      "maintain did not repair the desynced code table (the gated " +
        "step's skipped arrivals must come back via the refresh)")
    assert(DailyDriver.status(spark, dir).forall(_.aligned),
      "status still reports a desync after the repair")
    // an ABSENT code table (a pre-PQ deployment, or an init that
    // crashed between the two index builds) must make the pqDepth path
    // fall back to the exact scan, not crash in openQuant — the same
    // always-correct degradation as the desync gate
    fsOf(dir).delete(new Path(pqdir), true)
    assert(fused(DailyDriver.ExhaustiveRerank).sameElements(fused(0)),
      "pqDepth search on an absent code table did not fall back")
  }

  test("a torn lease file is treated as garbage, not a permanent block") {
    val (dir, delta, bench) = freshDriver()
    val fs = fsOf(dir)
    // a writer killed mid-write leaves a lease missing its nonce field —
    // unreadable, so its age is unknowable; it must not brick the dir
    val p = new Path(s"$dir/__lease")
    val out = fs.create(p, true)
    out.write("dead-step|123".getBytes("UTF-8")); out.close()
    DailyDriver.step(spark, delta, bench, dir, cfg) // takes over the torn lease
    assert(!fs.exists(p), "takeover step did not release its lease")
  }

  test("a fresh heartbeat fences an old lease; only a matching nonce counts") {
    val dir = tempDir("lease-hb")
    val fs = fsOf(dir)
    fs.mkdirs(new Path(dir))
    def write(name: String, body: String): Unit = {
      val out = fs.create(new Path(s"$dir/$name"), true)
      out.write(body.getBytes("UTF-8")); out.close()
    }
    // lease itself is past staleness, but its holder is still beating
    val oldTs = System.currentTimeMillis() - 31L * 60 * 1000
    write("__lease", s"slow-step|$oldTs|slow-nonce")
    write(".lease-hb-1", s"slow-step|${System.currentTimeMillis()}|slow-nonce")
    val e = intercept[IllegalStateException](
      Lease.acquire(spark, dir, "contender"))
    assert(e.getMessage.contains("slow-step"),
      s"beating holder not honored: ${e.getMessage}")
    // a fresh beat under the WRONG nonce is debris, not freshness: the
    // stale lease must be taken over, and the dead nonce's beats swept
    fs.delete(new Path(s"$dir/.lease-hb-1"), false)
    write(".lease-hb-2", s"ghost|${System.currentTimeMillis()}|other-nonce")
    write(".lease-hb-3", s"slow-step|$oldTs|slow-nonce")
    val won = Lease.acquire(spark, dir, "contender")
    assert(!fs.exists(new Path(s"$dir/.lease-hb-3")),
      "takeover left the dead holder's beat debris")
    Lease.release(spark, won)
    assert(!fs.exists(new Path(s"$dir/__lease")))
  }

  test("withLease keeps beating: a step running past staleMs stays fenced") {
    val dir = tempDir("lease-renew")
    val fs = fsOf(dir)
    fs.mkdirs(new Path(dir))
    val staleMs = 600L // renewal thread beats every 200 ms
    Lease.withLease(spark, dir, "long-step", staleMs) {
      val until = System.currentTimeMillis() + 3 * staleMs
      var attempts = 0
      while (System.currentTimeMillis() < until) {
        val e = intercept[IllegalStateException](
          Lease.acquire(spark, dir, "contender", staleMs))
        assert(e.getMessage.contains("long-step"),
          s"mid-step takeover of a live, beating writer: ${e.getMessage}")
        attempts += 1
        Thread.sleep(100)
      }
      assert(attempts >= 10, s"contention loop too short ($attempts attempts)")
    }
    // release swept the lease AND every beat file
    val leftovers = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n == "__lease" || n.startsWith(".lease-hb-"))
    assert(leftovers.isEmpty, s"release left fencing debris: ${leftovers.toSeq}")
    Lease.release(spark, Lease.acquire(spark, dir, "post")) // writable again
  }
}
