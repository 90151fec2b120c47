package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted inverted index's contracts: search reads only the
  * query terms' buckets (partition pruning at file listing), results
  * are identical to the inline scorer, incremental maintenance
  * (merge/delete) is exact vs a fresh build, compaction preserves rows
  * while collecting garbage, and the versioned-manifest publication
  * makes every mutation crash-atomic. */
class LexIndexSpec extends SparkSpecBase {

  private def docsAt(p: String) = spark.read.parquet(s"$p/documents.parquet")

  private lazy val path = tempDir("lexindex")
  private lazy val tf = {
    val t = UnigramLm.termFreq(
      docsAt("/root/testdata/sf0.001").filter(col("doc_id") % 97 =!= 0),
      "doc_id", "text").cache()
    LexIndex.build(t, path)
    t
  }

  private def someQterms() = {
    import spark.implicits._
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val terms = dfreq.orderBy(col("df").asc, col("term").asc)
      .limit(6).select("term").as[String].collect()
    (terms.take(3).map(t => (0L, t)) ++ terms.drop(3).map(t => (1L, t)))
      .toSeq.toDF("q_id", "term")
  }

  private def postingRows(p: String): Array[String] =
    LexIndex.openPostings(spark, p)
      .select("term", "doc_id", "tf", "dl", "df", "tb")
      .collect().map(_.toString).sorted

  private def statsRows(p: String): Array[String] =
    LexIndex.stats(spark, p).collect().map(_.toString)

  test("search scan is partition-pruned on the term bucket") {
    val res = LexIndex.search(spark, path, someQterms(), k = 5)
    val scan = res.queryExecution.executedPlan.toString
    // the BUCKET scan must carry a non-trivial tb filter (the 1-row
    // stats scan legitimately has none)
    val bucketLines = scan.linesIterator.filter(_.contains("/buckets")).toSeq
    assert(bucketLines.nonEmpty, s"no bucket scan in plan:\n$scan")
    assert(bucketLines.forall(l => l.contains("PartitionFilters: [") &&
      l.contains("tb")),
      s"bucket scan is not partition-pruned on tb:\n${bucketLines.mkString("\n")}")
  }

  test("merge(build(A), tf(B)) equals build(A ∪ B) — postings, df, and stats") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val incPath = tempDir("lexmerge_inc")
    val fullPath = tempDir("lexmerge_full")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), incPath)
    LexIndex.merge(spark, incPath, UnigramLm.termFreq(b, "doc_id", "text"))
    LexIndex.build(UnigramLm.termFreq(a.unionByName(b), "doc_id", "text"), fullPath)
    val (inc, full) = (postingRows(incPath), postingRows(fullPath))
    assert(inc.length === full.length,
      s"posting counts differ: ${inc.length} vs ${full.length}")
    assert(inc.sameElements(full), "incremental postings diverge from full rebuild")
    assert(statsRows(incPath).sameElements(statsRows(fullPath)),
      s"stats diverge: ${statsRows(incPath).toSeq} vs ${statsRows(fullPath).toSeq}")
  }

  test("merge reads its tf input once per row") {
    val docs = docsAt("/root/testdata/sf0.001")
    val p = tempDir("lexmerge_once")
    LexIndex.build(UnigramLm.termFreq(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"), p)
    val delta = UnigramLm.termFreq(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      .localCheckpoint()
    // a deterministic pass-through projection that counts the rows it
    // sees: every evaluation of the merge's input adds one per tf row.
    // It wraps `tf`, the column no null-key filter reads (a filter over
    // a wrapped key would evaluate the UDF once more per row).
    val reads = spark.sparkContext.longAccumulator("lex merge tf reads")
    val counted = udf { (tf: Long) => reads.add(1L); tf }
    LexIndex.merge(spark, p, delta.withColumn("tf", counted(col("tf"))))
    val rows = delta.count()
    assert(reads.sum == rows, s"merge read ${reads.sum} tf rows for a $rows-row delta")
  }

  test("streaming ingest equals the batch build; a replayed batch is a landed no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b1 = docs.filter(col("doc_id") % 3 === 2)
    val b2 = docs.filter(col("doc_id") % 3 === 0)
    val strPath = tempDir("lexstream")
    val fullPath = tempDir("lexstream_full")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), strPath)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = LexIndex.appendStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", strPath, tempDir("lexstream-ckpt"))
    try {
      input.addData(rows(b1)); q.processAllAvailable()
      input.addData(rows(b2)); q.processAllAvailable()
    } finally q.stop()
    LexIndex.build(UnigramLm.termFreq(docs, "doc_id", "text"), fullPath)
    val (str, full) = (postingRows(strPath), postingRows(fullPath))
    assert(str.length === full.length,
      s"posting counts differ: ${str.length} vs ${full.length}")
    assert(str.sameElements(full),
      "stream-ingested postings diverge from the batch build")
    assert(statsRows(strPath).sameElements(statsRows(fullPath)),
      s"stats diverge: ${statsRows(strPath).toSeq} vs ${statsRows(fullPath).toSeq}")
    // a batch whose ids already landed — the checkpoint-replay shape
    // (crash between the manifest publish and the offset commit) — is
    // fenced to a no-op by the containsAny probe, never double-merged
    val before = postingRows(strPath)
    val stBefore = statsRows(strPath)
    val input2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q2 = LexIndex.appendStream(input2.toDF().toDF("doc_id", "text"),
      "doc_id", "text", strPath, tempDir("lexstream-ckpt2"))
    try { input2.addData(rows(b2)); q2.processAllAvailable() } finally q2.stop()
    assert(postingRows(strPath).sameElements(before),
      "replayed batch double-merged its postings")
    assert(statsRows(strPath).sameElements(stBefore),
      "replayed batch moved the corpus stats")
    // a MIXED batch — already-indexed ids alongside new ones, the
    // re-formed-boundaries / broken-id-contract shape — must fail
    // loudly: a replay lands whole or not at all, so skipping it would
    // silently drop the new documents, and merging would double-count
    // the landed ones
    val input3 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q3 = LexIndex.appendStream(input3.toDF().toDF("doc_id", "text"),
      "doc_id", "text", strPath, tempDir("lexstream-ckpt3"))
    try {
      input3.addData(rows(b2).take(3) :+ (900000001L, "genuinely new arrival text"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.toString + "\n" + chain(t.getCause)
      assert(chain(e).contains("mixes"),
        s"mixed batch not refused loudly:\n${chain(e)}")
    } finally q3.stop()
    assert(postingRows(strPath).sameElements(before),
      "refused mixed batch still mutated the index")
    assert(statsRows(strPath).sameElements(stBefore),
      "refused mixed batch moved the corpus stats")
    // a ZERO-TERM doc (tokenizes to nothing — lands no postings, no
    // docmap row, no stats delta) must not skew the fence, which keys
    // on the tf-derived ids: first ingest merges the real docs around
    // it, and a REPLAY of a batch containing one is a landed no-op,
    // not a permanently-wedged "mixed" misread (present < nIds forever)
    val input4 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt4 = tempDir("lexstream-ckpt4")
    val q4 = LexIndex.appendStream(input4.toDF().toDF("doc_id", "text"),
      "doc_id", "text", strPath, ckpt4)
    val zbatch = Seq((900000002L, "zero term fence fixture doc"),
      (900000003L, "   "))
    try { input4.addData(zbatch); q4.processAllAvailable() } finally q4.stop()
    val afterZ = postingRows(strPath)
    val stAfterZ = statsRows(strPath)
    assert(afterZ.length > before.length,
      "zero-term companion blocked the real doc's merge")
    // replay the same batch (fresh checkpoint, same rows — the
    // crash-between-publish-and-offset-commit shape)
    val input5 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q5 = LexIndex.appendStream(input5.toDF().toDF("doc_id", "text"),
      "doc_id", "text", strPath, tempDir("lexstream-ckpt5"))
    try { input5.addData(zbatch); q5.processAllAvailable() } finally q5.stop()
    assert(postingRows(strPath).sameElements(afterZ),
      "replayed zero-term batch was not a landed no-op")
    assert(statsRows(strPath).sameElements(stAfterZ),
      "replayed zero-term batch moved the corpus stats")
  }

  test("search equals the inline scorer on the same tf relation") {
    val qterms = someQterms()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_s").desc, col("doc_id").asc)
    val inline = Bm25.scorePairs(tf, qterms.join(dfreq, Seq("term")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "doc_id", "n_hit", "bm25_s")
      .collect().map(_.toString).sorted
    val indexed = LexIndex.search(spark, path, qterms, k = 5)
      .collect().map(_.toString).sorted
    assert(indexed.nonEmpty, "indexed search returned nothing")
    assert(indexed.sameElements(inline),
      s"index/inline divergence:\nindex=${indexed.take(3).mkString(";")}\n" +
        s"inline=${inline.take(3).mkString(";")}")
  }

  test("delete(build(A ∪ B), ids(B)) equals build(A) — the merge discipline in reverse") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val delPath = tempDir("lexdel_inc")
    val aPath = tempDir("lexdel_full")
    LexIndex.build(
      UnigramLm.termFreq(a.unionByName(b), "doc_id", "text"), delPath)
    LexIndex.delete(spark, delPath, b.select("doc_id"))
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), aPath)
    val (got, want) = (postingRows(delPath), postingRows(aPath))
    assert(got.length === want.length,
      s"posting counts differ after delete: ${got.length} vs ${want.length}")
    assert(got.sameElements(want), "post-delete postings diverge from build(A)")
    assert(statsRows(delPath).sameElements(statsRows(aPath)),
      s"stats diverge after delete: ${statsRows(delPath).toSeq} vs ${statsRows(aPath).toSeq}")
    // absent ids are no-ops
    import spark.implicits._
    val before = LexIndex.currentVersion(spark, delPath)
    LexIndex.delete(spark, delPath, Seq(-1L, -2L).toDF("doc_id"))
    assert(LexIndex.currentVersion(spark, delPath) === before,
      "deleting absent ids published a new version")
  }

  test("delete size-gate: the forced shuffle-join branch (maxBroadcastIds=0) is result-identical") {
    // a source-scale retraction must not broadcast millions of victim
    // ids through the driver; forcing the threshold to 0 exercises the
    // un-broadcast semi/anti branch end-to-end on the same fixture as
    // the broadcast-path test above
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val delPath = tempDir("lexdel_gate")
    val aPath = tempDir("lexdel_gate_full")
    LexIndex.build(
      UnigramLm.termFreq(a.unionByName(b), "doc_id", "text"), delPath)
    LexIndex.delete(spark, delPath, b.select("doc_id"), maxBroadcastIds = 0L)
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), aPath)
    assert(postingRows(delPath).sameElements(postingRows(aPath)),
      "shuffle-join delete branch diverges from build(A)")
    assert(statsRows(delPath).sameElements(statsRows(aPath)),
      "shuffle-join delete branch diverges on stats")
  }

  test("merge → compact → search is row-identical and garbage-collects old versions") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val p = tempDir("lexcompact")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), p)
    LexIndex.merge(spark, p, UnigramLm.termFreq(b, "doc_id", "text"))
    val beforeRows = postingRows(p)
    val beforeStats = statsRows(p)
    val qterms = someQterms()
    val beforeSearch = LexIndex.search(spark, p, qterms, k = 5)
      .collect().map(_.toString).sorted
    LexIndex.compact(spark, p)
    assert(postingRows(p).sameElements(beforeRows), "compaction changed rows")
    assert(statsRows(p).sameElements(beforeStats), "compaction changed stats")
    val afterSearch = LexIndex.search(spark, p, qterms, k = 5)
      .collect().map(_.toString).sorted
    assert(afterSearch.sameElements(beforeSearch), "compaction changed search results")
    // GC: exactly one version directory left on each side
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions(dir: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/$dir")).map(_.getPath.getName)
        .filter(_.startsWith("v=")).toSeq
    assert(versions("buckets") === Seq("v=3"), s"stale bucket versions: ${versions("buckets")}")
    assert(versions("stats") === Seq("v=3"), s"stale stats versions: ${versions("stats")}")
    assert(versions("docmap") === Seq("v=3"), s"stale docmap versions: ${versions("docmap")}")
    assert(versions("manifest") === Seq("v=3.txt"), s"stale manifests: ${versions("manifest")}")
  }

  test("delete's bucket probe reads only the doc→bucket sidecar; sidecar stays consistent") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val c = docs.filter(col("doc_id") % 5 === 1)
    val p = tempDir("lexdm")
    // the sidecar must track every mutation kind
    def consistent(stage: String): Unit = {
      val dm = LexIndex.openDocmap(spark, p)
      assert(dm.nonEmpty, s"$stage: no sidecar for a freshly-written index")
      val got = dm.get.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val want = LexIndex.openPostings(spark, p)
        .select(col("doc_id"), col("tb")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(want),
        s"$stage: sidecar diverges from postings (${got.length} vs ${want.length} pairs)")
    }
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), p)
    consistent("build")
    LexIndex.merge(spark, p, UnigramLm.termFreq(b, "doc_id", "text"))
    consistent("merge")
    // the probe's plan: every FileScan must read docmap files, never
    // buckets (victims passed as a LOCAL relation so the only file
    // reads in the plan are the probe's own)
    import spark.implicits._
    val victimIds = c.select("doc_id").collect().map(_.getLong(0)).toSeq.toDF("doc_id")
    val probe = LexIndex.victimBuckets(spark, p, victimIds)
    val scans = probe.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, "no FileScan in the victim-bucket probe plan")
    assert(scans.forall(_.contains("/docmap/")),
      s"victim-bucket probe reads outside the sidecar:\n${scans.mkString("\n")}")
    assert(!scans.exists(_.contains("/buckets/")),
      s"victim-bucket probe scans postings:\n${scans.mkString("\n")}")
    LexIndex.delete(spark, p, c.select("doc_id"))
    consistent("delete")
    LexIndex.compact(spark, p)
    consistent("compact")
    // fallback: wiping the sidecar must not break delete (pre-sidecar index)
    val fsys = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$p/docmap"), true)
    assert(LexIndex.openDocmap(spark, p).isEmpty, "sidecar still open after wipe")
    val before = postingRows(p)
    LexIndex.delete(spark, p, Seq(-1L).toDF("doc_id")) // absent id → no-op
    assert(postingRows(p).sameElements(before), "fallback delete changed rows")
  }

  test("a merge interrupted before the manifest flip leaves the old index readable; replay completes it") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val crashed = tempDir("lexcrash")
    val aOnly = tempDir("lexcrash_a")
    val fullPath = tempDir("lexcrash_full")
    val tfB = UnigramLm.termFreq(b, "doc_id", "text")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), crashed)
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), aOnly)
    // Simulate the crash: everything a merge writes BEFORE the manifest
    // rename is some subset of fresh v=2 data — publication is the only
    // step that changes what readers see, so "partial v=2 data, no v=2
    // manifest" is the complete space of mid-merge crash states. Plant
    // a worst case: a full v=2 bucket set AND half-written garbage.
    tfB.limit(50)
      .withColumn("dl", lit(1L)).withColumn("df", lit(1L))
      .withColumn("tb", lit(0L))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$crashed/buckets/v=2")
    // the old index must be untouched: same rows, stats, and search as
    // the never-crashed twin
    assert(LexIndex.currentVersion(spark, crashed) === 1L,
      "crash debris changed the published version")
    assert(postingRows(crashed).sameElements(postingRows(aOnly)),
      "crash debris leaked into the read path")
    assert(statsRows(crashed).sameElements(statsRows(aOnly)),
      "crash debris changed stats")
    // replay the merge — debris is overwritten, result exact
    LexIndex.merge(spark, crashed, tfB)
    LexIndex.build(UnigramLm.termFreq(a.unionByName(b), "doc_id", "text"), fullPath)
    assert(postingRows(crashed).sameElements(postingRows(fullPath)),
      "replayed merge diverges from full rebuild")
    assert(statsRows(crashed).sameElements(statsRows(fullPath)),
      "replayed merge stats diverge")
  }

  test("null term/doc_id tf rows are dropped at build and merge (ADVICE r13)") {
    import spark.implicits._
    // the window-denormalized build must not admit rows the former
    // dl/df inner joins dropped: a null term would land a
    // tb=__HIVE_DEFAULT_PARTITION__ directory (manifest listing throws)
    // and a null doc_id would shift the stats' distinct count
    val clean = Seq(
      ("alpha", 1L, 2L), ("beta", 1L, 1L), ("alpha", 2L, 3L))
      .toDF("term", "doc_id", "tf")
    val dirty = clean.unionByName(Seq(
      (null.asInstanceOf[String], 3L, 5L)).toDF("term", "doc_id", "tf"))
      .unionByName(Seq(("gamma", null.asInstanceOf[java.lang.Long], 7L))
        .toDF("term", "doc_id", "tf").select(col("term"),
          col("doc_id").cast("long"), col("tf").cast("long")))
    val pClean = tempDir("lex-clean")
    val pDirty = tempDir("lex-dirty")
    LexIndex.build(clean, pClean)
    LexIndex.build(dirty, pDirty)
    assert(postingRows(pDirty).toSeq == postingRows(pClean).toSeq)
    assert(statsRows(pDirty).toSeq == statsRows(pClean).toSeq)
    // merge path: a delta carrying null keys folds to the clean delta
    val delta = Seq(("delta", 9L, 1L)).toDF("term", "doc_id", "tf")
    val dirtyDelta = delta.unionByName(
      Seq((null.asInstanceOf[String], 10L, 2L)).toDF("term", "doc_id", "tf"))
    LexIndex.merge(spark, pClean, delta)
    LexIndex.merge(spark, pDirty, dirtyDelta)
    assert(postingRows(pDirty).toSeq == postingRows(pClean).toSeq)
    assert(statsRows(pDirty).toSeq == statsRows(pClean).toSeq)
  }

  test("an empty build is a valid index that merges grow (zero-corpus stats, not nulls)") {
    val p = tempDir("lexempty")
    val docs = docsAt("/root/testdata/sf0.001").limit(20)
    val tfAll = UnigramLm.termFreq(docs, "doc_id", "text")
    LexIndex.build(tfAll.filter(lit(false)), p)
    val st0 = LexIndex.stats(spark, p).collect()
    assert(st0.length === 1 && st0(0).getLong(0) === 0L &&
      st0(0).getLong(1) === 0L && st0(0).getLong(2) === 0L,
      s"empty build's stats are not zero-filled: ${st0.toSeq}")
    assert(LexIndex.openPostings(spark, p).count() === 0L)
    LexIndex.merge(spark, p, tfAll)
    val fullPath = tempDir("lexempty_full")
    LexIndex.build(tfAll, fullPath)
    assert(postingRows(p).sameElements(postingRows(fullPath)),
      "merge into an empty index diverges from a fresh build")
    assert(statsRows(p).sameElements(statsRows(fullPath)),
      "stats after merging into an empty index diverge")
  }

  test("rebuild on a live index equals a fresh build; pinned readers hold; gc collects the stranded version") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val ab = docs.filter(col("doc_id") % 3 =!= 2)
    val p = tempDir("lexrebuild")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), p)
    // pin a reader on the pre-rebuild manifest resolution
    val pinned = LexIndex.openPostings(spark, p)
      .select("term", "doc_id", "tf", "dl", "df", "tb")
    val wantA = postingRows(p)
    LexIndex.rebuild(UnigramLm.termFreq(ab, "doc_id", "text"), p)
    // live index = exactly a fresh build over the new corpus
    val fresh = tempDir("lexrebuild-fresh")
    LexIndex.build(UnigramLm.termFreq(ab, "doc_id", "text"), fresh)
    assert(postingRows(p).sameElements(postingRows(fresh)),
      "rebuild diverged from a fresh build over the same corpus")
    assert(statsRows(p).sameElements(statsRows(fresh)),
      "rebuild stats diverged from the fresh build")
    // the pinned reader still serves the OLD version untouched
    assert(pinned.collect().map(_.toString).sorted.sameElements(wantA),
      "pinned reader perturbed by the rebuild publish")
    // grace-0 gc collects the stranded pre-rebuild bucket version
    LexIndex.gc(spark, p)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/buckets/v=1")),
      "gc left the rebuild-stranded bucket version")
    assert(postingRows(p).sameElements(postingRows(fresh)),
      "gc after rebuild perturbed the live index")
  }

  test("standalone gc sweeps at bucket grain and never touches referenced versions") {
    val docs = docsAt("/root/testdata/sf0.001")
    val p = tempDir("lexgcstandalone")
    LexIndex.build(UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"), p)
    LexIndex.merge(spark, p, UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    // the merge rewrote the delta's buckets into v=2 but v=1 still holds
    // referenced untouched buckets alongside the superseded ones
    assert(LexIndex.garbageShare(spark, p) > 0.0, "merge stranded nothing")
    val rows = postingRows(p)
    val st = statsRows(p)
    LexIndex.gc(spark, p) // no rewrite, no version bump — sweep only
    assert(LexIndex.currentVersion(spark, p) === 2L, "gc bumped the version")
    assert(LexIndex.garbageShare(spark, p) === 0.0, "gc left superseded buckets")
    assert(postingRows(p).sameElements(rows), "gc deleted referenced postings")
    assert(statsRows(p).sameElements(st), "gc touched live stats")
  }

  test("a positive gc grace preserves a pinned reader across compaction") {
    val docs = docsAt("/root/testdata/sf0.001")
    val p = tempDir("lexgcgrace")
    LexIndex.build(UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"), p)
    LexIndex.merge(spark, p, UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    val rows = postingRows(p)
    // pin a reader on the pre-compaction version, THEN compact with a
    // grace: the rewrite publishes v=3 but the pinned version's files
    // must survive the sweep
    val pinned = LexIndex.openPostings(spark, p)
      .select("term", "doc_id", "tf", "dl", "df", "tb")
    LexIndex.compact(spark, p, gcGraceMs = 10L * 60 * 1000)
    assert(LexIndex.currentVersion(spark, p) === 3L)
    assert(pinned.collect().map(_.toString).sorted.sameElements(rows),
      "graced compaction pulled files out from under a pinned reader")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions() =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/buckets"))
        .map(_.getPath.getName).filter(_.startsWith("v=")).toSeq.sorted
    assert(versions().length > 1, "grace did not retain superseded versions")
    // the policy must not re-fire for bytes the grace still protects:
    // raw garbage exists, eligible garbage is zero
    assert(LexIndex.garbageShare(spark, p) > 0.0)
    assert(LexIndex.garbageShare(spark, p, graceMs = 10L * 60 * 1000) === 0.0)
    assert(!LexIndex.compactIfGarbage(spark, p, maxGarbageShare = 0.0,
      gcGraceMs = 10L * 60 * 1000))
    assert(LexIndex.currentVersion(spark, p) === 3L,
      "graced policy re-compacted protected garbage")
    // once the readers are gone (grace 0) the same sweep collects it all
    LexIndex.gc(spark, p)
    assert(versions() === Seq("v=3"), s"post-grace gc left: ${versions()}")
    assert(postingRows(p).sameElements(rows), "gc changed live rows")
  }

  test("gc grace ages from SUPERSESSION, not a bucket version's publication mtime") {
    val docs = docsAt("/root/testdata/sf0.001")
    val p = tempDir("lexgracemtime")
    LexIndex.build(UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"), p)
    // let v=1's bucket directories age well past the grace below...
    Thread.sleep(1500)
    // ...then supersede them JUST NOW: the merge rewrites the touched
    // buckets into v=2, stranding their v=1 directories. A reader could
    // have pinned v=1 a millisecond before the publish — an mtime-aged
    // sweep (or eligible-bytes count) would treat old-but-only-just-
    // superseded buckets as collectible despite the grace.
    LexIndex.merge(spark, p, UnigramLm.termFreq(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    assert(LexIndex.garbageShare(spark, p) > 0.0, "fixture stranded nothing")
    assert(LexIndex.garbageShare(spark, p, graceMs = 1000L) === 0.0,
      "just-superseded buckets counted as grace-eligible (publication-mtime aging)")
    LexIndex.gc(spark, p, graceMs = 1000L)
    assert(LexIndex.garbageShare(spark, p) > 0.0,
      "graced gc deleted buckets superseded a moment ago")
    // once the supersession itself is older than the grace, it all goes
    Thread.sleep(1200)
    assert(LexIndex.garbageShare(spark, p, graceMs = 1000L) > 0.0)
    LexIndex.gc(spark, p, graceMs = 1000L)
    assert(LexIndex.garbageShare(spark, p) === 0.0,
      "gc left bucket bytes superseded past the grace")
  }

  test("compactIfGarbage compacts only past the superseded-bytes threshold") {
    val docs = docsAt("/root/testdata/sf0.001")
    val p = tempDir("lexgc")
    // day 0 plus two merges: each merge strands the touched buckets'
    // previous versions, so superseded bytes accumulate
    LexIndex.build(UnigramLm.termFreq(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"), p)
    assert(LexIndex.garbageShare(spark, p) === 0.0,
      "a fresh build has no superseded bytes")
    for (r <- 1 to 2)
      LexIndex.merge(spark, p, UnigramLm.termFreq(
        docs.filter(col("doc_id") % 3 === r), "doc_id", "text"))
    val share = LexIndex.garbageShare(spark, p)
    assert(share > 0.0 && share < 1.0, s"implausible garbage share: $share")
    val rowsBefore = postingRows(p)
    // above the measured share → measurement only: no rewrite, no bump
    val v = LexIndex.currentVersion(spark, p)
    assert(!LexIndex.compactIfGarbage(spark, p, maxGarbageShare = share))
    assert(LexIndex.currentVersion(spark, p) === v,
      "below-threshold maintenance still published a version")
    assert(LexIndex.garbageShare(spark, p) === share)
    // below it → the real compaction runs and collects everything
    assert(LexIndex.compactIfGarbage(spark, p, maxGarbageShare = share / 2))
    assert(LexIndex.currentVersion(spark, p) === v + 1)
    assert(LexIndex.garbageShare(spark, p) === 0.0,
      "compaction left superseded bytes")
    assert(postingRows(p).sameElements(rowsBefore),
      "policy compaction changed rows")
    // settled: the policy converges to no-ops
    assert(!LexIndex.compactIfGarbage(spark, p, maxGarbageShare = share / 2))
  }

  test("mutators fail fast while another writer holds the index lease") {
    import spark.implicits._
    val p = tempDir("lexfence")
    val docs = docsAt("/root/testdata/sf0.001").limit(40)
    val tfAll = UnigramLm.termFreq(docs, "doc_id", "text")
    LexIndex.build(tfAll, p)
    val before = (postingRows(p), statsRows(p), LexIndex.currentVersion(spark, p))
    val held = Lease.acquire(spark, p, "concurrent-writer")
    try {
      for ((label, op) <- Seq[(String, () => Unit)](
        ("build", () => LexIndex.build(tfAll, p)),
        ("merge", () => LexIndex.merge(spark, p, tfAll.filter(lit(false)))),
        ("delete", () => LexIndex.delete(spark, p, Seq(1L).toDF("doc_id"))),
        ("compact", () => LexIndex.compact(spark, p)))) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("concurrent-writer"),
          s"$label did not name the live holder: ${e.getMessage}")
      }
      // the losers must not have clobbered the holder's lease on the way out
      val e = intercept[IllegalStateException](
        Lease.acquire(spark, p, "post-check"))
      assert(e.getMessage.contains("concurrent-writer"),
        "a fenced-out mutator released the holder's lease")
    } finally Lease.release(spark, held)
    assert(postingRows(p).sameElements(before._1) &&
      statsRows(p).sameElements(before._2) &&
      LexIndex.currentVersion(spark, p) === before._3,
      "a fenced-out mutator still changed the index")
    // and after the holder's release the path is writable again
    LexIndex.compact(spark, p)
  }
}
