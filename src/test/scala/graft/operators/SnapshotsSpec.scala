package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sealed-snapshot protocol: seal-marker commit semantics, the
  * delta-sized diff, fingerprint audit, two-phase retention, and the
  * takedown cascade through sealed history. */
class SnapshotsSpec extends SparkSpecBase {
  import spark.implicits._

  private def decRows(rows: Seq[(Long, Boolean, Option[String], Long,
      Boolean, Long)]): DataFrame =
    rows.toDF("doc_id", "keep", "split", "component", "dedup_keep", "fp")

  private val dayOne = Seq(
    (1L, true, Some("train"), 1L, true, 101L),
    (2L, true, Some("test"), 2L, true, 102L),
    (3L, false, None, 2L, false, 103L),
    (4L, true, Some("train"), 4L, true, 104L))

  test("create seals ascending versions; open round-trips; sealedRows counts") {
    val root = tempDir("snapspec")
    val v1 = Snapshots.create(spark, root, decRows(dayOne))
    val v2 = Snapshots.create(spark, root, decRows(dayOne.take(2)))
    assert(v1 == 1L && v2 == 2L)
    assert(Snapshots.versions(spark, root) == Seq(1L, 2L))
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
    assert(Snapshots.open(spark, root, 2L).count() == 2L)
    assert(Snapshots.sealedRows(spark, root, 1L) == 4L)
    assert(Snapshots.sealedRows(spark, root, 2L) == 2L)
  }

  test("a crashed create is invisible and its replay converges on the same version") {
    val root = tempDir("snapcrash")
    Snapshots.create(spark, root, decRows(dayOne))
    // crash simulation: the data write landed, the seal never happened
    decRows(dayOne.take(1)).write.parquet(s"$root/snap/v=2")
    assert(Snapshots.versions(spark, root) == Seq(1L))
    intercept[IllegalArgumentException](Snapshots.open(spark, root, 2L))
    // the replayed create re-derives v=2 and its overwrite replaces the debris
    val v = Snapshots.create(spark, root, decRows(dayOne.take(3)))
    assert(v == 2L)
    assert(Snapshots.open(spark, root, 2L).count() == 3L)
  }

  test("diff emits exactly the added/removed/changed rows, null-safely") {
    val root = tempDir("snapdiff")
    Snapshots.create(spark, root, decRows(dayOne))
    val dayTwo = Seq(
      (1L, true, Some("train"), 1L, true, 101L),  // unchanged → absent
      // doc 2 removed
      (3L, true, Some("val"), 3L, true, 103L),    // keep+split+component flip
      (4L, true, Some("train"), 4L, true, 104L),  // unchanged → absent
      (5L, true, Some("test"), 5L, true, 105L))   // added
    Snapshots.create(spark, root, decRows(dayTwo))
    val d = Snapshots.diff(spark, root, 1L, 2L)
      .orderBy("doc_id").collect()
    assert(d.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "removed"), (3L, "changed"), (5L, "added")))
    val changed = d(1)
    assert(changed.getAs[Boolean]("keep_a") == false &&
      changed.getAs[Boolean]("keep_b") == true)
    assert(changed.getAs[String]("split_a") == null &&
      changed.getAs[String]("split_b") == "val")
  }

  test("verify flags missing and altered documents, is empty on the intact corpus") {
    val root = tempDir("snapverify")
    val docs = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val sealedRows = docs.select(col("doc_id"), lit(true).as("keep"),
      lit("train").as("split"), col("doc_id").as("component"),
      lit(true).as("dedup_keep"))
      .join(Snapshots.fingerprints(docs), Seq("doc_id"))
    val v = Snapshots.create(spark, root, sealedRows)
    assert(Snapshots.verify(spark, root, v, docs).isEmpty)
    val mutated = Seq((1L, "alpha beta"), (2L, "gamma CHANGED"))
      .toDF("doc_id", "text")
    val bad = Snapshots.verify(spark, root, v, mutated)
      .orderBy("doc_id").collect()
    assert(bad.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "changed"), (3L, "missing")))
  }

  test("gc is two-phase: un-publish immediately, data only after the grace") {
    val root = tempDir("snapgc")
    for (i <- 1 to 3) Snapshots.create(spark, root, decRows(dayOne.take(i)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs: Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/snap")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }
    // long grace: versions retire (invisible, unopenable) but data stays
    Snapshots.gc(spark, root, keep = _ >= 3L, graceMs = 60L * 60 * 1000)
    assert(Snapshots.versions(spark, root) == Seq(3L))
    intercept[IllegalArgumentException](Snapshots.open(spark, root, 1L))
    assert(dataDirs == Set("v=1", "v=2", "v=3"))
    // grace 0: the already-retired data goes in one sweep
    Snapshots.gc(spark, root, keep = _ >= 3L, graceMs = 0L)
    assert(dataDirs == Set("v=3"))
    assert(Snapshots.open(spark, root, 3L).count() == 3L)
  }

  test("gc sweeps crashed-create debris but never an in-progress version's seal") {
    val root = tempDir("snapdebris")
    Snapshots.create(spark, root, decRows(dayOne))
    decRows(dayOne.take(1)).write.parquet(s"$root/snap/v=9")
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=9")))
    assert(Snapshots.versions(spark, root) == Seq(1L))
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
    // the `..tmp-*.crc` sidecars older marker commits stranded in seal/
    // and snap/v=N/ (written through java.io: the checksummed file
    // system hides `.crc` files): aged ones go, fresh ones stay
    def sidecar(dir: String, name: String, aged: Boolean): java.io.File = {
      val f = new java.io.File(s"$root/$dir", name)
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      if (aged) assert(f.setLastModified(System.currentTimeMillis() - 120000L))
      f
    }
    val aged = Seq(sidecar("seal", "..tmp-v=1.txt.crc", aged = true),
      sidecar("seal", "..tmp-hwm.crc", aged = true),
      sidecar("snap/v=1", "..tmp-r=0.ok.crc", aged = true))
    val fresh = Seq(sidecar("seal", "..tmp-v=2.txt.crc", aged = false),
      sidecar("snap/v=1", "..tmp-r=1.ok.crc", aged = false))
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 60000L)
    assert(aged.forall(!_.exists()), s"aged sidecars not swept: ${aged.filter(_.exists())}")
    assert(fresh.forall(_.exists()), "gc deleted a fresh sidecar")
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
  }

  test("create never re-allocates a retired-in-grace version number") {
    val root = tempDir("snapretirealloc")
    for (i <- 1 to 3) Snapshots.create(spark, root, decRows(dayOne.take(i)))
    // retire the NEWEST version with a long grace: its data must stay
    // for pinned readers, so the next create must allocate PAST it
    Snapshots.gc(spark, root, keep = _ < 3L, graceMs = 60L * 60 * 1000)
    assert(Snapshots.versions(spark, root) == Seq(1L, 2L))
    val v = Snapshots.create(spark, root, decRows(dayOne))
    assert(v == 4L, s"create re-used a retired-in-grace number: $v")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the retired version's data is untouched until its grace passes
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=3")))
    assert(Snapshots.open(spark, root, 4L).count() == 4L)
  }

  test("a torn retirement whose version keep() re-accepts is cancelled, never collected") {
    val root = tempDir("snaptornretire")
    Snapshots.create(spark, root, decRows(dayOne))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash simulation: gc phase 1 wrote the retired marker but died
    // before deleting the seal
    val marker = new org.apache.hadoop.fs.Path(s"$root/seal/.retired-v=1.txt")
    val out = fs.create(marker, true)
    try out.write("retired:0\n".getBytes("UTF-8")) finally out.close()
    // a later gc that KEEPS v=1 must cancel the stale retirement
    // instead of deleting a live sealed snapshot's data
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    assert(!fs.exists(marker), "stale retirement marker survived")
    assert(Snapshots.versions(spark, root) == Seq(1L))
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
  }

  test("gc tolerates foreign names under snap/ and sweeps legacy swap debris on retirement") {
    val root = tempDir("snapswapdebris")
    Snapshots.create(spark, root, decRows(dayOne))
    Snapshots.create(spark, root, decRows(dayOne.take(2)))
    // legacy in-place-redact era AtomicSwap debris: gc must not throw
    // on the name, must not touch it while the version is sealed...
    decRows(dayOne.take(2)).write.parquet(s"$root/snap/v=1__new")
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=1__new")),
      "gc deleted sibling debris of a live sealed version")
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
    // ... and must collect it with the version's retirement — a retired
    // version is no longer openable, so nothing else ever owns the
    // stranded artifacts
    Snapshots.gc(spark, root, keep = _ >= 2L, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=1__new")),
      "retired version's legacy swap debris stranded forever")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=1")))
  }

  test("redact publishes a fresh revision: old data outlives the grace, then gc sweeps it") {
    val root = tempDir("snaprev")
    Snapshots.create(spark, root, decRows(dayOne))
    assert(Snapshots.sealedRows(spark, root, 1L) == 4L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def revs: Set[String] = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/snap/v=1"))
      .map(_.getPath.getName).filter(_.startsWith("r=")).toSet
    assert(revs == Set("r=0", "r=0.ok"))
    Snapshots.redact(spark, root, Seq(2L).toDF("doc_id"))
    // the superseded revision is still on disk — a reader pinned on it
    // mid-scan finishes against immutable files (the ADVICE hazard: the
    // old in-place swap deleted the live dir at its commit point)
    assert(revs == Set("r=0", "r=0.ok", "r=1", "r=1.ok"))
    assert(spark.read.parquet(s"$root/snap/v=1/r=0").count() == 4L)
    assert(Snapshots.open(spark, root, 1L).count() == 3L)
    // the readout tracks the takedown (stale-rows ADVICE item)
    assert(Snapshots.sealedRows(spark, root, 1L) == 3L)
    // long grace: sweep keeps the superseded revision; zero grace: gone
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 60L * 60 * 1000)
    assert(revs == Set("r=0", "r=0.ok", "r=1", "r=1.ok"))
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    assert(revs == Set("r=1", "r=1.ok"))
    assert(Snapshots.open(spark, root, 1L).count() == 3L)
  }

  test("pre-revision-layout versions stay readable; a redact upgrades them in place") {
    val root = tempDir("snaplegacy")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // forge the old engine's layout: data directly under snap/v=1,
    // rows: stamped in the seal marker itself
    decRows(dayOne).write.parquet(s"$root/snap/v=1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/seal"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/seal/v=1.txt"), true)
    try out.write("rows:4\ncreated:0\n".getBytes("UTF-8")) finally out.close()
    assert(Snapshots.versions(spark, root) == Seq(1L))
    assert(Snapshots.open(spark, root, 1L).count() == 4L)
    assert(Snapshots.sealedRows(spark, root, 1L) == 4L)
    // a torn legacy-upgrade redact (r=1 written, never published) must
    // not wedge the legacy read
    decRows(dayOne.take(1)).write.parquet(s"$root/snap/v=1/r=1")
    assert(Snapshots.open(spark, root, 1L).count() == 4L,
      "torn upgrade broke the legacy read")
    // the takedown cascade reads the legacy files and publishes r=1
    Snapshots.redact(spark, root, Seq(2L).toDF("doc_id"))
    assert(Snapshots.open(spark, root, 1L).count() == 3L)
    assert(Snapshots.sealedRows(spark, root, 1L) == 3L)
    // gc sweeps the superseded legacy root files under the grace
    Snapshots.gc(spark, root, keep = _ => true, graceMs = 0L)
    val rootParquet = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/snap/v=1"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(rootParquet.isEmpty, "superseded legacy data files stranded")
    assert(Snapshots.open(spark, root, 1L).count() == 3L)
  }

  test("a pre-upgrade torn in-place redact rolls forward on first read") {
    // the OLD engine redacted sealed versions via AtomicSwap.swap on the
    // snap dir and relied on open()-time repair as the roll-forward; a
    // store upgraded with that swap's commit marker pending must not be
    // forever unreadable (dir renamed away) or forever serve the
    // PRE-redact victim-bearing rows
    val root = tempDir("snaplegacytorn")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/seal"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/seal/v=1.txt"), true)
    try out.write("rows:3\ncreated:0\n".getBytes("UTF-8")) finally out.close()
    // worst case: replacement durable (__new + __commit), old dir gone
    decRows(dayOne.take(3)).write.parquet(s"$root/snap/v=1__new")
    fs.create(new org.apache.hadoop.fs.Path(s"$root/snap/v=1__commit"), true)
      .close()
    assert(Snapshots.open(spark, root, 1L).count() == 3L,
      "torn committed legacy redact never rolled forward")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap/v=1__commit")),
      "roll-forward left the commit marker")
    // ... and a later redact/read keeps working on the repaired layout
    Snapshots.redact(spark, root, Seq(1L).toDF("doc_id"))
    assert(Snapshots.open(spark, root, 1L).count() == 2L)
  }

  test("legacy versions export training shards, tied to revision 0") {
    val root = tempDir("snaplegacyexp")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = (1L to 4L).map(i => (i, "en", s"tok$i tok tok"))
      .toDF("doc_id", "lang", "text")
    decRows(dayOne).write.parquet(s"$root/snap/v=1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/seal"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/seal/v=1.txt"), true)
    try out.write("rows:4\ncreated:0\n".getBytes("UTF-8")) finally out.close()
    Snapshots.exportShards(spark, root, 1L, docs, ctx = 8, chunk = 2)
    assert(Snapshots.shardsFresh(spark, root, 1L))
    assert(Snapshots.openShards(spark, root, 1L)
      .select("doc_id").distinct().count() == 3L) // kept docs 1, 2, 4
    // the first redact publishes r=1 and the export goes stale through
    // the ordinary fence
    Snapshots.redact(spark, root, Seq(2L).toDF("doc_id"))
    assert(!Snapshots.shardsFresh(spark, root, 1L))
    Snapshots.reexportStaleShards(spark, root, docs)
    assert(Snapshots.openShards(spark, root, 1L)
      .filter(col("doc_id") === 2L).isEmpty)
  }

  test("a torn redact is invisible and its replay converges") {
    val root = tempDir("snaptornredact")
    Snapshots.create(spark, root, decRows(dayOne))
    // crash simulation: the survivor write landed, the marker never did
    decRows(dayOne.filterNot(_._1 == 2L)).write.parquet(s"$root/snap/v=1/r=1")
    assert(Snapshots.open(spark, root, 1L).count() == 4L,
      "unpublished revision leaked into open()")
    assert(Snapshots.sealedRows(spark, root, 1L) == 4L)
    // the replay overwrites the debris and publishes the same revision
    Snapshots.redact(spark, root, Seq(2L).toDF("doc_id"))
    assert(Snapshots.open(spark, root, 1L).count() == 3L)
    assert(Snapshots.sealedRows(spark, root, 1L) == 3L)
  }

  test("verify reports sealed rows without a fingerprint as unverifiable") {
    val root = tempDir("snapnofp")
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val rows = Snapshots.fingerprints(docs)
      .withColumn("fp", when(col("doc_id") === 2L, col("fp")))
    val v = Snapshots.create(spark, root, rows)
    val got = Snapshots.verify(spark, root, v, docs)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unverifiable"),
      s"null-fp row not surfaced: $got")
  }

  test("redact removes victims from every sealed version, in place, idempotently") {
    val root = tempDir("snapredact")
    Snapshots.create(spark, root, decRows(dayOne))
    Snapshots.create(spark, root, decRows(dayOne.take(3)))
    val victims = Seq(2L, 99L).toDF("doc_id") // 99 absent everywhere
    Snapshots.redact(spark, root, victims)
    assert(Snapshots.versions(spark, root) == Seq(1L, 2L))
    def ids(v: Long) = Snapshots.open(spark, root, v)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(1L) == Seq(1L, 3L, 4L))
    assert(ids(2L) == Seq(1L, 3L))
    // replay: no victims left anywhere → byte-level no-op
    Snapshots.redact(spark, root, victims)
    assert(ids(1L) == Seq(1L, 3L, 4L))
    // untouched columns survive the rewrite
    val r = Snapshots.open(spark, root, 1L).filter(col("doc_id") === 1L).head()
    assert(r.getAs[Long]("fp") == 101L &&
      r.getAs[String]("split") == "train")
  }
}
