package graft.operators

import graft.SparkSpecBase
import org.apache.hadoop.fs.Path

/** The shared manifest protocol's own contracts, independent of any one
  * index family: the publish rename is atomic under concurrent readers
  * (a reader never parses a torn manifest), and a publish that CRASHED
  * between writing its `.tmp-v=N.txt` and the rename leaves debris that
  * gc sweeps once aged — while a fresh (possibly in-flight) tmp and the
  * current manifest survive every sweep, under the shared sweep and
  * under [[LexIndex.gc]], whose manifest publishes through it.
  */
class VersionedSpec extends SparkSpecBase {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a crashed publish's .tmp manifest debris is swept once aged") {
    val dir = tempDir("versioned-tmp")
    Versioned.publish(spark, dir, 1L, base = 1L, epoch = 1L, cents = 0L)
    // the crash shape: version 2's publish died between the tmp write
    // and the rename; version 3 then published successfully — nothing
    // ever revisits the v=2 tmp name
    val orphan = new java.io.File(s"$dir/manifest/.tmp-v=2.txt")
    java.nio.file.Files.write(orphan.toPath,
      "base:2\nepoch:1\ncents:0\n".getBytes("UTF-8"))
    Versioned.publish(spark, dir, 3L, base = 3L, epoch = 2L, cents = 0L)
    // a FRESH tmp (a publish in flight right now) must survive a graced
    // sweep; the backdated orphan must go
    val fresh = new java.io.File(s"$dir/manifest/.tmp-v=4.txt")
    java.nio.file.Files.write(fresh.toPath, "base:4\n".getBytes("UTF-8"))
    assert(orphan.setLastModified(System.currentTimeMillis() - 120000L))
    // the aged rule is supersession-bounded: nothing is collectible
    // while the CURRENT manifest is younger than the grace — model time
    // having passed since v=3's publish
    assert(new java.io.File(s"$dir/manifest/v=3.txt")
      .setLastModified(System.currentTimeMillis() - 120000L))
    val m = Versioned.current(spark, dir)
    assert(m.v == 3L && m.base == 3L && m.epoch == 2L)
    Versioned.gcSweep(spark, dir, m.v, graceMs = 60000L, families = Seq.empty)
    assert(!orphan.exists(), "aged crashed-publish tmp debris not swept")
    assert(fresh.exists(), "sweep deleted a fresh in-flight publish tmp")
    assert(Versioned.current(spark, dir).v == 3L,
      "sweep perturbed the current manifest")
    // grace 0 = the offline rule: everything superseded goes at once
    Versioned.gcSweep(spark, dir, m.v, graceMs = 0L, families = Seq.empty)
    assert(!fresh.exists(), "offline sweep left tmp debris")
    assert(new java.io.File(s"$dir/manifest/v=3.txt").exists())

    // the same debris under a LexIndex, whose bucket manifest publishes
    // through the same protocol: LexIndex.gc must sweep it too
    import spark.implicits._
    val lex = tempDir("versioned-lex-tmp")
    LexIndex.build(Seq((1L, "alpha", 2L), (2L, "beta", 1L))
      .toDF("doc_id", "term", "tf"), lex)
    val lexOrphan = new java.io.File(s"$lex/manifest/.tmp-v=2.txt")
    java.nio.file.Files.write(lexOrphan.toPath, "7:2\n".getBytes("UTF-8"))
    val lexFresh = new java.io.File(s"$lex/manifest/.tmp-v=3.txt")
    java.nio.file.Files.write(lexFresh.toPath, "7:3\n".getBytes("UTF-8"))
    assert(lexOrphan.setLastModified(System.currentTimeMillis() - 120000L))
    assert(new java.io.File(s"$lex/manifest/v=1.txt")
      .setLastModified(System.currentTimeMillis() - 120000L))
    LexIndex.gc(spark, lex, graceMs = 60000L)
    assert(!lexOrphan.exists(), "LexIndex.gc left aged crashed-publish tmp debris")
    assert(lexFresh.exists(), "LexIndex.gc deleted a fresh in-flight publish tmp")
    assert(LexIndex.currentVersion(spark, lex) == 1L)
    assert(LexIndex.openPostings(spark, lex).count() == 2L,
      "LexIndex.gc perturbed the live index")
  }

  test("a marker commit on file: strands no tmp or checksum sidecar; gc sweeps an aged one") {
    val dir = tempDir("versioned-crc")
    val mdir = new java.io.File(s"$dir/manifest")
    // listed through java.io: the checksummed file system hides `.crc` files
    def names = mdir.list().sorted.toSeq
    Versioned.publishMarker(fsOf(dir), new Path(s"$dir/manifest/v=1.txt"),
      Seq("base" -> 1L, "epoch" -> 1L, "cents" -> 0L))
    assert(names == Seq("v=1.txt"), s"marker commit left debris: $names")
    assert(Versioned.current(spark, dir).base == 1L)
    // the sidecar an older commit stranded beside its tmp
    val aged = new java.io.File(mdir, "..tmp-v=1.txt.crc")
    java.nio.file.Files.write(aged.toPath, Array[Byte](1, 2, 3))
    Versioned.publish(spark, dir, 2L, base = 2L, epoch = 1L, cents = 0L)
    val fresh = new java.io.File(mdir, "..tmp-v=2.txt.crc")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 120000L
    assert(aged.setLastModified(old) &&
      new java.io.File(mdir, "v=2.txt").setLastModified(old))
    Versioned.gcSweep(spark, dir, 2L, graceMs = 60000L, families = Seq.empty)
    assert(!aged.exists(), "aged checksum sidecar not swept")
    assert(fresh.exists(), "sweep deleted a fresh sidecar")
    assert(Versioned.current(spark, dir).v == 2L, "sweep perturbed the current manifest")
  }

  test("publish hammer: concurrent readers never observe a torn manifest") {
    val dir = tempDir("versioned-hammer")
    val fs = fsOf(dir)
    val writers = 8
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 2)
    try {
      val readers = (0 until 2).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = while (!stop.get()) {
            try {
              val m = Versioned.current(spark, dir)
              // each publish writes base = epoch = cents = v: any mix
              // of versions or a partial read is a torn observation
              if (m.v != 0L && (m.base != m.v || m.epoch != m.v || m.cents != m.v))
                torn.compareAndSet(null, s"inconsistent triple: $m")
            } catch {
              case e: Exception =>
                torn.compareAndSet(null, s"reader threw: ${e.getMessage}")
            }
          }
        })
      }
      // each writer owns a disjoint version stripe (publishes are
      // lease-serialized in production; the hammer stresses only the
      // reader-facing atomicity of the rename itself)
      val futs = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            for (i <- 0 until 25) {
              val v = (i * writers + w + 1).toLong
              Versioned.publish(spark, dir, v, base = v, epoch = v, cents = v)
            }
        })
      }
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      stop.set(true)
      readers.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(torn.get() == null, String.valueOf(torn.get()))
    assert(Versioned.currentVersion(spark, dir) == 25L * writers)
    assert(!fs.listStatus(new Path(s"$dir/manifest"))
      .exists(_.getPath.getName.startsWith(".tmp-")),
      "completed publishes left tmp debris")
  }

  test("racing stale-token sweepers: a fresh token is never deleted") {
    // the ADVICE race, distilled: the token path holds a FRESH breaker's
    // token, but a slow sweeper still holds the STALE content it based
    // its delete decision on — the tombstone discipline must notice the
    // content changed and restore, never silently remove the fresh token
    val dir = tempDir("token-sweep")
    val fs = fsOf(dir)
    val tok = new Path(s"$dir/.lease-break")
    val stale = s"${System.currentTimeMillis() - 120000L}|old-nonce"
    val freshBody = s"${System.currentTimeMillis()}|new-nonce"
    assert(Lease.tryCreate(fs, tok, freshBody))
    // sweeper acts on its STALE observation against the fresh token
    Lease.sweepStaleToken(fs, tok, Some(stale))
    assert(Lease.readRawBytes(fs, tok).contains(freshBody),
      "stale-observation sweep removed a fresh break token")
    // and a sweep whose observation matches removes the token
    Lease.sweepStaleToken(fs, tok, Some(freshBody))
    assert(Lease.readRawBytes(fs, tok).isEmpty, "matching sweep left the token")
  }
}
