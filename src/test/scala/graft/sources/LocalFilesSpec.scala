package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` scheme is [[LocalFiles]]: permissions and link
  * status answered in-process, with Hadoop's semantics, and no process
  * started for a parquet write or a `FileContext` rename. */
class LocalFilesSpec extends SparkSpecBase {
  private def conf = spark.sparkContext.hadoopConfiguration

  test("the session binds both file-system entries of the file: scheme") {
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[LocalFiles.Local])
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isInstanceOf[LocalFiles.Fs])
  }

  test("created files and directories carry the requested permission bits") {
    val dir = tempDir("local-files-perm")
    val fs = FileSystem.get(new URI("file:///"), conf)
    val d = new Path(s"$dir/sub")
    assert(fs.mkdirs(d, new FsPermission(Integer.parseInt("750", 8).toShort)))
    fs.create(new Path(d, "f"), new FsPermission(Integer.parseInt("640", 8).toShort),
      true, 4096, 1.toShort, 1L << 20, null).close()
    def perms(p: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))
    assert(perms(s"$dir/sub") == "rwxr-x---")
    assert(perms(s"$dir/sub/f") == "rw-r-----")
    fs.setPermission(new Path(d, "f"), new FsPermission(Integer.parseInt("604", 8).toShort))
    assert(perms(s"$dir/sub/f") == "rw----r--")
    assert(fs.getFileStatus(new Path(d, "f")).getPermission.toString == "rw----r--")
  }

  test("a rename onto an existing file fails and keeps both files") {
    val dir = tempDir("local-files-rename")
    val fs = FileSystem.get(new URI("file:///"), conf)
    Seq("a" -> "1", "b" -> "2").foreach { case (n, body) =>
      Files.write(Paths.get(s"$dir/$n"), body.getBytes("UTF-8"))
    }
    assert(!fs.rename(new Path(s"$dir/a"), new Path(s"$dir/b")))
    assert(Files.readString(Paths.get(s"$dir/a")) == "1" && Files.readString(Paths.get(s"$dir/b")) == "2")
    assert(fs.rename(new Path(s"$dir/a"), new Path(s"$dir/c")))
    assert(Files.readString(Paths.get(s"$dir/c")) == "1")
  }

  test("link status agrees with Hadoop's own for a file, a link and an absent path") {
    val dir = tempDir("local-files-link")
    Files.createFile(Paths.get(s"$dir/target"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
    val ours = new LocalFiles.Raw
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(new URI("file:///"), conf))
    for (name <- Seq("target", "link"); p <- Seq(s"$dir/$name", s"file://$dir/$name")) {
      val (a, b) = (ours.getFileLinkStatus(new Path(p)), stock.getFileLinkStatus(new Path(p)))
      assert((a.getPath, a.isSymlink, a.isFile, a.getLen) == (b.getPath, b.isSymlink, b.isFile, b.getLen), p)
      if (b.isSymlink) assert(a.getSymlink == b.getSymlink, p)
    }
    assert(ours.getFileLinkStatus(new Path(s"$dir/link")).isSymlink, "no link seen")
    Seq(ours, stock).foreach { fs =>
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/absent")))
    }
  }

  test("a parquet write and a FileContext rename start no process") {
    val dir = tempDir("local-files-spawn")
    // Spark's own housekeeping may delete a directory with `rm -rf` at
    // any time (a GC-timed cleaner, the heartbeat thread): not ours
    def housekeeping(thread: String) =
      thread == "executor-heartbeater" || thread.startsWith("Cleaner-")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      spark.range(200).repartition(4).write.parquet(s"$dir/t")
      val fc = FileContext.getFileContext(conf)
      fc.mkdir(new Path(s"file://$dir/ckpt"), FsPermission.getDirDefault, true)
      val tmp = new Path(s"file://$dir/ckpt/.0.tmp")
      val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(1)
      out.close()
      fc.rename(tmp, new Path(s"file://$dir/ckpt/0"))
      assert(spark.read.parquet(s"$dir/t").count() == 200L)
      // the recording sees a process this thread starts
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val file = Paths.get(dir, "spawns.jfr")
    rec.dump(file)
    rec.close()
    val starts = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (Option(e.getThread).fold("?")(_.getJavaName), e.getString("command")))
      .filterNot { case (thread, _) => housekeeping(thread) }
    assert(starts.map(_._2) == Seq("true"), starts)
  }
}
