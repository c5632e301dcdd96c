package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._

import graft.store.{Fs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.stream.MicroBatch

/** Committed after the recorded calls: JFR delivers a stream's events in
  * time order, so once the marker arrives every earlier process start has.
  */
@Name("graft.LocalFsSpecMarker")
class LocalFsSpecMarker extends Event

/** The engine's local filesystem ([[graft.store.LocalFs]]) starts no
  * process on the store, stream and executor-write paths, and answers
  * like Hadoop's stock `RawLocalFileSystem`.
  */
class LocalFsSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_localfs").toString

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsSpecMarker])
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => { seen.add(e.getString("command")); () })
      rs.onEvent("graft.LocalFsSpecMarker", (_: RecordedEvent) => marked.countDown())
      rs.startAsync()
      body
      new LocalFsSpecMarker().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "JFR never delivered the marker event")
    } finally rs.close()
    seen.asScala.toSeq
  }

  test("store, stream and executor writes start no process") {
    import spark.implicits._
    val root = tmp()
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val query = MicroBatch.ingest(spark, in, schema,
      b => (b.filter($"ts".isNotNull), b.filter($"ts".isNull)), "ts",
      s"$root/processed", s"$root/quarantine", s"$root/ckpt", triggerMs = 100L)
    // Each round lands one stream batch and makes every call once; the
    // first round pays the JVM's one-time probes (Hadoop Shell's setsid
    // check) outside the recording. Spark's executor-metrics poller runs
    // `getconf PAGESIZE` once per JVM at its first heartbeat, whenever
    // that falls; load it here too.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    def round(i: Int): Unit = {
      Seq((1L, "a"), (2L, "b")).toDF("id", "p")
        .write.partitionBy("p").parquet(s"$root/parquet$i")
      Fs.mkdirs(s"$root/dirs$i/a/b")
      Fs.writeStringAtomic(s"$root/dirs$i/CURRENT", s"$i")
      Fs.writeString(s"$root/dirs$i/staged", "x")
      Fs.renameOverwrite(s"$root/dirs$i/staged", s"$root/dirs$i/CURRENT")
      Fs.rename(s"$root/dirs$i/a", s"$root/dirs$i/c")
      assert(Fs.listFilesRecursive(s"$root/dirs$i/CURRENT").map(_.name) == Seq("CURRENT"))
      assert(Fs.listFilesRecursive(s"$root/parquet$i").exists(_.name.endsWith(".parquet")))
      Files.writeString(Paths.get(s"$in/b$i.jsonl"),
        s"""{"id":$i,"ts":"2024-01-0${i}T10:00:00Z"}""")
      query.processAllAvailable()
    }
    try {
      round(1)
      val starts = processStarts(round(2))
      if (starts.nonEmpty) fail(s"started ${starts.size} processes, e.g. ${starts.take(5).mkString("; ")}")
    } finally { query.stop(); query.awaitTermination() }
    assert(spark.read.parquet(s"$root/processed").count() == 2L)
    assert(spark.read.parquet(s"$root/parquet2").count() == 2L)
    assert(Fs.readString(s"$root/dirs2/CURRENT") == "x")
  }

  private def local[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), new Configuration()); fs }

  private def triple(st: FileStatus): (FsPermission, String, String) =
    (st.getPermission, st.getOwner, st.getGroup)

  test("permission, owner and group match the stock RawLocalFileSystem") {
    val nio = local(new NioRawLocalFileSystem)
    val stock = local(new RawLocalFileSystem)
    val fileMode = new FsPermission(Integer.parseInt("640", 8).toShort)
    val dirMode = new FsPermission(Integer.parseInt("750", 8).toShort)
    val stickyMode = new FsPermission(Integer.parseInt("1770", 8).toShort)
    def create(fs: FileSystem, root: String): Seq[Path] = {
      val paths = Seq("file", "file_mode", "dir", "dir_mode", "dir_sticky").map(n => new Path(s"$root/$n"))
      fs.create(paths(0)).close()
      fs.create(paths(1), fileMode, false, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(paths(2)) && fs.mkdirs(paths(3), dirMode) && fs.mkdirs(paths(4)))
      fs.setPermission(paths(4), stickyMode)
      paths
    }
    val byNio = create(nio, tmp())
    val byStock = create(stock, tmp())
    for ((n, s) <- byNio.zip(byStock)) {
      assert(triple(nio.getFileStatus(n)) == triple(stock.getFileStatus(s)), n.getName)
      assert(triple(nio.getFileStatus(n)) == triple(stock.getFileStatus(n)), n.getName)
      assert(nio.getFileStatus(n).isDirectory == stock.getFileStatus(n).isDirectory)
      if (nio.getFileStatus(n).isFile)
        assert(triple(nio.listStatus(n).head) == triple(stock.listStatus(n).head), n.getName)
      assert(nio.getFileStatus(n).getLen == stock.getFileStatus(n).getLen)
    }
    assert(nio.getFileStatus(byNio(1)).getPermission == fileMode)
    assert(nio.getFileStatus(byNio(3)).getPermission == dirMode)
    assert(nio.getFileStatus(byNio(4)).getPermission == stickyMode)
    val parent = byNio.head.getParent
    assert(nio.listStatus(parent).map(st => st.getPath.getName -> triple(st)).toMap ==
      stock.listStatus(parent).map(st => st.getPath.getName -> triple(st)).toMap)
  }

  test("a symlink still reports its target; a missing path is not found") {
    val nio = local(new NioRawLocalFileSystem)
    val stock = local(new RawLocalFileSystem)
    val root = tmp()
    val target = Files.writeString(Paths.get(s"$root/target"), "t")
    val link = Files.createSymbolicLink(Paths.get(s"$root/link"), target)
    val st = nio.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink == stock.getFileLinkStatus(new Path(link.toString)).getSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    assert(!nio.getFileLinkStatus(new Path(target.toString)).isSymlink)
    val missing = new Path(s"$root/missing")
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileStatus(missing))
    intercept[FileNotFoundException](nio.listStatus(missing))
    intercept[FileNotFoundException](nio.getFileStatus(new Path(s"$root/target/under_a_file")))
  }

  test("the session's local FileSystem and FileContext are the engine's") {
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), hc)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), hc).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }
}
