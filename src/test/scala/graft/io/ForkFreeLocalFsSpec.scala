package graft.io

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.streaming.{EventEngine, TestSpark}
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` I/O runs in-process: streaming checkpoints, state
  * stores and manifest writes start no `chmod`, `readlink` or `ls`
  * process, and the metadata they see is what Hadoop's own forking
  * implementation reports.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  // a def: the cluster-parity and chaos suites stop the JVM's session
  private def spark: SparkSession = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** The command line of every process the JVM starts while `body` runs,
    * from the JDK's own `jdk.ProcessStart` events. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  private val metadataTools = Set("chmod", "readlink", "ls")
  private def metadataForks(cmds: Seq[String]): Seq[String] =
    cmds.filter(c => metadataTools.contains(
      c.trim.takeWhile(_ != ' ').split('/').last))

  private def withTempDir[A](body: NioPath => A): A = {
    val dir = Files.createTempDirectory("fork-free-fs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Hadoop's stock local file system, which forks for metadata. */
  private def stock(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    fs
  }

  test("both Hadoop entry points resolve file: to the fork-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    // the FileSystem cache is JVM-global and keyed by scheme, not conf:
    // a stock instance cached by anything earlier would keep serving
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("acked send, stateful drain and manifest append start no " +
      "chmod, readlink or ls process") {
    val s = spark
    withTempDir { dir =>
      val collected = new ConcurrentLinkedQueue[String]()
      val starts = processStarts {
        // the FizzBuzz pipe topology of the reference, one acked send
        val engine = new EventEngine(s)
        try {
          val numbers = engine.hub[Long]("numbers")
          val classes = engine.hub[String]("classes")
          numbers.subscribe().pipeTo(classes) { n =>
            Some(if (n % 15 == 0) "FIZZBUZZ" else if (n % 5 == 0) "BUZZ"
              else if (n % 3 == 0) "FIZZ" else "NUMBER")
          }
          classes.subscribe().foreachOrdered(e => collected.add(e.payload))
          numbers.sendSync(15L)
        } finally engine.close()
        // the st2 stateful AvailableNow drain (state-store commits)
        graft.SparkEntry.queries("st2_stream_dedup_keys")(s, sfDir).count()
        // a manifest-table write door (parquet commit + log listing)
        graft.operators.ManifestTable.append(s, dir.resolve("t").toString,
          s.range(100).toDF("id"))
      }
      assert(collected.asScala.toList == List("FIZZBUZZ"))
      val forks = metadataForks(starts)
      assert(forks.size == 0,
        s"metadata processes started, e.g. ${forks.take(5).mkString("; ")}")
    }
  }

  test("new files and directories get the mode bits chmod gave them") {
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val theirFs = stock()
    def mode(p: NioPath): String =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    withTempDir { dir =>
      def both(name: String)(make: (FileSystem, Path) => Unit): Unit = {
        val ours = dir.resolve(s"ours-$name")
        val theirs = dir.resolve(s"stock-$name")
        make(fs, new Path(ours.toString))
        make(theirFs, new Path(theirs.toString))
        assert(mode(ours) == mode(theirs), name)
        val (o, t) = (fs.getFileStatus(new Path(ours.toString)),
          theirFs.getFileStatus(new Path(theirs.toString)))
        assert((o.getPermission, o.getOwner, o.getGroup, o.isDirectory) ==
          (t.getPermission, t.getOwner, t.getGroup, t.isDirectory), name)
      }
      both("file")((f, p) => f.create(p).close())
      both("dir")((f, p) => f.mkdirs(p))
      both("file-0640") { (f, p) =>
        f.create(p).close(); f.setPermission(p, new FsPermission("640"))
      }
      both("dir-0751") { (f, p) =>
        f.mkdirs(p); f.setPermission(p, new FsPermission("751"))
      }
      // a listed plain file carries the same in-process permission
      val file = new Path(dir.resolve("ours-file-0640").toString)
      assert(fs.listFiles(file, false).next().getPermission ==
        new FsPermission("640"))
    }
  }

  test("a symlink still reports isSymlink with its target") {
    val raw = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[ForkFreeLocalFileSystem].getRaw
    withTempDir { dir =>
      val target = Files.writeString(dir.resolve("target"), "x")
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val st = raw.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink)
      assert(st.getSymlink == new Path(s"file:$target"))
      val theirs = stock().getFileLinkStatus(new Path(link.toString))
      assert((st.getPath, st.getSymlink, st.getLen, st.getPermission) ==
        (theirs.getPath, theirs.getSymlink, theirs.getLen,
          theirs.getPermission))
      val plain = raw.getFileLinkStatus(new Path(target.toString))
      assert(!plain.isSymlink && plain.getLen == 1)
    }
  }

  /** Drain a parquet directory into `ckpt` once, then flip one byte of
    * the checkpoint's `offsets/0`; returns the drain's input directory. */
  private def corruptedCheckpoint(s: SparkSession, dir: NioPath,
      ckpt: NioPath): String = {
    val in = dir.resolve("in").toString
    s.range(10).write.parquet(in)
    drain(s, in, ckpt).awaitTermination()
    val offsets = ckpt.resolve("offsets/0")
    assert(Files.exists(ckpt.resolve("offsets/.0.crc")))
    val bytes = Files.readAllBytes(offsets)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x20).toByte
    Files.write(offsets, bytes)
    in
  }

  private def drain(s: SparkSession, in: String, ckpt: NioPath) =
    s.readStream.schema(s.read.parquet(in).schema).parquet(in)
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()

  test("a flipped byte in a checkpoint file fails the .crc check on read") {
    val s = spark
    val conf = s.sparkContext.hadoopConfiguration
    withTempDir { dir =>
      val ckpt = dir.resolve("ckpt")
      corruptedCheckpoint(s, dir, ckpt)
      val p = new Path(ckpt.resolve("offsets/0").toString)
      // FileContext.open(path) is the read of Spark's checkpoint file
      // manager; the FileSystem wrapper verifies the sidecar as well
      intercept[ChecksumException](
        FileContext.getFileContext(conf).open(p).readAllBytes())
      intercept[ChecksumException](
        FileSystem.get(URI.create("file:///"), conf).open(p).readAllBytes())
    }
  }

  test("restarting a streaming query over a corrupt offsets file fails " +
      "with ChecksumException") {
    val s = spark
    withTempDir { dir =>
      val ckpt = dir.resolve("ckpt")
      val in = corruptedCheckpoint(s, dir, ckpt)
      val e = intercept[Exception](drain(s, in, ckpt).awaitTermination())
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[ChecksumException]),
        s"restart over a corrupt offsets/0 must fail the .crc check: $e")
    }
  }
}
