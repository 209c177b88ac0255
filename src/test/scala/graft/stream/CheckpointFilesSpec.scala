package graft.stream

import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.TestKit
import graft.dsl._

/** [[CheckpointFiles]]: streaming checkpoints on a `file:` path start no
  * process, and keep the atomicity and checksum verification of Spark's
  * default manager. Lives in package graft.stream to reach the
  * private[stream] local manager. */
class CheckpointFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  import TestKit._
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-ckptfm-")

  override def afterAll(): Unit = {
    val walk = Files.walk(root)
    val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
    paths.foreach(p => Files.deleteIfExists(p))
    super.afterAll()
  }

  private def dir(name: String): JPath = Files.createDirectories(root.resolve(name))

  /** Run `body` with the session's manager conf set to `cls` (None:
    * unset), restoring the previous value after. */
  private def withManagerConf[A](cls: Option[String])(body: => A): A = {
    val prior = spark.conf.getOption(CheckpointFiles.ConfKey)
    cls.fold(spark.conf.unset(CheckpointFiles.ConfKey))(spark.conf.set(CheckpointFiles.ConfKey, _))
    try body finally prior.fold(spark.conf.unset(CheckpointFiles.ConfKey))(
      spark.conf.set(CheckpointFiles.ConfKey, _))
  }

  /** Command lines of the processes `body` started that run one of
    * `programs` on a path under `under`, seen by an in-process JFR
    * recording of `jdk.ProcessStart`. */
  private def processStarts(programs: Set[String], under: JPath)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = root.resolve(s"process-starts-${System.nanoTime}.jfr")
    rec.dump(file)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter { c =>
        val argv = c.trim.split("\\s+")
        programs.contains(argv.head.split('/').last) && c.contains(under.toString)
      }
  }

  private val Forking = Set("chmod", "readlink", "ls", "stat")

  private val topology = Topology(
    Seq("in" -> "tbl", "tbl" -> "out"),
    Map("in" -> Entity.Topic("in"),
      "tbl" -> Entity.KTable(aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
      "out" -> Entity.Topic("out")))

  private def files(d: JPath): Seq[JPath] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally walk.close()
  }

  /** Run the fold topology for four micro-batches on checkpoint `ckpt`
    * under `store`, with the manager conf unset so that it comes from
    * `StreamCompiler.run`, not the session factory. Returns the forks
    * [[processStarts]] saw on `ckpt`, after checking the sink output and
    * that every committed offsets, commits and state file has its .crc. */
  private def recordedRun(ckpt: JPath, store: StreamCompiler.StateStore): Seq[String] = {
    implicit val sql = spark.sqlContext
    val out = ArrayBuffer.empty[Row]
    val forks = withManagerConf(None) {
      StreamCompiler.withStateStore(spark, store) {
        val ms = MemoryStream[(String, Int, Long)]
        val tbl = StreamCompiler.run(topology, Map("in" -> recordStream(ms)))("tbl")
        processStarts(Forking, ckpt) {
          val q = tbl.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt.toString)
            .foreachBatch { (b: Dataset[Row], _: Long) => out.synchronized(out ++= b.collect()); () }
            .start()
          try (1 to 4).foreach { i =>
            ms.addData(("k", i, 1000L * i), (s"j$i", i, 1000L * i + 1))
            q.processAllAvailable()
          } finally q.stop()
        }
      }
    }
    assert(out.map(r => (r.getAs[String]("key"), r.getAs[Int]("value"))).filter(_._1 == "k")
      .sortBy(_._2) == Seq(("k", 1), ("k", 3), ("k", 6), ("k", 10)))
    val committed = Seq("offsets", "commits", "state").flatMap(d => files(ckpt.resolve(d)))
      .filterNot(_.getFileName.toString.startsWith("."))
    assert(committed.count(_.startsWith(ckpt.resolve("state"))) >= 4)
    committed.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc beside $f")
    }
    forks
  }

  test("a StreamCompiler topology on a file: checkpoint starts no chmod/readlink/ls/stat process") {
    val forks = recordedRun(dir("nofork"), StreamCompiler.StateStore.HDFSBacked)
    assert(forks.isEmpty, s"${forks.size} process starts, e.g. ${forks.take(3)}")
    // the instrument sees forks where there are some: without the native
    // Hadoop library, Spark's default manager forks a chmod per file
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      val ctl = dir("control")
      val fm = new FileContextBasedCheckpointFileManager(new Path(ctl.toUri), new Configuration())
      val seen = processStarts(Forking, ctl) {
        val o = fm.createAtomic(new Path(ctl.resolve("0").toUri), overwriteIfPossible = false)
        o.write(1); o.close()
      }
      assert(seen.nonEmpty, "the recording saw no process start from Spark's default manager")
    }
  }

  test("RocksDB with changelog checkpointing uploads its files without starting a process") {
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(ck)
    spark.conf.set(ck, "true")
    val ckpt = dir("nofork-rocksdb")
    val forks = try recordedRun(ckpt, StreamCompiler.StateStore.RocksDB)
      finally prior.fold(spark.conf.unset(ck))(spark.conf.set(ck, _))
    assert(forks.isEmpty, s"${forks.size} process starts, e.g. ${forks.take(3)}")
    assert(files(ckpt.resolve("state")).exists(_.getFileName.toString.endsWith(".changelog")))
  }

  test("a byte flipped in a checkpoint file fails the read with a ChecksumException") {
    // Spark's default manager writes the same .crc beside every file, but
    // its FileContext reads on file: do not verify it: the flipped byte
    // reads back silently there
    val fm = new ForkFreeCheckpointFileManager(new Path(dir("crc").toUri), new Configuration())
    val f = new Path(root.resolve("crc").resolve("0").toUri)
    val o = fm.createAtomic(f, overwriteIfPossible = false)
    o.write(Array.tabulate[Byte](4096)(i => (i % 101).toByte)); o.close()
    val local = java.nio.file.Paths.get(f.toUri)
    assert(Files.exists(local.resolveSibling(".0.crc")))
    val bytes = Files.readAllBytes(local)
    bytes(2000) = (bytes(2000) ^ 0x40).toByte
    Files.write(local, bytes)
    val in = fm.open(f)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }

  test("a no-overwrite createAtomic onto an existing batch file still fails, leaving the file") {
    val d = new Path(dir("atomic").toUri)
    Seq("graft" -> new ForkFreeCheckpointFileManager(d, new Configuration()),
      "spark" -> CheckpointFileManager.create(d, new Configuration())).foreach { case (who, fm) =>
      val f = new Path(root.resolve("atomic").resolve(s"$who-0").toUri)
      val first = fm.createAtomic(f, overwriteIfPossible = false)
      first.write(1); first.close()
      val second = fm.createAtomic(f, overwriteIfPossible = false)
      second.write(2)
      intercept[FileAlreadyExistsException](second.close())
      val in = fm.open(f)
      try assert(in.read() == 1, who) finally in.close()
    }
  }

  test("file: paths get the fork-free manager; any other scheme gets Spark's default choice") {
    val local = new ForkFreeCheckpointFileManager(new Path(root.toUri), new Configuration())
    assert(local.delegate.isInstanceOf[CheckpointFiles.OnLocalFs])
    assert(local.isLocal)
    // a scheme with a FileSystem but no AbstractFileSystem: Spark's own
    // create falls back from FileContext to FileSystem for it, and so
    // does the fork-free manager (built without touching any host)
    val conf = new Configuration()
    conf.set("fs.graftother.impl", classOf[RawLocalFileSystem].getName)
    conf.set("fs.graftother.impl.disable.cache", "true")
    val other = new Path("graftother:///ckpt")
    val sparks = CheckpointFileManager.create(other, conf).getClass
    assert(sparks == classOf[FileSystemBasedCheckpointFileManager])
    // the Hadoop conf a query hands over names the fork-free manager
    conf.set(CheckpointFiles.ConfKey, CheckpointFiles.ManagerClass)
    CheckpointFileManager.create(other, conf) match {
      case fm: ForkFreeCheckpointFileManager => assert(fm.delegate.getClass == sparks)
      case fm => fail(s"got ${fm.getClass}")
    }
  }

  test("a checkpoint manager class the user set is not displaced") {
    implicit val sql = spark.sqlContext
    val theirs = classOf[FileContextBasedCheckpointFileManager].getName
    withManagerConf(Some(theirs)) {
      StreamCompiler.run(topology, Map("in" -> recordStream(MemoryStream[(String, Int, Long)])))
      CheckpointFiles.install(spark)
      assert(spark.conf.get(CheckpointFiles.ConfKey) == theirs)
      assert(CheckpointFiles.effective(spark) == theirs)
    }
    withManagerConf(None) {
      StreamCompiler.run(topology, Map("in" -> recordStream(MemoryStream[(String, Int, Long)])))
      assert(spark.conf.get(CheckpointFiles.ConfKey) == CheckpointFiles.ManagerClass)
    }
  }
}
