package graft.kg

import graft.kg.pipeline.ParquetTableIO
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The store's own local FileSystem ([[graft.kg.pipeline.StoreFileSystem]]):
  *  - a fresh exact ingest, an lsh batch into the same store and a query
  *    start no `chmod` process (the stock local FileSystem without
  *    libhadoop forks one per file, `.crc` file and directory);
  *  - every file and directory of that store has the mode the stock
  *    local FileSystem gives under the session's umask;
  *  - the session's Hadoop and SQL conf are left as they were, so other
  *    `file:` paths keep the session's own FileSystem.
  */
class StoreFileSystemSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSessionFixture.spark

  private def corpusOf(sentences: String*): org.apache.spark.sql.Dataset[CorpusRow] = {
    val s = spark; import s.implicits._
    spark.createDataset(sentences.zipWithIndex.map { case (t, i) =>
      CorpusRow(s"repo$i", s"f$i.txt", "c0", "text", t)
    })
  }

  private val fileImplKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
  // read()'s documented session side effect (ParquetTableIO's scaladoc)
  private val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def sessionConf = spark.conf.getAll - listingThreshold
  private def fileFs = new org.apache.hadoop.fs.Path("file:///").getFileSystem(hadoopConf)

  /** The store, the commands of the processes started while it was
    * written and queried, and the session state before and after. */
  private case class Run(root: String, commands: Seq[String],
      hadoopBefore: Seq[Option[String]], hadoopAfter: Seq[Option[String]],
      sessionBefore: Map[String, String], sessionAfter: Map[String, String],
      fileFsBefore: Class[_])

  private lazy val run = {
    val root = java.nio.file.Files.createTempDirectory("graft_storefs").toString
    val hadoopBefore = fileImplKeys.map(k => Option(hadoopConf.get(k)))
    val fileFsBefore = fileFs.getClass
    val sessionBefore = sessionConf
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val io = new ParquetTableIO(root)
      new GraphRag(spark, io, GraftConfig(linkMode = "exact")).ingest(corpusOf(
        "Zebra imports Yonder. Zebra calls Xylem.",
        "Yonder extends Walnut. Xylem uses Zebra."))
      val rag = new GraphRag(spark, io, GraftConfig(linkMode = "lsh"))
      rag.ingest(corpusOf("Walnut imports Zebra. Quartz calls Yonder."))
      assert(rag.query("What does Zebra use?").triplets.get.count() > 0)
    } finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("graft_storefs", ".jfr")
    rec.dump(dump); rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => String.valueOf(e.getString("command"))).toSeq
    java.nio.file.Files.delete(dump)
    Run(root, commands, hadoopBefore, fileImplKeys.map(k => Option(hadoopConf.get(k))),
      sessionBefore, sessionConf, fileFsBefore)
  }

  test("an exact ingest, an lsh batch and a query into one store " +
      "start no chmod process") {
    val store = new java.io.File(run.root).getCanonicalPath
    val chmods = run.commands.filter(c => c.contains("chmod") && c.contains(store))
    assert(chmods.size == 0, "chmod process(es) started on the " +
      s"store (of ${run.commands.size} processes), e.g. ${chmods.take(3)}")
  }

  test("every store file and directory has the stock local FileSystem's " +
      "mode under the session's umask") {
    val umask = FsPermission.getUMask(hadoopConf)
    def mode(p: FsPermission) =
      java.nio.file.attribute.PosixFilePermissions.fromString(
        p.applyUMask(umask).toString)
    val (fileMode, dirMode) = (mode(FsPermission.getFileDefault), mode(FsPermission.getDirDefault))
    val rootPath = java.nio.file.Paths.get(run.root)
    val entries = java.nio.file.Files.walk(rootPath).iterator.asScala
      .filter(_ != rootPath).toSeq // the root is the test's temp dir
    assert(entries.count(java.nio.file.Files.isRegularFile(_)) > 100)
    val wrong = entries.flatMap { p =>
      val want = if (java.nio.file.Files.isDirectory(p)) dirMode else fileMode
      val got = java.nio.file.Files.getPosixFilePermissions(p)
      Option.when(got != want)(s"$p: $got, expected $want")
    }
    assert(wrong.isEmpty, s"${wrong.size} entries with another mode: ${wrong.take(3)}")
  }

  test("ingest and query leave the session's Hadoop and SQL conf as " +
      "they were; other file: paths keep the session's FileSystem") {
    assert(run.hadoopAfter == run.hadoopBefore)
    assert(run.sessionAfter == run.sessionBefore)
    assert(run.fileFsBefore != classOf[graft.kg.pipeline.StoreFileSystem])
    assert(fileFs.getClass == run.fileFsBefore)
  }
}
