package graft.kg

import graft.kg.pipeline.{GraphTableIO, ParquetTableIO, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 facade contracts:
  *  - [[GraphRag.QueryResult]] sides are LAZY — a triplets-only consumer
  *    never executes (or reads) the hits side, and construction itself
  *    schedules no jobs (the eagerly-built hits side was measured at
  *    ~1.8 s of a 1.93 s triplets-only query on the 250k bench store,
  *    graft.tools.RelProbe, deleted; source at commit 957f54b);
  *  - the warm query path makes ZERO table-IO calls (existence probes,
  *    reads, metadata) — everything is resolved once and cached until
  *    ingest/reset;
  *  - a facade that resolved `num_buckets` while the store was unstamped
  *    re-resolves when a stamp appears (a reader next to a separate
  *    writer process must not keep pruning with a stale fallback count);
  *  - the store-format gate: a fresh store is stamped with
  *    `format_version` by its first ingest, and a populated store without
  *    the current stamp is refused by ingest and query alike;
  *  - a batch whose table write throws, or whose `run()` throws after
  *    pinning its triples, leaves no cached Dataset behind and keeps its
  *    `batch_inflight` marker for the crash heal.
  */
class FacadeWarmPathSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSessionFixture.spark

  /** Delegating IO that counts every call crossing the table layer;
    * `failMerge` names a table whose merge throws instead, and `failRead`
    * one whose read returns a frame that throws when it is scanned. */
  final class CountingIO(inner: GraphTableIO, failMerge: String = "",
      failRead: String = "") extends GraphTableIO {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = scala.collection.concurrent.TrieMap.empty[String, Int]
    private def n[T](v: T): T = { calls.incrementAndGet(); v }
    def exists(spark: SparkSession, table: String): Boolean =
      n(inner.exists(spark, table))
    def read(spark: SparkSession, table: String): DataFrame = {
      reads.updateWith(table)(c => Some(c.getOrElse(0) + 1))
      val df = n(inner.read(spark, table))
      if (table != failRead) df
      else df.filter(org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit(s"injected failure at read($table)")).isNull)
    }
    def merge(spark: SparkSession, table: String, delta: DataFrame,
        keys: Seq[String], partitionCols: Seq[String]): Unit =
      if (table == failMerge)
        throw new IllegalStateException(s"injected failure at merge($table)")
      else inner.merge(spark, table, delta, keys, partitionCols)
    def overwrite(spark: SparkSession, table: String, df: DataFrame,
        partitionCols: Seq[String]): Unit =
      inner.overwrite(spark, table, df, partitionCols)
    def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
        partitionCol: String, partitions: Seq[Int]): Unit =
      inner.overwritePartitions(spark, table, df, partitionCol, partitions)
    override def appendNew(spark: SparkSession, table: String, delta: DataFrame,
        keys: Seq[String], partitionCols: Seq[String]): Unit =
      inner.appendNew(spark, table, delta, keys, partitionCols)
    override def rowCount(spark: SparkSession, table: String): Long =
      n(inner.rowCount(spark, table))
    override def snapshotFp(spark: SparkSession, table: String): String =
      n(inner.snapshotFp(spark, table))
    override def withWriterLock[T](spark: SparkSession)(f: => T): T =
      inner.withWriterLock(spark)(f)
    override def setFlag(spark: SparkSession, name: String): Unit =
      inner.setFlag(spark, name)
    override def clearFlag(spark: SparkSession, name: String): Unit =
      inner.clearFlag(spark, name)
    override def flagSet(spark: SparkSession, name: String): Boolean =
      inner.flagSet(spark, name)
    override def putMeta(spark: SparkSession, name: String, value: String): Unit =
      inner.putMeta(spark, name, value)
    override def getMeta(spark: SparkSession, name: String): Option[String] =
      n(inner.getMeta(spark, name))
    override def clearMeta(spark: SparkSession, name: String): Unit =
      inner.clearMeta(spark, name)
  }

  private def corpusOf(sentences: String*): org.apache.spark.sql.Dataset[CorpusRow] = {
    val s = spark; import s.implicits._
    spark.createDataset(sentences.zipWithIndex.map { case (t, i) =>
      CorpusRow(s"repo$i", s"f$i.txt", "c0", "text", t)
    })
  }

  test("QueryResult sides are lazy: construction schedules zero jobs; " +
      "triplets-only consumption never reads the hits-side tables") {
    val root = java.nio.file.Files.createTempDirectory("graft_lazyq").toString
    val io = new CountingIO(new ParquetTableIO(root))
    val rag = new GraphRag(spark, io)
    rag.ingest(corpusOf(
      "Zebra imports Yonder. Zebra calls Xylem.",
      "Yonder extends Walnut. Xylem uses Zebra."))

    io.calls.set(0); io.reads.clear()
    val (res, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext) {
      rag.query("What does Zebra use?", includeTriplets = true)
    }
    assert(jobs == 0, s"query construction scheduled $jobs job(s)")
    assert(io.calls.get() == 0,
      s"query construction crossed the IO layer ${io.calls.get()} time(s)")

    // consuming ONLY the triplets must not read terms/embeddings/chunks
    assert(res.triplets.get.count() > 0)
    assert(!io.reads.keySet.exists(
      Set("terms", "chunk_embeddings", "chunks", "chunk_vec_index")),
      s"triplets-only consumption read hits-side tables: ${io.reads.keySet}")
  }

  test("warm hybrid and context queries run at most 4 Spark jobs each") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val rag = new GraphRag(spark, new ParquetTableIO(root))
    rag.ingest(corpusOf(
      "Zebra imports Yonder. Zebra calls Xylem.",
      "Yonder extends Walnut. Xylem uses Zebra."))
    assert(new ParquetTableIO(root).exists(spark, "chunk_vec_meta"),
      "the store has no ANN sidecar, so hybrid_ann would fall back to exact")
    val q = "What does Zebra use?"
    val kinds: Seq[(String, () => DataFrame)] = Seq(
      "hybrid_exact" -> (() => rag.query(q, includeTriplets = false).chunks),
      "hybrid_ann" -> (() => rag.query(q, includeTriplets = false, vectorMode = "ann").chunks),
      "context" -> (() => rag.query(q, withContext = true, includeTriplets = false).chunks))
    kinds.foreach { case (kind, run) =>
      run().collect() // warm: table handles, num_buckets, ANN sidecar
      val (rows, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext) {
        run().collect()
      }
      assert(rows.nonEmpty, kind)
      info(s"warm $kind: $jobs Spark jobs")
      assert(jobs <= 4, s"warm $kind query ran $jobs Spark jobs")
    }
  }

  test("a batch whose table write throws releases its cache pins and " +
      "stays marked in flight") {
    val root = java.nio.file.Files.createTempDirectory("graft_pinfail").toString
    val rag = new GraphRag(spark, new CountingIO(new ParquetTableIO(root),
      failMerge = "vertices"), GraftConfig(linkMode = "lsh"))
    def cached = org.apache.spark.sql.TestCache.entries(spark)
    val before = cached
    val e = intercept[IllegalStateException] {
      rag.ingest(corpusOf(
        "Zebra imports Yonder. Zebra calls Xylem.",
        "Yonder extends Walnut. Xylem uses Zebra."))
    }
    assert(e.getMessage.contains("merge(vertices)"))
    assert(cached == before,
      s"a failed batch left ${cached - before} cached Dataset(s)")
    assert(new ParquetTableIO(root).flagSet(spark, "batch_inflight"),
      "a failed batch must stay marked in flight for the crash heal")
  }

  test("a batch whose run() throws after pinning its triples releases " +
      "the pin and stays marked in flight") {
    val root = java.nio.file.Files.createTempDirectory("graft_runfail").toString
    val cfg = GraftConfig(linkMode = "lsh")
    new GraphRag(spark, new ParquetTableIO(root), cfg).ingest(corpusOf(
      "Zebra imports Yonder. Zebra calls Xylem.",
      "Yonder extends Walnut. Xylem uses Zebra."))
    def cached = org.apache.spark.sql.TestCache.entries(spark)
    val before = cached
    // the incremental link scans the stored band index inside run(),
    // after lsh mode has persisted the batch's triples
    val rag = new GraphRag(spark, new CountingIO(new ParquetTableIO(root),
      failRead = "lsh_band_index"), cfg)
    val e = intercept[Exception] {
      rag.ingest(corpusOf("Walnut imports Zebra. Quartz calls Yonder."))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("read(lsh_band_index)")), e)
    assert(cached == before,
      s"a batch failed inside run() left ${cached - before} cached Dataset(s)")
    assert(new ParquetTableIO(root).flagSet(spark, "batch_inflight"),
      "a failed batch must stay marked in flight for the crash heal")
  }

  test("warm query path makes zero table-IO calls after the first query") {
    val root = java.nio.file.Files.createTempDirectory("graft_warmq").toString
    val io = new CountingIO(new ParquetTableIO(root))
    val rag = new GraphRag(spark, io)
    rag.ingest(corpusOf(
      "Zebra imports Yonder. Zebra calls Xylem.",
      "Yonder extends Walnut. Xylem uses Zebra."))

    // cold call: resolves num_buckets, existence chain, table handles
    val cold = rag.query("What does Zebra use?", includeTriplets = true)
    cold.chunks.count(); cold.triplets.get.count()

    io.calls.set(0)
    val warm = rag.query("What does Zebra use?", includeTriplets = true)
    warm.chunks.count(); warm.triplets.get.count()
    assert(io.calls.get() == 0,
      s"warm query crossed the IO layer ${io.calls.get()} time(s) " +
        "(existence probes / reads / metadata must all be cached)")
  }

  test("a facade that resolved num_buckets on an unstamped store " +
      "re-resolves once a stamp appears (reader next to a writer)") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    def bucketOf(s: String, nb: Int): Int =
      Pmod(new Murmur3Hash(Seq(Literal(s))), Literal(nb))
        .eval(null).asInstanceOf[Int]
    // a term whose bucket under the WRITER's count (64) differs from its
    // bucket under the reader's default fallback (32) — stale pruning
    // would read the wrong directory and drop the term's rows
    val word = Seq("zephyr", "quartz", "marble", "copper", "falcon", "violet")
      .find(w => bucketOf(w, 64) != bucketOf(w, 32))
      .getOrElse(fail("no probe word separates the two bucket counts"))

    val root = java.nio.file.Files.createTempDirectory("graft_stamp").toString
    val reader = new GraphRag(spark, new ParquetTableIO(root)) // default knob
    // force resolution while the store is EMPTY and unstamped: the
    // triplets thunk touches the retrieval (and with it the bucket
    // count) before its table read throws
    intercept[Exception] {
      reader.query("Anything", includeTriplets = true).triplets.get.count()
    }
    // a SEPARATE writer process stamps the store at 64 buckets
    val writer = new GraphRag(spark, new ParquetTableIO(root),
      GraftConfig(numBuckets = 64))
    writer.ingest(corpusOf(
      s"Alpha imports ${word.capitalize}. Beta calls Gamma.",
      s"${word.capitalize} extends Delta."))
    // withContext = graph-only retrieval: its hits come from the term
    // search alone, so stale tbucket pruning yields ZERO rows here
    val hits = reader.query(word.capitalize,
      withContext = true, includeTriplets = false).chunks
    assert(hits.count() > 0,
      s"reader still pruning with the stale fallback bucket count for '$word'")
  }

  test("corrupt num_buckets metadata fails loudly, never falls back") {
    val root = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val io = new ParquetTableIO(root)
    val rag = new GraphRag(spark, io)
    rag.ingest(corpusOf("Alpha imports Beta."))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_meta_num_buckets"), "not-a-number")
    val e = intercept[IllegalStateException] {
      pipeline.Pipeline.resolveNumBuckets(spark, io, GraftConfig())
    }
    assert(e.getMessage.contains("corrupt num_buckets"))
  }

  test("putMeta atomically replaces an existing stamp") {
    val root = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val io = new ParquetTableIO(root)
    io.putMeta(spark, "num_buckets", "32")
    assert(io.getMeta(spark, "num_buckets").contains("32"))
    io.putMeta(spark, "num_buckets", "256") // replace, not create
    assert(io.getMeta(spark, "num_buckets").contains("256"))
    // no staged leftover
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_meta_num_buckets.staged")))
  }

  test("format gate: the first ingest stamps a fresh store; reset keeps " +
      "the stamp and the reset store ingests and queries again") {
    val root = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val io = new ParquetTableIO(root)
    val rag = new GraphRag(spark, io, GraftConfig(linkMode = "exact"))
    assert(io.getMeta(spark, "format_version").isEmpty)
    rag.ingest(corpusOf("Alpha imports Beta."))
    assert(io.getMeta(spark, "format_version").contains(Pipeline.FormatVersion))
    rag.reset()
    assert(io.getMeta(spark, "format_version").contains(Pipeline.FormatVersion),
      "reset dropped the format stamp")
    rag.ingest(corpusOf("Gamma calls Delta."))
    assert(rag.query("What does Gamma call?").triplets.get.count() > 0,
      "post-reset ingest not queryable")
  }

  test("format gate: an unstamped populated store and a store with " +
      "another stamp are refused by ingest and by query") {
    val root = java.nio.file.Files.createTempDirectory("graft_fmtold").toString
    val io = new ParquetTableIO(root)
    new GraphRag(spark, io, GraftConfig(linkMode = "exact"))
      .ingest(corpusOf("Alpha imports Beta."))
    val before = io.snapshotFp(spark, "edges")
    def assertRefused(): Unit = {
      val rag = new GraphRag(spark, io, GraftConfig(linkMode = "exact"))
      val onIngest = intercept[IllegalStateException] {
        rag.ingest(corpusOf("Gamma calls Delta."))
      }
      assert(onIngest.getMessage.contains("new root"), onIngest.getMessage)
      val onQuery = intercept[IllegalStateException] {
        rag.query("What does Alpha import?").chunks.count()
      }
      assert(onQuery.getMessage.contains("new root"), onQuery.getMessage)
      intercept[IllegalStateException] {
        rag.query("What does Alpha import?").triplets.get.count()
      }
      // refused before any write: tables, marker and lease untouched
      assert(io.snapshotFp(spark, "edges") == before)
      assert(!io.flagSet(spark, "batch_inflight"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "_writer.lock")))
    }
    io.clearMeta(spark, "format_version") // written before the stamp existed
    assertRefused()
    io.putMeta(spark, "format_version", "0") // another engine's format
    assertRefused()
  }

  test("a failing redo replay at lock acquisition propagates, leaves the " +
      "plan and staged files in place, and still releases the lease") {
    val root = java.nio.file.Files.createTempDirectory("graft_redo").toString
    val io = new ParquetTableIO(root)
    io.putMeta(spark, "probe", "x") // materialize the root dir
    val tmp = java.nio.file.Paths.get(root, "edges__tmpcompact")
    java.nio.file.Files.createDirectories(tmp)
    val staged = tmp.resolve("part-0.parquet")
    java.nio.file.Files.writeString(staged, "staged-bytes")
    // the destination's parent is a regular FILE — the local-FS rename
    // (and its copy fallback) cannot complete, whatever its failure mode
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "edges"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "edges", "ebucket=0"), "blocker")
    val dst = s"$root/edges/ebucket=0/part-0.parquet"
    java.nio.file.Files.writeString(tmp.resolve("_plan"),
      s"mv\t$staged\t$dst\nrm\t$staged")
    intercept[Exception] {
      io.withWriterLock(spark) { () } // reconcile runs at lock acquisition
    }
    // fail-safe: the staged file and the plan both survive for a retry
    assert(java.nio.file.Files.exists(staged))
    assert(java.nio.file.Files.exists(tmp.resolve("_plan")))
    // and the failed replay still released the writer lease
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_writer.lock")))
  }
}
