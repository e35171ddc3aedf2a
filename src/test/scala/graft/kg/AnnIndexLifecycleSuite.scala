package graft.kg

import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.{ParquetTableIO, Pipeline}
import graft.kg.retrieve.VectorIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the stored ANN layout (`chunk_vec_index` +
  * `chunk_vec_meta`): an index whose sidecar is missing, or which a
  * crashed batch may have laid under other thresholds than its sidecar's,
  * must NEVER be probed or appended to — queries fall back to the exact
  * scan, and the next ingest rebuilds the index wholesale under fresh
  * medians.
  */
class AnnIndexLifecycleSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  private def freshStore(): (ParquetTableIO, String) = {
    val root = java.nio.file.Files.createTempDirectory("graftannlife").toString
    (new ParquetTableIO(root), root)
  }

  private def corpus(seed: Long) = {
    val s = spark; import s.implicits._
    spark.createDataset(CorpusGen.generate(repos = 3, filesPerRepo = 4, seed = seed).rows)
  }

  private def indexAsSet(io: ParquetTableIO): Set[(String, Int, Int)] =
    io.read(spark, "chunk_vec_index")
      .select("chunkId", "l", "vbucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet

  /** Overwrites the stored index with the layout of the stored
    * embeddings under zero thresholds — an index laid under other
    * thresholds than the medians the store computed — and returns the
    * thresholds the store had. */
  private def relayUnderZeroThresholds(io: ParquetTableIO): Array[Double] = {
    val emb = new embed.HashEmbedder()
    val t = VectorIndex.readThresholds(spark, io).get
    io.overwrite(spark, "chunk_vec_index",
      VectorIndex.layout(io.read(spark, "chunk_embeddings"), emb.dim,
        VectorIndex.zeroThresholds),
      Seq("l", "vbucket"))
    val stale = VectorIndex.layout(io.read(spark, "chunk_embeddings"),
      emb.dim, t).select("chunkId", "l", "vbucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(indexAsSet(io) != stale, "fixture dead: zero cuts == medians")
    t
  }

  /** The store's index equals the layout of its cumulative embeddings
    * under its own sidecar, and the sidecar holds their medians. */
  private def indexMatchesSidecar(io: ParquetTableIO): Unit = {
    val emb = new embed.HashEmbedder()
    val t = VectorIndex.readThresholds(spark, io)
    assert(t.isDefined, "no sidecar after ingest")
    assert(t.get.toSeq == VectorIndex.computeThresholds(
      io.read(spark, "chunk_embeddings"), emb.dim).toSeq,
      "sidecar thresholds are not the cumulative medians")
    val expected = VectorIndex
      .layout(io.read(spark, "chunk_embeddings"), emb.dim, t.get)
      .select("chunkId", "l", "vbucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(indexAsSet(io) == expected,
      "index != layout(chunk_embeddings, sidecar)")
  }

  test("no-sidecar legacy index: query falls back to exact; next ingest rebuilds") {
    val (io, root) = freshStore()
    val cfg = GraftConfig(linkMode = "exact")
    new Pipeline(cfg).materialize(corpus(11L), io)
    assert(io.exists(spark, "chunk_vec_meta"))

    // the index left behind by a rebuild that crashed between its index
    // swap and its sidecar write, in a store whose sidecar is gone: laid
    // under thresholds the store does not record, and the in-flight
    // marker still set
    relayUnderZeroThresholds(io)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/chunk_vec_meta"), true)
    assert(!io.exists(spark, "chunk_vec_meta"))
    io.setFlag(spark, "batch_inflight")

    // ann query on the sidecar-less store == the exact path (fallback),
    // NOT a probe of a layout whose thresholds are unknown
    val rag = new GraphRag(spark, io, cfg)
    val s = spark; import s.implicits._
    val q = io.read(spark, "chunks").as[Chunk].orderBy("chunkId").head().text
    val ann = rag.query(q, includeTriplets = false, vectorMode = "ann")
      .chunks.select("chunkId").collect().map(_.getString(0)).toSeq
    val exact = rag.query(q, includeTriplets = false)
      .chunks.select("chunkId").collect().map(_.getString(0)).toSeq
    assert(ann == exact, "sidecar-less store did not fall back to the exact scan")

    // the next ingest rebuilds wholesale from the cumulative embeddings
    // under FRESH medians — not zero thresholds, not a merge into the
    // unknown layout
    new Pipeline(cfg).materialize(corpus(12L), io)
    indexMatchesSidecar(io)
    assert(VectorIndex.readThresholds(spark, io).get.exists(_ != 0.0),
      "rebuild pinned zero thresholds")
    // and the healed store serves ann queries again (sidecar present)
    val rag2 = new GraphRag(spark, io, cfg)
    assert(rag2.query(q, includeTriplets = false, vectorMode = "ann")
      .chunks.collect().nonEmpty)
  }

  test("a rebuild crashed between its index swap and its sidecar write " +
      "is rebuilt by the next batch, not appended to") {
    val (io, _) = freshStore()
    val cfg = GraftConfig(linkMode = "exact")
    new Pipeline(cfg).materialize(corpus(21L), io)
    // the index is already laid under new cuts, the sidecar still holds
    // the old ones (same length), and the in-flight marker is set
    val stale = relayUnderZeroThresholds(io)
    assert(VectorIndex.readThresholds(spark, io).get.toSeq == stale.toSeq)
    io.setFlag(spark, "batch_inflight")
    // a small batch: the skew probe cannot act, so only the crash marker
    // can route it away from an append under the stale sidecar
    new Pipeline(cfg).materialize(corpus(22L), io)
    assert(!io.flagSet(spark, "batch_inflight"), "marker not cleared")
    indexMatchesSidecar(io)
  }

  test("occupancy-skew probe: shifted batch triggers a threshold rebuild") {
    val s = spark; import s.implicits._
    val emb = new embed.HashEmbedder()
    // unit behavior: tiny frames are below the actionable minimum
    val few = spark.createDataset(Seq(("c1", emb.embedPassage("hello world"))))
      .toDF("chunkId", "vec")
    assert(VectorIndex.occupancySkew(few, emb.dim,
      VectorIndex.zeroThresholds).isEmpty)

    val (io, _) = freshStore()
    val cfg = GraftConfig(linkMode = "exact")
    // batch 1: a corpus big enough to exceed StaleMinRows chunks
    val s1 = spark.createDataset(
      CorpusGen.generate(repos = 40, filesPerRepo = 16, seed = 15L).rows)
    new Pipeline(cfg).materialize(s1, io)
    val frozen = VectorIndex.readThresholds(spark, io).get
    assert(io.read(spark, "chunks").count() >= VectorIndex.StaleMinRows,
      "fixture too small for the probe to act")

    // batch 2: SHIFTED distribution — single-token documents from a
    // disjoint character space, whose projections sit lopsided against
    // the frozen median cuts
    val shifted = (0 until VectorIndex.StaleMinRows.toInt + 64).map { i =>
      CorpusRow("rs", s"s$i.txt", "c9", "txt", s"Zqwxv$i imports module Zqwxv${i + 1}.")
    }
    val batch2 = spark.createDataset(shifted)
    // decide the expected branch from the PROBE itself (deterministic),
    // then assert ingest took exactly that branch
    val r2 = new Pipeline(cfg).run(batch2)
    val skew = VectorIndex.occupancySkew(
      r2.chunkEmbeddings.toDF(), emb.dim, frozen)
    assert(skew.isDefined, "probe returned None on an actionable batch")
    new Pipeline(cfg).materialize(batch2, io)
    val after = VectorIndex.readThresholds(spark, io).get
    if (skew.get > VectorIndex.StaleSkewBound) {
      // rebuild fired: thresholds are the fresh CUMULATIVE medians
      assert(after.toSeq == VectorIndex.computeThresholds(
        io.read(spark, "chunk_embeddings"), emb.dim).toSeq,
        "skewed batch did not trigger the wholesale rebuild")
      assert(after.toSeq != frozen.toSeq)
    } else {
      // no trigger (fixture not skewed enough): thresholds stay frozen —
      // then the fixture must be improved until the probe bites
      assert(after.toSeq == frozen.toSeq)
      fail(s"fixture insufficiently shifted (skew=${skew.get}) — probe never exercised")
    }
    // either way the index stays self-consistent: every chunk indexed
    assert(io.read(spark, "chunk_vec_index").select("chunkId").distinct().count() ==
      io.read(spark, "chunk_embeddings").count())
  }
}
