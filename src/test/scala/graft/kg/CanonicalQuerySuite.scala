package graft.kg

import graft.kg.pipeline.{ParquetTableIO, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The linking/CC/compaction machinery must be VISIBLE to `graphrag
  * query`: a triplet lookup naming ANY alias surface form of a merged
  * entity returns the merged component's edges (the reference's alias
  * cross-product reachability, triplets.py:371-398 /
  * retrieval.py:265-314), served from the entity-bucketed
  * `canonical_edge_entity_index` + `canonical_map` layouts.
  */
class CanonicalQuerySuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  private def row(path: String, content: String) =
    CorpusRow("r", path, "c0", "scala", content)

  private val batches = Seq(
    Seq(row("a.scala", "BatchEngine imports module parseTree. StoreMap uses dataTree.")),
    Seq(row("b.scala", "Batch engine calls function sortTree.")))

  private def freshIngest(cfg: GraftConfig): ParquetTableIO = {
    val s = spark; import s.implicits._
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftcanonq").toString)
    batches.foreach(b => new Pipeline(cfg).materialize(spark.createDataset(b), io))
    io
  }

  private def indexInvariant(io: ParquetTableIO): Unit = {
    val cols = Seq("entity", "subj", "pred", "obj", "label",
      "sourceChunkId", "ebucket", "sbucket")
    val fromTable = Pipeline.canonicalIndexRows(
      io.read(spark, "canonical_edges")
        .select("subj", "pred", "obj", "label", "sourceChunkId"))
      .select(cols.map(col): _*)
      .collect().map(_.toString).toSet
    val stored = io.read(spark, "canonical_edge_entity_index")
      .select(cols.map(col): _*)
      .collect().map(_.toString).toSet
    assert(stored == fromTable,
      "canonical_edge_entity_index != canonicalIndexRows(canonical_edges)")
  }

  test("query by an alias surface form returns the merged component's edges") {
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val io = freshIngest(cfg)
    indexInvariant(io) // delta-maintained index == derived state
    val rag = new GraphRag(spark, io, cfg)

    // batch 2's linking merged {batchengine, batch engine} with canonical
    // "batch engine" — a query by the NON-canonical alias must surface
    // BOTH batches' facts, under the canonical names
    val res = rag.query("What is Batchengine?").triplets.get.collect()
    assert(res.nonEmpty, "alias query returned no triplets")
    val bySurface = res.filter(_.getAs[String]("entity") == "batchengine")
    val preds = bySurface.map(_.getAs[String]("pred")).toSet
    assert(preds == Set("imports module", "calls function"),
      s"merged component's edges not all reachable from the alias: $preds")
    assert(bySurface.forall(_.getAs[String]("subj") == "batch engine"),
      "returned edges are not the canonical rows")

    // equal to filtering the read-time canonical view on the canonical
    // entity (the VERDICT-r4 'done' bar)
    val viaView = rag.canonicalEdgesView()
      .filter(col("subj") === "batch engine" || col("obj") === "batch engine")
      .select("subj", "pred", "obj").collect().map(_.toString).toSet
    assert(bySurface.map(r => Seq("subj", "pred", "obj")
      .map(c => r.getAs[String](c)).mkString("[", ",", "]")).toSet == viaView)

    // the canonical name itself resolves identically
    val byCanon = rag.query("What is Batch Engine?").triplets.get.collect()
      .filter(_.getAs[String]("entity") == "batch engine")
    assert(byCanon.map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"),
      r.getAs[String]("obj"))).toSet ==
      bySurface.map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"),
        r.getAs[String]("obj"))).toSet)

    // the lookup partition-prunes BOTH layouts (ebucket on the edge
    // index; the map probe is a tiny collect, its pruning is cbucket)
    val plan = rag.query("What is Batchengine?").triplets.get
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pf = plan.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
      .flatMap(_.partitionFilters).map(_.toString)
    assert(pf.exists(_.contains("ebucket")),
      s"ebucket partition filter missing; filters = $pf")
  }

  test("exact-mode store: canonical lookup degrades to the base-edge answer") {
    val cfg = GraftConfig(linkMode = "exact")
    val io = freshIngest(cfg)
    // exact linking is the identity — the canonical tables would be
    // byte-duplicates of the base tables (2× the store's largest index
    // in write I/O and storage), so they are NOT materialized at all
    assert(!io.exists(spark, "canonical_edges"),
      "exact-mode store materialized identity canonical_edges")
    assert(!io.exists(spark, "canonical_edge_entity_index"),
      "exact-mode store materialized the identity canonical index")
    assert(!io.exists(spark, "canonical_map"))
    val rag = new GraphRag(spark, io, cfg)
    val canon = rag.query("What is Batchengine?").triplets.get
      .collect().map(_.toString).toSet
    // no linking → canonical graph == base graph; the indexed base path
    // must agree row-for-row
    val retrieval = new retrieve.Retrieval(new embed.HashEmbedder())
    val base = retrieval.relationshipSearchIndexed(
      io.read(spark, "edge_entity_index"), "What is Batchengine?")
      .collect().map(_.toString).toSet
    assert(canon == base)
    assert(canon.nonEmpty)
  }

  test("lsh batch over a previously-exact store backfills canonical tables") {
    val s = spark; import s.implicits._
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftexactup").toString)
    // batch 1 in exact mode: base tables only (no canonical state)
    new Pipeline(GraftConfig(linkMode = "exact"))
      .materialize(spark.createDataset(batches(0)), io)
    assert(!io.exists(spark, "canonical_edges"))
    // batch 2 upgrades to lsh: no canonical_map found → one full
    // compaction derives ALL canonical state from the cumulative base
    // edges + this batch's aliases
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    assert(io.exists(spark, "canonical_edges") &&
      io.exists(spark, "canonical_edge_entity_index") &&
      io.exists(spark, "canonical_map"))
    indexInvariant(io)
    // batch 1's fact ("batchengine imports module parsetree") is
    // reachable by batch 2's alias surface form, canonicalized
    val rag = new GraphRag(spark, io, cfg)
    val preds = rag.query("What is Batchengine?").triplets.get.collect()
      .filter(_.getAs[String]("entity") == "batchengine")
      .map(_.getAs[String]("pred")).toSet
    assert(preds == Set("imports module", "calls function"),
      s"upgrade lost cross-mode reachability: $preds")
  }
}
