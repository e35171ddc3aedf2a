package graft.kg

import graft.kg.fixtures.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference CLI lifecycle (§3.1-3.3) through the facade:
  * process → query (hybrid+triplets) → query --with-context → stats →
  * process again (idempotent) → reset. */
class GraphRagSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  lazy val gen = CorpusGen.generate(repos = 4, filesPerRepo = 5, seed = 11L)
  lazy val root = java.nio.file.Files.createTempDirectory("graftrag").toString
  lazy val engine = GraphRag(spark, root)
  lazy val corpus = {
    val s = spark; import s.implicits._
    spark.createDataset(gen.rows)
  }

  test("process → query returns scored chunks and triplets") {
    val counts = engine.ingest(corpus)
    assert(counts("edges") > 0 && counts("chunks") > 0 && counts("terms") > 0)

    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val res = engine.query(s"Tell me about ${subj.capitalize}")
    val hits = res.chunks.collect()
    assert(hits.nonEmpty, "hybrid query returned no chunks")
    assert(hits.forall(r => !r.isNullAt(r.fieldIndex("score"))))
    val trips = res.triplets.get.collect()
    assert(trips.nonEmpty, "no triplets for a known entity")
    trips.foreach { r =>
      assert(r.getAs[String]("subj") == subj || r.getAs[String]("obj") == subj)
    }
  }

  test("query --with-context expands around graph hits") {
    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val res = engine.query(subj, withContext = true, includeTriplets = false)
    val rows = res.chunks.collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Boolean]("is_match")))
    assert(res.triplets.isEmpty)
  }

  test("query with idfWeighting ranks via tf·ln(N/df) over the stored tables") {
    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val q = s"Tell me about ${subj.capitalize}"
    val idf = engine.query(q, idfWeighting = true, includeTriplets = false)
      .chunks.collect()
    assert(idf.nonEmpty, "idf-weighted hybrid query returned no chunks")
    assert(idf.forall { r =>
      val sc = r.getAs[Double]("score"); sc >= 0.0 && sc <= 1.0
    })
    // the context path also accepts the weighting flag
    val ctx = engine.query(subj, withContext = true, includeTriplets = false,
      idfWeighting = true).chunks.collect()
    assert(ctx.nonEmpty)
  }

  test("relationship lookup routes through the entity index, prunes, matches the scan") {
    val s = spark; import s.implicits._
    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val query = s"What does ${subj.capitalize} do?"
    val io = new pipeline.ParquetTableIO(root)
    val retrieval = new retrieve.Retrieval(new embed.HashEmbedder())
    val indexed = retrieval
      .relationshipSearchIndexed(io.read(spark, "edge_entity_index"), query)
    val scan = retrieval.relationshipSearch(
      io.read(spark, "edges").drop("sbucket"), query)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("entity"), r.getAs[String]("subj"),
        r.getAs[String]("pred"), r.getAs[String]("obj"))
    assert(indexed.collect().map(key).toSeq == scan.collect().map(key).toSeq)
    assert(indexed.count() > 0)
    // the parquet scan must partition-prune on the LITERAL ebucket
    // predicate — a bounded subset of the 32 bucket dirs, not a full scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = indexed.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the indexed plan")
    val pf = scans.flatMap(_.partitionFilters).map(_.toString)
    assert(pf.exists(_.contains("ebucket")),
      s"ebucket partition filter missing; filters = $pf")
  }

  test("term search partition-prunes the tbucket layout and matches unpruned") {
    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val q = s"Tell me about ${subj.capitalize}"
    val io = new pipeline.ParquetTableIO(root)
    val retrieval = new retrieve.Retrieval(new embed.HashEmbedder())
    val s = spark; import s.implicits._
    val chunksDs = io.read(spark, "chunks").as[Chunk]
    val stored = io.read(spark, "terms")
    assert(stored.columns.contains("tbucket"), "terms table missing tbucket layout")
    val pruned = retrieval.termSearch(stored, chunksDs, q)
    // dropping the layout column = the unpruned legacy path; same answer
    val unpruned = retrieval.termSearch(stored.drop("tbucket"), chunksDs, q)
    assert(pruned.collect().map(_.toString).toSeq ==
      unpruned.collect().map(_.toString).toSeq)
    assert(pruned.count() > 0)
    // and the scan must carry a tbucket partition filter (literal IN),
    // reading a bounded subset of the 32 bucket dirs
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val pf = scans.flatMap(_.partitionFilters).map(_.toString)
    assert(pf.exists(_.contains("tbucket")),
      s"tbucket partition filter missing; filters = $pf")
    // idf + bm25 rankings agree with their unpruned selves too
    Seq("idf", "bm25").foreach { rank =>
      val p = (if (rank == "idf") retrieval.termSearchIdf(stored, chunksDs, q)
               else retrieval.termSearchBm25(stored, chunksDs, q))
        .collect().map(_.toString).toSeq
      val u = (if (rank == "idf") retrieval.termSearchIdf(stored.drop("tbucket"), chunksDs, q)
               else retrieval.termSearchBm25(stored.drop("tbucket"), chunksDs, q))
        .collect().map(_.toString).toSeq
      assert(p == u, s"$rank diverged under pruning")
    }
  }

  test("bm25 ranking through the facade returns saturated scores") {
    val subj = gen.truth.map(_._1).find(!_.contains(' ')).get
    val res = engine.query(s"Tell me about ${subj.capitalize}",
      includeTriplets = false, ranking = "bm25")
    val rows = res.chunks.collect()
    assert(rows.nonEmpty, "bm25 hybrid query returned no chunks")
    assert(rows.forall { r =>
      val sc = r.getAs[Double]("score"); !r.isNullAt(r.fieldIndex("score")) &&
        sc >= 0.0 && sc <= 1.0
    })
  }

  test("ann vector search prunes the vbucket layout and recalls the exact top-k") {
    val s = spark; import s.implicits._
    val io = new pipeline.ParquetTableIO(root)
    val retrieval = new retrieve.Retrieval(new embed.HashEmbedder())
    val chunksDs = io.read(spark, "chunks").as[Chunk]
    // a query close to real content: a stored chunk's own text
    val q = chunksDs.orderBy("chunkId").head().text
    val k = 10
    val exact = retrieval.vectorSearch(
      io.read(spark, "chunk_embeddings").as[ChunkEmbedding], chunksDs, q, k)
      .select("chunkId").collect().map(_.getString(0)).toSet
    // the stored layout is median-thresholded; the query sketch must use
    // the same sidecar thresholds the materializer froze
    val thr = retrieve.VectorIndex.readThresholds(spark, io).get
    assert(thr.length == retrieve.VectorIndex.NumPlanes)
    val annDf = retrieval.vectorSearchAnn(
      io.read(spark, "chunk_vec_index"), chunksDs, q, k, thresholds = thr)
    val ann = annDf.select("chunkId").collect().map(_.getString(0)).toSet
    assert(ann.nonEmpty, "ann search returned nothing")
    val recall = (ann intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@$k = $recall (ann=$ann exact=$exact)")
    // the scan must partition-prune on the literal (l, vbucket) sketch
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = annDf.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pf = scans.flatMap(_.partitionFilters).map(_.toString)
    assert(pf.exists(p => p.contains("vbucket")),
      s"vbucket partition filter missing; filters = $pf")
    // every candidate partition subset must be a strict subset of the
    // L * 2^K layout (bounded read amplification)
    val readParts = scans.map(_.relation.location.listFiles(
      scans.head.partitionFilters, Nil).size).sum
    val totalParts = retrieve.VectorIndex.NumTables *
      (1 << retrieve.VectorIndex.BitsPerTable)
    // bound = L tables × DefaultProbes query-directed probes (48 of 256)
    assert(readParts <= retrieve.VectorIndex.NumTables *
      retrieve.VectorIndex.DefaultProbes,
      s"read $readParts partitions of $totalParts — pruning not bounded")
    // and through the facade
    val res = engine.query(q, includeTriplets = false, vectorMode = "ann")
    assert(res.chunks.collect().nonEmpty)
  }

  test("stats() is metadata-only: zero Spark jobs scheduled") {
    engine.stats() // warm any lazy session state first
    val (st, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext) {
      engine.stats()
    }
    assert(st.nonEmpty && st("chunks") > 0)
    assert(jobs == 0, s"stats() scheduled $jobs Spark jobs — footer path lost")
  }

  test("ingest and stats() counts are true row counts, " +
      "whatever filter predicate the session conf carries") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftcounts").toString
    val io = new graft.kg.pipeline.ParquetTableIO(root)
    def batch(texts: String*) = spark.createDataset(texts.zipWithIndex.map {
      case (t, i) => CorpusRow("r", s"${t.hashCode}-$i.scala", "c0", "scala", t)
    })
    val exact = GraftConfig(linkMode = "exact")
    val lsh = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    // exact store, then an lsh batch (it backfills the canonical tables
    // with a full compaction), then an lsh batch on the delta path
    val truth = Seq(
      exact -> batch("BatchEngine imports module parseTree. StoreMap uses dataTree.",
        "ParseTree depends on mergeLib."),
      lsh -> batch("Batch engine calls function sortTree."),
      lsh -> batch("Parse tree extends class mainLib. IndexSet uses scanList.")
    ).map { case (cfg, docs) =>
      val rag = new GraphRag(spark, io, cfg)
      val counts = rag.ingest(docs).filterNot(_._1.startsWith("observed_"))
      val stats = rag.stats()
      val truth = stats.keys.map(t => t -> io.read(spark, t).count()).toMap
      assert(stats == truth, s"${cfg.linkMode} batch")
      assert(counts == truth.filter(kv => counts.contains(kv._1)), s"${cfg.linkMode} batch")
      assert(truth("chunk_vec_index") ==
        graft.kg.retrieve.VectorIndex.NumTables * truth("chunk_embeddings"))
      truth
    }.last
    assert(truth.contains("canonical_edges") && truth.contains("lsh_band_index"))
    // a predicate on an absent column drops every row group it is applied to
    val conf = spark.sparkContext.hadoopConfiguration
    val key = org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE
    org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf,
      org.apache.parquet.filter2.predicate.FilterApi.eq[java.lang.Integer,
        org.apache.parquet.filter2.predicate.Operators.IntColumn](
        org.apache.parquet.filter2.predicate.FilterApi.intColumn("no_such_column"),
        Integer.valueOf(1)))
    // the store conf is copied at its first use, so the io must be fresh
    try assert(new GraphRag(spark, new graft.kg.pipeline.ParquetTableIO(root), lsh)
      .stats() == truth)
    finally Seq(key, s"$key.human.readable").foreach(conf.unset)
  }

  test("re-ingest is idempotent; stats stable; reset truncates") {
    val before = engine.stats()
    engine.ingest(corpus)
    val after = engine.stats()
    assert(before == after, "re-ingest changed table contents")
    engine.reset()
    assert(engine.stats().values.forall(_ == 0L))
  }
}
