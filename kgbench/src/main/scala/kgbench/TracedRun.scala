package kgbench

import graft.kg.{Chunk, ChunkEmbedding, CorpusRow, GraftConfig, GraphRag}
import kgbench.TracedRun.TQ
import graft.kg.embed.HashEmbedder
import graft.kg.extract.RuleSVOExtractor
import graft.kg.pipeline.{ParquetTableIO, Pipeline}
import graft.kg.retrieve.{Retrieval, VectorIndex}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import scala.collection.mutable

/** The traced half of a `--trace 1` run: a facade over the store at
  * `root` whose table IO, embedder and extractor are the forwarding
  * decorators of [[Trace.scala]], every call a span. Per-layer metrics
  * are assembled from the spans after [[finish]] drains the listener. */
final class TracedRun(spark: SparkSession, root: String, cfg: GraftConfig, cores: Int) {
  import Workloads.median
  import TracedRun._

  val tracer = new Tracer(spark, enabled = true)
  private val sc = spark.sparkContext
  private val embCalls = sc.longAccumulator("embed.calls")
  private val embNs = sc.longAccumulator("embed.ns")
  private val extCalls = sc.longAccumulator("extract.calls")
  private val extNs = sc.longAccumulator("extract.ns")
  private var firstWrite = 0L
  val io = new TracedTableIO(new ParquetTableIO(root), root, tracer,
    onWrite = () => if (firstWrite == 0L) firstWrite = System.nanoTime())
  val rag = new GraphRag(spark, io, cfg,
    new TracedEmbedder(new HashEmbedder(), embCalls, embNs),
    new TracedExtractor(new RuleSVOExtractor(), extCalls, extNs))
  private val gcStart = gcNs()

  private var ingestStats: Map[String, Double] = Map.empty

  /** One traced ingest: its wall seconds and span id. */
  def ingest(in: Dataset[CorpusRow]): (Double, Int) = {
    Distinct.embedTexts.clear(); Distinct.sentences.clear()
    val e0 = (embCalls.sum, embNs.sum, extCalls.sum, extNs.sum)
    firstWrite = 0L
    val own0 = tracer.ownNs
    val idx = tracer.spans.size
    val t0 = System.nanoTime()
    tracer.span("facade", "ingest")(rag.ingest(in))
    val wall = (System.nanoTime() - t0) / 1e9
    val calls = (embCalls.sum - e0._1).toDouble
    val xcalls = (extCalls.sum - e0._3).toDouble
    ingestStats = Map(
      "embed.calls" -> calls,
      "embed.calls_per_text" -> calls / math.max(1, Distinct.embedTexts.size),
      "embed.task_s" -> (embNs.sum - e0._2) / 1e9,
      "extract.calls" -> xcalls,
      "extract.calls_per_sentence" -> xcalls / math.max(1, Distinct.sentences.size),
      "extract.task_s" -> (extNs.sum - e0._4) / 1e9,
      "prewrite_s" -> (if (firstWrite == 0L) wall else (firstWrite - t0) / 1e9),
      "own_s" -> (tracer.ownNs - own0) / 1e9)
    (wall, tracer.spans(idx).id)
  }

  /** The tracer's own bookkeeping time inside span `id` (the file listings
    * that count written files) as a share of the span's remaining time: a
    * lower bound of the overhead. A traced-versus-untraced pair of ingests
    * in one JVM would cost one more ingest per run, and the later of the
    * two would always run warmer. */
  def ownShare(id: Int): Double = {
    val own = ingestStats("own_s")
    own / (tracer.spans.find(_.id == id).get.s - own)
  }

  /** Traced facade queries, split into plan (building the side's frame)
    * and exec (collecting it); answers are checked like the untraced ones. */
  def queries(qs: Seq[Q], checks: Map[Q, Array[Row] => Boolean], wl: Workloads): Seq[TQ] =
    qs.map { q =>
      val c0 = io.calls
      val idx = tracer.spans.size
      var planMs, execMs = 0.0
      val t0 = System.nanoTime()
      val rows = tracer.span("facade", s"query.${q.kind}") {
        val p0 = System.nanoTime()
        val df = Workloads.querySide(rag, q)
        val p1 = System.nanoTime()
        val r = df.collect()
        planMs = (p1 - p0) / 1e6; execMs = (System.nanoTime() - p1) / 1e6
        r
      }
      val ms = (System.nanoTime() - t0) / 1e6
      wl.check(s"traced ${q.kind} answer: ${q.text}", checks(q)(rows))
      TQ(q, ms, planMs, execMs, io.calls - c0, tracer.spans(idx).id)
    }

  /** Direct calls into `Retrieval`'s public functions on one set of table
    * handles: a warm-up call, then two timed calls each. */
  private def retrieveCalls(qs: Seq[Q], thresholds: Array[Double]): Seq[(String, M)] = {
    import spark.implicits._
    val nb = Pipeline.resolveNumBuckets(spark, io, cfg)
    val r = new Retrieval(new HashEmbedder(), cfg.copy(numBuckets = nb))
    val terms = io.read(spark, "terms")
    val chunks = io.read(spark, "chunks").as[Chunk]
    val emb = io.read(spark, "chunk_embeddings").as[ChunkEmbedding]
    val index = io.read(spark, "chunk_vec_index")
    // the facade's own routing: the canonical lookup where the store has
    // canonical tables (lsh), the base-edge entity index otherwise (exact)
    val canonical = io.exists(spark, "canonical_edge_entity_index")
    val relIndex = io.read(spark,
      if (canonical) "canonical_edge_entity_index" else "edge_entity_index")
    val cMap = if (canonical) io.read(spark, "canonical_map") else null
    val text = qs.find(_.kind != "relationship").get.text
    val rel = qs.find(_.kind == "relationship").get.text
    val fns: Seq[(String, () => DataFrame)] = Seq(
      "termSearch" -> (() => r.termSearch(terms, chunks, text, 10)),
      "vectorSearch" -> (() => r.vectorSearch(emb, chunks, text, 10)),
      "vectorSearchAnn" -> (() => r.vectorSearchAnn(index, chunks, text, 10, thresholds = thresholds)),
      "hybridSearch" -> (() => r.hybridSearch(terms, chunks, emb, text, 10)),
      "withContext" -> (() => r.withContext(
        r.termSearch(terms, chunks, text, 10).select("chunkId", "score"), chunks, 2)),
      "relationshipSearch" -> (() =>
        if (canonical) r.relationshipSearchCanonical(relIndex, cMap, rel, 10)
        else r.relationshipSearchIndexed(relIndex, rel, 10)))
    val annFiles = mutable.ArrayBuffer.empty[Double]
    val out = fns.flatMap { case (name, f) =>
      f().collect()
      val runs = (1 to 2).map { _ =>
        val idx = tracer.spans.size
        val t0 = System.nanoTime()
        var n = 0
        tracer.span("retrieve", name) {
          val df = f()
          n = df.collect().length
          if (name == "vectorSearchAnn") annFiles += scanFiles(df)
        }
        ((System.nanoTime() - t0) / 1e6, tracer.spans(idx).id, n)
      }
      tracer.finish()
      val costs = runs.map(x => (tracer.costOf(x._2), x._3))
      Seq(
        s"retrieve.$name.ms" -> M(median(runs.map(_._1)), "ms"),
        s"retrieve.$name.jobs" -> M(median(costs.map(_._1.jobs.toDouble)), "count"),
        s"retrieve.$name.bytes_read" -> M(median(costs.map(_._1.bytesRead.toDouble)), "B"),
        s"retrieve.$name.rows_read_per_result" -> M(median(costs.map { case (c, n) =>
          c.recordsRead.toDouble / math.max(1, n) }), "rows")) ++
        (if (name != "vectorSearchAnn") Nil else Seq(
          "vindex.rows_read_per_ann_query" -> M(median(costs.map(_._1.recordsRead.toDouble)), "rows"),
          "vindex.files_read_per_ann_query" -> M(median(annFiles.toSeq), "count")))
    }
    val qv = new HashEmbedder().embedQuery(text)
    (1 to 20).foreach(_ => VectorIndex.queryBuckets(qv, VectorIndex.DefaultProbes, thresholds))
    val qb = (1 to 50).map { _ =>
      val t0 = System.nanoTime()
      VectorIndex.queryBuckets(qv, VectorIndex.DefaultProbes, thresholds)
      (System.nanoTime() - t0) / 1e6
    }
    out :+ ("vindex.queryBuckets.ms" -> M(median(qb), "ms"))
  }

  /** Data files the executed plan's parquet scans read. */
  private def scanFiles(df: DataFrame): Double = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }

  /** Per-layer metrics of the traced ingest `ingestSpan` (its input
    * content bytes `inBytes`), the traced post-ingest queries `post` and
    * warm queries `warm`. */
  def layerMetrics(ingestSpan: Int, inBytes: Long, post: Seq[TQ], warm: Seq[TQ],
      qs: Seq[Q], thresholds: Array[Double], overheadFrac: Double): Seq[(String, M)] = {
    val retrieve = retrieveCalls(qs, thresholds)
    tracer.finish()
    val ingest = tracer.spans.find(_.id == ingestSpan).get
    val ioSpans = tracer.descendants(ingest.id).filter(_.layer == "io")
    def costOf(s: Span) = tracer.costOf(s.id)
    def ioAgg(sel: Span => Boolean, prefix: String): Seq[(String, M)] = {
      val ss = ioSpans.filter(sel)
      val cs = ss.map(costOf)
      Seq(s"$prefix.s" -> M(ss.map(_.s).sum, "s"),
        s"$prefix.calls" -> M(ss.size.toDouble, "count"),
        s"$prefix.bytes_read" -> M(cs.map(_.bytesRead).sum.toDouble, "B"),
        s"$prefix.bytes_written" -> M(cs.map(_.bytesWritten).sum.toDouble, "B"),
        s"$prefix.files_written" -> M(ss.map(_.filesWritten).sum.toDouble, "count"),
        s"$prefix.jobs" -> M(cs.map(_.jobs).sum.toDouble, "count"))
    }
    val writes = ioSpans.filterNot(_.name.startsWith("meta."))
    // a declared (op, table) pair a workload does not hit reads 0
    val opTable = (writes.map(_.name) ++ FullOps ++ TimedOps ++ WriteOps).distinct.sorted
    val tables = opTable.map(_.split('.').last).distinct
    val ioMetrics =
      ioAgg(s => !s.name.startsWith("meta."), "io") ++
        opTable.flatMap(n => ioAgg(_.name == n, s"io.$n")) ++
        tables.flatMap(t => ioAgg(_.name.endsWith(s".$t"), s"io.$t")) ++
        Seq("io.meta.calls" -> M(ioSpans.count(_.name.startsWith("meta.")).toDouble, "count"),
          "io.write_amp" -> M(writes.map(costOf(_).bytesWritten).sum.toDouble / inBytes, "B/B"))

    val firstMut = writes.filter(s => Mutating.exists(op => s.name.startsWith(op + ".")))
      .map(_.startNs).minOption
    val afterFirst = writes.filter(s => firstMut.exists(s.startNs >= _))
    val prewrite = ingestStats("prewrite_s")
    val compaction = writes.filter { s =>
      val table = s.name.split('.').last
      table.startsWith("canonical_") || table == "vertices" || table == "aliases"
    }
    // one traced batch: 1 when it rebuilt canonical_edges in full
    val fullFrac = if (ioSpans.exists(_.name == "overwrite.canonical_edges")) 1.0 else 0.0
    val pipeline = Seq(
      "pipeline.prewrite.s" -> M(prewrite, "s"),
      "pipeline.unattributed.s" -> M(ingest.s - afterFirst.map(_.s).sum - prewrite -
        ingestStats("own_s"), "s"),
      "pipeline.compaction.s" -> M(compaction.map(_.s).sum, "s"),
      "pipeline.compaction.full_frac" -> M(fullFrac, "frac"))

    val layers = Seq("embed.calls", "embed.calls_per_text", "embed.task_s",
      "extract.calls", "extract.calls_per_sentence", "extract.task_s").map { k =>
      k -> M(ingestStats(k), if (k.endsWith("_s")) "s" else if (k.endsWith("calls")) "count" else "ratio")
    }

    def sparkOf(id: Int, wall: Double, suffix: String): Seq[(String, M)] = {
      val c = tracer.costOf(id)
      Seq(s"spark.jobs_$suffix" -> M(c.jobs.toDouble, "count"),
        s"spark.stages_$suffix" -> M(c.stages.toDouble, "count"),
        s"spark.tasks_$suffix" -> M(c.tasks.toDouble, "count"),
        s"spark.task_s_$suffix" -> M(c.taskNs / 1e9, "s"),
        s"spark.shuffle_write_bytes_$suffix" -> M(c.shuffleWrite.toDouble, "B"),
        s"spark.core_busy_frac_$suffix" -> M(c.taskNs / 1e9 / (wall * cores), "frac"))
    }
    def medOf(xs: Seq[Seq[(String, M)]]): Seq[(String, M)] =
      xs.head.map { case (k, m) => k -> M(median(xs.map(_.find(_._1 == k).get._2.value)), m.unit) }
    val sparkM = sparkOf(ingest.id, ingest.s, "per_ingest") ++
      medOf(warm.map(t => sparkOf(t.span, t.ms / 1e3, "per_query"))) ++
      Seq("spark.cache_peak_mb" -> M(tracer.listener.cachedPeak / 1048576.0, "MB"),
        "jvm.gc_s" -> M((gcNs() - gcStart) / 1e9, "s"))

    val firstKind = post.head.q.kind
    val facade = Seq(
      "facade.plan.ms" -> M(median(warm.map(_.planMs)), "ms"),
      "facade.exec.ms" -> M(median(warm.map(_.execMs)), "ms"),
      "facade.io_calls_per_warm_query" -> M(warm.map(_.ioCalls).sum.toDouble / warm.size, "count"),
      "facade.handle_open.ms" -> M(post.head.ms -
        median(warm.filter(_.q.kind == firstKind).map(_.ms)), "ms")) ++
      Workloads.Kinds.map(k => s"facade.$k.ms" -> M(median(warm.filter(_.q.kind == k).map(_.ms)), "ms"))

    all = ioMetrics ++ pipeline ++ layers ++ retrieve ++ facade ++ sparkM ++
      Seq("trace.overhead_frac" -> M(overheadFrac, "frac"))
    val byName = all.toMap
    Declared.map(k => k -> byName.getOrElse(k,
      throw new IllegalStateException(s"per-layer metric $k was not produced")))
  }

  /** Every per-layer figure of the run, including the (op, table) pairs
    * not declared in BENCHMARK.json; [[writeTrace]] writes them out. */
  private var all: Seq[(String, M)] = Nil

  /** Writes the spans and every per-layer figure as one JSON document. */
  def writeTrace(path: String, workload: String, seed: Long): Unit = {
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = tracer.spans.map { sp =>
      val c = Option(tracer.listener.costs.get(sp.id)).getOrElse(new SparkCost)
      s"""{"id": ${sp.id}, "parent": ${sp.parent}, "layer": ${str(sp.layer)}, """ +
        s""""name": ${str(sp.name)}, "start_ms": ${(sp.startNs - t0) / 1e6}, """ +
        s""""end_ms": ${(sp.endNs - t0) / 1e6}, "jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "task_s": ${c.taskNs / 1e9}, "bytes_read": ${c.bytesRead}, """ +
        s""""records_read": ${c.recordsRead}, "bytes_written": ${c.bytesWritten}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWrite}, "files_written": ${sp.filesWritten}}"""
    }
    val metrics = all.map { case (k, m) => s"""${str(k)}: {"value": ${m.value}, "unit": ${str(m.unit)}}""" }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      s"""{"workload": ${str(workload)}, "seed": $seed, "metrics": {${metrics.mkString(", ")}},\n""" +
        s""" "spans": [\n${spans.mkString(",\n")}\n]}\n""")
  }
}

object TracedRun {
  import Workloads.Kinds

  /** One traced facade query: wall, plan and exec ms, IO calls, span id. */
  final case class TQ(q: Q, ms: Double, planMs: Double, execMs: Double, ioCalls: Long, span: Int)

  /** (op, table) pairs reported with all six io figures, with `.s` only,
    * and with time and bytes (the delta-compaction rewrite). */
  val FullOps = Seq("appendNew.terms", "merge.edges", "merge.edge_entity_index")
  val TimedOps = Seq("merge.vertices", "merge.aliases", "appendNew.chunks",
    "appendNew.chunk_embeddings", "appendNew.pred_index", "appendNew.lsh_band_index")
  val WriteOps = Seq("overwritePartitions.canonical_edges")

  /** The per-layer metrics every traced run reports (BENCHMARK.json
    * `per_layer`): each is produced on both workloads. */
  val Declared: Seq[String] = {
    val io6 = Seq("s", "calls", "bytes_read", "bytes_written", "files_written", "jobs")
    val retrieve = Seq("termSearch", "vectorSearch", "vectorSearchAnn", "hybridSearch",
      "withContext", "relationshipSearch")
    val spark = Seq("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "core_busy_frac")
    io6.map("io." + _) ++
      Seq("io.meta.calls", "io.write_amp") ++
      FullOps.flatMap(n => io6.map(x => s"io.$n.$x")) ++
      TimedOps.map(n => s"io.$n.s") ++
      WriteOps.flatMap(n => Seq("s", "bytes_read", "bytes_written", "files_written").map(x => s"io.$n.$x")) ++
      Seq("s", "bytes_written", "files_written").map(x => s"io.chunk_vec_index.$x") ++
      Seq("pipeline.prewrite.s", "pipeline.unattributed.s", "pipeline.compaction.s",
        "pipeline.compaction.full_frac") ++
      Seq("embed.calls", "embed.calls_per_text", "embed.task_s",
        "extract.calls", "extract.calls_per_sentence", "extract.task_s") ++
      retrieve.flatMap(f => Seq("ms", "jobs", "bytes_read", "rows_read_per_result").map(x => s"retrieve.$f.$x")) ++
      Seq("vindex.queryBuckets.ms", "vindex.rows_read_per_ann_query", "vindex.files_read_per_ann_query") ++
      Seq("facade.plan.ms", "facade.exec.ms", "facade.io_calls_per_warm_query", "facade.handle_open.ms") ++
      Kinds.map(k => s"facade.$k.ms") ++
      spark.map(x => s"spark.${x}_per_ingest") ++ spark.map(x => s"spark.${x}_per_query") ++
      Seq("spark.cache_peak_mb", "jvm.gc_s", "trace.overhead_frac")
  }

  val Mutating = Seq("merge", "overwrite", "overwritePartitions", "appendNew")
  val Tables = Seq("chunks", "chunk_embeddings", "chunk_vec_index", "chunk_vec_meta",
    "terms", "edges", "edge_entity_index", "pred_index", "canonical_edges",
    "canonical_edge_entity_index", "canonical_map", "vertices", "aliases", "lsh_band_index")

  def gcNs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L
  }
}
