package kgbench

import graft.kg.{Chunk, CorpusRow, GraftConfig, GraphRag}
import graft.kg.embed.HashEmbedder
import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.{GraphTableIO, ParquetTableIO, Pipeline}
import graft.kg.retrieve.{Retrieval, VectorIndex}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The KG benchmark: one workload per invocation, in one JVM at
  * local[nproc] (shuffle partitions = nproc, AQE on).
  *
  *   --workload bulk_ingest|incremental_lsh --seed N --seconds S
  *   --trace 0|1 --work DIR
  *
  * Inputs come from `CorpusGen.generate` with the given seed, written once
  * to parquet input tables during setup; the program only reads those
  * tables. The last stdout line is the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`. The exit code is
  * 1 when any operation failed or answered wrong. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
      seedStore: String, traceOut: Option[String] = None)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (kv.contains("make-seed-store"))
      return Args("make-seed-store", 0L, 1, trace = false, need("work"), need("make-seed-store"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("seed-store"), kv.get("trace-out"))
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(new java.io.File(a.seedStore).isDirectory, s"no seed store at ${a.seedStore}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out =
      try new Workloads(spark, args, n, t0).run()
      finally spark.stop()
    println(out.json)
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

final class Outcome(val correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, M)]) {
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Workloads {
  val names = Seq("bulk_ingest", "incremental_lsh")

  /** Corpus sizes (CorpusGen repos R, files per repo F; repo 0 is the 10×
    * mega-repo, so docs = (R + 9) · F). */
  val BulkRF = (4, 40)
  /** The incremental workload's seed store: built once per build from a
    * fixed generator seed, copied into each run (see [[Workloads.incremental]]). */
  val SeedRF = (8, 40)
  val SeedStoreSeed = 7L
  /** 10 docs (the mega-repo's 10 files): their names reach at most 77 of
    * the 128 name buckets over 300 seeds, below the delta-compaction
    * saturation gate (0.75 · 128), so every batch takes the delta path. */
  val BatchRF = (1, 1)
  val LshConfig = GraftConfig(linkMode = "lsh", linkThreshold = 0.85, numBuckets = 128)
  val ExactConfig = GraftConfig(linkMode = "exact")
  /** How many times set-up prepares a run's inputs; `setup_s` takes the median. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val k = s.size
      if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
    }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Data files of a table of the store at `root`, relative to the table's
    * directory. */
  def dataFiles(root: String, table: String): Set[String] = {
    val dir = new java.io.File(root, table).toPath
    if (!java.nio.file.Files.exists(dir)) Set.empty
    else {
      val it = java.nio.file.Files.walk(dir).iterator()
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet")) out += dir.relativize(p).toString
      }
      out.result()
    }
  }

  val Kinds = Seq("hybrid_exact", "hybrid_ann", "relationship", "context")
  val Verbs = Seq("imports module", "calls function", "depends on", "uses", "extends class")

  /** The side of a facade query its caller consumes — a triplets-only
    * caller never touches the hits side — as a frame still to collect. */
  def querySide(rag: GraphRag, q: Q): DataFrame = q.kind match {
    case "hybrid_exact" => rag.query(q.text, includeTriplets = false).chunks
    case "hybrid_ann" => rag.query(q.text, includeTriplets = false, vectorMode = "ann").chunks
    case "relationship" => rag.query(q.text).triplets.get
    case "context" => rag.query(q.text, withContext = true, includeTriplets = false).chunks
  }
}

/** One query of the mix: `kind` ∈ hybrid_exact | hybrid_ann |
  * relationship | context. */
final case class Q(kind: String, text: String)

final class Workloads(spark: SparkSession, args: Main.Args, cores: Int, jvmStart: Long) {
  import Workloads._
  import spark.implicits._

  private var attempted = 0L
  private var failed = 0L
  /** Counts one checked answer or table; a mismatch fails the run. */
  private[kgbench] def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[kgbench] WRONG: $what") }
  }

  private val work = args.work
  private var inputBytes = 0L

  def run(): Outcome = {
    val fidelity = if (args.trace) Fidelity.check(spark) else Nil
    fidelity.foreach(m => check(s"decorator forwards $m", ok = false))
    val metrics = args.workload match {
      case "make-seed-store" => makeSeedStore(); Nil
      case "bulk_ingest" => bulk()
      case "incremental_lsh" => incremental()
    }
    new Outcome(failed == 0, attempted, failed, metrics)
  }

  // ---------- inputs ----------

  /** A generated corpus whose repos are prefixed with `tag`, so batches
    * never collide on document ids. */
  private def generate(rf: (Int, Int), seed: Long, tag: String): CorpusGen.Generated = {
    val g = CorpusGen.generate(rf._1, rf._2, seed)
    g.copy(rows = g.rows.map(r => r.copy(repo = s"$tag/${r.repo}")))
  }
  /** Generates a corpus and writes it as a parquet input table; returns
    * the table's Dataset and the generator output (rows and truth set). */
  private def input(name: String, rf: (Int, Int), seed: Long, tag: String)
      : (Dataset[CorpusRow], CorpusGen.Generated) = {
    val g = generate(rf, seed, tag)
    val path = s"$work/input/$name"
    spark.createDataset(g.rows).repartition(cores).write.mode("overwrite").parquet(path)
    (spark.read.parquet(path).as[CorpusRow], g)
  }
  private def contentBytes(rows: Seq[CorpusRow]): Long =
    rows.map(_.content.getBytes("UTF-8").length.toLong).sum

  /** Set-up time: JVM start to a ready Spark session, plus the median of
    * [[SetupReps]] runs of the workload's own preparation `prep(k)`. The
    * repetitions keep one slow file-system moment from deciding the
    * figure. Returns every repetition's result and the set-up seconds. */
  private def setup[A](prep: Int => A): (Seq[A], Double) = {
    val session = secs(jvmStart)
    val reps = (0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      val a = prep(k)
      (a, secs(t0))
    }
    (reps.map(_._1), session + median(reps.map(_._2)))
  }


  private def storeBytes(root: String): Long = {
    val dir = new java.io.File(root).toPath
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val it = java.nio.file.Files.walk(dir).iterator()
      var total = 0L
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
          total += java.nio.file.Files.size(p)
      }
      total
    }
  }

  // ---------- query mix ----------

  /** Eight queries, two per type, naming hub, alias-cluster and rare
    * entities of the generated truth set. The seed picks the names; the
    * structure is fixed, so runs differ in data, not in mix: the first
    * four (one per type, the post-ingest queries) name entity kinds
    * hub, alias, rare, hub; the last four (the warm ones) alias, rare,
    * hub, alias. */
  private def mix(truth: Set[(String, String, String)], seed: Long): Seq[Q] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val counts = truth.toSeq.flatMap(t => Seq(t._1, t._3)).groupBy(identity)
      .map { case (k, v) => k -> v.size }.toSeq.sortBy { case (k, c) => (-c, k) }
    val hubs = counts.take(2).map(_._1)
    val alias = counts.map(_._1).filter(_.contains(' '))
    val rare = counts.filter(_._2 >= 2).map(_._1).filterNot(_.contains(' ')).takeRight(20)
    val kinds = Seq(hubs, alias, rare)
    def pick(k: Int) = { val xs = kinds(k % 3); xs(rnd.nextInt(xs.size)) }
    def cap(s: String) = s.split(' ').map(_.capitalize).mkString(" ")
    Seq(0, 1).flatMap { round =>
      Kinds.zipWithIndex.map { case (t, i) =>
        val k = i + round
        if (t == "relationship") Q(t, s"What does ${cap(pick(k))} use?")
        else Q(t, s"${pick(k)} ${Verbs(rnd.nextInt(Verbs.size))} ${pick(k + 1)}")
      }
    }
  }

  /** Query texts for `ann_recall_at_10`: the mix's text form over random
    * entities of the truth set, enough of them that the mean is steady. */
  private def recallTexts(truth: Set[(String, String, String)], seed: Long, n: Int = 40): Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x2545F4914F6CDD1DL)
    val names = truth.toSeq.flatMap(t => Seq(t._1, t._3)).distinct.sorted
    Seq.fill(n)(s"${names(rnd.nextInt(names.size))} ${Verbs(rnd.nextInt(Verbs.size))} " +
      names(rnd.nextInt(names.size)))
  }


  /** Expected answers of a mix on the store at `root`: chunk-side answers
    * from [[Expect]] over every ingested row; the ANN side is the store's
    * own ANN list (whose layout is the program's choice), checked for
    * exact scores; relationship answers from the store's canonical tables
    * (checked separately against the base edges). Returns a checker per
    * query plus the ANN-vs-exact top-10 recall of each text query. */
  private def expectations(exp: Expect, io: GraphTableIO, cfg: GraftConfig, qs: Seq[Q],
      recallTexts: Seq[String],
      edgeMap: Map[(String, String, String), String], canon: Map[String, String])
      : (Map[Q, Array[Row] => Boolean], Seq[Double]) = {
    val nb = Pipeline.resolveNumBuckets(spark, io, cfg)
    val retrieval = new Retrieval(new HashEmbedder(), cfg.copy(numBuckets = nb))
    val chunks = io.read(spark, "chunks").as[Chunk]
    val index = io.read(spark, "chunk_vec_index")
    val thresholds = VectorIndex.readThresholds(spark, io).get
    def scored(rows: Array[Row]) =
      rows.map(r => (r.getAs[String]("chunkId"), r.getAs[Double]("score"))).toSeq
    def ann(text: String): Vector[(String, Double)] =
      retrieval.vectorSearchAnn(index, chunks, text, 10, thresholds = thresholds)
        .select("chunkId", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toVector
    // the index's (l, vbucket) → chunk layout and the engine's probe plan
    // give each text's ANN list without a Spark job; checked equal to the
    // engine's own vectorSearchAnn on the mix's texts below
    val buckets: Map[(Int, Int), Seq[String]] = index.select("l", "vbucket", "chunkId").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rs) => k -> rs.map(_.getString(2)).toSeq }
    val qe = new HashEmbedder()
    def annLayout(text: String): Vector[(String, Double)] = exp.vectorTop(text,
      VectorIndex.queryBuckets(qe.embedQuery(text), VectorIndex.DefaultProbes, thresholds)
        .flatMap(b => buckets.getOrElse(b, Nil)))
    val recalls = recallTexts.map { t =>
      annLayout(t).map(_._1).toSet.intersect(exp.vectorSearch(t).map(_._1).toSet).size / 10.0
    }
    val checks = qs.distinct.map { q =>
      val f: Array[Row] => Boolean = q.kind match {
        case "hybrid_exact" =>
          val want = exp.hybrid(exp.vectorSearch(q.text), exp.termSearch(q.text))
          rows => Expect.sameRanking(scored(rows), want)
        case "hybrid_ann" =>
          val a = ann(q.text)
          check(s"ann list from the index layout == vectorSearchAnn: ${q.text}",
            Expect.sameRanking(annLayout(q.text), a))
          val exactScore = exp.vectorSearch(q.text, Int.MaxValue).toMap
          check(s"ann hits carry exact cosine scores: ${q.text}",
            a.forall { case (c, s) => exactScore.get(c).exists(e => math.abs(e - s) <= 1e-6) })
          val want = exp.hybrid(a, exp.termSearch(q.text))
          rows => Expect.sameRanking(scored(rows), want)
        case "context" =>
          val want = exp.context(q.text).map { case (c, s, m) => (c, math.rint(s * 1e6), m) }.toSet
          rows => rows.map(r => (r.getAs[String]("chunkId"),
            math.rint(r.getAs[Double]("score") * 1e6), r.getAs[Boolean]("is_match"))).toSet == want
        case "relationship" =>
          val want = exp.relationships(q.text, edgeMap, canon).toSet
          rows => rows.map(r => (r.getAs[String]("entity"), r.getAs[String]("subj"),
            r.getAs[String]("pred"), r.getAs[String]("obj"),
            r.getAs[String]("sourceChunkId"))).toSet == want
      }
      q -> f
    }.toMap
    (checks, recalls)
  }

  private def edgeSet(io: GraphTableIO, table: String): Map[(String, String, String), String] =
    io.read(spark, table).select("subj", "pred", "obj", "sourceChunkId").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap

  private def canonMap(io: GraphTableIO): Map[String, String] =
    if (!io.exists(spark, "canonical_map")) Map.empty
    else io.read(spark, "canonical_map").select("name", "canonicalName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Latency of each query, in ms, checked against its expectation. */
  private def timedQueries(rag: GraphRag, qs: Seq[Q],
      checks: Map[Q, Array[Row] => Boolean]): Seq[(Q, Double)] = qs.map { q =>
    val t0 = System.nanoTime()
    val rows = querySide(rag, q).collect()
    val ms = (System.nanoTime() - t0) / 1e6
    check(s"${q.kind} answer: ${q.text}", checks(q)(rows))
    (q, ms)
  }

  /** Query metrics of a run: `post` are the first queries after an
    * ingest (one per type), `warm` the later ones. Means, not medians: the
    * mix's types differ several-fold in latency, and a median of a few
    * samples jumps between them. */
  private def queryMetrics(post: Seq[(Q, Double)], warm: Seq[(Q, Double)],
      recalls: Seq[Double]): Seq[(String, M)] = {
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    Seq(
      "post_ingest_query_mean_ms" -> M(mean(post.map(_._2)), "ms"),
      // one closed-loop client: its throughput is 1000 / query_mean_ms
      "query_mean_ms" -> M(mean(warm.map(_._2)), "ms"),
      "ann_recall_at_10" -> M(mean(recalls), "frac"))
  }

  // ---------- bulk_ingest ----------

  private def bulk(): Seq[(String, M)] = {
    val (inputs, setupS) = setup(k => input(s"bulk$k", BulkRF, args.seed, "b"))
    val (in, g) = inputs.last
    inputBytes = contentBytes(g.rows)
    val docs = g.rows.size

    val root = s"$work/store-bulk"
    val io = new ParquetTableIO(root)
    val rag = new GraphRag(spark, io, ExactConfig)
    val t0 = System.nanoTime()
    rag.ingest(in)
    val ingestS = secs(t0)

    val stored = edgeSet(io, "edges")
    check("bulk edges == CorpusGen truth", stored.keySet == g.truth)
    val exp = new Expect(g.rows)
    val qs = mix(g.truth, args.seed)
    val texts = recallTexts(g.truth, args.seed)
    val (checks, recalls) = expectations(exp, io, ExactConfig, qs, texts, exp.edges, Map.empty)

    if (!args.trace) {
      // the first query of each type meets fresh handles; the mix's other
      // four then cycle warm until `--seconds` of timed work have passed
      val first = qs.distinctBy(_.kind)
      val rest = qs.diff(first)
      val post = timedQueries(rag, first, checks)
      val warm = mutable.ArrayBuffer.empty[(Q, Double)]
      var i = 0
      while (warm.size < rest.size || secs(t0) < args.seconds) {
        warm ++= timedQueries(rag, Seq(rest(i % rest.size)), checks)
        i += 1
      }
      Seq("setup_s" -> M(setupS, "s"),
        "ingest_docs_per_s" -> M(docs / ingestS, "docs/s")) ++
        queryMetrics(post, warm.toSeq, recalls) ++
        Seq("store_bytes_per_input_byte" -> M(storeBytes(root).toDouble / inputBytes, "B/B"))
    } else {
      // traced: the same fresh-store ingest into a second root through the
      // decorators; its outputs must equal the untraced store's
      val tr = new TracedRun(spark, s"$work/store-bulk-traced", ExactConfig, cores)
      val (_, tSpan) = tr.ingest(in)
      check("traced ingest stats() == untraced", tr.rag.stats() == rag.stats())
      checkSame("traced", digests(tr.io), digests(io))
      tracedQueries(tr, qs, checks, tSpan, inputBytes, io)
    }
  }

  /** The traced half shared by both workloads: the mix through the traced
    * facade, then the per-layer metrics of ingest span `span` and the
    * trace file. */
  private def tracedQueries(tr: TracedRun, qs: Seq[Q], checks: Map[Q, Array[Row] => Boolean],
      span: Int, inBytes: Long, io: GraphTableIO): Seq[(String, M)] = {
    val first = qs.distinctBy(_.kind)
    val tPost = tr.queries(first, checks, this)
    val tWarm = tr.queries(qs.diff(first), checks, this)
    // the facade's contract: a warm query reuses its cached handles
    check("warm facade queries make no IO calls", tWarm.forall(_.ioCalls == 0))
    val layers = tr.layerMetrics(span, inBytes, tPost, tWarm, qs, thresholds(io), tr.ownShare(span))
    args.traceOut.foreach(tr.writeTrace(_, args.workload, args.seed))
    layers
  }

  /** One check per table: `got` (`what`) has the same row digest as `want`. */
  private def checkSame(what: String, got: Map[String, String], want: Map[String, String]): Unit =
    (got.keySet ++ want.keySet).toSeq.sorted.foreach { t =>
      check(s"$what table $t == reference", got.get(t) == want.get(t))
    }

  private def thresholds(io: GraphTableIO): Array[Double] =
    VectorIndex.readThresholds(spark, io).get

  /** Order-independent digest of every table of a store (xxhash64 of each
    * row, summed), read outside any timed span. */
  def digests(io: GraphTableIO): Map[String, String] =
    TracedRun.Tables.filter(io.exists(spark, _)).map { t =>
      val df = io.read(spark, t)
      t -> String.valueOf(df.select(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head())
    }.toMap

  // ---------- incremental_lsh ----------

  /** Builds the incremental workload's seed store: one fresh-store lsh
    * ingest of the fixed seed corpus. */
  private def makeSeedStore(): Unit = {
    val (in, _) = input("seed", SeedRF, SeedStoreSeed, "s")
    new GraphRag(spark, new ParquetTableIO(args.seedStore), LshConfig).ingest(in)
  }

  /** A copy of the store at `from` that later writes to either side leave
    * intact: data files are hard links (the engine never rewrites a data
    * file in place; it writes new ones and deletes or renames old ones),
    * every other file is copied. */
  private def linkTree(from: String, to: String): Unit = {
    val src = new java.io.File(from).toPath
    val dst = new java.io.File(to).toPath
    val it = java.nio.file.Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else if (p.getFileName.toString.contains(".parquet")) java.nio.file.Files.createLink(q, p)
      else java.nio.file.Files.copy(p, q)
    }
  }

  /** Set-up links the seed store (a fresh lsh ingest of a fixed corpus,
    * built once per build by `--make-seed-store`) into the run: a fresh
    * lsh ingest costs as much as a timed batch, and repeating it in every
    * run would not fit the run budget. The batches are generated from the
    * run's seed. */
  private def incremental(): Seq[(String, M)] = {
    // batches are generated lazily, one per timed slot; each is its own
    // seed derived from the run seed, so runs stay reproducible
    def batch(i: Int) = input(s"batch$i", BatchRF, args.seed * 1000003L + i, s"i$i")
    val (roots, setupS) = setup { k =>
      val r = s"$work/store-lsh$k"
      linkTree(args.seedStore, r)
      r
    }
    // the run uses the last link; the others only steady the set-up median
    val root = roots.last
    val io = new ParquetTableIO(root)
    val rag = new GraphRag(spark, io, LshConfig)
    val seedG = generate(SeedRF, SeedStoreSeed, "s")
    inputBytes += contentBytes(seedG.rows)

    val rows = mutable.ArrayBuffer.empty[CorpusRow] ++= seedG.rows
    val truth = mutable.Set.empty[(String, String, String)] ++= seedG.truth
    // each batch with a snapshot of the store before it (see checkIncremental)
    val batches = mutable.ArrayBuffer.empty[(Dataset[CorpusRow], String)]
    val batchS = mutable.ArrayBuffer.empty[Double]
    var timedDocs = 0L
    val post, warm = mutable.ArrayBuffer.empty[(Q, Double)]
    val qs = mix(seedG.truth, args.seed)
    val texts = recallTexts(seedG.truth, args.seed)
    var recalls: Seq[Double] = Nil
    val tr = if (args.trace) Some(new TracedRun(spark, root, LshConfig, cores)) else None
    var tSpan = 0
    var layers: Seq[(String, M)] = Nil
    val tStart = System.nanoTime()
    var i = 0
    // a traced run traces its first and only batch, as cold as the
    // untraced runs' first timed batch
    while (i == 0 || (!args.trace && secs(tStart) < args.seconds)) {
      val (in, g) = batch(i)
      val prior = s"$work/prior$i"
      linkTree(root, prior)
      batches += in -> prior
      val t0 = System.nanoTime()
      tr match {
        case Some(t) => tSpan = t.ingest(in)._2
        case None => rag.ingest(in)
      }
      batchS += secs(t0)
      // a full compaction rewrites every canonical_edges file; the delta
      // path leaves the buckets the batch does not reach in place
      check(s"batch $i took the delta compaction path",
        dataFiles(prior, "canonical_edges").exists(dataFiles(root, "canonical_edges")))
      timedDocs += g.rows.size
      inputBytes += contentBytes(g.rows)
      rows ++= g.rows; truth ++= g.truth
      val exp = new Expect(rows.toSeq)
      val (checks, rc) = expectations(exp, io, LshConfig, qs, texts,
        edgeSet(io, "canonical_edges"), canonMap(io))
      recalls = rc
      tr match {
        case Some(t) => layers = tracedQueries(t, qs, checks, tSpan, contentBytes(g.rows), io)
        case None =>
          // the whole mix after each batch: its first query of each type
          // meets the handles the batch invalidated, the rest run warm
          val first = qs.distinctBy(_.kind)
          post ++= timedQueries(rag, first, checks)
          warm ++= timedQueries(rag, qs.diff(first), checks)
      }
      i += 1
    }
    checkIncremental(io, batches.toSeq, truth.toSet)
    if (args.trace) layers
    else Seq("setup_s" -> M(setupS, "s"),
      "ingest_docs_per_s" -> M(timedDocs / batchS.sum, "docs/s")) ++
      queryMetrics(post.toSeq, warm.toSeq, recalls) ++
      Seq("store_bytes_per_input_byte" -> M(storeBytes(root).toDouble / inputBytes, "B/B"))
  }

  /** Incremental-store gate, outside any timed span. The base edges
    * equal the union of the truth sets, and every canonical table equals
    * what a full compaction (deltaSaturationFraction = 0) derives: the
    * connected components of the cumulative alias pairs (the seed
    * store's, plus each batch's pairs linked again against the snapshot
    * of the store taken before it) over the stored base edges, with the
    * engine's public full-rebuild functions. This is the replay of the
    * batches with full compaction, less its table writes. */
  private def checkIncremental(io: GraphTableIO, batches: Seq[(Dataset[CorpusRow], String)],
      truth: Set[(String, String, String)]): Unit = {
    import graft.kg.{AliasPair, CanonicalMapping, RelatesToEdge}
    import graft.kg.stages.{Canonicalize, Materialize}
    check("incremental base edges == union of truth sets", edgeSet(io, "edges").keySet == truth)
    val nb = Pipeline.resolveNumBuckets(spark, io, LshConfig)
    val pipeline = new Pipeline(LshConfig)
    val aliases = batches.map { case (in, prior) =>
      val p = new ParquetTableIO(prior)
      pipeline.run(in, Some(p.read(spark, "vertices")), Some(p.read(spark, "lsh_band_index")))
        .aliases.toDF().localCheckpoint()
    }.foldLeft(new ParquetTableIO(batches.head._2).read(spark, "aliases").select("a", "b", "score"))(
      _.unionByName(_)).as[AliasPair]
    val base = io.read(spark, "edges")
      .select("subj", "pred", "obj", "label", "sourceChunkId").as[RelatesToEdge]
    val names = base.toDF().select(explode(array($"subj", $"pred", $"obj")).as("name"))
    val canon = Canonicalize.canonicalMap(names, aliases).toDF().localCheckpoint()
    def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val edgeCols = Seq("subj", "pred", "obj", "label", "sourceChunkId")
    val full = Materialize.canonicalEdges(base, canon.as[CanonicalMapping]).toDF()
    check("canonical_edges == full compaction",
      rows(io.read(spark, "canonical_edges"), edgeCols: _*) == rows(full, edgeCols: _*))
    check("canonical_map == full compaction",
      rows(io.read(spark, "canonical_map"), "name", "canonicalName") ==
        rows(canon.filter($"name" =!= $"canonicalName"), "name", "canonicalName"))
    val idxCols = Seq("entity", "subj", "pred", "obj", "label", "sourceChunkId", "ebucket", "sbucket")
    check("canonical_edge_entity_index == full compaction",
      rows(io.read(spark, "canonical_edge_entity_index"), idxCols: _*) ==
        rows(Pipeline.canonicalIndexRows(full, nb), idxCols: _*))
    val vertices = io.read(spark, "vertices")
    check("vertices.canonicalName == full compaction",
      rows(vertices, "name", "canonicalName") ==
        rows(vertices.select($"name").join(canon, Seq("name"), "left")
          .select($"name", coalesce($"canonicalName", $"name").as("canonicalName")),
          "name", "canonicalName"))
  }
}
