package graft.kg

import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.{ParquetTableIO, Pipeline}
import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class IncrementalSkewSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  test("saltedEquiJoin equals plain equi-join (hub-key spreading)") {
    val s = spark; import s.implicits._
    // hub-skewed left: key "main" dominates
    val left = (1 to 500).map(i => (if (i % 5 == 0) s"k$i" else "main", i))
      .toDF("k", "v")
    val right = Seq(("main", "hub"), ("k5", "five"), ("k10", "ten"))
      .toDF("k", "label")
    val plain = left.join(right, Seq("k")).select("k", "v", "label")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedEquiJoin(left, right, "k", salt = 8)
      .select("k", "v", "label").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("rangePartitionCorpus splits the mega-repo across partitions") {
    val s = spark; import s.implicits._
    val gen = CorpusGen.generate(repos = 6, filesPerRepo = 10, seed = 3L)
    val corpus = spark.createDataset(gen.rows).toDF()
    val parts = Skew.rangePartitionCorpus(corpus, partitions = 8)
      .withColumn("pid", spark_partition_id())
      .filter(col("repo") === "org/repo000") // the 10× mega-repo
      .select("pid").distinct().count()
    assert(parts >= 2, s"mega-repo landed on $parts partition(s)")
  }

  test("salted canonical-edge join equals broadcast on a hub-heavy graph") {
    val s = spark; import s.implicits._
    // deliberate hub skew: ~30% of triples share one object ("utils")
    val triples = spark.createDataset((1 to 300).map { i =>
      val obj = if (i % 3 == 0) "Utils" else s"Obj$i"
      Triple("d", s"d_chunk${i % 7}", i % 5, s"Subj${i % 40}", "uses", obj)
    })
    val edges = stages.Materialize.edges(triples)
    val mentions = stages.Link.mentions(triples)
    val aliases = spark.createDataset(Seq(
      AliasPair("utils", "util lib", 0.9), AliasPair("obj3", "obj6", 0.9)))
    val canon = stages.Canonicalize.canonicalMap(mentions, aliases)
    val viaBroadcast = stages.Materialize.canonicalEdges(edges, canon)
      .collect().map(e => (e.subj, e.pred, e.obj, e.sourceChunkId)).toSet
    val viaSalted = stages.Materialize.canonicalEdges(edges, canon, salted = true)
      .collect().map(e => (e.subj, e.pred, e.obj, e.sourceChunkId)).toSet
    assert(viaSalted == viaBroadcast)
    assert(viaSalted.nonEmpty)
    // and the full lsh pipeline accepts the salted-join config end to end
    val gen = CorpusGen.generate(repos = 3, filesPerRepo = 4, seed = 5L)
    val r = new Pipeline(GraftConfig(linkMode = "lsh", linkThreshold = 0.85,
      saltedCanonicalJoin = true)).run(spark.createDataset(gen.rows))
    val rBroadcast = new Pipeline(GraftConfig(linkMode = "lsh", linkThreshold = 0.85))
      .run(spark.createDataset(gen.rows))
    assert(r.canonicalEdges.collect().toSet == rBroadcast.canonicalEdges.collect().toSet)
  }

  test("vertices: non-broadcast canonical join equals broadcast (hub-heavy graph)") {
    val s = spark; import s.implicits._
    val triples = spark.createDataset((1 to 300).map { i =>
      val obj = if (i % 3 == 0) "Utils" else s"Obj$i"
      Triple("d", s"d_chunk${i % 7}", i % 5, s"Subj${i % 40}", "uses", obj)
    })
    val mentions = stages.Link.mentions(triples)
    val mentionVecs = stages.Link.mentionEmbeddings(mentions, new embed.HashEmbedder())
    val aliases = spark.createDataset(Seq(
      AliasPair("utils", "util lib", 0.9), AliasPair("obj3", "obj6", 0.9)))
    val canon = stages.Canonicalize.canonicalMap(mentions, aliases)
    def key(v: EntityVertex) = (v.name, v.canonicalName, v.tripletPart)
    val viaBroadcast = stages.Materialize.vertices(triples, mentionVecs, canon)
      .collect().map(key).toSet
    val viaPlain = stages.Materialize
      .vertices(triples, mentionVecs, canon, broadcastCanon = false)
      .collect().map(key).toSet
    assert(viaPlain == viaBroadcast)
    assert(viaPlain.nonEmpty)
    // and the scale path really dropped the broadcast HINT: with the
    // auto-broadcast threshold off (the big-data regime, where size
    // estimates exceed any threshold), no broadcast join remains — a
    // forced broadcast(canon) would survive the threshold and OOM there
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // full scale-path wiring: the CC map join drops its hint too
      val canonPlain = stages.Canonicalize.canonicalMap(mentions, aliases,
        broadcastCC = false)
      val plan = stages.Materialize
        .vertices(triples, mentionVecs, canonPlain, broadcastCanon = false)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"forced broadcast survived in the non-broadcast vertex plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MERGE resolves key collisions deterministically in the delta's favor") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftmerge").toString
    val io = new ParquetTableIO(dir)
    io.merge(spark, "terms",
      Seq(("c1", "alpha", "unigram", 1L), ("c2", "beta", "unigram", 1L))
        .toDF("chunkId", "text", "termType", "tf"),
      Seq("chunkId", "text", "termType"))
    // re-ingest: the SAME key now carries another tf — the delta must win
    // deterministically, the untouched key keeps its row
    io.merge(spark, "terms",
      Seq(("c1", "alpha", "unigram", 3L)).toDF("chunkId", "text", "termType", "tf"),
      Seq("chunkId", "text", "termType"))
    val rows = io.read(spark, "terms").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(r.fieldIndex("tf"))))
      .toSet
    assert(rows == Set(("c1", "alpha", 3L), ("c2", "beta", 1L)),
      s"delta did not deterministically repair the collided key: $rows")
  }

  test("incremental LSH ingest links new mentions to existing entities") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftinc").toString
    val io = new ParquetTableIO(dir)
    // hash-embedder cosine("batchengine", "batch engine") ≈ 0.78 — use a
    // threshold below it (0.96 is the E5 calibration, SURVEY.md §7.5)
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)

    // batch 1: establish entity "batchEngine" (lowercased: batchengine)
    val batch1 = Seq(CorpusRow("r", "a.scala", "c1", "scala",
      "BatchEngine imports module parseTree."))
    new Pipeline(cfg).materialize(spark.createDataset(batch1), io)
    assert(io.read(spark, "vertices").filter(col("name") === "batchengine").count() == 1)

    // batch 2: near-duplicate mention "batch engine" must be linked to
    // batch 1's existing entity (alias pair spans batches)
    val batch2 = Seq(CorpusRow("r", "b.scala", "c2", "scala",
      "Batch engine calls function sortTree."))
    new Pipeline(cfg).materialize(spark.createDataset(batch2), io)
    val aliasPairs = io.read(spark, "aliases")
      .select("a", "b").collect().map(r => Set(r.getString(0), r.getString(1)))
    assert(aliasPairs.contains(Set("batch engine", "batchengine")),
      s"missing cross-batch alias pair, got ${aliasPairs.mkString(", ")}")

    // retroactive canonicalization (pinned semantics): BATCH 1's already
    // materialized canonical_edges rows must surface under the canonical
    // name chosen when batch 2's linking merged the entities — compaction
    // rebuilds canonical_edges from the cumulative base edges + aliases
    val canonSubjs = io.read(spark, "canonical_edges")
      .select("subj").collect().map(_.getString(0)).toSet
    assert(canonSubjs.contains("batch engine"),
      s"batch-1 edge not remapped to the merged canonical name: $canonSubjs")
    assert(!canonSubjs.contains("batchengine"),
      s"stale pre-merge canonical name survived compaction: $canonSubjs")
    // both batches' facts present under the canonical subject
    val preds = io.read(spark, "canonical_edges")
      .filter(col("subj") === "batch engine")
      .select("pred").collect().map(_.getString(0)).toSet
    assert(preds.size >= 2, s"expected both batches' predicates, got $preds")
    // vertices keep mention identity but the canonicalName pointer refreshes
    val vCanon = io.read(spark, "vertices")
      .filter(col("name") === "batchengine")
      .select("canonicalName").collect().map(_.getString(0)).toSeq
    assert(vCanon == Seq("batch engine"),
      s"vertex canonicalName not refreshed by compaction: $vCanon")
  }

  test("batch 2 links a mention to a batch-1 PREDICATE-only name") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    // batch 1 plants "imports module" as a PREDICATE-only mention (it is
    // never a subject/object, so it has no vertex row); batch 2's subject
    // "ImportsModule" must still alias-link to it — the band index signs
    // every mention, and the old-side vectors are recomputed inline
    val b1 = Seq(CorpusRow("r", "a.scala", "c1", "scala",
      "AlphaSet imports module betaMap."))
    val b2 = Seq(CorpusRow("r", "b.scala", "c2", "scala",
      "ImportsModule uses gammaTree."))
    val incIo = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftpredinc").toString)
    new Pipeline(cfg).materialize(spark.createDataset(b1), incIo)
    assert(incIo.read(spark, "vertices")
      .filter(col("name") === "imports module").count() == 0,
      "fixture broken: predicate name unexpectedly has a vertex")
    new Pipeline(cfg).materialize(spark.createDataset(b2), incIo)
    val incPairs = incIo.read(spark, "aliases").select("a", "b").collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(incPairs.contains(Set("imports module", "importsmodule")),
      s"predicate-only prior name not linked incrementally: $incPairs")
    // cumulative aliases == the one-shot ingest of the union (the
    // VERDICT-r4 'done' bar for this drift)
    val oneIo = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftpredone").toString)
    new Pipeline(cfg).materialize(spark.createDataset(b1 ++ b2), oneIo)
    val onePairs = oneIo.read(spark, "aliases").select("a", "b").collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(incPairs == onePairs,
      s"incremental aliases diverged from one-shot union: inc=$incPairs one=$onePairs")
  }

  test("incremental nxn pairs respect the UNION-counted band-bucket cap") {
    val s = spark; import s.implicits._
    // four near-identical names; cap = 2. One-shot linking over the
    // union drops every pair whose shared buckets hold > 2 of them; the
    // incremental batch's INTERNAL pair must drop the same way (a
    // batch-only count of 2 would wrongly keep it on buckets that are
    // degenerate only in the union).
    val emb = new embed.HashEmbedder()
    val stored = Seq("quartzframe", "quartz frame")
    val batch = Seq("quartzframes", "quartz frames")
    val storedSigs = stages.Link.bandSignatures(stored.toDF("name"))
    def incPairs(cap: Int) = stages.Link.lshAliasesIncremental(
      batch.toDF("name"), storedSigs, emb,
      threshold = 0.7, linkTopK = 10, maxBucket = cap)
      .collect().map(p => Set(p.a, p.b)).toSet
    val allVecs = stages.Link.mentionEmbeddings((stored ++ batch).toDF("name"), emb)
    def onePairs(cap: Int) = stages.Link.lshAliases(
      allVecs, threshold = 0.7, linkTopK = 10, maxBucket = cap)
      .collect().map(p => Set(p.a, p.b)).toSet
    // fixture sanity: with no binding cap the quadruple links richly...
    assert(incPairs(1000).nonEmpty)
    // ...and the cap actually bites somewhere (some pair disappears)
    assert(incPairs(2) != incPairs(1000), "cap=2 dropped nothing — fixture dead")
    // one-shot over the union restricted to pairs TOUCHING the batch ==
    // the incremental result (stored-internal pairs are prior batches'
    // business, not this probe's)
    def touchingBatch(ps: Set[Set[String]]) =
      ps.filter(p => p.exists(batch.contains))
    assert(incPairs(2) == touchingBatch(onePairs(2)),
      s"union-cap semantics diverged: inc=${incPairs(2)} one=${touchingBatch(onePairs(2))}")
  }

  test("the incremental link embeds each distinct name at most once") {
    val s = spark; import s.implicits._
    // "quartzframes" is a candidate of both stored names, and the two
    // batch names are candidates of each other: a per-pair embed would
    // embed each batch name two or three times
    val stored = Seq("quartzframe", "quartz frame")
    val batch = Seq("quartzframes", "quartz frames")
    val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    CountingEmbedder.calls = calls
    val pairs = stages.Link.lshAliasesIncremental(
      batch.toDF("name"), stages.Link.bandSignatures(stored.toDF("name")),
      new CountingEmbedder, threshold = 0.7, linkTopK = 10).collect()
    assert(pairs.nonEmpty, "fixture links nothing")
    val counts = calls.asScala.toMap
    assert(counts.nonEmpty && counts.values.forall(_ == 1),
      s"names embedded more than once: $counts")
  }

  test("incremental link == one-shot link over the union, on pairs touching " +
      "the batch (generated corpus, scores bit-identical)") {
    val s = spark; import s.implicits._
    val gen = CorpusGen.generate(repos = 2, filesPerRepo = 12, seed = 5L)
    val names = new Pipeline(GraftConfig(linkMode = "exact"))
      .run(spark.createDataset(gen.rows)).mentionVecs
      .select("name").as[String].collect().sorted.toSeq
    // every third name is the batch; a few stored names re-appear in it
    val batch = names.zipWithIndex.collect { case (n, i) if i % 3 == 0 || i % 17 == 1 => n }
    val stored = names.zipWithIndex.collect { case (n, i) if i % 3 != 0 => n }
    val emb = new embed.HashEmbedder()
    val storedSigs = stages.Link.bandSignatures(stored.toDF("name"))
    val union = stages.Link.mentionEmbeddings(names.toDF("name"), emb)
    val touches = batch.toSet
    Seq(256, 3).foreach { cap =>
      // top-K not binding: both sides keep every pair over the threshold
      val inc = stages.Link.lshAliasesIncremental(batch.toDF("name"), storedSigs,
        emb, threshold = 0.6, linkTopK = 1000, maxBucket = cap)
        .collect().map(p => (p.a, p.b, p.score)).toSet
      val one = stages.Link.lshAliases(union, threshold = 0.6, linkTopK = 1000,
        maxBucket = cap).collect().map(p => (p.a, p.b, p.score))
        .filter(p => touches(p._1) || touches(p._2)).toSet
      assert(inc.nonEmpty, s"cap $cap: fixture links nothing")
      assert(inc == one, s"cap $cap: only incremental ${inc -- one}; only one-shot ${one -- inc}")
    }
  }

  test("driver-side bucket ids equal the layout's pmod(hash(name), nb)") {
    val s = spark; import s.implicits._
    val names = Seq("", "a", "batch engine", "ｓ", "\uD83D\uDE00x", "ünïcödé") ++
      (1 to 200).map(i => s"name$i")
    Seq(1, 8, 128, 256).foreach { nb =>
      val expected = names.toDF("name")
        .select($"name", pmod(hash($"name"), lit(nb))).as[(String, Int)]
        .collect().toMap
      names.foreach(n => assert(DriverSide.bucketOf(n, nb) == expected(n), s"$n @ $nb"))
    }
  }

  test("partitioned layout: edge table written under sbucket dirs") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftpart").toString
    val io = new ParquetTableIO(dir)
    val corpus = spark.createDataset(
      CorpusGen.generate(repos = 3, filesPerRepo = 4, seed = 9L).rows)
    new Pipeline(GraftConfig(linkMode = "exact")).materialize(corpus, io)
    val bucketDirs = new java.io.File(s"$dir/edges").listFiles()
      .filter(_.getName.startsWith("sbucket="))
    assert(bucketDirs.nonEmpty, "edges not partitioned by sbucket")
    // reads prune by partition column
    val one = io.read(spark, "edges").filter(col("sbucket") === bucketDirs.head
      .getName.stripPrefix("sbucket=").toInt)
    assert(one.count() > 0)
  }
}

/** An embedder that counts its calls per text in a JVM-wide map (the
  * suite runs Spark in local mode, so executor tasks share the JVM). */
final class CountingEmbedder extends graft.kg.embed.Embedder {
  private val inner = new graft.kg.embed.HashEmbedder()
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = {
    CountingEmbedder.calls.merge(text, 1, (a: Integer, b: Integer) => a + b)
    inner.embed(text)
  }
}

object CountingEmbedder {
  @volatile var calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
