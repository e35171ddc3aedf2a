package graft.kg

import graft.kg.embed.HashEmbedder
import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.Pipeline
import graft.kg.retrieve.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  lazy val gen = CorpusGen.generate(repos = 4, filesPerRepo = 5, seed = 7L)
  lazy val result = {
    val s = spark; import s.implicits._
    // small chunk budget → multi-chunk docs, so context expansion is real
    new Pipeline(GraftConfig(linkMode = "exact", maxTokensPerChunk = 20))
      .run(spark.createDataset(gen.rows))
  }
  lazy val retrieval = new Retrieval(new HashEmbedder())

  test("term search returns chunks containing the query terms, TF-ranked") {
    val s = spark; import s.implicits._
    // pick a known subject from the truth set as the query
    val q = gen.truth.head._1
    val hits = retrieval.termSearch(result.terms.toDF(), result.chunks, q)
    val rows = hits.collect()
    assert(rows.nonEmpty)
    // every hit chunk's text must actually contain a query token
    val qToks = graft.kg.textspec.Tokens.normalize(q).toSet
    rows.foreach { r =>
      val text = r.getAs[String]("text").toLowerCase
      assert(qToks.exists(text.contains), s"chunk without term: $text")
    }
    // scores are descending
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("IDF-weighted term search ranks rare terms above common ones") {
    val s = spark; import s.implicits._
    // c1 has the ubiquitous term twice; c2 has the rare term once —
    // TF ranks c1 first, IDF must rank c2 first
    val chunks = spark.createDataset(Seq(
      Chunk("d", "d_chunk0", 0, "common common", 2),
      Chunk("d", "d_chunk1", 1, "rareword common", 2),
      Chunk("d", "d_chunk2", 2, "common filler", 2),
      Chunk("d", "d_chunk3", 3, "common filler", 2)))
    val terms = Seq(
      ("d_chunk0", "common", "unigram"), ("d_chunk0", "common", "unigram"),
      ("d_chunk1", "rareword", "unigram"), ("d_chunk1", "common", "unigram"),
      ("d_chunk2", "common", "unigram"), ("d_chunk3", "common", "unigram"))
      .toDF("chunkId", "text", "termType")
    val tfTop = retrieval.termSearch(terms, chunks, "rareword common").collect()
    val idfTop = retrieval.termSearchIdf(terms, chunks, "rareword common").collect()
    assert(tfTop.head.getAs[String]("chunkId") == "d_chunk0", "TF favors frequency")
    assert(idfTop.head.getAs[String]("chunkId") == "d_chunk1", "IDF favors rarity")
    // IDF scores: c1 = 1*ln(4/4) + 1*ln(4/1) = ln 4; c0 = 2*ln(4/4) = 0
    assert(math.abs(idfTop.head.getAs[Double]("score") - math.log(4.0)) < 1e-9)
  }

  test("BM25 saturates term frequency where raw TF does not") {
    val s = spark; import s.implicits._
    // c0 stuffs the common term ×8; c1 matches BOTH query terms once.
    // TF ranks c0 first (8 > 2); BM25's k1 saturation caps the stuffed
    // term near (k1+1)·idf while two distinct matched terms add two
    // idf contributions — c1 must win.
    val chunks = spark.createDataset(Seq(
      Chunk("d", "d_chunk0", 0, "spam " * 8, 8),
      Chunk("d", "d_chunk1", 1, "spam rareword other five six seven eight", 8),
      Chunk("d", "d_chunk2", 2, "filler words here padding five six seven", 8),
      Chunk("d", "d_chunk3", 3, "filler words here padding five six seven", 8)))
    val terms = (Seq.fill(8)(("d_chunk0", "spam", "unigram")) ++ Seq(
      ("d_chunk1", "spam", "unigram"), ("d_chunk1", "rareword", "unigram")))
      .toDF("chunkId", "text", "termType")
    val tfTop = retrieval.termSearch(terms, chunks, "spam rareword").collect()
    val bm25Top = retrieval.termSearchBm25(terms, chunks, "spam rareword").collect()
    assert(tfTop.head.getAs[String]("chunkId") == "d_chunk0", "TF favors stuffing")
    assert(bm25Top.head.getAs[String]("chunkId") == "d_chunk1",
      s"BM25 must favor term diversity: ${bm25Top.toSeq}")
    // hand-computed score for c1 (tf=1 both terms, dl=8=avgdl → len norm 1):
    // per term: ln(1+(4-df+0.5)/(df+0.5)) · (1·2.2)/(1+1.2); df(spam)=2, df(rare)=1
    val expected = (math.log(1 + 2.5 / 2.5) + math.log(1 + 3.5 / 1.5)) * 2.2 / 2.2
    assert(math.abs(bm25Top.head.getAs[Double]("score") - expected) < 1e-9)
  }

  test("vector search: a chunk's own text embeds closest to itself") {
    val s = spark; import s.implicits._
    val someChunk = result.chunks.head()
    val hits = retrieval
      .vectorSearch(result.chunkEmbeddings, result.chunks, someChunk.text, 5)
      .collect()
    assert(hits.nonEmpty)
    // NOTE: query prefix ("query: ") differs from passage prefix, so
    // cosine < 1.0, but the identical text must still win.
    assert(hits.head.getAs[String]("chunkId") == someChunk.chunkId)
  }

  test("ann defaults hit mean recall@10 >= 0.8 over a query sample") {
    val s = spark; import s.implicits._
    // the default (L=4 tables, r=1 multi-probe) was chosen from the
    // AnnSweep recall/read-amplification table in BENCH/BASELINE.md
    // (measured 0.92-0.95 mean recall across corpus sizes); this pins the
    // property the default promises — over a SAMPLE of queries, not the
    // single-query spot check in GraphRagSuite (one query's recall
    // legitimately ranges 0.5-1.0 at these settings)
    val emb = new graft.kg.embed.HashEmbedder()
    val thr = graft.kg.retrieve.VectorIndex.computeThresholds(
      result.chunkEmbeddings.toDF(), emb.dim)
    val idx = graft.kg.retrieve.VectorIndex.layout(
      result.chunkEmbeddings.toDF(), emb.dim, thr)
    val texts = result.chunks.orderBy("chunkId").collect().map(_.text)
    val queries = texts.indices.by(math.max(1, texts.length / 12)).take(12)
      .map(texts)
    val recalls = queries.map { q =>
      val exact = retrieval.vectorSearch(result.chunkEmbeddings, result.chunks, q)
        .select("chunkId").collect().map(_.getString(0)).toSet
      val ann = retrieval.vectorSearchAnn(idx, result.chunks, q, thresholds = thr)
        .select("chunkId").collect().map(_.getString(0)).toSet
      (ann intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 over ${recalls.size} queries: $mean%.3f")
    assert(mean >= 0.8, s"mean ANN recall $mean < 0.8 (recalls=$recalls)")
  }

  test("vector search plan is columnar: no UDF / object-deserialize stage") {
    val s = spark; import s.implicits._
    // materialize the tables so the scan side has no typed-stage lineage —
    // the production path reads them from the graph store the same way
    val tmp = java.nio.file.Files.createTempDirectory("graftvecplan").toString
    result.chunkEmbeddings.write.mode("overwrite").parquet(s"$tmp/emb")
    result.chunks.write.mode("overwrite").parquet(s"$tmp/chunks")
    val emb = spark.read.parquet(s"$tmp/emb").as[ChunkEmbedding]
    val chunks = spark.read.parquet(s"$tmp/chunks").as[Chunk]
    val scored = retrieval.vectorSearch(emb, chunks, "anything", 5)
    val plan = scored.queryExecution.executedPlan.toString
    // the scoring must be the native dot_product expression over the
    // parquet scan — no typed .map (DeserializeToObject/MapElements), no
    // Scala UDF anywhere in the query
    assert(!plan.contains("DeserializeToObject"), s"object stage in plan:\n$plan")
    assert(!plan.contains("MapElements"), s"typed map in plan:\n$plan")
    assert(!plan.contains("UDF("), s"UDF in plan:\n$plan")
    assert(plan.toLowerCase.contains("dotproduct("),
      s"native dot_product missing from plan:\n$plan")
    assert(scored.collect().nonEmpty)
  }

  test("lsh alias re-score plan uses native expressions, not UDFs") {
    val s = spark; import s.implicits._
    val names = Seq("util lib", "utillib", "utility lib", "alphabeta")
    val vecs = stages.Link.mentionEmbeddings(names.toDF("name"), new HashEmbedder())
    val aliases = stages.Link.lshAliases(vecs, threshold = 0.8, linkTopK = 10)
    val plan = aliases.queryExecution.executedPlan.toString.toLowerCase
    // the MinHashLSH blocking itself is Spark ML (UDF-based internally);
    // assert OUR stages are native: shingles via transform(...) and the
    // re-score via dot_product (prints as "dotproduct(" in the plan)
    assert(plan.contains("dotproduct("),
      s"native re-score missing from plan:\n$plan")
    assert(plan.contains("array_distinct(transform("),
      s"higher-order shingle expr missing from plan:\n$plan")
  }

  test("stopword-only query: term search empty, hybrid falls back to vector side") {
    val empty = retrieval.termSearch(result.terms.toDF(), result.chunks, "the is of")
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("chunkId", "score", "text"))
    // hybrid must still work (graph side contributes nothing)
    val hits = retrieval.hybridSearch(result.terms.toDF(), result.chunks,
      result.chunkEmbeddings, "the is of").collect()
    assert(hits.nonEmpty, "vector side should still return chunks")
  }

  test("hybrid merge is bounded by weights and normalization") {
    val q = gen.truth.head._1
    val hits = retrieval.hybridSearch(result.terms.toDF(), result.chunks,
      result.chunkEmbeddings, q).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      val sc = r.getAs[Double]("score")
      assert(sc >= 0.0 && sc <= 1.0)
    }
  }

  test("context expansion returns ±contextSize neighbors, matches first") {
    val s = spark; import s.implicits._
    // find a doc with >= 2 chunks to make context meaningful
    val multi = result.chunks.toDF().groupBy($"docId").count()
      .filter($"count" >= 2).limit(1).collect()
    assume(multi.nonEmpty, "corpus produced no multi-chunk docs")
    val docId = multi.head.getString(0)
    val center = result.chunks.filter(_.docId == docId).head()
    val hits = Seq((center.chunkId, 1.0)).toDF("chunkId", "score")
    val ctx = retrieval.withContext(hits, result.chunks, 2).collect()
    assert(ctx.exists(r => r.getAs[Boolean]("is_match")))
    assert(ctx.forall(r => r.getAs[String]("docId") == docId))
    assert(ctx.forall(r =>
      math.abs(r.getAs[Int]("index") - center.index) <= 2))
    // matches first (O4 ordering)
    assert(ctx.head.getAs[Boolean]("is_match"))
  }

  // ---- driver-side merges vs straight-line specs (KgOracle style) ----

  private def utf8Order(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Spark's `ORDER BY score DESC, chunkId`: string ties by UTF-8 bytes. */
  private def ranksBefore(a: (String, Double), b: (String, Double)): Boolean =
    if (a._2 != b._2) a._2 > b._2 else utf8Order(a._1, b._1) < 0

  private def specMinMax(rs: Seq[(String, Double)]): Map[String, Double] =
    if (rs.isEmpty) Map.empty
    else {
      val mn = rs.map(_._2).min; val mx = rs.map(_._2).max
      rs.map { case (c, s) => c -> (if (mx == mn) 1.0 else (s - mn) / (mx - mn)) }.toMap
    }

  /** Hybrid spec: each side's top-k distinct chunks, ids without a chunk
    * row dropped, min-max (all-equal → 1.0), w·vec + (1-w)·graph with a
    * missing side as 0.0, top-k by (score desc, chunkId). */
  private def specHybrid(v: Seq[(String, Double)], g: Seq[(String, Double)],
      chunks: Seq[Chunk], topK: Int, w: Double = 0.5): Seq[(String, Double, String)] = {
    val text = chunks.map(c => c.chunkId -> c.text).toMap
    def side(s: Seq[(String, Double)]) = specMinMax(
      s.sortWith(ranksBefore).distinctBy(_._1).take(topK).filter(x => text.contains(x._1)))
    val (vn, gn) = (side(v), side(g))
    (vn.keySet ++ gn.keySet).toSeq
      .map(id => (id, vn.getOrElse(id, 0.0) * w + gn.getOrElse(id, 0.0) * (1.0 - w)))
      .sortWith(ranksBefore).take(topK)
      .map { case (id, sc) => (id, sc, text(id)) }
  }

  /** Context spec: ±n chunks of each hit's doc, a chunk reachable from
    * several hits keeps its best score (the match row on a tie), ordered
    * (score desc, docId, index); hits without a chunk row dropped. */
  private def specContext(hits: Seq[(String, Double)], chunks: Seq[Chunk], n: Int)
      : Seq[(String, String, Int, String, Double, Boolean)] = {
    val byId = chunks.map(c => c.chunkId -> c).toMap
    hits.filter(h => byId.contains(h._1)).flatMap { case (hitId, score) =>
      val h = byId(hitId)
      chunks.filter(c => c.docId == h.docId && math.abs(c.index - h.index) <= n).map { c =>
        val m = c.chunkId == hitId
        (c.chunkId, c.text, c.index, c.docId, if (m) score else 0.0, m)
      }
    }.groupBy(_._1).values.map(_.maxBy(r => (r._5, r._6))).toSeq
      .sortWith { (a, b) =>
        if (a._5 != b._5) a._5 > b._5
        else if (a._4 != b._4) utf8Order(a._4, b._4) < 0
        else a._3 < b._3
      }
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
    df.select("chunkId", "score").collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
  private def hybridRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Double, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
  private def contextRows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
    (r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getDouble(4), r.getBoolean(5)))

  test("hybrid search equals the straight-line spec over the fixture's sides " +
      "(stopword-only query included)") {
    val terms = result.terms.toDF()
    val chunks = result.chunks.collect().toSeq
    for (q <- Seq("the is of", gen.truth.head._1, gen.truth.last._3 + " " + gen.truth.head._1)) {
      val v = pairs(retrieval.vectorScores(result.chunkEmbeddings, q))
      val g = pairs(retrieval.termScores(terms, result.chunks, q))
      if (q == "the is of") assert(g.isEmpty, "stopword-only query has an empty term side")
      val got = hybridRows(retrieval.hybridSearch(terms, result.chunks, result.chunkEmbeddings, q))
      assert(got.nonEmpty)
      assert(got == specHybrid(v, g, chunks, 10), s"query '$q'")
    }
  }

  test("hybrid merge on hand-built sides: all-equal side, shared chunk, " +
      "top-K boundary tie on UTF-8 order, orphan id") {
    val s = spark; import s.implicits._
    // U+FF61 is EF BD A1 in UTF-8, U+1F600 is F0 9F 98 80: the byte order
    // puts U+FF61 first, Java's UTF-16 compareTo puts U+1F600 first
    val (half, emoji) = ("\uFF61", "\uD83D\uDE00")
    val ids = Seq("a", "b", "c", "d", "e", "q", "z", half, emoji)
    val chunkSeq = ids.zipWithIndex.map { case (id, i) => Chunk("doc", id, i, s"text of $id", 3) }
    val chunks = spark.createDataset(chunkSeq)
    val noEmb = spark.emptyDataset[ChunkEmbedding]
    val cases = Seq(
      // term side all equal → every graph score normalizes to 1.0
      ("all-equal side", Seq("a" -> 0.9, "b" -> 0.5, "c" -> 0.1),
        Seq("d" -> 3.0, "e" -> 3.0), 3, Seq("a", "d", "e")),
      // b on both sides: 0.5·0.5 + 1.0·0.5 = 0.75 leads
      ("shared chunk", Seq("a" -> 0.9, "b" -> 0.5, "c" -> 0.1),
        Seq("b" -> 4.0, "c" -> 2.0, "d" -> 1.0), 3, Seq("b", "a", "c")),
      // U+FF61 and U+1F600 tie at 0.25 for the third slot
      ("boundary tie", Seq("a" -> 1.0, half -> 0.5, "z" -> 0.0),
        Seq("b" -> 4.0, emoji -> 2.0, "q" -> 0.0), 3, Seq("a", "b", half)),
      // ghost has no chunk row: it drops out of both sides
      ("orphan id", Seq("ghost" -> 0.9, "a" -> 0.5, "b" -> 0.1),
        Seq("ghost" -> 5.0, "c" -> 1.0), 3, Seq("a", "c", "b")))
    for ((name, v, g, k, wantIds) <- cases) {
      val got = hybridRows(retrieval.hybridSearch(spark.emptyDataFrame, chunks, noEmb, "unused",
        topK = k, termHits = Some(g.toDF("chunkId", "score")),
        vectorHits = Some(v.toDF("chunkId", "score"))))
      assert(got == specHybrid(v, g, chunkSeq, k), name)
      assert(got.map(_._1) == wantIds, name)
    }
  }

  test("context expansion equals the straight-line spec: overlapping " +
      "windows keep the best score, orphan hits drop") {
    val s = spark; import s.implicits._
    val chunkSeq = (0 to 6).map(i => Chunk("d1", s"d1_$i", i, s"one $i", 2)) ++
      (0 to 2).map(i => Chunk("d2", s"d2_$i", i, s"two $i", 2))
    val chunks = spark.createDataset(chunkSeq)
    // d1_2's and d1_4's windows overlap on d1_2..d1_4: d1_2 is context
    // (0.0) of d1_4 and a match (2.0) of itself — the match wins
    val hits = Seq("d1_2" -> 2.0, "d1_4" -> 3.0, "ghost" -> 9.0, "d2_0" -> 1.0)
    val got = contextRows(retrieval.withContext(hits.toDF("chunkId", "score"), chunks, 2))
    assert(got == specContext(hits, chunkSeq, 2))
    assert(got.take(3).map(r => (r._1, r._5, r._6)) ==
      Seq(("d1_4", 3.0, true), ("d1_2", 2.0, true), ("d2_0", 1.0, true)))
    assert(got.map(_._1).toSet == chunkSeq.map(_.chunkId).toSet, "every chunk in a window")

    // and over the fixture's own term side
    val q = gen.truth.head._1
    val g = retrieval.termScores(result.terms.toDF(), result.chunks, q)
    assert(contextRows(retrieval.withContext(g, result.chunks, 2)) ==
      specContext(pairs(g), result.chunks.collect().toSeq, 2))
  }

  test("relationship search finds edges for a capitalized query entity") {
    // single-token subject (the P7 regex only captures one-word runs of
    // a capitalized word per phrase)
    val subj = gen.truth.map(_._1).find(s => !s.contains(' ')).get
    val query = s"What about ${subj.capitalize}?"
    val edges = retrieval.relationshipSearch(result.edges.toDF(), query)
    val rows = edges.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("subj") == subj || r.getAs[String]("obj") == subj)
    }
  }
}
