package graft.kg.retrieve

import graft.kg._
import graft.kg.embed.Embedder
import graft.kg.pipeline.Pipeline
import graft.kg.textspec.{Stopwords, Tokens}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Query-side retrieval (reference `core/retrieval.py`), re-expressed as
  * single DataFrame programs over the materialized tables instead of
  * per-hit DB round trips (SURVEY.md §3.2/§3.3).
  *
  * Score specs (SURVEY.md §7.5): term relevance = per-(term, chunk) TF
  * summed per chunk (replacing opaque Lucene BM25 — operator shape
  * reproduced); vector score = cosine on unit hash embeddings.
  */
final class Retrieval(embedder: Embedder, config: GraftConfig = GraftConfig())
    extends Serializable {

  /** Bucket id of a literal string under the store layout's
    * `pmod(hash(x), numBuckets)` — the SAME Catalyst expression every
    * writer used, constant-folded DRIVER-SIDE (`Expression.eval` over a
    * literal tree: no plan, no LocalRelation, no job scheduling). The
    * bucket count comes from `config.numBuckets`, which the facade
    * resolves from the STORE's persisted `num_buckets` metadata — a
    * reader must prune with the writer's count, not the engine default. */
  private def bucketOfLit(v: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    // Murmur3Hash(seed = 42) + Pmod — the exact expressions `hash`/`pmod`
    // plan; evaluated eagerly on the literal tree
    Pmod(new Murmur3Hash(Seq(Literal(v))), Literal(config.numBuckets))
      .eval(null).asInstanceOf[Int]
  }

  private def bucketsOfLits(vs: Seq[String]): Seq[Int] =
    vs.map(bucketOfLit).distinct

  /** TF aggregation over a terms frame: in-flight terms carry one row per
    * occurrence (count them); the materialized table is deduped on the
    * MERGE key with an explicit `tf` multiplicity column (sum it) — same
    * TF score either way. */
  private def tfScore(terms: DataFrame): org.apache.spark.sql.Column =
    if (terms.columns.contains("tf")) sum(col("tf")).cast("double")
    else count(lit(1)).cast("double")

  /** Partition-prune a MATERIALIZED terms table by the query's term-hash
    * buckets: the store lays terms out under
    * `tbucket = pmod(hash(text), NumBuckets)` dirs (see
    * [[Pipeline.materialize]]), and the bucket ids of a literal term list
    * fold at plan time — the scan then reads ≤ |query terms| of the
    * NumBuckets directories. In-flight frames (no tbucket column) pass
    * through untouched. */
  private def pruneTermBuckets(terms: DataFrame, qTerms: Seq[String]): DataFrame =
    if (!terms.columns.contains("tbucket")) terms
    else {
      // bucket ids via the SAME Murmur3 `hash` expression the writer
      // used, constant-folded driver-side (bucketOfLit — no job)
      val buckets = bucketsOfLits(qTerms)
      terms.filter(col("tbucket").isin(buckets: _*))
    }

  /** A1 per-chunk term relevance as an unordered (chunkId, score) frame
    * (`retrieval.py:193-229`; zero rows for a stopword-only query):
    * "tf" (default) sums TF per chunk; "idf" is Σ_t tf · ln(N / df), the
    * DF weight of a Lucene-like ranking; "bm25" is
    * Σ_t ln(1 + (N-df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)),
    * dl = chunk token count — the closest shape to the Lucene fulltext
    * score the reference delegates to (`retrieval.py:204-218`). All
    * partial-aggregable plus broadcast scalars. */
  private def termScored(terms: DataFrame, chunks: Dataset[Chunk], query: String,
      ranking: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val c = chunks.toDF()
    val qTerms = Tokens.normalize(query).filterNot(Stopwords.english.contains).distinct
    if (qTerms.isEmpty) return c.select(col("chunkId"), lit(0.0).as("score")).limit(0)
    val hits = pruneTermBuckets(terms, qTerms)
      .filter(col("termType") === "unigram" && col("text").isin(qTerms: _*))
    if (ranking != "idf" && ranking != "bm25")
      return hits.groupBy(col("chunkId")).agg(tfScore(terms).as("score"))
    val tf = hits.groupBy(col("chunkId"), col("text")).agg(tfScore(terms).as("tf"))
    val dfreq = tf.groupBy(col("text"))
      .agg(count(lit(1)).cast("double").as("df")) // tf rows are distinct (chunk, term)
    val weighted =
      if (ranking == "idf")
        tf.join(broadcast(dfreq), Seq("text"))
          .crossJoin(broadcast(c.agg(count(lit(1)).cast("double").as("n_chunks"))))
          .select(col("chunkId"), (col("tf") * log(col("n_chunks") / col("df"))).as("w"))
      else
        tf.join(broadcast(dfreq), Seq("text"))
          .join(c.select(col("chunkId"), col("nTokens").cast("double").as("dl")),
            Seq("chunkId"))
          .crossJoin(broadcast(c.agg(count(lit(1)).cast("double").as("n_chunks"),
            avg(col("nTokens")).as("avgdl"))))
          .select(col("chunkId"),
            (log(lit(1.0) + (col("n_chunks") - col("df") + 0.5) / (col("df") + 0.5)) *
              (col("tf") * (k1 + 1.0)) /
              (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
              .as("w"))
    weighted.groupBy(col("chunkId")).agg(sum(col("w")).as("score"))
  }

  /** Top-k (chunkId, score, text) of a scored frame; the text join runs
    * before the limit, so a hit with no chunk row never takes a slot. */
  private def topWithText(scored: DataFrame, chunks: Dataset[Chunk], topK: Int): DataFrame =
    scored.join(chunks.toDF().select(col("chunkId"), col("text")), Seq("chunkId"))
      .orderBy(col("score").desc, col("chunkId"))
      .limit(topK)

  /** A1 term search, TF-ranked. `terms` = (chunkId, text, termType). */
  def termSearch(terms: DataFrame, chunks: Dataset[Chunk], query: String,
      topK: Int = config.topK): DataFrame =
    topWithText(termScored(terms, chunks, query, "tf"), chunks, topK)

  /** A1 term search, IDF-weighted. */
  def termSearchIdf(terms: DataFrame, chunks: Dataset[Chunk], query: String,
      topK: Int = config.topK): DataFrame =
    topWithText(termScored(terms, chunks, query, "idf"), chunks, topK)

  /** A1 term search, BM25-ranked. */
  def termSearchBm25(terms: DataFrame, chunks: Dataset[Chunk], query: String,
      topK: Int = config.topK, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topWithText(termScored(terms, chunks, query, "bm25", k1, b), chunks, topK)

  /** Scores-only term side: top-k (chunkId, score) under `ranking`
    * ("tf" | "idf" | "bm25"), no chunk join — what [[hybridSearch]] and
    * [[withContext]] collect. */
  def termScores(terms: DataFrame, chunks: Dataset[Chunk], query: String,
      topK: Int = config.topK, ranking: String = "tf"): DataFrame =
    termScored(terms, chunks, query, ranking)
      .orderBy(col("score").desc, col("chunkId"))
      .limit(topK)

  /** O1 vector side, scores only: embed the query ("query: " prefix,
    * `retrieval.py:93`), brute-force cosine over chunk embeddings,
    * TakeOrderedAndProject top-k (`retrieval.py:107-161`) of
    * (chunkId, score). The query vector is a plan-time literal (broadcast
    * with the codegen'd task binary) scored by the native dot_product
    * expression — the scan stays columnar inside WholeStageCodegen
    * instead of deserializing a ChunkEmbedding object per row; on unit
    * vectors dot == cosine. */
  def vectorScores(embeddings: Dataset[ChunkEmbedding], query: String,
      topK: Int = config.topK): DataFrame = {
    val qv = embedder.embedQuery(query)
    embeddings.toDF()
      .select(col("chunkId"),
        graft.functions.VectorFunctions.dot_product(col("vec"), typedLit(qv)).as("score"))
      .orderBy(col("score").desc, col("chunkId"))
      .limit(topK)
  }

  /** O1 vector search: [[vectorScores]] with the chunk text attached.
    * The top-k runs BEFORE the text join — joining first would shuffle
    * the full chunk table per query (Catalyst cannot push a limit
    * through an inner join). */
  def vectorSearch(embeddings: Dataset[ChunkEmbedding], chunks: Dataset[Chunk],
      query: String, topK: Int = config.topK): DataFrame =
    vectorScores(embeddings, query, topK)
      .join(chunks.toDF().select(col("chunkId"), col("text")), Seq("chunkId"))
      .orderBy(col("score").desc, col("chunkId"))

  /** O1 vector side, ANN scale path, scores only: the query's LSH
    * sign-sketch probe plan ([[VectorIndex.queryBuckets]], driver-side)
    * becomes a LITERAL disjunction over the `(l, vbucket)` PARTITION
    * columns of `chunk_vec_index`, so the scan reads L·probesPerTable of
    * the L·2^K directories (the reference's Qdrant search is itself
    * approximate HNSW, `retrieval.py:107-161`). Candidates are re-scored
    * with the EXACT dot product: precision is 1.0, only recall is
    * approximate — [[VectorIndex.DefaultProbes]] gives mean recall@10 ≈
    * 0.875 at ~0.57× the exact scan's rows (BENCH/BASELINE.md).
    *
    * Returns the top K·L (chunkId, score) rows, NOT deduplicated: a chunk
    * colliding with the query in several tables repeats once per table
    * with an IDENTICAL score, so deduplicating these rows yields the
    * exact distinct top-K. */
  def vectorScoresAnn(vecIndex: DataFrame, query: String, topK: Int = config.topK,
      probesPerTable: Int = VectorIndex.DefaultProbes,
      thresholds: Array[Double] = VectorIndex.zeroThresholds): DataFrame = {
    val qv = embedder.embedQuery(query)
    val pairs = VectorIndex.queryBuckets(qv, probesPerTable, thresholds)
    // one isin per table instead of L·P equality disjuncts — the same
    // partition pruning, a fraction of the predicate nodes to plan
    val pred = pairs.groupBy(_._1).map { case (l, bs) =>
      col("l") === lit(l) && col("vbucket").isin(bs.map(_._2).distinct: _*)
    }.reduce(_ || _)
    // score FIRST (map-only over the pruned scan) and keep two narrow
    // columns: TakeOrdered(K·L) moves dozens of rows, never the
    // embedding payload
    vecIndex.filter(pred)
      .select(col("chunkId"),
        graft.functions.VectorFunctions.dot_product(col("vec"), typedLit(qv))
          .as("score"))
      .orderBy(col("score").desc, col("chunkId"))
      .limit(topK * VectorIndex.NumTables)
  }

  /** O1 vector search, ANN path: [[vectorScoresAnn]] deduplicated to the
    * top-k distinct chunks, with the chunk text attached. */
  def vectorSearchAnn(vecIndex: DataFrame, chunks: Dataset[Chunk],
      query: String, topK: Int = config.topK,
      probesPerTable: Int = VectorIndex.DefaultProbes,
      thresholds: Array[Double] = VectorIndex.zeroThresholds): DataFrame =
    vectorScoresAnn(vecIndex, query, topK, probesPerTable, thresholds)
      .dropDuplicates("chunkId")
      .orderBy(col("score").desc, col("chunkId"))
      .limit(topK)
      .join(chunks.toDF().select(col("chunkId"), col("text")), Seq("chunkId"))
      .orderBy(col("score").desc, col("chunkId"))

  /** A4 weighted hybrid merge (`retrieval.py:550-605`) on the driver:
    * each side frame — (chunkId, score), a few·topK rows — is collected,
    * deduplicated on chunkId (best first) and cut to topK; ONE
    * `chunkId IN (...)` fetch reads the texts of the ≤ 2·topK ids (an id
    * with no chunk row drops out of its side); then A3 min-max per side
    * (all-equal → 1.0, `retrieval.py:550-569`), w·vec + (1-w)·graph with
    * a missing side as 0.0, top-k by (score desc, chunkId). The
    * arithmetic is the SQL plan's, term for term, so the doubles are
    * bit-identical to a Spark-side merge. Eager: returns a local
    * (chunkId, score, text) frame. `termHits` / `vectorHits` replace the
    * default sides ([[termScores]] TF, [[vectorScores]] exact), e.g. with
    * an IDF/BM25 ranking or the ANN rows of [[vectorScoresAnn]]. */
  def hybridSearch(terms: DataFrame, chunks: Dataset[Chunk],
      embeddings: Dataset[ChunkEmbedding], query: String,
      topK: Int = config.topK, vectorWeight: Double = config.vectorWeight,
      termHits: Option[DataFrame] = None,
      vectorHits: Option[DataFrame] = None): DataFrame = {
    def topList(side: DataFrame) = side.select("chunkId", "score").collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1))).sorted(ranked).distinctBy(_._1).take(topK)
    val vSide = topList(vectorHits.getOrElse(vectorScores(embeddings, query, topK)))
    val gSide = topList(termHits.getOrElse(termScores(terms, chunks, query, topK)))
    val text = fetch(chunks, "chunkId", (vSide ++ gSide).map(_._1))
      .map(c => c.chunkId -> c.text).toMap
    def minMax(side: Seq[(String, Double)]) = {
      val kept = side.filter(x => text.contains(x._1))
      lazy val (mn, mx) = (kept.map(_._2).min, kept.map(_._2).max)
      kept.map { case (id, s) => id -> (if (mx == mn) 1.0 else (s - mn) / (mx - mn)) }.toMap
    }
    val (v, g) = (minMax(vSide), minMax(gSide))
    val rows = (v.keySet ++ g.keySet).toSeq
      .map(id => (id, v.getOrElse(id, 0.0) * vectorWeight +
        g.getOrElse(id, 0.0) * (1.0 - vectorWeight)))
      .sorted(ranked).take(topK)
      .map { case (id, score) => Row(id, score, text(id)) }
    chunks.sparkSession.createDataFrame(rows.asJava, StructType(Seq(chunks.schema("chunkId"),
      StructField("score", DoubleType, nullable = false), chunks.schema("text"))))
  }

  /** §3.3 context expansion (`retrieval.py:373-467`) on the driver: the
    * reference walks ±contextSize hops with 2·N bolt round trips per hit;
    * here ONE fetch reads the hits' chunk rows and ONE more the chunks of
    * their docs, then the window (same doc, |Δindex| ≤ contextSize), U2
    * dedup (a chunk reachable from several hits keeps its best score —
    * match score > context 0.0; the match row wins a tie) and O4
    * matches-first order (score desc, docId, index) run in plain Scala.
    * A hit with no chunk row is dropped. `hits` = (chunkId, score) is
    * COLLECTED to the driver, so it must be a top-k list (e.g.
    * [[termScores]]), never a whole-table frame. Eager: returns a local
    * (chunkId, text, index, docId, score, is_match) frame. */
  def withContext(hits: DataFrame, chunks: Dataset[Chunk],
      contextSize: Int = config.contextSize): DataFrame = {
    val best = hits.select("chunkId", "score").collect()
      .groupMapReduce(_.getString(0))(_.getDouble(1))(math.max)
    val hitChunks = fetch(chunks, "chunkId", best.keys.toSeq)
    val byDoc = fetch(chunks, "docId", hitChunks.map(_.docId)).groupBy(_.docId)
    val rows = hitChunks
      .flatMap { h =>
        byDoc(h.docId).filter(n => math.abs(n.index - h.index) <= contextSize).map { n =>
          val isMatch = n.chunkId == h.chunkId
          (n, if (isMatch) best(h.chunkId) else 0.0, isMatch)
        }
      }
      .groupMapReduce(_._1.chunkId)(identity) { (a, b) =>
        val bySc = SQLOrderingUtil.compareDoubles(a._2, b._2)
        if (bySc > 0 || (bySc == 0 && a._3)) a else b
      }
      .values.toSeq
      .sorted(Ordering.by[(Chunk, Double, Boolean), (Double, String, Int)](
        r => (r._2, r._1.docId, r._1.index))(Ordering.Tuple3(scoreDesc, utf8, Ordering.Int)))
      .map { case (n, score, isMatch) => Row(n.chunkId, n.text, n.index, n.docId, score, isMatch) }
    chunks.sparkSession.createDataFrame(rows.asJava, StructType(
      Seq("chunkId", "text", "index", "docId").map(chunks.schema(_)) ++ Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("is_match", BooleanType, nullable = false))))
  }

  /** The chunk rows whose `key` column is one of `values`: one
    * `key IN (...)` scan, no job for an empty list. */
  private def fetch(chunks: Dataset[Chunk], key: String, values: Seq[String]): Seq[Chunk] =
    if (values.isEmpty) Nil
    else chunks.filter(col(key).isin(values.distinct: _*)).collect().toSeq

  /** Spark's `ORDER BY score DESC` and string order on the driver:
    * doubles by SQL comparison (-0.0 == 0.0, NaN largest), strings by
    * UTF-8 bytes (not Java's UTF-16 `compareTo`). */
  private val scoreDesc: Ordering[Double] = (a, b) => SQLOrderingUtil.compareDoubles(b, a)
  private val utf8: Ordering[String] = graft.kg.DriverSide.utf8Ordering
  /** (chunkId, score) by (score desc, chunkId). */
  private val ranked: Ordering[(String, Double)] =
    Ordering.by[(String, Double), (Double, String)](x => (x._2, x._1))(
      Ordering.Tuple2(scoreDesc, utf8))

  /** Entity search (reference `retrieval.py:231-263`): queries
    * `MENTIONS_ENTITY` relationships — which NOTHING in the reference
    * ever creates (SURVEY.md §1.2 dead schema element), so the reference
    * always returns 0 rows. Reproduced faithfully: there is no
    * mentions-entity table, so the result is structurally empty. Kept so
    * a reference user finds the same API with the same (degenerate)
    * behavior rather than a silent omission. */
  def entitySearch(chunks: Dataset[Chunk], query: String,
      topK: Int = config.topK): DataFrame = {
    chunks.toDF()
      .select(col("chunkId"), col("text"), lit(0.0).as("score"))
      .limit(0)
  }

  /** Relationship (triplet) lookup per query entity
    * (`retrieval.py:265-314,607-637`): capitalized-phrase entity
    * candidates (P7 regex), per-entity edge filter, O5 per-entity and
    * global top-k caps. `edges` = RelatesToEdge table. */
  def relationshipSearch(edges: DataFrame, query: String,
      topK: Int = config.topK): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val entities = queryEntities(query)
    if (entities.isEmpty) return edges.limit(0)
    edges
      .withColumn("entity",
        explode(filter(typedLit(entities),
          e => e === $"subj" || e === $"obj")))
      .transform(capPerEntity(_, topK, entities.size))
  }

  /** P7 capitalized-phrase entity candidates of a query. */
  private def queryEntities(query: String): Seq[String] =
    "[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*".r
      .findAllIn(query).map(_.toLowerCase).toSeq.distinct

  /** O5 caps shared by both relationship-lookup paths: per-entity top-k by
    * (subj, pred, obj), then the reference's global topK·entities cap. */
  private def capPerEntity(hits: DataFrame, topK: Int, nEntities: Int): DataFrame = {
    val perEntity = Window.partitionBy(col("entity"))
      .orderBy(col("subj"), col("pred"), col("obj"))
    hits
      .withColumn("rn", row_number().over(perEntity))
      .filter(col("rn") <= topK).drop("rn")
      .orderBy(col("entity"), col("subj"), col("pred"), col("obj"))
      .limit(topK * math.max(nEntities, 1))
  }

  /** [[relationshipSearch]] routed through the entity-bucketed secondary
    * edge layout (`edge_entity_index`, written at materialize: one row per
    * (entity ∈ {subj, obj}, edge), partitioned by
    * `ebucket = pmod(hash(entity), NumBuckets)`).
    *
    * The scan-based path reads the FULL edge table per query — edges are
    * bucketed by subject hash (`sbucket`), and an entity matching on
    * either the subj or the obj side lies in any bucket, so the by-entity
    * filter prunes nothing and at 100× every query pays a full scan (the reference's lookup is
    * per-entity indexed, `retrieval.py:265-314`). Here the query entities'
    * bucket ids are computed driver-side ([[bucketOfLit]] — the writer's
    * own Murmur3 `hash` expression constant-folded, no job) and pushed as
    * a LITERAL `ebucket IN (...)` predicate, so the parquet scan
    * partition-prunes to ≤ |entities| of the store's bucket directories
    * before the row-level entity filter. */
  def relationshipSearchIndexed(edgeIndex: DataFrame, query: String,
      topK: Int = config.topK): DataFrame = {
    val spark = edgeIndex.sparkSession
    import spark.implicits._
    val entities = queryEntities(query)
    val resultCols =
      Seq($"subj", $"pred", $"obj", $"label", $"sourceChunkId", $"entity")
    if (entities.isEmpty) return edgeIndex.select(resultCols: _*).limit(0)
    val buckets = bucketsOfLits(entities)
    edgeIndex
      .filter($"ebucket".isin(buckets: _*) && $"entity".isin(entities: _*))
      .select(resultCols: _*)
      .transform(capPerEntity(_, topK, entities.size))
  }

  /** [[relationshipSearch]] with the reference's ALIAS semantics over the
    * CANONICAL graph: each query entity's surface form is first mapped
    * through the store's `canonical_map` (the CC output of similarity
    * linking), and the lookup runs against the entity-bucketed layout of
    * `canonical_edges` — so a query naming ANY alias of a merged entity
    * finds the whole merged component's relationships, the reachability
    * the reference's alias cross-product MERGEs give its per-entity
    * lookup (`triplets.py:371-398`, `retrieval.py:265-314`). The returned
    * `entity` column keeps the QUERY's surface form (what the user asked
    * about); subj/obj are canonical names.
    *
    * Scale shape: the canonical-map probe collects ≤ |query entities|
    * rows from a cbucket-partition-pruned scan of the non-identity map
    * (the facade's empty stand-in for a missing map has no cbucket), and
    * the edge lookup partition-prunes on the canonical entities' ebucket
    * ids exactly like [[relationshipSearchIndexed]] — per-query I/O is
    * bounded by |entities| bucket directories of each table, never a
    * full scan of either. */
  def relationshipSearchCanonical(canonEdgeIndex: DataFrame,
      canonMap: DataFrame, query: String,
      topK: Int = config.topK): DataFrame = {
    val spark = canonEdgeIndex.sparkSession
    import spark.implicits._
    val entities = queryEntities(query)
    val resultCols =
      Seq($"subj", $"pred", $"obj", $"label", $"sourceChunkId", $"entity")
    if (entities.isEmpty) return canonEdgeIndex.select(resultCols: _*).limit(0)
    // surface form → canonical name (identity when unlinked). The map
    // probe's collect is the lookup's ONE job — every bucket id folds
    // driver-side
    val mapPruned =
      if (!canonMap.columns.contains("cbucket")) canonMap
      else canonMap.filter($"cbucket".isin(bucketsOfLits(entities): _*))
    val canonOf = mapPruned.filter($"name".isin(entities: _*))
      .select("name", "canonicalName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val pairs = entities.map(e => (e, canonOf.getOrElse(e, e)))
    val canonEnts = pairs.map(_._2).distinct
    // tiny (surface, canonical) frame re-attaches the surface form the
    // user queried by — two aliases of one component each get the full
    // merged edge set under their own entity value
    val surf = broadcast(spark.createDataset(pairs).toDF("qentity", "entity"))
    canonEdgeIndex
      .filter($"ebucket".isin(bucketsOfLits(canonEnts): _*) &&
        $"entity".isin(canonEnts: _*))
      .join(surf, Seq("entity"))
      .select($"subj", $"pred", $"obj", $"label", $"sourceChunkId",
        $"qentity".as("entity"))
      .transform(capPerEntity(_, topK, entities.size))
  }
}
