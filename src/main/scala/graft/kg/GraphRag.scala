package graft.kg

import graft.kg.embed.{Embedder, HashEmbedder}
import graft.kg.extract.{RuleSVOExtractor, TripletExtractor}
import graft.kg.pipeline.{GraphTableIO, ParquetTableIO, Pipeline}
import graft.kg.retrieve.Retrieval
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade mirroring the reference CLI surface
  * (`cli/main.py:447-487`): `graphrag process` → [[ingest]],
  * `graphrag query` → [[query]] (hybrid + triplets by default,
  * `--with-context` → context expansion), `stats` → [[stats]],
  * `reset` → [[reset]]. A user of the reference switches by pointing
  * this at a corpus table and a graph-table root instead of Neo4j/Qdrant
  * endpoints.
  */
final class GraphRag(
    spark: SparkSession,
    io: GraphTableIO,
    config: GraftConfig = GraftConfig(),
    embedder: Embedder = new HashEmbedder(),
    extractor: TripletExtractor = new RuleSVOExtractor()) {

  private val pipeline = new Pipeline(config, embedder, extractor)

  /** Query-side retrieval bound to the STORE's persisted bucket count
    * (`num_buckets` layout metadata): partition pruning must compute
    * bucket ids with the count the writer laid down, not the engine
    * default. Resolved lazily, behind the store-format gate
    * ([[Pipeline.checkFormat]]: an older engine's store is refused here),
    * and cached per facade instance;
    * [[ingest]]/[[reset]] invalidate it. The cached pair records WHETHER
    * the count came from the stamped metadata: once stamped, the count
    * is immutable for the life of the store (only [[reset]] clears it,
    * and that invalidates this cache), so the warm path makes zero FS
    * calls — but a resolution made while the store was UNSTAMPED (e.g.
    * a read-only facade constructed before a separate writer's first
    * ingest) is re-checked against the metadata on every access and
    * upgraded the moment a stamp appears, so such a reader does not
    * keep pruning with a stale fallback count forever. */
  @volatile private var retrievalCache: (Boolean, Retrieval) = null
  private def retrieval: Retrieval = {
    val c = retrievalCache
    if (c != null && c._1) c._2 // stamped-store resolution: pinned
    else {
      val stamped = io.getMeta(spark, "num_buckets").isDefined
      if (c != null && !stamped) c._2 // still unstamped: fallback holds
      else {
        Pipeline.checkFormat(spark, io)
        val nb = Pipeline.resolveNumBuckets(spark, io, config)
        val r = new Retrieval(embedder, config.copy(numBuckets = nb))
        retrievalCache = (stamped, r)
        r
      }
    }
  }

  /** Result of [[query]]. Each side is a LAZY thunk: building the hits
    * side runs the searches — [[Retrieval.hybridSearch]] and
    * [[Retrieval.withContext]] collect their top-k lists and fetch chunk
    * rows on the driver, and return a local frame — so a caller
    * consuming only the triplets must not pay for a hits side it never
    * reads.
    *
    * CONSUME-BEFORE-MUTATE contract (ADVICE r7): because the sides are
    * thunks over the facade's table handles, a result must be consumed
    * before the next [[ingest]]/[[reset]] through this facade — a side
    * first accessed AFTER an intervening mutation is computed against
    * the mutated store (after reset it may fail on missing tables), and
    * the two sides of one result can then reflect different store
    * states. This is the same single-writer-window caveat every handle
    * of this facade carries; callers needing a pinned snapshot should
    * materialize (collect/count/write) both sides before mutating. */
  final class QueryResult private[GraphRag] (
      chunksThunk: () => DataFrame,
      tripletsThunk: Option[() => DataFrame]) {
    /** (chunkId, score, text[, is_match ...]) */
    lazy val chunks: DataFrame = chunksThunk()
    /** (entity, subj, pred, obj, ...) */
    lazy val triplets: Option[DataFrame] = tripletsThunk.map(_())
  }

  /** `graphrag process`: ingest a corpus batch into the graph tables
    * (idempotent MERGE; incremental linking in lsh mode). Returns stage
    * counters. */
  def ingest(corpus: Dataset[CorpusRow]): Map[String, Long] = {
    dropCaches() // the batch rewrites tables and may create the sidecar
    try pipeline.materialize(corpus, io)
    finally dropCaches() // handles opened before the swap are now stale
  }

  /** Streaming `graphrag process`: corpus rows arriving on a stream are
    * ingested micro-batch-wise through the SAME incremental pipeline as
    * [[ingest]] (Structured Streaming `foreachBatch` → materialize), so
    * each micro-batch links its new mentions against the graph built so
    * far and the compaction pass keeps canonical names consistent across
    * batches — the streaming and batch paths are ONE code path, not two
    * engines (the reference is strictly batch; this is the engine's
    * continuous-ingest surface).
    *
    * Failure semantics: the sink is effectively idempotent — every graph
    * table MERGEs on its natural key and compaction is a deterministic
    * function of cumulative state, so a replayed micro-batch (Structured
    * Streaming's at-least-once `foreachBatch` contract) converges to the
    * same table state; `checkpointLocation` gives offset-tracking resume.
    *
    * @param trigger `AvailableNow` drains what exists then stops (batch
    *   catch-up); `ProcessingTime` runs continuously. */
  def ingestStream(
      corpusStream: Dataset[CorpusRow],
      checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    corpusStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[CorpusRow], _: Long) =>
        // an empty replay/no-op tick must not pay a full pipeline pass
        if (!batch.isEmpty) {
          try pipeline.materialize(batch, io)
          finally dropCaches() // queries on this facade see the new swap
          ()
        }
      }
      .start()

  /** Cached table handles: every `io.read` builds a fresh file listing —
    * at 100 TB that lookup is the metastore's job (Iceberg manifests),
    * and even in the parquet emulation re-listing the 1024-dir ANN index
    * per query was measured at ~0.5 s of pure overhead. A handle's
    * listing snapshot goes stale when the store is rewritten, so
    * [[ingest]]/[[reset]] drop the cache (single-writer contract — an
    * external writer to the same root requires a fresh facade). */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def table(name: String): DataFrame =
    tableCache.getOrElseUpdate(name, io.read(spark, name))
  /** Table EXISTENCE, cached like the handles: the query fallback chains
    * probe up to three tables per call, and at 100 TB an existence check
    * is a metastore/object-store round trip — the warm query path must
    * make zero FS calls (same invalidation contract as [[table]]:
    * ingest/reset through this facade drop the cache; an external writer
    * requires a fresh facade). */
  private val existsCache =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private def tableExists(name: String): Boolean =
    existsCache.getOrElseUpdate(name, io.exists(spark, name))
  private def dropCaches(): Unit = {
    tableCache.clear()
    existsCache.clear()
    annThresholdsCache = null
    retrievalCache = null // num_buckets may change across an ingest/reset
  }

  private def chunksDs = {
    import spark.implicits._
    table("chunks").as[Chunk]
  }

  /** Per-plane median thresholds of the stored ANN layout (the
    * `chunk_vec_meta` sidecar — 32 rows). FROZEN once an index exists,
    * so caching per facade instance is safe; [[ingest]]/[[reset]] drop
    * the cache in case they created or truncated the sidecar. None =
    * no thresholds (no index yet, a reset store, or a batch that crashed
    * before the sidecar write): the index is not probed, and queries
    * fall back to the exact scan until the next ingest rebuilds it. */
  @volatile private var annThresholdsCache: Option[Array[Double]] = null
  private def annThresholds: Option[Array[Double]] = {
    val cached = annThresholdsCache
    if (cached != null) cached
    else {
      val t = graft.kg.retrieve.VectorIndex.readThresholds(spark, io)
      annThresholdsCache = t
      t
    }
  }
  private def embeddingsDs = {
    import spark.implicits._
    table("chunk_embeddings").as[ChunkEmbedding]
  }

  /** `graphrag query` (reference defaults: hybrid retrieval +
    * include_triplets=true, with_context=false — `cli/main.py:176-191`,
    * `config.py:133`).
    *
    * @param idfWeighting term-side ranking: false = raw TF (the
    *   documented spec substitution for the reference's Lucene score);
    *   true = tf · ln(N/df) ([[Retrieval.termSearchIdf]]), the
    *   DF-weighted shape a Lucene-like fulltext ranking carries.
    * @param ranking overrides `idfWeighting` when non-empty: "tf", "idf",
    *   or "bm25" (k1/b-saturated [[Retrieval.termSearchBm25]] — the full
    *   Lucene-shaped score).
    * @param vectorMode "exact" (default — full-scan cosine, the parity
    *   baseline) or "ann" — the LSH-bucketed `chunk_vec_index` layout
    *   ([[Retrieval.vectorSearchAnn]]): partition-pruned candidate lookup
    *   + exact re-score, the scale path mirroring the reference's own
    *   approximate Qdrant HNSW search. Falls back to exact while the
    *   store has no index thresholds (see [[annThresholds]]). */
  def query(
      q: String,
      topK: Int = config.topK,
      withContext: Boolean = false,
      includeTriplets: Boolean = true,
      idfWeighting: Boolean = false,
      ranking: String = "",
      vectorMode: String = "exact"): QueryResult = {
    def hits: DataFrame = {
      val terms = table("terms")
      val rank = if (ranking.nonEmpty) ranking else if (idfWeighting) "idf" else "tf"
      // scores-only sides: each is a top-k (chunkId, score) list the
      // driver-side merge collects; texts are fetched once, for the winners
      val termHits = retrieval.termScores(terms, chunksDs, q, topK, rank)
      if (withContext) // §3.3: graph-only retrieval + ±contextSize expansion
        retrieval.withContext(termHits, chunksDs, config.contextSize)
      else {
        val vectorHits =
          if (vectorMode == "ann" && tableExists("chunk_vec_index") &&
              annThresholds.isDefined)
            Some(retrieval.vectorScoresAnn(
              table("chunk_vec_index"), q, topK, thresholds = annThresholds.get))
          else None
        retrieval.hybridSearch(terms, chunksDs, embeddingsDs, q, topK,
          termHits = Some(termHits), vectorHits = vectorHits)
      }
    }
    def triplets: DataFrame =
      // DEFAULT: the canonical graph — query entities canonicalized
      // through canonical_map, lookup against the entity-bucketed
      // canonical_edges layout, so a query by ANY alias surface form
      // of a merged entity returns the merged component's edges (the
      // reference's alias cross-product reachability,
      // triplets.py:371-398 / retrieval.py:265-314). Base-edge
      // fallbacks serve exact-mode stores (no canonical tables) and a
      // crashed first batch that left edges without their index.
      if (tableExists("canonical_edge_entity_index"))
        retrieval.relationshipSearchCanonical(
          table("canonical_edge_entity_index"), canonicalMapOrEmpty(),
          q, topK)
      else if (tableExists("edge_entity_index"))
        retrieval.relationshipSearchIndexed(
          table("edge_entity_index"), q, topK)
      else retrieval.relationshipSearch(table("edges"), q, topK)
    new QueryResult(() => hits,
      if (includeTriplets) Some(() => triplets) else None)
  }

  /** The store's canonical map (non-identity rows), or a typed empty
    * frame on a store without the table — the canonical relationship
    * lookup then degrades gracefully to identity canonicalization. */
  private def canonicalMapOrEmpty(): DataFrame = {
    import spark.implicits._
    if (tableExists("canonical_map")) table("canonical_map")
    else spark.emptyDataset[CanonicalMapping].toDF()
  }

  /** Read-time canonical view — the cheap alternative to compaction when
    * incremental batches are too frequent to compact after each one: the
    * BASE edge set is remapped under the CURRENT `canonical_map` at scan
    * time and re-deduped on the canonical key. Always reflects the latest
    * linking state (even mid-compaction), at the price of the remap join
    * per read; the materialized `canonical_edges` table is the amortized
    * form the compaction job maintains. The non-identity canonical map
    * (linked names only) is broadcast; unmapped names pass through as
    * themselves. */
  def canonicalEdgesView(): DataFrame = {
    import spark.implicits._
    val base = io.read(spark, "edges")
      .select("subj", "pred", "obj", "label", "sourceChunkId").as[RelatesToEdge]
    val cm =
      if (io.exists(spark, "canonical_map")) io.read(spark, "canonical_map")
      else spark.emptyDataset[CanonicalMapping].toDF()
    // same join regime as the compaction paths: broadcast wants the SMALL
    // non-identity map (left-join + coalesce completes it); the salted
    // path — for when even the linked-name set outgrows broadcast —
    // requires an identity-COMPLETE map over the edges' names (its
    // replicated join drops unmatched rows instead of coalescing)
    val mapping =
      if (!config.saltedCanonicalJoin) cm.as[CanonicalMapping]
      else base.toDF()
        .select(explode(array(col("subj"), col("pred"), col("obj"))).as("name"))
        .distinct()
        .join(cm, Seq("name"), "left")
        .select(col("name"),
          coalesce(col("canonicalName"), col("name")).as("canonicalName"))
        .as[CanonicalMapping]
    graft.kg.stages.Materialize
      .canonicalEdges(base, mapping, salted = config.saltedCanonicalJoin).toDF()
  }

  /** `graphrag stats`: table row counts (the reference's node/rel
    * counts, `cli/main.py:90-104`). Metadata-only: answered from the
    * backend's countable metadata (parquet footer record counts — the
    * Iceberg manifest analogue), zero count() jobs scheduled — the same
    * path the per-batch ingest stats use. It reads every data file's
    * footer, at 0.2–0.3 ms each with the store's read options (7–11 ms
    * each while every open parsed Hadoop's XML defaults anew;
    * `ParquetTableIO.Store`). */
  def stats(): Map[String, Long] =
    Seq("chunks", "chunk_embeddings", "chunk_vec_index", "chunk_vec_meta",
      "terms", "edges", "edge_entity_index", "pred_index", "canonical_edges",
      "canonical_edge_entity_index", "vertices", "aliases", "lsh_band_index")
      .filter(io.exists(spark, _))
      .map(t => t -> io.rowCount(spark, t)).toMap

  /** `graphrag reset` (`cli/main.py:36-60`): destructive truncate of all
    * graph tables. The empty frame is materialized from the schema (not a
    * limit(0) of the table itself — overwriting a path from a plan that
    * reads the same path is undefined). */
  def reset(): Unit = {
    dropCaches()
    Seq("chunks", "chunk_embeddings", "chunk_vec_index", "chunk_vec_meta",
      "terms", "edges", "edge_entity_index", "pred_index", "canonical_edges",
      "canonical_edge_entity_index", "canonical_map", "vertices", "aliases",
      "lsh_band_index").foreach { t =>
      if (io.exists(spark, t)) {
        val schema = io.read(spark, t).schema
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        io.overwrite(spark, t, empty)
      }
    }
    // a reset store takes the next ingest's bucket-count knob (a
    // surviving num_buckets would silently pin the old layout). The
    // format_version stamp stays: the emptied tables keep this engine's
    // schemas.
    io.clearMeta(spark, "num_buckets")
    io.clearFlag(spark, "batch_inflight")
    retrievalCache = null
  }
}

object GraphRag {
  /** Convenience constructor over a parquet table root. */
  def apply(spark: SparkSession, root: String): GraphRag =
    new GraphRag(spark, new ParquetTableIO(root))
}
