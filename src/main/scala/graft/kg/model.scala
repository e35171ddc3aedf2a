package graft.kg

/** Core data model of the KG-construction pipeline (SURVEY.md §1.5).
  *
  * Mirrors the shapes the reference emits (see /root/reference/graphrag):
  * Document/Chunk rows (`core/ingest.py:126-179`), Term rows
  * (`core/nlp_graph.py:60-104`), (subj, pred, obj) triples
  * (`core/triplets.py:134-205`), Entity vertices and RELATES_TO edges
  * (`core/triplets.py:354-369`) — re-expressed as typed Dataset rows.
  */

/** One row of the Iceberg-shaped source-code corpus (input_hint). */
final case class CorpusRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** A document with its stable id and content hash (per-row invariant:
  * `sha2(content, 256)` equality vs the oracle). */
final case class Doc(
    docId: String,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    contentSha256: String)

/** A chunk produced by the greedy sentence-packing chunker
  * (reference `core/ingest.py:65-101`); `chunkId = s"${docId}_chunk$index"`
  * (`ingest.py:144-150`). */
final case class Chunk(
    docId: String,
    chunkId: String,
    index: Int,
    text: String,
    nTokens: Int)

/** Chunk embedding (reference: E5-base-v2 768-d L2-normalized,
  * `utils/common.py:50-98`; here: deterministic hash embedding). */
final case class ChunkEmbedding(chunkId: String, docId: String, vec: Array[Float])

/** An n-gram term attached to a chunk (`core/nlp_graph.py:35-58`);
  * termType ∈ {unigram, bigram, trigram}. */
final case class Term(chunkId: String, text: String, termType: String)

/** A raw extracted triple with full provenance (the reference drops
  * provenance — `triplets.py:354-369` never writes `r.source`; we keep it). */
final case class Triple(
    docId: String,
    chunkId: String,
    sentIdx: Int,
    subj: String,
    pred: String,
    obj: String)

/** A distinct mention string to be linked; role ∈ {subject, predicate, object}. */
final case class Mention(name: String, role: String)

/** An alias pair discovered by similarity linking (J1) or exact match (J2). */
final case class AliasPair(a: String, b: String, score: Double)

/** Canonicalization result: mention name → canonical entity name. */
final case class CanonicalMapping(name: String, canonicalName: String)

/** Entity vertex of the emitted graph (reference `(:Entity)` node,
  * `triplets.py:354-361`): name lowercased, embeddings create-only,
  * triplet_part last-writer — made deterministic here via lineage order. */
final case class EntityVertex(
    name: String,
    canonicalName: String,
    vec: Array[Float],
    tripletPart: String)

/** RELATES_TO edge keyed (subj, pred, obj) (`triplets.py:363-365`) with
  * real provenance chunk id (reference queries `r.source` but never
  * writes it — `retrieval.py:283,291`). */
final case class RelatesToEdge(
    subj: String,
    pred: String,
    obj: String,
    label: String,
    sourceChunkId: String)

/** Pipeline configuration mirroring the reference defaults
  * (`utils/config.py:123-135`). */
final case class GraftConfig(
    maxTokensPerChunk: Int = 200,
    topK: Int = 10,
    contextSize: Int = 2,
    linkThreshold: Double = 0.96,
    linkTopK: Int = 10,
    vectorWeight: Double = 0.5,
    removeStopwords: Boolean = true,
    /** "exact" = the reference's de-facto stock behavior (vector index
      * never usable → exact lowercase match only, SURVEY.md §1.2);
      * "lsh" = MinHash-LSH blocking + cosine ≥ linkThreshold. */
    linkMode: String = "exact",
    /** Stage-checkpoint root for resumable runs (§7.7); None = off. */
    checkpointDir: Option[String] = None,
    /** Range-split the corpus on (repo, path) at ingest — mega-repo skew
      * defense (SURVEY.md §4.4). Off by default: callers that already
      * control input partitioning (benches) skip the extra shuffle. */
    rangePartitionOnIngest: Boolean = false,
    /** Use the salted shuffle join (hub-entity skew defense) instead of
      * broadcasting the canonical map when rewriting edges — for the
      * regime where distinct mentions outgrow broadcast; see
      * [[graft.kg.stages.Materialize.canonicalEdges]]. */
    saltedCanonicalJoin: Boolean = false,
    /** Incremental-batch compaction strategy: false (default) = DELTA
      * compaction — only the canonical-edge partitions and vertex
      * partitions touched by names whose canonical mapping actually
      * changed are rewritten; true = rebuild the full canonical_edges /
      * vertices tables every batch (the reference semantics both paths
      * must equal — kept for the equivalence test and as a recovery
      * path). See [[graft.kg.pipeline.Pipeline]]`.compactDelta`. */
    fullCompaction: Boolean = false,
    /** Saturation gate for delta compaction (r8, VERDICT r7 #1): when the
      * affected-name set of a batch reaches more than this fraction of
      * the store's bucket space, the delta path's discovery/diff
      * machinery is pure overhead — at the measured 160-doc/nb=256
      * saturation point it READ 57 MB/batch vs the full rebuild's 41 MB
      * for identical ~11 MB writes — so the batch routes to the
      * always-correct full-rebuild branch instead. The gate is evaluated
      * BEFORE any store discovery reads (the affected-name set is already
      * in hand), so a saturated batch pays ~the full rebuild exactly.
      * 1.0 disables the gate (always delta when eligible); 0.0 forces
      * full rebuilds (≈ fullCompaction). Default 0.75, calibrated from
      * the two measured endpoints of the r7+r8 series
      * (graft.tools.BatchReadProbe, deleted; source at commit 957f54b):
      * at ~0.5 bucket reach (a 40-doc batch's ~180 names hash into
      * ~130/256 buckets — the birthday effect makes bucket reach exceed
      * name share) the delta path still writes 0.26–0.63 of the full
      * rebuild's volume, so the gate must NOT fire there; at ~0.8 reach
      * (160-doc batches) delta's reads exceed full's for identical
      * writes, so it must. An earlier 0.5 default mis-routed the 40-doc
      * regime to full rebuilds (caught by the r8 1× BatchReadProbe run and
      * documented in OPTIMIZATION_r08.md). */
    deltaSaturationFraction: Double = 0.75,
    /** Partition-bucket count for the hash-bucketed table layouts
      * (sbucket/ebucket/nbucket/cbucket/tbucket/pibucket — Iceberg
      * `bucket(N, col)` analogue). Applied when a store is CREATED and
      * persisted in its `num_buckets` layout metadata; an existing
      * store's persisted count always wins over this knob (readers and
      * writers resolve from the store — mixing two bucket counts in one
      * store is impossible by construction). Size so a batch's delta
      * touches a FRACTION of the buckets and each bucket dir stays
      * executor-memory-sized at the deployment's scale: the sandbox
      * default 32 suits sf0.1; a 100 TB store wants hundreds to
      * thousands. */
    numBuckets: Int = graft.kg.pipeline.Pipeline.NumBuckets)
