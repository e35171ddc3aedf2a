package graft.kg.stages

import graft.kg._
import graft.kg.embed.Embedder
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity linking (reference `core/triplets.py:252-343`).
  *
  * The reference queries a Neo4j vector index per mention (top-10
  * neighbors, cosine ≥ 0.96) with an exact lowercase-match union — but the
  * index is never actually created, so the stock behavior degrades to
  * exact match only (SURVEY.md §1.2). We implement both:
  *
  *  - `exactAliases` — J2: lowercase equality. After lowercasing, exact
  *    match is the identity on the mention set, so it adds no alias pairs;
  *    it exists to make the stock linking semantics explicit.
  *
  *  - `lshAliases` — J1 as a scale-path replacement for per-row ANN:
  *    the distinct mention strings are MinHash-banded on char-3-gram
  *    shingle sets (md5-derived band minhashes — a DETERMINISTIC,
  *    engine-portable function, so the independent oracle reproduces the
  *    blocking exactly), candidates = pairs sharing any band value,
  *    filtered at exact shingle-Jaccard distance ≤ cap, then re-scored
  *    with EXACT cosine over the hash embeddings and kept at
  *    `cosine ≥ threshold`, capped at top-`linkTopK` per probe
  *    (`row_number` window — reference's top-10, `triplets.py:257`).
  *
  * Scale notes: linking joins DISTINCT mentions (embed-once,
  * SURVEY.md §4.2 — the reference re-embeds per triplet occurrence); the
  * LSH join is a blocked join, never a cross product; skewed hub mentions
  * are identical strings and thus collapse in the distinct step BEFORE the
  * join, so hub skew never reaches the shuffle.
  */
object Link {

  /** Distinct lowercased mentions with their roles. Role priority for the
    * vertex `triplet_part` property is resolved in [[Materialize]]. */
  def mentions(triples: Dataset[Triple]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples
      .select(
        explode(array(
          struct(lower($"subj").as("name"), lit("subject").as("role")),
          struct(lower($"pred").as("name"), lit("predicate").as("role")),
          struct(lower($"obj").as("name"), lit("object").as("role")))).as("m"))
      .select($"m.name", $"m.role")
      .distinct()
  }

  /** Embed each distinct mention name exactly once (vs the reference's
    * 3 embeds per triplet occurrence, `triplets.py:234-236`). */
  def mentionEmbeddings(mentionNames: DataFrame, embedder: Embedder): DataFrame = {
    val spark = mentionNames.sparkSession
    import spark.implicits._
    mentionNames.select($"name").distinct().as[String]
      .mapPartitions { it => it.map(n => (n, embedder.embedPassage(n))) }
      .toDF("name", "vec")
  }

  /** J2 exact-match linking: identity on lowercased names → no pairs. */
  def exactAliases(spark: org.apache.spark.sql.SparkSession): Dataset[AliasPair] = {
    import spark.implicits._
    spark.emptyDataset[AliasPair]
  }

  /** Char-3-gram shingles of a name (matching the hash-embedder's feature
    * space so LSH blocking and cosine re-scoring agree), as a native
    * higher-order expression over an `s0` sentinel-wrapped column — stays
    * inside WholeStageCodegen instead of deserializing every name through
    * a Scala UDF closure. */
  private def shinglesExpr: org.apache.spark.sql.Column =
    expr(
      """CASE WHEN length(s0) < 3 THEN array(s0)
         ELSE array_distinct(transform(sequence(0, length(s0) - 3),
                                       i -> substring(s0, i + 1, 3))) END""")

  /** THE shingle pre-image: every signature/Jaccard consumer — batch
    * lshAliases, the stored band index, the incremental re-score — MUST
    * wrap names identically, or blocking diverges between modes for
    * short/boundary names (begin/end sentinels weight a name's edges
    * into distinct shingles). Single definition = parity by
    * construction. */
  private[kg] def sentinelWrapped(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("\u0001"), lower(c), lit("\u0002"))

  /** Band signatures of a set of names: one row per (name, band) with
    * the deterministic band minhash — the rows of the STORED
    * `lsh_band_index` table. A pure function of the name, so the index
    * is computed once per name ever and merged incrementally; probing it
    * replaces recomputing the whole universe's signatures every batch. */
  def bandSignatures(names: DataFrame, // (name)
      numBands: Int = 8): DataFrame =
    names.select(col("name"))
      .withColumn("s0", sentinelWrapped(col("name")))
      .withColumn("sh", shinglesExpr)
      .select(col("name"), col("sh"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("mh",
        expr("array_min(transform(sh, g -> md5(concat(cast(band AS string), '|', g))))"))
      .select(col("name"), col("band"), col("mh"))

  /** Incremental J1: link a batch's NEW mentions against the cumulative
    * graph by PROBING the stored band index instead of re-signing and
    * self-joining the whole universe (the reference's shape — each
    * triplet queries the cumulative vector index, `triplets.py:252-343`).
    *
    *  - new×old candidates: batch signatures equi-joined against the
    *    stored index on the band key — the batch side is broadcast
    *    (batch-bounded) unless `broadcastSmall = false`, so the stored
    *    index is scanned map-only, never shuffled. The band index signs
    *    EVERY mention ever processed (subjects, predicates AND objects),
    *    so the old-side universe is the full cumulative mention set — a
    *    prior-batch name that only ever appeared as a predicate links
    *    exactly like batch mode would link it;
    *  - new×new candidates: the batch's own signature self-join;
    *  - the band-bucket cap counts stored + batch members per bucket on
    *    BOTH legs — a bucket degenerate in the cumulative universe drops
    *    its batch-internal pairs too, matching what one-shot linking
    *    over the union would do;
    *  - Jaccard + exact-cosine re-score + top-`linkTopK` per probe run
    *    on the union, identical to batch mode. Candidate vectors are a
    *    pure function of the name (deterministic hash embedder), so they
    *    are computed INLINE per candidate pair — the old side needs no
    *    vertex/vector table I/O at all; per-batch linking reads the band
    *    index and nothing else of the store.
    *
    * Accumulation semantics (documented drift from one-shot linking):
    * the per-probe top-K caps THIS BATCH's candidates; a name processed
    * across many batches can accumulate more than K alias partners in
    * the cumulative table — the same accumulation the reference's
    * per-triplet top-10 MERGEs produce. */
  def lshAliasesIncremental(
      newNames: DataFrame, // (name) — the batch's distinct mentions
      storedSigs: DataFrame, // (name, band, mh) — lsh_band_index
      embedder: Embedder,
      threshold: Double,
      linkTopK: Int,
      jaccardDistanceCap: Double = 0.7,
      numBands: Int = 8,
      maxBucket: Int = 256,
      broadcastSmall: Boolean = true): Dataset[AliasPair] = {
    val spark = newNames.sparkSession
    import spark.implicits._
    def small(df: DataFrame): DataFrame =
      if (broadcastSmall) broadcast(df) else df

    val newSigs = bandSignatures(newNames.select($"name"), numBands)
      .localCheckpoint() // consumed by the cap count AND both legs
    // only the buckets the BATCH probes matter — restrict the stored
    // index to them first (map-only semi-join against the broadcast
    // batch keys), so the cap count and the candidate join both touch
    // O(batch-probed members), never the cumulative index's key space
    val probedKeys = newSigs.select($"band", $"mh").distinct()
    val storedProbed = storedSigs.select($"name", $"band", $"mh")
      .join(small(probedKeys), Seq("band", "mh"), "left_semi")
      .localCheckpoint() // consumed by the cap count AND the probe join
    // deterministic bucket cap over the union population (stored ∪ new,
    // (name, band) deduped — a re-ingested name sits in both sides)
    val badBuckets = storedProbed
      .unionByName(newSigs.select($"name", $"band", $"mh"))
      .dropDuplicates("name", "band")
      .groupBy($"band", $"mh").agg(count(lit(1)).as("bsz"))
      .filter($"bsz" > maxBucket)
      .select($"band", $"mh") // degenerate buckets only — tiny
      .localCheckpoint() // consumed by both legs' anti-joins
    def dropBad(df: DataFrame, side: String): DataFrame =
      df.join(small(badBuckets.as("k")),
        col(s"$side.band") === col("k.band") && col(s"$side.mh") === col("k.mh"),
        "left_anti")
    // new×old candidate names: probe the (pre-restricted) stored rows
    // with the batch's signatures — map-only when the batch side
    // broadcasts; degenerate buckets dropped whole, as in batch mode
    val nxo = dropBad(storedProbed.as("o")
      .join(small(newSigs.as("n")),
        col("o.band") === col("n.band") && col("o.mh") === col("n.mh") &&
          col("o.name") =!= col("n.name")), "o")
      .select(least(col("o.name"), col("n.name")).as("a"),
        greatest(col("o.name"), col("n.name")).as("b"))
    // new×new candidates from the SAME signature set under the SAME
    // union-counted cap: a bucket whose cumulative membership is
    // degenerate must drop its batch-internal pairs too — counting only
    // the batch's members (as delegating to batch-mode lshAliases over
    // the batch alone would) diverges from one-shot linking over the
    // union on exactly the adversarial buckets the cap exists for
    val nxn = dropBad(newSigs.as("x")
      .join(newSigs.as("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh") &&
          col("x.name") < col("y.name")), "x")
      .select(col("x.name").as("a"), col("y.name").as("b"))
    val cand = nxo.unionByName(nxn).dropDuplicates("a", "b")
    // vectors are a PURE function of the name — recompute inline for the
    // O(candidates) pairs instead of joining any stored vector table
    val emb = embedder
    val withVecs = cand
      .select($"a".as("_1"), $"b".as("_2")).as[(String, String)]
      .mapPartitions { it =>
        it.map { case (a, b) => (a, b, emb.embedPassage(a), emb.embedPassage(b)) }
      }
      .toDF("a", "b", "va", "vb")
    def withShingles(df: DataFrame, key: String, sh: String): DataFrame =
      df.withColumn("s0", sentinelWrapped(col(key)))
        .withColumn(sh, shinglesExpr)
        .drop("s0")
    val scored = withShingles(withShingles(withVecs, "a", "sha"), "b", "shb")
      .withColumn("inter", size(array_intersect($"sha", $"shb")).cast("double"))
      .withColumn("jd",
        lit(1.0) - $"inter" /
          (size($"sha").cast("double") + size($"shb").cast("double") - $"inter"))
      .filter($"jd" <= jaccardDistanceCap)
      .withColumn("score", graft.functions.VectorFunctions.dot_product($"va", $"vb"))
      .filter($"score" >= threshold)
      .select($"a", $"b", $"score")
    // top-K per probe over this batch's candidates, both directions.
    // Symmetrize with a per-row explode, NOT scored ∪ scored.swap: the
    // union form executes the whole candidate-join/re-score subtree a
    // second time for the swapped branch (Catalyst does not dedupe common
    // subtrees across union legs) — measured as a full re-run of the
    // linking join per call (guide §2.4 / r8). One exploded pass emits
    // the identical symmetric row set.
    val sym = symmetrized(scored)
    val w = Window.partitionBy($"a").orderBy($"score".desc, $"b")
    sym.withColumn("rn", row_number().over(w))
      .filter($"rn" <= linkTopK)
      .select($"a", $"b", $"score")
      .as[AliasPair]
  }

  /** (a, b, score) → both directions of every row in ONE map-side pass
    * (replaces the self-union that re-executed the upstream subtree). */
  private def symmetrized(scored: DataFrame): DataFrame =
    scored
      .select(explode(array(
        struct(col("a"), col("b"), col("score")),
        struct(col("b").as("a"), col("a").as("b"), col("score")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.score").as("score"))

  /** J1: deterministic MinHash banding + exact Jaccard filter +
    * exact-cosine re-score ≥ threshold, top-`linkTopK` per probe.
    * Returns symmetric alias pairs (a ≠ b).
    *
    * Band minhash b = min over shingles g of md5("b|" + g) — a pure
    * function of the name (no fitted model, no RNG), so the blocking is
    * reproducible by the DuckDB/straight-line oracle, and the whole stage
    * is native Catalyst expressions (no UDFs anywhere in the plan). */
  def lshAliases(
      mentionVecs: DataFrame, // (name, vec: Array[Float])
      threshold: Double,
      linkTopK: Int,
      jaccardDistanceCap: Double = 0.7,
      numBands: Int = 8,
      maxBucket: Int = 256): Dataset[AliasPair] = {
    val spark = mentionVecs.sparkSession
    import spark.implicits._

    val withShingles = mentionVecs
      .withColumn("s0", sentinelWrapped($"name"))
      .withColumn("sh", shinglesExpr)
      .drop("s0")

    // band signatures: one row per (name, band) with the band minhash —
    // candidates come from signature equality (blocked equi-join on the
    // band key), NEVER from an all-pairs scan; scale-safe at 100 TB
    val sigs = withShingles
      .select($"name", $"vec", $"sh",
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("mh",
        expr("array_min(transform(sh, g -> md5(concat(cast(band AS string), '|', g))))"))

    // deterministic bucket-size cap: a pathological shingle distribution
    // (thousands of near-identical names sharing a band minhash) would
    // make the band self-join quadratic in the bucket — AQE skew-split
    // only mitigates the straggler task, not the O(n²) pair count.
    // Buckets over `maxBucket` members are DROPPED whole (the production
    // MinHash-dedup convention: a bucket that big is a degenerate,
    // non-discriminative band), bounding candidate pairs at
    // buckets · maxBucket² per band. The count is a window over the SAME
    // (band, mh) clustering the self-join below shuffles on — one linear
    // pass, no second computation of the embed/shingle subtree and no
    // extra exchange (a groupBy+anti-join here would re-execute the
    // per-mention embedding chain for the build side).
    val pruned = sigs
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy($"band", $"mh")))
      .filter($"bsz" <= maxBucket)
      .drop("bsz")

    val pairs = pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh") &&
          col("x.name") < col("y.name"))
      .select(
        col("x.name").as("a"), col("x.vec").as("va"), col("x.sh").as("sha"),
        col("y.name").as("b"), col("y.vec").as("vb"), col("y.sh").as("shb"))
      .dropDuplicates("a", "b")

    // EXACT shingle-Jaccard distance filter (the MinHashLSH cap semantics,
    // computed exactly on the distinct shingle arrays), then EXACT cosine
    // re-score with the native codegen'd dot_product (unit vectors →
    // dot == cosine); both stay inside WholeStageCodegen
    val scored = pairs
      .withColumn("inter", size(array_intersect($"sha", $"shb")).cast("double"))
      .withColumn("jd",
        lit(1.0) - $"inter" /
          (size($"sha").cast("double") + size($"shb").cast("double") - $"inter"))
      .filter($"jd" <= jaccardDistanceCap)
      .withColumn("score", graft.functions.VectorFunctions.dot_product($"va", $"vb"))
      .filter($"score" >= threshold)
      .select($"a", $"b", $"score")

    // top-K per probe, both directions (reference caps neighbors per
    // probe) — exploded symmetrization: the previous scored ∪ scored.swap
    // re-executed the whole candidate-join/re-score subtree for the
    // swapped leg (no common-subtree dedup across union branches); the
    // explode emits the identical row set in one pass (guide §2.4, r8)
    val sym = symmetrized(scored)
    val w = Window.partitionBy($"a").orderBy($"score".desc, $"b")
    sym.withColumn("rn", row_number().over(w))
      .filter($"rn" <= linkTopK)
      .select($"a", $"b", $"score")
      .as[AliasPair]
  }
}
