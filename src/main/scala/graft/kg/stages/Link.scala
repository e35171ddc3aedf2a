package graft.kg.stages

import graft.kg._
import graft.kg.embed.Embedder
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

import scala.collection.mutable

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

  /** Max members per LSH band bucket before the bucket is dropped as
    * non-discriminative: bounds the banded join's candidate count
    * deterministically on adversarial near-identical-name corpora. */
  val MaxBucket = 256

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

  /** Distinct lowercased mention names (subjects, predicates and
    * objects): [[mentions]] without the roles, in one shuffle on the
    * name — what embedding and the canonical map consume. */
  def mentionNames(triples: Dataset[Triple]): DataFrame =
    mentionOccurrences(triples).distinct()

  /** One `(name)` row per lowercased subject, predicate and object
    * occurrence, not deduped (the incremental link dedupes on the
    * driver). */
  def mentionOccurrences(triples: Dataset[Triple]): DataFrame =
    triples.select(explode(array(lower(col("subj")), lower(col("pred")),
      lower(col("obj")))).as("name"))

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
    signed(names, numBands).select(col("name"), col("band"), col("mh"))

  /** [[bandSignatures]] rows that also carry the name's shingle set
    * `sh` — the one Spark expression both the signatures and the
    * Jaccard cut are taken from. */
  private def signed(names: DataFrame, numBands: Int): DataFrame =
    names.select(col("name"))
      .withColumn("s0", sentinelWrapped(col("name")))
      .withColumn("sh", shinglesExpr)
      .select(col("name"), col("sh"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("mh",
        expr("array_min(transform(sh, g -> md5(concat(cast(band AS string), '|', g))))"))

  /** Incremental J1: link a batch's NEW mentions against the cumulative
    * graph by PROBING the stored band index instead of re-signing and
    * self-joining the whole universe (the reference's shape — each
    * triplet queries the cumulative vector index, `triplets.py:252-343`).
    * Every set it touches is batch-sized, so it runs on the driver over
    * collected rows in three Spark jobs, and it runs ONCE: the result is a
    * local Dataset, which later consumers (the CC solve, the aliases
    * MERGE, delta compaction) read without re-executing the link.
    *
    *  1. the batch's `(name, band, mh, sh)` rows are collected (the
    *     shingles and minhashes come from the same Spark expressions as
    *     the stored index's rows, so blocking is identical by
    *     construction);
    *  2. the stored index is read in one map-only pass restricted to the
    *     batch's probed keys: per key, its member count and at most
    *     `maxBucket + 1` member names with their shingles — a degenerate
    *     bucket is never collected whole. The band index signs EVERY
    *     mention ever processed (subjects, predicates AND objects), so the
    *     old-side universe is the full cumulative mention set — a
    *     prior-batch name that only ever appeared as a predicate links
    *     exactly like batch mode would link it;
    *  3. on the driver: the bucket cap counts stored + batch members per
    *     key (a bucket degenerate in the cumulative universe drops its
    *     batch-internal pairs too, matching one-shot linking over the
    *     union); candidates are the pairs of a surviving key's members
    *     with at least one batch member (new×old and new×new); the exact
    *     shingle-Jaccard cut then runs before any embedding;
    *  4. each distinct surviving name is embedded ONCE, on the executors
    *     (vectors are a pure function of the name — the old side needs no
    *     vertex/vector table I/O at all);
    *  5. on the driver: the cosine (`DotProduct`'s arithmetic — float
    *     products widened to double, summed left to right — so the scores
    *     are bit-identical to batch mode's), the threshold, and the
    *     symmetrized top-`linkTopK` per probe in Spark's (score desc,
    *     UTF-8 name) order.
    *
    * Band-index safety: both index reads are collected before this
    * returns, so the sliver compaction this batch's own band-index append
    * may run cannot invalidate a lazy plan over replaced files.
    *
    * Accumulation semantics (documented drift from one-shot linking):
    * the per-probe top-K caps THIS BATCH's candidates; a name processed
    * across many batches can accumulate more than K alias partners in
    * the cumulative table — the same accumulation the reference's
    * per-triplet top-10 MERGEs produce. */
  def lshAliasesIncremental(
      newNames: DataFrame, // (name) — the batch's mentions
      storedSigs: DataFrame, // (name, band, mh) — lsh_band_index
      embedder: Embedder,
      threshold: Double,
      linkTopK: Int,
      jaccardDistanceCap: Double = 0.7,
      numBands: Int = 8,
      maxBucket: Int = MaxBucket): Dataset[AliasPair] = {
    val spark = newNames.sparkSession
    import spark.implicits._
    type Key = (Int, String) // (band, mh)
    val shingles = mutable.Map.empty[String, Array[String]]
    val batchKeys = mutable.Map.empty[Key, mutable.Set[String]]
    // per-task dedup first: the input may hold each name many times
    val distinctNames = newNames.select($"name").as[String]
      .mapPartitions(_.toSet.iterator).toDF("name")
    signed(distinctNames, numBands)
      .filter($"mh".isNotNull)
      .select($"name", $"band", $"mh", $"sh").as[(String, Int, String, Array[String])]
      .collect().foreach { case (n, b, m, sh) =>
        shingles(n) = sh
        batchKeys.getOrElseUpdate((b, m), mutable.Set.empty) += n
      }
    if (batchKeys.isEmpty) return spark.emptyDataset[AliasPair]

    // per probed key: stored member count and ≤ maxBucket + 1 members. A
    // key's count is exact (summed over tasks); when it is ≤ maxBucket no
    // task truncated its list, so the merged list is the whole bucket.
    // The index holds one row per (name, band) (appendNew dedupes on that
    // key), so a key's row count is its member count.
    val probed = batchKeys.keySet.toSet
    val keep = maxBucket + 1
    val stored = mutable.Map.empty[Key, (Long, mutable.Map[String, Array[String]])]
    storedSigs.select($"name", $"band", $"mh")
      .filter($"mh".isin(probed.map(_._2).toSeq: _*))
      .withColumn("s0", sentinelWrapped($"name"))
      .withColumn("sh", shinglesExpr)
      .select($"band", $"mh", $"name", $"sh").as[(Int, String, String, Array[String])]
      .mapPartitions { it =>
        val acc = mutable.Map.empty[Key, (Long, List[(String, Array[String])])]
        it.foreach { case (b, m, n, sh) =>
          if (probed.contains((b, m))) {
            val (c, ms) = acc.getOrElse((b, m), (0L, Nil))
            acc((b, m)) = (c + 1, if (c < keep) (n, sh) :: ms else ms)
          }
        }
        acc.iterator.map { case ((b, m), (c, ms)) => (b, m, c, ms) }
      }
      .collect().foreach { case (b, m, c, ms) =>
        val (c0, ms0) = stored.getOrElseUpdate((b, m), (0L, mutable.Map.empty))
        ms.foreach { case (n, sh) => ms0(n) = sh; shingles(n) = sh }
        stored((b, m)) = (c0 + c, ms0)
      }

    // candidates under the union-counted cap, then the exact Jaccard cut
    val utf8 = graft.kg.DriverSide.utf8Ordering
    val cand = mutable.Set.empty[(String, String)]
    batchKeys.foreach { case (k, bn) =>
      val (sc, sn) = stored.getOrElse(k, (0L, mutable.Map.empty[String, Array[String]]))
      val members = sn.keySet ++ bn
      if (sc <= maxBucket && members.size <= maxBucket)
        for (p <- bn; q <- members if p != q)
          cand += (if (utf8.lt(p, q)) (p, q) else (q, p))
    }
    def jaccardDistance(a: Array[String], b: Array[String]): Double = {
      val bs = b.toSet
      val inter = a.count(bs).toDouble // shingle arrays are distinct
      1.0 - inter / (a.length.toDouble + b.length.toDouble - inter)
    }
    val close = cand.toSeq.filter { case (a, b) =>
      jaccardDistance(shingles(a), shingles(b)) <= jaccardDistanceCap
    }
    if (close.isEmpty) return spark.emptyDataset[AliasPair]

    val names = close.flatMap { case (a, b) => Seq(a, b) }.distinct
    val emb = embedder
    val vecs = spark.sparkContext
      .parallelize(names, math.min(names.size, spark.sparkContext.defaultParallelism))
      .map(n => n -> emb.embedPassage(n)).collect().toMap
    val scored = close.flatMap { case (a, b) =>
      val score = Embedder.dot(vecs(a), vecs(b))
      if (score >= threshold) Seq(AliasPair(a, b, score), AliasPair(b, a, score))
      else Nil
    }
    val order: Ordering[AliasPair] = (x, y) => {
      val bySc = SQLOrderingUtil.compareDoubles(y.score, x.score)
      if (bySc != 0) bySc else utf8.compare(x.b, y.b)
    }
    spark.createDataset(
      scored.groupBy(_.a).values.flatMap(_.sorted(order).take(linkTopK)).toSeq)
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
      maxBucket: Int = MaxBucket): Dataset[AliasPair] = {
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
