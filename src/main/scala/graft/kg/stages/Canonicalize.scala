package graft.kg.stages

import graft.kg._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Canonicalization of aliased mentions via connected components
  * (SURVEY.md §2.6 J4).
  *
  * The reference's J4 "canonicalization" is a per-triplet cross-product of
  * alias sets (`triplets.py:371-398`). The rebuild replaces it with a
  * proper global merge: alias pairs from [[Link]] form an undirected
  * graph; each component's canonical name is its minimum (lexicographic).
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR on DataFrames (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
  * O(log d) rounds, supernode-safe: large-star splits high-degree nodes'
  * neighborhoods instead of funneling them through one reducer). Each
  * round `localCheckpoint`s to truncate lineage (SURVEY.md §7.6.5).
  * Alias components here are small (top-10-per-probe cap bounds degree),
  * but the algorithm is chosen for the 10^12-file regime where hub
  * entities produce components with millions of members.
  */
object Canonicalize {

  /** One large-star round: for every node u (over symmetric edges),
    * m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) with v > u. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy(col("u"))
      .agg(collect_set(col("v")).as("ns"))
      .select(col("u"), least(col("u"), array_min(col("ns"))).as("m"), col("ns"))
      .select(explode(expr("filter(ns, x -> x > u)")).as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: orient edges parent-ward (u = max, v = min);
    * for every u, m = min(smaller-neighbors ∪ {u}); emit (v, m) for each
    * smaller neighbor v plus (u, m). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
    oriented.groupBy(col("u"))
      .agg(collect_set(col("v")).as("ns"))
      .select(col("u"), array_min(col("ns")).as("m"), col("ns"))
      .select(col("u"), col("m"),
        explode(concat(col("ns"), array(col("u")))).as("n"))
      .select(col("n").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Driver-side union-find over an edge list: every non-minimum member
    * of each component mapped to the component minimum. Names order by
    * their UTF-8 bytes, as Spark's `least`/`min` in the distributed star
    * loop do, so both paths pick the same canonical name. */
  private[kg] def solveLocal(edges: Seq[(String, String)]): Seq[CanonicalMapping] = {
    val parent = mutable.Map.empty[String, String]
    // iterative find (walk to root, second pass compresses): union-by-min
    // can build O(n) parent chains on adversarial edge orders (e.g. long
    // near-duplicate version chains), which would blow the JVM stack in
    // a recursive find at the 2^20-edge threshold
    def find(x: String): String = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val order = graft.kg.DriverSide.utf8Ordering
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (order.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.groupBy(find).toSeq
      .flatMap { case (_, ns) =>
        val m = ns.min(order)
        ns.collect { case n if n != m => CanonicalMapping(n, m) }
      }
  }

  /** name → canonicalName for every name appearing in `aliases`
    * (non-identity mappings only appear for linked names; [[canonicalMap]]
    * adds the identity rows).
    *
    * Size-adaptive: an alias graph at or under `localSolveThreshold`
    * edges is solved by driver-side union-find in ONE collect — the
    * iterative large-star/small-star loop costs O(iterations)
    * driver-synchronous job rounds, which is pure fixed overhead when the
    * graph is small (alias clusters are rare relative to mentions; the
    * round-1 measurement showed ~40 s/run of star-loop serial tail on a
    * SMALL alias graph). Above the threshold — the hub-entity regime the
    * star algorithm exists for — the distributed loop runs unchanged.
    *
    * Threshold calibration (round-3 measurement): the 1M-doc bench corpus
    * produces only ~700 alias edges, so the local solve there is
    * sub-millisecond — the threshold exists purely to bound the DRIVER
    * cost when the alias graph is genuinely large. 2^17 edges caps the
    * probe collect at ~tens of MB of string pairs and the union-find at
    * well under a second; anything bigger runs the distributed star loop,
    * where the work shrinks with cores instead of serializing on the
    * driver. */
  def connectedComponents(
      aliases: Dataset[AliasPair],
      maxIterations: Int = 30,
      localSolveThreshold: Long = 1L << 17): Dataset[CanonicalMapping] = {
    val spark = aliases.sparkSession
    import spark.implicits._

    // per-iteration lineage barrier: localCheckpoint (executor-memory) by
    // default; if the session has a reliable checkpoint dir configured
    // (spark.sparkContext.setCheckpointDir), use a storage-backed
    // checkpoint instead — at real cluster scale an executor loss would
    // otherwise force recomputing the whole iteration chain. Superseded
    // iterations' checkpoint files are deleted as the loop advances
    // (Spark only auto-cleans them with referenceTracking.cleanCheckpoints,
    // which is off by default — without this, every run would leave
    // O(iterations) full edge-set copies on storage).
    import org.apache.hadoop.fs.Path
    val ckptBase = spark.sparkContext.getCheckpointDir.map(new Path(_))
    val reliable = ckptBase.isDefined
    def ckptFs = ckptBase.get.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the rdd-N dirs a barrier writes are identified by diffing the
    // session checkpoint dir around the (eager) checkpoint call — the
    // Dataset API exposes no handle to the internal checkpointed RDD.
    // Assumes no concurrent checkpoints in this session (the CC loop is
    // driver-serial).
    def children(): Set[String] = ckptBase match {
      case Some(p) if ckptFs.exists(p) =>
        ckptFs.listStatus(p).map(_.getPath.getName).toSet
      case _ => Set.empty
    }
    def barrierTracked(df: DataFrame): (DataFrame, Set[String]) =
      if (!reliable) (df.localCheckpoint(), Set.empty)
      else {
        val before = children()
        val out = df.checkpoint() // eager: files exist on return
        (out, children() -- before)
      }
    def dropCheckpointDirs(dirs: Set[String]): Unit =
      dirs.foreach(d => ckptFs.delete(new Path(ckptBase.get, d), true))

    // a local input (the incremental link's collected pairs) is solved
    // on the driver as it stands: no persist, no probe job
    if (graft.kg.DriverSide.isLocal(aliases)) {
      val pairs = aliases.collect().collect { case p if p.a != p.b => (p.a, p.b) }
      if (pairs.length <= localSolveThreshold)
        return spark.createDataset(solveLocal(pairs.toSeq))
    }

    val distinctEdges = aliases.select(col("a").as("u"), col("b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      // persisted across the size probe AND the first barrier: the probe's
      // limit+collect executes the full upstream linking-join DAG (the most
      // expensive stage of the lsh pipeline) — without the persist, the
      // distributed path's first checkpoint would re-execute it from
      // scratch, paying the linking join twice exactly in the regime (big
      // alias graph) where it hurts most. Caching materializes whole
      // partitions, so partitions the probe touched are reused verbatim.
      .persist(StorageLevel.MEMORY_AND_DISK)

    // cheap size probe: take threshold+1 rows; under the cap → local solve
    val head = distinctEdges.limit((localSolveThreshold + 1).toInt).collect()
    if (head.length <= localSolveThreshold) {
      distinctEdges.unpersist(blocking = false) // fully consumed by the probe
      return spark.createDataset(
        solveLocal(head.toSeq.map(r => (r.getString(0), r.getString(1)))))
    }

    var (edges, edgesCkpt) = barrierTracked(distinctEdges)
    // the first barrier materialized a checkpoint copy — the cache is dead
    distinctEdges.unpersist(blocking = false)

    // cheap order-independent edge-set signature: (count, xor of row
    // hashes) — a single-pass partial-aggregable scan of the just-
    // checkpointed set (no shuffle, no join). bit_xor instead of sum:
    // overflow-free under ANSI mode, and the sets are distinct so xor
    // never self-cancels a duplicate. Used as a convergence FAST-PATH:
    // unequal signatures prove non-convergence outright; equal signatures
    // (possible 2^-64 collision) are CONFIRMED by the exact symmetric-
    // difference scan — which therefore runs once per CC solve (at the
    // fixpoint) instead of once per iteration.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edgesSig = signature(edges)
    var converged = edgesSig._1 == 0L
    var iter = 0
    while (!converged && iter < maxIterations) {
      // TWO large/small-star rounds per lineage barrier: the star rounds
      // are cheap wide transforms, the barrier (checkpoint write + driver
      // round trip) is the per-iteration fixed cost — unrolling halves the
      // barrier count; at the fixpoint an extra round is the identity, so
      // overshooting by one round never changes the result
      val (next, nextCkpt) =
        barrierTracked(smallStar(largeStar(smallStar(largeStar(edges)))))
      val nextSig = signature(next)
      converged = nextSig == edgesSig &&
        next.exceptAll(edges).union(edges.exceptAll(next)).isEmpty
      dropCheckpointDirs(edgesCkpt) // `next` is materialized; prior copy dead
      edges = next
      edgesCkpt = nextCkpt
      edgesSig = nextSig
      iter += 1
    }
    // the FINAL iteration's checkpoint stays: `edges` feeds the lazy
    // canonical-name aggregation below
    // at fixpoint every edge is (node, componentMin)
    edges.select(col("u").as("name"), col("v").as("canonicalName"))
      .groupBy(col("name")).agg(min(col("canonicalName")).as("canonicalName"))
      .as[CanonicalMapping]
  }

  /** Result of an incremental CC solve: the new canonical map (all
    * non-identity rows — the untouched rows a lazy frame over the old
    * map, the touched components' rows local), the names whose mapping
    * changed vs the old map, and (for observability/tests) the seed edge
    * set the solve actually ran over — O(batch + touched-component
    * members), not O(history). The local fields hold the same touched
    * state for callers that finish the work on the driver: `touched` maps
    * every seed node to its (old, new) canonical name, and `touchedCanon`
    * lists the old canonical names the untouched rows are cut by. */
  final case class IncrementalCC(
      newMap: DataFrame, // (name, canonicalName), non-identity
      changed: DataFrame, // (name)
      seed: Dataset[AliasPair],
      changedNames: Seq[String],
      touched: Map[String, (String, String)],
      touchedCanon: Seq[String])

  /** Incremental connected components over a growing alias graph — the
    * per-batch form of [[connectedComponents]] (reference anchor: the
    * reference links each triplet against cumulative graph state
    * incrementally, `triplets.py:252-343`, never a global recompute).
    *
    * `oldMap` is the CC output over the cumulative alias set as of the
    * previous batch (non-identity rows only); `newPairs` are the batch's
    * alias pairs. A canonical map is a SPANNING structure of its
    * components — every member reaches the component min through one star
    * edge — so CC over {oldMap-as-edges ∪ newPairs} has exactly the
    * connectivity (and mins) of CC over the full cumulative pair set, and
    * only components TOUCHED by a new pair can change. The solve
    * therefore runs over O(batch + touched-component members) edges
    * instead of O(alias history), and the O(history) full-outer map diff
    * is unnecessary: names outside the touched components are copied
    * verbatim, hence unchanged by construction.
    *
    *  1. touched canonicals = old canonical of every name in `newPairs`
    *     (identity for names the old map doesn't hold);
    *  2. seed = star edges of the touched components ∪ `newPairs`;
    *  3. newMap = CC(seed) ∪ untouched old rows; changed = diff of the
    *     touched rows vs CC(seed) — both O(touched), small.
    *
    * Every set but the untouched rows is batch-sized, so it is collected:
    * the pairs, then the old rows of the batch's names and of their
    * components in one or two filtered scans of the old map (literal
    * lists — no join, hence no broadcast), then the seed is solved with
    * [[connectedComponents]]' size-adaptive split (a driver union-find up
    * to its threshold) and the diff is taken in plain Scala. */
  def incrementalComponents(
      oldMap: DataFrame, // (name, canonicalName), non-identity rows
      newPairs: Dataset[AliasPair]): IncrementalCC = {
    val spark = oldMap.sparkSession
    import spark.implicits._
    val old = oldMap.select(col("name"), col("canonicalName"))
    def rowsWhere(c: org.apache.spark.sql.Column): Seq[(String, String)] =
      old.filter(c).as[(String, String)].collect().toSeq
    val pairs = newPairs.collect().collect { case p if p.a != p.b => (p.a, p.b) }.toSeq
    val batchNames = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    // old rows of the batch's names, and of components whose canonical is
    // a batch name; a second scan only for the other touched canonicals
    val near =
      if (batchNames.isEmpty) Nil
      else rowsWhere(col("name").isin(batchNames: _*) ||
        col("canonicalName").isin(batchNames: _*))
    val nearOld = near.toMap
    val touchedCanon = batchNames.map(n => nearOld.getOrElse(n, n)).distinct
    val farCanon = touchedCanon.filterNot(batchNames.toSet)
    val touchedRows = (near ++
      (if (farCanon.isEmpty) Nil else rowsWhere(col("canonicalName").isin(farCanon: _*))))
      .distinct
    val seedPairs = touchedRows.map { case (n, c) => (c, n) } ++ pairs
    val seed = seedPairs.map { case (a, b) => AliasPair(a, b, 1.0) }
    val solved = connectedComponents(spark.createDataset(seed)).collect()
      .map(m => m.name -> m.canonicalName).toMap
    val oldOf = touchedRows.toMap
    val touched = seedPairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(n => n -> (oldOf.getOrElse(n, n), solved.getOrElse(n, n))).toMap
    val changedNames = touched.collect { case (n, (o, c)) if o != c => n }.toSeq
    val untouched = old.filter(!col("canonicalName").isin(touchedCanon: _*))
    val newMap = untouched.unionByName(solved.toSeq.toDF("name", "canonicalName"))
    IncrementalCC(newMap, changedNames.toDF("name"), spark.createDataset(seed),
      changedNames, touched, touchedCanon)
  }

  /** Full canonical map over a mention set: identity for unlinked names.
    * The CC output holds only the LINKED names (a small subset of the
    * mention vocabulary — alias clusters are rare relative to distinct
    * mentions), so by default it is broadcast: the plan is a single-pass
    * BroadcastHashJoin over the mention set instead of a sort-merge join
    * with two shuffles (seen in the kg_canonical_lsh plan audit).
    * `broadcastCC = false` falls back to a planner-chosen shuffle join
    * for the regime where linked names themselves outgrow broadcast
    * (same regime as [[Materialize.canonicalEdges]]'s salted join). */
  def canonicalMap(
      mentionNames: DataFrame, // (name)
      aliases: Dataset[AliasPair],
      broadcastCC: Boolean = true): Dataset[CanonicalMapping] =
    identityComplete(mentionNames, connectedComponents(aliases), broadcastCC)

  /** [[canonicalMap]] over an already-solved CC output `cc`. */
  private[kg] def identityComplete(
      mentionNames: DataFrame, // (name)
      cc: Dataset[CanonicalMapping],
      broadcastCC: Boolean): Dataset[CanonicalMapping] = {
    val spark = mentionNames.sparkSession
    import spark.implicits._
    val ccSide = if (broadcastCC) broadcast(cc.toDF()) else cc.toDF()
    mentionNames.select(col("name")).distinct()
      .join(ccSide, Seq("name"), "left")
      .select(col("name"), coalesce(col("canonicalName"), col("name")).as("canonicalName"))
      .as[CanonicalMapping]
  }
}
