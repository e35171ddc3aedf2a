package graft.kg.retrieve

import graft.functions.VectorFunctions.dot_product
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LSH sign-sketch layout for the chunk-embedding table — the ANN scale
  * path of O1 vector search.
  *
  * The reference's vector search is Qdrant HNSW (approximate) over chunk
  * embeddings (`retrieval.py:107-161`, `utils/common.py:100-132`);
  * [[Retrieval.vectorSearch]] reproduces the semantics as an EXACT scan
  * (the correctness baseline), which reads every chunk vector per query —
  * untenable at 10^12 chunks. This index is the scale path: random-
  * hyperplane sign sketches (Charikar'02, the same md5-derived
  * deterministic planes as the oracled q31 ANN operator,
  * `graft/ops/SimilarityOps.scala:26`) laid out as PARTITION directories
  * `l=<table>/vbucket=<bucket>`, so a query reads L·(1+probes) of the
  * L·2^K partitions — bounded, scan-free lookup with exact re-scoring.
  *
  * L tables × K bits: a near neighbor collides with the query in ANY of
  * the L tables; multi-probing (flipping one sketch bit — the buckets a
  * borderline plane projection lands in) trades read amplification for
  * recall without growing the stored index.
  *
  * MEDIAN-SPLIT THRESHOLDS (round-4 measurement): with the raw
  * sign(dot(v, plane)) rule the hash-embedding vectors concentrate in a
  * few hot buckets — the AnnSweep study measured ~75% of all rows
  * living in the 11% of directories a default query probes, so the
  * directory pruning was real but the ROW pruning was not. Each plane's
  * cut is therefore shifted to the DATASET MEDIAN of its projections
  * ([[computeThresholds]]): every bit then splits the indexed set 50/50,
  * bucket occupancy flattens toward 1/2^K per table, and probed rows
  * drop toward (probed dirs / total dirs) of the index. The thresholds
  * are a deterministic pure function of the indexed vectors, stored once
  * in the `chunk_vec_meta` sidecar at index build and FROZEN for later
  * incremental merges (re-thresholding would invalidate the already-laid
  * partitions; a full index rebuild recomputes them).
  */
object VectorIndex {
  /** L hash tables: each chunk is stored once per table (L× storage —
    * kept at 4; raising L buys recall at the index's storage cost). */
  val NumTables = 4
  /** K sign bits per table → 2^K = 256 buckets per table. K=8 over K=6
    * (AnnSweep, BENCH/BASELINE.md): finer buckets cut the candidate-row
    * fraction ~30% at equal probe budget; the query-directed probing
    * buys the recall back (0.875 mean @ 0.57× the exact scan's rows at
    * the default P=32, vs 0.93 @ 0.81× for K=6/P=12). */
  val BitsPerTable = 8
  /** Total plane count of the default layout. */
  val NumPlanes: Int = NumTables * BitsPerTable

  /** ±1 hyperplane weights for plane `pid`, md5-derived per dimension —
    * the deterministic, engine-portable spec shared with q31
    * (`SimilarityOps.planeWeights`): weight = +1 iff the first hex digit
    * of md5("<pid>_<i>") is odd. Float (not double) to match the stored
    * embedding element type, keeping the native dot_product codegen on
    * the float fast path. */
  def planeWeights(pid: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val firstByte = md.digest(s"${pid}_$i".getBytes("UTF-8"))(0)
      if ((((firstByte >> 4) & 0xf) % 2) == 1) 1.0f else -1.0f
    }
  }

  /** All-zero thresholds — the raw-sign cut, the default of
    * [[queryBuckets]]. */
  def zeroThresholds: Array[Double] = Array.fill(NumPlanes)(0.0)

  /** Decode the `chunk_vec_meta` sidecar: the per-plane thresholds in
    * pid order, or None when the store has no sidecar or an empty one
    * (`GraphRag.reset` truncates it). The ONE reader of the sidecar
    * schema — engine, bench and tests all go through it so a schema
    * change cannot silently diverge between them. */
  def readThresholds(spark: org.apache.spark.sql.SparkSession,
      io: graft.kg.pipeline.GraphTableIO): Option[Array[Double]] =
    if (!io.exists(spark, "chunk_vec_meta")) None
    else Some(io.read(spark, "chunk_vec_meta").collect()
      .sortBy(_.getAs[Int]("pid")).map(_.getAs[Double]("threshold"))).filter(_.nonEmpty)

  /** Per-plane dataset-median projection thresholds, in ONE aggregation
    * pass over the embeddings (24 exact-percentile aggs on the projection
    * expressions — at 10^12 rows the production form computes them on a
    * uniform sample, which preserves the balance property; exactness here
    * keeps the independent oracle reimplementable to the bit).
    * Spark's exact `percentile(x, 0.5)` interpolates at position
    * 0.5·(n−1) of the sorted projections — [[graft.kg.oracle.KgOracle]]
    * mirrors that formula straight-line. Empty input → zeros. */
  def computeThresholds(embeddings: DataFrame, dim: Int): Array[Double] = {
    val aggs = (0 until NumPlanes).map { pid =>
      expr(s"percentile(__proj_$pid, 0.5)").as(s"t_$pid")
    }
    val projected = (0 until NumPlanes).foldLeft(embeddings) { (df, pid) =>
      df.withColumn(s"__proj_$pid",
        dot_product(col("vec"), typedLit(planeWeights(pid, dim))))
    }
    val row = projected.agg(aggs.head, aggs.tail: _*).head()
    Array.tabulate(NumPlanes)(i => if (row.isNullAt(i)) 0.0 else row.getDouble(i))
  }

  /** Threshold-staleness policy (the medians are FROZEN at first build):
    * a later batch from a SHIFTED embedding distribution lands
    * lopsidedly against the frozen cuts, re-skewing bucket occupancy and
    * silently eroding the index's row-pruning win. [[occupancySkew]]
    * measures, in ONE partial-aggregable pass over a batch, each plane's
    * positive-side fraction under the frozen thresholds — 0.5 per plane
    * by construction for the distribution the medians were fit on.
    * Ingest triggers the wholesale rebuild (fresh medians over the
    * cumulative embeddings) when a statistically meaningful batch
    * (≥ [[StaleMinRows]] rows — below that the probe is noise and the
    * batch is appended as-is) exceeds [[StaleSkewBound]] on any plane.
    * Sampling fluctuation at the minimum batch is ~1/√512 ≈ 0.04, an
    * order of magnitude under the bound — rebuilds fire on genuine
    * shifts, not noise. */
  val StaleSkewBound = 0.2
  val StaleMinRows = 512L

  /** Max over planes of |positive-side fraction − 0.5| of `embeddings`
    * under `thresholds`; None when the frame holds fewer than `minRows`
    * rows (too noisy to act on). */
  def occupancySkew(embeddings: DataFrame, dim: Int,
      thresholds: Array[Double], minRows: Long = StaleMinRows): Option[Double] =
    layoutSkew(layout(embeddings, dim, thresholds), minRows)

  /** [[occupancySkew]] read off a batch's [[layout]] rows: bit p of a
    * row's `vbucket` in table l IS plane l·K+p's positive-side test, so
    * one map-only pass counting rows per (l, vbucket) yields every
    * plane's fraction — the ingest computes the probe over the same rows
    * it then appends. */
  def layoutSkew(layoutRows: DataFrame, minRows: Long = StaleMinRows): Option[Double] = {
    val counts = layoutRows.select(col("l"), col("vbucket")).rdd.mapPartitions { it =>
      val m = scala.collection.mutable.Map.empty[(Int, Int), Long]
      it.foreach(r => m((r.getInt(0), r.getInt(1))) = m.getOrElse((r.getInt(0), r.getInt(1)), 0L) + 1)
      m.iterator
    }.collect()
    val n = counts.collect { case ((0, _), c) => c }.sum
    if (n < minRows) None
    else Some((0 until NumPlanes).map { pid =>
      val (l, p) = (pid / BitsPerTable, pid % BitsPerTable)
      val ones = counts.collect { case ((`l`, vb), c) if (vb & (1 << p)) != 0 => c }.sum
      math.abs(ones.toDouble / n.toDouble - 0.5)
    }.max)
  }

  /** Sign-sketch bucket of `vCol` for hash table `table`: bit p set iff
    * dot(v, plane_{table·K+p}) > threshold_{table·K+p}. The plane weights
    * and thresholds are plan-time literals; the projection is the native
    * codegen'd dot_product — computed in one narrow pass, no shuffle. */
  def bucketExpr(vCol: Column, dim: Int, table: Int,
      thresholds: Array[Double]): Column =
    (0 until BitsPerTable).map { p =>
      val pid = table * BitsPerTable + p
      when(dot_product(vCol, typedLit(planeWeights(pid, dim))) > thresholds(pid),
        lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Index rows for an embeddings frame `(chunkId, vec)`: one row per
    * (chunk, table) with its bucket — L× the input, written under
    * `l=<table>/vbucket=<bucket>` partition dirs by the materializer.
    *
    * Deliberately a NumTables-way union, NOT an
    * `explode(array(struct(l, bucket)...))` (r8 measured negative): the
    * exploded form looked like it would evaluate the embeddings subtree
    * once instead of once per table, but in practice the Generate stage
    * over the 32-dot-product generator was catastrophically slower (a
    * 100k-row noop write did not finish its first iteration in minutes
    * vs ~2 s/leg for the union; the 250k-store vec-index merge went
    * 18.7 s → 400+ s before being killed). Each union leg's 8-dot
    * projection stays a plain codegen'd Project. Callers who would pay
    * the N× subtree re-execution on an EXPENSIVE source should hand this
    * function a cheap-to-rescan frame instead (the materializer builds
    * fresh-store indexes from the just-written chunk_embeddings table,
    * not the in-flight embed pipeline — Pipeline r8). */
  def layout(embeddings: DataFrame, dim: Int,
      thresholds: Array[Double]): DataFrame =
    (0 until NumTables).map { l =>
      embeddings.select(col("chunkId"), col("vec"),
        lit(l).as("l"), bucketExpr(col("vec"), dim, l, thresholds).as("vbucket"))
    }.reduce(_ unionByName _)

  /** Probes per table of the default query: chosen from the AnnSweep
    * recall/read table in BENCH/BASELINE.md — 32 of the 256 buckets per
    * table gives mean recall@10 ≈ 0.875 at ~0.57× the rows of the exact
    * full scan on the bench corpus. */
  val DefaultProbes = 32

  /** Driver-side probe plan for a query vector: the (table, bucket)
    * pairs to read — QUERY-DIRECTED multi-probe (Lv et al., VLDB'07):
    * per table, candidate masks are ranked by the summed squared MARGIN
    * of the bits they flip (how close the query's projection sat to each
    * plane's cut — a near-cut bit is the likely one a true neighbor
    * differs in), and the `probesPerTable` cheapest masks are probed.
    * Beats the blind Hamming ball at equal read budget (measured +0.05
    * recall at 7 probes, AnnSweep). `thresholds` must be the SAME array
    * the stored layout was built with (the `chunk_vec_meta` sidecar). */
  def queryBuckets(qv: Array[Float], probesPerTable: Int = DefaultProbes,
      thresholds: Array[Double] = zeroThresholds): Seq[(Int, Int)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    (0 until NumTables).flatMap { l =>
      val margins = Array.tabulate(BitsPerTable) { p =>
        val pid = l * BitsPerTable + p
        dot(qv, planeWeights(pid, qv.length)) - thresholds(pid)
      }
      val base = (0 until BitsPerTable)
        .map(p => if (margins(p) > 0) 1 << p else 0).sum
      // (loss, mask) sort key: the mask tiebreak pins the order against
      // exact margin ties, so the independent oracle ranks identically
      val ranked = (0 until (1 << BitsPerTable)).sortBy { m =>
        ((0 until BitsPerTable)
          .filter(p => (m & (1 << p)) != 0)
          .map(p => margins(p) * margins(p)).sum, m)
      }
      ranked.take(probesPerTable).map(m => (l, base ^ m))
    }
  }
}
