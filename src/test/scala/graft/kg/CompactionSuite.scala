package graft.kg

import graft.kg.pipeline.{ParquetTableIO, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta (partition-selective) compaction must be observationally
  * identical to the full rebuild — same canonical_edges / vertices /
  * canonical_map state after every batch sequence — while physically
  * rewriting only the partitions the canonical-map diff reaches.
  */
class CompactionSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  private def row(path: String, content: String) =
    CorpusRow("r", path, "c0", "scala", content)

  // three batches: batch 2 links "batch engine" to batch 1's
  // "batchengine"; batch 3 links "parse tree" to batch 1's "parsetree"
  // (a SECOND component merging two batches later) and adds fresh
  // unlinked facts
  private val batches = Seq(
    Seq(row("a.scala", "BatchEngine imports module parseTree. StoreMap uses dataTree."),
      row("b.scala", "ParseTree depends on mergeLib.")),
    Seq(row("c.scala", "Batch engine calls function sortTree.")),
    Seq(row("d.scala", "Parse tree extends class mainLib. IndexSet uses scanList.")))

  /** Ingests `batches` into a fresh store; `beforeLast` gets the store's
    * root just before the last batch. */
  private def ingest(cfg: GraftConfig,
      beforeLast: String => Unit = _ => ()): ParquetTableIO = {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftcompact").toString
    val io = new ParquetTableIO(root)
    batches.zipWithIndex.foreach { case (b, i) =>
      if (i == batches.size - 1) beforeLast(root)
      new Pipeline(cfg).materialize(spark.createDataset(b), io)
    }
    io
  }

  /** Data-file paths of `table`, relative to the table dir. */
  private def dataFiles(root: String, table: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root, table)
    val it = java.nio.file.Files.walk(dir).iterator()
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".parquet")) out += dir.relativize(p).toString
    }
    out.result()
  }

  private def state(io: ParquetTableIO, table: String): Set[String] = {
    val df = io.read(spark, table)
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"cast(`$c` as string)"): _*)
      .collect().map(_.mkString("|")).toSet
  }

  test("delta compaction == full rebuild across merging batches") {
    val base = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val delta = ingest(base) // fullCompaction = false (default)
    val full = ingest(base.copy(fullCompaction = true))
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices", "canonical_map").foreach { t =>
      assert(state(delta, t) == state(full, t),
        s"table $t diverged between delta and full compaction")
      assert(state(delta, t).nonEmpty, s"table $t empty")
    }
    // the merges actually happened: batch-1 rows surface under the merged
    // canonical names in BOTH stores
    Seq(delta, full).foreach { io =>
      val subjs = io.read(spark, "canonical_edges")
        .select("subj").collect().map(_.getString(0)).toSet
      assert(subjs.contains("batch engine") && !subjs.contains("batchengine"))
      assert(subjs.contains("parse tree") && !subjs.contains("parsetree"))
    }
    // the read-time remap view (base edges ∘ current canonical_map at
    // scan time) equals the materialized canonical_edges table
    Seq(delta, full).foreach { io =>
      val rag = new GraphRag(spark, io, base)
      val view = rag.canonicalEdgesView()
      val cols = view.columns.sorted.toSeq
      val viewSet = view.selectExpr(cols.map(c => s"cast(`$c` as string)"): _*)
        .collect().map(_.mkString("|")).toSet
      val tableSet = io.read(spark, "canonical_edges")
        .select("subj", "pred", "obj", "label", "sourceChunkId")
        .selectExpr(cols.map(c => s"cast(`$c` as string)"): _*)
        .collect().map(_.mkString("|")).toSet
      assert(viewSet == tableSet, "read-time canonical view != compacted table")
    }
  }

  test("saturation gate crosses to full rebuild and back without state drift") {
    // The shipped deltaSaturationFraction is 0.75: a batch whose names
    // reach more than 0.75·nb buckets goes to the full rebuild. The gated
    // run sets it to 0.0, so batches 2-3 cross the gate (delta entry
    // point, full plan); 1.0 disables it and keeps the delta path. All
    // three runs must land on identical canonical state — the gate is a
    // plan choice only. nb=8, not a saturating nb=2: only where the delta
    // path is selective does the routing show in the files it keeps.
    val base = GraftConfig(linkMode = "lsh", linkThreshold = 0.7, numBuckets = 8)
    // the routing, from file survival across the last batch: a full
    // rebuild rewrites every canonical_edges file, the delta path keeps
    // the files of the buckets it does not touch
    def ingestTracked(cfg: GraftConfig): (ParquetTableIO, Set[String]) = {
      var root = ""
      var before = Set.empty[String]
      val io = ingest(cfg, r => { root = r; before = dataFiles(r, "canonical_edges") })
      assert(before.nonEmpty, "no canonical_edges before the last batch")
      (io, before intersect dataFiles(root, "canonical_edges"))
    }
    val (gated, gatedKept) = ingestTracked(base.copy(deltaSaturationFraction = 0.0))
    val full = ingest(base.copy(fullCompaction = true))
    val (delta, deltaKept) = ingestTracked(base.copy(deltaSaturationFraction = 1.0)) // gate off
    assert(gatedKept.isEmpty,
      "saturation gate did not fire: the last batch kept canonical_edges files")
    assert(deltaKept.nonEmpty,
      "gate-off run rewrote every canonical_edges file: delta path not taken")
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices",
      "canonical_map").foreach { t =>
      assert(state(gated, t) == state(full, t),
        s"$t diverged between gated-delta and forced-full")
      assert(state(delta, t) == state(full, t),
        s"$t diverged between ungated-delta and forced-full")
      assert(state(gated, t).nonEmpty, s"table $t empty")
    }
  }

  test("delta == full compaction under the salted-join config too") {
    // the 10^12-scale regime: no broadcast of the canonical map anywhere —
    // compactDelta's rebuild must identity-complete the map for the
    // salted path (which drops unmatched rows where broadcast coalesces)
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7,
      saltedCanonicalJoin = true)
    val delta = ingest(cfg)
    val full = ingest(cfg.copy(fullCompaction = true))
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices", "canonical_map").foreach { t =>
      assert(state(delta, t) == state(full, t), s"$t diverged (salted)")
      assert(state(delta, t).nonEmpty)
    }
  }

  test("delta compaction recovers a store with no canonical_map (pre-upgrade)") {
    val s = spark; import s.implicits._
    val lsh = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    // the store before its upgrade from exact to lsh linking: an
    // exact-mode batch lays down base tables only (no canonical_map);
    // the first lsh batch's delta compaction cannot locate stale prior
    // rows without the old map, falls back to ONE full rebuild that
    // seeds canonical_map, and the batch after it goes back to delta
    def exactThenLsh(cfg: GraftConfig): ParquetTableIO = {
      val io = new ParquetTableIO(
        java.nio.file.Files.createTempDirectory("graftnomap").toString)
      new Pipeline(GraftConfig(linkMode = "exact"))
        .materialize(spark.createDataset(batches.head), io)
      assert(!io.exists(spark, "canonical_map"))
      batches.tail.foreach(b =>
        new Pipeline(cfg).materialize(spark.createDataset(b), io))
      io
    }
    val delta = exactThenLsh(lsh)
    val full = exactThenLsh(lsh.copy(fullCompaction = true))
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices", "canonical_map").foreach { t =>
      assert(state(delta, t) == state(full, t),
        s"table $t diverged recovering from a mapless store")
      assert(state(delta, t).nonEmpty, s"table $t empty")
    }
  }

  test("a crashed batch is healed by the next batch's forced full rebuild") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val root = java.nio.file.Files.createTempDirectory("graftcrash").toString
    val io = new ParquetTableIO(root)
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    // simulate a crash DURING batch 2 after the base merges: canonical
    // state destroyed, the in-flight marker still set (materialize only
    // clears it after the compaction completes)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/canonical_edges"), true)
    io.setFlag(spark, "batch_inflight")
    // the retry contract: re-run the failed batch as-is. The marker forces
    // ONE full canonical rebuild from the cumulative base tables — a plain
    // delta pass would only rebuild the buckets this batch's names reach,
    // leaving every other canonical_edges partition missing.
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    assert(!io.flagSet(spark, "batch_inflight"), "marker not cleared")
    new Pipeline(cfg).materialize(spark.createDataset(batches(2)), io)
    val full = ingest(GraftConfig(linkMode = "lsh", linkThreshold = 0.7,
      fullCompaction = true))
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices", "canonical_map").foreach { t =>
      assert(state(io, t) == state(full, t), s"$t diverged after crash recovery")
    }
  }

  test("writer lock: a second concurrent writer fails fast; lease released") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val root = java.nio.file.Files.createTempDirectory("graftlock").toString
    val io = new ParquetTableIO(root)
    // a foreign writer holds the lease
    new java.io.File(root).mkdirs()
    val lock = new java.io.File(root, "_writer.lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    }
    assert(e.getMessage.contains("locked"), s"wrong error: ${e.getMessage}")
    assert(!new java.io.File(root).listFiles().exists(_.getName == "edges"),
      "locked-out writer still wrote tables")
    // lease released → ingest proceeds, and releases its own lease after
    assert(lock.delete())
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    assert(!lock.exists(), "writer did not release its lease")
    assert(io.exists(spark, "edges"))
  }

  test("salted config: zero broadcast exchanges across an incremental batch") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7,
      saltedCanonicalJoin = true)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // with auto-broadcast disabled, any BroadcastExchange in an executed
    // plan can only come from an explicit broadcast() hint — which the
    // salted config promises NOT to issue anywhere on the canonical path
    // (the regime where the linked-name set outgrows executor memory)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val io = new ParquetTableIO(
        java.nio.file.Files.createTempDirectory("graftsaltplan").toString)
      batches.foreach(b =>
        new Pipeline(cfg).materialize(spark.createDataset(b), io))
      // drain the async listener bus: poll until the captured set is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        if (plans.size() == last) stable += 1 else { stable = 0; last = plans.size() }
      }
      assert(plans.size() > 0, "listener captured no executions")
      val offending = plans.toArray(Array.empty[String])
        .filter(_.contains("BroadcastExchange"))
      assert(offending.isEmpty,
        s"broadcast under salted config (first plan):\n${offending.headOption.getOrElse("")}")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("aliases table is pruned to spanning structure and stops growing") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val io = ingest(cfg)
    val mapRows = io.read(spark, "canonical_map").count()
    assert(io.read(spark, "aliases").count() == mapRows,
      "aliases not pruned to one star edge per linked name")
    // re-ingesting the SAME corpora adds zero net rows (idempotent MERGE
    // + prune): the pair log cannot grow under overlapping re-ingest
    batches.foreach(b =>
      new Pipeline(cfg).materialize(spark.createDataset(b), io))
    assert(io.read(spark, "aliases").count() == mapRows,
      "aliases table grew under repeated overlapping ingest")
    assert(io.read(spark, "canonical_map").count() == mapRows)
  }

  test("appendNew appends new keys without rewriting existing files") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftappend").toString
    val io = new ParquetTableIO(root)
    val t1 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    io.appendNew(spark, "t", t1, Seq("k"))
    def files(): Set[(String, Long)] =
      new java.io.File(s"$root/t").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val before = files()
    assert(before.nonEmpty)
    // second append: one duplicate key (dropped), one new key (appended)
    io.appendNew(spark, "t", Seq(("b", 99), ("c", 3)).toDF("k", "v"), Seq("k"))
    val after = files()
    assert(before.subsetOf(after), "existing files were rewritten by append")
    assert(after.size > before.size, "no new file appended")
    val rows = io.read(spark, "t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("a" -> 1, "b" -> 2, "c" -> 3),
      s"append-new semantics wrong: $rows") // existing 'b' wins, not 99
    // idempotent replay: appending the same delta again changes nothing
    io.appendNew(spark, "t", Seq(("c", 3)).toDF("k", "v"), Seq("k"))
    assert(io.read(spark, "t").count() == 3)
  }

  test("snapshotFp tracks every write path from metadata alone") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftsnapfp").toString
    val io = new ParquetTableIO(root)
    assert(io.snapshotFp(spark, "t") == "absent")
    io.merge(spark, "t", Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"))
    val fp1 = io.snapshotFp(spark, "t")
    assert(fp1 != "absent" && fp1.nonEmpty)
    // stable: same snapshot → same fp (checkpoint reuse depends on it)
    assert(io.snapshotFp(spark, "t") == fp1)
    // every write path must move it: merge rewrite ...
    io.merge(spark, "t", Seq(("c", 3)).toDF("k", "v"), Seq("k"))
    val fp2 = io.snapshotFp(spark, "t")
    assert(fp2 != fp1, "merge did not change snapshotFp")
    // ... append-only insert ...
    io.appendNew(spark, "t", Seq(("d", 4)).toDF("k", "v"), Seq("k"))
    val fp3 = io.snapshotFp(spark, "t")
    assert(fp3 != fp2, "appendNew did not change snapshotFp")
    // a no-op append (all keys exist) writes zero files → fp unchanged,
    // so an idempotent replay still reuses its checkpoints
    io.appendNew(spark, "t", Seq(("d", 4)).toDF("k", "v"), Seq("k"))
    assert(io.snapshotFp(spark, "t") == fp3)
    // computed from the file manifest, not table rows: no Spark job runs
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    io.snapshotFp(spark, "t")
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "snapshotFp ran a Spark job (row scan?)")
  }

  test("aliases checkpoint is REUSED on a retry with the same store snapshot") {
    // the crash-retry contract: a batch that died before its merges
    // re-runs against an unchanged store → same corpus fp + same
    // snapshotFp → the aliases stage must read back, not recompute
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.85)
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftckreuse").toString)
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    val ev = io.read(spark, "vertices").localCheckpoint()
    val bi = io.read(spark, "lsh_band_index")
    val storeFp = Some(
      s"v=${io.snapshotFp(spark, "vertices")};" +
        s"bi=${io.snapshotFp(spark, "lsh_band_index")}")
    val ckDir = java.nio.file.Files.createTempDirectory("graftck").toString
    val ckCfg = cfg.copy(checkpointDir = Some(ckDir))
    def attempt() = {
      val r = new Pipeline(ckCfg).run(
        spark.createDataset(batches(1)), Some(ev), Some(bi), storeFp)
      val a = r.aliases.collect().map(p => (p.a, p.b)).toSet
      r.cleanup(); a
    }
    val first = attempt()
    val manifest = new java.io.File(s"$ckDir/aliases/_manifest.json")
    assert(manifest.exists, "aliases stage wrote no checkpoint manifest")
    val mtime = manifest.lastModified()
    val second = attempt() // the retry
    assert(second == first)
    assert(manifest.lastModified() == mtime,
      "retry recomputed the aliases stage instead of reusing the checkpoint")
    // a store write moves snapshotFp → a LATER batch must NOT reuse it
    assert(Some(s"v=${io.snapshotFp(spark, "vertices")};" +
      s"bi=${io.snapshotFp(spark, "lsh_band_index")}") == storeFp)
    new Pipeline(cfg).materialize(spark.createDataset(batches(2)), io)
    assert(s"v=${io.snapshotFp(spark, "vertices")}" != storeFp.get.split(";")(0))
  }

  test("bucket-selective MERGE rewrites only the delta's bucket dirs") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftbsel").toString
    val io = new ParquetTableIO(root)
    val base = (0 until 40).map(i => (s"k$i", s"v$i", i % 4)).toDF("k", "v", "pb")
    io.merge(spark, "t", base, Seq("k"), Seq("pb"))
    def files(b: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$root/t/pb=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = (0 until 4).map(files)
    // delta touches bucket 1 only: one collided key (delta wins) + one new
    val delta = Seq(("k1", "REPAIRED", 1), ("kx", "new", 1)).toDF("k", "v", "pb")
    io.merge(spark, "t", delta, Seq("k"), Seq("pb"))
    val t = io.read(spark, "t")
    assert(t.count() == 41)
    assert(t.filter(col("k") === "k1").select("v").head().getString(0) == "REPAIRED",
      "delta-wins collision semantics lost on the bucket-selective path")
    assert(t.filter(col("k") === "kx").count() == 1)
    // untouched bucket dirs are PHYSICALLY untouched (same files, mtimes)
    Seq(0, 2, 3).foreach { b =>
      assert(files(b) == before(b), s"untouched bucket $b was rewritten")
    }
    assert(files(1) != before(1))
    // an empty delta leaves storage untouched entirely
    val fp = io.snapshotFp(spark, "t")
    io.merge(spark, "t", base.limit(0), Seq("k"), Seq("pb"))
    assert(io.snapshotFp(spark, "t") == fp, "empty delta perturbed storage")
    // a delta with another column set is rejected before any write (no
    // schema evolution: the store format fixes every table's columns)
    val evolved = Seq(("k2", "v2", 2, 7L)).toDF("k", "v", "pb", "extra")
    intercept[org.apache.spark.sql.AnalysisException] {
      io.merge(spark, "t", evolved, Seq("k"), Seq("pb"))
    }
    assert(io.snapshotFp(spark, "t") == fp, "rejected delta touched storage")
    assert(!io.read(spark, "t").columns.contains("extra"))
  }

  test("partitioned appendNew appends into bucket dirs without rewrites") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpappend").toString
    val io = new ParquetTableIO(root)
    val base = (0 until 20).map(i => (s"k$i", i % 4)).toDF("k", "pb")
    io.appendNew(spark, "t", base, Seq("k"), Seq("pb"))
    assert(new java.io.File(s"$root/t/pb=2").exists(), "initial write not partitioned")
    def allFiles(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/t"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified())).toSet
    }
    val before = allFiles()
    // one duplicate key (kept, first-wins) + one new key in bucket 1
    io.appendNew(spark, "t", Seq(("k1", 1), ("kz", 1)).toDF("k", "pb"),
      Seq("k"), Seq("pb"))
    val after = allFiles()
    assert(before.subsetOf(after), "existing files rewritten by partitioned append")
    assert(after.size == before.size + 1, "expected exactly one new file (bucket 1)")
    assert(io.read(spark, "t").count() == 21)
    // partition pruning still works over the appended layout
    assert(io.read(spark, "t").filter(col("pb") === 1).count() == 6)
  }

  test("partitioned writes: one file per dir, spread over several write tasks") {
    val s = spark; import s.implicits._
    // the regression this pins only shows under AQE, which would coalesce
    // a count-less clustering shuffle into one writer task
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val root = java.nio.file.Files.createTempDirectory("graftpwrite").toString
    val io = new ParquetTableIO(root)
    val nb = 8
    def frame(tag: String) = (0 until 64).map(i => (s"$tag$i", i % nb)).toDF("k", "pb")
    def files(t: String): Map[Int, Set[String]] = (0 until nb).map { b =>
      b -> new java.io.File(s"$root/$t/pb=$b").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }.toMap
    // `part-<NNNNN>-`: NNNNN is the id of the task that wrote the file
    def check(what: String, perDir: Map[Int, Set[String]]): Unit = {
      assert(perDir.values.forall(_.size == 1), s"$what: not one file per dir: $perDir")
      val tasks = perDir.values.flatten.map(_.split('-')(1)).toSet
      assert(tasks.size > 1, s"$what: every dir written by one task ($tasks)")
    }
    io.overwrite(spark, "o", frame("a"), Seq("pb"))
    check("overwrite", files("o"))
    io.overwritePartitions(spark, "o", frame("b"), "pb", 0 until nb)
    check("overwritePartitions", files("o"))
    // the first appendNew lays the table down; the second takes the
    // physical append path and adds one file per touched dir
    io.appendNew(spark, "a", frame("a"), Seq("k"), Seq("pb"))
    val before = files("a")
    io.appendNew(spark, "a", frame("b"), Seq("k"), Seq("pb"))
    check("appendNew", files("a").map { case (b, f) => b -> (f -- before(b)) })
    assert(io.read(spark, "a").count() == 128)
    assert(io.read(spark, "o").select("k").as[String].collect().toSet ==
      (0 until 64).map(i => s"b$i").toSet)
  }

  test("appendNew compacts sliver files past the per-dir threshold") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftsliver").toString
    val io = new ParquetTableIO(root)
    val thr = io.SliverThreshold
    // one append per "batch", disjoint keys, every batch touching both
    // bucket dirs — the accumulation shape of the append-only vector
    // index (one sliver per dir per batch, measured at ~6k files by
    // batch 6 at 1,024 dirs before compaction existed)
    val batches = thr + 4
    (0 until batches).foreach { i =>
      io.appendNew(spark, "t",
        Seq((s"k$i-0", 0), (s"k$i-1", 1)).toDF("k", "pb"),
        Seq("k"), Seq("pb"))
    }
    // layout health: no dir holds more than the threshold's data files
    Seq(0, 1).foreach { b =>
      val n = new java.io.File(s"$root/t/pb=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n <= thr, s"pb=$b holds $n files (> $thr) after compaction")
      assert(n < batches, s"pb=$b never compacted ($n files)")
    }
    // content intact: every key present once, partition values recovered
    val rows = io.read(spark, "t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 2 * batches)
    assert((0 until batches).forall(i =>
      rows(s"k$i-0") == 0 && rows(s"k$i-1") == 1))
    // partition pruning still works over the compacted layout
    assert(io.read(spark, "t").filter(col("pb") === 1).count() == batches)
  }

  test("sliver compaction never rewrites base files over the size bound") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftbase").toString
    val io = new ParquetTableIO(root)
    // batch 0: a BASE file above SliverMaxBytes in bucket 0 (random
    // binary payloads defeat parquet compression)
    val rnd = new scala.util.Random(7)
    val bigRows = (0 until 40000).map { i =>
      val b = new Array[Byte](128); rnd.nextBytes(b); (s"base$i", b, 0)
    }
    io.appendNew(spark, "t",
      bigRows.toDF("k", "payload", "pb"), Seq("k"), Seq("pb"))
    val baseFiles = new java.io.File(s"$root/t/pb=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(baseFiles.exists(_.length >= io.SliverMaxBytes),
      s"fixture too small: ${baseFiles.map(_.length).toSeq} — raise rows")
    val baseSnapshot = baseFiles.filter(_.length >= io.SliverMaxBytes)
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    // enough tiny appends into the same dir to cross the threshold
    (0 until io.SliverThreshold + 2).foreach { i =>
      io.appendNew(spark, "t",
        Seq((s"s$i", "tiny", 0)).toDF("k", "payload", "pb"),
        Seq("k"), Seq("pb"))
    }
    val after = new java.io.File(s"$root/t/pb=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // the base file is byte-identical in place; slivers were merged
    val afterSnapshot = after.filter(_.length() >= io.SliverMaxBytes)
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    assert(baseSnapshot.subsetOf(afterSnapshot),
      "a base file over the size bound was rewritten by sliver compaction")
    assert(after.length < 1 + io.SliverThreshold + 2,
      s"slivers never merged: ${after.length} files")
    // all rows survive: the big batch plus every tiny append
    assert(io.read(spark, "t").count() == 40000 + io.SliverThreshold + 2)
  }

  test("snapshotFp ignores files under leftover _temporary directories") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("grafttmpfp").toString
    val io = new ParquetTableIO(root)
    io.merge(spark, "t", Seq(("a", 1)).toDF("k", "v"), Seq("k"))
    val fp = io.snapshotFp(spark, "t")
    // a crashed/killed append job leaves staged part files under
    // _temporary — NOT table data; the fingerprint must not see them
    val tmp = new java.io.File(s"$root/t/_temporary/0/task_1")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "part-00000.parquet").toPath, "junk")
    assert(io.snapshotFp(spark, "t") == fp,
      "_temporary leftovers perturbed the snapshot fingerprint")
    // cleanup restores the same fp trivially (same visible file set)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/t/_temporary"))
    assert(io.snapshotFp(spark, "t") == fp)
  }

  test("writer lease: dead-pid lease is reclaimed, live-pid lease fails fast") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val root = java.nio.file.Files.createTempDirectory("graftlease").toString
    val io = new ParquetTableIO(root)
    new java.io.File(root).mkdirs()
    val lock = new java.io.File(root, "_writer.lock")
    // a lease left by a CRASHED writer: records a pid that no longer
    // exists (pid numbers are bounded well below 2^22 on linux)
    java.nio.file.Files.writeString(lock.toPath, "pid=999999999 ts=0\n")
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    assert(io.exists(spark, "edges"), "dead-pid lease was not reclaimed")
    assert(!lock.exists(), "writer did not release the reclaimed lease")
    // a lease held by a LIVE process (this one) still fails fast
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=${ProcessHandle.current().pid()} ts=0\n")
    val e = intercept[IllegalStateException] {
      new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    }
    assert(e.getMessage.contains("locked"))
    assert(lock.delete())
  }

  test("overwritePartitions swaps only the listed partitions on storage") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftparts").toString
    val io = new ParquetTableIO(root)
    val df = (0 until 40).map(i => (s"k$i", i % 4)).toDF("k", "pb")
    io.overwrite(spark, "t", df, Seq("pb"))

    def files(b: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$root/t/pb=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = (0 until 4).map(files)

    // replace partition 1, truncate partition 2 (listed, absent from df)
    val repl = Seq(("x1", 1), ("x2", 1)).toDF("k", "pb")
    io.overwritePartitions(spark, "t", repl, "pb", Seq(1, 2))

    val t = io.read(spark, "t")
    assert(t.filter(col("pb") === 1).select("k").collect()
      .map(_.getString(0)).toSet == Set("x1", "x2"))
    assert(t.filter(col("pb") === 2).count() == 0, "listed partition not truncated")
    assert(t.filter(col("pb") === 0).count() == 10)
    assert(t.filter(col("pb") === 3).count() == 10)
    // partitions 0 and 3 are PHYSICALLY untouched — same files, same mtime
    assert(files(0) == before(0), "unlisted partition 0 was rewritten")
    assert(files(3) == before(3), "unlisted partition 3 was rewritten")
    assert(files(1) != before(1))
  }

  test("an EXACT batch's names are signed into an lsh store's band index") {
    val s = spark; import s.implicits._
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftmixmode").toString)
    val lshCfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    // batch 1 (lsh): creates the band index
    new Pipeline(lshCfg).materialize(
      spark.createDataset(Seq(row("a.scala", "StoreMap uses dataTree."))), io)
    // batch 2 (EXACT) introduces a brand-new entity: its mention names
    // MUST still be appended to the index — a later lsh batch links
    // against the index alone, and an unsigned name would be invisible
    // to incremental linking forever
    new Pipeline(GraftConfig(linkMode = "exact")).materialize(
      spark.createDataset(Seq(
        row("b.scala", "BatchEngine imports module parseTree."))), io)
    val signed = io.read(spark, "lsh_band_index").select("name")
      .distinct().collect().map(_.getString(0)).toSet
    assert(signed.contains("batchengine"),
      s"exact batch's mention not signed into the band index: $signed")
    // batch 3 (lsh): the alias surface form of the EXACT batch's entity
    // must link through the stored-index probe (no legacy full join —
    // the index exists and is v2-stamped)
    new Pipeline(lshCfg).materialize(
      spark.createDataset(Seq(
        row("c.scala", "Batch engine calls function sortTree."))), io)
    val canon = io.read(spark, "canonical_map")
      .select("name", "canonicalName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.contains("batch engine") || canon.contains("batchengine"),
      s"lsh batch failed to link against an exact batch's name: ${canon.keySet}")
  }

  test("reset() clears layout metadata: the next ingest adopts the knob") {
    val s = spark; import s.implicits._
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftresetnb").toString)
    val rag = new GraphRag(spark, io, GraftConfig(linkMode = "exact"))
    rag.ingest(spark.createDataset(batches(0)))
    assert(io.getMeta(spark, "num_buckets").map(_.trim) == Some("32"))
    rag.reset()
    assert(io.getMeta(spark, "num_buckets").isEmpty,
      "reset left the num_buckets layout stamp behind")
    // a reset store is fresh: the next writer's knob applies
    new Pipeline(GraftConfig(linkMode = "exact", numBuckets = 64))
      .materialize(spark.createDataset(batches(1)), io)
    assert(io.getMeta(spark, "num_buckets").map(_.trim) == Some("64"))
    assert(io.read(spark, "edges")
      .filter(col("sbucket") =!= pmod(hash(col("subj")), lit(64)))
      .count() == 0, "post-reset rows not bucketed at the new knob")
  }

  test("256-bucket store: pruning-positive dirs, mismatched knob ignored") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft256").toString
    val io = new ParquetTableIO(root)
    // fresh store created at numBuckets = 256 (a production-scale count
    // where a small batch's reach is a strict FRACTION of the buckets)
    new Pipeline(GraftConfig(linkMode = "exact", numBuckets = 256))
      .materialize(spark.createDataset(batches(0)), io)
    assert(io.getMeta(spark, "num_buckets").map(_.trim) == Some("256"))
    def bucketDirs(t: String): Map[String, Set[(String, Long)]] =
      new java.io.File(s"$root/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("sbucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    def badRows() = io.read(spark, "edges")
      .filter(col("sbucket") =!= pmod(hash(col("subj")), lit(256))).count()
    assert(badRows() == 0, "stored sbucket not derived at the store's 256")
    val before = bucketDirs("edges")
    // a writer left at the DEFAULT knob (32) must still write under the
    // store's persisted 256 — the store always wins, so mixing two
    // bucket counts in one table is impossible
    new Pipeline(GraftConfig(linkMode = "exact"))
      .materialize(spark.createDataset(batches(1)), io)
    assert(io.getMeta(spark, "num_buckets").map(_.trim) == Some("256"))
    assert(badRows() == 0,
      "mismatched-knob writer laid rows under its own bucket count")
    // pruning-POSITIVE evidence: the batch touched a strict fraction of
    // the store's bucket dirs; untouched dirs are physically byte-stable
    val after = bucketDirs("edges")
    val untouched = before.filter { case (d, f) => after.get(d).contains(f) }
    val touched = after.keySet.filterNot(d => before.get(d).contains(after(d)))
    assert(untouched.nonEmpty,
      s"every one of ${before.size} bucket dirs rewritten — no physical pruning")
    assert(touched.size < after.size,
      s"all ${after.size} dirs touched by a ${batches(1).size}-doc batch")
    // query side resolves the store's count from metadata (not the knob):
    // the facade's pruned lookup equals the unpruned full scan
    val rag = new GraphRag(spark, io, GraftConfig(linkMode = "exact"))
    val sel = Seq("entity", "subj", "pred", "obj")
    val viaIdx = rag.query("What is Batchengine?").triplets.get
      .select(sel.map(col): _*).collect().map(_.toString).toSet
    val full = new retrieve.Retrieval(new embed.HashEmbedder())
      .relationshipSearch(io.read(spark, "edges")
        .select("subj", "pred", "obj", "label", "sourceChunkId"),
        "What is Batchengine?")
      .select(sel.map(col): _*).collect().map(_.toString).toSet
    assert(viaIdx == full && viaIdx.nonEmpty,
      s"pruned-at-256 facade lookup != full scan: $viaIdx vs $full")
  }

  test("FLAT appendNew tables stay file-bounded over a long batch horizon") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftflat").toString
    val io = new ParquetTableIO(root)
    // the accumulation shape of `chunks` / `chunk_embeddings`: flat
    // (unpartitioned) append-only tables, one file per shuffle task per
    // batch — 20 batches × multi-part appends would leave O(batches ·
    // parts) files without flat compaction
    val batches = 20
    (0 until batches).foreach { i =>
      val df = (0 until 8).map(j => (s"k$i-$j", i)).toDF("k", "b")
        .repartition(4) // multiple part files per append, like a real batch
      io.appendNew(spark, "t", df, Seq("k"))
    }
    val n = new java.io.File(s"$root/t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n <= io.SliverThreshold + 4,
      s"flat table holds $n files after $batches batches — compaction absent")
    // content intact: every key exactly once, values preserved
    val rows = io.read(spark, "t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 8 * batches)
    assert((0 until batches).forall(i => (0 until 8).forall(j =>
      rows(s"k$i-$j") == i)))
  }

  test("a compaction crashed mid-swap is healed by the next lock holder") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftheal").toString
    val io = new ParquetTableIO(root)
    io.merge(spark, "t", Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"))
    val tdir = s"$root/t"
    // fabricate the exact on-disk state of a compactSlivers run that
    // crashed AFTER committing its redo plan and executing only the
    // first op: staged merge dir present, plan present, one sliver
    // already removed, the staged merge file not yet moved in
    val tmp = new java.io.File(s"${tdir}__tmpcompact"); tmp.mkdirs()
    val staged = new java.io.File(tmp, "part-merged.parquet")
    val live = new java.io.File(tdir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(live.toPath, staged.toPath)
    val sliver = new java.io.File(tdir, "part-sliver.parquet")
    java.nio.file.Files.copy(live.toPath, sliver.toPath) // a dup sliver
    java.nio.file.Files.writeString(new java.io.File(tmp, "_plan").toPath,
      s"mv\t${staged.getAbsolutePath}\t${new java.io.File(tdir, staged.getName).getAbsolutePath}\n" +
        s"rm\t${sliver.getAbsolutePath}\n" +
        s"rm\t${new java.io.File(tdir, "part-already-gone.parquet").getAbsolutePath}")
    // next writer-lock acquisition replays the plan: mv lands, rm's run
    // (including the idempotent one whose target is already gone), tmp
    // dir dropped
    io.withWriterLock(spark)(())
    assert(new java.io.File(tdir, staged.getName).exists(),
      "staged merge file was not moved in during healing")
    assert(!sliver.exists(), "planned sliver removal was not replayed")
    assert(!tmp.exists(), "tmpcompact dir survived healing")
    // a tmp dir WITHOUT a plan never touched the live table → dropped whole
    val orphan = new java.io.File(s"${tdir}__tmpcompact"); orphan.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-x.parquet").toPath, "junk")
    io.withWriterLock(spark)(())
    assert(!orphan.exists(), "plan-less orphan tmpcompact dir not dropped")
  }

  test("appendNew refuses the fast path when only a layout PREFIX matches") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftlayout").toString
    val io = new ParquetTableIO(root)
    // a table physically partitioned by `l` ALONE (e.g. written by an
    // older engine version) must NOT pass the two-level (l, vb) layout
    // guard — the physical append would mix two dir nestings in one table
    Seq(("a", 0, 0), ("b", 1, 1)).toDF("k", "l", "vb")
      .write.partitionBy("l").parquet(s"$root/t")
    io.appendNew(spark, "t", Seq(("c", 0, 2)).toDF("k", "l", "vb"),
      Seq("k"), Seq("l", "vb"))
    // fallback MERGE re-laid the table under the full two-level tree
    val lDirs = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l="))
    assert(lDirs.nonEmpty)
    lDirs.foreach { d =>
      val entries = d.listFiles().filterNot(f =>
        f.getName.startsWith("_") || f.getName.startsWith("."))
      assert(entries.forall(f => f.isDirectory && f.getName.startsWith("vb=")),
        s"mixed nesting under ${d.getName}: ${entries.map(_.getName).toSeq}")
    }
    assert(io.read(spark, "t").count() == 3)
    // the re-laid table now matches → subsequent appends take the fast path
    val before = io.snapshotFp(spark, "t")
    io.appendNew(spark, "t", Seq(("d", 2, 3)).toDF("k", "l", "vb"),
      Seq("k"), Seq("l", "vb"))
    assert(io.snapshotFp(spark, "t") != before)
    assert(io.read(spark, "t").count() == 4)
  }

  // edge_entity_index completeness is canonical-state-bearing: delta
  // compaction's affected-edge pass reads the index instead of scanning
  // every base edge, so an index missing rows would silently skip
  // canonical partitions. The merge site heals a crashed predecessor's
  // index with a wholesale rebuild.
  private def indexMatchesEdges(io: ParquetTableIO): Unit = {
    val expected = Pipeline.entityIndexRows(io.read(spark, "edges")
      .select("subj", "pred", "obj", "label", "sourceChunkId"))
    val exp = expected.selectExpr(
      expected.columns.sorted.toSeq.map(c => s"cast(`$c` as string)"): _*)
      .collect().map(_.mkString("|")).toSet
    assert(state(io, "edge_entity_index") == exp,
      "edge_entity_index != entityIndexRows(edges)")
  }

  test("a crashed predecessor's missing index rows are healed wholesale") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val root = java.nio.file.Files.createTempDirectory("graftidxcrash").toString
    val io = new ParquetTableIO(root)
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    // shape of a predecessor that died between its edges merge and its
    // index merge: some index rows absent, batch_inflight still set.
    // The NEXT batch is different data (an operator skipping the retry
    // contract) — the heal must not depend on a replay.
    val idxDirs = new java.io.File(s"$root/edge_entity_index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ebucket="))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxDirs.head.getPath), true)
    io.setFlag(spark, "batch_inflight")
    new Pipeline(cfg).materialize(spark.createDataset(batches(2)), io)
    assert(!io.flagSet(spark, "batch_inflight"), "marker not cleared")
    indexMatchesEdges(io)
  }

  // The subject-hash layout cannot locate edges whose PREDICATE is a
  // changed name (the one position outside both the sbucket dirs and the
  // subj/obj entity index) — the pred_index registry leg must find them.
  // Corpus: "calls function" occurs BOTH as a mention (subject of edge 1)
  // and as the predicate of edge 2, whose subject "alphacore" never
  // changes mapping; batch 2 links "calls functio" (lexicographically
  // smaller → canonical), so "calls function" is the changed name and
  // edge 2's canonical image must update through the pred leg alone.
  test("delta == full when a changed name occurs as a predicate") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val bs = Seq(
      Seq(row("a.scala", "Calls Function extends class deltaLib. " +
        "AlphaCore calls function betaLib. ZetaStore uses dataTree.")),
      Seq(row("b.scala", "Calls Functio imports module gammaLib.")))
    def ingestAll(c: GraftConfig): ParquetTableIO = {
      val io = new ParquetTableIO(
        java.nio.file.Files.createTempDirectory("graftpredleg").toString)
      bs.foreach(b => new Pipeline(c).materialize(spark.createDataset(b), io))
      io
    }
    val delta = ingestAll(cfg)
    val full = ingestAll(cfg.copy(fullCompaction = true))
    // the fixture is live: the link fired and the canonical pred image
    // of edge 2 moved to the new canonical name
    val e2 = delta.read(spark, "canonical_edges")
      .filter(col("subj") === "alphacore").select("pred")
      .collect().map(_.getString(0)).toSet
    assert(e2 == Set("calls functio"),
      s"pred-position remap missing: $e2 (fixture dead or pred leg broken)")
    Seq("canonical_edges", "canonical_edge_entity_index", "vertices",
      "canonical_map").foreach { t =>
      assert(state(delta, t) == state(full, t),
        s"$t diverged with a changed predicate name")
    }
  }

  // exact-diff index maintenance: a batch whose canonical rebuild
  // regenerates byte-identical images (a replayed doc — no new keys, no
  // map change) must not rewrite ANY canonical_edge_entity_index
  // partition; the diff-free design rewrote every ebucket the rebuilt
  // buckets' content reached (measured ≈ the full table per batch).
  test("an image-neutral batch leaves the canonical index untouched") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftidxskip").toString)
    new Pipeline(cfg).materialize(spark.createDataset(batches(0)), io)
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    val fp = io.snapshotFp(spark, "canonical_edge_entity_index")
    assert(fp.nonEmpty)
    // replay batch 2 verbatim: same keys, same provenance, no linking
    // delta → every rebuilt canonical image is identical → empty diff
    new Pipeline(cfg).materialize(spark.createDataset(batches(1)), io)
    assert(io.snapshotFp(spark, "canonical_edge_entity_index") == fp,
      "replayed batch rewrote canonical index partitions")
  }

  test("an lsh delta batch over a seeded store runs at most 80 Spark jobs") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val io = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftbudget").toString)
    batches.take(2).foreach(b =>
      new Pipeline(cfg).materialize(spark.createDataset(b), io))
    val (_, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext) {
      new Pipeline(cfg).materialize(spark.createDataset(batches(2)), io)
    }
    info(s"lsh delta batch: $jobs Spark jobs")
    assert(jobs <= 80, s"the lsh delta batch ran $jobs Spark jobs")
  }

  test("reads take their schema from the footer and remember it: no job") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    val root = java.nio.file.Files.createTempDirectory("graftschema").toString
    batches.take(2).foreach(b => new Pipeline(cfg)
      .materialize(spark.createDataset(b), new ParquetTableIO(root)))
    val tables = Seq("chunks", "chunk_embeddings", "chunk_vec_index",
      "chunk_vec_meta", "terms", "edges", "edge_entity_index", "pred_index",
      "canonical_edges", "canonical_edge_entity_index", "canonical_map",
      "vertices", "aliases", "lsh_band_index")
    // the partitioned tables and the flat empty ones reset leaves
    def check(io: ParquetTableIO, what: String): Unit = tables.foreach { t =>
      val inferred = spark.read.parquet(s"$root/$t").schema
      val (first, firstJobs) = org.apache.spark.TestJobs.count(
        spark.sparkContext)(io.read(spark, t).schema)
      val (second, secondJobs) = org.apache.spark.TestJobs.count(
        spark.sparkContext)(io.read(spark, t).schema)
      assert(first == inferred && second == inferred, s"$what $t: schema differs")
      assert(secondJobs == 0, s"$what $t: a second read ran $secondJobs jobs")
      assert(firstJobs == 0, s"$what $t: the first read ran $firstJobs jobs")
    }
    check(new ParquetTableIO(root), "seeded")
    new GraphRag(spark, new ParquetTableIO(root), cfg).reset()
    check(new ParquetTableIO(root), "reset")
  }

  test("a delta batch rewrites only the changed names' canonical_map buckets") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    var root = ""
    var before = Set.empty[String]
    val io = ingest(cfg, r => { root = r; before = dataFiles(r, "canonical_map") })
    val after = dataFiles(root, "canonical_map")
    // the last batch links "parse tree" / "parsetree"; the map's other
    // bucket (batch 2's "batchengine") keeps its file
    assert(before.nonEmpty && before.forall(_.startsWith("cbucket=")),
      s"canonical_map not bucketed before the last batch: $before")
    assert((before intersect after).nonEmpty,
      "every canonical_map file was rewritten")
    assert(after != before, "the changed bucket was not rewritten")
    val full = ingest(cfg.copy(fullCompaction = true))
    assert(state(io, "canonical_map") == state(full, "canonical_map"))
  }

  test("reset → lsh batch → lsh batch equals the same batches on a fresh store") {
    val s = spark; import s.implicits._
    val cfg = GraftConfig(linkMode = "lsh", linkThreshold = 0.7)
    def store() = new ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graftreset").toString)
    val reset = store()
    val rag = new GraphRag(spark, reset, cfg)
    rag.ingest(spark.createDataset(batches(0)))
    rag.reset()
    val fresh = store()
    // the reset store's first batch finds a flat empty canonical_map
    // (whole overwrite, still empty), its second the first links (whole
    // overwrite, now bucketed), its third a bucketed map (changed
    // buckets only)
    Seq(reset, fresh).foreach(io => batches.foreach(b =>
      new Pipeline(cfg).materialize(spark.createDataset(b), io)))
    Seq("edges", "canonical_edges", "canonical_edge_entity_index", "vertices",
      "canonical_map", "aliases", "lsh_band_index").foreach { t =>
      assert(state(reset, t) == state(fresh, t), s"$t diverged after reset")
    }
    assert(state(fresh, "canonical_map").nonEmpty)
  }
}
