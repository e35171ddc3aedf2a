package graft.kg

import graft.kg.stages.Canonicalize
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Large-star/small-star CC vs a brute-force union-find oracle on random
  * graphs (SURVEY.md §5.2.2 "CC correctness vs brute-force on small
  * random graphs"). */
class ConnectedComponentsSuite extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  /** Union-find oracle; names order by their UTF-8 bytes (Spark's string
    * order), the order both CC paths must follow. */
  private def bruteForce(edges: Seq[(String, String)]): Map[String, String] = {
    val order = DriverSide.utf8Ordering
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (order.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    // canonical = min of component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min(order)
      ns.map(_ -> m)
    }.toMap
  }

  private def checkGraph(edges: Seq[(String, String)], label: String): Unit = {
    val s = spark; import s.implicits._
    val aliases = spark.createDataset(edges.map { case (a, b) => AliasPair(a, b, 1.0) })
    val expected = bruteForce(edges)
    // exercise BOTH paths: the driver-side union-find fast path (default
    // threshold) and the distributed star loop (threshold 0 forces it)
    for ((threshold, path) <- Seq((1L << 20, "local"), (0L, "distributed"))) {
      val got = Canonicalize
        .connectedComponents(aliases, localSolveThreshold = threshold)
        .collect().map(c => c.name -> c.canonicalName).toMap
      // connectedComponents omits identity rows for component minima
      val gotFull = expected.keys.map(n => n -> got.getOrElse(n, n)).toMap
      assert(gotFull == expected, s"$label ($path path): CC mismatch")
    }
  }

  test("random graphs match brute-force union-find") {
    val rnd = new Random(123)
    for (trial <- 1 to 6) {
      val n = 5 + rnd.nextInt(30)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val edges = (1 to nEdges).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) checkGraph(edges, s"trial$trial(n=$n,e=${edges.size})")
    }
  }

  test("supernode star graph collapses to one component") {
    val edges = (1 to 60).map(i => ("hub", f"leaf$i%03d"))
    checkGraph(edges, "star")
  }

  test("long chain (worst diameter) converges") {
    val edges = (0 until 40).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    checkGraph(edges, "chain")
  }

  test("names outside the BMP order by UTF-8 bytes on both paths") {
    // U+1F600 sorts below U+E000 in UTF-16 units (a surrogate, 0xD83D)
    // but above it in UTF-8 bytes (F0 9F.. vs EE 80..)
    val edges = Seq(("x\uD83D\uDE00", "x\uE000"), ("x\uE000", "y"))
    checkGraph(edges, "utf8")
    assert(bruteForce(edges)("x\uD83D\uDE00") == "x\uE000")
  }

  test("two disjoint cliques stay separate") {
    val a = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"a$i", s"a$j")
    val b = for (i <- 0 until 4; j <- i + 1 until 4) yield (s"b$i", s"b$j")
    checkGraph(a ++ b, "cliques")
  }

  test("incremental CC == full CC on random two-batch graphs") {
    val s = spark; import s.implicits._
    val rnd = new Random(77)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(40)
      def randEdges(k: Int) = (1 to k)
        .map(_ => (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2)
      val batch1 = randEdges(1 + rnd.nextInt(n))
      val batch2 = randEdges(1 + rnd.nextInt(n))
      if (batch1.nonEmpty && batch2.nonEmpty) {
        val oldMap = bruteForce(batch1).toSeq.filter(p => p._1 != p._2)
          .toDF("name", "canonicalName")
        val pairs = spark.createDataset(
          batch2.map { case (a, b) => AliasPair(a, b, 1.0) })
        val inc = Canonicalize.incrementalComponents(oldMap, pairs)
        val got = inc.newMap.collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val expected = bruteForce(batch1 ++ batch2).filter(p => p._1 != p._2)
        val gotFull = expected.keys.map(k => k -> got.getOrElse(k, k)).toMap
        assert(gotFull == expected, s"trial$trial: seeded CC != full CC")
        // no spurious rows: every newMap row is a real non-identity mapping
        assert(got.forall { case (k, v) => expected.get(k).contains(v) },
          s"trial$trial: newMap has rows full CC does not")
        // changed ⊇ every name whose mapping actually differs
        val changed = inc.changed.collect().map(_.getString(0)).toSet
        val oldFull = bruteForce(batch1)
        val reallyChanged = (expected.keySet ++ oldFull.keySet).filter { k =>
          expected.getOrElse(k, k) != oldFull.getOrElse(k, k)
        }
        assert(reallyChanged.subsetOf(changed),
          s"trial$trial: changed misses ${reallyChanged -- changed}")
      }
    }
  }

  test("incremental CC seed is O(batch + touched components), not O(history)") {
    val s = spark; import s.implicits._
    // 500 prior components of 3 members each; the batch touches TWO
    val oldMap = (0 until 500).flatMap { c =>
      Seq((f"c$c%04d_b", f"c$c%04d_a"), (f"c$c%04d_c", f"c$c%04d_a"))
    }.toDF("name", "canonicalName")
    val pairs = spark.createDataset(Seq(
      AliasPair("c0003_b", "c0400_c", 1.0), // merges components 3 and 400
      AliasPair("zz_new1", "zz_new2", 1.0))) // brand-new component
    val inc = Canonicalize.incrementalComponents(oldMap, pairs)
    // seed = 2 touched components × 2 star edges + 2 batch pairs
    assert(inc.seed.count() == 6,
      s"seed not bounded by touched components: ${inc.seed.count()} edges")
    val got = inc.newMap.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // merged component canonicalizes to the overall min
    assert(got("c0400_a") == "c0003_a" && got("c0400_c") == "c0003_a" &&
      got("c0003_b") == "c0003_a" && got("zz_new2") == "zz_new1")
    // untouched components verbatim
    // 998 untouched rows + 5 merged-component rows + 1 new-pair row
    assert(got("c0123_b") == "c0123_a" && got.size == 498 * 2 + 5 + 1)
    val changed = inc.changed.collect().map(_.getString(0)).toSet
    assert(changed == Set("c0400_a", "c0400_b", "c0400_c", "zz_new2"),
      s"changed set wrong: $changed")
  }

  test("upstream alias DAG computes each edge once across probe + barrier") {
    val s = spark; import s.implicits._
    // instrument the alias source: the accumulator counts every time a row
    // is COMPUTED (not read from cache). The size probe executes the
    // upstream DAG; without the persist in connectedComponents, the
    // distributed path's first checkpoint would execute it a second time.
    val acc = spark.sparkContext.longAccumulator("aliasEvals")
    val base = spark.createDataset((1 to 100).map(i => AliasPair(s"n$i", s"n${i + 1}", 1.0)))
    val tracked = base.mapPartitions { it => it.map { p => acc.add(1); p } }
    // threshold 10 < 100 edges → forces the distributed star loop
    val cc = Canonicalize.connectedComponents(tracked, localSolveThreshold = 10)
    cc.count()
    assert(acc.value == 100,
      s"alias DAG executed ${acc.value / 100.0}x — expected exactly once")
  }

  test("reliable-checkpoint barrier: same result with a storage-backed dir") {
    val dir = java.nio.file.Files.createTempDirectory("graftccckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val s = spark; import s.implicits._
      val edges = (0 until 20).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
      val aliases = spark.createDataset(edges.map { case (a, b) => AliasPair(a, b, 1.0) })
      // threshold 0 forces the distributed loop (the barrier under test)
      val got = Canonicalize
        .connectedComponents(aliases, localSolveThreshold = 0L)
        .collect().map(c => c.name -> c.canonicalName).toMap
      val expected = bruteForce(edges)
      assert(expected.keys.forall(n => got.getOrElse(n, n) == expected(n)))
      // the barrier must have written to the reliable dir, and superseded
      // iterations' files must have been cleaned: only the final
      // iteration's rdd-N dir survives
      val base = java.nio.file.Paths.get(dir)
      val wrote = java.nio.file.Files.walk(base)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
      val rddDirs = java.nio.file.Files.walk(base)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rddDirs == 1, s"superseded checkpoints not cleaned: $rddDirs rdd dirs remain")
    } finally {
      // restore the default (local) barrier for the other suites
      org.apache.spark.sql.graftbridge.Bridge.clearCheckpointDir(spark.sparkContext)
    }
  }
}
