package graft.kg.oracle

import graft.kg.embed.{Embedder, HashEmbedder}
import graft.kg.extract.RuleSVOExtractor
import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.StoreFileSystem
import graft.kg.textspec.Stopwords
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** INDEPENDENT expected-set oracle for the KG pipeline (VERDICT r1 #3).
  *
  * A straight-line, single-pass, collections-only reimplementation of the
  * written spec (SURVEY.md §7.5) — deliberately SEPARATE from the
  * pipeline code: no imports from `graft.kg.stages` / `graft.kg.textspec`
  * logic (only the pinned DATA constants [[Stopwords.english]] and
  * [[RuleSVOExtractor.lexicon]] and the [[HashEmbedder]] model are
  * shared, so a data typo cannot make both sides agree by accident while
  * the LOGIC is written twice).
  *
  * `Verify` writes these expected tables to a sibling directory OUTSIDE
  * the scanned result dir (`<out>__kgexpected/<name>`) and rewrites each
  * kg_* oracle SQL to `read_parquet('<expectedDir>/...')`,
  * so the driver's DuckDB hash-compare checks pipeline output against an
  * independently computed expectation — converting the kg_* family from
  * rows-only to full tri-green rows in CORRECTNESS_r{N}.json.
  */
object KgOracle {

  /** Fixture query of the canonical relationship family — shared by
    * [[writeExpected]] and `graft.Queries` so both sides compute the same
    * expectation. The surface forms `Mergelib` / `Parselib` are ALIASES
    * (non-canonical members) of linked components at sf0.01 — the
    * canonical lookup provably answers differently (more edges, under the
    * merged canonical names) than the base-edge path would. */
  val canonicalRelQuery = "What links Mergelib and Parselib?"

  // ===== text spec, reimplemented straight-line =====

  private def isWordChar(c: Char): Boolean =
    c == '_' || c.isLetterOrDigit

  /** Tokenizer spec: maximal [letterOrDigit_] runs; any other
    * non-whitespace char is its own token. */
  def tokenize(text: String): Vector[String] = {
    if (text == null) return Vector.empty
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c.isWhitespace) i += 1
      else if (isWordChar(c)) {
        val start = i
        while (i < text.length && isWordChar(text(i))) i += 1
        out += text.substring(start, i)
      } else { out += c.toString; i += 1 }
    }
    out.result()
  }

  def tokenCount(text: String): Int = tokenize(text).length

  private def isAlnum(t: String): Boolean =
    t.nonEmpty && t.forall(_.isLetterOrDigit)

  def normalize(text: String): Vector[String] =
    tokenize(text).filter(isAlnum).map(_.toLowerCase)

  /** Sentence-splitter spec: boundary = terminator run [.!?]+ (+ closers)
    * followed by whitespace then capital/digit/opener (or a blank line /
    * end of text); a '.' after a known abbreviation or single letter is
    * not a boundary. Reimplemented with a regex-scan rather than the
    * pipeline's char state machine. */
  private val abbreviations = Set(
    "mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc",
    "e.g", "i.e", "fig", "al", "inc", "ltd", "co", "corp", "no", "dept",
    "est", "approx", "min", "max", "vol", "pp", "ed", "eds", "cf")

  def splitSentences(text: String): Vector[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    val closers = "\"')]”’"
    val openers = "\"'([“‘"
    var start = 0
    var i = 0
    def emit(end: Int): Unit = {
      val s = text.substring(start, end).trim
      if (s.nonEmpty) out += s
    }
    while (i < text.length) {
      val c = text(i)
      if (c == '\n') {
        var j = i + 1; var nl = 1
        while (j < text.length && text(j).isWhitespace) {
          if (text(j) == '\n') nl += 1
          j += 1
        }
        if (nl >= 2) { emit(i); start = j; i = j } else i += 1
      } else if (c == '.' || c == '!' || c == '?') {
        var j = i
        while (j < text.length && (text(j) == '.' || text(j) == '!' || text(j) == '?')) j += 1
        var k = j
        while (k < text.length && closers.indexOf(text(k)) >= 0) k += 1
        val multi = (j - i) > 1
        val prevWord = {
          var e = i; var s0 = e
          while (s0 > 0 && !text(s0 - 1).isWhitespace) s0 -= 1
          text.substring(s0, e).stripSuffix(".").toLowerCase
        }
        val abbrev = c == '.' && !multi &&
          (abbreviations.contains(prevWord) || (prevWord.length == 1 && prevWord.head.isLetter))
        if (!abbrev) {
          if (k >= text.length) { emit(k); start = k; i = k }
          else {
            var m = k
            while (m < text.length && (text(m) == ' ' || text(m) == '\t')) m += 1
            val nlNext = m < text.length && text(m) == '\n'
            val capNext = m < text.length && m > k &&
              (text(m).isUpper || text(m).isDigit || openers.indexOf(text(m)) >= 0)
            if (capNext || nlNext) { emit(k); start = m; i = m } else i = k
          }
        } else i = k
      } else i += 1
    }
    if (start < text.length) emit(text.length)
    out.result()
  }

  /** Greedy sentence-packing chunker spec: flush when the next sentence
    * would exceed the budget and the current chunk is non-empty. */
  def chunkTexts(content: String, maxTokens: Int): Vector[String] = {
    val sents = splitSentences(content)
    val chunks = Vector.newBuilder[Vector[String]]
    var cur = Vector.empty[String]
    var len = 0
    sents.foreach { s =>
      val n = tokenCount(s)
      if (len + n > maxTokens && cur.nonEmpty) {
        chunks += cur; cur = Vector.empty; len = 0
      }
      cur = cur :+ s; len += n
    }
    if (cur.nonEmpty) chunks += cur
    chunks.result().map(_.mkString(" "))
  }

  /** SVO extractor spec, rescanned independently: earliest lexicon phrase
    * (longest at that position), subject before / object after, both
    * non-empty with ≥1 alphanumeric-or-underscore token. */
  private val lexiconByLen: Vector[Vector[String]] =
    RuleSVOExtractor.lexicon.map(_.split(' ').toVector).sortBy(-_.length)

  def extractSVO(sentence: String): Option[(String, String, String)] = {
    val raw = tokenize(sentence)
    var end = raw.length
    def isPunct(t: String) = !isAlnum(t) && !t.contains('_')
    while (end > 0 && isPunct(raw(end - 1))) end -= 1
    val toks = raw.take(end)
    val lower = toks.map(_.toLowerCase)
    var i = 1
    while (i < toks.length) {
      val hit = lexiconByLen.find { p =>
        i + p.length < toks.length && lower.slice(i, i + p.length) == p
      }
      hit match {
        case Some(p) =>
          val subjToks = toks.slice(0, i)
          val objToks = toks.slice(i + p.length, toks.length)
          def hasWord(ts: Vector[String]) = ts.exists(t => isAlnum(t) || t.contains('_'))
          return if (hasWord(subjToks) && hasWord(objToks))
            Some((subjToks.mkString(" "), p.mkString(" "), objToks.mkString(" ")))
          else None
        case None => i += 1
      }
    }
    None
  }

  // ===== expected tables over the deterministic corpus =====

  final case class OChunk(docId: String, chunkId: String, index: Int, text: String, nTokens: Int)
  final case class OTriple(docId: String, chunkId: String, sentIdx: Int,
      subj: String, pred: String, obj: String)

  final class Expected(val sfDir: String) {
    private val (repos, files) = graft.SparkEntry.corpusShape(sfDir)
    val rows = CorpusGen.generate(repos, files, seed = 42L).rows

    val chunks: Vector[OChunk] = rows.flatMap { r =>
      val docId = s"${r.repo}:${r.path}@${r.commit}"
      chunkTexts(r.content, maxTokens = 200).zipWithIndex.map { case (t, i) =>
        OChunk(docId, s"${docId}_chunk$i", i, t, tokenCount(t))
      }
    }

    /** (chunkId, text, termType) with duplicates kept (in-flight shape). */
    val terms: Vector[(String, String, String)] = chunks.flatMap { c =>
      val toks = normalize(c.text)
      val uni = toks.filterNot(Stopwords.english.contains)
      val bi = if (toks.size < 2) Vector.empty[String]
        else toks.sliding(2).map(_.mkString(" ")).toVector
      val tri = if (toks.size < 3) Vector.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toVector
      uni.map((c.chunkId, _, "unigram")) ++
        bi.map((c.chunkId, _, "bigram")) ++ tri.map((c.chunkId, _, "trigram"))
    }

    val triples: Vector[OTriple] = chunks.flatMap { c =>
      splitSentences(c.text).zipWithIndex.flatMap { case (s, si) =>
        extractSVO(s).map { case (a, p, b) => OTriple(c.docId, c.chunkId, si, a, p, b) }
      }
    }

    /** Exact-mode edge set: distinct lowered (s,p,o) with min chunkId. */
    val edges: Vector[(String, String, String, String, String)] =
      triples.groupBy(t => (t.subj.toLowerCase, t.pred.toLowerCase, t.obj.toLowerCase))
        .map { case ((s, p, o), ts) => (s, p, o, "triplet", ts.map(_.chunkId).min) }
        .toVector

    /** Exact-mode vertices: (name, canonicalName=name, tripletPart). */
    val vertices: Vector[(String, String, String)] = {
      val occ = triples.flatMap { t =>
        val lin = (t.docId, t.chunkId, t.sentIdx)
        Vector((t.subj.toLowerCase, "subject", lin), (t.obj.toLowerCase, "object", lin))
      }
      occ.groupBy(_._1).map { case (name, os) =>
        // max_by(role, (lineage, role)) — deterministic tie-break
        val part = os.maxBy { case (_, role, (d, c, s)) => (d, c, s, role) }._2
        (name, name, part)
      }.toVector
    }

    // ---- retrieval expectations (exact mode) ----

    val embedder: Embedder = new HashEmbedder()
    private lazy val chunkVecs: Map[String, Array[Float]] =
      chunks.map(c => c.chunkId -> embedder.embedPassage(c.text)).toMap
    private lazy val chunkText: Map[String, String] =
      chunks.map(c => c.chunkId -> c.text).toMap

    def termSearch(query: String, topK: Int = 10): Vector[(String, Double, String)] = {
      val q = normalize(query).filterNot(Stopwords.english.contains).distinct.toSet
      if (q.isEmpty) return Vector.empty
      terms.filter(t => t._3 == "unigram" && q.contains(t._2))
        .groupBy(_._1).map { case (cid, ts) => (cid, ts.size.toDouble) }
        .toVector
        .sortBy { case (cid, sc) => (-sc, cid) }
        .take(topK)
        .map { case (cid, sc) => (cid, sc, chunkText(cid)) }
    }

    def vectorSearch(query: String, topK: Int = 10): Vector[(String, Double, String)] = {
      val qv = embedder.embedQuery(query)
      chunks.map(c => (c.chunkId, Embedder.dot(chunkVecs(c.chunkId), qv)))
        .sortBy { case (cid, sc) => (-sc, cid) }
        .take(topK)
        .map { case (cid, sc) => (cid, sc, chunkText(cid)) }
    }

    private def minMax(rs: Vector[(String, Double, String)]): Vector[(String, Double, String)] =
      if (rs.isEmpty) rs
      else {
        val mn = rs.map(_._2).min; val mx = rs.map(_._2).max
        rs.map { case (c, s, t) => (c, if (mx == mn) 1.0 else (s - mn) / (mx - mn), t) }
      }

    def hybridSearch(query: String, topK: Int = 10, w: Double = 0.5)
        : Vector[(String, Double, String)] = {
      val v = minMax(vectorSearch(query, topK)).map(r => r._1 -> r).toMap
      val g = minMax(termSearch(query, topK)).map(r => r._1 -> r).toMap
      (v.keySet ++ g.keySet).toVector.map { cid =>
        val vs = v.get(cid).map(_._2).getOrElse(0.0)
        val gs = g.get(cid).map(_._2).getOrElse(0.0)
        val text = v.get(cid).map(_._3).orElse(g.get(cid).map(_._3)).get
        (cid, vs * w + gs * (1.0 - w), text)
      }.sortBy { case (cid, sc, _) => (-sc, cid) }.take(topK)
    }

    /** withContext over termSearch hits: ±contextSize within the doc,
      * best-score dedup, ordered (score desc, docId, index). */
    def contextSearch(query: String, contextSize: Int = 2)
        : Vector[(String, String, Int, String, Double, Boolean)] = {
      val hits = termSearch(query)
      val byDoc = chunks.groupBy(_.docId)
      val byId = chunks.map(c => c.chunkId -> c).toMap
      val rows = hits.flatMap { case (hitId, score, _) =>
        val h = byId(hitId)
        byDoc(h.docId).filter(c => math.abs(c.index - h.index) <= contextSize).map { c =>
          val isMatch = c.chunkId == hitId
          (c.chunkId, c.text, c.index, c.docId, if (isMatch) score else 0.0, isMatch)
        }
      }
      rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._5) }.toVector
        .sortBy { case (_, _, idx, doc, sc, _) => (-sc, doc, idx) }
    }

    /** relationshipSearch: capitalized-phrase entities, per-entity edge
      * top-k by (subj, pred, obj), global cap topK * entities. */
    def relationshipSearch(query: String, topK: Int = 10)
        : Vector[(String, String, String, String, String, String)] = {
      val entities = "[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*".r
        .findAllIn(query).map(_.toLowerCase).toVector.distinct
      if (entities.isEmpty) return Vector.empty
      val exploded = edges.flatMap { case (s, p, o, l, src) =>
        entities.filter(e => e == s || e == o).map(e => (s, p, o, l, src, e))
      }
      exploded.groupBy(_._6).toVector.flatMap { case (_, es) =>
        es.sortBy(e => (e._1, e._2, e._3)).take(topK)
      }.sortBy(e => (e._6, e._1, e._2, e._3))
        .take(topK * math.max(entities.size, 1))
    }

    /** ANN vector search expectation — straight-line reimplementation of
      * the sign-sketch spec (weight(pid, i) = +1 iff the first hex digit
      * of md5("<pid>_<i>") is odd; L tables × K bits; query probes its
      * sketch plus every Hamming-1 bucket; candidates re-scored exact):
      * deliberately independent of `graft.kg.retrieve.VectorIndex`. */
    def vectorAnn(query: String, topK: Int = 10, probesPerTable: Int = 32,
        nTables: Int = 4, bits: Int = 8): Vector[(String, Double, String)] = {
      val qv = embedder.embedQuery(query)
      val dim = qv.length
      def planeW(pid: Int): Array[Float] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(dim) { i =>
          val b0 = md.digest(s"${pid}_$i".getBytes("UTF-8"))(0)
          if ((((b0 >> 4) & 0xf) % 2) == 1) 1.0f else -1.0f
        }
      }
      val planes = Vector.tabulate(nTables * bits)(planeW)
      // per-plane MEDIAN projection threshold over the indexed chunk set
      // (the balanced-bucket layout): exact percentile at p = 0.5 with
      // Spark's interpolation — position 0.5·(n−1) in the sorted
      // projections, linear between the bracketing values
      val chunkIds = chunks.map(_.chunkId)
      val thresholds: Vector[Double] = Vector.tabulate(nTables * bits) { pid =>
        val projs = chunkIds.map(cid => Embedder.dot(chunkVecs(cid), planes(pid)))
          .sorted
        if (projs.isEmpty) 0.0
        else {
          val pos = 0.5 * (projs.length - 1)
          val lo = pos.toInt
          if (lo == projs.length - 1) projs(lo)
          else projs(lo) + (pos - lo) * (projs(lo + 1) - projs(lo))
        }
      }
      def sketch(v: Array[Float], l: Int): Int =
        (0 until bits).map { p =>
          val pid = l * bits + p
          if (Embedder.dot(v, planes(pid)) > thresholds(pid)) 1 << p else 0
        }.sum
      // query-directed multi-probe: per table, rank masks by the summed
      // squared margin of the flipped bits ((loss, mask) key — the same
      // deterministic order as VectorIndex.queryBuckets) and probe the
      // cheapest probesPerTable of them
      val probed: Set[(Int, Int)] = (0 until nTables).flatMap { l =>
        val margins = Array.tabulate(bits) { p =>
          val pid = l * bits + p
          Embedder.dot(qv, planes(pid)) - thresholds(pid)
        }
        val base = (0 until bits).map(p => if (margins(p) > 0) 1 << p else 0).sum
        val ranked = (0 until (1 << bits)).sortBy { m =>
          ((0 until bits)
            .filter(p => (m & (1 << p)) != 0)
            .map(p => margins(p) * margins(p)).sum, m)
        }
        ranked.take(probesPerTable).map(m => (l, base ^ m))
      }.toSet
      chunks
        .filter(c => (0 until nTables)
          .exists(l => probed.contains((l, sketch(chunkVecs(c.chunkId), l)))))
        .map(c => (c.chunkId, Embedder.dot(chunkVecs(c.chunkId), qv)))
        .sortBy { case (cid, sc) => (-sc, cid) }
        .take(topK)
        .map { case (cid, sc) => (cid, sc, chunkText(cid)) }
    }

    // ---- canonical-graph expectations (lsh mode) ----

    /** Canonical edge set under lsh linking: base edges remapped through
      * the [[canonicalLsh]] map (identity for unlinked names), re-deduped
      * on the canonical (subj, pred, obj) key with min provenance — the
      * straight-line form of the Materialize.canonicalEdges spec. */
    lazy val canonicalEdgesLsh: Vector[(String, String, String, String, String)] = {
      val cmap = canonicalLsh().toMap
      edges
        .map { case (s, p, o, _, src) =>
          (cmap.getOrElse(s, s), cmap.getOrElse(p, p), cmap.getOrElse(o, o), src) }
        .groupBy(e => (e._1, e._2, e._3))
        .map { case ((s, p, o), es) => (s, p, o, "triplet", es.map(_._4).min) }
        .toVector
    }

    /** Canonical relationship lookup: query surface forms canonicalized
      * through the lsh map, per-canonical-entity edge filter over
      * [[canonicalEdgesLsh]], `entity` column = the QUERY's surface form,
      * same per-entity top-k + global cap as [[relationshipSearch]]. */
    def relationshipSearchCanonical(query: String, topK: Int = 10)
        : Vector[(String, String, String, String, String, String)] = {
      val cmap = canonicalLsh().toMap
      val entities = "[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*".r
        .findAllIn(query).map(_.toLowerCase).toVector.distinct
      if (entities.isEmpty) return Vector.empty
      val pairs = entities.map(e => (e, cmap.getOrElse(e, e)))
      val exploded = canonicalEdgesLsh.flatMap { case (s, p, o, l, src) =>
        pairs.collect { case (qe, ce) if ce == s || ce == o =>
          (s, p, o, l, src, qe) }
      }
      exploded.groupBy(_._6).toVector.flatMap { case (_, es) =>
        es.sortBy(e => (e._1, e._2, e._3)).take(topK)
      }.sortBy(e => (e._6, e._1, e._2, e._3))
        .take(topK * math.max(entities.size, 1))
    }

    // ---- LSH canonicalization expectation ----

    /** Char-3-gram shingle set with sentinels (blocking feature space). */
    private def shingleSet(name: String): Set[String] = {
      val s = "" + name.toLowerCase + ""
      if (s.length < 3) Set(s) else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
    }

    private def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

    /** Expected canonical mapping under lsh linking, mirroring the
      * pipeline's DETERMINISTIC blocking spec: candidates = pairs sharing
      * any md5-band minhash of their char-3-gram shingle sets whose band
      * bucket has ≤ maxBucket members (oversized buckets are dropped
      * whole, mirroring the pipeline's skew cap), filtered at exact
      * shingle-Jaccard distance ≤ cap AND cosine ≥ threshold, symmetric
      * top-K per probe, union-find components, canonical = lexicographic
      * min; non-identity rows only. */
    def canonicalLsh(threshold: Double = 0.85, topK: Int = 10,
        jaccardCap: Double = 0.7, numBands: Int = 8,
        maxBucket: Int = 256): Vector[(String, String)] = {
      val mentions = triples.flatMap(t =>
        Vector(t.subj.toLowerCase, t.pred.toLowerCase, t.obj.toLowerCase)).distinct.sorted
      val vecs = mentions.map(m => m -> embedder.embedPassage(m)).toMap
      val sh = mentions.map(m => m -> shingleSet(m)).toMap
      // band minhash b = min over shingles g of md5("b|" + g)
      val sigs: Map[String, Vector[String]] = mentions.map { m =>
        m -> (0 until numBands).map(b => sh(m).map(g => md5hex(s"$b|$g")).min).toVector
      }.toMap
      // band-bucket sizes: (band, minhash) → member count (for the cap)
      val bucketSize: Map[(Int, String), Int] = mentions
        .flatMap(m => (0 until numBands).map(b => (b, sigs(m)(b))))
        .groupBy(identity).map { case (k, vs) => k -> vs.size }
      val pairs = for {
        ai <- mentions.indices.toVector
        bi <- (ai + 1) until mentions.length
        a = mentions(ai); b = mentions(bi)
        // band collision in a non-oversized bucket
        if (0 until numBands).exists(k =>
          sigs(a)(k) == sigs(b)(k) && bucketSize((k, sigs(a)(k))) <= maxBucket)
        inter = (sh(a) intersect sh(b)).size.toDouble
        union = (sh(a) union sh(b)).size.toDouble
        if 1.0 - inter / union <= jaccardCap
        score = Embedder.dot(vecs(a), vecs(b))
        if score >= threshold
      } yield (a, b, score)
      val sym = pairs ++ pairs.map { case (a, b, s) => (b, a, s) }
      val kept = sym.groupBy(_._1).toVector.flatMap { case (_, ps) =>
        ps.sortBy { case (_, b, s) => (-s, b) }.take(topK)
      }
      // union-find over kept pairs (iterative find — stack-safe on long
      // alias chains, same shape as the pipeline's local solve)
      val parent = mutable.Map.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      kept.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = kept.flatMap(p => Vector(p._1, p._2)).distinct
      val canon = nodes.groupBy(find).flatMap { case (_, ns) =>
        val m = ns.min
        ns.map(_ -> m)
      }
      mentions.flatMap { m =>
        val c = canon.getOrElse(m, m)
        if (c != m) Some((m, c)) else None
      }
    }
  }

  // ===== parquet dump for the DuckDB compare =====

  /** Write all expected kg_* tables under `<expectedDir>/<name>`, with
    * column names/types matching the Verify query dumps. `expectedDir`
    * must live OUTSIDE the Verify result directory the driver scans —
    * these are oracle INPUTS (read back by the kg_* oracle SQL), not
    * query results, and a dump inside the scanned dir would surface as a
    * phantom oracle-less query row. The dump writes through the store's
    * FileSystem options, which set file modes without a forked `chmod`. */
  def writeExpected(spark: SparkSession, sfDir: String, expectedDir: String): Unit = {
    import spark.implicits._
    val e = new Expected(sfDir)
    def put(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.options(StoreFileSystem.Options)
        .mode("overwrite").parquet(s"$expectedDir/$name")

    put("kg_chunks", e.chunks.toDF())
    put("kg_terms", spark.createDataset(e.terms).toDF("chunkId", "text", "termType")
      .groupBy("chunkId", "text", "termType")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("tf")))
    put("kg_edges", e.edges.toDF("subj", "pred", "obj", "label", "sourceChunkId"))
    put("kg_vertices", e.vertices.toDF("name", "canonicalName", "tripletPart"))
    put("kg_canonical_lsh", e.canonicalLsh().toDF("name", "canonicalName"))
    put("kg_hybrid_search",
      e.hybridSearch("utils imports module parseTree").toDF("chunkId", "score", "text"))
    put("kg_context_search",
      e.contextSearch("parseTree utils")
        .toDF("chunkId", "text", "index", "docId", "score", "is_match"))
    put("kg_relationship_search",
      e.relationshipSearch("What does Utils use?")
        .toDF("subj", "pred", "obj", "label", "sourceChunkId", "entity"))
    put("kg_vector_ann",
      e.vectorAnn("utils imports module parseTree").toDF("chunkId", "score", "text"))
    put("kg_canonical_edges",
      e.canonicalEdgesLsh.toDF("subj", "pred", "obj", "label", "sourceChunkId"))
    put("kg_relationship_search_canonical",
      e.relationshipSearchCanonical(canonicalRelQuery)
        .toDF("subj", "pred", "obj", "label", "sourceChunkId", "entity"))
  }

  /** Oracle SQL for the kg_* family: read the expected parquet back.
    * `{OUT}` is substituted with the actual expected dir by [[graft.Verify]]. */
  val oracles: Map[String, String] = Map(
    "kg_chunks" ->
      "SELECT * FROM read_parquet('{OUT}/kg_chunks/*.parquet') ORDER BY chunkId",
    "kg_terms" ->
      "SELECT * FROM read_parquet('{OUT}/kg_terms/*.parquet') ORDER BY chunkId, termType, text",
    "kg_edges" ->
      "SELECT * FROM read_parquet('{OUT}/kg_edges/*.parquet') ORDER BY subj, pred, obj",
    "kg_vertices" ->
      "SELECT * FROM read_parquet('{OUT}/kg_vertices/*.parquet') ORDER BY name",
    "kg_canonical_lsh" ->
      "SELECT * FROM read_parquet('{OUT}/kg_canonical_lsh/*.parquet') ORDER BY name",
    "kg_hybrid_search" ->
      "SELECT * FROM read_parquet('{OUT}/kg_hybrid_search/*.parquet') ORDER BY score DESC, chunkId",
    "kg_context_search" ->
      "SELECT * FROM read_parquet('{OUT}/kg_context_search/*.parquet') ORDER BY score DESC, docId, \"index\"",
    "kg_relationship_search" ->
      "SELECT * FROM read_parquet('{OUT}/kg_relationship_search/*.parquet') ORDER BY entity, subj, pred, obj",
    "kg_vector_ann" ->
      "SELECT * FROM read_parquet('{OUT}/kg_vector_ann/*.parquet') ORDER BY score DESC, chunkId",
    "kg_canonical_edges" ->
      "SELECT * FROM read_parquet('{OUT}/kg_canonical_edges/*.parquet') ORDER BY subj, pred, obj",
    "kg_relationship_search_canonical" ->
      "SELECT * FROM read_parquet('{OUT}/kg_relationship_search_canonical/*.parquet') ORDER BY entity, subj, pred, obj")
}
