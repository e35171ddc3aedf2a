package kgbench

import graft.kg.CorpusRow
import graft.kg.embed.{Embedder, HashEmbedder}
import graft.kg.oracle.KgOracle
import graft.kg.textspec.Stopwords

/** Expected answers for the benchmark's queries, computed in its own JVM from
  * the generator rows with `KgOracle`'s public helpers (chunking,
  * normalization, sentence split, SVO extraction) in the same
  * straight-line style as `KgOracle.Expected` — but over an arbitrary row
  * set instead of an sf directory, and with inverted indexes so building
  * it stays cheap at benchmark sizes. Exact-mode semantics: an edge is a
  * distinct lowered (s, p, o) with its minimum source chunkId. */
final class Expect(rows: Seq[CorpusRow], maxTokens: Int = 200) {
  import Expect._

  val chunks: Vector[C] = rows.toVector.flatMap { r =>
    val docId = s"${r.repo}:${r.path}@${r.commit}"
    KgOracle.chunkTexts(r.content, maxTokens).zipWithIndex.map { case (t, i) =>
      C(docId, s"${docId}_chunk$i", i, t)
    }
  }
  private val byId: Map[String, C] = chunks.map(c => c.chunkId -> c).toMap
  private val byDoc: Map[String, Vector[C]] = chunks.groupBy(_.docId)

  /** unigram (stopwords removed) → chunkId → occurrence count */
  private val unigrams: Map[String, Map[String, Int]] = chunks
    .flatMap(c => KgOracle.normalize(c.text)
      .filterNot(Stopwords.english.contains).map(t => (t, c.chunkId)))
    .groupBy(_._1).map { case (t, occ) =>
      t -> occ.groupBy(_._2).map { case (cid, xs) => cid -> xs.size } }

  /** Distinct lowered (s, p, o) → min source chunkId. */
  val edges: Map[(String, String, String), String] = chunks
    .flatMap(c => KgOracle.splitSentences(c.text).flatMap(KgOracle.extractSVO)
      .map { case (s, p, o) => ((s.toLowerCase, p.toLowerCase, o.toLowerCase), c.chunkId) })
    .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }

  val embedder: Embedder = new HashEmbedder()
  private lazy val vecs: Map[String, Array[Float]] =
    chunks.map(c => c.chunkId -> embedder.embedPassage(c.text)).toMap

  def termSearch(q: String, topK: Int = 10): Vector[(String, Double)] = {
    val qt = KgOracle.normalize(q).filterNot(Stopwords.english.contains).distinct
    qt.flatMap(t => unigrams.getOrElse(t, Map.empty).toVector)
      .groupBy(_._1).map { case (cid, xs) => (cid, xs.map(_._2).sum.toDouble) }
      .toVector.sortBy { case (cid, s) => (-s, cid) }.take(topK)
  }

  def vectorSearch(q: String, topK: Int = 10): Vector[(String, Double)] = {
    val qv = embedder.embedQuery(q)
    chunks.map(c => (c.chunkId, Embedder.dot(vecs(c.chunkId), qv)))
      .sortBy { case (cid, s) => (-s, cid) }.take(topK)
  }

  /** Exact top-k of `q` among the chunks `ids`. */
  def vectorTop(q: String, ids: Iterable[String], topK: Int = 10): Vector[(String, Double)] = {
    val qv = embedder.embedQuery(q)
    ids.toVector.distinct.map(c => (c, Embedder.dot(vecs(c), qv)))
      .sortBy { case (cid, s) => (-s, cid) }.take(topK)
  }

  def hybrid(vectorHits: Vector[(String, Double)], termHits: Vector[(String, Double)],
      topK: Int = 10, w: Double = 0.5): Vector[(String, Double)] = {
    val v = minMax(vectorHits).toMap
    val g = minMax(termHits).toMap
    (v.keySet ++ g.keySet).toVector
      .map(cid => (cid, v.getOrElse(cid, 0.0) * w + g.getOrElse(cid, 0.0) * (1.0 - w)))
      .sortBy { case (cid, s) => (-s, cid) }.take(topK)
  }

  /** withContext over the term hits: (chunkId, score, isMatch). */
  def context(q: String, contextSize: Int = 2): Vector[(String, Double, Boolean)] =
    termSearch(q).flatMap { case (hit, score) =>
      val h = byId(hit)
      byDoc(h.docId).filter(c => math.abs(c.index - h.index) <= contextSize)
        .map(c => (c.chunkId, if (c.chunkId == hit) score else 0.0, c.chunkId == hit))
    }.groupBy(_._1).values.map(_.maxBy(_._2)).toVector

  /** Relationship lookup over an (s, p, o) → sourceChunkId edge map with a
    * name → canonical name map (identity when empty): per-entity top-k by
    * (s, p, o), global cap topK · entities; rows (entity, s, p, o, src). */
  def relationships(q: String, edgeMap: Map[(String, String, String), String],
      canon: Map[String, String] = Map.empty, topK: Int = 10)
      : Vector[(String, String, String, String, String)] = {
    val ents = EntityRe.findAllIn(q).map(_.toLowerCase).toVector.distinct
    ents.flatMap { e =>
      val ce = canon.getOrElse(e, e)
      edgeMap.toVector.collect { case ((s, p, o), src) if s == ce || o == ce =>
        (e, s, p, o, src) }.sortBy(r => (r._2, r._3, r._4)).take(topK)
    }.sortBy(r => (r._1, r._2, r._3, r._4)).take(topK * math.max(ents.size, 1))
  }
}

object Expect {
  final case class C(docId: String, chunkId: String, index: Int, text: String)

  val EntityRe = "[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*".r

  private def minMax(rs: Vector[(String, Double)]): Vector[(String, Double)] =
    if (rs.isEmpty) rs
    else {
      val mn = rs.map(_._2).min; val mx = rs.map(_._2).max
      rs.map { case (c, s) => (c, if (mx == mn) 1.0 else (s - mn) / (mx - mn)) }
    }

  /** A ranked (id, score) answer matches the expectation when the scores
    * agree position by position (1e-6) and the ids agree except among
    * entries tied with the last-ranked score (top-k boundary ties may
    * pick either member). */
  def sameRanking(got: Seq[(String, Double)], want: Seq[(String, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case (a, b) =>
      math.abs(a._2 - b._2) <= 1e-6 } && {
      val floor = if (want.isEmpty) 0.0 else want.map(_._2).min
      def above(xs: Seq[(String, Double)]) = xs.filter(_._2 > floor + 1e-6).map(_._1).toSet
      above(got) == above(want)
    }
}
