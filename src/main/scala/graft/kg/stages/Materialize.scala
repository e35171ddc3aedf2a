package graft.kg.stages

import graft.kg._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Graph materialization (reference `core/triplets.py:353-369` MERGE
  * semantics, SURVEY.md §2.9 U4): every write is an upsert, so the emitted
  * graph is a SET — entities keyed by lowercased name, RELATES_TO edges
  * keyed by (subj, pred, obj). We reproduce that as `dropDuplicates` /
  * group-by on the MERGE keys (the P/R-defining operator), plus real
  * provenance (`sourceChunkId`) which the reference queries but never
  * writes (`retrieval.py:283,291`).
  *
  * Determinism (SURVEY.md §7.6.3): the reference's `ON CREATE SET
  * embeddings` / `ON MATCH SET triplet_part` are write-order-dependent; we
  * pin them with lineage order — `triplet_part` = role of the MAX
  * (docId, chunkId, sentIdx) occurrence (last writer), embeddings are
  * order-free because the hash embedder is case-insensitively
  * deterministic per name.
  */
object Materialize {

  /** Distinct lowercased (subj, pred, obj) edges, label='triplet', with
    * deterministic min-lineage provenance. This set IS the P/R target. */
  def edges(triples: Dataset[Triple]): Dataset[RelatesToEdge] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples
      .select(
        lower($"subj").as("subj"),
        lower($"pred").as("pred"),
        lower($"obj").as("obj"),
        struct($"docId", $"chunkId", $"sentIdx").as("lineage"))
      .groupBy($"subj", $"pred", $"obj")
      .agg(min($"lineage.chunkId").as("sourceChunkId"))
      .select($"subj", $"pred", $"obj", lit("triplet").as("label"),
        $"sourceChunkId")
      .as[RelatesToEdge]
  }

  /** Canonicalized edge set: subj/pred/obj mapped through the canonical
    * mapping, then re-deduped on the canonical key.
    *
    * Join strategy: `salted = false` (default) broadcasts the mapping —
    * right when distinct mentions ≪ edges. At 10^12-file scale the
    * mention vocabulary can outgrow broadcast AND hub entities ("main",
    * "utils") make the edge side skewed on the join key — `salted = true`
    * switches to [[graft.ops.Skew.saltedEquiJoin]]: the edge side gets a
    * per-row salt, the mapping is replicated ×salt, and each hub key
    * spreads over `salt` reducers instead of one straggler task. Requires
    * the COMPLETE canonical map (identity rows included — what
    * [[graft.kg.stages.Canonicalize.canonicalMap]] produces). */
  def canonicalEdges(
      edges: Dataset[RelatesToEdge],
      canon: Dataset[CanonicalMapping],
      salted: Boolean = false,
      salt: Int = 8): Dataset[RelatesToEdge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val remapped: DataFrame =
      if (!salted) {
        val c = broadcast(canon.toDF()) // distinct mentions ≪ edges at scale
        def mapped(colName: String) =
          coalesce(col("c_" + colName + ".canonicalName"), col(colName))
        edges.toDF()
          .join(c.select($"name".as("subj"), struct($"canonicalName").as("c_subj")), Seq("subj"), "left")
          .join(c.select($"name".as("pred"), struct($"canonicalName").as("c_pred")), Seq("pred"), "left")
          .join(c.select($"name".as("obj"), struct($"canonicalName").as("c_obj")), Seq("obj"), "left")
          .select(
            mapped("subj").as("subj"), mapped("pred").as("pred"),
            mapped("obj").as("obj"), $"label", $"sourceChunkId")
      } else {
        val c = canon.toDF()
        def remap(df: DataFrame, colName: String): DataFrame =
          graft.ops.Skew.saltedEquiJoin(
            df.withColumnRenamed(colName, "__k"),
            c.select($"name".as("__k"), $"canonicalName".as("__c")),
            "__k", salt)
            .withColumn(colName, col("__c"))
            .drop("__k", "__c")
        Seq("subj", "pred", "obj").foldLeft(edges.toDF())(remap)
          .select($"subj", $"pred", $"obj", $"label", $"sourceChunkId")
      }
    remapped
      .groupBy($"subj", $"pred", $"obj")
      .agg(min($"sourceChunkId").as("sourceChunkId"), first($"label").as("label"))
      .select($"subj", $"pred", $"obj", $"label", $"sourceChunkId")
      .as[RelatesToEdge]
  }

  /** Entity vertices: subject/object mentions only (predicates become edge
    * names, reference `triplets.py:363`), `triplet_part` = last-writer by
    * lineage made deterministic via max_by, embeddings from the mention
    * embedding table. A name `canon` does not hold maps to itself, so the
    * CC output alone (linked names only) is a complete `canon`.
    *
    * Join strategy mirrors [[canonicalEdges]]: by default the canonical
    * map is broadcast;
    * `broadcastCanon = false` is for the regime where the mention
    * vocabulary outgrows broadcast — the join is a plain equi-join on
    * `name` with no hub skew (names are distinct on the probe side), so
    * the planner's sort-merge is the right shape there and no salting is
    * needed. Without this flag the vertex build would OOM by construction
    * exactly when the edge rewrite has already switched to its salted
    * path. */
  def vertices(
      triples: Dataset[Triple],
      mentionVecs: DataFrame, // (name, vec)
      canon: Dataset[CanonicalMapping],
      broadcastCanon: Boolean = true): Dataset[EntityVertex] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val occurrences = triples.select(
        explode(array(
          struct(lower($"subj").as("name"), lit("subject").as("role"),
            struct($"docId", $"chunkId", $"sentIdx").as("lineage")),
          struct(lower($"obj").as("name"), lit("object").as("role"),
            struct($"docId", $"chunkId", $"sentIdx").as("lineage")))).as("m"))
      .select($"m.name", $"m.role", $"m.lineage")

    // tie-break: a self-referential triple (subj == obj) yields two
    // occurrences with IDENTICAL lineage — fold the role into the max_by
    // ordering so the winner is deterministic ("subject" > "object")
    val parts = occurrences
      .groupBy($"name")
      .agg(max_by($"role", struct($"lineage", $"role")).as("tripletPart"))

    val canonSide = if (broadcastCanon) broadcast(canon.toDF()) else canon.toDF()
    parts
      .join(mentionVecs, Seq("name"), "left")
      .join(canonSide, Seq("name"), "left")
      .select($"name",
        coalesce($"canonicalName", $"name").as("canonicalName"),
        coalesce($"vec", array().cast("array<float>")).as("vec"),
        $"tripletPart")
      .as[EntityVertex]
  }

  /** The reference's J4 cross-product alias edges (`triplets.py:371-398`),
    * derivable from canonical components for P/R comparison against a
    * vector-enabled reference run: for each base triple whose subj, pred
    * AND obj all have ≥1 alias, emit every (subjAlias, predAlias, objAlias)
    * combination. Not part of the canonical output — comparison only. */
  def referenceCrossProductEdges(
      edges: Dataset[RelatesToEdge],
      aliases: Dataset[AliasPair]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // alias set per name INCLUDING itself (reference unions exact hit)
    val aliasSets = aliases.select($"a".as("name"), $"b".as("alias"))
      .unionByName(aliases.select($"a".as("name"), $"a".as("alias")))
      .unionByName(aliases.select($"b".as("name"), $"b".as("alias")))
      .distinct()
      .groupBy($"name").agg(collect_set($"alias").as("aliases"))
    val a = broadcast(aliasSets)
    edges.toDF()
      .join(a.select($"name".as("subj"), $"aliases".as("sa")), Seq("subj"), "inner")
      .join(a.select($"name".as("pred"), $"aliases".as("pa")), Seq("pred"), "inner")
      .join(a.select($"name".as("obj"), $"aliases".as("oa")), Seq("obj"), "inner")
      .select(explode($"sa").as("subj2"), $"pa", $"oa")
      .select($"subj2", explode($"pa").as("pred2"), $"oa")
      .select($"subj2".as("subj"), $"pred2".as("pred"), explode($"oa").as("obj"))
      .distinct()
  }
}
