package graft.kg.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.charset.StandardCharsets

/** Per-stage checkpointing for resumable runs (north rule; SURVEY.md §7.7).
  *
  * Protocol: a stage result lands at `<root>/<stage>/data` (parquet) with a
  * `<root>/<stage>/_manifest.json` recording the stage-spec version, an
  * input fingerprint, and row count. On restart, a stage whose manifest
  * matches (same spec version + input fingerprint) is read back instead of
  * recomputed — mid-pipeline resume with lineage recorded per stage.
  * Counters come from `Dataset.count` at write time (observed metrics land
  * in [[Metrics]]).
  */
final class Checkpoint(spark: SparkSession, root: String, enabled: Boolean) {
  import org.apache.hadoop.fs.Path

  // stage data and manifests go through the store's FileSystem
  private lazy val fs = StoreFileSystem.forRoot(root, spark.sparkContext.hadoopConfiguration)._1
  private def read(path: String) = spark.read.options(StoreFileSystem.Options).parquet(path)

  private def manifestPath(stage: String) = new Path(s"$root/$stage/_manifest.json")
  private def dataPath(stage: String) = s"$root/$stage/data"

  private def readManifest(stage: String): Option[String] = {
    val p = manifestPath(stage)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeManifest(stage: String, content: String): Unit = {
    val out = fs.create(manifestPath(stage), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def manifestJson(specVersion: String, inputFingerprint: String,
      rows: Long, partRows: Seq[(String, Long)]): String = {
    val parts = partRows.map { case (f, n) => s""""$f":$n""" }.mkString("{", ",", "}")
    s"""{"specVersion":"$specVersion","inputFingerprint":"$inputFingerprint","rows":$rows,"partitionRows":$parts}"""
  }

  /** Run `compute` for `stage`, or read the prior result if a matching
    * checkpoint exists. `inputFingerprint` must change when upstream data
    * or config changes (content hash at small scale; table snapshot id in
    * production). */
  def stage(stageName: String, specVersion: String, inputFingerprint: String)(
      compute: => DataFrame): DataFrame = {
    if (!enabled) return compute
    val expectedPrefix =
      s"""{"specVersion":"$specVersion","inputFingerprint":"$inputFingerprint""""
    readManifest(stageName) match {
      case Some(m) if m.startsWith(expectedPrefix) =>
        read(dataPath(stageName))
      case _ =>
        val df = compute
        df.write.options(StoreFileSystem.Options).mode(SaveMode.Overwrite)
          .parquet(dataPath(stageName))
        val out = read(dataPath(stageName))
        // per-partition lineage: rows per written file (file = partition
        // of the stage output), one aggregation pass. The per-file list
        // is CAPPED: a 10^12-file-scale stage can emit millions of output
        // files, and collecting one row per file to the driver (and
        // inlining it in the manifest) would not survive that — beyond
        // the cap only the file count and total are recorded.
        import org.apache.spark.sql.functions.{count, input_file_name, lit}
        import org.apache.spark.sql.functions.sum
        val agg = out
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("rows"))
        // single pass in the common (under-cap) case: fetch cap+1 rows;
        // only when the stage emitted MORE files than the cap does a
        // second pass aggregate the totals
        val head = agg.limit(Checkpoint.MaxManifestFiles + 1).collect()
        val (totalRows, partRows) =
          if (head.length <= Checkpoint.MaxManifestFiles) {
            val rows = head
              .map(r => (new Path(r.getString(0)).getName, r.getLong(1)))
              .sortBy(_._1).toSeq
            (rows.map(_._2).sum, rows)
          } else {
            val stats = agg.agg(count(lit(1)), sum("rows")).head
            (stats.getLong(1), Seq(s"__${stats.getLong(0)}_files_elided__" -> -1L))
          }
        writeManifest(stageName,
          manifestJson(specVersion, inputFingerprint, totalRows, partRows))
        out
    }
  }
}

object Checkpoint {
  /** Manifest per-file-lineage cap: above this the manifest records the
    * file count + total rows only (a 10^12-file-scale stage can emit
    * millions of output files — the per-file list must not be
    * driver-collected or inlined at that size). */
  val MaxManifestFiles: Int = 4096
}
