package graft.kg.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Stage metrics via `Dataset.observe` (SURVEY.md §7.7): row counters are
  * attached to the lazy plan (zero extra passes — they piggyback on
  * whatever action executes the stage) and collected by a
  * QueryExecutionListener into a process-wide snapshot, which
  * [[Pipeline.materialize]] folds into the checkpoint manifests.
  */
object Metrics {

  private val observed = new ConcurrentHashMap[String, Long]()
  private val registered = ConcurrentHashMap.newKeySet[SparkSession]()

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_")) {
          val idx = row.schema.fieldNames.indexOf("rows")
          if (idx >= 0 && !row.isNullAt(idx))
            observed.put(name.stripPrefix("graft_"), row.getLong(idx))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit =
    if (registered.add(spark)) spark.listenerManager.register(Listener)

  /** Attach a row counter named `stage` to the frame's plan. */
  def observeRows(df: DataFrame, stage: String): DataFrame = {
    register(df.sparkSession)
    df.observe(s"graft_$stage", count(lit(1)).as("rows"))
  }

  /** All stage counters observed so far in this process. */
  def snapshot: Map[String, Long] = observed.asScala.toMap

  private val accumulators =
    new ConcurrentHashMap[String, org.apache.spark.util.LongAccumulator]()

  /** Per-stage row accumulator for OBJECT-SPACE stages: a `CollectMetrics`
    * (observe) node between two typed `mapPartitions`/`flatMap` stages
    * blocks Catalyst's EliminateSerialization fusion and forces an extra
    * serialize/deserialize of every row — an accumulator inside the
    * closure is plan-invisible and additionally yields true per-partition
    * counts (north-rule per-partition lineage). NOTE: accumulators count
    * rows PROCESSED — a stage recomputed by several actions accumulates
    * per execution; exact per-stage counts come from the checkpoint
    * manifests (single execution at write time). */
  def accumulator(spark: SparkSession, stage: String): org.apache.spark.util.LongAccumulator =
    accumulators.computeIfAbsent(
      s"${spark.sparkContext.applicationId}/$stage",
      _ => spark.sparkContext.longAccumulator(s"graft_$stage"))
}
