package graft.kg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Helpers for the batch-sized sets the ingest path collects and works on
  * in plain Scala (under adaptive execution every exchange of a plan runs
  * as a Spark job of its own, so a small set is cheaper on the driver). */
object DriverSide {
  /** The distinct rows of a narrow frame in ONE map-only job: each task
    * dedupes its own rows and the driver merges. A `distinct()` would add
    * a shuffle, which adaptive execution runs as one more job. */
  def distinctRows(df: DataFrame): Array[Row] =
    df.rdd.mapPartitions(it => it.toSet.iterator).collect().distinct

  /** `pmod(hash(name), nb)` — the hash-bucket id the store's layouts give
    * a string key — computed by Spark's own Murmur3 hash function (seed
    * 42, the `hash` expression's), so it equals the column expression. */
  def bucketOf(name: String, nb: Int): Int =
    Math.floorMod(
      Murmur3HashFunction.hash(UTF8String.fromString(name), StringType, 42L).toInt, nb)

  /** True when `ds` is a local (driver-held) relation: reading it back
    * runs no Spark job, and pinning it would only add one. */
  def isLocal(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Spark's ordering of string values (UTF-8 bytes), which differs from
    * `String.compareTo` (UTF-16 units) outside the BMP. */
  val utf8Ordering: Ordering[String] =
    (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
}
