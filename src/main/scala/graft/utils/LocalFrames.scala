package graft.utils

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/**
 * Frames small enough to live on the driver. One bounded collect reads
 * the frame and probes its size in the same action; the rows come back
 * as a `LocalRelation`. A local frame has no lineage: reading it again
 * re-runs nothing upstream and needs no cut, persist or size probe. It
 * lives in the plan, so losing an executor loses nothing, and a
 * `LocalTableScan` is never a codegen-stage root, so equal-shaped plans
 * over local frames compile no new class.
 *
 * Callers: the stream gate's micro-batch signatures and retained
 * signatures (`SoftDedupGate`), the incremental dedup update's batch
 * (`Dedup.resolveUpdate`) and the data validator's view
 * (`SqlDataValidator`).
 */
object LocalFrames {

  /** The most rows one driver-local frame holds, and the default row
   *  bound of every ingest-shaped broadcast (`Dedup.maybeBroadcast`,
   *  `Dedup.lshMatches`, the dedup actor's `broadcastMaxRows`). */
  val MaxRows: Long = 1L << 18

  /** `df`'s rows when it holds at most `maxRows` of them; None over the
   *  bound, and always when `maxRows` is 0 or less. One
   *  `limit(maxRows + 1)` collect is both the read and the size probe, so
   *  a frame over the bound never reaches the driver past that limit.
   *  The rows are the collect's `UnsafeRow`s. */
  def collect(df: DataFrame, maxRows: Long): Option[Array[InternalRow]] =
    if (maxRows <= 0) None
    else {
      val probe = math.min(maxRows, (Int.MaxValue - 1).toLong).toInt
      val rows = GraftSqlBridge.collectInternal(df.limit(probe + 1))
      if (rows.length > maxRows) None else Some(rows)
    }

  /** `rows` as a driver-local frame (a `LocalRelation`) of `schema`. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftSqlBridge.localRelation(spark, schema, rows)
}
