package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Deterministic sequential id assignment — the Spark re-expression of
  * the reference's single-threaded id generator (`_id_gen`,
  * changegen/generator.py:161-166: sequential ids from `id_offset`,
  * optionally descending for negative-id workflows).
  *
  * A global counter is inherently serial; the distributed equivalent is
  * a total order on a (unique) sort key. Implementation: range-partition
  * by the key, sort within partitions, then add per-partition offsets —
  * the classic zipWithIndex contract, but columnar end-to-end
  * (optimization round 19): the former `rdd.zipWithIndex` ran an EAGER
  * per-partition count job at call time, RE-computed the sorted input
  * at every downstream materialization, and pushed every row through
  * external Row objects (off the codegen path, defeating column
  * pruning under it). Now the sorted frame materializes ONCE
  * (localCheckpoint pins the partitioning) together with each row's
  * partition id (`spark_partition_id`) and its index within the
  * partition (the low 33 bits of `monotonically_increasing_id`, which
  * count rows in partition order — frozen by the checkpoint). One
  * counting job over the checkpointed partitions gives the per-partition
  * rank offsets, which fold back in as a literal array. No
  * single-partition window, no driver-side loop: scales to arbitrary
  * row counts (the offset array is one entry per PARTITION).
  */
object SequentialIds {

  /** Assign `idCol` = offset + rank (or offset - rank when `negative`),
    * rank starting at 0 in ascending order of `orderCol` (must be
    * unique for determinism). The input's other columns pass through.
    *
    * Jobs: not lazy — the call itself runs Spark jobs on the calling
    * thread: the range sort materializes through `localCheckpoint`
    * (its boundary sampling and the sort), then one job counts the rows
    * of each checkpointed partition. The range partition count comes
    * from the input's physical plan, so no job runs the input just to
    * count its partitions. The result reads the checkpoint, whose
    * blocks live on the executors and do not survive the loss of one
    * (a lost executor fails later reads instead of recomputing them).
    */
  def assign(df: DataFrame, orderCol: String, idCol: String, offset: Long, negative: Boolean = false): DataFrame =
    assignCounted(df, orderCol, idCol, offset, negative)._1

  /** [[assign]] plus the input's row count — FREE for callers that
    * need both (the offset pass already counts every partition;
    * ChangegenPipeline used to run a separate count() job for its
    * way-id base). */
  def assignCounted(df: DataFrame, orderCol: String, idCol: String, offset: Long, negative: Boolean = false): (DataFrame, Long) = {
    // the input's partition count as planned (no job runs). A plan that
    // leaves it to run time (a file scan, or adaptive execution) gets
    // what adaptive execution would coalesce a shuffle of it to: its
    // estimated size over the advisory partition size, at most the
    // shuffle partition count
    val planned = df.queryExecution.executedPlan.outputPartitioning.numPartitions
    val parts =
      if (planned > 0) planned
      else {
        val conf = SQLConf.get
        val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val estimated = (df.queryExecution.optimizedPlan.stats.sizeInBytes + advisory - 1) / advisory
        estimated.min(conf.numShufflePartitions).max(1).toInt
      }
    // the layout columns are named clear of the input's columns and of
    // `idCol` (names resolve case-insensitively), so none is replaced
    val taken = df.columns :+ idCol
    val Seq(mono, pid) = Iterator.from(0).map(i => s"_mono$i")
      .filter(c => !taken.exists(_.equalsIgnoreCase(c))).take(2).toSeq
    val sorted = df.repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn(mono, monotonically_increasing_id())
      .withColumn(pid, spark_partition_id())
      .localCheckpoint()
    // rank offset of each partition = rows in the partitions before it
    val counts = sorted.queryExecution.toRdd
      .mapPartitionsWithIndex((i, rows) => Iterator(i -> rows.size.toLong))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _).init.toSeq
    val rank = element_at(typedLit(offsets), col(pid) + 1) + col(mono).bitwiseAND(lit((1L << 33) - 1))
    val id = if (negative) lit(offset) - rank else lit(offset) + rank
    (sorted.withColumn(idCol, id.cast("long")).drop(mono, pid), counts.sum)
  }
}
