package graft.api

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive parallelism floor for CHEAP-INPUT / EXPENSIVE-MAP
  * stages (optimization guide §2.5 "input skew" / §6 small-files):
  * Spark sizes scan tasks by input BYTES (split packing, bounded below
  * by one task per parquet row group), so a stage whose per-row work is
  * orders of magnitude above its scan cost — shingle/gram hashing over
  * a small corpus file, media container decode — inherits the scan's
  * 1–3-task parallelism and leaves the rest of the box idle.
  *
  * [[ifNarrow]] round-robin-repartitions such a frame to the session's
  * default parallelism, but ONLY when the frame currently has fewer
  * partitions than cores: at production scale the scan has ≫ cores
  * splits and the call is a structural no-op (no exchange in the
  * plan). Never key-partitions; downstream keyed exchanges are
  * unaffected. Streaming frames pass through untouched (their
  * micro-batch partitioning is the source's contract, and `.rdd` is
  * illegal on them).
  *
  * The width probe (`.rdd.getNumPartitions`) is gated to SHUFFLE-FREE
  * plans (ADVICE r16): with AQE on, `Dataset.rdd` resolves the final
  * adaptive plan, which synchronously MATERIALIZES every shuffle stage
  * in the probed plan — and since that probe QueryExecution is
  * discarded, the work would re-run when the returned frame executes.
  * A plan that already contains a wide operator needs no spread anyway:
  * its post-exchange width is `spark.sql.shuffle.partitions`, which the
  * session pins to the core count — so the helper returns such frames
  * untouched without probing, and only scan-shaped plans (where the
  * probe plans but runs nothing) are ever measured.
  */
private[graft] object Spread {
  def ifNarrow(df: DataFrame): DataFrame = {
    if (df.isStreaming || hasWideOp(df)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Typed twin for Dataset pipelines (the media decode spread). */
  def ifNarrowDs[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.isStreaming || hasWideOp(ds)) ds
    else {
      val target = ds.sparkSession.sparkContext.defaultParallelism
      if (ds.rdd.getNumPartitions < target) ds.repartition(target) else ds
    }
  }

  /** Does the optimized logical plan contain an operator that plans an
    * exchange (or is itself a repartition)? Conservative by design:
    * any such frame is at least shuffle-partitions wide downstream of
    * the exchange, so skipping the spread is a no-op — while probing
    * it under AQE would execute (and then discard) those stages.
    * Shared with [[graft.jobs.Sinks]]' ranged writer, where the same
    * test (with its native-kernel test) decides whether re-executing
    * the child for the range sampler is expensive (wide ops above the
    * leaves) or a cheap narrow re-read of a cache/scan.
    */
  private[graft] def hasWideOp(ds: Dataset[_]): Boolean =
    ds.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Distinct => true
      case s: Sort if s.global => true
      case _: RepartitionOperation => true
      case _ => false
    }
}
