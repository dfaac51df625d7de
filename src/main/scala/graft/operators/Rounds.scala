package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.slf4j.LoggerFactory

/** The round discipline the iterative kernels share, in one place: what
  * a loop pins, how it cuts lineage, when it may release, and how a
  * round is reported. Open one with [[Rounds.run]]; everything pinned
  * through it is released when the kernel returns or throws.
  *
  *  - [[pin]] a loop invariant with `persist()`. Its cached relation keeps
  *    the hash partitioning visible to AQE, where a checkpoint comes back
  *    as UnknownPartitioning and re-inserts the per-round exchange. The
  *    kernel's first action materializes it; it is released on return.
  *  - [[cut]] the round state with `localCheckpoint`: lazy by default, so
  *    the round's own [[count]] or isEmpty materializes it in the same job.
  *  - [[settle]] after an action has materialized the newest cut: nothing
  *    unmaterialized reads the older cuts any more, so they are released.
  *    An eager cut settles by itself. Releasing a materialized cut while
  *    a lazy successor still reads it fails that successor with
  *    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, so a kernel that never settles
  *    (a lazy union of its cuts, an action-free chain) hands its cuts to
  *    the result, and the context cleaner frees them with it.
  *  - [[round]] runs one round and logs one INFO line: kernel, round,
  *    wall ms, and rows when the round [[count]]ed its cut; [[until]]
  *    runs rounds up to a convergence test or a round budget.
  *
  * A result that lazily reads a pinned invariant must be cut eagerly
  * before the kernel returns: the invariant is gone after that.
  */
private[graft] final class Rounds private (kernel: String) {
  private val pins = ArrayBuffer.empty[DataFrame]
  private val cuts = ArrayBuffer.empty[DataFrame]
  private var rounds = 0
  private var counted = -1L

  def pin(df: DataFrame): DataFrame = df.persist().tap(pins += _)

  def cut(df: DataFrame, eager: Boolean = false): DataFrame =
    df.localCheckpoint(eager).tap { c => cuts += c; if (eager) settle() }

  /** Rows of a cut, counted on the RDD under its LogicalRDD: materializes
    * a lazy cut in one job, without the single-row gather exchange a
    * Dataset count plans over a checkpoint's unknown partitioning.
    */
  def count(cut: DataFrame): Long = {
    counted = cut.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.count()
      case _ => cut.count()
    }
    counted
  }

  def settle(): Unit = while (cuts.size > 1) Rounds.release(cuts.remove(0))

  def round[T](body: => T): T = {
    rounds += 1
    counted = -1L
    val t0 = System.nanoTime()
    val v = body
    val rows = if (counted >= 0) s", $counted rows" else ""
    Rounds.log.info(f"$kernel round $rounds: " +
      f"${(System.nanoTime() - t0) / 1e6}%.1f ms$rows")
    v
  }

  /** Runs rounds until `body`, given the round number (from 1), reports
    * convergence or `max` rounds have run; returns whether it converged.
    */
  def until(max: Int)(body: Int => Boolean): Boolean = {
    var done = false
    while (!done && rounds < max) {
      val i = rounds + 1
      done = round(body(i))
    }
    done
  }

  /** Throws the max-rounds error; `why` tells the caller what to change. */
  def exhausted(max: Int, why: String): Nothing =
    throw new IllegalStateException(
      s"$kernel did not converge in $max rounds: $why")
}

private[graft] object Rounds {
  private val log = LoggerFactory.getLogger(classOf[Rounds])

  def run[T](kernel: String)(body: Rounds => T): T = {
    val r = new Rounds(kernel)
    try body(r)
    catch { case e: Throwable => r.cuts.foreach(release); throw e }
    finally r.pins.foreach(release)
  }

  /** Releases a frame's blocks now. `Dataset.unpersist` frees only what
    * the CacheManager holds, so a checkpointed frame is released through
    * the RDD under its LogicalRDD.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
    case _ => df.unpersist(blocking = false); ()
  }

  /** Releases every frame the session has pinned, cached or
    * checkpointed, and waits for the blocks to go: the sweep a driver runs
    * between queries, so no query's leftovers crowd the storage region or
    * overlap the next query's timed window.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Partition count for a kernel's own shuffles: about 50k rows each,
    * capped at the session setting so a large graph keeps its configured
    * parallelism and a small one does not pay for empty tasks every round.
    */
  def partitions(spark: SparkSession, rows: Long): Int =
    math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (rows / 50000L + 1L).toInt)
}
