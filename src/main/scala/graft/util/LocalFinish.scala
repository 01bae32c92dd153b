package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The one "collect and finish on the driver" decision for iterative
  * operators whose loop state is small.
  *
  * A Spark job per round is fixed cost: at a few hundred rows of state
  * a label-propagation or merge loop spends its time scheduling jobs
  * and checkpoints, not computing (Pregelix's "local" strategy: pick
  * each superstep's plan from the measured frontier size). A loop asks
  * here whether its state fits, and if so runs every round in memory;
  * above the budget it keeps its distributed branch.
  *
  * Budget: rows × the schema's `defaultSize` against a fixed share of
  * the driver's max heap. `defaultSize` counts one element per array
  * and no JVM object headers, so the share is kept small to leave room
  * for the collected objects' real footprint. Not an option: the size
  * is derived from the heap the driver was started with. The same
  * budget decides broadcast joins ([[broadcastIfFits]]): a broadcast
  * side is collected on the driver too.
  */
object LocalFinish {
  /** Share of the driver's max heap that collected loop state may take. */
  private val HeapShare = 1.0 / 64

  private val distributedOnly = new scala.util.DynamicVariable(false)

  /** Test hook: inside `body`, every decision on this thread answers
    * "distributed", so a spec can run both branches on one fixture. */
  private[graft] def forcingDistributed[T](body: => T): T =
    distributedOnly.withValue(true)(body)

  private def budgetBytes: Long =
    (Runtime.getRuntime.maxMemory * HeapShare).toLong

  private def rowBytes(schema: StructType): Long =
    math.max(1L, schema.defaultSize.toLong)

  /** True when `rows` rows of `schema`, a count the loop already has,
    * fit the budget. */
  def fits(schema: StructType, rows: Long): Boolean =
    !distributedOnly.value && rows <= budgetBytes / rowBytes(schema)

  /** `df` hinted for a broadcast join when its `rows`, an exact count,
    * fit the budget; above it the join keeps its shuffle. The hint
    * never changes a result, only where the join runs. */
  def broadcastIfFits(df: DataFrame, rows: Long): DataFrame =
    if (fits(df.schema, rows)) broadcast(df) else df

  /** The rows of every frame, in order, when together they fit the
    * budget; `None` when they do not. Each frame is read by ONE
    * bounded `limit(n + 1).collect()` with `n` the rows the remaining
    * budget allows, so no `count()` job is added and a frame over
    * budget costs at most `n + 1` rows of driver memory. */
  def collect(frames: DataFrame*): Option[Seq[Array[Row]]] = {
    if (distributedOnly.value) return None
    var left = budgetBytes
    val out = Seq.newBuilder[Array[Row]]
    for (df <- frames) {
      val per = rowBytes(df.schema)
      val n = math.min(left / per, Int.MaxValue - 1L).toInt
      val rows = df.limit(n + 1).collect()
      if (rows.length > n) return None
      left -= rows.length * per
      out += rows
    }
    Some(out.result())
  }

  /** Spark's ordering of two non-null values of one atomic type:
    * strings as UTF-8 bytes (not `String.compareTo`'s UTF-16 units,
    * which order a supplementary character like "😀" before "｡"),
    * anything else by its natural order. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}
