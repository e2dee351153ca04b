package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}

/** Kernel timing on one thread, outside Spark's scheduling and scans: a
  * compiled projection of the kernel (or, for an aggregate, its update)
  * runs over rows of the workload's own data, against the same loop with
  * a cheap stand-in for the kernel (the input's length or size). Each
  * loop goes over the rows [[Inner]] times; a figure is the best of
  * [[Reps]] timed loops after [[WarmLoops]] untimed ones. */
object Probe {
  val Reps = 7
  val WarmLoops = 3
  val Inner = 10

  /** The rows of `df` as the engine's expressions see them. */
  def rows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()

  /** A loop over `rows` evaluating `e` through a generated projection;
    * it returns the output sizes, so nothing is dead code. */
  def projection(e: Expression, rows: Array[InternalRow]): () => Long = {
    val p = UnsafeProjection.create(Seq(e))
    () => {
      var s = 0L
      var k = 0
      while (k < Inner) {
        var i = 0
        while (i < rows.length) { s += p(rows(i)).getSizeInBytes; i += 1 }
        k += 1
      }
      s
    }
  }

  private def bestNs(loop: () => Long): Double = {
    var sink = 0L
    (0 until WarmLoops).foreach(_ => sink += loop())
    val best = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      sink += loop()
      System.nanoTime() - t0
    }.min
    if (sink == Long.MinValue) System.err.println(sink)
    best.toDouble
  }

  /** Nanoseconds one pass over the rows spends in `kernel` beyond
    * `base`, floored at 0. */
  def diffNs(name: String, base: () => Long, kernel: () => Long): Double = {
    val (b, k) = (bestNs(base), bestNs(kernel))
    System.err.println(f"perfbench: probe $name base ${b / 1e6}%.2f ms, kernel ${k / 1e6}%.2f ms per $Inner passes")
    math.max(0.0, k - b) / Inner
  }
}
