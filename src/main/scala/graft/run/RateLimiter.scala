package graft.run

import org.apache.spark.sql.{DataFrame, Row}

/**
 * E2 — client-side rate limiting.
 *
 * The reference throttles reads/writes with a Guava RateLimiter inside
 * each job session (`spark.cdm.perfops.ratelimit.origin` ≈ 20k rows/s,
 * `.target` ≈ 40k rows/s defaults — `[upstream]` cdm-detailed.properties
 * pinned at `/root/reference/Dockerfile:61`). Spark SQL has no built-in
 * rate control; where production needs it (protecting a live origin/target
 * cluster), the idiom is a per-partition token bucket inside
 * `foreachPartition` — the limit is per partition, so the effective
 * cluster-wide ceiling is rate × parallelism, matching how the reference's
 * per-executor limiter composes.
 *
 * Nothing applies it yet: `PerfConfig.readRateLimit`/`writeRateLimit` are
 * parsed but no job reads them, so every run is unthrottled.
 */
class RateLimiter(rowsPerSecond: Double) extends Serializable {
  require(rowsPerSecond > 0, "rate must be positive")
  @transient private var startNanos = 0L
  @transient private var acquired = 0L

  /** Block until one more row is within budget. */
  def acquire(): Unit = {
    if (startNanos == 0L) startNanos = System.nanoTime()
    acquired += 1
    val dueNanos = (acquired / rowsPerSecond * 1e9).toLong
    val aheadNanos = dueNanos - (System.nanoTime() - startNanos)
    if (aheadNanos > 1000000L) Thread.sleep(aheadNanos / 1000000L)
  }
}

object RateLimiter {
  /** Run `f` over every row at a bounded per-partition rate. */
  def foreachRowLimited(df: DataFrame, rowsPerSecondPerPartition: Double)(f: Row => Unit): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      val limiter = new RateLimiter(rowsPerSecondPerPartition)
      rows.foreach { r => limiter.acquire(); f(r) }
    }
}
