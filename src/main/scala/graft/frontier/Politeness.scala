package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-host politeness scheduling: a deterministic token bucket
  * expressed as pure window computations (SURVEY.md §2.5) — no UDF, no
  * state, reproducible under any parallelism.
  *
  * Each host h has a crawl delay `delayMs(h)` (a robots.txt
  * `Crawl-delay` stand-in, synthesized deterministically from the host
  * string — the same formula as `SparkEntry`'s `scheduledCte`, so the
  * DuckDB oracles agree). A wave of length `wavePeriodMs` grants
  * `tokens(h) = max(1, wavePeriodMs / delayMs(h))` fetches to h.
  * Rank URLs per host by (priority, seq); a URL with per-host rank r
  * runs in wave `floor((r-1) / tokens(h))` relative waves after it
  * first becomes eligible.
  *
  * The shuffle here is BY HOST, the skew-prone key: a window partition
  * is ONE task's sort, so a hot host's rows rank in a single task. That
  * is the one host-keyed stage of the plan, and its cost is bounded by
  * the schedule it produces: a host with R ready rows needs
  * ceil(R / tokens) waves, so its one-task sort is a small fraction of
  * the waves needed to crawl it (BASELINE.md, "Hot-host rank"). The
  * fetch/extract work downstream is not host-keyed: `CrawlWave` hash-
  * partitions pages and wave slices by `url`, so a hot host's rows are
  * spread across every partition.
  */
object Politeness {

  /** Deterministic robots stand-in: crawl delay per host in ms. */
  def delayMs(host: String): Long = (host.length % 4 + 1) * 100L

  val delayMsCol: org.apache.spark.sql.Column =
    (length(col("host")) % 4 + 1).cast("long") * 100L

  /** Annotate a frontier slice with per-host rank and the relative wave
    * each row may run in. Requires columns: host, priority, seq.
    *
    * Delay source: a `crawl_delay_ms` column already present on `ready`
    * (the robots rules-table join, [[Robots.rulesTable]] — null falls
    * back to the formula), else the deterministic formula. */
  def schedule(ready: DataFrame, wavePeriodMs: Long): DataFrame = {
    val w = Window.partitionBy("host").orderBy(col("priority").asc, col("seq").asc)
    val withDelay =
      if (ready.columns.contains("crawl_delay_ms"))
        ready.withColumn("delay_ms", coalesce(col("crawl_delay_ms"), delayMsCol))
      else ready.withColumn("delay_ms", delayMsCol)
    withDelay.withColumn("host_rank", row_number().over(w))
      // delay clamped to >= 1ms BEFORE dividing: a robots 'Crawl-delay: 0'
      // (maximum permissiveness) otherwise aborts the plan job under
      // Spark 4's ANSI-default divide-by-zero — and with ANSI off would
      // silently throttle the zero-delay host to 1 token/wave
      .withColumn("tokens", greatest(lit(1L),
        floor(lit(wavePeriodMs) / greatest(lit(1L), col("delay_ms"))).cast("long")))
      .withColumn("rel_wave", floor((col("host_rank") - 1) / col("tokens")).cast("int"))
      .drop("delay_ms")
  }
}
