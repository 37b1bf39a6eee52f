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
  * The shuffle here is BY HOST — the skew-prone key. Hot hosts are rare
  * but huge in Common-Crawl frontiers, and a window partition is ONE
  * task's sort (AQE splits skewed joins, not window partitions) — so
  * the plan-time rank has a two-phase distributed form
  * ([[withTwoPhaseHostRank]], `twoPhaseRank = true`) for frontiers
  * where a single host's rows exceed one task. The downstream
  * fetch/extract work needs no host salting at all: the engine hash-
  * partitions by URL (`CrawlWave` repartitions pages/slices on `url`),
  * so a hot host's rows are already spread across every partition —
  * salting is a remedy for host-KEYED stages, and the plan rank here
  * is the only one (the per-wave metrics agg keys on
  * (wave, partition_id, host), which partial aggregation + the
  * partition-id component keep skew-free).
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
  def schedule(ready: DataFrame, wavePeriodMs: Long,
      twoPhaseRank: Boolean = false): DataFrame = {
    val w = Window.partitionBy("host").orderBy(col("priority").asc, col("seq").asc)
    val withDelay =
      if (ready.columns.contains("crawl_delay_ms"))
        ready.withColumn("delay_ms", coalesce(col("crawl_delay_ms"), delayMsCol))
      else ready.withColumn("delay_ms", delayMsCol)
    val ranked =
      if (twoPhaseRank) withTwoPhaseHostRank(withDelay)
      else withDelay.withColumn("host_rank", row_number().over(w))
    ranked
      // delay clamped to >= 1ms BEFORE dividing: a robots 'Crawl-delay: 0'
      // (maximum permissiveness) otherwise aborts the plan job under
      // Spark 4's ANSI-default divide-by-zero — and with ANSI off would
      // silently throttle the zero-delay host to 1 token/wave
      .withColumn("tokens", greatest(lit(1L),
        floor(lit(wavePeriodMs) / greatest(lit(1L), col("delay_ms"))).cast("long")))
      .withColumn("rel_wave", floor((col("host_rank") - 1) / col("tokens")).cast("int"))
      .drop("delay_ms")
  }

  /** Distributed per-host rank without a per-host window partition —
    * the hot-host-safe form of `row_number() OVER (PARTITION BY host
    * ORDER BY priority, seq)` for Common-Crawl frontiers where one host
    * can hold 10^8+ rows (a window partition is ONE task's sort; AQE
    * splits skewed joins, not window partitions).
    *
    * Two phases keyed by a DETERMINISTIC seq chunk (contiguous ranges of
    * the global seq space, `chunk = (seq - min) DIV w` with w sized so
    * there are ~16 chunks per core — a pure column expression, no
    * RangePartitioner sampling, so re-evaluations of the un-cached plan
    * agree exactly; a sampled range partitioning here silently dropped
    * rows when Catalyst evaluated the two branches independently):
    *   1. rank locally per (host, priority, chunk) — every window group
    *      is ≤ w rows by construction (seq is unique), however hot the
    *      host;
    *   2. per-(host, priority, chunk) counts (partial-agg'd map-side)
    *      turn into per-host cumulative offsets via a window over the
    *      COUNTS table in (priority, chunk) order — group size = chunks
    *      a host spans, never its row count. Chunk keys are monotone in
    *      the (priority, seq) sort order, so local rank + offset = the
    *      exact global rank.
    *
    * All three stages shuffle by the SAME key (host, priority, chunk),
    * so Catalyst plans one exchange feeding rank, counts and the
    * join-back. The result equals the single-window rank exactly, for
    * any parallelism (property-tested in CrawlSpec). Cost vs the plain
    * window: one tiny min/max action — paid only at the design point
    * where the window is a straggler;
    * [[graft.jobs.CrawlWave.Config.scalableRank]] selects it. */
  def withTwoPhaseHostRank(rows: DataFrame, chunksHint: Int = 0): DataFrame = {
    val spark = rows.sparkSession
    // min/max ignore nulls; an empty OR all-null-seq frame takes lo=hi=0
    // and the coalesce below puts every row in chunk 0, where the local
    // rank alone IS the global rank — no special-cased constant rank
    // (which assigned duplicate rank 1 to every row of an all-null frame)
    val bounds = rows.agg(min("seq"), max("seq")).head
    val lo = if (bounds.isNullAt(0)) 0L else bounds.getLong(0)
    val hi = if (bounds.isNullAt(1)) 0L else bounds.getLong(1)
    val nChunks = if (chunksHint > 0) chunksHint
      else spark.sparkContext.defaultParallelism * 16
    val w = math.max(1L, (hi - lo) / nChunks + 1)
    // null seq → chunk 0 (the FIRST chunk): asc ordering sorts nulls
    // first, so the single-window form ranks null-seq rows ahead of all
    // real seqs — chunk 0 with a nulls-first local sort preserves that
    val withChunk = rows.withColumn("__chunk",
      expr(s"CAST((coalesce(seq, ${lo}L) - ${lo}L) DIV ${w}L AS BIGINT)"))
    val wLocal = Window.partitionBy("host", "priority", "__chunk")
      .orderBy(col("seq").asc)
    val wCum = Window.partitionBy("host")
      .orderBy(col("priority").asc, col("__chunk").asc)
    val offsets = withChunk.groupBy("host", "priority", "__chunk")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", sum(col("__cnt")).over(wCum) - col("__cnt"))
      .drop("__cnt")
    // join back NULL-SAFE on host AND priority (<=>): a caller-supplied
    // frame can carry nulls in either column, which the window form
    // ranks (nulls first under asc) — a plain equi-join would silently
    // DROP those rows, not just misrank them
    val off2 = offsets.withColumnRenamed("host", "__oh")
      .withColumnRenamed("priority", "__op")
      .withColumnRenamed("__chunk", "__oc")
    withChunk.withColumn("__lr", row_number().over(wLocal))
      .join(off2, (col("host") <=> col("__oh")) &&
        (col("priority") <=> col("__op")) && col("__chunk") === col("__oc"))
      .withColumn("host_rank", (col("__lr") + col("__off")).cast("int"))
      .drop("__chunk", "__lr", "__off", "__oh", "__op", "__oc")
  }
}

// (A standalone host-salting utility used to live here. It was never
// wired into the fetch path — hash-partitioning by URL spreads hot
// hosts without it (see the Politeness doc above), and the plan-time
// rank has its own two-phase defense — so the dead mechanism was
// removed rather than left implying salting runs somewhere. The
// salt-count computation itself survives as the oracled
// `skew_salt_plan` query, the plan artifact a host-keyed deployment
// stage would consume.)
