package perfbench

import graft.CrawlMain
import graft.store.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** One measured fork. `run.py` launches it with the workload's inputs
  * already on disk and reads back the JSON record it writes.
  *
  *   Main crawl <inputs> <work> <cores> <seconds> <trace 0|1> <seed> <out.json> <warm> <scale> <probe> <CrawlMain flags…>
  *   Main queries <sfDir> <work> <cores> <seconds> <trace 0|1> <seed> <out.json> <q1,q2,…> <verified> <warm> <probe> <CrawlMain flags…>
  *
  * Both modes set up (session + one untimed warm-up operation), then
  * repeat the operation until `seconds` have passed (at least once) and
  * record every repetition. `window_start_ms` marks the end of set-up.
  * With trace 1 the window is one traced and one untraced repetition
  * instead, and the other mode follows in the same JVM as a probe on
  * small inputs (`probe` is `-` when there is none): a crawl fork probes
  * the queries on `<tables>|<verified>|<q1,q2,…>`, one cold untraced
  * pass; a queries fork probes a crawl of the input directory `probe`,
  * with the flags that follow, that input also serving as warm-up and
  * scale input, and a window of one traced repetition. A traced crawl
  * ends with the scale pair, crawls of the scale input on 1 and on all
  * cores.
  */
object Main {

  type Rec = Map[String, Any]

  def session(cores: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" => Gen.main(args.drop(1))
    case mode =>
      val Array(input, work, coresS, secondsS, traceS, seedS, out) = args.slice(1, 8)
      val rest = args.drop(8)
      val cores = coresS.toInt
      // the mode's own arguments, then the probe, then the crawl flags
      val own = if (mode == "crawl") 2 else 3
      val probe = Some(rest(own)).filter(_ != "-")
      val flags = rest.drop(own + 1).toSeq
      val spark = session(cores, partitionsOf(flags).getOrElse(cores * 3))
      val run = Run(spark, Paths.get(work), secondsS.toDouble, traceS == "1", seedS.toLong)
      val rec = mode match {
        case "crawl" =>
          val queryProbe = probe.map(_.split('|')).map { case Array(tables, verified, order) =>
            () => run.copy(trace = false).queries(tables, "", order.split(',').toSeq, verified)
          }
          run.crawl(input, rest(0), rest(1), flags, queryProbe)
        case "queries" =>
          val rec = run.queries(input, rest(2), rest(0).split(',').toSeq, rest(1))
          probe.fold(rec)(dir =>
            rec + ("probe" -> run.copy(probe = true).crawl(dir, dir, dir, flags, None)))
      }
      Files.writeString(Paths.get(out), Serialization.write(rec)(DefaultFormats))
      spark.stop()
  }

  def partitionsOf(flags: Seq[String]): Option[Int] = {
    val i = flags.indexOf("--partitions")
    if (i >= 0) Some(flags(i + 1).toInt) else None
  }

  def now(): Long = System.currentTimeMillis()

  /** Evaluates every output column: an order-independent digest over an
    * xxhash64 of all columns (floats rounded to 1e-6 so the digest is
    * stable across partition orders). `.count()` would let the optimizer
    * prune deterministic projections, UDFs included. */
  def digest(df: DataFrame): String = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => norm(x, et))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h"))).head
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }
}

/** The timed window of one fork. */
final case class Run(spark: SparkSession, work: Path, seconds: Double, trace: Boolean,
    seed: Long, probe: Boolean = false) {
  import Main.{Rec, now}

  private implicit val formats: DefaultFormats.type = DefaultFormats
  private val heap = new HeapAfterGc
  private val tracedFirst = seed % 2 == 1

  /** Repeats `op(i, traced = false)` until the window has passed. In a
    * traced fork the window is one traced and one untraced repetition
    * instead, in an order set by the seed; the tracing overhead is their
    * ratio, and only the untraced one is `in_window`. A probe's window is
    * the traced repetition alone. */
  private def window(op: (Int, Boolean) => Rec): Rec = {
    heap.reset()
    val start = now()
    val reps = Vector.newBuilder[Rec]
    if (trace) {
      val order = if (probe) Seq(true) else if (tracedFirst) Seq(true, false) else Seq(false, true)
      order.zipWithIndex.foreach { case (tr, i) =>
        reps += op(i, tr) + ("in_window" -> (probe || !tr))
      }
    } else {
      var i = 0
      do { reps += op(i, false) + ("in_window" -> true); i += 1 }
      while (now() - start < seconds * 1000)
    }
    Map("window_start_ms" -> start, "window_end_ms" -> now(),
      "heap_after_gc_mb" -> heap.meanMb, "runs" -> reps.result())
  }

  private def traced[A](on: Boolean, s: SparkSession)(body: => A): (A, Option[Tracer]) = {
    val t = if (on) Some(new Tracer(s)) else None
    val a = body
    t.foreach(_.awaitQuiet())
    (a, t)
  }

  // ------------------------------------------------------------- crawl

  def crawl(inputs: String, warm: String, scale: String, flags: Seq[String],
      queryProbe: Option[() => Rec]): Rec = {
    var k = 0
    def runOnce(inputs: String, s: SparkSession = spark, trace: Boolean = false): Rec = {
      val maxSeedSeq = (JsonMethods.parse(Files.readString(Paths.get(inputs, "expected.json")))
        \ "max_seed_seq").extract[Long]
      val store = work.resolve(s"store-$k").toString
      val id = s"crawl-$k"
      k += 1
      val args = Array("--pages", s"$inputs/pages", "--seeds", s"$inputs/seeds",
        "--store", store) ++ flags
      val t0 = now()
      val n0 = System.nanoTime()
      val (summary, tracer) = traced(trace, s)(CrawlMain.run(s, args))
      val wall = (System.nanoTime() - n0) / 1e9
      val rec = Crawl.inspect(s, store, t0, wall, summary, maxSeedSeq) ++
        Map("start_ms" -> t0, "inputs" -> inputs, "traced" -> trace)
      Crawl.deleteTree(Paths.get(store))
      tracer.fold(rec) { t =>
        val t1 = t0 + math.round(wall * 1000)
        val pubs = rec("publish_ms").asInstanceOf[Seq[Long]]
        rec ++ Map("spark" -> t.summary(t0, t1, pubs, s.sparkContext.defaultParallelism),
          "spans" -> t.spans(id, t0, t1, pubs))
      }
    }
    // warm-up: a small input of the same shape, same flags (every code
    // path and query plan, a fraction of the data)
    runOnce(warm)
    val rec = window((_, tr) => runOnce(inputs, trace = tr))
    if (!trace) return rec
    val cores = spark.sparkContext.defaultParallelism
    val layers = Map(
      "per_url" -> PerUrl.measure(spark, inputs, flags.contains("--discover")),
      "canonicalize_ns" -> PerUrl.canonicalizeNs(spark, inputs)) ++
      queryProbe.map(q => "probe" -> q()).toMap
    // scale pair: this JVM (already warm) re-pinned, every thread, to one
    // core and to all of them, in an order set by the seed; each leg is a
    // fresh local[n] session with the same partitions and one timed crawl
    // of the scale input
    spark.stop()
    val legs = (if (tracedFirst) Seq(cores, 1) else Seq(1, cores)).map { n =>
      pin(if (n == 1) "0" else s"0-${cores - 1}")
      val leg = Main.session(n, Main.partitionsOf(flags).getOrElse(cores * 3))
      val r = runOnce(scale, leg)
      leg.stop()
      Map("cores" -> n, "run" -> r)
    }
    rec ++ layers + ("scale_pair" -> legs)
  }

  /** Sets the CPU affinity of every thread of this JVM (`taskset -a`);
    * threads started later inherit it. */
  private def pin(cpus: String, attempts: Int = 5): Unit = {
    val p = new ProcessBuilder("taskset", "-a", "-p", "-c", cpus,
      ProcessHandle.current().pid().toString).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    // a thread that exits while taskset walks them fails the call: retry
    if (p.waitFor() != 0) {
      if (attempts <= 1) throw new IllegalStateException(s"taskset -c $cpus failed: $out")
      Thread.sleep(200)
      pin(cpus, attempts - 1)
    }
  }

  // ----------------------------------------------------------- queries

  def queries(sfDir: String, warmDir: String, order: Seq[String], verified: String): Rec = {
    val fns = graft.SparkEntry.queries
    def pass(dir: String): Rec = order.map { q =>
      val n0 = System.nanoTime()
      val d = Main.digest(fns(q)(spark, dir))
      q -> Map("s" -> (System.nanoTime() - n0) / 1e9, "digest" -> d)
    }.toMap
    // warm-up on small tables of the same shape: every plan and code path
    // is compiled, while the timed passes still build the per-table
    // fixtures the queries memoize (a probe, with no warm-up tables,
    // times a cold pass)
    if (warmDir.nonEmpty) pass(warmDir)
    val rec = window { (i, tr) =>
      val t0 = now()
      val (results, tracer) = traced(tr, spark)(pass(sfDir))
      val t1 = now()
      Map("traced" -> tr, "results" -> results) ++ tracer.fold(Map.empty[String, Any])(t =>
        Map("spark" -> t.summary(t0, t1, Nil, spark.sparkContext.defaultParallelism),
          "spans" -> t.spans(s"pass-$i", t0, t1, Nil)))
    }
    // the digests of the results graft.Verify wrote in the verified pass
    rec + ("reference_digests" ->
      order.map(q => q -> Main.digest(spark.read.parquet(s"$verified/$q"))).toMap)
  }
}

/** Mean heap occupancy right after each collection (live data plus old
  * garbage not yet collected), from the JVM's GC notifications. Unlike
  * the process's peak RSS, which follows how far the collector grew the
  * heap, it follows what the program keeps. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var sum = 0L
  private var count = 0
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapAfterGc.this.synchronized { sum += used; count += 1 }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { sum = 0L; count = 0 }
  def meanMb: Double = synchronized(sum.toDouble / math.max(1, count) / 1048576.0)
}

/** Everything a finished crawl's store says about the run, read from
  * outside the engine: manifest publish times and metrics, the final
  * frontier, and the files on disk. */
object Crawl {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def inspect(spark: SparkSession, root: String, t0: Long, wall: Double,
      s: CrawlMain.Summary, maxSeedSeq: Long): Main.Rec = {
    val snap = new SnapshotTable(spark, root)
    val v = s.version
    val mdir = Paths.get(root, "manifests")
    val versions = (1 to v).filter(i => Files.exists(mdir.resolve(f"v$i%05d.json")))
    val pub = versions.map(i =>
      Files.getLastModifiedTime(mdir.resolve(f"v$i%05d.json")).toMillis - t0)
    val ms = versions.map(snap.metricsOf)
    val gaps = pub.zip(pub.drop(1)).map { case (a, b) => b - a }
    // the gap ending at manifest i+1 is that commit's engine interval
    val replan = ms.indices.drop(1).filter(i => ms(i).contains("discovered"))
      .map(i => pub(i) - pub(i - 1)).sum
    val squashes = ms.sliding(2).count {
      case Seq(a, b) => b.getOrElse("seen_keep_dirs", 0L) > a.getOrElse("seen_keep_dirs", 0L)
      case _ => false
    }
    val frontier = snap.read("frontier", v).cache()
    val states = frontier.groupBy("state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // schedule digest over the seed plan's fetched rows — the DuckDB
    // replica computes the same three numbers
    val sched = frontier.where(col("seq") <= maxSeedSeq && col("state").isin("done", "error"))
      .agg(count(lit(1)), sum(col("seq") * 1000003L + col("wave")),
        sum(col("wave").cast("long") * pmod(col("seq"), lit(9973L)))).head
    // the discovered generation's (seq, url) rows — the generator's
    // outlink replica takes the same digest
    val gen1 = frontier.where(col("seq") > maxSeedSeq)
      .agg(count(lit(1)), sum(pmod(xxhash64(col("seq"), col("url")), lit(2147483647L)))).head
    val fdig = frontier.select(xxhash64(col("seq"), col("url"), col("state"), col("wave")).as("h"))
      .agg(sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h"))).head
    frontier.unpersist()
    val seen = snap.read("seen", v).count()
    val textBytes = snap.read("metrics", v).agg(sum("text_bytes")).head
    val dirs = snap.tableDirs(v)
    val blobBytes = dirs.getOrElse("seen_bloom", Nil).map(d => bytesUnder(Paths.get(root, d))).sum
    Map(
      "wall_s" -> wall,
      "urls" -> (s.done + s.errors),
      "done" -> s.done, "error" -> s.errors,
      "generations" -> s.generations,
      "publish_ms" -> pub,
      "commit_gaps_ms" -> gaps,
      "init_s" -> pub.head / 1000.0,
      "first_wave_s" -> (if (pub.length > 1) (pub(1) - pub(0)) / 1000.0 else 0.0),
      "final_wave_s" -> (if (gaps.nonEmpty) gaps.last / 1000.0 else 0.0),
      "replan_s" -> replan / 1000.0,
      "waves" -> ms.count(_.contains("selected")),
      "discovered" -> ms.map(_.getOrElse("discovered", 0L)).sum,
      "gen1_count" -> gen1.getLong(0),
      "gen1_digest" -> (if (gen1.isNullAt(1)) 0L else gen1.getLong(1)),
      "render_mismatches" -> ms.map(_.getOrElse("render_mismatches", 0L)).sum,
      "squashes" -> squashes,
      "states" -> states,
      "sched_digest" -> Seq(sched.getLong(0), sched.getLong(1), sched.getLong(2)),
      "frontier_digest" -> s"${fdig.getLong(0)}:${fdig.getLong(1)}",
      "seen_count" -> seen,
      "text_bytes" -> (if (textBytes.isNullAt(0)) 0L else textBytes.getLong(0)),
      "store_bytes" -> bytesUnder(Paths.get(root)),
      "scratch_bytes" -> bytesUnder(Paths.get(root, "scratch")),
      "manifests" -> versions.length,
      "latest_dirs" -> dirs.values.map(_.size).sum,
      "seen_blob_bytes" -> blobBytes)
  }
}
