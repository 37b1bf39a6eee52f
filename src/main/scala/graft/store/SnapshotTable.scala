package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-like versioned snapshot store over plain Parquet.
  *
  * No Iceberg jar exists in this sandbox (SURVEY.md §7.1), so this module
  * provides the subset the crawl engine needs with the same guarantees,
  * and the shape a real Iceberg catalog would drop into:
  *
  *  - layout: data files under `<root>/data/<table>/v%05d/` (immutable
  *    once a manifest references them), manifests under
  *    `<root>/manifests/v%05d.json`;
  *  - a manifest lists, per table, the data directories that make up
  *    that version — so APPEND-heavy tables (samples, errors, seen)
  *    commit only their delta while REPLACE tables (frontier, bloom
  *    blobs) rewrite; this is the Iceberg manifest-list pattern and
  *    what keeps per-wave commit cost O(delta), not O(history);
  *  - commits are ATOMIC: delta data dirs are written first (a retried
  *    commit overwrites the same v-dir), then the manifest file is
  *    published by an atomic rename — a crash mid-commit leaves only
  *    unreferenced data dirs, which readers never see and a retry
  *    overwrites (idempotent re-commit);
  *  - optimistic concurrency: `expectedParent` refuses a commit built
  *    from a stale version;
  *  - lineage: each manifest records parent version, per-table row
  *    counts for THIS commit's writes, and the caller's metrics map.
  */
object SnapshotTable {
  /** A METADATA-ONLY table slice: rows of `table` contributed not by a
    * data-dir write but by referencing already-written parquet under
    * `base` (store-relative; e.g. the crawl's prefetch scratch),
    * filtered by `where` and projected to `select` at read time. The
    * Iceberg analogue is a metadata-only append of existing data files
    * — commit cost is zero Spark jobs, which is what removes the
    * per-wave rewrite of every sample byte from the crawl hot path. */
  final case class ViewRef(base: String, dirs: Seq[String],
      where: String, select: Seq[String])

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    if (Files.isDirectory(p)) {
      val stream = Files.list(p)
      try stream.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally stream.close()
    }
    Files.deleteIfExists(p)
  }
}

final class SnapshotTable(spark: SparkSession, root: String) {
  import SnapshotTable.{ViewRef, deleteRecursively}

  private val mapper = new ObjectMapper()

  /** The store root (ViewRef paths are relative to it). */
  def rootPath: String = root

  private def manifestsDir: Path = Paths.get(root, "manifests")
  private def manifestPath(v: Int): Path = manifestsDir.resolve(f"v$v%05d.json")
  private def dataDir(table: String, v: Int): Path =
    Paths.get(root, "data", table, f"v$v%05d")

  private def hintPath: Path = manifestsDir.resolve("version-hint.text")

  def latestVersion: Option[Int] = {
    // Iceberg's HadoopTableOperations pattern: a version-hint file
    // makes this O(1) probes instead of an O(versions) directory
    // listing — called once per wave, and on object storage LIST is
    // the expensive, rate-limited call. The hint may lag by one (crash
    // between manifest publish and hint write): heal by probing
    // forward, which also stays correct because commit() assigns
    // contiguous versions. A missing/garbage hint falls back to the
    // full listing.
    val hinted: Option[Int] =
      if (!Files.exists(hintPath)) None
      else (try Some(Files.readString(hintPath).trim.toInt)
            catch { case _: NumberFormatException => None })
        .filter(v => v >= 1 && Files.exists(manifestPath(v)))
    hinted match {
      case Some(h) =>
        var v = h
        while (Files.exists(manifestPath(v + 1))) v += 1
        Some(v)
      case None =>
        val vs = listedVersions
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Full manifest-directory listing (the O(versions) maintenance-path
    * scan; the per-wave path goes through the version hint above). */
  private def listedVersions: Seq[Int] = {
    if (!Files.isDirectory(manifestsDir)) return Nil
    val stream = Files.list(manifestsDir) // closed below
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      // %05d zero-PADS but does not truncate: v100000.json has six
      // digits, so accept 5+ or versions past 99999 silently vanish
      .collect { case s if s.matches("v\\d{5,}\\.json") =>
        s.substring(1, s.length - 5).toInt }
      .toSeq
    finally stream.close()
  }

  /** Iceberg-style `expire_snapshots`: delete every manifest except the
    * newest `keepLast` (plus `alwaysKeep` — the crawl engine pins v1,
    * whose metrics anchor store-lifetime metadata like the seen-set
    * layout guard), then every data/scratch dir referenced ONLY by the
    * expired manifests. Without this the store's storage grows O(waves)
    * forever: every squash round and every `replace` (seen_bloom each
    * wave) leaves its superseded dirs on disk, readable only through
    * manifests nothing resumes from. Expired versions stop being
    * time-travel readable — that is the point.
    *
    * Crash safety: doomed data dirs are deleted BEFORE their manifests,
    * so an interrupted expire is self-healing — the still-listed
    * expired manifests are re-expired (re-deleting a missing dir is a
    * no-op) on the next run, and at no point does a KEPT manifest
    * reference a deleted dir (doomed excludes everything kept
    * manifests reference, including carried-forward append dirs and
    * ViewRef scratch dirs). Returns (manifestsDeleted, dirsDeleted). */
  def expire(keepLast: Int, alwaysKeep: Set[Int] = Set.empty): (Int, Int) = {
    require(keepLast >= 1, s"expire keepLast=$keepLast must be >= 1")
    val versions = listedVersions.sorted
    val keep = versions.takeRight(keepLast).toSet ++ (alwaysKeep intersect versions.toSet)
    val expired = versions.filterNot(keep)
    if (expired.isEmpty) return (0, 0)
    val keptRefs = keep.flatMap(refsOf)
    val doomed = expired.flatMap(refsOf).toSet -- keptRefs
    val rootAbs = Paths.get(root).toAbsolutePath.normalize
    doomed.foreach { d =>
      val p = Paths.get(root, d).toAbsolutePath.normalize
      // a corrupt/hostile manifest must not walk the delete outside the
      // store (dirs are store-relative by construction, but verify)
      require(p.startsWith(rootAbs), s"expire: dir $d escapes store root")
      deleteRecursively(p)
    }
    expired.foreach(v => Files.deleteIfExists(manifestPath(v)))
    (expired.length, doomed.size)
  }

  /** Every data/scratch dir `v`'s manifest references. */
  private def refsOf(v: Int): Set[String] = {
    val node = manifestNode(v)
    tableDirsOf(node).values.flatten.toSet ++
      viewsOfNode(node).values.flatten.flatMap(_.dirs)
  }

  /** Iceberg-style `remove_orphan_files`: delete data/scratch dirs that
    * NO remaining manifest references and whose last-modified time is
    * more than `olderThanMs` ago — crash leftovers (a commit that wrote
    * its data dirs but died before publishing its manifest, an
    * interrupted expire's partially-deleted tail). The age threshold
    * protects in-flight work: a commit's dirs and a wave's prefetch
    * scratch exist on disk BEFORE the manifest referencing them
    * publishes, so only call this with a threshold comfortably above
    * the longest wave (the crawl entrypoint runs it at init, when
    * nothing is in flight). Returns the number of dirs deleted. */
  def removeOrphans(olderThanMs: Long): Int = {
    require(olderThanMs >= 0, s"removeOrphans olderThanMs=$olderThanMs must be >= 0")
    val refs: Set[String] = listedVersions.flatMap(refsOf).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    // candidates at the granularity manifests reference: data/<t>/vNNNNN
    // and scratch/<name>/<dir> (e.g. wave=K)
    def children(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        finally s.close()
      }
    val candidates =
      children(Paths.get(root, "data")).flatMap(children) ++
        children(Paths.get(root, "scratch")).flatMap(children)
    val doomed = candidates.filter { p =>
      !refs.contains(relative(p).replace("\\", "/")) &&
        Files.getLastModifiedTime(p).toMillis < cutoff
    }
    doomed.foreach(deleteRecursively)
    doomed.size
  }

  /** Commit a new version. `replace` tables are rewritten in full;
    * `append` tables add a delta on top of the parent's dir list;
    * `squash` tables COMPACT their dir-list tail: keep the first
    * `keepDirs` dirs verbatim and replace everything after them with
    * one new write of `df` — the caller asserts df holds exactly the
    * tail's rows (plus any new delta it folds in). This is the Iceberg
    * rewrite-data-files maintenance action: append-heavy tables
    * otherwise grow one dir per commit and their read-side file
    * listing/footer cost grows O(commits). Squash cost is O(tail), so
    * squashing every K commits amortizes to O(one delta) per commit
    * while bounding the dir list at O(commits / K).
    * `rowCounts` lets callers record already-known counts without a
    * re-read; missing entries are left out of the manifest rather than
    * recounted (counting a just-written multi-GB table is exactly the
    * serial overhead this store exists to avoid). */
  /** `metrics` is BY-NAME, evaluated after the table writes and just
    * before the manifest render: a caller can thus derive manifest
    * metrics from the commit's own write pass (e.g. via
    * `Dataset.observe` — the crawl plan's stats ride the v1 frontier
    * write instead of costing a separate materialization). */
  def commit(
      replace: Map[String, DataFrame] = Map.empty,
      append: Map[String, DataFrame] = Map.empty,
      appendRef: Map[String, ViewRef] = Map.empty,
      squash: Map[String, (Int, DataFrame)] = Map.empty,
      metrics: => Map[String, Long] = Map.empty,
      rowCounts: Map[String, Long] = Map.empty,
      expectedParent: Option[Int] = None): Int = {
    val parent = latestVersion
    if (expectedParent.isDefined && parent != expectedParent)
      throw new IllegalStateException(
        s"snapshot conflict: latest=$parent expectedParent=$expectedParent")
    val v = parent.getOrElse(0) + 1
    // parse the parent manifest ONCE — tables/views/schemas all derive
    // from it, and commit sits on the per-wave serial path
    val parentNode = parent.map(manifestNode)
    val parentTables: Map[String, Seq[String]] =
      parentNode.map(tableDirsOf).getOrElse(Map.empty)

    (replace.keySet intersect append.keySet).foreach { t =>
      throw new IllegalArgumentException(s"table $t in both replace and append")
    }
    (squash.keySet intersect (replace.keySet ++ append.keySet)).foreach { t =>
      throw new IllegalArgumentException(s"table $t in squash and replace/append")
    }
    squash.foreach { case (t, (keep, _)) =>
      val prior = parentTables.getOrElse(t, Nil)
      if (keep < 0 || keep > prior.length)
        throw new IllegalArgumentException(
          s"squash keepDirs=$keep out of range for table $t (${prior.length} dirs)")
      // a squash write replaces tail DIRS only; rows living in view
      // groups would silently survive (and then duplicate if the caller
      // folded them into df) — no engine table mixes the two today
      if (parentNode.exists(n => viewsOfNode(n).get(t).exists(_.nonEmpty)))
        throw new IllegalArgumentException(s"cannot squash view-bearing table $t")
    }
    // statically-empty frames (a zero-row LocalRelation after
    // optimization — e.g. a schema-anchoring first append) cost a whole
    // Spark job each to "write": skip the write, record the schema in
    // the manifest instead, and let read() synthesize the empty frame
    def staticallyEmpty(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
        case _ => false
      }
    // squash writes are never skipped: an (unexpectedly) empty tail
    // must still shrink the dir list, and a parquet-backed df is never
    // a LocalRelation anyway
    val real = (replace ++ append).filterNot { case (_, df) => staticallyEmpty(df) } ++
      squash.map { case (t, (_, df)) => t -> df }
    // write delta data dirs (overwrite → idempotent retry); tables are
    // independent, so the writes run as CONCURRENT Spark jobs — commit
    // wall time is the slowest table, not the sum (the manifest publish
    // below stays the single serial point, as in Iceberg)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val written = Await.result(
      Future.sequence(real.toSeq.map { case (name, df) =>
        Future {
          val dir = dataDir(name, v)
          df.write.mode("overwrite").parquet(dir.toString)
          name -> relative(dir)
        }
      }), Duration.Inf).toMap

    // appendRef-only tables must appear in the map too (with no data
    // dirs) — read() resolves the table entry BEFORE consulting views,
    // so a table whose rows arrive exclusively via ViewRefs would
    // otherwise be unreadable
    val tables: Map[String, Seq[String]] =
      (parentTables.keySet ++ replace.keySet ++ append.keySet ++ appendRef.keySet ++
        squash.keySet).map { name =>
        val prior = parentTables.getOrElse(name, Nil)
        val dirs =
          if (replace.contains(name)) written.get(name).toSeq
          else if (append.contains(name)) prior ++ written.get(name)
          else if (squash.contains(name)) prior.take(squash(name)._1) ++ written.get(name)
          else prior
        name -> dirs
      }.toMap
    // metadata-only appends: each table carries a LIST of view groups
    // (one per distinct base/where/select projection rule — e.g. one per
    // crawl generation's prefetch scratch); a ref matching an existing
    // group's shape extends its dir list, a new shape appends a group.
    // Replacing a table drops its views (the replace IS the full data).
    val parentViews: Map[String, Seq[ViewRef]] =
      parentNode.map(viewsOfNode).getOrElse(Map.empty) -- replace.keySet
    val views: Map[String, Seq[ViewRef]] = parentViews ++ appendRef.map { case (name, vr) =>
      val groups = parentViews.getOrElse(name, Nil)
      val i = groups.indexWhere(p =>
        p.base == vr.base && p.where == vr.where && p.select == vr.select)
      if (i < 0) name -> (groups :+ vr)
      else name -> groups.updated(i, groups(i).copy(dirs = groups(i).dirs ++ vr.dirs))
    }
    // schemas carried forward so empty-dirs tables stay readable
    val schemas: Map[String, String] =
      parentNode.map(schemasOfNode).getOrElse(Map.empty) ++
        (replace ++ append ++ squash.map { case (t, (_, df)) => t -> df })
          .map { case (name, df) => name -> df.schema.toDDL }

    Files.createDirectories(manifestsDir)
    val tmp = manifestsDir.resolve(f".tmp-v$v%05d.json")
    Files.writeString(tmp, render(v, parent, tables, rowCounts, metrics, schemas, views))
    Files.move(tmp, manifestPath(v), StandardCopyOption.ATOMIC_MOVE)
    // hint AFTER the publish: a crash in between leaves a hint that
    // lags by one, which latestVersion heals by probing forward
    val hintTmp = manifestsDir.resolve(f".tmp-hint-v$v%05d")
    Files.writeString(hintTmp, v.toString)
    Files.move(hintTmp, hintPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    v
  }

  private type Json = com.fasterxml.jackson.databind.JsonNode

  /** One parse per manifest consultation — the derived maps below all
    * accept the parsed node, public per-version wrappers parse once. */
  private def manifestNode(version: Int): Json =
    mapper.readTree(Files.readString(manifestPath(version)))

  private def viewsOfNode(node: Json): Map[String, Seq[ViewRef]] = {
    val vn = node.get("views")
    def one(o: Json) = ViewRef(
      o.get("base").asText(),
      o.get("dirs").elements().asScala.map(_.asText()).toSeq,
      o.get("where").asText(),
      o.get("select").elements().asScala.map(_.asText()).toSeq)
    if (vn == null) Map.empty
    else vn.properties().asScala.map { e =>
      if (!e.getValue.isArray)
        throw new IllegalStateException(
          s"manifest v${node.get("version")}: views.${e.getKey} is not a list of view groups")
      e.getKey -> e.getValue.elements().asScala.map(one).toSeq
    }.toMap
  }

  private def schemasOfNode(node: Json): Map[String, String] = {
    val s = node.get("schemas")
    if (s == null) Map.empty
    else s.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def tableDirsOf(node: Json): Map[String, Seq[String]] = {
    val tables = node.get("tables")
    tables.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  /** The data directories composing `table` at `version`. */
  def tableDirs(version: Int): Map[String, Seq[String]] =
    tableDirsOf(manifestNode(version))

  def read(table: String, version: Int): DataFrame = {
    val node = manifestNode(version)
    val dirs = tableDirsOf(node).getOrElse(table,
      throw new NoSuchElementException(s"table $table not in snapshot v$version"))
    val groups = viewsOfNode(node).getOrElse(table, Nil)
    val dirFrame =
      if (dirs.isEmpty) None
      else Some(spark.read.parquet(dirs.map(d => Paths.get(root, d).toString): _*))
    val viewFrame = groups.map { vr =>
      spark.read
        .option("basePath", Paths.get(root, vr.base).toString)
        .parquet(vr.dirs.map(d => Paths.get(root, d).toString): _*)
        .where(vr.where)
        .selectExpr(vr.select: _*)
    }.reduceOption(_ unionByName _)
    (dirFrame, viewFrame) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        // never materialized (only statically-empty writes so far):
        // synthesize the empty frame from the manifest-recorded schema
        val ddl = schemasOfNode(node).getOrElse(table,
          throw new NoSuchElementException(s"table $table has no data and no schema at v$version"))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
    }
  }

  def readLatest(table: String): Option[DataFrame] =
    latestVersion.map(read(table, _))

  /** The rows of `table` contributed by dirs[from..] at `version` — the
    * un-squashed tail a compaction rewrites. Synthesizes an empty frame
    * (manifest schema) for an empty tail, like [[read]]. */
  def readTail(table: String, version: Int, from: Int): DataFrame = {
    val node = manifestNode(version)
    val dirs = tableDirsOf(node).getOrElse(table,
      throw new NoSuchElementException(s"table $table not in snapshot v$version"))
    val tail = dirs.drop(from)
    if (tail.nonEmpty)
      spark.read.parquet(tail.map(d => Paths.get(root, d).toString): _*)
    else {
      val ddl = schemasOfNode(node).getOrElse(table,
        throw new NoSuchElementException(s"table $table has no schema at v$version"))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    }
  }

  def manifest(version: Int): String =
    Files.readString(manifestPath(version))

  /** The caller-recorded metrics of one manifest — a DRIVER-SIDE JSON
    * read, zero Spark jobs (the crawl engine derives its wave cursor
    * and plan bounds from these instead of re-aggregating tables). */
  def metricsOf(version: Int): Map[String, Long] = {
    val m = manifestNode(version).get("metrics")
    if (m == null) Map.empty
    else m.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** The caller-recorded per-commit row counts of one manifest (the
    * rows `commit(rowCounts = …)` claimed this commit contributed). */
  def rowCountsOf(version: Int): Map[String, Long] = {
    val m = manifestNode(version).get("row_counts")
    if (m == null) Map.empty
    else m.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** Post-crash fsck: walk every listed manifest and check the
    * manifest ↔ dirs ↔ row_counts invariants a correct store upholds
    * at ALL times (crash recovery relies on them):
    *
    *  - every manifest parses, self-identifies (`version` field), and
    *    names a strictly older parent;
    *  - every data dir and every ViewRef dir a manifest references
    *    exists on disk, with no duplicate dir entries (a duplicate
    *    would double-count rows at read time);
    *  - every view-bearing table also appears in the tables map
    *    ([[read]] resolves the table entry first);
    *  - every recorded schema DDL parses;
    *  - the version hint resolves ([[latestVersion]]'s healing) to the
    *    newest listed manifest;
    *  - deep (newest `deepVersions` manifests whose parent is still
    *    listed): the caller-recorded `row_counts` equal the rows the
    *    commit actually contributed on disk — the delta dirs plus the
    *    delta view-group dirs (where-filtered), counted with Spark.
    *
    * ORPHAN dirs (written but referenced by no manifest — the normal
    * leftovers of a crash between data write and manifest publish) are
    * NOT problems: [[removeOrphans]] owns them, and resume overwrites
    * them idempotently. Returns human-readable problem strings; empty
    * = healthy. An empty store verifies trivially. */
  def verify(deepVersions: Int = 1): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val versions = listedVersions.sorted
    if (versions.isEmpty) return Nil
    if (!latestVersion.contains(versions.max))
      problems += s"latestVersion=$latestVersion does not heal to newest manifest v${versions.max}"
    def dirExists(d: String) = Files.isDirectory(Paths.get(root, d))
    for (v <- versions) {
      try {
        val node = manifestNode(v)
        if (node.get("version").asInt() != v)
          problems += s"v$v: manifest self-identifies as ${node.get("version").asInt()}"
        if (node.get("parent").asInt() >= v)
          problems += s"v$v: parent ${node.get("parent").asInt()} not older"
        val tdirs = tableDirsOf(node)
        for ((t, dirs) <- tdirs) {
          if (dirs.distinct.length != dirs.length)
            problems += s"v$v/$t: duplicate dir entries (${dirs.mkString(", ")})"
          dirs.filterNot(dirExists).foreach(d => problems += s"v$v/$t: missing data dir $d")
        }
        for ((t, groups) <- viewsOfNode(node)) {
          if (!tdirs.contains(t))
            problems += s"v$v: view-bearing table $t absent from tables map"
          groups.flatMap(_.dirs).filterNot(dirExists)
            .foreach(d => problems += s"v$v/$t: missing view dir $d")
        }
        for ((t, ddl) <- schemasOfNode(node))
          try org.apache.spark.sql.types.StructType.fromDDL(ddl)
          catch { case e: Exception => problems += s"v$v/$t: schema DDL unparseable: ${e.getMessage}" }
      } catch {
        case e: Exception => problems += s"v$v: manifest unreadable: ${e.getMessage}"
      }
    }
    for (v <- versions.takeRight(deepVersions.max(0)); if problems.isEmpty) {
      val node = manifestNode(v)
      val counts = rowCountsOf(v)
      val parent = node.get("parent").asInt()
      // an expired parent leaves the delta unreconstructible — legal
      // (expiration is the feature), so the deep check just skips
      if (counts.nonEmpty && (parent == 0 || versions.contains(parent))) {
        val pNode = if (parent == 0) None else Some(manifestNode(parent))
        val pDirs = pNode.map(tableDirsOf).getOrElse(Map.empty)
        val pViews = pNode.map(viewsOfNode).getOrElse(Map.empty)
        for ((t, n) <- counts) {
          val newDirs = tableDirsOf(node).getOrElse(t, Nil)
            .filterNot(pDirs.getOrElse(t, Nil).toSet)
          val dirRows = newDirs.map(d =>
            spark.read.parquet(Paths.get(root, d).toString).count()).sum
          val viewRows = viewsOfNode(node).getOrElse(t, Nil).map { vr =>
            val prior = pViews.getOrElse(t, Nil)
              .filter(p => p.base == vr.base && p.where == vr.where && p.select == vr.select)
              .flatMap(_.dirs).toSet
            val fresh = vr.dirs.filterNot(prior)
            if (fresh.isEmpty) 0L
            else spark.read
              .option("basePath", Paths.get(root, vr.base).toString)
              .parquet(fresh.map(d => Paths.get(root, d).toString): _*)
              .where(vr.where).count()
          }.sum
          if (dirRows + viewRows != n)
            problems += s"v$v/$t: row_counts=$n but commit contributed ${dirRows + viewRows} rows on disk"
        }
      }
    }
    problems.toSeq
  }

  /** A scratch-dataset path under the store root, used for the crawl's
    * prefetched fetch results. NOTE: once a wave commits with a
    * [[SnapshotTable.ViewRef]] into it, the referenced `wave=K` dirs
    * are live table data (do not delete scratch out from under a store
    * with view-bearing manifests) — Iceberg analogue: existing data
    * files adopted by a metadata-only append. */
  def scratchPath(name: String): String =
    Paths.get(root, "scratch", name).toString

  private def relative(p: Path): String = Paths.get(root).relativize(p).toString

  private def render(v: Int, parent: Option[Int], tables: Map[String, Seq[String]],
      counts: Map[String, Long], metrics: Map[String, Long],
      schemas: Map[String, String], views: Map[String, Seq[ViewRef]]): String = {
    // keys go through the SAME JSON escaping as values: an unescaped
    // quote/backslash in a table or metric key would write an invalid
    // manifest that bricks every later parse of this store
    def key(k: String) = mapper.writeValueAsString(k)
    def obj(m: Map[String, Long]) =
      m.toSeq.sortBy(_._1).map { case (k, x) => s"${key(k)}: $x" }.mkString("{", ", ", "}")
    def strs(xs: Seq[String]) =
      xs.map(x => mapper.writeValueAsString(x.replace("\\", "/"))).mkString("[", ", ", "]")
    val tbl = tables.toSeq.sortBy(_._1).map { case (k, dirs) =>
      s"${key(k)}: ${strs(dirs)}"
    }.mkString("{", ", ", "}")
    val sch = schemas.toSeq.sortBy(_._1).map { case (k, ddl) =>
      s"${key(k)}: ${mapper.writeValueAsString(ddl)}"
    }.mkString("{", ", ", "}")
    def grp(vr: ViewRef) =
      s"""{"base": ${mapper.writeValueAsString(vr.base.replace("\\", "/"))}, "dirs": ${strs(vr.dirs)}, "where": ${mapper.writeValueAsString(vr.where)}, "select": ${strs(vr.select)}}"""
    val vws = views.toSeq.sortBy(_._1).map { case (k, grs) =>
      s"${key(k)}: ${grs.map(grp).mkString("[", ", ", "]")}"
    }.mkString("{", ", ", "}")
    s"""{"version": $v, "parent": ${parent.getOrElse(0)}, "tables": $tbl, "row_counts": ${obj(counts)}, "metrics": ${obj(metrics)}, "schemas": $sch, "views": $vws}"""
  }
}
