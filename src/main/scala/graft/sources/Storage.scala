package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Layout.LineageOps
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Thin storage facade keeping the HyDFS client-verb surface (SURVEY §2.4) so
  * tests and pipelines can speak the reference's language against any
  * Spark-supported filesystem. Replication, repair, and ring placement
  * (`core_process_routines.go`, `core_process_hydfs.go`) are storage-layer
  * concerns Spark delegates to the FS — none of that is rebuilt.
  */
object Storage {

  /** `create localf hydfsf` — create-once, duplicate rejected
    * (`createFile`, `core_process_utils.go:1809-1869`).
    */
  def create(df: DataFrame, path: String): Unit =
    df.write.mode("errorifexists").parquet(path)

  /** `append localf hydfsf` — client-ordered append chunks
    * (`appendFile`, `core_process_utils.go:2191-2223`); parquet part files
    * play the role of `append_{node}_{file}_{lamport}` chunks, commit order
    * supplied by the FS.
    */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Overwrite-create — the build-artifact face of [[create]]: an index
    * rebuild REPLACES the prior artifact (single-writer, e.g. the IVF-PQ
    * build job), where `create`'s create-once contract would reject it.
    */
  def replace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** `get hydfsf localf` — snapshot read with read-your-writes from the FS
    * (`getFile`, `core_process_utils.go:1962-2037`).
    *
    * Without a schema, `spark.read.parquet` starts a one-task Spark job to
    * read a footer on every call (77 ms for a warm read of sf0.1
    * `lineitem` against 6 ms with the schema given, median of 30,
    * `local[4]` on 4 vCPUs). So the schema is inferred once and memoized
    * under the session (held weakly, so the memo does not outlive it), the
    * path, and the table's file set:
    * every file's relative name, size and mtime, from one driver-side
    * listing taken before the read. A rewrite at the same path changes the
    * file set and re-infers; only the latest file set of a path is kept. A
    * missing or file-less path is read as before, so it fails as before.
    */
  def get(spark: SparkSession, path: String): DataFrame = {
    val files = fileSet(path)
    val known = schemas.synchronized {
      Option(schemas.get(spark)).flatMap(_.get(path)).collect { case (`files`, s) => s }
    }
    known match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) schemas.synchronized {
          schemas.put(spark,
            Option(schemas.get(spark)).getOrElse(Map.empty) + (path -> (files, df.schema)))
        }
        df
    }
  }

  private type FileSet = Seq[(String, Long, Long)]

  private val schemas =
    new java.util.WeakHashMap[SparkSession, Map[String, (FileSet, StructType)]]()

  /** (relative name, size, mtime) of every regular file under `path`,
    * sorted; empty when the path is missing or changes under the walk (a
    * concurrent rewrite), so that read is not memoized.
    */
  private def fileSet(path: String): FileSet = {
    val root = Paths.get(path)
    try {
      val walk = Files.walk(root)
      try walk.iterator().asScala.flatMap { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some((root.relativize(f).toString, a.size, a.lastModifiedTime.toMillis))
        else None
      }.toVector.sorted
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Nil }
  }

  def exists(path: String): Boolean = Files.exists(Paths.get(path))

  /** Remove an artifact table or file (recursive). */
  def drop(path: String): Unit = deleteRecursively(Paths.get(path))

  /** `merge hydfsf` — compact append chunks into few files
    * (`mergeFile`, `core_process_utils.go:2040-2146`) through [[rewrite]]'s
    * crash-safe swap. `numFiles` bounds output parallelism like the
    * coordinator's single merged base file.
    */
  def merge(spark: SparkSession, path: String, numFiles: Int = 1): Unit =
    rewrite(get(spark, path).coalesce(numFiles), path)

  /** Crash-safe table swap: write `df` (which may read from `path` itself —
    * the write lands in a sidecar, so the read is never clobbered mid-scan)
    * to `path.__merge_tmp`, rename the old data aside (never deleted first),
    * move the new dir in, then drop the sidecar — a crash at any step leaves
    * a complete copy of the data in either the target or the `.__merge_old`
    * sidecar. The compaction primitive of the index-serving layer:
    * tombstone-filtered rewrites of postings/codes.
    */
  def rewrite(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val tmp = path.stripSuffix("/") + ".__merge_tmp"
    deleteRecursively(Paths.get(tmp))
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    val target = Paths.get(path)
    val old    = Paths.get(path.stripSuffix("/") + ".__merge_old")
    deleteRecursively(old)
    Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  // ---- Commit core of the persisted serving stores ([[graft.functions
  // .TextIndex]], [[graft.functions.AnnIndex]], [[graft.functions
  // .SketchStore]]). A store is a directory of parquet tables plus
  // `manifest`, a one-line file holding the store's committed physical row
  // count. Every write verb runs inside [[commit]], which drops the manifest
  // before the verb's first table write and moves the new one into place
  // after its last: a crash mid-verb leaves a store that every verb refuses,
  // never one that serves a mix of old and new tables. Deletes are
  // tombstones (`tombstones`, one key column) that probes anti-join until a
  // compaction rewrites them away.

  private def manifest(store: String) = Paths.get(store, "manifest")
  private def tombstonesPath(store: String) = s"$store/tombstones"

  /** Refuse a store without a commit manifest: torn by a failed verb, or never built. */
  def requireCommitted(store: String): Unit =
    require(Files.isRegularFile(manifest(store)),
      s"store at $store has no commit manifest — torn or missing build; rebuild it")

  /** The physical row count the last commit recorded — a file read, no Spark job. */
  def committedRows(store: String): Long = {
    requireCommitted(store)
    Files.readString(manifest(store)).trim.toLong
  }

  /** Run one write verb as a transaction: drop the manifest, run `body`, and
    * commit the physical row count it returns — written to a temporary name
    * and moved into place atomically, so a reader sees either no manifest or
    * a whole one.
    */
  def commit(store: String)(body: => Long): Unit = {
    deleteRecursively(manifest(store))
    val rows = body
    val tmp  = Paths.get(store, ".manifest.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, s"$rows\n")
    Files.move(tmp, manifest(store), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A write's row count, observed on the write itself instead of a re-count job. */
  def observedCount(df: DataFrame): (DataFrame, () => Long) = {
    val obs = new org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n")), () => obs.get("n").asInstanceOf[Long])
  }

  def tombstones(spark: SparkSession, store: String): Option[DataFrame] =
    if (exists(tombstonesPath(store))) Some(get(spark, tombstonesPath(store))) else None

  /** A rebuild or compaction resets delete state. */
  def clearTombstones(store: String): Unit = drop(tombstonesPath(store))

  /** Add the ids in the first column of `ids` to the tombstone table under
    * `key`. Returns the ids that were not tombstoned before, pinned, so a
    * store's corrections subtract each deleted row exactly once (O(delta)).
    */
  def tombstone(store: String, ids: DataFrame, key: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val prior = tombstones(spark, store).getOrElse(Seq.empty[Long].toDF(key))
    // `ids` is consumed once, by this anti-join — pinning it too would be
    // one more materialization job per delete
    val fresh = ids.select(col(ids.columns.head).cast("long").as(key)).distinct()
      .join(prior, Seq(key), "left_anti").truncateLineage()
    replace(prior.union(fresh).truncateLineage(), tombstonesPath(store))
    fresh
  }

  /** Refuse an append of an id already in the store's physical id table:
    * `present`'s `key` column (docs.doc_id, codes.id, segments.seg). A live
    * id would get a second row, counted twice; a tombstoned one keeps its
    * old rows until a compaction, so it would come back beside them. One
    * check covers both. The semi-join stops at its first match.
    */
  def requireNewIds(
      store: String, present: DataFrame, key: String, rows: DataFrame, idCol: String): Unit = {
    val clash = rows.select(col(idCol).cast("long").as(key)).distinct()
      .join(present.select(col(key)).distinct(), Seq(key), "left_semi").limit(1).count()
    require(clash == 0L, s"an appended $key is already present in $store, live or " +
      "tombstoned: ids are append-once — compact the store before re-adding a deleted id")
  }

  /** The compact gate: the pinned tombstone table when there is one and it
    * holds at least `minFraction` of the committed rows, else None — the
    * rewrite is a full pass, worth it only once enough deletes accumulate.
    * The denominator is [[committedRows]], not a full-table count.
    */
  def compactable(spark: SparkSession, store: String, minFraction: Double): Option[DataFrame] = {
    val rows = committedRows(store)
    tombstones(spark, store).map(_.truncateLineage()).filter { tomb =>
      val n = tomb.count()
      n > 0L && (rows == 0L || n.toDouble / rows.toDouble >= minFraction)
    }
  }

  /** Snapshot retention + crash-debris sweep — the VACUUM of the
    * versioned-snapshot layout (`path/snap=N/` parquet dirs, `path/manifest`
    * holding the live N, manifest written LAST by publishers): physically
    * removes snapshots older than the `keepLast`-sized window ending at the
    * live snapshot, plus rename-aside / staged-append debris
    * (`.__merge_tmp` / `.__merge_old` / `.__append_*`) left by crashed
    * writers — but only entries OLDER than `debrisGraceMs` (default 10 min):
    * a younger staging dir may belong to a concurrent in-flight
    * rewrite/append whose atomic swap hasn't landed yet, and vacuum must
    * never race a live writer. Safety contract: REFUSES a torn store
    * (snapshots present but
    * no manifest — a reader can't tell which is live, so neither can the
    * vacuum); never touches the live snapshot; never touches snapshots
    * NEWER than live (an in-flight publish owns them — its manifest flip
    * hasn't happened yet). At 100 TB this is metadata-only work: one
    * directory listing + one manifest row, deletes proportional to expired
    * snapshots, zero data reads.
    * Returns (liveSnap, removedSnaps, removedStray).
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int,
      debrisGraceMs: Long = 600000L): (Long, Long, Long) = {
    require(keepLast >= 1, "vacuum must retain at least the live snapshot")
    val base = path.stripSuffix("/")
    val entries = ls(path)
    val snaps = entries.filter(_.startsWith("snap=")).map(_.stripPrefix("snap=").toLong)
    val manifested = exists(s"$base/manifest")
    require(snaps.isEmpty || manifested,
      "torn store: snapshots present but no manifest names the live one — refusing to vacuum")
    // Debris sweep is AGE-GATED: a `.__merge_tmp`/`.__append_*` entry younger
    // than the grace period may be a CONCURRENT writer's in-flight staging
    // dir, not crash debris — deleting it would break that writer's atomic
    // swap mid-write. Only entries whose mtime predates the grace window are
    // provably abandoned (a live stager renames within seconds).
    val now = System.currentTimeMillis()
    val stray = entries.filter(n =>
        n.contains(".__merge_tmp") || n.contains(".__merge_old") || n.contains(".__append_"))
      .filter(n => now - Files.getLastModifiedTime(Paths.get(s"$base/$n")).toMillis
        >= debrisGraceMs)
    stray.foreach(n => drop(s"$base/$n"))
    if (!manifested) return (-1L, 0L, stray.size.toLong) // empty store: debris-only no-op
    val live = spark.read.parquet(s"$base/manifest").head().getAs[Long]("live")
    val expired = snaps.filter(v => v < live - keepLast + 1) // never live, never in-flight (> live)
    expired.foreach(v => drop(s"$base/snap=$v"))
    (live, expired.size.toLong, stray.size.toLong)
  }

  /** Backdate an entry's mtime (crash-debris simulation in tests/queries:
    * vacuum only sweeps debris OLDER than its grace window).
    */
  def setMtime(path: String, mtimeMs: Long): Unit =
    Files.setLastModifiedTime(Paths.get(path), java.nio.file.attribute.FileTime.fromMillis(mtimeMs))

  /** `ls` / `store` — file→storage listing (`core_process_hydfs.go:613-630`). */
  def ls(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else Files.list(p).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  }

  /** `quantify` — unique-record count of a dest file
    * (`core_process_stream_DS.go:1779-1815`).
    */
  def quantify(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).distinct().count()

  /** `multiappend file vm1,vm2,… localf1,localf2,…` — N writers append to the
    * same dataset concurrently (`core_process_hydfs.go:656-701` launches the
    * appends in parallel goroutines). Each writer commits its own uniquely
    * named part files, so concurrent appends compose without coordination;
    * client order within a writer is preserved, cross-writer order is
    * whatever the FS commit order yields — exactly the reference's semantics.
    */
  def multiAppend(dfs: Seq[DataFrame], path: String): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = dfs.map { df =>
      val t = new Thread(() =>
        try stagedAppend(df, path)
        catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) throw new RuntimeException("multiappend writer failed", failures.peek())
  }

  /** Append safe under CONCURRENT writers: plain `mode("append")` jobs share
    * the destination's `_temporary/0` staging dir (FileOutputCommitter), so
    * two simultaneous appends corrupt each other's commit. Instead each
    * writer commits to a private staging dir and then moves its uniquely
    * named part files (parquet part names embed a job UUID — the analog of
    * the reference's `append_{node}_{file}_{lamport}` chunk names) into the
    * dataset. This is also the multi-writer pattern at 100 TB: unique-name
    * chunk commit, never a shared staging root.
    */
  def stagedAppend(df: DataFrame, path: String): Unit = {
    val stage = path.stripSuffix("/") + ".__append_" + java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("overwrite").parquet(stage)
    val target = Paths.get(path)
    Files.createDirectories(target)
    Files.list(Paths.get(stage)).iterator().asScala
      .filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach(f => Files.move(f, target.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    deleteRecursively(Paths.get(stage))
  }

  /** `getfromreplica vm hydfsf` — read one replica's copy directly
    * (`core_process_hydfs.go:631-645`). The FS-analog of a replica is a
    * single committed part file; reading exactly one shows what that "node"
    * stores, bypassing the merged view.
    */
  def getFromReplica(spark: SparkSession, path: String, partFile: String): DataFrame =
    spark.read.parquet(path.stripSuffix("/") + "/" + partFile)

  /** `listmemids` / `store` — the membership/placement diagnostic
    * (`core_process_hydfs.go:613-655`): which storage units hold the dataset
    * and how much each holds. FS-analog: the committed data files with their
    * sizes, sorted by name (the "ring" order is the FS listing order).
    */
  def listMembers(path: String): Seq[(String, Long)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else
      Files.list(p).iterator().asScala
        .filter { f =>
          val n = f.getFileName.toString
          Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(f => (f.getFileName.toString, Files.size(f)))
        .toSeq.sortBy(_._1)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
}
