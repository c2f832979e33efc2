package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
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
    * (`mergeFile`, `core_process_utils.go:2040-2146`); `numFiles` bounds
    * output parallelism like the coordinator's single merged base file. A
    * crash-safe swap: the merged copy is written to `path.__merge_tmp` (so
    * the read of `path` is never clobbered mid-scan), the old data renamed
    * aside (never deleted first), the new dir moved in, then the sidecar
    * dropped — a crash at any step leaves a complete copy of the data in
    * either the target or the `.__merge_old` sidecar.
    */
  def merge(spark: SparkSession, path: String, numFiles: Int = 1): Unit = {
    val tmp = path.stripSuffix("/") + ".__merge_tmp"
    deleteRecursively(Paths.get(tmp))
    get(spark, path).coalesce(numFiles).write.mode("overwrite").parquet(tmp)
    val target = Paths.get(path)
    val old    = Paths.get(path.stripSuffix("/") + ".__merge_old")
    deleteRecursively(old)
    Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  // ---- Commit core of the persisted stores (TextIndex, AnnIndex,
  // SketchStore, Governance's published snapshots). A store's tables are
  // version directories, `<table>/<v>`, each written by the verb that made
  // version v; one commit pointer per version, `_commits/<v>`, holds the
  // physical row count, the store's named scalars and each table's live
  // directories, and the highest pointer is live. The pointer is text: a
  // first line `rows <n>` followed by one ` <name>=<long>` per scalar, then
  // one line `<table> <v>...` per table; an older pointer's first line is
  // `rows <n>` alone, so it carries no scalars. A verb only adds the next
  // version's directories and moves its pointer into place last, so until
  // then readers see the previous version whole and a crash at any step
  // leaves the store serving. Deletes are tombstone directories that probes anti-join until
  // a compaction writes the survivors as one merged directory.

  private val Pointers = "_commits"

  private def pointer(store: String, n: Long) = Paths.get(store, Pointers, n.toString)

  private def isVersion(name: String) = name.nonEmpty && name.forall(_.isDigit)

  /** A store's version: number, physical id-table row count, each table's
    * live directories, named by the versions that wrote them, and the named
    * long scalars its verbs read (a text index's corpus totals, an ANN
    * index's dim and m, a sketch store's k), committed with the tables.
    */
  final case class Version(store: String, n: Long, rows: Long, tables: Map[String, Seq[Long]],
      scalars: Map[String, Long]) {
    /** Scalar `name`; refuses a store whose pointer lacks it (an older layout). */
    def scalar(name: String): Long = scalars.getOrElse(name, throw new IllegalArgumentException(
      s"store at $store has no $name in its commit pointer (an older layout) — rebuild it"))

    /** This version with `values` set among its scalars. */
    def withScalars(values: (String, Long)*): Version = copy(scalars = scalars ++ values)

    def dirs(table: String): Seq[String] = tables.getOrElse(table, Nil).map(v => s"$store/$table/$v")

    /** `table`'s live directories as one frame, read with its declared
      * schema: no footer job, no entry in [[get]]'s memo. (Spark takes one
      * partition root per read, so read a partitioned table per directory.)
      */
    def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(dirs(table): _*)

    /** The directory the next version writes `table` to. */
    def out(table: String): String = s"$store/$table/${n + 1}"

    /** Write `df` to [[out]], replacing what an uncommitted attempt left there. */
    def write(df: DataFrame, table: String, partitionCols: String*): Unit = {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(out(table))
    }

    /** The next version: `rows`, each `added` table with its new directory
      * beside its live ones, each `replaced` table with its new directory
      * alone, each `dropped` table gone, and the scalars carried over.
      */
    def next(rows: Long, added: Seq[String] = Nil, replaced: Seq[String] = Nil,
        dropped: Seq[String] = Nil): Version =
      copy(n = n + 1, rows = rows, tables = tables -- dropped ++
        added.map(t => t -> (tables.getOrElse(t, Nil) :+ (n + 1))) ++ replaced.map(_ -> Seq(n + 1)))

    /** The next version as a rebuild: `tables`, each its new directory, and
      * nothing else (no scalar either).
      */
    def rebuilt(rows: Long, tables: String*): Version =
      copy(tables = Map.empty, scalars = Map.empty).next(rows, replaced = tables)
  }

  private def readVersion(store: String, n: Long): Version = {
    val lines = Files.readAllLines(pointer(store, n)).asScala.toSeq.map(_.split(' ').toSeq)
    Version(store, n, lines.head(1).toLong, lines.tail.map(l => l.head -> l.tail.map(_.toLong)).toMap,
      lines.head.drop(2).map { kv => val (k, x) = kv.splitAt(kv.indexOf('=')); k -> x.tail.toLong }.toMap)
  }

  private def pointers(store: String): Seq[Long] =
    ls(s"$store/$Pointers").filter(isVersion).map(_.toLong)
      .filter(n => Files.isRegularFile(pointer(store, n))).sorted

  /** The committed versions still on disk, oldest first. */
  def history(store: String): Seq[Version] = pointers(store).map(readVersion(store, _))

  /** The live version (one listing, one file read), or an empty version 0
    * when nothing was committed: what a build starts from.
    */
  def head(store: String): Version =
    pointers(store).lastOption.fold(Version(store, 0L, 0L, Map.empty, Map.empty))(readVersion(store, _))

  /** The live version; refuses a store that was never committed. */
  def committed(store: String): Version = {
    val v = head(store)
    require(v.n > 0, s"store at $store has no committed version — build it first")
    v
  }

  /** Make `v` the live version: its pointer is written under a temporary
    * name and moved into place atomically, so a reader sees the previous
    * version or this one, whole, tables and scalars together. Superseded
    * versions stay on disk.
    */
  def publish(v: Version): Unit = {
    val tmp = Paths.get(v.store, Pointers, ".pending")
    Files.createDirectories(tmp.getParent)
    val head = (s"rows ${v.rows}" +: v.scalars.toSeq.sorted.map { case (k, x) => s"$k=$x" }).mkString(" ")
    Files.writeString(tmp, (head +: v.tables.toSeq.sortBy(_._1).map { case (t, vs) =>
      (t +: vs.map(_.toString)).mkString(" ")
    }).mkString("", "\n", "\n"))
    Files.move(tmp, pointer(v.store, v.n), StandardCopyOption.ATOMIC_MOVE)
  }

  /** [[publish]] `v`, then drop what it superseded: [[vacuum]] keeping one version. */
  def commit(v: Version): Unit = {
    publish(v)
    vacuum(v.store, keepLast = 1)
  }

  /** A write's row count, observed on the write itself instead of a re-count job. */
  def observedCount(df: DataFrame): (DataFrame, () => Long) = {
    val obs = new org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n")), () => obs.get("n").asInstanceOf[Long])
  }

  private def tombstoneSchema(key: String) = new StructType().add(key, LongType)

  /** `v`'s tombstones, one long `key` column; None when it has none. */
  def tombstones(spark: SparkSession, v: Version, key: String): Option[DataFrame] =
    if (v.tables.contains("tombstones")) Some(v.read(spark, "tombstones", tombstoneSchema(key)))
    else None

  /** Write the ids in the first column of `ids` that `v` has not tombstoned
    * yet as the next version's tombstone directory, and return them, read
    * back from it, so a store's corrections subtract each deleted row
    * exactly once (O(delta)). Commit with `added = Seq("tombstones")`.
    */
  def tombstone(v: Version, ids: DataFrame, key: String): DataFrame = {
    val spark = ids.sparkSession
    val asked = ids.select(col(ids.columns.head).cast("long").as(key)).distinct()
    v.write(tombstones(spark, v, key).fold(asked)(asked.join(_, Seq(key), "left_anti")), "tombstones")
    spark.read.schema(tombstoneSchema(key)).parquet(v.out("tombstones"))
  }

  /** Refuse an append of an id already in the store's physical id table:
    * `present`'s `key` column (docs.doc_id, codes.id, segments.seg). A live
    * id would get a second row, counted twice; a tombstoned one keeps its
    * old rows until a compaction, so it would come back beside them. One
    * check covers both: `present` semi-joins a broadcast of the new ids,
    * and the limit stops it at its first match.
    */
  def requireNewIds(
      store: String, present: DataFrame, key: String, rows: DataFrame, idCol: String): Unit = {
    val clash = present.select(col(key))
      .join(broadcast(rows.select(col(idCol).cast("long").as(key))), Seq(key), "left_semi")
      .limit(1).count()
    require(clash == 0L, s"an appended $key is already present in $store, live or " +
      "tombstoned: ids are append-once — compact the store before re-adding a deleted id")
  }

  /** The compact gate: `v`'s tombstones when they hold at least
    * `minFraction` of its committed rows, else None — the rewrite is a full
    * pass, worth it only once enough deletes accumulate.
    */
  def compactable(spark: SparkSession, v: Version, key: String, minFraction: Double): Option[DataFrame] =
    tombstones(spark, v, key).filter { tomb =>
      val n = tomb.count()
      n > 0L && (v.rows == 0L || n.toDouble / v.rows.toDouble >= minFraction)
    }

  /** VACUUM of the commit layout: keeps the `keepLast` newest pointers and
    * the directories they name; drops the older pointers and every other
    * version directory numbered at most the live version (superseded, or
    * left by a verb that died after its pointer moved). A directory numbered
    * above it may be an in-flight verb's, so it goes, like debris, only once
    * older than `debrisGraceMs`: vacuum never races a live writer. Debris is
    * whatever is not a table or a version: rename-aside and staged-append
    * sidecars (`.__merge_tmp` / `.__merge_old` / `.__append_*`), a loose
    * file beside the tables (an old layout's `manifest`), and a
    * non-numbered entry inside a table directory (an old flat layout's
    * `bucket=*` or `part-*`), any of which a read of the table directory
    * would pick up. Refuses version directories without any pointer
    * (nothing says which is live). Metadata-only: listings and pointer
    * reads, zero data reads. Returns (live version or -1, versions expired,
    * debris swept).
    */
  def vacuum(path: String, keepLast: Int, debrisGraceMs: Long = 600000L): (Long, Long, Long) = {
    require(keepLast >= 1, "vacuum must retain at least the live version")
    val base = path.stripSuffix("/")
    val now  = System.currentTimeMillis()
    def aged(p: String) = now - Files.getLastModifiedTime(Paths.get(p)).toMillis >= debrisGraceMs
    val (tables, loose) = ls(base).filterNot(_ == Pointers)
      .partition(n => !n.contains(".__") && Files.isDirectory(Paths.get(base, n)))
    val (versions, foreign) = tables.flatMap(t => ls(s"$base/$t").map(t -> _)).partition(e => isVersion(e._2))
    val stray = (loose ++ foreign.map { case (t, n) => s"$t/$n" }).filter(n => aged(s"$base/$n"))
    stray.foreach(n => drop(s"$base/$n"))
    val dirs = versions.map { case (t, v) => (t, v.toLong) }
    val all = history(base)
    require(all.nonEmpty || dirs.isEmpty,
      s"store at $base holds version directories but no commit pointer — refusing to vacuum")
    if (all.isEmpty) return (-1L, 0L, stray.size.toLong)
    val live = all.last.n
    val (expired, kept) = all.splitAt(math.max(0, all.size - keepLast))
    val named = kept.flatMap(_.tables.toSeq.flatMap { case (t, vs) => vs.map(t -> _) }).toSet
    dirs.filter { case (t, v) => !named((t, v)) && (v <= live || aged(s"$base/$t/$v")) }
      .foreach { case (t, v) => drop(s"$base/$t/$v") }
    (dirs.map(_._1) ++ foreign.map(_._1)).distinct.filter(t => ls(s"$base/$t").isEmpty)
      .foreach(t => drop(s"$base/$t"))
    expired.foreach(v => drop(pointer(base, v.n).toString))
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
    get(spark, path).distinct().count()

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
    get(spark, path.stripSuffix("/") + "/" + partFile)

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
