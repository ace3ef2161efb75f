package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Snapshot/checkpoint store — Iceberg-style table semantics over plain
  * parquet (this sandbox ships no Iceberg runtime jars; the layout below
  * is a faithful miniature of Iceberg's snapshot model and swaps for
  * `writeTo(...).append()` + snapshot-id reads on a real cluster).
  *
  * Layout:
  * {{{
  *   <root>/v<N>/<table>/           parquet data per snapshot
  *   <root>/v<N>/<table>/_SCHEMA    the table's schema (JSON)
  *   <root>/v<N>/MANIFEST.json      tables + row counts + round
  *   <root>/CURRENT                 text file: committed snapshot id
  * }}}
  *
  * Commit protocol: write everything under `v<N>` (invisible to readers),
  * then atomically move `CURRENT.tmp` → `CURRENT`. A crashed round leaves
  * a dangling `v<N>` that the next run ignores — exactly Iceberg's
  * snapshot atomicity, which is what makes the crawl resumable from the
  * last committed round (north rule: resumable from checkpoint with
  * per-partition lineage).
  *
  * Write path: every parquet table is one `FileFormatWriter.write` call
  * ([[GraftBridge.writeParquet]]) with [[InProcessLocalFs.hadoopConf]],
  * replacing the target dir as `SaveMode.Overwrite` does; `_SUCCESS`
  * comes from the commit protocol and `_SCHEMA` from the store. That FS
  * sets file modes without a `chmod` process per file, and that conf
  * holds only what Hadoop's defaults do not give: each write task
  * deserializes it twice, ~25 properties instead of the session's
  * ~1,100.
  *
  * Maintenance (Iceberg `rewrite_data_files` + `expire_snapshots`) is
  * one fold, [[relocateDeltas]]: it moves a delta table's files into
  * hidden `_part=<round>` dirs of a later snapshot and runs no Spark
  * job. Relocation is the only producer of that layout.
  */
final class SnapshotStore(val root: String) {

  private def rootPath: Path = Paths.get(root)
  private def currentFile: Path = rootPath.resolve("CURRENT")

  def currentSnapshot: Option[Int] =
    if (Files.exists(currentFile)) Some(Files.readString(currentFile).trim.toInt) else None

  def snapshotDir(id: Int): String = s"$root/v$id"

  def tablePath(id: Int, table: String): String = s"${snapshotDir(id)}/$table"

  def hasTable(id: Int, table: String): Boolean =
    Files.exists(Paths.get(tablePath(id, table), "_SUCCESS"))

  /** Hidden-partition layout column — a relocated base's
    * `_part=<round>` directories, NEVER visible to readers (Iceberg's
    * hidden partitioning: layout is table metadata, not schema).
    */
  private val HiddenPartCol = "_part"
  private def transformMarker(id: Int, table: String): Path =
    Paths.get(tablePath(id, table), "_PARTITION_TRANSFORM")

  /** The table's schema, kept as table METADATA as Iceberg does: every
    * write records it in a `_SCHEMA` marker beside the data, and
    * maintenance keeps it current. Reads hand it to the scan, so opening
    * a table runs no footer-inference Spark job — the crawl reloads its
    * state after every commit, and inference there cost one job per
    * snapshot read.
    */
  def schema(id: Int, table: String): StructType = {
    val m = Paths.get(tablePath(id, table), "_SCHEMA")
    require(Files.exists(m), s"table $table of snapshot $id has no recorded schema ($m)")
    DataType.fromJson(Files.readString(m)).asInstanceOf[StructType]
  }

  /** Record `s` as the schema of the table staged in `dir`: the
    * nullable form, exactly what footer inference of the written files
    * yields (file sources read every column as nullable).
    */
  private def recordSchema(dir: Path, s: StructType): Unit =
    Files.writeString(dir.resolve("_SCHEMA"), GraftBridge.asNullable(s).json)

  /** Add-column evolution of recorded schemas: the earliest schema's
    * columns in order, then each later schema's new columns — the
    * column order `unionByName(allowMissingColumns)` produces.
    */
  private def evolve(schemas: Seq[StructType]): StructType =
    schemas.reduce { (acc, s) =>
      StructType(acc.fields ++ s.fields.filterNot(f => acc.fieldNames.contains(f.name)))
    }

  def read(spark: SparkSession, id: Int, table: String): DataFrame = {
    // a maintained base can hold files of MIXED schemas in one dir
    // (relocation moves in every round's files as they were written):
    // the recorded schema is their evolution, and the scan projects
    // null for columns a file lacks
    val df = spark.read.schema(schema(id, table)).parquet(tablePath(id, table))
    if (df.columns.contains(HiddenPartCol)) df.drop(HiddenPartCol) else df
  }

  def readOrEmpty(spark: SparkSession, id: Option[Int], table: String, like: DataFrame): DataFrame =
    id.filter(hasTable(_, table)) match {
      case Some(s) => read(spark, s, table)
      case None => like.limit(0)
    }

  /** Clear a dangling (uncommitted) snapshot dir before staging round
    * `id`: a crashed attempt — or a rolled-back timeline whose deletes
    * were interrupted — may have left tables the new attempt will not
    * overwrite, and `commit` manifests every dir it finds, so stale
    * tables from the dead attempt would be re-manifested as live data.
    * Refuses to touch committed snapshots.
    */
  def clearStaged(id: Int): Unit = {
    require(currentSnapshot.forall(_ < id), s"refusing to clear committed snapshot $id")
    deleteRecursively(Paths.get(snapshotDir(id)))
  }

  /** Every parquet write of the store (see the write path above). */
  private def writeParquet(df: DataFrame, dir: String): Unit =
    GraftBridge.writeParquet(df, dir, InProcessLocalFs.hadoopConf(df.sparkSession))

  /** Stage a table into the (uncommitted) snapshot `id`. */
  def write(df: DataFrame, id: Int, table: String): Unit = {
    writeParquet(df, tablePath(id, table))
    recordSchema(Paths.get(tablePath(id, table)), df.schema)
  }

  /** The hidden-partition transform a relocation recorded for a table. */
  def partitionTransform(id: Int, table: String): Option[String] =
    if (Files.exists(transformMarker(id, table)))
      Some(Files.readString(transformMarker(id, table)).trim)
    else None

  /** Read a hidden-partitioned table keeping only the given partition
    * VALUES — the predicate lands on the partition column inside the
    * scan (PartitionFilters), so out-of-range `_part=` directories
    * never enter the plan, and the returned frame still hides the
    * column.
    */
  def readPartitions(spark: SparkSession, id: Int, table: String,
                     values: Seq[String]): DataFrame = {
    // metadata-level pruning: only the matching `_part=<v>` dirs enter
    // the plan as read paths (basePath keeps the partition column
    // parsing) — out-of-range files are absent from the scan, not
    // filtered after it, exactly like Iceberg partition pruning
    val dirs = values.map(v => Paths.get(tablePath(id, table), s"$HiddenPartCol=$v"))
      .filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) read(spark, id, table).limit(0)
    // mixed schemas across carried partitions — see read()
    else spark.read.schema(schema(id, table)).option("basePath", tablePath(id, table))
      .parquet(dirs: _*).drop(HiddenPartCol)
  }

  /** Files.list/walk hold an open directory handle until closed — a
    * long-lived driver calling metadata paths repeatedly would leak fds
    * toward ulimit without the explicit close.
    */
  private def listed[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }
  private def walked[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Table dirs of a snapshot — dot-dirs (crashed maintenance staging)
    * never reach a manifest.
    */
  private def listedTables(id: Int): Seq[String] =
    listed(Paths.get(snapshotDir(id)))(
      _.filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq).sorted

  private def writeManifestFile(id: Int, round: Int, meta: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(snapshotDir(id)))
    val tables = listedTables(id)
    val metaJson = (meta + ("round" -> round.toString))
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    val manifest =
      s"""{"snapshot_id": $id, "round": $round, "tables": [${tables.map(t => s""""$t"""").mkString(", ")}], "meta": {$metaJson}}"""
    Files.writeString(Paths.get(snapshotDir(id), "MANIFEST.json"), manifest)
  }

  private def advanceCurrent(id: Int): Unit = {
    val tmp = rootPath.resolve("CURRENT.tmp")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomically commit snapshot `id` with manifest metadata. */
  def commit(id: Int, round: Int, meta: Map[String, String] = Map.empty): Unit = {
    writeManifestFile(id, round, meta)
    advanceCurrent(id)
  }

  // -------------------------------------------------------------------
  // Write–Audit–Publish (Iceberg WAP): stage a fully-written snapshot
  // behind a `staged` manifest flag WITHOUT advancing CURRENT. Every
  // committed-view code path — union reads, metadata tables, rollback,
  // expiry, [[committedSnapshots]] — ignores staged snapshots; only an
  // explicit `read(spark, id, table)` (the auditor) sees the data.
  // Validation queries run against the staged id, then either
  // [[publish]] (drop the flag + atomic CURRENT swap — the same two
  // steps as [[commit]]) or [[abandon]] (delete the dir). A crash
  // between stage and publish leaves CURRENT — and thus every reader —
  // on the old snapshot; resume re-audits and decides.
  // -------------------------------------------------------------------

  /** True iff `id` has a manifest carrying the staged flag. */
  def isStaged(id: Int): Boolean =
    Files.exists(Paths.get(snapshotDir(id), "MANIFEST.json")) &&
      manifestMeta(id).get("staged").contains("true")

  /** Describe snapshot `id` (already written via [[write]]) as STAGED:
    * manifest lands, CURRENT does not move.
    */
  def stage(id: Int, round: Int, meta: Map[String, String] = Map.empty): Unit =
    writeManifestFile(id, round, meta + ("staged" -> "true"))

  /** Promote a staged snapshot: rewrite its manifest without the flag,
    * then advance CURRENT atomically. After this the snapshot is
    * indistinguishable from one created by [[commit]].
    */
  def publish(id: Int): Unit = {
    require(isStaged(id), s"snapshot $id is not staged")
    writeManifestFile(id, snapshotRound(id), manifestMeta(id) - "staged" - "round")
    advanceCurrent(id)
  }

  /** Drop a staged snapshot that failed its audit. Refuses non-staged
    * ids — committed history is only removed via [[rollbackTo]] /
    * [[expireSnapshots]].
    */
  def abandon(id: Int): Unit = {
    require(isStaged(id), s"snapshot $id is not staged")
    deleteRecursively(Paths.get(snapshotDir(id)))
  }

  def readManifest(id: Int): String =
    Files.readString(Paths.get(snapshotDir(id), "MANIFEST.json"))

  /** The `meta` key/value pairs of a committed snapshot's manifest —
    * the checkpoint's self-describing parameters (sketch partitioning,
    * counters). Resume paths validate against these instead of trusting
    * the caller's config to still match the on-disk layout.
    */
  def manifestMeta(id: Int): Map[String, String] = {
    val manifest = readManifest(id)
    val metaBody = """"meta":\s*\{([^}]*)\}""".r
      .findFirstMatchIn(manifest).map(_.group(1)).getOrElse("")
    """"([^"]+)":\s*"([^"]*)"""".r.findAllMatchIn(metaBody)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Delta tables this snapshot was compacted over (it subsumes every
    * earlier snapshot's rows of those tables); empty when the snapshot
    * is a plain per-round delta.
    */
  def compactedTables(id: Int): Set[String] =
    if (!Files.exists(Paths.get(snapshotDir(id), "MANIFEST.json"))) Set.empty
    else manifestMeta(id).get("compacted_tables")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Swap a fully-staged maintenance layout in for the live table: the
    * old table moves aside with ONE rename (not a slow recursive delete
    * while the table is already gone), the staging dir renames in, and
    * `_SUCCESS` is (re)written so `hasTable` holds: the staged layout
    * came from renames alone, never from a Spark write. The unreadable
    * window is two renames wide; the old layout survives intact in the
    * `.old_` dir until the swap completes.
    */
  private def swapStaged(baseId: Int, table: String, staged: Path): Unit = {
    val dst = Paths.get(tablePath(baseId, table))
    val bak = Paths.get(snapshotDir(baseId), s".old_$table")
    deleteRecursively(bak)
    if (Files.exists(dst)) Files.move(dst, bak)
    Files.move(staged, dst)
    Files.writeString(dst.resolve("_SUCCESS"), "")
    deleteRecursively(bak)
  }

  private def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  private def hasPartDirs(dir: Path): Boolean =
    Files.isDirectory(dir) && listed(dir)(
      _.exists(_.getFileName.toString.startsWith(s"$HiddenPartCol=")))

  /** Dot-dirs a crashed maintenance pass may have left in a snapshot —
    * `.reloc_*` staging, `.old_*` swap backups and `.maint_*` intents.
    * They preserve every byte of an interrupted pass, but rows parked there
    * are invisible to readers, so resume paths must refuse to crawl
    * over them ([[graft.pipeline.CrawlJob]] fails fast; the real
    * Iceberg metadata swap is the component that makes maintenance
    * crash-atomic, and is the documented drop-in for this store).
    */
  def maintenanceDebris(id: Int): Seq[String] =
    if (!Files.isDirectory(Paths.get(snapshotDir(id)))) Nil
    else listed(Paths.get(snapshotDir(id)))(
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith(".reloc_") || n.startsWith(".old_") ||
          n.startsWith(".maint_")).toSeq).sorted

  /** Move every entry of `from` into `into` (created if absent) —
    * idempotent per-file renames, the primitive relocation is built from.
    */
  private def mergeMove(from: Path, into: Path): Unit = {
    Files.createDirectories(into)
    listed(from)(_.toSeq).foreach { f =>
      Files.move(f, into.resolve(f.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Iceberg `rewrite_data_files` + manifest rewrite for a delta table:
    * fold every snapshot ≤ `baseId`'s delta of `table` into
    * `v<baseId>/<table>` as hidden `_part=<round>` partition directories
    * by pure file MOVE — zero data rewrite, no Spark job. Round-range
    * reads prune the `_part=` dirs INSIDE the base (the per-snapshot
    * manifest prune those rounds used to get), and after the fold the
    * snapshots below `baseId` hold no live data for `table`, so
    * [[expireSnapshots]] may delete them. A pass costs O(#files)
    * renames, never an O(table) rewrite — at 100 TB a maintenance pass
    * must not rewrite the corpus it maintains, which is exactly
    * Iceberg's `expire_snapshots` contract: expiry drops unreferenced
    * metadata, never live data files. The writers size each round's
    * files (the crawl writes its small tables with as few tasks as
    * their rows need), so there is nothing left to pack.
    *
    * Each delta's files keep their `roundCol` column; the partition dir
    * merely mirrors it (identity transform: rows of snapshot N carry
    * round N), so readers see the same rows either way. Sources already
    * hidden-partitioned (an earlier base) contribute their `_part=` dirs
    * verbatim.
    *
    * Crash safety: every byte is always on disk — moves stage into a
    * dot-dir (invisible to manifests), the live table moves aside with
    * one rename during the swap ([[swapStaged]]) and is deleted only
    * after the staged layout is in place, and the manifest is rewritten
    * BEFORE drained source dirs are deleted (so readers never union a
    * drained source). A crash during assembly leaves rows parked in the
    * dot-dir; a re-run of the pass at the SAME base adopts it and
    * completes the idempotent merge-moves. This miniature does not
    * self-heal across a crash followed by maintenance at a LATER base —
    * that last gap is what the real Iceberg metadata swap (the
    * documented drop-in replacement for this store) closes.
    */
  def relocateDeltas(baseId: Int, table: String, roundCol: String = "round"): Unit = {
    val sources = (0 to baseId).filter(hasTable(_, table))
    require(sources.nonEmpty, s"no $table in snapshots 0..$baseId to relocate")
    val dstRoot = Paths.get(tablePath(baseId, table))
    val staging = Paths.get(snapshotDir(baseId), s".reloc_$table")
    // assembly-phase staging is adopted (merge-idempotent renames), but
    // swap-phase debris (.old_ backup, .maint_ intent) means a crash
    // mid-swap — fail fast, a fresh swap would destroy the backup
    val swapDebris = maintenanceDebris(baseId)
      .filter(d => d == s".old_$table" || d == s".maint_$table")
    require(swapDebris.isEmpty,
      s"interrupted-maintenance swap debris for $table in v$baseId " +
        s"(${swapDebris.mkString(", ")}): repair manually before relocating")
    Files.createDirectories(staging)
    sources.foreach { id =>
      val src = Paths.get(tablePath(id, table))
      // detect partitioned layout by CONTENT, not only the marker — a
      // crash between a swap and its marker write leaves `_part=` dirs
      // without one, and treating them as a plain delta would misfile
      // every carried round under this snapshot's round
      if (partitionTransform(id, table).isDefined || hasPartDirs(src)) {
        // an earlier base: its `_part=` dirs carry many rounds already
        listed(src)(_.filter(p =>
          p.getFileName.toString.startsWith(s"$HiddenPartCol=")).toSeq)
          .foreach(d => mergeMove(d, staging.resolve(d.getFileName.toString)))
      } else {
        val part = staging.resolve(s"$HiddenPartCol=${snapshotRound(id)}")
        Files.createDirectories(part)
        listed(src)(_.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq).foreach(f =>
          Files.move(f, part.resolve(f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING))
      }
    }
    // an all-empty delta (a round that appended zero rows) contributes
    // a fileless `_part=` dir — drop it so a pruned read over just that
    // round falls back to the schema-bearing empty-frame path instead
    // of failing parquet schema inference on a dir with no footers
    listed(staging)(_.filter(Files.isDirectory(_)).toSeq)
      .filter(d => listed(d)(_.isEmpty)).foreach(Files.delete(_))
    // the sources' schemas, evolved in snapshot order; the marker rides
    // the swap in
    recordSchema(staging, evolve(sources.map(schema(_, table))))
    // swap the assembled layout in (rename-aside, see swapStaged), then
    // mark + manifest BEFORE dropping the drained sources: once the
    // base is recorded as compacted, readers start their union at it
    // and never touch the empty source dirs. The intent file spans the
    // swap → manifest window, which otherwise leaves no debris for the
    // resume fail-fast to catch.
    val intent = Paths.get(snapshotDir(baseId), s".maint_$table")
    Files.writeString(intent, table)
    swapStaged(baseId, table, staging)
    Files.writeString(transformMarker(baseId, table), s"identity($roundCol)")
    // the manifest is re-described in place; CURRENT does not move
    writeManifestFile(baseId, snapshotRound(baseId), manifestMeta(baseId) ++ Map(
      "compacted_tables" -> (compactedTables(baseId) + table).toSeq.sorted.mkString(","),
      "compacted_through" -> baseId.toString))
    sources.filter(_ != baseId)
      .foreach(id => deleteRecursively(Paths.get(tablePath(id, table))))
    Files.delete(intent)
  }

  /** Iceberg `rollback_to_snapshot`: atomically point CURRENT back at
    * an older committed snapshot; the crawl's resume path then replays
    * deterministically from that checkpoint. One deliberate difference
    * from Iceberg (which keeps orphaned snapshots until expiry): the
    * rolled-over snapshots are deleted here, because this layout reuses
    * their ids on the next commit — a stale `v<id+1>` table the re-run
    * round doesn't overwrite must not be re-manifested as live data.
    */
  def rollbackTo(id: Int): Unit = {
    require(committedSnapshots.contains(id), s"snapshot $id is not committed")
    val later = committedSnapshots.filter(_ > id)
    // a LATER maintenance base holds the ONLY copy of earlier rounds'
    // folded tables (sources were drained/expired into it) — deleting
    // it would destroy rounds ≤ id too. Rolling back across a
    // maintenance base is impossible in this id-reusing layout; real
    // Iceberg can, because old snapshots pin their own files.
    val bases = later.filter(l => compactedTables(l).nonEmpty)
    require(bases.isEmpty,
      s"cannot roll back to $id across maintenance base(s) v${bases.mkString(", v")}: " +
        "they hold the only copy of earlier rounds' relocated tables")
    advanceCurrent(id)
    later.foreach(l => deleteRecursively(Paths.get(snapshotDir(l))))
  }

  /** Iceberg `expire_snapshots`: delete every snapshot dir strictly
    * below the newest compacted base (their rows live on inside it).
    * No-op without a maintained base; never touches the base, anything
    * after it, or CURRENT. Returns the expired ids.
    */
  def expireSnapshots(): Seq[Int] = {
    // bounded by CURRENT: a dangling future dir (crash between
    // rollback's CURRENT swap and its deletes) must not elect itself
    // base and expire live snapshots below it
    val ids = committedSnapshots.filter(id => currentSnapshot.forall(id <= _))
    val base = ids.filter(id => compactedTables(id).nonEmpty).lastOption
    base match {
      case None => Nil
      case Some(b) =>
        val expire = ids.filter(_ < b)
        expire.foreach(id => deleteRecursively(Paths.get(snapshotDir(id))))
        expire
    }
  }

  /** The committed round of snapshot `id` (manifest "round" field);
    * falls back to the snapshot id for staged-but-unmanifested dirs —
    * the crawl layout keeps them equal.
    */
  def snapshotRound(id: Int): Int =
    if (Files.exists(Paths.get(snapshotDir(id), "MANIFEST.json")))
      """"round":\s*(\d+)""".r.findFirstMatchIn(readManifest(id))
        .map(_.group(1).toInt).getOrElse(id)
    else id

  /** Union a per-round DELTA table across snapshots 0..upTo — the
    * Iceberg-append read path: each round writes only its new rows and
    * readers see the concatenation (one multi-path parquet scan, no
    * shuffle, no per-round rewrite).
    *
    * Two Iceberg table semantics ride this read:
    *   - MANIFEST-LEVEL PRUNING: `rounds = Some((lo, hi))` skips every
    *     snapshot whose manifest round falls outside the range BEFORE
    *     any file is opened — the metadata-only planning step Iceberg
    *     does with manifest value ranges. A `round` predicate pushed to
    *     the scan would still read every snapshot's footers; the prune
    *     removes the files from the plan entirely.
    *   - ADD-COLUMN SCHEMA EVOLUTION: snapshots written before a column
    *     existed project that column as null. The snapshots' recorded
    *     schemas evolve into the read schema on the driver, so the read
    *     is a single multi-path scan that runs no Spark job to plan.
    *     Hidden-partitioned snapshots, whose directory layouts a
    *     multi-root scan would try to unify, fold with
    *     `unionByName(allowMissingColumns)` — the union of parallel
    *     per-snapshot scans, no shuffle.
    */
  def readDeltas(spark: SparkSession, upTo: Int, table: String,
                 rounds: Option[(Int, Int)] = None): DataFrame = {
    // staged (WAP) snapshots are invisible to the union read even when
    // their dirs sit inside the id range — only publish admits them
    val all = (0 to upTo).filter(id => hasTable(id, table) && !isStaged(id))
    // a compacted snapshot subsumes every earlier delta of this table:
    // start the union at the NEWEST such base ≤ upTo (expired v<i> dirs
    // below it have already dropped out of `all`)
    val base = all.filter(id => compactedTables(id).contains(table)).lastOption
    val ids = base.map(b => all.filter(_ >= b)).getOrElse(all)
    val pruned = rounds match {
      case None => ids
      case Some((lo, hi)) => ids.filter { id =>
        if (base.contains(id)) lo <= snapshotRound(id) // holds rounds 0..base
        else { val r = snapshotRound(id); r >= lo && r <= hi }
      }
    }
    require(pruned.nonEmpty, s"no $table deltas up to snapshot $upTo (rounds=$rounds)")
    if (!pruned.exists(id => partitionTransform(id, table).isDefined))
      spark.read.schema(evolve(pruned.map(schema(_, table))))
        .parquet(pruned.map(tablePath(_, table)): _*)
    else pruned.map { id =>
      rounds match {
        // the compacted base holds MANY rounds, hidden-partitioned by
        // the round column — a range read prunes its `_part=` dirs like
        // Iceberg partition pruning, so expiry costs the prune nothing
        case Some((lo, hi)) if base.contains(id) =>
          readPartitions(spark, id, table,
            (math.max(lo, 0) to math.min(hi, snapshotRound(id))).map(_.toString))
        case _ => read(spark, id, table)
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The full URL-seen set as of snapshot `upTo`; `rounds` prunes to
    * the snapshots first seen inside the range (url_seen_delta rows of
    * snapshot N all carry round_first_seen = N).
    */
  def readSeen(spark: SparkSession, upTo: Int, rounds: Option[(Int, Int)] = None): DataFrame =
    readDeltas(spark, upTo, "url_seen_delta", rounds)

  /** Every COMMITTED snapshot id (manifest present), ascending —
    * dangling `v<N>` dirs from crashed rounds are excluded, matching
    * the reader's view.
    */
  def committedSnapshots: Seq[Int] =
    if (!Files.isDirectory(rootPath)) Nil
    else listed(rootPath)(_.map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) => s.drop(1).toInt }
      .filter(id => Files.exists(Paths.get(snapshotDir(id), "MANIFEST.json")))
      .toSeq).sorted.filterNot(isStaged)

  /** Iceberg-style `snapshots` metadata table: one row per committed
    * snapshot — (snapshot_id, round, is_current, tables). Built from
    * manifests on the driver: metadata rows are O(#snapshots), never
    * data-sized.
    */
  def snapshotsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cur = currentSnapshot
    committedSnapshots.map { id =>
      val tables = """"tables":\s*\[([^\]]*)\]""".r.findFirstMatchIn(readManifest(id))
        .map(_.group(1)).toSeq
        .flatMap(""""([^"]+)"""".r.findAllMatchIn(_).map(_.group(1)))
      (id, snapshotRound(id), cur.contains(id), tables)
    }.toDF("snapshot_id", "round", "is_current", "tables")
  }

  /** Iceberg-style `files` metadata table: one row per data file of
    * every committed snapshot — (snapshot_id, table, file, size_bytes).
    * The planning input the round-range prune operates on.
    */
  def filesTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    committedSnapshots.flatMap { id =>
      val dir = Paths.get(snapshotDir(id))
      listed(dir)(_.filter(Files.isDirectory(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq).flatMap { t =>
        // walk (not list): hidden-partitioned tables nest their data
        // files under `_part=<value>/` directories
        walked(t)(_.filter(f => f.getFileName.toString.endsWith(".parquet"))
          .map(f => (id, t.getFileName.toString, f.toString, Files.size(f)))
          .toSeq)
      }
    }.toDF("snapshot_id", "table", "file", "size_bytes")
  }
}
