package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** File-level data skipping via min/max zone maps — the Delta/Iceberg
  * manifest-prune mechanism, self-contained over plain parquet.
  *
  * Directory partition pruning (`Sinks.parquetPartitioned`, graded by
  * `s10_partition_pruned`) skips whole `day=` dirs, but it only works on
  * the ONE column the layout is keyed by, and a high-cardinality key
  * (timestamp, id) can't be a directory key at all without a small-files
  * explosion. The production answer at 100 TB is stats-based FILE
  * skipping: cluster the data so each file covers a narrow key range
  * (here `repartitionByRange` — the same layout `curate_zorder` grades
  * for multi-column clustering), record per-file min/max in a manifest
  * at WRITE time, and resolve range predicates against the manifest at
  * PLANNING time so non-overlapping files are never opened — no footer
  * read, no task scheduled. Spark's own reader prunes parquet ROW GROUPS
  * from footer stats but still lists, opens, and schedules every file;
  * the manifest turns that into a driver-side subtraction, which is the
  * difference that matters when "every file" is millions of objects on
  * S3 (LIST + GET per file).
  *
  * Manifest format: `_zonemap.tsv`, one `fileName \t minMicros \t
  * maxMicros \t rows \t nullCount` line per data file (tab-safe:
  * part-file names are Spark-generated; the reader also accepts the
  * 4-field pre-null-count form, which only [[countRange]] refuses).
  * Timestamps ride as epoch MICROS (`unix_micros`, exact — the parquet
  * physical type), so replays are byte-stable and no timezone parse is
  * involved. A file whose key column is entirely null records empty
  * min/max and is dropped by every range predicate — correct, because a
  * range predicate never matches null keys.
  *
  * Read path degrades, never fails: a missing or unparseable manifest
  * (or any line of it) falls back to reading every file, so the manifest
  * is a pure accelerator — exactly the contract object-store listings
  * give Delta's checkpoint files.
  */
object ZoneMap {

  final case class Zone(file: String, minMicros: Option[Long],
                        maxMicros: Option[Long], rows: Long,
                        nulls: Option[Long] = None)

  private def schemaPath(dir: String) = Paths.get(dir, "_schema.json")
  private def manifestPath(dir: String) = Paths.get(dir, "_zonemap.tsv")

  /** Range-clustered write + manifest. One extra Spark job builds the
    * per-file stats (a ≤`buckets`-row aggregate over `input_file_name`);
    * at scale that job is a metadata-sized map-reduce paid once per
    * write, the same amortization as a Delta commit. The write itself is
    * `repartitionByRange(buckets, key)` + in-file sort, so each file
    * covers a contiguous key range — which is what makes min/max
    * selective instead of [global-min, global-max] on every file.
    */
  def write(df: DataFrame, dir: String, key: String, buckets: Int): Unit = {
    df.repartitionByRange(buckets, col(key))
      .sortWithinPartitions(key)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    Files.write(schemaPath(dir),
      df.schema.json.getBytes(StandardCharsets.UTF_8))
    val zones = statsLines(df.sparkSession, df.schema, Seq(dir), key)
    Files.write(manifestPath(dir),
      zones.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** One v1 manifest line per zone — the single serialization both
    * [[append]] and [[compact]] write, so the two can't drift.
    */
  private def zoneLine(z: Zone): String =
    (Seq(z.file,
      z.minMicros.fold("")(_.toString), z.maxMicros.fold("")(_.toString),
      z.rows.toString) ++ z.nulls.map(_.toString)).mkString("\t")

  private def parseZones(p: java.nio.file.Path): Option[Seq[Zone]] = {
    if (!Files.isRegularFile(p)) return None
    try {
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
      Some(lines.map { ln =>
        val a = ln.split("\t", -1)
        require(a.length == 4 || a.length == 5, s"bad zonemap line: $ln")
        def opt(s: String) = if (s.isEmpty) None else Some(s.toLong)
        Zone(a(0), opt(a(1)), opt(a(2)), a(3).toLong,
          if (a.length == 5) Some(a(4).toLong) else None)
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Parse the manifest; None = absent/corrupt → caller reads all files. */
  def readManifest(dir: String): Option[Seq[Zone]] =
    parseZones(manifestPath(dir))

  /** The per-file stats job shared by [[write]] and [[append]]: one
    * metadata-sized aggregate over exactly `paths`, returned as manifest
    * lines. Null keys count toward rows but never match a range
    * predicate; recording them is what lets [[countRange]] vouch for
    * interior files.
    */
  private def statsLines(spark: SparkSession, st: StructType,
                         paths: Seq[String], key: String): Seq[String] =
    spark.read.schema(st).parquet(paths: _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col(key))).as("mn"),
        max(unix_micros(col(key))).as("mx"),
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(key))).as("nulls"))
      .collect() // ≤ one row per file: the manifest IS driver-sized metadata
      .toSeq
      .map { r =>
        val mn = if (r.isNullAt(1)) "" else r.getLong(1).toString
        val mx = if (r.isNullAt(2)) "" else r.getLong(2).toString
        s"${r.getString(0).split('/').last}\t$mn\t$mx\t${r.getLong(3)}\t${r.getLong(4)}"
      }
      .sorted

  private def stampedSchema(dir: String): Option[StructType] = {
    val p = schemaPath(dir)
    if (!Files.isRegularFile(p)) None
    else DataType.fromJson(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8)) match {
      case st: StructType => Some(st)
      case _ => None
    }
  }

  /** The degrade path behind every prune: a full directory read. Safe
    * ONLY while the directory listing is the truth — once snapshots
    * exist, [[compact]] retains superseded files on disk and a raw
    * listing would double-count them, so a versioned layout whose
    * current manifest is unreadable must FAIL, not guess.
    */
  private def fullRead(spark: SparkSession, dir: String): DataFrame = {
    if (versions(dir).nonEmpty)
      throw new IllegalStateException(
        s"versioned layout under $dir has no readable current manifest; " +
          "a directory listing would include retained snapshot files")
    stampedSchema(dir).fold(spark.read)(s => spark.read.schema(s)).parquet(dir)
  }

  /** Manifest-pruned range read over `[loMicros, hiMicros)`. File
    * selection is pure driver arithmetic — zero jobs, zero footers for
    * skipped files; the returned frame still needs the caller's residual
    * row filter (boundary files straddle the range). Falls back to the
    * full directory when the manifest is missing/corrupt.
    */
  def readPruned(spark: SparkSession, dir: String,
                 loMicros: Long, hiMicros: Long): DataFrame = {
    val st = stampedSchema(dir)
    def reader = st.fold(spark.read)(s => spark.read.schema(s))
    readManifest(dir) match {
      case None => fullRead(spark, dir)
      case Some(zones) =>
        val keep = zones.collect {
          case Zone(f, Some(mn), Some(mx), _, _)
            if mx >= loMicros && mn < hiMicros => s"$dir/$f"
        }
        if (keep.isEmpty)
          // no overlapping file: an empty frame with the layout's schema
          reader.parquet(dir).limit(0)
        else reader.parquet(keep: _*)
    }
  }

  // ------------------------------------------- lake maintenance (v1)

  /** Schema evolution on append (Delta mergeSchema): columns the batch
    * adds are welded onto the stamped schema as NULLABLE — readers then
    * see them on every file, null-filled for pre-evolution files by the
    * parquet reader's name-based projection. A type CHANGE on an
    * existing column is refused loudly: silently casting historical
    * data is how lakes corrupt.
    */
  private def mergeSchemas(base: StructType, incoming: StructType): StructType = {
    incoming.fields.foreach { f =>
      base.fields.find(_.name == f.name).foreach { b =>
        require(b.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}': " +
            s"${b.dataType.simpleString} -> ${f.dataType.simpleString}")
      }
    }
    val known = base.fieldNames.toSet
    StructType(base.fields ++
      incoming.fields.filterNot(f => known(f.name)).map(_.copy(nullable = true)))
  }

  /** Incremental append: new data lands as new files and the manifest
    * gains their lines — the existing files and their stats are never
    * touched (the Delta add-file commit shape). New files may overlap
    * existing key ranges; zone maps don't require disjointness, overlap
    * just costs prune selectivity until [[compact]] restores clustering.
    * The stats job reads ONLY the appended files. A batch carrying NEW
    * columns evolves the stamped schema ([[mergeSchemas]]).
    */
  def append(df: DataFrame, dir: String, key: String, buckets: Int): Unit = {
    def files(): Set[String] = Option(new java.io.File(dir).listFiles())
      .fold(Set.empty[String])(_.collect {
        case f if f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet") => f.getName
      }.toSet)
    val before = files()
    // validate + evolve the stamped schema BEFORE any data lands, so a
    // type-change batch is refused with the directory untouched
    val stamped = stampedSchema(dir)
    val evolved = stamped.map(mergeSchemas(_, df.schema))
    df.repartitionByRange(buckets, col(key))
      .sortWithinPartitions(key)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    for (s0 <- stamped; s1 <- evolved if s1 != s0)
      Files.write(schemaPath(dir), s1.json.getBytes(StandardCharsets.UTF_8))
    val added = (files() -- before).toSeq.sorted
    if (added.isEmpty) return
    val newLines = statsLines(df.sparkSession, df.schema,
      added.map(f => s"$dir/$f"), key)
    val existing = readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"append needs a readable manifest under $dir — writing one " +
          "with only the new files would orphan every existing file"))
    val merged = (existing.map(zoneLine) ++ newLines).sorted
    Files.write(manifestPath(dir),
      merged.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** OPTIMIZE-style compaction: adjacent small files (manifest order by
    * envelope min) are greedily grouped up to `targetRows` and each
    * group rewritten as ONE key-sorted file. All multi-file groups are
    * rewritten by one Spark job: their files are read once, each row is
    * tagged with its group index (looked up by file name), hash-shuffled
    * on that index and written `partitionBy` it, so every group lands as
    * exactly one part file and the groups are written by parallel tasks.
    * The new manifest line is pure arithmetic over the group's lines —
    * min of mins, max of maxes, sums — so compaction runs ZERO stats
    * jobs (the Delta OPTIMIZE commit shape: data files change, the log
    * math is exact). Files already at or above target, or with no
    * neighbor to merge with, are left untouched. Returns the number of
    * files removed by the pass (0 = layout already compact).
    */
  def compact(spark: SparkSession, dir: String, key: String,
              targetRows: Long): Int = {
    val zones = readManifest(dir)
      .getOrElse(throw new IllegalStateException(
        s"compact needs a readable manifest under $dir"))
    // time-travel retention: once any snapshot exists, superseded files
    // leave the CURRENT manifest but stay on disk for the snapshots that
    // still reference them — vacuum() is the only destroyer
    val retain = versions(dir).nonEmpty
    // group greedily in envelope order; all-null files sort first
    val ordered = zones.sortBy(z => (z.minMicros.getOrElse(Long.MinValue), z.file))
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Zone])
    for (z <- ordered) {
      val cur = groups.last
      if (cur.nonEmpty && cur.map(_.rows).sum + z.rows > targetRows)
        groups += scala.collection.mutable.ArrayBuffer(z)
      else cur += z
    }
    // a group's index is its position in envelope order, single-file
    // groups counted, and names its `part-compacted-<i>-` output
    val indexed = groups.filter(_.nonEmpty).map(_.toSeq).zipWithIndex.toSeq
    val merging = indexed.filter(_._1.size > 1)
    if (merging.isEmpty) return 0
    val groupOf = merging.flatMap { case (g, i) => g.map(_.file -> i) }.toMap
    val st = stampedSchema(dir)
    val tmp = Files.createTempDirectory("graft_compact_").toString
    try {
      val gcol = "__graft_compact_group"
      st.fold(spark.read)(s => spark.read.schema(s))
        .parquet(groupOf.keys.toSeq.sorted.map(f => s"$dir/$f"): _*)
        .withColumn(gcol, element_at(typedLit(groupOf),
          substring_index(input_file_name(), "/", -1)))
        .repartition(merging.size, col(gcol))
        .sortWithinPartitions(gcol, key)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("maxRecordsPerFile", 0L) // one file per group, always
        .partitionBy(gcol).parquet(tmp)
      val written = merging.map { case (g, i) =>
        val part = Option(new java.io.File(s"$tmp/$gcol=$i").listFiles())
          .flatMap(_.find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")))
          .getOrElse(throw new IllegalStateException(
            s"no part file for compaction group $i in $tmp"))
        // name carries the pass ordinal: no collision with Spark's
        // UUID-named parts or an earlier compaction's outputs
        val name = s"part-compacted-$i-${part.getName.stripPrefix("part-")}"
        Files.move(part.toPath, Paths.get(dir, name))
        i -> Zone(name,
          g.flatMap(_.minMicros).reduceOption(_ min _),
          g.flatMap(_.maxMicros).reduceOption(_ max _),
          g.map(_.rows).sum,
          if (g.forall(_.nulls.isDefined)) Some(g.map(_.nulls.get).sum)
          else None)
      }.toMap
      val lines = indexed.map { case (g, i) => written.getOrElse(i, g.head) }
        .map(zoneLine).sorted
      Files.write(manifestPath(dir),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      // superseded files go only after the new manifest is written
      if (!retain)
        groupOf.keys.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      merging.map(_._1.size - 1).sum
    } finally deleteRecursive(Paths.get(tmp))
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  /** MERGE (copy-on-write update) — the remaining Delta verb: rows of
    * `updates` replace the value of `updateCol` for matching `joinKey`
    * rows. File-level COW: one semi-join job finds the files that
    * contain ANY matched key (broadcast — update batches are dim-sized
    * by contract), ONLY those files are read+joined+rewritten (one
    * write, range-repartitioned back onto the cluster key so the new
    * files stay envelope-tight), and the manifest drops the touched
    * lines for freshly-stats'd ones — untouched files and their lines
    * are byte-identical through the merge. With snapshots present the
    * replaced files stay on disk for time travel (the [[compact]]
    * retention rule; a snapshot committed before the merge still reads
    * the PRE-merge values). `updates` must carry at most one row per
    * `joinKey` — duplicate keys would fan rows out through the join
    * (Delta raises the same multiple-source-matches error rather than
    * guess). Returns the number of files rewritten.
    */
  def mergeUpdates(spark: SparkSession, dir: String, clusterKey: String,
                   updates: DataFrame, joinKey: String,
                   updateCol: String): Int = {
    val zones = readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"merge needs a readable manifest under $dir"))
    val st = stampedSchema(dir).getOrElse(
      throw new IllegalStateException(
        s"merge needs the stamped schema under $dir"))
    // presence flag, not coalesce: WHEN MATCHED must overwrite even with
    // a null update value (the Delta UPDATE semantics) — coalesce would
    // silently keep the old value exactly when the update says "null it"
    val upd = updates.select(col(joinKey),
      col(updateCol).as(s"__new_$updateCol"), lit(true).as("__matched"))
    val touched = spark.read.schema(st)
      .parquet(zones.map(z => s"$dir/${z.file}"): _*)
      .select(input_file_name().as("f"), col(joinKey))
      .join(org.apache.spark.sql.functions.broadcast(upd), joinKey)
      .select("f").distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    if (touched.isEmpty) return 0
    val (hit, kept) = zones.partition(z => touched.contains(z.file))
    val tmp = Files.createTempDirectory("graft_merge_").toString
    try {
      val cols = st.fieldNames.map {
        case c if c == updateCol =>
          when(col("__matched"), col(s"__new_$updateCol"))
            .otherwise(col(updateCol)).as(updateCol)
        case c => col(c)
      }
      spark.read.schema(st)
        .parquet(hit.map(z => s"$dir/${z.file}"): _*)
        .join(org.apache.spark.sql.functions.broadcast(upd),
          Seq(joinKey), "left")
        .select(cols.toSeq: _*)
        .repartitionByRange(hit.size, col(clusterKey))
        .sortWithinPartitions(clusterKey)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      val retain = versions(dir).nonEmpty
      val moved = Option(new java.io.File(tmp).listFiles())
        .fold(Seq.empty[java.io.File])(_.toSeq)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .map { f =>
          val name = s"part-merged-${f.getName.stripPrefix("part-")}"
          Files.move(f.toPath, Paths.get(dir, name)); name
        }
      if (!retain)
        hit.foreach(z => Files.deleteIfExists(Paths.get(dir, z.file)))
      val newLines = statsLines(spark, st,
        moved.map(n => s"$dir/$n"), clusterKey)
      val lines = (kept.map(zoneLine) ++ newLines).sorted
      Files.write(manifestPath(dir),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      hit.size
    } finally deleteRecursive(Paths.get(tmp))
  }

  /** DELETE WHERE — predicate copy-on-write, completing the CRUD verbs:
    * one scan job finds the files containing ANY matching row, only
    * those are rewritten with the matches filtered out (a file whose
    * every row matches just disappears — no empty-file write), and
    * untouched files plus their manifest lines ride through
    * byte-identical. Rewrites re-range-partition onto the cluster key
    * so surviving rows stay envelope-tight; stats for the new files
    * come from one [[statsLines]] job over exactly those files. With
    * snapshots present the replaced files stay on disk (the [[compact]]
    * retention rule) so a pre-delete snapshot still reads every row.
    * Returns (filesRewritten, rowsDeleted).
    */
  def deleteWhere(spark: SparkSession, dir: String, clusterKey: String,
                  predicate: org.apache.spark.sql.Column): (Int, Long) = {
    val zones = readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"delete needs a readable manifest under $dir"))
    val st = stampedSchema(dir).getOrElse(
      throw new IllegalStateException(
        s"delete needs the stamped schema under $dir"))
    val touched = spark.read.schema(st)
      .parquet(zones.map(z => s"$dir/${z.file}"): _*)
      .filter(predicate)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    if (touched.isEmpty) return (0, 0L)
    val (hit, kept) = zones.partition(z => touched.contains(z.file))
    val deleted = touched.values.sum
    val tmp = Files.createTempDirectory("graft_delete_").toString
    try {
      spark.read.schema(st)
        .parquet(hit.map(z => s"$dir/${z.file}"): _*)
        .filter(!predicate)
        .repartitionByRange(hit.size, col(clusterKey))
        .sortWithinPartitions(clusterKey)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      val retain = versions(dir).nonEmpty
      val moved = Option(new java.io.File(tmp).listFiles())
        .fold(Seq.empty[java.io.File])(_.toSeq)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .map { f =>
          val name = s"part-deleted-${f.getName.stripPrefix("part-")}"
          Files.move(f.toPath, Paths.get(dir, name)); name
        }
      if (!retain)
        hit.foreach(z => Files.deleteIfExists(Paths.get(dir, z.file)))
      // a fully-deleted set of hit files can write 0-row parts: drop
      // them from the manifest AND the disk (an un-manifested file must
      // not linger for a future fallback read to trip over)
      val allLines =
        if (moved.isEmpty) Nil
        else statsLines(spark, st, moved.map(n => s"$dir/$n"), clusterKey)
      val (emptyLines, newLines) =
        allLines.partition(_.split("\t", -1)(3) == "0")
      emptyLines.foreach(ln =>
        Files.deleteIfExists(Paths.get(dir, ln.split("\t", -1)(0))))
      val lines = (kept.map(zoneLine) ++ newLines).sorted
      Files.write(manifestPath(dir),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      (hit.size, deleted)
    } finally deleteRecursive(Paths.get(tmp))
  }

  // --------------------------------------- snapshots / time travel

  /** Snapshot versioning over the manifest — the Delta log's time-travel
    * contract in one file per version: [[commit]] freezes the CURRENT
    * manifest as `_zonemap.v<N>.tsv`; a frozen version stays readable as
    * long as every data file it references still exists, which is why
    * [[compact]] leaves superseded files on disk once any snapshot
    * exists (they left the current manifest, not the log) and [[vacuum]]
    * is the only destroyer: it keeps the files referenced by the last
    * `keepVersions` snapshots plus current, deletes the rest, and drops
    * the expired snapshot manifests. Reading a vacuumed-away version
    * returns None — the caller decides whether that's an error, exactly
    * Delta's VersionNotFound.
    */
  private val versionRe = """_zonemap\.v(\d+)\.tsv""".r

  def versions(dir: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles())
      .fold(Seq.empty[Int])(_.toSeq.flatMap(f => f.getName match {
        case versionRe(n) => Some(n.toInt)
        case _ => None
      })).sorted

  /** Freeze the current manifest as the next numbered snapshot. */
  def commit(dir: String): Int = {
    val v = versions(dir).lastOption.getOrElse(0) + 1
    Files.copy(manifestPath(dir), Paths.get(dir, s"_zonemap.v$v.tsv"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  private def manifestAt(dir: String, v: Int): Option[Seq[Zone]] =
    parseZones(Paths.get(dir, s"_zonemap.v$v.tsv"))

  /** Read the table AS OF snapshot `v`. None when the snapshot doesn't
    * exist or any of its data files has been vacuumed away.
    */
  def readAtVersion(spark: SparkSession, dir: String, v: Int): Option[DataFrame] =
    manifestAt(dir, v).flatMap { zones =>
      val paths = zones.map(z => s"$dir/${z.file}")
      if (!paths.forall(p => Files.isRegularFile(Paths.get(p)))) None
      else {
        val st = stampedSchema(dir)
        def reader = st.fold(spark.read)(s => spark.read.schema(s))
        if (paths.isEmpty) Some(reader.parquet(dir).limit(0))
        else Some(reader.parquet(paths: _*))
      }
    }

  /** Delete data files referenced by NEITHER the current manifest NOR
    * the newest `keepVersions` snapshots, and drop the expired snapshot
    * manifests. Returns the number of data files deleted.
    */
  def vacuum(dir: String, keepVersions: Int): Int = {
    val keepVs = versions(dir).takeRight(math.max(0, keepVersions))
    // the current manifest MUST be readable: with it absent/corrupt the
    // live set degenerates to the kept snapshots alone and vacuum would
    // destroy every file the current table state references
    val current = readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"vacuum needs a readable current manifest under $dir — " +
          "without it the live-file set cannot be computed safely"))
    val live: Set[String] =
      (current ++ keepVs.flatMap(v => manifestAt(dir, v).getOrElse(Nil)))
        .map(_.file).toSet
    val files = Option(new java.io.File(dir).listFiles())
      .fold(Seq.empty[java.io.File])(_.toSeq)
    val dead = files.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet") && !live.contains(f.getName))
    dead.foreach(f => Files.deleteIfExists(f.toPath))
    for (v <- versions(dir) if !keepVs.contains(v))
      Files.deleteIfExists(Paths.get(dir, s"_zonemap.v$v.tsv"))
    dead.size
  }

  // ------------------------------------------------- multi-column (v2)

  /** v2 manifest: per-file min/max for SEVERAL long-typed columns at
    * once — the stats shape Delta's OPTIMIZE ZORDER exists to make
    * useful. A single-key range layout (v1 above) gives ONE dimension a
    * tight per-file envelope; clustering by a Morton-interleaved z key
    * (the `curate_zorder` construction) gives EVERY interleaved
    * dimension a partial envelope, so a conjunction of range predicates
    * prunes multiplicatively — the 2-D box that keeps 1/k of the files
    * per dimension keeps ~1/k² overall, which no single-column sort can
    * do. Format: `_zonemap2.tsv`, header `#cols \t c1 \t c2 ...`, then
    * `file \t rows \t mn1 \t mx1 \t mn2 \t mx2 ...` (empty = all-null).
    */
  final case class ZoneN(file: String, rows: Long,
                         bounds: Map[String, (Option[Long], Option[Long])])

  private def manifest2Path(dir: String) = Paths.get(dir, "_zonemap2.tsv")

  /** Cluster by an arbitrary expression (typically a z key already in
    * `df`) and record per-file min/max for each of `stats` (long-typed)
    * columns. Same cost shape as [[write]]: one metadata-sized stats job.
    */
  def writeClustered(df: DataFrame, dir: String, clusterBy: String,
                     stats: Seq[String], buckets: Int): Unit = {
    df.repartitionByRange(buckets, col(clusterBy))
      .sortWithinPartitions(clusterBy)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    Files.write(schemaPath(dir),
      df.schema.json.getBytes(StandardCharsets.UTF_8))
    val aggs = count(lit(1)).as("n") +:
      stats.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val zones = df.sparkSession.read.schema(df.schema).parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val cells = stats.indices.flatMap { i =>
          val (mnI, mxI) = (2 + 2 * i, 3 + 2 * i)
          Seq(if (r.isNullAt(mnI)) "" else r.getLong(mnI).toString,
            if (r.isNullAt(mxI)) "" else r.getLong(mxI).toString)
        }
        (r.getString(0).split('/').last +: r.getLong(1).toString +: cells)
          .mkString("\t")
      }
      .sorted
    val header = ("#cols" +: stats).mkString("\t")
    Files.write(manifest2Path(dir),
      (header +: zones).mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Parse the v2 manifest; None = absent/corrupt → caller reads all. */
  def readManifest2(dir: String): Option[Seq[ZoneN]] = {
    val p = manifest2Path(dir)
    if (!Files.isRegularFile(p)) return None
    try {
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
      val head = lines.head.split("\t", -1)
      require(head.headOption.contains("#cols") && head.length > 1,
        "v2 manifest must start with a #cols header")
      val cols = head.drop(1).toSeq
      Some(lines.tail.map { ln =>
        val a = ln.split("\t", -1)
        require(a.length == 2 + 2 * cols.size, s"bad zonemap2 line: $ln")
        def opt(s: String) = if (s.isEmpty) None else Some(s.toLong)
        val bounds = cols.zipWithIndex.map { case (c, i) =>
          c -> ((opt(a(2 + 2 * i)), opt(a(3 + 2 * i))))
        }.toMap
        ZoneN(a(0), a(1).toLong, bounds)
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Metadata-accelerated range COUNT — the Delta "answer from the
    * transaction log" move: a file whose whole envelope sits inside
    * `[lo, hi)` contributes `rows - nulls` from the manifest with NO
    * read; only boundary files (envelope straddles an endpoint) are
    * scanned and row-filtered. On a time-clustered 100 TB layout a
    * month-long count touches two boundary files instead of the month.
    * The null count is what makes interior arithmetic exact — a range
    * predicate never matches null keys, but a file's `rows` includes
    * them. Returns the driver-summed interior count and the boundary
    * frame (empty when nothing straddles); None when the manifest
    * can't vouch (absent, corrupt, or written before null counts were
    * recorded) — the caller falls back to a full scan. All-null files
    * (no envelope) contain no matching rows and contribute nothing.
    */
  def countRange(spark: SparkSession, dir: String,
                 loMicros: Long, hiMicros: Long): Option[(Long, DataFrame)] =
    readManifest(dir).flatMap { zones =>
      if (zones.exists(_.nulls.isEmpty))
        None // legacy manifest without null counts: can't vouch
      else {
        val (interior, boundary) = zones
          .filter(z => z.minMicros.isDefined &&
            z.maxMicros.get >= loMicros && z.minMicros.get < hiMicros)
          .partition(z => z.minMicros.get >= loMicros && z.maxMicros.get < hiMicros)
        val st = stampedSchema(dir)
        def reader = st.fold(spark.read)(s => spark.read.schema(s))
        val bdf =
          if (boundary.isEmpty) reader.parquet(dir).limit(0)
          else reader.parquet(boundary.map(z => s"$dir/${z.file}"): _*)
        Some((interior.map(z => z.rows - z.nulls.get).sum, bdf))
      }
    }

  /** Conjunctive multi-range prune: keep a file iff EVERY `[lo, hi)`
    * predicate overlaps its recorded envelope. A predicate on a column
    * the manifest doesn't carry disables pruning (full read) rather
    * than wrongly skipping; so does a missing/corrupt manifest.
    */
  def readPrunedMulti(spark: SparkSession, dir: String,
                      preds: Seq[(String, Long, Long)]): DataFrame = {
    val st = stampedSchema(dir)
    def reader = st.fold(spark.read)(s => spark.read.schema(s))
    readManifest2(dir) match {
      case Some(zones)
        if preds.forall(p => zones.headOption.forall(_.bounds.contains(p._1))) =>
        val keep = zones.collect {
          case z if preds.forall { case (c, lo, hi) =>
            z.bounds(c) match {
              case (Some(mn), Some(mx)) => mx >= lo && mn < hi
              case _ => false // all-null column: no value can match a range
            }
          } => s"$dir/${z.file}"
        }
        if (keep.isEmpty) reader.parquet(dir).limit(0)
        else reader.parquet(keep: _*)
      case _ => fullRead(spark, dir)
    }
  }
}
