package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.sources.ZoneMap

/** Pins the s11_zonemap_skip mechanism: min/max manifest written at
  * write time, range predicates resolved driver-side into a file subset
  * (the Delta/Iceberg data-skipping contract), and the
  * degrade-never-fail fallback when the manifest is absent or corrupt.
  */
class ZoneMapSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def micros(d: String): Long =
    java.time.LocalDateTime.parse(d)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  private lazy val dir = QueriesR13a.zonemapEventsDir(spark, sf)

  test("write: one manifest line per data file, ranges cover the data") {
    val zones = ZoneMap.readManifest(dir).getOrElse(fail("no manifest"))
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(zones.size === parts, "manifest must describe every data file")
    assert(zones.size >= 25 && zones.size <= 30,
      s"range write should land ~30 files, got ${zones.size}")
    // every zone is well-formed (fixture ts has no nulls) and the
    // manifest's global span equals the table's
    assert(zones.forall(z => z.minMicros.isDefined && z.maxMicros.isDefined))
    assert(zones.forall(z => z.minMicros.get <= z.maxMicros.get))
    val total = zones.map(_.rows).sum
    assert(total === 1000, s"manifest rows must sum to the table: $total")
  }

  test("readPruned: 4-day range scans only the overlapping files") {
    val lo = micros("2024-01-10T00:00")
    val hi = micros("2024-01-14T00:00")
    val zones = ZoneMap.readManifest(dir).get
    val overlap = zones.count(z =>
      z.maxMicros.get >= lo && z.minMicros.get < hi)
    val pruned = ZoneMap.readPruned(spark, dir, lo, hi)
    assert(pruned.inputFiles.length === overlap,
      "scan must contain exactly the manifest-overlapping files")
    assert(overlap < zones.size / 2,
      s"a 4-of-30-day range must skip most files (kept $overlap of " +
        s"${zones.size}) — if this fails the clustering degraded")
    // semantics: pruned + residual == full scan + same predicate
    val resid = pruned.filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
    val full = spark.read.parquet(dir).filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
    assert(resid.count() === full.count())
    assert(resid.agg(sum("event_id")).head().getLong(0) ===
      full.agg(sum("event_id")).head().getLong(0))
  }

  test("readPruned: empty overlap yields an empty, well-typed frame") {
    val lo = micros("2030-01-01T00:00")
    val hi = micros("2030-02-01T00:00")
    val out = ZoneMap.readPruned(spark, dir, lo, hi)
    assert(out.count() === 0L)
    assert(out.columns.contains("ts") && out.columns.contains("event_type"))
  }

  test("missing or corrupt manifest degrades to the full read") {
    val m = Paths.get(dir, "_zonemap.tsv")
    val bak = Paths.get(dir, "_zonemap.tsv.bak")
    val lo = micros("2024-01-10T00:00")
    val hi = micros("2024-01-14T00:00")
    Files.move(m, bak, StandardCopyOption.REPLACE_EXISTING)
    try {
      val all = ZoneMap.readPruned(spark, dir, lo, hi)
      assert(all.inputFiles.length >= 25,
        "absent manifest must fall back to every file")
      Files.write(m, "garbage\twith\nwrong-shape".getBytes)
      val corrupt = ZoneMap.readPruned(spark, dir, lo, hi)
      assert(corrupt.inputFiles.length >= 25,
        "corrupt manifest must fall back to every file, not throw")
    } finally Files.move(bak, m, StandardCopyOption.REPLACE_EXISTING)
  }

  // ----------------------------------------- metadata-accelerated count

  test("countRange: interior answered from the manifest, only straddlers read") {
    val lo = micros("2024-01-06T00:00")
    val hi = micros("2024-01-16T00:00")
    val zones = ZoneMap.readManifest(dir).get
    val overlap = zones.filter(z =>
      z.maxMicros.get >= lo && z.minMicros.get < hi)
    val interior = overlap.filter(z =>
      z.minMicros.get >= lo && z.maxMicros.get < hi)
    val (metaN, boundary) = ZoneMap.countRange(spark, dir, lo, hi)
      .getOrElse(fail("manifest with null counts must vouch"))
    assert(metaN === interior.map(_.rows).sum,
      "fixture ts is null-free, so interior = plain row sums")
    assert(boundary.inputFiles.length === overlap.size - interior.size,
      "the scan must hold exactly the straddling files")
    assert(interior.nonEmpty,
      "a 10-day range over ~1-day files must have interior files")
    val boundaryN = boundary.filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi).count()
    val flatN = graft.engine.Engine.table(spark, sf, "events").filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi).count()
    assert(metaN + boundaryN === flatN)
  }

  test("countRange refuses legacy manifests without null counts") {
    val m = Paths.get(dir, "_zonemap.tsv")
    val bak = Paths.get(dir, "_zonemap.tsv.bak")
    val legacy = new String(Files.readAllBytes(m)).split("\n")
      .map(_.split("\t", -1).take(4).mkString("\t")).mkString("\n")
    Files.move(m, bak, StandardCopyOption.REPLACE_EXISTING)
    try {
      Files.write(m, legacy.getBytes)
      // prunes still work on the 4-field form…
      assert(ZoneMap.readManifest(dir).isDefined)
      // …but metadata counting refuses rather than risk null over-count
      assert(ZoneMap.countRange(spark, dir,
        micros("2024-01-06T00:00"), micros("2024-01-16T00:00")).isEmpty)
    } finally Files.move(bak, m, StandardCopyOption.REPLACE_EXISTING)
  }

  test("graded query: s13 result matches the flat-table count") {
    val got = Queries.byName("s13_meta_count").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val flatN = graft.engine.Engine.table(spark, sf, "events").filter(
      unix_micros(col("ts")) >= micros("2024-01-06T00:00") &&
        unix_micros(col("ts")) < micros("2024-01-16T00:00")).count()
    assert(got === Seq(Seq(flatN)))
  }

  // -------------------------------------------------- lake maintenance

  test("compact: fragments merge, manifest stays pure arithmetic, prune intact") {
    val cdir = QueriesR13a.compactedEventsDir(spark, sf)
    val zones = ZoneMap.readManifest(cdir).getOrElse(fail("no manifest"))
    val parts = new java.io.File(cdir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(zones.size === parts, "manifest must track the compacted files")
    assert(zones.size <= 12,
      s"64 fragments must compact to ~9 target files, got ${zones.size}")
    assert(zones.map(_.rows).sum === 1000, "no row lost or duplicated")
    assert(zones.forall(_.nulls.contains(0L)))
    // manifest arithmetic (no stats job) must agree with the real files
    val lo = micros("2024-01-05T00:00"); val hi = micros("2024-01-20T00:00")
    for (z <- zones) {
      val actual = spark.read.parquet(s"$cdir/${z.file}")
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
          count(lit(1)))
        .head()
      assert(z.minMicros.get === actual.getLong(0), s"${z.file} min drifted")
      assert(z.maxMicros.get === actual.getLong(1), s"${z.file} max drifted")
      assert(z.rows === actual.getLong(2), s"${z.file} rows drifted")
    }
    // countRange still exact on the compacted layout
    val (metaN, bdf) = ZoneMap.countRange(spark, cdir, lo, hi).get
    val n = metaN + bdf.filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi).count()
    val flat = graft.engine.Engine.table(spark, sf, "events").filter(
      unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi).count()
    assert(n === flat)
  }

  test("append: new files extend the manifest, old lines untouched") {
    val adir = java.nio.file.Files
      .createTempDirectory("graft_zm_append_").toString
    try {
      val ev = graft.engine.Engine.table(spark, sf, "events")
      val cut = micros("2024-01-16T00:00")
      ZoneMap.write(ev.filter(unix_micros(col("ts")) < cut), adir, "ts", 8)
      val before = ZoneMap.readManifest(adir).get
      ZoneMap.append(ev.filter(unix_micros(col("ts")) >= cut), adir, "ts", 4)
      val after = ZoneMap.readManifest(adir).get
      assert(after.map(_.file).toSet.size === after.size)
      assert(before.toSet.subsetOf(after.toSet),
        "append must not rewrite existing manifest lines")
      assert(after.map(_.rows).sum === 1000)
      // the appended half is found by a range read over its span
      val lateN = ZoneMap.readPruned(spark, adir, cut, Long.MaxValue)
        .filter(unix_micros(col("ts")) >= cut).count()
      assert(lateN === ev.filter(unix_micros(col("ts")) >= cut).count())
      // and a compact pass over the mixed layout keeps everything
      ZoneMap.compact(spark, adir, "ts", 300L)
      val compacted = ZoneMap.readManifest(adir).get
      assert(compacted.map(_.rows).sum === 1000)
      assert(compacted.size < after.size)
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(adir))
    }
  }

  /** A fresh 24-file `events` lake in a temp dir, removed after `f`. */
  private def withLake(f: String => Unit): Unit = {
    val ldir = Files.createTempDirectory("graft_zm_onejob_").toString
    try {
      ZoneMap.write(graft.engine.Engine.table(spark, sf, "events"), ldir, "ts", 24)
      f(ldir)
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(ldir))
    }
  }

  private def tableRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  test("compact: one Spark job rewrites every multi-file group, stats exact") {
    withLake { ldir =>
      val before = ZoneMap.readManifest(ldir).get
      val rowsBefore = tableRows(ZoneMap.readPruned(spark, ldir, Long.MinValue, Long.MaxValue))
      var removed = -1
      // AQE submits a shuffle's map stage as a job of its own, so the
      // count is taken without it (as the fixture floor confs run)
      val aqe = "spark.sql.adaptive.enabled"
      val aqeWas = spark.conf.get(aqe)
      spark.conf.set(aqe, "false")
      val jobs = try SparkSpec.jobsIn(spark) {
        removed = ZoneMap.compact(spark, ldir, "ts", before.map(_.rows).sum / 5)
      } finally spark.conf.set(aqe, aqeWas)
      val after = ZoneMap.readManifest(ldir).get
      val compacted = after.filter(_.file.startsWith("part-compacted-"))
      assert(compacted.size >= 3, s"want >= 3 multi-file groups, got $compacted")
      assert(jobs === 1, s"compaction of ${compacted.size} groups ran $jobs jobs")
      assert(removed === before.size - after.size)
      val onDisk = new java.io.File(ldir).listFiles().map(_.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
      assert(onDisk === after.map(_.file).toSet, "superseded files must be deleted")
      assert(tableRows(ZoneMap.readPruned(spark, ldir, Long.MinValue, Long.MaxValue)) ===
        rowsBefore, "compaction changed the table")
      // each new line equals a fresh per-file stats recompute
      for (z <- compacted) {
        val r = spark.read.parquet(s"$ldir/${z.file}")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
            count(lit(1)), count(lit(1)) - count(col("ts")))
          .head()
        assert(z === ZoneMap.Zone(z.file, Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2), Some(r.getLong(3))))
        val ts = spark.read.parquet(s"$ldir/${z.file}")
          .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
        assert(ts === ts.sorted, s"${z.file} is not key-sorted")
      }
    }
  }

  test("compact with a committed snapshot keeps superseded files readable") {
    withLake { ldir =>
      val v1 = ZoneMap.commit(ldir)
      val before = ZoneMap.readManifest(ldir).get
      val rowsV1 = tableRows(ZoneMap.readAtVersion(spark, ldir, v1).get)
      assert(ZoneMap.compact(spark, ldir, "ts", before.map(_.rows).sum / 5) > 0)
      assert(before.forall(z => Files.isRegularFile(Paths.get(ldir, z.file))),
        "a snapshot-referenced file was deleted")
      assert(tableRows(ZoneMap.readAtVersion(spark, ldir, v1).get) === rowsV1)
      assert(tableRows(ZoneMap.readPruned(spark, ldir, Long.MinValue, Long.MaxValue)) ===
        rowsV1)
    }
  }

  test("compact keeps a legacy 4-field manifest readable") {
    withLake { ldir =>
      val m = Paths.get(ldir, "_zonemap.tsv")
      Files.write(m, new String(Files.readAllBytes(m)).split("\n")
        .map(_.split("\t", -1).take(4).mkString("\t")).mkString("\n").getBytes)
      val total = ZoneMap.readManifest(ldir).get.map(_.rows).sum
      assert(ZoneMap.compact(spark, ldir, "ts", total / 5) > 0)
      val after = ZoneMap.readManifest(ldir).getOrElse(fail("manifest unreadable"))
      assert(after.map(_.rows).sum === total)
      assert(after.forall(_.nulls.isEmpty), "null counts cannot be invented")
    }
  }

  test("graded query: s14 result matches the flat-table computation") {
    val got = Queries.byName("s14_compacted_scan").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val lo = micros("2024-01-05T00:00"); val hi = micros("2024-01-20T00:00")
    val want = graft.engine.Engine.table(spark, sf, "events")
      .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  // --------------------------------------- snapshots / time travel

  test("time travel: v1 pre-append, v2 full, v3 compacted — all readable") {
    val vdir = QueriesR13a.versionedEventsDir(spark, sf)
    assert(ZoneMap.versions(vdir) === Seq(1, 2, 3))
    val cut = QueriesR13a.evCutV1
    val v1 = ZoneMap.readAtVersion(spark, vdir, 1).getOrElse(fail("v1 gone"))
    val v2 = ZoneMap.readAtVersion(spark, vdir, 2).getOrElse(fail("v2 gone"))
    val v3 = ZoneMap.readAtVersion(spark, vdir, 3).getOrElse(fail("v3 gone"))
    val early = graft.engine.Engine.table(spark, sf, "events")
      .filter(unix_micros(col("ts")) < cut).count()
    assert(v1.count() === early, "v1 must be exactly the pre-append rows")
    assert(v1.agg(max(unix_micros(col("ts")))).head().getLong(0) < cut)
    assert(v2.count() === 1000L)
    assert(v3.count() === 1000L)
    // compaction changed the FILE set but not the data
    assert(v3.inputFiles.length < v2.inputFiles.length)
    assert(v2.agg(sum("event_id")).head().getLong(0) ===
      v3.agg(sum("event_id")).head().getLong(0))
    assert(ZoneMap.readAtVersion(spark, vdir, 9).isEmpty, "unknown version")
  }

  test("vacuum: expired snapshots lose their files, kept ones survive") {
    // a scratch copy — the memoized layout must stay intact for s15
    val src = QueriesR13a.versionedEventsDir(spark, sf)
    val vdir = java.nio.file.Files
      .createTempDirectory("graft_zm_vacuum_").toString
    try {
      new java.io.File(src).listFiles().foreach(f =>
        Files.copy(f.toPath, Paths.get(vdir, f.getName)))
      val deleted = ZoneMap.vacuum(vdir, keepVersions = 1)
      assert(deleted > 0, "the pre-compaction fragments must be reclaimed")
      assert(ZoneMap.versions(vdir) === Seq(3))
      assert(ZoneMap.readAtVersion(spark, vdir, 1).isEmpty,
        "a vacuumed-away snapshot must return None, not wrong data")
      val v3 = ZoneMap.readAtVersion(spark, vdir, 3)
        .getOrElse(fail("kept snapshot must survive vacuum"))
      assert(v3.count() === 1000L)
      // current manifest still serves prunes after the vacuum
      val lo = micros("2024-01-10T00:00"); val hi = micros("2024-01-14T00:00")
      val n = ZoneMap.readPruned(spark, vdir, lo, hi)
        .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
        .count()
      val flat = graft.engine.Engine.table(spark, sf, "events").filter(
        unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi).count()
      assert(n === flat)
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(vdir))
    }
  }

  test("vacuum refuses an unreadable current manifest") {
    val src = QueriesR13a.versionedEventsDir(spark, sf)
    val vdir = java.nio.file.Files
      .createTempDirectory("graft_zm_vrefuse_").toString
    try {
      new java.io.File(src).listFiles().foreach(f =>
        Files.copy(f.toPath, Paths.get(vdir, f.getName)))
      Files.delete(Paths.get(vdir, "_zonemap.tsv"))
      // without the current manifest the live set degenerates to the
      // kept snapshots and vacuum would destroy current-state files
      intercept[IllegalStateException] { ZoneMap.vacuum(vdir, 1) }
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(vdir))
    }
  }

  test("versioned layout refuses the raw-directory fallback read") {
    val src = QueriesR13a.versionedEventsDir(spark, sf)
    val vdir = java.nio.file.Files
      .createTempDirectory("graft_zm_refuse_").toString
    try {
      new java.io.File(src).listFiles().foreach(f =>
        Files.copy(f.toPath, Paths.get(vdir, f.getName)))
      Files.delete(Paths.get(vdir, "_zonemap.tsv"))
      // retained snapshot files make a directory listing a lie: the
      // degrade path must fail loudly instead of double-counting
      intercept[IllegalStateException] {
        ZoneMap.readPruned(spark, vdir, 0L, Long.MaxValue)
      }
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(vdir))
    }
  }

  test("graded query: s15 result matches the flat-table cut") {
    val got = Queries.byName("s15_time_travel").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.engine.Engine.table(spark, sf, "events")
      .filter(unix_micros(col("ts")) < QueriesR13a.evCutV1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  // ------------------------------------------- copy-on-write MERGE

  test("mergeUpdates: surgical single-file rewrite, untouched lines identical") {
    val mdir = java.nio.file.Files
      .createTempDirectory("graft_zm_merge_").toString
    try {
      val ev = graft.engine.Engine.table(spark, sf, "events")
      ZoneMap.write(ev, mdir, "ts", 8)
      ZoneMap.commit(mdir) // v1: pre-merge
      val before = ZoneMap.readManifest(mdir).get
      // pick update keys that all live in ONE file: surgical COW
      val target = before.maxBy(_.rows)
      val ids = spark.read.parquet(s"$mdir/${target.file}")
        .select("event_id").limit(5).collect().map(_.getLong(0))
      val updates = ev.filter(col("event_id").isin(ids.toSeq: _*))
        .select(col("event_id"), (col("value") + 1000.0).as("value"))
      val rewritten = ZoneMap.mergeUpdates(
        spark, mdir, "ts", updates, "event_id", "value")
      assert(rewritten === 1, "keys from one file must rewrite one file")
      val after = ZoneMap.readManifest(mdir).get
      assert(after.map(_.rows).sum === 1000, "merge must not add/drop rows")
      // every untouched file's line rides through byte-identical
      assert(before.filterNot(_.file == target.file).toSet
        .subsetOf(after.toSet))
      assert(!after.exists(_.file == target.file),
        "the touched file must be replaced, not edited")
      // the updated values are visible in the current table…
      val cur = ZoneMap.readPruned(spark, mdir, Long.MinValue, Long.MaxValue)
      val bumped = cur.filter(col("event_id").isin(ids.toSeq: _*))
        .agg(min("value")).head().getDouble(0)
      assert(bumped >= 1000.0, "merged rows must carry the new values")
      // …and the pre-merge snapshot still reads the OLD values
      val v1 = ZoneMap.readAtVersion(spark, mdir, 1)
        .getOrElse(fail("v1 must survive the merge (retention)"))
      val old = v1.filter(col("event_id").isin(ids.toSeq: _*))
        .agg(max("value")).head().getDouble(0)
      assert(old < 1000.0, "time travel must see pre-merge values")
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(mdir))
    }
  }

  test("graded query: s16 result matches the flat-table CASE replay") {
    val got = Queries.byName("s16_lake_merge").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.engine.Engine.table(spark, sf, "events")
      .withColumn("value", when(col("event_id") % 37 === 0,
        col("value") * 2).otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("event_id") % 37 === 0, 1)).as("n_upd"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  // ------------------------------------------- predicate COW DELETE

  test("deleteWhere: only matching files rewrite, ledger balances, v1 intact") {
    val ddir = java.nio.file.Files
      .createTempDirectory("graft_zm_delete_").toString
    try {
      val ev = graft.engine.Engine.table(spark, sf, "events")
      ZoneMap.write(ev, ddir, "ts", 8)
      ZoneMap.commit(ddir) // v1
      val before = ZoneMap.readManifest(ddir).get
      // delete a narrow ts band: only the files overlapping it rewrite
      val lo = micros("2024-01-03T00:00"); val hi = micros("2024-01-05T00:00")
      val pred = unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi
      val expectDeleted = ev.filter(pred).count()
      val (rewritten, deleted) = ZoneMap.deleteWhere(spark, ddir, "ts", pred)
      assert(deleted === expectDeleted)
      assert(rewritten < before.size,
        "a 2-day band must not touch every ~1-day file")
      val after = ZoneMap.readManifest(ddir).get
      assert(after.map(_.rows).sum === 1000 - expectDeleted,
        "manifest ledger must balance: rows before - deleted")
      assert(before.toSet.intersect(after.toSet).size ===
        before.size - rewritten,
        "untouched manifest lines must ride through byte-identical")
      // post-delete reads see no matching row; everything else survives
      val cur = ZoneMap.readPruned(spark, ddir, Long.MinValue, Long.MaxValue)
      assert(cur.filter(pred).count() === 0L)
      assert(cur.count() === 1000 - expectDeleted)
      // pre-delete snapshot still reads every row
      val v1 = ZoneMap.readAtVersion(spark, ddir, 1)
        .getOrElse(fail("v1 must survive the delete (retention)"))
      assert(v1.count() === 1000L)
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(ddir))
    }
  }

  test("graded query: s17 result matches the flat-table WHERE NOT replay") {
    val got = Queries.byName("s17_lake_delete").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.engine.Engine.table(spark, sf, "events")
      .filter(col("event_id") % 53 =!= 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  // ------------------------------------------- schema evolution

  test("append evolves the schema: new column nullable, old rows null-filled") {
    val edir = QueriesR13a.evolvedEventsDir(spark, sf)
    val cur = ZoneMap.readPruned(spark, edir, Long.MinValue, Long.MaxValue)
    assert(cur.columns.contains("source_tag"))
    assert(cur.count() === 1000L)
    val tagged = cur.filter(col("source_tag").isNotNull)
    assert(tagged.count() ===
      tagged.filter(col("event_id") % 2 === 0).count(),
      "exactly the appended (even) half must carry the tag")
    assert(cur.filter(col("event_id") % 2 === 1 &&
      col("source_tag").isNotNull).count() === 0L,
      "pre-evolution rows must read the new column as null")
  }

  test("append refuses a type change on an existing column, dir untouched") {
    val edir = java.nio.file.Files
      .createTempDirectory("graft_zm_evolve_").toString
    try {
      val ev = graft.engine.Engine.table(spark, sf, "events")
      ZoneMap.write(ev.limit(100), edir, "ts", 2)
      val filesBefore = new java.io.File(edir).listFiles().map(_.getName).toSet
      val bad = ev.limit(10).withColumn("value", col("value").cast("string"))
      intercept[IllegalArgumentException] {
        ZoneMap.append(bad, edir, "ts", 1)
      }
      assert(new java.io.File(edir).listFiles().map(_.getName).toSet ===
        filesBefore, "a refused batch must leave the directory untouched")
    } finally {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(edir))
    }
  }

  test("graded query: s18 result matches the flat-table CASE replay") {
    val got = Queries.byName("s18_schema_evolution").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.engine.Engine.table(spark, sf, "events")
      .withColumn("source_tag", when(col("event_id") % 2 === 0,
        concat(lit("b"), (col("event_id") % 7).cast("string"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("source_tag")).as("n_tagged"),
        countDistinct(col("source_tag")).as("n_tags"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  // ------------------------------------------- streaming lake ingest

  test("lakeIngestStream: each micro-batch is an add-file commit, lake stays queryable") {
    import graft.streaming.Streaming
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Int): Streaming.Event =
      Streaming.Event(id, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:$minute%02d:00"), id % 3, "click", id.toDouble)
    val lake = java.nio.file.Files
      .createTempDirectory("graft_lake_ingest_").toString + "/tbl"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lake_ckpt_").toString
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.lakeIngestStream(mem.toDF(), lake, ckpt, buckets = 2)
    try {
      mem.addData((1L to 20L).map(i => ev(i, i.toInt)): _*)
      q.processAllAvailable()
      val after1 = ZoneMap.readManifest(lake).getOrElse(fail("no manifest"))
      assert(after1.map(_.rows).sum === 20)
      mem.addData((21L to 30L).map(i => ev(i, i.toInt)): _*)
      q.processAllAvailable()
      val after2 = ZoneMap.readManifest(lake).get
      assert(after2.map(_.rows).sum === 30)
      assert(after1.toSet.subsetOf(after2.toSet),
        "batch 2 must be an add-file commit, not a rewrite")
      // prunable the moment the batch commits: minutes [10, 25) span
      // both batches' files
      def us(min: Int) = java.time.LocalDateTime.of(2024, 1, 1, 0, min)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      val pruned = ZoneMap.readPruned(spark, lake, us(10), us(25))
      assert(pruned.inputFiles.length < after2.size)
      assert(pruned.filter(unix_micros(col("ts")) >= us(10) &&
        unix_micros(col("ts")) < us(25)).count() === 15)
      // and metadata-countable across the batch boundary
      val (metaN, bdf) = ZoneMap.countRange(spark, lake, us(10), us(25)).get
      val n = metaN + bdf.filter(unix_micros(col("ts")) >= us(10) &&
        unix_micros(col("ts")) < us(25)).count()
      assert(n === 15)
    } finally {
      q.stop()
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(new java.io.File(lake).getParentFile); rm(new java.io.File(ckpt))
    }
  }

  // ---------------------------------------------- multi-column (v2)

  private lazy val zdir = QueriesR13a.zorderEventsDir(spark, sf)
  private def t0 = micros("2024-01-01T00:00")
  private def day(n: Int) = t0 + n.toLong * 86400L * 1000000L

  test("v2 manifest: both stats columns recorded, rows sum to the table") {
    val zones = ZoneMap.readManifest2(zdir).getOrElse(fail("no v2 manifest"))
    assert(zones.map(_.rows).sum === 1000)
    assert(zones.forall(z => z.bounds.keySet === Set("user_id", "ts_us")))
    assert(zones.forall(z => z.bounds.values.forall {
      case (mn, mx) => mn.isDefined && mx.isDefined && mn.get <= mx.get
    }))
  }

  test("2-D prune: conjunctive box keeps <= each single-dim prune < all") {
    val zones = ZoneMap.readManifest2(zdir).get
    val maxU = zones.flatMap(_.bounds("user_id")._2).max
    val uPred = ("user_id", 0L, (maxU + 1) / 4)
    val tPred = ("ts_us", day(7), day(14))
    def kept(preds: Seq[(String, Long, Long)]) = zones.count(z =>
      preds.forall { case (c, lo, hi) =>
        val (mn, mx) = z.bounds(c); mx.get >= lo && mn.get < hi
      })
    val (both, uOnly, tOnly) =
      (kept(Seq(uPred, tPred)), kept(Seq(uPred)), kept(Seq(tPred)))
    assert(both <= math.min(uOnly, tOnly))
    assert(both < zones.size,
      s"2-D box must skip files: kept $both of ${zones.size} " +
        s"(user-only $uOnly, ts-only $tOnly)")
    // the scan must contain exactly the manifest-selected subset
    val pruned = ZoneMap.readPrunedMulti(spark, zdir, Seq(uPred, tPred))
    assert(pruned.inputFiles.length === both)
  }

  test("v2 prune disables itself on unknown columns and corrupt manifests") {
    val total = ZoneMap.readManifest2(zdir).get.size
    val odd = ZoneMap.readPrunedMulti(spark, zdir,
      Seq(("no_such_col", 0L, 1L)))
    assert(odd.inputFiles.length === total,
      "a predicate on an un-manifested column must read everything")
    val m = Paths.get(zdir, "_zonemap2.tsv")
    val bak = Paths.get(zdir, "_zonemap2.tsv.bak")
    Files.move(m, bak, StandardCopyOption.REPLACE_EXISTING)
    try {
      Files.write(m, "#cols\tuser_id\nnot-enough-fields".getBytes)
      val corrupt = ZoneMap.readPrunedMulti(spark, zdir,
        Seq(("user_id", 0L, 5L)))
      assert(corrupt.inputFiles.length === total)
    } finally Files.move(bak, m, StandardCopyOption.REPLACE_EXISTING)
  }

  test("graded query: s12 result matches the flat-table computation") {
    val got = Queries.byName("s12_zorder_skip").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val ev = graft.engine.Engine.table(spark, sf, "events")
    val maxU = ev.agg(max("user_id")).head().getLong(0)
    val want = ev
      .filter(col("user_id") < (maxU + 1) / 4 &&
        unix_micros(col("ts")) >= day(7) && unix_micros(col("ts")) < day(14))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("graded query: s11 result matches the flat-table computation") {
    val got = Queries.byName("s11_zonemap_skip").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val lo = micros("2024-01-10T00:00")
    val hi = micros("2024-01-14T00:00")
    val want = graft.engine.Engine.table(spark, sf, "events")
      .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }
}
