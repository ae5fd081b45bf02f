package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine

/** Round-13 batch: the graded partition-pruned scan (VERDICT r12 task
  * 2) — directory partition pruning is the single most-used 100 TB scan
  * feature (a day-partitioned events lake is THE canonical layout), and
  * until this round `Sinks.parquetPartitioned` was only spec-asserted,
  * never driven end-to-end with a DuckDB oracle.
  */
object QueriesR13a {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Session-memoized day-partitioned twin of the events table
    * (`Sinks.parquetPartitioned`, `day=YYYY-MM-DD` dirs). Write
    * discipline mirrors production: repartition by the partition key so
    * each day lands as ONE file in its dir (no small-files spray from
    * 32 writers × 30 days), schema stamped next to the part dirs so the
    * readback never pays the footer-inference job (the QueriesR6a
    * lever). Memo key folds fixture identity + content stamp
    * ([[graft.engine.Fixtures.stampOf]]), build guarded by
    * computeIfAbsent + a validity re-check (the j28 discipline).
    */
  private val partMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def partitionedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_part_events_").toString
      sys.addShutdownHook {
        // swallow everything: a late stack trace here could land after
        // Bench's stdout JSON line inside the driver's 2000-char tail
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      val df = t(s, d, "events")
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day"))
      graft.sources.Sinks.parquetPartitioned(df, dir, Seq("day"))
      val p = java.nio.file.Paths.get(dir, "_schema.json")
      java.nio.file.Files.write(p,
        df.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dir
    }
    val dir = partMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else partMemo.synchronized {
      val fresh = build(); partMemo.put(key, fresh); fresh
    }
  }

  /** Schema-explicit partitioned readback: zero Spark jobs to resolve
    * the schema (partition discovery itself is a driver-side listing,
    * not a job); `day` resolves from the directory names.
    */
  private[graft] def readPartitioned(s: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get(dir, "_schema.json")
    val json = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.types.DataType.fromJson(json) match {
      case st: org.apache.spark.sql.types.StructType =>
        s.read.schema(st).parquet(dir)
      case _ => s.read.parquet(dir)
    }
  }

  // ------------- s10_partition_pruned: day-pruned scan over the lake layout

  private val s10 = Q(
    "s10_partition_pruned",
    "Partition-pruned scan over the day-partitioned events lake layout: " +
      "events written once per session as `day=YYYY-MM-DD` parquet dirs " +
      "(Sinks.parquetPartitioned, one file per day), then a 7-day " +
      "window aggregated per (day, event_type). The day predicate " +
      "resolves at PLANNING time against directory names — 23 of 30 " +
      "partition dirs are never opened, no footer touched, no row read " +
      "(PlanShapeSpec pins PartitionFilters + partitionCount == 7) — " +
      "the mechanism that turns a 100 TB full-history scan into a " +
      "dirs-listed 7-day read. The oracle aggregates the SAME window " +
      "from the flat events table, so the hash-compare grades that the " +
      "partitioned layout round-trips values, types (date), and " +
      "grouping exactly.",
    (s, d) => {
      val lo = java.sql.Date.valueOf("2024-01-08")
      val hi = java.sql.Date.valueOf("2024-01-14")
      readPartitioned(s, partitionedEventsDir(s, d))
        .filter(col("day").between(lit(lo), lit(hi)))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        // dates leave the engine as ISO strings (the dq_freshness
        // convention — the oracle compare has no cross-engine date type)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_cents"))
        .transform(graft.engine.Ops.reportSort("day", "event_type"))
    },
    Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events
            WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                                       AND DATE '2024-01-14'
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Session-memoized range-clustered twin of the events table with a
    * `_zonemap.tsv` min/max manifest ([[graft.sources.ZoneMap.write]],
    * 30 ts-range buckets ≈ one file per day of the fixture's 30-day
    * domain). Same memo discipline as [[partitionedEventsDir]]:
    * content-stamped key, computeIfAbsent build, swallowing sweeper.
    */
  private val zoneMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def zonemapEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_zonemap_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      graft.sources.ZoneMap.write(t(s, d, "events"), dir, "ts", 30)
      dir
    }
    val dir = zoneMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else zoneMemo.synchronized {
      val fresh = build(); zoneMemo.put(key, fresh); fresh
    }
  }

  // ------------- s11_zonemap_skip: min/max-manifest file skipping

  private val s11 = Q(
    "s11_zonemap_skip",
    "File-level data skipping via a min/max zone-map manifest — the " +
      "Delta/Iceberg stats-prune mechanism s10's DIRECTORY pruning " +
      "can't give a high-cardinality key: events are range-clustered " +
      "on ts into 30 files (each covering ~one day), per-file min/max " +
      "epoch-micros recorded in `_zonemap.tsv` at write time " +
      "(sources/ZoneMap), and a 4-day range predicate resolves " +
      "DRIVER-side against the manifest so ~26 of 30 files are never " +
      "listed into the scan — no footer read, no task scheduled " +
      "(ZoneMapSpec pins inputFiles == the overlap set, plus the " +
      "missing-manifest full-read fallback). Boundary files straddle " +
      "the range, so the residual row filter stays — pruning is an " +
      "accelerator, never a semantics change, which is exactly what " +
      "the hash-compare grades: per-type counts, cent sums, and exact " +
      "min/max event micros against the flat-table oracle.",
    (s, d) => {
      val loM = java.time.LocalDateTime.of(2024, 1, 10, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      val hiM = java.time.LocalDateTime.of(2024, 1, 14, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      graft.sources.ZoneMap.readPruned(s, zonemapEventsDir(s, d), loM, hiM)
        .filter(unix_micros(col("ts")) >= loM && unix_micros(col("ts")) < hiM)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          min(unix_micros(col("ts"))).as("min_ts_us"),
          max(unix_micros(col("ts"))).as("max_ts_us"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
                   CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <  TIMESTAMP '2024-01-14 00:00:00'
            GROUP BY 1 ORDER BY 1"""))

  /** Session-memoized Z-ORDERED twin of the events table with a
    * multi-column (v2) zone-map manifest: the `curate_zorder` Morton
    * construction actually driving a layout. 11 bits of user_id
    * interleaved with 11 bits of the event's position in the 30-day
    * fixture window, clustered into 32 range buckets of the z curve,
    * per-file min/max recorded for BOTH user_id and ts
    * ([[graft.sources.ZoneMap.writeClustered]]). The bit widths cover
    * every fixture scale (user_id < 2048); at production scale the user
    * dimension would hash/pmod first, which only changes the key
    * construction, not the prune machinery.
    */
  private val zorderMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private val evT0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
  private val evSpan = 30L * 86400L * 1000000L

  private[graft] def zorderEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_zorder_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      // literal-unrolled interleave (the curate_zorder discipline: shift
      // amounts are plan-time literals so the key stays in codegen)
      val df0 = t(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("__ub", pmod(col("user_id"), lit(2048L)))
        .withColumn("__tb", expr(
          s"greatest(0L, least(2047L, ((ts_us - ${evT0}L) * 2048L) div ${evSpan}L))"))
      val z = (0 until 11).foldLeft(lit(0L)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftright(col("__ub"), i).bitwiseAND(lit(1L)), 2 * i))
          .bitwiseOR(shiftleft(shiftright(col("__tb"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      val df = df0.withColumn("z", z).drop("__ub", "__tb")
      graft.sources.ZoneMap.writeClustered(
        df, dir, "z", Seq("user_id", "ts_us"), 32)
      dir
    }
    val dir = zorderMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else zorderMemo.synchronized {
      val fresh = build(); zorderMemo.put(key, fresh); fresh
    }
  }

  // ------------- s12_zorder_skip: 2-D zone-map prune over a z-ordered layout

  private val s12 = Q(
    "s12_zorder_skip",
    "Multi-dimensional data skipping over a Z-ORDERED layout — the " +
      "reason OPTIMIZE ZORDER exists: a single-key sort (s11) gives " +
      "ONE column a tight per-file envelope, the Morton-interleaved " +
      "layout gives BOTH user_id and ts partial envelopes, so the " +
      "conjunctive box predicate (first quarter of users AND a 7-day " +
      "window) prunes multiplicatively — each file must overlap BOTH " +
      "ranges to be listed into the scan. File selection happens " +
      "driver-side against the v2 manifest (ZoneMap.readPrunedMulti), " +
      "and the USER bound itself derives from the manifest's recorded " +
      "max — table-stats-driven planning with zero Spark jobs, the " +
      "oracle mirroring it with a scalar subquery. ZoneMapSpec pins " +
      "kept(2-D) <= min(kept(user), kept(ts)) < all files, plus the " +
      "unknown-column and corrupt-manifest full-read fallbacks.",
    (s, d) => {
      val dir = zorderEventsDir(s, d)
      val zones = graft.sources.ZoneMap.readManifest2(dir)
        .getOrElse(sys.error(s"zone-map manifest missing under $dir"))
      val maxU = zones.flatMap(_.bounds("user_id")._2).max
      val uHi = (maxU + 1L) / 4L // exclusive: first quarter of the id space
      val tLo = evT0 + 7L * 86400L * 1000000L  // 2024-01-08
      val tHi = evT0 + 14L * 86400L * 1000000L // 2024-01-15
      graft.sources.ZoneMap.readPrunedMulti(s, dir,
          Seq(("user_id", 0L, uHi), ("ts_us", tLo, tHi)))
        .filter(col("user_id") < uHi &&
          col("ts_us") >= tLo && col("ts_us") < tHi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events
            WHERE user_id < (SELECT (max(user_id) + 1) // 4 FROM events)
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts <  TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY 1 ORDER BY 1"""))

  // ------------- s13_meta_count: metadata-accelerated range count

  private val s13 = Q(
    "s13_meta_count",
    "Metadata-accelerated range COUNT over the zone-mapped layout — " +
      "the Delta answer-from-the-log move: files whose min/max " +
      "envelope sits wholly inside the 10-day range contribute their " +
      "manifest row count (minus recorded null keys) with NO read, and " +
      "only the one-or-two boundary files that straddle an endpoint " +
      "are scanned and row-filtered (ZoneMap.countRange; ZoneMapSpec " +
      "pins the interior/boundary partition and that the scan holds " +
      "ONLY straddling files). At 100 TB this answers a month-long " +
      "count by reading two files instead of the month. A manifest " +
      "that can't vouch (absent, corrupt, or pre-null-count legacy) " +
      "falls back to the full scan — the same degrade-never-fail " +
      "contract as the prune paths — and the oracle's plain count(*) " +
      "grades that metadata arithmetic + boundary residual is EXACTLY " +
      "the full-scan answer.",
    (s, d) => {
      val lo = evT0 + 5L * 86400L * 1000000L  // 2024-01-06
      val hi = evT0 + 15L * 86400L * 1000000L // 2024-01-16
      val dir = zonemapEventsDir(s, d)
      graft.sources.ZoneMap.countRange(s, dir, lo, hi) match {
        case Some((interior, boundary)) =>
          boundary
            .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
            .agg((count(lit(1)) + lit(interior)).as("n"))
        case None =>
          graft.sources.ZoneMap.readPruned(s, dir, lo, hi)
            .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
            .agg(count(lit(1)).as("n"))
      }
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-06 00:00:00'
              AND ts <  TIMESTAMP '2024-01-16 00:00:00'"""))

  /** Session-memoized COMPACTED twin of the events table: written
    * deliberately fragmented (64 range buckets → 64 small files, the
    * streaming-ingest small-files pathology), then
    * [[graft.sources.ZoneMap.compact]]ed to ~1/8th-of-table target
    * files — the OPTIMIZE pass a 100 TB lake runs nightly. The graded
    * read (s14) runs against the post-compaction layout, so the oracle
    * hash-compare grades that compaction preserved every row and the
    * manifest arithmetic (min-of-mins / max-of-maxes / summed rows and
    * nulls, NO stats job) stayed exact enough to prune correctly.
    */
  private val compactMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def compactedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_compact_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      graft.sources.ZoneMap.write(t(s, d, "events"), dir, "ts", 64)
      val total = graft.sources.ZoneMap.readManifest(dir).get.map(_.rows).sum
      graft.sources.ZoneMap.compact(s, dir, "ts", math.max(1L, total / 8L))
      dir
    }
    val dir = compactMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else compactMemo.synchronized {
      val fresh = build(); compactMemo.put(key, fresh); fresh
    }
  }

  // ------------- s14_compacted_scan: range scan over an OPTIMIZE'd layout

  private val s14 = Q(
    "s14_compacted_scan",
    "Range scan over a COMPACTED lake layout — the small-files " +
      "maintenance story: the events table is first written as 64 tiny " +
      "range files (the streaming-ingest pathology), then " +
      "ZoneMap.compact greedily merges envelope-adjacent files up to a " +
      "1/8th-of-table target, rewriting each group as one key-sorted " +
      "file whose manifest line is PURE ARITHMETIC over the group's " +
      "lines (min of mins, summed rows/nulls — zero stats jobs, the " +
      "Delta OPTIMIZE commit shape). The 15-day range then prunes " +
      "against the post-compaction manifest and the flat-table oracle " +
      "grades that no row was lost, duplicated, or re-valued through " +
      "the fragment→compact→prune round trip. ZoneMapSpec additionally " +
      "pins file count shrinkage, manifest-vs-file agreement, and " +
      "countRange exactness after compaction.",
    (s, d) => {
      val lo = evT0 + 4L * 86400L * 1000000L  // 2024-01-05
      val hi = evT0 + 19L * 86400L * 1000000L // 2024-01-20
      graft.sources.ZoneMap.readPruned(s, compactedEventsDir(s, d), lo, hi)
        .filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts <  TIMESTAMP '2024-01-20 00:00:00'
            GROUP BY 1 ORDER BY 1"""))

  /** Session-memoized VERSIONED lake: days 1–15 written and committed
    * as snapshot v1, days 16–30 appended and committed as v2, then the
    * whole layout compacted and committed as v3 — with snapshots
    * present, [[graft.sources.ZoneMap.compact]] retains the superseded
    * files on disk, so v1 and v2 stay readable until a vacuum. The
    * graded read is AS OF v1.
    */
  private val versionMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] val evCutV1: Long = evT0 + 15L * 86400L * 1000000L // 2024-01-16

  private[graft] def versionedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_versioned_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      import graft.sources.ZoneMap
      val ev = t(s, d, "events")
      ZoneMap.write(ev.filter(unix_micros(col("ts")) < evCutV1),
        dir, "ts", 16)
      ZoneMap.commit(dir) // v1: days 1-15
      ZoneMap.append(ev.filter(unix_micros(col("ts")) >= evCutV1),
        dir, "ts", 8)
      ZoneMap.commit(dir) // v2: full table
      val total = ZoneMap.readManifest(dir).get.map(_.rows).sum
      ZoneMap.compact(s, dir, "ts", math.max(1L, total / 6L))
      ZoneMap.commit(dir) // v3: compacted full table
      dir
    }
    val dir = versionMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else versionMemo.synchronized {
      val fresh = build(); versionMemo.put(key, fresh); fresh
    }
  }

  // ------------- s15_time_travel: AS OF read against snapshot v1

  private val s15 = Q(
    "s15_time_travel",
    "Time travel over the versioned lake — the Delta AS OF contract: " +
      "days 1-15 committed as snapshot v1, days 16-30 appended (v2), " +
      "the layout compacted (v3, superseded files RETAINED on disk " +
      "because snapshots reference them — vacuum is the only " +
      "destroyer, and the full-read fallback refuses a versioned " +
      "layout rather than double-count retained files). The graded " +
      "frame reads AS OF v1 — the exact pre-append file set resolved " +
      "from the frozen manifest, zero jobs — and the oracle replays " +
      "the same cut as a WHERE on the flat table, grading that " +
      "snapshot isolation survived both the append and the compaction " +
      "that rewrote the current manifest twice. ZoneMapSpec pins the " +
      "v1/v2/v3 file sets, post-vacuum None for expired versions, and " +
      "retained-file survival across compact.",
    (s, d) => {
      graft.sources.ZoneMap
        .readAtVersion(s, versionedEventsDir(s, d), 1)
        .getOrElse(sys.error("snapshot v1 must be readable"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          max(unix_micros(col("ts"))).as("max_ts_us"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents,
                   CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
            FROM events
            WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
            GROUP BY 1 ORDER BY 1"""))

  /** Session-memoized MERGED lake: events written and committed as v1,
    * then a deterministic update batch (every 37th event doubles its
    * value) MERGE'd copy-on-write — only files containing matched keys
    * are rewritten, v1 keeps reading the pre-merge values.
    */
  private val mergeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def mergedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_merged_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      import graft.sources.ZoneMap
      val ev = t(s, d, "events")
      ZoneMap.write(ev, dir, "ts", 24)
      ZoneMap.commit(dir) // v1: pre-merge snapshot
      val updates = ev.filter(col("event_id") % 37 === 0)
        .select(col("event_id"), (col("value") * 2).as("value"))
      ZoneMap.mergeUpdates(s, dir, "ts", updates, "event_id", "value")
      dir
    }
    val dir = mergeMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else mergeMemo.synchronized {
      val fresh = build(); mergeMemo.put(key, fresh); fresh
    }
  }

  // ------------- s16_lake_merge: copy-on-write MERGE, graded post-state

  private val s16 = Q(
    "s16_lake_merge",
    "Copy-on-write MERGE on the zone-mapped lake — the remaining Delta " +
      "verb: a deterministic update batch (every 37th event doubles " +
      "its value) joins broadcast against the layout, ONE semi-join " +
      "job finds the files containing matched keys, only those are " +
      "rewritten (range-repartitioned back onto ts so the new files " +
      "stay envelope-tight), and untouched files plus their manifest " +
      "lines ride through byte-identical. The pre-merge snapshot v1 " +
      "still reads the OLD values (ZoneMapSpec pins both that and " +
      "single-file surgical rewrites). The graded read aggregates the " +
      "post-merge table; the oracle replays the update as a CASE on " +
      "the flat table, so the hash-compare grades that COW updated " +
      "exactly the matched rows and re-valued nothing else.",
    (s, d) => {
      graft.sources.ZoneMap
        .readPruned(s, mergedEventsDir(s, d), Long.MinValue, Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("event_id") % 37 === 0, 1)).as("n_upd"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""WITH m AS (
              SELECT event_type, event_id,
                     CASE WHEN event_id % 37 = 0 THEN value * 2
                          ELSE value END AS value
              FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) FILTER (event_id % 37 = 0) AS BIGINT)
                     AS n_upd,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM m GROUP BY 1 ORDER BY 1"""))

  /** Session-memoized DELETE'd lake: events written + committed as v1,
    * then every 53rd event deleted copy-on-write.
    */
  private val deleteMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def deletedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_deleted_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      import graft.sources.ZoneMap
      ZoneMap.write(t(s, d, "events"), dir, "ts", 24)
      ZoneMap.commit(dir) // v1: pre-delete snapshot
      ZoneMap.deleteWhere(s, dir, "ts", col("event_id") % 53 === 0)
      dir
    }
    val dir = deleteMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else deleteMemo.synchronized {
      val fresh = build(); deleteMemo.put(key, fresh); fresh
    }
  }

  // ------------- s17_lake_delete: predicate COW delete, graded post-state

  private val s17 = Q(
    "s17_lake_delete",
    "Predicate DELETE on the zone-mapped lake — the last CRUD verb: " +
      "one scan finds the files containing any matching row (every " +
      "53rd event), only those rewrite with the matches filtered out, " +
      "untouched files and their manifest lines ride through " +
      "byte-identical, and the pre-delete snapshot v1 still reads " +
      "every row (ZoneMapSpec pins the rewrite set, the row ledger, " +
      "and time travel across the delete). The graded read aggregates " +
      "the post-delete table; the oracle replays the predicate as a " +
      "WHERE NOT on the flat table, so the hash-compare grades that " +
      "COW removed exactly the matched rows and nothing else.",
    (s, d) => {
      graft.sources.ZoneMap
        .readPruned(s, deletedEventsDir(s, d), Long.MinValue, Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          max(col("event_id")).as("max_id"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents,
                   CAST(max(event_id) AS BIGINT) AS max_id
            FROM events
            WHERE event_id % 53 <> 0
            GROUP BY 1 ORDER BY 1"""))

  /** Session-memoized SCHEMA-EVOLVED lake: odd events written as the
    * base, even events appended with a NEW `source_tag` column — the
    * append welds the column onto the stamped schema as nullable, so
    * readers see it on every file, null for the pre-evolution half.
    */
  private val evolveMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def evolvedEventsDir(s: SparkSession, d: String): String = {
    val key = new java.io.File(d).getCanonicalPath + "@" +
      graft.engine.Fixtures.stampOf(d, "events")
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_evolved_events_").toString
      sys.addShutdownHook {
        try {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
          }
          rm(new java.io.File(dir))
        } catch { case _: Throwable => }
      }
      import graft.sources.ZoneMap
      val ev = t(s, d, "events")
      ZoneMap.write(ev.filter(col("event_id") % 2 === 1), dir, "ts", 12)
      ZoneMap.append(ev.filter(col("event_id") % 2 === 0)
          .withColumn("source_tag",
            concat(lit("b"), (col("event_id") % 7).cast("string"))),
        dir, "ts", 6)
      dir
    }
    val dir = evolveMemo.computeIfAbsent(key, _ => build())
    if (new java.io.File(dir).isDirectory) dir
    else evolveMemo.synchronized {
      val fresh = build(); evolveMemo.put(key, fresh); fresh
    }
  }

  // ------------- s18_schema_evolution: merged-schema readback, graded

  private val s18 = Q(
    "s18_schema_evolution",
    "Schema evolution on append — the Delta mergeSchema contract: the " +
      "base half of events is written with the fixture's six columns, " +
      "the other half appends carrying a NEW source_tag column, and " +
      "the append welds it onto the stamped schema as NULLABLE so one " +
      "read sees every file — the parquet reader's name-based " +
      "projection null-fills the pre-evolution files, no rewrite, no " +
      "backfill job (a type CHANGE on an existing column is refused " +
      "loudly before any data lands — spec'd). The graded read " +
      "aggregates rows, tagged rows, and distinct tags per event_type " +
      "across both schema generations; the oracle replays the tag rule " +
      "as a CASE on the flat table, so the hash-compare grades that " +
      "evolution changed visibility, never values.",
    (s, d) => {
      graft.sources.ZoneMap
        .readPruned(s, evolvedEventsDir(s, d), Long.MinValue, Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("source_tag")).as("n_tagged"),
          countDistinct(col("source_tag")).as("n_tags"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some("""WITH m AS (
              SELECT event_type, value,
                     CASE WHEN event_id % 2 = 0
                          THEN 'b' || CAST(event_id % 7 AS VARCHAR)
                          ELSE NULL END AS source_tag
              FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(source_tag) AS BIGINT) AS n_tagged,
                   CAST(count(DISTINCT source_tag) AS BIGINT) AS n_tags,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM m GROUP BY 1 ORDER BY 1"""))

  // ------------- mm_decode_jpeg: full JPEG decode via javax.imageio

  private val decodeJpeg = Q(
    "mm_decode_jpeg",
    "FULL JPEG decode through the REAL codec, oracle-graded — extends " +
      "the mm_decode_px PNG/WAV pattern to the lossy codec (VERDICT " +
      "r12 task 7; jpegSofOffset already walks the headers, this " +
      "drives the actual DCT pipeline). Every 16th-plus-four document " +
      "synthesizes a 32×24 image whose 8×8 blocks are constant GRAY " +
      "(block (bx,by) = (7·id+11·bx+13·by)%256), encodes with " +
      "javax.imageio's JPEG writer at quality 1.0, and decodes back " +
      "inside mapPartitions. That family round-trips EXACTLY — gray " +
      "makes the fixed-point color transform exact, block-constant " +
      "pixels are DC-only so the integer-DCT error terms are zero, and " +
      "q=1.0 quant tables are all ones (Multimodal.encodeJpegGray " +
      "doc; measured maxDiff=0) — so the oracle " +
      "replays the block formula in SQL and the hash-compare grades " +
      "the real encoder→decoder loop. Map-only at any scale (the " +
      "mm_decode_px shape).",
    (s, d) => {
      import s.implicits._
      import graft.operators.Multimodal
      val ids = t(s, d, "documents")
        .filter(col("doc_id") % 16 === 4)
        .select(col("doc_id")).as[Long]
      ids.mapPartitions { it =>
        it.map { id =>
          Multimodal.decodeJpegStats(id, Multimodal.encodeJpegGray(id, 32, 24))
        }
      }.toDF()
        .transform(graft.engine.Ops.reportSort("doc_id"))
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents
                         WHERE doc_id % 16 = 4),
            px AS (SELECT doc_id, x, y,
                          (7 * doc_id + 11 * (x // 8) + 13 * (y // 8)) % 256
                            AS v
                   FROM ids
                   CROSS JOIN (SELECT unnest(range(0, 32)) AS x)
                   CROSS JOIN (SELECT unnest(range(0, 24)) AS y))
            SELECT doc_id, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS r_sum,
                   CAST(sum(v) AS BIGINT) AS g_sum,
                   CAST(sum(v) AS BIGINT) AS b_sum,
                   CAST(sum((x + 1) * (y + 1) * v) AS BIGINT) AS pos_moment
            FROM px GROUP BY doc_id ORDER BY doc_id"""))

  val all: Seq[Q] =
    Seq(s10, s11, s12, s13, s14, s15, s16, s17, s18, decodeJpeg)
}
