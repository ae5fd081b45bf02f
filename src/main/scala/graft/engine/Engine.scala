package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table catalog for the graft engine.
  *
  * Design point: a 1000-executor cluster reading ~100 TB. Locally we run
  * `local[32]`, so shuffle parallelism is pinned to the core count instead
  * of Spark's default 200; on a real cluster AQE coalesces/splits post-
  * shuffle partitions at runtime, so the static setting only seeds the
  * initial plan. AQE is on everywhere (skew-join splitting + partition
  * coalescing are the 100-TB safety nets). Two places still turn it off:
  * the fixture floor below 1 GB ([[floorConfs]]) and the iterative loop
  * pins ([[withConfs]] in Dedup/Graph/g6_kcore).
  */
object Engine {

  /** The one SparkSession factory, for Bench, Verify and every dev tool
    * under `graft.tools`:
    *   - `local[$SPARK_GRAFT_CPUS]` (default: every core), with shuffle
    *     parallelism pinned to the same count, AQE on, UTC, UI off;
    *   - then `confs`, then the `SPARK_EXTRA_CONF` entries (A/B
    *     overrides), all at builder time so static keys work too; a
    *     refused `SPARK_EXTRA_CONF` key exits 2 before the session starts;
    *   - then [[fixtureFloorConfs]] and `spark.graft.streamResultMemo=
    *     false`, each skipping a key that `confs` or `SPARK_EXTRA_CONF`
    *     pinned.
    * perfbench's `Session.build` mirrors these builder confs.
    */
  def session(sfDir: String, confs: (String, String)*): SparkSession = {
    val extra = harnessExtraConfs()
    val cpus = harnessCpus.toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce small post-shuffle partitions to the advisory SIZE rather
      // than padding out to max parallelism: a reduce stage over a few MB
      // collapses to a couple of tasks instead of one per core (measured
      // 15-30% off every iterative query locally). The 8m advisory is
      // local[32]-at-sf0.1 tuning (sub-8m shuffles collapse to one task,
      // cutting per-stage scheduling floor); on a cluster leave the 64m
      // default, and the same conf yields production partitioning.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // whole-stage-codegen class cache sized for a multi-query session
      // (round 11): the default 100-entry LRU is evicted by any plan-heavy
      // query, after which every other query re-Janino-compiles all its
      // generated stages on its next execution (~1 s per affected query,
      // the whole measured "bench-context inflation"; 10000 entries
      // restored isolated-best times with other queries interleaved). The
      // cache holds weak-referenced generated classes, so the cost is
      // bounded. JVM-static: must be set at builder time.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    val pinned = confs ++ extra
    pinned.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    val pinnedKeys = pinned.map(_._1).toSet
    fixtureFloorConfs(spark, sfDir, pinnedKeys)
    // harness runs measure REAL streaming execution (round 11): with the
    // session-scoped result memo on, a repeat of a streaming query reads
    // its memoized sink, so best-of-N would time parquet readback, not
    // Structured Streaming. Library sessions keep the memo.
    if (!pinnedKeys.contains("spark.graft.streamResultMemo"))
      spark.conf.set("spark.graft.streamResultMemo", "false")
    // ERROR, not WARN: Bench's JSON contract line is parsed out of a
    // bounded TAIL of its output; stray WARNs (e.g. WindowExec partition
    // warnings) between the line and EOF eat the window (observed
    // consuming ~900 chars of round 4's artifact)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Local cores of a [[session]]: `SPARK_GRAFT_CPUS`, else every core. */
  def harnessCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Runs `body` and, in `finally`, unpersists every RDD that `body` left
    * persisted; RDDs persisted before it (the [[persistTables]] cache, the
    * warmed derived frames) stay. Iterative queries localCheckpoint their
    * FINAL frame, whose blocks outlive the query; across a full inventory
    * those leaked blocks add up to real executor-memory pressure (observed
    * as the iterative queries running 3x slower inside a full bench than
    * in isolation), so every per-query harness step runs inside this.
    */
  def releasing[T](s: SparkSession)(body: => T): T = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body
    finally s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Blocks until every listener event posted so far has been delivered.
    * The scheduler posts a job's stage and job events before the action
    * returns, so after an action this makes listener counters exact. The
    * listener bus is `private[spark]`, hence the reflection.
    */
  def drainListeners(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  /** Canonical testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table. The parquet SCHEMA is cached per
    * (dir, table) — across a full inventory run that removes ~150
    * redundant driver-side footer reads — but every call returns a FRESH
    * lineage: callers that self-join two derivations of one table (e.g.
    * sim_neardup_rerank) rely on independent attribute ids to dodge a
    * Spark 4.1 constraint-inference bug, and Spark's CacheManager matches
    * [[persistTables]]'s in-memory cache structurally, so fresh lineages
    * still hit it. Column pruning + filter pushdown are left to Catalyst.
    *
    * `events.ts` normalizes to TimestampType whatever the parquet file's
    * physical encoding is — the fixtures have shipped both TIMESTAMP(NANOS)
    * and timestamp[us] across regenerations, so the branch is on the
    * INFERRED schema, never on an assumed physical type:
    *   - nanos files (inferred LongType under `nanosAsLong`, which is set
    *     up front so inference can't throw): rebuild a µs timestamp with
    *     integer division — double division would lose precision
    *     (epoch-nanos > 2^53);
    *   - µs files inferred as TIMESTAMP_NTZ: cast to the session-UTC
    *     TimestampType (values identical; session timeZone is UTC);
    *   - already TimestampType: pass through.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // left set, not scoped: the returned lazy scan reads with it at execution
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.getOrElseUpdate((sfDir, name),
      spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    val typed = if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _                => raw
      }
    } else raw
    // The fixture files are SINGLE-row-group parquet, so the scan is one
    // input partition and every compute-heavy map op (image byte walks,
    // PCM parsing, regex batteries) runs on ONE core — measured 1.5-2 s
    // single-task stages in the bench. Spread small inputs across local
    // cores once, here, so the persistTables cache holds the repartitioned
    // blocks (the cache matches plans STRUCTURALLY — the repartition must
    // live in the canonical table plan or cached entries would never hit).
    // Partition count is per-table compute density, not size: documents/
    // embeddings rows carry regex batteries / 64-float vector math, the
    // row-keyed facts are shuffle-dominated (a few blocks suffice), and
    // the broadcast dims stay single-block (a shuffle there only adds a
    // stage). Size-gated: a production-scale input has many splittable
    // row groups and parallelizes at the scan, so it never pays this.
    val bytes = new java.io.File(path).length
    val np = math.min(fixtureParts.getOrElse(name, 1),
      spark.sparkContext.defaultParallelism)
    if (bytes > 0 && bytes < (256L << 20) && np > 1) typed.repartition(np)
    else typed
  }

  private val fixtureParts: Map[String, Int] = Map(
    "documents" -> 8, "embeddings" -> 8,
    "lineitem" -> 8, "orders" -> 4, "events" -> 4)

  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), org.apache.spark.sql.types.StructType]

  /** `SPARK_EXTRA_CONF="k=v;k=v"` as every [[session]] reads it (Bench,
    * Verify and the `graft.tools` mains): malformed entries
    * are reported on stderr and skipped. [[Ck.BypassKey]] is refused with
    * an IllegalArgumentException: it switches every checkpoint off, which
    * measures or grades a different engine (Pipeline's outputs, for one,
    * would be recomputed by every action).
    */
  def extraConfs(raw: Option[String], tag: String): Seq[(String, String)] = {
    val kvs = raw.toSeq.flatMap(_.split(";")).filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ =>
          System.err.println(s"[$tag] skipping malformed conf entry '$kv'")
          None
      }
    }
    require(!kvs.exists(_._1 == Ck.BypassKey),
      s"[$tag] refusing SPARK_EXTRA_CONF key ${Ck.BypassKey}: it turns " +
        "every checkpoint off and is reserved for tools.ExplainQ")
    kvs
  }

  /** [[extraConfs]] of the process environment for [[session]]: a
    * refused key exits the JVM with status 2 before the session starts.
    */
  private def harnessExtraConfs(): Seq[(String, String)] =
    try extraConfs(sys.env.get("SPARK_EXTRA_CONF"), "graft")
    catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage.stripPrefix("requirement failed: "))
      sys.exit(2)
    }

  /** Runs `body` with `confs` set on the session, and puts every key
    * back in `finally`: the old value if the key was set before, unset if
    * it was not. This is the one scope through which query and operator
    * code changes confs. "Set before" means explicitly set (present in
    * `conf.getAll`): `getOption` also answers with a registered key's
    * default, and writing that default back would leave a key set that
    * was never set. Confs are session-global, so scoped code is not safe
    * to run concurrently with other queries on one session.
    */
  def withConfs[T](s: SparkSession)(confs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val was = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally was.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Shuffle partitions at the fixture scheduling floor. Fixture-sized
    * shuffles are KB-scale, so this right-sizes the per-stage task count
    * the way AQE's coalescing would: the round-14 full-bench sweep at
    * sf0.1 measured 128.1 s (2) / 103.0 s (4) / 101.3 s (6) / 107.5 s
    * (8) — 2 serializes the CPU-dense banded/pair stages, 8+ pays pure
    * task floor.
    */
  val FloorParts = 6

  /** The fixture gate of [[fixtureFloorConfs]] and [[computeParts]]: the
    * source dir is under 1 GB (the idiom of [[table]]'s fixture
    * repartition) and `spark.graft.floorScope` is not `false` (cluster
    * deployments, plan-shape probes, FloorCheck's floor-off mode).
    */
  private def underFloorGate(s: SparkSession, sfDir: String): Boolean =
    s.conf.get("spark.graft.floorScope", "true").toBoolean &&
      dirBytes(sfDir) < (1L << 30)

  /** The fixture-scale scheduling-floor confs for `sfDir`, empty over the
    * gate:
    *   - AQE off: AQE schedules stage-at-a-time, so every exchange is
    *     its own scheduler job (~0.1-0.2 s of local job floor each),
    *     and on KB-scale shuffles its runtime re-planning (skew splits,
    *     join switches) can never trigger;
    *   - [[FloorParts]] shuffle partitions;
    *   - uncompressed table cache: the [[persistTables]] cache is read
    *     by nearly every stage of every query; column compression buys
    *     nothing at <1 GB of heap-resident data and its decode tax is
    *     paid per cached read (round-14 full-bench A/B: 118.8 → 107.5 s
    *     from this conf alone).
    * Production-scale dirs keep AQE's skew-join and coalescing safety
    * nets and the compressed cache.
    */
  private[graft] def floorConfs(s: SparkSession, sfDir: String): Seq[(String, String)] =
    if (!underFloorGate(s, sfDir)) Nil
    else Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> FloorParts.toString,
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false")

  /** Applies [[floorConfs]] ONCE per session: [[session]] calls it for
    * every harness main, perfbench for its own session. Executed plans
    * stay exactly what a user running those session confs would get.
    * `skip` lets a harness exempt keys its caller already pinned (e.g.
    * SPARK_EXTRA_CONF A/B overrides).
    */
  def fixtureFloorConfs(s: SparkSession, sfDir: String,
                        skip: Set[String] = Set.empty): Unit =
    floorConfs(s, sfDir).foreach { case (k, v) =>
      if (!skip.contains(k)) s.conf.set(k, v)
    }

  /** Parallelism for CPU-DENSE pinned exchanges (round 14). The fixture
    * floor right-sizes the 300+ shuffle/floor-bound queries at
    * [[FloorParts]], but stages doing real per-row compute (banded rank
    * windows, in-basket pair generation) leave cores idle at the floor:
    * a 6/12/24-way A/B on the banded stat family measured 12 as the
    * knee at 32 local cores (stat_levene 1.13 → 0.83 s, ml_ks 0.94 →
    * 0.67, stat_spearman 0.82 → 0.60; 24 ≈ 12). So, under the fixture
    * gate: 2× the floor, bounded by local cores but never below the
    * floor. Over the gate (production inputs) it is the plain session
    * setting: cluster plans keep user/AQE-controlled parallelism.
    */
  def computeParts(s: SparkSession, sfDir: String): Int =
    if (underFloorGate(s, sfDir))
      math.max(FloorParts, math.min(2 * FloorParts, s.sparkContext.defaultParallelism))
    else s.conf.get("spark.sql.shuffle.partitions").toInt

  private def dirBytes(sfDir: String): Long =
    dirBytesCache.getOrElseUpdate(sfDir, {
      val d = new java.io.File(sfDir)
      val files = Option(d.listFiles()).getOrElse(Array.empty)
      files.filter(_.isFile).map(_.length).sum
    })

  private val dirBytesCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Persist + materialize every testdata table once, so an inventory run
    * (Verify / Bench: the full inventory over 10 tables) amortizes one scan per
    * table instead of re-reading parquet per query. This is a SMALL-SF
    * harness amortization, not the 100 TB posture — at scale you keep the
    * parquet scans (pushdown + pruning beat caching a table that doesn't
    * fit memory); nothing in the query plans depends on it.
    */
  def persistTables(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      // NEVER let one bad table zero a whole run: round 3 died at startup
      // because a fixture regeneration broke a single table's load inside
      // this loop, taking all 247 graded queries down with it. A table
      // that fails to persist is skipped — queries touching it fail
      // individually and loudly, everything else still grades.
      try table(spark, sfDir, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count()
      catch {
        // NonFatal only: an OutOfMemoryError / InterruptedException here
        // must abort the run, not limp on as a confusing per-table skip
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[engine] persistTables: skipping '$n' (${e.getMessage})")
      }
    }
}
