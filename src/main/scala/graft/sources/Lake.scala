package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.Tables.{r2, t}

/** Hive-style partitioned-lake layout — the storage discipline that makes
  * 100 TB scans affordable: data written under `col=value/` directories
  * so a filter on the partition column prunes whole directories at
  * planning time (complementing [[graft.BucketingSpec]]'s bucketed-join
  * layout: partitioning prunes SCANS, bucketing removes join SHUFFLES).
  *
  * The reference has no storage layout at all (one CSV in, one Excel
  * out); this is north-star scale surface, gated like wb1: a physical
  * write-then-read roundtrip whose final result the DuckDB oracle
  * recomputes from the source table directly, so a partition-boundary
  * bug (rows landing in the wrong directory, partition-column type
  * mangling) breaks the hash.
  *
  * Every layout is session scratch: it lives under
  * [[graft.GraftSession.scratchDir]], and [[graft.GraftSession.stop]]
  * removes it.
  */
object Lake {

  /** Control-plane filesystem handle for a layout path — the Hadoop
    * `FileSystem` API (the Workbook/Artifacts convention), so
    * every manifest / listing / vacuum below works identically against
    * `file:`, `hdfs:` or `s3a:` stores. Data-plane I/O already goes
    * through `spark.read`/`write`; this closes the control-plane gap.
    */
  private def hfs(
      spark: SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Parquet part files directly under `dir`, as fully-qualified path
    * strings (empty when the directory does not exist yet). One listing
    * RPC — never a recursive tree walk.
    */
  private def listParquet(
      spark: SparkSession, dir: String): Set[String] = {
    val (fs, p) = hfs(spark, dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSet
  }

  /** Per-partition-directory parquet file counts under `root`, keyed by
    * the directory name with `prefix` stripped (`day=`/`month=`).
    */
  private def filesPerPartition(
      spark: SparkSession, root: String, prefix: String): Map[String, Long] = {
    val (fs, p) = hfs(spark, root)
    fs.listStatus(p).filter(_.isDirectory)
      .map(d => d.getPath.getName.stripPrefix(prefix) ->
        fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet")).toLong)
      .toMap
  }

  /** Write events partitioned by event_type, read back ONE partition, and
    * summarize it. The read's filter must resolve at planning time
    * against the directory layout (PlanSpec asserts `PartitionFilters`
    * carries the predicate and the data filters are empty — directory
    * pruning, not row filtering).
    */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame =
    prunedScan(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        r2(sum(col("value"))).as("total_value"))
      .orderBy("event_type")

  /** The write-then-pruned-read half of [[partitionedRoundtrip]] — ONE
    * definition, so the scan LakeSpec pins (PartitionFilters, no pushed
    * data filter) is the same plan the gate aggregates over.
    */
  private[graft] def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    val out = GraftSession.scratchDir(spark, "events_by_type")
    t(spark, dir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    spark.read.parquet(out).filter(col("event_type") === "click")
  }

  /** Small-files control: repartition to an explicit file budget before
    * writing — the operational knob that keeps a 1000-executor job from
    * emitting a million KB-sized files (and the reverse: one giant file
    * per partition). Returns the written path; LakeSpec asserts the
    * file count equals the budget.
    */
  def compactedWrite(df: DataFrame, name: String, numFiles: Int): String = {
    val out = GraftSession.scratchDir(df.sparkSession, name)
    df.repartition(numFiles).write.mode("overwrite").parquet(out)
    out
  }

  /** Bits per dimension of the z-value: 16 bits x 2 dims = 32-bit keys,
    * plenty of layout resolution (65 536 cells per axis) while keeping
    * every intermediate long exact in both engines.
    */
  private val ZBits = 16

  /** Morton/Z-order interleave of two [0, 2^16) cell indices: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. Built as a static
    * sum of 32 codegen-friendly mask-and-scale terms (Spark's shift
    * functions take only literal distances; multiplying the extracted
    * bit by the literal 2^position is the same operation and folds into
    * whole-stage codegen).
    */
  private[graft] def zInterleave(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      when(a.bitwiseAND(lit(1L << i)) =!= 0L, lit(1L << (2 * i))).otherwise(0L) +
        when(b.bitwiseAND(lit(1L << i)) =!= 0L, lit(1L << (2 * i + 1))).otherwise(0L)
    }.reduce(_ + _)

  /** [[zInterleave]]'s DuckDB twin, generated from the same loop so the
    * two bit layouts cannot drift.
    */
  private def sqlZInterleave(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(CASE WHEN ($a & ${1L << i}) != 0 THEN ${1L << (2 * i)} ELSE 0 END + " +
        s"CASE WHEN ($b & ${1L << i}) != 0 THEN ${1L << (2 * i + 1)} ELSE 0 END)"
    }.mkString(" + ")

  /** Scale a value into its [0, 2^16) cell index by min/max position —
    * exact-integer after the floor, identical in both engines (the one
    * double product is the same IEEE expression).
    */
  private def zCell(v: Column, mn: Column, mx: Column): Column =
    when(mx === mn, 0L).otherwise(
      floor((v.cast("double") - mn) / (mx - mn) * lit((1 << ZBits) - 1))
        .cast("long"))

  /** lake2 — the z-order clustering key: each event's Morton code over
    * the (user_id, value) plane. Sorting a 100 TB table by this ONE key
    * makes parquet row-group min/max ranges tight on BOTH dimensions at
    * once, so 2-D range predicates skip most of the file — the classic
    * lake-layout optimization for multi-column point/range lookup
    * (LakeSpec proves the skipping against real parquet footers; this
    * gate pins the key itself bit-for-bit). Corpus-wide min/max come
    * from one broadcast 1-row aggregate; the interleave is scan-local.
    */
  /** `df` with a `zvalue` Morton key over (user_id, value) — the ONE
    * definition of the clustering key, consumed by [[zorderKeys]] (the
    * gate) and [[writeZOrdered]] (the layout): a scaling or bit-budget
    * change cannot desynchronize the written layout from the gated key.
    */
  private[graft] def withZKey(df: DataFrame): DataFrame = {
    val stats = df.agg(
      min(col("user_id")).as("mnu"), max(col("user_id")).as("mxu"),
      min(col("value")).as("mnv"), max(col("value")).as("mxv"))
    df.join(broadcast(stats))
      .withColumn("zvalue", zInterleave(
        zCell(col("user_id"), col("mnu"), col("mxu")),
        zCell(col("value"), col("mnv"), col("mxv"))))
      .drop("mnu", "mxu", "mnv", "mxv")
  }

  // Width pin (the shingledOf precedent): a single-row-group events
  // parquet would run the 64-term interleave projection — and the range
  // sampler's replay of it — as one task. The pin feeds both the stats
  // aggregate (map-side partials) and the keyed projection; min/max and
  // the Morton code are exact integers, so the result is
  // order-insensitive.
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    withZKey(graft.Tables.wide(
        t(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("value")),
        col("event_id")))
      .select(col("event_id"), col("zvalue"))
      .orderBy("event_id")

  /** Write `df` clustered by the z-order of (user_id, value) — the layout
    * side of [[zorderKeys]]: range-partition then sort by the Morton code
    * so every output file and row group covers a compact rectangle of the
    * 2-D space. `repartitionByRange` keeps file z-ranges DISJOINT at any
    * partition count, which is all the row-group-skipping argument needs
    * — so `numPartitions` defaults to the session's shuffle-partition
    * setting (a 1000-executor compaction writes in parallel; one global
    * range partition would serialize the whole sort through one task).
    * `rowGroupBytes` is exposed for LakeSpec to force many small row
    * groups on tiny test data; production leaves the default.
    */
  private[graft] def writeZOrdered(df: DataFrame, name: String,
      rowGroupBytes: Long = 128L * 1024 * 1024,
      numPartitions: Int = 0): String = {
    val out = GraftSession.scratchDir(df.sparkSession, name)
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    withZKey(df)
      .repartitionByRange(n, col("zvalue"))
      .sortWithinPartitions("zvalue")
      .drop("zvalue")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(out)
    out
  }

  /** lake3 — incremental watermark ingest: consume only the day
    * partitions strictly newer than the recorded high-water mark — the
    * nightly "process what arrived since last run" batch every scheduled
    * pipeline is built on. The layout is day-partitioned (the standard
    * ingest-time key); the watermark here is derived as "14 days past
    * the first observed partition", standing in for the value a real
    * scheduler persists in its run metadata.
    *
    * Scale: resolving the watermark is a control-plane read (the
    * partition-values listing); the increment scan carries
    * `day > watermark` as a planning-time literal, so whole directories
    * prune before any I/O (LakeSpec pins the predicate into
    * PartitionFilters with nothing row-level pushed).
    */
  def incrementalRead(spark: SparkSession, dir: String): DataFrame = {
    val scan = incrementalScan(spark, dir)
    scan
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        r2(sum(col("value"))).as("total_value"))
      .orderBy("day")
  }

  /** The write → watermark → pruned-increment-scan half of [[incrementalRead]]
    * (ONE definition, so LakeSpec pins the same plan the gate runs).
    */
  private[graft] def incrementalScan(spark: SparkSession, dir: String): DataFrame = {
    val out = GraftSession.scratchDir(spark, "events_by_day")
    // Keyed width pin on the ingest write: a single-row-group scan would
    // funnel every day's file through one dynamic-partitioning writer
    // task. Hashing on `day` keeps one writer per day (same file count,
    // parallel writers); within-file row order becomes fetch-ordered,
    // which only the rounded value sum could see — the ulp class the
    // cross-engine gate already absorbs.
    graft.Tables.wide(
        t(spark, dir, "events").withColumn("day", to_date(col("ts"))),
        col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // control-plane watermark: only the partition column is touched
    // (empty data-column ReadSchema), one value ships to the driver
    val wm = spark.read.parquet(out)
      .select(col("day")).distinct()
      .agg(date_add(min(col("day")), 14)).head().getDate(0)
    spark.read.parquet(out).filter(col("day") > lit(wm))
  }

  /** lake4 — small-file compaction: rewrite a fragmented day-partitioned
    * layout (25-row files — the "streaming ingest left ten thousand tiny
    * files" pathology) into a compacted one (100-row budget), and report
    * per day the row count and the ACTUAL file counts listed from both
    * layouts. The gate is physical: the oracle recomputes what the
    * listing MUST say (`ceil(rows/25)` and `ceil(rows/100)` — each day
    * is written by exactly one task, so `maxRecordsPerFile` rolls files
    * at exact row boundaries), so a compaction that leaves stragglers,
    * splits a day across tasks, or drops rows breaks the hash. Budgets
    * are rows, not bytes, precisely so the oracle CAN recompute them;
    * the production knob is the same pair of writer options with a
    * bytes-derived record budget.
    *
    * Scale: compaction is one shuffle keyed on the partition column (each
    * day lands wholly in one task), file rolling is writer-local, and the
    * listings are control-plane directory reads.
    */
  def compactionReport(spark: SparkSession, dir: String): DataFrame = {
    // Budgets scale with the corpus (total/400 rows per fragment file,
    // floored at 25) so the demonstrated pathology stays ~400 fragment
    // files at any sf instead of growing linearly with data (a fixed 25
    // put 4 000 files on disk at sf0.1). The sizing
    // count is a control-plane scan (no shuffle, column-less).
    val total = t(spark, dir, "events").count()
    val fragTarget = math.max(25L, math.ceil(total / 400.0).toLong)
    val target = 4L * fragTarget
    val ev = t(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .withColumn("day", to_date(col("ts")))
    // NUMERIC repartition: days still land wholly in one partition
    // (hash on day), so single-writer-per-day and the per-day file
    // counts are unchanged — but the writers run `defaultParallelism`
    // wide instead of letting AQE's bytes-based coalescing serialize
    // the file churn (5.8 → ~2 s at sf0.1).
    val writers = spark.sparkContext.defaultParallelism
    val frag = GraftSession.scratchDir(spark, "events_frag")
    ev.repartition(writers, col("day"))
      .write.mode("overwrite").partitionBy("day")
      .option("maxRecordsPerFile", fragTarget).parquet(frag)
    val compacted = GraftSession.scratchDir(spark, "events_compact")
    spark.read.parquet(frag)
      .repartition(writers, col("day"))
      .write.mode("overwrite").partitionBy("day")
      .option("maxRecordsPerFile", target).parquet(compacted)
    val before = filesPerPartition(spark, frag, "day=")
    val after = filesPerPartition(spark, compacted, "day=")
    import spark.implicits._
    val listing = before.keys.toSeq.sorted
      .map(d => (java.sql.Date.valueOf(d), before(d), after(d)))
      .toDF("day", "files_before", "files_after")
    spark.read.parquet(compacted)
      .groupBy("day").agg(count(lit(1)).as("n_rows"))
      .join(listing, "day")
      .select(col("day"), col("n_rows"), col("files_before"),
        col("files_after"))
      .orderBy("day")
  }

  /** lake5 — manifest-based time travel: the snapshot-isolation mechanism
    * every table format (Delta/Iceberg/Hudi) rests on, built from its
    * primitives. Version 1 writes the first 15 days of events; version 2
    * APPENDS the remainder into the same data directory; each commit
    * records an explicit FILE LIST manifest (`_manifests/v<N>.json`).
    * Reading "as of v1" loads exactly v1's manifest files — the appended
    * v2 files sit in the same directory and MUST be invisible — and the
    * gate hashes both versions' aggregates against the oracle's
    * recomputation from the raw events, so a manifest that leaks files
    * across versions (the snapshot-isolation bug) breaks the hash.
    *
    * Scale: an as-of read plans exactly the manifest's files — no
    * directory listing of the whole table.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = GraftSession.scratchDir(spark, "events_versions")
    val dataDir = s"$root/data"
    val (fs, rootP) = hfs(spark, root)
    val manifestDir = new org.apache.hadoop.fs.Path(rootP, "_manifests")
    val ev = t(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .withColumn("day", to_date(col("ts")))
    val cut = ev.agg(date_add(min(col("day")), 15)).head().getDate(0)
    def listData(): Set[String] = listParquet(spark, dataDir)
    // v1 commit: first 15 days; v2 commit: append the remainder
    fs.mkdirs(rootP)
    fs.delete(new org.apache.hadoop.fs.Path(dataDir), true)
    ev.filter(col("day") <= lit(cut)).write.mode("append").parquet(dataDir)
    val v1Files = listData()
    ev.filter(col("day") > lit(cut)).write.mode("append").parquet(dataDir)
    val v2Files = listData()
    fs.mkdirs(manifestDir)
    def commit(v: Int, files: Set[String]): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(manifestDir, s"v$v.json"), true)
      try out.write(files.toSeq.sorted.mkString("[\"", "\",\"", "\"]")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    commit(1, v1Files)
    commit(2, v2Files)
    def asOf(v: Int): DataFrame = {
      val in = fs.open(new org.apache.hadoop.fs.Path(manifestDir, s"v$v.json"))
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val files = txt.stripPrefix("[\"").stripSuffix("\"]")
        .split("\",\"").toSeq
      spark.read.parquet(files: _*)
    }
    def report(v: Int): DataFrame = asOf(v)
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        r2(sum(col("value"))).as("total_value"))
      .select(lit(v.toLong).as("version"), col("n_events"), col("n_users"),
        col("total_value"))
    report(1).unionAll(report(2)).orderBy("version")
  }

  /** lake6 — schema-evolution read: generation 1 of the layout was
    * written BEFORE `event_type` existed; generation 2 carries it. The
    * mergeSchema read resolves the union schema and must fill the
    * missing column with nulls for gen-1 rows — the backfill-free column
    * addition every long-lived lake table depends on. The gate hashes
    * per-generation row counts, the null-`event_type` count (= all of
    * gen 1, none of gen 2) and user counts against the oracle's
    * recomputation from raw events, so a read that drops gen-1 rows,
    * misaligns columns by position, or invents non-null defaults breaks
    * the hash.
    *
    * Scale: schema resolution reads footers (per-file metadata, the
    * reason real tables keep the union schema in the manifest).
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = GraftSession.scratchDir(spark, "events_evolving")
    val ev = t(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
    val cut = ev.agg(date_add(min(col("day")), 15)).head().getDate(0)
    val (fs, rootP) = hfs(spark, root)
    fs.delete(rootP, true)
    ev.filter(col("day") <= lit(cut))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .write.parquet(s"$root/gen=1")
    ev.filter(col("day") > lit(cut))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        col("event_type"))
      .write.parquet(s"$root/gen=2")
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("event_type").isNull, 1)).as("n_null_event_type"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("gen")
  }

  /** lake7 — partition-layout evolution: migrate a day-partitioned
    * layout to MONTH partitioning (the repartitioning every aging table
    * eventually needs once daily directories become too granular for
    * its dominant query grain), and gate the migrated layout physically:
    * per month, the row count read back from the NEW layout plus the
    * actual file count from the directory listing — which must be
    * exactly 1, because the migration shuffles each month wholly into
    * one writer task (the single-writer-per-partition discipline,
    * lake4's shape at the coarser grain). The oracle recomputes monthly
    * counts from raw events, so rows lost or misrouted across the
    * month boundary break the hash.
    */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val dayRoot = GraftSession.scratchDir(spark, "events_mig_day")
    val monthRoot = GraftSession.scratchDir(spark, "events_mig_month")
    val ev = t(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("day").parquet(dayRoot)
    spark.read.parquet(dayRoot)
      .withColumn("month", date_format(col("day"), "yyyy-MM"))
      .drop("day")
      // numeric width, hash on month: each month still lands wholly in
      // one writer (the n_files == 1 gate), writers run wide (lake4 note)
      .repartition(spark.sparkContext.defaultParallelism, col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(monthRoot)
    val files = filesPerPartition(spark, monthRoot, "month=")
    import spark.implicits._
    val listing = files.toSeq.sortBy(_._1).toDF("month", "n_files")
    spark.read.parquet(monthRoot)
      .groupBy("month").agg(count(lit(1)).as("n_rows"))
      .join(listing, "month")
      .select(col("month"), col("n_rows"), col("n_files"))
      .orderBy("month")
  }

  /** lake8 — vacuum: reclaim files no live snapshot references. A real
    * table's data directory accumulates three kinds of files — those the
    * CURRENT manifest lists (live), those only EXPIRED snapshots list
    * (superseded by a compacting rewrite, kept only for time travel),
    * and files from ABORTED writes that never committed a manifest at
    * all. Vacuum is the control-plane diff `listing − live manifest`
    * followed by deletes; it is the one lake operation whose bug class
    * is catastrophic (deleting a live file corrupts the table
    * silently), so the gate is double-sided: the post-vacuum directory
    * listing must equal the live manifest's file count exactly, AND the
    * table read back through the live manifest must still reproduce the
    * full-corpus aggregates — proving nothing live was deleted and
    * nothing dead survived.
    *
    * Construction (all counts oracle-recomputable): v1 writes the first
    * 15 days round-robin at a 2000-row file budget (`max(2, ceil(n1/
    * 2000))` files — round-robin fills every partition, so the file
    * count is exact); v2 is a full compacted rewrite of ALL events into
    * the same directory (`max(2, ceil(n/2000))` new files) committing a
    * manifest that lists only them; an aborted job then drops 3 more
    * uncommitted files (`event_id % 97 = 0` rows, `repartition(3)`).
    * Retention here expires everything outside the latest manifest;
    * production systems add an age threshold before a file becomes
    * eligible — same diff, extra predicate.
    *
    * Scale: the candidate set comes from a directory listing and a
    * manifest read (control-plane only); the verification read plans
    * exactly the manifest's files.
    */
  def vacuum(spark: SparkSession, dir: String): DataFrame = {
    val root = GraftSession.scratchDir(spark, "events_vacuum")
    val dataDir = s"$root/data"
    val ev = t(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .withColumn("day", to_date(col("ts")))
    // One control-plane action: the per-day count histogram — bounded by
    // the table's day span — answers the cut (min day + 15), v1's row
    // count, and the total in a single aggregate. Null-day rows count
    // toward the total but not the cut/v1 window.
    val hist = ev.groupBy("day").agg(count(lit(1)).as("n")).collect()
      .map(r => (Option(r.getDate(0)), r.getLong(1)))
    val n = hist.map(_._2).sum
    // minOption: an empty (or all-null-ts) table must degrade to the old
    // shape — null cut, empty v1 — not throw on empty.min.
    val minDay = hist.flatMap(_._1.map(_.toLocalDate)).minOption(
      Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    val cut = minDay.map(d => java.sql.Date.valueOf(d.plusDays(15))).orNull
    val n1 = hist.collect {
      case (Some(d), c) if cut != null && !d.after(cut) => c
    }.sum
    val (fs, rootP) = hfs(spark, root)
    def listData(): Set[String] = listParquet(spark, dataDir)
    def budgetFiles(n: Long): Int = math.max(2L, math.ceil(n / 2000.0).toLong).toInt
    fs.mkdirs(rootP)
    fs.delete(new org.apache.hadoop.fs.Path(dataDir), true)
    // v1 commit: first 15 days. v2 commit: full compacted rewrite (the
    // OPTIMIZE that supersedes v1's files). Aborted append: no commit.
    val v1 = ev.filter(col("day") <= lit(cut))
    v1.repartition(budgetFiles(n1)).write.mode("append").parquet(dataDir)
    val v1Files = listData()
    ev.repartition(budgetFiles(n)).write.mode("append").parquet(dataDir)
    val v2Files = listData() -- v1Files
    t(spark, dir, "events").filter(col("event_id") % 97 === 0)
      .select(col("ts"), col("user_id"), col("value"))
      .repartition(3).write.mode("append").parquet(dataDir)
    // live = the latest committed manifest; everything else is eligible
    val live = v2Files
    val orphans = listData() -- live
    // per-file metadata deletes; at 100 TB this fans out as a
    // distributed foreach over the listing diff (same FS API per task)
    orphans.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), false))
    val after = listData()
    require(after == live, "vacuum invariant: listing != live manifest")
    val readBack = spark.read.parquet(live.toSeq.sorted: _*)
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        r2(sum(col("value"))).as("total_value"))
    readBack.select(
      lit(live.size.toLong).as("n_live_files"),
      lit(orphans.size.toLong).as("n_orphans_deleted"),
      lit(after.size.toLong).as("files_after_vacuum"),
      col("n_events"), col("n_users"), col("total_value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake8_vacuum" -> vacuum,
    "lake7_partition_evolution" -> partitionEvolution,
    "lake6_schema_evolution" -> schemaEvolution,
    "lake1_partitioned_roundtrip" -> partitionedRoundtrip,
    "lake2_zorder_keys" -> zorderKeys,
    "lake3_incremental_read" -> incrementalRead,
    "lake4_compaction" -> compactionReport,
    "lake5_time_travel" -> timeTravel
  )

  private def sqlZCell(v: String, mn: String, mx: String): String =
    s"CASE WHEN $mx = $mn THEN 0 ELSE " +
      s"CAST(floor((CAST($v AS DOUBLE) - $mn) / ($mx - $mn) * ${(1 << ZBits) - 1}) AS BIGINT) END"

  val oracle: Map[String, String] = Map(
    "lake2_zorder_keys" ->
      s"""WITH stats AS (
        |  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
        |    min(value) AS mnv, max(value) AS mxv
        |  FROM events),
        | cells AS (
        |  SELECT event_id,
        |    ${sqlZCell("user_id", "mnu", "mxu")} AS ca,
        |    ${sqlZCell("value", "mnv", "mxv")} AS cb
        |  FROM events CROSS JOIN stats)
        |SELECT event_id, ${sqlZInterleave("ca", "cb")} AS zvalue
        |FROM cells
        |ORDER BY event_id""".stripMargin,
    "lake1_partitioned_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |WHERE event_type = 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "lake8_vacuum" ->
      """WITH cut AS (SELECT min(ts::DATE) + 15 AS c FROM events),
        | n1 AS (SELECT count(*) AS v FROM events, cut WHERE ts::DATE <= c),
        | n AS (SELECT count(*) AS v FROM events),
        | live AS (SELECT greatest(2, CAST(ceil(v / 2000.0) AS BIGINT)) AS f
        |   FROM n),
        | dead AS (SELECT greatest(2, CAST(ceil(v / 2000.0) AS BIGINT)) + 3
        |   AS f FROM n1)
        |SELECT (SELECT f FROM live) AS n_live_files,
        |  (SELECT f FROM dead) AS n_orphans_deleted,
        |  (SELECT f FROM live) AS files_after_vacuum,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events""".stripMargin,
    "lake7_partition_evolution" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP)::DATE, '%Y-%m') AS month,
        |  count(*) AS n_rows, CAST(1 AS BIGINT) AS n_files
        |FROM events
        |GROUP BY 1
        |ORDER BY month""".stripMargin,
    "lake6_schema_evolution" ->
      """WITH cut AS (SELECT min(ts::DATE) + 15 AS c FROM events)
        |SELECT CASE WHEN ts::DATE <= c THEN 1 ELSE 2 END AS gen,
        |  count(*) AS n_rows,
        |  count(CASE WHEN ts::DATE <= c THEN 1 END) AS n_null_event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events, cut
        |GROUP BY 1
        |ORDER BY gen""".stripMargin,
    "lake5_time_travel" ->
      """WITH cut AS (SELECT min(ts::DATE) + 15 AS c FROM events)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    round(sum(value), 2) AS total_value
        |  FROM events, cut WHERE ts::DATE <= c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), count(*),
        |    CAST(count(DISTINCT user_id) AS BIGINT), round(sum(value), 2)
        |  FROM events)
        |ORDER BY version""".stripMargin,
    "lake4_compaction" ->
      """WITH p AS (
        |  SELECT greatest(25, CAST(ceil(count(*) / 400.0) AS BIGINT)) AS b1
        |  FROM events)
        |SELECT ts::DATE AS day, count(*) AS n_rows,
        |  CAST(ceil(count(*) / ((SELECT b1 FROM p) * 1.0)) AS BIGINT)
        |    AS files_before,
        |  CAST(ceil(count(*) / ((SELECT b1 FROM p) * 4.0)) AS BIGINT)
        |    AS files_after
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "lake3_incremental_read" ->
      """WITH wm AS (SELECT min(ts::DATE) + 14 AS w FROM events)
        |SELECT ts::DATE AS day, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events, wm
        |WHERE ts::DATE > w
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
  )
}
