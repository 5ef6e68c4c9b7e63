package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables.t
import graft.operators.Events
import graft.streaming.{AnomalyMonitor, MAnomaly, MEvent, SEvent, Sessionize, Streams}

/** Streaming semantics pinned against their batch twins on sf0.001:
  * the same declarative plan runs as a stream (memory sink,
  * processAllAvailable) and must reproduce the batch result.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** events written as several parquet files so the file stream source
    * produces multiple micro-batches (maxFilesPerTrigger=1) and the
    * watermark actually advances between batches.
    */
  private lazy val streamDir: String = {
    val dir = TestSpark.tempDir("graft-stream").toString
    t(spark, sf, "events")
      .repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def eventStream: DataFrame = {
    val schema = spark.read.parquet(streamDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
  }

  test("streaming tumbling windows (complete mode) == batch window() result") {
    val q = Streams.tumblingCounts(eventStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start_ms", "event_type").collect()
    val batch = Events.tumbling(spark, sf).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("stream-static enrichment join == batch left join, and is stateless") {
    import spark.implicits._
    // the dimension covers only part of the key space so the left-join
    // null-enrichment path is exercised, not just the happy path
    val dim = t(spark, sf, "events").select(col("user_id")).distinct()
      .filter(col("user_id") % 2 === 0)
      .withColumn("tier", when(col("user_id") % 4 === 0, "gold").otherwise("basic"))
    val q = Streams.enrichWithDim(eventStream, dim)
      .select(col("event_id"), col("user_id"), col("tier"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .start()
    val progress =
      try { q.processAllAvailable(); q.recentProgress.filter(_.numInputRows > 0) }
      finally q.stop()
    // stateless contract: no state store operator may appear — a join
    // that silently became stream-stream would hold unbounded state
    assert(progress.nonEmpty)
    assert(progress.forall(_.stateOperators.isEmpty),
      progress.map(_.stateOperators.mkString(",")).mkString(";"))
    val streamed = spark.table("enrich_out").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("tier"))).toSet
    val batch = Streams.enrichWithDim(t(spark, sf, "events"), dim)
      .select(col("event_id"), col("user_id"), col("tier")).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("tier"))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
    // both enrichment outcomes occur
    assert(streamed.exists(_._3 == null) && streamed.exists(_._3 != null))
  }

  test("stateful sessionization: single batch closes all but each user's open tail") {
    import spark.implicits._
    // Single file -> single micro-batch -> the in-batch fold sees each
    // user's full ordered history: every session except the final open one
    // per user is emitted, and must equal the batch session_window result.
    // (Multi-batch order is exercised separately; file listing order is not
    // time order, so cross-batch arrival order is not deterministic.)
    val oneDir = TestSpark.tempDir("graft-sess").toString
    t(spark, sf, "events").coalesce(1).write.mode("overwrite").parquet(oneDir)
    val schema = spark.read.parquet(oneDir).schema
    val events = spark.readStream.schema(schema).parquet(oneDir)
      .select(col("user_id"), col("ts"), col("value")).as[SEvent]
    val q = Sessionize.sessions(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sessions_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_ms"),
        r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events")))
    val batch = Events.sessions(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_ms"),
        r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events")))
    val batchSet = batch.toSet
    val nUsers = batch.map(_._1).distinct.length
    assert(streamed.nonEmpty)
    streamed.foreach(s => assert(batchSet.contains(s),
      s"streamed session $s not found in batch session_window result"))
    assert(streamed.length >= batch.length - nUsers)
  }

  test("sessionization == naive gap fold on seeded random in-order streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Random corpora in the dd5/gr5/t21 property convention. In-order
    // arrival (batches sliced from the globally ts-sorted stream) means
    // no late drops, so EVERY naive session must be emitted once two
    // sentinel batches push the watermark past all real sessions' gaps
    // (the timeout fires on the batch AFTER the watermark advances).
    val rnd = new scala.util.Random(17)
    val base = 1704103200000L
    val gap = Sessionize.DefaultGapMs
    for (trial <- 1 to 3) {
      val events = (1L to 4L).flatMap { u =>
        rnd.shuffle((0 until 400).toList).take(10 + rnd.nextInt(11))
          .map(min => SEvent(u, new java.sql.Timestamp(base + min * 60000L),
            math.rint(rnd.nextDouble() * 100) / 4))
      }.sortBy(_.ts.getTime)
      // naive per-user gap fold over the sorted history
      val naive = events.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
        val sorted = evs.sortBy(_.ts.getTime)
        val out = Seq.newBuilder[(Long, Long, Long, Long, Double)]
        var (start, last, n, tot) = (0L, Long.MinValue, 0L, 0.0)
        sorted.foreach { e =>
          val ms = e.ts.getTime
          if (n == 0L) { start = ms; last = ms; n = 1; tot = e.value }
          else if (ms < last + gap) { last = math.max(last, ms); n += 1; tot += e.value }
          else {
            out += ((u, start, last + gap, n, tot))
            start = ms; last = ms; n = 1; tot = e.value
          }
        }
        if (n > 0) out += ((u, start, last + gap, n, tot))
        out.result()
      }.toSet
      val cuts = (Seq(0, events.length) ++
        Seq.fill(3)(rnd.nextInt(events.length + 1))).distinct.sorted
      val input = MemoryStream[SEvent]
      val q = Sessionize.sessions(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName(s"rand_sessions_$trial")
        .start()
      try {
        cuts.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) { input.addData(events.slice(a, b)); q.processAllAvailable() }
        }
        val far = events.last.ts.getTime + 120 * 60000L
        input.addData(SEvent(999L, new java.sql.Timestamp(far), 0.0))
        q.processAllAvailable()
        input.addData(SEvent(999L, new java.sql.Timestamp(far + 60000L), 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val emitted = spark.table(s"rand_sessions_$trial").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_ms"),
          r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value")))
        .filter(_._1 != 999L).toSet
      assert(emitted == naive, s"trial $trial: " +
        s"missing ${naive -- emitted}, extra ${emitted -- naive}")
    }
  }

  test("stream-stream interval join == batch interval join") {
    // single file -> single micro-batch: both sides' state sees all rows,
    // so the join must emit exactly the batch result (multi-file runs shed
    // late files nondeterministically — file listing order != time order)
    val oneDir = TestSpark.tempDir("graft-ssj").toString
    t(spark, sf, "events").coalesce(1).write.mode("overwrite").parquet(oneDir)
    val schema = spark.read.parquet(oneDir).schema
    val stream = spark.readStream.schema(schema).parquet(oneDir)
    val q = Streams.clickPurchaseJoin(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("ssjoin_out").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    val batch = graft.operators.AsOf.intervalJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("sessionization drops cross-batch late events predating the open session (exact counts)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // MemoryStream gives EXACT control over micro-batch boundaries (file
    // listing order is not time order), so the late-drop branch at
    // Sessionize.update (event predating the open session's start) can be
    // pinned to an exact emitted-session set and dropped-event count.
    val base = 1704103200000L // 2024-01-01T10:00:00Z
    def ev(user: Long, minute: Int) =
      SEvent(user, new java.sql.Timestamp(base + minute * 60000L), 1.0)
    val input = MemoryStream[SEvent]
    val q = Sessionize.sessions(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions_out")
      .start()
    try {
      // Batch 1 (user 1): 10:00, 10:02 merge (gap 5m); 10:30 closes session
      // A [10:00, 10:07) and opens B. Watermark after the batch: 10:20.
      input.addData(ev(1, 0), ev(1, 2), ev(1, 30))
      q.processAllAvailable()
      // Batch 2: 10:05 is LATE — behind the watermark AND predating open
      // session B's start — and must be dropped, not merged. 10:32 extends
      // B; 10:50 closes B [10:30, 10:37) and opens C. Watermark -> 10:40.
      input.addData(ev(1, 5), ev(1, 32), ev(1, 50))
      q.processAllAvailable()
      // Batch 3 (user 2): advances the watermark to 11:20 (> C's 10:55
      // timeout, which fires on the NEXT batch); opens D at 11:30.
      input.addData(ev(2, 90))
      q.processAllAvailable()
      // Batch 4: 11:31 extends D (still open); the now-passed watermark
      // fires C's event-time timeout -> C [10:50, 10:55) emitted.
      input.addData(ev(2, 91))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("late_sessions_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_ms"),
        r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events"))).toSet
    def m(minute: Int) = base + minute * 60000L
    assert(emitted == Set(
      (1L, m(0), m(7), 2L),   // A — would differ if 10:05 were merged
      (1L, m(30), m(37), 2L), // B — n_events would be 3 if 10:05 survived
      (1L, m(50), m(55), 1L)))
    // Exact accounting: 8 input events = 5 emitted + 2 in open session D
    // + exactly 1 dropped late event.
    assert(emitted.toSeq.map(_._4).sum == 8L - 2L - 1L)
  }

  test("streaming anomaly monitor == batch ev10 across a micro-batch boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, hours: Long, v: Double) =
      MEvent(user, id, new java.sql.Timestamp(base + hours * 3600000L), v)
    // user 1: flat jittered history, a spike once n >= 10, a calm tail,
    // then a SAME-TIMESTAMP pair (spike + calm) — the RANGE-frame tie case
    val u1 = (1L to 11L).map(i => ev(i, 1, i, 10.0 + (i % 3) * 0.3)) ++
      Seq(ev(12, 1, 12, 50.0), ev(13, 1, 13, 10.3),
        ev(14, 1, 14, 50.0), ev(15, 1, 14, 10.1))
    // user 2: 12-hourly history long enough that the 7-day window evicts
    // its head before the planted negative spike arrives
    val u2 = (1L to 20L).map(i => ev(100 + i, 2, i * 12, 5.0 + (i % 4) * 0.2)) :+
      ev(130, 2, 252, -40.0)
    val all = u1 ++ u2

    val want = graft.operators.Events.anomaliesCore(all.toDF())
      .as[MAnomaly].collect().toSet
    assert(want.exists(_.event_id == 12L), want) // spike across the boundary
    assert(want.exists(_.event_id == 14L), want) // tied-timestamp spike
    assert(want.exists(_.event_id == 130L), want) // post-eviction spike

    val input = MemoryStream[MEvent]
    val q = AnomalyMonitor.anomalies(input.toDS())
      .writeStream.format("memory").queryName("anomon")
      .outputMode("append").start()
    try {
      // boundary splits user 1 mid-history (spike's window spans state
      // carried from batch 1) and user 2 pre-eviction
      input.addData(u1.take(9) ++ u2.take(10))
      q.processAllAvailable()
      input.addData(u1.drop(9) ++ u2.drop(10))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anomon").as[MAnomaly].collect().toSet
    assert(got == want, s"stream=$got batch=$want")
  }

  test("drift monitor scores the cumulative stream mix like the batch tail") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ref = Seq(("click", 50L), ("view", 50L), ("buy", 10L))
      .toDF("event_type", "n_ref")
    val reports = scala.collection.mutable.Map[Long, Seq[org.apache.spark.sql.Row]]()
    val input = MemoryStream[String]
    val q = Streams.driftMonitor(input.toDF().toDF("event_type"), ref) {
      (id, psi) => reports.synchronized { reports(id) = psi.collect().toSeq }
    }.start()
    try {
      input.addData(Seq.fill(30)("click") ++ Seq.fill(10)("view"))
      q.processAllAvailable()
      input.addData(Seq.fill(40)("view") ++ Seq.fill(5)("scroll"))
      q.processAllAvailable()
    } finally q.stop()

    // batch 0 scored only the first micro-batch's counts
    val expect0 = graft.operators.Stats.psiFromCounts(
      Seq(("buy", 10L, 0L), ("click", 50L, 30L), ("view", 50L, 10L))
        .toDF("event_type", "n_ref", "n_cur"), "event_type").collect().toSeq
    assert(reports(0L) == expect0, s"got ${reports(0L)}")
    // batch 1 is CUMULATIVE (complete-mode state), including the novel
    // category (n_ref=0) and the vanished one (n_cur=0), both finite
    val expect1 = graft.operators.Stats.psiFromCounts(
      Seq(("buy", 10L, 0L), ("click", 50L, 30L), ("scroll", 0L, 5L),
        ("view", 50L, 50L))
        .toDF("event_type", "n_ref", "n_cur"), "event_type").collect().toSeq
    assert(reports(1L) == expect1, s"got ${reports(1L)}")
    assert(expect1.forall(r => !r.getDouble(5).isInfinite && !r.getDouble(5).isNaN))
    // the ALARM paths, asserted on the live report directly (not just
    // batch-tail equality): the vanished category still has its row,
    // scores a strictly positive finite term, and the report's total PSI
    // — the number a threshold alert consumes — is finite
    val byKey = reports(1L).map(r => r.getString(0) -> r).toMap
    val vanished = byKey("buy")
    assert(vanished.getLong(2) == 0L) // n_cur: never seen on the stream
    assert(vanished.getDouble(5) > 0.0 && !vanished.getDouble(5).isInfinite)
    val novel = byKey("scroll")
    assert(novel.getLong(1) == 0L) // n_ref: absent from the pinned week
    assert(novel.getDouble(5) > 0.0 && !novel.getDouble(5).isInfinite)
    val totalPsi = reports(1L).map(_.getDouble(5)).sum
    assert(!totalPsi.isInfinite && !totalPsi.isNaN && totalPsi > 0.0)
  }

  test("rollup stream: sink-merged daily partials serve the exact batch weekly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(day: Int, h: Int) =
      new java.sql.Timestamp(86400000L * (19700 + day) + 3600000L * h)
    // values in exact halves so incremental merge sums == batch sums
    // bit-for-bit regardless of combine order
    val all = for {
      day <- 0 until 9; h <- Seq(1, 13)
      et <- Seq("click", "view")
    } yield (ts(day, h), et, (day * 2 + h % 2) * 0.5)
    // split MID-DAY across micro-batches: day partials must merge, not
    // just append
    val chunks = all.grouped(7).toSeq
    val stores = scala.collection.mutable.Map[Long, Seq[org.apache.spark.sql.Row]]()
    var last: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = graft.streaming.RollupStream.ingest(
      input.toDF().toDF("ts", "event_type", "value")) { (id, store) =>
      stores.synchronized { stores(id) = store.collect().toSeq; last = store }
    }.start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val batchDaily = graft.operators.Events
      .dailyPartialsOf(all.toDF("ts", "event_type", "value"))
    // the maintained store IS the batch daily aggregate over everything
    // ingested (set-compare: both frames are (day, type)-keyed)
    val gotStore = last.collect().map(_.toSeq).toSet
    assert(gotStore == batchDaily.collect().map(_.toSeq).toSet)
    // and the weekly serve from the store matches ev13's batch weekly
    val servedWeekly = graft.operators.Events.weeklyFromDaily(last)
      .collect().map(_.toSeq).toSeq
    val batchWeekly = graft.operators.Events.weeklyFromDaily(batchDaily)
      .collect().map(_.toSeq).toSeq
    assert(servedWeekly == batchWeekly)
    assert(servedWeekly.nonEmpty && stores.size == chunks.size)
  }

  test("rollup stream == batch daily aggregate on seeded random splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The merge is algebraic, so the batch daily aggregate is the exact
    // mirror under ANY slicing: random events (dyadic values keep sums
    // order-independent bit-for-bit), random cut points, shuffled order.
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val all = rnd.shuffle((0 until 60 + rnd.nextInt(40)).map { _ =>
        (new java.sql.Timestamp(
          86400000L * (19700 + rnd.nextInt(10)) + 3600000L * rnd.nextInt(24)),
          Seq("click", "view", "buy")(rnd.nextInt(3)), rnd.nextInt(40) / 4.0)
      }.toList)
      val cuts = (Seq(0, all.length) ++
        Seq.fill(3)(rnd.nextInt(all.length + 1))).distinct.sorted
      var last: org.apache.spark.sql.DataFrame = null
      val input = MemoryStream[(java.sql.Timestamp, String, Double)]
      val q = graft.streaming.RollupStream.ingest(
        input.toDF().toDF("ts", "event_type", "value")) { (_, store) =>
        last = store
      }.start()
      try cuts.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { input.addData(all.slice(a, b)); q.processAllAvailable() }
      } finally q.stop()
      val batchDaily = graft.operators.Events
        .dailyPartialsOf(all.toDF("ts", "event_type", "value"))
      assert(last.collect().map(_.toSeq).toSet ==
        batchDaily.collect().map(_.toSeq).toSet, s"trial $trial")
    }
  }

  test("volume monitor: incrementally merged store serves the exact batch dq4") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // dq4's fixture shape: steady 20-event days, a 2-event drop day, a
    // 42-event double-fire day; chunks split MID-DAY so day counts must
    // MERGE across micro-batches, not just append
    def day(d: Int, n: Int) = Seq.tabulate(n)(i =>
      new java.sql.Timestamp(1704067200000L + d * 86400000L + i * 1000L))
    val all = (0 until 10).flatMap(d => day(d, 20)) ++ day(10, 2) ++ day(11, 42)
    val reports = scala.collection.mutable.Map[Long, Seq[org.apache.spark.sql.Row]]()
    var last: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[java.sql.Timestamp]
    val q = graft.streaming.VolumeMonitor.ingest(
      input.toDF().toDF("ts")) { (id, report) =>
      reports.synchronized { reports(id) = report.collect().toSeq; last = report }
    }.start()
    try {
      all.grouped(17).foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val batch = graft.operators.Quality.volumeAnomalyReport(all.toDF("ts"))
    assert(last.collect().map(_.toSeq).toSeq ==
      batch.collect().map(_.toSeq).toSeq)
    // and the monitor actually alarms on the planted days in its final view
    val alarms = last.collect()
      .filter(r => !r.isNullAt(4) && r.getBoolean(4))
      .map(_.getAs[java.sql.Date]("day").toString).toSet
    assert(alarms == Set("2024-01-11", "2024-01-12"))
  }

  test("dsir stream: merged 256-bucket profile yields bit-equal batch weights") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "training data quality matters for the model"),
      (3L, "de", "der schnelle braune fuchs springt quick the"),
      (4L, "fr", "le renard brun rapide data the quick"),
      (5L, "en", ""), // empty doc: 0 tokens, null weight
      (6L, "de", "model data training the fox dog"))
    // 3 micro-batches; the shared tokens ("the", "quick", "data", "fox")
    // land the SAME buckets in multiple batches, so the store must MERGE
    // counts, not just append bucket rows
    val chunks = all.grouped(2).toSeq
    var last: org.apache.spark.sql.DataFrame = null
    var batches = 0
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DsirStream.ingest(
      input.toDF().toDF("doc_id", "lang", "text")) { (_, store) =>
      last = store; batches += 1
    }.start()
    try { chunks.foreach { c => input.addData(c); q.processAllAvailable() } }
    finally q.stop()
    assert(batches == chunks.size)
    val docs = all.toDF("doc_id", "lang", "text")
    // the maintained store IS the one-pass batch profile (set-compare:
    // both frames are bucket-keyed)
    val batchProfile = graft.operators.Enrichment
      .dsirProfileOf(graft.operators.Enrichment.dsirOcc(docs))
    assert(last.collect().map(_.toSeq).toSet ==
      batchProfile.collect().map(_.toSeq).toSet)
    // and weights derived FROM the merged store are bit-equal to the
    // batch d14 path: the log-ratio operands are exact integers, so the
    // profile's construction order cannot perturb a single ulp
    val streamed = graft.operators.Enrichment.dsirWeightsFrom(
        docs, graft.operators.Enrichment.dsirLogRatio(last),
        graft.operators.Enrichment.dsirOcc(docs))
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Enrichment.dsirWeightsCore(docs)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // planted structure: the empty doc has 0 tokens and a null weight,
    // every other doc has a finite one
    val byId = streamed.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(5L)(1) == 0L && byId(5L)(2) == null)
    assert(all.map(_._1).filter(_ != 5L).forall(id => byId(id)(2) != null))
  }

  test("dsir stream: random corpora, random splits, shuffled arrival — store equals batch profile") {
    // The fixed fixture above proves the mechanism; this proves the
    // ALGEBRA on seeded random structure: any partition of any corpus
    // into micro-batches, arriving in any order, must merge to the
    // one-pass profile (count addition is associative AND commutative,
    // so arrival order is immaterial — the property an ingest stream
    // actually relies on).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(1213)
    val words = Vector("data", "model", "train", "eval", "der", "quick",
      "le", "und", "the", "corpus", "token", "hash", "merge", "spark")
    for (trial <- 1 to 2) {
      val n = 12 + rnd.nextInt(12)
      val all = (1L to n).map(i => (i,
        Seq("en", "de", "fr")(rnd.nextInt(3)),
        Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")))
      // random chunk sizes, then SHUFFLED arrival order
      val chunks = rnd.shuffle(
        Iterator.unfold(all) { rest =>
          if (rest.isEmpty) None
          else Some(rest.splitAt(1 + rnd.nextInt(5)))
        }.toSeq)
      var last: org.apache.spark.sql.DataFrame = null
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.DsirStream.ingest(
        input.toDF().toDF("doc_id", "lang", "text")) { (_, store) => last = store }
        .start()
      try { chunks.foreach { c => input.addData(c); q.processAllAvailable() } }
      finally q.stop()
      val batchProfile = graft.operators.Enrichment.dsirProfileOf(
        graft.operators.Enrichment.dsirOcc(all.toDF("doc_id", "lang", "text")))
      assert(last.collect().map(_.toSeq).toSet ==
        batchProfile.collect().map(_.toSeq).toSet, s"trial $trial")
    }
  }

  test("dsir stream: empty and token-free micro-batches leave the store unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch 1 plants real counts; batch 2 has ONE doc with zero tokens
    // (punctuation-only text) — its delta is a 0-row profile, and the
    // full-outer merge must pass the store through intact, not null it
    val chunks = Seq(
      Seq((1L, "en", "alpha beta gamma"), (2L, "de", "beta delta")),
      Seq((3L, "en", "?!…")))
    var stores = Vector.empty[Set[Seq[Any]]]
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DsirStream.ingest(
      input.toDF().toDF("doc_id", "lang", "text")) { (_, store) =>
      stores :+= store.collect().map(_.toSeq).toSet
    }.start()
    try { chunks.foreach { c => input.addData(c); q.processAllAvailable() } }
    finally q.stop()
    assert(stores.size == 2)
    assert(stores(0).nonEmpty)
    assert(stores(1) == stores(0), "token-free batch must not perturb the store")
  }

  test("rollup merge keeps an all-null-value group's sum null, as batch does") {
    import spark.implicits._
    // batch sum(value) over an all-null group is null; the incremental
    // merge must preserve that (null only when BOTH sides are null), not
    // coalesce it to 0.0 — the store==batch equivalence above only
    // exercises non-null values, so pin the degenerate case directly
    def partials(rows: Seq[(java.sql.Timestamp, String, Option[Double])]) =
      graft.operators.Events.dailyPartialsOf(
        rows.toDF("ts", "event_type", "value"))
    def ts(day: Int) = new java.sql.Timestamp(86400000L * (19700 + day))
    val a = partials(Seq((ts(0), "click", None), (ts(1), "view", Some(2.0))))
    val b = partials(Seq((ts(0), "click", None), (ts(2), "buy", None)))
    val merged = graft.streaming.RollupStream.mergePartials(a, b)
      .collect().map(r => (r.getString(1), r)).toMap
    // both batches all-null for (day0, click): merged sv must stay null
    assert(merged("click").isNullAt(merged("click").fieldIndex("sv")))
    // one-sided groups pass through: null side stays null, value side keeps it
    assert(merged("buy").isNullAt(merged("buy").fieldIndex("sv")))
    assert(merged("view").getDouble(merged("view").fieldIndex("sv")) == 2.0)
    // and the batch twin agrees end-to-end on the union of both batches
    val batch = partials(
      Seq((ts(0), "click", None), (ts(1), "view", Some(2.0)),
        (ts(0), "click", None), (ts(2), "buy", None)))
    assert(merged.values.map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
  }

  test("streaming artifact sink checkpoints each micro-batch as reloadable JSON") {
    val srcDir = TestSpark.tempDir("graft-art-src").toString
    val outDir = TestSpark.tempDir("graft-art-out").toString
    // single file -> exactly one micro-batch -> exactly one batch=0 artifact
    t(spark, sf, "events").coalesce(1).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = graft.streaming.Streams.toArtifacts(stream, outDir).start()
    try { q.processAllAvailable() } finally q.stop()
    val reloaded = graft.sources.Artifacts.load(spark, s"$outDir/batch=0")
    assert(reloaded.count() == t(spark, sf, "events").count())
    assert(reloaded.columns.sorted.toSeq == Seq("event_id", "event_type", "value"))
  }

  test("streaming artifact sink: two micro-batches round-trip; batch replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val outDir = TestSpark.tempDir("graft-art-multi").toString
    // MemoryStream pins exact micro-batch boundaries: addData + process =
    // one batch, so the sink must produce batch=0 and batch=1 artifacts.
    val input = MemoryStream[(Long, String)]
    val q = Streams.toArtifacts(input.toDS().toDF("id", "v"), outDir).start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    def readBatch(id: Long): Set[(Long, String)] =
      graft.sources.Artifacts.load(spark, s"$outDir/batch=$id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(readBatch(0) == Set((1L, "a"), (2L, "b")))
    assert(readBatch(1) == Set((3L, "c")))
    // the re-read union of all batch artifacts equals the full input
    assert(readBatch(0) ++ readBatch(1) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // Idempotent replay: a failed epoch re-runs foreachBatch with the SAME
    // batch id and data. The batch-id-scoped overwrite must leave the
    // artifact identical — no duplicate rows, no appended files.
    graft.sources.Artifacts.store(
      Seq((3L, "c")).toDF("id", "v"), s"$outDir/batch=1")
    assert(readBatch(1) == Set((3L, "c")))
    assert(readBatch(0) ++ readBatch(1) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("dropDuplicatesWithinWatermark removes planted duplicates") {
    // duplicates written into the SAME files so each copy lands in the same
    // micro-batch (a second stream's copies would arrive behind the
    // watermark and be dropped as late data, not as duplicates)
    // single file -> single micro-batch: isolates dedup semantics from
    // late-arrival dropping (file listing order is not time order, so
    // multi-file runs would shed whole files as late data)
    val dupDir = TestSpark.tempDir("graft-dups").toString
    val base = t(spark, sf, "events")
    base.union(base).coalesce(1)
      .write.mode("overwrite").parquet(dupDir)
    val schema = spark.read.parquet(dupDir).schema
    val withDups = spark.readStream.schema(schema).parquet(dupDir)
    val q = Streams.dedupWithinWatermark(withDups)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val n = spark.table("dedup_out").count()
    val expected = t(spark, sf, "events").count()
    assert(n == expected)
  }

  test("streaming corpus ingest: quality gate + cross-batch fingerprint dedup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704103200000L // 2024-01-01T10:00:00Z
    def ts(minute: Int) = new java.sql.Timestamp(base + minute * 60000L)
    val good = "The quick brown fox jumps over the lazy dog and then the " +
      "fox runs into the quiet forest where it finds food and water for the day."
    val good2 = "A completely different sentence about the weather and the " +
      "ocean with many common words that score well for the quality bar today."
    val junk = "!!!! 12345 @@@@"
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.corpusIngest(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out")
      .start()
    try {
      // Batch 1: one fluent doc (passes), one junk doc (fails the bar).
      input.addData((1L, ts(0), good), (2L, ts(1), junk))
      q.processAllAvailable()
      // Batch 2: a verbatim re-crawl of doc 1 (same fingerprint, inside
      // the watermark horizon -> suppressed) and a genuinely new doc.
      input.addData((3L, ts(2), good), (4L, ts(3), good2))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ingest_out").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))
    assert(out.forall(_.getAs[Double]("quality") >= 0.5))
    assert(out.forall(_.getAs[String]("lang_detected") == "en"))

    // The BATCH twin (pipe2, oracle-gated) must agree with the streamed
    // result on the same corpus: for in-order arrivals the stream's
    // keep-first-arrival and the batch twin's keep-min-doc_id pick the
    // same survivor per fingerprint — arrival order is the only intended
    // divergence, and a batch table has none.
    val dir = TestSpark.tempDir("graft-pipe2-twin").toString
    Seq((1L, good), (2L, junk), (3L, good), (4L, good2))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val batch = graft.engine.Pipelines.ingestBatch(spark, dir).collect()
    assert(batch.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
    assert(batch.map(_.getAs[Long]("doc_id")).toSet ==
      out.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("streaming split tag equals the batch d11 assignment per document") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704103200000L
    def ts(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    val corpus = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog today"),
      (2L, "web", "a second document with entirely different words inside"),
      (3L, "books", "chapter one of a long book about mountains and rivers"),
      (4L, "books", "the quick brown fox jumps over the lazy dog today"),
      (5L, "web", "yet another crawl page discussing weather and tides"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "source", "text")
    val q = Streams.splitTag(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("split_out")
      .start()
    try {
      // split across two micro-batches: the tag must not depend on
      // batch boundaries or arrival order
      input.addData(corpus.take(2).zipWithIndex.map { case ((d, s, t2), i) =>
        (d, ts(i), s, t2) })
      q.processAllAvailable()
      input.addData(corpus.drop(2).zipWithIndex.map { case ((d, s, t2), i) =>
        (d, ts(10 + i), s, t2) })
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("split_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val batch = graft.operators.Enrichment
      .leakproofSplitCore(corpus.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(streamed.size == 5)
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // leakproofness: docs 1 and 4 share a fingerprint -> same split,
    // regardless of source or which micro-batch carried them
    assert(streamed(1L) == streamed(4L))
  }

  test("streaming SCD2 emits exactly the batch ev12 closed rows across a boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{MEvent, ScdChange, Scd2Stream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704103200000L
    def ts(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    // user 1: A A B B A — repeats must collapse even when the boundary
    // splits an open run (events 3 and 4 carry the same value across it);
    // user 2: an open row plus a later absorbed repeat (event 8)
    val events = Seq(
      MEvent(1L, 1L, ts(0), 5.0), MEvent(1L, 2L, ts(1), 5.0),
      MEvent(1L, 3L, ts(2), 7.0), MEvent(1L, 4L, ts(3), 7.0),
      MEvent(1L, 5L, ts(4), 5.0), MEvent(2L, 6L, ts(0), 9.0),
      MEvent(2L, 8L, ts(5), 9.0))

    val batch = graft.operators.Events.scd2Core(
      events.toDF().select(col("user_id"), col("event_id"), col("ts"),
        col("value"))).collect()
    val wantClosed = batch.filter(!_.isNullAt(4)).map(r =>
      ScdChange(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(wantClosed.map(_.event_id) == Set(1L, 3L))

    val input = MemoryStream[MEvent]
    val q = Scd2Stream.changes(input.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      input.addData(events.take(4)) // boundary inside the 7.0 run
      q.processAllAvailable()
      input.addData(events.drop(4))
      q.processAllAvailable()
      // an out-of-order arrival BETWEEN user 2's open start (t0) and its
      // absorbed repeat (t5) must be dropped as late data: the clock
      // advanced to t5 even though the open interval still starts at t0 —
      // flooring on valid_from would accept this and rewrite history
      input.addData(MEvent(2L, 9L, ts(2), 42.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scd2_out").as[ScdChange].collect().toSet
    assert(got == wantClosed, s"stream=$got batch=$wantClosed")
  }

  test("CDC SCD2: a delete in a later micro-batch closes the interval; re-open works") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{CdcEvent, CdcScd2Stream, ScdChange}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704103200000L
    def ts(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    val input = MemoryStream[CdcEvent]
    val q = CdcScd2Stream.changes(input.toDS())
      .writeStream.format("memory").queryName("cdc_scd2_out")
      .outputMode("append").start()
    def got() = spark.table("cdc_scd2_out").as[ScdChange].collect().toSet
    try {
      // batch 1: user 1 opens at t0; user 2's tombstone targets an absent
      // key — ev16's unmatched-delete no-op, nothing may emit for it
      input.addData(CdcEvent(1L, 1L, ts(0), 5.0, tombstone = false),
        CdcEvent(2L, 2L, ts(0), 0.0, tombstone = true))
      q.processAllAvailable()
      assert(got().isEmpty)
      // batch 2: the delete arrives a micro-batch LATER and must close
      // user 1's open interval at the tombstone's time
      input.addData(CdcEvent(1L, 3L, ts(2), 0.0, tombstone = true))
      q.processAllAvailable()
      assert(got() == Set(ScdChange(1L, 1L, ts(0).getTime, 5.0, ts(2).getTime)))
      // batch 3: a pre-delete straggler must stay dead (the clock outlives
      // the cleared open row), and a post-delete value re-opens the key...
      input.addData(CdcEvent(1L, 4L, ts(1), 9.0, tombstone = false),
        CdcEvent(1L, 5L, ts(4), 7.0, tombstone = false))
      q.processAllAvailable()
      assert(got() == Set(ScdChange(1L, 1L, ts(0).getTime, 5.0, ts(2).getTime)))
      // ...whose own later delete closes the SECOND interval at its time
      input.addData(CdcEvent(1L, 6L, ts(6), 0.0, tombstone = true))
      q.processAllAvailable()
      assert(got() == Set(
        ScdChange(1L, 1L, ts(0).getTime, 5.0, ts(2).getTime),
        ScdChange(1L, 5L, ts(4).getTime, 7.0, ts(6).getTime)))
    } finally q.stop()
  }

  test("CDC SCD2 == naive upsert/tombstone fold on seeded random in-order streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{CdcEvent, CdcScd2Stream, ScdChange}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Random upsert/tombstone sequences per key — small value alphabet to
    // hit the equal-value-extend branch, duplicate timestamps allowed.
    // Slicing follows the global (ts, event_id) order, so the per-batch
    // clock filter never drops anything and the stream's fold order
    // equals the naive mirror's exactly.
    val rnd = new scala.util.Random(43)
    val base = 1704103200000L
    for (trial <- 1 to 3) {
      var id = 0L
      val events = (1L to 4L).flatMap { u =>
        (0 until 10 + rnd.nextInt(9)).map { _ =>
          id += 1
          val tomb = rnd.nextInt(10) < 3
          CdcEvent(u, id, new java.sql.Timestamp(base + rnd.nextInt(60) * 60000L),
            if (tomb) 0.0 else 1.0 + rnd.nextInt(2), tombstone = tomb)
        }
      }.sortBy(e => (e.ts.getTime, e.event_id))
      // naive mirror of the documented fold (close on tombstone, open on
      // value, extend on equal value, close+reopen on changed value)
      val naive = events.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
        val out = Seq.newBuilder[ScdChange]
        var open: Option[(Long, Long, Double)] = None // (event_id, from_ms, value)
        evs.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          val ms = e.ts.getTime
          (open, e.tombstone) match {
            case (Some((oid, from, v)), true) =>
              out += ScdChange(u, oid, from, v, ms); open = None
            case (None, true) => ()
            case (None, false) => open = Some((e.event_id, ms, e.value))
            case (Some((_, _, v)), false) if e.value == v => ()
            case (Some((oid, from, v)), false) =>
              out += ScdChange(u, oid, from, v, ms)
              open = Some((e.event_id, ms, e.value))
          }
        }
        out.result()
      }.toSet
      val cuts = (Seq(0, events.length) ++
        Seq.fill(4)(rnd.nextInt(events.length + 1))).distinct.sorted
      val input = MemoryStream[CdcEvent]
      val q = CdcScd2Stream.changes(input.toDS())
        .writeStream.format("memory").queryName(s"cdc_rand_$trial")
        .outputMode("append").start()
      try cuts.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { input.addData(events.slice(a, b)); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(s"cdc_rand_$trial").as[ScdChange].collect().toSet
      assert(got == naive, s"trial $trial: missing ${naive -- got}, " +
        s"extra ${got -- naive}")
    }
  }

  test("streaming SCD2 == batch closed rows on seeded random streams and slicings") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{MEvent, ScdChange, Scd2Stream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(2026)
    val base = 1704103200000L
    for (trial <- 0 until 3) {
      // tiny value domain forces plenty of repeat runs; in-order per user
      val events = (1 to 2).flatMap { u =>
        (0 until 8 + rnd.nextInt(6)).map { i =>
          MEvent(u.toLong, (u * 100 + i).toLong,
            new java.sql.Timestamp(base + i * 60000L),
            (1 + rnd.nextInt(3)).toDouble)
        }
      }
      val want = graft.operators.Events.scd2Core(
          events.toDF().select(col("user_id"), col("event_id"), col("ts"),
            col("value"))).collect()
        .filter(!_.isNullAt(4))
        .map(r => ScdChange(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSet
      val cut = 1 + rnd.nextInt(events.size - 1)
      val input = MemoryStream[MEvent]
      val q = Scd2Stream.changes(input.toDS())
        .writeStream.format("memory").queryName(s"scd2_rnd_$trial")
        .outputMode("append").start()
      try {
        input.addData(events.take(cut))
        q.processAllAvailable()
        input.addData(events.drop(cut))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(s"scd2_rnd_$trial").as[ScdChange].collect().toSet
      assert(got == want, s"trial $trial cut=$cut: stream=$got batch=$want")
    }
  }

  test("streaming latest-state converges to the ev7 batch snapshot, even out of order") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.LEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704103200000L // 2024-01-01T10:00:00Z
    def ev(user: Long, id: Long, minute: Int, tpe: String, v: Double) =
      LEvent(user, id, new java.sql.Timestamp(base + minute * 60000L), tpe, v)
    val input = MemoryStream[LEvent]
    val q = Streams.latestState(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_out")
      .start()
    try {
      input.addData(ev(1, 10, 5, "view", 1.0), ev(2, 11, 1, "click", 2.0))
      q.processAllAvailable()
      // Batch 2 delivers user 1's OLDER event late — the snapshot must
      // not regress (state compares event time, not arrival order) —
      // and user 2's genuinely newer purchase, which must replace it.
      input.addData(ev(1, 9, 2, "view", 9.0), ev(2, 12, 7, "purchase", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits a user's current snapshot each batch that
    // touches it; event time only moves forward, so max(last_ts_ms) per
    // user IS the final state
    val fin = spark.table("latest_out").groupBy("user_id")
      .agg(max("last_ts_ms").as("last_ts_ms")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_ts_ms")).toMap
    assert(fin == Map(1L -> (base + 5 * 60000L), 2L -> (base + 7 * 60000L)))

    // The BATCH twin (ev7, oracle-gated) on the same four events must
    // produce exactly that snapshot.
    val dir = TestSpark.tempDir("graft-ev7-twin").toString
    Seq(ev(1, 10, 5, "view", 1.0), ev(2, 11, 1, "click", 2.0),
        ev(1, 9, 2, "view", 9.0), ev(2, 12, 7, "purchase", 3.0))
      // Tables.t decodes events.ts from nanosecond longs (the driver
      // parquet's TIMESTAMP(NANOS) shape) — write the twin fixture the
      // same way
      .toDF().select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    val batch = Events.latestState(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_ts_ms")).toMap
    assert(batch == fin)
  }

  test("latest-state == naive max-(ts,id) fold on fully shuffled random streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.LEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // latest-state is ORDER-FREE (max-(ts, event_id) fold), so the random
    // trial delivers a completely shuffled arrival order. Per-user
    // timestamps are kept DISTINCT: the memory sink accumulates one
    // snapshot per touching batch without the event_id, so equal-ts
    // snapshots would be indistinguishable in the assertion (the id
    // tie-break itself is pinned by the planted out-of-order test).
    val rnd = new scala.util.Random(37)
    val base = 1704103200000L
    val types = Seq("view", "click", "purchase")
    for (trial <- 1 to 3) {
      val events = (1L to 5L).flatMap { u =>
        rnd.shuffle((0 until 200).toList).take(6 + rnd.nextInt(10))
          .zipWithIndex.map { case (min, i) =>
            LEvent(u, u * 1000 + i, new java.sql.Timestamp(base + min * 60000L),
              types(rnd.nextInt(3)), rnd.nextInt(100) / 4.0)
          }
      }
      val shuffled = rnd.shuffle(events.toList)
      val cuts = (Seq(0, shuffled.length) ++
        Seq.fill(3)(rnd.nextInt(shuffled.length + 1))).distinct.sorted
      val input = MemoryStream[LEvent]
      val q = Streams.latestState(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName(s"latest_rand_$trial")
        .start()
      try cuts.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { input.addData(shuffled.slice(a, b)); q.processAllAvailable() }
      } finally q.stop()
      val fin = spark.table(s"latest_rand_$trial").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          u -> {
            val r = rows.maxBy(_.getAs[Long]("last_ts_ms"))
            (r.getAs[Long]("last_ts_ms"), r.getAs[String]("last_event_type"),
              r.getAs[Double]("last_value"))
          }
        }
      val naive = events.groupBy(_.user_id).map { case (u, evs) =>
        val top = evs.maxBy(e => (e.ts.getTime, e.event_id))
        u -> ((top.ts.getTime, top.event_type, top.value))
      }
      assert(fin == naive, s"trial $trial")
    }
  }

  test("TWAP stream: in-order micro-batches converge to the batch ev24 rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{TEvent, TwapStream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1704067200000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      TEvent(u, id, new java.sql.Timestamp(base + sec * 1000), v)
    // user 1: 10 held 900 s, spike 100 held 100 s, final event weightless
    // (TWAP 19, mean 40); user 2: single event (null TWAP). The batch
    // boundary splits user 1's hold mid-interval.
    val all = Seq(ev(1, 1, 0, 10.0), ev(1, 2, 900, 100.0),
      ev(1, 3, 1000, 10.0), ev(2, 4, 0, 55.0))
    val input = MemoryStream[TEvent]
    val q = TwapStream.twap(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("twap_out")
      .start()
    try {
      input.addData(all.take(1): _*)
      q.processAllAvailable()
      input.addData(all.drop(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits per batch; the max-n_events row per user is
    // the final snapshot
    val fin = spark.table("twap_out").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) => u -> rows.maxBy(_.getAs[Long]("n_events")) }
    val batch = graft.operators.Events
      .twapCore(all.toDF("user_id", "event_id", "ts", "value"))
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    Seq(1L, 2L).foreach { u =>
      val (s, b) = (fin(u), batch(u))
      assert(s.getAs[Long]("n_events") == b.getAs[Long]("n_events"))
      assert(s.getAs[Double]("span_s") == b.getAs[Double]("span_s"))
      assert(s.getAs[Double]("mean_value") == b.getAs[Double]("mean_value"))
      assert(s.isNullAt(s.fieldIndex("twap")) == b.isNullAt(b.fieldIndex("twap")))
      if (!s.isNullAt(s.fieldIndex("twap")))
        assert(s.getAs[Double]("twap") == b.getAs[Double]("twap"),
          s"user $u: stream=${s.getAs[Double]("twap")} batch=${b.getAs[Double]("twap")}")
    }
    assert(fin(1L).getAs[Double]("twap") == 19.0)
  }

  test("TWAP stream == batch twapCore on seeded random in-order streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{TEvent, TwapStream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Random histories (distinct seconds per user, dyadic values so the
    // exact-integer fold and the batch aggregate are bit-comparable),
    // random micro-batch cuts in time order; the final per-user snapshot
    // must equal the oracle-gated batch ev24 row on every field.
    val rnd = new scala.util.Random(31)
    val base = 1704067200000L
    for (trial <- 1 to 3) {
      val events = (1L to 5L).flatMap { u =>
        rnd.shuffle((0 until 2000).toList).take(1 + rnd.nextInt(12))
          .map(sec => TEvent(u, u * 10000 + sec,
            new java.sql.Timestamp(base + sec * 1000L), rnd.nextInt(400) / 4.0))
      }.sortBy(_.ts.getTime)
      val cuts = (Seq(0, events.length) ++
        Seq.fill(3)(rnd.nextInt(events.length + 1))).distinct.sorted
      val input = MemoryStream[TEvent]
      val q = TwapStream.twap(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName(s"twap_rand_$trial")
        .start()
      try cuts.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { input.addData(events.slice(a, b)); q.processAllAvailable() }
      } finally q.stop()
      val fin = spark.table(s"twap_rand_$trial").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) => u -> rows.maxBy(_.getAs[Long]("n_events")) }
      val batch = graft.operators.Events
        .twapCore(events.toDF("user_id", "event_id", "ts", "value"))
        .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
      assert(fin.keySet == batch.keySet, s"trial $trial users")
      batch.foreach { case (u, b) =>
        val s = fin(u)
        Seq("n_events", "span_s", "mean_value").foreach(c =>
          assert(s.getAs[Any](c) == b.getAs[Any](c), s"trial $trial user $u $c"))
        assert(s.isNullAt(s.fieldIndex("twap")) == b.isNullAt(b.fieldIndex("twap")),
          s"trial $trial user $u twap nullity")
        if (!b.isNullAt(b.fieldIndex("twap")))
          assert(s.getAs[Double]("twap") == b.getAs[Double]("twap"),
            s"trial $trial user $u twap")
      }
    }
  }

  test("VWAP stream: out-of-order micro-batches converge to the batch ev25 rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{VEvent, VwapStream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day0 = 1704067200000L // 2024-01-01T00:00Z
    def ev(tpe: String, offMs: Long, price: Double, qty: Long) =
      VEvent(tpe, new java.sql.Timestamp(day0 + offMs), price, qty)
    // "trade" day 1: small order at 10.00 dwarfed by a big one at 40.00
    // (VWAP hugs 40, mean 25); "trade" day 2: single fill; "ping":
    // all-zero quantity -> null VWAP. Batch 2 delivers an EARLIER
    // timestamp than batch 1 (out-of-order across the boundary) — the
    // integer-sum fold is order-proof, unlike the TWAP meter.
    val b1 = Seq(ev("trade", 3600000L, 40.0, 99L),
      ev("ping", 1000L, 5.0, 0L), ev("trade", 86400000L + 60000L, 7.5, 4L))
    // day-2 rebate at -0.125: a negative HALF-cent — cents must round
    // HALF_UP (-12.5 -> -13) on both engines, the Math.round trap
    val b2 = Seq(ev("trade", 60000L, 10.0, 1L), ev("ping", 2000L, 6.0, 0L),
      ev("trade", 86400000L + 120000L, -0.125, 4L))
    val input = MemoryStream[VEvent]
    val q = VwapStream.vwap(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("vwap_out")
      .start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("vwap_out").collect()
      .groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_ms")))
      .map { case (k, rows) => k -> rows.maxBy(_.getAs[Long]("n_events")) }
    val batch = graft.operators.Events.vwapCore(
        (b1 ++ b2).map(e => (e.event_type, e.ts, e.value,
          s"""{"k":${e.qty}}""")).toDF("event_type", "ts", "value", "props"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_ms")) -> r)
      .toMap
    assert(fin.keySet == batch.keySet, s"${fin.keySet} vs ${batch.keySet}")
    fin.foreach { case (k, s) =>
      val b = batch(k)
      assert(s.getAs[Long]("n_events") == b.getAs[Long]("n_events"), k)
      assert(s.getAs[Long]("total_qty") == b.getAs[Long]("total_qty"), k)
      assert(s.getAs[Double]("mean_value") == b.getAs[Double]("mean_value"), k)
      assert(s.isNullAt(s.fieldIndex("vwap")) == b.isNullAt(b.fieldIndex("vwap")), k)
      if (!s.isNullAt(s.fieldIndex("vwap")))
        assert(s.getAs[Double]("vwap") == b.getAs[Double]("vwap"),
          s"$k: stream=${s.getAs[Double]("vwap")} batch=${b.getAs[Double]("vwap")}")
    }
    val d1 = fin(("trade", day0))
    assert(d1.getAs[Double]("vwap") == 39.7 && d1.getAs[Double]("mean_value") == 25.0)
    // day 2: (750*4 - 13*4) cent-units / (8 qty * 100) = 3.685 exactly —
    // only if the rebate's -12.5 cents rounded to -13 in the stream too
    assert(fin(("trade", day0 + 86400000L)).getAs[Double]("vwap") == 3.685)
  }

  test("funnel stream: stage advances across micro-batches match batch ev6") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    def fe(u: Long, id: Long, s: Int, t: String) =
      graft.streaming.FEvent(u, id, ts(s), t)
    // user 1 completes the funnel across a batch split; user 2's first
    // click precedes any view (no credit) and its same-second click
    // fails strictly-after; user 3 purchases before ever viewing
    val b1 = Seq(fe(1, 1, 0, "view"), fe(1, 2, 5, "click"),
      fe(2, 3, 0, "click"), fe(2, 4, 5, "view"),
      fe(3, 5, 1, "purchase"))
    val b2 = Seq(fe(1, 6, 10, "purchase"),
      fe(2, 7, 5, "click"), fe(2, 8, 7, "click"),
      fe(3, 9, 2, "view"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
    val input = MemoryStream[graft.streaming.FEvent]
    val q = graft.streaming.FunnelStream.advances(input.toDS())
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.FunnelAdvance],
            _: Long) =>
          got.synchronized { got ++= batch.collect()
            .map(a => (a.user_id, a.stage, a.at_ms)) }
          ()
      }.start()
    try Seq(b1, b2).foreach { c => input.addData(c); q.processAllAvailable() }
    finally q.stop()
    def ms(s: Int) = 1700000000000L + s * 1000L
    assert(got.sorted.toList == List(
      (1L, 1, ms(0)), (1L, 2, ms(5)), (1L, 3, ms(10)),
      (2L, 1, ms(5)), (2L, 2, ms(7)),
      (3L, 1, ms(2))), got.sorted)
    // stage counts equal the batch ev6 funnel over the union
    val all = (b1 ++ b2).map(e => (e.user_id, e.event_type, e.ts))
      .toDF("user_id", "event_type", "ts")
    val batchCounts = graft.operators.Events.funnelCore(all).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n_users")).toMap
    val streamCounts = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(streamCounts == batchCounts.map { case (k, v) => (k, v) },
      s"$streamCounts vs $batchCounts")
  }

  test("funnel stream == batch funnelCore on seeded random in-order streams") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Random event histories (distinct seconds per user, so in-order
    // slicing preserves per-user order), random micro-batch cuts: the
    // streamed stage advances must be strictly monotone per user and
    // their stage counts must equal the oracle-gated batch funnel's.
    val rnd = new scala.util.Random(29)
    val types = Seq("view", "click", "purchase", "noise")
    for (trial <- 1 to 3) {
      val events = (1L to 6L).flatMap { u =>
        rnd.shuffle((0 until 300).toList).take(8 + rnd.nextInt(10))
          .map(s => graft.streaming.FEvent(u, u * 1000 + s,
            new java.sql.Timestamp(1700000000000L + s * 1000L),
            types(rnd.nextInt(types.length))))
      }.sortBy(_.ts.getTime)
      val cuts = (Seq(0, events.length) ++
        Seq.fill(3)(rnd.nextInt(events.length + 1))).distinct.sorted
      val got = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
      val input = MemoryStream[graft.streaming.FEvent]
      val q = graft.streaming.FunnelStream.advances(input.toDS())
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[graft.streaming.FunnelAdvance],
              _: Long) =>
            got.synchronized { got ++= batch.collect()
              .map(a => (a.user_id, a.stage, a.at_ms)) }
            ()
        }.start()
      try cuts.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { input.addData(events.slice(a, b)); q.processAllAvailable() }
      } finally q.stop()
      // strictly monotone per user: stages 1..k, strictly increasing times
      got.groupBy(_._1).foreach { case (u, adv) =>
        val byStage = adv.sortBy(_._2)
        assert(byStage.map(_._2) == (1 to byStage.length), s"trial $trial user $u")
        val times = byStage.map(_._3).toSeq
        assert(times.zip(times.drop(1)).forall { case (x, y) => x < y },
          s"trial $trial user $u times")
      }
      val all = events.map(e => (e.user_id, e.event_type, e.ts))
        .toDF("user_id", "event_type", "ts")
      val batchCounts = graft.operators.Events.funnelCore(all).collect()
        .map(r => r.getInt(0) -> r.getAs[Long]("n_users")).toMap
      val streamCounts = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(streamCounts == batchCounts.filter(_._2 > 0),
        s"trial $trial: $streamCounts vs $batchCounts")
    }
  }

  test("admission stream: copies bounce against earlier admissions, " +
      "intra-batch peers dedup, and verdicts are batch-split invariant") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango")
      .split(" ")
    def variant(pos: Int, w: String) = base.updated(pos, w).mkString(" ")
    val baseTxt = base.mkString(" ")
    val other = "completely unrelated words about nothing in particular here"
    val other2 = "another disjoint set of terms sharing no shingles at all"
    // doc 9 is the bounced-peer chain case: its ONLY >=0.7 match in its
    // batch is doc 4 (jaccard ~0.81), but 4 itself bounces as a near-dup
    // of 1 — and 9 vs 1 is ~0.65, below the bar. A one-per-batch replay
    // never has 4 in the index, so 9 must be UNIQUE; crediting a
    // bounced peer would wrongly call it near(4).
    val docs = Seq(
      1L -> baseTxt, 2L -> other,                       // batch 1
      3L -> baseTxt,                                    // exact copy of 1
      4L -> variant(5, "victor"),                       // near-dup of 1
      5L -> other2, 6L -> other2,                       // intra-batch twins
      9L -> base.updated(5, "victor").updated(9, "xray").mkString(" "),
      7L -> variant(5, "victor"),                       // 4 was BOUNCED, so
                                                        // matches 1 as near
      8L -> other2)                                     // exact copy of 5
    def runChunked(chunks: Seq[Seq[(Long, String)]])
        : Map[Long, (String, Long)] = {
      val verdicts = scala.collection.mutable.Map[Long, (String, Long)]()
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.AdmissionStream.ingest(
        input.toDF().toDF("doc_id", "text")) { (_, v) =>
        verdicts.synchronized {
          v.collect().foreach(r =>
            verdicts(r.getLong(0)) = (r.getString(1), r.getLong(2)))
        }
      }.start()
      try chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      finally q.stop()
      verdicts.toMap
    }
    val expected = Map(
      1L -> ("unique", -1L), 2L -> ("unique", -1L),
      3L -> ("exact", 1L), 4L -> ("near", 1L),
      5L -> ("unique", -1L), 6L -> ("exact", 5L),
      9L -> ("unique", -1L), // bounced-peer chain: 4 cannot credit it
      7L -> ("near", 1L), 8L -> ("exact", 5L))
    val got = runChunked(Seq(docs.take(2), docs.slice(2, 7), docs.drop(7)))
    assert(got == expected, got)
    // replaying one doc per micro-batch gives the identical verdict log
    val gotSingles = runChunked(docs.map(Seq(_)))
    assert(gotSingles == expected, gotSingles)
  }
}
