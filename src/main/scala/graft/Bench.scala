package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Timed action: a noop-sink write materializes EVERY column of EVERY
    * row through the full physical plan — unlike `count()`, under which
    * Catalyst prunes all projections (count needs no columns) and
    * EliminateSorts drops final ORDER BYs, silently under-measuring
    * string/math-heavy queries. Same materialization shape Verify's
    * parquet write uses for the correctness gate, minus the disk I/O.
    */
  private def run(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Fixed deterministic calibration probe: a 20M-row range scan into a
    * 1000-key shuffle aggregate — CPU plus one exchange, zero data
    * dependence, zero cache footprint. Timed min-of-2 (the per-query
    * convention, so probe-vs-query ratios are measured identically) at
    * suite START and END and emitted on the contract line as
    * `probe_start_s` / `probe_end_s`. Purpose: make a contended run
    * detectable from the artifact alone — r13's official bench was
    * inflated ~15% by a co-tenant burst (pipe1 18.0 s vs 6.74 s on the
    * same box 25 min later) and only a manual re-run could prove it.
    * With the probes, `tools/compare_bench.py` box-normalizes per-query
    * ratios by the probe ratio and flags a run whose end/start probe
    * drift exceeds 1.3× as contention-suspect.
    */
  private def probeShot(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    run(spark.range(0, 20000000L, 1, 32)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s")))
    (System.nanoTime() - t0) / 1e9
  }

  /** SETTLED reading (r16) of `shot`, the Spark probe or the spin: up to
    * 4 shots, accepting as soon as a shot agrees within 15% with the best
    * shot so far and reporting that best. A shot taken inside a transient
    * co-tenant burst measures the burst, not the box — r16's run2/run3
    * were both drift-flagged (1.41x/1.45x) by single burst-caught end
    * probes while their quiet-gated starts and most queries ran clean. If
    * nothing settles inside 4 shots the contention is real: report the
    * min of all shots and let the drift flag speak.
    */
  private def settled(shot: () => Double): Double = {
    var prev = shot()
    var shots = 1
    while (shots < 4) {
      val cur = shot()
      shots += 1
      if (math.max(prev / cur, cur / prev) <= 1.15) return math.min(prev, cur)
      prev = math.min(prev, cur)
    }
    prev
  }

  /** JIT-STABLE drift instrument (r16): the Spark-stack calibration probe
    * turned out to measure the JVM as much as the box — over a
    * 231-query suite, C2 maturation of the codegen/shuffle stack speeds
    * the SAME probe 1.6–1.9x between suite start and end (four
    * consecutive full runs read start 0.26–0.29 s vs end 0.15–0.18 s,
    * while a fresh-JVM control on the same quiet box read 0.288/0.281
    * back-to-back — the box didn't change, the JVM did), so a probe-based
    * drift check flags every clean run on a quiet box. Drift is instead
    * measured with this 4-thread scalar spin, [[settled]]: steady from
    * the first shots (nothing for the JIT to learn mid-suite) and sensitive
    * to exactly the resource a co-tenant burst steals (the worker
    * threads' cores). The Spark probes stay on the contract line for
    * historical continuity and cross-artifact box comparison.
    *
    * One shot: `threads` CPU-bound xorshift loops timed to join.
    * ~0.1 s/shot; the kernel is a dozen scalar ops, C2-compiled within
    * the first shot, so shots are steady from a fresh JVM.
    */
  private def spinShot(threads: Int): Double = {
    val iters = 150000000L
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var a = 0L
        var n = 0L
        while (n < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a += x; n += 1
        }
        acc.addAndGet(a) // consume: the fold cannot be dead-code-eliminated
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-start gate: sample the single-shot probe until two
    * consecutive samples agree within 15% (box speed steady), bounded by
    * `SPARK_GRAFT_QUIET_WAIT_S` (default 60; 0 disables). Rationale: the
    * drift flag made BENCH_r14 self-incriminating (probes 0.451→0.274,
    * the suite STARTED inside a co-tenant burst) but could not prevent
    * it — this gate spends up to a minute refusing to start while probe
    * samples are still erratic, the cheapest lever against a
    * contended-start artifact. A STEADY co-tenant load passes the gate
    * by design: box normalization handles uniformly-slow boxes; the gate
    * only targets bursts in progress. Returns seconds spent gating
    * (emitted as `quiet_gate_s` so an artifact shows whether its start
    * was contested).
    */
  private def quietGate(spark: SparkSession): Double = {
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_S", "60").toInt
    if (maxWait <= 0) return 0.0
    // r16 addition: a gate window that TIMES OUT no longer starts the
    // suite into a known-live burst. It sleeps a cool-down (probes
    // stopped — zero load from us, letting the co-tenant burst pass)
    // and retries ONE more window. r15's official artifact motivated
    // this: its gate engaged near its bound and the run still landed
    // 2% over the normalized acceptance bar while four unofficially
    // timed runs on the same code landed 140–165 — scheduling, not
    // plans. Worst case the gate now costs maxWait + cooldown +
    // maxWait (~2.5 min at defaults) before starting anyway.
    val cooldown = sys.env.getOrElse("SPARK_GRAFT_QUIET_COOLDOWN_S", "30").toInt
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def settle(deadline: Double): Boolean = {
      var prev = probeShot(spark)
      var cur = probeShot(spark)
      while (elapsed < deadline && math.max(prev / cur, cur / prev) > 1.15) {
        Thread.sleep(3000)
        prev = cur
        cur = probeShot(spark)
      }
      if (math.max(prev / cur, cur / prev) > 1.15) {
        System.err.println(f"[bench] quiet gate window expired at $elapsed%.1f s " +
          f"(last probes $prev%.3f/$cur%.3f)")
        false
      } else true
    }
    if (!settle(maxWait) && {
      System.err.println(s"[bench] cooling down ${cooldown}s, then one retry window")
      Thread.sleep(cooldown * 1000L)
      !settle(elapsed + maxWait)
    })
      System.err.println(f"[bench] quiet gate timed out twice " +
        f"($elapsed%.1f s total) — starting anyway; expect drift flags")
    elapsed
  }

  /** 1-minute OS load average — unlike the spin (which samples only the
    * instants around suite start/end), loadavg integrates co-tenant
    * activity over the preceding minute, so start/end readings bracket
    * the suite's contention exposure from the artifact alone.
    */
  private def load1: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Load-quiescence gate (r18, the r17 verdict's #1 directive): the
    * r17 OFFICIAL artifact started at load1 = 8.49 on the 32-cpu box —
    * a co-tenant burst the probe-settle quiet gate missed (its two-shot
    * window can agree inside a STEADY burst) — and read the slowest
    * official total in the series while four internal runs of the same
    * code passed. This gate sleeps (zero load from us, letting the
    * burst and our own warm-up's EMA contribution decay — loadavg has a
    * 1-minute time constant) until load1 drops to `SPARK_GRAFT_LOAD1_LIMIT`
    * (default 4.0: quiet-box starts measure 1.3–2.3 with our JVM idle,
    * contended ones 8+; 4.0 splits the modes with margin for self-load)
    * or `SPARK_GRAFT_LOAD_WAIT_S` (default 240 s) expires. Both the
    * arrival load and the waited seconds go on the env line, and
    * `tools/compare_bench.py` flags any artifact whose post-gate
    * `load1_start` still exceeds the limit as CONTENTION-SUSPECT (the
    * probe-drift treatment) — a loaded-start artifact is invalid, not
    * merely slow. Returns (arrival load1, seconds waited).
    */
  private def loadGate(limit: Double, spinThreads: Int): (Double, Double) = {
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_S", "240").toInt
    // Spin condition (r18, after run 5 of the closing band): guest
    // loadavg CANNOT see host-level CPU steal — a run started at load1
    // 0.69 with the spin kernel already reading 0.70 s (vs the 0.33 s
    // quiet band) and totaled 201.9 s. The gate therefore also blocks
    // while a single spin shot exceeds `SPARK_GRAFT_SPIN_LIMIT`
    // (default 0.6 s — above every quiet reading on the 32-cpu boxes,
    // 0.32–0.41 s incl. both official artifacts, and below every burst
    // reading, 0.65–1.0 s). A slower box class that can never meet the
    // default pays at most `maxWait` and self-documents via
    // `load_gate_s` + `spin_start_s`; override the limit there.
    val spinLimit = sys.env.getOrElse("SPARK_GRAFT_SPIN_LIMIT", "0.6").toDouble
    val arrival = load1
    if (maxWait <= 0 || arrival < 0) return (arrival, 0.0)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // r19 ADVICE fix: the old loop fired a 32-thread spin shot every
    // cycle even while load1 ALONE blocked — at ~0.35 s of all-core work
    // per 5.35 s cycle that adds ~2 to the very 1-minute loadavg the gate
    // is waiting on, so a box recovering into the quiet band (1.3–2.3)
    // could be self-held above 4.0 for the full 240 s. The spin shot now
    // runs only once load1 itself is under the limit (it gates HOST steal,
    // which loadavg cannot see — checking it while guest load is high adds
    // information about nothing and load to everything).
    def spinIfQuiet(l: Double): Double =
      if (l > limit) -1.0 else spinShot(spinThreads)
    var l = arrival
    var spinNow = spinIfQuiet(l)
    // Quiet-side spin shots fired during the WAIT loop — the only gate
    // activity that contributes to the 1-minute loadavg the settle below
    // exists to decay (the initial pre-loop shot needs no settle when the
    // loop never runs, the existing contract).
    var quietShots = 0
    var cycles = 0
    while ((l > limit || spinNow > spinLimit) && elapsed < maxWait) {
      Thread.sleep(5000)
      cycles += 1
      l = load1
      spinNow = spinIfQuiet(l)
      if (spinNow >= 0) quietShots += 1
    }
    if (l > limit || spinNow > spinLimit) {
      // spinNow = -1 is the not-sampled sentinel (load1 never went
      // quiet), not a broken measurement — say so, the adjudication
      // trail depends on the distinction.
      val spinTxt = if (spinNow < 0) "not sampled (load1 never quiet)"
        else f"$spinNow%.2f vs $spinLimit%.1f"
      System.err.println(f"[bench] load gate timed out at $elapsed%.0f s " +
        f"(load1 $l%.2f vs $limit%.1f, spin $spinTxt) — starting anyway; " +
        "expect a CONTENTION-SUSPECT artifact")
    }
    // Second half of the ADVICE fix: if the gate looped and exited with
    // load1 under the limit, its own spin shots are still inside the
    // 1-minute EMA when main() samples load1_start immediately after
    // this returns — decay them with a spin-free settle so the
    // artifact-of-record field reads the BOX, not the gate. A 1-min
    // loadavg contribution decays as exp(-t/60) (half-life ~42 s): the
    // worst-case ~2.1 self-load (0.35 s all-core shot per 5.35 s cycle)
    // leaves ~1.0 after the 45 s default — which on the quiet band's
    // 1.3–2.3 box keeps load1_start under the 4.0 limit, where the old
    // 20 s default's ~1.5 residual could trip the flag on self-load.
    // Runs that never looped pay nothing; a timeout with load1 still
    // over the limit skips the settle too (nothing of ours to decay —
    // the spin shot never fires while load1 blocks — and the artifact
    // is already destined for its flag). Scaled to the quiet-side shots
    // actually fired (r19 ADVICE): a gate that looped on load1 alone (or
    // fired only a couple of shots, ~0.006 loadavg each) has nothing
    // worth a flat minute-scale sleep — the 45 s worst-case applies only
    // to a long self-held spin loop.
    if (cycles > 0 && l <= limit && quietShots > 2) Thread.sleep(
      sys.env.getOrElse("SPARK_GRAFT_LOAD_SETTLE_S", "45").toInt * 1000L)
    (arrival, elapsed)
  }

  /** MemAvailable from /proc/meminfo in GiB (-1 off-Linux). Motivation
    * (r17): the r15/r16 OFFICIAL artifacts both read probe ~0.51 s while
    * internal runs on the same box read 0.23–0.29 s with IDENTICAL spin
    * (0.35 s) — a Spark-stack-only slowdown with no CPU contention, for
    * which JVM/OS memory state (page cache, heap headroom) is the prime
    * suspect. These fields exist to adjudicate that from the next
    * artifact instead of re-speculating.
    */
  private def memAvailG: Double = try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines()
      .collectFirst { case l if l.startsWith("MemAvailable:") =>
        l.trim.split("\\s+")(1).toDouble / 1048576.0 }
      .getOrElse(-1.0)
    finally src.close()
  } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // Start-of-run reap: a crashed session never reaches GraftSession.stop,
    // so sweep dead sessions' scratch here, before the load gate and
    // outside every timed window.
    GraftSession.reclaim()
    // Warm up the session (codegen compiler, parquet footer caches, shuffle
    // machinery) so the first timed query isn't charged ~5s of JVM startup.
    try {
      run(spark.range(1000).selectExpr("sum(id)").toDF())
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(fn => run(fn(spark, sfDir)))
    } catch { case e: Throwable =>
      // Warm-up failures are non-fatal (the timed loop re-raises per query)
      // but must be visible — a systematically broken q1 should not fail
      // silently here first.
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // A failed query records -1.0, never its time-to-exception: a broken
    // query must make the bench look broken, not fast.
    //
    // Each query is timed TWICE and the MIN is recorded: a transient
    // contention spike on a shared machine (GC storm, another tenant's
    // burst) can otherwise inflate one sample 10x+ and masquerade as a
    // code regression — the min of two independent runs is the
    // contention-resistant estimate of the query's actual cost.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // Dev knob: comma-separated query names to bench in isolation (profiling
    // one query without paying the full surface). Unset = whole surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter(kv => names.contains(kv._1)))
    // Inter-query hygiene (OUTSIDE the timed window): queries are
    // independent jobs, and [[graft.engine.Caching.releaseAll]] between
    // them keeps every query's measurement as close to its isolated cost
    // as a shared JVM allows — see releaseAll's scaladoc for the debris
    // mechanics and the measured pipe1 in-suite-vs-isolated gap.
    // Own try/catch (per-query error-isolation convention): a reclaim
    // failure after a query broke the context must not abort main before
    // the contract line prints — a bench with per-query -1.0s and a total
    // beats a bench with no output at all.
    // Dev A/B knobs for diagnosing suite-position effects (both outside
    // every timed window): SPARK_GRAFT_NO_RECLAIM=1 skips the inter-query
    // reclaim entirely; SPARK_GRAFT_PAUSE_BETWEEN_S sleeps after each
    // reclaim so asynchronous debris (context-cleaner drains, GC tails)
    // can settle before the next query's first sample.
    val noReclaim = sys.env.get("SPARK_GRAFT_NO_RECLAIM").exists(_ == "1")
    val pauseS = sys.env.getOrElse("SPARK_GRAFT_PAUSE_BETWEEN_S", "0").toInt
    val reclaimGc = !sys.env.get("SPARK_GRAFT_RECLAIM_GC").exists(_ == "0")
    def reclaim(): Unit = {
      if (!noReclaim)
        try graft.engine.Caching.releaseAll(spark, gc = reclaimGc)
        catch { case e: Throwable =>
          System.err.println(s"[bench] reclaim failed: ${e.getMessage}")
        }
      if (pauseS > 0) Thread.sleep(pauseS * 1000L)
    }
    reclaim() // the warm-up leaves q1's debris too
    // Load gate BEFORE the start-of-suite load1 sample: load1_start is
    // the artifact-of-record field compare_bench judges, so it must
    // read the box state the suite actually started into (post-gate).
    // The EFFECTIVE limit rides the env line so compare_bench judges
    // the artifact against the gate it actually ran with (an
    // env-overridden limit would otherwise silently disagree with the
    // judge's hardcoded default).
    val load1Limit = sys.env.getOrElse("SPARK_GRAFT_LOAD1_LIMIT", "4.0").toDouble
    val spinThreads = cpus
    spinShot(spinThreads) // one throwaway shot compiles the kernel
    val (load1Arrival, loadGateS) = loadGate(load1Limit, spinThreads)
    val load1Start = load1
    val memStart = memAvailG
    val gateS = quietGate(spark)
    val probeStart = settled(() => probeShot(spark))
    val spinStart = settled(() => spinShot(spinThreads))
    // Post-reclaim drain settle (r16, also outside every timed window):
    // releaseAll's System.gc() kicks ContextCleaner into draining its
    // reference queue — asynchronous block/broadcast removals and a GC
    // tail that otherwise land inside the NEXT query's samples. Measured
    // on the worst case (dd11 after dd10, the r15 artifact's largest
    // suite-vs-isolated gap, probes stable throughout): dd11 6.19 s with
    // the bare reclaim vs 3.95 isolated; +10 s pause 4.48; reclaim with
    // gc=false 3.52; gc on + 1 s settle 3.92 ≈ isolated. Dropping the gc
    // would re-open the r14 accumulation problem (pipe1 21.5 s in-suite
    // pre-reclaim), so the fix is the 1 s settle — applied only after
    // queries whose min ≥ 1 s (the drain tail scales with the
    // predecessor's garbage; ~45 of 231 queries, ~45 s of untimed wall).
    val settleMs = sys.env.getOrElse("SPARK_GRAFT_SETTLE_MS", "1000").toInt
    // Mid-suite spin samples (r19, the r18 verdict's #5): the steal
    // arbiter previously saw two instants (suite start/end), so a
    // co-tenant burst that rose and died INSIDE the suite was invisible
    // to the drift check and could only be inferred from per-query
    // outliers. Two settled spins at the 1/3 and 2/3 query boundaries
    // (outside every timed window, after that query's reclaim/settle;
    // ~1.5 s total) put four points on the timeline so compare_bench can
    // localize a burst to the query block it taxed. Emitted on the env
    // line as spin_third1_s/spin_third2_s.
    val ordered = selected.toSeq.sortBy(_._1)
    // 0 never equals idx + 1, so thirds are OFF below 3 selected queries
    // (a 2-query dev A/B must not pay a settled spin or emit a lone
    // spin_third2_s).
    val third1At = if (ordered.size >= 3) ordered.size / 3 else 0
    val third2At = if (ordered.size >= 3) 2 * ordered.size / 3 else 0
    var spinThird1 = -1.0
    var spinThird2 = -1.0
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      def sample(): Double = {
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      val times = scala.collection.mutable.Buffer.fill(runsPerQuery)(sample())
      // Burst resampling (r16): samples that disagree by more than 1.5x
      // mean at least one was caught inside a transient co-tenant burst
      // (a code-determined cost cannot halve between back-to-back runs of
      // the same plan), so the min-of-2 is a coin flip on burst timing —
      // r16's run2/run3 each carried ~5 s of such inflation (dd9 1.87 vs
      // 3.21 s across two runs, sim8 1.58 vs 2.75). Up to 2 extra samples
      // chase a clean one; queries with agreeing samples (the clean ~95%)
      // pay nothing, so the convention stays min-of-2 where min-of-2 was
      // trustworthy.
      while (times.forall(_ >= 0) && times.size < runsPerQuery + 2
          && times.max / times.min > 1.5)
        times += sample()
      // Deliberately NOT between samples: a later sample may catch a
      // scoped cache whose async release hasn't fired yet, making
      // min-of-N a WARM measurement — which is the convention every
      // prior round's published numbers used (no reclaim existed at
      // all), so reclaiming mid-query would read as a regression where
      // only the measurement got stricter. The reclaim exists to stop
      // CROSS-query debris, not to cool intra-query samples.
      reclaim()
      // Any failed attempt poisons the query: never report a lucky
      // successful sample alongside a crash.
      val best = if (times.exists(_ < 0)) -1.0 else times.min
      if (settleMs > 0 && (best < 0 || best >= 1.0))
        Thread.sleep(settleMs.toLong)
      // thirds fire when >= 3 queries are selected (single-query dev runs
      // have size/3 == 0, which idx + 1 never equals)
      if (idx + 1 == third1At) spinThird1 = settled(() => spinShot(spinThreads))
      if (idx + 1 == third2At && third2At != third1At)
        spinThird2 = settled(() => spinShot(spinThreads))
      name -> best
    }.toMap
    val probeEnd = settled(() => probeShot(spark))
    val spinEnd = settled(() => spinShot(spinThreads))
    // Times rounded to ms — sub-ms digits are noise and bloat the line.
    def fmt(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.values.filter(_ >= 0).sum
    val failures = results.values.count(_ < 0)
    // Truncation-proof layout. The driver captures a bounded TAIL of
    // stdout and truncation eats from the HEAD of that window — r9/r10
    // both lost the alphabetical head of the one-line per-query map
    // (dd*, pipe*, pr1: exactly the heavy hitters). So: entries sort
    // ASCENDING by time (failures, reported -1.0, sort LAST — a crash
    // must be the single most visible entry) and stream out in ≤900-byte
    // self-delimiting chunk lines, fastest chunk first. Whatever part of
    // the block survives the window is then always the most expensive
    // queries, sitting immediately above the tiny contract line; a
    // full-size window recovers the entire map by concatenating parts
    // 1..N. The contract line stays LAST and small (~140 bytes: totals
    // plus the two calibration probes) with no map on it (BENCH_r04–r06
    // lost its prefix when the map rode along).
    val asc = results.toSeq
      .sortBy { case (n, v) => (if (v < 0) Double.MaxValue else v, n) }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val parts = asc.foldLeft(List(List.empty[String])) { (acc, e) =>
      if (acc.head.map(_.length + 1).sum + e.length > 900)
        List(e) :: acc
      else (e :: acc.head) :: acc.tail
    }.map(_.reverse).reverse.filter(_.nonEmpty)
    // Full-record tee (r19, the r18 verdict's #2): the driver's
    // BENCH_r{N}.json keeps only the last ~2000 chars of stdout, so the
    // per-query map survives for only the ~23 slowest queries — r18's
    // headline fix (sim11) left NO official number in the record. Every
    // metric line below is therefore ALSO written verbatim to a committed
    // file (`bench_full_r{N}.json`, N inferred as max existing BENCH_r* +
    // 1, overridable via SPARK_GRAFT_FULL_OUT) that compare_bench.py
    // prefers when its total matches the driver artifact's. stdout layout
    // is unchanged — the tee is the record, not a new format.
    val fullLines = scala.collection.mutable.Buffer.empty[String]
    def emit(line: String): Unit = { println(line); fullLines += line }
    parts.zipWithIndex.foreach { case (p, i) =>
      emit(s"""{"metric":"per-query","part":${i + 1},"parts":${parts.size},"order":"asc-time","unit":"sec","sf":"$sfDir","queries":${p.mkString("{", ",", "}")}}""")
    }
    // Condensed slowest-queries line (r21, the r20 verdict's #4):
    // the driver keeps only a bounded TAIL of stdout (~2-3 KB) and its
    // parse merges whole JSON lines last-wins, so of the asc-time part
    // lines above only the FINAL chunk's ~21 queries ever reach the
    // PERF comparison (r20's n_common was 0 against an r19 artifact
    // with no map at all). This line re-emits the SLOWEST queries — the
    // only ones whose round-over-round ratios are signal rather than
    // sub-0.2 s jitter — in one ~1.8 KB self-contained JSON line placed
    // AFTER every part line (so a last-wins parse prefers it) and
    // immediately above the small env/total lines (so the tail window
    // keeps all three). Additions-only: parts, env, and the contract
    // line are byte-compatible with every prior round; failures sort
    // first here (desc time with -1.0 mapped to +inf) so a crash stays
    // the most visible entry even in this view.
    val descBudget = 1800
    val kept = {
      var used = 0
      asc.reverse.takeWhile { e => used += e.length + 1; used <= descBudget }
    }
    emit(s"""{"metric":"per-query-slowest","order":"desc-time","kept":${kept.size},"of":${asc.size},"unit":"sec","sf":"$sfDir","queries":${kept.mkString("{", ",", "}")}}""")
    // Environment block (r17): one extra small line ABOVE the contract
    // line — the contract line itself stays minimal and last (its
    // truncation-robustness rationale above), while these fields make a
    // slow-probe run diagnosable from the artifact: heap ceiling (the
    // build.sbt -Xmx actually in force), local-dir device, loadavg
    // bracket, MemAvailable bracket, mid-suite spin points (r19).
    val thirds = Seq("spin_third1_s" -> spinThird1, "spin_third2_s" -> spinThird2)
      .collect { case (k, v) if v >= 0 => s""","$k":${fmt(v)}""" }.mkString
    emit(s"""{"metric":"env","heap_max_g":${fmt(Runtime.getRuntime.maxMemory / 1e9)},"local_dir":"${spark.sparkContext.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))}","load1_arrival":${fmt(load1Arrival)},"load_gate_s":${fmt(loadGateS)},"load1_limit":${fmt(load1Limit)},"load1_start":${fmt(load1Start)},"load1_end":${fmt(load1)},"mem_avail_g_start":${fmt(memStart)},"mem_avail_g_end":${fmt(memAvailG)}$thirds,"runs_per_query":$runsPerQuery}""")
    emit(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","failures":$failures,"probe_start_s":${fmt(probeStart)},"probe_end_s":${fmt(probeEnd)},"spin_start_s":${fmt(spinStart)},"spin_end_s":${fmt(spinEnd)},"quiet_gate_s":${fmt(gateS)}}""")
    // Collision guard: a BENCH_ONLY dev run (a one-query A/B) arriving
    // between the official suite run and the driver's BENCH_r{N}.json
    // write would infer the SAME N and clobber the official full record
    // with a near-empty one — so subset runs only tee when given an
    // explicit SPARK_GRAFT_FULL_OUT (full internal runs should point it
    // at /tmp for the same reason; the total-match check in
    // compare_bench is the backstop, not the policy).
    val fullOut = sys.env.get("SPARK_GRAFT_FULL_OUT").orElse {
      if (only.isDefined) None
      else Some {
        val rx = "BENCH_r(\\d+)\\.json".r
        val n = Option(new java.io.File(".").listFiles).toSeq.flatten
          .flatMap(f => f.getName match {
            case rx(d) => Some(d.toInt)
            case _ => None
          })
          .foldLeft(0)(math.max) + 1
        f"bench_full_r$n%02d.json"
      }
    }
    fullOut.foreach { out =>
      try {
        // Inferred names write via an app-id-tagged temp and promote only
        // if the target is still absent (r19 ADVICE): two concurrent FULL
        // runs started before the driver writes BENCH_r{N}.json infer the
        // SAME N, and the later finisher would clobber the earlier full
        // record — compare_bench's total-match check silently DROPS a
        // mismatched record rather than recovering it. An explicit
        // SPARK_GRAFT_FULL_OUT keeps plain overwrite (pointing internal
        // runs at a scratch path is its whole purpose).
        val inferred = sys.env.get("SPARK_GRAFT_FULL_OUT").isEmpty
        val tmp = if (inferred)
          s"$out.${spark.sparkContext.applicationId}.tmp" else out
        val w = new java.io.PrintWriter(tmp, "UTF-8")
        try fullLines.foreach(w.println) finally w.close()
        if (inferred) {
          // Files.move WITHOUT REPLACE_EXISTING is the atomic form of
          // "promote only if absent": a plain exists()+renameTo pair
          // leaves a window where a concurrent run's just-promoted
          // record is silently replaced (rename(2) clobbers).
          try {
            java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
              java.nio.file.Paths.get(out))
            System.err.println(s"[bench] full per-query record written to $out")
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              System.err.println(s"[bench] $out already exists (concurrent " +
                s"run?) — full record left at $tmp, NOT overwriting")
          }
        } else
          System.err.println(s"[bench] full per-query record written to $out")
      } catch { case e: Throwable =>
        // The tee must never fail the bench — the stdout record stands.
        System.err.println(s"[bench] full-record write failed: ${e.getMessage}")
      }
    }
    GraftSession.stop(spark)
  }
}
