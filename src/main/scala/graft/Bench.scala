package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every declared query at the env-selected
  * scale factor and ends stdout with ONE compact JSON contract line.
  *
  * Methodology matches BASELINE.md: a warm session (JVM/classloader/codegen
  * infrastructure initialized by an untimed warmup pass) then one timed
  * execution per query — each query still re-reads its parquet inputs, so
  * scan/shuffle/agg work is fully counted. Paired, repeated performance
  * measurement lives in perfbench/; this object only produces the gate
  * value and the two host-window signals the contract line carries
  * (`window_degraded`, `recapture_total`). */
object Bench {
  /** Shuffle-canary suspect line: the q11 canary's clean floor is
    * ~0.31–0.37 s on the current binary (SCALING.md §variance), and a
    * canary past 0.41 marks a degraded host window. */
  val canarySuspectLine = 0.41

  /** Host-window classification for one pass's shuffle-canary triple:
    * degraded iff ANY canary is past the suspect line. Each canary is
    * already a median-of-3, so one past the line marks a real degraded
    * interval somewhere in the pass, not a spike; a FAILED canary (-1)
    * is never degraded evidence. */
  def degraded(shufflePre: Double, shuffleMid: Double, shufflePost: Double): Boolean =
    math.max(shufflePre, math.max(shuffleMid, shufflePost)) > canarySuspectLine

  /** JSON value for `window_degraded`, tri-state: "true" when any
    * SURVIVING canary reads past the suspect line (positive evidence
    * stands regardless of other failures); "false" ONLY when all three
    * canaries ran and read clean; "null" when any canary failed and no
    * survivor read degraded — a partially unclassifiable window must
    * never read as verified clean. */
  def windowDegradedJson(shufflePre: Double, shuffleMid: Double,
      shufflePost: Double): String =
    if (degraded(shufflePre, shuffleMid, shufflePost)) "true"
    else if (shufflePre < 0 || shuffleMid < 0 || shufflePost < 0) "null"
    else "false"

  /** The committed record execution mode: local[32] / 32 shuffle
    * partitions. Every era baseline and gate number ran at 32, and the
    * mode alone moves per-query times (q90 steady 0.79 s at 32 vs 1.35 s
    * at 4 on the same binary). */
  val recordCpus = 32

  /** cpus-divergence flag, the cpu analogue of heap_divergent: any mode
    * other than the record config makes the capture incomparable to the
    * era baselines (up to a 2× total difference that canaries cannot
    * flag), so the artifact itself must say so. Unparseable → divergent:
    * an unknown mode is not the record mode. */
  def cpusDivergent(cpus: String): Boolean =
    cpus.trim.toIntOption match {
      case Some(n) => n != recordCpus
      case None => true
    }

  /** JSON rendering of the cpus env value: a number when parseable (every
    * legitimate mode), a quoted string otherwise, so a garbage env value
    * cannot corrupt the line. */
  def cpusJson(cpus: String): String =
    cpus.trim.toIntOption.map(_.toString).getOrElse("\"" + cpus + "\"")

  /** The contract line, printed as the FINAL stdout line. The gate
    * capture keeps only a stdout tail, so the line carries the contract
    * fields only — per-query seconds at millisecond precision, scalars
    * AFTER the queries map so even a tail-truncated copy still carries
    * total/gate/window. Full-precision diagnostics ship in
    * bench_full_latest.json and bench_runs.jsonl. Failed queries stay -1
    * in the map, the same convention as the full artifact. Pure
    * formatter, pinned byte for byte by UnitSpecs. */
  def contractLine(total: Double, cpus: String, cpusDivergent: Boolean,
      heapReqGb: Double, heapDivergent: Boolean,
      queries: Seq[(String, Double, Boolean)],
      warmupFailed: Seq[String], overBudget: Seq[String],
      budgetExceeded: Boolean, windowDegradedJson: String, warmupN: Int,
      recaptureTotal: Option[Double], sf: String): String = {
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = queries.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) sec(v) else "-1.0")
    }.mkString("{", ",", "}")
    val failed = queries.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val wf = warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ob = overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","unit":"sec","queries":$qs,"failed":$failed,""" +
      s""""warmup_failed":$wf,"over_budget":$ob,""" +
      s""""cpus":${cpusJson(cpus)},"cpus_divergent":$cpusDivergent,""" +
      s""""heap_req_gb":${sec(heapReqGb)},"heap_divergent":$heapDivergent,""" +
      s""""warmup_n":$warmupN,""" +
      s""""recapture_total":${recaptureTotal.map(sec).getOrElse("null")},""" +
      s""""window_degraded":$windowDegradedJson,""" +
      s""""budget_exceeded":$budgetExceeded,""" +
      s""""value":${sec(total)},"sf":"$sf"}"""
  }

  /** The untimed warm-session list (BASELINE.md methodology): every
    * declared query, in the timed loop's sorted order, run once at
    * sf0.001. Each entry compiles its plan SHAPE's one-time codegen so
    * the timed slots measure query work, not first-touch compilation;
    * with only a curated subset warmed, first-in-family queries paid
    * 0.5–4.7 s of codegen in their timed slots (q122 +4.7 s, q136 +2.8).
    * Each warmup failure is surfaced in `warmup_failed`. */
  val warmupQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default = the record config: an unset env yields a gate-comparable
    // capture instead of a silently divergent one.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", recordCpus.toString)
    // tmpfs scratch for checkpoints/sinks/shuffle when available — the
    // local-mode analogue of a cluster's fast local disks (see FastScratch)
    val scratch = graft.engine.FastScratch.init()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    scratch.foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup on the smallest sf: initializes Hadoop FS, parquet
    // read AND write paths (committers), codegen, shuffle, window/join,
    // and streaming infrastructure once. A warmup that throws is an
    // early warning (a schema drift shows up here first), so each failure
    // goes to stderr AND into the JSON as warmup_failed.
    val warmSf = "/root/testdata/sf0.001"
    val warmupFailed = scala.collection.mutable.ListBuffer[String]()
    warmupQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, warmSf).count()
      catch { case e: Throwable =>
        warmupFailed += q
        System.err.println(s"BENCH WARMUP FAILURE: $q — " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.toString))
      }
    }
    // q52 models a PRE-EXISTING bucketed table (its layout write is "paid
    // once" and amortized at a deterministic per-input path — see
    // Formats). In a fresh container that cache is cold at the TARGET sf,
    // so the timed q52 would measure the one-time layout write instead of
    // the shuffle-free join under test: materialize it untimed here.
    try SparkEntry.queries("q52_bucketed_join")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Canary = median-of-3 of one query at the target sf, untimed w.r.t.
    // the gate; -1 on failure so the JSON survives a broken env. Running
    // q28/q11 here also warms them at the target sf before their timed
    // slots (≈0.05-0.1 s each), the same treatment the warmup list gives
    // every query at sf0.001.
    def canaryOf(q: String): Double = try {
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    } catch { case _: Throwable => -1.0 }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    /** One timed pass with its canary bracket: each bracket point is a
      * trivial (q28 top-k) + shuffle-weight (q11 join) pair. The pre pair
      * catches a window that was degraded at the start and drained before
      * the end; the mid pair catches a contended middle between clean
      * endpoints; the post pair classifies the window the suite ended in.
      * A throwing query is recorded as failed (-1 in the map, listed in
      * "failed") and never deflates the total. */
    case class Pass(results: Seq[(String, Double, Boolean)],
        pre: Double, shufflePre: Double, mid: Double, shuffleMid: Double,
        post: Double, shufflePost: Double) {
      def total: Double = results.collect { case (_, v, true) => v }.sum
      def qsJson: String = results.map { case (k, v, ok) =>
        "\"" + k + "\":" + (if (ok) v else -1.0) }.mkString("{", ",", "}")
      def failedJson: String = results.collect { case (k, _, false) =>
        "\"" + k + "\"" }.mkString("[", ",", "]")
      def windowDegradedJson: String =
        Bench.windowDegradedJson(shufflePre, shuffleMid, shufflePost)
      def canariesJson: String =
        s""""canary_pre_sec":$pre,"canary_shuffle_pre_sec":$shufflePre,""" +
          s""""canary_mid_sec":$mid,"canary_shuffle_mid_sec":$shuffleMid,""" +
          s""""canary_sec":$post,"canary_shuffle_sec":$shufflePost"""
    }
    def timedPass(): Pass = {
      val pre = canaryOf("q28_topk_global")
      val shufflePre = canaryOf("q11_join_shuffle")
      var mid = -1.0
      var shuffleMid = -1.0
      val res = sorted.zipWithIndex.map { case ((name, fn), i) =>
        if (i == sorted.size / 2) {
          mid = canaryOf("q28_topk_global")
          shuffleMid = canaryOf("q11_join_shuffle")
        }
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
      val post = canaryOf("q28_topk_global")
      val shufflePost = canaryOf("q11_join_shuffle")
      Pass(res, pre, shufflePre, mid, shuffleMid, post, shufflePost)
    }
    val pass = timedPass()
    val total = pass.total
    // Budget guard (SCALING.md §Bench budget): queries over the 3.5 s
    // per-query budget and totals over the soft budget are CALLED OUT in
    // the JSON; a total past the 90 s hard gate sets budget_exceeded and
    // a stderr FAILURE line. The process still exits 0 — the gate is a
    // flag, so a stalled host window never destroys the capture. The soft
    // budget scales with the declared surface (0.67 s/query, the clean
    // average is ~0.65); the hard gate is absolute because it is the
    // contract.
    val perQueryBudget = 3.5
    val softTotal = math.min(0.67 * SparkEntry.queries.size, 85.0)
    val hardTotal = 90.0
    val overBudgetKeys = pass.results.collect {
      case (k, v, true) if v > perQueryBudget => k
    }
    val exceeded = total > hardTotal
    // One recapture on a hard-gate failure, shipped next to the first
    // pass: a structural regression reproduces its slow total, a noisy
    // host window reads the adjacent window instead. Nothing is replaced
    // and budget_exceeded stays keyed to the first pass. The recapture
    // starts LIBRARY-cold (shared frames, per-call caches and the
    // schema/relation memo released; JIT, codegen and the OS page cache
    // stay warm): without the release the graph tier reuses the first
    // pass's frames and reads 1–3 s faster than any fresh capture.
    val recapture: Option[Pass] =
      if (exceeded) {
        graft.engine.CacheReaper.release()
        graft.engine.Tables.clearSchemaCache()
        Some(timedPass())
      } else None
    val recaptureJson = recapture.map { p =>
      s"""{"value":${p.total},"queries":${p.qsJson},"failed":${p.failedJson},""" +
        s"""${p.canariesJson},"window_degraded":${p.windowDegradedJson}}"""
    }.getOrElse("null")
    val warmFailedJson = warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val heapGb = Runtime.getRuntime.maxMemory() / (1 << 30)
    // Heap-divergence flag: build.sbt clamps every SPARK_DRIVER_MEM
    // request down to the measured-optimal 16 GiB ParallelGC heap, so a
    // heap above it means a direct -Xmx launch bypassing sbt (16g/96g/16g
    // measured 83.7/166.3/83.8 s on one binary, SCALING.md §variance);
    // under 10 GiB starves the 32-thread local executor. Reads the
    // REQUESTED -Xmx, not maxMemory(), which ParallelGC under-reports.
    val xmxReqGb: Double = {
      import scala.jdk.CollectionConverters._
      val re = "(?i)^-Xmx(\\d+)([gmk]?)$".r
      // The JVM honors the LAST -Xmx on the command line.
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.reverseIterator.collectFirst {
          case re(n, u) => u.toLowerCase match {
            case "g" => n.toDouble
            case "m" => n.toDouble / 1024.0
            case "k" => n.toDouble / (1024.0 * 1024.0)
            case _   => n.toDouble / (1L << 30).toDouble
          }
        }.getOrElse(heapGb.toDouble) // no explicit -Xmx: fall back
    }
    val heapDivergent = xmxReqGb > 16.01 || xmxReqGb < 10
    if (heapDivergent)
      System.err.println(f"BENCH HEAP DIVERGENCE: requested -Xmx $xmxReqGb%.1f GiB " +
        "vs the measured-optimal 16g clamp — timings are not comparable to " +
        "the committed record config; see build.sbt clampHeap and SCALING.md")
    val cpuDivergent = cpusDivergent(cpus)
    if (cpuDivergent)
      System.err.println(s"BENCH CPUS DIVERGENCE: running local[$cpus] vs the " +
        s"record config local[$recordCpus] — timings are not comparable " +
        "to the era baselines; unset SPARK_GRAFT_CPUS or set it to " +
        s"$recordCpus for a gate-grade capture")
    // Full-precision diagnostics JSON: too large for a kept stdout tail,
    // so it goes only to the two file artifacts below.
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","cpus":${cpusJson(cpus)},"cpus_divergent":$cpuDivergent,"heap_gb":$heapGb,"heap_req_gb":$xmxReqGb,"heap_divergent":$heapDivergent,"warmup_n":${warmupQueries.size},"queries":${pass.qsJson},"failed":${pass.failedJson},"warmup_failed":$warmFailedJson,"over_budget":${overBudgetKeys.map("\"" + _ + "\"").mkString("[", ",", "]")},"soft_budget_sec":$softTotal,"budget_exceeded":$exceeded,${pass.canariesJson},"window_degraded":${pass.windowDegradedJson},"canary_suspect_line_sec":$canarySuspectLine,"recapture":$recaptureJson,"sf":"$sfDir"}"""
    // bench_full_latest.json is overwritten per run (SPARK_GRAFT_BENCH_FULL
    // names a per-round copy); bench_runs.jsonl is append-only and
    // wall-clock stamped, so no later run erases an earlier measurement.
    // Both best-effort: a read-only cwd must not fail the capture.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full_latest.json")),
      jsonLine + "\n")
    catch { case _: Throwable => () }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_runs.jsonl"),
      s"""{"at_epoch_ms":${System.currentTimeMillis()},${jsonLine.drop(1)}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    if (exceeded)
      System.err.println(f"BENCH BUDGET FAILURE: total $total%.1f s exceeds the $hardTotal%.0f s gate (canary ${pass.post}%.2f s)" +
        recapture.map { p =>
          f"; gate-failure auto re-capture read ${p.total}%.1f s " +
            s"(window_degraded=${p.windowDegradedJson})" }.getOrElse(""))
    else if (total > softTotal)
      System.err.println(f"BENCH BUDGET WARNING: total $total%.1f s exceeds the $softTotal%.0f s soft budget (gate $hardTotal%.0f s, canary ${pass.post}%.2f s)")
    // Cross-query cache reuse is deliberate DURING the run; this is its bound.
    graft.engine.CacheReaper.release()
    // THE contract line: the FINAL stdout line, after every stderr
    // warning, so a merged-stream capture also ends with it (build.sbt's
    // `run / outputStrategy := StdoutOutput` keeps it free of sbt's
    // `[info] ` prefix).
    println(contractLine(total, cpus, cpuDivergent, xmxReqGb,
      heapDivergent, pass.results, warmupFailed.toSeq, overBudgetKeys,
      exceeded, pass.windowDegradedJson, warmupQueries.size,
      recapture.map(_.total), sfDir))
    spark.stop()
  }
}
