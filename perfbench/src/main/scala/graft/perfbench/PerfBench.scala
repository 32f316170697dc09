package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, PerfBenchAccess, SparkSession, functions => F}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine.{CacheReaper, FastScratch, Tables}

/**
 * One benchmark process: runs a workload's queries the way a caller does —
 * sequentially, one client, each query built with its `QueryDef` builder
 * and its full result written to Spark's `noop` sink — and dumps raw
 * timings and layer records as JSON for `perfbench/run.py` to aggregate.
 *
 * Life of a process: session start and one untimed cold pass (together:
 * the set-up; the cold pass takes each query's output digest instead of
 * sinking it), one untimed warm-up pass, timed passes until the time budget
 * is spent, an output check pass, a `Tables` probe when tracing, dump.
 * Every pass starts from the same in-process state: shared frames are
 * released and the table/schema memo is cleared.
 *
 * With `trace=1` timed passes alternate between untraced and traced.
 * Traced passes attach Spark's listeners and record spans
 * (pass > query > build | action) with deltas of the JVM-wide codegen and
 * Catalyst rule counters; the untraced neighbours of each traced pass give
 * `trace.overhead`. Jobs are tagged with their query and phase in every
 * pass.
 *
 * Every pass runs the queries in the order the seed draws; across seeds,
 * per-query times show which member of a family of queries sharing a prep
 * frame paid for building it.
 *
 * Arguments are `key=value`: workload, queries (comma-separated), seed,
 * data, seconds, trace, min_passes, cores, out.
 */
object PerfBench {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def nowMs: Long = System.currentTimeMillis()
  private def gcMs: Long = collectors.map(_.getCollectionTime).sum
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def rulesNs: Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opts("workload")
    val queries = opts("queries").split(',').toSeq.filter(_.nonEmpty)
    val seed = opts.getOrElse("seed", "0").toLong
    val data = opts("data")
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val minPasses = opts.getOrElse("min_passes", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors.min(
      opts.getOrElse("cores", "4").toInt)

    val cacheAtStart = graftCaches()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${FastScratch.cacheRoot}/spark-local")
      .config("spark.sql.warehouse.dir", s"${FastScratch.cacheRoot}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = nowMs
    val bench = new PerfBench(spark, workload, queries, seed, data)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    passes += bench.pass("cold", traced = None, check = true)
    val setupEndMs = nowMs
    val cacheAfterSetup = graftCaches()
    // The cold pass sinks into digests, so the noop sink's code paths are
    // first compiled and warmed here; this pass is kept out of the metrics.
    passes += bench.pass("warmup", traced = None)
    val probe = if (trace) Some(new LayerProbe) else None
    val t0 = System.nanoTime()
    var n = 0
    def budgetLeft = n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds
    // Traced runs trace every second pass and end on an untraced one, so
    // each traced pass has two untraced neighbours for the overhead estimate.
    while (budgetLeft || (trace && n % 2 == 0)) {
      passes += bench.pass("timed", traced = probe.filter(_ => n % 2 == 1))
      n += 1
    }
    passes += bench.pass("check", traced = None, check = true)
    val tablesProbe = if (trace) bench.probeTables() else Map.empty

    val dump = Map(
      "workload" -> workload, "queries" -> queries,
      "config" -> Map(
        "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "gc" -> collectors.map(_.getName),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "times" -> Map("jvm_start_ms" -> runtime.getStartTime,
        "session_ready_ms" -> sessionReadyMs, "setup_end_ms" -> setupEndMs),
      "cache_state" -> Map("root" -> FastScratch.cacheRoot,
        "at_start" -> cacheAtStart, "after_setup" -> cacheAfterSetup),
      "passes" -> passes.toList,
      "tables_probe" -> tablesProbe)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opts("out")), dump)
    spark.stop()
  }

  /** The cross-process `graft_*` caches present under the cache root. */
  private def graftCaches(): Seq[String] =
    Option(new File(FastScratch.cacheRoot).list()).toSeq.flatten
      .filter(_.startsWith("graft_")).sorted

  /** Order-insensitive digest input: every column as-is, except map-typed
    * ones (which Spark cannot hash) as JSON. */
  private def hashable(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) F.to_json(F.struct(c)) else c
    }
  }
}

private final class PerfBench(spark: SparkSession, workload: String,
                              queries: Seq[String], seed: Long, data: String) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val builders = new scala.util.Random(seed)
    .shuffle(queries.map(q => q -> SparkEntry.queries(q)))
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  private final class Spans(probe: Option[LayerProbe]) {
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    def apply[T](name: String, parent: Long, qid: Long)(f: Long => T): T = {
      if (probe.isEmpty) return f(-1L)
      val id = newId()
      val (c0, n0, r0, t0) = (compiles, compileNs, rulesNs, System.nanoTime())
      try f(id)
      finally records += Map("id" -> id, "parent" -> parent, "qid" -> qid,
        "name" -> name, "start_ns" -> t0, "end_ns" -> System.nanoTime(),
        "compiles" -> (compiles - c0), "compile_ns" -> (compileNs - n0),
        "rules_ns" -> (rulesNs - r0))
    }
  }

  private def reset(): Unit = {
    CacheReaper.release()
    Tables.clearSchemaCache()
  }

  private def attach(p: LayerProbe): Unit = {
    sc.addSparkListener(p)
    spark.listenerManager.register(p.executions)
    spark.streams.addListener(p.streams)
  }

  private def detach(p: LayerProbe): Unit = {
    PerfBenchAccess.drainListeners(sc)
    sc.removeSparkListener(p)
    spark.listenerManager.unregister(p.executions)
    spark.streams.removeListener(p.streams)
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")

  /** Row count and order-insensitive hash of a query's full result. */
  private def digest(df: DataFrame): (Long, String) = {
    val row = df.agg(F.count(F.lit(1)),
      F.sum(F.xxhash64(hashable(df): _*).cast(DecimalType(20, 0)))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** One pass over the workload. Each query's full result goes to the
    * `noop` sink, or with `check` into its output digest. `traced` carries
    * the probe to attach. */
  def pass(kind: String, traced: Option[LayerProbe],
           check: Boolean = false): Map[String, Any] = {
    traced.foreach(attach)
    val spans = new Spans(traced)
    heapPools.foreach(_.resetPeakUsage())
    val (cpu0, gc0, alloc0, t0) = (os.getProcessCpuTime, gcMs,
      threads.getTotalThreadAllocatedBytes, System.nanoTime())
    val records = spans("pass", -1L, -1L) { passId =>
      spans("reset", passId, -1L)(_ => reset())
      builders.map { case (q, build) =>
        val qid = newId()
        traced.foreach { p => p.currentQuery = q; p.currentQid = qid }
        val group = s"$workload/$q"
        var out: Option[(Long, String)] = None
        val q0 = System.nanoTime()
        var built = -1L
        val error = spans("query", passId, qid) { queryId =>
          try {
            sc.setJobGroup(group, "build")
            val df = spans("build", queryId, qid)(_ => build(spark, data))
            built = System.nanoTime()
            sc.setJobGroup(group, if (check) "check" else "action")
            spans("action", queryId, qid) { _ =>
              if (check) out = Some(digest(df))
              else df.write.format("noop").mode("overwrite").save()
            }
            None
          } catch { case e: Throwable => Some(firstLine(e)) }
          finally sc.clearJobGroup()
        }
        // A failed query keeps its time: up to the failure, in the phase
        // that failed.
        val q1 = System.nanoTime()
        val buildNs = (if (built < 0) q1 else built) - q0
        val actionNs = q1 - q0 - buildNs
        Map("query" -> q, "qid" -> qid, "build_ns" -> buildNs,
          "action_ns" -> actionNs, "error" -> error,
          "rows" -> out.map(_._1), "hash" -> out.map(_._2))
      }
    }
    val wallNs = System.nanoTime() - t0
    val cpuNs = os.getProcessCpuTime - cpu0
    val allocated = threads.getTotalThreadAllocatedBytes - alloc0
    val gc = gcMs - gc0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val persisted = sc.getPersistentRDDs.size
    val cacheMem = sc.getRDDStorageInfo.map(_.memSize).sum
    val layers = traced.map { p => detach(p); p.take() }.getOrElse(Map.empty)
    Map("kind" -> kind, "traced" -> traced.isDefined, "wall_ns" -> wallNs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gc, "heap_peak_bytes" -> heapPeak,
      "alloc_bytes" -> allocated,
      "persisted_rdds" -> persisted, "cache_mem_bytes" -> cacheMem,
      "queries" -> records, "spans" -> spans.records.toList) ++ layers
  }

  /** Times the benchmark's own calls into `Tables`: a full `load` right
    * after the memo is cleared, and warm single-table lookups. */
  def probeTables(): Map[String, Any] = {
    val loadCold = (1 to 3).map { _ =>
      Tables.clearSchemaCache()
      val t0 = System.nanoTime()
      Tables.load(spark, data)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = (1 to 30).map { i =>
      val t0 = System.nanoTime()
      Tables.table(spark, data, Tables.all(i % Tables.all.size))
      (System.nanoTime() - t0) / 1e9
    }
    Map("load_cold_s" -> loadCold, "table_s" -> warm)
  }
}
