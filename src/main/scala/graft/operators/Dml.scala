package graft.operators

import org.apache.spark.sql.functions._
import graft.QuerySpec

/** DDL/DML subset — CREATE TABLE AS SELECT (CreateTableAsSelectStmt.java:
  * 1-239), INSERT INTO/OVERWRITE with dynamic partitions
  * (InsertStmt.java:1-851, HdfsTableSink.java:1-163), UPDATE/DELETE
  * (Kudu-only in the reference, ModifyStmt.java:41-307 — rewritten
  * internally to a SELECT producing key cols + new values; we model the
  * same read-modify-overwrite on keyed Parquet), CREATE VIEW
  * (CreateViewStmt.java).
  *
  * Each query exercises the write path end-to-end (df.write → parquet /
  * partitionBy) then reads its own output back, so the driver's compare
  * validates the round-trip. Writes go to /tmp/graft_dml/<name>; at
  * cluster scale the same code writes partitioned HDFS/S3 directories.
  */
object Dml {

  private def outDir(name: String, sfDir: String): String =
    s"/tmp/graft_dml/${name}_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  /** CTAS: materialize an aggregate as a Parquet table, then query it. */
  val q70Ctas: QuerySpec = QuerySpec(
    "q70_dml_ctas",
    """SELECT o_custkey, n_orders, total
      |FROM (SELECT o_custkey, COUNT(*) AS n_orders,
      |             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |      FROM orders GROUP BY o_custkey) t
      |WHERE n_orders >= 12
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val path = outDir("ctas", dir)
    sp.table("orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
      .write.mode("overwrite").parquet(path)
    sp.read.parquet(path)
      .filter(col("n_orders") >= 12)
      .orderBy(col("o_custkey"))
  }

  /** INSERT OVERWRITE with dynamic partitioning: write partitioned by
    * order priority, read back one partition — the read plan must prune
    * to that partition directory (HdfsScanNode partition pruning /
    * Spark PartitioningAwareFileIndex). */
  val q71InsertPartitioned: QuerySpec = QuerySpec(
    "q71_dml_insert_partitioned",
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val path = outDir("part", dir)
    sp.table("orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    sp.read.parquet(path)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** UPDATE emulation (ModifyStmt → read-modify-overwrite): +10% price on
    * urgent orders, via an updates-side MERGE shape (left join on the key,
    * coalesce new values) — the scalable pattern for keyed Parquet. */
  val q72UpdateMerge: QuerySpec = QuerySpec(
    "q72_dml_update_merge",
    """SELECT o_orderkey,
      |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey <= 3000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val path = outDir("upd", dir)
    val base = sp.table("orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    val updates = base.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("u_key"), (col("o_totalprice") * 1.1).as("u_price"))
    base.join(updates, col("o_orderkey") === col("u_key"), "left_outer")
      .select(col("o_orderkey"),
        coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"))
      .write.mode("overwrite").parquet(path)
    sp.read.parquet(path)
      .filter(col("o_orderkey") <= 3000)
      .orderBy("o_orderkey")
  }

  /** DELETE emulation: anti-filter rewrite + overwrite, then a rollup on
    * the surviving rows. */
  val q73Delete: QuerySpec = QuerySpec(
    "q73_dml_delete",
    """SELECT o_orderstatus, COUNT(*) AS n
      |FROM orders
      |WHERE NOT (o_totalprice < 50000)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val path = outDir("del", dir)
    sp.table("orders")
      .filter(!(col("o_totalprice") < 50000))
      .write.mode("overwrite").parquet(path)
    sp.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** CREATE VIEW + view-on-view (CreateViewStmt / inline-view
    * substitution): queries compose through the catalog. */
  val q74Views: QuerySpec = QuerySpec(
    "q74_dml_views",
    """SELECT nation, n_rich
      |FROM (SELECT n_name AS nation, COUNT(*) AS n_rich
      |      FROM customer JOIN nation ON c_nationkey = n_nationkey
      |      WHERE c_acctbal > 5000
      |      GROUP BY n_name) v
      |WHERE n_rich >= 10
      |ORDER BY nation""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    graft.discard(sp.sql("""CREATE OR REPLACE TEMPORARY VIEW v_rich AS
             |SELECT n_name AS nation, COUNT(*) AS n_rich
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_acctbal > 5000
             |GROUP BY n_name""".stripMargin))
    graft.discard(sp.sql("""CREATE OR REPLACE TEMPORARY VIEW v_rich_top AS
             |SELECT * FROM v_rich WHERE n_rich >= 10""".stripMargin))
    // the result holds its analyzed plan, so the views go before it
    // runs: no session-global name outlives the query
    try sp.sql("SELECT nation, n_rich FROM v_rich_top ORDER BY nation")
    finally Seq("v_rich_top", "v_rich").foreach(v => graft.discard(sp.catalog.dropTempView(v)))
  }

  /** Catalog/metadata surface (SHOW TABLES / DESCRIBE —
    * service/MetadataOp.java:53-645). The registered test-table set is a
    * static contract, so the oracle is its literal VALUES listing — a real
    * differential on the catalog surface (a missed or renamed registration
    * fails the compare). Layout/DML queries create `g_*` managed tables in
    * the same session; they are session-order-dependent noise here and are
    * filtered out. */
  val q75Catalog: QuerySpec = QuerySpec(
    "q75_dml_catalog",
    graft.sources.TestTables.names.sorted
      .map(n => s"('$n', true)")
      .mkString(
        "SELECT tableName, isTemporary FROM (VALUES ",
        ", ",
        ") t(tableName, isTemporary) ORDER BY tableName")) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.sql("SHOW TABLES").select("tableName", "isTemporary")
      .filter(col("tableName").isin(graft.sources.TestTables.names: _*))
      .orderBy("tableName")
  }

  /** File-format surface (catalog/HdfsFileFormat.java:42-116: PARQUET,
    * TEXTFILE, …): the same relation round-trips through parquet, CSV
    * (the TEXTFILE analogue, explicit schema on read), ORC, and JSON,
    * and every copy must agree with the oracle. */
  val q77Formats: QuerySpec = QuerySpec(
    "q77_dml_formats",
    """SELECT fmt, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM (SELECT 'csv' AS fmt, o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |      UNION ALL SELECT 'json', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |      UNION ALL SELECT 'orc', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |      UNION ALL SELECT 'parquet', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F') t
      |GROUP BY fmt
      |ORDER BY fmt""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val src = sp.table("orders").filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val schema = src.schema
    val copies = Seq("csv", "json", "orc", "parquet").map { fmt =>
      val path = outDir(s"fmt_$fmt", dir)
      src.write.mode("overwrite").format(fmt).save(path)
      sp.read.schema(schema).format(fmt).load(path)
        .select(lit(fmt).as("fmt"), col("o_orderkey"), col("o_totalprice"))
    }
    copies.reduce(_.unionAll(_))
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
      .orderBy(col("fmt"))
  }

  private def dropManaged(sp: org.apache.spark.sql.SparkSession, name: String): Unit = {
    graft.discard(sp.sql(s"DROP TABLE IF EXISTS $name"))
    // the session-scoped metastore forgets tables but their warehouse
    // dirs survive — delete the location too or the next run fails with
    // LOCATION_ALREADY_EXISTS
    val wh = new java.net.URI(sp.conf.get("spark.sql.warehouse.dir"))
    val dir = new java.io.File(
      if (wh.getScheme == null) wh.getPath else new java.io.File(wh).getPath, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(dir)
  }

  /** CHAR(n)/VARCHAR(n) semantics (catalog/ScalarType.java:252-370;
    * grammar sql-parser.cup:8600-8718): CHAR is fixed-width — written
    * values are space-padded to n, reads return the padded form
    * (spark.sql.readSideCharPadding), and comparisons pad the shorter
    * side (ApplyCharTypePadding), so `c = 'ab'` is TRUE against CHAR(5)
    * 'ab   ' while the CAST-to-STRING comparison is FALSE; VARCHAR(n)
    * stores verbatim (trailing spaces kept) and only enforces the
    * length limit on write. DuckDB's CHAR(n) is a bare VARCHAR alias
    * with neither padding nor enforcement, so the oracle emulates every
    * rule explicitly with rpad over the same VALUES — the oracle text
    * IS the semantics contract. Over-limit write rejection (both types)
    * is spec-tested in CatalogSpec. */
  val q156CharVarchar: QuerySpec = QuerySpec(
    "q156_dml_char_varchar",
    """WITH src AS (SELECT * FROM (VALUES
      |    (1, 'ab', 'ab'), (2, 'abcde', 'abcde'), (3, 'x y', 'x y'),
      |    (4, '', ''), (5, 'ab ', 'ab ')) t(id, cin, vin)),
      |p AS (SELECT id, rpad(cin, 5, ' ') AS c, vin AS v FROM src)
      |SELECT id, c AS c_read, length(c) AS c_len, v AS v_read,
      |  length(v) AS v_len,
      |  c = rpad('ab', 5, ' ') AS c_eq_short,
      |  c = 'ab   ' AS c_eq_padded,
      |  v = 'ab' AS v_eq_short,
      |  c || '|' AS c_concat,
      |  c = 'ab' AS cast_eq_short
      |FROM p ORDER BY id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    dropManaged(sp, "g_chars")
    graft.discard(
      sp.sql("CREATE TABLE g_chars (id INT, c CHAR(5), v VARCHAR(5)) USING parquet"))
    graft.discard(sp.sql(
      """INSERT INTO g_chars VALUES
        |  (1, 'ab', 'ab'), (2, 'abcde', 'abcde'), (3, 'x y', 'x y'),
        |  (4, '', ''), (5, 'ab ', 'ab ')""".stripMargin))
    sp.sql(
      """SELECT id, c AS c_read, length(c) AS c_len, v AS v_read,
        |  length(v) AS v_len,
        |  c = 'ab' AS c_eq_short,
        |  c = 'ab   ' AS c_eq_padded,
        |  v = 'ab' AS v_eq_short,
        |  concat(c, '|') AS c_concat,
        |  CAST(c AS STRING) = 'ab' AS cast_eq_short
        |FROM g_chars ORDER BY id""".stripMargin)
  }

  /** CREATE FUNCTION ... AS 'class' exercised end-to-end through the
    * correctness gate: the Java-UDF DDL bridge (graft.functions.UdfDdl;
    * hive/executor/UdfExecutor.java:61-290) resolves the evaluate()
    * symbol by reflection and the bridged function runs inside a real
    * query over the documents table. The oracle re-expresses the UDF's
    * semantics (trim + lowercase + whitespace collapse) in portable SQL,
    * so the reflective invocation path itself is value-checked. */
  val q157UdfBridge: QuerySpec = QuerySpec(
    "q157_dml_create_function",
    """SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text,
      |  length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    graft.discard(graft.functions.UdfDdl(sp,
      "CREATE FUNCTION g_norm_ws(STRING) RETURNS STRING AS 'graft.functions.NormalizeWs'"))
    sp.sql(
      """SELECT doc_id, g_norm_ws(text) AS norm_text, length(g_norm_ws(text)) AS n
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin)
  }

  /** HiveServer2 GetTypeInfo analogue (service/MetadataOp.java:557-645
    * createGetTypeInfoResults, serving getTypeInfo at :491): the
    * supported-primitive-type matrix in the JDBC DatabaseMetaData
    * getTypeInfo shape. The reference iterates its PrimitiveType enum and
    * skips INVALID/DATE/DATETIME and the parameterized DECIMAL/CHAR/
    * VARCHAR; the analogue iterates the corresponding Spark SQL types
    * (SURVEY §1.2 mapping) and derives each JDBC column from the Spark
    * type's own properties — JDBC code, numeric precision, string
    * case-sensitivity, radix — rather than hardcoding a table. */
  def typeInfo(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import java.sql.{DatabaseMetaData, Types => JdbcT}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val supported: Seq[(String, DataType)] = Seq(
      "NULL_TYPE" -> NullType, "BOOLEAN" -> BooleanType, "TINYINT" -> ByteType,
      "SMALLINT" -> ShortType, "INT" -> IntegerType, "BIGINT" -> LongType,
      "FLOAT" -> FloatType, "DOUBLE" -> DoubleType, "TIMESTAMP" -> TimestampNTZType,
      "STRING" -> StringType, "BINARY" -> BinaryType)
    def jdbcType(dt: DataType): Int = dt match {
      case NullType => JdbcT.NULL
      case BooleanType => JdbcT.BOOLEAN
      case ByteType => JdbcT.TINYINT
      case ShortType => JdbcT.SMALLINT
      case IntegerType => JdbcT.INTEGER
      case LongType => JdbcT.BIGINT
      case FloatType => JdbcT.FLOAT
      case DoubleType => JdbcT.DOUBLE
      case TimestampNTZType => JdbcT.TIMESTAMP
      case StringType => JdbcT.VARCHAR // STRING reports as VARCHAR, like Hive
      case BinaryType => JdbcT.BINARY
      case other => throw new IllegalArgumentException(other.sql)
    }
    // JDBC decimal-digit precision of the numeric types (Type.java:489-510)
    def precision(dt: DataType): Any = dt match {
      case ByteType => 3
      case ShortType => 5
      case IntegerType => 10
      case LongType => 19
      case FloatType => 7
      case DoubleType => 15
      case _ => null
    }
    val rows = supported.map { case (name, dt) =>
      val numeric = dt.isInstanceOf[NumericType]
      Row(
        name,                                   // TYPE_NAME
        jdbcType(dt),                           // DATA_TYPE
        precision(dt),                          // PRECISION
        null,                                   // LITERAL_PREFIX
        null,                                   // LITERAL_SUFFIX
        null,                                   // CREATE_PARAMS
        DatabaseMetaData.typeNullable,          // NULLABLE
        dt == StringType,                       // CASE_SENSITIVE
        DatabaseMetaData.typeSearchable,        // SEARCHABLE
        !numeric,                               // UNSIGNED_ATTRIBUTE
        false,                                  // FIXED_PREC_SCALE
        false,                                  // AUTO_INCREMENT
        null,                                   // LOCAL_TYPE_NAME
        0,                                      // MINIMUM_SCALE
        0,                                      // MAXIMUM_SCALE
        null,                                   // SQL_DATA_TYPE
        null,                                   // SQL_DATETIME_SUB
        if (numeric) 10 else null)              // NUM_PREC_RADIX
    }
    val schema = StructType(Seq(
      StructField("TYPE_NAME", StringType, nullable = false),
      StructField("DATA_TYPE", IntegerType, nullable = false),
      StructField("PRECISION", IntegerType, nullable = true),
      StructField("LITERAL_PREFIX", StringType, nullable = true),
      StructField("LITERAL_SUFFIX", StringType, nullable = true),
      StructField("CREATE_PARAMS", StringType, nullable = true),
      StructField("NULLABLE", IntegerType, nullable = false),
      StructField("CASE_SENSITIVE", BooleanType, nullable = false),
      StructField("SEARCHABLE", IntegerType, nullable = false),
      StructField("UNSIGNED_ATTRIBUTE", BooleanType, nullable = false),
      StructField("FIXED_PREC_SCALE", BooleanType, nullable = false),
      StructField("AUTO_INCREMENT", BooleanType, nullable = false),
      StructField("LOCAL_TYPE_NAME", StringType, nullable = true),
      StructField("MINIMUM_SCALE", IntegerType, nullable = false),
      StructField("MAXIMUM_SCALE", IntegerType, nullable = false),
      StructField("SQL_DATA_TYPE", IntegerType, nullable = true),
      StructField("SQL_DATETIME_SUB", IntegerType, nullable = true),
      StructField("NUM_PREC_RADIX", IntegerType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** [[typeInfo]] as a registered catalog query. The oracle is a
    * hand-written literal of the reference's matrix — independent of the
    * Scala derivation above, so a drifted mapping (wrong JDBC code, wrong
    * precision, wrong case-sensitivity) fails the compare. */
  val q173TypeInfo: QuerySpec = QuerySpec(
    "q173_catalog_typeinfo",
    """SELECT * FROM (VALUES
      |  ('BIGINT',    CAST(-5 AS INT), CAST(19 AS INT),   false, false, CAST(10 AS INT)),
      |  ('BINARY',    CAST(-2 AS INT), CAST(NULL AS INT), false, true,  CAST(NULL AS INT)),
      |  ('BOOLEAN',   CAST(16 AS INT), CAST(NULL AS INT), false, true,  CAST(NULL AS INT)),
      |  ('DOUBLE',    CAST(8 AS INT),  CAST(15 AS INT),   false, false, CAST(10 AS INT)),
      |  ('FLOAT',     CAST(6 AS INT),  CAST(7 AS INT),    false, false, CAST(10 AS INT)),
      |  ('INT',       CAST(4 AS INT),  CAST(10 AS INT),   false, false, CAST(10 AS INT)),
      |  ('NULL_TYPE', CAST(0 AS INT),  CAST(NULL AS INT), false, true,  CAST(NULL AS INT)),
      |  ('SMALLINT',  CAST(5 AS INT),  CAST(5 AS INT),    false, false, CAST(10 AS INT)),
      |  ('STRING',    CAST(12 AS INT), CAST(NULL AS INT), true,  true,  CAST(NULL AS INT)),
      |  ('TIMESTAMP', CAST(93 AS INT), CAST(NULL AS INT), false, true,  CAST(NULL AS INT)),
      |  ('TINYINT',   CAST(-6 AS INT), CAST(3 AS INT),    false, false, CAST(10 AS INT))
      |) t(type_name, data_type, prec, case_sensitive, unsigned_attr, radix)
      |ORDER BY type_name""".stripMargin) { (s, dir) =>
    graft.discard(QuerySpec.prepared(s, dir))
    typeInfo(s).select(
      col("TYPE_NAME").as("type_name"), col("DATA_TYPE").as("data_type"),
      col("PRECISION").as("prec"), col("CASE_SENSITIVE").as("case_sensitive"),
      col("UNSIGNED_ATTRIBUTE").as("unsigned_attr"), col("NUM_PREC_RADIX").as("radix"))
      .orderBy("type_name")
  }

  /** SHOW FILES IN <table> [PARTITION (spec)] — ShowFilesStmt
    * (sql-parser.cup:318,5818-5840): one row per data file with its size
    * and owning partition. Backed by the table's own file index (the
    * listing the scan planner uses) — a partition spec narrows the
    * listing through partition pruning, not a post-hoc path filter, so
    * the result is exactly the file set a pruned scan would read. */
  def showFiles(spark: org.apache.spark.sql.SparkSession, table: String,
      partition: Map[String, String] = Map.empty):
      org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val pruned = partition.foldLeft(spark.table(table)) {
      case (d, (k, v)) => d.filter(col(k) === v)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    pruned.inputFiles.toSeq.map { f =>
      // inputFiles renders URL-encoded URIs ("r_name=MIDDLE%20EAST") —
      // round through URI so the filesystem sees the decoded path
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      val size = p.getFileSystem(conf).getFileStatus(p).getLen
      val part = p.getParent.toString.split('/')
        .filter(_.matches("[^=/]+=[^=/]*")).mkString("/")
      (p.toString, size, part)
    }.toDF("path", "size_bytes", "partition").orderBy("path")
  }

  val all: Seq[QuerySpec] = Seq(
    q70Ctas, q71InsertPartitioned, q72UpdateMerge, q73Delete, q74Views,
    q75Catalog, q77Formats, q156CharVarchar, q157UdfBridge, q173TypeInfo)
}
