package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.spark.sql.types._

/** Avro-schema frontend: converts an Avro schema (JSON) to a Spark
  * `StructType`, surfacing the reference's `CREATE TABLE LIKE AVRO`
  * capability (util/AvroSchemaParser.java:1-214,
  * analysis/CreateTableLikeFileStmt.java) as schema-only DDL.
  *
  * Scope note: the runtime has no Avro *data* connector (only the Avro
  * core jar ships), so this is deliberately the frontend half the
  * reference itself implements in its analyzer — schema conversion and
  * validation; the created table stores parquet. The conversion rules
  * and the rejection set mirror the reference:
  *
  *  - the top-level schema must be a RECORD;
  *  - primitives: string→STRING, int→INT, boolean→BOOLEAN, long→BIGINT,
  *    float→FLOAT, double→DOUBLE;
  *  - a union of exactly [T, null] (either order) is nullable T — the
  *    Avro nullability idiom is hidden from the user;
  *  - array→ARRAY, map→MAP<STRING, V> (Avro map keys are always
  *    strings), nested record→STRUCT; field docs become column
  *    comments;
  *  - BYTES requires logicalType=decimal with a natural-number
  *    `precision` property (`scale` defaults to 0 per the Avro spec);
  *    bare BYTES, other logicalTypes on BYTES, non-nullable unions,
  *    enum, fixed, and null are rejected with the reference's error
  *    phrasing.
  *
  * Malformed schema JSON propagates Avro's own `SchemaParseException`,
  * as in the reference. */
object AvroSchemas {

  /** Conversion rejection — the analogue of the reference's
    * AnalysisException for Avro types it does not support. */
  final class UnsupportedAvroTypeException(msg: String)
    extends IllegalArgumentException(msg)

  private def fail(msg: String): Nothing = throw new UnsupportedAvroTypeException(msg)

  /** Parses Avro schema JSON into the equivalent Spark schema. */
  def toStructType(schemaJson: String): StructType = {
    val schema = new AvroSchema.Parser().parse(schemaJson)
    if (schema.getType != AvroSchema.Type.RECORD)
      fail(s"Schema for table must be of type RECORD. Received type: ${schema.getType}")
    StructType(schema.getFields.asScala.toSeq.map(toField))
  }

  /** Creates an empty catalog table whose columns come from the Avro
    * schema JSON — `CREATE TABLE <name> LIKE AVRO '<schema>'`. Storage
    * is parquet (see the scope note above). */
  def createTableLikeAvro(
      spark: org.apache.spark.sql.SparkSession, table: String, schemaJson: String): Unit =
    graft.discard(spark.catalog.createTable(table, "parquet", toStructType(schemaJson),
      Map.empty[String, String]))

  private def toField(f: AvroSchema.Field): StructField = {
    val md = Option(f.doc())
      .map(d => new MetadataBuilder().putString("comment", d).build())
      .getOrElse(Metadata.empty)
    // every column is nullable at the table level, as in the reference
    // (its column model has no NOT NULL); the union-with-null unwrap in
    // toDataType is about the Avro type shape, not table nullability
    StructField(f.name(), toDataType(f.schema(), f.name()), nullable = true, md)
  }

  private def toDataType(s: AvroSchema, col: String): DataType = {
    import AvroSchema.Type._
    if (isNullableUnion(s)) return toDataType(nonNullBranch(s), col)
    s.getType match {
      case STRING => StringType
      case INT => IntegerType
      case BOOLEAN => BooleanType
      case LONG => LongType
      case FLOAT => FloatType
      case DOUBLE => DoubleType
      case ARRAY => ArrayType(toDataType(s.getElementType, col))
      case MAP => MapType(StringType, toDataType(s.getValueType, col))
      case RECORD =>
        StructType(s.getFields.asScala.toSeq.map(toField))
      case BYTES => decimalOf(s, col)
      case other => fail(s"Unsupported type '${other.getName}' of column '$col'")
    }
  }

  /** A union of exactly two branches, one of which is null. */
  private def isNullableUnion(s: AvroSchema): Boolean =
    s.getType == AvroSchema.Type.UNION && s.getTypes.size == 2 &&
      s.getTypes.asScala.exists(_.getType == AvroSchema.Type.NULL)

  private def nonNullBranch(s: AvroSchema): AvroSchema =
    s.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).get

  /** BYTES is only admitted as a decimal carrier: logicalType=decimal
    * with a required natural-number precision and a scale defaulting to
    * 0 — the reference's exact rule set and error phrasing. */
  private def decimalOf(s: AvroSchema, col: String): DataType =
    Option(s.getObjectProp("logicalType")).map(_.toString) match {
      case None =>
        fail(s"logicalType for column '$col' specified at wrong level or was not specified")
      case Some(lt) if lt.equalsIgnoreCase("decimal") =>
        val precision = decimalProp(s, "precision").getOrElse(
          fail("No 'precision' property specified for 'decimal' logicalType"))
        val scale = decimalProp(s, "scale").getOrElse(0)
        if (precision > DecimalType.MAX_PRECISION || scale > precision)
          fail(s"Invalid DECIMAL($precision,$scale) for column '$col'")
        DecimalType(precision, scale)
      case Some(lt) =>
        fail(s"Unsupported logicalType: '$lt' for column '$col' with type BYTES")
    }

  /** A decimal property must be a natural number (the reference parses
    * with getValueAsInt(-1) and rejects negatives, which also rejects
    * non-numeric values). */
  private def decimalProp(s: AvroSchema, name: String): Option[Int] =
    Option(s.getObjectProp(name)).map {
      case n: Number if n.intValue() >= 0 && n.doubleValue() == n.intValue() => n.intValue()
      case other => fail(s"Invalid decimal '$name' property value: $other")
    }

  /** The reverse direction — a Spark schema rendered as an Avro record
    * schema JSON, mirroring `util/AvroSchemaConverter.java:52-209` (the
    * reference generates this when an Avro table is created without an
    * explicit schema): every column and nested element wraps in a
    * `[null, T]` union (the reference's column model is always
    * nullable); tinyint/smallint widen to int; char/varchar and
    * timestamp render as string; decimal is bytes + logicalType decimal
    * with integer precision/scale props; map keys are string per the
    * Avro spec (the key type is not consulted, as in the reference);
    * nested structs are named `record_<n>` in conversion order; an
    * empty/absent top-level name falls back to `baseRecord`. Types
    * outside the reference's mapping (date, binary, interval, ...) are
    * rejected with its `cannot be converted` phrasing. Round trip:
    * [[toStructType]] of the result recovers the schema up to those
    * documented widenings. */
  def toAvroSchema(schema: StructType, schemaName: String = ""): String = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    def nullable(t: AvroSchema): AvroSchema =
      AvroSchema.createUnion(java.util.Arrays.asList(
        AvroSchema.create(AvroSchema.Type.NULL), t))
    def record(name: String, fields: Seq[StructField]): AvroSchema = {
      val rec = AvroSchema.createRecord(name, null, null, false)
      rec.setFields(fields.map { f =>
        val doc = if (f.metadata.contains("comment")) f.metadata.getString("comment") else null
        new AvroSchema.Field(f.name, nullable(convert(f.dataType)), doc,
          null.asInstanceOf[Object])
      }.asJava)
      rec
    }
    def convert(dt: DataType): AvroSchema = dt match {
      case StringType | _: CharType | _: VarcharType | TimestampType =>
        AvroSchema.create(AvroSchema.Type.STRING)
      case ByteType | ShortType | IntegerType => AvroSchema.create(AvroSchema.Type.INT)
      case LongType => AvroSchema.create(AvroSchema.Type.LONG)
      case BooleanType => AvroSchema.create(AvroSchema.Type.BOOLEAN)
      case FloatType => AvroSchema.create(AvroSchema.Type.FLOAT)
      case DoubleType => AvroSchema.create(AvroSchema.Type.DOUBLE)
      case d: DecimalType =>
        val bytes = AvroSchema.create(AvroSchema.Type.BYTES)
        bytes.addProp("logicalType", "decimal")
        bytes.addProp("precision", Integer.valueOf(d.precision))
        bytes.addProp("scale", Integer.valueOf(d.scale))
        bytes
      case ArrayType(et, _) => AvroSchema.createArray(nullable(convert(et)))
      case MapType(_, vt, _) => AvroSchema.createMap(nullable(convert(vt)))
      case st: StructType => record(s"record_${counter.getAndIncrement()}", st.fields.toSeq)
      case other => throw new UnsupportedOperationException(
        s"${other.sql} cannot be converted to an Avro type")
    }
    val name = if (schemaName == null || schemaName.isEmpty) "baseRecord" else schemaName
    org.apache.avro.SchemaFormatter.format(
      "json/pretty", record(name, schema.fields.toSeq))
  }
  /** Reads Avro container files into a DataFrame — the data half of the
    * Avro capability, built on the runtime's bundled avro + avro-mapred
    * jars (no spark-avro connector ships here). The read is SPLITTABLE:
    * `AvroInputFormat` honors Avro sync markers, so one 100 TB
    * directory fans out into block-aligned splits exactly like the
    * reference's HDFS scan ranges (planner/HdfsScanNode.java) — this is
    * not a whole-file-per-task reader. Records convert to Rows
    * per-element inside the partition iterator (the input format reuses
    * its wrapper object, so conversion must not be deferred), driven by
    * the DECLARED schema from [[toStructType]] — the same
    * reader-schema-wins contract as the reference's Avro tables.
    * Scale note: no shuffle, no driver materialization; downstream
    * pruning/pushdown happens in Catalyst as with any RDD-backed scan
    * (convert once to parquet for scan-level pushdown, as the scope
    * note advises). */
  def readAvro(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schemaJson: String): org.apache.spark.sql.DataFrame = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.{AvroInputFormat, AvroWrapper}
    import org.apache.hadoop.io.NullWritable
    val schema = toStructType(schemaJson)
    val rdd = spark.sparkContext.hadoopFile(
      path,
      classOf[AvroInputFormat[GenericRecord]],
      classOf[AvroWrapper[GenericRecord]],
      classOf[NullWritable])
    val rows = rdd.mapPartitions { it =>
      // convert immediately: the record reader reuses the wrapper
      it.map { case (w, _) => recordToRow(w.datum(), schema) }
    }
    spark.createDataFrame(rows, schema)
  }

  private def recordToRow(
      rec: org.apache.avro.generic.GenericRecord,
      st: StructType): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(
      st.fields.toSeq.map(f => convertDatum(rec.get(f.name), f.dataType)): _*)

  /** Avro runtime value → Spark external row value, driven by the
    * declared Spark type (decimal bytes are the two's-complement
    * unscaled integer per the Avro spec). */
  private def convertDatum(v: Any, dt: DataType): Any = {
    if (v == null) return null
    dt match {
      case StringType => v.toString
      case IntegerType | LongType | FloatType | DoubleType | BooleanType => v
      case d: DecimalType =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val bytes = new Array[Byte](bb.remaining())
        bb.duplicate().get(bytes)
        BigDecimal(new java.math.BigInteger(bytes), d.scale)
          .setScale(d.scale)
      case ArrayType(et, _) =>
        import scala.jdk.CollectionConverters._
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq.map(convertDatum(_, et))
      case MapType(_, vt, _) =>
        import scala.jdk.CollectionConverters._
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
          case (k, mv) => k.toString -> convertDatum(mv, vt)
        }.toMap
      case nested: StructType =>
        recordToRow(v.asInstanceOf[org.apache.avro.generic.GenericRecord], nested)
      case other =>
        throw new UnsupportedAvroTypeException(
          s"no Avro datum conversion for ${other.sql}")
    }
  }

  /** Writes a DataFrame as Avro container files — the write half of the
    * round trip, closing the format without the spark-avro connector:
    * the schema renders through [[toAvroSchema]] (so the written files
    * carry exactly the reference's generated-schema conventions —
    * [null, T] unions, decimal-as-bytes, string map keys) and each
    * PARTITION writes its own `part-NNNNN.avro` through the Hadoop
    * FileSystem API — fully distributed, no driver materialization, the
    * same one-file-per-task layout every columnar sink uses. Written
    * files read back with [[readAvro]] (round-trip spec-pinned) and any
    * stock Avro tool. Types follow toAvroSchema's documented widenings
    * (timestamp/char render as string).
    *
    * Commit protocol (task- and job-level atomicity): each task attempt
    * writes to an attempt-unique `_temporary-…` file and renames it into
    * `part-NNNNN.avro` on success, so a speculative or retried attempt
    * can never interleave bytes with the original into one corrupt
    * container — the FS-atomic rename means exactly one complete attempt
    * wins. A `_SUCCESS` marker is removed before the job and written
    * after all partitions commit, so a mid-job failure leaves a
    * directory distinguishable from complete output (readers that care
    * check the marker; [[readAvro]] skips `_`-prefixed files either
    * way). */
  def writeAvro(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import org.apache.avro.{Schema => ASchema}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecord}
    val sparkSchema = df.schema
    val schemaJson = toAvroSchema(sparkSchema, "sparkWrite")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs0 = dir.getFileSystem(hconf.value)
    fs0.mkdirs(dir)
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    fs0.delete(success, false) // job start: output is now provisional
    // sweep temp leftovers from a previously-failed job in this directory
    fs0.listStatus(dir).foreach { st =>
      if (st.getPath.getName.startsWith("_temporary-")) fs0.delete(st.getPath, false)
    }
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val schema = new ASchema.Parser().parse(schemaJson)
      val tc = org.apache.spark.TaskContext.get()
      val attempt = if (tc == null) 0L else tc.taskAttemptId()
      val finalFile = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.avro")
      val tmpFile = new org.apache.hadoop.fs.Path(
        dir, f"_temporary-part-$pid%05d-attempt-$attempt.avro")
      val fs = finalFile.getFileSystem(hconf.value)
      val out = fs.create(tmpFile, true)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, out)
      var n = 0L
      try {
        rows.foreach { row =>
          w.append(rowToRecord(row, sparkSchema, schema))
          n += 1
        }
      } finally w.close() // closes the stream
      // commit: atomic rename into place; on a race with a sibling
      // attempt, exactly one complete file survives and the loser's temp
      // is dropped
      if (fs.exists(finalFile)) fs.delete(finalFile, false)
      if (!fs.rename(tmpFile, finalFile)) {
        fs.delete(tmpFile, false)
        if (!fs.exists(finalFile))
          throw new java.io.IOException(s"avro commit failed for $finalFile")
      }
      Iterator.single(n)
    }.count(): Unit // one action drives all partition writes
    fs0.create(success, true).close() // job commit marker
    ()
  }

  /** Spark external Row → Avro GenericRecord under the generated schema
    * (every field is a [null, T] union per [[toAvroSchema]]). */
  private def rowToRecord(
      row: org.apache.spark.sql.Row,
      st: StructType,
      avro: org.apache.avro.Schema): org.apache.avro.generic.GenericRecord = {
    val rec = new org.apache.avro.generic.GenericData.Record(avro)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val branch = avro.getField(f.name).schema() // [null, T]
      rec.put(f.name, toDatum(if (row.isNullAt(i)) null else row.get(i), f.dataType, branch))
    }
    rec
  }

  private def nonNull(union: org.apache.avro.Schema): org.apache.avro.Schema =
    if (union.getType == org.apache.avro.Schema.Type.UNION)
      union.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL).get
    else union

  private def toDatum(v: Any, dt: DataType, schema: org.apache.avro.Schema): Any = {
    if (v == null) return null
    val t = nonNull(schema)
    dt match {
      case StringType | _: CharType | _: VarcharType => v.toString
      case TimestampType => v.toString // toAvroSchema renders timestamp as string
      case ByteType => v.asInstanceOf[Byte].toInt
      case ShortType => v.asInstanceOf[Short].toInt
      case IntegerType | LongType | FloatType | DoubleType | BooleanType => v
      case d: DecimalType =>
        java.nio.ByteBuffer.wrap(
          v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
            .unscaledValue().toByteArray)
      case ArrayType(et, _) =>
        val arr = new java.util.ArrayList[Any]()
        v.asInstanceOf[scala.collection.Seq[Any]]
          .foreach(e => arr.add(toDatum(e, et, t.getElementType)))
        arr
      case MapType(_, vt, _) =>
        val m = new java.util.HashMap[String, Any]()
        v.asInstanceOf[scala.collection.Map[Any, Any]]
          .foreach { case (k, mv) => m.put(k.toString, toDatum(mv, vt, t.getValueType)) }
        m
      case nested: StructType =>
        rowToRecord(v.asInstanceOf[org.apache.spark.sql.Row], nested, t)
      case other =>
        throw new UnsupportedAvroTypeException(s"no Avro datum for ${other.sql}")
    }
  }
}
