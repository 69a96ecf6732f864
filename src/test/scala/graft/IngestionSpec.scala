package graft

import org.apache.spark.sql.types._

/** Ingestion robustness — a 100 TB corpus always contains malformed
  * records; the engine must quarantine rather than abort (PERMISSIVE
  * mode + _corrupt_record), with FAILFAST available when strictness is
  * wanted. */
class IngestionSpec extends EngineSuite {

  private val goodAndBad = Seq(
    """{"id": 1, "text": "ok"}""",
    """{"id": 2, "text": "also ok"}""",
    """{"id": oops not json""",
    """{"id": 3, "text": "fine"}""")

  test("PERMISSIVE JSON ingestion quarantines corrupt records") {
    val s = spark
    import s.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val df = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(goodAndBad.toDS()).cache()
    assert(df.filter("_corrupt_record IS NULL").count() == 3)
    assert(df.filter("_corrupt_record IS NOT NULL").count() == 1)
    df.unpersist()
  }

  test("FAILFAST JSON ingestion aborts on the corrupt record") {
    val s = spark
    import s.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val e = intercept[Exception] {
      s.read.schema(schema).option("mode", "FAILFAST")
        .json(goodAndBad.toDS()).collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      e.getCause != null)
  }

  test("parquet schema evolution: mergeSchema unifies old and new file generations") {
    // a long-lived ingestion directory accumulates files written under
    // successive schemas (the reference handles this via ALTER TABLE ADD
    // COLUMNS + per-file footer schemas); Spark's mergeSchema read must
    // surface the union schema with NULLs for columns absent in older
    // files
    val s = spark
    import s.implicits._
    val dir = s"/tmp/graft_schema_evo_${System.nanoTime()}"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/gen=1")
    Seq((3L, "c", 9.5), (4L, "d", 7.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/gen=2")
    // the old generation genuinely lacks the column (what makes the
    // NULL-fill assertion below meaningful)
    assert(s.read.parquet(s"$dir/gen=1").columns.sorted.toSeq == Seq("id", "name"))
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("gen", "id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("score"))),
      "old-generation rows must read NULL for the added column")
    assert(rows.drop(2).map(_.getAs[Double]("score")).sorted.toSeq == Seq(7.5, 9.5))
    // evolved column is still filterable (pushdown over the union schema)
    assert(merged.filter(org.apache.spark.sql.functions.col("score") > 8).count() == 1)
  }
  test("Avro container files read back splittably with the declared schema") {
    import org.apache.avro.{Schema => ASchema}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.DataFileWriter
    val schemaJson =
      """{"type":"record","name":"doc","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"title","type":["null","string"]},
        |  {"name":"score","type":"double"},
        |  {"name":"tags","type":{"type":"array","items":"int"}},
        |  {"name":"props","type":{"type":"map","values":"long"}},
        |  {"name":"price","type":{"type":"bytes","logicalType":"decimal","precision":9,"scale":2}},
        |  {"name":"meta","type":{"type":"record","name":"m","fields":[
        |    {"name":"lang","type":"string"},{"name":"rank","type":"int"}]}}
        |]}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toFile
    dir.deleteOnExit()
    val avroSchema = new ASchema.Parser().parse(schemaJson)
    val f = new java.io.File(dir, "part-0.avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
    w.create(avroSchema, f)
    def rec(id: Long, title: String, score: Double, tags: Seq[Int],
            props: Map[String, Long], cents: Long, lang: String, rank: Int): GenericRecord = {
      val r = new GenericData.Record(avroSchema)
      r.put("id", id)
      r.put("title", title) // null stays null
      r.put("score", score)
      val arr = new java.util.ArrayList[Integer]()
      tags.foreach(t => arr.add(Integer.valueOf(t)))
      r.put("tags", arr)
      val m = new java.util.HashMap[String, java.lang.Long]()
      props.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
      r.put("props", m)
      r.put("price", java.nio.ByteBuffer.wrap(
        java.math.BigInteger.valueOf(cents).toByteArray))
      val meta = new GenericData.Record(avroSchema.getField("meta").schema())
      meta.put("lang", lang)
      meta.put("rank", Integer.valueOf(rank))
      r.put("meta", meta)
      r
    }
    w.append(rec(1L, "alpha", 1.5, Seq(1, 2), Map("a" -> 10L), 12345L, "en", 1))
    w.append(rec(2L, null, -0.25, Seq.empty, Map.empty, -50L, "de", 2))
    w.close()

    val df = sources.AvroSchemas.readAvro(spark, dir.getAbsolutePath, schemaJson)
    assert(df.schema.fieldNames.toSeq ==
      Seq("id", "title", "score", "tags", "props", "price", "meta"))
    assert(df.schema("price").dataType == org.apache.spark.sql.types.DecimalType(9, 2))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getLong(0) == 1L && r1.getString(1) == "alpha")
    assert(r1.getSeq[Int](3) == Seq(1, 2))
    assert(r1.getMap[String, Long](4) == Map("a" -> 10L))
    assert(r1.getDecimal(5) == new java.math.BigDecimal("123.45"))
    assert(r1.getStruct(6).getString(0) == "en" && r1.getStruct(6).getInt(1) == 1)
    val r2 = rows(1)
    assert(r2.isNullAt(1), "nullable union null must survive")
    assert(r2.getDecimal(5) == new java.math.BigDecimal("-0.50"),
      "negative two's-complement decimal must decode")
    assert(r2.getSeq[Int](3).isEmpty && r2.getMap[String, Long](4).isEmpty)
  }

  test("Avro write → read round-trip preserves rows across partitions") {
    val s = spark
    import org.apache.spark.sql.functions._
    val df = s.range(0, 100).repartition(4)
      .select(col("id"),
        when(col("id") % 10 === 0, lit(null)).otherwise(concat(lit("t"), col("id")))
          .as("title"),
        (col("id") * 1.5).as("score"),
        array((col("id") % 3).cast("int"), lit(7)).as("tags"),
        map(lit("k"), col("id") * 2).as("props"),
        (col("id").cast("decimal(9,2)") / 4).cast("decimal(9,2)").as("price"),
        struct(lit("en").as("lang"), (col("id") % 5).cast("int").as("rank")).as("meta"))
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_rt").toFile
    dir.deleteOnExit()
    sources.AvroSchemas.writeAvro(df, dir.getAbsolutePath)
    // multiple task files were written (the distributed layout, not one blob)
    val parts = dir.listFiles().count(_.getName.endsWith(".avro"))
    assert(parts == 4, s"expected one container file per partition, got $parts")
    val schemaJson = sources.AvroSchemas.toAvroSchema(df.schema, "sparkWrite")
    val back = sources.AvroSchemas.readAvro(s, dir.getAbsolutePath, schemaJson)
    assert(back.schema("price").dataType == org.apache.spark.sql.types.DecimalType(9, 2))
    val a = df.orderBy("id").collect().map(_.toString).toSeq
    val b = back.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b, s"round trip diverged:\n${a.take(3)}\nvs\n${b.take(3)}")
  }

}
