package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestHarness
import scala.jdk.CollectionConverters._

class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  import Ingest._

  private def df(rows: (Long, String)*) = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
  }

  private def fresh(name: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    name
  }

  test("create if missing; FAIL if if_not_exist=FAIL") {
    val t = fresh("ing_create")
    val r = ingest(spark, df(1L -> "a"), t)
    assert(r.created && r.rowsIngested == 1)
    val t2 = fresh("ing_nocreate")
    intercept[IllegalStateException](
      ingest(spark, df(1L -> "a"), t2, createIfMissing = false))
  }

  test("if_exists=FAIL refuses; APPEND aligns by name; REPLACE drops") {
    val t = fresh("ing_modes")
    ingest(spark, df(1L -> "a"), t)
    intercept[IllegalStateException](ingest(spark, df(2L -> "b"), t, IfExists.Fail))
    // by-name append with reordered + missing columns
    val reordered = spark.createDataFrame(
      List(Row("c", 3L)).asJava,
      StructType(Seq(StructField("name", StringType), StructField("id", LongType))))
    ingest(spark, reordered, t, IfExists.Append)
    assert(spark.table(t).count() == 2)
    val missingCol = spark.createDataFrame(List(Row(4L)).asJava,
      StructType(Seq(StructField("id", LongType))))
    ingest(spark, missingCol, t, IfExists.Append)
    assert(spark.table(t).filter(col("name").isNull).count() == 1)
    // unknown columns are an error
    val extraCol = spark.createDataFrame(List(Row(5L, "x", 1)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("bogus", IntegerType))))
    intercept[IllegalArgumentException](ingest(spark, extraCol, t, IfExists.Append))
    // replace
    ingest(spark, df(9L -> "z"), t, IfExists.Replace)
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("temporary ingest is session-scoped") {
    val r = ingest(spark, df(1L -> "tmp"), "ing_temp_view", temporary = true)
    assert(r.created)
    assert(spark.table("ing_temp_view").count() == 1)
    assert(spark.newSession().catalog.tableExists("ing_temp_view") == false)
  }
}

class ArrowIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("atomic types round-trip DataFrame -> Arrow IPC -> DataFrame with nulls") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("dec", DecimalType(15, 2)), StructField("iv", DayTimeIntervalType())))
    val interval = java.time.Duration.ofSeconds(90061, 5000)
    val rows = List(
      Row(true, 1, 2L, 1.5f, 2.5, "hello", Array[Byte](1, 2), java.sql.Date.valueOf("2024-01-15"),
        new java.math.BigDecimal("123.45"), interval),
      Row(null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val bytes = ArrowIO.toArrowStream(df)
    val back = ArrowIO.fromArrowStream(spark, bytes)
    assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    val (orig, rt) = (df.collect(), back.collect())
    assert(rt.length == 2)
    assert(rt(0).getBoolean(0) == true && rt(0).getInt(1) == 1 && rt(0).getString(5) == "hello")
    assert(rt(0).getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2))
    assert(rt(0).getDate(7) == orig(0).getDate(7))
    assert(rt(0).getDecimal(8).compareTo(orig(0).getDecimal(8)) == 0)
    assert((0 until 9).forall(rt(1).isNullAt))
    assert(rt(0).getAs[java.time.Duration](9) == interval && rt(1).isNullAt(9))
  }

  test("GeoArrow WKB extension metadata round-trips through the Arrow stream") {
    // declared-parity shim for the reference's GeoArrow export
    // (gizmosql_library.cpp:820-827): geometry = WKB bytes in a BINARY
    // column tagged with the Arrow extension keys. POINT(1 2) as WKB:
    val wkbPoint = Array[Byte](1, 1, 0, 0, 0,
      0, 0, 0, 0, 0, 0, -16, 63, // 1.0 LE
      0, 0, 0, 0, 0, 0, 0, 64) // 2.0 LE
    val geoMeta = new MetadataBuilder()
      .putString("ARROW:extension:name", "geoarrow.wkb")
      .putString("ARROW:extension:metadata", """{"crs": "OGC:CRS84"}""")
      .build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = true, metadata = geoMeta)))
    val df = spark.createDataFrame(
      List(Row(1L, wkbPoint), Row(2L, null)).asJava, schema)
    // the Arrow field must carry the extension tags (what a GeoArrow-aware
    // client keys on) ...
    val arrowField = graft.types.TypeMapping.toArrowSchema(schema).getFields.get(1)
    assert(arrowField.getMetadata.get("ARROW:extension:name") == "geoarrow.wkb")
    assert(arrowField.getMetadata.get("ARROW:extension:metadata").contains("OGC:CRS84"))
    // ... untagged columns must NOT grow metadata keys
    assert(graft.types.TypeMapping.toArrowSchema(schema)
      .getFields.get(0).getMetadata.isEmpty)
    // full stream round-trip preserves tags AND bytes
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    val f = back.schema.fields(1)
    assert(f.dataType == BinaryType)
    assert(f.metadata.getString("ARROW:extension:name") == "geoarrow.wkb")
    assert(f.metadata.getString("ARROW:extension:metadata").contains("OGC:CRS84"))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getAs[Array[Byte]](1).toSeq == wkbPoint.toSeq)
    assert(rows(1).isNullAt(1))
  }

  test("GeoArrow tags survive INGEST into a table and re-export " +
      "(test_geoarrow.cpp:138-245 round-trip; r16 verdict #4)") {
    val wkbPoint = Array[Byte](1, 1, 0, 0, 0,
      0, 0, 0, 0, 0, 0, -16, 63,
      0, 0, 0, 0, 0, 0, 0, 64)
    val geoMeta = new MetadataBuilder()
      .putString("ARROW:extension:name", "geoarrow.wkb")
      .putString("ARROW:extension:metadata", """{"crs": "OGC:CRS84"}""")
      .build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = true, metadata = geoMeta)))
    val stream = ArrowIO.toArrowStream(spark.createDataFrame(
      List(Row(1L, wkbPoint), Row(2L, null)).asJava, schema))
    spark.sql("DROP TABLE IF EXISTS geo_ingest_rt")
    try {
      // ingest the TAGGED stream through the bulk-ingest path into a table
      Ingest.ingest(spark, ArrowIO.fromArrowStream(spark, stream),
        "geo_ingest_rt"): Unit
      // the persisted table column keeps the extension metadata
      val tf = spark.table("geo_ingest_rt").schema.fields.find(_.name == "geom").get
      assert(tf.metadata.getString("ARROW:extension:name") == "geoarrow.wkb",
        "extension tag must persist through the table schema")
      // a SQL read of the table re-exports with the tag intact
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(
          ArrowIO.toArrowStream(spark.sql("SELECT id, geom FROM geo_ingest_rt"))),
        new org.apache.arrow.memory.RootAllocator())
      try {
        val geomField = reader.getVectorSchemaRoot.getSchema.getFields.asScala
          .find(_.getName == "geom").get
        assert(geomField.getMetadata.get("ARROW:extension:name") == "geoarrow.wkb")
        assert(geomField.getMetadata.get("ARROW:extension:metadata").contains("OGC:CRS84"))
      } finally reader.close()
      // and the bytes are intact after the table hop
      val back = spark.sql("SELECT geom FROM geo_ingest_rt WHERE id = 1")
        .collect()(0).getAs[Array[Byte]](0)
      assert(back.toSeq == wkbPoint.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS geo_ingest_rt")
  }

  test("array columns and real table data round-trip") {
    graft.Tables.ensure(spark, SparkTestHarness.sfDir)
    val emb = spark.table("embeddings").limit(5)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(emb))
    assert(back.count() == 5)
    val a = emb.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    val b = back.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("struct and map columns round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("st", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))),
      StructField("mp", MapType(StringType, IntegerType)),
      StructField("decs", ArrayType(DecimalType(10, 2))),
      StructField("dates", ArrayType(DateType)),
      StructField("stamps", ArrayType(TimestampType)),
      StructField("structs", ArrayType(StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))),
      StructField("lists", MapType(StringType, ArrayType(IntegerType)))))
    val rows = List(
      Row(1L, Row(7, "seven"), Map("a" -> 1, "b" -> 2),
        Seq(new java.math.BigDecimal("1.25"), null), Seq(java.sql.Date.valueOf("2024-02-29")),
        Seq(java.sql.Timestamp.valueOf("2024-01-15 10:30:05.123456")),
        Seq(Row(1, "one"), null, Row(null, "n")), Map("p" -> Seq(1, null, 3), "q" -> null)),
      Row(2L, Row(8, null), Map("c" -> 3, "nullv" -> null), Seq(), null, Seq(null),
        Seq(), Map("e" -> Seq())),
      Row(3L, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df)).orderBy("id").collect()
    assert(back(0).getStruct(1) == Row(7, "seven"))
    assert(back(0).getMap[String, Int](2) == Map("a" -> 1, "b" -> 2))
    assert(back(1).getStruct(1).isNullAt(1))
    assert(back(1).getMap[String, Any](2) == Map("c" -> 3, "nullv" -> null)) // null map value preserved
    assert(back(2).isNullAt(1) && back(2).isNullAt(2))
    val orig = df.orderBy("id").collect()
    assert(back.map(r => (3 to 7).map(r.get)).toSeq == orig.map(r => (3 to 7).map(r.get)).toSeq)
  }

  test("timestamps round-trip at microsecond precision") {
    val schema = StructType(Seq(StructField("ts", TimestampNTZType),
      StructField("tstz", TimestampType)))
    val t = java.time.LocalDateTime.of(2024, 1, 15, 10, 30, 5, 123456000)
    val tz = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T10:30:05.654321Z"))
    val df = spark.createDataFrame(List(Row(t, tz)).asJava, schema)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    assert(back.collect().head.getAs[java.time.LocalDateTime](0) == t)
    assert(back.schema(1).dataType == TimestampType)
    assert(back.collect().head.getAs[java.sql.Timestamp](1) == tz)
  }

  test("batching splits large results without losing rows") {
    val df = spark.range(0, 10000).select(col("id"), (col("id") * 2).as("dbl"))
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df, batchSize = 512))
    assert(back.count() == 10000)
    assert(back.agg(sum("dbl")).collect().head.getLong(0) == (0L until 10000L).map(_ * 2).sum)
  }
}
