package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** AvroIO roundtrip contract: every supported Spark type survives
  * write -> container file -> read bit-identically, nullability rides the
  * union(null, T) mapping, and the read schema reconstructed from the
  * file's writer schema equals the written one.
  */
class AvroIOSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-avro-spec").toString + "/t"

  test("datetime roundtrip under spark.sql.datetime.java8API.enabled") {
    // regression: Row externals become Instant/LocalDate under the java8
    // conf; the converters used to hard-cast Timestamp/Date and threw
    // ClassCastException at write time
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("ts", TimestampType, nullable = true),
        StructField("dt", DateType, nullable = true)))
      val rows = Seq(
        Row(1L, java.time.Instant.parse("2024-02-29T12:34:56.123456Z"),
          java.time.LocalDate.parse("2024-02-29")),
        Row(2L, null, null))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      val out = tmpDir()
      AvroIO.write(df, out)
      val got = AvroIO.read(spark, out).collect().sortBy(_.getLong(0))
      assert(got(0).get(1) === rows(0).get(1))
      assert(got(0).get(2) === rows(0).get(2))
      assert(got(1).get(1) == null && got(1).get(2) == null)
    } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
  }

  test("full-width type roundtrip is bit-identical (schema included)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("nts", TimestampNTZType, nullable = true),
      StructField("dt", DateType, nullable = true),
      StructField("arr", ArrayType(LongType, containsNull = true), nullable = true),
      StructField("m", MapType(StringType, DoubleType), nullable = true),
      StructField("st", StructType(Seq(
        StructField("a", LongType), StructField("b", StringType))), nullable = true)))
    val rows = Seq(
      Row(1L, 7, 1.5, 2.5f, true, "alpha", Array[Byte](1, 2, 3),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
        java.time.LocalDateTime.parse("2024-02-29T23:59:59.000001"),
        java.sql.Date.valueOf("2024-02-29"),
        Seq(1L, null, 3L), Map("x" -> 1.25, "y" -> -2.0), Row(9L, "in")),
      Row(2L, null, null, null, null, null, null, null, null, null,
        null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmpDir()
    AvroIO.write(df, out)
    val back = AvroIO.read(spark, out)
    assert(back.schema === schema)
    val got = back.collect().sortBy(_.getLong(0))
    val want = rows.sortBy(_.getLong(0))
    // element-wise compare (Array[Byte] equality is referential in Row)
    got.zip(want).foreach { case (g, w) =>
      for (i <- 0 until schema.length) {
        (g.get(i), w.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.toSeq === b.toSeq)
          case (a, b) => assert(a === b, s"field ${schema(i).name}")
        }
      }
    }
  }

  test("roundtrip of a real table matches the parquet source exactly") {
    val src = graft.Tables(spark, sf001, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    val out = tmpDir()
    AvroIO.write(src, out)
    val back = AvroIO.read(spark, out)
    assert(back.count() === src.count())
    // anti-join both ways: exact multiset equality on all columns
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("read is distributed across container files (one per partition)") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(4)
    val out = tmpDir()
    AvroIO.write(df, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length === 4, "one container file per input partition")
    val back = AvroIO.read(spark, out)
    assert(back.rdd.getNumPartitions >= 4, "reader fans out across files")
    assert(back.agg(sum("id")).first().getLong(0) === (0L until 1000L).sum)
  }

  test("unsupported type fails loudly at write planning") {
    val df = spark.range(1).select(col("id").cast(DecimalType(10, 2)).as("d"))
    intercept[IllegalArgumentException] {
      AvroIO.write(df, tmpDir())
    }
  }

  test("an unsupported datetime external value names its class and Spark type") {
    import org.apache.avro.Schema
    val cases = Seq(
      (TimestampType, Schema.create(Schema.Type.LONG), "timestamp"),
      (DateType, Schema.create(Schema.Type.INT), "date"))
    cases.foreach { case (dt, avro, sparkName) =>
      val e = intercept[IllegalArgumentException] {
        AvroIO.toAvroValue(java.lang.Long.valueOf(1L), dt, avro)
      }
      assert(e.getMessage.contains("java.lang.Long"), e.getMessage)
      assert(e.getMessage.contains(s"Spark type $sparkName"), e.getMessage)
    }
  }
}
