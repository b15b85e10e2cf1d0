package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro container-file source/sink — the one mainstream row format the io
  * matrix lacked (reference io pluggability: /root/reference/src/io/mod.rs:
  * 11-16; parquet/ORC/CSV/JSON/text/binary are all oracled elsewhere).
  * This container ships no spark-avro DataSource module, so the connector
  * is built on the avro-mapred Hadoop formats that DO ship with Spark's
  * jars: AvroKeyOutputFormat for the sink, AvroKeyInputFormat for the
  * source.
  *
  * Scale shape: both directions are plain distributed Hadoop-format jobs —
  * one output file per partition on write, and Avro container files are
  * BLOCK-SPLITTABLE on read (sync markers every block), so a 100 TB
  * dataset fans out to input splits exactly like parquet does; nothing
  * funnels through the driver except the one-file schema probe.
  *
  * Type mapping (both directions): long/int/double/float/boolean/string/
  * binary/array/struct/map plus TIMESTAMP and TIMESTAMP_NTZ as Avro
  * timestamp-micros / local-timestamp-micros logical types and DATE as the
  * date logical type; every nullable Spark field becomes the conventional
  * `union(null, T)` with a null default. Avro Schema objects are NOT
  * java-serializable, so tasks re-parse the canonical JSON form shipped
  * via closure — the standard idiom for these formats.
  */
object AvroIO {

  // ---- Spark schema -> Avro schema ----

  def toAvroSchema(schema: StructType, recordName: String = "graft_record"): Schema = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      val base = toAvroType(f.dataType, s"${recordName}_${f.name}")
      val t =
        if (f.nullable)
          Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base))
        else base
      new Schema.Field(f.name, t,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toSeq.asJava)
  }

  private def toAvroType(dt: DataType, name: String): Schema = dt match {
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      org.apache.avro.LogicalTypes.timestampMicros()
        .addToSchema(Schema.create(Schema.Type.LONG))
    case TimestampNTZType =>
      org.apache.avro.LogicalTypes.localTimestampMicros()
        .addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      org.apache.avro.LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT))
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, s"${name}_item")
      Schema.createArray(
        if (containsNull)
          Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), e))
        else e)
    case MapType(StringType, vt, valueContainsNull) =>
      val v = toAvroType(vt, s"${name}_value")
      Schema.createMap(
        if (valueContainsNull)
          Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), v))
        else v)
    case st: StructType => toAvroSchema(st, name)
    case other =>
      throw new IllegalArgumentException(
        s"AvroIO: unsupported Spark type $other (field $name)")
  }

  // ---- Avro schema -> Spark schema ----

  def toSparkSchema(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"AvroIO: top-level Avro schema must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)
  }

  private def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1,
        s"AvroIO: only union(null, T) unions are supported, got $s")
      (toSparkType(nonNull.head)._1, true)
    case Schema.Type.LONG => s.getLogicalType match {
      case _: org.apache.avro.LogicalTypes.TimestampMicros => (TimestampType, false)
      case _: org.apache.avro.LogicalTypes.LocalTimestampMicros => (TimestampNTZType, false)
      case _ => (LongType, false)
    }
    case Schema.Type.INT => s.getLogicalType match {
      case _: org.apache.avro.LogicalTypes.Date => (DateType, false)
      case _ => (IntegerType, false)
    }
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.STRING => (StringType, false)
    case Schema.Type.BYTES => (BinaryType, false)
    case Schema.Type.ARRAY =>
      val (et, n) = toSparkType(s.getElementType)
      (ArrayType(et, containsNull = n), false)
    case Schema.Type.MAP =>
      val (vt, n) = toSparkType(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = n), false)
    case Schema.Type.RECORD => (toSparkSchema(s), false)
    case other =>
      throw new IllegalArgumentException(s"AvroIO: unsupported Avro type $other")
  }

  // ---- value converters (schema-driven, recursive) ----

  private def unsupported(v: Any, dt: DataType): Nothing =
    throw new IllegalArgumentException(
      s"AvroIO: unsupported external value of class ${v.getClass.getName} for Spark type ${dt.simpleString}")

  private[sources] def toAvroValue(v: Any, dt: DataType, avro: Schema): Any = {
    if (v == null) return null
    // unwrap union(null, T): converters below want the concrete branch
    val s =
      if (avro.getType == Schema.Type.UNION)
        avro.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else avro
    dt match {
      // Row externals for datetime depend on spark.sql.datetime.java8API
      // .enabled (Timestamp/Date when off, Instant/LocalDate when on) —
      // match both so the sink works under either session conf.
      case TimestampType => v match {
        case ts: java.sql.Timestamp =>
          ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
        case inst: java.time.Instant =>
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        case other => unsupported(other, dt)
      }
      case TimestampNTZType =>
        val ldt = v.asInstanceOf[java.time.LocalDateTime]
        val ep = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
        ep * 1000000L + ldt.getNano / 1000L
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case ld: java.time.LocalDate => ld.toEpochDay.toInt
        case other => unsupported(other, dt)
      }
      case ShortType => v.asInstanceOf[Short].toInt
      case ByteType => v.asInstanceOf[Byte].toInt
      case BinaryType => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        val es = s.getElementType
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(toAvroValue(_, et, es)).asJava
      case MapType(StringType, vt, _) =>
        val vs = s.getValueType
        v.asInstanceOf[scala.collection.Map[String, Any]]
          .map { case (k, mv) => k -> toAvroValue(mv, vt, vs) }.asJava
      case st: StructType => rowToRecord(v.asInstanceOf[Row], st, s)
      case _ => v
    }
  }

  private def rowToRecord(row: Row, schema: StructType, avro: Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < schema.length) {
      rec.put(i, toAvroValue(row.get(i), schema(i).dataType, avro.getFields.get(i).schema()))
      i += 1
    }
    rec
  }

  private def fromAvroValue(v: Any, dt: DataType, java8: Boolean): Any = {
    if (v == null) return null
    dt match {
      case StringType => v.toString // Utf8 -> String
      case TimestampType =>
        val micros = v.asInstanceOf[Long]
        if (java8)
          java.time.Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            Math.floorMod(micros, 1000000L) * 1000L)
        else {
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          ts
        }
      case TimestampNTZType =>
        val micros = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case DateType =>
        val ld = java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
        if (java8) ld else java.sql.Date.valueOf(ld)
      case BinaryType =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining())
        bb.duplicate().get(out)
        out
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(fromAvroValue(_, et, java8)).toSeq
      case MapType(StringType, vt, _) =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala
          .map { case (k, mv) => k.toString -> fromAvroValue(mv, vt, java8) }.toMap
      case st: StructType => recordToRow(v.asInstanceOf[GenericRecord], st, java8)
      case _ => v
    }
  }

  private def recordToRow(rec: GenericRecord, schema: StructType,
      java8: Boolean): Row =
    Row.fromSeq(schema.fields.indices.map(i =>
      fromAvroValue(rec.get(i), schema(i).dataType, java8)))

  // ---- sink ----

  /** Write `df` as Avro container files under `path` (one file per
    * partition, Hadoop `_SUCCESS` marker — the parquet sink's layout).
    */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val avroSchema = toAvroSchema(sparkSchema)
    val schemaJson = avroSchema.toString
    val job = Job.getInstance(df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, avroSchema)
    df.rdd.mapPartitions { rows =>
      val avro = new Schema.Parser().parse(schemaJson)
      rows.map(r =>
        (new AvroKey[GenericRecord](rowToRecord(r, sparkSchema, avro)),
          NullWritable.get()))
    }.saveAsNewAPIHadoopFile(path,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  // ---- source ----

  /** Read the writer schema from the first container file — the one
    * driver-side, footer-sized touch in the whole path.
    */
  private def readFileSchema(spark: SparkSession, path: String): Schema = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(p).map(_.getPath)
      .filter(f => f.getName.endsWith(".avro"))
      .sortBy(_.getName)
      .headOption
      .getOrElse(throw new java.io.FileNotFoundException(
        s"AvroIO: no .avro files under $path"))
    val in = fs.open(file)
    try {
      val reader = new org.apache.avro.file.DataFileStream[GenericRecord](
        in, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try reader.getSchema finally reader.close()
    } finally in.close()
  }

  /** Read Avro container files written by `write` (or any single-schema
    * Avro directory) back as a DataFrame; splits ride Avro block sync
    * markers, so big files fan out like parquet row groups.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val avroSchema = readFileSchema(spark, path)
    val sparkSchema = toSparkSchema(avroSchema)
    // the Row->Catalyst converter expects Instant/LocalDate externals when
    // the java8API conf is on — resolve it once driver-side and ship the
    // flag in the closure so the emitted Rows match either way
    val java8 = spark.conf
      .getOption("spark.sql.datetime.java8API.enabled").exists(_.toBoolean)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, avroSchema)
    val rdd = spark.sparkContext.newAPIHadoopFile(
      s"$path/*.avro",
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration)
      // convert at pull time: the Hadoop reader reuses the key object, so
      // the datum must be deep-copied into a Row before the next record
      .mapPartitions(_.map { case (k, _) =>
        recordToRow(k.datum(), sparkSchema, java8) })
    spark.createDataFrame(rdd, sparkSchema)
  }
}
