package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.{AvroInputFormat, AvroJob, AvroOutputFormat, AvroWrapper}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro object-container source/sink built directly on Avro core +
  * avro-mapred (both ship with Spark) — this build has no `spark-avro`
  * module, and an LLM-corpus user still meets Avro files (Kafka dumps,
  * legacy ETL). The 100 TB shape is the classic Hadoop-format one and is
  * fully distributed both ways:
  *
  *  - write: each task streams its partition through one container file
  *    via [[AvroOutputFormat]] (`saveAsHadoopFile`) — no driver
  *    materialization, any Hadoop filesystem (HDFS/S3A/local);
  *  - read: [[AvroInputFormat]] splits on the container sync markers, so
  *    large files fan out across executors like parquet row groups —
  *    file count does NOT bound read parallelism.
  *
  * Types cover the corpus-table surface (long/int/double/float/boolean/
  * string/binary, nullable via `union(null, T)`, plus arrays of those
  * atoms for embedding columns). Round-trip losslessness is driver-gated
  * (`source_avro_roundtrip` hash-matches the parquet ground truth).
  */
object AvroFiles {

  /** Spark [[StructType]] → Avro record schema. Nullable fields become
    * `union(null, T)` — the standard Avro optionality encoding. */
  private[sources] def avroSchemaFor(schema: StructType,
                                     recordName: String = "graft_record"): Schema = {
    def atom(dt: DataType): Schema = dt match {
      case LongType    => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType  => Schema.create(Schema.Type.DOUBLE)
      case FloatType   => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case StringType  => Schema.create(Schema.Type.STRING)
      case BinaryType  => Schema.create(Schema.Type.BYTES)
      case ArrayType(et, containsNull) => Schema.createArray(opt(atom(et), containsNull))
      case other => throw new IllegalArgumentException(
        s"unsupported Spark type for Avro: $other")
    }
    def opt(s: Schema, nullable: Boolean): Schema =
      if (nullable) Schema.createUnion(List(Schema.create(Schema.Type.NULL), s).asJava)
      else s
    val fields = schema.fields.map { f =>
      new Schema.Field(f.name, opt(atom(f.dataType), f.nullable),
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, "graft.sources", false,
      fields.toList.asJava)
  }

  /** Overwrite-write `df` to `path` as Avro container files, one per
    * partition, via the Hadoop output format (distributed, streaming). */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val avroJson = avroSchemaFor(schema).toString
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    val jobConf = new JobConf(conf)
    AvroJob.setOutputSchema(jobConf, new Schema.Parser().parse(avroJson))
    df.rdd.mapPartitions { it =>
      // Schema is parsed per task from its JSON form (cheap, and sidesteps
      // Schema's Java-serialization quirks across Avro versions)
      val avroSchema = new Schema.Parser().parse(avroJson)
      it.map { row =>
        (new AvroWrapper[GenericRecord](toRecord(row, schema, avroSchema)),
          NullWritable.get())
      }
    }.saveAsHadoopFile(path, classOf[AvroWrapper[GenericRecord]],
      classOf[NullWritable], classOf[AvroOutputFormat[GenericRecord]], jobConf)
  }

  /** Read Avro container files under `path` with the given target schema.
    * Splittable: the input format cuts files at sync-marker boundaries. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val minParts = spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext.hadoopFile(
        path, classOf[AvroInputFormat[GenericRecord]],
        classOf[AvroWrapper[GenericRecord]], classOf[NullWritable], minParts)
      // convert inside the same iterator step: the input format reuses its
      // wrapper/record instances, so the datum must be consumed before the
      // next record is read — toRow copies every field out eagerly
      .map { case (wrapper, _) => toRow(wrapper.datum(), schema) }
    spark.createDataFrame(rows, schema)
  }

  private def toRecord(row: Row, schema: StructType, avroSchema: Schema): GenericRecord = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < schema.length) {
      rec.put(i, toAvro(row.get(i), schema(i).dataType))
      i += 1
    }
    rec
  }

  private def toAvro(v: Any, dt: DataType): AnyRef = (v, dt) match {
    case (null, _) => null
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(toAvro(_, et)).asJava
    case (x, _) => x.asInstanceOf[AnyRef]
  }

  private def toRow(rec: GenericRecord, schema: StructType): Row = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      vals(i) = fromAvro(rec.get(i), schema(i).dataType)
      i += 1
    }
    Row.fromSeq(vals.toIndexedSeq)
  }

  private def fromAvro(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case (l: java.util.Collection[_], ArrayType(et, _)) =>
      l.asScala.map(fromAvro(_, et)).toSeq
    case (l: org.apache.avro.generic.GenericData.Array[_], ArrayType(et, _)) =>
      l.asScala.map(fromAvro(_, et)).toSeq
    case (x, _) => x
  }
}
