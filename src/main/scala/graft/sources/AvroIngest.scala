package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Avro Object-Container-File ingest — the row-oriented second format
  * beside ORC's columnar slot (SURVEY §2.1). This environment ships the
  * Avro CORE libraries but not the `spark-avro` connector module, so
  * `spark.read.format("avro")` is unavailable; the reader here goes
  * through [[Ingest.readBinaryDir]] (listing-time glob pruning, size
  * cap) and decodes each container file with `DataFileReader` +
  * `GenericDatumReader` inside `mapPartitions` — files decode fully
  * parallel, one task per file batch, schema projected by NAME into the
  * caller's declared StructType (missing fields → null, the usual
  * reader-schema evolution posture).
  *
  * Corrupt-is-data: a payload that fails header validation or mid-file
  * decode contributes the rows decoded so far and is COUNTED in the
  * `_corrupt` column of [[readAvroDir]]'s second return — never an
  * executor exception (a 100 TB ingest must not die on one truncated
  * file).
  *
  * Supported field types: BOOLEAN, INT/LONG → LongType, FLOAT/DOUBLE →
  * DoubleType, STRING (Utf8), BYTES, and nullable unions of those — the
  * flat-record shape container logs actually use.
  */
object AvroIngest {

  /** Decode one container file; returns (rows, sawCorruption). */
  private def decodeFile(bytes: Array[Byte],
                         schema: StructType): (Seq[Row], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    try {
      val reader = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(bytes),
        new GenericDatumReader[GenericRecord]())
      try {
        while (reader.hasNext) {
          val rec = reader.next()
          out += Row.fromSeq(schema.fields.toSeq.map { f =>
            val has = rec.getSchema.getField(f.name) != null
            val v = if (has) rec.get(f.name) else null
            (v, f.dataType) match {
              case (null, _) => null
              case (x: java.lang.Boolean, BooleanType) => x.booleanValue()
              case (x: java.lang.Integer, LongType) => x.longValue()
              case (x: java.lang.Long, LongType) => x.longValue()
              case (x: java.lang.Float, DoubleType) => x.doubleValue()
              case (x: java.lang.Double, DoubleType) => x.doubleValue()
              case (x: Utf8, StringType) => x.toString
              case (x: String, StringType) => x
              case (x: java.nio.ByteBuffer, BinaryType) =>
                val b = new Array[Byte](x.remaining()); x.duplicate().get(b); b
              case _ => null // type mismatch reads as null, not a crash
            }
          })
        }
        (out.toSeq, false)
      } finally reader.close()
    } catch {
      // NonFatal only: a truncated/garbled container is data (keep the
      // rows decoded pre-corruption), but OutOfMemoryError or task
      // interruption must still fail the task — swallowing those would
      // mask real executor problems as per-file "corrupt" flags.
      case scala.util.control.NonFatal(_) => (out.toSeq, true)
    }
  }

  /** Read every `*.avro` under `dir` into `schema`-shaped rows, plus a
    * per-file audit frame (rel_path, n_rows, corrupt).
    *
    * Each container decodes ONCE: a single `mapPartitions` emits one
    * (rel_path, corrupt, rows[]) record per file, persisted
    * MEMORY_AND_DISK, and both returned frames project from it — so
    * consuming rows AND audit costs one decompress+decode per file, not
    * two. The cached form is the decoded rows (smaller than the raw
    * payloads); lifecycle is session-managed (LRU/exit), same
    * convention as `Ids.denseIds`.
    */
  def readAvroDir(spark: SparkSession, dir: String,
                  schema: StructType): (DataFrame, DataFrame) = {
    val files = Ingest.readBinaryDir(spark, dir, glob = "*.avro")
      .select(col("rel_path"), col("payload"))
    val combinedSchema = StructType(Seq(
      StructField("rel_path", StringType),
      StructField("corrupt", BooleanType),
      StructField("rows", ArrayType(schema))))
    val combEnc = RowEncoder.encoderFor(combinedSchema)
    val decoded = files.mapPartitions { it =>
      it.map { r =>
        val (rs, bad) = decodeFile(r.getAs[Array[Byte]]("payload"), schema)
        Row(r.getAs[String]("rel_path"), bad, rs)
      }
    }(combEnc).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = decoded
      .select(explode(col("rows")).as("__r")).select(col("__r.*"))
    val audit = decoded.select(col("rel_path"),
      size(col("rows")).cast("long").as("n_rows"), col("corrupt"))
    (rows, audit)
  }

  /** Avro record schema derived from a (flat) Spark schema; nullable
    * fields become `[null, T]` unions with a null default.
    */
  def avroSchema(schema: StructType, recordName: String): org.apache.avro.Schema = {
    val b = org.apache.avro.SchemaBuilder.record(recordName).fields()
    val done = schema.fields.foldLeft(b) { (fb, f) =>
      val base = f.dataType match {
        case BooleanType => org.apache.avro.Schema.Type.BOOLEAN
        case LongType | IntegerType => org.apache.avro.Schema.Type.LONG
        case DoubleType | FloatType => org.apache.avro.Schema.Type.DOUBLE
        case StringType => org.apache.avro.Schema.Type.STRING
        case BinaryType => org.apache.avro.Schema.Type.BYTES
        case dt => throw new IllegalArgumentException(
          s"writeAvroDir: unsupported field type $dt for '${f.name}' " +
            "(flat records only — flatten structs/arrays first)")
      }
      val s = org.apache.avro.Schema.create(base)
      if (f.nullable)
        fb.name(f.name).`type`(org.apache.avro.Schema.createUnion(
          java.util.Arrays.asList(
            org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL),
            s))).withDefault(null)
      else fb.name(f.name).`type`(s).noDefault()
    }
    done.endRecord()
  }

  /** K-sink twin of [[readAvroDir]]: one deflate-compressed container
    * file per non-empty partition (`part-NNNNN.avro`), written through
    * the Hadoop FileSystem API so the same code lands on file://, HDFS
    * or an object store. Executors write in parallel — no driver
    * collect; returns rows written.
    */
  def writeAvroDir(df: DataFrame, dir: String,
                   recordName: String = "GraftRow"): Long = {
    val schema = df.schema
    val avroJson = avroSchema(schema, recordName).toString // serializable
    val conf = new SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (!rows.hasNext) Iterator.single(0L)
      else {
        val avro = new org.apache.avro.Schema.Parser().parse(avroJson)
        val path = new org.apache.hadoop.fs.Path(dir, f"part-$idx%05d.avro")
        val fs = path.getFileSystem(conf.value)
        val out = fs.create(path, true)
        val w = new DataFileWriter[GenericRecord](
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](avro))
        w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
        w.create(avro, out)
        var n = 0L
        try {
          rows.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(avro)
            schema.fields.zipWithIndex.foreach { case (f, i) =>
              val v: AnyRef =
                if (r.isNullAt(i)) null
                else f.dataType match {
                  case LongType => java.lang.Long.valueOf(r.getLong(i))
                  case IntegerType => java.lang.Long.valueOf(r.getInt(i).toLong)
                  case DoubleType => java.lang.Double.valueOf(r.getDouble(i))
                  case FloatType => java.lang.Double.valueOf(r.getFloat(i).toDouble)
                  case BooleanType => java.lang.Boolean.valueOf(r.getBoolean(i))
                  case StringType => r.getString(i)
                  case BinaryType =>
                    java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](i))
                  case _ => null
                }
              rec.put(f.name, v)
            }
            w.append(rec); n += 1
          }
        } finally w.close()
        Iterator.single(n)
      }
    }.sum().toLong
  }
}
