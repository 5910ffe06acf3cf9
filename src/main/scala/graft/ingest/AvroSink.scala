package graft.ingest

import java.io.File
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-rotated Avro container-file sink.
  *
  * Re-expresses `AvroWriter.java` Spark-first: the reference serializes
  * every worker through one `synchronized` writer and rotates on wall
  * clock (`AvroWriter.java:38-49`); here each partition writes its own
  * container file per EVENT-TIME bucket (window id = epochSec /
  * rotationSeconds, `AvroWriter.java:45-49`), in parallel, named
  * `yyyy.MM.dd.HH.mm.ss[-part].avro` like the reference's
  * `fileDateFormat` (`AvroWriter.java:59-60`). No lock, no single-node
  * choke point — the commit story is Spark's, not a retry loop
  * (`Main.java:189-202` dissolves).
  *
  * Spark 4.1's jar set here has no spark-avro datasource, so the
  * container files are written with the Avro core API (same library the
  * reference uses via codegen'd SpecificRecords; we use GenericRecord).
  */
object AvroSink {

  /** Spark schema -> Avro schema (nullable via union-with-null,
    * mirroring BQRow.avsc's `["null", T]` convention). Recursive:
    * nested STRUCTs become records, ARRAYs become avro arrays — the
    * shape of the reference's block -> transactions[] -> inputs[]
    * model (`BQRow.avsc:1-51`). */
  private def avroType(dt: DataType, name: String): Schema = dt match {
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case StringType => Schema.create(Schema.Type.STRING)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType => Schema.create(Schema.Type.LONG) // epoch micros
    case ArrayType(elem, containsNull) =>
      val e = avroType(elem, name + "_item")
      Schema.createArray(
        if (containsNull) Schema.createUnion(Schema.create(Schema.Type.NULL), e) else e)
    case st: StructType => avroSchema(st, name)
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }

  def avroSchema(schema: StructType, name: String): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base = avroType(f.dataType, name + "_" + f.name)
      if (f.nullable)
        fs.name(f.name)
          .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
          .withDefault(null)
      else fs.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  /** Spark value -> Avro generic value converter for one position,
    * built once per partition: `avro` is the NON-NULL branch schema for
    * this position, and every nested field's branch schema is resolved
    * here, not per row. */
  private def converter(dt: DataType, avro: Schema): Any => Any = dt match {
    case TimestampType => {
      case ts: java.sql.Timestamp =>
        // full micros: getTime() is ms-truncated; nanos carries the rest
        java.lang.Long.valueOf(ts.toInstant.getEpochSecond * 1000000L +
          ts.toInstant.getNano / 1000L)
      case x => x
    }
    case BinaryType => {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    case ArrayType(elem, _) =>
      val conv = converter(elem, nonNull(avro.getElementType))
      val f: Any => Any = {
        case s: scala.collection.Seq[_] =>
          val out = new java.util.ArrayList[Any](s.length)
          s.foreach(x => out.add(conv(x)))
          out
        case x => x
      }
      f
    case st: StructType =>
      val toRecord = recordConverter(st, avro, st.fields.indices.toArray)
      val f: Any => Any = {
        case row: Row => toRecord(row)
        case x => x
      }
      f
    case _ => identity
  }

  /** Row -> Avro record for struct `st`, reading field `i` of the record
    * from column `columns(i)` of the row. Nulls stay null. */
  private def recordConverter(st: StructType, avro: Schema,
      columns: Array[Int]): Row => GenericData.Record = {
    val convs = st.fields.map(f => converter(f.dataType, nonNull(avro.getField(f.name).schema())))
    row => {
      val rec = new GenericData.Record(avro)
      var i = 0
      while (i < convs.length) {
        val v = row.get(columns(i))
        if (v != null) rec.put(i, convs(i)(v))
        i += 1
      }
      rec
    }
  }

  /** Unwrap a `["null", T]` union to T. */
  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.toArray.map(_.asInstanceOf[Schema])
        .find(_.getType != Schema.Type.NULL).get
    else s

  private val fileFmt =
    DateTimeFormatter.ofPattern("yyyy.MM.dd.HH.mm.ss").withZone(ZoneOffset.UTC)

  /** Per-invocation token for the default file-name suffix. The JVM
    * component makes the default unique ACROSS processes too — a second
    * `runMain` into the same directory must not recreate `-w0` and
    * truncate the first run's files. */
  private val jvmToken: String =
    java.lang.Long.toUnsignedString(System.nanoTime(), 36)
  private val writeSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Write `df` as rotated Avro container files under `outDir`.
    * One file per (time bucket, partition); the bucket derives from the
    * epoch-ms column `tsMsCol` — event time, the deterministic batch
    * analog of the reference's processing-wall-clock rotation.
    *
    * `suffix` disambiguates files across multiple write() invocations
    * into the same directory (e.g. streaming micro-batches): the
    * deterministic stamp+partition name would otherwise COLLIDE and
    * DataFileWriter.create truncates existing files — silent data loss.
    * When omitted, a per-invocation sequence token is used so two
    * batch write() calls into one directory can never truncate each
    * other; pass an explicit suffix (e.g. -b<batchId>) for names that
    * must be stable across JVMs. */
  def write(df: DataFrame, tsMsCol: String, rotationSeconds: Long, outDir: String,
      suffix: String = null): Unit = {
    val sfx =
      if (suffix != null) suffix
      else s"-w$jvmToken-${writeSeq.getAndIncrement()}"
    val bucketed = df.withColumn("__bucket",
      graft.functions.Exact.bucket(col(tsMsCol), rotationSeconds * 1000))
    val schema = StructType(df.schema.fields)
    val schemaJson = avroSchema(schema, "GraftRow").toString
    val columns = schema.fieldNames.map(bucketed.schema.fieldIndex)
    val bucketCol = bucketed.schema.fieldIndex("__bucket")
    new File(outDir).mkdirs()
    // repartition by bucket so a bucket's rows co-locate -> one file per
    // bucket per shuffle partition; scales out with the cluster.
    bucketed
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket"))
      .foreachPartition { (rows: Iterator[Row]) =>
        val avro = new Schema.Parser().parse(schemaJson)
        val toRecord = recordConverter(schema, avro, columns)
        var current: Option[(Long, DataFileWriter[GenericRecord])] = None
        val pid = org.apache.spark.TaskContext.getPartitionId()
        def open(bucket: Long): DataFileWriter[GenericRecord] = {
          val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
          val stamp = fileFmt.format(Instant.ofEpochSecond(bucket * rotationSeconds))
          w.create(avro, new File(outDir, s"$stamp-p$pid$sfx.avro"))
          w
        }
        rows.foreach { row =>
          val bucket = row.getLong(bucketCol)
          val w = current match {
            case Some((b, w0)) if b == bucket => w0
            case Some((_, w0)) => w0.close(); val w1 = open(bucket); current = Some((bucket, w1)); w1
            case None => val w1 = open(bucket); current = Some((bucket, w1)); w1
          }
          w.append(toRecord(row))
        }
        current.foreach(_._2.close())
      }
  }

  /** Read all container files back (test/verification helper). */
  def readAll(dir: String): Seq[Map[String, Any]] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    files.flatMap { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      while (r.hasNext) {
        val rec = r.next()
        out += rec.getSchema.getFields.toArray.map { fo =>
          val fld = fo.asInstanceOf[Schema.Field]
          fld.name() -> (rec.get(fld.name()) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case x => x
          })
        }.toMap
      }
      r.close()
      out.toSeq
    }.toSeq
  }
}
