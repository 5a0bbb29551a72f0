package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.xerial.snappy.{SnappyFramedInputStream, SnappyFramedOutputStream}

import graft.functions.MsgPackCodec

/** `.tri` archive files: a snappy framing-format stream over concatenated
  * MessagePack maps — the reference's at-rest format
  * (write: `/root/reference/triton/store.go:134-135`,
  * read: `/root/reference/triton/archive_reader.go:12-28`). Registered as
  * `format("tri")`, read/write + schema inference; works for both batch and
  * Structured Streaming (file source/sink machinery builds on FileFormat).
  *
  * Files are not splittable (snappy framed stream, record boundaries
  * unknown) — matching the reference's file-at-a-time reader; parallelism
  * comes from the file count, which the store's rotation policy bounds.
  * Decoding against `requiredSchema` gives column pruning for free: unknown
  * or unreferenced msgpack keys are skipped, never materialized.
  */
class TriFileFormat extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "tri"

  override def toString: String = "TRI"

  /** Merged struct of the first record of up to 8 files that hold one:
    * archives written by evolving producers carry different field sets per
    * file, and the merged struct decodes all of them (missing fields null,
    * unknown skipped). A file with no record (an empty frame's write leaves
    * just the snappy stream header) is skipped. Each first record decodes
    * straight off the snappy stream, so its size is unbounded, like any
    * record the reader decodes.
    */
  override def inferSchema(sparkSession: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.newHadoopConf()
    val inferred = files.iterator.flatMap { f =>
      val fs = f.getPath.getFileSystem(conf)
      val in = new java.io.BufferedInputStream(
        new SnappyFramedInputStream(fs.open(f.getPath)), 1 << 16)
      try {
        in.mark(1)
        if (in.read() < 0) None
        else {
          in.reset()
          Some(MsgPackCodec.inferType(in) match {
            case st: StructType => st
            case other => StructType(Seq(StructField("value", other)))
          })
        }
      } finally in.close()
    }.take(8).toSeq
    inferred.reduceOption(mergeStructs)
  }

  /** Field-wise union keeping first-seen order; null-typed fields widen to
    * the other side's type, nested structs merge recursively, any other
    * conflict keeps the first file's type (the codec's permissive decode
    * nulls mismatches rather than failing).
    */
  private def mergeStructs(a: StructType, b: StructType): StructType = {
    val aIdx = a.fieldNames.zipWithIndex.toMap
    val merged = new scala.collection.mutable.ArrayBuffer[StructField]
    merged ++= a.fields
    b.fields.foreach { bf =>
      aIdx.get(bf.name) match {
        case None => merged += bf
        case Some(i) =>
          val af = merged(i)
          (af.dataType, bf.dataType) match {
            case (NullType, _) => merged(i) = af.copy(dataType = bf.dataType)
            case (_, NullType) => ()
            case (x: StructType, y: StructType) =>
              merged(i) = af.copy(dataType = mergeStructs(x, y))
            case _ => () // first file wins on scalar conflicts
          }
      }
    }
    StructType(merged.toSeq)
  }

  override def isSplitable(sparkSession: SparkSession, options: Map[String, String],
                           path: Path): Boolean = false

  override def buildReader(sparkSession: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val broadcastedConf = sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    (file: PartitionedFile) => {
      val path = file.toPath
      val fs = path.getFileSystem(broadcastedConf.value.value)
      // decode records incrementally off the decompressor — memory is
      // bounded by the largest single record, not the file, so foreign
      // `.tri` files written without a rotation cap cannot OOM the task
      // (the reference's lazy read, `/root/reference/triton/archive.go:27-43`)
      val in = new SnappyFramedInputStream(fs.open(path))
      val records = MsgPackCodec.decodeStream(
        new java.io.BufferedInputStream(in, 1 << 16), requiredSchema)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      new Iterator[InternalRow] {
        override def hasNext: Boolean = {
          val h = records.hasNext
          if (!h) in.close() // eager close; listener close is idempotent
          h
        }
        override def next(): InternalRow = records.next().asInstanceOf[InternalRow]
      }
    }
  }

  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".tri"
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new TriOutputWriter(path, dataSchema, context)
    }
  }

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType
         | DoubleType | StringType | BinaryType | TimestampType => true
    case st: StructType => st.forall(f => supportDataType(f.dataType))
    case ArrayType(et, _) => supportDataType(et)
    case MapType(StringType, vt, _) => supportDataType(vt)
    case NullType => true
    case _ => false
  }
}

/** Writes one task's records to one snappy-framed file. Files are sized
  * by the writer's caller: Spark's `maxRecordsPerFile` bounds rows per
  * file (the reference's hourly rotation), and `StreamOps.startStore`
  * rebalances each micro-batch by date, so AQE's advisory partition size
  * bounds a date's file.
  */
private class TriOutputWriter(val path: String, dataSchema: StructType,
                              context: TaskAttemptContext) extends OutputWriter {
  private val out = {
    val p = new Path(path)
    new SnappyFramedOutputStream(p.getFileSystem(context.getConfiguration).create(p, false))
  }

  override def write(row: InternalRow): Unit = {
    val b = MsgPackCodec.encode(row, dataSchema)
    out.write(b, 0, b.length)
  }
  override def close(): Unit = out.close()
}
