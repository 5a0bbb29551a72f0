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
    val maxBytes = options.get("maxBytesPerFile").map(_.toLong).getOrElse(0L)
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".tri"
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new TriOutputWriter(path, dataSchema, context, maxBytes)
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

/** Writes one task's records; with `maxBytesPerFile > 0` it rotates to a
  * sibling file (`…-r<k>.tri`) once the UNCOMPRESSED encoded byte count
  * would exceed the budget, so reader parallelism (= file count for the
  * non-splittable format) scales with data volume even when record sizes
  * are skewed — `maxRecordsPerFile` alone bounds rows, not bytes. The
  * reference rotates on a byte buffer the same way
  * (`/root/reference/triton/store.go:201` — 1 MiB flush buffer).
  *
  * Rotated siblings live next to `path` inside the task attempt directory,
  * so any directory-commit protocol (the batch write path, incl.
  * `foreachBatch`) commits them atomically with the primary file. A
  * manifest-tracked streaming file sink would orphan them — stream into
  * the archive with `StreamOps.startStore`, the engine's store pipeline,
  * whose `foreachBatch` rebalances each micro-batch by date and writes it
  * through the batch path: one writer (so one file, plus rotations) per
  * (date, client) per batch, not one per source shard.
  */
private class TriOutputWriter(val path: String, dataSchema: StructType,
                              context: TaskAttemptContext,
                              maxBytes: Long = 0L) extends OutputWriter {
  private var rotation = 0
  private var written = 0L
  private var out = open(path)

  private def open(p: String) = {
    val pp = new Path(p)
    val fs = pp.getFileSystem(context.getConfiguration)
    new SnappyFramedOutputStream(fs.create(pp, false))
  }

  private def rotatedPath(k: Int): String = {
    val i = path.lastIndexOf('.')
    if (i < 0) s"$path-r$k" else s"${path.substring(0, i)}-r$k${path.substring(i)}"
  }

  override def write(row: InternalRow): Unit = {
    val b = MsgPackCodec.encode(row, dataSchema)
    // `written > 0`: a single record larger than the budget still gets a
    // file of its own rather than an empty file plus an overflow
    if (maxBytes > 0 && written > 0 && written + b.length > maxBytes) {
      out.close()
      rotation += 1
      out = open(rotatedPath(rotation))
      written = 0L
    }
    out.write(b, 0, b.length)
    written += b.length
  }
  override def close(): Unit = out.close()
}
