package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixed-width 100-byte TeraSort record I/O — the Spark-native equivalent
  * of the reference's vendored Hadoop TeraInputFormat / TeraOutputFormat
  * (SURVEY.md §2.3 R1/R6; gensort record spec: 10-byte key ‖ 90-byte
  * payload, unsigned byte-lexicographic key order).
  *
  * This is the only module that knows the record format.
  *
  * Read: `sparkContext.binaryRecords` (Hadoop FixedLengthInputFormat
  * underneath — splits on exact record boundaries, no record parsing on
  * the driver) lifted to a DataFrame of (key BinaryType, payload
  * BinaryType). Input files are length-checked on the driver first.
  *
  * Write: raw record bytes through a minimal FileOutputFormat — one part
  * file per partition, named in partition order, so writing a
  * range-partitioned, partition-sorted DataFrame yields files whose
  * name-order concatenation is globally sorted — exactly TeraOutputFormat's
  * contract. The input plan runs once.
  */
object BinaryRecords {
  val RecordLen = 100
  val KeyLen = 10

  /** teragen: n deterministic 100-byte records (10-byte ASCII-digit key
    * from an explicit LCG — unsigned-lexicographic == numeric order — and
    * a 90-byte payload). Pure DataFrame generation, no RNG. */
  def teragen(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      expr("cast(lpad(cast((1103515245 * id + 12345) % 2147483647 as string), 10, '0') as binary)").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload"))

  /** Scan a directory/file of fixed 100-byte records. A file whose length
    * is not a whole number of records is rejected here, on the driver,
    * rather than as a bare EOFException inside a task. */
  def read(spark: SparkSession, path: String): DataFrame = {
    checkRecordFiles(spark, path)
    val rdd = spark.sparkContext.binaryRecords(path, RecordLen).map(Row(_))
    spark.createDataFrame(rdd, StructType(Seq(StructField("rec", BinaryType, nullable = false))))
      .select(
        expr(s"substring(rec, 1, $KeyLen)").as("key"),
        expr(s"substring(rec, ${KeyLen + 1}, ${RecordLen - KeyLen})").as("payload"))
  }

  /** Sink a DataFrame with binary `key` and `payload` columns as raw
    * fixed-width records. Partition order (and order within partitions) is
    * preserved — callers wanting a globally sorted file set should pass a
    * `repartitionByRange(...).sortWithinPartitions(...)` DataFrame. */
  def write(df: DataFrame, path: String): Unit =
    // toRdd, not .rdd: under AQE, toRdd itself runs the range-sample job
    // and the map stage to build the final RDD; .rdd plans a second
    // execution that runs both again, plus a Row deserializer
    df.select(concat(col("key"), col("payload")).as("rec"))
      .queryExecution.toRdd
      .map(r => (NullWritable.get(), new BytesWritable(r.getBinary(0))))
      .saveAsNewAPIHadoopFile(path, classOf[NullWritable], classOf[BytesWritable],
        classOf[RawRecordOutputFormat])

  /** Every input file must hold whole records. Skips the names that
    * binaryRecords' FileInputFormat skips itself (`_*`, `.*`). */
  private def checkRecordFiles(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for {
      m <- Option(fs.globStatus(new Path(path))).toSeq.flatten
      f <- if (m.isDirectory) fs.listStatus(m.getPath).toSeq else Seq(m)
      name = f.getPath.getName
      if f.isFile && !name.startsWith("_") && !name.startsWith(".")
    } require(f.getLen % RecordLen == 0,
      s"${f.getPath}: length ${f.getLen} is not a multiple of $RecordLen")
  }

  /** End-to-end TeraSort over binary record files: read, globally sort by
    * the 10-byte key (range exchange + per-partition radix sort), write.
    * The whole reference pipeline as three lines of DataFrame API. */
  def terasort(spark: SparkSession, in: String, out: String, partitions: Int): Unit = {
    val sorted = read(spark, in)
      .repartitionByRange(partitions, col("key"))
      .sortWithinPartitions(col("key"))
    write(sorted, out)
  }
}

/** Raw byte sink: writes each record's bytes verbatim, no markers/headers —
  * byte-compatible with gensort/teravalidate tooling. */
class RawRecordOutputFormat extends FileOutputFormat[NullWritable, BytesWritable] {
  override def getRecordWriter(ctx: TaskAttemptContext): RecordWriter[NullWritable, BytesWritable] = {
    val file = getDefaultWorkFile(ctx, "")
    val out = file.getFileSystem(ctx.getConfiguration).create(file, false)
    new RecordWriter[NullWritable, BytesWritable] {
      override def write(k: NullWritable, v: BytesWritable): Unit =
        out.write(v.getBytes, 0, v.getLength)
      override def close(ctx: TaskAttemptContext): Unit = out.close()
    }
  }
}
