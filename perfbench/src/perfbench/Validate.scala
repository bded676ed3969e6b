package perfbench

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.file.{Files, Path}
import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** TeraValidate over a TeraSort output directory: the part files, read in
  * name order, must hold keys in unsigned byte order within and across
  * files, and their record count and CRC32 sum must equal the input's. */
object Validate {
  final case class FileSummary(name: String, count: Long, crcSum: Long,
      first: Array[Byte], last: Array[Byte], ordered: Boolean, tailBytes: Int)

  private def keyCmp(a: Array[Byte], b: Array[Byte]): Int =
    Arrays.compareUnsigned(a, 0, Gen.KeyLen, b, 0, Gen.KeyLen)

  def summarize(file: String): FileSummary = {
    val in = new BufferedInputStream(new FileInputStream(file), 1 << 20)
    try {
      val rec = new Array[Byte](Gen.RecordLen)
      var prev: Array[Byte] = null
      var first: Array[Byte] = null
      var count, sum = 0L
      var ordered = true
      var tail = 0
      var done = false
      while (!done) {
        val got = in.readNBytes(rec, 0, Gen.RecordLen)
        if (got < Gen.RecordLen) { tail = got; done = true }
        else {
          val key = Arrays.copyOf(rec, Gen.KeyLen)
          if (first == null) first = key
          if (prev != null && keyCmp(prev, key) > 0) ordered = false
          prev = key
          count += 1
          sum += Gen.crc(rec, 0)
        }
      }
      FileSummary(file, count, sum, first, prev, ordered, tail)
    } finally in.close()
  }

  def partFiles(dir: String): Seq[String] =
    Files.list(Path.of(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted
      .map(n => Path.of(dir, n).toString)

  /** None when the output is valid, otherwise the first problem found. */
  def check(spark: SparkSession, dir: String, expected: (Long, Long)): Option[String] = {
    val files = partFiles(dir)
    if (files.isEmpty) return Some(s"no part files in $dir")
    val sums = spark.sparkContext.parallelize(files, files.size).map(summarize).collect().toSeq
    val count = sums.map(_.count).sum
    val crc = sums.map(_.crcSum).sum
    val nonEmpty = sums.filter(_.count > 0)
    sums.find(_.tailBytes != 0).map(s => s"${s.name}: ${s.tailBytes} trailing bytes")
      .orElse(sums.find(!_.ordered).map(s => s"${s.name}: keys out of order"))
      .orElse(nonEmpty.zip(nonEmpty.drop(1)).collectFirst {
        case (a, b) if keyCmp(a.last, b.first) > 0 => s"${a.name} ends after ${b.name} starts"
      })
      .orElse(Option.when(count != expected._1)(s"record count $count, expected ${expected._1}"))
      .orElse(Option.when(crc != expected._2)(s"checksum $crc, expected ${expected._2}"))
  }
}
