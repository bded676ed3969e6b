package perfbench

import java.util.zip.CRC32

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** Seeded TeraGen-style input: `n` records of 100 bytes, a 10-byte key and
  * a 90-byte payload. Every record is a pure function of (seed, row id), so
  * the input does not depend on how rows are split over partitions.
  *
  * `uniform` draws the key bytes uniformly, as TeraGen does. `skew` sends a
  * fixed [[HotShare]] of the rows (chosen by the seeded stream) to one hot
  * key and draws the rest from a Zipf-like tail of ranks, so the key set is
  * duplicate-heavy and one key cannot be split by a range partitioner.
  */
object Gen {
  val RecordLen = 100
  val KeyLen = 10
  val HotShare = 0.25
  val TailRanks = 1000000L

  private val schema = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** SplitMix64 finaliser: a full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  private def putKey(h: Long, rec: Array[Byte]): Unit = {
    var i = 0
    while (i < 8) { rec(i) = (h >>> (56 - 8 * i)).toByte; i += 1 }
    val h2 = mix(h)
    rec(8) = (h2 >>> 56).toByte
    rec(9) = (h2 >>> 48).toByte
  }

  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")

  def record(seed: Long, skew: Boolean, id: Long): Array[Byte] = {
    val rec = new Array[Byte](RecordLen)
    val base = mix(seed ^ 0x5DEECE66DL)
    if (!skew) putKey(mix(base + id), rec)
    else {
      val u = unit(mix(base - id))
      val rank =
        if (u < HotShare) 0L
        else math.min(TailRanks, math.exp((u - HotShare) / (1 - HotShare) * math.log(TailRanks.toDouble)).toLong)
      putKey(mix(base ^ mix(rank)), rec)
    }
    // payload: the row id as 16 hex digits, then a filler derived from it,
    // the same compressibility class as TeraGen's payload
    var i = 0
    while (i < 16) { rec(KeyLen + i) = Hex(((id >>> (60 - 4 * i)) & 0xF).toInt); i += 1 }
    val fill = ('A' + (id % 26)).toByte
    i = KeyLen + 16
    while (i < RecordLen) { rec(i) = fill; i += 1 }
    rec
  }

  def records(spark: SparkSession, seed: Long, skew: Boolean, n: Long, parts: Int): RDD[Array[Byte]] =
    spark.sparkContext.range(0L, n, 1L, parts).map(id => record(seed, skew, id))

  def frame(spark: SparkSession, seed: Long, skew: Boolean, n: Long, parts: Int): DataFrame =
    spark.createDataFrame(
      records(spark, seed, skew, n, parts).map(r =>
        Row(java.util.Arrays.copyOfRange(r, 0, KeyLen), java.util.Arrays.copyOfRange(r, KeyLen, RecordLen))),
      schema)

  def crc(rec: Array[Byte], off: Int): Long = {
    val c = new CRC32()
    c.update(rec, off, RecordLen)
    c.getValue
  }

  /** (record count, sum of per-record CRC32): TeraValidate's
    * order-independent checksum, computed from the generator itself. */
  def checksum(spark: SparkSession, seed: Long, skew: Boolean, n: Long, parts: Int): (Long, Long) =
    records(spark, seed, skew, n, parts).map(r => (1L, crc(r, 0)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
