package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.BinaryRecords

/** Round-trip + TeraSort property for the fixed-width binary source/sink:
  * gen → write unsorted → terasort → files concatenated in name order are
  * globally key-sorted, record count and key multiset preserved. Also the
  * reader's driver-side length check and the sink's single plan run. */
class BinaryRecordsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def genTeraRecords(n: Int) = BinaryRecords.teragen(spark, n)

  private def records(df: DataFrame): Array[(String, String)] =
    df.select(col("key").cast("string"), col("payload").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted

  test("binary record sink/scan round-trips 100-byte records") {
    val dir = Files.createTempDirectory("graft_bin").toString
    val in = s"$dir/in"
    BinaryRecords.write(genTeraRecords(5000), in)
    val back = BinaryRecords.read(spark, in)
    assert(back.count() === 5000)
    val r = back.select(length(col("key")).as("lk"), length(col("payload")).as("lp"))
      .distinct().collect()
    assert(r.length === 1 && r(0).getInt(0) === 10 && r(0).getInt(1) === 90)
    assert(records(back).sameElements(records(genTeraRecords(5000))),
      "(key, payload) multiset read back differs from teragen's")
  }

  test("read rejects a file that is not a whole number of records, on the driver") {
    val dir = Files.createTempDirectory("graft_bin_bad")
    Files.write(dir.resolve("part-00000"), new Array[Byte](200))
    Files.write(dir.resolve("part-00001"), new Array[Byte](250))
    // names binaryRecords skips itself are not checked
    Files.write(dir.resolve("_SUCCESS"), new Array[Byte](7))
    Files.write(dir.resolve(".inprogress"), new Array[Byte](12))
    val e = intercept[IllegalArgumentException](BinaryRecords.read(spark, dir.toString))
    assert(e.getMessage.contains("part-00001") && e.getMessage.contains("length 250"),
      e.getMessage)
    Files.delete(dir.resolve("part-00001"))
    assert(BinaryRecords.read(spark, dir.toString).count() === 2)
  }

  test("write runs its input plan once: each row is seen by the sample and the map, no more") {
    val n = 2000
    val seen = spark.sparkContext.longAccumulator("rows_seen")
    val tap = udf { (k: Array[Byte]) => seen.add(1); k }.asNondeterministic()
    val sorted = genTeraRecords(n)
      .select(tap(col("key")).as("key"), col("payload"))
      .repartitionByRange(4, col("key"))
      .sortWithinPartitions(col("key"))
    BinaryRecords.write(sorted, Files.createTempDirectory("graft_bin_once").toString + "/out")
    assert(seen.value === 2L * n)
  }

  test("terasort over binary files: name-ordered concatenation is globally sorted") {
    val dir = Files.createTempDirectory("graft_tera").toString
    val in = s"$dir/in"
    val out = s"$dir/out"
    BinaryRecords.write(genTeraRecords(5000), in)
    BinaryRecords.terasort(spark, in, out, partitions = 6)

    // read output files in name order, byte-concatenate, check sortedness
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    assert(parts.size === 6)
    val keys = parts.flatMap { p =>
      val bytes = Files.readAllBytes(p)
      assert(bytes.length % 100 === 0, s"partial record in $p")
      bytes.grouped(100).map(r => new String(r.take(10), "UTF-8")).toSeq
    }
    assert(keys.length === 5000)
    assert(keys.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true },
      "concatenated output not globally sorted")
    // permutation: same key multiset as input
    val inKeys = genTeraRecords(5000)
      .select(col("key").cast("string")).collect().map(_.getString(0))
    assert(keys.sorted.sameElements(inKeys.sorted))
  }
}
