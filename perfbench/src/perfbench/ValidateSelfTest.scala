package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.sources.BinaryRecords

/** Checks that the TeraValidate gate accepts a real TeraSort output and
  * rejects each kind of damage it is meant to catch. Exits non-zero on the
  * first miss. Usage: ValidateSelfTest DIR */
object ValidateSelfTest {
  def main(args: Array[String]): Unit = {
    val dir = Path.of(args(0))
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = 20000L
    var failures = 0
    try {
      for (skew <- Seq(false, true)) {
        val in = dir.resolve(s"in_$skew").toString
        val out = dir.resolve(s"out_$skew")
        BinaryRecords.write(Gen.frame(spark, 3L, skew, rows, 3), in)
        BinaryRecords.terasort(spark, in, out.toString, 4)
        val expected = Gen.checksum(spark, 3L, skew, rows, 3)
        def expect(name: String, wantValid: Boolean)(damage: Path => Unit): Unit = {
          val copy = dir.resolve(s"${name}_$skew")
          Files.createDirectories(copy)
          Validate.partFiles(out.toString).foreach { f =>
            Files.copy(Path.of(f), copy.resolve(Path.of(f).getFileName), StandardCopyOption.REPLACE_EXISTING)
          }
          damage(copy)
          val got = Validate.check(spark, copy.toString, expected)
          val ok = got.isEmpty == wantValid
          println(s"validate-selftest skew=$skew $name: ${if (ok) "ok" else "MISSED"} (${got.getOrElse("valid")})")
          if (!ok) failures += 1
        }
        def files(d: Path) = Validate.partFiles(d.toString).map(Path.of(_)).filter(Files.size(_) >= 2 * Gen.RecordLen)
        expect("intact", wantValid = true)(_ => ())
        expect("swapped_records", wantValid = false) { d =>
          // swap the first and last records of a file whose keys differ
          val f = files(d).find { f =>
            val b = Files.readAllBytes(f)
            !java.util.Arrays.equals(b, 0, Gen.KeyLen, b, b.length - Gen.RecordLen, b.length - Gen.RecordLen + Gen.KeyLen)
          }.get
          val b = Files.readAllBytes(f)
          val n = b.length - Gen.RecordLen
          val first = b.slice(0, Gen.RecordLen)
          System.arraycopy(b, n, b, 0, Gen.RecordLen)
          System.arraycopy(first, 0, b, n, Gen.RecordLen)
          Files.write(f, b)
        }
        expect("dropped_record", wantValid = false) { d =>
          val f = files(d).head
          val b = Files.readAllBytes(f)
          Files.write(f, b.dropRight(Gen.RecordLen))
        }
        expect("changed_payload", wantValid = false) { d =>
          val f = files(d).head
          val b = Files.readAllBytes(f)
          b(Gen.RecordLen - 1) = (b(Gen.RecordLen - 1) ^ 1).toByte
          Files.write(f, b)
        }
        expect("swapped_files", wantValid = false) { d =>
          val fs = files(d)
          val (a, z) = (fs.head, fs.last)
          val tmp = d.resolve("swap.tmp")
          Files.move(a, tmp)
          Files.move(z, a)
          Files.move(tmp, z)
        }
      }
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
