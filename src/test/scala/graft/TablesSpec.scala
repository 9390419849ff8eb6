package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tables.events must normalize BOTH physical layouts the driver's
  * testdata has shipped (TESTDATA regen history): ns-epoch int64 and
  * naive µs timestamp. Whichever shape the live testdata currently has,
  * the OTHER branch would otherwise be dead code locally — so each is
  * pinned here against a fabricated fixture with known instants. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-10T12:34:56.789012Z, in µs
  private val usEpoch = 1704890096789012L

  private def assertNormalized(dir: String): Unit = {
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType,
      s"expected session-UTC TimestampType, got ${got.schema("ts").dataType}")
    val micros = got.select(unix_micros(col("ts"))).collect()(0).getLong(0)
    assert(micros === usEpoch, s"instant drifted: $micros vs $usEpoch")
  }

  test("events normalizes the ns-epoch int64 layout") {
    val dir = tmpDir("tables-ns")
    Seq((1L, usEpoch * 1000L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertNormalized(dir)
  }

  test("events normalizes the naive-microsecond timestamp layout") {
    val dir = tmpDir("tables-ntz")
    Seq((1L, java.time.LocalDateTime.ofEpochSecond(
        usEpoch / 1000000L, ((usEpoch % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC), 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertNormalized(dir)
  }

  test("memo recomputes after a scanned file is rewritten in place, hits while unchanged") {
    val dir = tmpDir("tables-memo")
    val file = java.nio.file.Paths.get(dir, "t.parquet")
    def writeRows(n: Int, mtime: Long): Unit = {
      val out = s"$dir/out$n"
      (1 to n).toDF("x").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(file.toFile.setLastModified(mtime))
    }
    var computed = 0
    def memoOnFreshRead(): Int =
      Tables.memo("spec", spark.read.parquet(file.toString)) { computed += 1; computed }
    writeRows(1, 1700000000000L)
    assert(memoOnFreshRead() === 1)
    assert(memoOnFreshRead() === 1) // unchanged file: hit
    writeRows(3, 1700000001000L) // same path, new size and mtime
    assert(memoOnFreshRead() === 2)
    assert(memoOnFreshRead() === 2)
    assert(file.toFile.setLastModified(1700000002000L)) // mtime alone
    assert(memoOnFreshRead() === 3)
    assert(Tables.memo("other", spark.read.parquet(file.toString))(-1) === -1) // per tag
  }
}
