package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.inputBytes` feeds both size gates, so a failed stat must not
  * stick: it answers 0 for the failing call only, and the next call
  * stats the table again. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("a failed table stat is not memoized; a later stat returns the real size") {
    val d = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "tables_stat")
      .toString
    assert(Tables.inputBytes(spark, d, "orders") == 0L,
      "a missing table has no bytes to report")
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment")
      .write.parquet(s"$d/orders.parquet")
    val onDisk = Files.walk(Paths.get(s"$d/orders.parquet")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      // Hadoop's local filesystem hides its .crc checksum files
      .filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
      .map(Files.size(_)).sum
    assert(onDisk > 0)
    assert(Tables.inputBytes(spark, d, "orders") == onDisk,
      "the missing-path failure was cached")
  }
}
