package graft.ops

import graft.{Sessions, T}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The erasure properties the q187 oracle cannot see: untouched
  * partitions are SYMLINKS to the original files (zero bytes copied),
  * the revoked source's partition is absent, and rewritten partitions
  * hold real (non-link) files. */
class TakedownSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  test("untouched partitions are symlink-reused, revoked partition absent, touched rewritten") {
    val v2 = java.nio.file.Paths.get(Ingest.erasedCorpus(spark, dir))
    val touched = T(spark, dir, "documents")
      .filter(col("source") === "src3" || col("doc_id") % 97 === 0)
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    val allSources = T(spark, dir, "documents")
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(!java.nio.file.Files.exists(v2.resolve("source=src3")),
      "revoked source partition must be absent")
    val untouched = allSources -- touched
    assert(untouched.nonEmpty, "fixture must leave some partitions untouched")
    for (src <- untouched)
      assert(java.nio.file.Files.isSymbolicLink(v2.resolve(s"source=$src")),
        s"untouched partition source=$src was copied instead of linked")
    for (src <- touched - "src3")
      assert(java.nio.file.Files.isDirectory(v2.resolve(s"source=$src")) &&
        !java.nio.file.Files.isSymbolicLink(v2.resolve(s"source=$src")),
        s"touched partition source=$src must be rewritten, not linked")
  }

  test("erasure is complete and not over-broad") {
    val after = Ingest.takedownErase(spark, dir)
      .agg(sum(col("n_docs"))).collect().head.getLong(0)
    val docs = T(spark, dir, "documents")
    val expected = docs.filter(!(col("source") === "src3" || col("doc_id") % 97 === 0)).count()
    assert(after == expected, s"post-erasure count $after != expected $expected")
  }
}
