package graft.ops

import graft.T
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GC properties the q188 oracle cannot see: the superseded version
  * directory is actually gone, the current one intact, and a symlinked
  * version dir is deleted as a LINK (its target survives). */
class VacuumSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("vacuum removes superseded versions, keeps current, spares symlink targets") {
    val root = graft.Scratch.fresh("vacuum_spec")
    val clean = T(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    assert(Ingest.Wap.publish(spark, root, "v1", clean))
    assert(Ingest.Wap.publish(spark, root, "v2", clean.filter(col("o_orderkey") % 2 === 0)))
    // a version dir that is a symlink: vacuum must delete the LINK only
    val target = java.nio.file.Paths.get(graft.Scratch.dir("vacuum_spec_target"))
    java.nio.file.Files.write(target.resolve("keepme"), "x".getBytes)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(root, "v0link"), target)

    val removed = Ingest.vacuum(root, keep = "v2")
    assert(removed == Seq("v0link", "v1"), s"removed: $removed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v2")))
    assert(java.nio.file.Files.exists(target.resolve("keepme")),
      "vacuum recursed through a symlinked version dir")
    assert(spark.read.parquet(s"$root/v2").count() ==
      clean.filter(col("o_orderkey") % 2 === 0).count())
  }
}
