package graft.ops

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** The refresh property the q199 oracle cannot see: repeated runs leave
  * the frozen-history files byte-for-byte alone (same paths, same
  * mtimes) — only the hot window recomputes. */
class ReprocessSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  private def frozenState(): Map[String, Long] = {
    val root = java.nio.file.Paths.get(Ingest.frozenHistory(spark, dir))
    val s = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally s.close()
  }

  test("second refresh reuses frozen history file-identical; results equal") {
    val r1 = Ingest.reprocessModel(spark, dir).collect().toSeq
    val s1 = frozenState()
    assert(s1.nonEmpty, "frozen model must materialize files")
    val r2 = Ingest.reprocessModel(spark, dir).collect().toSeq
    val s2 = frozenState()
    assert(s2 == s1, "frozen history was rewritten by a refresh")
    assert(r2 == r1, "refresh changed the published model")
  }
}
