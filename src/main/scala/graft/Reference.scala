package graft

/** The reference pipeline's read-only data snapshot (`data/lu.gpkg`,
  * `data/lu.csv`, `results/summary_report.csv`) that q49, q51 and the
  * golden specs read. Its root is a deployment path, set by
  * `GRAFT_REFERENCE`. */
object Reference {
  def root: String = sys.env.getOrElse("GRAFT_REFERENCE", "/root/reference")

  /** Path of one snapshot file; a missing file fails here, by name, rather
    * than deep inside a reader. */
  def file(rel: String): String = {
    val f = new java.io.File(root, rel)
    if (!f.isFile) throw new java.io.FileNotFoundException(
      s"reference snapshot file $rel not found at ${f.getPath} (GRAFT_REFERENCE=$root)")
    f.getPath
  }
}
