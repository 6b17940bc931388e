package graft.queries

/** Shared /tmp-root keying for every persisted tier (IVF/graph indexes,
  * the near-dup band tier, BPE models): `kind` separates tier families,
  * and the SOURCE TABLE's file identity (mtime + length) keys the
  * corpus generation — a regenerated fixture keys a fresh root while
  * re-runs reuse the warm tier. One implementation on purpose: the
  * keying scheme is a correctness surface (a tier served against the
  * wrong corpus generation is silent wrong answers), so a future change
  * — say adding a content hash after an mtime collision — lands
  * everywhere at once. What the file key CANNOT see is how the tier's
  * artifacts were computed; that half lives in the marker fingerprint
  * ([[graft.ext.Tier]]). */
private[queries] object TierRoots {
  def of(kind: String, dir: String, sourceTable: String): String = {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/")
    val src = new java.io.File(s"$dir/$sourceTable.parquet")
    s"$tmp/$kind/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}_${src.lastModified}_${src.length}"
  }
}
