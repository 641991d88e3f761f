package graft.ops

/** The staleness-stamped one-time fixture-dir protocol — ONE definition
  * for every catalog fixture dir: the index fixtures, the deletion-vector
  * tables, the incremental stats and codebook, and the bloom and
  * month-partitioned layouts (a copy of this ~20-line block once lived
  * at each call site, so a protocol fix had to land at every one).
  *
  * Per (JVM × sf dir × fixture generation): build once into a tmp dir
  * stamped by the source table's (mtime, size) — a regenerated fixture
  * set gets a fresh dir automatically; a completion marker distinguishes
  * a finished build from an interrupted one, which is discarded and
  * redone whole (the crash window leaves no half-built fixture behind
  * the marker). `cache` memoizes per sf dir within the JVM; callers
  * synchronize through it, so concurrent first-touch builds once.
  */
private[graft] object QueryFixtures {

  def fixtureDir(cache: scala.collection.concurrent.TrieMap[String, String],
      name: String, srcTable: String, d: String)
      (build: String => Unit): String =
    cache.synchronized {
      cache.getOrElseUpdate(d, {
        val src = new java.io.File(s"$d/$srcTable.parquet")
        val stamp = s"${src.lastModified()}_${src.length()}"
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_${name}_${math.abs(d.hashCode)}_$stamp")
        val marker = new java.io.File(dir, "_graft_index_complete")
        if (!marker.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          if (dir.exists()) rm(dir)
          // the protocol owns dir creation (r19 ADVICE): a builder that
          // writes nothing must still leave a valid marked dir behind,
          // not an IOException from createNewFile on a missing parent
          dir.mkdirs()
          build(dir.getAbsolutePath)
          marker.createNewFile()
          ()
        }
        dir.getAbsolutePath
      })
    }
}
