package graft.sources

/** Content identity for a dataset directory, checked by every per-process
  * reused stage: [[Stages]] (through [[key]]) and the streaming bridge's
  * one staging memo, `StreamingBridge.stagedFor` (through [[fingerprint]],
  * kept beside a path-only key so a superseded staging can be found and
  * deleted).
  * Keying by path alone serves stale results if the directory is
  * regenerated in-process (same path, new files); folding the listing's
  * (name, length, mtime) triples into the key makes regeneration a cache
  * miss without reading any data. mtime granularity is filesystem-level
  * (ms on ext4) — fine for "a rewrite happened", not a content hash.
  */
object DatasetId {

  def fingerprint(dir: String): String = {
    val f = new java.io.File(dir)
    // One level of recursion: parquet tables are directories of part
    // files, so a top-level-only listing missed an in-place part-file
    // rewrite INSIDE a table subdir (the directory's own mtime changes on
    // create/delete, not on content rewrite) and served a stale memo hit.
    def lines(e: java.io.File, prefix: String): Seq[String] = {
      val self = s"$prefix${e.getName}:${e.length}:${e.lastModified}"
      if (e.isDirectory)
        self +: Option(e.listFiles()).map(_.toSeq).getOrElse(Nil)
          .sortBy(_.getName)
          .map(c => s"$prefix${e.getName}/${c.getName}:${c.length}:${c.lastModified}")
      else Seq(self)
    }
    val entries = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
      .sortBy(_.getName)
      .flatMap(lines(_, ""))
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The memo key for `dir`: path + listing fingerprint. */
  def key(dir: String): String = s"$dir@${fingerprint(dir)}"
}
