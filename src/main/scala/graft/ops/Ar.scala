package graft.ops

/** Unix `ar` archive walk — the container Debian packages (`.deb`) and
  * static libraries ship in. A code-training pipeline that ingests
  * distro packages meets exactly this nesting: `.deb` = ar archive of
  * `debian-binary` + `control.tar.gz` + `data.tar.xz`, each inner
  * member decoding through codecs the engine already has
  * ([[Warc.gunzipMember]], [[Codecs.unxz]], [[Tar.listMembers]]). The
  * walk rides commons-compress on the Spark classpath under the
  * [[Archive]] contract (member-count/member-size/total budgets,
  * oversized members keep metadata with a null payload, every library
  * exception → None, truncation fails closed); ar has no directory
  * entries to skip. */
object Ar extends Archive(minLength = 8, skipDirs = false, defaultMaxMembers = 1024) {

  protected def open(bytes: Array[Byte]): Archive.Cursor = Archive.cursor(
    new org.apache.commons.compress.archivers.ar.ArArchiveInputStream(
      new java.io.ByteArrayInputStream(bytes)))

  // ------------------------------------------------------------------
  // Fixture encoder (the library's writer; short GNU-ar member names).

  def encode(members: Seq[(String, Array[Byte])]): Array[Byte] =
    // the library writes the global magic lazily with the first entry —
    // a zero-member archive is still the bare "!<arch>\n"
    if (members.isEmpty) "!<arch>\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    else Archive.write(members)(
      new org.apache.commons.compress.archivers.ar.ArArchiveOutputStream(_)) { (name, data) =>
      require(name.length <= 16, s"ar member name too long: $name")
      new org.apache.commons.compress.archivers.ar.ArArchiveEntry(name, data.length)
    }
}
