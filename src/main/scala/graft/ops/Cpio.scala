package graft.ops

/** cpio archive walk (portable ASCII "newc" format) — the payload
  * format inside RPM packages and initramfs images; the other half of
  * the distro-package world next to [[Ar]]'s .deb. Rides
  * commons-compress on the Spark classpath under the [[Archive]]
  * contract (member-count/member-size/total caps, oversized members keep
  * metadata with a null payload, short reads and every library
  * exception → None); directories are skipped. */
object Cpio extends Archive(minLength = 6, skipDirs = true, defaultMaxMembers = 4096) {

  protected def open(bytes: Array[Byte]): Archive.Cursor = Archive.cursor(
    new org.apache.commons.compress.archivers.cpio.CpioArchiveInputStream(
      new java.io.ByteArrayInputStream(bytes)))

  // ------------------------------------------------------------------
  // Fixture encoder (the library's writer, newc format + TRAILER!!!).

  def encode(members: Seq[(String, Array[Byte])]): Array[Byte] =
    Archive.write(members)(
      new org.apache.commons.compress.archivers.cpio.CpioArchiveOutputStream(_)) { (name, data) =>
      val e = new org.apache.commons.compress.archivers.cpio.CpioArchiveEntry(name)
      e.setSize(data.length.toLong)
      e
    }
}
