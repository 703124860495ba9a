package graft.ops

/** 7z archive walk — the format the StackExchange data dumps (a
  * canonical LLM-pretraining source) actually ship in, plus plenty of
  * scraped-upload corpora. Rides commons-compress on the Spark
  * classpath (the ORC/Arrow precedent for formats whose mature
  * reference implementation ships with the engine — a hand-rolled
  * LZMA2+BCJ decoder would be thousands of lines for no behavioral
  * difference). The engine's [[Archive]] contract wraps it:
  *
  *  - per-member and whole-archive output bounds (a 7z bomb
  *    quarantines — oversized members keep their metadata row with a
  *    null payload);
  *  - a bound on the decoder's own allocations (below);
  *  - encrypted members and every library exception → None (7z's
  *    header CRCs make torn/flipped archives structurally detectable);
  *  - directories are skipped; member count capped. */
object SevenZip extends Archive(minLength = 32, skipDirs = true, defaultMaxMembers = 4096) {

  protected def open(bytes: Array[Byte]): Archive.Cursor = {
    val zf = org.apache.commons.compress.archivers.sevenz.SevenZFile.builder()
      .setSeekableByteChannel(
        new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(bytes))
      // bound the DECODER's allocations too (dictionary declared in the
      // hostile header, not just extracted output) — without this a
      // crafted huge-dictionary declaration throws OutOfMemoryError, an
      // Error that escapes NonFatal and kills the task. 256 MiB admits
      // every standard preset (9 ⇒ 64 MiB dict + estimate overhead) and
      // refuses the hostile tail of the range. (NOT the deprecated
      // setMaxMemoryLimitKb, which silently right-shifts the value by
      // 10 — 256 MiB would become a 256 KiB limit that rejects every
      // standard preset.)
      .setMaxMemoryLimitKiB(256 * 1024)
      .get()
    new Archive.Cursor {
      def next(): org.apache.commons.compress.archivers.ArchiveEntry = zf.getNextEntry
      def read(b: Array[Byte], off: Int, len: Int): Int = zf.read(b, off, len)
      def close(): Unit = zf.close()
    }
  }

  // ------------------------------------------------------------------
  // Fixture encoder (the library's writer, LZMA2 default).

  /** `preset` is the LZMA2 preset (0–9); `dictSize` > 0 overrides the
    * preset's dictionary size. commons-compress initializes one LZMA2
    * encoder (dictionary allocation included) PER MEMBER — the
    * preset-6 default costs ~45 ms a member, fine for one real
    * StackExchange dump, ruinous for thousands of tiny fixture
    * members — so fixture-heavy callers pass preset 0 with a 4 KiB
    * dictionary (same format, same decoder). */
  def encode(members: Seq[(String, Array[Byte])], preset: Int = 6,
             dictSize: Int = 0): Array[Byte] = {
    val ch = new org.apache.commons.compress.utils.SeekableInMemoryByteChannel()
    val out = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(ch)
    try {
      val opts = new org.tukaani.xz.LZMA2Options(preset)
      if (dictSize > 0) opts.setDictSize(dictSize)
      out.setContentMethods(java.util.Arrays.asList(
        new org.apache.commons.compress.archivers.sevenz.SevenZMethodConfiguration(
          org.apache.commons.compress.archivers.sevenz.SevenZMethod.LZMA2, opts)))
      members.foreach { case (name, data) =>
        val e = new org.apache.commons.compress.archivers.sevenz.SevenZArchiveEntry()
        e.setName(name)
        e.setDirectory(false)
        out.putArchiveEntry(e)
        out.write(data)
        out.closeArchiveEntry()
      }
      out.finish()
    } finally out.close()
    java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
  }
}
