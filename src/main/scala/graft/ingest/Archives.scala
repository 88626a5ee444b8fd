package graft.ingest

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, PushbackInputStream}
import java.util.zip.GZIPInputStream

/** Archive expansion (SURVEY S3–S5): tar / tar.gz / gz members streamed
  * from an `InputStream`, used inside the flagship's scan task so a daily
  * archive expands to hourly members in the task that read it — the Spark
  * analog of the reference's in-memory `tarfile`/`gzip` streaming
  * (radohydro.py:207-210, 292-306, 440). No temp files, no driver round-trip.
  *
  * Tar parsing is hand-rolled (POSIX ustar headers are 512-byte blocks with
  * octal size fields) to stay dependency-free. The streaming path never
  * holds a whole decoded archive: nested archives are read through bounded
  * views of their parent stream, and each leaf member lands in one
  * [[MemberBuffer]] the next member reuses.
  */
object Archives {

  final case class Member(name: String, bytes: Array[Byte])

  /** A streamed leaf member: `bytes(0 until length)` is its content, valid
    * until the iterator that produced it advances. The buffer grows by
    * doubling, and only when it is full and more bytes arrive, so it is at
    * most twice what was actually read — a size field that lies about its
    * body cannot make it allocate. No growth is capped at a member's
    * declared size: a later, larger member of the archive would then copy
    * the whole buffer again.
    */
  final class MemberBuffer {
    private var buf = new Array[Byte](8 * 1024)
    private var len = 0
    private var nm = ""

    def name: String = nm
    def bytes: Array[Byte] = buf
    def length: Int = len
    def copy(): Array[Byte] = java.util.Arrays.copyOf(buf, len)

    /** Read `e` to its end into the buffer, then close it (which frees a
      * gzip inflater at once and leaves an enclosing archive open).
      */
    private[Archives] def fill(e: Entry): this.type = {
      nm = e.name
      len = 0
      var eof = false
      while (!eof) {
        if (len < buf.length) {
          val n = e.in.read(buf, len, buf.length - len)
          if (n < 0) eof = true else len += n
        } else {
          // full: grow only once another byte has actually arrived
          val b = e.in.read()
          if (b < 0) eof = true
          else {
            val want = math.min(2L * len, MaxMember)
            require(want > len, s"archive member '${e.name}' exceeds $MaxMember bytes")
            buf = java.util.Arrays.copyOf(buf, want.toInt)
            buf(len) = b.toByte
            len += 1
          }
        }
      }
      e.in.close()
      this
    }
  }

  private val MaxMember = Int.MaxValue - 8

  /** One expansion-level item: a name and its content stream, valid until
    * the next item is requested.
    */
  private final case class Entry(name: String, in: InputStream)

  private val GzipBufferBytes = 16 * 1024

  private def isTarName(name: String): Boolean =
    name.endsWith(".tar") || name.endsWith(".tar.gz") || name.endsWith(".tgz")

  /** `raw`, gunzipped if its first two bytes are the gzip magic, and
    * whether they were.
    */
  private def decoded(raw: InputStream): (InputStream, Boolean) = {
    val p = new PushbackInputStream(raw, 2)
    val b0 = p.read()
    val b1 = if (b0 < 0) -1 else p.read()
    if (b1 >= 0) p.unread(b1)
    if (b0 >= 0) p.unread(b0)
    if (b0 == 0x1f && b1 == 0x8b) (new GZIPInputStream(p, GzipBufferBytes), true) else (p, false)
  }

  /** One level of expansion with gz-awareness: tar → members; bare gzip →
    * single decoded member (name minus `.gz`); anything else → itself.
    */
  private def entries(name: String, raw: InputStream): Iterator[Entry] = {
    val (in, gz) = decoded(raw)
    if (isTarName(name)) new TarEntries(in)
    else if (gz) Iterator.single(Entry(name.stripSuffix(".gz"), in))
    else Iterator.single(Entry(name, in))
  }

  /** Stream the grid members of file `name` into `out`: two expansion
    * levels, which cover plain members, `.gz` members, daily tar(.gz)
    * archives and the reference's monthly-tar-of-daily-tars path (S4).
    * `keep` sees each first-level name and prunes it before any of its bytes
    * are decoded. A scan task passes one buffer for all its files.
    */
  def members(name: String, in: InputStream, out: MemberBuffer,
      keep: String => Boolean = _ => true): Iterator[MemberBuffer] =
    entries(name, in).filter(e => keep(e.name))
      .flatMap(e => entries(e.name, e.in))
      .map(out.fill)

  /** Regular-file members of a tar stream. Each is a bounded view of `in`;
    * requesting the next skips whatever the caller left unread. After the
    * end marker the rest of `in` is read to EOF, so a gzip source still
    * verifies its CRC and length trailer.
    */
  private final class TarEntries(in: InputStream) extends Iterator[Entry] {
    private val header = new Array[Byte](512)
    private var pending: Entry = null
    private var open: TarMember = null
    private var padding = 0L
    private var done = false

    def hasNext: Boolean = {
      if (pending == null && !done) advance()
      pending != null
    }

    def next(): Entry = {
      if (!hasNext) throw new NoSuchElementException("tar: no more members")
      val e = pending; pending = null; e
    }

    private def parseOctal(start: Int, len: Int): Long = {
      var v = 0L; var i = start
      while (i < start + len) {
        val c = header(i)
        if (c >= '0' && c <= '7') v = (v << 3) + (c - '0')
        i += 1
      }
      v
    }

    private def advance(): Unit = {
      if (open != null) { open.skipRest(); open = null; skipFully(in, padding) }
      while (pending == null && !done) {
        if (!readHeader()) finish()
        else {
          var e = 0
          while (e < 100 && header(e) != 0) e += 1
          val name = new String(header, 0, e, "US-ASCII")
          val size = parseOctal(124, 12)
          val typeFlag = header(156)
          val padded = ((size + 511) / 512) * 512
          if (typeFlag == '0' || typeFlag == 0) {
            open = new TarMember(in, name, size)
            padding = padded - size
            pending = Entry(name, open)
          } else if (!skipFully(in, padded)) finish()
        }
      }
    }

    /** Read the next 512-byte header; false at the end marker or at EOF
      * (a partial header ends the archive, as an absent one does).
      */
    private def readHeader(): Boolean = {
      var n = 0
      while (n < 512) {
        val k = in.read(header, n, 512 - n)
        if (k < 0) return false
        n += k
      }
      var i = 0
      while (i < 512 && header(i) == 0) i += 1
      i < 512
    }

    private def finish(): Unit = {
      done = true
      in.transferTo(java.io.OutputStream.nullOutputStream())
      in.close()
    }
  }

  /** Skip `n` bytes of `in`; false if it ends first. */
  private def skipFully(in: InputStream, n: Long): Boolean = {
    var left = n
    while (left > 0) {
      val k = in.skip(left)
      if (k > 0) left -= k
      else if (in.read() < 0) return false
      else left -= 1
    }
    true
  }

  /** The body of one tar member: EOF after `size` bytes, and an
    * `IllegalArgumentException` if the archive ends before that, so a
    * truncated archive never yields a short member. Closing it leaves the
    * archive stream open.
    */
  private final class TarMember(in: InputStream, name: String, size: Long) extends InputStream {
    private var left = size

    private def truncated() = throw new IllegalArgumentException(
      s"tar: member '$name' claims $size bytes but archive is truncated")

    override def read(): Int =
      if (left <= 0) -1
      else {
        val b = in.read()
        if (b < 0) truncated()
        left -= 1
        b
      }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (left <= 0) -1
      else {
        val n = in.read(b, off, math.min(len.toLong, left).toInt)
        if (n < 0) truncated()
        left -= n
        n
      }

    override def skip(n: Long): Long = {
      val want = math.min(n, left)
      val k = in.skip(want)
      left -= k
      k
    }

    def skipRest(): Unit = {
      if (!skipFully(in, left)) truncated()
      left = 0
    }

    override def close(): Unit = ()
  }

  private def exact(e: Entry): Member = {
    val b = new MemberBuffer().fill(e)
    Member(b.name, b.copy())
  }

  /** Iterate regular-file members of a tar archive (plain or gzipped). */
  def untar(raw: Array[Byte]): Iterator[Member] =
    new TarEntries(decoded(new ByteArrayInputStream(raw))._1).map(exact)

  /** One level of [[members]]' expansion over an in-memory file, one
    * exact-size array per member. Applying it twice covers the
    * monthly-tar-of-daily-tars path (S4).
    */
  def expand(name: String, bytes: Array[Byte]): Iterator[Member] =
    entries(name, new ByteArrayInputStream(bytes)).map(exact)

  /** Build a tar archive (the rendered fixtures: RadolanRender, tests, perfbench). */
  def tar(members: Seq[Member]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    members.foreach { m =>
      val header = new Array[Byte](512)
      val nameBytes = m.name.getBytes("US-ASCII")
      System.arraycopy(nameBytes, 0, header, 0, math.min(nameBytes.length, 100))
      def putOctal(value: Long, offset: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(value)
        val padded = ("0" * (len - 1 - s.length)) + s
        val b = padded.getBytes("US-ASCII")
        System.arraycopy(b, 0, header, offset, len - 1)
      }
      putOctal(420, 100, 8) // mode 0644
      putOctal(0, 108, 8); putOctal(0, 116, 8)
      putOctal(m.bytes.length.toLong, 124, 12)
      putOctal(0, 136, 12)
      header(156) = '0'
      java.util.Arrays.fill(header, 148, 156, ' '.toByte)
      var chk = 0L
      header.foreach(b => chk += (b & 0xff))
      val chkStr = java.lang.Long.toOctalString(chk)
      val chkPad = ("0" * (6 - chkStr.length)) + chkStr
      System.arraycopy(chkPad.getBytes("US-ASCII"), 0, header, 148, 6)
      header(154) = 0; header(155) = ' '
      out.write(header)
      out.write(m.bytes)
      val pad = (512 - m.bytes.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }
}
