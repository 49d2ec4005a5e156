package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.unsafe.types.UTF8String

/** Point search of the single key-sorted JSON-lines file
  * [[Sinks.sortedSingleFileJson]] publishes: the file is its own index.
  * A binary search over byte offsets seeks, skips to the next line start
  * and decodes that line's key with Jackson, so a lookup reads a few
  * windows of the file on the driver instead of scanning it in a Spark
  * job. Keys compare as `UTF8String` (Spark's binary string order, which
  * differs from `String.compareTo` past the BMP); a line without the key
  * field is a null key, and nulls sort first, as the sink's ascending sort
  * puts them.
  */
private[graft] object SortedJsonSearch {

  /** Bytes read per seek; a longer line is read on in further windows. */
  private[graft] val Window = 4096

  private val json = new JsonFactory()

  /** A probed line that is not a JSON object, or whose key is not a string. */
  private object NotSearchable extends Exception(null, null, false, false)

  /** The lines of the one `part-*` file in `dir` whose `key` field equals
    * `term`, in file order (registered operations may repeat a key). None
    * when the search cannot answer: the directory does not hold exactly
    * one part file, the file is gone (a republish swapped it away), or a
    * probed line is not a JSON object with a string or absent key.
    */
  def matchingLines(fs: FileSystem, dir: String, key: String,
      term: String): Option[Seq[String]] =
    try fs.listStatus(new Path(dir)).filter(_.getPath.getName.startsWith("part-")) match {
      case Array(part) =>
        val in = fs.open(part.getPath)
        try Some(search(new Lines(in, part.getLen), key, UTF8String.fromString(term)))
        finally in.close()
      case _ => None
    } catch {
      case _: java.io.FileNotFoundException | NotSearchable => None
    }

  private def search(file: Lines, key: String, term: UTF8String): Seq[String] = {
    // the line starting at `s`: its end offset and whether its key sorts
    // before, at or after the term
    def probe(s: Long): (Long, Array[Byte], Int) = {
      val end = file.newline(s)
      val line = file.slice(s, end)
      val k = keyOf(line, key)
      (end, line, if (k == null) -1 else k.binaryCompare(term))
    }
    // invariant: every line starting before `lo` sorts before the term;
    // the first line starting at or after `hi` does not (or there is none)
    var lo = 0L
    var hi = file.len
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      val s = if (mid == 0) 0L else file.newline(mid - 1) + 1
      if (s >= file.len) hi = mid
      else {
        val (end, _, c) = probe(s)
        if (c >= 0) hi = mid else lo = end + 1
      }
    }
    // `lo` starts the first line not before the term: collect the run of equal keys
    val out = Vector.newBuilder[String]
    var s = lo
    var equal = true
    while (equal && s < file.len) {
      val (end, line, c) = probe(s)
      equal = c == 0
      if (equal) out += new String(line, UTF_8)
      s = end + 1
    }
    out.result()
  }

  /** The `key` field of one JSON-object line; null when absent or null. */
  private def keyOf(line: Array[Byte], key: String): UTF8String = {
    val p = json.createParser(line)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) throw NotSearchable
      var k: UTF8String = null
      var found = false
      while (!found && p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        val value = p.nextToken()
        if (name != key) p.skipChildren()
        else {
          found = true
          value match {
            case JsonToken.VALUE_STRING => k = UTF8String.fromString(p.getText)
            case JsonToken.VALUE_NULL =>
            case _ => throw NotSearchable
          }
        }
      }
      k
    } finally p.close()
  }

  /** Random access to the bytes of a file of `len` bytes through one
    * window-sized buffer, refilled by a seek when an offset falls outside.
    */
  private final class Lines(in: FSDataInputStream, val len: Long) {
    private val buf = new Array[Byte](Window)
    private var from = 0L
    private var filled = 0

    private def byteAt(p: Long): Byte = {
      if (p < from || p >= from + filled) {
        in.seek(p)
        from = p
        filled = 0
        var n = 0
        while (filled < Window && { n = in.read(buf, filled, Window - filled); n > 0 })
          filled += n
        if (filled == 0)
          throw new java.io.EOFException(s"offset $p of a $len-byte file")
      }
      buf((p - from).toInt)
    }

    /** Offset of the first newline at or after `p`, or `len`. */
    def newline(p: Long): Long = {
      var i = p
      while (i < len && byteAt(i) != '\n') i += 1
      i
    }

    def slice(start: Long, end: Long): Array[Byte] =
      Array.tabulate((end - start).toInt)(i => byteAt(start + i))
  }
}
