package graphbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** The benchmark corpus: a fixed subset of the CPython 3.11.7 standard
  * library, stored in this directory as a tarball so every checkout
  * indexes the same bytes. */
object Corpus {
  val Rule: String = "CPython 3.11.7 Lib/, every .py file of the packages " +
    "concurrent, email, http, json, logging, urllib and wsgiref"

  final case class Identity(rule: String, files: Int, loc: Long,
      bytes: Long, sha256: String) {
    def toJson: Map[String, Any] = Map("rule" -> rule, "files" -> files,
      "loc" -> loc, "bytes" -> bytes, "sha256" -> sha256)
  }

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Unpack the corpus tarball into `dir` (the tier copy). */
  def extract(tarball: Path, dir: Path): Unit = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    import java.util.zip.GZIPInputStream
    val in = new TarArchiveInputStream(new GZIPInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(tarball))))
    try {
      var e = in.getNextEntry
      while (e != null) {
        val out = dir.resolve(e.getName).normalize()
        require(out.startsWith(dir), s"tar entry escapes the tier: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(out)
        else {
          Files.createDirectories(out.getParent)
          Files.copy(in, out)
        }
        e = in.getNextEntry
      }
    } finally in.close()
  }

  /** Sorted relative paths of the `.py` files under `root`. */
  def files(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".py"))
      .map(p => root.relativize(p).toString).toVector.sorted
    finally s.close()
  }

  /** File count, line count, byte count and a content hash over the
    * sorted (path, sha256(content)) pairs. */
  def identity(root: Path): Identity = {
    val fs = files(root)
    val md = MessageDigest.getInstance("SHA-256")
    var loc = 0L
    var bytes = 0L
    fs.foreach { f =>
      val b = Files.readAllBytes(root.resolve(f))
      bytes += b.length
      loc += b.count(_ == '\n')
      md.update(s"$f\u0000${sha256Hex(b)}\n".getBytes(UTF_8))
    }
    Identity(Rule, fs.size, loc, bytes,
      md.digest().map(x => f"${x & 0xff}%02x").mkString)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
  }

  def treeBytes(p: Path): (Long, Int) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      (fs.map(Files.size).sum, fs.size)
    } finally s.close()
  }

  private val TopDef = """(?m)^(def|class) ([A-Za-z_]\w*)""".r

  /** A seed-drawn edit of `k` files under `root`, in place: each file
    * gains a new top-level function, and one of its top-level definitions
    * (drawn from the seed) is renamed. Returns the edited paths. */
  def edit(root: Path, seed: Long, k: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val tag = java.lang.Long.toUnsignedString(seed)
    val picked = rnd.shuffle(files(root)).take(k).sorted
    picked.zipWithIndex.foreach { case (f, i) =>
      val p = root.resolve(f)
      // latin-1 maps every byte, so files in any encoding round-trip
      val src = new String(Files.readAllBytes(p), ISO_8859_1)
      val defs = TopDef.findAllMatchIn(src).toVector
      val renamed =
        if (defs.isEmpty) src
        else {
          val m = defs(rnd.nextInt(defs.size))
          src.substring(0, m.start(2)) + m.group(2) + s"_v2s$tag" +
            src.substring(m.end(2))
        }
      val added = s"\n\ndef graphbench_added_${tag}_$i(value):\n" +
        s"    return value\n"
      Files.write(p, (renamed + added).getBytes(ISO_8859_1))
    }
    picked
  }
}
