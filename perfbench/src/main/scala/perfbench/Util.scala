package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Small helpers shared by the harness: statistics, JSON rendering, files
  * and the order-independent content hash the output checks use.
  */
object Util {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, seconds(t0, System.nanoTime()))
  }

  // --- JSON (output only: numbers, strings, booleans, maps, sequences) ---

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(json)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  // --- files ---

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def freshDir(path: String): String = {
    val f = new File(path)
    deleteRecursively(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Every regular file under `dir` whose name passes `keep`, sorted. */
  def listFiles(dir: String, keep: String => Boolean): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.isFile && keep(f.getName)) Seq(f)
      else Nil
    walk(new File(dir))
  }

  def writeString(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }

  def readString(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** Write through a temporary sibling and rename, so a reader (or an
    * interrupted generator) never sees a partial file.
    */
  def writeAtomically(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def zstd(bytes: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(bytes, level)

  /** Lines of a file, zstd-decoded when the name ends in `.zst`. */
  def readLines(f: File): Iterator[String] = {
    val raw = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
    val in = if (f.getName.endsWith(".zst")) new com.github.luben.zstd.ZstdInputStream(raw) else raw
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8), 1 << 16)
    Iterator.continually(r.readLine()).takeWhile { l =>
      if (l == null) r.close()
      l != null
    }
  }

  // --- order-independent content hash: (count, sum of 64-bit line hashes) ---

  /** 64-bit FNV-1a over the UTF-8 bytes, finished with a murmur mix. */
  def lineHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
    def add(line: String): Digest = Digest(count + 1, sum + lineHash(line))
  }
  object Digest { val empty: Digest = Digest(0, 0) }

  def digestLines(lines: Iterator[String]): Digest =
    lines.foldLeft(Digest.empty)(_ add _)

  /** Digest of many files, decoded in parallel on a bounded pool. */
  def digestFiles(files: Seq[File], threads: Int): Digest = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = files.map(f => pool.submit(() => digestLines(readLines(f))))
      futures.map(_.get()).foldLeft(Digest.empty)(_ + _)
    } finally pool.shutdown()
  }

  /** sha-256 over every file under `dir` (relative name + bytes), sorted. */
  def treeSha256(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = new File(dir).getAbsoluteFile.toPath
    listFiles(dir, _ => true).foreach { f =>
      md.update(root.relativize(f.getAbsoluteFile.toPath).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

object FileKeys {
  /** For each key, the number of files whose lines carry it. */
  def owners(files: Seq[File], key: String => String): Map[String, Int] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val sets = files.map(f => pool.submit(() => Util.readLines(f).map(key).toSet))
        .map(_.get())
      sets.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    } finally pool.shutdown()
  }
}
