package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import Util.Digest

/** Outcome of one output check. `records` counts output records (documents
  * for curation), `tokens` the packed tokens (curation only).
  */
final case class Check(ok: Boolean, detail: String, records: Long, tokens: Long = 0L)

/** A batch topology workload: a seeded input generator, the TOML it runs,
  * the prefix pipelines the traced run times, and an output check written
  * without graft code.
  */
trait BatchWorkload {
  def name: String
  /** Input records (documents for curation) per run. */
  def records: Long
  /** Identifies the generator's parameters; cached inputs with another
    * signature are regenerated.
    */
  def signature: String
  /** Write the inputs (and whatever the check needs) under `dir`. */
  def generate(dir: String, seed: Long): Unit
  /** `[fields]`, `[csv]` and `[input]` sections. */
  def header(dir: String): String
  /** (component name, `[[filter]]` block) in chain order. */
  def filters(dir: String): Seq[(String, String)]
  def output(out: String): String
  /** Output section for the prefix pipeline ending after filter `k - 1`. */
  def prefixOutput(k: Int, out: String): String = output(out)
  def check(dir: String, out: String): Check
  /** Damage one output record in place (the check's self-test). */
  def corrupt(out: String): Unit

  def toml(dir: String, out: String): String =
    header(dir) + filters(dir).map(_._2).mkString + output(out)
  def prefixToml(dir: String, out: String, k: Int): String =
    header(dir) + filters(dir).take(k).map(_._2).mkString + prefixOutput(k, out)
}

object Workloads {
  val batch: Seq[BatchWorkload] = Seq(LogsRaw, LogsTransform, Curation)

  def rng(seed: Long, part: Int, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + part * 0x632BE59BD9B4E019L + salt)

  /** Generate `parts` in parallel (each part owns a deterministic RNG). */
  def parallel[A](parts: Int, threads: Int)(f: Int => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try (0 until parts).map(i => pool.submit(() => f(i))).map(_.get())
    finally pool.shutdown()
  }

  /** A fixed (seed-independent) list of lowercase filler words. */
  lazy val fillerWords: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    (0 until 512).map(_ => alnum(r, 3 + r.nextInt(7), lettersOnly = true))
  }

  def alnum(r: SplittableRandom, n: Int, lettersOnly: Boolean = false): String = {
    val abc = if (lettersOnly) "abcdefghijklmnopqrstuvwxyz" else
      "abcdefghijklmnopqrstuvwxyz0123456789"
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(abc.charAt(r.nextInt(abc.length))); i += 1 }
    sb.toString
  }

  def filterBlock(name: String, body: String): String =
    s"""
       |[[filter]]
       |name = "$name"
       |  [filter.config]
       |$body""".stripMargin

  /** Sorted output files of a FileWriter run (staging leftovers excluded). */
  def outputFiles(out: String, suffix: String): Seq[File] =
    Util.listFiles(out, n => n.endsWith(suffix) && !n.startsWith(".") && !n.startsWith("_"))

  /** Rewrite the first line of the first output file with one byte changed. */
  def corruptFirstLine(files: Seq[File]): Unit = {
    val f = files.headOption.getOrElse(sys.error("no output file to corrupt"))
    val lines = Util.readLines(f).toVector
    require(lines.nonEmpty, s"empty output file $f")
    val l = lines.head
    val changed = (if (l.isEmpty) "x" else (if (l.charAt(0) == 'x') "y" else "x") + l.substring(1))
    val body = (changed +: lines.tail).mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(f.toPath, if (f.getName.endsWith(".zst")) Util.zstd(body) else body)
  }

  def writeDigest(path: String, d: Digest): Unit = Util.writeString(path, s"${d.count} ${d.sum}\n")
  def readDigest(path: String): Digest = {
    val Array(c, s) = Util.readString(path).trim.split(" ")
    Digest(c.toLong, s.toLong)
  }
}

/** Baker's published workload: zstd CSV of ~4.5 KB records, one pure
  * ClauseFilter, zstd FileWriter; compiles to the raw fast path.
  */
object LogsRaw extends BatchWorkload {
  import Workloads._
  val name = "logs_raw"
  val files = 32
  val perFile = 1000
  def records: Long = files.toLong * perFile
  def signature: String = s"$name files=$files perFile=$perFile v1"
  val fields = Seq("id", "ts", "event_type", "country", "user_id", "campaign", "url",
    "user_agent", "referrer", "payload")
  val events = Seq("impression", "click", "view", "conversion", "bid", "win", "heartbeat")
  val countries = Seq("US", "CA", "GB", "DE", "FR", "JP", "BR", "IN", "MX", "AU")

  def generate(dir: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(dir, "in"))
    val kept = parallel(files, Harness.nproc) { p =>
      val r = rng(seed, p, 1L)
      val sb = new StringBuilder(perFile * 4600)
      var d = Digest.empty
      for (i <- 0 until perFile) {
        val ev = events(r.nextInt(events.size))
        val line = new StringBuilder(4600)
        line.append(p * perFile + i).append(',')
          .append(1704067200L + r.nextInt(86400)).append(',')
          .append(ev).append(',')
          .append(countries(r.nextInt(countries.size))).append(',')
          .append("u").append(100000000 + r.nextInt(900000000)).append(',')
          .append("c").append(r.nextInt(500)).append(',')
          .append("https://www.example.com/").append(fillerWords(r.nextInt(512)))
          .append("/").append(fillerWords(r.nextInt(512))).append(',')
          .append("Mozilla/5.0 (X11; Linux x86_64) agent/").append(r.nextInt(100)).append(',')
          .append("https://ref.example.org/").append(fillerWords(r.nextInt(512))).append(',')
        val target = line.length + 4000 + r.nextInt(400)
        while (line.length < target) line.append(fillerWords(r.nextInt(512))).append(' ')
        val s = line.toString
        sb.append(s).append('\n')
        if (ev != "heartbeat") d = d.add(s)
      }
      Files.write(Paths.get(dir, "in", f"part-$p%03d.log.zst"),
        Util.zstd(sb.toString.getBytes(UTF_8)))
      d
    }
    writeDigest(s"$dir/expected.digest", kept.foldLeft(Digest.empty)(_ + _))
  }

  def header(dir: String): String =
    s"""[fields]
       |names = [${fields.map(f => s""""$f"""").mkString(", ")}]
       |
       |[input]
       |name = "List"
       |  [input.config]
       |  Files = ["$dir/in"]
       |  MatchPath = '.*\\.log\\.zst$$'
       |""".stripMargin

  def filters(dir: String): Seq[(String, String)] = Seq(
    "ClauseFilter" -> filterBlock("ClauseFilter", "  Clause = \"(not (event_type heartbeat))\"\n"))

  def output(out: String): String =
    s"""
       |[output]
       |name = "FileWriter"
       |  [output.config]
       |  PathString = "$out/part-{{.Index}}.log.zst"
       |""".stripMargin

  def check(dir: String, out: String): Check = {
    val want = readDigest(s"$dir/expected.digest")
    val got = Util.digestFiles(outputFiles(out, ".zst"), 4)
    Check(got == want, s"lines ${got.count} (want ${want.count}), hash " +
      (if (got.sum == want.sum) "equal" else "differs"), got.count)
  }

  def corrupt(out: String): Unit = corruptFirstLine(outputFiles(out, ".zst"))
}

/** Narrow ad-tech records through mutating filters and gates, sharded on
  * a Zipf-skewed field. The expected output is a DuckDB restatement of the
  * chain (`perfbench/sql/logs_transform.sql`) written to `expected.txt` by
  * the launcher before the harness runs.
  */
object LogsTransform extends BatchWorkload {
  import Workloads._
  val name = "logs_transform"
  val files = 12
  val perFile = 10000
  def records: Long = files.toLong * perFile
  def signature: String = s"$name files=$files perFile=$perFile v1"
  val fields: Seq[String] = Seq("ts", "url", "payload", "user_id", "campaign", "country",
    "device", "bid_price", "ssp_name", "width", "cid", "ts_fmt", "user_hash",
    "campaign_copy", "schema_ver") ++ (15 until 40).map(i => s"f$i")
  val countries = Seq("US", "CA", "GB", "DE", "FR", "JP", "BR", "IN", "MX", "AU")
  val devices = Seq("mobile", "desktop", "tablet", "ctv")
  val widths = Seq(300, 728, 160, 320)
  val campaignIx: Int = fields.indexOf("campaign")
  /** Zipf(1.1) over 200 campaigns: the sharding key's skew. */
  private val zipfCdf: Array[Double] = {
    val w = (1 to 200).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def generate(dir: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(dir, "in"))
    parallel(files, Harness.nproc) { p =>
      val r = rng(seed, p, 2L)
      val sb = new StringBuilder(perFile * 420)
      for (_ <- 0 until perFile) {
        val rank = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble()) match {
          case i if i >= 0 => i; case i => math.min(-i - 1, zipfCdf.length - 1)
        }
        val url =
          if (r.nextInt(10) == 0)
            s"https://ads.example.com/view?src=${fillerWords(r.nextInt(512))}"
          else
            s"https://ads.example.com/click?cid=${r.nextInt(100000)}" +
              s"&src=${fillerWords(r.nextInt(512))}"
        val ssp = if (r.nextInt(20) == 0) "" else s""","ssp":"ssp${r.nextInt(40)}""""
        val payload = s"""{"bid":${r.nextInt(5000)}$ssp,"w":${widths(r.nextInt(4))}}"""
        val user = if (r.nextInt(33) == 0) "" else s"u${100000000 + r.nextInt(900000000)}"
        val head = Seq((1704067200L + r.nextInt(86400)).toString, url, payload, user,
          f"camp$rank%03d", countries(r.nextInt(countries.size)),
          devices(r.nextInt(devices.size)), "", "", "", "", "", "", "", "")
        val fill = (15 until 40).map(_ => alnum(r, 6 + r.nextInt(5)))
        sb.append((head ++ fill).mkString(";")).append('\n')
      }
      Files.write(Paths.get(dir, "in", f"part-$p%03d.log.zst"),
        Util.zstd(sb.toString.getBytes(UTF_8)))
    }
  }

  def header(dir: String): String =
    s"""[fields]
       |names = [${fields.map(f => s""""$f"""").mkString(", ")}]
       |
       |[csv]
       |field_separator = ";"
       |
       |[input]
       |name = "List"
       |  [input.config]
       |  Files = ["$dir/in"]
       |  MatchPath = '.*\\.log\\.zst$$'
       |""".stripMargin

  def filters(dir: String): Seq[(String, String)] = Seq(
    "NotNull" -> filterBlock("NotNull", "  Fields = [\"user_id\", \"url\"]\n"),
    "TimestampRange" -> filterBlock("TimestampRange",
      "  Field = \"ts\"\n  StartDatetime = \"2024-01-01 00:00:00\"\n" +
        "  EndDatetime = \"2024-01-01 20:00:00\"\n"),
    "RegexMatch" -> filterBlock("RegexMatch",
      "  Fields = [\"country\"]\n  Regexs = ['^(US|CA|GB|DE|FR|JP)$']\n"),
    "ExpandJSON" -> filterBlock("ExpandJSON",
      "  Source = \"payload\"\n    [filter.config.Fields]\n    bid = \"bid_price\"\n" +
        "    ssp = \"ssp_name\"\n    w = \"width\"\n"),
    "URLParam" -> filterBlock("URLParam",
      "  SrcField = \"url\"\n  DstField = \"cid\"\n  Param = \"cid\"\n"),
    "FormatTime" -> filterBlock("FormatTime",
      "  SrcField = \"ts\"\n  DstField = \"ts_fmt\"\n  SrcFormat = \"unix\"\n" +
        "  DstFormat = \"RFC3339\"\n"),
    "Hash" -> filterBlock("Hash",
      "  SrcField = \"user_id\"\n  DstField = \"user_hash\"\n  Function = \"md5\"\n" +
        "  Encoding = \"hex\"\n"),
    "ReplaceFields" -> filterBlock("ReplaceFields",
      "  CopyFields = [\"campaign\", \"campaign_copy\"]\n" +
        "  ReplaceFields = [\"v2\", \"schema_ver\"]\n"))

  def output(out: String): String =
    s"""
       |[output]
       |name = "FileWriter"
       |procs = 8
       |sharding = "campaign"
       |  [output.config]
       |  PathString = "$out/part-{{.Index}}.log.zst"
       |""".stripMargin

  def check(dir: String, out: String): Check = {
    val expected = s"$dir/expected.txt"
    if (!new File(expected).isFile) return Check(ok = false, s"missing $expected", 0)
    val cache = s"$dir/expected.digest"
    if (!new File(cache).isFile)
      writeDigest(cache, Util.digestLines(Util.readLines(new File(expected))))
    val want = readDigest(cache)
    val files = outputFiles(out, ".zst")
    val got = Util.digestFiles(files, 4)
    // sharding: every campaign value lands in exactly one output file
    val owners = FileKeys.owners(files, l => l.split(";", -1)(campaignIx))
    val split = owners.count(_._2 > 1)
    Check(got == want && split == 0,
      s"lines ${got.count} (want ${want.count}), hash " +
        (if (got.sum == want.sum) "equal" else "differs") + s", campaigns split: $split",
      got.count)
  }

  def corrupt(out: String): Unit = corruptFirstLine(outputFiles(out, ".zst"))
}
