package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** LLM corpus curation: JSONL documents with planted near-duplicate
  * clusters and low-quality documents → NormalizeText → GopherQuality →
  * NearDupDedup → TokenizeIds → PackRows → PackedShards.
  *
  * Words follow a consonant-vowel-consonant(s) shape and the generated BPE
  * merges build every word from its two-letter prefix only, so each word is
  * exactly one token and the check can decode the packed shards back to
  * words without a tokenizer. Cluster members differ by one word
  * substitution per 100 words (their word-3-shingle Jaccard stays above
  * 0.85, well over the 0.7 kill threshold), so every member of a cluster
  * has the same token count.
  */
object Curation extends BatchWorkload {
  import Workloads._
  val name = "curation"
  val docs = 1200
  def records: Long = docs.toLong
  def signature: String = s"$name docs=$docs v3"
  val files = 8
  val minWords = 20
  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  /** 1445 three-letter and 1555 four-letter words (fixed across seeds). */
  lazy val words: IndexedSeq[String] = {
    val cvc = for (a <- consonants; v <- vowels; b <- consonants) yield s"$a$v$b"
    val r = new java.util.SplittableRandom(11L)
    val four = mutable.LinkedHashSet.empty[String]
    while (four.size < 1555)
      four += cvc(r.nextInt(cvc.size)) + consonants.charAt(r.nextInt(consonants.length))
    (cvc ++ four).toIndexedSeq
  }

  /** Tokenizer symbols (id = position) and merges, in rank order. */
  lazy val (symbols: IndexedSeq[String], merges: Seq[(String, String)]) = {
    val pairs = for (a <- consonants; v <- vowels) yield (a.toString, v.toString)
    val three = words.filter(_.length == 3).map(w => (w.take(2), w.drop(2)))
    val four = words.filter(_.length == 4).map(w => (w.take(3), w.drop(3)))
    val syms = (consonants ++ vowels).map(_.toString) ++ pairs.map(p => p._1 + p._2) ++
      three.map(p => p._1 + p._2) ++ four.map(p => p._1 + p._2)
    (syms.toIndexedSeq, pairs ++ three ++ four)
  }
  def eosId: Int = symbols.size
  val padId: Int = -2

  def generate(dir: String, seed: Long): Unit = {
    val r = rng(seed, 0, 3L)
    def randomWords(n: Int): Vector[String] = Vector.fill(n)(words(r.nextInt(words.size)))
    // (group, words) — group "u<i>" unique, "c<k>" cluster member, "" low quality
    val planned = mutable.ArrayBuffer.empty[(String, Vector[String])]
    var cluster = 0
    while (planned.size < docs * 0.18) {
      val base = randomWords(80 + r.nextInt(100))
      val members = 2 + r.nextInt(3)
      for (_ <- 0 until members) {
        var w = base
        for (_ <- 0 until math.max(1, base.size / 100))
          w = w.updated(r.nextInt(w.size), words(r.nextInt(words.size)))
        planned += (s"c$cluster" -> w)
      }
      cluster += 1
    }
    for (i <- 0 until docs / 25) planned += ("" -> randomWords(3 + r.nextInt(minWords - 4)))
    for (i <- 0 until docs / 25) {
      val pair = randomWords(2)
      planned += ("" -> Vector.tabulate(60 + r.nextInt(60))(j => pair(j % 2)))
    }
    var u = 0
    while (planned.size < docs) {
      planned += (s"u$u" -> randomWords(minWords + 10 + r.nextInt(120)))
      u += 1
    }
    // ids: a seeded permutation, so cluster members are scattered
    val ids = (0 until docs).toArray
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    def render(ws: Vector[String]): String = ws.grouped(12).map { s =>
      s.head.capitalize + (if (s.size > 1) s.tail.mkString(" ", " ", ".") else ".")
    }.mkString(" ")
    val docDir = Paths.get(dir, "docs")
    Files.createDirectories(docDir)
    planned.zipWithIndex.groupBy(_._2 % files).foreach { case (f, part) =>
      val body = part.map { case ((_, ws), i) =>
        s"""{"doc_id":"${ids(i)}","text":"${render(ws)}"}"""
      }.mkString("", "\n", "\n")
      Files.write(docDir.resolve(f"part-$f%03d.jsonl"), body.getBytes(UTF_8))
    }
    Util.writeString(s"$dir/expected.tsv", planned.collect {
      case (g, ws) if g.nonEmpty => s"$g\t${ws.mkString(" ")}"
    }.mkString("", "\n", "\n"))
    graft.llm.HfTokenizer.exportBpe(s"$dir/tokenizer.json",
      vocab = symbols.zipWithIndex, merges = merges, byteLevel = false)
  }

  def header(dir: String): String =
    s"""[fields]
       |names = ["doc_id", "text"]
       |
       |[input]
       |name = "JsonLines"
       |  [input.config]
       |  Files = ["$dir/docs"]
       |""".stripMargin

  def filters(dir: String): Seq[(String, String)] = Seq(
    "NormalizeText" -> filterBlock("NormalizeText",
      "  SrcField = \"text\"\n  DstField = \"text\"\n"),
    "GopherQuality" -> filterBlock("GopherQuality",
      s"  Field = \"text\"\n  MinWords = $minWords\n"),
    "NearDupDedup" -> filterBlock("NearDupDedup",
      "  IdField = \"doc_id\"\n  Field = \"text\"\n"),
    "TokenizeIds" -> filterBlock("TokenizeIds",
      s"  SrcField = \"text\"\n  DstField = \"ids\"\n  VocabPath = \"$dir/tokenizer.json\"\n"),
    "PackRows" -> filterBlock("PackRows",
      s"  IdsField = \"ids\"\n  OrderField = \"doc_id\"\n  Budget = 1024\n  Shards = 4\n" +
        s"  EosId = $eosId\n"))

  def output(out: String): String =
    s"""
       |[output]
       |name = "PackedShards"
       |fields = ["shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real", "doc_start"]
       |  [output.config]
       |  Path = "$out/shards"
       |  NumTasks = 4
       |""".stripMargin

  /** Before PackRows the record stream is still documents: count them. */
  override def prefixOutput(k: Int, out: String): String =
    if (k >= 5) output(out)
    else {
      val fs = if (k >= 4) """"doc_id", "text", "ids"""" else """"doc_id", "text""""
      s"""
         |[output]
         |name = "Nop"
         |fields = [$fs]
         |""".stripMargin
    }

  private def binFiles(out: String): Seq[File] =
    Util.listFiles(out, n => n.startsWith("part-") && n.endsWith(".bin") &&
      !n.endsWith(".mask.bin") && !n.endsWith(".seg.bin"))

  private def readInts(f: File): Array[Int] = {
    val b = java.nio.ByteBuffer.wrap(Files.readAllBytes(f.toPath))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val a = new Array[Int](b.remaining()); b.get(a); a
  }

  def check(dir: String, out: String): Check = {
    val expected = Util.readLines(new File(s"$dir/expected.tsv")).map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t), l.substring(t + 1))
    }.toVector
    val groupOf = expected.map(_.swap).toMap
    val groups = expected.groupBy(_._1)
    val wantTokens = groups.values.map(ms => ms.head._2.count(_ == ' ') + 2L).sum
    val found = mutable.Map.empty[String, Int].withDefaultValue(0)
    var stray = 0
    var tokens = 0L
    var docsOut = 0L
    for (f <- binFiles(out)) {
      val cur = new StringBuilder
      for (t <- readInts(f) if t != padId) {
        tokens += 1
        if (t == eosId) {
          docsOut += 1
          groupOf.get(cur.toString) match {
            case Some(g) => found(g) += 1
            case None => stray += 1
          }
          cur.clear()
        } else {
          if (cur.nonEmpty) cur.append(' ')
          cur.append(if (t >= 0 && t < symbols.size) symbols(t) else s"<$t>")
        }
      }
      if (cur.nonEmpty) stray += 1
    }
    val missing = groups.keys.count(g => found(g) == 0)
    val twice = groups.keys.count(g => found(g) > 1)
    Check(missing == 0 && twice == 0 && stray == 0 && tokens == wantTokens,
      s"docs $docsOut (want ${groups.size}), missing $missing, duplicated $twice, " +
        s"stray $stray, tokens $tokens (want $wantTokens)",
      docsOut, tokens)
  }

  def corrupt(out: String): Unit = {
    val f = binFiles(out).headOption.getOrElse(sys.error("no shard to corrupt"))
    val ints = readInts(f)
    val i = ints.indexWhere(t => t >= 0 && t != eosId)
    ints(i) = if (ints(i) == 0) 1 else 0
    val bb = java.nio.ByteBuffer.allocate(ints.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asIntBuffer().put(ints)
    Files.write(f.toPath, bb.array())
  }
}
