package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The MapReduce suites' input: a deterministic stand-in for the
  * MapReduce lab's eight `pg-*.txt` books, generated once per JVM into a
  * temporary directory.
  *
  * What it keeps of the books is what the MR parity, parallelism and
  * chaos specs depend on:
  *  - eight files with the books' byte sizes (139–594 KB), so the scan
  *    yields several whole-file map tasks of uneven size;
  *  - a Zipf vocabulary (20k words, s = 1.07): a few words repeat
  *    hundreds of thousands of times, most occur a handful of times, so
  *    keys recur both within and across files;
  *  - mixed case and non-ASCII letters (accented Latin, Greek, Cyrillic,
  *    a titlecase digraph, a modifier letter, Arabic, kana) for the
  *    `Character.isLetter` tokenizer, and non-letter separators
  *    (punctuation, digits, typographic quotes and dashes, no-break
  *    space) between them.
  *
  * The same bytes on every run: all randomness comes from fixed seeds.
  */
object MrCorpus {
  private val BookBytes =
    Seq(138885, 453168, 441033, 540174, 594262, 139054, 581863, 412665)
  private val VocabSize = 20000
  private val ZipfS = 1.07
  private val Ascii = "abcdefghijklmnopqrstuvwxyz"
  private val Extra = "éèêàâçîïôûüöäßñåøæœαβγδεζηθλμπστωжзийклмнпрстуфыэюяǅʰابتのかな"
  private val Separators = Seq.fill(14)(" ") ++
    Seq(", ", ". ", "; ", " -- ", "\n", "\n\n", " 1984 ", "'s ", "’", " — ", "«", "» ", " ")

  /** Words by Zipf rank: short words are the most frequent, and about
    * one in seven draws letters outside ASCII. */
  private def vocabulary(rng: scala.util.Random): IndexedSeq[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    (0 until VocabSize).map { r =>
      val n = if (r < 8) 1 else if (r < 80) 2 else if (r < 600) 3 else 4 + rng.nextInt(7)
      val extra = rng.nextDouble() < 0.15
      val upper = rng.nextDouble() < 0.2
      var w = ""
      while (w.isEmpty || seen.contains(w)) {
        val letters = (0 until n).map { j =>
          if (extra && (j == 0 || rng.nextDouble() < 0.33)) Extra.charAt(rng.nextInt(Extra.length))
          else Ascii.charAt(rng.nextInt(Ascii.length))
        }.mkString
        w = if (upper) letters.capitalize else letters
      }
      seen += w
      w
    }
  }

  /** (basename, contents) of the eight files, in name order. */
  lazy val inMemory: Seq[(String, String)] = {
    val rng = new scala.util.Random(6584L)
    val vocab = vocabulary(rng)
    val cdf = (1 to VocabSize).map(r => 1.0 / math.pow(r, ZipfS)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * cdf.last)
      vocab(if (i >= 0) i else -i - 1)
    }
    BookBytes.zipWithIndex.map { case (size, i) =>
      val sb = new StringBuilder
      var bytes = 0
      while (bytes < size) {
        val tok = word() + Separators(rng.nextInt(Separators.size))
        sb ++= tok
        bytes += tok.getBytes(UTF_8).length
      }
      (s"pg-${i + 1}.txt", sb.toString)
    }
  }

  /** Absolute paths of the eight files, in name order. */
  lazy val files: Seq[String] = {
    val dir: Path = Files.createTempDirectory("mr-corpus")
    dir.toFile.deleteOnExit()
    inMemory.map { case (name, text) =>
      val p = Files.write(dir.resolve(name), text.getBytes(UTF_8))
      p.toFile.deleteOnExit()
      p.toString
    }
  }

  /** Tokens in the corpus: the number of pairs wc's map emits. */
  lazy val tokens: Long =
    inMemory.map { case (_, text) => graft.apps.Apps.tokenize(text).size.toLong }.sum
}
