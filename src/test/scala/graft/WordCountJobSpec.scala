package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob

/** Golden end-to-end tests for the reference-parity job (SURVEY.md §5 item 1)
  * plus quirk pin-tests (item 4): intended whitespace semantics by default. */
class WordCountJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus =
    """the quick brown fox jumps over the lazy dog
      |the dog barks and the fox runs
      |quick quick fox""".stripMargin

  /** Plain-Scala oracle (SURVEY.md §5: 20-line in-test oracle). */
  private def oracle(text: String): Map[String, Long] =
    text.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def writeInput(text: String): Path = {
    val f = Files.createTempFile("wc-input", ".txt")
    Files.writeString(f, text)
    f
  }

  private def config(in: Path, r: Int, fidelity: Boolean = false,
      fidelityTok: Boolean = false, chunkSize: Int = 2): WordCountJob.Config =
    WordCountJob.Config(
      jobName = "t", numReducer = r, delay = 0, inputPath = in.toString,
      chunkSize = chunkSize, localityConfigPath = "unused",
      outputDir = Files.createTempDirectory("wc-out").toString,
      fidelityPartitioner = fidelity, fidelityTokenizer = fidelityTok)

  private def runJob(text: String, r: Int, fidelity: Boolean = false,
      fidelityTok: Boolean = false, chunkSize: Int = 2): Seq[Path] =
    WordCountJob.run(spark, config(writeInput(text), r, fidelity, fidelityTok, chunkSize))

  private def wordsOf(f: Path): Seq[String] =
    Files.readAllLines(f).asScala.toSeq.map(l => l.substring(0, l.lastIndexOf(' ')))

  /** UTF-8 byte order: Spark SQL's string order, and the order of the
    * output contract. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** The three properties of a correct run on `in`: the merged output
    * equals [[WordCountJob.counts]] on the same input, each file is sorted
    * by UTF-8 bytes, and the files are range-contiguous in file order. */
  private def assertCorrect(in: Path, files: Seq[Path], clue: String): Unit = {
    val expected = WordCountJob.counts(spark, in.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = parse(files)
    assert(got.toMap == expected, clue)
    assert(got.size == expected.size, s"$clue: a word in two lines")
    files.foreach { f =>
      val ws = wordsOf(f)
      assert(ws.zip(ws.drop(1)).forall { case (a, b) => utf8Lt(a, b) },
        s"$clue: ${f.getFileName} is not sorted by UTF-8 bytes: $ws")
    }
    val all = files.flatMap(wordsOf)
    assert(all.zip(all.drop(1)).forall { case (a, b) => utf8Lt(a, b) },
      s"$clue: files are not range-contiguous: ${files.map(wordsOf)}")
  }

  private def parse(files: Seq[Path]): Seq[(String, Long)] =
    files.flatMap(f => Files.readAllLines(f).asScala)
      .map { l => val Array(w, n) = l.split(" "); (w, n.toLong) }

  test("golden: merged (word,count) set matches the in-test oracle") {
    val files = runJob(corpus, 3)
    assert(files.map(_.getFileName.toString) == Seq("t-1.out", "t-2.out", "t-3.out"))
    assert(parse(files).toMap == oracle(corpus))
  }

  test("each output file is internally sorted ascending by word (hw4.cc:333)") {
    runJob(corpus, 3).foreach { f =>
      val words = Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq
      assert(words == words.sorted, s"unsorted: $f")
    }
  }

  test("range sink: files are alphabetically contiguous across file order") {
    // the property the reference report aimed for and missed (SURVEY quirk 7)
    val perFile = runJob(corpus, 3).map(f =>
      Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq)
    val concatenated = perFile.flatten
    assert(concatenated == concatenated.sorted)
  }

  test("result is invariant under num_reducer (1 vs 5)") {
    assert(parse(runJob(corpus, 1)).toMap == parse(runJob(corpus, 5)).toMap)
  }

  test("num_reducer > distinct words still writes exactly R files (empty ok)") {
    val files = runJob("a b a", 4)
    assert(files.size == 4)
    assert(files.forall(Files.exists(_)))
    assert(parse(files).toMap == Map("a" -> 2L, "b" -> 1L))
  }

  test("fidelity partitioner places every word at int(word[0]) % R (hw4.cc:479)") {
    val files = runJob(corpus, 3, fidelity = true)
    files.zipWithIndex.foreach { case (f, idx) =>
      Files.readAllLines(f).asScala.foreach { l =>
        val w = l.split(" ")(0)
        assert(math.floorMod(w.charAt(0).toInt, 3) == idx, s"$w in wrong file $f")
      }
    }
    assert(parse(files).toMap == oracle(corpus))
  }

  test("quirk 3 pin: consecutive spaces emit no empty-string words (intended)") {
    // reference emits "" tokens between double spaces (hw4.cc:460-464);
    // intended semantics drop them — pin the intended behavior.
    assert(parse(runJob("a  b   c", 1)).toMap == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("quirk 1 pin: final token is counted (reference silently drops it)") {
    // hw4.cc:460-465 only emits a token when a following space exists.
    assert(parse(runJob("x y z", 1)).toMap == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 1: chunk fusion + trailing drop") {
    // chunkSize=2: chunk0 = "aa bb" + "cc dd" fused with no separator =
    // "aa bbcc dd" → tokens "aa", "bbcc" ("dd" has no trailing space);
    // chunk1 = "ee" → no space → no tokens at all.
    val files = runJob("aa bb\ncc dd\nee", 1, fidelityTok = true)
    assert(parse(files).toMap == Map("aa" -> 1L, "bbcc" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 2: chunk_size=1 keeps only the first line") {
    // hw4.cc:66-79 — with chunk_size == 1 the append branch that resets the
    // line counter is unreachable, so `cnt` grows past 1 forever and every
    // line after the first is silently discarded: the whole input collapses
    // to line 1 ("aa bb" → token "aa"; "bb" is quirk 1's trailing drop).
    val files = runJob("aa bb\ncc dd\nee ff", 1, fidelityTok = true, chunkSize = 1)
    assert(parse(files).toMap == Map("aa" -> 1L))
  }

  test("quirk 2 pin: intended semantics read every line at chunk_size=1") {
    // the divergence documented: the DEFAULT path is chunk-size-invariant
    // (chunking is an I/O granularity, never a semantics knob), so the same
    // input at chunk_size=1 counts all six words.
    val files = runJob("aa bb\ncc dd\nee ff", 1, chunkSize = 1)
    assert(parse(files).toMap ==
      Map("aa" -> 1L, "bb" -> 1L, "cc" -> 1L, "dd" -> 1L, "ee" -> 1L, "ff" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 3: empty tokens between spaces") {
    // "a  b " → tokens "a", "", "b" — the empty string counts like any key.
    val files = runJob("a  b ", 1, fidelityTok = true)
    assert(parse(files).toMap == Map("a" -> 1L, "" -> 1L, "b" -> 1L))
  }

  test("both fidelity flags together reproduce the reference byte-for-byte") {
    // chunk0 = "aa bb"+"cc dd" fused = "aa bbcc dd" → tokens "aa","bbcc"
    // ("dd" dropped); chunk1 = "ee" → none. Partitions: int(char) % 3:
    // 'a'=97 → 1 (file 2), 'b'=98 → 2 (file 3); file 1 stays empty.
    import scala.jdk.CollectionConverters._
    val files = runJob("aa bb\ncc dd\nee", 3, fidelity = true, fidelityTok = true)
    val perFile = files.map(f => Files.readAllLines(f).asScala.toSeq)
    assert(perFile == Seq(Seq(), Seq("aa 1"), Seq("bbcc 1")))
  }
  test("ordering: words sort by UTF-8 bytes across whitespace kinds and non-BMP text") {
    // U+1F600 (a surrogate pair in UTF-16) sorts below U+FF5E by
    // String.compareTo but above it by UTF-8 bytes, Spark SQL's order
    val cases = Seq(
      "non-BMP vs U+E000-U+FFFF" -> "a\uD83D\uDE00 a\uFF5E \uFF5E \uD83D\uDE00 a\uD83D\uDE00b a\uFF5Eb z a",
      "tab, CRLF, form feed, vertical tab" -> "a\tb\r\nc\fd\u000Be\r\nf\t\tg\u000B\u000Bh",
      "leading, trailing and double whitespace" -> "  lead  double   trail  \n\t x  \n  \n",
      "last line without a newline" -> "one two\nthree four\nfive",
      "non-ASCII spaces are word characters" -> "p\u3000q p\u00A0q p q \u00A0")
    for ((clue, text) <- cases; r <- Seq(1, 3)) {
      val in = writeInput(text)
      assertCorrect(in, WordCountJob.run(spark, config(in, r)), s"$clue, R=$r")
    }
  }

  test("sampler: empty input gives R empty files") {
    val files = runJob("", 4)
    assert(files.map(_.getFileName.toString) == (1 to 4).map(i => s"t-$i.out"))
    assert(files.forall(f => Files.size(f) == 0L))
  }

  test("sampler: input shorter than one window, R = 1 and R > distinct words") {
    for (r <- Seq(1, 3, 7)) {
      val in = writeInput("b a c b\nd")
      val files = WordCountJob.run(spark, config(in, r))
      assert(files.size == r)
      assertCorrect(in, files, s"R=$r")
    }
  }

  test("sampler: one line longer than a window, no newline") {
    // 20 KB: read whole, longer than a 16 KB window; 1.1 MB: past the
    // whole-read limit, so every window lies inside the one line
    for (n <- Seq(3000, 160000)) {
      val in = writeInput((0 until n).map(i => f"w${i % 5000}%05d").mkString(" "))
      assertCorrect(in, WordCountJob.run(spark, config(in, 4)), s"$n words")
    }
  }

  test("sampler: a directory of three files, hidden files skipped as textFile does") {
    val dir = Files.createTempDirectory("wc-dir")
    val rnd = new scala.util.Random(5)
    Seq("a.txt" -> 40000, "b.txt" -> 70000, "c.txt" -> 30000).foreach { case (name, n) =>
      Files.writeString(dir.resolve(name),
        Seq.fill(n)(f"d${rnd.nextInt(20000)}%05d").grouped(12).map(_.mkString(" ")).mkString("\n"))
    }
    Files.writeString(dir.resolve(".hidden"), "ghost")
    Files.writeString(dir.resolve("_meta"), "ghost")
    val files = WordCountJob.run(spark, config(dir, 5))
    assertCorrect(dir, files, "directory")
    assert(!parse(files).toMap.contains("ghost"))
  }

  test("sampler: input sorted by word stays balanced (max/median lines <= 2 at R = 8)") {
    // 2.7 MB of sorted lines: only windows spread over the whole input see
    // its upper words; a 1 MB prefix would put most words in the last file
    val in = Files.createTempFile("wc-sorted", ".txt")
    Files.write(in, (0 until 300000).map(i => f"w$i%07d").asJava)
    val files = WordCountJob.run(spark, config(in, 8))
    val lines = files.map(f => Files.readAllLines(f).size).sorted
    assert(lines.sum == 300000)
    assert(lines.last <= 2 * lines(lines.size / 2), s"lines per file: $lines")
    val all = files.flatMap(wordsOf)
    assert(all == all.sorted)
  }

  test("bounded combiner: a flush cap of 4 gives the same files as the default cap") {
    val text = (0 until 2000).map(i => s"w${(i * 7) % 50}").grouped(10)
      .map(_.mkString(" ")).mkString("\n")
    val in = writeInput(text)
    val capped = WordCountJob.run(spark, config(in, 3), combineCap = 4)
    val uncapped = WordCountJob.run(spark, config(in, 3))
    assert(capped.map(f => Files.readAllLines(f).asScala.toSeq) ==
      uncapped.map(f => Files.readAllLines(f).asScala.toSeq))
    assertCorrect(in, capped, "cap 4")
  }
}
