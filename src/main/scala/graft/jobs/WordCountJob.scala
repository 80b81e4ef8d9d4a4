package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's one job — WordCount — end-to-end, Spark-first.
  *
  * Reference contract (hw4.cc:42-49 CLI; hw4.cc:350-357 output): read a
  * whitespace-separated text file, count words, and write `num_reducer`
  * result files `<output_dir>/<job_name>-<r>.out` (r = 1..R), each line
  * `word count`, each file internally sorted ascending by word.
  *
  * Spark-first re-expression (SURVEY.md §7 build order 1): one Spark job of
  * two stages, the reference's own map round and reduce round.
  *  - Before the job, the driver reads 64 evenly spaced 16 KB windows of the
  *    input and takes the R-quantiles of their distinct words as the R−1
  *    range bounds ([[sampleBounds]]). No sampling job runs.
  *  - Map stage: one split per core; the tokenizer (hw4.cc:457-466) and
  *    map_func (hw4.cc:468-474) count words in a per-task hash map (the
  *    map-side combiner the reference lacks, [[combine]]), and the partition
  *    function routes each word by the bounds.
  *  - Reduce stage: the shuffle sorts each partition by word, equal words
  *    from different map tasks merge (group hw4.cc:369-382, red
  *    hw4.cc:359-367), and the `word count` lines are written.
  * Range partitioning gives the balanced, alphabetically contiguous output
  * files the reference report aimed for and missed (SURVEY.md quirk 7).
  * Words order by UTF-8 bytes, as Spark SQL orders strings ([[Utf8Order]]).
  *
  * Fidelity mode swaps only the partitioner for the reference's actual
  * partition function `int(word[0]) % R` (hw4.cc:476-487,
  * [[FirstCharPartitioner]]) and the tokenizer for [[fidelityCounts]]; both
  * go through the same sink.
  *
  * Scale posture: the shuffle carries each map task's distinct words, not
  * tokens; the combiner flushes at a fixed entry cap, so a task's memory is
  * bounded whatever its split holds; the reduce-side sort spills like any
  * Spark shuffle; the driver reads at most 1 MB of samples and collects
  * nothing — its only other work is renaming R output files.
  */
object WordCountJob {

  /** The 7-arg reference CLI (hw4.cc:42-49), plus the fidelity toggle.
    * `delay` is dead in the reference (sleep commented out, hw4.cc:235-240)
    * and `localityConfig` is scheduler input Spark owns (SURVEY.md §2.1 #2);
    * both are accepted and logged for contract parity, nothing more. */
  final case class Config(
      jobName: String,
      numReducer: Int,
      delay: Int,
      inputPath: String,
      chunkSize: Int,
      localityConfigPath: String,
      outputDir: String,
      fidelityPartitioner: Boolean = false,
      fidelityTokenizer: Boolean = false)

  /** hw4.cc:479 — reducer id = first char (as int) mod R. Skew-prone by
    * design; exists only for fidelity experiments. */
  final class FirstCharPartitioner(val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key match {
      case s: String if s.nonEmpty => math.floorMod(s.charAt(0).toInt, numPartitions)
      case _ => 0
    }
  }

  /** Strings in UTF-8 byte order, which is code point order and Spark SQL's
    * string order. `String.compareTo` orders UTF-16 units instead, which
    * puts a character outside the BMP (a surrogate pair, D800–DFFF) below
    * one in U+E000–U+FFFF; the fix-up moves the surrogates above that
    * block. */
  object Utf8Order extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y)
          return if (x >= 0xD800 && y >= 0xD800) fixup(x) - fixup(y) else x - y
        i += 1
      }
      a.length - b.length
    }
    private def fixup(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
  }

  /** Range partitioner over ascending bounds (at most R−1 of them): a word
    * goes to the number of bounds below it, so partition i holds the words
    * in (bounds(i-1), bounds(i)], as Spark's `RangePartitioner` does. */
  final class BoundsPartitioner(val numPartitions: Int, bounds: Array[String])
      extends Partitioner {
    override def getPartition(key: Any): Int = {
      val w = key.asInstanceOf[String]
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (Utf8Order.lt(bounds(mid), w)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Java-regex `\s`, i.e. `[ \t\n\x0B\f\r]`: the separators of
    * `split(value, "\\s+")` in [[counts]]. */
  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Calls `f` on every word of `text` separated by [[isSpace]]. */
  private def foreachWord(text: String)(f: String => Unit): Unit = {
    var pos = 0
    while (pos < text.length) {
      while (pos < text.length && isSpace(text.charAt(pos))) pos += 1
      val start = pos
      while (pos < text.length && !isSpace(text.charAt(pos))) pos += 1
      if (pos > start) f(text.substring(start, pos))
    }
  }

  /** Entries the in-mapper combiner holds before it flushes. About 120 bytes
    * an entry, so a task's map stays near 16 MB. */
  private val CombineCap = 1 << 17

  /** In-mapper combining: (word, count) for the words of `lines`, counted
    * in a hash map that is flushed once it holds `cap` words (checked
    * between lines, so it holds at most `cap` plus one line's words). A
    * word may come out once per flush; the reducer's merge sums those. */
  private def combine(lines: Iterator[String], cap: Int): Iterator[(String, Long)] = {
    val counts = new java.util.HashMap[String, Array[Long]]()
    new Iterator[Iterator[(String, Long)]] {
      def hasNext: Boolean = lines.hasNext
      def next(): Iterator[(String, Long)] = {
        while (lines.hasNext && counts.size < cap)
          foreachWord(lines.next()) { w =>
            val c = counts.get(w)
            if (c == null) counts.put(w, Array(1L)) else c(0) += 1
          }
        val out = counts.asScala.iterator.map { case (w, c) => (w, c(0)) }.toArray
        counts.clear()
        out.iterator
      }
    }.flatten
  }

  /** Windows the bounds sampler reads, and the bytes of each. Inputs up to
    * their product (1 MB) are read whole. */
  private val SampleWindows = 64
  private val WindowBytes = 16 << 10

  /** The range bounds of `r` output files: the R-quantiles, in
    * [[Utf8Order]], of the distinct words in [[sampleText]]. Fewer than R−1
    * bounds when the sample has fewer distinct words; then the last files
    * stay empty. */
  private def sampleBounds(conf: Configuration, inputPath: String, r: Int): Array[String] = {
    val distinct = mutable.HashSet[String]()
    sampleText(conf, inputPath).foreach(foreachWord(_)(distinct += _))
    val words = distinct.toArray.sorted(Utf8Order)
    val n = words.length.toLong
    (1 until r).map(i => i * n / r - 1).filter(_ >= 0).distinct.map(i => words(i.toInt)).toArray
  }

  /** Whole lines from [[SampleWindows]] windows of [[WindowBytes]], evenly
    * spaced over the bytes of every file `textFile(inputPath)` reads (same
    * listing: globs, comma lists, directories, hidden files skipped). A
    * window drops its first partial line unless it starts the file, and its
    * last partial line unless it ends the file. Windows are raw bytes: a
    * compressed input samples poorly, which skews the files' sizes but not
    * their contents. */
  private def sampleText(conf: Configuration, inputPath: String): Seq[String] = {
    val job = new JobConf(conf)
    FileInputFormat.setInputPaths(job, inputPath)
    val files = new TextInputFormat {
      def list: Seq[FileStatus] = listStatus(job).toSeq.filter(_.isFile)
    }.list
    val total = files.map(_.getLen).sum
    val windows =
      if (total <= SampleWindows.toLong * WindowBytes) files.map(f => (f, 0L, f.getLen.toInt))
      else {
        val ends = files.scanLeft(0L)(_ + _.getLen).tail
        (0 until SampleWindows).map { k =>
          val at = k * total / SampleWindows
          val i = ends.indexWhere(_ > at)
          val start = at - (ends(i) - files(i).getLen)
          (files(i), start, math.min(WindowBytes.toLong, files(i).getLen - start).toInt)
        }
      }
    windows.flatMap { case (f, start, len) =>
      val in = f.getPath.getFileSystem(conf).open(f.getPath)
      val buf = new Array[Byte](len)
      try {
        in.seek(start)
        in.readFully(buf)
      } finally in.close()
      var from = 0
      if (start > 0) {
        while (from < len && buf(from) != '\n') from += 1
        from += 1
      }
      var until = len
      if (start + len < f.getLen) while (until > 0 && buf(until - 1) != '\n') until -= 1
      if (from < until) Some(new String(buf, from, until - from, UTF_8)) else None
    }
  }

  /** Word counts as a DataFrame (word: string, count: bigint) — the logical
    * core of the job and the oracle its tests compare [[run]] against. */
  def counts(spark: SparkSession, inputPath: String): DataFrame =
    spark.read.textFile(inputPath)
      .select(explode(split(col("value"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("count"))

  /** Byte-faithful replication of the reference's ACTUAL (buggy) tokenization
    * for golden-output experiments (SURVEY.md §1 quirks 1 and 3):
    *  - lines are concatenated with NO separator into chunks of `chunkSize`
    *    lines (hw4.cc:72), fusing the last word of line i with the first word
    *    of line i+1;
    *  - a token is emitted only when a following space exists (hw4.cc:460-465),
    *    so each chunk's final token is silently dropped;
    *  - consecutive spaces emit empty-string tokens (quirk 3), which count
    *    like any key;
    *  - `chunk_size == 1` captures ONLY THE FIRST LINE of the whole file
    *    (quirk 2, hw4.cc:66-79): the reader pushes a new chunk only at
    *    `cnt == 1` and the `cnt <= chunk_size` append branch that would
    *    reset `cnt` back to 1 is unreachable when chunk_size is 1, so `cnt`
    *    grows forever and every line after the first is discarded. The
    *    intended path ([[counts]]) reads every line at any chunk size —
    *    this branch exists only so golden-output diffs against the
    *    reference reproduce byte-for-byte in the broken regime too
    *    (SURVEY.md §1 scopes FidelityMode as quirks 1-3).
    * RDD path: chunk assembly is genuinely order-dependent imperative logic. */
  def fidelityCounts(spark: SparkSession, inputPath: String, chunkSize: Int): DataFrame = {
    import spark.implicits._
    val allChunks = spark.sparkContext.textFile(inputPath)
      .zipWithIndex()
      .map { case (line, i) => (i / chunkSize, (i, line)) }
      .groupByKey()
      .map { case (_, ls) => ls.toSeq.sortBy(_._1).map(_._2).mkString("") }
    val chunks =
      if (chunkSize == 1)
        // quirk 2: the whole input collapses to the first line (each
        // "chunk" above is one line, so keeping global line 0 IS the
        // reference's surviving chunk vector)
        spark.sparkContext.textFile(inputPath).zipWithIndex()
          .filter(_._2 == 0L).map(_._1)
      else allChunks
    chunks.flatMap { chunk =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var rest = chunk
      var sp = rest.indexOf(' ')
      while (sp >= 0) {                  // hw4.cc:460-465 — emit up to each space
        out += rest.substring(0, sp)
        rest = rest.substring(sp + 1)
        sp = rest.indexOf(' ')
      }
      out                                // trailing token (no space after) dropped
    }.toDF("word")
      .groupBy("word")
      .agg(count(lit(1)).as("count"))
  }

  /** Run end-to-end as one Spark job — map stage, shuffle, reduce stage —
    * writing R sorted text files, renamed to the reference's `<job>-<r>.out`
    * contract. Returns the final file paths. */
  def run(spark: SparkSession, cfg: Config): Seq[Path] = run(spark, cfg, CombineCap)

  /** [[run]] with the combiner's flush cap as a parameter, for tests. */
  private[graft] def run(spark: SparkSession, cfg: Config, combineCap: Int): Seq[Path] = {
    val out = Paths.get(cfg.outputDir)
    Files.createDirectories(out)
    val staging = out.resolve(s".${cfg.jobName}-staging")
    deleteTree(staging)

    val sc = spark.sparkContext
    val pairs: RDD[(String, Long)] =
      if (cfg.fidelityTokenizer)
        fidelityCounts(spark, cfg.inputPath, cfg.chunkSize).rdd
          .map(r => (r.getString(0), r.getLong(1)))
      else
        sc.textFile(cfg.inputPath, sc.defaultParallelism)
          .mapPartitions(combine(_, combineCap))
    val partitioner =
      if (cfg.fidelityPartitioner) new FirstCharPartitioner(cfg.numReducer)
      else new BoundsPartitioner(cfg.numReducer,
        sampleBounds(sc.hadoopConfiguration, cfg.inputPath, cfg.numReducer))
    new ShuffledRDD[String, Long, Long](pairs, partitioner)
      .setKeyOrdering(Utf8Order)
      .mapPartitions(mergeRuns)
      .saveAsTextFile(staging.toString)
    rename(staging, out, cfg.jobName, cfg.numReducer)
  }

  /** `word count` lines from pairs sorted by word, summing each run of
    * equal words (one pair per map-side flush that held the word). */
  private def mergeRuns(sorted: Iterator[(String, Long)]): Iterator[String] = {
    val in = sorted.buffered
    new Iterator[String] {
      def hasNext: Boolean = in.hasNext
      def next(): String = {
        val (w, first) = in.next()
        var n = first
        while (in.hasNext && in.head._1 == w) n += in.next()._2
        s"$w $n"
      }
    }
  }

  /** Map opaque `part-NNNNN*` outputs to deterministic `<job>-<r>.out`
    * (r = partitionId + 1, matching hw4.cc:352's taskid+1), creating empty
    * files for partitions Spark skipped (empty partitions write no file). */
  private def rename(staging: Path, out: Path, job: String, r: Int): Seq[Path] = {
    val parts = scala.util.Using.resource(Files.list(staging)) { stream =>
      stream.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
    }
    val byIdx = parts.map { p =>
      p.getFileName.toString.split("-")(1).toInt -> p
    }.toMap
    val targets = (0 until r).map { i =>
      val target = out.resolve(s"$job-${i + 1}.out")
      byIdx.get(i) match {
        case Some(p) => Files.move(p, target, StandardCopyOption.REPLACE_EXISTING)
        case None    => Files.write(target, Array.emptyByteArray)
      }
      target
    }
    // best-effort cleanup of the staging dir (_SUCCESS, CRCs)
    deleteTree(staging)
    targets
  }

  /** Best-effort recursive delete; a missing path is a no-op. */
  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)
      paths.reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: Exception => () })
    }
}
