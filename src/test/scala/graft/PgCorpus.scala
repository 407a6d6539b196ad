package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The 8-book text corpus of the MapReduce parity, parallelism and
  * chaos specs. When the reference lab's checkout sits next to this
  * repo and holds its Gutenberg books (`../reference/src/main/pg-*.txt`
  * from the repo root), those are used. Otherwise a seeded stand-in
  * is generated once per JVM into a temp dir: 8 files whose sizes
  * follow the books' skew (0.14–0.59 MB, about 4×), words drawn from
  * a Zipf vocabulary with capitalized and non-ASCII words, plus
  * digits, hyphens, apostrophes and punctuation for the tokenizer to
  * split on. Either way the engine and the sequential oracle read
  * the same files.
  */
object PgCorpus {

  /** Byte sizes of the lab's eight books, the skew the stand-in copies. */
  private val BookSizes =
    Seq(138885, 139054, 412665, 441033, 453168, 540174, 581863, 594262)

  /** The reference lab's book directory, beside the repo root. */
  private val BooksDir = Paths.get("..", "reference", "src", "main")

  /** Absolute paths of the corpus files, sorted. */
  lazy val files: Seq[String] = {
    val found = books(BooksDir)
    if (found.nonEmpty) found else generated(6824L)
  }

  /** `(basename, contents)` of every file — the oracle's input. */
  lazy val inMemory: Seq[(String, String)] = files.map { p =>
    (Paths.get(p).getFileName.toString,
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
  }

  private def books(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir.toAbsolutePath.normalize).iterator().asScala
      .map(_.toString).filter(_.matches(".*/pg-.*\\.txt")).toSeq.sorted

  private def generated(seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val accented = "éèêàçñöüß"
    val vocab = Array.fill(20000) {
      val w = Seq.fill(1 + rnd.nextInt(4) + rnd.nextInt(6)) {
        if (rnd.nextDouble() < 0.01) accented(rnd.nextInt(accented.length))
        else letters(rnd.nextInt(letters.length))
      }.mkString
      if (rnd.nextDouble() < 0.05) w.capitalize else w
    }
    // Zipf(s = 1.05) over the vocabulary, by inverse CDF
    val cdf = vocab.indices.map(i => 1.0 / math.pow(i + 1.0, 1.05))
      .scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    val dir = Files.createTempDirectory("graft_pg_corpus")
    dir.toFile.deleteOnExit()
    BookSizes.zipWithIndex.map { case (size, i) =>
      val sb = new StringBuilder(size + 64)
      var inLine = 0
      while (sb.length < size) {
        val r = rnd.nextDouble()
        if (r < 0.01) sb ++= (1500 + rnd.nextInt(500)).toString
        else if (r < 0.02) sb ++= word() += '-' ++= word()
        else if (r < 0.03) sb ++= word() ++= "'s"
        else sb ++= word()
        inLine += 1
        val p = rnd.nextDouble()
        if (inLine >= 11) { sb ++= (if (p < 0.4) ".\n" else "\n"); inLine = 0 }
        else sb ++= (if (p < 0.07) ", " else if (p < 0.10) ". " else if (p < 0.11) "; " else " ")
      }
      val f = dir.resolve(f"pg-$i%02d.txt")
      Files.write(f, sb.toString.getBytes("UTF-8"))
      f.toFile.deleteOnExit()
      f.toString
    }.sorted
  }
}
