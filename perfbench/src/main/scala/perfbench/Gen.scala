package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs. */
object Gen {

  /** Ranks 0 until n drawn with probability proportional to 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double, rnd: Random) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Sizes in bytes of the reference lab's eight Gutenberg books: the
    * skew of the corpus the paper's word-count job reads.
    */
  val ReferenceSizes: Seq[Int] =
    Seq(138885, 139054, 412665, 441033, 453168, 540174, 581863, 594262)

  final case class Corpus(files: Seq[(String, String)], vocabulary: Int) {
    def bytes: Long = files.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  /** A text corpus of `nFiles` files whose sizes follow
    * [[ReferenceSizes]] (cycled, ±3 % jitter, times `scale`), with words
    * drawn from a Zipf vocabulary that includes capitalized and
    * non-ASCII words, and digits and hyphens the tokenizer must split on.
    */
  def corpus(seed: Long, nFiles: Int, scale: Double): Corpus = {
    val rnd = new Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val accented = "éèüößñçå"
    val vocab = mutable.LinkedHashSet.empty[String]
    while (vocab.size < 30000) {
      val len = 1 + math.min(rnd.nextInt(6) + rnd.nextInt(7), 14)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        sb += (if (rnd.nextDouble() < 0.01) accented(rnd.nextInt(accented.length))
        else letters(rnd.nextInt(letters.length)))
      }
      val w = if (rnd.nextDouble() < 0.05) sb.toString.capitalize else sb.toString
      vocab += w
    }
    val words = vocab.toArray
    val zipf = new Zipf(words.length, 1.05, rnd)
    val sizes = rnd.shuffle((0 until nFiles).map { i =>
      (ReferenceSizes(i % ReferenceSizes.size) * (0.97 + 0.06 * rnd.nextDouble()) * scale).toInt
    })
    val files = sizes.zipWithIndex.map { case (size, i) =>
      val sb = new StringBuilder(size + 32)
      var inLine = 0
      while (sb.length < size) {
        val r = rnd.nextDouble()
        if (r < 0.01) sb ++= (1000 + rnd.nextInt(1000)).toString
        else if (r < 0.02) sb ++= words(zipf.next()) += '-' ++= words(zipf.next())
        else sb ++= words(zipf.next())
        inLine += 1
        val p = rnd.nextDouble()
        if (inLine >= 12) { sb ++= (if (p < 0.5) ".\n" else "\n"); inLine = 0 }
        else sb ++= (if (p < 0.08) ", " else if (p < 0.11) ". " else if (p < 0.12) "; " else " ")
      }
      (f"pg-$i%02d.txt", sb.toString)
    }
    Corpus(files, words.length)
  }

  /** One changelog row: key, dimension, value, op ("U" or "D"), seq. */
  final case class Change(k: Long, seg: String, cents: Long, op: String, seq: Long)

  final case class Changelog(snapshot: Seq[Change], batches: Seq[Seq[Change]],
                             purges: Seq[Seq[Long]], deleteShare: Double,
                             boundaryDeletes: Int, keysTouched: Int)

  /** Share of changelog rows that are deletes. */
  val DeleteShare = 0.15

  /** A keyed snapshot of `nKeys` rows over `segs` dimensions, then
    * `nBatches` changelog batches of `batchRows` rows, with an erasure
    * key set to run after each batch.
    *
    * Keys are Zipf-skewed (hot keys repeat inside a batch, under
    * different seqs); rows sit in a batch in shuffled order, so `seq`
    * is out of order within a batch. About [[DeleteShare]] of the rows
    * are deletes, and a part of those retract the current minimum or
    * maximum of a dimension, which is what drives a min/max view off
    * its cheap path. About a tenth of the upserts are inserts of keys
    * the snapshot does not hold, and a few move a key to another
    * dimension. A small simulation of the state picks those keys.
    */
  def changelog(seed: Long, nKeys: Int, segs: Int, batchRows: Int, nBatches: Int,
                purgeSize: Int): Changelog = {
    val rnd = new Random(seed * 31 + 7)
    val keySpace = (nKeys * 1.1).toInt
    val perm = rnd.shuffle((0 until keySpace).map(_.toLong)).toArray
    val zipf = new Zipf(keySpace, 1.1, rnd)
    val segNames = (0 until segs).map(i => s"seg$i")
    def anySeg(): String = segNames(math.min(segs - 1, (rnd.nextDouble() * rnd.nextDouble() * segs * 1.6).toInt))

    val live = mutable.HashMap.empty[Long, (String, Long)]
    val bySeg = segNames.map(s => s -> new java.util.TreeSet[(Long, Long)](
      Ordering.Tuple2[Long, Long])).toMap
    def put(k: Long, seg: String, cents: Long): Unit = {
      remove(k)
      live(k) = (seg, cents); bySeg(seg).add((cents, k))
    }
    def remove(k: Long): Unit = live.remove(k).foreach { case (s, c) => bySeg(s).remove((c, k)) }

    val snapshot = (0 until nKeys).map { i =>
      val k = i.toLong
      val c = Change(k, anySeg(), rnd.nextInt(1000000).toLong, "U", -1L)
      put(k, c.seg, c.cents)
      c
    }
    var seq = 0L
    var boundary = 0
    var deletes = 0
    var total = 0
    val touched = mutable.HashSet.empty[Long]
    val batches = mutable.ArrayBuffer.empty[Seq[Change]]
    val purges = mutable.ArrayBuffer.empty[Seq[Long]]
    (0 until nBatches).foreach { _ =>
      val rows = (0 until batchRows).map { _ =>
        seq += 1
        total += 1
        val hot = perm(zipf.next())
        val row =
          if (rnd.nextDouble() < DeleteShare && live.nonEmpty) {
            deletes += 1
            val victim =
              if (rnd.nextDouble() < 0.4) {
                val set = bySeg(segNames(rnd.nextInt(segs)))
                if (set.isEmpty) None
                else { boundary += 1; Some(if (rnd.nextBoolean()) set.first()._2 else set.last()._2) }
              } else None
            val k = victim.getOrElse(if (live.contains(hot)) hot else live.keysIterator.next())
            val (s, c) = live(k)
            remove(k)
            Change(k, s, c, "D", seq)
          } else {
            val seg = live.get(hot) match {
              case Some((s, _)) if rnd.nextDouble() < 0.9 => s
              case _ => anySeg()
            }
            val c = Change(hot, seg, rnd.nextInt(1000000).toLong, "U", seq)
            put(hot, seg, c.cents)
            c
          }
        touched += row.k
        row
      }
      batches += rnd.shuffle(rows)
      val keys = (rnd.shuffle(live.keys.toSeq.sorted).take(purgeSize / 2) ++
        (0 until purgeSize / 2).map(_ => perm(zipf.next()))).distinct
      keys.foreach(remove)
      purges += keys
    }
    Changelog(snapshot, batches.toSeq, purges.toSeq, deletes.toDouble / math.max(total, 1),
      boundary, touched.size)
  }
}
