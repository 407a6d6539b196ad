package graft

import org.scalacheck.Gen

import org.apache.spark.sql.functions._

import graft.apps.Apps
import graft.ext.Dedup

/** Property-based tests (SURVEY §5.3): engine results vs naive
  * in-memory oracles on generated inputs, plus the tokenizer-parity
  * claim (§7.4) that `Character.isLetter` means Unicode category L.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic ScalaCheck sampling (scalatestplus isn't on the
    * offline classpath; raw generators + fixed seeds are enough).
    */
  private def sample[A](g: Gen[A], n: Int): Seq[A] = {
    var seed = org.scalacheck.rng.Seed(42L)
    val out = scala.collection.mutable.ListBuffer.empty[A]
    var tries = 0
    while (out.size < n && tries < n * 100) {
      g.apply(Gen.Parameters.default, seed).foreach(out += _)
      seed = seed.next
      tries += 1
    }
    out.toSeq
  }

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString).map(_.take(8))
  private val docGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> wordGen,
      1 -> Gen.const("42"),
      1 -> Gen.oneOf("!", ";", "—", "7g"))).map(_.mkString(" "))

  test("wordcount over the engine equals a naive Map[String,Int] count") {
    import spark.implicits._
    sample(Gen.listOfN(12, docGen), 10).foreach { docs =>
      val engine = docs.toDF("text")
        .select(explode(split(col("text"), "[^a-zA-Z]+")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").count()
        .as[(String, Long)].collect().toMap
      val naive = docs.flatMap(_.split("[^a-zA-Z]+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(engine == naive)
    }
  }

  test("tokenizer parity: Character.isLetter == Unicode general category L (sampled code points)") {
    // the reference tokenizes with Go's unicode.IsLetter (category L);
    // our MR-parity apps use java.lang.Character.isLetter — assert the
    // documented equivalence on a deterministic sweep of the BMP plus
    // supplementary samples
    val letterCats = Set(Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER,
      Character.TITLECASE_LETTER, Character.MODIFIER_LETTER, Character.OTHER_LETTER)
      .map(_.toInt)
    val samples = (0 to 0xFFFF) ++ (0x10000 to 0x2FFFF by 97)
    samples.foreach { cp =>
      assert(Character.isLetter(cp) == letterCats.contains(Character.getType(cp)),
        f"code point U+$cp%04X")
    }
  }

  test("MR wordcount app equals engine SQL path on generated docs") {
    sample(Gen.listOfN(6, docGen), 5).foreach { docs =>
      val viaApp = docs.zipWithIndex
        .flatMap { case (d, i) => Apps.WordCount.map(s"f$i", d) }
        .groupBy(_._1).view
        .mapValues(kvs => Apps.WordCount.reduce(kvs.head._1, kvs.iterator.map(_._2)).toLong)
        .toMap
      val naive = docs.flatMap(Apps.tokenize(_)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      assert(viaApp == naive)
    }
  }

  test("minhash signatures are invariant under row order and partitioning") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g"), (1L, "c d e f g h i"), (2L, "x y z"),
      (3L, "a b c d e f g"), (4L, "p q r s t")
    )
    def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      Dedup.minhashSignatures(Dedup.tokenHashes(df, "doc_id", "text"), 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
    val base = sigs(docs.toDF("doc_id", "text"))
    val shuffled = sigs(docs.reverse.toDF("doc_id", "text").repartition(7))
    assert(base == shuffled)
    // identical docs → identical signatures
    assert(base(0L) == base(3L))
  }

  test("Md5Prefix is bit-equal to conv(substring(md5(x),1,k),16,10) for k=8 and k=15") {
    import spark.implicits._
    val strGen = Gen.oneOf(
      docGen,
      Gen.listOf(Gen.choose(32.toChar, 0x2FFF.toChar)).map(_.mkString),
      Gen.const(""))
    val strings = sample(strGen, 300) ++ Seq("", " ", "a", "é中😀")
    val df = strings.toDF("s")
    Seq(8, 15).foreach { k =>
      val rows = df.select(
          graft.functions.Md5Prefix.md5Prefix(col("s"), k).as("fast"),
          conv(substring(md5(col("s")), 1, k), 16, 10).cast("long").as("slow"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"k=$k"))
      // null propagates as null on both paths (default UnaryExpression
      // null semantics, isNull codegen)
      val nullRow = Seq(Option.empty[String]).toDF("s").select(
          graft.functions.Md5Prefix.md5Prefix(col("s"), k).as("fast"),
          conv(substring(md5(col("s")), 1, k), 16, 10).cast("long").as("slow"))
        .collect().head
      assert(nullRow.isNullAt(0) && nullRow.isNullAt(1), s"k=$k null propagation")
      // interpreted path (no codegen) agrees too
      strings.foreach { s =>
        val viaEval = graft.functions.Md5Prefix.prefix(s.getBytes("UTF-8"), k)
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString.take(k)
        assert(viaEval == java.lang.Long.parseLong(hex, 16))
      }
    }
  }

  test("StopwordHits equals the size(filter(split)) formulation, incl. nulls and empty tokens") {
    import spark.implicits._
    import graft.ext.TextStats.stopwords
    val lists = stopwords.map(_._2)
    val vocab = lists.flatten ++ Seq("zzz", "la", "de", "", "und")
    val textGen = Gen.listOf(Gen.oneOf(vocab)).map(_.mkString(" "))
    val texts = sample(textGen, 200).map(Option(_)) ++
      Seq(None, Some(""), Some("  "), Some(" the  the "), Some("la la de"))
    val df = texts.toDF("s")
    val hofCols = lists.zipWithIndex.map { case (ws, i) =>
      size(filter(split(col("s"), " "), x => x.isin(ws.map(lit(_)): _*))).as(s"h$i")
    }
    val rows = df.select(
      graft.functions.StopwordHits.stopwordHits(col("s"), lists).as("fast") +: hofCols: _*)
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert((1 to lists.size).forall(i => r.isNullAt(i) || r.getInt(i) == -1))
      else {
        val fast = r.getSeq[Int](0)
        val slow = (1 to lists.size).map(r.getInt)
        assert(fast == slow, s"row $r")
      }
    }
    // null in → null out (never a zero array)
    assert(df.where(col("s").isNull)
      .select(graft.functions.StopwordHits.stopwordHits(col("s"), lists))
      .collect().head.isNullAt(0))
  }

  test("RollingHashMin equals naive per-window recompute; short strings are null") {
    import spark.implicits._
    val k = 8; val base = 31L; val mod = 1000000007L
    def naive(s: String): Option[Long] = {
      val b = s.getBytes("UTF-8")
      if (b.length < k) None
      else Some((0 to b.length - k).map { i =>
        (i until i + k).foldLeft(0L)((h, j) => (h * base + (b(j) & 0xff)) % mod)
      }.min)
    }
    val strs = sample(docGen, 150) ++ Seq("", "short", "exactly8", "exactly8!",
      "aaaaaaaaaaaa", "z" * 500)
    // interpreted path
    strs.foreach { s =>
      val got = Option(graft.functions.RollingHashMin.minHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), k, base, mod))
        .map(_.longValue)
      assert(got == naive(s), s"'$s'")
    }
    // codegen path + null propagation
    val rows = (strs.map(Option(_)) :+ None).toDF("s")
      .select(graft.functions.RollingHashMin.rollingHashMin(col("s"), k, base, mod))
      .collect()
    rows.zip(strs.map(naive) :+ None).foreach { case (r, want) =>
      assert((if (r.isNullAt(0)) None else Some(r.getLong(0))) == want)
    }
    // two instances in ONE projection over a NON-nullable column:
    // nullSafeExec inlines both snippets unwrapped into one generated
    // function, so fixed local identifiers would collide (janino error
    // -> silent interpreted fallback); freshName keeps codegen live
    val two = Seq("abcdefghijkl").toDF("s").select(
      graft.functions.RollingHashMin.rollingHashMin(col("s"), 8, base, mod).as("a"),
      graft.functions.RollingHashMin.rollingHashMin(col("s"), 4, base, mod).as("b"))
      .head()
    assert(!two.isNullAt(0) && !two.isNullAt(1) && two.getLong(0) != two.getLong(1))
  }

  test("hashedNgrams emits exactly one hash per rawNgrams position on generated text") {
    import spark.implicits._
    // parity of the two n-gram pipelines' POSITION semantics: the
    // hash-domain path must filter tail positions by hand (xxhash64
    // skips nulls where concat nulls out), so equal counts per doc on
    // messy generated text pin exactly that filter
    sample(Gen.listOfN(8, docGen), 4).foreach { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      for (n <- Seq(1, 2, 8)) {
        val raw = Dedup.rawNgrams(df, "doc_id", "text", n, "g")
          .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
        val hashed = Dedup.hashedNgrams(df, "doc_id", "text", n)
          .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
        assert(hashed == raw, s"n=$n docs=$docs")
      }
    }
  }

  test("unigramSurprisal equals a naive in-memory model on generated docs") {
    import spark.implicits._
    sample(Gen.listOfN(6, docGen.suchThat(_.nonEmpty)), 3).foreach { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val toks = docs.map(_.split(" ", -1).toSeq)
      val counts = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.map(_.size).sum.toDouble
      val want = toks.zipWithIndex.map { case (ws, i) =>
        i.toLong -> ((ws.size.toLong,
          ws.map(w => math.round(math.log(n / counts(w)) * 1e6)).sum))
      }.toMap
      val got = graft.ext.TextStats.unigramSurprisal(df, "doc_id", "text")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == want, s"docs=$docs")
    }
  }

  test("jaccard inter/uni bounds: 0 < inter <= uni, symmetric under id swap") {
    import spark.implicits._
    sample(Gen.listOfN(5, docGen.suchThat(_.split(" ").length >= 4)), 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", dfCap = 100)
        .as[(Long, Long, Long, Long)].collect()
      pairs.foreach { case (a, b, inter, uni) =>
        assert(a < b && inter > 0 && inter <= uni)
      }
    }
  }

  test("temperedTokenBudget invariants on generated strata: overshoot ≤ 1 doc, first doc survives, shares tempered") {
    import spark.implicits._
    import graft.ext.Sampling
    val strataGen = Gen.listOfN(4, Gen.chooseNum(1, 60))
    sample(strataGen, 6).foreach { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (0 until n).map(i => (s"g$g", g * 1000L + i, 5L + (i % 11)))
      }
      val df = rows.toDF("g", "id", "toks")
      val budget = 200L
      val kept = Sampling.temperedTokenBudget(df, Seq("g"), col("id"),
          col("toks"), budget)
        .select("g", "id", "toks").as[(String, Long, Long)].collect()
      val weights = sizes.map(n => math.sqrt(n.toDouble).toLong)
      val wsum = weights.sum
      sizes.zipWithIndex.foreach { case (n, g) =>
        val target = budget * weights(g) / wsum
        val keptG = kept.filter(_._1 == s"g$g")
        val tokens = keptG.map(_._3).sum
        // every stratum keeps at least its first (hash-order) doc as
        // long as its share is non-zero, and never overshoots the
        // share by more than one document's tokens
        if (target > 0) assert(keptG.nonEmpty, s"stratum g$g starved (target=$target)")
        if (keptG.nonEmpty)
          assert(tokens - keptG.map(_._3).max < target,
            s"g$g overshot: $tokens tokens for target $target")
      }
    }
  }

  test("ks is symmetric up to sample swap and bounded by its denominator on generated samples") {
    import spark.implicits._
    import graft.ext.Stats
    val vGen = Gen.listOfN(30, Gen.chooseNum(0, 20))
    sample(Gen.zip(vGen, vGen), 6).foreach { case (as, bs) =>
      val a = as.map(("g", _)).toDF("g", "v")
      val b = bs.map(("g", _)).toDF("g", "v")
      val r1 = Stats.ks(a, b, Seq("g"), col("v")).collect().head
      val r2 = Stats.ks(b, a, Seq("g"), col("v")).collect().head
      assert(r1.getLong(1) == r2.getLong(1), "KS distance is symmetric")
      assert(r1.getLong(1) >= 0L && r1.getLong(1) <= r1.getLong(2),
        "0 ≤ ks_num ≤ ks_den")
      assert(r1.getLong(2) == as.size.toLong * bs.size)
    }
  }

  test("transitions equal a naive in-memory fold on generated streams (full pair sets)") {
    import spark.implicits._
    import graft.ext.TimeJoin
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(1, 4), Gen.chooseNum(0, 50), Gen.oneOf("A", "B", "C")))
    sample(evGen, 6).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, t, s), i) =>
        (u.toLong, new java.sql.Timestamp(t * 1000L), i.toLong, s)
      }
      val engine = TimeJoin.transitions(rows.toDF("u", "ts", "eid", "state"),
          Seq("u"), "ts", "state", tieCols = Seq("eid"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val naive = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        es.sortBy(e => (e._2.getTime, e._3)).map(_._4)
          .sliding(2).collect { case Seq(a, b) => ((a, b), u) }.toSeq
      }
      val expected = naive.groupBy(_._1).map { case (k, hits) =>
        k -> (hits.size.toLong, hits.map(_._2).distinct.size.toLong)
      }
      assert(engine == expected)
    }
  }

  test("psi is zero on identical samples and non-negative on generated pairs") {
    import spark.implicits._
    import graft.ext.Stats
    val vGen = Gen.listOfN(40, Gen.chooseNum(0, 60))
    sample(Gen.zip(vGen, vGen), 6).foreach { case (as, bs) =>
      val a = as.toDF("v")
      val b = bs.toDF("v")
      assert(Stats.psi(a, a, col("v"), width = 10, nBuckets = 8)
        .collect().head.getLong(0) == 0L)
      // every term (p−q)·ln(p/q) is non-negative (same sign), so the
      // e9 sum must be ≥ 0 on any pair of samples
      assert(Stats.psi(a, b, col("v"), width = 10, nBuckets = 8)
        .collect().head.getLong(0) >= 0L)
    }
  }

  test("canonicalUrl is idempotent on generated variant URLs") {
    import spark.implicits._
    import graft.ext.TextStats
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTPS", "https")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("ex.org", "A.Example.net", "x-1.co")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/", "/a", "/a/B/", "/a%20b")
      q <- Gen.oneOf("", "?utm_source=x", "?a=1&utm_medium=y&b=2", "?a=1")
      frag <- Gen.oneOf("", "#f", "#a/b?c")
    } yield s"$scheme://$www$host$port$path$q$frag"
    sample(Gen.listOfN(20, urlGen), 5).foreach { urls =>
      val df = urls.toDF("u")
        .select(TextStats.canonicalUrl(col("u")).as("c1"))
        .select(col("c1"), TextStats.canonicalUrl(col("c1")).as("c2"))
      val bad = df.where(col("c1") =!= col("c2")).collect()
      assert(bad.isEmpty,
        s"canonicalization not idempotent: ${bad.take(3).mkString(", ")}")
    }
  }

  test("transitions conserve counts: sum of pairs = events - entities, on generated streams") {
    import spark.implicits._
    import graft.ext.TimeJoin
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(0, 1000), Gen.oneOf("A", "B", "C")))
    sample(evGen, 6).foreach { evs =>
      // unique (user, ts) pairs via the index as a tie column
      val rows = evs.zipWithIndex.map { case ((u, t, s), i) =>
        (u.toLong, new java.sql.Timestamp(t * 1000L), i.toLong, s)
      }
      val df = rows.toDF("u", "ts", "eid", "state")
      val total = TimeJoin.transitions(df, Seq("u"), "ts", "state",
          tieCols = Seq("eid"))
        .agg(coalesce(sum(col("n_transitions")), lit(0L)))
        .head.getLong(0)
      val users = rows.map(_._1).distinct.size
      assert(total == rows.size - users,
        "every event except each entity's first contributes exactly one pair")
    }
  }

  test("mergeBatch folds over ANY batch split (with duplicate re-delivery) equal a naive latest-per-key") {
    // the law StreamMerge's exactly-once rests on, against generated
    // logs: random keyed ops with UNIQUE seqs, randomly split into
    // batches in random order WITH duplicated deliveries — the fold
    // must equal the naive in-memory argmax-per-key, tombstones
    // retained, and the served snapshot the non-deleted subset
    import spark.implicits._
    import graft.ext.Changelog
    val entryGen = for {
      k <- Gen.choose(0L, 11L)
      op <- Gen.frequency(4 -> Gen.const("U"), 1 -> Gen.const("D"))
      v <- Gen.choose(0L, 999L)
    } yield (k, v, op)
    val logGen = Gen.listOfN(40, entryGen)
    sample(logGen, 6).zipWithIndex.foreach { case (entries, trial) =>
      // unique seq per entry (the contract); permuted so seq order
      // is decoupled from list order
      val rnd = new scala.util.Random(trial)
      val seqs = rnd.shuffle((1L to entries.size.toLong).toList)
      val log = entries.zip(seqs).map { case ((k, v, op), s) => (k, v, op, s) }
      // random contiguous split into 1..5 batches, delivered in a
      // random order, with one batch re-delivered (the replay case)
      val nb = 1 + rnd.nextInt(5)
      val batches0 = log.grouped(math.max(1, (log.size + nb - 1) / nb)).toSeq
      val delivered = rnd.shuffle(batches0 ++ Seq(batches0(rnd.nextInt(batches0.size))))
      val store0 = Seq.empty[(Long, Long, String, Long)]
        .toDF("k", "v", "op", "seq")
      val folded = delivered.foldLeft(store0) { (st, b) =>
        Changelog.mergeBatch(st, b.toDF("k", "v", "op", "seq"), "k", "op", Seq("seq"))
      }
      val got = folded.as[(Long, Long, String, Long)].collect().toSeq.sorted
      val naive = log.groupBy(_._1).map { case (_, es) => es.maxBy(_._4) }
        .toSeq.sorted
      assert(got == naive,
        s"trial $trial: fold over ${delivered.size} deliveries diverged from naive latest-per-key")
      val served = folded.where(col("op") =!= "D")
        .select("k").as[Long].collect().toSet
      assert(served == naive.filter(_._3 != "D").map(_._1).toSet)
    }
  }

  test("aggDelta folds telescope: maintained (count,sum) per dim equals the full recompute, re-delivery included") {
    // the law incremental materialized-view maintenance rests on:
    // folding aggDelta/mergeAggDelta alongside mergeBatch over ANY
    // batch sequence — including a re-delivered batch, whose delta
    // must be exactly zero — lands on aggSnapshot of the final store
    import spark.implicits._
    import graft.ext.Changelog
    val entryGen = for {
      k <- Gen.choose(0L, 11L)
      op <- Gen.frequency(4 -> Gen.const("U"), 1 -> Gen.const("D"))
      v <- Gen.choose(0L, 999L)
    } yield (k, k % 3, v, op)
    val logGen = Gen.listOfN(40, entryGen)
    sample(logGen, 4).zipWithIndex.foreach { case (entries, trial) =>
      val rnd = new scala.util.Random(100 + trial)
      val seqs = rnd.shuffle((1L to entries.size.toLong).toList)
      val log = entries.zip(seqs).map { case ((k, d, v, op), s) => (k, d, v, op, s) }
      val nb = 1 + rnd.nextInt(4)
      val batches0 = log.grouped(math.max(1, (log.size + nb - 1) / nb)).toSeq
      val delivered = batches0 ++ Seq(batches0(rnd.nextInt(batches0.size)))
      val store0 = Seq.empty[(Long, Long, Long, String, Long)]
        .toDF("k", "dim", "v", "op", "seq")
      var store = store0
      var agg = Changelog.aggSnapshot(store0, "op", Seq("dim"), "v")
      delivered.foreach { b =>
        val bdf = b.toDF("k", "dim", "v", "op", "seq")
        val delta = Changelog.aggDelta(store, bdf, "k", "op", Seq("seq"),
          Seq("dim"), "v")
        agg = Changelog.mergeAggDelta(agg, delta, Seq("dim"))
        store = Changelog.mergeBatch(store, bdf, "k", "op", Seq("seq"))
      }
      val got = agg.select("dim", "n", "sum")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val want = Changelog.aggSnapshot(store, "op", Seq("dim"), "v")
        .select("dim", "n", "sum")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got == want,
        s"trial $trial: folded aggregate diverged from recompute:\n$got\nvs\n$want")
      // and against a pure in-memory oracle, not just Spark-vs-Spark
      val naive = log.groupBy(_._1).map { case (_, es) => es.maxBy(_._5) }
        .filter(_._4 != "D").toSeq
        .groupBy(_._2).map { case (d, rs) => (d, rs.size.toLong, rs.map(_._3).sum) }
        .toSeq.sorted
      assert(got == naive, s"trial $trial: vs naive:\n$got\nvs\n$naive")
    }
  }

  test("eager view folds telescope: min/max and sketch(k = 2) views equal the MIN/MAX recompute after every batch, re-delivery included") {
    // the same law for the flavours with state: folding mergeAggMinMax
    // and mergeAggSketch alongside mergeBatch over a random batch split,
    // delivered in a random order with one batch delivered twice, must
    // land after EVERY step on aggSnapshotMinMax of the current store —
    // the boundary recomputes and the k = 2 sketch's drains included
    import spark.implicits._
    import graft.ext.Changelog
    val entryGen = for {
      k <- Gen.choose(0L, 11L)
      op <- Gen.frequency(4 -> Gen.const("U"), 1 -> Gen.const("D"))
      v <- Gen.choose(0L, 999L)
    } yield (k, k % 3, v, op)
    val logGen = Gen.listOfN(40, entryGen)
    def rows(view: org.apache.spark.sql.DataFrame) = view.select("dim", "n", "sum", "min", "max")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    sample(logGen, 3).zipWithIndex.foreach { case (entries, trial) =>
      val rnd = new scala.util.Random(200 + trial)
      val seqs = rnd.shuffle((1L to entries.size.toLong).toList)
      val log = entries.zip(seqs).map { case ((k, d, v, op), s) => (k, d, v, op, s) }
      val nb = 1 + rnd.nextInt(4)
      val batches0 = log.grouped(math.max(1, (log.size + nb - 1) / nb)).toSeq
      val delivered = rnd.shuffle(batches0 ++ Seq(batches0(rnd.nextInt(batches0.size))))
      val store0 = Seq.empty[(Long, Long, Long, String, Long)]
        .toDF("k", "dim", "v", "op", "seq")
      var store = store0
      var minmax = Changelog.aggSnapshotMinMax(store0, "op", Seq("dim"), "v")
      var sketch = Changelog.aggSnapshotSketch(store0, "op", Seq("dim"), "v", k = 2)
      delivered.zipWithIndex.foreach { case (b, step) =>
        val bdf = b.toDF("k", "dim", "v", "op", "seq")
        minmax = Changelog.mergeAggMinMax(minmax, store, bdf, "k", "op", Seq("seq"),
          Seq("dim"), "v")
        sketch = Changelog.mergeAggSketch(sketch, store, bdf, "k", "op", Seq("seq"),
          Seq("dim"), "v", k = 2)
        store = Changelog.mergeBatch(store, bdf, "k", "op", Seq("seq")).localCheckpoint(true)
        val want = rows(Changelog.aggSnapshotMinMax(store, "op", Seq("dim"), "v"))
        assert(rows(minmax) == want, s"trial $trial step $step: min/max fold diverged")
        assert(rows(sketch.drop(Changelog.SketchCols: _*)) == want,
          s"trial $trial step $step: sketch fold diverged")
      }
      // and the final view against a pure in-memory oracle
      val naive = log.groupBy(_._1).map { case (_, es) => es.maxBy(_._5) }
        .filter(_._4 != "D").toSeq
        .groupBy(_._2).map { case (d, rs) =>
          val vs = rs.map(_._3)
          (d, rs.size.toLong, vs.sum, vs.min, vs.max)
        }.toSeq.sorted
      assert(rows(minmax) == naive, s"trial $trial: vs naive")
    }
  }
}
