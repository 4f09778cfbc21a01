package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, Features, Multimodal, PrepPipeline, Splitting, TextAnalysis}

/** LLM-pipeline operators: dedup, ANN, text analysis, multimodal
  * plumbing - including the scale-safety plan checks (no crossJoin, no
  * collect in any candidate-pair plan). */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark query engines at scale"),
    (5L, "THE QUICK  brown fox jumps over the lazy dog again and again")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs).filter($"dup_count" > 1)
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L)))
  }

  test("normalized dedup also catches case/whitespace variants") {
    val r = Dedup.normalized(docs).filter($"dup_count" > 1)
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 3L))) // 1, 2 and 5 normalize identically
  }

  test("minhash LSH finds near-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 5L))) // normalized-identical
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L) ||
      pairs.contains((2L, 3L))) // one-word-off
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val h = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <
      java.lang.Long.bitCount(h(1L) ^ h(4L)))
  }

  /** ~200-doc fixture in mutation clusters: 40 base sentences x 5
    * variants with 0-2 word substitutions, so plenty of pairs land at
    * small Hamming/high Jaccard while cross-cluster pairs are far. */
  private def mutationDocs = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val rows = for {
      base <- 0 until 40
      words = Vector.fill(12)(vocab(rnd.nextInt(vocab.size)))
      v <- 0 until 5
    } yield {
      val mutated = (0 until v.min(2)).foldLeft(words) { (w, _) =>
        w.updated(rnd.nextInt(w.size), vocab(rnd.nextInt(vocab.size)))
      }
      ((base * 5 + v).toLong, mutated.mkString(" "))
    }
    rows.toDF("doc_id", "text")
  }

  test("simhash blocking is COMPLETE within maxHamming (vs brute force)") {
    val d = mutationDocs
    val hashes = d.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().sortBy(_._1)
    for (maxHamming <- Seq(3, 8, 16)) { // 4x16-bit; 9 and 17 uneven chunks
      val brute = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        if java.lang.Long.bitCount(ha ^ hb) <= maxHamming
      } yield (ia, ib)).toSet
      val blocked = Dedup.simhashPairs(d, maxHamming = maxHamming,
          maxBucketSize = 10000)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, "fixture must produce close pairs")
      assert(blocked == brute,
        s"ham<=$maxHamming: missing=${(brute -- blocked).take(5)} " +
          s"extra=${(blocked -- brute).take(5)}")
    }
  }

  test("simhash bucket cap bounds degenerate corpora") {
    // 300 identical docs: every chunk bucket holds all 300; with the cap
    // the join is suppressed instead of going quadratic (300*299/2 pairs)
    val degenerate = (0 until 300).map(i => (i.toLong, "same boilerplate text"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(degenerate, maxBucketSize = 100).count()
    assert(capped == 0)
    val uncapped = Dedup.simhashPairs(degenerate, maxBucketSize = 1000).count()
    assert(uncapped == 300L * 299 / 2)
    // maxHamming=0 -> one 64-bit chunk; the mask must be all-ones
    // ((1L << 64) == 1L would zero it and bucket everything together)
    val exactOnly = Dedup.simhashPairs(degenerate, maxHamming = 0,
      maxBucketSize = 1000).count()
    assert(exactOnly == 300L * 299 / 2)
  }

  test("minhash pairs match brute-force shingle Jaccard away from threshold") {
    val d = mutationDocs
    val sh = d.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }
    def jac(a: Set[String], b: Set[String]) =
      if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size
    val pairs = Dedup.minhashLshPairs(d, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision band: nothing reported with true Jaccard clearly below
    for ((a, b) <- pairs) {
      val j = jac(sh.find(_._1 == a).get._2, sh.find(_._1 == b).get._2)
      assert(j >= 0.5, s"pair ($a,$b) reported at true jaccard $j")
    }
    // recall band: every comfortably-above-threshold pair is found
    val high = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib if jac(sa, sb) >= 0.9
    } yield (ia, ib)).toSet
    assert(high.nonEmpty)
    assert((high -- pairs).isEmpty,
      s"missed high-Jaccard pairs: ${(high -- pairs).take(5)}")
  }

  test("xxhash64 and md5 minhash paths agree at equal bucket caps") {
    // All pair generators share one maxBucketSize default (1000), so a
    // user switching the fast xxhash64 path for its portable md5 twin
    // must see the same recall through the cap. Equalize the verify
    // stages (the md5 path verifies with exact Jaccard; do the same to
    // the xxhash64 candidates) and the surviving pair sets must match -
    // both with the cap slack (1000) and with the cap binding (cap=1
    // drops every bucket on both paths: identical docs occupy every
    // band/bucket together, and a 4-doc bucket exceeds 1).
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "completely different words entirely unrelated content here none"),
      (4L, base)
    ).toDF("doc_id", "text")
    def exactVerified(cands: org.apache.spark.sql.DataFrame) = {
      val sh = d.select($"doc_id".as("id"), Dedup.shingles($"text").as("sh"))
      cands.select("id_a", "id_b")
        .join(sh.select($"id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
        .join(sh.select($"id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
        .filter(Dedup.jaccard($"sh_a", $"sh_b") >= 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    for (cap <- Seq(1000, 1)) {
      val fast = exactVerified(Dedup.minhashLshPairs(
        d, threshold = 0.3, maxBucketSize = cap))
      val portable = Dedup.minhashMd5Pairs(d, maxBucketSize = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == portable, s"cap=$cap: $fast vs $portable")
      if (cap == 1) assert(fast.isEmpty)
      else assert(fast == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    }
  }

  test("repeated n-gram spans: cross-doc repeats found, merged, trimmed") {
    // "one two three four five" repeats in docs 1/2 (with different
    // surroundings); "alpha beta gamma delta eps" repeats in docs 1/3
    // ADJACENT to the first repeat in doc 1 -> one merged span there
    val docs = Seq(
      (1L, "x one two three four five alpha beta gamma delta eps y"),
      (2L, "p q one two three four five r s t u v"),
      (3L, "alpha beta gamma delta eps m n o hello world here now"),
      (4L, "nothing shared with anyone else at all whatsoever today"),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(docs, n = 5, minDocFreq = 2)
      .select("doc_id", "span_start", "span_end", "n_grams")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: words 1-5 and 6-10 repeated; intervals [1,6) and [6,11)
    // touch -> merged [1,11); doc 2: [2,7); doc 3: [0,5)
    assert(spans == Set((1L, 1L, 11L, 2L), (2L, 2L, 7L, 1L), (3L, 0L, 5L, 1L)))

    val trimmed = Dedup.trimRepeatedSpans(docs, n = 5, minDocFreq = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(trimmed(1L) == (("x y", 10L)))
    assert(trimmed(2L) == (("p q r s t u v", 5L)))
    assert(trimmed(3L) == (("m n o hello world here now", 5L)))
    assert(trimmed(4L) ==
      (("nothing shared with anyone else at all whatsoever today", 0L)))
    assert(trimmed(5L) == (("tiny doc", 0L)))
  }

  test("wordpiece: greedy longest match, whole-word UNK, per-doc csv") {
    import graft.llm.Wordpiece
    val vocab = Seq("un", "aff", "##aff", "##able", "##ab", "a", "##b",
      "table", "ta", "##ble")
    val docs = Seq(
      (1L, "unaffable table ab"),
      (2L, "zzz un"),   // zzz -> UNK (no 'z' piece); un segments
      (3L, "unx")       // prefix matches then fails -> whole-word UNK
    ).toDF("doc_id", "text")
    val r = Wordpiece.encode(docs, vocab)
      .as[(Long, Int, Int, String)].collect().map(x => x._1 -> x).toMap
    // "unaffable": un + ##aff (len 3 beats ##ab) + ##able;
    // "table": whole-word piece beats ta+##ble; "ab": a + ##b
    assert(r(1L) == ((1L, 6, 0, "un,##aff,##able,table,a,##b")))
    assert(r(2L) == ((2L, 2, 1, "[UNK],un")))
    assert(r(3L) == ((3L, 1, 1, "[UNK]")))
  }

  test("FIM transform: lossless rearrangement, exact counts, rate " +
    "bounds, map-only plan") {
    import graft.llm.Fim
    val docs = (1L to 60L).map(i =>
      (i, (1 to (i % 9 + 1).toInt).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Fim.fimTransform(docs, rate = 1.0).persist()
    try {
      val rows = r.as[(Long, String, Int, Int, Int, String)].collect()
      val orig = docs.as[(Long, String)].collect().toMap
      rows.foreach { case (id, mode, np, nm, ns, text) =>
        val ws = orig(id).split(" ").toSeq
        if (ws.size < 2) {
          assert(mode == "none" && text == orig(id))
        } else {
          assert(mode == "psm" || mode == "spm") // rate 1.0: all applied
          assert(np + nm + ns == ws.size && np >= 1)
          // strip sentinels, reassemble in document order: lossless
          val parts = text.split(" ").toSeq
          val pre = parts.slice(parts.indexOf(Fim.PreTok) + 1,
            parts.indexOf(Fim.PreTok) + 1 + np)
          val suf = parts.slice(parts.indexOf(Fim.SufTok) + 1,
            parts.indexOf(Fim.SufTok) + 1 + ns)
          val mid = parts.slice(parts.indexOf(Fim.MidTok) + 1,
            parts.indexOf(Fim.MidTok) + 1 + nm)
          assert((pre ++ mid ++ suf) == ws, s"doc $id")
        }
      }
      // both modes occur over 60 docs at a fair coin
      val modes = rows.filter(_._2 != "none").map(_._2).toSet
      assert(modes == Set("psm", "spm"))
      // rate 0: nothing applied, text passes through verbatim-normalized
      val none = Fim.fimTransform(docs, rate = 0.0)
        .select("fim_mode").distinct().as[String].collect().toSeq
      assert(none == Seq("none"))
      // map-only contract
      val plan = Fim.fimTransform(docs).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    } finally r.unpersist()
  }

  test("maximal repeated spans: step-1 chains, not touch-merged islands") {
    // same fixture as the island test: doc 1's two repeats sit at
    // positions 1 and 6 - ADJACENT intervals but NOT a step-1 chain
    // (the 5-windows straddling the boundary are unique), so maximal
    // semantics reports TWO spans where repeatedNgramSpans merged one
    val docs = Seq(
      (1L, "x one two three four five alpha beta gamma delta eps y"),
      (2L, "p q one two three four five r s t u v"),
      (3L, "alpha beta gamma delta eps m n o hello world here now"),
      (4L, "nothing shared with anyone else at all whatsoever today"),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val spans = Dedup.maximalRepeatedSpans(docs, minSpanLen = 5, minDocFreq = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 1L, 6L, 1L), (1L, 6L, 11L, 1L),
      (2L, 2L, 7L, 1L), (3L, 0L, 5L, 1L)))

    // chain extension (the L <-> n equivalence): a 7-token exact repeat
    // at minSpanLen 5 has 3 consecutive repeated grams -> ONE span of
    // exactly the repeat's extent in each document
    val chain = Seq(
      (10L, "a b c d e f g x1 y1"),
      (11L, "z1 a b c d e f g w1")).toDF("doc_id", "text")
    val cs = Dedup.maximalRepeatedSpans(chain, minSpanLen = 5, minDocFreq = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(cs == Set((10L, 0L, 7L, 3L), (11L, 1L, 8L, 3L)))

    // and the trim action under maximal semantics
    val trimmed = Dedup.trimMaximalSpans(chain, minSpanLen = 5, minDocFreq = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(trimmed(10L) == (("x1 y1", 7L)))
    assert(trimmed(11L) == (("z1 w1", 7L)))
  }

  test("native md5 minhash signature matches the HOF construction " +
    "byte for byte") {
    import org.apache.spark.sql.functions._
    val d = mutationDocs.limit(60)
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
    for (k <- Seq(3, 16)) {
      val hof = transform(sequence(lit(1), lit(k)), i =>
        array_min(transform(col("sh"), sh =>
          substring(md5(concat(i.cast("string"), lit("|"), sh).cast("binary")),
            1, 16))))
      val native = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.Md5MinHashSig(
          org.apache.spark.sql.GraftSqlBridge.expression(col("sh")), k))
      val rows = d.select($"doc_id", hof.as("h"), native.as("n"))
        .as[(Long, Seq[String], Seq[String])].collect()
      for ((id, h, nv) <- rows) assert(h == nv, s"doc $id k=$k")
    }
  }

  test("md5 simhash at radius 2 (3-chunk pigeonhole) is complete vs " +
    "brute force on its own signatures") {
    val d = mutationDocs
    import org.apache.spark.sql.functions.{coalesce, lit, lower, trim}
    val sigs = d.select($"doc_id",
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SimHashMd5Text(
            org.apache.spark.sql.GraftSqlBridge.expression(
              lower(trim(coalesce($"text", lit(""))))))).as("sig"))
      .as[(Long, String)].collect()
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if ham(sa, sb) <= 2
    } yield (ia, ib, ham(sa, sb))).toSet
    val got = Dedup.simhashMd5Pairs(d, maxHamming = 2, maxBucketSize = 10000)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(brute.nonEmpty, "fixture must produce close pairs")
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("md5 ngram two-stage: exact precision at 0.6, est filter keeps " +
    "high-similarity recall") {
    val d = mutationDocs
    val sh = d.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toMap
    def jac(a: Set[String], b: Set[String]) =
      if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size
    val out = Dedup.ngramJaccardPairsMd5(d, threshold = 0.6, estMinAgree = 7)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    for ((a, b, j) <- out) {
      val truth = jac(sh(a), sh(b))
      assert(math.abs(truth - j) < 1e-9 && truth >= 0.6)
    }
    // pairs at >= 0.9 exact Jaccard agree on nearly every signature
    // position - neither the 8x2 banding nor the 7/16 estimate floor
    // can drop them on this fixture
    val high = (for {
      (ia, sa) <- sh.toSeq; (ib, sb) <- sh.toSeq if ia < ib
      if jac(sa, sb) >= 0.9
    } yield (ia, ib)).toSet
    val found = out.map(p => (p._1, p._2)).toSet
    assert(high.nonEmpty && (high -- found).isEmpty)
  }

  test("ngram Jaccard two-stage: exact precision, high-band recall") {
    val d = mutationDocs
    val sh = d.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toMap
    def jac(a: Set[String], b: Set[String]) =
      if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size
    val out = Dedup.ngramJaccardPairs(d, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    // the verify stage is exact Jaccard -> precision is exact
    for ((a, b, j) <- out) {
      val truth = jac(sh(a), sh(b))
      assert(math.abs(truth - j) < 1e-9 && truth >= 0.8)
    }
    val high = (for {
      (ia, sa) <- sh.toSeq; (ib, sb) <- sh.toSeq if ia < ib
      if jac(sa, sb) >= 0.9
    } yield (ia, ib)).toSet
    val found = out.map(p => (p._1, p._2)).toSet
    assert(high.nonEmpty && (high -- found).isEmpty)
  }

  test("cosine near-dup: exact precision, tight-cluster recall, capped skew") {
    val rnd = new scala.util.Random(3)
    // 20 tight clusters of 5 near-identical vectors (cos ~0.999+)
    val vecs = (for {
      c <- 0 until 20
      centre = Seq.fill(16)(rnd.nextGaussian())
      v <- 0 until 5
    } yield ((c * 5 + v).toLong,
      centre.map(x => (x + rnd.nextGaussian() * 0.01).toFloat))).toDF("vec_id", "embedding")

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    val raw = vecs.as[(Long, Seq[Float])].collect().sortBy(_._1)
    val brute = (for {
      (ia, va) <- raw; (ib, vb) <- raw if ia < ib if cos(va, vb) >= 0.99
    } yield (ia, ib)).toSet
    assert(brute.size >= 150) // ~20 * C(5,2)

    val found = Ann.cosineNearDupPairs(vecs, dim = 16, threshold = 0.99, bits = 6)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    // precision: every reported cosine matches brute-force exactly
    for ((a, b, cs) <- found) {
      val truth = cos(raw(a.toInt)._2, raw(b.toInt)._2)
      assert(math.abs(truth - cs) < 1e-6 && truth >= 0.99 - 1e-9)
    }
    // recall: near-identical vectors rarely straddle a hyperplane
    val foundSet = found.map(p => (p._1, p._2)).toSet
    val recall = (brute & foundSet).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("cosine near-dup sub-split + cap bound degenerate clusters") {
    // 500 near-identical vectors: one bucket at bits=4; the refinement
    // can't separate them (they really are near-identical), so the hard
    // cap suppresses the quadratic join entirely
    val rnd = new scala.util.Random(9)
    val centre = Seq.fill(8)(rnd.nextGaussian())
    val clones = (0 until 500).map(i =>
      (i.toLong, centre.map(x => (x + rnd.nextGaussian() * 0.001).toFloat)))
      .toDF("vec_id", "embedding")
    val capped = Ann.cosineNearDupPairs(clones, dim = 8, threshold = 0.9,
      bits = 4, maxBucketSize = 100)
    // bounded by buckets*cap^2: a stray sub-bucket under the cap may emit
    // a few pairs, but nothing near the 124,750 quadratic output
    assert(capped.count() < 5000)
    // and with a cap that admits the cluster, all pairs appear
    val full = Ann.cosineNearDupPairs(clones, dim = 8, threshold = 0.9,
      bits = 4, maxBucketSize = 1000)
    assert(full.count() == 500L * 499 / 2)
  }

  test("connected components match brute-force union-find; survivors keep min id") {
    // random sparse graph: 300 nodes, 280 random edges -> mix of chains,
    // small clusters, and isolated nodes
    val rnd = new scala.util.Random(11)
    val edgeSeq = Seq.fill(280) {
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val edges = edgeSeq.toDF("id_a", "id_b")

    // brute-force union-find
    val parent = Array.tabulate(300)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edgeSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = edgeSeq.flatMap(p => Seq(p._1, p._2)).toSet
    val truth = inGraph.map(n => n -> find(n.toInt).toLong).toMap

    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == truth)

    // survivors: min id per component + isolated docs
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val survivors = Dedup.nearDupSurvivors(docs, edges).select("doc_id")
      .as[Long].collect().toSet
    val expected = (0L until 300L).filter(i =>
      !inGraph.contains(i) || truth(i) == i).toSet
    assert(survivors == expected)
  }

  test("connected components release every round's checkpoint but the last") {
    // a 64-node chain: pointer jumping takes several rounds to label it,
    // and each round localCheckpoints its labels
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.toSet == (0L to 63L).map(_ -> 0L).toSet)
    // the result is rooted at the last round's checkpoint only; anything
    // more waits for the ContextCleaner, i.e. for a driver GC
    assert(persisted - before <= 1,
      s"${persisted - before} RDDs left persisted by one connectedComponents call")
  }

  test("nearDupClusterPick keeps the best-scored member per component") {
    // two components: {1,2,3} and {10,11}; scores favor 2 and 11;
    // 20 ties with nobody (not in any pair -> not in the output)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val scored = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // tie 2 vs 3 -> min id 2
      (10L, 0.2), (11L, 0.8), (20L, 1.0)
    ).toDF("doc_id", "score")
    val got = Dedup.nearDupClusterPick(scored, pairs, "score")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L), (10L, 11L, 2L)))
    // a pair-graph member with NO score must fail loudly (silent inner-
    // join disappearance undercounts n_members and can mispick keep_id)
    val partial = scored.filter($"doc_id" =!= 3L)
    val e = intercept[Exception] {
      Dedup.nearDupClusterPick(partial, pairs, "score").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(
      _.contains("is missing from the scored frame or has a null score")), e)
  }

  test("SCALE: no CartesianProduct / BroadcastNestedLoop in pair plans") {
    val oneVec = Seq((1L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val planes8 = Ann.hyperplanes(8, 4, seed = 11L)
    for (df <- Seq(
      Dedup.minhashLshPairs(docs),
      Dedup.simhashPairs(docs),
      Ann.cosineNearDupPairs(oneVec, dim = 8),
      Ann.semanticDedup(oneVec, planes8, threshold = 0.9),
      graft.llm.Contamination.semanticScreen(oneVec, oneVec, planes8,
        threshold = 0.9))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(500))
      assert(!plan.contains("BroadcastNestedLoop"), plan.take(500))
    }
  }

  test("ANN: brute-force top-k is exact; LSH bucket recall is sane") {
    // three tight clusters around axis directions
    val rnd = new scala.util.Random(1)
    val base = Seq(Seq.fill(16)(0.0), Seq.fill(16)(0.0), Seq.fill(16)(0.0))
      .zipWithIndex.map { case (v, i) => v.updated(i, 1.0) }
    val vecs = (0 until 90).map { i =>
      val c = base(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")

    val query = base.head // cluster-0 direction
    val exact = Ann.cosineTopK(vecs, query, 10).select("vec_id")
      .as[Long].collect().toSet
    assert(exact.forall(_ % 3 == 0)) // all from cluster 0

    val approx = Ann.annTopK(vecs, query, 10, dim = 16, bits = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.nonEmpty && approx.forall(_ % 3 == 0))
    assert((exact intersect approx).size >= 5) // decent recall w/ probing

    // IVF with the cluster directions as centroids: probing every cell
    // must reproduce the exact top-k; probing 1 cell keeps cluster-0 hits
    val ivfAll = Ann.ivfTopK(vecs, query, 10, base, nprobe = base.size)
      .select("vec_id").as[Long].collect().toSet
    assert(ivfAll == exact)
    val ivf1 = Ann.ivfTopK(vecs, query, 10, base, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf1.nonEmpty && ivf1.forall(_ % 3 == 0))
  }

  test("k-means centroids recover planted clusters; IVF assignment segregates them") {
    val rnd = new scala.util.Random(5)
    val centres = Seq.fill(3)(Seq.fill(8)(rnd.nextGaussian() * 3))
    val vecs = (for {
      c <- 0 until 3; v <- 0 until 40
    } yield ((c * 40 + v).toLong,
      centres(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")

    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val learned = Ann.kmeansCentroids(vecs, k = 3, iters = 5)
    // each planted centre is cosine-close to exactly one learned centroid
    val matches = centres.map(t => learned.map(l => cos(t, l)).max)
    assert(matches.forall(_ > 0.99), s"matches=$matches")
    // assignment under the learned centroids keeps each cluster together
    val cells = Ann.ivfAssign(vecs, learned)
      .select($"vec_id", $"ivf_cell").as[(Long, Int)].collect()
    val byCluster = cells.groupBy(_._1 / 40).map { case (cl, xs) =>
      cl -> xs.map(_._2).distinct.size
    }
    assert(byCluster.values.forall(_ == 1)) // no cluster split across cells
    assert(cells.map(_._2).distinct.size == 3) // and no two share a cell
  }

  test("text analysis: counts, quality, langid, fingerprint") {
    val t = Seq((1L, "The quick brown fox, and the lazy dog!"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "12345 67890")).toDF("doc_id", "text")

    val q = TextAnalysis.withQualityFeatures(t)
      .select("doc_id", "n_words", "punct_ratio", "digit_ratio")
      .as[(Long, Int, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(q(1L)._2 == 8)
    assert(q(1L)._3 > 0 && q(1L)._4 == 0.0)
    assert(q(3L)._4 > 0.8)

    val lang = TextAnalysis.withLangId(t).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(lang(1L) == "en" && lang(2L) == "de" && lang(3L) == "und")

    val fp = TextAnalysis.withFingerprint(
      Seq((1L, "a  b"), (2L, "A b"), (3L, "c")).toDF("doc_id", "text"))
      .select("doc_id", "content_md5").as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L)) // normalization collapses case+spaces
    assert(fp(1L) != fp(3L))

    val r = Seq(("a b  c d!", 1)).toDF("text", "x")
      .select(TextAnalysis.wordCount($"text"),
        TextAnalysis.tokenCountBpeIsh($"text")).as[(Int, Int)].head()
    assert(r == ((4, 5))) // 4 ws tokens; 4 alnum runs + '!' = 5
  }

  test("repetition signals flag boilerplate (dup lines/words, bullets)") {
    val t = Seq(
      (1L, "Buy now!\nBuy now!\nBuy now!\nCall today..."),
      (2L, "- first point\n- second point\nplain closing line"),
      (3L, "all words unique here"),
      (4L, "spam spam spam spam")).toDF("doc_id", "text")
    val r = TextAnalysis.withRepetitionSignals(t)
      .select("doc_id", "n_lines", "dup_line_ratio", "dup_word_ratio",
        "bullet_line_ratio", "ellipsis_line_ratio")
      .as[(Long, Int, Double, Double, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 4)
    assert(r(1L)._3 == 0.5) // 2 of 4 lines are repeats
    assert(r(1L)._6 == 0.25) // one "..." line
    assert(r(2L)._5 == 2.0 / 3) // two bullet lines of three
    assert(r(3L)._4 == 0.0) // no duplicate words
    assert(r(4L)._4 == 0.75) // 3 of 4 words are repeats
  }

  test("scrub replaces urls/emails/ips with typed tokens, counting each once") {
    val t = Seq(
      (1L, "mail me at a.b+c@d-e.org or visit https://x.co/a?u=v@w.io now"),
      (2L, "server 10.0.0.1 and 192.168.1.255 up"),
      (3L, "clean text")).toDF("doc_id", "text")
    val r = TextAnalysis.withScrubbedText(t)
      .select("doc_id", "n_urls", "n_emails", "n_ips", "scrubbed")
      .as[(Long, Int, Int, Int, String)].collect().map(x => x._1 -> x).toMap
    // the v@w.io inside the URL is swallowed by the URL replacement
    assert(r(1L) == ((1L, 1, 1, 0,
      "mail me at <EMAIL> or visit <URL> now")))
    assert(r(2L) == ((2L, 0, 0, 2, "server <IP> and <IP> up")))
    assert(r(3L) == ((3L, 0, 0, 0, "clean text")))
  }

  test("content-hash split is deterministic and lands near its fractions") {
    val docs500 = (1 to 2000).map(i => (i.toLong, s"document body number $i"))
      .toDF("doc_id", "text")
    val s1 = graft.llm.Splitting.assignSplit(docs500)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s2 = graft.llm.Splitting.assignSplit(docs500)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 == s2) // pure function of content
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 204.0 / 256) < 0.05)
    assert(math.abs(frac("val") - 26.0 / 256) < 0.03)
    assert(math.abs(frac("test") - 26.0 / 256) < 0.03)
  }

  test("column profile: one-pass counts, nulls, and exact quartiles") {
    val t = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, null))
      .toDF("a", "b")
    val p = graft.operators.Profile.summarize(t, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("a").getLong(1) == 5 && p("a").getLong(2) == 0)
    assert(p("a").getDouble(6) == 2.0 && p("a").getDouble(7) == 3.0) // p25/p50
    assert(p("b").getLong(2) == 1) // one null
    assert(p("b").getLong(3) == 4) // distinct non-null
    // percentile ignores nulls: 10,20,30,40 -> p50 = 25
    assert(p("b").getDouble(7) == 25.0)
  }

  test("contamination screen finds n-gram overlap; hashed == unhashed") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content with no overlap at all here"),
      (3L, "the quick brown cat sleeps")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "watch the quick brown fox jumps over a fence")).toDF("bench_id", "text")

    def run(hashed: Boolean) =
      graft.llm.Contamination.ngramOverlap(train, bench, hashed = hashed)
        .select("doc_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet

    val plain = run(hashed = false)
    // doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps",
    // "fox jumps over" = 4 trigrams; doc 3 only "the quick brown" (below
    // minOverlap); doc 2 nothing
    assert(plain == Set((1L, 100L, 4L)))
    assert(run(hashed = true) == plain) // scale path, same answer
  }

  test("exact inverted-index Jaccard matches brute force; df-cut bounds skew") {
    val d = mutationDocs
    val sh = d.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }
    def jac(a: Set[String], b: Set[String]) =
      if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size
    val brute = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib if jac(sa, sb) >= 0.5
    } yield ((ia, ib), jac(sa, sb))).toMap
    assert(brute.nonEmpty)
    val got = Dedup.jaccardPairsExact(d, threshold = 0.5, maxDf = Int.MaxValue)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => ((a, b), j) }.toMap
    assert(got.keySet == brute.keySet,
      s"missing=${(brute.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- brute.keySet).take(5)}")
    for ((k, j) <- got) assert(math.abs(j - brute(k)) < 1e-12)

    // df-cut: 300 identical docs share every shingle; the cut suppresses
    // the quadratic posting join instead of producing 300*299/2 pairs
    val degenerate = (0 until 300)
      .map(i => (i.toLong, "same boilerplate text body repeated"))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardPairsExact(degenerate, maxDf = 100).count() == 0)
    assert(Dedup.jaccardPairsExact(degenerate, maxDf = 400).count() ==
      300L * 299 / 2)
  }

  test("vocabulary top-k: exact counts under a total order") {
    val d = Seq((1L, "alpha beta beta gamma"), (2L, "beta gamma gamma delta"),
      (3L, "ALPHA beta")).toDF("doc_id", "text")
    val got = TextAnalysis.topTerms(d, 3)
      .as[(String, Long)].collect().toSeq
    // beta 4, gamma 3, alpha 2 (case-normalized), delta 1 cut at k=3
    assert(got == Seq(("beta", 4L), ("gamma", 3L), ("alpha", 2L)))
    // tie at the cut is deterministic: alpha/gamma tie broken by term asc
    val tied = Seq((1L, "x x y y z")).toDF("doc_id", "text")
    assert(TextAnalysis.topTerms(tied, 2).as[(String, Long)].collect()
      .toSeq == Seq(("x", 2L), ("y", 2L)))
  }

  test("per-doc top term: tf desc, then rarest (df asc), then term asc") {
    val d = Seq(
      (1L, "apple apple banana common"), // tf: apple 2 wins
      (2L, "banana common banana common"), // tf tie 2-2: banana df=2 < common df=3
      (3L, "common zebra")                // tf tie 1-1: zebra df=1 wins
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topTermPerDoc(d)
      .select("doc_id", "top_term", "tf", "df")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "apple", 2L, 1L), (2L, "banana", 2L, 2L),
      (3L, "zebra", 1L, 1L)))
  }

  test("OOV rate against a top-k vocabulary; token-less docs get zero") {
    val d = Seq(
      (1L, "alpha alpha beta beta"), // all in top-2 vocab
      (2L, "alpha zz qq"),           // 2 of 3 OOV
      (3L, "...")                    // no word tokens after normalization
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withOovRate(d, vocabSize = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // vocab = {alpha(3), beta(2)} - counts strictly above the 1-ties
    assert(got(0) == ((1L, 4L, 0L, 0.0)))
    assert(got(1) == ((2L, 3L, 2L, 2.0 / 3)))
    // "..." has no [a-z0-9] word tokens -> "..." itself is one token
    // under whitespace normalization; it is OOV
    assert(got(2)._1 == 3L && got(2)._2 == 1L && got(2)._3 == 1L)
    // explicit external vocabulary
    val ext = Seq("zz").toDF("term")
    val extGot = TextAnalysis.withOovRate(d, vocab = Some(ext))
      .filter($"doc_id" === 2L).select("n_oov").as[Long].collect()
    assert(extGot.toSeq == Seq(2L)) // alpha and qq OOV, zz known
  }

  test("quality filter: first failing rule wins; clean docs keep") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    val d = Seq(
      (1L, good),
      (2L, "too short"),                          // too_few_words
      (3L, Seq.fill(20)("zzzz").mkString(" ")),   // low_stopword (no the/a)
      (4L, ("the " + "!!!!!!!! " * 19).trim),     // high_punct (has stopword)
      (5L, ("the " + "12345678 " * 19).trim),     // high_digit
      (6L, (1 to 20).map(_ => "the fox runs").mkString("\n")) // repetitive_lines
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withQualityFilter(d)
      .select("doc_id", "keep", "drop_reason")
      .as[(Long, Int, Option[String])].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1, None)))
    assert(got(1) == ((2L, 0, Some("too_few_words"))))
    assert(got(2) == ((3L, 0, Some("low_stopword"))))
    assert(got(3) == ((4L, 0, Some("high_punct"))))
    assert(got(4) == ((5L, 0, Some("high_digit"))))
    assert(got(5) == ((6L, 0, Some("repetitive_lines"))))
  }

  test("stratified sampling: deterministic, rate-accurate, salt-decorrelated") {
    val d = (1 to 4000).map(i =>
      (i.toLong, if (i % 2 == 0) "web" else "books", s"content body $i"))
      .toDF("doc_id", "source", "text")
    def run(salt: String) = graft.llm.Splitting.sampleStratified(d,
      Map("web" -> 0.25, "books" -> 1.0), salt = salt)
      .filter($"kept" === 1).select("doc_id").as[Long].collect().toSet
    val k1 = run("sample-v1")
    assert(k1 == run("sample-v1")) // pure function of content
    val webKept = k1.count(_ % 2 == 0) / 2000.0
    assert(math.abs(webKept - 0.25) < 0.04, s"web rate $webKept")
    assert(k1.count(_ % 2 == 1) == 2000) // books rate 1.0 keeps ALL rows
    // different salt -> different subset at the same rate
    val k2 = run("sample-v2")
    assert(k2 != k1 &&
      math.abs(k2.count(_ % 2 == 0) / 2000.0 - 0.25) < 0.04)
    // rate 0 keeps nothing
    assert(graft.llm.Splitting.sampleStratified(d, Map.empty,
      defaultRate = 0.0).filter($"kept" === 1).count() == 0)
  }

  test("packing: next-fit bins respect the token budget per stratum") {
    val d = (1 to 100).map(i =>
      (i.toLong, s"s${i % 3}", 60L)).toDF("doc_id", "source", "n_tokens")
    val got = graft.llm.Packing.assignBins(d, budgetTokens = 200)
      .select("source", "doc_id", "pack_bin")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for ((_, bins) <- got) {
      // bins are contiguous and non-decreasing in doc order
      assert(bins.zip(bins.tail).forall { case (a, b) => b == a || b == a + 1 })
      // next-fit at 60 tokens / 200 budget: a bin overflows by at most
      // one doc (sum <= budget + docTokens), so sizes alternate 4,3,3
      val sizes = bins.groupBy(identity).view.mapValues(_.size).toMap
      assert(sizes.filter(_._1 < bins.max).values
        .forall(n => n * 60 <= 200 + 60 && n >= 3))
    }
    // a doc longer than the budget still lands in exactly one bin and
    // the next doc starts a fresh bin
    val big = Seq((1L, "s", 500L), (2L, "s", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val bb = graft.llm.Packing.assignBins(big, budgetTokens = 200)
      .select("doc_id", "pack_bin").as[(Long, Long)].collect().toMap
    assert(bb(1L) == 0L && bb(2L) == 2L) // next starts at offset 500 -> bin 2
  }

  test("random projection + quantization match driver-side arithmetic") {
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val planes = Ann.hyperplanes(16, 4, seed = 19L)
    val got = Ann.randomProject(vecs.toDF("vec_id", "embedding"), planes)
      .select($"vec_id", Ann.quantize($"projected", 1000.0).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    for ((id, v) <- vecs) {
      val expect = planes.map(p =>
        math.floor(p.zip(v).map { case (a, b) => a * b.toDouble }.sum * 1000.0).toLong)
      assert(got(id) == expect, s"vec $id")
    }
  }

  test("multimodal: metadata prunes, frames sample, stub features are stable") {
    val assets = Multimodal.syntheticAssets(docs, "doc_id", "text")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "media_type", "bytes", "meta"))

    val meta = Multimodal.metadataOnly(assets)
    assert(!meta.schema.fieldNames.contains("bytes"))

    val frames = Multimodal.sampleFrames(assets, everyMs = 60000)
    val counts = frames.groupBy("asset_id").count().as[(Long, Long)].collect()
    assert(counts.nonEmpty) // at least one video asset in 5 docs
    // feature vector: fixed width, deterministic across evaluations
    val f1 = assets.select(Multimodal.fakeDecodeFeatures($"bytes", 8))
      .as[Seq[Float]].collect()
    val f2 = assets.select(Multimodal.fakeDecodeFeatures($"bytes", 8))
      .as[Seq[Float]].collect()
    assert(f1.toSeq == f2.toSeq && f1.forall(_.size == 8))
  }

  test("phash near-dup: identical payloads pair at hamming 0, the " +
    "funnel agrees with both passes, blocking is pair-complete") {
    val d = Seq(
      (1L, "shared payload"),
      (2L, "shared payload"),     // byte-identical to 1 -> hamming 0
      (3L, "Shared   PAYLOAD"),   // normalizes like 1/2, bytes differ
      (4L, "something else"),
      (5L, "shared payload")      // third byte-identical copy
    ).toDF("doc_id", "text")
    val assets = Multimodal.syntheticAssets(d, "doc_id", "text")
    val pairs = Multimodal.phashNearDupPairs(assets, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    // the identical triple must pair completely at hamming 0
    assert(Set((1L, 2L, 0), (1L, 5L, 0), (2L, 5L, 0)).subsetOf(pairs))
    assert(pairs.forall(_._3 <= 2))
    // exhaustive check: blocking found EVERY hamming<=2 pair
    val hashes = Multimodal.withPHash(assets)
      .select($"asset_id", $"phash").as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 2
    } yield (a, b, h)).toSet
    assert(pairs == brute)

    val funnel = Multimodal.assetDedupVsText(assets, d)
      .select("asset_id", "asset_kept", "text_kept", "kept_both")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    // asset pass keys raw bytes: 1 survives for {1,2,5}; 3 and 4 are
    // their own byte groups. text pass keys normalized text: 1
    // survives for {1,2,3,5} (3 normalizes into the group), 4 survives.
    assert(funnel(1L) == ((1L, 1, 1, 1)))
    assert(funnel(2L) == ((2L, 0, 0, 0)))
    assert(funnel(3L) == ((3L, 1, 0, 0))) // caught ONLY by the text pass
    assert(funnel(4L) == ((4L, 1, 1, 1)))
    assert(funnel(5L) == ((5L, 0, 0, 0)))
  }

  test("phash blocking: over-cap buckets are dropped BEFORE collection, " +
    "at-cap buckets pair completely") {
    // 5 byte-identical payloads share every chunk bucket (size 5)
    val d = (1L to 5L).map((_, "same payload")).toDF("doc_id", "text")
    val assets = Multimodal.syntheticAssets(d, "doc_id", "text")
    // cap below the bucket size: the size gate must drop the bucket in
    // the pre-collect count pass - no pairs survive
    assert(Multimodal.phashNearDupPairs(assets, maxHamming = 2,
      maxBucketSize = 4).count() == 0)
    // cap at the bucket size: all C(5,2)=10 hamming-0 pairs emerge
    val pairs = Multimodal.phashNearDupPairs(assets, maxHamming = 2,
      maxBucketSize = 5).as[(Long, Long, Int)].collect().toSet
    assert(pairs == (for { a <- 1L to 5L; b <- 1L to 5L if a < b }
      yield (a, b, 0)).toSet)
  }

  test("boilerplate chunks shared by >=2 docs are removed in order") {
    val d = Seq(
      (1L, "nav bar alpha beta"),  // chunk "nav bar" shared -> dropped
      (2L, "nav bar gamma delta"),
      (3L, "solo words only here"),
      (4L, ""),                    // no tokens -> 0 chunks, empty text
      (5L, "a b c")                // odd tail chunk "c" survives
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateChunks(d, chunkWords = 2, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "alpha beta", 2L, 1L),
      (2L, "gamma delta", 2L, 1L),
      (3L, "solo words only here", 2L, 0L),
      (4L, "", 0L, 0L),
      (5L, "a b c", 2L, 0L)))
  }

  test("dedup against reference drops normalized matches only") {
    val ref = Seq((100L, "The  Quick   Fox"), (101L, "unrelated")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick fox"),   // normalized match -> dropped
      (2L, "a new document")   // survives
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstReference(corpus, ref)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("prep pipeline: scrub -> filter -> dedup -> split -> sample") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    val d = Seq(
      (1L, "s", good + " see https://example.com/x now"),
      (2L, "s", good),              // dup pair: 2 kept (lowest id) ...
      (3L, "s", good.toUpperCase),  // ... 3 dropped (normalized match)
      (4L, "s", "too short")        // quality-dropped
    ).toDF("doc_id", "source", "text")
    val got = PrepPipeline.run(d)
      .select("doc_id", "split", "kept", "n_urls")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got(0)._4 == 1 && got(1)._4 == 0) // URL scrubbed and counted
    assert(got.forall(r => Set("train", "val", "test")(r._2)))
    assert(got.forall(_._3 == 1)) // no rates -> everything sampled in
  }

  test("knn join: all-cell probe equals brute force; self excluded") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.9f, 0.2f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Seq(0.5f, 0.5f, 0.0f, 0.0f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val centroids = Ann.hyperplanes(4, 3, seed = 5L)
    val queries = emb.filter($"vec_id" < 2).withColumnRenamed("vec_id", "q_id")
    val got = Ann.knnJoin(queries, emb, k = 3, centroids,
      nprobe = centroids.size, excludeSelf = true)
      .as[(Long, Long, Long)].collect().toSet
    // driver-side brute force over every candidate
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum)
      if (d == 0) 0.0 else ad.zip(bd).map { case (x, y) => x * y }.sum / d
    }
    val expect = (for {
      (qid, qv) <- vecs.take(2)
      ranked = vecs.filter(_._1 != qid)
        .sortBy { case (cid, cv) => (-cos(qv, cv), cid) }.take(3)
      ((cid, _), i) <- ranked.zipWithIndex
    } yield (qid, cid, (i + 1).toLong)).toSet
    assert(got == expect)
    // nprobe=1 returns a subset of each query's candidates, never more
    val probed = Ann.knnJoin(queries, emb, k = 3, centroids,
      nprobe = 1, excludeSelf = true)
      .as[(Long, Long, Long)].collect()
    assert(probed.groupBy(_._1).forall(_._2.length <= 3))
  }

  test("partitioned export: one file per partition value, round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft_export").toString
    val d = Seq(
      (1L, "web", "train"), (2L, "web", "train"), (3L, "web", "test"),
      (4L, "books", "train")
    ).toDF("doc_id", "source", "split")
    graft.llm.Export.writePartitioned(d, out)
    val back = spark.read.parquet(out)
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect().toSet
    assert(back == d.as[(Long, String, String)].collect().toSet)
    // one data file per (split, source) directory - small-files control
    for ((s, src) <- Seq(("train", "web"), ("train", "books"), ("test", "web"))) {
      val dir = new java.io.File(s"$out/split=$s/source=$src")
      assert(dir.isDirectory, s"$dir missing")
      val files = dir.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$dir has ${files.length} files")
    }
  }

  test("partitioned export: oversized value splits across parallel tasks") {
    val out = java.nio.file.Files.createTempDirectory("graft_export2").toString
    // 40 rows in (train, web) vs 2 in (test, books); target 10 rows/file
    // -> the big value must spread over ceil(40/10)=4 salt buckets
    // (multiple writer tasks), the small one must stay a single file.
    val rows = (1L to 40L).map(i => (i, "web", "train")) ++
      Seq((100L, "books", "test"), (101L, "books", "test"))
    val d = rows.toDF("doc_id", "source", "split")
    graft.llm.Export.writePartitioned(d, out, targetRowsPerFile = 10L)
    val back = spark.read.parquet(out)
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect().toSet
    assert(back == rows.toSet) // round-trips, nothing lost to the salt join
    def files(s: String, src: String) =
      new java.io.File(s"$out/split=$s/source=$src")
        .listFiles.filter(_.getName.endsWith(".parquet"))
    val big = files("train", "web")
    assert(big.length > 1 && big.length <= 4,
      s"oversized value wrote ${big.length} files, want 2..4")
    assert(files("test", "books").length == 1)
  }

  test("partitioned export: empty input writes an empty dataset cleanly") {
    val out = java.nio.file.Files.createTempDirectory("graft_export4").toString
    val d = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "split")
    graft.llm.Export.writePartitioned(d, out) // must not NPE on null sum
    assert(spark.read.schema(d.schema).parquet(out).count() == 0)
  }

  test("partitioned export: null partition value survives the salt join") {
    val out = java.nio.file.Files.createTempDirectory("graft_export3").toString
    val d = Seq((1L, Option("web"), "train"), (2L, None: Option[String], "train"))
      .toDF("doc_id", "source", "split")
    graft.llm.Export.writePartitioned(d, out)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("temperature resampling: smallest source keeps all, big ones thin") {
    // sources sized 40 / 10: alpha=0.5 -> rate_big = (40/10)^-0.5 = 0.5
    val rows = (1L to 40L).map(i => (i, "big", s"doc number $i words")) ++
      (41L to 50L).map(i => (i, "small", s"doc number $i words"))
    val d = rows.toDF("doc_id", "source", "text")
    val out = graft.llm.Splitting.temperatureSample(d, alpha = 0.5)
    val kept = out.filter($"kept" === 1).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(kept("small") == 10L) // rate 1.0: every row survives
    assert(kept("big") < 40L && kept("big") > 5L) // rate 0.5, hash-exact
    // determinism: identical on re-run
    val again = graft.llm.Splitting.temperatureSample(d, alpha = 0.5)
      .filter($"kept" === 1).count()
    assert(again == out.filter($"kept" === 1).count())
    // alpha=1 is the natural mixture: everything keeps
    val nat = graft.llm.Splitting.temperatureSample(d, alpha = 1.0)
    assert(nat.filter($"kept" === 1).count() == 50L)
    // null strata: excluded from n_min, rows kept at rate 1 - and an
    // all-null strata frame keeps everything instead of crashing
    val withNull = rows.map { case (i, s, t) =>
      (i, if (s == "small") null else s, t) }
      .toDF("doc_id", "source", "text")
    val nl = graft.llm.Splitting.temperatureSample(withNull, alpha = 0.5)
    assert(nl.filter($"source".isNull && $"kept" === 1).count() == 10L)
    assert(nl.filter($"source" === "big" && $"kept" === 1).count() == 40L)
    val allNull = rows.map { case (i, _, t) => (i, null: String, t) }
      .toDF("doc_id", "source", "text")
    assert(graft.llm.Splitting.temperatureSample(allNull)
      .filter($"kept" === 1).count() == 50L)
  }

  test("PQ assignment: picks the true nearest codeword per subspace") {
    // 2 subspaces x 2 codewords x 2 dims; vectors sit exactly on
    // codewords, so the nearest assignment is unambiguous
    val cbs = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),   // subspace 0
      Seq(Seq(-1.0, 0.0), Seq(0.0, -1.0))) // subspace 1
    val d = Seq(
      (1L, Seq(1.0f, 0.0f, -1.0f, 0.0f)),  // codes (0, 0)
      (2L, Seq(0.0f, 1.0f, 0.0f, -1.0f)),  // codes (1, 1)
      (3L, Seq(0.9f, 0.1f, 0.1f, -0.9f))   // codes (0, 1)
    ).toDF("vec_id", "embedding")
    val got = Ann.pqAssign(d, cbs)
      .select("vec_id", "pq_code_0", "pq_code_1")
      .as[(Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 0, 0), (2L, 1, 1), (3L, 0, 1)))
    // brute-force L2 check on the third vector, subspace 1
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(l2(Seq(0.1, -0.9), cbs(1)(1)) < l2(Seq(0.1, -0.9), cbs(1)(0)))
  }

  // shared brute-force helpers for the SemDeDup / prune tests: replicate
  // ivfAssign's argmax-over-unit-centroid-dots rule driver-side
  private def bruteCos(a: Seq[Float], b: Seq[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na * nb == 0) 0.0 else d / (na * nb)
  }
  private def bruteCell(v: Seq[Float], centroids: Seq[Seq[Double]]): Int = {
    val sims = Ann.unitCentroids(centroids)
      .map(c => c.zip(v).map { case (x, y) => x * y.toDouble }.sum)
    sims.indexOf(sims.max)
  }

  test("semantic dedup: keeps lowest id per in-cell near-dup set, non-transitive") {
    val rnd = new scala.util.Random(23)
    val centroids = Ann.hyperplanes(16, 4, seed = 11L)
    // 12 tight clusters of 4 near-identical vectors + 20 isolated
    val rows = (for {
      c <- 0 until 12
      centre = Seq.fill(16)(rnd.nextGaussian())
      v <- 0 until 4
    } yield ((c * 4 + v).toLong,
      centre.map(x => (x + rnd.nextGaussian() * 0.01).toFloat))) ++
      (0 until 20).map(i => ((100 + i).toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = rows.toDF("vec_id", "embedding")

    // brute-force expected: drop iff a lower-id same-cell row has cos >= t
    val raw = rows.sortBy(_._1)
    val cells = raw.map { case (id, v) => id -> bruteCell(v, centroids) }.toMap
    val expectDropped = (for {
      (ia, va) <- raw; (ib, vb) <- raw
      if ib < ia && cells(ia) == cells(ib) && bruteCos(va, vb) >= 0.9
    } yield ia).toSet
    assert(expectDropped.size >= 12 * 2) // clusters rarely straddle cells

    val got = Ann.semanticDedup(vecs, centroids, threshold = 0.9)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(got.size == raw.size)
    for ((id, _) <- raw)
      assert(got(id) == (if (expectDropped(id)) 0 else 1), s"vec $id")

    // null embeddings are kept with a null cell, never dropped or lost
    val withNull = vecs.unionByName(
      Seq((999L, null: Seq[Float])).toDF("vec_id", "embedding"))
    val nullRow = Ann.semanticDedup(withNull, centroids, threshold = 0.9)
      .filter($"vec_id" === 999L)
      .select($"ivf_cell".isNull, $"kept").as[(Boolean, Int)].collect()
    assert(nullRow.toSeq == Seq((true, 1)))

    // degenerate cell: thousands of identical vectors collapse to one
    // survivor without materializing the O(n^2) pair set (semi join)
    val clone = Seq.fill(16)(0.5f)
    val clones = (0L until 3000L).map(i => (i, clone)).toDF("vec_id", "embedding")
    val deduped = Ann.semanticDedup(clones, centroids, threshold = 0.9)
    assert(deduped.filter($"kept" === 1).select($"vec_id")
      .as[Long].collect().toSeq == Seq(0L))
    val plan = deduped.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(800))
  }

  test("prototypicality prune: drops floor(n*f) most-central rows per cell") {
    val rnd = new scala.util.Random(31)
    val centroids = Ann.hyperplanes(8, 4, seed = 11L)
    // graded noise around each centroid so similarity ranks are spread
    val rows = (for {
      (c, ci) <- centroids.zipWithIndex
      v <- 0 until 25
    } yield ((ci * 25 + v).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.05 * (v + 1)).toFloat)))
    val vecs = rows.toDF("vec_id", "embedding")

    // brute-force: per cell, rank by (cos-to-own-centroid desc, id asc)
    val units = Ann.unitCentroids(centroids)
    val scored = rows.map { case (id, v) =>
      val cell = bruteCell(v, centroids)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val sim = if (nrm == 0) 0.0
        else units(cell).zip(v).map { case (x, y) => x * y.toDouble }.sum / nrm
      (id, cell, sim)
    }
    val expectDropped = scored.groupBy(_._2).flatMap { case (_, members) =>
      val k = math.floor(members.size * 0.25).toInt
      members.sortBy { case (id, _, sim) => (-sim, id) }.take(k).map(_._1)
    }.toSet

    val got = Ann.prototypicalityPrune(vecs, centroids, fraction = 0.25)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(got.size == rows.size)
    for ((id, _, _) <- scored)
      assert(got(id) == (if (expectDropped(id)) 0 else 1), s"vec $id")
    // fraction 0 keeps everything
    assert(Ann.prototypicalityPrune(vecs, centroids, fraction = 0.0)
      .filter($"kept" === 0).count() == 0)
  }

  test("leakage-safe split: clusters move as one; singletons match assignSplit") {
    val docs = (1L to 40L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    // two clusters (1-2-3 chained, 10-11) + everything else isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = graft.llm.Splitting.leakageSafeSplit(docs, pairs)
      .select("doc_id", "split_bucket", "split")
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 40)
    // all cluster members share the assignment, keyed by min member hash
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L))
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectKey = Seq(1L, 2L, 3L).map(i => h(s"document body number $i")).min
    assert(got(1L)._1 == expectKey.take(2))
    // isolated docs reduce to the per-doc assignSplit bucket
    val solo = graft.llm.Splitting.assignSplit(docs.filter($"doc_id" >= 20))
      .select("doc_id", "split_bucket", "split")
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (i <- 20L to 40L) assert(got(i) == solo(i), s"doc $i")
    // a null-text singleton lands in test instead of crashing
    val withNull = docs.unionByName(
      Seq((99L, null: String)).toDF("doc_id", "text"))
    val nullRow = graft.llm.Splitting.leakageSafeSplit(withNull, pairs)
      .filter($"doc_id" === 99L).select($"split").as[String].collect()
    assert(nullRow.toSeq == Seq("test"))
  }

  test("semantic contamination screen: flags near-copies of bench rows only") {
    val rnd = new scala.util.Random(41)
    val centroids = Ann.hyperplanes(16, 4, seed = 11L)
    val bench = (0 until 5).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    // corpus: a near-copy of each bench row + 30 unrelated randoms
    val copies = bench.map { case (i, v) =>
      (100 + i, v.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val noise = (0 until 30).map(i =>
      ((200 + i).toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = (copies ++ noise).toDF("vec_id", "embedding")
    val got = graft.llm.Contamination.semanticScreen(
      corpus, bench.toDF("vec_id", "embedding"), centroids, threshold = 0.9)
      .as[(Long, Int)].collect().toMap
    assert(got.size == 35)
    // every near-copy flagged (its bench twin shares the top-1 cell)
    for (i <- 100L until 105L) assert(got(i) == 1, s"copy $i")
    // unrelated 16-dim gaussians essentially never hit cosine 0.9
    for (i <- 200L until 230L) assert(got(i) == 0, s"noise $i")
    // null corpus embeddings screen clean instead of crashing
    val withNull = corpus.unionByName(
      Seq((999L, null: Seq[Float])).toDF("vec_id", "embedding"))
    assert(graft.llm.Contamination.semanticScreen(withNull,
      bench.toDF("vec_id", "embedding"), centroids, threshold = 0.9)
      .filter($"vec_id" === 999L).select($"contaminated")
      .as[Int].collect().toSeq == Seq(0))
  }

  test("chunk packing: spans tile fixed-size sequences exactly") {
    val docs = Seq(
      ("s1", 1L, 100), ("s1", 2L, 0), ("s1", 3L, 700), ("s1", 4L, 56),
      ("s1", 5L, 300), ("s2", 6L, 256), ("s2", 7L, 1), ("s2", 8L, 255)
    ).toDF("source", "doc_id", "n_tokens")
    val got = graft.llm.Packing.assignChunks(docs, seqLen = 256)
      .select("source", "doc_id", "chunk_id", "begin_off", "end_off")
      .as[(String, Long, Long, Long, Long)].collect().toSeq

    // brute-force: running offset per stratum, spans per 256-token cut
    val expect = Seq(
      ("s1", Seq(1L -> 100, 3L -> 700, 4L -> 56, 5L -> 300)),
      ("s2", Seq(6L -> 256, 7L -> 1, 8L -> 255))).flatMap { case (src, ds) =>
      var off = 0L
      ds.flatMap { case (id, n) =>
        val start = off; val end = off + n; off = end
        (start / 256 to (end - 1) / 256).map { ch =>
          (src, id, ch,
            math.max(start - ch * 256, 0L), math.min(end - ch * 256, 256L))
        }
      }
    }
    assert(got.toSet == expect.toSet)
    // zero-token doc emits nothing
    assert(!got.exists(_._2 == 2L))
    // every span is a valid, non-empty in-chunk range
    for ((_, _, _, b, e) <- got) assert(b >= 0 && b < e && e <= 256)
    // per doc, span lengths sum to the doc's tokens
    val byDoc = got.groupBy(_._2).view.mapValues(_.map(r => r._5 - r._4).sum)
    assert(byDoc(3L) == 700 && byDoc(6L) == 256 && byDoc(8L) == 255)
  }

  test("packing: shard count never changes assignments (two-level " +
    "prefix sum is boundary-invariant)") {
    val rnd = new scala.util.Random(11)
    val d = (1L to 300L).map(i =>
      (i, s"s${i % 4}", (rnd.nextInt(400) + 1).toLong))
      .toDF("doc_id", "source", "n_tokens")
    def binsAt(s: Int) = graft.llm.Packing
      .assignBins(d, budgetTokens = 512, numShards = s)
      .select("doc_id", "pack_bin").as[(Long, Long)].collect().toMap
    def chunksAt(s: Int) = graft.llm.Packing
      .assignChunks(d, seqLen = 256, numShards = s)
      .select("doc_id", "chunk_id", "begin_off", "end_off")
      .as[(Long, Long, Long, Long)].collect().toSet
    // 1 shard = the sequential ground truth; more shards than strata
    // rows exercises empty and partial range slices
    val b1 = binsAt(1)
    assert(binsAt(7) == b1 && binsAt(64) == b1)
    val c1 = chunksAt(1)
    assert(chunksAt(7) == c1 && chunksAt(64) == c1)
  }

  test("BPE pair counts: frequency-weighted adjacent char pairs") {
    // vocabulary: "aba" x3, "ab" x1, "x" x1 (too short -> no pairs)
    // pairs: ab (3 from aba + 1 from ab = 4), ba (3)
    val d = Seq((1L, "aba ab aba x"), (2L, "aba"), (3L, null: String))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(d, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 4L), ("ba", 3L)))
    // deterministic tie order: equal counts sort by pair asc
    val tied = TextAnalysis.bpePairCounts(
      Seq((1L, "zz yy")).toDF("doc_id", "text"), k = 10)
      .as[(String, Long)].collect().toSeq
    assert(tied == Seq(("yy", 1L), ("zz", 1L)))
  }

  test("text operators tolerate null text") {
    val d = Seq((1L, "src", Option("the quick fox jumps high")),
      (2L, "src", None: Option[String]))
      .toDF("doc_id", "source", "text")
    // null text must not throw anywhere; rows surface with null/zero
    // features, never silently crash the job
    assert(TextAnalysis.withQualityFilter(d).count() == 2)
    assert(TextAnalysis.withScrubbedText(d).count() == 2)
    assert(TextAnalysis.withLangId(d).count() == 2)
    assert(TextAnalysis.withOovRate(d).count() == 2)
    assert(Dedup.removeBoilerplateChunks(d).count() == 2)
    assert(TextAnalysis.topBigrams(d, 5).count() >= 1)
    assert(TextAnalysis.sourceQualityReport(d).count() == 1)
  }

  test("md5-minhash LSH: subset of exact pairs, identical docs certain") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base),
      (2L, base + " extra"), // near dup of 1
      (3L, "completely different words entirely unrelated content here none"),
      (4L, base)             // exact dup of 1: all bands MUST collide
    ).toDF("doc_id", "text")
    val got = Dedup.minhashMd5Pairs(d)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    val exact = Dedup.jaccardPairsExact(d, threshold = 0.5,
      maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(got.subsetOf(exact)) // exact verify: no false positives ever
    assert(got.contains((1L, 4L))) // identical signatures share all bands
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // determinism: md5 permutations have no seed, re-run is identical
    val again = Dedup.minhashMd5Pairs(d)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(again == got)
  }

  test("md5-simhash: identical docs collide at hamming 0, unrelated don't") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base),
      (2L, base + " extra"), // near dup of 1
      (3L, "completely different words entirely unrelated content here none"),
      (4L, base),            // exact dup of 1: identical signature
      (5L, "")               // tokenless: all-zero signature, alone here
    ).toDF("doc_id", "text")
    val got = Dedup.simhashMd5Pairs(d)
      .as[(Long, Long, Int)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(got.filter(r => Set((r._1, r._2)) == Set((1L, 4L)))
      .forall(_._3 == 0))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // every reported pair respects the radius; determinism on re-run
    assert(got.forall(_._3 <= 3))
    val again = Dedup.simhashMd5Pairs(d)
      .as[(Long, Long, Int)].collect().toSet
    assert(again == got.toSet)
  }

  test("md5-simhash native signature matches the hex-digit derivation") {
    // single-token doc: the signature IS the token's md5 bit draw
    // (1 token -> 2*s_j > 1 iff bit j set). Expected derived through
    // Spark's own md5/conv, the same arithmetic the DuckDB oracle uses.
    for (tok <- Seq("fox", "a_1", "z")) {
      val expected = spark.sql(
        s"""SELECT concat_ws('', transform(sequence(0, 63), j ->
              CASE WHEN floor(conv(substr(md5(cast('$tok' as binary)),
                     CAST(j / 4 AS INT) + 1, 1), 16, 10)
                   / pow(2.0D, 3 - j % 4)) % 2 = 1
              THEN '1' ELSE '0' END))""").as[String].head()
      val got = Seq((1L, tok)).toDF("doc_id", "text")
        .select(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SimHashMd5Text(
            org.apache.spark.sql.GraftSqlBridge.expression(
              lower(trim($"text"))))).as("sig"))
        .as[String].head()
      assert(got == expected, s"token $tok")
      assert(got.length == 64 && got.forall(c => c == '0' || c == '1'))
    }
    // the native tokenizer lowercases ASCII inline: raw mixed-case text
    // produces the same signature as the pre-lowercased column
    val raw = Seq((1L, "The QUICK brown_FOX 42")).toDF("doc_id", "text")
    def sig(c: org.apache.spark.sql.Column) =
      raw.select(org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SimHashMd5Text(
          org.apache.spark.sql.GraftSqlBridge.expression(c))).as("s"))
        .as[String].head()
    assert(sig($"text") == sig(lower($"text")))
  }

  test("dedup e2e: md5-minhash pairs -> components -> min-id survives") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (10L, base), (11L, base), (12L, base), // one cluster: keep 10
      (20L, "totally unrelated content with different words throughout here")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupSurvivors(d, Dedup.minhashMd5Pairs(d))
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 20L))
  }

  test("commonness score: mean token df, exact ints, empty docs zero") {
    val d = Seq(
      (1L, "aa bb"),   // aa in docs 1,2 (df 2); bb only here (df 1)
      (2L, "aa aa"),   // both tokens df 2
      (3L, "")         // no tokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withCommonnessScore(d)
      .select("doc_id", "n_tokens", "sum_df", "mean_df")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 2L, 3L, 1.5)))
    assert(got(1) == ((2L, 2L, 4L, 2.0)))
    // "" splits to [""] then filters empty -> no tokens
    assert(got(2) == ((3L, 0L, 0L, 0.0)))
  }

  test("review regressions: defaultRate honored, dup vocab, null entity") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    // defaultRate must reach sampleStratified for strata not in `rates`
    val docs = Seq((1L, "a", good), (2L, "b", good + " more")).toDF("doc_id", "source", "text")
    val kept = PrepPipeline.run(docs, rates = Map("a" -> 1.0), defaultRate = 0.0)
      .select("doc_id", "kept").as[(Long, Int)].collect().toMap
    assert(kept(1L) == 1 && kept(2L) == 0)
    // duplicate terms in a caller-supplied vocab must not multiply rows
    val d = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val dupVocab = Seq("the", "the").toDF("term")
    val oov = TextAnalysis.withOovRate(d, vocab = Some(dupVocab))
      .select("n_tokens", "n_oov").as[(Long, Long)].head()
    assert(oov == ((3L, 1L)))
    // null-entity rows survive outlier attachment with null flags
    val ev = Seq((1L, Some(7L), 1.0), (2L, None: Option[Long], 2.0))
      .toDF("event_id", "user_id", "value")
    val out = Features.withOutlierFlags(ev)
      .select("event_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L))
    // a rate epsilon below 1.0 must keep everything (the rounded cutoff
    // 2^32 would render as 9-char hex and invert most keep decisions)
    val eps = Splitting.sampleStratified(
      (1 to 64).map(i => (i.toLong, "w", s"t$i")).toDF("doc_id", "source", "text"),
      Map("w" -> (1.0 - 1e-13)))
      .agg(sum($"kept")).as[Long].head()
    assert(eps == 64L)
  }

  test("bigram top-k: adjacent pairs, total order, short docs empty") {
    val d = Seq(
      (1L, "a b c a b"),  // bigrams: "a b" x2, "b c", "c a"
      (2L, "a b"),        // "a b"
      (3L, "solo"),       // no bigrams
      (4L, "")            // no tokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topBigrams(d, 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 3L), ("b c", 1L), ("c a", 1L)))
  }

  test("curation keeps top-k per stratum with deterministic ties") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    val d = Seq(
      (1L, "a", good), (2L, "a", good), (3L, "a", "9999 9999 9999"),
      (4L, "b", good)
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.curateTopK(d, 2)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    // docs 1,2 tie on score -> doc_id ascending breaks the tie
    assert(got == Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 4L, 1L)))
  }

  test("rolling features: (t-h, t] frames, tie peers, gap and seq") {
    val d = Seq(
      (1L, 1L, 0L, 5.0), (2L, 1L, 100L, 3.0), (3L, 1L, 700L, 9.0),
      (4L, 2L, 50L, 1.0),
      (10L, 3L, 500L, 2.0), (11L, 3L, 500L, 4.0) // tie in t
    ).toDF("event_id", "user_id", "t", "value")
    val got = Features.rollingFeatures(d, horizonsSec = Seq(600L))
      .select("event_id", "n_600s", "min_v_600s", "max_v_600s", "gap_s", "seq_n")
      .as[(Long, Long, Double, Double, Option[Long], Int)]
      .collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1L, 5.0, 5.0, None, 1)))
    assert(got(1) == ((2L, 2L, 3.0, 5.0, Some(100L), 2)))
    // (700-600, 700] excludes the t=100 event: the frame is half-open
    assert(got(2) == ((3L, 1L, 9.0, 9.0, Some(600L), 3)))
    assert(got(3) == ((4L, 1L, 1.0, 1.0, None, 1)))
    // tied timestamps are RANGE peers: both rows see both values
    assert(got(4) == ((10L, 2L, 2.0, 4.0, None, 1)))
    assert(got(5) == ((11L, 2L, 2.0, 4.0, Some(0L), 2)))
  }

  test("outlier flags: exact per-entity quantile; approx tracks exact") {
    val d = (1 to 100).map(i => (i.toLong, 1L, i.toDouble)) ++
      Seq((101L, 2L, 5.0), (102L, 2L, 50.0))
    val df = d.toDF("event_id", "user_id", "value")
    val got = Features.withOutlierFlags(df, q = 0.9)
      .select("event_id", "p_q", "is_outlier")
      .as[(Long, Double, Int)].collect().map(r => r._1 -> r).toMap
    // user 1: values 1..100, exact p90 = 90.1 (interpolated) -> 91..100 flagged
    assert(math.abs(got(1L)._2 - 90.1) < 1e-9)
    assert((1 to 100).count(i => got(i.toLong)._3 == 1) == 10)
    // user 2: p90 between 5 and 50 -> only the 50 flagged
    assert(got(101L)._3 == 0 && got(102L)._3 == 1)
    // approx path: same schema, p_q within sketch error of exact
    val approx = Features.withOutlierFlags(df, q = 0.9, exact = false)
      .filter($"user_id" === 1L).select("p_q").as[Double].head()
    assert(approx >= 89.0 && approx <= 92.0)
  }

  test("source quality report: counts, volumes, dominant drop reason") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    val d = Seq(
      (1L, "a", good),
      (2L, "a", "too short"),
      (3L, "a", "also short"),
      (4L, "a", Seq.fill(20)("zzzz").mkString(" ")), // low_stopword x1
      (5L, "b", good)
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceQualityReport(d)
      .as[(String, Long, Long, Double, Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    val a = got(0)
    // source a: 4 docs, 1 kept; too_few_words (2) beats low_stopword (1)
    assert(a._1 == "a" && a._2 == 4L && a._3 == 1L && a._4 == 0.25)
    assert(a._5 == (26L + 2 + 2 + 20) && a._7 == Some("too_few_words"))
    val b = got(1)
    assert(b._1 == "b" && b._2 == 1L && b._3 == 1L && b._4 == 1.0 &&
      b._7 == None)
  }

  test("recall@k: all-cell probe scores 1.0, narrow probe never exceeds") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.9f, 0.2f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Seq(0.5f, 0.5f, 0.0f, 0.0f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val centroids = Ann.hyperplanes(4, 3, seed = 5L)
    val queries = emb.filter($"vec_id" < 2).withColumnRenamed("vec_id", "q_id")
    // probing every cell makes knnJoin exact, so recall must be 1.0
    val full = Ann.recallAtK(queries, emb, k = 3, centroids,
      nprobe = centroids.size, excludeSelf = true)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(full == Seq((0L, 3L, 1.0), (1L, 3L, 1.0)))
    // a 1-cell probe can only lose candidates: recall <= 1, one row
    // per query either way
    val narrow = Ann.recallAtK(queries, emb, k = 3, centroids,
      nprobe = 1, excludeSelf = true)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(narrow.map(_._1) == Seq(0L, 1L))
    assert(narrow.forall(r => r._2 >= 0L && r._2 <= 3L && r._3 == r._2 / 3.0))
  }

  test("mixture sample: shortest-falling stratum keeps all, recipe-less drops") {
    // natural 40/10 vs targets big=0.3, small=0.7: ratio small is
    // larger, so small keeps all and big thins to (0.3/40)/(0.7/10)
    val rows = (1L to 40L).map(i => (i, "big", s"doc number $i words")) ++
      (41L to 50L).map(i => (i, "small", s"doc number $i words")) ++
      (51L to 60L).map(i => (i, "mid", s"doc number $i words"))
    val d = rows.toDF("doc_id", "source", "text")
    val out = graft.llm.Splitting.mixtureSample(d,
      Map("big" -> 0.3, "small" -> 0.7))
    val kept = out.filter($"kept" === 1).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(kept("small") == 10L)            // rate 1.0 -> 'g' sentinel
    assert(kept("big") < 40L)               // rate ~0.107, hash-exact
    assert(!kept.contains("mid"))           // not in the recipe: dropped
    // determinism and null-stratum exclusion
    val again = graft.llm.Splitting.mixtureSample(d,
      Map("big" -> 0.3, "small" -> 0.7)).filter($"kept" === 1).count()
    assert(again == out.filter($"kept" === 1).count())
    val withNull = rows.map { case (i, s, t) =>
      (i, if (s == "mid") null else s, t) }.toDF("doc_id", "source", "text")
    assert(graft.llm.Splitting.mixtureSample(withNull,
        Map("big" -> 0.3, "small" -> 0.7))
      .filter($"source".isNull && $"kept" === 1).count() == 0L)
    // a recipe that matches NO stratum in the data keeps nothing
    assert(graft.llm.Splitting.mixtureSample(d, Map("ghost" -> 1.0))
      .filter($"kept" === 1).count() == 0L)
    intercept[IllegalArgumentException] {
      graft.llm.Splitting.mixtureSample(d, Map("big" -> -0.1))
    }
  }

  test("token-budget select: greedy prefix in score order, straddler " +
    "kept, no single-task global window") {
    // scores force the order 30, 10, 20 (desc); tokens 40+40+40 against
    // budget 100: 30 (cum 0) and 10 (cum 40) kept, 20 (cum 80) kept as
    // the straddler (80 < 100), 99 (cum 120) dropped
    val d = Seq(
      (10L, 40L, 0.8), (20L, 40L, 0.5), (30L, 40L, 0.9), (99L, 40L, 0.1)
    ).toDF("doc_id", "n_tokens", "score")
    val out = graft.llm.Splitting.tokenBudgetSelect(d, budget = 100L,
      scoreCol = "score", tokenCol = "n_tokens")
    val got = out.select("doc_id", "cum_before")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(30L -> 0L, 10L -> 40L, 20L -> 80L))
    // ties on score break by id: equal-score docs select low ids first
    val tied = (1L to 6L).map(i => (i, 10L, 0.5)).toDF("doc_id", "n_tokens", "score")
    val keptTied = graft.llm.Splitting.tokenBudgetSelect(tied, budget = 30L,
      scoreCol = "score", tokenCol = "n_tokens")
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied == Set(1L, 2L, 3L))
    // the greedy order must be sharded, never one global window task
    val plan = out.queryExecution.executedPlan.toString
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty &&
      winLines.forall(l => l.contains("__pfx_shard")), winLines.mkString("\n"))
    // a null score must fail loudly, never silently rank best
    val withNull = Seq((1L, java.lang.Long.valueOf(10L), java.lang.Double.valueOf(0.5)),
      (2L, java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Double]))
      .toDF("doc_id", "n_tokens", "score")
    val err = intercept[Exception] {
      graft.llm.Splitting.tokenBudgetSelect(withNull, budget = 100L,
        scoreCol = "score", tokenCol = "n_tokens").collect()
    }
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(err).exists(_.contains("null score/tokens")), err)
  }

  test("token-budget select equals the naive global-window greedy on " +
    "random frames") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(5, 41)) {
      val rnd = new scala.util.Random(seed)
      // coarse scores force ties; tokens vary; budget cuts mid-corpus
      val d = (1L to 300L).map(i =>
        (i, (rnd.nextInt(30) + 1).toLong, (rnd.nextInt(5) * 0.25)))
        .toDF("doc_id", "n_tokens", "score")
      val w = Window.orderBy($"score".desc, $"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = d
        .withColumn("cum_before", sum($"n_tokens").over(w) - $"n_tokens")
        .filter($"cum_before" < 1000)
        .select("doc_id", "cum_before")
        .as[(Long, Long)].collect().toSet
      val got = graft.llm.Splitting.tokenBudgetSelect(d, budget = 1000L,
          scoreCol = "score", tokenCol = "n_tokens")
        .select("doc_id", "cum_before")
        .as[(Long, Long)].collect().toSet
      assert(got == naive, s"seed=$seed")
    }
  }

  test("sharded prefix sum is run-stable in the sparse-boundary-sample " +
    "regime (many rows per shard, repeated executions)") {
    // regression for the sf0.1 parity drift: cumBefore's range exchange
    // feeds TWO consumers, and without the pinned materialization each
    // could sample different range boundaries (RangePartitioner seeds
    // by RDD id), mis-joining shard offsets - invisible when the
    // boundary sample covers the data (small frames / many shards),
    // near-certain at thousands of rows over few shards (observed:
    // 231..266 rows across 15 runs of a 261-row result). 5000 rows,
    // 4 shards, repeated runs, exact agreement with the naive window.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    val d = (1L to 5000L).map(i =>
        (i, s"s${rnd.nextInt(20)}", (rnd.nextInt(30) + 1).toLong,
          rnd.nextInt(50) * 0.02))
      .toDF("doc_id", "source", "n_tokens", "score")
    val w = Window.partitionBy($"source")
      .orderBy($"score".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = d
      .withColumn("cum_before", sum($"n_tokens").over(w) - $"n_tokens")
      .filter($"cum_before" < 300L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toSet
    // the reproducing plan shape is the Verify one: coalesce(1) + a
    // full-column parquet write (a bare collect planned differently and
    // never tripped pre-fix)
    val out = java.nio.file.Files.createTempDirectory("pfx_stable").toString
    for (run <- 1 to 3) {
      graft.llm.Splitting.tokenBudgetSelectPerStratum(d,
          budgets = Map("s0" -> 300L), scoreCol = "score",
          tokenCol = "n_tokens", strataCol = "source",
          defaultBudget = 300L, numShards = 4)
        .coalesce(1).write.mode("overwrite").parquet(out)
      val got = spark.read.parquet(out)
        .select("doc_id", "cum_before").as[(Long, Long)].collect().toSet
      assert(got == naive, s"run $run diverged: ${got.size} vs ${naive.size}")
    }
  }

  test("per-stratum token budgets equal naive per-stratum windows; " +
    "default fallback and zero-default drop hold") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val d = (1L to 300L).map(i =>
        (i, s"s${rnd.nextInt(4)}", (rnd.nextInt(30) + 1).toLong,
          rnd.nextInt(5) * 0.25))
        .toDF("doc_id", "source", "n_tokens", "score")
      val budgets = Map("s0" -> 400L, "s1" -> 150L)
      val w = Window.partitionBy($"source")
        .orderBy($"score".desc, $"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = d
        .withColumn("cum_before", sum($"n_tokens").over(w) - $"n_tokens")
        .filter($"cum_before" < when($"source" === "s0", 400L)
          .when($"source" === "s1", 150L).otherwise(100L))
        .select("doc_id", "cum_before").as[(Long, Long)].collect().toSet
      val got = graft.llm.Splitting.tokenBudgetSelectPerStratum(d, budgets,
          scoreCol = "score", tokenCol = "n_tokens", strataCol = "source",
          defaultBudget = 100L)
        .select("doc_id", "cum_before").as[(Long, Long)].collect().toSet
      assert(got == naive, s"seed=$seed")
      // defaultBudget = 0: out-of-recipe strata drop entirely
      val onlyNamed = graft.llm.Splitting.tokenBudgetSelectPerStratum(d,
          budgets, scoreCol = "score", tokenCol = "n_tokens",
          strataCol = "source")
        .select("source").distinct().as[String].collect().toSet
      assert(onlyNamed.subsetOf(Set("s0", "s1")), s"seed=$seed")
    }
    intercept[IllegalArgumentException] {
      graft.llm.Splitting.tokenBudgetSelectPerStratum(
        Seq((1L, "a", 1L, 0.5)).toDF("doc_id", "source", "n_tokens", "score"),
        Map("a" -> 0L), "score", "n_tokens", "source")
    }
  }

  test("mixture repeat: reference keeps one copy, under-represented repeats") {
    // natural 40/10 vs targets big=0.3, small=0.7: ratio_big = 0.3/40 is
    // the positive minimum -> big is the keep-once reference (rate 1.0
    // exactly: base 1, frac 0); small's rate = (0.7/10)/(0.3/40) =
    // 9.333333 -> 9 or 10 copies by hash fraction; mid is out of recipe
    val rows = (1L to 40L).map(i => (i, "big", s"doc number $i words")) ++
      (41L to 50L).map(i => (i, "small", s"doc number $i words")) ++
      (51L to 60L).map(i => (i, "mid", s"doc number $i words"))
    val d = rows.toDF("doc_id", "source", "text")
    val out = graft.llm.Splitting.mixtureRepeat(d,
      Map("big" -> 0.3, "small" -> 0.7))
    val bySource = out.groupBy($"source")
      .agg(min($"copies").as("lo"), max($"copies").as("hi"),
        sum($"copies").as("total"))
      .as[(String, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(bySource("big") == ((1, 1, 40L)))     // exact-integer rate
    assert(bySource("mid") == ((0, 0, 0L)))      // not in the recipe
    val (slo, shi, stot) = bySource("small")
    assert(slo >= 9 && shi <= 10)                // floor(9.333333) + {0,1}
    assert(stot >= 90L && stot <= 100L)          // expected ~93.3
    // determinism: copies are a pure content function
    val again = graft.llm.Splitting.mixtureRepeat(d,
      Map("big" -> 0.3, "small" -> 0.7))
      .agg(sum($"copies")).as[Long].head()
    assert(again == 40L + stot)
    // null stratum and a recipe matching nothing in the data: 0 copies
    val withNull = rows.map { case (i, s, t) =>
      (i, if (s == "mid") null else s, t) }.toDF("doc_id", "source", "text")
    assert(graft.llm.Splitting.mixtureRepeat(withNull,
        Map("big" -> 0.3, "small" -> 0.7))
      .filter($"source".isNull && $"copies" =!= 0).count() == 0L)
    assert(graft.llm.Splitting.mixtureRepeat(d, Map("ghost" -> 1.0))
      .filter($"copies" =!= 0).count() == 0L)
    // maxRate clamps a pathological recipe: 1-row stratum targeted huge
    val clamp = graft.llm.Splitting.mixtureRepeat(d,
      Map("big" -> 0.001, "small" -> 0.999), maxRate = 8.0)
      .filter($"source" === "small")
      .agg(max($"copies")).as[Int].head()
    assert(clamp <= 8)
    // null content in an in-recipe stratum: base copies, never null -
    // big's rate is exactly 1.0 here, so the null-text doc keeps 1 copy
    val withNullText = (rows :+ ((61L, "big", null: String)))
      .toDF("doc_id", "source", "text")
    val nullCopies = graft.llm.Splitting.mixtureRepeat(withNullText,
      Map("big" -> 0.3, "small" -> 0.7))
      .filter($"doc_id" === 61L).select($"copies").as[Int].head()
    assert(nullCopies == 1)
    intercept[IllegalArgumentException] {
      graft.llm.Splitting.mixtureRepeat(d, Map("big" -> -0.1))
    }
    // realization: exactly `copies` rows per doc, 1-indexed; copies=0
    // rows emit NOTHING (the raw explode(sequence(1, 0)) would emit 2)
    val realized = graft.llm.Splitting.realizeCopies(out)
    assert(realized.count() == 40L + stot)
    assert(realized.filter($"source" === "mid").count() == 0L)
    val perDoc = realized.filter($"source" === "small")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"), max($"copy_idx").as("mx"))
      .filter($"n" =!= $"mx" || $"n" < 9 || $"n" > 10).count()
    assert(perDoc == 0L)
  }

  test("shuffle order: a deterministic permutation, salt reshuffles") {
    val d = (1L to 200L).map(i => (i, s"doc number $i words"))
      .toDF("doc_id", "text")
    val out = graft.llm.Splitting.shuffleOrder(d)
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, String, Long)].collect().toSeq
    // every row has a coordinate; (shard, pos) is a bijection with
    // contiguous per-shard positions starting at 1
    assert(out.length == 200)
    assert(out.map(r => (r._2, r._3)).distinct.length == 200)
    out.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted == (1L to rows.length).toSeq)
    }
    // re-run identical; new salt is a different permutation
    val again = graft.llm.Splitting.shuffleOrder(d)
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, String, Long)].collect().toSeq
    assert(again.sortBy(_._1) == out.sortBy(_._1))
    val other = graft.llm.Splitting.shuffleOrder(d, salt = "shuffle-v2")
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, String, Long)].collect().toSeq
    assert(other.sortBy(_._1) != out.sortBy(_._1))
    // null text: null shard, ranked by id among themselves
    val withNull = Seq((1L, "alpha"), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    val nl = graft.llm.Splitting.shuffleOrder(withNull)
      .filter($"shard".isNull).select($"doc_id", $"pos")
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(nl == Seq((2L, 1L), (3L, 2L)))
  }

  test("bpe training loop: hand-computed merges, overlap order, early stop") {
    // vocab aaab:3, ab:2. Round 1: pairs (a,a)=6 (two per 'aaab'),
    // (a,b)=5 -> merge (a,a). Left-to-right: 'aaab' -> [aa, a, b].
    // Round 2: (aa,a)=3, (a,b)=5 -> merge (a,b) -> [aa, ab] / [ab].
    // Round 3: (aa,ab)=3 -> merge. Round 4: no pairs -> early stop.
    val d = Seq((1L, "aaab aaab aaab ab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(d, rounds = 5)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1, "a", "a", 6L),
      (2, "a", "b", 5L),
      (3, "aa", "ab", 3L)))
    // tie on n: (l asc, r asc) breaks it deterministically
    val tie = Seq((1L, "xy yx")).toDF("doc_id", "text")
    val first = TextAnalysis.bpeTrain(tie, rounds = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(first == Seq((1, "x", "y", 1L)))
  }

  test("bpe encode: round-trips trained merges, vocab ids, empty docs") {
    // train on the hand-computed corpus: merges (a,a), (a,b), (aa,ab)
    // (see the training test above); the induced vocabulary is chars
    // a=0, b=1 then merge products aa=2, ab=3, aaab=4
    val corpus = Seq((1L, "aaab aaab aaab ab ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, rounds = 5)
      .orderBy($"round")
      .as[(Int, String, String, Long)].collect().toSeq
      .map { case (_, l, r, _) => (l, r) }
    val docs = Seq(
      (1L, "aaab aaab aaab ab ab"), // -> [aaab]x3 ++ [ab]x2 = [4,4,4,3,3]
      (2L, "ba ab"),                // ba never merges -> [b, a, ab]
      (3L, null: String),           // no words: empty ids, n_tokens 0
      (4L, "aab")                   // [aa, b]: merge 1 applies, 2 cannot
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, merges)
      .orderBy($"doc_id")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    assert(got == Seq(
      (1L, 5, Seq(4, 4, 4, 3, 3)),
      (2L, 3, Seq(1, 0, 3)),
      (3L, 0, Seq()),
      (4L, 2, Seq(2, 1))))
    // encode(train(corpus)) reproduces training's final segmentation:
    // every corpus word collapses to a single learned token
    val self = TextAnalysis.bpeEncode(corpus, merges)
      .as[(Long, Int, Seq[Int])].head()
    assert(self == ((1L, 5, Seq(4, 4, 4, 3, 3))))
    // duplicate token string from distinct merges keeps the FIRST id:
    // merges (x,y) then (xy on its own right side never re-created) -
    // plant (a,b) twice via a table with ("a","b"), ("ab","c"), ("a","bc")
    // where both later merges form "abc"
    val dup = Seq((1L, "abc abc")).toDF("doc_id", "text")
    val plantedDup = Seq(("a", "b"), ("ab", "c"), ("a", "bc"))
    val gotDup = TextAnalysis.bpeEncode(dup, plantedDup)
      .as[(Long, Int, Seq[Int])].head()
    // chars a=0,b=1,c=2; merges ab=3, abc=4 ((a,bc)'s product "abc"
    // duplicates id 4 and keeps it); each "abc" -> [ab,c] -> [abc] = [4]
    assert(gotDup == ((1L, 2, Seq(4, 4))))
    // count-only path agrees with the full encode on every doc
    val counts = TextAnalysis.bpeTokenCounts(docs, merges)
      .as[(Long, Int)].collect().toMap
    assert(counts == Map(1L -> 5, 2L -> 3, 3L -> 0, 4L -> 2))
    // past 64 rules the native BpeSegment path takes over with identical
    // semantics: 65 copies of (a,b) = one effective merge (duplicate
    // products keep the first vocab id), so ids match the 1-rule table
    def enc(m: Seq[(String, String)]) = TextAnalysis.bpeEncode(docs, m)
      .as[(Long, Int, Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(enc(Seq.fill(65)(("a", "b"))) == enc(Seq(("a", "b"))))
    // only a nonsensical table size is rejected now
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, Seq.fill((1 << 20) + 1)(("a", "b")))
    }
  }

  test("length histogram: exact log2 buckets, integer stats, null text") {
    val d = Seq(
      (1L, "a", "one"),                              // 1 token  -> bucket 1
      (2L, "a", "two words"),                        // 2        -> bucket 2
      (3L, "a", "three words here"),                 // 3        -> bucket 2
      (4L, "a", Seq.fill(4)("w").mkString(" ")),     // 4        -> bucket 3
      (5L, "a", Seq.fill(8)("w").mkString(" ")),     // 8        -> bucket 4
      (6L, "b", Seq.fill(7)("w").mkString(" ")),     // 7        -> bucket 3
      (7L, "b", null: String)                        // null     -> bucket 0
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.lengthHistogram(d)
      .as[(String, Int, Long, Long, Int, Int)].collect().toSet
    assert(got == Set(
      ("a", 1, 1L, 1L, 1, 1),
      ("a", 2, 2L, 5L, 2, 3),
      ("a", 3, 1L, 4L, 4, 4),
      ("a", 4, 1L, 8L, 8, 8),
      ("b", 3, 1L, 7L, 7, 7),
      ("b", 0, 1L, 0L, 0, 0)))
  }

  test("source overlap matrix: cross-source shared contents + diagonal dups") {
    val df = Seq(
      (1L, "a", "same text"), (2L, "a", "same text"),   // within-a dup
      (3L, "a", "only in a"),
      (4L, "b", "Same   TEXT"),                          // norm-matches a
      (5L, "b", "only in b"), (6L, "c", "only in c"))
      .toDF("doc_id", "source", "text")
    val m = Dedup.sourceOverlapMatrix(df)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(m == Set(
      ("a", "a", 1L, 2L, 2L),   // 3 docs, 2 distinct -> 1 within-dup
      ("b", "b", 0L, 2L, 2L),
      ("c", "c", 0L, 1L, 1L),
      ("a", "b", 1L, 2L, 2L)))  // normalized 'same text' shared; no c rows
  }

  test("native WinnowSelect equals the HOF oracle formula") {
    val docs = (1 to 25).map { i =>
      (i.toLong, (1 to 30).map(j => s"w${(i * 5 + j * j) % 60}").mkString(" "))
    }.toDF("doc_id", "text")
    val native = Dedup.winnowFingerprints(docs, k = 4, w = 4)
    val hof = docs.select(col("doc_id"),
        graft.llm.TextAnalysis.normalizedWords(col("text")).as("ws"))
      .filter(size(col("ws")) >= 4)
      .withColumn("gh", expr(
        """transform(sequence(1, size(ws) - 3), i ->
             CAST(conv(substring(md5(array_join(slice(ws, i, 4), ' ')),
               1, 15), 16, 10) AS BIGINT))"""))
      .withColumn("ps", array_distinct(expr(
        """transform(sequence(1, greatest(size(gh) - 3, 1)), j ->
             j - 1 + array_position(slice(gh, j, 4),
               array_min(slice(gh, j, 4))))""")))
      .select(col("doc_id"), explode(col("ps")).as("pos"), col("gh"))
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        expr("element_at(gh, CAST(pos AS INT))").as("fp"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    // short docs: < k words -> nothing; k..k+w-2 words -> one window
    val short = Seq((1L, "a b c"), (2L, "a b c d e")).toDF("doc_id", "text")
    val r = Dedup.winnowFingerprints(short, k = 4, w = 4)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(!r.contains(1L) && r(2L) == 1L)
  }

  test("winnowing: shared substring >= k+w-1 words guarantees a shared " +
    "fingerprint; coverage density holds") {
    // k=4, w=4: any shared run of >= 7 words must yield a shared
    // selected fingerprint (the winnowing guarantee)
    val run = (1 to 9).map(i => s"common$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta gamma $run delta"),
      (2L, s"zeta eta $run theta iota kappa"),
      (3L, "totally different words with no overlap at all here"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, k = 4, w = 4)
    val pairs = Dedup.winnowPairs(df, k = 4, w = 4, minShared = 1, maxDf = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // every w-gram window is covered: consecutive selected positions
    // per doc differ by at most w
    val pos = fps.select("doc_id", "pos").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    for ((_, ps) <- pos; w <- ps.sliding(2) if w.length == 2)
      assert(w(1) - w(0) <= 4, s"gap ${w(0)} -> ${w(1)} exceeds w")
    assert(pos(1L).head <= 4) // first window covered too
  }

  test("bottom-k containment: embedded short doc scores ~1 one-way, low jaccard") {
    val container = (1 to 120).map(i => s"w$i").mkString(" ")
    val embedded = (41 to 60).map(i => s"w$i").mkString(" ") // verbatim slice
    val unrelated = (1 to 60).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, container), (2L, embedded), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.bottomKContainmentPairs(df, k = 12, shingleN = 3,
        blockHashes = 3, minContainment = 0.5)
      .select("id_a", "id_b", "est_jaccard", "cont_a_in_b", "cont_b_in_a")
      .as[(Long, Long, Double, Double, Double)].collect()
    // only (1,2) survives; every shingle of doc 2 is a shingle of doc 1,
    // so containment(2 in 1) = 1.0 exactly while jaccard stays small
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    val p = pairs.head
    assert(p._5 == 1.0, s"cont_b_in_a=${p._5}") // B=doc2 inside A=doc1
    assert(p._3 < 0.5, s"est_jaccard=${p._3}")
  }

  test("bottom-k containment: sketch estimate tracks exact containment") {
    // doc 2 shares exactly half its shingles with doc 1
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, shared + " " + (1 to 40).map(i => s"a$i").mkString(" ")),
      (2L, shared + " " + (1 to 40).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val p = Dedup.bottomKContainmentPairs(df, k = 16, shingleN = 3,
        blockHashes = 6, minContainment = 0.2)
      .select("cont_a_in_b", "cont_b_in_a").as[(Double, Double)].collect()
    assert(p.length == 1)
    // exact containment each way = 38/80 = 0.475; k=16 estimate is coarse
    assert(math.abs(p.head._1 - 0.475) < 0.3 && math.abs(p.head._2 - 0.475) < 0.3)
  }

  test("ANN: IVF-PQ ADC ranking is exact on exactly-codable vectors") {
    // codebook entries are orthonormal axis directions; every corpus
    // vector is an exact codebook combo, so PQ reconstruction is exact
    // and the ADC cosine equals the true cosine up to sqrt(2)*sqrt(2) ulp
    val cb = Seq(Seq(1.0, 0, 0, 0), Seq(0.0, 1, 0, 0), Seq(0.0, 0, 1, 0))
    val codebooks = Seq(cb, cb)
    val vecs = (for { i <- 0 until 3; j <- 0 until 3 } yield
      ((i * 3 + j).toLong, (cb(i) ++ cb(j)).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val query = cb(0) ++ cb(1) // equals vector id 1
    val centroids = Ann.hyperplanes(8, 4, seed = 11L)

    // probing every cell: full ranking, ties by vec_id
    val adc = Ann.ivfPqTopK(vecs, query, 9, centroids, codebooks,
        nprobe = centroids.size)
      .select($"vec_id", $"adc_cosine").as[(Long, Double)].collect()
    assert(adc.length == 9)
    assert(adc.head._1 == 1L) // the query's own combo ranks first
    assert(math.abs(adc.head._2 - 1.0) < 1e-12)
    // one shared subspace => cosine 0.5: ids (0,0)(0,2)(1,1)(2,1)
    assert(adc.slice(1, 5).map(_._1).toSet == Set(0L, 2L, 4L, 7L))
    assert(adc.slice(1, 5).forall(x => math.abs(x._2 - 0.5) < 1e-12))
    assert(adc.drop(5).forall(x => math.abs(x._2) < 1e-12))

    // nprobe=1 restricts to the query's coarse cell but keeps its top hit
    val near = Ann.ivfPqTopK(vecs, query, 3, centroids, codebooks, nprobe = 1)
      .select($"vec_id").as[Long].collect()
    assert(near.contains(1L))
  }
}
