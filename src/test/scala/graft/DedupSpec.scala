package graft

import graft.ops.{Dedup, Similarity, TextStats}

/** Dedup/similarity/text operators over crafted corpora with known
  * duplicates and neighbors. */
class DedupSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away tonight"

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, base),
      (2L, base), // exact duplicate of 1
      (3L, base + " extra"), // near duplicate of 1
      (4L, "completely different words about spark window aggregation pipelines here today"),
      (5L, "ANOTHER DISJOINT DOCUMENT WITH ITS OWN TOKENS ENTIRELY UNRELATED CONTENT"))
      .toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized texts") {
    val rows = Dedup.exactDedup(corpus).collect()
    assert(rows.length == 4) // 1+2 collapse
    val dup = rows.filter(_.getAs[Long]("n_docs") == 2)
    assert(dup.length == 1 && dup.head.getAs[Long]("keeper_id") == 1L)
  }

  test("minhash LSH finds planted near-duplicates, not disjoint docs") {
    val pairs = Dedup.minhashCandidates(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard"))).toList
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // identical → every band collides
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // near dup
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L)) // disjoint stays out
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("ngram jaccard verifies candidates with true similarity") {
    val rows = Dedup.ngramJaccard(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(rows((1L, 2L)) == 1.0)
    assert(rows((1L, 3L)) > 0.8 && rows((1L, 3L)) < 1.0)
  }

  test("simhash of identical docs is identical; near dup within radius") {
    val sims = Dedup.simhashes(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sims(1L) == sims(2L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) <= 10)
    val pairs = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("dup clusters close the pair set transitively") {
    import spark.implicits._
    // A chain: 1~2 exact, 1~3 near — the cluster must be {1,2,3} under the
    // min label (1), with disjoint docs 4/5 absent entirely.
    val out = Dedup.dupClusters(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.toSet == Set((1L, 3L))) // one cluster, min-id label, size 3
    // Transitivity beyond direct candidates: a synthetic chain a~b, b~c where
    // a and c share NO shingles still collapses into one cluster.
    val chain = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (12L, "epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(chain).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    if (pairs == Set((10L, 11L), (11L, 12L))) { // chain shape holds for minhash
      val cl = Dedup.dupClusters(chain).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(cl == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    }
  }

  test("quality keeper keeps the longest cluster member, min-id on ties") {
    // Cluster {1,2,3}: doc 3 = base + " extra" is the longest → keeper 3
    // (where min-id dedupApply keeps 1); disjoint docs 4/5 survive
    // unclustered with a null keeper.
    val out = Dedup.dedupApplyQuality(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("keeper_id")).map(_.toLong),
          r.getAs[Boolean]("survives"))).toMap
    assert(out(1L) == (Some(3L), false))
    assert(out(2L) == (Some(3L), false))
    assert(out(3L) == (Some(3L), true))
    assert(out(4L) == (None, true) && out(5L) == (None, true))
    // Ties (docs 1 and 2 are byte-identical) fall to min id: drop doc 3's
    // length edge and the keeper must be 1.
    import spark.implicits._
    val tied = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val t = Dedup.dedupApplyQuality(tied).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("survives")).toMap
    assert(t == Map(1L -> true, 2L -> false))
  }

  test("dup clusters equal union-find components of the candidate pairs") {
    def dump(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("n_members"))).toSeq
    // Ground truth comes from union-find over the ACTUAL candidate pairs
    // (LSH recall on a crafted corpus is not the thing under test here;
    // component closure is), rooted at each component's least id.
    def components(docs: org.apache.spark.sql.DataFrame) = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      Dedup.minhashCandidates(docs).collect()
        .foreach { r =>
          val (ra, rb) = (find(r.getAs[Long]("doc_a")), find(r.getAs[Long]("doc_b")))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      parent.keys.toList.groupBy(find).toSeq.flatMap { case (root, members) =>
        members.map(m => (m, root, members.size.toLong))
      }.sorted
    }
    assert(dump(Dedup.dupClusters(corpus)) == components(corpus))
    // An overlapping-window chain: a high-diameter component.
    import spark.implicits._
    val words = ('a' to 'z').map(c => s"w$c")
    val chain = (0 until 6).map(i =>
      (100L + i, words.slice(i, i + 8).mkString(" "))).toDF("doc_id", "text")
    val want = components(chain)
    assert(dump(Dedup.dupClusters(chain)) == want)
    assert(want.nonEmpty) // the crafted corpus really exercises the loop
  }

  /** Candidate pairs forming one path 1 - 2 - ... - n (diameter n - 1). */
  private def path(n: Int) = {
    import spark.implicits._
    (1L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
  }

  test("label propagation collapses a 19-node path to one cluster") {
    val labels = Dedup.propagateLabels(path(19)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(labels == (1L to 19L).map(_ -> 1L).toMap)
  }

  test("label propagation fails loudly when the round cap is hit") {
    // A 25-node path needs 24 label-changing rounds; after the 20-round
    // cap nodes 21-25 still change.
    val e = intercept[IllegalStateException](Dedup.propagateLabels(path(25)))
    assert(e.getMessage.contains(s"after ${Dedup.MaxLabelRounds} rounds"), e.getMessage)
    assert(e.getMessage.contains("5 labels still changing"), e.getMessage)
  }

  test("label propagation returns a constant-size plan whatever the round count") {
    // Each round's Par.stage cuts the lineage: a 19-node path runs 19
    // rounds against a 3-node path's 3, yet both plans have one size.
    // A lazy persist would nest every previous round's plan instead.
    def planNodes(n: Int) =
      Dedup.propagateLabels(path(n)).queryExecution.logical.collect { case p => p }.size
    assert(planNodes(19) == planNodes(3))
  }

  test("minhash candidates drop a band bucket over the size cap") {
    import spark.implicits._
    // Identical texts share every band bucket, and each bucket then holds
    // MaxBucketSize + 1 rows: all six are over the cap, so no pair survives.
    val mega = (1L to Dedup.MaxBucketSize + 1L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(mega).count() == 0L)
  }

  test("incremental minhash emits only pairs involving the new batch") {
    import spark.implicits._
    // "old" corpus: docs 1-5; "new" arrivals 100-101 (100 dups doc 1)
    val c = corpus.unionByName(Seq(
      (100L, base), // new exact dup of old doc 1
      (101L, "fresh unrelated arrival text with plenty of its own tokens here"))
      .toDF("doc_id", "text"))
    val inc = Dedup.minhashIncremental(c, newFrom = 100L).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // every pair touches the new batch; the arriving dup is found
    assert(inc.forall(_._2 >= 100L), inc.toString)
    assert(inc.contains((1L, 100L)))
    // and it equals the full recompute restricted to new-involving pairs
    val full = Dedup.minhashCandidates(c).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(inc == full.filter(_._2 >= 100L))
  }

  test("prefix-filter jaccard join equals brute-force all-pairs (no false negatives)") {
    import spark.implicits._
    // Boundary-straddling fixture against the 19/20 threshold: five
    // identical 40-token docs (J = 1), three one-token-swapped variants
    // (vs the identical family: 39/41 ≈ 0.951 — just above; vs each
    // other: 38/42 ≈ 0.905 — below), and two disjoint docs. Brute-force
    // ground truth in Scala; the prefix-filtered join must equal it.
    val base = (0 until 40).map(v => s"w$v")
    val docs: Seq[(Long, String)] =
      (0 until 5).map(i => (i.toLong, base.mkString(" "))) ++
        (0 until 3).map(i => (10L + i, base.updated(i, s"swap$i").mkString(" "))) ++
        Seq((20L, (0 until 40).map(v => s"z$v").mkString(" ")),
          (21L, (0 until 40).map(v => s"y$v").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val got = graft.ops.Dedup.jaccardPrefixJoin(df).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter_n"), r.getAs[Long]("union_n"))).toSet
    val sets = docs.map { case (id, text) => id -> text.split(" ").toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = (sets(a) | sets(b)).size
      if graft.ops.Dedup.JacDen * inter >= graft.ops.Dedup.JacNum * union
    } yield (a, b, inter.toLong, union.toLong)).toSet
    assert(want.nonEmpty, "fixture must produce at least one qualifying pair")
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("prefix-filter jaccard join equals brute force on randomized corpora") {
    import spark.implicits._
    // Random token sets drawn from a small vocabulary with replica-plus-
    // mutation families, so pairs land on BOTH sides of the threshold.
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val vocabN = 30 + rng.nextInt(30)
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var id = 0L
      for (_ <- 0 until 12) {
        val n = 20 + rng.nextInt(20)
        val toks = new scala.util.Random(rng.nextLong())
          .shuffle((0 until vocabN).toList).take(n).map(v => s"w$v")
        docs += ((id, toks.mkString(" "))); id += 1
        // mutated replica: drop 0-2 tokens, add 0-1
        val mut = toks.drop(rng.nextInt(3)) ++ (if (rng.nextBoolean()) Seq(s"x$id") else Nil)
        docs += ((id, mut.mkString(" "))); id += 1
      }
      val got = graft.ops.Dedup.jaccardPrefixJoin(docs.toSeq.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("inter_n"), r.getAs[Long]("union_n"))).toSet
      val sets = docs.map { case (i, t) => i -> t.split(" ").toSet }.toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        union = (sets(a) | sets(b)).size
        if graft.ops.Dedup.JacDen * inter >= graft.ops.Dedup.JacNum * union
      } yield (a, b, inter.toLong, union.toLong)).toSet
      assert(got == want, s"trial $trial: got ${got.size}, want ${want.size}")
    }
  }

  test("duplicate spans find exactly the planted shared run, merged maximally") {
    import spark.implicits._
    // docs 10/11 share tokens 5..14 (a 10-token run); doc 12 is disjoint.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val c = Seq(
      (10L, "p0 p1 p2 p3 p4 " + shared + " s0 s1 s2 s3"),
      (11L, "q0 q1 q2 q3 q4 " + shared + " t0 t1 t2 t3"),
      (12L, "r0 r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12 r13 r14 r15 r16 r17 r18"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(c).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"), r.getAs[Long]("n_grams")))
    // one maximal span per sharing doc: positions 5..14, 6 five-grams merged
    assert(spans.toSet == Set((10L, 5L, 14L, 10L, 6L), (11L, 5L, 14L, 10L, 6L)))
  }

  test("bpe merges reproduce the classic hand computation") {
    import spark.implicits._
    // Sennrich et al.'s canonical corpus: low×5, lower×2, newest×6, widest×3
    val c = Seq((1L,
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("doc_id", "text")
    val m = TextStats.bpeMerges(c, nMerges = 4).collect()
      .map(r => (r.getAs[Int]("merge_n"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
    // es/st tie at 9 → lex tiebreak picks (e,s); then (es,t); lo/ow tie at
    // 7 → (l,o); then (lo,w)
    assert(m.toList == List(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L), (4, "lo", "w", 7L)))
  }

  test("text stats and fingerprints are deterministic and sane") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a", "en", "s", 7L), (2L, "a b c a", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stats = TextStats.textStats(docs).collect()
    assert(stats.forall(_.getAs[Long]("n_tokens") == 4L))
    assert(stats.forall(_.getAs[Long]("n_distinct") == 3L))
    val fps = TextStats.fingerprints(docs).collect().map(_.getAs[Long]("fingerprint"))
    assert(fps.distinct.length == 1) // same text → same rolling hash
  }

  test("brute-force and LSH ANN agree inside a shared bucket") {
    import spark.implicits._
    // vectors in the all-positive orthant share bucket 63 (first 6 dims > 0)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() + 0.01f)
    }
    val emb = (0 until 20).map(i => (i.toLong, vec(i), i % 3))
      .toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineTopK(emb).collect()
    val lsh = Similarity.annLshTopK(emb).collect()
    assert(brute.nonEmpty && lsh.nonEmpty)
    // all vectors share one bucket → LSH top-5 must equal brute top-5
    val bruteTop = brute.filter(_.getAs[Long]("rnk") <= 5)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id"))).toSet
    val lshTop = lsh
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id"))).toSet
    assert(lshTop == bruteTop)
  }

  test("fuzzy title pairs catch single-character typos that token-set paths miss") {
    import spark.implicits._
    val fixture = Seq(
      // doc 20 triggers the plant (20 % 20 == 0): doc 40020's title is doc
      // 20's with the last char swapped to 'x' — edit distance 1.
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      // Same block ("alpha beta") but 3 whole tokens differ — past MaxEdit.
      (21L, "alpha beta XXXX YYYY ZZZZ WWWW other tokens"),
      // Identical first-6-token titles → ONE representative (22), no
      // distance-0 pair: exact-dup titles collapse before pairing.
      (22L, "same title here for both docs one"),
      (23L, "same title here for both docs two"),
      // ...but a typo'd variant of that shared title pairs with the REP.
      (25L, "same title here for both docz five"),
      // Different block entirely: no pairs.
      (24L, "unrelated opening words that block nothing")).toDF("doc_id", "text")
    val pairs = Dedup.fuzzyTitlePairs(fixture)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("edit_dist"))).toSet
    assert(pairs == Set((20L, 40020L, 1L), (22L, 25L, 1L)))

    // The same typo'd pair through the token-set lens: Jaccard 5/7 < 19/20,
    // so the exact set-similarity join correctly (and uselessly, for this
    // modality) rejects it — the blindspot fuzzyTitlePairs exists to cover.
    val typod = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zetx")).toDF("doc_id", "text")
    assert(Dedup.jaccardPrefixJoin(typod).collect().isEmpty)
  }
  test("inverted index: df counts and capped ascending postings") {
    import spark.implicits._
    val docs = Seq(
      (5L, "alpha beta alpha"), // alpha counted once per doc
      (2L, "alpha gamma"),
      (9L, "Alpha beta")) // lowercased before indexing
      .map { case (id, t) => (id, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.invertedIndex(docs).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[String]("postings"))).toMap
    assert(out("alpha") == (3L, "2,5,9"))
    assert(out("beta") == (2L, "5,9"))
    assert(out("gamma") == (1L, "2"))
  }
  test("bpe apply segments by the rank-ordered merge chain") {
    import spark.implicits._
    // "the" -> t h e -> (t,h) th e -> (th,e) the : 1 subword.
    // "then" -> t h e n -> th e n -> the n : 2 subwords ((th,e) outranks
    // any later merge; no (the,n) merge exists).
    // "and" -> a n d -> an d -> and : 1. "толк" unknown chars: 4 singles.
    val out = TextStats.bpeApply(Seq(
      (1L, "the then and xyzq", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")).collect().head
    assert(out.getAs[Long]("n_words") == 4)
    assert(out.getAs[Long]("n_subwords") == 1 + 2 + 1 + 4)
    val expectStream = "the | the n | and | x y z q"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expectStream.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.getAs[String]("stream_md5") == md)
  }
  test("collocations rank glued pairs above chance pairs, gated at min count") {
    import spark.implicits._
    // "new york" always co-occurs (8×): PMI max. "the data" co-occurs 8×
    // but both words are everywhere → low PMI. "rare pair" appears 4× —
    // under the min-count gate, must be absent.
    val rows = (1 to 8).map { i =>
      (i.toLong, s"new york w$i the data the x$i data the data here rare")
    } ++ Seq((9L, "rare pair rare pair rare pair rare pair filler"))
    val out = TextStats.collocations(
      rows.map { case (i, t) => (i, t, "en", "s", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
    val pairs = out.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    val score = out.map(r =>
      (r.getAs[String]("a"), r.getAs[String]("b")) -> r.getAs[Long]("pmi_scaled")).toMap
    assert(pairs.head == (("new", "york")), s"top pair: ${pairs.head}")
    assert(score(("new", "york")) > score(("the", "data")))
    assert(!pairs.contains(("rare", "pair"))) // 4 < MinPairCount
  }

  test("bm25 ranks tf saturation and length norm the right way") {
    import spark.implicits._
    // Query terms = top-3 df tokens: data (df 5), model/the (df 3 each).
    // doc 2 repeats doc 1's hits but padded twice as long -> length norm
    // ranks it lower; doc 3 doubles doc 6's tf at identical length -> the
    // saturation keeps the score ratio well under 2x; doc 5 has no query
    // terms and must be absent.
    val out = TextStats.bm25TopK(Seq(
      (1L, "data model the end"),
      (2L, "data model the pad pad pad pad pad"),
      (3L, "data data data data data data data data"),
      (4L, "the data model x y z w q r s t u v"),
      (5L, "zz yy xx qq ww ee rr tt"),
      (6L, "data data data data f1 f2 f3 f4"))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
    val rank = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rnk")).toMap
    val score = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    assert(!rank.contains(5L) && rank.size == 5)
    assert(rank(1L) < rank(2L), s"shorter doc must outrank padded twin: $rank")
    assert(score(3L) < 2 * score(6L),
      s"doubling tf at equal length must not double the score: $score")
    assert(score(3L) > score(6L) && out.forall(_.getAs[Long]("score") > 0))
  }

  test("split leakage equals the cross-split strong pairs of minhashCandidates") {
    val corpus = Dedup.nearCorpus(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"))
    def heldout(id: Long): Boolean = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md5.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 10 == 0
    }
    // independent derivation: the generic candidate pairs, filtered to
    // cross-split with >= 10/12 matching positions (est >= 0.8333)
    val expected = Dedup.minhashCandidates(corpus).collect()
      .filter(r => r.getAs[Double]("est_jaccard") >= (Dedup.LeakMatchMin - 0.5) / 12.0)
      .map { r =>
        val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
        (a, b, math.round(r.getAs[Double]("est_jaccard") * 12))
      }
      .filter { case (a, b, _) => heldout(a) != heldout(b) }
      .map { case (a, b, m) => if (heldout(a)) (a, b, m) else (b, a, m) }
      .toSet
    val got = Dedup.splitLeakage(corpus).collect()
      .map(r => (r.getAs[Long]("heldout_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("matching"))).toSet
    assert(got.nonEmpty, "fixture must contain planted cross-split leaks")
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    got.foreach { case (h, t, m) =>
      assert(heldout(h) && !heldout(t) && m >= Dedup.LeakMatchMin)
    }
  }
}
