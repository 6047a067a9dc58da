package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Dedup-family semantics on sf0.001 (SURVEY §5.2 tier 2/3). The LSH
  * variant (`dedup_near`) has no DuckDB oracle, so its guarantees are
  * pinned here instead; `dedup_simhash` became fully oracled in r17 (md5
  * slice hashes replay engine-identically) and keeps its property pins as
  * belt-and-braces. */
class DedupSpec extends SparkSpec {

  private def q(name: String) = DedupOps.queries(name)(spark, SfDir)

  test("dedup_exact is idempotent and keeps the min doc_id per text") {
    val once = q("dedup_exact")
    val docs = Tables.documents(spark, SfDir)
    assert(once.count() === docs.select("text").distinct().count())
    // survivor is the min id of its text group
    val joined = once.as("d").join(docs.as("o"), "text")
      .groupBy(col("d.text")).agg(min(col("o.doc_id")).as("min_id"),
        first(col("d.doc_id")).as("kept"))
    assert(joined.filter(col("min_id") =!= col("kept")).count() === 0)
  }

  test("dedup_incremental admits exactly the unseen-content new docs") {
    val docs = Tables.documents(spark, SfDir)
    val survivors = q("dedup_incremental").persist()
    // every survivor is from the new batch
    assert(survivors.filter(col("doc_id") % 7 =!= 3).count() === 0)
    // fingerprint anti-join ≡ text anti-join (the collision-odds contract)
    val newBatch = docs.filter(col("doc_id") % 7 === 3)
    val existingTexts = docs.filter(col("doc_id") % 7 =!= 3).select("text").distinct()
    val byText = newBatch.join(existingTexts, Seq("text"), "left_anti")
    assert(survivors.count() === byText.count())
    assert(survivors.select("doc_id")
      .except(byText.select("doc_id")).count() === 0,
      "fingerprint survivors must equal text-equality survivors")
    // conservation: survivors + dropped = the new batch
    val dropped = newBatch.join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(survivors.count() + dropped.count() === newBatch.count())
    survivors.unpersist()
  }

  test("dedup_semantic prunes exactly to co-clustered pairs of the global scan") {
    import graft.operators.SimilarityOps
    val sem = q("dedup_semantic").persist()
    // within-cluster pairs only: both endpoints carry the emitted cid in
    // the shared Lloyd assignment
    val asg = SimilarityOps.lloydAssign(spark, SfDir)
    val misassigned = sem
      .join(asg.select(col("vec_id").as("doc_a"), col("cid").as("ca")), "doc_a")
      .join(asg.select(col("vec_id").as("doc_b"), col("cid").as("cb")), "doc_b")
      .filter(col("ca") =!= col("cid") || col("cb") =!= col("cid"))
    assert(misassigned.count() === 0, "every pair must be co-clustered")
    // the SemDeDup trade, both directions: emitted pairs are a subset of
    // the exact global >= threshold scan (clustering never invents a
    // pair), and every DROPPED global pair straddles two clusters
    val pts = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val global = pts.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
      .crossJoin(pts.select(col("vec_id").as("doc_b"), col("embedding").as("eb")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(graft.functions.Vectors.similitud(col("ea"), col("eb")) >=
        DedupOps.SemanticDupSim)
      .select("doc_a", "doc_b").persist()
    assert(sem.select("doc_a", "doc_b").except(global).count() === 0)
    val dropped = global.except(sem.select("doc_a", "doc_b"))
      .join(asg.select(col("vec_id").as("doc_a"), col("cid").as("ca")), "doc_a")
      .join(asg.select(col("vec_id").as("doc_b"), col("cid").as("cb")), "doc_b")
    assert(dropped.filter(col("ca") === col("cb")).count() === 0,
      "a same-cluster pair above threshold must never be dropped")
    global.unpersist(); sem.unpersist()
  }

  test("dedup_near (MinHash LSH, verified) is a subset of exact pairwise dedup_ngram") {
    val lsh = q("dedup_near").select("doc_a", "doc_b")
    val exact = q("dedup_ngram").select("doc_a", "doc_b")
    // candidates are verified with the exact Jaccard expression, so LSH can
    // only lose pairs (banding false negatives), never invent them
    assert(lsh.except(exact).count() === 0)
    // recall: banding with 4 bands x 4 rows at threshold 0.9 keeps ~all
    val exactN = exact.count()
    val lshN = lsh.count()
    assert(exactN > 0, "fixture should contain near-dup pairs")
    assert(lshN.toDouble / exactN >= 0.95,
      s"LSH recall $lshN/$exactN below 0.95")
  }

  test("dedup_near recall holds at the 5,000-doc bench corpus (sf0.1)") {
    // the banding S-curve was tuned on the measured similarity histogram;
    // this pins that the tuning survives the regenerated, 10×-larger
    // corpus whose histogram it was NOT tuned on (subset + recall, same
    // contract as above, exact side = the fused SelfPairwise all-pairs)
    val dir = "/root/testdata/sf0.1"
    val lsh = DedupOps.queries("dedup_near")(spark, dir).select("doc_a", "doc_b")
    val exact = DedupOps.queries("dedup_ngram")(spark, dir).select("doc_a", "doc_b")
    assert(lsh.except(exact).count() === 0)
    val exactN = exact.count()
    val lshN = lsh.intersect(exact).count()
    assert(exactN > 0, "bench corpus should contain near-dup pairs")
    assert(lshN.toDouble / exactN >= 0.95,
      s"LSH recall $lshN/$exactN below 0.95 at sf0.1")
  }

  test("banding candidate volume scales as designed on a 50k-doc synthetic corpus",
      SlowTest) {
    // The fixtures top out at 5,000 docs; this seeded 10× corpus pins the
    // property that makes dedup_near survive scale-up: candidate pairs
    // track (true near-pair count × S-curve pass rate), never O(n²), and
    // no band bucket explodes (the documented OPH dead end's failure
    // mode, where correlated densified rows put thousands of sets in one
    // bucket). Deterministic hash-derived construction, no RNG: 10,000
    // families × 5 members over a 10,000-token space; members share 108
    // family tokens plus 12 private ones (J ≈ 0.82 inside a family — the
    // dense just-below-threshold regime that stresses selectivity — and
    // ≈ 0 across families).
    import graft.functions.ArrayExprs
    val n = 50000L; val fams = 10000L; val vocab = 10000L
    val th = spark.range(n)
      .select(col("id"), (col("id") % fams).as("fid"))
      .select(col("id"), array_sort(array_distinct(concat(
        transform(sequence(lit(0), lit(107)),
          j => pmod(xxhash64(col("fid"), j), lit(vocab))),
        transform(sequence(lit(0), lit(11)),
          j => pmod(xxhash64(col("id"), j + 1000), lit(vocab)))))).as("th"))
    val slim = th.select(col("id"),
        posexplode(ArrayExprs.minHashBands(col("th"),
          DedupOps.Bands, DedupOps.RowsPerBand)).as(Seq("band", "bh")))
      .persist()
    try {
      val maxBucket = slim.groupBy("band", "bh").count()
        .agg(max("count")).first().getLong(0)
      assert(maxBucket <= 64,
        s"band bucket of $maxBucket sets — collision explosion")
      val a = slim.select(col("id").as("ida"), col("band"), col("bh"))
      val b = slim.select(col("id").as("idb"), col("band"), col("bh"))
      val cand = a.hint("shuffle_hash").join(b, Seq("band", "bh"))
        .filter(col("ida") < col("idb"))
        .select("ida", "idb").distinct()
        .persist()
      val nCand = cand.count()
      // 100k intra-family pairs at J≈0.82 × the S-curve's ~0.6 pass rate
      // ⇒ tens of thousands of candidates; quadratic would be 1.25e9
      assert(nCand > 10000L, s"S-curve lost the dense near-threshold band: $nCand")
      assert(nCand < 500000L,
        s"$nCand candidates — selectivity collapsed (quadratic is 1.25e9)")
      // cross-family candidates are hash accidents, not structure
      val crossFam = cand.filter(col("ida") % fams =!= col("idb") % fams).count()
      assert(crossFam < nCand / 20,
        s"$crossFam of $nCand candidates cross families — banding leaks")
      cand.unpersist()
      ()
    } finally { slim.unpersist(); () }
  }

  test("rarest-first prefixes stay selective on a Zipfian vocabulary",
      SlowTest) {
    // The fixture's 31-token dense vocabulary can't distinguish canonical
    // orders (every posting list is corpus-sized); this seeded Zipf(1)
    // corpus can: token = floor(V^u) for hash-uniform u gives
    // P(tok = x) ∝ 1/x, so a handful of head tokens appear in ~80% of
    // docs while the tail is sparse. 10,000 docs × ≤16 distinct tokens
    // over V = 2,000. Runs the OPERATOR's own candidate stage
    // (DedupOps.prefixCandidates — ascending-df order) against an inline
    // frequency-blind hash-order replica of the same prefix+join shape,
    // and pins that the shipped order emits ≥5× fewer candidates — the
    // AllPairs selectivity property the operator's comment claims.
    val n = 10000L
    val t = DedupOps.JaccardThreshold
    val th = spark.range(n).select(col("id"),
      array_distinct(transform(sequence(lit(0), lit(15)), j =>
        floor(pow(lit(2000.0),
          pmod(xxhash64(col("id"), j), lit(1000000L)).cast("double") / 1e6))
          .cast("long"))).as("toks"))
      .persist()
    try {
      // hash order: sort by xxhash64(token) — what the operator did pre-r10
      // (token-hash arrays), random w.r.t. frequency
      val byHash = th.select(col("id"),
        transform(array_sort(transform(col("toks"),
          x => struct(xxhash64(x).as("h"), x.as("tok")))),
          p => p.getField("tok")).as("th"))
      def candidates(src: org.apache.spark.sql.DataFrame): Long = {
        val pref = src.select(col("id"), size(col("th")).as("len"),
          posexplode(slice(col("th"), lit(1),
            (size(col("th")) - ceil(lit(t * t) * size(col("th"))) + 1)
              .cast("int"))).as(Seq("pos", "tok")))
        val a = pref.select(col("id").as("ida"), col("len").as("len_a"), col("tok"))
        val b = pref.select(col("id").as("idb"), col("len").as("len_b"), col("tok"))
        a.hint("shuffle_hash").join(b, Seq("tok"))
          .filter(col("ida") < col("idb") &&
            least(col("len_a"), col("len_b")).cast("double") >=
              greatest(col("len_a"), col("len_b")) * (t - 1e-3))
          .select("ida", "idb").distinct().count()
      }
      val hashCand = candidates(byHash)
      // df order: the operator's OWN candidate stage, fed the same sets
      // in dedup_prefix's (gid, th) input shape
      val uniq = th.select(col("id").as("gid"),
        array_sort(col("toks")).as("th"))
      val dfCand = DedupOps.prefixCandidates(uniq, t)
        .select("gid_a", "gid_b").distinct().count()
      assert(dfCand * 5 <= hashCand,
        s"rarest-first should prune hard on Zipf: df-order $dfCand vs " +
          s"hash-order $hashCand candidates")
      // and absolutely bounded: far below quadratic (~5e7 pairs)
      assert(dfCand < n * 100, s"df-order candidate volume $dfCand")
      ()
    } finally { th.unpersist(); () }
  }

  test("dedup_prefix (prefix-filter join) EQUALS exact pairwise dedup_ngram") {
    // the deterministic completeness claim the DuckDB oracle also pins:
    // unlike the LSH banding (subset-only above), the prefix-filtered
    // candidate set provably contains every true pair, so the verified
    // output is the exact set-similarity join — no misses, no extras
    val pref = q("dedup_prefix")
    val exact = q("dedup_ngram")
    assert(pref.exceptAll(exact).count() === 0, "prefix join invented pairs")
    assert(exact.exceptAll(pref).count() === 0, "prefix join missed pairs")
  }

  test("dedup_prefix completeness at the length-ratio boundary (adversarial corpus)") {
    // The prefix bound's worst case, constructed on purpose: subset pairs
    // B ⊂ A with |B| = 0.9·|A| (J exactly at the threshold, min = t·max —
    // the edge the prefix-length derivation must cover) where B drops A's
    // canonically-SMALLEST tokens, i.e. exactly the tokens A emits as its
    // prefix. The smallest common element sits at position |A|−c+1 of A —
    // the LAST slot of the |X|−⌈(t−ε)|X|⌉+1 prefix (r19 cap): a scheme
    // one token shorter (e.g. an ε-less double ceil of t·|X| rounding
    // 18.000000000000004 up to 19) would miss these pairs. One-more-
    // dropped variants sit just below the threshold and must stay
    // excluded.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix_adv").toString
    def hashOrder(toks: Seq[String]): Seq[String] =
      toks.toDF("t").select(col("t"), xxhash64(col("t")).as("h"))
        .orderBy("h").collect().map(_.getString(0)).toSeq
    val rows = Seq(20, 40, 60).zipWithIndex.flatMap { case (k, fam) =>
      val toks = hashOrder((0 until k).map(j => s"f${fam}tok$j"))
      val keep = math.ceil(0.9 * k).toInt
      val base = fam * 3L
      Seq(
        (base, toks.mkString(" ")),                       // A: full set
        (base + 1, toks.drop(k - keep).mkString(" ")),    // B: J(A,B) = 0.9
        (base + 2, toks.drop(k - keep + 1).mkString(" "))) // C: J(A,C) < 0.9
    }
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pref = DedupOps.queries("dedup_prefix")(spark, dir)
    val exact = DedupOps.queries("dedup_ngram")(spark, dir)
    assert(pref.exceptAll(exact).count() === 0, "adversarial: invented pairs")
    assert(exact.exceptAll(pref).count() === 0, "adversarial: missed pairs")
    val got = pref.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (fam <- 0 to 2) {
      val base = fam * 3L
      assert(got.contains((base, base + 1)),
        s"boundary pair (J=0.9 exactly, prefix-dropped subset) missed in family $fam")
      assert(!got.contains((base, base + 2)),
        s"below-threshold pair surfaced in family $fam")
    }
  }

  test("dedup_prefix equals the quadratic join on a seeded random-size corpus") {
    // randomized (fixed-seed) sweep over set sizes 5..64 — every k hits a
    // different ⌈(t−ε)k⌉ ceil boundary in the prefix-length formula, and
    // random overlaps land pairs on both sides of the threshold; the
    // 3-family adversarial test above covers the targeted worst case,
    // this covers the breadth
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = (0 until 120).map(j => s"rv$j")
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix_rand").toString
    val prior = scala.collection.mutable.ArrayBuffer[Set[String]]()
    val rows = (0 until 80).map { i =>
      // half the docs perturb an EARLIER doc's set (drop/add a few tokens)
      // so near-threshold pairs actually exist; half are fresh draws
      val toks =
        if (i >= 40 && rnd.nextBoolean() && prior.nonEmpty) {
          val base = prior(rnd.nextInt(prior.length))
          val dropped = base.drop(rnd.nextInt(3))
          dropped ++ rnd.shuffle((vocab.toSet -- dropped).toSeq).take(rnd.nextInt(3))
        } else rnd.shuffle(vocab).take(5 + rnd.nextInt(60)).toSet
      prior += toks
      (i.toLong, toks.mkString(" "))
    }
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pref = DedupOps.queries("dedup_prefix")(spark, dir)
    val exact = DedupOps.queries("dedup_ngram")(spark, dir)
    assert(exact.count() >= 10,
      "seed must produce real pairs or the sweep tests nothing (26 at this seed)")
    assert(pref.exceptAll(exact).count() === 0, "random sweep: invented pairs")
    assert(exact.exceptAll(pref).count() === 0, "random sweep: missed pairs")
  }

  test("dedup_simhash pairs are symmetric-free (a < b) and within Hamming 3") {
    val sh = q("dedup_simhash")
    assert(sh.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(sh.filter(col("hamming") > DedupOps.HammingMax).count() === 0)
  }

  test("dedup_clusters is a valid CC labeling of the dedup_ngram pair graph") {
    val labels = q("dedup_clusters")
    val docs = Tables.documents(spark, SfDir)
    // total function: one label per doc, label <= id (min-label), and the
    // label is itself a doc that carries the same label (canonical root)
    assert(labels.count() === docs.count())
    assert(labels.filter(col("cluster_id") > col("doc_id")).count() === 0)
    val roots = labels.select(col("cluster_id").as("doc_id")).distinct()
      .join(labels, "doc_id")
    assert(roots.filter(col("cluster_id") =!= col("doc_id")).count() === 0)
    // every near-dup pair's endpoints share a cluster
    val pairs = q("dedup_ngram").select("doc_a", "doc_b")
    val la = labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb"))
    assert(pairs.join(la, "doc_a").join(lb, "doc_b")
      .filter(col("ca") =!= col("cb")).count() === 0)
  }

  // small synthetic graph: two chains, one singleton, one clique
  private def ccFixture() = {
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),      // chain 1-2-3
      (10L, 11L), (11L, 10L),                       // pair
      (20L, 21L), (21L, 20L), (20L, 22L), (22L, 20L), (21L, 22L), (22L, 21L),
      (1L, 1L), (2L, 2L), (3L, 3L), (10L, 10L), (11L, 11L),
      (20L, 20L), (21L, 21L), (22L, 22L), (30L, 30L) // self-loops incl singleton 30
    )).toDF("a", "b")
    (edges, edges.select(col("a").as("gid")).distinct())
  }

  test("localCC union-find equals the iterative relational CC labeling") {
    val (edges, nodes) = ccFixture()
    val local = DedupOps.localCC(edges).orderBy("id")
    val iter = DedupOps.iterativeCC(edges, nodes).orderBy("id")
    assert(local.collect().toSeq === iter.collect().toSeq)
    assert(local.filter(col("id") === 3L).head().getLong(1) === 1L)
    assert(local.filter(col("id") === 30L).head().getLong(1) === 30L)
  }

  test("iterativeCC falls back to shuffle joins past the broadcast budget") {
    // force the size-conditional label broadcast off (threshold -1 is
    // Spark's "never broadcast") and pin that the shuffle-join rounds
    // converge to the same labeling
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (edges, nodes) = ccFixture()
      val iter = DedupOps.iterativeCC(edges, nodes).orderBy("id")
      val local = DedupOps.localCC(edges).orderBy("id")
      assert(iter.collect().toSeq === local.collect().toSeq)
    }
  }

  test("dedup_embed returns the top-100 pairs ordered by similarity") {
    val rows = q("dedup_embed").collect()
    assert(rows.length === 100)
    val simsCol = rows.map(_.getAs[Double]("similitud"))
    assert(simsCol.zip(simsCol.tail).forall { case (a, b) => a >= b })
  }

  test("dedup_substring reports exactly the maximal cross-doc spans") {
    // hand-built corpus pinning each clause of the span contract at
    // k = SubstringK = 8:
    //  - a 12-token block shared by docs 0 and 1 (at different offsets)
    //    reports as ONE maximal span of len 12 per doc, not 5 overlapping
    //    8-grams;
    //  - a 7-token (k−1) shared run is invisible — below the window;
    //  - a doc-INTERNAL repeat (doc 3 carries the same 8-token phrase
    //    twice, no other doc has it) is NOT flagged: the contract is
    //    cross-doc (countDistinct(doc_id) > 1), the within-doc case being
    //    text_repetition's job;
    //  - two shared blocks in one doc separated by a single filler token
    //    (coverage gap > k) stay two spans (doc 4);
    //  - two ABUTTING shared blocks (flagged positions k apart, shared
    //    with DIFFERENT partners) merge into one contiguous span (doc 6);
    //  - OVERLAPPING coverage with a non-duplicated gram strictly between
    //    the flagged positions (p and p+2 flagged, p+1 not) still merges
    //    — every token in the union is duplicated (doc 9), and the merge
    //    is what keeps spans disjoint so Σ span_len counts tokens once.
    import spark.implicits._
    val k = DedupOps.SubstringK
    assert(k === 8, "fixture offsets below are derived for k = 8")
    val block  = (0 until 12).map(i => s"sh$i")          // shared 12-gram
    val block2 = (0 until 12).map(i => s"sg$i")          // second shared block
    val run7   = (0 until 7).map(i => s"r7$i")           // k−1 run
    val phrase = (0 until 8).map(i => s"ph$i")           // internal repeat
    val blockA = (0 until 8).map(i => s"ba$i")           // abutting pair...
    val blockB = (0 until 8).map(i => s"bb$i")
    val ov     = (0 until 10).map(i => s"ov$i")          // overlap triple
    def fill(doc: Int, n: Int, off: Int = 0) =
      (0 until n).map(i => s"u${doc}x${off + i}")
    val rows = Seq(
      (0L, (fill(0, 10) ++ block ++ fill(0, 10, 10)).mkString(" ")),
      (1L, (fill(1, 5) ++ block ++ run7 ++ fill(1, 3)).mkString(" ")),
      (2L, (fill(2, 20) ++ run7 ++ fill(2, 10, 20)).mkString(" ")),
      (3L, (fill(3, 4) ++ phrase ++ fill(3, 4, 4) ++ phrase).mkString(" ")),
      (4L, (block ++ Seq("u4gap") ++ block2).mkString(" ")),
      (5L, (fill(5, 9) ++ block2 ++ fill(5, 9, 9)).mkString(" ")),
      (6L, (blockA ++ blockB).mkString(" ")),
      (7L, (fill(7, 2) ++ blockA).mkString(" ")),
      (8L, (fill(8, 3) ++ blockB).mkString(" ")),
      (9L, ov.mkString(" ")),                       // grams at 1, 2, 3
      (10L, (ov.take(8) ++ fill(10, 2)).mkString(" ")),  // shares gram 1
      (11L, (Seq("u11f") ++ ov.drop(2)).mkString(" ")))  // shares gram 3
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = DedupOps.queries("dedup_substring")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      (0L, 11L, 12L),  // block at 1-based pos 11 in doc 0
      (1L, 6L, 12L),   // block at pos 6 in doc 1
      (4L, 1L, 12L),   // block at pos 1 in doc 4
      (4L, 14L, 12L),  // block2: coverage gap > k — separate span
      (5L, 10L, 12L),  // block2 at pos 10 in doc 5
      (6L, 1L, 16L),   // blockA+blockB abut (flagged 1 and 9) — ONE span
      (7L, 3L, 8L),
      (8L, 4L, 8L),
      (9L, 1L, 10L),   // flagged 1 and 3, gram 2 unique — still ONE span
      (10L, 1L, 8L),
      (11L, 2L, 8L))
    assert(got === want)
  }

  // JVM replica of dedup_chunk's md5-derived boundary gate
  private def cdcBoundary(token: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8"))
    val hex = d.take(2).map("%02x".format(_)).mkString
    Integer.parseInt(hex, 16) % 8 == 0
  }

  private def cdcChunks(text: String): Seq[String] = {
    val toks = text.split(" ", -1)
    val ids = toks.scanLeft(0L) { (acc, t) =>
      acc + (if (cdcBoundary(t)) 1 else 0)
    }.tail
    toks.zip(ids).groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1).mkString(" "))
  }

  test("dedup_chunk histogram equals the brute CDC replay") {
    val got = q("dedup_chunk").collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_token_mass")))
      .sortBy(_._1)
    val docs = Tables.documents(spark, SfDir).select("text").collect()
      .map(_.getString(0))
    val clusters = docs.flatMap(cdcChunks)
      .groupBy(identity).toSeq.map { case (c, xs) =>
        (xs.length.toLong, c.split(" ", -1).length.toLong)
      }
    val want = clusters.groupBy(_._1).toSeq.map { case (size, cs) =>
      (size, cs.length.toLong, size * cs.length,
        cs.map { case (s, nt) => nt * (s - 1) }.sum)
    }.sortBy(_._1)
    assert(got === want, s"histogram mismatch:\n got $got\nwant $want")
  }

  test("dedup_chunk boundaries are content-defined: a prefix edit only " +
    "touches the head chunk") {
    // the CDC property fixed-offset segmentation lacks: prepending a
    // token may merge/split the FIRST chunk but every later boundary is
    // a function of local content alone, so the chunk streams re-align
    val doc = Tables.documents(spark, SfDir)
      .orderBy("doc_id").select("text").head().getString(0)
    val base = cdcChunks(doc)
    val edited = cdcChunks("zzedit " + doc)
    // all base chunks from the second onward survive verbatim in order
    assert(base.length >= 2, "fixture doc long enough to chunk")
    assert(edited.containsSlice(base.tail),
      "tail chunks must be shift-invariant under a prefix edit")
  }
}
