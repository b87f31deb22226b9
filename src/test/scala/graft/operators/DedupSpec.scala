package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different words about spark and data engines"),
    (5L, "a b"), // fewer tokens than the shingle width
    (6L, "completely different words about spark and data engines")) // exact dup of 4
    .toDF("doc_id", "text")

  describe("Dedup.exactGroups") {
    it("finds duplicate groups with canonical min id") {
      val groups = Dedup.exactGroups(corpus, col("doc_id"), col("text"))
        .filter(col("n_copies") > 1)
        .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
      assert(groups == Set((1L, 2L), (4L, 2L)))
    }
  }

  describe("Dedup.nearDupPairs") {
    it("pairs exact and near duplicates above the threshold, skipping short docs") {
      val pairs = Dedup.nearDupPairs(corpus, col("doc_id"), col("text"), threshold = 0.5)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 6L)))
      assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // 6/8 shingles shared
      assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    }

    it("exact duplicates have jaccard exactly 1.0") {
      val j = Dedup.nearDupPairs(corpus, col("doc_id"), col("text"), threshold = 0.99)
        .filter(col("doc_a") === 1 && col("doc_b") === 2)
        .select("jacc").as[Double].head()
      assert(j == 1.0)
    }
  }

  describe("Dedup.minhashNearDups") {
    it("catches exact duplicates (J=1 collides in every band) and never false-positives") {
      val found = Dedup.minhashNearDups(corpus, col("doc_id"), col("text"), threshold = 0.9)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      // J=1 pairs are guaranteed candidates; threshold 0.9 then filters
      // the near-but-not-exact pair (1,3).
      assert(found == Set((1L, 2L), (4L, 6L)))
    }

    it("hot-bucket cap bounds pair expansion on an adversarial corpus") {
      // 30 identical docs: every LSH bucket holds all 30 members, so the
      // uncapped expansion is C(30,2)=435 candidate pairs per band.
      val hot = (1 to 30).map(i => (i.toLong, "the exact same adversarial hot document text"))
        .toDF("doc_id", "text")
      val uncapped = Dedup.minhashNearDups(hot, col("doc_id"), col("text"), threshold = 0.9)
      assert(uncapped.count() == 435)
      // Cap below the bucket size: the hot bucket is dropped entirely —
      // bounded work (and a recall loss the bucket_stats observation
      // records), instead of a quadratic blow-up on one reducer.
      val capped = Dedup.minhashNearDups(hot, col("doc_id"), col("text"), threshold = 0.9,
        maxBucket = 10)
      assert(capped.count() == 0)
      // The normal corpus is unaffected by a production-sized cap.
      val normal = Dedup.minhashNearDups(corpus, col("doc_id"), col("text"), threshold = 0.9,
        maxBucket = 10)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(normal == Set((1L, 2L), (4L, 6L)))
    }

    it("single-pass signature expression matches the explode+agg formulation") {
      val fast = Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), numPerms = 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
      val slow = Dedup.minhashSignaturesAgg(corpus, col("doc_id"), col("text"), numPerms = 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
      assert(fast == slow)
    }

    it("signatures are permutation-invariant fingerprints: equal sets, equal sigs") {
      val sigs = Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), numPerms = 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
      assert(sigs(1L) == sigs(2L))
      assert(sigs(4L) == sigs(6L))
      assert(sigs(1L) != sigs(4L))
    }
  }

  describe("Dedup.connectedComponents") {
    it("merges transitive chains into one component and keeps islands apart") {
      // chain 1-2-3-4 (diameter 3) + island pair 10-11
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(pairs)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
      assert(cc(10L) == 10L && cc(11L) == 10L)
      assert(cc.size == 6) // only nodes that appear in pairs
    }

    it("purgeNearDups keeps one canonical doc per cluster plus all singletons") {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val all = Seq(1L, 2L, 3L, 7L, 10L, 11L).map(i => (i, s"text$i")).toDF("doc_id", "text")
      val kept = Dedup.purgeNearDups(all, col("doc_id"), pairs)
        .select("doc_id").as[Long].collect().toSet
      // canonical of {1,2,3} is 1; of {10,11} is 10; 7 untouched
      assert(kept == Set(1L, 7L, 10L))
    }

    it("purgeNearDupsBy keeps the highest-score member, ties to the greatest id") {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val all = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 1L), (10L, 4L), (11L, 2L))
        .toDF("doc_id", "score")
      val kept = Dedup.purgeNearDupsBy(all, col("doc_id"), col("score"), pairs)
        .select("doc_id").as[Long].collect().toSet
      // {1,2,3}: max score 9 shared by 2 and 3 → greatest id 3 wins;
      // {10,11}: 10 (score 4 > 2); singleton 7 untouched
      assert(kept == Set(3L, 7L, 10L))
    }

    it("label always reaches the global minimum across a long chain") {
      // worst-case diameter: a path 20 -> 19 -> ... -> 0
      val pairs = (1L to 20L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(pairs, maxIter = 30)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      assert(cc.values.toSet == Set(0L))
    }

    it("Reliable truncation matches Local and writes durable checkpoint roots") {
      withTempDir { dir =>
        // diameter-5 chain + island, reliable root every 2 rounds: same
        // labels as the Local policy, and the configured dir actually
        // receives RDD checkpoint data (the executor-loss recovery root)
        val pairs = (1L to 5L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
          .unionByName(Seq((10L, 11L)).toDF("doc_a", "doc_b"))
        val local = Dedup.connectedComponents(pairs)
          .select("doc_id", "component").as[(Long, Long)].collect().toMap
        val reliable = Dedup.connectedComponents(pairs,
            truncation = Truncation.Reliable(dir.getAbsolutePath, every = 2))
          .select("doc_id", "component").as[(Long, Long)].collect().toMap
        assert(reliable == local)
        def countFiles(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(countFiles).sum else 1
        assert(countFiles(dir) > 0, "no reliable checkpoint data written")
      }
    }

    it("fails loudly instead of returning un-converged (wrong) labels") {
      // diameter 20 > maxIter 3: silent truncation would leave one
      // component split under several ids and a purge would keep dups
      val pairs = (1L to 20L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponents(pairs, maxIter = 3).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    }
  }

  describe("Dedup.connectedComponentsStar") {
    it("matches label propagation on chains, islands, self-pairs and singleton contracts") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
        .toDF("doc_a", "doc_b")
      val star = Dedup.connectedComponentsStar(pairs)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      val prop = Dedup.connectedComponents(pairs)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      assert(star == prop)
      assert(star(20L) == 20L) // self-paired singleton labels itself
    }

    it("converges on a 200-hop chain within the logarithmic round budget") {
      // diameter 200 ≫ label propagation's default maxIter=20 — the
      // graph shape this variant exists for; maxIter=15 bounds the
      // round count at ~log² scale (15 rounds would NOT converge under
      // diameter-bound propagation, which needs 200)
      val pairs = (1L to 200L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponentsStar(pairs, maxIter = 15)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      assert(cc.size == 201)
      assert(cc.values.toSet == Set(0L))
    }

    it("fails loudly instead of returning un-converged labels") {
      val pairs = (1L to 200L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponentsStar(pairs, maxIter = 1).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    }
  }

  describe("Dedup.contaminationPairs") {
    it("flags cross-corpus shingle overlap above the threshold, bipartite only") {
      val train = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"), // = test 100 (full leak)
        (2L, "the quick brown fox sat very still today ok"), // shares 2 shingles w/ 100
        (3L, "completely unrelated text about spark engines here")).toDF("doc_id", "text")
      val test = Seq(
        (100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "another eval prompt entirely distinct from training")).toDF("doc_id", "text")
      val pairs = Dedup.contaminationPairs(train, col("doc_id"), col("text"),
          test, col("doc_id"), col("text"), minShared = 3)
        .select("train_id", "test_id", "n_shared").as[(Long, Long, Long)].collect().toSet
      // doc 1 shares all 7 shingles with test 100; doc 2 only 2 (< 3); doc 3 none.
      // train-train and test-test overlap must never pair.
      assert(pairs == Set((1L, 100L, 7L)))
      // threshold 1 admits the partial leak too
      val loose = Dedup.contaminationPairs(train, col("doc_id"), col("text"),
          test, col("doc_id"), col("text"), minShared = 1)
        .select("train_id", "test_id").as[(Long, Long)].collect().toSet
      assert(loose == Set((1L, 100L), (2L, 100L)))
    }

    it("maxDf drops ubiquitous stop-shingles from the evidence") {
      // every train doc starts with the same 3 tokens → that shingle is
      // in all 20 docs; with maxDf below 20 it stops pairing anything
      val train = (1L to 20L).map(i => (i, s"common stop shingle unique$i tail$i"))
        .toDF("doc_id", "text")
      val test = Seq((100L, "common stop shingle from the eval set")).toDF("doc_id", "text")
      val all = Dedup.contaminationPairs(train, col("doc_id"), col("text"),
        test, col("doc_id"), col("text"), minShared = 1)
      assert(all.count() == 20) // the shared stop-shingle pairs everything
      val capped = Dedup.contaminationPairs(train, col("doc_id"), col("text"),
        test, col("doc_id"), col("text"), minShared = 1, maxDf = 5)
      assert(capped.count() == 0)
    }
  }

  describe("Dedup.bloomNewDocs") {
    it("returns exactly the plain anti-join answer: every new doc, no duplicate survives") {
      val history = (1L to 500L).map(i => (i, s"hist doc number $i body")).toDF("id", "text")
      // new batch: 40 verbatim duplicates of history + 60 genuinely new
      val newBatch = (1L to 40L).map(i => (1000L + i, s"hist doc number ${i * 3} body"))
        .++((1L to 60L).map(i => (2000L + i, s"fresh doc $i never seen")))
        .toDF("id", "text")
      val got = Dedup.bloomNewDocs(newBatch, history, col("text"),
          expectedItems = 1000, fpp = 0.05)
        .select("id").as[Long].collect().toSet
      val expected = newBatch.join(history.select(col("text")), Seq("text"), "left_anti")
        .select("id").as[Long].collect().toSet
      assert(got == expected)
      assert(got == (2001L to 2060L).toSet) // and that IS the fresh set
    }

    it("survives an aggressively small sketch (many false positives, still exact)") {
      val history = (1L to 300L).map(i => (i, s"h-$i")).toDF("id", "text")
      val newBatch = (1L to 200L).map(i => (9000L + i, if (i % 2 == 0) s"h-$i" else s"n-$i"))
        .toDF("id", "text")
      // 8 expected items for 300 actual → saturated filter, fpp ≈ 1:
      // everything routes through exact verification and still comes
      // back exact (the sketch changes cost, never the answer)
      val got = Dedup.bloomNewDocs(newBatch, history, col("text"),
          expectedItems = 8, fpp = 0.5)
        .select("id").as[Long].collect().toSet
      assert(got == (1L to 200L).filter(_ % 2 == 1).map(9000L + _).toSet)
    }

    it("rejects reserved __bf_* columns") {
      val df = Seq((1L, "a")).toDF("id", "text").withColumn("__bf_h", lit(1L))
      val e = intercept[IllegalArgumentException] {
        Dedup.bloomNewDocs(df, df, col("text"), expectedItems = 10)
      }
      assert(e.getMessage.contains("__bf_h"))
    }
  }

  describe("Dedup.sharedSpans") {
    it("recovers exact maximal shared spans, multiple spans, and the min-length filter") {
      def words(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
      // A and B share tokens a5..a16 (12 tokens) AND a30..a36 (7 tokens);
      // C shares nothing long with anyone
      val a = words(1 to 40, "a")
      val b = s"${words(1 to 3, "b")} ${words(5 to 16, "a")} ${words(1 to 5, "c")} ${words(30 to 36, "a")} end"
      val docs = Seq((1L, a), (2L, b), (3L, words(1 to 40, "z"))).toDF("doc_id", "text")
      val out = Dedup.sharedSpans(docs, col("doc_id"), col("text"), n = 3, minTokens = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.toSeq == Seq((1L, 2L, 12L, 2L))) // both spans qualify, max is the 12-token one
      // raising the floor above the second span drops it from the count
      val strict = Dedup.sharedSpans(docs, col("doc_id"), col("text"), n = 3, minTokens = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(strict.toSeq == Seq((1L, 2L, 12L, 1L)))
    }

    it("ignores in-document repetition and applies the stop-gram cap deterministically") {
      val phrase = "one two three four five six"
      // doc 1 repeats the phrase internally — no self-pair; docs 2 and 3
      // each contain it once — they pair with 1 and with each other
      val docs = Seq(
        (1L, s"$phrase filler $phrase"),
        (2L, s"x y $phrase z"),
        (3L, s"$phrase tail words here")).toDF("doc_id", "text")
      val out = Dedup.sharedSpans(docs, col("doc_id"), col("text"), n = 3, minTokens = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set((1L, 2L, 6L), (1L, 3L, 6L), (2L, 3L, 6L)))
      // a cap below the posting count of the phrase grams drops ALL pairs
      // (the rule is part of the semantics, applied identically everywhere)
      val capped = Dedup.sharedSpans(docs, col("doc_id"), col("text"), n = 3,
        minTokens = 6, maxDf = 3)
      assert(capped.count() == 0)
    }
  }

  describe("Dedup.removeSharedSpans") {
    it("excises losing spans token-exactly, keeps the canonical doc and bystanders intact") {
      def words(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
      // doc 2 shares a5..a16 with doc 1 (lower id wins) in the MIDDLE of
      // its text; doc 3 is untouched
      val a = words(1 to 40, "a")
      val shared = words(5 to 16, "a")
      val b = s"${words(1 to 3, "b")} $shared ${words(1 to 5, "c")}"
      val docs = Seq((1L, a), (2L, b), (3L, words(1 to 9, "z"))).toDF("doc_id", "text")
      val out = Dedup.removeSharedSpans(docs, col("doc_id"), col("text"),
          n = 3, minTokens = 5)
        .as[(Long, String)].collect().toMap
      assert(out(1L) == a) // keeper untouched
      assert(out(2L) == s"${words(1 to 3, "b")} ${words(1 to 5, "c")}") // span gone, order kept
      assert(out(3L) == words(1 to 9, "z")) // bystander untouched
    }

    it("removes the UNION of spans lost to several earlier docs") {
      def words(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
      val s1 = words(1 to 6, "p") // shared with doc 1
      val s2 = words(1 to 6, "q") // shared with doc 2
      val docs = Seq(
        (1L, s"$s1 ${words(1 to 10, "x")}"),
        (2L, s"${words(1 to 10, "y")} $s2"),
        (3L, s"head $s1 mid $s2 tail")).toDF("doc_id", "text")
      val out = Dedup.removeSharedSpans(docs, col("doc_id"), col("text"),
          n = 3, minTokens = 5)
        .as[(Long, String)].collect().toMap
      assert(out(3L) == "head mid tail")
      assert(out(1L) == s"$s1 ${words(1 to 10, "x")}")
      assert(out(2L) == s"${words(1 to 10, "y")} $s2")
    }
  }

  describe("Dedup.editDistOnePairs") {
    it("finds exactly the distance-1 pairs a brute-force scan finds (all three edit kinds)") {
      val vocab = Seq("table", "tble" /* deletion */, "tablet" /* insertion */,
        "cable" /* substitution */, "ab", "ba" /* distance-2 shared-key trap */,
        "zebra" /* isolated */).toDF("s")
      val got = Dedup.editDistOnePairs(vocab, col("s"))
        .select("tok_a", "tok_b").as[(String, String)].collect().toSet
      // brute force over the same vocabulary
      val words = Seq("table", "tble", "tablet", "cable", "ab", "ba", "zebra")
      val expected = (for {
        a <- words; b <- words if a < b && graft.TestOracles.levenshtein(a, b) == 1
      } yield (a, b)).toSet
      assert(got == expected)
      assert(expected.contains(("table", "tble")) && expected.contains(("table", "tablet"))
        && expected.contains(("cable", "table")))
      assert(!got.contains(("ab", "ba"))) // shared deletion key but distance 2 — verified away
    }

    it("is total over empty and single-character strings") {
      val vocab = Seq("", "a", "b", "ab").toDF("s")
      val got = Dedup.editDistOnePairs(vocab, col("s"))
        .select("tok_a", "tok_b").as[(String, String)].collect().toSet
      assert(got == Set(("", "a"), ("", "b"), ("a", "b"), ("a", "ab"), ("ab", "b")))
    }
  }

  describe("Dedup.simhashNearDups") {
    it("band candidates recover exactly the brute-force hamming result (pigeonhole)") {
      val fp = Dedup.simhash(corpus, col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (k <- Seq(0, 3, 6)) {
        val brute = (for {
          (a, sa) <- fp; (b, sb) <- fp if a < b
          h = java.lang.Long.bitCount(sa ^ sb) if h <= k
        } yield (a, b, h.toLong)).toSet
        val banded = Dedup.simhashNearDups(corpus, col("doc_id"), col("text"), maxHamming = k)
          .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
        assert(banded == brute, s"maxHamming=$k")
      }
    }

    it("exact duplicates pair at hamming 0") {
      val pairs = Dedup.simhashNearDups(corpus, col("doc_id"), col("text"), maxHamming = 0)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 6L)))
    }
  }

  describe("Dedup.hammingNearDups (generic fingerprint table)") {
    it("is complete for arbitrary 64-bit fingerprints, sign bit included") {
      val fps: Map[Long, Long] = Map(
        1L -> 0L,
        2L -> 3L,                 // hamming 2 from id 1
        3L -> -1L,                // all 64 bits set
        4L -> (-1L ^ (1L << 63)), // hamming 1 from id 3 ACROSS the sign bit
        5L -> 0x00ff00ff00ff00ffL)
      val df = fps.toSeq.toDF("doc_id", "fp")
      for (k <- Seq(0, 1, 2, 8)) {
        val brute = (for {
          (a, sa) <- fps; (b, sb) <- fps if a < b
          h = java.lang.Long.bitCount(sa ^ sb) if h <= k
        } yield (a, b, h)).toSet
        val banded = Dedup.hammingNearDups(df, maxHamming = k, bits = 64)
          .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
        assert(banded == brute, s"maxHamming=$k")
      }
    }

    it("spareBlocks>1 (combination pigeonhole) changes cost, never the pair set") {
      // 300 fingerprints clustered to stress the narrow s=1 key space,
      // plus planted near-dups at several distances
      val rnd = new scala.util.Random(42)
      val base = (1L to 100L).map(i => i -> rnd.nextLong())
      val planted = base.take(50).zipWithIndex.map { case ((i, f), j) =>
        // flip j%9 distinct bits → hamming j%9 from the source
        val flipped = (0 until j % 9).foldLeft(f)((v, b) => v ^ (1L << (b * 7)))
        (i + 1000L) -> flipped
      }
      val skewed = (1L to 150L).map(i => (i + 2000L) -> (rnd.nextInt(4).toLong << 60))
      val fps = (base ++ planted ++ skewed).toDF("doc_id", "fp")
      for (k <- Seq(4, 8); s <- Seq(2, 3)) {
        val ref = Dedup.hammingNearDups(fps, maxHamming = k, bits = 64)
          .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
        val wide = Dedup.hammingNearDups(fps, maxHamming = k, bits = 64, spareBlocks = s)
          .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
        assert(wide == ref, s"maxHamming=$k spareBlocks=$s")
      }
    }

    it("spareBlocks s-equivalence holds for the INCREMENTAL form too (q296's lever)") {
      // a maintained store with computed + retained members: the delta
      // leg under any s must equal both the s=1 delta leg and the full
      // recompute of the store
      val rnd = new scala.util.Random(11)
      val prevFps = (1L to 120L).map(i => i -> rnd.nextLong())
      val prevStore = prevFps.map { case (i, f) => (i, f, "computed") }
        .toDF("doc_id", "fp", "src")
      val prevPairs = Dedup.hammingNearDups(prevFps.toDF("doc_id", "fp"),
        maxHamming = 4, bits = 64)
      // next crawl: 100 retained, 20 removed, 30 computed (10 of them
      // hamming-1 twins of retained fingerprints)
      val retained = prevFps.take(100).map { case (i, f) => (i, f, "retained") }
      val fresh = (1L to 20L).map(i => (i + 5000L, rnd.nextLong(), "computed")) ++
        prevFps.take(10).map { case (i, f) => (i + 6000L, f ^ 1L, "computed") }
      val store = (retained ++ fresh).toDF("doc_id", "fp", "src")
      val ref = Dedup.incrementalHammingNearDups(store, prevPairs,
          maxHamming = 4, bits = 64)
        .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val full = Dedup.hammingNearDups(
          store.select(col("doc_id"), col("fp")), maxHamming = 4, bits = 64)
        .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
      assert(ref == full) // maintained ≡ full at the no-drop cap
      for (s <- Seq(2, 3)) {
        val wide = Dedup.incrementalHammingNearDups(store, prevPairs,
            maxHamming = 4, bits = 64, spareBlocks = s)
          .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
        assert(wide == ref, s"spareBlocks=$s")
      }
    }
  }

  describe("Dedup.simhash") {
    it("equal token sets get equal fingerprints; disjoint sets differ") {
      val fp = Dedup.simhash(corpus, col("doc_id"), col("text"))
        .as[(Long, Long)].collect().toMap
      assert(fp(1L) == fp(2L))
      assert(fp(4L) == fp(6L))
      assert(fp(1L) != fp(4L))
    }

    it("near-dup docs land within a small hamming distance") {
      val fp = Dedup.simhash(corpus, col("doc_id"), col("text"))
        .as[(Long, Long)].collect().toMap
      def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
      assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
    }
  }

  describe("Dedup.incrementalSignatures") {
    val nPerms = 4
    val current = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // unchanged
      (2L, "one two three four five six"),      // changed since prev
      (3L, "red green blue yellow purple"),     // added since prev
      (4L, "north south east west center")      // unchanged
    ).toDF("doc_id", "text")
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five OLD"),      // older revision of 2
      (4L, "north south east west center"),
      (9L, "gone gone gone gone gone"))         // removed since prev
      .toDF("doc_id", "text")
    def store(df: org.apache.spark.sql.DataFrame) =
      Dedup.signatureStore(df, col("doc_id"), col("text"), nPerms)

    it("maintained store ≡ full recompute, with exact provenance") {
      val provenance = Map(1L -> "retained", 2L -> "computed",
        3L -> "computed", 4L -> "retained")
      def srcOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "src").distinct().as[(Long, String)].collect().toMap
      def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
               cols: Seq[String]) = {
        val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
        assert(x.except(y).count() == 0 && y.except(x).count() == 0)
        assert(x.count() == y.count())
      }
      val out = Dedup.incrementalSignatures(current, store(prev),
        col("doc_id"), col("text"), nPerms)
      same(out, store(current), Seq("doc_id", "content_fp") ++ (0 until nPerms).map(i => s"sig$i"))
      assert(srcOf(out) == provenance)
      // the SimHash store
      val sh = Dedup.incrementalSimhash(current,
        Dedup.simhashStore(prev, col("doc_id"), col("text")), col("doc_id"), col("text"))
      same(sh, Dedup.simhashStore(current, col("doc_id"), col("text")),
        Seq("doc_id", "content_fp", "simhash"))
      assert(srcOf(sh) == provenance)
      // the containment index: every posting ≡ full; computed docs are
      // flagged under the current df (≡ full), retained docs keep their
      // stored prefix flags verbatim. Shared shingles make the df matter:
      // "alpha beta gamma" is doc 3's rarest among the computed docs but
      // not in the whole corpus (retained 1 and 4 hold it too).
      val t = 0.9
      val prevC = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "m n o p q"),
        (4L, "alpha beta gamma zeta eta"), (9L, "gone gone gone gone gone"))
        .toDF("doc_id", "text")
      val curC = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "m n o alpha beta"),
        (3L, "m n o alpha beta gamma"), (4L, "alpha beta gamma zeta eta"))
        .toDF("doc_id", "text")
      val prevIdx = Dedup.containmentIndex(prevC, col("doc_id"), col("text"), t)
      val idx = Dedup.incrementalContainmentIndex(curC, prevIdx,
        col("doc_id"), col("text"), t)
      val fullIdx = Dedup.containmentIndex(curC, col("doc_id"), col("text"), t)
      same(idx, fullIdx, Seq("doc_id", "content_fp", "sid"))
      def ofSrc(df: org.apache.spark.sql.DataFrame, src: String) =
        df.join(idx.filter(col("src") === src).select("doc_id").distinct(), "doc_id")
      same(ofSrc(idx, "computed"), ofSrc(fullIdx, "computed"), Seq("doc_id", "sid", "pref"))
      same(ofSrc(idx, "retained"), ofSrc(prevIdx, "retained"),
        Seq("doc_id", "content_fp", "sid", "pref"))
      assert(srcOf(idx) == provenance)
    }

    it("an unchanged crawl recomputes nothing and drops nothing") {
      val out = Dedup.incrementalSignatures(current, store(current),
        col("doc_id"), col("text"), nPerms)
      val src = out.select("src").as[String].collect()
      assert(src.length == 4 && src.forall(_ == "retained"))
    }

    it("shared-diff From variants ≡ the self-diffing forms (q301)") {
      // one manifest diff feeds signatures, simhash, AND postings
      val diff = SnapshotDiff.diffStored(
        prev.select(col("doc_id").as("id"),
          graft.functions.TextFns.hash60(col("text")).as("fp")),
        current, col("doc_id"), graft.functions.TextFns.hash60(col("text")))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(Dedup.incrementalSignaturesFrom(diff, current, store(prev),
          col("doc_id"), col("text"), nPerms)) ==
        rows(Dedup.incrementalSignatures(current, store(prev),
          col("doc_id"), col("text"), nPerms)))
      val shStore = Dedup.simhashStore(prev, col("doc_id"), col("text"))
      assert(rows(Dedup.incrementalSimhashFrom(diff, current, shStore,
          col("doc_id"), col("text"))) ==
        rows(Dedup.incrementalSimhash(current, shStore,
          col("doc_id"), col("text"))))
      val postStore = Retrieval.postingsStore(prev, col("doc_id"), col("text"))
      assert(rows(Retrieval.incrementalPostingsFrom(diff, current, postStore,
          col("doc_id"), col("text"))) ==
        rows(Retrieval.incrementalPostings(current, postStore,
          col("doc_id"), col("text"))))
    }
  }

  describe("Dedup.incrementalLshPairs") {
    val nPerms = 4
    val rpb = 2
    val current = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // dup of 1; both unchanged
      (3L, "one two three four five six"),     // changed since prev
      (4L, "one two three four five six"),     // dup of 3 (after 3's change)
      (5L, "red green blue yellow purple"),    // added since prev
      (6L, "red green blue yellow purple")     // dup of 5; itself unchanged
    ).toDF("doc_id", "text")
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five OLD"),
      (4L, "one two three four five six"),
      (6L, "red green blue yellow purple"),
      (9L, "gone gone gone gone gone gone"),   // removed since prev
      (10L, "gone gone gone gone gone gone"))  // dup of 9, also removed
      .toDF("doc_id", "text")
    def run() = {
      val prevStore = Dedup.signatureStore(prev, col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb)
      val store = Dedup.incrementalSignatures(current, prevStore,
        col("doc_id"), col("text"), nPerms)
      Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb)
    }

    it("maintained pairs ≡ full banding recompute, dropped endpoints gone") {
      val inc = run().select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val full = Dedup.lshCandidates(
        Dedup.minhashSignatures(current, col("doc_id"), col("text"), nPerms),
        nPerms, rpb).as[(Long, Long)].collect().toSet
      assert(inc == full)
      assert(inc.contains((1L, 2L)) && inc.contains((3L, 4L)) && inc.contains((5L, 6L)))
      assert(!inc.exists(p => p._1 >= 9L || p._2 >= 9L)) // (9,10) dropped
    }

    it("origin is survivor exactly when both endpoints are retained") {
      val delta = Set(3L, 5L) // changed + added
      run().select("doc_a", "doc_b", "origin").as[(Long, Long, String)].collect()
        .foreach { case (a, b, o) =>
          val expected = if (delta.contains(a) || delta.contains(b)) "new" else "survivor"
          assert(o == expected, s"pair ($a,$b)")
        }
    }

    it("maintained components ≡ full recompute through the whole chain") {
      val prevStore = Dedup.signatureStore(prev, col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb)
      val prevLabels = prev.select(col("doc_id"))
        .join(Dedup.connectedComponents(prevPairs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val store = Dedup.incrementalSignatures(current, prevStore,
        col("doc_id"), col("text"), nPerms)
      val pairs = Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb)
      val inc = Dedup.incrementalComponents(prevLabels, store, pairs)
        .as[(Long, Long)].collect().toMap
      val full = current.select(col("doc_id"))
        .join(Dedup.connectedComponents(pairs.select("doc_a", "doc_b")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .as[(Long, Long)].collect().toMap
      assert(inc == full)
    }

    it("an unchanged crawl re-expands nothing — every pair is a survivor") {
      val prevStore = Dedup.signatureStore(current, col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb)
      val store = Dedup.incrementalSignatures(current, prevStore,
        col("doc_id"), col("text"), nPerms)
      val out = Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb)
        .select("doc_a", "doc_b", "origin").as[(Long, Long, String)].collect()
      assert(out.nonEmpty && out.forall(_._3 == "survivor"))
      assert(out.map(p => (p._1, p._2)).toSet ==
        prevPairs.as[(Long, Long)].collect().toSet)
    }
  }

  describe("Dedup.containmentPairs") {
    // doc 2 is a verbatim excerpt of doc 1 (every 3-shingle of 2 is in
    // 1, but 1 is much longer → Jaccard low, containment 1.0); doc 3/4
    // are symmetric dups; doc 5 shares a little with 1 (below 0.9)
    val docsDF = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "delta epsilon zeta eta"),
      (3L, "one two three four five"),
      (4L, "one two three four five"),
      (5L, "alpha beta gamma nope xyz war peace fire water earth"))
      .toDF("doc_id", "text")

    it("finds the excerpt Jaccard misses, with exact ppm ratios") {
      val out = Dedup.containmentPairs(docsDF, col("doc_id"), col("text"), 0.9)
        .as[(Long, Long, Long, Long)].collect().toSet
      // doc2: 2 shingles, both in doc1's 8 → C(2→1)=1.0, C(1→2)=2/8
      assert(out.contains((1L, 2L, 250000L, 1000000L)))
      // symmetric dup: both directions 1.0
      assert(out.contains((3L, 4L, 1000000L, 1000000L)))
      // (1,5): 1 shared shingle of 8 — far below 0.9, absent
      assert(!out.exists(p => p._1 == 1L && p._2 == 5L))
      assert(out.size == 2)
      // the motivating gap: symmetric Jaccard at 0.8 does NOT pair (1,2)
      val jacc = Dedup.nearDupPairs(docsDF, col("doc_id"), col("text"), 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(!jacc.contains((1L, 2L)))
    }

    it("candidate prefix loses nothing vs an all-pairs recompute") {
      val rnd = new scala.util.Random(7)
      val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
      val corpus = (0 until 40).map { i =>
        (i.toLong, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val fast = Dedup.containmentPairs(corpus, col("doc_id"), col("text"), 0.7)
        .as[(Long, Long, Long, Long)].collect().toSet
      // brute force over string shingle sets
      val sh = corpus.select(col("doc_id"),
          graft.catalyst.WordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .as[(Long, Seq[String])].collect().toMap
      val brute = (for {
        a <- sh.keys.toSeq; b <- sh.keys.toSeq if a < b
        c = sh(a).toSet.intersect(sh(b).toSet).size.toLong
        ca = c * 1000000L / sh(a).size
        cb = c * 1000000L / sh(b).size
        if math.max(ca, cb) >= 700000L
      } yield (a, b, ca, cb)).toSet
      assert(fast == brute)
    }
  }

  describe("Dedup.cappedBucketCrossings") {
    val nPerms = 4
    val rpb = 4 // one band — every identical doc shares one bucket
    it("flags exactly the bucket whose cap-crossing breaks incremental ≡ full") {
      val txt = "alpha beta gamma delta epsilon"
      val prev = Seq((1L, txt), (2L, txt), (3L, txt))
        .toDF("doc_id", "text")
      val cur = Seq((1L, txt), (2L, txt)).toDF("doc_id", "text") // 3 removed
      val prevStore = Dedup.signatureStore(prev, col("doc_id"), col("text"), nPerms)
      val store = Dedup.incrementalSignatures(cur, prevStore,
        col("doc_id"), col("text"), nPerms)
      // the documented divergence: bucket had 3 docs (> cap 2, pairs
      // dropped), shrank to 2 with no computed member → (1,2) is in a
      // full recompute but NOT in the maintained set
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb, maxBucket = 2)
      val inc = Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb, maxBucket = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val full = Dedup.lshCandidates(store, nPerms, rpb, maxBucket = 2)
        .as[(Long, Long)].collect().toSet
      assert(full.contains((1L, 2L)) && !inc.contains((1L, 2L)))
      // ...and the detector flags exactly that bucket
      val crossings = Dedup.cappedBucketCrossings(prevStore, store, nPerms, rpb, 2)
        .as[(Int, String, Long, Long)].collect()
      assert(crossings.length == 1)
      assert(crossings.head._3 == 3L && crossings.head._4 == 2L)
      // bucket back OVER cap this crawl (3 docs > cap 2) ⇒ its pairs are
      // cap-dropped from the full recompute too ⇒ no flag
      val cur2 = Seq((1L, txt), (2L, txt), (9L, txt)).toDF("doc_id", "text")
      val store2 = Dedup.incrementalSignatures(cur2, prevStore,
        col("doc_id"), col("text"), nPerms)
      assert(Dedup.cappedBucketCrossings(prevStore, store2, nPerms, rpb, 2).count() == 0)
    }

    it("flags a crossing bucket even when it GAINED a computed member") {
      // the retired `touched = 0` predicate's blind spot: prev bucket
      // {1,2,3,4} > cap 3, this crawl removes 3,4 and ADDS computed doc
      // 9 — bucket size 3 <= cap, but pair (1,2) is still in no leg
      // (cap-dropped from prevPairs; fresh leg needs a computed endpoint)
      val txt = "alpha beta gamma delta epsilon"
      val prev = Seq((1L, txt), (2L, txt), (3L, txt), (4L, txt))
        .toDF("doc_id", "text")
      val cur = Seq((1L, txt), (2L, txt), (9L, txt)).toDF("doc_id", "text")
      val prevStore = Dedup.signatureStore(prev, col("doc_id"), col("text"), nPerms)
      val store = Dedup.incrementalSignatures(cur, prevStore,
        col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb, maxBucket = 3)
      assert(prevPairs.count() == 0) // cap-dropped by construction
      val plain = Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb,
        maxBucket = 3).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(!plain.contains((1L, 2L))) // the gap is real
      val crossings = Dedup.cappedBucketCrossings(prevStore, store, nPerms, rpb, 3)
        .as[(Int, String, Long, Long)].collect()
      assert(crossings.length == 1)
      assert(crossings.head._3 == 4L && crossings.head._4 == 3L)
      val checked = Dedup.incrementalLshPairsChecked(prevStore, store, prevPairs,
        nPerms, rpb, maxBucket = 3)
      val full = Dedup.lshCandidates(store, nPerms, rpb, maxBucket = 3)
        .as[(Long, Long)].collect().toSet
      assert(checked.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == full)
      assert(full.contains((1L, 2L)))
    }

    it("incrementalLshPairsChecked auto re-expands the crossing bucket — ≡ full unconditionally") {
      val txt = "alpha beta gamma delta epsilon"
      val prev = Seq((1L, txt), (2L, txt), (3L, txt)).toDF("doc_id", "text")
      val cur = Seq((1L, txt), (2L, txt)).toDF("doc_id", "text")
      val prevStore = Dedup.signatureStore(prev, col("doc_id"), col("text"), nPerms)
      val store = Dedup.incrementalSignatures(cur, prevStore,
        col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb, maxBucket = 2)
      val checked = Dedup.incrementalLshPairsChecked(prevStore, store, prevPairs,
        nPerms, rpb, maxBucket = 2)
      val full = Dedup.lshCandidates(store, nPerms, rpb, maxBucket = 2)
        .as[(Long, Long)].collect().toSet
      assert(checked.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == full)
      // the restored pair arrives as origin=new so downstream verify/
      // component maintenance treat it with fresh-pair semantics
      assert(checked.filter(col("origin") === "new")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
      // no crossing ⇒ checked ≡ plain incremental (empty extra leg)
      val cur3 = Seq((1L, txt), (2L, txt), (3L, txt), (9L, txt)).toDF("doc_id", "text")
      val store3 = Dedup.incrementalSignatures(cur3, prevStore,
        col("doc_id"), col("text"), nPerms)
      val plain = Dedup.incrementalLshPairs(store3, prevPairs, nPerms, rpb)
        .as[(Long, Long, String)].collect().toSet
      val chk3 = Dedup.incrementalLshPairsChecked(prevStore, store3, prevPairs,
        nPerms, rpb).as[(Long, Long, String)].collect().toSet
      assert(chk3 == plain)
    }
  }

  describe("Dedup.incrementalHammingNearDupsChecked") {
    // maxHamming=1, bits=8 -> 2 pigeonhole bands; identical fps share both
    val (mh, bits) = (1, 8)
    val prevStore = Seq(
      (1L, 5L, "computed"), (2L, 5L, "computed"), (3L, 5L, "computed"))
      .toDF("doc_id", "fp", "src")

    it("re-expands the cap-crossing bucket — maintained ≡ full under a finite cap") {
      // prev crawl: bucket of 3 > cap 2, its pairs were DROPPED; this
      // crawl removes doc 3 and keeps 1/2 retained -> bucket shrinks
      // under cap with no computed member: the documented blind spot
      val prevPairs = Dedup.hammingNearDups(
        prevStore.select(col("doc_id"), col("fp")), mh, bits, maxBucket = 2)
      assert(prevPairs.count() == 0) // cap-dropped by construction
      val store = Seq((1L, 5L, "retained"), (2L, 5L, "retained"))
        .toDF("doc_id", "fp", "src")
      val plain = Dedup.incrementalHammingNearDups(store, prevPairs, mh, bits,
        maxBucket = 2).as[(Long, Long, Long)].collect().toSet
      val full = Dedup.hammingNearDups(store.select(col("doc_id"), col("fp")),
        mh, bits, maxBucket = 2).as[(Long, Long, Long)].collect().toSet
      assert(full == Set((1L, 2L, 0L)) && plain.isEmpty) // the gap is real
      // the detector flags exactly the shrunk buckets...
      val crossings = Dedup.hammingCappedBucketCrossings(prevStore, store,
        mh, bits, maxBucket = 2).as[(Int, Long, Long, Long)].collect()
      assert(crossings.nonEmpty && crossings.forall(c => c._3 == 3L && c._4 == 2L))
      // ...and the checked maintenance step restores the pair, verified
      val checked = Dedup.incrementalHammingNearDupsChecked(prevStore, store,
        prevPairs, mh, bits, maxBucket = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(checked == full)
    }

    it("a bucket crossing UP over the cap keeps its surviving pairs — maintained ⊇ full, surplus exact") {
      // the docstring's PRECISE INVARIANT: an up-crossed bucket's
      // previously-verified pairs survive (their stored fps are
      // unchanged, so they are still true pairs) while a full recompute
      // cap-drops them — kept deliberately, pinned here
      val prev2 = Seq((1L, 5L, "computed"), (2L, 5L, "computed"))
        .toDF("doc_id", "fp", "src")
      val prevPairs = Dedup.hammingNearDups(
        prev2.select(col("doc_id"), col("fp")), mh, bits, maxBucket = 3)
      assert(prevPairs.as[(Long, Long, Long)].collect().toSet == Set((1L, 2L, 0L)))
      val store = Seq((1L, 5L, "retained"), (2L, 5L, "retained"),
        (7L, 5L, "computed"), (8L, 5L, "computed"), (9L, 5L, "computed"))
        .toDF("doc_id", "fp", "src")
      val full = Dedup.hammingNearDups(store.select(col("doc_id"), col("fp")),
        mh, bits, maxBucket = 3).as[(Long, Long, Long)].collect().toSet
      assert(full.isEmpty) // the full recompute cap-drops the grown bucket
      val checked = Dedup.incrementalHammingNearDupsChecked(prev2, store,
        prevPairs, mh, bits, maxBucket = 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(checked == Set((1L, 2L, 0L))) // surplus = exactly the survivor
      // the same invariant for the MinHash family: one band, identical
      // texts share one bucket, which grows from 2 to 5 over cap 3
      val (nPerms, rpb) = (4, 4)
      val txt = "alpha beta gamma delta epsilon"
      val prevSig = Dedup.signatureStore(Seq((1L, txt), (2L, txt)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), nPerms)
      val prevLsh = Dedup.lshCandidates(prevSig, nPerms, rpb, maxBucket = 3)
      assert(prevLsh.as[(Long, Long)].collect().toSet == Set((1L, 2L)))
      val sigStore = Dedup.incrementalSignatures(
        Seq(1L, 2L, 7L, 8L, 9L).map(i => (i, txt)).toDF("doc_id", "text"), prevSig,
        col("doc_id"), col("text"), nPerms)
      assert(Dedup.lshCandidates(sigStore, nPerms, rpb, maxBucket = 3).count() == 0)
      val lsh = Dedup.incrementalLshPairsChecked(prevSig, sigStore, prevLsh,
        nPerms, rpb, maxBucket = 3)
        .select("doc_a", "doc_b", "origin").as[(Long, Long, String)].collect().toSet
      assert(lsh == Set((1L, 2L, "survivor")))
    }

    it("restores retained pairs of a crossing bucket that GAINED a computed member") {
      // the retired `touched = 0` predicate's blind spot: prev bucket
      // {1,2,3,4} > cap 3 (pairs cap-dropped), this crawl removes 3,4
      // and ADDS computed doc 9 — the retained pair (1,2) has no
      // computed endpoint, so the delta leg never emits it
      val prev4 = Seq((1L, 5L, "computed"), (2L, 5L, "computed"),
        (3L, 5L, "computed"), (4L, 5L, "computed")).toDF("doc_id", "fp", "src")
      val prevPairs = Dedup.hammingNearDups(
        prev4.select(col("doc_id"), col("fp")), mh, bits, maxBucket = 3)
      assert(prevPairs.count() == 0) // cap-dropped by construction
      val store = Seq((1L, 5L, "retained"), (2L, 5L, "retained"),
        (9L, 5L, "computed")).toDF("doc_id", "fp", "src")
      val plain = Dedup.incrementalHammingNearDups(store, prevPairs, mh, bits,
        maxBucket = 3).as[(Long, Long, Long)].collect().toSet
      assert(plain == Set((1L, 9L, 0L), (2L, 9L, 0L))) // (1,2) lost
      val full = Dedup.hammingNearDups(store.select(col("doc_id"), col("fp")),
        mh, bits, maxBucket = 3).as[(Long, Long, Long)].collect().toSet
      assert(full == Set((1L, 2L, 0L), (1L, 9L, 0L), (2L, 9L, 0L)))
      val checked = Dedup.incrementalHammingNearDupsChecked(prev4, store,
        prevPairs, mh, bits, maxBucket = 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(checked == full)
    }

    it("crossing bucket whose pairs the delta leg already emits ⇒ checked ≡ plain") {
      // a computed member lands in the shrunk bucket and is its only
      // partner -> the delta leg re-expands everything; the checker's
      // re-expansion dedups to nothing through the anti-join
      val prevPairs = Dedup.hammingNearDups(
        prevStore.select(col("doc_id"), col("fp")), mh, bits, maxBucket = 2)
      val store2 = Seq((1L, 5L, "retained"), (9L, 5L, "computed"))
        .toDF("doc_id", "fp", "src")
      val plain = Dedup.incrementalHammingNearDups(store2, prevPairs, mh, bits,
        maxBucket = 2).as[(Long, Long, Long)].collect().toSet
      val checked = Dedup.incrementalHammingNearDupsChecked(prevStore, store2,
        prevPairs, mh, bits, maxBucket = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(checked == plain && plain == Set((1L, 9L, 0L)))
      // default no-drop cap: checked ≡ plain there too (vacuous checker)
      val storeAll = Seq((1L, 5L, "retained"), (2L, 5L, "retained"),
        (7L, 6L, "computed")).toDF("doc_id", "fp", "src")
      val p2 = Dedup.incrementalHammingNearDups(storeAll, prevPairs, mh, bits)
        .as[(Long, Long, Long)].collect().toSet
      val c2 = Dedup.incrementalHammingNearDupsChecked(prevStore, storeAll,
        prevPairs, mh, bits, maxBucket = Int.MaxValue)
        .as[(Long, Long, Long)].collect().toSet
      assert(c2 == p2)
    }
  }

  describe("Dedup.incrementalMinhashNearDups") {
    val nPerms = 4
    val rpb = 2
    val current = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // dup of 1; both unchanged
      (3L, "one two three four five six"),     // changed since prev
      (4L, "one two three four five six"),     // dup of 3 after the change
      (5L, "red green blue yellow purple"),    // added since prev
      (6L, "red green blue yellow purple"))    // dup of 5; itself unchanged
      .toDF("doc_id", "text")
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five OLD"),
      (4L, "one two three four five six"),
      (6L, "red green blue yellow purple"),
      (9L, "gone gone gone gone gone gone"),
      (10L, "gone gone gone gone gone gone"))
      .toDF("doc_id", "text")

    def chain(cur: org.apache.spark.sql.DataFrame,
              prv: org.apache.spark.sql.DataFrame) = {
      val prevStore = Dedup.signatureStore(prv, col("doc_id"), col("text"), nPerms)
      val prevPairs = Dedup.lshCandidates(prevStore, nPerms, rpb)
      val prevVerified = Dedup.minhashNearDups(prv, col("doc_id"), col("text"),
        0.8, nPerms, rpb)
      val store = Dedup.incrementalSignatures(cur, prevStore,
        col("doc_id"), col("text"), nPerms)
      val pairs = Dedup.incrementalLshPairs(store, prevPairs, nPerms, rpb)
      Dedup.incrementalMinhashNearDups(cur, col("doc_id"), col("text"),
        pairs, prevVerified, 0.8)
    }

    it("maintained verified set ≡ full recompute, jacc-for-jacc") {
      val inc = chain(current, prev)
        .as[(Long, Long, Double)].collect().toSet
      val full = Dedup.minhashNearDups(current, col("doc_id"), col("text"),
        0.8, nPerms, rpb).as[(Long, Long, Double)].collect().toSet
      assert(inc == full)
      assert(inc.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
      assert(inc.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 1.0))
      assert(!inc.exists(p => p._1 >= 9L)) // removed docs' pairs gone
    }

    it("an unchanged crawl verifies nothing — output is the carried prev set") {
      val inc = chain(current, current)
        .as[(Long, Long, Double)].collect().toSet
      val full = Dedup.minhashNearDups(current, col("doc_id"), col("text"),
        0.8, nPerms, rpb).as[(Long, Long, Double)].collect().toSet
      assert(inc == full)
    }
  }

  describe("Dedup.incrementalHammingNearDups") {
    val current = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // dup of 1, both unchanged
      (3L, "one two three four five six"),     // changed since prev
      (4L, "one two three four five six"),     // now dup of 3
      (5L, "red green blue yellow purple"),    // added
      (6L, "red green blue yellow purple"))    // dup of 5, unchanged
      .toDF("doc_id", "text")
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different older words here"),
      (4L, "one two three four five six"),
      (6L, "red green blue yellow purple"),
      (9L, "alpha beta gamma delta epsilon"))  // removed dup of 1/2
      .toDF("doc_id", "text")

    it("maintained ≡ full hammingNearDups, hamming carried verbatim, verify never re-hashes") {
      val prevStore = Dedup.simhashStore(prev, col("doc_id"), col("text"))
      val prevPairs = Dedup.simhashNearDups(prev, col("doc_id"), col("text"),
        maxHamming = 1)
      val store = Dedup.incrementalSimhash(current, prevStore,
        col("doc_id"), col("text"))
      // store maintenance itself ≡ full re-hash with exact provenance
      val src = store.select("doc_id", "src").as[(Long, String)].collect().toMap
      assert(src == Map(1L -> "retained", 2L -> "retained", 3L -> "computed",
        4L -> "retained", 5L -> "computed", 6L -> "retained"))
      val inc = Dedup.incrementalHammingNearDups(
          store.select(col("doc_id"), col("simhash").as("fp"), col("src")),
          prevPairs, maxHamming = 1, bits = 32)
        .as[(Long, Long, Long)].collect().toSet
      val full = Dedup.simhashNearDups(current, col("doc_id"), col("text"),
          maxHamming = 1)
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == full)
      assert(inc.exists(p => p._1 == 1L && p._2 == 2L)) // survivor
      assert(inc.exists(p => p._1 == 3L && p._2 == 4L)) // changed→fresh
      assert(inc.exists(p => p._1 == 5L && p._2 == 6L)) // added→fresh
      assert(!inc.exists(p => p._1 == 9L || p._2 == 9L)) // removed gone
    }
  }

  describe("Dedup.incrementalContainmentPairs") {
    val longA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val current = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // retained, contained in 2
      (2L, longA),                             // retained long host
      (3L, "one two three four five"),         // changed since prev
      (4L, "one two three four five six seven eight nine ten"), // retained host of 3
      (5L, longA + " extra tail words here"),  // ADDED long doc containing 1&2
      (6L, "unrelated content entirely different words"))
      .toDF("doc_id", "text")
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, longA),
      (3L, "completely different old revision text"),
      (4L, "one two three four five six seven eight nine ten"),
      (6L, "unrelated content entirely different words"),
      (9L, longA)) // removed since (was a clone of 2)
      .toDF("doc_id", "text")
    val t = 0.7

    def maintained(cur: org.apache.spark.sql.DataFrame,
                   prv: org.apache.spark.sql.DataFrame) = {
      val prevStore = Dedup.containmentIndex(prv, col("doc_id"), col("text"), t)
      val prevPairs = Dedup.containmentPairs(prv, col("doc_id"), col("text"), t)
      val store = Dedup.incrementalContainmentIndex(cur, prevStore,
        col("doc_id"), col("text"), t)
      Dedup.incrementalContainmentPairs(cur, col("doc_id"), col("text"),
        store, prevPairs, t)
    }

    it("maintained ≡ full, membership and both ppm values, incl. retained→computed direction") {
      val inc = maintained(current, prev)
        .as[(Long, Long, Long, Long)].collect().toSet
      val full = Dedup.containmentPairs(current, col("doc_id"), col("text"), t)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(inc == full)
      // the direction computed-only probing misses: retained 1 and 2 are
      // contained in ADDED 5 — pairs (1,5) and (2,5) must be present
      assert(inc.exists(p => p._1 == 1L && p._2 == 5L))
      assert(inc.exists(p => p._1 == 2L && p._2 == 5L))
      // changed doc 3's containment in retained 4 re-verified fresh
      assert(inc.exists(p => p._1 == 3L && p._2 == 4L))
      assert(!inc.exists(p => p._1 == 9L || p._2 == 9L)) // removed gone
    }

    it("an unchanged crawl probes nothing new — output is the carried prev set") {
      val inc = maintained(current, current)
        .as[(Long, Long, Long, Long)].collect().toSet
      val full = Dedup.containmentPairs(current, col("doc_id"), col("text"), t)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(inc == full)
    }
  }
}
