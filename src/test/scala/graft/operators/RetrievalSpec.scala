package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class RetrievalSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Class-scope twin of the Zipf-ish generator used by the MaxScore
    * suite: term `w<i>` appears with probability ~1/i per slot. */
  private def zipf2(nDocs: Int, vocab: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs).map { id =>
      val toks = (1 to vocab).flatMap { i =>
        val n = (0 until 3).count(_ => rnd.nextDouble() < 1.0 / i)
        Seq.fill(n)(s"w$i")
      }
      (id, if (toks.isEmpty) "w1" else rnd.shuffle(toks).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def corpus = Seq(
    (0L, "spark joins data with hash joins"),
    (1L, "sort merge joins shuffle data"),
    (2L, "broadcast joins skip the shuffle"),
    (3L, "window functions rank data"))
    .toDF("doc_id", "text")

  describe("Retrieval.postings") {
    it("emits (doc, term, tf, dl) with exact counts") {
      val p = Retrieval.postings(corpus, "doc_id", "text")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(p.contains((0L, "joins", 2L, 6L)))   // tf 2, dl 6
      assert(p.contains((3L, "rank", 1L, 4L)))
      assert(p.count(_._1 == 0L) == 5)            // 5 distinct terms in doc 0
    }
  }

  describe("Retrieval.rm3TopK") {
    it("with fbTerms=0 degenerates to plain BM25 exactly (the " +
       "interpolation adds nothing when no expansion terms exist)") {
      for (seed <- 1 to 2) {
        val docs = zipf2(nDocs = 80, vocab = 20, seed = seed + 70)
        val posts = Retrieval.postings(docs, "doc_id", "text")
        val stats = Retrieval.corpusStats(docs, "text")
        val q = Seq((1L, "w1"), (1L, "w5"), (2L, "w3"))
          .toDF("query_id", "term")
        val got = Retrieval.rm3TopK(posts, q, stats,
            fbDocs = 5, fbTerms = 0, beta = 0.5, k = 10)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val want = Retrieval.bm25TopK(posts, q, stats, k = 10)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(got == want && got.nonEmpty, s"seed $seed diverged")
      }
    }

    it("pulls in a synonym doc the literal query misses: feedback " +
       "doc's co-occurring term expands the query and retrieves a " +
       "doc sharing only that term") {
      val docs = Seq((0L, "x y"), (1L, "y z"), (2L, "z z z"),
        (3L, "w w")).toDF("doc_id", "text")
      val posts = Retrieval.postings(docs, "doc_id", "text")
      val stats = Retrieval.corpusStats(docs, "text")
      val q = Seq((1L, "x")).toDF("query_id", "term")
      // plain BM25 sees only doc 0 (the one doc containing x)
      val plain = Retrieval.bm25TopK(posts, q, stats, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(plain.map(_._3) == List(0L))
      // RM3: feedback doc 0 contributes expansion term y (x itself
      // is excluded), and doc 1 — which shares only y — is retrieved
      val rm3 = Retrieval.rm3TopK(posts, q, stats,
          fbDocs = 1, fbTerms = 2, beta = 0.5, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(rm3.map(_._3) == List(0L, 1L),
        s"expected expansion to retrieve doc 1: $rm3")
      assert(rm3.head._4 > rm3(1)._4)
    }
  }

  describe("Retrieval.phraseOccurrences / proximityRerank") {
    it("counts phrase occurrences by positional intersection — " +
       "repeated phrase terms and overlapping occurrences included") {
      val docs = Seq(
        (0L, "x a b a y"),    // "a b a" once at start 2
        (1L, "a a a"),        // "a a" twice (starts 1, 2)
        (2L, "b a x"))        // no "a b", no "a a"
        .toDF("doc_id", "text")
      val pp = Retrieval.positionalPostings(docs, "doc_id", "text")
      val phrases = Seq(
        (1L, Seq("a", "b", "a")), (2L, Seq("a", "a")),
        (3L, Seq("x", "zz")))
        .toDF("query_id", "terms")
      val got = Retrieval.phraseOccurrences(pp, phrases)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 0L, 1L), (2L, 1L, 2L)))
    }

    it("proximity bonus promotes the adjacent-terms doc over an " +
       "equal-BM25 doc whose terms sit apart") {
      val docs = Seq(
        (0L, "hash x x x join"),   // min pair distance 4
        (1L, "hash join x x x"),   // min pair distance 1
        (2L, "hash only here x x"))
        .toDF("doc_id", "text")
      val q = Seq((1L, "hash"), (1L, "join")).toDF("query_id", "term")
      val posts = Retrieval.postings(docs, "doc_id", "text")
      val stats = Retrieval.corpusStats(docs, "text")
      // base BM25 ties docs 0 and 1 (same tf, same dl) → doc 0 wins
      // the tie on id; the proximity stage must flip them
      val base = Retrieval.bm25TopK(posts, q, stats, k = 3)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(base.map(_._3).take(2) == List(0L, 1L))
      assert(base(0)._4 == base(1)._4)
      val got = Retrieval.proximityRerank(posts,
          Retrieval.positionalPostings(docs, "doc_id", "text"),
          q, stats, kCand = 3, k = 3)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(got.map(_._3) == List(1L, 0L, 2L), s"got $got")
      // single-distinct-term doc 2 keeps its plain BM25 score
      assert(got.find(_._3 == 2L).get._4 ==
        base.find(_._3 == 2L).get._4)
    }
  }

  describe("Retrieval.bm25MaxPTopK") {
    /** Chunked passage relation with pid = doc_id·100000 + chunk_id
      * (the d109 encoding). */
    def chunked(docs: org.apache.spark.sql.DataFrame) = docs
      .filter(length($"text") > 0)
      .select($"doc_id", explode(TextAnalysis
        .chunkExprs($"text", size = 64, overlap = 16)).as("c"))
      .select(($"doc_id" * 100000 + $"c.chunk_id").cast("long")
        .as("pid"), $"c.chunk".as("chunk"))

    it("degenerates to plain BM25 when every doc fits one passage " +
       "(same scores, not just same ranking)") {
      val docs = zipf2(nDocs = 60, vocab = 15, seed = 81) // ≤ 45 toks
      val q = Seq((1L, "w1"), (1L, "w4"), (2L, "w2"))
        .toDF("query_id", "term")
      val ch = chunked(docs)
      val got = Retrieval.bm25MaxPTopK(
          Retrieval.postings(ch, "pid", "chunk"), q,
          Retrieval.corpusStats(ch, "chunk"),
          docIdOf = c => call_function("div", c, lit(100000L)), k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      val want = Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"), q,
          Retrieval.corpusStats(docs, "text"), k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      assert(got == want && got.nonEmpty)
    }

    it("a match in the LAST partial chunk of a long doc still scores " +
       "(tail window emitted once), and passages collapse to one row " +
       "per doc") {
      val noise = (1 to 150).map(i => s"n$i").mkString(" ")
      val docs = Seq(
        (0L, s"$noise needle"),          // needle only in tail chunk
        (1L, "filler words only here"))
        .toDF("doc_id", "text")
      val q = Seq((1L, "needle")).toDF("query_id", "term")
      val ch = chunked(docs)
      val got = Retrieval.bm25MaxPTopK(
          Retrieval.postings(ch, "pid", "chunk"), q,
          Retrieval.corpusStats(ch, "chunk"),
          docIdOf = c => call_function("div", c, lit(100000L)), k = 10)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(got.map(_._3) == List(0L))   // found, once, doc-keyed
      assert(got.head._4 > 0.0)
    }
  }

  describe("Retrieval.bm25TopK") {
    it("matches a hand-computed BM25 score and ranks exact-tf-2 first") {
      val posts = Retrieval.postings(corpus, "doc_id", "text")
      val stats = Retrieval.corpusStats(corpus, "text")
      val q = Seq((1L, "joins")).toDF("query_id", "term")
      val top = Retrieval.bm25TopK(posts, q, stats, k = 4)
        .as[(Long, Long, Long, Double)].collect().toList
      // df(joins)=3, N=4 → idf = ln(1 + 1.5/3.5); avgdl = 20/4 = 5.0
      val idf = math.log(1.0 + (4 - 3 + 0.5) / (3 + 0.5))
      def w(tf: Long, dl: Long): Double = {
        val c = BigDecimal(idf * (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / 5.0)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        c.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(top.map(_._3) == List(0L, 1L, 2L)) // tf2@dl6, then dl5 tie → id
      assert(top.head._4 == w(2, 6))
      assert(top(1)._4 == w(1, 5))
      assert(top(2)._4 == w(1, 5))
    }
    it("a term absent from the corpus contributes no rows") {
      val posts = Retrieval.postings(corpus, "doc_id", "text")
      val stats = Retrieval.corpusStats(corpus, "text")
      val q = Seq((1L, "nonexistent")).toDF("query_id", "term")
      assert(Retrieval.bm25TopK(posts, q, stats, k = 4).count() == 0)
    }
  }

  describe("Retrieval.writeIndex / readIndexSlice / bm25TopKIndexed") {
    it("the stored-df path equals the corpus-window path, and the " +
       "slice scan prunes on the term-bucket partition") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ridx").toString
      try {
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        val q = Seq((1L, "joins"), (2L, "data"), (2L, "shuffle"))
          .toDF("query_id", "term")
        val stats = Retrieval.readStats(spark, tmp)
        val slice = Retrieval.readIndexSlice(
          spark, tmp, Seq("joins", "data", "shuffle"), nBuckets = 8)
        // partition pruning: the scan must carry a static tb filter
        val plan = slice.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") && plan.contains("tb"),
          s"expected a tb partition filter in:\n$plan")
        val viaIndex = Retrieval.bm25TopKIndexed(slice, q, stats, k = 4)
          .as[(Long, Long, Long, Double)].collect().toSet
        val viaWindow = Retrieval.bm25TopK(
          Retrieval.postings(corpus, "doc_id", "text"), q,
          Retrieval.corpusStats(corpus, "text"), k = 4)
          .as[(Long, Long, Long, Double)].collect().toSet
        assert(viaIndex == viaWindow && viaIndex.nonEmpty)
      } finally graft.queries.Rm.rf(tmp)
    }

    it("an appended index serves identically to a fresh full build") {
      val half = java.nio.file.Files
        .createTempDirectory("graft-ridx-h").toString
      val full = java.nio.file.Files
        .createTempDirectory("graft-ridx-f").toString
      try {
        Retrieval.writeIndex(corpus.filter($"doc_id" < 2),
          "doc_id", "text", half, nBuckets = 8)
        Retrieval.appendIndex(corpus.filter($"doc_id" >= 2),
          "doc_id", "text", half, nBuckets = 8)
        Retrieval.writeIndex(corpus, "doc_id", "text", full, nBuckets = 8)
        // dictionary df must match exactly after the merge-swap
        def dict(d: String) = spark.read.parquet(s"${Retrieval.root(spark, d)}/terms")
          .select("term", "df").as[(String, Long)].collect().toMap
        assert(dict(half) == dict(full))
        val q = Seq((1L, "joins"), (1L, "data")).toDF("query_id", "term")
        def serve(d: String) = Retrieval.bm25TopKIndexed(
          Retrieval.readIndexSlice(spark, d, Seq("joins", "data"), 8),
          q, Retrieval.readStats(spark, d), k = 4)
          .as[(Long, Long, Long, Double)].collect().toSet
        assert(serve(half) == serve(full) && serve(full).nonEmpty)
      } finally {
        graft.queries.Rm.rf(half); graft.queries.Rm.rf(full)
      }
    }
  }

  describe("Retrieval.deleteDocs / compactDeletes") {
    it("pre-compaction serving excludes deleted docs while df stays " +
       "stale (the Lucene model); compaction makes the index " +
       "indistinguishable from a fresh build over the survivors") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rdel").toString
      val fresh = java.nio.file.Files
        .createTempDirectory("graft-rdel-f").toString
      try {
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        Retrieval.deleteDocs(Seq(1L, 2L, 99L).toDF("doc_id"), tmp)

        def dict(d: String) = spark.read.parquet(s"${Retrieval.root(spark, d)}/terms")
          .select("term", "df").as[(String, Long)].collect().toMap
        val staleDict = dict(tmp)

        val q = Seq((1L, "joins"), (1L, "data")).toDF("query_id", "term")
        def serve(d: String) = Retrieval.bm25TopKIndexed(
          Retrieval.readServableSlice(spark, d,
            Seq("joins", "data"), nBuckets = 8),
          q, Retrieval.readStats(spark, d), k = 4)
          .as[(Long, Long, Long, Double)].collect().toSet

        // deleted docs vanish from results immediately...
        val pre = serve(tmp)
        assert(pre.nonEmpty && !pre.exists(r => Set(1L, 2L)(r._3)))
        // ...but the dictionary still counts them (stale df)
        assert(staleDict("joins") == 3L)   // docs 0,1,2 — pre-delete df

        Retrieval.compactDeletes(spark, tmp, nBuckets = 8)
        Retrieval.writeIndex(corpus.filter(!$"doc_id".isin(1L, 2L)),
          "doc_id", "text", fresh, nBuckets = 8)
        // dictionary, stats and served scores all snap to exact
        assert(dict(tmp) == dict(fresh))
        def stats(d: String) = spark.read.parquet(s"${Retrieval.root(spark, d)}/stats")
          .as[(Long, Long)].collect().toSet
        assert(stats(tmp) == stats(fresh))
        assert(serve(tmp) == serve(fresh) && serve(fresh).nonEmpty)
        // tombstones consumed; unknown id 99 decremented nothing
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$tmp/tombstones")))
      } finally {
        graft.queries.Rm.rf(tmp); graft.queries.Rm.rf(fresh)
      }
    }
  }

  describe("Retrieval.maxScoreTopK") {
    // A Zipf-ish random corpus: term `w<i>` appears with probability
    // ~1/i, so low-i terms are stopword-class (huge postings, tiny
    // idf) and high-i terms are rare (tiny postings, high idf) — the
    // mix MaxScore's essential/non-essential split exists for.
    def zipfCorpus(nDocs: Int, vocab: Int, seed: Long) = {
      val rnd = new scala.util.Random(seed)
      (0L until nDocs).map { id =>
        val toks = (1 to vocab).flatMap { i =>
          val n = (0 until 3).count(_ => rnd.nextDouble() < 1.0 / i)
          Seq.fill(n)(s"w$i")
        }
        (id, if (toks.isEmpty) "w1" else rnd.shuffle(toks).mkString(" "))
      }.toDF("doc_id", "text")
    }

    it("is bit-identical to the exhaustive scorer on a randomized " +
       "sweep of rare/common query mixes") {
      for (seed <- 1 to 3) {
        val docs = zipfCorpus(nDocs = 120, vocab = 40, seed = seed)
        val posts = Retrieval.postings(docs, "doc_id", "text")
        val stats = Retrieval.corpusStats(docs, "text")
        val rnd = new scala.util.Random(seed + 100)
        val q = (1L to 6L).flatMap { qid =>
          val m = 1 + rnd.nextInt(4)
          Seq.fill(m)(qid -> s"w${1 + rnd.nextInt(40)}").distinct
        }.toDF("query_id", "term")
        val exhaustive = Retrieval.bm25TopK(posts, q, stats, k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val pruned = Retrieval.maxScoreTopK(posts, q, stats, k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(pruned == exhaustive, s"seed $seed diverged")
        assert(exhaustive.nonEmpty)
      }
    }

    it("actually prunes on a rare+common mix, and never scores more " +
       "rows than the exhaustive path") {
      val docs = zipfCorpus(nDocs = 400, vocab = 50, seed = 7)
      val posts = Retrieval.postings(docs, "doc_id", "text")
      val stats = Retrieval.corpusStats(docs, "text")
      // w40+ are rare (df ~ 400·3/40 ≈ 30), w1/w2 are stopword-class
      val q = Seq((1L, "w45"), (1L, "w1"), (2L, "w48"), (2L, "w2"))
        .toDF("query_id", "term")
      val (exhaustive, scored) =
        Retrieval.maxScoreRowCounts(posts, q, stats, k = 5)
      assert(scored <= exhaustive)
      assert(scored < exhaustive,
        s"expected pruning on rare+common queries ($scored vs $exhaustive)")
    }

    it("the dictionary-planned indexed serve path equals the " +
       "exhaustive scorer on the randomized corpus") {
      val docs = zipfCorpus(nDocs = 150, vocab = 40, seed = 11)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-msidx").toString
      try {
        Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 8)
        val rnd = new scala.util.Random(42)
        val q = ((1L to 5L).flatMap { qid =>
          val m = 1 + rnd.nextInt(3)
          Seq.fill(m)(qid -> s"w${1 + rnd.nextInt(40)}").distinct
        } :+ (9L -> "absent_term")).toDF("query_id", "term")
        val exhaustive = Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"), q,
          Retrieval.corpusStats(docs, "text"), k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val indexed = Retrieval.maxScoreIndexedTopK(
          spark, tmp, q, k = 5, nBuckets = 8)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(indexed == exhaustive && exhaustive.nonEmpty)
      } finally graft.queries.Rm.rf(tmp)
    }

    it("handles fewer-than-k corpora (no threshold, nothing pruned)") {
      val posts = Retrieval.postings(corpus, "doc_id", "text")
      val stats = Retrieval.corpusStats(corpus, "text")
      val q = Seq((1L, "joins"), (1L, "shuffle")).toDF("query_id", "term")
      val a = Retrieval.bm25TopK(posts, q, stats, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      val b = Retrieval.maxScoreTopK(posts, q, stats, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      assert(a == b && a.nonEmpty)
    }
  }

  describe("Retrieval.wandTopK") {
    it("is bit-identical to the exhaustive scorer on a randomized " +
       "sweep of rare/common query mixes (lossless pruning)") {
      for (seed <- 1 to 3) {
        val docs = zipf2(nDocs = 120, vocab = 25, seed = seed + 40)
        val posts = Retrieval.postings(docs, "doc_id", "text")
        val stats = Retrieval.corpusStats(docs, "text")
        val q = Seq((1L, "w1"), (1L, "w2"), (1L, "w15"), (1L, "w22"),
          (2L, "w3"), (2L, "w18"), (3L, "w1"), (3L, "w25"))
          .toDF("query_id", "term")
        val got = Retrieval.wandTopK(posts, q, stats, k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val want = Retrieval.bm25TopK(posts, q, stats, k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(got == want && got.nonEmpty, s"seed $seed diverged")
      }
    }

    it("the pivot test prunes a doc MaxScore nominates — one " +
       "mid-bound essential match whose ub alone misses θ — and " +
       "stays lossless (the d149 pruning-activity witness)") {
      // Engineered bound structure at k=1 (N=12, avgdl=52/12):
      //   qa: df=1 → ub≈4.75; θ = contrib_qa(doc0: tf=4, dl=4)≈3.70
      //   qb, qc: df=2 → ub≈3.63 each; ub-ascending cum: qb 3.63 (<θ,
      //   non-essential), qc 7.25 (essential), qa (essential)
      // Nominees (essential-list match): doc0 (qa), doc1 (qc),
      //   doc2 (qb+qc). WAND pivot sums: doc0 4.75 ✓, doc2 7.25 ✓,
      //   doc1 3.63 < θ−1e-6 → PRUNED — MaxScore scores it, WAND
      //   does not. doc3 (qb only, non-essential) nominated by
      //   neither.
      val docs = (Seq(
        (0L, "qa qa qa qa"),
        (1L, "qc f f f f f f f"),
        (2L, "qb qc f f"),
        (3L, "qb f f f")) ++
        (4L to 11L).map(i => (i, "f f f f")))
        .toDF("doc_id", "text")
      val posts = Retrieval.postings(docs, "doc_id", "text")
      val stats = Retrieval.corpusStats(docs, "text")
      val q = Seq((1L, "qa"), (1L, "qb"), (1L, "qc"))
        .toDF("query_id", "term")
      val (nominees, survivors) =
        Retrieval.wandDocCounts(posts, q, stats, k = 1)
      assert(nominees == 3L && survivors == 2L,
        s"expected the pivot test to drop exactly doc 1 " +
          s"(got nominees=$nominees survivors=$survivors)")
      val got = Retrieval.wandTopK(posts, q, stats, k = 1)
        .as[(Long, Long, Long, Double)].collect().toList
      val want = Retrieval.bm25TopK(posts, q, stats, k = 1)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(got == want && got.map(_._3) == List(0L))
    }

    it("handles fewer-than-k corpora (no threshold, nothing pruned)") {
      val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"))
        .toDF("doc_id", "text")
      val posts = Retrieval.postings(docs, "doc_id", "text")
      val stats = Retrieval.corpusStats(docs, "text")
      val q = Seq((1L, "beta"), (1L, "alpha")).toDF("query_id", "term")
      val got = Retrieval.wandTopK(posts, q, stats, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      val want = Retrieval.bm25TopK(posts, q, stats, k = 10)
        .as[(Long, Long, Long, Double)].collect().toList.sorted
      assert(got == want && got.size == 2)
    }
  }

  describe("Retrieval.maxScoreIndexedTopK — degenerate-regime fallback") {
    it("an all-essential / over-threshold query profile takes the " +
       "exhaustive path, with identical output") {
      val docs = zipf2(nDocs = 150, vocab = 20, seed = 5)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-msfall").toString
      try {
        Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 8)
        // every term stopword-class: w1..w3 appear in nearly all docs,
        // so ubs are tiny and near-equal — the running total reaches
        // θ immediately and everything is essential
        val q = Seq((1L, "w1"), (1L, "w2"), (2L, "w2"), (2L, "w3"))
          .toDF("query_id", "term")
        val (path, res) = Retrieval.maxScoreIndexedPlan(spark, tmp, q,
          k = 5, nBuckets = 8, k1 = 1.2, b = 0.75,
          maxCandidatePostings = 10L)   // any real corpus exceeds this
        assert(path == "exhaustive")
        val got = res.as[(Long, Long, Long, Double)]
          .collect().toList.sorted
        val want = Retrieval.bm25TopKIndexed(
          Retrieval.readIndexSlice(spark, tmp,
            Seq("w1", "w2", "w3"), nBuckets = 8),
          q, Retrieval.readStats(spark, tmp), k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(got == want && got.nonEmpty)
        // a fewer-than-k-docs query (θ absent → all terms essential)
        // also falls back under a tight candidate budget
        val (p2, _) = Retrieval.maxScoreIndexedPlan(spark, tmp,
          Seq((1L, "w20")).toDF("query_id", "term"),
          k = 1000, nBuckets = 8, k1 = 1.2, b = 0.75,
          maxCandidatePostings = 3L)
        assert(p2 == "exhaustive")
        // and the rare+common mix under the DEFAULT budget still
        // takes the pruned path
        val (p3, res3) = Retrieval.maxScoreIndexedPlan(spark, tmp,
          Seq((1L, "w1"), (1L, "w19")).toDF("query_id", "term"),
          k = 2, nBuckets = 8, k1 = 1.2, b = 0.75,
          maxCandidatePostings = 1L << 20)
        assert(p3 == "maxscore" && res3.count() > 0)
      } finally graft.queries.Rm.rf(tmp)
    }
  }

  describe("Retrieval.maxScoreIndexedTopK — tombstones") {
    it("pre-compaction MaxScore serving excludes deleted docs and " +
       "equals the exhaustive servable-slice scorer bit-for-bit") {
      val docs = zipf2(nDocs = 150, vocab = 30, seed = 13)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-mstomb").toString
      try {
        Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 8)
        Retrieval.deleteDocs(
          docs.filter($"doc_id" % 2 === 0).select("doc_id"), tmp)
        val rnd = new scala.util.Random(99)
        val q = (1L to 5L).flatMap { qid =>
          Seq.fill(1 + rnd.nextInt(3))(qid -> s"w${1 + rnd.nextInt(30)}")
            .distinct
        }.toDF("query_id", "term")
        val qterms = q.select("term").distinct()
          .as[String].collect().toSeq
        val viaMaxScore = Retrieval.maxScoreIndexedTopK(
          spark, tmp, q, k = 5, nBuckets = 8)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val viaExhaustive = Retrieval.bm25TopKIndexed(
          Retrieval.readServableSlice(spark, tmp, qterms, nBuckets = 8),
          q, Retrieval.readStats(spark, tmp), k = 5)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(viaMaxScore == viaExhaustive && viaMaxScore.nonEmpty)
        assert(!viaMaxScore.exists(_._3 % 2 == 0),
          "a tombstoned doc surfaced through the MaxScore path")
      } finally graft.queries.Rm.rf(tmp)
    }
  }

  describe("Retrieval.sdmTopK") {
    it("matches a hand-computed three-family fixture (the d130 " +
       "discipline): Dirichlet unigrams + ordered (#1) + unordered " +
       "(#uw8) windows, the collection-absent drop per family, and " +
       "the exact round/sum/combine arithmetic") {
      val docsM: Map[Long, Vector[String]] = Map(
        0L -> Vector("a", "b", "a", "b"),
        1L -> Vector("b", "a", "x", "a"),
        2L -> Vector("x", "y", "x", "y"))
      val corpus2 = docsM.toSeq.sortBy(_._1)
        .map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      // query 1 = [a, b]: its bigram occurs ordered-adjacent (doc 0,
      // twice) AND unordered; query 2 = [b, x]: its bigram NEVER
      // occurs ordered-adjacent (cfo = 0 → the ordered family must
      // contribute to NO doc — the collection-absent drop) but does
      // occur unordered (doc 1)
      val queries = Seq((1L, 0L, "a"), (1L, 1L, "b"),
        (2L, 0L, "b"), (2L, 1L, "x"))
      val got = Retrieval.sdmTopK(
        Retrieval.postings(corpus2, "doc_id", "text").localCheckpoint(),
        Retrieval.positionalPostings(corpus2, "doc_id", "text")
          .localCheckpoint(),
        queries.toDF("query_id", "qpos", "term"), k = 10)
        .as[(Long, Long, Long, Double)].collect().toSet

      // ---- the hand model: same math, computed from first
      // principles over the in-memory corpus (no Spark)
      val mu = 300.0
      val cTotal = docsM.values.map(_.size).sum.toDouble
      def tf(d: Long, t: String) = docsM(d).count(_ == t).toLong
      def cf(t: String) = docsM.keys.toSeq.map(tf(_, t)).sum.toDouble
      def dl(d: Long) = docsM(d).size.toLong
      def tfo(d: Long, ta: String, tb: String) = docsM(d).sliding(2)
        .count(w => w.size == 2 && w(0) == ta && w(1) == tb).toLong
      def tfu(d: Long, ta: String, tb: String) = (for {
        (wa, ia) <- docsM(d).zipWithIndex if wa == ta
        (wb, ib) <- docsM(d).zipWithIndex if wb == tb
        if ib != ia && math.abs(ib - ia) < 8
      } yield 1).size.toLong
      def cfo(ta: String, tb: String) =
        docsM.keys.toSeq.map(tfo(_, ta, tb)).sum.toDouble
      def cfu(ta: String, tb: String) =
        docsM.keys.toSeq.map(tfu(_, ta, tb)).sum.toDouble
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def feat(tfv: Long, cfv: Double, dlv: Long): BigDecimal =
        BigDecimal(math.log((tfv + mu * cfv / cTotal) / (dlv + mu)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val bySeq = queries.groupBy(_._1).map { case (q, ts) =>
        q -> ts.sortBy(_._2).map(_._3) }
      val expected = bySeq.flatMap { case (q, seq) =>
        val uni = seq.distinct
        val cands = docsM.keys.filter(d => uni.exists(t => tf(d, t) > 0)).toSeq
        val bigrams = seq.zip(seq.tail).distinct
        val scored = cands.map { d =>
          val sT = uni.map(t => feat(tf(d, t), cf(t), dl(d))).sum.toDouble
          val sO = bigrams.filter { case (a, b) => cfo(a, b) > 0 }
            .map { case (a, b) => feat(tfo(d, a, b), cfo(a, b), dl(d)) }
            .sum.toDouble
          val sU = bigrams.filter { case (a, b) => cfu(a, b) > 0 }
            .map { case (a, b) => feat(tfu(d, a, b), cfu(a, b), dl(d)) }
            .sum.toDouble
          (d, r6(0.85 * sT + 0.1 * sO + 0.05 * sU))
        }
        scored.sortBy { case (d, sc) => (-sc, d) }.zipWithIndex.map {
          case ((d, sc), i) => (q, (i + 1).toLong, d, sc) }
      }.toSet
      // sanity on the fixture itself: q1 candidates exclude doc 2
      // (neither a nor b), q2 spans all three docs, and q2's ordered
      // family is collection-absent
      assert(expected.count(_._1 == 1L) == 2)
      assert(expected.count(_._1 == 2L) == 3)
      assert(cfo("b", "x") == 0.0 && cfu("b", "x") == 1.0)
      assert(got == expected)
    }

    it("the persisted-index serve (sdmIndexedTopK: |C| from stored " +
       "sum_tokens, servable postings slice, pruned positions slice) " +
       "is bit-identical to the batch scorer — the d67/d75 " +
       "discipline applied to the three-family scorer") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sdmidx").toString
      try {
        val docs = zipf2(nDocs = 60, vocab = 12, seed = 93)
        Retrieval.writeIndex(docs, "doc_id", "text", tmp,
          nBuckets = 8, withPositions = true)
        val q = Seq((1L, 0L, "w1"), (1L, 1L, "w2"), (1L, 2L, "w7"),
          (2L, 0L, "w3"), (2L, 1L, "w9"))
          .toDF("query_id", "qpos", "term")
        val got = Retrieval.sdmIndexedTopK(spark, tmp, q, k = 8,
            nBuckets = 8)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        val want = Retrieval.sdmTopK(
            Retrieval.postings(docs, "doc_id", "text").localCheckpoint(),
            Retrieval.positionalPostings(docs, "doc_id", "text")
              .localCheckpoint(),
            q, k = 8)
          .as[(Long, Long, Long, Double)].collect().toList.sorted
        assert(got == want && got.nonEmpty)
      } finally graft.queries.Rm.rf(tmp)
    }
  }

  describe("Retrieval.compactPostings") {
    it("selectively rewrites only fragmented buckets, preserves " +
       "content bit-for-bit, and is idempotent") {
      val docs = zipf2(nDocs = 120, vocab = 25, seed = 21)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rcomp").toString
      try {
        Retrieval.writeIndex(docs.filter($"doc_id" < 40),
          "doc_id", "text", tmp, nBuckets = 4)
        (1 to 2).foreach { w =>
          Retrieval.appendIndex(
            docs.filter($"doc_id" >= w * 40 && $"doc_id" < (w + 1) * 40),
            "doc_id", "text", tmp, nBuckets = 4)
        }
        val before = spark.read
          .schema("doc_id LONG, term STRING, tf LONG, dl LONG, tb LONG")
          .parquet(s"${Retrieval.root(spark, tmp)}/postings")
          .as[(Long, String, Long, Long, Long)].collect().toSet
        import org.apache.hadoop.fs.Path
        val fs = new Path(tmp).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        def census(): Map[Long, Int] = fs
          .listStatus(new Path(s"${Retrieval.root(spark, tmp)}/postings")).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("tb="))
          .map(st => st.getPath.getName.stripPrefix("tb=").toLong ->
            fs.listStatus(st.getPath)
              .count(_.getPath.getName.startsWith("part-")))
          .toMap
        val fragBefore = census()
        assert(fragBefore.values.exists(_ > 1),
          "append waves should have fragmented at least one bucket")
        val rewritten = Retrieval.compactPostings(spark, tmp)
        assert(rewritten.toSet ==
          fragBefore.filter(_._2 > 1).keySet)
        val after = census()
        assert(rewritten.forall(tb => after(tb) == 1))
        // untouched buckets keep their exact file count
        assert(fragBefore.filter(_._2 <= 1).forall {
          case (tb, c) => after(tb) == c })
        val content = spark.read
          .schema("doc_id LONG, term STRING, tf LONG, dl LONG, tb LONG")
          .parquet(s"${Retrieval.root(spark, tmp)}/postings")
          .as[(Long, String, Long, Long, Long)].collect().toSet
        assert(content == before)
        assert(Retrieval.compactPostings(spark, tmp).isEmpty,
          "second compaction should find nothing fragmented")
      } finally graft.queries.Rm.rf(tmp)
    }

    it("restores an orphaned .retired bucket from a crashed run " +
       "before compacting (the kill-between-renames window)") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rcomp-crash").toString
      try {
        val docs = zipf2(nDocs = 40, vocab = 12, seed = 7)
        Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 4)
        import org.apache.hadoop.fs.Path
        val fs = new Path(tmp).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val posts = s"${Retrieval.root(spark, tmp)}/postings"
        val before = spark.read
          .schema("doc_id LONG, term STRING, tf LONG, dl LONG, tb LONG")
          .parquet(posts)
          .as[(Long, String, Long, Long, Long)].collect().toSet
        // simulate the crash: rename-out done, rename-in never ran —
        // the bucket exists ONLY under its dot-prefixed retired name
        val victim = fs.listStatus(new Path(posts)).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("tb=")).head.getPath
        val tb = victim.getName
        assert(fs.rename(victim, new Path(posts, s".$tb.retired")))
        // parquet now silently misses that bucket's rows...
        val torn = spark.read
          .schema("doc_id LONG, term STRING, tf LONG, dl LONG, tb LONG")
          .parquet(posts)
          .as[(Long, String, Long, Long, Long)].collect().toSet
        assert(torn.size < before.size)
        // ...and the recovery sweep restores it on the next run
        Retrieval.compactPostings(spark, tmp)
        val after = spark.read
          .schema("doc_id LONG, term STRING, tf LONG, dl LONG, tb LONG")
          .parquet(posts)
          .as[(Long, String, Long, Long, Long)].collect().toSet
        assert(after == before)
      } finally graft.queries.Rm.rf(tmp)
    }
  }

  describe("Retrieval version pointer (compaction reader atomicity)") {
    it("a reader interleaved between staging and the flip serves the " +
       "complete OLD snapshot; after the flip, the complete new one " +
       "— never new postings with the old dictionary (the round-10 " +
       "two-rename mix)") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rflip").toString
      val fresh = java.nio.file.Files
        .createTempDirectory("graft-rflip-f").toString
      try {
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        def dict(d: String) = spark.read
          .parquet(s"${Retrieval.root(spark, d)}/terms")
          .select("term", "df").as[(String, Long)].collect().toMap
        def stats(d: String) = spark.read
          .parquet(s"${Retrieval.root(spark, d)}/stats")
          .as[(Long, Long)].collect().toSet
        val dict0 = dict(tmp)
        val stats0 = stats(tmp)
        Retrieval.deleteDocs(Seq(1L, 2L).toDF("doc_id"), tmp)
        // staging half done, flip NOT yet — the interleaved reader
        val staged = Retrieval.stageCompactedVersion(spark, tmp)
        assert(staged.contains(1L))
        assert(new java.io.File(s"$tmp/v1/postings").isDirectory &&
          new java.io.File(s"$tmp/v1/terms").isDirectory &&
          new java.io.File(s"$tmp/v1/stats").isDirectory,
          "the next version must be COMPLETELY staged before any flip")
        // pointer still names v0: dictionary AND stats both still old
        assert(Retrieval.root(spark, tmp).endsWith("/v0"))
        assert(dict(tmp) == dict0)
        assert(stats(tmp) == stats0)
        // the flip: one pointer write — both tables change together
        import org.apache.hadoop.fs.Path
        val fs = new Path(tmp).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        Retrieval.flipVersion(fs, tmp, 1L)
        assert(Retrieval.root(spark, tmp).endsWith("/v1"))
        Retrieval.writeIndex(corpus.filter(!$"doc_id".isin(1L, 2L)),
          "doc_id", "text", fresh, nBuckets = 8)
        assert(dict(tmp) == dict(fresh))
        assert(stats(tmp) == stats(fresh))
      } finally {
        graft.queries.Rm.rf(tmp); graft.queries.Rm.rf(fresh)
      }
    }
  }

  describe("Retrieval version lifecycle (grace windows, flat migration)") {
    it("writeIndex retains the replaced version until the NEXT " +
       "maintenance op's GC (the compactDeletes grace discipline) " +
       "instead of failing in-flight readers at the flip") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-grace").toString
      def vdirs = new java.io.File(tmp).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName).toSet
      try {
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        assert(vdirs == Set("v0"))
        Retrieval.writeIndex(corpus.filter($"doc_id" < 3),
          "doc_id", "text", tmp, nBuckets = 8)
        // the replaced v0 is RETAINED (its readers' grace window),
        // the pointer serves v1
        assert(vdirs == Set("v0", "v1"))
        assert(Retrieval.root(spark, tmp).endsWith("/v1"))
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        // the next op's GC collected v0; v1 enters its grace window
        assert(vdirs == Set("v1", "v2"))
        assert(Retrieval.root(spark, tmp).endsWith("/v2"))
        assert(spark.read
          .parquet(s"${Retrieval.root(spark, tmp)}/stats")
          .as[(Long, Long)].head()._1 == 4L)
      } finally graft.queries.Rm.rf(tmp)
    }

    it("positions ride the index lifecycle: writeIndex stores them, " +
       "appendIndex file-adds them, the pruned slice serves the " +
       "batch-identical phrase result, and compaction drops deleted " +
       "docs' rows") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-positions").toString
      try {
        val phrases = Seq((1L, Seq("joins", "data")))
          .toDF("query_id", "terms")
        Retrieval.writeIndex(corpus.filter($"doc_id" < 2),
          "doc_id", "text", tmp, nBuckets = 8, withPositions = true)
        Retrieval.appendIndex(corpus.filter($"doc_id" >= 2),
          "doc_id", "text", tmp, nBuckets = 8)
        def served = Retrieval.phraseOccurrences(
            Retrieval.readPositionsSlice(spark, tmp,
              Seq("joins", "data"), nBuckets = 8), phrases)
          .as[(Long, Long, Long)].collect().toSet
        val batch = Retrieval.phraseOccurrences(
            Retrieval.positionalPostings(corpus, "doc_id", "text"),
            phrases)
          .as[(Long, Long, Long)].collect().toSet
        assert(served == batch && batch == Set((1L, 0L, 1L)))
        Retrieval.deleteDocs(Seq(0L).toDF("doc_id"), tmp)
        Retrieval.compactDeletes(spark, tmp, nBuckets = 8)
        assert(served.isEmpty,
          "compacted positions must drop the deleted doc's rows")
      } finally graft.queries.Rm.rf(tmp)
    }

    it("a tombstoned doc vanishes from the positional serve " +
       "IMMEDIATELY — pre-compaction (r18 verdict #1): " +
       "readPositionsSlice shares readServableSlice's " +
       "minusTombstones gate, so the delete-visibility contract " +
       "holds for phrase AND proximity serves inside the " +
       "tombstones-pending window") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-postomb").toString
      try {
        val phrases = Seq((1L, Seq("joins", "data")))
          .toDF("query_id", "terms")
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp,
          nBuckets = 8, withPositions = true)
        def served = Retrieval.phraseOccurrences(
            Retrieval.readPositionsSlice(spark, tmp,
              Seq("joins", "data"), nBuckets = 8), phrases)
          .as[(Long, Long, Long)].collect().toSet
        assert(served == Set((1L, 0L, 1L)),
          "pre-delete the phrase must hit doc 0")
        Retrieval.deleteDocs(Seq(0L).toDF("doc_id"), tmp)
        // NO compactDeletes — this is the window where the positional
        // path used to resurface deleted docs
        assert(served.isEmpty,
          "a tombstoned doc must not appear in a positional serve")
        // the proximity serve's candidate pass is also servable-gated:
        // doc 0 must not be nominated
        val q = Seq((1L, "joins"), (1L, "data")).toDF("query_id", "term")
        val prox = Retrieval.proximityRerankIndexed(spark, tmp,
            nBuckets = 8, q, Seq("joins", "data"), kCand = 4, k = 4)
          .select("doc_id").as[Long].collect().toSet
        assert(prox.nonEmpty && !prox.contains(0L),
          "a tombstoned doc must not be nominated by the indexed " +
            "proximity serve")
      } finally graft.queries.Rm.rf(tmp)
    }

    it("a crashed staging's orphan version (never flipped to) is " +
       "GC'd and its number restaged by the next writeIndex — " +
       "readers never resolve the orphan while CURRENT exists") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-orphan").toString
      try {
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        // simulate a crash mid-staging: a half-born v1, never flipped
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$tmp/v1/postings"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/v1/postings/garbage"),
          "not parquet".getBytes("UTF-8"))
        assert(Retrieval.root(spark, tmp).endsWith("/v0"),
          "CURRENT must win over a higher orphan dir")
        Retrieval.writeIndex(corpus.filter($"doc_id" < 3),
          "doc_id", "text", tmp, nBuckets = 8)
        // the orphan was swept and v1 restaged FRESH (its number
        // reused), the replaced v0 retained for its grace window
        assert(Retrieval.root(spark, tmp).endsWith("/v1"))
        assert(!new java.io.File(s"$tmp/v1/postings/garbage").exists,
          "orphan staging content must not survive into the restage")
        assert(spark.read
          .parquet(s"${Retrieval.root(spark, tmp)}/stats")
          .as[(Long, Long)].head()._1 == 3L)
      } finally graft.queries.Rm.rf(tmp)
    }

    it("legacy-flat migration: while v1 stages (CURRENT absent) " +
       "readers resolve the INTACT flat layout — never the " +
       "half-written version — and the flat tables are collected by " +
       "the next maintenance op, not leaked forever") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-flatmig").toString
      import org.apache.hadoop.fs.Path
      val fs = new Path(tmp).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      try {
        // manufacture a legacy flat layout: build versioned, hoist
        // v0's tables to the root, drop the pointer
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        Seq("postings", "terms", "stats").foreach(t =>
          assert(fs.rename(new Path(s"$tmp/v0/$t"), new Path(s"$tmp/$t"))))
        fs.delete(new Path(s"$tmp/CURRENT"), false)
        fs.delete(new Path(s"$tmp/v0"), true)
        assert(Retrieval.root(spark, tmp) == tmp)
        def dict = spark.read
          .parquet(s"${Retrieval.root(spark, tmp)}/terms")
          .select("term", "df").as[(String, Long)].collect().toMap
        val dict0 = dict
        // stage the migration WITHOUT flipping: the whole staging
        // duration has CURRENT absent and a growing v1 — a reader
        // must keep resolving the complete flat snapshot
        Retrieval.deleteDocs(Seq(0L).toDF("doc_id"), tmp)
        val staged = Retrieval.stageCompactedVersion(spark, tmp)
        assert(staged.contains(1L))
        assert(new java.io.File(s"$tmp/v1/stats").isDirectory)
        assert(Retrieval.root(spark, tmp) == tmp,
          "mid-migration reader must see the flat layout, not v1")
        assert(dict == dict0)
        Retrieval.flipVersion(fs, tmp, 1L)
        assert(Retrieval.root(spark, tmp).endsWith("/v1"))
        assert(!dict.contains("spark")) // doc 0's exclusive terms gone
        // flat tables still on disk (old readers' grace window)...
        assert(new java.io.File(s"$tmp/stats").exists)
        // ...until the next maintenance op sweeps them with the GC
        Retrieval.writeIndex(corpus, "doc_id", "text", tmp, nBuckets = 8)
        assert(!new java.io.File(s"$tmp/stats").exists &&
          !new java.io.File(s"$tmp/postings").exists &&
          !new java.io.File(s"$tmp/terms").exists,
          "post-migration flat tables must be GC'd, not leaked")
        assert(Retrieval.root(spark, tmp).endsWith("/v2"))
      } finally graft.queries.Rm.rf(tmp)
    }
  }

  describe("Retrieval.impactDocMap / bm25Top1DocMap") {
    it("the document-at-a-time cached serve is bit-identical to " +
       "bm25TopKIndexed(k=1) across random corpora and query mixes") {
      for (seed <- 1 to 3) {
        val docs = zipf2(nDocs = 130, vocab = 30, seed = seed + 40)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-docmap").toString
        try {
          Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 8)
          val vocab = spark.read.parquet(s"${Retrieval.root(spark, tmp)}/terms")
            .select("term").as[String].collect().toSeq
          val slice = Retrieval.readIndexSlice(spark, tmp, vocab, 8)
          val stats = Retrieval.readStats(spark, tmp)
          val docMap = Retrieval.impactDocMap(slice, stats)
          val rnd = new scala.util.Random(seed)
          // rare+common mixes, an absent-term query, a no-match query
          val qs = (1L to 8L).map { qid =>
            qid -> (Seq.fill(1 + rnd.nextInt(3))(
              s"w${1 + rnd.nextInt(30)}").distinct)
          } ++ Seq(90L -> Seq("w1", "zzz_absent"), 91L -> Seq("nope"))
          val arr = qs.toDF("query_id", "terms")
          val exploded = qs.flatMap { case (q, ts) => ts.map(q -> _) }
            .toDF("query_id", "term")
          val got = Retrieval.bm25Top1DocMap(docMap, arr)
            .as[(Long, Long, Long, Double)].collect().toList.sorted
          val want = Retrieval.bm25TopKIndexed(slice, exploded, stats,
              k = 1)
            .as[(Long, Long, Long, Double)].collect().toList.sorted
          assert(got == want && got.nonEmpty, s"seed $seed diverged")
          assert(!got.exists(_._1 == 91L))   // no-match query: no row
          // the candidate-pruned scan (Σ df rows instead of
          // |docs| × |batch|) must be bit-identical — the plan-time
          // scan-vs-prune switch is invisible in results
          val gotP = Retrieval.bm25Top1DocMapPruned(docMap, slice, arr)
            .as[(Long, Long, Long, Double)].collect().toList.sorted
          assert(gotP == want, s"seed $seed pruned top-1 diverged")
          // general-k gather through the TopKAgg partial aggregation
          for (k <- Seq(3, 7, 1000)) {
            val gotK = Retrieval.bm25TopKDocMap(docMap, arr, k)
              .as[(Long, Long, Long, Double)].collect().toList.sorted
            val wantK = Retrieval.bm25TopKIndexed(slice, exploded,
                stats, k)
              .as[(Long, Long, Long, Double)].collect().toList.sorted
            assert(gotK == wantK && gotK.nonEmpty,
              s"seed $seed k=$k diverged")
            val gotKP = Retrieval
              .bm25TopKDocMapPruned(docMap, slice, arr, k)
              .as[(Long, Long, Long, Double)].collect().toList.sorted
            assert(gotKP == wantK, s"seed $seed k=$k pruned diverged")
          }
        } finally graft.queries.Rm.rf(tmp)
      }
    }
  }

  describe("TopKAgg") {
    it("equals the sort-based reference on random groups, ks and " +
       "tie patterns (incl. k > group size and duplicate scores)") {
      for (seed <- 1 to 5) {
        val rnd = new scala.util.Random(seed)
        val k = 1 + rnd.nextInt(6)
        // few distinct scores → dense ties; ids unique per group
        val rows = (1 to 400).map { i =>
          (rnd.nextInt(7).toLong,                       // group
            math.floor(rnd.nextDouble() * 4) / 4.0,     // score (ties)
            i.toLong)                                   // id
        }
        val got = rows.toDF("g", "score", "id")
          .groupBy("g")
          .agg(TopKAgg.topK(k)(col("score"), col("id")).as("top"))
          .as[(Long, Seq[(Double, Long)])].collect().toMap
        val want = rows.groupBy(_._1).view.mapValues(
          _.map(r => (r._2, r._3))
            .sortBy { case (s, id) => (-s, id) }.take(k).toSeq).toMap
        assert(got == want, s"seed $seed k=$k")
      }
    }
  }

  describe("Retrieval.booleanAnd") {
    it("agrees with a brute-force contains-all filter") {
      val posts = Retrieval.postings(corpus, "doc_id", "text")
      val terms = Seq("joins", "data")
      val got = Retrieval.booleanAnd(posts, terms)
        .as[(Long, Long)].collect().toMap
      val want = corpus.as[(Long, String)].collect()
        .filter { case (_, t) =>
          val toks = t.split(" "); terms.forall(toks.contains) }
        .map { case (id, t) =>
          id -> t.split(" ").count(terms.contains).toLong }
        .toMap
      assert(got == want)            // docs 0 (3 hits) and 1 (2 hits)
      assert(got == Map(0L -> 3L, 1L -> 2L))
    }
  }

  describe("Retrieval.bucketOf") {
    it("equals the pmod(xxhash64(term), n) column form writeIndex " +
        "partitions by, over ascii/unicode/empty terms and several " +
        "bucket counts (round 20: the driver-side bucket literal " +
        "must read exactly the buckets the index writer assigned)") {
      val terms = Seq("hash", "join", "the", "", "é", "中文", "🙂x",
        "a b", "w123456789", "ZZZ") ++
        (0 until 30).map(i => s"t$i")
      for (n <- Seq(4, 16, 64)) {
        val want = terms.toDF("t")
          .select(col("t"), pmod(xxhash64(col("t")), lit(n)).as("b"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val got = terms.map(t => t -> Retrieval.bucketOf(t, n)).toMap
        assert(got == want, s"nBuckets=$n diverged")
      }
    }
  }

  describe("Retrieval indexed serves — per-call snapshot, driver-side planning") {
    type Out = List[(Long, Long, Long, Double)]
    def out(df: org.apache.spark.sql.DataFrame): Out =
      df.as[(Long, Long, Long, Double)].collect().toList.sorted
    def withDir[A](f: String => A): A = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-snap").toString
      try f(tmp) finally graft.queries.Rm.rf(tmp)
    }

    it("writeIndex into a directory that does not exist builds the " +
       "index, and serving from it equals the batch scorer") {
      withDir { tmp =>
        val dir = s"$tmp/no/such/dir/index"
        Retrieval.writeIndex(corpus, "doc_id", "text", dir, nBuckets = 8)
        val q = Seq((1L, "joins"), (1L, "data"), (2L, "shuffle"))
          .toDF("query_id", "term")
        val got = out(Retrieval.maxScoreIndexedTopK(spark, dir, q, k = 3,
          nBuckets = 8))
        val want = out(Retrieval.bm25TopK(
          Retrieval.postings(corpus, "doc_id", "text"), q,
          Retrieval.corpusStats(corpus, "text"), k = 3))
        assert(got == want && got.nonEmpty)
      }
    }

    it("compactPostings keeps a STRING doc_id index servable: two " +
       "appends, compact, and the serve after equals the serve before") {
      withDir { dir =>
        val docs = zipf2(nDocs = 90, vocab = 20, seed = 41)
          .select(concat(lit("d"), col("doc_id")).as("doc_id"),
            col("doc_id").as("n"), col("text"))
        def wave(w: Int) = docs.filter(col("n") >= w * 30 &&
          col("n") < (w + 1) * 30).drop("n")
        Retrieval.writeIndex(wave(0), "doc_id", "text", dir, nBuckets = 4)
        Retrieval.appendIndex(wave(1), "doc_id", "text", dir, nBuckets = 4)
        Retrieval.appendIndex(wave(2), "doc_id", "text", dir, nBuckets = 4)
        val q = Seq((1L, "w1"), (1L, "w7"), (2L, "w3"), (2L, "w11"))
          .toDF("query_id", "term")
        def serve(): Seq[Seq[String]] = Seq(
          Retrieval.maxScoreIndexedTopK(spark, dir, q, k = 5, nBuckets = 4),
          Retrieval.qlDirichletIndexedTopK(spark, dir, q, k = 5,
            nBuckets = 4))
          .map(_.collect().map(_.mkString(",")).toSeq.sorted)
        val before = serve()
        assert(Retrieval.compactPostings(spark, dir).nonEmpty,
          "two appends should have fragmented a bucket")
        val after = serve()
        assert(after == before && before.forall(_.nonEmpty))
      }
    }

    it("each indexed serve (bm25 MaxScore, QL, SDM) equals its batch " +
       "form on random corpora, across duplicate query terms, " +
       "single-term queries, one term at adjacent qpos and a query " +
       "with no indexed term") {
      for (seed <- 1 to 3) withDir { dir =>
        val rnd = new scala.util.Random(seed * 101L)
        val vocab = 12 + rnd.nextInt(12)
        val docs = zipf2(nDocs = 50 + rnd.nextInt(40), vocab = vocab,
          seed = seed + 300)
        Retrieval.writeIndex(docs, "doc_id", "text", dir, nBuckets = 8,
          withPositions = true)
        def w() = s"w${1 + rnd.nextInt(vocab)}"
        val seqs: Seq[Seq[String]] = Seq(
          Seq(w(), w(), w()),                    // random, may repeat
          Seq(w()),                              // single term
          { val t = w(); Seq(t, w(), t) },       // duplicate term
          { val t = w(); Seq(t, t) },            // one term, adjacent qpos
          Seq("absent_term"),                    // no indexed term
          Seq(w(), "absent_term", w()))
        val q = seqs.zipWithIndex.flatMap { case (ts, qi) =>
          ts.zipWithIndex.map { case (t, pos) => (qi.toLong, pos.toLong, t) }
        }.toDF("query_id", "qpos", "term")
        val qt = q.select("query_id", "term")
        val posts = Retrieval.postings(docs, "doc_id", "text")
          .localCheckpoint()
        val k = 1 + rnd.nextInt(6)
        val pairs = Seq(
          "bm25" -> (Retrieval.maxScoreIndexedTopK(spark, dir, qt, k,
              nBuckets = 8),
            Retrieval.bm25TopK(posts, qt,
              Retrieval.corpusStats(docs, "text"), k)),
          "ql" -> (Retrieval.qlDirichletIndexedTopK(spark, dir, qt, k,
              nBuckets = 8),
            Retrieval.qlDirichletTopK(posts, qt, k)),
          "sdm" -> (Retrieval.sdmIndexedTopK(spark, dir, q, k,
              nBuckets = 8),
            Retrieval.sdmTopK(posts,
              Retrieval.positionalPostings(docs, "doc_id", "text")
                .localCheckpoint(), q, k)))
        pairs.foreach { case (name, (indexed, batch)) =>
          val (got, want) = (out(indexed), out(batch))
          assert(got == want && got.nonEmpty,
            s"seed $seed k=$k: $name indexed serve differs from its batch form")
        }
      }
    }

    it("MaxScore's indexed plan counts a repeated query term once per " +
       "occurrence in its bounds: a doc matching only the repeated " +
       "term outscores θ and must not be pruned") {
      withDir { dir =>
        // c (df 5) is non-essential by its single bound (2.95 < θ =
        // 3.87, the best r-only score) but doc 2 scores 2·contrib(c)
        // = 4.97 on the query (c, c, r) and ranks first
        val docs = (Seq("r r r r r", "r x1 x2 x3 x4 x5", "c c c c c c c c") ++
          (0 until 4).map(j => s"c y${j}a y${j}b y${j}c y${j}d y${j}e") ++
          (7 until 20).map(i => (0 until 6).map(j => s"f${i}_$j").mkString(" ")))
          .zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        Retrieval.writeIndex(docs, "doc_id", "text", dir, nBuckets = 4)
        val q = Seq((1L, "c"), (1L, "c"), (1L, "r")).toDF("query_id", "term")
        val (path, plan) = Retrieval.maxScoreIndexedPlan(spark, dir, q,
          k = 1, nBuckets = 4, k1 = 1.2, b = 0.75,
          maxCandidatePostings = 1L << 20)
        val want = out(Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"), q,
          Retrieval.corpusStats(docs, "text"), k = 1))
        assert(want.map(_._3) == List(2L))
        assert(path == "maxscore" && out(plan) == want)
      }
    }

    it("a warm serve stays within its job budget (schema inference " +
       "once per table, one stats read, query-set planning on the " +
       "driver)") {
      withDir { dir =>
        val docs = zipf2(nDocs = 80, vocab = 20, seed = 57)
        Retrieval.writeIndex(docs, "doc_id", "text", dir, nBuckets = 8,
          withPositions = true)
        val q = Seq((1L, 0L, "w2"), (1L, 1L, "w9"), (2L, 0L, "w4"),
          (2L, 1L, "w5"), (2L, 2L, "w13"))
          .toDF("query_id", "qpos", "term")
        val qt = q.select("query_id", "term")
        val serves = Seq(
          "bm25" -> (() => Retrieval.maxScoreIndexedTopK(spark, dir, qt,
            k = 5, nBuckets = 8)),
          "ql" -> (() => Retrieval.qlDirichletIndexedTopK(spark, dir, qt,
            k = 5, nBuckets = 8)),
          "sdm" -> (() => Retrieval.sdmIndexedTopK(spark, dir, q, k = 5,
            nBuckets = 8)))
        // every Spark job of the serve, counted by job group; a fence
        // job's start proves every earlier event has been delivered
        // (the listener bus is ordered)
        val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            groups.add(String.valueOf(
              e.properties.getProperty("spark.jobGroup.id")))
        }
        val sc = spark.sparkContext
        def jobs(group: String)(run: => Unit): Int = {
          sc.setJobGroup(group, group)
          try run finally sc.clearJobGroup()
          sc.setJobGroup(s"$group-fence", "fence")
          try spark.range(1).count() finally sc.clearJobGroup()
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (!groups.contains(s"$group-fence") &&
              System.nanoTime() < deadline) Thread.sleep(10)
          assert(groups.contains(s"$group-fence"), "fence job never seen")
          groups.toArray.count(_ == group)
        }
        sc.addSparkListener(listener)
        try {
          val counts = serves.map { case (name, serve) =>
            serve().collect()                    // cold: warm the JVM
            name -> jobs(s"budget-$name")(serve().collect())
          }.toMap
          info(s"warm serve jobs: $counts")
          // measured on this fixture; before the snapshot and the
          // driver-side planning these serves ran 25 / 15 / 40 jobs
          val budget = Map("bm25" -> 18, "ql" -> 12, "sdm" -> 31)
          budget.foreach { case (name, max) =>
            assert(counts(name) <= max,
              s"$name serve launched ${counts(name)} jobs (budget $max)")
          }
        } finally sc.removeSparkListener(listener)
      }
    }
  }
}
