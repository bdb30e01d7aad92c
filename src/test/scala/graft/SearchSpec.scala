package graft

import java.io.FileNotFoundException

import org.apache.spark.SparkThrowable
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{IndexGen, Search}

/** BM25 ranking semantics (rational-idf variant, exact BIGINT scoring). */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def topk(docs: Seq[(Long, String)], terms: Seq[String], k: Int = 10) =
    Search.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq(0L -> terms), k)
      .orderBy("rk")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micros")))

  test("higher tf ranks higher, with diminishing (saturating) returns") {
    val got = topk(Seq(
      (1L, "cat dog dog dog"),
      (2L, "cat dog dog fox"),
      (3L, "cat fox fox fox")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    // saturation: tf 3 scores less than 3x the tf 1 contribution
    val one = topk(Seq((1L, "dog fox fox fox"), (2L, "cat fox fox fox")), Seq("dog"))
    assert(got.head._2 < 3 * one.head._2)
  }

  test("rare terms outweigh common terms") {
    // 'rare' appears in 1 of 5 docs, 'common' in all 5; doc 1 has only
    // common, doc 2 only rare (same tf, same length).
    val docs = Seq(
      (1L, "common aaa bbb"),
      (2L, "rare common ccc"),
      (3L, "common ddd eee"),
      (4L, "common fff ggg"),
      (5L, "common hhh iii"))
    val got = topk(docs, Seq("rare", "common"))
    assert(got.head._1 == 2L)
  }

  test("shorter documents win at equal tf (length normalization)") {
    val got = topk(Seq(
      (1L, "dog cat cat cat cat cat cat cat"),
      (2L, "dog cat")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(2L, 1L))
  }

  test("k bounds the result and ties break by doc_id") {
    val docs = (1L to 8L).map(i => (i, "dog cat"))
    val got = topk(docs, Seq("dog"), k = 3)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._2).distinct.size == 1) // identical docs, equal scores
  }

  test("documents without any query term are absent") {
    val got = topk(Seq((1L, "dog"), (2L, "cat")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(1L))
  }

  test("moreLikeThis uses the query doc's top-tf terms and excludes itself") {
    val docs = Seq(
      (0L, "dog dog dog cat zebra"), // query: top-2 terms = dog, cat
      (1L, "dog dog cat"),
      (2L, "dog cat"),
      (3L, "zebra zebra zebra"), // matches only the EXCLUDED 3rd term
      (4L, "fox fox fox")).toDF("doc_id", "text")
    val got = Search.moreLikeThis(docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("doc_id") === 0, nTerms = 2, k = 10)
      .orderBy("rk").collect()
    // doc 0 itself absent; zebra-only doc 3 absent (zebra not in top-2);
    // dog+cat docs present, higher-tf first
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getAs[Long]("query_id") == 0L))
  }

  test("bm25TopKIndexed matches bm25TopK and term-prunes the postings scan") {
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark")).toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("join", "merge"), 1L -> Seq("spark", "filter"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val viaIndex = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(viaIndex == direct)
    // the build-once/query-many scale property: the query-term list reaches
    // the postings parquet scan as a pushed In filter (with the term-sorted
    // layout that is a row-group seek, not an index scan)
    val plan = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(term"), s"no In(term, ...) pushdown:\n$plan")
  }

  test("refreshIndex equals a from-scratch rebuild relation-for-relation") {
    import org.apache.spark.sql.functions.col
    // shared terms (spark, merge), batch-only terms (stream, batch), a
    // token-less batch doc (weighs on n but not on postings/sum_dl)
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "...")).toDF("doc_id", "text")
    val ledger = docs.where(col("doc_id") <= 4)
    val batch = docs.where(col("doc_id") > 4)
    val refreshedDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_refresh").toString
    Search.buildIndex(ledger, "doc_id", "text", refreshedDir, nFiles = 2)
    Search.refreshIndex(spark, refreshedDir, batch, "doc_id", "text",
      batchFiles = 2)
    val rebuiltDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_rebuild").toString
    Search.buildIndex(docs, "doc_id", "text", rebuiltDir, nFiles = 2)
    def rel(dir: String, name: String): Set[String] =
      spark.read.parquet(s"${IndexGen.resolve(dir)}/$name").collect()
        .map(_.toSeq.mkString("|")).toSet
    for (name <- Seq("postings", "termdf", "stats"))
      assert(rel(refreshedDir, name) == rel(rebuiltDir, name),
        s"$name diverged between refresh and rebuild")
    // and the served results agree with the direct full-corpus path
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "filter"))
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, refreshedDir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
  }

  test("compactIndex rewrites a refresh-chained directory content-equal " +
      "to a fresh build, and refresh lands cleanly on the compacted gen") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "..."),
      (8L, "dog stream spark")).toDF("doc_id", "text")
    val dir =
      java.nio.file.Files.createTempDirectory("graft_bm25_compact").toString
    // refresh chain: build on 1-3, fold in 4-6, then compact
    Search.buildIndex(docs.where(col("doc_id") <= 3),
      "doc_id", "text", dir, nFiles = 2)
    Search.refreshIndex(spark, dir,
      docs.where(col("doc_id") > 3 && col("doc_id") <= 6),
      "doc_id", "text", batchFiles = 2)
    Search.compactIndex(spark, dir, nFiles = 2)
    def rel(d: String, name: String): Set[String] =
      spark.read.parquet(s"${IndexGen.resolve(d)}/$name").collect()
        .map(_.toSeq.mkString("|")).toSet
    // the compacted generation IS a fresh build: same three relations,
    // derived from the standing postings without re-tokenizing the corpus
    val freshDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_fresh").toString
    Search.buildIndex(docs.where(col("doc_id") <= 6),
      "doc_id", "text", freshDir, nFiles = 2)
    for (name <- Seq("postings", "termdf", "stats"))
      assert(rel(dir, name) == rel(freshDir, name),
        s"$name diverged between compaction and fresh build")
    // one-cycle grace: the superseded generation survives, older ones pruned
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
    // a post-compaction refresh appends onto the new generation and the
    // served results still equal the direct full-corpus path
    Search.refreshIndex(spark, dir, docs.where(col("doc_id") > 6),
      "doc_id", "text", batchFiles = 2)
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
  }

  /** Runs `read` against the index at `dir`, retrying it when it failed
    * because the generation that served when it started is gone from disk
    * after at least two more flips: [[IndexGen.flip]] keeps a superseded
    * generation for one cycle only, so that is a legal grace-window
    * expiry. Missing files within the window still fail. */
  private def retryingGraceExpiry[T](dir: String)(read: => T): T = {
    def generation = IndexGen.current(dir).get.stripPrefix("gen_").toInt
    def filesGone(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: FileNotFoundException => true
        case t: SparkThrowable =>
          Set("PATH_NOT_FOUND", "FAILED_READ_FILE.FILE_NOT_EXIST")(t.getCondition)
        case _ => false
      }
    val started = generation
    try read
    catch {
      case e: Exception if filesGone(e) && generation >= started + 2 =>
        retryingGraceExpiry(dir)(read)
    }
  }

  test("compaction flips generations atomically under concurrent readers: " +
      "no query ever observes a mixed or missing generation") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "dog stream spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_swap").toString
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    val expected = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    // reader loop: every query must see EXACTLY the expected result —
    // compaction is a pure re-layout, so a deviation means the reader
    // paired relations across generations; an exception means it caught
    // a half-swapped (missing) directory. Both were possible under the
    // r15 per-relation-rename swap; the pointer flip forbids them.
    @volatile var failure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = retryingGraceExpiry(dir) {
            Search.bm25TopKIndexed(spark, dir, qs, k = 10)
              .orderBy("query_id", "rk").collect().toSeq
          }
          if (got != expected)
            throw new AssertionError(s"mixed generation observed: $got")
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try for (_ <- 1 to 3) Search.compactIndex(spark, dir, nFiles = 2)
    finally { stop.set(true); reader.join() }
    assert(failure.isEmpty, s"concurrent reader failed: ${failure.map(_.toString)}")
    // steady state: serving generation + one-cycle grace predecessor
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
  }

  test("refresh flips generations atomically under concurrent readers: " +
      "every query serves a whole pre- or post-batch generation") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "dog stream spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_refresh_race").toString
    Search.buildIndex(docs.where(col("doc_id") <= 5),
      "doc_id", "text", dir, nFiles = 2)
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    // The refresh pipeline is deterministic, so the three legal whole-
    // generation results (pre-batch, post-batch-6, post-batch-6-and-7)
    // are precomputed by replaying the chain — a reader racing the real
    // chain must observe EXACTLY one of them; anything else means it
    // paired postings/termdf/stats across a batch boundary (possible
    // under the r16 in-place termdf/stats overwrite; the generation
    // flip forbids it)
    val legal = scala.collection.mutable.ArrayBuffer(
      Search.bm25TopKIndexed(spark, dir, qs, k = 10)
        .orderBy("query_id", "rk").collect().toSeq)
    for (hi <- Seq(6L, 7L)) {
      val twin = java.nio.file.Files
        .createTempDirectory(s"graft_bm25_refresh_twin$hi").toString
      Search.buildIndex(docs.where(col("doc_id") <= 5),
        "doc_id", "text", twin, nFiles = 2)
      for (b <- 6L to hi)
        Search.refreshIndex(spark, twin, docs.where(col("doc_id") === b),
          "doc_id", "text", batchFiles = 2)
      legal += Search.bm25TopKIndexed(spark, twin, qs, k = 10)
        .orderBy("query_id", "rk").collect().toSeq
    }
    @volatile var failure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = retryingGraceExpiry(dir) {
            Search.bm25TopKIndexed(spark, dir, qs, k = 10)
              .orderBy("query_id", "rk").collect().toSeq
          }
          if (!legal.contains(got))
            throw new AssertionError(s"mixed generation observed: $got")
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      Search.refreshIndex(spark, dir, docs.where(col("doc_id") === 6),
        "doc_id", "text", batchFiles = 2)
      Search.refreshIndex(spark, dir, docs.where(col("doc_id") === 7),
        "doc_id", "text", batchFiles = 2)
    } finally { stop.set(true); reader.join() }
    assert(failure.isEmpty, s"concurrent reader failed: ${failure.map(_.toString)}")
    // the final chain serves exactly the full-corpus direct results
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
    // steady state: serving generation + one-cycle grace predecessor
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
  }

  test("rrfFuse sums reciprocal ranks, handles single-list docs, ranks top-k") {
    val a = Seq((0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L))
      .toDF("query_id", "rk", "doc_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 13L))
      .toDF("query_id", "rk", "doc_id")
    val got = Search.rrfFuse(a, b, k = 10).orderBy("rk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_micros"),
        r.getAs[Long]("text_rk"), r.getAs[Long]("vec_rk")))
    // doc 11: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 — the only 2-list doc
    assert(got.head == ((11L, 32522L, 2L, 1L)))
    // doc 10: text rank 1 only = 1e6/61
    assert(got(1) == ((10L, 16393L, 1L, 0L)))
    // doc 13: vector rank 2 only = 1e6/62; ties with nothing
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    // every doc exactly once
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("phraseMatches finds exact token sequences, overlaps and repeats " +
      "included, order-sensitively") {
    val docs = Seq(
      (1L, "new york new york city"),   // "new york" twice
      (2L, "york new"),                  // reversed: no match
      (3L, "the new york times"),
      (4L, "a new and a york"),          // non-adjacent: no match
      (5L, "new new new")).toDF("doc_id", "text")
    val two = Search.phraseMatches(docs, Seq("new", "york"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 2L, 3L -> 1L))
    // 3-term phrase, repeated term inside the phrase
    val three = Search.phraseMatches(docs, Seq("new", "york", "new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(three == Map(1L -> 1L))
    // self-overlapping repeated-token phrase: "new new" in "new new new"
    val rep = Search.phraseMatches(docs, Seq("new", "new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(5L -> 2L, 1L -> 0L).filter(_._2 > 0))
    // single-term phrase degrades to term occurrence counts
    val one = Search.phraseMatches(docs, Seq("new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    // case-insensitive via the shared lexer
    val caps = Search.phraseMatches(
      Seq((9L, "New YORK")).toDF("doc_id", "text"), Seq("new", "york"))
    assert(caps.head().getLong(1) == 1L)
  }
}
