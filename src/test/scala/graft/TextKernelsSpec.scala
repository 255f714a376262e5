package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextKernels
import graft.operators.TextOps

/** C8/C9 semantics: SimHash locality, winnowing guarantees. */
class TextKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("canonicalText merges case/punctuation/whitespace variants (C36)") {
    import spark.implicits._
    // four renderings of the same sentence + one genuinely different doc
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "hello  world."),
      (4L, " HELLO WORLD "), (5L, "goodbye world")
    ).toDF("doc_id", "text")
    val clusters = docs
      .groupBy(md5(TextOps.canonicalText(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(clusters == Map(1L -> 4L, 5L -> 1L))
  }

  test("winnowing: identical texts share all fingerprints; coverage holds") {
    val a = TextKernels.winnow("the quick brown fox jumps over the lazy dog", 8, 4)
    val b = TextKernels.winnow("the quick brown fox jumps over the lazy dog", 8, 4)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
    // winnowing guarantee: any shared substring of length >= k+w-1 yields
    // a shared fingerprint between the two documents
    val doc1 = "xxxx the quick brown fox jumps zzzz"
    val doc2 = "yy the quick brown fox jumps qqqqqq"
    val s1 = TextKernels.winnow(doc1, 8, 4).toSet
    val s2 = TextKernels.winnow(doc2, 8, 4).toSet
    assert((s1 & s2).nonEmpty)
    // unrelated texts share nothing
    val s3 = TextKernels.winnow("0123456789abcdefghij", 8, 4).toSet
    assert((s1 & s3).isEmpty)
  }

  test("winnowing: short text below k yields no fingerprints") {
    assert(TextKernels.winnow("short", 8, 4).isEmpty)
  }

  test("simhash: near-dup documents are close in hamming distance") {
    // sf0.001 contains generator-made near-dup pairs (Jaccard >= 0.9);
    // their simhashes must be far closer than random pairs.
    val fps = TextOps.qSimHash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nd = TextOps.qNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.nonEmpty)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val dupDists = nd.map { case (a, b) => ham(fps(a), fps(b)) }
    val ids = fps.keys.toArray.sorted
    val rnd = new scala.util.Random(3)
    val randDists = (0 until 200).map { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      ham(fps(a), fps(b))
    }
    assert(dupDists.max < 16, s"near-dup hamming too high: ${dupDists.toSeq}")
    assert(randDists.sum.toDouble / randDists.size > dupDists.sum.toDouble / dupDists.size + 5)
  }

  test("simhash near-dup join via 16-bit band blocking finds the dup pairs") {
    val fps = TextOps.qSimHash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // block on any of the four 16-bit bands, verify hamming <= 8
    val byBand = fps.flatMap { case (id, fp) =>
      (0 until 4).map(b => ((b, (fp >>> (16 * b)) & 0xffffL), id))
    }.groupBy(_._1).values.map(_.map(_._2).sorted)
    val cand = byBand.flatMap(ids => for (i <- ids.indices; j <- i + 1 until ids.length)
      yield (ids(i), ids(j))).toSet
    val fpMap = fps.toMap
    val found = cand.filter { case (a, b) =>
      java.lang.Long.bitCount(fpMap(a) ^ fpMap(b)) <= 8 }
    val expected = TextOps.qNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pigeonhole guarantee: hamming <= 3 over 4 bands leaves one band
    // intact, so those pairs MUST be found; overall coverage stays high
    val mustFind = expected.filter { case (a, b) =>
      java.lang.Long.bitCount(fpMap(a) ^ fpMap(b)) <= 3 }
    assert(mustFind.subsetOf(found), s"missed guaranteed pairs ${mustFind -- found}")
    assert(found.count(expected) >= (expected.size * 4) / 5,
      s"coverage ${found.count(expected)}/${expected.size}")
  }

  test("fingerprint query emits stable per-doc aggregates") {
    // a registry query returns a row set: compare sorted rows
    val r1 = TextOps.qFingerprint(spark, sfDir).collect()
    val r2 = TextOps.qFingerprint(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    assert(r1.forall(_.getInt(1) > 0))
  }

  test("a null documents.text fails the Row kernels with the invariant, not an NPE") {
    import spark.implicits._
    val dir = graft.core.TempDir.forJvm("graft_nulltext")
    Seq((1L, Option("a b c d")), (2L, Option.empty[String])).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val e = intercept[Exception](TextOps.qSimHash(spark, dir.toString).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("non-null documents.text violated at doc_id 2")),
      chain.mkString("\n"))
    assert(!chain.exists(_.isInstanceOf[NullPointerException]))
  }
}
