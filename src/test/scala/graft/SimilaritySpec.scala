package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Similarity}

/** D1/D3 recall + E2 multimodal plumbing. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("trainPqCodebook: codes that attract no subvectors keep their init centroid") {
    import spark.implicits._
    // 10 IDENTICAL vectors: per subspace every subvector lands on ONE
    // nearest init code — the other 15 must fall back to init (the
    // COALESCE branch the oracle replays), and the one trained code
    // must be the 6dp-rounded shared subvector
    val v = Array.tabulate(64)(j => math.sin(j + 1.0))
    val e = (0L until 10L).map(id => (id, v)).toDF("vec_id", "v")
    val cb0 = graft.operators.Similarity.trainPqCodebook(e.limit(0)) // empty fit = pure init
    val cb1 = graft.operators.Similarity.trainPqCodebook(e)
    for (s <- 0 until 8) {
      val trained = (0 until 16).filter(ci => !java.util.Arrays.equals(
        cb1(s * 16 + ci), cb0(s * 16 + ci)))
      assert(trained.size == 1, s"subspace $s: expected exactly one trained code, got $trained")
      val expected = (0 until 8).map(j =>
        BigDecimal(v(s * 8 + j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(cb1(s * 16 + trained.head).toSeq == expected)
    }
  }

  test("a null embeddings.embedding fails the vector kernels with the invariant, not an NPE") {
    import spark.implicits._
    val dir = graft.core.TempDir.forJvm("graft_nullemb")
    // vec_id 7 is not a probe (probes are every 50th id), so only the
    // corpus pass can meet its null; q_ivf_balance reads the corpus as a
    // typed (vec_id, v) Dataset
    (0L until 60L).map { id =>
      val emb = if (id == 7L) None
                else Some(Array.tabulate(64)(j => math.sin(id * 64.0 + j + 1.0).toFloat))
      (id, emb, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    for ((name, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
           org.apache.spark.sql.DataFrame)](
           "q_cosine_topk" -> Similarity.qCosineTopK, "q_ann_sq" -> Similarity.qAnnSq,
           "q_cluster_sample" -> Similarity.qClusterSample,
           "q_ivf_balance" -> Similarity.qIvfBalance)) {
      val e = intercept[Exception](q(spark, dir.toString).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("non-null embeddings.embedding violated at vec_id 7")),
        s"$name: ${chain.mkString("\n")}")
      assert(!chain.exists(_.isInstanceOf[NullPointerException]), name)
    }
  }

  test("ANN-LSH reaches useful recall vs brute force and stays approximate-cheap") {
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.qAnnLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ann.keySet == exact.keySet)
    val recalls = exact.map { case (q, ex) =>
      val an = ann.getOrElse(q, Set.empty)
      an.intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // isotropic random data is LSH's worst case (top-k barely separated
    // from the bulk); 8 bands × 4 bits must still recover a solid
    // fraction, and every query must keep its own vector (sim=1).
    assert(mean > 0.35, s"mean recall $mean")
    ann.foreach { case (q, s) => assert(s.contains(q)) }
  }

  test("multi-probe ANN recall dominates single-probe") {
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val single = recall(Similarity.qAnnLsh(spark, sfDir))
    val multi = recall(Similarity.qAnnMultiprobe(spark, sfDir))
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi > 0.5, s"multi-probe recall $multi")
  }

  test("D31: IVF multi-assignment recall dominates single-assignment IVF") {
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val single = hits(Similarity.qAnnIvf(spark, sfDir))
    val multi = hits(Similarity.qAnnIvfMulti(spark, sfDir))
    def recall(got: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val rs = recall(single); val rm = recall(multi)
    assert(rm >= rs, s"multi-assign recall $rm < single $rs")
    // and not just on average: the candidate set is a strict superset
    // per query (same probes, corpus indexed under MORE cells), so no
    // query may lose an exact hit it had under single assignment
    exact.keys.foreach { q =>
      val lost = single.getOrElse(q, Set.empty).intersect(exact(q)) --
        multi.getOrElse(q, Set.empty)
      assert(lost.isEmpty, s"query $q lost exact hits $lost under multi-assign")
    }
  }

  test("E5 byte-offset chunking never splits a code point (incl. astral chars)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // astral (4-byte) + CJK (3-byte) + accent (2-byte) content that the
    // all-ASCII corpus can't exercise: raw offsets land mid-code-point
    val texts = Seq(
      (0L, "😀😀😀 héllo wörld 的是了 plain ascii tail here"),
      (1L, "的是了的是了的是了的是了"),
      (2L, "a😀b😀c😀d😀e😀f😀"),
      (3L, ""), // degenerate: empty doc still chunks into n empty frames
      (7L, "xy")) // fewer bytes than frames -> some empty slices
    val docs = texts.toDF("doc_id", "text")
    // private synthesize path exercised through a temp-view-free clone:
    // re-chunk here with the same snap rule and compare full roundtrip
    val media = Multimodal.chunkBytes(docs)
    val frames = Multimodal.sampleByteFrames(media, stride = 1).collect()
    val byDoc = texts.toMap
    frames.foreach { r =>
      val id = r.getLong(0)
      // every frame must re-decode as valid UTF-8 whose bytes round-trip
      // (a split code point would produce replacement chars and fail)
      val all = frames.filter(_.getLong(0) == id).sortBy(_.getInt(1))
      val joined = all.map(_.getLong(2)).sum
      assert(joined == byDoc(id).getBytes("UTF-8").length.toLong,
        s"doc $id: frame bytes don't sum to payload bytes")
    }
    // reassembled text equals the original for a doc with all widths
    val m0 = media.filter(col("media_id") === 0L).collect().head
    val bb = java.nio.ByteBuffer.wrap(m0.getAs[Array[Byte]](1))
    val magic = new Array[Byte](4); bb.get(magic); val n = bb.getInt
    val parts = (0 until n).map { _ =>
      val len = bb.getInt; val f = new Array[Byte](len); bb.get(f)
      val s0 = new String(f, "UTF-8")
      assert(!s0.contains('�'), "frame split a code point")
      s0
    }
    assert(parts.mkString == texts.head._2)
  }

  test("media synthesis + stub decode preserve schema, rows, and determinism") {
    val media = Multimodal.synthesizeMedia(spark, sfDir)
    assert(media.schema == Multimodal.mediaSchema)
    val n = media.count()
    assert(n > 0)
    val dec = Multimodal.decodeFeatures(media, featureDim = 8)
    assert(dec.schema == Multimodal.decodedSchema)
    val rows = dec.collect()
    assert(rows.length == n)
    assert(rows.forall(_.getSeq[Float](3).length == 8))
    // header metadata round-trips through the binary payload
    val metaIn = media.collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    rows.foreach(r => assert(metaIn(r.getLong(0)) == ((r.getInt(1), r.getInt(2)))))
    // deterministic stub decode
    val again = Multimodal.decodeFeatures(media, featureDim = 8).collect()
    assert(rows.map(_.getSeq[Float](3)).toSeq == again.map(_.getSeq[Float](3)).toSeq)
  }
}
