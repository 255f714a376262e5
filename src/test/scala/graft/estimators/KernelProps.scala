package graft.estimators

import scala.collection.mutable

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.TextKernels
import graft.functions.expressions.MisraGries

/** Property-based checks of the pure kernels the distributed operators
  * are built on (ScalaCheck runs these natively under sbt test — no
  * Spark session, hundreds of randomized cases per property):
  *
  *  - Misra–Gries: the mergeable-summaries deterministic bound
  *    `true − N/(k+1) ≤ est ≤ true` must hold for EVERY key under ANY
  *    partitioning of the stream and ANY merge order — this is exactly
  *    what makes `graft_mg` safe as an ObjectHashAggregate with
  *    arbitrary partial placement (B62 / streaming F17).
  *  - CART best split: the O(n log n) prefix-sum search must equal the
  *    brute-force argmax of the exact rational gain
  *    (n·S_L − n_L·S)²/(n_L·n_R) with (fidx, thr)-ascending ties —
  *    the invariant the SQL oracle's NOT EXISTS replica encodes
  *    (A12c/A12d/A12e).
  *  - The (degree, id) struct order vs the oracle's packed
  *    d·100000 + id: identical for ids < 10⁵ (why bounded-fixture
  *    oracles may pack) — the r9 GraphsSpec collision case shows why
  *    the ENGINE must not.
  *  - md5Prefix52: equals an independent BigInteger-derived reference
  *    and stays in [0, 2⁵²) — the cross-engine hash every md5-formula
  *    oracle depends on.
  *  - kNN scan: the blocked `KnnKernel.topK` returns the same neighbour
  *    ids and bit-identical d² as the one-row loop it replaced, for any
  *    m (below 4, not a multiple of 4, below k), NaN query dims and
  *    duplicate training rows.
  *  - `Similarity.TopKHeaps`, the bounded heap behind every vector
  *    search: over any insert sequence (tied sims, repeated ids, fewer
  *    rows than k) it emits exactly each query's brute-force
  *    (sim DESC, vec_id ASC) top k, bit for bit.
  *  - `RowSlices.plan`, the row split behind `Tables.fanOut` on a pinned
  *    frame: over any partition counts (empty partitions, totals below
  *    the target, one huge partition) every parent row lands in exactly
  *    one non-empty slice, in partition and row order, and there are as
  *    many slices as the target allows.
  *  - `EventStreams.foldBatch`, the per-batch rule of every replay-safe
  *    keyed stream: distinct ascending marks cut into contiguous
  *    batches, each batch shuffled and carrying copies of its own and
  *    earlier arrivals, fold batch by batch to exactly the rows and the
  *    final state of one sequential fold over the distinct arrivals; a
  *    batch with no new mark folds nothing.
  */
object KernelProps extends Properties("graft.kernels") {

  // ---- Misra–Gries ----

  private val streamGen: Gen[List[Long]] =
    Gen.sized(sz => Gen.listOfN(math.min(sz * 4, 400), Gen.choose(0L, 12L)))

  private def summarize(chunk: Seq[Long], k: Int): mutable.LongMap[Long] =
    chunk.foldLeft(mutable.LongMap.empty[Long])((b, key) => MisraGries.add(b, key, k))

  property("misra-gries bounds hold under any split + merge order") =
    forAll(streamGen, Gen.choose(1, 6), Gen.choose(1L, 97L)) { (stream, k, splitSeed) =>
      val n = stream.length
      // deterministic pseudo-random chunking from splitSeed
      val chunks = stream.zipWithIndex
        .groupBy { case (_, i) => (i * splitSeed) % 3 }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      val merged = chunks.map(summarize(_, k)) match {
        case Nil => mutable.LongMap.empty[Long]
        case h :: t => t.foldLeft(h)((a, c) => MisraGries.mergeMaps(a, c, k))
      }
      val truth = stream.groupBy(identity).map { case (key, v) => key -> v.length.toLong }
      val slack = n.toLong / (k + 1)
      val upperOk = merged.forall { case (key, est) => est <= truth.getOrElse(key, 0L) }
      val lowerOk = truth.forall { case (key, t) => merged.getOrElse(key, 0L) >= t - slack }
      val sizeOk = merged.size <= k
      Prop(upperOk && lowerOk && sizeOk) :| s"n=$n k=$k merged=$merged truth=$truth"
    }

  // ---- CART best split vs brute force ----

  private val cartGen: Gen[(Array[Array[Double]], Array[Long])] = for {
    n <- Gen.choose(2, 40)
    d <- Gen.choose(1, 3)
    xs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(0, 9).map(_.toDouble)))
    ys <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
  } yield (xs.map(_.toArray).toArray, ys.toArray)

  private def bruteBest(xs: Array[Array[Double]], ys: Array[Long]): Option[(Int, Double)] = {
    val n = xs.length
    val d = xs(0).length
    val s = ys.foldLeft(BigInt(0))(_ + _)
    val cands = for {
      f <- 0 until d
      vs = xs.map(_(f)).distinct.sorted
      i <- 0 until vs.length - 1
      thr = (vs(i) + vs(i + 1)) / 2
    } yield {
      val left = xs.indices.filter(r => xs(r)(f) <= thr)
      val nl = left.length
      val sl = left.foldLeft(BigInt(0))((acc, r) => acc + ys(r))
      val diff = BigInt(n) * sl - BigInt(nl) * s
      ((f, thr), diff * diff, BigInt(nl) * BigInt(n - nl))
    }
    if (cands.isEmpty) None
    else Some(cands.reduceLeft { (best, c) =>
      // strictly-greater gain wins; ties keep the earlier (fidx, thr)
      if (c._2 * best._3 > best._2 * c._3) c else best
    }._1)
  }

  property("cart split search equals the brute-force exact-rational argmax") =
    forAll(cartGen) { case (xs, ys) =>
      val got = CartModel.grow(xs, ys, xs.indices.toArray, xs(0).length, 1) match {
        case CartSplit(f, t, _, _) => Some((f, t))
        case _                     => None
      }
      val want = bruteBest(xs, ys)
      Prop(got == want) :| s"got=$got want=$want"
    }

  // ---- struct order vs packed order ----

  property("packed d*100000+id order == (d, id) struct order for ids < 10^5") =
    forAll(Gen.choose(1L, 1000L), Gen.choose(0L, 99999L),
           Gen.choose(1L, 1000L), Gen.choose(0L, 99999L)) { (d1, n1, d2, n2) =>
      val packed = (d1 * 100000L + n1).compareTo(d2 * 100000L + n2)
      val struct = if (d1 != d2) d1.compareTo(d2) else n1.compareTo(n2)
      Prop(Integer.signum(packed) == Integer.signum(struct)) :|
        s"($d1,$n1) vs ($d2,$n2)"
    }

  // ---- Count-Min ----

  private def cmsGrid(chunk: Seq[Long], depth: Int, width: Int): Array[Long] = {
    val g = new Array[Long](depth * width)
    chunk.foreach { x =>
      var d = 0
      while (d < depth) {
        g(d * width + graft.functions.expressions.CountMin.bucket(x, d, width)) += 1L
        d += 1
      }
    }
    g
  }

  property("count-min merged shards == batch grid, and estimates never undercount") =
    forAll(streamGen, Gen.choose(1, 4), Gen.choose(2, 16), Gen.choose(1L, 97L)) {
      (stream, depth, width, splitSeed) =>
        val chunks = stream.zipWithIndex
          .groupBy { case (_, i) => (i * splitSeed) % 3 }
          .toSeq.sortBy(_._1).map(_._2.map(_._1))
        val merged = chunks.map(cmsGrid(_, depth, width))
          .foldLeft(new Array[Long](depth * width)) { (a, c) =>
            var i = 0; while (i < a.length) { a(i) += c(i); i += 1 }; a
          }
        val batch = cmsGrid(stream, depth, width)
        val truth = stream.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
        def est(x: Long): Long = (0 until depth).map(d =>
          merged(d * width + graft.functions.expressions.CountMin.bucket(x, d, width))).min
        val gridOk = merged.sameElements(batch)
        val overOk = truth.forall { case (k, t) => est(k) >= t }
        Prop(gridOk && overOk) :| s"depth=$depth width=$width"
    }

  // ---- winnowing ----

  private val docGen: Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  property("winnowing: shared substrings of length >= k+w-1 share a fingerprint") =
    forAll(docGen, docGen, docGen, Gen.choose(2, 4), Gen.choose(2, 4)) {
      (pre, post, mid0, k0, w0) =>
        // clamp into the algorithm's domain: ScalaCheck's shrinker can
        // escape Gen.choose bounds (it shrank to k=1, w=0 once — a
        // harness artifact, not a kernel case), so the property body
        // re-imposes k, w >= 2 instead of trusting the generator
        val k = math.max(k0, 2)
        val w = math.max(w0, 2)
        // force the shared block to the guarantee length (mid0 can
        // shrink to "" — same harness artifact — so re-seed it)
        val midSeed = if (mid0.isEmpty) "x" else mid0
        val needed = k + w - 1
        val mid = (midSeed * ((needed / midSeed.length) + 1)).take(needed)
        val a = pre + mid
        val b = mid + post
        val fa = TextKernels.winnow(a, k, w).toSet
        val fb = TextKernels.winnow(b, k, w).toSet
        Prop(fa.intersect(fb).nonEmpty) :| s"a='$a' b='$b' k=$k w=$w"
    }

  property("winnowing fingerprints are a subset of the direct k-gram hashes") =
    forAll(docGen, Gen.choose(2, 5), Gen.choose(1, 5)) { (doc, k, w) =>
      val fps = TextKernels.winnow(doc, k, w).toSet
      val direct = (0 to doc.length - k).map { i =>
        doc.substring(i, i + k).foldLeft(0L)((h, c) => (h * 1000003L + c) % 2147483647L)
      }.toSet
      Prop(fps.subsetOf(direct)) :| s"doc='$doc' fps=$fps"
    }

  // ---- streaming monitor kernels (F26/F27/B96 meets) ----

  private val histGen: Gen[Map[Long, Long]] =
    Gen.mapOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(1L, 10000L)))
      .suchThat(_.values.forall(_ > 0))

  property("psiE6 is non-negative and zero on identical histograms") =
    forAll(histGen, histGen) { (a, b) =>
      import graft.streaming.EventStreams.psiE6
      val nonneg = psiE6(a, b) >= 0L || a.isEmpty || b.isEmpty
      val selfZero = a.isEmpty || psiE6(a, a) == 0L
      Prop(nonneg && selfZero) :| s"a=$a b=$b psi=${psiE6(a, b)}"
    }

  property("benfordMadE6 is count-scale invariant and non-negative") =
    forAll(histGen, Gen.choose(1L, 1000L)) { (h, c) =>
      import graft.streaming.EventStreams.benfordMadE6
      // integer scaling preserves the exact rational shares, so the
      // floor-division PPM shares — and the MAD — are identical
      val scaled = h.map { case (k, v) => k -> v * c }
      Prop(benfordMadE6(h) >= 0L && benfordMadE6(scaled) == benfordMadE6(h)) :|
        s"h=$h c=$c"
    }

  property("holtStep: stationary fixed point and convex-combination bound") =
    forAll(Gen.choose(0L, 300000000L), Gen.choose(-1000000000000L, 1000000000000L),
           Gen.choose(-100000000000L, 100000000000L)) { (x, lq, bq) =>
      import graft.operators.Relational.holtStep
      val (nl, nb) = holtStep(lq, bq, x)
      val a = x * 1000000L; val b = lq + bq
      val lo = math.min(a, b) - 1; val hi = math.max(a, b) + 1
      val bound = nl >= lo && nl <= hi
      // a flat series at the current level with zero trend is a fixed
      // point: the float convex combination of equal integers rounds
      // back to the same integer
      val (fl, fb) = holtStep(a, 0L, x)
      Prop(bound && fl == a && fb == 0L) :| s"x=$x lq=$lq bq=$bq nl=$nl"
    }

  // ---- md5Prefix52 ----

  property("md5Prefix52 equals the BigInteger reference and is 52-bit") =
    forAll(Gen.asciiPrintableStr) { str =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val got = TextKernels.md5Prefix52(md, str)
      md.reset()
      val digest = md.digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val ref = new java.math.BigInteger(1, digest).shiftRight(128 - 52).longValueExact()
      Prop(got == ref && got >= 0L && got < (1L << 52)) :| s"got=$got ref=$ref"
    }

  // ---- KMV merge (F48) ----

  private val kmvSetGen: Gen[List[Long]] =
    Gen.sized(sz => Gen.listOfN(math.min(sz * 3, 300), Gen.choose(0L, 600L)))

  /** The min-k identity that makes the sketch mergeable:
    * min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B)), set-for-set — for
    * ANY split of the input and any k. This is what lets sharded
    * streams (executors, sites) combine partial sketches with O(k)
    * traffic and still equal the single-pass sketch EXACTLY. */
  property("kmvMerge of shard sketches equals the full-data min-k set") =
    forAll(kmvSetGen, kmvSetGen, Gen.choose(1, 64)) { (a, b, k) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def minK(vals: Seq[Long]): (Array[Long], Array[Long]) = {
        val pairs = vals.distinct
          .map(v => (TextKernels.md5Prefix52(md, s"kmv|$v"), v))
          .sorted.take(k)
        (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
      }
      val (ah, av) = minK(a)
      val (bh, bv) = minK(b)
      val (mh, mv) = graft.streaming.EventStreams.kmvMerge(ah, av, bh, bv, k)
      val (eh, ev) = minK(a ++ b)
      Prop(mh.toSeq == eh.toSeq && mv.toSeq == ev.toSeq) :|
        s"merged=${mh.toSeq} expected=${eh.toSeq}"
    }

  // ---- BPE sentinel-replace merge (C56) ----

  private val tokGen: Gen[List[String]] =
    Gen.sized(sz => Gen.listOfN(math.min(sz, 12),
      Gen.oneOf("a", "b", "c", "ab", "bc")))

  /** The C56 encoding claim: on the sentinel form "|t1||t2||...|",
    * one literal replace of "|x||y|" with "|xy|" applies the merge
    * with BPE's left-to-right greedy non-overlapping convention —
    * equal to the reference sequential fold for ANY token sequence
    * and ANY merge pair (including self-pairs like (a,a), where the
    * greedy convention is exactly what's at stake). */
  property("sentinel replace == greedy left-to-right BPE merge") =
    forAll(tokGen, Gen.oneOf("a", "b", "c", "ab"), Gen.oneOf("a", "b", "c", "bc")) {
      (toks, x, y) =>
        val state = toks.map(t => s"|$t|").mkString
        val replaced = state.replace(s"|$x||$y|", s"|$x$y|")
        // reference: greedy scan, merge (x, y) left to right, no overlap
        val outRef = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
            outRef += (x + y); i += 2
          } else { outRef += toks(i); i += 1 }
        }
        val expected = outRef.map(t => s"|$t|").mkString
        Prop(replaced == expected) :| s"toks=$toks pair=($x,$y) got=$replaced want=$expected"
    }

  // ---- kNN scan: blocked loop vs the one-row reference ----

  /** The one-row-at-a-time scan `KnnKernel.topK` replaced, kept verbatim
    * as the reference: one accumulator, a NaN test per dim inside the
    * m·d loop, (dist², id) insertion per row. */
  private def scalarTopK(q: Array[Double], st: KnnState, k: Int,
                         outIdx: Array[Int], outD: Array[Double]): Int = {
    val m = st.m; val d = st.d
    val n = math.min(k, m)
    var nobs = 0
    var jj = 0
    while (jj < d) { if (!q(jj).isNaN) nobs += 1; jj += 1 }
    val factor = d.toDouble / nobs
    var filled = 0
    var i = 0
    while (i < m) {
      val base = i * d
      var d2 = 0.0
      var j = 0
      while (j < d) {
        val qj = q(j)
        if (qj == qj) { val diff = qj - st.x(base + j); d2 += diff * diff }
        j += 1
      }
      d2 *= factor
      val id = st.ids(i)
      if (filled < n) {
        var p = filled
        while (p > 0 && (outD(p - 1) > d2 ||
               (outD(p - 1) == d2 && st.ids(outIdx(p - 1)) > id))) {
          outD(p) = outD(p - 1); outIdx(p) = outIdx(p - 1); p -= 1
        }
        outD(p) = d2; outIdx(p) = i
        filled += 1
      } else {
        val lastD = outD(n - 1)
        if (d2 < lastD || (d2 == lastD && id < st.ids(outIdx(n - 1)))) {
          var p = n - 1
          while (p > 0 && (outD(p - 1) > d2 ||
                 (outD(p - 1) == d2 && st.ids(outIdx(p - 1)) > id))) {
            outD(p) = outD(p - 1); outIdx(p) = outIdx(p - 1); p -= 1
          }
          outD(p) = d2; outIdx(p) = i
        }
      }
      i += 1
    }
    n
  }

  // small integers force exact distance ties; wide doubles exercise
  // the rounding order of each row's sum
  private val cellGen: Gen[Double] =
    Gen.oneOf(Gen.choose(0, 3).map(_.toDouble), Gen.choose(-1e3, 1e3))

  private val knnGen = for {
    d <- Gen.choose(1, 12)
    distinct <- Gen.choose(0, 13)
    base <- Gen.listOfN(distinct, Gen.listOfN(d, cellGen))
    // duplicate training rows: equal distances that break on id
    dups <- Gen.listOf(Gen.choose(0, math.max(distinct - 1, 0)))
    rows = if (distinct == 0) Nil else base ++ dups.take(10).map(base)
    picked <- Gen.pick(rows.length, 0L until 1000L)
    order <- Gen.long
    ids = new scala.util.Random(order).shuffle(picked.toSeq).toArray
    k <- Gen.choose(1, 8)
    q <- Gen.listOfN(d, cellGen)
    nanDims <- Gen.choose(0, d - 1).flatMap(c => Gen.pick(c, 0 until d))
  } yield {
    val st = new KnnState(ids = ids, x = rows.flatten.toArray, y = Array.empty,
      yCls = Array.empty, m = rows.length, d = d)
    val qa = q.toArray
    nanDims.foreach(j => qa(j) = Double.NaN)
    (st, k, qa)
  }

  property("blocked topK == the one-row scan: same ids, bit-identical d²") =
    forAll(knnGen) { case (st, k, q) =>
      val n = math.min(k, st.m)
      val (gotI, gotD) = (new Array[Int](n), new Array[Double](n))
      val (refI, refD) = (new Array[Int](n), new Array[Double](n))
      val got = KnnKernel.topK(q, st, k, gotI, gotD)
      val ref = scalarTopK(q, st, k, refI, refD)
      val bits = (a: Array[Double]) => a.map(java.lang.Double.doubleToRawLongBits).toSeq
      Prop(got == ref && gotI.sameElements(refI) && bits(gotD) == bits(refD)) :|
        s"m=${st.m} d=${st.d} k=$k q=${q.toSeq} got=${gotI.toSeq}/${gotD.toSeq} " +
        s"want=${refI.toSeq}/${refD.toSeq}"
    }

  // ---- TopKHeaps vs a brute-force sort ----

  // a handful of sim values and ids: ties on sim (and repeated
  // (sim, id) inserts) are common; up to 40 inserts over 1–4 queries
  // leaves many queries with fewer rows than k
  private val heapGen = for {
    nq <- Gen.choose(1, 4)
    k <- Gen.choose(1, 8)
    n <- Gen.choose(0, 40)
    ins <- Gen.listOfN(n, for {
      qi <- Gen.choose(0, nq - 1)
      sim <- Gen.oneOf(Gen.choose(-3, 3).map(_ / 2.0), Gen.choose(-1.0, 1.0))
      id <- Gen.choose(0L, 30L)
    } yield (qi, sim, id))
  } yield (nq, k, ins)

  property("TopKHeaps emits each query's (sim DESC, vec_id ASC) top k") =
    forAll(heapGen) { case (nq, k, ins) =>
      val heaps = new graft.operators.Similarity.TopKHeaps(nq, k)
      ins.foreach { case (qi, sim, id) => heaps.insert(qi, sim, id) }
      val qids = Array.tabulate(nq)(qi => 100L + qi)
      val bits = (x: Double) => java.lang.Double.doubleToRawLongBits(x)
      val got = heaps.emit(2, qids)
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), bits(r.getDouble(3)))).toList
      val want = (0 until nq).toList.flatMap { qi =>
        ins.filter(_._1 == qi)
          .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._3 < b._3))
          .take(k).map { case (_, sim, id) => (2, qids(qi), id, bits(sim)) }
      }
      Prop(got == want) :| s"nq=$nq k=$k inserts=$ins got=$got want=$want"
    }

  // ---- RowSlices.plan vs the parent rows ----

  // mostly empty or small partitions, now and then one huge one; targets
  // from 1 to 16 put totals both above and below the target
  private val sliceGen = for {
    n <- Gen.choose(0, 12)
    counts <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.const(0L), 3 -> Gen.choose(1L, 5L), 1 -> Gen.choose(1000L, 1000000L)))
    target <- Gen.choose(1, 16)
  } yield (counts.toArray, target)

  property("RowSlices.plan keeps every parent row once, in order, in non-empty slices") =
    forAll(sliceGen) { case (counts, target) =>
      val slices = graft.core.RowSlices.plan(counts, target)
      // each partition's slices, in order, must tile [0, count) exactly
      val tiled = counts.indices.forall { p =>
        val ends = slices.filter(_.parent == p).flatMap(s => Seq(s.from, s.until))
        if (counts(p) == 0) ends.isEmpty
        else ends.head == 0 && ends.last == counts(p) &&
          ends.drop(1).dropRight(1).grouped(2).forall(e => e(0) == e(1))
      }
      val ordered = slices.map(_.parent) == slices.map(_.parent).sorted
      val filled = counts.count(_ > 0).toLong
      val expected = math.max(filled, math.min(target.toLong, counts.sum))
      Prop(tiled && ordered && slices.forall(s => s.until > s.from) &&
        slices.length == expected) :| s"counts=${counts.toSeq} target=$target slices=$slices"
    }

  // ---- EventStreams.foldBatch vs one sequential fold ----

  // (mark, value) arrivals with distinct ascending marks, cut into
  // contiguous (possibly empty) batches; each batch is shuffled and
  // carries up to three copies of arrivals from itself or earlier batches
  private val replayGen = for {
    n <- Gen.choose(0, 40)
    steps <- Gen.listOfN(n, Gen.choose(1L, 4L))
    vals <- Gen.listOfN(n, Gen.choose(-9L, 9L))
    nb <- Gen.choose(1, 6)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val arrivals = steps.scanLeft(0L)(_ + _).tail.zip(vals).toVector
    val bounds = (0 +: Vector.fill(nb - 1)(rnd.nextInt(n + 1)) :+ n).sorted
    val batches = bounds.zip(bounds.tail).map { case (from, until) =>
      val copies = if (until == 0) Vector.empty
                   else Vector.fill(rnd.nextInt(4))(arrivals(rnd.nextInt(until)))
      rnd.shuffle(arrivals.slice(from, until) ++ copies)
    }
    (arrivals, batches)
  }

  property("foldBatch over replayed, retried batches == one sequential fold") =
    forAll(replayGen) { case (arrivals, batches) =>
      // state (count, sum); a row (mark, sum) for each even value
      val step = (st: (Long, Long), a: (Long, Long)) => {
        val next = (st._1 + 1, st._2 + a._2)
        (next, if (a._2 % 2 == 0) Some((a._1, next._2)) else None)
      }
      val mark = (a: (Long, Long)) => a._1
      var stored = Option.empty[(Long, (Long, Long))]
      var policyOk = true
      val got = batches.flatMap { b =>
        val fresh = b.exists(a => stored.forall(_._1 < a._1))
        graft.streaming.EventStreams.foldBatch(stored, b.iterator, mark, (0L, 0L), step) match {
          case Some((next, rows)) => policyOk &&= fresh; stored = Some(next); rows
          case None => policyOk &&= !fresh; Vector.empty
        }
      }
      var st = (0L, 0L)
      val want = arrivals.flatMap { a => val (next, row) = step(st, a); st = next; row }
      val wantStored = arrivals.lastOption.map(a => (a._1, st))
      Prop(got == want && stored == wantStored && policyOk) :|
        s"batches=$batches got=$got want=$want stored=$stored"
    }
}
