package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{dec4, TextKernels, TextFunctions => T}
import graft.sources.Tables._

/** Text analysis + deduplication over the documents table
  * (SURVEY.md §2 C1–C7) — the training-data-pipeline operators a
  * 100 TB corpus needs: exact dedup, token/quality metrics, language ID,
  * MinHash + LSH near-dup detection, shingle-Jaccard similarity join.
  *
  * Scale posture:
  * - Per-document metrics (C2–C5) are pure codegen'd Column expressions:
  *   zero shuffle, embarrassingly parallel.
  * - Exact dedup (C1) is ONE hash shuffle on the md5 key.
  * - MinHash-LSH (C6) explodes each doc to 4 band keys → the candidate
  *   join shuffles O(docs × bands) rows, never O(docs²); Jaccard is
  *   verified only on candidates.
  * - The shingle inverted index (C7) is blocked on rare shingles
  *   (document frequency ≤ 5), capping the self-join fanout at
  *   C(5,2) pairs per shingle.
  */
object TextOps {

  /** The words of a `(doc_id, text)` row for the Row kernels. Null policy:
    * `documents.text` is non-null by contract, and a null fails loudly
    * with the doc id instead of an NPE deep in a kernel. */
  private def docWords(row: Row): Array[String] = {
    require(!row.isNullAt(1),
      s"non-null documents.text violated at doc_id ${row.get(0)}")
    row.getString(1).split(" ", -1)
  }

  /** The graph-gate contract slice (C16 clusters / C24 PageRank): a
    * doc_id cap INACTIVE at gate scales (sf0.1 ids stop at 4,999;
    * ScaleData replica ids start at 10,000) so gate output is the full
    * corpus there, and FROZEN beyond — the hash-stable bound rule the
    * streaming gates' StreamFactMaxKey established, applied to the two
    * oracles whose recursive/iterative SQL replicas grow superlinearly
    * in replica-clique edges at 10×.
    */
  private val ScaleSliceMaxDoc = 10000L

  private val stopwords = Seq("the", "a", "of", "to", "in")
  private val stopSql   = stopwords.map(w => s"'$w'").mkString(", ")

  /** C1: exact dedup — group by content hash, keep the lowest doc_id. */
  def qExactDedup(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** C2: token counting — whitespace + BPE-ish regex tokenization. */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(T.words(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("n_re_tokens"))

  /** C3: quality scoring — length, mean word length, stopword ratio,
    * duplicate-word ratio. All exact integer arithmetic until the final
    * division, so dec4 is noise-free cross-engine.
    */
  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    val n  = size(ws)
    documents(s, dir).select(
      col("doc_id"),
      n.cast("long").as("n_words"),
      dec4(T.sumWordLen(ws).cast("double") / n).as("avg_word_len"),
      dec4(T.markerCount(ws, stopwords).cast("double") / n).as("stop_ratio"),
      dec4(lit(1.0) - size(array_distinct(ws)).cast("double") / n).as("dup_ratio"))
  }

  /** Language-ID marker lexicons (stopword heuristic). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "is", "and", "of"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et"),
    "zh" -> Seq("的", "是", "了")
  )

  /** argmax of marker-word counts with ties to the lowest language
    * code: a CASE chain in ascending code order — the first code whose
    * score >= every later score is the overall max (all earlier codes
    * already failed to be maximal).
    */
  private def langPred(ws: Column): Column = {
    val scores = langMarkers.map { case (code, m) => code -> T.markerCount(ws, m) }
    scores.zipWithIndex.foldRight(lit(scores.last._1): Column) {
      case (((code, sc), i), elseExpr) =>
        val rest = scores.drop(i + 1).map(_._2)
        if (rest.isEmpty) elseExpr
        else when(rest.map(o => sc >= o).reduce(_ && _), code).otherwise(elseExpr)
    }
  }

  /** C4: language ID — marker-count argmax, tie → lowest code. */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), langPred(T.words(col("text"))).as("pred_lang"))

  /** C53: language-ID confidence MARGIN census — the calibration
    * table behind C48's re-detect routing threshold ("when is the C4
    * argmax trustworthy?"): per doc, the gap between the best and
    * second-best marker counts; per predicted language, the tie /
    * low-margin (1–2) / confident (≥3) census plus total and max
    * margin — exactly the table you read to pick the band where a
    * heavier detector is worth its cost. Exact integers; one linear
    * pass (the 5 marker counts fold with the argmax), a ≤|langs|-key
    * aggregate.
    */
  def qLangIdMargin(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    val scoreCols = langMarkers.map { case (code, m) =>
      T.markerCount(ws, m).cast("long").as(s"s_$code") }
    documents(s, dir)
      .select(Seq(langPred(ws).as("pred_lang")) ++ scoreCols: _*)
      .withColumn("srt", sort_array(
        array(langMarkers.map { case (c, _) => col(s"s_$c") }: _*), asc = false))
      .select(col("pred_lang"),
        (element_at(col("srt"), 1) - element_at(col("srt"), 2)).as("margin"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") === 0, 1L).otherwise(0L)).as("n_tie"),
        sum(when(col("margin").between(1, 2), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("margin") >= 3, 1L).otherwise(0L)).as("n_confident"),
        sum(col("margin")).as("sum_margin"),
        max(col("margin")).as("max_margin"))
  }

  /** C52: corpus quality-score DRIFT between even/odd doc cohorts —
    * the text-side twin of D25's embedding drift and B88's feature
    * PSI ("did this crawl snapshot's quality distribution move?" —
    * the monitor every recurring-ingest pipeline runs before mixing a
    * new snapshot in): per-doc stopword permille (the C3 quality
    * axis, EXACT integral — (markers·1000) div words), 25-permille
    * buckets, and the population stability index between the cohorts
    * via the shared B88 term text (e6-rounded per bucket before the
    * exact integer sum; empty-on-either-side buckets excluded and
    * audited). Even/odd is the calibration split — PSI ≈ 0 is the
    * null reading the monitor is trusted against (the D25 posture).
    * At 100 TB: one linear pass, one ≤41-key aggregate, a 1-row
    * broadcast.
    */
  def qQualityDrift(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    val h = documents(s, dir)
      .select((col("doc_id") % 2).as("par"),
        (T.markerCount(ws, stopwords).cast("long") * 1000).as("m1000"),
        size(ws).cast("long").as("n"))
      .select(col("par"), expr("m1000 div n").as("spm"))
      .groupBy(expr("spm div 25").as("bucket"))
      .agg(sum(when(col("par") === 0, 1L).otherwise(0L)).as("a"),
           sum(when(col("par") =!= 0, 1L).otherwise(0L)).as("b"))
    val tot = h.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    h.filter(col("a") > 0 && col("b") > 0)
      .crossJoin(broadcast(tot))
      .select(expr(Relational.psiTermSql).as("term"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_buckets"), max(col("na")).as("na"),
           max(col("nb")).as("nb"),
           sum(col("term")).cast("long").as("psi_e6"))
  }

  /** C51: tokenizer fertility per language — the BPE-vocab planning
    * table every multilingual tokenizer effort starts from ("how many
    * subword tokens does a word cost in each language, and how many
    * characters does a token buy?"): docs routed by the SHARED C4
    * predictor, both token conventions from C2 (whitespace words and
    * the BPE-ish regex `[a-z]+|[0-9]+|[^a-z0-9 ]`), fragmentation =
    * regex-tokens-per-word and compression = chars-per-regex-token,
    * both EXACT integral permille. A language whose fragmentation is
    * high is under-served by the vocab — the signal this table
    * exists to surface. At 100 TB: one linear pass (predict +
    * tokenize fold together), one ≤|langs|-key map-side-combined
    * aggregate.
    */
  def qTokFertility(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(langPred(T.words(col("text"))).as("pred_lang"),
        length(col("text")).cast("long").as("nc"),
        size(T.words(col("text"))).cast("long").as("nw"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("nr"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
           sum(col("nw")).as("n_ws_tokens"), sum(col("nr")).as("n_re_tokens"))
      .select(col("pred_lang"), col("n_docs"), col("n_chars"),
        col("n_ws_tokens"), col("n_re_tokens"),
        expr("(n_re_tokens * 1000) div n_ws_tokens").as("frag_permille"),
        expr("(n_chars * 1000) div n_re_tokens").as("chars_per_tok_permille"))

  /** Word 3-shingles per doc via a compiled kernel (the Column
    * higher-order-function formulation is interpreted — fine for one-off
    * metrics, too slow on the similarity hot path), fanned out so the
    * work uses all cores. Callers dedupe with array_distinct (codegen'd).
    */
  private def shingled(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sh", org.apache.spark.sql.types.ArrayType(StringType, containsNull = false),
        nullable = false)))
    fanOut(documents(s, dir).select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        it.map { row =>
          val words = docWords(row)
          val out = new scala.collection.mutable.ArrayBuffer[String](
            math.max(words.length - n + 1, 0))
          var i = 0
          while (i + n - 1 < words.length) {
            out += words.slice(i, i + n).mkString(" ")
            i += 1
          }
          Row(row.getLong(0), out.toSeq)
        }
      }(Encoders.row(outSchema))
  }

  /** MinHash signature rows (doc_id, sig0..sig7) via a compiled
    * mapPartitions kernel: Catalyst's higher-order functions
    * (transform/array_min) are interpreted, not codegen'd, so the hot
    * loop ([[TextKernels.minhash]]) is compiled here. `shingles` reads
    * one row's shingles; a row without any gets NULL signatures.
    */
  private def minhashRows(df: DataFrame)(shingles: Row => Iterator[String]): DataFrame = {
    val nPerms = T.minhashPerms.length
    val outSchema = StructType(
      StructField("doc_id", LongType, nullable = false) +:
        (0 until nPerms).map(j => StructField(s"sig$j", LongType, nullable = true)))
    df.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { row =>
        val sig = TextKernels.minhash(md, shingles(row))
          .fold(Seq.fill[Any](nPerms)(null))(_.toSeq)
        Row.fromSeq(row.getLong(0) +: sig)
      }
    }(Encoders.row(outSchema))
  }

  /** MinHash signatures of every document's word 3-shingles. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    minhashRows(fanOut(documents(s, dir).select(col("doc_id"), col("text"))))(
      row => TextKernels.wordShingles(docWords(row)))

  /** C5: MinHash signatures — 8 md5 permutations over word 3-shingles,
    * computed entirely inside a Column expression (no explode/shuffle).
    */
  def qMinHash(s: SparkSession, dir: String): DataFrame =
    signatures(s, dir)

  /** THE bucket→candidate-pair cascade shared by every blocking scheme
    * (MinHash-LSH bands, rare-shingle inverted index, SimHash bands):
    * group payloads per bucket, explode unordered (a, b) pairs with
    * a.id < b.id, dedup pairs found in several buckets. The payload
    * struct must expose an `id` field; extra fields (fingerprints)
    * ride along so callers never re-scan. Pair volume is bounded by
    * bucket collision structure, never O(corpus²); callers must keep
    * their buckets non-degenerate (e.g. the NULL-signature guard in
    * qLshPairs).
    */
  private def bucketPairs(df: DataFrame, bucketCols: Seq[String],
                          payload: Column,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    val sizeOk = maxBucketSize match {
      case Some(m) => size(col("ps")) > 1 && size(col("ps")) <= m
      case None    => size(col("ps")) > 1
    }
    df.select(bucketCols.map(col) :+ payload.as("p"): _*)
      .groupBy(bucketCols.map(col): _*)
      .agg(collect_list(col("p")).as("ps"))
      .filter(sizeOk)
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** MinHash signatures computed FROM an already-materialized shingle
    * frame (doc_id, sh) — same mins as the text kernel (duplicate
    * shingles cannot change a min), so callers that ALSO need the raw
    * sets for exact verification scan documents once, not twice.
    */
  private def signaturesFrom(shingles: DataFrame): DataFrame =
    minhashRows(shingles.select(col("doc_id"), col("sh")))(_.getSeq[String](1).iterator)

  /** Candidate pairs → exact Jaccard over distinct shingle sets → τ filter.
    * `sets0` is the caller's (pinned) shingle frame — sharing it with
    * candidate generation keeps each dedup query at ONE documents scan.
    */
  private def jaccardVerify(sets0: DataFrame, cand: DataFrame, tau: Double): DataFrame = {
    // shuffle-hash, not broadcast: the sets are few ROWS but carry fat
    // shingle arrays — broadcasting them (twice) builds ~100MB driver
    // relations; hashing the small candidate side is stable and cheap
    val sets = sets0.select(col("doc_id"), array_distinct(col("sh")).as("ss"))
      .hint("shuffle_hash")
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("ss").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("ss").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), dec4(col("jaccard")).as("jaccard"))
  }

  /** C6: MinHash-LSH banding (4 bands × 2 rows) → candidate pairs →
    * Jaccard ≥ 0.5 verification. Deterministic: the md5 permutations fix
    * which near-dup pairs collide, and the oracle replicates the same
    * pipeline, including any LSH misses.
    */
  def qLshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairsFrom(shingled(s, dir))

  /** The C6 pipeline over any shingle frame — C6 feeds the full corpus,
    * C7's cluster gate feeds the [[ScaleSliceMaxDoc]]-capped slice.
    */
  private def lshPairsFrom(sh: DataFrame): DataFrame = {
    // ONE documents scan: the pinned shingle sets feed both the MinHash
    // signatures (candidate side) and the exact-Jaccard verify
    val sets = graft.core.Materialize.pin(sh)
    val sig = signaturesFrom(sets)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
             concat_ws("#", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("bkey")))
    // docs with <3 words have NULL signatures; concat_ws would fold them
    // all into one "" bucket — a quadratic blowup at corpus scale (and a
    // divergence from the oracle, whose NULL || NULL never joins)
    val bands = sig
      .filter(col("sig0").isNotNull)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val cand = bucketPairs(bands, Seq("band", "bkey"),
        struct(col("doc_id").as("id")))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    jaccardVerify(sets, cand, tau = 0.5)
  }

  /** F52 confirm step (shared with the streaming LSH gate): exact
    * Jaccard ≥ 0.5 verification of a caller-supplied candidate frame
    * (a_id, b_id) against the capped document shingle sets — the same
    * [[jaccardVerify]] tail as C6, so stream-discovered candidates and
    * batch candidates publish through one verifier.
    */
  private[graft] def lshStreamConfirm(s: SparkSession, dir: String,
      cand: DataFrame, maxDocId: Long): DataFrame = {
    val sets = graft.core.Materialize.pin(
      shingled(s, dir).filter(col("doc_id") < maxDocId))
    jaccardVerify(sets, cand, tau = 0.5)
  }

  /** The C6 oracle restricted to doc_id < maxDocId (the F52 gate's
    * count-bounded arrival set): same base/signature/band/candidate/
    * verify CTEs, with the cap applied at the documents scan.
    */
  /** The C31 oracle restricted to doc_id < maxDocId — the F18 stream
    * gate's count-bounded arrival set: BOTH documents scans (training
    * corpus b and eval-gram side ev) gain the cap, exactly as the gate
    * feeds only capped docs and builds its eval-gram set from them.
    */
  private[operators] def corpusPipelineCappedOracleSql(maxDocId: Long): String = {
    // require-exactly-one on each replace target: if the C31 oracle is
    // ever reworded, the cap must fail loudly here rather than silently
    // disappear and diverge the stream oracle only at 10x+ scale
    def replaceOnce(sql: String, from: String, to: String): String = {
      require(sql.sliding(from.length).count(_ == from) == 1,
        s"q_corpus_pipeline oracle must contain exactly one '$from'")
      sql.replace(from, to)
    }
    replaceOnce(
      replaceOnce(oracles("q_corpus_pipeline"),
        "FROM documents WHERE doc_id % 97 <> 0)",
        s"FROM documents WHERE doc_id < $maxDocId AND doc_id % 97 <> 0)"),
      "FROM documents WHERE doc_id % 97 = 0 AND",
      s"FROM documents WHERE doc_id < $maxDocId AND doc_id % 97 = 0 AND")
  }

  /** A single-documents-scan oracle restricted to doc_id < maxDocId —
    * the stateless stream gates (F8/F12) reuse their batch twins'
    * replicas with the count-bounded arrival cap applied at the scan.
    */
  private[operators] def cappedDocsOracleSql(name: String, maxDocId: Long): String = {
    val sql = oracles(name)
    require(sql.sliding("FROM documents)".length).count(_ == "FROM documents)") == 1,
      s"$name oracle must have exactly one bare documents scan")
    sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id < $maxDocId)")
  }

  private[operators] def lshPairsCappedOracleSql(maxDocId: Long): String = {
    // baseSql's one documents scan gains the cap predicate
    val cappedBase = baseSql.replace(
      "FROM documents)",
      s"FROM documents WHERE doc_id < $maxDocId)")
    s"""WITH $cappedBase,
      |$sigSql,
      |bands AS (
      |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
      |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
      |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
      |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM bands x JOIN bands y
      |  ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id)
      |$jacSelSql""".stripMargin
  }

  /** C58: split-LEAKAGE audit — the eval-contamination census every
    * benchmark pipeline needs BEFORE it trusts a held-out score: a
    * near-duplicate pair straddling the train/test boundary silently
    * inflates eval (the model "memorizes" the train twin), and the
    * classic bug is deduplicating WITHIN splits but never ACROSS them.
    * Composes two existing contracts with zero new machinery: the C6
    * MinHash-LSH confirmed pairs (bucketed candidate generation, exact
    * Jaccard ≥ 0.5 verify) and the C30 deterministic hash split rule —
    * applied INLINE to the pair's ids as a pure function (split
    * assignment is derivable metadata, so there is NO join back to the
    * corpus: the pair frame alone carries everything — the scale-right
    * shape). Census rows per unordered split pair (n_pairs, distinct
    * docs involved, is_leak flag); any is_leak=1 row with n_pairs > 0
    * is the "decontaminate your split" page.
    */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    def splitOf(id: Column): Column = {
      val h = T.hexPrefix52(concat(lit("split|"), id)) % 100
      when(h < 90, "train").when(h < 95, "val").otherwise("test")
    }
    qLshPairs(s, dir)
      .select(col("a_id"), col("b_id"),
        least(splitOf(col("a_id")), splitOf(col("b_id"))).as("split_a"),
        greatest(splitOf(col("a_id")), splitOf(col("b_id"))).as("split_b"))
      .select(col("split_a"), col("split_b"),
        explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(expr("count(1) div 2").as("n_pairs"),
           countDistinct(col("id")).as("n_docs"))
      .select(col("split_a"), col("split_b"), col("n_pairs"), col("n_docs"),
        (col("split_a") =!= col("split_b")).cast("int").as("is_leak"))
  }

  /** C45: INCREMENTAL dedup against a registry — the "dedup the new
    * crawl against the existing corpus" shape every ingest pipeline
    * runs (the registry is indexed ONCE; arrivals probe it — never a
    * corpus self-join): the C6 MinHash-LSH bands split into a registry
    * side (doc_id % 3 == 0, the standing index) and an arrival side,
    * candidates come from the ASYMMETRIC band equi-join (arrival →
    * registry only — cost O(arrivals × bands), the self-join's
    * quadratic-corpus term is gone by construction), and survivors
    * verify with the exact-Jaccard kernel off the same pinned shingle
    * sets. At 100 TB the registry bands are a bucketed table and each
    * ingest batch joins against it — this query IS that plan at gate
    * scale.
    */
  def qRegistryDedup(s: SparkSession, dir: String): DataFrame = {
    val sets = graft.core.Materialize.pin(shingled(s, dir))
    val sig = signaturesFrom(sets)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
             concat_ws("#", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("bkey")))
    val bands = sig
      .filter(col("sig0").isNotNull)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val arr = bands.filter(col("doc_id") % 3 =!= 0)
      .select(col("band"), col("bkey"), col("doc_id").as("a_id"))
    val reg = bands.filter(col("doc_id") % 3 === 0)
      .select(col("band"), col("bkey"), col("doc_id").as("b_id"))
    val cand = arr.join(reg, Seq("band", "bkey"))
      .select(col("a_id"), col("b_id")).distinct()
    jaccardVerify(sets, cand, tau = 0.5)
  }

  /** C54: MinHash ESTIMATOR-CALIBRATION census — the index-health
    * audit behind every C5/C6/C45 verdict ("is an 8-permutation
    * signature accurate enough to trust the band stage?"): over the
    * LSH candidate pairs, the signature-agreement estimate
    * (matching components / 8 — the unbiased MinHash Jaccard
    * estimator) against the EXACT Jaccard off the same pinned
    * shingle sets, bucketed by estimate value: pair counts, exact-
    * Jaccard mean/min/max, and the mean absolute estimator error —
    * all EXACT integers (per-pair jac_permille = (i·1000) div u, the
    * C33 round-before-sum rule; est_eighths·125 is the estimate in
    * permille). Reading the table tells you which agreement levels
    * are safe to auto-merge and which need the exact verify — the
    * decision every dedup cascade budget hangs on. At 100 TB: same
    * cost shape as C6 (band equi-join candidates, one documents
    * scan), plus a ≤9-key rollup.
    */
  def qMinhashErr(s: SparkSession, dir: String): DataFrame = {
    val sets = graft.core.Materialize.pin(shingled(s, dir))
    val sig = signaturesFrom(sets)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
             concat_ws("#", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("bkey")))
    val sigCols = (0 until 8).map(j => col(s"sig$j"))
    val bands = sig
      .filter(col("sig0").isNotNull)
      .select(col("doc_id") +: sigCols :+
        explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc_id") +: sigCols :+
        col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
    val payload = struct(col("doc_id").as("id") +:
      (0 until 8).map(j => col(s"sig$j").as(s"s$j")): _*)
    val cand = bucketPairs(bands, Seq("band", "bkey"), payload)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (0 until 8).map(j =>
          when(col(s"a.s$j") === col(s"b.s$j"), 1L).otherwise(0L))
          .reduce(_ + _).as("est_eighths"))
    val sets2 = sets
      .select(col("doc_id"), array_distinct(col("sh")).as("ss"))
      .hint("shuffle_hash")
    cand
      .join(sets2.select(col("doc_id").as("a_id"), col("ss").as("sa")), "a_id")
      .join(sets2.select(col("doc_id").as("b_id"), col("ss").as("sb")), "b_id")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("u",
        size(col("sa")).cast("long") + size(col("sb")) - col("i"))
      .withColumn("jp", expr("(i * 1000) div u"))
      .withColumn("err", abs(col("est_eighths") * 125 - col("jp")))
      .groupBy(col("est_eighths"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("jp")).as("sj"), min(col("jp")).as("min_jac_permille"),
           max(col("jp")).as("max_jac_permille"), sum(col("err")).as("se"))
      .select(col("est_eighths"), col("n_pairs"),
        expr("sj div n_pairs").as("avg_jac_permille"),
        col("min_jac_permille"), col("max_jac_permille"),
        expr("se div n_pairs").as("mean_abs_err_permille"))
  }

  /** C55: per-document CHARACTER-ENTROPY census — the gibberish /
    * degenerate-text gate (low character entropy ⇒ repeated-char runs,
    * base64 blobs collapse the other way with HIGH entropy vs prose's
    * ~2.8-3.2 nats; both tails get cut in LLM corpus curation, CCNet/
    * RefinedWeb-style, complementing the token-level C3/C11 gates which
    * miss sub-token degeneracy). H = ln(n) − (Σ c·ln c)/n over the
    * per-doc char histogram. Engine: entirely higher-order functions on
    * the text column — histogram via transform over the SORTED distinct
    * chars, Σ c·ln c via a sequential left fold in that sorted order
    * (`aggregate`), so the float summation ORDER is deterministic and
    * identical to the oracle's char-ordered list fold; ln operand set
    * is small integers both sides. ZERO shuffle — a single narrow
    * projection pass; at 100 TB this is the ideal scan shape (per-doc
    * cost O(distinct·len), distinct ≤ charset).
    */
  def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .filter(length(col("text")) > 0)
      .withColumn("chs", expr("filter(split(text, ''), c -> c <> '')"))
      .withColumn("n", size(col("chs")).cast("long"))
      .withColumn("cnts", expr(
        "transform(array_sort(array_distinct(chs))," +
          " c -> CAST(size(filter(chs, x -> x = c)) AS DOUBLE))"))
      .withColumn("hsum", expr(
        "aggregate(cnts, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * ln(x))"))
      .select(col("doc_id"), col("n").as("n_chars"),
        size(col("cnts")).cast("long").as("n_distinct"),
        dec4(log(col("n").cast("double")) - col("hsum") / col("n").cast("double"))
          .as("entropy_nats"))

  /** C7: n-gram Jaccard similarity join — inverted index over shingles,
    * blocked on rare shingles (df ≤ 5) to cap join fanout, then exact
    * Jaccard ≥ 0.5.
    */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // Inverted index in ONE pass over the pinned shingle sets (the
    // verify side reuses them — one documents scan total); rare-shingle
    // blocking (bucket size ≤ 5 == shingle df ≤ 5, docs are distinct
    // per bucket) caps pair fanout at C(5,2) per shingle.
    val sets = graft.core.Materialize.pin(shingled(s, dir))
    val exploded = sets
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("sh1"))
    val cand = bucketPairs(exploded, Seq("sh1"),
        struct(col("doc_id").as("id")), maxBucketSize = Some(5))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    jaccardVerify(sets, cand, tau = 0.5)
  }

  /** C41: asymmetric CONTAINMENT dedup — the doc-inside-doc detector
    * the symmetric Jaccard join (C7) structurally misses: a short
    * document fully quoted inside a long one has tiny Jaccard (the
    * union is dominated by the long doc) but containment
    * C(A→B) = |A∩B|/|A| ≈ 1. The standard signal for quote/boilerplate
    * supersets and snippet extraction in corpus curation (Broder's
    * containment, the basis of super-shingle dedup). Same scale shape
    * as C7: rare-shingle blocking (df ≤ 5) caps candidate fanout, ONE
    * documents scan feeds blocking and verify off the pinned shingle
    * sets, and both direction ratios publish as exact integral-division
    * PPM (non-negative operands — the A34 div/floor rule never
    * triggers). Pairs kept when either direction ≥ 0.6; empty shingle
    * sets cannot reach the division (no shingles → no candidates).
    */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val sets = graft.core.Materialize.pin(shingled(s, dir))
    val exploded = sets
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("sh1"))
    val cand = bucketPairs(exploded, Seq("sh1"),
        struct(col("doc_id").as("id")), maxBucketSize = Some(5))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    val ss = sets.select(col("doc_id"), array_distinct(col("sh")).as("ss"))
      .hint("shuffle_hash")
    cand
      .join(ss.select(col("doc_id").as("a_id"), col("ss").as("sa")), "a_id")
      .join(ss.select(col("doc_id").as("b_id"), col("ss").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("na", size(col("sa")).cast("long"))
      .withColumn("nb", size(col("sb")).cast("long"))
      .withColumn("cont_ab_ppm", expr("(inter * 1000000) div na"))
      .withColumn("cont_ba_ppm", expr("(inter * 1000000) div nb"))
      .filter(greatest(col("cont_ab_ppm"), col("cont_ba_ppm")) >= 600000L)
      .select(col("a_id"), col("b_id"), col("na"), col("nb"), col("inter"),
              col("cont_ab_ppm"), col("cont_ba_ppm"))
  }

  /** C8: 64-bit SimHash fingerprints. Per distinct word: 64-bit hash =
    * first 8 bytes of md5(word) (big-endian); each bit contributes
    * +tf / -tf to its lane; fingerprint bit = 1 iff the lane sum is
    * positive. Near-identical documents land within a few bits of
    * Hamming distance (verified in SimHashSpec; near-dup join via
    * 16-bit-band blocking is exercised there too). Compiled kernel,
    * hash-verified against a nibble-arithmetic DuckDB oracle.
    */
  def qSimHash(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("simhash", LongType, nullable = false),
      StructField("popcount", IntegerType, nullable = false)))
    fanOut(documents(s, dir).select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { row =>
          val words = docWords(row)
          val tf = new java.util.HashMap[String, Int]()
          words.foreach(w => tf.merge(w, 1, Integer.sum _))
          val lanes = new Array[Long](64)
          tf.forEach { (w, c) =>
            md.reset()
            val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var i = 0
            while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) lanes(j) += c else lanes(j) -= c
              j += 1
            }
          }
          var fp = 0L
          var j = 0
          while (j < 64) { if (lanes(j) > 0) fp |= (1L << j); j += 1 }
          Row(row.getLong(0), fp, java.lang.Long.bitCount(fp))
        }
      }(Encoders.row(outSchema))
  }

  /** C9: winnowing document fingerprints (Schleimer et al., MOSS):
    * rolling hashes of character k-grams (k=8), window w=4, keep each
    * window's minimum (rightmost wins ties), dedup positions. Emits
    * stable per-doc aggregates, hash-verified against a SQL replica of
    * the rolling-hash + rightmost-min selection; the coverage guarantee
    * is asserted in TextKernelsSpec.
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_fp", IntegerType, nullable = false),
      StructField("min_fp", LongType, nullable = true),
      StructField("max_fp", LongType, nullable = true)))
    fanOut(documents(s, dir).select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        it.map { row =>
          val fps = TextKernels.winnow(row.getString(1), k = 8, w = 4)
          if (fps.isEmpty) Row(row.getLong(0), 0, null, null)
          else Row(row.getLong(0), fps.length, fps.min, fps.max)
        }
      }(Encoders.row(outSchema))
  }

  /** C8b: SimHash hamming near-dup PAIRS as a distributed join — each
    * fingerprint explodes to its four 16-bit bands; docs sharing a band
    * value become candidates (fingerprints ride along, so the kernel
    * runs once); exact hamming verifies. At threshold 3 the blocking is
    * EXACT by pigeonhole — 3 bit flips cannot touch all 4 bands — so
    * the plain all-pairs oracle is equivalent, not approximate.
    * Candidate volume is O(docs x 4), never O(docs^2).
    */
  def qSimHashPairs(s: SparkSession, dir: String): DataFrame = {
    val maxHamming = 3
    val fp = qSimHash(s, dir).select(col("doc_id"), col("simhash"))
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xffffL)).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
              col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val cand = bucketPairs(bands, Seq("band", "bkey"),
        struct(col("doc_id").as("id"), col("simhash")))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
    cand.filter(col("hamming") <= maxHamming)
  }

  /** C16: near-dup CLUSTERS — the LSH pairs grouped into connected
    * components (Graphs.connectedComponents), cluster id = the smallest
    * doc_id in the component (the canonical keeper). This is the step
    * that turns pairwise near-dup evidence into a deduplication
    * decision. Input is the [[ScaleSliceMaxDoc]] contract slice —
    * inactive at gate scales (every sf0.01/sf0.1 doc passes), frozen
    * at 10×+, so the transitive-closure ORACLE (recursive SQL over the
    * pair graph, whose replica-clique edges grow superlinearly under
    * ScaleData's verbatim text copies) stays verifiable at any sf; the
    * corpus-scale closure itself is Graphs.connectedComponents, whose
    * log-rounds contract D-family audits separately.
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairsFrom(
        shingled(s, dir).filter(col("doc_id") < ScaleSliceMaxDoc))
      .select(col("a_id").as("a"), col("b_id").as("b"))
    Graphs.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
  }

  /** C10: end-to-end corpus curation — the composite filter every LLM
    * data pipeline runs: keep a document iff it is (a) its content
    * hash's canonical keeper (exact dedup), (b) above quality floors,
    * and (c) in an allowed language per the marker heuristic. One
    * hash-shuffle (dedup); everything else codegen'd per-row.
    */
  def qCurate(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    val n  = size(ws)
    val scored = documents(s, dir).select(
      col("doc_id"), md5(col("text")).as("h"),
      n.cast("long").as("n_words"),
      (size(array_distinct(ws)).cast("double") / n).as("distinct_ratio"),
      langPred(ws).as("pred_lang"))
    // keeper-of-hash via ONE window pass (row_number over the content
    // hash) instead of a groupBy + self-join: the self-join recomputed
    // every per-doc score expression on a second scan and shuffled
    // twice; this shuffles once and scores once
    val keeperW = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    scored
      .withColumn("rn", row_number().over(keeperW))
      .filter(col("rn") === 1 &&
        col("n_words") >= 20 && col("distinct_ratio") >= 0.3 &&
        col("pred_lang").isin("en", "de"))
      .select(col("doc_id"), col("n_words"), col("pred_lang"))
  }

  /** C11: repetition quality filters (the Gopher-rules family): the
    * fraction of duplicated word 2-grams and the dominance of the most
    * frequent word. Both are per-document set/frequency reductions —
    * codegen'd array expressions for the 2-grams, one explode+reaggregate
    * for the word mode (partial aggregation keeps the shuffle at
    * one row per (doc, word)).
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    val grams2 = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    val base = documents(s, dir).select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      grams2.as("g2"))
    val gramStats = base.select(
      col("doc_id"), col("n_words"),
      size(col("g2")).as("n_g2"),
      size(array_distinct(col("g2"))).as("n_g2_distinct"))
    val topWord = documents(s, dir)
      .select(col("doc_id"), explode(T.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    gramStats.join(topWord, "doc_id")
      .select(
        col("doc_id"), col("n_words"),
        dec4(when(col("n_g2") > 0,
          lit(1.0) - col("n_g2_distinct").cast("double") / col("n_g2"))
          .otherwise(lit(0.0))).as("dup_2gram_frac"),
        dec4(col("top_c").cast("double") / col("n_words")).as("top_word_ratio"))
  }

  /** C12: character-class composition — alpha/digit/space/other ratios
    * per document, pure codegen'd regexp arithmetic (no shuffle).
    */
  def qCharClass(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    def classLen(re: String): Column =
      length(regexp_replace(col("text"), re, ""))
    val nAlpha = n - classLen("[a-z]")
    val nDigit = n - classLen("[0-9]")
    val nSpace = n - classLen(" ")
    documents(s, dir).select(
      col("doc_id"),
      n.cast("long").as("n_chars"),
      dec4(nAlpha.cast("double") / n).as("alpha_ratio"),
      dec4(nDigit.cast("double") / n).as("digit_ratio"),
      dec4(nSpace.cast("double") / n).as("space_ratio"),
      dec4((n - nAlpha - nDigit - nSpace).cast("double") / n).as("other_ratio"))
  }

  /** C13: TF-IDF top term per document — classic IR scoring over the
    * corpus: tf from a per-(doc, word) count, df from a per-word
    * distinct-doc count, idf = ln(N/df), argmax per doc with ties to
    * the lexicographically lowest term. Two hash shuffles (word counts,
    * df join) — both on keys whose cardinality is vocabulary-, not
    * corpus-, sized after the first partial aggregation.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    // N as a LAZY broadcast 1-row aggregate (a metadata-only parquet
    // count), not an eager .count() at plan-construction time — building
    // the query must not run a job before the caller asks for one
    val nDocs = documents(s, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = documents(s, dir)
      .select(col("doc_id"), explode(T.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
    val wnd = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("w").as("top_term"),
              dec4(col("tfidf")).as("top_tfidf"))
  }

  /** C14: feature-hashing text vectorizer (the hashing trick,
    * Weinberger et al.: token -> bucket via hash, signed +-1 by a hash
    * bit) emitted as sparse (doc_id, bucket, weight) rows. Weights are
    * integer sums -> engine-exact; a dense `array(64)` form is one
    * groupBy-pivot away; cosine over these is the cheap
    * embedding-free near-dup signal. One compiled pass per partition,
    * one vocabulary-free shuffle of the sparse triples.
    */
  def qHashEmbed(s: SparkSession, dir: String): DataFrame = {
    val nBuckets = 64
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("w", LongType, nullable = false)))
    fanOut(documents(s, dir).select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { row =>
          val acc = new Array[Long](nBuckets)
          docWords(row).foreach { w =>
            val h = TextKernels.md5Prefix52(md, w)
            val b = (h % nBuckets).toInt
            val sgn = if (((h / nBuckets) % 2) == 1) 1L else -1L
            acc(b) += sgn
          }
          val id = row.getLong(0)
          (0 until nBuckets).iterator
            .filter(acc(_) != 0L)
            .map(b => Row(id, b, acc(b)))
        }
      }(Encoders.row(outSchema))
  }

  /** C15: Gopher-style quality gate (Rae et al., the rule family every
    * LLM corpus pipeline applies) — the subset meaningful for
    * single-line documents: word-count bounds, mean-word-length bounds,
    * alphabetic-word ratio, and minimum stopword evidence. Emitted as
    * per-rule integer flags plus the composite keep bit, so the gate is
    * auditable (which rule killed a doc) and engine-exact.
    */
  /** The C15 rule expressions over any (doc_id, text) frame — pure
    * stateless codegen, so the STREAMING twin (F12) attaches them to an
    * unbounded frame unchanged.
    */
  /** The four C15 rule flags over a `text` column — shared by
    * [[gopherOn]] and the single-column verdict [[gopherKeepCol]].
    */
  private def gopherFlagCols: (Column, Column, Column, Column) = {
    val ws = T.words(col("text"))
    val n = size(ws)
    val sumLen = T.sumWordLen(ws)
    val nAlphaWords = size(filter(ws, w => w.rlike("[a-z]")))
    val nStop = T.markerCount(ws, Seq("the", "be", "to", "of", "and", "that", "have", "with"))
    ((n >= 50 && n <= 100000).cast("int"),
     (sumLen >= n * 3 && sumLen <= n * 10).cast("int"),
     (nAlphaWords * 5 >= n * 4).cast("int"), // >= 80%
     (nStop >= 2).cast("int"))
  }

  /** The C15 keep verdict as ONE stateless Column over `text` — for
    * compositions (C31, F18) that only need the final bit.
    */
  def gopherKeepCol: Column = {
    val (fCount, fLen, fAlpha, fStop) = gopherFlagCols
    fCount * fLen * fAlpha * fStop
  }

  def gopherOn(docs: DataFrame): DataFrame = {
    val (fCount, fLen, fAlpha, fStop) = gopherFlagCols
    docs.select(
      col("doc_id"), size(T.words(col("text"))).cast("long").as("n_words"),
      fCount.as("f_wordcount"), fLen.as("f_wordlen"),
      fAlpha.as("f_alpha"), fStop.as("f_stop"),
      (fCount * fLen * fAlpha * fStop).as("keep"))
  }

  def qGopher(s: SparkSession, dir: String): DataFrame =
    gopherOn(documents(s, dir))

  /** C17: exact n-gram eval-set decontamination (the GPT-3/Pile
    * training-hygiene step: drop training docs that share a long
    * word n-gram with a benchmark). The "benchmark" here is the
    * documents with doc_id % 97 == 0 — a stand-in for the genuinely
    * SMALL eval suite a production run supplies as its own table.
    * Output: every contaminated training doc with its count of
    * distinct shared 4-grams.
    *
    * Scale posture: the eval side is tiny by contract, so its distinct
    * n-gram set BROADCASTS; the corpus explodes to n-grams and
    * broadcast-semi-joins — the corpus never shuffles, and the one
    * aggregation shuffles only the matched subset (≈ contamination
    * volume, not corpus volume). The shingle set is pinned so the eval
    * and training sides are one documents scan.
    */
  def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val g = graft.core.Materialize.pin(
      shingled(s, dir, n = 4)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g")))
    val evalGrams = g.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
    g.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      // DISTINCT: the corpus has degenerate duplicate doc_ids, whose
      // repeated (doc_id, gram) rows must not double-count
      .agg(countDistinct(col("g")).as("n_shared"))
  }

  /** C18: deterministic Bloom-filter pre-screen for decontamination —
    * the constant-space form of C17 for when even the eval n-gram KEY
    * set is too big to broadcast but its BLOOM FILTER fits anywhere
    * (here m=16384 bits, k=2 md5-derived hashes; production sizes m to
    * the eval-gram cardinality). The filter is built from one bounded
    * collect of eval-gram bit positions and embedded as a literal
    * bitmask, so the corpus-side Bloom test is a pure per-row
    * expression: NO join, NO shuffle — only the (tiny) exact-count
    * comparison joins. False positives are part of the CONTRACT and
    * fully deterministic (md5 both engines replicate), so the oracle
    * verifies them too: per flagged doc, `n_maybe` is the Bloom's
    * gram-hit count, `n_true` the exact count (C17's n_shared);
    * n_maybe > n_true rows are the filter's reproducible FPs.
    */
  /** C18 kernel pieces, factored so the STREAMING twin (F11,
    * EventStreams.bloomDecontamStream) attaches the IDENTICAL
    * expressions to an unbounded frame.
    */
  /** The k Bloom bit positions of a gram via Kirsch–Mitzenmacher
    * double hashing: ONE md5 digest per gram (the dominant decontam
    * screen cost — the corpus side evaluates this for every gram of
    * 100 TB), split into h1 = top 26 bits / h2 = low 26 bits of the
    * 52-bit prefix, position_j = (h1 + j·h2) mod m. Engine-neutral
    * integer arithmetic; the oracle rebuilds the same positions.
    * (r6: replaced k independent digests — 2× less digest work for the
    * same asymptotic FP rate, per Kirsch & Mitzenmacher 2006.)
    */
  def bloomPositions(g: Column, m: Int = 16384, k: Int = 2): Seq[Column] = {
    val u = T.hexPrefix52(concat(lit("bloom|"), g))
    val h1 = shiftright(u, 26)
    val h2 = u.bitwiseAND(lit((1L << 26) - 1))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % m)
  }

  /** Build the filter: one driver-side fold over the eval-gram
    * positions (eval side is small by the same contract as C17).
    * Batch-side only — the result rides into stream/corpus expressions
    * as a literal.
    */
  def bloomBitmaskOf(ev: DataFrame, m: Int = 16384, k: Int = 2): String = {
    val bits = new Array[Boolean](m)
    ev.select(bloomPositions(col("g"), m, k): _*).collect()
      .foreach(r => (0 until k).foreach(j => bits(r.getLong(j).toInt) = true))
    bits.map(b => if (b) '1' else '0').mkString
  }

  /** The per-row Bloom membership test: all k positions set in the
    * literal bitmask. Pure codegen — no join, no shuffle, no state —
    * so it attaches unchanged to batch or streaming frames.
    *
    * Representation matters at fact-scan rates: the original
    * `substr(<16384-char literal>, pos, 1)` probe walked the
    * UTF8String byte-by-byte to find the character offset — O(position)
    * PER ROW, measured 49 s for a single 600k-row scan (B72). The
    * bitmask now rides as ONE boolean-array literal probed with
    * `element_at` — O(1) integer indexing, whole-stage-codegen'd,
    * same semantics bit-for-bit (sub-second on the same scan).
    */
  def bloomMaybeHit(g: Column, bitmask: String, m: Int = 16384, k: Int = 2): Column =
    maybeHitWith(bloomPositions(g, m, k), bitmask)

  /** xxhash64-based double-hashed positions for ENGINE-INTERNAL
    * runtime filters (B72): membership only needs build/probe
    * consistency inside one engine — false positives are removed by
    * the exact join that follows — so the cheap non-replicable hash is
    * the right tool there (~10× less per-row work than a hex md5
    * parse). C18's decontamination screen keeps the md5 form because
    * its ORACLE replicates the positions.
    */
  def bloomPositionsFast(g: Column, m: Int, k: Int = 2): Seq[Column] = {
    val u = abs(xxhash64(lit("bloom|"), g))
    val h1 = shiftright(u, 26)
    val h2 = u.bitwiseAND(lit((1L << 26) - 1))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % m)
  }

  def bloomMaybeHitFast(g: Column, bitmask: String, m: Int, k: Int = 2): Column =
    maybeHitWith(bloomPositionsFast(g, m, k), bitmask)

  private def maybeHitWith(positions: Seq[Column], bitmask: String): Column = {
    val maskCol = typedLit(bitmask.map(_ == '1').toArray)
    positions
      .map(p => element_at(maskCol, (p + 1).cast("int")))
      .reduce(_ && _)
  }

  /** Word n-gram shingles as a PURE-SQL expression pipeline (unlike the
    * compiled [[shingled]] kernel, this attaches to streaming frames):
    * one distinct gram row per (doc, gram). Matches the kernel's gram
    * format exactly (space-joined word windows, `split(text, " ", -1)`
    * word rule).
    */
  def shingleGramsOn(docs: DataFrame, n: Int): DataFrame = {
    val words = split(col("text"), " ", -1)
    val idxs = when(size(words) >= n, sequence(lit(0), size(words) - n))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"),
      explode(array_distinct(transform(idxs, i =>
        concat_ws(" ", slice(words, i + 1, lit(n)))))).as("g"))
  }

  def qBloom(s: SparkSession, dir: String): DataFrame = {
    val m = 16384
    val k = 2
    val grams = graft.core.Materialize.pin(
      shingled(s, dir, n = 4)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g")))
    val ev = grams.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
    val bitmask = bloomBitmaskOf(ev, m, k)
    grams.filter(col("doc_id") % 97 =!= 0)
      .withColumn("mh", bloomMaybeHit(col("g"), bitmask, m, k).cast("int"))
      .join(broadcast(ev.withColumn("__t", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("mh")).as("n_maybe"),
        sum(coalesce(col("__t"), lit(0))).as("n_true"))
      .filter(col("n_maybe") > 0)
  }

  /** C19: URL canonicalization dedup — the web-corpus hygiene step that
    * collapses scheme/host case, default ports, tracking params,
    * param order, fragments, and trailing slashes before exact dedup.
    * The corpus ships no URL column, so messy-but-equivalent URLs are
    * SYNTHESIZED deterministically from doc fields (the same
    * convention as the media container: the derivation IS the
    * contract); ~7 docs share each canonical URL by construction.
    * Canonicalization is pure codegen'd string work per row; the dedup
    * is ONE hash shuffle on the canonical key — identical scale shape
    * to C1.
    */
  def qUrlNorm(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    // messy synthesis: case-flipped scheme/host, sometimes-explicit :80,
    // swapped param order, a utm_ tracking param, fragment, trailing /
    val scheme = when(id % 2 === 0, "HTTP").otherwise("http")
    val host = concat(
      when(id % 3 === 0, "WWW.").otherwise("www."),
      col("source"), lit(".Example.COM"))
    val port = when(id % 5 === 0, ":80").otherwise("")
    val path = concat(lit("/docs/"), (id / 140).cast("long"))
    val slash = when(id % 4 === 0, "/").otherwise("")
    val params = when(id % 2 === 0, "a=1&b=2").otherwise("b=2&a=1")
    val utm = when(id % 6 === 0, "utm_source=feed&").otherwise("")
    val frag = when(id % 3 === 0, concat(lit("#sec"), id % 3)).otherwise("")
    val raw = concat(scheme, lit("://"), host, port, path, slash, lit("?"), utm, params, frag)

    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val pre = substring_index(noFrag, "?", 1)
    val query = substring_index(noFrag, "?", -1) // synthesis always has one "?"
    val keptParams = filter(split(query, "&"),
      p => !p.startsWith("utm_") && p =!= "")
    val canonPre = regexp_replace(
      regexp_replace(lower(pre), ":80/", "/"),
      "/$", "")
    val canon = concat(canonPre,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(sort_array(keptParams), "&"))).otherwise(""))

    documents(s, dir)
      .select(id, raw.as("url"))
      .select(col("doc_id"), canon.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
  }

  /** C20: PII detection + redaction — the corpus-hygiene pass every
    * training pipeline runs before release. Deterministic synthesis
    * (emails/phones/IPs injected from doc fields, as q_urlnorm
    * synthesizes URLs) keeps the oracle exact; detection and redaction
    * are pure codegen'd regex work — zero shuffle, scales linearly.
    */
  /** The C20 detection/redaction pipeline over ANY (doc_id, t) frame —
    * batch and streaming (F8) run the IDENTICAL expressions; stateless,
    * so it attaches to a streaming DataFrame unchanged.
    */
  def piiOn(docs: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9_]+@[a-z0-9.]+\\.com"
    val phoneRe = "555-[0-9]{4}"
    val ipRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    docs.select(col("doc_id"),
      regexp_count(col("t"), lit(emailRe)).cast("long").as("n_email"),
      regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phone"),
      regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ip"),
      md5(regexp_replace(
        regexp_replace(
          regexp_replace(col("t"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")).as("redacted_md5"))
  }

  /** PII synthesis for the C20/F8 inputs (doc_id, t). */
  def piiInput(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val email = concat(col("source"), lit("_"), id, lit("@example.com"))
    val phone = concat(lit("555-"), lpad((id % 10000).cast("string"), 4, "0"))
    val ip = concat(lit("10."), id % 256,
      lit("."), (id / 7).cast("long") % 256, lit("."), (id / 13).cast("long") % 256)
    val injected = concat(col("text"),
      when(id % 3 === 0, concat(lit(" contact "), email)).otherwise(lit("")),
      when(id % 4 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" host "), ip)).otherwise(lit("")))
    docs.select(col("doc_id"), injected.as("t"))
  }

  def qPii(s: SparkSession, dir: String): DataFrame =
    piiOn(piiInput(documents(s, dir)))

  /** C21: stratified (language-balanced) sampling — ~60 docs per
    * language via a deterministic hash-threshold: keep iff
    * `md5_52("strat|"+id) % n_lang < quota`. NO per-language window
    * (a language-partitioned row_number would put every "en" doc in
    * one task at corpus scale — the exact skew the q_rank_norm lesson
    * bans); per-language counts are a 5-row broadcast aggregate, the
    * keep test is codegen'd per row. Quota holds in expectation — the
    * cost of the shuffle-free plan — and the draw is reproducible.
    */
  def qStratified(s: SparkSession, dir: String): DataFrame = {
    val quota = 60
    val counts = documents(s, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
    documents(s, dir)
      .join(broadcast(counts), "lang")
      .filter(T.hexPrefix52(concat(lit("strat|"), col("doc_id"))) % col("n_lang") < quota)
      .select(col("doc_id"), col("lang"))
  }

  /** C22: cross-document substring-duplication candidates — pairs of
    * docs sharing ≥2 winnowing fingerprints (Schleimer et al.: any
    * shared substring ≥ k+w−1 chars guarantees a shared fingerprint,
    * so heavy fingerprint overlap flags copied spans, the approximate
    * stand-in for suffix-array exact substring dedup at corpus scale).
    * Per-doc fingerprints come from the same compiled winnow kernel as
    * C9; pair generation is a fingerprint-bucket join with bucket size
    * capped at 8 (rare-fingerprint blocking, same df-cap contract as
    * the shingle index) — candidate volume O(docs × fps), never
    * O(docs²).
    */
  def qFpOverlap(s: SparkSession, dir: String): DataFrame =
    fpOverlapFrom(documents(s, dir))

  /** The C22 pipeline over any (doc_id, text) frame — C22 feeds the
    * full corpus, C24's PageRank gate feeds the [[ScaleSliceMaxDoc]]
    * contract slice.
    */
  private def fpOverlapFrom(docs: DataFrame): DataFrame = {
    val fpSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    val fps = fanOut(docs.select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        it.flatMap { row =>
          TextKernels.winnow(row.getString(1), k = 8, w = 4)
            .distinct.map(h => Row(row.getLong(0), h))
        }
      }(Encoders.row(fpSchema))
    fps.groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= 8)
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** C28: training-data chunking — split every document into 32-word
    * windows with 8-word overlap (stride 24), the context-window
    * packing step between curation and tokenization in an LLM data
    * pipeline. Pure stateless codegen (split + sequence + slice +
    * posexplode): no shuffle, no state — each task chunks its own
    * partition, so the op is free at any corpus size; emitted as
    * (chunk_idx, n_tokens, chunk md5) so the output stays narrow.
    * Chunk count = (nw − size + stride − 1) div stride + 1 for nw >
    * size (exact integer both engines); short tails are kept (the
    * packer downstream decides padding vs dropping).
    */
  /** The chunker over any (doc_id, text) frame — stateless, so the
    * streaming twin (F13) attaches it to an unbounded ingest stream
    * unchanged.
    */
  def chunksOn(docs: DataFrame, sz: Int = 32, stride: Int = 24): DataFrame = {
    val ws = split(col("text"), " ", -1)
    val nw = size(ws)
    val nc = when(nw <= sz, lit(1)).otherwise(
      floor((nw - sz + (stride - 1)).cast("double") / stride).cast("int") + 1)
    docs
      .select(col("doc_id"), nw.as("nw"),
        posexplode(transform(sequence(lit(0), nc - 1), i =>
          concat_ws(" ", slice(ws, i * stride + 1, lit(sz))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        least(lit(sz), col("nw") - col("pos") * stride).cast("long").as("n_tokens"),
        md5(col("col")).as("chunk_md5"))
  }

  def qChunks(s: SparkSession, dir: String): DataFrame =
    chunksOn(documents(s, dir))

  /** C31: the END-TO-END corpus pipeline — the flagship composition
    * every piece above exists for: per training document (eval slice
    * excluded), its exact-dedup keeper flag (C1 rule), Gopher quality
    * verdict (C15), eval-set contamination flag (C17's exact 4-gram
    * rule), split assignment (C30), and the final `selected` bit
    * (keeper ∧ quality ∧ clean ∧ train). Scale shape: one content-hash
    * shuffle (dedup), one broadcast semi-join (decontam — the eval side
    * is small by contract), everything else stateless codegen; the
    * corpus is scanned, never collected, never self-joined on ids
    * beyond the keeper equi-join.
    */
  def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val all = documents(s, dir).select(col("doc_id"), col("text"))
    val base = all.filter(col("doc_id") % 97 =!= 0).distinct()
    val keepers = base.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper_id"))
    val evalGrams = shingleGramsOn(all.filter(col("doc_id") % 97 === 0), n = 4)
      .select(col("g")).distinct()
    val contaminated = shingleGramsOn(base, n = 4)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
      .withColumn("cont", lit(1))
    val h = T.hexPrefix52(concat(lit("split|"), col("doc_id"))) % 100
    val split = when(h < 90, "train").when(h < 95, "val").otherwise("test")
    val flags = gopherOn(base).select(col("doc_id"), col("keep").as("keep_quality"))
    base.withColumn("h", md5(col("text")))
      .join(keepers, "h")
      .join(flags, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") === col("keeper_id")).cast("int").as("is_keeper"),
        col("keep_quality"),
        coalesce(col("cont"), lit(0)).as("contaminated"),
        split.as("split"))
      .withColumn("selected",
        (col("is_keeper") === 1 && col("keep_quality") === 1 &&
         col("contaminated") === 0 && col("split") === "train").cast("int"))
  }

  /** C30: deterministic train/val/test split (90/5/5) — hash-range
    * assignment on the 52-bit md5 prefix ("split|" tag): engine-
    * portable (no RNG state to shuffle-order-couple), stable across
    * reruns and cluster sizes, pure codegen per row, zero shuffle —
    * the only correct way to split 100 TB (a random() split changes
    * membership every run and leaks val into train).
    */
  def qSplit(s: SparkSession, dir: String): DataFrame = {
    val h = T.hexPrefix52(concat(lit("split|"), col("doc_id"))) % 100
    documents(s, dir)
      .select(col("doc_id"),
        when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
  }

  /** The C36 canonical form: lowercase, punctuation stripped,
    * whitespace collapsed and trimmed — one pure-codegen expression.
    */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** C36: canonicalizing exact dedup — C1's content-hash rule applied
    * to the NORMALIZED text: catches the near-identical variants raw
    * hashing misses (case flips, punctuation, double spaces) while
    * staying one codegen expression + one hash shuffle — the cheap
    * middle tier between C1 (byte-exact) and C5/C8 (MinHash/SimHash).
    * `n_raw_forms` counts the distinct raw hashes merged into each
    * canonical cluster (the docs C1 would have kept as "different").
    */
  def qCanonDedup(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(canonicalText(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"),
           countDistinct(md5(col("text"))).as("n_raw_forms"))
      .select(col("keeper_id"), col("n_members"), col("n_raw_forms"))

  /** C49: dedup-cascade yield report — the corpus-curation summary
    * every pipeline owner reads before anything else ("how much does
    * each dedup stage actually remove"): ONE corpus pass computes the
    * raw count and the exact (md5) and canonical (C36 normalization)
    * distinct counts, and the three stage rows publish kept/removed
    * counts plus the EXACT integral-ppm removal share of the raw
    * corpus. The stage ordering is the production cascade's (cheap
    * exact → canonical; the near-dup stages C5–C16 run downstream of
    * this report on what survives). Each distinct count is its OWN
    * dedup aggregate — two countDistinct in one agg would plan the
    * banned Expand (tripling every fact row through the shuffle);
    * three map-side-combined passes beat one tripled pass at any
    * scale, and the plan audit enforces it.
    */
  def qDedupYield(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val stats = d.agg(count(lit(1)).as("raw"))
      .crossJoin(broadcast(d.select(md5(col("text")).as("h")).distinct()
        .agg(count(lit(1)).as("exact"))))
      .crossJoin(broadcast(d.select(md5(canonicalText(col("text"))).as("h"))
        .distinct().agg(count(lit(1)).as("canon"))))
    val rows = stats.select(
        lit("a_raw").as("stage"), col("raw").as("n_kept"),
        lit(null).cast("long").as("n_removed"), col("raw"))
      .unionAll(stats.select(lit("b_exact"), col("exact"),
        (col("raw") - col("exact")).cast("long"), col("raw")))
      .unionAll(stats.select(lit("c_canon"), col("canon"),
        (col("exact") - col("canon")).cast("long"), col("raw")))
    rows.select(col("stage"), col("n_kept"), col("n_removed"),
        expr("CAST(CASE WHEN n_removed IS NULL THEN NULL " +
             "ELSE (n_removed * 1000000) div raw END AS BIGINT)")
          .as("removed_ppm_of_raw"))
  }

  /** C32: cross-document duplicated n-gram fraction — the RefinedWeb/
    * Dolma-style dup_ngram filter signal: per document, the fraction of
    * its word 3-gram OCCURRENCES whose gram appears in more than one
    * document. Unlike C11 (within-doc repetition) this measures corpus-
    * level boilerplate (headers, license blocks, templated spam). Scale
    * shape: one explode + one gram-key shuffle with map-side partial
    * countDistinct, then the gram→doc join shuffles O(gram occurrences)
    * — never O(docs²); the gram stats frame is the same cardinality as
    * the C23 vocabulary (sub-linear in corpus size after dedup), so at
    * 100 TB AQE turns the join's small side into a broadcast where it
    * fits and a plain shuffle join where it doesn't.
    */
  def qDupNgram(s: SparkSession, dir: String): DataFrame = {
    // per-(doc, gram) occurrence counts FIRST: the (doc_id, g) combine
    // collapses within-doc repeats before anything shuffles, the gram
    // stats become a plain count over one-row-per-(doc,gram) (the
    // countDistinct dedup exchange disappears), and the join back
    // carries distinct pairs, not occurrences — on boilerplate-heavy
    // corpora (the op's target) that's the difference between
    // shuffling O(tokens) and O(distinct doc-gram pairs)
    val g2 = documents(s, dir)
      .select(col("doc_id"), T.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1), element_at(col("w"), i + 2)))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    val st = g2.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    g2.join(st, "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
           sum(when(col("ndocs") > 1, col("cnt")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"),
        dec4(col("n_dup").cast("double") / col("n_grams")).as("dup_3gram_frac"))
  }

  /** C33: corpus-trained bigram language-model score — the CCNet-style
    * perplexity quality filter: train bigram/unigram counts on the
    * corpus itself, score each document by its mean bigram log-
    * probability ln(c2(w1 w2)/c1(w1)) (no smoothing needed — the model
    * is trained on the scored corpus, so every bigram has c2 ≥ 1).
    * Low scores = improbable word sequences = gibberish/boilerplate;
    * the threshold consumer is a C10-style curation gate. Cross-engine
    * determinism: each per-bigram term is rounded to 6dp and cast
    * DECIMAL(18,6) BEFORE summing, so the per-doc sum is exact decimal
    * arithmetic — immune to float summation order, which differs
    * between Spark's partial aggregates and DuckDB. Scale shape: two
    * count shuffles (unigram, bigram — both vocabulary-sized after
    * combine) + the occurrence→count joins on token keys; no driver
    * round-trip, no all-pairs, and the trained counts are reusable
    * frames (fit once, score any stream).
    */
  /** (doc_id, w1, bg) bigram occurrences of a (doc_id, text) frame —
    * stateless codegen, so it attaches to streams unchanged.
    */
  private def bigramsOn(docs: DataFrame): DataFrame = {
    val w = T.words(col("text"))
    docs.select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1)).as("bg")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
  }

  /** LM FIT: (unigram counts keyed `t`, bigram counts keyed `bg`) over
    * a training corpus — two vocabulary-sized count aggregates,
    * reusable static frames (fit once, score any batch or stream).
    */
  def lmFit(docs: DataFrame): (DataFrame, DataFrame) = {
    val uni = docs.select(explode(T.words(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val c2 = bigramsOn(docs).groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    (uni, c2)
  }

  /** LM SCORE: per-document mean bigram log-probability against fitted
    * counts. Each term rounds to 6dp DECIMAL BEFORE the sum, so the
    * score is exact decimal arithmetic (float summation order differs
    * between engines and between partial-aggregate schedules). On a
    * stream this is two stream-static joins + one Update-mode per-doc
    * aggregate (F16).
    */
  def lmScoreOn(docs: DataFrame, uni: DataFrame, c2: DataFrame): DataFrame = {
    // batch path combines per-(doc, bigram) occurrences before the
    // count joins: equal occurrences share one exact lp term, so their
    // sum = cnt·lp (decimal × integer, still exact) and the join rows
    // shrink from occurrences to distinct pairs — the C32 shuffle
    // rule. The STREAM path must stay a single stateful aggregate
    // (chained streaming aggregations are unsupported without
    // watermark/append), so it rides cnt = 1 per occurrence — the
    // final per-doc aggregate is the one stateful op either way.
    val bx = bigramsOn(docs)
    val pairs =
      if (docs.isStreaming) bx.withColumn("cnt", lit(1L))
      else bx.groupBy(col("doc_id"), col("w1"), col("bg"))
        .agg(count(lit(1)).as("cnt"))
    pairs
      .join(c2, "bg").join(uni, col("w1") === col("t"))
      .select(col("doc_id"), col("cnt"),
        round(log(col("c2").cast("double") / col("c1")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("lp") * col("cnt")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        dec4(col("sum_lp").cast("double") / col("n_bigrams")).as("avg_logprob"))
  }

  def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    // r16 optimization (guide §1.2 + the C29 kernel rule): the batch
    // query ran the corpus bigram explode TWICE (once for the c2 fit
    // counts in lmFit, once for the scoring pairs in lmScoreOn), each
    // through the interpreted-per-element transform/element_at HOF path
    // that qBpePairs already measured at ~4× a compiled kernel for the
    // same shape. ONE mapPartitions pass now emits the bigram rows
    // (identical strings: split(" ", -1) with empty tokens kept, w1 +
    // " " + w2 — the concat_ws text), combined to per-(doc, w1, bg)
    // counts; the c2 fit counts aggregate off that frame (Σ per-doc
    // counts = the same total integers) and the scoring join reads it
    // directly — both consumers sit in ONE action over the SAME
    // canonical exchange, so the kernel+combine runs once and the
    // second consumer is a ReusedExchange (a pin barrier measured
    // net-negative here: localCheckpoint write ≈ the saved pass). The
    // stream twin (F16) keeps the stateless HOF path unchanged.
    // R16OptimizationParitySpec holds the old pipeline as reference.
    val bgSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("w1", StringType, nullable = false),
      StructField("bg", StringType, nullable = false)))
    val px =
      fanOut(docs).mapPartitions { it =>
        it.flatMap { row =>
          val id = row.getLong(0)
          val w = docWords(row)
          (0 until w.length - 1).iterator
            .map(i => Row(id, w(i), w(i) + " " + w(i + 1)))
        }
      }(Encoders.row(bgSchema))
      .groupBy(col("doc_id"), col("w1"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val uni = docs.select(explode(T.words(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val c2 = px.groupBy(col("bg")).agg(sum(col("cnt")).as("c2"))
    px
      .join(c2, "bg").join(uni, col("w1") === col("t"))
      .select(col("doc_id"), col("cnt"),
        round(log(col("c2").cast("double") / col("c1")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("lp") * col("cnt")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        dec4(col("sum_lp").cast("double") / col("n_bigrams")).as("avg_logprob"))
  }

  /** C34: token-budget domain mixing — the pre-training sampler that
    * turns "give every domain an equal share of a 25%-of-corpus token
    * budget" into a deterministic per-document keep decision: per
    * source domain, keep rate = min(1, budget_share/domain_tokens)
    * expressed as an INTEGER millionths threshold (pure BIGINT div —
    * bit-identical cross-engine, no float boundary), membership by the
    * C30 hash-range rule ("mix|" tag), so the sample is stable across
    * reruns and cluster sizes and never couples to shuffle order.
    * Scale shape: one domain aggregate (domains ≪ docs), thresholds
    * broadcast back, keep decision pure codegen per row; the output is
    * the per-domain audit (docs/tokens before vs kept) a mixture run
    * logs. At 100 TB swap the uniform weights for any target mixture —
    * the threshold algebra is unchanged.
    */
  def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("source"),
      size(T.words(col("text"))).cast("long").as("toks"))
    val tot = d.agg(sum(col("toks")).as("total_toks"),
      countDistinct(col("source")).as("n_dom"))
    val dom = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("dom_toks"))
    val thr = dom.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("dom_toks"),
        least(lit(1000000L),
          expr("(1000000 * ((total_toks div 4) div n_dom)) div dom_toks")).as("thr"))
    val u = T.hexPrefix52(concat(lit("mix|"), col("doc_id"))) % 1000000L
    d.join(broadcast(thr), "source")
      .select(col("source"), col("n_docs"), col("dom_toks"), col("thr"),
        when(u < col("thr"), 1L).otherwise(0L).as("kept"), col("toks"))
      .groupBy(col("source"), col("n_docs"), col("dom_toks"), col("thr"))
      .agg(sum(col("kept")).as("n_kept"),
           sum(col("kept") * col("toks")).as("kept_toks"))
  }

  /** C35: BM25 relevance scoring — the retrieval primitive for corpus
    * search / RAG indexing: Lucene-flavored BM25 (k1 = 1.2, b = 0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½))) of a fixed query term set
    * against every document. Cross-engine determinism: corpus stats
    * (N, total length, per-term df) are ONE exact integer aggregate
    * crossed back as a broadcast row; every float subexpression has a
    * fixed parenthesization replicated verbatim in the oracle, each
    * per-term score rounds to 6dp DECIMAL before the (exact, decimal)
    * sum — the C33 summation rule. Scale shape: one 1-row stats
    * aggregate + pure codegen per document, zero shuffle of the
    * corpus; at 100 TB the stats row is a fit artifact (compute once,
    * score forever, attach to streams unchanged).
    */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("spark", "join", "filter")
    val w = T.words(col("text"))
    val base = documents(s, dir)
      .select(col("doc_id"), w.as("w"), size(w).cast("long").as("dl"))
    val statAggs = count(lit(1)).as("n") +: sum(col("dl")).as("total_len") +:
      qterms.map(t => sum(array_contains(col("w"), t).cast("long")).as(s"df_$t"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val perTerm = qterms.map { t =>
      val tf = size(filter(col("w"), x => x === lit(t))).cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      val denom = tf + lit(1.2) * (lit(0.25) +
        lit(0.75) * (col("dl") * col("n")).cast("double") / col("total_len"))
      (when(tf > 0, round(idf * (tf * lit(2.2)) / denom, 6)
         .cast("decimal(18,6)")).otherwise(lit(null)),
       (tf > 0).cast("long"))
    }
    // the per-term decimals are already rounded: their sum is EXACT, so
    // emit it as a plain decimal→double cast — re-rounding to 4dp would
    // sit on half-boundaries (…x50 at the 5th decimal) that Java
    // BigDecimal (HALF_UP on the shortest repr) and DuckDB (binary
    // double) resolve differently
    scored
      .select(col("doc_id"),
        perTerm.map(_._2).reduce(_ + _).as("n_hit"),
        (perTerm.map(t => coalesce(t._1, lit(0).cast("decimal(18,6)")))
          .reduce(_ + _).cast("double") + lit(0.0)).as("bm25"))
      .filter(col("n_hit") > 0)
  }

  /** C29: BPE-merge pair statistics — the tokenizer-TRAINING inner
    * loop (count adjacent-token pairs, merge the most frequent): top-20
    * adjacent word pairs by the unique (count desc, w1, w2) order. One
    * explode + one pair-key shuffle with map-side combine; the global
    * top-20 is a bounded TakeOrderedAndProject, never a global sort —
    * the C23 vocabulary shape applied to pairs.
    */
  /** C56: BPE tokenizer TRAINING — the actual Sennrich et al. (2016)
    * merge LOOP, where C29 is only one round of its pair statistics:
    * the fit operates on the WORD-TYPE table (the algorithm's own
    * scale trick — pair counts are weighted by word frequency, so the
    * corpus is scanned ONCE for word counts and never again), bounded
    * to the top-60 (count DESC, word) types (the A46 max_features
    * posture: corpus vocabulary grows by Heaps' law — C44 measures it
    * — so an unbounded fit table would break the bounded-artifact
    * claim at 100 TB; with the bound every merge round is arithmetic
    * over a ≤60-row frame). Token state is the sentinel encoding
    * "|t||h||e|" — every token wrapped in its own delimiter pair — so
    * applying a merge is a plain left-to-right non-overlapping
    * `replace` of "|a||b|" with "|ab|", which IS the BPE greedy
    * within-word convention and is bit-identical in Spark and DuckDB
    * (both engines' literal replace scans left to right). Best pair
    * per round by the deterministic (support DESC, a, b) total order.
    * Publishes the learned merge table (round, pair, merged unit,
    * support) — the artifact a tokenizer ships. 3 driver rounds over
    * the bounded frame (the A43/GMM iteration posture); at scale the
    * one corpus pass is a single word-key shuffle with map-side
    * combine and the loop never touches the fact again.
    */
  /** C56/C57 shared kernels: word-type table + the driver merge loop
    * (the pre-r16 distributed sentinel-state frames — bpeState /
    * bpeBest / bpeApply — live on as the byte-for-byte reference in
    * R16OptimizationParitySpec). */
  private def bpeWordTypes(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** r16: the C56 merge loop run on the DRIVER over the collected
    * top-60 word-type table (guide §1.2/§5 — the q_logistic driver-
    * solve posture, and the easiest case of it: every operation is
    * exact integer/ASCII-string arithmetic, no float replay risk). The
    * old loop re-derived the corpus-scale word-type aggregate once per
    * broadcast build and once per published round — ~8 corpus passes
    * for ≤60-row string edits. Replays the Spark ops op-for-op:
    * sentinel state regexp_replace("(.)", "|$1|"); pair counts over
    * split(trim '|', "\\|\\|") with limit −1 (Spark's split keeps
    * empty tokens); best pair by the (support DESC, a, b) total order
    * (ASCII, so UTF8 binary == String.compareTo); merge application =
    * non-overlapping left-to-right String.replace — exactly Spark's
    * StringReplace. Returns (a, b, support) per merge round.
    */
  private[operators] def bpeDriverMerges(
      top: Array[(String, Long)], rounds: Int): Seq[(String, String, Long)] = {
    var st = top.map { case (w, cnt) =>
      (w.replaceAll("(.)", "|$1|"), cnt)
    }
    (1 to rounds).map { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      st.foreach { case (t, cnt) =>
        val toks = t.replaceAll("^\\|+|\\|+$", "").split("\\|\\|", -1)
        if (toks.length >= 2) {
          var i = 0
          while (i < toks.length - 1) {
            val k = (toks(i), toks(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + cnt
            i += 1
          }
        }
      }
      require(counts.nonEmpty, "BPE merge round found no adjacent pairs")
      val ((a, b), n) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      st = st.map { case (t, c) =>
        (t.replace("|" + a + "||" + b + "|", "|" + a + b + "|"), c)
      }
      (a, b, n)
    }
  }

  def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    // r16 (see [[bpeDriverMerges]]): ONE corpus word-type aggregate +
    // TakeOrdered collect, 3 driver merge rounds, literal publish —
    // the old loop paid ~4 corpus aggregates for the same ≤60-row
    // arithmetic. Byte-identical output (R16OptimizationParitySpec).
    val top = bpeWordTypes(s, dir)
      .orderBy(col("cnt").desc, col("w")).limit(60)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = bpeDriverMerges(top, 3)
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("t1", StringType, nullable = true),
      StructField("t2", StringType, nullable = true),
      StructField("merged", StringType, nullable = true),
      StructField("support", LongType, nullable = true)))
    s.createDataFrame(
      java.util.Arrays.asList(merges.zipWithIndex.map { case ((a, b, n), i) =>
        Row(i + 1, a, b, a + b, n)
      }: _*), schema)
  }

  /** C57: BPE ENCODING + compression curve — the consumer side of the
    * C56 artifact (tokenizer-team eval: what does each merge buy?):
    * the merges are trained on the bounded top-60 type table exactly
    * as C56, then applied to the ENTIRE word-type table (the corpus
    * representation, counts-weighted — still one corpus pass + type-
    * table arithmetic, never a corpus rescan), and the published curve
    * is corpus token count after 0..3 merges plus exact integral
    * saved-permille vs the character baseline — the marginal-gain
    * readout that decides when to stop training merges. Merge rows
    * broadcast (1 row each); all sums exact integers.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    // r16 (see [[bpeDriverMerges]]): the old curve paid the corpus
    // word-type aggregate once per broadcast-merge build AND once per
    // census branch of the union (plus a full union recompute for the
    // n0 base row) — ~9 corpus passes. Now: ONE pinned word-type
    // aggregate; the 3 merges train on the collected top-60 driver-
    // side; all four census token counts ride ONE aggregate over the
    // pinned types (the merge application stays the same Spark
    // `replace` expression text, with literal patterns instead of
    // crossJoined columns — identical strings, identical counts); the
    // curve is a 4-element explode of that one row. Byte-identical
    // output (R16OptimizationParitySpec).
    val types = graft.core.Materialize.pin(bpeWordTypes(s, dir))
    val top = types.orderBy(col("cnt").desc, col("w")).limit(60)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = bpeDriverMerges(top, 3)
    // sentinel state after 0..3 merges — the same replace text bpeApply
    // chained, with the learned pair literals
    val stCols = merges.scanLeft(regexp_replace(col("w"), "(.)", "|$1|")) {
      case (st, (a, b, _)) =>
        replace(st, lit("|" + a + "||" + b + "|"), lit("|" + a + b + "|"))
    }
    def nToks(st: Column): Column =
      sum(col("cnt") * size(split(trim(st, "|"), "\\|\\|")))
    val aggRow = types.agg(
      nToks(stCols(0)).as("n0"), (1 to 3).map(r =>
        nToks(stCols(r)).as(s"n$r")): _*)
    val entries = array((0 to 3).map { r =>
      struct(lit(r).as("round"),
        lit(if (r == 0) "" else merges(r - 1)._1 + merges(r - 1)._2)
          .as("merged"),
        col(s"n$r").as("n_tokens"))
    }: _*)
    aggRow.select(explode(entries).as("e"), col("n0"))
      .select(col("e.round").as("round"), col("e.merged").as("merged"),
        col("e.n_tokens").as("n_tokens"), col("n0"))
      .select(col("round"), col("merged"), col("n_tokens"),
        expr("(n0 - n_tokens) * 1000 div n0").as("saved_permille"))
  }

  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    // pair emission is a compiled kernel, not transform/element_at —
    // Catalyst HOFs are interpreted per element (§6 rule), measured
    // 2.8 s vs ~0.6 s at sf0.1 for the same one-explode shape
    val outSchema = StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false)))
    fanOut(documents(s, dir).select(col("text")))
      .mapPartitions { it =>
        it.flatMap { row =>
          val w = row.getString(0).split(" ", -1)
          (0 until w.length - 1).iterator
            .filter(i => w(i).nonEmpty && w(i + 1).nonEmpty)
            .map(i => Row(w(i), w(i + 1)))
        }
      }(Encoders.row(outSchema))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** C24: PageRank centrality over the substring-duplication graph
    * (C22's fingerprint-overlap pairs as undirected edges) — ranks the
    * most-copied-from documents, the "which doc is the template"
    * signal dedup keeper-selection can use instead of lowest-id. Fixed-
    * point integer arithmetic end to end (Graphs.pagerankFixedPoint):
    * bit-exact cross-engine, no float aggregation order dependence.
    * Input is the [[ScaleSliceMaxDoc]] contract slice (inactive at
    * gate scales, frozen at 10×+) so the oracle's 3-iteration SQL
    * replica stays verifiable as the replica cliques multiply edges.
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    Graphs.pagerankFixedPoint(
        fpOverlapFrom(documents(s, dir).filter(col("doc_id") < ScaleSliceMaxDoc))
          .select(col("a_id").as("a"), col("b_id").as("b")))
      .select(col("id").as("doc_id"), col("r").as("rank_e9"))

  /** C46: TextRank keyword extraction (Mihalcea & Tarau 2004 — the
    * UNSUPERVISED corpus-keyword step next to C43's RAKE: RAKE scores
    * stopword-delimited phrases locally, TextRank ranks single terms
    * by GRAPH CENTRALITY over co-occurrence): candidate tokens (len ≥
    * 4, non-stopword) pair with their consecutive kept neighbor per
    * document (doc-bounded lead window — never a global sort), the
    * distinct undirected pairs form the word graph, and C24's INTEGER
    * fixed-point PageRank (e9 scale, 3 unrolled iterations, exact
    * integral arithmetic) ranks terms; top-20 under the total
    * (rank DESC, term) order. At 100 TB: one explode + doc-key
    * windows, one distinct-pair shuffle, then 3 bounded-iteration
    * join+agg rounds on the ≤|vocab| graph.
    */
  def qTextrank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 4 && !col("w").isInCollection(stopwords))
    val adj = toks.withColumn("nxt", lead(col("w"), 1).over(w))
      .filter(col("nxt").isNotNull && col("w") =!= col("nxt"))
      .select(least(col("w"), col("nxt")).as("a"),
              greatest(col("w"), col("nxt")).as("b"))
      .distinct()
    Graphs.pagerankFixedPoint(adj)
      .orderBy(col("r").desc, col("id"))
      .limit(20)
      .select(col("id").as("term"), col("r").as("rank_e9"))
  }

  /** C47: context-window truncation loss — the token-budget planning
    * step of every LLM data pipeline ("how much of the corpus falls
    * off at cut K, and how many documents are touched"): whitespace
    * token counts per document (the C2 convention), crossed with the
    * bounded K grid {32, 128, 512} (broadcast literal frame), and per
    * K the EXACT docs-over count, total tokens, lost tokens
    * Σ max(0, n−K), and integral-ppm loss share. At 100 TB: one
    * corpus pass, a 3-row broadcast, a 3-key aggregate.
    */
  def qCtxLoss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
    val ks = Seq(32L, 128L, 512L).toDF("k")
    base.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n") > col("k"), 1L).otherwise(0L)).as("n_docs_over"),
           sum(col("n")).as("tokens_total"),
           sum(greatest(col("n") - col("k"), lit(0L))).as("tokens_lost"))
      .select(col("k"), col("n_docs"), col("n_docs_over"),
        col("tokens_total"), col("tokens_lost"),
        expr("CAST((tokens_lost * 1000000) div tokens_total AS BIGINT)")
          .as("loss_ppm"))
  }

  /** C25: edit-distance near-dup verify — the character-level
    * complement of Jaccard/SimHash: candidates blocked on a shared
    * 24-char prefix (bucket size capped at 8, the df-cap contract),
    * then verified with the codegen'd levenshtein;
    * sim = 1 − lev/max(len). Blocking note: prefix blocking only
    * recalls dups that agree on their opening — the production cascade
    * runs it alongside the C6/C8b blockers, not instead of them.
    */
  def qEditDist(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("text"), substring(col("text"), 1, 24).as("pre"))
    val cand = bucketPairs(d, Seq("pre"),
        struct(col("doc_id").as("id"), col("text")), maxBucketSize = Some(8))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              levenshtein(col("a.text"), col("b.text")).cast("long").as("lev"),
              greatest(length(col("a.text")), length(col("b.text")))
                .cast("double").as("mxlen"))
    cand.filter(col("lev") <= 40)
      .select(col("a_id"), col("b_id"), col("lev"),
              dec4(lit(1.0) - col("lev").cast("double") / col("mxlen")).as("sim"))
  }

  /** C23: corpus vocabulary build — the tokenizer-training primitive:
    * term → (document frequency, total term frequency), top 30 by
    * (df desc, term asc — a unique total order). One explode + one
    * term-key shuffle with map-side partial aggregation; the global
    * top-30 is a TakeOrderedAndProject (bounded k on the driver),
    * never a global sort.
    */
  def qVocab(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("term"))
      .limit(30)

  /** A46 shared float texts — the ONLY transcendental steps, each
    * e6-quantized immediately (the A40/C33 rule) so scoring is exact
    * integer arithmetic: smoothed log-likelihood ln((n+1)/(nc+V)), the
    * unseen-word default ln(1/(nc+V)), and the class prior. */
  private val nbLnSql =
    "ROUND(ln((CAST(nwc AS DOUBLE) + 1.0) / " +
      "(CAST(nc AS DOUBLE) + CAST(vv AS DOUBLE))) * 1000000.0, 0)"
  private val nbDfltSql =
    "ROUND(ln(1.0 / (CAST(nc AS DOUBLE) + CAST(vv AS DOUBLE))) * 1000000.0, 0)"
  private val nbPriorSql =
    "ROUND(ln(CAST(ndc AS DOUBLE) / CAST(nd AS DOUBLE)) * 1000000.0, 0)"

  /** A46 vocabulary bound (sklearn CountVectorizer max_features): the
    * model vocabulary is the top-K words by (corpus count DESC, word)
    * — a deterministic total order — and OUT-OF-VOCABULARY words drop
    * from the document representation entirely (they contribute
    * neither token counts nor smoothing mass; V in the Laplace
    * denominator is the BOUNDED vocabulary size). Corpus vocabulary
    * grows with corpus size (Heaps' law — C44 measures it), so an
    * unbounded fit would make the broadcastable-artifact claim false
    * at 100 TB; with the bound, the fit frame and the [[nbFit]]
    * driver collect are ≤ K·|classes| rows BY CONSTRUCTION at any sf.
    * K exceeds the gate fixture's vocabulary, so gate results are
    * identical to the unbounded fit there. */
  private[graft] val nbMaxFeatures = 65536

  /** A46: multinomial Naive Bayes (sklearn MultinomialNB, α = 1)
    * predicting each document's SOURCE from its word counts — the
    * text-classification member of the estimator family (A21 is its
    * Gaussian cousin on tabular features) and the classic
    * domain-classifier of corpus curation: fit = one vocab-bounded
    * (class, word) count aggregate; every log-likelihood e6-quantizes
    * immediately ([[nbLnSql]]) so the per-document score is EXACT
    * integer arithmetic — and unseen (class, word) pairs never
    * materialize: score = prior + toks·default(c) + Σ count·(lnθ −
    * default) over SEEN pairs only (the sparse-NB identity that keeps
    * the weight frame O(seen pairs), not O(vocab × classes)); the
    * vocabulary is BOUNDED to the top-[[nbMaxFeatures]] words
    * (CountVectorizer max_features — OOV words drop from the doc
    * representation, so the weight frame is ≤ K·|classes| at any
    * corpus size). Scoring pivots the weight frame to a per-word
    * class-delta vector so ALL classes score inside one groupBy(doc_id)
    * aggregate — argmax with class-name tie-break happens in a single
    * projection, never materializing a docs×classes frame; publishes
    * the sparse confusion matrix. At 100 TB: token-scale shuffles + a
    * broadcast weight frame — the C33 fit-artifact posture. The class
    * domain (distinct sources) is capped at 64: every class is a column
    * of the per-word delta vector and of the scoring aggregate, and the
    * fit collects per-class artifacts to the driver, so a larger domain
    * fails loudly with a `require` instead of fanning out.
    */
  def qMultinomialNb(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("source"))
    val raw = documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val rawPinned = graft.core.Materialize.pin(raw)
    // r16 optimization (guide §1.2/§5 — the q_logistic/q_gmm
    // driver-solve discipline, plus §2 aggregate-before-shuffle one
    // level deeper than the r15 min_by rewrite). Two structural
    // changes, both proven byte-identical by R16OptimizationParitySpec
    // (the pre-r16 pipeline is the test reference) and the unchanged
    // oracle hashes:
    //
    // 1. THE FIT IS A DRIVER SOLVE OVER BOUNDED ARTIFACTS. The old fit
    //    re-derived vocabulary/nwc/classBase from the token frame once
    //    per ACTION (classBase collect + every broadcast build + the
    //    final action — AQE exchange reuse never crosses actions):
    //    ~8 distributed jobs of machinery for ≤(K·|classes|)-row
    //    arithmetic. Now ONE token-scale aggregate — the pinned
    //    (word, source) class-count frame `cw` — feeds a TakeOrdered
    //    vocabulary collect and one ≤K·|classes|-row nwc collect, and
    //    the e6-quantized weights replay the shared float texts
    //    op-for-op on the driver ([[nbLnSql]]/[[nbDfltSql]]/
    //    [[nbPriorSql]]: same scala BigDecimal HALF_UP round Spark's
    //    ROUND(double, 0) performs, same Math.log Spark's `ln` calls).
    //    Every collect is domain-bounded at any corpus size: classes ≤
    //    the source domain, vocabulary ≤ nbMaxFeatures by construction
    //    — the C33 fit-artifact posture (the old code already
    //    BROADCAST the same-cardinality weight frame).
    // 2. SCORING IS ONE BROADCAST JOIN + ONE AGGREGATE. The old scoring
    //    EXPLODED docs×classes (toks⋈weights fanned each (doc, word)
    //    row to every class that saw the word, shuffled on
    //    (doc_id, source), re-joined a docTot×classBase cross frame,
    //    and shuffled AGAIN for the min_by argmax). The per-word
    //    class-delta VECTOR (a literal ≤K-row frame) now rides the one
    //    broadcast join, and every class scores inside the same
    //    groupBy(doc_id) aggregate that counts tokens. Integer addition
    //    commutes, so per-class sums, scores, and the argmax pick
    //    (first maximal index in source-ASC order = the old min_by
    //    struct(-score, source) tie-break) are identical.
    val cw = graft.core.Materialize.pin(
      rawPinned.join(broadcast(docs), "doc_id")
        .groupBy(col("word"), col("source"))
        .agg(sum(col("cnt")).as("cwn")))
    // priors census: one row per class — ndc (docs per class), nd total
    val docsAgg = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("ndc")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // loud guard on the domain bound the collects + the per-class
    // column fan-out rely on: the class set is the documents' source
    // domain — a fit artifact ≤ a few dozen at any corpus size (the
    // old code already broadcast classBase under the same assumption)
    require(docsAgg.length <= 64,
      s"qMultinomialNb class domain exceeded its bound: ${docsAgg.length} > 64")
    val nd = docsAgg.map(_._2).sum
    // model vocabulary: top-K words by the (count DESC, word) total
    // order — distributed TakeOrdered over the class-count frame (same
    // totals as summing the token frame), ≤ K rows by construction
    val vocabArr = cw.groupBy(col("word"))
      .agg(sum(col("cwn")).as("wn"))
      .orderBy(col("wn").desc, col("word")).limit(nbMaxFeatures)
      .select(col("word")).collect().map(_.getString(0))
    val vv = vocabArr.length.toLong
    // seen (word, class) counts restricted to the vocabulary —
    // ≤ K·|classes| rows, the exact frame the old code broadcast
    val vocabDf = s.createDataFrame(
      java.util.Arrays.asList(vocabArr.map(w => Row(w)): _*),
      StructType(Seq(StructField("word", StringType, nullable = false))))
    val nwcRows = cw.join(broadcast(vocabDf), "word")
      .select(col("word"), col("source"), col("cwn")).collect()
    // driver-side fit: replay the shared float texts op-for-op
    def roundE0(d: Double): Double =
      BigDecimal(d).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // classes = sources with ≥1 seen vocab word (the old classBase was
    // the perClass ⋈ priors INNER join), in ascending source order
    val classNames = nwcRows.map(_.getString(1)).distinct.sorted
    val clsIdx = classNames.zipWithIndex.toMap
    val ndcOf = docsAgg.toMap
    val nc = new Array[Long](classNames.length)
    nwcRows.foreach(r => nc(clsIdx(r.getString(1))) += r.getLong(2))
    // nbDfltSql: ROUND(ln(1 / (nc + vv)) * 1e6, 0) per class
    val dfltE6 = classNames.indices.map(i =>
      roundE0(math.log(1.0 / (nc(i).toDouble + vv.toDouble)) * 1000000.0)
        .toLong).toArray
    // nbPriorSql: ROUND(ln(ndc / nd) * 1e6, 0) per class
    val priorE6 = classNames.map(c =>
      roundE0(math.log(ndcOf(c).toDouble / nd.toDouble) * 1000000.0).toLong)
    // nbLnSql − dflt: the sparse per-(word, class) delta vector; unseen
    // pairs stay 0 (the old coalesce(sum(when(...)), 0) null path)
    val deltas = new java.util.HashMap[String, Array[Long]]()
    nwcRows.foreach { r =>
      val ci = clsIdx(r.getString(1))
      val arr = deltas.computeIfAbsent(r.getString(0),
        _ => new Array[Long](classNames.length))
      arr(ci) = roundE0(math.log(
        (r.getLong(2).toDouble + 1.0) / (nc(ci).toDouble + vv.toDouble))
        * 1000000.0).toLong - dfltE6(ci)
    }
    // per-word class-delta vector as a literal frame: word ++ d0..dN —
    // its word set IS the vocabulary, so the scoring join needs no
    // separate vocabulary filter
    val wordVecSchema = StructType(
      StructField("word", StringType, nullable = false) +:
        classNames.indices.map(i =>
          StructField(s"d$i", LongType, nullable = false)))
    val wordVecDf = s.createDataFrame(
      java.util.Arrays.asList(vocabArr.map { w =>
        Row.fromSeq(w +: deltas.get(w).toSeq)
      }: _*), wordVecSchema)
    val perDoc = rawPinned.join(broadcast(wordVecDf), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("toks"),
        classNames.indices.map(i =>
          sum(col("cnt") * col(s"d$i")).as(s"s$i")): _*)
    val scoreArr = array(classNames.indices.map(i =>
      lit(priorE6(i)) + col("toks") * lit(dfltE6(i)) + col(s"s$i")): _*)
    val pred = perDoc
      .select(col("doc_id"), scoreArr.as("sc"))
      .select(col("doc_id"),
        element_at(
          array(classNames.toSeq.map(lit(_)): _*),
          array_position(col("sc"), array_max(col("sc"))).cast("int"))
          .as("predicted"))
    // pin the ≤|classes|² confusion frame so the token checkpoint can
    // be released before the caller evaluates the returned frame
    val out = graft.core.Materialize.pin(
      docs.join(pred, "doc_id")
        .groupBy(col("source").as("actual"), col("predicted"))
        .agg(count(lit(1)).as("n")))
    graft.core.Materialize.release(cw)
    graft.core.Materialize.release(rawPinned)
    out
  }

  /** C50: training-sequence packing census (the GPT-pretraining
    * "concat and chunk" step every LLM data pipeline ends with):
    * documents concatenate in doc_id order, each contributing its
    * whitespace tokens + 1 EOS, and the stream chunks into EXACT
    * 512-token training sequences — a document whose token interval
    * crosses a chunk boundary SPANS sequences (the packing trade
    * every pipeline audits: spanning docs read truncated context at
    * the seam — C47 measures that loss; this publishes the census
    * driving it). The global token prefix sum is the B59 two-phase
    * distributed scan (range-partition + broadcast carry offsets —
    * NEVER a single-reducer window over the corpus: exactly the shape
    * the r10 UnboundedFactWindow FLAG exists to catch); span =
    * ((end−1) div B) − (start div B) + 1, all exact integers.
    * Publishes the one-row census: docs, tokens, sequences, spanning
    * docs, max span, last-sequence fill ppm. At 100 TB: one
    * token-count pass + the O(partitions) carry exchange.
    */
  def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val B = 512L
    val toks = documents(s, dir).select(lit(0L).as("g"), col("doc_id"),
      (size(T.words(col("text"))) + 1L).as("w"))
    val pre = Skew.rangePartitionedRunningSum(
      toks, key = "g", orderCol = "doc_id", valueCol = "w")
    pre.select(col("w"),
        expr(s"((running - 1) div $B) - ((running - w) div $B) + 1")
          .as("span"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("w")).as("total_tokens"),
           sum((col("span") > 1).cast("long")).as("n_spanning"),
           max(col("span")).as("max_span"))
      .select(col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + ${B - 1}) div $B").as("n_seqs"),
        col("n_spanning"), col("max_span"),
        expr(s"CASE WHEN total_tokens % $B = 0 THEN 1000000 " +
          s"ELSE ((total_tokens % $B) * 1000000) div $B END")
          .as("last_fill_ppm"))
  }

  /** C43: RAKE keyword extraction (Rose et al. 2010 — the unsupervised
    * keyphrase miner of corpus exploration / topic labeling):
    * candidate phrases are maximal stopword-free runs (classic
    * gaps-and-islands — stopword-count prefix sum partitions each doc
    * into phrase groups; the per-doc window is bounded by document
    * length, never the corpus), word scores are RAKE's
    * degree/frequency computed corpus-wide as EXACT integral-division
    * PPM (degree = Σ |phrase| over a word's phrase occurrences), and a
    * phrase scores the exact integer sum of its words' ppm scores (so
    * identical phrase text ⇒ identical score by construction —
    * published once per distinct phrase with its occurrence count).
    * Top-20 by (score desc, phrase) via distributed TakeOrdered. At
    * 100 TB: token-scale key shuffles (phrase-group, word, phrase) —
    * the C13/C23 cost shape, no corpus self-join anywhere.
    */
  def qRake(s: SparkSession, dir: String): DataFrame = {
    val stopwords = Seq("a", "the")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val toks = documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("stop", col("word").isInCollection(stopwords).cast("long"))
      .withColumn("grp", sum(col("stop")).over(w))
    // pins (r15, guide §2.4): the windowed phrase-word frame feeds
    // THREE consumers (phrase build, word stats, occurrence scores) and
    // the phrase frame two — unpinned, the posexplode + per-doc window
    // shuffle ran three times end to end
    val pw = graft.core.Materialize.pin(toks.filter(col("stop") === 0)
      .select(col("doc_id"), col("grp"), col("i"), col("word")))
    val ph = graft.core.Materialize.pin(pw.groupBy(col("doc_id"), col("grp"))
      .agg(array_join(transform(array_sort(
             collect_list(struct(col("i"), col("word")))), _.getField("word")),
             " ").as("phrase"),
           count(lit(1)).as("plen")))
    val wstat = pw.join(ph.select(col("doc_id"), col("grp"), col("plen")),
        Seq("doc_id", "grp"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("word"), expr("(deg * 1000000) div freq").as("wsc"))
    val occScore = pw.join(broadcast(wstat), "word")
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("wsc")).as("sc"))
    val out = graft.core.Materialize.pin(
      ph.join(occScore, Seq("doc_id", "grp"))
        .groupBy(col("phrase"))
        .agg(max(col("plen")).cast("long").as("n_words"),
             count(lit(1)).as("n_occ"),
             max(col("sc")).cast("long").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("phrase"))
        .limit(20))
    graft.core.Materialize.release(ph)
    graft.core.Materialize.release(pw)
    out
  }

  /** C42 shared float texts: ln(rank)/ln(tf) e6-quantized RIGHT AFTER
    * the transcendental (the C33/B87 rule) so the OLS moments are
    * exact integers; the closed-form fit is a shared derivation chain.
    * The common e6 scale on both axes cancels in the slope; the
    * intercept divides it back out.
    */
  private val zipfXsSql = "ROUND(ln(CAST(rank AS DOUBLE)) * 1000000, 0)"
  private val zipfYsSql = "ROUND(ln(CAST(tf AS DOUBLE)) * 1000000, 0)"
  private val zipfDerivs: Seq[(String, String)] = Seq(
    "slope" -> "(nnd*sxy - sx*sy) / (nnd*sxx - sx*sx)",
    "icept" -> "((sy - slope*sx) / nnd) / 1000000.0",
    "r2"    -> ("((nnd*sxy - sx*sy)*(nnd*sxy - sx*sy)) / " +
                "((nnd*sxx - sx*sx)*(nnd*syy - sy*sy))"))

  /** C42: Zipf's-law fit of the corpus rank-frequency curve — the
    * canonical corpus-health diagnostic (natural language tracks
    * slope ≈ −1 on log-log; template/boilerplate corpora bend it):
    * term frequencies in one aggregate, top-200 by (tf DESC, term)
    * via TakeOrderedAndProject (distributed top-K — no global sort),
    * ranks from a window over the 200-row frame, ln's e6-quantized
    * ([[zipfXsSql]]/[[zipfYsSql]]) so the six OLS moments are EXACT
    * DECIMAL(38,0) integers, and slope/intercept/R² via the shared
    * [[zipfDerivs]] chain. Fit cost is corpus-independent after the
    * one vocab aggregate.
    */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(200)
    val ranked = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("tf").desc, col("term"))))
    val m = ranked
      .select(expr(s"CAST($zipfXsSql AS DECIMAL(38,0))").as("xs"),
              expr(s"CAST($zipfYsSql AS DECIMAL(38,0))").as("ys"))
      .agg(count(lit(1)).as("n"),
           sum(col("xs")).as("sxd"), sum(col("ys")).as("syd"),
           sum(col("xs") * col("xs")).as("sxxd"),
           sum(col("xs") * col("ys")).as("sxyd"),
           sum(col("ys") * col("ys")).as("syyd"))
      .select(col("n").cast("long").as("n_terms"),
              col("n").cast("double").as("nnd"),
              col("sxd").cast("double").as("sx"),
              col("syd").cast("double").as("sy"),
              col("sxxd").cast("double").as("sxx"),
              col("sxyd").cast("double").as("sxy"),
              col("syyd").cast("double").as("syy"))
    zipfDerivs.foldLeft(m) { case (acc, (nm, f)) =>
      acc.withColumn(nm, expr(f))
    }.select(col("n_terms"), graft.functions.dec6(col("slope")).as("slope"),
             graft.functions.dec6(col("icept")).as("intercept"),
             graft.functions.dec6(col("r2")).as("r2"))
  }

  /** C44 shared float texts — ln's e6-quantized right after the
    * transcendental (the C42 rule) over the exact prefix totals; the
    * R² zero-variance null set is decided by the EXACT integer
    * n·Σy² − (Σy)² (the B99 rule) so both engines agree on it. */
  private val heapsXsSql = "ROUND(ln(CAST(ntok AS DOUBLE)) * 1000000, 0)"
  private val heapsYsSql = "ROUND(ln(CAST(vocab AS DOUBLE)) * 1000000, 0)"
  private val heapsDerivs: Seq[(String, String)] = Seq(
    "slope" -> "(nnd*sxy - sx*sy) / (nnd*sxx - sx*sx)",
    "icept" -> "((sy - slope*sx) / nnd) / 1000000.0",
    "r2"    -> ("CASE WHEN vary = 0 THEN NULL ELSE " +
                "((nnd*sxy - sx*sy)*(nnd*sxy - sx*sy)) / " +
                "((nnd*sxx - sx*sx)*(nnd*syy - sy*sy)) END"))

  /** C44: Heaps'-law fit of vocabulary growth — C42's companion
    * corpus-health diagnostic (natural language grows V(n) ≈ K·n^β
    * with β ≈ 0.4–0.6; a flat β flags boilerplate, β ≈ 1 flags
    * noise/UUID soup): ten doc-id-prefix checkpoints, each with its
    * EXACT cumulative token count and vocabulary size — V_i counts
    * words whose FIRST-SEEN doc id (one word-key min aggregate) is
    * below the threshold, so no prefix is ever re-scanned (the
    * first-seen identity that makes cumulative-distinct linear).
    * ln's e6-quantize ([[heapsXsSql]]) → exact OLS moments over the
    * 10-point frame → the shared C42 derivation chain. At 100 TB:
    * one token pass + one word-key aggregate; the checkpoint meet is
    * O(10·docs + 10·vocab).
    */
  def qHeapsFit(s: SparkSession, dir: String): DataFrame = {
    // BIGRAM vocabulary: the gate corpus's unigram vocab is bounded
    // (saturates at the first checkpoint — zero ln-variance), so the
    // growth curve is measured on word bigrams, exactly how Heaps is
    // read off n-gram LM vocabularies
    // bigram emission is a COMPILED kernel (the §6 HOF rule, same as
    // C29: the transform/element_at form re-evaluates split(text)
    // per element and runs interpreted — measured 4.4 s vs ~1.5 s at
    // sf0.1 for the same output)
    val bigramSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("word", StringType, nullable = false)))
    val toks = fanOut(documents(s, dir).select(col("doc_id"), col("text")))
      .mapPartitions { it =>
        it.flatMap { row =>
          val id = row.getLong(0)
          val w = docWords(row)
          (0 until w.length - 1).iterator.map(i => Row(id, w(i) + "_" + w(i + 1)))
        }
      }(Encoders.row(bigramSchema))
    val toksPinned = graft.core.Materialize.pin(toks)
    val docToks = toksPinned.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("toks"))
    val firstSeen = toksPinned.groupBy(col("word"))
      .agg(min(col("doc_id")).as("fs"))
    val nd = documents(s, dir).agg((max(col("doc_id")) + 1).as("nd"))
    val thresholds = s.range(1, 11).toDF("i")
      .crossJoin(broadcast(nd))
      .select(expr("(i * nd) div 10").as("t"))
    val nTok = docToks.crossJoin(broadcast(thresholds))
      .filter(col("doc_id") < col("t"))
      .groupBy(col("t")).agg(sum(col("toks")).as("ntok"))
    val vSize = firstSeen.crossJoin(broadcast(thresholds))
      .filter(col("fs") < col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("vocab"))
    val pts = nTok.join(vSize, "t")
    val m = pts
      .select(expr(s"CAST($heapsXsSql AS DECIMAL(38,0))").as("xs"),
              expr(s"CAST($heapsYsSql AS DECIMAL(38,0))").as("ys"))
      .agg(count(lit(1)).as("n"),
           sum(col("xs")).as("sxd"), sum(col("ys")).as("syd"),
           sum(col("xs") * col("xs")).as("sxxd"),
           sum(col("xs") * col("ys")).as("sxyd"),
           sum(col("ys") * col("ys")).as("syyd"))
      .select(col("n").cast("long").as("n_points"),
              col("n").cast("double").as("nnd"),
              (col("n") * col("syyd") - col("syd") * col("syd"))
                .cast("long").as("vary"),
              col("sxd").cast("double").as("sx"),
              col("syd").cast("double").as("sy"),
              col("sxxd").cast("double").as("sxx"),
              col("sxyd").cast("double").as("sxy"),
              col("syyd").cast("double").as("syy"))
    val fit = heapsDerivs.foldLeft(m) { case (acc, (nm, f)) =>
      acc.withColumn(nm, expr(f))
    }
    val out = graft.core.Materialize.pin(
      fit.crossJoin(broadcast(pts.agg(max(col("ntok")).cast("long").as("n_total"),
          max(col("vocab")).cast("long").as("v_total"))))
        .select(col("n_points"), col("n_total"), col("v_total"),
                graft.functions.dec6(col("slope")).as("beta"),
                graft.functions.dec6(col("icept")).as("ln_k"),
                graft.functions.dec6(col("r2")).as("r2")))
    graft.core.Materialize.release(toksPinned)
    out
  }

  /** The A46 fit as a BROADCASTABLE ARTIFACT (the C33 lmFit posture):
    * per-class (default, prior) e6 integers plus the seen-pair delta
    * map — everything the F32 streaming scorer needs, O(classes +
    * seen pairs) on the driver.
    */
  final case class NbModel(classes: Array[String], dflt: Array[Long],
                           prior: Array[Long],
                           delta: Map[String, Array[Long]]) {
    /** Score one tokenized document exactly like the A46 query:
      * prior + toks·default + Σ count·delta over seen pairs, argmax
      * with the class-name tie-break (classes are sorted). OOV words
      * (not in the bounded model vocabulary — every vocab word is
      * seen in ≥ 1 class, so vocab membership == delta key set) drop
      * from the representation, the CountVectorizer max_features
      * contract the batch query applies identically. */
    def predict(words: Iterator[String]): String = {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var toks = 0L
      words.foreach { w =>
        if (w.nonEmpty && delta.contains(w)) {
          toks += 1; counts.update(w, counts.getOrElse(w, 0L) + 1L)
        }
      }
      var best = 0
      var bestScore = Long.MinValue
      var c = 0
      while (c < classes.length) {
        var s = prior(c) + toks * dflt(c)
        counts.foreach { case (w, n) =>
          delta.get(w).foreach(arr => s += n * arr(c))
        }
        if (s > bestScore) { bestScore = s; best = c } // ties: first (sorted) class
        c += 1
      }
      classes(best)
    }
  }

  /** Collect the A46 fit into an [[NbModel]] — the driver collect is
    * ≤ maxFeatures·|classes| + |classes| rows BY CONSTRUCTION (the
    * [[nbMaxFeatures]] vocabulary bound — corpus vocabulary is NOT
    * structurally bounded at 100 TB per Heaps' law, the model
    * vocabulary is), the fit-artifact posture F32 broadcasts. */
  def nbFit(s: SparkSession, dir: String,
            maxFeatures: Int = nbMaxFeatures): NbModel =
    nbFitFrom(documents(s, dir)
      .select(col("doc_id"), col("text"), col("source")), maxFeatures)

  /** [[nbFit]] over an explicit (doc_id, text, source) frame — the
    * spec entry point for adversarial high-vocabulary fixtures. */
  def nbFitFrom(docsFull: DataFrame,
                maxFeatures: Int = nbMaxFeatures): NbModel = {
    val docs = docsFull.select(col("doc_id"), col("source"))
    val raw = docsFull
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val vocabWords = raw.groupBy(col("word"))
      .agg(sum(col("cnt")).as("wn"))
      .orderBy(col("wn").desc, col("word")).limit(maxFeatures)
      .select(col("word"))
    val toks = raw.join(broadcast(vocabWords), "word")
    val labeled = toks.join(broadcast(docs), "doc_id")
    val nwc = labeled.groupBy(col("source"), col("word"))
      .agg(sum(col("cnt")).as("nwc"))
    val perClass = nwc.groupBy(col("source")).agg(sum(col("nwc")).as("nc"))
    val vocab = vocabWords.agg(count(lit(1)).as("vv"))
    val priors = docs.groupBy(col("source")).agg(count(lit(1)).as("ndc"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("nd"))))
    val cb = perClass.crossJoin(broadcast(vocab)).join(broadcast(priors), "source")
      .select(col("source"), col("nc"), col("vv"),
        expr(s"CAST($nbDfltSql AS BIGINT)").as("dflt_e6"),
        expr(s"CAST($nbPriorSql AS BIGINT)").as("prior_e6"))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val classes = cb.map(_._1)
    val idx = classes.zipWithIndex.toMap
    NbModel(classes, cb.map(_._2), cb.map(_._3),
      nwc.join(broadcast(perClass), "source")
        .crossJoin(broadcast(vocab))
        .select(col("word"), col("source"),
          (expr(s"CAST($nbLnSql AS BIGINT)")).as("ln_e6"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (w, rows) =>
          val arr = new Array[Long](classes.length)
          // delta = lnθ − class default; unseen classes stay 0
          rows.foreach { r =>
            val c = idx(r.getString(1))
            arr(c) = r.getLong(2) - cb(c)._2
          }
          w -> arr
        })
  }

  /** A48 statistic — ONE shared float text over the four exact pair
    * counts (the only float step; everything upstream is integer
    * combinatorics). */
  private val ariSql =
    "(CAST(sij AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(stot AS DOUBLE)) / " +
      "((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))/2.0 - " +
       "CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(stot AS DOUBLE))"

  /** A48: adjusted Rand index (sklearn adjusted_rand_score — the
    * chance-corrected agreement metric) between the C4 language-ID
    * partition and the gold lang labels: the contingency table is
    * C26's confusion frame, and every Σ C(·,2) pair count is EXACT
    * integer combinatorics over it (cell, row-margin, column-margin,
    * total — integral divisions by 2 on even products); only the
    * published ARI is float, via the shared [[ariSql]] text. The
    * metric generalizes to ANY two partitions of the corpus (cluster
    * vs label, two clusterings) at the cost of one ≤\|classes\|²
    * aggregate. At 100 TB: one fact pass + tiny-frame combinatorics.
    */
  def qAri(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cont = documents(s, dir)
      .select(col("lang").as("gold"),
        langPred(T.words(col("text"))).as("pred"))
      .groupBy(col("gold"), col("pred"))
      .agg(count(lit(1)).cast(dec).as("nij"))
    val x = cont.agg(
      sum(expr("(nij * (nij - 1)) div 2")).cast(dec).as("sij"),
      sum(col("nij")).cast(dec).as("nn"))
    val ra = cont.groupBy(col("gold")).agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).cast(dec).as("sa"))
    val rb = cont.groupBy(col("pred")).agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).cast(dec).as("sb"))
    x.crossJoin(broadcast(ra)).crossJoin(broadcast(rb))
      .withColumn("stot", expr("CAST((nn * (nn - 1)) div 2 AS DECIMAL(38,0))"))
      .select(col("nn").cast("long").as("n_rows"),
              col("sij").cast("long").as("sij"),
              col("sa").cast("long").as("sa"),
              col("sb").cast("long").as("sb"),
              graft.functions.dec6(expr(ariSql)).as("ari"))
  }

  /** A50: classification report + Cohen's kappa for the C4 language-ID
    * classifier (sklearn classification_report / cohen_kappa_score
    * parity — the per-class evaluation that C26's raw confusion matrix
    * feeds): per-class precision/recall/F1 are EXACT integral-ppm
    * ratios of the confusion margins (tp/colsum, tp/rowsum,
    * 2tp/(rowsum+colsum)); kappa collapses to the integer identity
    * (N·Σtp − Σaᵢbᵢ)/(N² − Σaᵢbᵢ) over the same margins — the whole
    * report is float-free. Margins absent on one side ride a full
    * outer join with zero fills; zero denominators publish 0 (the
    * sklearn zero_division=0 convention). At 100 TB: one fact pass
    * (the codegen'd prediction) then ≤|classes| combinatorics.
    */
  def qClsReport(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cont = documents(s, dir)
      .select(col("lang").as("gold"),
        langPred(T.words(col("text"))).as("pred"))
      .groupBy(col("gold"), col("pred"))
      .agg(count(lit(1)).cast(dec).as("nij"))
    val ga = cont.groupBy(col("gold").as("cls")).agg(sum(col("nij")).as("a"))
    val pb = cont.groupBy(col("pred").as("cls")).agg(sum(col("nij")).as("b"))
    val tp = cont.filter(col("gold") === col("pred"))
      .select(col("gold").as("cls"), col("nij").as("tp"))
    val per = ga.join(pb, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left_outer")
      .select(col("cls"),
        coalesce(col("a"), lit(0)).cast(dec).as("a"),
        coalesce(col("b"), lit(0)).cast(dec).as("b"),
        coalesce(col("tp"), lit(0)).cast(dec).as("tp"))
    val tot = per.agg(sum(col("a")).as("nn"), sum(col("tp")).as("stp"),
                      sum(col("a") * col("b")).as("sab"))
    per.crossJoin(broadcast(tot))
      .select(col("cls").as("lang"),
        col("a").cast("long").as("n_gold"),
        col("b").cast("long").as("n_pred"),
        col("tp").cast("long").as("n_tp"),
        expr("CAST(CASE WHEN b = 0 THEN 0 ELSE (tp * 1000000) div b END" +
             " AS BIGINT)").as("prec_ppm"),
        expr("CAST(CASE WHEN a = 0 THEN 0 ELSE (tp * 1000000) div a END" +
             " AS BIGINT)").as("rec_ppm"),
        expr("CAST(CASE WHEN a + b = 0 THEN 0 " +
             "ELSE (tp * 2000000) div (a + b) END AS BIGINT)").as("f1_ppm"),
        expr("CAST(CASE WHEN nn*nn - sab = 0 THEN 0 " +
             "WHEN nn*stp - sab >= 0 THEN " +
             "(abs(nn*stp - sab) * 1000000) div (nn*nn - sab) " +
             "ELSE -((abs(nn*stp - sab) * 1000000) div (nn*nn - sab)) " +
             "END AS BIGINT)").as("kappa_ppm"))
  }

  /** A54 statistic — ONE shared float text over the exact DECIMAL
    * aggregates: multiclass MCC = (c·s − Σpₖtₖ) /
    * √((s²−Σpₖ²)(s²−Σtₖ²)) (Gorodkin's R_K). */
  private val mccSql =
    "(CAST(corr AS DOUBLE)*CAST(s AS DOUBLE) - CAST(spt AS DOUBLE)) / " +
      "sqrt((CAST(s AS DOUBLE)*CAST(s AS DOUBLE) - CAST(spp AS DOUBLE)) * " +
           "(CAST(s AS DOUBLE)*CAST(s AS DOUBLE) - CAST(stt AS DOUBLE)))"

  /** A54: Matthews correlation coefficient (multiclass R_K) + balanced
    * accuracy for the C4 language-ID classifier — the two
    * class-imbalance-proof summary numbers next to A50's per-class
    * report (sklearn matthews_corrcoef / balanced_accuracy_score
    * parity): every input to both statistics is an exact DECIMAL(38,0)
    * aggregate of the confusion margins (Σtp, N, Σpₖtₖ, Σpₖ², Σtₖ²,
    * and the per-class recall ppms whose mean IS balanced accuracy —
    * one integral division by the class count); only the published
    * MCC is float via the shared [[mccSql]] text. At 100 TB: one fact
    * pass then ≤|classes| combinatorics.
    */
  def qMcc(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cont = documents(s, dir)
      .select(col("lang").as("gold"),
        langPred(T.words(col("text"))).as("pred"))
      .groupBy(col("gold"), col("pred"))
      .agg(count(lit(1)).cast(dec).as("nij"))
    val ga = cont.groupBy(col("gold").as("cls")).agg(sum(col("nij")).as("t"))
    val pb = cont.groupBy(col("pred").as("cls")).agg(sum(col("nij")).as("p"))
    val tp = cont.filter(col("gold") === col("pred"))
      .select(col("gold").as("cls"), col("nij").as("tp"))
    val per = ga.join(pb, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left_outer")
      .select(col("cls"),
        coalesce(col("t"), lit(0)).cast(dec).as("t"),
        coalesce(col("p"), lit(0)).cast(dec).as("p"),
        coalesce(col("tp"), lit(0)).cast(dec).as("tp"))
    per.agg(
        sum(col("tp")).as("corr"), sum(col("t")).as("s"),
        sum(col("p") * col("t")).as("spt"),
        sum(col("p") * col("p")).as("spp"),
        sum(col("t") * col("t")).as("stt"),
        sum(when(col("t") > 0, lit(1L)).otherwise(0L)).as("k"),
        sum(when(col("t") > 0, expr("(tp * 1000000) div t"))
          .otherwise(lit(0L))).as("sum_rec"))
      .select(col("s").cast("long").as("n_rows"),
        col("corr").cast("long").as("n_correct"),
        col("k").cast("long").as("n_classes"),
        expr("CAST(sum_rec div k AS BIGINT)").as("bal_acc_ppm"),
        graft.functions.dec6(expr(mccSql)).as("mcc"))
  }

  /** C48: per-source language purity — the curation diagnostic for
    * "which SOURCES are language-mixed or mislabeled" (per-source
    * routing is how real pipelines act on language: drop, reroute, or
    * re-run a better detector per feed): per (source, predicted-lang)
    * counts in one aggregate after the codegen'd C4 prediction, the
    * majority language per source by the deterministic
    * (count DESC, lang) rank, purity = majority share and
    * gold-agreement as EXACT integral ppm. At 100 TB: one fact pass,
    * a ≤(sources×langs) cell frame, a ≤|sources| rollup.
    */
  def qSourcePurity(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"), col("lang").as("gold"),
        langPred(T.words(col("text"))).as("pred"))
    val cells = d.groupBy(col("source"), col("pred"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("pred"))
    val major = cells.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("pred").as("major_lang"),
        col("c").as("n_major"))
    val tot = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum((col("gold") === col("pred")).cast("long")).as("n_agree"))
    tot.join(major, "source")
      .select(col("source"), col("n_docs"), col("major_lang"),
        col("n_major"),
        expr("CAST((n_major * 1000000) div n_docs AS BIGINT)")
          .as("purity_ppm"),
        expr("CAST((n_agree * 1000000) div n_docs AS BIGINT)")
          .as("gold_agree_ppm"))
  }

  /** C26: language-ID confusion matrix — the evaluation primitive for
    * the C4 classifier: (gold, predicted) counts over the corpus, one
    * small-key aggregate after the codegen'd prediction.
    */
  def qConfusion(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang").as("gold_lang"), langPred(T.words(col("text"))).as("pred_lang"))
      .groupBy(col("gold_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** A55: Cohen's kappa between the C4 language detector and the
    * gold labels — the chance-corrected agreement coefficient (the
    * inter-annotator standard; accuracy alone is inflated by the
    * marginal class mix, which kappa subtracts): from the C26
    * confusion cells, κ = (N·Σnᵢᵢ − Σrᵢcᵢ)/(N² − Σrᵢcᵢ) — an EXACT
    * RATIONAL over integer cell counts, published as one integral
    * ppm division (numerator staged through DECIMAL(38,0) so the
    * ×10⁶ survives any corpus size). Labels missing from either
    * marginal contribute rᵢcᵢ = 0 — the inner marginal join is the
    * identity. At 100 TB: one ≤|langs|²-cell aggregate collapses the
    * corpus; everything after runs on ≤25 rows.
    */
  def qCohenKappa(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.core.Materialize.pin(
      documents(s, dir)
        .select(col("lang").as("g"), langPred(T.words(col("text"))).as("p"))
        .groupBy(col("g"), col("p")).agg(count(lit(1)).as("n")))
    val tot = cells.agg(sum(col("n")).as("nn"),
      sum(when(col("g") === col("p"), col("n")).otherwise(0L)).as("agree"))
    val pe = cells.groupBy(col("g")).agg(sum(col("n")).as("r"))
      .join(cells.groupBy(col("p")).agg(sum(col("n")).as("c")),
        col("g") === col("p"))
      .agg(sum(col("r") * col("c")).as("rc"))
    tot.crossJoin(broadcast(pe))
      .select(col("nn").cast("long").as("n_docs"),
        col("agree").cast("long").as("n_agree"),
        col("rc").cast("long").as("sum_rc"),
        expr("CAST((CAST(nn * agree - rc AS DECIMAL(38,0)) * 1000000) " +
             "div (CAST(nn AS DECIMAL(38,0)) * nn - rc) AS BIGINT)")
          .as("kappa_ppm"))
  }

  /** C27: IQR outlier flags on document length (Tukey fences at
    * 1.5·IQR) — the data-quality screen; bounds are a 1-row exact-
    * percentile aggregate crossed back (at corpus scale, swap in the
    * GK sketch bounds as q_percentile documents).
    */
  def qOutliers(s: SparkSession, dir: String): DataFrame = {
    val b = broadcast(documents(s, dir).agg(
      percentile(col("n_chars"), lit(0.25)).as("q1"),
      percentile(col("n_chars"), lit(0.75)).as("q3")))
    val x = col("n_chars").cast("double")
    documents(s, dir).crossJoin(b)
      .select(col("doc_id"), col("n_chars"),
        (x < col("q1") - lit(1.5) * (col("q3") - col("q1")) ||
         x > col("q3") + lit(1.5) * (col("q3") - col("q1"))).cast("int").as("is_outlier"))
  }

  /** Language-prediction CTE (`pred`) shared by the C4 oracle and the
    * C26 confusion matrix.
    */
  private lazy val langPredCteSql: String = {
    val scoreExprs = langMarkers.map { case (code, m) =>
      s"LEN(list_filter(w, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS s_$code"
    }.mkString(", ")
    val codes = langMarkers.map(_._1)
    val caseChain = codes.init.zipWithIndex.map { case (code, i) =>
      val rest = codes.drop(i + 1)
      s"WHEN ${rest.map(r => s"s_$code >= s_$r").mkString(" AND ")} THEN '$code'"
    }.mkString(" ")
    s"""base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sc AS (SELECT doc_id, $scoreExprs FROM base),
      |pred AS (SELECT doc_id, CASE $caseChain ELSE '${codes.last}' END AS pred_lang
      |  FROM sc)""".stripMargin
  }

  /** Shared oracle SQL fragments (DuckDB dialect). */
  private val baseSql =
    """base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, len(w)-1),
      |  i -> array_to_string(w[i:i+2],' ')) AS shingles FROM base),
      |dd AS (SELECT DISTINCT doc_id, s FROM
      |  (SELECT doc_id, unnest(shingles) AS s FROM sh)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM dd GROUP BY 1),
      |ip AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS i
      |  FROM dd x JOIN dd y ON x.s=y.s AND x.doc_id<y.doc_id GROUP BY 1,2)""".stripMargin

  /** Signature oracle: one md5 per shingle (52-bit hex prefix parsed
    * with nibble arithmetic, mod 2^31-1), then the 8 universal-hash
    * minima — mirrors TextFunctions.minhashPerms exactly.
    */
  private val sigSql = {
    val p = T.minhashP
    val sigExprs = T.minhashPerms.zipWithIndex.map { case ((a, b), j) =>
      s"CAST(list_aggregate(list_transform(hv, h -> ($a*h + $b) % $p),'min') AS BIGINT) AS sig$j"
    }.mkString(", ")
    s"""hx AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hl FROM sh),
      |hs AS (SELECT doc_id, list_transform(hl, x ->
      |  ${T.hexPrefix52Sql("x")} % $p) AS hv FROM hx),
      |sig AS (SELECT doc_id, $sigExprs FROM hs)""".stripMargin
  }

  private val jacSelSql =
    """SELECT c.a_id, c.b_id,
      |  CAST(ROUND(i/(sa.n+sb.n-i),4) AS DECIMAL(18,4))::DOUBLE AS jaccard
      |FROM cand c JOIN ip ON ip.a_id=c.a_id AND ip.b_id=c.b_id
      |JOIN sz sa ON sa.doc_id=c.a_id JOIN sz sb ON sb.doc_id=c.b_id
      |WHERE i/(sa.n+sb.n-i) >= 0.5 ORDER BY 1,2""".stripMargin

  /** SimHash oracle: replicates the kernel bit-for-bit in SQL. Bit j of
    * a word's 64-bit hash (first 8 md5 bytes, big-endian) lives in hex
    * char 16 - j/4, bit j%4 of that nibble; lanes sum +tf/-tf; the
    * unsigned fingerprint is folded to signed BIGINT two's-complement.
    */
  private val simhashSql =
    """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(w) AS word FROM base) GROUP BY 1,2),
      |wh AS (SELECT doc_id, c, substr(md5(word),1,16) AS hx FROM tf),
      |lanes AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 16 - j//4, 1)) - 1) >> (j % 4)) & 1 = 1
      |        THEN c ELSE -c END) AS lane
      |  FROM wh CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY 1,2),
      |fp AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN lane > 0 THEN CAST(POWER(2, j) AS HUGEINT) ELSE 0 END) AS ufp,
      |    CAST(SUM(CASE WHEN lane > 0 THEN 1 ELSE 0 END) AS INT) AS popcount
      |  FROM lanes GROUP BY 1)
      |SELECT doc_id,
      |  CAST(CASE WHEN ufp >= CAST(POWER(2,63) AS HUGEINT)
      |       THEN ufp - 2*CAST(POWER(2,63) AS HUGEINT) ELSE ufp END AS BIGINT) AS simhash,
      |  popcount
      |FROM fp ORDER BY doc_id""".stripMargin

  /** Winnowing oracle: per-position polynomial hash of char 8-grams
    * (mod 2^31-1, same base/modulus as TextKernels.winnow), rightmost
    * window minimum encoded as min of (h * 2^20 + (2^20-1-i)) so one
    * MIN picks (h asc, i desc), positions deduped. The `i <= ng - 3`
    * filter applies AFTER the window function — filtering first would
    * strip the rows that end-of-document frames need. Contract limits:
    * positions pack into 20 bits (documents <= 1M chars) and char
    * arithmetic assumes BMP-only text (DuckDB ascii() is a code point,
    * JVM charAt a UTF-16 unit — equal only below U+10000; the corpus
    * vocab including the zh markers is BMP).
    */
  /** Winnowing CTE chain shared by q_fingerprint and q_fp_overlap:
    * per-position rolling hash (`g`), rightmost-min window selection
    * (`selp`), single-min fallback for sub-window docs (`small`).
    */
  private val winnowCteSql: String = {
    val (b, m) = (1000003L, 2147483647L)
    val pw = Array.iterate(1L, 8)(p => p * b % m)
    val terms = (0 until 8)
      .map(t => s"ascii(substr(text, i+$t, 1)) * ${pw(7 - t)}::BIGINT")
      .mkString(" + ")
    s"""d AS (SELECT doc_id, text, length(text) - 7 AS ng FROM documents),
      |g AS (SELECT doc_id, i, ($terms) % $m AS h
      |  FROM d, (SELECT unnest(range(1, (SELECT MAX(length(text))+1 FROM documents))) AS i) r
      |  WHERE d.ng >= 1 AND i <= d.ng),
      |k AS (SELECT doc_id, i, h, h * 1048576 + (1048575 - i) AS key,
      |  MAX(i) OVER (PARTITION BY doc_id) AS ng FROM g),
      |wmin AS (SELECT doc_id, i, ng, MIN(key) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk FROM k),
      |selp AS (SELECT DISTINCT doc_id, 1048575 - (mk % 1048576) AS pos, mk // 1048576 AS h
      |  FROM wmin WHERE i <= ng - 3),
      |small AS (SELECT doc_id, 1 AS n_fp, MIN(h) AS mn FROM g
      |  WHERE doc_id IN (SELECT doc_id FROM d WHERE ng BETWEEN 1 AND 4) GROUP BY 1)""".stripMargin
  }

  /** C22/C24 shared pair CTE: winnow fingerprint sets → df-capped
    * bucket join → pairs sharing ≥2 fingerprints (`pr`).
    */
  private lazy val fpPairCteSql: String =
    s"""$winnowCteSql,
      |fpbig AS (SELECT DISTINCT doc_id, h FROM selp),
      |fpall AS (SELECT doc_id, h FROM fpbig
      |  UNION ALL
      |  SELECT doc_id, mn AS h FROM small
      |  WHERE doc_id NOT IN (SELECT doc_id FROM fpbig)),
      |bu AS (SELECT h FROM fpall GROUP BY 1
      |  HAVING COUNT(*) > 1 AND COUNT(*) <= 8),
      |pr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_shared
      |  FROM fpall x JOIN fpall y ON x.h = y.h AND x.doc_id < y.doc_id
      |  JOIN bu ON x.h = bu.h
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  private val fingerprintSql: String = {
    s"""WITH $winnowCteSql,
      |big AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_fp, MIN(h) AS min_fp, MAX(h) AS max_fp
      |  FROM selp GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(big.n_fp, small.n_fp, 0) AS n_fp,
      |  COALESCE(big.min_fp, small.mn) AS min_fp,
      |  COALESCE(big.max_fp, small.mn) AS max_fp
      |FROM d LEFT JOIN big ON d.doc_id = big.doc_id
      |LEFT JOIN small ON d.doc_id = small.doc_id
      |ORDER BY d.doc_id""".stripMargin
  }

  /** BM25 oracle: the C35 arithmetic replicated term-by-term with the
    * same parenthesization (tf/idf/denominator), per-term 6dp DECIMAL
    * rounding before the exact decimal sum.
    */
  // shared with D18's fusion oracle (Similarity.oracles)
  private[operators] val bm25OracleSql: String = {
    val qterms = Seq("spark", "join", "filter")
    val dfAggs = qterms.map(t =>
      s"CAST(SUM(CASE WHEN list_contains(w,'$t') THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(", ")
    val termCols = qterms.map { t =>
      val tf = s"CAST(LEN(list_filter(w, x -> x = '$t')) AS DOUBLE)"
      s"""CASE WHEN $tf > 0 THEN CAST(ROUND(
         |    ln(1.0 + (n - df_$t + 0.5)/(df_$t + 0.5)) * ($tf * 2.2) /
         |    ($tf + 1.2*(0.25 + 0.75*CAST(dl*n AS DOUBLE)/total_len)), 6)
         |    AS DECIMAL(18,6)) ELSE NULL END AS lp_$t,
         |  CASE WHEN $tf > 0 THEN 1 ELSE 0 END AS hit_$t""".stripMargin
    }.mkString(",\n  ")
    val hitSum = qterms.map(t => s"hit_$t").mkString(" + ")
    val lpSum = qterms.map(t => s"COALESCE(lp_$t, CAST(0 AS DECIMAL(18,6)))")
      .mkString(" + ")
    s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS w,
      |  CAST(LEN(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(dl) AS BIGINT) AS total_len, $dfAggs FROM base),
      |sc AS (SELECT * FROM base CROSS JOIN st),
      |t AS (SELECT doc_id,
      |  $termCols
      |  FROM sc)
      |SELECT doc_id, CAST($hitSum AS BIGINT) AS n_hit,
      |  CAST($lpSum AS DOUBLE) + 0.0 AS bm25
      |FROM t WHERE $hitSum > 0 ORDER BY doc_id""".stripMargin
  }

  /** Deterministic 10-word non-overlapping segmentation of a
    * (doc_id, text) frame → (doc_id, seg_idx, seg) — the "line" unit
    * for corpus-level segment dedup (C37). Pure stateless codegen
    * (split + sequence + slice + posexplode), so the F20 streaming
    * twin attaches it to an unbounded stream unchanged. The testdata
    * has no newlines, so segmentation is positional; on real corpora
    * the same op runs over `split(text, '\n')` lines instead.
    */
  def segmentsOn(docs: DataFrame, segLen: Int = 10): DataFrame = {
    val ws = split(col("text"), " ", -1)
    val nseg = floor((size(ws) + (segLen - 1)).cast("double") / segLen).cast("int")
    docs
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), nseg - 1),
        i => concat_ws(" ", slice(ws, i * segLen + 1, lit(segLen))))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"))
  }

  /** Per-segment corpus stats for C37/F20: occurrence count and the
    * lexicographically-first instance as a MIN over the
    * (doc_id, seg_idx) STRUCT — exact at any doc-id domain or document
    * length (the earlier packed doc_id·10⁶ + seg_idx silently
    * overflowed Long once doc ids passed ~9·10¹² — e.g. hash-derived
    * ids — and bled at ≥ 10⁶ segments per doc). Still a plain built-in
    * MIN, so the streaming twin maintains it as O(1) per-segment state
    * in Update mode.
    */
  def segmentStatsOn(segs: DataFrame): DataFrame =
    segs.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_occ"),
           min(struct(col("doc_id"), col("seg_idx"))).as("kinst"))

  /** C37: corpus-level segment (paragraph/line) dedup — the CCNet/
    * RefinedWeb "remove duplicated lines across the corpus" pass, the
    * sub-document complement of C1 (whole-doc) and C32 (n-gram
    * signal): every 10-word segment is kept only at its first corpus
    * occurrence (lowest (doc_id, seg_idx)), so boilerplate shared
    * across documents survives exactly once. Output per document:
    * segment counts and the md5 of the de-duplicated rebuild (kept
    * segments re-joined in order). Scale shape: one segment-key
    * shuffle for the stats (map-side combined), one segment-key
    * shuffle join back (AQE broadcasts the stats side where it fits),
    * one doc-key shuffle to rebuild — O(segments) everywhere, no
    * all-pairs, no collect. The kept-segment collect_list is bounded
    * by the document's own length (the E4-style per-row bound), and
    * sort_array makes its order deterministic.
    */
  def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val segs = segmentsOn(documents(s, dir).select(col("doc_id"), col("text")))
    val keep = struct(col("doc_id"), col("seg_idx")) === col("kinst")
    segs.join(segmentStatsOn(segs), "seg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
           sum(keep.cast("long")).as("n_kept"),
           sort_array(collect_list(when(keep,
             struct(col("seg_idx"), col("seg"))))).as("ks"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(array_join(transform(col("ks"), x => x("seg")), " ")).as("kept_md5"))
  }

  /** C38: PMI collocation statistics — the corpus-linguistics step a
    * tokenizer/phrase-mining pipeline runs after C23/C29: score each
    * adjacent word pair by pointwise mutual information
    * log(p(ab)/(p(a)p(b))). Ranking is by the EXACT integer-scaled
    * ratio c(ab)·N·10⁶ div (c(a)·c(b)) — monotone in PMI, no float
    * log, so the top-k order is bit-identical cross-engine; the
    * product runs in DECIMAL(38,0) (DuckDB HUGEINT) so corpus-scale N
    * cannot overflow. Scale shape: two vocabulary-sized count shuffles
    * (unigram, pair — both map-side combined), the pair→unigram count
    * joins key on tokens (AQE broadcasts the unigram side where it
    * fits), N rides a 1-row broadcast cross join, and the top-25 is a
    * TakeOrderedAndProject — never a global sort.
    */
  def qPmi(s: SparkSession, dir: String): DataFrame = {
    val w = T.words(col("text"))
    val base = documents(s, dir).select(col("doc_id"), w.as("w"))
    val uni = base.select(explode(col("w")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val n = uni.agg(sum(col("c1")).as("n_tokens"))
    val pairs = base.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
                    element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
    pairs
      .join(uni.select(col("t").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("t").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        expr("""CAST((CAST(c12 AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))
                * 1000000) DIV (CAST(c1a AS DECIMAL(38,0)) * CAST(c1b AS DECIMAL(38,0)))
                AS BIGINT)""").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
      .limit(25)
  }

  /** C39: inverted-index build — term → document frequency, total term
    * frequency, and the first-8 posting list (ascending doc ids): the
    * retrieval-side artifact a decontamination / search service builds
    * from the corpus. Scale shape: per-(doc, term) pre-combine first
    * (the C32 shuffle rule — postings carry distinct pairs, not
    * occurrences), then ONE term-key shuffle feeds both the stats
    * aggregate and the posting-list window; the rn ≤ 8 filter is a
    * WindowGroupLimit (rank-limit pushdown — plan-audited), so hot
    * terms prune to 8 rows per partition BEFORE the full sort, and the
    * bounded collect_list holds ≤ 8 entries. Top-30 by (df desc, term)
    * is a TakeOrderedAndProject.
    */
  def qInverted(s: SparkSession, dir: String): DataFrame = {
    val p = documents(s, dir)
      .select(col("doc_id"), explode(T.words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("cnt"))
    val st = p.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("cnt")).as("tf"))
    val rn = row_number().over(
      Window.partitionBy(col("term")).orderBy(col("doc_id")))
    val post = p.withColumn("rn", rn).filter(col("rn") <= 8)
      .groupBy(col("term"))
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("posting"))
    st.join(post, "term")
      .filter(col("df") >= 3)
      .select(col("term"), col("df"), col("tf"), col("posting"))
      .orderBy(col("df").desc, col("term"))
      .limit(30)
  }

  /** C40: Flesch-style readability scoring — the document-level
    * complexity signal quality pipelines bucket corpora by (simple
    * wiki vs arxiv). Words = whitespace tokens; syllables = vowel
    * groups (`[aeiouy]+` runs — a run never crosses a space, so the
    * whole-text extraction equals the per-word sum); sentence
    * boundaries are regex extraction — the punctuation-free synthetic
    * corpus synthesizes terminators as designated marker words (the
    * C19/C20 fixture-synthesis convention), counted with the same
    * non-overlapping left-to-right semantics both engines share. The
    * score stays in exact integer millis: each factor is an integral
    * division of non-negative exact integers (truncation identical
    * cross-engine), the final subtraction exact — no float anywhere.
    * Stateless pure codegen, zero shuffle at any corpus size.
    */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val ws = T.words(col("text"))
    documents(s, dir)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        (size(regexp_extract_all(col("text"), lit(" (spark|table|value) "), lit(0)))
          .cast("long") + 1L).as("n_sentences"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .withColumn("wps_e6", expr("n_words * 1000000 div n_sentences"))
      .withColumn("spw_e6", expr("n_syllables * 1000000 div n_words"))
      .withColumn("flesch_e3",
        expr("206835 - (1015 * wps_e6 div 1000000) - (84600 * spw_e6 div 1000000)"))
  }

  val oracles: Map[String, String] = Map(
    "q_bm25" -> bm25OracleSql,
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE LEN(text) > 0),
        |h AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
        |  FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    list(cnt * ln(cnt) ORDER BY c) AS terms
        |  FROM h GROUP BY 1)
        |SELECT doc_id, n AS n_chars, n_distinct,
        |  CAST(ROUND(ln(n) - list_aggregate(terms, 'sum') / n, 4)
        |    AS DECIMAL(18,4))::DOUBLE AS entropy_nats
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_readability" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(LEN(regexp_extract_all(text, ' (spark|table|value) ')) AS BIGINT) + 1
        |    AS n_sentences,
        |  CAST(LEN(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents),
        |f AS (SELECT *, n_words * 1000000 // n_sentences AS wps_e6,
        |  n_syllables * 1000000 // n_words AS spw_e6 FROM b)
        |SELECT doc_id, n_words, n_sentences, n_syllables, wps_e6, spw_e6,
        |  206835 - (1015 * wps_e6 // 1000000) - (84600 * spw_e6 // 1000000)
        |    AS flesch_e3
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_line_dedup" ->
      """WITH b AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |    array_to_string(w[(i*10+1):(i*10+10)],' ') AS seg
        |  FROM b, UNNEST(range(0, (LEN(w)+9)//10)) AS u(i)),
        |st AS (SELECT seg, COUNT(*) AS n_occ,
        |    MIN(doc_id*1000000 + seg_idx) AS kinst FROM seg GROUP BY 1),
        |k AS (SELECT doc_id, seg_idx, seg,
        |    CASE WHEN doc_id*1000000 + seg_idx = kinst THEN 1 ELSE 0 END AS keep
        |  FROM seg JOIN st USING (seg))
        |SELECT doc_id, COUNT(*) AS n_segs,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN keep = 1 THEN seg END, ' '
        |    ORDER BY seg_idx), '')) AS kept_md5
        |FROM k GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_pmi" ->
      """WITH b AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |uni AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM b) WHERE LENGTH(t) > 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tokens FROM uni),
        |pr AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c12
        |  FROM (SELECT unnest(list_transform(range(1, LEN(w)),
        |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
        |    FROM b WHERE LEN(w) >= 2)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c12,
        |  CAST((CAST(c12 AS HUGEINT) * n_tokens * 1000000)
        |    // (CAST(a.c1 AS HUGEINT) * b2.c1) AS BIGINT) AS pmi_ppm
        |FROM pr JOIN uni a ON pr.w1 = a.t JOIN uni b2 ON pr.w2 = b2.t
        |CROSS JOIN n
        |ORDER BY pmi_ppm DESC, w1, w2 LIMIT 25""".stripMargin,
    "q_inverted" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |  FROM documents),
        |p AS (SELECT term, doc_id, COUNT(*) AS cnt FROM w
        |  WHERE LENGTH(term) > 0 GROUP BY 1, 2),
        |st AS (SELECT term, COUNT(*) AS df, CAST(SUM(cnt) AS BIGINT) AS tf
        |  FROM p GROUP BY 1),
        |r AS (SELECT term, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM p),
        |post AS (SELECT term,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
        |  FROM r WHERE rn <= 8 GROUP BY 1)
        |SELECT term, df, tf, posting FROM st JOIN post USING (term)
        |WHERE df >= 3 ORDER BY df DESC, term LIMIT 30""".stripMargin,
    "q_dedup_yield" ->
      """WITH st AS (SELECT CAST(COUNT(*) AS BIGINT) AS raw,
        |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact,
        |    CAST(COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
        |      AS BIGINT) AS canon
        |  FROM documents),
        |rows AS (
        |  SELECT 'a_raw' AS stage, raw AS n_kept,
        |    CAST(NULL AS BIGINT) AS n_removed, raw FROM st
        |  UNION ALL
        |  SELECT 'b_exact', exact, raw - exact, raw FROM st
        |  UNION ALL
        |  SELECT 'c_canon', canon, exact - canon, raw FROM st)
        |SELECT stage, n_kept, n_removed,
        |  CAST(CASE WHEN n_removed IS NULL THEN NULL
        |    ELSE (n_removed * 1000000) // raw END AS BIGINT)
        |    AS removed_ppm_of_raw
        |FROM rows ORDER BY stage""".stripMargin,
    "q_canon_dedup" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_members,
        |  COUNT(DISTINCT md5(text)) AS n_raw_forms
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        |ORDER BY keeper_id""".stripMargin,
    "q_gopher" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |m AS (SELECT doc_id, LEN(w) AS n,
        |  list_sum(list_transform(w, x -> LEN(x))) AS sumlen,
        |  LEN(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |  LEN(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop
        |  FROM base),
        |f AS (SELECT doc_id, n,
        |  CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS f_wordcount,
        |  CASE WHEN sumlen >= n*3 AND sumlen <= n*10 THEN 1 ELSE 0 END AS f_wordlen,
        |  CASE WHEN n_alpha*5 >= n*4 THEN 1 ELSE 0 END AS f_alpha,
        |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_stop
        |  FROM m)
        |SELECT doc_id, n AS n_words, f_wordcount, f_wordlen, f_alpha, f_stop,
        |  f_wordcount * f_wordlen * f_alpha * f_stop AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_hash_embed" ->
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |h AS (SELECT doc_id, ${T.hexPrefix52Sql("md5(word)")} AS hv
        |  FROM (SELECT doc_id, unnest(ws) AS word FROM base)),
        |t AS (SELECT doc_id, CAST(hv % 64 AS INT) AS bucket,
        |  CASE WHEN (hv // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn FROM h)
        |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS w
        |FROM t GROUP BY 1,2 HAVING SUM(sgn) <> 0 ORDER BY 1,2""".stripMargin,
    "q_tfidf" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM
        |  (SELECT doc_id, unnest(w) AS word FROM base) GROUP BY 1,2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, tf.word, tf * ln((SELECT COUNT(*) FROM documents)::DOUBLE / df) AS tfidf,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tf * ln((SELECT COUNT(*) FROM documents)::DOUBLE / df) DESC, tf.word) AS rn
        |  FROM tf JOIN df ON tf.word = df.word)
        |SELECT doc_id, word AS top_term,
        |  CAST(ROUND(tfidf,4) AS DECIMAL(18,4))::DOUBLE AS top_tfidf
        |FROM sc WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, LEN(w) AS n_words,
        |  CASE WHEN LEN(w) >= 2 THEN list_transform(range(1, LEN(w)),
        |    i -> array_to_string(w[i:i+1],' ')) ELSE [] END AS g FROM base),
        |gs AS (SELECT doc_id, n_words, LEN(g) AS n_g2,
        |  LEN(list_distinct(g)) AS n_d FROM g2),
        |tw AS (SELECT doc_id, MAX(c) AS top_c FROM (
        |  SELECT doc_id, word, COUNT(*) AS c FROM
        |    (SELECT doc_id, unnest(w) AS word FROM base) GROUP BY 1,2)
        |  GROUP BY 1)
        |SELECT gs.doc_id, n_words,
        |  CAST(ROUND(CASE WHEN n_g2 > 0
        |    THEN 1.0 - CAST(n_d AS DOUBLE)/n_g2 ELSE 0.0 END,4)
        |    AS DECIMAL(18,4))::DOUBLE AS dup_2gram_frac,
        |  CAST(ROUND(CAST(top_c AS DOUBLE)/n_words,4)
        |    AS DECIMAL(18,4))::DOUBLE AS top_word_ratio
        |FROM gs JOIN tw ON gs.doc_id = tw.doc_id ORDER BY 1""".stripMargin,
    "q_charclass" ->
      """WITH c AS (SELECT doc_id, LENGTH(text) AS n,
        |  LENGTH(text) - LENGTH(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
        |  LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
        |  LENGTH(text) - LENGTH(regexp_replace(text, ' ', '', 'g')) AS n_space
        |  FROM documents)
        |SELECT doc_id, n AS n_chars,
        |  CAST(ROUND(CAST(n_alpha AS DOUBLE)/n,4) AS DECIMAL(18,4))::DOUBLE AS alpha_ratio,
        |  CAST(ROUND(CAST(n_digit AS DOUBLE)/n,4) AS DECIMAL(18,4))::DOUBLE AS digit_ratio,
        |  CAST(ROUND(CAST(n_space AS DOUBLE)/n,4) AS DECIMAL(18,4))::DOUBLE AS space_ratio,
        |  CAST(ROUND(CAST(n - n_alpha - n_digit - n_space AS DOUBLE)/n,4)
        |    AS DECIMAL(18,4))::DOUBLE AS other_ratio
        |FROM c ORDER BY 1""".stripMargin,
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" ->
      s"""WITH fp AS ($simhashSql)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY 1,2""".stripMargin,
    "q_fingerprint" -> fingerprintSql,
    "q_pii" ->
      """WITH t AS (SELECT doc_id,
        |  text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' contact ' || source || '_' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id // 7) % 256) || '.' || ((doc_id // 13) % 256) ELSE '' END
        |  AS t FROM documents)
        |SELECT doc_id,
        |  CAST(LEN(regexp_extract_all(t, '[a-z0-9_]+@[a-z0-9.]+\.com')) AS BIGINT) AS n_email,
        |  CAST(LEN(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  CAST(LEN(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9_]+@[a-z0-9.]+\.com', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g')) AS redacted_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_stratified" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1)
        |SELECT doc_id, lang FROM documents JOIN c USING (lang)
        |WHERE CAST(${T.hexPrefix52Sql("md5('strat|' || doc_id)")} AS BIGINT) % n_lang < 60
        |ORDER BY doc_id""".stripMargin,
    "q_editdist" ->
      """WITH p AS (SELECT doc_id, text, substr(text,1,24) AS pre FROM documents),
        |sz AS (SELECT pre FROM p GROUP BY 1 HAVING COUNT(*) > 1 AND COUNT(*) <= 8)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
        |  CAST(ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |    / CAST(GREATEST(LENGTH(a.text), LENGTH(b.text)) AS DOUBLE), 4)
        |    AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM p a JOIN p b ON a.pre = b.pre AND a.doc_id < b.doc_id
        |JOIN sz ON a.pre = sz.pre
        |WHERE levenshtein(a.text, b.text) <= 40
        |ORDER BY 1, 2""".stripMargin,
    "q_zipf_fit" -> {
      val chain = zipfDerivs.zipWithIndex.map { case ((nm, f), i) =>
        s"d${i + 1} AS (SELECT *, $f AS $nm FROM d$i)"
      }.mkString(",\n")
      s"""WITH tf AS (SELECT term, COUNT(*) AS tf
        |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents)
        |  WHERE LENGTH(term) > 0 GROUP BY 1
        |  ORDER BY tf DESC, term LIMIT 200),
        |rk AS (SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS rank
        |  FROM tf),
        |l AS (SELECT CAST($zipfXsSql AS HUGEINT) AS xs,
        |    CAST($zipfYsSql AS HUGEINT) AS ys FROM rk),
        |a AS (SELECT COUNT(*) AS n, SUM(xs) AS sxd, SUM(ys) AS syd,
        |    SUM(xs*xs) AS sxxd, SUM(xs*ys) AS sxyd, SUM(ys*ys) AS syyd FROM l),
        |d0 AS (SELECT CAST(n AS BIGINT) AS n_terms, CAST(n AS DOUBLE) AS nnd,
        |    CAST(sxd AS DOUBLE) AS sx, CAST(syd AS DOUBLE) AS sy,
        |    CAST(sxxd AS DOUBLE) AS sxx, CAST(sxyd AS DOUBLE) AS sxy,
        |    CAST(syyd AS DOUBLE) AS syy FROM a),
        |$chain
        |SELECT n_terms, CAST(ROUND(slope, 6) AS DECIMAL(18,6))::DOUBLE AS slope,
        |  CAST(ROUND(icept, 6) AS DECIMAL(18,6))::DOUBLE AS intercept,
        |  CAST(ROUND(r2, 6) AS DECIMAL(18,6))::DOUBLE AS r2
        |FROM d${zipfDerivs.length}""".stripMargin
    },
    "q_heaps_fit" -> {
      val chain = heapsDerivs.zipWithIndex.map { case ((nm, f), i) =>
        s"d${i + 1} AS (SELECT *, $f AS $nm FROM d$i)"
      }.mkString(",\n")
      s"""WITH ww AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |toks AS (SELECT doc_id,
        |    w[CAST(i+1 AS INT)] || '_' || w[CAST(i+2 AS INT)] AS word
        |  FROM ww, (SELECT unnest(range(128)) AS i)
        |  WHERE i < LEN(w) - 1),
        |dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS toks
        |  FROM toks GROUP BY 1),
        |fs AS (SELECT word, MIN(doc_id) AS fs FROM toks GROUP BY 1),
        |nd AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
        |th AS (SELECT (i * nd) // 10 AS t
        |  FROM (SELECT unnest(range(1, 11)) AS i) CROSS JOIN nd),
        |nt AS (SELECT t, CAST(SUM(toks) AS BIGINT) AS ntok
        |  FROM dt CROSS JOIN th WHERE doc_id < t GROUP BY 1),
        |vs AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS vocab
        |  FROM fs CROSS JOIN th WHERE fs.fs < t GROUP BY 1),
        |p AS (SELECT nt.t, ntok, vocab FROM nt JOIN vs USING (t)),
        |tt AS (SELECT CAST(MAX(ntok) AS BIGINT) AS n_total,
        |    CAST(MAX(vocab) AS BIGINT) AS v_total FROM p),
        |l AS (SELECT CAST($heapsXsSql AS HUGEINT) AS xs,
        |    CAST($heapsYsSql AS HUGEINT) AS ys FROM p),
        |a AS (SELECT COUNT(*) AS n, SUM(xs) AS sxd, SUM(ys) AS syd,
        |    SUM(xs*xs) AS sxxd, SUM(xs*ys) AS sxyd, SUM(ys*ys) AS syyd FROM l),
        |d0 AS (SELECT CAST(n AS BIGINT) AS n_points, CAST(n AS DOUBLE) AS nnd,
        |    CAST(n*syyd - syd*syd AS BIGINT) AS vary,
        |    CAST(sxd AS DOUBLE) AS sx, CAST(syd AS DOUBLE) AS sy,
        |    CAST(sxxd AS DOUBLE) AS sxx, CAST(sxyd AS DOUBLE) AS sxy,
        |    CAST(syyd AS DOUBLE) AS syy FROM a),
        |$chain
        |SELECT n_points, n_total, v_total,
        |  CAST(ROUND(slope, 6) AS DECIMAL(18,6))::DOUBLE AS beta,
        |  CAST(ROUND(icept, 6) AS DECIMAL(18,6))::DOUBLE AS ln_k,
        |  CAST(ROUND(r2, 6) AS DECIMAL(18,6))::DOUBLE AS r2
        |FROM d${zipfDerivs.length} CROSS JOIN tt""".stripMargin
    },
    "q_multinomial_nb" ->
      s"""WITH raw AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word
        |        FROM documents)
        |  WHERE LEN(word) > 0 GROUP BY 1, 2),
        |vw AS (SELECT word FROM (SELECT word, SUM(cnt) AS wn FROM raw
        |  GROUP BY 1 ORDER BY wn DESC, word LIMIT $nbMaxFeatures)),
        |toks AS (SELECT raw.* FROM raw JOIN vw USING (word)),
        |docs AS (SELECT doc_id, source FROM documents),
        |dt AS (SELECT doc_id, SUM(cnt) AS toks FROM toks GROUP BY 1),
        |nwc AS (SELECT source, word, SUM(cnt) AS nwc
        |  FROM toks JOIN docs USING (doc_id) GROUP BY 1, 2),
        |pc AS (SELECT source, SUM(nwc) AS nc FROM nwc GROUP BY 1),
        |vb AS (SELECT CAST(COUNT(*) AS BIGINT) AS vv FROM vw),
        |pr AS (SELECT source, COUNT(*) AS ndc,
        |    (SELECT COUNT(*) FROM docs) AS nd FROM docs GROUP BY 1),
        |cb AS (SELECT source, nc, vv,
        |    CAST($nbDfltSql AS BIGINT) AS dflt_e6,
        |    CAST($nbPriorSql AS BIGINT) AS prior_e6
        |  FROM pc CROSS JOIN vb JOIN pr USING (source)),
        |wt AS (SELECT nwc.source, word,
        |    CAST($nbLnSql AS BIGINT) - dflt_e6 AS delta_e6
        |  FROM nwc JOIN cb ON nwc.source = cb.source),
        |sp AS (SELECT doc_id, source, SUM(cnt * delta_e6) AS seen_e6
        |  FROM toks JOIN wt USING (word) GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cb.source,
        |    prior_e6 + dt.toks * dflt_e6 + COALESCE(seen_e6, 0) AS score_e6
        |  FROM dt CROSS JOIN cb
        |  LEFT JOIN sp ON sp.doc_id = dt.doc_id AND sp.source = cb.source),
        |pk AS (SELECT doc_id, source AS predicted,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_e6 DESC, source) AS rn FROM sc)
        |SELECT d.source AS actual, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
        |FROM docs d JOIN pk p ON d.doc_id = p.doc_id AND p.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(LEN(string_split(text, ' ')) + 1 AS BIGINT) AS w
        |  FROM documents),
        |p AS (SELECT doc_id, w, SUM(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM t),
        |sp AS (SELECT w, running,
        |    ((running - 1) // 512) - ((running - w) // 512) + 1 AS span
        |  FROM p),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CASE WHEN span > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_spanning,
        |    CAST(MAX(span) AS BIGINT) AS max_span FROM sp)
        |SELECT n_docs, total_tokens,
        |  CAST((total_tokens + 511) // 512 AS BIGINT) AS n_seqs,
        |  n_spanning, max_span,
        |  CAST(CASE WHEN total_tokens % 512 = 0 THEN 1000000
        |    ELSE ((total_tokens % 512) * 1000000) // 512 END AS BIGINT)
        |    AS last_fill_ppm
        |FROM a""".stripMargin,
    "q_rake" ->
      """WITH docs AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |b AS (SELECT doc_id, i, w[CAST(i+1 AS INT)] AS word,
        |    CASE WHEN w[CAST(i+1 AS INT)] IN ('a','the') THEN 1 ELSE 0 END AS stop
        |  FROM docs, (SELECT unnest(range(128)) AS i)
        |  WHERE i < LEN(w) AND LEN(w[CAST(i+1 AS INT)]) > 0),
        |g AS (SELECT *, SUM(stop) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM b),
        |pw AS (SELECT doc_id, grp, i, word FROM g WHERE stop = 0),
        |ph AS (SELECT doc_id, grp, STRING_AGG(word, ' ' ORDER BY i) AS phrase,
        |    CAST(COUNT(*) AS HUGEINT) AS plen FROM pw GROUP BY 1, 2),
        |ws AS (SELECT word, (SUM(plen) * 1000000) // COUNT(*) AS wsc
        |  FROM pw JOIN ph USING (doc_id, grp) GROUP BY 1),
        |oc AS (SELECT doc_id, grp, SUM(wsc) AS sc
        |  FROM pw JOIN ws USING (word) GROUP BY 1, 2)
        |SELECT phrase, CAST(MAX(plen) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_occ, CAST(MAX(sc) AS BIGINT) AS score_ppm
        |FROM ph JOIN oc USING (doc_id, grp)
        |GROUP BY 1 ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin,
    "q_vocab" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
        |SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        |FROM w WHERE LENGTH(term) > 0
        |GROUP BY 1 ORDER BY df DESC, term LIMIT 30""".stripMargin,
    "q_dup_ngram" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, LEN(w)-1),
        |    i -> array_to_string(w[i:i+2],' '))) AS g
        |  FROM base WHERE LEN(w) >= 3),
        |st AS (SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(ROUND(CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*),4) AS DECIMAL(18,4))::DOUBLE AS dup_3gram_frac
        |FROM g JOIN st USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |uni AS (SELECT t, COUNT(*) AS c1 FROM (SELECT unnest(w) AS t FROM base) GROUP BY 1),
        |bi AS (SELECT doc_id, unnest(list_transform(range(1, LEN(w)),
        |    i -> struct_pack(w1 := w[i], bg := array_to_string(w[i:i+1],' ')))) AS p
        |  FROM base WHERE LEN(w) >= 2),
        |bx AS (SELECT doc_id, p.w1 AS w1, p.bg AS bg FROM bi),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bx GROUP BY 1),
        |t AS (SELECT doc_id, CAST(ROUND(ln(CAST(c2 AS DOUBLE) / c1), 6) AS DECIMAL(18,6)) AS lp
        |  FROM bx JOIN c2 USING (bg) JOIN uni ON bx.w1 = uni.t)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4)
        |    AS DECIMAL(18,4))::DOUBLE AS avg_logprob
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_domain_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
        |  CAST(LEN(string_split(text,' ')) AS BIGINT) AS toks FROM documents),
        |tot AS (SELECT SUM(toks) AS total_toks, COUNT(DISTINCT source) AS n_dom FROM d),
        |dom AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS dom_toks
        |  FROM d GROUP BY 1),
        |thr AS (SELECT source, n_docs, dom_toks,
        |  LEAST(1000000, (1000000 * ((total_toks // 4) // n_dom)) // dom_toks) AS thr
        |  FROM dom CROSS JOIN tot),
        |k AS (SELECT d.source, n_docs, dom_toks, thr,
        |  CASE WHEN ${T.hexPrefix52Sql("md5('mix|' || d.doc_id)")} % 1000000 < thr
        |    THEN 1 ELSE 0 END AS kept, toks
        |  FROM d JOIN thr USING (source))
        |SELECT source, n_docs, dom_toks, CAST(thr AS BIGINT) AS thr,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(kept * toks) AS BIGINT) AS kept_toks
        |FROM k GROUP BY 1,2,3,4 ORDER BY source""".stripMargin,
    "q_corpus_pipeline" -> {
      val u = T.hexPrefix52Sql("md5('split|'||doc_id)")
      val sp = s"CASE WHEN $u % 100 < 90 THEN 'train' WHEN $u % 100 < 95 THEN 'val' ELSE 'test' END"
      s"""WITH b AS (SELECT DISTINCT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |k AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper_id FROM b GROUP BY 1),
        |w AS (SELECT doc_id, string_split(text,' ') AS w FROM b),
        |m AS (SELECT doc_id, LEN(w) AS n,
        |  list_sum(list_transform(w, x -> LEN(x))) AS sumlen,
        |  LEN(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |  LEN(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop
        |  FROM w),
        |f AS (SELECT doc_id,
        |  CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END
        |  * CASE WHEN sumlen >= n*3 AND sumlen <= n*10 THEN 1 ELSE 0 END
        |  * CASE WHEN n_alpha*5 >= n*4 THEN 1 ELSE 0 END
        |  * CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS keep_quality FROM m),
        |tg AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)-2), i -> array_to_string(w[i:i+3],' '))) AS g
        |  FROM w WHERE len(w) >= 4)),
        |ev AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(range(1, len(string_split(text,' '))-2),
        |    i -> array_to_string(string_split(text,' ')[i:i+3],' '))) AS g
        |  FROM documents WHERE doc_id % 97 = 0 AND len(string_split(text,' ')) >= 4)),
        |cont AS (SELECT DISTINCT tg.doc_id FROM tg JOIN ev USING (g))
        |SELECT b.doc_id,
        |  CASE WHEN b.doc_id = k.keeper_id THEN 1 ELSE 0 END AS is_keeper,
        |  f.keep_quality,
        |  CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
        |  $sp AS split,
        |  CASE WHEN b.doc_id = k.keeper_id AND f.keep_quality = 1
        |    AND cont.doc_id IS NULL AND $sp = 'train' THEN 1 ELSE 0 END AS selected
        |FROM b JOIN k ON md5(b.text) = k.h JOIN f USING (doc_id)
        |LEFT JOIN cont USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    },
    "q_split" -> {
      val u = graft.functions.TextFunctions.hexPrefix52Sql("md5('split|'||doc_id)")
      s"""SELECT doc_id,
        |  CASE WHEN $u % 100 < 90 THEN 'train'
        |       WHEN $u % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_bpe_encode" ->
      """WITH wa AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY 1),
        |w0 AS (SELECT w, cnt FROM wa ORDER BY cnt DESC, w LIMIT 60),
        |s0 AS (SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS st, cnt FROM w0),
        |t1 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s0),
        |e1 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t1 WHERE len(t) >= 2),
        |q1 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e1 GROUP BY 1, 2),
        |b1 AS (SELECT a, b FROM q1 ORDER BY n DESC, a, b LIMIT 1),
        |s1 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM s0, b1),
        |t2 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s1),
        |e2 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t2 WHERE len(t) >= 2),
        |q2 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e2 GROUP BY 1, 2),
        |b2 AS (SELECT a, b FROM q2 ORDER BY n DESC, a, b LIMIT 1),
        |s2 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM s1, b2),
        |t3 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s2),
        |e3 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t3 WHERE len(t) >= 2),
        |q3 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e3 GROUP BY 1, 2),
        |b3 AS (SELECT a, b FROM q3 ORDER BY n DESC, a, b LIMIT 1),
        |a0 AS (SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS st, cnt FROM wa),
        |a1 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM a0, b1),
        |a2 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM a1, b2),
        |a3 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM a2, b3),
        |c0 AS (SELECT CAST(SUM(cnt * len(string_split(trim(st, '|'), '||'))) AS BIGINT) AS n FROM a0),
        |c1 AS (SELECT CAST(SUM(cnt * len(string_split(trim(st, '|'), '||'))) AS BIGINT) AS n FROM a1),
        |c2 AS (SELECT CAST(SUM(cnt * len(string_split(trim(st, '|'), '||'))) AS BIGINT) AS n FROM a2),
        |c3 AS (SELECT CAST(SUM(cnt * len(string_split(trim(st, '|'), '||'))) AS BIGINT) AS n FROM a3),
        |m AS (SELECT 0 AS round, '' AS merged, n AS n_tokens FROM c0
        |  UNION ALL SELECT 1, (SELECT a || b FROM b1), n FROM c1
        |  UNION ALL SELECT 2, (SELECT a || b FROM b2), n FROM c2
        |  UNION ALL SELECT 3, (SELECT a || b FROM b3), n FROM c3)
        |SELECT m.round, m.merged, m.n_tokens,
        |  CAST((c0.n - m.n_tokens) * 1000 // c0.n AS BIGINT) AS saved_permille
        |FROM m, c0 ORDER BY round""".stripMargin,
    "q_bpe_train" ->
      """WITH w0 AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]{2,}$')
        |  GROUP BY 1 ORDER BY cnt DESC, w LIMIT 60),
        |s0 AS (SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS st, cnt FROM w0),
        |t1 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s0),
        |e1 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t1 WHERE len(t) >= 2),
        |q1 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e1 GROUP BY 1, 2),
        |b1 AS (SELECT a, b, n FROM q1 ORDER BY n DESC, a, b LIMIT 1),
        |s1 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM s0, b1),
        |t2 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s1),
        |e2 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t2 WHERE len(t) >= 2),
        |q2 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e2 GROUP BY 1, 2),
        |b2 AS (SELECT a, b, n FROM q2 ORDER BY n DESC, a, b LIMIT 1),
        |s2 AS (SELECT replace(st, '|' || a || '||' || b || '|', '|' || a || b || '|') AS st, cnt FROM s1, b2),
        |t3 AS (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM s2),
        |e3 AS (SELECT cnt, t, unnest(range(len(t) - 1)) AS i FROM t3 WHERE len(t) >= 2),
        |q3 AS (SELECT t[i+1] AS a, t[i+2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM e3 GROUP BY 1, 2),
        |b3 AS (SELECT a, b, n FROM q3 ORDER BY n DESC, a, b LIMIT 1)
        |SELECT 1 AS round, a AS t1, b AS t2, a || b AS merged, n AS support FROM b1
        |UNION ALL SELECT 2, a, b, a || b, n FROM b2
        |UNION ALL SELECT 3, a, b, a || b, n FROM b3
        |ORDER BY round""".stripMargin,
    "q_bpe_pairs" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |e AS (SELECT ws, unnest(range(len(ws) - 1)) AS i FROM w),
        |p AS (SELECT ws[i+1] AS w1, ws[i+2] AS w2 FROM e)
        |SELECT w1, w2, COUNT(*) AS n FROM p
        |WHERE LENGTH(w1) > 0 AND LENGTH(w2) > 0
        |GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS nw,
        |    CASE WHEN len(ws) <= 32 THEN 1
        |         ELSE (len(ws) - 32 + 23) // 24 + 1 END AS nc FROM w),
        |e AS (SELECT doc_id, ws, nw, unnest(range(nc)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(LEAST(32, nw - i*24) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(ws, i*24 + 1, i*24 + 32), ' ')) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_fp_overlap" ->
      s"""WITH $fpPairCteSql
        |SELECT a_id, b_id, n_shared FROM pr ORDER BY 1, 2""".stripMargin,
    "q_ctx_loss" ->
      """WITH base AS (SELECT LEN(string_split(text, ' '))::BIGINT AS n
        |  FROM documents),
        |ks(k) AS (SELECT * FROM (VALUES (32::BIGINT), (128::BIGINT),
        |  (512::BIGINT)))
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n > k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_over,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  CAST(SUM(GREATEST(n - k, 0)) AS BIGINT) AS tokens_lost,
        |  CAST((SUM(GREATEST(n - k, 0)) * 1000000) // SUM(n) AS BIGINT)
        |    AS loss_ppm
        |FROM base CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin,
    "q_textrank" -> {
      val iters = (1 to 3).map { k =>
        s"""c$k AS (SELECT ed.d AS id, SUM(r${k - 1}.r // dg.deg) AS sm
          |  FROM ed JOIN dg ON ed.s = dg.s JOIN r${k - 1} ON r${k - 1}.id = ed.s
          |  GROUP BY 1),
          |r$k AS (SELECT id, CAST(150000000 + (17 * sm) // 20 AS BIGINT) AS r FROM c$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '),
        |      x -> LEN(x) >= 4 AND x NOT IN ($stopSql)) AS fw
        |  FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, LEN(fw)),
        |    i -> {'a': fw[i], 'b': fw[i+1]})) AS p
        |  FROM f WHERE LEN(fw) >= 2),
        |pr0 AS (SELECT p.a AS a, p.b AS b FROM bg WHERE p.a <> p.b),
        |pr AS (SELECT DISTINCT LEAST(a, b) AS a_id, GREATEST(a, b) AS b_id
        |  FROM pr0),
        |ed AS (SELECT a_id AS s, b_id AS d FROM pr
        |  UNION ALL SELECT b_id AS s, a_id AS d FROM pr),
        |dg AS (SELECT s, COUNT(*) AS deg FROM ed GROUP BY 1),
        |r0 AS (SELECT DISTINCT s AS id, CAST(1000000000 AS BIGINT) AS r FROM ed),
        |$iters
        |SELECT id AS term, r AS rank_e9 FROM r3
        |ORDER BY r DESC, id LIMIT 20""".stripMargin
    },
    "q_pagerank" -> {
      val iters = (1 to 3).map { k =>
        s"""c$k AS (SELECT ed.d AS id, SUM(r${k - 1}.r // dg.deg) AS sm
          |  FROM ed JOIN dg ON ed.s = dg.s JOIN r${k - 1} ON r${k - 1}.id = ed.s
          |  GROUP BY 1),
          |r$k AS (SELECT id, CAST(150000000 + (17 * sm) // 20 AS BIGINT) AS r FROM c$k)""".stripMargin
      }.mkString(",\n")
      // the C24 contract slice: cap the one documents scan feeding the
      // winnow CTE (the scalar MAX(length) subquery stays uncapped — a
      // wider range bound only generates unused i values)
      val cappedFpPairs = fpPairCteSql.replace(
        "AS ng FROM documents)",
        s"AS ng FROM documents WHERE doc_id < $ScaleSliceMaxDoc)")
      s"""WITH $cappedFpPairs,
        |ed AS (SELECT a_id AS s, b_id AS d FROM pr
        |  UNION ALL SELECT b_id AS s, a_id AS d FROM pr),
        |dg AS (SELECT s, COUNT(*) AS deg FROM ed GROUP BY 1),
        |r0 AS (SELECT DISTINCT s AS id, CAST(1000000000 AS BIGINT) AS r FROM ed),
        |$iters
        |SELECT id AS doc_id, r AS rank_e9 FROM r3 ORDER BY 1""".stripMargin
    },
    "q_exact_dedup" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, LENGTH(text) AS n_chars_calc,
        |  LEN(string_split(text,' ')) AS n_ws_tokens,
        |  LEN(regexp_extract_all(text,'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents)
        |SELECT doc_id, LEN(w) AS n_words,
        |  CAST(ROUND(CAST(list_sum(list_transform(w, x -> LEN(x))) AS DOUBLE)/LEN(w),4) AS DECIMAL(18,4))::DOUBLE AS avg_word_len,
        |  CAST(ROUND(CAST(LEN(list_filter(w, x -> x IN ($stopSql))) AS DOUBLE)/LEN(w),4) AS DECIMAL(18,4))::DOUBLE AS stop_ratio,
        |  CAST(ROUND(1.0 - CAST(LEN(list_distinct(w)) AS DOUBLE)/LEN(w),4) AS DECIMAL(18,4))::DOUBLE AS dup_ratio
        |FROM base ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      s"""WITH $langPredCteSql
        |SELECT doc_id, pred_lang FROM pred ORDER BY doc_id""".stripMargin,
    "q_langid_margin" ->
      s"""WITH $langPredCteSql,
        |m AS (SELECT sc.doc_id, p.pred_lang,
        |    list_sort([s_de, s_en, s_es, s_fr, s_zh], 'DESC')[1]
        |  - list_sort([s_de, s_en, s_es, s_fr, s_zh], 'DESC')[2] AS margin
        |  FROM sc JOIN pred p USING (doc_id))
        |SELECT pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tie,
        |  CAST(SUM(CASE WHEN margin BETWEEN 1 AND 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN margin >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_confident,
        |  CAST(SUM(margin) AS BIGINT) AS sum_margin,
        |  CAST(MAX(margin) AS BIGINT) AS max_margin
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_drift" ->
      s"""WITH d AS (SELECT doc_id % 2 AS par,
        |    (LEN(list_filter(string_split(text,' '),
        |       x -> x IN ($stopSql))) * 1000)
        |      // LEN(string_split(text,' ')) AS spm
        |  FROM documents),
        |h AS (SELECT spm // 25 AS bucket,
        |    SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN par <> 0 THEN 1 ELSE 0 END) AS b
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
        |    CAST(SUM(b) AS BIGINT) AS nb FROM h),
        |j AS (SELECT ${graft.operators.Relational.psiTermSql} AS term,
        |    na, nb FROM h CROSS JOIN t WHERE a > 0 AND b > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets, MAX(na) AS na,
        |  MAX(nb) AS nb, CAST(SUM(term) AS BIGINT) AS psi_e6
        |FROM j""".stripMargin,
    "q_tok_fertility" ->
      s"""WITH $langPredCteSql,
        |t AS (SELECT p.pred_lang,
        |    LENGTH(text) AS nc,
        |    LEN(string_split(text,' ')) AS nw,
        |    LEN(regexp_extract_all(text,'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS nr
        |  FROM documents d JOIN pred p USING (doc_id)),
        |a AS (SELECT pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nc) AS BIGINT) AS n_chars,
        |    CAST(SUM(nw) AS BIGINT) AS n_ws_tokens,
        |    CAST(SUM(nr) AS BIGINT) AS n_re_tokens
        |  FROM t GROUP BY 1)
        |SELECT pred_lang, n_docs, n_chars, n_ws_tokens, n_re_tokens,
        |  CAST((n_re_tokens * 1000) // n_ws_tokens AS BIGINT)
        |    AS frag_permille,
        |  CAST((n_chars * 1000) // n_re_tokens AS BIGINT)
        |    AS chars_per_tok_permille
        |FROM a ORDER BY pred_lang""".stripMargin,
    "q_confusion" ->
      s"""WITH $langPredCteSql
        |SELECT d.lang AS gold_lang, p.pred_lang, COUNT(*) AS n
        |FROM documents d JOIN pred p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cohen_kappa" ->
      s"""WITH $langPredCteSql,
        |cf AS (SELECT d.lang AS g, p.pred_lang AS p,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
        |t AS (SELECT SUM(n) AS nn,
        |    SUM(CASE WHEN g = p THEN n ELSE 0 END) AS agree FROM cf),
        |r AS (SELECT g, SUM(n) AS r FROM cf GROUP BY 1),
        |c AS (SELECT p, SUM(n) AS c FROM cf GROUP BY 1),
        |pe AS (SELECT SUM(r.r * c.c) AS rc FROM r JOIN c ON r.g = c.p)
        |SELECT CAST(nn AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
        |  CAST(rc AS BIGINT) AS sum_rc,
        |  CAST(((nn * agree - rc) * 1000000) // (nn * nn - rc) AS BIGINT)
        |    AS kappa_ppm
        |FROM t CROSS JOIN pe""".stripMargin,
    "q_source_purity" ->
      s"""WITH $langPredCteSql,
        |d AS (SELECT dd.source, dd.lang AS gold, p.pred_lang AS pred
        |  FROM documents dd JOIN pred p USING (doc_id)),
        |cells AS (SELECT source, pred, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |major AS (SELECT source, pred AS major_lang, c AS n_major
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY c DESC, pred) AS rn FROM cells)
        |  WHERE rn = 1),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs, major_lang, n_major,
        |  CAST((n_major * 1000000) // n_docs AS BIGINT) AS purity_ppm,
        |  CAST((n_agree * 1000000) // n_docs AS BIGINT) AS gold_agree_ppm
        |FROM tot JOIN major USING (source)
        |ORDER BY source""".stripMargin,
    "q_mcc" ->
      s"""WITH $langPredCteSql,
        |cont AS (SELECT d.lang AS gold, p.pred_lang AS pred,
        |    CAST(COUNT(*) AS HUGEINT) AS nij
        |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
        |ga AS (SELECT gold AS cls, SUM(nij) AS t FROM cont GROUP BY 1),
        |pb AS (SELECT pred AS cls, SUM(nij) AS p FROM cont GROUP BY 1),
        |tpc AS (SELECT gold AS cls, nij AS tp FROM cont WHERE gold = pred),
        |per AS (SELECT cls, COALESCE(t, 0) AS t, COALESCE(p, 0) AS p,
        |    COALESCE(tp, 0) AS tp
        |  FROM ga FULL OUTER JOIN pb USING (cls) LEFT JOIN tpc USING (cls)),
        |ag AS (SELECT SUM(tp) AS corr, SUM(t) AS s, SUM(p*t) AS spt,
        |    SUM(p*p) AS spp, SUM(t*t) AS stt,
        |    SUM(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS k,
        |    SUM(CASE WHEN t > 0 THEN (tp * 1000000) // t ELSE 0 END)
        |      AS sum_rec
        |  FROM per)
        |SELECT CAST(s AS BIGINT) AS n_rows, CAST(corr AS BIGINT) AS n_correct,
        |  CAST(k AS BIGINT) AS n_classes,
        |  CAST(sum_rec // k AS BIGINT) AS bal_acc_ppm,
        |  CAST(ROUND($mccSql, 6) AS DECIMAL(18,6))::DOUBLE AS mcc
        |FROM ag""".stripMargin,
    "q_cls_report" ->
      s"""WITH $langPredCteSql,
        |cont AS (SELECT d.lang AS gold, p.pred_lang AS pred,
        |    CAST(COUNT(*) AS HUGEINT) AS nij
        |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
        |ga AS (SELECT gold AS cls, SUM(nij) AS a FROM cont GROUP BY 1),
        |pb AS (SELECT pred AS cls, SUM(nij) AS b FROM cont GROUP BY 1),
        |tpc AS (SELECT gold AS cls, nij AS tp FROM cont WHERE gold = pred),
        |per AS (SELECT cls, COALESCE(a, 0) AS a, COALESCE(b, 0) AS b,
        |    COALESCE(tp, 0) AS tp
        |  FROM ga FULL OUTER JOIN pb USING (cls) LEFT JOIN tpc USING (cls)),
        |tot AS (SELECT SUM(a) AS nn, SUM(tp) AS stp, SUM(a*b) AS sab FROM per)
        |SELECT cls AS lang, CAST(a AS BIGINT) AS n_gold,
        |  CAST(b AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS n_tp,
        |  CAST(CASE WHEN b = 0 THEN 0 ELSE (tp * 1000000) // b END
        |    AS BIGINT) AS prec_ppm,
        |  CAST(CASE WHEN a = 0 THEN 0 ELSE (tp * 1000000) // a END
        |    AS BIGINT) AS rec_ppm,
        |  CAST(CASE WHEN a + b = 0 THEN 0
        |    ELSE (tp * 2000000) // (a + b) END AS BIGINT) AS f1_ppm,
        |  CAST(CASE WHEN nn*nn - sab = 0 THEN 0
        |    WHEN nn*stp - sab >= 0 THEN
        |      (abs(nn*stp - sab) * 1000000) // (nn*nn - sab)
        |    ELSE -((abs(nn*stp - sab) * 1000000) // (nn*nn - sab))
        |    END AS BIGINT) AS kappa_ppm
        |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin,
    "q_ari" ->
      s"""WITH $langPredCteSql,
        |cont AS (SELECT d.lang AS gold, p.pred_lang AS pred,
        |    CAST(COUNT(*) AS HUGEINT) AS nij
        |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
        |x AS (SELECT SUM((nij*(nij-1))//2) AS sij, SUM(nij) AS nn FROM cont),
        |ra AS (SELECT SUM((ai*(ai-1))//2) AS sa
        |  FROM (SELECT SUM(nij) AS ai FROM cont GROUP BY gold)),
        |rb AS (SELECT SUM((bj*(bj-1))//2) AS sb
        |  FROM (SELECT SUM(nij) AS bj FROM cont GROUP BY pred)),
        |f AS (SELECT nn, sij, sa, sb, (nn*(nn-1))//2 AS stot
        |  FROM x CROSS JOIN ra CROSS JOIN rb)
        |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(sij AS BIGINT) AS sij,
        |  CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
        |  CAST(ROUND($ariSql, 6) AS DECIMAL(18,6))::DOUBLE AS ari
        |FROM f""".stripMargin,
    "q_outliers" ->
      """WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |    quantile_cont(n_chars, 0.75) AS q3 FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(CAST(n_chars AS DOUBLE) < q1 - 1.5*(q3 - q1)
        |    OR CAST(n_chars AS DOUBLE) > q3 + 1.5*(q3 - q1) AS INT) AS is_outlier
        |FROM documents CROSS JOIN b ORDER BY doc_id""".stripMargin,
    "q_curate" -> {
      val scoreExprs = langMarkers.map { case (code, m) =>
        s"LEN(list_filter(w, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS s_$code"
      }.mkString(", ")
      val codes = langMarkers.map(_._1)
      val caseChain = codes.init.zipWithIndex.map { case (code, i) =>
        val rest = codes.drop(i + 1)
        s"WHEN ${rest.map(r => s"s_$code >= s_$r").mkString(" AND ")} THEN '$code'"
      }.mkString(" ")
      s"""WITH base AS (SELECT doc_id, text, string_split(text,' ') AS w FROM documents),
        |sc AS (SELECT doc_id, md5(text) AS h, LEN(w) AS n_words,
        |  CAST(LEN(list_distinct(w)) AS DOUBLE)/LEN(w) AS distinct_ratio,
        |  CASE $caseChain ELSE '${codes.last}' END AS pred_lang
        |  FROM (SELECT doc_id, text, w, $scoreExprs FROM base)),
        |keep AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |  FROM sc)
        |SELECT doc_id, n_words, pred_lang
        |FROM keep
        |WHERE rn = 1 AND n_words >= 20 AND distinct_ratio >= 0.3
        |  AND pred_lang IN ('en','de')
        |ORDER BY doc_id""".stripMargin
    },
    "q_minhash" ->
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |  i -> array_to_string(w[i:i+2],' ')) AS shingles FROM base),
        |$sigSql
        |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "q_lsh_pairs" ->
      s"""WITH $baseSql,
        |$sigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
        |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
        |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
        |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |  ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id)
        |$jacSelSql""".stripMargin,
    "q_split_leakage" -> {
      val ua = graft.functions.TextFunctions.hexPrefix52Sql("md5('split|'||a_id)")
      val ub = graft.functions.TextFunctions.hexPrefix52Sql("md5('split|'||b_id)")
      s"""WITH $baseSql,
        |$sigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
        |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
        |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
        |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |  ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id),
        |pr AS (SELECT c.a_id, c.b_id
        |  FROM cand c JOIN ip ON ip.a_id=c.a_id AND ip.b_id=c.b_id
        |  JOIN sz sa ON sa.doc_id=c.a_id JOIN sz sb ON sb.doc_id=c.b_id
        |  WHERE i/(sa.n+sb.n-i) >= 0.5),
        |cl AS (SELECT a_id, b_id,
        |    CASE WHEN $ua % 100 < 90 THEN 'train'
        |         WHEN $ua % 100 < 95 THEN 'val' ELSE 'test' END AS ca,
        |    CASE WHEN $ub % 100 < 90 THEN 'train'
        |         WHEN $ub % 100 < 95 THEN 'val' ELSE 'test' END AS cb
        |  FROM pr),
        |ex AS (SELECT LEAST(ca, cb) AS split_a, GREATEST(ca, cb) AS split_b,
        |    unnest([a_id, b_id]) AS id FROM cl)
        |SELECT split_a, split_b, CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
        |  CASE WHEN split_a != split_b THEN 1 ELSE 0 END AS is_leak
        |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q_minhash_err" ->
      s"""WITH $baseSql,
        |$sigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
        |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
        |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
        |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |  ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id),
        |est AS (SELECT c.a_id, c.b_id,
        |    (CASE WHEN sa.sig0=sb.sig0 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig1=sb.sig1 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig2=sb.sig2 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig3=sb.sig3 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig4=sb.sig4 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig5=sb.sig5 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig6=sb.sig6 THEN 1 ELSE 0 END
        |   + CASE WHEN sa.sig7=sb.sig7 THEN 1 ELSE 0 END) AS est_eighths
        |  FROM cand c JOIN sig sa ON sa.doc_id=c.a_id
        |  JOIN sig sb ON sb.doc_id=c.b_id),
        |jj AS (SELECT e.est_eighths,
        |    (COALESCE(ip.i,0)*1000)//(sa.n + sb.n - COALESCE(ip.i,0)) AS jp
        |  FROM est e
        |  LEFT JOIN ip ON ip.a_id=e.a_id AND ip.b_id=e.b_id
        |  JOIN sz sa ON sa.doc_id=e.a_id JOIN sz sb ON sb.doc_id=e.b_id),
        |er AS (SELECT est_eighths, jp, ABS(est_eighths*125 - jp) AS err
        |  FROM jj)
        |SELECT CAST(est_eighths AS BIGINT) AS est_eighths,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(jp)//COUNT(*) AS BIGINT) AS avg_jac_permille,
        |  CAST(MIN(jp) AS BIGINT) AS min_jac_permille,
        |  CAST(MAX(jp) AS BIGINT) AS max_jac_permille,
        |  CAST(SUM(err)//COUNT(*) AS BIGINT) AS mean_abs_err_permille
        |FROM er GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_registry_dedup" ->
      s"""WITH $baseSql,
        |$sigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
        |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
        |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
        |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |  ON x.band=y.band AND x.bkey=y.bkey
        |  WHERE x.doc_id % 3 <> 0 AND y.doc_id % 3 = 0)
        |SELECT c.a_id, c.b_id,
        |  CAST(ROUND(i/(sa.n+sb.n-i),4) AS DECIMAL(18,4))::DOUBLE AS jaccard
        |FROM cand c JOIN ip ON ip.a_id=LEAST(c.a_id,c.b_id)
        |  AND ip.b_id=GREATEST(c.a_id,c.b_id)
        |JOIN sz sa ON sa.doc_id=c.a_id JOIN sz sb ON sb.doc_id=c.b_id
        |WHERE i/(sa.n+sb.n-i) >= 0.5 ORDER BY 1,2""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH ${baseSql.replace("FROM documents)",
             s"FROM documents WHERE doc_id < $ScaleSliceMaxDoc)")},
        |$sigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, sig0 || '#' || sig1 AS bkey FROM sig UNION ALL
        |  SELECT doc_id, 1, sig2 || '#' || sig3 FROM sig UNION ALL
        |  SELECT doc_id, 2, sig4 || '#' || sig5 FROM sig UNION ALL
        |  SELECT doc_id, 3, sig6 || '#' || sig7 FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |  ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id),
        |pairs AS (SELECT c.a_id, c.b_id
        |  FROM cand c JOIN ip ON ip.a_id=c.a_id AND ip.b_id=c.b_id
        |  JOIN sz sa ON sa.doc_id=c.a_id JOIN sz sb ON sb.doc_id=c.b_id
        |  WHERE i/(sa.n+sb.n-i) >= 0.5),
        |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(a, b) AS (
        |    SELECT a, a FROM edges
        |    UNION
        |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
        |  SELECT * FROM r)
        |SELECT a AS doc_id, MIN(b) AS cluster_id
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_urlnorm" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) || source || '.Example.COM' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
        |  '/docs/' || CAST(doc_id // 140 AS BIGINT) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || '?' ||
        |  (CASE WHEN doc_id % 6 = 0 THEN 'utm_source=feed&' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '#sec' || CAST(doc_id % 3 AS BIGINT) ELSE '' END)
        |  AS url FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS v FROM u),
        |sp AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(string_split(v,'?')[1]), ':80/', '/'),
        |      '/$', '') AS pre,
        |    string_split(v,'?')[2] AS q FROM nf),
        |ke AS (SELECT doc_id, pre,
        |    [p FOR p IN string_split(q,'&') IF NOT starts_with(p,'utm_') AND p <> ''] AS kept
        |  FROM sp),
        |c AS (SELECT doc_id, pre ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(list_sort(kept),'&')
        |         ELSE '' END AS canonical_url
        |  FROM ke)
        |SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
        |FROM c GROUP BY 1 ORDER BY keeper_id""".stripMargin,
    "q_bloom" -> {
      val u = T.hexPrefix52Sql("md5('bloom|'||g)")
      val pos = s"(($u // 67108864) + j * ($u % 67108864)) % 16384"
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |g4 AS (SELECT doc_id, list_transform(range(1, len(w)-2),
        |  i -> array_to_string(w[i:i+3],' ')) AS gs FROM base WHERE len(w) >= 4),
        |dd AS (SELECT DISTINCT doc_id, g FROM
        |  (SELECT doc_id, unnest(gs) AS g FROM g4)),
        |ev AS (SELECT DISTINCT g FROM dd WHERE doc_id % 97 = 0),
        |evp AS (SELECT DISTINCT $pos AS p
        |  FROM ev, (SELECT unnest(range(2)) AS j)),
        |trh AS (SELECT doc_id, g,
        |    MIN(CASE WHEN $pos IN (SELECT p FROM evp) THEN 1 ELSE 0 END) AS mh
        |  FROM dd, (SELECT unnest(range(2)) AS j)
        |  WHERE doc_id % 97 <> 0 GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(mh) AS BIGINT) AS n_maybe,
        |  CAST(SUM(CASE WHEN g IN (SELECT g FROM ev) THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        |FROM trh GROUP BY 1 HAVING SUM(mh) > 0 ORDER BY 1""".stripMargin
    },
    "q_decontam" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |g5 AS (SELECT doc_id, list_transform(range(1, len(w)-2),
        |  i -> array_to_string(w[i:i+3],' ')) AS gs FROM base WHERE len(w) >= 4),
        |dd AS (SELECT DISTINCT doc_id, g FROM
        |  (SELECT doc_id, unnest(gs) AS g FROM g5)),
        |ev AS (SELECT DISTINCT g FROM dd WHERE doc_id % 97 = 0)
        |SELECT d.doc_id, COUNT(DISTINCT d.g) AS n_shared
        |FROM dd d JOIN ev ON d.g = ev.g
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $baseSql,
        |dfq AS (SELECT s, COUNT(*) AS c FROM dd GROUP BY 1),
        |rare AS (SELECT s FROM dfq WHERE c <= 5),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM dd x JOIN dd y ON x.s=y.s AND x.doc_id<y.doc_id
        |  JOIN rare r ON r.s=x.s)
        |$jacSelSql""".stripMargin,
    "q_containment" ->
      s"""WITH $baseSql,
        |dfq AS (SELECT s, COUNT(*) AS c FROM dd GROUP BY 1),
        |rare AS (SELECT s FROM dfq WHERE c <= 5),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM dd x JOIN dd y ON x.s=y.s AND x.doc_id<y.doc_id
        |  JOIN rare r ON r.s=x.s)
        |SELECT c.a_id, c.b_id, CAST(sa.n AS BIGINT) AS na,
        |  CAST(sb.n AS BIGINT) AS nb, CAST(i AS BIGINT) AS inter,
        |  CAST((i * 1000000) // sa.n AS BIGINT) AS cont_ab_ppm,
        |  CAST((i * 1000000) // sb.n AS BIGINT) AS cont_ba_ppm
        |FROM cand c JOIN ip ON ip.a_id=c.a_id AND ip.b_id=c.b_id
        |JOIN sz sa ON sa.doc_id=c.a_id JOIN sz sb ON sb.doc_id=c.b_id
        |WHERE GREATEST((i * 1000000) // sa.n, (i * 1000000) // sb.n) >= 600000
        |ORDER BY c.a_id, c.b_id""".stripMargin
  )
}
